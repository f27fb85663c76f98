package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The MANAGED binary-export family — the managed-generation posture of
 * the ingestion loop's five index families applied to the loader-native
 * training artifact ([[BinShards]]), so a RECURRING pipeline refreshes
 * its `.bin`/`.idx` shards at batch-sized cost instead of re-paying the
 * whole corpus encode per ingest (the reference keeps every store an
 * incrementally-maintained compacted view —
 * `jaws-effective-processor/src/main/java/org/jlab/jaws/rule/ActivationRule.java:277-314`;
 * this is that posture on the export side).
 *
 * Root layout (the [[ManagedRoot]] tree every managed family shares):
 * {{{
 *   <root>/CURRENT              one line: the active generation name
 *   <root>/gen-00000/           a complete packed BinShards artifact
 *       shard-SSSSS.{bin,idx}   one epoch's files per reserved span
 *       _BIN_COMMIT             marker: budget, total shard files,
 *                               committed epoch count, identity lines
 *       _BIN_CONFIG             the family config every append must
 *                               match EXACTLY (kind=packed-epochs)
 *       _BIN_EPOCHS             applied-epoch ledger: epoch, start
 *                               shard, reserved span, files written
 *   <root>/epochs/<epochId>     committed-epoch markers — they OUTLIVE
 *                               generations, so a replayed batch id is
 *                               a no-op even after a fold
 * }}}
 *
 * Append contract: each epoch's sequences land as NEW shard files in
 * the epoch's reserved `[base, base + shardsPerEpoch)` number span —
 * prior epochs' files are never touched (byte-identical survivors, the
 * resume posture), so the re-export cost of an ingest batch is the
 * batch's own encode + pack, independent of the accumulated corpus.
 * Each appended span is a valid packed sub-artifact (per-shard
 * unpadded final sequence), so the WHOLE generation always reads as
 * one packed frame and [[BinShards.readSequence]]'s budget-aligned
 * point seeks stay valid per shard.
 *
 * Fold contract: once the generation holds >= `compactEvery` committed
 * epochs, it is compacted — [[BinShards.fold]] copies the generation's
 * bytes (already encoded; compaction never re-encodes) by range into a
 * dense canonical successor generation of at most `shardsPerEpoch`
 * shards: packed sequences re-chunk at `budget`, sft bins renumber
 * densely. Then `CURRENT` flips. Superseded
 * generations follow the family's one-roll grace contract (the
 * just-superseded generation survives until the NEXT roll for in-flight
 * readers).
 *
 * Crash windows: the generation's `_BIN_COMMIT` is deleted first and
 * stamped after the epoch's files land; the ROOT epoch marker is
 * stamped last. A crash mid-append leaves a torn (marker-less)
 * generation whose uncommitted span the replay sweeps before
 * re-exporting — committed spans are identified by the `_BIN_EPOCHS`
 * ledger INTERSECTED with the root markers (a ledger entry without its
 * root marker is a crashed append and is swept). A crash mid-FOLD
 * leaves `CURRENT` on the old, still-complete generation; the next
 * append re-triggers the fold, which clears the successor and rebuilds
 * it from the unchanged old generation's bytes.
 * Single logical writer per root assumed, as for every managed family.
 */
object BinFamily {

  /** Reserved `_BIN_EPOCHS` entry carrying a folded generation's dense
    * shard count forward as the next append's base — the one entry
    * that is committed WITHOUT a root epoch marker. */
  private val FoldedEpoch = "__folded__"
  private val EpochsSidecar = "_BIN_EPOCHS"
  private val EpochIdPattern = "[A-Za-z0-9._-]+".r

  private final case class EpochEntry(epoch: String, start: Long,
      span: Long, files: Long)

  private def parseEpochs(fs: FileSystem, gen: String): Seq[EpochEntry] = {
    val p = new Path(gen, EpochsSidecar)
    if (!fs.exists(p)) return Seq.empty
    val len = fs.getFileStatus(p).getLen
    require(len <= (1 << 22),
      s"BinFamily: implausible $EpochsSidecar size $len under $gen")
    val bytes = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0L, bytes) finally in.close()
    new String(bytes, "UTF-8").split("\n").iterator
      .map(_.trim).filter(_.nonEmpty)
      .map { line =>
        val kv = line.split(" ").map { t =>
          val Array(k, v) = t.split("=", 2)
          k -> v
        }.toMap
        EpochEntry(kv("epoch"), kv("start").toLong, kv("span").toLong,
          kv("files").toLong)
      }.toSeq
  }

  private def writeEpochs(fs: FileSystem, gen: String,
      entries: Seq[EpochEntry]): Unit = {
    val out = fs.create(new Path(gen, EpochsSidecar), true)
    try out.write(entries.map(e =>
        s"epoch=${e.epoch} start=${e.start} span=${e.span} " +
          s"files=${e.files}\n").mkString.getBytes("UTF-8"))
    finally out.close()
  }

  /** The append gate's sidecar read — the ONE shared implementation
    * ([[BinShards.readConfigSidecar]]), strict: appending onto a
    * foreign/corrupt root must refuse loud, unlike resume's
    * fall-back-to-rewrite. */
  private def readConfig(fs: FileSystem, gen: String): Option[String] =
    BinShards.readConfigSidecar(fs, gen, strict = true)

  private def writeConfig(fs: FileSystem, gen: String,
      config: String): Unit = {
    val out = fs.create(new Path(gen, BinShards.ConfigMarker), true)
    try out.write(config.getBytes("UTF-8")) finally out.close()
  }

  private def stampCommit(fs: FileSystem, gen: String,
      layout: BinShards.Layout, budget: Int, shards: Long, epochs: Long,
      identity: Map[String, String]): Unit = {
    // The layout's kind line, as the one-shot writer stamps it — every
    // kind-dispatched reader/TVF resolves on it.
    val mk = fs.create(new Path(gen, BinShards.CommitMarker), true)
    try mk.write((s"version=${BinShards.Version}\n${layout.kindLine}" +
      s"budget=$budget\nshards=$shards\nepochs=$epochs\n" +
      BinShards.identityLines("BinFamily", identity)).getBytes("UTF-8"))
    finally mk.close()
  }

  /**
   * Append ONE ingest epoch's packed sequences to the managed binary
   * artifact under `root`, folding the generation past `compactEvery`
   * committed epochs. `packedBatch` is a
   * [[graft.ops.TrainShuffle.packIdSequences]] frame over the BATCH
   * ONLY, packed with `numShards = shardsPerEpoch` and this call's
   * `budget` — encoding cost is the batch's, never the corpus's.
   *
   * Idempotent replay: an `epochId` whose root marker exists returns
   * -1 and touches NOTHING (the managed families' replayed-batch
   * contract) — the caller replays a crashed ingest loop without
   * double-appending. Otherwise returns the CURRENT generation's total
   * shard-file count after the append (post-fold when one fired).
   *
   * `identity` follows [[BinShards.write]]'s contract (stamped into
   * the marker AND the config gate); a mismatched identity/budget/span
   * against the generation's `_BIN_CONFIG` REFUSES loud — unlike
   * resume's fall-back-to-rewrite, a mismatched append would corrupt a
   * valid artifact.
   */
  def appendEpoch(packedBatch: DataFrame, root: String, budget: Int,
      shardsPerEpoch: Int, epochId: String, compactEvery: Int = 64,
      identity: Map[String, String] = Map.empty): Long =
    appendEpochsImpl(BinShards.Packed, Seq(epochId -> packedBatch), root,
      budget, shardsPerEpoch, compactEvery, identity)

  /**
   * Append SEVERAL epochs in one call — sequentially EQUIVALENT to
   * calling [[appendEpoch]] once per (epochId, packedBatch) in order
   * (same final files, ledger, markers and folds, byte for byte), but
   * epochs that land in the SAME generation between folds export
   * CONCURRENTLY from driver threads: their reserved shard spans are
   * disjoint by construction, so the jobs never touch the same file,
   * and the later epochs' tasks back-fill the cores the earlier
   * epochs' stage tails leave idle (the optimization guide's
   * overlap-independent-jobs discipline). Fold boundaries still
   * serialize: a group runs only up to the append that arms the fold,
   * the fold runs alone, and the next group starts on the successor
   * generation — so the artifact is IDENTICAL to the serial replay.
   *
   * Crash window vs serial: a crash mid-group loses the WHOLE group's
   * uncommitted work (no group epoch has its root marker yet, so the
   * replay sweeps all their spans and re-appends), where the serial
   * calls would have committed the finished prefix. Batch-sized work,
   * same repair path.
   *
   * Returns the CURRENT generation's shard-file count after the last
   * newly-applied epoch (post-fold when one fired), or -1 when every
   * epoch was already committed (the replayed-batch no-op). A caller
   * that needs each epoch committed before the next one starts calls
   * [[appendEpoch]] once per epoch instead.
   */
  def appendEpochs(batches: Seq[(String, DataFrame)], root: String,
      budget: Int, shardsPerEpoch: Int, compactEvery: Int = 64,
      identity: Map[String, String] = Map.empty): Long =
    appendEpochsImpl(BinShards.Packed, batches, root, budget, shardsPerEpoch,
      compactEvery, identity)

  /**
   * The SFT twin of [[appendEpoch]]: append ONE ingest epoch's
   * padded-bin frame ([[graft.ops.TrainShuffle.packNoSplitIds]] over
   * the BATCH, packed with `numShards = shardsPerEpoch` and this
   * call's `budget`) to the managed no-split artifact under `root` —
   * same reserved spans, ledger∩marker crash repair, idempotent
   * replay, and config gate, over the `sft-*` file pair layout
   * ([[BinShards.writeNoSplit]]'s format, commit marker `kind=sft`
   * so every kind-dispatched reader/TVF resolves the managed root
   * correctly). The fold RE-LAYOUTS bins densely ([[BinShards.fold]] —
   * bins are self-contained training units, so compaction renumbers
   * them and never re-packs or re-encodes; each bin's ids and
   * doc-boundary starts ride through byte-identical).
   */
  def appendEpochSft(packedBatch: DataFrame, root: String, budget: Int,
      shardsPerEpoch: Int, epochId: String, compactEvery: Int = 64,
      identity: Map[String, String] = Map.empty): Long =
    appendEpochsImpl(BinShards.Sft, Seq(epochId -> packedBatch), root,
      budget, shardsPerEpoch, compactEvery, identity)

  /** The SFT twin of [[appendEpochs]] (see there for the concurrency
    * and equivalence contract). */
  def appendEpochsSft(batches: Seq[(String, DataFrame)], root: String,
      budget: Int, shardsPerEpoch: Int, compactEvery: Int = 64,
      identity: Map[String, String] = Map.empty): Long =
    appendEpochsImpl(BinShards.Sft, batches, root, budget, shardsPerEpoch,
      compactEvery, identity)

  /** At most this many epoch exports in flight per group (guide §2.6:
    * 2-3 concurrent jobs back-fill stage tails without fighting for
    * executors; each export is itself a full-width Spark job). */
  private val MaxConcurrentEpochExports = 3

  /** The one append loop behind the four public entry points, for
    * either binary layout. */
  private[graft] def appendEpochsImpl(layout: BinShards.Layout,
      batches: Seq[(String, DataFrame)], root: String, budget: Int,
      shardsPerEpoch: Int, compactEvery: Int,
      identity: Map[String, String]): Long = {
    val fn = layout.appender
    require(batches.nonEmpty, s"$fn: no epochs to append")
    require(budget > 0, s"$fn: budget must be positive, got $budget")
    require(shardsPerEpoch > 0 && shardsPerEpoch <= BinShards.MaxShards,
      s"$fn: shardsPerEpoch must be in " +
        s"[1, ${BinShards.MaxShards}], got $shardsPerEpoch")
    require(compactEvery >= 2,
      s"$fn: compactEvery must be >= 2, got $compactEvery")
    batches.foreach { case (epochId, _) =>
      require(EpochIdPattern.matches(epochId) && epochId != FoldedEpoch &&
          epochId != "." && epochId != "..",
        s"$fn: epochId must match [A-Za-z0-9._-]+ and " +
          s"not be '.', '..' or the reserved '$FoldedEpoch' (the pure-dot " +
          s"names escape the epochs/ marker namespace), got '$epochId'")
    }
    require(batches.map(_._1).distinct.size == batches.size,
      s"$fn: duplicate epoch ids in one call")
    val spark = batches.head._2.sparkSession
    val confSer = new org.apache.spark.SerializableWritable(
      spark.sparkContext.hadoopConfiguration)
    val fs = BinShards.fsOf(root, confSer.value)
    // Idempotent replay: epochs whose root marker exists touch NOTHING
    // (the managed families' replayed-batch contract). Markers cannot
    // appear mid-call (single logical writer, distinct ids above).
    var remaining = batches.filterNot { case (epochId, _) =>
      ManagedRoot.hasEpoch(spark, root, epochId) }
    if (remaining.isEmpty) return -1L
    // The family config gate: every append must agree EXACTLY with the
    // generation's recorded (kind, budget, span, identity) — the KIND
    // is part of it, so an sft append onto a packed family root (or
    // vice versa) refuses loud instead of interleaving layouts.
    val config = BinShards.configLine(s"${layout.name}-epochs", budget,
      shardsPerEpoch, "", identity)
    var result = -1L
    while (remaining.nonEmpty) {
      val genDir = ManagedRoot.open(spark, root)
      val genPath = new Path(genDir)
      readConfig(fs, genDir).foreach { existing =>
        require(existing == config,
          s"$fn: config mismatch under $genDir — the " +
            "generation was written with a different (kind, budget, " +
            "shardsPerEpoch, identity); appending would corrupt a valid " +
            "artifact. Use a new root, or keep the original config.")
      }
      val entries = parseEpochs(fs, genDir)
      // Committed = ledger entries whose ROOT marker exists (plus the
      // fold base). An entry without its marker is a crashed append —
      // dropped from the ledger and its span swept below.
      val committed = entries.filter(e =>
        e.epoch == FoldedEpoch || ManagedRoot.hasEpoch(spark, root, e.epoch))
      val cCount = committed.count(_.epoch != FoldedEpoch)
      // The group = the epochs this generation takes before the fold
      // arms (serial equivalence: the serial replay folds exactly when
      // the committed count reaches compactEvery, so the group stops
      // there; an over-full inherited generation folds after one).
      val g = math.min(remaining.size, math.max(1, compactEvery - cCount))
      val group = remaining.take(g)
      remaining = remaining.drop(g)
      val base = committed.map(e => e.start + e.span).maxOption.getOrElse(0L)
      require(base + g.toLong * shardsPerEpoch <= BinShards.MaxShards,
        s"$fn: span [$base, ${base + g.toLong * shardsPerEpoch}) " +
          s"exceeds the ${BinShards.MaxShards} shard-name domain — lower " +
          "compactEvery so folds keep the shard count bounded")
      // Crash-window ordering: kill the marker BEFORE touching files;
      // sweep uncommitted litter (own-kind numbers at/past `base`, temp
      // files, the OTHER kind's files) — committed spans never touched.
      fs.delete(new Path(genPath, BinShards.CommitMarker), false)
      fs.listStatus(genPath).foreach { st =>
        val stale = st.getPath.getName match {
          case layout.IdxFile(num) => num.toLong >= base
          case layout.BinFile(num) => num.toLong >= base
          case n => n.startsWith(".tmp-") ||
            BinShards.Layout.all.exists(o => o != layout && o.owns(n))
        }
        if (stale) fs.delete(st.getPath, false)
      }
      // Record the config BEFORE export work (the resume-sidecar
      // discipline): a crash leaves the sidecar describing the files.
      writeConfig(fs, genDir, config)
      // Shift each epoch into its reserved span and export; the range
      // claim makes a mis-packed frame fail in the task, not overwrite
      // a neighbour epoch. The group's spans are DISJOINT, so the
      // exports are independent jobs — overlap them on driver threads
      // (guide §2.6): the later epochs' tasks back-fill the cores the
      // earlier epochs' stage tails leave idle. `DriverActions.runAll`
      // skips the exports not yet started on the first failure, cancels
      // the running ones and awaits every export before rethrowing — a
      // sibling still writing would race the retry's sweep of its span.
      // Descriptions are thread-local, so each export labels its jobs and
      // restores the thread's previous label (the serial path runs on the
      // caller's thread).
      val sc = spark.sparkContext
      def exportOne(i: Int): Unit = {
        val (epochId, packedBatch) = group(i)
        val b = base + i.toLong * shardsPerEpoch
        val callerDescription = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(
          s"$fn: epoch $epochId span [$b, ${b + shardsPerEpoch})")
        try {
          BinShards.exportShardFiles(layout,
            packedBatch.withColumn("shard", col("shard").cast("long") + b),
            genDir, budget, shardsPerEpoch, confSer, minShard = b,
            maxShardExcl = b + shardsPerEpoch)
        } finally sc.setJobDescription(callerDescription)
      }
      graft.DriverActions.runAll(sc,
        group.indices.map(i => () => exportOne(i)), MaxConcurrentEpochExports)
      // ONE post-export listing serves every count — on object storage
      // a wide generation's listing is the append's dominant fixed
      // cost, so it must not run once per epoch over an unchanged dir.
      val shardNums = fs.listStatus(genPath).map(_.getPath.getName)
        .collect { case layout.IdxFile(num) => num.toLong }
      val newEntries = committed ++ group.zipWithIndex.map {
        case ((epochId, _), i) =>
          val b = base + i.toLong * shardsPerEpoch
          EpochEntry(epochId, b, shardsPerEpoch.toLong,
            shardNums.count(n => n >= b && n < b + shardsPerEpoch).toLong)
      }
      writeEpochs(fs, genDir, newEntries)
      val epochCount = newEntries.count(_.epoch != FoldedEpoch).toLong
      val totalFiles = shardNums.length.toLong
      stampCommit(fs, genDir, layout, budget, totalFiles, epochCount,
        identity)
      ManagedRoot.markEpochs(spark, root, group.map(_._1))
      result =
        if (epochCount >= compactEvery)
          // Fold: copy by byte range (NEVER re-encode) into a dense
          // canonical successor and flip CURRENT. A crash mid-fold
          // leaves CURRENT on the old complete generation; the next
          // append re-triggers.
          ManagedRoot.roll(spark, root, genDir) {
            (src, dest) =>
              val w = BinShards.fold(spark, layout, src, dest, budget,
                shardsPerEpoch)
              // Stamp the successor as a family generation: the fold
              // base entry carries the dense shard count forward, the
              // config is the family's so the next append's gate
              // matches, and the marker lands last.
              val dfs = BinShards.fsOf(dest, confSer.value)
              writeEpochs(dfs, dest, Seq(EpochEntry(FoldedEpoch, 0L, w, w)))
              writeConfig(dfs, dest, config)
              stampCommit(dfs, dest, layout, budget, w, 0L, identity)
              w
          }
        else totalFiles
    }
    result
  }
}
