package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * The on-disk layout every managed store shares — the near-dup, chunk,
 * span, IVF and PQ indexes of [[graft.functions.Ingest.ingestBatch]] and
 * the binary training artifact ([[BinFamily]]). The ONLY code that reads
 * or writes the pointer, the generation directories and the root epoch
 * markers:
 * {{{
 *   <root>/CURRENT            one line: the active generation name
 *   <root>/gen-00000/...      the family's files (chunk epochs as
 *                             batch_id=* partitions, index parquet, or
 *                             bin shards)
 *   <root>/epochs/<epoch>     committed-epoch markers (outlive gens)
 * }}}
 * The CURRENT pointer is a single small file — an atomic PUT on object
 * stores; single writer assumed. Generations superseded by a roll are
 * deleted best-effort (a crash leaves orphans that the next roll
 * sweeps). The root markers are what make a replayed epoch (a
 * Structured Streaming batch id re-run after a failure) a no-op even
 * after a roll folded the generation that held it.
 *
 * A pointer naming a generation that does not exist is DAMAGE, not an
 * empty store: [[resolve]] and [[open]] throw, naming the root and the
 * generation, and create nothing — a silent re-bootstrap would read as
 * an empty index and re-accept everything the lost generation held.
 */
object ManagedRoot {
  private val CurrentFile = "CURRENT"
  private val GenPrefix = "gen-"
  private val MarkerDir = "epochs"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def genName(n: Int): String = f"$GenPrefix$n%05d"

  private def genNumber(name: String): Option[Int] = {
    val digits = name.stripPrefix(GenPrefix)
    if (name.startsWith(GenPrefix) && digits.nonEmpty &&
        digits.forall(_.isDigit)) Some(digits.toInt)
    else None
  }

  /** Read-only resolution: a root with a `CURRENT` pointer resolves to
    * its active generation (which must exist), anything else — a flat
    * index, a plain export dir, an absent path — passes through. This
    * is what lets every reader take a managed root and a flat directory
    * interchangeably. */
  def resolve(spark: SparkSession, path: String): String = {
    val fs = fsOf(spark, path)
    val cur = new Path(path, CurrentFile)
    if (fs.exists(cur)) activeGeneration(fs, path, cur) else path
  }

  /** The writer's resolution: the active generation of `root`,
    * bootstrapping `gen-00000` plus `CURRENT` only when `CURRENT` is
    * absent. */
  def open(spark: SparkSession, root: String): String = {
    val fs = fsOf(spark, root)
    val cur = new Path(root, CurrentFile)
    if (!fs.exists(cur)) {
      fs.mkdirs(new Path(root, genName(0)))
      writeCurrent(fs, cur, genName(0))
    }
    activeGeneration(fs, root, cur)
  }

  /** The adoption rule of the families that also accept a FLAT
    * (pre-generation) layout — near-dup, IVF, PQ: a path with `CURRENT`,
    * or one that does not hold a committed flat index yet, is managed
    * and opens its active generation (Some); a committed flat index
    * keeps working append-only in place and never rolls (None). */
  def open(spark: SparkSession, path: String,
      flatCommitted: => Boolean): Option[String] =
    if (isManaged(spark, path) || !flatCommitted) Some(open(spark, path))
    else None

  /** Whether `path` is a managed root (holds a `CURRENT` pointer). */
  private[graft] def isManaged(spark: SparkSession, path: String): Boolean =
    fsOf(spark, path).exists(new Path(path, CurrentFile))

  private def activeGeneration(fs: FileSystem, root: String,
      cur: Path): String = {
    val gen = readCurrent(fs, cur)
    val dir = new Path(root, gen)
    if (!fs.exists(dir))
      throw new IllegalStateException(
        s"managed root $root: CURRENT names $gen, which does not exist — " +
          "the pointer is damaged; restore the generation or the pointer " +
          "(nothing was created)")
    dir.toString
  }

  private def writeCurrent(fs: FileSystem, file: Path, gen: String): Unit = {
    val out = fs.create(file, true)
    try out.write(gen.getBytes(UTF_8)) finally out.close()
  }

  private def readCurrent(fs: FileSystem, file: Path): String = {
    val in = fs.open(file)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      var n = in.read(buf)
      while (n > 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      val gen = bytes.toString(UTF_8).trim
      require(genNumber(gen).nonEmpty,
        s"corrupt CURRENT pointer at $file: '$gen'")
      gen
    } finally in.close()
  }

  // ---- root epoch markers -------------------------------------------------

  /** Run `append` unless `epoch` already committed under `root` (then
    * -1, nothing runs); the marker is written AFTER the append, so a
    * crash in between leaves an unmarked epoch the retry re-appends —
    * the family's own append must be epoch-idempotent for that retry
    * (and [[rollPastEpochs]] repairs the marker before a fold). */
  def epochOnce(spark: SparkSession, root: String, epoch: String)(
      append: => Long): Long =
    if (hasEpoch(spark, root, epoch)) -1L
    else {
      val n = append
      markEpochs(spark, root, Seq(epoch))
      n
    }

  /** Whether `epoch`'s root marker exists. */
  private[graft] def hasEpoch(spark: SparkSession, root: String,
      epoch: String): Boolean =
    fsOf(spark, root).exists(new Path(new Path(root, MarkerDir), epoch))

  /** Write the root markers of `epochs` (existing ones are kept). */
  private[graft] def markEpochs(spark: SparkSession, root: String,
      epochs: Seq[String]): Unit = {
    val fs = fsOf(spark, root)
    val markers = new Path(root, MarkerDir)
    epochs.map(new Path(markers, _)).filterNot(fs.exists).foreach { m =>
      fs.mkdirs(markers)
      fs.create(m, true).close()
    }
  }

  /** Number of root epoch markers (0 when none). */
  private[graft] def markerCount(spark: SparkSession, root: String): Long = {
    val fs = fsOf(spark, root)
    val markers = new Path(root, MarkerDir)
    if (fs.exists(markers)) fs.listStatus(markers).length.toLong else 0L
  }

  // ---- generation rolls ---------------------------------------------------

  /** Fold the generation `genDir` of `root` into a compacted successor
    * (via the family's `compact(src, dest)`, whose result it returns) and
    * flip CURRENT. Crash-safe: dying before the flip leaves CURRENT on
    * the old (still-complete) generation and the next trigger
    * re-compacts — every family's compact overwrites the successor, so
    * a stale partial successor is repaired, never trusted. Dying after
    * the flip leaves orphan generations that the next roll's sweep
    * deletes.
    *
    * READER CONTRACT: the JUST-superseded generation is kept through one
    * roll (the sweep deletes only `gen-N` with N < the pre-roll CURRENT),
    * so a concurrent reader that resolved the root right before the flip
    * can still materialize its frame afterwards — its files outlive the
    * roll that superseded them and die only at the NEXT roll. One-writer-
    * many-readers is therefore safe at one-roll cadence: a reader must
    * consume (or re-resolve) a frame before a SECOND roll fires, which
    * at the default thresholds is hundreds of batches away. */
  def roll(spark: SparkSession, root: String, genDir: String)(
      compact: (String, String) => Long): Long = {
    val fs = fsOf(spark, root)
    val curNum = genNumber(new Path(genDir).getName).getOrElse(
      throw new IllegalArgumentException(
        s"ManagedRoot.roll: $genDir is not a generation of $root"))
    val nextName = genName(curNum + 1)
    val compacted = compact(genDir, new Path(root, nextName).toString)
    writeCurrent(fs, new Path(root, CurrentFile), nextName)
    // Sweep superseded generations EXCEPT the newest one (the grace
    // generation in-flight readers may still be scanning), incl. orphans
    // of past crashes.
    fs.listStatus(new Path(root)).foreach { st =>
      if (st.isDirectory && genNumber(st.getPath.getName).exists(_ < curNum))
        fs.delete(st.getPath, true)
    }
    compacted
  }

  /** The epoch-family trigger (chunk, span): once the generation holds
    * >= `n` `committed` epochs, mark every one of them at the root, then
    * [[roll]]. The marker repair closes the append-crash/compaction
    * race: a run that died after committing its generation-local epoch
    * but before its root marker leaves an ORPHAN epoch; folded without
    * its marker, the orphan's retry would re-append into the successor
    * and double-count. Marking first makes the fold the completion
    * point. Crash-safe: dying mid-repair or between repair and roll
    * leaves markers whose epochs are committed — the normal state. */
  def rollPastEpochs(spark: SparkSession, root: String, genDir: String,
      committed: Seq[String], n: Int)(
      compact: (String, String) => Long): Boolean =
    committed.size >= n && {
      markEpochs(spark, root, committed)
      roll(spark, root, genDir)(compact)
      true
    }

  /** The file-count trigger (near-dup `""`, IVF `/vectors`, PQ `/codes`):
    * a managed generation (`gen` from the three-argument [[open]]; None
    * = a flat index, which never rolls) holding >= `n` committed parquet
    * files under `genDir + sub` is [[roll]]ed. */
  def rollPastFiles(spark: SparkSession, root: String, gen: Option[String],
      sub: String, n: Int)(compact: (String, String) => Long): Boolean =
    gen.exists { genDir =>
      parquetFiles(spark, genDir + sub) >= n && {
        roll(spark, root, genDir)(compact)
        true
      }
    }

  /** Number of committed parquet data files directly under `dir` (0 when
    * absent) — the file-count trigger's metric. */
  private[graft] def parquetFiles(spark: SparkSession, dir: String): Int = {
    val fs = fsOf(spark, dir)
    val p = new Path(dir)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet"))
  }
}
