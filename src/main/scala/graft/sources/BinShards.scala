package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable.ArrayBuffer
import scala.util.matching.Regex

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row,
  SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TrainShuffle

/**
 * Loader-native BINARY shard files for the packed pretraining export —
 * the last inch between [[graft.ops.TrainShuffle.packIdSequences]]'s
 * relational frame and what a trainer actually mmaps: flat fixed-width
 * little-endian int32 token ids plus a tiny offsets index, the public
 * Megatron-LM-lineage `.bin`/`.idx` convention (data file of raw ids,
 * index file of per-sequence extents; no parquet/arrow framing in the
 * hot read path).
 *
 * Layout per shard `s` under `dir`:
 *  - `shard-SSSSS.bin` — the shard's sequences concatenated in `seq`
 *    order, each id one little-endian int32 (the separator -1 included
 *    verbatim: ids are signed by the [[graft.ops.TrainShuffle]]
 *    contract, sepId < 0 < vocab ids).
 *  - `shard-SSSSS.idx` — header (magic `GRFT` int32, version int32,
 *    budget int32, n_seqs int64, n_ids int64) then one int32 LENGTH per
 *    sequence. All lengths equal `budget` except possibly the last
 *    (the unpadded-final-sequence contract), so a loader seeks to
 *    sequence k at byte `4·k·budget` without reading the index at all
 *    — the index exists to validate and to size the tail.
 *  - `_BIN_COMMIT` — directory-level commit marker, DELETED FIRST and
 *    WRITTEN LAST (the `TokenizerModel.write` crash-window discipline):
 *    a torn export — task died mid-file, job died between shards — can
 *    never present as complete. [[read]] refuses a marker-less dir.
 *
 * The no-split (SFT) twin, [[writeNoSplit]], keeps the same directory
 * protocol over `sft-*` pairs (see there for its `.idx` sections). The
 * two formats differ only in what [[Layout]] owns; the writer, the
 * exporter, the resume keep-test and the bulk reader exist once.
 *
 * Scale shape: one file PAIR per shard, written by the ONE task that
 * owns the shard's hash partition ([[graft.ops.TrainShuffle.shuffled]]'s
 * argument: hash partitioning keeps every shard whole; several shards
 * may share a task and are written sequentially). numShards scales with
 * the corpus — a shard is one bounded training file — so no task ever
 * buffers more than one sequence (ids stream straight to the data file;
 * only the int32 length-per-sequence table is held, n_seqs entries).
 * Files land via write-temp-then-rename, so a re-run (or a speculative
 * attempt) replaces files atomically-per-file instead of interleaving
 * bytes; single logical writer per dir assumed, as for every managed
 * index family.
 *
 * Integrity: the artifact is ORACLE-GATED through
 * [[graft.ops.TrainShuffle.packDigest]] — the round trip
 * `read(write(packed))` is bit-identical to `packed` (spec), so the
 * digest row DuckDB independently replays (`pack_ids_digest`) gates the
 * binary files' content, not just their relational twin.
 */
object BinShards {

  val Magic: Int = 0x47524654 // "GRFT" — the packed (pretraining) format
  val MagicSft: Int = 0x47524653 // "GRFS" — the no-split (SFT) format
  val Version: Int = 1
  /** Ceiling on a header's `budget` before the readers size buffers
    * from it: a corrupt/foreign idx must fail the module's loud require,
    * not a NegativeArraySizeException or an OOM — and 4*budget must stay
    * inside Int (2^28 ids = a 1 GiB single SEQUENCE, far past any real
    * training budget). */
  val MaxBudget: Int = 1 << 28
  /** Ceiling on numShards: the on-disk names are `%05d`-formatted and
    * every reader/sweeper/keep-test matches exactly five digits, so a
    * wider export would produce shards the whole module silently
    * ignores behind a valid commit marker — data truncation. Refused
    * loud at write time instead (one training file per shard keeps
    * real counts far below this anyway). */
  val MaxShards: Int = 99999
  /** Above this many surviving candidate pairs, the resume keep-test
    * runs as a small Spark job instead of a serial driver loop — at
    * 10k shards on object storage the per-pair idx round trips are
    * the resume's startup cost, and they parallelize embarrassingly. */
  private val KeepTestDriverMax = 32
  private[sources] val CommitMarker = "_BIN_COMMIT"
  private[sources] val ConfigMarker = "_BIN_CONFIG"
  private val HeaderBytes = 4 + 4 + 4 + 8 + 8
  private val SftHeaderBytes = 4 + 4 + 4 + 8 + 8 + 8
  /** Marker keys the writers own — caller-supplied identity lines must
    * not collide with them (a caller overriding `budget` in the marker
    * would defeat the wrong-budget-replay protection; `epochs` is
    * BinFamily's committed-epoch count, equally load-bearing for the
    * manifest surface). */
  private val ReservedMarkerKeys =
    Set("version", "kind", "budget", "shards", "epochs")

  private[sources] def fsOf(dir: String, conf: Configuration): FileSystem =
    new Path(dir).getFileSystem(conf)

  /** A parsed, validated `.idx`: the budget, the id total, the per-unit
    * id counts and doc counts (empty for the packed layout), and the
    * buffer positioned after those tables (at the sft starts section). */
  private[sources] final case class Idx(budget: Int, nIds: Long,
      lens: Array[Int], docCounts: Array[Int], rest: ByteBuffer)

  /**
   * One of the two binary layouts: everything the packed (`shard-*`,
   * `GRFT`) and no-split (`sft-*`, `GRFS`) formats differ in — file
   * names, header, idx parse and encoding, the per-unit row checks, the
   * frame columns, the marker and config kind strings, the byte slices
   * a fold copies, and the primitives that produce and digest the
   * frame. [[Layout.of]] (a commit marker) and [[Layout.named]] (a
   * `kind` argument) are the only dispatch points; the shared bodies
   * call these members and never branch on the layout.
   */
  private[graft] sealed abstract class Layout(
      // The `kind` argument and the `_BIN_CONFIG` kind.
      val name: String, prefix: String, magic: Int,
      private[sources] val headerBytes: Int,
      // The frame's unit column (a packed sequence or an sft bin), its
      // plural and the frame's producer, as error messages name them.
      val unit: String, private[sources] val units: String,
      private[sources] val frameName: String,
      // The writer's, reader's and BinFamily appender's names in error
      // messages.
      private[sources] val writer: String,
      private[sources] val reader: String,
      private[sources] val appender: String,
      // The commit marker's kind line (packed omits it: the established
      // back-compat default).
      private[sources] val kindLine: String) extends Serializable {
    /** The frame row this layout reads back. */
    type R
    val columns: Seq[String]
    private[sources] val IdxFile: Regex = (prefix + """(\d{5})\.idx""").r
    private[sources] val BinFile: Regex = (prefix + """(\d{5})\.bin""").r
    private[sources] def idxName(s: Long): String = f"$prefix$s%05d.idx"
    private[sources] def binName(s: Long): String = f"$prefix$s%05d.bin"
    private[sources] def owns(name: String): Boolean = name.startsWith(prefix)

    /** Magic/version and budget of an idx header, checked loud; the
      * buffer is left after the budget field. Shared by [[parse]] and
      * the point lookups. */
    private[sources] def header(bytes: Array[Byte],
        where: String): (ByteBuffer, Int) = {
      val idx = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      require(idx.getInt() == magic && idx.getInt() == Version,
        s"$where bad magic/version")
      val budget = idx.getInt()
      require(budget > 0 && budget <= MaxBudget,
        s"$where bad budget $budget — corrupt or foreign idx (readers " +
          "size buffers from this field)")
      (idx, budget)
    }

    /** The ONE validation of a whole idx file, shared by the bulk reader
      * (loud requires) and the resume keep-test (boolean wrapper) — two
      * copies would drift on the next format change. */
    private[sources] def parse(bytes: Array[Byte], fileLen: Long,
        where: String): Idx

    /** One shard's idx bytes from its per-unit id counts and starts. */
    private[sources] def encodeIdx(budget: Int, lens: ArrayBuffer[Int],
        nIds: Long, starts: ArrayBuffer[Array[Long]]): Array[Byte]

    /** The columns the exporter reads, by position: shard, unit, ids,
      * n_ids, then the layout's own. */
    private[sources] def exportCols: Seq[Column]

    /** The layout's own checks of one frame row (unit density is
      * checked by the exporter); returns the row's doc starts. */
    private[sources] def checkRow(r: Row, shard: Long, unit: Long,
        ids: Seq[Int], lens: ArrayBuffer[Int], budget: Int): Array[Long]

    private[sources] def encoder: Encoder[R]
    private[sources] def row(shard: Long, i: Int, ids: Array[Int],
        idx: Idx): R

    /** One unit by point lookup, as a one-row frame. */
    def lookup(spark: SparkSession, dir: String, shard: Long,
        k: Long): DataFrame

    /** This layout's frame of a tokenized corpus. */
    def pack(df: DataFrame, idCol: String, textCol: String,
        model: graft.functions.Bpe.TokenizerModel, numShards: Int,
        budget: Int, salt: String = "shuf"): DataFrame

    /** The count a [[fold]] sizes its output in (packed: ids, sft:
      * bins), read from a header after [[header]]. */
    private[sources] def foldCount(h: ByteBuffer): Long

    /** How many [[foldCount]] units one output unit holds: a fold
      * deals whole output units to shards. */
    private[sources] def foldUnit(budget: Int): Int

    /** Fold: units `[a, b)` of one parsed input. Appends the entries
      * they add to the output's length and starts tables and returns
      * their byte range `[from, to)` in the input `.bin`. */
    private[sources] def foldSlice(idx: Idx, a: Long, b: Long,
        budget: Int, lens: ArrayBuffer[Int],
        starts: ArrayBuffer[Array[Long]]): (Long, Long)

    /** The per-shard integrity digest of a frame. */
    def digest(frame: DataFrame, budget: Int): DataFrame
  }

  private[graft] object Layout {
    val all: Seq[Layout] = Seq(Packed, Sft)

    /** The layout a commit marker records (no `kind` line = packed). */
    def of(commitInfo: Map[String, String]): Layout =
      all.find(l => commitInfo.get("kind").contains(l.name)).getOrElse(Packed)

    /** The layout a caller's `kind` argument names, refused loud. */
    def named(fn: String, kind: String): Layout = {
      val l = all.find(_.name == kind)
      require(l.nonEmpty, s"$fn: kind must be 'packed' or 'sft', got '$kind'")
      l.get
    }
  }

  /** The packed (pretraining) layout: `shard-*` pairs of [[write]]. */
  private[graft] case object Packed extends Layout("packed", "shard-",
      Magic, HeaderBytes, "seq", "sequences", "packIdSequences",
      "BinShards.write", "BinShards.read", "BinFamily.appendEpoch", "") {
    type R = (Long, Long, Array[Int], Long)
    val columns: Seq[String] = Seq("shard", "seq", "ids", "n_ids")

    private[sources] def parse(bytes: Array[Byte], fileLen: Long,
        where: String): Idx = {
      val (idx, budget) = header(bytes, where)
      val nSeqs = idx.getLong()
      val nIds = idx.getLong()
      require(nSeqs > 0, s"$where has zero sequences")
      require(fileLen == HeaderBytes + 4L * nSeqs,
        s"$where length table size mismatch")
      val lens = Array.fill(nSeqs.toInt)(idx.getInt())
      require(lens.map(_.toLong).sum == nIds &&
        lens.forall(l => l > 0 && l <= budget) &&
        lens.dropRight(1).forall(_ == budget),
        s"$where inconsistent sequence lengths")
      Idx(budget, nIds, lens, Array.emptyIntArray, idx)
    }

    private[sources] def encodeIdx(budget: Int, lens: ArrayBuffer[Int],
        nIds: Long, starts: ArrayBuffer[Array[Long]]): Array[Byte] = {
      val b = ByteBuffer.allocate(HeaderBytes + 4 * lens.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(Magic).putInt(Version).putInt(budget)
        .putLong(lens.length.toLong).putLong(nIds)
      lens.foreach(b.putInt)
      b.array
    }

    private[sources] def exportCols: Seq[Column] = Seq(
      col("shard").cast("long").as("shard"),
      col("seq").cast("long").as("seq"), col("ids"),
      col("n_ids").cast("long").as("n_ids"))

    private[sources] def checkRow(r: Row, shard: Long, seq: Long,
        ids: Seq[Int], lens: ArrayBuffer[Int], budget: Int): Array[Long] = {
      require(lens.isEmpty || lens.last == budget,
        s"$writer: shard $shard seq ${lens.length - 1} is " +
          s"short but not final — not a $frameName frame?")
      require(ids.length.toLong == r.getLong(3) && ids.length <= budget,
        s"$writer: shard $shard seq $seq n_ids mismatch/over")
      Array.emptyLongArray
    }

    private[sources] def encoder: Encoder[R] = Encoders.product[R]
    private[sources] def row(shard: Long, i: Int, ids: Array[Int],
        idx: Idx): R = (shard, i.toLong, ids, ids.length.toLong)

    def lookup(spark: SparkSession, dir: String, shard: Long,
        seq: Long): DataFrame = {
      import spark.implicits._
      val ids = readSequence(spark, dir, shard, seq)
      Seq((shard, seq, ids, ids.length.toLong)).toDF(columns: _*)
    }

    def pack(df: DataFrame, idCol: String, textCol: String,
        model: graft.functions.Bpe.TokenizerModel, numShards: Int,
        budget: Int, salt: String): DataFrame =
      TrainShuffle.packIdSequences(df, idCol, textCol, model, numShards,
        budget, salt)

    private[sources] def foldCount(h: ByteBuffer): Long = {
      h.getLong() // n_seqs
      h.getLong() // n_ids
    }

    private[sources] def foldUnit(budget: Int): Int = budget

    /** Re-chunks as it goes: tops up the open sequence, then opens
      * `budget`-sized ones, so only the stream's final one is short. */
    private[sources] def foldSlice(idx: Idx, a: Long, b: Long,
        budget: Int, lens: ArrayBuffer[Int],
        starts: ArrayBuffer[Array[Long]]): (Long, Long) = {
      var n = b - a
      while (n > 0) {
        if (lens.isEmpty || lens.last == budget) lens += 0
        val t = math.min(n, (budget - lens.last).toLong).toInt
        lens(lens.length - 1) += t
        n -= t
      }
      (4L * a, 4L * b)
    }

    def digest(frame: DataFrame, budget: Int): DataFrame =
      TrainShuffle.packDigest(frame, budget)
  }

  /** The no-split (SFT) layout: `sft-*` pairs of [[writeNoSplit]]. */
  private[graft] case object Sft extends Layout("sft", "sft-", MagicSft,
      SftHeaderBytes, "bin", "bins", "packNoSplitIds",
      "BinShards.writeNoSplit", "BinShards.readNoSplit",
      "BinFamily.appendEpochSft", "kind=sft\n") {
    type R = (Long, Long, Array[Int], Long, Long, Array[Long])
    val columns: Seq[String] =
      Seq("shard", "bin", "ids", "n_ids", "n_docs", "starts")

    private[sources] def parse(bytes: Array[Byte], fileLen: Long,
        where: String): Idx = {
      val (idx, budget) = header(bytes, where)
      val nBins = idx.getLong()
      val nIds = idx.getLong()
      val nDocs = idx.getLong()
      require(fileLen ==
          SftHeaderBytes + 4L * nBins + 4L * nBins + 8L * nDocs,
        s"$where section sizes mismatch")
      require(nBins > 0, s"$where has zero bins")
      val lens = Array.fill(nBins.toInt)(idx.getInt())
      val docCounts = Array.fill(nBins.toInt)(idx.getInt())
      require(lens.map(_.toLong).sum == nIds &&
        lens.forall(l => l >= 0 && l <= budget) &&
        docCounts.map(_.toLong).sum == nDocs && docCounts.forall(_ >= 1),
        s"$where inconsistent bin tables")
      Idx(budget, nIds, lens, docCounts, idx)
    }

    private[sources] def encodeIdx(budget: Int, lens: ArrayBuffer[Int],
        nIds: Long, starts: ArrayBuffer[Array[Long]]): Array[Byte] = {
      val nDocs = starts.iterator.map(_.length).sum
      val b = ByteBuffer.allocate(SftHeaderBytes + 4 * lens.length +
          4 * starts.length + 8 * nDocs)
        .order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(MagicSft).putInt(Version).putInt(budget)
        .putLong(lens.length.toLong).putLong(nIds).putLong(nDocs.toLong)
      lens.foreach(b.putInt)
      starts.foreach(s => b.putInt(s.length))
      starts.foreach(_.foreach(b.putLong))
      b.array
    }

    private[sources] def exportCols: Seq[Column] = Seq(
      col("shard").cast("long").as("shard"),
      col("bin").cast("long").as("bin"), col("ids"),
      col("n_ids").cast("long").as("n_ids"),
      col("n_docs").cast("long").as("n_docs"), col("starts"))

    private[sources] def checkRow(r: Row, shard: Long, bin: Long,
        ids: Seq[Int], lens: ArrayBuffer[Int], budget: Int): Array[Long] = {
      require(ids.length.toLong == r.getLong(3) && ids.length <= budget,
        s"$writer: shard $shard bin $bin n_ids mismatch/over budget")
      val binStarts = r.getSeq[Long](5)
      require(binStarts.length.toLong == r.getLong(4),
        s"$writer: shard $shard bin $bin n_docs != starts length")
      require(binStarts.isEmpty || (binStarts.head == 0L &&
          binStarts.zip(binStarts.tail).forall(p => p._1 <= p._2) &&
          binStarts.last <= ids.length.toLong),
        s"$writer: shard $shard bin $bin starts not ascending within " +
          "the bin's extent")
      binStarts.toArray
    }

    private[sources] def encoder: Encoder[R] = Encoders.product[R]
    private[sources] def row(shard: Long, i: Int, ids: Array[Int],
        idx: Idx): R = {
      val n = idx.docCounts(i)
      (shard, i.toLong, ids, ids.length.toLong, n.toLong,
        Array.fill(n)(idx.rest.getLong()))
    }

    def lookup(spark: SparkSession, dir: String, shard: Long,
        bin: Long): DataFrame = {
      import spark.implicits._
      val (ids, starts) = readBin(spark, dir, shard, bin)
      Seq((shard, bin, ids, ids.length.toLong, starts.length.toLong,
          starts)).toDF(columns: _*)
    }

    def pack(df: DataFrame, idCol: String, textCol: String,
        model: graft.functions.Bpe.TokenizerModel, numShards: Int,
        budget: Int, salt: String): DataFrame =
      TrainShuffle.packNoSplitIds(df, idCol, textCol, model, numShards,
        budget, salt)

    private[sources] def foldCount(h: ByteBuffer): Long =
      h.getLong() // n_bins

    private[sources] def foldUnit(budget: Int): Int = 1

    /** Renumbers: whole bins, their lengths and starts as they are. */
    private[sources] def foldSlice(idx: Idx, a: Long, b: Long,
        budget: Int, lens: ArrayBuffer[Int],
        starts: ArrayBuffer[Array[Long]]): (Long, Long) = {
      val (ai, bi) = (a.toInt, b.toInt)
      val from = idx.lens.iterator.take(ai).map(_.toLong).sum
      var doc = idx.rest.position() +
        8 * idx.docCounts.iterator.take(ai).map(_.toLong).sum
      (ai until bi).foreach { j =>
        lens += idx.lens(j)
        starts += Array.tabulate(idx.docCounts(j))(d =>
          idx.rest.getLong((doc + 8L * d).toInt))
        doc += 8L * idx.docCounts(j)
      }
      (4L * from, 4L * (from + idx.lens.slice(ai, bi).map(_.toLong).sum))
    }

    def digest(frame: DataFrame, budget: Int): DataFrame =
      TrainShuffle.packNoSplitDigest(frame, budget)
  }

  /** Does shard `s` have a COMPLETE pair on disk that validates against
    * this write's config? The resume keep-test: the layout's full idx
    * validation plus the same budget, shard inside the current range,
    * bin size exactly 4*n_ids. Validation failures of any kind
    * (truncated, foreign, corrupt) just mean "rewrite it". */
  private def validPair(layout: Layout, fs: FileSystem, dir: String,
      s: Long, budget: Int, numShards: Int): Boolean =
    s < numShards && (try {
      readPair(layout, fs, new Path(dir, layout.idxName(s)), "")._1.budget ==
        budget
    } catch { case _: Exception => false })

  /** One pair's idx, read whole and validated by [[Layout.parse]], and
    * its `.bin` path, whose size is checked against `n_ids` — the one
    * pair check behind the bulk reader, the resume keep-test and the
    * fold. */
  private def readPair(layout: Layout, fs: FileSystem, idxPath: Path,
      fn: String): (Idx, Path) = {
    val len = fs.getFileStatus(idxPath).getLen
    require(len >= layout.headerBytes && len <= (1L << 31) - 1,
      s"$fn: $idxPath header/size out of range ($len bytes) — truncated, " +
        "or a shard far past the one-training-file contract (re-shard the " +
        "export)")
    val bytes = new Array[Byte](len.toInt)
    val in = fs.open(idxPath)
    try in.readFully(0L, bytes) finally in.close()
    val idx = layout.parse(bytes, len, s"$fn: $idxPath")
    val binPath = new Path(idxPath.toString.stripSuffix(".idx") + ".bin")
    require(fs.getFileStatus(binPath).getLen == 4L * idx.nIds,
      s"$fn: $binPath size != 4 * n_ids")
    (idx, binPath)
  }

  /** Land one shard pair: `idxBytes` go to a temp file, then both temps
    * rename over the final names — a re-run or a speculative attempt
    * replaces files one by one and never interleaves bytes. Shared by
    * the exporter and the fold. */
  private def commitPair(fs: FileSystem, dir: String, layout: Layout,
      shard: Long, attempt: Long, tmpBin: Path, idxBytes: Array[Byte],
      fn: String): Unit = {
    val tmpIdx = new Path(dir, s".tmp-$attempt-${layout.idxName(shard)}")
    val io = fs.create(tmpIdx, true)
    try io.write(idxBytes) finally io.close()
    val finBin = new Path(dir, layout.binName(shard))
    val finIdx = new Path(dir, layout.idxName(shard))
    fs.delete(finBin, false); fs.delete(finIdx, false)
    require(fs.rename(tmpBin, finBin) && fs.rename(tmpIdx, finIdx),
      s"$fn: rename failed for shard $shard")
  }

  /** Run the resume keep-test over the candidate shard numbers. Small
    * candidate sets stay a driver loop (no job overhead); past
    * [[KeepTestDriverMax]] the per-pair idx reads run as ONE bounded
    * Spark job — the 10k-shard resume's startup cost is object-store
    * round trips, and they parallelize embarrassingly. The collected
    * result is shard NUMBERS only (<= numShards longs, bounded). */
  private def keptShards(spark: SparkSession,
      confSer: org.apache.spark.SerializableWritable[Configuration],
      dir: String, candidates: Seq[Long],
      valid: (FileSystem, String, Long) => Boolean): Set[Long] = {
    if (candidates.isEmpty) Set.empty
    else if (candidates.size <= KeepTestDriverMax) {
      val fs = fsOf(dir, confSer.value)
      candidates.filter(s => valid(fs, dir, s)).toSet
    } else {
      import spark.implicits._
      spark.createDataset(candidates)
        .repartition(math.max(1, math.min(candidates.size,
          spark.sparkContext.defaultParallelism * 2)))
        .mapPartitions { it =>
          val fsx = fsOf(dir, confSer.value)
          it.filter(s => valid(fsx, dir, s))
        }
        .collect().toSet
    }
  }

  /** Render caller-supplied artifact identity (tokenizer vocab size,
    * alphabet, pretokenizer mode, ...) as marker lines — sorted for
    * determinism, validated against the writer-owned keys so an
    * identity entry can never shadow `budget`/`shards`/`kind`. */
  private[sources] def identityLines(fn: String,
      identity: Map[String, String]): String = {
    identity.foreach { case (k, v) =>
      require(k.nonEmpty && !k.contains("=") && !k.contains("\n") &&
          !v.contains("\n"),
        s"$fn: identity keys must be non-empty and '='/newline-free, " +
          s"values newline-free — got '$k'='$v'")
      require(!ReservedMarkerKeys(k),
        s"$fn: identity key '$k' collides with a writer-owned marker field")
    }
    identity.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v\n" }.mkString
  }

  /** Bounded read of the `_BIN_CONFIG` sidecar under `dir` — the ONE
    * implementation behind both resume gates (write / writeNoSplit) and
    * the append gate (BinFamily.appendEpoch): three copies of the
    * read/size-bound logic would desynchronize the gates on the next
    * config-format change. `strict = true` (the append gate) fails
    * LOUD on an implausible size — appending onto a foreign/corrupt
    * root must refuse; `strict = false` (the resume gates) maps it to
    * None — resume's safe fallback is a full rewrite, never a throw. */
  private[sources] def readConfigSidecar(fs: FileSystem, dir: String,
      strict: Boolean): Option[String] = {
    val cp = new Path(dir, ConfigMarker)
    if (!fs.exists(cp)) None
    else {
      val len = fs.getFileStatus(cp).getLen
      val plausible = len > 0 && len <= 4096
      if (!plausible) {
        require(!strict,
          s"BinShards: implausible $ConfigMarker size $len under $dir " +
            "— foreign or corrupt family root")
        None
      } else {
        val bytes = new Array[Byte](len.toInt)
        val in = fs.open(cp)
        try in.readFully(0L, bytes) finally in.close()
        Some(new String(bytes, "UTF-8"))
      }
    }
  }

  /** The config sidecar's content for this write. `token` is the
    * caller's opaque layout identity (salt, tokenizer id, frame
    * version...) — anything that changes the packed CONTENT without
    * changing the file structure. The identity lines are part of the
    * config: a resume under a different stamped identity is a full
    * rewrite, so the commit marker's identity always describes every
    * byte in the directory. */
  private[sources] def configLine(kind: String, budget: Int, numShards: Int,
      token: String, identity: Map[String, String]): String =
    s"version=$Version\nkind=$kind\nbudget=$budget\nshards=$numShards\n" +
      s"token=$token\n" + identityLines("BinShards", identity)

  /**
   * Write a [[graft.ops.TrainShuffle.packIdSequences]] frame as binary
   * shard files. `budget` and `numShards` must be the pack call's own
   * (the packReport contract). Returns the number of shard file pairs
   * written. Overwrite semantics: stale shard files from a previous
   * (possibly wider) export are removed first — a narrowed re-export
   * can never leave orphan shards that a reader would mistake for
   * current data.
   *
   * `resume = true` is the 10k-shard crash economics switch: instead
   * of sweeping everything, shard pairs already on disk that VALIDATE
   * against this call's config are KEPT and their partitions never
   * re-export — a job that died at shard 9,970 of 10,000 rewrites 30
   * files, not 10,000. The config gate is TWO-LAYERED: the `_BIN_CONFIG`
   * sidecar (written before any export work, surviving crashes) must
   * match this call's (kind, budget, numShards, resumeToken, identity)
   * EXACTLY or nothing is kept — so a resumed call with a different
   * shard count or a different `resumeToken` falls back to a full
   * rewrite instead of silently keeping structurally-valid-but-wrong
   * shards; then each surviving pair must itself validate
   * (magic/version, same budget, shard < numShards, length table
   * consistent, bin size = 4*n_ids). `resumeToken` is REQUIRED
   * non-empty under resume and must carry everything that changes the
   * packed CONTENT without changing file structure — the salt, a
   * tokenizer CONTENT fingerprint, a corpus fingerprint (see
   * `graft_bin_export`'s stamped token): the gate detects CONFIG
   * changes, not content changes behind an unchanged token, so a
   * caller that stamps bare paths re-opens the retrain-in-place hole.
   * Stale/corrupt/out-of-range pairs and temp litter are still swept;
   * past [[KeepTestDriverMax]] candidates the keep-test runs as one
   * bounded Spark job instead of serial driver IO. The marker
   * discipline is unchanged (deleted first, stamped last), so a
   * mid-resume crash still presents as torn; within an unchanged config
   * the pack is deterministic, and the digest gate
   * ([[graft.ops.TrainShuffle.packDigest]] vs the file-derived rows)
   * remains the post-hoc certification that kept bytes match.
   *
   * `identity` — caller-supplied artifact identity lines (tokenizer
   * vocab size / alphabet / pretok, ...) stamped into `_BIN_COMMIT`,
   * so [[commitInfo]] / the `graft_bin_manifest` TVF can catch a
   * wrong-vocab pairing from the files ALONE, without the producer's
   * relational manifest row.
   */
  def write(packed: DataFrame, dir: String, budget: Int,
      numShards: Int, resume: Boolean = false,
      resumeToken: String = "",
      identity: Map[String, String] = Map.empty): Long =
    writeFrame(Packed, packed, dir, budget, numShards, resume, resumeToken,
      identity)

  /**
   * Write a [[graft.ops.TrainShuffle.packNoSplitIds]] frame (the SFT
   * padded-bin export) as binary shard files — the no-split twin of
   * [[write]]. Layout per shard:
   *  - `sft-SSSSS.bin` — the bins' id streams concatenated in `bin`
   *    order, each UNPADDED (n_ids <= budget; pad-id policy belongs to
   *    the consumer), int32 LE.
   *  - `sft-SSSSS.idx` — header (magic `GRFS`, version, budget,
   *    n_bins int64, n_ids int64, n_docs int64) then three fixed-width
   *    sections: per-bin int32 id counts, per-bin int32 doc counts,
   *    and the flattened int64 doc-boundary `starts` in bin order —
   *    the loss-mask metadata ships INSIDE the artifact (the point of
   *    no-split packing), and every section is prefix-sum seekable.
   * The marker carries `kind=sft`. Everything else — commit marker,
   * temp+rename, stale cleanup, single writer, `resume`, `resumeToken`
   * and `identity` — is [[write]]'s contract, through the same body; a
   * directory is owned by ONE artifact kind (the writer clears both
   * prefixes).
   */
  def writeNoSplit(packed: DataFrame, dir: String, budget: Int,
      numShards: Int, resume: Boolean = false,
      resumeToken: String = "",
      identity: Map[String, String] = Map.empty): Long =
    writeFrame(Sft, packed, dir, budget, numShards, resume, resumeToken,
      identity)

  /** The one writer body behind [[write]] and [[writeNoSplit]]. */
  private[graft] def writeFrame(layout: Layout, packed: DataFrame,
      dir: String, budget: Int, numShards: Int, resume: Boolean = false,
      resumeToken: String = "",
      identity: Map[String, String] = Map.empty): Long = {
    val fn = layout.writer
    require(budget > 0, s"$fn: budget must be positive, got $budget")
    require(numShards > 0 && numShards <= MaxShards,
      s"$fn: numShards must be in [1, $MaxShards] (the %05d " +
        s"shard-name domain every reader matches), got $numShards")
    require(!resumeToken.contains("\n"),
      s"$fn: resumeToken must be newline-free")
    require(!resume || resumeToken.nonEmpty,
      s"$fn: resume=true requires a non-empty resumeToken — " +
        "an empty token cannot distinguish the survivors' content " +
        "(salt/tokenizer/corpus) from this call's, so nothing could be " +
        "safely kept")
    val spark = packed.sparkSession
    val confSer = new org.apache.spark.SerializableWritable(
      spark.sparkContext.hadoopConfiguration)
    val fs = fsOf(dir, confSer.value)
    val dirPath = new Path(dir)
    // Validate identity (and render the config) BEFORE the marker
    // delete — a rejected call must leave no side effects.
    val config = configLine(layout.name, budget, numShards, resumeToken,
      identity)
    // Crash-window ordering: kill the marker BEFORE touching any file.
    fs.delete(new Path(dirPath, CommitMarker), false)
    fs.mkdirs(dirPath)
    // Resume is honoured only when the surviving files were written
    // under EXACTLY this config (sidecar match) — a changed shard
    // count/salt/token makes every structurally-valid survivor wrong.
    val configMatches =
      readConfigSidecar(fs, dir, strict = false).contains(config)
    // Pass 1: under resume, find complete shard pairs that validate
    // against THIS config; pass 2: sweep every shard/sft/temp file that
    // is not part of a kept pair. (Two passes because the kept .bin
    // must survive the sweep, and listing order is arbitrary. Anchored
    // full-name matches only — a `.tmp-7-shard-00001.bin` orphan must
    // never ride a kept shard number through the sweep.)
    val names = fs.listStatus(dirPath).map(_.getPath.getName)
    val kept: Set[Long] =
      if (!resume || !configMatches) Set.empty
      else {
        // Candidates = shard numbers with BOTH files present (from the
        // one listing already in hand); the per-pair validation reads
        // distribute past the driver-loop threshold.
        val idxNums = names.collect { case layout.IdxFile(n) => n.toLong }.toSet
        val binNums = names.collect { case layout.BinFile(n) => n.toLong }.toSet
        val candidates =
          (idxNums & binNums).filter(_ < numShards).toSeq.sorted
        keptShards(spark, confSer, dir, candidates,
          (fsx, d, s) => validPair(layout, fsx, d, s, budget, numShards))
      }
    names.foreach { n =>
      val keepIt = n match {
        case layout.IdxFile(num) => kept(num.toLong)
        case layout.BinFile(num) => kept(num.toLong)
        case _ => false
      }
      // A dir is owned by ONE artifact kind: sweep the other kind's
      // files too, or a packed write over a former sft dir would leave
      // readNoSplit a valid-looking marker over stale sft data.
      if (!keepIt && (Layout.all.exists(_.owns(n)) || n.startsWith(".tmp-")))
        fs.delete(new Path(dirPath, n), false)
    }
    // Record this write's config BEFORE any export work: a crash
    // mid-export leaves the sidecar describing the files on disk, which
    // is exactly what the next resume needs to trust them.
    val cfgOut = fs.create(new Path(dirPath, ConfigMarker), true)
    cfgOut.write(config.getBytes("UTF-8")); cfgOut.close()
    val todo =
      if (kept.isEmpty) packed
      else packed.filter(!col("shard").isin(kept.toSeq: _*))
    exportShardFiles(layout, todo, dir, budget, numShards, confSer,
      minShard = 0L, maxShardExcl = numShards.toLong)
    val written = fs.listStatus(dirPath)
      .count(st => st.getPath.getName match {
        case layout.IdxFile(_) => true // anchored: a .tmp- orphan from a
        case _ => false                // failed attempt must not inflate
      })                               // the marker's shards= field
    val mk = fs.create(new Path(dirPath, CommitMarker), true)
    mk.write((s"version=$Version\n${layout.kindLine}budget=$budget\n" +
      s"shards=$written\n" + identityLines(fn, identity)).getBytes("UTF-8"))
    mk.close()
    written.toLong
  }

  /**
   * The file exporter shared by the writer and the managed epoch-append
   * family ([[BinFamily.appendEpoch]]): one file PAIR per shard written
   * by the one task owning the shard's hash partition (temp+rename; the
   * task-completion listener closes a mid-shard casualty's temp handle).
   * `[minShard, maxShardExcl)` is the caller's ownership claim over the
   * shard-number space — a frame row outside it fails loud in the
   * writing task, so an append can never silently overwrite another
   * epoch's files (and a plain write can never emit a shard past its
   * declared count, which would %05d-widen past the name domain every
   * reader matches — invisible files behind a valid marker).
   */
  private[sources] def exportShardFiles(layout: Layout, frame: DataFrame,
      dir: String, budget: Int, numPartitions: Int,
      confSer: org.apache.spark.SerializableWritable[Configuration],
      minShard: Long, maxShardExcl: Long): Unit = {
    val fn = layout.writer
    frame
      .select(layout.exportCols: _*)
      .repartition(numPartitions, col("shard"))
      .sortWithinPartitions("shard", layout.unit)
      .foreachPartition { (it: Iterator[Row]) =>
        val conf = confSer.value
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        var shard = Long.MinValue
        var out: org.apache.hadoop.fs.FSDataOutputStream = null
        var tmpBin: Path = null
        // A task that dies mid-shard (a validation require, an
        // executor kill) must not leak the open temp-file handle until
        // executor teardown — the reader-side posture applied to the
        // writer. The orphaned .tmp- file itself is cleaned by the
        // next write's stale sweep and is invisible to readers.
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit] { _ =>
            if (out != null) try out.close() catch { case _: Exception => }
          })
        val lens = ArrayBuffer.empty[Int]
        val starts = ArrayBuffer.empty[Array[Long]]
        var nIds = 0L
        val buf = ByteBuffer.allocate(1 << 16).order(ByteOrder.LITTLE_ENDIAN)
        def flushBuf(): Unit = {
          out.write(buf.array, 0, buf.position()); buf.clear()
        }
        def putInt(v: Int): Unit = {
          if (buf.remaining() < 4) flushBuf()
          buf.putInt(v)
        }
        def closeShard(): Unit = if (shard != Long.MinValue) {
          flushBuf(); out.close(); out = null
          commitPair(fsOf(dir, conf), dir, layout, shard, attempt, tmpBin,
            layout.encodeIdx(budget, lens, nIds, starts), fn)
        }
        it.foreach { r =>
          val s = r.getLong(0)
          require(s >= minShard && s < maxShardExcl,
            s"$fn: shard $s outside this write's owned " +
              s"range [$minShard, $maxShardExcl) — wrong numShards, or " +
              "an append frame not shifted to its epoch's span")
          if (s != shard) {
            closeShard()
            shard = s; lens.clear(); starts.clear(); nIds = 0L
            tmpBin = new Path(dir, s".tmp-$attempt-${layout.binName(shard)}")
            out = fsOf(dir, conf).create(tmpBin, true)
          }
          val unit = r.getLong(1)
          require(unit == lens.length.toLong,
            s"$fn: shard $shard ${layout.units} not dense at $unit " +
              s"(expected ${lens.length}) — not a ${layout.frameName} frame?")
          val ids = r.getSeq[Int](2)
          starts += layout.checkRow(r, shard, unit, ids, lens, budget)
          ids.foreach(putInt)
          lens += ids.length
          nIds += ids.length.toLong
        }
        closeShard()
      }
  }

  /**
   * Fold the committed generation `src` into a dense successor of at most
   * `numShards` pairs under `dest` by byte range — the managed family's
   * compaction ([[BinFamily]]). The format fixes every output byte:
   *  - packed: the `.bin` files in shard-number order are one stream of
   *    T ids, re-chunked into `nOut = ceil(T/budget)` sequences dealt
   *    `per = ceil(nOut/numShards)` to a shard, so output shard k is the
   *    stream's byte range `[4·k·per·budget, 4·min((k+1)·per·budget, T))`;
   *  - sft: the B bins renumber densely, `per = ceil(B/numShards)` to a
   *    shard, each with its slices of the input idx sections.
   * Sizing reads only the input idx headers; then ONE job runs a task per
   * output shard, which validates every input pair it overlaps in full
   * and streams its range into a temp pair ([[commitPair]]). `dest` is
   * cleared first, so a torn successor is rebuilt, never trusted. Returns
   * the pair count; the caller stamps the marker last.
   */
  private[sources] def fold(spark: SparkSession, layout: Layout, src: String,
      dest: String, budget: Int, numShards: Int): Long = {
    val fn = s"${layout.appender} fold"
    val confSer = new org.apache.spark.SerializableWritable(
      spark.sparkContext.hadoopConfiguration)
    val fs = fsOf(src, confSer.value)
    require(fs.exists(new Path(src, CommitMarker)),
      s"$fn: no $CommitMarker under $src — torn or foreign generation")
    val inputs = fs.listStatus(new Path(src))
      .filter(st => layout.IdxFile.matches(st.getPath.getName))
      .sortBy(_.getPath.getName)
    val counts = inputs.map { st =>
      val p = st.getPath
      require(st.getLen >= layout.headerBytes, s"$fn: $p truncated header")
      val bytes = new Array[Byte](layout.headerBytes)
      val in = fs.open(p)
      try in.readFully(0L, bytes) finally in.close()
      val c = layout.foldCount(layout.header(bytes, s"$fn: $p")._1)
      // Every input must overlap some task, or its full check never runs.
      require(c > 0, s"$fn: $p holds no ${layout.units}")
      c
    }
    val bases = counts.scanLeft(0L)(_ + _)
    val total = bases.last
    val q = layout.foldUnit(budget).toLong
    val per = ((total + q - 1) / q + numShards - 1) / numShards * q
    val nOut = if (total == 0L) 0 else ((total + per - 1) / per).toInt
    val destPath = new Path(dest)
    val dfs = fsOf(dest, confSer.value)
    dfs.delete(destPath, true)
    dfs.mkdirs(destPath)
    val srcNames = inputs.map(_.getPath.toString)
    if (nOut > 0) spark.sparkContext.parallelize(0 until nOut, nOut).foreach {
      k =>
        val fsx = fsOf(dest, confSer.value)
        val attempt = org.apache.spark.TaskContext.get().taskAttemptId()
        val (lo, hi) = (k * per, math.min((k + 1) * per, total))
        val tmpBin = new Path(dest, s".tmp-$attempt-${layout.binName(k)}")
        val out = fsx.create(tmpBin, true)
        // A failing task must not leak the temp handle (the exporter's
        // posture); the orphan temp file dies with the next clear.
        org.apache.spark.TaskContext.get()
          .addTaskCompletionListener[Unit] { _ =>
            try out.close() catch { case _: Exception => }
          }
        val lens = ArrayBuffer.empty[Int]
        val starts = ArrayBuffer.empty[Array[Long]]
        val buf = new Array[Byte](1 << 16)
        srcNames.indices.filter(i => bases(i) < hi && bases(i + 1) > lo)
          .foreach { i =>
            val idxPath = new Path(srcNames(i))
            val (idx, binPath) = readPair(layout, fsx, idxPath, fn)
            require(idx.budget == budget, s"$fn: $idxPath budget " +
              s"${idx.budget} is not the family's $budget")
            val (from, to) = layout.foldSlice(idx, math.max(lo - bases(i), 0L),
              math.min(hi, bases(i + 1)) - bases(i), budget, lens, starts)
            val in = fsx.open(binPath)
            try {
              in.seek(from)
              var left = to - from
              while (left > 0) {
                val n = math.min(left, buf.length.toLong).toInt
                in.readFully(buf, 0, n)
                out.write(buf, 0, n)
                left -= n
              }
            } finally in.close()
          }
        out.close()
        commitPair(fsx, dest, layout, k, attempt, tmpBin,
          layout.encodeIdx(budget, lens, lens.iterator.map(_.toLong).sum,
            starts), fn)
    }
    nOut.toLong
  }

  /**
   * Read binary shard files back as the exact
   * [[graft.ops.TrainShuffle.packIdSequences]] frame: (shard, seq, ids
   * ARRAY<INT>, n_ids). Refuses a directory without the commit marker
   * (torn export) and validates every idx header + length table against
   * the data file byte-for-byte. Driver cost is ONE bounded directory
   * listing (numShards entries); each shard streams through one task,
   * one sequence in memory at a time.
   */
  def read(spark: SparkSession, dirOrRoot: String): DataFrame =
    readFrame(spark, dirOrRoot, Packed)

  /**
   * Read SFT binary shard files back as the exact
   * [[graft.ops.TrainShuffle.packNoSplitIds]] frame: (shard, bin, ids,
   * n_ids, n_docs, starts). Same marker/validation posture as [[read]];
   * one bin in memory at a time.
   */
  def readNoSplit(spark: SparkSession, dirOrRoot: String): DataFrame =
    readFrame(spark, dirOrRoot, Sft)

  /** The one bulk reader behind [[read]] and [[readNoSplit]]. */
  private[graft] def readFrame(spark: SparkSession, dirOrRoot: String,
      layout: Layout): DataFrame = {
    val fn = layout.reader
    // A managed BinFamily root resolves to its active generation; a
    // plain export dir passes through (all read-side entry points).
    val dir = ManagedRoot.resolve(spark, dirOrRoot)
    val confSer = new org.apache.spark.SerializableWritable(
      spark.sparkContext.hadoopConfiguration)
    val fs = fsOf(dir, confSer.value)
    val dirPath = new Path(dir)
    require(fs.exists(new Path(dirPath, CommitMarker)),
      s"$fn: no $CommitMarker under $dir — torn or foreign " +
        "export; re-run the write")
    val paths = fs.listStatus(dirPath)
      .map(_.getPath.getName)
      .collect { case n @ layout.IdxFile(_) => s"$dir/$n" }
      .sorted.toSeq
    if (paths.isEmpty)
      return spark.emptyDataset[layout.R](layout.encoder)
        .toDF(layout.columns: _*)
    import spark.implicits._
    spark.createDataset(paths)
      .repartition(paths.size)
      .flatMap { idxPath =>
        val conf = confSer.value
        val shard = new Path(idxPath).getName match {
          case layout.IdxFile(num) => num.toLong
          case other => throw new IllegalArgumentException(
            s"$fn: unexpected shard file name $other")
        }
        val fsx = fsOf(idxPath, conf)
        val (idx, binPath) = readPair(layout, fsx, new Path(idxPath), fn)
        val bin = fsx.open(binPath)
        var binClosed = false
        def closeBin(): Unit = if (!binClosed) { binClosed = true; bin.close() }
        // A non-drained iterator (downstream limit, task kill, a
        // mid-read failure) must not leak the handle until executor
        // teardown: task completion ALWAYS fires, drained or not.
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => closeBin()))
        val byteBuf = new Array[Byte](4 * idx.budget)
        val n = idx.lens.length
        // Lazy per-unit stream over the data file, read in order: one
        // budget-sized buffer per task, never a whole shard in memory;
        // the handle closes with the last unit (eager for the common
        // drained case) or at task completion (the listener above) —
        // whichever comes first.
        Iterator.tabulate(n) { i =>
          val len = idx.lens(i)
          bin.readFully(byteBuf, 0, 4 * len)
          val bb = ByteBuffer.wrap(byteBuf, 0, 4 * len)
            .order(ByteOrder.LITTLE_ENDIAN)
          val row = layout.row(shard, i, Array.fill(len)(bb.getInt()), idx)
          if (i == n - 1) closeBin()
          row
        }
      }(layout.encoder)
      .toDF(layout.columns: _*)
  }

  /**
   * Parse the commit marker of an exported directory — the artifact's
   * own identity row (version, budget, shard count, and `kind=sft` for
   * the no-split twin): one bounded driver read, the dispatch point for
   * kind-agnostic consumers ([[Layout.of]]). Refuses a marker-less
   * (torn/foreign) dir exactly like the readers.
   */
  def commitInfo(spark: SparkSession, dirOrRoot: String): Map[String, String] = {
    val dir = ManagedRoot.resolve(spark, dirOrRoot)
    val fs = fsOf(dir, spark.sparkContext.hadoopConfiguration)
    val marker = new Path(dir, CommitMarker)
    require(fs.exists(marker),
      s"BinShards.commitInfo: no $CommitMarker under $dir — torn or " +
        "foreign export; re-run the write")
    val len = fs.getFileStatus(marker).getLen
    require(len > 0 && len <= 4096,
      s"BinShards.commitInfo: $marker implausible size $len")
    val bytes = new Array[Byte](len.toInt)
    val in = fs.open(marker)
    try in.readFully(0L, bytes) finally in.close()
    new String(bytes, "UTF-8").split("\n").iterator
      .map(_.trim).filter(_.contains("="))
      .map { line =>
        val Array(k, v) = line.split("=", 2)
        k -> v
      }.toMap
  }

  /**
   * Point lookup of ONE sequence from a packed export — the byte seek
   * the `.idx` header exists for: every non-final sequence length
   * equals `budget`, so sequence k's ids start at data byte
   * `4*k*budget` and its own length is the single idx entry at
   * `HeaderBytes + 4*k`. Three bounded reads (header, one length
   * entry, <= 4*budget data bytes), no Spark job, no length-table
   * scan — the random-access path a training loader uses to fetch one
   * example. Validation is deliberately the O(1) subset of [[read]]'s
   * (marker, magic/version, budget bound, the requested extent); whole-
   * file consistency stays the bulk reader's job — [[BinShardsSpec]]
   * pins this lookup against the full read for every (shard, seq).
   */
  def readSequence(spark: SparkSession, dirOrRoot: String, shard: Long,
      seq: Long): Array[Int] = {
    val dir = ManagedRoot.resolve(spark, dirOrRoot)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(dir, conf)
    require(fs.exists(new Path(dir, CommitMarker)),
      s"BinShards.readSequence: no $CommitMarker under $dir — torn or " +
        "foreign export; re-run the write")
    val idxPath = new Path(dir, Packed.idxName(shard))
    require(fs.exists(idxPath),
      s"BinShards.readSequence: no shard $shard under $dir")
    val header = new Array[Byte](HeaderBytes)
    val in = fs.open(idxPath)
    try {
      in.readFully(0L, header)
      val (h, budget) =
        Packed.header(header, s"BinShards.readSequence: $idxPath")
      val nSeqs = h.getLong()
      require(seq >= 0 && seq < nSeqs,
        s"BinShards.readSequence: seq $seq out of range [0, $nSeqs) in " +
          s"shard $shard")
      val lenBytes = new Array[Byte](4)
      in.readFully(HeaderBytes + 4L * seq, lenBytes)
      val len = ByteBuffer.wrap(lenBytes).order(ByteOrder.LITTLE_ENDIAN)
        .getInt()
      require(len > 0 && len <= budget &&
          (len == budget || seq == nSeqs - 1),
        s"BinShards.readSequence: shard $shard seq $seq bad length $len")
      val binPath = new Path(dir, Packed.binName(shard))
      val bytes = new Array[Byte](4 * len)
      val bin = fs.open(binPath)
      try bin.readFully(4L * seq * budget, bytes) finally bin.close()
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      Array.fill(len)(bb.getInt())
    } finally in.close()
  }

  /**
   * Point lookup of ONE bin from an SFT export — the [[readSequence]]
   * posture applied to the no-split `.idx`'s fixed-width sections.
   * Bins are UNPADDED in the data file, so a bin's byte offset is the
   * prefix sum of the lengths before it: the lookup reads the length
   * and doc-count TABLE PREFIXES up to `bin` (two ranged reads of
   * `4*(bin+1)` bytes each — bounded by the tiny int32 tables, never
   * by data), then seeks straight to the bin's ids and its starts
   * slice. O(bin) table entries + O(1) data reads; no Spark job, no
   * full idx parse, no other bin's data touched. Returns (ids, starts)
   * — the loss-mask metadata rides along, as it does in the bulk read.
   * Whole-file consistency stays [[readNoSplit]]'s job; the spec pins
   * this lookup against the full read for every (shard, bin).
   */
  def readBin(spark: SparkSession, dirOrRoot: String, shard: Long,
      bin: Long): (Array[Int], Array[Long]) = {
    val dir = ManagedRoot.resolve(spark, dirOrRoot)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(dir, conf)
    require(fs.exists(new Path(dir, CommitMarker)),
      s"BinShards.readBin: no $CommitMarker under $dir — torn or " +
        "foreign export; re-run the write")
    val idxPath = new Path(dir, Sft.idxName(shard))
    require(fs.exists(idxPath),
      s"BinShards.readBin: no shard $shard under $dir")
    val header = new Array[Byte](SftHeaderBytes)
    val in = fs.open(idxPath)
    try {
      in.readFully(0L, header)
      val (h, budget) = Sft.header(header, s"BinShards.readBin: $idxPath")
      val nBins = h.getLong()
      val nIds = h.getLong()
      val nDocs = h.getLong()
      require(bin >= 0 && bin < nBins,
        s"BinShards.readBin: bin $bin out of range [0, $nBins) in " +
          s"shard $shard")
      // Length-table prefix [0..bin]: one ranged read; the bin's data
      // offset is the prefix sum, its length the final entry.
      val lenPrefix = new Array[Byte](4 * (bin.toInt + 1))
      in.readFully(SftHeaderBytes.toLong, lenPrefix)
      val lb = ByteBuffer.wrap(lenPrefix).order(ByteOrder.LITTLE_ENDIAN)
      var idOff = 0L
      var i = 0L
      while (i < bin) { idOff += lb.getInt(); i += 1 }
      val len = lb.getInt()
      require(len >= 0 && len <= budget && idOff + len <= nIds,
        s"BinShards.readBin: shard $shard bin $bin bad length $len")
      // Doc-count-table prefix: same shape, one section over.
      val dcPrefix = new Array[Byte](4 * (bin.toInt + 1))
      in.readFully(SftHeaderBytes + 4L * nBins, dcPrefix)
      val db = ByteBuffer.wrap(dcPrefix).order(ByteOrder.LITTLE_ENDIAN)
      var startOff = 0L
      i = 0L
      while (i < bin) { startOff += db.getInt(); i += 1 }
      val nDocsBin = db.getInt()
      require(nDocsBin >= 1 && startOff + nDocsBin <= nDocs,
        s"BinShards.readBin: shard $shard bin $bin bad doc count $nDocsBin")
      val startBytes = new Array[Byte](8 * nDocsBin)
      in.readFully(SftHeaderBytes + 8L * nBins + 8L * startOff, startBytes)
      val sb = ByteBuffer.wrap(startBytes).order(ByteOrder.LITTLE_ENDIAN)
      val starts = Array.fill(nDocsBin)(sb.getLong())
      require(starts.isEmpty || (starts.head == 0L &&
          starts.zip(starts.tail).forall(p => p._1 <= p._2) &&
          starts.last <= len.toLong),
        s"BinShards.readBin: shard $shard bin $bin starts not ascending " +
          "within the bin's extent")
      val binPath = new Path(dir, Sft.binName(shard))
      val bytes = new Array[Byte](4 * len)
      val binIn = fs.open(binPath)
      try binIn.readFully(4L * idOff, bytes) finally binIn.close()
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      (Array.fill(len)(bb.getInt()), starts)
    } finally in.close()
  }
}
