package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.ops.TrainShuffle

/** The managed binary-export family ([[BinFamily]]): batch-sized epoch
  * appends into reserved shard spans, idempotent replay, crash repair,
  * the config gate, and the byte-range fold ([[BinShards.fold]] + CURRENT
  * flip + grace generation), checked against plain-Scala models. */
class BinFamilySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val budget = 64
  private val span = 2 // shardsPerEpoch

  private lazy val docs = GraftSession.table(spark, sf, "documents")
  private lazy val model =
    graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 16)

  /** Deterministic 3-way doc split — the md5 draw every fixture uses. */
  private def batch(i: Int): DataFrame =
    docs.filter(expr(
      s"cast(conv(substr(md5(concat(cast(doc_id as string), " +
        s"':famsplit')), 1, 7), 16, 10) as bigint) % 3 = $i"))

  private def pack(i: Int): DataFrame =
    TrainShuffle.packIdSequences(batch(i), "doc_id", "text", model,
      numShards = span, budget = budget, salt = s"fam-e$i")

  private def shifted(i: Int): DataFrame =
    pack(i).withColumn("shard", col("shard") + (span.toLong * i))

  private def collectPacked(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getSeq[Int](2).toList, r.getLong(3))).toSet

  /** Any frame's rows, arrays as lists. */
  private def rowsOf(df: DataFrame) = df.collect().map(_.toSeq.map {
    case a: scala.collection.Seq[_] => a.toList
    case v => v
  }).toSet

  /** The packed fold, modeled: the streams concatenated in (shard, seq)
    * order, cut every `budget` ids, the pieces dealt `per` to a shard. */
  private def packedFoldModel(rows: Set[(Long, Long, List[Int], Long)],
      numShards: Int) = {
    val seqs = rows.toSeq.sortBy(r => (r._1, r._2)).flatMap(_._3)
      .grouped(budget).toSeq
    val per = (seqs.size + numShards - 1) / numShards
    seqs.zipWithIndex.map { case (ids, g) =>
      ((g / per).toLong, (g % per).toLong, ids.toList, ids.size.toLong)
    }.toSet
  }

  /** A raw packed pair written byte by byte (header budget `hdrBudget`),
    * its stale checksum files dropped. */
  private def writeRawPair(gen: String, shard: Int, hdrBudget: Int,
      lens: Seq[Int]): Unit = {
    val ids = 1 to lens.sum
    val idx = ByteBuffer.allocate(28 + 4 * lens.size)
      .order(ByteOrder.LITTLE_ENDIAN)
    idx.putInt(BinShards.Magic).putInt(1).putInt(hdrBudget)
      .putLong(lens.size.toLong).putLong(ids.size.toLong)
    lens.foreach(idx.putInt)
    val bin = ByteBuffer.allocate(4 * ids.size).order(ByteOrder.LITTLE_ENDIAN)
    ids.foreach(bin.putInt)
    Seq(BinShards.Packed.idxName(shard) -> idx.array,
        BinShards.Packed.binName(shard) -> bin.array).foreach { case (n, b) =>
      Files.write(Paths.get(gen, n), b)
      Files.deleteIfExists(Paths.get(gen, s".$n.crc"))
    }
  }

  test("append: epochs land in disjoint reserved spans; replay is a no-op; crash repair") {
    val root = Files.createTempDirectory("binfam-").toString
    (0 until 3).foreach { i =>
      val n = BinFamily.appendEpoch(pack(i), root, budget, span,
        s"e$i", compactEvery = 10)
      assert(n >= 0L, s"epoch e$i must apply, got $n")
    }
    val expected = collectPacked(
      (0 until 3).map(shifted).reduce(_ unionByName _))
    assert(collectPacked(BinShards.read(spark, root)) == expected,
      "the managed root must read as the union of the shifted epoch packs")
    val info = BinShards.commitInfo(spark, root)
    assert(info.get("epochs").contains("3"), s"$info")
    assert(info("shards").toLong == expected.map(_._1).size.toLong,
      s"marker shard count must equal the distinct shard files: $info")
    // Point lookup resolves the root too.
    val one = expected.find(_._4 == budget.toLong).get
    assert(BinShards.readSequence(spark, root, one._1, one._2).toList ==
      one._3)
    // Replay: the committed epoch returns -1 and touches nothing.
    val gen = ManagedRoot.resolve(spark, root)
    val mt = Files.getLastModifiedTime(Paths.get(gen, "shard-00000.bin"))
    Thread.sleep(1100)
    assert(BinFamily.appendEpoch(pack(1), root, budget, span,
      "e1", compactEvery = 10) == -1L)
    assert(Files.getLastModifiedTime(
        Paths.get(gen, "shard-00000.bin")) == mt,
      "a replayed epoch must not touch any file")
    // Crash repair: simulate a die-mid-append of e2 — root marker and
    // generation commit marker gone, a partial file littering its span.
    Files.delete(Paths.get(root, "epochs", "e2"))
    Files.delete(Paths.get(gen, "_BIN_COMMIT"))
    Files.copy(Paths.get(gen, "shard-00000.bin"),
      Paths.get(gen, "shard-00005.bin"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(Paths.get(gen, ".shard-00005.bin.crc"))
    val mtSurvivor =
      Files.getLastModifiedTime(Paths.get(gen, "shard-00000.bin"))
    Thread.sleep(1100)
    val n2 = BinFamily.appendEpoch(pack(2), root, budget, span,
      "e2", compactEvery = 10)
    assert(n2 >= 0L)
    assert(collectPacked(BinShards.read(spark, root)) == expected,
      "the repaired append must reproduce the exact artifact")
    assert(Files.getLastModifiedTime(
        Paths.get(gen, "shard-00000.bin")) == mtSurvivor,
      "committed epochs' files must survive the repair byte-untouched")
    // Config gate: a mismatched budget refuses loud instead of
    // corrupting the artifact.
    val eCfg = intercept[IllegalArgumentException] {
      BinFamily.appendEpoch(
        TrainShuffle.packIdSequences(batch(0), "doc_id", "text", model,
          numShards = span, budget = 32, salt = "fam-e9"),
        root, 32, span, "e9", compactEvery = 10)
    }
    assert(eCfg.getMessage.contains("config mismatch"), s"$eCfg")
  }

  test("fold: compactEvery re-chunks into a dense canonical successor and flips CURRENT") {
    val root = Files.createTempDirectory("binfam-fold-").toString
    BinFamily.appendEpoch(pack(0), root, budget, span, "e0",
      compactEvery = 2)
    val preFold = (0 until 2).map(shifted).reduce(_ unionByName _)
    BinFamily.appendEpoch(pack(1), root, budget, span, "e1",
      compactEvery = 2)
    // CURRENT flipped; the folded generation is the model's re-chunk of
    // the pre-fold artifact (same global stream, canonical chunking).
    val gen = ManagedRoot.resolve(spark, root)
    assert(gen.endsWith("gen-00001"), s"CURRENT must flip, got $gen")
    val folded = BinShards.read(spark, root)
    assert(collectPacked(folded) ==
      packedFoldModel(collectPacked(preFold), span),
      "the folded generation must be the canonical re-chunk of the stream")
    // Dense canonical shape: shards 0..W-1, every non-final seq of
    // every shard full, only the global last short.
    val rows = folded.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val shards = rows.map(_._1).toSet
    assert(shards == (0L until shards.size.toLong).toSet &&
      shards.size <= span, s"folded shards not dense: $shards")
    val short = rows.filter(_._3 < budget.toLong)
    assert(short.length <= 1 &&
      short.forall(s => s._1 == shards.max &&
        s._2 == rows.filter(_._1 == shards.max).map(_._2).max),
      s"only the globally-final sequence may be short: ${short.toList}")
    // Total id mass is preserved exactly through the fold.
    assert(rows.map(_._3).sum ==
      preFold.agg(sum("n_ids")).collect()(0).getLong(0))
    // Appending after a fold starts at the folded shard count; a
    // second fold sweeps gen-00000 but keeps gen-00001 (grace).
    BinFamily.appendEpoch(pack(2), root, budget, span, "e2",
      compactEvery = 2)
    val withE2 = BinShards.read(spark, root)
    assert(withE2.agg(max("shard")).collect()(0).getLong(0) >=
      shards.size.toLong,
      "the post-fold append must land past the folded base")
    assert(!Files.exists(Paths.get(root, "gen-00000")) ||
      ManagedRoot.resolve(spark, root).endsWith("gen-00001"),
      "pre-fold state must not linger past its grace roll")
    // Replaying a PRE-FOLD epoch is still a no-op: root markers
    // outlive generations.
    assert(BinFamily.appendEpoch(pack(0), root, budget, span, "e0",
      compactEvery = 2) == -1L)
  }

  test("SFT family: padded-bin epochs append, replay no-op, fold re-layouts bins byte-identically") {
    def packSft(i: Int): DataFrame =
      TrainShuffle.packNoSplitIds(batch(i), "doc_id", "text", model,
        numShards = span, budget = budget, salt = s"fam-e$i")
    def shiftedSft(i: Int): DataFrame =
      packSft(i).withColumn("shard", col("shard") + (span.toLong * i))
    def collectSft(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toList,
        r.getLong(3), r.getLong(4), r.getSeq[Long](5).toList)).toSet
    val root = Files.createTempDirectory("binfam-sft-").toString
    (0 until 2).foreach { i =>
      val n = BinFamily.appendEpochSft(packSft(i), root, budget, span,
        s"e$i", compactEvery = 10)
      assert(n >= 0L, s"sft epoch e$i must apply, got $n")
    }
    val expected = collectSft(
      (0 until 2).map(shiftedSft).reduce(_ unionByName _))
    assert(collectSft(BinShards.readNoSplit(spark, root)) == expected,
      "the managed sft root must read as the union of shifted epoch packs")
    // The marker carries the KIND (every kind-dispatched reader/TVF
    // resolves on it) and the family state.
    val info = BinShards.commitInfo(spark, root)
    assert(info.get("kind").contains("sft") &&
      info.get("epochs").contains("2"), s"$info")
    // The sft point lookup resolves the managed root too.
    val one = expected.head
    val (ids, starts) = BinShards.readBin(spark, root, one._1, one._2)
    assert(ids.toList == one._3 && starts.toList == one._6)
    // Replay: committed epoch no-ops.
    assert(BinFamily.appendEpochSft(packSft(0), root, budget, span,
      "e0", compactEvery = 10) == -1L)
    // A family root is ONE kind: the packed append refuses loud.
    val eKind = intercept[Exception] {
      BinFamily.appendEpoch(pack(2), root, budget, span, "e2",
        compactEvery = 10)
    }
    assert(eKind.getMessage.contains("config mismatch"), s"$eKind")
    // Fold at compactEvery=2: bins RE-LAYOUT densely — the payload
    // SEQUENCE in global (shard, bin) order is byte-identical (ids and
    // doc-boundary starts ride through unchanged; only addressing
    // moves), shards dense, and a post-fold append lands past the
    // folded base.
    val root2 = Files.createTempDirectory("binfam-sft-fold-").toString
    BinFamily.appendEpochSft(packSft(0), root2, budget, span, "e0",
      compactEvery = 2)
    BinFamily.appendEpochSft(packSft(1), root2, budget, span, "e1",
      compactEvery = 2)
    val gen2 = ManagedRoot.resolve(spark, root2)
    assert(gen2.endsWith("gen-00001"), s"CURRENT must flip, got $gen2")
    def orderedPayloads(df: DataFrame) = df
      .orderBy("shard", "bin").collect()
      .map(r => (r.getSeq[Int](2).toList, r.getLong(3), r.getLong(4),
        r.getSeq[Long](5).toList)).toList
    val preFold = orderedPayloads(
      (0 until 2).map(shiftedSft).reduce(_ unionByName _))
    val folded = BinShards.readNoSplit(spark, root2)
    assert(orderedPayloads(folded) == preFold,
      "the fold must re-layout bins byte-identically in global order")
    // The model: bins renumbered densely, `per` to a shard.
    val per = (preFold.size + span - 1) / span
    assert(collectSft(folded) == preFold.zipWithIndex.map {
        case ((ids, n, d, st), g) =>
          ((g / per).toLong, (g % per).toLong, ids, n, d, st)
      }.toSet, "the folded bins must be the dense renumbering")
    val fShards = folded.select("shard").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(fShards == (0L until fShards.size.toLong).toSet &&
      fShards.size <= span, s"folded sft shards not dense: $fShards")
    BinFamily.appendEpochSft(packSft(2), root2, budget, span, "e2",
      compactEvery = 2)
    assert(BinShards.readNoSplit(spark, root2)
      .agg(max("shard")).collect()(0).getLong(0) >= fShards.size.toLong,
      "the post-fold sft append must land past the folded base")
    assert(BinFamily.appendEpochSft(packSft(0), root2, budget, span,
      "e0", compactEvery = 2) == -1L,
      "root markers outlive sft generations too")
  }

  test("appendEpochs (concurrent exports) is byte-equivalent to the serial replay across a fold") {
    // Serial root: e0, e1 -> fold -> e2, one appendEpoch at a time.
    val serialRoot = Files.createTempDirectory("binfam-ser-").toString
    (0 until 3).foreach { i =>
      BinFamily.appendEpoch(pack(i), serialRoot, budget, span,
        s"e$i", compactEvery = 2)
    }
    // Batch root: ONE appendEpochs call — e0/e1 export concurrently
    // into their disjoint spans, the fold serializes, e2 lands on the
    // folded successor.
    val batchRoot = Files.createTempDirectory("binfam-bat-").toString
    val n = BinFamily.appendEpochs(
      (0 until 3).map(i => s"e$i" -> pack(i)), batchRoot, budget, span,
      compactEvery = 2)
    assert(n >= 0L)
    // Same rows...
    assert(collectPacked(BinShards.read(spark, batchRoot)) ==
      collectPacked(BinShards.read(spark, serialRoot)),
      "batch append must reproduce the serial artifact")
    // ...and the same FILE BYTES per shard (the resume posture: the
    // artifact identity is its bytes, not just its frame).
    val serGen = Paths.get(ManagedRoot.resolve(spark, serialRoot))
    val batGen = Paths.get(ManagedRoot.resolve(spark, batchRoot))
    import scala.jdk.CollectionConverters._
    def shardFiles(p: java.nio.file.Path) =
      Files.list(p).iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".bin") || n.endsWith(".idx"))
        .toSeq.sorted
    val names = shardFiles(serGen)
    assert(names == shardFiles(batGen), "same shard file set")
    names.foreach { f =>
      assert(java.util.Arrays.equals(
        Files.readAllBytes(serGen.resolve(f)),
        Files.readAllBytes(batGen.resolve(f))),
        s"shard file $f must be byte-identical to the serial replay")
    }
    // Marker state matches too (epochs count, shard count).
    val serInfo = BinShards.commitInfo(spark, serialRoot)
    val batInfo = BinShards.commitInfo(spark, batchRoot)
    assert(serInfo("epochs") == batInfo("epochs") &&
      serInfo("shards") == batInfo("shards"), s"$serInfo vs $batInfo")
    // Replay: a second batch call with the same ids is a no-op.
    assert(BinFamily.appendEpochs(
      (0 until 3).map(i => s"e$i" -> pack(i)), batchRoot, budget, span,
      compactEvery = 2) == -1L)
  }

  test("append restores the caller's job description after the serial export") {
    val sc = spark.sparkContext
    val root = Files.createTempDirectory("binfam-desc-").toString
    sc.setJobDescription("caller label")
    sc.setLocalProperty("spark.jobGroup.id", "caller group")
    try {
      BinFamily.appendEpoch(pack(0), root, budget, span, "e0")
      assert(sc.getLocalProperty("spark.job.description") == "caller label")
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller group")
    } finally {
      sc.setJobDescription(null)
      sc.setLocalProperty("spark.jobGroup.id", null)
    }
    // An unlabelled caller stays unlabelled.
    BinFamily.appendEpoch(pack(1), root, budget, span, "e1")
    assert(sc.getLocalProperty("spark.job.description") == null)
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
  }

  test("a failed concurrent append leaves no live export jobs; a clean retry matches the uninterrupted append") {
    // e0 packs into twice the declared span: its range claim fails in
    // the first task, while e1's export stalls 4 s in its first rows.
    val misPacked = TrainShuffle.packIdSequences(batch(0), "doc_id",
      "text", model, numShards = span * 2, budget = budget,
      salt = "fam-e0")
    val stall = udf { (seq: Long) => if (seq == 0L) Thread.sleep(4000); seq }
    val slow = pack(1).withColumn("seq", stall(col("seq")))
    val root = Files.createTempDirectory("binfam-fail-").toString
    val e = intercept[Exception] {
      BinFamily.appendEpochs(Seq("e0" -> misPacked, "e1" -> slow),
        root, budget, span, compactEvery = 10)
    }
    assert(e.getMessage.contains("range"), s"$e")
    // A failed job's end event trails its waiter by a moment; a live
    // sibling export would stay active for seconds.
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 2000L * 1000 * 1000
    while (sc.statusTracker.getActiveJobIds.nonEmpty &&
        System.nanoTime() < deadline) {
      Thread.sleep(50)
      org.apache.spark.ListenerBusBridge.drain(sc)
    }
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      "a sibling export outlived the failed append")
    val clean = Files.createTempDirectory("binfam-clean-").toString
    for (r <- Seq(root, clean))
      assert(BinFamily.appendEpochs((0 until 2).map(i => s"e$i" -> pack(i)),
        r, budget, span, compactEvery = 10) >= 0L)
    def digest(r: String) = TrainShuffle.packDigest(
        BinShards.read(spark, r), budget)
      .orderBy("shard").collect().map(_.toSeq).toSeq
    assert(digest(root) == digest(clean),
      "the retried append must reproduce the uninterrupted artifact")
  }

  test("fold by byte range: hand-built inputs re-chunk across shard seams; an invalid input fails loud and CURRENT stays") {
    def frame(rows: (Long, Long, Seq[Int])*): DataFrame =
      rows.map(r => (r._1, r._2, r._3.toArray, r._3.size.toLong))
        .toDF(BinShards.Packed.columns: _*)
    // Budget 3, span 2. e0: shard 0 = (1,2,3),(4), shard 1 = (5,6); e1's
    // shard 1 = (7,8,9),(10) lands as shard 3, so shard 2 is absent. The
    // stream 1..10 re-chunks to (1,2,3),(4,5,6) | (7,8,9),(10).
    val e0 = frame((0L, 0L, Seq(1, 2, 3)), (0L, 1L, Seq(4)),
      (1L, 0L, Seq(5, 6)))
    val e1 = frame((1L, 0L, Seq(7, 8, 9)), (1L, 1L, Seq(10)))
    val root = Files.createTempDirectory("binfam-hand-").toString
    BinFamily.appendEpoch(e0, root, 3, span, "e0", compactEvery = 2)
    assert(BinFamily.appendEpoch(e1, root, 3, span, "e1",
      compactEvery = 2) == 2L)
    assert(collectPacked(BinShards.read(spark, root)) == Set(
      (0L, 0L, List(1, 2, 3), 3L), (0L, 1L, List(4, 5, 6), 3L),
      (1L, 0L, List(7, 8, 9), 3L), (1L, 1L, List(10), 1L)))
    // Invalid inputs, written byte by byte over e0's shard 0: a short
    // non-final sequence, and an idx whose budget is not the family's.
    Seq((3, Seq(2, 3), "inconsistent sequence lengths"),
        (4, Seq(4), "budget 4 is not the family's 3")).foreach {
      case (hdrBudget, lens, why) =>
        val bad = Files.createTempDirectory("binfam-bad-").toString
        BinFamily.appendEpoch(e0, bad, 3, span, "e0", compactEvery = 2)
        val gen = ManagedRoot.resolve(spark, bad)
        writeRawPair(gen, 0, hdrBudget, lens)
        val e = intercept[Exception] {
          BinFamily.appendEpoch(e1, bad, 3, span, "e1", compactEvery = 2)
        }
        assert(e.getMessage.contains(s"$gen/shard-00000.idx") &&
          e.getMessage.contains(why), s"$e")
        assert(new String(Files.readAllBytes(Paths.get(bad, "CURRENT")),
          "UTF-8").trim == "gen-00000",
          "CURRENT must stay on the old generation")
    }
  }

  test("a fold of an all-empty generation commits an empty successor; later epochs append") {
    import BinShards.{Packed, Sft}
    val emptyFrames = Map[BinShards.Layout, DataFrame](
      Packed -> Seq.empty[(Long, Long, Array[Int], Long)]
        .toDF(Packed.columns: _*),
      Sft -> Seq.empty[(Long, Long, Array[Int], Long, Long, Array[Long])]
        .toDF(Sft.columns: _*))
    val thirds = Map[BinShards.Layout, DataFrame](
      Packed -> Seq((0L, 0L, Array(1, 2, 3, 4), 4L), (0L, 1L, Array(5), 1L),
        (1L, 0L, Array(6), 1L)).toDF(Packed.columns: _*),
      Sft -> Seq((0L, 0L, Array(1, 2, 3), 3L, 2L, Array(0L, 2L)),
        (1L, 0L, Array(4), 1L, 1L, Array(0L))).toDF(Sft.columns: _*))
    BinShards.Layout.all.foreach { l =>
      val root = Files.createTempDirectory(s"binfam-empty-${l.name}-").toString
      assert(BinFamily.appendEpochsImpl(l, Seq("e0" -> emptyFrames(l),
        "e1" -> emptyFrames(l)), root, 4, 2, 2, Map.empty) == 0L, l.name)
      val gen = ManagedRoot.resolve(spark, root)
      assert(gen.endsWith("gen-00001"), s"${l.name}: CURRENT must flip")
      val info = BinShards.commitInfo(spark, root)
      assert(info("shards") == "0" && info("epochs") == "0", s"$info")
      assert(new String(Files.readAllBytes(Paths.get(gen, "_BIN_EPOCHS")),
        "UTF-8") == "epoch=__folded__ start=0 span=0 files=0\n")
      assert(BinFamily.appendEpochsImpl(l, Seq("e2" -> thirds(l)), root, 4,
        2, 2, Map.empty) == 2L, l.name)
      assert(rowsOf(BinShards.readFrame(spark, root, l)) == rowsOf(thirds(l)),
        s"${l.name}: the post-fold epoch must read back at base 0")
    }
  }

  test("a fold over a torn successor rebuilds it byte-identical to the uninterrupted fold") {
    BinShards.Layout.all.foreach { l =>
      val epochs = (0 until 2).map(i => s"e$i" -> l.pack(batch(i), "doc_id",
        "text", model, span, budget, s"fam-e$i"))
      def append(root: String, i: Int): Unit =
        BinFamily.appendEpochsImpl(l, Seq(epochs(i)), root, budget, span, 2,
          Map("vocab_size" -> "7"))
      val clean = Files.createTempDirectory(s"binfam-clean-${l.name}-")
      val torn = Files.createTempDirectory(s"binfam-torn-${l.name}-")
      Seq(0, 1).foreach(i => append(clean.toString, i))
      // A crashed fold's leftovers: a temp file, a stale pair past the new
      // shard count, and no marker.
      append(torn.toString, 0)
      val succ = Files.createDirectories(torn.resolve("gen-00001"))
      Files.write(succ.resolve(s".tmp-7-${l.binName(0)}"), Array[Byte](1, 2))
      Seq(l.idxName(0) -> l.idxName(span + 3),
          l.binName(0) -> l.binName(span + 3)).foreach { case (from, to) =>
        Files.copy(torn.resolve("gen-00000").resolve(from), succ.resolve(to))
      }
      append(torn.toString, 1)
      import scala.jdk.CollectionConverters._
      def folded(root: java.nio.file.Path) = root.resolve("gen-00001")
      def files(root: java.nio.file.Path) = Files.list(folded(root))
        .iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      // Pairs, ledger, config and marker (and their checksums) all match.
      assert(files(torn) == files(clean), l.name)
      assert(files(clean).contains("_BIN_COMMIT"), l.name)
      files(clean).foreach { n =>
        assert(Files.readAllBytes(folded(torn).resolve(n)).toSeq ==
          Files.readAllBytes(folded(clean).resolve(n)).toSeq,
          s"${l.name}: $n differs from the uninterrupted fold")
      }
    }
  }
}
