package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.ops.TrainShuffle
import graft.sources.BinShards.{Layout, Packed, Sft}

/** Binary shard export ([[BinShards]]): bit-identical round trip against
  * the packed frame, digest stability through the files, crash-window
  * (commit marker) behavior, and loud validation of malformed inputs. */
class BinShardsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def layoutFrame(l: Layout, budget: Int, numShards: Int) = {
    val docs = GraftSession.table(spark, sf, "documents")
    val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 16)
    l.pack(docs, "doc_id", "text", model, numShards, budget)
  }

  private def packedFrame(budget: Int, numShards: Int) =
    layoutFrame(Packed, budget, numShards)

  private def collectPacked(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getSeq[Int](2).toList, r.getLong(3))).toSet

  /** Each layout with the budget its fixture packs at (sft bins must
    * hold several docs). */
  private val layouts = Seq(Packed -> 32, Sft -> 512)

  /** Any layout's frame as a set of rows, arrays as lists. */
  private def collectRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.toList
      case v => v
    }).toSet

  test("round trip is bit-identical and the digest survives the files") {
    val budget = 64
    val packed = packedFrame(budget, 4)
    val dir = Files.createTempDirectory("binshards-").toString
    val n = BinShards.write(packed, dir, budget, 4)
    assert(n == 4L, s"expected 4 shard file pairs, wrote $n")
    assert(Files.exists(Paths.get(dir, "_BIN_COMMIT")))
    assert(Files.exists(Paths.get(dir, "shard-00000.bin")) &&
      Files.exists(Paths.get(dir, "shard-00000.idx")))
    val back = BinShards.read(spark, dir)
    assert(back.columns.toSeq == Seq("shard", "seq", "ids", "n_ids"))
    assert(collectPacked(back) == collectPacked(packed),
      "binary round trip must reproduce the packed frame exactly")
    // The integrity digest computed FROM THE FILES equals the digest of
    // the original frame — the artifact itself is what the oracle gates.
    val a = TrainShuffle.packDigest(packed, budget).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    val b = TrainShuffle.packDigest(back, budget).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(a == b, s"digest drift through the binary files: $a vs $b")
    // The .bin is EXACTLY 4 bytes per id — flat int32, no framing.
    val idMass = packed.agg(sum("n_ids")).collect()(0).getLong(0)
    val binBytes = (0 until 4)
      .map(s => Files.size(Paths.get(dir, f"shard-$s%05d.bin"))).sum
    assert(binBytes == 4L * idMass, s"$binBytes != 4 * $idMass")
  }

  test("torn export: a marker-less dir refuses to read; rewrite heals it") {
    layouts.foreach { case (l, budget) =>
      val packed = layoutFrame(l, budget, 2)
      val dir =
        Files.createTempDirectory(s"binshards-torn-${l.name}-").toString
      BinShards.writeFrame(l, packed, dir, budget, 2)
      Files.delete(Paths.get(dir, "_BIN_COMMIT"))
      val e = intercept[IllegalArgumentException] {
        BinShards.readFrame(spark, dir, l)
      }
      assert(e.getMessage.contains("_BIN_COMMIT"), s"${l.name}: $e")
      BinShards.writeFrame(l, packed, dir, budget, 2)
      assert(collectRows(BinShards.readFrame(spark, dir, l)) ==
        collectRows(packed), l.name)
    }
  }

  test("corrupt index fails loud; narrowed re-export leaves no stale shards") {
    layouts.foreach { case (l, budget) =>
      val dir =
        Files.createTempDirectory(s"binshards-corrupt-${l.name}-").toString
      BinShards.writeFrame(l, layoutFrame(l, budget, 4), dir, budget, 4)
      // Flip the magic: the reader must refuse the shard.
      val idx = Paths.get(dir, l.idxName(1))
      val bytes = Files.readAllBytes(idx)
      bytes(0) = (bytes(0) ^ 0x7f).toByte
      Files.write(idx, bytes)
      // Drop the local-FS checksum sidecar so the reader sees the
      // corrupted bytes themselves (on HDFS/object stores the block
      // checksum would catch this first — both paths are loud).
      Files.deleteIfExists(Paths.get(dir, s".${l.idxName(1)}.crc"))
      val e = intercept[Exception] {
        BinShards.readFrame(spark, dir, l).collect()
      }
      assert(e.getMessage != null && e.getMessage.contains("magic"),
        s"${l.name}: corrupt idx must fail loud: $e")
      // Narrowed re-export (4 -> 2 shards): stale shards 2/3 removed.
      BinShards.writeFrame(l, layoutFrame(l, budget, 2), dir, budget, 2)
      assert(!Files.exists(Paths.get(dir, l.idxName(2))) &&
        !Files.exists(Paths.get(dir, l.binName(3))),
        s"${l.name}: stale shards from the wider export must be gone")
      assert(collectRows(BinShards.readFrame(spark, dir, l)) ==
        collectRows(layoutFrame(l, budget, 2)), l.name)
    }
  }

  test("SFT export: round trip bit-identical, boundary metadata intact, digests survive the files") {
    val budget = 512 // ~3x the mean doc length so bins co-locate docs
    val docs = GraftSession.table(spark, sf, "documents")
    val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 16)
    val packed = TrainShuffle.packNoSplitIds(docs, "doc_id", "text", model,
      numShards = 4, budget = budget)
    val dir = Files.createTempDirectory("binshards-sft-").toString
    val n = BinShards.writeNoSplit(packed, dir, budget, 4)
    assert(n == 4L)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toList,
        r.getLong(3), r.getLong(4), r.getSeq[Long](5).toList)).toSet
    val back = BinShards.readNoSplit(spark, dir)
    assert(back.columns.toSeq ==
      Seq("shard", "bin", "ids", "n_ids", "n_docs", "starts"))
    assert(key(back) == key(packed),
      "SFT binary round trip must reproduce the packed frame exactly")
    // Multi-doc bins must exist or the starts section is untested.
    assert(packed.collect().exists(_.getLong(4) > 1L),
      "fixture must pack multi-doc bins")
    def dig(df: org.apache.spark.sql.DataFrame) =
      TrainShuffle.packNoSplitDigest(df, budget).collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(dig(packed) == dig(back), "digest drift through the sft files")
    // A marker-less dir refuses to read; kind is recorded in the marker.
    Files.delete(Paths.get(dir, "_BIN_COMMIT"))
    val e = intercept[IllegalArgumentException] {
      BinShards.readNoSplit(spark, dir)
    }
    assert(e.getMessage.contains("_BIN_COMMIT"), s"$e")
  }

  test("point lookup readSequence matches the full read; non-drained and corrupt-budget paths are loud-safe") {
    val budget = 32
    val packed = packedFrame(budget, 4)
    val dir = Files.createTempDirectory("binshards-seek-").toString
    BinShards.write(packed, dir, budget, 4)
    // Every (shard, seq) the full read yields must byte-seek to the
    // same ids — the .idx header's all-but-final-length-equals-budget
    // contract is exactly what makes the O(1) lookup valid.
    val full = BinShards.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Int](2).toList)
      .toMap
    assert(full.nonEmpty)
    full.foreach { case ((shard, seq), ids) =>
      assert(BinShards.readSequence(spark, dir, shard, seq).toList == ids,
        s"point lookup drifted at shard $shard seq $seq")
    }
    // Out-of-range and missing-shard lookups fail loud.
    val eOut = intercept[IllegalArgumentException] {
      BinShards.readSequence(spark, dir, 0L, 1000000L)
    }
    assert(eOut.getMessage.contains("out of range"), s"$eOut")
    val eShard = intercept[IllegalArgumentException] {
      BinShards.readSequence(spark, dir, 99L, 0L)
    }
    assert(eShard.getMessage.contains("no shard"), s"$eShard")
    // A NON-DRAINED consumer (limit(1) over a multi-sequence export)
    // must not wedge the reader: the task-completion listener owns the
    // close, so early aborts leak nothing and later reads still work.
    val one = BinShards.read(spark, dir).limit(1).collect()
    assert(one.length == 1)
    assert(collectPacked(BinShards.read(spark, dir)) == collectPacked(packed),
      "full read after a limit(1) consumer must still see every sequence")
    // A corrupt/foreign budget field fails the module's loud require,
    // not a NegativeArraySizeException/OOM from sizing buffers off it.
    val idx = Paths.get(dir, "shard-00000.idx")
    val bytes = Files.readAllBytes(idx)
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(8, -7) // budget field, after magic+version
    Files.write(idx, bytes)
    Files.deleteIfExists(Paths.get(dir, ".shard-00000.idx.crc"))
    val eBudget = intercept[Exception] {
      BinShards.read(spark, dir).collect()
    }
    assert(eBudget.getMessage != null &&
      eBudget.getMessage.contains("bad budget"), s"$eBudget")
    val eBudgetSeek = intercept[IllegalArgumentException] {
      BinShards.readSequence(spark, dir, 0L, 0L)
    }
    assert(eBudgetSeek.getMessage.contains("bad budget"), s"$eBudgetSeek")
  }

  test("resume: a torn multi-shard export rewrites only the missing pairs") {
    val budget = 32
    val packed = packedFrame(budget, 4)
    val dir = Files.createTempDirectory("binshards-resume-").toString
    BinShards.write(packed, dir, budget, 4, resumeToken = "fixture-v1")
    val before = collectPacked(BinShards.read(spark, dir))
    // Simulate a crash after 2 of 4 shards: marker gone, two pairs gone
    // (one idx-only remnant — an incomplete pair must NOT be kept).
    Files.delete(Paths.get(dir, "_BIN_COMMIT"))
    Files.delete(Paths.get(dir, "shard-00002.bin"))
    Files.delete(Paths.get(dir, "shard-00003.bin"))
    Files.delete(Paths.get(dir, "shard-00003.idx"))
    val mtime0 = Files.getLastModifiedTime(Paths.get(dir, "shard-00000.bin"))
    val mtime1 = Files.getLastModifiedTime(Paths.get(dir, "shard-00001.bin"))
    Thread.sleep(1100) // local-FS mtime granularity
    val n = BinShards.write(packed, dir, budget, 4, resume = true,
      resumeToken = "fixture-v1")
    assert(n == 4L, s"resume must end with all 4 pairs, got $n")
    // resume=true without a content-identity token is refused loud —
    // an empty token cannot distinguish survivors' content.
    val eTok = intercept[IllegalArgumentException] {
      BinShards.write(packed, dir, budget, 4, resume = true)
    }
    assert(eTok.getMessage.contains("non-empty resumeToken"), s"$eTok")
    // The surviving complete pairs were KEPT (bytes untouched), the
    // torn/missing ones rewritten; content identical to the original.
    assert(Files.getLastModifiedTime(
        Paths.get(dir, "shard-00000.bin")) == mtime0 &&
      Files.getLastModifiedTime(
        Paths.get(dir, "shard-00001.bin")) == mtime1,
      "resume must not rewrite valid surviving shard pairs")
    assert(Files.exists(Paths.get(dir, "shard-00002.bin")) &&
      Files.exists(Paths.get(dir, "shard-00002.idx")),
      "the idx-only remnant must have been swept and rewritten as a pair")
    assert(collectPacked(BinShards.read(spark, dir)) == before,
      "resumed export must be bit-identical to the uninterrupted one")
    // A changed SHARD COUNT fails the _BIN_CONFIG gate even though the
    // survivors are structurally valid at the same budget — keeping
    // them would silently mix two different document distributions.
    Files.delete(Paths.get(dir, "_BIN_COMMIT"))
    val mtPre = Files.getLastModifiedTime(Paths.get(dir, "shard-00000.bin"))
    Thread.sleep(1100)
    val packedNarrow = packedFrame(budget, 2)
    val nNarrow = BinShards.write(packedNarrow, dir, budget, 2,
      resume = true, resumeToken = "fixture-v1")
    assert(nNarrow == 2L &&
      Files.getLastModifiedTime(Paths.get(dir, "shard-00000.bin")) != mtPre,
      "a numShards change must rewrite everything (config-gate miss)")
    assert(collectPacked(BinShards.read(spark, dir)) ==
      collectPacked(packedNarrow))
    // A changed resumeToken (the salt/tokenizer identity hook) also
    // forces the full rewrite — content changed, structure did not.
    Files.delete(Paths.get(dir, "_BIN_COMMIT"))
    val mtTok = Files.getLastModifiedTime(Paths.get(dir, "shard-00000.bin"))
    Thread.sleep(1100)
    val nTok = BinShards.write(packedNarrow, dir, budget, 2,
      resume = true, resumeToken = "salt=epoch1")
    assert(nTok == 2L &&
      Files.getLastModifiedTime(Paths.get(dir, "shard-00000.bin")) != mtTok,
      "a resumeToken change must rewrite everything")
    // A resume under a DIFFERENT budget keeps nothing either (both the
    // config gate and per-pair validation reject it).
    val packed2 = packedFrame(16, 2)
    val n2 = BinShards.write(packed2, dir, 16, 2, resume = true,
      resumeToken = "fixture-v1")
    assert(n2 == 2L &&
      !Files.exists(Paths.get(dir, "shard-00002.idx")) &&
      !Files.exists(Paths.get(dir, "shard-00003.idx")),
      "config-mismatched pairs must be swept, out-of-range ones removed")
    assert(collectPacked(BinShards.read(spark, dir)) ==
      collectPacked(packed2))
    // A packed write over a former SFT dir leaves no stale sft files
    // behind a fresh marker (one artifact kind per dir).
    val sftDir = Files.createTempDirectory("binshards-kindswap-").toString
    val docs = graft.GraftSession.table(spark, sf, "documents")
    val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 16)
    BinShards.writeNoSplit(graft.ops.TrainShuffle.packNoSplitIds(
      docs, "doc_id", "text", model, 2, 512), sftDir, 512, 2)
    BinShards.write(packedFrame(budget, 2), sftDir, budget, 2)
    assert(!Files.exists(Paths.get(sftDir, "sft-00000.bin")) &&
      !Files.exists(Paths.get(sftDir, "sft-00000.idx")),
      "a packed write must sweep the other kind's files")
  }

  private def sftPacked(budget: Int, numShards: Int) =
    layoutFrame(Sft, budget, numShards)

  private def collectSft(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getSeq[Int](2).toList, r.getLong(3), r.getLong(4),
      r.getSeq[Long](5).toList)).toSet

  test("SFT resume: a torn export rewrites only the missing pairs; config gate") {
    val budget = 512
    val packed = sftPacked(budget, 4)
    val dir = Files.createTempDirectory("binshards-sftresume-").toString
    BinShards.writeNoSplit(packed, dir, budget, 4,
      resumeToken = "sft-fixture-v1")
    val before = collectSft(BinShards.readNoSplit(spark, dir))
    // Crash: marker gone, one pair gone, one bin-only remnant.
    Files.delete(Paths.get(dir, "_BIN_COMMIT"))
    Files.delete(Paths.get(dir, "sft-00002.bin"))
    Files.delete(Paths.get(dir, "sft-00002.idx"))
    Files.delete(Paths.get(dir, "sft-00003.idx"))
    val mt0 = Files.getLastModifiedTime(Paths.get(dir, "sft-00000.bin"))
    val mt1 = Files.getLastModifiedTime(Paths.get(dir, "sft-00001.bin"))
    Thread.sleep(1100)
    val n = BinShards.writeNoSplit(packed, dir, budget, 4, resume = true,
      resumeToken = "sft-fixture-v1")
    assert(n == 4L, s"sft resume must end with all 4 pairs, got $n")
    assert(Files.getLastModifiedTime(
        Paths.get(dir, "sft-00000.bin")) == mt0 &&
      Files.getLastModifiedTime(Paths.get(dir, "sft-00001.bin")) == mt1,
      "sft resume must not rewrite valid surviving pairs")
    assert(collectSft(BinShards.readNoSplit(spark, dir)) == before,
      "resumed sft export must be bit-identical to the uninterrupted one")
    // Empty token under resume is refused, same as the packed writer.
    val eTok = intercept[IllegalArgumentException] {
      BinShards.writeNoSplit(packed, dir, budget, 4, resume = true)
    }
    assert(eTok.getMessage.contains("non-empty resumeToken"), s"$eTok")
    // A changed resumeToken forces the full rewrite.
    Files.delete(Paths.get(dir, "_BIN_COMMIT"))
    val mtTok = Files.getLastModifiedTime(Paths.get(dir, "sft-00000.bin"))
    Thread.sleep(1100)
    val nTok = BinShards.writeNoSplit(packed, dir, budget, 4,
      resume = true, resumeToken = "sft-fixture-v2")
    assert(nTok == 4L &&
      Files.getLastModifiedTime(Paths.get(dir, "sft-00000.bin")) != mtTok,
      "an sft resumeToken change must rewrite everything")
    assert(collectSft(BinShards.readNoSplit(spark, dir)) == before)
  }

  test("SFT point lookup readBin matches the full read; bounds are loud") {
    val budget = 512
    val packed = sftPacked(budget, 3)
    val dir = Files.createTempDirectory("binshards-sftseek-").toString
    BinShards.writeNoSplit(packed, dir, budget, 3)
    val full = BinShards.readNoSplit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getSeq[Int](2).toList, r.getSeq[Long](5).toList)))
      .toMap
    assert(full.nonEmpty)
    // Multi-doc bins must exist or the starts-slice seek is untested.
    assert(full.values.exists(_._2.length > 1),
      "fixture must pack multi-doc bins")
    full.foreach { case ((shard, bin), (ids, starts)) =>
      val (gotIds, gotStarts) = BinShards.readBin(spark, dir, shard, bin)
      assert(gotIds.toList == ids && gotStarts.toList == starts,
        s"sft point lookup drifted at shard $shard bin $bin")
    }
    val eOut = intercept[IllegalArgumentException] {
      BinShards.readBin(spark, dir, 0L, 1000000L)
    }
    assert(eOut.getMessage.contains("out of range"), s"$eOut")
    val eShard = intercept[IllegalArgumentException] {
      BinShards.readBin(spark, dir, 99L, 0L)
    }
    assert(eShard.getMessage.contains("no shard"), s"$eShard")
  }

  test("identity lines are stamped into the marker and config-gated") {
    val budget = 32
    val packed = packedFrame(budget, 2)
    val dir = Files.createTempDirectory("binshards-ident-").toString
    val ident = Map("vocab_size" -> "123", "alphabet" -> "char",
      "pretok" -> "words")
    BinShards.write(packed, dir, budget, 2, resumeToken = "id-v1",
      identity = ident)
    val info = BinShards.commitInfo(spark, dir)
    assert(info.get("vocab_size").contains("123") &&
      info.get("alphabet").contains("char") &&
      info.get("pretok").contains("words"),
      s"identity must be readable from the marker alone: $info")
    // A reserved key can never shadow a writer-owned field.
    val eRes = intercept[IllegalArgumentException] {
      BinShards.write(packed, dir, budget, 2,
        identity = Map("budget" -> "9"))
    }
    assert(eRes.getMessage.contains("writer-owned"), s"$eRes")
    // A changed identity is a config miss: resume rewrites everything.
    Files.delete(Paths.get(dir, "_BIN_COMMIT"))
    val mt = Files.getLastModifiedTime(Paths.get(dir, "shard-00000.bin"))
    Thread.sleep(1100)
    BinShards.write(packed, dir, budget, 2, resume = true,
      resumeToken = "id-v1", identity = ident + ("vocab_size" -> "999"))
    assert(Files.getLastModifiedTime(
        Paths.get(dir, "shard-00000.bin")) != mt,
      "an identity change must miss the config gate and rewrite")
    assert(BinShards.commitInfo(spark, dir)
      .get("vocab_size").contains("999"))
    // The sft writer stamps identity the same way.
    val sftDir = Files.createTempDirectory("binshards-identsft-").toString
    BinShards.writeNoSplit(sftPacked(512, 2), sftDir, 512, 2,
      identity = ident)
    val sftInfo = BinShards.commitInfo(spark, sftDir)
    assert(sftInfo.get("kind").contains("sft") &&
      sftInfo.get("vocab_size").contains("123"), s"$sftInfo")
  }

  test("numShards past the %05d name domain is refused loud") {
    val frame = Seq((0L, 0L, Array(1), 1L)).toDF("shard", "seq", "ids", "n_ids")
    val e = intercept[IllegalArgumentException] {
      BinShards.write(frame, "/tmp/never-written", 4, 100000)
    }
    assert(e.getMessage.contains("99999"), s"$e")
    val e2 = intercept[IllegalArgumentException] {
      BinShards.writeNoSplit(frame, "/tmp/never-written", 4, 100000)
    }
    assert(e2.getMessage.contains("99999"), s"$e2")
  }

  test("write validates the frame: non-dense or oversized sequences are loud") {
    val dir = Files.createTempDirectory("binshards-bad-").toString
    // One row per (shard, unit, ids) in the layout's frame shape; an sft
    // unit holds one doc starting at 0.
    def units(l: Layout, rows: (Long, Long, Seq[Int])*) = l match {
      case Packed => rows.map { case (s, u, ids) =>
        (s, u, ids, ids.length.toLong) }.toDF(l.columns: _*)
      case Sft => rows.map { case (s, u, ids) =>
        (s, u, ids, ids.length.toLong, 1L, Seq(0L)) }.toDF(l.columns: _*)
    }
    def refused(l: Layout, df: org.apache.spark.sql.DataFrame,
        numShards: Int, want: String): Unit = {
      val e = intercept[Exception] {
        BinShards.writeFrame(l, df, dir, 2, numShards)
      }
      assert(e.getMessage.contains(want), s"${l.name}: $e")
    }
    Seq(Packed, Sft).foreach { l =>
      refused(l, units(l, (0L, 0L, Seq(1, 2)), (0L, 2L, Seq(3))), 1,
        "not dense")
      refused(l, units(l, (0L, 0L, Seq(1, 2, 3))), 1, "n_ids mismatch/over")
      // The ownership claim: a shard at/past the declared count would
      // %05d-widen past the name domain every reader and sweeper
      // matches — invisible files behind a valid marker.
      refused(l, units(l, (5L, 0L, Seq(1, 2))), 4, "outside")
    }
    refused(Packed, units(Packed, (0L, 0L, Seq(1)), (0L, 1L, Seq(2, 3))), 1,
      "short but not final")
    // The sft rows carry their doc starts: ascending inside the bin's
    // extent, one per doc.
    refused(Sft, Seq((0L, 0L, Seq(1, 2), 2L, 2L, Seq(1L, 0L)))
      .toDF(Sft.columns: _*), 1, "starts not ascending")
    refused(Sft, Seq((0L, 0L, Seq(1, 2), 2L, 2L, Seq(0L)))
      .toDF(Sft.columns: _*), 1, "n_docs != starts length")
  }

  test("on-disk format: each layout's files are the documented little-endian encoding") {
    // Plain little-endian encodings of the fields the scaladoc lists.
    def i32(vs: Int*): Array[Byte] =
      vs.flatMap(v => (0 until 4).map(k => (v >>> (8 * k)).toByte)).toArray
    def i64(vs: Long*): Array[Byte] =
      vs.flatMap(v => (0 until 8).map(k => (v >>> (8 * k)).toByte)).toArray
    val utf8 = (s: String) => s.getBytes("UTF-8")
    val ident = Map("vocab_size" -> "9")
    // Budget 4, two shards. Packed: shard 0 holds a full sequence and a
    // short final one (the separator -1 verbatim); shard 1 one short
    // sequence. Sft: shard 0 holds a two-doc bin and an empty-doc bin,
    // shard 1 one full bin.
    val packedRows = Seq((0L, 0L, Seq(1, 2, 3, 4), 4L),
      (0L, 1L, Seq(-1, 5), 2L), (1L, 0L, Seq(7), 1L))
    val sftRows = Seq((0L, 0L, Seq(1, 2, 3), 3L, 2L, Seq(0L, 2L)),
      (0L, 1L, Seq[Int](), 0L, 1L, Seq(0L)),
      (1L, 0L, Seq(9, -1, 4, 4), 4L, 1L, Seq(0L)))
    val want: Map[Layout, Map[String, Array[Byte]]] = Map(
      Packed -> Map(
        "shard-00000.idx" -> (i32(0x47524654, 1, 4) ++ i64(2, 6) ++
          i32(4, 2)),
        "shard-00000.bin" -> i32(1, 2, 3, 4, -1, 5),
        "shard-00001.idx" -> (i32(0x47524654, 1, 4) ++ i64(1, 1) ++ i32(1)),
        "shard-00001.bin" -> i32(7)),
      Sft -> Map(
        "sft-00000.idx" -> (i32(0x47524653, 1, 4) ++ i64(2, 3, 3) ++
          i32(3, 0) ++ i32(2, 1) ++ i64(0, 2, 0)),
        "sft-00000.bin" -> i32(1, 2, 3),
        "sft-00001.idx" -> (i32(0x47524653, 1, 4) ++ i64(1, 4, 1) ++
          i32(4) ++ i32(1) ++ i64(0)),
        "sft-00001.bin" -> i32(9, -1, 4, 4)))
    def check(l: Layout, dir: String,
        markers: Map[String, String]): Unit = {
      val names = Files.list(Paths.get(dir)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .filterNot(_.startsWith(".")).toSet
      assert(names == want(l).keySet ++ markers.keySet, s"${l.name}: $names")
      (want(l) ++ markers.map { case (k, v) => k -> utf8(v) }).foreach {
        case (n, bytes) =>
          assert(Files.readAllBytes(Paths.get(dir, n)).toSeq == bytes.toSeq,
            s"${l.name}: $n bytes differ from the documented encoding")
      }
    }
    Seq(Packed -> packedRows.toDF(Packed.columns: _*),
        Sft -> sftRows.toDF(Sft.columns: _*)).foreach { case (l, frame) =>
      val kindLine = if (l == Sft) "kind=sft\n" else ""
      val dir = Files.createTempDirectory(s"binshards-fmt-${l.name}-").toString
      assert(BinShards.writeFrame(l, frame, dir, 4, 2, resumeToken = "tok",
        identity = ident) == 2L)
      check(l, dir, Map(
        "_BIN_COMMIT" ->
          s"version=1\n${kindLine}budget=4\nshards=2\nvocab_size=9\n",
        "_BIN_CONFIG" -> (s"version=1\nkind=${l.name}\nbudget=4\nshards=2\n" +
          "token=tok\nvocab_size=9\n")))
      assert(collectRows(BinShards.readFrame(spark, dir, l)) ==
        collectRows(frame), l.name)
      // The same frame appended as one managed epoch: the same pair
      // bytes, plus the family's marker, config and ledger.
      val root = Files.createTempDirectory(s"binshards-fmtfam-${l.name}-")
        .toString
      BinFamily.appendEpochsImpl(l, Seq("e0" -> frame), root, 4, 2, 64, ident)
      check(l, ManagedRoot.resolve(spark, root), Map(
        "_BIN_COMMIT" ->
          s"version=1\n${kindLine}budget=4\nshards=2\nepochs=1\nvocab_size=9\n",
        "_BIN_CONFIG" -> (s"version=1\nkind=${l.name}-epochs\nbudget=4\n" +
          "shards=2\ntoken=\nvocab_size=9\n"),
        "_BIN_EPOCHS" -> "epoch=e0 start=0 span=2 files=2\n"))
    }
  }
}
