package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 corpus operators: PPJoin exact-Jaccard self-join, benchmark
  * decontamination, repetition quality signals, tf-idf top terms, and the
  * deterministic training shuffle. */
class CorpusOpsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  // -- exactJaccardJoin ----------------------------------------------------

  /** Exhaustive mirror: Jaccard over distinct bigram sets (raw strings —
    * 28-bit hash collisions are vanishingly unlikely on these fixtures). */
  private def bruteJaccard(rows: Seq[(Long, String)], n: Int, tau: Double) = {
    val sets = rows.map { case (id, t) =>
      id -> TextFunctions.shinglesOf(t, n).toSet
    }.filter(_._2.nonEmpty)
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa & sb).size.toDouble
      j = inter / (sa.size + sb.size - inter) if j >= tau
    } yield (ia, ib)).toSet
  }

  test("exactJaccardJoin matches the exhaustive join exactly (lossless pruning)") {
    // Near-identical pair (0,1), an unrelated doc, a short doc, a doc
    // that shares only common words with everything.
    val rows = Seq[(Long, String)](
      0L -> "the quick brown fox jumps over the lazy dog near the river bank today",
      1L -> "the quick brown fox jumps over the lazy dog near the river bank now",
      2L -> "completely different content about spark shuffles and partitions here",
      3L -> "tiny",
      4L -> "the dog the fox the bank the river the lazy the quick the brown")
    val got = Dedup.exactJaccardJoin(docs(rows: _*), "doc_id", "text", n = 2, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == bruteJaccard(rows, 2, 0.5))
    assert(got.contains((0L, 1L)))
  }

  test("exactJaccardJoin property: equals exhaustive join on random repetitive corpora") {
    import org.scalacheck.{Gen, Prop}
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val genDoc = for {
      len <- Gen.choose(0, 14)
      ws <- Gen.listOfN(len, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    val genCorpus = for {
      nd <- Gen.choose(2, 12)
      ds <- Gen.listOfN(nd, genDoc)
      tau <- Gen.oneOf(0.3, 0.5, 0.8)
    } yield (ds.zipWithIndex.map { case (t, i) => (i.toLong, t) }, tau)
    val prop = Prop.forAll(genCorpus) { case (rows, tau) =>
      val got = Dedup.exactJaccardJoin(
          docs(rows: _*).repartition(4), "doc_id", "text", n = 2, threshold = tau)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      got == bruteJaccard(rows, 2, tau)
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  // -- decontaminate -------------------------------------------------------

  test("decontaminate flags eval-overlapping docs and only them") {
    // doc 0 is the eval slice (0 % 97 == 0); doc 97 would be too but ids
    // here stay below that. 100 copies the eval text -> fully
    // contaminated; 101 is unrelated; 102 too short to shingle.
    val rows = Seq[(Long, String)](
      0L -> "held out benchmark question about rivers and banks in europe",
      100L -> "held out benchmark question about rivers and banks in europe",
      101L -> "training document with entirely unrelated words inside it",
      102L -> "too short")
    val got = Dedup.decontaminate(docs(rows: _*), "doc_id", "text")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(100L, 101L, 102L), "eval doc excluded from output")
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(100L)._4, "verbatim copy of eval text must be contaminated")
    assert(byId(100L)._2 == byId(100L)._3, "full overlap: n_overlap == n_grams")
    assert(!byId(101L)._4 && byId(101L)._3 == 0L)
    assert(byId(102L)._2 == 0L && !byId(102L)._4, "unshingleable doc: 0 grams, not flagged")
  }

  // -- repetitionStats -----------------------------------------------------

  test("repetitionStats computes Gopher signals and flags degenerate text") {
    val rows = Seq[(Long, String)](
      1L -> "a a a a",          // top share 1.0, bigrams all "a a" -> dup 2/3
      2L -> "v w x y z",        // share 1/5 <= 0.2, all bigrams distinct
      3L -> "")                 // split("") -> [""]: 1 token, no bigrams
    val got = TextFunctions.repetitionStats(docs(rows: _*), "doc_id", "text")
      .collect().map(r => r.doc_id -> r).toMap
    assert(got(1L).top_word_share == 1.0)
    assert(math.abs(got(1L).dup_2gram_frac - (1.0 - 1.0 / 3.0)) < 1e-15)
    assert(got(1L).flagged)
    assert(math.abs(got(2L).top_word_share - 1.0 / 5.0) < 1e-15)
    assert(got(2L).dup_2gram_frac == 0.0 && !got(2L).flagged)
    assert(got(3L).n_tokens == 1L && got(3L).dup_2gram_frac == 0.0 && got(3L).flagged)
  }

  // -- tfIdfTopTerms -------------------------------------------------------

  test("tfIdfTopTerms ranks by tf * N/df with term tiebreak") {
    // N=3. doc 1: "rare" tf=1 df=1 -> 3.0; "common" tf=2 df=3 -> 2.0.
    val rows = Seq[(Long, String)](
      1L -> "rare common common",
      2L -> "common other other",
      3L -> "common alone")
    val got = TextFunctions.tfIdfTopTerms(docs(rows: _*), "doc_id", "text", k = 2)
      .as[(Long, String, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._5).map(_._2).toSeq).toMap
    assert(got(1L) == Seq("rare", "common"))
    assert(got(2L) == Seq("other", "common"))
    // doc 3: "alone" 1*3=3 beats "common" 1*1=1
    assert(got(3L) == Seq("alone", "common"))
  }

  // -- CorpusMix -----------------------------------------------------------

  test("CorpusMix.mix draws exact per-source quotas deterministically, capping at population") {
    val rows = (0L until 300L).map(i => (i, "src" + (i % 3))).toDF("doc_id", "source")
    // src0: 100 docs, quota 7; src1: quota 200 (capped at 100); src2 absent.
    val quotas = Map("src0" -> 7, "src1" -> 200)
    val got = graft.ops.CorpusMix.mix(rows, "doc_id", "source", quotas)
      .as[(Long, String, Long)].collect()
    val bySrc = got.groupBy(_._2)
    assert(bySrc.keySet == Set("src0", "src1"), "unlisted sources dropped")
    assert(bySrc("src0").length == 7)
    assert(bySrc("src1").length == 100, "quota above population keeps the whole source")
    // The draw is the md5-rank minimum: recompute expected src0 picks.
    val md = java.security.MessageDigest.getInstance("MD5")
    def mk(i: Long) = {
      md.reset()
      md.digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val expectSrc0 = (0L until 300L).filter(_ % 3 == 0)
      .sortBy(i => (mk(i), i)).take(7).toSet
    assert(bySrc("src0").map(_._1).toSet == expectSrc0)
    // Deterministic: second run identical.
    val again = graft.ops.CorpusMix.mix(rows, "doc_id", "source", quotas)
      .as[(Long, String, Long)].collect()
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("CorpusMix.mixByTokens: greedy md5-rank fill matches a direct cumulative mirror") {
    // 200 docs in 2 sources, varying token counts; budgets force a
    // mid-stream cut in src0 and keep ALL of src1; src2 unlisted.
    val rows = (0L until 300L)
      .map(i => (i, "src" + (i % 3), 1L + (i % 7)))
      .toDF("doc_id", "source", "n_tokens")
    val budgets = Map("src0" -> 50L, "src1" -> 100000L)
    val got = graft.ops.CorpusMix
      .mixByTokens(rows, "doc_id", "source", "n_tokens", budgets)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    // Direct mirror: cumulative before-doc sum in (md5, id) order.
    val md = java.security.MessageDigest.getInstance("MD5")
    def mk(i: Long) = {
      md.reset()
      md.digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def fill(src: Long, budget: Long): Set[Long] = {
      val docs = (0L until 300L).filter(_ % 3 == src)
        .sortBy(i => (mk(i), i))
      var cum = 0L
      docs.takeWhile { i => val ok = cum < budget; cum += 1 + (i % 7); ok }.toSet
    }
    val expect = fill(0, 50L).map(i => (i, "src0")) ++
      fill(1, 100000L).map(i => (i, "src1"))
    assert(got.map(r => (r._1, r._2)).toSet == expect,
      s"got ${got.length} rows, expected ${expect.size}")
    assert(got.count(_._2 == "src1") == 100, "whole under-budget source kept")
    // The crossing doc is included: src0's selected tokens meet the budget.
    val src0Tokens = got.filter(_._2 == "src0").map(_._3).sum
    assert(src0Tokens >= 50L, s"budget must be met, got $src0Tokens")
    // A 1-hex-char bucketing (16 buckets) selects the identical set.
    val coarse = graft.ops.CorpusMix
      .mixByTokens(rows, "doc_id", "source", "n_tokens", budgets,
        bucketHexChars = 1)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(coarse.toSeq == got.toSeq, "bucket width must not change the set")
  }

  test("CorpusMix.mixByTokens: zero-token doc at the exact budget boundary is excluded") {
    // Single source, single bucket width 1 forced by the data: a
    // zero-token doc whose cumulative-before EQUALS the budget sits past
    // the cut under the per-doc rule (cum_before < budget) — the
    // bucket-level take-all must not scoop it up. Token counts are
    // caller-supplied here (the operator's tokenCount is never 0).
    val md = java.security.MessageDigest.getInstance("MD5")
    def mk(i: Long) = {
      md.reset()
      md.digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val ids = (0L until 40L)
    val ordered = ids.sortBy(i => (mk(i), i))
    // First three docs in draw order get 5 tokens each; everything else
    // 0 — so with budget 15 the bucket total can land EXACTLY on the
    // budget and every zero-token doc after the third is at cum == 15.
    val tokenOf = ordered.take(3).map(_ -> 5L).toMap.withDefaultValue(0L)
    val rows = ids.map(i => (i, "src0", tokenOf(i))).toDF(
      "doc_id", "source", "n_tokens")
    val got = graft.ops.CorpusMix
      .mixByTokens(rows, "doc_id", "source", "n_tokens", Map("src0" -> 15L),
        bucketHexChars = 1)
      .as[(Long, String, Long)].collect().map(_._1).toSet
    var cum = 0L
    val expect = ordered.filter { i =>
      val ok = cum < 15L; cum += tokenOf(i); ok
    }.toSet
    assert(got == expect,
      s"boundary drift: extra=${got -- expect} missing=${expect -- got}")
    // Zero-token docs BEFORE the budget is consumed are kept; the ones
    // at cum == budget are not (there is at least one of each by
    // construction only for the kept side — assert the cut property).
    assert(!got.exists(i => {
      var c = 0L
      ordered.takeWhile(_ != i).foreach(j => c += tokenOf(j))
      c >= 15L
    }), "a doc whose cumulative-before reached the budget leaked in")
  }

  // -- TrainShuffle --------------------------------------------------------

  test("TrainShuffle: deterministic assignment; shuffled output sorted within each shard partition") {
    val ids = (0L until 2000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val a1 = graft.ops.TrainShuffle.shardAssign(ids, "doc_id", 16)
      .select("doc_id", "shard", "sort_key").as[(Long, Long, String)].collect().toSet
    val a2 = graft.ops.TrainShuffle.shardAssign(ids, "doc_id", 16)
      .select("doc_id", "shard", "sort_key").as[(Long, Long, String)].collect().toSet
    assert(a1 == a2, "assignment is a pure deterministic function of id")
    assert(a1.map(_._2).forall(s => s >= 0 && s < 16))
    assert(a1.map(_._3).size == 2000, "sort keys are unique per id")
    // A different salt yields a different permutation.
    val b = graft.ops.TrainShuffle.shardAssign(ids, "doc_id", 16, salt = "epoch2")
      .select("doc_id", "sort_key").as[(Long, String)].collect().toMap
    val a1k = a1.map(t => t._1 -> t._3).toMap
    assert((0L until 2000L).count(i => a1k(i) != b(i)) > 1900)

    val shuf = graft.ops.TrainShuffle.shuffled(ids, "doc_id", 8)
    // No global sort, no window: within each partition shards are
    // contiguous and each shard's rows are sorted by sort_key — checked
    // on the executors; and no shard is split across partitions.
    val parts = shuf.select("shard", "sort_key")
      .as[(Long, String)]
      .mapPartitions { it =>
        val rows = it.toVector
        val grouped = rows.map(_._1) == rows.map(_._1).sortBy(identity)
        val sortedPerShard = rows.groupBy(_._1).values
          .forall(g => g.map(_._2) == g.map(_._2).sorted)
        Iterator.single((rows.map(_._1).distinct.toSet, grouped && sortedPerShard))
      }.collect()
    assert(parts.forall(_._2))
    val shardsPerPartition = parts.map(_._1)
    assert(shardsPerPartition.flatten.groupBy(identity).forall(_._2.length == 1),
      "a shard never splits across partitions")
    assert(shuf.rdd.getNumPartitions == 8)
  }

  // -- weightedSample ------------------------------------------------------

  test("weightedSample: deterministic, weight-biased, TakeOrdered plan") {
    val rows = (0L until 2000L).map(i => (i, if (i < 1000) 1L else 50L))
    val df = rows.toDF("doc_id", "w")
    val got = graft.ops.CorpusMix.weightedSample(df, "doc_id", "w", k = 200)
      .select("doc_id").as[Long].collect().toSet
    // Exact mirror: same integer arithmetic in Scala.
    def h28(id: Long): Long =
      java.lang.Long.parseLong(md5Hex(s"$id:wsample").take(7), 16)
    val want = rows.map { case (id, w) => (h28(id) * 1048576L / w, id) }
      .sorted.take(200).map(_._2).toSet
    assert(got == want)
    // Heavy rows (50x weight) dominate the draw.
    assert(got.count(_ >= 1000L) > 150, s"heavy fraction: ${got.count(_ >= 1000L)}")
    // Rerun is identical; plan is TakeOrdered (no global sort/exchange-all).
    val again = graft.ops.CorpusMix.weightedSample(df, "doc_id", "w", k = 200)
      .select("doc_id").as[Long].collect().toSet
    assert(again == got)
    val plan = graft.ops.CorpusMix.weightedSample(df, "doc_id", "w", 200)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(300))
  }

  // -- nearDupJoin ---------------------------------------------------------

  test("nearDupJoin finds cross-frame near-dups only, verified exactly") {
    val batch = docs(
      0L -> "the quick brown fox jumps over the lazy dog near the river bank",
      2L -> "an entirely unrelated report about spark partitions and shuffles",
      4L -> "the quick brown fox jumps over the lazy dog near the river bend")
    val corpus = docs(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank",
      3L -> "completely different text on alarm processing and overrides",
      5L -> "an entirely unrelated report about spark partitions and shuffles")
    val got = Dedup.nearDupJoin(batch, corpus, "doc_id", "text", threshold = 0.7)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    // Exact copies across frames pair up; (0,1) identical, (2,5) identical,
    // (4,1) one-word-off near-dup. Nothing pairs within a frame.
    assert(got.contains((0L, 1L)) && got.contains((2L, 5L)) && got.contains((4L, 1L)))
    assert(got.forall { case (l, r) => l % 2 == 0 && r % 2 == 1 })
    // Brute-force cross mirror at the same threshold.
    def sets(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => id -> TextFunctions.shinglesOf(t).toSet }
    val want = (for {
      (il, sl) <- sets(Seq(0L -> "the quick brown fox jumps over the lazy dog near the river bank",
        2L -> "an entirely unrelated report about spark partitions and shuffles",
        4L -> "the quick brown fox jumps over the lazy dog near the river bend"))
      (ir, sr) <- sets(Seq(1L -> "the quick brown fox jumps over the lazy dog near the river bank",
        3L -> "completely different text on alarm processing and overrides",
        5L -> "an entirely unrelated report about spark partitions and shuffles"))
      if sl.nonEmpty && sr.nonEmpty
      j = (sl & sr).size.toDouble / (sl | sr).size if j >= 0.7
    } yield (il, ir)).toSet
    assert(got == want)
  }

  test("ingestDedup keeps exactly the batch docs with no corpus near-dup") {
    val batch = docs(
      0L -> "the quick brown fox jumps over the lazy dog near the river bank",
      2L -> "an entirely unrelated report about spark partitions and shuffles",
      4L -> "novel content that appears nowhere in the existing corpus today")
    val corpus = docs(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank",
      3L -> "completely different text on alarm processing and overrides")
    val kept = Dedup.ingestDedup(batch, corpus, "doc_id", "text", 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L), s"doc 0 duplicates corpus doc 1: $kept")
  }

  test("nearDupIndex: parquet round-trip screens identically to the live path") {
    // The incremental-ingestion artifact: index the corpus once, write it
    // to parquet, reload, and screen a batch against the STORED index —
    // same matched pairs and same survivors as the live (re-shingling)
    // path, and the stored signatures equal the live signature pass.
    val batch = docs(
      0L -> "the quick brown fox jumps over the lazy dog near the river bank",
      2L -> "an entirely unrelated report about spark partitions and shuffles",
      4L -> "the quick brown fox jumps over the lazy dog near the river bend",
      6L -> "novel content that appears nowhere in the existing corpus today")
    val corpus = docs(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank",
      3L -> "completely different text on alarm processing and overrides",
      5L -> "an entirely unrelated report about spark partitions and shuffles")
    val idx = Dedup.nearDupIndex(corpus, "doc_id", "text")
    // Stored sig == live signature pass (minhash over the distinct hash
    // set equals minhash over all shingles).
    val sigStored = idx.select("doc", "sig")
      .as[(Long, Seq[Long])].collect().toMap
    val sigLive = Dedup.signatures(corpus, "doc_id", "text")
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigStored == sigLive)
    // hs arrays are sorted distinct (the sortedIntersect precondition).
    idx.select("hs").as[Seq[Int]].collect().foreach { hs =>
      assert(hs == hs.distinct.sorted)
    }
    val p = java.nio.file.Files.createTempDirectory("ndidx-").toString + "/idx"
    idx.write.parquet(p)
    val loaded = spark.read.parquet(p)
    val pairsIdx = Dedup.nearDupJoinIndexed(batch, loaded, "doc_id", "text", 0.7)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    val pairsLive = Dedup.nearDupJoin(batch, corpus, "doc_id", "text", 0.7)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(pairsIdx == pairsLive, s"idx=$pairsIdx live=$pairsLive")
    val keptIdx = Dedup.ingestDedupIndexed(batch, loaded, "doc_id", "text", 0.7)
      .select("doc_id").as[Long].collect().toSet
    val keptLive = Dedup.ingestDedup(batch, corpus, "doc_id", "text", 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(keptIdx == keptLive && keptIdx == Set(6L), s"idx=$keptIdx live=$keptLive")
  }

  test("nearDupIndexCompact: bounded copy screens identically, appends continue") {
    val base = java.nio.file.Files.createTempDirectory("ndcompact-").toString
    val dir = base + "/nd"
    // Three appends — three sets of small files, the append-mode growth
    // a long-running ingestion loop accumulates.
    assert(Dedup.indexAppend(docs(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank",
      2L -> "completely different text on alarm processing and overrides"),
      "doc_id", "text", dir) == 2)
    assert(Dedup.indexAppend(docs(
      3L -> "an entirely unrelated report about spark partitions and shuffles"),
      "doc_id", "text", dir) == 1)
    assert(Dedup.indexAppend(docs(
      4L -> "novel content that appears nowhere in the existing corpus today"),
      "doc_id", "text", dir) == 1)
    def parquetFiles(d: String): Int =
      new java.io.File(d).listFiles((_, n) => n.endsWith(".parquet")).length
    assert(parquetFiles(dir) >= 3, "each append must land its own files")
    val batch = docs(
      10L -> "the quick brown fox jumps over the lazy dog near the river bend",
      11L -> "fresh weather report content shared with no indexed document")
    def pairs(idx: org.apache.spark.sql.DataFrame) =
      Dedup.nearDupJoinIndexed(batch, idx, "doc_id", "text", 0.7)
        .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    val before = pairs(spark.read.parquet(dir))
    assert(before.nonEmpty, "fixture must have a near-dup hit")
    // Guards: in-place and nesting (both directions) are caller bugs, as
    // is compacting an index that has no committed rows.
    val cdir = base + "/nd-compacted"
    assert(intercept[IllegalArgumentException](
      Dedup.nearDupIndexCompact(spark, dir, dir))
      .getMessage.contains("in-place"))
    assert(intercept[IllegalArgumentException](
      Dedup.nearDupIndexCompact(spark, dir, dir + "/sub"))
      .getMessage.contains("must not nest"))
    assert(intercept[IllegalArgumentException](
      Dedup.nearDupIndexCompact(spark, base + "/nowhere", cdir))
      .getMessage.contains("no committed index"))
    assert(Dedup.nearDupIndexCompact(spark, dir, cdir) == 4)
    // 4 rows, default 2^20 rows/file -> exactly one file; identical
    // screens; by-doc-id append idempotence preserved through the copy.
    assert(parquetFiles(cdir) == 1, s"files: ${parquetFiles(cdir)}")
    assert(pairs(spark.read.parquet(cdir)) == before)
    assert(Dedup.indexAppend(docs(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank"),
      "doc_id", "text", cdir) == 0, "compacted ids must still no-op")
    assert(Dedup.indexAppend(docs(
      12L -> "content arriving after the compaction keeps landing"),
      "doc_id", "text", cdir) == 1)
    graft.GraftCaches.clearAll()
  }

  // -- seqPack -------------------------------------------------------------

  test("seqPack: offsets are an exact concat-and-chunk layout per shard") {
    val rows = (0L until 50L).map(i => i -> ("tok " * (i % 7 + 1).toInt).trim)
    val got = graft.ops.TrainShuffle.seqPack(
        docs(rows: _*), "doc_id", "text", numShards = 4, budget = 10)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.length == 50)
    // Replay the layout: within each shard, in (sort_key, id) order,
    // offsets advance by n_tokens + 1 (EOD separator) starting from 0.
    def sortKey(id: Long) = md5Hex(s"$id:shuf:ord")
    got.groupBy(_._2).foreach { case (_, shardRows) =>
      val ordered = shardRows.sortBy(r => (sortKey(r._1), r._1))
      var off = 0L
      ordered.foreach { case (id, _, n, tokStart, seqFirst, seqLast) =>
        assert(tokStart == off, s"doc $id offset")
        assert(n == (id % 7 + 1))
        assert(seqFirst == tokStart / 10 && seqLast == (tokStart + n - 1) / 10)
        off += n + 1
      }
    }
    // Documents DO straddle sequence boundaries somewhere (the point of
    // concat-and-chunk: no padding).
    assert(got.exists(r => r._5 != r._6))
  }

  test("packIdSequences: sequences are the exact chunked id stream and decode back") {
    val rows = (0L until 40L).map(i =>
      i -> (("alpha beta g" + (i % 5) + " ") * ((i % 4).toInt + 1)).trim)
    val df = docs(rows: _*)
    val model = graft.functions.Bpe.bpeTrain(df, "text", numMerges = 8)
    val budget = 16
    val got = graft.ops.TrainShuffle.packIdSequences(
        df, "doc_id", "text", model, numShards = 2, budget = budget)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Int](2).toSeq, r.getLong(3)))
    // Per shard: sequence indices dense from 0, every non-final
    // sequence exactly `budget` ids (the stream is contiguous), the
    // final one <= budget, and the count equals packReport's n_seqs on
    // the same layout.
    val enc = graft.functions.Bpe.bpeEncodeIds(df, "doc_id", "text", model)
    val report = graft.ops.TrainShuffle.packReport(
        graft.ops.TrainShuffle.seqPack(enc, "doc_id", "",
          numShards = 2, budget = budget, tokensCol = "n_tokens_bpe"),
        budget = budget)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val encRows = enc.collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toSeq))
    def shardOf(id: Long): Long =
      java.lang.Long.parseLong(md5Hex(s"$id:shuf:shard").take(7), 16) % 2
    got.groupBy(_._1).foreach { case (shard, seqs) =>
      val ordered = seqs.sortBy(_._2)
      assert(ordered.map(_._2).toSeq == (0L until ordered.length.toLong).toSeq,
        s"shard $shard: sequence indices not dense")
      assert(ordered.init.forall(_._4 == budget),
        s"shard $shard: a non-final sequence is not full")
      assert(ordered.last._4 <= budget)
      assert(ordered.forall { case (_, _, ids, n) => ids.length == n })
      assert(ordered.length.toLong == report(shard),
        s"shard $shard: ${ordered.length} seqs != packReport ${report(shard)}")
      // The shard's concatenated stream split on the -1 separators is
      // the docs' id sequences in layout order, and each segment
      // decodes back to its doc's normalized text. (The tail sequence
      // trim may cut the LAST doc's separator — the segment is still
      // that doc's complete id sequence.)
      val stream = ordered.flatMap(_._3)
      val segments = {
        val out = scala.collection.mutable.ArrayBuffer[Seq[Int]]()
        var cur = scala.collection.mutable.ArrayBuffer[Int]()
        stream.foreach { id =>
          if (id == -1) {
            out += cur.toSeq
            cur = scala.collection.mutable.ArrayBuffer[Int]()
          } else cur += id
        }
        if (cur.nonEmpty) out += cur.toSeq
        out.toSeq
      }
      val expectedDocs = encRows
        .filter { case (id, _) => shardOf(id) == shard }
        .sortBy { case (id, _) => (md5Hex(s"$id:shuf:ord"), id) }
      assert(segments == expectedDocs.map(_._2).toSeq,
        s"shard $shard: stream segments != per-doc id sequences in layout order")
      val textById = rows.toMap
      expectedDocs.zip(segments).foreach { case ((id, _), seg) =>
        assert(model.decodeIds(seg) ==
          graft.functions.TextFunctions.normalizeScala(textById(id)),
          s"doc $id: packed segment does not decode to the normalized text")
      }
    }
    // The separator can never alias a vocab id: non-negative sepId is loud.
    val e = intercept[IllegalArgumentException] {
      graft.ops.TrainShuffle.packIdSequences(
        df, "doc_id", "text", model, numShards = 2, budget = 4, sepId = 0)
    }
    assert(e.getMessage.contains("sepId"))

    // Hand-built encodings against a plain-Scala model of the stream:
    // per shard, docs in (sort_key, id) order, each doc's ids then one
    // -1, cut every `budget` positions, and the positions past
    // packReport's n_seqs sequences (a trailing separator) dropped.
    // Covers zero-token docs, a doc spanning 3+ sequences, budget 1,
    // and a final separator landing exactly on a sequence boundary.
    val lens = Seq(0, 5, 1, 40, 3, 0, 6, 13, 2, 8)
    val encHand = lens.zipWithIndex.map { case (n, i) =>
      (i.toLong, Seq.tabulate(n)(j => 100 * i + j), n.toLong)
    }.toDF("doc_id", "token_ids", "n_tokens_bpe")
    def expectedPack(numShards: Int, b: Int): Map[(Long, Long), Seq[Int]] =
      encHand.collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
        .groupBy { case (id, _) => java.lang.Long.parseLong(
          md5Hex(s"$id:shuf:shard").take(7), 16) % numShards }
        .flatMap { case (shard, docsIn) =>
          val laid = docsIn.sortBy { case (id, _) =>
            (md5Hex(s"$id:shuf:ord"), id) }
          val starts = laid.map(_._2.length + 1L).scanLeft(0L)(_ + _)
          val nSeqs = laid.indices.map(k =>
            (starts(k) + laid(k)._2.length - 1) / b).max + 1
          laid.flatMap(_._2 :+ -1).take((nSeqs * b).toInt)
            .grouped(b).zipWithIndex
            .map { case (ids, k) => (shard, k.toLong) -> ids.toSeq }
        }
    val total = lens.map(_ + 1).sum // the 1-shard stream, separators in
    import org.apache.spark.sql.types._
    val wantSchema = StructType(Seq(StructField("shard", LongType),
      StructField("seq", LongType),
      StructField("ids", ArrayType(IntegerType, containsNull = false),
        nullable = false),
      StructField("n_ids", LongType, nullable = false)))
    var trimmedAtBoundary = false
    for (numShards <- Seq(1, 3); b <- Seq(1, 7, 16, total - 1)) {
      val packed = graft.ops.TrainShuffle.packIdSequencesEnc(encHand,
        numShards, budget = b)
      assert(packed.schema == wantSchema,
        s"shards=$numShards budget=$b: schema ${packed.schema.treeString}")
      val got = packed.collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getSeq[Int](2).toSeq, r.getLong(3))).toMap
      val want = expectedPack(numShards, b)
      assert(got.keySet == want.keySet,
        s"shards=$numShards budget=$b: (shard, seq) keys differ")
      want.foreach { case (k, ids) =>
        assert(got(k) == ((ids, ids.length.toLong)),
          s"shards=$numShards budget=$b $k: ${got(k)} != $ids")
      }
      if (numShards == 1) {
        // The final separator sits at total - 1: on a boundary for
        // budget 1 and total - 1, where it is trimmed.
        val emitted = want.values.map(_.length).sum
        if ((total - 1) % b == 0) {
          assert(emitted == total - 1, s"budget=$b: separator not trimmed")
          trimmedAtBoundary = true
        }
      }
    }
    assert(trimmedAtBoundary)
    // The 40-token doc spans at least 3 sequences at budget 16.
    assert(expectedPack(1, 16).values.count(_.exists(id =>
      id >= 300 && id < 400)) >= 3)
  }

  test("packDigest: per-shard sums and xors equal a plain-Scala digest of the rows") {
    def scalaDigest(rows: Seq[(Long, Long, Seq[Int], Long)], b: Long) =
      rows.groupBy(_._1).collect {
        case (shard, seqs) if seqs.exists(_._3.nonEmpty) =>
          val terms = seqs.flatMap { case (_, seq, ids, _) =>
            ids.zipWithIndex.map { case (id, i) =>
              (seq * b + i + 1, id + 2L) }
          }
          shard -> ((seqs.size.toLong, seqs.map(_._4).sum,
            terms.map { case (p, v) => p * v }.sum,
            terms.map { case (p, v) => p * 1000003L + v }
              .foldLeft(0L)(_ ^ _)))
      }
    def check(rows: Seq[(Long, Long, Seq[Int], Long)], b: Int): Unit = {
      val digest = graft.ops.TrainShuffle.packDigest(
        rows.toDF("shard", "seq", "ids", "n_ids"), b)
      assert(digest.columns.toSeq ==
        Seq("shard", "n_seqs", "n_ids", "sum_digest", "xor_digest"))
      assert(!digest.schema("n_seqs").nullable)
      val got = digest.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(got == scalaDigest(rows, b.toLong))
    }
    // Shard 0's every sequence is empty, so it has no row; shard 1 mixes
    // empty and full sequences (the empty one still counts in n_seqs);
    // unk (0) and the separator (-1) keep nonzero terms.
    val hand = Seq((0L, 0L, Seq[Int](), 0L), (0L, 1L, Seq[Int](), 0L),
      (1L, 0L, Seq(5, -1, 0), 3L), (1L, 1L, Seq[Int](), 0L),
      (2L, 0L, Seq(7), 1L), (2L, 3L, Seq(9, 9), 2L))
    check(hand, 4)
    assert(!graft.ops.TrainShuffle.packDigest(
      hand.toDF("shard", "seq", "ids", "n_ids"), 4)
      .collect().exists(_.getLong(0) == 0L))
    // A real pack, at two budgets.
    val df = docs((0L until 30L).map(i =>
      i -> (("alpha beta g" + (i % 5) + " ") * ((i % 4).toInt + 1)).trim): _*)
    val model = graft.functions.Bpe.bpeTrain(df, "text", numMerges = 8)
    Seq(5, 16).foreach { b =>
      val rows = graft.ops.TrainShuffle.packIdSequences(
          df, "doc_id", "text", model, numShards = 3, budget = b)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[Int](2).toSeq, r.getLong(3))).toSeq
      check(rows, b)
    }
  }

  /** One no-split bin: (shard, bin, ids, n_ids, n_docs, starts). */
  private type Bin = (Long, Long, Seq[Int], Long, Long, Seq[Long])

  test("packNoSplitDigest: per-shard rows equal a plain-Scala digest of the bins") {
    // Per shard: bins, doc and id masses, the id sum and xor over
    // absolute positions bin*b + i, and the starts sum
    // (bin*b + start + 1) * (k + 2); null arrays add no terms, and a
    // shard with no terms keeps its row with zero digests.
    def scalaDigest(rows: Seq[Bin], b: Long) =
      rows.groupBy(_._1).map { case (shard, bins) =>
        val terms = bins.flatMap { r =>
          Option(r._3).toSeq.flatMap(_.zipWithIndex.map { case (id, i) =>
            (r._2 * b + i + 1, id + 2L) })
        }
        val starts = bins.flatMap { r =>
          Option(r._6).toSeq.flatMap(_.zipWithIndex.map { case (st, k) =>
            (r._2 * b + st + 1) * (k + 2L) })
        }
        shard -> Seq(bins.size.toLong, bins.map(_._5).sum,
          bins.map(_._4).sum,
          terms.map { case (p, v) => p * v }.sum,
          terms.map { case (p, v) => p * 1000003L + v }.foldLeft(0L)(_ ^ _),
          starts.sum)
      }
    def check(rows: Seq[Bin], b: Int): Unit = {
      val digest = graft.ops.TrainShuffle.packNoSplitDigest(
        rows.toDF("shard", "bin", "ids", "n_ids", "n_docs", "starts"), b)
      assert(digest.columns.toSeq == Seq("shard", "n_bins", "n_docs",
        "n_ids", "sum_digest", "xor_digest", "starts_digest"))
      Seq("n_bins", "sum_digest", "xor_digest", "starts_digest").foreach {
        c => assert(!digest.schema(c).nullable, c) }
      val got = digest.collect().map(r => r.getLong(0) ->
        r.toSeq.drop(1).map(_.asInstanceOf[Long])).toMap
      assert(got == scalaDigest(rows, b.toLong))
    }
    // Shard 0's bins hold no ids (one empty-doc bin, one with null
    // arrays): its row has zero id digests. Shard 1 mixes empty and full
    // bins; unk (0) and the separator (-1) keep nonzero terms; shard 2
    // skips a bin number.
    val hand: Seq[Bin] = Seq((0L, 0L, Seq(), 0L, 1L, Seq(0L)),
      (0L, 1L, null, 0L, 0L, null),
      (1L, 0L, Seq(5, -1, 0), 3L, 2L, Seq(0L, 2L)),
      (1L, 1L, Seq(), 0L, 1L, Seq(0L)), (1L, 2L, Seq(3), 1L, 1L, Seq(0L)),
      (2L, 3L, Seq(7, 9), 2L, 1L, Seq(0L)))
    check(hand, 4)
    // A real pack, at two budgets, multi-doc bins included.
    val df = docs((0L until 30L).map(i =>
      i -> (("alpha beta g" + (i % 5) + " ") * ((i % 4).toInt + 1)).trim): _*)
    val model = graft.functions.Bpe.bpeTrain(df, "text", numMerges = 8)
    Seq(16, 64).foreach { b =>
      val rows = graft.ops.TrainShuffle.packNoSplitIds(
          df, "doc_id", "text", model, numShards = 3, budget = b)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[Int](2).toSeq, r.getLong(3), r.getLong(4),
          r.getSeq[Long](5).toSeq)).toSeq
      assert(b < 64 || rows.exists(_._6.length > 1),
        "fixture must pack multi-doc bins")
      check(rows, b)
    }
    // An overflowing position fails loud, in the id terms and in the
    // starts terms alike (exact arithmetic, as ANSI SQL would).
    def overflows(rows: Seq[Bin]): Boolean = {
      val e = intercept[Exception] {
        graft.ops.TrainShuffle.packNoSplitDigest(
          rows.toDF("shard", "bin", "ids", "n_ids", "n_docs", "starts"), 4)
          .collect()
      }
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException])
    }
    assert(overflows(Seq((0L, Long.MaxValue / 2, Seq(1), 1L, 1L, Seq(0L)))))
    assert(overflows(Seq((0L, 0L, Seq(1), 1L, 1L, Seq(Long.MaxValue)))))
  }

  test("packSegments: slices match the packed id stream and reassemble each doc") {
    val rows = (0L until 40L).map(i =>
      i -> (("alpha beta g" + (i % 5) + " ") * ((i % 4).toInt + 1)).trim)
    val df = docs(rows: _*)
    val model = graft.functions.Bpe.bpeTrain(df, "text", numMerges = 8)
    val budget = 16
    val enc = graft.functions.Bpe.bpeEncodeIds(df, "doc_id", "text", model)
    val segs = graft.ops.TrainShuffle.packSegments(enc, "doc_id", "",
        numShards = 2, budget = budget, tokensCol = "n_tokens_bpe")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val packed = graft.ops.TrainShuffle.packIdSequences(
        df, "doc_id", "text", model, numShards = 2, budget = budget)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Int](2).toSeq).toMap
    val encMap = enc.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(segs.nonEmpty && segs.exists(_._5 < budget) &&
      segs.exists(_._5 == budget), "fixture must exercise partial AND " +
        "full-sequence segments")
    // 1. Every segment's slice of its sequence equals the same-length
    //    slice of its doc's id sequence at doc_off — the two artifacts
    //    describe the SAME stream.
    segs.foreach { case (shard, seq, doc, segStart, segLen, docOff) =>
      val seqIds = packed((shard, seq))
      assert(segStart + segLen <= seqIds.length,
        s"segment past sequence content: $shard/$seq doc $doc")
      val got = seqIds.slice(segStart.toInt, (segStart + segLen).toInt)
      val want = encMap(doc).slice(docOff.toInt, (docOff + segLen).toInt)
      assert(got == want, s"segment mismatch: shard $shard seq $seq doc $doc")
      assert(!got.contains(-1), "a segment may never cover a separator")
    }
    // 2. Per doc: segments are contiguous (doc_off prefix-sums seg_len)
    //    and their concatenation rebuilds the doc's FULL id sequence.
    segs.groupBy(_._3).foreach { case (doc, ss) =>
      val ordered = ss.sortBy(_._6)
      assert(ordered.scanLeft(0L)(_ + _._5).init.toSeq ==
        ordered.map(_._6).toSeq, s"doc $doc segments not contiguous")
      val cat = ordered.flatMap { case (sh, sq, _, st, ln, _) =>
        packed((sh, sq)).slice(st.toInt, (st + ln).toInt) }
      assert(cat.toSeq == encMap(doc), s"doc $doc does not reassemble")
    }
    assert(segs.groupBy(_._3).size == rows.length, "every doc has segments")
    // 3. Zero-count docs occupy no stream positions -> no segment row.
    val withZero = Seq((1L, "a", 2L), (2L, "b", 0L), (3L, "c", 5L))
      .toDF("doc_id", "text", "n")
    val z = graft.ops.TrainShuffle.packSegments(withZero, "doc_id", "",
        numShards = 1, budget = 4, tokensCol = "n")
      .collect().map(_.getLong(2)).toSet
    assert(z == Set(1L, 3L), s"zero-count doc must emit no segment: $z")
  }

  test("exportManifest: digest rows + the tokenizer identity a loader validates against") {
    val rows = (0L until 30L).map(i =>
      i -> (("alpha beta g" + (i % 5) + " ") * ((i % 3).toInt + 1)).trim)
    val df = docs(rows: _*)
    // BYTE alphabet on purpose: the manifest's whole point is that a
    // loader can detect pairing the files with the wrong tokenizer —
    // the identity columns must carry the MODEL's actual config.
    val model = graft.functions.Bpe.bpeTrain(df, "text", numMerges = 8,
      alphabet = graft.functions.Bpe.AlphabetByte)
    val got = graft.ops.TrainShuffle.exportManifest(
        df, "doc_id", "text", model, numShards = 2, budget = 16)
      .collect()
    val dig = graft.ops.TrainShuffle.packDigest(
        graft.ops.TrainShuffle.packIdSequences(df, "doc_id", "text", model,
          numShards = 2, budget = 16),
        budget = 16)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(got.length == dig.size, "one manifest row per shard")
    got.foreach { r =>
      assert(r.toSeq.take(5) == dig(r.getLong(0)).take(5),
        s"shard ${r.getLong(0)}: digest columns drifted from packDigest")
      assert(r.getLong(5) == 16L && r.getLong(6) == 2L,
        "budget/num_shards constants wrong")
      assert(r.getLong(7) == model.vocab.length.toLong, "vocab_size wrong")
      assert(r.getString(8) == "byte" && r.getString(9) == "words",
        "tokenizer identity columns must carry the model's own config")
    }
  }

  test("packReport: rollup replays the layout exactly; fill + straddle accounting") {
    val rows = (0L until 50L).map(i => i -> ("tok " * (i % 7 + 1).toInt).trim)
    val packed = graft.ops.TrainShuffle.seqPack(
      docs(rows: _*), "doc_id", "text", numShards = 4, budget = 10)
    val got = graft.ops.TrainShuffle.packReport(packed, budget = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5)))).toMap
    // Driver mirror from the layout frame itself.
    val lay = packed.as[(Long, Long, Long, Long, Long, Long)].collect()
    val want = lay.groupBy(_._2).view.mapValues { rs =>
      val nSeqs = rs.map(_._6).max + 1
      (rs.length.toLong, rs.map(_._3).sum, nSeqs,
        rs.count(r => r._6 > r._5).toLong,
        rs.map(_._3).sum.toDouble / (nSeqs * 10).toDouble)
    }.toMap
    assert(got == want, s"$got vs $want")
    assert(got.values.map(_._1).sum == 50L, "every doc counted once")
    assert(got.values.exists(_._4 > 0L), "straddling docs visible")
    // Fill is bounded by 1 and positive (separators+tail are the waste).
    got.values.foreach { case (_, _, _, _, f) =>
      assert(f > 0.0 && f <= 1.0, s"$got")
    }
    intercept[IllegalArgumentException] {
      graft.ops.TrainShuffle.packReport(packed, budget = 0)
    }
  }

  // -- chunkDedup ----------------------------------------------------------

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("chunkDedup drops corpus-repeated 8-token chunks and fingerprints the rest") {
    val boiler = "one two three four five six seven eight" // a shared chunk
    val rows = Seq[(Long, String)](
      0L -> s"$boiler alpha beta gamma delta epsilon zeta eta theta",
      1L -> s"$boiler iota kappa lambda mu nu xi omicron pi",
      2L -> "unique words only here nothing repeats at all",    // 1 unique chunk
      3L -> "short doc")                                        // 0 chunks
    val got = Dedup.chunkDedup(docs(rows: _*), "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got.map(g => (g._1, g._2, g._3)).toSeq ==
      Seq((0L, 2L, 1L), (1L, 2L, 1L), (2L, 1L, 0L), (3L, 0L, 0L)))
    // Doc 0 keeps only its second chunk; doc 3 fingerprints empty text.
    assert(got(0)._4 == md5Hex("alpha beta gamma delta epsilon zeta eta theta"))
    assert(got(2)._4 == md5Hex("unique words only here nothing repeats at all"))
    assert(got(3)._4 == md5Hex(""))
  }

  test("chunkDedup: a chunk repeated WITHIN one doc is dropped too") {
    val c = "a b c d e f g h"
    val got = Dedup.chunkDedup(docs(7L -> s"$c $c"), "doc_id", "text")
      .as[(Long, Long, Long, String)].collect()
    assert(got.toSeq == Seq((7L, 2L, 2L, md5Hex(""))))
  }

  test("chunkDedup property: equals brute force on random repetitive corpora") {
    import org.scalacheck.{Gen, Prop}
    val vocab = Vector("a", "b", "c", "d")
    val genDoc = for {
      len <- Gen.choose(0, 12)
      ws <- Gen.listOfN(len, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    val genCorpus = for {
      nd <- Gen.choose(1, 10)
      ds <- Gen.listOfN(nd, genDoc)
    } yield ds.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    def brute(rows: Seq[(Long, String)], c: Int): Seq[(Long, Long, Long, String)] = {
      val chunks = rows.map { case (id, t) =>
        val ws = TextFunctions.normalizeScala(t).split(' ')
        id -> (0 until ws.length / c).map(i =>
          ws.slice(i * c, (i + 1) * c).mkString(" "))
      }
      val cnt = chunks.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
      chunks.map { case (id, cs) =>
        val kept = cs.filter(cnt(_) <= 1)
        (id, cs.size.toLong, cs.count(cnt(_) > 1).toLong, md5Hex(kept.mkString(" ")))
      }
    }
    val prop = Prop.forAll(genCorpus) { rows =>
      val got = Dedup.chunkDedup(docs(rows: _*).repartition(3),
          "doc_id", "text", chunkTokens = 3)
        .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
      got == brute(rows, 3).sortBy(_._1)
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  // -- chunkDedupCdc -------------------------------------------------------

  /** Brute-force mirror of the CDC chunking pass: cut after anchor tokens
    * (28-bit md5 % divisor == 0), force-cut at maxTok, cut at doc end. */
  private def cdcChunksOf(t: String, divisor: Int, maxTok: Int): Seq[String] = {
    val norm = TextFunctions.normalizeScala(t)
    if (norm.isEmpty) Seq.empty
    else {
      val ws = norm.split(' ')
      def h28(s: String): Long = java.lang.Long.parseLong(md5Hex(s).take(7), 16)
      val out = Seq.newBuilder[String]
      var start = 0
      ws.indices.foreach { i =>
        if (h28(ws(i)) % divisor == 0 || i - start + 1 == maxTok ||
            i == ws.length - 1) {
          out += ws.slice(start, i + 1).mkString(" ")
          start = i + 1
        }
      }
      out.result()
    }
  }

  test("chunkDedupCdc catches a one-token-shifted duplicate that chunkDedup misses") {
    // Doc 1 is doc 0 with ONE token prepended — the boilerplate-offset
    // case. Fixed 8-token windows all misalign; content-defined anchors
    // ('corpus' and 'boundary' hash to % 8 == 0) re-synchronize at the
    // first anchor, so every later chunk is shared.
    val base = "the quick brown fox corpus jumps over the lazy dog boundary " +
      "near the river bank today data model corpus train token chunk " +
      "boundary alpha beta gamma delta epsilon zeta eta theta"
    val rows = Seq[(Long, String)](0L -> base, 1L -> s"zzz $base")
    // Fixture sanity: enough anchors that re-sync yields shared chunks.
    assert(cdcChunksOf(base, 8, 32).size >= 4)
    val fixed = Dedup.chunkDedup(docs(rows: _*), "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(fixed.forall(_._3 == 0L),
      s"fixed windows must MISS the shifted duplicate: ${fixed.toSeq}")
    val cdc = Dedup.chunkDedupCdc(docs(rows: _*), "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(cdc.forall(_._3 >= 3L),
      s"CDC chunks must catch the shifted duplicate: ${cdc.toSeq}")
    // And it matches the brute mirror exactly.
    val sharedBrute = {
      val ch = rows.map { case (id, t) => id -> cdcChunksOf(t, 8, 32) }
      val cnt = ch.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
      ch.map { case (id, cs) =>
        (id, cs.size.toLong, cs.count(cnt(_) > 1).toLong,
          md5Hex(cs.filter(cnt(_) <= 1).mkString(" ")))
      }
    }
    assert(cdc.toSeq == sharedBrute.sortBy(_._1))
  }

  test("chunkDedupCdc property: equals brute force on random repetitive corpora") {
    import org.scalacheck.{Gen, Prop}
    val vocab = Vector("a", "b", "c", "d")
    val genDoc = for {
      len <- Gen.choose(0, 12)
      ws <- Gen.listOfN(len, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    val genCorpus = for {
      nd <- Gen.choose(1, 10)
      ds <- Gen.listOfN(nd, genDoc)
    } yield ds.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    def brute(rows: Seq[(Long, String)], divisor: Int, maxTok: Int) = {
      val chunks = rows.map { case (id, t) =>
        id -> cdcChunksOf(t, divisor, maxTok)
      }
      val cnt = chunks.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
      chunks.map { case (id, cs) =>
        val kept = cs.filter(cnt(_) <= 1)
        (id, cs.size.toLong, cs.count(cnt(_) > 1).toLong, md5Hex(kept.mkString(" ")))
      }
    }
    // divisor 2 fires anchors often, maxChunkTokens 3 exercises force-cuts.
    val prop = Prop.forAll(genCorpus) { rows =>
      val got = Dedup.chunkDedupCdc(docs(rows: _*).repartition(3),
          "doc_id", "text", divisor = 2, maxChunkTokens = 3)
        .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
      got == brute(rows, 2, 3).sortBy(_._1)
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("chunkDedupIndexed equals chunkDedupCdc over the union, restricted to the batch") {
    import org.scalacheck.{Gen, Prop}
    val vocab = Vector("a", "b", "c", "d", "corpus")
    val genDoc = for {
      len <- Gen.choose(0, 12)
      ws <- Gen.listOfN(len, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    val genCorpus = for {
      nd <- Gen.choose(2, 10)
      ds <- Gen.listOfN(nd, genDoc)
    } yield ds.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val prop = Prop.forAll(genCorpus) { rows =>
      val all = docs(rows: _*)
      val batch = all.filter($"doc_id" % 2 === 0)
      val corpus = all.filter($"doc_id" % 2 === 1)
      val idx = Dedup.chunkIndex(corpus, "doc_id", "text",
        divisor = 2, maxChunkTokens = 3)
      val got = Dedup.chunkDedupIndexed(batch, idx, "doc_id", "text",
          divisor = 2, maxChunkTokens = 3)
        .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
      // The contract: screening the batch against the stored counts is
      // the union-corpus dedup restricted to the batch docs.
      val want = Dedup.chunkDedupCdc(all, "doc_id", "text",
          divisor = 2, maxChunkTokens = 3)
        .filter($"doc_id" % 2 === 0)
        .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
      got == want
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
    graft.GraftCaches.clearAll()
  }

  test("chunkDedupIndexed refuses a batch over the broadcast chunk bound") {
    val batch = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "lambda mu nu xi omicron pi rho sigma tau upsilon")
    val idx = Dedup.chunkIndex(docs(9L -> "stored corpus content here"),
      "doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.chunkDedupIndexed(batch, idx, "doc_id", "text",
        maxBatchChunks = 1L)
    }
    assert(e.getMessage.contains("broadcast screen contract"))
    // Same batch under the default bound screens fine.
    assert(Dedup.chunkDedupIndexed(batch, idx, "doc_id", "text").count() == 2)
    graft.GraftCaches.clearAll()
  }

  test("chunkIndexAppend is idempotent by epoch and epochs merge by summed counts") {
    val dir = java.nio.file.Files.createTempDirectory("chidx-spec-")
      .toString + "/index"
    val boiler = "all rights reserved corpus contact us for terms boundary"
    val b1 = docs(1L -> s"$boiler alpha beta gamma",
      3L -> "completely unrelated text here")
    val b2 = docs(5L -> s"$boiler delta epsilon zeta")
    assert(Dedup.chunkIndexAppend(b1, "doc_id", "text", dir, "epoch-1") > 0)
    // Retry of the same epoch: no-op, counts unchanged — and the return
    // distinguishes the skip (-1) from a real empty-batch write (0).
    assert(Dedup.chunkIndexAppend(b1, "doc_id", "text", dir, "epoch-1") == -1L)
    val after1 = Dedup.chunkIndexRead(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("df_cnt")).collect()(0).getLong(0)
    assert(Dedup.chunkIndexAppend(b2, "doc_id", "text", dir, "epoch-2") > 0)
    val merged = Dedup.chunkIndexRead(spark, dir)
    // The boilerplate chunks appear in both epochs: merged count = 2.
    assert(merged.filter($"df_cnt" === 2).count() >= 1,
      "cross-epoch shared chunks must sum")
    assert(merged.agg(org.apache.spark.sql.functions.sum("df_cnt"))
      .collect()(0).getLong(0) > after1)
    // A batch-3 doc repeating the boilerplate screens as duplicate-bearing
    // against the MERGED index.
    val screened = Dedup.chunkDedupIndexed(
        docs(7L -> s"$boiler something novel entirely"), merged,
        "doc_id", "text")
      .as[(Long, Long, Long, String)].collect()
    assert(screened.head._3 >= 1L,
      s"merged index must flag the boilerplate: ${screened.toSeq}")
    // Crash repair: an epoch directory WITHOUT the _SUCCESS marker is
    // partial-write debris, not idempotence evidence — the retry must
    // redo (and thereby complete) the write instead of dropping the
    // batch's counts.
    val debrisDir = new java.io.File(dir, "batch_id=epoch-x")
    debrisDir.mkdirs()
    java.nio.file.Files.writeString(
      debrisDir.toPath.resolve("part-junk.parquet"), "partial")
    assert(Dedup.chunkIndexAppend(
      docs(11L -> "crash recovery epoch content"), "doc_id", "text",
      dir, "epoch-x") > 0, "debris without marker must be repaired")
    assert(new java.io.File(debrisDir, "_SUCCESS").exists())
    assert(Dedup.chunkIndexAppend(
      docs(11L -> "crash recovery epoch content"), "doc_id", "text",
      dir, "epoch-x") == -1L, "completed epoch must no-op as -1")
    // A zero-chunk batch still records its epoch (legal empty batch):
    // returns 0 (new empty epoch), NOT -1 (already-committed skip).
    assert(Dedup.chunkIndexAppend(docs(12L -> "   "), "doc_id", "text",
      dir, "epoch-empty") == 0L)
    assert(Dedup.chunkIndexAppend(docs(12L -> "   "), "doc_id", "text",
      dir, "epoch-empty") == -1L, "empty-epoch retry must skip as -1")
    assert(new java.io.File(dir, "batch_id=epoch-empty/_SUCCESS").exists())
    assert(Dedup.chunkIndexRead(spark, dir).count() > 0)
    // Compaction: the single-epoch copy reads back with identical totals
    // and keeps accepting epochs.
    val cdir = dir + "-compacted"
    // Nested destinations are rejected in both directions: a dest under
    // the source would plant a stray directory inside the epoch tree.
    val eNest = intercept[IllegalArgumentException](
      Dedup.chunkIndexCompact(spark, dir, dir + "/sub/compacted"))
    assert(eNest.getMessage.contains("must not nest"), eNest.getMessage)
    val eNest2 = intercept[IllegalArgumentException](
      Dedup.chunkIndexCompact(spark, dir + "/batch_id=epoch-1", dir))
    assert(eNest2.getMessage.contains("must not nest"), eNest2.getMessage)
    assert(Dedup.chunkIndexCompact(spark, dir, cdir) > 0)
    // chunkIndexRead snapshots its committed-epoch listing at CALL time,
    // so compare against a listing taken now (`merged` predates the
    // crash-repair and empty epochs above).
    val origTotals = Dedup.chunkIndexRead(spark, dir)
      .as[(String, Long)].collect().toMap
    val compTotals = Dedup.chunkIndexRead(spark, cdir)
      .as[(String, Long)].collect().toMap
    assert(compTotals == origTotals, "compaction changed totals")
    assert(Dedup.chunkIndexAppend(
      docs(9L -> "post compaction epoch content"), "doc_id", "text",
      cdir, "epoch-3") > 0)
    graft.GraftCaches.clearAll()
  }

  // -- lmScore -------------------------------------------------------------

  test("lmScore matches exact-integer brute force") {
    val rows = Seq[(Long, String)](
      0L -> "the cat sat on the mat",
      1L -> "the cat ran",
      2L -> "dog",
      3L -> "")
    // Brute-force micro-unit bigram model over the whole corpus.
    val bigrams = rows.flatMap { case (_, t) =>
      val ws = TextFunctions.normalizeScala(t).split(' ')
      (1 until ws.length).map(i => (ws(i - 1), ws(i)))
    }
    val c2 = bigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = bigrams.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    def score(t: String): (Long, Long) = {
      val ws = TextFunctions.normalizeScala(t).split(' ')
      val bs = (1 until ws.length).map(i => (ws(i - 1), ws(i)))
      (bs.size.toLong, bs.map(b => 1000000L * c2(b) / c1(b._1)).sum)
    }
    val want = rows.map { case (id, t) => (id, score(t)._1, score(t)._2) }
    val got = Dedup.lmScore(docs(rows: _*), "doc_id", "text")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == want)
    // "the cat" occurs twice with c1("the")=3; "cat ran" once with
    // c1("cat")=2: spot-check doc 1.
    assert(got(1)._3 == 1000000L * 2 / 3 + 1000000L * 1 / 2)
  }

  test("lmScore property: equals exact-integer brute force on random corpora") {
    import org.scalacheck.{Gen, Prop}
    val vocab = Vector("a", "b", "c", "d", "e")
    val genDoc = for {
      len <- Gen.choose(0, 10)
      ws <- Gen.listOfN(len, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    val genCorpus = for {
      nd <- Gen.choose(1, 8)
      ds <- Gen.listOfN(nd, genDoc)
    } yield ds.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    def brute(rows: Seq[(Long, String)]): Seq[(Long, Long, Long)] = {
      def bigrams(t: String) = {
        val ws = TextFunctions.normalizeScala(t).split(' ')
        (1 until ws.length).map(i => (ws(i - 1), ws(i)))
      }
      val all = rows.flatMap { case (_, t) => bigrams(t) }
      val c2 = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val c1 = all.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      rows.map { case (id, t) =>
        val bs = bigrams(t)
        (id, bs.size.toLong, bs.map(b => 1000000L * c2(b) / c1(b._1)).sum)
      }
    }
    val prop = Prop.forAll(genCorpus) { rows =>
      val got = Dedup.lmScore(docs(rows: _*).repartition(3), "doc_id", "text")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      got == brute(rows).sortBy(_._1)
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  // -- semanticDedup -------------------------------------------------------

  test("semanticDedup property: matches the brute-force screen on random vectors") {
    import org.scalacheck.{Gen, Prop}
    val genVecs = for {
      n <- Gen.choose(4, 16)
      seeds <- Gen.listOfN(n, Gen.choose(1, 1000))
    } yield seeds.zipWithIndex.map { case (s, i) =>
      (i.toLong, Array.tabulate(6)(d => math.sin(s * 7 + d).toFloat))
    }
    val prop = Prop.forAll(genVecs) { vecs =>
      val df = vecs.toDF("vec_id", "embedding")
      val got = IVF.semanticDedup(df, nlist = 2, threshold = 0.6)
        .as[(Long, Long, Boolean)].collect().sortBy(_._1)
      val cents = IVF.trainCentroids(df, nlist = 2)
      val cells = vecs.map { case (id, v) =>
        id -> IVF.nearest(v.map(_.toDouble), cents)
      }.toMap
      def cos(a: Array[Float], b: Array[Float]): Double = {
        val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
        val d = ad.zip(bd).map(p => p._1 * p._2).sum
        BigDecimal(d / (math.sqrt(ad.map(x => x * x).sum) *
          math.sqrt(bd.map(x => x * x).sum)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      val byId = vecs.toMap
      val wantKept = vecs.map(_._1).filter { v =>
        !vecs.map(_._1).exists(u => u < v && cells(u) == cells(v) &&
          cos(byId(u), byId(v)) >= 0.6)
      }.toSet
      got.filter(_._3).map(_._1).toSet == wantKept &&
        got.forall { case (id, cell, _) => cell == cells(id).toLong }
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("ivfTopKIndexed matches ivfTopK exactly through a parquet round trip") {
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 3 + d).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 3)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select($"query_id", $"cand_id", $"cos", $"rank".cast("long"))
        .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    val live = rows(IVF.ivfTopK(queries, df, k = 5, nlist = 4, nprobe = 2))
    assert(live.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx-").toString + "/ivf"
    IVF.buildIvfIndex(df, nlist = 4).write(dir)
    val idx = IVF.IvfIndex.read(spark, dir)
    val got = rows(IVF.ivfTopKIndexed(queries, idx, k = 5, nprobe = 2))
    // The stored quantizer IS the live path's: every (query, cand, score,
    // rank) cell must agree bit-for-bit after the round trip.
    assert(got == live)
    graft.GraftCaches.clearAll()
  }

  test("pqTopKIndexed and ivfpqTopKIndexed match their live paths via parquet") {
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 3 + d).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 3)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select($"query_id", $"cand_id", $"score", $"rank".cast("long"))
        .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    val cb = PQ.trainCodebooks(df, dim = 8, m = 2, k = 4)
    val cents = IVF.trainCentroids(df, 4)
    val livePq = rows(PQ.pqTopK(queries, df, cb, k = 5))
    val liveIvfPq = rows(PQ.ivfpqTopK(queries, df, cents, cb, k = 5, nprobe = 2))
    assert(livePq.nonEmpty && liveIvfPq.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("pqidx-").toString + "/pq"
    PQ.buildPqIndex(df, dim = 8, m = 2, k = 4, nlist = 4).write(dir)
    val idx = PQ.PqIndex.read(spark, dir)
    assert(rows(PQ.pqTopKIndexed(queries, idx, k = 5)) == livePq)
    assert(rows(PQ.ivfpqTopKIndexed(queries, idx, k = 5, nprobe = 2)) == liveIvfPq)
    graft.GraftCaches.clearAll()
  }

  test("IVF/PQ indexAppend: idempotent, and appended vectors are retrievable") {
    val vecs = (0 until 30).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 3 + d).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    // Batch 30..34 repeats vectors 0..4 under new ids (re-crawled content).
    val batch = (30 until 35).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin((i - 30) * 3 + d).toFloat)))
    val bdf = batch.toDF("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("vecidx-").toString
    IVF.buildIvfIndex(df, nlist = 4).write(base + "/ivf")
    assert(IVF.indexAppend(bdf, base + "/ivf") == 5)
    assert(IVF.indexAppend(bdf, base + "/ivf") == 0, "retry must no-op")
    val idx = IVF.IvfIndex.read(spark, base + "/ivf")
    assert(idx.vectors.count() == 35)
    // A query equal to vector 0 retrieves BOTH the original and the
    // appended copy at cos 1.0 — the appended rows are live immediately.
    val q = Seq((100L, vecs(0)._2)).toDF("vec_id", "embedding")
    val hits = IVF.ivfTopKIndexed(q, idx, k = 5, nprobe = 2)
      .filter($"cos" === 1.0).select("cand_id").as[Long].collect().toSet
    assert(hits.contains(0L) && hits.contains(30L), s"hits: $hits")
    // PQ: same contract over stored codes.
    PQ.buildPqIndex(df, dim = 8, m = 2, k = 4, nlist = 4).write(base + "/pq")
    assert(PQ.indexAppend(bdf, base + "/pq") == 5)
    assert(PQ.indexAppend(bdf, base + "/pq") == 0, "retry must no-op")
    val pidx = PQ.PqIndex.read(spark, base + "/pq")
    assert(pidx.codes.count() == 35)
    val phits = PQ.pqTopKIndexed(q, pidx, k = 5)
      .orderBy($"rank").select("cand_id").as[Long].collect().take(4).toSet
    assert(phits.contains(30L) || phits.contains(0L), s"pq hits: $phits")
    // A batch whose embedding dim differs from the stored quantizer must
    // fail LOUD, not silently prefix-assign (shorter) or throw an opaque
    // out-of-bounds (longer) — both index families, both directions.
    val short4 = Seq((40L, Array.tabulate(4)(_.toFloat)))
      .toDF("vec_id", "embedding")
    val long12 = Seq((41L, Array.tabulate(12)(_.toFloat)))
      .toDF("vec_id", "embedding")
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null) c = c.getCause
      String.valueOf(c.getMessage)
    }
    for (bad <- Seq(short4, long12)) {
      val eIvf = intercept[Exception](IVF.indexAppend(bad, base + "/ivf"))
      assert(rootMsg(eIvf).contains("does not match"), rootMsg(eIvf))
      val ePq = intercept[Exception](PQ.indexAppend(bad, base + "/pq"))
      assert(rootMsg(ePq).contains("does not match"), rootMsg(ePq))
    }
    // Compaction: the append-grown vectors/codes fold into one
    // cell-clustered file each; screens are bit-identical over the copy,
    // and by-vec-id append idempotence survives it.
    def parquetFiles(d: String): Int =
      new java.io.File(d).listFiles((_, n) => n.endsWith(".parquet")).length
    assert(parquetFiles(base + "/ivf/vectors") >= 2,
      "append must have grown the file count")
    assert(IVF.indexCompact(spark, base + "/ivf", base + "/ivf2") == 35)
    assert(parquetFiles(base + "/ivf2/vectors") == 1)
    val cIdx = IVF.IvfIndex.read(spark, base + "/ivf2")
    def hitRows(d: org.apache.spark.sql.DataFrame) =
      d.select($"cand_id", $"cos", $"rank".cast("long"))
        .as[(Long, Double, Long)].collect().sortBy(_._3).toSeq
    assert(hitRows(IVF.ivfTopKIndexed(q, cIdx, k = 5, nprobe = 2)) ==
      hitRows(IVF.ivfTopKIndexed(q, idx, k = 5, nprobe = 2)))
    assert(IVF.indexAppend(bdf, base + "/ivf2") == 0,
      "compacted vec_ids must still no-op")
    assert(intercept[IllegalArgumentException](
      IVF.indexCompact(spark, base + "/ivf", base + "/ivf/sub"))
      .getMessage.contains("must not nest"))
    assert(PQ.indexCompact(spark, base + "/pq", base + "/pq2") == 35)
    assert(parquetFiles(base + "/pq2/codes") == 1)
    val cPidx = PQ.PqIndex.read(spark, base + "/pq2")
    def pqRows(d: org.apache.spark.sql.DataFrame) =
      d.select($"cand_id", $"score", $"rank".cast("long"))
        .as[(Long, Double, Long)].collect().sortBy(_._3).toSeq
    assert(pqRows(PQ.pqTopKIndexed(q, cPidx, k = 5)) ==
      pqRows(PQ.pqTopKIndexed(q, pidx, k = 5)))
    assert(PQ.indexAppend(bdf, base + "/pq2") == 0)
    graft.GraftCaches.clearAll()
  }

  test("lloydDistributed agrees with driver Lloyd trained on the same full corpus") {
    // Well-separated clusters: assignments are stable under both paths,
    // so with the shared strided init the only divergence is
    // floating-point summation order in the mean updates — centroids
    // must agree to ~1e-9 per coordinate.
    val vecs = (0 until 60).map { i =>
      val c = i % 3
      (i.toLong, Array.tabulate(4)(d =>
        10f * c + (if (d == c) 1f else 0f) + 0.01f * ((i * 7 + d) % 5)))
    }
    val df = vecs.toDF("vec_id", "embedding").repartition(5)
    // sampleN = 60 = the whole corpus, in the same MD5-of-id order the
    // distributed init samples — identical starting centroids.
    val driver = IVF.lloyd(IVF.sampleVectors(df, 60), 3, 10)
    val dist = IVF.lloydDistributed(df, 3, 10)
    assert(dist.length == 3)
    driver.zip(dist).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-9, s"centroid drift: $x vs $y")
      }
    }
  }

  test("trainCentroids routes past DriverTrainCap to the executor-side path") {
    val n = IVF.DriverTrainCap + 80
    val k = IVF.DriverTrainCap + 6
    val vecs = (0 until n).map(i =>
      (i.toLong, Array.tabulate(4)(d => math.sin(i * 11 + d * 3).toFloat)))
    val cents = IVF.trainCentroids(vecs.toDF("vec_id", "embedding"), k, iters = 2)
    assert(cents.length == k)
    assert(cents.forall(_.forall(v => !v.isNaN && !v.isInfinite)))
  }

  test("lloydDistributed clustering QUALITY matches the driver path at equal nlist") {
    // Cost/memory are probed in ScaleStress; this pins the QUALITY — a
    // silent assignment bug in the executor-side path would pass the
    // oracles (which pin the driver path) and the routing spec, but not
    // a within-cluster-variance and screen-recall comparison at equal
    // nlist. Seeded, fully deterministic corpus: 64 true clusters,
    // small jitter.
    val k = 64
    val corpus: Seq[(Long, Array[Double])] = (0 until 2000).map { i =>
      val c = i % k
      (i.toLong, Array.tabulate(8)(d =>
        5.0 * math.sin(c * 13 + d * 7) + 0.05 * math.sin(i * 31 + d)))
    }
    val df = corpus.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding").repartition(7)
    val driver = IVF.trainCentroids(df, k, iters = 10) // nlist <= cap
    val dist = IVF.lloydDistributed(df, k, iters = 10)

    def l2sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var d = 0
      while (d < a.length) { val x = a(d) - b(d); s += x * x; d += 1 }
      s
    }
    def cost(cs: Array[Array[Double]]): Double =
      corpus.map { case (_, v) => l2sq(v, cs(IVF.nearest(v, cs))) }.sum /
        corpus.length
    val (cDrv, cDist) = (cost(driver), cost(dist))
    // The distributed path assigns the FULL corpus each iteration; it
    // must be at least as good as the sample-trained driver path up to
    // a small tolerance (and vice versa — both see ~everything here).
    assert(cDist <= cDrv * 1.1 + 1e-9, s"distributed cost $cDist vs driver $cDrv")
    assert(cDrv <= cDist * 1.1 + 1e-9, s"driver cost $cDrv vs distributed $cDist")

    // Screen recall through the IVF shape (assign 1 cell, probe 24):
    // both quantizers must retrieve the brute-force cosine top-10.
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var d = 0
      while (d < a.length) {
        dp += a(d) * b(d); na += a(d) * a(d); nb += b(d) * b(d); d += 1
      }
      dp / math.sqrt(na * nb)
    }
    val queries = (0 until 10).map { q =>
      corpus(q * 97)._2.map(_ + 0.01 * math.sin(q))
    }
    def recall(cs: Array[Array[Double]]): Double = {
      val cells = corpus.map { case (id, v) => id -> IVF.nearest(v, cs) }.toMap
      queries.map { qv =>
        val probed = IVF.nearestK(qv, cs, 24).toSet
        def top10(cand: Seq[(Long, Array[Double])]) =
          cand.map { case (id, v) => (id, cos(qv, v)) }
            .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
        val got = top10(corpus.filter { case (id, _) => probed(cells(id)) })
        (got & top10(corpus)).size / 10.0
      }.sum / queries.size
    }
    val (rDrv, rDist) = (recall(driver), recall(dist))
    assert(rDrv >= 0.9, s"driver recall $rDrv")
    assert(rDist >= 0.9, s"distributed recall $rDist")
    assert(math.abs(rDrv - rDist) <= 0.1,
      s"recall parity: driver $rDrv vs distributed $rDist")
  }

  test("lloydDistributed sparse accumulator matches dense within FP merge order") {
    // Forcing the sparse path (sparseCells = 1) must change only the
    // accumulation LAYOUT: same per-partition partial sums, merge order
    // differs (big-absorbs-small), so centroids agree to FP tolerance.
    val vecs = (0 until 60).map { i =>
      val c = i % 3
      (i.toLong, Array.tabulate(4)(d =>
        10f * c + (if (d == c) 1f else 0f) + 0.01f * ((i * 7 + d) % 5)))
    }
    val df = vecs.toDF("vec_id", "embedding").repartition(5)
    val dense = IVF.lloydDistributed(df, 3, 5)
    val sparse = IVF.lloydDistributed(df, 3, 5, sparseCells = 1L)
    dense.zip(sparse).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-6, s"sparse/dense drift: $x vs $y")
      }
    }
  }

  test("semanticDedup keeps the lowest id per in-cell near-dup neighborhood") {
    val base = Array.tabulate(8)(d => math.sin(d + 1).toFloat)
    def scaled(f: Float) = base.map(_ * f) // same direction => cos = 1
    val ortho = Array.tabulate(8)(d => if (d == 0) 1f else 0f)
    val vecs = Seq[(Long, Array[Float])](
      10L -> scaled(1f), 11L -> scaled(2f), 12L -> scaled(0.5f), // one group
      20L -> ortho,                                              // unrelated
      21L -> ortho.map(- _),                                     // cos = -1
      30L -> Array.tabulate(8)(d => math.cos(3 * d + 2).toFloat),
      31L -> Array.tabulate(8)(d => math.sin(5 * d + 1).toFloat),
      32L -> Array.tabulate(8)(d => math.cos(7 * d + 5).toFloat))
    val df = vecs.toDF("vec_id", "embedding")
    val got = IVF.semanticDedup(df, nlist = 2, threshold = 0.9)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got.length == 8)
    val kept = got.filter(_._3).map(_._1).toSet
    // The scaled family collapses to its lowest id regardless of cell
    // geometry (identical vectors always share a cell).
    assert(kept.contains(10L) && !kept.contains(11L) && !kept.contains(12L))
    // Brute-force mirror using the same deterministic centroids.
    val cents = IVF.trainCentroids(df, nlist = 2)
    val cells = vecs.map { case (id, v) =>
      id -> IVF.nearest(v.map(_.toDouble), cents)
    }.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val d = ad.zip(bd).map(p => p._1 * p._2).sum
      BigDecimal(d / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byId = vecs.toMap
    val wantKept = vecs.map(_._1).filter { v =>
      !vecs.map(_._1).exists(u => u < v && cells(u) == cells(v) &&
        cos(byId(u), byId(v)) >= 0.9)
    }.toSet
    assert(kept == wantKept)
  }

  test("decontaminate refuses an eval slice over the broadcast gram bound") {
    // The requireSmallQuerySide-style failure mode: an eval slice whose
    // distinct grams exceed maxEvalGrams must raise BEFORE any broadcast,
    // not OOM executors mid-plan. Tiny bound so the fixture trips it.
    val rows = (0L until 6L).map(i =>
      i -> s"unique words number $i alpha$i beta$i gamma$i delta$i epsilon$i")
    val e = intercept[IllegalArgumentException] {
      Dedup.decontaminate(docs(rows: _*), "doc_id", "text",
        evalModulus = 2L, maxEvalGrams = 3L)
    }
    assert(e.getMessage.contains("broadcast contract"))
    // Same frame under the default bound still works.
    val ok = Dedup.decontaminate(docs(rows: _*), "doc_id", "text", evalModulus = 2L)
    assert(ok.count() == 3) // the odd ids
  }

  test("GraftCaches: operator persists register and clearAll unpersists them") {
    graft.GraftCaches.clearAll()
    spark.sharedState.cacheManager.clearCache()
    val rows = Seq[(Long, String)](
      0L -> "alpha beta gamma delta epsilon zeta eta theta",
      1L -> "alpha beta gamma delta epsilon zeta eta iota")
    // lmScore persists its bigram frame internally; force materialization.
    Dedup.lmScore(docs(rows: _*), "doc_id", "text").count()
    assert(graft.GraftCaches.registered > 0)
    assert(!spark.sharedState.cacheManager.isEmpty)
    graft.GraftCaches.clearAll()
    assert(graft.GraftCaches.registered == 0)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("indexAppend is idempotent and the appended rows screen later batches") {
    val idxDir = java.nio.file.Files.createTempDirectory("ndidx-spec-")
      .toString + "/index"
    val batch1 = docs(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank",
      2L -> "completely different text on alarm processing and overrides")
    // Bootstrap (directory created by the operator), then the idempotence
    // contract: re-appending the same batch appends NOTHING — the
    // at-least-once retry of a crashed ingestion loop cannot double-index.
    assert(Dedup.indexAppend(batch1, "doc_id", "text", idxDir) == 2)
    assert(Dedup.indexAppend(batch1, "doc_id", "text", idxDir) == 0)
    val afterRetry = spark.read.parquet(idxDir)
    assert(afterRetry.count() == 2, "retry double-indexed")
    assert(afterRetry.select("doc").as[Long].collect().toSet == Set(1L, 2L))

    // Batch 2 brings a novel doc; only it is appended (doc 1 re-offered).
    val batch2 = docs(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank",
      5L -> "an entirely novel report about the weather and the harvest this year")
    assert(Dedup.indexAppend(batch2, "doc_id", "text", idxDir) == 1)

    // A later screen catches a near-dup of the batch-2 doc PURELY through
    // the appended rows (doc 7 ~ doc 5), while novel doc 8 passes.
    val batch3 = docs(
      7L -> "an entirely novel report about the weather and the harvest this season",
      8L -> "yet another unrelated document with its own vocabulary entirely")
    val kept = Dedup.ingestDedupIndexed(
        batch3, spark.read.parquet(idxDir), "doc_id", "text", threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(8L), s"appended rows must reject doc 7: $kept")
    graft.GraftCaches.clearAll()
  }

  test("indexAppend bootstraps over first-append crash debris") {
    // A crash mid-write of the very FIRST append leaves the index
    // directory existing with only _temporary debris (no committed
    // parquet files). The retry must treat that as bootstrap — routing
    // it to a read would fail "unable to infer schema" on every retry
    // and wedge the at-least-once loop.
    val idxDir = java.nio.file.Files.createTempDirectory("ndidx-debris-")
      .toString + "/index"
    val debris = new java.io.File(idxDir, "_temporary/0")
    debris.mkdirs()
    java.nio.file.Files.writeString(
      debris.toPath.resolve("task-junk"), "partial write")
    val batch = docs(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank",
      2L -> "completely different text on alarm processing and overrides")
    assert(Dedup.indexAppend(batch, "doc_id", "text", idxDir) == 2,
      "debris-only directory must bootstrap")
    assert(spark.read.parquet(idxDir).count() == 2)
    // And the normal idempotence contract holds from there.
    assert(Dedup.indexAppend(batch, "doc_id", "text", idxDir) == 0)
    assert(spark.read.parquet(idxDir).count() == 2)
    graft.GraftCaches.clearAll()
  }

  test("GraftCaches.scoped confines registration and reclaims only its own frames") {
    graft.GraftCaches.clearAll()
    spark.sharedState.cacheManager.clearCache()
    val rows = Seq[(Long, String)](
      0L -> "alpha beta gamma delta epsilon zeta eta theta",
      1L -> "alpha beta gamma delta epsilon zeta eta iota")
    // An OUTER (global) frame that must survive a scope's cleanup.
    Dedup.lmScore(docs(rows: _*), "doc_id", "text").count()
    val outerRegistered = graft.GraftCaches.registered
    assert(outerRegistered > 0)
    graft.GraftCaches.scoped {
      // Frames persisted here register in the SCOPE, not globally. The
      // input rows DIFFER from the outer ones on purpose: an identical
      // LocalRelation would share the outer frame's CacheManager entry
      // and the scope's unpersist would evict the outer cache with it.
      Dedup.lmScore(docs(2L -> "kappa lambda mu nu xi omicron pi rho"),
        "doc_id", "text").count()
      assert(graft.GraftCaches.registered == outerRegistered,
        "scoped persists leaked into the global registry")
    }
    // Scope exit reclaimed its frames; the outer frame's cache remains.
    assert(graft.GraftCaches.registered == outerRegistered)
    assert(!spark.sharedState.cacheManager.isEmpty,
      "scope cleanup must not touch frames it does not own")
    graft.GraftCaches.clearAll()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  // -- gopherStats ---------------------------------------------------------

  test("gopherStats: rule signals on planted structure; a clean long doc passes") {
    val clean = (1 to 60).map(i => Seq("the", "river", "of", "ancient",
      "stories")(i % 5)).mkString(" ") // 60 tokens, stopwords present
    val rows = docs(
      1L -> clean,
      2L -> "- bullet one\n- bullet two\n* bullet three\nplain line",
      3L -> "wait... for it... ###",
      4L -> "1 2 3 4 5 6 7 8 9 0")
    val got = TextFunctions.gopherStats(rows, "doc_id", "text")
      .collect().map(s => s.doc_id -> s).toMap
    assert(got(1L).passes,
      s"clean 60-token stopworded doc must pass: ${got(1L)}")
    assert(got(1L).n_tokens == 60 && got(1L).alpha_frac == 1.0)
    // Doc 2: 4 lines, 3 bullets -> 0.75; fails on length, not bullets.
    assert(got(2L).bullet_frac == 0.75 && !got(2L).passes)
    // Doc 3: two ellipsis runs + three hashes over 4 tokens
    // ("wait...", "for", "it...", "###") = 1.25; the '...' directly
    // attached to words still counts by occurrence.
    assert(got(3L).symbol_ratio == 1.25 && !got(3L).passes)
    assert(got(3L).ellipsis_frac == 0.0,
      "line does not END with ... so the line rule must not fire")
    // Doc 4: all-digit tokens -> alpha fraction 0.
    assert(got(4L).alpha_frac == 0.0 && got(4L).n_stop_hits == 0)
  }

  // -- sourceCap -----------------------------------------------------------

  test("sourceCap: lowest-id docs kept per source; under-cap sources keep all") {
    val rows = ((1L to 7L).map(i => (i, "big")) ++
      (10L to 11L).map(i => (i, "small")))
      .toDF("doc_id", "src")
    val byId = graft.ops.CorpusMix.sourceCap(rows, "doc_id", "src", 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(byId.size == 9, "one row per input doc")
    assert((1L to 3L).forall(byId(_)), "cap keeps the 3 lowest ids")
    assert((4L to 7L).forall(!byId(_)), "over-cap docs flagged out")
    assert(byId(10L) && byId(11L), "under-cap source keeps everything")
  }

  test("sourceCap property: equals an in-driver oracle on random corpora") {
    import org.scalacheck.{Gen, Prop}
    // The operator's distributed composition (bounded heap -> exact
    // window -> join-back) vs the obvious driver-side mirror: per key,
    // sort ids ascending, keep the first n. Random key skew exercises
    // the heap's per-partition superset argument.
    val genCase = for {
      nd <- Gen.choose(1, 30)
      keys <- Gen.listOfN(nd, Gen.oneOf("a", "b", "c"))
      n <- Gen.choose(1, 5)
      // Non-contiguous, possibly interleaved ids.
      ids <- Gen.pick(nd, (0 until 100).toList)
    } yield (ids.toSeq.map(_.toLong).zip(keys), n)
    val prop = Prop.forAll(genCase) { case (rows, n) =>
      val kept = rows.groupBy(_._2).flatMap { case (_, rs) =>
        rs.map(_._1).sorted.take(n)
      }.toSet
      val got = graft.ops.CorpusMix.sourceCap(
          rows.toDF("doc_id", "src").repartition(4), "doc_id", "src", n)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
      got.length == rows.size &&
        got.forall { case (id, _, k) => k == kept(id) }
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("sourceCap byHash: md5-rank keepers, uncorrelated with id order") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val rows = ((1L to 20L).map(i => (i, "big")) ++
      (30L to 31L).map(i => (i, "small")))
    val got = graft.ops.CorpusMix.sourceCap(
        rows.toDF("doc_id", "src").repartition(4), "doc_id", "src", 5,
        keepBy = "byHash")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(got.length == rows.size, "one row per input doc")
    // Driver-side mirror of the md5RankTake draw: per key, sort by
    // (md5(id), id), keep the first n — the same ASCII-hex order the
    // Spark side ranks by.
    val want = rows.groupBy(_._2).flatMap { case (_, rs) =>
      rs.map(_._1).sortBy(id => (md5hex(id.toString), id)).take(5)
    }.toSet
    assert(got.forall { case (id, _, k) => k == want(id) },
      s"byHash keepers drifted from the md5 oracle: ${got.toSeq}")
    // The draw must NOT be the lowest-id prefix (the bias byHash is for).
    val keptBig = got.filter(r => r._2 == "big" && r._3).map(_._1).toSet
    assert(keptBig != (1L to 5L).toSet,
      "md5 draw coincided with the id prefix — fixture needs reseeding")
    assert(got.filter(_._2 == "small").forall(_._3),
      "under-cap source keeps everything in byHash mode too")
  }

  // -- chunkNovelty --------------------------------------------------------

  test("chunkNovelty: token-mass novelty vs the stored chunk set; batch repeats do not count") {
    // CDC chunks only re-synchronize at ANCHOR tokens (28-bit md5 % 8 ==
    // 0), so for the known passage's chunks to survive concatenation the
    // passage must END on an anchor — find one deterministically instead
    // of hand-picking a fixture word.
    def h28(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
        ((d(2) & 0xffL) << 4) | ((d(3) & 0xf0L) >> 4)
    }
    val anchor = (0 until 10000).iterator
      .map(i => s"word$i").find(w => h28(w) % 8 == 0).get
    val known = s"the quick brown fox jumps over the lazy dog $anchor"
    val corpus = docs(100L -> known,
      101L -> "some other corpus passage about spark shuffles and joins")
    val idx = graft.functions.Dedup.chunkIndex(corpus, "doc_id", "text")
    val fresh = "entirely novel words nobody indexed before anywhere tonight"
    val batch = docs(
      1L -> known, // fully known
      2L -> fresh, // fully novel
      3L -> (known + " " + fresh), // mixed
      4L -> fresh, // batch-internal twin of 2 — still novel
      5L -> "   ") // empty after normalization
    val got = graft.functions.Dedup.chunkNovelty(batch, idx, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.size == 5, "one row per batch doc, empties included")
    // CDC partitions each doc's tokens exactly.
    def ntoks(s: String) = TextFunctions.normalizeScala(s)
      .split(" ").count(_.nonEmpty).toLong
    assert(got(1L)._1 == ntoks(known) && got(2L)._1 == ntoks(fresh))
    assert(got(1L)._3 == 0.0, s"identical doc is fully known: ${got(1L)}")
    assert(got(2L)._3 == 1.0 && got(2L)._2 == 0L,
      s"unindexed doc is fully novel: ${got(2L)}")
    assert(got(3L)._3 > 0.0 && got(3L)._3 < 1.0,
      s"mixed doc strictly between: ${got(3L)}")
    assert(got(3L)._2 > 0L, "the known passage's token mass is visible")
    assert(got(4L)._3 == 1.0,
      "a batch-internal twin is NOT 'known' — only the index counts")
    assert(got(5L) == ((0L, 0L, 0.0)), s"empty doc: ${got(5L)}")
    graft.GraftCaches.clearAll()
  }

  test("chunkNovelty: the broadcast contract is loud") {
    val batch = docs(1L -> "a b c d e f g h i j")
    val idx = graft.functions.Dedup.chunkIndex(batch, "doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.functions.Dedup.chunkNovelty(batch, idx, "doc_id", "text",
        maxBatchChunks = 1L)
    }
    assert(e.getMessage.contains("distinct chunks"), e.getMessage)
    graft.GraftCaches.clearAll()
  }

  // -- embedEnergyStats ----------------------------------------------------

  test("embedEnergyStats: exact head/total energies; ragged and zero vectors visible") {
    val rows = Seq(
      // Front-loaded: all mass in dim 0 of 4.
      (1L, Array(2.0f, 0.0f, 0.0f, 0.0f)),
      // Flat: equal mass everywhere.
      (2L, Array(1.0f, 1.0f, 1.0f, 1.0f)),
      // Ragged: 2 dims only — headDims past length captures everything.
      (3L, Array(1.0f, 1.0f)),
      // Zero vector: no mass, frac 0.0 by contract.
      (4L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.functions.Vectors.embedEnergyStats(rows, headDims = 2)
      .collect().map(s => s.vec_id ->
        ((s.dims, s.head_micro, s.total_micro, s.head_frac))).toMap
    assert(got(1L) == ((4L, 4000000L, 4000000L, 1.0)), s"$got")
    assert(got(2L) == ((4L, 2000000L, 4000000L, 0.5)), s"$got")
    assert(got(3L) == ((2L, 2000000L, 2000000L, 1.0)),
      s"ragged vector: head == total: $got")
    assert(got(4L) == ((4L, 0L, 0L, 0.0)), s"zero vector: $got")
    intercept[IllegalArgumentException] {
      graft.functions.Vectors.embedEnergyStats(rows, headDims = 0)
    }
  }

  // -- sourceQualityReport -------------------------------------------------

  test("sourceQualityReport: per-source rollup agrees with the per-doc gopher view") {
    val clean = (1 to 60).map(i => Seq("the", "river", "of", "ancient",
      "stories")(i % 5)).mkString(" ")
    val rows = Seq(
      (1L, clean, "web"), (2L, "too short", "web"),
      (3L, clean, "web"), (4L, clean, "books"))
      .toDF("doc_id", "text", "source")
    val got = graft.functions.TextFunctions.sourceQualityReport(
        rows, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(got.keySet == Set("web", "books"))
    // The rollup must replay the per-doc operator exactly — one shared
    // rule core, so the two views cannot disagree.
    val perDoc = graft.functions.TextFunctions.gopherStats(
        rows, "doc_id", "text")
      .collect().map(s => s.doc_id -> ((s.n_tokens, s.passes))).toMap
    val web = got("web")
    assert(web._1 == 3L, s"$got")
    assert(web._2 == (1L to 3L).map(perDoc(_)._1).sum)
    assert(web._3 == (1L to 3L).count(perDoc(_)._2))
    assert(web._4 == web._3.toDouble / 3.0 &&
      web._5 == web._2.toDouble / 3.0, "rates are one division each")
    assert(got("books") == ((1L, perDoc(4L)._1, 1L, 1.0,
      perDoc(4L)._1.toDouble)), s"$got")
  }

  // -- splitAssign ---------------------------------------------------------

  test("splitAssign: exact u32 thresholds match a driver mirror; proportions track weights") {
    def h32(key: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$key:split".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    val n = 10000L
    val rows = (0L until n).toDF("doc_id")
    val got = graft.ops.CorpusMix.splitAssign(rows, "doc_id",
        Seq(("train", 80L), ("val", 10L), ("test", 10L)))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == n, "every row assigned")
    // Driver mirror of the exact threshold arithmetic.
    val cut1 = (BigInt(4294967296L) * 80 / 100).toLong
    val cut2 = (BigInt(4294967296L) * 90 / 100).toLong
    got.foreach { case (id, split) =>
      val h = h32(id.toString)
      val want = if (h < cut1) "train" else if (h < cut2) "val" else "test"
      assert(split == want, s"doc $id: $split != $want")
    }
    // A uniform draw lands near the weights (generous band: +-2% abs).
    val frac = got.values.groupBy(identity).view.mapValues(_.size / n.toDouble)
    assert(math.abs(frac("train") - 0.8) < 0.02, s"$frac")
    assert(math.abs(frac("val") - 0.1) < 0.02, s"$frac")
    assert(math.abs(frac("test") - 0.1) < 0.02, s"$frac")
  }

  test("splitAssign grouped: split is a pure function of the group key (leak-free)") {
    val rows = (0L until 300L).map(i => (i, s"dom${i % 7}"))
      .toDF("doc_id", "source")
    val got = graft.ops.CorpusMix.splitAssign(rows, "doc_id",
        Seq(("train", 2L), ("val", 1L), ("test", 1L)), byCol = "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.length == 300, "audit shape: every row, with its group")
    val perGroup = got.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    assert(perGroup.values.forall(_.size == 1),
      s"a group straddled splits: ${perGroup.toMap}")
    // Loud contracts.
    intercept[IllegalArgumentException] {
      graft.ops.CorpusMix.splitAssign(rows, "doc_id",
        Seq(("a", 1L), ("a", 2L)))
    }
    intercept[IllegalArgumentException] {
      graft.ops.CorpusMix.splitAssign(rows, "doc_id", Seq(("a", 0L)))
    }
  }

  test("splitAssign: NULL draw key fails LOUD instead of biasing the last split") {
    // A null group key nulls the md5 draw, so every range predicate is
    // null and the row would fall through to the LAST split — a silent
    // systematic bias. The guard must fire in grouped mode (null source)
    // and for a null id in the default mode.
    val rows = Seq((1L, "dom0"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "source")
    val e = intercept[Exception] {
      graft.ops.CorpusMix.splitAssign(rows, "doc_id",
          Seq(("train", 2L), ("test", 1L)), byCol = "source")
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("null draw key")), s"$e")
    val rows2 = Seq((Some(1L), "a"), (None, "b"))
      .toDF("doc_id", "source")
    val e2 = intercept[Exception] {
      graft.ops.CorpusMix.splitAssign(rows2, "doc_id",
          Seq(("train", 2L), ("test", 1L)))
        .collect()
    }
    assert(msgs(e2).exists(_.contains("null draw key")), s"$e2")
    // Non-null rows are untouched by the guard: same assignment as ever.
    val ok = graft.ops.CorpusMix.splitAssign(
        rows.filter($"source".isNotNull), "doc_id",
        Seq(("train", 2L), ("test", 1L)), byCol = "source")
      .collect()
    assert(ok.length == 1 && Set("train", "test")(ok(0).getString(2)), s"${ok.toSeq}")
  }

  // -- decontaminateAgainst ------------------------------------------------

  test("decontaminateAgainst: per-set leakage attribution in one corpus pass") {
    val passageA = "the quick brown fox jumps over the lazy dog tonight"
    val passageB = "completely separate benchmark prompt about spark partitions"
    val evals = Seq(
      ("setA", passageA),
      ("setB", passageB),
      ("setB", "another item of the second benchmark suite here"))
      .toDF("set_name", "text")
    val train = docs(
      1L -> passageA, // leaks setA only
      2L -> (passageB + " with a small continuation"), // leaks setB only
      3L -> (passageA + " " + passageB), // leaks BOTH
      4L -> "no overlap with anything benchmark shaped at all today")
    val got = graft.functions.Dedup.decontaminateAgainst(
        train, "doc_id", "text", evals)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got.keySet.map(_._1) == Set(1L, 2L, 3L),
      s"only overlapping pairs appear: ${got.keySet}")
    assert(got.keySet == Set((1L, "setA"), (2L, "setB"),
      (3L, "setA"), (3L, "setB")),
      s"each leak attributed to ITS set: ${got.keySet}")
    assert(got((1L, "setA"))._3, "full-copy doc is contaminated")
    assert(got((3L, "setA"))._3 && got((3L, "setB"))._3,
      "a doc can leak two benchmarks at once")
    // Overlap counts are per-set, bounded by the doc's distinct grams.
    got.foreach { case ((_, _), (ng, no, _)) =>
      assert(no > 0L && no <= ng, s"$got")
    }
    // The suite-size guard is loud.
    val e = intercept[IllegalArgumentException] {
      graft.functions.Dedup.decontaminateAgainst(
        train, "doc_id", "text", evals, maxEvalGrams = 2L)
    }
    assert(e.getMessage.contains("broadcast contract"), e.getMessage)
    graft.GraftCaches.clearAll()
  }

  // -- temperatureBudgets / temperatureMix ---------------------------------

  test("temperatureBudgets: exact apportionment, sum(budget) == totalBudget") {
    val rows = (Seq.fill(90)("big") ++ Seq.fill(9)("mid") ++ Seq("tiny"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s, 100L) }
      .toDF("doc_id", "source", "n_toks")
    // Token mass: big 9000, mid 900, tiny 100 → isqrt weights ~94/30/10.
    val got = graft.ops.CorpusMix.temperatureBudgets(
        rows, "source", "n_toks", totalBudget = 1000L, alpha = "sqrt")
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq == Seq("big", "mid", "tiny"), "sorted by source")
    val m = got.map(r => r._1 -> r).toMap
    assert(m("big")._2 == 9000L && m("mid")._2 == 900L && m("tiny")._2 == 100L)
    // Exact integer square roots, not float pow.
    assert(m("big")._3 == 94L, "isqrt(9000) = 94")
    assert(m("mid")._3 == 30L, "isqrt(900) = 30")
    assert(m("tiny")._3 == 10L, "isqrt(100) = 10")
    assert(got.map(_._4).sum == 1000L,
      "largest-remainder apportionment lands EXACTLY on the budget")
    // sqrt flattening: tiny's share (10/134 ≈ 7.5%) far above its
    // natural 1% mass share.
    assert(m("tiny")._4 >= 70L, s"sqrt upweights the small source: $got")
  }

  test("temperatureBudgets property: matches a BigInt driver mirror; prop == natural shares") {
    import org.scalacheck.{Gen, Prop}
    val genCase = for {
      ns <- Gen.choose(1, 8)
      masses <- Gen.listOfN(ns, Gen.choose(0L, 100000L))
      b <- Gen.choose(1L, 1000000L)
    } yield (masses, b)
    val prop = Prop.forAll(genCase) { case (masses, b) =>
      // Vacuously true on all-zero mass (the operator is loud there —
      // covered by the contracts test below).
      masses.sum == 0 || {
        val rows = masses.zipWithIndex
          .map { case (m, i) => (i.toLong, s"s$i", m) }
          .toDF("doc_id", "source", "n_toks")
        val got = graft.ops.CorpusMix.temperatureBudgets(
            rows, "source", "n_toks", b, alpha = "prop")
          .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
        // Driver mirror: floor shares + largest remainder by (rem desc,
        // source asc).
        val w = masses.zipWithIndex.map { case (m, i) => (s"s$i", BigInt(m)) }
        val tot = w.map(_._2).sum
        val based = w.map { case (s, wi) =>
          (s, (BigInt(b) * wi / tot).toLong, BigInt(b) * wi % tot)
        }
        var extra = b - based.map(_._2).sum
        val want = based.sortBy { case (s, _, r) => (-r, s) }.map {
          case (s, base, _) =>
            val add = if (extra > 0) { extra -= 1; 1L } else 0L
            s -> (base + add)
        }.toMap
        got == want && got.values.sum == b
      }
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("temperatureBudgets: loud contracts (bad args, zero mass, too many sources)") {
    val d = Seq((1L, "a", 10L)).toDF("doc_id", "source", "n_toks")
    intercept[IllegalArgumentException] {
      graft.ops.CorpusMix.temperatureBudgets(d, "source", "n_toks", 0L)
    }
    intercept[IllegalArgumentException] {
      graft.ops.CorpusMix.temperatureBudgets(d, "source", "n_toks", 10L,
        alpha = "cube")
    }
    val zero = Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("doc_id", "source", "n_toks")
    val e = intercept[IllegalArgumentException] {
      graft.ops.CorpusMix.temperatureBudgets(zero, "source", "n_toks", 10L)
    }
    assert(e.getMessage.contains("zero"), e.getMessage)
    val many = (1L to 30L).map(i => (i, s"s$i", 10L))
      .toDF("doc_id", "source", "n_toks")
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.CorpusMix.temperatureBudgets(many, "source", "n_toks", 10L,
        maxSources = 20)
    }
    assert(e2.getMessage.contains("model-sized"), e2.getMessage)
    val neg = Seq((1L, "a", -5L)).toDF("doc_id", "source", "n_toks")
    val e3 = intercept[IllegalArgumentException] {
      graft.ops.CorpusMix.temperatureBudgets(neg, "source", "n_toks", 10L)
    }
    assert(e3.getMessage.contains("negative"), e3.getMessage)
  }

  test("temperatureMix: budgets feed the greedy fill; zero-budget sources dropped") {
    // "big" dwarfs "dust": under sqrt with a 10-token budget the dust
    // source can round to 0 — the composition must drop it, not crash
    // mixByTokens' positive-budget contract.
    val rows = ((1L to 50L).map(i => (i, "big", 100L)) ++
      Seq((100L, "dust", 1L)))
      .toDF("doc_id", "source", "n_toks")
    val got = graft.ops.CorpusMix.temperatureMix(
        rows, "doc_id", "source", "n_toks", totalBudget = 10L,
        alpha = "sqrt")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.nonEmpty, "the big source fills its budget")
    assert(got.forall(_._2 == "big"),
      s"zero-budget dust source must not appear: ${got.toSeq}")
    // Greedy fill invariant: the crossing doc is included, so the taken
    // token mass reaches the budget.
    assert(got.map(_._3).sum >= 10L)
  }

  // -- importanceSample ----------------------------------------------------

  test("importanceSample: exact cross-multiply draw; score >= max always kept; zero never") {
    def h32(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:isample".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    val rows = (1L to 200L).map(i =>
      (i, if (i % 10 == 0) 0L else if (i % 3 == 0) 1000L else i % 256))
    val got = graft.ops.CorpusMix.importanceSample(
        rows.toDF("doc_id", "score").repartition(4), "doc_id", "score",
        maxScore = 256L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.length == rows.size, "audit shape: one row per doc")
    val scores = rows.toMap
    got.foreach { case (id, sc, kept) =>
      assert(sc == scores(id))
      val want = h32(id) * 256L < math.min(sc, 256L) * 4294967296L
      assert(kept == want, s"doc $id: kept=$kept want=$want")
    }
    assert(got.filter(_._2 == 0L).forall(!_._3), "zero score never kept")
    assert(got.filter(_._2 == 1000L).forall(_._3),
      "score past maxScore always kept (clamp, no overflow)")
    val frac = got.count(_._3).toDouble / got.length
    assert(frac > 0.2 && frac < 0.9, s"draw is a real mixture: $frac")
  }

  test("importanceSample: negative score fails loud; bad maxScore rejected") {
    intercept[IllegalArgumentException] {
      graft.ops.CorpusMix.importanceSample(
        Seq((1L, 5L)).toDF("doc_id", "score"), "doc_id", "score", 0L)
    }
    intercept[IllegalArgumentException] {
      graft.ops.CorpusMix.importanceSample(
        Seq((1L, 5L)).toDF("doc_id", "score"), "doc_id", "score",
        (1L << 30) + 1)
    }
    val e = intercept[Exception] {
      graft.ops.CorpusMix.importanceSample(
        Seq((1L, -3L)).toDF("doc_id", "score"), "doc_id", "score", 100L)
        .collect()
    }
    assert(e.getMessage.contains("negative score") ||
      e.getCause != null && e.getCause.getMessage.contains("negative score"),
      s"loud negative-score failure, got: ${e.getMessage}")
    // A null score would ride least()'s null-ignoring semantics into an
    // always-keep — it must fail loud instead.
    val eNull = intercept[Exception] {
      graft.ops.CorpusMix.importanceSample(
        Seq((1L, null.asInstanceOf[java.lang.Long])).toDF("doc_id", "score"),
        "doc_id", "score", 100L)
        .collect()
    }
    assert(eNull.getMessage.contains("null score") ||
      eNull.getCause != null &&
        eNull.getCause.getMessage.contains("null score"),
      s"loud null-score failure, got: ${eNull.getMessage}")
  }

  test("bm25TopKBatch: per-query results equal the single-query path; bounds are loud") {
    val filler = (1 to 40).map(i =>
      Seq("ordinary", "filler", "prose", "sentence", "words")(i % 5)).mkString(" ")
    val docs = Seq(
      (1L, s"spark spark executor $filler"),
      (2L, s"spark window $filler"),
      (3L, s"window vector vector $filler"),
      (4L, s"customer order $filler"),
      (5L, filler)).toDF("doc_id", "text")
    val queries = Seq(
      (10L, Seq("spark", "window")),
      (11L, Seq("vector", "customer")),
      (12L, Seq("customer", "zzznotincorpus"))).toDF("query_id", "terms")
    val batch = graft.functions.TextFunctions.bm25TopKBatch(
        docs, "doc_id", "text", queries, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .groupBy(_._1)
    // Each query's slice must equal bm25TopK run alone with that term
    // set — the one-pass batching is pure plumbing, not new semantics.
    for ((qid, terms) <- Seq(10L -> Seq("spark", "window"),
        11L -> Seq("vector", "customer"), 12L -> Seq("customer", "zzznotincorpus"))) {
      val single = graft.functions.TextFunctions.bm25TopK(
          docs, "doc_id", "text", terms, k = 3)
        .collect()
        .map(r => (qid, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(batch(qid).toSeq.sortBy(_._5) == single.sortBy(_._5),
        s"query $qid drifted from the single-query path")
    }
    // The unseen term matches nothing: query 12 rows all carry n_terms 1.
    assert(batch(12L).forall(_._4 == 1L), "df-0 term must contribute no match")
    // Loud contracts: empty batch, oversize query, duplicate ids.
    intercept[IllegalArgumentException] {
      graft.functions.TextFunctions.bm25TopKBatch(docs, "doc_id", "text",
        Seq.empty[(Long, Seq[String])].toDF("query_id", "terms"))
    }
    intercept[IllegalArgumentException] {
      graft.functions.TextFunctions.bm25TopKBatch(docs, "doc_id", "text",
        Seq((1L, (0 until 65).map(i => s"t$i"))).toDF("query_id", "terms"))
    }
    intercept[IllegalArgumentException] {
      graft.functions.TextFunctions.bm25TopKBatch(docs, "doc_id", "text",
        Seq((1L, Seq("a")), (1L, Seq("b"))).toDF("query_id", "terms"))
    }
  }

  test("Bm25BatchModel: stored-yardstick batch ranking is bit-identical through parquet") {
    val filler = (1 to 40).map(i =>
      Seq("ordinary", "filler", "prose", "sentence", "words")(i % 5)).mkString(" ")
    val docs = Seq(
      (1L, s"spark spark executor $filler"),
      (2L, s"spark window $filler"),
      (3L, s"window vector vector $filler"),
      (4L, s"customer order $filler")).toDF("doc_id", "text")
    val queries = Seq(
      (10L, Seq("spark", "window")), (11L, Seq("vector", "customer")))
      .toDF("query_id", "terms")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(t => (t._1, t._5))
    val live = rows(graft.functions.TextFunctions.bm25TopKBatch(
      docs, "doc_id", "text", queries, k = 3))
    // Train-once + rank == the live call on the training corpus...
    val model = graft.functions.TextFunctions.bm25BatchTrain(
      docs, "doc_id", "text", queries)
    val inMem = rows(graft.functions.TextFunctions.bm25TopKBatchModel(
      model, docs, "doc_id", "text", k = 3))
    assert(inMem.toSeq == live.toSeq, "train/rank drifted from the live call")
    // ...and stays bit-identical through the parquet round trip (idf
    // longs, the avgdl double, and the term arrays all round-trip).
    val dir = java.nio.file.Files.createTempDirectory("bm25b-").toString + "/m"
    model.write(dir)
    val stored = graft.functions.TextFunctions.Bm25BatchModel.read(spark, dir)
    val storedRows = rows(graft.functions.TextFunctions.bm25TopKBatchModel(
      stored, docs, "doc_id", "text", k = 3))
    assert(storedRows.toSeq == live.toSeq, "parquet round trip drifted")
    // Scoring a NEW batch against the stored model: the idf/avgdl stay
    // the TRAINING corpus's (a fixed yardstick, not re-derived), so a
    // doc identical to training doc 2 scores identically to it.
    val newBatch = Seq((50L, s"spark window $filler")).toDF("doc_id", "text")
    val newScore = graft.functions.TextFunctions.bm25ScoreAllBatch(
        stored, newBatch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val trainScore = graft.functions.TextFunctions.bm25ScoreAllBatch(
        stored, docs.filter($"doc_id" === 2L), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(newScore == trainScore && newScore.nonEmpty,
      s"stored yardstick must be fixed: $newScore vs $trainScore")
  }

  // -- bm25TopK ------------------------------------------------------------

  test("bm25TopK: rarer terms weigh more, tf saturates, ranks are dense") {
    val filler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val rows = docs(
      1L -> s"spark $filler",                  // one rare term
      2L -> s"merge merge merge $filler",      // repeated common term
      3L -> s"spark merge $filler",            // both
      4L -> filler,                            // no query terms
      5L -> s"merge $filler")
    val got = TextFunctions.bm25TopK(rows, "doc_id", "text",
        Seq("spark", "merge"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val byId = got.map(r => r._1 -> r).toMap
    assert(!byId.contains(4L), "doc without query terms never scores")
    assert(got.map(_._4).sorted.toSeq == (1L to got.length).toSeq,
      "ranks are dense 1..n")
    // spark: df=2 of 5; merge: df=3 of 5 -> idf(spark) > idf(merge), so
    // doc 3 (both terms) outranks every single-term doc, and doc 1
    // (rare term once) outranks doc 5 (common term once).
    assert(byId(3L)._4 == 1, s"two-term doc must rank first: $got")
    assert(byId(1L)._2 > byId(5L)._2, "rare term must outscore common term")
    assert(byId(3L)._3 == 2 && byId(1L)._3 == 1, "n_terms counts matched terms")
    // tf saturation: tripled tf must score less than 3x the single tf.
    assert(byId(2L)._2 < 3 * byId(5L)._2, "BM25 tf term must saturate")
    assert(byId(2L)._2 > byId(5L)._2, "more tf still scores more")
  }

  test("bm25 property: equals an in-driver oracle on random corpora") {
    import org.scalacheck.{Gen, Prop}
    // The oracle mirrors the operator's exact arithmetic (same Math.log
    // quantization, same expression shape, same floors), so the property
    // isolates the DISTRIBUTED plumbing: tf counting, dl propagation,
    // the idf join, integer sums, and the two-phase rank's total order.
    val vocab = Vector("u", "v", "w", "x", "y", "z")
    val genCorpus = for {
      nd <- Gen.choose(2, 8)
      ds <- Gen.listOfN(nd, for {
        len <- Gen.choose(0, 10)
        ws <- Gen.listOfN(len, Gen.oneOf(vocab))
      } yield ws.mkString(" "))
      terms <- Gen.pick(2, vocab)
    } yield (ds.zipWithIndex.map { case (t, i) => (i.toLong, t) },
      terms.toSeq)
    val (k1, b) = (1.2, 0.75)
    def oracle(rows: Seq[(Long, String)], terms: Seq[String], k: Int) = {
      val toks = rows.map { case (id, t) =>
        id -> TextFunctions.normalizeScala(t).split(" ", -1).toSeq
      }
      val n = rows.size
      val avgdl = toks.map(_._2.length.toLong).sum.toDouble / n
      val idf = terms.map { t =>
        val df = toks.count(_._2.contains(t)).toLong
        t -> math.floor(
          math.log((n - df + 0.5) / (df + 0.5) + 1.0) * 1e6).toLong
      }.toMap
      val scored = toks.flatMap { case (id, ws) =>
        val dl = ws.length.toLong
        val cms = terms.flatMap { t =>
          val tf = ws.count(_ == t).toLong
          if (tf == 0L) None
          else Some(math.floor(idf(t) * (tf * (k1 + 1.0)) /
            (tf + k1 * ((1.0 - b) + b * (dl / avgdl)))).toLong)
        }
        if (cms.isEmpty) None else Some((id, cms.sum, cms.size.toLong))
      }
      scored.sortBy(r => (-r._2, r._1)).take(k).zipWithIndex
        .map { case ((id, s, nt), i) => (id, s, nt, (i + 1).toLong) }
    }
    val prop = Prop.forAll(genCorpus) { case (rows, terms) =>
      val got = TextFunctions.bm25TopK(
          rows.toDF("doc_id", "text").repartition(4), "doc_id", "text",
          terms, k = 5)
        .orderBy("rank")
        .as[(Long, Long, Long, Long)].collect().toSeq
      got == oracle(rows, terms, 5)
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("bm25 stored model scores bit-identically to the live path through parquet") {
    val filler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val rows = docs(
      1L -> s"spark $filler", 2L -> s"merge merge $filler",
      3L -> s"spark merge $filler", 4L -> filler)
    val live = TextFunctions.bm25TopK(rows, "doc_id", "text",
        Seq("spark", "merge"), k = 10)
      .orderBy("rank").collect().toSeq
    val path = java.nio.file.Files.createTempDirectory("bm25-").toString
    TextFunctions.bm25Train(rows, "doc_id", "text", Seq("spark", "merge"))
      .write(path)
    val stored = TextFunctions.bm25ScoreModel(
        TextFunctions.Bm25Model.read(spark, path), rows, "doc_id", "text",
        k = 10)
      .orderBy("rank").collect().toSeq
    assert(stored == live,
      "idf_micro longs and the avgdl double must round-trip parquet exactly")
    // The recurring shape: a NEW batch scores against the stored
    // yardstick without retraining — idf/avgdl stay the reference's.
    val batch = docs(10L -> s"spark spark $filler")
    val b10 = TextFunctions.bm25ScoreModel(
      TextFunctions.Bm25Model.read(spark, path), batch, "doc_id", "text")
      .collect()
    assert(b10.length == 1 && b10.head.getLong(0) == 10L &&
      b10.head.getLong(3) == 1L)
  }

  test("embedDimStats: exact per-dim rollup; a dead dim and a drifted dim are visible") {
    // dim0 dead (all zero), dim1 constant 0.5, dim2 spread, plus a
    // SHORTER vector whose missing dim surfaces as a smaller n_vecs.
    val rows = Seq(
      (1L, Array(0.0f, 0.5f, -1.0f)),
      (2L, Array(0.0f, 0.5f, 3.0f)),
      (3L, Array(0.0f, 0.5f))
    ).toDF("vec_id", "embedding")
    val got = graft.functions.Vectors.embedDimStats(rows)
      .orderBy("dim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5)))
    assert(got(0) == ((0L, 3L, 0L, 0.0, 0L, 0L)), s"dead dim: ${got(0)}")
    assert(got(1) == ((1L, 3L, 1500000L, 500000.0, 500000L, 500000L)))
    assert(got(2) == ((2L, 2L, 2000000L, 1000000.0, -1000000L, 3000000L)),
      s"ragged dim reports its own n_vecs: ${got(2)}")
  }

  // -- embedClusters -------------------------------------------------------

  test("nearDupKeepBest: longest member survives its cluster; min-id breaks ties") {
    // Docs 1-3 are near-dups: 3 is the LONGEST (a superset copy), so it
    // must win over the smaller-id 1 and 2. Docs 10/11 are identical
    // twins (equal length) -> min id 10 wins. Doc 20 is a singleton.
    val core = "the quick brown fox jumps over the lazy dog near the river bank"
    val rows = docs(
      1L -> core,
      2L -> (core + " today"),
      3L -> (core + " today again with extra trailing words"),
      10L -> "completely different content about spark shuffles and partitions here",
      11L -> "completely different content about spark shuffles and partitions here",
      20L -> "a lone unrelated document with no duplicate partners at all")
    val got = graft.functions.Dedup.nearDupKeepBest(rows, "doc_id", "text", 0.7)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(got.size == 6, "one row per input doc")
    val c1 = got(1L)._1
    assert(got(2L)._1 == c1 && got(3L)._1 == c1, s"1-3 must cluster: $got")
    assert(!got(1L)._3 && !got(2L)._3 && got(3L)._3,
      s"longest member must be the keeper: $got")
    assert(got(10L)._3 && !got(11L)._3, "equal length ties to the min id")
    assert(got(20L)._3, "singletons keep their only member")
    assert(got(3L)._2 > got(1L)._2, "n_tokens surfaces the choice's basis")
    graft.GraftCaches.clearAll()
  }

  test("nearDupKeepBestBy: a caller score overrides longest-wins") {
    // Same near-dup trio as the longest-wins spec, but an external
    // quality score crowns doc 1 (the SHORTEST) — the overload must
    // follow the score, not the length; ties still break to min id.
    val core = "the quick brown fox jumps over the lazy dog near the river bank"
    val rows = Seq(
      (1L, core, 90L),
      (2L, core + " today", 50L),
      (3L, core + " today again with extra trailing words", 10L),
      (10L, "completely different content about spark shuffles and partitions here", 7L),
      (11L, "completely different content about spark shuffles and partitions here", 7L),
      (20L, "a lone unrelated document with no duplicate partners at all", 0L))
      .toDF("doc_id", "text", "quality")
    val got = graft.functions.Dedup.nearDupKeepBestBy(
        rows, "doc_id", "text", "quality", 0.7)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got.size == 6, "one row per input doc")
    assert(got(1L)._3 && !got(2L)._3 && !got(3L)._3,
      s"highest score must win regardless of length: $got")
    assert(got(1L)._2 == 90L, "score column surfaces the choice's basis")
    assert(got(10L)._3 && !got(11L)._3, "equal scores tie to the min id")
    assert(got(20L)._3, "singletons keep their only member")
    graft.GraftCaches.clearAll()
  }

  test("clusterSample: balanced deterministic draw; small clusters keep all members") {
    def v(base: Double, j: Int): Array[Float] =
      Array.tabulate(4)(d => (base + 0.01 * j + d * 0.001).toFloat)
    // Blob A: 8 members; blob B: 2 members (below the per-cluster cut).
    val rows = ((0 until 8).map(j => (j.toLong, v(0.0, j))) ++
      (8 until 10).map(j => (j.toLong, v(5.0, j)))).toDF("vec_id", "embedding")
    val got = IVF.clusterSample(rows, perCluster = 3, nlist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byCluster = got.groupBy(_._2)
    assert(byCluster.size == 2)
    assert(byCluster.values.map(_.length).toSet == Set(3, 2),
      s"8-blob capped at 3, 2-blob keeps both: $got")
    assert(got.groupBy(_._2).values.forall(
      g => g.map(_._3).sorted.toSeq == (1L to g.length)), "ranks dense")
    // md5 rank, not id rank: the draw need not be the 3 lowest ids, but
    // it IS the same 3 on every run.
    val again = IVF.clusterSample(rows, perCluster = 3, nlist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("embedClusters: tight groups share a cluster; sizes partition the corpus") {
    // Two well-separated blobs in 4-d; nlist=2 must split them.
    def v(base: Double, j: Int): Array[Float] =
      Array.tabulate(4)(d => (base + 0.01 * j + d * 0.001).toFloat)
    val rows = ((0 until 6).map(j => (j.toLong, v(0.0, j))) ++
      (6 until 12).map(j => (j.toLong, v(5.0, j)))).toDF("vec_id", "embedding")
    val got = IVF.embedClusters(rows, nlist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 12)
    val byCluster = got.groupBy(_._2)
    assert(byCluster.size == 2, s"two blobs -> two clusters: $byCluster")
    assert(byCluster.values.map(_.length).toSet == Set(6),
      "each blob lands whole in one cluster")
    got.foreach { case (_, _, _, sz) => assert(sz == 6) }
    val lowIds = got.filter(_._1 < 6).map(_._2).toSet
    assert(lowIds.size == 1, "the low blob shares one cluster")
  }

  test("clusterDrift: per-cell total variation against ONE stored quantizer; loud on empty side") {
    def v(base: Double, j: Int): Array[Float] =
      Array.tabulate(4)(d => (base + 0.01 * j + d * 0.001).toFloat)
    // Train on a balanced corpus; side A is 6:2 blob-heavy, side B 2:6
    // — the shift the operator exists to surface.
    val train = ((0 until 8).map(j => (j.toLong, v(0.0, j))) ++
      (8 until 16).map(j => (j.toLong, v(5.0, j)))).toDF("vec_id", "embedding")
    val model = IVF.embedClustersTrain(train, nlist = 2)
    val a = ((0 until 6).map(j => (j.toLong, v(0.0, j))) ++
      (6 until 8).map(j => (j.toLong, v(5.0, j)))).toDF("vec_id", "embedding")
    val b = ((0 until 2).map(j => (j.toLong, v(0.0, j))) ++
      (2 until 8).map(j => (j.toLong, v(5.0, j)))).toDF("vec_id", "embedding")
    val got = IVF.clusterDrift(model, a, b)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.length == 2, s"two populated cells: ${got.toSeq}")
    // |6/8 - 2/8| / 2 = 0.25 in each cell, exactly (counts are exact,
    // one IEEE division).
    got.foreach { case (_, ca, cb, d) =>
      assert(Set(ca, cb) == Set(6L, 2L), s"counts: ${got.toSeq}")
      assert(d == 0.25, s"drift must be exactly 0.25: $d")
    }
    // Balanced sides through the SAME model: zero drift everywhere.
    val none = IVF.clusterDrift(model, a, a)
      .collect().map(_.getDouble(3))
    assert(none.forall(_ == 0.0), s"self-drift must be zero: ${none.toSeq}")
    val e = intercept[Exception] {
      IVF.clusterDrift(model, a,
        b.filter(org.apache.spark.sql.functions.col("vec_id") < -1))
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("non-empty")), s"$e")
    // BOTH sides empty: the joined frame has zero rows, so a per-row
    // raise_error would never evaluate — the contract must hold eagerly
    // (the round-12 fix), not silently return an empty frame.
    val none2 = org.apache.spark.sql.functions.col("vec_id") < -1
    val e2 = intercept[Exception] {
      IVF.clusterDrift(model, a.filter(none2), b.filter(none2)).collect()
    }
    assert(msgs(e2).exists(_.contains("non-empty")), s"$e2")
    graft.GraftCaches.clearAll()
  }
}
