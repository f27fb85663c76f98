package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/**
 * TrainShuffle.packNoSplit — the no-split (padded) packer. The
 * operator's greedy pass runs inside mapPartitions with a residual-bound
 * fast path, so the spec's anchor is merge-for-merge agreement with a
 * NAIVE reference implementation (plain first-fit scan / plain next-fit
 * state, no optimizations) over the real corpus, plus the layout
 * invariants and the loud contracts.
 */
class PackNoSplitSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private val Budget = 64
  private val Shards = 16

  /** (doc_id, shard, n_tokens, truncated, bin, pos) rows, collected. */
  private def packed(strategy: String, budget: Int = Budget) =
    TrainShuffle.packNoSplit(
        GraftSession.table(spark, sf, "documents"), "doc_id", "text",
        numShards = Shards, budget = budget, strategy = strategy)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3),
        r.getLong(4), r.getLong(5)))

  /** Naive reference over the SAME deterministic order: per shard sort
    * by (capped desc, sort_key, id), then plain greedy with no
    * fast-path — an independent restatement of the algorithm. */
  private def reference(strategy: String, budget: Int = Budget)
      : Map[Long, (Long, Long, Long, Boolean)] = {
    val rows = TrainShuffle
      .shardAssign(GraftSession.table(spark, sf, "documents"),
        "doc_id", Shards)
      .withColumn("n_tokens",
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
      .select("doc_id", "shard", "sort_key", "n_tokens")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    rows.groupBy(_._2).iterator.flatMap { case (shard, docs) =>
      val capped = docs
        .map { case (id, _, sk, n) => (id, math.min(n, budget.toLong), sk, n) }
        .sortBy { case (id, c, sk, _) => (-c, sk, id) }
      val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
      var nfBin = -1L
      var nfFill = 0L
      capped.map { case (id, c, _, n) =>
        val (bin, pos) =
          if (strategy == "firstfit") {
            var i = 0
            while (i < fills.length && fills(i) + c > budget) i += 1
            if (i == fills.length) fills += 0L
            val p = fills(i); fills(i) += c; (i.toLong, p)
          } else {
            if (nfBin < 0 || nfFill + c > budget) { nfBin += 1; nfFill = 0L }
            val p = nfFill; nfFill += c; (nfBin, p)
          }
        id -> ((shard, bin, pos, n > budget))
      }
    }.toMap
  }

  test("firstfit agrees doc-for-doc with the naive first-fit reference") {
    val got = packed("firstfit")
    val ref = reference("firstfit")
    assert(got.length == ref.size)
    got.foreach { case (id, shard, n, trunc, bin, pos) =>
      val (rs, rb, rp, rt) = ref(id)
      assert((shard, bin, pos, trunc) == ((rs, rb, rp, rt)),
        s"doc $id (n_tokens=$n): got (shard=$shard,bin=$bin,pos=$pos," +
          s"trunc=$trunc) want (shard=$rs,bin=$rb,pos=$rp,trunc=$rt)")
    }
  }

  test("nextfit agrees doc-for-doc with the naive next-fit reference") {
    val got = packed("nextfit")
    val ref = reference("nextfit")
    assert(got.length == ref.size)
    got.foreach { case (id, shard, _, trunc, bin, pos) =>
      assert(ref(id) == ((shard, bin, pos, trunc)), s"doc $id")
    }
  }

  test("layout invariants: capacity, dense bins, pos = running fill") {
    for (strategy <- Seq("firstfit", "nextfit")) {
      val byBin = packed(strategy)
        .groupBy { case (_, shard, _, _, bin, _) => (shard, bin) }
      byBin.foreach { case ((shard, bin), docs) =>
        val mass = docs.map { case (_, _, n, _, _, _) =>
          math.min(n, Budget.toLong) }.sum
        assert(mass <= Budget, s"$strategy bin ($shard,$bin) over budget")
        // pos values must tile [0, mass) exactly: sorted by pos, each
        // doc starts where the previous one ended.
        val sorted = docs.sortBy { case (_, _, _, _, _, pos) => pos }
        var at = 0L
        sorted.foreach { case (id, _, n, _, _, pos) =>
          assert(pos == at, s"$strategy doc $id pos $pos != $at")
          at += math.min(n, Budget.toLong)
        }
        assert(at == mass)
      }
      // bins dense per shard: 0..max with no gaps
      byBin.keys.groupBy(_._1).foreach { case (shard, bins) =>
        val ids = bins.map(_._2).toSeq.sorted
        assert(ids == (0L until ids.length).toSeq, s"$strategy shard $shard")
      }
    }
  }

  test("truncation: over-budget docs flagged and fill a bin alone") {
    val got = packed("firstfit")
    val over = got.filter { case (_, _, n, _, _, _) => n > Budget }
    assert(over.nonEmpty, "fixture must exercise truncation at budget 64")
    over.foreach { case (id, _, _, trunc, _, pos) =>
      assert(trunc, s"doc $id over budget but not flagged")
      assert(pos == 0, s"doc $id truncated to exactly budget must open its bin")
    }
    assert(got.filter { case (_, _, n, _, _, _) => n <= Budget }
      .forall { case (_, _, _, trunc, _, _) => !trunc })
  }

  test("firstfit never uses more bins than nextfit (per shard)") {
    val ff = packed("firstfit").groupBy(_._2)
      .map { case (s, d) => s -> (d.map(_._5).max + 1) }
    val nf = packed("nextfit").groupBy(_._2)
      .map { case (s, d) => s -> (d.map(_._5).max + 1) }
    ff.foreach { case (shard, bins) =>
      assert(bins <= nf(shard), s"shard $shard: FFD $bins > NFD ${nf(shard)}")
    }
    assert(ff.values.sum < nf.values.sum,
      "on this corpus first-fit must strictly beat next-fit somewhere")
  }

  test("deterministic under input re-partitioning") {
    val docs = GraftSession.table(spark, sf, "documents")
    val a = TrainShuffle.packNoSplit(docs, "doc_id", "text",
      numShards = Shards, budget = Budget).collect().toSet
    val b = TrainShuffle.packNoSplit(docs.repartition(7), "doc_id", "text",
      numShards = Shards, budget = Budget).collect().toSet
    assert(a == b)
  }

  test("tokensCol hook: budgets in caller counts; zero-cost rows legal") {
    val spark2 = spark
    import spark2.implicits._
    // ids 1..6 all hash somewhere; give doc 5 a zero count and doc 6 a
    // budget-sized one.
    val df = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L), (5L, 0L),
        (6L, 8L))
      .toDF("doc_id", "n_my_tokens")
    val out = TrainShuffle.packNoSplit(df, "doc_id", "", numShards = 1,
        budget = 8, tokensCol = "n_my_tokens")
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3), r.getLong(4),
        r.getLong(5)))
    val byId = out.map(t => t._1 -> t).toMap
    // capped sizes: 8,8,8,8 (truncated from 10), 8 (exact), 0 — each
    // 8-sized doc fills a bin alone; the zero-cost doc rides along.
    assert(byId(5L)._2 == 0L && !byId(5L)._3)
    assert(byId(6L)._3 == false && byId(1L)._3 == true)
    out.filter(_._1 != 5L).groupBy(_._4).foreach { case (bin, docs) =>
      assert(docs.length == 1, s"bin $bin must hold exactly one 8-sized doc")
    }
    // the zero-cost doc sorts last (capped 0), first-fits into bin 0 at
    // the FULL fill offset — riding along without consuming capacity.
    assert(byId(5L)._4 == 0L && byId(5L)._5 == 8L)
  }

  test("tokensCol hook: null/negative counts fail loud") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, Some(5L)), (2L, None)).toDF("doc_id", "cnt")
    val e = intercept[Exception] {
      TrainShuffle.packNoSplit(df, "doc_id", "", numShards = 2,
        budget = 8, tokensCol = "cnt").collect()
    }
    assert(e.getMessage != null)
  }

  test("nullable long ids: the output keeps the id's nullability; a null id fails loud, on both carry shapes") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((Some(1L), 3L, Seq(1, 2, 3)), (Some(2L), 2L, Seq(4, 5)),
        (Some(3L), 4L, Seq(6, 7, 8, 9)))
    def pack(df: org.apache.spark.sql.DataFrame, carry: Seq[String]) =
      TrainShuffle.packNoSplit(df, "doc_id", "", numShards = 2, budget = 8,
        tokensCol = "cnt", carryCols = carry)
    val nullable = docs.toDF("doc_id", "cnt", "ids")
    val nonNull = docs.map { case (id, n, ids) => (id.get, n, ids) }.toDF("doc_id", "cnt", "ids")
    val withNull = (docs :+ ((None, 2L, Seq(10, 11)))).toDF("doc_id", "cnt", "ids")
    // The Row path (a string id) shares the contract.
    val stringIds = (docs :+ ((None, 2L, Seq(10, 11))))
      .map { case (id, n, ids) => (id.map(_.toString), n, ids) }.toDF("doc_id", "cnt", "ids")
    assert(nullable.schema("doc_id").nullable && !nonNull.schema("doc_id").nullable)
    for (carry <- Seq(Nil, Seq("ids"))) {
      val a = pack(nullable, carry)
      val n = pack(nonNull, carry)
      assert(a.schema("doc_id").nullable && !n.schema("doc_id").nullable, s"carry $carry")
      assert(a.collect().map(_.toSeq.toString).sorted.toSeq ==
        n.collect().map(_.toSeq.toString).sorted.toSeq, s"carry $carry")
      for (df <- Seq(withNull, stringIds)) {
        val e = intercept[Exception](pack(df, carry).collect())
        assert(e.getMessage.contains("packNoSplit: null doc_id"), s"carry $carry: $e")
      }
    }
  }

  test("loud contracts: budget, strategy and carryCols validated") {
    val docs = GraftSession.table(spark, sf, "documents")
    intercept[IllegalArgumentException] {
      TrainShuffle.packNoSplit(docs, "doc_id", "text", 4, budget = 0)
    }
    intercept[IllegalArgumentException] {
      TrainShuffle.packNoSplit(docs, "doc_id", "text", 4, budget = 8,
        strategy = "bestfit")
    }
    val e = intercept[IllegalArgumentException] {
      TrainShuffle.packNoSplit(docs, "doc_id", "text", 4, budget = 8,
        carryCols = Seq("bin"))
    }
    assert(e.getMessage.contains("collide"))
  }

  test("adversarial shapes: fast-path-heavy geometries still agree with naive") {
    // Shapes chosen to stress the maxResidUpper fast path and the
    // degenerate geometries: a long run of just-over-half items (every
    // bin opens, residuals all small — the case the bound exists for),
    // all-equal items that tile bins exactly, items all over budget,
    // zero-cost rows interleaved, and a mixed power-law.
    val spark2 = spark
    import spark2.implicits._
    val budget = 100
    val shapes: Seq[(String, Seq[Long])] = Seq(
      ("just-over-half", Seq.fill(200)(51L)),
      ("exact-tiling", Seq.fill(120)(25L)),
      ("all-over-budget", Seq.fill(40)(250L)),
      ("zeros-interleaved", (1 to 100).map(i => if (i % 3 == 0) 0L else (i % 7) * 13L)),
      ("power-law", (1 to 300).map(i => (budget.toLong * 2) / i + 1L)))
    shapes.foreach { case (label, sizes) =>
      val df = sizes.zipWithIndex
        .map { case (n, i) => (i.toLong, n) }.toDF("doc_id", "cnt")
      for (strategy <- Seq("firstfit", "nextfit")) {
        val got = TrainShuffle.packNoSplit(df, "doc_id", "", numShards = 4,
            budget = budget, tokensCol = "cnt", strategy = strategy)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5)))
        // Naive reference on the same deterministic order.
        val lay = TrainShuffle.shardAssign(df, "doc_id", 4)
          .select("doc_id", "shard", "sort_key", "cnt").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        val ref = lay.groupBy(_._2).iterator.flatMap { case (shard, docs) =>
          val ordered = docs
            .map { case (id, _, sk, n) => (id, math.min(n, budget.toLong), sk) }
            .sortBy { case (id, c, sk) => (-c, sk, id) }
          val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
          var nfBin = -1L; var nfFill = 0L
          ordered.map { case (id, c, _) =>
            val (bin, pos) =
              if (strategy == "firstfit") {
                var i = 0
                while (i < fills.length && fills(i) + c > budget) i += 1
                if (i == fills.length) fills += 0L
                val p = fills(i); fills(i) += c; (i.toLong, p)
              } else {
                if (nfBin < 0 || nfFill + c > budget) { nfBin += 1; nfFill = 0L }
                val p = nfFill; nfFill += c; (nfBin, p)
              }
            id -> ((shard, bin, pos))
          }
        }.toMap
        got.foreach { case (id, shard, bin, pos) =>
          assert(ref(id) == ((shard, bin, pos)),
            s"$label/$strategy doc $id: got ($shard,$bin,$pos) want ${ref(id)}")
        }
      }
    }
  }

  test("packNoSplitIds: bins decode back to whole docs; boundaries align") {
    val docs = GraftSession.table(spark, sf, "documents")
    val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 20)
    val budget = 128
    val norms = docs.select(col("doc_id"),
        graft.functions.TextFunctions.normText(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // Expected per-bin doc sets from the layout (same model counts).
    val enc = graft.functions.Bpe.bpeEncodeIds(docs, "doc_id", "text", model)
    val encIds = enc.collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val layout = TrainShuffle.packNoSplit(enc, "doc_id", "",
        numShards = 8, budget = budget, tokensCol = "n_tokens_bpe")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4),
        r.getLong(5)))
    val expectByBin = layout.groupBy { case (_, shard, _, bin, _) =>
      (shard, bin) }
    val rows = TrainShuffle.packNoSplitIds(docs, "doc_id", "text", model,
        numShards = 8, budget = budget)
      .collect()
    assert(rows.length == expectByBin.size)
    var truncatedSeen = 0
    rows.foreach { r =>
      val (shard, bin) = (r.getLong(0), r.getLong(1))
      val ids = r.getSeq[Int](2)
      val (nIds, nDocs) = (r.getLong(3), r.getLong(4))
      val starts = r.getSeq[Long](5)
      assert(nIds == ids.length.toLong && nIds <= budget,
        s"bin ($shard,$bin) over budget")
      val exp = expectByBin((shard, bin))
        .sortBy { case (id, _, _, _, pos) => (pos, id) }
      assert(nDocs == exp.length.toLong && starts.length == exp.length)
      // Boundaries are exactly the layout's pos offsets, ascending.
      assert(starts == exp.map(_._5).toSeq, s"bin ($shard,$bin) starts")
      // Each doc's slice decodes to (a prefix of) its normalized text.
      exp.zipWithIndex.foreach { case ((id, _, nTok, _, pos), i) =>
        val end = if (i + 1 < exp.length) exp(i + 1)._5 else nIds
        val slice = ids.slice(pos.toInt, end.toInt)
        if (nTok > budget) {
          truncatedSeen += 1
          // decodeIds refuses mid-word truncation by contract, so pin
          // the truncated slice against the full encode's prefix.
          assert(slice.length == budget, s"doc $id truncated slice size")
          assert(slice == encIds(id).take(budget),
            s"doc $id truncated ids must be the encode's first $budget")
        } else {
          assert(model.decodeIds(slice) == norms(id),
            s"doc $id ids did not decode to its normalized text")
        }
      }
    }
    assert(truncatedSeen > 0, "fixture must exercise truncation")
  }

  test("packNoSplitReport prices the layout exactly") {
    val docs = GraftSession.table(spark, sf, "documents")
    val frame = TrainShuffle.packNoSplit(docs, "doc_id", "text",
      numShards = Shards, budget = Budget)
    val rep = TrainShuffle.packNoSplitReport(frame, Budget)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))))
      .toMap
    val rows = packed("firstfit")
    rows.groupBy(_._2).foreach { case (shard, docs2) =>
      val (nDocs, nTrunc, nBins, mass) = (
        docs2.length.toLong,
        docs2.count(_._4).toLong,
        docs2.map(_._5).max + 1,
        docs2.map { case (_, _, n, _, _, _) => math.min(n, Budget.toLong) }.sum)
      val (gd, gt, gb, gm, gp, gf) = rep(shard)
      assert((gd, gt, gb, gm) == ((nDocs, nTrunc, nBins, mass)))
      assert(gp == nBins * Budget - mass)
      assert(gf == mass.toDouble / (nBins * Budget).toDouble)
      assert(gf > 0.0 && gf <= 1.0)
    }
  }
}
