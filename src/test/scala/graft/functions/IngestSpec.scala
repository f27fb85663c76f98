package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManagedRoot

/** The first-class ingestion operator ([[Ingest.ingestBatch]]): decision
  * correctness, retry-decision stability, idempotent appends across all
  * three index families, crash-window recovery, and the managed
  * chunk-index generation/compaction lifecycle. */
class IngestSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  private def vecOf(seed: Int): Array[Float] =
    Array.tabulate(8)(d => math.sin(seed * 3 + d).toFloat)

  private def decisionsOf(df: DataFrame): Map[Long, String] =
    df.as[(Long, String)].collect().toMap

  private val boiler =
    "all rights reserved corpus contact us for terms boundary"
  private val foxDoc =
    "the quick brown fox jumps over the lazy dog near the river bank"

  test("screenBatch labels every batch doc with the right decision") {
    val ndIndex = Dedup.nearDupIndex(
      docs(1L -> foxDoc, 2L -> s"spark runs distributed queries $boiler"),
      "doc_id", "text")
    val chunkIdx = Dedup.chunkIndex(
      docs(1L -> foxDoc, 2L -> s"spark runs distributed queries $boiler"),
      "doc_id", "text")
    val batch = docs(
      1L -> foxDoc,                                  // already indexed
      4L -> foxDoc.replace("bank", "bend"),          // near-dup of doc 1
      5L -> s"zzz zz $boiler",                       // shifted boilerplate
      6L -> "an entirely novel report about the weather and the harvest")
    val d = decisionsOf(Ingest.screenBatch(
      batch, ndIndex, chunkIdx, "doc_id", "text", threshold = 0.7))
    assert(d == Map(
      1L -> Ingest.AcceptedPrior,
      4L -> Ingest.RejectedNearDup,
      5L -> Ingest.RejectedChunks,
      6L -> Ingest.Accepted), s"got $d")
    graft.GraftCaches.clearAll()
  }

  test("ingestBatch: bootstrap, screening, and retry-decision stability") {
    val base = java.nio.file.Files.createTempDirectory("ingest-spec-").toString
    val nd = base + "/nd"
    val ch = base + "/chunks"
    val ivf = base + "/ivf"

    def run(batch: DataFrame, emb: Map[Long, Array[Float]], epoch: String) = {
      val r = Ingest.ingestBatch(batch, epoch, Ingest.Loop("doc_id", "text",
        nd, ch, ivfIndexPath = Some(ivf), threshold = 0.7, ivfNlist = 1),
        embeddings = Some(emb.toSeq.map { case (id, v) => (id, v) }
          .toDF("vec_id", "embedding")))
      val d = decisionsOf(r.decisions)
      graft.GraftCaches.clearAll()
      (r, d)
    }

    // Bootstrap: nothing exists — everything accepted, all three indexes
    // created by the operator itself.
    val b1 = docs(1L -> foxDoc, 2L -> s"spark is a distributed engine $boiler")
    val (r1, d1) = run(b1, Map(1L -> vecOf(1), 2L -> vecOf(2)), "epoch-1")
    assert(d1.values.forall(_ == Ingest.Accepted), s"bootstrap: $d1")
    assert(r1.appendedDocs == 2 && r1.appendedChunks > 0 &&
      r1.appendedVectors == 2 && !r1.compacted)

    // Batch 2: a near-dup, a shifted boilerplate copy, a novel doc.
    val b2 = docs(
      4L -> foxDoc.replace("bank", "bend"),
      5L -> s"zzz zz $boiler",
      6L -> "an entirely novel report about the weather and the harvest")
    val (r2, d2) = run(b2, Map(6L -> vecOf(6)), "epoch-2")
    assert(d2 == Map(
      4L -> Ingest.RejectedNearDup,
      5L -> Ingest.RejectedChunks,
      6L -> Ingest.Accepted), s"batch 2: $d2")
    assert(r2.appendedDocs == 1 && r2.appendedVectors == 1)

    // Retry of the whole batch (at-least-once crash recovery): decisions
    // stable — the accepted doc short-circuits to accepted_prior instead
    // of rejecting against its own stored chunks — and every append
    // no-ops (the chunk skip distinguishable as -1).
    val ndRows = Ingest.ndIndexAt(spark, nd).count()
    val chTotal = Ingest.chunkIndexAt(spark, ch)
      .agg(org.apache.spark.sql.functions.sum("df_cnt"))
      .collect()(0).getLong(0)
    val (r2b, d2b) = run(b2, Map(6L -> vecOf(6)), "epoch-2")
    assert(d2b == d2 + (6L -> Ingest.AcceptedPrior), s"retry: $d2b")
    assert(r2b.appendedDocs == 0 && r2b.appendedChunks == -1L &&
      r2b.appendedVectors == 0)
    assert(Ingest.ndIndexAt(spark, nd).count() == ndRows,
      "retry grew nd index")
    assert(Ingest.chunkIndexAt(spark, ch)
      .agg(org.apache.spark.sql.functions.sum("df_cnt"))
      .collect()(0).getLong(0) == chTotal, "retry grew chunk index")
    assert(spark.read.parquet(
        ManagedRoot.resolve(spark, ivf) + "/vectors").count() == 3,
      "retry grew vector index")

    // Batch 3 rejects a near-dup of the batch-2 ACCEPTED doc purely via
    // the appended rows, and the appended vector is retrievable.
    val (_, d3) = run(docs(
      7L -> "an entirely novel report about the weather and the harvests",
      8L -> "completely fresh content on training pipelines and shuffles"),
      Map(8L -> vecOf(8)), "epoch-3")
    assert(d3 == Map(
      7L -> Ingest.RejectedNearDup,
      8L -> Ingest.Accepted), s"batch 3: $d3")
    val hit = IVF.ivfTopKIndexed(
        Seq(100L -> vecOf(6)).toDF("vec_id", "embedding"),
        IVF.IvfIndex.read(spark, ivf), k = 1)
      .select("cand_id").as[Long].collect()
    assert(hit.headOption.contains(6L), s"vector lookup: ${hit.toSeq}")
    graft.GraftCaches.clearAll()
  }

  test("crash window between text and chunk/vector appends heals on retry") {
    val base = java.nio.file.Files.createTempDirectory("ingest-crash-").toString
    val nd = base + "/nd"
    val ch = base + "/chunks"
    // Simulate a run that died AFTER the near-dup append but BEFORE the
    // chunk append: the doc is in the nd index, its epoch is not.
    val batch = docs(9L -> s"crashed mid append $boiler epoch")
    assert(Dedup.indexAppend(batch, "doc_id", "text", nd) == 1)
    // The retry short-circuits the doc to accepted_prior AND still
    // records its chunks when it writes the epoch (acceptedAll, not
    // acceptedNew, feeds the chunk append).
    val r = Ingest.ingestBatch(batch, "epoch-9", Ingest.Loop("doc_id", "text",
      nd, ch))
    assert(decisionsOf(r.decisions) == Map(9L -> Ingest.AcceptedPrior))
    assert(r.appendedDocs == 0 && r.appendedChunks > 0)
    // The pre-generation FLAT layout (committed parquet at the root, as
    // the direct indexAppend above wrote) keeps working as-is: no
    // CURRENT pointer is retrofitted around live data.
    assert(!new java.io.File(nd, "CURRENT").exists(),
      "a legacy flat index must not be converted in place")
    val total = Ingest.chunkIndexAt(spark, ch)
      .agg(org.apache.spark.sql.functions.sum("df_cnt"))
      .collect()(0).getLong(0)
    assert(total > 0, "crashed doc's chunks must land on retry")
    graft.GraftCaches.clearAll()
  }

  test("generation compaction keeps totals, flips CURRENT, survives epoch retries") {
    val base = java.nio.file.Files.createTempDirectory("ingest-compact-").toString
    val nd = base + "/nd"
    val ch = base + "/chunks"
    // compactEvery = 3: the third committed epoch triggers a roll.
    // Fully distinct texts — a shared template would trip the near-dup
    // or chunk screens and starve later epochs.
    val texts = Map(
      1L -> "the river flows past the old mill near the quiet village green",
      2L -> "quantum processors require cryogenic cooling for stable overnight operation",
      3L -> "ancient pottery fragments reveal trade routes across the mediterranean basin",
      4L -> "migratory birds navigate vast distances using magnetic fields and stars")
    def run(id: Long, epoch: String) = {
      val r = Ingest.ingestBatch(docs(id -> texts(id)), epoch,
        Ingest.Loop("doc_id", "text", nd, ch, compactEvery = 3))
      graft.GraftCaches.clearAll()
      r
    }
    assert(!run(1L, "e1").compacted)
    assert(!run(2L, "e2").compacted)
    val before = Ingest.chunkIndexAt(spark, ch)
      .as[(String, Long)].collect().toMap
    val r3 = run(3L, "e3")
    assert(r3.compacted, "third epoch must trigger compaction")
    val curDir = ManagedRoot.resolve(spark, ch)
    assert(curDir.endsWith("gen-00001"), s"CURRENT must flip: $curDir")
    assert(new java.io.File(ch, "gen-00000").exists(),
      "the JUST-superseded generation must survive one roll " +
        "(in-flight-reader grace window)")
    // Totals preserved: compacted = pre-roll epochs + epoch 3's chunks.
    val after = Dedup.chunkIndexRead(spark, curDir)
      .as[(String, Long)].collect().toMap
    assert(after.values.sum > before.values.sum,
      "compacted totals must include the triggering epoch")
    assert(before.forall { case (c, n) => after.getOrElse(c, 0L) >= n },
      "compaction lost chunks")
    // Epoch-name idempotence SURVIVES compaction: the generation-local
    // _SUCCESS died with gen-00000, but the root epoch marker did not.
    val retry = run(2L, "e2")
    assert(retry.appendedChunks == -1L,
      s"pre-compaction epoch retry must skip, got ${retry.appendedChunks}")
    assert(Ingest.chunkIndexAt(spark, ch)
      .as[(String, Long)].collect().toMap.values.sum == after.values.sum,
      "epoch retry after compaction must not double-count")
    // And new epochs keep landing in the new generation.
    assert(run(4L, "e4").appendedChunks > 0)
    graft.GraftCaches.clearAll()
  }

  test("quality gate: Gopher-failing docs reject before any append, retry-stable") {
    val base = java.nio.file.Files.createTempDirectory("ingest-qual-").toString
    val nd = base + "/nd"
    val ch = base + "/chunks"
    // Doc 1 passes every Gopher rule (60 tokens, stopword glue, clean);
    // doc 2 fails the token floor. Both are novel to every base screen.
    val clean = (1 to 60).map(i => Seq("the", "river", "of", "ancient",
      "stories")(i % 5)).mkString(" ")
    val batch = docs(1L -> clean, 2L -> "far too short")
    val r1 = Ingest.ingestBatch(batch, "e1", Ingest.Loop("doc_id", "text", nd,
      ch, qualityGate = true))
    val d1 = decisionsOf(r1.decisions)
    assert(d1 == Map(1L -> Ingest.Accepted, 2L -> Ingest.RejectedQuality),
      s"$d1")
    // The gated doc reached NO index: only doc 1's signatures/chunks.
    assert(r1.appendedDocs == 1)
    assert(Ingest.ndIndexAt(spark, nd).select("doc").distinct()
      .collect().map(_.getLong(0)).toSet == Set(1L))
    graft.GraftCaches.clearAll()
    // Retry: the accepted doc short-circuits to accepted_prior; the
    // gated doc re-screens identically (pure function of its text).
    val r2 = Ingest.ingestBatch(batch, "e1", Ingest.Loop("doc_id", "text", nd,
      ch, qualityGate = true))
    val d2 = decisionsOf(r2.decisions)
    assert(d2 == Map(1L -> Ingest.AcceptedPrior,
      2L -> Ingest.RejectedQuality), s"$d2")
    assert(r2.appendedDocs == 0 && r2.appendedChunks == -1L)
    // Unarmed (default), the same batch accepts both — the gate is
    // strictly opt-in.
    val r3 = Ingest.ingestBatch(batch, "e1", Ingest.Loop("doc_id", "text",
      base + "/nd2", base + "/chunks2"))
    assert(decisionsOf(r3.decisions).values.forall(_ == Ingest.Accepted))
    graft.GraftCaches.clearAll()
  }

  test("sampling gate: score-proportional draw rejects before any append; loud null score") {
    val base = java.nio.file.Files.createTempDirectory("ingest-samp-").toString
    val nd = base + "/nd"
    val ch = base + "/chunks"
    // score >= maxScore keeps with probability 1; score 0 never keeps —
    // both ends deterministic without replaying the md5 draw.
    val batch = Seq(
      (1L, "the river flows past the old mill near the quiet village green", 100L),
      (2L, "quantum processors require cryogenic cooling for stable operation", 0L))
      .toDF("doc_id", "text", "score")
    val r1 = Ingest.ingestBatch(batch, "e1", Ingest.Loop("doc_id", "text", nd,
      ch, samplingGate = Some(("score", 100L))))
    val d1 = decisionsOf(r1.decisions)
    assert(d1 == Map(1L -> Ingest.Accepted, 2L -> Ingest.RejectedSampled),
      s"$d1")
    assert(r1.appendedDocs == 1, "the sampled-out doc reached no index")
    assert(Ingest.ndIndexAt(spark, nd).select("doc").distinct()
      .collect().map(_.getLong(0)).toSet == Set(1L))
    graft.GraftCaches.clearAll()
    // Retry with doc 1's score dropped to 0: the accepted_prior
    // short-circuit PRECEDES the gate (decision != accepted never
    // evaluates the draw), and doc 2 re-screens identically.
    val retryBatch = Seq(
      (1L, "the river flows past the old mill near the quiet village green", 0L),
      (2L, "quantum processors require cryogenic cooling for stable operation", 0L))
      .toDF("doc_id", "text", "score")
    val r2 = Ingest.ingestBatch(retryBatch, "e1", Ingest.Loop("doc_id", "text",
      nd, ch, samplingGate = Some(("score", 100L))))
    val d2 = decisionsOf(r2.decisions)
    assert(d2 == Map(1L -> Ingest.AcceptedPrior,
      2L -> Ingest.RejectedSampled), s"$d2")
    assert(r2.appendedDocs == 0 && r2.appendedChunks == -1L)
    graft.GraftCaches.clearAll()
    // A null score on an accepted doc fails LOUD — a gate that silently
    // kept unscored docs would bias the draw.
    val nullBatch = Seq(
      (3L, "ancient pottery fragments reveal trade routes across the basin",
        null.asInstanceOf[java.lang.Long]))
      .toDF("doc_id", "text", "score")
    val e = intercept[Exception] {
      Ingest.ingestBatch(nullBatch, "e1", Ingest.Loop("doc_id", "text",
        base + "/nd2", base + "/ch2", samplingGate = Some(("score", 100L))))
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("null score") ||
      m.contains("no score row")), s"$e")
    graft.GraftCaches.clearAll()
  }

  test("leak gate: cross-split stored near-dups reject below the dup cut, retry-stable, loud contracts") {
    val base = java.nio.file.Files.createTempDirectory("ingest-leak-").toString
    val nd = base + "/nd"
    val ch = base + "/chunks"
    val splits = Seq(("train", 1L), ("test", 1L))
    // Id-draw splits (md5(id + ":split")): 1, 2 -> train; 4, 5, 6, 13 -> test.
    // fox = 13 words -> 11 trigram shingles; a one-word swap changes 2
    // shingles -> jaccard 9/13 ~ 0.69: inside the [0.5, 0.9) leak band,
    // below the strict dup cut.
    val r1 = Ingest.ingestBatch(docs(1L -> foxDoc), "e1", Ingest.Loop("doc_id",
      "text", nd, ch, threshold = 0.9, splitTag = Some((splits, "")),
      leakGate = Some(0.5)))
    assert(decisionsOf(r1.decisions.select("doc_id", "decision")) ==
      Map(1L -> Ingest.Accepted))
    graft.GraftCaches.clearAll()
    val batch2 = docs(
      2L -> foxDoc.replace("quick", "swift"), // train, same split as 1
      4L -> foxDoc.replace("bank", "bend"),   // test: cross-split leak
      5L -> foxDoc,                           // test, but jaccard 1.0: dup
      6L -> "an entirely novel report about the weather and the harvest")
    val r2 = Ingest.ingestBatch(batch2, "e2", Ingest.Loop("doc_id", "text", nd,
      ch, threshold = 0.9, splitTag = Some((splits, "")), leakGate = Some(0.5)))
    val d2 = decisionsOf(r2.decisions.select("doc_id", "decision"))
    assert(d2 == Map(
      2L -> Ingest.Accepted,        // same-split near-dup passes the gate
      4L -> Ingest.RejectedLeak,    // cross-split near-dup of stored doc 1
      5L -> Ingest.RejectedNearDup, // the dup screen fires FIRST
      6L -> Ingest.Accepted), s"$d2")
    // The leak-rejected doc reached no store.
    assert(r2.appendedDocs == 2, s"appendedDocs ${r2.appendedDocs}")
    assert(Ingest.ndIndexAt(spark, nd).select("doc").distinct()
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 6L))
    graft.GraftCaches.clearAll()
    // Retry of epoch 2: accepted docs short-circuit to accepted_prior
    // BEFORE the gate; the leak rejection replays identically (the
    // store only gained docs, the split draws are stateless).
    val r2b = Ingest.ingestBatch(batch2, "e2", Ingest.Loop("doc_id", "text",
      nd, ch, threshold = 0.9, splitTag = Some((splits, "")),
      leakGate = Some(0.5)))
    val d2b = decisionsOf(r2b.decisions.select("doc_id", "decision"))
    assert(d2b == Map(
      2L -> Ingest.AcceptedPrior, 4L -> Ingest.RejectedLeak,
      5L -> Ingest.RejectedNearDup, 6L -> Ingest.AcceptedPrior), s"$d2b")
    assert(r2b.appendedDocs == 0)
    graft.GraftCaches.clearAll()
    // A later batch leaks against a doc ACCEPTED mid-loop (doc 2), not
    // just the bootstrap doc — the gate reads the growing store.
    val r3 = Ingest.ingestBatch(
      docs(13L -> foxDoc.replace("quick", "swift").replace("bank", "bend")),
      "e3", Ingest.Loop("doc_id", "text", nd, ch, threshold = 0.9,
        splitTag = Some((splits, "")), leakGate = Some(0.5)))
    assert(decisionsOf(r3.decisions.select("doc_id", "decision")) ==
      Map(13L -> Ingest.RejectedLeak))
    graft.GraftCaches.clearAll()
    // Loud contracts: the gate needs the id-keyed splitTag, and a leak
    // radius above the dup threshold is dead jurisdiction.
    val e1 = intercept[IllegalArgumentException] {
      Ingest.ingestBatch(docs(7L -> foxDoc), "e1", Ingest.Loop("doc_id",
        "text", base + "/nd2", base + "/ch2", leakGate = Some(0.5)))
    }
    assert(e1.getMessage.contains("splitTag"), s"$e1")
    val e2 = intercept[IllegalArgumentException] {
      Ingest.ingestBatch(
        docs(7L -> foxDoc).withColumn("source",
          org.apache.spark.sql.functions.lit("a")),
        "e1", Ingest.Loop("doc_id", "text", base + "/nd2", base + "/ch2",
          splitTag = Some((splits, "source")), leakGate = Some(0.5)))
    }
    assert(e2.getMessage.contains("id-keyed"), s"$e2")
    val e3 = intercept[IllegalArgumentException] {
      Ingest.ingestBatch(docs(7L -> foxDoc), "e1", Ingest.Loop("doc_id",
        "text", base + "/nd2", base + "/ch2", threshold = 0.7,
        splitTag = Some((splits, "")), leakGate = Some(0.8)))
    }
    assert(e3.getMessage.contains("leakThreshold"), s"$e3")
    graft.GraftCaches.clearAll()
  }

  test("leak gate through ingestSink: stream/batch decision parity; loud at construction") {
    val base = java.nio.file.Files.createTempDirectory("ingest-sinkleak-").toString
    val splits = Seq(("train", 1L), ("test", 1L))
    // The sink is the foreachBatch body — drive it directly as the
    // streaming runtime would (serial calls, increasing batch ids), and
    // run the SAME batches through ingestBatch against a twin store:
    // the stream path must reach decision-for-decision parity,
    // rejected_leak included.
    val sinkReports =
      scala.collection.mutable.ArrayBuffer.empty[Map[Long, String]]
    val sink = Ingest.ingestSink(Ingest.Loop("doc_id", "text", base + "/ndS",
      base + "/chS", threshold = 0.9, splitTag = Some((splits, "")),
      leakGate = Some(0.5)), onReport = (_, r) => sinkReports +=
        decisionsOf(r.decisions.select("doc_id", "decision")))
    val batch1 = docs(1L -> foxDoc)
    val batch2 = docs(
      2L -> foxDoc.replace("quick", "swift"), // train, same split as 1
      4L -> foxDoc.replace("bank", "bend"),   // test: cross-split leak
      5L -> foxDoc,                           // jaccard 1.0: dup screen
      6L -> "an entirely novel report about the weather and the harvest")
    sink(batch1, 0L); sink(batch2, 1L)
    graft.GraftCaches.clearAll()
    val b1 = Ingest.ingestBatch(batch1, "stream-000000000",
      Ingest.Loop("doc_id", "text", base + "/ndB", base + "/chB",
        threshold = 0.9, splitTag = Some((splits, "")), leakGate = Some(0.5)))
    val d1 = decisionsOf(b1.decisions.select("doc_id", "decision"))
    graft.GraftCaches.clearAll()
    val b2 = Ingest.ingestBatch(batch2, "stream-000000001",
      Ingest.Loop("doc_id", "text", base + "/ndB", base + "/chB",
        threshold = 0.9, splitTag = Some((splits, "")), leakGate = Some(0.5)))
    val d2 = decisionsOf(b2.decisions.select("doc_id", "decision"))
    graft.GraftCaches.clearAll()
    assert(sinkReports.toSeq == Seq(d1, d2),
      s"stream/batch gate parity: ${sinkReports.toSeq} vs ${Seq(d1, d2)}")
    assert(d2(4L) == Ingest.RejectedLeak, s"$d2")
    // The leak-rejected doc reached neither store.
    assert(Ingest.ndIndexAt(spark, base + "/ndS").select("doc").distinct()
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 6L))
    // Same-batch-id replay through the sink: decisions stable
    // (acceptances flip to accepted_prior), rejected_leak bit-for-bit.
    sink(batch2, 1L)
    assert(sinkReports(2) == Map(
      2L -> Ingest.AcceptedPrior, 4L -> Ingest.RejectedLeak,
      5L -> Ingest.RejectedNearDup, 6L -> Ingest.AcceptedPrior),
      s"${sinkReports(2)}")
    graft.GraftCaches.clearAll()
    // A mis-armed sink fails at CONSTRUCTION, before any micro-batch:
    // leakGate without the id-keyed splitTag (grouped, or absent), and
    // the outlier gate without the embedding column it screens.
    val e1 = intercept[IllegalArgumentException] {
      Ingest.ingestSink(Ingest.Loop("doc_id", "text", base + "/nd2",
        base + "/ch2", leakGate = Some(0.5)))
    }
    assert(e1.getMessage.contains("splitTag"), s"$e1")
    val e2 = intercept[IllegalArgumentException] {
      Ingest.ingestSink(Ingest.Loop("doc_id", "text", base + "/nd2",
        base + "/ch2", splitTag = Some((splits, "source")),
        leakGate = Some(0.5)))
    }
    assert(e2.getMessage.contains("id-keyed"), s"$e2")
    val e3 = intercept[IllegalArgumentException] {
      Ingest.ingestSink(Ingest.Loop("doc_id", "text", base + "/nd2",
        base + "/ch2", outlierModelPath = Some(base + "/om")))
    }
    assert(e3.getMessage.contains("embeddingCol"), s"$e3")
  }

  test("split tag: decisions carry a retry-stable grouped split; bookkeeping only") {
    val base = java.nio.file.Files.createTempDirectory("ingest-split-").toString
    val nd = base + "/nd"
    val ch = base + "/chunks"
    val batch = Seq(
      (1L, "the river flows past the old mill near the quiet village green", "domA"),
      (2L, "quantum processors require cryogenic cooling for stable operation", "domA"),
      (3L, "ancient pottery fragments reveal trade routes across the basin", "domB"))
      .toDF("doc_id", "text", "source")
    val splits = Seq(("train", 2L), ("test", 1L))
    val r1 = Ingest.ingestBatch(batch, "e1", Ingest.Loop("doc_id", "text", nd,
      ch, splitTag = Some((splits, "source"))))
    val rows1 = r1.decisions.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    // Every decision row carries a tag; the grouped draw is a pure
    // function of the SOURCE, so domA's two docs share a split.
    assert(rows1.keySet == Set(1L, 2L, 3L), s"$rows1")
    assert(rows1.values.forall { case (d, s) =>
      d == Ingest.Accepted && (s == "train" || s == "test") }, s"$rows1")
    assert(rows1(1L)._2 == rows1(2L)._2,
      s"grouped draw must not straddle a domain: $rows1")
    // The tag equals the standalone operator's draw (one code path).
    val expect = graft.ops.CorpusMix.splitAssign(batch, "doc_id", splits,
        byCol = "source")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rows1.map { case (k, (_, s)) => k -> s } == expect, s"$rows1")
    graft.GraftCaches.clearAll()
    // Replayed epoch: decisions flip to accepted_prior, tags IDENTICAL
    // (stateless md5 draw — no store, nothing to drift), appends no-op.
    val r2 = Ingest.ingestBatch(batch, "e1", Ingest.Loop("doc_id", "text", nd,
      ch, splitTag = Some((splits, "source"))))
    val rows2 = r2.decisions.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(rows2.values.forall(_._1 == Ingest.AcceptedPrior), s"$rows2")
    assert(rows2.map { case (k, (_, s)) => k -> s } ==
      rows1.map { case (k, (_, s)) => k -> s },
      s"replay re-drew a split: $rows2 vs $rows1")
    assert(r2.appendedDocs == 0 && r2.appendedChunks == -1L)
    // A tagged call's decisions shape is exactly (doc_id, decision,
    // split)...
    assert(r1.decisions.columns.toSeq == Seq("doc_id", "decision", "split"))
    graft.GraftCaches.clearAll()
    // ...and an UNTAGGED call keeps the two-column shape (asserted on
    // an actual untagged run, not inferred).
    val rPlain = Ingest.ingestBatch(batch, "e1", Ingest.Loop("doc_id", "text",
      base + "/nd-plain", base + "/ch-plain"))
    assert(rPlain.decisions.columns.toSeq == Seq("doc_id", "decision"),
      s"${rPlain.decisions.columns.toSeq}")
    graft.GraftCaches.clearAll()
  }

  test("tokenizer stamp: decisions carry retry-stable model-token counts; bookkeeping only") {
    val base = java.nio.file.Files.createTempDirectory("ingest-tok-").toString
    val nd = base + "/nd"
    val ch = base + "/chunks"
    val batch = Seq(
      (1L, "the river flows past the old mill near the quiet village green"),
      (2L, "quantum processors require cryogenic cooling for stable operation"))
      .toDF("doc_id", "text")
    val model = graft.functions.Bpe.bpeTrain(batch, "text", numMerges = 8)
    val mp = base + "/tokenizer"
    model.write(mp)
    val r1 = Ingest.ingestBatch(batch, "e1", Ingest.Loop("doc_id", "text", nd,
      ch, tokenizerModelPath = Some(mp)))
    assert(r1.decisions.columns.toSeq ==
      Seq("doc_id", "decision", "n_tokens_bpe"), s"${r1.decisions.columns.toSeq}")
    val rows1 = r1.decisions.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // The stamp equals the standalone operator's count (one code path).
    val expect = graft.functions.Bpe.bpeCount(batch, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows1.map { case (k, (_, n)) => k -> n } == expect, s"$rows1")
    assert(rows1.values.forall(_._1 == Ingest.Accepted), s"$rows1")
    graft.GraftCaches.clearAll()
    // Replayed epoch: decisions flip to accepted_prior, counts
    // IDENTICAL (stateless broadcast-model pass — nothing to drift),
    // appends no-op.
    val r2 = Ingest.ingestBatch(batch, "e1", Ingest.Loop("doc_id", "text", nd,
      ch, tokenizerModelPath = Some(mp)))
    val rows2 = r2.decisions.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(rows2.values.forall(_._1 == Ingest.AcceptedPrior), s"$rows2")
    assert(rows2.map { case (k, (_, n)) => k -> n } ==
      rows1.map { case (k, (_, n)) => k -> n },
      s"replay re-counted differently: $rows2 vs $rows1")
    assert(r2.appendedDocs == 0 && r2.appendedChunks == -1L)
    // Composes with the split tag: both bookkeeping columns appear.
    val r3 = Ingest.ingestBatch(batch, "e1", Ingest.Loop("doc_id", "text", nd,
      ch, splitTag = Some((Seq(("train", 1L)), "")),
      tokenizerModelPath = Some(mp)))
    assert(r3.decisions.columns.toSeq ==
      Seq("doc_id", "decision", "split", "n_tokens_bpe"),
      s"${r3.decisions.columns.toSeq}")
    graft.GraftCaches.clearAll()
  }

  test("bin-export family: the loop refreshes the training artifact per batch, replay-stable, vocab-gated") {
    val base = java.nio.file.Files.createTempDirectory("ingest-binexp-").toString
    val nd = base + "/nd"
    val ch = base + "/chunks"
    val root = base + "/bins"
    val b1 = docs(1L -> foxDoc,
      2L -> "quantum processors require cryogenic cooling for operation")
    val b2 = docs(
      3L -> "an entirely novel report about the weather and the harvest",
      4L -> foxDoc) // exact near-dup of 1: rejected, must NOT reach the artifact
    val model = graft.functions.Bpe.bpeTrain(b1.union(b2), "text",
      numMerges = 8)
    val mp = base + "/tok"
    model.write(mp)
    val r1 = Ingest.ingestBatch(b1, "e1", Ingest.Loop("doc_id", "text", nd, ch,
      tokenizerModelPath = Some(mp), binExportRootPath = Some(root),
      binExportShards = 2, binExportBudget = 8))
    graft.GraftCaches.clearAll()
    val r2 = Ingest.ingestBatch(b2, "e2", Ingest.Loop("doc_id", "text", nd, ch,
      tokenizerModelPath = Some(mp), binExportRootPath = Some(root),
      binExportShards = 2, binExportBudget = 8))
    graft.GraftCaches.clearAll()
    assert(r1.binShards >= 1L && r2.binShards >= r1.binShards,
      s"append counts: ${r1.binShards} -> ${r2.binShards}")
    // The artifact's own marker carries the family state AND the
    // tokenizer identity (content fingerprint included).
    val info = graft.sources.BinShards.commitInfo(spark, root)
    assert(info("epochs") == "2" &&
      info("vocab_size") == model.vocab.length.toString &&
      info("alphabet") == model.alphabet &&
      info("model_fp") == model.contentFingerprint, s"$info")
    // Digest parity against a directly-managed twin appended with the
    // ACCEPTED docs only (batch 2's near-dup never reaches the
    // artifact) under the same epochs/salts — the loop's export is the
    // same bytes as the standalone family call's.
    val twin = base + "/twin"
    graft.sources.BinFamily.appendEpoch(
      graft.ops.TrainShuffle.packIdSequences(b1, "doc_id", "text",
        model, numShards = 2, budget = 8, salt = "e1"),
      twin, budget = 8, shardsPerEpoch = 2, epochId = "e1")
    graft.sources.BinFamily.appendEpoch(
      graft.ops.TrainShuffle.packIdSequences(
        docs(3L -> "an entirely novel report about the weather and the harvest"),
        "doc_id", "text", model, numShards = 2, budget = 8, salt = "e2"),
      twin, budget = 8, shardsPerEpoch = 2, epochId = "e2")
    def dig(d: String) = graft.ops.TrainShuffle.packDigest(
        graft.sources.BinShards.read(spark, d), budget = 8)
      .orderBy("shard").collect().map(_.toSeq).toSeq
    assert(dig(root) == dig(twin) && dig(root).nonEmpty,
      "loop-exported artifact drifted from the standalone family twin")
    // Replayed epoch: the family's own root marker makes it a no-op.
    val r3 = Ingest.ingestBatch(b2, "e2", Ingest.Loop("doc_id", "text", nd, ch,
      tokenizerModelPath = Some(mp), binExportRootPath = Some(root),
      binExportShards = 2, binExportBudget = 8))
    graft.GraftCaches.clearAll()
    assert(r3.binShards == -1L && dig(root) == dig(twin),
      s"replayed epoch must not touch the artifact: ${r3.binShards}")
    // Retrained-in-place tokenizer: the content fingerprint in the
    // family config refuses the append LOUD — epochs under two
    // vocabularies must never mix in one artifact.
    graft.functions.Bpe.bpeTrain(b1.union(b2), "text", numMerges = 4)
      .write(mp)
    val eVocab = intercept[Exception] {
      Ingest.ingestBatch(
        docs(9L -> "completely fresh unrelated sentence for epoch three"),
        "e3", Ingest.Loop("doc_id", "text", nd, ch,
          tokenizerModelPath = Some(mp), binExportRootPath = Some(root),
          binExportShards = 2, binExportBudget = 8))
    }
    assert(eVocab.getMessage.contains("config mismatch"), s"$eVocab")
    graft.GraftCaches.clearAll()
    // Mis-armed contracts fail loud — batch (no tokenizer) and sink
    // (at CONSTRUCTION, before any micro-batch).
    val eB = intercept[IllegalArgumentException] {
      Ingest.ingestBatch(b1, "e9", Ingest.Loop("doc_id", "text", nd, ch,
        binExportRootPath = Some(root)))
    }
    assert(eB.getMessage.contains("tokenizer"), s"$eB")
    val eS = intercept[IllegalArgumentException] {
      Ingest.ingestSink(Ingest.Loop("doc_id", "text", nd, ch,
        binExportRootPath = Some(root)))
    }
    assert(eS.getMessage.contains("tokenizerModelPath"), s"$eS")
  }

  test("orphan epoch (crash before root marker) repaired at compaction; retry cannot double-count") {
    val texts = Map(
      1L -> "the river flows past the old mill near the quiet village green",
      2L -> "quantum processors require cryogenic cooling for stable overnight operation",
      3L -> "ancient pottery fragments reveal trade routes across the mediterranean basin")
    // Both epoch families, one input each: (root name, its compaction
    // flag, its epoch-append count, its index read).
    val families = Seq[(String, Ingest.IngestReport => Boolean,
        Ingest.IngestReport => Long, (SparkSession, String) => DataFrame)](
      ("chunks", _.compacted, _.appendedChunks, Ingest.chunkIndexAt(_, _)),
      ("spans", _.spanCompacted, _.appendedSpans, Ingest.spanIndexAt(_, _)))
    families.foreach { case (family, compacted, appended, read) =>
      val base = java.nio.file.Files.createTempDirectory("ingest-orphan-").toString
      val root = s"$base/$family"
      def run(id: Long, epoch: String) = {
        val r = Ingest.ingestBatch(docs(id -> texts(id)), epoch,
          Ingest.Loop("doc_id", "text", base + "/nd", base + "/chunks",
            compactEvery = 3, spanRootPath = Some(base + "/spans"),
            spanCompactEvery = 3))
        graft.GraftCaches.clearAll()
        r
      }
      def counts() = read(spark, root).collect()
        .map(r => r.get(0) -> r.getLong(1)).toMap
      run(1L, "e1")
      run(2L, "e2")
      // Simulate the crash window: e2's gen-local epoch committed but the
      // run died before creating the root marker. Without repair, e3's
      // compaction folds the orphan and e2's later retry re-appends it
      // into the new generation — double-counting df_cnt.
      val marker = new java.io.File(root + "/epochs", "e2")
      assert(marker.delete(), s"$family fixture: root marker must exist")
      val r3 = run(3L, "e3")
      assert(compacted(r3), s"$family: third committed epoch must roll")
      assert(marker.exists(),
        s"$family: compaction must repair the orphan's root marker first")
      val folded = counts()
      val retry = run(2L, "e2")
      assert(appended(retry) == -1L,
        s"$family: repaired epoch's retry must skip, got ${appended(retry)}")
      assert(counts() == folded,
        s"$family: retry after repair must not change any df_cnt")
      graft.GraftCaches.clearAll()
    }
  }

  test("near-dup generations: file growth bounded, decisions stable across rolls") {
    val base = java.nio.file.Files.createTempDirectory("ingest-ndgen-").toString
    val nd = base + "/nd"
    val ch = base + "/chunks"
    val texts = Map(
      1L -> "the river flows past the old mill near the quiet village green",
      2L -> "quantum processors require cryogenic cooling for stable overnight operation",
      3L -> "the river flows past the old mill near the quiet village square",
      4L -> "migratory birds navigate vast distances using magnetic fields and stars")
    // Each 1-doc append lands exactly one right-sized file, so
    // ndCompactFiles = 2 rolls the generation on every second accept.
    def run(id: Long, epoch: String) = {
      val r = Ingest.ingestBatch(docs(id -> texts(id)), epoch,
        Ingest.Loop("doc_id", "text", nd, ch, ndCompactFiles = 2))
      val d = decisionsOf(r.decisions)
      graft.GraftCaches.clearAll()
      (r, d)
    }
    // A fresh root adopts the managed layout.
    val (r1, _) = run(1L, "e1")
    assert(new java.io.File(nd, "CURRENT").exists(), "fresh root must be managed")
    assert(!r1.ndCompacted, "one committed file must not trigger a roll")
    // Second accept -> two files -> roll: compacted successor, old
    // generation swept, every indexed signature carried over.
    val (r2, _) = run(2L, "e2")
    assert(r2.ndCompacted, "second committed file must trigger the roll")
    assert(new java.io.File(nd, "gen-00001").exists() &&
      new java.io.File(nd, "gen-00000").exists(),
      "CURRENT must flip; the just-superseded generation survives one " +
        "roll as the reader grace window")
    assert(Ingest.ndIndexAt(spark, nd).count() == 2)
    // Retry of a pre-roll epoch: the doc short-circuits against the
    // COMPACTED rows; nothing is appended, nothing rolls.
    val (r2b, d2b) = run(2L, "e2")
    assert(d2b == Map(2L -> Ingest.AcceptedPrior), s"retry: $d2b")
    assert(r2b.appendedDocs == 0 && !r2b.ndCompacted)
    // The compacted index still screens: doc 3 is a near-dup of doc 1.
    val (r3, d3) = run(3L, "e3")
    assert(d3 == Map(3L -> Ingest.RejectedNearDup), s"screen: $d3")
    assert(r3.appendedDocs == 0 && !r3.ndCompacted)
    // The next accept re-arms the cycle and rolls again: the NEW roll
    // keeps ITS predecessor (gen-00001) and sweeps the older grace
    // generation (gen-00000) — exactly one superseded generation alive.
    val (r4, d4) = run(4L, "e4")
    assert(d4 == Map(4L -> Ingest.Accepted), s"accept: $d4")
    assert(r4.ndCompacted, "second file in the new generation must roll")
    assert(new java.io.File(nd, "gen-00002").exists() &&
      new java.io.File(nd, "gen-00001").exists() &&
      !new java.io.File(nd, "gen-00000").exists(),
      "the second roll must sweep the OLDER grace generation only")
    assert(Ingest.ndIndexAt(spark, nd).count() == 3)
    graft.GraftCaches.clearAll()
  }

  test("a frame resolved pre-roll still materializes post-roll (grace window)") {
    val base = java.nio.file.Files.createTempDirectory("ingest-grace-").toString
    val nd = base + "/nd"
    val ch = base + "/chunks"
    val texts = Map(
      1L -> "the river flows past the old mill near the quiet village green",
      2L -> "quantum processors require cryogenic cooling for stable overnight operation")
    def run(id: Long, epoch: String) = {
      val r = Ingest.ingestBatch(docs(id -> texts(id)), epoch,
        Ingest.Loop("doc_id", "text", nd, ch, ndCompactFiles = 2))
      graft.GraftCaches.clearAll()
      r
    }
    run(1L, "e1")
    // A concurrent reader resolves the index frame NOW (file list pinned
    // to gen-00000's snapshot)...
    val preRoll = Ingest.ndIndexAt(spark, nd)
    // ...then the writer's next batch triggers a compaction roll.
    assert(run(2L, "e2").ndCompacted)
    assert(Ingest.ndIndexAt(spark, nd).count() == 2)
    // The pre-roll frame must still materialize: its generation was
    // superseded but NOT swept (the one-roll grace contract).
    assert(preRoll.count() == 1,
      "a frame resolved before the roll lost its files")
    graft.GraftCaches.clearAll()
  }

  test("acceptedWithoutVector surfaces embedding-coverage gaps") {
    val base = java.nio.file.Files.createTempDirectory("ingest-novec-").toString
    val batch = docs(
      1L -> "the river flows past the old mill near the quiet village green",
      2L -> "quantum processors require cryogenic cooling for stable overnight operation")
    // Only doc 1 has an embedding: doc 2 is accepted but never reaches
    // the vector index — the report must say so.
    val r = Ingest.ingestBatch(batch, "e1", Ingest.Loop("doc_id", "text",
      base + "/nd", base + "/chunks", ivfIndexPath = Some(base + "/ivf"),
      ivfNlist = 1),
      embeddings = Some(Seq((1L, vecOf(1))).toDF("vec_id", "embedding")))
    assert(decisionsOf(r.decisions).values.forall(_ == Ingest.Accepted))
    assert(r.appendedVectors == 1 && r.acceptedWithoutVector == 1,
      s"got vectors=${r.appendedVectors} noVec=${r.acceptedWithoutVector}")
    graft.GraftCaches.clearAll()
  }

  test("indexReport: one audit row per family with layout, files, rows, epochs") {
    val base = java.nio.file.Files.createTempDirectory("ingest-report-").toString
    val nd = base + "/nd"
    val ch = base + "/chunks"
    val ivf = base + "/ivf"
    // Before anything exists: every family reports absent with zeros,
    // and the report itself must not bootstrap any layout on disk.
    val empty = Ingest.indexReport(spark, nd, ch, Some(ivf))
      .as[(String, String, String, Long, Long, Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    assert(empty.keySet == Set("neardup", "chunk", "ivf"))
    assert(empty.values.forall(r => r._2 == "absent" && r._4 == 0 && r._5 == 0),
      s"absent roots: ${empty.values}")
    assert(!new java.io.File(nd).exists() && !new java.io.File(ch).exists(),
      "a read-only report must not create index layouts")

    val r1 = Ingest.ingestBatch(docs(
        1L -> "the river flows past the old mill near the quiet village green",
        2L -> "quantum processors require cryogenic cooling for stable operation"),
      "e1",
      Ingest.Loop("doc_id", "text", nd, ch, ivfIndexPath = Some(ivf),
        ivfNlist = 1),
      embeddings = Some(Seq((1L, vecOf(1)), (2L, vecOf(2)))
        .toDF("vec_id", "embedding")))
    assert(r1.appendedDocs == 2)
    graft.GraftCaches.clearAll()
    val rep = Ingest.indexReport(spark, nd, ch, Some(ivf))
      .as[(String, String, String, Long, Long, Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    val ndR = rep("neardup")
    assert(ndR._2 == "managed" && ndR._3 == "gen-00000" &&
      ndR._4 >= 1 && ndR._5 == 2, s"nd row: $ndR")
    val chR = rep("chunk")
    assert(chR._2 == "managed" && chR._6.contains(1L) &&
      chR._7.contains(1L) && chR._5 > 0, s"chunk row: $chR")
    val ivfR = rep("ivf")
    assert(ivfR._2 == "managed" && ivfR._5 == 2, s"ivf row: $ivfR")
    graft.GraftCaches.clearAll()
  }

  test("outlier gate: out-of-distribution embeddings reject before any append, retry-stable") {
    val base = java.nio.file.Files.createTempDirectory("ingest-outgate-").toString
    // Yardstick trained on 20 IDENTICAL vectors: centroid == the vector,
    // every training distance 0, p90 = 0 — so dist 0 passes (0 > 2*0 is
    // false) and ANY deviation flags. Fully deterministic.
    val v0 = vecOf(3)
    graft.functions.IVF.embedOutliersTrain(
        (0 until 20).map(i => (100L + i, v0)).toDF("vec_id", "embedding"),
        nlist = 1)
      .write(base + "/om")
    val batch = docs(
      1L -> "the river flows past the old mill near the quiet village green",
      2L -> "quantum processors require cryogenic cooling for stable operation",
      3L -> "ancient pottery fragments reveal trade routes across the basin")
    val emb = Seq(
      (1L, v0), // in-distribution: passes
      (2L, Array.fill(8)(9.0f))) // far off the yardstick: gated
      .toDF("vec_id", "embedding") // doc 3 has NO embedding: passes
    def run() = {
      val r = Ingest.ingestBatch(batch, "e1", Ingest.Loop("doc_id", "text",
        base + "/nd", base + "/chunks", ivfIndexPath = Some(base + "/ivf"),
        ivfNlist = 1, outlierModelPath = Some(base + "/om")),
        embeddings = Some(emb))
      val d = decisionsOf(r.decisions)
      graft.GraftCaches.clearAll()
      (r, d)
    }
    val (r1, d1) = run()
    assert(d1 == Map(
      1L -> Ingest.Accepted,
      2L -> Ingest.RejectedOutlier,
      3L -> Ingest.Accepted), s"gate decisions: $d1")
    // The gated doc reached NO index; the embedding-less accept is
    // audited, not gated.
    assert(r1.appendedDocs == 2 && r1.appendedVectors == 1 &&
      r1.acceptedWithoutVector == 1, s"report: $r1")
    assert(Ingest.ndIndexAt(spark, base + "/nd").count() == 2)
    // Retry: passed docs short-circuit to accepted_prior BEFORE the
    // gate; the gated doc re-screens identically off the fixed model.
    val (r1b, d1b) = run()
    assert(d1b == Map(
      1L -> Ingest.AcceptedPrior,
      2L -> Ingest.RejectedOutlier,
      3L -> Ingest.AcceptedPrior), s"retry: $d1b")
    assert(r1b.appendedDocs == 0 && r1b.appendedVectors == 0)
    // Arming the gate without embeddings is a loud misuse.
    val ex = intercept[IllegalArgumentException] {
      Ingest.ingestBatch(batch, "e1", Ingest.Loop("doc_id", "text",
        base + "/nd2", base + "/chunks2",
        outlierModelPath = Some(base + "/om")))
    }
    assert(ex.getMessage.contains("outlier gate"))
    graft.GraftCaches.clearAll()
  }

  test("span gate: stored-passage coverage rejects, appends accrue, retry-stable, compaction folds") {
    val base = java.nio.file.Files.createTempDirectory("ingest-spangate-").toString
    val nd = base + "/nd"
    val ch = base + "/chunks"
    val sp = base + "/spans"
    val passage = "all rights reserved contact us for terms of use today"
    def run(epoch: String, b: DataFrame) = {
      // dupRatio = 2.0 disarms the chunk screen so the decisions below
      // are attributable to the SPAN gate alone (CDC chunk boundaries
      // inside the shared passage would otherwise be a second, chunking-
      // dependent rejection path).
      val r = Ingest.ingestBatch(b, epoch, Ingest.Loop("doc_id", "text", nd,
        ch, dupRatio = 2.0, spanRootPath = Some(sp), spanK = 5,
        maxBoilerplate = 0.5, spanCompactEvery = 3))
      val d = decisionsOf(r.decisions)
      graft.GraftCaches.clearAll()
      (r, d)
    }
    // Batch 1 seeds the span store: the gate sees an EMPTY index, so
    // everything the text screens accept passes.
    val (r1, d1) = run("e1", docs(
      1L -> s"$passage plus a perfectly original closing thought here",
      2L -> "completely novel prose about migratory birds over the delta"))
    assert(d1.values.forall(_ == Ingest.Accepted), s"$d1")
    assert(r1.appendedSpans > 0 && !r1.spanCompacted, s"$r1")
    // Batch 2: doc 10 is MOSTLY the stored passage (coverage >= 0.5 of
    // its spans) -> rejected_boilerplate, nothing appended for it; doc
    // 11 embeds a short quote (coverage < 0.5) and passes; doc 12 is
    // novel. The near-dup screen does NOT fire here (different docs),
    // the chunk ratio is under its own threshold - the span gate is the
    // only screen that catches the assembled-boilerplate doc.
    val (r2, d2) = run("e2", docs(
      10L -> s"$passage and little else",
      11L -> s"a long and clearly original report that happens to cite $passage while adding substantial new analysis throughout its many fresh sentences about the local economy",
      12L -> "fresh observations about tidal patterns near the estuary"))
    assert(d2(10L) == Ingest.RejectedBoilerplate, s"$d2")
    assert(d2(11L) == Ingest.Accepted && d2(12L) == Ingest.Accepted, s"$d2")
    // The gated doc reached no index: nd holds batch-1 accepts + batch-2
    // accepts only.
    assert(Ingest.ndIndexAt(spark, nd).count() == 4)
    // Retry of epoch 2: accepted docs short-circuit to accepted_prior,
    // the gated doc re-screens against a store that only GAINED spans -
    // still rejected; span epoch append skips (-1).
    val (r2b, d2b) = run("e2", docs(
      10L -> s"$passage and little else",
      11L -> s"a long and clearly original report that happens to cite $passage while adding substantial new analysis throughout its many fresh sentences about the local economy",
      12L -> "fresh observations about tidal patterns near the estuary"))
    assert(d2b(10L) == Ingest.RejectedBoilerplate, s"$d2b")
    assert(d2b(11L) == Ingest.AcceptedPrior &&
      d2b(12L) == Ingest.AcceptedPrior, s"$d2b")
    assert(r2b.appendedSpans == -1L, s"retry must skip the epoch: $r2b")
    // Third committed epoch trips spanCompactEvery = 3: totals survive
    // the fold, CURRENT flips, and the audit row reports the managed
    // layout with ONE compacted epoch.
    val totalBefore = Ingest.spanIndexAt(spark, sp)
      .agg(org.apache.spark.sql.functions.sum("df_cnt")).head.getLong(0)
    val (r3, _) = run("e3", docs(
      20L -> "yet another entirely novel contribution on riverbed geology"))
    assert(r3.spanCompacted, s"third epoch must trip the fold: $r3")
    val after = Ingest.spanIndexAt(spark, sp)
    val totalAfter = after
      .agg(org.apache.spark.sql.functions.sum("df_cnt")).head.getLong(0)
    assert(totalAfter == totalBefore + r3.appendedSpans,
      s"totals must survive the fold: $totalBefore + ${r3.appendedSpans} " +
        s"!= $totalAfter")
    val report = Ingest.indexReport(spark, nd, ch,
        spanRootPath = Some(sp))
      .filter(org.apache.spark.sql.functions.col("family") === "span")
      .collect().head
    assert(report.getString(1) == "managed" &&
      report.getAs[Long]("epochs") == 1L &&
      report.getAs[Long]("epoch_markers") == 3L, s"span audit row: $report")
    graft.GraftCaches.clearAll()
  }

  test("vector-index generations: compaction keeps totals, probes still answer") {
    val base = java.nio.file.Files.createTempDirectory("ingest-ivfgen-").toString
    val nd = base + "/nd"
    val ch = base + "/chunks"
    val ivf = base + "/ivf"
    val texts = Map(
      1L -> "the river flows past the old mill near the quiet village green",
      2L -> "quantum processors require cryogenic cooling for stable overnight operation",
      3L -> "ancient pottery fragments reveal trade routes across the mediterranean basin",
      4L -> "migratory birds navigate vast distances using magnetic fields and stars")
    def run(id: Long, epoch: String) = {
      val r = Ingest.ingestBatch(docs(id -> texts(id)), epoch,
        Ingest.Loop("doc_id", "text", nd, ch, ivfIndexPath = Some(ivf),
          ivfNlist = 1, ivfCompactFiles = 2),
        embeddings = Some(Seq((id, vecOf(id.toInt))).toDF("vec_id", "embedding")))
      graft.GraftCaches.clearAll()
      r
    }
    // Fresh root adopts the managed layout; the bootstrap build is one
    // file, no roll.
    val r1 = run(1L, "e1")
    assert(new java.io.File(ivf, "CURRENT").exists(),
      "fresh vector root must be managed")
    assert(r1.appendedVectors == 1 && !r1.ivfCompacted)
    // Second accepted vector lands an append file -> threshold 2 -> roll.
    val r2 = run(2L, "e2")
    assert(r2.appendedVectors == 1 && r2.ivfCompacted,
      s"second vector file must trigger the roll: $r2")
    val dir2 = ManagedRoot.resolve(spark, ivf)
    assert(dir2.endsWith("gen-00001"), s"CURRENT must flip: $dir2")
    // Totals survive the fold, and the compacted successor is ONE
    // cell-sorted file (the flat-probe-latency property).
    assert(spark.read.parquet(dir2 + "/vectors").count() == 2,
      "compaction lost vectors")
    assert(new java.io.File(dir2 + "/vectors").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1,
      "compacted generation must fold the append tail")
    // Probes answer through the resolver across the roll...
    val hit = IVF.ivfTopKIndexed(
        Seq(100L -> vecOf(2)).toDF("vec_id", "embedding"),
        IVF.IvfIndex.read(spark, ivf), k = 1)
      .select("cand_id").as[Long].collect()
    assert(hit.headOption.contains(2L), s"post-roll probe: ${hit.toSeq}")
    graft.GraftCaches.clearAll()
    // ...and by-vec-id idempotence survives compaction: a full-batch
    // retry appends nothing and does not re-roll.
    val r2b = run(2L, "e2")
    assert(r2b.appendedVectors == 0 && !r2b.ivfCompacted,
      s"retry must no-op against the compacted rows: $r2b")
    // The cycle re-arms: at threshold 2 every accepted append (1
    // compacted file + 1 fresh) re-rolls, and each roll keeps exactly
    // its predecessor while sweeping older grace generations.
    val r3 = run(3L, "e3")
    assert(r3.ivfCompacted, "append onto a compacted generation must re-roll")
    val r4 = run(4L, "e4")
    assert(r4.ivfCompacted)
    assert(new java.io.File(ivf, "gen-00003").exists() &&
      new java.io.File(ivf, "gen-00002").exists() &&
      !new java.io.File(ivf, "gen-00001").exists() &&
      !new java.io.File(ivf, "gen-00000").exists(),
      "each roll keeps one grace generation and sweeps the rest")
    assert(spark.read.parquet(
        ManagedRoot.resolve(spark, ivf) + "/vectors").count() == 4)
    graft.GraftCaches.clearAll()
  }

  test("pq-index generations: bootstrap, idempotent appends, compaction, audit row") {
    val base = java.nio.file.Files.createTempDirectory("ingest-pqgen-").toString
    val nd = base + "/nd"
    val ch = base + "/chunks"
    val pq = base + "/pq"
    val texts = Map(
      1L -> "the river flows past the old mill near the quiet village green",
      2L -> "quantum processors require cryogenic cooling for stable overnight operation",
      3L -> "ancient pottery fragments reveal trade routes across the mediterranean basin",
      4L -> "migratory birds navigate vast distances using magnetic fields and stars")
    def run(id: Long, epoch: String) = {
      val r = Ingest.ingestBatch(docs(id -> texts(id)), epoch,
        Ingest.Loop("doc_id", "text", nd, ch, pqIndexPath = Some(pq),
          ivfNlist = 1, pqCompactFiles = 2, pqM = 4),
        embeddings = Some(Seq((id, vecOf(id.toInt))).toDF("vec_id", "embedding")))
      graft.GraftCaches.clearAll()
      r
    }
    // Fresh root adopts the managed layout; the bootstrap build trains
    // both quantizers on the first accepted batch (k clamped to 1 point
    // — coarse by design) and lands the full triple.
    val r1 = run(1L, "e1")
    assert(new java.io.File(pq, "CURRENT").exists(),
      "fresh pq root must be managed")
    assert(r1.appendedCodes == 1 && !r1.pqCompacted, s"bootstrap: $r1")
    val dir1 = ManagedRoot.resolve(spark, pq)
    for (part <- Seq("centroids", "codebooks", "codes"))
      assert(new java.io.File(dir1, part).exists(), s"missing $part")
    // Second accepted vector encodes with the STORED quantizers, lands
    // an append file -> threshold 2 -> roll.
    val r2 = run(2L, "e2")
    assert(r2.appendedCodes == 1 && r2.pqCompacted,
      s"second code file must trigger the roll: $r2")
    val dir2 = ManagedRoot.resolve(spark, pq)
    assert(dir2.endsWith("gen-00001"), s"CURRENT must flip: $dir2")
    assert(spark.read.parquet(dir2 + "/codes").count() == 2,
      "compaction lost code rows")
    assert(new java.io.File(dir2 + "/codes").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1,
      "compacted generation must fold the append tail")
    // The ADC screen still answers through the resolver across the roll
    // (retrieval QUALITY is the oracle query's and the agreement spec's
    // concern — bootstrap codebooks from one point are degenerate by
    // construction; the lifecycle contract is that probes keep working).
    val hits = PQ.ivfpqTopKIndexed(
        Seq(100L -> vecOf(2)).toDF("vec_id", "embedding"),
        PQ.PqIndex.read(spark, pq), k = 2, nprobe = 1)
      .select("cand_id").as[Long].collect().toSet
    assert(hits.nonEmpty && hits.subsetOf(Set(1L, 2L)),
      s"post-roll ADC probe: $hits")
    graft.GraftCaches.clearAll()
    // By-vec-id idempotence survives compaction: a full-batch retry
    // appends nothing and does not re-roll.
    val r2b = run(2L, "e2")
    assert(r2b.appendedCodes == 0 && !r2b.pqCompacted,
      s"retry must no-op against the compacted rows: $r2b")
    // The cycle re-arms and each roll keeps exactly one grace generation.
    val r3 = run(3L, "e3")
    assert(r3.pqCompacted, "append onto a compacted generation must re-roll")
    val r4 = run(4L, "e4")
    assert(r4.pqCompacted)
    assert(new java.io.File(pq, "gen-00003").exists() &&
      new java.io.File(pq, "gen-00002").exists() &&
      !new java.io.File(pq, "gen-00001").exists() &&
      !new java.io.File(pq, "gen-00000").exists(),
      "each roll keeps one grace generation and sweeps the rest")
    assert(spark.read.parquet(
        ManagedRoot.resolve(spark, pq) + "/codes").count() == 4)
    // The audit surfaces the family next to the others.
    val report = Ingest.indexReport(spark, nd, ch, None, Some(pq))
      .select("family", "layout", "generation", "rows")
      .as[(String, String, String, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(report.keySet == Set("neardup", "chunk", "pq"),
      s"families: ${report.keySet}")
    assert(report("pq")._2 == "managed" && report("pq")._3 == "gen-00003" &&
      report("pq")._4 == 4L, s"pq audit row: ${report("pq")}")
    graft.GraftCaches.clearAll()
  }

  test("both vector families in one loop: shared accepted-embeddings frame, symmetric appends") {
    val base = java.nio.file.Files.createTempDirectory("ingest-both-").toString
    val texts = Map(
      1L -> "the river flows past the old mill near the quiet village green",
      2L -> "quantum processors require cryogenic cooling for stable overnight operation")
    def run(id: Long, epoch: String, withVec: Boolean) = {
      val emb =
        if (withVec) Seq((id, vecOf(id.toInt))).toDF("vec_id", "embedding")
        else Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
      val r = Ingest.ingestBatch(docs(id -> texts(id)), epoch,
        Ingest.Loop("doc_id", "text", base + "/nd", base + "/chunks",
          ivfIndexPath = Some(base + "/ivf"), pqIndexPath = Some(base + "/pq"),
          ivfNlist = 1, pqM = 4), embeddings = Some(emb))
      graft.GraftCaches.clearAll()
      r
    }
    // Both families bootstrap from the same accepted batch and append
    // symmetrically from the ONE shared (persisted) embeddings frame.
    val r1 = run(1L, "e1", withVec = true)
    assert(r1.appendedVectors == 1 && r1.appendedCodes == 1 &&
      r1.acceptedWithoutVector == 0, s"bootstrap: $r1")
    // An accepted doc with NO embedding row reaches neither family and
    // is audited once.
    val r2 = run(2L, "e2", withVec = false)
    assert(r2.appendedVectors == 0 && r2.appendedCodes == 0 &&
      r2.acceptedWithoutVector == 1, s"coverage gap: $r2")
    // Both indexes answer from their stores.
    val ivfHit = IVF.ivfTopKIndexed(
        Seq(100L -> vecOf(1)).toDF("vec_id", "embedding"),
        IVF.IvfIndex.read(spark, base + "/ivf"), k = 1)
      .select("cand_id").as[Long].collect()
    assert(ivfHit.headOption.contains(1L), s"ivf probe: ${ivfHit.toSeq}")
    val pqHit = PQ.ivfpqTopKIndexed(
        Seq(100L -> vecOf(1)).toDF("vec_id", "embedding"),
        PQ.PqIndex.read(spark, base + "/pq"), k = 1, nprobe = 1)
      .select("cand_id").as[Long].collect()
    assert(pqHit.headOption.contains(1L), s"pq probe: ${pqHit.toSeq}")
    graft.GraftCaches.clearAll()
    // A full retry no-ops BOTH families.
    val r1b = run(1L, "e1", withVec = true)
    assert(r1b.appendedVectors == 0 && r1b.appendedCodes == 0,
      s"retry must no-op both families: $r1b")
    graft.GraftCaches.clearAll()
  }
}
