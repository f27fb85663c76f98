package graft.app

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.{IVF, Ingest}

/**
 * The COMPLETE incremental-ingestion loop executed end-to-end across
 * FOUR persisted index families, driven by the FIRST-CLASS operator
 * ([[graft.functions.Ingest.ingestBatch]] — one call per batch):
 *
 *   per batch: 1. NEAR-DUP screen against the stored minhash index
 *              2. EXACT-SUBSTRING screen against the stored chunk counts
 *                 (content-defined chunks, so shifted boilerplate counts)
 *              2b. BOILERPLATE gate against the stored span counts
 *                 (k-gram coverage, so MOSAIC reuse assembled from many
 *                 sources counts even when no chunk or near-dup matches)
 *              3. accepted docs append to the text + span indexes, their
 *                 embeddings to the IVF vector index — every append
 *                 IDEMPOTENT (a crashed loop's retry re-runs the whole
 *                 batch safely and reaches the same decisions)
 *
 * Every decision and append is cluster-side (anti-/semi-joins) — no
 * driver-side id sets, no isin literal lists. The corpus is never
 * re-shingled, re-chunked, re-assigned, or re-read: each batch pays only
 * its own size plus index scans. Asserts every accept/reject decision,
 * the retry no-ops, and that a later vector query retrieves an appended
 * embedding.
 */
object FullIngestDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val base = Files.createTempDirectory("full-ingest-").toString
    val ndDir = base + "/neardup"
    val chDir = base + "/chunks"
    val ivfDir = base + "/ivf"
    val spDir = base + "/spans"

    def docs(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")
    def vecOf(seed: Int): Array[Float] =
      Array.tabulate(8)(d => math.sin(seed * 3 + d).toFloat)

    def ingest(batch: DataFrame, embeddings: Map[Long, Array[Float]],
        epoch: String): (Ingest.IngestReport, Map[Long, String]) = {
      val r = Ingest.ingestBatch(batch, "doc_id", "text", ndDir, chDir,
        epoch,
        embeddings = Some(embeddings.toSeq.map { case (id, v) => (id, v) }
          .toDF("vec_id", "embedding")),
        ivfIndexPath = Some(ivfDir), threshold = 0.7, ivfNlist = 1,
        spanRootPath = Some(spDir))
      val d = r.decisions.as[(Long, String)].collect().toMap
      graft.GraftCaches.clearAll()
      (r, d)
    }

    val boiler = "all rights reserved corpus contact us for terms boundary"
    val a = "the quick brown fox jumps over the lazy dog near the river bank"
    val b = s"spark is a distributed engine that runs queries in parallel $boiler"

    // ---- bootstrap: batch 1 seeds all three indexes (the operator
    //      creates them — no manual seeding step) -------------------------
    val (r1, d1) = ingest(docs(1L -> a, 2L -> b),
      Map(1L -> vecOf(1), 2L -> vecOf(2)), "epoch-1")
    assert(d1.values.forall(_ == Ingest.Accepted), s"bootstrap: $d1")
    assert(r1.appendedDocs == 2 && r1.appendedVectors == 2)

    // ---- batch 2: one near-dup (rejected by minhash), one boilerplate
    //      copy at a SHIFTED offset (rejected by the CDC chunk screen —
    //      fixed windows would have missed it), one novel doc ------------
    val batch2 = docs(
      4L -> a.replace("bank", "bend"),      // near-dup of doc 1
      5L -> s"zzz zz $boiler",              // boilerplate shifted 2 tokens
      6L -> "an entirely novel report about the weather and the harvest")
    val (_, d2) = ingest(batch2, Map(6L -> vecOf(6)), "epoch-2")
    assert(d2 == Map(
      4L -> Ingest.RejectedNearDup,
      5L -> Ingest.RejectedChunks,
      6L -> Ingest.Accepted), s"batch 2: $d2")

    // Retry of the whole batch (crash recovery): decisions stable — the
    // accepted doc short-circuits to accepted_prior instead of rejecting
    // against its own stored chunks — and every append no-ops.
    val ndRows = Ingest.ndIndexAt(spark, ndDir).count()
    val chTotal = Ingest
      .chunkIndexAt(spark, chDir)
      .agg(org.apache.spark.sql.functions.sum("df_cnt")).collect()(0).getLong(0)
    val (r2b, d2b) = ingest(batch2, Map(6L -> vecOf(6)), "epoch-2")
    assert(d2b == d2 + (6L -> Ingest.AcceptedPrior),
      s"retry decisions changed: $d2b")
    assert(r2b.appendedDocs == 0 && r2b.appendedChunks == -1L &&
      r2b.appendedVectors == 0 && r2b.appendedSpans == -1L,
      s"retry must no-op: $r2b")
    assert(Ingest.ndIndexAt(spark, ndDir).count() == ndRows,
      "retry grew nd index")
    assert(Ingest
      .chunkIndexAt(spark, chDir)
      .agg(org.apache.spark.sql.functions.sum("df_cnt")).collect()(0).getLong(0)
      == chTotal, "retry grew chunk index")
    // IvfIndex.read resolves the managed generation layout the loop
    // lays down (a direct <root>/vectors read would miss gen-00000).
    assert(IVF.IvfIndex.read(spark, ivfDir).vectors.count() == 3,
      "retry grew vector index")

    // ---- batch 3: a near-dup of the batch-2 ACCEPTED doc is rejected
    //      purely via the appended rows; doc 9 is boilerplate ASSEMBLED
    //      from fragments of TWO stored docs — each fragment too short
    //      for the chunk screen, the mosaic too diluted for any single
    //      near-dup match, but the stored-span coverage crosses the
    //      gate's cut (the case only the span family catches); a vector
    //      query finds doc 6's appended embedding ---------------------------
    val (_, d3) = ingest(docs(
      7L -> "an entirely novel report about the weather and the harvests",
      8L -> "completely fresh content on training pipelines and shuffles",
      9L -> ("the quick brown fox jumps over the lazy " + // 8 toks of doc 1
        "engine that runs queries in parallel all rights " + // 8 of doc 2
        "dog near the river bank")), // 5 more of doc 1
      Map(8L -> vecOf(8)), "epoch-3")
    assert(d3 == Map(
      7L -> Ingest.RejectedNearDup,
      8L -> Ingest.Accepted,
      9L -> Ingest.RejectedBoilerplate),
      s"batch 3 (7 via the APPEND, 9 via the SPAN gate): $d3")

    val idx = IVF.IvfIndex.read(spark, ivfDir)
    val hit = IVF.ivfTopKIndexed(
        Seq(100L -> vecOf(6)).toDF("vec_id", "embedding"), idx, k = 1)
      .select("cand_id").as[Long].collect()
    assert(hit.headOption.contains(6L),
      s"appended embedding must be retrievable: ${hit.toSeq}")

    println("[demo] FullIngestDemo PASS: Ingest.ingestBatch screened and " +
      "appended three batches across the minhash + CDC-chunk + span + " +
      "vector indexes idempotently; shifted boilerplate rejected by the " +
      "chunk screen, MOSAIC boilerplate by the span gate, retry no-oped " +
      "with stable decisions, appended vector retrieved")
    graft.GraftCaches.clearAll() // leave no dead frames registered
    spark.stop()
  }
}
