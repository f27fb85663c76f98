package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Ingest

/**
 * The stream-native ingestion entry ([[Ingest.ingestSink]]): a
 * `foreachBatch` body whose epoch is a pure function of the streaming
 * batch id, so the runtime's replay-same-batch-id recovery contract
 * composes with [[Ingest.ingestBatch]]'s idempotent appends into
 * exactly-once EFFECT — a replayed micro-batch reaches compatible
 * decisions (accepted docs short-circuit to accepted_prior) and appends
 * nothing.
 */
class StreamIngestSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def vecOf(seed: Int): Seq[Float] =
    Seq.tabulate(8)(d => math.sin(seed * 3 + d).toFloat)

  test("ingestSink: micro-batches ingest idempotently; a replayed batch id no-ops") {
    val base = java.nio.file.Files.createTempDirectory("ingest-sink-").toString
    val nd = base + "/nd"
    val ch = base + "/chunks"
    val ivf = base + "/ivf"
    val foxDoc =
      "the quick brown fox jumps over the lazy dog near the river bank"
    val sparkDoc =
      "spark runs distributed queries over columnar parquet partitions"
    val novelDoc =
      "an entirely novel report about the weather and the autumn harvest"

    // (batchId, doc_id -> decision, appendedDocs, appendedVectors,
    // appendedChunks) — decisions MATERIALIZED inside the callback, per
    // the scoped-cache contract.
    val reports = ArrayBuffer.empty[(Long, Map[Long, String], Long, Long, Long, Long)]
    val sink: (DataFrame, Long) => Unit = Ingest.ingestSink(
      Ingest.Loop("doc_id", "text", nd, ch,
        ivfIndexPath = Some(ivf), ivfNlist = 1,
        spanRootPath = Some(base + "/spans")),
      embeddingCol = Some("embedding"),
      onReport = (id, r) => reports += ((id,
        r.decisions.as[(Long, String)].collect().toMap,
        r.appendedDocs, r.appendedVectors, r.appendedChunks,
        r.appendedSpans)))

    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, String, Seq[Float])]
    val q = ms.toDS().toDF("doc_id", "text", "embedding").writeStream
      .foreachBatch(sink)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graftck-sink").toString)
      .start()
    try {
      ms.addData(Seq((1L, foxDoc, vecOf(1)), (2L, sparkDoc, vecOf(2))))
      q.processAllAvailable()
      ms.addData(Seq(
        (1L, foxDoc, vecOf(1)),                           // re-offered
        (4L, foxDoc.replace("bank", "bend"), vecOf(4)),   // near-dup of 1
        (6L, novelDoc, vecOf(6))))                        // novel
      q.processAllAvailable()
    } finally q.stop()

    assert(reports.map(_._1).toSeq == Seq(0L, 1L), s"batch ids: $reports")
    assert(reports(0)._2 == Map(1L -> Ingest.Accepted, 2L -> Ingest.Accepted),
      s"batch 0 decisions: ${reports(0)._2}")
    assert(reports(0)._3 == 2 && reports(0)._4 == 2)
    assert(reports(1)._2 == Map(
      1L -> Ingest.AcceptedPrior,
      4L -> Ingest.RejectedNearDup,
      6L -> Ingest.Accepted), s"batch 1 decisions: ${reports(1)._2}")
    assert(reports(1)._3 == 1 && reports(1)._4 == 1)

    // Epoch names derive from the batch id (the recovery key) — for the
    // chunk AND span families alike.
    for (root <- Seq(ch, base + "/spans");
         epoch <- Seq("stream-000000000", "stream-000000001"))
      assert(new java.io.File(root + "/epochs", epoch).exists(),
        s"missing epoch marker $root/$epoch")

    // Recovery: Structured Streaming re-runs a failed/restarted
    // micro-batch under the SAME id — replay batch 1 through the sink
    // directly. Accepted docs short-circuit to accepted_prior, every
    // append no-ops (chunk epoch returns the -1 marker-skip), and the
    // stores are byte-stable.
    val ndRowsBefore = Ingest.ndIndexAt(spark, nd).count()
    sink(Seq(
        (1L, foxDoc, vecOf(1)),
        (4L, foxDoc.replace("bank", "bend"), vecOf(4)),
        (6L, novelDoc, vecOf(6)))
      .toDF("doc_id", "text", "embedding"), 1L)
    val replay = reports(2)
    assert(replay._2 == Map(
      1L -> Ingest.AcceptedPrior,
      4L -> Ingest.RejectedNearDup,
      6L -> Ingest.AcceptedPrior), s"replay decisions: ${replay._2}")
    assert(replay._3 == 0 && replay._4 == 0 && replay._5 == -1L &&
      replay._6 == -1L,
      s"replay must append nothing: $replay")
    assert(Ingest.ndIndexAt(spark, nd).count() == ndRowsBefore)
    assert(spark.read.parquet(
      graft.sources.ManagedRoot.resolve(spark, ivf) + "/vectors").count() == 3)
    graft.GraftCaches.clearAll()
  }

  test("ingestSink with tokenizerModelPath: decisions carry model-token counts; replay re-counts identically") {
    val base = java.nio.file.Files.createTempDirectory("ingest-sink-tok-").toString
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"),
      (2L, "spark runs distributed queries over columnar parquet partitions"))
    val model = graft.functions.Bpe.bpeTrain(
      docs.toDF("doc_id", "text"), "text", numMerges = 8)
    val mp = base + "/tokenizer"
    model.write(mp)
    val expected = graft.functions.Bpe.bpeCount(
        docs.toDF("doc_id", "text"), "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val reports = ArrayBuffer.empty[(Long, Map[Long, (String, Long)])]
    val sink: (DataFrame, Long) => Unit = Ingest.ingestSink(
      Ingest.Loop("doc_id", "text", base + "/nd", base + "/chunks",
        tokenizerModelPath = Some(mp)),
      onReport = (id, r) => reports += ((id,
        r.decisions.collect()
          .map(x => x.getLong(0) -> ((x.getString(1), x.getLong(2))))
          .toMap)))

    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch(sink)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graftck-tok").toString)
      .start()
    try {
      ms.addData(docs)
      q.processAllAvailable()
    } finally q.stop()
    assert(reports.length == 1 &&
      reports(0)._2.map { case (k, (_, n)) => k -> n } == expected,
      s"stream stamp drifted from the batch operator: $reports vs $expected")
    assert(reports(0)._2.values.forall(_._1 == Ingest.Accepted))

    // Replayed micro-batch (the recovery contract): accepted_prior
    // decisions, IDENTICAL counts — the stamp is a stateless function
    // of (batch text, stored model), nothing to drift.
    sink(docs.toDF("doc_id", "text"), 0L)
    val replay = reports(1)._2
    assert(replay.values.forall(_._1 == Ingest.AcceptedPrior), s"$replay")
    assert(replay.map { case (k, (_, n)) => k -> n } == expected,
      s"replay re-counted differently: $replay vs $expected")
    graft.GraftCaches.clearAll()
  }
}
