package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Event-time windowed aggregation with watermarks — a capability the
 * reference lacks entirely (wall-clock only, SURVEY §2.6) but that any
 * Spark-native analytics engine must provide for streams.
 */
class WindowingSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(minute * 60000L)

  test("corpus quality/scrub/stats Columns run unchanged on a stream (stateless composition)") {
    // The text-pipeline operators that are pure Column expressions or
    // per-row typed passes need no streaming variant: the same code
    // composes under readStream. Batch is the oracle.
    implicit val sq = spark.sqlContext
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog contact bob@example.com today"),
      (2L, "spark spark spark spark spark spark spark spark"),
      (3L, "visit https://example.com/x?y=1 or 10.0.0.1 for details"))
    def shape(df: org.apache.spark.sql.DataFrame) = {
      val t = graft.functions.TextFunctions
      t.scrubPii(df, "text")
        .select(col("doc_id"),
          t.tokenCount(col("clean")).as("n_tokens"),
          t.qualityScore(col("clean")).as("quality"),
          t.langId(col("clean")).as("lang_pred"),
          col("n_urls"), col("n_emails"), col("n_ipv4"),
          t.fingerprint(col("clean")).as("fp"))
    }
    val ms = MemoryStream[(Long, String)]
    val q = shape(ms.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("corpus_stream")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cs").toString)
      .start()
    try {
      ms.addData(rows.take(2)); q.processAllAvailable()
      ms.addData(rows.drop(2)); q.processAllAvailable()
      val streamed = spark.table("corpus_stream").collect()
        .map(r => r.toSeq.toList).sortBy(_.head.toString)
      val batch = shape(rows.toDF("doc_id", "text")).collect()
        .map(r => r.toSeq.toList).sortBy(_.head.toString)
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("tumbling window + watermark: windows close when watermark passes; late data dropped") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val agg = ms.toDS().toDF("ts", "event_type", "value")
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .select(col("window.start").as("start"), col("event_type"), col("n"), col("total"))
    val q = agg.writeStream.format("memory").queryName("win").outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("win").toString)
      .start()
    try {
      // window [0,10): two events
      ms.addData(Seq((ts(1), "a", 1.0), (ts(3), "a", 2.0), (ts(4), "b", 5.0)))
      q.processAllAvailable()
      assert(spark.table("win").count() == 0) // nothing closed yet
      // advance event time to minute 20 -> watermark 15 -> [0,10) closes
      ms.addData(Seq((ts(20), "a", 9.0)))
      q.processAllAvailable()
      val closed = spark.table("win").as[(Timestamp, String, Long, Double)]
        .collect().sortBy(r => (r._1.getTime, r._2))
      assert(closed.map(r => (r._1.getTime / 60000, r._2, r._3, r._4)).toSeq ==
        Seq((0L, "a", 2L, 3.0), (0L, "b", 1L, 5.0)))
      // late arrival for [0,10) after close: dropped by the watermark
      ms.addData(Seq((ts(2), "a", 100.0)))
      // advance far enough to close [20,30) too
      ms.addData(Seq((ts(40), "a", 1.0)))
      q.processAllAvailable()
      val all = spark.table("win").as[(Timestamp, String, Long, Double)]
        .collect().sortBy(r => (r._1.getTime, r._2))
      // [0,10) totals unchanged (late event discarded); [20,30) emitted
      assert(all.map(r => (r._1.getTime / 60000, r._2, r._3, r._4)).toSeq ==
        Seq((0L, "a", 2L, 3.0), (0L, "b", 1L, 5.0), (20L, "a", 1L, 9.0)))
    } finally q.stop()
  }

  test("sliding window: overlapping assignment") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Double)]
    val agg = ms.toDS().toDF("ts", "value")
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("start"), col("n"))
    val q = agg.writeStream.format("memory").queryName("slide").outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("win").toString)
      .start()
    try {
      ms.addData(Seq((ts(7), 1.0))) // belongs to [0,10) and [5,15)
      ms.addData(Seq((ts(30), 1.0))) // closes both
      q.processAllAvailable()
      val rows = spark.table("slide").as[(Timestamp, Long)].collect()
        .map(r => (r._1.getTime / 60000, r._2)).sortBy(_._1)
      assert(rows.toSeq == Seq((0L, 1L), (5L, 1L)))
    } finally q.stop()
  }

  test("streaming exact dedup: duplicates within the watermark suppressed, late dup passes") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, String, Timestamp)]
    val deduped = graft.functions.Dedup.exactDedupStream(
      ms.toDS().toDF("doc_id", "text", "ts"), "text", "ts", "5 minutes")
    val q = deduped.writeStream.format("memory").queryName("sdedup")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("sdedup").toString)
      .start()
    try {
      // same normalized text twice in one batch + once more next batch
      ms.addData(Seq((1L, "Hello  World", ts(1)), (2L, "hello world", ts(2)),
        (3L, "unique doc", ts(2))))
      q.processAllAvailable()
      ms.addData(Seq((4L, "HELLO   world", ts(3))))
      q.processAllAvailable()
      val ids1 = spark.table("sdedup").as[(Long, String, Timestamp)]
        .collect().map(_._1).sorted
      assert(ids1.toSeq == Seq(1L, 3L), s"in-watermark dups suppressed: ${ids1.toSeq}")
      // advance the watermark far past the originals; the same text now
      // passes again (state for its fingerprint has been evicted)
      ms.addData(Seq((5L, "advancer", ts(60))))
      q.processAllAvailable()
      ms.addData(Seq((6L, "hello world", ts(61))))
      q.processAllAvailable()
      val ids2 = spark.table("sdedup").as[(Long, String, Timestamp)]
        .collect().map(_._1).sorted
      assert(ids2.contains(6L), s"post-eviction duplicate must pass: ${ids2.toSeq}")
    } finally q.stop()
  }

  test("streaming near-dup: banded minhash state flags arriving duplicates") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, String, Timestamp)]
    val matches = graft.functions.Dedup.nearDupStream(
      ms.toDS().toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", "10 minutes", threshold = 0.5)
    val q = matches.writeStream.format("memory").queryName("sneardup")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("sneardup").toString)
      .start()
    try {
      val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      ms.addData(Seq(
        (1L, base, ts(1)),
        (3L, "completely different text about unrelated material here", ts(1))))
      q.processAllAvailable()
      // near-dup of doc 1 arrives later: must match against the REMEMBERED
      // signature from the earlier batch
      ms.addData(Seq((2L, base + " lambda", ts(2))))
      q.processAllAvailable()
      val got = spark.table("sneardup")
        .select("id_a", "id_b", "est_jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val pairs = got.map(t => (t._1, t._2))
      assert(pairs.contains((1L, 2L)), s"near-dup pair flagged: $got")
      assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
        s"unrelated doc must not match: $got")
      assert(got.filter(t => (t._1, t._2) == (1L, 2L)).forall(_._3 >= 0.5))
    } finally q.stop()
  }

  test("streaming near-dup: cross-band dedup across a file hop emits each pair once") {
    // nearDupStream is AT-LEAST-ONCE per colliding band by design (a
    // second stateful operator is not supported in the same query), so
    // cross-band dedup is a downstream hop: file sink -> file source ->
    // dropDuplicatesWithinWatermark on (id_a, id_b) — the same topic-hop
    // shape the reference uses between its processors. Identical texts
    // collide in ALL 16 bands, the strongest duplication the operator can
    // produce; the final sink must still see the pair exactly once.
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, String, Timestamp)]
    val matches = graft.functions.Dedup.nearDupStream(
      ms.toDS().toDF("doc_id", "text", "ts"),
      "doc_id", "text", "ts", "10 minutes", threshold = 0.5)
    val hopDir = java.nio.file.Files.createTempDirectory("ndhop").toString
    val q1 = matches.writeStream.format("parquet")
      .option("path", hopDir)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ndhopck").toString)
      .outputMode("append")
      .start()
    try {
      val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      ms.addData(Seq((1L, text, ts(1))))
      q1.processAllAvailable()
      ms.addData(Seq((2L, text, ts(2)))) // identical: collides in every band
      q1.processAllAvailable()
    } finally q1.stop()
    val rawRows = spark.read.parquet(hopDir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(rawRows.count(_ == ((1L, 2L))) > 1,
      s"hop must carry the multi-band duplicates to dedup: $rawRows")
    val deduped = spark.readStream.schema(matches.schema).parquet(hopDir)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id_a", "id_b")
    val q2 = deduped.writeStream.format("memory").queryName("ndhopout")
      .outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ndhopck2").toString)
      .start()
    try {
      q2.processAllAvailable()
      val finalRows = spark.table("ndhopout")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
      assert(finalRows == Seq((1L, 2L)),
        s"each pair reaches the final sink exactly once: $finalRows")
    } finally q2.stop()
  }

  /** Run [[graft.functions.Dedup.nearDupStream]] (10-minute watermark,
    * threshold 0.5) over the batches; return the emitted (id_a, id_b). */
  private def nearDupPairs(qn: String,
      batches: Seq[Seq[(Long, String, Timestamp)]]): Set[(Long, Long)] = {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, String, Timestamp)]
    val q = graft.functions.Dedup.nearDupStream(
        ms.toDS().toDF("doc_id", "text", "ts"),
        "doc_id", "text", "ts", "10 minutes", threshold = 0.5)
      .writeStream.format("memory").queryName(qn).outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory(qn).toString)
      .start()
    try {
      batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      spark.table(qn).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    } finally q.stop()
  }

  private val sim1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val sim2 = sim1 + " lambda"
  private val other = "completely different text about unrelated material here"

  test("streaming near-dup: bucket survives the watermark passing maxTs (evicts at maxTs + delay)") {
    // The eviction-gap probe: doc 1 lands at t=1min; an unrelated doc at
    // t=12min advances the watermark to 2min (delay 10min) — PAST doc 1's
    // bucket maxTs but BEFORE maxTs + delay. A near-dup of doc 1 then
    // arrives at t=5min: non-late (5 > watermark 2), inside the
    // (maxTs, maxTs + delay] window. setTimeoutTimestamp(maxTs, watermark)
    // keeps the bucket until 11min, so the pair (1, 2) is emitted; a
    // timeout at bare maxTs would have evicted at 2min and missed it.
    val pairs = nearDupPairs("ndgap", Seq(
      Seq((1L, sim1, ts(1))),
      Seq((99L, other, ts(12))),
      Seq((2L, sim2, ts(5)))))
    assert(pairs.contains((1L, 2L)), s"evicted early and missed the gap-window pair: $pairs")
  }

  test("streaming near-dup: eviction anchor survives an out-of-order batch") {
    // A later batch delivering an OLDER (non-late) row into the same
    // bucket must not pull the eviction time backward: doc 1 lands at
    // t=12min (anchor 12, evicts at 22); doc 98, a near-dup at t=5min,
    // arrives in the NEXT batch — a batch-max-only setTimeoutTimestamp
    // would regress the timeout to 15min. An unrelated doc at t=26min
    // then pushes the watermark to 16min (past the regressed timeout,
    // before the true one), and doc 2 arrives at t=18min: with the
    // running-max anchor the bucket is still held and (1, 2) is emitted;
    // the regressed form would have evicted and missed it.
    val pairs = nearDupPairs("ndorder", Seq(
      Seq((1L, sim1, ts(12))),
      Seq((98L, sim1 + " mu", ts(5))), // older non-late near-dup, same buckets
      Seq((99L, other, ts(26))),       // watermark -> 16min
      Seq((2L, sim2, ts(18)))))
    assert(pairs.contains((1L, 2L)),
      s"eviction anchor regressed on the out-of-order batch: $pairs")
  }

  test("spanScreenStream counts reference-span hits per streamed doc") {
    // The span family's streaming audit: a doc sharing a verbatim
    // passage with the static reference reports its covered spans; a
    // novel doc reports zero hits; a short doc reports zero spans.
    implicit val sq = spark.sqlContext
    val ref = graft.functions.Spans.spanOccurrences(
        Seq(1L -> "the quick brown fox jumps high over lazy dogs")
          .toDF("doc_id", "text"),
        "doc_id", "text", 5)
      .select("span")
    val ms = MemoryStream[(Long, String, Timestamp)]
    val q = graft.functions.Spans.spanScreenStream(
        ms.toDS().toDF("doc_id", "text", "ts"), ref,
        "doc_id", "text", "ts", "10 minutes", k = 5)
      .writeStream.format("memory").queryName("span_screen").outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graftck").toString)
      .start()
    try {
      ms.addData(Seq(
        // Shares the passage: 2 of its 3 spans are reference spans.
        (5L, "prefix the QUICK brown fox jumps high", ts(1)),
        (6L, "an entirely novel report about the weather today", ts(1)),
        (7L, "too short", ts(1))))
      q.processAllAvailable()
      assert(spark.table("span_screen").isEmpty, "append mode must hold until watermark")
      ms.addData(Seq((99L, "watermark advancer content", ts(30))))
      q.processAllAvailable()
      val rows = spark.table("span_screen").select("doc_id", "n_spans", "n_ref_spans")
        .as[(Long, Long, Long)].collect()
        .map { case (id, ns, nr) => id -> ((ns, nr)) }.toMap
      assert(rows.keySet == Set(5L, 6L, 7L), s"emitted: $rows")
      // Doc 5: 7 tokens -> 3 spans; spans at pos 2 ("the quick brown
      // fox jumps") and pos 3 ("quick brown fox jumps high") are both
      // reference spans.
      assert(rows(5L) == ((3L, 2L)), s"shared passage must flag: $rows")
      assert(rows(6L)._1 > 0 && rows(6L)._2 == 0, s"novel doc clean: $rows")
      assert(rows(7L) == ((0L, 0L)), s"short doc zero spans: $rows")
    } finally q.stop()
  }

  test("chunkScreenStream flags stored-boilerplate chunks against the static index") {
    // The streaming read path over the persisted chunk index: the
    // SHIFTED boilerplate copy (the case fixed windows miss) is flagged
    // from stored counts alone; a novel doc is clean; a whitespace doc
    // reports zero chunks. Results emit in append mode once the
    // watermark passes each doc's event time.
    implicit val sq = spark.sqlContext
    val boiler = "all rights reserved corpus contact us for terms boundary"
    val index = graft.functions.Dedup.chunkIndex(
      Seq(1L -> s"intro words $boiler").toDF("doc_id", "text"),
      "doc_id", "text")
    val ms = MemoryStream[(Long, String, Timestamp)]
    val q = graft.functions.Dedup.chunkScreenStream(
        ms.toDS().toDF("doc_id", "text", "ts"), index,
        "doc_id", "text", "ts", "10 minutes")
      .writeStream.format("memory").queryName("chunk_screen").outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graftck").toString)
      .start()
    try {
      ms.addData(Seq(
        (5L, s"zzz zz $boiler", ts(1)), // boilerplate shifted 2 tokens
        (6L, "an entirely novel report about the weather", ts(1)),
        (7L, "   ", ts(1))))
      q.processAllAvailable()
      // Nothing emits until the watermark passes ts(1).
      assert(spark.table("chunk_screen").isEmpty, "append mode must hold until watermark")
      ms.addData(Seq((99L, "watermark advancer content", ts(30))))
      q.processAllAvailable()
      val rows = spark.table("chunk_screen").select("doc_id", "n_chunks", "n_dup")
        .as[(Long, Long, Long)].collect()
        .map { case (id, nc, nd) => id -> ((nc, nd)) }.toMap
      assert(rows.keySet == Set(5L, 6L, 7L), s"emitted: $rows")
      assert(rows(5L)._2 >= 1, s"shifted boilerplate must flag: $rows")
      assert(rows(6L)._1 > 0 && rows(6L)._2 == 0, s"novel doc clean: $rows")
      assert(rows(7L) == ((0L, 0L)), s"whitespace doc zero chunks: $rows")
    } finally q.stop()
  }
}
