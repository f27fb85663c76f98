package graft.app

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Dedup, TextFunctions}

/**
 * End-to-end STREAMING corpus ingestion over a file "topic" (the corpus
 * twin of AppDemo's alarm dataflow): crawl batches land as JSON files;
 * one query gates quality and suppresses exact re-crawls within the
 * watermark (dropDuplicatesWithinWatermark on the text fingerprint),
 * appending the accepted manifest; a second query runs banded-MinHash
 * near-dup detection across batches and appends the flagged pairs.
 * Asserts, on a scripted two-batch scenario: the junk doc never enters
 * the manifest, the verbatim re-crawl is suppressed, the near-dup pair
 * across batches is flagged, and the novel doc lands exactly once.
 */
object CorpusIngestDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val root = Files.createTempDirectory("corpus-ingest-")
    val inDir = s"$root/in"; Files.createDirectories(Paths.get(inDir))
    val manifestDir = s"$root/manifest"; val pairsDir = s"$root/pairs"

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    val src = spark.readStream.schema(schema).json(inDir)

    // Query 1: quality gate -> exact re-crawl suppression -> manifest.
    val accepted = Dedup.exactDedupStream(
      src.filter(TextFunctions.qualityScore(col("text")) >= 0.5),
      "text", "ts", watermark = "10 minutes")
    val q1 = accepted
      .select(col("doc_id"), col("ts"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      .writeStream.format("parquet").outputMode("append")
      .option("path", manifestDir)
      .option("checkpointLocation", s"$root/chk1").start()

    // Query 2: cross-batch near-dup flags (banded minhash bucket state).
    val q2 = Dedup.nearDupStream(src, "doc_id", "text", "ts",
        watermark = "10 minutes", threshold = 0.5)
      .writeStream.format("parquet").outputMode("append")
      .option("path", pairsDir)
      .option("checkpointLocation", s"$root/chk2").start()

    def writeBatch(name: String, rows: Seq[(Long, String, String)]): Unit = {
      val f = Files.createTempFile("batch-", ".json")
      Files.writeString(f, rows.map { case (id, text, ts) =>
        s"""{"doc_id":$id,"text":"$text","ts":"$ts"}"""
      }.mkString("\n"))
      Files.move(f, Paths.get(s"$inDir/$name.json"))
      q1.processAllAvailable(); q2.processAllAvailable()
    }

    val good =
      "the quick brown fox jumps over the lazy dog and it is a fine day for all of the animals in the big green field"
    val aboutSpark =
      "spark is a distributed engine for the large data sets and it runs the queries in parallel over a cluster of machines"

    writeBatch("b1", Seq(
      (1L, good, "2026-01-01T10:00:00Z"),
      (2L, "!!! ??? ,,, ... ;;; :::", "2026-01-01T10:00:01Z"), // junk
      (3L, aboutSpark, "2026-01-01T10:00:02Z")))
    writeBatch("b2", Seq(
      (4L, good, "2026-01-01T10:02:00Z"), // verbatim re-crawl of 1
      (5L, aboutSpark.replace("machines", "computers"), "2026-01-01T10:02:01Z"),
      (6L, "an entirely novel report with its own words that is long enough for the gate and it is about the weather today", "2026-01-01T10:02:02Z")))

    val manifest = spark.read.parquet(manifestDir).select("doc_id")
      .as[Long].collect().toSet
    assert(manifest == Set(1L, 3L, 5L, 6L),
      s"manifest: junk gated, re-crawl suppressed, rest accepted once: $manifest")

    val flagged = spark.read.parquet(pairsDir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(flagged.contains((3L, 5L)),
      s"near-dup flags must pair doc 5 with its cross-batch original: $flagged")
    assert((1L, 4L) match { case p => flagged.contains(p) },
      s"exact re-crawl also collides in every band: $flagged")

    println("[demo] CorpusIngestDemo PASS: " +
      "junk gated, re-crawl suppressed within watermark, cross-batch " +
      "near-dup flagged, manifest = " + manifest.toSeq.sorted.mkString(","))
    q1.stop(); q2.stop()
    graft.GraftCaches.clearAll() // leave no dead frames registered
    spark.stop()
  }
}
