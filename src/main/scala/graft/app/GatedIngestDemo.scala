package graft.app

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.functions.Ingest

/**
 * The STREAM-NATIVE ingestion loop with the full gate stack armed —
 * [[graft.functions.Ingest.ingestSink]] under a file "topic" with the
 * structural-quality (Gopher), boilerplate (span-index), and SAMPLING
 * (importance-draw) gates on, and the recovery contract exercised ON
 * the gated decisions: Structured Streaming replays a failed
 * micro-batch under the SAME batch id, so a `rejected_quality` /
 * `rejected_boilerplate` / `rejected_sampled` decision must reproduce
 * identically on replay while every append no-ops (epoch-marker skip).
 *
 * Scenario (dupRatio disarms the chunk screen so each rejection is
 * attributable to exactly one gate — the IngestSpec span-gate pattern):
 *   batch 0 seeds three gopher-passing docs (one carries passage P; one
 *           is the 70-token river doc whose id, 3, draws `train` under
 *           the id-keyed split) — all accepted, spans appended;
 *   batch 1 offers a junk doc (fails the Gopher rules →
 *           rejected_quality), an assembled-boilerplate doc (mostly P,
 *           but below the near-dup threshold → rejected_boilerplate,
 *           the smeared-reuse case only the span gate catches), a
 *           zero-score doc (gopher-clean and novel, but the importance
 *           draw never keeps score 0 → rejected_sampled), a novel
 *           full-score doc (accepted), and a LEAK doc (id 14 → `test`):
 *           7 scattered word swaps put it at trigram jaccard 47/89 ~
 *           0.53 against the stored river doc — below the 0.7 dup cut,
 *           below the 0.5 span-coverage cut (31/66 stored 5-spans ~
 *           0.47), but inside the [0.5, 0.7) leak band with the stored
 *           end in the OTHER split → rejected_leak, the gate round 15
 *           added to ingestBatch now armed through the STREAM sink;
 *   replay  of batch 1 through the sink under the same id reproduces
 *           all three gate rejections AND the leak rejection
 *           bit-for-bit, flips the acceptance to accepted_prior, and
 *           appends nothing anywhere.
 */
object GatedIngestDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val root = Files.createTempDirectory("gated-ingest-")
    val inDir = s"$root/in"; Files.createDirectories(Paths.get(inDir))
    val nd = s"$root/nd"; val ch = s"$root/chunks"; val sp = s"$root/spans"

    // Passage P: 60 tokens, stopword-rich, all-alpha — every doc built
    // on it passes the Gopher rules on its own structure.
    val passage = (1 to 10).map(i => s"the field$i of the delta region")
      .mkString(" ")
    val doc1 = s"$passage plus a perfectly original closing thought " +
      "composed here today for the record with some extra remarks about " +
      "local sports teams"
    val doc2 = (1 to 10).map(i => s"a plain note on the orchard$i yields")
      .mkString(" ")
    val junk = "short junk ###"
    val assembled = s"$passage and nothing else of real substance beyond " +
      "this brief trailing remark appended now quickly before the " +
      "morning deadline arrives soon"
    val novel = (1 to 10).map(i => s"a fresh report on the harvest$i outcomes")
      .mkString(" ")
    val sampled = (1 to 10).map(i => s"the clean survey of the meadow$i flora")
      .mkString(" ")
    // The leak pair: 70 tokens alternating "the" with a UNIQUE word
    // (every trigram shingle and 5-token span distinct — a repeated
    // phrase template would collapse the shingle SET and crater the
    // jaccard); swapping 7 interior tokens >= 5 apart (positions 8,
    // 15, ..., 50) changes 3 shingles and 5 spans each, disjointly:
    // jaccard (68-21)/(68+21) = 47/89 ~ 0.53 in the [0.5, 0.7) leak
    // band, stored-span coverage (66-35)/66 ~ 0.47 < maxBoilerplate.
    val riverWords = (1 to 35).flatMap(i => Seq("the",
      if (i % 2 == 1) s"glade$i" else s"fern$i")).take(70)
    val river = riverWords.mkString(" ")
    val leakSwaps = Set(8, 15, 22, 29, 36, 43, 50)
    val leaky = riverWords.zipWithIndex.map { case (w, p) =>
      if (leakSwaps(p)) s"ridge$p" else w }.mkString(" ")
    // Id-keyed split draws (md5(id + ":split")): 1, 2, 3 -> train;
    // 14 -> test — the leak doc and its stored near-dup straddle splits.
    val splits = Seq(("train", 1L), ("test", 1L))

    // The SIXTH managed family armed through the stream: every
    // micro-batch's acceptances land as one epoch of the loader-native
    // binary artifact (the pack encodes with the tokenizer trained
    // here, persisted like production would).
    val tok = s"$root/tok"; val bins = s"$root/bins"
    val model = graft.functions.Bpe.bpeTrain(
      Seq(doc1, doc2, river, novel, sampled).toDF("text"), "text",
      numMerges = 16)
    model.write(tok)

    val reports = ArrayBuffer.empty[(Long, Map[Long, String], Long, Long, Long, Long)]
    val sink: (DataFrame, Long) => Unit = Ingest.ingestSink(
      Ingest.Loop("doc_id", "text", nd, ch,
        dupRatio = 2.0,
        qualityGate = true,
        spanRootPath = Some(sp), spanK = 5, maxBoilerplate = 0.5,
        samplingGate = Some(("score", 100L)),
        splitTag = Some((splits, "")), leakGate = Some(0.5),
        tokenizerModelPath = Some(tok),
        binExportRootPath = Some(bins),
        binExportShards = 2, binExportBudget = 32),
      onReport = (id, r) => reports += ((id,
        r.decisions.select("doc_id", "decision")
          .as[(Long, String)].collect().toMap,
        r.appendedDocs, r.appendedChunks, r.appendedSpans, r.binShards)))

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("score", LongType)))
    val q = spark.readStream.schema(schema).json(inDir)
      .writeStream
      .foreachBatch(sink)
      .option("checkpointLocation", s"$root/chk")
      .start()

    def writeBatch(name: String, rows: Seq[(Long, String, Long)]): Unit = {
      val f = Files.createTempFile("batch-", ".json")
      Files.writeString(f, rows.map { case (id, text, score) =>
        s"""{"doc_id":$id,"text":"$text","score":$score}"""
      }.mkString("\n"))
      Files.move(f, Paths.get(s"$inDir/$name.json"))
      q.processAllAvailable()
    }

    try {
      writeBatch("b1", Seq((1L, doc1, 100L), (2L, doc2, 100L),
        (3L, river, 100L)))
      writeBatch("b2", Seq((10L, junk, 100L), (11L, assembled, 100L),
        (12L, novel, 100L), (13L, sampled, 0L), (14L, leaky, 100L)))
    } finally q.stop()

    assert(reports.map(_._1).toSeq == Seq(0L, 1L), s"batch ids: $reports")
    assert(reports(0)._2 == Map(1L -> Ingest.Accepted, 2L -> Ingest.Accepted,
      3L -> Ingest.Accepted),
      s"seed batch must pass both gates: ${reports(0)._2}")
    assert(reports(0)._5 > 0, s"seed batch must append spans: ${reports(0)}")
    assert(reports(1)._2 == Map(
      10L -> Ingest.RejectedQuality,
      11L -> Ingest.RejectedBoilerplate,
      12L -> Ingest.Accepted,
      13L -> Ingest.RejectedSampled,
      14L -> Ingest.RejectedLeak),
      s"gated decisions: ${reports(1)._2}")

    // RECOVERY: replay batch 1 through the sink under the SAME batch id
    // (what the streaming runtime does after a crash). Both gate
    // rejections must reproduce bit-for-bit — quality from the doc's own
    // text, boilerplate against a span store that only GAINED this
    // batch's spans — the acceptance short-circuits to accepted_prior,
    // and every append no-ops (-1 = epoch-marker skip).
    val ndRowsBefore = Ingest.ndIndexAt(spark, nd).count()
    sink(Seq((10L, junk, 100L), (11L, assembled, 100L), (12L, novel, 100L),
        (13L, sampled, 0L), (14L, leaky, 100L))
      .toDF("doc_id", "text", "score"), 1L)
    val replay = reports(2)
    assert(replay._2 == Map(
      10L -> Ingest.RejectedQuality,
      11L -> Ingest.RejectedBoilerplate,
      12L -> Ingest.AcceptedPrior,
      13L -> Ingest.RejectedSampled,
      14L -> Ingest.RejectedLeak),
      s"replayed gated decisions must be stable: ${replay._2}")
    assert(replay._3 == 0 && replay._4 == -1L && replay._5 == -1L &&
      replay._6 == -1L,
      s"replay must append nothing: $replay")
    assert(Ingest.ndIndexAt(spark, nd).count() == ndRowsBefore,
      "near-dup index must be byte-stable across the replay")

    // The binary artifact grew one epoch per micro-batch (3 accepted
    // docs, then 1 more), carries the tokenizer's content fingerprint
    // in its own marker, and reads back whole through the CURRENT
    // pointer — a trainer could mmap this root right now.
    assert(reports(0)._6 >= 1L && reports(1)._6 >= reports(0)._6,
      s"bin epochs must accrue: ${reports.map(_._6)}")
    val binInfo = graft.sources.BinShards.commitInfo(spark, bins)
    assert(binInfo("epochs") == "2" &&
      binInfo("model_fp") == model.contentFingerprint, s"$binInfo")
    val binSeqs = graft.sources.BinShards.read(spark, bins).count()
    assert(binSeqs >= 4L,
      s"4 accepted docs across 2 epochs must pack sequences: $binSeqs")

    println("[demo] GatedIngestDemo PASS: quality + span + sampling + " +
      "LEAK gates armed in the streaming sink; rejected_quality, " +
      "rejected_boilerplate, rejected_sampled, and rejected_leak " +
      "reproduced under a same-batch-id replay with zero appends; the " +
      "bin-export family appended one epoch per micro-batch " +
      s"($binSeqs sequences, epochs=2, vocab-fingerprint-stamped)")
    graft.GraftCaches.clearAll() // leave no dead frames registered
    spark.stop()
  }
}
