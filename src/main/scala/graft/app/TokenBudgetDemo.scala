package graft.app

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.{Bpe, Ingest}
import graft.ops.TrainShuffle

/**
 * The MODEL-token budget followed end-to-end through the pipeline a
 * pretraining run actually chains — the round-13 ingest stamp composed
 * with the sequence-packing export, executed and asserted as ONE flow:
 *
 *   persisted tokenizer → `ingestBatch(tokenizerModelPath = …)` stamps
 *   every decision with `n_tokens_bpe` → the ACCEPTED docs carry those
 *   stamps into `seqPack(tokensCol = "n_tokens_bpe")` → `packReport`
 *   audits the shard layout in the SAME currency.
 *
 * What this proves (each piece is spec/oracle-covered alone; the
 * COMPOSITION is what a user ships and what this demo pins):
 *
 *  1. the ingest stamp equals a live `bpeCount` against the same
 *     persisted model — the stamp is the real model count, not a
 *     lookalike;
 *  2. `packReport`'s per-shard `total_tokens` equals the sum of the
 *     STAMPED counts of the accepted docs in that shard — the shard
 *     budgets ARE the ingest-time counts, no re-tokenization drift
 *     anywhere between the gate and the export;
 *  3. the layout's sequence occupancy is consistent with those budgets
 *     (`n_seqs` covers `total_tokens` + separators at the declared
 *     budget).
 *
 * No counterpart in the reference repo (a Kafka Streams alarm
 * processor — no text surface); the composition mirrors the
 * GPT-lineage curate→tokenize→pack pipelines in the public literature.
 */
object TokenBudgetDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val root = Files.createTempDirectory("token-budget-")
    val docs = GraftSession.table(spark, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))

    // Train + persist the tokenizer ONCE (byte-level — the production
    // alphabet); everything downstream reads the artifact, never the
    // in-memory model, so the flow exercises the real handoff.
    Bpe.bpeTrain(docs, "text", numMerges = 48,
      alphabet = Bpe.AlphabetByte).write(s"$root/tok")

    // Ingest with the token stamp armed (fresh indexes: first batch, so
    // screens pass everything except true in-batch dups; what matters
    // here is the STAMP, not the gate mix — GatedIngestDemo covers that).
    val report = Ingest.ingestBatch(docs, "e1", Ingest.Loop("doc_id", "text",
      s"$root/nd", s"$root/chunks", dupRatio = 2.0,
      tokenizerModelPath = Some(s"$root/tok")))
    val decisions = report.decisions
      .select(col("doc_id"), col("decision"), col("n_tokens_bpe"))
      .cache()

    // 1. The stamp IS the model count: parity with a live bpeCount
    //    against the same persisted artifact.
    val stored = Bpe.TokenizerModel.read(spark, s"$root/tok")
    val live = Bpe.bpeCount(docs, "doc_id", "text", stored)
      .as[(Long, Long)].collect().toMap
    val stamped = decisions.select("doc_id", "n_tokens_bpe")
      .as[(Long, Long)].collect().toMap
    assert(stamped == live,
      s"ingest stamp diverged from live bpeCount (${stamped.size} docs)")

    // 2. Accepted docs pack in STAMPED tokens; packReport's per-shard
    //    budgets must equal the per-shard sums of those stamps.
    val accepted = decisions
      .filter(col("decision").startsWith("accepted"))
      .join(docs, Seq("doc_id"))
    val numShards = 8; val budget = 256
    val packed = TrainShuffle.seqPack(accepted, "doc_id", "text",
      numShards = numShards, budget = budget, tokensCol = "n_tokens_bpe")
      .cache()
    val audit = TrainShuffle.packReport(packed, budget)
      .select(col("shard").cast("int"), col("n_docs"), col("total_tokens"),
        col("n_seqs"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    val byShard = packed.groupBy("shard")
      .agg(count(lit(1)).as("n"), sum("n_tokens").as("tok"))
      .collect().map(r => r.get(0).toString.toInt ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(audit.keySet == byShard.keySet, s"shard sets diverge: " +
      s"${audit.keySet} vs ${byShard.keySet}")
    audit.foreach { case (s, (nd, tok, nseq)) =>
      val (wn, wtok) = byShard(s)
      assert(nd == wn && tok == wtok,
        s"shard $s: packReport ($nd docs, $tok tokens) != stamped sums " +
          s"($wn, $wtok)")
      // 3. Occupancy consistency: the declared sequences cover the
      //    token mass + one separator per doc at this budget.
      assert(nseq * budget >= tok,
        s"shard $s: $nseq seqs cannot hold $tok tokens at budget $budget")
    }
    val acceptedIds = accepted.select(col("doc_id")).as[Long].collect().toSet
    val totalStamped = byShard.values.map(_._2).sum
    assert(totalStamped ==
      stamped.collect { case (k, v) if acceptedIds(k) => v }.sum,
      "packed token mass != accepted stamped mass")

    println(s"[demo] TokenBudgetDemo PASS: ${stamped.size} docs stamped " +
      s"(= live bpeCount), ${byShard.values.map(_._1).sum} accepted -> " +
      s"$numShards shards, packReport budgets == stamped sums " +
      s"($totalStamped model tokens), occupancy consistent at $budget")
    graft.GraftCaches.clearAll() // leave no dead frames registered
    spark.stop()
  }
}
