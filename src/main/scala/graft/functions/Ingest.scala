package graft.functions

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftCaches.Cacheable
import graft.sources.ManagedRoot

/**
 * The recurring-ingestion loop as a FIRST-CLASS operator: screen an
 * arriving batch against the persisted index families (minhash
 * near-dup, content-defined chunk counts, and — optionally — IVF
 * vectors and PQ codes), then append the accepted docs to every armed
 * family — every step idempotent, so a crashed loop's at-least-once
 * retry re-runs the whole batch safely and reaches the SAME decisions.
 *
 * Mirrors the reference's recurring-reprocessing posture (the processor
 * re-derives effective state from its changelog on every restart,
 * `/root/reference/src/main/java/org/jlab/jaws/EffectiveProcessor.java`)
 * re-expressed for corpus ingestion over parquet-backed indexes.
 *
 * Decision semantics (the retry contract, spec'd in IngestSpec):
 *  - a batch doc whose id is ALREADY in the near-dup index was ingested
 *    by an earlier (possibly crashed) run — it short-circuits to
 *    `accepted_prior` BEFORE the screens. The chunk screen cannot make
 *    this exclusion itself (chunk counts carry no document identity), so
 *    without the short-circuit a retried accepted doc would reject
 *    against its OWN stored chunks.
 *  - everything else runs the near-dup screen (banded minhash against
 *    the stored signatures, exact-Jaccard verified, same-id pairs
 *    excluded) and then the chunk screen (batch-internal + stored
 *    df counts; a doc rejects when >= `dupRatio` of its chunks are
 *    duplicated).
 *
 * Everything is anti-/semi-joins over the cluster — no driver-side id
 * sets, no `isin` literal lists: a 10^7-doc batch screens exactly like a
 * 10^2-doc one (the previous demo-grade composition collected the
 * already-indexed ids to the driver and shipped them back inside an
 * `isin` expression, which breaks at real batch sizes).
 *
 * Scale shape per batch: the corpus is never re-shingled, re-chunked,
 * re-assigned, or re-read — each batch pays its own size plus (a) one
 * column-pruned id scan of the near-dup index for the short-circuit and
 * append anti-joins, (b) the stored-signature scan of the near-dup
 * screen, (c) a map-side-pruned scan of the chunk index (the batch's
 * chunk set broadcasts; the index never shuffles), (d) a bounded
 * centroid read for the vector append.
 */
object Ingest {

  /** Decision labels emitted by [[screenBatch]] / [[ingestBatch]]. */
  val Accepted = "accepted"
  val AcceptedPrior = "accepted_prior"
  val RejectedNearDup = "rejected_neardup"
  val RejectedChunks = "rejected_chunks"
  /** [[ingestBatch]]-only (the gate needs a persisted [[IVF.OutlierModel]]
    * and the batch's embeddings; the pure [[screenBatch]] sees neither). */
  val RejectedOutlier = "rejected_outlier"
  /** [[ingestBatch]]-only (the gate screens against the persisted SPAN
    * index at `spanRootPath`; the pure [[screenBatch]] sees no store). */
  val RejectedBoilerplate = "rejected_boilerplate"
  /** [[ingestBatch]]-only, armed by `qualityGate`: base-screen
    * acceptances failing the structural Gopher rules
    * ([[TextFunctions.gopherStats]] `passes`) flip here. A pure
    * function of the doc's own text — no store, trivially
    * retry-stable. */
  val RejectedQuality = "rejected_quality"
  /** Armed by `samplingGate`: base-screen acceptances whose
    * deterministic importance draw ([[graft.ops.CorpusMix
    * .importanceSample]] — keep with probability score/maxScore, md5
    * cross-multiply, no rand()) comes up NOT KEPT flip here — the
    * quality-proportional downsampling stage run INSIDE the loop, so
    * down-sampled docs never reach any index. A pure function of
    * (doc id, score): trivially retry-stable given stable scores. */
  val RejectedSampled = "rejected_sampled"
  /** Armed by `leakGate`: base-screen acceptances whose near-dup AT THE
    * LOOSER LEAK RADIUS (leakThreshold < the dedup `threshold` — pairs
    * the dedup screen deliberately lets through) sits in the persisted
    * near-dup index under a DIFFERENT deterministic split than the
    * arriving doc's own assignment flip here — the loop-side
    * PREVENTION of what the `split_leakage` audit measures after the
    * fact (a held-out doc near-duplicating a train doc turns its eval
    * score into memorization). Both ends' splits are stateless md5
    * draws of the doc id ([[graft.ops.CorpusMix.splitAssign]]), so the
    * stored side needs NO split column in the index; retry-stable
    * because the store only gains docs (matches never disappear) and
    * accepted docs short-circuit to [[AcceptedPrior]] before the gate. */
  val RejectedLeak = "rejected_leak"

  /**
   * The PURE screen: decide every batch doc against in-memory/loaded
   * index frames, with no side effects — the composition
   * [[ingestBatch]] wraps with persistence. Output: (doc_id, decision),
   * one row per batch doc, decision one of [[Accepted]],
   * [[AcceptedPrior]], [[RejectedNearDup]], [[RejectedChunks]].
   *
   * `ndIndex` is a [[Dedup.nearDupIndex]] frame (doc, sig, hs);
   * `chunkIndex` a (chunk, df_cnt) frame ([[Dedup.chunkIndex]] /
   * [[Dedup.chunkIndexRead]]). The chunk screen counts batch-internal
   * chunks too (df = batch count + stored count, the
   * [[Dedup.chunkDedupIndexed]] contract), so heavy intra-batch
   * duplication rejects BOTH copies — boilerplate semantics, not
   * keep-one dedup (run the near-dup/exact dedup family within a batch
   * for keep-one).
   */
  def screenBatch(
      batch: DataFrame,
      ndIndex: DataFrame,
      chunkIndex: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      dupRatio: Double = 0.5,
      maxDf: Int = 1,
      shingleN: Int = 3,
      divisor: Int = 8,
      maxChunkTokens: Int = 32): DataFrame = {
    // checkpointCut, not a plain persist (round 17): `b` re-enters the
    // decision chain through SIX diamonds (prior, toScreen, both screen
    // verifications, the final report join), and a persist dedups only
    // EXECUTION — every reference still drags the full batch subtree
    // through analysis and CacheManager plan matching, which profiled
    // as ~2 s of pure driver planning per composed screen. The cut
    // materializes the same rows at the same storage level behind a
    // two-node plan. (The chain is already eager via
    // chunkDedupIndexed's bounded guard probe.)
    val b = graft.GraftCaches.checkpointCut(batch
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text")))
    // Column-pruned id scan: the short-circuit needs only `doc`.
    val idxIds = ndIndex.select(col("doc").cast("long").as("doc_id"))
    // Each screen stage contributes a SMALL (doc_id, flag) frame; the
    // decision is one LINEAR left-join chain over the batch ending in a
    // single case/when — not a per-decision union of anti-joins, which
    // executed the shared screen subtrees once per branch (plus once
    // more for a downstream sort's range sample) and cost ~2x the
    // screens themselves in plan overhead. All three flag frames key on
    // doc_id and are bounded by the batch size, so AQE broadcasts them
    // and the chain reuses one batch-side exchange.
    //
    // Persist discipline (measured with a planning-only probe): only
    // `b` (feeds every text-deriving subtree) and `ndMatched` (the
    // expensive screen) are persisted. `prior`/`toScreen`/`survivors`
    // are cheap id-level joins over already-cached inputs — persisting
    // them costs MORE than their recompute, because every persist() runs
    // an eager CacheManager planning pass over its (deep) subtree, and
    // this chain's per-batch DRIVER time is what bounds a recurring
    // ingestion loop, not these joins' executor time.
    val prior = b.select("doc_id")
      .join(idxIds, Seq("doc_id"), "left_semi")
      .withColumn("is_prior", lit(true))
    val toScreen = b.join(prior.select("doc_id"), Seq("doc_id"), "left_anti")
    // Same lineage cut as `b`: the near-dup flag frame feeds the
    // survivor anti-join AND the final report join, and its build tree
    // (the banded index join) is the deepest subtree in the chain.
    val ndMatched = graft.GraftCaches.checkpointCut(
      Dedup.nearDupJoinIndexed(
          toScreen, ndIndex, "doc_id", "text", threshold, shingleN)
        .select(col("left_id").as("doc_id")).distinct()
        .withColumn("nd_rej", lit(true)))
    val survivors = toScreen
      .join(ndMatched.select("doc_id"), Seq("doc_id"), "left_anti")
    // n_chunks == 0 (empty/whitespace doc) passes; otherwise the dup
    // fraction must stay under dupRatio. Double division: 0/0 = NaN
    // cannot arise (the n_chunks = 0 disjunct absorbs it — NaN < x is
    // false), x/n is a single IEEE op (oracle-exact).
    val chunkOk = Dedup.chunkDedupIndexed(
        survivors, chunkIndex, "doc_id", "text", divisor, maxChunkTokens,
        maxDf)
      .select(col("doc_id"),
        (col("n_chunks") === 0L ||
          col("n_dup").cast("double") / col("n_chunks") < dupRatio)
          .as("ch_ok"))
    // Every survivor has a chunkOk row (chunkDedupIndexed joins back to
    // its input); prior/near-dup docs fall into the earlier branches, so
    // a null ch_ok can only mean "not a survivor".
    b.select("doc_id")
      .join(prior, Seq("doc_id"), "left")
      .join(ndMatched, Seq("doc_id"), "left")
      .join(chunkOk, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_prior"), lit(AcceptedPrior))
          .when(col("nd_rej"), lit(RejectedNearDup))
          .when(!coalesce(col("ch_ok"), lit(true)), lit(RejectedChunks))
          .otherwise(lit(Accepted)).as("decision"))
  }

  /**
   * The FULL gated decision spine as a PURE read-only screen: the
   * [[screenBatch]] base decision plus the optional structural-quality
   * (Gopher), boilerplate (span-index), and vector-outlier gates —
   * exactly the sequence [[ingestBatch]] runs before any append (ONE
   * shared implementation, [[gatedDecisions]]). Exposed so ad-hoc
   * audits and the SQL surface (`graft_ingest_screen2`) can compose the
   * production decision without owning the appends.
   *
   * Gate precedence (the [[ingestBatch]] contract): the base screen
   * decides first — a doc that is both a duplicate and low-quality
   * reports the duplicate rejection — then sampling (the cheapest
   * optional gate: one projection of the batch's own score column, no
   * tokenize, no store), then quality, span, outlier.
   *
   * `samplingGate` = (scoreCol — a non-negative integral column OF THE
   * BATCH frame, maxScore): acceptances whose deterministic
   * importance draw is not kept flip to [[RejectedSampled]]. `spanGate`
   * = (span index frame — [[Spans.spanIndexRead]], spanK,
   * maxBoilerplate); `outlierGate` = ([[IVF.OutlierModel]], factor,
   * batch embeddings (vec_id, embedding)). Output: (doc_id, decision),
   * decision additionally one of [[RejectedSampled]],
   * [[RejectedQuality]], [[RejectedBoilerplate]], [[RejectedOutlier]]
   * per armed gate.
   *
   * GUARD-SCOPE NOTE (linear gate spine): the span and quality passes
   * run over the WHOLE batch, not just current acceptances (the
   * [[gatedDecisions]] plan-shape invariant — flags for already-
   * rejected docs are computed and discarded so each gate references
   * the decision spine exactly once). Consequently the span gate's
   * `maxBatchSpans` broadcast guard counts the distinct spans of the
   * ENTIRE batch: a batch whose already-rejected docs push the count
   * past the bound fails loud where the pre-round-11 acceptance-scoped
   * spine would have passed. Size batches (or raise the bound
   * deliberately) against whole-batch span cardinality.
   */
  def screenBatchGated(
      batch: DataFrame,
      ndIndex: DataFrame,
      chunkIndex: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      dupRatio: Double = 0.5,
      maxDf: Int = 1,
      shingleN: Int = 3,
      divisor: Int = 8,
      maxChunkTokens: Int = 32,
      qualityGate: Boolean = false,
      spanGate: Option[(DataFrame, Int, Double)] = None,
      outlierGate: Option[(IVF.OutlierModel, Double, DataFrame)] = None,
      samplingGate: Option[(String, Long)] = None,
      leakGate: Option[(Double, Seq[(String, Long)])] = None)
      : DataFrame = {
    // The write path's parameter contract, enforced on the read path
    // too: an out-of-range maxBoilerplate silently inverts the gate
    // (0.0 rejects every doc with a span; > 1.0 can never fire).
    spanGate.foreach { case (_, k, maxBoilerplate) =>
      require(k >= 1, s"screenBatchGated: spanK must be >= 1, got $k")
      require(maxBoilerplate > 0.0 && maxBoilerplate <= 1.0,
        s"screenBatchGated: maxBoilerplate must be in (0, 1], got " +
          s"$maxBoilerplate")
    }
    val b = batch
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
    // NOT cached here: screenBatch caches its own identical projection
    // internally, so an outer persist would hold the batch text TWICE.
    // The armed gates' per-gate `acc` semi-joins re-project (doc_id,
    // text) from the caller's frame — a column-pruned re-read for the
    // TVF's parquet batch; a caller with an expensive upstream frame
    // caches it before the call (ingestBatch does exactly that).
    gatedDecisions(batch, idCol, b,
      ndIndex, chunkIndex, threshold, dupRatio, maxDf, shingleN, divisor,
      maxChunkTokens, qualityGate, spanGate, outlierGate, samplingGate,
      leakGate)
  }

  /**
   * Stamp every decision row with its MODEL-token count — the
   * `tokenizerModelPath` hook's shared core, also composable around
   * [[screenBatch]] / [[screenBatchGated]] for read-only audits. ONE
   * stateless broadcast-model pass over the batch
   * ([[Bpe.withBpeCount]] — in-place, zero shuffle) plus a batch-sized
   * left join onto the decisions; pure bookkeeping (no decision
   * changes, no store), retry-stable by construction (stateless
   * projection — a replayed epoch re-counts identically). Every batch
   * doc gets a count (a null text counts as the empty document's one
   * sentinel token), so the joined column is never null for batch
   * rows.
   */
  def withTokenCounts(
      decisions: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      model: Bpe.TokenizerModel): DataFrame =
    decisions.join(
      Bpe.withBpeCount(
        batch.select(col(idCol).cast("long").as("doc_id"),
          col(textCol).cast("string").as("text")),
        "text", model)
        .select(col("doc_id"), col("n_tokens_bpe")),
      Seq("doc_id"), "left")

  /** The shared gate spine of [[ingestBatch]] / [[screenBatchGated]]:
    * base screen, then the armed gates in precedence order, each
    * flipping only current [[Accepted]] rows. `batch` is the caller's
    * frame, read only for the sampling gate's score column.
    *
    * PLAN-SHAPE INVARIANT (load-bearing): every gate layer references
    * the PREVIOUS decisions frame exactly ONCE (the flip join) and
    * computes its flags from the batch frame `b` directly. An earlier
    * shape filtered each layer's input to current acceptances via a
    * semi-join on the previous frame — a SECOND reference per layer
    * that made the logical plan tree grow EXPONENTIALLY in the number
    * of armed gates (cache boundaries prune execution, not plan
    * trees); with three gates armed the AQE explain-string rendering
    * alone exceeded an 8 GB heap. Flag columns for docs the previous
    * layer rejected are computed and discarded — one cheap map pass
    * per gate over batch-sized input, bought for a linear plan. */
  private def gatedDecisions(
      batch: DataFrame,
      idCol: String,
      b: DataFrame, // (doc_id, text)
      ndIndex: DataFrame,
      chunkIndex: DataFrame,
      threshold: Double,
      dupRatio: Double,
      maxDf: Int,
      shingleN: Int,
      divisor: Int,
      maxChunkTokens: Int,
      qualityGate: Boolean,
      spanGate: Option[(DataFrame, Int, Double)],
      outlierGate: Option[(IVF.OutlierModel, Double, DataFrame)],
      samplingGate: Option[(String, Long)],
      leakGate: Option[(Double, Seq[(String, Long)])])
      : DataFrame = {
    val screened0 = screenBatch(b, ndIndex, chunkIndex, "doc_id", "text",
      threshold, dupRatio, maxDf, shingleN, divisor, maxChunkTokens)
    // Each armed gate is (flags, label, fires): a (doc_id, flag) frame
    // and the condition on its flag that flips a current acceptance to
    // `label`. Listed in precedence order.
    //
    // SAMPLING, first among the optional gates (cheaper even than the
    // quality pass: one projection of the caller-supplied score column +
    // one id join — no tokenize, no store): acceptances whose
    // deterministic importance draw is not kept flip. A missing score
    // row on an ACCEPTED doc fails LOUD (the knnVote loud-label
    // discipline — a sampling gate that silently kept unscored docs
    // would bias the draw); rejected/prior docs never flip on it.
    val sampling = samplingGate.map { case (scoreCol, maxScore) =>
      val draws = graft.ops.CorpusMix.importanceSample(
          batch.select(col(idCol).cast("long").as("doc_id"),
            col(scoreCol).cast("long").as("score")),
          "doc_id", "score", maxScore)
        .select(col("doc_id"), col("kept"))
      (draws, RejectedSampled,
        when(col("kept").isNull, raise_error(concat(
            lit("ingest sampling gate: no score row for accepted doc_id="),
            col("doc_id"),
            lit(" — the score column must cover the batch"))).cast("boolean"))
          .otherwise(!col("kept")))
    }
    // STRUCTURAL QUALITY: acceptances failing the Gopher rules flip.
    // Flags come from ONE typed pass over the WHOLE batch. Pure function
    // of the doc — retry-stable.
    val quality = Option.when(qualityGate)(
      (TextFunctions.gopherStats(b, "doc_id", "text")
        .toDF().select(col("doc_id"), col("passes")),
        RejectedQuality, !coalesce(col("passes"), lit(true))))
    // BOILERPLATE against the persisted span index: acceptances whose
    // stored-span coverage reaches maxBoilerplate flip. The span screen's
    // eager broadcast-guard job touches only `b`, never the decision
    // spine; n_spans == 0 (short/empty doc) passes; x/n is one IEEE op.
    val span = spanGate.map { case (spanIdx, spanK, maxBoilerplate) =>
      (Spans.spanScreenIndexed(b, spanIdx, "doc_id", "text", spanK)
        .select(col("doc_id"),
          (col("n_spans") > 0L &&
            col("n_ref_spans").cast("double") / col("n_spans") >=
              maxBoilerplate).as("bp")),
        RejectedBoilerplate, coalesce(col("bp"), lit(false)))
    }
    // VECTOR OUTLIER: acceptances whose embedding is an outlier against
    // the persisted yardstick ([[IVF.OutlierModel]], a FIXED boundary
    // trained once — the embedOutliersTrain/Score contract) flip.
    // Retry-stable by construction: the model is fixed and a gated doc
    // is never indexed, so its retry re-screens identically; a doc that
    // PASSED the gate short-circuits to accepted_prior on retry. Docs
    // without an embedding row cannot be screened and pass — the
    // coverage gap is what `acceptedWithoutVector` audits.
    val outlier = outlierGate.map { case (model, factor, embeddings) =>
      val batchVecs = embeddings
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
        .join(b.select(col("doc_id").as("vec_id")), Seq("vec_id"),
          "left_semi")
      (IVF.embedOutliersScore(model, batchVecs, factor)
        .select(col("vec_id").as("doc_id"), col("outlier")),
        RejectedOutlier, coalesce(col("outlier"), lit(false)))
    }
    // SPLIT LEAKAGE, LAST in precedence (the second store-banded screen
    // — every earlier gate is cheaper): batch docs with a stored
    // near-dup at the looser `leakThreshold` whose id-draw split differs
    // from their own flip. Both split columns are stateless md5
    // projections of the IDS the pair frame already carries (the
    // splitTag draw exactly — splitAssign with the default salt), so the
    // index needs no split column and the flags are pure functions of
    // (pair, ids): retry-stable.
    val leak = leakGate.map { case (leakThreshold, splits) =>
      val pairs = Dedup.nearDupJoinIndexed(b, ndIndex, "doc_id", "text",
          leakThreshold, shingleN)
        .select(col("left_id"), col("right_id"))
      val leftSplit = graft.ops.CorpusMix.splitAssign(
          pairs.select(col("left_id")).distinct(), "left_id", splits)
        .select(col("doc_id").as("left_id"), col("split").as("split_l"))
      val rightSplit = graft.ops.CorpusMix.splitAssign(
          pairs.select(col("right_id")).distinct(), "right_id", splits)
        .select(col("doc_id").as("right_id"), col("split").as("split_r"))
      (pairs
        .join(leftSplit, Seq("left_id"))
        .join(rightSplit, Seq("right_id"))
        .filter(col("split_l") =!= col("split_r"))
        .select(col("left_id").as("doc_id")).distinct()
        .withColumn("leaks", lit(true)),
        RejectedLeak, coalesce(col("leaks"), lit(false)))
    }
    // The one join-and-flip: each layer joins its flags onto the
    // previous decisions ONCE (the invariant above) and flips only
    // current acceptances.
    Seq(sampling, quality, span, outlier, leak).flatten
      .foldLeft(screened0) { case (prev, (flags, label, fires)) =>
        prev.join(flags, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("decision") === Accepted && fires, lit(label))
              .otherwise(col("decision")).as("decision"))
      }
  }

  /**
   * What [[ingestBatch]] did: the per-doc decisions frame plus the
   * append/compaction accounting. `appendedChunks` follows the
   * [[Dedup.chunkIndexAppend]] convention (-1 = the epoch was already
   * committed and the write was skipped — a retry no-op, distinguishable
   * from a real empty-epoch write of 0).
   */
  final case class IngestReport(
      decisions: DataFrame,
      appendedDocs: Long,
      appendedChunks: Long,
      appendedVectors: Long,
      compacted: Boolean,
      ndCompacted: Boolean = false,
      acceptedWithoutVector: Long = 0L,
      ivfCompacted: Boolean = false,
      appendedCodes: Long = 0L,
      pqCompacted: Boolean = false,
      appendedSpans: Long = 0L,
      spanCompacted: Boolean = false,
      binShards: Long = 0L)

  /**
   * The ingestion loop's settings: every argument of [[ingestBatch]] and
   * [[ingestSink]] that stays fixed from one batch to the next — the id
   * and text columns, the six index families' roots (`ndIndexPath`,
   * `chunkRootPath`, `ivfIndexPath`, `pqIndexPath`, `spanRootPath`,
   * `binExportRootPath`; their layouts and compaction thresholds are
   * described on [[ingestBatch]]), and every screen, gate, compaction
   * and tokenizer setting. Constructing a `Loop` checks every contract
   * that depends on these values alone, so a mis-armed loop fails before
   * it reads a batch, and a mis-armed stream before `.start()`.
   *
   * `outlierModelPath` arms the optional VECTOR-QUALITY gate: text-screen
   * acceptances whose embedding flags against the persisted
   * [[IVF.OutlierModel]] at `outlierFactor` become `rejected_outlier`
   * and are never appended anywhere. The model is a fixed yardstick
   * (trained once, [[IVF.embedOutliersTrain]]), so gate decisions are
   * retry-stable; embedding-less docs pass (and are counted by
   * `acceptedWithoutVector`).
   *
   * `spanRootPath` arms the optional BOILERPLATE gate and the FIFTH
   * managed family, the span index ([[Spans.spanIndex]] occurrence
   * counts): acceptances whose `spanK`-token span coverage in the
   * STORED span set reaches `maxBoilerplate` become
   * `rejected_boilerplate` (their text is mostly passages the corpus
   * already carries — the chunk screen's complement at k-gram
   * granularity, catching smeared verbatim reuse assembled from many
   * sources that no single near-dup or chunk-ratio screen flags).
   * The span SCREEN runs over the WHOLE batch (the [[gatedDecisions]]
   * linear plan-shape invariant), so its `maxBatchSpans` broadcast
   * guard is sized by whole-batch span cardinality — see the guard-
   * scope note on [[screenBatchGated]].
   * Accepted docs' spans append per epoch (root-level epoch marker, the
   * chunk family's replay contract), and the generation folds past
   * `spanCompactEvery` committed epochs. Retry semantics inherit the
   * chunk screen's conservative direction: a retried epoch re-screens
   * only never-accepted docs, against a store that can only have
   * GAINED this batch's spans — a rejected doc stays rejected. The
   * REMOVAL of shared passages stays a transform concern
   * ([[Spans.spanScrubAgainst]] against the same artifact); the gate
   * only decides.
   *
   * `qualityGate` arms the optional STRUCTURAL-QUALITY gate: base-screen
   * acceptances failing the Gopher rule bundle
   * ([[TextFunctions.gopherStats]] `passes` — token bounds, mean word
   * length, symbol/bullet/ellipsis ratios, alpha fraction, stopword
   * presence) become `rejected_quality` before any store is WRITTEN and
   * before the optional span/outlier gates run. Decision precedence:
   * the base screen (which reads the near-dup and chunk indexes) runs
   * first, so a doc that is both a duplicate and low-quality reports
   * the duplicate rejection; among the OPTIONAL gates the sampling
   * draw runs first (cheapest — one projection of the batch's own
   * score column), then quality, span, outlier — each a pure or
   * fixed-artifact function, so decisions stay trivially retry-stable.
   *
   * `samplingGate` = (scoreCol, maxScore) arms quality-proportional
   * DOWNSAMPLING inside the loop: base-screen acceptances keep with
   * probability min(1, score/maxScore) via the deterministic
   * [[graft.ops.CorpusMix.importanceSample]] draw; the rest become
   * `rejected_sampled` and never touch a store. scoreCol must be a
   * non-negative integral column OF THE BATCH frame covering every
   * doc (a null score on an accepted doc fails loud).
   *
   * `splitTag` = (splits, byCol) tags every decision row with its
   * deterministic train/val/test assignment
   * ([[graft.ops.CorpusMix.splitAssign]]) — the decisions frame gains a
   * `split` column, so accepted docs carry their split AT INGEST TIME
   * and downstream exports never re-derive it. byCol = "" draws on the
   * doc id; a batch column name (e.g. the source/domain) draws on THAT
   * value — the leak-free grouped split (near-dup-heavy domains cannot
   * straddle train/test). Retry-stable BY CONSTRUCTION: the draw is a
   * stateless md5 projection of id (or group key), no store involved,
   * so a replayed epoch re-tags identically; a null draw key fails
   * loud (splitAssign's contract). The tag is pure bookkeeping — it
   * changes no decision and gates nothing.
   *
   * `leakGate` = leakThreshold arms split-leakage PREVENTION (requires
   * `splitTag` with byCol = "", the id-keyed draw): base-screen
   * acceptances whose stored near-dup at the LOOSER leak radius
   * (leakThreshold <= `threshold`; above it the dup screen fires
   * first, so the gate's whole jurisdiction is the band the dedup
   * screen deliberately admits) sits in a different split than the
   * arriving doc's own assignment become [[RejectedLeak]] and never
   * touch a store — the loop-side prevention of what the
   * `split_leakage` audit only measures after the fact. Runs LAST in
   * gate precedence (it is the second store-banded screen; every
   * other optional gate is cheaper). Retry-stable: the index only
   * GAINS docs, so a leak match never disappears, and passed docs
   * short-circuit to accepted_prior before the gate.
   * RECALL IS PROBABILISTIC below the dedup radius, not 1.0: candidate
   * generation reuses the fixed 16x2 MinHash banding tuned for the
   * DEDUP threshold, so a true cross-split near-dup in the leak band
   * can slip the bands — at exact Jaccard s the per-band (2-row)
   * collision is s^2 and the miss probability (1-s^2)^16: ~1% at
   * s=0.5, growing as leakThreshold drops. Read the gate as high-recall best-effort
   * prevention at the leak radius (exact at the dedup radius, where
   * the dup screen itself fires); recall 1.0 would need all-pairs or
   * leakThreshold-derived banding, both rejected for scale — pair the
   * gate with the post-hoc `split_leakage` audit for certification.
   *
   * `tokenizerModelPath` stamps every decision row with its MODEL-token
   * count (`n_tokens_bpe` via [[graft.functions.Bpe.withBpeCount]]
   * against the persisted [[graft.functions.Bpe.TokenizerModel]] at the
   * path) — the splitTag posture exactly: stateless (one broadcast-
   * model pass over the batch, no store), retry-stable by construction
   * (a replayed epoch re-counts identically), bookkeeping-only (changes
   * no decision). Exports and mixes downstream of the loop then budget
   * in model tokens without ever re-encoding the corpus.
   *
   * `binExportRootPath` arms the SIXTH managed family: every batch's
   * accepted docs land as one epoch of the loader-native BINARY
   * training artifact ([[graft.sources.BinFamily.appendEpoch]] under
   * the root — reserved shard spans, CURRENT pointer, fold past
   * `binExportCompactEvery` epochs), so the artifact a trainer mmaps
   * refreshes at BATCH-sized cost inside the loop instead of a
   * periodic full-corpus re-encode. Requires the tokenizer (the pack
   * encodes with it); the model's CONTENT fingerprint is stamped into
   * the family config, so a retrained-in-place tokenizer refuses loud
   * instead of silently mixing vocabularies across epochs. Idempotent
   * under a replayed epoch via the family's own root marker; validate
   * any time with `graft_bin_digest(root)` / `graft_bin_manifest`.
   */
  final case class Loop(
      idCol: String,
      textCol: String,
      ndIndexPath: String,
      chunkRootPath: String,
      ivfIndexPath: Option[String] = None,
      pqIndexPath: Option[String] = None,
      spanRootPath: Option[String] = None,
      binExportRootPath: Option[String] = None,
      threshold: Double = 0.7,
      dupRatio: Double = 0.5,
      maxDf: Int = 1,
      shingleN: Int = 3,
      divisor: Int = 8,
      maxChunkTokens: Int = 32,
      compactEvery: Int = 64,
      ivfNlist: Int = 0,
      ndCompactFiles: Int = 256,
      ivfCompactFiles: Int = 256,
      pqCompactFiles: Int = 256,
      pqM: Int = 8,
      pqK: Int = 16,
      outlierModelPath: Option[String] = None,
      outlierFactor: Double = 2.0,
      spanK: Int = 5,
      maxBoilerplate: Double = 0.5,
      spanCompactEvery: Int = 64,
      qualityGate: Boolean = false,
      samplingGate: Option[(String, Long)] = None,
      splitTag: Option[(Seq[(String, Long)], String)] = None,
      tokenizerModelPath: Option[String] = None,
      leakGate: Option[Double] = None,
      binExportShards: Int = 8,
      binExportBudget: Int = 256,
      binExportCompactEvery: Int = 64) {
    require(leakGate.isEmpty ||
        splitTag.exists { case (_, byCol) => byCol.isEmpty },
      "Ingest.Loop: the leak gate derives the STORED side's split from " +
        "the doc-id draw, so it requires splitTag with byCol = \"\" (the " +
        "id-keyed split); a grouped split's draw key is not recoverable " +
        "from the near-dup index")
    leakGate.foreach(t => require(t > 0.0 && t <= threshold,
      s"Ingest.Loop: leakThreshold must be in (0, threshold=$threshold] " +
        s"— above the dedup threshold the dup screen fires first; got $t"))
    require(binExportRootPath.isEmpty || tokenizerModelPath.nonEmpty,
      "Ingest.Loop: the bin-export family PACKS model-token id " +
        "sequences — arming binExportRootPath requires the tokenizer " +
        "(tokenizerModelPath)")
    require(binExportShards > 0 && binExportBudget > 0 &&
        binExportCompactEvery >= 2,
      "Ingest.Loop: binExportShards/binExportBudget must be positive " +
        "and binExportCompactEvery >= 2")
    require(compactEvery >= 2, "Ingest.Loop: compactEvery must be >= 2")
    require(ndCompactFiles >= 2, "Ingest.Loop: ndCompactFiles must be >= 2")
    require(ivfCompactFiles >= 2, "Ingest.Loop: ivfCompactFiles must be >= 2")
    require(pqCompactFiles >= 2, "Ingest.Loop: pqCompactFiles must be >= 2")
    require(spanCompactEvery >= 2,
      "Ingest.Loop: spanCompactEvery must be >= 2")
    require(maxBoilerplate > 0.0 && maxBoilerplate <= 1.0,
      s"Ingest.Loop: maxBoilerplate must be in (0, 1], got $maxBoilerplate")
  }

  /**
   * Screen `batch` against the PERSISTED indexes of `loop` and append the
   * accepted docs under the epoch name `epoch` — the whole crash-safe
   * ingestion step as one call.
   *
   * Idempotence & crash windows (append order is load-bearing):
   *  1. near-dup index append FIRST ([[Dedup.indexAppend]], by-doc-id
   *     idempotent). A doc lands here exactly when accepted, so on any
   *     later retry it short-circuits to `accepted_prior` — decisions
   *     are stable across retries no matter where the previous run died.
   *  2. chunk epoch append ([[Dedup.chunkIndexAppend]], by-epoch-name
   *     idempotent) writes the chunks of ALL accepted docs in the batch
   *     (new + prior): a retry that died between steps 1 and 2 still
   *     records the crashed docs' chunks when it rewrites the epoch.
   *     Corollary, documented trade: a doc ACCEPTED in an earlier epoch
   *     and re-offered in a later batch re-counts its chunks once more —
   *     the conservative direction for a duplication screen (re-offers
   *     of identical content are themselves duplication evidence).
   *  3. vector append last ([[IVF.indexAppend]], by-vec-id idempotent)
   *     for all accepted docs' embeddings; bootstraps the IVF index by
   *     training on the first accepted batch.
   *
   * The chunk index lives under a MANAGED generation layout at
   * `chunkRootPath` (see [[ManagedRoot]]): epochs append into the
   * current generation; once it holds >= `compactEvery` committed
   * epochs, the generation is compacted into a single-epoch successor
   * and the `CURRENT` pointer flips — [[Dedup.chunkIndexRead]]'s
   * per-screen merge cost stays flat no matter how many batches have
   * ever been ingested. Epoch-name idempotence survives compaction via
   * per-epoch marker files under `<root>/epochs/` (the generation-local
   * `_SUCCESS` markers die with their generation). Single writer
   * assumed, as for all the index-append family.
   *
   * The NEAR-DUP index gets the same treatment: a FRESH `ndIndexPath`
   * is laid out as a managed root (CURRENT pointer + generation dirs),
   * [[Dedup.indexAppend]] lands each batch's signatures in the current
   * generation, and once the generation holds >= `ndCompactFiles`
   * committed parquet files it is folded ([[Dedup.nearDupIndexCompact]])
   * into a bounded-file-count successor — the screen reads this index IN
   * FULL every batch, so unbounded small-file accumulation is the first
   * thing that would rot in a long-running loop. A pre-existing FLAT
   * index (committed parquet files at the root, the pre-generation
   * layout) keeps working append-only and is never compacted in place —
   * point a fresh root at it via one [[Dedup.nearDupIndexCompact]] copy
   * to adopt the managed layout. Read the index for ad-hoc screening via
   * [[ndIndexAt]], which resolves either layout. Each roll rewrites the
   * whole index, so choose `ndCompactFiles` such that rolls stay rare
   * relative to append volume (the default folds every ~few hundred
   * batches; a leveled scheme is deliberately out of scope — one flat
   * fold keeps every reader a plain parquet scan).
   *
   * `embeddings` (vec_id = doc id, embedding Array[Float]) covers
   * whatever batch docs have vectors; it is semi-joined to the accepted
   * ids before the append.
   */
  def ingestBatch(
      batch: DataFrame,
      epoch: String,
      loop: Loop,
      embeddings: Option[DataFrame] = None): IngestReport = {
    require(epoch.nonEmpty, "ingestBatch: epoch must be non-empty")
    require(loop.outlierModelPath.isEmpty || embeddings.nonEmpty,
      "ingestBatch: the outlier gate screens EMBEDDINGS — passing " +
        "outlierModelPath without an embeddings frame would silently " +
        "gate nothing")
    ingest(batch, epoch, loop, embeddings, loop.tokenizerModelPath.map(
      Bpe.TokenizerModel.read(batch.sparkSession, _)))
  }

  /** [[ingestBatch]]'s body, with the tokenizer model already read
    * ([[ingestSink]] reads it once per stream, not once per batch). */
  private def ingest(
      batch: DataFrame,
      epoch: String,
      loop: Loop,
      embeddings: Option[DataFrame],
      model: Option[Bpe.TokenizerModel]): IngestReport = {
    import loop._
    val spark = batch.sparkSession
    val b = batch
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .graftCached

    // Every armed family's generation opens BEFORE the screen and any
    // append ([[ManagedRoot]]), so a damaged CURRENT pointer fails here
    // with every store untouched. The near-dup and vector families are
    // managed unless already a committed FLAT index (legacy layout —
    // left as-is; its appends still work, it just never compacts). The
    // vector families open only when embeddings arrive to append.
    val ndGen = ManagedRoot.open(spark, ndIndexPath,
      Dedup.hasCommittedParquet(spark, ndIndexPath))
    val ndDir = ndGen.getOrElse(ndIndexPath)
    val chunkDir = ManagedRoot.open(spark, chunkRootPath)
    // The k guard lives at the ROOT (it must survive generation rolls):
    // screening a k=5 store with k=6 would silently match nothing.
    val spanDirOpt = spanRootPath.map { root =>
      Spans.recordOrCheckK(spark, root, spanK)
      ManagedRoot.open(spark, root)
    }
    val ivfGen = ivfIndexPath.filter(_ => embeddings.isDefined)
      .map(path => path -> ManagedRoot.open(spark, path, ivfBuilt(spark, path)))
    val pqGen = pqIndexPath.filter(_ => embeddings.isDefined)
      .map(path => path -> ManagedRoot.open(spark, path, pqBuilt(spark, path)))
    // The bin family opens inside its own append; resolve it here only
    // to fail loud on a damaged pointer before the other appends.
    binExportRootPath.foreach(ManagedRoot.resolve(spark, _))

    // Bootstrap: an absent (or committed-file-free) near-dup index means
    // nothing was ever ingested — every screen passes trivially against
    // the empty typed frame; the appends create the index.
    //
    // The read is a SNAPSHOT (explicit file listing), NOT a directory
    // read: this run's own appends write into the same path, and Spark's
    // recacheByPath re-executes every cached plan whose source was
    // written — a directory read would re-list, and the already-cached
    // decisions frame would silently flip to the post-append state
    // (this batch's accepts re-labelled accepted_prior). Pinning the
    // file list makes the refresh re-read the same bytes, so the
    // decisions survive the appends unchanged.
    val ndIndex = ndSnapshot(spark, ndDir).getOrElse(emptyNdFrame(spark))
    val chunkIdx = Dedup.chunkIndexRead(spark, chunkDir)

    // The whole gated decision spine (base screen + quality/span/outlier
    // gates in precedence order) is ONE shared implementation —
    // [[gatedDecisions]], also exposed read-only as [[screenBatchGated]]
    // for ad-hoc audits and the graft_ingest_screen2 TVF. The span gate
    // reads the SNAPSHOT-stable committed-epoch listing
    // ([[Spans.spanIndexRead]]), so the cached decisions survive this
    // call's own span append.
    val decisions0 = gatedDecisions(batch, idCol, b, ndIndex, chunkIdx,
      threshold, dupRatio, maxDf, shingleN, divisor, maxChunkTokens,
      qualityGate,
      spanDirOpt.map(d =>
        (Spans.spanIndexRead(spark, d), spanK, maxBoilerplate)),
      outlierModelPath.map(mp =>
        (IVF.OutlierModel.read(spark, mp), outlierFactor, embeddings.get)),
      samplingGate, leakGate.map(t => (t, splitTag.get._1)))
    // Optional split tag: a stateless md5 projection of the batch joined
    // onto the decisions — bookkeeping only (no decision changes, no
    // store), inside the SAME cached/materialized frame so a caller's
    // later traversals replay the tag, never re-draw it.
    val decisionsTagged = splitTag match {
      case Some((splits, byCol)) =>
        val tags = graft.ops.CorpusMix.splitAssign(batch, idCol, splits,
            byCol)
          .select(col("doc_id"), col("split"))
        decisions0.join(tags, Seq("doc_id"), "left")
      case None => decisions0
    }
    // Optional model-token stamp: same bookkeeping posture as the split
    // tag (stateless broadcast-model pass over the batch, batch-sized
    // join inside the cached frame, no decision changes) — see
    // [[withTokenCounts]]. ingestSink reads the model ONCE per stream and
    // reuses the instance, whose memoized rank table makes the per-batch
    // cost one broadcast, not one model read + collect.
    val decisions = (model match {
      case Some(m) => withTokenCounts(decisionsTagged, b, "doc_id", "text", m)
      case None => decisionsTagged
    })
      .graftCached
    // Materialize the decisions BEFORE any append mutates the stores —
    // later traversals must replay the cache, not re-screen.
    decisions.count()

    val keptNewIds = decisions
      .filter(col("decision") === Accepted).select("doc_id")
    val keptAllIds = decisions
      .filter(col("decision").isin(Accepted, AcceptedPrior)).select("doc_id")
    val acceptedNew = b.join(keptNewIds, Seq("doc_id"), "left_semi")
    val acceptedAll = b.join(keptAllIds, Seq("doc_id"), "left_semi")

    // 1. near-dup index: prior docs are by definition already present,
    //    so appending only the NEW acceptances skips their re-shingling
    //    without weakening the retry contract.
    val appendedDocs =
      Dedup.indexAppend(acceptedNew, "doc_id", "text", ndDir)

    // 2. chunk epoch, idempotent across compaction via the root-level
    //    epoch marker (the generation-local _SUCCESS dies when its
    //    generation is compacted away).
    val appendedChunks = ManagedRoot.epochOnce(spark, chunkRootPath, epoch)(
      Dedup.chunkIndexAppend(acceptedAll, "doc_id", "text", chunkDir, epoch,
        divisor, maxChunkTokens))

    // 2b. span epoch append (the optional fifth family): spans of ALL
    //     accepted docs (new + prior), the chunk step's crash-window
    //     rationale — a retry that died between steps 1 and 2b still
    //     records the crashed docs' spans. Root-level epoch marker for
    //     replay-past-compaction idempotence, exactly as for chunks.
    val appendedSpans = spanRootPath.fold(0L)(root =>
      ManagedRoot.epochOnce(spark, root, epoch)(Spans.spanIndexAppend(
        acceptedAll, "doc_id", "text", spanDirOpt.get, epoch, spanK)))

    // 3. vectors: all accepted docs' embeddings (by-vec-id idempotence
    //    makes the prior ones no-ops — and covers the crash window where
    //    a previous run died between the text and vector appends). The
    //    vector index gets the SAME managed-generation treatment as the
    //    near-dup family: a fresh `ivfIndexPath` adopts the CURRENT-
    //    pointer layout and folds its append tail once the generation
    //    holds >= `ivfCompactFiles` committed vector files
    //    ([[IVF.indexCompact]]: cell-sorted, row-group-prunable
    //    successor), so probe latency stays flat across hundreds of
    //    appends; a pre-existing FLAT index (committed centroids/vectors
    //    at the root) keeps working append-only and is never converted
    //    in place. Resolve either layout via [[ManagedRoot.resolve]] /
    //    [[IVF.IvfIndex.read]].
    // Shared by BOTH vector families (IVF below, PQ after it): the
    // accepted docs' embeddings and the embedding-coverage audit.
    // Accepted docs with NO embedding row never reach any vector index —
    // invisible at query time, so the count is surfaced for ingestion
    // audits (the one place embedding-pipeline drift is cheap to catch).
    // One anti-join over batch-sized ids. The frame is persisted only
    // when both families consume it (two assignment scans otherwise;
    // one traversal never earns the eager planning pass a persist costs
    // — the screenBatch persist-discipline rationale).
    val acceptedVecs: Option[DataFrame] =
      if (embeddings.isDefined &&
          (ivfIndexPath.isDefined || pqIndexPath.isDefined)) {
        val e = embeddings.get
          .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
          .join(keptAllIds.withColumnRenamed("doc_id", "vec_id"),
            Seq("vec_id"), "left_semi")
        Some(if (ivfIndexPath.isDefined && pqIndexPath.isDefined)
          e.graftCached else e)
      } else None
    val acceptedWithoutVector = (embeddings, acceptedVecs) match {
      case (Some(emb), Some(_)) =>
        keptAllIds
          .join(emb.select(col("vec_id").cast("long").as("doc_id")),
            Seq("doc_id"), "left_anti")
          .count()
      case _ => 0L
    }

    val (appendedVectors, ivfCompacted) =
      (acceptedVecs, ivfGen) match {
        case (Some(e), Some((path, gen))) =>
          val ivfDir = gen.getOrElse(path)
          val n =
            if (!ivfBuilt(spark, ivfDir)) {
              // First accepted batch trains the quantizer. A crash
              // mid-build leaves an incomplete index (no committed
              // centroids+vectors pair), which the retry detects and
              // rebuilds via overwrite.
              val cnt = e.count()
              if (cnt > 0) IVF.buildIvfIndex(e, ivfNlist).write(ivfDir)
              cnt
            } else IVF.indexAppend(e, ivfDir)
          (n, ManagedRoot.rollPastFiles(spark, path, gen, "/vectors",
            ivfCompactFiles)(IVF.indexCompact(spark, _, _)))
        case _ => (0L, false)
      }

    // 3b. PQ codes, the second vector family — identical lifecycle to
    //     the IVF one: a fresh `pqIndexPath` adopts the managed
    //     CURRENT-pointer layout, the first accepted batch trains both
    //     quantizers ([[PQ.buildPqIndex]], coarse cells shared-shape with
    //     IVF via `ivfNlist`), later batches encode with the STORED
    //     quantizers ([[PQ.indexAppend]], by-vec-id idempotent), and the
    //     append tail folds into a cell-sorted successor once the
    //     generation holds >= `pqCompactFiles` committed code files
    //     ([[PQ.indexCompact]]). A pre-existing FLAT index keeps working
    //     append-only. The ADC screens ([[PQ.pqTopKIndexed]] /
    //     [[PQ.ivfpqTopKIndexed]]) read ~4 B of codes per corpus vector,
    //     so a loop can maintain BOTH families and serve cheap recurring
    //     screens from PQ while keeping exact-embedding ranking on IVF.
    val (appendedCodes, pqCompacted) =
      (acceptedVecs, pqGen) match {
        case (Some(e), Some((path, gen))) =>
          val pqDir = gen.getOrElse(path)
          val n =
            if (!pqBuilt(spark, pqDir)) {
              // First accepted batch trains the quantizers; a crash
              // mid-build leaves an incomplete triple that the retry
              // detects and rebuilds via overwrite. Per-subspace k is
              // clamped to the accepted count (lloyd needs >= k points)
              // — a tiny bootstrap batch yields coarse codebooks, the
              // same "train on first batch, rebuild once volume
              // arrives" posture as the IVF family.
              val cnt = e.count()
              if (cnt > 0) {
                val dim = e.select(size(col("embedding"))).head.getInt(0)
                val kEff = math.min(pqK.toLong, cnt).toInt
                PQ.buildPqIndex(e, dim, pqM, kEff, ivfNlist).write(pqDir)
              }
              cnt
            } else PQ.indexAppend(e, pqDir)
          (n, ManagedRoot.rollPastFiles(spark, path, gen, "/codes",
            pqCompactFiles)(PQ.indexCompact(spark, _, _)))
        case _ => (0L, false)
      }

    // 4. bin-artifact epoch append (the optional SIXTH managed family —
    //    the loader-native training export refreshed INSIDE the loop at
    //    batch-sized cost): ALL accepted docs' (new + prior — the chunk
    //    step's crash-window rationale) packed id sequences land as ONE
    //    epoch of the managed BinShards artifact
    //    ([[graft.sources.BinFamily.appendEpoch]] — reserved shard
    //    spans, CURRENT-pointer generations, fold past its own
    //    compactEvery; the salt is the epoch, so each batch gets an
    //    independent layout). Idempotent via the family's OWN root
    //    epoch marker — a replayed batch id appends nothing. The
    //    tokenizer's content fingerprint rides in the family config, so
    //    a retrained-in-place model REFUSES loud instead of silently
    //    mixing vocabularies across epochs. Placed after the index
    //    stores: a crash here leaves every screen input consistent and
    //    the replay re-reaches this step with identical acceptances.
    val appendedBinShards = binExportRootPath match {
      case Some(root) =>
        val m = model.get
        graft.sources.BinFamily.appendEpoch(
          graft.ops.TrainShuffle.packIdSequences(acceptedAll, "doc_id",
            "text", m, binExportShards, binExportBudget, salt = epoch),
          root, binExportBudget, binExportShards, epochId = epoch,
          compactEvery = binExportCompactEvery,
          identity = Map(
            "vocab_size" -> m.vocab.length.toString,
            "alphabet" -> m.alphabet, "pretok" -> m.pretok,
            "model_fp" -> m.contentFingerprint))
      case None => 0L
    }

    // Compaction policy: count COMMITTED epochs in the current
    // generation; at the threshold, repair their root markers and fold
    // them into a single-epoch successor generation
    // ([[ManagedRoot.rollPastEpochs]]).
    val compacted = ManagedRoot.rollPastEpochs(spark, chunkRootPath,
      chunkDir, EpochStore.committedEpochs(spark, chunkDir), compactEvery)(
      Dedup.chunkIndexCompact(spark, _, _))

    // Same policy for the near-dup generation, measured in committed
    // parquet files (appends land whole files, not epochs). The roll
    // happens AFTER this batch's decisions are materialized, so the
    // cached decisions frame never depends on a swept directory within
    // this call; a caller holding `decisions` across a later eviction
    // should write it out first (it is one row per batch doc).
    val ndCompacted = ManagedRoot.rollPastFiles(spark, ndIndexPath, ndGen,
      "", ndCompactFiles)(Dedup.nearDupIndexCompact(spark, _, _))

    // Span-generation compaction: the chunk policy, past spanCompactEvery.
    val spanCompacted = spanRootPath.exists { root =>
      ManagedRoot.rollPastEpochs(spark, root, spanDirOpt.get,
        EpochStore.committedEpochs(spark, spanDirOpt.get), spanCompactEvery)(
        Spans.spanIndexCompact(spark, _, _))
    }

    IngestReport(decisions, appendedDocs, appendedChunks, appendedVectors,
      compacted, ndCompacted, acceptedWithoutVector, ivfCompacted,
      appendedCodes, pqCompacted, appendedSpans, spanCompacted,
      appendedBinShards)
  }

  /**
   * The STREAM-NATIVE entry to the ingestion loop: a `foreachBatch` body
   * that runs [[ingestBatch]]'s step with `loop` on every micro-batch,
   * the epoch derived from the streaming batch id —
   * {{{
   *   stream.writeStream
   *     .foreachBatch(Ingest.ingestSink(
   *       Ingest.Loop("doc_id", "text", nd, chunks)))
   *     .option("checkpointLocation", ck)
   *     .start()
   * }}}
   * Exactly-once EFFECT without a transactional sink: Structured
   * Streaming replays a failed or restarted micro-batch under the SAME
   * batch id, the epoch name is a pure function of that id, and every
   * [[ingestBatch]] step is idempotent under a repeated epoch (by-doc-id
   * near-dup append, epoch-marker chunk, span and bin appends, by-vec-id
   * vector/code appends) — so a replay reaches the same decisions and
   * appends nothing new. Every gate is replay-stable under the same
   * batch id for the same reason. The single-writer assumption is the
   * streaming runtime's own guarantee (one micro-batch in flight per
   * query).
   *
   * `embeddingCol` lifts embeddings from the stream itself: when set,
   * each micro-batch's (idCol, embeddingCol) pairs feed the vector
   * families (and the outlier gate, when armed) — no side channel to
   * join at ingest time. Arming `loop.outlierModelPath` requires it,
   * checked here at sink CONSTRUCTION, like every [[Loop]] contract, so
   * a mis-armed stream fails before `.start()`.
   *
   * `onReport` sees each batch's [[IngestReport]] INSIDE the per-batch
   * cache scope ([[graft.GraftCaches.scoped]]): consume
   * `report.decisions` (write it out, collect counts) within the
   * callback — the operator-owned caches behind it are reclaimed when
   * the callback returns, so a long-running stream's executor storage
   * stays flat (later traversals would recompute from lineage:
   * correct, but re-screens the batch).
   */
  def ingestSink(
      loop: Loop,
      epochPrefix: String = "stream",
      embeddingCol: Option[String] = None,
      onReport: (Long, IngestReport) => Unit = (_, _) => ())
      : (DataFrame, Long) => Unit = {
    require(epochPrefix.nonEmpty, "ingestSink: epochPrefix must be non-empty")
    require(loop.outlierModelPath.isEmpty || embeddingCol.nonEmpty,
      "ingestSink: the outlier gate screens EMBEDDINGS — arming " +
        "outlierModelPath requires embeddingCol")
    // Tokenizer model resolved ONCE, on the first micro-batch (the sink
    // closure is built before any session/batch exists) and reused for
    // the stream's lifetime: the persisted artifact is immutable, so a
    // per-batch re-read + rank collect would be pure hot-path overhead.
    // foreachBatch invocations are serial (one micro-batch in flight
    // per query — the runtime's own guarantee), so the var needs no
    // synchronization.
    var tokModel: Option[Bpe.TokenizerModel] = None
    (batch: DataFrame, batchId: Long) =>
      graft.GraftCaches.scoped {
        if (tokModel.isEmpty && loop.tokenizerModelPath.isDefined)
          tokModel = Some(Bpe.TokenizerModel.read(
            batch.sparkSession, loop.tokenizerModelPath.get))
        val emb = embeddingCol.map(c => batch
          .select(col(loop.idCol).cast("long").as("vec_id"),
            col(c).as("embedding"))
          .filter(col("embedding").isNotNull))
        onReport(batchId, ingest(batch, f"$epochPrefix%s-$batchId%09d",
          loop, emb, tokModel))
      }
  }

  /** Whether `dir` holds a committed IVF centroids/vectors pair. */
  private def ivfBuilt(spark: SparkSession, dir: String): Boolean =
    Dedup.hasCommittedParquet(spark, dir + "/centroids") &&
      Dedup.hasCommittedParquet(spark, dir + "/vectors")

  /** Whether `dir` holds a committed PQ centroids/codebooks/codes triple. */
  private def pqBuilt(spark: SparkSession, dir: String): Boolean =
    Dedup.hasCommittedParquet(spark, dir + "/centroids") &&
      Dedup.hasCommittedParquet(spark, dir + "/codebooks") &&
      Dedup.hasCommittedParquet(spark, dir + "/codes")

  /**
   * Storage-maintenance audit over the loop's index families
   * (neardup / chunk / ivf / pq / span) — the
   * observability half of the generation/compaction contract: one row
   * per index root with its layout (`managed` / `flat` / `absent`), the
   * active generation, committed data-file count (the compaction
   * triggers' own metric, so an operator can see HOW CLOSE each family
   * is to its next roll), row count, and — for the epoch families — the
   * committed epoch count in the active generation plus the root-level
   * epoch markers that outlive compaction (their divergence measures how
   * many epochs the last fold absorbed).
   *
   * Deliberately DRIVER-CHEAP on the file side (one listing per family)
   * with the row counts as ordinary bounded jobs; run it between
   * batches, not inside one.
   *
   * Output: (family, layout, generation, data_files, rows, epochs,
   * epoch_markers), one row per family, ordered by family; `epochs` /
   * `epoch_markers` are null for the non-epoch families.
   */
  def indexReport(
      spark: SparkSession,
      ndIndexPath: String,
      chunkRootPath: String,
      ivfIndexPath: Option[String] = None,
      pqIndexPath: Option[String] = None,
      spanRootPath: Option[String] = None): DataFrame = {
    import spark.implicits._
    def layoutOf(root: String, committed: => Boolean): String =
      if (!rootFs(spark, root).exists(new Path(root))) "absent"
      else if (ManagedRoot.isManaged(spark, root)) "managed"
      else if (committed) "flat"
      else "absent"
    def genOf(root: String, layout: String): String =
      if (layout == "managed") new Path(ManagedRoot.resolve(spark, root)).getName
      else "-"

    val ndLayout = layoutOf(ndIndexPath,
      Dedup.hasCommittedParquet(spark, ndIndexPath))
    val ndRow = ("neardup", ndLayout, genOf(ndIndexPath, ndLayout),
      ManagedRoot.parquetFiles(spark,
        ManagedRoot.resolve(spark, ndIndexPath)).toLong,
      if (ndLayout == "absent") 0L else ndIndexAt(spark, ndIndexPath).count(),
      None: Option[Long], None: Option[Long])

    // One audit-row builder for the epoch-partitioned families (chunk,
    // span) — a future fix to the audit applies to both, not one.
    def epochFamilyRow(family: String, root: String,
        readRows: String => Long)
        : (String, String, String, Long, Long, Option[Long], Option[Long]) = {
      val fs = rootFs(spark, root)
      val layout = layoutOf(root, fs.exists(new Path(root)))
      if (layout == "absent")
        (family, layout, "-", 0L, 0L, Some(0L), Some(0L))
      else {
        val dir = ManagedRoot.resolve(spark, root)
        val epochs = EpochStore.committedDirs(spark, dir).size.toLong
        val files = fs.listStatus(new Path(dir))
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch_id="))
          .map(d => fs.listStatus(d.getPath)
            .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
            .toLong)
          .sum
        val rows = if (epochs == 0) 0L else readRows(dir)
        (family, layout, genOf(root, layout), files, rows,
          Some(epochs), Some(ManagedRoot.markerCount(spark, root)))
      }
    }

    val chRow = epochFamilyRow("chunk", chunkRootPath,
      d => Dedup.chunkIndexRead(spark, d).count())

    val ivfRow = ivfIndexPath.map { root =>
      val dir = ManagedRoot.resolve(spark, root)
      val built = ivfBuilt(spark, dir)
      val layout = layoutOf(root, built)
      ("ivf", layout, genOf(root, layout),
        ManagedRoot.parquetFiles(spark, dir + "/vectors").toLong,
        if (built) spark.read.parquet(dir + "/vectors").count() else 0L,
        None: Option[Long], None: Option[Long])
    }

    val pqRow = pqIndexPath.map { root =>
      val dir = ManagedRoot.resolve(spark, root)
      val built = pqBuilt(spark, dir)
      val layout = layoutOf(root, built)
      ("pq", layout, genOf(root, layout),
        ManagedRoot.parquetFiles(spark, dir + "/codes").toLong,
        if (built) spark.read.parquet(dir + "/codes").count() else 0L,
        None: Option[Long], None: Option[Long])
    }

    // Span family: epoch-partitioned like the chunk one, so it reports
    // the same epoch/marker pair.
    val spanRow = spanRootPath.map(root => epochFamilyRow("span", root,
      d => Spans.spanIndexRead(spark, d).count()))

    (Seq(ndRow, chRow) ++ ivfRow ++ pqRow ++ spanRow).sortBy(_._1)
      .toDF("family", "layout", "generation", "data_files", "rows",
        "epochs", "epoch_markers")
  }

  /** Read a persisted span index for screening: an [[ingestBatch]]-managed
    * root (its active generation, [[ManagedRoot.resolve]]) or a raw
    * [[Spans.spanIndexAppend]] epoch directory. */
  def spanIndexAt(spark: SparkSession, path: String): DataFrame =
    Spans.spanIndexRead(spark, ManagedRoot.resolve(spark, path))

  /** The k-aware form every consumer that tokenizes with its OWN k must
    * use ([[Spans.checkK]] at the root and the resolved generation):
    * reading a k=5 store with a k=6 batch would silently match nothing,
    * so a recorded mismatch fails loud instead of reporting clean. */
  def spanIndexAt(spark: SparkSession, path: String, k: Int): DataFrame = {
    Spans.checkK(spark, path, k)
    val dir = ManagedRoot.resolve(spark, path)
    if (dir != path) Spans.checkK(spark, dir, k)
    Spans.spanIndexRead(spark, dir)
  }

  /** The typed empty (doc, sig, hs) frame a bootstrap screen runs
    * against. */
  private def emptyNdFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Array[Int], Array[Int])].toDF("doc", "sig", "hs")
  }

  /**
   * Read a persisted near-dup index for screening: either an
   * [[ingestBatch]]-managed root (its active generation,
   * [[ManagedRoot.resolve]]) or a flat [[Dedup.indexAppend]] directory.
   * Returns the typed empty frame when nothing is committed yet, so a
   * bootstrap screen composes cleanly.
   */
  def ndIndexAt(spark: SparkSession, path: String): DataFrame =
    ndSnapshot(spark, ManagedRoot.resolve(spark, path))
      .getOrElse(emptyNdFrame(spark))

  /** Read a persisted chunk index for screening: either an
    * [[ingestBatch]]-managed root (its active generation,
    * [[ManagedRoot.resolve]]) or a raw [[Dedup.chunkIndexAppend]] epoch
    * directory. */
  def chunkIndexAt(spark: SparkSession, path: String): DataFrame =
    Dedup.chunkIndexRead(spark, ManagedRoot.resolve(spark, path))

  private def rootFs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Snapshot read of a flat parquet index: the COMMITTED data files are
    * listed explicitly, so later appends to the directory cannot change
    * what this frame reads — even across a `recacheByPath` refresh.
    * None = no committed files (bootstrap). */
  private def ndSnapshot(
      spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new Path(path)
    val fs = rootFs(spark, path)
    if (!fs.exists(p)) None
    else {
      val files = fs.listStatus(p).filter(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString).toIndexedSeq
      if (files.isEmpty) None else Some(spark.read.parquet(files: _*))
    }
  }
}
