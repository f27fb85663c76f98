package graft.functions

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftCaches.Cacheable

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
    gatedDecisions(b,
      ndIndex, chunkIndex, threshold, dupRatio, maxDf, shingleN, divisor,
      maxChunkTokens, qualityGate, spanGate, outlierGate,
      samplingGate.map { case (scoreCol, maxScore) =>
        (batch.select(col(idCol).cast("long").as("doc_id"),
          col(scoreCol).cast("long").as("score")), maxScore)
      },
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
    * flipping only current [[Accepted]] rows.
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
      samplingGate: Option[(DataFrame, Long)] = None, // ((doc_id, score), max)
      leakGate: Option[(Double, Seq[(String, Long)])] = None)
      : DataFrame = {
    val screened0 = screenBatch(b, ndIndex, chunkIndex, "doc_id", "text",
      threshold, dupRatio, maxDf, shingleN, divisor, maxChunkTokens)
    // Optional SAMPLING gate, FIRST among the optional gates (cheaper
    // even than the quality pass: one projection of the caller-supplied
    // score column + one id join — no tokenize, no store): current
    // acceptances whose deterministic importance draw is not kept flip
    // to rejected_sampled. A null score on an ACCEPTED doc fails LOUD
    // (the knnVote loud-label discipline — a sampling gate that
    // silently kept unscored docs would bias the draw); rejected/prior
    // docs never flip on it.
    val screenedS = samplingGate match {
      case Some((scores, maxScore)) =>
        val draws = graft.ops.CorpusMix.importanceSample(
            scores, "doc_id", "score", maxScore)
          .select(col("doc_id"), col("kept"))
        screened0.join(draws, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("decision") === Accepted && col("kept").isNull,
              raise_error(concat(lit("ingest sampling gate: no score row " +
                "for accepted doc_id="), col("doc_id"),
                lit(" — the score column must cover the batch"))))
              .when(col("decision") === Accepted && !col("kept"),
                lit(RejectedSampled))
              .otherwise(col("decision")).as("decision"))
      case None => screened0
    }
    // Optional STRUCTURAL-QUALITY gate: acceptances failing the Gopher
    // rules flip to rejected_quality and never reach any index. Flags
    // come from ONE typed pass over the WHOLE batch (the plan-shape
    // invariant above); the flip still applies only to currently
    // Accepted rows, so decisions are identical to an acceptance-only
    // pass. Pure function of the doc — retry-stable.
    val screenedQ =
      if (!qualityGate) screenedS
      else {
        val flags = TextFunctions.gopherStats(b, "doc_id", "text")
          .toDF().select(col("doc_id"), col("passes"))
        screenedS.join(flags, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("decision") === Accepted &&
                !coalesce(col("passes"), lit(true)),
              lit(RejectedQuality))
              .otherwise(col("decision")).as("decision"))
      }
    // Optional boilerplate gate against the persisted span index:
    // acceptances whose stored-span coverage reaches maxBoilerplate flip
    // to rejected_boilerplate. The span screen runs over the WHOLE
    // batch (plan-shape invariant — its eager broadcast-guard job now
    // touches only `b`, never the decision spine); n_spans == 0
    // (short/empty doc) passes; x/n is one IEEE op.
    val screened = spanGate match {
      case Some((spanIdx, spanK, maxBoilerplate)) =>
        val flags = Spans.spanScreenIndexed(b, spanIdx, "doc_id", "text",
            spanK)
          .select(col("doc_id"),
            (col("n_spans") > 0L &&
              col("n_ref_spans").cast("double") / col("n_spans") >=
                maxBoilerplate).as("bp"))
        screenedQ.join(flags, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("decision") === Accepted &&
                coalesce(col("bp"), lit(false)),
              lit(RejectedBoilerplate))
              .otherwise(col("decision")).as("decision"))
      case None => screenedQ
    }
    // Optional vector-quality gate: docs the text screens ACCEPTED whose
    // embedding is an outlier against the persisted yardstick
    // ([[IVF.OutlierModel]], a FIXED boundary trained once — the
    // embedOutliersTrain/Score contract) flip to rejected_outlier and
    // never reach any index. Retry-stable by construction: the model is
    // fixed and a gated doc is never indexed, so its retry re-screens
    // identically; a doc that PASSED the gate short-circuits to
    // accepted_prior before the gate on retry (decision != accepted).
    // Docs without an embedding row cannot be screened and pass — the
    // coverage gap is what `acceptedWithoutVector` audits.
    val screenedO = outlierGate match {
      case Some((model, factor, embeddings)) =>
        val batchVecs = embeddings
          .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
          .join(b.select(col("doc_id").as("vec_id")), Seq("vec_id"),
            "left_semi")
        val flags = IVF.embedOutliersScore(model, batchVecs, factor)
          .select(col("vec_id").as("doc_id"), col("outlier"))
        screened.join(flags, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("decision") === Accepted &&
                coalesce(col("outlier"), lit(false)),
              lit(RejectedOutlier))
              .otherwise(col("decision")).as("decision"))
      case None => screened
    }
    // Optional split-LEAKAGE gate, LAST in precedence (the second
    // store-banded screen — every earlier gate is cheaper): batch docs
    // with a stored near-dup at the looser `leakThreshold` whose
    // id-draw split differs from their own flip to rejected_leak.
    // Both split columns are stateless md5 projections of the IDS the
    // pair frame already carries (the splitTag draw exactly —
    // splitAssign with the default salt), so the index needs no split
    // column and the flags are pure functions of (pair, ids):
    // retry-stable, plan-shape linear (one more flag frame in the
    // left-join chain, whole-batch as all gates).
    leakGate match {
      case Some((leakThreshold, splits)) =>
        val pairs = Dedup.nearDupJoinIndexed(b, ndIndex, "doc_id", "text",
            leakThreshold, shingleN)
          .select(col("left_id"), col("right_id"))
        val leftSplit = graft.ops.CorpusMix.splitAssign(
            pairs.select(col("left_id")).distinct(), "left_id", splits)
          .select(col("doc_id").as("left_id"), col("split").as("split_l"))
        val rightSplit = graft.ops.CorpusMix.splitAssign(
            pairs.select(col("right_id")).distinct(), "right_id", splits)
          .select(col("doc_id").as("right_id"), col("split").as("split_r"))
        val flags = pairs
          .join(leftSplit, Seq("left_id"))
          .join(rightSplit, Seq("right_id"))
          .filter(col("split_l") =!= col("split_r"))
          .select(col("left_id").as("doc_id")).distinct()
          .withColumn("leaks", lit(true))
        screenedO.join(flags, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("decision") === Accepted &&
                coalesce(col("leaks"), lit(false)),
              lit(RejectedLeak))
              .otherwise(col("decision")).as("decision"))
      case None => screenedO
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
   * Screen `batch` against the PERSISTED indexes and append the accepted
   * docs — the whole crash-safe ingestion step as one call.
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
   * `chunkRootPath` (see [[currentChunkDir]]): epochs append into the
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
  def ingestBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      ndIndexPath: String,
      chunkRootPath: String,
      epoch: String,
      embeddings: Option[DataFrame] = None,
      ivfIndexPath: Option[String] = None,
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
      outlierModelPath: Option[String] = None,
      outlierFactor: Double = 2.0,
      pqIndexPath: Option[String] = None,
      pqCompactFiles: Int = 256,
      pqM: Int = 8,
      pqK: Int = 16,
      spanRootPath: Option[String] = None,
      spanK: Int = 5,
      maxBoilerplate: Double = 0.5,
      spanCompactEvery: Int = 64,
      qualityGate: Boolean = false,
      samplingGate: Option[(String, Long)] = None,
      splitTag: Option[(Seq[(String, Long)], String)] = None,
      tokenizerModelPath: Option[String] = None,
      tokenizerModel: Option[Bpe.TokenizerModel] = None,
      leakGate: Option[Double] = None,
      binExportRootPath: Option[String] = None,
      binExportShards: Int = 8,
      binExportBudget: Int = 256,
      binExportCompactEvery: Int = 64): IngestReport = {
    require(leakGate.isEmpty ||
        splitTag.exists { case (_, byCol) => byCol.isEmpty },
      "ingestBatch: the leak gate derives the STORED side's split from " +
        "the doc-id draw, so it requires splitTag with byCol = \"\" (the " +
        "id-keyed split); a grouped split's draw key is not recoverable " +
        "from the near-dup index")
    leakGate.foreach(t => require(t > 0.0 && t <= threshold,
      s"ingestBatch: leakThreshold must be in (0, threshold=$threshold] " +
        s"— above the dedup threshold the dup screen fires first; got $t"))
    require(tokenizerModelPath.isEmpty || tokenizerModel.isEmpty,
      "ingestBatch: pass tokenizerModelPath OR a pre-loaded " +
        "tokenizerModel, not both — two models could disagree")
    require(binExportRootPath.isEmpty ||
        tokenizerModelPath.nonEmpty || tokenizerModel.nonEmpty,
      "ingestBatch: the bin-export family PACKS model-token id " +
        "sequences — arming binExportRootPath requires the tokenizer " +
        "(tokenizerModelPath or a pre-loaded tokenizerModel)")
    require(binExportShards > 0 && binExportBudget > 0 &&
        binExportCompactEvery >= 2,
      "ingestBatch: binExportShards/binExportBudget must be positive " +
        "and binExportCompactEvery >= 2")
    require(epoch.nonEmpty, "ingestBatch: epoch must be non-empty")
    require(compactEvery >= 2, "ingestBatch: compactEvery must be >= 2")
    require(ndCompactFiles >= 2, "ingestBatch: ndCompactFiles must be >= 2")
    require(ivfCompactFiles >= 2, "ingestBatch: ivfCompactFiles must be >= 2")
    require(pqCompactFiles >= 2, "ingestBatch: pqCompactFiles must be >= 2")
    require(spanCompactEvery >= 2, "ingestBatch: spanCompactEvery must be >= 2")
    require(maxBoilerplate > 0.0 && maxBoilerplate <= 1.0,
      s"ingestBatch: maxBoilerplate must be in (0, 1], got $maxBoilerplate")
    require(outlierModelPath.isEmpty || embeddings.nonEmpty,
      "ingestBatch: the outlier gate screens EMBEDDINGS — passing " +
        "outlierModelPath without an embeddings frame would silently " +
        "gate nothing")
    val spark = batch.sparkSession
    val b = batch
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .graftCached

    // Near-dup index layout: managed generations for anything that is
    // not already a committed FLAT index (legacy layout — left as-is;
    // its appends still work, it just never compacts).
    val ndFs = rootFs(spark, ndIndexPath)
    val ndManaged =
      ndFs.exists(new Path(ndIndexPath, "CURRENT")) ||
        !Dedup.hasCommittedParquet(spark, ndIndexPath)
    val ndDir =
      if (ndManaged) currentGenDir(spark, ndIndexPath) else ndIndexPath

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
    val chunkDir = currentChunkDir(spark, chunkRootPath)
    val chunkIdx = Dedup.chunkIndexRead(spark, chunkDir)

    // The k guard lives at the ROOT (it must survive generation rolls):
    // screening a k=5 store with k=6 would silently match nothing.
    val spanDirOpt = spanRootPath.map { root =>
      Spans.recordOrCheckK(spark, root, spanK)
      currentGenDir(spark, root)
    }
    // The whole gated decision spine (base screen + quality/span/outlier
    // gates in precedence order) is ONE shared implementation —
    // [[gatedDecisions]], also exposed read-only as [[screenBatchGated]]
    // for ad-hoc audits and the graft_ingest_screen2 TVF. The span gate
    // reads the SNAPSHOT-stable committed-epoch listing
    // ([[Spans.spanIndexRead]]), so the cached decisions survive this
    // call's own span append.
    val decisions0 = gatedDecisions(b, ndIndex, chunkIdx,
      threshold, dupRatio, maxDf, shingleN, divisor, maxChunkTokens,
      qualityGate,
      spanDirOpt.map(d =>
        (Spans.spanIndexRead(spark, d), spanK, maxBoilerplate)),
      outlierModelPath.map(mp =>
        (IVF.OutlierModel.read(spark, mp), outlierFactor, embeddings.get)),
      samplingGate.map { case (scoreCol, maxScore) =>
        (batch.select(col(idCol).cast("long").as("doc_id"),
          col(scoreCol).cast("long").as("score")), maxScore)
      },
      leakGate.map(t => (t, splitTag.get._1)))
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
    // [[withTokenCounts]]. A recurring caller passes the pre-loaded
    // model (ingestSink resolves the path ONCE and reuses the instance,
    // whose memoized rank table makes the per-batch cost one broadcast,
    // not one model read + collect).
    val resolvedModel = tokenizerModel.orElse(
      tokenizerModelPath.map(Bpe.TokenizerModel.read(spark, _)))
    val decisions = (resolvedModel match {
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
    val fs = rootFs(spark, chunkRootPath)
    val epochMarker = new Path(new Path(chunkRootPath, "epochs"), epoch)
    val appendedChunks =
      if (fs.exists(epochMarker)) -1L
      else {
        val n = Dedup.chunkIndexAppend(
          acceptedAll, "doc_id", "text", chunkDir, epoch,
          divisor, maxChunkTokens)
        fs.mkdirs(epochMarker.getParent)
        fs.create(epochMarker, true).close()
        n
      }

    // 2b. span epoch append (the optional fifth family): spans of ALL
    //     accepted docs (new + prior), the chunk step's crash-window
    //     rationale — a retry that died between steps 1 and 2b still
    //     records the crashed docs' spans. Root-level epoch marker for
    //     replay-past-compaction idempotence, exactly as for chunks.
    val appendedSpans = spanRootPath match {
      case Some(root) =>
        val sfs = rootFs(spark, root)
        val spanMarker = new Path(new Path(root, "epochs"), epoch)
        if (sfs.exists(spanMarker)) -1L
        else {
          val n = Spans.spanIndexAppend(
            acceptedAll, "doc_id", "text", spanDirOpt.get, epoch, spanK)
          sfs.mkdirs(spanMarker.getParent)
          sfs.create(spanMarker, true).close()
          n
        }
      case None => 0L
    }

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
    //    in place. Resolve either layout via [[ivfIndexDirAt]] /
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
      (acceptedVecs, ivfIndexPath) match {
        case (Some(e), Some(path)) =>
          val ivfFs = rootFs(spark, path)
          val ivfManaged = ivfFs.exists(new Path(path, "CURRENT")) ||
            !(Dedup.hasCommittedParquet(spark, path + "/centroids") &&
              Dedup.hasCommittedParquet(spark, path + "/vectors"))
          val ivfDir = if (ivfManaged) currentGenDir(spark, path) else path
          val built = Dedup.hasCommittedParquet(spark, ivfDir + "/centroids") &&
            Dedup.hasCommittedParquet(spark, ivfDir + "/vectors")
          val n =
            if (!built) {
              // First accepted batch trains the quantizer. A crash
              // mid-build leaves an incomplete index (no committed
              // centroids+vectors pair), which the retry detects and
              // rebuilds via overwrite.
              val cnt = e.count()
              if (cnt > 0) IVF.buildIvfIndex(e, ivfNlist).write(ivfDir)
              cnt
            } else IVF.indexAppend(e, ivfDir)
          val rolled = ivfManaged &&
            committedParquetFiles(ivfFs, ivfDir + "/vectors") >=
              ivfCompactFiles && {
              rollGeneration(spark, path, ivfDir)(
                IVF.indexCompact(spark, _, _))
              true
            }
          (n, rolled)
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
      (acceptedVecs, pqIndexPath) match {
        case (Some(e), Some(path)) =>
          val pqFs = rootFs(spark, path)
          def committedPq(dir: String): Boolean =
            Dedup.hasCommittedParquet(spark, dir + "/centroids") &&
              Dedup.hasCommittedParquet(spark, dir + "/codebooks") &&
              Dedup.hasCommittedParquet(spark, dir + "/codes")
          val pqManaged = pqFs.exists(new Path(path, "CURRENT")) ||
            !committedPq(path)
          val pqDir = if (pqManaged) currentGenDir(spark, path) else path
          val n =
            if (!committedPq(pqDir)) {
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
          val rolled = pqManaged &&
            committedParquetFiles(pqFs, pqDir + "/codes") >=
              pqCompactFiles && {
              rollGeneration(spark, path, pqDir)(
                PQ.indexCompact(spark, _, _))
              true
            }
          (n, rolled)
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
        val m = resolvedModel.get
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
    // generation; at the threshold, fold them into a single-epoch
    // successor generation and flip CURRENT.
    val epochCount = fs.listStatus(new Path(chunkDir)).count(st =>
      st.isDirectory && st.getPath.getName.startsWith("batch_id=") &&
        fs.exists(new Path(st.getPath, "_SUCCESS")))
    val compacted =
      if (epochCount >= compactEvery) {
        // Marker repair first: folding an orphan epoch (committed
        // gen-local, root marker lost to a crash) without its marker
        // would let that epoch's retry double-count df_cnt in the new
        // generation. See [[repairEpochMarkers]].
        repairEpochMarkers(fs, chunkRootPath, chunkDir)
        rollGeneration(spark, chunkRootPath, chunkDir)(
          Dedup.chunkIndexCompact(spark, _, _))
        true
      } else false

    // Same policy for the near-dup generation, measured in committed
    // parquet files (appends land whole files, not epochs). The roll
    // happens AFTER this batch's decisions are materialized, so the
    // cached decisions frame never depends on a swept directory within
    // this call; a caller holding `decisions` across a later eviction
    // should write it out first (it is one row per batch doc).
    val ndCompacted =
      ndManaged && committedParquetFiles(ndFs, ndDir) >= ndCompactFiles && {
        rollGeneration(spark, ndIndexPath, ndDir)(
          Dedup.nearDupIndexCompact(spark, _, _))
        true
      }

    // Span-generation compaction: committed epochs in the current
    // generation, folded past spanCompactEvery — the chunk policy.
    val spanCompacted = spanRootPath.exists { root =>
      val sfs = rootFs(spark, root)
      val spanDir = spanDirOpt.get
      val spanEpochs = sfs.listStatus(new Path(spanDir)).count(st =>
        st.isDirectory && st.getPath.getName.startsWith("batch_id=") &&
          sfs.exists(new Path(st.getPath, "_SUCCESS")))
      spanEpochs >= spanCompactEvery && {
        // Same orphan-epoch marker repair as the chunk roll above.
        repairEpochMarkers(sfs, root, spanDir)
        rollGeneration(spark, root, spanDir)(
          Spans.spanIndexCompact(spark, _, _))
        true
      }
    }

    IngestReport(decisions, appendedDocs, appendedChunks, appendedVectors,
      compacted, ndCompacted, acceptedWithoutVector, ivfCompacted,
      appendedCodes, pqCompacted, appendedSpans, spanCompacted,
      appendedBinShards)
  }

  /**
   * The STREAM-NATIVE entry to the ingestion loop: a `foreachBatch` body
   * that runs [[ingestBatch]] on every micro-batch with the epoch
   * derived from the streaming batch id —
   * {{{
   *   stream.writeStream
   *     .foreachBatch(Ingest.ingestSink("doc_id", "text", nd, chunks))
   *     .option("checkpointLocation", ck)
   *     .start()
   * }}}
   * Exactly-once EFFECT without a transactional sink: Structured
   * Streaming replays a failed or restarted micro-batch under the SAME
   * batch id, the epoch name is a pure function of that id, and every
   * [[ingestBatch]] step is idempotent under a repeated epoch (by-doc-id
   * near-dup append, epoch-marker chunk and span appends, by-vec-id
   * vector/code appends) — so a replay reaches the same decisions and appends
   * nothing new. The single-writer assumption is the streaming runtime's
   * own guarantee (one micro-batch in flight per query).
   *
   * `embeddingCol` lifts embeddings from the stream itself: when set,
   * each micro-batch's (idCol, embeddingCol) pairs feed the vector
   * families (and the outlier gate, when armed) — no side channel to
   * join at ingest time.
   *
   * `leakGate` forwards to [[ingestBatch]]'s split-leakage gate
   * unchanged — the stream twin arms the same prevention as the batch
   * loop (requires `splitTag` with byCol = "", checked loud at sink
   * CONSTRUCTION so a mis-armed stream fails before `.start()`).
   * Replay-stable under the same batch id exactly like every other
   * gate: the decision is a pure function of (batch, store), the store
   * only gains docs, and gated docs never touch a store.
   *
   * `binExportRootPath` forwards to [[ingestBatch]]'s sixth managed
   * family unchanged — the stream refreshes the loader-native binary
   * artifact one epoch per micro-batch (epoch = the batch id, so the
   * family's own root marker makes a replayed micro-batch a no-op).
   * Requires `tokenizerModelPath`, checked loud at sink CONSTRUCTION.
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
      idCol: String,
      textCol: String,
      ndIndexPath: String,
      chunkRootPath: String,
      epochPrefix: String = "stream",
      embeddingCol: Option[String] = None,
      ivfIndexPath: Option[String] = None,
      pqIndexPath: Option[String] = None,
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
      spanRootPath: Option[String] = None,
      spanK: Int = 5,
      maxBoilerplate: Double = 0.5,
      spanCompactEvery: Int = 64,
      qualityGate: Boolean = false,
      samplingGate: Option[(String, Long)] = None,
      splitTag: Option[(Seq[(String, Long)], String)] = None,
      tokenizerModelPath: Option[String] = None,
      leakGate: Option[Double] = None,
      binExportRootPath: Option[String] = None,
      binExportShards: Int = 8,
      binExportBudget: Int = 256,
      binExportCompactEvery: Int = 64,
      onReport: (Long, IngestReport) => Unit = (_, _) => ())
      : (DataFrame, Long) => Unit = {
    require(epochPrefix.nonEmpty, "ingestSink: epochPrefix must be non-empty")
    // Same construction-time posture as the leak gate below: the bin
    // family packs MODEL-token sequences, so arming it without the
    // tokenizer must fail before `.start()`, not on batch 0.
    require(binExportRootPath.isEmpty || tokenizerModelPath.nonEmpty,
      "ingestSink: binExportRootPath requires tokenizerModelPath — the " +
        "bin-export family packs model-token id sequences")
    // Fail at sink-CONSTRUCTION time, not on the first micro-batch: the
    // leak gate's splitTag requirement ([[ingestBatch]]'s contract — the
    // stored side's split is re-derived from the id draw) is a pure
    // function of the arguments, so a mis-armed stream should never
    // start. ingestBatch re-checks per batch; this copy just moves the
    // loud failure before `.start()`.
    require(leakGate.isEmpty ||
        splitTag.exists { case (_, byCol) => byCol.isEmpty },
      "ingestSink: leakGate requires splitTag with byCol = \"\" (the " +
        "id-keyed draw) — see ingestBatch's leak-gate contract")
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
        if (tokModel.isEmpty && tokenizerModelPath.isDefined)
          tokModel = Some(Bpe.TokenizerModel.read(
            batch.sparkSession, tokenizerModelPath.get))
        val emb = embeddingCol.map(c => batch
          .select(col(idCol).cast("long").as("vec_id"), col(c).as("embedding"))
          .filter(col("embedding").isNotNull))
        val report = ingestBatch(batch, idCol, textCol, ndIndexPath,
          chunkRootPath, epoch = f"$epochPrefix%s-$batchId%09d",
          embeddings = emb, ivfIndexPath = ivfIndexPath,
          threshold = threshold, dupRatio = dupRatio, maxDf = maxDf,
          shingleN = shingleN, divisor = divisor,
          maxChunkTokens = maxChunkTokens, compactEvery = compactEvery,
          ivfNlist = ivfNlist, ndCompactFiles = ndCompactFiles,
          ivfCompactFiles = ivfCompactFiles,
          outlierModelPath = outlierModelPath,
          outlierFactor = outlierFactor, pqIndexPath = pqIndexPath,
          pqCompactFiles = pqCompactFiles, pqM = pqM, pqK = pqK,
          spanRootPath = spanRootPath, spanK = spanK,
          maxBoilerplate = maxBoilerplate,
          spanCompactEvery = spanCompactEvery, qualityGate = qualityGate,
          samplingGate = samplingGate, splitTag = splitTag,
          tokenizerModel = tokModel, leakGate = leakGate,
          binExportRootPath = binExportRootPath,
          binExportShards = binExportShards,
          binExportBudget = binExportBudget,
          binExportCompactEvery = binExportCompactEvery)
        onReport(batchId, report)
      }
  }

  /** Resolve the directory holding a persisted IVF index's
    * centroids/vectors pair: a managed root's active generation (detected
    * by `CURRENT`), or the path itself (flat [[IVF.buildIvfIndex]]
    * layout). [[IVF.IvfIndex.read]] applies the same resolution, so
    * readers need this only for file-level work. */
  def ivfIndexDirAt(spark: SparkSession, path: String): String = {
    val fs = rootFs(spark, path)
    if (fs.exists(new Path(path, "CURRENT"))) currentGenDir(spark, path)
    else path
  }

  /** Resolve the directory holding a persisted PQ index's
    * centroids/codebooks/codes triple: a managed root's active generation
    * (detected by `CURRENT`), or the path itself (flat
    * [[PQ.PqIndex.write]] layout). [[PQ.PqIndex.read]] applies the same
    * resolution, so readers need this only for file-level work. */
  def pqIndexDirAt(spark: SparkSession, path: String): String = {
    val fs = rootFs(spark, path)
    if (fs.exists(new Path(path, "CURRENT"))) currentGenDir(spark, path)
    else path
  }

  /**
   * Storage-maintenance audit over the loop's index families
   * (neardup / chunk / ivf / pq) — the
   * observability half of the generation/compaction contract: one row
   * per index root with its layout (`managed` / `flat` / `absent`), the
   * active generation, committed data-file count (the compaction
   * triggers' own metric, so an operator can see HOW CLOSE each family
   * is to its next roll), row count, and — for the chunk family — the
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
   * `epoch_markers` are null for the non-chunk families.
   */
  def indexReport(
      spark: SparkSession,
      ndIndexPath: String,
      chunkRootPath: String,
      ivfIndexPath: Option[String] = None,
      pqIndexPath: Option[String] = None,
      spanRootPath: Option[String] = None): DataFrame = {
    import spark.implicits._
    def layoutOf(root: String, committed: => Boolean): String = {
      val fs = rootFs(spark, root)
      if (!fs.exists(new Path(root))) "absent"
      else if (fs.exists(new Path(root, "CURRENT"))) "managed"
      else if (committed) "flat"
      else "absent"
    }
    def genOf(root: String, layout: String): String =
      if (layout == "managed") new Path(currentGenDir(spark, root)).getName
      else "-"

    val ndLayout = layoutOf(ndIndexPath,
      Dedup.hasCommittedParquet(spark, ndIndexPath))
    val ndDir = ndIndexDir(spark, ndIndexPath)
    val ndRow = ("neardup", ndLayout, genOf(ndIndexPath, ndLayout),
      committedParquetFiles(rootFs(spark, ndIndexPath), ndDir).toLong,
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
        val dir = new Path(
          if (layout == "managed") currentGenDir(spark, root) else root)
        val epochs = fs.listStatus(dir).count(st =>
          st.isDirectory && st.getPath.getName.startsWith("batch_id=") &&
            fs.exists(new Path(st.getPath, "_SUCCESS"))).toLong
        val markerDir = new Path(root, "epochs")
        val markers =
          if (fs.exists(markerDir)) fs.listStatus(markerDir).length.toLong
          else 0L
        val files = fs.listStatus(dir)
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch_id="))
          .map(d => fs.listStatus(d.getPath)
            .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
            .toLong)
          .sum
        val rows = if (epochs == 0) 0L else readRows(dir.toString)
        (family, layout, genOf(root, layout), files, rows,
          Some(epochs), Some(markers))
      }
    }

    val chRow = epochFamilyRow("chunk", chunkRootPath,
      d => Dedup.chunkIndexRead(spark, d).count())

    val ivfRow = ivfIndexPath.map { root =>
      val fs = rootFs(spark, root)
      val dir = ivfIndexDirAt(spark, root)
      val built = Dedup.hasCommittedParquet(spark, dir + "/centroids") &&
        Dedup.hasCommittedParquet(spark, dir + "/vectors")
      val layout = layoutOf(root, built)
      ("ivf", layout, genOf(root, layout),
        committedParquetFiles(fs, dir + "/vectors").toLong,
        if (built) spark.read.parquet(dir + "/vectors").count() else 0L,
        None: Option[Long], None: Option[Long])
    }

    val pqRow = pqIndexPath.map { root =>
      val fs = rootFs(spark, root)
      val dir = pqIndexDirAt(spark, root)
      val built = Dedup.hasCommittedParquet(spark, dir + "/centroids") &&
        Dedup.hasCommittedParquet(spark, dir + "/codebooks") &&
        Dedup.hasCommittedParquet(spark, dir + "/codes")
      val layout = layoutOf(root, built)
      ("pq", layout, genOf(root, layout),
        committedParquetFiles(fs, dir + "/codes").toLong,
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
    * root (detected by its `CURRENT` pointer) or a raw
    * [[Spans.spanIndexAppend]] epoch directory. */
  def spanIndexAt(spark: SparkSession, path: String): DataFrame = {
    val fs = rootFs(spark, path)
    val dir =
      if (fs.exists(new Path(path, "CURRENT"))) currentGenDir(spark, path)
      else path
    Spans.spanIndexRead(spark, dir)
  }

  /** The k-aware form every consumer that tokenizes with its OWN k must
    * use ([[Spans.checkK]] at the root and the resolved generation):
    * reading a k=5 store with a k=6 batch would silently match nothing,
    * so a recorded mismatch fails loud instead of reporting clean. */
  def spanIndexAt(spark: SparkSession, path: String, k: Int): DataFrame = {
    Spans.checkK(spark, path, k)
    val fs = rootFs(spark, path)
    val dir =
      if (fs.exists(new Path(path, "CURRENT"))) currentGenDir(spark, path)
      else path
    if (dir != path) Spans.checkK(spark, dir, k)
    Spans.spanIndexRead(spark, dir)
  }

  /**
   * Close the append-crash/compaction race BEFORE a generation roll: a
   * run that died after committing its gen-local epoch but before
   * creating the root-level marker leaves an ORPHAN epoch. If a later
   * call's roll folded that epoch and the crashed epoch then retried,
   * the retry would re-append into the new generation and df_cnt would
   * double-count it (membership count>=1 was never affected). Repairing
   * the marker for every committed gen-local epoch right before folding
   * makes the fold itself the completion point: after the roll, a retry
   * of the orphan sees its root marker and skips. Crash-safe: dying
   * mid-repair just leaves markers the un-rolled generation still
   * backs; dying between repair and roll leaves markers whose epochs
   * are committed — both are exactly the normal committed state.
   */
  private def repairEpochMarkers(
      fs: FileSystem, root: String, genDir: String): Unit = {
    val markers = new Path(root, "epochs")
    fs.listStatus(new Path(genDir)).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("batch_id=") &&
          fs.exists(new Path(st.getPath, "_SUCCESS"))) {
        // EpochStore writes "batch_id=<epoch>" LITERALLY (its own
        // directory layout, not a partitioned writer), and the root
        // marker uses the same raw epoch string — so the dir name maps
        // back by prefix strip alone; no partition-escape decoding.
        val epoch = n.stripPrefix("batch_id=")
        val m = new Path(markers, epoch)
        if (!fs.exists(m)) {
          fs.mkdirs(markers)
          fs.create(m, true).close()
        }
      }
    }
  }

  /** Number of committed parquet data files directly under `dir` (0 when
    * absent) — the near-dup generation's compaction trigger. */
  private def committedParquetFiles(fs: FileSystem, dir: String): Int = {
    val p = new Path(dir)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet"))
  }

  /** The typed empty (doc, sig, hs) frame a bootstrap screen runs
    * against. */
  private def emptyNdFrame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Array[Int], Array[Int])].toDF("doc", "sig", "hs")
  }

  /**
   * Read a persisted near-dup index for screening: either an
   * [[ingestBatch]]-managed root (detected by its `CURRENT` pointer —
   * resolves to the active generation) or a flat
   * [[Dedup.indexAppend]] directory. Returns the typed empty frame when
   * nothing is committed yet, so a bootstrap screen composes cleanly.
   */
  def ndIndexAt(spark: SparkSession, path: String): DataFrame =
    ndSnapshot(spark, ndIndexDir(spark, path)).getOrElse(emptyNdFrame(spark))

  /** Resolve the directory holding a near-dup index's committed rows:
    * a managed root's active generation (detected by `CURRENT`), or the
    * path itself (flat [[Dedup.indexAppend]] layout). */
  def ndIndexDir(spark: SparkSession, path: String): String = {
    val fs = rootFs(spark, path)
    if (fs.exists(new Path(path, "CURRENT"))) currentGenDir(spark, path)
    else path
  }

  /** Resolve the directory holding a persisted SPAN index: a managed
    * root's active generation (detected by `CURRENT`), or the path
    * itself (flat [[Spans.spanIndexAppend]] layout). READ-ONLY — never
    * bootstraps a generation tree (that is [[ingestBatch]]'s append-side
    * concern), so a read surface pointed at a wrong path fails loud
    * downstream instead of minting an empty store. */
  def spanIndexDirAt(spark: SparkSession, path: String): String = {
    val fs = rootFs(spark, path)
    if (fs.exists(new Path(path, "CURRENT"))) currentGenDir(spark, path)
    else path
  }

  // ---- managed chunk-index generations -----------------------------------

  /**
   * Resolve (bootstrapping if needed) the current chunk-index generation
   * directory under `root`. Layout:
   * {{{
   *   <root>/CURRENT            one line: the active generation name
   *   <root>/gen-00000/...      chunk epochs (batch_id=* partitions)
   *   <root>/epochs/<epoch>     committed-epoch markers (outlive gens)
   * }}}
   * The CURRENT pointer is a single small file — an atomic PUT on object
   * stores; single writer assumed. Generations superseded by compaction
   * are deleted best-effort (a crash leaves orphans that the next
   * compaction sweeps).
   */
  def currentChunkDir(spark: SparkSession, root: String): String =
    currentGenDir(spark, root)

  /** Resolve (bootstrapping if needed) the current generation directory
    * of a managed index root — the layout shared by the chunk and
    * near-dup indexes (see [[currentChunkDir]]'s doc for the tree). */
  private[graft] def currentGenDir(spark: SparkSession, root: String): String = {
    val fs = rootFs(spark, root)
    val currentFile = new Path(root, "CURRENT")
    if (!fs.exists(currentFile)) {
      fs.mkdirs(new Path(root, "gen-00000"))
      writeCurrent(fs, currentFile, "gen-00000")
    }
    val gen = readCurrent(fs, currentFile)
    val dir = new Path(root, gen)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    dir.toString
  }

  /** Fold the current generation into a compacted successor (via the
    * index family's `compact(src, dest)`) and flip CURRENT. Crash-safe:
    * dying before the flip leaves CURRENT on the old (still-complete)
    * generation and the next trigger re-compacts — the compact functions
    * all `mode("overwrite")` the successor, so a stale partial successor
    * is repaired, never trusted. Dying after the flip leaves orphan
    * generations that the next roll's sweep deletes.
    *
    * READER CONTRACT: the JUST-superseded generation is kept through one
    * roll (the sweep deletes only `gen-N` with N < the pre-roll CURRENT),
    * so a concurrent reader that resolved [[ndIndexAt]] /
    * [[chunkIndexAt]] / [[ivfIndexDirAt]] right before the flip can still
    * materialize its frame afterwards — its files outlive the roll that
    * superseded them and die only at the NEXT roll. One-writer-
    * many-readers is therefore safe at one-roll cadence: a reader must
    * consume (or re-resolve) a frame before a SECOND compaction fires,
    * which at the default thresholds is hundreds of batches away. */
  private[graft] def rollGeneration(
      spark: SparkSession, root: String, curDir: String)(
      compact: (String, String) => Long): Unit = {
    val fs = rootFs(spark, root)
    val curName = new Path(curDir).getName
    val curNum = curName.stripPrefix("gen-").toInt
    val nextName = f"gen-${curNum + 1}%05d"
    compact(curDir, new Path(root, nextName).toString)
    writeCurrent(fs, new Path(root, "CURRENT"), nextName)
    // Sweep superseded generations EXCEPT the newest one (the grace
    // generation in-flight readers may still be scanning), incl. orphans
    // of past crashes.
    fs.listStatus(new Path(root)).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("gen-") &&
          n.stripPrefix("gen-").forall(_.isDigit) &&
          n.stripPrefix("gen-").toInt < curNum)
        fs.delete(st.getPath, true)
    }
  }

  /** Read a persisted chunk index for screening: either an
    * [[ingestBatch]]-managed root (detected by its `CURRENT` pointer —
    * resolves to the active generation) or a raw
    * [[Dedup.chunkIndexAppend]] epoch directory. */
  def chunkIndexAt(spark: SparkSession, path: String): DataFrame = {
    val fs = rootFs(spark, path)
    val dir =
      if (fs.exists(new Path(path, "CURRENT"))) currentChunkDir(spark, path)
      else path
    Dedup.chunkIndexRead(spark, dir)
  }

  private[graft] def rootFs(spark: SparkSession, root: String): FileSystem =
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

  private[graft] def writeCurrent(fs: FileSystem, file: Path, gen: String): Unit = {
    val out = fs.create(file, true)
    try out.write(gen.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private[graft] def readCurrent(fs: FileSystem, file: Path): String = {
    val in = fs.open(file)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      var n = in.read(buf)
      while (n > 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      val gen = bytes.toString(java.nio.charset.StandardCharsets.UTF_8).trim
      require(gen.startsWith("gen-") &&
        gen.stripPrefix("gen-").forall(_.isDigit) && gen.length > 4,
        s"corrupt CURRENT pointer at $file: '$gen'")
      gen
    } finally in.close()
  }
}
