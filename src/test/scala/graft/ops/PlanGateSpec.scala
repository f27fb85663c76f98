package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftCaches, SparkEntry}
import graft.tools.PlanAudit

/**
 * The plan-shape regression gate: golden bounds on PlanAudit's counts for
 * the most expensive bench queries. A future edit that drops a persist
 * (cachedScans collapses), un-broadcasts a dimension (broadcastJoins
 * drops / sortMergeJoins jumps), or sneaks in an extra shuffle turns THIS
 * suite red — at spec time, not as a mystery slowdown in the next round's
 * bench. Bounds are one-sided on purpose: cachedScans/broadcastJoins are
 * floors (more reuse is fine), shuffles/sortMergeJoins are ceilings
 * (fewer is fine), so only genuine plan regressions fail. A join-free
 * shape also caps broadcastJoins, where a joined-back branch would
 * otherwise hide behind a reused exchange.
 *
 * Counts come from the pre-execution physical plan at sf0.001 — shape,
 * not data, so they are stable across boxes.
 */
class PlanGateSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Golden bounds per query (floors on reuse, ceilings on movement). */
  private final case class Gate(
      minCachedScans: Int = 0,
      minBroadcastJoins: Int = 0,
      maxBroadcastJoins: Int = Int.MaxValue,
      maxShuffles: Int = Int.MaxValue,
      maxSortMergeJoins: Int = Int.MaxValue,
      minPushedFilterScans: Int = 0,
      minMapPartitions: Int = 0)

  // Golden values measured 2026-08-13 (round 6), after the survivors
  // persist in corpus_curate and the chunkDedup groupBy+join-back rewrite.
  private val gates: Map[String, Gate] = Map(
    // Cached reuse points: the SHARED (id, text) frame feeding all six
    // text consumers plus each drop-set operator's internal persists.
    // Round 17: quality rides seqPack's carryCols, so the survivors
    // re-join (and its persist) is gone — 22 reuse points, 13 exchanges
    // (was 40+/30). Below 18 cached scans, the shared text persist is
    // gone (six source scans) or a whole drop branch re-executes.
    "corpus_curate" -> Gate(minCachedScans = 18, minBroadcastJoins = 8,
      maxShuffles = 16, maxSortMergeJoins = 2),
    // Batch-side index persisted (bands + verify) AND the caller index
    // persisted — four reuse points; the %2 source filters stay pushed.
    "ingest_dedup_indexed" -> Gate(minCachedScans = 4, minBroadcastJoins = 3,
      maxShuffles = 5, maxSortMergeJoins = 1, minPushedFilterScans = 4),
    // chunks persist feeds the count build and the probe side.
    "chunk_dedup" -> Gate(minCachedScans = 2, minBroadcastJoins = 1,
      maxShuffles = 4, maxSortMergeJoins = 0),
    // Same dedupChunks tail as chunk_dedup; the typed CDC chunking pass
    // must stay a mapPartitions node.
    "chunk_dedup_cdc" -> Gate(minCachedScans = 2, minBroadcastJoins = 1,
      maxShuffles = 4, maxSortMergeJoins = 0, minMapPartitions = 1),
    // Indexed screen: batch chunk set + pruned index survivors + totals
    // + per-doc rollup ALL broadcast (batch-bounded by contract, loudly
    // guarded); the index side must never shuffle (an SMJ here means it
    // did), and the index parity filter stays pushed. Round 18: the
    // internal chunks/bCounts frames are checkpointCut (LogicalRDD),
    // not persisted — their build trees (the typed CDC pass, its
    // cache-fill exchanges, the batch source scans) no longer print in
    // the returned plan, so cachedScans has no floor here and the
    // shuffle ceiling drops 7 -> 3 (the screen's own exchanges only);
    // the remaining mapPartitions floor is the survivor rebuild pass.
    "chunk_dedup_indexed" -> Gate(minBroadcastJoins = 4,
      maxShuffles = 3, maxSortMergeJoins = 0, minPushedFilterScans = 2,
      minMapPartitions = 1),
    // hashSets persist feeds the counts and overlap branches of the
    // RETURNED plan (the third consumer — the eval gram derivation — now
    // runs inside the fused guard job and re-enters as a LocalRelation,
    // filling the same cache first). The gram set must stay a broadcast
    // (un-broadcasting it shuffles the exploded corpus), and the plan
    // holds at two shuffles since the round-7 guard/broadcast fusion.
    "decontaminate" -> Gate(minCachedScans = 2, minBroadcastJoins = 3,
      maxShuffles = 3, maxSortMergeJoins = 0),
    // PPJoin prefix frame persisted, feeding both self-join sides.
    "jaccard_ngram" -> Gate(minCachedScans = 6, minBroadcastJoins = 2,
      maxShuffles = 3, maxSortMergeJoins = 0),
    "lm_score" -> Gate(minCachedScans = 3, maxShuffles = 6,
      maxSortMergeJoins = 0),
    "neardup_containment" -> Gate(minCachedScans = 4, minBroadcastJoins = 3,
      maxShuffles = 5, maxSortMergeJoins = 0),
    "neardup_pairs" -> Gate(minCachedScans = 3, maxShuffles = 4,
      maxSortMergeJoins = 0),
    // Leakage audit = neardup_pairs' shape + the stateless split
    // projection joined twice on the (bounded) pair frame + one rollup.
    "split_leakage" -> Gate(minCachedScans = 3, maxShuffles = 8,
      maxSortMergeJoins = 2),
    // Leak-gate decision: the indexed banded screen (both index sides
    // persisted), split projections broadcast onto the bounded pair
    // frame, source %2 filters pushed to every scan.
    "ingest_leak_gate" -> Gate(minCachedScans = 4, minBroadcastJoins = 5,
      maxShuffles = 5, maxSortMergeJoins = 1, minPushedFilterScans = 8),
    // Both the fingerprint frame and the df-guarded overlap frame persist.
    "winnow_overlap" -> Gate(minCachedScans = 6, minBroadcastJoins = 3,
      maxShuffles = 9, maxSortMergeJoins = 0),
    "semantic_dedup" -> Gate(minCachedScans = 3, maxShuffles = 4,
      maxSortMergeJoins = 1),
    // Exact mode: one pruned scan+aggregate pair per column, no joins.
    "profile_table" -> Gate(maxShuffles = 12, maxSortMergeJoins = 0),
    // TPC-H anchor: both dims broadcast, full pushdown on all 3 scans.
    "tpch_q3" -> Gate(minBroadcastJoins = 2, maxShuffles = 2,
      maxSortMergeJoins = 0, minPushedFilterScans = 3),
    // ANN family: the mapPartitions FLOOR pins the two-phase top-k rank
    // (TopN.topKByQuery's phase-1 heap is a typed MapPartitions node).
    // Reverting to a bare row_number window keeps every oracle green —
    // same values — but ships each query's whole candidate set (the full
    // corpus, for brute force and ADC) into ONE task; here that revert
    // drops the count below the floor and fails at spec time instead.
    "ann_topk" -> Gate(minBroadcastJoins = 1, maxShuffles = 2,
      maxSortMergeJoins = 0, minPushedFilterScans = 2, minMapPartitions = 1),
    "pq_topk" -> Gate(maxShuffles = 2, maxSortMergeJoins = 0,
      minMapPartitions = 2), // ADC scoring pass + phase-1 heap
    "ivfpq_topk" -> Gate(maxShuffles = 2, maxSortMergeJoins = 0,
      minMapPartitions = 2),
    "ann_lsh_topk" -> Gate(minBroadcastJoins = 3, maxShuffles = 3,
      maxSortMergeJoins = 0, minMapPartitions = 3),
    "ann_ivf_topk" -> Gate(minBroadcastJoins = 1, maxShuffles = 3,
      maxSortMergeJoins = 0, minMapPartitions = 3),
    "ann_ivf_topk_indexed" -> Gate(minBroadcastJoins = 1, maxShuffles = 3,
      maxSortMergeJoins = 0, minMapPartitions = 3),
    "pq_topk_indexed" -> Gate(maxShuffles = 2, maxSortMergeJoins = 0,
      minMapPartitions = 3), // index build + stored-code ADC + phase-1 heap
    "ivfpq_topk_indexed" -> Gate(maxShuffles = 2, maxSortMergeJoins = 0,
      minMapPartitions = 3),
    // kNN vote rides the two-phase rank (mapPartitions floor) and must
    // broadcast both the query frame and the bounded top-k vote frame —
    // an SMJ here means the corpus got shuffled for a bounded join side.
    "knn_classify" -> Gate(minBroadcastJoins = 2, maxShuffles = 4,
      maxSortMergeJoins = 0, minPushedFilterScans = 3, minMapPartitions = 1),
    // Span audit: the occurrence frame persists (span-df build + total +
    // dup counts — 3 reuse points), the tiny per-doc aggregates
    // broadcast back onto documents, and the typed tokenize pass stays a
    // mapPartitions node. An SMJ means a bounded aggregate got shuffled
    // against the corpus.
    "span_dupes" -> Gate(minCachedScans = 3, minBroadcastJoins = 2,
      maxShuffles = 6, maxSortMergeJoins = 0, minMapPartitions = 1),
    // Span scrub: occurrence frame persists (keeper aggregate + scrub
    // join), scrub-start lists broadcast onto the rebuild, typed
    // tokenize + rebuild passes stay mapPartitions nodes.
    "span_scrub" -> Gate(minCachedScans = 2, minBroadcastJoins = 1,
      maxShuffles = 5, maxSortMergeJoins = 0, minMapPartitions = 2),
    // Confusion rollup: one scan, the partial-aggregated groupBy and the
    // presentation sort only — a join or third exchange means the eval
    // stopped being a single-pass rollup.
    "lang_id_eval" -> Gate(maxShuffles = 2, maxSortMergeJoins = 0),
    // Indexed span screen: batch occurrence + distinct-span frames
    // persist (guard + join reuse), batch span set and pruned matches
    // both broadcast (the index side must never shuffle — an SMJ means
    // it did), typed tokenize passes intact, parity filters pushed.
    "span_screen" -> Gate(minCachedScans = 3, minBroadcastJoins = 2,
      maxShuffles = 6, maxSortMergeJoins = 0, minPushedFilterScans = 4,
      minMapPartitions = 2),
    // Two-corpus scrub: parity filters pushed to all three scans, the
    // ref-span set deduped then semi-joined (no SMJ against the batch),
    // typed tokenize + rebuild passes intact.
    "span_scrub_ref" -> Gate(minBroadcastJoins = 1, maxShuffles = 4,
      maxSortMergeJoins = 0, minPushedFilterScans = 3, minMapPartitions = 2),
    // Radius search: the query frame must stay broadcast into the corpus
    // scan and there is NO rank machinery at all — the only exchange is
    // the final presentation sort. A second shuffle means the threshold
    // filter left the scan stage.
    "ann_range" -> Gate(minBroadcastJoins = 1, maxShuffles = 1,
      maxSortMergeJoins = 0, minPushedFilterScans = 2),
    // Indexed radius: typed cell-assignment passes (mapPartitions floor),
    // probed queries broadcast into the stored-cell join; shuffle ceiling
    // covers the pair dedup + presentation sort only.
    "ann_range_indexed" -> Gate(minBroadcastJoins = 1, maxShuffles = 2,
      maxSortMergeJoins = 0, minMapPartitions = 2),
    // NB: the model table MUST stay broadcast into the token join (the
    // word key is Zipf-skewed — a shuffle join funnels every hot word's
    // occurrences into one task); the single SMJ is the N x N winner
    // join on high-cardinality doc_id, which is the right shape. Round
    // 17: training's model-sized aggregates moved to the driver (the
    // model posture) and the L-fold crossJoin + argmax window became
    // one bounded aggregation — the scoring plan is 4 exchanges total
    // (token sums, per-doc argmax, winner join, presentation sort).
    "nb_classify" -> Gate(minCachedScans = 1, minBroadcastJoins = 2,
      maxShuffles = 5, maxSortMergeJoins = 1),
    // Outlier screen: typed assignment pass (mapPartitions floor), the
    // centroid and quantile frames broadcast, and NO sort-merge join —
    // an SMJ means a bounded frame got shuffled against the corpus.
    "embed_outliers" -> Gate(minCachedScans = 2, minBroadcastJoins = 2,
      maxShuffles = 3, maxSortMergeJoins = 0, minMapPartitions = 2),
    // Token mix: the keyed frame persists (histogram + both selection
    // branches); the budget table broadcasts; the single SMJ is the
    // boundary-bucket join — the bucket stat frame is tiny but derives
    // from a window, so statistics don't mark it broadcastable.
    "corpus_mix_tokens" -> Gate(minCachedScans = 3, minBroadcastJoins = 2,
      maxShuffles = 8, maxSortMergeJoins = 1),
    // Indexed kNN vote: the probed query frame AND the bounded top-k
    // vote frame both broadcast; the typed assignment + two-phase rank
    // keep their mapPartitions floor. An SMJ means the stored assignment
    // got shuffled against a bounded side.
    "knn_classify_indexed" -> Gate(minBroadcastJoins = 2, maxShuffles = 5,
      maxSortMergeJoins = 0, minMapPartitions = 2),
    // Stored-yardstick outlier scoring: centroid + threshold frames
    // broadcast into the batch's single assignment pass — same shape as
    // embed_outliers minus the training aggregate.
    "embed_outliers_scored" -> Gate(minBroadcastJoins = 2, maxShuffles = 3,
      maxSortMergeJoins = 0, minMapPartitions = 1),
    // Bounded-vocab NB scoring: the df-pruning cut must keep the model
    // join BROADCAST (the whole point of maxVocab). Round 17: training
    // runs EAGERLY before the returned plan (df-prune + the two
    // collected model aggregates over the persisted token frame — the
    // model posture), so the audited plan is scoring alone: 4 exchanges
    // (token sums, per-doc argmax, winner join, presentation sort), the
    // model and priors broadcast, the lone SMJ the doc_id winner join.
    "nb_score_bounded" -> Gate(minBroadcastJoins = 2,
      maxShuffles = 5, maxSortMergeJoins = 1),
    // PQ-riding kNN vote: the ADC scan is one mapPartitions pass over the
    // stored codes with the query batch broadcast inside it (no join
    // exchange at all on the candidate side); the bounded vote frame
    // broadcasts into the label join. An SMJ means a bounded frame got
    // shuffled.
    "knn_classify_pq" -> Gate(minBroadcastJoins = 1, maxShuffles = 5,
      maxSortMergeJoins = 0, minMapPartitions = 2),
    // Corpus drift: the persisted vocab frame serves BOTH the totals
    // subtree and the projection (2 cached scans); the source filters
    // reach all four parquet scans; the 1x1 totals frame broadcasts.
    // The two SMJs are the VOCAB-sized full-outer joins — correct at
    // web-vocab scale (a broadcast there would be the bug), so the
    // ceiling is 2, not 0.
    "corpus_drift" -> Gate(minCachedScans = 2, minBroadcastJoins = 1,
      maxShuffles = 6, maxSortMergeJoins = 2, minPushedFilterScans = 4),
    // Gopher rules: ONE typed pass, zero joins — the only exchange is
    // the presentation sort. A second shuffle means a rule left the pass.
    "quality_gopher" -> Gate(maxShuffles = 1, maxSortMergeJoins = 0,
      minMapPartitions = 1),
    // Domain cap: the bounded heap prunes BEFORE the window's exchange
    // (mapPartitions floor); kept flags join back broadcast at this sf.
    // A third shuffle means the full corpus entered the window.
    "source_cap" -> Gate(minBroadcastJoins = 1, maxShuffles = 2,
      maxSortMergeJoins = 0, minMapPartitions = 1),
    // The md5-rank keeper mode rides the shared md5RankTake heap — same
    // two-shuffle ceiling, same broadcast join-back.
    "source_cap_hash" -> Gate(minBroadcastJoins = 1, maxShuffles = 2,
      maxSortMergeJoins = 0, minMapPartitions = 1),
    // BM25: the bounded idf table rides the task closure, so scoring is
    // ONE stateless typed pass (no join, no score shuffle — which also
    // makes it stream-native); the only possible exchange is the
    // bounded post-heap rank window. The eager idf/avgdl aggregates run
    // before the returned plan and are model-sized.
    "bm25_topk" -> Gate(maxShuffles = 1,
      maxSortMergeJoins = 0, minMapPartitions = 2),
    // Multi-query BM25: ONE scoring pass for the whole batch (union idf
    // map in the closure — still no posting-list join). Two exchanges:
    // the per-query post-heap rank window (hash by query_id) and the
    // presentation orderBy (bm25_topk's GLOBAL window already leaves a
    // single partition, so its orderBy is exchange-free; the batch
    // form's partitioned window is the scalable shape and pays one
    // range exchange over <= k * queries survivor rows).
    "bm25_batch" -> Gate(maxShuffles = 2,
      maxSortMergeJoins = 0, minMapPartitions = 2),
    // Stored-yardstick batch ranking: same scoring plan as the live
    // call (one shared code path) — training moves out of the per-batch
    // plan.
    "bm25_batch_model" -> Gate(maxShuffles = 2,
      maxSortMergeJoins = 0, minMapPartitions = 2),
    // Integrity digest, one pass: the per-sequence fold (a mapPartitions
    // — with the encode pass, the floor of 2) feeds one groupBy(shard),
    // so the packed frame is read once and needs no cache. Exchanges:
    // the layout's shard exchange, the digest rollup and the
    // presentation sort. No join at all: a second digest branch (a
    // re-explode rolled up and joined back) brings a broadcast join —
    // its re-run pack exchange is a reused exchange, so the shuffle
    // ceiling alone does not see it.
    "pack_ids_digest" -> Gate(maxShuffles = 3, maxSortMergeJoins = 0,
      maxBroadcastJoins = 0, minMapPartitions = 2),
    // SFT digest, one pass like pack_ids_digest: the per-bin fold (a
    // mapPartitions — with the encode and the pack's typed pass, the
    // floor of 3) feeds one groupBy(shard), uncached. Exchanges: the
    // pack's shard exchange, its (shard, bin) gather, the digest rollup
    // and the presentation sort. No join: the three-branch digest (meta,
    // ids and starts rollups) joins two of them back.
    "pack_nosplit_digest" -> Gate(maxShuffles = 4, maxSortMergeJoins = 0,
      maxBroadcastJoins = 0, minMapPartitions = 3),
    // Binary validator: the FILE-read frame (BinShards.read, a
    // mapPartitions) feeds the one-pass digest fold (the second) — read
    // once, uncached. Exchanges: the read's per-file repartition, the
    // digest rollup and the presentation sort; a second digest branch
    // re-reads the shards through its own repartition and joins back.
    "bin_digest" -> Gate(maxShuffles = 3, maxSortMergeJoins = 0,
      maxBroadcastJoins = 0, minMapPartitions = 2),
    // SFT binary validator: bin_digest's shape — the file-read frame
    // (readNoSplit, a mapPartitions) feeds the one-pass fold, read once.
    "bin_digest_sft" -> Gate(maxShuffles = 3, maxSortMergeJoins = 0,
      maxBroadcastJoins = 0, minMapPartitions = 2),
    // Managed epoch-append validators (BinFamily): the final
    // generation's file-read frame feeds the one-pass digest exactly
    // like bin_digest — the appends/fold run at construction time, the
    // audited plan is the loader-side digest of the managed root.
    "bin_append_digest" -> Gate(maxShuffles = 3, maxSortMergeJoins = 0,
      maxBroadcastJoins = 0, minMapPartitions = 2),
    "bin_fold_digest" -> Gate(maxShuffles = 3, maxSortMergeJoins = 0,
      maxBroadcastJoins = 0, minMapPartitions = 2),
    // SFT family validator: bin_digest_sft's shape over the managed
    // generation's file-read frame.
    "bin_append_digest_sft" -> Gate(maxShuffles = 3, maxSortMergeJoins = 0,
      maxBroadcastJoins = 0, minMapPartitions = 2),
    // SFT manifest = the pack_nosplit_digest shape + constant columns.
    "export_manifest_sft" -> Gate(maxShuffles = 4, maxSortMergeJoins = 0,
      maxBroadcastJoins = 0, minMapPartitions = 3),
    // Multi-epoch export: ONE shared encode pass (the enc cache feeds
    // both epoch packs — below 2 cached scans the encode re-runs per
    // salt). Per epoch the pack's shard exchange and the one-pass
    // digest's rollup (its fold is a mapPartitions: 2 per epoch with
    // the encode printed under each cached scan), plus the presentation
    // sort, and no join: a two-branch digest joins each epoch's rollups.
    "epoch_export" -> Gate(minCachedScans = 2, maxShuffles = 5,
      maxSortMergeJoins = 0, maxBroadcastJoins = 0, minMapPartitions = 4),
    // Cross-epoch order audit: the pair frame (the E-epoch union + lag
    // window) feeds THREE branches — the per-epoch counts and both
    // sides of the repeat self-join — and must stay cached, or the
    // window executes ~3x; the E^2/2-row repeat rollup stays broadcast
    // onto the grid.
    "epoch_shuffle" -> Gate(minCachedScans = 3, minBroadcastJoins = 1,
      maxSortMergeJoins = 1),
    // RRF fusion of the two rankers: both sides must stay two-phase
    // top-k (the mapPartitions floor covers their phase-1 heaps), the
    // IVF corpus assignment and probe joins stay broadcast, and the
    // fusion itself adds only the bounded-frame aggregation + rank
    // exchanges — a corpus-sized shuffle join here is the regression.
    "hybrid_topk" -> Gate(minBroadcastJoins = 2, maxShuffles = 4,
      maxSortMergeJoins = 0, minMapPartitions = 4),
    // The stored-artifact twin keeps the same bounded shape (the index
    // build is fixture-internal; at scale it is amortized to zero).
    "hybrid_topk_indexed" -> Gate(minBroadcastJoins = 2, maxShuffles = 4,
      maxSortMergeJoins = 0, minMapPartitions = 4),
    // K-means clustering: typed assignment pass + broadcast centroid and
    // size frames; the one aggregation is the nlist-row size rollup. The
    // assignment frame MUST stay persisted (it feeds the size rollup AND
    // the join probe — unpersisted, the dominant pass executes twice).
    "embed_cluster" -> Gate(minCachedScans = 2, minBroadcastJoins = 3,
      maxShuffles = 2, maxSortMergeJoins = 0, minMapPartitions = 2),
    // Cluster-balanced draw: typed assignment + bounded-heap prune
    // (mapPartitions floor 2), then only the heap survivors shuffle into
    // the exact window — a third exchange means the full corpus entered
    // the window.
    "cluster_sample" -> Gate(maxShuffles = 2, maxSortMergeJoins = 0,
      minMapPartitions = 2),
    // Stored-quantizer forms: same scoring plan as the live calls (the
    // one scoring code path is the point) — training cost just moves out
    // of the per-batch plan entirely.
    "embed_cluster_model" -> Gate(minCachedScans = 2, minBroadcastJoins = 3,
      maxShuffles = 2, maxSortMergeJoins = 0, minMapPartitions = 2),
    "cluster_sample_model" -> Gate(maxShuffles = 2, maxSortMergeJoins = 0,
      minMapPartitions = 2),
    // Keep-best consolidation: the clustered+token frame persists (it
    // feeds the max_by build AND the join-back), the winner is ONE
    // map-side-combined aggregate (no window anywhere — a mega-cluster
    // must never sort through one task), and the lone SMJ is the
    // high-cardinality doc_id/cluster_id join, the right shape.
    "dedup_keep_best" -> Gate(minCachedScans = 2, minBroadcastJoins = 4,
      maxShuffles = 3, maxSortMergeJoins = 1),
    // The caller-score overload shares the consolidation core — same
    // clustered-frame persist, same single max_by, same lone SMJ.
    "dedup_keep_best_scored" -> Gate(minCachedScans = 2, minBroadcastJoins = 4,
      maxShuffles = 3, maxSortMergeJoins = 1),
    // Per-dim audit: the element stream lives only inside the map-side
    // partial aggregation; the exchanges are the dim rollup and the
    // presentation sort. A third shuffle means elements moved raw.
    "embed_dim_stats" -> Gate(maxShuffles = 2, maxSortMergeJoins = 0),
    // Temperature budgets: the sources-sized totals aggregate runs
    // EAGERLY (bounded-probe + collect — the model posture), so the
    // returned plan is a LocalRelation plus the presentation sort.
    "mix_temperature" -> Gate(maxShuffles = 1, maxSortMergeJoins = 0),
    // The composed fill inherits mixByTokens' shape: keyed frame
    // persisted (histogram + both selection branches), budget table
    // broadcast, the lone SMJ is the boundary-bucket join
    // (corpus_mix_tokens' documented exception).
    "mix_temperature_fill" -> Gate(minCachedScans = 3, minBroadcastJoins = 2,
      maxShuffles = 8, maxSortMergeJoins = 1),
    // Importance sampling is ONE stateless codegen'd projection — zero
    // joins, zero aggregates; the only exchange is the presentation
    // sort. A second shuffle means the draw stopped being per-row.
    "importance_sample" -> Gate(maxShuffles = 1, maxSortMergeJoins = 0),
    // Novelty screen: the batch chunk set and the pruned known set
    // BROADCAST (an SMJ means the index shuffled); the index parity
    // filter stays pushed. Round 18: chunks/bChunks are checkpointCut
    // (LogicalRDD) like chunk_dedup_indexed's — build trees out of the
    // returned plan, shuffle ceiling 5 -> 3.
    "chunk_novelty" -> Gate(minBroadcastJoins = 3,
      maxShuffles = 3, maxSortMergeJoins = 0, minPushedFilterScans = 2,
      minMapPartitions = 1),
    // N-way split: one stateless codegen'd projection — the only
    // exchange is the presentation sort, in BOTH key modes.
    "split_assign" -> Gate(maxShuffles = 1, maxSortMergeJoins = 0),
    "split_assign_grouped" -> Gate(maxShuffles = 1, maxSortMergeJoins = 0),
    // Pack audit: the per-shard window (seqPack's own) plus ONE
    // map-side-combining rollup to numShards rows — no join anywhere.
    "pack_report" -> Gate(maxShuffles = 2, maxSortMergeJoins = 0),
    // Energy audit: one stateless typed pass — the only exchange is the
    // presentation sort.
    "embed_energy" -> Gate(maxShuffles = 1, maxSortMergeJoins = 0,
      minMapPartitions = 1),
    // Dataset card: source rides the gopher typed pass (mapPartitions
    // floor — a join-back to re-attach sources would be the regression),
    // then the sources rollup + presentation sort.
    "source_report" -> Gate(maxShuffles = 2, maxSortMergeJoins = 0,
      minMapPartitions = 1),
    // Two stateless projections composed: the kept-id side broadcasts
    // into a semi join; one presentation exchange.
    "curate_sample_split" -> Gate(minBroadcastJoins = 1, maxShuffles = 1,
      maxSortMergeJoins = 0, minPushedFilterScans = 1),
    // Multi-benchmark decontamination: decontaminate's shape with the
    // set-tagged gram table — hash-set frame persisted (counts + overlap
    // branches), union gram table + per-(doc,set) overlap both
    // BROADCAST; the only exchanges are the overlap rollup and the
    // count/overlap join build.
    "decontaminate_multi" -> Gate(minCachedScans = 2, minBroadcastJoins = 2,
      maxShuffles = 3, maxSortMergeJoins = 0, minMapPartitions = 1),
    // Cluster drift: the totals collect runs EAGERLY at call time (the
    // round-12 non-empty contract) and its values inline as literals, so
    // the RETURNED plan is the persisted nlist-sized joined frame (one
    // cached consumer — the projection; the totals pass already executed)
    // with no broadcast crossJoin at all. The SMJs are the NLIST-sized
    // full-outer join — corpus_drift's vocabulary-join argument,
    // cell-shaped. Both assignment passes keep their mapPartitions floor.
    "cluster_drift" -> Gate(minCachedScans = 1,
      maxShuffles = 5, maxSortMergeJoins = 2, minMapPartitions = 2),
    // BPE encode/count: training runs eagerly (bounded dictionary
    // TakeOrdered + driver loop); the RETURNED plan is ONE stateless
    // broadcast-model typed pass — the only exchange is the
    // presentation sort. A second shuffle means encoding stopped being
    // per-row; losing the mapPartitions floor means it left the typed
    // pass.
    "bpe_count" -> Gate(maxShuffles = 1, maxSortMergeJoins = 0,
      minMapPartitions = 1),
    "bpe_encode" -> Gate(maxShuffles = 1, maxSortMergeJoins = 0,
      minMapPartitions = 1),
    // Model-token pack audit: the IN-PLACE count pass (mapPartitions
    // floor — withBpeCount appends the count in the same typed pass; a
    // join-back of a separate count frame would add a corpus-sized SMJ,
    // which the 0 ceiling forbids), then exactly seqPack's per-shard
    // window, the numShards rollup, and the presentation sort.
    "pack_report_bpe" -> Gate(maxShuffles = 3, maxSortMergeJoins = 0,
      minMapPartitions = 1),
    // Byte-alphabet twin of bpe_count: the alphabet changes the symbol
    // table inside the broadcast model, NOT the plan — same single
    // stateless typed pass, same bounds.
    "bpe_count_byte" -> Gate(maxShuffles = 1, maxSortMergeJoins = 0,
      minMapPartitions = 1),
    // Id-level twin of bpe_encode: the vocab lookup rides INSIDE the
    // same broadcast model (tokenToId is driver-built from the vocab,
    // shipped with the ranks) — ids must NOT come from a join against
    // a vocab frame (0 SMJs; the 1-shuffle budget is the presentation
    // sort alone).
    "bpe_encode_ids" -> Gate(maxShuffles = 1, maxSortMergeJoins = 0,
      minMapPartitions = 1),
    // Pretok twin of bpe_count: the pretokenizer swaps the word
    // splitter inside the typed pass, NOT the plan.
    "bpe_count_pretok" -> Gate(maxShuffles = 1, maxSortMergeJoins = 0,
      minMapPartitions = 1),
    // Packed-id export, round-17 shape: the token ids ride seqPack's
    // OWN shard exchange (carryCols) and the per-shard sequence count
    // is a max window over the SAME partitioning — no doc_id re-join,
    // no rollup broadcast, no encode persist (single consumer). Plan:
    // encode pass (the mapPartitions floor) -> ONE shard exchange into
    // the layout windows -> per-sequence slices -> ONE (shard, seq) hash
    // aggregation + the presentation sort. A join or a fourth exchange
    // here means the re-join crept back.
    "pack_ids" -> Gate(maxShuffles = 3, maxSortMergeJoins = 0,
      minMapPartitions = 1),
    // No-split packer: ONE hash exchange on shard feeds the in-partition
    // sort + streaming greedy pass (the mapPartitions floor — losing it
    // means the greedy state moved somewhere worse); the second exchange
    // is the presentation sort. No join anywhere in either strategy.
    "pack_nosplit" -> Gate(maxShuffles = 2, maxSortMergeJoins = 0,
      minMapPartitions = 1),
    "pack_nosplit_nextfit" -> Gate(maxShuffles = 2, maxSortMergeJoins = 0,
      minMapPartitions = 1),
    // ...plus one map-side-combining rollup to numShards rows.
    "pack_nosplit_report" -> Gate(maxShuffles = 3, maxSortMergeJoins = 0,
      minMapPartitions = 1),
    // Padded-bin SFT export: the encode pass AND the greedy pass are
    // both mapPartitions (floor 2); the ids ride the pack's own
    // exchange via carryCols, so there is NO join anywhere — a
    // broadcast or SMJ appearing here means someone reintroduced the
    // corpus-sized join-back. Exchanges: repartition + (shard,bin)
    // rollup + presentation sort.
    "pack_nosplit_ids" -> Gate(maxShuffles = 3, maxSortMergeJoins = 0,
      minMapPartitions = 2),
    // Coverage audit: the broadcast-model encode pass (mapPartitions
    // floor) + a Column rollup over the ids array; the only exchange is
    // the presentation sort — a join against a vocab table would be the
    // regression.
    "bpe_coverage" -> Gate(maxShuffles = 1, maxSortMergeJoins = 0,
      minMapPartitions = 1),
    // FIM: a stateless codegen'd projection — the only exchange is the
    // presentation sort; any join/window/aggregate here is a regression.
    "fim_transform" -> Gate(maxShuffles = 1, maxSortMergeJoins = 0),
    // Shuffle audit: the per-shard run window + two rollups + the
    // numShards-row groups side, which must stay a broadcast join.
    "shuffle_audit" -> Gate(maxShuffles = 6, maxSortMergeJoins = 0,
      minBroadcastJoins = 1),
    )

  gates.toSeq.sortBy(_._1).foreach { case (name, g) =>
    test(s"plan gate: $name") {
      // Fresh cache state so counts don't depend on sibling-test caches
      // (CacheManager matches by logical plan across queries).
      GraftCaches.clearAll()
      spark.sharedState.cacheManager.clearCache()
      val c = PlanAudit.audit(SparkEntry.queries(name)(spark, dir))
      assert(c.cachedScans >= g.minCachedScans,
        s"$name: cachedScans ${c.cachedScans} < ${g.minCachedScans} — a persist was dropped ($c)")
      assert(c.broadcastJoins >= g.minBroadcastJoins,
        s"$name: broadcastJoins ${c.broadcastJoins} < ${g.minBroadcastJoins} — a dim lost its broadcast ($c)")
      assert(c.broadcastJoins <= g.maxBroadcastJoins,
        s"$name: broadcastJoins ${c.broadcastJoins} > ${g.maxBroadcastJoins} — a join the shape does without came back ($c)")
      assert(c.shuffles <= g.maxShuffles,
        s"$name: shuffles ${c.shuffles} > ${g.maxShuffles} — an extra exchange appeared ($c)")
      assert(c.sortMergeJoins <= g.maxSortMergeJoins,
        s"$name: sortMergeJoins ${c.sortMergeJoins} > ${g.maxSortMergeJoins} ($c)")
      assert(c.scansWithPushedFilters >= g.minPushedFilterScans,
        s"$name: pushed-filter scans ${c.scansWithPushedFilters} < ${g.minPushedFilterScans} — pushdown lost ($c)")
      assert(c.mapPartitions >= g.minMapPartitions,
        s"$name: mapPartitions ${c.mapPartitions} < ${g.minMapPartitions} — a two-phase rank reverted to a bare window ($c)")
    }
  }

  // Screen + model-token stamp (withTokenCounts): gated as the DELTA
  // over the plain ingest_screen baseline, computed HERE — not as
  // absolute totals, which any unrelated tweak to the shared screen
  // spine would break (and whose large floors could absorb a
  // regression in the stamp itself). The stamp's contract: exactly +1
  // broadcast join (decisions⋈counts — batch-bounded), exactly +1
  // mapPartitions (the in-place count pass), and ZERO extra
  // shuffles/SMJs — anything else means the bookkeeping pass grew a
  // plan of its own.
  test("plan gate: ingest_screen_tokens is ingest_screen + the stamp delta") {
    GraftCaches.clearAll()
    spark.sharedState.cacheManager.clearCache()
    val base = PlanAudit.audit(SparkEntry.queries("ingest_screen")(spark, dir))
    GraftCaches.clearAll()
    spark.sharedState.cacheManager.clearCache()
    val stamped =
      PlanAudit.audit(SparkEntry.queries("ingest_screen_tokens")(spark, dir))
    assert(stamped.shuffles == base.shuffles,
      s"stamp added a shuffle: ${stamped.shuffles} vs ${base.shuffles}")
    assert(stamped.sortMergeJoins == base.sortMergeJoins,
      s"stamp's join degraded to SMJ: ${stamped.sortMergeJoins} vs " +
        s"${base.sortMergeJoins}")
    assert(stamped.broadcastJoins == base.broadcastJoins + 1,
      s"stamp must be exactly +1 broadcast join: ${stamped.broadcastJoins} " +
        s"vs ${base.broadcastJoins}")
    assert(stamped.mapPartitions == base.mapPartitions + 1,
      s"stamp must be exactly +1 mapPartitions (the in-place count " +
        s"pass): ${stamped.mapPartitions} vs ${base.mapPartitions}")
    assert(stamped.cachedScans >= base.cachedScans,
      s"stamp dropped cache reuse: ${stamped.cachedScans} vs " +
        s"${base.cachedScans}")
  }
}
