package graft.ops

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

/**
 * Deterministic global shuffle for training-data export.
 *
 * Training runs need the corpus in a reproducible pseudo-random order,
 * sharded for parallel readers. The scale-correct shape is NOT a global
 * `orderBy(rand())` (one total sort, non-reproducible) and NOT a
 * `row_number` over few shards (low-cardinality window = one reducer per
 * shard): it is a pure per-row assignment — shard = md5-hash(id) mod S,
 * sort_key = md5(id || salt) — followed by `repartition(shard)` +
 * `sortWithinPartitions(sort_key)` at write time, which Spark executes as
 * one hash exchange with a per-partition (not global) sort. Both columns
 * are engine-portable md5 derivations (no rand(), no murmur3), so any
 * engine reproduces the exact same order.
 */
object TrainShuffle {

  /** 28-bit md5 hash of a string column (engine-portable, mirrors
    * Dedup.shingleHash). */
  private def h28(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  /**
   * Pure assignment: (id columns..., shard, sort_key). `salt` varies the
   * permutation between epochs while keeping each epoch reproducible.
   */
  def shardAssign(df: DataFrame, idCol: String, numShards: Int,
      salt: String = "shuf"): DataFrame = {
    require(numShards > 0, s"shardAssign: numShards must be positive, got $numShards")
    df.withColumn("shard",
        h28(concat(col(idCol).cast("string"), lit(":" + salt + ":shard"))) % numShards)
      .withColumn("sort_key",
        md5(concat(col(idCol).cast("string"), lit(":" + salt + ":ord"))))
  }

  /**
   * The physical shuffle: one hash exchange on `shard`, then a
   * per-partition sort on (shard, sort_key) — no global sort, no window,
   * no driver involvement. Hash partitioning keeps every shard WHOLE in
   * exactly one partition (several shards may share a partition; the
   * leading sort column keeps each contiguous), so a
   * `.write.partitionBy("shard")` emits one deterministically-ordered
   * file sequence per shard.
   */
  def shuffled(df: DataFrame, idCol: String, numShards: Int,
      salt: String = "shuf"): DataFrame =
    shardAssign(df, idCol, numShards, salt)
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("sort_key"), col(idCol))

  /**
   * Sequence packing for pretraining export (GPT-style concat-and-chunk):
   * documents are laid out in the deterministic shuffle order within each
   * shard, separated by one end-of-document token, and the resulting
   * token stream is cut into fixed `budget`-token training sequences —
   * documents straddle sequence boundaries, so no padding is wasted.
   * Emits per doc: its shard, token count, starting offset in the shard's
   * token stream, and the first/last sequence index it occupies.
   *
   * The cumulative offset is a window sum partitioned by shard. That is a
   * per-shard sequential pass BY DESIGN — packing defines a total order
   * inside each shard — and it scales because `numShards` scales with the
   * corpus (one shard ~ one bounded training file: at 100 TB you run tens
   * of thousands of shards, so no reducer ever sees more than a file's
   * worth of rows). The hazard is only the fixed-tiny-cardinality window
   * over an unbounded partition (see ops.TopN), which this is not.
   *
   * `tokensCol` (the MODEL-token hook): empty (default) budgets in
   * whitespace tokens of `textCol`; a column name budgets in THAT
   * column's caller-supplied counts instead — e.g. a trained subword
   * tokenizer's ([[graft.functions.Bpe.bpeCount]]), which is what a
   * real pretraining export packs by (whitespace counts misestimate a
   * BPE budget by 1.3–2x). When set, `textCol` is ignored and a NULL
   * or negative count fails LOUD (it would silently corrupt every
   * later offset in the shard through the cumulative sum).
   */
  /** The token-budget column both packers share: whitespace tokens of
    * `textCol` by default, or the CALLER-supplied integral `tokensCol`
    * (e.g. a trained tokenizer's counts) — null/negative fails LOUD (it
    * would silently corrupt the layout downstream). */
  private def tokenBudgetCol(fn: String, idCol: String, textCol: String,
      tokensCol: String): Column =
    if (tokensCol.isEmpty)
      graft.functions.TextFunctions.tokenCount(col(textCol)).cast("long")
    else
      when(col(tokensCol).isNull || col(tokensCol) < 0, raise_error(concat(
        lit(s"$fn: null/negative $tokensCol for ${idCol}="),
        col(idCol).cast("string"),
        lit(" — caller token counts must cover every row"))).cast("long"))
        .otherwise(col(tokensCol).cast("long"))

  def seqPack(df: DataFrame, idCol: String, textCol: String,
      numShards: Int, budget: Int = 256, salt: String = "shuf",
      tokensCol: String = "", carryCols: Seq[String] = Nil): DataFrame = {
    require(budget > 0, s"seqPack: budget must be positive, got $budget")
    val reserved = Set(idCol, "shard", "sort_key", "n_tokens", "tok_start",
      "seq_first", "seq_last")
    val clash = carryCols.filter(reserved)
    require(clash.isEmpty,
      s"seqPack: carryCols ${clash.mkString(", ")} collide with the " +
        "layout's own output columns — rename them upstream")
    val nTokens = tokenBudgetCol("seqPack", idCol, textCol, tokensCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("sort_key"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    shardAssign(df, idCol, numShards, salt)
      .withColumn("n_tokens", nTokens)
      .withColumn("tok_start", coalesce(sum(col("n_tokens") + 1L).over(w), lit(0L)))
      .withColumn("seq_first", expr(s"tok_start div $budget"))
      .withColumn("seq_last", expr(s"(tok_start + n_tokens - 1) div $budget"))
      .select(col(idCol) +: col("shard") +: col("n_tokens") +:
        col("tok_start") +: col("seq_first") +: col("seq_last") +:
        carryCols.map(col): _*)
  }

  /**
   * Packing-efficiency audit over a [[seqPack]] layout — the
   * observability row a training run reads before shipping shards: per
   * shard, how many documents landed, the token mass, the number of
   * fixed-size sequences the layout occupies, how many docs STRADDLE a
   * sequence boundary (cross-doc attention contamination pressure under
   * concat-and-chunk), and the fill fraction (token mass over sequence
   * capacity; the complement is separator+tail waste). `budget` must be
   * the seqPack call's own.
   *
   * Exactness: counts stay integer; fill_frac is ONE IEEE division of
   * exact integers. Scale shape: ONE map-side-combining groupBy over
   * shard — numShards rows out, no window, no join. split_docs counts
   * seq_last > seq_first (not !=): a zero-token doc at an exact
   * boundary has seq_last < seq_first by the layout arithmetic and
   * straddles nothing.
   *
   * Output: (shard, n_docs, total_tokens, n_seqs, split_docs,
   * fill_frac).
   */
  /**
   * The TRAINER-FACING export artifact: the [[seqPack]] layout
   * materialized as actual fixed-size token-id sequences — per
   * (shard, seq), the `ARRAY<INT>` id slice a pretraining data loader
   * reads, built from a trained tokenizer's
   * [[graft.functions.Bpe.bpeEncodeIds]] output (one stateless
   * broadcast-model encode pass, read exactly once — the ids ride the
   * layout's own exchange via seqPack's carryCols).
   *
   * Stream construction is EXACTLY the layout's arithmetic: each doc's
   * ids occupy absolute positions `[tok_start, tok_start + n)` of its
   * shard's stream and position `tok_start + n` holds one `sepId`
   * end-of-document marker (the `n_tokens + 1` slot the cumulative sum
   * reserves). Sequence k is stream positions `[k*budget, (k+1)*budget)`.
   * Per shard, exactly [[packReport]]'s `n_seqs = max(seq_last) + 1`
   * sequences are emitted — a trailing separator that spills past the
   * last doc token's sequence is trimmed, keeping this artifact and the
   * audit row consistent — and the final sequence is emitted UNPADDED
   * (length <= budget; pad-id policy belongs to the consumer).
   *
   * `sepId` defaults to -1 — deliberately OUTSIDE the vocabulary domain
   * (ids are >= 0, unk = 0) so a separator can never alias a real
   * token; production vocabs with a reserved EOS pass its id.
   *
   * Scale shape: each document moves as SEGMENTS, not tokens — one
   * `slice` of its id array per sequence it overlaps (~`n/budget + 2`
   * rows per document, where a token explode would make `n + 1`), so
   * the (shard, seq) aggregation, on the layout's ONE shard exchange,
   * gathers a few segments per sequence and flattens them in stream
   * order. The per-shard
   * sequence count is a max window over the layout's OWN shard
   * partitioning (no rollup join), and nothing sorts globally
   * (array_sort orders the few segments WITHIN each bounded group).
   */
  def packIdSequences(df: DataFrame, idCol: String, textCol: String,
      model: graft.functions.Bpe.TokenizerModel, numShards: Int,
      budget: Int = 256, salt: String = "shuf", sepId: Int = -1): DataFrame = {
    // Validate BEFORE the encode registers a cached frame — a rejected
    // call must leave no dead registry entry behind.
    require(budget > 0, s"packIdSequences: budget must be positive, got $budget")
    require(sepId < 0,
      s"packIdSequences: sepId must be negative (outside the id vocab; " +
        s"unk = 0, tokens > 0) unless your vocab reserves one — got $sepId")
    // No persist here: since the layout carries token_ids through its own
    // exchange (carryCols), the single downstream plan reads the encode
    // pass exactly once — a cache would only add a materialization job.
    // Multi-layout callers (epochExport) cache the encode THEMSELVES and
    // compose via [[packIdSequencesEnc]].
    packIdSequencesEnc(
      graft.functions.Bpe.bpeEncodeIds(df, idCol, textCol, model),
      numShards, budget, salt, sepId)
  }

  /**
   * [[packIdSequences]] over an ALREADY-ENCODED frame (doc_id,
   * token_ids ARRAY<INT>, n_tokens_bpe) — the composition point for
   * multi-layout exports ([[epochExport]]): the ids are
   * salt-independent, so E epoch-salted packs share ONE encode pass
   * when the caller caches `enc` instead of re-encoding per salt.
   */
  def packIdSequencesEnc(enc: DataFrame, numShards: Int,
      budget: Int = 256, salt: String = "shuf", sepId: Int = -1): DataFrame = {
    require(budget > 0, s"packIdSequences: budget must be positive, got $budget")
    require(sepId < 0,
      s"packIdSequences: sepId must be negative (outside the id vocab; " +
        s"unk = 0, tokens > 0) unless your vocab reserves one — got $sepId")
    // The ids ride seqPack's OWN exchange (carryCols — the packNoSplitIds
    // posture), and the per-shard sequence count is an unbounded max
    // window over the SAME shard partitioning the layout window already
    // established — no second exchange, no rollup join. Plan: one hash
    // exchange by shard (layout windows), the per-sequence slicing, and
    // the budget-bounded (shard, seq) groups aggregated on that same
    // partitioning. A document's ids sit at stream positions
    // [tok_start, tok_start + n) and its separator at tok_start + n; a
    // slice whose sequence is at or past n_seqs is the trimmed trailing
    // separator.
    val wShard = org.apache.spark.sql.expressions.Window.partitionBy("shard")
    val laid = seqPack(enc, "doc_id", "", numShards, budget, salt,
        tokensCol = "n_tokens_bpe", carryCols = Seq("token_ids"))
      .withColumn("n_seqs", max(col("seq_last")).over(wShard) + 1L)
    // Each document's ids plus separator, cut at `budget`-sized sequence
    // boundaries: one slice (`part`) per sequence it overlaps, `abs` the
    // stream position of the slice's first id (null arrays emit nothing);
    // each (shard, seq) group then concatenates its slices in stream
    // order.
    val b = budget.toLong
    laid.select(col("shard"), col("n_seqs"), col("tok_start").as("_start"),
        concat(col("token_ids"), array(lit(sepId))).as("_ids"))
      .filter(size(col("_ids")) > 0)
      .withColumn("_end", col("_start") + size(col("_ids")))
      .withColumn("_k", explode(sequence(expr(s"_start div $b"),
        expr(s"(_end - 1) div $b"))))
      .withColumn("abs", greatest(col("_start"), col("_k") * b))
      .select(col("shard"), col("n_seqs"), expr(s"abs div $b").as("seq"),
        col("abs"),
        slice(col("_ids"), (col("abs") - col("_start") + 1).cast("int"),
          (least(col("_end"), (col("_k") + 1L) * b) - col("abs"))
            .cast("int")).as("part"))
      .filter(col("seq") < col("n_seqs"))
      .groupBy(col("shard"), col("seq"))
      .agg(array_sort(collect_list(struct(col("abs"), col("part"))))
        .as("parts"))
      .select(col("shard"), col("seq"), coalesce(
        flatten(transform(col("parts"), p => p.getField("part"))),
        typedLit(Array.empty[Int])).as("ids"))
      .withColumn("n_ids", size(col("ids")).cast("long"))
  }

  /**
   * Per-sequence SEGMENT table of the [[seqPack]] layout — the
   * boundary metadata a pretraining loader needs to find document
   * extents inside fixed-size sequences WITHOUT scanning for the
   * in-band separator (and the only way to recover boundaries when the
   * separator id is a real vocab EOS that can also occur in content):
   * one row per (sequence, document) overlap, with the segment's
   * position inside the sequence and inside the document.
   *
   * Pure arithmetic over the layout — a doc occupies absolute stream
   * positions `[tok_start, tok_start + n_tokens)`, sequence `seq`
   * covers `[seq*budget, (seq+1)*budget)`, and the segment is their
   * intersection:
   *   seg_start = max(tok_start, seq*budget) - seq*budget
   *   seg_len   = min(tok_start + n_tokens, (seq+1)*budget) - max(...)
   *   doc_off   = max(tok_start, seq*budget) - tok_start
   * Zero-token docs occupy no stream positions and emit no segment
   * (their separator slot is boundary bookkeeping, not content).
   * Separator positions are deliberately NOT rows here — segments
   * describe document content; the separator is recoverable as the
   * position right after any doc's last segment.
   *
   * Scale shape: the [[seqPack]] window (per-shard by design) + one
   * row-explode bounded per doc by `n_tokens/budget + 1` — the
   * metadata twin of the export's own token explode, at ~budget-times
   * fewer rows. No extra shuffle beyond seqPack's own.
   *
   * Output: (shard, seq, idCol, seg_start, seg_len, doc_off).
   */
  def packSegments(df: DataFrame, idCol: String, textCol: String,
      numShards: Int, budget: Int = 256, salt: String = "shuf",
      tokensCol: String = ""): DataFrame = {
    val b = budget.toLong
    seqPack(df, idCol, textCol, numShards, budget, salt, tokensCol)
      .filter(col("n_tokens") > 0L)
      .select(col(idCol), col("shard"), col("tok_start"), col("n_tokens"),
        explode(sequence(col("seq_first"), col("seq_last"))).as("seq"))
      .select(col("shard"), col("seq"), col(idCol),
        (greatest(col("tok_start"), col("seq") * b) - col("seq") * b)
          .as("seg_start"),
        (least(col("tok_start") + col("n_tokens"), (col("seq") + 1L) * b) -
          greatest(col("tok_start"), col("seq") * b)).as("seg_len"),
        (greatest(col("tok_start"), col("seq") * b) - col("tok_start"))
          .as("doc_off"))
  }

  /**
   * NO-SPLIT (padded) sequence packing — the SFT/finetuning counterpart
   * of [[seqPack]]'s concat-and-chunk: every document occupies exactly
   * ONE fixed-capacity training sequence ("bin"), never straddling a
   * boundary (straddling is fine for pretraining next-token loss but
   * corrupts example-aligned loss masks, and packed-example attention
   * must stay intra-document). The price of the guarantee is padding;
   * the packer's job is to minimize it by co-locating documents, and the
   * report row ([[packNoSplitReport]]) prices what remains.
   *
   * Two strategies over the same deterministic per-shard order
   * (capped token count DESC, then sort_key, then id — "decreasing"
   * order is what gives greedy packing its fill guarantees):
   *  - `firstfit` (default): First-Fit Decreasing — each doc goes to the
   *    LOWEST-numbered bin with room, else opens a new bin. The classic
   *    11/9·OPT + O(1) bound (Johnson 1973). State = one fill counter
   *    per open bin of the CURRENT shard (bins <= docs-in-shard, and a
   *    shard is one bounded training file — see [[seqPack]]'s sharding
   *    argument), plus a stale-tolerant upper bound on the max residual
   *    capacity so an unplaceable doc opens its bin WITHOUT scanning
   *    (the adversarial case — many near-full bins, a run of large
   *    docs — degrades gracefully instead of going quadratic).
   *  - `nextfit`: Next-Fit Decreasing — only the CURRENT bin ever
   *    accepts; O(1) state, the strictly-streaming variant (2·OPT
   *    bound). Worse fill, bounded memory no matter the shard size.
   *
   * Documents longer than `budget` are TRUNCATED to `budget` tokens and
   * flagged (`truncated`) — the trainer-side convention (which end to
   * trim is the consumer's policy); a loud failure would make one long
   * document abort a 100 TB export. The packing runs on the capped
   * count, so a truncated doc fills a bin exactly.
   *
   * Scale shape: ONE hash exchange on shard + a per-partition sort —
   * no global sort, no window, no driver collect; the greedy pass is a
   * streaming `mapPartitions` (inherently sequential per shard: bin
   * state is a running remainder with resets, NOT a prefix sum, so no
   * window/Column form exists — the documented case (d) where
   * mapPartitions is the right tool). numShards scales with the corpus,
   * so no task ever holds more than a file's worth of bin counters.
   *
   * `tokensCol` budgets in caller-supplied counts exactly as in
   * [[seqPack]] (null/negative fails loud); zero-count rows are legal
   * (they pack into whatever bin is open without consuming capacity).
   *
   * `carryCols` rides extra input columns through the pack unchanged
   * (appended after the standard output columns) — the composition hook
   * for materializations like [[packNoSplitIds]], which would otherwise
   * re-shuffle the whole corpus in a join-back just to re-attach a
   * value that traveled with the row.
   *
   * Output per doc: (idCol, shard, n_tokens UNCAPPED, truncated,
   * bin — 0-based per shard, pos — token offset inside the bin,
   * carryCols...).
   */
  def packNoSplit(df: DataFrame, idCol: String, textCol: String,
      numShards: Int, budget: Int = 256, salt: String = "shuf",
      tokensCol: String = "", strategy: String = "firstfit",
      carryCols: Seq[String] = Nil): DataFrame = {
    require(budget > 0, s"packNoSplit: budget must be positive, got $budget")
    require(strategy == "firstfit" || strategy == "nextfit",
      s"packNoSplit: strategy must be 'firstfit' or 'nextfit', got '$strategy'")
    val reserved =
      Set(idCol, "shard", "sort_key", "n_tokens", "capped", "truncated",
        "bin", "pos")
    val clash = carryCols.filter(reserved)
    require(clash.isEmpty,
      s"packNoSplit: carryCols ${clash.mkString(", ")} collide with the " +
        "packer's own output columns — rename them upstream")
    val nTokens = tokenBudgetCol("packNoSplit", idCol, textCol, tokensCol)
    val b = budget.toLong
    // A null id hashes to a null shard and ties in the sort order, so it
    // has no reproducible place: fail loud, as a null token count does.
    val shard =
      if (!df.schema(idCol).nullable) col("shard")
      else when(col(idCol).isNotNull, col("shard")).otherwise(raise_error(lit(
        s"packNoSplit: null $idCol — every document needs an id to be " +
          "shard-assigned")).cast("long")).as("shard")
    val pre = shardAssign(df, idCol, numShards, salt)
      .withColumn("n_tokens", nTokens)
      .withColumn("capped", least(col("n_tokens"), lit(b)))
      .withColumn("truncated", col("n_tokens") > b)
      .select(col(idCol) +: shard +: col("sort_key") +:
        col("n_tokens") +: col("capped") +: col("truncated") +:
        carryCols.map(col): _*)
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("capped").desc,
        col("sort_key"), col(idCol))
    val firstFit = strategy == "firstfit"
    val spark = df.sparkSession
    import spark.implicits._
    // Typed-encoder fast paths (round 18): Encoders.row pays a full
    // external-Row conversion per row on BOTH sides of the pass —
    // every field boxed into a GenericRow on the way in, Row.fromSeq +
    // schema-driven conversion on the way out, and an int-array carry
    // column boxed element-by-element into a Seq. The tuple encoders
    // use primitive accessors and bulk toIntArray/array writers. The
    // long-id cases below cover every declared pack_nosplit caller;
    // exotic id/carry shapes keep the generic Row path. A nullable
    // long id rides as java.lang.Long (the tuple fields are boxed
    // either way), so the output keeps the input's id nullability, as
    // on the Row path.
    val idIsLong = pre.schema(idCol).dataType ==
      org.apache.spark.sql.types.LongType
    val carryIntArray = carryCols.lengthCompare(1) == 0 &&
      (pre.schema(carryCols.head).dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType, _) => true
        case _ => false
      })
    def typed[I: TypeTag]: DataFrame =
      if (carryCols.isEmpty)
        pre.select(col(idCol), col("shard"), col("n_tokens"),
            col("capped"), col("truncated"))
          .as[(I, Long, Long, Long, Boolean)]
          .mapPartitions { it =>
            val st = new NoSplitPacker(b, firstFit)
            it.map { case (id, shard, nt, capped, tr) =>
              st.place(shard, capped)
              (id, shard, nt, tr, st.bin, st.pos)
            }
          }
          .toDF(idCol, "shard", "n_tokens", "truncated", "bin", "pos")
      else
        pre.select(col(idCol), col("shard"), col("n_tokens"),
            col("capped"), col("truncated"), col(carryCols.head))
          .as[(I, Long, Long, Long, Boolean, Array[Int])]
          .mapPartitions { it =>
            val st = new NoSplitPacker(b, firstFit)
            it.map { case (id, shard, nt, capped, tr, carry) =>
              st.place(shard, capped)
              (id, shard, nt, tr, st.bin, st.pos, carry)
            }
          }
          .toDF(idCol, "shard", "n_tokens", "truncated", "bin", "pos",
            carryCols.head)
    if (idIsLong && (carryCols.isEmpty || carryIntArray)) {
      if (pre.schema(idCol).nullable) typed[java.lang.Long] else typed[Long]
    } else {
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        pre.schema(idCol).copy(),
        org.apache.spark.sql.types.StructField("shard",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_tokens",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("truncated",
          org.apache.spark.sql.types.BooleanType, nullable = false),
        org.apache.spark.sql.types.StructField("bin",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.LongType, nullable = false))
        ++ carryCols.map(c => pre.schema(c).copy()))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      val idIx = pre.schema.fieldIndex(idCol)
      val shardIx = pre.schema.fieldIndex("shard")
      val ntIx = pre.schema.fieldIndex("n_tokens")
      val capIx = pre.schema.fieldIndex("capped")
      val trIx = pre.schema.fieldIndex("truncated")
      val carryIx = carryCols.map(pre.schema.fieldIndex)
      pre.mapPartitions { it =>
        val st = new NoSplitPacker(b, firstFit)
        it.map { r =>
          st.place(r.getLong(shardIx), r.getLong(capIx))
          org.apache.spark.sql.Row.fromSeq(
            Seq(r.get(idIx), r.getLong(shardIx), r.getLong(ntIx),
              r.getBoolean(trIx), st.bin, st.pos) ++ carryIx.map(r.get))
        }
      }(enc)
    }
  }

  /**
   * The streaming greedy bin state of [[packNoSplit]], one instance per
   * task: several shards may share a partition — the leading sort column
   * keeps each contiguous, so state resets on shard change. After
   * [[place]], [[bin]]/[[pos]] hold the doc's placement. Extracted so
   * the typed and generic encoder paths share ONE algorithm.
   */
  private final class NoSplitPacker(b: Long, firstFit: Boolean) {
    private var curShard = Long.MinValue
    private val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
    // Stale-tolerant UPPER bound on max(budget - fills(i)): placing
    // into a bin only shrinks residuals (bound stays valid, maybe
    // stale); opening a bin can raise it. capped > bound ==> no bin
    // fits, skip the scan entirely.
    private var maxResidUpper = 0L
    private var nfBin = -1L
    private var nfFill = 0L
    var bin = 0L
    var pos = 0L

    def place(shard: Long, capped: Long): Unit = {
      if (shard != curShard) {
        curShard = shard
        fills.clear(); maxResidUpper = 0L; nfBin = -1L; nfFill = 0L
      }
      if (firstFit) {
        if (capped > maxResidUpper) {
          pos = 0L; bin = fills.length.toLong
          fills += capped
          maxResidUpper = math.max(maxResidUpper, b - capped)
        } else {
          var i = 0
          var scannedMaxResid = 0L
          while (i < fills.length && fills(i) + capped > b) {
            scannedMaxResid = math.max(scannedMaxResid, b - fills(i))
            i += 1
          }
          if (i == fills.length) {
            // Full scan failed: we just measured the TRUE max residual.
            maxResidUpper = scannedMaxResid
            pos = 0L; bin = fills.length.toLong
            fills += capped
            maxResidUpper = math.max(maxResidUpper, b - capped)
          } else {
            pos = fills(i); fills(i) += capped; bin = i.toLong
          }
        }
      } else {
        if (nfBin < 0L || nfFill + capped > b) { nfBin += 1L; nfFill = 0L }
        pos = nfFill; nfFill += capped; bin = nfBin
      }
    }
  }

  /**
   * The TRAINER-FACING no-split export artifact: the [[packNoSplit]]
   * layout materialized as actual padded training sequences — per
   * (shard, bin), the concatenated `ARRAY<INT>` token ids of the WHOLE
   * documents the bin holds (encoded against a trained tokenizer, docs
   * over `budget` truncated to `budget` ids), plus the doc-boundary
   * offsets an SFT loader needs for example-aligned loss masks — the
   * boundaries are the point of no-split packing, so they ship WITH the
   * ids instead of being reconstructed downstream. Sequences emit
   * UNPADDED (n_ids <= budget; pad-id policy belongs to the consumer,
   * same convention as [[packIdSequences]]).
   *
   * Scale shape — cheaper than the pretraining export by construction:
   * because bins hold whole documents, the materialization moves intact
   * per-doc id ARRAYS through the pack's OWN exchange (the `carryCols`
   * hook — zero joins) into one budget-bounded (shard, bin) aggregate
   * that flattens inside the group — no token-level explode anywhere
   * (packIdSequences must explode because docs straddle chunk
   * boundaries; here they never do). One stateless broadcast-model
   * encode pass feeds everything.
   *
   * Output: (shard, bin, ids ARRAY<INT>, n_ids, n_docs,
   * starts ARRAY<LONG> — each doc's first-id offset, ascending).
   */
  def packNoSplitIds(df: DataFrame, idCol: String, textCol: String,
      model: graft.functions.Bpe.TokenizerModel, numShards: Int,
      budget: Int = 256, salt: String = "shuf",
      strategy: String = "firstfit"): DataFrame = {
    require(budget > 0, s"packNoSplitIds: budget must be positive, got $budget")
    val enc = graft.functions.Bpe.bpeEncodeIds(df, idCol, textCol, model)
    packNoSplit(enc, "doc_id", "", numShards, budget, salt,
      tokensCol = "n_tokens_bpe", strategy = strategy,
      carryCols = Seq("token_ids"))
      .withColumn("capped_ids", slice(col("token_ids"), 1, budget))
      .groupBy("shard", "bin")
      .agg(array_sort(collect_list(
        struct(col("pos"), col("doc_id"), col("capped_ids")))).as("docs"))
      .select(col("shard"), col("bin"),
        flatten(transform(col("docs"), d => d.getField("capped_ids")))
          .as("ids"),
        size(col("docs")).cast("long").as("n_docs"),
        transform(col("docs"), d => d.getField("pos")).as("starts"))
      .select(col("shard"), col("bin"), col("ids"),
        size(col("ids")).cast("long").as("n_ids"), col("n_docs"),
        col("starts"))
  }

  /**
   * Padding-waste audit over a [[packNoSplit]] frame — the row that
   * prices the no-split guarantee before shipping shards: per shard,
   * docs landed, how many were truncated, bins (= fixed-size padded
   * sequences) occupied, the PACKED token mass (capped at `budget`,
   * exactly what the bins hold), the padding the trainer will burn
   * (bin capacity minus packed mass), and the fill fraction. `budget`
   * must be the packNoSplit call's own (same contract as
   * [[packReport]]). ONE map-side-combining rollup, numShards rows out;
   * fill_frac is one IEEE division of exact integers.
   */
  def packNoSplitReport(packed: DataFrame, budget: Int): DataFrame = {
    require(budget > 0,
      s"packNoSplitReport: budget must be positive, got $budget")
    packed.groupBy("shard").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("truncated"), 1L).otherwise(0L)).as("n_truncated"),
        (max("bin") + 1L).as("n_bins"),
        sum(least(col("n_tokens"), lit(budget.toLong))).as("packed_tokens"))
      .select(col("shard"), col("n_docs"), col("n_truncated"), col("n_bins"),
        col("packed_tokens"),
        (col("n_bins") * budget - col("packed_tokens")).as("pad_tokens"),
        (col("packed_tokens").cast("double") /
          (col("n_bins") * budget).cast("double")).as("fill_frac"))
  }

  /**
   * Shuffle-quality audit — the observability row a training run reads
   * before trusting the deterministic shuffle: per shard, how well the
   * grouping column (source, language, domain...) is INTERLEAVED in the
   * training order. A broken shuffle (ingest order leaking through,
   * per-source file concatenation) shows up as long same-group runs —
   * correlated batches, loss spikes; a healthy md5 order has runs of
   * ~1-2 docs. Emits per shard: docs, distinct groups, the number of
   * same-group runs in the sort order, the LONGEST run, and
   * `interleave` = n_runs/n_docs (1.0 = perfectly alternating).
   *
   * NULL group values fail loud — a null would silently fuse two runs
   * and overstate interleaving quality.
   *
   * Scale shape: the run detection is a per-shard window (the [[seqPack]]
   * argument: packing/ordering defines a total order INSIDE a shard, and
   * numShards scales with the corpus so no reducer sees more than a
   * file's worth); then two map-side-combining rollups to numShards
   * rows and one numShards-row broadcast join. Exactness: counts stay
   * integer; `interleave` is one IEEE division of exact integers.
   */
  def shuffleAudit(df: DataFrame, idCol: String, byCol: String,
      numShards: Int, salt: String = "shuf"): DataFrame = {
    val grp = when(col(byCol).isNull, raise_error(concat(
        lit(s"shuffleAudit: null $byCol for ${idCol}="),
        col(idCol).cast("string"),
        lit(" — the group column must cover every row"))).cast("string"))
      .otherwise(col(byCol).cast("string"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("sort_key"), col(idCol))
    val laid = shardAssign(df, idCol, numShards, salt)
      .select(col(idCol), grp.as("_grp"), col("shard"), col("sort_key"))
    val runs = laid
      .withColumn("_chg",
        when(lag(col("_grp"), 1).over(w).isNull ||
          lag(col("_grp"), 1).over(w) =!= col("_grp"), 1L).otherwise(0L))
      .withColumn("_run", sum(col("_chg")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("shard"), col("_run"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy("shard")
      .agg(sum("run_len").as("n_docs"), count(lit(1)).as("n_runs"),
        max("run_len").as("max_run"))
    val groups = laid.groupBy("shard")
      .agg(countDistinct(col("_grp")).as("n_groups"))
    runs.join(broadcast(groups), "shard")
      .select(col("shard"), col("n_docs"), col("n_groups"), col("n_runs"),
        col("max_run"),
        (col("n_runs").cast("double") / col("n_docs").cast("double"))
          .as("interleave"))
  }

  /**
   * Per-shard integrity digest of a [[packIdSequences]] frame — the
   * checksum row that gates an export ARTIFACT's content (e.g. the
   * [[graft.sources.BinShards]] binary files) rather than just its
   * relational twin: position-weighted so any reorder, drop, duplicate
   * or value flip anywhere in a shard's id stream changes the digest.
   *
   * Per shard, over every (absolute position `abs` = seq*budget + pos,
   * id) of the emitted sequences:
   *   sum_digest = SUM((abs + 1) * (id + 2))
   *   xor_digest = BIT_XOR((abs + 1) * 1000003 + id + 2)
   * `id + 2` keeps every term nonzero for the separator (-1) and unk
   * (0); the two aggregates fail independently (a sum collision is not
   * an xor collision), and both are exact integer arithmetic any
   * engine replays bit-for-bit. Magnitude contract: terms are
   * ~stream_length x vocab, so the sum stays far inside int64 for
   * shard-sized streams (a shard is one bounded training file — the
   * [[seqPack]] sharding argument); a petabyte-scale single SHARD
   * would need the mod-2^61 variant, which changing shard counts, not
   * this digest, should prevent.
   *
   * Scale shape: ONE pass over the packed frame — a per-sequence fold
   * (a `mapPartitions` that walks each `ids` array once, with
   * `Math.addExact`/`multiplyExact`, so an overflow fails loud as the
   * ANSI aggregates do) feeding one map-side-combining `groupBy(shard)`
   * to numShards rows. No explode, no second branch and no join, so
   * the input is read once and needs no cache. A shard none of whose
   * sequences holds an id emits no row. The output keeps the input's
   * `shard` type and nullability.
   *
   * Output: (shard, n_seqs, n_ids, sum_digest, xor_digest).
   */
  def packDigest(packed: DataFrame, budget: Int): DataFrame = {
    require(budget > 0, s"packDigest: budget must be positive, got $budget")
    val b = budget.toLong
    val in = packed.select(col("shard"), col("seq"), col("ids"), col("n_ids"))
    val terms = StructType(Seq(in.schema("shard"), in.schema("n_ids"),
      StructField("s", LongType), StructField("x", LongType),
      StructField("has_ids", BooleanType, nullable = false)))
    // Per sequence: its (shard, n_ids) pass through; s and x are the
    // sequence's sum and xor terms (null when no term is defined — a
    // null seq or null ids, as the SQL arithmetic would give), and
    // has_ids marks a sequence with at least one id.
    in.mapPartitions { rows: Iterator[Row] =>
      rows.map { r =>
        val ids = if (r.isNullAt(2)) Nil else r.getSeq[Any](2)
        val (s, x) =
          if (r.isNullAt(1)) (null, null)
          else idTerms(r.getAs[Number](1), b, ids)
        Row(r.get(0), r.get(3), s, x, ids.nonEmpty)
      }
    }(Encoders.row(terms))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_seqs"), sum("n_ids").as("n_ids"),
        sum("s").as("sum_digest"), bit_xor(col("x")).as("xor_digest"),
        max("has_ids").as("has_ids"))
      .filter(col("has_ids") && col("shard").isNotNull)
      .select(col("shard"), col("n_seqs"), col("n_ids"),
        col("sum_digest"), col("xor_digest"))
  }

  /** One unit's sum and xor digest terms (see [[packDigest]]) over its
    * `ids`, the first at absolute position `unit * budget`; both null
    * when no id is defined, as the SQL arithmetic over null ids gives.
    * `Math.addExact`/`multiplyExact`, so an overflow fails loud as the
    * ANSI aggregates do. */
  private def idTerms(unit: Number, budget: Long,
      ids: Seq[Any]): (Any, Any) = {
    if (ids.isEmpty) return (null, null)
    var s = 0L; var x = 0L; var defined = false
    var pos = Math.addExact(Math.multiplyExact(unit.longValue, budget), 1L)
    ids.foreach { id =>
      if (id != null) {
        val v = id.asInstanceOf[Number].longValue + 2L
        s = Math.addExact(s, Math.multiplyExact(pos, v))
        x ^= Math.addExact(Math.multiplyExact(pos, 1000003L), v)
        defined = true
      }
      pos = Math.addExact(pos, 1L)
    }
    if (defined) (s, x) else (null, null)
  }

  /** The export-wide agreement constants of a manifest: the budget, the
    * shard count and the tokenizer identity, as literal columns. */
  private def withManifestConstants(digest: DataFrame, budget: Int,
      numShards: Int, model: graft.functions.Bpe.TokenizerModel): DataFrame =
    digest
      .withColumn("budget", lit(budget.toLong))
      .withColumn("num_shards", lit(numShards.toLong))
      .withColumn("vocab_size", lit(model.vocab.length.toLong))
      .withColumn("alphabet", lit(model.alphabet))
      .withColumn("pretok", lit(model.pretok))

  /**
   * The EXPORT MANIFEST — the validation table a trainer reads before
   * consuming a packed export (the artifact-level counterpart of the
   * per-file `.idx` headers): one row per shard carrying the shard's
   * sequence/id masses and integrity digests ([[packDigest]]) PLUS the
   * export-wide constants every loader must agree with the producer on
   * — the sequence budget, the shard count, and the tokenizer identity
   * (vocab size, alphabet, pretokenizer mode — a loader pairing these
   * files with the wrong vocab is the classic silent-garbage failure
   * this row exists to catch). Deterministic end to end, so the
   * manifest itself is oracle-gated like any query.
   *
   * Scale shape: [[packIdSequences]] + [[packDigest]]'s one-pass fold
   * (the packed frame is read once, so it is not cached); the constants
   * are literals — no extra pass.
   */
  def exportManifest(df: DataFrame, idCol: String, textCol: String,
      model: graft.functions.Bpe.TokenizerModel, numShards: Int,
      budget: Int = 256, salt: String = "shuf"): DataFrame = {
    withManifestConstants(packDigest(
      packIdSequences(df, idCol, textCol, model, numShards, budget, salt),
      budget), budget, numShards, model)
  }

  /**
   * The SFT twin of [[exportManifest]] — the validation table a trainer
   * reads before consuming a PADDED-BIN export: one row per shard with
   * the bin/doc/id masses and integrity digests ([[packNoSplitDigest]],
   * boundary-starts checksum included — the loss-mask metadata is part
   * of the artifact) plus the same export-wide agreement constants
   * (budget, shard count, tokenizer identity). Same scale posture: the
   * digest's one-pass fold reads the packed frame once, uncached; the
   * constants are literals.
   */
  def exportManifestSft(df: DataFrame, idCol: String, textCol: String,
      model: graft.functions.Bpe.TokenizerModel, numShards: Int,
      budget: Int = 256, salt: String = "shuf",
      strategy: String = "firstfit"): DataFrame =
    withManifestConstants(packNoSplitDigest(
      packNoSplitIds(df, idCol, textCol, model, numShards, budget, salt,
        strategy),
      budget), budget, numShards, model)

  /**
   * MULTI-EPOCH export digests — the end-to-end artifact row of an
   * E-epoch training run: each epoch re-packs the SAME encoded corpus
   * under its own salt (an independent reproducible permutation — the
   * [[epochOrderAudit]] posture applied to the export itself) and emits
   * that epoch's per-shard [[packDigest]] rows. Two invariants a
   * consumer checks across epochs, both visible in the output: the
   * digests DIFFER per epoch (the layouts really are distinct
   * permutations — a repeated salt would collide them) while the id
   * mass is identical up to the trailing-separator trim (the doc token
   * ids are salt-independent; only their arrangement moves, but each
   * shard's FINAL separator is trimmed iff it spills past the last doc
   * token's sequence — the [[packIdSequences]] contract — so total
   * n_ids may differ across epochs by at most numShards).
   *
   * Scale shape: ONE broadcast-model encode pass shared by every epoch
   * (the ids do not depend on the salt — `enc` is cached, so E packs
   * re-read it instead of re-encoding E times); each epoch's packed
   * frame is read once by [[packDigest]]'s one-pass fold, so only `enc`
   * is cached. Everything downstream is numShards-row rollups,
   * E x numShards rows out.
   *
   * Output: (epoch, shard, n_seqs, n_ids, sum_digest, xor_digest).
   */
  def epochExport(df: DataFrame, idCol: String, textCol: String,
      model: graft.functions.Bpe.TokenizerModel, numShards: Int,
      budget: Int = 256, epochSalts: Seq[String] = Seq("epoch0", "epoch1"),
      sepId: Int = -1): DataFrame = {
    require(epochSalts.size >= 2,
      s"epochExport: need >= 2 epochs, got ${epochSalts.size}")
    require(epochSalts.distinct.size == epochSalts.size,
      s"epochExport: epoch salts must be distinct — a repeated salt " +
        s"exports the same layout twice; got ${epochSalts.mkString(", ")}")
    import graft.GraftCaches.Cacheable
    val enc = graft.functions.Bpe.bpeEncodeIds(df, idCol, textCol, model)
      .graftCached
    epochSalts.map { salt =>
      packDigest(
        packIdSequencesEnc(enc, numShards, budget, salt, sepId), budget)
        .select(lit(salt).as("epoch"), col("shard"), col("n_seqs"),
          col("n_ids"), col("sum_digest"), col("xor_digest"))
    }.reduce(_ unionByName _)
  }

  /**
   * Per-shard integrity digest of a [[packNoSplitIds]] frame — the SFT
   * export's counterpart of [[packDigest]], gating the padded-bin
   * BINARY artifact ([[graft.sources.BinShards.writeNoSplit]]) content
   * AND its boundary metadata: ids digest over absolute position
   * `abs = bin*budget + pos` (bins are budget-capacity slots, so the
   * position weighting is collision-free across bins), plus a separate
   * `starts_digest` over the doc-boundary offsets — the loss-mask
   * metadata is part of the artifact, so it gets its own checksum
   * (`SUM((bin*budget + start + 1) * (k + 2))`, k = the doc's index
   * within its bin's ascending starts — order-sensitive).
   *
   * Scale shape: [[packDigest]]'s — ONE pass, a per-bin fold (a
   * `mapPartitions` sharing [[packDigest]]'s id-term loop, plus the
   * starts terms, all exact) feeding one map-side-combining
   * `groupBy(shard)` to numShards rows; no explode, no join, no cache.
   * Unlike [[packDigest]], every shard emits a row: one whose bins hold
   * no ids (or no starts) gets zero digests. A null shard's digests are
   * zero too, and the output keeps the input's `shard` type.
   *
   * Output: (shard, n_bins, n_docs, n_ids, sum_digest, xor_digest,
   * starts_digest), the digests never null.
   */
  def packNoSplitDigest(packed: DataFrame, budget: Int): DataFrame = {
    require(budget > 0,
      s"packNoSplitDigest: budget must be positive, got $budget")
    val b = budget.toLong
    val in = packed.select(col("shard"), col("bin"), col("ids"),
      col("n_ids"), col("n_docs"), col("starts"))
    val terms = StructType(Seq(in.schema("shard"), in.schema("n_docs"),
      in.schema("n_ids"), StructField("s", LongType),
      StructField("x", LongType), StructField("st", LongType)))
    in.mapPartitions { rows: Iterator[Row] =>
      rows.map { r =>
        // Per bin: its (shard, n_docs, n_ids) pass through; s and x are
        // its id terms, st its starts term SUM((bin*budget + start + 1)
        // * (k + 2)) over the k-th start — each null when undefined (a
        // null shard, bin or array, or only null elements).
        val (s, x, st) =
          if (r.isNullAt(0) || r.isNullAt(1)) (null, null, null)
          else {
            val bin = r.getAs[Number](1)
            val (s, x) = idTerms(bin, b,
              if (r.isNullAt(2)) Nil else r.getSeq[Any](2))
            val starts = if (r.isNullAt(5)) Nil else r.getSeq[Any](5)
            var st = 0L; var defined = false
            if (starts.nonEmpty) {
              val base = Math.multiplyExact(bin.longValue, b)
              starts.iterator.zipWithIndex.foreach { case (start, k) =>
                if (start != null) {
                  st = Math.addExact(st, Math.multiplyExact(
                    Math.addExact(Math.addExact(base,
                      start.asInstanceOf[Number].longValue), 1L),
                    k + 2L))
                  defined = true
                }
              }
            }
            (s, x, if (defined) st else null)
          }
        Row(r.get(0), r.get(4), r.get(3), s, x, st)
      }
    }(Encoders.row(terms))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_bins"), sum("n_docs").as("n_docs"),
        sum("n_ids").as("n_ids"),
        coalesce(sum("s"), lit(0L)).as("sum_digest"),
        coalesce(bit_xor(col("x")), lit(0L)).as("xor_digest"),
        coalesce(sum("st"), lit(0L)).as("starts_digest"))
  }

  /**
   * Cross-EPOCH order audit — the multi-epoch counterpart of
   * [[shuffleAudit]]: a multi-epoch training run re-shuffles the corpus
   * with a different `salt` per epoch (the salt already parameterizes
   * both the shard draw and the sort key, so each epoch is an
   * independent reproducible permutation); this audit PROVES the
   * permutations are actually different by counting repeated
   * ADJACENCIES — unordered doc pairs that sit next to each other (in
   * some shard's order) in BOTH epochs. A broken salting (same salt
   * twice, salt ignored, salt only in the shard draw) shows up as
   * n_repeat ~ n_adj; healthy independent md5 orders collide on
   * ~n·E/(corpus size) pairs — essentially 0. Adjacency is the right
   * granularity because training-batch composition is what repeats
   * hurt: two docs co-resident in a batch every epoch correlate their
   * gradients across the whole run.
   *
   * Scale shape: per epoch, one [[shardAssign]] projection + the
   * per-shard lag window (the [[seqPack]] sharding argument bounds the
   * reducer); each doc emits <= 1 pair per epoch, so the pair frame is
   * corpus x E rows. The repeat count is ONE shuffle join on the
   * (lo, hi) pair key — a pair occurs at most once per epoch (each doc
   * appears once), so per-key fan-out is bounded by E, no skew. The
   * per-epoch totals are an E-row rollup broadcast onto the E^2/2
   * epoch-pair grid.
   *
   * Output per unordered epoch pair: (epoch_a, epoch_b, n_adj_a,
   * n_adj_b, n_repeat) — exact integers.
   */
  def epochOrderAudit(df: DataFrame, idCol: String, numShards: Int,
      epochSalts: Seq[String]): DataFrame = {
    require(epochSalts.size >= 2,
      s"epochOrderAudit: need >= 2 epochs, got ${epochSalts.size}")
    require(epochSalts.distinct.size == epochSalts.size,
      s"epochOrderAudit: epoch salts must be distinct — a repeated salt " +
        "IS the failure this audit exists to catch; got " +
        epochSalts.mkString(", "))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("epoch", "shard").orderBy(col("sort_key"), col(idCol))
    val laid = epochSalts.map { salt =>
      shardAssign(df, idCol, numShards, salt)
        .select(lit(salt).as("epoch"), col(idCol), col("shard"),
          col("sort_key"))
    }.reduce(_ unionByName _)
    // The pair frame feeds THREE plan branches (the per-epoch counts
    // and both sides of the repeat self-join): cached, or the E-epoch
    // union + lag window executes ~3x (plan-gated via minCachedScans).
    import graft.GraftCaches.Cacheable
    val pairs = laid
      .withColumn("prev", lag(col(idCol), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("epoch"),
        least(col(idCol), col("prev")).as("lo"),
        greatest(col(idCol), col("prev")).as("hi"))
      .graftCached
    val counts = pairs.groupBy("epoch")
      .agg(count(lit(1)).as("n_adj"))
    val grid = counts.select(col("epoch").as("epoch_a"),
        col("n_adj").as("n_adj_a"))
      .join(counts.select(col("epoch").as("epoch_b"),
        col("n_adj").as("n_adj_b")), col("epoch_a") < col("epoch_b"))
    val repeats = pairs.as("a")
      .join(pairs.as("b"),
        col("a.lo") === col("b.lo") && col("a.hi") === col("b.hi") &&
          col("a.epoch") < col("b.epoch"))
      .groupBy(col("a.epoch").as("epoch_a"), col("b.epoch").as("epoch_b"))
      .agg(count(lit(1)).as("n_repeat"))
    grid.join(broadcast(repeats), Seq("epoch_a", "epoch_b"), "left")
      .select(col("epoch_a"), col("epoch_b"), col("n_adj_a"),
        col("n_adj_b"), coalesce(col("n_repeat"), lit(0L)).as("n_repeat"))
  }

  def packReport(packed: DataFrame, budget: Int): DataFrame = {
    require(budget > 0, s"packReport: budget must be positive, got $budget")
    packed.groupBy("shard").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        (max("seq_last") + 1L).as("n_seqs"),
        sum(when(col("seq_last") > col("seq_first"), 1L).otherwise(0L))
          .as("split_docs"))
      .select(col("shard"), col("n_docs"), col("total_tokens"),
        col("n_seqs"), col("split_docs"),
        (col("total_tokens").cast("double") /
          (col("n_seqs") * budget).cast("double")).as("fill_frac"))
  }
}
