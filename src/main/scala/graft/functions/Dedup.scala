package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftCaches.Cacheable

/**
 * Deduplication operators for training-data pipelines.
 *
 * Exact dedup: hash-groupBy on the canonical fingerprint — one shuffle,
 * map-side combine.
 *
 * Near-dup: MinHash LSH — shingle -> 28-bit hash -> k minhashes -> bands ->
 * bucket join -> candidate pairs -> exact-Jaccard verification. Designed so
 * the candidate-generation shuffle carries only (band_key, doc_id); the
 * verification join pulls shingle sets for candidates only. At 100 TB the
 * exhaustive O(n^2) pair comparison is impossible; this is the standard
 * sub-quadratic path, with recall tunable by (bands x rows).
 *
 * Hashes are md5-derived (not Spark's murmur3) so every stage is
 * reproducible in the DuckDB oracle and across engines.
 */
object Dedup {

  /** 28-bit deterministic shingle hash (md5 prefix; engine-portable). */
  def shingleHash(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  /** True when `path` exists and holds at least one COMMITTED parquet
    * data file at its top level — the bootstrap probe shared by the
    * persisted-index operators ([[indexAppend]], [[Ingest.ingestBatch]]).
    * A directory containing only `_temporary` crash debris is NOT an
    * index; bare `fs.exists` would route it to a read that fails
    * "unable to infer schema" on every retry. */
  private[graft] def hasCommittedParquet(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet"))
  }

  /** Intersection count of two sorted int-array columns via the native
    * merge-loop expression (see [[graft.expressions.SortedIntersectCount]]);
    * only valid on [[hashSets]]-shaped arrays. */
  private def sortedIntersect(a: Column, b: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.expressions.SortedIntersectCount.register)
    call_function("graft_sorted_intersect", a, b)
  }

  /**
   * Pin a candidate/pair frame's exchange at the session's COMPUTE
   * parallelism before its verification stage (round 18, guide §2.5).
   *
   * The pair frames are BYTE-light (two ids a row) but each row's
   * downstream cost is a full set-intersect over the attached hash
   * arrays — AQE's byte-based coalescing (advisory 64 MB a partition)
   * sees kilobytes and funnels the whole verification into ONE task
   * (profiled: jaccard_ngram ran 12 single-task stages, ~8 s of serial
   * compute; neardup_containment the same shape), and under-sizes it at
   * every scale for the same reason. The operator knows its per-row
   * cost; AQE cannot. The explicit numPartitions pins the exchange
   * (user REPARTITION_BY_NUM — AQE neither coalesces nor splits it),
   * derived from `defaultParallelism` so it scales with the cluster
   * (and with the bench's `local[$SPARK_GRAFT_CPUS]`) instead of being
   * tuned to this box. NO extra shuffle: the downstream
   * distinct/groupBy on the SAME keys reuses this exchange, and the
   * verification joins are broadcast, so they inherit the partitioning.
   */
  private[graft] def spreadForVerify(cand: DataFrame, k1: String, k2: String)
      : DataFrame =
    cand.repartition(
      math.max(1, cand.sparkSession.sparkContext.defaultParallelism),
      col(k1), col(k2))

  // Fixed odd multipliers/offsets (splitmix-style, generated once from seed
  // 42); k = 32 permutations, 16 bands x 2 rows -> band threshold ~0.2,
  // recall ~1.0 for jaccard >= 0.5.
  private[functions] val NumHashes = 32
  private[functions] val NumBands = 16
  private[functions] val RowsPerBand = NumHashes / NumBands

  /** Broadcast contract for [[decontaminate]]'s eval gram set: 2^24 long
    * hashes is ~128 MB serialized — comfortably inside executor memory,
    * far beyond any real benchmark suite (a 10k-doc eval set of 1 kB docs
    * shingles to ~2M grams). Beyond it the caller is almost certainly
    * decontaminating against a corpus, not a benchmark. */
  val MaxEvalGrams: Long = 1L << 24
  private val Prime = 536870923L // smallest prime > 2^29
  private[functions] val coefA: Seq[Long] = Seq.tabulate(NumHashes) { i =>
    val x = (i + 1) * 0x9e3779b97f4a7c15L
    math.abs(x % (Prime - 1)) + 1
  }
  private[functions] val coefB: Seq[Long] = Seq.tabulate(NumHashes) { i =>
    val x = (i + 1) * 0xbf58476d1ce4e5b9L
    math.abs(x % Prime)
  }

  /** Scala mirror of [[shingleHash]]: first 7 md5 hex digits as a long. */
  private def md5Hash28(s: String, md: java.security.MessageDigest): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) | ((d(2) & 0xffL) << 4) |
      ((d(3) & 0xf0L) >> 4)
  }

  /**
   * Distinct shingle sets as a typed pass: (doc: long, sh: array<string>).
   * Shingling runs in plain Scala ([[TextFunctions.shinglesOf]], value-
   * identical to the Column form) because a lambda referencing a computed
   * words array makes Catalyst re-evaluate the regex+split subtree once
   * per element — profiled ~100x slower on real documents.
   */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        (id, TextFunctions.shinglesOf(if (text == null) "" else text, n))
      })
      .toDF("doc", "sh")
  }

  /**
   * MinHash signatures as a typed mapPartitions pass: (doc: long, sig:
   * array<long>[NumHashes]), rows without shingles dropped.
   *
   * Deliberately NOT a Column expression: referencing a 32-permutation
   * signature from 16 band keys makes CollapseProject duplicate the whole
   * md5+min tree per reference (codegen cannot CSE across lambda bodies),
   * which profiled 10x slower. Sketch-building is per-row imperative work —
   * one tight JVM loop per partition, no shuffle.
   */
  def signatures(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    signaturesFromShingles(shingleSets(df, idCol, textCol, n))

  /**
   * MinHash signatures from a PRECOMPUTED (doc, sh) shingle frame — the
   * composition point that lets [[nearDupPairs]] scan/shingle the corpus
   * text exactly once: the shingle frame is built once (and persisted by
   * the caller when consumed by more than one branch), and both the
   * signature path and the exact-Jaccard verification path derive from it.
   */
  def signaturesFromShingles(sh: DataFrame): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    sh.select(col("doc").cast("long"), col("sh"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        // The md5 per (doc, shingle) dominates signature cost (~1 us per
        // digest; a corpus shares most shingles across documents), so
        // hash values are memoized per partition. Bounded: cleared at 1M
        // entries so a huge partition cannot OOM the executor.
        val cache = new java.util.HashMap[String, java.lang.Long](1 << 16)
        val a = coefA.toArray
        val b = coefB.toArray
        it.flatMap { case (id, shingles) =>
          if (shingles.isEmpty) None
          else {
            val sig = Array.fill(NumHashes)(Long.MaxValue)
            shingles.foreach { s =>
              var boxed = cache.get(s)
              if (boxed == null) {
                if (cache.size >= (1 << 20)) cache.clear()
                boxed = java.lang.Long.valueOf(md5Hash28(s, md))
                cache.put(s, boxed)
              }
              val h = boxed.longValue()
              var i = 0
              while (i < NumHashes) {
                val v = (h * a(i) + b(i)) % Prime
                if (v < sig(i)) sig(i) = v
                i += 1
              }
            }
            Some((id, sig))
          }
        }
      }.toDF("doc", "sig")
  }

  /**
   * SimHash near-dup pairs: candidates collide in at least one of four
   * 16-bit bands (pigeonhole: hamming <= 3 over 64 bits GUARANTEES a
   * shared band — 100% recall at the threshold, by construction), then
   * exact hamming verification. Id-only band self-join; degenerate
   * zero signatures (documents with no shingles) are excluded — they
   * would all collide meaninglessly. Output: (id_a, id_b, hamming).
   *
   * The signature frame feeds FOUR plan branches (both sides of the
   * banded self-join plus both verification sides), so it is persisted
   * — same discipline as [[nearDupPairs]]'s shingle frame; without it
   * the text scan + simhash pass runs ~4x.
   */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sims = simhash64(df, idCol, textCol).filter(col("simhash") =!= 0)
      .graftCached
    val banded = sims.select(col("id"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), 16 * b).bitwiseAND(lit(65535L)).as("chunk"))): _*))
        .as("bc"))
      .select(col("id"), col("bc.band"), col("bc.chunk"))
    val pairs = banded.join(
        banded.withColumnRenamed("id", "id_b"), Seq("band", "chunk"))
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"))
      .distinct()
    val a = sims.select(col("id").as("id_a"), col("simhash").as("sim_a"))
    val b = sims.select(col("id").as("id_b"), col("simhash").as("sim_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** The 32 permutation coefficients as DuckDB `VALUES (i, a, b)` rows —
    * with the md5-derived shingle hashes, every signature slot is
    * `min((h*a + b) % prime)`, exact in BIGINT in both engines, so the
    * signature stage itself is value-checkable in SQL. */
  def coefSqlValues: String =
    (0 until NumHashes).map(i => s"($i, ${coefA(i)}, ${coefB(i)})").mkString(", ")

  /** Minhash signature of one document's shingles (None if empty). */
  private def minhashOf(
      shingles: Seq[String],
      md: java.security.MessageDigest): Option[Array[Long]] =
    if (shingles.isEmpty) None
    else {
      val sig = Array.fill(NumHashes)(Long.MaxValue)
      shingles.foreach { s =>
        val h = md5Hash28(s, md)
        var i = 0
        while (i < NumHashes) {
          val v = (h * coefA(i) + coefB(i)) % Prime
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      Some(sig)
    }

  /** The band key string, mirroring the batch concat_ws("_", slice(...)). */
  private def bandKeyOf(sig: Array[Long], b: Int): String =
    sig.slice(b * RowsPerBand, (b + 1) * RowsPerBand).mkString("_")

  /** Per-bucket streaming state: remembered (doc id, minhash signature)
    * pairs plus the newest event time seen ACROSS batches — the eviction
    * anchor. Tracking it in state (not just the current batch's max)
    * keeps the timeout monotone when a later batch delivers older
    * non-late rows; a batch-max-only `setTimeoutTimestamp` would REGRESS
    * the timeout and evict early, missing pairs with rows that arrive
    * inside the true (maxTs, maxTs + delay] window.
    *
    * CHECKPOINT COMPATIBILITY: adding `newestTs` (round 6) changed the
    * state encoder schema. A [[nearDupStream]] query restarted from a
    * PRE-round-6 checkpoint will fail (or misdecode) on state restore —
    * restart such queries with a FRESH checkpoint directory. */
  final case class NearDupBucket(docs: Seq[(Long, Seq[Long])], newestTs: Long = 0L)

  /** The banded (band, key, id, sig, ts) stream [[nearDupStream]]
    * consumes — one minhash pass, watermarked on the event-time column. */
  private def bandedStream(
      df: DataFrame, idCol: String, textCol: String, tsCol: String,
      watermark: String): org.apache.spark.sql.Dataset[
      (Int, String, Long, Seq[Long], java.sql.Timestamp)] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol), col(tsCol).cast("timestamp"))
      .as[(Long, String, java.sql.Timestamp)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text, ts) =>
          minhashOf(TextFunctions.shinglesOf(if (text == null) "" else text), md)
            .toSeq.flatMap { sig =>
              (0 until NumBands).map(b =>
                (b, bandKeyOf(sig, b), id, sig.toSeq, ts))
            }
        }
      }
      .toDF("band", "key", "id", "sig", "ts")
      .withWatermark("ts", watermark)
      .as[(Int, String, Long, Seq[Long], java.sql.Timestamp)]
  }

  /** Match emission against the remembered bucket — [[nearDupStream]]'s
    * comparison loop. Returns (matches, updated docs). */
  private[functions] def bucketStep(
      docs: Vector[(Long, Seq[Long])],
      rows: Seq[(Int, String, Long, Seq[Long], java.sql.Timestamp)],
      threshold: Double,
      maxPerBucket: Int,
      band: Int): (Seq[(Int, Long, Long, Double, java.sql.Timestamp)], Vector[(Long, Seq[Long])]) = {
    var cur = docs
    val out = Seq.newBuilder[(Int, Long, Long, Double, java.sql.Timestamp)]
    rows.sortBy(r => (r._5.getTime, r._3)).foreach { case (_, _, id, sig, ts) =>
      cur.foreach { case (pid, psig) =>
        if (pid != id) {
          var agree = 0
          var i = 0
          while (i < NumHashes) {
            if (psig(i) == sig(i)) agree += 1
            i += 1
          }
          val est = agree.toDouble / NumHashes
          if (est >= threshold) out += ((band, pid, id, est, ts))
        }
      }
      if (!cur.exists(_._1 == id))
        cur = (cur :+ ((id, sig))).takeRight(maxPerBucket)
    }
    (out.result(), cur)
  }

  /**
   * STREAMING near-dup detection: each arriving document's minhash
   * signature lands in its NumBands (band, key) buckets; a bucket
   * remembers (id, signature) of documents inside the watermark horizon
   * and a new arrival emits a match against each remembered document
   * whose signature similarity (fraction of agreeing minhash slots —
   * the unbiased Jaccard estimator) clears `threshold`.
   *
   * Output: (band, id_a, id_b, est_jaccard, ts), id_a = the earlier
   * arrival. Emissions are AT-LEAST-ONCE per colliding band by design:
   * a second stateful operator behind flatMapGroupsWithState is not
   * supported in one query, so cross-band dedup belongs downstream
   * (sink-side distinct, or dropDuplicatesWithinWatermark across a
   * topic hop — the AlarmProcessorApp pattern).
   *
   * State is bounded two ways: the event-time timeout evicts a bucket
   * once the watermark passes its newest arrival PLUS the watermark
   * delay (`setTimeoutTimestamp(maxTs, watermark)`) — so a non-late row
   * with event time in (maxTs, maxTs + delay] still finds the bucket
   * alive; a bare-maxTs timeout would evict a full delay earlier and
   * silently miss those pairs — and `maxPerBucket`
   * caps a degenerate hot bucket (a stream of identical documents) —
   * the streaming analogue of the batch RowsPerBand dial; oldest
   * entries fall out first.
   */
  def nearDupStream(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String,
      watermark: String,
      threshold: Double,
      maxPerBucket: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val banded = bandedStream(df, idCol, textCol, tsCol, watermark)
    banded
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[NearDupBucket,
        (Int, Long, Long, Double, java.sql.Timestamp)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((band, _), rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prev = state.getOption
            val docs = prev.map(_.docs.toVector).getOrElse(Vector.empty)
            val rowSeq = rows.toSeq
            // Anchor eviction on the newest event time EVER seen, not the
            // batch max: an out-of-order batch of older rows must not
            // pull the timeout backward.
            val maxTs = math.max(
              prev.map(_.newestTs).getOrElse(0L),
              rowSeq.iterator.map(_._5.getTime).max)
            val (out, next) = bucketStep(docs, rowSeq, threshold, maxPerBucket, band)
            state.update(NearDupBucket(next, maxTs))
            state.setTimeoutTimestamp(maxTs, watermark)
            out.iterator
          }
      }
      .toDF("band", "id_a", "id_b", "est_jaccard", "ts")
  }

  /**
   * Candidate near-dup pairs via banded LSH. Input: (idCol, shinglesCol).
   * Output: (id_a, id_b) distinct, id_a < id_b.
   *
   * Pairs are generated by grouping each (band, key) bucket and emitting
   * in-bucket combinations — ONE pass over the signature subtree and one
   * shuffle, instead of a self-join that would recompute signatures twice.
   * Hot buckets (low-specificity bands) cost |bucket|^2; at real scale cap
   * them upstream by raising RowsPerBand.
   */
  def lshCandidates(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    lshCandidatesFromShingles(shingleSets(df, idCol, textCol, n))

  /** [[lshCandidates]] over a precomputed (doc, sh) shingle frame. */
  def lshCandidatesFromShingles(sh: DataFrame): DataFrame = {
    val sig = signaturesFromShingles(sh)
    val banded = sig.select(
      col("doc"),
      explode(array((0 until NumBands).map { b =>
        struct(lit(b).as("band"),
          concat_ws("_", slice(col("sig"), b * RowsPerBand + 1, RowsPerBand)).as("key"))
      }: _*)).as("bk"))
      .select(col("doc"), col("bk.band"), col("bk.key"))
    banded
      .groupBy("band", "key")
      .agg(sort_array(collect_list(col("doc"))).as("docs"))
      .filter(size(col("docs")) > 1)
      .select(explode(
        flatten(transform(col("docs"), (a, i) =>
          transform(slice(col("docs"), i + 2, size(col("docs"))), b =>
            struct(a.as("id_a"), b.as("id_b")))))).as("pair"))
      .select(col("pair.id_a"), col("pair.id_b"))
      .transform(spreadForVerify(_, "id_a", "id_b"))
      .distinct()
  }

  /** Hard ceiling on [[candidatePairsSqlValues]]'s driver collect: the
    * rendered literals exist to feed a SQL-oracle replay, and an oracle
    * with millions of VALUES rows is neither parseable nor honest — at
    * that candidate volume the exhaustive gate data is the wrong size
    * for a literal replay anyway. */
  val MaxOraclePairs: Int = 262144

  /**
   * The banded candidate PAIR SET rendered as SQL `VALUES` literals —
   * `"(1, 2), (3, 7)"` — for the scale-tractable oracle form (the
   * IVF-centroid-literal discipline applied to pairs): DuckDB re-verifies
   * the exact Jaccard threshold and everything downstream (clustering,
   * winners, drops) over the raw shingle lists, trusting only the
   * CANDIDATE generation, whose recall the exhaustive all-pairs form
   * pins at the small-sf gate every round. Deterministic: the distinct
   * pair set sorted by (id_a, id_b). Empty string when no candidates —
   * callers fall back to the exhaustive form (the table is tiny if
   * banding found nothing). Bounded: one CollectLimit job, loud above
   * [[MaxOraclePairs]].
   */
  def candidatePairsSqlValues(df: DataFrame, idCol: String, textCol: String): String = {
    val rows = lshCandidates(df, idCol, textCol)
      .orderBy("id_a", "id_b")
      .limit(MaxOraclePairs + 1)
      .collect()
    require(rows.length <= MaxOraclePairs,
      s"candidatePairsSqlValues: > $MaxOraclePairs candidate pairs — too " +
        "many for a VALUES-literal oracle. Run the exhaustive oracle on a " +
        "smaller slice instead; the literal replay is a spot-check form, " +
        "not a corpus-scale one.")
    rows.map(r => s"(${r.get(0)}, ${r.get(1)})").mkString(", ")
  }

  /**
   * Cross-corpus near-dup join: near-duplicate pairs BETWEEN two document
   * frames (never within one) — the incremental-ingestion workhorse:
   * dedup a new crawl batch against the existing corpus without
   * re-pairing the corpus against itself. Same MinHash banding and exact
   * verification as [[nearDupPairs]], but candidates come from an
   * equi-join of the two sides' (band, key) frames instead of in-bucket
   * combinations, so candidate volume is |L_bucket|x|R_bucket| per
   * bucket and the existing-corpus side is never self-joined. Each side
   * is shingled exactly once (persisted; feeds its signature branch and
   * its verification branch).
   *
   * Output: (left_id, right_id, jaccard), jaccard the raw double
   * quotient over distinct shingle sets.
   */
  def nearDupJoin(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleSize: Int = 3): DataFrame = {
    def bandFrame(sh: DataFrame, side: String) =
      signaturesFromShingles(sh).select(
        col("doc").as(side),
        explode(array((0 until NumBands).map { b =>
          struct(lit(b).as("band"),
            concat_ws("_", slice(col("sig"), b * RowsPerBand + 1, RowsPerBand)).as("key"))
        }: _*)).as("bk"))
        .select(col(side), col("bk.band"), col("bk.key"))
    val shL = shingleSets(left, idCol, textCol, shingleSize)
      .graftCached
    val shR = shingleSets(right, idCol, textCol, shingleSize)
      .graftCached
    val cands = bandFrame(shL, "left_id")
      .join(bandFrame(shR, "right_id"), Seq("band", "key"))
      .select("left_id", "right_id")
      // Verification runs in this exchange's partitioning — pinned at
      // compute parallelism (see spreadForVerify).
      .transform(spreadForVerify(_, "left_id", "right_id"))
      .distinct()
    val a = shL.select(col("doc").as("left_id"), col("sh").as("sh_a"))
    val b = shR.select(col("doc").as("right_id"), col("sh").as("sh_b"))
    cands.join(a, "left_id").join(b, "right_id")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select("left_id", "right_id", "jaccard")
  }

  /**
   * The ingestion decision on top of [[nearDupJoin]]: the new batch with
   * every document that near-duplicates the existing corpus removed
   * (left-anti join on the matched ids — id-only, so the anti join
   * shuffles nothing wider than the key). The batch rows pass through
   * unchanged; composition stays lazy, so Catalyst plans batch scan,
   * match, and anti join as one query.
   */
  def ingestDedup(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleSize: Int = 3): DataFrame = {
    val matched = nearDupJoin(batch, corpus, idCol, textCol, threshold, shingleSize)
      .select(col("left_id").as(idCol)).distinct()
    batch.join(matched, Seq(idCol), "left_anti")
  }

  /**
   * The PERSISTED near-dup index — the artifact that makes incremental
   * ingestion sub-linear in corpus size: one row per indexed document
   * carrying its MinHash signature (for banded candidate generation) AND
   * its sorted distinct 28-bit shingle-hash set (for exact-Jaccard
   * verification via the native sorted-merge kernel). Built in ONE fused
   * typed pass over the text (shingle, hash, TreeSet, minhash — per-
   * partition md5 memoization, no Column-HOF re-evaluation), written once
   * with `.write.parquet(...)`, then EVERY future crawl batch screens
   * against it without re-scanning, re-shingling, or re-sketching the
   * corpus — at 100 TB that recurring cost, not the screen itself, is
   * what dominates [[ingestDedup]] run repeatedly.
   *
   * The signature values are identical to [[signatures]] (the minhash of
   * the distinct hash set equals the minhash over all shingles), so an
   * index row is exactly the precomputed state the live path derives on
   * the fly. Documents with no shingles are omitted (they cannot match).
   *
   * Output: (doc: long, sig: array<long>[32], hs: array<int> sorted).
   */
  /** Minhash signature from a doc's distinct 28-bit hash set — the
    * permutation-min over hashes, which equals the min over all shingles
    * (duplicates cannot change a min). Shared by [[nearDupIndex]] so the
    * shingle→hash logic lives ONLY in [[hashSets]]. */
  private def sigOfHashes(hs: Array[Int]): Array[Long] = {
    val a = coefA.toArray
    val b = coefB.toArray
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val h = hs(i).toLong
      var j = 0
      while (j < NumHashes) {
        val v = (h * a(j) + b(j)) % Prime
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    sig
  }

  def nearDupIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // One shingling/hashing pass (hashSets — the single home of the
    // md5-memoized 28-bit hash + TreeSet dedup) followed by a narrow
    // per-row signature derivation; no second text scan.
    hashSets(df, idCol, textCol, n)
      .select(col("id"), col("hs"))
      .as[(Long, Array[Int])]
      .mapPartitions(_.map { case (id, hs) => (id, sigOfHashes(hs), hs) })
      .toDF("doc", "sig", "hs")
  }

  /** Band-key frame of an index: (side, band, key) — derived from the
    * stored signature, NO text access. */
  private def indexBands(index: DataFrame, side: String): DataFrame =
    index.select(
      col("doc").as(side),
      explode(array((0 until NumBands).map { b =>
        struct(lit(b).as("band"),
          concat_ws("_", slice(col("sig"), b * RowsPerBand + 1, RowsPerBand)).as("key"))
      }: _*)).as("bk"))
      .select(col(side), col("bk.band"), col("bk.key"))

  /**
   * [[nearDupJoin]] against a PRECOMPUTED [[nearDupIndex]] instead of the
   * raw corpus: the batch side is indexed on the fly (one typed pass,
   * persisted — it feeds its band branch and its verification branch);
   * the corpus side touches ONLY the index — banded candidates from an
   * equi-join of stored signatures, verification as the native
   * sorted-merge intersect over the stored hash sets. Same banded recall
   * as the live path (they share signature values by construction).
   *
   * Equivalence caveat: candidate GENERATION matches [[nearDupJoin]]
   * exactly, but VERIFICATION here is Jaccard over 28-bit shingle-HASH
   * sets while the live path intersects raw shingle strings — a hash
   * collision (~|A|·|B|/2^28 expected per pair) can nudge a
   * borderline pair across the threshold in either direction. At corpus
   * scale the two paths may therefore disagree on rare near-threshold
   * pairs; treat the live-vs-indexed equivalence as exact for candidates,
   * approximate (collision-bounded) for the verified score.
   *
   * Output: (left_id, right_id, jaccard) — batch x index matches.
   */
  def nearDupJoinIndexed(
      batch: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      n: Int = 3): DataFrame = {
    val bIdx = nearDupIndex(batch, idCol, textCol, n)
      .graftCached
    // The caller's index frame feeds two plan branches (bands + verify);
    // persist so a parquet-backed index is scanned once per screen.
    // GraftCaches.clearAll() reclaims it between batches.
    val iIdx = index.graftCached
    // A doc re-offered under its OWN id (the crash-retry / re-crawl case)
    // meets its earlier index row here; that row is the same document,
    // not a duplicate of it — without this filter a retried batch would
    // reject every doc it already ingested.
    val cands = indexBands(bIdx, "left_id")
      .join(indexBands(iIdx, "right_id"), Seq("band", "key"))
      .filter(col("left_id") =!= col("right_id"))
      .select("left_id", "right_id")
      // Verification runs in this exchange's partitioning — pinned at
      // compute parallelism (see spreadForVerify).
      .transform(spreadForVerify(_, "left_id", "right_id"))
      .distinct()
    val l = bIdx.select(col("doc").as("left_id"), col("hs").as("hs_a"),
      size(col("hs")).as("sz_a"))
    val r = iIdx.select(col("doc").as("right_id"), col("hs").as("hs_b"),
      size(col("hs")).as("sz_b"))
    cands.join(l, "left_id").join(r, "right_id")
      .withColumn("inter", sortedIntersect(col("hs_a"), col("hs_b")).cast("double"))
      .withColumn("jaccard", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("left_id", "right_id", "jaccard")
  }

  /**
   * [[ingestDedup]] against a persisted [[nearDupIndex]]: the incremental
   * form a recurring ingestion job runs — corpus cost paid once at index
   * build, each batch pays only its own size. Same id-only anti join.
   *
   * RETRY NOTE: same-id candidate pairs are excluded (a doc's own index
   * row is the same document, not a duplicate), so re-screening a batch
   * whose docs were already appended does not self-reject on the minhash
   * side. The CHUNK screen cannot make that exclusion (chunk counts
   * carry no ids) — a retrying ingestion loop should short-circuit
   * already-indexed doc ids before [[chunkDedupIndexed]], as
   * `app.FullIngestDemo` does.
   */
  def ingestDedupIndexed(
      batch: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      n: Int = 3): DataFrame = {
    val matched = nearDupJoinIndexed(batch, index, idCol, textCol, threshold, n)
      .select(col("left_id").as(idCol)).distinct()
    batch.join(matched, Seq(idCol), "left_anti")
  }

  /**
   * IDEMPOTENT index maintenance: derive [[nearDupIndex]] rows for `batch`
   * and append to the parquet index at `indexPath` ONLY the docs whose ids
   * are not already indexed. Re-appending the same batch is a no-op, which
   * turns the recurring-ingestion loop's at-least-once retry (re-run the
   * append after a crash) into exactly-once index contents — the operator
   * form of what IncrementalIngestDemo previously hand-rolled with a raw
   * `write.mode("append")` (which double-indexes on retry, and a
   * double-indexed doc matches ITSELF at jaccard 1.0 in every later
   * screen).
   *
   * Identity is the doc ID: a re-appended id is skipped even if its text
   * changed (ids are immutable names in this pipeline; mutate = new id).
   *
   * Scale shape: the existing index contributes ONLY a column-pruned scan
   * of `doc` ids to the anti-join — strictly cheaper than the screen that
   * precedes an append in the ingestion loop (which reads the full
   * sig+hs index). The batch side is one shingling pass, persisted to
   * feed both the anti-join and the write.
   *
   * Returns the number of rows actually appended (0 = pure no-op; the
   * parquet directory is not touched, so no empty files accumulate).
   */
  def indexAppend(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      n: Int = 3): Long = {
    val spark = batch.sparkSession
    val fresh = nearDupIndex(batch, idCol, textCol, n).graftCached
    // Bootstrap is decided by an EXPLICIT probe for COMMITTED data
    // files, not by catching read exceptions and not by bare directory
    // existence:
    //  - a real read failure on an index that HAS committed files
    //    (corrupt footer, renamed column) must propagate — treating it
    //    as "first append" would re-append the whole batch onto the
    //    existing rows, and a double-indexed doc matches itself at
    //    jaccard 1.0 in every later screen;
    //  - but a crash mid-write of the very FIRST append leaves the
    //    directory existing with only `_temporary` debris, and routing
    //    that to a read would fail ("unable to infer schema") on every
    //    retry — the at-least-once loop this operator serves would be
    //    wedged until manual cleanup. A directory with no committed
    //    parquet files IS bootstrap; the (verified data-free) debris is
    //    removed so the retry starts clean.
    val idxHadoopPath = new org.apache.hadoop.fs.Path(indexPath)
    val fs = idxHadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasCommittedData = hasCommittedParquet(spark, indexPath)
    if (!hasCommittedData && fs.exists(idxHadoopPath))
      fs.delete(idxHadoopPath, true)
    val existing =
      if (hasCommittedData) spark.read.parquet(indexPath).select("doc")
      else
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(
              "doc", org.apache.spark.sql.types.LongType))))
    val novel = fresh.join(existing, Seq("doc"), "left_anti").graftCached
    val appended = novel.count()
    // Right-size the landed files: without the coalesce every append
    // writes one file per (post-join) partition — hundreds of tiny files
    // per batch at cluster shuffle widths, and the screen reads this
    // index IN FULL every batch. ~1 file per small batch keeps the
    // file count growing with BATCHES, not partitions; the long tail of
    // one-file-per-batch growth is [[nearDupIndexCompact]]'s job.
    if (appended > 0)
      novel.coalesce(boundedFileCount(appended))
        .write.mode("append").parquet(indexPath)
    appended
  }

  /** ceil(rows / 2^20) files, at least one — the shared file-sizing rule
    * of the index append/compact family. */
  private[functions] def boundedFileCount(rows: Long): Int =
    math.max(1L, (rows + (1L << 20) - 1) / (1L << 20)).toInt

  /**
   * Full near-dup pipeline: LSH candidates verified by exact Jaccard over
   * distinct shingle sets; keeps pairs with jaccard >= threshold.
   * Output: (id_a, id_b, jaccard) — jaccard as the raw double quotient.
   */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleSize: Int = 3): DataFrame = {
    // ONE text-scan/shingling pass: the shingle frame feeds three branches
    // (signatures for LSH banding, plus both sides of the verification
    // self-join), so it is persisted — MEMORY_AND_DISK keeps lineage (safe
    // to lose an executor, unlike localCheckpoint) and spills at scale.
    val sh = shingleSets(df, idCol, textCol, shingleSize)
      .graftCached
    val cands = lshCandidatesFromShingles(sh)
    val a = sh.withColumnRenamed("doc", "id_a").withColumnRenamed("sh", "sh_a")
    val b = sh.withColumnRenamed("doc", "id_b").withColumnRenamed("sh", "sh_b")
    cands.join(a, "id_a").join(b, "id_b")
      .withColumn("jaccard_raw",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard_raw") >= threshold)
      // Raw double, not round(4)/decimal: the quotient of two exact integer
      // counts is a single IEEE division — bit-identical in any engine —
      // while rounding/decimal conversion introduces per-engine divergence.
      .select(col("id_a"), col("id_b"), col("jaccard_raw").as("jaccard"))
  }

  /**
   * Streaming exact dedup: keep the first document per normalized-text
   * fingerprint, with state bounded by the event-time watermark (a
   * duplicate arriving later than `watermark` after the original is NOT
   * suppressed — the unbounded-state version of "dedup forever" does not
   * exist at 100 TB/day; bound the window and let the batch pass sweep
   * stragglers). Input needs an event-time column.
   */
  def exactDedupStream(
      df: DataFrame,
      textCol: String,
      tsCol: String,
      watermark: String): DataFrame =
    df.withColumn("fp", TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")
      .drop("fp")

  /**
   * Near-dup CLUSTERS: connected components over the near-dup pair graph,
   * so chained duplicates (a~b, b~c, a!~c) land in ONE keep/drop group —
   * the form a cleaning job actually consumes (keep min id per cluster).
   *
   * Alternating large-star/small-star (Kiveris et al., "Connected
   * Components in MapReduce and Beyond"): each round contracts every node
   * toward the minimum of its closed neighborhood, converging to per-
   * component stars centered on the component minimum in O(log n) rounds
   * — label propagation's O(diameter) is the scale trap this replaces
   * (a pathological duplicate CHAIN of length d needs d propagation
   * rounds but only ~log d star rounds). Everything is joins/aggregations
   * over (u, v) edge pairs: no collect_list neighborhoods (a component
   * hub's neighbor list won't fit one task at 100 TB), no driver-side
   * data.
   *
   * Durability + convergence cost: each half-round's edge set is staged
   * to a parquet scratch path — a DURABLE lineage cut (a lost executor
   * replays nothing; `localCheckpoint` pins blocks to executor memory and
   * dies with it) — and the convergence statistics (edge count + an
   * order-independent xxhash64 sum) ride the small-star write job via
   * `observe`, so each round costs exactly two write actions and no
   * separate convergence action. Scratch rounds live under
   * `scratchDir` (a driver-temp dir by default; point it at durable
   * storage on a real cluster, where it plays the role of a checkpoint
   * dir and is swept by storage TTL).
   *
   * Throws IllegalStateException if not converged within `maxIters`
   * (star-contraction needs ~log2(n) rounds, so 50 covers any real
   * input) — an unconverged clustering must fail loudly, not ship
   * fragmented clusters. Output: (id, cluster_id) for EVERY doc.
   */
  def nearDupClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      maxIters: Int = 50,
      scratchDir: Option[String] = None): DataFrame = {
    val pairs = nearDupPairs(df, idCol, textCol, threshold)
      .select(col("id_a").as("u"), col("id_b").as("v"))
    clusterEdges(df.select(col(idCol).cast("long").as("id")), pairs,
      maxIters, scratchDir)
  }

  /**
   * Keep-BEST near-dup consolidation: one survivor per near-dup
   * cluster, chosen as the LONGEST member (whitespace tokens of the
   * [[TextFunctions.normText]] form; ties to the smallest id) — the
   * usual refinement over min-id canonicalization, since near-dup
   * clusters often pair a full document with its truncated or
   * boilerplate-trimmed copies and a training mix wants the complete
   * one. Exact integers end to end: no float score enters the choice,
   * so the winner is bit-stable across engines and runs.
   *
   * Scale shape: clustering is [[nearDupClusters]]' bucketed
   * large-star/small-star pass; the winner per cluster is a single
   * map-side-combined `max_by` aggregate (no window — a mega-cluster
   * contributes one row per map partition, never its population through
   * one reducer), joined back by cluster id.
   *
   * Output (doc_id, cluster_id, n_tokens, kept), one row per input doc;
   * singleton clusters keep their only member.
   */
  def nearDupKeepBest(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      maxIters: Int = 50): DataFrame =
    keepBestCore(df, idCol, textCol, threshold, maxIters,
      df.select(col(idCol).cast("long").as("doc_id"),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens")),
      "n_tokens")

  /**
   * Keep-best with a CALLER-SUPPLIED score — the production refinement
   * over longest-wins: real pipelines keep the highest-QUALITY cluster
   * member (a Gopher verdict, an LM score, a composite), not merely the
   * longest. `scoreCol` must be integral (it is cast to long — the
   * repo's exact-score contract: float scores carry cross-engine tie
   * hazards, so quantize upstream, e.g. micro-unit LM scores); winner
   * by (score DESC, doc_id ASC). Same single map-side-combined `max_by`
   * shape as [[nearDupKeepBest]] — both route through one core, so the
   * mega-cluster task ceiling ([[graft.tools.ScaleStress]]) covers both.
   *
   * Output (doc_id, cluster_id, score, kept), one row per input doc.
   */
  def nearDupKeepBestBy(
      df: DataFrame,
      idCol: String,
      textCol: String,
      scoreCol: String,
      threshold: Double,
      maxIters: Int = 50): DataFrame =
    keepBestCore(df, idCol, textCol, threshold, maxIters,
      df.select(col(idCol).cast("long").as("doc_id"),
        col(scoreCol).cast("long").as("score")),
      "score")

  /** Shared consolidation spine of the keep-best family: cluster, attach
    * the per-doc score frame, pick winners via [[winnerPerCluster]], flag. */
  private def keepBestCore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      maxIters: Int,
      scores: DataFrame, // (doc_id, <scoreName>)
      scoreName: String): DataFrame = {
    val clusters = nearDupClusters(df, idCol, textCol, threshold, maxIters)
      .select(col("id").as("doc_id"), col("cluster_id"))
    val joined = clusters.join(scores, Seq("doc_id")).graftCached
    joined.join(winnerPerCluster(joined, scoreName), Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col(scoreName),
        (col("doc_id") === col("keep_id")).as("kept"))
  }

  /** The winner aggregate both keep-best forms share — and the exact
    * expression the ScaleStress mega-cluster probe drives: ONE
    * map-side-combined `max_by` (no window — a mega-cluster contributes
    * one row per map partition, never its population through one
    * reducer). Deterministic argmax by (score DESC, doc_id ASC): struct
    * ordering is lexicographic and -doc_id maxes at the smallest id. */
  private[graft] def winnerPerCluster(
      joined: DataFrame, // (cluster_id, doc_id, <scoreName>, ...)
      scoreName: String): DataFrame =
    joined.groupBy("cluster_id")
      .agg(max_by(col("doc_id"),
        struct(col(scoreName), (-col("doc_id")).as("neg"))).as("keep_id"))

  /**
   * Large-star/small-star connected components over an explicit edge
   * list (canonical pairs u < v). Exposed separately so any pair
   * generator (MinHash, SimHash bands, embedding LSH) can reuse the
   * clustering. Output: (id, cluster_id) for every id in `ids`.
   */
  def clusterEdges(
      ids: DataFrame, // single column: id
      pairs: DataFrame, // columns: u, v (u < v)
      maxIters: Int = 50,
      scratchDir: Option[String] = None,
      smallGraphEdges: Int = 1 << 17): DataFrame = {
    val spark = pairs.sparkSession
    val scratch = scratchDir.getOrElse {
      val d = java.nio.file.Files.createTempDirectory("graft-cc-")
      d.toFile.deleteOnExit()
      d.toString
    }

    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))

    /** m(u) = min of the closed neighborhood of u, from symmetric edges. */
    def closedMin(es: DataFrame): DataFrame =
      es.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))

    /** Attach each node's LARGER neighbors to its closed-neighborhood min. */
    def largeStar(e: DataFrame): DataFrame = {
      val es = sym(e)
      es.join(closedMin(es), "u")
        .where(col("v") > col("u"))
        .select(col("m").as("u"), col("v")) // m <= u < v: canonical, no loop
        .distinct()
    }

    /** Attach each node's SMALLER-or-equal neighbors (and itself) to it. */
    def smallStar(e: DataFrame): DataFrame = {
      val es = sym(e)
      val m = closedMin(es)
      val fromEdges = es.join(m, "u")
        .where(col("v") < col("u"))
        .select(col("m").as("u"), col("v")) // m <= v (min of Γ+(u))
      val self = m.select(col("m").as("u"), col("u").as("v"))
      fromEdges.union(self)
        .where(col("u") =!= col("v"))
        .distinct()
    }

    // Convergence statistics ride the SAME write job via observe — no
    // separate count action. The hash sum aggregates in decimal(38,0):
    // order-independent and cannot overflow (a long sum would, under
    // ANSI, at ~2^63).
    var obsId = 0
    def staged(df: DataFrame, path: String): (DataFrame, (Long, String)) = {
      obsId += 1
      val obs = org.apache.spark.sql.Observation(s"graft_cc_$obsId")
      df.observe(obs,
          count(lit(1)).as("n"),
          coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
            lit(0).cast("decimal(38,0)")).as("h"))
        .write.mode("overwrite").parquet(path)
      (spark.read.parquet(path),
        (obs.get("n").asInstanceOf[Long], String.valueOf(obs.get("h"))))
    }

    // Stage the initial edge set once: a star step references its input ~4
    // times (sym + closed-min + join), so the input MUST be a cheap parquet
    // scan — feeding the raw LSH pair pipeline in directly would recompute
    // it on every reference. Each half-round is staged for the same reason.
    // Observing the initial set too lets an already-star input converge
    // after ONE round (star rounds fix canonical star edge sets).
    var (edges, stats0) = staged(pairs.distinct(), s"$scratch/round_init")
    // Size-adaptive: the exact edge count rode the staging write for
    // free, so choosing a path costs nothing. Under `smallGraphEdges`
    // the graph union-finds on the driver — a BOUNDED collect (the count
    // is known before collecting, same discipline as the ANN query
    // guard) reading back the tiny staged parquet, replacing ~log(n)
    // distributed rounds whose fixed per-job cost dominates small
    // graphs. Above the bound nothing changes: the star rounds run and
    // the driver never sees an edge (ScaleStress covers that path at
    // 1.05M edges; the equivalence spec pins the two paths together).
    if (stats0._1 <= smallGraphEdges && stats0._1 > 0L) {
      val es = edges.select(col("u").cast("long"), col("v").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != c) {
          val nxt = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      es.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) { // union toward the smaller root: cid = component min
          if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
        }
      }
      val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
      println(s"[graft] clusterEdges small-graph path: ${stats0._1} edges, " +
        s"${nodes.length} nodes union-found on the driver")
      val spark2 = ids.sparkSession
      import spark2.implicits._
      val centers = nodes.map(n => (n, find(n))).toSeq.toDF("id", "cid")
      return ids.join(broadcast(centers), Seq("id"), "left")
        .select(col("id"), coalesce(col("cid"), col("id")).as("cluster_id"))
    }
    var iter = 0
    var prev = stats0
    var converged = prev._1 == 0L
    while (!converged && iter < maxIters) {
      // The large-star half-round is consumed exactly once — by the
      // small-star step, whose ~4 references to it all live inside the
      // ONE small-star write job — so a persist (not a parquet write)
      // de-duplicates the computation. Durability is unharmed: the
      // persist keeps lineage, which roots at the previous round's
      // durable parquet, so a lost executor recomputes its large-star
      // blocks from disk instead of losing the round. Each round
      // therefore costs ONE write action, not two. Plain persist (NOT
      // graftCached): this frame's lifecycle is locally owned — it is
      // unpersisted right after the small-star write — so registering it
      // would leak one dead registry entry per round.
      val half = largeStar(edges)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (next, stats) = staged(smallStar(half), s"$scratch/round_${iter}_small")
      half.unpersist(blocking = false)
      converged = stats == prev || stats._1 == 0L
      prev = stats
      edges = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"nearDupClusters: not converged after $maxIters star rounds — " +
          "refusing to emit fragmented clusters")
    println(s"[graft] clusterEdges converged in $iter star rounds")
    // At convergence the edge set is (component-min, member); the min agg
    // is belt-and-braces against a tied round, not load-bearing.
    val centers = edges.groupBy(col("v").as("id")).agg(min("u").as("cid"))
    ids.join(centers, Seq("id"), "left")
      .select(col("id"), coalesce(col("cid"), col("id")).as("cluster_id"))
  }

  /**
   * Asymmetric containment near-dup pairs: |A ∩ B| / |A| >= threshold,
   * catching a document embedded inside a longer one where symmetric
   * Jaccard stays low and MinHash banding won't fire. Candidates = pairs
   * sharing >= minShared RARE shingles (doc-frequency in [minDf, maxDf])
   * — a deterministic, SQL-mirrorable rule. The df window keeps
   * boilerplate from exploding pairs AND bounds the in-group arrays at
   * maxDf, so the inverted index is ONE (hash, id) shuffle plus in-group
   * combinations — no self-join before the multi-evidence floor
   * collapses the candidate set.
   *
   * The df cap is enforced by a COUNT pre-pass (map-side-combining,
   * constant reducer state) whose survivors semi-join back BEFORE any
   * collect_list runs: a mega-hot shingle present in millions of
   * documents at 100 TB is dropped as a (h, count) pair and never
   * materializes its id list on one reducer (see the ScaleStress
   * hot-shingle case). On the semi-join itself, Spark's runtime bloom
   * filter (`spark.sql.optimizer.runtime.bloomFilter.enabled`, default
   * on in 4.x) builds from the surviving hashes and prunes hot-shingle
   * rows MAP-SIDE — they never even shuffle, so the skewed key is gone
   * before any exchange. Output: (id_a, id_b, containment), directed —
   * both directions appear when both clear the threshold.
   */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      minDf: Int = 2,
      maxDf: Int = 20,
      minShared: Int = 5): DataFrame = {
    // ONE persisted frame (per-doc sorted distinct int hash arrays, the
    // same fused pass as exactJaccardJoin) serves the df pre-count, the
    // inverted index, AND the verification join-back — the corpus text
    // is scanned once and the cache holds compact ints, not shingle
    // strings. Containment is defined over the distinct 28-bit hash
    // sets; collisions are part of the operator contract (as they
    // already were for candidate generation) and the oracle mirrors
    // them exactly.
    val hsf = hashSets(df, idCol, textCol, 3)
      .graftCached
    val ex = hsf.select(col("id"), explode(col("hs")).as("h"))
    val rareH = ex.groupBy("h").agg(count(lit(1)).as("df_h"))
      .filter(col("df_h").between(minDf, maxDf)).select("h")
    // Unordered candidate pairs from in-group combinations over the
    // bounded id arrays; the shared-shingle count is symmetric, so each
    // unordered pair is counted once and both directions unfold after
    // the >= minShared floor.
    // Both exchanges pinned at compute parallelism (spreadForVerify):
    // the in-group combos explode runs in the hash-group stage and the
    // verification (broadcast hs joins + sorted intersect) in the
    // pair-count stage — byte-coalesced, the whole chain profiled as
    // 14 single-task stages (~6 s serial).
    val candU = ex.join(rareH, Seq("h"), "left_semi")
      .repartition(math.max(1,
        ex.sparkSession.sparkContext.defaultParallelism), col("h"))
      .groupBy("h")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")).between(minDf, maxDf))
      .select(explode(
        flatten(transform(col("ids"), (a, i) =>
          transform(slice(col("ids"), i + 2, size(col("ids"))), b =>
            struct(a.as("id_a"), b.as("id_b")))))).as("pair"))
      .select(col("pair.id_a"), col("pair.id_b"))
      .transform(spreadForVerify(_, "id_a", "id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minShared)
      .select("id_a", "id_b")
    // Both directions unfold from the one computed row — a self-union of
    // candU would re-run the whole candidate pipeline (explode, df
    // semi-join, combos, pair count) a second time.
    val cand = candU
      .select(explode(array(
        struct(col("id_a"), col("id_b")),
        struct(col("id_b").as("id_a"), col("id_a").as("id_b")))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
    val a = hsf.select(col("id").as("id_a"), col("hs").as("hs_a"))
    val b = hsf.select(col("id").as("id_b"), col("hs").as("hs_b"))
    cand.join(a, "id_a").join(b, "id_b")
      .withColumn("containment",
        sortedIntersect(col("hs_a"), col("hs_b")).cast("double") /
          size(col("hs_a")))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /**
   * Exact dedup by fingerprint: every row mapped to the canonical (minimum)
   * id of its duplicate group. Output: (id, canonical_id, group_size).
   */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = df.select(col(idCol).as("id"), TextFunctions.fingerprint(col(textCol)).as("fp"))
    val groups = fp.groupBy("fp")
      .agg(min(col("id")).as("canonical_id"), count(lit(1)).as("group_size"))
    fp.join(groups, "fp").select("id", "canonical_id", "group_size")
  }

  /**
   * SimHash-64 per document over its shingles: for each bit position, sum
   * +1/-1 weighted by shingle-hash bits (two md5-derived 32-bit halves),
   * take the sign. Computed per document in a typed mapPartitions pass —
   * no explode, no shuffle at all (the 64 bit counters live in a local
   * array); documents with no shingles hash to 0.
   */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        // Same per-partition md5 memoization as signaturesFromShingles:
        // both 32-bit halves pack into the one cached long.
        val cache = new java.util.HashMap[String, java.lang.Long](1 << 16)
        it.map { case (id, text) =>
          val shingles = TextFunctions.shinglesOf(if (text == null) "" else text)
          val counts = new Array[Int](64)
          shingles.foreach { s =>
            var boxed = cache.get(s)
            if (boxed == null) {
              md.reset()
              val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              // big-endian 32-bit halves, matching conv(substring(md5,1,8),16,10)
              val p1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
                ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
              val p2 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
                ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
              if (cache.size >= (1 << 20)) cache.clear()
              boxed = java.lang.Long.valueOf((p1 << 32) | p2)
              cache.put(s, boxed)
            }
            val packed = boxed.longValue()
            val h1 = packed >>> 32
            val h2 = packed & 0xffffffffL
            var bit = 0
            while (bit < 64) {
              val src = if (bit < 32) h1 else h2
              if (((src >> (bit % 32)) & 1L) == 1L) counts(bit) += 1
              else counts(bit) -= 1
              bit += 1
            }
          }
          var sim = 0L
          var bit = 0
          while (bit < 64) {
            if (counts(bit) > 0 && shingles.nonEmpty) sim |= (1L << bit)
            bit += 1
          }
          (id, sim)
        }
      }.toDF("id", "simhash")
  }

  /**
   * Exact n-gram-Jaccard similarity self-join via prefix filtering — the
   * AllPairs/PPJoin discipline (Bayardo et al., WWW'07; Xiao et al.,
   * WWW'08), the deterministic complement to [[nearDupPairs]]'s
   * probabilistic MinHash banding. Reference rubric: the n-gram-Jaccard
   * member of the dedup family.
   *
   * Candidate generation is PROVABLY lossless for J >= tau:
   *  - every doc's distinct n-gram hashes are sorted under a fixed
   *    global total order (ascending hash value — see the inline note on
   *    the rarity-order trade-off);
   *  - only the first |A| - ceil(tau*|A|) + 1 tokens (the "prefix") are
   *    indexed. J(A,B) >= tau implies overlap >= tau*|A| (since
   *    o(1+tau) >= tau(|A|+|B|) >= tau|A| + tau*o), so two qualifying
   *    sets MUST share a token inside both prefixes;
   *  - length filter: tau*|A| <= |B| <= |A|/tau, positional filter:
   *    1 + min(|A|-r_a, |B|-r_b) >= ceil(tau/(1+tau)*(|A|+|B|)) — both
   *    are upper-bound arguments, never dropping a true pair.
   * Measured on sf0.1: 12.5M naive pairs -> 734k candidates (17x), with
   * the exhaustive-join oracle confirming identical results.
   *
   * At 100 TB: every stage is shuffle-bounded with map-side combine (the
   * df count), per-doc windows (high-cardinality partitions), and a
   * prefix-only self-join whose per-hash fan-out the rarity ordering
   * keeps minimal; no collect, no broadcast of the corpus.
   *
   * Output: (id_a, id_b, jaccard) with id_a < id_b, J computed exactly
   * over the distinct 28-bit shingle-hash sets (hash collisions are part
   * of the operator contract, mirrored in the oracle).
   */
  /**
   * Per-doc SORTED DISTINCT 28-bit shingle-hash arrays in one narrow
   * typed pass (shingle + hash + per-doc dedup fused — no dropDuplicates
   * shuffle; docs too short to shingle are dropped). The one frame serves
   * prefix extraction AND exact verification in [[exactJaccardJoin]].
   */
  private[graft] def hashSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val cache = new java.util.HashMap[String, java.lang.Long](1 << 16)
        it.flatMap { case (id, text) =>
          val sh = TextFunctions.shinglesOf(if (text == null) "" else text, n)
          if (sh.isEmpty) None
          else {
            // 28-bit hashes fit an Int: halves the array payload that the
            // verification joins shuffle.
            val set = new java.util.TreeSet[Integer]()
            sh.foreach { s =>
              var boxed = cache.get(s)
              if (boxed == null) {
                if (cache.size >= (1 << 20)) cache.clear()
                boxed = java.lang.Long.valueOf(md5Hash28(s, md))
                cache.put(s, boxed)
              }
              set.add(Integer.valueOf(boxed.intValue()))
            }
            val arr = new Array[Int](set.size)
            var i = 0
            val iter = set.iterator()
            while (iter.hasNext) { arr(i) = iter.next(); i += 1 }
            Some((id, arr))
          }
        }
      }.toDF("id", "hs")
  }

  def exactJaccardJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"exactJaccardJoin: threshold must be in (0,1], got $threshold")
    // One narrow pass builds the per-doc SORTED hash sets; the prefix is
    // then literally the first p = n - ceil(tau*n) + 1 array elements
    // under the global order "ascending hash value" — a narrow
    // slice+posexplode, NO df-count aggregation, NO join, NO rank
    // window. (Classic AllPairs orders by ascending corpus frequency
    // instead, which needs a full extra shuffle + per-doc rank window;
    // measured on sf0.1 the rarity order yields 662k candidates vs 734k
    // for hash order — a 1.1x selectivity gain that does not pay for two
    // more all-corpus shuffle stages, locally or at 100 TB. Any fixed
    // total order is correct; selectivity is the only thing at stake.)
    val hs = hashSets(df, idCol, textCol, n)
      .graftCached
    val pLen = (size(col("hs")) - ceil(size(col("hs")) * threshold) + 1).cast("int")
    // pref feeds both self-join sides — persisted so the prefix explode
    // over the cached hash-set frame runs once, not once per side.
    val pref = hs
      .select(col("id"), size(col("hs")).as("n"),
        posexplode(slice(col("hs"), lit(1), pLen)))
      .select(col("id"), col("col").as("h"), (col("pos") + 1).as("r"), col("n"))
      .graftCached
    val a = pref.select(col("id").as("id_a"), col("h"),
      col("r").as("r_a"), col("n").as("n_a"))
    val b = pref.select(col("id").as("id_b"), col("h"),
      col("r").as("r_b"), col("n").as("n_b"))
    val requiredOverlap =
      ceil(lit(threshold / (1 + threshold)) * (col("n_a") + col("n_b")))
    val cand = a.join(b, "h")
      .filter(col("id_a") < col("id_b"))
      .filter(col("n_b") >= ceil(col("n_a") * threshold) &&
        col("n_a") >= ceil(col("n_b") * threshold))
      .filter(lit(1) + least(col("n_a") - col("r_a"), col("n_b") - col("r_b"))
        >= requiredOverlap)
      .select("id_a", "id_b")
      // Pin the dedup exchange at compute parallelism: the verification
      // stage downstream (broadcast hs joins + sorted intersect per
      // pair) runs in THIS partitioning — byte-coalesced it was one
      // task doing ~700k intersects serially (see spreadForVerify).
      .transform(spreadForVerify(_, "id_a", "id_b"))
      .distinct()
    // Exact verification over the full distinct hash sets, candidates only.
    cand
      .join(hs.select(col("id").as("id_a"), col("hs").as("hs_a"),
        size(col("hs")).as("sz_a")), "id_a")
      .join(hs.select(col("id").as("id_b"), col("hs").as("hs_b"),
        size(col("hs")).as("sz_b")), "id_b")
      .withColumn("inter",
        sortedIntersect(col("hs_a"), col("hs_b")).cast("double"))
      .withColumn("jaccard",
        col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /**
   * Benchmark decontamination: flag training documents whose n-gram sets
   * overlap an evaluation set — the standard leakage guard every
   * training-data pipeline runs before a corpus ships (cf. GPT-3 appx C /
   * PaLM-style n-gram overlap decontamination).
   *
   * The eval set here is selected by `id % evalModulus == 0` (a stand-in
   * for a real held-out benchmark table; any predicate works the same
   * way). Contract: the eval set is SMALL relative to the corpus — its
   * distinct gram hashes are broadcast, so the training side is one scan
   * + one map-side-combining count, no corpus shuffle on the join. The
   * contract is ENFORCED, not assumed, and the guard IS the broadcast
   * materialization: one bounded CollectLimit job pulls at most
   * `maxEvalGrams` + 1 distinct gram hashes to the driver, refuses an
   * oversized slice with a loud require (never an executor-OOMing
   * multi-GB broadcast — the `Vectors.requireSmallQuerySide` discipline),
   * and on success the collected hashes become a LocalRelation that the
   * main query broadcasts directly — the eval slice is scanned ONCE, not
   * once for the guard and again inside the broadcast exchange.
   *
   * NOTE: because of that fused guard this operator is EAGER — calling it
   * runs one bounded Spark job (shingle the eval slice, CollectLimit the
   * distinct grams) before the returned DataFrame is ever acted on. The
   * cost is one pass over the eval slice only (small by the contract
   * above); callers that need full laziness can pre-validate and inline
   * the broadcast themselves.
   *
   * Output per training doc: (doc_id, n_grams, n_overlap, contaminated)
   * where contaminated = n_overlap/n_grams >= minRatio (false when the
   * doc is too short to shingle).
   */
  def decontaminate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      evalModulus: Long = 97L,
      minRatio: Double = 0.3,
      n: Int = 3,
      maxEvalGrams: Long = MaxEvalGrams): DataFrame = {
    // Per-doc distinct hash SETS in one narrow typed pass (hashSets
    // dedups through a TreeSet map-side) — no exploded-frame
    // dropDuplicates shuffle, and per-doc gram counts fall out as
    // size(hs) with no aggregation at all. Only the overlap count
    // aggregates, and only over rows surviving the broadcast semi-join.
    val hs = hashSets(df, idCol, textCol, n)
      .graftCached
    val spark = df.sparkSession
    import spark.implicits._
    val isEval = col("id") % evalModulus === 0
    // The guard and the broadcast side are ONE job: CollectLimit the
    // distinct eval gram hashes (bounded — at most maxEvalGrams + 1 rows
    // ever reach the driver), require the bound, and re-ship the
    // collected hashes as a LocalRelation. The main query's broadcast
    // then builds from the local rows instead of re-scanning the eval
    // slice inside the broadcast exchange.
    // limit() takes an Int: clamp the BOUND (not the bound + 1) so a
    // caller-raised maxEvalGrams near Long.MaxValue cannot overflow the
    // + 1 to Long.MinValue (which would truncate to limit(0) and switch
    // the guard off instead of loosening it). Past Int.MaxValue - 1 the
    // guard degrades to its widest expressible check.
    val gramRows = hs.filter(isEval)
      .select(explode(col("hs")).as("h")).distinct()
      .limit((math.min(maxEvalGrams, Int.MaxValue.toLong - 1) + 1).toInt)
      .as[Int].collect()
    require(gramRows.length <= maxEvalGrams,
      s"decontaminate: eval slice has > $maxEvalGrams distinct gram hashes " +
        "— too large for the broadcast contract. Shrink the eval set (it " +
        "should be benchmark-sized, not a corpus fraction) or raise " +
        "maxEvalGrams if executors have the headroom.")
    val evalGrams = gramRows.toSeq.toDF("h")
    val train = hs.filter(!isEval)
    val counts = train.select(col("id"), size(col("hs")).cast("long").as("n_grams"))
    val overlap = train.select(col("id"), explode(col("hs")).as("h"))
      .join(broadcast(evalGrams), Seq("h"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_overlap"))
    df.select(col(idCol).cast("long").as("doc_id"))
      .filter(col("doc_id") % evalModulus =!= 0)
      .join(counts.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .join(overlap.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_grams", "n_overlap"))
      .withColumn("contaminated",
        when(col("n_grams") === 0, lit(false))
          .otherwise(col("n_overlap").cast("double") / col("n_grams") >= minRatio))
      .select("doc_id", "n_grams", "n_overlap", "contaminated")
  }

  /**
   * Multi-benchmark decontamination — [[decontaminate]]'s recurring form:
   * screen a training corpus against N NAMED eval sets at once (a real
   * pipeline checks every shipped benchmark, not one held-out slice) and
   * report WHICH benchmark each contaminated doc leaks, per (doc, set)
   * pair. One corpus pass regardless of the number of sets: the union of
   * all sets' (set_name, gram hash) pairs broadcasts, and a doc's grams
   * join against every set in that single pass.
   *
   * Contract ([[decontaminate]]'s, verbatim): the eval sets are SMALL
   * relative to the corpus. The guard IS the broadcast materialization —
   * one bounded CollectLimit job pulls at most `maxEvalGrams` + 1
   * distinct (set, hash) pairs, refuses an oversized suite LOUD, and the
   * collected pairs become the LocalRelation the main query broadcasts
   * (the eval frame is scanned ONCE). This makes the operator EAGER.
   *
   * Output: (doc_id, set_name, n_grams, n_overlap, contaminated) — one
   * row per (train doc, eval set) WITH OVERLAP (zero-overlap pairs are
   * omitted: at corpus x suite scale the dense matrix is almost all
   * zeros, and absence is exactly "no shared gram"); contaminated =
   * n_overlap / n_grams >= minRatio over the doc's distinct grams.
   */
  def decontaminateAgainst(
      train: DataFrame,
      idCol: String,
      textCol: String,
      evals: DataFrame, // (set_name, text), many rows per set
      setCol: String = "set_name",
      evalTextCol: String = "text",
      minRatio: Double = 0.3,
      n: Int = 3,
      maxEvalGrams: Long = MaxEvalGrams): DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    // Per-set distinct gram hashes in one typed pass over the eval frame
    // (hashSets' md5Hash28 discipline, set-tagged instead of id-tagged).
    val evalPairs = evals
      .select(col(setCol).cast("string"), col(evalTextCol).cast("string"))
      .as[(String, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (setName, text) =>
          graft.functions.TextFunctions
            .shinglesOf(if (text == null) "" else text, n)
            .map(s => (setName, md5Hash28(s, md).toInt))
        }
      }
      .toDF("set_name", "h").distinct()
    val pairRows = evalPairs
      .limit((math.min(maxEvalGrams, Int.MaxValue.toLong - 1) + 1).toInt)
      .as[(String, Int)].collect()
    require(pairRows.length <= maxEvalGrams,
      s"decontaminateAgainst: eval suite has > $maxEvalGrams distinct " +
        "(set, gram) pairs — too large for the broadcast contract. " +
        "Benchmarks are suite-sized; an eval 'set' this big is a corpus.")
    val evalGrams = pairRows.toSeq.toDF("set_name", "h")
    val hs = hashSets(train, idCol, textCol, n).graftCached
    val counts = hs.select(col("id"), size(col("hs")).cast("long").as("n_grams"))
    val overlap = hs.select(col("id"), explode(col("hs")).as("h"))
      .join(broadcast(evalGrams), Seq("h"))
      .groupBy("id", "set_name").agg(count(lit(1)).as("n_overlap"))
    overlap.join(counts, Seq("id"))
      .select(col("id").as("doc_id"), col("set_name"),
        col("n_grams"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_grams") >= minRatio)
          .as("contaminated"))
  }

  /**
   * Chunk-level exact dedup (the fixed-granularity form of exact-substring
   * dedup a la RefinedWeb / "Deduplicating Training Data Makes Language
   * Models Better"): each document is segmented into NON-overlapping
   * windows of `chunkTokens` normalized tokens; any chunk whose
   * corpus-wide occurrence count exceeds `maxDf` is dropped from every
   * document that contains it. Coarser than a suffix-array pass but
   * shuffle-shaped for 100 TB: the corpus moves exactly twice — once
   * hashed by chunk text (groupBy count + join-back; map-side combine
   * collapses a boilerplate mega-chunk to one count row, and AQE
   * skew-splits the probe side of the join-back, so no single task ever
   * receives a hot chunk's full replica set), once by doc id to reassemble
   * the surviving text in order. No reference counterpart (the reference
   * has no corpus operators); chunking runs in the same typed pass shape
   * as [[simhash64]] because Catalyst re-evaluates the words array per
   * lambda element (see TextFunctions.shingles perf caveat).
   *
   * Output per document: (doc_id, n_chunks, n_dup, clean_md5) where n_dup
   * counts dropped chunks and clean_md5 fingerprints the document text
   * rebuilt from the surviving chunks in position order (md5("") when
   * nothing survives or the doc is shorter than one chunk).
   */
  def chunkDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int = 8,
      maxDf: Int = 1): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val chunks = df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val ws = TextFunctions.normalizeScala(if (text == null) "" else text)
          .split(' ')
        val n = ws.length / chunkTokens
        (0 until n).iterator.map { i =>
          (id, i.toLong, ws.slice(i * chunkTokens, (i + 1) * chunkTokens)
            .mkString(" "))
        }
      }
      .toDF("doc_id", "pos", "chunk")
      .graftCached
    dedupChunks(df, idCol, chunks, maxDf)
  }

  /**
   * Shared tail of [[chunkDedup]]/[[chunkDedupCdc]]: corpus-wide chunk
   * occurrence counts and the per-document survivor fingerprint over a
   * (doc_id, pos, chunk) frame (`chunks` must already be persisted — it
   * feeds the count build and the probe).
   *
   * The count is a groupBy + join-back, NOT a count-over-window
   * partitioned by the chunk text: a window funnels EVERY replica of a
   * hot chunk into one task (a boilerplate chunk in 1% of a 100 TB
   * corpus is billions of rows through a single window partition — a
   * straggler no executor count fixes). The two-pass shape instead (the
   * containmentPairs discipline): map-side combine collapses the hot key
   * to one (chunk, count) row in the aggregate, and AQE's skew-join
   * splits the probe-side partition when the join-back shuffle is skewed.
   */
  private def dedupChunks(
      df: DataFrame,
      idCol: String,
      chunks: DataFrame,
      maxDf: Int): DataFrame = {
    val counts = chunks.groupBy("chunk").agg(count(lit(1)).as("df_cnt"))
    aggChunkSurvivors(df, idCol, chunks.join(counts, Seq("chunk")), maxDf)
  }

  /** Per-document rollup over a (doc_id, pos, chunk, df_cnt) frame:
    * chunk totals, dropped-chunk count, and the in-order survivor
    * fingerprint; docs with no chunks fingerprint the empty string.
    * `broadcastAgg` marks the rollup side as broadcastable — true ONLY
    * when the input is batch-bounded (the indexed screen), never for the
    * corpus-sized live paths. */
  private def aggChunkSurvivors(
      df: DataFrame,
      idCol: String,
      counted: DataFrame,
      maxDf: Int,
      broadcastAgg: Boolean = false): DataFrame = {
    val agg0 = counted.groupBy("doc_id").agg(
      count(lit(1)).as("n_chunks"),
      sum(when(col("df_cnt") > maxDf, 1L).otherwise(0L)).as("n_dup"),
      md5(array_join(transform(
        filter(array_sort(collect_list(struct(col("pos"), col("df_cnt"), col("chunk")))),
          s => s.getField("df_cnt") <= maxDf),
        s => s.getField("chunk")), " ")).as("clean_md5"))
    val agg = if (broadcastAgg) broadcast(agg0) else agg0
    df.select(col(idCol).cast("long").as("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
  }

  /**
   * Content-defined-chunking exact-substring dedup — the SHIFT-ROBUST
   * form of [[chunkDedup]]. Fixed non-overlapping windows miss a
   * boilerplate passage that is offset by even one token across documents
   * (every window boundary misaligns); here a chunk boundary is cut after
   * every ANCHOR token — a token whose 28-bit md5 hash is divisible by
   * `divisor` — so boundaries are a function of the CONTENT, not the
   * position: the moment two documents' token streams converge, their
   * very next anchor re-synchronizes the chunking and every subsequent
   * shared chunk is byte-identical (the gear/FastCDC boundary idea from
   * content-defined storage chunking, applied at token granularity; the
   * same content-keyed-boundary principle as winnowing's rightmost-min
   * fingerprint selection, in the simplest deterministic form).
   *
   * Anchors fire with probability 1/divisor per token, so chunks average
   * `divisor` tokens; `maxChunkTokens` force-cuts a run with no anchors
   * (adversarial or low-entropy text), bounding every chunk — and with it
   * the groupBy key width — regardless of input. Same two-shuffle
   * groupBy+join-back skew shape as [[chunkDedup]] via [[dedupChunks]];
   * the token-hash pass reuses the md5-memoized 28-bit hash (one home:
   * [[md5Hash28]]), so the per-partition cost is one cached hash lookup
   * per token.
   *
   * Output per document: (doc_id, n_chunks, n_dup, clean_md5), exactly
   * as [[chunkDedup]]; documents whose normalized text is empty emit no
   * chunks (n_chunks = 0, clean_md5 = md5("")).
   */
  def chunkDedupCdc(
      df: DataFrame,
      idCol: String,
      textCol: String,
      divisor: Int = 8,
      maxChunkTokens: Int = 32,
      maxDf: Int = 1): DataFrame =
    dedupChunks(df, idCol,
      cdcChunks(df, idCol, textCol, divisor, maxChunkTokens).graftCached,
      maxDf)

  /** The CDC chunking pass shared by [[chunkDedupCdc]], [[chunkIndex]],
    * and [[chunkDedupIndexed]]: one typed scan emitting
    * (doc_id, pos, chunk) with content-anchored boundaries. Returned
    * UNCACHED — callers persist when they fan out. */
  private def cdcChunks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      divisor: Int,
      maxChunkTokens: Int): DataFrame = {
    require(divisor > 0, s"cdcChunks: divisor must be positive, got $divisor")
    require(maxChunkTokens > 0,
      s"cdcChunks: maxChunkTokens must be positive, got $maxChunkTokens")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val cache = new java.util.HashMap[String, java.lang.Long]()
        it.flatMap { case (id, text) =>
          chunkDoc(text, divisor, maxChunkTokens, md, cache)
            .iterator.map { case (pos, c) => (id, pos, c) }
        }
      }
      .toDF("doc_id", "pos", "chunk")
  }

  /** The per-document content-defined chunking loop shared by the batch
    * pass ([[cdcChunks]]) and the streaming screen
    * ([[chunkScreenStream]]) — one algorithm, so the two cannot drift.
    * `md`/`cache` are per-partition scratch (md5 memoization). Returns
    * (token position, chunk) pairs; empty for empty/whitespace text. */
  private def chunkDoc(
      text: String,
      divisor: Int,
      maxChunkTokens: Int,
      md: java.security.MessageDigest,
      cache: java.util.HashMap[String, java.lang.Long]): Vector[(Long, String)] = {
    val norm = TextFunctions.normalizeScala(if (text == null) "" else text)
    if (norm.isEmpty) Vector.empty
    else {
      val ws = norm.split(' ')
      val out = Vector.newBuilder[(Long, String)]
      var chunkStart = 0
      var i = 0
      while (i < ws.length) {
        var boxed = cache.get(ws(i))
        if (boxed == null) {
          if (cache.size >= (1 << 20)) cache.clear()
          boxed = java.lang.Long.valueOf(md5Hash28(ws(i), md))
          cache.put(ws(i), boxed)
        }
        val anchor = boxed.longValue() % divisor == 0
        if (anchor || i - chunkStart + 1 == maxChunkTokens ||
            i == ws.length - 1) {
          out += ((chunkStart.toLong, ws.slice(chunkStart, i + 1).mkString(" ")))
          chunkStart = i + 1
        }
        i += 1
      }
      out.result()
    }
  }

  /**
   * Persisted chunk-count index — the exact-substring analogue of
   * [[nearDupIndex]] for RECURRING ingestion: chunk the corpus once with
   * the content-defined pass (so batch and corpus chunkings align
   * regardless of token offsets) and keep one (chunk, df_cnt) row per
   * distinct chunk. Each later batch screens against the stored counts
   * ([[chunkDedupIndexed]]) without re-chunking a single corpus document.
   * Map-side combine collapses hot boilerplate chunks to one count row
   * before the only shuffle.
   *
   * Output: (chunk, df_cnt) — parquet-able; merge multiple epochs by
   * summing df_cnt per chunk (what [[chunkIndexRead]] does for an
   * [[chunkIndexAppend]]-maintained directory).
   */
  def chunkIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      divisor: Int = 8,
      maxChunkTokens: Int = 32): DataFrame =
    cdcChunks(df, idCol, textCol, divisor, maxChunkTokens)
      .groupBy("chunk").agg(count(lit(1)).as("df_cnt"))

  /**
   * [[chunkDedupCdc]] for a batch AGAINST a precomputed [[chunkIndex]]:
   * a batch chunk counts as duplicate when its batch-internal occurrences
   * PLUS its stored corpus count exceed `maxDf` — exactly
   * `chunkDedupCdc(batch UNION corpus)` restricted to the batch docs
   * (the equivalence a spec pins), at the cost of the batch plus ONE
   * column-pruned index scan instead of a corpus re-chunk.
   *
   * Scale shape: the batch's distinct chunks BROADCAST into a semi-join
   * that prunes the index scan map-side — the index (corpus-sized) is
   * scanned but never shuffled; only the pruned survivors (at most the
   * batch's distinct chunk count) join back. Contract: the batch is
   * small relative to the index (the ingestion-screen shape, as
   * [[ingestDedupIndexed]]); a corpus-sized "batch" belongs in
   * [[chunkDedupCdc]] proper. The contract is ENFORCED, not assumed —
   * a bounded CollectLimit count refuses a batch whose distinct chunks
   * exceed `maxBatchChunks` with a loud require instead of an
   * executor-OOMing broadcast (the decontaminate-guard discipline),
   * which makes this operator EAGER: one bounded batch-sized job runs
   * at construction.
   *
   * RETRY NOTE: stored chunk counts carry no document identity, so a
   * doc whose chunks were already appended WILL screen as duplicate
   * against itself on a retried batch — short-circuit already-indexed
   * doc ids first (see [[ingestDedupIndexed]]'s retry note and
   * `app.FullIngestDemo`).
   *
   * Output: (doc_id, n_chunks, n_dup, clean_md5), as [[chunkDedupCdc]].
   * The returned frame embeds `GraftCaches.checkpointCut` results:
   * consume it fully before `GraftCaches.clearAll()` or its scope exits.
   */
  /** Broadcast-contract bound for [[chunkDedupIndexed]]'s batch chunk
    * set: ~4M distinct chunks ≈ a few hundred MB broadcast — past it the
    * "batch" is corpus-shaped and belongs in [[chunkDedupCdc]]. */
  val MaxBatchChunks: Long = 4L * 1000 * 1000

  def chunkDedupIndexed(
      batch: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      divisor: Int = 8,
      maxChunkTokens: Int = 32,
      maxDf: Int = 1,
      maxBatchChunks: Long = MaxBatchChunks): DataFrame = {
    // checkpointCut, not a plain persist (round 18, the deferred half of
    // the screen-chain planning fix): `chunks` re-enters the returned
    // plan through the count build AND the probe side, `bCounts` through
    // the guard, the index semi-prune and the totals join — a persist
    // dedups only EXECUTION, while every reference still drags the full
    // batch subtree through analysis and CacheManager plan matching
    // (profiled as driver seconds per composed screen; the operator sits
    // inside every ingest_screen* diamond). The operator was ALREADY
    // eager via the bounded guard probe below, so the eager cut adds no
    // new semantics; same rows, same MEMORY_AND_DISK level, two-node
    // plan. Cut strategy configurable via spark.graft.lineageCut.mode.
    val chunks = graft.GraftCaches.checkpointCut(
      cdcChunks(batch, idCol, textCol, divisor, maxChunkTokens))
    val bCounts = graft.GraftCaches.checkpointCut(
      chunks.groupBy("chunk").agg(count(lit(1)).as("b_cnt")))
    val found = bCounts
      .limit((math.min(maxBatchChunks, Int.MaxValue.toLong - 1) + 1).toInt)
      .count()
    require(found <= maxBatchChunks,
      s"chunkDedupIndexed: batch has > $maxBatchChunks distinct chunks — " +
        "too large for the broadcast screen contract. Screen in smaller " +
        "batches, or run chunkDedupCdc over batch UNION corpus instead.")
    // Batch chunk set broadcasts; the index scan is pruned map-side and
    // contributes only matching rows — no index shuffle, ever. The
    // pruned survivors are bounded by the batch's distinct chunk count,
    // so THEY broadcast too (no SMJ anywhere in the screen).
    val idxPruned = index
      .join(broadcast(bCounts.select("chunk")), Seq("chunk"), "left_semi")
    val totals = bCounts.join(broadcast(idxPruned), Seq("chunk"), "left")
      .select(col("chunk"),
        (col("b_cnt") + coalesce(col("df_cnt"), lit(0L))).as("df_cnt"))
    aggChunkSurvivors(batch, idCol,
      chunks.join(broadcast(totals), Seq("chunk")), maxDf,
      broadcastAgg = true)
  }

  /**
   * Token-mass novelty of a batch against a persisted [[chunkIndex]] —
   * the CURATION metric the screen family implies but never reports:
   * "how much of this new data does the corpus already cover?" Per
   * batch document, the fraction of its TOKENS lying in CDC chunks the
   * stored index has seen (df_cnt >= 1; batch-internal repeats do NOT
   * count — that is [[chunkDedupIndexed]]'s question). Token mass, not
   * chunk count, because CDC chunks vary in length: a doc with one
   * known 30-token passage and five novel 2-token tails is mostly
   * known, and a chunk-count ratio would say the opposite. A per-batch
   * rollup of `novel_frac` weighted by `n_tokens` is the batch's
   * effective new-data yield — the number an acquisition pipeline
   * actually budgets by.
   *
   * Scale shape: the [[chunkDedupIndexed]] screen contract verbatim —
   * the batch's distinct chunks BROADCAST into a map-side semi-prune of
   * the index scan (the index is scanned, never shuffled), the bounded
   * limit-probe count enforces `maxBatchChunks` LOUD (making the
   * operator eager), and the only row shuffle is the doc-level
   * aggregation of the batch itself. CDC chunking partitions a doc's
   * tokens exactly, so n_tokens equals the doc's normalized token count
   * — the invariant the spec pins.
   *
   * Output: (doc_id, n_tokens, known_tokens, novel_frac), one row per
   * batch doc; novel_frac = (n_tokens - known_tokens) / n_tokens, ONE
   * IEEE division of exact integers (0.0 for an empty doc — no tokens,
   * nothing novel). Like [[chunkDedupIndexed]], the returned frame embeds
   * `GraftCaches.checkpointCut` results: consume it fully before
   * `GraftCaches.clearAll()` or its scope exits.
   */
  def chunkNovelty(
      batch: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      divisor: Int = 8,
      maxChunkTokens: Int = 32,
      maxBatchChunks: Long = MaxBatchChunks): DataFrame = {
    // Same lineage cut as [[chunkDedupIndexed]] (see there): chunks
    // feeds the guard, the known-set prune and the scoring join; the
    // operator is already eager via the bounded guard probe.
    val chunks = graft.GraftCaches.checkpointCut(
      cdcChunks(batch, idCol, textCol, divisor, maxChunkTokens))
    val bChunks = graft.GraftCaches.checkpointCut(
      chunks.select("chunk").distinct())
    val found = bChunks
      .limit((math.min(maxBatchChunks, Int.MaxValue.toLong - 1) + 1).toInt)
      .count()
    require(found <= maxBatchChunks,
      s"chunkNovelty: batch has > $maxBatchChunks distinct chunks — " +
        "too large for the broadcast screen contract. Score in smaller " +
        "batches.")
    // Distinct pruned survivors (bounded by the batch chunk set), not
    // counts: presence is the novelty question.
    val known = index
      .join(broadcast(bChunks), Seq("chunk"), "left_semi")
      .select("chunk").distinct()
      .withColumn("known", lit(true))
    val perDoc = chunks
      .withColumn("tok", size(split(col("chunk"), " ")).cast("long"))
      .join(broadcast(known), Seq("chunk"), "left")
      .groupBy("doc_id")
      .agg(sum("tok").as("n_tokens"),
        sum(when(col("known"), col("tok")).otherwise(0L)).as("known_tokens"))
    batch.select(col(idCol).cast("long").as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("known_tokens"), lit(0L)).as("known_tokens"),
        when(coalesce(col("n_tokens"), lit(0L)) > 0L,
          (col("n_tokens") - col("known_tokens")).cast("double") /
            col("n_tokens").cast("double"))
          .otherwise(lit(0.0)).as("novel_frac"))
  }

  /**
   * IDEMPOTENT chunk-index maintenance: write `batch`'s [[chunkIndex]]
   * rows under `indexPath` as the named epoch `batchId`; re-appending the
   * same `batchId` is a no-op (chunk counts carry no document identity,
   * so idempotence here is BY EPOCH NAME — the retry contract a crashed
   * ingestion loop needs, like [[indexAppend]]'s by-doc-id one). Each
   * epoch lands in its own `batch_id=` partition; [[chunkIndexRead]]
   * merges them by summing counts per chunk (compact epochs offline when
   * the partition count grows).
   *
   * Returns the number of distinct chunks written for a NEWLY committed
   * epoch (0 = legal empty batch that still recorded its epoch), or -1
   * when the epoch was already committed and the write was skipped — the
   * two zero-progress cases are distinguishable, so an ingestion audit
   * can tell a retry no-op from real empty-batch progress.
   */
  def chunkIndexAppend(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      batchId: String,
      divisor: Int = 8,
      maxChunkTokens: Int = 32): Long = {
    // Marker/overwrite choreography shared with the span family —
    // crash-debris repair and empty-epoch semantics live in EpochStore.
    EpochStore.append(batch.sparkSession, indexPath, batchId,
      "chunkIndexAppend")(
      chunkIndex(batch, idCol, textCol, divisor, maxChunkTokens))
  }

  /** (chunk, df_cnt) — the stored epoch row shape, given explicitly on
    * read so an index whose only epoch is empty still resolves. */
  private val chunkIndexSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField(
      "chunk", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField(
      "df_cnt", org.apache.spark.sql.types.LongType)))

  /** Merge an [[chunkIndexAppend]]-maintained directory into the single
    * (chunk, df_cnt) frame [[chunkDedupIndexed]] consumes — the
    * committed-snapshot merge ([[EpochStore.read]] contracts: crash
    * debris invisible, stable under this session's own later appends,
    * which [[Ingest.ingestBatch]]'s cached decisions rely on). */
  def chunkIndexRead(spark: org.apache.spark.sql.SparkSession, indexPath: String): DataFrame =
    EpochStore.read(spark, indexPath, chunkIndexSchema, "chunk", "df_cnt")

  /**
   * Streaming twin of [[chunkDedupIndexed]]: screen a STREAM of documents
   * against a persisted chunk-count index (a static [[chunkIndexRead]]
   * snapshot). Per-doc chunking is the SAME [[chunkDoc]] loop as the
   * batch pass, then a stream-static left join on the chunk column and
   * ONE built-in event-time aggregation per doc — group by (doc_id, ts)
   * under the watermark; all of a doc's chunks carry its single event
   * time, so the group IS the doc. Output (append mode, emitted once the
   * watermark passes the doc's event time):
   * (doc_id, ts, n_chunks, n_dup).
   *
   * DELIBERATE semantic differences from the batch screen, documented
   * rather than papered over:
   *  - no batch-internal term: [[chunkDedupIndexed]]'s df = batch count
   *    + stored count includes intra-batch duplication — a batch concept
   *    with no continuous analogue. Here a chunk is duplicated iff its
   *    STORED count alone exceeds `maxDf - 1` (cross-stream duplicate
   *    detection with real cross-doc state is [[nearDupStream]]'s job);
   *  - the index is the STATIC side of a stream-static join: epochs
   *    appended after query start are not observed until restart. The
   *    batch-per-epoch loop ([[graft.functions.Ingest.ingestBatch]])
   *    remains the intended shape for index MAINTENANCE; this operator
   *    is the low-latency read path over the same artifact.
   *
   * There is intentionally NO custom stateful processor: the screen
   * keeps no cross-doc state — a stateless enrich plus one built-in
   * aggregation — so one would only re-implement the aggregation's
   * watermark bookkeeping (contrast [[nearDupStream]], whose bucket
   * memory is genuinely cross-doc).
   */
  def chunkScreenStream(
      df: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String,
      watermark: String,
      divisor: Int = 8,
      maxChunkTokens: Int = 32,
      maxDf: Int = 1): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val chunks = df
      .select(col(idCol).cast("long"), col(textCol),
        col(tsCol).cast("timestamp"))
      .as[(Long, String, java.sql.Timestamp)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val cache = new java.util.HashMap[String, java.lang.Long]()
        it.flatMap { case (id, text, ts) =>
          val cs = chunkDoc(text, divisor, maxChunkTokens, md, cache)
          // A zero-chunk doc still reports (n_chunks = 0): one
          // null-chunk row the count() below ignores.
          if (cs.isEmpty) Iterator.single((id, ts, null: String))
          else cs.iterator.map { case (_, c) => (id, ts, c) }
        }
      }
      .toDF("doc_id", "ts", "chunk")
      .withWatermark("ts", watermark)
    chunks
      .join(index.select(col("chunk"), col("df_cnt").as("stored_cnt")),
        Seq("chunk"), "left")
      .groupBy(col("doc_id"), col("ts"))
      .agg(
        count(col("chunk")).as("n_chunks"),
        sum(when(coalesce(col("stored_cnt"), lit(0L)) + 1 > maxDf, 1L)
          .otherwise(0L)).as("n_dup"))
      .select("doc_id", "ts", "n_chunks", "n_dup")
  }

  /**
   * Compact an epoch-partitioned chunk index into a single-epoch COPY at
   * `destPath` (one `batch_id=compacted` partition holding the summed
   * counts): bounds [[chunkIndexRead]]'s merge cost after many appends.
   * Deliberately NOT in-place — parquet directory swaps are not atomic
   * on object stores, so the caller flips the path in its own metadata
   * once the copy lands (and may then delete the old directory). The
   * destination accepts further [[chunkIndexAppend]] epochs as usual.
   * Returns the number of distinct chunks written.
   */
  def chunkIndexCompact(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      destPath: String): Long =
    // Same per-epoch write shape as chunkIndexAppend, so the compacted
    // epoch carries its own _SUCCESS marker.
    EpochStore.compact(spark, indexPath, destPath, "chunkIndexCompact")(
      chunkIndexRead)

  /**
   * The shared precondition of the copy-not-in-place index compactions
   * ([[chunkIndexCompact]], [[nearDupIndexCompact]], `IVF.indexCompact`,
   * `PQ.indexCompact`): source and destination, compared as QUALIFIED
   * paths ("/data/idx" vs "/data/idx/" or a relative spelling must not
   * slip past a raw string compare), must be distinct and non-nested.
   * In-place would `mode("overwrite")`-delete the very data the
   * (evictable) cached merge still needs to rescan; a dest UNDER the
   * source plants a stray directory inside the index tree (corrupting
   * epoch/partition discovery, or read as data rows by a flat-directory
   * scan); a source under the dest would be clobbered by the dest write.
   */
  private[functions] def requireDisjointPaths(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String,
      destPath: String,
      op: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(srcPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = fs.makeQualified(new org.apache.hadoop.fs.Path(srcPath))
    val dst = fs.makeQualified(new org.apache.hadoop.fs.Path(destPath))
    def isAncestor(a: org.apache.hadoop.fs.Path,
        b: org.apache.hadoop.fs.Path): Boolean = {
      var p = b.getParent
      while (p != null) { if (p == a) return true; p = p.getParent }
      false
    }
    require(src != dst,
      s"$op: dest must differ from source (no in-place swap)")
    require(!isAncestor(src, dst) && !isAncestor(dst, src),
      s"$op: source ($src) and dest ($dst) must not nest — " +
        "a dest under the source corrupts the index tree; " +
        "a source under the dest would be overwritten")
  }

  /**
   * Compact a flat [[indexAppend]]-maintained near-dup index into a
   * bounded-file-count COPY at `destPath`: every append lands its own
   * parquet files, so after thousands of ingestion batches the index
   * directory holds thousands of small files and every screen — which
   * reads the FULL sig+hs index — pays file listing, footer reads, and
   * tiny row groups instead of data. Folding n rows into
   * ceil(n / maxRowsPerFile) files restores scan-sized files without
   * touching a single signature.
   *
   * Same posture as [[chunkIndexCompact]]: deliberately NOT in-place
   * (parquet directory swaps are not atomic on object stores) — the
   * caller flips the path once the copy lands, or lets
   * [[graft.functions.Ingest.ingestBatch]]'s managed generation layout
   * do the flip. The destination accepts further [[indexAppend]]s as
   * usual, and by-doc-id idempotence is preserved because the copy
   * carries every indexed id. The fold is a `coalesce`, not a
   * `repartition` — a file-count bound needs no shuffle.
   *
   * Returns the number of index rows written.
   */
  def nearDupIndexCompact(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      destPath: String,
      maxRowsPerFile: Long = 1L << 20): Long = {
    require(maxRowsPerFile > 0,
      s"nearDupIndexCompact: maxRowsPerFile must be positive ($maxRowsPerFile)")
    requireDisjointPaths(spark, indexPath, destPath, "nearDupIndexCompact")
    require(hasCommittedParquet(spark, indexPath),
      s"nearDupIndexCompact: no committed index at $indexPath — " +
        "compacting an empty or mid-bootstrap index is a caller bug")
    val rows = spark.read.parquet(indexPath).graftCached
    val n = rows.count()
    val files = math.max(1L, (n + maxRowsPerFile - 1) / maxRowsPerFile).toInt
    rows.coalesce(files).write.mode("overwrite").parquet(destPath)
    n
  }

  /**
   * Bigram language-model scoring (the CCNet/Gopher-style "does this text
   * look like the corpus" quality signal, with the LM trained on the
   * corpus itself): P(w2|w1) is estimated from corpus bigram counts and
   * each document scores the sum of its bigrams' conditional
   * probabilities. All arithmetic is exact-integer — each probability is
   * quantized to micro-units with integer division
   * (1e6 * count(w1,w2) div count(w1)) and summed as longs — so the score
   * is bit-identical across engines and row orders (a float log-prob sum
   * would hash-diverge on partial-aggregation order).
   *
   * Scale shape: the bigram frame moves once to build the count table
   * (map-side-combining groupBy; the prefix table derives from the count
   * table, not the corpus), once to join probabilities back (AQE
   * broadcasts the vocab-sized table when small), once by doc id for the
   * final sum.
   */
  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bg = df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val ws = TextFunctions.normalizeScala(if (text == null) "" else text)
          .split(' ')
        (1 until ws.length).iterator.map(i => (id, ws(i - 1), ws(i)))
      }
      .toDF("doc_id", "w1", "w2")
      .graftCached
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
    val pr = c2.join(c1, "w1")
      .withColumn("p_micro", expr("(1000000 * c2) div c1"))
      .select("w1", "w2", "p_micro")
    val scored = bg.join(pr, Seq("w1", "w2"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        sum("p_micro").as("lm_score_micro"))
    df.select(col(idCol).cast("long").as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_score_micro"), lit(0L)).as("lm_score_micro"))
  }
}
