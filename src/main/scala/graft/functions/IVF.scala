package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftCaches.Cacheable

/**
 * IVF (inverted-file) approximate nearest neighbor: a coarse k-means
 * quantizer partitions the corpus into nlist cells; queries probe only the
 * nprobe nearest cells, then rank exactly within them. The other classic
 * ANN scale path next to hyperplane LSH (`Vectors.lshTopK`) — IVF adapts
 * to the data distribution where LSH is oblivious.
 *
 * Centroids train on a bounded driver-side sample (deterministic seeding:
 * evenly-strided start points, fixed Lloyd iterations — no RNG), then ship
 * to executors as a broadcast; assignment is a tight mapPartitions argmin.
 * At 100 TB the sample bound keeps training O(sample * nlist * iters) on
 * the driver while the corpus-side work stays one scan + one shuffle by
 * cell id.
 */
object IVF {

  /**
   * The √n-style cell-count default (FAISS's guidance is nlist ≈ k·√n):
   * cells stay ~√n in expected size, so SemDeDup's in-cell O(Σcell²)
   * comparison and ivfTopK's per-cell probe cost both stay bounded as the
   * corpus grows, WITHOUT caller tuning. Clamped to [16, 1024]: below 16
   * cells the quantizer stops pruning anything; 1024 is [[DriverTrainCap]]
   * — the default stays on the driver-side Lloyd path, whose
   * hash-systematic sample and sample-order mean accumulation make the
   * centroids bit-deterministic (the property the literal-replay oracles
   * check). Callers at true 100 TB ANN scale (nlist ≈ 10⁵–10⁶) pass nlist
   * explicitly and [[trainCentroids]] switches to the EXECUTOR-SIDE Lloyd
   * iteration ([[lloydDistributed]]): same algorithm, full-corpus
   * assignment, driver cost O(nlist·dim) — deterministic only up to
   * floating-point reduction order, which is why the default does not
   * auto-scale past the cap. Never exceeds n (Lloyd needs at least one
   * sample vector per cell).
   */
  def autoNlist(n: Long): Int = {
    val capped = math.min(DriverTrainCap.toLong,
      math.max(16L, math.sqrt(n.toDouble).toLong))
    math.max(1L, math.min(n, capped)).toInt
  }

  /** Largest nlist trained by the bit-deterministic driver-side Lloyd;
    * above it [[trainCentroids]] runs [[lloydDistributed]] on executors. */
  val DriverTrainCap = 1024

  /**
   * Loud ceiling on the centroid-table size — the [[Spans.MaxBatchSpans]]
   * posture applied to the quantizer: every train/search path collects
   * the nlist centroids to the driver and broadcasts them back, an
   * O(nlist·dim) cost that is MODEL-sized by design. The auto path caps
   * itself at [[DriverTrainCap]], but an explicit caller nlist was
   * previously unbounded — at nlist 10⁷ the "bounded collect" silently
   * becomes a multi-GB driver pull and broadcast. 2²⁰ cells (FAISS-scale
   * practical upper end; ~0.5 GB of centroids at dim 64, ~8 GB at dim
   * 1024) is where the single-quantizer design itself stops being the
   * right tool: past it, shard the corpus, train a quantizer per shard,
   * and merge/re-cluster the per-shard centroids (sharded k-means) —
   * that keeps every driver structure proportional to ONE shard's model,
   * not the corpus.
   */
  val MaxNlist: Int = 1 << 20

  /** Accumulator-size crossover for [[lloydDistributed]]: above this many
    * k·dim entries (4M doubles ≈ 32 MB/task) the per-task accumulator
    * switches from the dense k×dim array to a sparse touched-cells map,
    * removing the accumulator-side nlist ceiling. */
  val SparseAccumCells: Long = 1L << 22

  /** Probe-count default preserving the classic 6-of-16 probe fraction
    * (~3/8 of cells) as nlist auto-scales, clamped to [6, 64] — beyond 64
    * probes the exact re-rank dominates and recall gains flatten. */
  def autoNprobe(nlist: Int): Int =
    math.max(6, math.min(64, (nlist * 3 + 7) / 8))

  /** Resolve a caller-supplied nlist: 0 means auto (√n from ONE bounded
    * count of the corpus — the same count both the query side and the
    * oracle-literal side run, so they cannot disagree). */
  private[graft] def resolveNlist(vectors: DataFrame, nlist: Int): Int =
    if (nlist > 0) nlist else autoNlist(vectors.count())

  /** Deterministic Lloyd k-means over a driver-side sample.
   *
   * The sample is the first `sampleN` vectors in MD5-of-id order — a
   * deterministic, RNG-free systematic sample that is UNCORRELATED with
   * id order (first-N-by-id is biased whenever ids track content: crawl
   * order, shard order). Spark executes the hash order as a TakeOrdered
   * (per-partition top-N, no global sort), so the sampling pass stays one
   * scan at any corpus size. `sampleN = 0` (the default) scales the
   * sample with the cell count — max(2048, 8·nlist) — so every cell sees
   * a few training vectors even at the auto-scaled nlist ceiling.
   */
  def trainCentroids(
      vectors: DataFrame, // (vec_id, embedding)
      nlist: Int,
      iters: Int = 10,
      sampleN: Int = 0): Array[Array[Double]] = {
    require(nlist <= MaxNlist,
      s"trainCentroids: nlist=$nlist exceeds MaxNlist=$MaxNlist — the " +
        "centroid table is collected to the driver and broadcast on " +
        "every train/search path, so it must stay model-sized; for a " +
        "corpus that wants more cells, shard it, train per shard, and " +
        "merge the per-shard centroids (sharded k-means)")
    // An EXPLICIT sampleN pins the bounded, bit-deterministic driver
    // path at any nlist (the caller asked for exactly that sample, e.g.
    // to feed literal-replay oracles); only the default routes past the
    // cap to the executor-side iteration — silently discarding a
    // caller's sampleN would switch both the cost model and the
    // determinism guarantee under them.
    if (nlist > DriverTrainCap && sampleN == 0)
      lloydDistributed(vectors, nlist, iters)
    else {
      val s = if (sampleN > 0) sampleN else math.max(2048, 8 * nlist)
      lloyd(sampleVectors(vectors, s), nlist, iters)
    }
  }

  /**
   * Executor-side Lloyd for nlist past [[DriverTrainCap]]: each iteration
   * broadcasts the centroids, accumulates per-partition partial sums
   * (map-side combine — one dense k×dim accumulator + count array per
   * task, no per-row shuffle rows at all), and tree-reduces them to the
   * driver (`treeAggregate`, depth 2, so the driver merges O(√partitions)
   * pre-combined blocks instead of one per partition). No new shuffle
   * shape: the corpus moves zero times per iteration — only k×dim partial
   * sums do.
   *
   * Driver memory is O(nlist·dim) for the centroids and one merged
   * accumulator — at nlist 10⁵, dim 64: ~50 MB — never O(corpus); the
   * init sample (min(8·nlist, n) vectors in MD5-of-id order with the same
   * strided pick as the driver path, so both paths start from identical
   * centroids) is the only corpus-derived driver materialization,
   * O(min(8·nlist, n)·dim).
   *
   * Per-TASK memory: below [[SparseAccumCells]] accumulator entries
   * (k·dim) each task carries the dense k×dim array; above it, the
   * accumulator switches to a sparse per-cell map holding ONLY the cells
   * that partition actually touched — bounded by min(k, partition rows),
   * so there is no nlist ceiling from the accumulator side: a partition
   * of 10⁶ rows at dim 64 tops out at ~500 MB only if it genuinely
   * touches 10⁶ distinct cells, and shrinks with locality (clustered
   * data touches few cells per partition). The merged driver-side result
   * is densified once per iteration (O(k·dim), as documented above).
   *
   * Determinism: assignment argmin ties and init are deterministic, but
   * the partial-sum merge order follows task completion, so centroids are
   * reproducible only up to floating-point addition order — the reason
   * [[autoNlist]] never auto-selects this path (oracle queries need the
   * bit-deterministic driver training).
   */
  private[functions] def lloydDistributed(
      vectors: DataFrame,
      k: Int,
      iters: Int,
      sparseCells: Long = SparseAccumCells): Array[Array[Double]] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val data = vectors.select(col("embedding"))
      .as[Seq[Float]]
      .rdd
      .map(_.toArray.map(_.toDouble))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Identical init to the driver path: strided pick over the
      // hash-systematic sample (same sample-size formula), so the two
      // paths differ only in WHAT the iterations assign (full corpus
      // here, the bounded sample there), not where they start.
      val s = math.min(math.max(2048L, 8L * k), Int.MaxValue.toLong).toInt
      val sample = sampleVectors(vectors, s)
      require(sample.length >= k,
        s"lloydDistributed: corpus has ${sample.length} vectors < k $k")
      val stride = sample.length / k
      var centroids = Array.tabulate(k)(i => sample(i * stride).clone())
      val dim = centroids.head.length
      val useSparse = k.toLong * dim > sparseCells
      var it = 0
      while (it < iters) {
        val bc = spark.sparkContext.broadcast(centroids)
        val (sums, counts) =
          if (useSparse) sparseStep(data, bc, k, dim)
          else denseStep(data, bc, k, dim)
        centroids = Array.tabulate(k) { j =>
          if (counts(j) == 0) centroids(j) else sums(j).map(_ / counts(j))
        }
        bc.destroy()
        it += 1
      }
      centroids
    } finally data.unpersist(blocking = false)
  }

  /** Dense per-task accumulator (k×dim + k longs per task). */
  private def denseStep(
      data: org.apache.spark.rdd.RDD[Array[Double]],
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      k: Int,
      dim: Int): (Array[Array[Double]], Array[Long]) =
    data.treeAggregate(
      (Array.ofDim[Double](k, dim), new Array[Long](k)))(
      seqOp = { case (acc @ (s, c), v) =>
        val ci = nearest(v, bc.value)
        c(ci) += 1
        var d = 0
        while (d < dim) { s(ci)(d) += v(d); d += 1 }
        acc
      },
      combOp = { case ((s1, c1), (s2, c2)) =>
        var j = 0
        while (j < k) {
          c1(j) += c2(j)
          var d = 0
          while (d < dim) { s1(j)(d) += s2(j)(d); d += 1 }
          j += 1
        }
        (s1, c1)
      },
      depth = 2)

  /** Sparse per-task accumulator: one (dim+1)-slot array per TOUCHED
    * cell (sums + count in the last slot), merged big-absorbs-small;
    * densified once on the driver. Same arithmetic as [[denseStep]] up
    * to floating-point merge order. */
  private def sparseStep(
      data: org.apache.spark.rdd.RDD[Array[Double]],
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      k: Int,
      dim: Int): (Array[Array[Double]], Array[Long]) = {
    val acc = data.treeAggregate(
      scala.collection.mutable.HashMap.empty[Int, Array[Double]])(
      seqOp = { (m, v) =>
        val ci = nearest(v, bc.value)
        val a = m.getOrElseUpdate(ci, new Array[Double](dim + 1))
        var d = 0
        while (d < dim) { a(d) += v(d); d += 1 }
        a(dim) += 1
        m
      },
      combOp = { (m1, m2) =>
        val (big, small) = if (m1.size >= m2.size) (m1, m2) else (m2, m1)
        small.foreach { case (ci, a2) =>
          big.get(ci) match {
            case Some(a1) =>
              var d = 0
              while (d <= dim) { a1(d) += a2(d); d += 1 }
            case None => big.update(ci, a2)
          }
        }
        big
      },
      depth = 2)
    val sums = Array.ofDim[Double](k, dim)
    val counts = new Array[Long](k)
    acc.foreach { case (ci, a) =>
      var d = 0
      while (d < dim) { sums(ci)(d) = a(d); d += 1 }
      counts(ci) = a(dim).toLong
    }
    (sums, counts)
  }

  /** The bounded hash-systematic training sample, in MD5-of-id order. */
  private[functions] def sampleVectors(
      vectors: DataFrame, sampleN: Int): Array[Array[Double]] =
    vectors.select(col("vec_id"), col("embedding"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(sampleN)
      .collect()
      .map(_.getSeq[Float](1).toArray.map(_.toDouble))

  /** Deterministic Lloyd iterations: strided init, argmin with
    * lowest-index ties, means accumulated in sample order. */
  private[functions] def lloyd(
      sample: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    require(sample.length >= k, s"sample ${sample.length} < k $k")
    val dim = sample.head.length
    val stride = sample.length / k
    var centroids = Array.tabulate(k)(i => sample(i * stride).clone())
    (0 until iters).foreach { _ =>
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        val c = nearest(v, centroids)
        counts(c) += 1
        var d = 0
        while (d < dim) { sums(c)(d) += v(d); d += 1 }
      }
      centroids = Array.tabulate(k) { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }
    }
    centroids
  }

  /**
   * The trained centroids as DuckDB `VALUES (cid, [c0, ...])` rows. The
   * training is deterministic (hash-systematic sample, strided init,
   * fixed Lloyd iterations — no RNG), so the full IVF pipeline is
   * value-checkable in SQL by embedding the centroids as literals, the
   * same move as `Vectors.planeCoefsSqlValues` for the (data-independent)
   * LSH planes — here the literals are rendered at oracle-dump time from
   * the same data the query reads. `Double.toString` emits the shortest
   * round-tripping decimal, which DuckDB parses back to the identical
   * bits, so SQL-side distances replay bit-for-bit.
   */
  def centroidsSqlValues(
      vectors: DataFrame,
      nlist: Int = 0,
      iters: Int = 10,
      sampleN: Int = 0): String =
    trainCentroids(vectors, resolveNlist(vectors, nlist), iters, sampleN)
      .zipWithIndex.map {
        case (c, i) => s"($i, ${c.mkString("[", ", ", "]")})"
      }.mkString(", ")

  private def l2sq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  private[functions] def nearest(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cs.length) {
      val d = l2sq(v, cs(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private[functions] def nearestK(v: Array[Double], cs: Array[Array[Double]], k: Int): Seq[Int] =
    cs.indices.sortBy(c => l2sq(v, cs(c))).take(k)

  /** Assign each vector to its `probes` nearest cells (1 for corpus). */
  private def assign(df: DataFrame, centroids: Array[Array[Double]], probes: Int,
      idName: String, vecName: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    df.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .flatMap { case (id, emb) =>
        val v = emb.toArray.map(_.toDouble)
        // Dim mismatch must fail LOUD here, not corrupt silently: l2sq
        // iterates the query vector, so a shorter vector would be
        // assigned a cell from a prefix comparison (silent index
        // corruption on an indexAppend path) and a longer one would
        // throw an opaque ArrayIndexOutOfBoundsException.
        require(v.length == bc.value(0).length,
          s"IVF: embedding dim ${v.length} of vec_id=$id does not match " +
            s"quantizer dim ${bc.value(0).length}")
        nearestK(v, bc.value, probes).map(c => (id, c, emb))
      }
      .toDF(idName, "cell", vecName)
  }

  /**
   * IVF top-k: corpus assigned to 1 cell, queries probe `nprobe` cells,
   * exact cosine rank within the probed cells.
   * Output: (query_id, cand_id, cos, rank).
   */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nlist: Int = 0, // 0 = auto: √n cells (see autoNlist)
      nprobe: Int = 0): DataFrame = { // 0 = auto: ~3/8 of cells (autoNprobe)
    // Query side is broadcast after cell assignment — small by contract.
    Vectors.requireSmallQuerySide(queries, "ivfTopK")
    val nl = resolveNlist(corpus, nlist)
    val np = if (nprobe > 0) nprobe else autoNprobe(nl)
    val centroids = trainCentroids(corpus, nl)
    val c = assign(corpus, centroids, 1, "cand_id", "cv")
      .withColumn("cn", Vectors.norm(col("cv")))
    val q = assign(queries, centroids, np, "query_id", "qv")
      .withColumn("qn", Vectors.norm(col("qv")))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .dropDuplicates("query_id", "cand_id")
      .withColumn("cos",
        round(Vectors.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
    // Two-phase rank (ops.TopN): the probed cells hold ~nprobe/nlist of
    // the corpus PER QUERY — a bare window would sort that fraction of
    // 100 TB in one task per query.
    graft.ops.TopN.topKByQuery(scored, "query_id", "cand_id", "cos", k)
  }

  /**
   * Persisted IVF index — the ANN analogue of `Dedup.nearDupIndex` /
   * `Dedup.chunkIndex` for RECURRING query batches: [[ivfTopK]] re-trains
   * the quantizer and re-assigns the whole corpus on EVERY call, which at
   * 100 TB makes the recurring corpus-side cost (not the probe) dominate.
   * Build once instead: `centroids` is the trained quantizer ((cell,
   * centroid) — nlist rows, tiny), `vectors` the corpus assignment
   * ((vec_id, cell, embedding, norm) — one row per vector, parquet-able,
   * naturally partitionable by cell so a probe prunes at the file level).
   * Each query batch then pays only its own assignment plus the probed
   * cells' join — the corpus is never re-scanned for training or
   * assignment, and the stored norm saves the per-screen recompute.
   */
  final case class IvfIndex(centroids: DataFrame, vectors: DataFrame) {
    /** Persist both frames under `path` (centroids/, vectors/). */
    def write(path: String): Unit = {
      centroids.write.mode("overwrite").parquet(path + "/centroids")
      vectors.write.mode("overwrite").parquet(path + "/vectors")
    }
  }

  object IvfIndex {
    /** Read a persisted index: either a flat [[IvfIndex.write]] directory
      * or an [[Ingest.ingestBatch]]-managed root, resolved to its active
      * generation by [[graft.sources.ManagedRoot.resolve]] (a damaged
      * pointer fails loud), so readers keep working across compaction
      * rolls; the just-superseded generation survives one roll as the
      * in-flight-reader grace window. */
    def read(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
      val dir = graft.sources.ManagedRoot.resolve(spark, path)
      IvfIndex(
        spark.read.parquet(dir + "/centroids"),
        spark.read.parquet(dir + "/vectors"))
    }
  }

  /** Train the quantizer (driver path below [[DriverTrainCap]],
    * executor-side Lloyd above) and assign every corpus vector to its
    * cell — the one-time cost [[ivfTopKIndexed]] amortizes. */
  def buildIvfIndex(corpus: DataFrame, nlist: Int = 0): IvfIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val nl = resolveNlist(corpus, nlist)
    val cents = trainCentroids(corpus, nl)
    val centDf = cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "centroid")
    val vecs = assign(corpus, cents, 1, "vec_id", "embedding")
      .withColumn("norm", Vectors.norm(col("embedding")))
    IvfIndex(centDf, vecs)
  }

  /**
   * IDEMPOTENT vector-index maintenance (the [[graft.functions.Dedup.indexAppend]]
   * contract for [[IvfIndex]]): assign `batch` with the STORED quantizer,
   * anti-join already-indexed vec_ids (column-pruned id scan), append
   * only novel rows to `<indexPath>/vectors`. Re-appending the same
   * batch is a no-op, so a crashed ingestion loop's retry cannot
   * double-index (a double-indexed vector would match itself at cos 1.0
   * in every later screen).
   *
   * The quantizer is NOT retrained: appended vectors land in the
   * original cells, which keeps every screen consistent but lets cell
   * balance drift as the distribution shifts — rebuild the index
   * ([[buildIvfIndex]]) once appended volume approaches the trained
   * corpus's.
   *
   * Returns rows actually appended (0 = pure no-op).
   */
  def indexAppend(batch: DataFrame, indexPath: String): Long = {
    val spark = batch.sparkSession
    val cents = spark.read.parquet(indexPath + "/centroids").orderBy("cell")
      .select("centroid").collect().map(_.getSeq[Double](0).toArray)
    require(cents.nonEmpty, s"indexAppend: no centroids at $indexPath")
    val fresh = assign(batch, cents, 1, "vec_id", "embedding")
      .withColumn("norm", Vectors.norm(col("embedding")))
      .graftCached
    val existing = spark.read.parquet(indexPath + "/vectors").select("vec_id")
    val novel = fresh.join(existing, Seq("vec_id"), "left_anti").graftCached
    val appended = novel.count()
    // Right-sized files (see Dedup.indexAppend): growth in batches, not
    // partitions; [[indexCompact]] folds the long tail.
    if (appended > 0)
      novel.coalesce(Dedup.boundedFileCount(appended))
        .write.mode("append").parquet(indexPath + "/vectors")
    appended
  }

  /**
   * Compact an [[indexAppend]]-grown index into a COPY at `destPath`:
   * every append lands its own parquet files under `<path>/vectors`, so
   * a long-running ingestion loop accumulates thousands of small files
   * and every probe pays listing + footer overhead instead of data. The
   * quantizer (nlist rows) is copied verbatim; the assignment rows are
   * folded into ceil(n / maxRowsPerFile) files, range-partitioned and
   * sorted by `cell` so each row group's min/max statistics cover a
   * narrow cell interval — same-cell rows land adjacent (scan locality
   * for the probed-cells join), and any reader that pushes a cell
   * predicate skips non-probed row groups outright.
   *
   * Copy-not-in-place like the whole compaction family
   * ([[graft.functions.Dedup.nearDupIndexCompact]]): the caller flips
   * the path once the copy lands. The destination accepts further
   * [[indexAppend]]s, and by-vec-id idempotence is preserved (the copy
   * carries every indexed id). Returns the number of vector rows written.
   */
  def indexCompact(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      destPath: String,
      maxRowsPerFile: Long = 1L << 20): Long = {
    require(maxRowsPerFile > 0,
      s"IVF.indexCompact: maxRowsPerFile must be positive ($maxRowsPerFile)")
    Dedup.requireDisjointPaths(spark, indexPath, destPath, "IVF.indexCompact")
    val vecs = spark.read.parquet(indexPath + "/vectors").graftCached
    val n = vecs.count()
    val files = math.max(1L, (n + maxRowsPerFile - 1) / maxRowsPerFile).toInt
    spark.read.parquet(indexPath + "/centroids")
      .write.mode("overwrite").parquet(destPath + "/centroids")
    vecs.repartitionByRange(files, col("cell"))
      .sortWithinPartitions("cell")
      .write.mode("overwrite").parquet(destPath + "/vectors")
    n
  }

  /**
   * [[ivfTopK]] against a PRECOMPUTED [[IvfIndex]]: the stored quantizer
   * is collected (nlist rows), the query batch alone is assigned to its
   * `nprobe` cells and broadcast, and the probed cells join from the
   * stored assignment — identical semantics and values to the live path
   * (the quantizer IS the live path's, by construction; a spec pins
   * equality through a parquet round trip). Per-batch cost: one bounded
   * centroid collect + the batch assignment + the cell join. Same
   * two-phase rank, same small-query-side guard.
   */
  def ivfTopKIndexed(
      queries: DataFrame,
      index: IvfIndex,
      k: Int,
      nprobe: Int = 0): DataFrame = {
    Vectors.requireSmallQuerySide(queries, "ivfTopKIndexed")
    val cents = index.centroids.orderBy("cell")
      .select("centroid").collect().map(_.getSeq[Double](0).toArray)
    require(cents.nonEmpty, "ivfTopKIndexed: index has no centroids")
    val np = if (nprobe > 0) nprobe else autoNprobe(cents.length)
    val c = index.vectors.select(col("vec_id").as("cand_id"), col("cell"),
      col("embedding").as("cv"), col("norm").as("cn"))
    val q = assign(queries, cents, np, "query_id", "qv")
      .withColumn("qn", Vectors.norm(col("qv")))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .dropDuplicates("query_id", "cand_id")
      .withColumn("cos",
        round(Vectors.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
    graft.ops.TopN.topKByQuery(scored, "query_id", "cand_id", "cos", k)
  }

  /**
   * Range (radius) search over the persisted index — the recurring-batch
   * form of [[graft.functions.Vectors.rangeSearch]]: every stored vector
   * in a query's probed cells with cosine >= `minCos`. Same probe
   * machinery as [[ivfTopKIndexed]] (stored quantizer, stored norms, cell
   * join prunes the scan to ~nprobe/nlist of the corpus per query) but no
   * rank at all — the threshold filter runs inside the cell-join codegen
   * stage, so the only shuffle-shaped work is the pair dedup across a
   * query's probed cells. Approximate exactly like IVF top-k is: an
   * in-range vector in an unprobed cell is missed; raise `nprobe` to
   * trade scan for recall.
   *
   * Output: (query_id, cand_id, cos), one row per in-range pair found in
   * the probed cells.
   */
  def rangeSearchIndexed(
      queries: DataFrame,
      index: IvfIndex,
      minCos: Double,
      nprobe: Int = 0): DataFrame = {
    Vectors.requireSmallQuerySide(queries, "rangeSearchIndexed")
    val cents = index.centroids.orderBy("cell")
      .select("centroid").collect().map(_.getSeq[Double](0).toArray)
    require(cents.nonEmpty, "rangeSearchIndexed: index has no centroids")
    val np = if (nprobe > 0) nprobe else autoNprobe(cents.length)
    val c = index.vectors.select(col("vec_id").as("cand_id"), col("cell"),
      col("embedding").as("cv"), col("norm").as("cn"))
    val q = assign(queries, cents, np, "query_id", "qv")
      .withColumn("qn", Vectors.norm(col("qv")))
    c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos",
        round(Vectors.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 4))
      .filter(col("cos") >= minCos)
      // A vector can sit in two of a query's probed cells only via the
      // multi-probe query assignment; dedup AFTER the threshold filter so
      // the exchange carries in-range pairs only, not the whole cell scan.
      .dropDuplicates("query_id", "cand_id")
      .select("query_id", "cand_id", "cos")
  }

  /**
   * Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
   * embedding space with the coarse k-means quantizer, then drop every
   * vector that has a sufficiently-cosine-similar LOWER-id neighbor in the
   * same cluster — one representative (the lowest id) survives per
   * near-duplicate neighborhood. The within-cluster pair comparison is
   * the whole point of the clustering: O(sum of cell_size^2), never a
   * corpus cross-join, and `nlist` DOES scale with the corpus by default
   * (√n via [[autoNlist]], FAISS-style) so cells stay bounded at any
   * size without caller tuning. One shuffle by cell for the self-join,
   * one id-only dominated set joined back.
   *
   * Semantics note: "dominated by a lower id" is evaluated against ALL
   * lower-id cluster members, including ones themselves dropped — the
   * standard one-pass SemDeDup screen (deterministic, EXISTS-expressible),
   * not the iterative greedy chain.
   *
   * Output: (vec_id, cell, kept), one row per input vector.
   */
  def semanticDedup(
      vectors: DataFrame, // (vec_id, embedding)
      nlist: Int = 0, // 0 = auto: √n cells (see autoNlist)
      threshold: Double = 0.45): DataFrame = {
    val centroids = trainCentroids(vectors, resolveNlist(vectors, nlist))
    val a = assign(vectors, centroids, 1, "vec_id", "v")
      .withColumn("nrm", Vectors.norm(col("v")))
      .graftCached
    val l = a.select(col("cell"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val r = a.select(col("cell"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dominated = l.join(r, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(Vectors.dot(col("va"), col("vb")) / (col("na") * col("nb")), 4)
        >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("dropped", lit(true))
    a.select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(dominated, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        (col("dropped").isNull).as("kept"))
  }

  /**
   * Embedding-space outlier screen — the "is this vector even IN the
   * distribution" data-quality gate (mislabeled media, corrupt encodes,
   * off-domain text land far from every cluster): assign each vector to
   * its coarse k-means cell, measure the squared L2 distance to the cell
   * centroid, and flag vectors past `factor` x the cell's `pct`-quantile
   * distance.
   *
   * Cross-engine determinism, the repo's standard discipline: the
   * per-element distance fold runs in index order in BOTH engines (Scala
   * while loop / Column `aggregate` / DuckDB `list_sum` are all left
   * folds), the distance is quantized to micro-unit longs immediately
   * (so the per-cell aggregate consumes exact integers — no float-sum
   * order hazard), and exact-percentile parity between Spark
   * `percentile` and DuckDB `quantile_cont` is already pinned by the
   * `quantiles` oracle. The flag compare is one IEEE multiply each side.
   *
   * Scale shape: one broadcast-quantizer assignment pass; the per-cell
   * percentile groupBy buffers one cell's distances per group — cells
   * average √n rows by [[autoNlist]] design (the same bound
   * [[semanticDedup]]'s pair join rests on); the nlist-row quantile
   * frame broadcasts back. No corpus self-join, no window over the
   * corpus.
   *
   * Output: (vec_id, cell, dist_micro, outlier), one row per vector.
   */
  def embedOutliers(
      vectors: DataFrame, // (vec_id, embedding)
      nlist: Int = 0, // 0 = auto: √n cells
      pct: Double = 0.9,
      factor: Double = 2.0): DataFrame = {
    val cents = trainCentroids(vectors, resolveNlist(vectors, nlist))
    val dm = cellDistances(vectors, cents).graftCached
    val pc = dm.groupBy("cell")
      .agg(expr(s"percentile(dist_micro, $pct)").as("p"))
    dm.join(broadcast(pc), Seq("cell"))
      .select(col("vec_id"), col("cell"), col("dist_micro"),
        (col("dist_micro") > lit(factor) * col("p")).as("outlier"))
  }

  /** The shared distance pass of the outlier family: assign each vector
    * to its nearest cell (broadcast quantizer) and quantize the squared
    * L2 distance to micro-unit longs — index-order fold, one IEEE
    * multiply, the cross-engine-exact discipline [[embedOutliers]]
    * documents. Output: (vec_id, cell BIGINT, dist_micro BIGINT). */
  private def cellDistances(
      vectors: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val centDf = cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "centroid")
    assign(vectors, cents, 1, "vec_id", "embedding")
      .join(broadcast(centDf), Seq("cell"))
      .withColumn("dist_micro", round(lit(1e6) *
        aggregate(
          zip_with(col("embedding").cast("array<double>"), col("centroid"),
            (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)).cast("long"))
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("dist_micro"))
  }

  /**
   * The outlier screen as a PERSISTED artifact — the train-once member
   * of the model family ([[IvfIndex]], [[PQ.PqIndex]],
   * [[TextFunctions.NbModel]]): [[embedOutliers]] retrains centroids and
   * re-aggregates percentiles on EVERY call, which for a recurring
   * ingestion loop re-pays the whole training corpus per batch AND lets
   * the decision boundary drift with each batch's distribution — an
   * audit gate should be a FIXED yardstick. Train once
   * ([[embedOutliersTrain]]: centroids + per-cell `pct`-quantile
   * distances), parquet it, score every later batch against the stored
   * boundary ([[embedOutliersScore]]) at batch-sized cost: one bounded
   * centroid collect, the batch's assignment pass, a broadcast
   * threshold join. Scoring the training corpus with its own stored
   * model is bit-identical to [[embedOutliers]] (spec-pinned through
   * the parquet round trip — distances are micro-unit integers, the
   * stored quantile doubles round-trip exactly).
   */
  final case class OutlierModel(
      centroids: DataFrame, // (cell, centroid) — nlist rows
      thresholds: DataFrame) { // (cell BIGINT, p DOUBLE)
    def write(path: String): Unit = {
      centroids.write.mode("overwrite").parquet(path + "/centroids")
      thresholds.write.mode("overwrite").parquet(path + "/thresholds")
    }
  }

  object OutlierModel {
    def read(spark: org.apache.spark.sql.SparkSession, path: String): OutlierModel =
      OutlierModel(
        spark.read.parquet(path + "/centroids"),
        spark.read.parquet(path + "/thresholds"))
  }

  /** Train the outlier yardstick: coarse k-means cells plus each cell's
    * `pct`-quantile micro-unit distance. */
  def embedOutliersTrain(
      vectors: DataFrame, // (vec_id, embedding)
      nlist: Int = 0, // 0 = auto: √n cells
      pct: Double = 0.9): OutlierModel = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cents = trainCentroids(vectors, resolveNlist(vectors, nlist))
    val centDf = cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "centroid")
    val pc = cellDistances(vectors, cents).groupBy("cell")
      .agg(expr(s"percentile(dist_micro, $pct)").as("p"))
    OutlierModel(centDf, pc)
  }

  /** Collect a (cell, centroid) frame back to the quantizer array the
    * scoring passes consume — the model-sized read every Score method in
    * this family performs (nlist rows by the [[MaxNlist]] contract). */
  private def centroidArraysOf(
      centroids: DataFrame, who: String): Array[Array[Double]] = {
    val cents = centroids.orderBy("cell")
      .select("centroid").collect().map(_.getSeq[Double](0).toArray)
    require(cents.nonEmpty, s"$who: model has no centroids")
    cents
  }

  /** Score a batch against a stored (possibly parquet-loaded) outlier
    * model: (vec_id, cell, dist_micro, outlier), one row per batch
    * vector. A vector assigned to a cell that held NO training mass
    * (empty Lloyd cell — no threshold row) is an outlier by definition:
    * nothing in the training distribution lives there. */
  def embedOutliersScore(
      model: OutlierModel,
      batch: DataFrame, // (vec_id, embedding)
      factor: Double = 2.0): DataFrame = {
    val cents = centroidArraysOf(model.centroids, "embedOutliersScore")
    cellDistances(batch, cents)
      .join(broadcast(model.thresholds), Seq("cell"), "left")
      .select(col("vec_id"), col("cell"), col("dist_micro"),
        coalesce(col("dist_micro") > lit(factor) * col("p"), lit(true))
          .as("outlier"))
  }

  /**
   * The k-means quantizer as a PERSISTED artifact — the train-once form
   * for the CLUSTER family ([[embedClusters]] / [[clusterSample]]),
   * mirroring [[OutlierModel]] / [[TextFunctions.NbModel]] /
   * [[TextFunctions.Bm25Model]]: the live forms re-run Lloyd on every
   * call, so a recurring pipeline re-pays training per batch AND two
   * calls can disagree (the centroids drift with each batch's
   * distribution — cluster ids stop being comparable across runs, which
   * breaks any downstream join on them). Train once
   * ([[embedClustersTrain]]), parquet the centroids, and score every
   * later batch against the STORED quantizer
   * ([[embedClustersScore]] / [[clusterSampleModel]]) at batch-sized
   * cost: one bounded centroid collect, one broadcast-quantizer
   * assignment pass. Scoring the training corpus with its own stored
   * model is bit-identical to the live call (spec-pinned through the
   * parquet round trip — centroid doubles round-trip parquet exactly).
   */
  final case class ClusterModel(
      centroids: DataFrame) { // (cell, centroid) — nlist rows
    def write(path: String): Unit =
      centroids.write.mode("overwrite").parquet(path + "/centroids")
  }

  object ClusterModel {
    def read(spark: org.apache.spark.sql.SparkSession, path: String): ClusterModel =
      ClusterModel(spark.read.parquet(path + "/centroids"))
  }

  /** Train the cluster quantizer: coarse k-means centroids as a
    * model-sized (cell, centroid) frame — [[trainCentroids]]' contract
    * (bounded bit-deterministic driver sample, or executor-side Lloyd
    * past [[DriverTrainCap]]), [[MaxNlist]]-gated. */
  def embedClustersTrain(
      vectors: DataFrame, // (vec_id, embedding)
      nlist: Int = 0, // 0 = auto: √n cells
      iters: Int = 10): ClusterModel = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cents = trainCentroids(vectors, resolveNlist(vectors, nlist), iters)
    ClusterModel(cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "centroid"))
  }

  /**
   * Assign a batch against a stored (possibly parquet-loaded)
   * [[ClusterModel]] — the recurring form of [[embedClusters]], same
   * output contract: (vec_id, cluster BIGINT, dist_micro BIGINT,
   * cluster_size BIGINT), one row per batch vector; `cluster_size`
   * counts THIS batch's members per cell (scoring the training corpus
   * reproduces the live populations). Scale shape: the stored quantizer
   * collects once (model-sized), the assignment is one broadcast map
   * pass, the only aggregation is the nlist-row size rollup.
   */
  def embedClustersScore(
      model: ClusterModel,
      batch: DataFrame): DataFrame = { // (vec_id, embedding)
    val cents = centroidArraysOf(model.centroids, "embedClustersScore")
    // Persisted: the assignment pass (the operator's dominant cost —
    // per-vector nearest-centroid over nlist cells) feeds BOTH the size
    // rollup and the join probe side; without the persist the subtree
    // executes twice.
    val d = cellDistances(batch, cents).graftCached
    val sizes = d.groupBy("cell").agg(count(lit(1)).as("cluster_size"))
    d.join(broadcast(sizes), Seq("cell"))
      .select(col("vec_id"), col("cell").as("cluster"), col("dist_micro"),
        col("cluster_size"))
  }

  /**
   * Embedding-space distribution drift between two corpora through a
   * STORED quantizer — the [[TextFunctions.corpusDrift]] twin over
   * cluster mass instead of word mass: both sides assign to the same
   * fixed [[ClusterModel]] cells (drift is only meaningful against ONE
   * shared partition of the space — retraining per side would measure
   * centroid motion, not data motion), then each cell's total-variation
   * contribution |p_a(cell) - p_b(cell)| / 2 is reported. Run it
   * between a new crawl window and the reference corpus to see WHERE in
   * embedding space the data shifted before the shift reaches training
   * — the semantic complement of corpusDrift's vocabulary view.
   *
   * Exactness discipline (corpusDrift's, verbatim): counts stay
   * integer, the cross products go through DECIMAL(38,0) (exact past
   * the long*long overflow point), ONE IEEE division per cell, no
   * logs. Both sides must be non-empty — enforced EAGERLY: the totals
   * rollup collects driver-side (nlist-sized frame, one scalar row)
   * and a zero side fails at CALL time. A per-row raise_error cannot
   * carry this contract — when BOTH sides are empty the joined frame
   * has zero rows, the error expression never evaluates, and the
   * operator would silently return an empty frame.
   *
   * Scale shape: one broadcast-quantizer assignment pass per side into
   * a map-side-combined nlist-row count frame each, an nlist-sized
   * full-outer join (persisted — the totals collect and the projection
   * each traverse it once), totals inlined as literals into the
   * projection, TakeOrdered top-N. No corpus-sized shuffle beyond the
   * two cell-count aggregations.
   *
   * Output: (cluster, cnt_a, cnt_b, drift), top `topN` by drift
   * descending (ties by cluster id).
   */
  def clusterDrift(
      model: ClusterModel,
      a: DataFrame, // (vec_id, embedding)
      b: DataFrame,
      topN: Int = 50): DataFrame = {
    require(topN > 0, s"clusterDrift: topN must be positive, got $topN")
    val cents = centroidArraysOf(model.centroids, "clusterDrift")
    import graft.GraftCaches.Cacheable
    def cellCounts(df: DataFrame, cnt: String) =
      assign(df, cents, 1, "vec_id", "v")
        .groupBy("cell").agg(count(lit(1)).as(cnt))
    // nlist-sized and traversed twice (totals + projection): persist so
    // each corpus pays its assignment pass once.
    val joined = cellCounts(a, "cnt_a")
      .join(cellCounts(b, "cnt_b"), Seq("cell"), "full_outer")
      .select(col("cell").cast("long").as("cluster"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
      .graftCached
    // EAGER emptiness contract: sum() over a zero-row joined frame is
    // null, and an empty-joined frame would never evaluate a per-row
    // raise_error at all — so the check must read collected totals.
    val trow = joined.agg(sum("cnt_a"), sum("cnt_b")).head()
    val tA = if (trow.isNullAt(0)) 0L else trow.getLong(0)
    val tB = if (trow.isNullAt(1)) 0L else trow.getLong(1)
    require(tA > 0L && tB > 0L,
      s"clusterDrift: both corpora must be non-empty (a zero-vector side " +
        s"has no distribution to compare); got $tA and $tB vectors")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    joined
      .withColumn("drift",
        abs(col("cnt_a").cast(dec) * lit(tB) -
            col("cnt_b").cast(dec) * lit(tA)).cast("double") /
          (lit(2.0) * lit(tA).cast("double") * lit(tB).cast("double")))
      .select("cluster", "cnt_a", "cnt_b", "drift")
      .orderBy(col("drift").desc, col("cluster"))
      .limit(topN)
  }

  /** [[clusterSample]]'s recurring form: the per-cell md5-rank draw
    * against a STORED quantizer — assignment is one broadcast map pass
    * over the batch, then the shared bounded-heap rank core
    * ([[graft.ops.CorpusMix.md5RankTake]]). Same output contract. */
  def clusterSampleModel(
      model: ClusterModel,
      batch: DataFrame, // (vec_id, embedding)
      perCluster: Int): DataFrame = {
    require(perCluster > 0,
      s"clusterSampleModel: perCluster must be positive, got $perCluster")
    val cents = centroidArraysOf(model.centroids, "clusterSampleModel")
    val assigned = assign(batch, cents, 1, "vec_id", "embedding")
      .select(col("cell").as("cluster"), col("vec_id"))
    graft.ops.CorpusMix.md5RankTake(assigned, "cluster", "vec_id", perCluster)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        col("rk"))
  }

  /**
   * Cluster-balanced deterministic sample: `perCluster` vectors drawn
   * from EACH k-means cell by md5-of-id rank — the embedding-space twin
   * of [[graft.ops.CorpusMix.mix]]'s per-source quotas. Source labels
   * balance what a crawl SAYS a doc is; cluster balancing uses what the
   * embedding says, so a training mix stops over-representing the
   * dominant semantic mass even inside one source. No rand(): the draw
   * is bit-reproducible across runs and engines.
   *
   * Scale shape: one broadcast-quantizer assignment pass, then the
   * SHARED md5-rank core ([[graft.ops.CorpusMix.md5RankTake]] — the
   * bounded per-partition heap keeps `perCluster` rows per cell BEFORE
   * any shuffle, so a dominant cluster costs perCluster rows per
   * partition, never its population through one reducer).
   *
   * Output (vec_id, cluster BIGINT, rk BIGINT), rk 1..perCluster within
   * each cluster; clusters with fewer members keep them all.
   */
  def clusterSample(
      vectors: DataFrame, // (vec_id, embedding)
      perCluster: Int,
      nlist: Int = 0,
      iters: Int = 10): DataFrame = {
    // Cheap argument check FIRST — a bad perCluster must not pay the
    // whole training pass before failing.
    require(perCluster > 0,
      s"clusterSample: perCluster must be positive, got $perCluster")
    // Train + score in one call — [[clusterSampleModel]] IS the draw, so
    // the live and stored paths cannot drift.
    clusterSampleModel(embedClustersTrain(vectors, nlist, iters),
      vectors, perCluster)
  }

  /**
   * K-means corpus clustering as a first-class output (not a dedup/ANN
   * implementation detail): assign every vector to its nearest trained
   * centroid and report the assignment with its quantized distance and
   * the cluster's population. The corpus-analysis twin of [[semDeDup]]'s
   * internal cell pass — topic-ish grouping, mix auditing, per-cluster
   * sampling all start from this frame.
   *
   * Scale shape: training cost is the [[trainCentroids]] contract
   * (bounded sample or executor-side Lloyd, [[MaxNlist]]-gated); the
   * assignment is ONE broadcast-quantizer map pass over the corpus (no
   * shuffle), and the only aggregation is the nlist-row size rollup,
   * broadcast back. Distances are micro-unit longs (the
   * [[embedOutliers]] cross-engine discipline), so the output is
   * bit-reproducible and joins/filters on it are exact.
   *
   * Output: (vec_id, cluster BIGINT, dist_micro BIGINT, cluster_size
   * BIGINT), one row per input vector.
   */
  def embedClusters(
      vectors: DataFrame, // (vec_id, embedding)
      nlist: Int = 0,
      iters: Int = 10): DataFrame =
    // Train + score in one call — [[embedClustersScore]] IS the
    // assignment pass, so the live and stored paths cannot drift.
    embedClustersScore(embedClustersTrain(vectors, nlist, iters), vectors)
}
