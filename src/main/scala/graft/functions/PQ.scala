package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Product quantization (PQ) — the standard ANN memory compression at
 * 100 TB: the vector space factors into `m` subspaces, each with its own
 * small k-means codebook; a vector stores only its per-subspace centroid
 * ids (m * log2(k) bits — here 8 subspaces x 16 centroids = 32 bits per
 * 64-dim vector, a 64x cut vs float32). Queries score candidates by
 * asymmetric distance: the EXACT query subvectors against the candidate's
 * reconstructed centroids, so only the corpus side pays quantization
 * error.
 *
 * Training is deterministic end to end (hash-systematic sample + strided
 * init + fixed Lloyd iterations per subspace, no RNG), so codebooks
 * render as SQL literals and the whole encode + ADC-rank pipeline is
 * value-checkable in DuckDB — the same oracle move as the IVF centroids
 * and LSH planes. FP parity discipline: every sum is computed in a fixed
 * order (subspace-major, element order within a subspace) in BOTH
 * engines; per-subspace partials are accumulated in subspace order, never
 * flattened into one element loop (the grouping changes the rounding).
 */
object PQ {

  /** Per-subspace codebooks: [m][k][dim/m], trained on the shared
    * hash-systematic sample. */
  def trainCodebooks(
      vectors: DataFrame,
      dim: Int,
      m: Int = 8,
      k: Int = 16,
      iters: Int = 10,
      sampleN: Int = 2048): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val sub = dim / m
    val sample = IVF.sampleVectors(vectors, sampleN)
    Array.tabulate(m) { j =>
      IVF.lloyd(sample.map(v => v.slice(j * sub, (j + 1) * sub)), k, iters)
    }
  }

  /** Codebooks as DuckDB `VALUES (j, c, [v...])` rows. */
  def codebooksSqlValues(cb: Array[Array[Array[Double]]]): String =
    cb.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (v, c) =>
        s"($j, $c, ${v.mkString("[", ", ", "]")})"
      }
    }.mkString(", ")

  private def l2sq(v: Array[Double], off: Int, c: Array[Double]): Double = {
    var s = 0.0
    var d = 0
    while (d < c.length) { val x = v(off + d) - c(d); s += x * x; d += 1 }
    s
  }

  /** Encode each vector: per subspace, the nearest centroid id (argmin
    * L2, lowest id on ties). Output: (vec_id, j, code) exploded — the
    * scalar form the value-level oracle compares directly. */
  def encode(
      vectors: DataFrame,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(codebooks)
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    vectors.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cb = bc.value
        it.flatMap { case (id, e) =>
          val v = e.toArray.map(_.toDouble)
          (0 until m).map { j =>
            val book = cb(j)
            var best = 0
            var bestD = Double.MaxValue
            var c = 0
            while (c < book.length) {
              val d = l2sq(v, j * sub, book(c))
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            (id, j.toLong, best.toLong)
          }
        }
      }.toDF("vec_id", "j", "code")
  }

  /**
   * PQ top-k by asymmetric distance, surfaced as a cosine-style score:
   * ip(q, recon(x)) / (|q| * |recon(x)|), rounded HALF_UP to 4 decimals
   * like the other similarity operators. The corpus is scanned once and
   * scored against the broadcast query set in primitive loops; only the
   * final per-query top-k window shuffles.
   */
  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    // Query side is collected to the driver — small by contract. The limit
    // bounds what the collect can pull (CollectLimit, not a full fetch),
    // so an oversized query frame fails the require instead of OOMing,
    // without paying a separate guard job.
    val qRows = queries.select(col("vec_id").cast("long"), col("embedding"))
      .limit(Vectors.MaxQueryRows + 1)
      .as[(Long, Seq[Float])].collect()
    require(qRows.length <= Vectors.MaxQueryRows,
      s"pqTopK: query side exceeds the ${Vectors.MaxQueryRows}-row driver-collect " +
        "contract — split the query frame into batches")
    val qSide = qRows
      .sortBy(_._1)
      .map { case (id, e) =>
        val v = e.toArray.map(_.toDouble)
        var nsq = 0.0
        var d = 0
        while (d < v.length) { nsq += v(d) * v(d); d += 1 }
        (id, v, math.sqrt(nsq))
      }
    val bcQ = spark.sparkContext.broadcast(qSide)
    val bcCb = spark.sparkContext.broadcast(codebooks)
    val scored = corpus.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cb = bcCb.value
        val qs = bcQ.value
        // per-codebook-entry squared norms, j-major (tiny, computed once)
        val nsqs = cb.map(_.map { c =>
          var s = 0.0; var d = 0
          while (d < c.length) { s += c(d) * c(d); d += 1 }
          s
        })
        it.flatMap { case (candId, e) =>
          val v = e.toArray.map(_.toDouble)
          // encode the candidate
          val codes = new Array[Int](m)
          var j = 0
          while (j < m) {
            val book = cb(j)
            var best = 0
            var bestD = Double.MaxValue
            var c = 0
            while (c < book.length) {
              val d = l2sq(v, j * sub, book(c))
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            codes(j) = best
            j += 1
          }
          // |recon|^2: per-subspace partials summed in subspace order
          var rsq = 0.0
          j = 0
          while (j < m) { rsq += nsqs(j)(codes(j)); j += 1 }
          val rn = math.sqrt(rsq)
          qs.iterator.filter(_._1 != candId).map { case (qid, qv, qn) =>
            // ip: per-subspace dot (element order), summed in j order
            var ip = 0.0
            var j2 = 0
            while (j2 < m) {
              val cent = cb(j2)(codes(j2))
              var t = 0.0
              var d = 0
              while (d < sub) { t += qv(j2 * sub + d) * cent(d); d += 1 }
              ip += t
              j2 += 1
            }
            val raw = ip / (qn * rn)
            val score = java.math.BigDecimal.valueOf(raw)
              .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
            (qid, candId, score)
          }
        }
      }.toDF("query_id", "cand_id", "score")
    // Two-phase rank (ops.TopN): the ADC scan scores O(corpus) candidates
    // per query — a bare window would funnel them into one task per query.
    graft.ops.TopN.topKByQuery(scored, "query_id", "cand_id", "score", k)
  }

  /**
   * IVF-PQ — the production composite: the coarse quantizer prunes the
   * corpus to each query's `nprobe` nearest cells, PQ codes score the
   * survivors by asymmetric distance. One corpus scan computes cell +
   * codes; a candidate is scored only for queries probing its cell, so
   * compute per query drops from O(n) to O(n * nprobe / nlist) and
   * per-vector memory is the 32-bit code — the standard recall/latency/
   * memory dial at 100 TB (FAISS's IVFADC layout, re-expressed as a
   * Spark scan). Deterministic (both trainings are), so fully
   * SQL-replayable. Output: (query_id, cand_id, score, rank).
   */
  def ivfpqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      nprobe: Int = 0): DataFrame = { // 0 = auto: ~3/8 of cells (IVF.autoNprobe)
    val np = if (nprobe > 0) nprobe else IVF.autoNprobe(centroids.length)
    val spark = corpus.sparkSession
    import spark.implicits._
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    // Same limit-bounded driver-collect contract as pqTopK.
    val qRows = queries.select(col("vec_id").cast("long"), col("embedding"))
      .limit(Vectors.MaxQueryRows + 1)
      .as[(Long, Seq[Float])].collect()
    require(qRows.length <= Vectors.MaxQueryRows,
      s"ivfpqTopK: query side exceeds the ${Vectors.MaxQueryRows}-row driver-collect " +
        "contract — split the query frame into batches")
    val qSide = qRows
      .sortBy(_._1)
      .map { case (id, e) =>
        val v = e.toArray.map(_.toDouble)
        var nsq = 0.0
        var d = 0
        while (d < v.length) { nsq += v(d) * v(d); d += 1 }
        (id, v, math.sqrt(nsq), IVF.nearestK(v, centroids, np).toSet)
      }
    val bcQ = spark.sparkContext.broadcast(qSide)
    val bcCb = spark.sparkContext.broadcast(codebooks)
    val bcCent = spark.sparkContext.broadcast(centroids)
    val scored = corpus.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cb = bcCb.value
        val cents = bcCent.value
        val qs = bcQ.value
        val nsqs = cb.map(_.map { c =>
          var s = 0.0; var d = 0
          while (d < c.length) { s += c(d) * c(d); d += 1 }
          s
        })
        it.flatMap { case (candId, e) =>
          val v = e.toArray.map(_.toDouble)
          val cell = IVF.nearest(v, cents)
          val codes = new Array[Int](m)
          var j = 0
          while (j < m) {
            val book = cb(j)
            var best = 0
            var bestD = Double.MaxValue
            var c = 0
            while (c < book.length) {
              val d = l2sq(v, j * sub, book(c))
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            codes(j) = best
            j += 1
          }
          var rsq = 0.0
          j = 0
          while (j < m) { rsq += nsqs(j)(codes(j)); j += 1 }
          val rn = math.sqrt(rsq)
          qs.iterator
            .filter(q => q._1 != candId && q._4.contains(cell))
            .map { case (qid, qv, qn, _) =>
              var ip = 0.0
              var j2 = 0
              while (j2 < m) {
                val cent = cb(j2)(codes(j2))
                var t = 0.0
                var d = 0
                while (d < sub) { t += qv(j2 * sub + d) * cent(d); d += 1 }
                ip += t
                j2 += 1
              }
              val raw = ip / (qn * rn)
              val score = java.math.BigDecimal.valueOf(raw)
                .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
              (qid, candId, score)
            }
        }
      }.toDF("query_id", "cand_id", "score")
    // Two-phase rank (ops.TopN): the ADC scan scores O(corpus) candidates
    // per query — a bare window would funnel them into one task per query.
    graft.ops.TopN.topKByQuery(scored, "query_id", "cand_id", "score", k)
  }

  // -- persisted PQ index ----------------------------------------------------

  /**
   * Persisted PQ/IVF-PQ index — the ADC analogue of [[graft.functions.IVF.IvfIndex]]:
   * [[pqTopK]]/[[ivfpqTopK]] re-read every raw embedding and re-encode the
   * whole corpus per call; at 100 TB the encode scan (256 B/vector of
   * floats plus m·k subspace distances each) dwarfs the screen. Build
   * once instead: `centroids` and `codebooks` hold the trained quantizers
   * (tiny), `codes` one row per vector — (vec_id, cell, codes, rn) where
   * `codes` is the 4-bit-per-subspace PQ code (stored as ints) and `rn`
   * the reconstructed norm. A batch screen then scans ~4 B of codes per
   * vector instead of the raw embedding, does NO per-vector k-means
   * argmin at all, and never touches the raw corpus.
   */
  final case class PqIndex(
      centroids: DataFrame, codebooks: DataFrame, codes: DataFrame) {
    /** Persist all three frames under `path`. */
    def write(path: String): Unit = {
      centroids.write.mode("overwrite").parquet(path + "/centroids")
      codebooks.write.mode("overwrite").parquet(path + "/codebooks")
      codes.write.mode("overwrite").parquet(path + "/codes")
    }
  }

  object PqIndex {
    /** Read a persisted index: either a flat [[PqIndex.write]] directory
      * or an [[graft.functions.Ingest.ingestBatch]]-managed root,
      * resolved to its active generation by
      * [[graft.sources.ManagedRoot.resolve]] (a damaged pointer fails
      * loud), so readers keep working across compaction rolls; the
      * just-superseded generation survives one roll as the
      * in-flight-reader grace window. */
    def read(spark: org.apache.spark.sql.SparkSession, path: String): PqIndex = {
      val dir = graft.sources.ManagedRoot.resolve(spark, path)
      PqIndex(
        spark.read.parquet(dir + "/centroids"),
        spark.read.parquet(dir + "/codebooks"),
        spark.read.parquet(dir + "/codes"))
    }
  }

  /** One corpus scan: coarse cell + PQ codes + reconstructed norm per
    * vector, with both quantizers trained on the shared deterministic
    * sample path (bit-identical to what the live operators derive). */
  def buildPqIndex(
      corpus: DataFrame,
      dim: Int,
      m: Int = 8,
      k: Int = 16,
      nlist: Int = 0): PqIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = IVF.trainCentroids(corpus, IVF.resolveNlist(corpus, nlist))
    val cb = trainCodebooks(corpus, dim, m, k)
    val centDf = cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "centroid")
    val cbDf = cb.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (v, c) => (j, c, v.toSeq) }
    }.toSeq.toDF("j", "c", "v")
    PqIndex(centDf, cbDf, codeFrame(corpus, cents, cb))
  }

  /** The one-scan (vec_id, cell, codes, rn) derivation shared by
    * [[buildPqIndex]] and [[indexAppend]]. */
  private def codeFrame(
      corpus: DataFrame,
      cents: Array[Array[Double]],
      cb: Array[Array[Array[Double]]]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sub = cb(0)(0).length
    val bcCb = spark.sparkContext.broadcast(cb)
    val bcCent = spark.sparkContext.broadcast(cents)
    corpus.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cbv = bcCb.value
        val cents = bcCent.value
        val nsqs = cbv.map(_.map { c =>
          var s = 0.0; var d = 0
          while (d < c.length) { s += c(d) * c(d); d += 1 }
          s
        })
        it.map { case (id, e) =>
          val v = e.toArray.map(_.toDouble)
          // Loud dim check (mirrors IVF.assign's): a shorter vector
          // would otherwise encode from a prefix comparison — silent
          // code corruption on the indexAppend path.
          require(v.length == cbv.length * sub,
            s"PQ: embedding dim ${v.length} of vec_id=$id does not match " +
              s"codebook dim ${cbv.length * sub}")
          val cell = IVF.nearest(v, cents)
          val cs = new Array[Int](cbv.length)
          var j = 0
          while (j < cbv.length) {
            val book = cbv(j)
            var best = 0
            var bestD = Double.MaxValue
            var c = 0
            while (c < book.length) {
              val d = l2sq(v, j * sub, book(c))
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            cs(j) = best
            j += 1
          }
          var rsq = 0.0
          j = 0
          while (j < cs.length) { rsq += nsqs(j)(cs(j)); j += 1 }
          (id, cell, cs.toSeq, math.sqrt(rsq))
        }
      }.toDF("vec_id", "cell", "codes", "rn")
  }

  /**
   * IDEMPOTENT PQ-index maintenance (the same contract as
   * `IVF.indexAppend`): encode `batch` with the STORED quantizers,
   * anti-join already-indexed vec_ids, append only novel code rows to
   * `<indexPath>/codes`. Re-appending the same batch is a no-op.
   * Quantizers are NOT retrained — rebuild when appended volume
   * approaches the trained corpus's. Returns rows actually appended.
   */
  def indexAppend(batch: DataFrame, indexPath: String): Long = {
    import graft.GraftCaches.Cacheable
    val spark = batch.sparkSession
    val cents = spark.read.parquet(indexPath + "/centroids").orderBy("cell")
      .select("centroid").collect().map(_.getSeq[Double](0).toArray)
    val cb = collectCodebooks(spark.read.parquet(indexPath + "/codebooks"))
    require(cents.nonEmpty && cb.nonEmpty,
      s"PQ.indexAppend: no stored quantizers at $indexPath")
    val fresh = codeFrame(batch, cents, cb).graftCached
    val existing = spark.read.parquet(indexPath + "/codes").select("vec_id")
    val novel = fresh.join(existing, Seq("vec_id"), "left_anti").graftCached
    val appended = novel.count()
    // Right-sized files (see Dedup.indexAppend): growth in batches, not
    // partitions; [[indexCompact]] folds the long tail.
    if (appended > 0)
      novel.coalesce(Dedup.boundedFileCount(appended))
        .write.mode("append").parquet(indexPath + "/codes")
    appended
  }

  /**
   * Compact an [[indexAppend]]-grown PQ index into a COPY at `destPath`
   * (the `IVF.indexCompact` contract for [[PqIndex]]): both quantizer
   * frames are copied verbatim, the code rows folded into
   * ceil(n / maxRowsPerFile) files range-partitioned and sorted by
   * `cell` — ADC screens join codes by probed cell, so cell-clustered
   * row groups give min/max skipping to any pushed cell predicate and
   * scan locality either way. Copy-not-in-place; the caller flips the
   * path once the copy lands, and further [[indexAppend]]s (by-vec-id
   * idempotent) land on the destination as usual. Returns the number of
   * code rows written.
   */
  def indexCompact(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      destPath: String,
      maxRowsPerFile: Long = 1L << 20): Long = {
    import graft.GraftCaches.Cacheable
    require(maxRowsPerFile > 0,
      s"PQ.indexCompact: maxRowsPerFile must be positive ($maxRowsPerFile)")
    Dedup.requireDisjointPaths(spark, indexPath, destPath, "PQ.indexCompact")
    val codes = spark.read.parquet(indexPath + "/codes").graftCached
    val n = codes.count()
    val files = math.max(1L, (n + maxRowsPerFile - 1) / maxRowsPerFile).toInt
    spark.read.parquet(indexPath + "/centroids")
      .write.mode("overwrite").parquet(destPath + "/centroids")
    spark.read.parquet(indexPath + "/codebooks")
      .write.mode("overwrite").parquet(destPath + "/codebooks")
    codes.repartitionByRange(files, col("cell"))
      .sortWithinPartitions("cell")
      .write.mode("overwrite").parquet(destPath + "/codes")
    n
  }

  /** Rebuild the [m][k][sub] codebook array from its stored frame. */
  private def collectCodebooks(cbDf: DataFrame): Array[Array[Array[Double]]] = {
    val rows = cbDf.orderBy("j", "c")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = rows.map(_._1).max + 1
    Array.tabulate(m)(j => rows.filter(_._1 == j).sortBy(_._2).map(_._3))
  }

  /** The shared broadcast-query + stored-code ADC scan behind both
    * indexed screens; `probes` is empty for the full PQ scan. */
  private def adcScanIndexed(
      queries: DataFrame,
      index: PqIndex,
      k: Int,
      nprobe: Int, // 0 = plain PQ (no cell pruning)
      cents: Array[Array[Double]], // pre-collected quantizer when probing
      opName: String): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cb = collectCodebooks(index.codebooks)
    val m = cb.length
    val sub = cb(0)(0).length
    val qRows = queries.select(col("vec_id").cast("long"), col("embedding"))
      .limit(Vectors.MaxQueryRows + 1)
      .as[(Long, Seq[Float])].collect()
    require(qRows.length <= Vectors.MaxQueryRows,
      s"$opName: query side exceeds the ${Vectors.MaxQueryRows}-row driver-collect " +
        "contract — split the query frame into batches")
    val probing = nprobe > 0
    val qSide = qRows.sortBy(_._1).map { case (id, e) =>
      val v = e.toArray.map(_.toDouble)
      var nsq = 0.0
      var d = 0
      while (d < v.length) { nsq += v(d) * v(d); d += 1 }
      val probed =
        if (probing) IVF.nearestK(v, cents, nprobe).toSet else Set.empty[Int]
      (id, v, math.sqrt(nsq), probed)
    }
    val bcQ = spark.sparkContext.broadcast(qSide)
    val bcCb = spark.sparkContext.broadcast(cb)
    val scored = index.codes
      .select(col("vec_id"), col("cell"), col("codes"), col("rn"))
      .as[(Long, Int, Seq[Int], Double)]
      .mapPartitions { it =>
        val cbv = bcCb.value
        val qs = bcQ.value
        it.flatMap { case (candId, cell, codesSeq, rn) =>
          val codes = codesSeq.toArray
          qs.iterator
            .filter(q => q._1 != candId && (!probing || q._4.contains(cell)))
            .map { case (qid, qv, qn, _) =>
              var ip = 0.0
              var j2 = 0
              while (j2 < m) {
                val cent = cbv(j2)(codes(j2))
                var t = 0.0
                var d = 0
                while (d < sub) { t += qv(j2 * sub + d) * cent(d); d += 1 }
                ip += t
                j2 += 1
              }
              val raw = ip / (qn * rn)
              val score = java.math.BigDecimal.valueOf(raw)
                .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
              (qid, candId, score)
            }
        }
      }.toDF("query_id", "cand_id", "score")
    graft.ops.TopN.topKByQuery(scored, "query_id", "cand_id", "score", k)
  }

  /** [[pqTopK]] against a PRECOMPUTED [[PqIndex]]: value-identical to the
    * live path (stored codes/norms derive from the same deterministic
    * loops; a spec pins bit-equality through a parquet round trip), but
    * the per-batch scan reads stored codes — no raw embeddings, no
    * re-encode. */
  def pqTopKIndexed(queries: DataFrame, index: PqIndex, k: Int): DataFrame =
    adcScanIndexed(queries, index, k, nprobe = 0,
      Array.empty[Array[Double]], "pqTopKIndexed")

  /** [[ivfpqTopK]] against a PRECOMPUTED [[PqIndex]]: stored cell ids
    * prune the scan to each query's probed cells, stored codes score the
    * survivors. nprobe = 0 resolves the same ~3/8 fraction as the live
    * path. */
  def ivfpqTopKIndexed(
      queries: DataFrame,
      index: PqIndex,
      k: Int,
      nprobe: Int = 0): DataFrame = {
    // ONE centroid collect serves both the autoNprobe resolution and the
    // query assignment — a separate count() job on the same tiny frame
    // would double the per-batch driver jobs on the hot recurring path.
    val cents = index.centroids.orderBy("cell")
      .select("centroid").collect().map(_.getSeq[Double](0).toArray)
    require(cents.nonEmpty, "ivfpqTopKIndexed: index has no centroids")
    val np = if (nprobe > 0) nprobe else IVF.autoNprobe(cents.length)
    adcScanIndexed(queries, index, k, np, cents, "ivfpqTopKIndexed")
  }
}
