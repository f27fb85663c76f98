package graft
package queries

import org.apache.spark.sql.functions._

import Query._

/** Training-data pipeline queries over embeddings, each declared with its oracle. */
private[graft] object EmbeddingQueries {

  // The live ANN screens' oracles. Each `_indexed` form is value-identical
  // to its live form (the stored quantizers/codes ARE the live paths', by
  // construction), so the pair reads one oracle.
  private def annIvfTopkOracle(a: Artifacts): String = { import a._
    s"""WITH cent(cid, c) AS (VALUES $cents),
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |      FROM embeddings WHERE vec_id < 5),
       |e AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings),
       |cd AS (SELECT cand_id, cid,
       |         list_sum(list_transform(list_zip(cv, c),
       |           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
       |       FROM e, cent),
       |ca AS (SELECT cand_id, cid AS cell FROM (
       |         SELECT *, row_number() OVER (PARTITION BY cand_id
       |           ORDER BY dist, cid) AS rn FROM cd) WHERE rn = 1),
       |qd AS (SELECT query_id, cid,
       |         list_sum(list_transform(list_zip(qv, c),
       |           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
       |       FROM q, cent),
       |qa AS (SELECT query_id, cid AS cell FROM (
       |         SELECT *, row_number() OVER (PARTITION BY query_id
       |           ORDER BY dist, cid) AS rn FROM qd) WHERE rn <= $nprobe),
       |pairs AS (SELECT DISTINCT query_id, cand_id
       |          FROM qa JOIN ca USING (cell) WHERE query_id != cand_id),
       |scored AS (SELECT pr.query_id, pr.cand_id,
       |             round(list_sum(list_transform(list_zip(q.qv, e2.cv),
       |                     x -> x[1] * x[2])) /
       |                   (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
       |                    sqrt(list_sum(list_transform(e2.cv, x -> x * x)))),
       |               4) AS cos
       |           FROM pairs pr JOIN q USING (query_id)
       |                JOIN e e2 ON pr.cand_id = e2.cand_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |             ORDER BY cos DESC, cand_id) AS rank FROM scored)
       |SELECT query_id, cand_id, cos, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin }

  private def pqTopkOracle(a: Artifacts): String = { import a._
    s"""WITH $pqEnc,
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |      FROM embeddings WHERE vec_id < 5),
       |rj AS (SELECT enc.cand_id, enc.j,
       |         list_sum(list_transform(cb.v, x -> x * x)) AS nsq
       |       FROM enc JOIN cb ON cb.j = enc.j AND cb.c = enc.code),
       |rn AS (SELECT cand_id, sqrt(list_sum(list(nsq ORDER BY j))) AS rn
       |       FROM rj GROUP BY cand_id),
       |st AS (SELECT q.query_id, enc.cand_id, enc.j,
       |         list_sum(list_transform(range(1, 9),
       |           d -> q.qv[enc.j * 8 + d] * cb.v[d])) AS t
       |       FROM q, enc JOIN cb ON cb.j = enc.j AND cb.c = enc.code),
       |ip AS (SELECT query_id, cand_id, list_sum(list(t ORDER BY j)) AS ip
       |       FROM st GROUP BY query_id, cand_id),
       |qn AS (SELECT query_id,
       |         sqrt(list_sum(list_transform(qv, x -> x * x))) AS qn
       |       FROM q),
       |scored AS (SELECT ip.query_id, ip.cand_id,
       |             round(ip.ip / (qn.qn * rn.rn), 4) AS score
       |           FROM ip JOIN qn USING (query_id) JOIN rn USING (cand_id)
       |           WHERE ip.query_id != ip.cand_id)
       |SELECT query_id, cand_id, score, CAST(rank AS BIGINT) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY score DESC, cand_id) AS rank FROM scored)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin }

  private def ivfpqTopkOracle(a: Artifacts): String = { import a._
    s"""WITH $pqEnc,
       |cent(cid, cc) AS (VALUES $cents),
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |      FROM embeddings WHERE vec_id < 5),
       |ccd AS (SELECT cand_id, cid,
       |          list_sum(list_transform(list_zip(cv, cc),
       |            p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
       |        FROM e, cent),
       |ca AS (SELECT cand_id, cid AS cell FROM (
       |         SELECT *, row_number() OVER (PARTITION BY cand_id
       |           ORDER BY dist, cid) AS rn FROM ccd) WHERE rn = 1),
       |qcd AS (SELECT query_id, cid,
       |          list_sum(list_transform(list_zip(qv, cc),
       |            p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
       |        FROM q, cent),
       |qa AS (SELECT query_id, cid AS cell FROM (
       |         SELECT *, row_number() OVER (PARTITION BY query_id
       |           ORDER BY dist, cid) AS rn FROM qcd) WHERE rn <= $nprobe),
       |pairs AS (SELECT DISTINCT query_id, cand_id
       |          FROM qa JOIN ca USING (cell) WHERE query_id != cand_id),
       |rj AS (SELECT enc.cand_id, enc.j,
       |         list_sum(list_transform(cb.v, x -> x * x)) AS nsq
       |       FROM enc JOIN cb ON cb.j = enc.j AND cb.c = enc.code),
       |rn2 AS (SELECT cand_id, sqrt(list_sum(list(nsq ORDER BY j))) AS rn
       |        FROM rj GROUP BY cand_id),
       |st AS (SELECT pr.query_id, pr.cand_id, enc.j,
       |         list_sum(list_transform(range(1, 9),
       |           d -> q.qv[enc.j * 8 + d] * cb.v[d])) AS t
       |       FROM pairs pr
       |       JOIN q USING (query_id)
       |       JOIN enc ON enc.cand_id = pr.cand_id
       |       JOIN cb ON cb.j = enc.j AND cb.c = enc.code),
       |ip AS (SELECT query_id, cand_id, list_sum(list(t ORDER BY j)) AS ip
       |       FROM st GROUP BY query_id, cand_id),
       |qn AS (SELECT query_id,
       |         sqrt(list_sum(list_transform(qv, x -> x * x))) AS qn
       |       FROM q),
       |scored AS (SELECT ip.query_id, ip.cand_id,
       |             round(ip.ip / (qn.qn * rn2.rn), 4) AS score
       |           FROM ip JOIN qn USING (query_id)
       |                   JOIN rn2 USING (cand_id))
       |SELECT query_id, cand_id, score, CAST(rank AS BIGINT) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY score DESC, cand_id) AS rank FROM scored)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin }

  val entries: Seq[Query] = Seq(
    sql("ann_topk", (s, dir) => {
      val emb = GraftSession.table(s, dir, "embeddings")
      graft.functions.Vectors.bruteForceTopK(
        emb.filter(col("vec_id") < 5), emb, k = 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    })(
      s"""${Oracle.cosineCtes}
         |SELECT query_id, cand_id, cos, rank FROM ranked
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),
    sql("ann_range", (s, dir) => {
      // Fixed-quality retrieval: every corpus vector within cosine 0.25
      // of a query — the radius complement of ann_topk's fixed-count
      // contract (no rank shuffle at all; the threshold filter runs in
      // the scan's codegen stage).
      val emb = GraftSession.table(s, dir, "embeddings")
      graft.functions.Vectors.rangeSearch(
        emb.filter(col("vec_id") < 5), emb, minCos = 0.25)
        .orderBy("query_id", "cand_id")
    })(
      s"""${Oracle.cosineCtes}
         |SELECT query_id, cand_id, cos FROM scored
         |WHERE cos >= 0.25 ORDER BY query_id, cand_id""".stripMargin),
    rendered("ann_range_indexed", (s, dir) => {
      // The recurring-batch radius form over the persisted IVF index:
      // probed cells bound the scan, stored norms skip the recompute.
      // Approximate exactly as IVF top-k is (unprobed cells are unseen);
      // the centroid-literal oracle replays probe + threshold bit-exact.
      val emb = GraftSession.table(s, dir, "embeddings")
      val idx = graft.functions.IVF.buildIvfIndex(emb)
      graft.functions.IVF.rangeSearchIndexed(
          emb.filter(col("vec_id") < 5), idx, minCos = 0.25)
        .orderBy("query_id", "cand_id")
    }) { a => import a._
      // Radius search over the stored index: same probe replay as
      // ann_ivf_topk (cells, nprobe, exact cosine) with the threshold
      // filter in place of the rank cut.
      s"""WITH cent(cid, c) AS (VALUES $cents),
         |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |      FROM embeddings WHERE vec_id < 5),
         |e AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings),
         |cd AS (SELECT cand_id, cid,
         |         list_sum(list_transform(list_zip(cv, c),
         |           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
         |       FROM e, cent),
         |ca AS (SELECT cand_id, cid AS cell FROM (
         |         SELECT *, row_number() OVER (PARTITION BY cand_id
         |           ORDER BY dist, cid) AS rn FROM cd) WHERE rn = 1),
         |qd AS (SELECT query_id, cid,
         |         list_sum(list_transform(list_zip(qv, c),
         |           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
         |       FROM q, cent),
         |qa AS (SELECT query_id, cid AS cell FROM (
         |         SELECT *, row_number() OVER (PARTITION BY query_id
         |           ORDER BY dist, cid) AS rn FROM qd) WHERE rn <= $nprobe),
         |pairs AS (SELECT DISTINCT query_id, cand_id
         |          FROM qa JOIN ca USING (cell) WHERE query_id != cand_id),
         |scored AS (SELECT pr.query_id, pr.cand_id,
         |             round(list_sum(list_transform(list_zip(q.qv, e2.cv),
         |                     x -> x[1] * x[2])) /
         |                   (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
         |                    sqrt(list_sum(list_transform(e2.cv, x -> x * x)))),
         |               4) AS cos
         |           FROM pairs pr JOIN q USING (query_id)
         |                JOIN e e2 ON pr.cand_id = e2.cand_id)
         |SELECT query_id, cand_id, cos FROM scored
         |WHERE cos >= 0.25 ORDER BY query_id, cand_id""".stripMargin },
    sql("knn_classify", (s, dir) => {
      // kNN label vote (annotation propagation over the labeled slice):
      // exact top-10 neighbors per query, majority label, deterministic
      // tie-break by nearest supporting neighbor then smaller label.
      val emb = GraftSession.table(s, dir, "embeddings")
      graft.functions.Vectors.knnClassify(
        emb.filter(col("vec_id") < 20), emb, "label", k = 10)
        .orderBy("query_id")
    })(
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |      FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |scored AS (
        |  SELECT query_id, cand_id,
        |    round(list_sum(list_transform(list_zip(qv, cv), p -> p[1] * p[2])) /
        |          (sqrt(list_sum(list_transform(qv, x -> x * x))) *
        |           sqrt(list_sum(list_transform(cv, x -> x * x)))), 4) AS cos
        |  FROM c, q WHERE query_id != cand_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, cand_id) AS rank FROM scored),
        |knn AS (SELECT query_id, cand_id, rank FROM ranked WHERE rank <= 10),
        |votes AS (SELECT query_id, CAST(e.label AS BIGINT) AS label,
        |            count(*) AS votes, CAST(min(rank) AS BIGINT) AS best_rank
        |          FROM knn JOIN embeddings e ON e.vec_id = knn.cand_id
        |          GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |         ORDER BY votes DESC, best_rank, label) AS rn FROM votes)
        |SELECT query_id, label AS predicted, votes, best_rank
        |FROM rk WHERE rn = 1 ORDER BY query_id""".stripMargin),
    rendered("knn_classify_indexed", (s, dir) => {
      // The recurring annotation-propagation form: the vote rides the
      // persisted IVF screen (Vectors.knnClassifyIndexed) instead of
      // brute-force dot products — each batch pays its own assignment +
      // the probed-cells join, never O(queries x corpus). Neighbors are
      // approximate (auto nlist/nprobe, the same resolution the
      // centroid-literal oracle replays), so the oracle value-checks the
      // WHOLE probe-then-vote pipeline, not agreement with knn_classify.
      val emb = GraftSession.table(s, dir, "embeddings")
      val idx = graft.functions.IVF.buildIvfIndex(emb)
      graft.functions.Vectors.knnClassifyIndexed(
        emb.filter(col("vec_id") < 20), idx,
        emb.select("vec_id", "label"), "label", k = 10)
        .orderBy("query_id")
    }) { a => import a._
      s"""WITH cent(cid, c) AS (VALUES $cents),
         |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |      FROM embeddings WHERE vec_id < 20),
         |e AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings),
         |cd AS (SELECT cand_id, cid,
         |         list_sum(list_transform(list_zip(cv, c),
         |           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
         |       FROM e, cent),
         |ca AS (SELECT cand_id, cid AS cell FROM (
         |         SELECT *, row_number() OVER (PARTITION BY cand_id
         |           ORDER BY dist, cid) AS rn FROM cd) WHERE rn = 1),
         |qd AS (SELECT query_id, cid,
         |         list_sum(list_transform(list_zip(qv, c),
         |           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
         |       FROM q, cent),
         |qa AS (SELECT query_id, cid AS cell FROM (
         |         SELECT *, row_number() OVER (PARTITION BY query_id
         |           ORDER BY dist, cid) AS rn FROM qd) WHERE rn <= $nprobe),
         |pairs AS (SELECT DISTINCT query_id, cand_id
         |          FROM qa JOIN ca USING (cell) WHERE query_id != cand_id),
         |scored AS (SELECT pr.query_id, pr.cand_id,
         |             round(list_sum(list_transform(list_zip(q.qv, e2.cv),
         |                     x -> x[1] * x[2])) /
         |                   (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
         |                    sqrt(list_sum(list_transform(e2.cv, x -> x * x)))),
         |               4) AS cos
         |           FROM pairs pr JOIN q USING (query_id)
         |                JOIN e e2 ON pr.cand_id = e2.cand_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |             ORDER BY cos DESC, cand_id) AS rank FROM scored),
         |knn AS (SELECT query_id, cand_id, rank FROM ranked WHERE rank <= 10),
         |votes AS (SELECT query_id, CAST(emb.label AS BIGINT) AS label,
         |            count(*) AS votes, CAST(min(rank) AS BIGINT) AS best_rank
         |          FROM knn JOIN embeddings emb ON emb.vec_id = knn.cand_id
         |          GROUP BY 1, 2),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |         ORDER BY votes DESC, best_rank, label) AS rn FROM votes)
         |SELECT query_id, label AS predicted, votes, best_rank
         |FROM rk WHERE rn = 1 ORDER BY query_id""".stripMargin },
    rendered("knn_classify_pq", (s, dir) => {
      // The vote riding the persisted PQ index: stored coarse cells
      // prune the scan, stored 32-bit ADC codes score it — ~4 B read per
      // corpus vector, no raw embeddings. The oracle replays the WHOLE
      // encode-probe-ADC-vote pipeline from the codebook/centroid
      // literals, so the approximate ranks are value-checked too.
      val emb = GraftSession.table(s, dir, "embeddings")
      val idx = graft.functions.PQ.buildPqIndex(emb, dim = 64)
      graft.functions.Vectors.knnClassifyIndexedPq(
        emb.filter(col("vec_id") < 20), idx,
        emb.select("vec_id", "label"), "label", k = 10)
        .orderBy("query_id")
    }) { a => import a._
      s"""WITH $pqEnc,
         |cent(cid, cc) AS (VALUES $cents),
         |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |      FROM embeddings WHERE vec_id < 20),
         |ccd AS (SELECT cand_id, cid,
         |          list_sum(list_transform(list_zip(cv, cc),
         |            p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
         |        FROM e, cent),
         |ca AS (SELECT cand_id, cid AS cell FROM (
         |         SELECT *, row_number() OVER (PARTITION BY cand_id
         |           ORDER BY dist, cid) AS rn FROM ccd) WHERE rn = 1),
         |qcd AS (SELECT query_id, cid,
         |          list_sum(list_transform(list_zip(qv, cc),
         |            p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
         |        FROM q, cent),
         |qa AS (SELECT query_id, cid AS cell FROM (
         |         SELECT *, row_number() OVER (PARTITION BY query_id
         |           ORDER BY dist, cid) AS rn FROM qcd) WHERE rn <= $nprobe),
         |pairs AS (SELECT DISTINCT query_id, cand_id
         |          FROM qa JOIN ca USING (cell) WHERE query_id != cand_id),
         |rj AS (SELECT enc.cand_id, enc.j,
         |         list_sum(list_transform(cb.v, x -> x * x)) AS nsq
         |       FROM enc JOIN cb ON cb.j = enc.j AND cb.c = enc.code),
         |rn2 AS (SELECT cand_id, sqrt(list_sum(list(nsq ORDER BY j))) AS rn
         |        FROM rj GROUP BY cand_id),
         |st AS (SELECT pr.query_id, pr.cand_id, enc.j,
         |         list_sum(list_transform(range(1, 9),
         |           d -> q.qv[enc.j * 8 + d] * cb.v[d])) AS t
         |       FROM pairs pr
         |       JOIN q USING (query_id)
         |       JOIN enc ON enc.cand_id = pr.cand_id
         |       JOIN cb ON cb.j = enc.j AND cb.c = enc.code),
         |ip AS (SELECT query_id, cand_id, list_sum(list(t ORDER BY j)) AS ip
         |       FROM st GROUP BY query_id, cand_id),
         |qn AS (SELECT query_id,
         |         sqrt(list_sum(list_transform(qv, x -> x * x))) AS qn
         |       FROM q),
         |scored AS (SELECT ip.query_id, ip.cand_id,
         |             round(ip.ip / (qn.qn * rn2.rn), 4) AS score
         |           FROM ip JOIN qn USING (query_id)
         |                   JOIN rn2 USING (cand_id)),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |             ORDER BY score DESC, cand_id) AS rank FROM scored),
         |knn AS (SELECT query_id, cand_id, rank FROM ranked WHERE rank <= 10),
         |votes AS (SELECT query_id, CAST(emb.label AS BIGINT) AS label,
         |            count(*) AS votes, CAST(min(rank) AS BIGINT) AS best_rank
         |          FROM knn JOIN embeddings emb ON emb.vec_id = knn.cand_id
         |          GROUP BY 1, 2),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |         ORDER BY votes DESC, best_rank, label) AS rn FROM votes)
         |SELECT query_id, label AS predicted, votes, best_rank
         |FROM rk WHERE rn = 1 ORDER BY query_id""".stripMargin },
    sql("ann_lsh_topk", (s, dir) => {
      val emb = GraftSession.table(s, dir, "embeddings")
      graft.functions.Vectors.lshTopK(
        emb.filter(col("vec_id") < 5), emb, dim = 64, k = 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    })(
      // Full value-level mirrors of the multi-table hyperplane LSH: the
      // planes are deterministic and data-independent, embedded as literal
      // coefficient rows, so candidate generation + verification replay
      // exactly in SQL.
      s"""WITH ${Oracle.lshCoefCte},
         |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |      FROM embeddings WHERE vec_id < 5),
         |cand AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings),
         |qb AS (SELECT query_id, tbl,
         |         sum(CASE WHEN d >= 0 THEN 1 << p ELSE 0 END) AS bucket
         |       FROM (SELECT query_id, coef.tbl, coef.p,
         |               list_sum(list_transform(list_zip(qv, coef.c),
         |                 x -> x[1] * x[2])) AS d
         |             FROM q, coef) GROUP BY query_id, tbl),
         |cb AS (SELECT cand_id, tbl,
         |         sum(CASE WHEN d >= 0 THEN 1 << p ELSE 0 END) AS bucket
         |       FROM (SELECT cand_id, coef.tbl, coef.p,
         |               list_sum(list_transform(list_zip(cv, coef.c),
         |                 x -> x[1] * x[2])) AS d
         |             FROM cand, coef) GROUP BY cand_id, tbl),
         |pairs AS (SELECT DISTINCT query_id, cand_id
         |          FROM qb JOIN cb USING (tbl, bucket)
         |          WHERE query_id != cand_id),
         |scored AS (SELECT pr.query_id, pr.cand_id,
         |             round(list_sum(list_transform(list_zip(q.qv, cand.cv),
         |                     x -> x[1] * x[2])) /
         |                   (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
         |                    sqrt(list_sum(list_transform(cand.cv, x -> x * x)))),
         |               4) AS cos
         |           FROM pairs pr JOIN q USING (query_id) JOIN cand USING (cand_id)),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |             ORDER BY cos DESC, cand_id) AS rank FROM scored)
         |SELECT query_id, cand_id, cos, CAST(rank AS BIGINT) AS rank
         |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),
    rendered("ann_ivf_topk", (s, dir) => {
      val emb = GraftSession.table(s, dir, "embeddings")
      graft.functions.IVF.ivfTopK(emb.filter(col("vec_id") < 5), emb, k = 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    })(annIvfTopkOracle),
    rendered("ann_ivf_topk_indexed", (s, dir) => {
      // The recurring-query form: quantizer + corpus assignment built
      // ONCE (IVF.buildIvfIndex — at 100 TB, persisted to parquet and
      // amortized over every batch), each query batch paying only its
      // own assignment + the probed-cell join. Values identical to
      // ann_ivf_topk by construction; the oracle replays the same
      // centroid-literal SQL.
      val emb = GraftSession.table(s, dir, "embeddings")
      val idx = graft.functions.IVF.buildIvfIndex(emb)
      graft.functions.IVF.ivfTopKIndexed(
          emb.filter(col("vec_id") < 5), idx, k = 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    })(annIvfTopkOracle),
    rendered("pq_codes", (s, dir) => {
      // Product-quantization code stream, exploded to scalars so the
      // oracle value-checks every (vector, subspace, centroid id) cell.
      val emb = GraftSession.table(s, dir, "embeddings")
      val cb = graft.functions.PQ.trainCodebooks(emb, dim = 64)
      graft.functions.PQ.encode(emb, cb).orderBy("vec_id", "j")
    }) { a => import a._
      s"""WITH $pqEnc
         |SELECT cand_id AS vec_id, CAST(j AS BIGINT) AS j,
         |  CAST(code AS BIGINT) AS code
         |FROM enc ORDER BY vec_id, j""".stripMargin },
    rendered("pq_topk", (s, dir) => {
      val emb = GraftSession.table(s, dir, "embeddings")
      val cb = graft.functions.PQ.trainCodebooks(emb, dim = 64)
      graft.functions.PQ.pqTopK(emb.filter(col("vec_id") < 5), emb, cb, k = 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    })(pqTopkOracle),
    rendered("ivfpq_topk", (s, dir) => {
      val emb = GraftSession.table(s, dir, "embeddings")
      // Auto-scaled cell count (√n) — the same resolution the dynamic
      // oracle runs, so the SQL centroid literals and probe count agree.
      val cents = graft.functions.IVF.trainCentroids(
        emb, graft.functions.IVF.resolveNlist(emb, 0))
      val cb = graft.functions.PQ.trainCodebooks(emb, dim = 64)
      graft.functions.PQ.ivfpqTopK(
          emb.filter(col("vec_id") < 5), emb, cents, cb, k = 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    })(ivfpqTopkOracle),
    rendered("pq_topk_indexed", (s, dir) => {
      // ADC screen against the persisted PQ index: stored 32-bit codes +
      // reconstructed norms, no raw-embedding re-read, no re-encode
      // (PQ.buildPqIndex / pqTopKIndexed; value-identical to pq_topk).
      val emb = GraftSession.table(s, dir, "embeddings")
      val idx = graft.functions.PQ.buildPqIndex(emb, dim = 64)
      graft.functions.PQ.pqTopKIndexed(emb.filter(col("vec_id") < 5), idx, k = 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    })(pqTopkOracle),
    rendered("ivfpq_topk_indexed", (s, dir) => {
      // IVF-PQ against the same persisted index: stored cell ids prune
      // the code scan to each query's probed cells.
      val emb = GraftSession.table(s, dir, "embeddings")
      val idx = graft.functions.PQ.buildPqIndex(emb, dim = 64)
      graft.functions.PQ.ivfpqTopKIndexed(
          emb.filter(col("vec_id") < 5), idx, k = 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    })(ivfpqTopkOracle),
    sql("pq_recall", (s, dir) => {
      // ADC over 32-bit codes vs exact cosine: recall@10 floor. PQ trades
      // memory (64x here) for recall — the floor is the operating
      // contract, verified against the brute-force truth.
      val emb = GraftSession.table(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val cb = graft.functions.PQ.trainCodebooks(emb, dim = 64)
      val exact = graft.functions.Vectors.bruteForceTopK(q, emb, k = 10)
        .select("query_id", "cand_id")
      val pq = graft.functions.PQ.pqTopK(q, emb, cb, k = 10)
        .select("query_id", "cand_id")
      val hits = exact.join(pq, Seq("query_id", "cand_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      q.select(col("vec_id").as("query_id")).join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("hits"), lit(0L)) >= 1).as("recall_ok"))
        .orderBy("query_id")
    })(
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin),
    sql("embed_stats", (s, dir) => {
      // Per-group element/norm extrema: min/max are order-independent, so
      // doubles stay bit-exact across engines (unlike a mean vector).
      val emb = GraftSession.table(s, dir, "embeddings")
      emb.select((col("vec_id") % 5).as("grp"),
          element_at(col("embedding"), 1).cast("double").as("x0"),
          graft.functions.Vectors.norm(col("embedding")).as("nrm"))
        .groupBy("grp").agg(count(lit(1)).as("n"),
          min("x0").as("min_x0"), max("x0").as("max_x0"),
          min("nrm").as("min_norm"), max("nrm").as("max_norm"))
        .orderBy("grp")
    })(
      """WITH e AS (
        |  SELECT vec_id % 5 AS grp, embedding[1]::DOUBLE AS x0,
        |         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        |  FROM embeddings)
        |SELECT grp, count(*) AS n, min(x0) AS min_x0, max(x0) AS max_x0,
        |       min(nrm) AS min_norm, max(nrm) AS max_norm
        |FROM e GROUP BY grp ORDER BY grp""".stripMargin),
    sql("embed_quantize", (s, dir) => {
      // int8 quantization checked two ways: the code stream itself
      // (code_sum — exact integer parity with the SQL mirror) and the
      // reconstruction error bound (<= scale/2, the quantizer's contract).
      val q = graft.functions.Vectors.quantize8(
        GraftSession.table(s, dir, "embeddings"))
      val emb = GraftSession.table(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      q.join(emb, Seq("vec_id"))
        .select(col("vec_id"),
          aggregate(col("codes"), lit(0L), (acc, c) => acc + c).as("code_sum"),
          (aggregate(
            zip_with(col("embedding"), col("codes"), (x, c) =>
              abs(x.cast("double") - (col("minv") + c * col("scale")))),
            lit(0.0), (acc, e) => greatest(acc, e))
            <= col("scale") / 2 + lit(1e-12)).as("err_ok"))
        .orderBy("vec_id")
    })(
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id, v, list_min(v) AS mn,
        |        (list_max(v) - list_min(v)) / 255.0 AS scale FROM e)
        |SELECT vec_id,
        |  CAST(CASE WHEN scale = 0 THEN 0
        |       ELSE list_sum(list_transform(v,
        |              x -> CAST(round((x - mn) / scale) AS BIGINT)))
        |       END AS BIGINT) AS code_sum,
        |  true AS err_ok
        |FROM q ORDER BY vec_id""".stripMargin),
    sql("embed_neardup", (s, dir) =>
      graft.functions.Vectors.bruteForceNearDups(
        GraftSession.table(s, dir, "embeddings"), threshold = 0.45)
        .orderBy("id_a", "id_b"))(
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) /
        |        (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
        |         sqrt(list_sum(list_transform(b.v, x -> x * x)))), 4) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) /
        |            (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
        |             sqrt(list_sum(list_transform(b.v, x -> x * x)))), 4) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin),
    sql("embed_neardup_lsh", (s, dir) =>
      graft.functions.Vectors.embeddingNearDups(
        GraftSession.table(s, dir, "embeddings"), dim = 64, threshold = 0.45)
        .orderBy("id_a", "id_b"))(
      s"""WITH ${Oracle.lshCoefCte},
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT vec_id, tbl,
         |        sum(CASE WHEN d >= 0 THEN 1 << p ELSE 0 END) AS bucket
         |      FROM (SELECT vec_id, coef.tbl, coef.p,
         |              list_sum(list_transform(list_zip(v, coef.c),
         |                x -> x[1] * x[2])) AS d
         |            FROM e, coef) GROUP BY vec_id, tbl),
         |pairs AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |          FROM b x JOIN b y
         |            ON x.tbl = y.tbl AND x.bucket = y.bucket
         |           AND x.vec_id < y.vec_id),
         |scored AS (SELECT id_a, id_b,
         |             round(list_sum(list_transform(list_zip(ea.v, eb.v),
         |                     x -> x[1] * x[2])) /
         |                   (sqrt(list_sum(list_transform(ea.v, x -> x * x))) *
         |                    sqrt(list_sum(list_transform(eb.v, x -> x * x)))),
         |               4) AS cos
         |           FROM pairs JOIN e ea ON id_a = ea.vec_id
         |                      JOIN e eb ON id_b = eb.vec_id)
         |SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.45
         |ORDER BY id_a, id_b""".stripMargin),
    // Invariant queries making the approximate operators oracle-checkable:
    // the SET an LSH/IVF index returns is not SQL-reproducible, but its
    // contract (recall floor vs the exact result, zero false positives
    // after verification) is.
    sql("ann_lsh_recall", (s, dir) => {
      val emb = GraftSession.table(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val exact = graft.functions.Vectors.bruteForceTopK(q, emb, k = 10)
        .select("query_id", "cand_id")
      val lsh = graft.functions.Vectors.lshTopK(q, emb, dim = 64, k = 10)
        .select("query_id", "cand_id")
      val hits = exact.join(lsh, Seq("query_id", "cand_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      q.select(col("vec_id").as("query_id")).join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("hits"), lit(0L)) >= 4).as("recall_ok"))
        .orderBy("query_id")
    })(
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin),
    sql("ann_ivf_recall", (s, dir) => {
      val emb = GraftSession.table(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val exact = graft.functions.Vectors.bruteForceTopK(q, emb, k = 10)
        .select("query_id", "cand_id")
      val ivf = graft.functions.IVF.ivfTopK(q, emb, k = 10)
        .select("query_id", "cand_id")
      val hits = exact.join(ivf, Seq("query_id", "cand_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      q.select(col("vec_id").as("query_id")).join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("hits"), lit(0L)) >= 3).as("recall_ok"))
        .orderBy("query_id")
    })(
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin),
    sql("embed_neardup_lsh_check", (s, dir) => {
      val emb = GraftSession.table(s, dir, "embeddings")
      val exact = graft.functions.Vectors.bruteForceNearDups(emb, threshold = 0.45)
        .select("id_a", "id_b").withColumn("in_exact", lit(1))
      val lsh = graft.functions.Vectors.embeddingNearDups(emb, dim = 64, threshold = 0.45)
        .select("id_a", "id_b").withColumn("in_lsh", lit(1))
      lsh.join(exact, Seq("id_a", "id_b"), "full_outer")
        .agg(
          sum(when(col("in_lsh").isNotNull && col("in_exact").isNull, 1)
            .otherwise(0)).cast("long").as("n_false_positives"),
          (sum(when(col("in_lsh").isNotNull && col("in_exact").isNotNull, 1)
            .otherwise(0))
            >= sum(when(col("in_exact").isNotNull, 1).otherwise(0)) * 0.5)
            .as("recall_ok"))
    })(
      "SELECT CAST(0 AS BIGINT) AS n_false_positives, true AS recall_ok"))
}
