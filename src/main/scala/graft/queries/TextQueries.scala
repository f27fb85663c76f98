package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftCaches.Cacheable
import Query._

/** Training-data pipeline queries: text analysis and dedup, each declared with its oracle. */
private[graft] object TextQueries {

  /** The bm25_topk query's bounded term set — shared by the query and
    * its dynamic oracle so the idf literals replay the same model. */
  private val Bm25Terms = Seq("spark", "window", "vector", "customer", "merge")

  /** The bm25_batch fixture: three queries with overlapping term sets
    * (one term unseen in the corpus — df 0 must contribute nothing),
    * shared by the query and its dynamic oracle. */
  private[queries] val Bm25BatchQueries: Seq[(Long, Seq[String])] = Seq(
    (1L, Seq("spark", "window", "vector")),
    (2L, Seq("customer", "merge")),
    (3L, Seq("merge", "window", "zzzunseen")))
  private val qtVals = Bm25BatchQueries.flatMap { case (qid, ts) =>
    ts.distinct.map(t => s"($qid, '${t.replace("'", "''")}')")
  }.mkString(", ")

  /** FIXED per-input /tmp export dir for the binary-artifact queries,
    * keyed by an md5 of the input path — NOT `String.hashCode`:
    * `math.abs(Int.MinValue)` stays negative, distinct dataset dirs
    * can collide on a 32-bit hash, and two colliding concurrent runs
    * would share one directory — one run's stale-shard sweep deleting
    * files the other is mid-read on. 128 md5 bits keyed off the full
    * path close both. */
  private def binTmpDir(tag: String, dir: String): String = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${System.getProperty("java.io.tmpdir")}/graft-$tag-$hex"
  }

  /** Recursively clear one of this module's OWN md5-keyed /tmp export
    * roots (the managed-family queries rebuild their root per
    * invocation so each run's digest gate is deterministic). */
  private def clearBinTmpDir(s: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** The ingest_screen family's shared fixture: index = odd ids plus
    * the doc_id % 4 == 0 batch slice (the "previously ingested" set),
    * batch = even ids, threshold 0.7 — derived in ONE place because
    * ingest_screen_tokens' oracle NESTS ingest_screen's SQL, so the two
    * queries' operator spines must be a single code path (a fixture
    * tune that moved only one would silently split them from the
    * shared oracle base). Returns (batch, screenBatch decisions). */
  private def ingestScreenFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val d = GraftSession.table(s, dir, "documents")
    val idxDocs = d.filter(col("doc_id") % 2 === 1 ||
      col("doc_id") % 4 === 0)
    val batch = d.filter(col("doc_id") % 2 === 0)
    // The index frames enter the screen behind a lineage barrier
    // (GraftCaches.checkpointCut — guide-standard plan truncation,
    // registered for scoped/clearAll reclamation like every other
    // intermediate; a raw localCheckpoint's blocks would wait on the
    // GC-driven ContextCleaner): in production the stored indexes ARE
    // parquet scans with two-node lineage; the fixture's in-query
    // rebuild otherwise rides its whole build tree into every
    // downstream diamond of the screen chain, and the composed query's
    // measured cost was ~2 s of pure driver planning (a planning-only
    // probe: the composed plan forced without running a job). Values are
    // unchanged — the barrier materializes the same deterministic rows
    // this invocation just built from the parquet inputs.
    val decisions = graft.functions.Ingest.screenBatch(
      batch,
      graft.GraftCaches.checkpointCut(
        graft.functions.Dedup.nearDupIndex(idxDocs, "doc_id", "text")),
      graft.GraftCaches.checkpointCut(
        graft.functions.Dedup.chunkIndex(idxDocs, "doc_id", "text")),
      "doc_id", "text", threshold = 0.7)
    (batch, decisions)
  }

  // hybrid_topk: the bm25_batch idf-literal replay (top-20 cut) and
  // the ann_ivf centroid-literal replay (top-20, query vec_ids =
  // the batch query ids) composed through the integer RRF formula —
  // every contribution 1000000 // (60 + rank), fused score an exact
  // BIGINT sum, final rank (rrf_micro DESC, doc_id). hybrid_topk_indexed
  // and bm25_batch_model serve the same models from persisted artifacts,
  // so each reads its live form's oracle.
  private def hybridTopkOracle(a: Artifacts): String = { import a._
    val qids = Bm25BatchQueries.map(_._1).mkString(", ")
    val k1 = 1.2; val b = 0.75
    s"""WITH idf(term, idf_micro) AS (VALUES $unionVals),
       |qt(query_id, term) AS (VALUES $qtVals),
       |${Oracle.wordsCte.stripPrefix("WITH ")},
       |stats AS (SELECT CAST(sum(len(words)) AS BIGINT)::DOUBLE /
       |            count(*) AS avgdl FROM w),
       |tok AS (SELECT doc_id, len(words) AS dl, unnest(words) AS term
       |        FROM w),
       |tf AS (SELECT doc_id, term, dl, count(*) AS tf
       |       FROM tok JOIN idf USING (term) GROUP BY 1, 2, 3),
       |bx AS (SELECT qt.query_id, tf.doc_id,
       |        CAST(floor(idf_micro * (tf * ${k1 + 1.0}) /
       |          (tf + $k1 * (${1.0 - b} + $b * (dl / avgdl))))
       |          AS BIGINT) AS cm
       |      FROM tf JOIN idf USING (term) JOIN qt USING (term), stats),
       |bs AS (SELECT query_id, doc_id,
       |         CAST(sum(cm) AS BIGINT) AS score_micro
       |       FROM bx GROUP BY 1, 2),
       |lr AS (SELECT query_id, doc_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY score_micro DESC, doc_id) AS rank
       |       FROM bs),
       |cent(cid, c) AS (VALUES $cents),
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |      FROM embeddings WHERE vec_id IN ($qids)),
       |e AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv
       |      FROM embeddings),
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
       |vr AS (SELECT query_id, cand_id AS doc_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos DESC, cand_id) AS rank
       |       FROM scored),
       |u AS (SELECT query_id, doc_id, 1000000 // (60 + rank) AS c
       |      FROM lr WHERE rank <= 20
       |      UNION ALL
       |      SELECT query_id, doc_id, 1000000 // (60 + rank)
       |      FROM vr WHERE rank <= 20),
       |f AS (SELECT query_id, doc_id,
       |        CAST(sum(c) AS BIGINT) AS rrf_micro,
       |        CAST(count(*) AS BIGINT) AS n_rankers
       |      FROM u GROUP BY 1, 2),
       |fr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |         ORDER BY rrf_micro DESC, doc_id) AS rank
       |       FROM f)
       |SELECT CAST(query_id AS BIGINT) AS query_id,
       |       CAST(doc_id AS BIGINT) AS doc_id, rrf_micro, n_rankers,
       |       CAST(rank AS BIGINT) AS rank
       |FROM fr WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin }

  // bm25_batch: the bm25_topk replay with a (query_id, term) table —
  // the UNION term set's idf literals render once (same bm25Idf code
  // path the operator trains with), each query's contributions join
  // through qt, and the rank window partitions by query_id.
  private def bm25BatchOracle(a: Artifacts): String = { import a._
    val k1 = 1.2; val b = 0.75
    s"""WITH idf(term, idf_micro) AS (VALUES $unionVals),
       |qt(query_id, term) AS (VALUES $qtVals),
       |${Oracle.wordsCte.stripPrefix("WITH ")},
       |stats AS (SELECT CAST(sum(len(words)) AS BIGINT)::DOUBLE /
       |            count(*) AS avgdl FROM w),
       |tok AS (SELECT doc_id, len(words) AS dl, unnest(words) AS term
       |        FROM w),
       |tf AS (SELECT doc_id, term, dl, count(*) AS tf
       |       FROM tok JOIN idf USING (term) GROUP BY 1, 2, 3),
       |c AS (SELECT qt.query_id, tf.doc_id,
       |        CAST(floor(idf_micro * (tf * ${k1 + 1.0}) /
       |          (tf + $k1 * (${1.0 - b} + $b * (dl / avgdl))))
       |          AS BIGINT) AS cm
       |      FROM tf JOIN idf USING (term) JOIN qt USING (term), stats),
       |sc AS (SELECT query_id, doc_id,
       |         CAST(sum(cm) AS BIGINT) AS score_micro,
       |         count(*) AS n_terms FROM c GROUP BY 1, 2),
       |r AS (SELECT query_id, doc_id, score_micro,
       |        CAST(n_terms AS BIGINT) AS n_terms,
       |        CAST(row_number() OVER (PARTITION BY query_id
       |          ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
       |      FROM sc)
       |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
       |       score_micro, n_terms, rank FROM r
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin }

  /** ingest_screen's oracle; ingest_screen_tokens nests it. */
  private val ingestScreenOracle: String =
    // The full ingestion decision: accepted_prior short-circuit on index
    // membership, exhaustive-jaccard mirror of the banded near-dup
    // screen (recall-1.0 at tau 0.7, as for ingest_dedup_indexed), then
    // the CDC chunk screen over the SURVIVORS at maxDf 1 / 50% dup
    // budget, with batch-internal counts included (b_cnt + stored).
    s"""${Oracle.shingleCtes},
       |hx AS (SELECT DISTINCT doc_id,
       |         CAST('0x' || substr(md5(s), 1, 7) AS BIGINT) AS h
       |       FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
       |hsz AS (SELECT doc_id, count(*) AS sz FROM hx GROUP BY 1),
       |ndrej AS (SELECT t.doc_id FROM documents t
       |  WHERE t.doc_id % 4 = 2 AND EXISTS (
       |    SELECT 1
       |    FROM (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
       |          FROM hx a JOIN hx b ON a.h = b.h
       |          WHERE a.doc_id = t.doc_id
       |            AND (b.doc_id % 2 = 1 OR b.doc_id % 4 = 0)
       |            AND b.doc_id != t.doc_id
       |          GROUP BY 1, 2) j
       |    JOIN hsz za ON za.doc_id = j.ia
       |    JOIN hsz zb ON zb.doc_id = j.ib
       |    WHERE j.inter::DOUBLE / (za.sz + zb.sz - j.inter) >= 0.7)),
       |tok AS (SELECT doc_id, i, words[CAST(i + 1 AS INTEGER)] AS word
       |        FROM (SELECT doc_id, words, unnest(range(0, len(words))) AS i
       |              FROM w WHERE norm != '')),
       |anch AS (SELECT doc_id, i, word,
       |           CASE WHEN CAST('0x' || substr(md5(word), 1, 7) AS BIGINT) % 8 = 0
       |                THEN 1 ELSE 0 END AS isb
       |         FROM tok),
       |runs AS (SELECT doc_id, i, word,
       |           coalesce(sum(isb) OVER (PARTITION BY doc_id ORDER BY i
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS run_id
       |         FROM anch),
       |subs AS (SELECT doc_id, i, word, run_id,
       |           (row_number() OVER (PARTITION BY doc_id, run_id ORDER BY i) - 1) // 32 AS sub_id
       |         FROM runs),
       |ch AS (SELECT doc_id, CAST(min(i) AS BIGINT) AS pos,
       |         string_agg(word, ' ' ORDER BY i) AS chunk
       |       FROM subs GROUP BY doc_id, run_id, sub_id),
       |ci AS (SELECT chunk, count(*) AS idx_cnt FROM ch
       |       WHERE doc_id % 2 = 1 OR doc_id % 4 = 0 GROUP BY chunk),
       |surv AS (SELECT doc_id FROM documents
       |         WHERE doc_id % 4 = 2
       |           AND doc_id NOT IN (SELECT doc_id FROM ndrej)),
       |bc AS (SELECT ch.* FROM ch JOIN surv USING (doc_id)),
       |bcnt AS (SELECT chunk, count(*) AS b_cnt FROM bc GROUP BY chunk),
       |cc AS (SELECT bc.doc_id, b_cnt + coalesce(idx_cnt, 0) AS df_cnt
       |       FROM bc JOIN bcnt USING (chunk) LEFT JOIN ci USING (chunk)),
       |ag AS (SELECT doc_id, count(*) AS n_chunks,
       |         sum(CASE WHEN df_cnt > 1 THEN 1 ELSE 0 END) AS n_dup
       |       FROM cc GROUP BY doc_id),
       |chrej AS (SELECT s2.doc_id FROM surv s2 LEFT JOIN ag USING (doc_id)
       |          WHERE coalesce(n_chunks, 0) != 0
       |            AND NOT (n_dup::DOUBLE / n_chunks < 0.5))
       |SELECT b.doc_id,
       |       CASE WHEN b.doc_id % 4 = 0 THEN 'accepted_prior'
       |            WHEN b.doc_id IN (SELECT doc_id FROM ndrej) THEN 'rejected_neardup'
       |            WHEN b.doc_id IN (SELECT doc_id FROM chrej) THEN 'rejected_chunks'
       |            ELSE 'accepted' END AS decision
       |FROM documents b WHERE b.doc_id % 2 = 0
       |ORDER BY b.doc_id""".stripMargin

  // embed_outliers_scored scores the training corpus against its own
  // persisted yardstick: value-identical to the live screen, so both
  // read this oracle.
  private def embedOutliersOracle(a: Artifacts): String = { import a._
    s"""WITH cent(cid, c) AS (VALUES $cents),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cd AS (SELECT vec_id, cid,
       |         list_sum(list_transform(list_zip(v, c),
       |           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
       |       FROM e, cent),
       |ca AS (SELECT vec_id, cid AS cell, dist FROM (
       |         SELECT *, row_number() OVER (PARTITION BY vec_id
       |           ORDER BY dist, cid) AS rn FROM cd) WHERE rn = 1),
       |dm AS (SELECT vec_id, CAST(cell AS BIGINT) AS cell,
       |         CAST(round(1000000 * dist) AS BIGINT) AS dist_micro
       |       FROM ca),
       |pc AS (SELECT cell, quantile_cont(dist_micro, 0.9) AS p
       |       FROM dm GROUP BY cell)
       |SELECT vec_id, dm.cell, dist_micro,
       |       (dist_micro > 2.0 * p) AS outlier
       |FROM dm JOIN pc USING (cell)
       |ORDER BY vec_id""".stripMargin }

  // embed_cluster: the embed_outliers assignment replay (same cent
  // literals, same list-order dist sum, same micro quantization)
  // plus the nlist-row size rollup. The stored-quantizer forms
  // (embed_cluster_model, cluster_sample_model) score the training corpus
  // against its own persisted model — value-identical to the live calls
  // by construction (one scoring code path), same literal replay.
  private def embedClusterOracle(a: Artifacts): String = { import a._
    s"""WITH cent(cid, c) AS (VALUES $cents),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cd AS (SELECT vec_id, cid,
       |         list_sum(list_transform(list_zip(v, c),
       |           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
       |       FROM e, cent),
       |ca AS (SELECT vec_id, cid AS cluster, dist FROM (
       |         SELECT *, row_number() OVER (PARTITION BY vec_id
       |           ORDER BY dist, cid) AS rn FROM cd) WHERE rn = 1),
       |sz AS (SELECT cluster, count(*) AS cluster_size
       |       FROM ca GROUP BY 1)
       |SELECT ca.vec_id, CAST(ca.cluster AS BIGINT) AS cluster,
       |       CAST(round(1000000 * dist) AS BIGINT) AS dist_micro,
       |       CAST(cluster_size AS BIGINT) AS cluster_size
       |FROM ca JOIN sz USING (cluster)
       |ORDER BY vec_id""".stripMargin }

  // cluster_sample: the embed_cluster assignment replay + the
  // corpus_mix md5-rank draw, 5 per cell.
  private def clusterSampleOracle(a: Artifacts): String = { import a._
    s"""WITH cent(cid, c) AS (VALUES $cents),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cd AS (SELECT vec_id, cid,
       |         list_sum(list_transform(list_zip(v, c),
       |           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
       |       FROM e, cent),
       |ca AS (SELECT vec_id, cid AS cluster FROM (
       |         SELECT *, row_number() OVER (PARTITION BY vec_id
       |           ORDER BY dist, cid) AS rn FROM cd) WHERE rn = 1),
       |rk AS (SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
       |         CAST(row_number() OVER (PARTITION BY cluster
       |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
       |           AS BIGINT) AS rk
       |       FROM ca)
       |SELECT vec_id, cluster, rk FROM rk WHERE rk <= 5
       |ORDER BY vec_id""".stripMargin }

  // pack_ids_digest's oracle; bin_digest's one-shot export replays it.
  private def packIdsDigestOracle(a: Artifacts): String = { import a._
    s"""$packIdsStreamCtes
       |SELECT ns.shard, CAST(ns.n_seqs AS BIGINT) AS n_seqs,
       |       CAST(count(*) AS BIGINT) AS n_ids,
       |       CAST(sum((sq.abs + 1) * (sq.id + 2)) AS BIGINT)
       |         AS sum_digest,
       |       CAST(bit_xor((sq.abs + 1) * 1000003 + sq.id + 2)
       |         AS BIGINT) AS xor_digest
       |FROM sq JOIN ns ON ns.shard = sq.shard
       |WHERE sq.seq < ns.n_seqs
       |GROUP BY ns.shard, ns.n_seqs
       |ORDER BY ns.shard""".stripMargin }

  // pack_nosplit_digest's oracle; bin_digest_sft's export replays it.
  private def packNoSplitDigestOracle(a: Artifacts): String = { import a._
    s"""$packNoSplitDigestCtes
       |SELECT sd.shard, sd.n_bins, sd.n_docs,
       |       CAST(coalesce(idd.n_ids, 0) AS BIGINT) AS n_ids,
       |       CAST(coalesce(idd.sum_digest, 0) AS BIGINT) AS sum_digest,
       |       CAST(coalesce(idd.xor_digest, 0) AS BIGINT) AS xor_digest,
       |       sd.starts_digest
       |FROM sd LEFT JOIN idd USING (shard)
       |ORDER BY sd.shard""".stripMargin }

  val entries: Seq[Query] = Seq(
    sql("doc_stats", (s, dir) => {
      val docs = GraftSession.table(s, dir, "documents")
      graft.functions.TextFunctions.docStats(docs, "doc_id", "text")
        .select(
          col("doc_id"),
          col("n_tokens"),
          col("n_subwords"),
          col("punct_raw").as("punct_ratio"),
          col("stop_raw").as("stopword_ratio"),
          col("quality"),
          col("lang_pred"),
          col("fingerprint"))
        .orderBy("doc_id")
    })(
      s"""${Oracle.docCtes}
         |SELECT doc_id, n_tokens, n_subwords,
         |  punct_raw AS punct_ratio,
         |  stop_raw AS stopword_ratio,
         |  least(n_tokens / 50.0, 1.0) * 0.5 + least(stop_raw * 5.0, 1.0) * 0.3 +
         |       (1.0 - least(punct_raw * 5.0, 1.0)) * 0.2 AS quality,
         |  CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |       WHEN best = 0 THEN 'und'
         |       WHEN s_en = best THEN 'en'
         |       WHEN s_es = best THEN 'es'
         |       WHEN s_de = best THEN 'de'
         |       ELSE 'fr' END AS lang_pred,
         |  md5(norm) AS fingerprint
         |FROM scored ORDER BY doc_id""".stripMargin),
    sql("lang_id_eval", (s, dir) => {
      // Classifier evaluation against the corpus' ground-truth labels:
      // the language-ID heuristic's confusion counts over the `lang`
      // column (the judge of a gate is part of the pipeline — a mix
      // rebalance or gate-threshold change should be driven by these
      // counts, not by eyeballing lang_pred). On the synthetic corpus it
      // exposes exactly the kind of disagreement it exists to catch: the
      // non-en-labeled docs carry English-leaning token salad (no CJK at
      // all), so the heuristic predicts en/und across every label — a
      // real pipeline seeing this matrix knows its lang gate and its
      // upstream labels cannot both be trusted.
      val docs = GraftSession.table(s, dir, "documents")
      docs.select(col("lang"),
          graft.functions.TextFunctions.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")
    })(
      s"""${Oracle.docCtes},
         |pred AS (SELECT doc_id,
         |  CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |       WHEN best = 0 THEN 'und'
         |       WHEN s_en = best THEN 'en'
         |       WHEN s_es = best THEN 'es'
         |       WHEN s_de = best THEN 'de'
         |       ELSE 'fr' END AS lang_pred
         |  FROM scored)
         |SELECT d.lang, p.lang_pred, count(*) AS n
         |FROM documents d JOIN pred p USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    sql("span_dupes", (s, dir) => {
      // Cross-doc duplicated-passage audit: which docs are how much
      // verbatim-shared 5-gram span (exact substring dedup's detection
      // half; the scrub half is span_scrub).
      val docs = GraftSession.table(s, dir, "documents")
      graft.functions.Spans.spanDupes(docs, "doc_id", "text", k = 5)
        .orderBy("doc_id")
    })(
      s"""${Oracle.spanCtes},
         |dup AS (SELECT span FROM (
         |          SELECT span, count(DISTINCT doc_id) AS df
         |          FROM sp GROUP BY 1) WHERE df >= 2),
         |tot AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY 1),
         |nd AS (SELECT sp.doc_id, count(*) AS n_dup FROM sp
         |       JOIN dup USING (span) GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(tot.n_spans, 0) AS n_spans,
         |  COALESCE(nd.n_dup, 0) AS n_dup_spans,
         |  CASE WHEN COALESCE(tot.n_spans, 0) = 0 THEN 0.0
         |       ELSE COALESCE(nd.n_dup, 0)::DOUBLE / tot.n_spans
         |  END AS dup_frac
         |FROM documents d
         |LEFT JOIN tot ON tot.doc_id = d.doc_id
         |LEFT JOIN nd ON nd.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),
    sql("span_scrub", (s, dir) => {
      // The removal half: every token covered by a duplicated 5-gram
      // span is dropped from every doc except the span's keeper
      // (smallest containing doc_id) — one canonical copy survives
      // corpus-wide (Lee et al. 2022 exact substring dedup).
      val docs = GraftSession.table(s, dir, "documents")
      graft.functions.Spans.spanScrub(docs, "doc_id", "text", k = 5)
        .orderBy("doc_id")
    })(
      s"""${Oracle.spanCtes},
         |kp AS (SELECT span, min(doc_id) AS keeper FROM sp
         |       GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
         |scr AS (SELECT sp.doc_id, sp.pos FROM sp
         |        JOIN kp USING (span) WHERE sp.doc_id != kp.keeper),
         |cov AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 5)) AS j
         |        FROM scr),
         |tok AS (SELECT doc_id, unnest(words) AS tkn,
         |          unnest(range(1, len(words) + 1)) AS j
         |        FROM w),
         |agg AS (SELECT tok.doc_id,
         |          coalesce(string_agg(
         |            CASE WHEN cov.j IS NULL THEN tkn END,
         |            ' ' ORDER BY tok.j), '') AS clean_text,
         |          count(cov.j) AS n_removed
         |        FROM tok LEFT JOIN cov
         |          ON cov.doc_id = tok.doc_id AND cov.j = tok.j
         |        GROUP BY 1)
         |SELECT d.doc_id, coalesce(agg.clean_text, '') AS clean_text,
         |       coalesce(agg.n_removed, 0) AS n_removed
         |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),
    sql("span_screen", (s, dir) => {
      // The boilerplate screen the ingestion loop's span gate rides:
      // odd docs (the batch) against the even docs' span-occurrence
      // index — per doc, how many of its 5-gram spans the stored set
      // already carries.
      val docs = GraftSession.table(s, dir, "documents")
      val idx = graft.functions.Spans.spanIndex(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", k = 5)
      graft.functions.Spans.spanScreenIndexed(
          docs.filter(col("doc_id") % 2 === 1), idx, "doc_id", "text", k = 5)
        .orderBy("doc_id")
    })(
      s"""${Oracle.spanCtes},
         |spr AS (SELECT DISTINCT span FROM sp WHERE doc_id % 2 = 0),
         |agg AS (SELECT doc_id, count(*) AS n_spans,
         |          CAST(sum(CASE WHEN span IN (SELECT span FROM spr)
         |              THEN 1 ELSE 0 END) AS BIGINT) AS n_ref_spans
         |        FROM sp WHERE doc_id % 2 = 1 GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(agg.n_spans, 0) AS n_spans,
         |  COALESCE(agg.n_ref_spans, 0) AS n_ref_spans
         |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
         |WHERE d.doc_id % 2 = 1
         |ORDER BY d.doc_id""".stripMargin),
    sql("span_scrub_ref", (s, dir) => {
      // The recurring-batch form: odd docs (the batch) scrubbed against
      // even docs (the canonical reference corpus) — one reference
      // occurrence of a 5-gram span is enough to drop it from the batch.
      val docs = GraftSession.table(s, dir, "documents")
      graft.functions.Spans.spanScrubAgainst(
          docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", k = 5)
        .orderBy("doc_id")
    })(
      s"""${Oracle.spanCtes},
         |spr AS (SELECT DISTINCT span FROM sp WHERE doc_id % 2 = 0),
         |scr AS (SELECT doc_id, pos FROM sp
         |        WHERE doc_id % 2 = 1
         |          AND span IN (SELECT span FROM spr)),
         |cov AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 5)) AS j
         |        FROM scr),
         |tok AS (SELECT doc_id, unnest(words) AS tkn,
         |          unnest(range(1, len(words) + 1)) AS j
         |        FROM w WHERE doc_id % 2 = 1),
         |agg AS (SELECT tok.doc_id,
         |          coalesce(string_agg(
         |            CASE WHEN cov.j IS NULL THEN tkn END,
         |            ' ' ORDER BY tok.j), '') AS clean_text,
         |          count(cov.j) AS n_removed
         |        FROM tok LEFT JOIN cov
         |          ON cov.doc_id = tok.doc_id AND cov.j = tok.j
         |        GROUP BY 1)
         |SELECT d.doc_id, coalesce(agg.clean_text, '') AS clean_text,
         |       coalesce(agg.n_removed, 0) AS n_removed
         |FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
         |WHERE d.doc_id % 2 = 1
         |ORDER BY d.doc_id""".stripMargin),
    sql("term_freq", (s, dir) => {
      val docs = GraftSession.table(s, dir, "documents")
      docs.select(explode(
          graft.functions.TextFunctions.words(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(20)
    })(
      s"""${Oracle.wordsCte}
         |SELECT token, count(*) AS n
         |FROM (SELECT unnest(words) AS token FROM w)
         |WHERE token != ''
         |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin),
    sql("corpus_drift", (s, dir) => {
      // Distribution drift between one source and the rest of the
      // corpus: per-word total-variation contribution in exact integer/
      // decimal arithmetic with ONE final IEEE division per word (no
      // logs — libm drift), so the oracle compares bit-exact.
      val docs = GraftSession.table(s, dir, "documents")
      graft.functions.TextFunctions.corpusDrift(
        docs.filter(col("source") === "src0"),
        docs.filter(col("source") =!= "src0"), "text", topN = 50)
    })(
      """WITH wa AS (SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS word
        |            FROM documents WHERE source = 'src0'),
        |wb AS (SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS word
        |       FROM documents WHERE source != 'src0'),
        |fa AS (SELECT word, count(*) AS cnt_a FROM wa GROUP BY word),
        |fb AS (SELECT word, count(*) AS cnt_b FROM wb GROUP BY word),
        |j AS (SELECT coalesce(fa.word, fb.word) AS word,
        |        CAST(coalesce(cnt_a, 0) AS BIGINT) AS cnt_a,
        |        CAST(coalesce(cnt_b, 0) AS BIGINT) AS cnt_b
        |      FROM fa FULL OUTER JOIN fb ON fa.word = fb.word),
        |t AS (SELECT CAST(sum(cnt_a) AS BIGINT) AS t_a,
        |             CAST(sum(cnt_b) AS BIGINT) AS t_b FROM j)
        |SELECT word, cnt_a, cnt_b,
        |  CAST(abs(cnt_a * t_b - cnt_b * t_a) AS DOUBLE) /
        |    (2.0 * CAST(t_a AS DOUBLE) * CAST(t_b AS DOUBLE)) AS drift
        |FROM j, t
        |ORDER BY drift DESC, word LIMIT 50""".stripMargin),
    candidate("pipeline_clean", (s, dir) => {
      // The composite training-data prep flow: quality/language gate ->
      // exact-dedup (keep canonical) -> near-dup removal (drop the higher
      // id of each pair) -> surviving docs with their stats. One pass of
      // each operator, composed exactly as a real corpus-cleaning job.
      val docs = GraftSession.table(s, dir, "documents")
      val kept = graft.functions.TextFunctions.docStats(docs, "doc_id", "text")
        .filter(col("lang_pred") === "en" && col("quality") >= 0.5)
      val exactDrop = graft.functions.Dedup.exactDedup(docs, "doc_id", "text")
        .filter(col("id") =!= col("canonical_id")).select(col("id"))
      val nearDrop = graft.functions.Dedup.nearDupPairs(docs, "doc_id", "text", 0.7)
        .select(col("id_b").as("id")).distinct()
      kept.join(exactDrop.union(nearDrop).distinct(),
          kept("doc_id") === col("id"), "left_anti")
        .select(col("doc_id"), col("n_tokens"), col("quality"))
        .orderBy("doc_id")
    })(Oracle.pipelineCleanOracle),
    sql("pii_scrub", (s, dir) => {
      // md5 of the redacted text value-checks the full transform, not
      // just the counts.
      val docs = GraftSession.table(s, dir, "documents")
      graft.functions.TextFunctions.scrubPii(docs, "text")
        .select(col("doc_id"), col("n_urls"), col("n_emails"), col("n_ipv4"),
          md5(col("clean")).as("clean_md5"))
        .orderBy("doc_id")
    })(
      s"""WITH s0 AS (
         |  SELECT doc_id, text,
         |    regexp_replace(text, '${graft.functions.TextFunctions.UrlRe}', '<URL>', 'g') AS after_url
         |  FROM documents),
         |s1 AS (
         |  SELECT doc_id, text, after_url,
         |    regexp_replace(after_url, '${graft.functions.TextFunctions.EmailRe}', '<EMAIL>', 'g') AS after_email
         |  FROM s0)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${graft.functions.TextFunctions.UrlRe}')) AS BIGINT) AS n_urls,
         |  CAST(len(regexp_extract_all(after_url, '${graft.functions.TextFunctions.EmailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(after_email, '${graft.functions.TextFunctions.Ipv4Re}')) AS BIGINT) AS n_ipv4,
         |  md5(regexp_replace(after_email, '${graft.functions.TextFunctions.Ipv4Re}', '<IP>', 'g')) AS clean_md5
         |FROM s1 ORDER BY doc_id""".stripMargin),
    candidate("dedup_report", (s, dir) => {
      // The pipeline-report rollup a cleaning job emits: corpus size,
      // exact-dup rows, near-dup pairs, winnow-overlap pairs, survivors
      // — one row, every figure cross-checkable against its own query.
      // The shared input is persisted (winnow_overlap's idiom) so the
      // report's cost is its OWN: docs feeds three rollup subtrees
      // (corpus count, exact-dedup scan, the LSH pair pipeline), and
      // through round 11 its timing was bimodal on whether SIBLING
      // queries' plan-identical cached frames had survived LRU pressure
      // (1.71 <-> 7.75 s on identical code).
      val docs = GraftSession.table(s, dir, "documents").graftCached
      val exact = graft.functions.Dedup.exactDedup(docs, "doc_id", "text")
        .filter(col("id") =!= col("canonical_id"))
      val near = graft.functions.Dedup.nearDupPairs(docs, "doc_id", "text", 0.7)
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact_dups")))
        .crossJoin(near.agg(count(lit(1)).as("n_near_pairs")))
        .withColumn("n_kept", col("n_docs") - col("n_exact_dups"))
    })(Oracle.dedupReportOracle),
    sql("winnow_fingerprints", (s, dir) =>
      graft.functions.TextFunctions.winnowFingerprints(
        GraftSession.table(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id", "pos"))(
      s"""${Oracle.winnowCtes}
         |SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos,
         |  CAST(fp AS BIGINT) AS fp
         |FROM fps ORDER BY doc_id, pos""".stripMargin),
    sql("winnow_overlap", (s, dir) => {
      // Substring-level overlap mining on winnow fingerprints: pairs
      // sharing >= 5 selected k-gram hashes. Ubiquitous fingerprints
      // (doc-frequency > 50 — boilerplate substrings) are dropped before
      // the self-join, the standard stop-fingerprint guard that keeps a
      // hot fp from exploding the pair shuffle at scale.
      // Persisted: the fingerprint frame feeds the doc-frequency filter
      // and both self-join sides — without it the typed winnow pass (and
      // the text scan under it) would run three times.
      val fps = graft.functions.TextFunctions.winnowFingerprints(
        GraftSession.table(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "fp").distinct()
        .graftCached
      val rare = fps.groupBy("fp")
        .agg(count(lit(1)).as("df")).filter(col("df") <= 50).select("fp")
      // fr feeds BOTH self-join sides: persisted so the df semi-join runs
      // once, not once per side (same discipline as containmentPairs).
      // (Round 18 A/B'd the in-group-combinations form here — the
      // lshCandidates posture — and it regressed 2-3x: winnow groups run
      // up to the df<=50 cap, and the nested transform/slice/flatten
      // combo expression re-slices the id array per element, an O(n^2)
      // allocation storm per group [~120-140 s summed task time vs ~60],
      // where the codegen'd broadcast self-join streams pairs with no
      // per-group allocation at all. The join form is also already
      // fully parallel here — 230 tasks.)
      val fr = fps.join(rare, "fp")
        .graftCached
      val a = fr.select(col("fp"), col("doc_id").as("id_a"))
      val b = fr.select(col("fp"), col("doc_id").as("id_b"))
      a.join(b, "fp").filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 5)
        .orderBy("id_a", "id_b")
    })(
      s"""${Oracle.winnowCtes},
         |fpd AS (SELECT DISTINCT doc_id, fp FROM fps),
         |rare AS (SELECT fp FROM fpd GROUP BY fp HAVING count(*) <= 50),
         |fr AS (SELECT doc_id, fp FROM fpd JOIN rare USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  count(*) AS shared
         |FROM fr a JOIN fr b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 5
         |ORDER BY id_a, id_b""".stripMargin),
    sql("sample_stratified", (s, dir) => {
      // Deterministic per-language quota sampling (balancing a training
      // mix): rank within each language stratum by MD5-of-id and keep
      // the first 50 — reproducible across runs/engines, no rand().
      // Two-phase (graft.ops.TopN): lang_pred has ~5 values, so ranking
      // with a bare window would funnel the whole corpus into <= 5
      // tasks. Phase 1 keeps the 50 smallest (md5, id) per language per
      // input partition (md5 hex is ASCII, so Scala string order ==
      // Spark UTF8 binary order); only the survivors are windowed.
      import s.implicits._
      val docs = GraftSession.table(s, dir, "documents")
      val stats = graft.functions.TextFunctions.docStats(docs, "doc_id", "text")
      val keyed = stats.select(col("lang_pred"),
          md5(col("doc_id").cast("string")).as("mk"), col("doc_id").cast("long"))
        .as[(String, String, Long)]
      implicit val byHashThenId: Ordering[(String, String, Long)] =
        Ordering.by(t => (t._2, t._3))
      val surv = graft.ops.TopN.partitionTopN(keyed, 50)(_._1)
        .toDF("lang_pred", "mk", "doc_id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang_pred")
        .orderBy(col("mk"), col("doc_id"))
      surv.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 50)
        .select("doc_id", "lang_pred", "rk")
        .orderBy("doc_id")
    })(
      s"""${Oracle.docCtes},
         |lang AS (
         |  SELECT doc_id,
         |    CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |         WHEN best = 0 THEN 'und'
         |         WHEN s_en = best THEN 'en'
         |         WHEN s_es = best THEN 'es'
         |         WHEN s_de = best THEN 'de'
         |         ELSE 'fr' END AS lang_pred
         |  FROM scored),
         |rk AS (SELECT doc_id, lang_pred,
         |         CAST(row_number() OVER (PARTITION BY lang_pred
         |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
         |       FROM lang)
         |SELECT doc_id, lang_pred, rk FROM rk WHERE rk <= 50
         |ORDER BY doc_id""".stripMargin),
    sql("token_hist", (s, dir) => {
      // Corpus length histogram (the length-distribution panel every
      // training-mix report carries): fixed 25-token buckets.
      val docs = GraftSession.table(s, dir, "documents")
      graft.functions.TextFunctions.docStats(docs, "doc_id", "text")
        .select((floor(col("n_tokens") / 25) * 25).cast("long").as("bucket_lo"))
        .groupBy("bucket_lo").agg(count(lit(1)).as("n_docs"))
        .orderBy("bucket_lo")
    })(
      s"""${Oracle.docCtes}
         |SELECT CAST(floor(n_tokens / 25) * 25 AS BIGINT) AS bucket_lo,
         |       count(*) AS n_docs
         |FROM scored GROUP BY 1 ORDER BY bucket_lo""".stripMargin),
    sql("sample_split", (s, dir) => {
      // Deterministic corpus split (train/holdout) by md5-of-id bucket —
      // the reproducible, engine-portable alternative to rand() sampling;
      // the same hash-systematic move as the IVF training sample.
      val docs = GraftSession.table(s, dir, "documents")
      docs.select(col("doc_id"),
          (graft.functions.Dedup.shingleHash(col("doc_id").cast("string")) % 10)
            .as("bucket"))
        .withColumn("split",
          when(col("bucket") === 0, "holdout").otherwise("train"))
        .orderBy("doc_id")
    })(
      """SELECT doc_id,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 10 AS bucket,
        |  CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 10 = 0
        |       THEN 'holdout' ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),
    sql("pack_report", (s, dir) =>
      // Packing-efficiency audit over the seq_pack layout: per shard,
      // docs/token mass/sequences occupied/boundary-straddling docs/
      // fill fraction — ONE map-side-combining rollup, numShards rows
      // (TrainShuffle.packReport).
      graft.ops.TrainShuffle.packReport(
        graft.ops.TrainShuffle.seqPack(
          GraftSession.table(s, dir, "documents"), "doc_id", "text",
          numShards = 16),
        budget = 256)
        .orderBy("shard"))(
      s"""${Oracle.wordsCte},
         |t AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens,
         |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuf:shard'), 1, 7) AS BIGINT) % 16 AS shard,
         |        md5(CAST(doc_id AS VARCHAR) || ':shuf:ord') AS sort_key
         |      FROM w),
         |c AS (SELECT *, CAST(coalesce(sum(n_tokens + 1) OVER (
         |        PARTITION BY shard ORDER BY sort_key, doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |        AS BIGINT) AS tok_start
         |      FROM t),
         |g AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |        CAST(max((tok_start + n_tokens - 1) // 256) + 1 AS BIGINT)
         |          AS n_seqs,
         |        CAST(sum(CASE WHEN (tok_start + n_tokens - 1) // 256 >
         |                           tok_start // 256
         |                 THEN 1 ELSE 0 END) AS BIGINT) AS split_docs
         |      FROM c GROUP BY shard)
         |SELECT shard, n_docs, total_tokens, n_seqs, split_docs,
         |  CAST(total_tokens AS DOUBLE) / CAST(n_seqs * 256 AS DOUBLE)
         |    AS fill_frac
         |FROM g ORDER BY shard""".stripMargin),
    rendered("bpe_count", (s, dir) => {
      // Trainable subword tokenizer (Bpe.bpeTrain — Sennrich et al.
      // 2016): per-doc MODEL-token counts, what a real pipeline budgets
      // by instead of whitespace words. Deterministic training (max
      // pair count, lexicographic ties, no RNG); the oracle replays
      // per-word encodings as literals through the SAME encodeWord
      // path (the centroid/idf-literal pattern).
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
      graft.functions.Bpe.bpeCount(docs, "doc_id", "text", model)
        .orderBy("doc_id")
    }) { a => import a._
      s"""WITH ev(w, toks, n) AS (VALUES $bpeVals),
         |$bpeWordsCte,
         |t AS (SELECT doc_id, unnest(words) AS word FROM w)
         |SELECT t.doc_id, CAST(sum(ev.n) AS BIGINT) AS n_tokens_bpe
         |FROM t JOIN ev ON t.word = ev.w
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin },
    rendered("bpe_encode", (s, dir) => {
      // The full segmentation, hash-pinned: tokens joined by spaces so
      // the oracle compares the exact subword sequence, not just its
      // length. One stateless broadcast-model pass (stream-native).
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
      graft.functions.Bpe.bpeEncode(docs, "doc_id", "text", model)
        .select(col("doc_id"), concat_ws(" ", col("tokens")).as("enc"),
          col("n_tokens_bpe"))
        .orderBy("doc_id")
    }) { a => import a._
      s"""WITH ev(w, toks, n) AS (VALUES $bpeVals),
         |$bpeWordsCte,
         |t AS (SELECT doc_id, words, unnest(range(1, len(words) + 1)) AS i
         |      FROM w),
         |x AS (SELECT doc_id, i, words[i] AS word FROM t)
         |SELECT x.doc_id, string_agg(ev.toks, ' ' ORDER BY x.i) AS enc,
         |       CAST(sum(ev.n) AS BIGINT) AS n_tokens_bpe
         |FROM x JOIN ev ON x.word = ev.w
         |GROUP BY x.doc_id ORDER BY x.doc_id""".stripMargin },
    rendered("bpe_vocab", (s, dir) => {
      // Token-frequency audit of the trained tokenizer over its own
      // corpus — the vocab-coverage table a tokenizer ships with
      // (which merges actually carry mass; a long tail of cold tokens
      // means wasted vocab). ONE encode pass + one map-side rollup,
      // TakeOrdered top-50 by mass (ties by token).
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
      graft.functions.Bpe.bpeEncode(docs, "doc_id", "text", model)
        .select(explode(col("tokens")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(50)
    }) { a => import a._
      s"""WITH ev(w, toks, n) AS (VALUES $bpeVals),
         |$bpeWordsCte,
         |tk AS (SELECT unnest(words) AS word FROM w),
         |tok AS (SELECT unnest(string_split(ev.toks, ' ')) AS token
         |        FROM tk JOIN ev ON tk.word = ev.w)
         |SELECT token, CAST(count(*) AS BIGINT) AS n
         |FROM tok GROUP BY token
         |ORDER BY n DESC, token LIMIT 50""".stripMargin },
    rendered("bpe_compression", (s, dir) => {
      // Tokenizer-compression audit: normalized chars per MODEL token,
      // per source — the junk/gibberish signal (text the tokenizer
      // compresses poorly encodes near character level; natural text
      // of the training distribution compresses several chars per
      // token). Exact integer sums, ONE IEEE division per source.
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
      graft.functions.Bpe.withBpeCount(docs, "text", model)
        .select(col("source"),
          length(graft.functions.TextFunctions.normText(col("text")))
            .cast("long").as("nc"),
          col("n_tokens_bpe"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("nc").as("n_chars"),
          sum("n_tokens_bpe").as("n_tokens_bpe"))
        .withColumn("chars_per_token",
          col("n_chars").cast("double") / col("n_tokens_bpe").cast("double"))
        .orderBy("source")
    }) { a => import a._
      s"""WITH ev(w, toks, n) AS (VALUES $bpeVals),
         |dw AS (SELECT doc_id, source,
         |         CAST(length(trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g'))) AS BIGINT) AS nc,
         |         string_split(trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ') AS words
         |       FROM documents),
         |tk AS (SELECT doc_id, unnest(words) AS word FROM dw),
         |bc AS (SELECT tk.doc_id, CAST(sum(ev.n) AS BIGINT) AS nt
         |       FROM tk JOIN ev ON tk.word = ev.w GROUP BY tk.doc_id)
         |SELECT dw.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(dw.nc) AS BIGINT) AS n_chars,
         |  CAST(sum(bc.nt) AS BIGINT) AS n_tokens_bpe,
         |  CAST(CAST(sum(dw.nc) AS BIGINT) AS DOUBLE) /
         |    CAST(CAST(sum(bc.nt) AS BIGINT) AS DOUBLE) AS chars_per_token
         |FROM dw JOIN bc ON dw.doc_id = bc.doc_id
         |GROUP BY dw.source ORDER BY dw.source""".stripMargin },
    rendered("bpe_count_byte", (s, dir) => {
      // The BYTE-level alphabet (Bpe.AlphabetByte — UTF-8 bytes, the
      // GPT-2-lineage production alphabet, vs the char default's UTF-16
      // code units): what a real training run's budget counts. The
      // alphabet travels INSIDE the persisted model (meta marker), so
      // encode can never replay merges over the wrong symbols. Same
      // single stateless broadcast-model pass; the oracle replays
      // per-word encodings through the SAME byte-level encodeWord path.
      // Non-ASCII divergence from char (multi-byte codepoints) is
      // spec-pinned in BpeSpec's byte-alphabet round trip.
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text",
        numMerges = 40, alphabet = graft.functions.Bpe.AlphabetByte)
      graft.functions.Bpe.bpeCount(docs, "doc_id", "text", model)
        .orderBy("doc_id")
    }) { a => import a._
      s"""WITH ev(w, toks, n) AS (VALUES $bpeValsByte),
         |$bpeWordsCte,
         |t AS (SELECT doc_id, unnest(words) AS word FROM w)
         |SELECT t.doc_id, CAST(sum(ev.n) AS BIGINT) AS n_tokens_bpe
         |FROM t JOIN ev ON t.word = ev.w
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin },
    rendered("bpe_encode_ids", (s, dir) => {
      // The id-level encode a TRAINER consumes (Bpe.bpeEncodeIds):
      // integer ids into the deterministic vocab (unk, then base
      // symbols ascending, then merge tokens by rank — dense,
      // first-occurrence dedup). Same single stateless broadcast-model
      // pass as bpe_encode; ids space-joined so the oracle pins the
      // exact sequence. The oracle REPLAYS the id-assignment rule in
      // SQL from raw symbol/merge literals — it is handed the inputs,
      // not the finished ids.
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
      graft.functions.Bpe.bpeEncodeIds(docs, "doc_id", "text", model)
        .select(col("doc_id"),
          array_join(col("token_ids").cast("array<string>"), " ").as("ids"),
          col("n_tokens_bpe"))
        .orderBy("doc_id")
    }) { a => import a._
      s"""WITH ev(w, toks, n) AS (VALUES $bpeVals),
         |$bpeVocabCtes,
         |$bpeWordsCte,
         |t AS (SELECT doc_id, words, unnest(range(1, len(words) + 1)) AS i
         |      FROM w),
         |x AS (SELECT doc_id, i, words[i] AS word FROM t),
         |xt AS (SELECT x.doc_id, x.i, string_split(ev.toks, ' ') AS tl
         |       FROM x JOIN ev ON x.word = ev.w),
         |xj AS (SELECT doc_id, i, unnest(range(1, len(tl) + 1)) AS j, tl
         |       FROM xt),
         |tk AS (SELECT doc_id, i, j, tl[j] AS token FROM xj),
         |idt AS (SELECT tk.doc_id, tk.i, tk.j,
         |          coalesce(vocab.id, 0) AS id
         |        FROM tk LEFT JOIN vocab ON tk.token = vocab.token)
         |SELECT doc_id,
         |  string_agg(CAST(id AS VARCHAR), ' ' ORDER BY i, j) AS ids,
         |  CAST(count(*) AS BIGINT) AS n_tokens_bpe
         |FROM idt GROUP BY doc_id ORDER BY doc_id""".stripMargin },
    rendered("bpe_vocab_ids", (s, dir) => {
      // The id-ordered vocabulary table itself (TokenizerModel
      // .vocabTable) — what ships next to the packed id sequences so a
      // trainer can decode. The oracle derives ids from the SAME raw
      // (symbols, merges) literals via row_number over the assignment
      // order — an independent SQL replay of the vocab rule.
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
      model.vocabTable(s).orderBy("id")
    }) { a => import a._
      s"""WITH $bpeVocabCtes
         |SELECT id, token FROM vocab ORDER BY id""".stripMargin },
    rendered("bpe_count_pretok", (s, dir) => {
      // The GPT-2-lineage PRETOKENIZER option (Bpe.PretokSplit):
      // case-preserving, text split into letter/digit/symbol runs
      // before BPE — vs the default words mode's lowercase+glued
      // punctuation, the fidelity a production token budget needs. The
      // mode is RECORDED in the persisted meta (the alphabet-marker
      // discipline), so encode can never pretokenize differently than
      // training. Oracle: DuckDB re-pretokenizes with the VERBATIM
      // regex (both engines' \s spelled out) and joins per-pretoken
      // encodings replayed through the same encodeWord path.
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40,
        pretok = graft.functions.Bpe.PretokSplit)
      graft.functions.Bpe.bpeCount(docs, "doc_id", "text", model)
        .orderBy("doc_id")
    }) { a => import a._
      s"""WITH ev(w, toks, n) AS (VALUES $bpeValsPretok),
         |$pretokWordsCte,
         |t AS (SELECT doc_id, unnest(words) AS word FROM w),
         |bc AS (SELECT t.doc_id, CAST(sum(ev.n) AS BIGINT) AS n
         |       FROM t JOIN ev ON t.word = ev.w GROUP BY t.doc_id)
         |SELECT d.doc_id, CAST(coalesce(bc.n, 0) AS BIGINT) AS n_tokens_bpe
         |FROM documents d LEFT JOIN bc USING (doc_id)
         |ORDER BY doc_id""".stripMargin },
    rendered("pack_report_bpe", (s, dir) => {
      // The tokensCol hook end-to-end: the packing audit budgeted in
      // TRAINED-tokenizer tokens. withBpeCount appends the model count
      // IN PLACE (same stateless typed pass) — a join-back of
      // bpeCount's frame would shuffle two corpus-sized sides on doc
      // id to re-attach a value computed from the row itself.
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
      graft.ops.TrainShuffle.packReport(
        graft.ops.TrainShuffle.seqPack(
          graft.functions.Bpe.withBpeCount(docs, "text", model),
          "doc_id", "text",
          numShards = 16, budget = 256, tokensCol = "n_tokens_bpe"),
        budget = 256)
        .orderBy("shard")
    }) { a => import a._
      // pack_report's layout CTEs with n_tokens swapped for the
      // model-token sums — the tokensCol hook's oracle.
      s"""WITH ev(w, toks, n) AS (VALUES $bpeVals),
         |$bpeWordsCte,
         |tk AS (SELECT doc_id, unnest(words) AS word FROM w),
         |bc AS (SELECT tk.doc_id, CAST(sum(ev.n) AS BIGINT) AS n_tokens
         |       FROM tk JOIN ev ON tk.word = ev.w GROUP BY tk.doc_id),
         |t AS (SELECT doc_id, n_tokens,
         |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuf:shard'), 1, 7) AS BIGINT) % 16 AS shard,
         |        md5(CAST(doc_id AS VARCHAR) || ':shuf:ord') AS sort_key
         |      FROM bc),
         |c AS (SELECT *, CAST(coalesce(sum(n_tokens + 1) OVER (
         |        PARTITION BY shard ORDER BY sort_key, doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |        AS BIGINT) AS tok_start
         |      FROM t),
         |g AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |        CAST(max((tok_start + n_tokens - 1) // 256) + 1 AS BIGINT)
         |          AS n_seqs,
         |        CAST(sum(CASE WHEN (tok_start + n_tokens - 1) // 256 >
         |                           tok_start // 256
         |                 THEN 1 ELSE 0 END) AS BIGINT) AS split_docs
         |      FROM c GROUP BY shard)
         |SELECT shard, n_docs, total_tokens, n_seqs, split_docs,
         |  CAST(total_tokens AS DOUBLE) / CAST(n_seqs * 256 AS DOUBLE)
         |    AS fill_frac
         |FROM g ORDER BY shard""".stripMargin },
    rendered("pack_ids", (s, dir) => {
      // The trainer-facing export artifact ITSELF (TrainShuffle
      // .packIdSequences): the seqPack layout materialized as actual
      // fixed-size token-id sequences — per (shard, seq) the ARRAY<INT>
      // slice a pretraining loader reads, separator -1 between docs.
      // Ids space-joined so the oracle pins every sequence's exact
      // content and order (the bpe_encode_ids discipline applied to
      // the packed stream).
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
      graft.ops.TrainShuffle.packIdSequences(
          docs, "doc_id", "text", model, numShards = 16, budget = 256)
        .select(col("shard"), col("seq"),
          array_join(col("ids").cast("array<string>"), " ").as("ids"),
          col("n_ids"))
        .orderBy("shard", "seq")
    }) { a => import a._
      // pack_ids: the id-assignment replay (bpe_encode_ids' CTE chain)
      // composed with the seq_pack layout arithmetic — DuckDB rebuilds
      // each shard's token stream position-by-position (doc ids at
      // [tok_start, tok_start+n), separator -1 at tok_start+n), chunks
      // it at 256, and trims past max(seq_last)+1 exactly as the
      // operator documents. The stream CTEs are shared with
      // pack_ids_digest (same replay, different final rollup).
      s"""$packIdsStreamCtes
         |SELECT sq.shard, CAST(sq.seq AS BIGINT) AS seq,
         |       string_agg(CAST(id AS VARCHAR), ' ' ORDER BY abs) AS ids,
         |       CAST(count(*) AS BIGINT) AS n_ids
         |FROM sq JOIN ns ON ns.shard = sq.shard
         |WHERE sq.seq < ns.n_seqs
         |GROUP BY sq.shard, sq.seq
         |ORDER BY sq.shard, sq.seq""".stripMargin },
    sql("pack_segments", (s, dir) =>
      // Per-sequence segment table of the seq_pack layout
      // (TrainShuffle.packSegments): one row per (sequence, document)
      // overlap with the segment's offsets inside both — the boundary
      // metadata a loader reads instead of scanning for the in-band
      // separator. Pure layout arithmetic: seqPack's window + a
      // per-doc bounded explode, no extra shuffle.
      graft.ops.TrainShuffle.packSegments(
        GraftSession.table(s, dir, "documents"), "doc_id", "text",
        numShards = 16, budget = 256)
        .orderBy("shard", "seq", "seg_start"))(
      // pack_segments: the seq_pack layout CTEs + a per-doc sequence-range
      // unnest; each segment is the intersection of the doc's stream
      // extent with the sequence's window — pure integer arithmetic.
      s"""${Oracle.wordsCte},
         |t AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens,
         |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuf:shard'), 1, 7) AS BIGINT) % 16 AS shard,
         |        md5(CAST(doc_id AS VARCHAR) || ':shuf:ord') AS sort_key
         |      FROM w),
         |c AS (SELECT *, CAST(coalesce(sum(n_tokens + 1) OVER (
         |        PARTITION BY shard ORDER BY sort_key, doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |        AS BIGINT) AS tok_start
         |      FROM t),
         |s AS (SELECT doc_id, shard, n_tokens, tok_start,
         |        tok_start // 256 AS seq_first,
         |        (tok_start + n_tokens - 1) // 256 AS seq_last
         |      FROM c WHERE n_tokens > 0),
         |x AS (SELECT doc_id, shard, n_tokens, tok_start,
         |        unnest(range(seq_first, seq_last + 1)) AS seq
         |      FROM s)
         |SELECT shard, CAST(seq AS BIGINT) AS seq, doc_id,
         |  CAST(greatest(tok_start, seq * 256) - seq * 256 AS BIGINT)
         |    AS seg_start,
         |  CAST(least(tok_start + n_tokens, (seq + 1) * 256) -
         |       greatest(tok_start, seq * 256) AS BIGINT) AS seg_len,
         |  CAST(greatest(tok_start, seq * 256) - tok_start AS BIGINT)
         |    AS doc_off
         |FROM x ORDER BY shard, seq, seg_start""".stripMargin),
    rendered("pack_ids_digest", (s, dir) => {
      // Per-shard integrity digest of the packed export (TrainShuffle
      // .packDigest): position-weighted sum and xor checksums over the
      // emitted id stream — what gates the BINARY artifact's content
      // (sources.BinShards round-trips re-verify against this row).
      // The oracle replays the same stream rebuild as pack_ids and
      // rolls it up to the checksums independently.
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
      graft.ops.TrainShuffle.packDigest(
        graft.ops.TrainShuffle.packIdSequences(
          docs, "doc_id", "text", model, numShards = 16, budget = 256),
        budget = 256)
        .orderBy("shard")
    })(
      // pack_ids_digest: the SAME stream replay rolled up to the
      // per-shard position-weighted checksums the binary export is
      // gated by — both aggregates exact integer arithmetic.
      packIdsDigestOracle),
    sql("pack_nosplit", (s, dir) =>
      // NO-SPLIT (padded) packing — the SFT-style counterpart of
      // seq_pack: each doc occupies exactly one fixed-capacity bin
      // (never straddles), First-Fit Decreasing over the deterministic
      // per-shard order, over-budget docs truncated+flagged
      // (TrainShuffle.packNoSplit — one hash exchange + per-partition
      // sort + streaming greedy mapPartitions). Budget 64 so the corpus
      // exercises BOTH truncation and multi-doc bins.
      graft.ops.TrainShuffle.packNoSplit(
        GraftSession.table(s, dir, "documents"), "doc_id", "text",
        numShards = 16, budget = 64)
        .orderBy("doc_id"))(
      // pack_nosplit: the greedy no-split layout replayed doc-by-doc with
      // a recursive CTE (Oracle.packNoSplitCtes) — DuckDB re-derives the
      // shard order AND the first-fit bin state independently.
      s"""${Oracle.packNoSplitCtes(64, 16, firstFit = true)}
         |SELECT o.doc_id, o.shard, o.n_tokens, o.truncated, p.bin, p.pos
         |FROM p JOIN o USING (doc_id)
         |ORDER BY o.doc_id""".stripMargin),
    sql("pack_nosplit_nextfit", (s, dir) =>
      // The strictly-streaming strategy of the same packer: Next-Fit
      // Decreasing (only the CURRENT bin accepts; O(1) state per shard
      // no matter the shard size — the bounded-memory fallback when
      // even per-open-bin counters are too much state). Same order,
      // same truncation contract; worse fill by design.
      graft.ops.TrainShuffle.packNoSplit(
        GraftSession.table(s, dir, "documents"), "doc_id", "text",
        numShards = 16, budget = 64, strategy = "nextfit")
        .orderBy("doc_id"))(
      s"""${Oracle.packNoSplitCtes(64, 16, firstFit = false)}
         |SELECT o.doc_id, o.shard, o.n_tokens, o.truncated, p.bin, p.pos
         |FROM p JOIN o USING (doc_id)
         |ORDER BY o.doc_id""".stripMargin),
    sql("pack_nosplit_report", (s, dir) =>
      // Padding-waste audit of the no-split layout: per shard, docs,
      // truncations, bins, packed token mass, the padding the trainer
      // will burn, and fill fraction (TrainShuffle.packNoSplitReport —
      // ONE map-side-combining rollup, numShards rows out).
      graft.ops.TrainShuffle.packNoSplitReport(
        graft.ops.TrainShuffle.packNoSplit(
          GraftSession.table(s, dir, "documents"), "doc_id", "text",
          numShards = 16, budget = 64),
        budget = 64)
        .orderBy("shard"))(
      s"""${Oracle.packNoSplitCtes(64, 16, firstFit = true)},
         |g AS (SELECT o.shard, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(CASE WHEN o.truncated THEN 1 ELSE 0 END) AS BIGINT)
         |          AS n_truncated,
         |        CAST(max(p.bin) + 1 AS BIGINT) AS n_bins,
         |        CAST(sum(o.capped) AS BIGINT) AS packed_tokens
         |      FROM p JOIN o USING (doc_id) GROUP BY o.shard)
         |SELECT shard, n_docs, n_truncated, n_bins, packed_tokens,
         |  CAST(n_bins * 64 - packed_tokens AS BIGINT) AS pad_tokens,
         |  CAST(packed_tokens AS DOUBLE) / CAST(n_bins * 64 AS DOUBLE)
         |    AS fill_frac
         |FROM g ORDER BY shard""".stripMargin),
    rendered("pack_nosplit_ids", (s, dir) => {
      // The SFT export artifact ITSELF (TrainShuffle.packNoSplitIds):
      // the no-split layout materialized as padded token-id sequences —
      // per (shard, bin) the concatenated whole-doc ARRAY<INT> plus the
      // doc-boundary offsets a loss-mask needs. Ids/starts space-joined
      // so the oracle pins every sequence's exact content and order
      // (the pack_ids discipline).
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
      graft.ops.TrainShuffle.packNoSplitIds(
          docs, "doc_id", "text", model, numShards = 16, budget = 256)
        .select(col("shard"), col("bin"),
          array_join(col("ids").cast("array<string>"), " ").as("ids"),
          col("n_ids"), col("n_docs"),
          array_join(col("starts").cast("array<string>"), " ").as("starts"))
        .orderBy("shard", "bin")
    }) { a => import a._
      s"""${Oracle.packNoSplitCtes(256, 16, firstFit = true,
             countsCte = packNoSplitIdsCounts)},
         |pl AS (SELECT p.doc_id, o.shard, p.bin, p.pos
         |       FROM p JOIN o USING (doc_id)),
         |tok AS (SELECT doc_id, id,
         |          row_number() OVER (PARTITION BY doc_id ORDER BY i, j)
         |            AS rk
         |        FROM idt),
         |g1 AS (SELECT pl.shard, pl.bin,
         |         string_agg(CAST(tok.id AS VARCHAR), ' '
         |           ORDER BY pl.pos, pl.doc_id, tok.rk) AS ids,
         |         CAST(count(*) AS BIGINT) AS n_ids
         |       FROM pl JOIN tok USING (doc_id)
         |       WHERE tok.rk <= 256
         |       GROUP BY pl.shard, pl.bin),
         |g2 AS (SELECT shard, bin, CAST(count(*) AS BIGINT) AS n_docs,
         |         string_agg(CAST(pos AS VARCHAR), ' '
         |           ORDER BY pos, doc_id) AS starts
         |       FROM pl GROUP BY shard, bin)
         |SELECT g2.shard, g2.bin, coalesce(g1.ids, '') AS ids,
         |       CAST(coalesce(g1.n_ids, 0) AS BIGINT) AS n_ids,
         |       g2.n_docs, g2.starts
         |FROM g2 LEFT JOIN g1 USING (shard, bin)
         |ORDER BY g2.shard, g2.bin""".stripMargin },
    rendered("export_manifest", (s, dir) => {
      // The trainer-facing validation table (TrainShuffle
      // .exportManifest): per shard, the packed export's masses and
      // integrity digests plus the export-wide constants a loader must
      // agree on — budget, shard count, and the tokenizer identity
      // (vocab size, alphabet, pretok). The oracle re-derives the
      // digests from the stream replay and the vocab size from the raw
      // symbol/merge literals; the config constants replay as the
      // fixture's own.
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
      graft.ops.TrainShuffle.exportManifest(
        docs, "doc_id", "text", model, numShards = 16, budget = 256)
        .orderBy("shard")
    }) { a => import a._
      // export_manifest: the pack_ids_digest replay + the export-wide
      // constants — vocab_size independently re-derived from the raw
      // symbol/merge literals (count of the vocab CTE), budget/shards/
      // alphabet/pretok as the fixture's own config.
      s"""$packIdsStreamCtes
         |SELECT ns.shard, CAST(ns.n_seqs AS BIGINT) AS n_seqs,
         |       CAST(count(*) AS BIGINT) AS n_ids,
         |       CAST(sum((sq.abs + 1) * (sq.id + 2)) AS BIGINT)
         |         AS sum_digest,
         |       CAST(bit_xor((sq.abs + 1) * 1000003 + sq.id + 2)
         |         AS BIGINT) AS xor_digest,
         |       CAST(256 AS BIGINT) AS budget,
         |       CAST(16 AS BIGINT) AS num_shards,
         |       (SELECT CAST(count(*) AS BIGINT) FROM vocab)
         |         AS vocab_size,
         |       'char' AS alphabet,
         |       'words' AS pretok
         |FROM sq JOIN ns ON ns.shard = sq.shard
         |WHERE sq.seq < ns.n_seqs
         |GROUP BY ns.shard, ns.n_seqs
         |ORDER BY ns.shard""".stripMargin },
    rendered("pack_nosplit_digest", (s, dir) => {
      // Per-shard integrity digest of the SFT export (TrainShuffle
      // .packNoSplitDigest): position-weighted checksums over every
      // bin's id stream PLUS a separate digest of the doc-boundary
      // starts (the loss-mask metadata is part of the artifact) — what
      // gates the BINARY sft files (BinShards.writeNoSplit round trips
      // re-verify against this row).
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
      graft.ops.TrainShuffle.packNoSplitDigest(
        graft.ops.TrainShuffle.packNoSplitIds(
          docs, "doc_id", "text", model, numShards = 16, budget = 256),
        budget = 256)
        .orderBy("shard")
    })(packNoSplitDigestOracle),
    rendered("bin_digest", (s, dir) => {
      // LOADER-side validation of the BINARY export, SQL-reachable end
      // to end (sources.BinShards + TrainShuffle.packDigest — the
      // graft_bin_digest TVF's exact composition): the query WRITES the
      // .bin/.idx artifact, re-reads its ACTUAL BYTES, and digests the
      // file-derived frame — the same checksum rows pack_ids_digest
      // computes from the relational twin, so the DuckDB stream replay
      // gates the files themselves, not just the frame that produced
      // them.
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
      // FIXED per-input export dir (not a fresh temp per invocation):
      // repeated bench/verify runs overwrite one directory — the
      // writer's own stale-shard cleanup + commit marker make the
      // rewrite safe — instead of accumulating unbounded /tmp copies.
      val out = binTmpDir("bin-digest", dir)
      graft.sources.BinShards.write(
        graft.ops.TrainShuffle.packIdSequences(
          docs, "doc_id", "text", model, numShards = 16, budget = 256),
        out, budget = 256, numShards = 16)
      graft.ops.TrainShuffle.packDigest(
        graft.sources.BinShards.read(s, out), budget = 256)
        .orderBy("shard")
    })(
      // bin_digest: the IDENTICAL replay — the query's digest rows come
      // from the exported .bin/.idx BYTES (write -> read -> digest), so
      // hash-equality against this oracle gates the binary artifact
      // itself from a SQL-only session.
      packIdsDigestOracle),
    rendered("bin_digest_sft", (s, dir) => {
      // The SFT form of bin_digest: write the padded-bin artifact
      // (BinShards.writeNoSplit — doc-boundary starts inside the .idx),
      // re-read its bytes, and digest the file-derived frame including
      // the boundary-starts checksum; gated by the same DuckDB no-split
      // replay as pack_nosplit_digest.
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
      // Same fixed-dir posture as bin_digest (one overwritten export
      // per input, not a temp dir per invocation).
      val out = binTmpDir("bin-digest-sft", dir)
      graft.sources.BinShards.writeNoSplit(
        graft.ops.TrainShuffle.packNoSplitIds(
          docs, "doc_id", "text", model, numShards = 16, budget = 256),
        out, budget = 256, numShards = 16)
      graft.ops.TrainShuffle.packNoSplitDigest(
        graft.sources.BinShards.readNoSplit(s, out), budget = 256)
        .orderBy("shard")
    })(
      // bin_digest_sft: same posture for the padded-bin artifact — the
      // no-split replay gates the sft files' bytes AND the boundary
      // starts shipped inside the .idx.
      packNoSplitDigestOracle),
    rendered("export_manifest_sft", (s, dir) => {
      // The SFT export's validation table (TrainShuffle
      // .exportManifestSft): per shard, the padded-bin masses and
      // digests — boundary-starts checksum included, the loss-mask
      // metadata is part of the artifact — plus the same export-wide
      // agreement constants as export_manifest (budget, shard count,
      // tokenizer identity). Oracle re-derives the digests from the
      // no-split replay and the vocab size from the raw literals.
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
      graft.ops.TrainShuffle.exportManifestSft(
        docs, "doc_id", "text", model, numShards = 16, budget = 256)
        .orderBy("shard")
    }) { a => import a._
      // export_manifest_sft: the no-split digest replay + the same
      // export-wide agreement constants as export_manifest — vocab_size
      // re-derived from the raw symbol/merge literals.
      s"""$packNoSplitDigestCtes
         |SELECT sd.shard, sd.n_bins, sd.n_docs,
         |       CAST(coalesce(idd.n_ids, 0) AS BIGINT) AS n_ids,
         |       CAST(coalesce(idd.sum_digest, 0) AS BIGINT) AS sum_digest,
         |       CAST(coalesce(idd.xor_digest, 0) AS BIGINT) AS xor_digest,
         |       sd.starts_digest,
         |       CAST(256 AS BIGINT) AS budget,
         |       CAST(16 AS BIGINT) AS num_shards,
         |       (SELECT CAST(count(*) AS BIGINT) FROM vocab)
         |         AS vocab_size,
         |       'char' AS alphabet,
         |       'words' AS pretok
         |FROM sd LEFT JOIN idd USING (shard)
         |ORDER BY sd.shard""".stripMargin },
    rendered("epoch_export", (s, dir) => {
      // Multi-epoch export digests (TrainShuffle.epochExport): two
      // epoch-salted layouts of the SAME encoded corpus, each emitting
      // its per-shard packDigest rows — the digests differ per epoch
      // (independent permutations) while the id mass is identical (the
      // ids are salt-independent; ONE shared cached encode pass feeds
      // both packs). The oracle replays both salted layouts from the
      // same raw literals.
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
      graft.ops.TrainShuffle.epochExport(
        docs, "doc_id", "text", model, numShards = 16, budget = 256,
        epochSalts = Seq("epoch0", "epoch1"))
        .orderBy("epoch", "shard")
    }) { a => import a._
      // epoch_export: the pack_ids_digest rollup instantiated once per
      // epoch salt over the SHARED id-assignment CTEs (the ids are
      // salt-independent; only the layout tail re-derives), unioned.
      val salts = Seq("epoch0", "epoch1")
      val tails = salts.zipWithIndex
        .map { case (salt, i) => packIdsSaltedCtes(salt, s"_e$i") }
        .mkString(",\n")
      val selects = salts.zipWithIndex.map { case (salt, i) =>
        s"""SELECT '$salt' AS epoch, ns_e$i.shard,
           |       CAST(ns_e$i.n_seqs AS BIGINT) AS n_seqs,
           |       CAST(count(*) AS BIGINT) AS n_ids,
           |       CAST(sum((sq_e$i.abs + 1) * (sq_e$i.id + 2)) AS BIGINT)
           |         AS sum_digest,
           |       CAST(bit_xor((sq_e$i.abs + 1) * 1000003 + sq_e$i.id + 2)
           |         AS BIGINT) AS xor_digest
           |FROM sq_e$i JOIN ns_e$i ON ns_e$i.shard = sq_e$i.shard
           |WHERE sq_e$i.seq < ns_e$i.n_seqs
           |GROUP BY ns_e$i.shard, ns_e$i.n_seqs""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$packIdsSharedCtes,
         |$tails
         |$selects
         |ORDER BY epoch, shard""".stripMargin },
    rendered("bin_append_digest", (s, dir) => {
      // MANAGED epoch-append binary export (sources.BinFamily — the
      // managed-generation posture applied to the training artifact):
      // two ingest batches land as successive EPOCHS in reserved shard
      // spans under a CURRENT-pointer root; prior epochs' files stay
      // byte-untouched, so a recurring pipeline's refresh cost is the
      // batch's encode, never the corpus's. The digest rows re-read
      // the whole generation's BYTES (BinShards.read over the managed
      // root — the graft_bin_digest TVF's composition), so the DuckDB
      // replay — each batch's salted layout, the second span-shifted
      // past the first's reserved shards — gates the appended files
      // themselves. The root rebuilds per invocation (deterministic
      // digest gate); replay idempotence and crash repair are
      // BinFamilySpec's job. The family's marker state rides along as
      // manifest columns — epochs and the tokenizer identity READ BACK
      // from the stamped `_BIN_COMMIT` lines (commitInfo), so the
      // oracle's independently-derived vocab size gates the artifact's
      // own identity stamp, not a value the query recomputed.
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
      val root = binTmpDir("bin-append", dir)
      clearBinTmpDir(s, root)
      val identity = Map(
        "vocab_size" -> model.vocab.length.toString,
        "alphabet" -> model.alphabet, "pretok" -> model.pretok)
      // Batch form (round 18): both epochs' reserved spans are
      // disjoint, so their exports overlap on driver threads
      // (BinFamily.appendEpochs — sequentially equivalent by contract,
      // byte-identical artifact).
      graft.sources.BinFamily.appendEpochs(
        (0 to 1).map { e =>
          s"e$e" -> graft.ops.TrainShuffle.packIdSequences(
            docs.filter(col("doc_id") % 2 === e), "doc_id", "text",
            model, numShards = 8, budget = 256, salt = s"e$e")
        },
        root, budget = 256, shardsPerEpoch = 8, identity = identity)
      val info = graft.sources.BinShards.commitInfo(s, root)
      graft.ops.TrainShuffle.packDigest(
        graft.sources.BinShards.read(s, root), budget = 256)
        .withColumn("epochs", lit(info("epochs").toLong))
        .withColumn("vocab_size", lit(info("vocab_size").toLong))
        .withColumn("alphabet", lit(info("alphabet")))
        .withColumn("pretok", lit(info("pretok")))
        .orderBy("shard")
    }) { a => import a._
      // bin_append_digest / bin_fold_digest: the managed epoch-append
      // family's file-byte gates — the query's digest rows come from
      // re-reading the appended (resp. folded) generation's .bin/.idx
      // bytes, so hash-equality against these replays certifies the
      // managed artifact itself, append spans, fold arithmetic and all.
      // bin_append_digest: the managed epoch-append replay — each batch's
      // salted layout over its FILTERED doc set (8 shards per epoch), the
      // second epoch's shards shifted past the first's reserved span, so
      // hash-equality gates the appended generation's file bytes.
      val tails = Seq(
        packIdsSaltedCtes("e0", "_a0", 8, "doc_id % 2 = 0"),
        packIdsSaltedCtes("e1", "_a1", 8, "doc_id % 2 = 1"))
        .mkString(",\n")
      val selects = Seq(0, 1).map { i =>
        s"""SELECT CAST(ns_a$i.shard + ${i * 8} AS BIGINT) AS shard,
           |       CAST(ns_a$i.n_seqs AS BIGINT) AS n_seqs,
           |       CAST(count(*) AS BIGINT) AS n_ids,
           |       CAST(sum((sq_a$i.abs + 1) * (sq_a$i.id + 2)) AS BIGINT)
           |         AS sum_digest,
           |       CAST(bit_xor((sq_a$i.abs + 1) * 1000003 + sq_a$i.id + 2)
           |         AS BIGINT) AS xor_digest,
           |       CAST(2 AS BIGINT) AS epochs,
           |       (SELECT CAST(count(*) AS BIGINT) FROM vocab)
           |         AS vocab_size,
           |       'char' AS alphabet,
           |       'words' AS pretok
           |FROM sq_a$i JOIN ns_a$i ON ns_a$i.shard = sq_a$i.shard
           |WHERE sq_a$i.seq < ns_a$i.n_seqs
           |GROUP BY ns_a$i.shard, ns_a$i.n_seqs""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$packIdsSharedCtes,
         |$tails
         |$selects
         |ORDER BY shard""".stripMargin },
    rendered("bin_fold_digest", (s, dir) => {
      // The managed family's FOLD + post-fold append: three batches at
      // compactEvery=2 — e0 and e1 append into reserved spans, the
      // fold copies the generation's id STREAMS by byte range
      // (BinShards.fold — compaction never re-encodes) into a dense
      // successor and flips CURRENT, then e2 appends onto the folded
      // generation at the carried-forward shard base. The digest rows
      // re-read the final generation's bytes; the oracle replays both
      // batch layouts, re-chunks their concatenated kept streams with
      // the exact ceil-division arithmetic the fold uses, and shifts the
      // third layout past the folded shard count.
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
      val root = binTmpDir("bin-fold", dir)
      clearBinTmpDir(s, root)
      // Batch form (round 18): e0/e1 export concurrently (disjoint
      // reserved spans), the fold serializes, e2 lands on the folded
      // successor — appendEpochs' serial-equivalence contract keeps
      // the final artifact byte-identical to the one-by-one replay.
      graft.sources.BinFamily.appendEpochs(
        (0 to 2).map { e =>
          s"e$e" -> graft.ops.TrainShuffle.packIdSequences(
            docs.filter(col("doc_id") % 3 === e), "doc_id", "text",
            model, numShards = 8, budget = 256, salt = s"e$e")
        },
        root, budget = 256, shardsPerEpoch = 8, compactEvery = 2)
      graft.ops.TrainShuffle.packDigest(
        graft.sources.BinShards.read(s, root), budget = 256)
        .orderBy("shard")
    }) { a => import a._
      // bin_fold_digest: the fold replay — e0/e1's kept streams are
      // concatenated in generation-shard order (cross-shard bases =
      // prefix sums of kept id counts), re-chunked at 256 and dealt into
      // ceil-division shard groups EXACTLY as BinShards.fold does, then
      // e2's layout is shifted past the folded shard count. Gates the
      // compaction arithmetic end to end from the final artifact's bytes.
      val tails = Seq(
        packIdsSaltedCtes("e0", "_f0", 8, "doc_id % 3 = 0"),
        packIdsSaltedCtes("e1", "_f1", 8, "doc_id % 3 = 1"),
        packIdsSaltedCtes("e2", "_f2", 8, "doc_id % 3 = 2"))
        .mkString(",\n")
      s"""$packIdsSharedCtes,
         |$tails,
         |pre AS (
         |  SELECT CAST(sq_f0.shard AS BIGINT) AS s, sq_f0.abs AS abs,
         |         sq_f0.id AS id
         |  FROM sq_f0 JOIN ns_f0 ON ns_f0.shard = sq_f0.shard
         |  WHERE sq_f0.seq < ns_f0.n_seqs
         |  UNION ALL
         |  SELECT CAST(sq_f1.shard + 8 AS BIGINT) AS s, sq_f1.abs,
         |         sq_f1.id
         |  FROM sq_f1 JOIN ns_f1 ON ns_f1.shard = sq_f1.shard
         |  WHERE sq_f1.seq < ns_f1.n_seqs),
         |tot AS (SELECT s, CAST(count(*) AS BIGINT) AS t
         |        FROM pre GROUP BY s),
         |bas AS (SELECT s, CAST(coalesce(sum(t) OVER (ORDER BY s
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS BIGINT) AS base
         |        FROM tot),
         |gstream AS (SELECT bas.base + pre.abs AS gabs, pre.id
         |         FROM pre JOIN bas ON pre.s = bas.s),
         |ps AS (SELECT (((CAST(count(*) AS BIGINT) + 255) // 256 + 7)
         |          // 8) AS per_shard
         |       FROM gstream),
         |fo AS (SELECT (gabs // 256) // per_shard AS shard,
         |              gabs - ((gabs // 256) // per_shard)
         |                * per_shard * 256 AS fabs,
         |              gabs // 256 AS g, id
         |       FROM gstream, ps),
         |fd AS (SELECT shard, CAST(count(DISTINCT g) AS BIGINT) AS n_seqs,
         |              CAST(count(*) AS BIGINT) AS n_ids,
         |              CAST(sum((fabs + 1) * (id + 2)) AS BIGINT)
         |                AS sum_digest,
         |              CAST(bit_xor((fabs + 1) * 1000003 + id + 2)
         |                AS BIGINT) AS xor_digest
         |       FROM fo GROUP BY shard),
         |wv AS (SELECT CAST(count(*) AS BIGINT) AS w FROM fd)
         |SELECT shard, n_seqs, n_ids, sum_digest, xor_digest FROM fd
         |UNION ALL
         |SELECT CAST(ns_f2.shard + wv.w AS BIGINT) AS shard,
         |       CAST(ns_f2.n_seqs AS BIGINT) AS n_seqs,
         |       CAST(count(*) AS BIGINT) AS n_ids,
         |       CAST(sum((sq_f2.abs + 1) * (sq_f2.id + 2)) AS BIGINT)
         |         AS sum_digest,
         |       CAST(bit_xor((sq_f2.abs + 1) * 1000003 + sq_f2.id + 2)
         |         AS BIGINT) AS xor_digest
         |FROM sq_f2 JOIN ns_f2 ON ns_f2.shard = sq_f2.shard, wv
         |WHERE sq_f2.seq < ns_f2.n_seqs
         |GROUP BY ns_f2.shard, ns_f2.n_seqs, wv.w
         |ORDER BY shard""".stripMargin },
    rendered("bin_append_digest_sft", (s, dir) => {
      // The SFT twin of bin_append_digest (BinFamily.appendEpochSft):
      // two padded-bin batch epochs land in reserved sft shard spans
      // under one managed root; the digest rows — boundary-starts
      // checksum included, the loss-mask metadata is part of the
      // artifact — come from re-reading the generation's sft-*.bin/.idx
      // BYTES, and the manifest columns read the STAMPED marker back.
      // The oracle replays both epochs' greedy bin packing in ONE
      // composite-shard recursive chain (per-shard bin state is
      // independent, so epoch-local shards shifted into their spans
      // replay exactly) and re-derives the vocab size from raw
      // literals.
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
      val root = binTmpDir("bin-append-sft", dir)
      clearBinTmpDir(s, root)
      val identity = Map(
        "vocab_size" -> model.vocab.length.toString,
        "alphabet" -> model.alphabet, "pretok" -> model.pretok)
      // Batch form (round 18): both sft epochs export concurrently
      // into their disjoint reserved spans (appendEpochsSft).
      graft.sources.BinFamily.appendEpochsSft(
        (0 to 1).map { e =>
          s"e$e" -> graft.ops.TrainShuffle.packNoSplitIds(
            docs.filter(col("doc_id") % 2 === e), "doc_id", "text",
            model, numShards = 8, budget = 256, salt = s"e$e")
        },
        root, budget = 256, shardsPerEpoch = 8, identity = identity)
      val info = graft.sources.BinShards.commitInfo(s, root)
      graft.ops.TrainShuffle.packNoSplitDigest(
        graft.sources.BinShards.readNoSplit(s, root), budget = 256)
        .withColumn("epochs", lit(info("epochs").toLong))
        .withColumn("vocab_size", lit(info("vocab_size").toLong))
        .withColumn("alphabet", lit(info("alphabet")))
        .withColumn("pretok", lit(info("pretok")))
        .orderBy("shard")
    }) { a => import a._
      // bin_append_digest_sft: the managed SFT family's file-byte gate
      // — padded-bin epochs in reserved spans, starts checksum and
      // marker identity included.
      // bin_append_digest_sft: the managed SFT family replay — both
      // epochs' greedy bin packing in ONE composite-shard recursive
      // chain (per-shard bin state is independent, so each epoch's
      // salted local shards shifted into their reserved spans replay
      // exactly), rolled up to the no-split digests (boundary-starts
      // checksum included) plus the marker-identity constants.
      val shardExpr =
        """CASE WHEN doc_id % 2 = 0
          |      THEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':e0:shard'), 1, 7) AS BIGINT) % 8
          |      ELSE 8 + CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':e1:shard'), 1, 7) AS BIGINT) % 8 END"""
          .stripMargin
      val sortExpr =
        """md5(CAST(doc_id AS VARCHAR) ||
          |      CASE WHEN doc_id % 2 = 0 THEN ':e0:ord' ELSE ':e1:ord' END)"""
          .stripMargin
      s"""${Oracle.packNoSplitCtes(256, 16, firstFit = true,
             countsCte = packNoSplitIdsCounts,
             shardExpr = Some(shardExpr), sortExpr = Some(sortExpr))},
         |$noSplitDigestTails
         |SELECT sd.shard, sd.n_bins, sd.n_docs,
         |       CAST(coalesce(idd.n_ids, 0) AS BIGINT) AS n_ids,
         |       CAST(coalesce(idd.sum_digest, 0) AS BIGINT) AS sum_digest,
         |       CAST(coalesce(idd.xor_digest, 0) AS BIGINT) AS xor_digest,
         |       sd.starts_digest,
         |       CAST(2 AS BIGINT) AS epochs,
         |       (SELECT CAST(count(*) AS BIGINT) FROM vocab)
         |         AS vocab_size,
         |       'char' AS alphabet,
         |       'words' AS pretok
         |FROM sd LEFT JOIN idd USING (shard)
         |ORDER BY sd.shard""".stripMargin },
    sql("fim_transform", (s, dir) =>
      // Fill-in-the-middle training transform (ops.FimTransform): for
      // an exact 50% md5-selected fraction, two uniform cuts over the
      // normalized text and the <PRE>/<SUF>/<MID> PSM rearrangement;
      // pass-through otherwise. Stateless codegen'd projection — no
      // shuffle beyond the presentation sort.
      graft.ops.FimTransform.fimSplit(
        GraftSession.table(s, dir, "documents"), "doc_id", "text",
        rateBp = 5000)
        .orderBy("doc_id"))(
      // fim_transform: the same md5 draws + substr arithmetic replayed
      // over the normalized text — DuckDB re-derives selection, cuts and
      // the PSM string independently.
      s"""WITH n AS (
         |  SELECT doc_id,
         |         coalesce(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
         |                  '') AS norm
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, norm, CAST(length(norm) AS BIGINT) AS len,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':fim:sel'), 1, 7) AS BIGINT) % 10000 < 5000 AS applied,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':fim:p1'), 1, 7) AS BIGINT) % (CAST(length(norm) AS BIGINT) + 1) AS p1,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':fim:p2'), 1, 7) AS BIGINT) % (CAST(length(norm) AS BIGINT) + 1) AS p2
         |  FROM n),
         |d AS (
         |  SELECT doc_id, applied, norm, len,
         |    CASE WHEN applied THEN least(p1, p2) ELSE 0 END AS cut_lo,
         |    CASE WHEN applied THEN greatest(p1, p2) ELSE 0 END AS cut_hi
         |  FROM c)
         |SELECT doc_id, applied AS fim_applied, len AS n_chars,
         |  CAST(cut_lo AS BIGINT) AS cut_lo, CAST(cut_hi AS BIGINT) AS cut_hi,
         |  CASE WHEN applied
         |       THEN '<PRE>' || substr(norm, 1, cut_lo) ||
         |            '<SUF>' || substr(norm, cut_hi + 1, len - cut_hi) ||
         |            '<MID>' || substr(norm, cut_lo + 1, cut_hi - cut_lo)
         |       ELSE norm END AS psm
         |FROM d ORDER BY doc_id""".stripMargin),
    sql("shuffle_audit", (s, dir) =>
      // Shuffle-quality audit (TrainShuffle.shuffleAudit): per shard,
      // source interleaving in the deterministic training order — run
      // counts, longest same-source run, interleave ratio. Per-shard
      // window + two map-side rollups + one numShards-row broadcast.
      graft.ops.TrainShuffle.shuffleAudit(
        GraftSession.table(s, dir, "documents"), "doc_id", "source",
        numShards = 16)
        .orderBy("shard"))(
      // shuffle_audit: shard/sort_key re-derived, runs via the lag-change
      // flag + running sum, rolled up per shard.
      s"""WITH lay AS (
         |  SELECT doc_id, source,
         |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuf:shard'), 1, 7) AS BIGINT) % 16 AS shard,
         |    md5(CAST(doc_id AS VARCHAR) || ':shuf:ord') AS sort_key
         |  FROM documents),
         |r AS (
         |  SELECT *, CASE WHEN lag(source) OVER w IS NULL
         |                   OR lag(source) OVER w <> source
         |                 THEN 1 ELSE 0 END AS chg
         |  FROM lay
         |  WINDOW w AS (PARTITION BY shard ORDER BY sort_key, doc_id)),
         |r2 AS (
         |  SELECT *, sum(chg) OVER (PARTITION BY shard
         |    ORDER BY sort_key, doc_id ROWS UNBOUNDED PRECEDING) AS run
         |  FROM r),
         |rs AS (SELECT shard, run, count(*) AS run_len
         |       FROM r2 GROUP BY shard, run),
         |ps AS (SELECT shard, CAST(sum(run_len) AS BIGINT) AS n_docs,
         |         CAST(count(*) AS BIGINT) AS n_runs,
         |         CAST(max(run_len) AS BIGINT) AS max_run
         |       FROM rs GROUP BY shard),
         |g AS (SELECT shard, CAST(count(DISTINCT source) AS BIGINT)
         |        AS n_groups
         |      FROM lay GROUP BY shard)
         |SELECT ps.shard, n_docs, n_groups, n_runs, max_run,
         |  CAST(n_runs AS DOUBLE) / CAST(n_docs AS DOUBLE) AS interleave
         |FROM ps JOIN g USING (shard) ORDER BY ps.shard""".stripMargin),
    sql("epoch_shuffle", (s, dir) =>
      // Cross-epoch order audit (TrainShuffle.epochOrderAudit): three
      // epoch-salted deterministic shuffles, repeated-adjacency counts
      // per epoch pair — proves the per-epoch permutations are actually
      // independent (a broken salting shows n_repeat ~ n_adj). Per-
      // epoch lag windows + one pair-key join + an E-row broadcast.
      graft.ops.TrainShuffle.epochOrderAudit(
        GraftSession.table(s, dir, "documents"), "doc_id", numShards = 16,
        epochSalts = Seq("epoch0", "epoch1", "epoch2"))
        .orderBy("epoch_a", "epoch_b"))(
      // pack_report: the seq_pack layout CTEs rolled up per shard; fill
      // is one IEEE division of exact integers.
      // epoch_shuffle: the epoch-salted layout replayed per epoch, lag
      // adjacency pairs, one pair-key self-join across epochs; the grid
      // keeps zero-repeat epoch pairs visible.
      s"""WITH e(epoch) AS (
         |  SELECT 'epoch' || CAST(r.range AS VARCHAR) FROM range(0, 3) r),
         |lay AS (
         |  SELECT e.epoch, d.doc_id,
         |    CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || e.epoch || ':shard'), 1, 7) AS BIGINT) % 16 AS shard,
         |    md5(CAST(d.doc_id AS VARCHAR) || ':' || e.epoch || ':ord') AS sort_key
         |  FROM documents d, e),
         |pr AS (SELECT epoch, doc_id, lag(doc_id) OVER (
         |         PARTITION BY epoch, shard ORDER BY sort_key, doc_id)
         |         AS prev
         |       FROM lay),
         |p AS (SELECT epoch, least(doc_id, prev) AS lo,
         |        greatest(doc_id, prev) AS hi
         |      FROM pr WHERE prev IS NOT NULL),
         |cnt AS (SELECT epoch, CAST(count(*) AS BIGINT) AS n_adj
         |        FROM p GROUP BY epoch),
         |rep AS (SELECT a.epoch AS ea, b.epoch AS eb,
         |          CAST(count(*) AS BIGINT) AS n_repeat
         |        FROM p a JOIN p b ON a.lo = b.lo AND a.hi = b.hi
         |                         AND a.epoch < b.epoch
         |        GROUP BY 1, 2),
         |grid AS (SELECT a.epoch AS epoch_a, b.epoch AS epoch_b,
         |           a.n_adj AS n_adj_a, b.n_adj AS n_adj_b
         |         FROM cnt a JOIN cnt b ON a.epoch < b.epoch)
         |SELECT epoch_a, epoch_b, n_adj_a, n_adj_b,
         |  CAST(coalesce(rep.n_repeat, 0) AS BIGINT) AS n_repeat
         |FROM grid LEFT JOIN rep
         |  ON grid.epoch_a = rep.ea AND grid.epoch_b = rep.eb
         |ORDER BY epoch_a, epoch_b""".stripMargin),
    rendered("bpe_coverage", (s, dir) => {
      // Tokenizer-coverage audit: score the WHOLE corpus against a
      // model trained on a subcorpus that never saw 'q'/'j' (the
      // deployment hazard this audit exists to catch — a tokenizer
      // trained on yesterday's data meets tomorrow's alphabet): per
      // doc, model tokens, unk-id tokens, and the unk fraction. One
      // stateless broadcast-model pass (Bpe.bpeEncodeIds) + a Column
      // rollup over the ids array.
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(
        docs.filter(!lower(col("text")).contains("q") &&
          !lower(col("text")).contains("j")),
        "text", numMerges = 40)
      graft.functions.Bpe.bpeEncodeIds(docs, "doc_id", "text", model)
        .select(col("doc_id"), col("n_tokens_bpe"),
          size(filter(col("token_ids"),
            x => x === 0)).cast("long").as("n_unk"))
        .withColumn("unk_frac",
          when(col("n_tokens_bpe") === 0, lit(0.0))
            .otherwise(col("n_unk").cast("double") /
              col("n_tokens_bpe").cast("double")))
        .orderBy("doc_id")
    }) { a => import a._
      s"""WITH ev(w, toks, n) AS (VALUES $bpeValsCov),
         |$bpeVocabCtesCov,
         |$bpeWordsCte,
         |t AS (SELECT doc_id, words, unnest(range(1, len(words) + 1)) AS i
         |      FROM w),
         |x AS (SELECT doc_id, i, words[i] AS word FROM t),
         |xt AS (SELECT x.doc_id, string_split(ev.toks, ' ') AS tl
         |       FROM x JOIN ev ON x.word = ev.w),
         |tk AS (SELECT doc_id, unnest(tl) AS token FROM xt),
         |idt AS (SELECT tk.doc_id,
         |          CASE WHEN coalesce(vocab.id, 0) = 0 THEN 1 ELSE 0 END
         |            AS is_unk
         |        FROM tk LEFT JOIN vocab ON tk.token = vocab.token),
         |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens_bpe,
         |         CAST(sum(is_unk) AS BIGINT) AS n_unk
         |       FROM idt GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(ag.n_tokens_bpe, 0) AS BIGINT) AS n_tokens_bpe,
         |  CAST(coalesce(ag.n_unk, 0) AS BIGINT) AS n_unk,
         |  CASE WHEN coalesce(ag.n_tokens_bpe, 0) = 0 THEN 0.0
         |       ELSE CAST(ag.n_unk AS DOUBLE) / CAST(ag.n_tokens_bpe AS DOUBLE)
         |  END AS unk_frac
         |FROM documents d LEFT JOIN ag USING (doc_id)
         |ORDER BY doc_id""".stripMargin },
    rendered("bpe_fertility", (s, dir) => {
      // Tokenizer fertility eval (Bpe.fertilityReport): model tokens
      // per whitespace word and chars per token, per the lang
      // ground-truth column — the per-group efficiency table that
      // localizes WHERE the vocab is wasted (a corpus-wide average
      // hides the script the tokenizer never saw). One broadcast-model
      // pass + one map-side rollup; exact integer masses, each ratio
      // one IEEE division.
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
      graft.functions.Bpe.fertilityReport(docs, "text", "lang", model)
        .orderBy("lang")
    }) { a => import a._
      // bpe_fertility: the bpe_count word-literal replay rolled up per
      // lang, with whitespace-word and normalized-char masses from the
      // same words CTE; ratios are single IEEE divisions of exact longs.
      s"""WITH ev(w, toks, n) AS (VALUES $bpeVals),
         |$bpeWordsCte,
         |t AS (SELECT doc_id, unnest(words) AS word FROM w),
         |bc AS (SELECT t.doc_id, CAST(sum(ev.n) AS BIGINT) AS n
         |       FROM t JOIN ev ON t.word = ev.w GROUP BY t.doc_id),
         |base AS (SELECT d.doc_id, d.lang,
         |           CAST(len(w.words) AS BIGINT) AS nw,
         |           CAST(length(trim(regexp_replace(lower(coalesce(d.text, '')), '\\s+', ' ', 'g'))) AS BIGINT) AS nc,
         |           CAST(coalesce(bc.n, 0) AS BIGINT) AS nt
         |         FROM documents d JOIN w USING (doc_id)
         |         LEFT JOIN bc USING (doc_id)),
         |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(nw) AS BIGINT) AS n_words,
         |        CAST(sum(nt) AS BIGINT) AS n_tokens_bpe,
         |        CAST(sum(nc) AS BIGINT) AS n_chars
         |      FROM base GROUP BY lang)
         |SELECT lang, n_docs, n_words, n_tokens_bpe, n_chars,
         |  CASE WHEN n_words = 0 THEN 0.0
         |       ELSE CAST(n_tokens_bpe AS DOUBLE) / CAST(n_words AS DOUBLE)
         |  END AS fertility,
         |  CASE WHEN n_tokens_bpe = 0 THEN 0.0
         |       ELSE CAST(n_chars AS DOUBLE) / CAST(n_tokens_bpe AS DOUBLE)
         |  END AS chars_per_token
         |FROM g ORDER BY lang""".stripMargin },
    sql("curate_sample_split", (s, dir) => {
      // The new-operator composition a data-prep run chains: quality-
      // proportional downsampling (importanceSample kept flags) feeding
      // the leak-free grouped split — both stateless projections, so
      // the composition is still one scan + one semi-join-shaped join.
      val d = GraftSession.table(s, dir, "documents")
      val kept = graft.ops.CorpusMix.importanceSample(
          d, "doc_id", "n_chars", maxScore = 400L)
        .filter(col("kept")).select("doc_id")
      graft.ops.CorpusMix.splitAssign(
        d.join(kept, Seq("doc_id"), "left_semi"), "doc_id",
        Seq(("train", 8L), ("val", 1L), ("test", 1L)), byCol = "source")
        .orderBy("doc_id")
    })(
      // curate_sample_split: the importance_sample draw composed with the
      // grouped split (8/1/1 → cuts floor(2^32*8/10) = 3435973836 and
      // floor(2^32*9/10) = 3865470566).
      """WITH k AS (SELECT doc_id, source FROM documents
        |  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':isample'), 1, 8) AS BIGINT)
        |        * 400 < least(n_chars, 400) * 4294967296),
        |h AS (SELECT doc_id, source,
        |  CAST('0x' || substr(md5(source || ':split'), 1, 8) AS BIGINT) AS h32
        |FROM k)
        |SELECT doc_id, source,
        |  CASE WHEN h32 < 3435973836 THEN 'train'
        |       WHEN h32 < 3865470566 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin),
    candidate("split_leakage", (s, dir) => {
      // Split-leakage audit: near-dup pairs CROSSING the train/val/test
      // boundary — the eval-integrity failure benchmark decontamination
      // cannot catch (the leak is internal: a held-out doc
      // near-duplicates a train doc, so the eval score is memorization).
      // Composes the banded near-dup pairs with the deterministic split;
      // per unordered split pair, the verified pair count — the
      // off-diagonal rows ARE the leaks. Scale shape: the split side is
      // a stateless projection; the two id joins key the (bounded)
      // verified-pair frame, then one map-side rollup to <= 6 rows.
      val d = GraftSession.table(s, dir, "documents")
      val splits = graft.ops.CorpusMix.splitAssign(d, "doc_id",
          Seq(("train", 80L), ("val", 10L), ("test", 10L)))
        .select(col("doc_id"), col("split"))
      graft.functions.Dedup.nearDupPairs(d, "doc_id", "text", 0.7)
        .join(splits.select(col("doc_id").as("id_a"),
          col("split").as("sa")), "id_a")
        .join(splits.select(col("doc_id").as("id_b"),
          col("split").as("sb")), "id_b")
        .select(least(col("sa"), col("sb")).as("split_lo"),
          greatest(col("sa"), col("sb")).as("split_hi"))
        .groupBy("split_lo", "split_hi")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leak", col("split_lo") =!= col("split_hi"))
        .orderBy("split_lo", "split_hi")
    })(Oracle.splitLeakageOracle),
    sql("split_assign", (s, dir) =>
      // Weighted N-way deterministic split (80/10/10): exact BigInt u32
      // thresholds over an md5 draw — no rand(), no float proportions
      // (CorpusMix.splitAssign; stateless projection, stream-native).
      graft.ops.CorpusMix.splitAssign(
        GraftSession.table(s, dir, "documents"), "doc_id",
        Seq(("train", 80L), ("val", 10L), ("test", 10L)))
        .orderBy("doc_id"))(
      // split_assign: cuts are floor(2^32 * cum_weight / total) — for
      // 80/10/10 that is 3435973836 and 3865470566; the last range ends at
      // 2^32, past any 32-bit draw.
      """WITH h AS (SELECT doc_id,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8)
        |    AS BIGINT) AS h32
        |FROM documents)
        |SELECT doc_id,
        |  CASE WHEN h32 < 3435973836 THEN 'train'
        |       WHEN h32 < 3865470566 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin),
    sql("split_assign_grouped", (s, dir) =>
      // The LEAK-FREE variant: the draw keys on SOURCE, so every doc of
      // a domain lands in the same split — near-dups concentrated in a
      // domain can no longer straddle train/test.
      graft.ops.CorpusMix.splitAssign(
        GraftSession.table(s, dir, "documents"), "doc_id",
        Seq(("train", 2L), ("val", 1L), ("test", 1L)), byCol = "source")
        .orderBy("doc_id"))(
      // Grouped form: the draw keys on source (weights 2/1/1 — cuts
      // 2147483648 and 3221225472), so split is a pure function of source.
      """WITH h AS (SELECT doc_id, source,
        |  CAST('0x' || substr(md5(source || ':split'), 1, 8)
        |    AS BIGINT) AS h32
        |FROM documents)
        |SELECT doc_id, source,
        |  CASE WHEN h32 < 2147483648 THEN 'train'
        |       WHEN h32 < 3221225472 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin),
    sql("dedup_exact", (s, dir) =>
      graft.functions.Dedup.exactDedup(
        GraftSession.table(s, dir, "documents"), "doc_id", "text")
        .orderBy("id"))(
      """WITH fp AS (
        |  SELECT doc_id AS id,
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |g AS (SELECT fp, min(id) AS canonical_id, count(*) AS group_size FROM fp GROUP BY fp)
        |SELECT id, canonical_id, group_size FROM fp JOIN g USING (fp) ORDER BY id""".stripMargin),
    candidate("neardup_pairs", (s, dir) =>
      graft.functions.Dedup.nearDupPairs(
        GraftSession.table(s, dir, "documents"), "doc_id", "text", threshold = 0.7)
        .orderBy("id_a", "id_b"))(Oracle.nearDupPairsOracle),
    candidate("dedup_keep_best", (s, dir) =>
      // Keep-BEST consolidation: one survivor per near-dup cluster,
      // the LONGEST member (ties to smallest id) — exact integers, a
      // single map-side max_by per cluster, no window
      // (Dedup.nearDupKeepBest).
      graft.functions.Dedup.nearDupKeepBest(
        GraftSession.table(s, dir, "documents"), "doc_id", "text", 0.7)
        .orderBy("doc_id"))(
      // Both keep-best forms render from Oracle.keepBestOracle — the
      // sf0.01 gate uses the EXHAUSTIVE all-pairs form (cand = None);
      // dynamicOracleSql swaps in the operator-candidate literal form
      // from its candMinDocs documents on (see keepBestOracle's
      // scaladoc for what each form does and does not re-check).
      Oracle.keepBestOracle(_, scored = false)),
    candidate("dedup_keep_best_scored", (s, dir) =>
      // The caller-score overload: winner by an external integral
      // quality score (here the table's n_chars) instead of token
      // count — same clustering, same single map-side max_by
      // (Dedup.nearDupKeepBestBy).
      graft.functions.Dedup.nearDupKeepBestBy(
        GraftSession.table(s, dir, "documents"), "doc_id", "text",
        "n_chars", 0.7)
        .orderBy("doc_id"))(
      // The caller-score overload replays the same recursive-CC clustering
      // with the table's n_chars as the winner key.
      Oracle.keepBestOracle(_, scored = true)),
    candidate("neardup_clusters", (s, dir) =>
      graft.functions.Dedup.nearDupClusters(
        GraftSession.table(s, dir, "documents"), "doc_id", "text", threshold = 0.7)
        .orderBy("id"))(Oracle.nearDupClustersOracle),
    sql("neardup_containment", (s, dir) =>
      // See Dedup.containmentPairs for the full design rationale: rare-
      // shingle inverted index (df pre-counted BEFORE any collect_list,
      // so a boilerplate shingle never lands on one reducer), >= 5
      // shared-evidence floor, then exact |A∩B|/|A| verification.
      // Parity with the SQL oracle is by construction — both engines
      // apply the same rule, including 28-bit shingle-hash collisions.
      graft.functions.Dedup.containmentPairs(
        GraftSession.table(s, dir, "documents"), "doc_id", "text")
        .orderBy("id_a", "id_b"))(
      // Containment is defined over the DISTINCT 28-bit shingle-hash sets
      // (matching the Spark side's fused hash-set pass); collisions are
      // part of the operator contract for candidates AND verification.
      s"""${Oracle.shingleCtes},
         |ex AS (SELECT DISTINCT doc_id AS id,
         |         CAST('0x' || substr(md5(s), 1, 7) AS BIGINT) AS h
         |       FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
         |grp AS (SELECT h FROM ex GROUP BY h
         |        HAVING count(*) BETWEEN 2 AND 20),
         |exr AS (SELECT id, h FROM ex JOIN grp USING (h)),
         |candu AS (SELECT a.id AS id_a, b.id AS id_b
         |          FROM exr a JOIN exr b ON a.h = b.h AND a.id < b.id
         |          GROUP BY 1, 2 HAVING count(*) >= 5),
         |cand AS (SELECT id_a, id_b FROM candu
         |         UNION ALL SELECT id_b, id_a FROM candu),
         |hsets AS (SELECT id, list(h) AS hs, count(*) AS n
         |          FROM ex GROUP BY id)
         |SELECT id_a, id_b,
         |  len(list_intersect(ha.hs, hb.hs))::DOUBLE / ha.n AS containment
         |FROM cand JOIN hsets ha ON ha.id = id_a
         |          JOIN hsets hb ON hb.id = id_b
         |WHERE len(list_intersect(ha.hs, hb.hs))::DOUBLE / ha.n >= 0.8
         |ORDER BY id_a, id_b""".stripMargin),
    sql("jaccard_ngram", (s, dir) =>
      // Exact word-bigram Jaccard similarity self-join via PPJoin prefix
      // filtering (see Dedup.exactJaccardJoin): candidate pruning is
      // provably lossless, so the oracle is the EXHAUSTIVE pairwise join
      // — recall is checked, not assumed (unlike the MinHash path, whose
      // banding is probabilistic).
      graft.functions.Dedup.exactJaccardJoin(
        GraftSession.table(s, dir, "documents"), "doc_id", "text",
        n = 2, threshold = 0.8)
        .orderBy("id_a", "id_b"))(
      // EXHAUSTIVE pairwise Jaccard — deliberately no candidate pruning:
      // the Spark side's PPJoin prefix filter claims lossless recall, and
      // this oracle is the proof obligation.
      s"""${Oracle.sh2Ctes},
         |ex AS (SELECT DISTINCT doc_id AS id,
         |         CAST('0x' || substr(md5(s), 1, 7) AS BIGINT) AS h
         |       FROM (SELECT doc_id, unnest(shingles) AS s FROM sh2)),
         |hs AS (SELECT id, list(h) AS hs, count(*) AS n FROM ex GROUP BY id)
         |SELECT a.id AS id_a, b.id AS id_b,
         |  len(list_intersect(a.hs, b.hs))::DOUBLE /
         |    (a.n + b.n - len(list_intersect(a.hs, b.hs))) AS jaccard
         |FROM hs a JOIN hs b ON a.id < b.id
         |WHERE len(list_intersect(a.hs, b.hs))::DOUBLE /
         |      (a.n + b.n - len(list_intersect(a.hs, b.hs))) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin),
    sql("decontaminate", (s, dir) =>
      // Benchmark-leakage guard: docs sharing >= 30% of their 3-gram
      // hashes with the eval slice (doc_id % 97 == 0) are flagged; eval
      // grams broadcast, corpus scanned once.
      graft.functions.Dedup.decontaminate(
        GraftSession.table(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"))(
      s"""${Oracle.shingleCtes},
         |ex AS (SELECT DISTINCT doc_id AS id,
         |         CAST('0x' || substr(md5(s), 1, 7) AS BIGINT) AS h
         |       FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
         |ev AS (SELECT DISTINCT h FROM ex WHERE id % 97 = 0),
         |tr AS (SELECT id, h FROM ex WHERE id % 97 != 0),
         |cnts AS (SELECT id, count(*) AS n_grams FROM tr GROUP BY 1),
         |ov AS (SELECT id, count(*) AS n_overlap FROM tr JOIN ev USING (h)
         |       GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(n_grams, 0) AS n_grams,
         |  COALESCE(n_overlap, 0) AS n_overlap,
         |  CASE WHEN COALESCE(n_grams, 0) = 0 THEN false
         |       ELSE COALESCE(n_overlap, 0)::DOUBLE / n_grams >= 0.3
         |  END AS contaminated
         |FROM documents d
         |LEFT JOIN cnts ON cnts.id = d.doc_id
         |LEFT JOIN ov ON ov.id = d.doc_id
         |WHERE d.doc_id % 97 != 0
         |ORDER BY d.doc_id""".stripMargin),
    rendered("hybrid_topk", (s, dir) => {
      // Hybrid retrieval fusion (Hybrid.hybridTopK): BM25 and IVF
      // top-20 per query fused by reciprocal rank — integer micro-unit
      // contributions (1e6 div (60 + rank)), so the fused score is an
      // exact integer both engines reproduce. The oracle composes the
      // idf-literal BM25 replay with the centroid-literal IVF replay
      // and re-runs the fusion arithmetic independently. Both rankers
      // are two-phase top-k; the fusion itself touches only bounded
      // frames.
      import s.implicits._
      graft.functions.Hybrid.hybridTopK(
        GraftSession.table(s, dir, "documents"), "doc_id", "text",
        GraftSession.table(s, dir, "embeddings"),
        Bm25BatchQueries.toDF("query_id", "terms"), k = 10, kPer = 20)
        .orderBy("query_id", "rank")
    })(hybridTopkOracle),
    rendered("hybrid_topk_indexed", (s, dir) => {
      // The recurring-pipeline form: BOTH rankers served from persisted
      // artifacts (stored Bm25BatchModel + stored IvfIndex), fused by
      // the same integer RRF — value-identical to hybrid_topk by
      // construction (each stored ranker shares its live twin's scoring
      // path), so the oracle is the same replay. At 100 TB the corpus
      // is never re-scanned for idf training or quantizer assignment.
      import s.implicits._
      val d = GraftSession.table(s, dir, "documents")
      val emb = GraftSession.table(s, dir, "embeddings")
      val q = Bm25BatchQueries.toDF("query_id", "terms")
      val model = graft.functions.TextFunctions.bm25BatchTrain(
        d, "doc_id", "text", q)
      val idx = graft.functions.IVF.buildIvfIndex(emb)
      graft.functions.Hybrid.hybridTopKIndexed(
        d, "doc_id", "text", model, idx, q, k = 10, kPer = 20)
        .orderBy("query_id", "rank")
    })(hybridTopkOracle),
    sql("decontaminate_multi", (s, dir) => {
      // Multi-benchmark leakage screen: two named eval slices (doc_id %
      // 97 / % 89), union gram table broadcast ONCE, per-(doc, set)
      // overlap from a single corpus pass (Dedup.decontaminateAgainst).
      val d = GraftSession.table(s, dir, "documents")
      val evals = d.filter(col("doc_id") % 97 === 0)
        .select(lit("holdA").as("set_name"), col("text"))
        .unionAll(d.filter(col("doc_id") % 89 === 0)
          .select(lit("holdB").as("set_name"), col("text")))
      graft.functions.Dedup.decontaminateAgainst(
        d.filter(col("doc_id") % 97 =!= 0 && col("doc_id") % 89 =!= 0),
        "doc_id", "text", evals)
        .orderBy("doc_id", "set_name")
    })(
      s"""${Oracle.shingleCtes},
         |ex AS (SELECT DISTINCT doc_id AS id,
         |         CAST('0x' || substr(md5(s), 1, 7) AS BIGINT) AS h
         |       FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
         |ev AS (SELECT DISTINCT 'holdA' AS set_name, h FROM ex
         |       WHERE id % 97 = 0
         |       UNION
         |       SELECT DISTINCT 'holdB' AS set_name, h FROM ex
         |       WHERE id % 89 = 0),
         |tr AS (SELECT id, h FROM ex WHERE id % 97 != 0 AND id % 89 != 0),
         |cnts AS (SELECT id, CAST(count(*) AS BIGINT) AS n_grams
         |         FROM tr GROUP BY 1),
         |ov AS (SELECT id, set_name, CAST(count(*) AS BIGINT) AS n_overlap
         |       FROM tr JOIN ev USING (h) GROUP BY 1, 2)
         |SELECT ov.id AS doc_id, ov.set_name, n_grams, n_overlap,
         |  (n_overlap::DOUBLE / n_grams >= 0.3) AS contaminated
         |FROM ov JOIN cnts USING (id)
         |ORDER BY doc_id, set_name""".stripMargin),
    sql("quality_repetition", (s, dir) =>
      // Gopher-style repetition gate: top-word share + duplicate-bigram
      // fraction, one typed pass, no shuffle.
      graft.functions.TextFunctions.repetitionStats(
        GraftSession.table(s, dir, "documents"), "doc_id", "text")
        .toDF().orderBy("doc_id"))(
      s"""${Oracle.wordsCte},
         |tok AS (SELECT doc_id, unnest(words) AS tkn FROM w),
         |wc AS (SELECT doc_id, tkn, count(*) AS c FROM tok GROUP BY 1, 2),
         |topw AS (SELECT doc_id, max(c) AS maxc FROM wc GROUP BY 1),
         |bg AS (SELECT doc_id, len(words) AS n_tokens,
         |         CASE WHEN len(words) >= 2
         |              THEN [array_to_string(words[i:i+1], ' ')
         |                    for i in range(1, len(words))]
         |              ELSE []::VARCHAR[] END AS bgs
         |       FROM w)
         |SELECT bg.doc_id,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  maxc::DOUBLE / n_tokens AS top_word_share,
         |  CASE WHEN len(bgs) = 0 THEN 0.0
         |       ELSE 1.0 - len(list_distinct(bgs))::DOUBLE / len(bgs)
         |  END AS dup_2gram_frac,
         |  (maxc::DOUBLE / n_tokens > 0.2 OR
         |   (CASE WHEN len(bgs) = 0 THEN 0.0
         |         ELSE 1.0 - len(list_distinct(bgs))::DOUBLE / len(bgs)
         |    END) > 0.5) AS flagged
         |FROM bg JOIN topw USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    sql("quality_gopher", (s, dir) =>
      // The STRUCTURAL Gopher rule families (token bounds, mean word
      // length, symbol/bullet/ellipsis ratios, alpha fraction, stopword
      // presence) — one typed pass, no shuffle; every ratio one IEEE
      // division of exact counts (TextFunctions.gopherStats).
      graft.functions.TextFunctions.gopherStats(
        GraftSession.table(s, dir, "documents"), "doc_id", "text")
        .toDF().orderBy("doc_id"))(
      // quality_gopher: every ratio is one division of exactly-counted
      // integers; symbol counts are replace-based occurrence counts
      // (identical non-overlapping semantics in String.replace and SQL
      // replace), so no length-vs-codepoint hazard reaches any output.
      // The `passes` verdict re-derives each ratio from the same exact
      // integers, so its comparisons see bit-identical doubles.
      s"""${Oracle.wordsCte},
         |sg AS (SELECT w.doc_id,
         |         len(words) AS n,
         |         CAST(list_sum(list_transform(words, t -> length(t)))
         |           AS BIGINT) AS sumlen,
         |         length(text) - length(replace(text, '#', '')) AS hashes,
         |         (length(text) - length(replace(text, '...', ''))) // 3
         |           AS ellipses,
         |         len(list_filter(words, t -> regexp_matches(t, '[a-z]')))
         |           AS alpha,
         |         len(list_filter(words, t -> t IN ('the','a','an','of',
         |           'and','to','in','is','it','for'))) AS stops,
         |         str_split(text, chr(10)) AS lines
         |       FROM w),
         |sl AS (SELECT doc_id, n, sumlen, hashes, ellipses, alpha, stops,
         |         len(lines) AS n_lines,
         |         len(list_filter(lines, l ->
         |           starts_with(ltrim(l, ' '), '- ') OR
         |           starts_with(ltrim(l, ' '), '* ') OR
         |           starts_with(ltrim(l, ' '), '• '))) AS bullets,
         |         len(list_filter(lines, l ->
         |           ends_with(rtrim(l, ' '), '...'))) AS ell_lines
         |       FROM sg),
         |rt AS (SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |         sumlen::DOUBLE / n AS mean_word_len,
         |         (hashes + ellipses)::DOUBLE / n AS symbol_ratio,
         |         bullets::DOUBLE / n_lines AS bullet_frac,
         |         ell_lines::DOUBLE / n_lines AS ellipsis_frac,
         |         alpha::DOUBLE / n AS alpha_frac,
         |         CAST(stops AS BIGINT) AS n_stop_hits
         |       FROM sl)
         |SELECT doc_id, n_tokens, mean_word_len, symbol_ratio,
         |  bullet_frac, ellipsis_frac, alpha_frac, n_stop_hits,
         |  (n_tokens >= 50 AND n_tokens <= 100000 AND
         |   mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND
         |   symbol_ratio < 0.1 AND bullet_frac < 0.9 AND
         |   ellipsis_frac < 0.3 AND alpha_frac > 0.8 AND
         |   n_stop_hits >= 2) AS passes
         |FROM rt ORDER BY doc_id""".stripMargin),
    sql("source_report", (s, dir) =>
      // Per-source dataset-card rollup: doc count, token mass, Gopher
      // pass rate, mean doc length — the source column rides the ONE
      // gopher typed pass (shared rule core), then a map-side rollup
      // to sources rows (TextFunctions.sourceQualityReport).
      graft.functions.TextFunctions.sourceQualityReport(
        GraftSession.table(s, dir, "documents"), "doc_id", "text", "source")
        .orderBy("source"))(
      // source_report: the quality_gopher rule CTEs with source riding
      // through, rolled up per source; each rate is ONE IEEE division of
      // exact integers.
      """WITH w AS (SELECT doc_id, source, text,
        |        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
        |      FROM documents),
        |sg AS (SELECT doc_id, source,
        |         len(words) AS n,
        |         CAST(list_sum(list_transform(words, t -> length(t)))
        |           AS BIGINT) AS sumlen,
        |         length(text) - length(replace(text, '#', '')) AS hashes,
        |         (length(text) - length(replace(text, '...', ''))) // 3
        |           AS ellipses,
        |         len(list_filter(words, t -> regexp_matches(t, '[a-z]')))
        |           AS alpha,
        |         len(list_filter(words, t -> t IN ('the','a','an','of',
        |           'and','to','in','is','it','for'))) AS stops,
        |         str_split(text, chr(10)) AS lines
        |       FROM w),
        |sl AS (SELECT doc_id, source, n, sumlen, hashes, ellipses, alpha,
        |         stops, len(lines) AS n_lines,
        |         len(list_filter(lines, l ->
        |           starts_with(ltrim(l, ' '), '- ') OR
        |           starts_with(ltrim(l, ' '), '* ') OR
        |           starts_with(ltrim(l, ' '), '• '))) AS bullets,
        |         len(list_filter(lines, l ->
        |           ends_with(rtrim(l, ' '), '...'))) AS ell_lines
        |       FROM sg),
        |gp AS (SELECT source, CAST(n AS BIGINT) AS n_tokens,
        |         CASE WHEN n >= 50 AND n <= 100000 AND
        |          sumlen::DOUBLE / n >= 3.0 AND sumlen::DOUBLE / n <= 10.0 AND
        |          (hashes + ellipses)::DOUBLE / n < 0.1 AND
        |          bullets::DOUBLE / n_lines < 0.9 AND
        |          ell_lines::DOUBLE / n_lines < 0.3 AND
        |          alpha::DOUBLE / n > 0.8 AND
        |          stops >= 2 THEN 1 ELSE 0 END AS pass
        |       FROM sl),
        |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |        CAST(sum(pass) AS BIGINT) AS n_pass
        |      FROM gp GROUP BY source)
        |SELECT source, n_docs, n_tokens, n_pass,
        |  CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE) AS pass_rate,
        |  CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |    AS mean_doc_tokens
        |FROM g ORDER BY source""".stripMargin),
    rendered("bm25_topk", (s, dir) =>
      // BM25 ranking against a bounded term query: per-term idf frozen
      // to micro-unit literals (this JVM's one ln call), per-(doc, term)
      // contributions floored after one identically-shaped IEEE
      // expression, INTEGER score sum, two-phase top-k — the lm_score
      // exact-arithmetic discipline applied to retrieval.
      graft.functions.TextFunctions.bm25TopK(
        GraftSession.table(s, dir, "documents"), "doc_id", "text",
        Bm25Terms, k = 20)
        .orderBy("rank")) { a => import a._
      // bm25_topk: idf literals rendered from THIS JVM's ln (the
      // nb_classify pattern); avgdl re-derived in SQL from the same
      // exact integers; the contribution expression is shaped token-
      // for-token like the Column expression in bm25TopK, floored to
      // micro-units before the order-independent integer sum. All
      // double literals render via Double.toString (shortest round
      // trip), so both engines compute on identical bits.
      val bm25Vals = graft.functions.TextFunctions.bm25Idf(
        GraftSession.table(spark, dir, "documents"), "doc_id", "text",
        Bm25Terms)
        .map { case (t, _, m) => s"('${t.replace("'", "''")}', $m)" }
        .mkString(", ")
      val k1 = 1.2; val b = 0.75
      s"""WITH idf(term, idf_micro) AS (VALUES $bm25Vals),
         |${Oracle.wordsCte.stripPrefix("WITH ")},
         |stats AS (SELECT CAST(sum(len(words)) AS BIGINT)::DOUBLE /
         |            count(*) AS avgdl FROM w),
         |tok AS (SELECT doc_id, len(words) AS dl, unnest(words) AS term
         |        FROM w),
         |tf AS (SELECT doc_id, term, dl, count(*) AS tf
         |       FROM tok JOIN idf USING (term) GROUP BY 1, 2, 3),
         |c AS (SELECT tf.doc_id,
         |        CAST(floor(idf_micro * (tf * ${k1 + 1.0}) /
         |          (tf + $k1 * (${1.0 - b} + $b * (dl / avgdl))))
         |          AS BIGINT) AS cm
         |      FROM tf JOIN idf USING (term), stats),
         |sc AS (SELECT doc_id, CAST(sum(cm) AS BIGINT) AS score_micro,
         |         count(*) AS n_terms FROM c GROUP BY doc_id),
         |r AS (SELECT doc_id, score_micro,
         |        CAST(n_terms AS BIGINT) AS n_terms,
         |        CAST(row_number() OVER (ORDER BY score_micro DESC,
         |          doc_id) AS BIGINT) AS rank
         |      FROM sc)
         |SELECT doc_id, score_micro, n_terms, rank FROM r
         |WHERE rank <= 20 ORDER BY rank""".stripMargin },
    rendered("bm25_batch", (s, dir) => {
      // Multi-query BM25: three queries scored in ONE tokenize pass
      // (union idf map in the task closure, no posting-list shuffle),
      // per-query two-phase top-k (TextFunctions.bm25TopKBatch).
      import s.implicits._
      graft.functions.TextFunctions.bm25TopKBatch(
        GraftSession.table(s, dir, "documents"), "doc_id", "text",
        Bm25BatchQueries.toDF("query_id", "terms"), k = 10)
        .orderBy("query_id", "rank")
    })(bm25BatchOracle),
    rendered("bm25_batch_model", (s, dir) => {
      // The train-once form: persist union idf + corpus stats + the
      // query SET (TextFunctions.bm25BatchTrain — the Bm25Model
      // posture for the batch path), rank batches against the STORED
      // yardstick (bm25TopKBatchModel). Scoring the training corpus
      // against its own model is value-identical to bm25_batch, so the
      // oracle replays the same per-query idf-literal SQL.
      import s.implicits._
      val d = GraftSession.table(s, dir, "documents")
      val model = graft.functions.TextFunctions.bm25BatchTrain(
        d, "doc_id", "text", Bm25BatchQueries.toDF("query_id", "terms"))
      graft.functions.TextFunctions.bm25TopKBatchModel(
        model, d, "doc_id", "text", k = 10)
        .orderBy("query_id", "rank")
    })(bm25BatchOracle),
    sql("tfidf_topterms", (s, dir) =>
      // Top-5 salient terms per doc by tf-idf (linearized idf N/df for
      // bit-reproducible cross-engine ranking; see tfIdfTopTerms doc).
      graft.functions.TextFunctions.tfIdfTopTerms(
        GraftSession.table(s, dir, "documents"), "doc_id", "text", k = 5)
        .orderBy("doc_id", "rk"))(
      s"""${Oracle.wordsCte},
         |tok AS (SELECT doc_id, unnest(words) AS term FROM w),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term != '' GROUP BY 1, 2),
         |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |r AS (SELECT doc_id, term, tf, df,
         |        CAST(row_number() OVER (PARTITION BY doc_id
         |          ORDER BY tf * (n_docs::DOUBLE / df) DESC, term)
         |          AS BIGINT) AS rk
         |      FROM tf JOIN dfr USING (term), n)
         |SELECT doc_id, term, tf, df, rk FROM r WHERE rk <= 5
         |ORDER BY doc_id, rk""".stripMargin),
    sql("corpus_mix", (s, dir) =>
      // Training-mix recipe: 40 docs from each even source, 10 from each
      // odd one, drawn by md5 rank (ops.CorpusMix — two-phase TopN under
      // a low-cardinality source column, quota applied via broadcast).
      graft.ops.CorpusMix.mix(
        GraftSession.table(s, dir, "documents"), "doc_id", "source",
        (0 until 20).map(i => s"src$i" -> (if (i % 2 == 0) 40 else 10)).toMap)
        .orderBy("doc_id")) {
      val quotaRows = (0 until 20)
        .map(i => s"('src$i', ${if (i % 2 == 0) 40 else 10})").mkString(", ")
      s"""WITH quota AS (SELECT * FROM (VALUES $quotaRows) q(source, k)),
         |rk AS (SELECT doc_id, source,
         |         CAST(row_number() OVER (PARTITION BY source
         |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
         |           AS BIGINT) AS rk
         |       FROM documents)
         |SELECT doc_id, source, rk FROM rk JOIN quota USING (source)
         |WHERE rk <= k ORDER BY doc_id""".stripMargin
    },
    sql("source_cap", (s, dir) =>
      // Per-domain cap with a kept flag for EVERY doc (the web-crawl
      // "no hot domain dominates" gate): two-phase bounded-heap prune
      // before the exact window, so a hot source never funnels its full
      // population through one reducer (ops.CorpusMix.sourceCap).
      graft.ops.CorpusMix.sourceCap(
        GraftSession.table(s, dir, "documents"), "doc_id", "source", 10)
        .orderBy("doc_id"))(
      """SELECT doc_id, source,
        |  (row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 10)
        |    AS kept
        |FROM documents ORDER BY doc_id""".stripMargin),
    sql("source_cap_hash", (s, dir) =>
      // The UNBIASED keeper mode: md5-of-id rank instead of lowest-id
      // (on a real crawl, id order tracks crawl order, so byId
      // systematically keeps the earliest-crawled pages of a hot
      // domain). Routed through the shared md5RankTake core — same
      // two-phase heap-then-window shape, still no rand().
      graft.ops.CorpusMix.sourceCap(
        GraftSession.table(s, dir, "documents"), "doc_id", "source", 10,
        keepBy = "byHash")
        .orderBy("doc_id"))(
      // The md5-rank keeper mode replays corpus_mix's draw order: md5 hex
      // is ASCII, so VARCHAR compare == Spark's UTF8 binary order.
      """SELECT doc_id, source,
        |  (row_number() OVER (PARTITION BY source
        |     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 10)
        |    AS kept
        |FROM documents ORDER BY doc_id""".stripMargin),
    sql("sample_weighted", (s, dir) =>
      // Length-weighted deterministic sample (ops.CorpusMix
      // .weightedSample): integer priority = (h28 << 20) div n_chars,
      // 100 smallest win — TakeOrdered plan, no global sort.
      graft.ops.CorpusMix.weightedSample(
        GraftSession.table(s, dir, "documents"), "doc_id", "n_chars", k = 100)
        .orderBy("doc_id"))(
      """WITH p AS (
        |  SELECT doc_id, n_chars AS weight,
        |    (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wsample'), 1, 7) AS BIGINT)
        |     * 1048576) // greatest(n_chars, 1) AS priority
        |  FROM documents)
        |SELECT doc_id, weight, priority FROM p
        |ORDER BY priority, doc_id LIMIT 100""".stripMargin),
    sql("sample_shuffle", (s, dir) =>
      // Deterministic training-shuffle assignment (ops.TrainShuffle):
      // md5-derived shard + intra-shard order key; the write-time
      // repartition+sortWithinPartitions pair is spec-tested — no global
      // sort, no low-cardinality window anywhere.
      graft.ops.TrainShuffle.shardAssign(
        GraftSession.table(s, dir, "documents").select("doc_id"),
        "doc_id", numShards = 16)
        .orderBy("doc_id"))(
      """SELECT doc_id,
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuf:shard'), 1, 7) AS BIGINT) % 16 AS shard,
        |  md5(CAST(doc_id AS VARCHAR) || ':shuf:ord') AS sort_key
        |FROM documents ORDER BY doc_id""".stripMargin),
    candidate("neardup_join", (s, dir) => {
      // Incremental-ingestion dedup: even-id docs (the "new batch")
      // near-dup-joined against odd-id docs (the "existing corpus") —
      // banded-LSH candidates across the two frames only, verified
      // exactly (Dedup.nearDupJoin). Oracle = exhaustive cross join.
      val d = GraftSession.table(s, dir, "documents")
      graft.functions.Dedup.nearDupJoin(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", threshold = 0.7)
        .orderBy("left_id", "right_id")
    })(Oracle.nearDupJoinOracle),
    sql("profile_table", (s, dir) => {
      // One-scan per-column profile of lineitem (ops.TableProfile, exact
      // mode for the value gate; the approx/HLL mode is the scale path
      // and its 10%-bound contract rides approx_distinct's pattern).
      graft.ops.TableProfile.profile(
        GraftSession.table(s, dir, "lineitem"),
        numericCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        stringCols = Seq("l_returnflag", "l_linestatus"),
        exact = true)
        .orderBy("column")
    })(
      """SELECT 'l_quantity' AS "column", count(*) AS n,
        |  count(*) - count(l_quantity) AS n_null,
        |  count(DISTINCT l_quantity) AS n_distinct,
        |  min(l_quantity)::DOUBLE AS min_num, max(l_quantity)::DOUBLE AS max_num,
        |  NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str FROM lineitem
        |UNION ALL
        |SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
        |  count(DISTINCT l_extendedprice), min(l_extendedprice)::DOUBLE,
        |  max(l_extendedprice)::DOUBLE, NULL, NULL FROM lineitem
        |UNION ALL
        |SELECT 'l_discount', count(*), count(*) - count(l_discount),
        |  count(DISTINCT l_discount), min(l_discount)::DOUBLE,
        |  max(l_discount)::DOUBLE, NULL, NULL FROM lineitem
        |UNION ALL
        |SELECT 'l_tax', count(*), count(*) - count(l_tax),
        |  count(DISTINCT l_tax), min(l_tax)::DOUBLE, max(l_tax)::DOUBLE,
        |  NULL, NULL FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
        |  count(DISTINCT l_returnflag), NULL::DOUBLE, NULL::DOUBLE,
        |  min(l_returnflag), max(l_returnflag) FROM lineitem
        |UNION ALL
        |SELECT 'l_linestatus', count(*), count(*) - count(l_linestatus),
        |  count(DISTINCT l_linestatus), NULL::DOUBLE, NULL::DOUBLE,
        |  min(l_linestatus), max(l_linestatus) FROM lineitem
        |ORDER BY "column"""".stripMargin),
    candidate("corpus_curate", (s, dir) =>
      // The END-TO-END curation manifest (ops.Curation.curate): gate ->
      // decontaminate -> exact dedup -> near-dup -> LM floor -> shard +
      // sequence packing. Every stage has its own green oracle; this
      // query value-checks their COMPOSITION, which is what a user
      // actually runs (ScaleStress times the same op at 20x).
      graft.ops.Curation.curate(GraftSession.table(s, dir, "documents"))
        .orderBy("doc_id"))(
      // Rendered by Oracle.curateOracle — the sf0.01 gate keeps the
      // exhaustive near-dup stage; dynamicOracleSql swaps in the
      // operator-candidate literal form from its candMinDocs documents on.
      Oracle.curateOracle),
    candidate("ingest_dedup", (s, dir) => {
      // The ingestion decision composed end-to-end: even-id batch docs
      // that survive near-dup screening against the odd-id corpus
      // (Dedup.ingestDedup = nearDupJoin + id-only anti join).
      val d = GraftSession.table(s, dir, "documents")
      graft.functions.Dedup.ingestDedup(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", threshold = 0.7)
        .select(col("doc_id").cast("long").as("doc_id"), col("source"))
        .orderBy("doc_id")
    })(Oracle.ingestDedupOracle),
    sql("ingest_dedup_indexed", (s, dir) => {
      // The same ingestion decision via the PERSISTED near-dup index
      // (Dedup.nearDupIndex + ingestDedupIndexed): the odd-id corpus is
      // indexed once (signatures + sorted hash sets in one fused pass)
      // and the even-id batch screens against the stored index — the
      // incremental form where repeated ingestion never re-shingles the
      // corpus. Verification is exact Jaccard over the distinct
      // shingle-hash sets (native sorted-merge intersect).
      val d = GraftSession.table(s, dir, "documents")
      val idx = graft.functions.Dedup.nearDupIndex(
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      graft.functions.Dedup.ingestDedupIndexed(
        d.filter(col("doc_id") % 2 === 0), idx, "doc_id", "text", threshold = 0.7)
        .select(col("doc_id").cast("long").as("doc_id"), col("source"))
        .orderBy("doc_id")
    })(
      // Exhaustive mirror of the INDEXED screen: jaccard over the distinct
      // 28-bit md5 shingle-hash sets (what the stored index verifies with),
      // no banding — the banded candidate pass is recall-1.0 at these
      // thresholds, as for ingest_dedup/neardup_pairs.
      s"""${Oracle.shingleCtes},
         |hx AS (SELECT DISTINCT doc_id,
         |         CAST('0x' || substr(md5(s), 1, 7) AS BIGINT) AS h
         |       FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
         |hsz AS (SELECT doc_id, count(*) AS sz FROM hx GROUP BY 1)
         |SELECT d.doc_id, d.source FROM documents d
         |WHERE d.doc_id % 2 = 0 AND NOT EXISTS (
         |  SELECT 1
         |  FROM (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
         |        FROM hx a JOIN hx b ON a.h = b.h AND b.doc_id % 2 = 1
         |        WHERE a.doc_id = d.doc_id
         |        GROUP BY 1, 2) j
         |  JOIN hsz za ON za.doc_id = j.ia
         |  JOIN hsz zb ON zb.doc_id = j.ib
         |  WHERE j.inter::DOUBLE / (za.sz + zb.sz - j.inter) >= 0.7)
         |ORDER BY d.doc_id""".stripMargin),
    candidate("ingest_leak_gate", (s, dir) => {
      // The split-leakage GATE decision composed read-only (the
      // ingestBatch(leakGate) semantics in the dedup-disarmed
      // configuration — the "keep duplicates, never leak" pipeline
      // many LLM mixes run for high-quality sources): odd-id corpus =
      // the persisted near-dup index, even-id batch arrives; a batch
      // doc whose stored near-dup at 0.7 sits in a DIFFERENT split
      // than the doc's own 80/10/10 id-draw assignment is
      // rejected_leak. BOTH ends' splits re-derive statelessly from
      // their ids (the stored side needs no split column). Scale
      // shape: the ingest_dedup_indexed screen + two stateless split
      // projections + batch-sized flag joins.
      val d = GraftSession.table(s, dir, "documents")
      val batch = d.filter(col("doc_id") % 2 === 0)
      val idx = graft.functions.Dedup.nearDupIndex(
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      val pairs = graft.functions.Dedup.nearDupJoinIndexed(
        batch, idx, "doc_id", "text", threshold = 0.7)
      val splits = Seq(("train", 80L), ("val", 10L), ("test", 10L))
      val sa = graft.ops.CorpusMix.splitAssign(d, "doc_id", splits)
        .select(col("doc_id"), col("split"))
      val leak = pairs
        .join(sa.select(col("doc_id").as("left_id"),
          col("split").as("sl")), "left_id")
        .join(sa.select(col("doc_id").as("right_id"),
          col("split").as("sr")), "right_id")
        .filter(col("sl") =!= col("sr"))
        .select(col("left_id").as("doc_id")).distinct()
        .withColumn("lk", lit(true))
      batch.select("doc_id").join(sa, "doc_id")
        .join(leak, Seq("doc_id"), "left")
        .select(col("doc_id"), col("split"),
          when(col("lk"), lit(graft.functions.Ingest.RejectedLeak))
            .otherwise(lit(graft.functions.Ingest.Accepted)).as("decision"))
        .orderBy("doc_id")
    })(Oracle.leakGateOracle),
    sql("seq_pack", (s, dir) =>
      // GPT-style concat-and-chunk sequence packing in the deterministic
      // shuffle order: per-doc token offsets and first/last sequence
      // index at a 256-token budget (ops.TrainShuffle.seqPack — window
      // cumsum per shard; numShards scales with the corpus).
      graft.ops.TrainShuffle.seqPack(
        GraftSession.table(s, dir, "documents"), "doc_id", "text",
        numShards = 16)
        .orderBy("doc_id"))(
      s"""${Oracle.wordsCte},
         |t AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens,
         |        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuf:shard'), 1, 7) AS BIGINT) % 16 AS shard,
         |        md5(CAST(doc_id AS VARCHAR) || ':shuf:ord') AS sort_key
         |      FROM w),
         |c AS (SELECT *, CAST(coalesce(sum(n_tokens + 1) OVER (
         |        PARTITION BY shard ORDER BY sort_key, doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |        AS BIGINT) AS tok_start
         |      FROM t)
         |SELECT doc_id, shard, n_tokens, tok_start,
         |       tok_start // 256 AS seq_first,
         |       (tok_start + n_tokens - 1) // 256 AS seq_last
         |FROM c ORDER BY doc_id""".stripMargin),
    sql("chunk_dedup", (s, dir) =>
      // Fixed-window exact-substring dedup: 8-token chunks, any chunk
      // seen more than once corpus-wide is dropped from every doc; docs
      // fingerprint their surviving text (Dedup.chunkDedup — two narrow
      // shuffles: map-side-combined chunk counts joined back with AQE
      // skew-split, so no hot chunk ever lands whole on one task).
      graft.functions.Dedup.chunkDedup(
        GraftSession.table(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"))(
      s"""${Oracle.wordsCte},
         |ch AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |         array_to_string(words[(i*8+1):(i*8+8)], ' ') AS chunk
         |       FROM (SELECT doc_id, words, unnest(range(0, len(words)//8)) AS i
         |             FROM w)),
         |cc AS (SELECT *, count(*) OVER (PARTITION BY chunk) AS df_cnt FROM ch),
         |ag AS (SELECT doc_id, count(*) AS n_chunks,
         |         CAST(sum(CASE WHEN df_cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |         md5(coalesce(string_agg(CASE WHEN df_cnt <= 1 THEN chunk END,
         |                                 ' ' ORDER BY pos), '')) AS clean_md5
         |       FROM cc GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n_chunks, 0) AS n_chunks,
         |       coalesce(n_dup, 0) AS n_dup,
         |       coalesce(clean_md5, md5('')) AS clean_md5
         |FROM documents d LEFT JOIN ag USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    sql("chunk_dedup_cdc", (s, dir) =>
      // SHIFT-ROBUST exact-substring dedup: chunk boundaries cut after
      // content-defined anchor tokens (28-bit md5 % 8 == 0), so a
      // boilerplate passage offset by one token still lands in identical
      // chunks — the case chunk_dedup's fixed windows miss by
      // construction (Dedup.chunkDedupCdc; same groupBy+join-back
      // two-shuffle skew shape).
      graft.functions.Dedup.chunkDedupCdc(
        GraftSession.table(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"))(
      // Content-defined chunking, the direct SQL form: a boundary falls
      // after every token whose 28-bit md5 hash (the established
      // '0x'||substr(md5(w),1,7) mirror) is divisible by 8; run_id is the
      // prefix-count of boundary tokens, sub_id force-cuts 32-token-plus
      // runs. Chunk groups = (run_id, sub_id), then the same df-count /
      // survivor-fingerprint tail as chunk_dedup.
      s"""${Oracle.wordsCte},
         |tok AS (SELECT doc_id, i, words[CAST(i + 1 AS INTEGER)] AS word
         |        FROM (SELECT doc_id, words, unnest(range(0, len(words))) AS i
         |              FROM w WHERE norm != '')),
         |anch AS (SELECT doc_id, i, word,
         |           CASE WHEN CAST('0x' || substr(md5(word), 1, 7) AS BIGINT) % 8 = 0
         |                THEN 1 ELSE 0 END AS isb
         |         FROM tok),
         |runs AS (SELECT doc_id, i, word,
         |           coalesce(sum(isb) OVER (PARTITION BY doc_id ORDER BY i
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS run_id
         |         FROM anch),
         |subs AS (SELECT doc_id, i, word, run_id,
         |           (row_number() OVER (PARTITION BY doc_id, run_id ORDER BY i) - 1) // 32 AS sub_id
         |         FROM runs),
         |ch AS (SELECT doc_id, CAST(min(i) AS BIGINT) AS pos,
         |         string_agg(word, ' ' ORDER BY i) AS chunk
         |       FROM subs GROUP BY doc_id, run_id, sub_id),
         |cc AS (SELECT *, count(*) OVER (PARTITION BY chunk) AS df_cnt FROM ch),
         |ag AS (SELECT doc_id, count(*) AS n_chunks,
         |         CAST(sum(CASE WHEN df_cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |         md5(coalesce(string_agg(CASE WHEN df_cnt <= 1 THEN chunk END,
         |                                 ' ' ORDER BY pos), '')) AS clean_md5
         |       FROM cc GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n_chunks, 0) AS n_chunks,
         |       coalesce(n_dup, 0) AS n_dup,
         |       coalesce(clean_md5, md5('')) AS clean_md5
         |FROM documents d LEFT JOIN ag USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    sql("chunk_dedup_indexed", (s, dir) => {
      // Exact-substring screen against a PRECOMPUTED chunk-count index
      // (the recurring-ingestion form): odd docs are the stored corpus,
      // even docs the arriving batch; a batch chunk is duplicate when
      // batch-internal + stored counts exceed 1. The batch's chunk set
      // broadcasts into a semi-join that prunes the index scan map-side
      // — the index is never shuffled (Dedup.chunkIndex /
      // chunkDedupIndexed).
      val d = GraftSession.table(s, dir, "documents")
      val idx = graft.functions.Dedup.chunkIndex(
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      graft.functions.Dedup.chunkDedupIndexed(
        d.filter(col("doc_id") % 2 === 0), idx, "doc_id", "text")
        .orderBy("doc_id")
    })(
      // Indexed screen: the same CDC chunk groups computed over ALL docs,
      // then odd docs feed the stored counts and even docs the batch; a
      // batch chunk's df = batch count + stored count.
      s"""${Oracle.wordsCte},
         |tok AS (SELECT doc_id, i, words[CAST(i + 1 AS INTEGER)] AS word
         |        FROM (SELECT doc_id, words, unnest(range(0, len(words))) AS i
         |              FROM w WHERE norm != '')),
         |anch AS (SELECT doc_id, i, word,
         |           CASE WHEN CAST('0x' || substr(md5(word), 1, 7) AS BIGINT) % 8 = 0
         |                THEN 1 ELSE 0 END AS isb
         |         FROM tok),
         |runs AS (SELECT doc_id, i, word,
         |           coalesce(sum(isb) OVER (PARTITION BY doc_id ORDER BY i
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS run_id
         |         FROM anch),
         |subs AS (SELECT doc_id, i, word, run_id,
         |           (row_number() OVER (PARTITION BY doc_id, run_id ORDER BY i) - 1) // 32 AS sub_id
         |         FROM runs),
         |ch AS (SELECT doc_id, CAST(min(i) AS BIGINT) AS pos,
         |         string_agg(word, ' ' ORDER BY i) AS chunk
         |       FROM subs GROUP BY doc_id, run_id, sub_id),
         |ci AS (SELECT chunk, count(*) AS idx_cnt FROM ch
         |       WHERE doc_id % 2 = 1 GROUP BY chunk),
         |bc AS (SELECT * FROM ch WHERE doc_id % 2 = 0),
         |bcnt AS (SELECT chunk, count(*) AS b_cnt FROM bc GROUP BY chunk),
         |cc AS (SELECT bc.doc_id, bc.pos, bc.chunk,
         |         b_cnt + coalesce(idx_cnt, 0) AS df_cnt
         |       FROM bc JOIN bcnt USING (chunk) LEFT JOIN ci USING (chunk)),
         |ag AS (SELECT doc_id, count(*) AS n_chunks,
         |         CAST(sum(CASE WHEN df_cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |         md5(coalesce(string_agg(CASE WHEN df_cnt <= 1 THEN chunk END,
         |                                 ' ' ORDER BY pos), '')) AS clean_md5
         |       FROM cc GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n_chunks, 0) AS n_chunks,
         |       coalesce(n_dup, 0) AS n_dup,
         |       coalesce(clean_md5, md5('')) AS clean_md5
         |FROM documents d LEFT JOIN ag USING (doc_id)
         |WHERE d.doc_id % 2 = 0
         |ORDER BY doc_id""".stripMargin),
    sql("ingest_screen", (s, dir) => {
      // The COMPLETE per-batch ingestion decision (Ingest.screenBatch —
      // the pure screen inside Ingest.ingestBatch): batch docs already
      // present in the stored near-dup index short-circuit to
      // accepted_prior BEFORE the screens (the retry contract: chunk
      // counts carry no document identity, so a retried accepted doc
      // would otherwise reject against its own stored chunks); the rest
      // run the banded-minhash screen, then the CDC chunk screen at a
      // 50% duplicated-chunk budget. Fixture shared with
      // ingest_screen_tokens via ingestScreenFixture — see there.
      ingestScreenFixture(s, dir)._2
        // One decision row per batch doc: cache it so the orderBy's
        // range-partitioning sample pass replays rows instead of
        // re-executing the screen's join chain.
        .graftCached
        .orderBy("doc_id")
    })(ingestScreenOracle),
    sql("ingest_screen_gated", (s, dir) => {
      // ingest_screen's fixture with the STRUCTURAL-QUALITY gate armed
      // (Ingest.screenBatchGated — the same shared decision spine
      // ingestBatch runs, read-only): base-screen acceptances failing
      // the Gopher rules flip to rejected_quality; duplicate rejections
      // keep precedence over quality (a doc that is both reports the
      // duplicate).
      val d = GraftSession.table(s, dir, "documents")
      val idxDocs = d.filter(col("doc_id") % 2 === 1 ||
        col("doc_id") % 4 === 0)
      // Same lineage barrier as ingestScreenFixture (see there): the
      // stored-index inputs enter the screen with parquet-like
      // two-node lineage instead of dragging their build trees into
      // the gated chain's planning; checkpointCut so drain()/scoped
      // reclaims the blocks deterministically.
      graft.functions.Ingest.screenBatchGated(
        d.filter(col("doc_id") % 2 === 0),
        graft.GraftCaches.checkpointCut(
          graft.functions.Dedup.nearDupIndex(idxDocs, "doc_id", "text")),
        graft.GraftCaches.checkpointCut(
          graft.functions.Dedup.chunkIndex(idxDocs, "doc_id", "text")),
        "doc_id", "text", threshold = 0.7, qualityGate = true)
        .graftCached
        .orderBy("doc_id")
    })(
      // The gated screen: ingest_screen's decision spine plus the Gopher
      // quality gate (quality_gopher's exact-integer CTEs over the same w
      // frame) flipping only base-screen acceptances — duplicate
      // rejections keep precedence, matching Ingest.gatedDecisions.
      s"""${Oracle.shingleCtes},
         |hx AS (SELECT DISTINCT doc_id,
         |         CAST('0x' || substr(md5(s), 1, 7) AS BIGINT) AS h
         |       FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
         |hsz AS (SELECT doc_id, count(*) AS sz FROM hx GROUP BY 1),
         |ndrej AS (SELECT t.doc_id FROM documents t
         |  WHERE t.doc_id % 4 = 2 AND EXISTS (
         |    SELECT 1
         |    FROM (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
         |          FROM hx a JOIN hx b ON a.h = b.h
         |          WHERE a.doc_id = t.doc_id
         |            AND (b.doc_id % 2 = 1 OR b.doc_id % 4 = 0)
         |            AND b.doc_id != t.doc_id
         |          GROUP BY 1, 2) j
         |    JOIN hsz za ON za.doc_id = j.ia
         |    JOIN hsz zb ON zb.doc_id = j.ib
         |    WHERE j.inter::DOUBLE / (za.sz + zb.sz - j.inter) >= 0.7)),
         |tok AS (SELECT doc_id, i, words[CAST(i + 1 AS INTEGER)] AS word
         |        FROM (SELECT doc_id, words, unnest(range(0, len(words))) AS i
         |              FROM w WHERE norm != '')),
         |anch AS (SELECT doc_id, i, word,
         |           CASE WHEN CAST('0x' || substr(md5(word), 1, 7) AS BIGINT) % 8 = 0
         |                THEN 1 ELSE 0 END AS isb
         |         FROM tok),
         |runs AS (SELECT doc_id, i, word,
         |           coalesce(sum(isb) OVER (PARTITION BY doc_id ORDER BY i
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS run_id
         |         FROM anch),
         |subs AS (SELECT doc_id, i, word, run_id,
         |           (row_number() OVER (PARTITION BY doc_id, run_id ORDER BY i) - 1) // 32 AS sub_id
         |         FROM runs),
         |ch AS (SELECT doc_id, CAST(min(i) AS BIGINT) AS pos,
         |         string_agg(word, ' ' ORDER BY i) AS chunk
         |       FROM subs GROUP BY doc_id, run_id, sub_id),
         |ci AS (SELECT chunk, count(*) AS idx_cnt FROM ch
         |       WHERE doc_id % 2 = 1 OR doc_id % 4 = 0 GROUP BY chunk),
         |surv AS (SELECT doc_id FROM documents
         |         WHERE doc_id % 4 = 2
         |           AND doc_id NOT IN (SELECT doc_id FROM ndrej)),
         |bc AS (SELECT ch.* FROM ch JOIN surv USING (doc_id)),
         |bcnt AS (SELECT chunk, count(*) AS b_cnt FROM bc GROUP BY chunk),
         |cc AS (SELECT bc.doc_id, b_cnt + coalesce(idx_cnt, 0) AS df_cnt
         |       FROM bc JOIN bcnt USING (chunk) LEFT JOIN ci USING (chunk)),
         |ag AS (SELECT doc_id, count(*) AS n_chunks,
         |         sum(CASE WHEN df_cnt > 1 THEN 1 ELSE 0 END) AS n_dup
         |       FROM cc GROUP BY doc_id),
         |chrej AS (SELECT s2.doc_id FROM surv s2 LEFT JOIN ag USING (doc_id)
         |          WHERE coalesce(n_chunks, 0) != 0
         |            AND NOT (n_dup::DOUBLE / n_chunks < 0.5)),
         |sg AS (SELECT w.doc_id,
         |         len(words) AS n,
         |         CAST(list_sum(list_transform(words, t -> length(t)))
         |           AS BIGINT) AS sumlen,
         |         length(text) - length(replace(text, '#', '')) AS hashes,
         |         (length(text) - length(replace(text, '...', ''))) // 3
         |           AS ellipses,
         |         len(list_filter(words, t -> regexp_matches(t, '[a-z]')))
         |           AS alpha,
         |         len(list_filter(words, t -> t IN ('the','a','an','of',
         |           'and','to','in','is','it','for'))) AS stops,
         |         str_split(text, chr(10)) AS lines
         |       FROM w),
         |sl AS (SELECT doc_id, n, sumlen, hashes, ellipses, alpha, stops,
         |         len(lines) AS n_lines,
         |         len(list_filter(lines, l ->
         |           starts_with(ltrim(l, ' '), '- ') OR
         |           starts_with(ltrim(l, ' '), '* ') OR
         |           starts_with(ltrim(l, ' '), '• '))) AS bullets,
         |         len(list_filter(lines, l ->
         |           ends_with(rtrim(l, ' '), '...'))) AS ell_lines
         |       FROM sg),
         |gp AS (SELECT doc_id,
         |         (n >= 50 AND n <= 100000 AND
         |          sumlen::DOUBLE / n >= 3.0 AND sumlen::DOUBLE / n <= 10.0 AND
         |          (hashes + ellipses)::DOUBLE / n < 0.1 AND
         |          bullets::DOUBLE / n_lines < 0.9 AND
         |          ell_lines::DOUBLE / n_lines < 0.3 AND
         |          alpha::DOUBLE / n > 0.8 AND
         |          stops >= 2) AS passes
         |       FROM sl)
         |SELECT b.doc_id,
         |       CASE WHEN b.doc_id % 4 = 0 THEN 'accepted_prior'
         |            WHEN b.doc_id IN (SELECT doc_id FROM ndrej) THEN 'rejected_neardup'
         |            WHEN b.doc_id IN (SELECT doc_id FROM chrej) THEN 'rejected_chunks'
         |            WHEN NOT coalesce(gp.passes, true) THEN 'rejected_quality'
         |            ELSE 'accepted' END AS decision
         |FROM documents b LEFT JOIN gp ON gp.doc_id = b.doc_id
         |WHERE b.doc_id % 2 = 0
         |ORDER BY b.doc_id""".stripMargin),
    rendered("ingest_screen_tokens", (s, dir) => {
      // The tokenizerModelPath hook's read-only twin: ingest_screen's
      // decision spine with every decision row stamped by its
      // MODEL-token count (Ingest.withTokenCounts — the SAME shared
      // core ingestBatch runs when tokenizerModelPath is set): one
      // stateless broadcast-model pass over the batch plus a
      // batch-sized left join, bookkeeping only. Exports downstream of
      // the loop budget in model tokens without re-encoding. The
      // oracle is the ingest_screen replay joined to per-word BPE sums
      // through the shared word-literal table. The screen spine comes
      // from the SAME ingestScreenFixture as ingest_screen itself (the
      // oracle NESTS ingest_screen's SQL, so the two operator spines
      // must be one code path — a future fixture tune must move both).
      val (batch, decisions) = ingestScreenFixture(s, dir)
      val model = graft.functions.Bpe.bpeTrain(
        GraftSession.table(s, dir, "documents"), "text", numMerges = 40)
      graft.functions.Ingest.withTokenCounts(
        decisions, batch, "doc_id", "text", model)
        .graftCached
        .orderBy("doc_id")
    }) { a => import a._
      // ingest_screen's replay (nested CTE — its own WITH chain is
      // scoped inside `base`) joined to per-word BPE sums over the
      // even-id batch half: the tokenizerModelPath stamp's oracle.
      s"""WITH base AS ($ingestScreenOracle),
         |ev(w, toks, n) AS (VALUES $bpeVals),
         |$bpeWordsCte,
         |t AS (SELECT w.doc_id, unnest(words) AS word FROM w
         |      WHERE w.doc_id % 2 = 0),
         |bc AS (SELECT t.doc_id, CAST(sum(ev.n) AS BIGINT) AS n_tokens_bpe
         |       FROM t JOIN ev ON t.word = ev.w GROUP BY t.doc_id)
         |SELECT base.doc_id, base.decision, bc.n_tokens_bpe
         |FROM base LEFT JOIN bc USING (doc_id)
         |ORDER BY doc_id""".stripMargin },
    sql("lm_score", (s, dir) =>
      // Corpus-trained bigram LM quality signal in exact micro-unit
      // integer arithmetic (Dedup.lmScore) — bit-reproducible across
      // engines, no float log-prob summation-order hazard.
      graft.functions.Dedup.lmScore(
        GraftSession.table(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"))(
      s"""${Oracle.wordsCte},
         |bg AS (SELECT doc_id, words[i] AS w1, words[i+1] AS w2
         |       FROM (SELECT doc_id, words, unnest(range(1, len(words))) AS i
         |             FROM w)),
         |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
         |pr AS (SELECT c2.w1, c2.w2, (1000000 * c2.c2) // c1.c1 AS p_micro
         |       FROM c2 JOIN c1 USING (w1)),
         |sc AS (SELECT doc_id, count(*) AS n_bigrams,
         |         CAST(sum(p_micro) AS BIGINT) AS lm_score_micro
         |       FROM bg JOIN pr USING (w1, w2) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
         |       coalesce(lm_score_micro, 0) AS lm_score_micro
         |FROM documents d LEFT JOIN sc USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    rendered("nb_classify", (s, dir) =>
      // Multinomial Naive Bayes source classifier: log-probs quantized
      // to micro-unit longs at train time, integer summation + argmax
      // after — the trained table doubles as the oracle's SQL literals
      // (dynamicOracleSql), the IVF-centroid pattern.
      graft.functions.TextFunctions.nbClassify(
        GraftSession.table(s, dir, "documents"), "doc_id", "text", "source")
        .orderBy("doc_id")) { a => import a._
      s"""WITH nb(label, w, lp_micro) AS (VALUES $nbP),
         |pri(label, prior_micro) AS (VALUES $nbPri),
         |wr AS (SELECT doc_id,
         |         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
         |       FROM documents),
         |tk AS (SELECT doc_id, unnest(words) AS w FROM wr),
         |sums AS (SELECT tk.doc_id, nb.label AS cand,
         |           CAST(sum(lp_micro) AS BIGINT) AS sum_lp
         |         FROM tk JOIN nb USING (w) GROUP BY 1, 2),
         |base AS (SELECT d.doc_id, d.source AS label, pri.label AS cand,
         |           CAST(pri.prior_micro + coalesce(sum_lp, 0) AS BIGINT) AS score_micro
         |         FROM documents d CROSS JOIN pri
         |         LEFT JOIN sums ON sums.doc_id = d.doc_id AND sums.cand = pri.label),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |         ORDER BY score_micro DESC, cand) AS rn FROM base)
         |SELECT doc_id, label, cand AS predicted, score_micro,
         |       (cand = label) AS correct
         |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin },
    rendered("nb_score_bounded", (s, dir) => {
      // The web-vocab escape hatch, value-checked end-to-end: nbTrain
      // with document-frequency pruning to a 300-word vocabulary (rare
      // words fold into smoothing like OOV tokens), then the recurring
      // nbScore over the same corpus. The BOUNDED model's integer
      // log-probs become the oracle's literals — one code path, the
      // nb_classify pattern — so the pruning cut itself is under the
      // hash gate, not just the scoring.
      val d = GraftSession.table(s, dir, "documents")
      val model = graft.functions.TextFunctions.nbTrain(
        d, "doc_id", "text", "source", maxVocab = 300)
      graft.functions.TextFunctions.nbScore(model, d, "doc_id", "text")
        .orderBy("doc_id")
    }) { a => import a._
      s"""WITH nb(label, w, lp_micro) AS (VALUES $nbPb),
         |pri(label, prior_micro) AS (VALUES $nbPriB),
         |wr AS (SELECT doc_id,
         |         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
         |       FROM documents),
         |tk AS (SELECT doc_id, unnest(words) AS w FROM wr),
         |sums AS (SELECT tk.doc_id, nb.label AS cand,
         |           CAST(sum(lp_micro) AS BIGINT) AS sum_lp
         |         FROM tk JOIN nb USING (w) GROUP BY 1, 2),
         |base AS (SELECT d.doc_id, pri.label AS cand,
         |           CAST(pri.prior_micro + coalesce(sum_lp, 0) AS BIGINT) AS score_micro
         |         FROM documents d CROSS JOIN pri
         |         LEFT JOIN sums ON sums.doc_id = d.doc_id AND sums.cand = pri.label),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |         ORDER BY score_micro DESC, cand) AS rn FROM base)
         |SELECT doc_id, cand AS predicted, score_micro
         |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin },
    rendered("semantic_dedup", (s, dir) =>
      // SemDeDup over the embedding space: coarse k-means cells, drop
      // vectors with a >= 0.45-cosine lower-id neighbor in-cell
      // (IVF.semanticDedup). Value-checked end-to-end via the
      // deterministic-centroid-literal oracle, like ann_ivf_topk.
      graft.functions.IVF.semanticDedup(
        GraftSession.table(s, dir, "embeddings"))
        .orderBy("vec_id")) { a => import a._
      s"""WITH cent(cid, c) AS (VALUES $cents),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cd AS (SELECT vec_id, cid,
         |         list_sum(list_transform(list_zip(v, c),
         |           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
         |       FROM e, cent),
         |ca AS (SELECT vec_id, cid AS cell FROM (
         |         SELECT *, row_number() OVER (PARTITION BY vec_id
         |           ORDER BY dist, cid) AS rn FROM cd) WHERE rn = 1),
         |v AS (SELECT ca.vec_id, ca.cell, e.v,
         |        sqrt(list_sum(list_transform(e.v, x -> x * x))) AS nrm
         |      FROM ca JOIN e USING (vec_id)),
         |dom AS (SELECT DISTINCT b.vec_id
         |        FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |        WHERE round(list_sum(list_transform(list_zip(a.v, b.v),
         |                p -> p[1] * p[2])) / (a.nrm * b.nrm), 4) >= 0.45)
         |SELECT v.vec_id, CAST(v.cell AS BIGINT) AS cell,
         |       (d.vec_id IS NULL) AS kept
         |FROM v LEFT JOIN dom d ON v.vec_id = d.vec_id
         |ORDER BY v.vec_id""".stripMargin },
    sql("corpus_mix_tokens", (s, dir) => {
      // Token-budget mix recipe (greedy md5-rank fill per source): even
      // sources get 700 tokens, odd 300. The bucket-histogram shape
      // avoids any full-source window (see CorpusMix.mixByTokens).
      val d = GraftSession.table(s, dir, "documents")
        .withColumn("n_tokens",
          graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
      val budgets = (0 until 20)
        .map(i => s"src$i" -> (if (i % 2 == 0) 700L else 300L)).toMap
      graft.ops.CorpusMix.mixByTokens(d, "doc_id", "source", "n_tokens", budgets)
        .orderBy("doc_id")
    }) {
      val budgetRows = (0 until 20)
        .map(i => s"('src$i', ${if (i % 2 == 0) 700 else 300})").mkString(", ")
      s"""WITH b AS (SELECT * FROM (VALUES $budgetRows) q(source, budget)),
         |k AS (SELECT doc_id, source,
         |        md5(CAST(doc_id AS VARCHAR)) AS mk,
         |        CAST(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
         |      FROM documents),
         |c AS (SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY source
         |        ORDER BY mk, doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |      FROM k)
         |SELECT doc_id, source, n_tokens FROM c JOIN b USING (source)
         |WHERE cb < budget ORDER BY doc_id""".stripMargin
    },
    sql("chunk_novelty", (s, dir) => {
      // Token-mass novelty of a batch (even docs) against the stored
      // chunk index of the corpus (odd docs): fraction of each doc's
      // tokens in CDC chunks the index has NOT seen — the "new-data
      // yield" metric (Dedup.chunkNovelty; broadcast-pruned index scan,
      // one doc-level aggregation, one IEEE division per doc).
      val d = GraftSession.table(s, dir, "documents")
      val idx = graft.functions.Dedup.chunkIndex(
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      graft.functions.Dedup.chunkNovelty(
        d.filter(col("doc_id") % 2 === 0), idx, "doc_id", "text")
        .orderBy("doc_id")
    })(
      // Novelty: the same CDC chunk groups; odd docs' DISTINCT chunk set
      // is the "index", even docs report the token mass lying in known
      // vs novel chunks (chunk token count = its word count — CDC
      // partitions each doc's tokens exactly).
      s"""${Oracle.wordsCte},
         |tok AS (SELECT doc_id, i, words[CAST(i + 1 AS INTEGER)] AS word
         |        FROM (SELECT doc_id, words, unnest(range(0, len(words))) AS i
         |              FROM w WHERE norm != '')),
         |anch AS (SELECT doc_id, i, word,
         |           CASE WHEN CAST('0x' || substr(md5(word), 1, 7) AS BIGINT) % 8 = 0
         |                THEN 1 ELSE 0 END AS isb
         |         FROM tok),
         |runs AS (SELECT doc_id, i, word,
         |           coalesce(sum(isb) OVER (PARTITION BY doc_id ORDER BY i
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS run_id
         |         FROM anch),
         |subs AS (SELECT doc_id, i, word, run_id,
         |           (row_number() OVER (PARTITION BY doc_id, run_id ORDER BY i) - 1) // 32 AS sub_id
         |         FROM runs),
         |ch AS (SELECT doc_id, string_agg(word, ' ' ORDER BY i) AS chunk,
         |         CAST(count(*) AS BIGINT) AS tok
         |       FROM subs GROUP BY doc_id, run_id, sub_id),
         |ki AS (SELECT DISTINCT chunk FROM ch WHERE doc_id % 2 = 1),
         |bc AS (SELECT c.doc_id, c.tok, (k.chunk IS NOT NULL) AS known
         |       FROM ch c LEFT JOIN ki k ON c.chunk = k.chunk
         |       WHERE c.doc_id % 2 = 0),
         |ag AS (SELECT doc_id, CAST(sum(tok) AS BIGINT) AS n_tokens,
         |         CAST(sum(CASE WHEN known THEN tok ELSE 0 END) AS BIGINT)
         |           AS known_tokens
         |       FROM bc GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens,
         |  coalesce(known_tokens, 0) AS known_tokens,
         |  CASE WHEN coalesce(n_tokens, 0) > 0
         |       THEN CAST(n_tokens - known_tokens AS DOUBLE) / n_tokens
         |       ELSE 0.0 END AS novel_frac
         |FROM documents d LEFT JOIN ag USING (doc_id)
         |WHERE d.doc_id % 2 = 0 ORDER BY d.doc_id""".stripMargin),
    sql("mix_temperature", (s, dir) => {
      // Temperature-weighted token budgets (alpha = 0.5): per-source
      // token mass reweighted by exact integer sqrt, the total budget
      // apportioned by exact BigInt floor division with largest-remainder
      // rounding — sum(budget) == totalBudget EXACTLY, no float pow
      // (CorpusMix.temperatureBudgets).
      val d = GraftSession.table(s, dir, "documents")
        .withColumn("n_tokens",
          graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
      graft.ops.CorpusMix.temperatureBudgets(
        d, "source", "n_tokens", totalBudget = 20000L, alpha = "sqrt")
        .orderBy("source")
    })(
      // mix_temperature: isqrt mirrored as floor(sqrt(double)) with a +-1
      // correction (exact while tokens_total < 2^52 — the Scala side is
      // BigInteger.sqrt, exact always); apportionment in HUGEINT
      // internally, every FINAL column BIGINT (the type-lint contract).
      """WITH d AS (SELECT source,
        |        CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
        |      FROM documents),
        |tt AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tokens_total
        |       FROM d GROUP BY source),
        |sq AS (SELECT source, tokens_total,
        |        CAST(floor(sqrt(CAST(tokens_total AS DOUBLE))) AS BIGINT) AS f
        |       FROM tt),
        |wt AS (SELECT source, tokens_total,
        |        f + (CASE WHEN (f+1)*(f+1) <= tokens_total THEN 1 ELSE 0 END)
        |          - (CASE WHEN f*f > tokens_total THEN 1 ELSE 0 END) AS weight
        |       FROM sq),
        |tot AS (SELECT CAST(sum(weight) AS HUGEINT) AS wsum FROM wt),
        |base AS (SELECT source, tokens_total, weight,
        |          (CAST(20000 AS HUGEINT) * weight) // wsum AS base,
        |          (CAST(20000 AS HUGEINT) * weight) % wsum AS rem
        |         FROM wt, tot),
        |x AS (SELECT 20000 - sum(base) AS extra FROM base),
        |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rn
        |       FROM base)
        |SELECT source, tokens_total, CAST(weight AS BIGINT) AS weight,
        |  CAST(base + (CASE WHEN rn <= extra THEN 1 ELSE 0 END) AS BIGINT)
        |    AS budget
        |FROM rk, x ORDER BY source""".stripMargin),
    rendered("mix_temperature_bpe", (s, dir) => {
      // The tokensCol hook on the BUDGET side: the same temperature
      // apportionment measured in TRAINED-tokenizer token mass
      // (withBpeCount appends the count in place — zero extra
      // exchanges), so the whole budget surface runs in model tokens.
      val docs = GraftSession.table(s, dir, "documents")
      val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
      graft.ops.CorpusMix.temperatureBudgets(
        graft.functions.Bpe.withBpeCount(docs, "text", model),
        "source", "n_tokens_bpe", totalBudget = 20000L, alpha = "sqrt")
        .orderBy("source")
    }) { a => import a._
      // Temperature budgets in model tokens: the mix_temperature replay
      // with per-source mass summed from the BPE word literals.
      s"""WITH ev(w, toks, n) AS (VALUES $bpeVals),
         |dw AS (SELECT source,
         |         unnest(string_split(trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ')) AS word
         |       FROM documents),
         |tt AS (SELECT source, CAST(sum(ev.n) AS BIGINT) AS tokens_total
         |       FROM dw JOIN ev ON dw.word = ev.w GROUP BY source),
         |sq AS (SELECT source, tokens_total,
         |        CAST(floor(sqrt(CAST(tokens_total AS DOUBLE))) AS BIGINT) AS f
         |       FROM tt),
         |wt AS (SELECT source, tokens_total,
         |        f + (CASE WHEN (f+1)*(f+1) <= tokens_total THEN 1 ELSE 0 END)
         |          - (CASE WHEN f*f > tokens_total THEN 1 ELSE 0 END) AS weight
         |       FROM sq),
         |tot AS (SELECT CAST(sum(weight) AS HUGEINT) AS wsum FROM wt),
         |base AS (SELECT source, tokens_total, weight,
         |          (CAST(20000 AS HUGEINT) * weight) // wsum AS base,
         |          (CAST(20000 AS HUGEINT) * weight) % wsum AS rem
         |         FROM wt, tot),
         |x AS (SELECT 20000 - sum(base) AS extra FROM base),
         |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rn
         |       FROM base)
         |SELECT source, tokens_total, CAST(weight AS BIGINT) AS weight,
         |  CAST(base + (CASE WHEN rn <= extra THEN 1 ELSE 0 END) AS BIGINT)
         |    AS budget
         |FROM rk, x ORDER BY source""".stripMargin },
    sql("mix_temperature_fill", (s, dir) => {
      // The composed recipe: temperature budgets feeding the md5-rank
      // greedy token fill (CorpusMix.temperatureMix == temperatureBudgets
      // |> mixByTokens) — what a training run actually materializes.
      val d = GraftSession.table(s, dir, "documents")
        .withColumn("n_tokens",
          graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
      graft.ops.CorpusMix.temperatureMix(
        d, "doc_id", "source", "n_tokens", totalBudget = 20000L,
        alpha = "sqrt")
        .orderBy("doc_id")
    })(
      // mix_temperature_fill: the budget CTEs above composed with
      // corpus_mix_tokens' cumulative-window greedy-fill mirror.
      """WITH d AS (SELECT doc_id, source,
        |        md5(CAST(doc_id AS VARCHAR)) AS mk,
        |        CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
        |      FROM documents),
        |tt AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tokens_total
        |       FROM d GROUP BY source),
        |sq AS (SELECT source, tokens_total,
        |        CAST(floor(sqrt(CAST(tokens_total AS DOUBLE))) AS BIGINT) AS f
        |       FROM tt),
        |wt AS (SELECT source, tokens_total,
        |        f + (CASE WHEN (f+1)*(f+1) <= tokens_total THEN 1 ELSE 0 END)
        |          - (CASE WHEN f*f > tokens_total THEN 1 ELSE 0 END) AS weight
        |       FROM sq),
        |tot AS (SELECT CAST(sum(weight) AS HUGEINT) AS wsum FROM wt),
        |base AS (SELECT source, weight,
        |          (CAST(20000 AS HUGEINT) * weight) // wsum AS base,
        |          (CAST(20000 AS HUGEINT) * weight) % wsum AS rem
        |         FROM wt, tot),
        |x AS (SELECT 20000 - sum(base) AS extra FROM base),
        |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rn
        |       FROM base),
        |b AS (SELECT source,
        |        CAST(base + (CASE WHEN rn <= extra THEN 1 ELSE 0 END)
        |          AS BIGINT) AS budget
        |      FROM rk, x),
        |c AS (SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY source
        |        ORDER BY mk, doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |      FROM d)
        |SELECT doc_id, source, n_tokens FROM c JOIN b USING (source)
        |WHERE budget > 0 AND cb < budget ORDER BY doc_id""".stripMargin),
    sql("importance_sample", (s, dir) =>
      // Deterministic score-proportional Bernoulli filter: kept iff
      // h32(id) * maxScore < min(score, maxScore) * 2^32 — ONE integer
      // cross-multiply, P(keep) = min(1, score/maxScore) exactly, no
      // rand()/float (CorpusMix.importanceSample; stateless, zero
      // shuffle, stream-native).
      graft.ops.CorpusMix.importanceSample(
        GraftSession.table(s, dir, "documents"), "doc_id", "n_chars",
        maxScore = 400L)
        .orderBy("doc_id"))(
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS score,
        |  (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':isample'), 1, 8) AS BIGINT)
        |   * 400 < least(n_chars, 400) * 4294967296) AS kept
        |FROM documents ORDER BY doc_id""".stripMargin),
    rendered("embed_outliers", (s, dir) =>
      // Distance-to-centroid outlier screen over the coarse k-means
      // cells: micro-unit integer distances (order-free sums), exact
      // per-cell percentile threshold — value-checked end-to-end via
      // the centroid-literal oracle like semantic_dedup.
      graft.functions.IVF.embedOutliers(
        GraftSession.table(s, dir, "embeddings"))
        .orderBy("vec_id"))(embedOutliersOracle),
    sql("embed_dim_stats", (s, dir) =>
      // Per-dimension embedding audit (dead/clipped/drifted dims):
      // micro-quantized exact integers through a map-side-combined
      // dim rollup, one IEEE division for the mean
      // (Vectors.embedDimStats).
      graft.functions.Vectors.embedDimStats(
        GraftSession.table(s, dir, "embeddings"))
        .orderBy("dim"))(
      """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (SELECT unnest(range(1, len(v) + 1)) AS i, v FROM e),
        |q AS (SELECT CAST(i - 1 AS BIGINT) AS dim,
        |        CAST(round(1000000 * v[i]) AS BIGINT) AS q FROM x)
        |SELECT dim, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(q) AS BIGINT) AS sum_micro,
        |  CAST(sum(q) AS BIGINT)::DOUBLE / count(*) AS mean_micro,
        |  min(q) AS min_micro, max(q) AS max_micro
        |FROM q GROUP BY dim ORDER BY dim""".stripMargin),
    sql("embed_energy", (s, dir) =>
      // Matryoshka-truncation audit: fraction of each vector's squared
      // mass in the first 16 of 64 dims — one stateless typed pass,
      // exact integer energies, one IEEE division per vector
      // (Vectors.embedEnergyStats).
      graft.functions.Vectors.embedEnergyStats(
        GraftSession.table(s, dir, "embeddings"), headDims = 16)
        .toDF().orderBy("vec_id"))(
      // embed_energy: element energies round(1000000 * x * x) — the same
      // left-associated multiply as the Scala loop; squares are
      // non-negative so round ties agree across engines.
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (SELECT vec_id, CAST(len(v) AS BIGINT) AS dims,
        |        CAST(list_sum(list_transform(v[1:16],
        |          x -> round(1000000 * x * x))) AS BIGINT) AS head_micro,
        |        CAST(list_sum(list_transform(v,
        |          x -> round(1000000 * x * x))) AS BIGINT) AS total_micro
        |      FROM e)
        |SELECT vec_id, dims, head_micro, total_micro,
        |  CASE WHEN total_micro > 0
        |       THEN CAST(head_micro AS DOUBLE) / total_micro
        |       ELSE 0.0 END AS head_frac
        |FROM x ORDER BY vec_id""".stripMargin),
    rendered("embed_cluster", (s, dir) =>
      // K-means corpus clustering as a first-class frame: nearest
      // trained centroid per vector + micro-unit distance + cluster
      // population — one broadcast-quantizer map pass, one nlist-row
      // size rollup (IVF.embedClusters; centroid-literal oracle).
      graft.functions.IVF.embedClusters(
        GraftSession.table(s, dir, "embeddings"))
        .orderBy("vec_id"))(embedClusterOracle),
    rendered("cluster_sample", (s, dir) =>
      // Cluster-balanced deterministic sample: 5 per k-means cell by
      // md5 rank — the embedding-space twin of corpus_mix's per-source
      // quotas (IVF.clusterSample; two-phase rank, no rand()).
      graft.functions.IVF.clusterSample(
        GraftSession.table(s, dir, "embeddings"), perCluster = 5)
        .orderBy("vec_id"))(clusterSampleOracle),
    rendered("embed_cluster_model", (s, dir) => {
      // The train-once form of the cluster family: persist the k-means
      // quantizer (IVF.embedClustersTrain — the OutlierModel posture),
      // assign the batch against the STORED centroids
      // (embedClustersScore) at batch-sized cost. Scoring the training
      // corpus against its own model is value-identical to
      // embed_cluster, so the oracle replays the same centroid-literal
      // SQL; the parquet round trip is spec-pinned (FunctionsSpec).
      val emb = GraftSession.table(s, dir, "embeddings")
      val model = graft.functions.IVF.embedClustersTrain(emb)
      graft.functions.IVF.embedClustersScore(model, emb)
        .orderBy("vec_id")
    })(embedClusterOracle),
    rendered("cluster_sample_model", (s, dir) => {
      // The recurring form of cluster_sample: the md5-rank per-cell draw
      // against the STORED quantizer (IVF.clusterSampleModel) — cluster
      // ids stay comparable across batches because the centroids are a
      // fixed artifact, not retrained per call.
      val emb = GraftSession.table(s, dir, "embeddings")
      val model = graft.functions.IVF.embedClustersTrain(emb)
      graft.functions.IVF.clusterSampleModel(model, emb, perCluster = 5)
        .orderBy("vec_id")
    })(clusterSampleOracle),
    rendered("cluster_drift", (s, dir) => {
      // Embedding-space drift between two corpora through ONE stored
      // quantizer (IVF.clusterDrift — corpusDrift's semantic twin):
      // even vs odd vec_ids assigned to the same trained cells, per-cell
      // total-variation contribution in exact integer/decimal arithmetic
      // with ONE IEEE division per cell. Centroid-literal oracle.
      val emb = GraftSession.table(s, dir, "embeddings")
      val model = graft.functions.IVF.embedClustersTrain(emb)
      graft.functions.IVF.clusterDrift(model,
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1))
    }) { a => import a._
      // cluster_drift: the embed_cluster assignment replay split by
      // vec_id parity + corpus_drift's exact TV arithmetic per cell.
      s"""WITH cent(cid, c) AS (VALUES $cents),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cd AS (SELECT vec_id, cid,
         |         list_sum(list_transform(list_zip(v, c),
         |           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
         |       FROM e, cent),
         |ca AS (SELECT vec_id, cid AS cluster FROM (
         |         SELECT *, row_number() OVER (PARTITION BY vec_id
         |           ORDER BY dist, cid) AS rn FROM cd) WHERE rn = 1),
         |fa AS (SELECT cluster, count(*) AS cnt_a FROM ca
         |       WHERE vec_id % 2 = 0 GROUP BY 1),
         |fb AS (SELECT cluster, count(*) AS cnt_b FROM ca
         |       WHERE vec_id % 2 = 1 GROUP BY 1),
         |j AS (SELECT coalesce(fa.cluster, fb.cluster) AS cluster,
         |        CAST(coalesce(cnt_a, 0) AS BIGINT) AS cnt_a,
         |        CAST(coalesce(cnt_b, 0) AS BIGINT) AS cnt_b
         |      FROM fa FULL OUTER JOIN fb ON fa.cluster = fb.cluster),
         |t AS (SELECT CAST(sum(cnt_a) AS BIGINT) AS t_a,
         |             CAST(sum(cnt_b) AS BIGINT) AS t_b FROM j)
         |SELECT CAST(cluster AS BIGINT) AS cluster, cnt_a, cnt_b,
         |  CAST(abs(cnt_a * t_b - cnt_b * t_a) AS DOUBLE) /
         |    (2.0 * CAST(t_a AS DOUBLE) * CAST(t_b AS DOUBLE)) AS drift
         |FROM j, t
         |ORDER BY drift DESC, cluster LIMIT 50""".stripMargin },
    rendered("embed_outliers_scored", (s, dir) => {
      // The persisted-yardstick form: train once (centroids + per-cell
      // percentile thresholds, IVF.embedOutliersTrain), score the batch
      // against the STORED boundary (embedOutliersScore) — what a
      // recurring ingestion audit runs, at batch-sized cost. Scoring the
      // training corpus against its own model is value-identical to
      // embed_outliers, so the oracle replays the same centroid-literal
      // SQL.
      val emb = GraftSession.table(s, dir, "embeddings")
      val model = graft.functions.IVF.embedOutliersTrain(emb)
      graft.functions.IVF.embedOutliersScore(model, emb)
        // One scored row per vector: cache before the orderBy so its
        // range-partitioning SAMPLE pass replays rows instead of
        // re-executing the assignment scan + threshold broadcast —
        // the round-12 stability tail (1.50 <-> 2.56 s on identical
        // code) was this subtree running twice under GC pressure
        // (the dedup_report / ingest_screen idiom).
        .graftCached
        .orderBy("vec_id")
    })(embedOutliersOracle),
    sql("quantiles_approx", (s, dir) => {
      // percentile_approx vs exact: the approximate p50 must land between
      // the exact quantiles at p +- eps (the sketch's rank-error
      // contract, eps = 1/accuracy widened to the next exact rank). The
      // exact p50 itself is value-checked against quantile_cont.
      val ev = GraftSession.table(s, dir, "events")
      ev.groupBy("event_type")
        .agg(
          expr("percentile(value, 0.5)").as("p50_exact"),
          expr("percentile_approx(value, 0.5, 1000)").as("pa"),
          expr("percentile(value, 0.48)").as("lo"),
          expr("percentile(value, 0.52)").as("hi"))
        .select(col("event_type"), col("p50_exact"),
          (col("pa") >= col("lo") && col("pa") <= col("hi")).as("approx_ok"))
        .orderBy("event_type")
    })(
      """SELECT event_type,
        |  quantile_cont(value, 0.5) AS p50_exact,
        |  true AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    sql("simhash_pairs", (s, dir) =>
      graft.functions.Dedup.simhashPairs(
        GraftSession.table(s, dir, "documents"), "doc_id", "text")
        .orderBy("id_a", "id_b"))(
      s"""${Oracle.simhashCtes},
         |nz AS (SELECT id, sim FROM sims WHERE sim != 0),
         |banded AS (SELECT id, sim, r.b AS band,
         |             (sim >> (16 * r.b)) & 65535 AS chunk
         |           FROM nz, range(0, 4) AS r(b)),
         |pairs AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
         |          FROM banded x JOIN banded y
         |            ON x.band = y.band AND x.chunk = y.chunk
         |           AND x.id < y.id)
         |SELECT id_a, id_b,
         |  CAST(bit_count(xor(sa.sim, sb.sim)) AS BIGINT) AS hamming
         |FROM pairs JOIN nz sa ON id_a = sa.id JOIN nz sb ON id_b = sb.id
         |WHERE bit_count(xor(sa.sim, sb.sim)) <= 3
         |ORDER BY id_a, id_b""".stripMargin),
    sql("minhash_sig", (s, dir) => {
      // The raw MinHash signature matrix, exploded to (doc, slot index,
      // slot value) — value-checks the sketch itself, not just what the
      // banding downstream does with it.
      val docs = GraftSession.table(s, dir, "documents")
      graft.functions.Dedup.signatures(docs, "doc_id", "text")
        .select(col("doc"), posexplode(col("sig")))
        .select(col("doc"), col("pos").cast("long").as("i"), col("col").as("slot"))
        .orderBy("doc", "i")
    })(
      s"""${Oracle.shingleCtes},
         |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |hx AS (SELECT doc_id,
         |         CAST('0x' || substr(md5(s), 1, 7) AS BIGINT) AS h FROM ex),
         |coef(i, a, b) AS (VALUES ${graft.functions.Dedup.coefSqlValues})
         |SELECT doc_id AS doc, CAST(coef.i AS BIGINT) AS i,
         |  min((hx.h * coef.a + coef.b) % 536870923) AS slot
         |FROM hx, coef GROUP BY 1, 2 ORDER BY doc, i""".stripMargin),
    sql("simhash", (s, dir) =>
      graft.functions.Dedup.simhash64(
        GraftSession.table(s, dir, "documents"), "doc_id", "text")
        .orderBy("id"))(
      s"""${Oracle.simhashCtes}
         |SELECT id, sim AS simhash FROM sims ORDER BY id""".stripMargin))
}
