package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * The trained-but-deterministic artifacts that rendered oracles embed as
 * SQL literals — the same move as the LSH plane literals in the static
 * oracles, except the artifact derives from the data, so it renders at
 * dump time against the same tables the queries read. IVF centroids:
 * hash-systematic sample + strided init + fixed Lloyd iterations, no
 * RNG, so DuckDB replays cell assignment, nprobe probing, and exact
 * cosine ranking bit-for-bit.
 *
 * One instance per render. Every value is lazy, so a render computes
 * only what the requested oracles read, and a value that fails to build
 * fails only the oracles that read it.
 */
final class Artifacts(val spark: SparkSession, val dir: String,
    candMinDocs: Int) {
  lazy val emb = GraftSession.table(spark, dir, "embeddings")
  // Same auto-resolution as the query side (√n cells, ~3/8 probed) — the
  // literals below and the Scala operators derive from one code path.
  // Resolved ONCE here; passing the value on avoids a second count job.
  lazy val nlist = graft.functions.IVF.resolveNlist(emb, 0)
  lazy val nprobe = graft.functions.IVF.autoNprobe(nlist)
  lazy val cents = graft.functions.IVF.centroidsSqlValues(emb, nlist)
  lazy val pqCb = graft.functions.PQ.codebooksSqlValues(
    graft.functions.PQ.trainCodebooks(emb, dim = 64))
  // NB classifier tables, collected from the SAME frames nb_classify
  // scores with — one code path, one JVM's ln, bit-identical integers.
  lazy val (nbP, nbPri) = graft.functions.TextFunctions.nbSqlValues(
    GraftSession.table(spark, dir, "documents"), "doc_id", "text", "source")
  // The BOUNDED model's literals (df-pruned to 300 words) — rendered
  // from the same nbTrain path nb_score_bounded scores with, so the
  // pruning cut is inside the hash gate.
  lazy val (nbPb, nbPriB) = graft.functions.TextFunctions.nbSqlValues(
    GraftSession.table(spark, dir, "documents"), "doc_id", "text", "source",
    maxVocab = 300)
  // Shared PQ encode CTEs: per (cand, subspace) argmin centroid with
  // FP-order discipline (inner sums in element order, outer sums via
  // list(... ORDER BY j)) matching PQ.scala's loops exactly.
  lazy val pqEnc =
    s"""cb(j, c, v) AS (VALUES $pqCb),
       |e AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings),
       |d0 AS (SELECT cand_id, cb.j, cb.c,
       |         list_sum(list_transform(range(1, 9),
       |           d -> (cv[cb.j * 8 + d] - cb.v[d]) * (cv[cb.j * 8 + d] - cb.v[d]))) AS dist
       |       FROM e, cb),
       |enc AS (SELECT cand_id, j, c AS code FROM (
       |          SELECT *, row_number() OVER (PARTITION BY cand_id, j
       |            ORDER BY dist, c) AS rn FROM d0) WHERE rn = 1)""".stripMargin
  // BPE tokenizer literals: per-WORD encodings rendered through the
  // SAME Bpe.encodeWord path the operator encodes with (training is
  // pinned by determinism + round-trip specs; segmentation replay and
  // all downstream arithmetic are DuckDB's).
  lazy val bpeDocs = GraftSession.table(spark, dir, "documents")
  lazy val bpeModel = graft.functions.Bpe.bpeTrain(bpeDocs, "text",
    numMerges = 40)
  lazy val bpeVals = graft.functions.Bpe.wordEncodingsSqlValues(
    bpeModel, bpeDocs, "text")
  // Byte-alphabet model for bpe_count_byte — the SAME corpus and
  // merge budget, trained over UTF-8 bytes; its word literals replay
  // through the byte-level encodeWord path.
  lazy val bpeModelByte = graft.functions.Bpe.bpeTrain(bpeDocs, "text",
    numMerges = 40, alphabet = graft.functions.Bpe.AlphabetByte)
  lazy val bpeValsByte = graft.functions.Bpe.wordEncodingsSqlValues(
    bpeModelByte, bpeDocs, "text")
  // Null-safe words CTE for the BPE oracles: the operator encodes a
  // NULL text as the empty document (one sentinel token), so the
  // oracle's words list must yield the single '' word for it — the
  // shared wordsCte's un-coalesced split would drop the doc from the
  // word join entirely (current testdata has no nulls; the coalesce
  // keeps the two sides' CONVENTIONS aligned, not just their current
  // outputs).
  lazy val bpeWordsCte =
    """w AS (
      |  SELECT doc_id,
      |         string_split(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')), ' ') AS words
      |  FROM documents
      |)""".stripMargin
  // Vocab-assignment replay for the id queries: raw (symbols, merges)
  // literals in; DuckDB derives the ids itself — unk ord 0, base
  // symbols ascending (binary collation = codepoint order, matching
  // the Scala sort on this BMP corpus), merge tokens lhs||rhs at
  // B+1+rank, first-occurrence dedup via min(ord), dense ids via
  // row_number. The EXACT rule of TokenizerModel.vocab.
  private def vocabCtesOf(model: graft.functions.Bpe.TokenizerModel): String = {
    val (symVals, mergeVals, numSyms) =
      graft.functions.Bpe.vocabSqlValues(model)
    s"""syms(s) AS (VALUES $symVals),
       |mg(rank, lhs, rhs) AS (VALUES $mergeVals),
       |v0 AS (
       |  SELECT CAST(0 AS BIGINT) AS ord, '<unk>' AS token
       |  UNION ALL
       |  SELECT row_number() OVER (ORDER BY s), s FROM syms
       |  UNION ALL
       |  SELECT CAST(${numSyms + 1} + rank AS BIGINT), lhs || rhs FROM mg),
       |v1 AS (SELECT token, min(ord) AS ord FROM v0 GROUP BY token),
       |vocab AS (SELECT token,
       |            CAST(row_number() OVER (ORDER BY ord) - 1 AS INT) AS id
       |          FROM v1)""".stripMargin
  }
  lazy val bpeVocabCtes = vocabCtesOf(bpeModel)
  // Pretok (split-mode) model + per-pretoken literals for
  // bpe_count_pretok: the SAME corpus and merge budget, trained over
  // case-preserving letter/digit/symbol runs.
  lazy val bpeModelPretok = graft.functions.Bpe.bpeTrain(bpeDocs, "text",
    numMerges = 40, pretok = graft.functions.Bpe.PretokSplit)
  lazy val bpeValsPretok = graft.functions.Bpe.wordEncodingsSqlValues(
    bpeModelPretok, bpeDocs, "text")
  // The VERBATIM pretok regex (Bpe.PretokRegex) — escaped single
  // quotes are not needed (no quotes in the pattern); DuckDB standard
  // strings pass backslashes raw to RE2.
  lazy val pretokWordsCte =
    s"""w AS (
       |  SELECT doc_id,
       |         regexp_extract_all(coalesce(text, ''), '${graft.functions.Bpe.PretokRegex}') AS words
       |  FROM documents
       |)""".stripMargin
  // Coverage-audit model for bpe_coverage: trained on the q/j-free
  // subcorpus (the Spark query trains identically), with word literals
  // covering the WHOLE corpus replayed through THAT model — so the
  // never-trained symbols surface as vocab misses exactly where the
  // operator's id-0 tokens land.
  lazy val bpeModelCov = graft.functions.Bpe.bpeTrain(
    bpeDocs.filter(!lower(col("text")).contains("q") &&
      !lower(col("text")).contains("j")),
    "text", numMerges = 40)
  lazy val bpeValsCov = graft.functions.Bpe.wordEncodingsSqlValues(
    bpeModelCov, bpeDocs, "text")
  lazy val bpeVocabCtesCov = vocabCtesOf(bpeModelCov)
  // pack_nosplit_ids: the id-assignment replay composed with the
  // no-split recursive greedy replay (Oracle.packNoSplitCtes with the
  // MODEL-token counts CTE swapped in) — DuckDB rebuilds every bin's
  // id stream and boundary offsets independently.
  lazy val packNoSplitIdsCounts =
    s"""ev(w, toks, n) AS (VALUES $bpeVals),
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
       |idt AS (SELECT tk.doc_id, tk.i, tk.j, coalesce(vocab.id, 0) AS id
       |        FROM tk LEFT JOIN vocab ON tk.token = vocab.token),
       |cnt AS (SELECT w.doc_id, CAST(coalesce(oc.n, 0) AS BIGINT)
       |          AS n_tokens
       |        FROM w LEFT JOIN (SELECT doc_id, count(*) AS n FROM idt
       |                          GROUP BY doc_id) oc USING (doc_id))""".stripMargin
  // The pack_ids stream replay, shared by pack_ids and
  // pack_ids_digest: id assignment from raw symbol/merge literals,
  // the seq_pack layout arithmetic, and the per-shard token stream
  // rebuilt position-by-position (doc ids at [tok_start,
  // tok_start+n), separator -1 at tok_start+n), ending in `sq`
  // (shard, seq, abs, id) and `ns` (shard, n_seqs).
  lazy val packIdsSharedCtes =
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
       |        FROM tk LEFT JOIN vocab ON tk.token = vocab.token),
       |ord AS (SELECT doc_id, id,
       |          row_number() OVER (PARTITION BY doc_id ORDER BY i, j) - 1 AS p
       |        FROM idt),
       |dn AS (SELECT w.doc_id, coalesce(oc.n, 0) AS n_tokens
       |       FROM w LEFT JOIN (SELECT doc_id, count(*) AS n FROM idt
       |                         GROUP BY doc_id) oc USING (doc_id))""".stripMargin
  // The SALTED layout tail of the stream replay (shard draw, layout
  // window, per-shard stream rebuild) — a function of (salt, cte
  // suffix) so multi-epoch replays (epoch_export) instantiate it once
  // per epoch over the SHARED id-assignment CTEs above. `nShards` and
  // `pred` parameterize the managed-family replays (bin_append_digest
  // / bin_fold_digest): each epoch is a FILTERED batch packed into
  // its own shard count.
  def packIdsSaltedCtes(salt: String, sfx: String, nShards: Int = 16,
      pred: String = "TRUE"): String =
    s"""lay$sfx AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':$salt:shard'), 1, 7) AS BIGINT) % $nShards AS shard,
       |          md5(CAST(doc_id AS VARCHAR) || ':$salt:ord') AS sort_key
       |        FROM dn WHERE $pred),
       |c$sfx AS (SELECT *, CAST(coalesce(sum(n_tokens + 1) OVER (
       |        PARTITION BY shard ORDER BY sort_key, doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |        AS BIGINT) AS tok_start
       |      FROM lay$sfx),
       |ns$sfx AS (SELECT shard,
       |         max((tok_start + n_tokens - 1) // 256) + 1 AS n_seqs
       |       FROM c$sfx GROUP BY shard),
       |stream$sfx AS (
       |  SELECT c$sfx.shard, c$sfx.tok_start + o.p AS abs, o.id
       |  FROM ord o JOIN c$sfx USING (doc_id)
       |  UNION ALL
       |  SELECT shard, tok_start + n_tokens AS abs, -1 AS id FROM c$sfx),
       |sq$sfx AS (SELECT shard, abs // 256 AS seq, abs, id FROM stream$sfx)""".stripMargin
  // The single-layout chain (the default 'shuf' salt), shared by
  // pack_ids / pack_ids_digest / export_manifest / bin_digest — with
  // the bare cte names the final SELECTs below reference.
  lazy val packIdsStreamCtes =
    packIdsSharedCtes + ",\n" + packIdsSaltedCtes("shuf", "")
  // pack_nosplit_digest: the same no-split id replay rolled up to the
  // per-shard checksums the SFT BINARY artifact is gated by — ids
  // digest over abs = bin*256 + (doc offset in bin) + (rk - 1), plus
  // the separate boundary-offset digest. Exact integer arithmetic.
  // The per-(shard, bin) digest tails shared by the one-shot sft
  // replay and the managed sft-family replay (composite shards).
  lazy val noSplitDigestTails =
    s"""pl AS (SELECT p.doc_id, o.shard, p.bin, p.pos
       |       FROM p JOIN o USING (doc_id)),
       |tok AS (SELECT doc_id, id,
       |          row_number() OVER (PARTITION BY doc_id ORDER BY i, j)
       |            AS rk
       |        FROM idt),
       |ab AS (SELECT pl.shard, pl.bin, pl.pos + tok.rk - 1 AS rel,
       |         tok.id
       |       FROM pl JOIN tok USING (doc_id) WHERE tok.rk <= 256),
       |idd AS (SELECT shard,
       |          CAST(sum((bin * 256 + rel + 1) * (id + 2)) AS BIGINT)
       |            AS sum_digest,
       |          CAST(bit_xor((bin * 256 + rel + 1) * 1000003 + id + 2)
       |            AS BIGINT) AS xor_digest,
       |          CAST(count(*) AS BIGINT) AS n_ids
       |        FROM ab GROUP BY shard),
       |sk AS (SELECT shard, bin, pos,
       |         row_number() OVER (PARTITION BY shard, bin
       |           ORDER BY pos, doc_id) - 1 AS k
       |       FROM pl),
       |sd AS (SELECT shard,
       |         CAST(sum((bin * 256 + pos + 1) * (k + 2)) AS BIGINT)
       |           AS starts_digest,
       |         CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(max(bin) + 1 AS BIGINT) AS n_bins
       |       FROM sk GROUP BY shard)""".stripMargin
  lazy val packNoSplitDigestCtes =
    s"""${Oracle.packNoSplitCtes(256, 16, firstFit = true,
           countsCte = packNoSplitIdsCounts)},
       |$noSplitDigestTails""".stripMargin

  /** bm25_batch / hybrid_topk: idf literals for the union of the batch
    * queries' terms, rendered through the same bm25Idf path the
    * operator trains with. */
  lazy val unionVals: String = {
    val union = TextQueries.Bm25BatchQueries.flatMap(_._2).distinct.sorted
    graft.functions.TextFunctions.bm25Idf(
      GraftSession.table(spark, dir, "documents"), "doc_id", "text", union)
      .map { case (t, _, m) => s"('${t.replace("'", "''")}', $m)" }
      .mkString(", ")
  }

  /** The operator's banded near-dup candidate pairs as VALUES literals,
    * for the candidate form of a [[OracleForm.Candidate]] oracle: None
    * below `candMinDocs` documents, or when banding finds no pair. */
  lazy val candidatePairs: Option[String] = {
    val docsTbl = GraftSession.table(spark, dir, "documents")
    if (docsTbl.count() < candMinDocs) None
    else Some(graft.functions.Dedup
      .candidatePairsSqlValues(docsTbl, "doc_id", "text")).filter(_.nonEmpty)
  }
}
