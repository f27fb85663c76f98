package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis primitives for training-data pipelines: normalization,
 * tokenization, shingling, fingerprinting, quality scoring, language ID.
 *
 * All pure Column expressions (whole-stage codegen, no UDFs); each has an
 * exact DuckDB-SQL mirror in the oracles of graft.queries (shared
 * fragments in Oracle: wordsCte, docCtes, shingleCtes). Deterministic by
 * construction so results are reproducible across engines and runs.
 */
object TextFunctions {

  /** Canonical form: lowercase, whitespace collapsed, trimmed. */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Whitespace tokens of the normalized text. */
  def words(c: Column): Column = split(normText(c), " ")

  def tokenCount(c: Column): Column = size(words(c))

  /**
   * BPE-ish subword token count: alpha runs, single digits, and isolated
   * punctuation each count as one token (a cheap, deterministic stand-in
   * for byte-pair tokenizers when budgeting training data).
   */
  def subwordCount(c: Column): Column =
    regexp_count(c, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"))

  /**
   * Distinct word n-gram shingles (empty below n words).
   *
   * PERF CAVEAT: the lambda references the computed `words` array, and
   * Catalyst re-evaluates that whole regex+split subtree once per element
   * (no CSE into lambda bodies) — fine for a single projection over small
   * docs, 100x too slow in hot paths. Dedup's operators use the exact
   * Scala mirror [[shinglesOf]] inside typed passes instead.
   */
  def shingles(c: Column, n: Int = 3): Column = {
    val w = words(c)
    when(size(w) >= n,
      array_distinct(transform(
        sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ", slice(w, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  private val wsPattern = java.util.regex.Pattern.compile("\\s+")

  /** Exact Scala mirror of [[normText]] (ASCII-safe). String.replaceAll
   * would recompile its regex on every call — this path runs once per
   * document per operator, so the pattern is compiled once. */
  def normalizeScala(s: String): String =
    wsPattern.matcher(s.toLowerCase(java.util.Locale.ROOT)).replaceAll(" ").trim

  /** All doc_stats fields in one typed pass (exact mirror of the Column
   * functions above — Spark's regexp functions use java.util.regex, so the
   * patterns behave identically). One row-scan instead of ~20 re-evaluated
   * regex subtrees per row; ~10x on real documents. */
  final case class DocStats(
      doc_id: Long, n_tokens: Long, n_subwords: Long,
      punct_raw: Double, stop_raw: Double, quality: Double,
      lang_pred: String, fingerprint: String)

  private val subwordPattern = java.util.regex.Pattern.compile("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]")
  private val punctPattern = java.util.regex.Pattern.compile("[.,;:!?'\"()\\-]")
  private val cjkPattern = java.util.regex.Pattern.compile("[\\x{4e00}-\\x{9fff}]")
  // lazy: `stopwords`/`langStops` are declared later in this object, and
  // strict vals here would read them as null during <clinit>
  private lazy val stopSet = stopwords.toSet
  private lazy val langStopSets: Seq[(String, Set[String])] =
    langStops.map { case (l, ws) => l -> ws.toSet }

  def docStats(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String): org.apache.spark.sql.Dataset[DocStats] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(org.apache.spark.sql.functions.col(idCol).cast("long"),
        org.apache.spark.sql.functions.col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def countMatches(p: java.util.regex.Pattern, s: String): Int = {
          val m = p.matcher(s); var n = 0; while (m.find()) n += 1; n
        }
        it.map { case (id, text0) =>
          val text = if (text0 == null) "" else text0
          val norm = normalizeScala(text)
          val words = norm.split(" ", -1)
          val nTokens = words.length
          val nSub = countMatches(subwordPattern, text)
          val punctRaw =
            if (text.isEmpty) 0.0
            else countMatches(punctPattern, text).toDouble / text.length
          val stopRaw =
            if (nTokens == 0) 0.0
            else words.count(stopSet.contains).toDouble / nTokens
          val quality = math.min(nTokens.toDouble / 50.0, 1.0) * 0.5 +
            math.min(stopRaw * 5.0, 1.0) * 0.3 +
            (1.0 - math.min(punctRaw * 5.0, 1.0)) * 0.2
          val scores = langStopSets.map { case (l, set) => l -> words.count(set.contains) }
          val best = scores.map(_._2).max
          val pick = scores.reverse.foldLeft("und") { case (acc, (l, s)) =>
            if (s == best && best > 0) l else acc
          }
          val lang = if (cjkPattern.matcher(text).find()) "zh" else pick
          md.reset()
          val fp = md.digest(norm.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            .map("%02x".format(_)).mkString
          DocStats(id, nTokens.toLong, nSub.toLong, punctRaw, stopRaw, quality, lang, fp)
        }
      }
  }

  /** Exact Scala mirror of [[shingles]]: value-identical, one pass.
   * Imperative window build into a LinkedHashSet — same distinct-keeping-
   * first-occurrence semantics as `.toVector.distinct` without the
   * per-window iterator/Vector allocations. */
  def shinglesOf(s: String, n: Int = 3): Seq[String] = {
    val w = normalizeScala(s).split(" ", -1)
    if (w.length < n) Vector.empty
    else {
      val seen = new java.util.LinkedHashSet[String]
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + n <= w.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(w(i + j))
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      val out = Vector.newBuilder[String]
      seen.forEach(x => out += x)
      out.result()
    }
  }

  /** Rolling-hash style document fingerprint: md5 of the canonical form. */
  def fingerprint(c: Column): Column = md5(normText(c))

  // PII patterns kept to syntax every regex dialect (java.util.regex here,
  // RE2 in the DuckDB oracle) interprets identically: no backrefs, no
  // lookaround, explicit classes.
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[graft] val UrlRe = "https?://[^\\s]+"

  /**
   * PII scrub: redact emails, IPv4 addresses, and URLs with typed
   * placeholders, counting each. The standard pre-training hygiene pass;
   * order matters (URLs first, or a URL's host would be half-eaten by
   * the email pass) and is part of the operator's contract. Pure Column
   * expressions — codegen'd, no UDF. Output adds: clean (redacted
   * text), n_emails, n_ipv4, n_urls.
   */
  def scrubPii(df: org.apache.spark.sql.DataFrame, textCol: String): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    val afterUrl = regexp_replace(t, UrlRe, "<URL>")
    val afterEmail = regexp_replace(afterUrl, EmailRe, "<EMAIL>")
    df.withColumn("n_urls", regexp_count(t, lit(UrlRe)).cast("long"))
      .withColumn("n_emails", regexp_count(afterUrl, lit(EmailRe)).cast("long"))
      .withColumn("n_ipv4", regexp_count(afterEmail, lit(Ipv4Re)).cast("long"))
      .withColumn("clean", regexp_replace(afterEmail, Ipv4Re, "<IP>"))
  }

  // Winnowing constants: Rabin-Karp base/modulus chosen so every
  // intermediate fits a long ((M-1)*257 + maxCodepoint < 2^63).
  private[graft] val WinnowBase = 257L
  private[graft] val WinnowMod = 1000000007L

  /** B^(k-1-j) mod M for j in [0, k): the per-position k-gram weights. */
  private[graft] def winnowPows(k: Int): Array[Long] = {
    val pw = new Array[Long](k)
    pw(k - 1) = 1L
    var j = k - 2
    while (j >= 0) { pw(j) = pw(j + 1) * WinnowBase % WinnowMod; j -= 1 }
    pw
  }

  /**
   * The k-gram polynomial hash as a DuckDB SQL expression over 1-based
   * character position `i` of column `normCol` — the direct form of the
   * rolling hash, for oracle mirrors (mathematically identical mod M).
   */
  private[graft] def winnowHashSqlExpr(normCol: String, k: Int): String =
    winnowPows(k).zipWithIndex.map { case (p, j) =>
      s"CAST(ord(substr($normCol, CAST(i + $j AS INTEGER), 1)) AS BIGINT) * $p"
    }.mkString("(", " + ", s") % $WinnowMod")

  /**
   * Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
   * algorithm): rolling Rabin-Karp hashes of character k-grams over the
   * canonical text; each sliding window of `w` consecutive hashes selects
   * its RIGHTMOST minimum. Guarantee: any substring match of length >=
   * w + k - 1 between two documents yields a shared fingerprint — the
   * substring-level overlap/dedup primitive that set-of-shingles MinHash
   * cannot provide (it ignores substring contiguity). One typed pass, no
   * shuffle; O(len) rolling hash + O(len) amortized window selection (a
   * monotonic deque holding candidate minima — popping the back while
   * its hash is >= the incoming one leaves the RIGHTMOST minimum at the
   * front, exactly the naive rightmost-min scan's pick, at one push/pop
   * per position instead of a w-wide rescan per window).
   * Output: (doc_id, pos, fp) distinct, pos 1-based over codepoints of
   * the canonical text; documents shorter than k emit nothing.
   */
  def winnowFingerprints(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 16): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pw0 = winnowPows(k)(0)
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val norm = normalizeScala(if (text == null) "" else text)
        val cps = norm.codePoints().toArray
        val m = cps.length - k + 1
        if (m <= 0) Iterator.empty
        else {
          val hs = new Array[Long](m)
          var h = 0L
          var i = 0
          while (i < k) { h = (h * WinnowBase + cps(i)) % WinnowMod; i += 1 }
          hs(0) = h
          i = 1
          while (i < m) {
            var t = (h - cps(i - 1) * pw0 % WinnowMod) % WinnowMod
            if (t < 0) t += WinnowMod
            h = (t * WinnowBase + cps(i + k - 1)) % WinnowMod
            hs(i) = h
            i += 1
          }
          // Rightmost minimum per sliding window via a monotonic index
          // deque: values ascend front->back; >= pops keep the LATEST
          // index among equal minima (the naive loop's `<=` rescan
          // semantics). Consecutive windows' picks are non-decreasing,
          // so de-duplication is the `!= last` check (the property the
          // former LinkedHashSet insertion order relied on too).
          val nWin = math.max(1, m - w + 1)
          val dq = new Array[Int](m)
          var head = 0
          var tail = 0
          var j2 = 0
          val end0 = math.min(w, m)
          while (j2 < end0) {
            while (tail > head && hs(dq(tail - 1)) >= hs(j2)) tail -= 1
            dq(tail) = j2; tail += 1
            j2 += 1
          }
          val selected = new scala.collection.mutable.ArrayBuffer[Int](nWin)
          var last = -1
          var s = 0
          while (s < nWin) {
            while (dq(head) < s) head += 1
            val best = dq(head)
            if (best != last) { selected += best; last = best }
            val nj = s + w
            if (nj < m) {
              while (tail > head && hs(dq(tail - 1)) >= hs(nj)) tail -= 1
              dq(tail) = nj; tail += 1
            }
            s += 1
          }
          selected.iterator.map(p => (id, (p + 1).toLong, hs(p))).toArray.iterator
        }
      }).toDF("doc_id", "pos", "fp")
  }

  /** Punctuation chars / total chars (0 for empty). */
  def punctRatio(c: Column): Column = {
    val n = length(c)
    when(n === 0, 0.0)
      .otherwise(regexp_count(c, lit("[.,;:!?'\"()\\-]")).cast("double") / n)
  }

  private val stopwords =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "for")

  /** Stopword tokens / tokens (0 when no tokens). */
  def stopwordRatio(c: Column): Column = {
    val w = words(c)
    val sw = filter(w, t => t.isin(stopwords: _*))
    when(size(w) === 0, 0.0)
      .otherwise(size(sw).cast("double") / size(w))
  }

  /**
   * Composite quality score in [0,1]: rewards mid-length documents, some
   * stopword glue, and low punctuation noise (the usual cheap pre-filter
   * before expensive dedup/training steps).
   */
  def qualityScore(c: Column): Column = {
    val tokens = tokenCount(c).cast("double")
    val lengthScore = least(tokens / 50.0, lit(1.0))
    val glueScore = least(stopwordRatio(c) * 5.0, lit(1.0))
    val noisePenalty = least(punctRatio(c) * 5.0, lit(1.0))
    lengthScore * 0.5 + glueScore * 0.3 + (lit(1.0) - noisePenalty) * 0.2
  }

  private val langStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "is"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  /**
   * N-gram/stopword language heuristic: CJK characters force "zh", else the
   * language whose stopword list hits most tokens wins (ties resolved in
   * en/es/de/fr order); no hits at all -> "und" (undetermined).
   */
  def langId(c: Column): Column = {
    val w = words(c)
    val scores = langStops.map { case (lang, stops) =>
      lang -> size(filter(w, t => t.isin(stops: _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.reverse.foldLeft(lit("und")) { case (acc, (lang, s)) =>
      when(s === best && best > 0, lang).otherwise(acc)
    }
    when(regexp_count(c, lit("[\\x{4e00}-\\x{9fff}]")) > 0, "zh").otherwise(pick)
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1): the share of
    * the most frequent word and the duplicate-bigram fraction, the two
    * cheapest detectors of degenerate/boilerplate text. */
  final case class RepStats(
      doc_id: Long, n_tokens: Long, top_word_share: Double,
      dup_2gram_frac: Double, flagged: Boolean)

  /**
   * Per-document repetition statistics in ONE typed pass (same rationale
   * as [[docStats]]: a hash map + set per row beats ~6 re-evaluated
   * Catalyst HOF subtrees; no shuffle at all).
   *
   * flagged = top_word_share > 0.2 OR dup_2gram_frac > 0.5 — the Gopher
   * thresholds, deterministic and mirrored exactly in the SQL oracle.
   */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String): org.apache.spark.sql.Dataset[RepStats] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text0) =>
        val text = if (text0 == null) "" else text0
        // split(-1) of "" yields Array("") — n_tokens >= 1 always, the
        // same convention as docStats and DuckDB's string_split.
        val words = normalizeScala(text).split(" ", -1)
        val nTokens = words.length
        val counts = new java.util.HashMap[String, Int](nTokens * 2)
        var maxC = 0
        var i = 0
        while (i < nTokens) {
          val c = counts.merge(words(i), 1, (a, b) => a + b)
          if (c > maxC) maxC = c
          i += 1
        }
        val nBigrams = nTokens - 1
        var distinctBg = 0
        if (nBigrams > 0) {
          val seen = new java.util.HashSet[String](nBigrams * 2)
          var j = 0
          while (j < nBigrams) {
            if (seen.add(words(j) + " " + words(j + 1))) distinctBg += 1
            j += 1
          }
        }
        val topShare = maxC.toDouble / nTokens
        val dupFrac =
          if (nBigrams <= 0) 0.0 else 1.0 - distinctBg.toDouble / nBigrams
        RepStats(id, nTokens.toLong, topShare, dupFrac,
          topShare > 0.2 || dupFrac > 0.5)
      })
  }

  /**
   * Per-document top-k salient terms by tf-idf with a LINEARIZED idf
   * (N/df instead of ln(N/df)): rank-equivalent for fixed tf (ln is
   * monotone), and — unlike ln — every score is one IEEE divide and one
   * multiply, bit-reproducible across engines, so the ranking (and the
   * oracle hash) is deterministic by construction rather than up to 1
   * ulp of a transcendental.
   *
   * Plan shape at 100 TB: one token explode, (doc, term) count with
   * map-side combine, a term-keyed df aggregation joined back (AQE
   * broadcasts it when the vocabulary is small), and a row_number window
   * partitioned by doc_id — high cardinality, no reducer hot spot.
   * Output: (doc_id, term, tf, df, rk), rk <= k.
   */
  def tfIdfTopTerms(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String, k: Int = 5): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(idCol).cast("long").as("doc_id"),
        explode(words(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(nDocs) // 1x1 scalar frame, the dedup_report idiom
      .withColumn("score",
        col("tf") * (col("n_docs").cast("double") / col("df")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("doc_id", "term", "tf", "df", "rk")
  }

  /**
   * Multinomial Naive Bayes text classifier, trained and scored on the
   * corpus itself (the fastText-shaped quality/domain-routing signal a
   * curation pipeline uses to label crawl text by source) — add-one
   * smoothing over the corpus vocabulary, LOG-probabilities quantized to
   * micro-unit longs at train time (`round(1e6 * ln p)`), scores summed
   * as exact integers. The ONE float op per (label, word) happens in the
   * training aggregate; everything downstream — per-document summation,
   * the argmax — is integer arithmetic, so results are bit-identical
   * across engines, row orders, and partial-aggregation shapes (the
   * standard float log-prob sum would hash-diverge), and the trained
   * table doubles as SQL literals for the DuckDB oracle
   * ([[nbSqlValues]], the IVF-centroid-literal pattern).
   *
   * Scale shape: the token frame moves once into the (label, word)
   * count table (map-side combine); the probability table is
   * vocab x labels rows built by a broadcast nested-loop against the
   * TINY distinct-label frame (bounded by construction — labels are a
   * categorical column); scoring joins tokens to the probability table
   * (AQE broadcasts it at moderate vocab), partially aggregates
   * per (doc, label) map-side, and the final argmax window partitions
   * by doc_id with exactly L rows per partition — high-cardinality key,
   * bounded partition, no single-task funnel.
   *
   * Output: (doc_id, label, predicted, score_micro, correct), one row
   * per input document.
   */
  def nbClassify(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String): org.apache.spark.sql.DataFrame = {
    import graft.GraftCaches.Cacheable
    import org.apache.spark.sql.expressions.Window
    val docs = df.select(col(idCol).cast("long").as("doc_id"),
      col(labelCol).cast("string").as("label"), col(textCol).as("text"))
    // Dup occurrences kept: multinomial NB counts every token occurrence.
    val toks = docs
      .select(col("doc_id"), col("label"), explode(words(col("text"))).as("w"))
      .graftCached
    val (p, priors) = nbTables(docs, toks)
    // BROADCAST the probability table: the join key `w` is a WORD — low
    // cardinality with Zipfian skew ("the" lands every occurrence in one
    // task of a shuffle join), and the crossJoin-derived plan gives the
    // optimizer no usable size estimate, so left alone Spark picks a
    // sort-merge join that shuffles every token by word (measured 4x the
    // whole query's remaining cost at sf0.1). The table is vocab x L
    // rows of (word, long) — model-sized, not corpus-sized; at
    // web-corpus vocab (~10M x L) train with [[nbTrain]]'s maxVocab
    // df-pruning so the model STAYS broadcast-sized (rare words fold
    // into smoothing like OOV tokens; see nbTrain's doc).
    // The label rides nbScoreFrames' docIds side (extra columns pass
    // through its one doc_id join) — no second corpus-sized join to
    // re-attach it.
    nbScoreFrames(toks.select("doc_id", "w"),
        docs.select("doc_id", "label"), p, priors)
      .select(col("doc_id"), col("label"), col("predicted"),
        col("score_micro"), (col("predicted") === col("label")).as("correct"))
  }

  /** The shared scoring chain: argmax over labels of
    * prior + sum of token log-probs, all integer. `tokens` is
    * (doc_id, w) with duplicate occurrences; `docIds` supplies one row
    * per document so token-free docs still score (priors alone), and
    * its EXTRA columns (e.g. a label for accuracy reporting) ride
    * through to the output unchanged. Tokens absent from the model
    * vocabulary are IGNORED (standard OOV handling for a fixed trained
    * model).
    *
    * Shape: the trained `p` table is the FULL vocab x L grid
    * ([[nbTables]] builds it that way; [[NbModel.write]] persists it
    * verbatim), so any doc with at least one in-vocab token carries
    * ALL L candidate rows after the broadcast join — its argmax is ONE
    * bounded aggregation (max over the (score desc, cand asc) struct
    * order), not an L-fold crossJoin of the doc table + an
    * L-rows-per-doc window. Docs with NO in-vocab token score priors
    * alone, and priors are model constants — their argmax is computed
    * once from the L-row priors frame and coalesced in, so the
    * corpus-sized plan is: one broadcast token join, two hash
    * aggregations, one doc_id join. No window, no crossJoin. */
  private def nbScoreFrames(
      tokens: org.apache.spark.sql.DataFrame,
      docIds: org.apache.spark.sql.DataFrame,
      p: org.apache.spark.sql.DataFrame,
      priors: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = tokens.sparkSession
    import spark.implicits._
    // L-row eager model reads (work for parquet-loaded models too):
    // the token-free fallback is the priors-alone argmax, and a label
    // carried by priors but absent from p (a label whose every training
    // doc was token-free) competes at prior-only score for EVERY doc —
    // both are model constants, so they fold in as literals instead of
    // the former L-fold crossJoin of the doc table.
    val priAll = priors.select(col("label"), col("prior_micro"))
      .as[(String, Long)].collect()
    require(priAll.nonEmpty, "nbScoreFrames: empty priors table")
    val (fbLabel, fbScore) = priAll.minBy { case (l, s) => (-s, l) }
    val pLabels = p.select("label").distinct().as[String].collect().toSet
    val nonGrid = priAll.filterNot { case (l, _) => pLabels(l) }
    val sums = tokens
      .join(broadcast(p.withColumnRenamed("label", "cand")), Seq("w"))
      .groupBy("doc_id", "cand").agg(sum("lp_micro").as("sum_lp"))
    val won0 = sums
      .join(broadcast(priors.withColumnRenamed("label", "cand")), Seq("cand"))
      .withColumn("score_micro", col("prior_micro") + col("sum_lp"))
      .groupBy("doc_id")
      .agg(min(struct((-col("score_micro")).as("neg"), col("cand"))).as("m"))
    // Fold prior-only labels (normally none) into the argmax struct.
    val won = (if (nonGrid.isEmpty) won0
      else {
        val (ngL, ngS) = nonGrid.minBy { case (l, s) => (-s, l) }
        val ng = struct(lit(-ngS).as("neg"), lit(ngL).as("cand"))
        won0.withColumn("m", when(ng < col("m"), ng).otherwise(col("m")))
      })
      .select(col("doc_id"), col("m.cand").as("tok_pred"),
        (-col("m.neg")).as("tok_score"))
    docIds.join(won, Seq("doc_id"), "left")
      .withColumn("predicted", coalesce(col("tok_pred"), lit(fbLabel)))
      .withColumn("score_micro", coalesce(col("tok_score"), lit(fbScore)))
      .drop("tok_pred", "tok_score")
  }

  /**
   * A trained NB model as two persistable frames — the
   * classifier-shaped member of the persisted-artifact family
   * ([[graft.functions.IVF.IvfIndex]], [[graft.functions.PQ.PqIndex]]):
   * train once on a labeled corpus, parquet the model, score every later
   * ingestion batch against the stored tables. Scores are exact
   * integers, so stored-model scoring is bit-identical to scoring with
   * the in-memory model (a spec pins it through the round trip).
   */
  final case class NbModel(
      p: org.apache.spark.sql.DataFrame, // (label, w, lp_micro)
      priors: org.apache.spark.sql.DataFrame) { // (label, prior_micro)
    def write(path: String): Unit = {
      p.write.mode("overwrite").parquet(path + "/p")
      priors.write.mode("overwrite").parquet(path + "/priors")
    }
  }

  object NbModel {
    def read(spark: org.apache.spark.sql.SparkSession, path: String): NbModel =
      NbModel(
        spark.read.parquet(path + "/p"),
        spark.read.parquet(path + "/priors"))
  }

  /** Train the NB tables on a labeled corpus (the one-time cost
    * [[nbScore]] amortizes across recurring batches).
    *
    * `maxVocab` (0 = unbounded) is the web-corpus escape hatch the
    * broadcast-model join needs: the probability table is vocab x L rows
    * and ships to every executor, so at ~10M-word crawl vocab the model
    * stops being broadcast-sized. Document-frequency pruning keeps the
    * `maxVocab` highest-df words (ties by word, so the cut is
    * deterministic): rare-word mass collapses into the smoothing term
    * exactly like OOV tokens at score time, which is also why pruning at
    * TRAIN time beats a salted shuffle join at SCORE time — the join
    * stays broadcast AND every batch scores fewer tokens. When the
    * corpus vocabulary already fits (distinct words <= maxVocab) the
    * model is IDENTICAL to the unbounded one (spec-pinned): pruning
    * keeps all words, so counts, |V|, and the integer log-probs agree
    * bit-for-bit.
    *
    * Scale shape of the pruning itself: df is one distinct + one
    * map-side-combining aggregate over the token frame; the rank is
    * orderBy+limit — Spark plans TakeOrdered (per-partition top-k, no
    * global sort), bounded by maxVocab model-sized rows; the keep set
    * broadcasts into a semi-join on the token frame. No corpus-sized
    * shuffle is added.
    */
  def nbTrain(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      maxVocab: Int = 0): NbModel = {
    require(maxVocab >= 0, s"nbTrain: maxVocab must be >= 0, got $maxVocab")
    import graft.GraftCaches.Cacheable
    val docs = df.select(col(idCol).cast("long").as("doc_id"),
      col(labelCol).cast("string").as("label"), col(textCol).as("text"))
    // The token frame feeds every training aggregate (df pruning, the
    // (label, word) counts, the vocab distinct + |V|) — persist it so
    // training pays ONE tokenize pass, the nbClassify discipline.
    val toks = docs
      .select(col("doc_id"), col("label"), explode(words(col("text"))).as("w"))
      .graftCached
    val kept =
      if (maxVocab == 0) toks
      else {
        val keepWords = toks.select("doc_id", "w").distinct()
          .groupBy("w").agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("w"))
          .limit(maxVocab)
          .select("w")
        // Single consumer now (nbTables' one collected aggregation), so
        // no persist — the semi-join streams the cached toks once.
        toks.join(broadcast(keepWords), Seq("w"), "left_semi")
      }
    val (p, priors) = nbTables(docs, kept)
    NbModel(p, priors)
  }

  /**
   * Distribution drift between two corpora: the per-word
   * total-variation contribution |p_a(w) - p_b(w)| / 2 over the shared
   * whitespace vocabulary — the DATA-audit complement to the
   * storage-side [[graft.functions.Ingest.indexReport]]. Run it between
   * a new crawl snapshot (or ingestion window) and the reference corpus
   * to see WHAT shifted before the shift reaches training.
   *
   * Exactness discipline (the money-sum posture): counts stay integer,
   * the cross products cnt_a*T_b and cnt_b*T_a are computed in
   * DECIMAL(38,0) — exact at any corpus size, where a long*long product
   * overflows around trillion-token corpora — and each word's drift is
   * ONE IEEE division of that exact numerator by the exact-integer
   * denominator, bit-identical across engines. Total variation (not
   * KL/JS) precisely because it needs no logarithm: libm logs are not
   * correctly rounded and drift across engines in the last ulp.
   *
   * Scale shape: one tokenize + count pass per corpus (map-side partial
   * aggregation into a VOCAB-sized frame each), a vocab-sized
   * full-outer join on word, totals as a 1x1 scalar rollup
   * (the dedup_report idiom) broadcast into the projection, and a
   * TakeOrdered top-N (per-partition heads, no global sort). No
   * corpus-sized shuffle beyond the two word-count aggregations.
   *
   * Output: (word, cnt_a, cnt_b, drift), the `topN` words by drift
   * descending (ties by word). Both corpora must be non-empty — a
   * zero-token side has no distribution to compare and fails loudly.
   */
  def corpusDrift(
      a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame,
      textCol: String,
      topN: Int = 50): org.apache.spark.sql.DataFrame = {
    require(topN > 0, s"corpusDrift: topN must be positive, got $topN")
    import graft.GraftCaches.Cacheable
    def freq(df: org.apache.spark.sql.DataFrame, cnt: String) =
      df.select(explode(words(col(textCol))).as("word"))
        .groupBy("word").agg(count(lit(1)).as(cnt))
    // Vocab-sized and traversed twice (totals + projection): persist so
    // each corpus pays its tokenize pass once.
    val joined = freq(a, "cnt_a").join(freq(b, "cnt_b"), Seq("word"),
        "full_outer")
      .select(col("word"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
      .graftCached
    val totals = joined.agg(sum("cnt_a").as("t_a"), sum("cnt_b").as("t_b"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    joined.crossJoin(broadcast(totals)) // 1x1 scalar rollup
      .withColumn("drift",
        when(col("t_a") > 0L && col("t_b") > 0L,
          abs(col("cnt_a").cast(dec) * col("t_b") -
              col("cnt_b").cast(dec) * col("t_a")).cast("double") /
            (lit(2.0) * col("t_a").cast("double") * col("t_b").cast("double")))
          .otherwise(raise_error(lit(
            "corpusDrift: both corpora must be non-empty (a zero-token " +
              "side has no distribution to compare)"))))
      .select("word", "cnt_a", "cnt_b", "drift")
      .orderBy(col("drift").desc, col("word"))
      .limit(topN)
  }

  /** Score an UNLABELED batch against a trained (possibly
    * parquet-loaded) model: (doc_id, predicted, score_micro), one row
    * per batch doc. OOV tokens are ignored; a token-free doc scores
    * priors alone.
    *
    * EAGER + fail-fast (round 17): composing the plan runs two bounded
    * model-sized driver jobs (the priors/label collects that fold the
    * token-free fallback in as literals), and an EMPTY priors table —
    * an untrained/empty model — is refused with a loud require at call
    * time instead of lazily returning an empty frame. */
  def nbScore(
      model: NbModel,
      batch: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val docs = batch.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"))
    val toks = docs
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
    nbScoreFrames(toks, docs.select("doc_id"), model.p, model.priors)
  }

  /** Catalyst's `round(double)` mirrored exactly (RoundBase: the Scala
    * BigDecimal HALF_UP rescale, then the integral cast) — the driver
    * assembly below must produce bit-identical lp_micro values to what
    * the former in-plan `round(...).cast("long")` computed. */
  private def sparkRound(x: Double): Long =
    BigDecimal(x).setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toDouble.toLong

  /** The trained NB tables: (label, w, lp_micro) and (label, prior_micro)
    * — shared by [[nbClassify]] and the oracle literal dump so both
    * derive from ONE code path (and, at Verify time, one JVM's ln).
    *
    * MODEL POSTURE (the mix_temperature discipline):
    * the corpus pays exactly TWO aggregations — the (label, word)
    * occurrence counts and the per-label doc counts — and both collect
    * to the driver, because their results ARE the model: the
    * probability grid is vocab x L rows that score time broadcasts to
    * every executor anyway (the driver already has to hold it to build
    * that broadcast), so deriving the per-label totals, |V|, and the
    * smoothed integer log-probs locally replaces five model-sized
    * distributed aggregates, two crossJoins and two joins with plain
    * arithmetic — at every scale, not just the fixture's. The vocab set
    * and every count are EXACTLY the old plan's (the distinct words of
    * the token frame are the distinct words of the (label, w) counts;
    * labels come from the doc counts so token-free labels still get
    * priors), and lp arithmetic replays the identical double ops
    * (ln then *1e6, Catalyst HALF_UP round).
    *
    * DRIVER-HEAP NOTE: the grid assembles as boxed driver-side tuples
    * (a LocalRelation of vocab x L rows), so unbounded-vocab training
    * needs driver heap proportional to vocab x L — at web-crawl vocab,
    * train through [[nbTrain]]'s `maxVocab` df-pruning, which bounds
    * the grid (and is what keeps the score-time join broadcast-sized
    * in the first place). */
  private def nbTables(
      docs: org.apache.spark.sql.DataFrame,
      toks: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cwl = toks.groupBy("label", "w").agg(count(lit(1)).as("c"))
      .as[(String, String, Long)].collect()
    val labelCnt = docs.groupBy("label").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)].collect().sortBy(_._1)
    val vocab = cwl.iterator.map(_._2).toArray.distinct.sorted
    val v = vocab.length.toLong
    val nl = {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      cwl.foreach { case (l, _, c) => m.update(l, m.getOrElse(l, 0L) + c) }
      m
    }
    val cMap = new java.util.HashMap[(String, String), Long](cwl.length * 2)
    cwl.foreach { case (l, w, c) => cMap.put((l, w), c) }
    // The grid covers labels that HAVE tokens (the former inner join on
    // the per-label totals): a label whose every doc is token-free keeps
    // its prior row but owns no lp rows — nbScoreFrames folds it in as a
    // prior-only candidate.
    val pRows = labelCnt.withFilter(lc => nl.contains(lc._1))
      .flatMap { case (l, _) =>
        val denom = (nl(l) + v).toDouble
        vocab.map { w =>
          val c = cMap.getOrDefault((l, w), 0L)
          (l, w, sparkRound(1e6 * math.log((c + 1L).toDouble / denom)))
        }
      }
    val tot = labelCnt.map(_._2).sum.toDouble
    val priRows = labelCnt.map { case (l, cnt) =>
      (l, sparkRound(1e6 * math.log(cnt.toDouble / tot)))
    }
    (spark.createDataset(pRows.toSeq).toDF("label", "w", "lp_micro"),
      spark.createDataset(priRows.toSeq).toDF("label", "prior_micro"))
  }

  /**
   * The trained NB tables as DuckDB `VALUES` literal strings
   * (`(label, w, lp_micro)` rows and `(label, prior_micro)` rows) for
   * the dynamic oracle — collected from the SAME frames [[nbClassify]]
   * scores with, so the integer log-probs match bit-for-bit. Bounded:
   * refuses a vocab x labels table past 200k rows (the oracle is a
   * test-scale harness; at corpus scale the operator runs without this).
   */
  def nbSqlValues(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      maxVocab: Int = 0): (String, String) = {
    val model = nbTrain(df, idCol, textCol, labelCol, maxVocab)
    val (p, priors) = (model.p, model.priors)
    def esc(s: String): String = s.replace("'", "''")
    val pRows = p.orderBy("label", "w").collect()
    require(pRows.length <= 200000,
      s"nbSqlValues: ${pRows.length} (label, word) rows exceed the oracle " +
        "literal bound — the SQL mirror is for test-scale corpora")
    val pVals = pRows.map { r =>
      s"('${esc(r.getString(0))}', '${esc(r.getString(1))}', ${r.getLong(2)})"
    }.mkString(", ")
    val priVals = priors.orderBy("label").collect().map { r =>
      s"('${esc(r.getString(0))}', ${r.getLong(1)})"
    }.mkString(", ")
    (pVals, priVals)
  }

  // -----------------------------------------------------------------------
  // Gopher-style rule filter (Rae et al. 2021 §A1.1) — the STRUCTURAL rule
  // families, complementing [[repetitionStats]]' repetition signals: token
  // count bounds, mean word length, symbol-to-token ratio (hash/ellipsis),
  // bullet- and ellipsis-line fractions, alphabetic-word fraction, and the
  // stopword-presence rule. One boolean verdict plus every raw signal, so
  // a pipeline can tighten/loosen single thresholds without re-tokenizing.
  // -----------------------------------------------------------------------

  final case class GopherStats(
      doc_id: Long, n_tokens: Long, mean_word_len: Double,
      symbol_ratio: Double, bullet_frac: Double, ellipsis_frac: Double,
      alpha_frac: Double, n_stop_hits: Long, passes: Boolean)

  private val gopherStops =
    Set("the", "a", "an", "of", "and", "to", "in", "is", "it", "for")

  /**
   * Per-document Gopher rule stats in ONE typed pass (the [[docStats]]
   * rationale: ~8 signals over one tokenization beat 8 re-evaluated
   * Catalyst HOF subtrees; no shuffle at all — embarrassingly parallel at
   * any corpus size). Deterministic and mirrored exactly in the DuckDB
   * oracle: every ratio is ONE IEEE division of exactly-counted integers;
   * symbol counts are replace-based occurrence counts (identical
   * non-overlapping left-to-right semantics in java.lang.String.replace
   * and SQL replace), and word lengths count CODEPOINTS
   * (String.codePointCount, matching SQL length()) — String.length would
   * count UTF-16 units and diverge on supplementary-plane characters.
   *
   * passes = 50 <= n_tokens <= 100000 AND 3 <= mean_word_len <= 10 AND
   * symbol_ratio < 0.1 AND bullet_frac < 0.9 AND ellipsis_frac < 0.3 AND
   * alpha_frac > 0.8 AND n_stop_hits >= 2 — the THRESHOLDS follow the
   * Gopher paper, applied to [[normText]] whitespace tokens; the
   * stopword list ([[gopherStops]], 10 common English words) and the
   * alpha rule (at least one ASCII [a-z] after lowercasing) are this
   * repo's deterministic variants of Rae et al.'s (which use the
   * 8-word {the, be, to, of, and, that, have, with} list and "at least
   * one alphabetic character") — chosen so the oracle mirrors them
   * exactly; tighten per deployment via the raw signals.
   */
  def gopherStats(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.Dataset[GopherStats] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text0) => gopherOf(id, text0) })
  }

  /** The ONE Gopher rule implementation — shared by [[gopherStats]] and
    * [[sourceQualityReport]]'s source-keyed pass, so the verdict cannot
    * drift between the per-doc and rollup views. */
  private def gopherOf(id: Long, text0: String): GopherStats = {
    val text = if (text0 == null) "" else text0
    val ws = normalizeScala(text).split(" ", -1)
    val n = ws.length.toLong
    var sumLen = 0L; var alpha = 0L; var stops = 0L
    ws.foreach { w =>
      sumLen += w.codePointCount(0, w.length)
      if (w.exists(c => c >= 'a' && c <= 'z')) alpha += 1
      if (gopherStops(w)) stops += 1
    }
    val hashes = (text.length - text.replace("#", "").length).toLong
    val ellipses = ((text.length - text.replace("...", "").length) / 3).toLong
    val lines = text.split("\n", -1)
    var bullets = 0L; var ellLines = 0L
    lines.foreach { l =>
      val lt = l.dropWhile(_ == ' ')
      if (lt.startsWith("- ") || lt.startsWith("* ") ||
        lt.startsWith("• ")) bullets += 1
      val rt = l.reverse.dropWhile(_ == ' ').reverse
      if (rt.endsWith("...")) ellLines += 1
    }
    val nl = lines.length.toLong
    val mean = sumLen.toDouble / n
    val symR = (hashes + ellipses).toDouble / n
    val bulR = bullets.toDouble / nl
    val ellR = ellLines.toDouble / nl
    val alpR = alpha.toDouble / n
    GopherStats(id, n, mean, symR, bulR, ellR, alpR, stops,
      n >= 50 && n <= 100000 && mean >= 3.0 && mean <= 10.0 &&
        symR < 0.1 && bulR < 0.9 && ellR < 0.3 && alpR > 0.8 &&
        stops >= 2)
  }

  /**
   * Per-source dataset-card rollup — the summary table a corpus SHIPS
   * with (HuggingFace dataset-card style): for every source, document
   * count, token mass, structural-quality pass rate
   * ([[gopherStats]]' verdict), and mean document length. The source
   * column RIDES the gopher typed pass (the shared [[gopherOf]] core —
   * one rule implementation, and no corpus-sized doc_id join-back to
   * re-attach sources), then ONE map-side-combining groupBy(source)
   * rolls up to sources-row output. No window, no join at all.
   *
   * Exactness: counts stay integer; pass_rate and mean_doc_tokens are
   * each ONE IEEE division of exact integers — bit-reproducible.
   *
   * Output: (source, n_docs, n_tokens, n_pass, pass_rate,
   * mean_doc_tokens).
   */
  def sourceQualityReport(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(sourceCol).cast("string"), col(idCol).cast("long"),
        col(textCol).cast("string"))
      .as[(String, Long, String)]
      .mapPartitions(_.map { case (src, id, text) =>
        val g = gopherOf(id, text)
        (src, g.n_tokens, if (g.passes) 1L else 0L)
      })
      .toDF("source", "n_tokens", "pass")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("pass").as("n_pass"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_pass"),
        (col("n_pass").cast("double") / col("n_docs").cast("double"))
          .as("pass_rate"),
        (col("n_tokens").cast("double") / col("n_docs").cast("double"))
          .as("mean_doc_tokens"))
  }

  // -----------------------------------------------------------------------
  // BM25 ranking (Robertson-Sparck Jones) over a bounded term set — the
  // classic retrieval score, in the repo's exact-arithmetic oracle
  // discipline: the only libm call (the idf log) happens ONCE PER TERM in
  // this JVM and is quantized to micro-unit longs ([[nbTrain]]'s
  // pattern), per-(doc, term) contributions are floored to integers after
  // a single identically-shaped IEEE expression, and the final score is
  // an INTEGER sum — order-independent, bit-reproducible across engines.
  // -----------------------------------------------------------------------

  /** (term, df, idf_micro) for a bounded term set: df from one corpus
    * scan, idf_micro = floor(1e6 * ln((N - df + 0.5)/(df + 0.5) + 1)).
    * Driver-side cost is |terms| rows — model-sized by construction. */
  def bm25Idf(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String]): Seq[(String, Long, Long)] = {
    require(terms.nonEmpty && terms.size <= 64,
      s"bm25Idf: ${terms.size} terms — the term set must be bounded " +
        "(it broadcasts and renders as oracle literals)")
    idfTable(df, idCol, textCol, terms)
  }

  /** [[bm25Idf]]'s body without the single-query 64-term bound — the
    * batch path admits a larger UNION set under its own loud contract
    * ([[MaxBatchUnionTerms]]). One corpus scan either way; the df map
    * collected to the driver is |terms| rows. */
  private def idfTable(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String]): Seq[(String, Long, Long)] = {
    val spark = df.sparkSession
    import spark.implicits._
    val termSet = terms.toSet
    val n = df.count()
    val dfCounts = df
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (_, t) =>
        normalizeScala(if (t == null) "" else t).split(" ", -1)
          .iterator.filter(termSet).distinct
      })
      .toDF("term").groupBy("term").agg(count(lit(1)).as("df"))
      .as[(String, Long)].collect().toMap
    terms.sorted.map { t =>
      val d = dfCounts.getOrElse(t, 0L)
      val idf = math.log((n - d + 0.5) / (d + 0.5) + 1.0)
      (t, d, math.floor(idf * 1e6).toLong)
    }
  }

  /**
   * The BM25 scoring state as a PERSISTED artifact — the train-once
   * member of the model family ([[NbModel]], [[IVF.OutlierModel]]): the
   * per-term idf table plus the corpus stats the saturation term needs.
   * A recurring loop trains on the reference corpus once and scores
   * every later batch against the STORED yardstick at batch-sized cost
   * (ONE stateless tokenize pass — the bounded idf table rides the task
   * closure, no join); scoring the
   * training corpus with its own stored model is bit-identical to the
   * live path (spec-pinned — idf_micro longs and the avgdl double both
   * round-trip parquet exactly).
   */
  final case class Bm25Model(
      idf: org.apache.spark.sql.DataFrame, // (term, df, idf_micro)
      params: org.apache.spark.sql.DataFrame) { // (avgdl, k1, b), one row
    def write(path: String): Unit = {
      idf.write.mode("overwrite").parquet(path + "/idf")
      params.write.mode("overwrite").parquet(path + "/params")
    }
  }

  object Bm25Model {
    def read(spark: org.apache.spark.sql.SparkSession, path: String): Bm25Model =
      Bm25Model(
        spark.read.parquet(path + "/idf"),
        spark.read.parquet(path + "/params"))
  }

  /** Train the BM25 state: per-term df + quantized idf ([[bm25Idf]])
    * and the corpus length stats, both model-sized. */
  def bm25Train(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): Bm25Model = {
    val spark = df.sparkSession
    import spark.implicits._
    val idf = bm25Idf(df, idCol, textCol, terms)
    val (_, avgdl) = corpusLengthStats(df, idCol, textCol)
    Bm25Model(
      idf.toDF("term", "df", "idf_micro"),
      Seq((avgdl, k1, b)).toDF("avgdl", "k1", "b"))
  }

  /** The ONE corpus length pass every BM25 trainer shares ((nDocs,
    * avgdl) — [[bm25Train]] and [[bm25TopKBatch]] must derive avgdl
    * from identical tokenization or the spec-pinned batch/single-query
    * parity silently breaks). Fails loud on an empty corpus: avgdl is
    * undefined there and the saturation term would propagate NaN. */
  private def corpusLengthStats(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): (Long, Double) = {
    val spark = df.sparkSession
    import spark.implicits._
    val r = df
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (_, t) =>
        normalizeScala(if (t == null) "" else t).split(" ", -1).length.toLong
      })
      .toDF("dl").agg(count(lit(1)), sum(col("dl"))).head
    val nDocs = r.getLong(0)
    require(nDocs > 0,
      "bm25: corpus is empty — avgdl (and every score) is undefined")
    (nDocs, r.getLong(1).toDouble / nDocs)
  }

  /**
   * BM25 top-k: rank documents against the bounded `terms` query.
   * Output (doc_id, score_micro, n_terms, rank), rank 1..k by
   * (score_micro DESC, doc_id) — integer scores, total order, no float
   * tie hazard. Scale shape: ONE stateless typed tokenize pass computes
   * each doc's whole score in place ([[bm25ScoreAll]] — the bounded idf
   * map rides the task closure; no join, never a posting list per
   * word), and the top-k cut rides [[graft.ops.TopN]]'s two-phase rank
   * — per-partition top-k then merge, no single-task global sort.
   */
  def bm25TopK(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k: Int = 20,
      k1: Double = 1.2,
      b: Double = 0.75): org.apache.spark.sql.DataFrame =
    bm25ScoreModel(bm25Train(df, idCol, textCol, terms, k1, b),
      df, idCol, textCol, k)

  /**
   * Per-doc BM25 score against a (possibly parquet-loaded)
   * [[Bm25Model]], with NO rank cut — (doc_id, score_micro, n_terms),
   * one row per batch doc with >= 1 matched term.
   *
   * The model is bounded by contract (<= 64 idf terms), so the whole
   * score computes inside ONE stateless typed pass: per doc, count the
   * matched terms, floor each contribution after the identical IEEE
   * expression the oracle replays (long*double products exact below
   * 2^53, one correctly-rounded division), and integer-sum — no join,
   * no shuffle, no state. Stateless means STREAM-NATIVE: the same call
   * runs on a streaming frame in append mode (the chunk/outlier screen
   * posture — per-record decisions, no watermark), and it is the body
   * [[bm25ScoreModel]] ranks.
   */
  def bm25ScoreAll(
      model: Bm25Model,
      batch: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val idfRows = model.idf.select(col("term").cast("string"),
        col("idf_micro").cast("long"))
      .as[(String, Long)].collect()
    require(idfRows.length <= 64,
      s"bm25ScoreAll: ${idfRows.length} idf terms — the stored term " +
        "set must stay bounded (it ships in the task closure)")
    val (avgdl, k1, b) = {
      val r = model.params.select(col("avgdl").cast("double"),
        col("k1").cast("double"), col("b").cast("double")).head
      (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    }
    val idfMap = idfRows.toMap
    batch
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        val ws = normalizeScala(if (t == null) "" else t).split(" ", -1)
        val dl = ws.length.toLong
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        ws.foreach(w =>
          if (idfMap.contains(w)) counts(w) = counts.getOrElse(w, 0L) + 1L)
        if (counts.isEmpty) None
        else {
          var score = 0L
          counts.foreach { case (w, tf) =>
            score += math.floor(idfMap(w) * (tf * (k1 + 1.0)) /
              (tf + k1 * ((1.0 - b) + b * (dl / avgdl)))).toLong
          }
          Some((id, score, counts.size.toLong))
        }
      })
      .toDF("doc_id", "score_micro", "n_terms")
  }

  /** Score a batch against a (possibly parquet-loaded) [[Bm25Model]] —
    * the recurring form; [[bm25TopK]] is train + score in one call.
    * Same output contract as [[bm25TopK]]: [[bm25ScoreAll]]'s stateless
    * per-doc scores under the two-phase top-k. */
  def bm25ScoreModel(
      model: Bm25Model,
      batch: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 20): org.apache.spark.sql.DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val scored = bm25ScoreAll(model, batch, idCol, textCol)
    // Global top-k via the two-phase prune ([[graft.ops.TopN]] rationale):
    // a bare global row_number would single-task-sort every scoring doc;
    // the bounded per-partition heap keeps k rows each, and the final
    // window ranks at most k x partitions survivors. Integer scores +
    // doc_id tie-break = total order, so ranks equal the full sort's.
    implicit val ord: Ordering[(Long, Long, Long)] =
      new Ordering[(Long, Long, Long)] {
        def compare(a: (Long, Long, Long), b: (Long, Long, Long)): Int = {
          val s = java.lang.Long.compare(b._2, a._2) // score desc
          if (s != 0) s else java.lang.Long.compare(a._1, b._1)
        }
      }
    val pruned = graft.ops.TopN.partitionTopN(
      scored.as[(Long, Long, Long)], k)(_ => ())
      .toDF("doc_id", "score_micro", "n_terms")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_micro").desc, col("doc_id"))
    pruned.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Loud ceiling on a [[bm25TopKBatch]] query batch: the per-query term
    * arrays ride the task closure, so the batch must stay model-sized.
    * Past it, split the batch — each sub-batch still scores in one
    * corpus pass, so B queries cost ceil(B/256) passes, never B. */
  val MaxBatchQueries = 256

  /** Loud ceiling on the batch's UNION term set (the idf map shipped in
    * the scoring closure and collected as df counts): 4096 terms ≈ tens
    * of KB — model-sized. A batch wanting more vocabulary than this is
    * posting-list territory, which is a different engine shape. */
  val MaxBatchUnionTerms = 4096

  /**
   * Multi-query BM25 — the retrieval-pipeline form of [[bm25TopK]],
   * which ranks ONE bounded term set per call: score a BATCH of queries
   * in ONE tokenize pass over the corpus. `queries` is a (query_id
   * LONG, terms ARRAY<STRING>) frame, each query's term set bounded at
   * 64 (the [[bm25Idf]] contract, per query); the batch itself is
   * bounded by [[MaxBatchQueries]] / [[MaxBatchUnionTerms]] — loud
   * contracts, since both the union idf map and the per-query term
   * arrays ship in the task closure.
   *
   * Scale shape: the union idf table derives from ONE corpus scan
   * (df counts for all queries' terms together), the length stats from
   * one more (the [[bm25Train]] passes, amortized across the whole
   * batch), and scoring is ONE stateless typed pass emitting each doc's
   * score for every query it matches — no join, no posting-list
   * shuffle, no per-query rescan. The per-query top-k cut rides the
   * two-phase rank keyed by query_id: the bounded per-partition heap
   * keeps k rows per (partition, query), so the final window ranks
   * <= k * partitions survivors per query — a 100k-doc corpus never
   * funnels through one reducer no matter how many queries match it
   * ([[graft.tools.ScaleStress]] asserts the ceiling at 100k docs x
   * 100 queries).
   *
   * Exact-arithmetic discipline is [[bm25TopK]]'s, per (query, doc):
   * idf quantized to micro-unit longs once per union term in this JVM,
   * contributions floored after the identical IEEE expression the
   * oracle replays, integer score sums.
   *
   * Output (query_id, doc_id, score_micro, n_terms, rank), rank 1..k
   * within each query by (score_micro DESC, doc_id); docs matching none
   * of a query's terms emit no row for it.
   */
  def bm25TopKBatch(
      corpus: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      queries: org.apache.spark.sql.DataFrame, // (query_id, terms)
      k: Int = 20,
      k1: Double = 1.2,
      b: Double = 0.75): org.apache.spark.sql.DataFrame =
    // Train + score in one call — [[bm25ScoreAllBatch]] IS the scoring
    // pass, so the live and stored paths cannot drift.
    bm25TopKBatchModel(bm25BatchTrain(corpus, idCol, textCol, queries,
      k1, b), corpus, idCol, textCol, k)

  /**
   * The multi-query BM25 state as a PERSISTED artifact — the train-once
   * member of the model family for the BATCH form ([[Bm25Model]] is the
   * single-query one): the union idf table, corpus stats, and the QUERY
   * SET itself. A recurring retrieval pipeline trains on the reference
   * corpus once (one df scan + one length scan for the WHOLE batch) and
   * scores every arriving micro-batch against the stored yardstick at
   * batch-sized cost; scoring the training corpus with its own stored
   * model is bit-identical to the live [[bm25TopKBatch]] (spec-pinned
   * through the parquet round trip — idf_micro longs, the avgdl double,
   * and the term arrays all round-trip exactly).
   */
  final case class Bm25BatchModel(
      idf: org.apache.spark.sql.DataFrame, // (term, df, idf_micro) — union
      params: org.apache.spark.sql.DataFrame, // (avgdl, k1, b), one row
      queries: org.apache.spark.sql.DataFrame) { // (query_id, terms)
    def write(path: String): Unit = {
      idf.write.mode("overwrite").parquet(path + "/idf")
      params.write.mode("overwrite").parquet(path + "/params")
      queries.write.mode("overwrite").parquet(path + "/queries")
    }
  }

  object Bm25BatchModel {
    def read(spark: org.apache.spark.sql.SparkSession,
        path: String): Bm25BatchModel =
      Bm25BatchModel(
        spark.read.parquet(path + "/idf"),
        spark.read.parquet(path + "/params"),
        spark.read.parquet(path + "/queries"))
  }

  /** Collect + validate a (query_id, terms) frame against the batch
    * contracts — the bounds are LOUD whether the frame arrives fresh
    * ([[bm25BatchTrain]]) or from a stored model
    * ([[bm25ScoreAllBatch]]), since either way the term arrays ride the
    * task closure. */
  private def validatedQueryRows(
      queries: org.apache.spark.sql.DataFrame,
      who: String): Array[(Long, Seq[String])] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qRows = queries
      .select(col("query_id").cast("long"),
        col("terms").cast("array<string>"))
      .as[(Long, Seq[String])].collect()
    require(qRows.nonEmpty, s"$who: query batch is empty")
    require(qRows.length <= MaxBatchQueries,
      s"$who: ${qRows.length} queries exceeds MaxBatchQueries=" +
        s"$MaxBatchQueries — the per-query term arrays ride the task " +
        "closure; split the batch (each sub-batch is still one corpus " +
        "pass)")
    require(qRows.map(_._1).distinct.length == qRows.length,
      s"$who: duplicate query_id in the batch")
    qRows.foreach { case (qid, ts) =>
      require(ts != null && ts.nonEmpty && ts.size <= 64,
        s"$who: query $qid has ${if (ts == null) 0 else ts.size} " +
          "terms — each query's term set must be 1..64 (the bm25Idf " +
          "contract)")
    }
    qRows
  }

  /** Train the batch-BM25 state: union-term idf (ONE df scan for the
    * whole query set), the shared corpus length pass, and the validated
    * query table — all model-sized by the batch contracts. */
  def bm25BatchTrain(
      corpus: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      queries: org.apache.spark.sql.DataFrame, // (query_id, terms)
      k1: Double = 1.2,
      b: Double = 0.75): Bm25BatchModel = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qRows = validatedQueryRows(queries, "bm25BatchTrain")
    val union = qRows.flatMap(_._2).distinct.sorted
    require(union.size <= MaxBatchUnionTerms,
      s"bm25BatchTrain: ${union.size} distinct terms across the batch " +
        s"exceeds MaxBatchUnionTerms=$MaxBatchUnionTerms — the union " +
        "idf map ships in the scoring closure; split the batch")
    val idf = idfTable(corpus, idCol, textCol, union)
    val (_, avgdl) = corpusLengthStats(corpus, idCol, textCol)
    Bm25BatchModel(
      idf.toDF("term", "df", "idf_micro"),
      Seq((avgdl, k1, b)).toDF("avgdl", "k1", "b"),
      qRows.toSeq.toDF("query_id", "terms"))
  }

  /**
   * Per-(query, doc) BM25 scores against a (possibly parquet-loaded)
   * [[Bm25BatchModel]], NO rank cut — (query_id, doc_id, score_micro,
   * n_terms), one row per (query, matching doc). The model is bounded
   * by contract, so the whole score computes inside ONE stateless
   * typed pass: tokenize each doc once, tally tf for union terms only,
   * emit every query's score from the shared tally — per-doc cost
   * O(tokens + matched terms), never O(tokens * queries). Stateless
   * means STREAM-NATIVE: the same call runs on a streaming frame in
   * append mode (the [[bm25ScoreAll]] posture) — the routing/tagging
   * shape, where every arriving doc is scored against a FIXED query
   * set per record.
   */
  def bm25ScoreAllBatch(
      model: Bm25BatchModel,
      batch: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val idfRows = model.idf.select(col("term").cast("string"),
        col("idf_micro").cast("long"))
      .as[(String, Long)].collect()
    require(idfRows.nonEmpty && idfRows.length <= MaxBatchUnionTerms,
      s"bm25ScoreAllBatch: ${idfRows.length} stored idf terms — the " +
        s"union set must stay in 1..$MaxBatchUnionTerms (it ships in " +
        "the task closure)")
    val idfMap = idfRows.toMap
    val (avgdl, k1, b) = {
      val r = model.params.select(col("avgdl").cast("double"),
        col("k1").cast("double"), col("b").cast("double")).head
      (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    }
    val qTerms: Array[(Long, Array[String])] =
      validatedQueryRows(model.queries, "bm25ScoreAllBatch")
        .sortBy(_._1).map { case (qid, ts) => (qid, ts.distinct.toArray) }
    batch
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        val ws = normalizeScala(if (t == null) "" else t).split(" ", -1)
        val dl = ws.length.toLong
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        ws.foreach(w =>
          if (idfMap.contains(w)) counts(w) = counts.getOrElse(w, 0L) + 1L)
        if (counts.isEmpty) Iterator.empty
        else qTerms.iterator.flatMap { case (qid, ts) =>
          var score = 0L; var n = 0L
          ts.foreach { w =>
            val tf = counts.getOrElse(w, 0L)
            if (tf > 0L) {
              n += 1L
              score += math.floor(idfMap(w) * (tf * (k1 + 1.0)) /
                (tf + k1 * ((1.0 - b) + b * (dl / avgdl)))).toLong
            }
          }
          if (n == 0L) None else Some((qid, id, score, n))
        }
      })
      .toDF("query_id", "doc_id", "score_micro", "n_terms")
  }

  /** Rank a batch against a (possibly parquet-loaded)
    * [[Bm25BatchModel]] — the recurring form; [[bm25TopKBatch]] is
    * train + rank in one call. Same output contract:
    * [[bm25ScoreAllBatch]]'s stateless per-(query, doc) scores under
    * the two-phase top-k keyed by query_id — the bounded per-partition
    * heap keeps k rows per (partition, query) before any exchange, the
    * window ranks only the survivors. Integer scores + doc_id
    * tie-break = total order. */
  def bm25TopKBatchModel(
      model: Bm25BatchModel,
      batch: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 20): org.apache.spark.sql.DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val scored = bm25ScoreAllBatch(model, batch, idCol, textCol)
    implicit val ord: Ordering[(Long, Long, Long, Long)] =
      new Ordering[(Long, Long, Long, Long)] {
        def compare(a: (Long, Long, Long, Long),
            b: (Long, Long, Long, Long)): Int = {
          val s = java.lang.Long.compare(b._3, a._3) // score desc
          if (s != 0) s else java.lang.Long.compare(a._2, b._2)
        }
      }
    val pruned = graft.ops.TopN.partitionTopN(
      scored.as[(Long, Long, Long, Long)], k)(_._1)
      .toDF("query_id", "doc_id", "score_micro", "n_terms")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("doc_id"))
    pruned.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }
}
