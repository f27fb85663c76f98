package graft

import org.apache.spark.sql.{GraftExtensionsBridge, SparkSession, SparkSessionExtensions}
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("GraftExtensions injects graft_dot as a SQL-resolvable native function") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val got = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .collect().head.getDouble(0)
    assert(got == 32.0)
    // Registered like a built-in: visible to the catalog's function listing.
    assert(spark.sql("SHOW FUNCTIONS").collect().map(_.getString(0)).contains("graft_dot"))
  }

  test("GraftExtensions injects graft_sorted_intersect as SQL-resolvable") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val got = spark.sql(
      "SELECT graft_sorted_intersect(array(1, 3, 5, 9), array(2, 3, 5, 8)) AS n")
      .collect().head.getLong(0)
    assert(got == 2L)
    assert(spark.sql("SHOW FUNCTIONS").collect().map(_.getString(0))
      .contains("graft_sorted_intersect"))
    // The sortedness PRECONDITION must reach SQL users who can't read the
    // Scaladoc: DESCRIBE FUNCTION carries the warning that unsorted input
    // silently undercounts.
    val desc = spark.sql("DESCRIBE FUNCTION EXTENDED graft_sorted_intersect")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("sorted ascending"), s"usage text missing: $desc")
    assert(desc.contains("silently undercounts"), s"warning missing: $desc")
  }

  test("graft_neardup TVF runs the near-dup operator from pure SQL") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val dir = java.nio.file.Files.createTempDirectory("tvf-docs-").toString + "/docs"
    Seq[(Long, String)](
      1L -> "the quick brown fox jumps over the lazy dog near the river bank",
      2L -> "the quick brown fox jumps over the lazy dog near the river bend",
      3L -> "completely different text on alarm processing and overrides")
      .toDF("doc_id", "text").write.parquet(dir)
    val got = spark.sql(
      s"SELECT id_a, id_b FROM graft_neardup('$dir', 'doc_id', 'text', 0.7)")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), s"TVF result: $got")
    // The TVF output composes like any subquery (filter over it).
    val filtered = spark.sql(
      s"SELECT count(*) FROM graft_neardup('$dir', 'doc_id', 'text', 0.7) " +
        "WHERE jaccard >= 0.99").collect().head.getLong(0)
    assert(filtered == 0L)
    // And the full curation manifest resolves from SQL too.
    val curated = spark.sql(
      s"SELECT * FROM graft_curate('$dir', 2)").columns.toSeq
    assert(curated.contains("doc_id") && curated.contains("shard"))
    // The decontamination screen: doc 3 (id % 3 == 0) is the eval slice;
    // training docs report overlap counts against it.
    val decon = spark.sql(
      s"SELECT doc_id, contaminated FROM graft_decontaminate('$dir', 'doc_id', 'text', 3)")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(decon.keySet == Set(1L, 2L), s"training docs only: $decon")
    graft.GraftCaches.clearAll()
  }

  test("graft_ingest_screen / graft_chunk_screen run the persisted-index screens from SQL") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-ingest-").toString
    val nd = base + "/nd"
    val ch = base + "/chunks"
    val boiler = "all rights reserved corpus contact us for terms boundary"
    // Seed the indexes through the operator (managed chunk root).
    graft.functions.Ingest.ingestBatch(
      Seq[(Long, String)](
        1L -> "the quick brown fox jumps over the lazy dog near the river bank",
        2L -> s"spark is a distributed engine that runs queries $boiler")
        .toDF("doc_id", "text"),
      "epoch-1", graft.functions.Ingest.Loop("doc_id", "text", nd, ch))
    graft.GraftCaches.clearAll()
    val batchDir = base + "/batch"
    Seq[(Long, String)](
      1L -> "the quick brown fox jumps over the lazy dog near the river bank",
      4L -> "the quick brown fox jumps over the lazy dog near the river bend",
      5L -> s"zzz zz $boiler",
      6L -> "an entirely novel report about the weather and the harvest")
      .toDF("doc_id", "text").write.parquet(batchDir)
    // The recurring-ingestion decision, from pure SQL over the SAME
    // persisted artifacts the Scala loop appends to.
    val got = spark.sql(
      s"SELECT doc_id, decision FROM graft_ingest_screen(" +
        s"'$batchDir', '$nd', '$ch', 0.7)")
      .as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "accepted_prior", 4L -> "rejected_neardup",
      5L -> "rejected_chunks", 6L -> "accepted"), s"TVF decisions: $got")
    // The chunk twin: stored boilerplate counts flag the shifted copy.
    val chGot = spark.sql(
      s"SELECT doc_id, n_dup FROM graft_chunk_screen('$batchDir', '$ch', 1)")
      .as[(Long, Long)].collect().toMap
    assert(chGot(5L) >= 1L, s"stored chunks must flag doc 5: $chGot")
    assert(chGot(6L) == 0L, s"novel doc must be clean: $chGot")
    // A wrong nd-index path is loud, not a trivially-passing screen.
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_ingest_screen(" +
        s"'$batchDir', '$base/nowhere', '$ch', 0.7)").collect()
    }
    assert(e.getMessage.contains("no committed near-dup index"),
      e.getMessage)
    graft.GraftCaches.clearAll()
  }

  test("graft_ingest_screen2 composes the quality/span/outlier gates from SQL") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-gated-").toString
    val nd = base + "/nd"
    val ch = base + "/chunks"
    val sp = base + "/spans"
    val passage = "all rights reserved contact us for terms of use today"
    // Seed the nd/chunk/span stores through the appending loop (the
    // IngestSpec span-gate fixture; dupRatio 2.0 keeps later decisions
    // attributable to one gate at a time).
    graft.functions.Ingest.ingestBatch(
      Seq[(Long, String)](
        1L -> s"$passage plus a perfectly original closing thought here",
        2L -> "completely novel prose about migratory birds over the delta")
        .toDF("doc_id", "text"),
      "e1", graft.functions.Ingest.Loop("doc_id", "text", nd, ch,
        dupRatio = 2.0, spanRootPath = Some(sp), spanK = 5))
    graft.GraftCaches.clearAll()
    // Outlier yardstick: 20 identical vectors, p90 distance 0 — any
    // deviation flags (the StreamScoringSpec fixture).
    val v0 = Seq.tabulate(8)(d => math.sin(3 + d).toFloat)
    graft.functions.IVF.embedOutliersTrain(
        (0 until 20).map(i => (100L + i, v0)).toDF("vec_id", "embedding"),
        nlist = 1)
      .write(base + "/om")
    // Gopher-passing filler: 60 tokens, stopword-rich, all-alpha.
    val good = Array.fill(10)("the analysis of riverbed geology offers")
      .mkString(" ")
    val batchDir = base + "/batch"
    Seq[(Long, String)](
      40L -> s"$good wholly new first variant",
      41L -> "tiny text",
      42L -> s"$good entirely different tail for the vector case")
      .toDF("doc_id", "text").write.parquet(batchDir)
    val embDir = base + "/emb"
    Seq((40L, v0), (42L, Seq.fill(8)(9.0f)))
      .toDF("vec_id", "embedding").write.parquet(embDir)
    // Quality + outlier gates armed from pure SQL (span unarmed: '').
    val gotQO = spark.sql(
      s"SELECT doc_id, decision FROM graft_ingest_screen2(" +
        s"'$batchDir', '$nd', '$ch', 0.7, 2.0, true, '', 0.5, " +
        s"'$base/om', 2.0, '$embDir')")
      .as[(Long, String)].collect().toMap
    assert(gotQO == Map(
      40L -> "accepted", 41L -> "rejected_quality",
      42L -> "rejected_outlier"), s"TVF gated decisions: $gotQO")
    // ...and the TVF must equal the Scala read-only spine exactly.
    val scalaQO = graft.functions.Ingest.screenBatchGated(
        spark.read.parquet(batchDir),
        spark.read.parquet(
          graft.sources.ManagedRoot.resolve(spark, nd)),
        graft.functions.Ingest.chunkIndexAt(spark, ch),
        "doc_id", "text", threshold = 0.7, dupRatio = 2.0,
        qualityGate = true,
        outlierGate = Some((
          graft.functions.IVF.OutlierModel.read(spark, base + "/om"), 2.0,
          spark.read.parquet(embDir))))
      .as[(Long, String)].collect().toMap
    assert(scalaQO == gotQO, s"TVF drifted from screenBatchGated: $scalaQO")
    graft.GraftCaches.clearAll()
    // Span gate armed alone: the assembled-boilerplate doc (mostly the
    // STORED passage) rejects; the short-quote and novel docs pass —
    // the IngestSpec batch-2 semantics, now reachable from SQL.
    val batch2 = base + "/batch2"
    Seq[(Long, String)](
      10L -> s"$passage and little else",
      11L -> (s"a long and clearly original report that happens to cite " +
        s"$passage while adding substantial new analysis throughout its " +
        "many fresh sentences about the local economy"),
      12L -> "fresh observations about tidal patterns near the estuary")
      .toDF("doc_id", "text").write.parquet(batch2)
    val gotSpan = spark.sql(
      s"SELECT doc_id, decision FROM graft_ingest_screen2(" +
        s"'$batch2', '$nd', '$ch', 0.7, 2.0, false, '$sp', 0.5, " +
        s"'', 2.0, '')")
      .as[(Long, String)].collect().toMap
    assert(gotSpan == Map(
      10L -> "rejected_boilerplate", 11L -> "accepted", 12L -> "accepted"),
      s"span-gated TVF decisions: $gotSpan")
    // The 13-arg form arms the SAMPLING gate: score 0 always rejects,
    // score >= max always keeps (deterministic ends of the draw).
    val batch3 = base + "/batch3"
    Seq[(Long, String, Long)](
      (20L, s"$good sampled survivor variant", 100L),
      (21L, s"$good sampled discard variant", 0L))
      .toDF("doc_id", "text", "score").write.parquet(batch3)
    val gotSamp = spark.sql(
      s"SELECT doc_id, decision FROM graft_ingest_screen2(" +
        s"'$batch3', '$nd', '$ch', 0.7, 2.0, false, '', 0.5, " +
        s"'', 2.0, '', 'score', 100)")
      .as[(Long, String)].collect().toMap
    assert(gotSamp == Map(20L -> "accepted", 21L -> "rejected_sampled"),
      s"sampling-gated TVF decisions: $gotSamp")
    // Arming the outlier gate without embeddings is a loud misuse.
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_ingest_screen2(" +
        s"'$batchDir', '$nd', '$ch', 0.7, 0.5, false, '', 0.5, " +
        s"'$base/om', 2.0, '')").collect()
    }
    assert(e.getMessage.contains("outlier gate"), e.getMessage)
    // Wrong arity keeps the standard error.
    val ea = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_ingest_screen2('$batchDir', '$nd')")
        .collect()
    }
    assert(ea.getMessage.contains("graft_ingest_screen2"), ea.getMessage)
    graft.GraftCaches.clearAll()
  }

  test("graft_ivf_screen / graft_pq_screen / graft_ivfpq_screen run the vector-index screens from SQL") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-ann-").toString
    // Deterministic 8-dim corpus: clusters around 4 axis directions.
    val rnd = new scala.util.Random(7)
    val corpus = (0 until 48).map { i =>
      val axis = i % 4
      val v = Array.tabulate(8)(d =>
        (if (d == axis * 2) 1.0f else 0.0f) + rnd.nextFloat() * 0.05f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val ivfDir = base + "/ivf"
    val pqDir = base + "/pq"
    graft.functions.IVF.buildIvfIndex(corpus, nlist = 4).write(ivfDir)
    graft.functions.PQ.buildPqIndex(corpus, dim = 8, m = 2, k = 4, nlist = 4)
      .write(pqDir)
    val qDir = base + "/queries"
    corpus.filter($"vec_id" < 3).write.parquet(qDir)
    graft.GraftCaches.clearAll()

    import org.apache.spark.sql.functions.col
    def keys(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.select(col("query_id").cast("long"), col("cand_id").cast("long"),
        col("rank").cast("int"))
        .as[(Long, Long, Int)].collect().toSet

    // Each TVF must agree exactly with its Scala indexed screen.
    val ivfSql = keys(spark.sql(
      s"SELECT * FROM graft_ivf_screen('$qDir', '$ivfDir', 5, 2)"))
    val ivfScala = keys(graft.functions.IVF.ivfTopKIndexed(
      spark.read.parquet(qDir),
      graft.functions.IVF.IvfIndex.read(spark, ivfDir), 5, 2))
    assert(ivfSql == ivfScala && ivfSql.nonEmpty, s"ivf: $ivfSql vs $ivfScala")

    val pqSql = keys(spark.sql(
      s"SELECT * FROM graft_pq_screen('$qDir', '$pqDir', 5)"))
    val pqScala = keys(graft.functions.PQ.pqTopKIndexed(
      spark.read.parquet(qDir),
      graft.functions.PQ.PqIndex.read(spark, pqDir), 5))
    assert(pqSql == pqScala && pqSql.nonEmpty, s"pq: $pqSql vs $pqScala")

    val ivfpqSql = keys(spark.sql(
      s"SELECT * FROM graft_ivfpq_screen('$qDir', '$pqDir', 5, 0)"))
    val ivfpqScala = keys(graft.functions.PQ.ivfpqTopKIndexed(
      spark.read.parquet(qDir),
      graft.functions.PQ.PqIndex.read(spark, pqDir), 5, 0))
    assert(ivfpqSql == ivfpqScala && ivfpqSql.nonEmpty,
      s"ivfpq: $ivfpqSql vs $ivfpqScala")

    // Composes like a subquery: rank filter prunes through the TVF.
    val top1 = spark.sql(
      s"SELECT count(*) FROM graft_ivf_screen('$qDir', '$ivfDir', 5, 2) " +
        "WHERE rank = 1").collect().head.getLong(0)
    assert(top1 == 3L, s"one rank-1 row per query: $top1")
    graft.GraftCaches.clearAll()
  }

  test("graft_nb_score runs the persisted-model classifier from SQL") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-nb-").toString
    val corpus = Seq(
      (1L, "spark shuffle partition executor", "eng"),
      (2L, "partition executor spark spark", "eng"),
      (3L, "sonnet stanza verse meter", "poetry"),
      (4L, "verse meter sonnet sonnet", "poetry"))
      .toDF("doc_id", "text", "source")
    graft.functions.TextFunctions
      .nbTrain(corpus, "doc_id", "text", "source").write(base + "/model")
    Seq((10L, "spark executor"), (11L, "sonnet verse"))
      .toDF("doc_id", "text").write.parquet(base + "/batch")
    val got = spark.sql(
      s"SELECT doc_id, predicted FROM graft_nb_score(" +
        s"'$base/batch', '$base/model')")
      .as[(Long, String)].collect().toMap
    assert(got == Map(10L -> "eng", 11L -> "poetry"), s"TVF: $got")
    graft.GraftCaches.clearAll()
  }

  test("graft_embed_outliers / graft_knn_classify run the vector-quality operators from SQL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-vq-").toString
    val rnd = new scala.util.Random(13)
    val corpus = ((0 until 30).map { i =>
      (i.toLong,
        Seq.tabulate(4)(d => (if (d == i % 2) 1.0f else 0.0f)
          + rnd.nextFloat() * 0.01f),
        (i % 2) + 1)
    } :+ ((99L, Seq.tabulate(4)(_ => 7.0f), 1)))
      .toDF("vec_id", "embedding", "label")
    corpus.write.parquet(base + "/corpus")
    corpus.filter($"vec_id" < 2).select("vec_id", "embedding")
      .write.parquet(base + "/q")
    val out = spark.sql(
      s"SELECT vec_id, outlier FROM graft_embed_outliers('$base/corpus', 2)")
      .as[(Long, Boolean)].collect().toMap
    assert(out(99L), s"planted outlier flagged: $out")
    val knnSql = spark.sql(
      s"SELECT query_id, predicted FROM graft_knn_classify(" +
        s"'$base/q', '$base/corpus', 'label', 5)")
      .as[(Long, Long)].collect().toMap
    val knnScala = graft.functions.Vectors.knnClassify(
        spark.read.parquet(base + "/q"),
        spark.read.parquet(base + "/corpus"), "label", 5)
      .select(col("query_id"), col("predicted"))
      .as[(Long, Long)].collect().toMap
    assert(knnSql == knnScala && knnSql.nonEmpty, s"$knnSql vs $knnScala")
    graft.GraftCaches.clearAll()
  }

  test("graft_span_scrub splices the duplicated-passage scrub from SQL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-span-").toString
    Seq(
      (1L, "shared passage tokens here exactly plus keeper tail"),
      (2L, "prefix words shared passage tokens here exactly suffix"),
      (3L, "nothing in common with the others at all")
    ).toDF("doc_id", "text").write.parquet(base + "/docs")
    val sql = spark.sql(
      s"SELECT doc_id, clean_text, n_removed FROM graft_span_scrub(" +
        s"'$base/docs', 'doc_id', 'text', 5, 2)")
      .as[(Long, String, Long)].collect().toSet
    val scala = graft.functions.Spans.spanScrub(
        spark.read.parquet(base + "/docs"), "doc_id", "text", 5, 2)
      .select(col("doc_id"), col("clean_text"), col("n_removed"))
      .as[(Long, String, Long)].collect().toSet
    assert(sql == scala && sql.exists(_._3 > 0), s"$sql vs $scala")
    // The audit half over the same corpus: docs 1 and 2 must both count
    // their shared spans as duplicated.
    val dupes = spark.sql(
      s"SELECT doc_id, n_dup_spans FROM graft_span_dupes(" +
        s"'$base/docs', 'doc_id', 'text', 5, 2)")
      .as[(Long, Long)].collect().toMap
    assert(dupes(1L) > 0 && dupes(2L) > 0 && dupes(3L) == 0, s"$dupes")
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_span_scrub('$base/docs', 'doc_id', 'text', 5)")
    }
    assert(err.getMessage.toLowerCase.contains("graft_span_scrub"))
    // The persisted-index screen + the 5-arg index report: append doc 1's
    // spans as an epoch, screen docs 2-3 against the store from SQL.
    graft.functions.Spans.spanIndexAppend(
      spark.read.parquet(base + "/docs").filter($"doc_id" === 1L),
      "doc_id", "text", base + "/spanidx", "e1", 5)
    spark.read.parquet(base + "/docs").filter($"doc_id" > 1L)
      .write.parquet(base + "/batch2")
    val screen = spark.sql(
      s"SELECT doc_id, n_spans, n_ref_spans FROM graft_span_screen(" +
        s"'$base/batch2', '$base/spanidx', 'doc_id', 'text', 5)")
      .as[(Long, Long, Long)].collect()
      .map { case (id, ns, nr) => id -> ((ns, nr)) }.toMap
    assert(screen(2L)._2 > 0, s"doc 2 shares the passage: $screen")
    assert(screen(3L)._2 == 0, s"doc 3 is novel: $screen")
    val fam = spark.sql(
      s"SELECT family, layout FROM graft_index_report(" +
        s"'$base/no-nd', '$base/no-chunks', '', '', '$base/spanidx')")
      .as[(String, String)].collect().toMap
    assert(fam("span") == "flat" && fam.contains("neardup"), s"$fam")
    // The indexed scrub TVF transforms against the same store the
    // screen gates on, and matches the Scala composition.
    val scrubSql = spark.sql(
      s"SELECT doc_id, clean_text, n_removed FROM graft_span_scrub_indexed(" +
        s"'$base/batch2', '$base/spanidx', 'doc_id', 'text', 5)")
      .as[(Long, String, Long)].collect().toSet
    val scrubScala = graft.functions.Spans.spanScrubIndexed(
        spark.read.parquet(base + "/batch2"),
        graft.functions.Ingest.spanIndexAt(spark, base + "/spanidx"),
        "doc_id", "text", 5)
      .as[(Long, String, Long)].collect().toSet
    assert(scrubSql == scrubScala && scrubSql.exists(_._3 > 0),
      s"$scrubSql vs $scrubScala")
    // The k-drift guard covers the SQL read paths: a k=6 screen over the
    // k=5 store fails loud instead of silently reporting zero matches.
    val kErr = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_span_screen(" +
        s"'$base/batch2', '$base/spanidx', 'doc_id', 'text', 6)")
    }
    assert(kErr.getMessage.contains("k=5") &&
      kErr.getMessage.contains("k=6"), kErr.getMessage)
  }

  test("graft_range_search splices the indexed radius screen; full probes equal the exact form") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-range-").toString
    val rnd = new scala.util.Random(29)
    val corpus = (0 until 40).map { i =>
      (i.toLong, Seq.tabulate(4)(d =>
        (if (d == i % 2) 1.0f else 0.0f) + rnd.nextFloat() * 0.05f))
    }.toDF("vec_id", "embedding")
    corpus.write.parquet(base + "/corpus")
    corpus.filter($"vec_id" < 3).write.parquet(base + "/q")
    graft.functions.IVF.buildIvfIndex(
      spark.read.parquet(base + "/corpus"), nlist = 2).write(base + "/ivf")
    val sql = spark.sql(
      s"SELECT query_id, cand_id, cos FROM graft_range_search(" +
        s"'$base/q', '$base/ivf', 0.9, 2)")
      .as[(Long, Long, Double)].collect().toSet
    val exact = graft.functions.Vectors.rangeSearch(
        spark.read.parquet(base + "/q"),
        spark.read.parquet(base + "/corpus"), 0.9)
      .select(col("query_id"), col("cand_id"), col("cos"))
      .as[(Long, Long, Double)].collect().toSet
    assert(sql == exact && sql.nonEmpty, s"$sql vs $exact")
    // Literal-arg discipline: a non-literal path must fail loudly.
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM graft_range_search(CAST(rand() AS STRING), 'x', 0.9, 2)")
    }
    assert(err.getMessage.contains("literal"))
  }

  test("graft_knn_screen / graft_embed_outliers model form run the persisted-artifact paths from SQL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-persist-").toString
    val rnd = new scala.util.Random(13)
    val corpus = ((0 until 30).map { i =>
      (i.toLong,
        Seq.tabulate(4)(d => (if (d == i % 2) 1.0f else 0.0f)
          + rnd.nextFloat() * 0.01f),
        (i % 2) + 1)
    } :+ ((99L, Seq.tabulate(4)(_ => 7.0f), 1)))
      .toDF("vec_id", "embedding", "label")
    corpus.write.parquet(base + "/corpus")
    corpus.select("vec_id", "label").write.parquet(base + "/labels")
    corpus.filter($"vec_id" < 2).select("vec_id", "embedding")
      .write.parquet(base + "/q")
    // Stored IVF index + labels drive the indexed vote; full probes
    // (nlist 2) make it exact, so it must agree with graft_knn_classify.
    graft.functions.IVF.buildIvfIndex(
      spark.read.parquet(base + "/corpus").select("vec_id", "embedding"),
      nlist = 2).write(base + "/ivf")
    val screen = spark.sql(
      s"SELECT query_id, predicted FROM graft_knn_screen(" +
        s"'$base/q', '$base/ivf', '$base/labels', 'label', 5, 2)")
      .as[(Long, Long)].collect().toMap
    val brute = spark.sql(
      s"SELECT query_id, predicted FROM graft_knn_classify(" +
        s"'$base/q', '$base/corpus', 'label', 5)")
      .as[(Long, Long)].collect().toMap
    assert(screen == brute && screen.nonEmpty, s"$screen vs $brute")
    // The PQ form of the screen: stored ADC codes, same vote — parity
    // with the Scala composition (label agreement with brute is the
    // FunctionsSpec cluster test's concern; the TVF contract is that it
    // splices the same operator).
    graft.functions.PQ.buildPqIndex(
      spark.read.parquet(base + "/corpus").select("vec_id", "embedding"),
      dim = 4, m = 2, k = 8, nlist = 2).write(base + "/pq")
    val pqSql = spark.sql(
      s"SELECT query_id, predicted FROM graft_knn_screen_pq(" +
        s"'$base/q', '$base/pq', '$base/labels', 'label', 5, 2)")
      .as[(Long, Long)].collect().toMap
    val pqScala = graft.functions.Vectors.knnClassifyIndexedPq(
        spark.read.parquet(base + "/q"),
        graft.functions.PQ.PqIndex.read(spark, base + "/pq"),
        spark.read.parquet(base + "/labels"), "label", 5, nprobe = 2)
      .select(col("query_id"), col("predicted"))
      .as[(Long, Long)].collect().toMap
    assert(pqSql == pqScala && pqSql.nonEmpty, s"$pqSql vs $pqScala")
    // Stored outlier yardstick: the 3-arg form scores against the
    // persisted model and must equal the Scala path bit-for-bit.
    graft.functions.IVF.embedOutliersTrain(
        spark.read.parquet(base + "/corpus").select("vec_id", "embedding"),
        nlist = 2)
      .write(base + "/om")
    val sqlScored = spark.sql(
      s"SELECT vec_id, cell, dist_micro, outlier FROM graft_embed_outliers(" +
        s"'$base/corpus', '$base/om', 2.0)")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    val scalaScored = graft.functions.IVF.embedOutliersScore(
        graft.functions.IVF.OutlierModel.read(spark, base + "/om"),
        spark.read.parquet(base + "/corpus").select("vec_id", "embedding"),
        factor = 2.0)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(sqlScored.toSeq == scalaScored.toSeq && sqlScored.nonEmpty)
    assert(sqlScored.find(_._1 == 99L).exists(_._4),
      "planted outlier must be flagged by the stored model")
    graft.GraftCaches.clearAll()
  }

  test("graft_index_report audits the persisted index families from SQL") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-report-").toString
    graft.functions.Ingest.ingestBatch(
      Seq((1L, "the river flows past the old mill near the quiet village"))
        .toDF("doc_id", "text"),
      "e1", graft.functions.Ingest.Loop("doc_id", "text", base + "/nd",
        base + "/chunks"))
    graft.GraftCaches.clearAll()
    // '' = no vector index in this loop -> two family rows.
    val rows = spark.sql(
      s"SELECT family, layout, rows FROM graft_index_report(" +
        s"'$base/nd', '$base/chunks', '')")
      .as[(String, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(rows.keySet == Set("neardup", "chunk"), s"families: ${rows.keySet}")
    assert(rows("neardup")._2 == "managed" && rows("neardup")._3 == 1L)
    assert(rows("chunk")._3 > 0L)
    // The 4-arg arity adds the pq family ('' still skips a family; an
    // absent-but-named root reports as absent, read-only).
    val rows4 = spark.sql(
      s"SELECT family, layout FROM graft_index_report(" +
        s"'$base/nd', '$base/chunks', '', '$base/pq')")
      .as[(String, String)].collect().toMap
    assert(rows4.keySet == Set("neardup", "chunk", "pq"),
      s"families: ${rows4.keySet}")
    assert(rows4("pq") == "absent", s"pq layout: ${rows4("pq")}")
    assert(!new java.io.File(base + "/pq").exists(),
      "reporting must not bootstrap the pq root")
    graft.GraftCaches.clearAll()
  }

  test("graft_corpus_drift runs the drift audit from SQL") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-drift-").toString
    Seq((1L, "x x y")).toDF("doc_id", "text").write.parquet(base + "/a")
    Seq((2L, "x z")).toDF("doc_id", "text").write.parquet(base + "/b")
    val got = spark.sql(
      s"SELECT word, cnt_a, cnt_b, drift FROM graft_corpus_drift(" +
        s"'$base/a', '$base/b', 'text', 50)")
      .as[(String, Long, Long, Double)].collect().toSeq
    val scala0 = graft.functions.TextFunctions.corpusDrift(
        spark.read.parquet(base + "/a"),
        spark.read.parquet(base + "/b"), "text", 50)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got == scala0 && got.nonEmpty, s"$got vs $scala0")
    assert(got.head._1 == "z", s"most-drifted word: ${got.head}")
    graft.GraftCaches.clearAll()
  }

  test("graft_mix_tokens runs the token-budget mix from SQL and rejects bad budgets") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-mix-").toString
    val rows = (0L until 300L)
      .map(i => (i, "src" + (i % 3), 1L + (i % 7)))
      .toDF("doc_id", "source", "n_tokens")
    rows.write.parquet(base + "/docs")
    val got = spark.sql(
      s"""SELECT doc_id, source, n_tokens FROM graft_mix_tokens(
         |'$base/docs', 'source', 'n_tokens',
         |'{"src0": 50, "src1": 100000}')""".stripMargin)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    val scala0 = graft.ops.CorpusMix.mixByTokens(
        rows, "doc_id", "source", "n_tokens",
        Map("src0" -> 50L, "src1" -> 100000L))
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got.toSeq == scala0.toSeq && got.nonEmpty,
      s"TVF mix drifted: ${got.length} vs ${scala0.length}")
    // Loud failures: invalid JSON, non-object JSON, fractional budget.
    def fails(budgets: String, needle: String): Unit = {
      val e = intercept[Exception] {
        spark.sql(s"SELECT * FROM graft_mix_tokens(" +
          s"'$base/docs', 'source', 'n_tokens', '$budgets')").collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains(needle)), s"for $budgets got: $e")
    }
    fails("not json", "not valid JSON")
    fails("[1, 2]", "JSON object")
    fails("""{"src0": 1.5}""", "integral")
    fails("""{"src0": -3}""", "positive")
    graft.GraftCaches.clearAll()
  }

  test("graft_mix_temperature / graft_importance_sample from SQL: Scala parity + loud misuse") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-temp-").toString
    val rows = (0L until 200L)
      .map(i => (i, "src" + (i % 4), 1L + (i % 9)))
      .toDF("doc_id", "source", "n_tokens")
    rows.write.parquet(base + "/docs")
    val got = spark.sql(
      "SELECT source, tokens_total, weight, budget FROM " +
        s"graft_mix_temperature('$base/docs', 'source', 'n_tokens', 100)")
      .as[(String, Long, Long, Long)].collect().toSeq
    val scala0 = graft.ops.CorpusMix.temperatureBudgets(
        rows, "source", "n_tokens", 100L)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == scala0 && got.map(_._4).sum == 100L, s"$got vs $scala0")
    // The 5-arg prop form reproduces natural shares.
    val prop = spark.sql(
      "SELECT source, budget FROM graft_mix_temperature(" +
        s"'$base/docs', 'source', 'n_tokens', 100, 'prop')")
      .as[(String, Long)].collect().toMap
    val propScala = graft.ops.CorpusMix.temperatureBudgets(
        rows, "source", "n_tokens", 100L, alpha = "prop")
      .select("source", "budget").as[(String, Long)].collect().toMap
    assert(prop == propScala)
    val eAlpha = intercept[Exception] {
      spark.sql("SELECT * FROM graft_mix_temperature(" +
        s"'$base/docs', 'source', 'n_tokens', 100, 'cube')").collect()
    }
    assert(eAlpha.getMessage.contains("alpha"), eAlpha.getMessage)
    // importanceSample: SQL == Scala, negative scores loud through SQL.
    val is = spark.sql("SELECT doc_id, score, kept FROM " +
        s"graft_importance_sample('$base/docs', 'doc_id', 'n_tokens', 8)")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    val isScala = graft.ops.CorpusMix.importanceSample(
        rows, "doc_id", "n_tokens", 8L)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(is.toSeq == isScala.toSeq && is.length == 200)
    assert(is.exists(_._3) && is.exists(!_._3), "a real mixture")
    Seq((1L, -5L)).toDF("doc_id", "sc").write.parquet(base + "/neg")
    val eNeg = intercept[Exception] {
      spark.sql("SELECT * FROM graft_importance_sample(" +
        s"'$base/neg', 'doc_id', 'sc', 8)").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(eNeg).exists(_.contains("negative score")), s"$eNeg")
    graft.GraftCaches.clearAll()
  }

  test("graft_split_assign from SQL: ordered csv weights, grouped form, loud misuse") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-split-").toString
    (0L until 100L).map(i => (i, s"dom${i % 5}"))
      .toDF("doc_id", "source").write.parquet(base + "/docs")
    val got = spark.sql("SELECT doc_id, split FROM graft_split_assign(" +
        s"'$base/docs', 'doc_id', 'train:80,val:10,test:10')")
      .as[(Long, String)].collect().sortBy(_._1)
    val scala0 = graft.ops.CorpusMix.splitAssign(
        spark.read.parquet(base + "/docs"), "doc_id",
        Seq(("train", 80L), ("val", 10L), ("test", 10L)))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == scala0.toSeq && got.length == 100)
    val grouped = spark.sql("SELECT doc_id, source, split FROM " +
        s"graft_split_assign('$base/docs', 'doc_id', 'a:1,b:1', 'source')")
      .as[(Long, String, String)].collect()
    assert(grouped.groupBy(_._2).values.forall(_.map(_._3).toSet.size == 1),
      "grouped TVF form must keep each domain in one split")
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_split_assign(" +
        s"'$base/docs', 'doc_id', 'train=80')").collect()
    }
    assert(e.getMessage.contains("name:integer_weight"), e.getMessage)
    graft.GraftCaches.clearAll()
  }

  test("graft_decontaminate_multi / graft_cluster_drift from SQL: Scala parity") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-dm-").toString
    val passage = "the quick brown fox jumps over the lazy dog tonight"
    Seq((1L, passage), (2L, "unrelated training text about joins and scans"))
      .toDF("doc_id", "text").write.parquet(base + "/train")
    Seq(("setA", passage)).toDF("set_name", "text")
      .write.parquet(base + "/evals")
    val got = spark.sql("SELECT doc_id, set_name, contaminated FROM " +
        s"graft_decontaminate_multi('$base/train', '$base/evals', 0.3)")
      .as[(Long, String, Boolean)].collect().toSeq
    assert(got == Seq((1L, "setA", true)), s"$got")
    // cluster_drift: stored model + two parquet sides through SQL equals
    // the Scala call.
    def v(b: Double, j: Int): Array[Float] =
      Array.tabulate(4)(d => (b + 0.01 * j + d * 0.001).toFloat)
    val all = ((0 until 8).map(j => (j.toLong, v(0.0, j))) ++
      (8 until 16).map(j => (j.toLong, v(5.0, j)))).toDF("vec_id", "embedding")
    graft.functions.IVF.embedClustersTrain(all, nlist = 2)
      .write(base + "/cm")
    all.filter($"vec_id" < 6).write.parquet(base + "/va")
    all.filter($"vec_id" >= 6).write.parquet(base + "/vb")
    val cd = spark.sql("SELECT cluster, cnt_a, cnt_b, drift FROM " +
        s"graft_cluster_drift('$base/cm', '$base/va', '$base/vb', 50)")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val cdScala = graft.functions.IVF.clusterDrift(
        graft.functions.IVF.ClusterModel.read(spark, base + "/cm"),
        spark.read.parquet(base + "/va"), spark.read.parquet(base + "/vb"), 50)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(cd == cdScala && cd.nonEmpty, s"$cd vs $cdScala")
    // chunk novelty against a persisted chunk-index directory from SQL.
    val corpus = Seq((100L, passage)).toDF("doc_id", "text")
    graft.functions.Dedup.chunkIndexAppend(
      corpus, "doc_id", "text", base + "/ci", "e1")
    Seq((1L, passage), (2L, "wholly new never indexed words right here"))
      .toDF("doc_id", "text").write.parquet(base + "/nbatch")
    val nov = spark.sql("SELECT doc_id, novel_frac FROM " +
        s"graft_chunk_novelty('$base/nbatch', '$base/ci')")
      .as[(Long, Double)].collect().toMap
    assert(nov == Map(1L -> 0.0, 2L -> 1.0), s"TVF novelty: $nov")
    // Energy audit from SQL equals the Scala pass.
    val en = spark.sql("SELECT vec_id, head_frac FROM " +
        s"graft_embed_energy('$base/va', 2)")
      .as[(Long, Double)].collect().sortBy(_._1)
    val enScala = graft.functions.Vectors.embedEnergyStats(
        spark.read.parquet(base + "/va"), headDims = 2)
      .collect().map(s => (s.vec_id, s.head_frac)).sortBy(_._1)
    assert(en.toSeq == enScala.toSeq && en.nonEmpty)
    graft.GraftCaches.clearAll()
  }

  test("graft TVFs reject wrong arity and non-literal arguments") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft_neardup('/nowhere', 'id')").collect()
    }
    assert(e.getMessage.toLowerCase.contains("graft_neardup"))
    // Every declared entry: 20 arguments is no entry's arity, and the
    // standard error names the function.
    val twenty = Seq.fill(20)("1").mkString(", ")
    val tvfs = GraftExtensions.tableFunctions.map(_._1.funcName)
    assert(tvfs.size == 59 && tvfs.distinct.size == 59, s"$tvfs")
    for (fn <- tvfs) {
      val ea = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT * FROM $fn($twenty)").collect()
      }
      assert(ea.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION" &&
        ea.getMessage.contains(s"`$fn`"), s"$fn: ${ea.getMessage}")
    }
    for (fn <- GraftExtensions.functions.map(_._1.funcName)) {
      val ea = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $fn(array(1), array(1), array(1))").collect()
      }
      assert(ea.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION" &&
        ea.getMessage.contains(s"`$fn`"), s"$fn: ${ea.getMessage}")
    }
    // The arity error lists EVERY declared form, not just the first.
    val eIr = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft_index_report('a', 'b', 'c', 'd', " +
        "'e', 'f')").collect()
    }
    assert(eIr.getMessage.contains("3, 4 or 5"), eIr.getMessage)
    // Every declared shape reads its arguments through the one literal
    // reader before any other work: all-NULL calls either miss every
    // arity or fail naming the function and a parameter.
    import org.apache.spark.sql.catalyst.expressions.Literal
    for ((id, _, build) <- GraftExtensions.tableFunctions) {
      val fn = id.funcName
      val accepted = (0 to 13).filter { n =>
        try { build(Seq.fill(n)(Literal(null))); fail(s"$fn/$n built") }
        catch {
          case _: org.apache.spark.sql.AnalysisException => false
          case ia: IllegalArgumentException =>
            assert(ia.getMessage.matches(s"$fn: \\w+ must not be NULL"),
              s"$fn/$n: ${ia.getMessage}")
            true
        }
      }
      assert(accepted.nonEmpty, s"$fn accepts no arity in 0..13")
    }
    // Argument misuse: one IllegalArgumentException shape, naming the
    // function and the parameter.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tvf-args-")
      .toString + "/docs"
    Seq(1L -> "a b c d e f").toDF("doc_id", "text").write.parquet(dir)
    for ((call, msg) <- Seq(
        s"graft_neardup('$dir', 'doc_id', 'text', rand())" ->
          "graft_neardup: threshold must be a literal",
        s"graft_neardup('$dir', 'doc_id', NULL, 0.7)" ->
          "graft_neardup: text_col must not be NULL",
        s"graft_neardup('$dir', 'doc_id', 'text', 'high')" ->
          "graft_neardup: threshold must be numeric",
        "graft_neardup(5, 'doc_id', 'text', 0.7)" ->
          "graft_neardup: path must be a string",
        s"graft_curate('$dir', 3000000000)" ->
          "graft_curate: num_shards must fit in INT")) {
      val ia = intercept[IllegalArgumentException] {
        spark.sql(s"SELECT * FROM $call").collect()
      }
      assert(ia.getMessage.startsWith(msg), s"$call: ${ia.getMessage}")
    }
  }

  test("graft_dot via extensions rejects wrong arity with the standard error") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_dot(array(1.0d))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("graft_dot"))
  }

  test("graft_quality_gopher / graft_source_cap / graft_bm25 / graft_embed_cluster from SQL") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-r10-").toString
    val filler = (1 to 60).map(i => Seq("the", "river", "of", "ancient",
      "stories")(i % 5)).mkString(" ")
    Seq(
      (1L, s"spark $filler", "a"), (2L, s"spark merge $filler", "a"),
      (3L, filler, "a"), (4L, s"merge $filler", "b"))
      .toDF("doc_id", "text", "src").write.parquet(base + "/docs")
    // Gopher: the 60-token stopworded docs pass; flags ride through SQL.
    val gq = spark.sql("SELECT doc_id, passes FROM graft_quality_gopher(" +
        s"'$base/docs', 'doc_id', 'text')")
      .as[(Long, Boolean)].collect().toMap
    assert(gq.size == 4 && gq.values.forall(identity), s"$gq")
    // Source cap: 'a' capped at 2 keeps docs 1-2, flags 3; 'b' under cap.
    val sc = spark.sql("SELECT doc_id, kept FROM graft_source_cap(" +
        s"'$base/docs', 'doc_id', 'src', 2)")
      .as[(Long, Boolean)].collect().toMap
    assert(sc == Map(1L -> true, 2L -> true, 3L -> false, 4L -> true), s"$sc")
    // BM25: the two-term doc must rank first; csv terms parse.
    val bm = spark.sql("SELECT doc_id, rank FROM graft_bm25(" +
        s"'$base/docs', 'doc_id', 'text', 'spark, merge', 10)")
      .as[(Long, Long)].collect().toMap
    assert(bm(2L) == 1L && !bm.contains(3L), s"$bm")
    // Batch form: each query's slice equals the single-query Scala run.
    Seq((1L, Seq("spark", "merge")), (2L, Seq("merge")))
      .toDF("query_id", "terms").write.parquet(base + "/queries")
    val bmb = spark.sql("SELECT query_id, doc_id, rank FROM " +
        s"graft_bm25_batch('$base/docs', 'doc_id', 'text', '$base/queries', 10)")
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    for ((qid, terms) <- Seq(1L -> Seq("spark", "merge"), 2L -> Seq("merge"))) {
      val single = graft.functions.TextFunctions.bm25TopK(
          spark.read.parquet(base + "/docs"), "doc_id", "text", terms, 10)
        .select("doc_id", "rank").as[(Long, Long)].collect()
        .map { case (d, r) => (qid, d, r) }.toSeq.sortBy(_._3)
      assert(bmb(qid).toSeq.sortBy(_._3) == single,
        s"batch TVF drifted from single-query for $qid")
    }
    // The 3-arg persisted form ranks against the stored Bm25BatchModel
    // and must equal the live 5-arg run bit-for-bit.
    graft.functions.TextFunctions.bm25BatchTrain(
        spark.read.parquet(base + "/docs"), "doc_id", "text",
        spark.read.parquet(base + "/queries"))
      .write(base + "/bm25bm")
    val bmbStored = spark.sql("SELECT query_id, doc_id, rank FROM " +
        s"graft_bm25_batch('$base/docs', '$base/bm25bm', 10)")
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3))
    assert(bmbStored.toSeq ==
      bmb.values.flatten.toSeq.sortBy(r => (r._1, r._3)),
      s"stored-model batch TVF drifted: ${bmbStored.toSeq}")
    // Embed cluster: two blobs split at nlist = 2, sizes partition.
    ((0 until 4).map(j => (j.toLong, Array.tabulate(4)(d => (0.01f * j + 0.001f * d)))) ++
      (4 until 8).map(j => (j.toLong, Array.tabulate(4)(d => (5f + 0.01f * j + 0.001f * d)))))
      .toDF("vec_id", "embedding").write.parquet(base + "/emb")
    val ec = spark.sql(
        s"SELECT vec_id, cluster, cluster_size FROM graft_embed_cluster('$base/emb', 2)")
      .as[(Long, Long, Long)].collect()
    assert(ec.length == 8 && ec.forall(_._3 == 4))
    assert(ec.filter(_._1 < 4).map(_._2).toSet.size == 1)
    // Cluster-balanced draw: 3 per cell caps the 4-blobs at 3 each.
    val cs = spark.sql(
        s"SELECT vec_id, cluster, rk FROM graft_cluster_sample('$base/emb', 3, 2)")
      .as[(Long, Long, Long)].collect()
    assert(cs.groupBy(_._2).values.map(_.length).toSet == Set(3), s"${cs.toSeq}")
    // Persisted-quantizer forms (STRING second argument dispatches to
    // the stored ClusterModel): bit-identical to the live calls.
    graft.functions.IVF.embedClustersTrain(
        spark.read.parquet(base + "/emb"), nlist = 2)
      .write(base + "/cm")
    val ecm = spark.sql(
        s"SELECT vec_id, cluster, cluster_size FROM graft_embed_cluster(" +
          s"'$base/emb', '$base/cm')")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(ecm.toSeq == ec.sortBy(_._1).toSeq,
      s"stored-model TVF drifted from live: ${ecm.toSeq} vs ${ec.sortBy(_._1).toSeq}")
    val csm = spark.sql(
        s"SELECT vec_id, cluster, rk FROM graft_cluster_sample(" +
          s"'$base/emb', '$base/cm', 3)")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(csm.toSeq == cs.sortBy(_._1).toSeq,
      s"stored-model draw drifted from live: ${csm.toSeq}")
    // Per-dim audit from SQL: 4 dims, every vector contributes.
    val dimStats = spark.sql(
        s"SELECT dim, n_vecs FROM graft_embed_dim_stats('$base/emb')")
      .as[(Long, Long)].collect().toMap
    assert(dimStats == (0L to 3L).map(_ -> 8L).toMap, s"$dimStats")
    // Keep-best consolidation: docs 1-2 share text (1 kept on the id
    // tie); every doc reports exactly one row.
    Seq((1L, "the quick brown fox jumps over the lazy dog near the bank"),
        (2L, "the quick brown fox jumps over the lazy dog near the bank"),
        (3L, "totally unrelated content standing alone in its own cluster"))
      .toDF("doc_id", "text").write.parquet(base + "/kb")
    val kb = spark.sql("SELECT doc_id, kept FROM graft_dedup_keep_best(" +
        s"'$base/kb', 'doc_id', 'text', 0.7)")
      .as[(Long, Boolean)].collect().toMap
    assert(kb == Map(1L -> true, 2L -> false, 3L -> true), s"$kb")
    // Arity errors stay loud and name the function.
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_bm25('$base/docs', 'doc_id')").collect()
    }
    assert(e.getMessage.toLowerCase.contains("graft_bm25"))
  }

  test("graft_pack_report runs the packing audit from SQL: Scala parity + loud misuse") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-pack-").toString
    (1L to 40L).map(i => (i, (1 to (i % 7 + 3).toInt)
        .map(j => s"tok${(i + j) % 11}").mkString(" ")))
      .toDF("doc_id", "text").write.parquet(base + "/docs")
    val sqlRows = spark.sql("SELECT shard, n_docs, total_tokens, n_seqs, " +
        s"split_docs, fill_frac FROM graft_pack_report('$base/docs', " +
        "'doc_id', 'text', 4, 16) ORDER BY shard")
      .collect().map(_.toSeq)
    val scalaRows = graft.ops.TrainShuffle.packReport(
        graft.ops.TrainShuffle.seqPack(
          spark.read.parquet(base + "/docs"), "doc_id", "text",
          numShards = 4, budget = 16),
        budget = 16)
      .orderBy("shard").collect().map(_.toSeq)
    assert(sqlRows.nonEmpty && sqlRows.toSeq == scalaRows.toSeq,
      s"TVF drifted from the Scala call: ${sqlRows.toSeq} vs ${scalaRows.toSeq}")
    // Misuse stays loud: wrong arity names the function; a non-positive
    // budget hits the operator's own require.
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_pack_report('$base/docs', 'doc_id')")
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("graft_pack_report"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM graft_pack_report(" +
        s"'$base/docs', 'doc_id', 'text', 4, 0)").collect()
    }
    assert(e2.getMessage.contains("budget must be positive"), s"$e2")
  }

  test("graft_fim_transform / graft_shuffle_audit from SQL: Scala parity + loud misuse") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-fim-").toString
    (1L to 60L).map(i => (i, (1 to (i % 7 + 2).toInt)
        .map(j => s"tok${(i + j) % 9}").mkString(" "), s"src${i % 3}"))
      .toDF("doc_id", "text", "source").write.parquet(base + "/docs")
    val sqlFim = spark.sql("SELECT doc_id, fim_applied, n_chars, cut_lo, " +
        s"cut_hi, psm FROM graft_fim_transform('$base/docs', 'doc_id', " +
        "'text', 2500) ORDER BY doc_id").collect().map(_.toSeq)
    val scalaFim = graft.ops.FimTransform.fimSplit(
        spark.read.parquet(base + "/docs"), "doc_id", "text", rateBp = 2500)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(sqlFim.nonEmpty && sqlFim.toSeq == scalaFim.toSeq,
      "graft_fim_transform drifted from the Scala call")
    val sqlAud = spark.sql("SELECT shard, n_docs, n_groups, n_runs, " +
        s"max_run, interleave FROM graft_shuffle_audit('$base/docs', " +
        "'doc_id', 'source', 4) ORDER BY shard").collect().map(_.toSeq)
    val scalaAud = graft.ops.TrainShuffle.shuffleAudit(
        spark.read.parquet(base + "/docs"), "doc_id", "source",
        numShards = 4)
      .orderBy("shard").collect().map(_.toSeq)
    assert(sqlAud.nonEmpty && sqlAud.toSeq == scalaAud.toSeq,
      "graft_shuffle_audit drifted from the Scala call")
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_fim_transform(" +
        s"'$base/docs', 'doc_id', 'text', 10001)").collect()
    }
    assert(e.getMessage.contains("rateBp"), s"$e")
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_shuffle_audit('$base/docs')").collect()
    }
    assert(e2.getMessage.toLowerCase.contains("graft_shuffle_audit"))
  }

  test("round-15 TVFs from SQL: segments/epoch/fertility/digest/hybrid parity + loud misuse") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-r15-").toString
    val docsDf = (1L to 60L).map(i => (i, (1 to (i % 7 + 2).toInt)
        .map(j => s"tok${(i + j) % 9}").mkString(" "), s"lang${i % 3}"))
      .toDF("doc_id", "text", "lang")
    docsDf.write.parquet(base + "/docs")
    val docs = spark.read.parquet(base + "/docs")
    // pack_segments
    val sqlSeg = spark.sql("SELECT shard, seq, doc_id, seg_start, " +
        s"seg_len, doc_off FROM graft_pack_segments('$base/docs', " +
        "'doc_id', 'text', 4, 8) ORDER BY shard, seq, seg_start")
      .collect().map(_.toSeq)
    val scalaSeg = graft.ops.TrainShuffle.packSegments(docs, "doc_id",
        "text", numShards = 4, budget = 8)
      .orderBy("shard", "seq", "seg_start").collect().map(_.toSeq)
    assert(sqlSeg.nonEmpty && sqlSeg.toSeq == scalaSeg.toSeq,
      "graft_pack_segments drifted from the Scala call")
    // epoch_shuffle
    val sqlEp = spark.sql("SELECT epoch_a, epoch_b, n_adj_a, n_adj_b, " +
        s"n_repeat FROM graft_epoch_shuffle('$base/docs', 'doc_id', 4, 3) " +
        "ORDER BY epoch_a, epoch_b").collect().map(_.toSeq)
    val scalaEp = graft.ops.TrainShuffle.epochOrderAudit(docs, "doc_id",
        4, Seq("epoch0", "epoch1", "epoch2"))
      .orderBy("epoch_a", "epoch_b").collect().map(_.toSeq)
    assert(sqlEp.length == 3 && sqlEp.toSeq == scalaEp.toSeq,
      "graft_epoch_shuffle drifted from the Scala call")
    // fertility + pack digest share a persisted model
    val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 8)
    model.write(base + "/tok")
    val stored = graft.functions.Bpe.TokenizerModel.read(spark, base + "/tok")
    val sqlFert = spark.sql("SELECT lang, n_docs, n_words, n_tokens_bpe, " +
        s"n_chars, fertility, chars_per_token FROM graft_bpe_fertility(" +
        s"'$base/docs', 'text', 'lang', '$base/tok') ORDER BY lang")
      .collect().map(_.toSeq)
    val scalaFert = graft.functions.Bpe.fertilityReport(docs, "text",
        "lang", stored).orderBy("lang").collect().map(_.toSeq)
    assert(sqlFert.length == 3 && sqlFert.toSeq == scalaFert.toSeq,
      "graft_bpe_fertility drifted from the Scala call")
    val sqlDig = spark.sql("SELECT shard, n_seqs, n_ids, sum_digest, " +
        s"xor_digest FROM graft_pack_digest('$base/docs', 'doc_id', " +
        s"'text', '$base/tok', 4, 8) ORDER BY shard").collect().map(_.toSeq)
    val scalaDig = graft.ops.TrainShuffle.packDigest(
        graft.ops.TrainShuffle.packIdSequences(docs, "doc_id", "text",
          stored, numShards = 4, budget = 8),
        budget = 8).orderBy("shard").collect().map(_.toSeq)
    assert(sqlDig.length == 4 && sqlDig.toSeq == scalaDig.toSeq,
      "graft_pack_digest drifted from the Scala call")
    // hybrid: embeddings keyed by query ids + a 2-query terms batch
    (1L to 60L).map(i => (i,
        Array.tabulate(8)(d => math.sin(i * 3 + d).toFloat)))
      .toDF("vec_id", "embedding").write.parquet(base + "/emb")
    Seq((1L, Seq("tok1", "tok2")), (2L, Seq("tok3", "tok4", "tok5")))
      .toDF("query_id", "terms").write.parquet(base + "/queries")
    val sqlHy = spark.sql("SELECT query_id, doc_id, rrf_micro, " +
        s"n_rankers, rank FROM graft_hybrid_topk('$base/docs', 'doc_id', " +
        s"'text', '$base/emb', '$base/queries', 5, 10) " +
        "ORDER BY query_id, rank").collect().map(_.toSeq)
    val scalaHy = graft.functions.Hybrid.hybridTopK(docs, "doc_id",
        "text", spark.read.parquet(base + "/emb"),
        spark.read.parquet(base + "/queries"), k = 5, kPer = 10)
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    assert(sqlHy.nonEmpty && sqlHy.toSeq == scalaHy.toSeq,
      "graft_hybrid_topk drifted from the Scala call")
    // loud misuse: arity + a dead epoch count
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_epoch_shuffle('$base/docs', " +
        "'doc_id', 4, 1)").collect()
    }
    assert(e.getMessage.contains("epochs"), s"$e")
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_hybrid_topk('$base/docs')").collect()
    }
    assert(e2.getMessage.toLowerCase.contains("graft_hybrid_topk"))
  }

  test("round-16 TVFs from SQL: bin-digest validator (both kinds), stored hybrid, salted pack digest") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-r16-").toString
    val docsDf = (1L to 60L).map(i => (i, (1 to (i % 7 + 2).toInt)
        .map(j => s"tok${(i + j) % 9}").mkString(" ")))
      .toDF("doc_id", "text")
    docsDf.write.parquet(base + "/docs")
    val docs = spark.read.parquet(base + "/docs")
    val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 8)
    model.write(base + "/tok")
    val stored = graft.functions.Bpe.TokenizerModel.read(spark, base + "/tok")
    // graft_bin_digest over a PACKED export: the TVF reads the .bin/.idx
    // bytes and must equal the relational frame's digest rows.
    val packed = graft.ops.TrainShuffle.packIdSequences(docs, "doc_id",
      "text", stored, numShards = 4, budget = 8)
    graft.sources.BinShards.write(packed, base + "/bin", 8, 4)
    val sqlBin = spark.sql("SELECT shard, n_seqs, n_ids, sum_digest, " +
        s"xor_digest FROM graft_bin_digest('$base/bin') ORDER BY shard")
      .collect().map(_.toSeq)
    val scalaBin = graft.ops.TrainShuffle.packDigest(packed, 8)
      .orderBy("shard").collect().map(_.toSeq)
    assert(sqlBin.length == 4 && sqlBin.toSeq == scalaBin.toSeq,
      "graft_bin_digest (packed) drifted from the frame digest")
    // Kind dispatch on the commit marker: an SFT dir emits the no-split
    // digest shape, boundary-starts checksum included.
    val nos = graft.ops.TrainShuffle.packNoSplitIds(docs, "doc_id",
      "text", stored, numShards = 4, budget = 32)
    graft.sources.BinShards.writeNoSplit(nos, base + "/sft", 32, 4)
    val sqlSft = spark.sql("SELECT shard, n_bins, n_docs, n_ids, " +
        "sum_digest, xor_digest, starts_digest FROM " +
        s"graft_bin_digest('$base/sft') ORDER BY shard")
      .collect().map(_.toSeq)
    val scalaSft = graft.ops.TrainShuffle.packNoSplitDigest(nos, 32)
      .orderBy("shard").collect().map(_.toSeq)
    assert(sqlSft.length == 4 && sqlSft.toSeq == scalaSft.toSeq,
      "graft_bin_digest (sft) drifted from the frame digest")
    // A marker-less (torn/foreign) dir fails loud.
    val eTorn = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_bin_digest('$base/docs')").collect()
    }
    assert(eTorn.getMessage.contains("_BIN_COMMIT"), s"$eTorn")
    // graft_bin_read: the artifact back as rows (both kinds), and the
    // point-lookup arity equals the full read's row.
    val sqlRead = spark.sql("SELECT shard, seq, ids, n_ids FROM " +
        s"graft_bin_read('$base/bin') ORDER BY shard, seq")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Int](2).toList, r.getLong(3)))
    val scalaRead = packed.orderBy("shard", "seq")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Int](2).toList, r.getLong(3)))
    assert(sqlRead.nonEmpty && sqlRead.toSeq == scalaRead.toSeq,
      "graft_bin_read drifted from the packed frame")
    val sqlReadSft = spark.sql(
        s"SELECT count(*) AS n FROM graft_bin_read('$base/sft')")
      .collect()(0).getLong(0)
    assert(sqlReadSft == nos.count(),
      "graft_bin_read sft kind-dispatch drifted")
    val (lkShard, lkSeq) = (sqlRead.head._1, sqlRead.head._2)
    val sqlPoint = spark.sql("SELECT ids FROM graft_bin_read(" +
        s"'$base/bin', $lkShard, $lkSeq)")
      .collect()(0).getSeq[Int](0).toList
    assert(sqlPoint == sqlRead.head._3,
      "graft_bin_read point lookup drifted from the full read")
    // The SFT point lookup (kind-dispatched 3-arg form): bin k with
    // its starts, equal to the bulk read's row.
    val sftFull = spark.sql("SELECT shard, bin, ids, n_ids, n_docs, " +
        s"starts FROM graft_bin_read('$base/sft') " +
        "ORDER BY shard, bin").collect()
    val sftPoint = spark.sql("SELECT * FROM graft_bin_read(" +
        s"'$base/sft', ${sftFull.head.getLong(0)}, " +
        s"${sftFull.head.getLong(1)})").collect()
    assert(sftPoint.length == 1 &&
      sftPoint.head.getSeq[Int](2) == sftFull.head.getSeq[Int](2) &&
      sftPoint.head.getSeq[Long](5) == sftFull.head.getSeq[Long](5),
      "graft_bin_read sft point lookup drifted from the full read")
    // graft_bin_manifest: the marker identity row, both kinds — a
    // writer that stamped no tokenizer identity yields NULL identity
    // columns, epochs=-1 (not a managed family root).
    assert(spark.sql(s"SELECT * FROM graft_bin_manifest('$base/bin')")
      .collect().map(_.toSeq).toSeq ==
      Seq(Seq("packed", 1L, 8L, 4L, -1L, null, null, null, "")),
      "packed manifest row drifted")
    assert(spark.sql(s"SELECT * FROM graft_bin_manifest('$base/sft')")
      .collect().map(_.toSeq).toSeq ==
      Seq(Seq("sft", 1L, 32L, 4L, -1L, null, null, null, "")),
      "sft manifest row drifted")
    // The COMPLETE SQL-only loop: graft_bin_export writes the artifact
    // (both kinds), and the validator TVFs over the SQL-written dir
    // agree with the Scala-written one bit-for-bit.
    val expRow = spark.sql("SELECT * FROM graft_bin_export(" +
        s"'$base/docs', 'doc_id', 'text', '$base/tok', 4, 8, " +
        s"'$base/sqlbin')").collect().map(_.toSeq)
    assert(expRow.toSeq == Seq(Seq("packed", 1L, 8L, 4L)),
      s"graft_bin_export report drifted: ${expRow.toSeq}")
    assert(spark.sql(s"SELECT * FROM graft_bin_digest('$base/sqlbin') " +
        "ORDER BY shard").collect().map(_.toSeq).toSeq == scalaBin.toSeq,
      "the SQL-exported artifact's digests drifted from the frame's")
    val expSft = spark.sql("SELECT * FROM graft_bin_export(" +
        s"'$base/docs', 'doc_id', 'text', '$base/tok', 4, 32, " +
        s"'$base/sqlsft', 'sft')").collect().map(_.toSeq)
    assert(expSft.toSeq == Seq(Seq("sft", 1L, 32L, 4L)),
      s"sft export report drifted: ${expSft.toSeq}")
    assert(spark.sql(s"SELECT * FROM graft_bin_digest('$base/sqlsft') " +
        "ORDER BY shard").collect().map(_.toSeq).toSeq == scalaSft.toSeq,
      "the SQL-exported sft artifact's digests drifted")
    val eKind = intercept[Exception] {
      spark.sql("SELECT * FROM graft_bin_export(" +
        s"'$base/docs', 'doc_id', 'text', '$base/tok', 4, 8, " +
        s"'$base/sqlbad', 'nope')").collect()
    }
    assert(eKind.getMessage.contains("kind"), s"$eKind")
    // Resume from SQL: tear a pair + the marker, resume, digests heal.
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(base, "sqlbin", "_BIN_COMMIT"))
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(base, "sqlbin", "shard-00001.bin"))
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(base, "sqlbin", "shard-00001.idx"))
    val resRow = spark.sql("SELECT * FROM graft_bin_export(" +
        s"'$base/docs', 'doc_id', 'text', '$base/tok', 4, 8, " +
        s"'$base/sqlbin', 'packed', 'resume')").collect().map(_.toSeq)
    assert(resRow.toSeq == Seq(Seq("packed", 1L, 8L, 4L)), s"$resRow")
    assert(spark.sql(s"SELECT * FROM graft_bin_digest('$base/sqlbin') " +
        "ORDER BY shard").collect().map(_.toSeq).toSeq == scalaBin.toSeq,
      "the SQL-resumed artifact's digests drifted")
    // SFT resume from SQL (round 17 — the API-symmetry gap closed):
    // tear a pair + the marker, resume, digests heal bit-for-bit.
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(base, "sqlsft", "_BIN_COMMIT"))
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(base, "sqlsft", "sft-00002.bin"))
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(base, "sqlsft", "sft-00002.idx"))
    val resSft = spark.sql("SELECT * FROM graft_bin_export(" +
        s"'$base/docs', 'doc_id', 'text', '$base/tok', 4, 32, " +
        s"'$base/sqlsft', 'sft', 'resume')").collect().map(_.toSeq)
    assert(resSft.toSeq == Seq(Seq("sft", 1L, 32L, 4L)), s"$resSft")
    assert(spark.sql(s"SELECT * FROM graft_bin_digest('$base/sqlsft') " +
        "ORDER BY shard").collect().map(_.toSeq).toSeq == scalaSft.toSeq,
      "the SQL-resumed sft artifact's digests drifted")
    // The exporter TVF stamps tokenizer identity: the manifest over a
    // SQL-written dir surfaces vocab_size/alphabet/pretok + the model
    // content fingerprint — artifact-only wrong-vocab detection.
    val man = spark.sql("SELECT kind, epochs, vocab_size, alphabet, " +
        s"pretok, identity FROM graft_bin_manifest('$base/sqlbin')")
      .collect().head
    assert(man.getString(0) == "packed" && man.getLong(1) == -1L &&
      man.getLong(2) == stored.vocab.length.toLong &&
      man.getString(3) == stored.alphabet &&
      man.getString(4) == stored.pretok &&
      man.getString(5).contains("model_fp="),
      s"exporter-stamped manifest identity drifted: ${man.toSeq}")
    // Salted pack digest (7-arg): equals the epochExport rows for that
    // salt — the SQL route to a multi-epoch export's digests.
    val sqlSalt = spark.sql("SELECT shard, n_seqs, n_ids, sum_digest, " +
        s"xor_digest FROM graft_pack_digest('$base/docs', 'doc_id', " +
        s"'text', '$base/tok', 4, 8, 'epoch1') ORDER BY shard")
      .collect().map(_.toSeq)
    val scalaSalt = graft.ops.TrainShuffle.packDigest(
        graft.ops.TrainShuffle.packIdSequences(docs, "doc_id", "text",
          stored, numShards = 4, budget = 8, salt = "epoch1"),
        budget = 8).orderBy("shard").collect().map(_.toSeq)
    assert(sqlSalt.length == 4 && sqlSalt.toSeq == scalaSalt.toSeq,
      "graft_pack_digest salted form drifted from the Scala call")
    assert(sqlSalt.toSeq != sqlBin.toSeq.map(_.take(5)),
      "different salts must produce different layouts")
    // Stored hybrid (5-arg): both rankers from persisted artifacts,
    // value-identical to the live 7-arg form and to the Scala call.
    (1L to 60L).map(i => (i,
        Array.tabulate(8)(d => math.sin(i * 3 + d).toFloat)))
      .toDF("vec_id", "embedding").write.parquet(base + "/emb")
    val queries = Seq((1L, Seq("tok1", "tok2")),
      (2L, Seq("tok3", "tok4", "tok5"))).toDF("query_id", "terms")
    graft.functions.TextFunctions.bm25BatchTrain(docs, "doc_id", "text",
      queries).write(base + "/bm25")
    graft.functions.IVF.buildIvfIndex(
      spark.read.parquet(base + "/emb")).write(base + "/ivf")
    val sqlHyStored = spark.sql("SELECT query_id, doc_id, rrf_micro, " +
        s"n_rankers, rank FROM graft_hybrid_topk('$base/docs', " +
        s"'$base/bm25', '$base/ivf', 5, 10) ORDER BY query_id, rank")
      .collect().map(_.toSeq)
    val scalaHyStored = graft.functions.Hybrid.hybridTopKIndexed(
        docs, "doc_id", "text",
        graft.functions.TextFunctions.Bm25BatchModel.read(
          spark, base + "/bm25"),
        graft.functions.IVF.IvfIndex.read(spark, base + "/ivf"),
        queries, k = 5, kPer = 10)
      .orderBy("query_id", "rank").collect().map(_.toSeq)
    assert(sqlHyStored.nonEmpty && sqlHyStored.toSeq == scalaHyStored.toSeq,
      "graft_hybrid_topk stored form drifted from the Scala call")
    queries.write.parquet(base + "/queries2")
    val sqlHyLive = spark.sql("SELECT query_id, doc_id, rrf_micro, " +
        s"n_rankers, rank FROM graft_hybrid_topk('$base/docs', 'doc_id', " +
        s"'text', '$base/emb', '$base/queries2', 5, 10) " +
        "ORDER BY query_id, rank")
    assert(sqlHyLive.collect().map(_.toSeq).toSeq == sqlHyStored.toSeq,
      "stored and live hybrid forms must be value-identical")
    // Wrong arity stays loud.
    val eAr = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_hybrid_topk('$base/docs', 1)")
        .collect()
    }
    assert(eAr.getMessage.toLowerCase.contains("graft_hybrid_topk"))
  }

  test("graft_pack_nosplit runs the no-split packer from SQL: both strategies, tokens_col, loud misuse") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-nosplit-").toString
    (1L to 40L).map(i => (i, (1 to (i % 9 + 2).toInt)
        .map(j => s"tok${(i + j) % 11}").mkString(" "), i % 5 + 1))
      .toDF("doc_id", "text", "cnt").write.parquet(base + "/docs")
    for (strategy <- Seq("firstfit", "nextfit")) {
      val sqlRows = spark.sql("SELECT doc_id, shard, n_tokens, truncated, " +
          s"bin, pos FROM graft_pack_nosplit('$base/docs', 'doc_id', " +
          s"'text', 4, 6, '', '$strategy') ORDER BY doc_id")
        .collect().map(_.toSeq)
      val scalaRows = graft.ops.TrainShuffle.packNoSplit(
          spark.read.parquet(base + "/docs"), "doc_id", "text",
          numShards = 4, budget = 6, strategy = strategy)
        .orderBy("doc_id")
        .select("doc_id", "shard", "n_tokens", "truncated", "bin", "pos")
        .collect().map(_.toSeq)
      assert(sqlRows.nonEmpty && sqlRows.toSeq == scalaRows.toSeq,
        s"$strategy TVF drifted from the Scala call")
    }
    // 6-arg tokens_col form budgets in the caller column.
    val tcRows = spark.sql("SELECT doc_id, n_tokens FROM " +
        s"graft_pack_nosplit('$base/docs', 'doc_id', 'text', 4, 6, 'cnt') " +
        "ORDER BY doc_id")
      .as[(Long, Long)].collect().toMap
    assert((1L to 40L).forall(i => tcRows(i) == i % 5 + 1),
      "tokens_col form must budget in the caller counts")
    // Misuse stays loud: arity, bad strategy, bad budget.
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_pack_nosplit('$base/docs')").collect()
    }
    assert(e.getMessage.toLowerCase.contains("graft_pack_nosplit"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM graft_pack_nosplit(" +
        s"'$base/docs', 'doc_id', 'text', 4, 6, '', 'bestfit')").collect()
    }
    assert(e2.getMessage.contains("strategy must be"), s"$e2")
    val e3 = intercept[Exception] {
      spark.sql("SELECT * FROM graft_pack_nosplit(" +
        s"'$base/docs', 'doc_id', 'text', 4, 0)").collect()
    }
    assert(e3.getMessage.contains("budget must be positive"), s"$e3")
  }

  test("graft_bpe_train/encode/count run the tokenizer from SQL; tokens_col pack form") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-bpe-").toString
    Seq((1L, "low low lower newest"), (2L, "newest newest widest low"),
        (3L, "widest lowest low lower"))
      .toDF("doc_id", "text").write.parquet(base + "/docs")
    // Train from SQL: the merge table matches the Scala artifact.
    val sqlMerges = spark.sql("SELECT rank, lhs, rhs FROM graft_bpe_train(" +
        s"'$base/docs', 'text', 6) ORDER BY rank")
      .as[(Int, String, String)].collect().toSeq
    val model = graft.functions.Bpe.bpeTrain(
      spark.read.parquet(base + "/docs"), "text", numMerges = 6)
    assert(sqlMerges.map(m => (m._2, m._3)) == model.mergeList,
      s"SQL-trained merges drifted: $sqlMerges")
    // Persist, then score from SQL against the stored model: parity with
    // the Scala calls.
    model.write(base + "/tok")
    val sqlCounts = spark.sql("SELECT doc_id, n_tokens_bpe FROM " +
        s"graft_bpe_count('$base/docs', 'doc_id', 'text', '$base/tok')")
      .as[(Long, Long)].collect().toMap
    val scalaCounts = graft.functions.Bpe.bpeCount(
        spark.read.parquet(base + "/docs"), "doc_id", "text", model)
      .as[(Long, Long)].collect().toMap
    assert(sqlCounts == scalaCounts && sqlCounts.size == 3, s"$sqlCounts")
    val sqlEnc = spark.sql("SELECT doc_id, tokens FROM graft_bpe_encode(" +
        s"'$base/docs', 'doc_id', 'text', '$base/tok')")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    assert(sqlEnc.keySet == Set(1L, 2L, 3L) &&
      sqlEnc.values.forall(_.nonEmpty), s"$sqlEnc")
    // The tokens_col pack form budgets in the model counts: write the
    // joined frame, audit it, compare with the Scala composition.
    spark.read.parquet(base + "/docs")
      .join(graft.functions.Bpe.bpeCount(
        spark.read.parquet(base + "/docs"), "doc_id", "text", model),
        Seq("doc_id"))
      .write.parquet(base + "/docs_tok")
    val sqlPack = spark.sql("SELECT * FROM graft_pack_report(" +
        s"'$base/docs_tok', 'doc_id', 'text', 2, 8, 'n_tokens_bpe') " +
        "ORDER BY shard").collect().map(_.toSeq)
    val scalaPack = graft.ops.TrainShuffle.packReport(
        graft.ops.TrainShuffle.seqPack(
          spark.read.parquet(base + "/docs_tok"), "doc_id", "text",
          numShards = 2, budget = 8, tokensCol = "n_tokens_bpe"),
        budget = 8).orderBy("shard").collect().map(_.toSeq)
    assert(sqlPack.toSeq == scalaPack.toSeq, s"${sqlPack.toSeq}")
    // The training alphabet travels IN the TVF output (constant
    // column): a byte-trained merge table is visibly byte-level in
    // SQL, not a marker-less frame that reads back as char.
    val alpha = spark.sql("SELECT DISTINCT alphabet FROM graft_bpe_train(" +
        s"'$base/docs', 'text', 6, 'byte')").as[String].collect().toSeq
    assert(alpha == Seq("byte"), s"$alpha")
    assert(spark.sql("SELECT DISTINCT alphabet FROM graft_bpe_train(" +
        s"'$base/docs', 'text', 6)").as[String].collect().toSeq ==
      Seq("char"))
    // The 5-arg persisting form writes the FULL TokenizerModel layout
    // (meta marker + symbols + merges + commit) — the artifact the
    // scoring TVFs read with the RIGHT alphabet; byte counts via SQL
    // match the Scala byte model end-to-end.
    spark.sql("SELECT count(*) FROM graft_bpe_train(" +
        s"'$base/docs', 'text', 6, 'byte', '$base/tok_byte')").collect()
    val stored = graft.functions.Bpe.TokenizerModel.read(
      spark, base + "/tok_byte")
    assert(stored.alphabet == graft.functions.Bpe.AlphabetByte &&
      stored.vocab.nonEmpty, "persisted TVF model lost its alphabet/vocab")
    val byteModel = graft.functions.Bpe.bpeTrain(
      spark.read.parquet(base + "/docs"), "text", numMerges = 6,
      alphabet = graft.functions.Bpe.AlphabetByte)
    val sqlByteCounts = spark.sql("SELECT doc_id, n_tokens_bpe FROM " +
        s"graft_bpe_count('$base/docs', 'doc_id', 'text', '$base/tok_byte')")
      .as[(Long, Long)].collect().toMap
    val scalaByteCounts = graft.functions.Bpe.bpeCount(
        spark.read.parquet(base + "/docs"), "doc_id", "text", byteModel)
      .as[(Long, Long)].collect().toMap
    assert(sqlByteCounts == scalaByteCounts,
      s"SQL-persisted byte model drifted: $sqlByteCounts vs $scalaByteCounts")
    // Misuse stays loud.
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_bpe_count('$base/docs', 'doc_id')")
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("graft_bpe_count"))
  }

  test("graft_bpe_encode_ids / graft_bpe_vocab / 6-arg pretok train from SQL") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-bpeids-").toString
    Seq((1L, "low low lower Newest"), (2L, "Newest newest, widest low!"),
        (3L, "widest lowest low-lower"))
      .toDF("doc_id", "text").write.parquet(base + "/docs")
    val model = graft.functions.Bpe.bpeTrain(
      spark.read.parquet(base + "/docs"), "text", numMerges = 6)
    model.write(base + "/tok")
    // encode-to-ids from SQL: exact id-sequence parity with the Scala call.
    val sqlIds = spark.sql("SELECT doc_id, token_ids, n_tokens_bpe FROM " +
        s"graft_bpe_encode_ids('$base/docs', 'doc_id', 'text', '$base/tok')")
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Int](1).toSeq, r.getLong(2)))).toMap
    val scalaIds = graft.functions.Bpe.bpeEncodeIds(
        spark.read.parquet(base + "/docs"), "doc_id", "text", model)
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Int](1).toSeq, r.getLong(2)))).toMap
    assert(sqlIds == scalaIds && sqlIds.size == 3, s"$sqlIds")
    // The vocab table from SQL is the model's id-ordered vocabulary.
    val sqlVocab = spark.sql(
        s"SELECT id, token FROM graft_bpe_vocab('$base/tok') ORDER BY id")
      .as[(Int, String)].collect().toSeq
    assert(sqlVocab == model.vocab.zipWithIndex.map(_.swap),
      s"vocab drift: ${sqlVocab.take(5)}...")
    // SQL-shipped ids decode through the vocab back to the normalized
    // text — the export contract a trainer-side consumer relies on.
    locally {
      import org.apache.spark.sql.functions.col
      sqlIds.foreach { case (id, (ids, _)) =>
        val txt = spark.read.parquet(base + "/docs")
          .filter(col("doc_id") === id).select("text").as[String].head()
        assert(model.decodeIds(ids) ==
          graft.functions.TextFunctions.normalizeScala(txt),
          s"doc $id ids did not decode to the normalized text")
      }
    }
    // 6-arg train: pretok mode persists in the model meta, surfaces as
    // a constant column, and the stored model counts like the Scala
    // pretok model.
    val pt = spark.sql("SELECT DISTINCT alphabet, pretok FROM graft_bpe_train(" +
        s"'$base/docs', 'text', 6, 'byte', '$base/tok_pt', 'split')")
      .as[(String, String)].collect().toSeq
    assert(pt == Seq(("byte", "split")), s"$pt")
    val storedPt = graft.functions.Bpe.TokenizerModel.read(
      spark, base + "/tok_pt")
    assert(storedPt.pretok == graft.functions.Bpe.PretokSplit &&
      storedPt.alphabet == graft.functions.Bpe.AlphabetByte,
      "6-arg TVF model lost its pretok/alphabet")
    val scalaPtModel = graft.functions.Bpe.bpeTrain(
      spark.read.parquet(base + "/docs"), "text", numMerges = 6,
      alphabet = graft.functions.Bpe.AlphabetByte,
      pretok = graft.functions.Bpe.PretokSplit)
    val sqlPtCounts = spark.sql("SELECT doc_id, n_tokens_bpe FROM " +
        s"graft_bpe_count('$base/docs', 'doc_id', 'text', '$base/tok_pt')")
      .as[(Long, Long)].collect().toMap
    val scalaPtCounts = graft.functions.Bpe.bpeCount(
        spark.read.parquet(base + "/docs"), "doc_id", "text", scalaPtModel)
      .as[(Long, Long)].collect().toMap
    assert(sqlPtCounts == scalaPtCounts,
      s"pretok TVF model drifted: $sqlPtCounts vs $scalaPtCounts")
    // Misuse stays loud.
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_bpe_vocab('x', 'y')").collect()
    }
    assert(e.getMessage.toLowerCase.contains("graft_bpe_vocab"))
    // The packed-id export artifact from SQL: exact parity with the
    // Scala call, sequence by sequence.
    val sqlPk = spark.sql("SELECT shard, seq, ids, n_ids FROM " +
        s"graft_pack_ids('$base/docs', 'doc_id', 'text', '$base/tok', 2, 8)")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getSeq[Int](2).toSeq, r.getLong(3)))).toMap
    val scalaPk = graft.ops.TrainShuffle.packIdSequences(
        spark.read.parquet(base + "/docs"), "doc_id", "text", model,
        numShards = 2, budget = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getSeq[Int](2).toSeq, r.getLong(3)))).toMap
    assert(sqlPk == scalaPk && sqlPk.nonEmpty, s"${sqlPk.take(3)}")
    // The padded-bin SFT export from SQL: exact parity, bin by bin.
    val sqlNs = spark.sql("SELECT shard, bin, ids, n_ids, n_docs, starts " +
        s"FROM graft_pack_nosplit_ids('$base/docs', 'doc_id', 'text', " +
        s"'$base/tok', 2, 8)")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getSeq[Int](2).toSeq, r.getLong(3), r.getLong(4),
          r.getSeq[Long](5).toSeq))).toMap
    val scalaNs = graft.ops.TrainShuffle.packNoSplitIds(
        spark.read.parquet(base + "/docs"), "doc_id", "text", model,
        numShards = 2, budget = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getSeq[Int](2).toSeq, r.getLong(3), r.getLong(4),
          r.getSeq[Long](5).toSeq))).toMap
    assert(sqlNs == scalaNs && sqlNs.nonEmpty, s"${sqlNs.take(3)}")
  }

  test("round-17 TVFs: graft_bin_append manages the epoch-append family from SQL; content-identity resume token") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-r17-").toString
    val docsDf = (1L to 80L).map(i => (i, (1 to (i % 7 + 2).toInt)
        .map(j => s"tok${(i + j) % 9}").mkString(" ")))
      .toDF("doc_id", "text")
    docsDf.filter($"doc_id" <= 40L).write.parquet(base + "/b0")
    docsDf.filter($"doc_id" > 40L).write.parquet(base + "/b1")
    val model = graft.functions.Bpe.bpeTrain(
      spark.read.parquet(base + "/b0"), "text", numMerges = 8)
    model.write(base + "/tok")
    val stored = graft.functions.Bpe.TokenizerModel.read(spark, base + "/tok")
    // Append two epochs from SQL; replay the first — applied=false and
    // the artifact is untouched (the managed exactly-once contract).
    val a0 = spark.sql("SELECT * FROM graft_bin_append(" +
        s"'$base/b0', 'doc_id', 'text', '$base/tok', 2, 8, " +
        s"'$base/root', 'e0')").collect().head
    assert(a0.getBoolean(0) && a0.getLong(2) == 1L, s"${a0.toSeq}")
    val a1 = spark.sql("SELECT * FROM graft_bin_append(" +
        s"'$base/b1', 'doc_id', 'text', '$base/tok', 2, 8, " +
        s"'$base/root', 'e1')").collect().head
    assert(a1.getBoolean(0) && a1.getLong(2) == 2L, s"${a1.toSeq}")
    val replay = spark.sql("SELECT * FROM graft_bin_append(" +
        s"'$base/b0', 'doc_id', 'text', '$base/tok', 2, 8, " +
        s"'$base/root', 'e0')").collect().head
    assert(!replay.getBoolean(0) && replay.getLong(1) == a1.getLong(1),
      s"replayed epoch must be a no-op: ${replay.toSeq}")
    // The SQL-managed root equals the Scala-managed one digest-for-
    // digest (same batches, same per-epoch salts = the epoch ids).
    val scalaRoot = base + "/rootScala"
    graft.sources.BinFamily.appendEpoch(
      graft.ops.TrainShuffle.packIdSequences(
        spark.read.parquet(base + "/b0"), "doc_id", "text", stored,
        numShards = 2, budget = 8, salt = "e0"),
      scalaRoot, budget = 8, shardsPerEpoch = 2, epochId = "e0",
      identity = Map("alphabet" -> stored.alphabet))
    graft.sources.BinFamily.appendEpoch(
      graft.ops.TrainShuffle.packIdSequences(
        spark.read.parquet(base + "/b1"), "doc_id", "text", stored,
        numShards = 2, budget = 8, salt = "e1"),
      scalaRoot, budget = 8, shardsPerEpoch = 2, epochId = "e1",
      identity = Map("alphabet" -> stored.alphabet))
    val sqlDig = spark.sql("SELECT shard, n_seqs, n_ids, sum_digest, " +
        s"xor_digest FROM graft_bin_digest('$base/root') ORDER BY shard")
      .collect().map(_.toSeq)
    val scalaDig = graft.ops.TrainShuffle.packDigest(
        graft.sources.BinShards.read(spark, scalaRoot), budget = 8)
      .orderBy("shard").collect().map(_.toSeq)
    assert(sqlDig.nonEmpty && sqlDig.toSeq == scalaDig.toSeq,
      "SQL-appended root's digests drifted from the Scala-managed root")
    // Manifest over the managed root: CURRENT resolution + the epochs
    // count + the TVF-stamped tokenizer identity columns.
    val man = spark.sql("SELECT kind, epochs, vocab_size, alphabet, " +
        s"pretok FROM graft_bin_manifest('$base/root')").collect().head
    assert(man.getString(0) == "packed" && man.getLong(1) == 2L &&
      man.getLong(2) == stored.vocab.length.toLong &&
      man.getString(3) == stored.alphabet &&
      man.getString(4) == stored.pretok, s"${man.toSeq}")
    // A mismatched config (different budget) REFUSES loud — an append
    // must never corrupt a valid artifact.
    val eCfg = intercept[Exception] {
      spark.sql("SELECT * FROM graft_bin_append(" +
        s"'$base/b1', 'doc_id', 'text', '$base/tok', 2, 16, " +
        s"'$base/root', 'e2')").collect()
    }
    assert(eCfg.getMessage.contains("config mismatch"), s"$eCfg")
    // Replay over a TORN generation (a later epoch crashed mid-export,
    // marker gone) stays the documented no-op — (false, -1, -1), no
    // throw — so a crashed ingest loop can replay from epoch 0 and
    // reach the epoch that actually needs repair.
    val gen = graft.sources.ManagedRoot.resolve(spark, base + "/root")
    val mkPath = java.nio.file.Paths.get(
      gen.stripPrefix("file:"), "_BIN_COMMIT")
    val mkBytes = java.nio.file.Files.readAllBytes(mkPath)
    java.nio.file.Files.delete(mkPath)
    val tornReplay = spark.sql("SELECT * FROM graft_bin_append(" +
        s"'$base/b0', 'doc_id', 'text', '$base/tok', 2, 8, " +
        s"'$base/root', 'e0')").collect().head
    assert(!tornReplay.getBoolean(0) && tornReplay.getLong(1) == -1L &&
      tornReplay.getLong(2) == -1L,
      s"torn-generation replay must no-op, got ${tornReplay.toSeq}")
    java.nio.file.Files.write(mkPath, mkBytes)
    // The pure-dot epoch ids escape the epochs/ namespace — refused.
    for (bad <- Seq(".", "..")) {
      val eDot = intercept[Exception] {
        graft.sources.BinFamily.appendEpoch(
          graft.ops.TrainShuffle.packIdSequences(
            spark.read.parquet(base + "/b0"), "doc_id", "text", stored,
            numShards = 2, budget = 8),
          base + "/root", budget = 8, shardsPerEpoch = 2, epochId = bad)
      }
      assert(eDot.getMessage.contains("epochId"), s"$bad: $eDot")
    }
    // 'epochs' is writer-owned in the marker: an identity line must
    // not be able to shadow BinFamily's committed-epoch count.
    val eEp = intercept[Exception] {
      graft.sources.BinFamily.appendEpoch(
        graft.ops.TrainShuffle.packIdSequences(
          spark.read.parquet(base + "/b0"), "doc_id", "text", stored,
          numShards = 2, budget = 8),
        base + "/rootEp", budget = 8, shardsPerEpoch = 2,
        epochId = "e0", identity = Map("epochs" -> "0"))
    }
    assert(eEp.getMessage.contains("writer-owned"), s"$eEp")
    // The SFT family from SQL (11-arg kind form): two padded-bin
    // epochs under a managed root, digest-identical to the
    // Scala-managed twin, manifest kind-dispatched, replay no-op.
    for (e <- 0 to 1)
      assert(spark.sql("SELECT * FROM graft_bin_append(" +
          s"'$base/b$e', 'doc_id', 'text', '$base/tok', 2, 32, " +
          s"'$base/rootSft', 'e$e', 64, '', 'sft')")
        .collect().head.getBoolean(0), s"sft epoch e$e must apply")
    val sftTwin = base + "/rootSftScala"
    for (e <- 0 to 1)
      graft.sources.BinFamily.appendEpochSft(
        graft.ops.TrainShuffle.packNoSplitIds(
          spark.read.parquet(s"$base/b$e"), "doc_id", "text", stored,
          numShards = 2, budget = 32, salt = s"e$e"),
        sftTwin, budget = 32, shardsPerEpoch = 2, epochId = s"e$e")
    val sqlSftDig = spark.sql("SELECT shard, n_bins, n_docs, n_ids, " +
        "sum_digest, xor_digest, starts_digest FROM " +
        s"graft_bin_digest('$base/rootSft') ORDER BY shard")
      .collect().map(_.toSeq)
    val scalaSftDig = graft.ops.TrainShuffle.packNoSplitDigest(
        graft.sources.BinShards.readNoSplit(spark, sftTwin), budget = 32)
      .orderBy("shard").collect().map(_.toSeq)
    assert(sqlSftDig.nonEmpty && sqlSftDig.toSeq == scalaSftDig.toSeq,
      "SQL sft-appended root's digests drifted from the Scala twin")
    val sftMan = spark.sql("SELECT kind, epochs FROM " +
        s"graft_bin_manifest('$base/rootSft')").collect().head
    assert(sftMan.getString(0) == "sft" && sftMan.getLong(1) == 2L,
      s"${sftMan.toSeq}")
    val sftReplay = spark.sql("SELECT * FROM graft_bin_append(" +
        s"'$base/b0', 'doc_id', 'text', '$base/tok', 2, 32, " +
        s"'$base/rootSft', 'e0', 64, '', 'sft')").collect().head
    assert(!sftReplay.getBoolean(0), s"${sftReplay.toSeq}")
    // Glob corpus paths keep working under the content fingerprint
    // (spark.read.parquet expands them; the fingerprint must too).
    val glb = spark.sql("SELECT * FROM graft_bin_export(" +
        s"'$base/b0/*.parquet', 'doc_id', 'text', '$base/tok', 2, 8, " +
        s"'$base/expGlob')").collect().head
    assert(glb.getString(0) == "packed" && glb.getLong(3) == 2L,
      s"glob-path export drifted: ${glb.toSeq}")
    // CONTENT-identity resume token: export, then RETRAIN the model in
    // place (same path, different merge count) — a resume must fall
    // back to a FULL REWRITE (survivors re-export under the new vocab)
    // instead of keeping stale shards, and still land digest-green.
    spark.sql("SELECT * FROM graft_bin_export(" +
        s"'$base/b0', 'doc_id', 'text', '$base/tok', 2, 8, " +
        s"'$base/exp')").collect()
    val m0 = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(base, "exp", "shard-00000.bin"))
    graft.functions.Bpe.bpeTrain(
      spark.read.parquet(base + "/b0"), "text", numMerges = 4)
      .write(base + "/tok")
    val retrained = graft.functions.Bpe.TokenizerModel.read(
      spark, base + "/tok")
    assert(retrained.vocab.length != stored.vocab.length,
      "fixture: the retrain must actually change the vocabulary")
    spark.sql("SELECT * FROM graft_bin_export(" +
        s"'$base/b0', 'doc_id', 'text', '$base/tok', 2, 8, " +
        s"'$base/exp', 'packed', 'resume')").collect()
    val m1 = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(base, "exp", "shard-00000.bin"))
    assert(m1.compareTo(m0) > 0,
      "retrain-in-place must force a full rewrite under resume — the " +
        "content token changed, so no survivor may be kept")
    val expDig = spark.sql("SELECT shard, n_seqs, n_ids, sum_digest, " +
        s"xor_digest FROM graft_bin_digest('$base/exp') ORDER BY shard")
      .collect().map(_.toSeq)
    val retDig = graft.ops.TrainShuffle.packDigest(
        graft.ops.TrainShuffle.packIdSequences(
          spark.read.parquet(base + "/b0"), "doc_id", "text", retrained,
          numShards = 2, budget = 8), budget = 8)
      .orderBy("shard").collect().map(_.toSeq)
    assert(expDig.toSeq == retDig.toSeq,
      "the rewritten artifact must carry the RETRAINED model's ids")
  }

  test("graft_bin_append: salt '' means the per-epoch default in the 10-argument form too") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    GraftExtensionsBridge.applyTo(ext, spark)
    val base = java.nio.file.Files.createTempDirectory("tvf-salt-").toString
    (1L to 60L).map(i => (i, (1 to (i % 5 + 2).toInt)
        .map(j => s"w${(i * j) % 11}").mkString(" ")))
      .toDF("doc_id", "text").write.parquet(base + "/b0")
    graft.functions.Bpe.bpeTrain(
      spark.read.parquet(base + "/b0"), "text", numMerges = 8)
      .write(base + "/tok")
    def digestAfter(root: String, tail: String): Seq[Seq[Any]] = {
      spark.sql("SELECT * FROM graft_bin_append(" +
        s"'$base/b0', 'doc_id', 'text', '$base/tok', 4, 8, " +
        s"'$base/$root', 'e0'$tail)").collect()
      spark.sql("SELECT shard, n_seqs, n_ids, sum_digest, xor_digest " +
          s"FROM graft_bin_digest('$base/$root') ORDER BY shard")
        .collect().map(_.toSeq).toSeq
    }
    val default8 = digestAfter("r8", "")
    assert(default8.nonEmpty)
    assert(digestAfter("r10", ", 64, ''") == default8,
      "salt '' must select the epoch_id salt, as in the 11-argument form")
    assert(digestAfter("r11", ", 64, '', 'packed'") == default8)
    // The comparison sees the salt: an explicit other salt re-lays out.
    assert(digestAfter("rOther", ", 64, 'other'") != default8,
      "fixture: a different salt must change the layout")
  }
}
