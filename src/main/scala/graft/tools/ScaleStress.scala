package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.{Dedup, Spans, Vectors}
import graft.rules.{AlarmPipeline, EventsAlarmAdapter}

/**
 * Synthetic scale-up probe: replicate sf0.1 inputs with shifted ids
 * (documents x20 = 100k docs, events x10 = 1M records, embeddings x10 =
 * 20k vectors) and time the scale-sensitive operators. The point is the
 * GROWTH CURVE, not the absolute numbers — near-linear growth here is the
 * evidence the same plan survives a 1000x cluster scale-up.
 */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(32, "scale-stress")
    val dir = "/root/testdata/sf0.1"

    def times(df: DataFrame, idCol: String, copies: Int, stride: Long): DataFrame =
      (0 until copies).map(i =>
        df.withColumn(idCol, col(idCol) + lit(i * stride))).reduce(_ unionAll _)

    // Optional substring filter (SPARK_GRAFT_STRESS_ONLY=vector-index)
    // for iterating on ONE probe without the full sweep; shared setup
    // frames outside time() blocks still materialize.
    val only = sys.env.get("SPARK_GRAFT_STRESS_ONLY")
    def time(label: String)(f: => Unit): Unit =
      if (only.exists(s => !label.contains(s)))
        println(s"[stress] $label: SKIPPED (filter)")
      else {
        val t0 = System.nanoTime(); f
        println(f"[stress] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }

    // Run `f` under a task listener; returns f's result with the max and
    // the total shuffle-read records over its tasks. The listener bus is
    // drained BEFORE the counters are read: a fixed sleep can return
    // while TaskEnd events are still queued, under-counting a ceiling and
    // letting a no-straggler require pass spuriously. listenerBus is
    // private[spark] (public in bytecode) — reflection reaches the real
    // waitUntilEmpty(timeoutMillis).
    def shuffleRead[T](f: => T): (T, Long, Long) = {
      val maxRead = new java.util.concurrent.atomic.AtomicLong(0)
      val totalRead = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            val r = m.shuffleReadMetrics.recordsRead
            maxRead.getAndUpdate(v => math.max(v, r))
            totalRead.addAndGet(r)
          }
        }
      }
      val sc = spark.sparkContext
      sc.addSparkListener(listener)
      try {
        val out = f
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
          .invoke(bus, java.lang.Long.valueOf(30000L))
        (out, maxRead.get(), totalRead.get())
      } finally sc.removeSparkListener(listener)
    }

    val docs1 = GraftSession.table(spark, dir, "documents")
    val docs20 = times(docs1, "doc_id", 20, 1000000L).cache()
    println(s"[stress] documents x20 = ${docs20.count()} rows")
    time("neardup_pairs @ 5k docs")(
      println("pairs=" + Dedup.nearDupPairs(docs1, "doc_id", "text", 0.7).count()))
    time("neardup_pairs @ 100k docs")(
      println("pairs=" + Dedup.nearDupPairs(docs20, "doc_id", "text", 0.7).count()))
    time("banding recall vs exact PPJoin @ 5k docs") {
      // The candidate-literal oracle form (round 14) trusts exactly ONE
      // thing from the operator: candidate RECALL. The exhaustive SQL
      // form pins it at the 500-doc gate; this probe certifies it AT
      // sf0.1 distributed, no quadratic step anywhere: exact pairs from
      // the prefix-filtered PPJoin at a 0.65 hash-set margin (28-bit
      // collisions merge set elements, which can only push hash-set
      // jaccard ABOVE the raw value — a raw>=0.7 pair cannot fall below
      // the margin), re-verified at the raw-shingle 0.7 operator
      // threshold, then REQUIRED to be a subset of the banded
      // candidates.
      val exact = Dedup.exactJaccardJoin(
          docs1, "doc_id", "text", n = 3, threshold = 0.65)
        .select("id_a", "id_b")
      val sh = Dedup.shingleSets(docs1, "doc_id", "text")
      val verified = exact
        .join(sh.select(col("doc").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col("doc").as("id_b"), col("sh").as("sh_b")), "id_b")
        .filter(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))) >= 0.7)
        .select("id_a", "id_b")
      val cands = Dedup.lshCandidates(docs1, "doc_id", "text")
      val missed = verified.exceptAll(cands).count()
      val nVerified = verified.count()
      require(missed == 0,
        s"banding missed $missed of $nVerified exact-verified pairs — " +
          "the literal-candidate oracle form's recall premise is broken")
      println(s"verified=$nVerified missed=$missed (recall 1.0 certified)")
    }
    time("connected components @ 200k-node pathological chain") {
      // Worst case for any propagation scheme: ONE component of diameter
      // 200k. Star rounds must converge in ~log2(n), not O(diameter).
      val n = 200000L
      val ids = spark.range(n).toDF("id")
      val chain = spark.range(n - 1).select(col("id").as("u"), (col("id") + 1).as("v"))
      val nClusters = Dedup.clusterEdges(ids, chain)
        .select("cluster_id").distinct().count()
      println(s"chain clusters=$nClusters (expect 1)")
    }
    time("neardup_clusters @ 100k docs")(
      println("clusters=" + Dedup.nearDupClusters(docs20, "doc_id", "text", 0.7)
        .select("cluster_id").distinct().count()))
    time("containment @ 100k docs, one shingle in EVERY doc") {
      // Hot-shingle probe: append the same boilerplate sentence to all
      // 100k documents, so its shingles have doc-frequency ~100k. The
      // df pre-count must drop them as (h, count) pairs BEFORE any id
      // list is collected — if a full 100k-id array ever materialized
      // on one reducer this would blow past any timing budget (and at
      // 100 TB, past reducer memory).
      val boiler = docs20.withColumn("text",
        concat(col("text"), lit(" all rights reserved contact us for terms of use")))
      println("containment pairs=" +
        Dedup.containmentPairs(boiler, "doc_id", "text").count())
    }
    time("chunk_dedup @ 100k docs, one chunk in EVERY doc") {
      // Hot-chunk probe: the appended boilerplate is exactly one 8-token
      // chunk shared by all 100k docs. groupBy+join-back collapses the
      // hot key to ONE count row map-side; the join-back either
      // broadcasts the count table (no probe shuffle at all — this
      // scale) or AQE skew-splits the probe partition (the 100 TB SMJ
      // path), so the hot chunk's replicas never funnel into one task.
      val boiler = docs20.withColumn("text",
        concat(lit("all rights reserved contact us for terms now "), col("text")))
      println("chunk_dedup rows=" +
        Dedup.chunkDedup(boiler, "doc_id", "text").count())
    }
    time("chunk_dedup hot-chunk TASK CEILING @ 100k replicas") {
      // The direct no-straggler proof the window-by-chunk plan could not
      // give: 100k docs of exactly (hot chunk + one unique chunk). With
      // the old count-over-window, one task received all 100k hot
      // replicas (max task shuffle-read >= 100k); with groupBy+join-back
      // the max task stays at an even share. Asserted, not just timed.
      val n = 100000L
      val (_, ceiling, _) = shuffleRead {
        val hot = spark.range(n).select(col("id").as("doc_id"),
          concat(lit("all rights reserved contact us for terms now doc "),
            col("id"), lit(" pad pad pad pad pad "), col("id")).as("text"))
        println("rows=" + Dedup.chunkDedup(hot, "doc_id", "text").count())
      }
      println(s"max task shuffle-read records = $ceiling (hot chunk df = $n)")
      require(ceiling < n / 2,
        s"hot chunk funneled into one task: max task read $ceiling of $n replicas")
    }
    time("chunk_novelty @ 100k-doc batch vs 100k-doc index, shared hot chunk") {
      // The novelty screen at scale: batch and index docs share ONE hot
      // chunk (the boilerplate prefix, df 100k on both sides) and each
      // doc carries a unique tail. The batch's distinct chunk set
      // BROADCASTS into the index prune — the index (corpus-sized at
      // 100 TB) is scanned, never shuffled — and the only row shuffle
      // is the per-doc rollup of the batch itself, so the screen stays
      // batch-cost no matter the index size. Every batch doc must
      // report strictly partial novelty: the hot chunk is known, the
      // unique tail is not.
      val n = 100000L
      def mk(base: Long) = spark.range(n).select(
        (col("id") + base).as("doc_id"),
        concat(lit("all rights reserved contact us for terms now doc "),
          col("id") + base, lit(" pad pad pad pad pad "),
          col("id") + base).as("text"))
      val idx = Dedup.chunkIndex(mk(0L), "doc_id", "text")
      val agg = Dedup.chunkNovelty(mk(1000000L), idx, "doc_id", "text")
        .agg(count(lit(1)).as("n"),
          sum(when(col("novel_frac") > 0.0 && col("novel_frac") < 1.0, 1L)
            .otherwise(0L)).as("partial"),
          min("known_tokens").as("min_known")).collect()(0)
      println(s"batch=${agg.getLong(0)} partial=${agg.getLong(1)} " +
        s"min_known=${agg.getLong(2)}")
      require(agg.getLong(0) == n && agg.getLong(1) == n,
        s"every doc must be strictly partial-novel: $agg")
      require(agg.getLong(2) > 0L,
        s"the shared hot chunk must be known in every doc: $agg")
    }
    time("gated screen @ 100k docs, quality+span+sampling armed") {
      // The full decision spine at scale — the probe the round-11
      // plan-shape fix earns: with three optional gates armed the OLD
      // spine's plan tree grew exponentially (OOM on FOUR docs); the
      // linear spine must screen 100k docs in seconds. Seed stores from
      // a small corpus, then screen a 100k batch carrying the seeded
      // passage (span flags fire), junk structure (quality flags fire),
      // and zero scores on half the ids (sampling flags fire).
      val seedDir = java.nio.file.Files
        .createTempDirectory("stress-gate-").toString
      val passage = (1 to 10).map(i => s"the field$i of the delta region")
        .mkString(" ")
      graft.functions.Ingest.ingestBatch(
        spark.range(2).select(col("id").as("doc_id"),
          concat(lit(passage + " seed variant "), col("id")).as("text")),
        "doc_id", "text", s"$seedDir/nd", s"$seedDir/chunks", "seed",
        dupRatio = 2.0, spanRootPath = Some(s"$seedDir/spans"), spanK = 5)
      graft.GraftCaches.clearAll()
      val n = 100000L
      // Per-doc ALPHABETIC pseudo-tokens derived from the id (digits
      // mapped to letters): enough distinct gram mass to pass the
      // near-dup screen while keeping the Gopher alpha rule green.
      def alphaToks(k: Int): Seq[org.apache.spark.sql.Column] =
        (0 until k).map(i => translate(
          ((col("id") * lit(2 * i + 3)) % lit(99991L)).cast("string"),
          "0123456789", "abcdefghij"))
      // Slice 1 (n/2 docs): score 0 — the sampling draw never keeps
      // them, whatever the text.
      val sampledOut = spark.range(n / 2).select(
        (col("id") + 1000L).as("doc_id"),
        concat(lit(passage + " "),
          concat_ws(" ", alphaToks(25): _*)).as("text"),
        lit(0L).as("score"))
      // Slice 2 (n/4 docs): the seeded passage + 25 novel alpha tokens —
      // passes near-dup (~0.62 jaccard vs the seeds) and quality, but
      // ~2/3 of its 5-gram spans sit in the seeded span store.
      val boiler = spark.range(n / 4).select(
        (col("id") + 1000L + n).as("doc_id"),
        concat(lit(passage + " "),
          concat_ws(" ", alphaToks(25): _*)).as("text"),
        lit(1L).as("score"))
      // Slice 3 (n/4 docs): wholly novel stopword-glued prose — every
      // gate passes.
      val clean = spark.range(n / 4).select(
        (col("id") + 1000L + 2 * n).as("doc_id"),
        concat_ws(" ", (0 until 25).flatMap(i => Seq(
          lit(if (i % 2 == 0) "the" else "of"),
          translate(((col("id") * lit(2 * i + 3)) % lit(99991L))
            .cast("string"), "0123456789", "abcdefghij"))): _*)
          .as("text"),
        lit(1L).as("score"))
      val batch = sampledOut.unionAll(boiler).unionAll(clean)
      val spanIdx =
        graft.functions.Ingest.spanIndexAt(spark, s"$seedDir/spans", 5)
      val byDecision = graft.functions.Ingest.screenBatchGated(
          batch,
          spark.read.parquet(
            graft.sources.ManagedRoot.resolve(spark, s"$seedDir/nd")),
          graft.functions.Ingest.chunkIndexAt(spark, s"$seedDir/chunks"),
          "doc_id", "text", dupRatio = 2.0, qualityGate = true,
          spanGate = Some((spanIdx, 5, 0.5)),
          samplingGate = Some(("score", 1L)))
        .groupBy("decision").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      println(s"decisions @ 100k, 3 gates: $byDecision")
      require(byDecision.values.sum == n, s"every doc decided: $byDecision")
      // >= not ==: the base screen PRECEDES the draw, so a zero-score
      // doc that also collides as a near-dup (id-arithmetic token
      // collisions make a handful) reports the duplicate — correct
      // precedence, not a leak.
      require(byDecision.getOrElse(graft.functions.Ingest.RejectedSampled,
        0L) >= n / 2 - 100,
        s"zero-score half must be sampled out: $byDecision")
      require(byDecision.getOrElse(
        graft.functions.Ingest.RejectedBoilerplate, 0L) > (n / 4) * 9 / 10,
        s"the passage slice must trip the span gate: $byDecision")
      require(byDecision.getOrElse(graft.functions.Ingest.Accepted, 0L) >
        (n / 4) * 9 / 10,
        s"the novel slice must be accepted: $byDecision")
    }
    time("span_scrub @ 100k docs, one passage in EVERY doc") {
      // Hot-span probe: every doc opens with the same 11-token passage,
      // so its interior 5-gram spans all have doc-frequency 100k. The
      // span-df groupBy collapses each hot span to ONE (df, keeper) row
      // via map-side partial aggregation, and the scrub join sees the
      // bounded dup-span table (AQE broadcasts it at this size; at
      // dup-heavy corpus scale the SMJ path AQE-skew-splits), so the
      // 100k occurrences of a hot span never funnel one reducer. Every
      // doc except the smallest-id keeper must shed the passage.
      val n = 100000L
      val hot = spark.range(n).select(col("id").as("doc_id"),
        concat(lit("all rights reserved contact us for terms of use now doc "),
          col("id"), lit(" unique tail "), col("id")).as("text"))
      val scrubbed = Spans.spanScrub(hot, "doc_id", "text", k = 5)
        .filter(col("n_removed") > 0).count()
      println(s"scrubbed=$scrubbed of $n")
      require(scrubbed == n - 1,
        s"expected all but the keeper scrubbed, got $scrubbed of $n")
    }
    time("span_scrub_ref @ 100k-doc batch vs 100k-doc reference") {
      // The recurring-batch form at scale: ref and batch share the
      // passage; the ref side must reduce to its DISTINCT span set
      // before the semi-join (the ref occurrence frame is corpus-sized,
      // the key stream is dup-span-sized).
      val n = 100000L
      def mk(base: Long) = spark.range(n).select(
        (col("id") + base).as("doc_id"),
        concat(lit("all rights reserved contact us for terms of use now doc "),
          col("id") + base, lit(" unique tail "), col("id") + base).as("text"))
      val scrubbed = Spans.spanScrubAgainst(mk(1000000L), mk(0L),
          "doc_id", "text", k = 5)
        .filter(col("n_removed") > 0).count()
      println(s"batch scrubbed=$scrubbed of $n")
      require(scrubbed == n,
        s"every batch doc carries the reference passage, got $scrubbed of $n")
    }
    time("source_cap @ 100k docs, ONE hot domain — task ceiling asserted") {
      // The domain-cap worst case: every doc in a single domain, cap 10.
      // A bare window-by-source would ship all 100k rows into one task;
      // the bounded per-partition heap must prune to <= cap rows per
      // partition BEFORE the window's exchange, so the max task
      // shuffle-read stays at heap-survivor scale. Same listener proof
      // as the hot-chunk probe.
      val n = 100000L
      val (_, ceiling, _) = shuffleRead {
        val hot = spark.range(n).select(col("id").as("doc_id"),
          lit("hotdomain.example").as("src"))
        val kept = graft.ops.CorpusMix.sourceCap(hot, "doc_id", "src", 10)
          .filter(col("kept")).count()
        require(kept == 10, s"cap must keep exactly 10, got $kept")
        // The byHash keeper mode rides the shared md5RankTake core —
        // same bounded-heap-before-exchange claim, asserted separately
        // because it is a different code path to the same window.
        val keptHash = graft.ops.CorpusMix.sourceCap(
            hot, "doc_id", "src", 10, keepBy = "byHash")
          .filter(col("kept")).count()
        require(keptHash == 10,
          s"byHash cap must keep exactly 10, got $keptHash")
      }
      println(s"max task shuffle-read records = $ceiling (domain df = $n," +
        " both keeper modes)")
      require(ceiling < n / 2,
        s"hot domain funneled into one task: $ceiling of $n rows")
    }
    time("keep-best winner @ 100k-member mega-cluster — task ceiling asserted") {
      // The keep-best claim under its worst case: ONE cluster holding
      // every doc. The winner must come from the map-side-combined
      // max_by (one row per map partition), never a window that sorts
      // 100k rows in one task. Clustering itself is exercised by the
      // CC-chain probe above; here the cluster frame is synthetic so the
      // probe isolates the WINNER aggregate's shape.
      val n = 100000L
      val (_, ceiling, _) = shuffleRead {
        // One cluster (id 0), token counts 1..n so doc n-1 wins. Drives
        // the REAL shared aggregate (Dedup.winnerPerCluster) — the same
        // expression both keep-best forms (longest-wins and the
        // caller-score overload) consolidate with.
        val joined = spark.range(n).select(col("id").as("doc_id"),
          lit(0L).as("cluster_id"), (col("id") + 1L).as("n_tokens"))
        val best = graft.functions.Dedup.winnerPerCluster(joined, "n_tokens")
        val kept = joined.join(best, Seq("cluster_id"))
          .filter(col("doc_id") === col("keep_id")).collect()
        require(kept.length == 1 && kept.head.getLong(1) == n - 1,
          s"longest doc must win the mega-cluster: ${kept.toSeq}")
      }
      println(s"max task shuffle-read records = $ceiling (cluster size = $n)")
      require(ceiling < n / 2,
        s"mega-cluster funneled into one task: $ceiling of $n rows")
    }
    time("bm25_batch @ 100k docs x 100 queries — task ceiling asserted") {
      // The multi-query worst case: EVERY doc matches EVERY query (each
      // doc carries all 10 union terms; 100 queries of one term each),
      // so the scoring pass emits 10M (query, doc) rows. The per-query
      // heap must prune to k rows per (partition, query) BEFORE the rank
      // window's exchange — max task shuffle-read stays at survivor
      // scale (k * partitions per query), never the 100k corpus through
      // one reducer. Same listener proof as the hot-domain probe.
      import spark.implicits._
      val n = 100000L
      val (_, ceiling, _) = shuffleRead {
        val hotDocs = spark.range(n).select(col("id").as("doc_id"),
          lit("t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 pad pad pad pad").as("text"))
        val queries = (0 until 100)
          .map(i => (i.toLong, Seq("t" + (i % 10))))
          .toDF("query_id", "terms")
        val out = graft.functions.TextFunctions.bm25TopKBatch(
          hotDocs, "doc_id", "text", queries, k = 10)
        val rows = out.count()
        require(rows == 100L * 10L,
          s"every query must fill its top-10, got $rows rows")
      }
      println(s"max task shuffle-read records = $ceiling " +
        s"(matched pairs = ${n * 100})")
      require(ceiling < n / 2,
        s"batch scoring funneled into one task: $ceiling records")
    }
    time("quality_gopher @ 100k docs (pure map pass)")(
      println("passes=" + graft.functions.TextFunctions
        .gopherStats(docs20, "doc_id", "text")
        .filter(_.passes).count()))
    time("bm25_topk @ 100k docs") {
      // Retrieval at 20x corpus: the matched-term frame is |terms| rows
      // per doc max, the idf join broadcast, the top-k two-phase — cost
      // tracks the tokenize pass, not a posting-list shuffle.
      val top = graft.functions.TextFunctions.bm25TopK(
        docs20, "doc_id", "text",
        Seq("spark", "window", "vector", "customer", "merge"), k = 20)
        .count()
      require(top == 20, s"expected 20 ranked rows, got $top")
    }
    time("chunk_dedup_cdc @ 100k docs, SHIFTED boilerplate in EVERY doc") {
      // The shift-robustness case AT SCALE: every doc carries the same
      // boilerplate passage at a doc-dependent token offset (id % 7
      // filler tokens prepended) — the misalignment that defeats fixed
      // windows. The passage's anchor tokens ('all', 'corpus', 'for',
      // 'boundary' hash to % 8 == 0) cut three position-independent
      // chunks shared by ALL 100k docs — df-100k hot chunks, so this
      // also probes the dedupChunks groupBy+join-back skew shape under
      // CDC chunking. Every doc must report the shared chunks as dups.
      val n = 100000L
      val fillerWords = typedLit(Seq("pad", "alpha", "beta", "gamma",
        "delta", "epsilon", "zeta"))
      val docs = spark.range(n).select(col("id").as("doc_id"),
        concat(
          array_join(slice(fillerWords, lit(1), (col("id") % 7).cast("int")), " "),
          lit(" all rights reserved corpus contact us for terms boundary "),
          lit("unique doc "), col("id"), lit(" tail "), col("id")).as("text"))
      val out = Dedup.chunkDedupCdc(docs, "doc_id", "text")
      val flagged = out.filter(col("n_dup") >= 3).count()
      println(s"docs with >=3 shared chunks = $flagged of $n")
      require(flagged == n,
        s"shifted boilerplate must dedup in every doc: $flagged of $n")
    }
    time("corpus_curate (full composition) @ 100k docs") {
      // The end-to-end curation manifest at 20x the bench scale: the
      // growth curve of the COMPOSED pipeline (gate + decontaminate +
      // exact dedup + near-dup + LM floor + anti join + seq packing), not
      // just its stages in isolation. Replication stride is a MULTIPLE OF
      // 97 so each copy keeps its original's eval residue (id % 97):
      // with an arbitrary stride ~20% of families gain an eval-slice
      // copy, the eval gram union grows 20x, and decontamination
      // correctly drops ~99% of the corpus — real work but a degenerate
      // manifest; residue-preserving replication keeps the eval set at
      // its 1x composition so survivors stay non-trivial and assertable.
      val docs20c = times(docs1, "doc_id", 20, 970000L)
      val n = graft.ops.Curation.curate(docs20c, numShards = 64).count()
      println(s"manifest rows=$n")
      require(n > 0, "20x curation manifest must keep the family canonicals")
    }
    time("neardup_join @ 50k x 50k docs") {
      // Cross-corpus dedup at 10x the bench scale: even vs odd ids of the
      // 20x-replicated corpus (every doc has ~10 true cross-side copies).
      println("cross pairs=" + Dedup.nearDupJoin(
        docs20.filter(col("doc_id") % 2 === 0),
        docs20.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", 0.7).count())
    }
    time("simhash @ 100k docs")(
      Dedup.simhash64(docs20, "doc_id", "text").write.format("noop").mode("overwrite").save())
    time("doc_stats @ 100k docs")(
      graft.functions.TextFunctions.docStats(docs20, "doc_id", "text")
        .write.format("noop").mode("overwrite").save())
    time("corpus_mix_tokens @ 100k docs") {
      // The boundary-bucket histogram must keep the row-level window to
      // ~1/65536 of a source: 20x replication grows every source 20x,
      // but only each source's single boundary bucket pays a cumsum.
      val d20 = docs20.withColumn("n_tokens",
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
      val budgets = (0 until 20)
        .map(i => s"src$i" -> (if (i % 2 == 0) 7000L else 3000L)).toMap
      println("selected=" + graft.ops.CorpusMix
        .mixByTokens(d20, "doc_id", "source", "n_tokens", budgets).count())
    }
    time("nb_classify @ 100k docs (train + score)") {
      // The broadcast-model scoring join must grow with the corpus, not
      // with vocab skew: the x20 replication multiplies every hot word's
      // occurrence count by 20, so a by-word shuffle would concentrate
      // 20x harder — the broadcast join keeps per-task work proportional
      // to the task's token share.
      graft.functions.TextFunctions.nbClassify(docs20, "doc_id", "text", "source")
        .write.format("noop").mode("overwrite").save()
    }

    val emb1 = GraftSession.table(spark, dir, "embeddings")
    val emb10 = times(emb1, "vec_id", 10, 1000000L).cache()
    println(s"[stress] embeddings x10 = ${emb10.count()} rows")
    time("semantic_dedup auto-nlist @ 20k vectors: bounded cells") {
      // The auto-nlist contract probed at 10x: √20000 ≈ 141 cells, so the
      // in-cell O(Σcell²) comparison stays bounded as the corpus grows.
      // k-means cells are uneven (that is the point — they follow the
      // data), but no cell may hold a corpus-scale fraction: the replica
      // structure here (10 shifted copies of each vector) concentrates
      // each copy family into ONE cell, so cells ~10x the uniform share
      // are expected and fine; a quadratic blow-up is not.
      val n = emb10.count()
      val nlist = graft.functions.IVF.autoNlist(n)
      val cells = graft.functions.IVF.semanticDedup(emb10)
        .groupBy("cell").count()
      val maxCell = cells.agg(max("count")).collect()(0).getLong(0)
      val nCells = cells.count()
      println(s"n=$n auto nlist=$nlist cells_used=$nCells max_cell=$maxCell")
      require(maxCell <= n / 4,
        s"a single cell holds $maxCell of $n vectors — cells not bounded")
    }
    time("distributed k-means nlist=32768 @ 40k vectors") {
      // The past-the-driver-cap training path (IVF.lloydDistributed via
      // trainCentroids): nlist 32x the cap at dim 64. Per-task dense
      // accumulator = 32768 x 64 doubles ~ 17 MB — comfortably inside
      // the default partition budget with NO partition-size tuning (and
      // past IVF.SparseAccumCells the accumulator switches to the
      // sparse touched-cells map, so there is no nlist ceiling left on
      // the accumulator side; the sparse/dense agreement is spec-pinned).
      // Two iterations keep the 40k x 32768 x 64 assignment flops from
      // dominating the stress run while still exercising the
      // broadcast-accumulate-densify cycle twice.
      val emb40 = times(emb1, "vec_id", 40, 1000000L).cache()
      require(emb40.count() >= 32768, "need >= nlist vectors")
      val k = 32768
      val cents = graft.functions.IVF.trainCentroids(emb40, k, iters = 2)
      require(cents.length == k, s"trained ${cents.length} centroids")
      require(cents.forall(_.forall(v => !v.isNaN && !v.isInfinite)),
        "non-finite centroid coordinates")
      println(s"centroids=$k dim=${cents.head.length}")
      emb40.unpersist(blocking = false)
    }
    time("ivf live vs indexed: 3 query batches @ 20k vectors") {
      // The amortization story measured: three consecutive query batches
      // pay training + corpus assignment THREE times on the live path,
      // once (at build) on the indexed path. At 100 TB the corpus-side
      // work is the whole cost — the screens themselves are equal.
      import graft.functions.IVF
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val queries = (0 until 3).map(b =>
        emb10.filter(col("vec_id") % 3 === b).limit(5).cache())
      queries.foreach(_.count())
      val t0 = System.nanoTime()
      queries.foreach(q => noop(IVF.ivfTopK(q, emb10, k = 10)))
      val live = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val idxDir = java.nio.file.Files.createTempDirectory("stress-ivf-")
        .toString + "/ivf"
      IVF.buildIvfIndex(emb10).write(idxDir)
      val built = (System.nanoTime() - t1) / 1e9
      val idx = IVF.IvfIndex.read(spark, idxDir)
      val t2 = System.nanoTime()
      queries.foreach(q => noop(IVF.ivfTopKIndexed(q, idx, k = 10)))
      val screens = (System.nanoTime() - t2) / 1e9
      println(f"live 3x: $live%.1f s; index build once: $built%.1f s; " +
        f"3 indexed screens: $screens%.1f s (ratio ${screens / live}%.2f)")
      // Wall-clock on shared hardware is noisy (a GC pause during the
      // indexed screens should not fail the stress run), so the hard
      // bound is generous — the amortization claim only needs the
      // screens to not be dramatically slower than the live runs that
      // RE-TRAIN per batch; the printed ratio is the real signal.
      require(screens < 2 * live,
        f"indexed screens ($screens%.1f s) should be within 2x of 3 live " +
          f"runs ($live%.1f s) — a real structural regression, not noise")
    }
    time("chunk-index compaction: screen cost after 100 epoch appends") {
      // The epoch-merge growth curve the managed generation layout
      // exists to bound: 100 tiny committed epochs (the shape a
      // recurring ingestion loop leaves behind between compactions)
      // versus their single-epoch compaction. chunkIndexRead merges
      // per-epoch counts on every screen, so the un-compacted index
      // pays 100 partition reads + a 100-way sum; the compacted one
      // reads one. Ingest.ingestBatch triggers this fold automatically
      // past `compactEvery` — this probe measures why.
      val root = java.nio.file.Files.createTempDirectory("stress-chidx-")
        .toString + "/idx"
      val slice = docs1.limit(50).cache()
      slice.count()
      (0 until 100).foreach { i =>
        Dedup.chunkIndexAppend(
          slice.withColumn("doc_id", col("doc_id") + lit(i * 100000L)),
          "doc_id", "text", root, f"epoch-$i%03d")
      }
      val batch = docs1.limit(200).cache()
      batch.count()
      def screen(idxDir: String): Double = {
        val t0 = System.nanoTime()
        Dedup.chunkDedupIndexed(
            batch, Dedup.chunkIndexRead(spark, idxDir), "doc_id", "text")
          .write.format("noop").mode("overwrite").save()
        graft.GraftCaches.clearAll()
        (System.nanoTime() - t0) / 1e9
      }
      val many = screen(root)
      val compactedDir = root + "-compacted"
      val t1 = System.nanoTime()
      val nChunks = Dedup.chunkIndexCompact(spark, root, compactedDir)
      val compactSec = (System.nanoTime() - t1) / 1e9
      graft.GraftCaches.clearAll()
      val one = screen(compactedDir)
      // Compaction must preserve the summed counts exactly.
      val tot = Dedup.chunkIndexRead(spark, root)
        .agg(sum("df_cnt")).collect()(0).getLong(0)
      val totC = Dedup.chunkIndexRead(spark, compactedDir)
        .agg(sum("df_cnt")).collect()(0).getLong(0)
      require(tot == totC, s"compaction changed totals: $tot != $totC")
      println(f"screen over 100 epochs: $many%.1f s; compact once " +
        f"($nChunks chunks): $compactSec%.1f s; screen over 1 epoch: " +
        f"$one%.1f s (ratio ${one / many}%.2f)")
      // Generous noise bound (shared hardware): the compacted screen
      // must not be structurally slower; the printed ratio is the
      // real signal.
      require(one < many * 1.5,
        f"compacted screen ($one%.1f s) should not exceed 1.5x the " +
          f"100-epoch screen ($many%.1f s)")
    }
    time("span-index compaction: screen cost after 100 epoch appends") {
      // The span family's twin of the chunk probe above: 100 tiny
      // committed span epochs vs their single-epoch fold, measured
      // through the boilerplate screen Ingest.ingestBatch's span gate
      // rides (spanCompactEvery triggers the fold automatically).
      val root = java.nio.file.Files.createTempDirectory("stress-spidx-")
        .toString + "/idx"
      val slice = docs1.limit(50).cache()
      slice.count()
      (0 until 100).foreach { i =>
        Spans.spanIndexAppend(
          slice.withColumn("doc_id", col("doc_id") + lit(i * 100000L)),
          "doc_id", "text", root, f"epoch-$i%03d")
      }
      val batch = docs1.limit(200).cache()
      batch.count()
      def screen(idxDir: String): Double = {
        val t0 = System.nanoTime()
        Spans.spanScreenIndexed(
            batch, Spans.spanIndexRead(spark, idxDir), "doc_id", "text")
          .write.format("noop").mode("overwrite").save()
        graft.GraftCaches.clearAll()
        (System.nanoTime() - t0) / 1e9
      }
      val many = screen(root)
      val compactedDir = root + "-compacted"
      val t1 = System.nanoTime()
      val nSpans = Spans.spanIndexCompact(spark, root, compactedDir)
      val compactSec = (System.nanoTime() - t1) / 1e9
      graft.GraftCaches.clearAll()
      val one = screen(compactedDir)
      val tot = Spans.spanIndexRead(spark, root)
        .agg(sum("df_cnt")).collect()(0).getLong(0)
      val totC = Spans.spanIndexRead(spark, compactedDir)
        .agg(sum("df_cnt")).collect()(0).getLong(0)
      require(tot == totC, s"compaction changed totals: $tot != $totC")
      println(f"screen over 100 epochs: $many%.1f s; compact once " +
        f"($nSpans spans): $compactSec%.1f s; screen over 1 epoch: " +
        f"$one%.1f s (ratio ${one / many}%.2f)")
      require(one < many * 1.5,
        f"compacted screen ($one%.1f s) should not exceed 1.5x the " +
          f"100-epoch screen ($many%.1f s)")
    }
    time("vector-index compaction: probe cost after 100 appends") {
      // The vector-file growth curve Ingest.ingestBatch's ivfCompactFiles
      // trigger exists to bound: 100 tiny indexAppends (the file tail a
      // recurring ingestion loop leaves between compactions) each land
      // their own parquet file, so every probe pays 100x listing/footer/
      // row-group overhead; IVF.indexCompact folds them into cell-sorted
      // right-sized files. Probe latency must be FLAT across the fold —
      // compacted no slower, same top-k rows, totals preserved.
      import graft.functions.IVF
      val root = java.nio.file.Files.createTempDirectory("stress-ivfidx-")
        .toString
      val idxDir = root + "/idx"
      val seed = emb1.limit(256).cache()
      seed.count()
      IVF.buildIvfIndex(seed).write(idxDir)
      (0 until 100).foreach { i =>
        IVF.indexAppend(
          emb1.limit(5).withColumn("vec_id", col("vec_id") + lit(10000L + i * 100L)),
          idxDir)
      }
      val nFiles = new java.io.File(idxDir + "/vectors").listFiles()
        .count(_.getName.endsWith(".parquet"))
      println(s"append tail = $nFiles vector files")
      require(nFiles >= 100, s"each append should land a file, got $nFiles")
      val queries = emb1.limit(8).cache()
      queries.count()
      def probe(dir: String): Double = {
        val idx = IVF.IvfIndex.read(spark, dir)
        val t0 = System.nanoTime()
        (0 until 3).foreach { _ =>
          IVF.ivfTopKIndexed(queries, idx, k = 10)
            .write.format("noop").mode("overwrite").save()
          graft.GraftCaches.clearAll()
        }
        (System.nanoTime() - t0) / 1e9
      }
      val tail = probe(idxDir)
      val compactedDir = root + "/idx-compacted"
      val t1 = System.nanoTime()
      val nVecs = IVF.indexCompact(spark, idxDir, compactedDir)
      val compactSec = (System.nanoTime() - t1) / 1e9
      val nFilesC = new java.io.File(compactedDir + "/vectors").listFiles()
        .count(_.getName.endsWith(".parquet"))
      require(spark.read.parquet(compactedDir + "/vectors").count() == nVecs &&
        nVecs == spark.read.parquet(idxDir + "/vectors").count(),
        "compaction changed vector totals")
      val one = probe(compactedDir)
      println(f"3 probes over $nFiles files: $tail%.1f s; compact once " +
        f"($nVecs vectors -> $nFilesC files): $compactSec%.1f s; " +
        f"3 probes compacted: $one%.1f s (ratio ${one / tail}%.2f)")
      // Generous noise bound (shared hardware), as for the chunk-index
      // probe: the compacted probe must not be structurally slower.
      require(one < tail * 1.5,
        f"compacted probe ($one%.1f s) should not exceed 1.5x the " +
          f"append-tail probe ($tail%.1f s)")
    }
    time("pq-index compaction: ADC probe cost after 100 appends") {
      // The PQ twin of the probe above — same growth curve, same
      // ivfCompactFiles-style trigger (pqCompactFiles), but the probe is
      // the stored-code ADC scan, so the per-file overhead it bounds is
      // listing + footer against ~4 B/vector code rows.
      import graft.functions.PQ
      val root = java.nio.file.Files.createTempDirectory("stress-pqidx-")
        .toString
      val idxDir = root + "/idx"
      val seed = emb1.limit(256).cache()
      seed.count()
      PQ.buildPqIndex(seed, dim = 64).write(idxDir)
      (0 until 100).foreach { i =>
        PQ.indexAppend(
          emb1.limit(5).withColumn("vec_id", col("vec_id") + lit(10000L + i * 100L)),
          idxDir)
      }
      val nFiles = new java.io.File(idxDir + "/codes").listFiles()
        .count(_.getName.endsWith(".parquet"))
      println(s"append tail = $nFiles code files")
      require(nFiles >= 100, s"each append should land a file, got $nFiles")
      val queries = emb1.limit(8).cache()
      queries.count()
      def probe(dir: String): Double = {
        val idx = PQ.PqIndex.read(spark, dir)
        val t0 = System.nanoTime()
        (0 until 3).foreach { _ =>
          PQ.ivfpqTopKIndexed(queries, idx, k = 10)
            .write.format("noop").mode("overwrite").save()
          graft.GraftCaches.clearAll()
        }
        (System.nanoTime() - t0) / 1e9
      }
      val tail = probe(idxDir)
      val compactedDir = root + "/idx-compacted"
      val t1 = System.nanoTime()
      val nCodes = PQ.indexCompact(spark, idxDir, compactedDir)
      val compactSec = (System.nanoTime() - t1) / 1e9
      val nFilesC = new java.io.File(compactedDir + "/codes").listFiles()
        .count(_.getName.endsWith(".parquet"))
      require(spark.read.parquet(compactedDir + "/codes").count() == nCodes &&
        nCodes == spark.read.parquet(idxDir + "/codes").count(),
        "compaction changed code totals")
      val one = probe(compactedDir)
      println(f"3 ADC probes over $nFiles files: $tail%.1f s; compact once " +
        f"($nCodes codes -> $nFilesC files): $compactSec%.1f s; " +
        f"3 probes compacted: $one%.1f s (ratio ${one / tail}%.2f)")
      require(one < tail * 1.5,
        f"compacted ADC probe ($one%.1f s) should not exceed 1.5x the " +
          f"append-tail probe ($tail%.1f s)")
    }
    time("lsh ann topk (5 queries) @ 20k vectors")(
      Vectors.lshTopK(emb10.filter(col("vec_id") < 5), emb10, 64, 10)
        .write.format("noop").mode("overwrite").save())
    time("bruteforce near-dups (block-pair) @ 20k vectors")(
      println("exact pairs=" +
        Vectors.bruteForceNearDups(emb10, 0.45, numBlocks = 32).count()))
    time("embed_outliers @ 20k vectors") {
      // Cells scale as sqrt(n), so per-cell percentile buffers stay
      // ~sqrt(n) no matter the corpus size.
      println("outliers=" + graft.functions.IVF.embedOutliers(emb10)
        .filter(col("outlier")).count())
    }
    time("knn label vote (20 queries) @ 20k vectors") {
      // Rides bruteForceTopK's two-phase rank; the vote join broadcasts
      // the bounded top-k frame into the label scan, so the corpus side
      // is touched exactly twice (scan for scores, pruned scan for
      // labels) regardless of replication factor.
      Vectors.knnClassify(emb10.filter(col("vec_id") < 20), emb10, "label", 10)
        .write.format("noop").mode("overwrite").save()
    }

    time("bpe train+encode @ 100k docs, 150k-word vocabulary — encode shuffles nothing") {
      // Tokenizer at scale: the vocabulary (one unique word per doc +
      // one per 2 docs + a hot tail) is ~40x past maxTrainWords, so the
      // dictionary TakeOrdered must frequency-truncate it into a
      // bounded driver model; the ENCODE pass is then a pure
      // broadcast-model map — the listener asserts its job moves
      // essentially nothing through any shuffle (only count()'s
      // partial-row exchange: <= one record per partition).
      import graft.functions.Bpe
      val n = 100000L
      val docs = spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ",
          lit("the quick brown corpus pipeline tokenizer"),
          concat(lit("unique"), col("id")),
          concat(lit("shared"), (col("id") % 50000L)),
          lit("stress run sequence packing budget")).as("text"))
        .cache()
      docs.count()
      val model = Bpe.bpeTrain(docs, "text", numMerges = 64,
        maxTrainWords = 4096)
      require(model.mergeList.length == 64,
        s"hot words repeat plenty — expected all 64 merges, got " +
          s"${model.mergeList.length}")
      val (total, ceiling, _) = shuffleRead {
        Bpe.bpeCount(docs, "doc_id", "text", model)
          .agg(sum("n_tokens_bpe")).head.getLong(0)
      }
      // 12+ whitespace words/doc, each >= 1 model token.
      require(total >= n * 12,
        s"implausible token mass for 100k 12-word docs: $total")
      println(s"max task shuffle-read records = $ceiling " +
        s"(docs = $n, token mass = $total)")
      require(ceiling <= 64,
        s"the encode pass shuffled row data: $ceiling records " +
          "(must be the count aggregate's partials only)")
    }

    time("pack_nosplit @ 100k docs, 64 shards — balanced greedy, capacity + dominance hold") {
      // The no-split packer at 20x the bench corpus: ONE doc-sized
      // exchange, md5-balanced shards (the listener asserts no task
      // funnels more than a small multiple of the mean shard), every
      // bin within capacity DISTRIBUTED-checked, and First-Fit
      // Decreasing must dominate the streaming Next-Fit both in bins
      // and never fall below the information-theoretic floor
      // ceil(mass/budget).
      import graft.ops.TrainShuffle
      val ff = TrainShuffle.packNoSplit(docs20, "doc_id", "text",
        numShards = 64, budget = 256).cache()
      // Listener scoped to the cache-fill job ONLY: that is the job whose
      // shuffle is the doc-sized pack exchange. The later audit
      // aggregates emit thousands of TINY partial rows that AQE rightly
      // coalesces into few tasks — record counts there say nothing about
      // shard balance.
      val (nDocs, ceiling, _) = shuffleRead(ff.count())
      try {
        require(nDocs == docs20.count(),
          s"packer dropped rows: $nDocs of ${docs20.count()}")
        val overCap = ff.groupBy("shard", "bin")
          .agg(sum(least(col("n_tokens"), lit(256L))).as("mass"))
          .filter(col("mass") > 256L).count()
        require(overCap == 0, s"$overCap bins over capacity")
        def bins(df: DataFrame): Long = df.groupBy("shard")
          .agg((max("bin") + 1L).as("b")).agg(sum("b")).head.getLong(0)
        val ffBins = bins(ff)
        val nfBins = bins(TrainShuffle.packNoSplit(docs20, "doc_id", "text",
          numShards = 64, budget = 256, strategy = "nextfit"))
        require(ffBins <= nfBins,
          s"first-fit used MORE bins than next-fit: $ffBins > $nfBins")
        val mass = ff.agg(sum(least(col("n_tokens"), lit(256L))))
          .head.getLong(0)
        require(ffBins >= (mass + 255L) / 256L,
          s"bins below the mass floor: $ffBins < ${(mass + 255L) / 256L}")
        println(s"ffBins=$ffBins nfBins=$nfBins " +
          f"fill=${mass.toDouble / (ffBins * 256L)}%.3f " +
          s"max task shuffle-read records = $ceiling")
        // Mean shard = 100k/64 ~ 1.6k docs, and hash-partitioning 64
        // shard VALUES into 64 partitions collides (balls-in-bins max
        // load ~ 4-5 shards on one task — measured 4), so a healthy
        // task tops out near 5x the mean. A genuine funnel (one task
        // reading a shard-count-INDEPENDENT share of the corpus) is an
        // order of magnitude above this ceiling.
        require(ceiling <= 16384,
          s"a task funneled $ceiling records — shard balance broke")
      } finally ff.unpersist()
    }

    time("pack_nosplit_ids @ 100k docs — whole-doc arrays ride the exchange, no token explode") {
      // The SFT materialization's design claim, asserted: because bins
      // hold WHOLE docs, the ids travel as intact per-doc arrays (one
      // record per doc through the pack exchange, one per bin out of
      // the rollup) — the job's TOTAL shuffle-read record count stays
      // a small multiple of the DOC count. If someone reintroduces a
      // token-level explode or a corpus-sized join-back, total records
      // jump to the token mass (~170x the docs here) and this trips.
      import graft.ops.TrainShuffle
      import graft.functions.Bpe
      val model = Bpe.bpeTrain(docs20, "text", numMerges = 32,
        maxTrainWords = 4096)
      val nDocs = docs20.count()
      val (_, _, total) = shuffleRead {
        TrainShuffle.packNoSplitIds(docs20, "doc_id", "text", model,
            numShards = 64, budget = 256)
          .write.format("noop").mode("overwrite").save()
      }
      println(s"total shuffle-read records = $total over $nDocs docs")
      require(total <= 4L * nDocs,
        s"the ids export moved $total records for $nDocs docs — " +
          "token-level explode or join-back reintroduced")
    }

    time("binary shard export @ 100k docs — round trip digest-gated, flat 4B/id files") {
      // The loader-native artifact at scale: write the packed export as
      // .bin/.idx, read it back, and require the per-shard integrity
      // digests computed FROM THE FILES to equal the frame's own — the
      // same equality the pack_ids_digest oracle gates at sf0.01/sf0.1,
      // certified here at 20x with 64 shard files. Also pins the format
      // contract (exactly 4 bytes per id, no framing) at the byte level.
      import graft.ops.TrainShuffle
      import graft.sources.BinShards
      import graft.functions.Bpe
      val model = Bpe.bpeTrain(docs20, "text", numMerges = 32,
        maxTrainWords = 4096)
      val packed = TrainShuffle.packIdSequences(docs20, "doc_id", "text",
        model, numShards = 64, budget = 256).cache()
      val idMass = packed.agg(sum("n_ids")).collect()(0).getLong(0)
      val binDir = java.nio.file.Files
        .createTempDirectory("stress-bin-").toString
      val nFiles = BinShards.write(packed, binDir, 256, 64,
        resumeToken = "stress-64") // resume below reuses this config
      val binBytes = new java.io.File(binDir).listFiles()
        .filter(_.getName.endsWith(".bin")).map(_.length()).sum
      require(nFiles == 64L && binBytes == 4L * idMass,
        s"binary export: $nFiles files, $binBytes bytes for $idMass ids")
      def dig(df: DataFrame) = TrainShuffle.packDigest(df, 256).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))).toMap
      val a = dig(packed)
      val b = dig(BinShards.read(spark, binDir))
      require(a == b, "file-derived digests diverge from the frame's")
      println(s"64 shard pairs, $idMass ids, ${binBytes / 1048576} MiB, " +
        "digest equality certified")
      // Point-lookup latency at scale: readSequence is a byte seek (no
      // length-table scan), so 128 lookups STRIDED across every shard
      // and into DEEP sequence indices must run in milliseconds each
      // and byte-match the full read — a reader that secretly scanned
      // the length table (or the bin) up to seq would be cheap at
      // seq 0..127 of one shard and slow exactly here. This is the
      // loader's fetch-one-example path.
      val keys = packed.select("shard", "seq").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(identity)
      val stride = math.max(1, keys.length / 128)
      val pickedKeys = keys.indices.by(stride).take(128)
        .map(keys(_)).toSet
      val keyCol = org.apache.spark.sql.functions.col("shard") *
        1000000000L + org.apache.spark.sql.functions.col("seq")
      val sample = packed.select("shard", "seq", "ids")
        .filter(keyCol.isin(
          pickedKeys.map { case (sh, sq) => sh * 1000000000L + sq }
            .toSeq: _*))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toList))
      require(sample.length == pickedKeys.size &&
        sample.map(_._1).distinct.length == 64,
        s"probe must cover all 64 shards, got ${sample.length} keys " +
          s"over ${sample.map(_._1).distinct.length} shards")
      val t0 = System.nanoTime()
      sample.foreach { case (sh, sq, ids) =>
        require(BinShards.readSequence(spark, binDir, sh, sq).toList == ids,
          s"point lookup drifted at shard $sh seq $sq")
      }
      val lookupMs = (System.nanoTime() - t0) / 1e6 / sample.length
      println(f"${sample.length} point lookups, $lookupMs%.2f ms each")
      require(lookupMs < 100.0,
        f"point lookup costs $lookupMs%.1f ms — not a byte seek?")
      // Resume economics at scale: tear the export (marker + 4 of 64
      // pairs gone), resume, and require the 60 survivors were KEPT
      // byte-untouched (mtime) while the digests still match the
      // frame's — a 10k-shard job that dies near the end must rewrite
      // its missing tail, not the world.
      val dp = new java.io.File(binDir)
      new java.io.File(dp, "_BIN_COMMIT").delete()
      (0 until 4).foreach { s =>
        new java.io.File(dp, f"shard-$s%05d.bin").delete()
        new java.io.File(dp, f"shard-$s%05d.idx").delete()
      }
      val mt = new java.io.File(dp, "shard-00063.bin").lastModified()
      val t1 = System.nanoTime()
      val nres = BinShards.write(packed, binDir, 256, 64, resume = true,
        resumeToken = "stress-64")
      val resumeSec = (System.nanoTime() - t1) / 1e9
      require(nres == 64L &&
        new java.io.File(dp, "shard-00063.bin").lastModified() == mt,
        "resume rewrote a surviving shard pair")
      require(dig(BinShards.read(spark, binDir)) == a,
        "resumed export's file digests diverge from the frame's")
      println(f"resume after losing 4/64 pairs: $resumeSec%.1f s, " +
        "survivors byte-untouched, digests re-certified")
      packed.unpersist()
    }

    time("multi-epoch export @ 100k docs — one encode pass, distinct layouts") {
      // The end-to-end multi-epoch artifact at 20x: two epoch-salted
      // digest sets from ONE shared cached encode (the epochExport
      // contract; the epoch_export plan gate pins the cache floor at
      // sf0.001 — this certifies the composed cost at scale). Layouts
      // must be distinct permutations; the doc-token mass is salt-
      // independent so totals differ only by the trailing-separator
      // trim (at most one id per shard).
      import graft.ops.TrainShuffle
      import graft.functions.Bpe
      val model = Bpe.bpeTrain(docs20, "text", numMerges = 32,
        maxTrainWords = 4096)
      val rows = TrainShuffle.epochExport(docs20, "doc_id", "text", model,
          numShards = 64, budget = 256,
          epochSalts = Seq("epoch0", "epoch1"))
        .collect()
      val bySalt = rows.groupBy(_.getString(0))
      require(bySalt.keySet == Set("epoch0", "epoch1") &&
        bySalt.values.forall(_.length == 64),
        s"expected 2 x 64 digest rows, got ${rows.length}")
      val digSets = bySalt.view.mapValues(_.map(r =>
        (r.getLong(4), r.getLong(5))).toSet).toMap
      require(digSets("epoch0") != digSets("epoch1"),
        "epoch layouts collided — salting broken at scale?")
      val masses = bySalt.view.mapValues(_.map(_.getLong(3)).sum).toMap
      require(math.abs(masses("epoch0") - masses("epoch1")) <= 64L,
        s"id mass drifted past the separator-trim bound: $masses")
      println(s"2 epochs x 64 shards, masses $masses, disjoint digests")
    }

    time("epoch-append family @ 100k docs — batch-sized refresh, prior epochs byte-untouched") {
      // The recurring pipeline's refresh economics (the sixth managed
      // family): 8 accumulated epochs, then ONE more batch — the
      // append's cost must track the BATCH's encode (~11k docs), never
      // the accumulated corpus's, and must not touch a prior epoch's
      // bytes. The comparison full export re-encodes all 100k docs; a
      // broken append (re-encoding the generation, or sweeping and
      // rewriting committed spans) lands at full-export cost and fails
      // the ratio bound. (The FOLD is corpus-sized by design — it
      // amortizes over compactEvery epochs; its correctness is
      // BinFamilySpec's and bin_fold_digest's job.)
      import graft.ops.TrainShuffle
      import graft.sources.{BinFamily, BinShards}
      import graft.functions.Bpe
      val model = Bpe.bpeTrain(docs20, "text", numMerges = 32,
        maxTrainWords = 4096)
      val root = java.nio.file.Files
        .createTempDirectory("stress-binfam-").toString + "/root"
      def appendOne(i: Int): Double = {
        val t0 = System.nanoTime()
        BinFamily.appendEpoch(
          TrainShuffle.packIdSequences(
            docs20.filter(col("doc_id") % 9 === i), "doc_id", "text",
            model, numShards = 8, budget = 256, salt = s"e$i"),
          root, budget = 256, shardsPerEpoch = 8, epochId = s"e$i",
          compactEvery = 1000)
        (System.nanoTime() - t0) / 1e9
      }
      val tFirst = appendOne(0)
      (1 until 8).foreach(appendOne)
      val genDir = graft.sources.ManagedRoot.resolve(spark, root)
      val early = new java.io.File(
        genDir.stripPrefix("file:"), "shard-00000.bin")
      require(early.exists(), s"probe fixture: no epoch-0 shard at $early")
      val mt = early.lastModified()
      val tNinth = appendOne(8)
      require(early.lastModified() == mt,
        "the 9th append touched epoch 0's bytes — the reserved-span " +
          "contract broke")
      val info = BinShards.commitInfo(spark, root)
      require(info("epochs").toLong == 9L && info("shards").toLong == 72L,
        s"expected 9 epochs x 8 shards, marker says $info")
      // Full read exercises every idx/bin validation over all 9 spans.
      val nSeqs = BinShards.read(spark, root).count()
      val fullDir = java.nio.file.Files
        .createTempDirectory("stress-binfull-").toString
      val tf0 = System.nanoTime()
      BinShards.write(
        TrainShuffle.packIdSequences(docs20, "doc_id", "text", model,
          numShards = 72, budget = 256),
        fullDir, budget = 256, numShards = 72)
      val tFull = (System.nanoTime() - tf0) / 1e9
      println(f"append(batch)=$tNinth%.1f s on an 8-epoch root " +
        f"(first=$tFirst%.1f s), full re-export=$tFull%.1f s, " +
        s"$nSeqs sequences over 72 shards")
      require(tNinth < tFull * 0.55,
        f"the 9th append cost $tNinth%.1f s vs $tFull%.1f s full " +
          "re-export — append is not batch-sized")
      require(tNinth < math.max(tFirst, 1.0) * 3.0,
        f"append cost grew from $tFirst%.1f s (epoch 1) to " +
          f"$tNinth%.1f s (epoch 9) — tracking the corpus, not the batch")
    }

    time("resume keep-test @ 1024 shards — distributed validation, survivors kept") {
      // VERDICT r16 #2: the resume keep-test past 32 candidates runs
      // as ONE bounded Spark job instead of serial driver IO — at 1k+
      // shards the per-pair idx round trips are the resume's startup
      // cost and they parallelize embarrassingly. Tear 4 of 1024
      // pairs, resume, and require survivors byte-untouched with the
      // total resume cost a small fraction of the full export's —
      // a serial keep-test (or a sweep-everything fallback) fails the
      // ratio at exactly this width.
      import graft.ops.TrainShuffle
      import graft.sources.BinShards
      import graft.functions.Bpe
      val model = Bpe.bpeTrain(docs20, "text", numMerges = 32,
        maxTrainWords = 4096)
      val packedW = TrainShuffle.packIdSequences(docs20, "doc_id",
        "text", model, numShards = 1024, budget = 256).cache()
      val wideDir = java.nio.file.Files
        .createTempDirectory("stress-binwide-").toString
      val tw0 = System.nanoTime()
      val nw = BinShards.write(packedW, wideDir, budget = 256,
        numShards = 1024, resumeToken = "stress-wide")
      val tFullW = (System.nanoTime() - tw0) / 1e9
      require(nw == 1024L, s"expected 1024 shard pairs, got $nw")
      val dp = new java.io.File(wideDir)
      new java.io.File(dp, "_BIN_COMMIT").delete()
      (0 until 4).foreach { s =>
        new java.io.File(dp, f"shard-$s%05d.bin").delete()
        new java.io.File(dp, f"shard-$s%05d.idx").delete()
      }
      val mtw = new java.io.File(dp, "shard-01023.bin").lastModified()
      val tr0 = System.nanoTime()
      val nres = BinShards.write(packedW, wideDir, budget = 256,
        numShards = 1024, resume = true, resumeToken = "stress-wide")
      val tRes = (System.nanoTime() - tr0) / 1e9
      require(nres == 1024L &&
        new java.io.File(dp, "shard-01023.bin").lastModified() == mtw,
        "resume rewrote a surviving shard pair at 1024-shard width")
      println(f"1024-shard export $tFullW%.1f s; resume of 4 torn " +
        f"pairs $tRes%.1f s (1020 survivors validated distributed)")
      require(tRes < tFullW * 0.5,
        f"resume cost $tRes%.1f s vs $tFullW%.1f s full export — the " +
          "keep-test is not scaling past the driver loop")
      packedW.unpersist()
    }

    time("bpe train @ 8192 merges over a FULL 32768-word dictionary — incremental pair stats") {
      // The production-vocabulary regime the naive per-merge rescan
      // cannot reach (numMerges x whole-dictionary pair mass ~ 10^10
      // HashMap visits = hours driver-side): the incremental loop's
      // work tracks only the postings each merge actually touches, so
      // a realistic vocab trains in seconds. Dictionary: 32768 distinct
      // seeded-random words under a Zipf count profile (the natural-
      // language shape — a hot head that merges deep, a long tail).
      import graft.functions.Bpe
      val rng = new scala.util.Random(42)
      val letters = "abcdefghijklmnopqrstuvwxyz"
      val dict = (0 until 32768).map { rank =>
        val len = 3 + rng.nextInt(10)
        val w = new StringBuilder
        var i = 0
        while (i < len) { w += letters(rng.nextInt(26)); i += 1 }
        (w.toString + rank, 1000000L / (rank + 1) + 1L)
      }
      val t0 = System.nanoTime()
      val merges = Bpe.trainMerges(dict, numMerges = 8192)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"8192 merges over 32768 words: $sec%.1f s " +
        f"(learned ${merges.length})")
      require(merges.length == 8192,
        s"a 32k-word random-letter dictionary has pair mass for far " +
          s"more than 8192 merges — got only ${merges.length}")
      // Seconds, not minutes: the incremental loop's contract. The
      // bound is deliberately loose (shared CI box) — the naive loop
      // measures in tens of minutes here, so 60 s separates the
      // complexity classes with a wide margin.
      require(sec < 60.0,
        f"incremental BPE training took $sec%.1f s for 8192 merges — " +
          "the per-merge cost is not tracking postings")
    }

    time("nlist ceiling: MaxNlist+1 fails LOUD before any driver pull") {
      // The quantizer contract probe: every train/search path collects
      // nlist centroids to the driver and broadcasts them back, so an
      // uncontracted nlist would silently turn "bounded collect" into a
      // multi-GB pull at 10^10 vectors (nlist auto-scales sqrt(n) only
      // up to DriverTrainCap; EXPLICIT nlist is where the hole was).
      // The require must fire at entry — before any job runs.
      import graft.functions.IVF
      val thrown =
        try { IVF.trainCentroids(emb1, IVF.MaxNlist + 1); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("MaxNlist") }
      require(thrown, "nlist past MaxNlist must fail loud with the contract")
      println(s"MaxNlist=${IVF.MaxNlist} enforced at trainCentroids entry")
    }

    val ev1 = GraftSession.table(spark, dir, "events")
    val ev10 = times(times(ev1, "event_id", 10, 100000000L), "user_id", 1, 0)
      .withColumn("user_id", col("user_id") + (col("event_id") / 100000000L).cast("long") * 10000L)
      .cache()
    println(s"[stress] events x10 = ${ev10.count()} rows (distinct users x10)")
    val region = GraftSession.table(spark, dir, "region")
    time("effective alarms @ 1M events") {
      val out = AlarmPipeline.effectiveAlarms(
        EventsAlarmAdapter.instances(ev10), EventsAlarmAdapter.classes(region),
        EventsAlarmAdapter.activations(ev10), EventsAlarmAdapter.overrides(ev10))
      println("alarms=" + out.count())
    }
    spark.stop()
  }
}
