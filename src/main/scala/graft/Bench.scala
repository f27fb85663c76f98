package graft

import org.apache.spark.sql.SparkSession

/**
 * Bench surface: one JSON line with per-query seconds at SPARK_GRAFT_SF_DIR.
 *
 * Queries are warmed once at sf0.001 (codegen + JIT + catalog caches) so the
 * measured pass reflects execution, not first-compile overhead; results are
 * materialized through the noop sink so every operator actually runs
 * (count() alone lets Catalyst prune projections).
 *
 * CACHE ISOLATION (round 12): every measured query runs with a CLEAN
 * executor storage pool — `spark.catalog.clearCache()` before its timer
 * starts, and the query's own operator-internal persists confined to a
 * [[GraftCaches.scoped]] block that unpersists them when it finishes. No
 * query's number depends on which siblings ran before it. Through round
 * 11 caches were deliberately shared (a report rollup rode its siblings'
 * persisted subtrees), which made individual timings bimodal on LRU
 * state: the round-11 driver rerun of IDENTICAL code moved three
 * code-unchanged queries > 2x (dedup_report 1.71 <-> 7.75 s), so the 2x
 * perf gate was unenforceable. Isolation re-times each query's FULL
 * standalone cost — absolute totals are therefore NOT comparable to
 * rounds <= 11; per-query numbers are comparable round-over-round from
 * round 12 on, and the per-query [min, max] spread is committed next to
 * every median so a delta must clear the measured noise band to count.
 */
object Bench {
  def main(args: Array[String]): Unit = {
    // Validate GRAFT_ROUND (the round-keyed summary's key) BEFORE any
    // work: a malformed value failing only at the summary write would
    // arrive after the entire measured run it was supposed to label.
    // =1 is ACCEPTED (a legitimate first-round invocation writes
    // BENCH_SUMMARY_r01; only the INFERRED-round fallback skips r1,
    // because an empty artifact dir would infer it spuriously).
    sys.env.get("GRAFT_ROUND").foreach { raw =>
      require(raw.toIntOption.exists(_ >= 1),
        s"GRAFT_ROUND='$raw' is not an integer >= 1 — fix the env (the " +
          "round-keyed BENCH_SUMMARY_r{N} would otherwise be silently " +
          "skipped, after the whole run)")
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // Match GraftSession.local: coalesce to the advisory partition
      // size, not to parallelism (the Spark tuning guide's production
      // recommendation — parallelismFirst=true manufactures tiny
      // post-shuffle tasks at every scale).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def runOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame, dir: String): Unit =
      fn(spark, dir).write.format("noop").mode("overwrite").save()

    val only = SparkEntry.selected
    val queries = SparkEntry.queries.filter { case (k, _) => only(k) }

    // Warmup at the smallest SF (cheap; compiles every query's codegen).
    // Scoped + cleared like the measured passes so no warmup persist
    // leaks into the first query's storage pool.
    queries.foreach { case (_, fn) =>
      try GraftCaches.scoped { runOne(fn, "/root/testdata/sf0.001") }
      catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()

    // Per-query isolation (see the object Scaladoc): clear the cache and
    // GC OUTSIDE the timer, run the query's own persists inside a scoped
    // block (unpersisted on exit), so a previous query's garbage,
    // persisted subtrees, or LRU evictions never land in this one's
    // timing. THREE full measured passes with per-query MEDIAN because
    // single-shot timings on a shared box swing +-40% from
    // GC/page-cache/JIT noise, and round-over-round comparisons of a
    // single pass (or a min of two) were dominated by that noise rather
    // than by the diff under test.
    // Errors are tracked PER PASS: a query that fails in some passes but
    // succeeds in another reports the successful passes' median
    // (transient GC/OOM blips shouldn't mark a working query broken);
    // only a query that failed in EVERY pass is flagged and has its time
    // negated (a crashed query must not masquerade as fast).
    def measure(): (Map[String, Double], Map[String, String]) = {
      val errs = scala.collection.mutable.LinkedHashMap[String, String]()
      val times = queries.map { case (name, fn) =>
        // Isolation outside the timer: drop EVERY cached block (scoped
        // unpersist covers the query's own registrations; clearCache
        // covers CacheManager plan-dedup survivors and anything a
        // crashed sibling left behind), then GC the freed storage.
        GraftCaches.clearAll()
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        try GraftCaches.scoped { runOne(fn, sfDir) }
        catch { case e: Throwable =>
          errs(name) = e.toString.takeWhile(_ != '\n').take(200)
        }
        name -> (System.nanoTime() - t0) / 1e9
      }
      (times, errs.toMap)
    }
    val passes = (1 to 3).map(_ => measure())
    // Lower-middle median: n=3 -> middle, n=2 -> min (conservative when a
    // pass dropped out), n=1 -> the one success.
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      s((s.length - 1) / 2)
    }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = queries.keys.map { k =>
      val ok = passes.collect { case (t, e) if !e.contains(k) => t(k) }.toSeq
      if (ok.isEmpty) {
        errors(k) = passes.last._2(k)
        k -> median(passes.map(_._1(k)).toSeq)
      } else k -> median(ok)
    }.toMap
    // Per-query spread across the passes that SUCCEEDED — the noise band
    // a round-over-round comparison must clear before a delta is signal.
    // With per-query cache isolation (round 12) the spread measures pure
    // harness noise (GC/page-cache/JIT), not LRU bimodality; it is
    // committed into BENCH_SUMMARY next to the medians so the band is
    // inspectable without re-running.
    val spreads = queries.keys.map { k =>
      val xs0 = passes.collect { case (t, e) if !e.contains(k) => t(k) }.toSeq
      val xs = if (xs0.isEmpty) passes.map(_._1(k)).toSeq else xs0
      k -> (xs.min, xs.max)
    }.toMap
    // Per-query maps are emitted SORTED BY NAME: the driver keeps only a
    // bounded stdout tail, and an unordered (hash-map) emission made the
    // surviving subset differ per round — only 57 of 99 queries were
    // round-over-round comparable in round 9. Sorted keys make truncation
    // keep the same alphabetical suffix every round, so whatever survives
    // is diffable against the prior round's survivors.
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":" + (if (errors.contains(k)) -v else v)
    }.mkString("{", ",", "}")
    def jstr(s: String) =
      "\"" + s.flatMap(c => if (c == '"' || c == '\\') "\\" + c else c.toString) + "\""
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    val total = results.collect { case (k, v) if !errors.contains(k) => v }.sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"sf":"$sfDir"}"""
    println(line)
    // The driver captures stdout with a bounded tail — rounds 5/6 lost ~10
    // of 77 per-query timings to truncation. The COMPLETE line also lands
    // in a file (overwritten per run) so per-query comparison across
    // rounds never depends on how much tail survived. The file line adds
    // the per-query [min, max] spread (median is the headline number).
    val spreadJson = spreads.toSeq.sortBy(_._1).map { case (k, (lo, hi)) =>
      "\"" + k + "\":[" + lo + "," + hi + "]"
    }.mkString("{", ",", "}")
    val fullLine = line.stripSuffix("}") + s""","spread":$spreadJson}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: $e") }
    // COMMITTED round-over-round record: BENCH_FULL.json is git-ignored
    // and the stdout tail is truncated, so a compact name->median file
    // (totals first, keys sorted, 3 decimals) is written to the repo —
    // small enough to commit whole, stable enough to diff per round.
    val sumQs = results.toSeq.sortBy(_._1).map { case (k, v) =>
      val r = math.rint((if (errors.contains(k)) -v else v) * 1000) / 1000
      "\"" + k + "\":" + r
    }.mkString("{", ",", "}")
    // min/med/max per query in the COMMITTED summary (median lives in
    // "queries"): the reproducibility contract is only auditable when
    // the noise band ships next to the headline number.
    val sumSpread = spreads.toSeq.sortBy(_._1).map { case (k, (lo, hi)) =>
      "\"" + k + "\":[" + math.rint(lo * 1000) / 1000 + "," +
        math.rint(hi * 1000) / 1000 + "]"
    }.mkString("{", ",", "}")
    val sumLine =
      s"""{"metric":"total","value":${math.rint(total * 1000) / 1000},""" +
        s""""unit":"sec","n_queries":${results.size},""" +
        s""""n_errors":${errors.size},"sf":"$sfDir","queries":$sumQs,""" +
        s""""spread":$sumSpread}"""
    val sumPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY",
      "BENCH_SUMMARY.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(sumPath),
      (sumLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $sumPath: $e") }
    // BENCH_SUMMARY.json is overwritten per run, so its history lives
    // only in git archaeology. Also write a ROUND-KEYED copy
    // (BENCH_SUMMARY_r{N}.json). N comes from the GRAFT_ROUND env when
    // set — the UNAMBIGUOUS keying; the round-11 "119 s vs 177 s"
    // confusion was partly the builder's exit run and the driver's
    // post-commit run inferring different N around the commit point.
    // Fallback (GRAFT_ROUND unset): max committed CORRECTNESS_r{K} + 1
    // (the driver writes those at round end, so during round N the
    // newest is r{N-1}).
    // (GRAFT_ROUND already validated at the top of main — toInt here
    // cannot throw.)
    try {
      val roundN = sys.env.get("GRAFT_ROUND").map(_.toInt).getOrElse {
        val dir = java.nio.file.Paths.get(".")
        val rx = "CORRECTNESS_r(\\d+)\\.json".r
        var maxR = 0
        val listing = java.nio.file.Files.list(dir)
        try {
          val rounds = listing.iterator()
          while (rounds.hasNext) {
            rounds.next().getFileName.toString match {
              case rx(n) => maxR = math.max(maxR, n.toInt)
              case _ =>
            }
          }
        } finally listing.close()
        maxR + 1
      }
      // An EXPLICIT GRAFT_ROUND always writes its summary (incl. r1);
      // the inferred fallback skips r1 only because an artifact-less
      // working dir infers maxR+1 = 1 spuriously.
      if (roundN > 1 || sys.env.contains("GRAFT_ROUND")) {
        val roundPath = f"BENCH_SUMMARY_r$roundN%02d.json"
        java.nio.file.Files.write(java.nio.file.Paths.get(roundPath),
          (sumLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write round summary: $e") }
    spark.stop()
  }
}
