package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

import graft.{GraftCaches, SparkEntry}

/**
 * `corpus-queries`: one `SparkEntry` query per batch module group at sf0.1,
 * warm, in a seed-shuffled order, with Bench's per-query isolation outside
 * the timer. Each query's output is checked against a committed digest (row
 * count plus an order-independent content hash) observed on the same noop
 * write that is timed, so the check costs no extra job.
 */
object CorpusBench {

  /**
   * (module group, query): one query per batch module the alarm workload
   * does not reach, as many as fit the run budget, plus one statement
   * through `GraftExtensions`. bin_append_digest also runs ops.TrainShuffle
   * packing and the functions.Bpe tokenizer.
   */
  val Queries: Seq[(String, String)] = Seq(
    "functions.Dedup" -> "chunk_dedup_indexed",
    "sources.BinFamily" -> "bin_append_digest",
    "rules.AlarmPipeline" -> "jaws_effective_notifications",
    "graft.relational" -> "sql_surface",
    "graft.relational" -> "sql_graft_neardup")

  /**
   * SQL the harness runs through the table functions `GraftExtensions`
   * injects (installed in the benchmark session): no `SparkEntry` query
   * calls one from SQL.
   */
  val SqlQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_graft_neardup" -> ((s, dir) => s.sql(
      s"SELECT id_a, id_b, jaccard FROM graft_neardup('$dir/documents.parquet', 'doc_id', 'text', 0.8)")))

  private def query(name: String): (SparkSession, String) => DataFrame =
    SqlQueries.getOrElse(name, SparkEntry.queries(name))

  final case class Digest(rows: Long, lo: Long, hi: Long) {
    def line(q: String): String = s"$q\t$rows\t$lo\t$hi"
  }

  def readGolden(p: Path): Map[String, Digest] =
    Files.readAllLines(p, UTF_8).asScala.filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
      val Array(q, r, lo, hi) = l.split('\t')
      q -> Digest(r.toLong, lo.toLong, hi.toLong)
    }.toMap

  private def hashable(df: DataFrame): Column = {
    def plain(t: org.apache.spark.sql.types.DataType): Boolean = t match {
      case _: MapType => false
      case s: StructType => s.fields.forall(f => plain(f.dataType))
      case a: ArrayType => plain(a.elementType)
      case _ => true
    }
    if (df.schema.fields.forall(f => plain(f.dataType))) xxhash64(df.columns.map(col).toIndexedSeq: _*)
    else xxhash64(to_json(struct(df.columns.map(col).toIndexedSeq: _*)))
  }

  /**
   * `df` with its row count and an order-independent content hash observed
   * into `obs` by whatever action runs it; read them with [[digestOf]].
   */
  def observeDigest(df: DataFrame, obs: Observation): DataFrame = {
    val h = hashable(df)
    df.observe(obs, count(lit(1)).as("rows"),
      sum(h.bitwiseAND(lit(0xFFFFFFFFL))).as("lo"),
      sum(shiftrightunsigned(h, 32)).as("hi"))
  }

  def digestOf(obs: Observation): Digest = {
    val m = obs.get
    def l(k: String) = Option(m(k)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    Digest(l("rows"), l("lo"), l("hi"))
  }

  /** Runs that failed: an exception, or an output digest other than the golden one. */
  def failures(expected: Map[String, Digest],
      got: Seq[(String, Either[Throwable, Digest])]): Seq[(String, String)] =
    got.collect {
      case (q, Left(e)) => q -> e.toString.take(300)
      case (q, Right(d)) if !expected.get(q).contains(d) => q -> s"digest $d != ${expected.get(q)}"
    }

  /** Wall split of one query run, with the digest of its output. */
  final case class Run(buildS: Double, writeS: Double, digest: Digest) {
    def wallS: Double = buildS + writeS
  }

  /** Build and noop-write one query under Bench's isolation. */
  def runQuery(spark: SparkSession, name: String, dir: String, ctx: Main.Ctx): Run = {
    GraftCaches.clearAll()
    spark.catalog.clearCache()
    System.gc()
    GraftCaches.scoped {
      val t0 = System.nanoTime()
      val df = ctx.phase(s"$name.build") { query(name)(spark, dir) }
      val t1 = System.nanoTime()
      val obs = Observation()
      ctx.phase(s"$name.write") {
        observeDigest(df, obs).write.format("noop").mode("overwrite").save()
      }
      val t2 = System.nanoTime()
      Run((t1 - t0) / 1e9, (t2 - t1) / 1e9, digestOf(obs))
    }
  }

  def run(spark: SparkSession, data: Path, golden: Path, seed: Long, seconds: Int,
      ctx: Main.Ctx, onReady: () => Unit): Main.Outcome = {
    val sf = data.resolve("sf0.1").toString
    val expected = readGolden(golden)
    // Warm up on the measured scale itself: after a warmup at sf0.001 the
    // first sf0.1 runs were still 50-70% slower than later ones. The
    // measured run is each query's second execution in the JVM.
    ctx.phase("warmup") {
      Queries.foreach { case (_, q) => runQuery(spark, q, sf, Main.Ctx.untraced) }
    }
    onReady()
    val order = new scala.util.Random(seed).shuffle(Queries)
    // Whole passes; another one only when it should end within `seconds`.
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val runs = Vector.newBuilder[(String, String, Either[Throwable, Run])]
    var passes = 0
    while (passes == 0 || elapsed * (passes + 1) / passes <= seconds) {
      order.foreach { case (group, q) =>
        runs += ((group, q,
          try Right(runQuery(spark, q, sf, ctx)) catch { case e: Exception => Left(e) }))
      }
      passes += 1
    }
    val all = runs.result()
    val failed = failures(expected, all.map { case (_, q, r) => q -> r.map(_.digest) })
    failed.foreach { case (q, why) => Main.log(s"$q failed: $why") }
    val ok = all.collect { case (g, q, Right(r)) if !failed.exists(_._1 == q) => (g, q, r) }
    val wallByQuery = ok.groupBy(_._2).map { case (q, rs) => q -> Stats.median(rs.map(_._3.wallS)) }
    val walls = wallByQuery.values.toSeq
    val e2e =
      if (walls.isEmpty) Map.empty[String, Double]
      else Map(
        "latency_p50_ms" -> Stats.median(walls) * 1e3,
        // Fewer than eleven queries: no percentile leaves ten beyond it, so
        // the tail of this fixed query set is its slowest query.
        "latency_tail_ms" -> walls.max * 1e3,
        "throughput_per_s" -> walls.size / walls.sum)
    Main.Outcome(e2e, groupLayers(ok, ctx), all.size.toLong, failed.size.toLong,
      Map("passes" -> passes.toString,
        "walls_s" -> wallByQuery.toSeq.sorted.map { case (q, w) => f"$q=$w%.3f" }.mkString(",")))
  }

  /**
   * Per group (traced run only): medians over passes of the group's summed
   * wall split and task metrics of the jobs under its queries' phase spans.
   * `plan_s` is the writes' own analysis + optimization + planning time from
   * `QueryPlanningTracker`, so wall = build + plan + exec.
   */
  private def groupLayers(ok: Seq[(String, String, Run)],
      ctx: Main.Ctx): Map[String, Double] = ctx.tracer match {
    case None => Map.empty
    case Some(t) =>
      val spans = t.phaseSpans.groupBy(_.name).map { case (k, v) => k -> v.sortBy(_.start) }
      ok.groupBy(_._1).flatMap { case (group, rs) =>
        // Pass i of the group: the i-th run of each of its queries.
        val passes = rs.groupBy(_._2).values.map(_.map(_._3)).toSeq.transpose
        val names = rs.map(_._2).distinct
        val byPass = passes.indices.map { i =>
          val builds = names.map(q => spans(s"$q.build")(i))
          val writes = names.map(q => spans(s"$q.write")(i))
          (passes(i), writes.map(t.planMsWithin(_) / 1e3).sum, t.taskAgg((builds ++ writes).map(_.id).toSet))
        }
        def m(f: ((Seq[Run], Double, Tracer.Agg)) => Double) = Stats.median(byPass.map(f))
        Map(
          s"$group.wall_s" -> m(_._1.map(_.wallS).sum),
          s"$group.build_s" -> m(_._1.map(_.buildS).sum),
          s"$group.plan_s" -> m(_._2),
          s"$group.exec_s" -> m(p => p._1.map(_.writeS).sum - p._2),
          s"$group.task_cpu_s" -> m(_._3.taskCpuS),
          s"$group.gc_s" -> m(_._3.gcS),
          s"$group.shuffle_bytes" -> m(_._3.shuffleBytes),
          s"$group.spill_bytes" -> m(_._3.spillBytes),
          s"$group.task_skew" -> m(_._3.taskSkew))
      }
  }

  /** Record golden digests at `sfDir` (run from the commit the digests pin). */
  def recordGolden(spark: SparkSession, sfDir: String, out: Path): Unit = {
    val lines = Queries.map { case (_, q) =>
      val a = runQuery(spark, q, sfDir, Main.Ctx.untraced).digest
      val b = runQuery(spark, q, sfDir, Main.Ctx.untraced).digest
      require(a == b, s"$q: output digest is not deterministic ($a vs $b)")
      a.line(q)
    }
    val header = "# query, rows, and the sums of the low and high 32 bits of xxhash64 " +
      "over each output row (sf0.1)"
    Files.write(out, ((header +: lines).mkString("\n") + "\n").getBytes(UTF_8))
  }
}
