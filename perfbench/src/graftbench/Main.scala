package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point, started by `perfbench/run.py`:
 *
 *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
 *     --t0-ms EPOCH_MS --work DIR --data DIR --golden FILE
 *
 * Writes `DIR/result.json`: every metric the workload measured (end-to-end
 * and, when traced, per-layer), attempted/failed operation counts, and the
 * calibration probe taken at the start and the end of the run.
 */
object Main {

  /** Optional tracer; `phase` is a plain call when the run is untraced. */
  final class Ctx(val tracer: Option[Tracer]) {
    def phase[A](name: String)(f: => A): A = tracer match {
      case Some(t) => t.phase(name)(f)
      case None => f
    }
  }
  object Ctx { val untraced = new Ctx(None) }

  /** What a workload run hands back: its metrics, operation counts and notes. */
  final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
      attempted: Long, failed: Long, notes: Map[String, String])

  val Workloads = Seq("alarm-steady", "corpus-queries")

  private val started = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  def session(work: Path, cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.extensions", "graft.GraftExtensions")
    // GRAFT_STATE_API=tws runs the app's chain on transformWithState, which
    // needs the RocksDB state store (as in graft.app.AppDemo).
    if (sys.env.get("GRAFT_STATE_API").contains("tws"))
      b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opt("work"))
    val cores = Runtime.getRuntime.availableProcessors()
    if (opt.contains("record-golden")) {
      val spark = session(work, cores)
      CorpusBench.recordGolden(spark, opt("record-golden"), Paths.get(opt("golden")))
      spark.stop()
      return
    }
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val t0Ms = opt("t0-ms").toLong

    val calStart = Calibration.probe(cores)
    val spark = session(work, cores)
    log("session up")
    val ctx = new Ctx(if (traced) Some(new Tracer(spark)) else None)
    var readyMs = 0L
    val onReady = () => readyMs = System.currentTimeMillis()
    val app = work.resolve("app")
    val out = workload match {
      case "alarm-steady" => AlarmBench.steady(spark, app, seed, seconds, ctx, onReady)
      case "corpus-queries" => CorpusBench.run(spark, Paths.get(opt("data")),
        Paths.get(opt("golden")), seed, seconds, ctx, onReady)
    }
    log("workload done")
    val traceLayers = ctx.tracer.map { t =>
      val m = t.finish(work.resolve("spans.jsonl"))
      t.stop()
      m
    }.getOrElse(Map.empty)
    spark.stop()
    val calEnd = Calibration.probe(cores)

    // Traced runs also report their own end-to-end figures under `trace.`:
    // against the untraced runs' figures they give the tracing overhead.
    val e2e = out.e2e ++ Map("setup_s" -> (readyMs - t0Ms) / 1e3)
    val metrics =
      if (traced) out.layers ++ traceLayers ++ e2e.map { case (k, v) => s"trace.$k" -> v }
      else e2e
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "traced" -> traced.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "calibration" -> Json.obj(Seq(
        "start" -> calStart.json, "end" -> calEnd.json, "threads" -> cores.toString)),
      "notes" -> Json.obj(out.notes.toSeq.sorted.map { case (k, v) => k -> Json.str(v) })))
    Files.write(work.resolve("result.json"), (json + "\n").getBytes(UTF_8))
  }
}

/**
 * Fixed CPU-bound probe: one thread, then one per core, each running the same
 * integer mixing loop. Reported beside the metrics, never used to adjust
 * them, so box drift can be told apart from a code change.
 */
object Calibration {
  final case class Probe(singleMs: Double, allCoresMs: Double) {
    def json: String = Json.obj(Seq("single_thread_ms" -> Json.num(singleMs),
      "all_threads_ms" -> Json.num(allCoresMs)))
  }

  private val Iterations = 50000000L

  private def spin(seed: Long): Long = {
    var x = seed | 1L
    var i = 0L
    while (i < Iterations) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  private def timeMs(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { k =>
      val t = new Thread(() => { if (spin(k) == 42) println("") })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  def probe(cores: Int): Probe = {
    timeMs(1) // JIT
    Probe(timeMs(1), timeMs(cores))
  }
}

/** Minimal JSON writing; keys and strings here are plain ASCII. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def str(s: String): String = "\"" + esc(s) + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
