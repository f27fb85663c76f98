package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * In-memory spans for the traced run, recorded from the benchmark's side of
 * every layer boundary: a `SparkListener` (jobs, stages, tasks), a
 * `QueryExecutionListener` (SQL actions with their planning phases) and a
 * `StreamingQueryListener` (micro-batches with their progress phases).
 *
 * The tree is run -> query phase or micro-batch -> job -> stage. A job's
 * parent is the phase whose job group it carries, else the micro-batch its
 * streaming properties name, else the phase that was open when it started
 * (threads that do not inherit the caller's local properties).
 * Spans are written out once, at the end of the run.
 */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val ids = new AtomicLong(1)
  private val phases = new ConcurrentLinkedQueue[Span]()
  private val sqlSpans = new ConcurrentLinkedQueue[Span]()
  private val batches = new ConcurrentLinkedQueue[(String, Long, Double, Map[String, Long])]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val queryNames = new ConcurrentHashMap[String, String]()
  private val runStart = nowMs()
  @volatile private var open: Option[Span] = None

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val group = prop("spark.jobGroup.id").collect {
        case g if g.startsWith(GroupPrefix) => g.stripPrefix(GroupPrefix).toLong
      }
      val batch = for (q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId"))
        yield (q, b.toLong)
      jobs.put(e.jobId, JobRec(e.jobId, e.time.toDouble, group, batch, open.map(_.id)))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val s = stages.computeIfAbsent(i.stageId, id => StageRec(id))
      s.name = i.name
      s.start = i.submissionTime.map(_.toDouble).getOrElse(0.0)
      s.end = i.completionTime.map(_.toDouble).getOrElse(s.start)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val s = stages.computeIfAbsent(e.stageId, id => StageRec(id))
        s.synchronized {
          s.taskMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
          s.taskDurations += m.executorRunTime.toDouble
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      // The event reaches this listener late, on the bus thread; the
      // tracker's phase times are epoch millis taken by the caller. The
      // action starts with its first phase and executes after its last.
      val ps = qe.tracker.phases.values
      val delivered = nowMs()
      val start = ps.map(_.startTimeMs.toDouble).minOption.getOrElse(delivered - durationNs / 1e6)
      val end = ps.map(_.endTimeMs.toDouble).maxOption.getOrElse(start) + durationNs / 1e6
      sqlSpans.add(Span(ids.getAndIncrement(), 0, s"sql.$funcName", start, end,
        qe.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs).toString }))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queryNames.putIfAbsent(e.id.toString, Option(e.name).getOrElse(e.id.toString))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add((p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Name streaming queries by their checkpoint role (`fk`, `reg`, `main`). */
  def nameQuery(id: String, name: String): Unit = queryNames.put(id, name)

  /** Run `f` as one query phase: its own span and job group. */
  def phase[A](name: String)(f: => A): A = {
    val span = Span(ids.getAndIncrement(), 0, name, nowMs(), 0)
    sc.setJobGroup(GroupPrefix + span.id, name, interruptOnCancel = false)
    open = Some(span)
    try f
    finally {
      open = None
      sc.clearJobGroup()
      phases.add(span.copy(end = nowMs()))
    }
  }

  /** Aggregate task metrics of the jobs under the given phase spans. */
  def taskAgg(phaseIds: Set[Long]): Agg = {
    drain()
    val st = stages.values.asScala.filter { s =>
      Option(stageJob.get(s.id)).flatMap(j => Option(jobs.get(j))).exists(j =>
        parentPhase(j).exists(phaseIds))
    }.toSeq
    val heaviest = st.filter(_.taskDurations.size > 1).sortBy(-_.taskMs).headOption
    Agg(
      taskCpuS = st.map(_.cpuNs).sum / 1e9,
      gcS = st.map(_.gcMs).sum / 1e3,
      shuffleBytes = st.map(_.shuffleBytes).sum.toDouble,
      spillBytes = st.map(_.spillBytes).sum.toDouble,
      taskSkew = heaviest.map { s =>
        val d = s.taskDurations.toSeq
        d.max / math.max(1.0, Stats.median(d))
      }.getOrElse(1.0))
  }

  def phaseSpans: Seq[Span] = phases.asScala.toSeq

  /** Spark jobs per reported micro-batch of one streaming query. */
  def jobsPerBatch(queryId: String): Double = {
    drain()
    val n = batches.asScala.count(_._1 == queryId)
    if (n == 0) 0.0
    else jobs.values.asScala.count(_.batch.exists(_._1 == queryId)).toDouble / n
  }

  /**
   * Analysis + optimization + planning time of the SQL actions that started
   * inside `s`; NaN when none did, so a lost event cannot read as 0.
   */
  def planMsWithin(s: Span): Double = {
    drain()
    val in = sqlSpans.asScala.filter(q => q.start >= s.start - ClockSlackMs && q.start <= s.end).toSeq
    if (in.isEmpty) Double.NaN
    else in.map(q => PlanPhases.flatMap(q.attrs.get).map(_.toDouble).sum).sum
  }

  private def parentPhase(j: JobRec): Option[Long] = j.group.orElse(j.openPhase)

  private def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  /**
   * Close the run: build the span tree, write it to `out` (one JSON object
   * per line), and return coverage and self-time figures.
   */
  def finish(out: Path): Map[String, Double] = {
    drain()
    val runEnd = nowMs()
    val root = Span(0, -1, "run", runStart, runEnd)
    val batchSpans = batches.asScala.toSeq.map { case (q, b, start, d) =>
      val dur = d.getOrElse("triggerExecution", 0L).toDouble
      (q, b) -> Span(ids.getAndIncrement(), 0,
        s"batch.${queryNames.getOrDefault(q, q)}", start, start + dur)
    }.toMap
    val progressPhases = batches.asScala.toSeq.flatMap { case (q, b, start, d) =>
      var t = start
      PhaseOrder.flatMap(k => d.get(k).map { v =>
        val s = Span(ids.getAndIncrement(), batchSpans((q, b)).id, s"progress.$k", t, t + v)
        t += v
        s
      })
    }
    val jobSpans = jobs.values.asScala.toSeq.map { j =>
      val parent = j.batch.flatMap(batchSpans.get).map(_.id).orElse(parentPhase(j))
      j.id -> Span(ids.getAndIncrement(), parent.getOrElse(0L), s"job", j.start,
        math.max(j.start, j.end), Map("jobId" -> j.id.toString, "attributed" -> parent.isDefined.toString))
    }.toMap
    val stageSpans = stages.values.asScala.toSeq.map { s =>
      val job = Option(stageJob.get(s.id)).flatMap(jobSpans.get)
      Span(ids.getAndIncrement(), job.map(_.id).getOrElse(0L), "stage", s.start, s.end,
        Map("stageId" -> s.id.toString, "taskMs" -> s.taskMs.toString, "name" -> s.name))
    }
    val containers = phases.asScala.toSeq ++ batchSpans.values
    // SQL actions have no thread identity on the listener bus: parent is the
    // innermost phase or micro-batch their start falls in.
    val sql = sqlSpans.asScala.toSeq.map { s =>
      val in = containers.filter(c => c.start - ClockSlackMs <= s.start && s.start <= c.end)
      s.copy(parent = if (in.isEmpty) 0L else in.minBy(c => c.end - c.start).id)
    }
    val all = Seq(root) ++ containers ++ progressPhases ++ jobSpans.values ++ stageSpans ++ sql
    val w = Files.newBufferedWriter(out, UTF_8)
    try all.sortBy(_.start).foreach(s => { w.write(s.json); w.newLine() })
    finally w.close()

    val totalTask = stages.values.asScala.map(_.taskMs).sum.toDouble
    val attributedTask = stages.values.asScala.filter { s =>
      Option(stageJob.get(s.id)).flatMap(jobSpans.get).exists(_.parent != 0L)
    }.map(_.taskMs).sum.toDouble
    val byParent = all.groupBy(_.parent)
    def selfMs(s: Span): Double = s.end - s.start - covered(byParent.getOrElse(s.id, Nil), s)
    Map(
      "trace.task_s" -> totalTask / 1e3,
      "trace.unattributed_share" -> (if (totalTask == 0) 0.0 else 1 - attributedTask / totalTask),
      "trace.run_self_s" -> selfMs(root) / 1e3,
      "trace.job_self_s" -> jobSpans.values.map(selfMs).sum / 1e3)
  }

  /** Length of the part of `s` that `children` cover (union of intervals). */
  private def covered(children: Seq[Span], s: Span): Double = {
    val iv = children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  def stop(): Unit = {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  val GroupPrefix = "graftbench-"
  // Tracker times are whole epoch millis; span times derive from nanoTime.
  private val ClockSlackMs = 2.0
  private val PlanPhases = Seq("analysis", "optimization", "planning")
  private val PhaseOrder =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs(): Double = System.nanoTime() / 1e6 + epochOffsetMs

  final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double,
      attrs: Map[String, String] = Map.empty) {
    def json: String = {
      val a = attrs.toSeq.sorted.map { case (k, v) => s""""$k":"${Json.esc(v)}"""" }.mkString(",")
      s"""{"id":$id,"parent":$parent,"name":"${Json.esc(name)}","start_ms":$start,""" +
        s""""end_ms":$end,"attrs":{$a}}"""
    }
  }

  final case class JobRec(id: Int, start: Double, group: Option[Long],
      batch: Option[(String, Long)], openPhase: Option[Long]) {
    @volatile var end: Double = start
  }

  final case class StageRec(id: Int) {
    var name = ""
    var start = 0.0
    var end = 0.0
    var taskMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val taskDurations = scala.collection.mutable.ArrayBuffer.empty[Double]
  }

  final case class Agg(taskCpuS: Double, gcS: Double, shuffleBytes: Double, spillBytes: Double,
      taskSkew: Double)
}
