package graft.app

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.DeserializeToObject
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.app.AlarmProcessorApp.numberOutputs
import graft.app.UnifiedAlarmRule.{ChainOutput, EffectiveTag, EmissionTag, NotificationTag,
  OverrideEmission, rowsOf}
import graft.model._

/**
 * The sink's tag-and-number step ([[AlarmProcessorApp.numberOutputs]]) in
 * batch mode: one window numbers all three outputs, in key order and, for
 * equal keys, in the chain's emission order. Then the running app: one
 * stateful operator over three sources, writing the three outputs with
 * their columns; the sink's concurrent writes carry the batch's job
 * properties; a failed write fails the query and leaves no job running.
 */
class AlarmProcessorAppSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val base = 1700000000000L * 1000000L

  private def effective(name: String, state: String, active: Boolean = false,
      shelved: Boolean = false): ChainOutput =
    ChainOutput(Some(EffectiveAlarm(name, EffectiveRegistration(), EffectiveNotification(
      activation = if (active) Some(Activation(ActivationKind.Active)) else None,
      overrides = AlarmOverrideSet(shelved =
        if (shelved) Some(AlarmOverride(OverrideType.Shelved)) else None),
      state = state))), None)

  private def emission(name: String, t: String, tombstone: Boolean = true): ChainOutput =
    ChainOutput(None, Some(OverrideEmission(name, t,
      if (tombstone) None else Some(AlarmOverride(t, expiration = Some(42L))))))

  /** The chain's rows for these outputs, in order ([[UnifiedAlarmRule.rowsOf]]), numbered. */
  private def numbered(out: Seq[ChainOutput]): DataFrame =
    numberOutputs(out.flatMap(rowsOf).toDS(), base)

  test("sink numbering: several effective rows of one alarm get increasing emit_seq in emission order") {
    // 40 settled states of "a", interleaved with other alarms' rows; the
    // window shuffles them, so only the emission ordinal keeps their order.
    val states = (0 until 40).map(i => s"S$i")
    val out = states.zipWithIndex.flatMap { case (s, i) =>
      Seq(effective("a", s), effective(s"z$i", AlarmState.Normal),
        emission(s"z$i", OverrideType.Latched, tombstone = false))
    }
    val rows = numbered(out)
    for (tag <- Seq(EffectiveTag, NotificationTag)) {
      val got = rows.filter($"tag" === tag && $"name" === "a")
        .orderBy("seq").select("state", "seq").as[(String, Long)].collect().toSeq
      assert(got.map(_._1) == states, s"tag $tag")
      // "a" sorts first: its rows hold the first 40 indices of the tag
      assert(got.map(_._2) == (1L to 40L).map(base + _), s"tag $tag")
    }
  }

  test("sink numbering: emission seqs follow (name, overrideType)") {
    val out = Seq(
      emission("b", OverrideType.Shelved), emission("a", OverrideType.OnDelayed),
      effective("b", AlarmState.Active, active = true),
      emission("b", OverrideType.Latched, tombstone = false),
      emission("a", OverrideType.Latched, tombstone = false), emission("c", OverrideType.Shelved))
    val got = numbered(out).filter($"tag" === EmissionTag).orderBy("seq")
      .select("name", "overrideType", "seq").as[(String, String, Long)].collect().toSeq
    assert(got == Seq(
      ("a", OverrideType.Latched), ("a", OverrideType.OnDelayed), ("b", OverrideType.Latched),
      ("b", OverrideType.Shelved), ("c", OverrideType.Shelved))
      .zipWithIndex.map { case ((n, t), i) => (n, t, base + i + 1) })
  }

  test("sink numbering: equals the per-output windows when keys are distinct") {
    val out = (0 until 30).flatMap { i =>
      val name = f"alarm$i%02d"
      (if (i % 3 != 0) Seq(effective(name, AlarmState.Active, active = i % 2 == 0,
        shelved = i % 5 == 0)) else Nil) ++
        (if (i % 4 != 1) Seq(emission(name, OverrideType.Shelved, tombstone = i % 2 == 1))
        else Nil) ++
        (if (i % 7 == 2) Seq(emission(name, OverrideType.Latched, tombstone = false)) else Nil)
    }.reverse
    // The numbering of one row_number window per output, over the same
    // seq domain: the effective outputs by name, emissions by
    // (name, overrideType).
    def withSeq(df: DataFrame, keys: String*): DataFrame =
      df.withColumn("seq", lit(base) + row_number().over(Window.orderBy(keys.map(col): _*))
        .cast("long"))
    val eff = withSeq(out.flatMap(_.effective.map(e =>
      (e.name, e.notification.state, e.notification.activation.isDefined)))
      .toDF("name", "state", "is_active"), "name")
    val notif = withSeq(out.flatMap(_.effective.map(e =>
      (e.name, e.notification.state, e.notification.overrides.shelved.isDefined,
        e.notification.overrides.disabled.isDefined)))
      .toDF("name", "state", "shelved", "disabled"), "name")
    val em = withSeq(out.flatMap(_.emission.map(e =>
      (e.name, e.overrideType, e.value.flatMap(_.oneshot), e.value.flatMap(_.expiration),
        e.value.flatMap(_.reason), e.value.isEmpty)))
      .toDF("name", "overrideType", "oneshot", "expiration", "reason", "tombstone"),
      "name", "overrideType")
    val rows = numberOutputs(out.flatMap(rowsOf).toDS().repartition(3), base)
    // The numbering is column work over the chain's rows: no object step.
    assert(!rows.queryExecution.optimizedPlan.exists(_.isInstanceOf[DeserializeToObject]))
    for ((tag, expected) <- Seq(EffectiveTag -> eff, NotificationTag -> notif, EmissionTag -> em)) {
      val cols = expected.columns.map(col)
      val got = rows.filter($"tag" === tag).select(cols: _*).collect().toSet
      val want = expected.collect().toSet
      assert(want.nonEmpty && got == want, s"tag $tag")
    }
  }

  private def newPaths(): AlarmProcessorApp.Paths = {
    val paths = AlarmProcessorApp.Paths(Files.createTempDirectory("graft-app").toString)
    paths.mkdirs()
    paths
  }

  private def write(dir: String, json: String): Unit =
    Files.writeString(Paths.get(dir, s"in${System.nanoTime()}.json"), json + "\n")

  private def awaitState(paths: AlarmProcessorApp.Paths, state: String): Unit = {
    val deadline = System.currentTimeMillis() + 60000
    def latest = scala.util.Try(spark.read.parquet(paths.effective)
      .orderBy($"emit_seq".desc).select("state").as[String].head()).toOption
    while (!latest.contains(state) && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    assert(latest.contains(state))
  }

  private val latchableClass =
    """{"seq":1,"name":"crit","latchable":true,"filterable":false,"priority":"P1"}"""
  private val instanceA = """{"seq":1,"name":"a","action":"crit","tombstone":false}"""

  /** A started job's streaming query id, job group and stage names. */
  private final case class JobRec(queryId: Option[String], group: Option[String],
      batchId: Option[String], stages: Seq[String])

  /** Record every job started and ended while `body` runs. */
  private def withJobs[T](body: (ConcurrentHashMap[Int, JobRec], java.util.Set[Int]) => T): T = {
    val started = new ConcurrentHashMap[Int, JobRec]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        started.put(e.jobId, JobRec(prop("sql.streaming.queryId"), prop("spark.jobGroup.id"),
          prop("streaming.sql.batchId"), e.stageInfos.map(_.name)))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    // Events of earlier queries still queued on the bus would reach it.
    org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try body(started, ended)
    finally {
      org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("main runs one stateful operator over three sources; outputs keep their columns") {
    val paths = newPaths()
    write(paths.classes, latchableClass)
    val app = AlarmProcessorApp.start(spark, paths)
    try {
      write(paths.instances, instanceA)
      awaitState(paths, AlarmState.Normal)
      // The Latched emission goes round the feedback loop.
      write(paths.activations, """{"seq":2,"name":"a","union":"Activation"}""")
      awaitState(paths, AlarmState.ActiveLatched)
      val p = app.mainQuery.lastProgress
      assert(p.stateOperators.length == 1 && p.sources.length == 3)
      assert(spark.read.parquet(paths.effective).columns.toSeq ==
        Seq("name", "state", "is_active", "emit_seq"))
      assert(spark.read.parquet(paths.notifications).columns.toSeq ==
        Seq("name", "state", "shelved", "disabled", "emit_seq"))
      val emitted = Files.list(Paths.get(paths.overrides)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .flatMap(f => Files.readAllLines(f).asScala).toSeq
      assert(emitted.size == 1 && emitted.head.matches(
        """\{"name":"a","overrideType":"Latched","tombstone":false,"seq":\d+\}"""), s"$emitted")
    } finally app.stop()
  }

  test("every job of a main batch carries the query's id and the run's job group") {
    val paths = newPaths()
    write(paths.classes, latchableClass)
    withJobs { (jobs, _) =>
      val app = AlarmProcessorApp.start(spark, paths)
      try {
        // A settled alarm feeds two outputs, so its batch writes them at once.
        write(paths.instances, instanceA)
        awaitState(paths, AlarmState.Normal)
      } finally app.stop()
      org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
      // Every job the app raises names the app's file in its stages: a
      // query thread's jobs take the call site of the query's start, and
      // a job on a thread without the query's properties would take its
      // own (a sink write's `save at AlarmProcessorApp.scala`).
      val queries = Seq(app.fkQuery, app.regQuery, app.mainQuery)
        .map(q => q.id.toString -> q.runId.toString).toMap
      val appJobs = jobs.values.asScala.toSeq
        .filter(_.stages.exists(_.contains("AlarmProcessorApp.scala")))
      appJobs.foreach { j =>
        assert(j.queryId.exists(queries.contains), s"$j")
        assert(j.group == j.queryId.map(queries), s"$j")
        assert(j.batchId.isDefined, s"$j")
      }
      // The batch that settled "a" ran the tag probe and two writes.
      val main = appJobs.filter(_.queryId.contains(app.mainQuery.id.toString))
      assert(main.groupBy(_.batchId).values.exists(_.size >= 3), s"$main")
    }
  }

  test("a failing output write terminates main with that error and leaves no active job") {
    val paths = newPaths()
    // A regular file where the notifications directory should be.
    Files.delete(Paths.get(paths.notifications))
    Files.writeString(Paths.get(paths.notifications), "not a directory\n")
    write(paths.classes, latchableClass)
    withJobs { (jobs, ended) =>
      val app = AlarmProcessorApp.start(spark, paths)
      try {
        write(paths.instances, instanceA)
        val e = intercept[StreamingQueryException](app.mainQuery.awaitTermination(90000))
        val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
        assert(causes.exists(c => Option(c.getMessage).exists(_.contains("effective-notifications"))),
          s"$e")
        // A failed job's end event trails its waiter by a moment.
        val mainId = app.mainQuery.id.toString
        def active = jobs.asScala.collect {
          case (id, j) if j.queryId.contains(mainId) && !ended.contains(id) => id
        }
        val deadline = System.nanoTime() + 2000L * 1000 * 1000
        while (active.nonEmpty && System.nanoTime() < deadline) {
          Thread.sleep(50)
          org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
        }
        assert(jobs.values.asScala.exists(_.queryId.contains(mainId)))
        assert(active.isEmpty, "a sink write outlived the failed batch")
      } finally app.stop()
    }
  }
}
