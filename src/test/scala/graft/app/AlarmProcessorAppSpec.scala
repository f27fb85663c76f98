package graft.app

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.app.AlarmProcessorApp.{EffectiveTag, EmissionTag, NotificationTag, numberOutputs}
import graft.app.UnifiedAlarmRule.{ChainOutput, OverrideEmission}
import graft.model._

/**
 * The sink's tag-and-number step ([[AlarmProcessorApp.numberOutputs]]) in
 * batch mode: one window numbers all three outputs, in key order and, for
 * equal keys, in the chain's emission order. Then the running app's shape:
 * one stateful operator over three sources, writing the three outputs
 * with their columns.
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

  private def numbered(out: Seq[ChainOutput]): DataFrame =
    numberOutputs(out.toDS(), base)

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
    val batch = out.toDS().repartition(3)
    // The numbering of one row_number window per output, over the same
    // seq domain: the effective outputs by name, emissions by
    // (name, overrideType).
    def withSeq(df: DataFrame, keys: String*): DataFrame =
      df.withColumn("seq", lit(base) + row_number().over(Window.orderBy(keys.map(col): _*))
        .cast("long"))
    val eff = withSeq(batch.flatMap(_.effective.map(e =>
      (e.name, e.notification.state, e.notification.activation.isDefined)))
      .toDF("name", "state", "is_active"), "name")
    val notif = withSeq(batch.flatMap(_.effective.map(e =>
      (e.name, e.notification.state, e.notification.overrides.shelved.isDefined,
        e.notification.overrides.disabled.isDefined)))
      .toDF("name", "state", "shelved", "disabled"), "name")
    val em = withSeq(batch.flatMap(_.emission.map(e =>
      (e.name, e.overrideType, e.value.flatMap(_.oneshot), e.value.flatMap(_.expiration),
        e.value.flatMap(_.reason), e.value.isEmpty)))
      .toDF("name", "overrideType", "oneshot", "expiration", "reason", "tombstone"),
      "name", "overrideType")
    val rows = numberOutputs(batch, base)
    for ((tag, expected) <- Seq(EffectiveTag -> eff, NotificationTag -> notif, EmissionTag -> em)) {
      val cols = expected.columns.map(col)
      val got = rows.filter($"tag" === tag).select(cols: _*).collect().toSet
      val want = expected.collect().toSet
      assert(want.nonEmpty && got == want, s"tag $tag")
    }
  }

  test("main runs one stateful operator over three sources; outputs keep their columns") {
    val paths = AlarmProcessorApp.Paths(Files.createTempDirectory("graft-app").toString)
    paths.mkdirs()
    def write(dir: String, json: String): Unit =
      Files.writeString(Paths.get(dir, s"in${System.nanoTime()}.json"), json + "\n")
    def awaitState(state: String): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      def latest = scala.util.Try(spark.read.parquet(paths.effective)
        .orderBy($"emit_seq".desc).select("state").as[String].head()).toOption
      while (!latest.contains(state) && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(latest.contains(state))
    }
    write(paths.classes,
      """{"seq":1,"name":"crit","latchable":true,"filterable":false,"priority":"P1"}""")
    val app = AlarmProcessorApp.start(spark, paths)
    try {
      write(paths.instances, """{"seq":1,"name":"a","action":"crit","tombstone":false}""")
      awaitState(AlarmState.Normal)
      // The Latched emission goes round the feedback loop.
      write(paths.activations, """{"seq":2,"name":"a","union":"Activation"}""")
      awaitState(AlarmState.ActiveLatched)
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
}
