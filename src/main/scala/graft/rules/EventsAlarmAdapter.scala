package graft.rules

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.model.OverrideType

/**
 * Deterministic mapping from the driver-generated `events` + `region` tables
 * onto the alarm-domain changelogs consumed by [[AlarmPipeline]]. This lets
 * the full dataflow run (and be DuckDB-oracle-checked) against the shared
 * testdata without synthesizing inputs.
 *
 * Mapping (mirrored verbatim in Oracle.alarmCtes, which the queries of
 * graft.queries.AlarmQueries declare as their oracles):
 *  - alarm name      = user_id
 *  - activation      = every event; `error` -> Activation, else NoActivation;
 *                      seq = event_id
 *  - overrides       = signup  -> Shelved upsert (oneshot = value > 100,
 *                                 expiration = epoch_ms(ts) + 60000)
 *                      purchase-> Shelved tombstone
 *                      click   -> Disabled upsert when value > 150,
 *                                 else Disabled tombstone
 *                      view    -> Masked upsert when value > 150,
 *                                 Masked tombstone when value < 50, else none
 *  - instances       = distinct user_id with user_id % 10 != 7 registered;
 *                      class_key = user_id % 5
 *  - classes         = region: class_key = r_regionkey,
 *                      latchable = r_regionkey IN (0, 2),
 *                      ondelayseconds = 5 when r_regionkey = 1,
 *                                       10 when r_regionkey = 3, else null,
 *                      filterable = r_regionkey != 4,
 *                      priority = 'P' || r_regionkey
 */
object EventsAlarmAdapter {

  def activations(events: DataFrame): DataFrame =
    events.select(
      col("event_id").as("seq"),
      col("user_id").as("name"),
      when(col("event_type") === "error", "Activation")
        .otherwise("NoActivation").as("union"))

  def overrides(events: DataFrame): DataFrame = {
    val base = events.select(
      col("event_id").as("seq"),
      col("user_id").as("name"),
      col("event_type"),
      col("value"),
      col("ts"))
    base.select(
      col("seq"),
      col("name"),
      when(col("event_type") === "signup", OverrideType.Shelved)
        .when(col("event_type") === "purchase", OverrideType.Shelved)
        .when(col("event_type") === "click", OverrideType.Disabled)
        .when(col("event_type") === "view", OverrideType.Masked)
        .as("override_type"),
      when(col("event_type") === "signup", col("value") > 100).as("oneshot"),
      when(col("event_type") === "signup", GraftSession.tsMillis("ts") + 60000L)
        .as("expiration"),
      when(col("event_type") === "purchase", lit(true))
        .when(col("event_type") === "click", col("value") <= 150)
        .when(col("event_type") === "view", col("value") < 50)
        .otherwise(lit(false)).as("tombstone"),
      col("event_type"),
      col("value"))
      .filter(col("override_type").isNotNull &&
        // view events in the dead zone produce no override record at all
        !(col("event_type") === "view" && col("value") >= 50 && col("value") <= 150))
      .drop("event_type", "value")
  }

  def instances(events: DataFrame): DataFrame =
    events.select(col("user_id").as("name")).distinct()
      .filter(col("name") % 10 =!= 7)
      .withColumn("class_key", (col("name") % 5).cast("int"))
      // alarms ending in 3 are masked by their predecessor (T5 fixture)
      .withColumn("maskedby", when(col("name") % 10 === 3, col("name") - 1))

  def classes(region: DataFrame): DataFrame =
    region.select(
      col("r_regionkey").cast("int").as("class_key"),
      col("r_regionkey").isin(0, 2).as("latchable"),
      (col("r_regionkey") =!= 4).as("filterable"),
      when(col("r_regionkey") === 1, 5L)
        .when(col("r_regionkey") === 3, 10L).as("ondelayseconds"),
      concat(lit("P"), col("r_regionkey")).as("priority"))

  /** All four changelogs from one sfDir. */
  def load(spark: SparkSession, sfDir: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val events = GraftSession.table(spark, sfDir, "events")
    val region = GraftSession.table(spark, sfDir, "region")
    (instances(events), classes(region), activations(events), overrides(events))
  }

  /** The flagship end-to-end query: effective state of every alarm. */
  def effectiveAlarms(spark: SparkSession, sfDir: String): DataFrame = {
    val (inst, cls, act, ovr) = load(spark, sfDir)
    AlarmPipeline.effectiveAlarms(inst, cls, act, ovr)
  }
}
