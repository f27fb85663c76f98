package graft
package queries

import org.apache.spark.sql.functions._

import graft.rules.EventsAlarmAdapter
import Query._

/** Alarm dataflow queries over the events adapter (SURVEY §2), each declared with its oracle. */
private[graft] object AlarmQueries {

  val entries: Seq[Query] = Seq(
    sql("jaws_effective_alarms", (s, dir) =>
      EventsAlarmAdapter.effectiveAlarms(s, dir)
        .orderBy("name"))(
      s"""${Oracle.alarmCtes}
         |SELECT name, class_key, priority, is_active, state
         |FROM effective
         |ORDER BY name""".stripMargin),
    sql("jaws_latest_activation", (s, dir) =>
      graft.rules.AlarmPipeline.currentActivations(
        EventsAlarmAdapter.activations(GraftSession.table(s, dir, "events")))
        .orderBy("name"))(
      s"""${Oracle.alarmCtes}
         |SELECT name, is_active, transition_to_active, transition_to_normal
         |FROM act_latest ORDER BY name""".stripMargin),
    sql("jaws_override_set", (s, dir) =>
      graft.rules.AlarmPipeline.overrideSet(
        EventsAlarmAdapter.overrides(GraftSession.table(s, dir, "events")))
        .orderBy("name"))(
      s"""${Oracle.alarmCtes}
         |SELECT name, has_disabled, has_filtered, has_latched, has_masked,
         |       has_ondelayed, has_offdelayed, has_shelved,
         |       shelved_oneshot, shelved_expiration
         |FROM ovr_set ORDER BY name""".stripMargin),
    sql("jaws_registrations", (s, dir) =>
      graft.rules.AlarmPipeline.registrations(
        EventsAlarmAdapter.instances(GraftSession.table(s, dir, "events")),
        EventsAlarmAdapter.classes(GraftSession.table(s, dir, "region")))
        .orderBy("name"))(
      s"""${Oracle.alarmCtes}
         |SELECT name, class_key, latchable, filterable,
         |       CAST(ondelayseconds AS BIGINT) AS ondelayseconds, priority
         |FROM reg ORDER BY name""".stripMargin),
    sql("jaws_effective_notifications", (s, dir) => {
      val (inst, cls, act, ovr) = EventsAlarmAdapter.load(s, dir)
      graft.rules.AlarmPipeline.effectiveAlarmsFull(inst, cls, act, ovr)
        .select("name", "state", "is_active", "has_shelved", "shelved_oneshot",
          "shelved_expiration", "has_disabled", "has_masked")
        .orderBy("name")
    })(
      s"""${Oracle.alarmCtes}
         |SELECT name, state, is_active, has_shelved, shelved_oneshot,
         |       shelved_expiration, has_disabled, has_masked
         |FROM effective ORDER BY name""".stripMargin),
    sql("jaws_mask_emissions", (s, dir) => {
      val events = GraftSession.table(s, dir, "events")
      val inst = EventsAlarmAdapter.instances(events)
      val act = graft.rules.AlarmPipeline.currentActivations(
        EventsAlarmAdapter.activations(events))
        .select(col("name"), col("is_active"))
      val ovs = graft.rules.AlarmPipeline.overrideSet(
        EventsAlarmAdapter.overrides(events))
        .select(col("name"), col("has_masked"))
      val effective = act.join(ovs, Seq("name"), "full_outer")
        .select(col("name"),
          coalesce(col("is_active"), lit(false)).as("is_active"),
          coalesce(col("has_masked"), lit(false)).as("has_masked"))
      graft.rules.MaskRule.maskEmissions(inst, effective).orderBy("name")
    })(
      s"""${Oracle.alarmCtes}
         |SELECT i.name, 'Masked' AS override_type,
         |       NOT coalesce(pa.is_active, false) AS tombstone
         |FROM (SELECT name, name - 1 AS maskedby FROM inst WHERE name % 10 = 3) i
         |LEFT JOIN act_latest pa ON i.maskedby = pa.name
         |LEFT JOIN ovr_set cm ON i.name = cm.name
         |WHERE (coalesce(pa.is_active, false) AND NOT coalesce(cm.has_masked, false))
         |   OR (NOT coalesce(pa.is_active, false) AND coalesce(cm.has_masked, false))
         |ORDER BY i.name""".stripMargin))
}
