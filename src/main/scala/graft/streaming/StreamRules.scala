package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model._

/** Raw override changelog record (flattened union; tombstone = delete). */
final case class OverrideRecord(
    seq: Long,
    name: String,
    overrideType: String,
    oneshot: Option[Boolean] = None,
    expiration: Option[Long] = None,
    reason: Option[String] = None,
    tombstone: Boolean = false) {
  def toOverride: Option[AlarmOverride] =
    if (tombstone) None
    else Some(AlarmOverride(overrideType, None, oneshot, expiration, reason))
}

/** Emission back onto the overrides changelog (tombstone when value empty). */
final case class OverrideEmission(
    name: String,
    overrideType: String,
    value: Option[AlarmOverride])

private final case class ExpiryState(armedAtMillis: Long, delayMillis: Long)

/**
 * The streaming operators that sit beside the monolog chain
 * ([[graft.app.UnifiedAlarmRule]]), backed by `flatMapGroupsWithState`.
 *
 * Scale: state is one small row per alarm; flatMapGroupsWithState
 * shuffles on the alarm name once and the state store holds the rest. All
 * pure logic lives in [[graft.model.StateMachines]], shared with the batch
 * path and unit-tested without Spark.
 */
object StreamRules {

  /**
   * T8/T9 expiration timers (`ShelveExpirationRule.java:93-191`,
   * `OnDelayExpirationRule.java:99-204`): for each override of
   * `expiringType`, (re)arm a processing-time timer at its expiration;
   * on fire, emit a tombstone back to the overrides changelog. Replaces the
   * reference's in-memory ConcurrentHashMap timer registry with
   * fault-tolerant checkpointed state.
   */
  def expirationTimers(
      ds: Dataset[OverrideRecord],
      expiringType: String): Dataset[OverrideEmission] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.filter(_.overrideType == expiringType)
      .groupByKey(_.name)
      .flatMapGroupsWithState[ExpiryState, OverrideEmission](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (name, records, state: GroupState[ExpiryState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.single(OverrideEmission(name, expiringType, None))
          } else {
            // Last record wins: any new record cancels the previous timer
            // (`ShelveExpirationRule.java:121-135`).
            val latest = records.maxBy(_.seq)
            val now = System.currentTimeMillis()
            StateMachines.expirationDelayMillis(latest.toOverride, now) match {
              case Some(delayMs) =>
                state.update(ExpiryState(now, delayMs))
                state.setTimeoutDuration(delayMs)
              case None =>
                if (state.exists) state.remove()
            }
            Iterator.empty
          }
      }
  }
}
