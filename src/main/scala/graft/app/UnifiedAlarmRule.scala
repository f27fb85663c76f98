package graft.app

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model._

/**
 * The whole monolog chain (J2/J3/A1/T1/T2/T3/T4/T6 — SURVEY.md §3.2) and
 * the T8/T9 expiration timers as ONE keyed state processor.
 *
 * The reference runs six Kafka Streams apps connected by intermediate
 * topics, plus two timer apps; every hop is a serialization + durability
 * boundary. On Spark the idiomatic equivalent is a single
 * `flatMapGroupsWithState` over the union of the input changelogs: one
 * shuffle by alarm name, one state row per alarm (expiry deadlines
 * included), the pure state machines applied in sequence per record.
 * Durability comes from checkpointed state instead of intermediate topics.
 *
 * The FK side (class defaults) arrives pre-joined on instance records:
 * [[RegistrationStage]] performs the KTable-style FK join upstream and
 * re-emits member instances whenever their class changes, so a class
 * update retriggers retroactively exactly like the reference's FK join
 * (`RegistrationRule.java:91-97`).
 */
object UnifiedAlarmRule {

  /** Union-typed input record (exactly one payload depending on kind). */
  final case class AlarmInput(
      seq: Long,
      name: String,
      kind: String, // instance | activation | override
      alarm: Option[Alarm] = None,
      action: Option[AlarmAction] = None, // enriched class defaults (instance kind)
      activation: Option[Activation] = None,
      overrideType: Option[String] = None,
      overrideValue: Option[AlarmOverride] = None,
      tombstone: Boolean = false,
      // Structural tie-break for equal-seq records of the same alarm: 0 for
      // direct emissions; a class-retrigger re-emission carries the CLASS
      // record's seq here (monotonic across class updates), so it sorts
      // after the original registration it re-states without depending on
      // shuffle arrival order between stages.
      subSeq: Long = 0L)

  object Kind {
    val Instance = "instance"
    val ActivationK = "activation"
    val Override = "override"
  }

  /** Everything the chain's six state stores and two timer apps held, in one row per alarm. */
  final case class AlarmKeyState(
      alarm: Option[Alarm] = None,
      action: Option[AlarmAction] = None,
      activation: Option[Activation] = None,
      prevReal: Option[Activation] = None, // T1 store (normalized)
      overrides: Seq[AlarmOverride] = Nil, // A1 aggregate (by type, latest wins)
      latchInProgress: Boolean = false, // T2 store
      ondelayInProgress: Boolean = false, // T3 store
      oneshotInProgress: Boolean = false, // T4 store
      expiries: Map[String, Long] = Map.empty) // T8/T9 deadline (epoch ms) by override type

  /** The override types whose expiration fires a tombstone (T8, T9). */
  private val Expiring = Set(OverrideType.Shelved, OverrideType.OnDelayed)

  /** Emission back onto the overrides changelog (tombstone when value empty). */
  final case class OverrideEmission(
      name: String,
      overrideType: String,
      value: Option[AlarmOverride])

  /** Tagged output: settled effective alarms + override emissions (feedback). */
  final case class ChainOutput(
      effective: Option[EffectiveAlarm],
      emission: Option[OverrideEmission])

  private def applyInput(st: AlarmKeyState, in: AlarmInput, nowMillis: Long)
      : AlarmKeyState = in.kind match {
    case Kind.Instance =>
      if (in.tombstone) st.copy(alarm = None, action = None)
      else st.copy(alarm = in.alarm, action = in.action)
    case Kind.ActivationK =>
      st.copy(activation = if (in.tombstone) None else in.activation)
    case Kind.Override =>
      val t = in.overrideType.getOrElse("")
      val value = if (in.tombstone) None else in.overrideValue
      // T8/T9: the type's last record re-arms or cancels its timer
      // (`ShelveExpirationRule.java:121-135`).
      val deadline = StateMachines.expirationDelayMillis(value, nowMillis)
        .filter(_ => Expiring(t)).map(d => t -> (nowMillis + d))
      st.copy(overrides = st.overrides.filterNot(_.overrideType == t) ++ value,
        expiries = st.expiries - t ++ deadline)
    case _ => st
  }

  /**
   * One record through the full chain: fold the input into state, then run
   * T1 -> T2 -> T3 -> T4 -> T6 over the resulting monolog exactly as the
   * reference's per-record processors do. A Shelved or OnDelayed record
   * also arms (or, as a tombstone, cancels) that type's expiry deadline.
   */
  def step(
      st0: AlarmKeyState,
      in: AlarmInput,
      nowMillis: Long): (AlarmKeyState, Seq[ChainOutput]) = {
    val st1 = applyInput(st0, in, nowMillis)
    val name = in.name

    // J1/J2/J3 materialized from state
    val base = Monolog(
      name,
      registration = EffectiveRegistration(st1.alarm, st1.action),
      notification = EffectiveNotification(
        activation = st1.activation,
        overrides = AlarmOverrideSet.fromList(st1.overrides)))

    // T1
    val (m1, nextPrev) = StateMachines.detectTransitions(st1.prevReal, base)
    // T2/T3/T4
    val (m2, latchIp) = StateMachines.latchStep(m1, st1.latchInProgress)
    val (m3, ondelayIp) = StateMachines.onDelayStep(m2, st1.ondelayInProgress)
    val (m4, oneshotIp) = StateMachines.oneShotStep(m3, st1.oneshotInProgress)

    val emissions = Seq.newBuilder[ChainOutput]
    if (StateMachines.latchEmits(m4))
      emissions += ChainOutput(None, Some(OverrideEmission(
        name, OverrideType.Latched, Some(AlarmOverride(OverrideType.Latched)))))
    StateMachines.onDelayEmits(m4, nowMillis).foreach { o =>
      emissions += ChainOutput(None, Some(
        OverrideEmission(name, OverrideType.OnDelayed, Some(o))))
    }
    if (StateMachines.oneShotEmitsTombstone(m4))
      emissions += ChainOutput(None, Some(
        OverrideEmission(name, OverrideType.Shelved, None)))

    // T6
    StateMachines.effectiveStateStep(m4).foreach { settled =>
      emissions += ChainOutput(
        Some(EffectiveAlarm(name, settled.registration, settled.notification)), None)
    }

    val st2 = st1.copy(
      prevReal = nextPrev,
      latchInProgress = latchIp,
      ondelayInProgress = ondelayIp,
      oneshotInProgress = oneshotIp)
    (st2, emissions.result())
  }

  /**
   * One flat output row: a chain output in one of the app's three outputs,
   * named by `tag` ([[EffectiveTag]], [[NotificationTag]], [[EmissionTag]]).
   * Only the fields of its own output are set.
   */
  final case class OutputRow(
      tag: Int, name: String, overrideType: Option[String] = None,
      state: Option[String] = None, is_active: Option[Boolean] = None,
      shelved: Option[Boolean] = None, disabled: Option[Boolean] = None,
      oneshot: Option[Boolean] = None, expiration: Option[Long] = None,
      reason: Option[String] = None, tombstone: Option[Boolean] = None)

  val EffectiveTag = 0
  val NotificationTag = 1
  val EmissionTag = 2

  /**
   * A chain output as the rows the app writes: a settled effective alarm
   * feeds the effective and the notification outputs, an override
   * emission the overrides changelog.
   */
  def rowsOf(o: ChainOutput): Seq[OutputRow] =
    o.effective.toSeq.flatMap { e =>
      val n = e.notification
      Seq(
        OutputRow(EffectiveTag, e.name, state = Some(n.state),
          is_active = Some(n.activation.isDefined)),
        OutputRow(NotificationTag, e.name, state = Some(n.state),
          shelved = Some(n.overrides.shelved.isDefined),
          disabled = Some(n.overrides.disabled.isDefined)))
    } ++ o.emission.map { e =>
      OutputRow(EmissionTag, e.name, overrideType = Some(e.overrideType),
        oneshot = e.value.flatMap(_.oneshot), expiration = e.value.flatMap(_.expiration),
        reason = e.value.flatMap(_.reason), tombstone = Some(e.value.isEmpty))
    }

  /**
   * The streaming operator: union of changelogs in, the app's flat output
   * rows out ([[rowsOf]] over each [[step]] output, fired timers included),
   * in emission order within an alarm.
   *
   * Within a micro-batch a group's iterator is UNORDERED, so each alarm's
   * records are sorted by `(seq, subSeq)` (the Kafka (partition, offset)
   * analogue) before the [[step]] fold — the reference gets this ordering
   * for free from Kafka partition order (`ActivationRule.java:25-27`
   * javadoc).
   *
   * After the fold, every call (data or timeout) fires the deadlines older
   * than the batch's processing time: a due timer fires in a batch that
   * brings the alarm other records, and a record of its own type re-arms
   * it instead. The timeout is then set to the earliest remaining deadline
   * (Spark clears it on every call).
   *
   * Emitting the flat rows here, rather than [[ChainOutput]]s, keeps the
   * nested model encoder out of the consumer's plan: the sink reads the
   * operator's output as it is, with no deserialize-flatten-serialize step.
   */
  def run(inputs: Dataset[AlarmInput]): Dataset[OutputRow] = {
    val spark = inputs.sparkSession
    import spark.implicits._
    inputs.groupByKey(_.name)
      .flatMapGroupsWithState[AlarmKeyState, OutputRow](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (name, records, state: GroupState[AlarmKeyState]) =>
          var st = state.getOption.getOrElse(AlarmKeyState())
          val out = Seq.newBuilder[OutputRow]
          records.toSeq.sortBy(r => (r.seq, r.subSeq)).foreach { in =>
            val (st2, o) = step(st, in, System.currentTimeMillis())
            st = st2
            out ++= o.flatMap(rowsOf)
          }
          // T8/T9 fire (`ShelveExpirationRule.java:151-169`,
          // `OnDelayExpirationRule.java:99-204`): a tombstone per due type.
          val now = state.getCurrentProcessingTimeMs()
          val (due, armed) = st.expiries.partition(_._2 < now)
          due.keys.foreach(t =>
            out ++= rowsOf(ChainOutput(None, Some(OverrideEmission(name, t, None)))))
          state.update(st.copy(expiries = armed))
          armed.values.minOption.foreach(d => state.setTimeoutDuration(math.max(1L, d - now)))
          out.result().iterator
      }
  }
}
