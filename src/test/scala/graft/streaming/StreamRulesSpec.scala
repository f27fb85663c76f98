package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.app.UnifiedAlarmRule
import graft.app.UnifiedAlarmRule.{AlarmInput, AlarmKeyState, ChainOutput, Kind}
import graft.model._

/**
 * MemoryStream ports of the reference's TopologyTestDriver scenarios
 * (SURVEY.md §5), run through the app's monolog chain
 * ([[UnifiedAlarmRule.run]]): transition sequences (ActivationRuleTest:222-275),
 * latch start/stop (LatchRuleTest), oneshot idempotence (OneShotRuleTest:148-168),
 * tombstone protection (ActivationRuleTest:136-149), and the 5s
 * shelve-expiration round trip (ShelveExpirationRuleTest:61-102) on
 * [[StreamRules.expirationTimers]].
 *
 * Each chain scenario is named after the reference rule it exercises
 * (T1 transitionDetect, T2 latchRule, T3 onDelayRule, T4 oneShotRule,
 * T6 effectiveStateRule). A rule's flags are observed through what the
 * chain emits: settled effective states (T6 drops mid-transition
 * records, so latching/ondelaying/unshelving show as suppression) and
 * override emissions (transitionToActive as the Latched/OnDelayed
 * emission, transitionToNormal as the oneshot unshelve tombstone).
 */
class StreamRulesSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val ids = new AtomicInteger(0)

  /** Run [[UnifiedAlarmRule.run]] over batches of input, synchronously;
    * returns each batch's fresh outputs. */
  private def chain(batches: Seq[AlarmInput]*): Seq[Seq[ChainOutput]] = {
    implicit val sq = spark.sqlContext
    val qn = s"out${ids.incrementAndGet()}"
    val ms = MemoryStream[AlarmInput]
    val q = UnifiedAlarmRule.run(ms.toDS()).writeStream
      .format("memory").queryName(qn).outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graftck").toString)
      .start()
    try {
      var seen = 0
      batches.map { b =>
        if (b.nonEmpty) ms.addData(b)
        q.processAllAvailable()
        val all = spark.table(qn).as[ChainOutput].collect().toSeq
        val fresh = all.drop(seen)
        seen = all.size
        fresh
      }
    } finally q.stop()
  }

  // --- chain inputs and observations --------------------------------------

  private def instance(seq: Long, name: String, latchable: Boolean = false,
      ondelay: Option[Long] = None): AlarmInput =
    AlarmInput(seq, name, Kind.Instance,
      alarm = Some(Alarm(action = Some("cls"))),
      action = Some(AlarmAction(latchable = latchable, ondelayseconds = ondelay)))

  private def act(seq: Long, name: String, union: String): AlarmInput =
    AlarmInput(seq, name, Kind.ActivationK, activation = Some(Activation(union)))

  private def setOverride(seq: Long, name: String, o: AlarmOverride): AlarmInput =
    AlarmInput(seq, name, Kind.Override,
      overrideType = Some(o.overrideType), overrideValue = Some(o))

  private def shelve(seq: Long, name: String, oneshot: Boolean): AlarmInput =
    setOverride(seq, name, AlarmOverride(OverrideType.Shelved,
      oneshot = Some(oneshot), expiration = Some(99999L)))

  private def clearOverride(seq: Long, name: String, t: String): AlarmInput =
    AlarmInput(seq, name, Kind.Override, overrideType = Some(t), tombstone = true)

  private val Active = ActivationKind.Active
  private val NoActivation = ActivationKind.NoActivation

  /** Settled (name, state) pairs; stable within an alarm, sorted across. */
  private def states(out: Seq[ChainOutput]): Seq[(String, String)] =
    out.flatMap(_.effective).map(e => (e.name, e.notification.state)).sortBy(_._1)

  private def emissions(out: Seq[ChainOutput]): Seq[OverrideEmission] =
    out.flatMap(_.emission).sortBy(_.name)

  private def latched(name: String) = OverrideEmission(name, OverrideType.Latched,
    Some(AlarmOverride(OverrideType.Latched)))
  private def unshelve(name: String) = OverrideEmission(name, OverrideType.Shelved, None)

  // --- T1 transition detect ----------------------------------------------

  test("transitionDetect: active/active/normal sequence sets flags once each way") {
    // "up" (latchable) shows transitionToActive as its Latched emission;
    // "down" (oneshot-shelved) shows transitionToNormal as its unshelve
    // tombstone. Both see the same activation sequence.
    def both(seq: Long, union: String) = Seq(act(seq, "up", union), act(seq, "down", union))
    val out = chain(
      Seq(instance(1, "up", latchable = true), shelve(1, "down", oneshot = true)),
      both(2, Active),
      both(3, Active),
      both(4, NoActivation),
      both(5, NoActivation))
    assert(out.map(emissions) == Seq(Nil, Seq(latched("up")), Nil, Seq(unshelve("down")), Nil))
    val shelved = Seq("down" -> AlarmState.NormalOneShotShelved)
    assert(out.map(states) == Seq(
      Seq("down" -> AlarmState.NormalOneShotShelved, "up" -> AlarmState.Normal),
      shelved, shelved, // "up" is latching from here on
      Nil, Nil))        // "down" is unshelving
  }

  test("transitionDetect: in-batch ordering by seq (flap within one micro-batch)") {
    // One batch delivers the flap out of seq order. Folded by seq it is
    // Active (transitionToActive: Latched emission) then NoActivation
    // (transitionToNormal: unshelve tombstone); folded in arrival order
    // it would be a no-op NoActivation followed by a fresh activation.
    val out = chain(
      Seq(instance(1, "a", latchable = true), shelve(2, "a", oneshot = true)),
      Seq(act(4, "a", NoActivation), act(3, "a", Active)))
    assert(emissions(out(1)) == Seq(latched("a"), unshelve("a")))
  }

  test("transitionDetect: tombstone-protection yields empty monolog + transitionToNormal") {
    // Tombstoning the registration and the activation leaves an EMPTY
    // effective alarm, not a vanished one, and the activation tombstone
    // is a transition to normal (seen as the oneshot unshelve).
    val out = chain(
      Seq(instance(1, "a"), act(2, "a", Active), shelve(3, "a", oneshot = true)),
      Seq(AlarmInput(4, "a", Kind.Instance, tombstone = true),
        AlarmInput(5, "a", Kind.ActivationK, tombstone = true)),
      Seq(clearOverride(6, "a", OverrideType.Shelved)))
    assert(out(1).flatMap(_.effective).map(e => (e.registration, e.notification.state)) ==
      Seq((EffectiveRegistration(), AlarmState.NormalOneShotShelved)))
    assert(emissions(out(1)) == Seq(unshelve("a")))
    assert(out(2).flatMap(_.effective) ==
      Seq(EffectiveAlarm("a", EffectiveRegistration(), EffectiveNotification())))
  }

  // --- T2 latch ----------------------------------------------------------

  test("latchRule: emits Latched override + latching flag, cleared when override lands") {
    val out = chain(
      Seq(instance(1, "a", latchable = true)),
      Seq(act(2, "a", Active)),
      Seq(act(3, "a", Active)), // still latching (no override yet)
      Seq(setOverride(4, "a", AlarmOverride(OverrideType.Latched))))
    assert(out.map(emissions) == Seq(Nil, Seq(latched("a")), Nil, Nil))
    // Latching suppresses until the override lands and settles the alarm.
    assert(out.map(states) ==
      Seq(Seq("a" -> AlarmState.Normal), Nil, Nil, Seq("a" -> AlarmState.ActiveLatched)))
  }

  test("latchRule: non-latchable alarm passes through untouched") {
    val out = chain(Seq(instance(1, "b"), act(2, "b", Active)))
    assert(states(out.head) == Seq("b" -> AlarmState.Normal, "b" -> AlarmState.Active))
    assert(emissions(out.head).isEmpty)
  }

  // --- T3 ondelay ---------------------------------------------------------

  test("onDelayRule: emits OnDelayed override with future expiration; cleared by override") {
    val before = System.currentTimeMillis()
    val out = chain(
      Seq(instance(1, "a", ondelay = Some(5L))),
      Seq(act(2, "a", Active)),
      Seq(setOverride(3, "a",
        AlarmOverride(OverrideType.OnDelayed, expiration = Some(before + 5000)))))
    assert(states(out(1)).isEmpty) // ondelaying suppresses
    val em = emissions(out(1))
    assert(em.map(_.overrideType) == Seq(OverrideType.OnDelayed))
    val exp = em.head.value.flatMap(_.expiration).get
    assert(exp >= before + 5000 && exp <= System.currentTimeMillis() + 5000)
    assert(states(out(2)) == Seq("a" -> AlarmState.NormalOnDelayed)) // override landed
    assert(emissions(out(2)).isEmpty)
  }

  // --- T4 oneshot (idempotence, OneShotRuleTest:148-168) ------------------

  test("oneShotRule: unshelve tombstone on transitionToNormal, idempotent across records") {
    val out = chain(
      Seq(act(1, "a", Active), shelve(2, "a", oneshot = true)),
      Seq(act(3, "a", NoActivation)),
      // in-progress persists while still shelved: suppressed, no new tombstone
      Seq(act(4, "a", NoActivation)),
      // shelve removed -> store cleared, so a new oneshot shelve settles
      Seq(clearOverride(5, "a", OverrideType.Shelved)),
      Seq(shelve(6, "a", oneshot = true)))
    assert(out.map(emissions) == Seq(Nil, Seq(unshelve("a")), Nil, Nil, Nil))
    assert(out.map(states) == Seq(
      Seq("a" -> AlarmState.Active, "a" -> AlarmState.NormalOneShotShelved),
      Nil, Nil,
      Seq("a" -> AlarmState.Normal),
      Seq("a" -> AlarmState.NormalOneShotShelved)))
  }

  test("oneShotRule: continuous shelve never unshelves") {
    val out = chain(
      Seq(act(1, "a", Active), shelve(2, "a", oneshot = false)),
      Seq(act(3, "a", NoActivation)))
    assert(states(out(1)) == Seq("a" -> AlarmState.NormalContinuousShelved))
    assert(emissions(out(1)).isEmpty)
  }

  // --- T6 effective state --------------------------------------------------

  test("effectiveStateRule: drops transitioning, stamps ladder state") {
    val out = chain(Seq(
      act(1, "b", Active), // settled
      instance(1, "a", latchable = true), act(2, "a", Active))) // second is latching
    assert(states(out.head) == Seq("a" -> AlarmState.Normal, "b" -> AlarmState.Active))
  }

  // --- streaming vs the pure fold ------------------------------------------

  test("run emits, per alarm, the outputs of a sequential step fold in (seq, subSeq) order") {
    // No ondelay inputs: its emission stamps the wall clock.
    val reemitted = instance(6, "b", latchable = true).copy(subSeq = 9L)
    val batches = Seq(
      Seq(instance(1, "a", latchable = true), instance(2, "b"), shelve(3, "c", oneshot = true)),
      // "a" arrives out of seq order within the batch
      Seq(act(5, "a", NoActivation), act(4, "a", Active), act(4, "b", Active),
        act(4, "c", Active)),
      // equal seq on "b": only subSeq puts the class re-emission last
      Seq(reemitted, instance(6, "b"), setOverride(6, "a", AlarmOverride(OverrideType.Latched)),
        act(7, "c", NoActivation)),
      Seq(act(8, "b", NoActivation), act(8, "a", Active),
        clearOverride(9, "c", OverrideType.Shelved), act(9, "b", Active)))
    def nameOf(o: ChainOutput): String =
      o.effective.map(_.name).orElse(o.emission.map(_.name)).get
    val streamed = chain(batches: _*).flatten.groupBy(nameOf)
    val folded = batches.flatten.groupBy(_.name).map { case (name, ins) =>
      name -> ins.sortBy(r => (r.seq, r.subSeq))
        .foldLeft((AlarmKeyState(), Vector.empty[ChainOutput])) {
          case ((st, acc), in) =>
            val (st2, o) = UnifiedAlarmRule.step(st, in, 0L)
            (st2, acc ++ o)
        }._2
    }
    assert(streamed.keySet == Set("a", "b", "c"))
    assert(streamed == folded)
    // The subSeq order is observable: "b" ends latchable, so its last
    // activation emits a Latched override.
    assert(streamed("b").last.emission.contains(latched("b")))
  }

  // --- T8 expiration -----------------------------------------------------

  // NOTE: never call processAllAvailable() on a ProcessingTimeTimeout query —
  // timeout checks keep scheduling micro-batches so "all available" never
  // settles (livelock). Poll the memory sink with a deadline instead.

  private def startExpiryQuery(ms: MemoryStream[OverrideRecord], qn: String) =
    StreamRules.expirationTimers(ms.toDS(), OverrideType.Shelved)
      .writeStream.format("memory").queryName(qn).outputMode("append")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graftck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
      .start()

  private def pollCount(qn: String, until: Long => Boolean, deadlineMs: Long): Long = {
    val deadline = System.currentTimeMillis() + deadlineMs
    var n = spark.table(qn).count()
    while (!until(n) && System.currentTimeMillis() < deadline) {
      Thread.sleep(250)
      n = spark.table(qn).count()
    }
    n
  }

  test("expirationTimers: shelve with short expiration fires a tombstone (5s round trip)") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[OverrideRecord]
    val qn = s"exp${ids.incrementAndGet()}"
    val q = startExpiryQuery(ms, qn)
    try {
      ms.addData(Seq(OverrideRecord(1, "a", OverrideType.Shelved,
        oneshot = Some(false), expiration = Some(System.currentTimeMillis() + 3000))))
      val n = pollCount(qn, _ > 0, 45000)
      assert(n == 1)
      val fired = spark.table(qn).as[OverrideEmission].collect()
      assert(fired.head == OverrideEmission("a", OverrideType.Shelved, None))
    } finally q.stop()
  }

  test("expirationTimers: explicit tombstone disarms the timer") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[OverrideRecord]
    val qn = s"exp${ids.incrementAndGet()}"
    val q = startExpiryQuery(ms, qn)
    try {
      ms.addData(Seq(OverrideRecord(1, "a", OverrideType.Shelved,
        oneshot = Some(false), expiration = Some(System.currentTimeMillis() + 4000))))
      Thread.sleep(1000) // let the arm batch run
      ms.addData(Seq(OverrideRecord(2, "a", OverrideType.Shelved, tombstone = true)))
      // wait well past the would-be expiry; nothing must fire
      val n = pollCount(qn, _ > 0, 9000)
      assert(n == 0)
    } finally q.stop()
  }

  test("expirationTimers: re-shelve replaces the timer (one firing, not two)") {
    // Last record wins (`ShelveExpirationRule.java:121-135`): the second
    // shelve re-arms the alarm's one timer at its own expiration.
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[OverrideRecord]
    val qn = s"exp${ids.incrementAndGet()}"
    val q = startExpiryQuery(ms, qn)
    try {
      val t0 = System.currentTimeMillis()
      ms.addData(Seq(OverrideRecord(1, "a", OverrideType.Shelved,
        oneshot = Some(false), expiration = Some(t0 + 2000))))
      Thread.sleep(800) // arm the first timer
      ms.addData(Seq(OverrideRecord(2, "a", OverrideType.Shelved,
        oneshot = Some(false), expiration = Some(System.currentTimeMillis() + 4000))))
      // Past the first expiration, before the second: the replaced timer
      // must not have fired.
      Thread.sleep(math.max(0L, t0 + 3000 - System.currentTimeMillis()))
      assert(spark.table(qn).count() == 0, "the replaced timer fired")
      val n = pollCount(qn, _ > 0, 45000)
      assert(n == 1, "exactly one firing after re-arm")
      // nothing further fires from the replaced first timer
      Thread.sleep(2000)
      assert(spark.table(qn).count() == 1)
    } finally q.stop()
  }
}
