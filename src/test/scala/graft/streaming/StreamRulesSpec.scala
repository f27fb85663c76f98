package graft.streaming

import java.util.concurrent.ConcurrentSkipListMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.app.UnifiedAlarmRule
import graft.app.UnifiedAlarmRule.{AlarmInput, AlarmKeyState, ChainOutput, EffectiveTag,
  EmissionTag, Kind, OutputRow, OverrideEmission, rowsOf}
import graft.model._

/**
 * MemoryStream ports of the reference's TopologyTestDriver scenarios
 * (SURVEY.md §5), run through the app's monolog chain
 * ([[UnifiedAlarmRule.run]]): transition sequences (ActivationRuleTest:222-275),
 * latch start/stop (LatchRuleTest), oneshot idempotence (OneShotRuleTest:148-168),
 * tombstone protection (ActivationRuleTest:136-149), and the
 * shelve-expiration round trip (ShelveExpirationRuleTest:61-102) on the
 * chain's own T8/T9 timers.
 *
 * Each chain scenario is named after the reference rule it exercises
 * (T1 transitionDetect, T2 latchRule, T3 onDelayRule, T4 oneShotRule,
 * T6 effectiveStateRule, T8/T9 expirationTimers). A rule's flags are
 * observed through the flat rows the chain emits: settled effective states (T6
 * drops mid-transition records, so latching/ondelaying/unshelving show as
 * suppression) and override emissions (transitionToActive as the
 * Latched/OnDelayed emission, transitionToNormal as the oneshot unshelve
 * tombstone, an expiry as its type's tombstone).
 */
class StreamRulesSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val ids = new AtomicInteger(0)

  /**
   * [[UnifiedAlarmRule.run]] over a MemoryStream on a 100 ms trigger,
   * keeping each batch's output rows by batch id. The processing-time timeouts
   * make the query run a batch on every trigger, so `processAllAvailable()`
   * never returns; [[add]] instead waits until a batch has read up to the
   * offset `addData` returned. [[stop]] and [[start]] restart the query
   * from its checkpoint over the same stream.
   */
  private final class Chain {
    private implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[AlarmInput]
    private val checkpoint =
      java.nio.file.Files.createTempDirectory("graftck").toString
    private val batches = new ConcurrentSkipListMap[Long, Seq[OutputRow]]()
    private var q: StreamingQuery = _
    start()

    def start(): Unit =
      q = UnifiedAlarmRule.run(input.toDS()).writeStream
        .queryName(s"chain${ids.incrementAndGet()}")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.ProcessingTime("100 milliseconds"))
        .foreachBatch { (b: Dataset[OutputRow], id: Long) =>
          batches.put(id, b.collect().toSeq); ()
        }
        .start()

    def stop(): Unit = q.stop()

    /** Wait until a committed batch has read the stream up to `end`. */
    def await(end: Long): Unit = {
      def reached = Option(q.lastProgress)
        .flatMap(p => Option(p.sources.head.endOffset))
        .flatMap(_.toLongOption).exists(_ >= end)
      val deadline = System.currentTimeMillis() + 60000
      while (!reached) {
        q.exception.foreach(e => throw e)
        assert(System.currentTimeMillis() < deadline, "no batch read the added records")
        Thread.sleep(20)
      }
    }

    /** Add one batch of records and return once a batch has read them. */
    def add(records: Seq[AlarmInput]): Unit =
      await(input.addData(records).json.toLong)

    /** Every batch's outputs, in batch order. */
    def byBatch: Seq[Seq[OutputRow]] = batches.values.asScala.toSeq

    def outputs: Seq[OutputRow] = byBatch.flatten

    /** Poll until `until` holds for the outputs or `withinMs` passes. */
    def poll(until: Seq[OutputRow] => Boolean, withinMs: Long): Seq[OutputRow] = {
      val deadline = System.currentTimeMillis() + withinMs
      while (!until(outputs) && System.currentTimeMillis() < deadline) Thread.sleep(100)
      outputs
    }
  }

  private def withChain[T](body: Chain => T): T = {
    val c = new Chain
    try body(c) finally c.stop()
  }

  /** Run [[UnifiedAlarmRule.run]] over batches of input, one batch at a
    * time; returns the rows each input batch added. */
  private def chain(batches: Seq[AlarmInput]*): Seq[Seq[OutputRow]] = withChain { c =>
    var seen = 0
    batches.map { b =>
      c.add(b)
      val all = c.outputs
      val fresh = all.drop(seen)
      seen = all.size
      fresh
    }
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

  /** 2100-01-01: a shelve that does not expire while a scenario runs. */
  private val FarFuture = 4102444800000L

  private def shelve(seq: Long, name: String, oneshot: Boolean,
      expiration: Long = FarFuture): AlarmInput =
    setOverride(seq, name, AlarmOverride(OverrideType.Shelved,
      oneshot = Some(oneshot), expiration = Some(expiration)))

  private def clearOverride(seq: Long, name: String, t: String): AlarmInput =
    AlarmInput(seq, name, Kind.Override, overrideType = Some(t), tombstone = true)

  private val Active = ActivationKind.Active
  private val NoActivation = ActivationKind.NoActivation

  /** Settled (name, state) pairs; stable within an alarm, sorted across. */
  private def states(out: Seq[OutputRow]): Seq[(String, String)] =
    out.filter(_.tag == EffectiveTag).map(r => (r.name, r.state.get)).sortBy(_._1)

  /** The override emission rows, in emission order. */
  private def fired(out: Seq[OutputRow]): Seq[OutputRow] = out.filter(_.tag == EmissionTag)

  private def emissions(out: Seq[OutputRow]): Seq[OutputRow] = fired(out).sortBy(_.name)

  /** The rows a chain output maps to ([[UnifiedAlarmRule.rowsOf]]). */
  private def emitted(e: OverrideEmission): OutputRow = rowsOf(ChainOutput(None, Some(e))).head
  private def settled(e: EffectiveAlarm): Seq[OutputRow] = rowsOf(ChainOutput(Some(e), None))

  private def latched(name: String) = emitted(OverrideEmission(name, OverrideType.Latched,
    Some(AlarmOverride(OverrideType.Latched))))
  private def unshelve(name: String) = emitted(OverrideEmission(name, OverrideType.Shelved, None))
  private def undelay(name: String) = emitted(OverrideEmission(name, OverrideType.OnDelayed, None))

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
    // is a transition to normal (seen as the oneshot unshelve): the
    // registration tombstone settles with the activation still on, the
    // activation tombstone is suppressed while unshelving. The flat rows
    // carry no registration; the pure step spec pins its emptying.
    val out = chain(
      Seq(instance(1, "a"), act(2, "a", Active), shelve(3, "a", oneshot = true)),
      Seq(AlarmInput(4, "a", Kind.Instance, tombstone = true),
        AlarmInput(5, "a", Kind.ActivationK, tombstone = true)),
      Seq(clearOverride(6, "a", OverrideType.Shelved)))
    assert(out(1).filter(_.tag != EmissionTag) == settled(EffectiveAlarm("a",
      EffectiveRegistration(), EffectiveNotification(activation = Some(Activation(Active)),
        overrides = AlarmOverrideSet(shelved = Some(AlarmOverride(OverrideType.Shelved))),
        state = AlarmState.NormalOneShotShelved))))
    assert(emissions(out(1)) == Seq(unshelve("a")))
    assert(out(2).filter(_.tag != EmissionTag) ==
      settled(EffectiveAlarm("a", EffectiveRegistration(), EffectiveNotification())))
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
    assert(em.map(_.overrideType) == Seq(Some(OverrideType.OnDelayed)))
    val exp = em.head.expiration.get
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
    val streamed = chain(batches: _*).flatten.groupBy(_.name)
    val folded = batches.flatten.groupBy(_.name).map { case (name, ins) =>
      name -> ins.sortBy(r => (r.seq, r.subSeq))
        .foldLeft((AlarmKeyState(), Vector.empty[OutputRow])) {
          case ((st, acc), in) =>
            val (st2, o) = UnifiedAlarmRule.step(st, in, 0L)
            (st2, acc ++ o.flatMap(rowsOf))
        }._2
    }
    assert(streamed.keySet == Set("a", "b", "c"))
    assert(streamed == folded)
    // The subSeq order is observable: "b" ends latchable, so its last
    // activation emits a Latched override.
    assert(streamed("b").last == latched("b"))
  }

  // --- T8/T9 expiration --------------------------------------------------

  private def continuous(seq: Long, name: String, expiresInMs: Long): AlarmInput =
    shelve(seq, name, oneshot = false, System.currentTimeMillis() + expiresInMs)

  test("expirationTimers: shelve with short expiration fires a tombstone (5s round trip)") {
    withChain { c =>
      c.add(Seq(continuous(1, "a", 3000)))
      assert(fired(c.poll(fired(_).nonEmpty, 45000)) == Seq(unshelve("a")))
    }
  }

  test("expirationTimers: explicit tombstone disarms the timer") {
    withChain { c =>
      c.add(Seq(continuous(1, "a", 4000)))
      c.add(Seq(clearOverride(2, "a", OverrideType.Shelved)))
      // wait well past the would-be expiry; nothing must fire
      assert(fired(c.poll(fired(_).nonEmpty, 9000)).isEmpty)
    }
  }

  test("expirationTimers: re-shelve replaces the timer (one firing, not two)") {
    // Last record wins (`ShelveExpirationRule.java:121-135`): the second
    // shelve re-arms the alarm's one timer at its own expiration.
    withChain { c =>
      val t0 = System.currentTimeMillis()
      c.add(Seq(shelve(1, "a", oneshot = false, t0 + 2000)))
      c.add(Seq(continuous(2, "a", 4000)))
      // Past the first expiration, before the second: the replaced timer
      // must not have fired.
      Thread.sleep(math.max(0L, t0 + 3000 - System.currentTimeMillis()))
      assert(fired(c.outputs).isEmpty, "the replaced timer fired")
      assert(fired(c.poll(fired(_).nonEmpty, 45000)) == Seq(unshelve("a")),
        "exactly one firing after re-arm")
      // nothing further fires from the replaced first timer
      Thread.sleep(2000)
      assert(fired(c.outputs) == Seq(unshelve("a")))
    }
  }

  test("expirationTimers: Shelved and OnDelayed deadlines on one alarm fire at their own times") {
    withChain { c =>
      val t0 = System.currentTimeMillis()
      c.add(Seq(continuous(1, "a", 1500), setOverride(2, "a",
        AlarmOverride(OverrideType.OnDelayed, expiration = Some(t0 + 6000)))))
      val first = fired(c.poll(fired(_).nonEmpty, 45000))
      val seenAt = System.currentTimeMillis()
      assert(first.headOption.contains(unshelve("a")), s"$first")
      if (seenAt < t0 + 6000) assert(first == Seq(unshelve("a")), "OnDelayed fired early")
      assert(fired(c.poll(fired(_).size > 1, 45000)) == Seq(unshelve("a"), undelay("a")))
      assert(System.currentTimeMillis() >= t0 + 6000)
    }
  }

  // The next two stop the query while a timer is armed and restart it
  // once the deadline has passed, with records already queued: the first
  // batch after the restart is then the due batch, and it reads them.

  test("expirationTimers: a due deadline fires in a batch where the alarm also gets an activation") {
    withChain { c =>
      c.add(Seq(instance(1, "a")))
      c.add(Seq(continuous(2, "a", 4000)))
      c.stop()
      assert(fired(c.outputs).isEmpty)
      val due = c.byBatch.size
      Thread.sleep(4500)
      val end = c.input.addData(Seq(act(3, "a", Active))).json.toLong
      c.start()
      c.await(end)
      Thread.sleep(1500) // a second firing would come in a later batch
      val after = c.byBatch.drop(due).filter(_.nonEmpty)
      assert(after.size == 1, s"$after")
      assert(states(after.head) == Seq("a" -> AlarmState.NormalContinuousShelved))
      assert(fired(after.head) == Seq(unshelve("a")))
    }
  }

  test("expirationTimers: a Shelved record in the due batch re-arms the timer instead of firing it") {
    withChain { c =>
      c.add(Seq(instance(1, "a")))
      c.add(Seq(continuous(2, "a", 4000)))
      c.stop()
      assert(fired(c.outputs).isEmpty)
      Thread.sleep(4500)
      val end = c.input.addData(Seq(continuous(3, "a", 3000))).json.toLong
      c.start()
      c.await(end)
      assert(fired(c.outputs).isEmpty, "the replaced due timer fired")
      assert(fired(c.poll(fired(_).nonEmpty, 45000)) == Seq(unshelve("a")))
      Thread.sleep(1500)
      assert(fired(c.outputs) == Seq(unshelve("a")))
    }
  }
}
