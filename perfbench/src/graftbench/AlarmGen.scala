package graftbench

import java.util.SplittableRandom

/**
 * Seeded alarm-traffic generator for the `alarm-steady` workload.
 *
 * The generator is a pure function of its seed: it returns the registration
 * changelogs (classes, instances) plus a schedule of topic files, each with
 * a due offset from the start of the run. The only wall-clock input is
 * `startMs`, used when rendering shelve expirations (absolute epoch millis
 * in the app's schema); rendering with the same `startMs` is byte-identical.
 *
 * Seqs are a dense counter: classes first, then instances, then traffic in
 * due order, so the seq order of one alarm's records is its arrival order.
 */
object AlarmGen {

  final case class AlarmClass(name: String, latchable: Boolean, filterable: Boolean,
      ondelaySeconds: Option[Long], priority: String)

  /** One generated changelog record; `expiresAfterMs` is relative to the run start. */
  final case class Rec(seq: Long, name: String, topic: String, union: String = null,
      overrideType: String = null, oneshot: Option[Boolean] = None,
      expiresAfterMs: Option[Long] = None, tombstone: Boolean = false) {
    def render(startMs: Long): String = topic match {
      case Topic.Activations =>
        s"""{"seq":$seq,"name":"$name","union":"$union"}"""
      case Topic.Overrides =>
        val os = oneshot.fold("")(b => s""","oneshot":$b""")
        val ex = expiresAfterMs.fold("")(d => s""","expiration":${startMs + d}""")
        s"""{"seq":$seq,"name":"$name","overrideType":"$overrideType"$os$ex,"tombstone":$tombstone}"""
    }
  }

  object Topic {
    val Activations = "activations"
    val Overrides = "overrides"
  }

  /** Records published together as one file per topic at `dueMs` after the start. */
  final case class Tick(dueMs: Long, records: Vector[Rec])

  final case class Workload(
      classes: Vector[AlarmClass],
      instances: Vector[(Long, String, String)], // (seq, name, class)
      ticks: Vector[Tick],
      // Alarms whose records can trigger neither feedback nor timers:
      // non-latchable class without on-delay, never shelved. Their final
      // effective state must equal a sequential fold of their records.
      checkable: Set[String]) {

    def records: Vector[Rec] = ticks.flatMap(_.records)

    def classLines: Seq[String] = classes.zipWithIndex.map { case (c, i) =>
      val od = c.ondelaySeconds.fold("")(s => s""","ondelayseconds":$s""")
      s"""{"seq":${i + 1},"name":"${c.name}","latchable":${c.latchable},""" +
        s""""filterable":${c.filterable}$od,"priority":"${c.priority}"}"""
    }

    def instanceLines: Seq[String] = instances.map { case (seq, name, cls) =>
      s"""{"seq":$seq,"name":"$name","action":"$cls","location":["L${seq % 7}"],"tombstone":false}"""
    }

    /** Every input byte the app will read, in publish order. */
    def rendered(startMs: Long): String = {
      val sb = new StringBuilder
      (classLines ++ instanceLines).foreach(l => sb.append(l).append('\n'))
      ticks.foreach { t =>
        sb.append("# ").append(t.dueMs).append('\n')
        t.records.foreach(r => sb.append(r.topic).append(' ').append(r.render(startMs)).append('\n'))
      }
      sb.toString
    }
  }

  private val OverrideTypes = Seq("Disabled", "Filtered", "Masked")

  /**
   * `alarm-steady`: `alarms` registered alarms in four classes (plain,
   * latchable, on-delay, critical), near-uniform keys, `rate` records per
   * second in ticks of `tickMs` for `seconds` seconds. A tenth of the alarms
   * are shelvable: they receive Shelved overrides expiring 1-3 s after
   * publication, so expiry timers fire during the run.
   */
  def steady(seed: Long, seconds: Int, alarms: Int, rate: Int, tickMs: Int): Workload = {
    val rnd = new SplittableRandom(seed)
    val classes = Vector(
      AlarmClass("plain", latchable = false, filterable = true, None, "P3"),
      AlarmClass("latch", latchable = true, filterable = true, None, "P2"),
      AlarmClass("ondelay", latchable = false, filterable = true, Some(2L), "P2"),
      AlarmClass("critical", latchable = false, filterable = false, None, "P1"))
    var seq = classes.size.toLong + 100
    val names = Vector.tabulate(alarms)(i => f"s$i%06d")
    val clsOf = names.map { _ =>
      val u = rnd.nextInt(100)
      if (u < 55) "plain" else if (u < 70) "latch" else if (u < 85) "ondelay" else "critical"
    }
    val shelvable = names.map(_ => rnd.nextInt(10) == 0)
    val instances = names.indices.map { i => seq += 1; (seq, names(i), clsOf(i)) }.toVector
    val active = new Array[Boolean](alarms)
    val perTick = rate * tickMs / 1000
    val ticks = Vector.tabulate(seconds * 1000 / tickMs) { t =>
      val recs = Vector.fill(perTick) {
        val i = rnd.nextInt(alarms)
        seq += 1
        if (rnd.nextInt(10) < 7) {
          active(i) = !active(i)
          Rec(seq, names(i), Topic.Activations,
            union = if (active(i)) "Activation" else "NoActivation")
        } else if (shelvable(i)) {
          if (rnd.nextInt(4) == 0)
            Rec(seq, names(i), Topic.Overrides, overrideType = "Shelved", tombstone = true)
          else
            Rec(seq, names(i), Topic.Overrides, overrideType = "Shelved",
              oneshot = Some(rnd.nextInt(3) == 0),
              expiresAfterMs = Some(t.toLong * tickMs + 1000 + rnd.nextInt(2000)))
        } else {
          Rec(seq, names(i), Topic.Overrides,
            overrideType = OverrideTypes(rnd.nextInt(OverrideTypes.size)),
            tombstone = rnd.nextBoolean())
        }
      }
      Tick(t.toLong * tickMs, recs)
    }
    val checkable = names.indices.collect {
      case i if (clsOf(i) == "plain" || clsOf(i) == "critical") && !shelvable(i) => names(i)
    }.toSet
    Workload(classes, instances, ticks, checkable)
  }
}
