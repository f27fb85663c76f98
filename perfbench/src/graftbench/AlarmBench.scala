package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.{StreamingExecutionRelation, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.app.{AlarmProcessorApp, RegistrationStage, UnifiedAlarmRule}
import graftbench.AlarmGen.{Rec, Topic, Workload}

/**
 * The streaming workload against `AlarmProcessorApp.start` with the
 * app's default trigger. Inputs come only from [[AlarmGen]]; every file is
 * written to a staging directory and renamed into its topic, so the app
 * never reads a partial line.
 *
 * Latency is read from the app's own checkpoint after the run (see
 * [[Checkpoint]]), so the untraced run registers no listener at all.
 */
object AlarmBench {

  // alarm-steady: offered load (the rate is recorded in BENCHMARK.json).
  // Traffic runs for a warm-in before the measured window starts.
  val SteadyAlarms = 2000
  val SteadyRate = 10 // records per second
  val SteadyTickMs = 100
  val SteadyWarmInS = 8
  // A batch holds 20-60 rows; each further shuffle partition adds one state
  // store per stateful operator, with its own load, commit and task, to every
  // batch. Against four, one partition cut batch time by about a third on
  // 4 vCPUs and halved the run-to-run range of latency.
  val SteadyShufflePartitions = 1

  /** One file the generator published. */
  final case class Pub(file: String, topic: String, dueMs: Double, publishedMs: Double,
      recs: Vector[Rec])

  final class Publisher(paths: AlarmProcessorApp.Paths) {
    private val staging = Paths.get(paths.root, "staging")
    Files.createDirectories(staging)
    val published = scala.collection.mutable.ArrayBuffer.empty[Pub]

    /** Write `lines` to staging as `file`; returns the staged path. */
    def stage(file: String, lines: Iterable[String]): Path = {
      val p = staging.resolve(file)
      val sb = new java.lang.StringBuilder
      lines.foreach(l => sb.append(l).append('\n'))
      Files.write(p, sb.toString.getBytes(UTF_8))
      p
    }

    def move(staged: Path, topicDir: String): Unit =
      Files.move(staged, Paths.get(topicDir, staged.getFileName.toString),
        StandardCopyOption.ATOMIC_MOVE)

    def dirOf(topic: String): String =
      if (topic == Topic.Activations) paths.activations else paths.overrides

    /** Stage and publish one file per topic; `dueMs` is absolute. */
    def publishRecs(tag: String, dueMs: Double, recs: Vector[Rec], startMs: Long,
        parts: Int): Unit = {
      val staged = recs.groupBy(_.topic).toSeq.sortBy(_._1).flatMap { case (topic, rs) =>
        val n = math.min(parts, rs.size)
        (0 until n).map { k =>
          val part = rs.indices.collect { case i if i % n == k => rs(i) }.toVector
          val file = s"g-$tag-$topic-$k.json"
          (stage(file, part.map(_.render(startMs))), topic, part)
        }
      }
      val at = Tracer.nowMs()
      staged.foreach { case (p, topic, part) =>
        move(p, dirOf(topic))
        published += Pub(p.getFileName.toString, topic, dueMs, at, part)
      }
    }
  }

  final case class Running(paths: AlarmProcessorApp.Paths, app: AlarmProcessorApp.RunningApp,
      pub: Publisher) {
    def main: Checkpoint = new Checkpoint(paths.checkpoint + "/main")
  }

  /** Start the app on `root` and commit the workload's registrations. */
  def startApp(spark: SparkSession, root: Path, w: Workload, ctx: Main.Ctx): Running =
    ctx.phase("setup") {
      val paths = AlarmProcessorApp.Paths(root.toString)
      paths.mkdirs()
      val pub = new Publisher(paths)
      pub.move(pub.stage("classes.json", w.classLines), paths.classes)
      pub.move(pub.stage("instances.json", w.instanceLines), paths.instances)
      val app = AlarmProcessorApp.start(spark, paths)
      ctx.tracer.foreach { t =>
        t.nameQuery(app.fkQuery.id.toString, "fk")
        t.nameQuery(app.regQuery.id.toString, "reg")
        t.nameQuery(app.mainQuery.id.toString, "main")
      }
      app.fkQuery.processAllAvailable()
      app.regQuery.processAllAvailable()
      awaitSettled(app.mainQuery, System.currentTimeMillis())
      Running(paths, app, pub)
    }

  /**
   * Wait until `main` has consumed everything published before `afterMs`,
   * feedback included. Its expiry timers make it run a batch on every
   * trigger, so `processAllAvailable` never returns; instead wait for a
   * batch that started after `afterMs` and read no rows: the batch after
   * any feedback-writing batch reads that feedback.
   */
  def awaitSettled(q: StreamingQuery, afterMs: Long): Unit = {
    def settled = q.recentProgress.lastOption.exists(p =>
      p.numInputRows == 0 && startOf(p) > afterMs)
    while (!settled) {
      q.exception.foreach(e => throw e)
      require(q.isActive, "main query stopped")
      Thread.sleep(20)
    }
  }

  private def startOf(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  // ---- reading the checkpoint -------------------------------------------

  private def listDir(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else { val s = Files.list(p); try s.iterator().asScala.toVector finally s.close() }

  private def logLines(p: Path): Seq[String] =
    listDir(p).filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f, UTF_8).asScala)

  private val SourceEntry = """"path":"([^"]*)".*"batchId":(\d+)""".r.unanchored
  private val LogOffset = """\{"logOffset":(\d+)\}""".r

  /**
   * A query's checkpoint as of when it is read. A file source logs every
   * file it lists under the source's own log offset; the query's offset log
   * records, per batch, the log offset each source reached; the commit log
   * entry of a batch is written when the batch commits.
   */
  final class Checkpoint(dir: String) {
    /** Per file source, in source order: (topic directory, file -> log offset). */
    val sources: Seq[(String, Map[String, Long])] =
      listDir(Paths.get(dir, "sources")).sortBy(_.getFileName.toString.toInt).map { d =>
        val entries = logLines(d).collect { case SourceEntry(path, off) =>
          path.split('/').takeRight(2).toSeq -> off.toLong
        }
        entries.headOption.map(_._1.head).getOrElse("") ->
          entries.map { case (seg, off) => seg.last -> off }.toMap
      }

    /** Commit instant (epoch ms) of every committed batch. */
    val commits: Map[Long, Double] = listDir(Paths.get(dir, "commits")).flatMap { p =>
      p.getFileName.toString.toLongOption.map(b =>
        b -> Files.getLastModifiedTime(p).to(TimeUnit.MICROSECONDS) / 1000.0)
    }.toMap

    /** Per batch, ascending: the log offset each source had reached. */
    val offsets: Seq[(Long, IndexedSeq[Option[Long]])] =
      listDir(Paths.get(dir, "offsets")).flatMap { p =>
        p.getFileName.toString.toLongOption.map { b =>
          b -> Files.readAllLines(p, UTF_8).asScala.drop(2).map {
            case LogOffset(n) => Some(n.toLong)
            case _ => None
          }.toIndexedSeq
        }
      }.sortBy(_._1)

    private def batchOf(source: Int, off: Long): Option[Long] =
      offsets.find(_._2.lift(source).flatten.exists(_ >= off)).map(_._1)

    /** The committed batch that consumed `file` (the latest over its sources). */
    def batchOf(file: String): Option[Long] = {
      val bs = sources.zipWithIndex.flatMap { case ((_, m), i) => m.get(file).map(batchOf(i, _)) }
      if (bs.isEmpty || bs.exists(_.isEmpty)) None
      else Some(bs.flatten.max).filter(commits.contains)
    }

    /** Commit instant of the batch that consumed `file`. */
    def commitOf(file: String): Option[Double] = batchOf(file).map(commits)

    /** Per file source: (topic, files read by committed batches). */
    def consumed: Seq[(String, Set[String])] = {
      val last = commits.keys.maxOption
      val reached = offsets.find(o => last.contains(o._1)).map(_._2).getOrElse(IndexedSeq.empty)
      sources.zipWithIndex.map { case ((topic, m), i) =>
        val upTo = reached.lift(i).flatten.getOrElse(-1L)
        topic -> m.collect { case (f, off) if off <= upTo => f }.toSet
      }
    }
  }

  // ---- correctness -------------------------------------------------------

  /**
   * Records not accounted for in `main`'s input rows. A generated file must
   * have been read by every source of its topic, and each source must have
   * reported as input rows the rows of the files it read, once per scan of
   * that source in the query's plan.
   */
  def unaccounted(generated: Seq[(String, String, Int)], // (topic, file, rows)
      consumed: Seq[(String, Set[String])], // per source
      fileRows: (String, String) => Long, // (topic, file) => rows
      inputRows: Seq[Long], // per source
      scans: Seq[Int]): Long = {
    val missing = generated.map { case (topic, file, rows) =>
      val readers = consumed.filter(_._1 == topic)
      if (readers.nonEmpty && readers.forall(_._2.contains(file))) 0L else rows.toLong
    }.sum
    val rowGap = consumed.indices.map { i =>
      val (topic, files) = consumed(i)
      val read = files.toSeq.map(fileRows(topic, _)).sum
      math.abs(read * scans.lift(i).getOrElse(1) - inputRows.lift(i).getOrElse(0L))
    }.sum
    missing + rowGap
  }

  /**
   * Per source of a query, in source order (the query's own order: distinct
   * sources as its logical plan lists them): how many plan leaves scan it.
   */
  def scansPerSource(q: StreamingQuery): Seq[Int] = {
    val leaves = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.logicalPlan.collect {
      case r: StreamingExecutionRelation => r.source
    }
    leaves.distinct.map(s => leaves.count(_ == s))
  }

  /** The registration record the FK stages hand the chain for an instance. */
  def registrationInput(w: Workload, seq: Long, name: String, cls: String)
      : UnifiedAlarmRule.AlarmInput = {
    val c = w.classes.find(_.name == cls).get
    val st = RegistrationStage.RegState(cls = Some(RegistrationStage.ClsDefaults(
      c.latchable, c.filterable, c.ondelaySeconds, Some(c.priority))))
    RegistrationStage.enrichStep(st, RegistrationStage.RegInput(seq, cls, isClass = false,
      instName = Some(name), location = Some(Seq(s"L${seq % 7}"))))._2.head
  }

  /**
   * A generated record as the chain sees it. Shelve expirations stay
   * relative: the effective state never depends on their value.
   */
  def chainInput(r: Rec): UnifiedAlarmRule.AlarmInput =
    if (r.topic == Topic.Activations)
      AlarmProcessorApp.ActivationRow(r.seq, r.name, Some(r.union), Some(false)).toInput
    else
      AlarmProcessorApp.OverrideRow(r.seq, r.name, r.overrideType, r.oneshot,
        r.expiresAfterMs, None, Some(r.tombstone)).toInput

  /** Per alarm: its inputs in the chain's (seq, subSeq) order. */
  def inputsByAlarm(w: Workload, recs: Iterable[Rec])
      : Map[String, Vector[UnifiedAlarmRule.AlarmInput]] = {
    val regs = w.instances.map { case (seq, name, cls) => registrationInput(w, seq, name, cls) }
    (regs ++ recs.map(chainInput)).groupBy(_.name)
      .map { case (k, v) => k -> v.sortBy(i => (i.seq, i.subSeq)) }
  }

  /** Last effective state a sequential fold through `UnifiedAlarmRule.step` emits. */
  def foldState(inputs: Seq[UnifiedAlarmRule.AlarmInput]): Option[String] = {
    var st = UnifiedAlarmRule.AlarmKeyState()
    var last: Option[String] = None
    inputs.foreach { in =>
      val (st2, out) = UnifiedAlarmRule.step(st, in, 0L)
      st = st2
      out.flatMap(_.effective).lastOption.foreach(e => last = Some(e.notification.state))
    }
    last
  }

  /** Records of checkable alarms whose last emitted state differs from the fold. */
  def foldMismatches(actual: Map[String, String],
      byAlarm: Map[String, Vector[UnifiedAlarmRule.AlarmInput]], checkable: Set[String]): Long =
    checkable.toSeq.map { n =>
      val inputs = byAlarm.getOrElse(n, Vector.empty)
      if (foldState(inputs) == actual.get(n)) 0L else inputs.size.toLong
    }.sum

  /** Last emitted effective state per alarm of `names`, by emit_seq. */
  private def lastEmitted(spark: SparkSession, paths: AlarmProcessorApp.Paths,
      names: Set[String]): Map[String, String] = {
    import spark.implicits._
    spark.read.parquet(paths.effective)
      .filter(col("name").isin(names.toSeq: _*))
      .groupBy("name").agg(max_by(col("state"), col("emit_seq")).as("state"))
      .as[(String, String)].collect().toMap
  }

  /** Lines in the files the app's sink appended to a topic directory. */
  private def feedbackRows(dir: String): Long =
    listDir(Paths.get(dir)).filter(_.getFileName.toString.startsWith("part-"))
      .map(p => Files.readAllLines(p, UTF_8).size.toLong).sum

  // ---- per-layer metrics from progress ----------------------------------

  private def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Progress of triggers that ran a batch (idle triggers report one too). */
  private def ran(ps: Seq[StreamingQueryProgress]) = ps.filter(_.durationMs.containsKey("addBatch"))

  /**
   * Layer metrics of the app over `window0` (its main batches) plus the
   * registration stages over the whole run. The chain is the stateful
   * operator with the most rows; the other two are the expiry timers.
   */
  def appLayers(r: Running, window0: Seq[StreamingQueryProgress], ctx: Main.Ctx)
      : Map[String, Double] = {
    val window = ran(window0)
    val fk = ran(r.app.fkQuery.recentProgress.toSeq)
    val reg = ran(r.app.regQuery.recentProgress.toSeq)
    val data = window.filter(_.numInputRows > 0)
    val last = window.lastOption.toSeq
    def chainOp(p: StreamingQueryProgress) = p.stateOperators.maxBy(_.numRowsTotal)
    def timerOps(p: StreamingQueryProgress) = p.stateOperators.filterNot(_ eq chainOp(p))
    Map(
      "app.main.latest_offset_ms" -> med(window.map(ms(_, "latestOffset"))),
      "app.main.query_planning_ms" -> med(window.map(ms(_, "queryPlanning"))),
      "app.main.add_batch_ms" -> med(window.map(ms(_, "addBatch"))),
      "app.main.wal_commit_ms" -> med(window.map(ms(_, "walCommit"))),
      "app.main.batch_p50_ms" -> med(window.map(ms(_, "triggerExecution"))),
      "app.main.batches" -> window.size.toDouble,
      "app.fk.batch_p50_ms" -> med(fk.map(ms(_, "triggerExecution"))),
      "app.reg.batch_p50_ms" -> med(reg.map(ms(_, "triggerExecution"))),
      "app.UnifiedAlarmRule.state_rows" -> last.map(chainOp(_).numRowsTotal.toDouble).sum,
      "app.UnifiedAlarmRule.state_mem_bytes" -> last.map(chainOp(_).memoryUsedBytes.toDouble).sum,
      "app.UnifiedAlarmRule.state_commit_ms" -> med(window.map(chainOp(_).commitTimeMs.toDouble)),
      "app.UnifiedAlarmRule.rows_updated_per_batch" ->
        (if (data.isEmpty) 0.0 else data.map(chainOp(_).numRowsUpdated.toDouble).sum / data.size),
      "streaming.StreamRules.timer_state_rows" ->
        last.map(timerOps(_).map(_.numRowsTotal).sum.toDouble).sum,
      "streaming.StreamRules.expiry_tombstones" ->
        window.map(timerOps(_).map(_.numRowsRemoved).sum.toDouble).sum,
      "app.feedback_emissions" -> feedbackRows(r.paths.overrides).toDouble) ++
      ctx.tracer.map(t => "app.sink.jobs_per_batch" -> t.jobsPerBatch(r.app.mainQuery.id.toString))
  }

  /** Single-thread ns per record of the chain's `step` fold over `byAlarm`. */
  def stepNsPerRecord(byAlarm: Map[String, Vector[UnifiedAlarmRule.AlarmInput]]): Double = {
    val n = byAlarm.values.map(_.size).sum
    val runs = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      byAlarm.values.foreach(foldState)
      (System.nanoTime() - t0).toDouble / n
    }
    Stats.median(runs.drop(1))
  }

  // ---- the workloads -----------------------------------------------------

  /** Result of the end-of-run checks. */
  final case class Checked(failed: Long, notes: Map[String, String], layers: Map[String, Double])

  /**
   * Wait until `main` has committed every generated file, stop the app and
   * check its outputs: queries alive, every record accounted for, and the
   * fold equality on checkable alarms. Feedback the last batches emitted
   * may stay unread; accounting covers exactly the files batches read.
   */
  private def finish(spark: SparkSession, r: Running, w: Workload, recs: Vector[Rec],
      ctx: Main.Ctx): Checked = ctx.phase("check") {
    val pubs = r.pub.published.toVector
    val qs = Seq(r.app.fkQuery, r.app.regQuery, r.app.mainQuery)
    def alive = qs.forall(q => q.isActive && q.exception.isEmpty)
    while (alive && { val cp = r.main; !pubs.forall(p => cp.commitOf(p.file).isDefined) })
      Thread.sleep(100)
    val dead = qs.count(q => q.exception.isDefined || !q.isActive).toLong
    qs.foreach(_.exception.foreach(e => Main.log(s"query failed: $e")))
    r.app.stop()
    val progress = r.app.mainQuery.recentProgress.toSeq
    val inputRows = progress.head.sources.indices.map(i => progress.map(_.sources(i).numInputRows).sum)
    val generated = pubs.map(p => p.file -> p.recs.size.toLong).toMap
    def rowsOf(topic: String, file: String) = generated.getOrElse(file,
      Files.readAllLines(Paths.get(r.paths.root, topic, file), UTF_8).size.toLong)
    val gap = unaccounted(pubs.map(p => (p.topic, p.file, p.recs.size)), r.main.consumed,
      rowsOf, inputRows, scansPerSource(r.app.mainQuery))
    val byAlarm = inputsByAlarm(w, recs)
    val mismatched = foldMismatches(lastEmitted(spark, r.paths, w.checkable), byAlarm, w.checkable)
    Checked(
      if (dead > 0) recs.size.toLong else gap + mismatched,
      Map("dead_queries" -> dead.toString, "unaccounted_records" -> gap.toString,
        "fold_mismatch_records" -> mismatched.toString,
        "checkable_alarms" -> w.checkable.size.toString),
      if (ctx.tracer.isDefined) Map("model.step_ns_per_record" -> stepNsPerRecord(byAlarm))
      else Map.empty)
  }

  private def latencyE2e(lat: Seq[Double]): (Map[String, Double], Map[String, String]) =
    if (lat.isEmpty) (Map.empty, Map("latency_samples" -> "0"))
    else {
      val tailP = Stats.tailPercentile(lat.size).getOrElse(50.0)
      (Map("latency_p50_ms" -> Stats.median(lat), "latency_tail_ms" -> Stats.percentile(lat, tailP)),
        Map("tail_percentile" -> tailP.toString, "latency_samples" -> lat.size.toString))
    }

  def steady(spark: SparkSession, root: Path, seed: Long, seconds: Int, ctx: Main.Ctx,
      onReady: () => Unit): Main.Outcome = {
    val w = AlarmGen.steady(seed, SteadyWarmInS + seconds, SteadyAlarms, SteadyRate, SteadyTickMs)
    spark.conf.set("spark.sql.shuffle.partitions", SteadyShufflePartitions.toLong)
    val r = startApp(spark, root, w, ctx)
    // Set-up ends once the first tick of traffic is committed too: the first
    // batch with activations and overrides compiles their code paths. The
    // run's clock starts with that tick.
    val startMs = System.currentTimeMillis()
    ctx.phase("setup") {
      r.pub.publishRecs("t00000", startMs.toDouble, w.ticks.head.records, startMs, 1)
      val first = r.pub.published.map(_.file)
      while (!first.forall(r.main.commitOf(_).isDefined)) Thread.sleep(20)
    }
    onReady()
    Main.log("registrations and first tick committed")
    // Later ticks keep their offsets from the first one's due time.
    val delayMs = System.currentTimeMillis() + 200 - startMs
    w.ticks.zipWithIndex.drop(1).foreach { case (t, i) =>
      val due = (startMs + delayMs + t.dueMs).toDouble
      val wait = due - Tracer.nowMs()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      r.pub.publishRecs(f"t$i%05d", due, t.records, startMs + delayMs, 1)
    }
    val recs = w.records
    val checked = finish(spark, r, w, recs, ctx)
    val fromMs = startMs + delayMs + SteadyWarmInS * 1000L
    val endMs = fromMs + seconds * 1000L
    val cp = r.main
    val pubs = r.pub.published.toVector
    // One sample per tick in the window: its files share a due time, and
    // the tick is committed once the last of them is.
    val (lat, latNotes) = latencyE2e(pubs.filter(_.dueMs >= fromMs).groupBy(_.dueMs).toSeq
      .flatMap { case (due, ps) =>
        val cs = ps.map(p => cp.commitOf(p.file))
        if (cs.forall(_.isDefined)) Some(cs.flatten.max - due) else None
      })
    // Capacity: `main` batches that read rows, per second of their own
    // duration, over the batches that started in the window. Batches run
    // back to back at this load, so records per second would only echo
    // the offered rate; batches per second moves with the per-batch cost.
    val window = r.app.mainQuery.recentProgress.toSeq
      .filter(p => startOf(p) >= fromMs && startOf(p) < endMs)
    val data = ran(window).filter(_.numInputRows > 0)
    window.foreach(p => Main.log(s"main batch ${p.batchId} at ${startOf(p) - startMs} ms: " +
      s"${p.numInputRows} rows, ${ms(p, "triggerExecution")} ms"))
    val late = pubs.map(p => p.publishedMs - p.dueMs)
    Main.Outcome(
      lat ++ Map("throughput_per_s" -> data.size * 1000.0 / data.map(ms(_, "triggerExecution")).sum),
      appLayers(r, window, ctx) ++ checked.layers ++ Map(
        "gen.late_ms_p99" -> Stats.percentile(late, 99),
        "gen.offered_records" -> recs.size.toDouble),
      recs.size.toLong, checked.failed,
      latNotes ++ checked.notes ++ Map("window_data_batches" -> data.size.toString))
  }
}
