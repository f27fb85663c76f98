package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/**
 * [[DriverActions.runAll]]: concurrent driver actions that, on the first
 * failure or an interrupt of the caller, cancel their running siblings,
 * skip the ones not started, await every action and rethrow the first
 * error; the threads carry the caller's local properties.
 */
class DriverActionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def sc: SparkContext = spark.sparkContext

  private def waitFor(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!cond) {
      assert(System.nanoTime() < deadline, what)
      Thread.sleep(20)
    }
  }

  /** A one-task job that runs until it is cancelled (at most 60 s); the
    * error it ends with is kept in `ended`. */
  private def stall(ended: AtomicReference[Throwable]): () => Unit = () =>
    try spark.sparkContext.parallelize(Seq(0), 1).foreach { _ =>
      val until = System.currentTimeMillis() + 60000
      while (!TaskContext.get().isInterrupted() && System.currentTimeMillis() < until)
        Thread.sleep(20)
    } catch { case t: Throwable => ended.set(t); throw t }

  private def slow(done: AtomicBoolean): () => Unit =
    () => { Thread.sleep(1500); done.set(true) }

  /** No job is left running once the end events have been delivered. */
  private def assertNoActiveJob(): Unit = {
    // A cancelled job's end event trails its waiter by a moment.
    val deadline = System.nanoTime() + 2000L * 1000 * 1000
    while (sc.statusTracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(50)
      org.apache.spark.ListenerBusBridge.drain(sc)
    }
    assert(sc.statusTracker.getActiveJobIds.isEmpty, "a job outlived runAll")
  }

  test("runAll: the first failure cancels running siblings; all are awaited; its error is rethrown") {
    val boom = new IllegalStateException("boom")
    val stallEnd = new AtomicReference[Throwable]()
    val slowDone = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      DriverActions.runAll(sc, Seq(
        () => { waitFor("the stalling job never started")(
          sc.statusTracker.getActiveJobIds.nonEmpty); throw boom },
        stall(stallEnd),
        slow(slowDone)))
    }
    assert(e eq boom)
    assert(slowDone.get, "runAll returned before a sibling finished")
    assert(stallEnd.get != null && stallEnd.get.getMessage.contains("cancel"), s"${stallEnd.get}")
    assert((System.nanoTime() - t0) / 1e9 < 30, "the stalling job was not cancelled")
    assertNoActiveJob()
  }

  test("runAll: actions not yet started when one fails are skipped") {
    val ran = new AtomicBoolean(false)
    intercept[IllegalStateException] {
      DriverActions.runAll(sc, Seq(
        () => throw new IllegalStateException("boom"),
        () => Thread.sleep(500),
        () => ran.set(true)), width = 2)
    }
    assert(!ran.get, "an action started after the failure")
  }

  test("runAll: an interrupted caller cancels the actions, awaits them and rethrows the interrupt") {
    val stallEnd = new AtomicReference[Throwable]()
    val slowDone = new AtomicBoolean(false)
    val outcome = new AtomicReference[Throwable]()
    val caller = new Thread(() =>
      try DriverActions.runAll(sc, Seq(stall(stallEnd), slow(slowDone)))
      catch { case t: Throwable => outcome.set(t) })
    caller.start()
    waitFor("the stalling job never started")(sc.statusTracker.getActiveJobIds.nonEmpty)
    caller.interrupt()
    caller.join(30000)
    assert(!caller.isAlive, "runAll did not return after the interrupt")
    assert(outcome.get.isInstanceOf[InterruptedException], s"${outcome.get}")
    assert(slowDone.get, "runAll returned before a sibling finished")
    assert(stallEnd.get != null && stallEnd.get.getMessage.contains("cancel"), s"${stallEnd.get}")
    assertNoActiveJob()
  }

  test("runAll: the action threads carry the caller's local properties; the caller's stay as they were") {
    sc.setJobGroup("caller-group", "caller description")
    sc.setLocalProperty("graft.spec.key", "caller value")
    try {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
      DriverActions.runAll(sc, (0 until 3).map(_ => () => {
        seen.add((sc.getLocalProperty("spark.jobGroup.id"),
          sc.getLocalProperty("spark.job.description"), sc.getLocalProperty("graft.spec.key")))
        ()
      }))
      assert(seen.size == 3)
      seen.forEach(p => assert(p == (("caller-group", "caller description", "caller value"))))
      assert(sc.getJobTags().isEmpty, "the per-call tag leaked onto the caller")
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller-group")
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("graft.spec.key", null)
    }
  }
}
