package graft

import java.util.UUID
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.SparkContext

/**
 * Independent driver-side Spark actions (exports, sink writes) run at
 * once on driver threads: each action is a full-width Spark job, so the
 * later actions' tasks back-fill the cores the earlier ones' stage tails
 * leave idle, and their fixed costs (planning, job and commit overhead)
 * overlap.
 */
object DriverActions {

  /**
   * Run `actions` on at most `width` threads; with one thread (or one
   * action) they run in order on the caller's thread.
   *
   * The threads are created per call, so each inherits the caller's local
   * properties: job group and description, and a streaming query's id and
   * batch id. A query's `stop()`, which cancels its job group, cancels
   * these jobs too, and listeners attribute them to the caller's batch.
   * Cancellation is scoped by a per-call job tag, so the caller's group
   * stays as it is. On the first failure, or an interrupt of the caller,
   * the actions not yet started are skipped, the tag's jobs are cancelled
   * (again every 100 ms, for jobs a running action submits later), and
   * every action is awaited before the first error is rethrown: no job of
   * the call outlives it.
   */
  def runAll(sc: SparkContext, actions: Seq[() => Unit],
      width: Int = Int.MaxValue): Unit = {
    val threads = math.min(width, actions.size)
    if (threads <= 1) actions.foreach(_())
    else onThreads(sc, actions, threads)
  }

  private def onThreads(sc: SparkContext, actions: Seq[() => Unit],
      threads: Int): Unit = {
    val tag = s"graft-actions-${UUID.randomUUID()}"
    val next = new AtomicInteger(0)
    val first = new AtomicReference[Throwable]()
    def cancel(): Unit =
      sc.cancelJobsWithTag(tag, "an action failed or the caller was interrupted")
    def fail(t: Throwable): Unit = if (first.compareAndSet(null, t)) cancel()
    val workers = (0 until threads).map { i =>
      val t = new Thread(() => {
        sc.addJobTag(tag)
        var k = next.getAndIncrement()
        while (k < actions.size && first.get == null) {
          try actions(k)() catch { case e: Throwable => fail(e) }
          k = next.getAndIncrement()
        }
      }, s"graft-driver-action-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    var interrupted = false
    workers.foreach { t =>
      while (t.isAlive) {
        try t.join(100)
        catch {
          case e: InterruptedException => interrupted = true; fail(e)
        }
        if (first.get != null) cancel()
      }
    }
    Option(first.get).foreach { e =>
      if (interrupted && !e.isInstanceOf[InterruptedException])
        Thread.currentThread().interrupt()
      throw e
    }
  }
}
