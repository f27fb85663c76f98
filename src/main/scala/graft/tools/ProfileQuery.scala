package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.{GraftCaches, GraftSession, SparkEntry}

/**
 * Generic per-query profile: wall seconds plus scheduler-level counts
 * (jobs, stages, tasks, summed task time, summed GC time, shuffle bytes)
 * from a [[SparkListener]] — the no-UI stand-in for the Stages tab
 * (optimization guide §1/§7). Run:
 *
 *   sbt "runMain graft.tools.ProfileQuery /root/testdata/sf0.1 q1 q2 ..."
 *
 * Each query runs twice (first pass warms codegen/JIT like Bench's
 * warmup; the second pass's numbers are the signal) under the same
 * cache isolation Bench uses. The second pass also lists its jobs, each
 * with its wall time and call site, and its stages, each with its task
 * count and its max and summed task time — so a stage AQE coalesced
 * into one long task shows as `tasks=1` with max = sum. Cores:
 * SPARK_GRAFT_CPUS, else all.
 */
object ProfileQuery {
  final class Counters extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val gcMs = new AtomicLong
    val shufRead = new AtomicLong
    val shufWrite = new AtomicLong
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    // Per stage: (tasks, max task ms, summed task ms), and the completed
    // stages' (id, wall ms, name).
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
    val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      // A caller-set call site when there is one, else the name of the
      // job's result stage (e.g. `foreach at BinShards.scala:…`).
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("callSite.short")))
        .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
        .getOrElse("?")
      jobStart.put(e.jobId, (e.time, site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val st = jobStart.remove(e.jobId)
      if (st != null)
        jobLog.add((e.jobId, e.time - st._1, st._2))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val i = e.stageInfo
      val wall = (for (s <- i.submissionTime; c <- i.completionTime)
        yield c - s).getOrElse(0L)
      stageLog.add((i.stageId, wall, i.name))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        val ms = m.executorRunTime
        stageTasks.compute(e.stageId, (_, a) => {
          val t = if (a == null) Array(0L, 0L, 0L) else a
          t(0) += 1; t(1) = math.max(t(1), ms); t(2) += ms
          t
        })
        taskMs.addAndGet(ms)
        gcMs.addAndGet(m.jvmGCTime)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0); gcMs.set(0)
      shufRead.set(0); shufWrite.set(0); jobStart.clear(); jobLog.clear()
      stageTasks.clear(); stageLog.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = args.drop(1).toSet
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = GraftSession.local(cpus, "profile-query")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val qs = SparkEntry.queries.filter { case (k, _) =>
      names.isEmpty || names(k) }
    qs.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      (1 to 2).foreach { pass =>
        GraftCaches.clearAll()
        spark.catalog.clearCache()
        System.gc()
        counters.reset()
        val t0 = System.nanoTime()
        try {
          GraftCaches.scoped {
            fn(spark, dir).write.format("noop").mode("overwrite").save()
          }
          val s = (System.nanoTime() - t0) / 1e9
          println(f"[prof] $name pass$pass: $s%6.2f s  jobs=${counters.jobs.get}%3d stages=${counters.stages.get}%4d tasks=${counters.tasks.get}%5d taskTime=${counters.taskMs.get / 1000.0}%7.1f s gc=${counters.gcMs.get / 1000.0}%5.1f s shufR=${counters.shufRead.get / 1024}%8d KiB shufW=${counters.shufWrite.get / 1024}%8d KiB")
          if (pass == 2) {
            import scala.jdk.CollectionConverters._
            counters.jobLog.asScala.toSeq.sortBy(_._1).foreach {
              case (id, ms, site) =>
                println(f"[prof]   job $id%3d ${ms / 1000.0}%6.2f s  $site")
            }
            counters.stageLog.asScala.toSeq.sortBy(_._1).foreach {
              case (id, ms, stageName) =>
                val Array(n, mx, sum) = Option(counters.stageTasks.get(id))
                  .getOrElse(Array(0L, 0L, 0L))
                println(f"[prof]   stage $id%4d ${ms / 1000.0}%6.2f s  " +
                  f"tasks=$n%4d maxTask=${mx / 1000.0}%6.2f s " +
                  f"sumTask=${sum / 1000.0}%6.2f s  $stageName")
            }
          }
        } catch {
          case e: Throwable =>
            println(s"[prof] $name pass$pass: FAILED ${e.toString.take(160)}")
        }
      }
    }
    spark.stop()
  }
}
