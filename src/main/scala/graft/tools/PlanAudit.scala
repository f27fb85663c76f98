package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftCaches, GraftSession, SparkEntry}

/**
 * Prints the formatted physical plan per query plus a one-line audit:
 * #Exchanges (shuffles), broadcast joins, parquet pushdown evidence.
 * Run after changing any operator — the plan IS the product at 100 TB.
 *
 *   sbt "runMain graft.tools.PlanAudit <sfDir> [q1 q2 ...]"
 *   sbt "runMain graft.tools.PlanAudit <sfDir> --out <dir> <suffix> [q1 ...]"
 *
 * The `--out` form writes each query's `.explain("formatted")` to
 * `<dir>/<query>_<suffix>.txt` instead — the committed plan evidence
 * (plans/r17/). No jobs run for pure plans; queries whose CONSTRUCTION
 * runs eager work (bpeTrain's dictionary collect, the bin-artifact
 * exports) still pay it. Cores: `SPARK_GRAFT_CPUS` (default 8).
 *
 * [[audit]] is the shared counting core; PlanGateSpec pins golden bounds
 * on these counts for the most expensive queries, so dropping a persist
 * or un-broadcasting a dimension fails CI instead of surfacing as a
 * mystery regression in the next bench.
 */
object PlanAudit {

  /** Plan-shape counts extracted from the (pre-execution) physical plan. */
  final case class Counts(
      shuffles: Int,
      broadcastJoins: Int,
      sortMergeJoins: Int,
      parquetScans: Int,
      scansWithPushedFilters: Int,
      cachedScans: Int,
      mapPartitions: Int) {
    override def toString: String =
      s"shuffles=$shuffles broadcastJoins=$broadcastJoins " +
        s"sortMergeJoins=$sortMergeJoins parquetScans=$parquetScans " +
        s"scansWithPushedFilters=$scansWithPushedFilters " +
        s"cachedScans=$cachedScans mapPartitions=$mapPartitions"
  }

  def audit(df: DataFrame): Counts = {
    val plan = df.queryExecution.executedPlan.toString
    Counts(
      shuffles = "Exchange".r.findAllIn(plan).length -
        "BroadcastExchange".r.findAllIn(plan).length,
      broadcastJoins =
        "BroadcastHashJoin|BroadcastNestedLoop".r.findAllIn(plan).length,
      sortMergeJoins = "SortMergeJoin".r.findAllIn(plan).length,
      parquetScans = "FileScan parquet".r.findAllIn(plan).length,
      scansWithPushedFilters =
        "PushedFilters: \\[[^\\]]".r.findAllIn(plan).length,
      // Plan branches served from a persisted frame: a FileScan nested
      // under InMemoryRelation prints once per branch but EXECUTES once
      // (cache fill); cachedScans counts the reuse points.
      cachedScans = "InMemoryTableScan".r.findAllIn(plan).length,
      // Typed mapPartitions nodes — the two-phase top-k rankers' phase-1
      // heap (TopN.partitionTopN) appears as one of these; a gate floor
      // on it catches a revert to the bare per-query window (which would
      // pass every oracle but funnel whole corpora into single tasks).
      mapPartitions = "MapPartitions".r.findAllIn(plan).length)
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = args.drop(1) match {
      case Array("--out", outDir, suffix, _*) =>
        Some((Paths.get(outDir), suffix))
      case _ => None
    }
    val only = args.drop(if (out.isDefined) 4 else 1).toSet
    out.foreach { case (outDir, _) => Files.createDirectories(outDir) }
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "plan-audit")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        try GraftCaches.scoped {
          val df = fn(spark, dir)
          out match {
            case Some((outDir, suffix)) =>
              Files.write(outDir.resolve(s"${name}_$suffix.txt"),
                df.queryExecution.explainString(FormattedMode)
                  .getBytes(StandardCharsets.UTF_8))
              println(s"[audit] $name -> ${name}_$suffix.txt")
            case None =>
              println(s"[audit] $name: ${audit(df)}")
              if (only.nonEmpty) println(df.queryExecution.toString)
          }
        } catch {
          case e: Throwable => println(s"[audit] $name: FAILED ${e.getMessage}")
        } finally {
          GraftCaches.clearAll()
          spark.catalog.clearCache()
        }
      }
    }
    spark.stop()
  }
}
