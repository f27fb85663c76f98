package graft.tools

import org.apache.spark.sql.functions._

import graft.{GraftCaches, GraftSession}

/**
 * In-JVM A/B of [[graft.sources.BinFamily.appendEpochs]]' concurrent
 * epoch exports vs the serial replay (the
 * `spark.graft.appendEpochs.maxConcurrent` knob): alternating
 * serial/concurrent reps inside ONE session, so box-level load drift —
 * this sandbox swings ±30% between JVMs — cancels out of the
 * comparison. Run:
 *
 *   sbt "runMain graft.tools.ProfileBinAppend /root/testdata/sf0.1 3"
 */
object ProfileBinAppend {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = GraftSession.local(cpus, "profile-bin-append")
    val docs = GraftSession.table(spark, dir, "documents")
    val model = graft.functions.Bpe.bpeTrain(docs, "text", numMerges = 40)
    val root = java.nio.file.Files
      .createTempDirectory("profile-binappend-").toString

    def clear(): Unit = {
      val p = java.nio.file.Paths.get(root)
      java.nio.file.Files.walk(p)
        .sorted(java.util.Comparator.reverseOrder())
        .filter(_ != p)
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
    }

    def runOnce(sft: Boolean, conc: Int): Double = {
      clear()
      GraftCaches.clearAll()
      spark.catalog.clearCache()
      System.gc()
      spark.conf.set("spark.graft.appendEpochs.maxConcurrent", conc.toString)
      val t0 = System.nanoTime()
      if (sft)
        graft.sources.BinFamily.appendEpochsSft(
          (0 to 1).map { e =>
            s"e$e" -> graft.ops.TrainShuffle.packNoSplitIds(
              docs.filter(col("doc_id") % 2 === e), "doc_id", "text",
              model, numShards = 8, budget = 256, salt = s"e$e")
          }, root, budget = 256, shardsPerEpoch = 8)
      else
        graft.sources.BinFamily.appendEpochs(
          (0 to 2).map { e =>
            s"e$e" -> graft.ops.TrainShuffle.packIdSequences(
              docs.filter(col("doc_id") % 3 === e), "doc_id", "text",
              model, numShards = 8, budget = 256, salt = s"e$e")
          }, root, budget = 256, shardsPerEpoch = 8, compactEvery = 2)
      (System.nanoTime() - t0) / 1e9
    }

    Seq(true, false).foreach { sft =>
      val name = if (sft) "sft-append(e0,e1)" else "fold-chain(e0,e1,fold,e2)"
      runOnce(sft, 1) // warmup
      val out = (1 to reps).flatMap { _ =>
        Seq(1 -> runOnce(sft, 1), 3 -> runOnce(sft, 3))
      }
      Seq(1, 3).foreach { c =>
        val xs = out.filter(_._1 == c).map(_._2).sorted
        println(f"[binappend] $name%-28s conc=$c reps=${xs.length} " +
          f"median=${xs(xs.length / 2)}%6.2f s  all=${
            xs.map(x => f"$x%.2f").mkString(",")}")
      }
    }
    spark.stop()
  }
}
