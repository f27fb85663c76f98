package graft.tools

import org.apache.spark.sql.functions._

import graft.{GraftCaches, GraftSession}
import graft.sources.{BinFamily, BinShards}

/**
 * In-JVM A/B of [[graft.sources.BinFamily.appendEpochs]]' concurrent
 * epoch exports vs the serial replay (one `appendEpoch` call per epoch,
 * which the batch call's contract makes byte-equivalent), over each
 * layout's fold chain: alternating serial/batch reps inside ONE session,
 * so load drift between JVMs (up to 30% under CPU steal) cancels out
 * of the comparison. Run:
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

    // Per layout, the fold chain: two epochs, the fold, a third epoch —
    // as one batch call, or as one call per epoch.
    def runOnce(layout: BinShards.Layout, batch: Boolean): Double = {
      clear()
      GraftCaches.clearAll()
      spark.catalog.clearCache()
      System.gc()
      val epochs = (0 to 2).map { e =>
        s"e$e" -> layout.pack(docs.filter(col("doc_id") % 3 === e),
          "doc_id", "text", model, numShards = 8, budget = 256,
          salt = s"e$e")
      }
      def append(es: Seq[(String, org.apache.spark.sql.DataFrame)]): Unit =
        BinFamily.appendEpochsImpl(layout, es, root, budget = 256,
          shardsPerEpoch = 8, compactEvery = 2, identity = Map.empty)
      val t0 = System.nanoTime()
      if (batch) append(epochs) else epochs.foreach(e => append(Seq(e)))
      (System.nanoTime() - t0) / 1e9
    }

    BinShards.Layout.all.foreach { layout =>
      val name = s"${layout.name} fold-chain(e0,e1,fold,e2)"
      runOnce(layout, batch = false) // warmup
      val out = (1 to reps).flatMap { _ =>
        Seq("serial" -> runOnce(layout, batch = false),
          "batch" -> runOnce(layout, batch = true))
      }
      Seq("serial", "batch").foreach { c =>
        val xs = out.filter(_._1 == c).map(_._2).sorted
        println(f"[binappend] $name%-32s $c%-6s reps=${xs.length} " +
          f"median=${xs(xs.length / 2)}%6.2f s  all=${
            xs.map(x => f"$x%.2f").mkString(",")}")
      }
    }
    spark.stop()
  }
}
