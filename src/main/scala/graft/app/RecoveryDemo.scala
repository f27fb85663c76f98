package graft.app

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/**
 * Fault-tolerance drive: stop the app mid-scenario and restart from the
 * same checkpoint. The assertion hinges on REMEMBERED state: after
 * restart, a NoActivation record must produce transitionToNormal (stored
 * prevReal=Active) which fires the oneshot-unshelve feedback — state loss
 * would leave the alarm stuck in NormalOneShotShelved forever.
 */
object RecoveryDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val root = Files.createTempDirectory("graft-recovery").toString
    val paths = AlarmProcessorApp.Paths(root)
    paths.mkdirs()

    var n = 0
    def write(dir: String, json: String): Unit = {
      n += 1
      Files.writeString(java.nio.file.Paths.get(dir, s"in$n.json"), json + "\n")
    }
    def latestState(name: String): Option[String] =
      scala.util.Try {
        spark.read.parquet(paths.effective)
          .filter($"name" === name).orderBy($"emit_seq".desc)
          .select("state").as[String].head()
      }.toOption
    def awaitState(name: String, state: String, label: String): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      var cur: Option[String] = None
      while (cur != Some(state) && System.currentTimeMillis() < deadline) {
        Thread.sleep(300); cur = latestState(name)
      }
      println(s"[recovery] $label: $name -> ${cur.getOrElse("(none)")} (expected $state)")
      assert(cur == Some(state), s"$label failed: got $cur")
    }

    write(paths.classes, """{"seq":1,"name":"base","latchable":false,"filterable":true,"priority":"P3"}""")

    // phase 1: build up per-alarm state, then stop
    val q1 = AlarmProcessorApp.start(spark, paths)
    write(paths.instances, """{"seq":1,"name":"a1","action":"base","tombstone":false}""")
    write(paths.activations, """{"seq":10,"name":"a1","union":"Activation"}""")
    awaitState("a1", "Active", "phase1 activate")
    write(paths.overrides,
      """{"seq":20,"name":"a1","overrideType":"Shelved","oneshot":true,"expiration":0,"tombstone":false}""")
    awaitState("a1", "NormalOneShotShelved", "phase1 oneshot shelve")
    q1.stop()
    println("[recovery] query stopped; restarting from checkpoint")

    // phase 2: restart from the same checkpoint; the unshelve depends on
    // prevReal=Active surviving the restart
    val q2 = AlarmProcessorApp.start(spark, paths)
    try {
      write(paths.activations, """{"seq":30,"name":"a1","union":"NoActivation"}""")
      awaitState("a1", "Normal", "phase2 unshelve-after-restart (state survived)")
      println("[recovery] OK — keyed state recovered across restart")

      // phase 3: REGISTRATION-stage recovery. A class update must
      // retrigger the remembered member a1 under the new defaults, which
      // only happens if the reg stage's RegState (class defaults + member
      // map) came back from ITS checkpoint — wipe checkpoint/reg and this
      // assertion times out. The retrigger is identified structurally:
      // subSeq carries the class record's seq (2), and the re-emission
      // must show the NEW priority.
      write(paths.classes,
        """{"seq":2,"name":"base","latchable":false,"filterable":true,"priority":"P1"}""")
      def retriggered: Boolean = scala.util.Try {
        spark.read
          .schema(org.apache.spark.sql.Encoders.product[UnifiedAlarmRule.AlarmInput].schema)
          .json(paths.intermediateReg)
          .filter($"name" === "a1" && $"subSeq" === 2L &&
            $"action.priority" === "P1")
          .limit(1).count() > 0
      }.getOrElse(false)
      val deadline = System.currentTimeMillis() + 30000
      while (!retriggered && System.currentTimeMillis() < deadline)
        Thread.sleep(300)
      assert(retriggered,
        "phase3 failed: class update did not retrigger the remembered " +
          "member after restart — registration-stage state lost")
      println("[recovery] OK — registration stage retriggered member a1 " +
        "with new class defaults after restart")
    } finally {
      q2.stop()
      graft.GraftCaches.clearAll() // leave no dead frames registered
      spark.stop()
    }
  }
}
