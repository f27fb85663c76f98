package graft.app

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/**
 * End-to-end drive of AlarmProcessorApp over file "topics", replaying the
 * reference README quick-start plus the latch feedback loop:
 *   1. register alarm1 (plain class) + alarm2 (latchable class)
 *   2. activate alarm1            -> Active
 *   3. shelve alarm1 for 3s       -> NormalContinuousShelved
 *   4. (timer fires tombstone)    -> Active again        [T8 feedback]
 *   5. activate alarm2            -> ActiveLatched        [latch feedback]
 *   6. update class base to latchable; alarm1 re-activates
 *                                 -> ActiveLatched  [class-FK retrigger]
 */
object AppDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val root = Files.createTempDirectory("graft-app").toString
    val paths = AlarmProcessorApp.Paths(root)
    paths.mkdirs()

    var n = 0
    def write(dir: String, json: String): Unit = {
      n += 1
      Files.writeString(java.nio.file.Paths.get(dir, s"in$n.json"), json + "\n")
    }

    // classes are a changelog like everything else (seq-ordered)
    write(paths.classes,
      """{"seq":1,"name":"base","latchable":false,"filterable":true,"priority":"P3"}""" + "\n" +
      """{"seq":2,"name":"critical","latchable":true,"filterable":false,"priority":"P1"}""")

    val q = AlarmProcessorApp.start(spark, paths)

    def latestState(name: String): Option[String] =
      scala.util.Try {
        spark.read.parquet(paths.effective)
          .filter($"name" === name)
          .orderBy($"emit_seq".desc)
          .select("state").as[String].head()
      }.toOption

    def awaitState(name: String, state: String, label: String, timeoutMs: Long = 30000): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      var cur: Option[String] = None
      while (cur != Some(state) && System.currentTimeMillis() < deadline) {
        Thread.sleep(300); cur = latestState(name)
      }
      println(s"[app-demo] $label: $name -> ${cur.getOrElse("(none)")} (expected $state)")
      assert(cur == Some(state), s"$label failed: got $cur")
    }

    try {
      write(paths.instances, """{"seq":1,"name":"alarm1","action":"base","tombstone":false}""")
      write(paths.instances, """{"seq":2,"name":"alarm2","action":"critical","tombstone":false}""")
      awaitState("alarm1", "Normal", "register")

      // probe: malformed + unknown-name records must not kill the query
      write(paths.activations, """this is not json at all""")
      write(paths.activations, """{"seq":9,"name":"ghost-alarm","union":"Activation"}""")

      write(paths.activations, """{"seq":10,"name":"alarm1","union":"Activation"}""")
      awaitState("alarm1", "Active", "activate (after garbage probe)")

      val exp = System.currentTimeMillis() + 3000
      write(paths.overrides,
        s"""{"seq":20,"name":"alarm1","overrideType":"Shelved","oneshot":false,"expiration":$exp,"tombstone":false}""")
      awaitState("alarm1", "NormalContinuousShelved", "shelve")

      awaitState("alarm1", "Active", "shelve expired (T8 feedback)", timeoutMs = 45000)

      write(paths.activations, """{"seq":30,"name":"alarm2","union":"Activation"}""")
      awaitState("alarm2", "ActiveLatched", "latch feedback")

      // class-FK retrigger: make base latchable WITHOUT touching alarm1's
      // registration; the registration stage must re-emit alarm1 enriched
      // with the new defaults (visible in the intermediate hop), after
      // which a fresh activation latches.
      write(paths.classes,
        """{"seq":40,"name":"base","latchable":true,"filterable":true,"priority":"P3"}""")
      // the retrigger re-emits alarm1 under its ORIGINAL seq (1) with the
      // new defaults — (seq=1, latchable=true) only exists post-retrigger
      val deadline = System.currentTimeMillis() + 30000
      def retriggered(): Boolean = scala.util.Try {
        spark.read.json(paths.intermediateReg)
          .filter($"name" === "alarm1" && $"seq" === 1 &&
            $"action.latchable" === true)
          .count() > 0
      }.getOrElse(false)
      while (!retriggered() && System.currentTimeMillis() < deadline)
        Thread.sleep(300)
      assert(retriggered(), "class update must re-emit member instances")
      println("[app-demo] class update re-emitted alarm1 with new defaults")

      write(paths.activations, """{"seq":41,"name":"alarm1","union":"NoActivation"}""")
      awaitState("alarm1", "Normal", "deactivate before retrigger check")
      write(paths.activations, """{"seq":42,"name":"alarm1","union":"Activation"}""")
      awaitState("alarm1", "ActiveLatched", "class-FK retrigger latches")

      println("[app-demo] OK — full chain incl. feedback loop + FK retrigger verified")
    } finally {
      q.stop()
      graft.GraftCaches.clearAll() // leave no dead frames registered
      spark.stop()
    }
  }
}
