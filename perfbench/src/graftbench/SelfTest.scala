package graftbench

import org.apache.spark.sql.{Observation, SparkSession}

import graftbench.AlarmGen.Topic

/**
 * The benchmark's own checks, run by `perfbench/test_bench.py`:
 * generator determinism, and that the output checks catch a perturbed
 * digest, a dropped record and a wrong final alarm state.
 */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    generators()
    accounting()
    foldCheck()
    digests(args.headOption.getOrElse(sys.error("usage: SelfTest WORK_DIR")))
    if (failures > 0) sys.exit(1)
  }

  private def generators(): Unit = {
    def steady(seed: Long) = AlarmGen.steady(seed, 3, 500, 200, 100).rendered(1000L)
    check("steady: same seed, byte-identical inputs")(steady(7) == steady(7))
    check("steady: another seed, other inputs")(steady(7) != steady(8))
  }

  private def accounting(): Unit = {
    val generated = Seq((Topic.Activations, "a1", 3), (Topic.Overrides, "o1", 2))
    val rows = Map("a1" -> 3L, "o1" -> 2L, "part-f" -> 4L)
    val all = Seq(Topic.Activations -> Set("a1"), Topic.Overrides -> Set("o1", "part-f"),
      Topic.Overrides -> Set("o1", "part-f"))
    def gap(consumed: Seq[(String, Set[String])], input: Seq[Long]) =
      AlarmBench.unaccounted(generated, consumed, (_, f) => rows(f), input, Seq(1, 1, 2))
    check("accounting: every record read")(gap(all, Seq(3, 6, 12)) == 0)
    check("accounting: a dropped record is caught")(gap(all, Seq(2, 6, 12)) > 0)
    check("accounting: an unread file is caught")(
      gap(all.updated(2, Topic.Overrides -> Set("part-f")), Seq(3, 6, 8)) > 0)
  }

  private def foldCheck(): Unit = {
    val w = AlarmGen.steady(3, 2, 200, 100, 100)
    val byAlarm = AlarmBench.inputsByAlarm(w, w.records)
    val folded = w.checkable.map(n => n -> AlarmBench.foldState(byAlarm(n)).get).toMap
    check("fold: matching states pass")(AlarmBench.foldMismatches(folded, byAlarm, w.checkable) == 0)
    val name = w.checkable.minBy(n => -byAlarm(n).size)
    val wrong = folded.updated(name, if (folded(name) == "Normal") "Active" else "Normal")
    check("fold: a wrong final state is caught")(
      AlarmBench.foldMismatches(wrong, byAlarm, w.checkable) == byAlarm(name).size)
  }

  private def digests(work: String): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("graftbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    try {
      def digest(rows: Seq[(Long, String, Seq[Double])]) = {
        val obs = Observation()
        CorpusBench.observeDigest(rows.toDF("id", "s", "xs").repartition(2), obs)
          .write.format("noop").mode("overwrite").save()
        CorpusBench.digestOf(obs)
      }
      val rows = (1L to 50L).map(i => (i, s"r$i", Seq(i * 0.5, i * 1.5)))
      val d = digest(rows)
      check("digest: row order does not matter")(digest(rows.reverse) == d)
      check("digest: one changed value is caught")(
        digest(rows.updated(10, (11L, "r11", Seq(5.5, 16.5000001)))) != d)
      val golden = Map("q" -> d)
      check("digest: golden output passes")(CorpusBench.failures(golden, Seq("q" -> Right(d))).isEmpty)
      check("digest: a perturbed digest fails")(
        CorpusBench.failures(golden, Seq("q" -> Right(d.copy(lo = d.lo + 1)))).size == 1)
      check("digest: an exception fails")(
        CorpusBench.failures(golden, Seq("q" -> Left(new RuntimeException("x")))).size == 1)
    } finally spark.stop()
  }
}
