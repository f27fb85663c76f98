package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    * SHARED with OracleTypeLintSpec so the lint DESCRIBEs byte-identical
    * SQL to what the driver's dump executes. */
  private def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** oracle_sql.json's text: the oracle of every query `names` selects,
    * static and rendered against `sfDir` (a failed render drops only the
    * oracles that need it; see [[SparkEntry.dynamicOracleSql]]). The ONE
    * writer: OracleTypeLintSpec lints exactly these bytes. */
  def oracleJson(spark: SparkSession, sfDir: String, names: String => Boolean,
      candMinDocs: Int = 2000): String =
    (SparkEntry.oracleSql ++
      SparkEntry.dynamicOracleSql(spark, sfDir, candMinDocs, names))
      .filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${jsonEscape(k)}: ${jsonEscape(v)}" }
      .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val only = SparkEntry.selected
    SparkEntry.queries.filter { case (k, _) => only(k) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(spark, sfDir, only))
    spark.stop()
  }
}
