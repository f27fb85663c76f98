package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

import graft.queries.OracleForm

/**
 * Oracle output-type lint, wired into `sbt test`.
 *
 * The driver hashes pandas-rendered DuckDB output; an uncast sum(int) types
 * as HUGEINT (int128) which pandas renders as float64, so `250` hashes as
 * `250.0` and the row mismatches even when values are bit-equal (round-9
 * span_screen — the ONLY red row of the round, and invisible to the local
 * strict gate because it VARCHAR-casts before comparing). This spec renders
 * every oracle (static + dynamic) through Verify's oracle_sql.json writer —
 * the same bytes Verify dumps — plus the candidate-literal form
 * of the near-dup oracles, and shells out to
 * `tools/oracle_type_lint.py`, which DESCRIBEs each query in DuckDB and
 * fails on HUGEINT/UHUGEINT/DECIMAL in the final schema. DuckDB only exists
 * on the Python side here (driver tooling), hence the subprocess; if the
 * interpreter or module is absent the test cancels rather than green-washes.
 */
class OracleTypeLintSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def assumeDuckDb(): Unit = {
    val py = new ProcessBuilder("python3", "-c", "import duckdb")
      .redirectErrorStream(true).start()
    assume(py.waitFor() == 0, "python3+duckdb unavailable; lint runs driver-side only")
  }

  /** Lints `json` (Verify.oracleJson's bytes) and checks it held an
    * oracle for every name in `expected`. */
  private def lint(json: String, expected: Set[String]): Unit = {
    val tmp = Files.createTempDirectory("oracle_lint")
    val path = tmp.resolve("oracle_sql.json")
    Files.writeString(path, json)

    val proc = new ProcessBuilder(
      "python3", "tools/oracle_type_lint.py", sf, path.toString)
      .directory(new java.io.File(sys.props.getOrElse("user.dir", ".")))
      .redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes())
    val rc = proc.waitFor()
    Files.delete(path)
    Files.delete(tmp)
    val failing = out.linesIterator.filter(_.startsWith("FAIL")).toSeq
    assert(rc == 0, s"oracle type lint failed:\n${failing.mkString("\n")}")
    val linted = out.linesIterator.collect {
      case l if l.startsWith("PASS ") => l.stripPrefix("PASS ")
    }.toSet
    assert(linted == expected,
      s"no oracle for ${(expected -- linted).toSeq.sorted.mkString(", ")}")
  }

  test("every oracle's final output schema is free of lossy DuckDB types") {
    assumeDuckDb()
    val all = SparkEntry.queries.keySet
    lint(Verify.oracleJson(spark, sf, all), all)
  }

  test("the candidate-literal form of every candidate oracle is free of lossy DuckDB types") {
    assumeDuckDb()
    val cand = SparkEntry.registry.collect {
      case q if q.oracle.isInstanceOf[OracleForm.Candidate] => q.name
    }.toSet
    assert(cand.size == 11)
    // Threshold 0 swaps the candidate form in at sf0.001's 500 documents;
    // every candidate key renders it (none falls back to the exhaustive
    // form), so the lint below sees the literal form.
    val rendered = SparkEntry.dynamicOracleSql(spark, sf, candMinDocs = 0, names = cand)
    assert(rendered.keySet == cand)
    assert(rendered.forall { case (k, v) => v != SparkEntry.oracleSql(k) })
    lint(Verify.oracleJson(spark, sf, cand, candMinDocs = 0), cand)
  }
}
