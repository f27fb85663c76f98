package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One batch query, declared once: its name, its Spark body over an sf
  * directory, and the DuckDB SQL that pins its rows. */
final case class Query(name: String,
    run: (SparkSession, String) => DataFrame, oracle: OracleForm)

/** How a query's oracle SQL is produced. */
sealed trait OracleForm

object OracleForm {

  /** SQL fixed at build time. */
  final case class Static(sql: String) extends OracleForm

  /** SQL that embeds [[Artifacts]] trained on the input tables. */
  final case class Rendered(render: Artifacts => String) extends OracleForm

  /**
   * The near-dup consolidation oracles. `sql(None)` is the exhaustive
   * all-pairs replay; `sql(Some(pairs))` swaps in the operator's banded
   * candidate pairs as VALUES literals (Oracle.nearDupPairCtes's Some
   * branch). DuckDB still independently re-verifies the exact-Jaccard
   * threshold over the raw shingle lists plus ALL downstream logic
   * (clustering, winners, drop sets). The exhaustive form goes quadratic
   * in DuckDB (sf0.1's 5,000 docs = 12.5M list-intersect pairs — measured
   * >25/>60-min oracle timeouts at sf0.1), so the dynamic render swaps in
   * the candidate form from `candMinDocs` documents on; below it the
   * exhaustive form stays the gate, pinning banding recall at sf0.01.
   * A threshold of 0 renders the candidate form at any scale, so the two
   * forms can be strict-checked against each other where both are
   * tractable.
   */
  final case class Candidate(sql: Option[String] => String) extends OracleForm
}

object Query {
  import OracleForm._

  type Body = (SparkSession, String) => DataFrame

  def sql(name: String, run: Body)(sql: String): Query =
    Query(name, run, Static(sql))

  def rendered(name: String, run: Body)(render: Artifacts => String): Query =
    Query(name, run, Rendered(render))

  def candidate(name: String, run: Body)(sql: Option[String] => String): Query =
    Query(name, run, Candidate(sql))

  /** The entries, checked to declare each name once: a duplicate would
    * silently drop an entry from the name-keyed maps. */
  def unique(entries: Seq[Query]): Seq[Query] = {
    val dups = entries.groupBy(_.name).collect {
      case (name, qs) if qs.size > 1 => name
    }
    require(dups.isEmpty,
      s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    entries
  }
}
