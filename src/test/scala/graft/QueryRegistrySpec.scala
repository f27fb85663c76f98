package graft

import java.nio.file.{Files, Path, Paths}

import scala.util.{Failure, Try}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Artifacts, OracleForm, Query}

/**
 * The query registry: each batch query is declared once with its oracle,
 * and the name-keyed maps Verify, Bench and the specs read are derived
 * from that one list.
 */
class QueryRegistrySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"

  private lazy val rendered = SparkEntry.dynamicOracleSql(spark, sf)

  test("the registry declares 161 queries, each name once") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 161)
    assert(names.distinct.size == 161)
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("the static oracles and the oracles rendered at sf0.001 cover every query") {
    assert(SparkEntry.oracleSql.keySet ++ rendered.keySet == SparkEntry.queries.keySet)
    // Below the candidate threshold no candidate form is rendered, so no
    // query has two oracles.
    assert((SparkEntry.oracleSql.keySet & rendered.keySet).isEmpty)
  }

  test("a duplicate query name fails the registry and names the key") {
    val body = SparkEntry.queries("set_ops")
    val entries = Seq(Query.sql("a", body)("SELECT 1"),
      Query.sql("dup_name", body)("SELECT 2"),
      Query.sql("dup_name", body)("SELECT 3"))
    val e = intercept[IllegalArgumentException](Query.unique(entries))
    assert(e.getMessage.contains("dup_name"))
  }

  test("a render without embeddings.parquet drops only the oracles that read embeddings") {
    val copy = Files.createTempDirectory("sf_no_embeddings")
    Files.list(Paths.get(sf)).forEach { (p: Path) =>
      if (p.getFileName.toString != "embeddings.parquet") {
        val to = copy.resolve(p.getFileName)
        Files.copy(p, to)
        to.toFile.setWritable(true)
      }
    }
    // The same renders against ONE Artifacts: every failed render must
    // rethrow the same exception object — the missing table was read
    // once, not once per oracle that needs it.
    val (partial, failures) =
      try {
        val a = new Artifacts(spark, copy.toString, 2000)
        (SparkEntry.dynamicOracleSql(spark, copy.toString),
          SparkEntry.registry.collect {
            case Query(name, _, OracleForm.Rendered(render)) =>
              name -> Try(render(a))
          }.collect { case (name, Failure(e)) => name -> e })
      } finally {
        Files.list(copy).forEach((p: Path) => Files.delete(p))
        Files.delete(copy)
      }
    val readsEmbeddings = rendered.collect {
      case (k, sql) if sql.contains("FROM embeddings") => k
    }.toSet
    assert(readsEmbeddings.contains("ann_ivf_topk"))
    assert(readsEmbeddings.contains("hybrid_topk"))
    assert(readsEmbeddings.size == 20)
    assert(partial.keySet == rendered.keySet -- readsEmbeddings)
    assert(failures.map(_._1).toSet == readsEmbeddings)
    assert(failures.forall(_._2 eq failures.head._2),
      "a failed artifact was rebuilt: renders threw distinct exceptions")
    // Every survivor renders the same SQL as the full render.
    assert(partial.forall { case (k, sql) => rendered(k) == sql })
    Seq("bpe_count", "bpe_vocab_ids", "pack_ids", "pack_nosplit_ids",
      "bin_digest", "bin_fold_digest", "epoch_export", "nb_classify",
      "bm25_batch").foreach(k => assert(partial.contains(k), k))
  }
}
