package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Bpe, IVF, Ingest, PQ}

/** The shared managed-root layout ([[ManagedRoot]]): a `CURRENT` pointer
  * naming a missing generation is damage, so every family's read surface
  * and writer fail loud, naming the root and the generation, and create
  * nothing. */
class ManagedRootSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def vecOf(seed: Int): Array[Float] =
    Array.tabulate(8)(d => math.sin(seed * 3 + d).toFloat)

  /** Every file and directory under `base`, relative. */
  private def tree(base: Path): Set[String] =
    Files.walk(base).iterator().asScala.map(base.relativize(_).toString).toSet

  /** Overwrite `root`'s pointer; the local file system's checksum sidecar
    * goes too, or the next read fails on the checksum instead. */
  private def writePointer(root: String, gen: String): Unit = {
    Files.write(Paths.get(root, "CURRENT"), gen.getBytes(UTF_8))
    Files.deleteIfExists(Paths.get(root, ".CURRENT.crc"))
  }

  test("a damaged CURRENT fails every family's reader and writer loud and creates nothing") {
    val base = Files.createTempDirectory("managed-root-damage-")
    val Seq(nd, ch, sp, ivf, pq, bins, tok) =
      Seq("nd", "chunks", "spans", "ivf", "pq", "bins", "tok")
        .map(n => base.resolve(n).toString)
    val batch = Seq(
      1L -> "the river flows past the old mill near the quiet village green",
      2L -> "quantum processors require cryogenic cooling for stable operation",
      3L -> "ancient pottery fragments reveal trade routes across the basin")
      .toDF("doc_id", "text")
    val emb = Seq(1L, 2L, 3L).map(i => (i, vecOf(i.toInt)))
      .toDF("vec_id", "embedding")
    Bpe.bpeTrain(batch, "text", numMerges = 8).write(tok)
    def ingest(epoch: String) = {
      val r = Ingest.ingestBatch(batch, "doc_id", "text", nd, ch, epoch,
        embeddings = Some(emb), ivfIndexPath = Some(ivf),
        pqIndexPath = Some(pq), ivfNlist = 1, pqM = 4,
        spanRootPath = Some(sp), tokenizerModelPath = Some(tok),
        binExportRootPath = Some(bins), binExportShards = 2,
        binExportBudget = 8)
      val d = r.decisions.select("decision").as[String].collect().toSet
      graft.GraftCaches.clearAll()
      (r, d)
    }
    val (r1, d1) = ingest("e1")
    assert(d1 == Set(Ingest.Accepted) && r1.binShards >= 1L, s"$r1")

    val packed = graft.ops.TrainShuffle.packIdSequences(batch, "doc_id",
      "text", Bpe.TokenizerModel.read(spark, tok), 2, 8, salt = "e9")
    def fails(what: String, root: String)(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      assert(e.getMessage.contains(root) &&
        e.getMessage.contains("gen-00007"), s"$what: $e")
    }
    val readers = Seq[(String, String => Any)](
      nd -> (Ingest.ndIndexAt(spark, _).count()),
      ch -> (Ingest.chunkIndexAt(spark, _).count()),
      sp -> (Ingest.spanIndexAt(spark, _).count()),
      ivf -> (IVF.IvfIndex.read(spark, _).vectors.count()),
      pq -> (PQ.PqIndex.read(spark, _).codes.count()),
      bins -> (BinShards.read(spark, _).count()))
    readers.foreach { case (root, read) =>
      writePointer(root, "gen-00007")
      val before = tree(base)
      fails(s"read $root", root)(read(root))
      fails(s"ingestBatch with $root", root)(ingest("e2"))
      if (root == bins)
        fails("appendEpoch", root)(BinFamily.appendEpoch(packed, root,
          budget = 8, shardsPerEpoch = 2, epochId = "e9"))
      assert(tree(base) == before,
        s"$root: a failed call changed the store: " +
          s"${(tree(base) -- before) ++ (before -- tree(base))}")
      assert(!Files.exists(Paths.get(root, "gen-00007")))
      writePointer(root, "gen-00000")
    }
    // The restored pointers see the first batch's state intact: the
    // replay is a no-op everywhere.
    val (r1b, d1b) = ingest("e1")
    assert(d1b == Set(Ingest.AcceptedPrior) && r1b.appendedDocs == 0 &&
      r1b.appendedChunks == -1L && r1b.appendedSpans == -1L &&
      r1b.binShards == -1L, s"$r1b")
  }

  test("resolve is read-only; open bootstraps gen-00000 only when CURRENT is absent") {
    val base = Files.createTempDirectory("managed-root-open-")
    val root = base.resolve("r").toString
    assert(ManagedRoot.resolve(spark, root) == root)
    assert(!Files.exists(Paths.get(root)), "resolve must create nothing")
    val gen = ManagedRoot.open(spark, root)
    assert(gen.endsWith("gen-00000") && ManagedRoot.resolve(spark, root) == gen)
    assert(ManagedRoot.open(spark, root) == gen)
    // A committed flat index stays flat; a fresh path adopts the layout.
    assert(ManagedRoot.open(spark, base.resolve("flat").toString,
      flatCommitted = true).isEmpty)
    assert(!Files.exists(base.resolve("flat")))
    assert(ManagedRoot.open(spark, base.resolve("fresh").toString,
      flatCommitted = false).exists(_.endsWith("gen-00000")))
    // Markers and rolls: a roll flips CURRENT and keeps the grace gen.
    assert(ManagedRoot.epochOnce(spark, root, "e1")(7L) == 7L)
    assert(ManagedRoot.epochOnce(spark, root, "e1")(
      fail("a committed epoch must not re-run")) == -1L)
    assert(ManagedRoot.markerCount(spark, root) == 1L)
    val next = ManagedRoot.roll(spark, root, gen) { (_, dest) =>
      Files.createDirectories(Paths.get(dest)); 3L }
    assert(next == 3L &&
      ManagedRoot.resolve(spark, root).endsWith("gen-00001") &&
      Files.exists(Paths.get(gen)), "CURRENT flips; gen-00000 survives one roll")
  }
}
