package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.GraftCaches.Cacheable

/**
 * The shared keyed-count epoch-store lifecycle behind the chunk and span
 * index families ([[Dedup.chunkIndexAppend]]/[[Spans.spanIndexAppend]]
 * and twins): per-epoch `batch_id=` parquet partitions with `_SUCCESS`
 * idempotence markers, committed-snapshot merges, and copy-not-in-place
 * folds. One implementation, two families — the contracts (crash-debris
 * invisibility, snapshot stability under a session's own appends,
 * epoch-name retry idempotence) are load-bearing for
 * [[Ingest.ingestBatch]]'s cached decisions and live HERE, not in per-
 * family copies that would drift.
 */
private[functions] object EpochStore {

  /**
   * Write `idx` under `indexPath` as the named epoch, unless the epoch's
   * `_SUCCESS` marker already exists (-1 = retry skip). The epoch is
   * complete only when the committer's marker is present — bare
   * directory existence is NOT idempotence evidence: a crash mid-write
   * leaves task files in the directory, and skipping the retry on that
   * debris would silently drop the batch's counts. Each epoch is its
   * OWN parquet job into the partition-style directory (the engine
   * derives batch_id from the path on read), so the marker lands inside
   * the epoch and an incomplete epoch is repaired by overwriting it. A
   * zero-row batch still records its epoch (empty write + marker): the
   * retry contract holds for legal empty batches.
   */
  def append(
      spark: SparkSession,
      indexPath: String,
      batchId: String,
      op: String)(idx: => DataFrame): Long = {
    require(batchId.nonEmpty, s"$op: batchId must be non-empty")
    val epochDir = new org.apache.hadoop.fs.Path(indexPath, s"batch_id=$batchId")
    val fs = epochDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(epochDir, "_SUCCESS")
    if (fs.exists(marker)) -1L
    else {
      val frame = idx.graftCached
      val n = frame.count()
      frame.write.mode("overwrite").parquet(epochDir.toString)
      n
    }
  }

  /**
   * Merge an epoch directory into one (key, cnt) frame, reading a
   * SNAPSHOT of the COMMITTED epochs (an explicit listing of the
   * `batch_id=` partitions whose `_SUCCESS` marker is present), not a
   * live directory glob. Two properties follow:
   *  - crash debris is invisible: a half-written epoch contributes no
   *    partial counts to any screen (the retry repairs it);
   *  - the returned frame is STABLE under later appends to the same
   *    index — Spark's `recacheByPath` invalidates and re-executes
   *    cached plans when their source path is written, and a re-listing
   *    read would silently flip to the post-append state (the
   *    [[Ingest.ingestBatch]] decisions frame depends on this).
   */
  def read(
      spark: SparkSession,
      indexPath: String,
      schema: StructType,
      keyCol: String,
      cntCol: String): DataFrame = {
    val epochs = committedDirs(spark, indexPath).map(_.toString)
    val raw =
      if (epochs.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else
        spark.read.schema(schema)
          .option("basePath", indexPath).parquet(epochs: _*)
          .select(keyCol, cntCol)
    raw.groupBy(keyCol).agg(sum(cntCol).as(cntCol))
  }

  /** The committed epoch directories under `indexPath` (the `batch_id=`
    * partitions whose `_SUCCESS` marker is present); empty when absent. */
  def committedDirs(spark: SparkSession,
      indexPath: String): IndexedSeq[org.apache.hadoop.fs.Path] = {
    val p = new org.apache.hadoop.fs.Path(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) IndexedSeq.empty
    else fs.listStatus(p).toIndexedSeq.filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("batch_id=") &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(_.getPath)
  }

  /** The names of the committed epochs under `indexPath`. [[append]]
    * writes `batch_id=<epoch>` literally (its own directory layout, not
    * a partitioned writer), so the name maps back by prefix strip alone;
    * no partition-escape decoding. */
  def committedEpochs(spark: SparkSession, indexPath: String): Seq[String] =
    committedDirs(spark, indexPath).map(_.getName.stripPrefix("batch_id="))

  /** Fold every committed epoch into one compacted epoch at `destPath`
    * (copy, never in-place — parquet directory swaps are not atomic on
    * object stores); returns rows written. */
  def compact(
      spark: SparkSession,
      indexPath: String,
      destPath: String,
      op: String)(read: (SparkSession, String) => DataFrame): Long = {
    Dedup.requireDisjointPaths(spark, indexPath, destPath, op)
    val merged = read(spark, indexPath).graftCached
    val n = merged.count()
    merged.write.mode("overwrite").parquet(destPath + "/batch_id=compacted")
    n
  }
}
