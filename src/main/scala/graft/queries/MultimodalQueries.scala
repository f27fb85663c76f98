package graft
package queries

import org.apache.spark.sql.functions._

import Query._

/** Training-data pipeline queries over multimodal columns, each declared with its oracle. */
private[graft] object MultimodalQueries {

  val entries: Seq[Query] = Seq(
    sql("multimodal_features", (s, dir) =>
      graft.multimodal.Multimodal.extractFeatures(
        graft.multimodal.Multimodal.asMediaRecords(
          GraftSession.table(s, dir, "documents")))
        .select("doc_id", "modality", "n_bytes", "checksum")
        .orderBy("doc_id"))(
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
        |       WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin),
    sql("multimodal_frames", (s, dir) =>
      graft.multimodal.Multimodal.sampleFrames(
        graft.multimodal.Multimodal.asMediaRecords(
          GraftSession.table(s, dir, "documents")), n = 4)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          length(col("frame_bytes")).cast("long").as("n_bytes"))
        .orderBy("doc_id", "frame_idx"))(
      """WITH v AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS len
        |  FROM documents WHERE doc_id % 3 = 2 AND octet_length(encode(text)) > 0)
        |SELECT doc_id, r.i AS frame_idx,
        |       (len * (r.i + 1) // 4) - (len * r.i // 4) AS n_bytes
        |FROM v, range(0, 4) AS r(i)
        |ORDER BY doc_id, frame_idx""".stripMargin))
}
