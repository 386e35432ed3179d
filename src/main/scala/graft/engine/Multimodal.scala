package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column support: media as an opaque `binary` payload column
  * with typed metadata columns, so scans prune to metadata unless a query
  * actually reads the bytes (q_media_meta and q_frame_sample plan from
  * this table). */
object Multimodal {

  /** Synthesize a deterministic media table from `documents` (payload =
    * UTF-8 text bytes; kind and metadata derived from doc_id) — the
    * testdata stand-in for a real binary-column source. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"),
      (col("n_chars") % 640 + 32).cast("int").as("width"),
      (col("n_chars") % 480 + 24).cast("int").as("height"),
      (lit(16000)).as("sample_rate"),
      (col("n_chars") * 10).as("duration_ms"))
}
