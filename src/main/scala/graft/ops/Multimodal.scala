package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata. No image/audio codecs exist in this build, so the payload is a
  * deterministic stand-in; a real codec reads the same columns.
  */
object Multimodal {

  /** Attach a synthetic binary payload + typed metadata to each document
    * (payload = md5 bytes of the text, standing in for image bytes). */
  def withPayload(documents: DataFrame): DataFrame = {
    val hexCol = md5(col("text"))
    documents.select(col("doc_id"),
      unhex(hexCol).as("payload"),
      length(unhex(hexCol)).as("n_bytes"),
      (lit(16) + ascii(substring(hexCol, 1, 1))).as("width"),
      (lit(16) + ascii(substring(hexCol, 2, 1))).as("height"),
      lit("fake/rgb8").as("media_type"))
  }
}
