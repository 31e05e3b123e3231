package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Declared multimodal queries. The driver corpus has no binary table,
  * so the declared query materializes one (text → UTF-8 bytes) and runs
  * the byte-level metadata stage over it; no media is decoded. */
object MultimodalQueries {

  /** Byte-level metadata needs no decode and stays whole-stage-codegen:
    * size, content fingerprint, and a deterministic pseudo-dimension
    * derived from the hash (stands in for header sniffing). */
  private[graft] def binaryMeta(df: DataFrame, contentCol: String): DataFrame = {
    val c = col(contentCol)
    val h = md5(c)
    df.select(
      col("*"),
      length(c).cast(LongType).as("n_bytes"),
      h.as("fingerprint"),
      (ascii(substring(h, 1, 1)) % 64 + 1).as("pseudo_width"),
      (ascii(substring(h, 2, 1)) % 64 + 1).as("pseudo_height"))
  }

  /** [[binaryMeta]] over each document's UTF-8 bytes. */
  def multimodalBinaryMeta(s: SparkSession, d: String): DataFrame =
    binaryMeta(
      Tables.documents(s, d).select(col("doc_id"),
        encode(col("text"), "UTF-8").as("content")), "content")
      .select(col("doc_id"), col("n_bytes"), col("fingerprint"),
        col("pseudo_width"), col("pseudo_height"))
      .orderBy("doc_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_binary_meta" -> multimodalBinaryMeta _,
  )

  val oracle: Map[String, String] = Map(
    "multimodal_binary_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS fingerprint,
        |  ascii(substr(md5(text), 1, 1)) % 64 + 1 AS pseudo_width,
        |  ascii(substr(md5(text), 2, 1)) % 64 + 1 AS pseudo_height
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
