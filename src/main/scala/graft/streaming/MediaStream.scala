package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Tables
import graft.operators.{Declared, Multimodal}

/** Multimodal features AT INGEST — the `xs_signal_stream` discipline
  * applied to the media tier: each crawl drop's payloads are decoded
  * ONCE while the bytes are hot (real [[Multimodal.JpegCodec]] decode
  * per partition, never a re-scan later) and the per-batch feature
  * table lands under the batch's own partition with the store-family
  * overwrite-replay discipline. Decode → features is a pure map-only
  * function of each payload, so stream ≡ batch EXACTLY — the oracle is
  * the batch feature computation plus the drop-membership column, with
  * no keep-first or ordering caveats. At 100 TB/day of media this is
  * the only affordable cadence: decode cost is paid once per byte at
  * ingest, and every downstream consumer (near-dup, retrieval,
  * curation) reads the landed features, not the binaries. */
object MediaStream {

  def start(spark: SparkSession, inDir: String, outDir: String,
      checkpoint: String): StreamingQuery =
    Drops.availableNow(spark, Tables.documents, inDir, checkpoint) {
      (batch, batchId) =>
        Maintenance.land(Multimodal.jpegFeaturesOf(Multimodal.jpegRecordsOf(batch)),
          outDir, batchId)
    }

  /** Three ordered drops through the real checkpointed stream, the
    * landed per-batch feature tables read back with their batch ids. */
  private def xsMediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val root = Drops.three(docs, "xs-media-features") { root =>
      start(spark, s"$root/in/*", s"$root/out", s"$root/ck").awaitTermination()
    }
    spark.read
      .schema("media_id BIGINT, width INT, height INT, mean_r DOUBLE, " +
        "mean_g DOUBLE, mean_b DOUBLE, last_row_mean DOUBLE, batch_id BIGINT")
      .parquet(s"$root/out")
      .orderBy(col("batch_id"), col("media_id"))
  }

  /** The batch feature oracle (the `xm_jpeg_features` arithmetic) plus
    * drop membership restated from the tercile cuts — decode is
    * per-payload, so the batch a doc arrives in changes nothing but
    * its `batch_id`. */
  private val xsMediaFeaturesSql =
    """WITH b AS (
      |  SELECT doc_id, lower(hex(encode(text))) AS h,
      |    LEAST(octet_length(encode(text)), 32) AS m
      |  FROM documents
      |), g AS (
      |  SELECT doc_id, h, m, GREATEST(1, (m + 1) // 2) AS ht
      |  FROM b
      |), d AS (
      |  SELECT doc_id, ht,
      |    [CASE WHEN i < m THEN
      |       (strpos('0123456789abcdef', substr(h, 2*i+1, 1))-1)*16
      |     + (strpos('0123456789abcdef', substr(h, 2*i+2, 1))-1)
      |     ELSE 0 END for i in range(0, 2*ht)] AS px
      |  FROM g
      |), bounds AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents)
      |SELECT CAST(CASE WHEN doc_id <= lo + (hi - lo) // 3 THEN 0
      |            WHEN doc_id <= lo + 2 * ((hi - lo) // 3) THEN 1
      |            ELSE 2 END AS BIGINT) AS batch_id,
      |  doc_id AS media_id, 16 AS width, CAST(8*ht AS INTEGER) AS height,
      |  CAST(64*list_sum(px) AS DOUBLE) / (128*ht) AS mean_r,
      |  CAST(64*list_sum(px) AS DOUBLE) / (128*ht) AS mean_g,
      |  CAST(64*list_sum(px) AS DOUBLE) / (128*ht) AS mean_b,
      |  CAST(24*(px[2*ht-1] + px[2*ht]) AS DOUBLE) / 48 AS last_row_mean
      |FROM d CROSS JOIN bounds
      |ORDER BY batch_id, media_id""".stripMargin

  val all: Seq[Declared] = Seq(
    Declared("xs_media_features", xsMediaFeatures, Some(xsMediaFeaturesSql)))
}
