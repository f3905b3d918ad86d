package graft.queries

import graft.Tables
import graft.operators.Multimodal
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Round-10 batch 72: REAL video frame sampling — the K2 seam's
  * last stand-in (video container parsing) replaced by a real
  * AVI/MJPEG pipeline: the container is the public RIFF/AVI layout
  * (written by [[Multimodal.AviMjpeg]], readable by standard
  * players), frame lookup is a real chunk-tree walk + `idx1` index
  * read, and every sampled frame is a real JPEG entropy-decoded by
  * `javax.imageio`. With K9/K10 (image) and K11 (audio), every
  * multimodal stage now computes instead of simulating.
  */
object Pipeline70 {

  /** Staging ramp shared with the twin: per doc an AVI with
    *   nf   = 3 + doc_id % 4            (3..6 frames)
    *   w, h = the K9 dims (8 + id%9, 8 + (id/9)%7)
    *   frame f samples: (doc_id + 7f) % 64 + 64c + x + y
    */
  private[queries] def stagedAvis(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    // r13: spread the id list across cores before the per-id AVI
    // encode (single-input-split serialization; the K7 lesson).
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
        val nf = (3 + id % 4).toInt
        val frames = (0 until nf).map { f =>
          val base = ((id + 7L * f) % 64).toInt
          Multimodal.ImageIo.encode(w, h, "jpg")((x, y, c) => base + 64 * c + x + y)
        }
        Row(id, Multimodal.AviMjpeg.encode(frames, w, h, fps = 10))
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** K13 `mm_video_frames`: REAL video frame sampling end-to-end.
    * Every 2nd frame of each staged AVI is located by PARSING the
    * RIFF container (chunk walk + idx1) and entropy-decoded as a
    * real JPEG; the row emits the sampled frame's exact dims plus
    * the K10 bounded-distortion gate on each channel's mean vs the
    * per-frame staging ramp (same `JpegMeanTol` = 4, 14× margin).
    *
    * Scale shape: container parse and frame decode are map-only
    * over the payload partition (payloads never shuffle); output is
    * per-sampled-frame small columns — the "decode only what you
    * sample" economics a 100 TB video corpus requires.
    */
  def mmVideoFrames(t: Tables): DataFrame = {
    val staged = stagedAvis(t)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("frame_idx",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("width",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("height",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("mean_ok",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rows = staged.rdd.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        Multimodal.AviMjpeg.sampleDecode(r.getAs[Array[Byte]](1), step = 2).map {
          case (f, _, w, h, sums) =>
            val base = (id + 7L * f) % 64
            val wh = w.toLong * h
            val ramp = h.toLong * (w.toLong * (w - 1) / 2) + w.toLong * (h.toLong * (h - 1) / 2)
            val ok = (0 until 3).forall { c =>
              val truth = wh * (base + 64L * c) + ramp
              math.abs(sums(c) - truth) <= Pipeline62.JpegMeanTol * wh
            }
            Row(id, f.toLong, w.toLong, h.toLong, if (ok) 1L else 0L)
        }
      }
    }
    t.spark.createDataFrame(rows, schema)
  }

  val mmVideoFramesSql: String =
    """SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
      |  CAST(8 + doc_id % 9 AS BIGINT) AS width,
      |  CAST(8 + (doc_id // 9) % 7 AS BIGINT) AS height,
      |  CAST(1 AS BIGINT) AS mean_ok
      |FROM (SELECT doc_id, unnest(range(0, 3 + doc_id % 4, 2)) AS f
      |      FROM documents)""".stripMargin
}
