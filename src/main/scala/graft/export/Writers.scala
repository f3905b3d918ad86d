package graft.`export`

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.types.{BinaryType, StructType}

import graft.functions.Wkb

/** Checks and value forms the geo file writers share. Each raises a
  * typed [[graft.ExportError]] naming the writer's `format`.
  */
private[export] object Writers {

  private def error(format: String, msg: String): graft.ExportError =
    new graft.ExportError(msg, Map("format" -> format, "stage" -> "export"))

  /** Index of the binary WKB column `wkbCol` in `schema`. */
  def wkbColumn(schema: StructType, wkbCol: String, format: String): Int = {
    val i = schema.fieldNames.indexOf(wkbCol)
    if (i < 0) throw error(format, s"geometry column '$wkbCol' not in schema")
    if (schema(i).dataType != BinaryType)
      throw error(format,
        s"geometry column '$wkbCol' must be WKB binary, is ${schema(i).dataType.simpleString}")
    i
  }

  /** The Point / LineString / Polygon rings of one WKB blob. */
  def rings(wkb: Array[Byte], format: String): Wkb.Rings =
    Wkb.decodeRings(wkb).getOrElse(throw error(format,
      s"$format writer supports WKB Point/LineString/Polygon; got another type or a malformed blob"))

  private val Micros = DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSSSSS")
  private val MillisUtc = DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSS'Z'")

  /** A TIMESTAMP value's UTC wall clock (zoned) or a TIMESTAMP_NTZ
    * value's own (not zoned).
    */
  private def wallClock(v: Any): (LocalDateTime, Boolean) = v match {
    case t: LocalDateTime      => (t, false)
    case t: java.sql.Timestamp => (LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC), true)
    case t: Instant            => (LocalDateTime.ofInstant(t, ZoneOffset.UTC), true)
  }

  /** ISO-8601 text of a TIMESTAMP (UTC, `Z` suffix) or TIMESTAMP_NTZ
    * (no zone) value, to the microsecond: `2024-01-02T03:04:05.123456Z`.
    */
  def isoMicros(v: Any): String = {
    val (t, zoned) = wallClock(v)
    Micros.format(t) + (if (zoned) "Z" else "")
  }

  /** The GeoPackage DATETIME form `YYYY-MM-DDTHH:MM:SS.SSSZ`: UTC,
    * milliseconds (finer digits truncated). A TIMESTAMP_NTZ value's
    * wall clock is written as UTC.
    */
  def isoMillisUtc(v: Any): String = MillisUtc.format(wallClock(v)._1)
}
