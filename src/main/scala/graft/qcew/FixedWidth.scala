package graft.qcew

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.BinaryType

/** Fixed-width QCEW record scan + parse (SURVEY S1, P1, P2).
  *
  * Reference behavior (jp-qcew `data_process.py:97-135`): read latin-1
  * text, slice each 1060-char line into 121 trimmed string fields per
  * [[Layout]], then cast 9 fields to numerics with null-on-failure
  * semantics (`data_process.py:66-82`, Polars `strict=False`).
  *
  * [[slice]] is the one decoder: [[parse]], `Ingest` and the
  * `graft-fixedwidth` source ([[graft.sources.FixedWidthSource]]) all
  * run it.
  *
  * Spark-first design notes:
  *   - The parse is narrow: no shuffle, embarrassingly parallel, so at
  *     100 TB it scales linearly with input splits.
  *   - Fields are sliced from BYTES, not from a decoded string.
  *     `substring` on a string walks the UTF-8 bytes from the start to
  *     find a char position, so 121 string slices cost O(width) each
  *     (~64k char steps per 1060-char record); a binary `substring` is
  *     an O(1) offset. Each field is decoded from its own byte range.
  *   - latin-1 is a single-byte charset, so a line's byte offsets are
  *     the layout's char positions (SURVEY §7.4). [[readRaw]] reads
  *     through Spark's `text` source, which keeps each line's raw
  *     bytes, so `cast(value AS binary)` is the line's latin-1 bytes
  *     with no charset decode or re-encode at all.
  *   - The 121-column projection is wider than
  *     `spark.sql.codegen.maxFields` (100), so it runs as a codegen'd
  *     projection without whole-stage codegen; per-field cost is what
  *     counts.
  *   - Casts use `try_cast` so behavior is identical under ANSI mode
  *     (Spark 4 default) and matches the reference's null-on-bad-input.
  */
object FixedWidth {
  private val Latin1 = "ISO-8859-1"
  // the chars `String.trim` strips: a line of nothing else is blank
  private val Blank = (0 to 0x20).map(_.toChar).mkString

  /** Read raw fixed-width lines (`\n`-separated) under `path` (a file, a
    * directory or a glob) as one binary column `value`: each line's
    * bytes with one trailing CR dropped. Blank lines (every byte <= 0x20,
    * empty included) are dropped.
    *
    * The lines come from Spark's `text` source, but the files are listed
    * here, once, on the driver: the glob's matches go to the scan
    * already listed ([[org.apache.spark.sql.graft.ColumnBridge.listedText]]),
    * so a glob of more than 32 files starts no listing job with one task
    * per file. Hidden files (`_x`, `.x`) are skipped and a directory is
    * listed as Spark lists it; a path that matches nothing fails as
    * `spark.read.text` fails.
    */
  def readRaw(spark: SparkSession, path: String): DataFrame = {
    val b = col("value").cast(BinaryType)
    val crlf = substring(b, -1, 1) === lit(Array[Byte]('\r'))
    ColumnBridge.listedText(spark, path)
      // the decode runs only for a line that starts with a blank byte
      .where(substring(b, 1, 1) > lit(Array[Byte](' ')) || btrim(decode(b, Latin1), lit(Blank)) =!= "")
      .select(when(crlf, b.substr(lit(1), length(b) - 1)).otherwise(b).as("value"))
  }

  /** Slice + trim `fields` (name, 1-based position, length) out of each
    * line of column `valueCol`: line bytes as [[readRaw]] gives them,
    * or a caller-built string column. A string line loses one trailing
    * CR, and a char above U+00FF becomes `?`, one position for one
    * char, so later fields keep their alignment. A field past the end
    * of a short line is empty.
    */
  def slice(lines: DataFrame, fields: Seq[(String, Int, Int)],
            valueCol: String = "value"): DataFrame = {
    val line = col(valueCol)
    val bytes = lines.schema(valueCol).dataType match {
      case BinaryType => line
      case _ => encode(regexp_replace(regexp_replace(line, "\r$", ""), "[^\\x00-\\xFF]", "?"), Latin1)
    }
    // a separate projection, so the encode runs once per line rather
    // than once per field (Catalyst does not inline a non-cheap
    // expression into several consumers)
    lines.select(bytes.as("bytes")).select(fields.map { case (name, pos, len) =>
      trim(decode(substring(col("bytes"), pos, len), Latin1)).as(name)
    }: _*)
  }

  /** All 121 fields of [[Layout]], sliced and cast. */
  def parse(raw: DataFrame, valueCol: String = "value"): DataFrame =
    cast(slice(raw, Layout.fields, valueCol))

  /** Null-on-failure numeric casts for the 9 typed fields
    * (reference `data_process.py:66-82`).
    */
  def cast(df: DataFrame): DataFrame = {
    val withLongs = Layout.longFields.foldLeft(df) { (d, c) =>
      d.withColumn(c, expr(s"try_cast($c as bigint)"))
    }
    Layout.doubleFields.foldLeft(withLongs) { (d, c) =>
      d.withColumn(c, expr(s"try_cast($c as double)"))
    }
  }

  /** Geospatial column (SURVEY §2.12; reference README's "geospatial
    * ETL" geom): pack (longitude, latitude) into a `geom` struct — the
    * offline stand-in for `ST_Point(lon, lat)`, in (x, y) order so a
    * real spatial engine can consume it unchanged. Null when either
    * coordinate is missing, mirroring ST_Point's null propagation.
    */
  def withGeom(df: DataFrame): DataFrame =
    df.withColumn("geom",
      when(col("longitude").isNotNull && col("latitude").isNotNull,
        struct(col("longitude").as("lon"), col("latitude").as("lat"))))
}
