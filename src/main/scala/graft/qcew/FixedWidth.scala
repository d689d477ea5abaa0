package graft.qcew

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixed-width QCEW record scan + parse (SURVEY S1, P1, P2).
  *
  * Reference behavior (jp-qcew `data_process.py:97-135`): read latin-1
  * text, slice each 1060-char line into 121 trimmed string fields per
  * [[Layout]], then cast 9 fields to numerics with null-on-failure
  * semantics (`data_process.py:66-82`, Polars `strict=False`).
  *
  * Spark-first design notes:
  *   - The parse is narrow: no shuffle, embarrassingly parallel, so at
  *     100 TB it scales linearly with input splits.
  *   - Fields are sliced from BYTES, not from the decoded string.
  *     `substring` on a string walks the UTF-8 bytes from the start to
  *     find a char position, so 121 string slices cost O(width) each
  *     (~64k char steps per 1060-char record); a binary `substring` is
  *     an O(1) offset. The line is encoded to latin-1 once, and each
  *     field is decoded back from its own byte range.
  *   - The 121-column projection is wider than
  *     `spark.sql.codegen.maxFields` (100), so it runs as a codegen'd
  *     projection without whole-stage codegen; per-field cost is what
  *     counts.
  *   - latin-1 is a single-byte charset, so a line's char positions
  *     equal the layout's byte positions (SURVEY §7.4). We read
  *     through the CSV reader with a non-occurring separator to get a
  *     correctly decoded single `value` column (the `text` source
  *     ignores `encoding`).
  *   - Casts use `try_cast` so behavior is identical under ANSI mode
  *     (Spark 4 default) and matches the reference's null-on-bad-input.
  */
object FixedWidth {
  private val Latin1 = "ISO-8859-1"

  /** Read raw fixed-width latin-1 lines as a single-column `value` frame. */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("encoding", Latin1)
      .option("lineSep", "\n")
      .option("sep", "")      // does not occur in QCEW data
      .option("quote", "")           // disable quoting entirely
      .option("header", "false")
      .schema("value STRING")
      .csv(path)

  /** Slice + trim all 121 fields, then apply the reference's numeric
    * casts. Input: any frame with a string column `valueCol`. A char
    * above U+00FF (possible only in a caller-built frame, never from
    * [[readRaw]]) becomes `?`, one position for one char, so later
    * fields keep their alignment.
    */
  def parse(raw: DataFrame, valueCol: String = "value"): DataFrame = {
    // CRLF tolerance: a trailing \r (from CRLF files read with \n line
    // separator) would otherwise survive `trim` (which strips spaces
    // only) and corrupt the last field.
    val line = regexp_replace(regexp_replace(col(valueCol), "\r$", ""), "[^\\x00-\\xFF]", "?")
    // a separate projection, so the encode runs once per line rather
    // than once per field (Catalyst does not inline a non-cheap
    // expression into several consumers)
    val bytes = raw.select(encode(line, Latin1).as("bytes"))
    val sliced = bytes.select(Layout.fields.map { case (name, pos, len) =>
      trim(decode(substring(col("bytes"), pos, len), Latin1)).as(name)
    }: _*)
    cast(sliced)
  }

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
