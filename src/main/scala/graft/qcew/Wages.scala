package graft.qcew

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Wage-series serving layer (SURVEY S7-S8, P7-P12, J1-J2, A3, A5, O1;
  * reference `data_process.py:190-274`, `graph.py:13-124`).
  *
  * Loads per-time-frame wage CSVs, derives `time_period`, enriches with
  * the NAICS description dimension, excludes invalid codes, and serves
  * the two consumer shapes: a per-period aggregate of one measure and
  * the distinct-industry picklist.
  *
  * Spark-first design notes:
  *   - Both dimension tables are tiny (10^2..10^3 rows): the
  *     description join is an explicit `broadcast` hash join and the
  *     invalid-code exclusion a broadcast `left_anti` join — no shuffle
  *     of the fact side, which is what survives a 100 TB fact table.
  *   - The enriched frame feeds two actions (aggregate + picklist), so
  *     callers should `cache()` it.
  */
object Wages {

  /** Time frames of the three wage CSVs (reference `data_process.py:207-221`). */
  sealed trait TimeFrame { def keyCol: String }
  case object Yearly extends TimeFrame { val keyCol = "year" }
  case object FiscalYearly extends TimeFrame { val keyCol = "f_year" }
  case object Quarterly extends TimeFrame { val keyCol = "year" }

  /** NAICS description dimension from CSV. Schema: naics_code,
    * naics_desc.
    */
  def readNaicsDim(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true")
      .schema("naics_code STRING, naics_desc STRING").csv(path)

  /** Invalid-code exclusion list from CSV. */
  def readInvalidCodes(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true")
      .schema("naics_data STRING").csv(path)

  /** The reference's actual source shape (S7): one workbook, sheet 1 =
    * NAICS descriptions, sheet 2 = invalid codes
    * (`data_process.py:194-198`), via the zero-dependency
    * [[graft.sources.Xlsx]] reader. First two columns of sheet 1 are
    * code/description whatever the headers say, matching the
    * positional consumption in the reference.
    */
  def readNaicsDimXlsx(spark: SparkSession, path: String): DataFrame = {
    val df = graft.sources.Xlsx.read(spark, path, sheetId = 1)
    df.select(col(df.columns(0)).as("naics_code"), col(df.columns(1)).as("naics_desc"))
  }

  /** Sheet 2 of the same workbook: the invalid-code list. */
  def readInvalidCodesXlsx(spark: SparkSession, path: String): DataFrame = {
    val df = graft.sources.Xlsx.read(spark, path, sheetId = 2)
    df.select(col(df.columns(0)).as("naics_data"))
  }

  /** Derive `time_period` for a wage frame: year / fiscal year as int,
    * quarterly as "YYYY-qN" (reference `data_process.py:209-221`).
    */
  def withTimePeriod(df: DataFrame, frame: TimeFrame): DataFrame = frame match {
    case Yearly       => df.withColumn("time_period", col("year").cast("int"))
    case FiscalYearly => df.withColumn("time_period", col("f_year").cast("int"))
    case Quarterly    => df.withColumn("time_period",
      concat(col("year").cast("int").cast("string"), lit("-q"),
             col("qtr").cast("int").cast("string")))
  }

  /** Enrich a wage frame: naics_4digit prefix, broadcast left join to
    * descriptions, drop code "0", anti-join invalid codes
    * (reference `data_process.py:223-242`).
    */
  def enrich(wages: DataFrame, naicsDim: DataFrame, invalid: DataFrame): DataFrame = {
    val dim = naicsDim.select(
      col("naics_code").cast("string").as("naics_4digit"),
      col("naics_desc"))
    wages
      .withColumn("naics_4digit", substring(col("naics_code").cast("string"), 1, 4))
      .join(broadcast(dim), Seq("naics_4digit"), "left")
      .filter(col("naics_4digit") =!= "0")
      .join(broadcast(invalid.select(col("naics_data").as("naics_4digit"))),
        Seq("naics_4digit"), "left_anti")
  }

  /** Serving query (reference `data_process.py:244-274`): label the
    * industry, drop null/blank measures, filter one industry, aggregate
    * the measure per time period, sort. Returns (series, picklist).
    *
    * The picklist derives from the SAME measure-filtered frame as the
    * series (the reference reassigns `df` with the null/blank filter
    * before taking unique `naics_desc`, `data_process.py:256-267`), so
    * industries whose measure is entirely null/blank don't appear; null
    * labels (unmatched dim rows) are kept, as the reference's `unique`
    * keeps them.
    */
  def filterWages(enriched: DataFrame, measure: String, naicsDesc: String)
      : (DataFrame, DataFrame) = {
    val labeled = enriched.withColumn("naics_desc",
      concat(lit("(N"), col("naics_4digit"), lit(") "), col("naics_desc")))
    val measured = labeled
      .filter(col(measure).isNotNull &&
        trim(col(measure).cast("string")) =!= "")
    val series = measured
      .filter(col("naics_desc") === naicsDesc)
      .groupBy("time_period")
      .agg(sum(col(measure).cast("double")).as("nominas"))
      .orderBy("time_period")
    val picklist = measured.select("naics_desc")
      .distinct().orderBy("naics_desc")
    (series, picklist)
  }
}
