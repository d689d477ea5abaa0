package graft.qcew

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.slf4j.LoggerFactory

/** ETL driver: raw fixed-width tree → partitioned parquet lake
  * (SURVEY S2-S5, A4; reference `data_process.py:35-95`).
  *
  * Reference behavior: iterate `{dir}/qcew/{year}/` files, skip files
  * whose output already exists, parse each, name the output parquet by
  * the mode of (year, qtr), log inserts/empties, then serve the union
  * of all processed files via a glob scan.
  *
  * Spark-first design notes:
  *   - The scalable path is [[ingestAll]]: ONE read over the whole glob
  *     and ONE `partitionBy(year, qtr)` write. The glob is expanded
  *     once on the driver and its files go to the scan already listed
  *     ([[FixedWidth.readRaw]]); a matched directory is listed by
  *     Spark, in parallel for a large tree. The parse is narrow; the only
  *     wide operation is the hash repartition on the partition keys,
  *     which puts each (year, qtr) in exactly one task, so the lake
  *     holds one file per partition with no small-file explosion.
  *   - That repartition names its partition count (the session's
  *     `spark.sql.shuffle.partitions`). A keys-only repartition lets
  *     AQE coalesce the small shuffle into ONE partition, and a single
  *     task then writes every partition file in turn; AQE leaves an
  *     explicit count alone, so the partitions are written in parallel.
  *   - `partitionOverwriteMode=dynamic` gives per-(year,qtr)
  *     idempotence at the partition level — re-running a quarter
  *     replaces exactly that quarter, the Spark-native equivalent of
  *     the reference's skip-if-exists file check.
  *   - [[ingestFile]] keeps the reference's per-file granularity
  *     (mode-named output, skip-if-exists) for drip-feed ingestion.
  *   - Every lake write goes through [[LocalFs]] on a `file:` path
  *     (writer options, not session conf): without libhadoop, Hadoop's
  *     local filesystem starts a `chmod` process for each file and
  *     directory it writes; [[LocalFs]] sets the same bits in-process.
  */
object Ingest {
  private val log = LoggerFactory.getLogger(getClass)

  /** Deterministic statistical mode of a column: most frequent value,
    * ties broken by smallest value (SURVEY A4).
    */
  def modeOf(df: DataFrame, column: String): Option[Any] =
    df.filter(col(column).isNotNull)
      .groupBy(column).count()
      .orderBy(desc("count"), asc(column))
      .limit(1).collect().headOption.map(_.get(0))

  /** Bulk path: parse every raw file under `rawGlob` and write one
    * partitioned parquet lake. Scales to arbitrary file counts.
    */
  def ingestAll(spark: SparkSession, rawGlob: String, outDir: String): DataFrame =
    writeLake(FixedWidth.parse(FixedWidth.readRaw(spark, rawGlob)), outDir,
      dynamicOverwrite = true)

  /** Small-file compaction: rewrite a partitioned lake so each
    * (year, qtr) partition holds one file. Streaming appends and
    * incremental ingests accumulate small files that degrade scan
    * planning (one task per file, footer reads dominate); periodic
    * compaction is the standard maintenance job. Written to a FRESH
    * directory, then swapped by the caller — compact-in-place would
    * corrupt the lake on failure midway. For partitions too big for
    * one file, cap with `spark.sql.files.maxRecordsPerFile`.
    */
  def compact(spark: SparkSession, lakeDir: String, outDir: String): DataFrame =
    writeLake(spark.read.parquet(lakeDir), outDir, dynamicOverwrite = false)

  /** Write `df` as a (year, qtr)-partitioned parquet lake with one file
    * per partition, and read it back. The hash repartition on the keys
    * lands each partition's rows in one task; its explicit count keeps
    * AQE from coalescing the shuffle into a single writing task.
    * `dynamicOverwrite` replaces only the partitions `df` holds;
    * otherwise the whole of `outDir` is replaced.
    */
  private def writeLake(df: DataFrame, outDir: String, dynamicOverwrite: Boolean): DataFrame = {
    val spark = df.sparkSession
    val tasks = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val writer = df.repartition(tasks, col("year"), col("qtr"))
      .write.options(LocalFs.writeOptions).mode(SaveMode.Overwrite)
    // a writer option, NOT spark.conf.set: a session-conf mutation would
    // silently flip overwrite semantics for every later write in the
    // caller's session
    (if (dynamicOverwrite) writer.option("partitionOverwriteMode", "dynamic") else writer)
      .partitionBy("year", "qtr")
      .parquet(outDir)
    spark.read.parquet(outDir)
  }

  /** Reference-shaped per-file path: parse one file, name output by
    * mode(year)/mode(qtr), skip if the output already exists, warn on
    * empty input (reference `data_process.py:47-91`).
    * Returns the output path if written.
    */
  def ingestFile(spark: SparkSession, file: String, processedDir: String): Option[String] = {
    val parsed = FixedWidth.parse(FixedWidth.readRaw(spark, file)).cache()
    try {
      if (parsed.isEmpty) { log.warn(s"empty input file: $file"); return None }
      val year = modeOf(parsed, "year").getOrElse("unknown")
      val qtr  = modeOf(parsed, "qtr").getOrElse("unknown")
      val out = s"$processedDir/pr-qcew-$year-$qtr.parquet"
      // Hadoop FileSystem, not java.nio: the idempotence check must see
      // HDFS/S3/GCS paths on a real cluster, where Files.exists would
      // silently always-miss and re-ingest every file.
      val outPath = new HPath(out)
      val fs = outPath.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(outPath)) {
        log.info(s"skip (exists): $out"); Some(out)
      } else {
        parsed.coalesce(1).write.options(LocalFs.writeOptions).mode(SaveMode.Overwrite).parquet(out)
        log.info(s"inserted: $out"); Some(out)
      }
    } finally parsed.unpersist()
  }

  /** Serve the processed lake (SURVEY S5/S6): multi-file parquet scan;
    * Catalyst prunes columns/partitions from downstream selects. The
    * scan gets the glob's matches ([[ColumnBridge.glob]]), not the glob:
    * Spark would look up the pattern itself as a path and log the miss
    * at WARN with a stack trace. Also
    * registers the frame as a temp view (SURVEY S9; reference
    * `data_viz.py:15-16` serves SQL-string consumers via
    * `spark.table("qcew")`) — pass `viewName = None` to skip.
    */
  def readProcessed(spark: SparkSession, processedDir: String,
                    viewName: Option[String] = Some("qcew")): DataFrame = {
    val df = spark.read.parquet(
      ColumnBridge.glob(spark, s"$processedDir/pr-qcew-*.parquet").map(_.getPath.toString): _*)
    viewName.foreach(df.createOrReplaceTempView)
    df
  }
}
