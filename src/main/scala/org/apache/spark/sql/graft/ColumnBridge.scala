package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.util.HadoopFSUtils

/** Column <-> catalyst Expression bridge for graft's native expressions
  * (e.g. [[graft.functions.DotFloat]]), plus the other Spark internals
  * graft reaches: a localCheckpoint's RDD, a pre-listed text scan and
  * a parquet file's footer schema.
  *
  * Spark 4 hides the classic converters behind `private[sql]`, so this
  * object lives in an `org.apache.spark.sql` subpackage to reach them —
  * the established pattern for libraries shipping custom catalyst
  * expressions without forcing users to install SparkSessionExtensions
  * on every session. This is the ONLY file outside the `graft` package.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The persisted RDD backing a `localCheckpoint`ed DataFrame, if any.
    *
    * `Dataset.localCheckpoint` truncates lineage by swapping the plan
    * for a [[org.apache.spark.sql.execution.LogicalRDD]] over an
    * internally-persisted RDD — but exposes no handle to release those
    * blocks, so iterative algorithms that snapshot each round
    * (connected components, BFS, k-core) would otherwise hold every
    * superseded round's storage until the driver GC happens to collect
    * the RDD reference. This accessor lets [[graft.ext.Graph]] release
    * a superseded snapshot deterministically.
    */
  def checkpointedRdd(df: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    // Root-node-only match: `localCheckpoint` returns a frame whose
    // analyzed plan IS a LogicalRDD (the checkpoint scan). Matching
    // deeper would find LogicalRDDs that merely feed a derived frame —
    // checkpointed inputs composed under projections/joins, or a
    // user-created RDD-backed frame — and unpersisting those could
    // yank storage still backing other live frames. Derived frames are
    // therefore NOT releasable through this; release the original
    // snapshot handle instead.
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** `spark.read.option("lineSep", "\n").text(path)`, with the listing
    * already done: `path` is expanded once on the driver ([[glob]]), and
    * every matched file's status goes into the index's
    * [[FileStatusCache]], so the index lists nothing for it. Above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths
    * Spark would list them with a distributed job, one task per path.
    * A matched directory is not pre-filled: the index lists it as
    * Spark does. Matched files with hidden names (`_x`, `.x`) are
    * dropped, as Spark's listing drops them.
    */
  def listedText(spark: SparkSession, path: String): DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sessionState = session.sessionState
    val fs = new Path(path).getFileSystem(sessionState.newHadoopConf())
    val roots = glob(spark, path).filter(m =>
      m.isDirectory || !HadoopFSUtils.shouldFilterOutPathName(m.getPath.getName))
    // not the session's shared cache, which is a no-op when
    // spark.sql.hive.filesourcePartitionFileCacheSize is 0
    val cache = new FileStatusCache {
      private val leaves = new java.util.concurrent.ConcurrentHashMap[Path, Array[FileStatus]]()
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] = Option(leaves.get(p))
      override def putLeafFiles(p: Path, files: Array[FileStatus]): Unit = leaves.put(p, files)
      override def invalidateAll(): Unit = leaves.clear()
    }
    // a listing returns block locations unless the session ignores them;
    // built as Spark's listing builds them, without owner, group and
    // permission, whose lookup starts an `ls` process per file on a
    // local filesystem without libhadoop
    val locate = !sessionState.conf.ignoreDataLocality
    roots.filterNot(_.isDirectory).foreach { f =>
      cache.putLeafFiles(f.getPath, Array(
        if (!locate) f
        else new LocatedFileStatus(f.getLen, false, f.getReplication, f.getBlockSize,
          f.getModificationTime, 0, null, null, null, null, f.getPath, f.hasAcl,
          f.isEncrypted, f.isErasureCoded, fs.getFileBlockLocations(f, 0, f.getLen))))
    }
    val options = Map("lineSep" -> "\n")
    val index = new InMemoryFileIndex(session, roots.map(_.getPath), options, None, cache)
    session.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      new StructType().add("value", StringType), None, new TextFileFormat, options)(session))
  }

  /** `path` (a file, a directory or a glob) expanded once on the driver
    * with `globStatus`, as Spark's `DataSource` expands it; a path that
    * matches nothing fails with Spark's own PATH_NOT_FOUND error.
    */
  def glob(spark: SparkSession, path: String): Seq[FileStatus] = {
    val pattern = new Path(path)
    val fs = pattern.getFileSystem(stateOf(spark).newHadoopConf())
    val qualified = pattern.makeQualified(fs.getUri, fs.getWorkingDirectory)
    val matches = Option(fs.globStatus(qualified)).getOrElse(Array.empty[FileStatus])
    if (matches.isEmpty) throw QueryCompilationErrors.dataPathNotExistError(qualified.toString)
    matches.toSeq
  }

  /** `spark.read.parquet(path)` for ONE parquet file, with the schema
    * read from the file's footer on the driver ([[parquetSchema]])
    * instead of inferred by a Spark job. Nothing is cached: every call
    * reads the footer again. Directories and globs have no single
    * footer; read them with `spark.read.parquet`.
    */
  def parquetFile(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(parquetSchema(spark, parquetFooter(spark, path))).parquet(path)

  /** The footer of the parquet file at `path`, without its row groups.
    * A path that is not a file fails with a message that names it.
    */
  def parquetFooter(spark: SparkSession, path: String): Footer = {
    val conf = stateOf(spark).newHadoopConf()
    val p = new Path(path)
    val status = p.getFileSystem(conf).getFileStatus(p)
    require(status.isFile, s"not a parquet file: $path")
    new Footer(status.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(status, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
  }

  /** The schema `spark.read.parquet` infers from `footer`'s file, as
    * Spark's inference converts it: the schema a Spark writer stored in
    * the row metadata, else the parquet schema converted under
    * `spark`'s SQL conf (binaryAsString, int96AsTimestamp,
    * inferTimestampNTZ, nanosAsLong).
    */
  def parquetSchema(spark: SparkSession, footer: Footer): StructType =
    ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(stateOf(spark).conf))

  private def stateOf(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
}
