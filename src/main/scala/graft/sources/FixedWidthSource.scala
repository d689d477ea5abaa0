package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext}
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, PrunedScan, RelationProvider}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.qcew.FixedWidth

/** Fixed-width record files — the QCEW raw format (reference jp-qcew
  * `decode.json` / `data_process.py:97-135`: 1060-char latin-1 lines,
  * 121 contiguous fields) as a Spark source:
  * `spark.read.format("graft-fixedwidth")`.
  *
  * A thin pruned relation over [[graft.qcew.FixedWidth.slice]], the
  * decoder `Ingest` runs: lines are read by
  * [[graft.qcew.FixedWidth.readRaw]] (Spark's `text` source, so splits
  * follow `spark.sql.files.maxPartitionBytes` as for every file source)
  * and only the fields a query needs are sliced. CRLF and ragged
  * (short or overlong) lines decode as `Ingest` decodes them.
  *
  * Options: `layout` = `name:pos:len[,name:pos:len...]` (1-based char
  * positions, [[graft.qcew.Layout.spec]] emits the QCEW one) and
  * `recordLength` (chars), which bounds every field. All fields read as
  * STRING; numeric decode stays downstream in
  * [[graft.qcew.FixedWidth.cast]] (`try_cast`, null-on-bad-input),
  * matching the reference's lenient-cast split of concerns.
  */
class FixedWidthSource extends RelationProvider with DataSourceRegister {
  override def shortName(): String = "graft-fixedwidth"

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-fixedwidth requires a path"))
    new FixedWidthRelation(sqlContext, path, FixedWidthSource.parseLayout(parameters))
  }
}

private[sources] object FixedWidthSource {
  def parseLayout(options: Map[String, String]): Seq[(String, Int, Int)] = {
    val spec = options.getOrElse("layout",
      throw new IllegalArgumentException(
        "graft-fixedwidth requires a 'layout' option: name:pos:len[,name:pos:len...]"))
    val fields = spec.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { part =>
      part.split(':') match {
        case Array(n, p, l) => (n.trim, p.trim.toInt, l.trim.toInt)
        case _ => throw new IllegalArgumentException(
          s"bad layout entry '$part' (want name:pos:len)")
      }
    }
    val recordLength = options.get("recordLength").map(_.toInt).getOrElse(-1)
    if (recordLength <= 0) throw new IllegalArgumentException(
      "graft-fixedwidth requires a positive 'recordLength' option")
    fields.foreach { case (name, pos, len) =>
      if (pos < 1 || len < 1 || pos + len - 1 > recordLength)
        throw new IllegalArgumentException(
          s"field $name [pos=$pos len=$len] outside record of length $recordLength")
    }
    fields
  }
}

private[sources] class FixedWidthRelation(val sqlContext: SQLContext, path: String,
                                          fields: Seq[(String, Int, Int)])
    extends BaseRelation with PrunedScan {
  // nullable like every Spark file source: downstream casts null out
  // bad input, and writers of derived frames expect nullable columns
  override val schema: StructType =
    StructType(fields.map { case (name, _, _) => StructField(name, StringType, nullable = true) })

  // buildScan hands back the decoder's own internal rows
  override def needConversion: Boolean = false

  override def buildScan(requiredColumns: Array[String]): RDD[Row] = {
    val byName = fields.map(f => f._1 -> f).toMap
    FixedWidth.slice(FixedWidth.readRaw(sqlContext.sparkSession, path), requiredColumns.toSeq.map(byName))
      .queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}
