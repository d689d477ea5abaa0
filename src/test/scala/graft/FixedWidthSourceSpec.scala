package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.execution.RowDataSourceScanExec

import graft.qcew.{FixedWidth, Layout}

/** The graft-fixedwidth source: a pruned relation over
  * [[FixedWidth.slice]], so it decodes every line as `Ingest` does and
  * column pruning reaches the slicing.
  */
class FixedWidthSourceSpec extends SparkSpec {
  import spark.implicits._

  private def writeLatin1(dir: Path, name: String, s: String): Unit =
    Files.write(dir.resolve(name), s.getBytes("ISO-8859-1"))

  private val layout3 = "a:1:4,b:5:6,num:11:5"
  private val recLen = 15

  private def read(path: String) =
    spark.read.format("graft-fixedwidth")
      .option("layout", layout3).option("recordLength", recLen).load(path)

  private def readQcew(path: String) =
    spark.read.format("graft-fixedwidth")
      .option("layout", Layout.spec)
      .option("recordLength", Layout.recordWidth)
      .load(path)

  test("reads records, trims fields, resolves by short name") {
    val dir = Files.createTempDirectory("fw-src")
    writeLatin1(dir, "a.fw", "ab  cdcdcd  123\nzz  yyyyyy 45  \n")
    val rows = read(dir.toString).orderBy("a").collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("ab", "zz"))
    assert(rows.map(_.getString(2)).toSeq === Seq("123", "45"))
  }

  test("last record without a trailing separator is read; short lines decode") {
    val dir = Files.createTempDirectory("fw-nosep")
    writeLatin1(dir, "a.fw", "ab  cdcdcd  123\nzz  yyyyyy 45  ") // no final \n
    assert(read(dir.toString).count() === 2)
    val short = Files.createTempDirectory("fw-short")
    writeLatin1(short, "a.fw", "short\n")
    val r = read(short.toString).collect()
    assert(r.length === 1)
    assert(r.head.toSeq === Seq("shor", "t", ""))
  }

  test("latin-1 bytes decode at exact positions") {
    val dir = Files.createTempDirectory("fw-latin")
    // ñ (0xF1) inside field b; single-byte charset keeps num aligned
    writeLatin1(dir, "a.fw", "ab  cñdcdñ  123\n")
    val r = read(dir.toString).collect().head
    assert(r.getString(1) === "cñdcdñ")
    assert(r.getString(2) === "123")
  }

  test("splits follow spark.sql.files.maxPartitionBytes; same rows") {
    val dir = Files.createTempDirectory("fw-split")
    val lines = (0 until 97).map(i => f"r$i%03d${"x" * 6}$i%5d").mkString("", "\n", "\n")
    writeLatin1(dir, "a.fw", lines)
    val whole = read(dir.toString).as[(String, String, String)].collect().toSet
    val confs = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    confs.foreach(spark.conf.set(_, "64"))
    try {
      val split = read(dir.toString)
      assert(split.rdd.getNumPartitions > 10)
      assert(split.as[(String, String, String)].collect().toSet === whole)
    } finally confs.foreach(spark.conf.unset)
    assert(whole.size === 97)
  }

  test("column pruning reaches the scan's read schema") {
    val dir = Files.createTempDirectory("fw-prune")
    writeLatin1(dir, "a.fw", "ab  cdcdcd  123\n")
    val df = read(dir.toString).select("num")
    val scan = df.queryExecution.executedPlan.collectFirst {
      case s: RowDataSourceScanExec => s
    }.getOrElse(fail("no RowDataSourceScanExec in plan"))
    assert(scan.requiredSchema.fieldNames.toSeq === Seq("num"))
    assert(df.collect().map(_.getString(0)).toSeq === Seq("123"))
  }

  test("QCEW layout via Layout.spec round-trips a fixture record") {
    val dir = Files.createTempDirectory("fw-qcew")
    val rec = QcewFixtures.record(2024, 1, "541511", "10", "11", "12", "500000")
    writeLatin1(dir, "q.fw", rec + "\n")
    val df = readQcew(dir.toString).select("year", "qtr", "naics_code", "total_wages")
    val r = df.collect().head
    assert(r.getString(0) === "2024" && r.getString(1) === "1")
    assert(r.getString(2) === "541511" && r.getString(3) === "500000")
  }

  test("parity with FixedWidth.parse(readRaw) on all 121 fields of dirty lines") {
    val dir = Files.createTempDirectory("fw-parity")
    writeLatin1(dir, "q.fw", QcewFixtures.dirtyLines.mkString("", "\n", "\n"))
    val viaSource = FixedWidth.cast(readQcew(dir.toString))
    val viaParse = FixedWidth.parse(FixedWidth.readRaw(spark, dir.toString))
    assert(viaSource.columns.toSeq === viaParse.columns.toSeq)
    assert(viaSource.schema.map(_.dataType) === viaParse.schema.map(_.dataType))
    assert(viaSource.count() === QcewFixtures.dirtyLines.count(!QcewFixtures.blank(_)))
    assert(viaSource.exceptAll(viaParse).isEmpty && viaParse.exceptAll(viaSource).isEmpty)
  }
}
