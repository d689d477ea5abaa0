package graft

import graft.qcew.{FixedWidth, Layout, NaicsAgg}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.util.Try

class FixedWidthSpec extends SparkSpec {
  import spark.implicits._

  test("layout is contiguous and 1060 wide with 121 fields") {
    assert(Layout.fields.size == 121)
    assert(Layout.recordWidth == 1060)
    val sorted = Layout.fields.sortBy(_._2)
    sorted.sliding(2).foreach {
      case Seq((_, p1, l1), (_, p2, _)) => assert(p1 + l1 == p2)
      case _ =>
    }
  }

  test("parse slices, trims and casts; non-numeric junk becomes null") {
    val lines = Seq(
      QcewFixtures.record(2023, 1, "541511", "10", "12", "14", "123456"),
      QcewFixtures.record(2023, 1, "541511", "junk", "x", "", "oops"),
      QcewFixtures.record(2200, 4, "111419", "5", "5", "5", "999") // dirty year survives
    )
    val df = FixedWidth.parse(lines.toDF("value"))
    assert(df.columns.length == 121)
    val rows = df.select("year", "qtr", "naics_code",
      "first_month_employment", "total_wages", "latitude").collect()
    assert(rows(0).getLong(0) == 2023L)
    assert(rows(0).getString(2) == "541511")
    assert(rows(0).getLong(3) == 10L)
    assert(rows(0).getLong(4) == 123456L)
    assert(math.abs(rows(0).getDouble(5) - 18.22083) < 1e-9)
    assert(rows(1).isNullAt(3) && rows(1).isNullAt(4)) // junk -> null, no throw
    assert(rows(2).getLong(0) == 2200L)                // dirty year retained
  }

  test("latin-1 bytes before position-sensitive fields keep alignment") {
    // ñ (0xF1) inside leg_corp_name (pos 63) must not shift naics_code (pos 591)
    val l = QcewFixtures.record(2023, 2, "722511", "3", "3", "3", "777",
      name = "PANADERÍA LA ÑAPA")
    val tmp = Files.createTempDirectory("fw")
    Files.write(tmp.resolve("a.txt"), (l + "\n").getBytes(StandardCharsets.ISO_8859_1))
    val df = FixedWidth.parse(FixedWidth.readRaw(spark, tmp.toString))
    val r = df.select("leg_corp_name", "naics_code", "total_wages").head()
    assert(r.getString(0) == "PANADERÍA LA ÑAPA")
    assert(r.getString(1) == "722511")
    assert(r.getLong(2) == 777L)
  }

  /** The reference slice of one line: drop a trailing CR, cut every
    * field by char position (short lines give short or empty fields),
    * strip spaces only, as Spark's `trim` does.
    */
  private def expectedFields(line: String): Seq[String] = {
    val s = line.stripSuffix("\r")
    Layout.fields.map { case (_, pos, len) =>
      val f = s.substring(math.min(pos - 1, s.length), math.min(pos - 1 + len, s.length))
      f.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    }
  }

  private def expectedFrame(lines: Seq[String]) =
    FixedWidth.cast(spark.createDataFrame(
      spark.sparkContext.parallelize(lines.map(l => Row.fromSeq(expectedFields(l))), 1),
      StructType(Layout.fields.map { case (n, _, _) => StructField(n, StringType) })))

  test("parse matches a per-field String.substring of dirty latin-1 lines") {
    val lines = QcewFixtures.dirtyLines
    val tmp = Files.createTempDirectory("fw-parity")
    Files.write(tmp.resolve("a.txt"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.ISO_8859_1))
    val want = expectedFrame(lines).collect().toSeq
    assert(want.head.getAs[String]("qcew_contact") == "Ñ")
    val viaFile = FixedWidth.parse(FixedWidth.readRaw(spark, tmp.toString)).collect().toSeq
    val viaFrame = FixedWidth.parse(lines.toDF("value")).collect().toSeq
    // readRaw drops blank lines; a caller's frame keeps them
    val wantFile = lines.zip(want).filterNot(lw => QcewFixtures.blank(lw._1)).map(_._2)
    for ((how, got, exp) <- Seq(("readRaw", viaFile, wantFile), ("frame", viaFrame, want))) {
      assert(got.size == exp.size, how)
      got.zip(exp).zipWithIndex.foreach { case ((g, w), i) =>
        Layout.fields.indices.foreach { j =>
          assert(g.get(j) == w.get(j), s"$how line $i field ${Layout.fields(j)._1}")
        }
      }
    }
  }

  test("readRaw keeps bytes 0x01 and 0x00 inside a record; later fields stay put") {
    val l = QcewFixtures.record(2023, 2, "722511", "3", "3", "3", "777",
      name = "AB\u0001CD\u0000EF")
    val tmp = Files.createTempDirectory("fw-ctl")
    Files.write(tmp.resolve("a.txt"), (l + "\n").getBytes(StandardCharsets.ISO_8859_1))
    val r = FixedWidth.parse(FixedWidth.readRaw(spark, tmp.toString))
      .select("leg_corp_name", "naics_code", "total_wages").collect()
    assert(r.length == 1)
    assert(r(0).getString(0) == "AB\u0001CD\u0000EF")
    assert(r(0).getString(1) == "722511")
    assert(r(0).getLong(2) == 777L)
  }

  /** One entry per job `body` starts in the calling thread. Job events
    * reach listeners asynchronously, so a job of another group runs
    * last: once it is seen, every earlier job has been too.
    */
  /** Each scan partition's files as (path, start, length, hosts). */
  private def scanPartitions(df: DataFrame): Seq[Seq[(Path, Long, Long, Seq[String])]] =
    df.queryExecution.executedPlan.collectFirst { case s: FileSourceScanExec => s }.get
      .inputRDD.partitions.toSeq.map { case p: FilePartition =>
        p.files.toSeq.map(f => (f.toPath, f.start, f.length, f.locations.toSeq))
      }

  test("readRaw over a 40-file glob starts no job: rows and scan partitions of " +
      "spark.read.text, hidden files skipped") {
    val dir = Files.createTempDirectory("fw-glob")
    (0 until 40).foreach { i =>
      Files.write(dir.resolve(f"r$i%02d.txt"), (0 to i % 3).map(j =>
        QcewFixtures.record(2001 + i % 20, 1 + i % 4, "541511", s"$j", "1", "1", s"$i"))
        .mkString("", "\n", "\n").getBytes(StandardCharsets.ISO_8859_1))
    }
    Files.write(dir.resolve("_x.txt"), "HIDDEN_\n".getBytes(StandardCharsets.ISO_8859_1))
    Files.write(dir.resolve(".x.txt"), "HIDDEN.\n".getBytes(StandardCharsets.ISO_8859_1))
    val glob = s"$dir/*.txt"
    var raw: DataFrame = null
    val jobs = jobsOf { raw = FixedWidth.readRaw(spark, glob) }
    assert(jobs.isEmpty, s"readRaw started ${jobs.size} job(s) to list the glob")
    // spark.read.text lists the 40 paths with a job (above the 32-path
    // threshold); readRaw's lines must be its lines, file for file
    var text: DataFrame = null
    assert(jobsOf { text = spark.read.option("lineSep", "\n").text(glob) }.nonEmpty)
    val want = text.select(col("value").cast("binary")).collect().map(_.getAs[Array[Byte]](0).toSeq)
    val got = raw.collect().map(_.getAs[Array[Byte]](0).toSeq)
    assert(got.length == (0 until 40).map(_ % 3 + 1).sum && got.toSeq == want.toSeq)
    assert(!got.exists(_.startsWith("HIDDEN".getBytes.toSeq)), "a hidden file was read")
    assert(scanPartitions(raw) == scanPartitions(text))
  }

  test("readRaw on a file, a directory, a missing path and an empty glob acts as spark.read.text") {
    val dir = Files.createTempDirectory("fw-paths")
    Files.write(dir.resolve("a.txt"), "aaa\nbbb\n".getBytes(StandardCharsets.ISO_8859_1))
    Files.write(dir.resolve("_x.txt"), "hid\n".getBytes(StandardCharsets.ISO_8859_1))
    Files.createDirectory(dir.resolve("sub"))
    Files.write(dir.resolve("sub/b.txt"), "ccc\n".getBytes(StandardCharsets.ISO_8859_1))
    def lines(df: DataFrame) = df.select(col("value").cast("string")).collect().map(_.getString(0)).toSeq
    for (p <- Seq(s"$dir/a.txt", dir.toString, s"$dir/*", s"$dir/_x.txt"))
      assert(lines(FixedWidth.readRaw(spark, p)) == lines(spark.read.text(p)), p)
    assert(lines(FixedWidth.readRaw(spark, s"$dir/*")).sorted == Seq("aaa", "bbb", "ccc"))
    for (p <- Seq(s"$dir/missing.txt", s"$dir/*.none", s"$dir/nowhere/*.txt")) {
      val want = Try(spark.read.text(p)).failed.get
      val got = Try(FixedWidth.readRaw(spark, p)).failed.get
      assert(got.getClass == want.getClass && got.getMessage == want.getMessage, p)
      assert(got.getMessage.contains("PATH_NOT_FOUND"), p)
    }
  }

  test("chars above U+00FF become '?' one for one; later fields stay aligned") {
    val lines = Seq(
      QcewFixtures.record(2023, 1, "541511", "1", "2", "3", "900", name = "ΩMEGA Ω LTD"),
      // a supplementary char (two UTF-16 units) is one position, as
      // for any other char; the fixture pads by UTF-16 unit, so swap it in
      QcewFixtures.record(2024, 3, "111419", "4", "5", "6", "800", name = "CAFÉ # BAR")
        .replace("#", "😀"))
    val got = FixedWidth.parse(lines.toDF("value"))
      .select("leg_corp_name", "naics_code", "total_wages", "qcew_contact").collect()
    assert(got(0).getString(0) == "?MEGA ? LTD")
    assert(got(0).getString(1) == "541511" && got(0).getLong(2) == 900L)
    assert(got(1).getString(0) == "CAFÉ ? BAR")
    assert(got(1).getString(1) == "111419" && got(1).getLong(2) == 800L)
    assert(got.forall(_.getString(3) == ""))
  }

  test("flagship aggregate: suppression keeps >4 groups, drops <=4, blank naics filtered") {
    val big = (1 to 6).map(i =>
      QcewFixtures.record(2023, 1, "541511", "10", "12", "14", "1000"))
    val small = (1 to 3).map(i =>
      QcewFixtures.record(2023, 1, "111419", "2", "2", "2", "500"))
    val blank = Seq(QcewFixtures.record(2023, 1, "", "1", "1", "1", "100"))
    val df = FixedWidth.parse((big ++ small ++ blank).toDF("value"))
    val agg = NaicsAgg.aggregate(df).collect()
    assert(agg.length == 1)
    val r = agg(0)
    assert(r.getAs[String]("naics4") == "5415")
    assert(r.getAs[Long]("total_wages") == 6000L)
    assert(math.abs(r.getAs[Double]("total_employment") - 12.0) < 1e-9)
    assert(r.getAs[Long]("dummy") == 6L)
    assert(math.abs(r.getAs[Double]("fondo_contributions") - 6000 * 0.014) < 1e-9)
    assert(math.abs(r.getAs[Double]("medicare_contributions") - 6000 * 0.0145) < 1e-9)
    assert(math.abs(r.getAs[Double]("ssn_contributions") - 6000 * 0.062) < 1e-9)
  }

  test("empty input yields empty output, no throw") {
    val df = FixedWidth.parse(Seq.empty[String].toDF("value"))
    assert(df.isEmpty)
    assert(NaicsAgg.aggregate(df).isEmpty)
  }
}
