package graft

import graft.qcew._
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class QcewModulesSpec extends SparkSpec {
  import spark.implicits._

  private def writeLatin1(dir: java.nio.file.Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name),
      (lines.mkString("\n") + "\n").getBytes(StandardCharsets.ISO_8859_1))

  test("ingestFile: mode naming, idempotent skip, empty warn") {
    val raw = Files.createTempDirectory("raw")
    val out = Files.createTempDirectory("proc")
    val lines = (1 to 5).map(_ => QcewFixtures.record(2021, 3, "541511", "1", "1", "1", "10")) :+
      QcewFixtures.record(2020, 1, "111419", "1", "1", "1", "10") // minority (year,qtr)
    writeLatin1(raw, "a.txt", lines)
    val p1 = Ingest.ingestFile(spark, raw.resolve("a.txt").toString, out.toString)
    assert(p1.exists(_.endsWith("pr-qcew-2021-3.parquet"))) // mode-named
    val before = Files.getLastModifiedTime(
      java.nio.file.Paths.get(p1.get)).toMillis
    val p2 = Ingest.ingestFile(spark, raw.resolve("a.txt").toString, out.toString)
    assert(p2 == p1) // skip, not rewrite
    writeLatin1(raw, "empty.txt", Seq.empty)
    assert(Ingest.ingestFile(spark, raw.resolve("empty.txt").toString, out.toString).isEmpty)
    val served = Ingest.readProcessed(spark, out.toString)
    assert(served.count() == 6)
    // S9: the lake is addressable by SQL-string consumers via the view
    assert(spark.sql("SELECT count(*) AS n FROM qcew").head().getLong(0) == 6)
    assert(spark.table("qcew").columns.contains("naics_code"))
  }

  test("ingestAll: partitioned lake, partition pruning works") {
    val raw = Files.createTempDirectory("rawall")
    val out = Files.createTempDirectory("lake")
    writeLatin1(raw, "a.txt",
      (1 to 3).map(_ => QcewFixtures.record(2021, 1, "541511", "1", "1", "1", "10")))
    writeLatin1(raw, "b.txt",
      (1 to 2).map(_ => QcewFixtures.record(2022, 2, "111419", "1", "1", "1", "10")))
    val lake = Ingest.ingestAll(spark, raw.toString + "/*.txt", out.toString)
    assert(lake.count() == 5)
    val pruned = spark.read.parquet(out.toString).filter($"year" === 2021)
    assert(pruned.count() == 3)
    // partition pruning visible in the physical plan
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || pruned.inputFiles.length == 1)
  }

  test("ingestAll: one file per (year, qtr) directory, written by more than one task") {
    val raw = Files.createTempDirectory("rawpar")
    val out = Files.createTempDirectory("lakepar")
    val keys = Seq((2021, 1), (2021, 2), (2022, 3), (2023, 4))
    keys.zipWithIndex.foreach { case ((y, q), i) =>
      // each key spread over two raw files, so no input file maps to one key
      val (y2, q2) = keys((i + 1) % keys.size)
      writeLatin1(raw, s"r$i.txt", Seq(
        QcewFixtures.record(y, q, "541511", "1", "1", "1", "10"),
        QcewFixtures.record(y2, q2, "111419", "2", "2", "2", "20")))
    }
    val writers = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.outputMetrics.recordsWritten > 0)
          writers.add(e.taskInfo.taskId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(Ingest.ingestAll(spark, raw.toString + "/*.txt", out.toString).count() == 8)
      val dirs = keys.map { case (y, q) => out.resolve(s"year=$y/qtr=$q") }
      dirs.foreach { d =>
        val files = Files.list(d).iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSeq
        assert(files.size == 1, s"$d holds ${files.mkString(", ")}")
      }
      // listener events arrive asynchronously after the job ends
      eventually(timeout(Span(10, Seconds))) {
        assert(writers.size > 1, "the partitioned write ran as a single task")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The commands of the processes the JVM starts during `body`. */
  private def processesDuring(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      body
      rec.stop()
      val dump = Files.createTempFile("processes", ".jfr")
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.map(_.getString("command")).toSeq
    } finally rec.close()
  }

  test("ingestAll starts no chmod process; lake permissions are Hadoop's") {
    val raw = Files.createTempDirectory("rawperm")
    (0 until 40).foreach { i =>
      writeLatin1(raw, s"r$i.txt", Seq(
        QcewFixtures.record(2001 + i % 10, 1 + i % 4, "541511", "1", "1", "1", s"$i")))
    }
    val lake = Files.createTempDirectory("lakeperm")
    val chmods = processesDuring {
      assert(Ingest.ingestAll(spark, raw.toString + "/*.txt", lake.toString).count() == 40)
    }.filter(c => c.startsWith("chmod") && c.contains(lake.toString))
    assert(chmods.isEmpty, s"${chmods.size} chmod processes, e.g. ${chmods.take(2)}")
    // the same frame written through the session's own `file:` filesystem
    val plain = Files.createTempDirectory("plainperm")
    val plainChmods = processesDuring {
      FixedWidth.parse(FixedWidth.readRaw(spark, raw.toString + "/*.txt"))
        .write.mode("overwrite").partitionBy("year", "qtr").parquet(plain.toString)
    }.count(c => c.startsWith("chmod") && c.contains(plain.toString))
    // without libhadoop Hadoop starts one per file and directory: the
    // recording sees processes
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable) assert(plainChmods > 0)
    def perms(root: java.nio.file.Path): Map[String, Set[String]] =
      Files.walk(root).iterator().asScala.filter(_ != root).toSeq.groupBy { p =>
        val name = p.getFileName.toString
        if (Files.isDirectory(p)) "dir" else if (name.endsWith(".crc")) "crc"
        else if (name.endsWith(".parquet")) "data" else name
      }.map { case (kind, ps) => kind -> ps.map(p =>
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toSet }
    val (got, want) = (perms(lake), perms(plain))
    assert(Set("dir", "crc", "data").subsetOf(got.keySet))
    got.foreach { case (kind, ps) => assert(want.get(kind).contains(ps), kind) }
  }

  test("lake: dim-filter join triggers DYNAMIC partition pruning on the fact scan") {
    val raw = Files.createTempDirectory("rawdpp")
    val out = Files.createTempDirectory("lakedpp")
    writeLatin1(raw, "a.txt",
      (1 to 3).map(_ => QcewFixtures.record(2021, 1, "541511", "1", "1", "1", "10")))
    writeLatin1(raw, "b.txt",
      (1 to 2).map(_ => QcewFixtures.record(2022, 2, "111419", "1", "1", "1", "10")))
    Ingest.ingestAll(spark, raw.toString + "/*.txt", out.toString)
    // the year filter lives on the DIM — only runtime pruning can skip
    // the 2022 fact partition (static pruning has nothing to push).
    // The dim must be a real scan: a local Seq folds the filter into a
    // LocalRelation at optimize time and DPP sees no selective predicate.
    val dimDir = Files.createTempDirectory("dimdpp")
    Seq((2021, "keep"), (2022, "drop")).toDF("year", "flag")
      .write.mode("overwrite").parquet(dimDir.toString)
    val dim = spark.read.parquet(dimDir.toString)
    val joined = spark.read.parquet(out.toString)
      .join(dim.filter($"flag" === "keep"), Seq("year"))
    assert(joined.count() == 3)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"fact scan not dynamically pruned by the dim filter:\n${plan.take(600)}")
  }

  test("compact: many small files collapse to one per partition, data identical") {
    val raw = Files.createTempDirectory("rawc")
    val out = Files.createTempDirectory("lakec")
    val compacted = Files.createTempDirectory("lakec2")
    writeLatin1(raw, "a.txt",
      (1 to 4).map(_ => QcewFixtures.record(2021, 1, "541511", "1", "1", "1", "10")))
    // fragment the lake: one parquet file per input row
    FixedWidth.parse(FixedWidth.readRaw(spark, raw.toString + "/*.txt"))
      .repartition(4)
      .write.mode("overwrite").partitionBy("year", "qtr").parquet(out.toString)
    val before = spark.read.parquet(out.toString)
    assert(before.inputFiles.length > 1, "fixture should be fragmented")
    val after = Ingest.compact(spark, out.toString, compacted.toString)
    assert(after.inputFiles.length == 1, "one (year,qtr) partition -> one file")
    assert(after.count() == before.count())
    // content identical modulo row order
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select($"naics_code", $"year", $"qtr").collect().map(_.toSeq).sorted(
        Ordering.by((s: Seq[Any]) => s.mkString("|")))
    assert(key(after).toSeq == key(before).toSeq)
  }

  test("lake schema evolution: mergeSchema unions partition schemas, old rows null") {
    val lake = Files.createTempDirectory("evolve")
    Seq((1L, "a")).toDF("id", "v")
      .write.parquet(s"$lake/year=2021")
    Seq((2L, "b", 9.5)).toDF("id", "v", "score") // new column added later
      .write.parquet(s"$lake/year=2022")
    val merged = spark.read.option("mergeSchema", "true").parquet(lake.toString)
    assert(merged.columns.toSet == Set("id", "v", "score", "year"))
    val rows = merged.orderBy("id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("score")), "pre-evolution rows read as null")
    assert(rows(1).getDouble(rows(1).fieldIndex("score")) == 9.5)
  }

  test("modeOf: most frequent wins, ties to smallest") {
    val df = Seq("b", "b", "a", "a", "c").toDF("v")
    assert(Ingest.modeOf(df, "v").contains("a"))
  }

  test("wages: time_period derivations") {
    val q = Seq((2020, 1), (2020, 4)).toDF("year", "qtr")
    val got = Wages.withTimePeriod(q, Wages.Quarterly)
      .select("time_period").as[String].collect().sorted
    assert(got.sameElements(Array("2020-q1", "2020-q4")))
    val y = Wages.withTimePeriod(Seq(Tuple1(2020)).toDF("year"), Wages.Yearly)
    assert(y.select("time_period").as[Int].head() == 2020)
  }

  test("wages: enrich joins dim, drops invalid and code 0, keeps unmatched") {
    val wages = Seq(
      ("541511", 100.0), ("111419", 50.0), ("0", 1.0), ("999999", 7.0)
    ).toDF("naics_code", "total_wages")
    val dim = Seq(("5415", "Computer Systems"), ("1114", "Greenhouse")).toDF("naics_code", "naics_desc")
    val invalid = Seq("1114").toDF("naics_data")
    val got = Wages.enrich(wages, dim, invalid)
    val rows = got.select("naics_4digit", "naics_desc").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(rows == Set(("5415", Some("Computer Systems")), ("9999", None)))
  }

  test("wages: filterWages aggregates one industry per period; picklist distinct sorted") {
    val wages = Seq(
      (2020, 1, "541511", 100.0), (2020, 1, "541512", 50.0),
      (2020, 2, "541511", 70.0), (2020, 2, "111419", 999.0)
    ).toDF("year", "qtr", "naics_code", "total_wages")
    val dim = Seq(("5415", "Computer Systems"), ("1114", "Greenhouse")).toDF("naics_code", "naics_desc")
    val invalid = spark.emptyDataset[String].toDF("naics_data")
    val enriched = Wages.enrich(Wages.withTimePeriod(wages, Wages.Quarterly), dim, invalid)
    val (series, picklist) = Wages.filterWages(enriched, "total_wages", "(N5415) Computer Systems")
    val s = series.as[(String, Double)].collect()
    assert(s.sameElements(Array(("2020-q1", 150.0), ("2020-q2", 70.0))))
    assert(picklist.as[String].collect()
      .sameElements(Array("(N1114) Greenhouse", "(N5415) Computer Systems")))
  }

  test("fixedwidth: geom struct packs (lon, lat), null when a coordinate is missing") {
    val df = Seq(
      (Some(18.2208), Some(-66.5901)),
      (None: Option[Double], Some(-66.0)),
      (Some(18.0), None: Option[Double])
    ).toDF("latitude", "longitude")
    val got = FixedWidth.withGeom(df).select("geom.lon", "geom.lat").collect()
    assert(got(0).getDouble(0) == -66.5901 && got(0).getDouble(1) == 18.2208)
    assert(got(1).isNullAt(0) && got(1).isNullAt(1))
    assert(got(2).isNullAt(0) && got(2).isNullAt(1))
  }

  test("wages: picklist excludes all-null-measure industries, keeps null labels") {
    val wages = Seq(
      (2020, 1, "541511", Some(100.0)),            // normal
      (2020, 1, "111419", None: Option[Double]),   // measure all null -> out
      (2020, 2, "999999", Some(7.0))               // unmatched dim -> null label kept
    ).toDF("year", "qtr", "naics_code", "total_wages")
    val dim = Seq(("5415", "Computer Systems"), ("1114", "Greenhouse")).toDF("naics_code", "naics_desc")
    val invalid = spark.emptyDataset[String].toDF("naics_data")
    val enriched = Wages.enrich(Wages.withTimePeriod(wages, Wages.Quarterly), dim, invalid)
    val (_, picklist) = Wages.filterWages(enriched, "total_wages", "(N5415) Computer Systems")
    val labels = picklist.collect().map(r => Option(r.getString(0))).toSet
    assert(labels == Set(Some("(N5415) Computer Systems"), None))
  }

  test("events: readEvents does not leak the nanos conf into the caller session") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    val df = graft.ext.EventsStream.readEvents(spark, s"${SparkSpec.sf0001}/events.parquet")
    assert(df.count() > 0)
    assert(spark.conf.getOption(key) == before, "caller session conf mutated")
  }

  test("series: diff and pct change via lag, per key") {
    val df = Seq(("a", 1, 10.0), ("a", 2, 15.0), ("a", 3, 12.0), ("b", 1, 100.0), ("b", 2, 50.0))
      .toDF("k", "t", "v")
    val got = Series.withDiffs(df, "v", Seq("k"), Seq("t"))
      .orderBy("k", "t").select("v_diff", "v_diff_p").collect()
    assert(got(0).isNullAt(0))
    assert(got(1).getDouble(0) == 5.0 && math.abs(got(1).getDouble(1) - 0.5) < 1e-12)
    assert(got(2).getDouble(0) == -3.0)
    assert(got(3).isNullAt(0)) // new key restarts
    assert(got(4).getDouble(0) == -50.0 && got(4).getDouble(1) == -0.5)
  }

  test("resample: monthly expansion 3x rows, sum preserved, correct months/dates") {
    val df = Seq((2020L, 1L, 10L, 20L, 30L), (2020L, 2L, 1L, 2L, 3L))
      .toDF("year", "qtr", "first_month_employment", "second_month_employment", "third_month_employment")
    val m = Resample.monthly(df)
    assert(m.count() == 6)
    assert(m.agg(sum("employment")).head().getLong(0) == 66L)
    val months = m.orderBy("month").select("month").as[Int].collect()
    assert(months.sameElements(Array(1, 2, 3, 4, 5, 6)))
    val d = m.filter($"month" === 4).select($"date".cast("string")).head().getString(0)
    assert(d == "2020-04-01")
    val y = Resample.yearlyMean(m).select("employment").as[Double].head()
    assert(math.abs(y - 11.0) < 1e-9)
    val qm = Resample.quarterlyMean(m).orderBy("qtr").select("employment").as[Double].collect()
    assert(qm.sameElements(Array(20.0, 2.0)))
  }

  test("golden artifact: reference naics4_df.parquet schema-maps onto NaicsAgg " +
      "and satisfies the suppression invariants") {
    // The ONE output artifact the reference ships
    // (jp-qcew data/external/naics4_df.parquet, produced by
    // data_process.py:173-188). Raw inputs aren't shipped, so full
    // value parity is impossible — but the schema mapping, row count,
    // suppression invariant (HAVING dummy > 4 ⇒ min(dummy) ≥ 5), the
    // establishment total, and group-key uniqueness are all
    // machine-checkable, which turns FIXTURES.md:47's prose claim into
    // a gate that fails if either side drifts.
    val golden = "/root/reference/data/external/naics4_df.parquet"
    assume(new java.io.File(golden).exists(), s"reference artifact absent: $golden")
    val g = spark.read.parquet(golden)

    // documented column mapping artifact → NaicsAgg output
    val mapping = Map(
      "year" -> "year", "qtr" -> "qtr", "first_4_naics_code" -> "naics4",
      "total_wages_sum" -> "total_wages",
      "total_employment_sum" -> "total_employment", "dummy" -> "dummy")
    assert(g.columns.toSet == mapping.keySet,
      s"artifact schema drifted: ${g.columns.mkString(",")}")

    // NaicsAgg's output covers every mapped column with a compatible type
    // (artifact i32 dummy widens to our i64 count; everything else equal)
    val ours = NaicsAgg.aggregate(FixedWidth.parse(
      Seq(QcewFixtures.record(2021, 1, "541511", "5", "5", "5", "100")).toDF("value")))
    val ourTypes = ours.schema.map(f => f.name -> f.dataType).toMap
    val goldTypes = g.schema.map(f => f.name -> f.dataType).toMap
    mapping.foreach { case (artifactCol, ourCol) =>
      assert(ourTypes.contains(ourCol), s"NaicsAgg lost column $ourCol")
      val compatible = (goldTypes(artifactCol), ourTypes(ourCol)) match {
        case (a, b) if a == b => true
        case (org.apache.spark.sql.types.IntegerType,
              org.apache.spark.sql.types.LongType) => true // dummy count widens
        case _ => false
      }
      assert(compatible,
        s"$artifactCol:${goldTypes(artifactCol)} vs $ourCol:${ourTypes(ourCol)}")
    }

    // golden invariants (independently verified against the artifact)
    val stats = g.agg(
      count(lit(1)).as("n"), min("dummy").as("min_dummy"),
      sum("dummy").as("sum_dummy"),
      countDistinct($"year", $"qtr", $"first_4_naics_code").as("n_keys")
    ).head()
    assert(stats.getLong(0) == 21663L, s"row count ${stats.getLong(0)}")
    assert(stats.getInt(1) >= 5, // data_process.py:179 HAVING dummy > 4
      s"suppression violated: min(dummy)=${stats.getInt(1)}")
    assert(stats.getLong(2) == 4290433L, s"sum(dummy) ${stats.getLong(2)}")
    assert(stats.getLong(3) == 21663L, "group key (year,qtr,naics4) not unique")
  }
}
