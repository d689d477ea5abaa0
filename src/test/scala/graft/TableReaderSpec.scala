package graft

import graft.ext.EventsStream
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Path}

/** The one reader for a single parquet file: registry tables
  * (`QueryShared.t`) and the events file (batch and stream) take their
  * schema from the file's footer, so building a frame starts no Spark
  * job, and the schema is the one Spark's inference gives.
  */
class TableReaderSpec extends SparkSpec {

  private val tables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")
  private val eventsPath = s"${SparkSpec.sf0001}/events.parquet"

  test("building t, readEvents and readEventsStream frames starts no Spark job") {
    val jobs = tables.map(name => s"t($name)" -> jobsOf { QueryShared.t(spark, SparkSpec.sf0001, name) }.size) ++
      Seq("readEvents" -> jobsOf { EventsStream.readEvents(spark, eventsPath) }.size,
        "readEventsStream" -> jobsOf { EventsStream.readEventsStream(spark, eventsPath) }.size)
    assert(jobs.forall(_._2 == 0), jobs.filter(_._2 > 0).mkString("jobs started: ", ", ", ""))
  }

  test("the footer schema is the inferred schema for every sf0.001 table, ANSI on and off") {
    Seq("true", "false").foreach { ansi =>
      val s = spark.newSession()
      s.conf.set("spark.sql.ansi.enabled", ansi)
      tables.foreach { name =>
        val inferred = s.read.parquet(s"${SparkSpec.sf0001}/$name.parquet").schema
        assert(QueryShared.t(s, SparkSpec.sf0001, name).schema == inferred, s"$name, ansi=$ansi")
      }
    }
  }

  test("a path that is not one parquet file fails with a message that names it") {
    // a directory, as a Spark writer leaves a table
    val dir = Files.createTempDirectory("tables").toString
    spark.range(3).write.parquet(s"$dir/written.parquet")
    val notFile = intercept[IllegalArgumentException](QueryShared.t(spark, dir, "written"))
    assert(notFile.getMessage.contains(s"$dir/written.parquet"))
    val missing = intercept[java.io.FileNotFoundException](QueryShared.t(spark, dir, "nosuch"))
    assert(missing.getMessage.contains(s"$dir/nosuch.parquet"))
  }

  /** An events file with `ts` stored as INT64 TIMESTAMP(`unit`), naive. */
  private def writeEvents(file: Path, unit: String, rows: Seq[(Long, Long, String)]): String = {
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 user_id; required int64 ts (TIMESTAMP($unit,false)); " +
        "required binary event_type (STRING); }")
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(file)).withType(schema).build()
    try rows.foreach { case (user, micros, kind) =>
      w.write(groups.newGroup().append("user_id", user)
        .append("ts", if (unit == "NANOS") micros * 1000L else micros).append("event_type", kind))
    } finally w.close()
    file.toString
  }

  /** `stream` run to completion into a memory sink, as (user_id, ts) rows. */
  private def bounded(stream: DataFrame, name: String): Seq[(Long, java.sql.Timestamp)] = {
    val q = stream.writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()
    stream.sparkSession.table(name).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("ts"))).toSeq.sortBy(_._1)
  }

  test("a nanos events file reads as the same instants stored as micros, with no job, caller conf untouched") {
    val dir = Files.createTempDirectory("events-ts")
    // 2024-03-10 01:59:59.123456 UTC and neighbours: sub-second micros
    val rows = Seq((1L, 1710035999123456L, "click"), (2L, 1710036000000001L, "view"),
      (3L, 1710122400999999L, "buy"))
    // each file in a directory of its own: a stream reads its parent
    val nanos = writeEvents(Files.createDirectory(dir.resolve("n")).resolve("events.parquet"), "NANOS", rows)
    val micros = writeEvents(Files.createDirectory(dir.resolve("m")).resolve("events.parquet"), "MICROS", rows)
    val caller = spark.newSession()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = caller.conf.get(key)
    def read(path: String) = {
      var batch: DataFrame = null
      var stream: DataFrame = null
      assert(jobsOf { batch = EventsStream.readEvents(caller, path) }.isEmpty, s"readEvents($path)")
      assert(jobsOf { stream = EventsStream.readEventsStream(caller, path) }.isEmpty,
        s"readEventsStream($path)")
      (batch.select("user_id", "ts").collect().map(r => (r.getLong(0), r.getTimestamp(1))).toSeq.sortBy(_._1),
        bounded(stream, s"ts_${path.hashCode.abs}"))
    }
    val (nanosBatch, nanosStream) = read(nanos)
    val (microsBatch, microsStream) = read(micros)
    val want = rows.map { case (u, m, _) =>
      val t = new java.sql.Timestamp(Math.floorDiv(m, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(m, 1000000L) * 1000L).toInt)
      (u, t)
    }
    assert(microsBatch == want)
    assert(nanosBatch == microsBatch)
    assert(microsStream == want)
    assert(nanosStream == microsStream)
    assert(caller.conf.get(key) == before, "the caller's nanosAsLong changed")
  }
}
