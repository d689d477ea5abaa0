package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.qcew.{FixedWidth, Ingest, Layout, NaicsAgg, Resample, Series, Wages}

/** Benchmark JVM. Times calls into the program's public functions from
  * outside, forcing every result with `collect`, and writes what the
  * Python front end needs to `<work>/out`: result.json (timings and,
  * traced, per-layer metrics), answers/ (the first result of every
  * distinct operation, for the DuckDB checks) and spans.jsonl.
  *
  * Usage: Main --workload W --work DIR --launch-ms EPOCH_MS --cpus N
  * `<work>/ops.txt` holds one operation per line, prefixed by its pass:
  * passes w0, w1, ... are the untimed warm-up, passes p0, p1, ... are
  * timed untraced and passes t0, t1, ... timed traced, in that order.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val cpus = a("cpus")
    // configured as graft.Bench and graft.Verify configure theirs
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Log.silenceNoisyWarnings()
    val sessionS = (System.currentTimeMillis() - a("launch-ms").toLong) / 1e3
    val lines = Files.readAllLines(Paths.get(work, "ops.txt"), UTF_8).asScala.toSeq
    val byPass = lines.map(_.split(' ').toSeq).groupBy(_.head).map { case (p, ls) => p -> ls.map(_.tail) }
    def timed(prefix: Char) =
      byPass.keys.filter(_.head == prefix).toSeq.sortBy(_.tail.toInt).map(byPass)
    val run = new Run(spark, work, a("workload"), timed('w'), timed('p'), timed('t'))
    val body = run.execute(sessionS)
    Files.writeString(Paths.get(work, "out", "result.json"), body)
    spark.stop()
  }
}

/** One timed call into the program. */
final case class Op(pass: Int, key: String, ms: Double, ok: Boolean)

final class Run(spark: SparkSession, work: String, workload: String,
                warmPasses: Seq[Seq[Seq[String]]], plainPasses: Seq[Seq[Seq[String]]],
                tracedPasses: Seq[Seq[Seq[String]]]) {
  private val out = s"$work/out"
  private val qcewDir = s"$work/qcew"
  private val rawGlob = s"$qcewDir/raw/qcew/*/*.txt"
  private val lakeDir = s"$out/lake"
  private val tablesDir = s"$work/tables"
  private val registry = workload == "registry_mix"
  private var tracer = new Tracer(spark.sparkContext, on = false, runId = "")
  private def span[T](name: String, key: String = "")(body: => T): T = tracer.span(name, key)(body)

  // digest of the first answer per distinct operation, and that answer
  private val firstDigest = mutable.LinkedHashMap.empty[String, String]
  private val firstRows = mutable.LinkedHashMap.empty[String, (Array[Row], DataFrame)]
  private val spanLog = mutable.ArrayBuffer.empty[Span]
  private val probes = mutable.LinkedHashMap.empty[String, Double]

  // ---- inputs -------------------------------------------------------
  private lazy val naicsDim = Wages.readNaicsDim(spark, s"$qcewDir/dims/naics_desc.csv")
  private lazy val invalid = Wages.readInvalidCodes(spark, s"$qcewDir/dims/invalid.csv")
  private lazy val wagesQ = Wages.withTimePeriod(spark.read.option("header", "true")
    .schema("year INT, qtr INT, naics_code STRING, total_wages STRING, taxable_wages STRING")
    .csv(s"$qcewDir/dims/wages_q.csv"), Wages.Quarterly)
  private var lake: DataFrame = _

  // ---- operations: each returns its frame and collected result ------
  private def industry(n4: String): DataFrame =
    lake.filter(substring(col("naics_code"), 1, 4) === n4 && col("year").isNotNull)

  private def call(op: Seq[String]): (DataFrame, Array[Row]) = {
    def run(layer: String, df: => DataFrame): (DataFrame, Array[Row]) =
      span(layer) { val d = df; (d, d.collect()) }
    op match {
      case Seq("ingest") =>
        lake = span("ingest.ingestAll")(Ingest.ingestAll(spark, rawGlob, lakeDir))
        (lake, Array.empty[Row])
      case Seq("aggall") => run("naicsagg.aggregate", NaicsAgg.aggregate(lake))
      case Seq("series", n4) => run("wages.filterWages",
        Wages.filterWages(Wages.enrich(wagesQ, naicsDim, invalid), "total_wages",
          s"(N$n4) Industry $n4")._1)
      case Seq("picklist") => run("wages.filterWages",
        Wages.filterWages(Wages.enrich(wagesQ, naicsDim, invalid), "total_wages", "")._2)
      case Seq("resample", grain, n4) =>
        val base = industry(n4).groupBy("year", "qtr").agg(
          sum("first_month_employment").as("m1"), sum("second_month_employment").as("m2"),
          sum("third_month_employment").as("m3"))
        val monthly = Resample.monthly(base, "m1", "m2", "m3")
        grain match {
          case "monthly" => run("resample.monthly", monthly)
          case "quarterly" => run("resample.quarterlyMean", Resample.quarterlyMean(monthly))
          case "yearly" => run("resample.yearlyMean", Resample.yearlyMean(monthly))
        }
      case Seq("diffs", n4s @ _*) =>
        val base = lake.filter(substring(col("naics_code"), 1, 4).isin(n4s: _*) &&
            col("year").between(2001, 2022))
          .groupBy(substring(col("naics_code"), 1, 4).as("naics4"), col("year"), col("qtr"))
          .agg(sum("total_wages").as("wages"))
        run("series.withDiffs", Series.withDiffs(base, "wages", Seq("naics4"), Seq("year", "qtr")))
      case Seq("q", name) =>
        span("registry.query", name) {
          val df = span("registry.plan") {
            val d = SparkEntry.queries(name)(spark, tablesDir)
            d.queryExecution.executedPlan
            d
          }
          (df, span("registry.execute")(df.collect()))
        }
      case other => sys.error(s"unknown operation: ${other.mkString(" ")}")
    }
  }

  private def timeMs[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e6, r)
  }

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** False when an answer differs from its key's first answer. */
  private def remember(key: String, df: DataFrame, rows: Array[Row]): Boolean = {
    val d = digest(rows)
    firstDigest.get(key) match {
      case Some(prev) => prev == d
      case None =>
        firstDigest(key) = d
        firstRows(key) = (rows, df)
        true
    }
  }

  /** Runs one pass; answers are digested after the pass's timed calls. */
  private def runPass(p: Int, ops: Seq[Seq[String]], sink: mutable.ArrayBuffer[Op]): Unit = {
    val results = span(if (registry) "registry.pass" else "pipeline.pass") {
      ops.map { op =>
        val key = op.mkString(" ")
        try {
          val (ms, (df, rows)) = timeMs(call(op))
          if (registry) afterQuery()
          (key, ms, Some((df, rows)))
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $key failed: ${e.getMessage}")
            (key, 0.0, None)
        }
      }
    }
    results.foreach {
      case (key, ms, Some((df, rows))) =>
        sink += Op(p, key, ms, key == "ingest" || remember(key, df, rows))
      case (key, _, None) => sink += Op(p, key, 0.0, ok = false)
    }
  }

  // ---- ext.Caching: persisted RDDs a query leaves registered ---------
  private var rddsLeft, storagePeak = 0.0
  private var queriesSeen = 0
  private def afterQuery(): Unit = {
    if (tracer.on) {
      val sc = spark.sparkContext
      rddsLeft += sc.getPersistentRDDs.size
      storagePeak = math.max(storagePeak,
        sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6)
      queriesSeen += 1
    }
    // as graft.Bench does between queries: no query pre-warms another
    spark.catalog.clearCache()
  }

  // ---- traced-only probes of the two fixed-width read paths ----------
  private def rawFiles: Seq[Path] =
    Files.walk(Paths.get(qcewDir, "raw")).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  private def decodeProbes(): Unit = {
    val rawBytes = rawFiles.map(Files.size).sum.toDouble
    val parsed = FixedWidth.parse(FixedWidth.readRaw(spark, rawGlob))
    val (decodeMs, _) = timeMs(span("fixedwidth.parse") {
      parsed.write.format("noop").mode("overwrite").save()
    })
    val counts = span("fixedwidth.count") {
      parsed.agg(count(lit(1)), count(when(col("year").isNull, 1))).head()
    }
    val records = counts.getLong(0).toDouble
    probes("fixedwidth.decode_s") = decodeMs / 1e3
    probes("fixedwidth.decode_mb_per_s") = rawBytes / 1e6 / (decodeMs / 1e3)
    probes("fixedwidth.records_per_s") = records / (decodeMs / 1e3)
    probes("fixedwidth.null_year_ratio") = counts.getLong(1) / records

    // the DSv2 source needs whole (record + '\n') strides per file; the
    // records of files it cannot read count as disagreeing
    val readable = rawFiles.filter(f => Files.size(f) % (Layout.recordWidth + 1L) == 0)
    val readBytes = readable.map(Files.size).sum.toDouble
    val glob = readable.map(_.getFileName.toString).mkString(s"$qcewDir/raw/qcew/*/{", ",", "}")
    def source(): DataFrame = spark.read.format("graft-fixedwidth")
      .option("layout", Layout.spec).option("recordLength", Layout.recordWidth).load(glob)
    val (srcMs, _) = timeMs(span("fwsource.read") {
      FixedWidth.cast(source()).write.format("noop").mode("overwrite").save()
    })
    val (prunedMs, _) = timeMs(span("fwsource.pruned3") {
      source().select("year", "qtr", "naics_code").write.format("noop").mode("overwrite").save()
    })
    // records field-identical on both paths: multiset intersection of
    // per-record hashes over all 121 fields
    val agree = span("fwsource.agree") {
      def hashes(df: DataFrame) =
        df.select(xxhash64(Layout.fields.map(f => col(f._1)): _*).as("h")).groupBy("h").count()
      hashes(FixedWidth.cast(source())).as("a").join(hashes(parsed).as("b"), "h")
        .agg(sum(least(col("a.count"), col("b.count")))).head().getLong(0)
    }
    probes("fwsource.decode_mb_per_s") = readBytes / 1e6 / (srcMs / 1e3)
    probes("fwsource.pruned3_s") = prunedMs / 1e3
    probes("fwsource.agree_ratio") = agree / records
  }

  private def setupStep(): Unit =
    if (registry)
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings").foreach { t =>
        spark.read.parquet(s"$tablesDir/$t.parquet").createOrReplaceTempView(t)
      }
    else {
      naicsDim.createOrReplaceTempView("naics_desc")
      invalid.createOrReplaceTempView("naics_invalid")
      wagesQ.createOrReplaceTempView("wages_q")
    }

  def execute(sessionS: Double): String = {
    val traced = tracedPasses.nonEmpty
    Files.createDirectories(Paths.get(out))
    // set-up step three times (median reported), then the warm-up passes
    val steps = (1 to 3).map(_ => timeMs(setupStep())._1 / 1e3)
    val warm = mutable.ArrayBuffer.empty[Op]
    val (warmMs, _) = timeMs(warmPasses.zipWithIndex.foreach { case (ops, p) => runPass(-1 - p, ops, warm) })
    val setupS = sessionS + steps.sorted.apply(1) + warmMs / 1e3

    // a fixed number of passes, whatever the host's speed. Untraced and
    // traced passes alternate, so the JIT's warming weighs on both
    // alike: the traced passes' excess is the overhead
    val plain, tracedOps = mutable.ArrayBuffer.empty[Op]
    val off = tracer
    lazy val on = new Tracer(spark.sparkContext, on = true, runId = s"$workload-${System.currentTimeMillis()}")
    val t0 = System.nanoTime()
    for (k <- 0 until math.max(plainPasses.size, tracedPasses.size)) {
      if (k < plainPasses.size) { tracer = off; runPass(k, plainPasses(k), plain) }
      if (k < tracedPasses.size) { tracer = on; runPass(plainPasses.size + k, tracedPasses(k), tracedOps) }
    }
    if (traced) {
      tracer = on
      if (!registry) span("probe")(decodeProbes())
      spanLog ++= tracer.finish()
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    writeAnswers()
    val layers = if (traced) layerMetrics() else Map.empty[String, Double]
    if (traced) Files.write(Paths.get(out, "spans.jsonl"), spanLog.map(Trace.toJson).asJava, UTF_8)
    Json.obj(Seq(
      "setup_s" -> Json.num(setupS), "session_s" -> Json.num(sessionS),
      "setup_steps_s" -> Json.arr(steps.map(Json.num)), "warmup_s" -> Json.num(warmMs / 1e3),
      "loop_s" -> Json.num(loopS),
      "warm_ops" -> Json.arr(warm.toSeq.map(opJson)),
      "ops" -> Json.arr(plain.toSeq.map(opJson)),
      "traced_ops" -> Json.arr(tracedOps.toSeq.map(opJson)),
      "layers" -> Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) })))
  }

  private def opJson(o: Op): String = Json.obj(Seq("pass" -> o.pass.toString,
    "key" -> Json.str(o.key), "ms" -> Json.num(o.ms), "ok" -> o.ok.toString))

  /** First answer of every distinct op: JSON rows for the QCEW checks,
    * parquet plus oracle SQL for the registry's hash rule.
    */
  private def writeAnswers(): Unit = {
    val dir = Paths.get(out, "answers")
    Files.createDirectories(dir)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val index = firstRows.toSeq.zipWithIndex.map { case ((key, (rows, df)), i) =>
      if (registry) Future {
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/r$i")
        Json.obj(Seq("key" -> Json.str(key), "dir" -> Json.str(s"r$i"),
          "oracle" -> Json.str(SparkEntry.oracleSql(key.stripPrefix("q ")))))
      } else {
        val lines = rows.map(r => Json.arr(r.toSeq.map(Json.any)))
        Files.write(dir.resolve(s"a$i.json"),
          (Json.arr(df.columns.toSeq.map(Json.str)) +: lines.toSeq).asJava, UTF_8)
        Future.successful(Json.obj(Seq("key" -> Json.str(key), "file" -> Json.str(s"a$i.json"))))
      }
    }
    Files.writeString(dir.resolve("index.json"),
      Json.arr(index.map(Await.result(_, Duration.Inf))))
  }

  // ---- per-layer metrics from the traced passes' spans -------------
  private def layerMetrics(): Map[String, Double] = {
    val spans = spanLog.toSeq
    val self = Trace.selfSeconds(spans)
    def named(p: String) = spans.filter(_.name.startsWith(p))
    def secs(p: String) = named(p).map(s => self(s.id)).sum
    def mb(x: Long) = x / 1e6
    def total(ss: Seq[Span]) = { val c = new Counters; ss.foreach(s => c += s.c); c }
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val m = mutable.LinkedHashMap.empty[String, Double]
    Seq("fixedwidth.decode_s", "fixedwidth.decode_mb_per_s", "fixedwidth.records_per_s",
      "fixedwidth.null_year_ratio", "fwsource.decode_mb_per_s", "fwsource.pruned3_s",
      "fwsource.agree_ratio").foreach(k => m(k) = probes.getOrElse(k, 0.0))

    val ing = named("ingest.ingestAll")
    val lakeFiles = if (ing.isEmpty) Seq.empty else
      Files.walk(Paths.get(lakeDir)).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
    m("ingest.write_s") = secs("ingest.ingestAll")
    m("ingest.files") = lakeFiles.size.toDouble
    m("ingest.lake_mb") = lakeFiles.map(Files.size).sum / 1e6
    m("ingest.shuffle_write_mb") = mb(total(ing).shuffleWrite)

    val agg = named("naicsagg.")
    m("naicsagg.s") = secs("naicsagg.")
    m("naicsagg.shuffle_write_mb") = mb(total(agg).shuffleWrite)
    val (rowsIn, groups, kept) = if (agg.isEmpty) (0L, 0L, 0L) else naicsCounts()
    m("naicsagg.rows_in") = rowsIn.toDouble
    m("naicsagg.groups_out") = kept.toDouble
    m("naicsagg.suppressed_ratio") = ratio(groups - kept, groups)

    val wages = named("wages.")
    m("wages.s") = secs("wages.")
    m("wages.broadcast_joins") = if (wages.isEmpty) 0.0 else broadcastJoins().toDouble
    m("wages.rows") = firstRows.collect { case (k, (rows, _))
      if k.startsWith("series") || k.startsWith("picklist") => rows.length }.sum.toDouble
    m("resample.s") = secs("resample.")
    m("series.s") = secs("series.")

    val queries = named("registry.query")
    val perQuery = queries.map { q => (q, total(q +: spans.filter(_.parent == q.id))) }
    val wallMs = queries.map(_.seconds * 1e3).sum
    val stageMs = perQuery.map { case (_, c) => Trace.unionMs(c.stageSpans.toSeq).toDouble }.sum
    // building a query may run jobs eagerly (q_session_window_stream
    // runs its whole stream): their stage-active time is not planning
    m("registry.plan_s") = named("registry.plan").map { s =>
      math.max(0.0, s.seconds - Trace.unionMs(s.c.stageSpans.toSeq) / 1e3)
    }.sum
    m("registry.jobs_per_query") = ratio(perQuery.map(_._2.jobs).sum, queries.size)
    m("registry.tasks_per_query") = ratio(perQuery.map(_._2.tasks).sum, queries.size)
    m("registry.driver_share") = ratio(math.max(0.0, wallMs - stageMs), wallMs)
    m("caching.rdds_left") = ratio(rddsLeft, queriesSeen)
    m("caching.storage_mb_peak") = storagePeak

    val all = total(spans)
    m("spark.jobs") = all.jobs.toDouble
    m("spark.stages") = all.stages.toDouble
    m("spark.tasks") = all.tasks.toDouble
    m("spark.task_run_s") = all.runMs / 1e3
    m("spark.task_cpu_s") = all.cpuNs / 1e9
    m("spark.gc_s") = all.gcMs / 1e3
    m("spark.sched_delay_s") = all.schedDelayMs / 1e3
    m("spark.shuffle_read_mb") = mb(all.shuffleRead)
    m("spark.shuffle_write_mb") = mb(all.shuffleWrite)
    m("spark.spill_mb") = mb(all.spill)
    m("spark.input_mb") = mb(all.input)
    m("spark.output_mb") = mb(all.output)

    // share of each pipeline pass covered by its layer spans
    val pipelinePasses = named("pipeline.pass")
    m("trace.coverage") = ratio(
      spans.filter(s => pipelinePasses.exists(_.id == s.parent)).map(_.seconds).sum,
      pipelinePasses.map(_.seconds).sum)
    m("jvm.peak_rss_mb") = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    m.toMap
  }

  /** Rows into the aggregate, and its groups before and after suppression. */
  private def naicsCounts(): (Long, Long, Long) = {
    val g = NaicsAgg.derive(lake).groupBy("year", "qtr", "naics4").agg(count(lit(1)).as("n"))
    val r = g.agg(sum("n"), count(lit(1)), count(when(col("n") > 4, 1))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Broadcast hash joins in the executed (adaptive) plan of the enrichment. */
  private def broadcastJoins(): Int = {
    val df = Wages.enrich(wagesQ, naicsDim, invalid)
    df.write.format("noop").mode("overwrite").save()
    AqePlan.collect(df.queryExecution.executedPlan) { case j: BroadcastHashJoinExec => j }.size
  }
}

/** Plan traversal that descends into adaptive (AQE) plans. */
object AqePlan extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Minimal JSON writer. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def any(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case other => str(other.toString)
  }
}
