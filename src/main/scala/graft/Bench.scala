package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import java.util.concurrent.{Executors, TimeUnit}
import scala.concurrent.Await
import scala.concurrent.duration._

/** Benchmark main: times every [[SparkEntry.queries]] entry and prints
  * one JSON line, the last line of the run's output.
  *
  * Queries run in sorted name order. Each gets one untimed cold run
  * (codegen, JIT, parquet footer cache) and `SPARK_GRAFT_BENCH_RUNS`
  * (default 3) timed warm runs, each after [[ext.Materialize.releaseAll]],
  * so a query that persists intermediates or returns a snapshot neither
  * leaks memory nor pre-warms a later one. A row reports the minimum
  * and the median of its warm runs; "value" is the sum of the minima.
  * Every run writes to the `noop` sink: `count()` would let Catalyst
  * prune the computed columns, so the expressions being timed would
  * never run.
  *
  * The cold run counts its own output through `observe`, so the "rows"
  * map costs no extra execution. A query with 0 rows at the bench scale
  * is listed under "vacuous": an empty answer computed at full cost is a
  * defect the sf0.01 oracle cannot see. Any failure, including a run the
  * watchdog cancels after [[QueryCapSec]], lands in "errors".
  *
  * Environment: SPARK_GRAFT_SF_DIR (input tables), SPARK_GRAFT_CPUS
  * (read by [[LocalSession]]), SPARK_GRAFT_BENCH_RUNS, and
  * SPARK_GRAFT_BENCH_ONLY, a comma-separated subset whose detail goes to
  * BENCH_SUBSET.json instead of BENCH_FULL.json.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** Seconds one run may take before the watchdog cancels its job group. */
  val QueryCapSec = 150L

  /** Longest stdout line: it must survive a 2000-char tail capture. */
  val LineBudget = 1500

  /** Error entries the stdout line carries; the file carries all of them. */
  private val LineErrors = 5

  /** One query's measurement; `rows` is the cold run's observed output. */
  final case class Row(cold: Double, warm: Seq[Double], rows: Long) {
    def best: Double = warm.min
    def median: Double = warm.sorted.apply(warm.size / 2)
  }

  /** Per query, in run order: its measurement, or why it failed. */
  type Results = collection.Map[String, Either[String, Row]]

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    require(runs >= 1, "SPARK_GRAFT_BENCH_RUNS must be at least 1")
    // optional comma-separated filter for local iteration; the driver
    // leaves it unset so the archived bench always covers every query
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val spark = LocalSession()
    val res = scala.collection.mutable.LinkedHashMap.empty[String, Either[String, Row]]
    // the JSON line is emitted even if the loop itself dies: anything
    // that escapes a query lands under "__fatal__"
    try {
      spark.range(1000000).selectExpr("sum(id)").collect() // JVM/codegen warmup
      names.foreach { n =>
        res(n) = measure(spark, sfDir, n, SparkEntry.queries(n), runs)
        res(n).left.foreach(e => System.err.println(s"[bench] $n failed: $e"))
      }
    } catch { case e: Throwable => res("__fatal__") = Left(message(e)) }
    if (vacuous(res).nonEmpty)
      System.err.println(s"[bench] VACUITY GATE FAILED: 0 rows at $sfDir: " +
        vacuous(res).mkString(", "))
    val path = if (only.isEmpty) "BENCH_FULL.json" else "BENCH_SUBSET.json"
    val meta = Seq(
      "wall_elapsed_sec" -> fmt((System.nanoTime() - t0) / 1e9),
      "loadavg_start" -> fmt(loadStart), "loadavg_end" -> fmt(os.getSystemLoadAverage),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "cpus" -> LocalSession.cpus.toString, "sf" -> jstr(sfDir), "full" -> jstr(path))
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(path), detail(res, runs, meta) + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] cannot write $path: ${message(e)}") }
    System.err.println(s"[bench] full detail -> $path")
    val out = line(res, runs, meta)
    // stop Spark BEFORE printing: whatever the shutdown path writes must
    // land ahead of the JSON line, so that line is the last of the run
    spark.stop()
    println(out)
    System.out.flush()
  }

  private val watchdog = Executors.newSingleThreadScheduledExecutor { (r: Runnable) =>
    val t = new Thread(r, "bench-watchdog"); t.setDaemon(true); t
  }

  /** Wall seconds to build `df` and write it to the `noop` sink. The
    * build is timed too: a streaming query runs its stream while it is
    * built.
    */
  private def timed(spark: SparkSession, group: String)(df: => DataFrame): Double = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = true)
    val cancel = watchdog.schedule(new Runnable {
      def run(): Unit = {
        System.err.println(s"[bench] watchdog: cancelling $group after $QueryCapSec s")
        sc.cancelJobGroup(group)
      }
    }, QueryCapSec, TimeUnit.SECONDS)
    try {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } finally { cancel.cancel(false); sc.clearJobGroup() }
  }

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(200)

  /** Measures one query with one cold and `runs` warm runs, so `fn` is
    * called `1 + runs` times. A failure in any run is a Left.
    */
  def measure(spark: SparkSession, sfDir: String, name: String, fn: Query,
      runs: Int): Either[String, Row] =
    try {
      val group = s"bench-$name"
      val obs = Observation("bench_rows")
      val cold = timed(spark, group)(fn(spark, sfDir).observe(obs, count(lit(1))))
      val rows = Await.result(obs.future, 1.minute).getLong(0)
      val warm = Seq.fill(runs) {
        ext.Materialize.releaseAll(spark)
        timed(spark, group)(fn(spark, sfDir))
      }
      Right(Row(cold, warm, rows))
    } catch { case e: Throwable => Left(message(e)) }
    finally ext.Materialize.releaseAll(spark)

  /** Queries whose cold run observed 0 rows, sorted. */
  def vacuous(res: Results): Seq[String] =
    res.collect { case (n, Right(r)) if r.rows == 0 => n }.toSeq.sorted

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  // Locale.ROOT: a comma-decimal default locale would corrupt the JSON
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")

  private def ok(res: Results): Seq[(String, Row)] =
    res.toSeq.collect { case (n, Right(r)) => n -> r }
  private def errors(res: Results): Seq[(String, String)] =
    res.toSeq.collect { case (n, Left(e)) => n -> e }

  /** The fields both outputs open with. */
  private def head(res: Results, runs: Int): Seq[(String, String)] = Seq(
    "metric" -> jstr("total"), "value" -> fmt(ok(res).map(_._2.best).sum),
    "unit" -> jstr("sec"), "n_queries" -> ok(res).size.toString,
    "n_errors" -> errors(res).size.toString, "runs_per_query" -> runs.toString)

  /** The full-detail document: every row, its rows count and every error.
    * `meta` holds run-level fields (sf, cpus, wall time, load averages).
    */
  def detail(res: Results, runs: Int, meta: Seq[(String, String)]): String = {
    def per(f: Row => String) = obj(ok(res).map { case (n, r) => n -> f(r) })
    obj(head(res, runs) ++ Seq(
      "queries" -> per(r => fmt(r.best)), "warm_median" -> per(r => fmt(r.median)),
      "cold" -> per(r => fmt(r.cold)), "rows" -> per(_.rows.toString),
      "vacuous" -> vacuous(res).map(jstr).mkString("[", ",", "]"),
      "errors" -> obj(errors(res).map { case (n, e) => n -> jstr(e) })) ++ meta)
  }

  /** The stdout line, at most [[LineBudget]] chars: every query if it
    * fits, else the slowest ones, with the rest counted in
    * "queries_omitted". It carries the first [[LineErrors]] errors,
    * shortened; the detail file has them all.
    */
  def line(res: Results, runs: Int, meta: Seq[(String, String)]): String = {
    val bySlow = ok(res).map { case (n, r) => n -> r.best }.sortBy(-_._2)
    val errs = errors(res).take(LineErrors).map { case (n, e) => n -> jstr(e.take(80)) }
    def render(keep: Int): String = {
      val (kept, dropped) = bySlow.splitAt(keep)
      val omitted =
        if (dropped.isEmpty) Nil
        else Seq("queries_omitted" -> dropped.size.toString,
          "omitted_total_sec" -> fmt(dropped.map(_._2).sum))
      obj(head(res, runs) ++ Seq(
        "queries" -> obj(kept.sortBy(_._1).map { case (n, t) => n -> fmt(t) }),
        "errors" -> obj(errs)) ++ meta ++ omitted)
    }
    (bySlow.size to 0 by -1).iterator.map(render)
      .find(_.length <= LineBudget).getOrElse(render(0))
  }
}
