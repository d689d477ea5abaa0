package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.util.concurrent.atomic.AtomicInteger

/** Bench's per-query measurement and its two outputs, at sf0.001 with
  * two warm runs: each query function is called once per run, the
  * observed row count is the query's `count()`, failures and empty
  * answers are reported, and the stdout line parses and fits its budget.
  */
class BenchSpec extends SparkSpec {
  private val runs = 2
  private val meta = Seq("sf" -> "\"sf0.001\"", "cpus" -> "4")
  private def measure(name: String, fn: Bench.Query) =
    Bench.measure(spark, SparkSpec.sf0001, name, fn, runs)

  test("a query function is called once for the cold run and once per warm run") {
    val calls = new AtomicInteger
    val r = measure("stub", (s, _) => { calls.incrementAndGet(); s.range(7).toDF() })
    assert(calls.get == 1 + runs)
    val row = r.toOption.get
    assert(row.rows == 7 && row.warm.size == runs && row.best <= row.median)
  }

  Seq("q_flagship_agg", "q_session_window_stream", "q_top_ngrams").foreach { name =>
    test(s"$name: rows observed on the cold run equal count()") {
      val fn = SparkEntry.queries(name)
      val row = measure(name, fn).fold(e => fail(e), identity)
      try assert(row.rows == fn(spark, SparkSpec.sf0001).count())
      finally spark.catalog.clearCache()
    }
  }

  test("a query that returns a snapshot leaves no persisted RDD behind") {
    // clearCache() alone frees persisted frames, not checkpoint blocks:
    // every run's returned snapshot would stay until driver GC
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val row = measure("q_snapshot", (s, _) => ext.Materialize.snapshot(s.range(5).toDF()))
      .fold(e => fail(e), identity)
    assert(row.rows == 5)
    val left = sc.getPersistentRDDs.keySet.toSet -- before
    assert(left.isEmpty, s"${left.size} persisted RDDs left after measuring")
  }

  test("a failing query lands in errors, an empty one in vacuous") {
    val res = Seq(
      "q_throws" -> measure("q_throws", (_, _) => sys.error("boom")),
      "q_fails_in_spark" ->
        measure("q_fails_in_spark", (s, _) => s.range(1).selectExpr("raise_error('bad')")),
      "q_empty" -> measure("q_empty", (s, _) => s.range(0).toDF()),
      "q_fine" -> measure("q_fine", (s, _) => s.range(3).toDF()))
    val doc = new ObjectMapper().readTree(Bench.detail(res.toMap, runs, meta))
    assert(doc.get("n_errors").asInt == 2)
    assert(doc.get("errors").get("q_throws").asText.contains("boom"))
    assert(doc.get("errors").has("q_fails_in_spark"))
    assert(Bench.vacuous(res.toMap) == Seq("q_empty"))
    assert(doc.get("vacuous").get(0).asText == "q_empty")
    assert(doc.get("rows").get("q_fine").asLong == 3)
    assert(doc.get("n_queries").asInt == 2)
  }

  test("the stdout line parses, fits its budget and reports omitted queries") {
    val rows = (1 to 400).map { i =>
      f"q_synthetic_$i%03d" -> Right(Bench.Row(1.0, Seq(i / 10.0, i / 5.0), i.toLong))
    }
    val res = (rows :+ ("q_bad" -> Left("x" * 500))).toMap
    val line = Bench.line(res, runs, meta)
    assert(line.length <= Bench.LineBudget)
    val doc = new ObjectMapper().readTree(line)
    val kept = doc.get("queries")
    assert(kept.size > 0 && doc.get("queries_omitted").asInt == 400 - kept.size)
    assert(kept.has("q_synthetic_400")) // the slowest are the ones kept
    assert(doc.get("n_errors").asInt == 1 && doc.get("errors").has("q_bad"))
    assert(math.abs(doc.get("value").asDouble - (1 to 400).map(_ / 10.0).sum) < 1e-6)
    // a small run keeps every query and reports nothing omitted
    val small = new ObjectMapper().readTree(Bench.line(rows.take(3).toMap, runs, meta))
    assert(small.get("queries").size == 3 && !small.has("queries_omitted"))
  }
}
