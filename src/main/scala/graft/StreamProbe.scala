package graft

/** Streaming-bench fairness probe: runs every streaming entry of
  * [[SparkEntry.queries]] once and splits its wall time into BATCH
  * PROCESSING (Σ micro-batch durations, from
  * [[graft.ext.EventsStream.lastRunStats]]) and HARNESS SETUP
  * (the remainder: session clone, source schema probe, state-store
  * init, query start/stop, sink read).
  *
  * Why it exists: a bounded local stream's wall time is dominated by
  * the per-query fixed cost, so in BENCH_FULL a streaming row looks
  * 3-10× slower than the equivalent batch row even when the operator
  * itself is cheap — and a noisy-host setup hiccup (state-store init
  * on a loaded VM) reads as a plan regression (the round-7
  * q_session_window_stream false alarm). This artifact
  * (STREAM_SPLIT.json) records the split so streaming rows compare
  * fairly.
  */
object StreamProbe {
  /** Queries whose body runs a Structured Streaming query to
    * completion (memory sink or foreachBatch).
    */
  val streamingQueries: Seq[String] = Seq(
    "q_events_stream", "q_stream_enrich", "q_stream_dedup",
    "q_stream_dedup_wm", "q_event_funnel_stream", "q_event_funnel_outer",
    "q_stream_upsert", "q_stream_rollup", "q_session_window_stream",
    "q_stream_stateful_totals", "q_stream_sliding", "q_stream_interval_join",
    "q_stream_hll")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM/codegen warmup

    val stats = graft.ext.EventsStream.lastRunStats
    def jstr(s: String) = "\"" + s + "\""
    val rows = streamingQueries.filter(SparkEntry.queries.contains).map { name =>
      val before = new java.util.HashMap(stats)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write
        .format("noop").mode("overwrite").save()
      val wallMs = (System.nanoTime() - t0) / 1000000L
      // a query may run several streams (upsert generations); sum the
      // runs this query added or refreshed
      var batches = 0; var batchMs = 0L
      stats.forEach { (k, v) =>
        if (v ne before.get(k)) { batches += v._1; batchMs += v._2 }
      }
      val setupMs = math.max(0L, wallMs - batchMs)
      name -> (wallMs, batches, batchMs, setupMs)
    }
    val json = rows.map { case (n, (w, nb, bm, sm)) =>
      s"${jstr(n)}:{" +
        s"\"wall_ms\":$w,\"n_batches\":$nb,\"batch_ms\":$bm," +
        s"\"setup_ms\":$sm,\"setup_share\":${
          String.format(java.util.Locale.ROOT, "%.2f",
            Double.box(if (w > 0) sm.toDouble / w else 0.0))}}"
    }.mkString("{\"metric\":\"stream_setup_split\",\"sf\":" +
      jstr(sfDir) + ",\"queries\":{", ",", "}}")
    System.err.println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("STREAM_SPLIT.json"), json + "\n")
    catch { case _: Throwable => () }
    println(json)
    spark.stop()
  }
}
