package graft.ext

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig, ValueState}

/** Streaming arbitrary state via the `transformWithState` API (the
  * Spark 4 successor to `mapGroupsWithState`): a per-key running-totals
  * processor — the "customer lifetime spend" readout maintained
  * incrementally as purchases stream in.
  *
  * Why this API and not a windowed agg: the state here is a PER-KEY
  * RUNNING REDUCTION over the whole stream (no window, no retraction),
  * which the declarative operators cannot express without emitting
  * every prefix. `transformWithState` gives typed per-key state cells
  * (value/list/map), optional TTL, and timers; this processor uses the
  * smallest surface — one `ValueState[(count, cents)]` — so the state
  * store holds exactly two longs per customer.
  *
  * Scale: state is keyed by user — it shuffles once to the state-store
  * partitioning and stays there; per-batch cost is the batch's keys,
  * not the key universe. The API REQUIRES the RocksDB state-store
  * provider (set on the session clone by [[runningTotalsStream]]),
  * which is also the right provider at scale: state spills to local
  * disk + changelog, so executors hold working set, not the full map.
  * For an unbounded key universe, pass a real `TTLConfig` (e.g. evict
  * customers idle for 90 days) — the eviction then happens inside the
  * store, not in user code.
  *
  * Determinism contract for the oracle: totals are monotone in event
  * count, so whatever the micro-batch split, the row with the maximum
  * count per key IS the final state and equals the batch groupBy —
  * [[runRunningTotalsOnce]] reduces the update stream exactly that way.
  */
object StatefulOps {

  /** (count, cents) running totals per key; emits the updated totals
    * for each key touched by the micro-batch.
    */
  private[ext] class RunningTotalsProcessor
      extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
    @transient private var totals: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Long)](
        "totals", Encoders.product[(Long, Long)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      var (n, cents) = if (totals.exists()) totals.get() else (0L, 0L)
      rows.foreach { case (_, c) => n += 1; cents += c }
      totals.update((n, cents))
      Iterator.single((key, n, cents))
    }
  }

  /** Update-mode stream of per-user purchase totals over the events
    * file: filter → cent-quantize → keyed transformWithState. Runs on
    * the conf-isolated clone [[EventsStream.readEventsStream]] builds;
    * the RocksDB provider conf is added there too (scoped to the
    * clone — the API rejects the default HDFS-backed provider).
    */
  def runningTotalsStream(spark: SparkSession, path: String): DataFrame = {
    val ev = EventsStream.readEventsStream(spark, path)
    val s = ev.sparkSession
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id").cast("long").as("user_id"),
        floor(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n_purchases", "cents")
  }

  /** Drain the bounded stream and reduce the update rows to the final
    * state per user (argmax count — totals are monotone, so this is
    * micro-batch-split invariant), which must equal the batch groupBy.
    */
  def runRunningTotalsOnce(spark: SparkSession, path: String,
      queryName: String = "events_running_totals"): DataFrame =
    EventsStream.runToMemory(runningTotalsStream(spark, path),
        queryName, OutputMode.Update())
      .groupBy("user_id")
      .agg(max(struct(col("n_purchases"), col("cents"))).as("m"))
      .select(col("user_id"), col("m.n_purchases").as("n_purchases"),
        col("m.cents").as("cents"))
}
