package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization of an event log as a batch window query
  * (DuckDB-oracle-able).
  *
  * Scale design: the query shuffles once on the session KEY. The
  * per-key window sort is the unavoidable cost of gap semantics; real
  * deployments key by high-cardinality ids (user, device), so per-key
  * partitions stay small.
  *
  * ==Exact-gap boundary contract==
  * The lag+cumsum batch form here and Spark's built-in
  * `session_window` differ by one ulp of gap: a consecutive pair
  * EXACTLY `gap` apart is MERGED by this form (a new session starts
  * only when the gap is strictly `>`) but SPLIT by `session_window`
  * (a window covers `[ts, ts+gap)` — strict `<`). Callers mixing the
  * two forms over data with quantized timestamps (whole seconds,
  * sampled clocks) must pick one convention and nudge the gap by one
  * unit to match the other; at native microsecond event resolution an
  * exact-gap tie has measure ~0 and the two forms agree — which
  * ExtSpec ("built-in session_window equals the lag+cumsum batch form
  * on real data") and the `q_session_window` / `q_sessionize` oracles
  * gate on the real testdata.
  */
object Sessionize {

  /** Per-key burstiness of inter-event gaps: B = (σ−μ)/(σ+μ) over the
    * MILLISECOND gaps between consecutive events — −1 for a perfectly
    * regular stream, →1 for extreme bursts, ~0 for Poisson arrivals
    * (Goh & Barabási's signal for separating machine-regular from
    * human-bursty keys). Gaps come from one per-key lag window; μ and
    * the population σ derive from exact long power sums (n, Σg, Σg²),
    * so the only floats are the final closed forms. Keys with fewer
    * than `minGaps` gaps are dropped — B is noise below that.
    *
    * Millisecond (not µs) gaps are the overflow headroom: Σg²
    * overflows long once gaps·√n pass ~2·10⁵ seconds in µs — hour-long
    * gaps already breach it — while ms units carry day-scale gaps at
    * billions of rows. The µs→ms floor (`DIV 1000` on the exact µs
    * difference) is itself exact integer arithmetic, so cross-engine
    * determinism survives.
    *
    * Scale: one keyed sort window + one map-side-combined aggregate.
    */
  def burstiness(events: DataFrame, keyCol: String, ord: Seq[String],
                 minGaps: Long = 5): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(ord.map(col): _*)
    val gaps = events
      .withColumn("_prev", lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("_prev").isNotNull)
      .select(col(keyCol),
        ((unix_micros(col("ts")) - col("_prev")) / 1000).cast("long").as("g"))
    val sums = gaps.groupBy(keyCol)
      .agg(count(lit(1)).as("n_gaps"), sum("g").as("sg"),
        sum(col("g") * col("g")).as("sgg"))
      .filter(col("n_gaps") >= minGaps)
    val n = col("n_gaps").cast("double")
    val mu = col("sg").cast("double") / n
    val sigma = sqrt(col("sgg").cast("double") / n - mu * mu)
    sums.select(col(keyCol), col("n_gaps"),
      round(mu, 6).as("mean_gap_ms"),
      round(sigma, 6).as("sd_gap_ms"),
      round((sigma - mu) / (sigma + mu), 6).as("burstiness"))
  }

  /** Batch twin: a new session starts when the gap to the previous
    * event (same key) exceeds `gapSeconds`; `sess_id` numbers sessions
    * per key in time order. Second-fraction-exact: timestamps compare
    * as double seconds, matching DuckDB's `epoch()`.
    */
  def sessionizeBatch(events: DataFrame, gapSeconds: Int,
                      keyCol: String = "event_type"): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy("ts")
    events
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts").cast("double") - col("prev_ts").cast("double") > gapSeconds, 1)
          .otherwise(0))
      .withColumn("sess_id",
        sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("sess_id"))
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** Peak concurrency per day over session intervals — the classic
    * sweep line: +1 at each session start, −1 at each end, one ordered
    * cumulative sum, max per day. Overlap is INCLUSIVE (a session
    * ending at instant t overlaps one starting at t), encoded by the
    * tie order (t asc, +1 before −1). The per-day figure is the max
    * over boundary instants falling in the day — exact for the global
    * peak (a maximum always occurs at some start), and deterministic
    * under same-instant ties: within a tie group the running values
    * are a permutation of the same contiguous range, so the max is
    * order-invariant.
    *
    * Scale shape: the input is SESSIONS (already collapsed from events
    * — [[sessionizeBatch]]'s shuffle), so the one global ordered pass
    * runs over 2 rows per session, the [[graft.ext.Inference]]
    * grid-bounded-window contract. For series too large even so, use
    * [[peakConcurrencyChunked]] — the same sweep partitioned by coarse
    * time range with the boundary level carried forward (exactness
    * unit-gated against this form).
    */
  def peakConcurrency(sessions: DataFrame, start: String = "session_start",
                      end: String = "session_end"): DataFrame = {
    val deltas = sessions.select(col(start).as("t"), lit(1).as("d"))
      .unionAll(sessions.select(col(end).as("t"), lit(-1).as("d")))
    val w = Window.orderBy(col("t").asc, col("d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("running", sum("d").over(w))
      .groupBy(date_format(col("t"), "yyyy-MM-dd").as("day"))
      .agg(sum(when(col("d") === 1, 1L).otherwise(0L)).as("n_starts"),
        max("running").as("peak_concurrency"))
  }

  /** [[peakConcurrency]] as a TWO-LEVEL segmented scan — the form that
    * survives a boundary stream too large for one ordered pass: deltas
    * partition into fixed `chunkDays` time ranges, each chunk runs its
    * own bounded local cumulative sum, and the chunk's entry level is
    * the prefix sum of whole-chunk delta totals (a second, tiny scan
    * over the CHUNK grid, broadcast back). `running = chunk offset +
    * local running` is exactly the global cumulative sum — the same
    * decomposition as [[graft.ext.Forecast]]'s chunked folds, applied
    * to the sweep line. Tie semantics are preserved by construction:
    * same-instant boundaries land in the same chunk, so the (t asc,
    * start-before-end) order never splits across chunks. Equality with
    * the one-pass form is unit-gated on real sessionized data.
    */
  def peakConcurrencyChunked(sessions: DataFrame, start: String = "session_start",
                             end: String = "session_end",
                             chunkDays: Int = 30): DataFrame = {
    require(chunkDays >= 1, "chunkDays must be positive")
    val deltas = sessions.select(col(start).as("t"), lit(1).as("d"))
      .unionAll(sessions.select(col(end).as("t"), lit(-1).as("d")))
      .withColumn("chunk",
        floor(unix_micros(col("t")) / (chunkDays * 86400000000L)).cast("long"))
    val wLocal = Window.partitionBy("chunk").orderBy(col("t").asc, col("d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = deltas.groupBy("chunk").agg(sum("d").as("chunk_total"))
      .withColumn("offset", coalesce(
        sum("chunk_total").over(Window.orderBy("chunk")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("chunk", "offset")
    deltas
      .withColumn("local_run", sum("d").over(wLocal))
      .join(broadcast(offsets), "chunk")
      .withColumn("running", col("offset") + col("local_run"))
      .groupBy(date_format(col("t"), "yyyy-MM-dd").as("day"))
      .agg(sum(when(col("d") === 1, 1L).otherwise(0L)).as("n_starts"),
        max("running").as("peak_concurrency"))
  }

  /** Per-key count of OVERLAPPING interval pairs — the combinatorial
    * sweep that never enumerates a pair: order each key's boundary
    * events (start before end at the same instant = INCLUSIVE overlap,
    * `[s,e]` touching counts), and every start contributes the number
    * of intervals currently open before it
    * (`starts_before − ends_before`). Summing those contributions IS
    * the pair count — each overlapping pair is counted exactly once,
    * at the later start. Same-instant starts are order-invariant: a
    * tie group of k starts over n open intervals contributes
    * kn + k(k−1)/2 under any internal order.
    *
    * This is the pattern-counting twin of the enumerated interval
    * join: when the product is a STATISTIC (how many concurrent
    * shipments, not which), enumerating pairs costs Σ_key overlap²
    * while this costs one keyed window sort over 2 rows per interval —
    * the [[graft.ext.Dedup.linkagePatternHistogram]] lesson applied to
    * time. All arithmetic is exact longs; `idCol` only breaks sort
    * ties deterministically (the counts are tie-order-invariant) but
    * MUST be unique per interval row — collisions make the tie order,
    * and therefore cross-engine reproducibility of nothing here but
    * downstream per-pair consumers, ill-defined; dedupe or pack a
    * collision-free id first (see `q_interval_overlap`).
    *
    * Output: one row per key — n_intervals, n_overlap_pairs.
    */
  def overlapPairCounts(intervals: DataFrame, keyCol: String,
                        start: String, end: String, idCol: String): DataFrame = {
    val b = intervals.select(col(keyCol), col(start).as("t"),
        lit(0).as("is_end"), col(idCol).as("rid"))
      .unionAll(intervals.select(col(keyCol), col(end).as("t"),
        lit(1).as("is_end"), col(idCol).as("rid")))
    val w = Window.partitionBy(keyCol)
      .orderBy(col("t"), col("is_end"), col("rid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    b.withColumn("open_before",
        count(when(col("is_end") === 0, 1)).over(w) -
          count(when(col("is_end") === 1, 1)).over(w))
      .filter(col("is_end") === 0)
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n_intervals"),
        sum("open_before").as("n_overlap_pairs"))
  }

  /** Gaps-and-islands over integer activity slots: collapse each key's
    * distinct active slots (e.g. hour buckets) into maximal runs of
    * CONSECUTIVE slots. The classic row_number trick — `slot − rn` is
    * constant exactly within a consecutive run — turns island detection
    * into one window plus one hash aggregate, no self-join and no
    * iteration. Scale shape mirrors [[sessionizeBatch]]: the only
    * shuffle is on the key, the per-key sort is over DISTINCT slots
    * (already collapsed, so bounded by the time range, not the event
    * count), and the island aggregate is map-side combinable. All
    * arithmetic is exact longs — cross-engine drift-free.
    *
    * Output: one row per island — key, island_start / island_end slot,
    * and length in slots.
    */
  def activityIslands(df: DataFrame, keyCol: String, slot: org.apache.spark.sql.Column): DataFrame = {
    val slots = df.select(col(keyCol), slot.cast("long").as("slot")).distinct()
    val w = Window.partitionBy(keyCol).orderBy("slot")
    slots
      .withColumn("grp", col("slot") - row_number().over(w))
      .groupBy(col(keyCol), col("grp"))
      .agg(min("slot").as("island_start"), max("slot").as("island_end"),
        count(lit(1)).as("len_slots"))
      .drop("grp")
  }
}
