package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale techniques as first-class operators: salted joins for skewed
  * keys and bucketed (co-located) table joins. These change the
  * PHYSICAL plan only — outputs are identical to the naive forms, which
  * is what makes them oracle-able.
  */
object ScaleOps {

  /** Equi-join where the fact side's key distribution is skewed (few
    * hot keys would otherwise funnel into few reducers). The fact side
    * gets a deterministic salt from its physical partition id — cheap,
    * no row hashing, stable under retries — and the (small relative to
    * fact) dim side is replicated across all `salts` values, so each
    * hot key spreads over up to `salts` reducers. Output equals the
    * plain join; only the shuffle layout changes. The dim side is
    * shuffle-hash-hinted because a broadcast would bypass the shuffle
    * this operator exists to spread — drop the hint if the dim can
    * broadcast (then you don't need salting at all).
    *
    * This complements AQE's skew-join (which splits oversized
    * partitions after the fact): salting prevents the skew from
    * materializing, and works for the aggregate-after-join pattern AQE
    * can't always rescue.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salts: Int,
                 joinType: String = "inner"): DataFrame = {
    require(salts > 0, "salts must be positive")
    // right/full joins would emit one null-fact row PER UNMATCHED DIM
    // REPLICA (up to `salts` spurious rows per dim key) — only
    // fact-preserving join types are sound under dim replication
    val normalized = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti").contains(normalized),
      s"saltedJoin supports fact-preserving join types only (inner/left/left_semi/left_anti), got $joinType")
    val saltedFact = fact.withColumn("_salt", pmod(spark_partition_id(), lit(salts)))
    val saltedDim = dim.withColumn("_salt",
      explode(array((0 until salts).map(lit): _*)))
    saltedFact
      .join(saltedDim.hint("shuffle_hash"), Seq(key, "_salt"), joinType)
      .drop("_salt")
  }

  /** Write a table bucketed (and sorted) on the join key: repeated
    * joins on that key then shuffle NOTHING — both sides are already
    * hash-partitioned on disk. This is the persisted form of
    * co-location; worth it whenever a big table is joined on the same
    * key many times (fact-to-fact joins, incremental pipelines).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
                    path: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
    // an explicit path makes the table EXTERNAL — bucketing metadata
    // still lives in the catalog, but the files land where the caller
    // says instead of the session's warehouse directory (bench/verify
    // runs must not write into the working directory)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Z-order (Morton) clustering key: interleaves the low `bits` bits
    * of two dimensions so that sorting by the key co-locates rows that
    * are close in BOTH dimensions. Sorting a table by this key before
    * writing gives multi-dimensional file skipping from plain parquet
    * min/max statistics — the poor-engine's Delta OPTIMIZE ZORDER:
    * every written file covers a small rectangle of (x, y) space, so a
    * predicate on EITHER dimension prunes most files, where a sort on
    * x alone leaves y scattered full-range through every file
    * (property-tested in ScaleSpec). Pure integer bit arithmetic —
    * deterministic on any engine, expressible in plain SQL for the
    * oracle. Callers map raw values into [0, 2^bits) first (modulo,
    * bucketed rank, or unit scaling — rank preserves locality best for
    * skewed data).
    */
  def zorderKey(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    val xs = x.cast("bigint")
    val ys = y.cast("bigint")
    // disjoint bit positions: addition == bitwise OR, and Catalyst
    // folds the whole chain into one codegen'd arithmetic expression
    (0 until bits).map { i =>
      shiftleft(shiftright(xs, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(ys, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** Table diff between two snapshots of the same keyed entity: each
    * key is classified `added` (only in `b`), `removed` (only in `a`),
    * `changed` (payload differs) or `unchanged`. ONE full-outer
    * shuffle join on the keys — the audit primitive behind incremental
    * publication ("what did this run change?") and reconciliation.
    * Compose with [[latestByKey]] to diff changelog-derived snapshots
    * without materializing either. Presence is tracked with explicit
    * marker columns (not payload nullness), so a legitimately-null
    * payload still classifies correctly; payloads compare null-safe
    * (`<=>`), so null==null is `unchanged`.
    */
  def snapshotDiff(a: DataFrame, b: DataFrame, keys: Seq[String],
                   payload: String): DataFrame = {
    val aa = a.select(keys.map(col) ++ Seq(col(payload).as("_a"), lit(true).as("_in_a")): _*)
    val bb = b.select(keys.map(col) ++ Seq(col(payload).as("_b"), lit(true).as("_in_b")): _*)
    aa.join(bb, keys, "full_outer")
      .withColumn("status",
        when(col("_in_a").isNull, "added")
          .when(col("_in_b").isNull, "removed")
          .when(col("_a") <=> col("_b"), "unchanged")
          .otherwise("changed"))
      .drop("_in_a", "_in_b")
      .withColumnRenamed("_a", s"${payload}_before")
      .withColumnRenamed("_b", s"${payload}_after")
  }

  /** Inverse of [[zorderKey]]: recover one dimension from the Morton
    * key (`dim` 0 = x/even bits, 1 = y/odd bits). Mostly a debugging /
    * testing aid — the roundtrip property (ScaleSpec) is what proves
    * the interleave correct.
    */
  def zorderDim(z: Column, dim: Int, bits: Int = 16): Column = {
    require(dim == 0 || dim == 1, "dim must be 0 (x) or 1 (y)")
    (0 until bits).map { i =>
      shiftleft(shiftright(z.cast("bigint"), 2 * i + dim).bitwiseAND(lit(1L)), i)
    }.reduce(_ + _)
  }

  /** Exact-size stratified sampling with proportional allocation —
    * the training-mix primitive: "give me exactly k docs, strata
    * weighted by W". Quotas are apportioned by the largest-remainder
    * (Hamilton) method in pure INTEGER arithmetic: base quota
    * `⌊k·w_h / Σw⌋` per stratum, then the leftover `k − Σ⌊·⌋` seats go
    * one each to the strata with the largest remainders
    * (`(k·w_h) mod Σw`, ties broken by stratum key) — so quotas sum to
    * EXACTLY k whenever the population has ≥ k rows, with no float
    * rates and no engine drift. Strata may receive quota 0 when
    * k < number of strata. Each quota is filled by the first rows in
    * `tieBreak` order; a hash-of-id tieBreak makes the draw
    * deterministic and uniform — the same rows are selected on any
    * cluster, any partitioning, any engine. Complements
    * Bernoulli-style `hash_sample` (rate-based, size varies).
    *
    * Scale: the quota table is tiny (one row per stratum; the
    * remainder ranking is a window over that tiny frame, broadcast
    * after). The only heavy operation is the per-stratum top-quota,
    * one window shuffle. For k ≪ stratum size swap the full sort for a
    * per-partition pre-prune (each task keeps its local top-quota
    * before the shuffle) — the two-phase top-k pattern used in
    * `Similarity.bruteForceTopK`. Weights must be positive.
    */
  def quotaSample(df: DataFrame, strata: Seq[String], weight: Column,
                  tieBreak: Column, k: Long): DataFrame = {
    require(k > 0, "quota sample size must be positive")
    val w = df.groupBy(strata.map(col): _*).agg(sum(weight).cast("long").as("_w"))
    val tot = w.agg(sum(col("_w")).cast("long").as("_tot"))
    val everything = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val remRank = Window.orderBy(col("_rem").desc +: strata.map(col): _*)
    val quotas = w.crossJoin(broadcast(tot))
      .withColumn("_base", expr(s"(${k}L * _w) div _tot"))
      .withColumn("_rem", expr(s"(${k}L * _w) % _tot"))
      .withColumn("_deficit", lit(k) - sum("_base").over(everything))
      .withColumn("_rank", row_number().over(remRank))
      .select(strata.map(col) :+
        (col("_base") + when(col("_rank") <= col("_deficit"), 1L).otherwise(0L))
          .as("_quota"): _*)
    val win = Window.partitionBy(strata.map(col): _*).orderBy(tieBreak)
    df.withColumn("_rn", row_number().over(win))
      .join(broadcast(quotas), strata)
      .filter(col("_rn") <= col("_quota"))
      .drop("_quota")
      .withColumnRenamed("_rn", "sample_rank")
  }

  /** Deterministic weighted sampling WITHOUT replacement (sequential
    * Poisson / priority sampling, Ohlsson 1998; Duffield et al. 2007):
    * each row draws a uniform u from the first 13 hex chars of
    * md5(key) — 52 bits, so the integer is exactly representable as a
    * double — and competes with priority u / weight; the k smallest
    * priorities win, giving inclusion probability approximately
    * proportional to weight. Hash-derived randomness (not `rand()`)
    * makes the sample reproducible across reruns, engines, and
    * partitionings — how production corpus subsets stay auditable.
    *
    * Scale: the rank filter plans as ONE TakeOrderedAndProject — every
    * input partition keeps its local k smallest, the driver merges
    * k-sized lists; nothing shuffles, the corpus never sorts. (A
    * hand-rolled two-phase window adds an exchange over what the
    * optimizer already does here — plan-asserted in `PlanSpec`.) The
    * priority is ONE IEEE division of two exact values (52-bit int,
    * integer weight): bit-stable cross-engine. Weights must be
    * positive.
    */
  def weightedSample(df: DataFrame, k: Int, keyCol: String, weight: Column,
                     strata: Seq[String] = Nil): DataFrame = {
    require(k > 0, "sample size must be positive")
    val u = conv(substring(md5(col(keyCol).cast("string")), 1, 13), 16, 10)
      .cast("long").cast("double")
    val pri = u / weight.cast("double")
    // global (no strata): plans as TakeOrderedAndProject; per-stratum:
    // WindowGroupLimit still prunes each task to k before the shuffle
    val w = Window.partitionBy(strata.map(col): _*).orderBy(asc("_pri"), asc(keyCol))
    df.withColumn("_pri", pri)
      .withColumn("_rank", row_number().over(w))
      .filter(col("_rank") <= k)
      .drop("_pri", "_rank")
  }

  /** Purged expanding-window time-series cross-validation folds
    * (sklearn TimeSeriesSplit + the embargo of López de Prado's purged
    * CV): the distinct-day grid splits into `nFolds + 1` equal slices;
    * fold k tests on slice k+1 (the last fold absorbs the remainder)
    * and trains on everything ending `embargoDays` BEFORE the test
    * window — the gap that keeps label lookahead and serial
    * correlation from leaking across the boundary. Returns the fold
    * summary (train/test row counts + boundary dates), the audit
    * artifact a training pipeline pins before a backtest.
    *
    * Scale: the only window runs on the CALENDAR-bounded day grid
    * ([[graft.ext.Inference]] grid contract); fold boundaries derive
    * from one count and broadcast as `nFolds` rows, so the data-sized
    * cost is a single narrow pass labeling rows against K broadcast
    * ranges — no data-sized shuffle at all, and every boundary is
    * exact integer index arithmetic (engine-reproducible).
    */
  def tsCvFolds(df: DataFrame, timeCol: Column, nFolds: Int = 5,
                embargoDays: Int = 0): DataFrame = {
    require(nFolds >= 2, "need at least 2 folds")
    require(embargoDays >= 0, "embargoDays must be nonnegative")
    val days = df.select(timeCol.cast("date").as("d")).distinct()
    val idx = days.withColumn("i",
      row_number().over(Window.orderBy("d")).cast("long") - 1)
    val folds = idx.agg(count(lit(1)).as("n_days"))
      .select(explode(sequence(lit(1L), lit(nFolds.toLong))).as("fold"),
        // a grid shorter than nFolds+1 days makes every early fold
        // empty and the last fold test-everything/train-nothing — a
        // backtest pinning that audit artifact would train on nothing
        // silently; fail loudly instead (the check rides on tsz so
        // pruning cannot drop it)
        when(expr(s"n_days div ${nFolds + 1}") === 0L,
          raise_error(concat(lit(s"tsCvFolds needs at least ${nFolds + 1} " +
            "distinct days, got "), col("n_days"))).cast("long"))
          .otherwise(expr(s"n_days div ${nFolds + 1}")).as("tsz"),
        col("n_days"))
      .select(col("fold"),
        (col("fold") * col("tsz")).as("test_lo"),
        when(col("fold") === nFolds, col("n_days") - 1)
          .otherwise((col("fold") + 1) * col("tsz") - 1).as("test_hi"),
        (col("fold") * col("tsz") - embargoDays - 1).as("train_hi"))
    df.select(timeCol.cast("date").as("d"))
      .join(broadcast(idx), "d")
      .crossJoin(broadcast(folds))
      .select(col("fold"), col("d"),
        when(col("i") <= col("train_hi"), "train")
          .when(col("i").between(col("test_lo"), col("test_hi")), "test")
          .as("part"))
      .groupBy("fold")
      .agg(count(when(col("part") === "train", 1)).as("n_train_rows"),
        count(when(col("part") === "test", 1)).as("n_test_rows"),
        max(when(col("part") === "train", col("d"))).as("train_end"),
        min(when(col("part") === "test", col("d"))).as("test_start"),
        max(when(col("part") === "test", col("d"))).as("test_end"))
  }

  /** Leakage-safe train/val/test assignment: the split is a pure
    * function of the ENTITY key (an md5 nibble bucket), so every row
    * of an entity lands in the same split — the grouping that keeps a
    * user's events out of both train and test at once, the standard
    * contamination guard for interaction data. Fractions are sixteenths:
    * buckets [0, trainSixteenths) → train, the next valSixteenths →
    * val, the rest → test. Narrow (no shuffle, no state); deterministic
    * across engines, reruns, and cluster layouts.
    */
  def splitByKey(key: Column, trainSixteenths: Int = 13,
                 valSixteenths: Int = 2): Column = {
    require(trainSixteenths >= 1 && valSixteenths >= 1
      && trainSixteenths + valSixteenths <= 15, "need room for all three splits")
    val bucket = instr(lit("0123456789abcdef"),
      substring(md5(key.cast("string")), 1, 1)) - 1
    when(bucket < trainSixteenths, "train")
      .when(bucket < trainSixteenths + valSixteenths, "val")
      .otherwise("test")
  }

  /** Deterministic shard assignment for training-data export: shard =
    * the HIGH bits of a Knuth multiplicative hash of the integer key
    * (`⌊(k·2654435761 mod 2³²)·shards / 2³²⌋` — high bits, because the
    * low bits of a multiplicative hash are the weakly-mixed ones).
    * A pure function of the key: identical under retries, speculative
    * execution, engine, and cluster layout — so a re-export writes
    * byte-identical shards, and any consumer can recompute a row's
    * shard without a lookup table. Contrast `repartition(n)`:
    * hash-partitioning balances too, but the assignment is an engine
    * implementation detail no reader can reproduce.
    *
    * Scale: narrow (three integer ops per row, codegen'd, no shuffle —
    * the shard column is what you hand to `partitionBy` at write
    * time). Safe to k·2654435761 < 2⁶³, i.e. keys to ~3.4e9.
    */
  def shardOf(key: Column, shards: Int): Column = {
    require(shards >= 2 && shards <= 65536, "shards must be in [2, 65536]")
    // ·shards then >>32 ≡ ÷2³² exactly (power-of-two divisor) — stays
    // in integer ops end to end, no float division to round
    shiftright((key.cast("long") * lit(2654435761L) % lit(4294967296L)) *
      lit(shards.toLong), 32)
  }

  /** Type-2 slowly-changing-dimension history build: collapse a
    * changelog into per-key validity intervals of `attr`. Consecutive
    * rows (in `ord` order) with the same attribute value merge into one
    * interval; each interval carries `valid_from` (first `ord` of the
    * run), `valid_to` (start of the NEXT run, null while current) and
    * `version` (1-based per key). The classic warehouse history table,
    * built with change-point detection instead of a self-join:
    * `lag` marks rows where the attribute differs from its predecessor
    * (null-safe, so null→null is NOT a change), a running sum of those
    * marks numbers the runs, and `lead` over the collapsed runs closes
    * each interval.
    *
    * Scale: ONE shuffle. The change-point and closing windows both
    * partition by `key`, and the run-collapsing aggregate groups by
    * (key, version) — hash-partitioning on `key` already clusters
    * (key, version), so EnsureRequirements inserts no second exchange.
    * State per key is bounded by its version count, never the raw
    * changelog. `ord` must be unique per key for a deterministic
    * history (append a unique id as a tiebreaker otherwise).
    */
  def scd2(df: DataFrame, key: String, ord: String, attr: String): DataFrame = {
    val byOrd = Window.partitionBy(key).orderBy(ord)
    val runs = df
      .withColumn("_chg",
        when(col(attr) <=> lag(col(attr), 1).over(byOrd), 0).otherwise(1))
      .withColumn("version", sum("_chg").over(byOrd).cast("int"))
      .groupBy(col(key), col("version"))
      .agg(min(col(attr)).as(attr), // constant within a run
        min(col(ord)).as("valid_from"),
        count(lit(1)).as("n_rows"))
    val byVersion = Window.partitionBy(key).orderBy("version")
    runs.withColumn("valid_to", lead(col("valid_from"), 1).over(byVersion))
      .select(col(key), col("version"), col(attr),
        col("valid_from"), col("valid_to"), col("n_rows"))
  }

  /** MERGE-style upsert without a table format: apply a batch of
    * `updates` to `target` by key — matched keys take the update's
    * payload, unmatched updates insert, untouched target rows carry
    * over — and tag each output row with the action taken
    * (`inserted` / `updated` / `kept`). ONE full-outer shuffle join on
    * the keys; presence markers (not payload nullness) drive the
    * classification so legitimately-null payloads upsert correctly.
    * `updates` must be unique per key (pre-compact a changelog with
    * [[latestByKey]]). This is the batch-job form of what Delta/Iceberg
    * MERGE INTO does inside a commit protocol; pair it with an
    * idempotent partition-overwrite sink for exactly-once republication.
    */
  def mergeUpsert(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val payload = target.columns.filterNot(keys.contains).toSeq
    require(payload.forall(updates.columns.contains),
      "updates must carry every target payload column")
    val tt = target.select(keys.map(col) ++
      payload.map(c => col(c).as(s"_t_$c")) :+ lit(true).as("_in_t"): _*)
    val uu = updates.select(keys.map(col) ++
      payload.map(c => col(c).as(s"_u_$c")) :+ lit(true).as("_in_u"): _*)
    tt.join(uu, keys, "full_outer")
      .withColumn("action",
        when(col("_in_t").isNull, "inserted")
          .when(col("_in_u").isNull, "kept")
          .otherwise("updated"))
      .select(keys.map(col) ++ payload.map(c =>
        when(col("_in_u").isNotNull, col(s"_u_$c")).otherwise(col(s"_t_$c")).as(c)) :+
        col("action"): _*)
  }

  /** Latest-record-per-key snapshot compaction — the CDC/changelog
    * "dedupe to latest" every lakehouse pipeline runs. Implemented as
    * ONE hash aggregate: `max_by(struct(payload), struct(orderCols))`
    * keeps, per key, the whole row with the lexicographically-largest
    * ordering tuple. This beats the classic
    * `row_number() OVER (PARTITION BY key ORDER BY ord DESC) = 1`
    * window at scale because the aggregate combines map-side: the
    * shuffle carries at most ONE candidate row per (task, key) —
    * shuffle volume is keys, not versions — while the window form
    * shuffles EVERY version of every row. Plan honesty: the struct
    * buffer is not HashAggregate-mutable, so Spark plans this as
    * SortAggregate (each side sorts by the GROUP key locally; plan-
    * asserted in PlanSpec with `partial_max_by` before the exchange).
    * That local sort is linear-memory and spillable; the shuffle-
    * volume reduction is what survives 100 TB.
    * Ordering ties keep one arbitrary winner — pass a
    * tiebreaker column (e.g. a unique id) as the last orderCol to make
    * the winner deterministic.
    */
  def latestByKey(df: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "latestByKey needs at least one ordering column")
    val payload = df.columns.filterNot(keys.contains).toSeq
    df.groupBy(keys.map(col): _*)
      .agg(max_by(
        struct(payload.map(col): _*),
        struct(orderCols.map(col): _*)).as("_latest"))
      .select(keys.map(col) ++ payload.map(c => col(s"_latest.$c").as(c)): _*)
  }

  /** Robust outlier summary per group: median / MAD (scaled by the
    * normal-consistency constant 1.4826) and the count of |z| > `zCut`
    * points. Median-based, so a few extreme values cannot mask
    * themselves the way they inflate a stddev — the standard
    * data-quality screen before training on numeric features.
    *
    * Medians are DISCRETE (percentile_disc semantics): median and MAD
    * are ACTUAL data values located by pure integer rank comparisons,
    * never interpolated — so the summary is drift-free across engines
    * and engine VERSIONS (interpolated quantiles differ in last-ulp
    * formula order between engines; a rounded report can flip on that).
    *
    * Plan: ONE pass over the raw rows collapses to a per-group
    * distinct-value count table (map-side combine; shuffle volume =
    * distinct values, not rows); median, the |v−med| deviation table,
    * MAD, and the weighted outlier count all derive from that table
    * via [[Quantiles.rankCounts]]' cumulative-rank logic, with O(1)
    * per-row state (no per-group value map, the OOM at datalake scale)
    * and no second scan of the raw data for the MAD. Every comparison
    * is on unrounded doubles; only the REPORTED med/mad round.
    */
  def robustOutliersDisc(df: DataFrame, keys: Seq[String], valueCol: String,
                         zCut: Double = 3.0): DataFrame = {
    val keyCols = keys.map(col)
    val wAll = Window.partitionBy(keyCols: _*)
    // The median is attached to the ranked table as a WINDOW AGGREGATE
    // over the same keys partition — not computed into a one-row-per-
    // group frame and joined back. The join form re-executed the whole
    // scan+collapse subtree once per consumer (4 file scans, 9 shuffles
    // measured; runtime exchange reuse did not fire across the window),
    // while the window form makes the entire operator ONE LINEAR CHAIN:
    // raw scan → (keys, value) collapse shuffle → keys shuffle → rank
    // window + median window → deviation projection → rank window +
    // median window (no exchange: partitioning unchanged) → final
    // aggregate (no exchange). Two shuffles total, one scan, no joins —
    // plan-asserted in PlanSpec. The selection expressions mirror
    // Quantiles.quantiles(Disc)FromRanked exactly, so the located
    // values are identical.
    def withMedian(ranked: DataFrame, out: String): DataFrame = {
      // percentile_disc: smallest value whose interval covers 0.5·n
      val t = lit(0.5) * col("_n").cast("double")
      val qualifies =
        col("_start").cast("double") < t && t <= col("_end").cast("double")
      ranked.withColumn(out, min(when(qualifies, col("_v"))).over(wAll))
    }
    // ONE pass over the raw rows: collapse to (group, value, count)
    // with map-side combine (null measures dropped up front — `n`
    // counts the group's non-null measure rows; a null is neither an
    // outlier nor an inlier).
    val ranked = Quantiles.rankCounts(
      df.filter(col(valueCol).isNotNull)
        .groupBy(keyCols :+ col(valueCol).cast("double").as("_v"): _*)
        .agg(count(lit(1)).as("_c")),
      keys)
    // deviation table at distinct-value granularity: |v − med| carries
    // the SAME counts. v = m−d and v = m+d collapse to two rows with
    // equal `_v`, which rankCounts' interval logic handles without a
    // re-merge; `_med` rides along as a per-row constant.
    val dev = withMedian(ranked, "_med")
      .select(keyCols ++ Seq(abs(col("_v") - col("_med")).as("_v"),
        col("_c"), col("_med")): _*)
    withMedian(Quantiles.rankCounts(dev, keys), "_mad")
      .groupBy(keyCols: _*)
      .agg(sum(col("_c")).as("n"),
        sum(when(col("_v") > lit(zCut) * lit(1.4826) * col("_mad"), col("_c"))
          .otherwise(0L)).as("n_outliers"),
        round(min("_med"), 4).as("median"),
        round(min("_mad"), 4).as("mad"))
  }

  /** Key-distribution profiler — the pre-join diagnostic that decides
    * between a plain shuffle join, [[saltedJoin]], and AQE skew
    * handling. One map-side-combined count per key, then summary
    * statistics over the (small: one row per key) group-size table:
    * key count, row count, max/mean group size, exact p50/p99 of group
    * sizes, and the share of all rows held by the hottest key.
    *
    * Scale note: the first aggregate is the only pass over the data;
    * the percentiles run on the per-key SIZES (cardinality = keys, not
    * rows), which is where Spark's exact aggregate is fine. p50/p99
    * are DISCRETE (percentile_disc): group sizes are integers, so the
    * quantiles are exact longs with no interpolation — drift-free
    * across engines and engine versions. Mean and share are single
    * IEEE divisions over exact integers — rounded at 1e-4.
    */
  def keyDistribution(df: DataFrame, keys: Seq[String]): DataFrame = {
    val sizes = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))
    sizes.agg(
      count(lit(1)).as("n_keys"),
      sum("_n").as("n_rows"),
      max("_n").as("max_key_rows"),
      round(sum("_n").cast("double") / count(lit(1)), 4).as("mean_key_rows"),
      round(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY _n)").cast("double"), 4)
        .as("p50_key_rows"),
      round(expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY _n)").cast("double"), 4)
        .as("p99_key_rows"),
      round(max(col("_n")) * lit(1.0) / sum(col("_n")), 4).as("top_key_share"))
  }

  /** Order-independent table checksum — the replica-reconciliation
    * primitive: two copies of a table match iff their checksums match,
    * with no sort, no join, and one scan each side. Each row hashes to
    * a 60-bit integer (md5 of the '|'-joined column renderings, first
    * 15 hex digits) and the table digest is the XOR of row hashes plus
    * the row count — XOR is commutative/associative, so the digest is
    * identical under any partitioning, ordering, or engine. min/max
    * row hashes narrow a mismatch's location cheaply.
    *
    * Each column renders as `<decimal length>:<string value>` (NULL →
    * the bare sentinel `N`, which no length-prefixed render can equal)
    * joined with `|` — the length prefix makes every render
    * self-delimiting, so `('a|b', NULL)` and `('a', 'b')` hash
    * differently (a plain concat_ws would both skip the NULL and let
    * an embedded `|` masquerade as a separator).
    *
    * Caveats by design: columns must render identically across engines
    * (integers, strings, formatted dates — not raw floats), and XOR
    * cannot see a row appearing an EVEN number of times on one side —
    * the row count catches the common off-by-N case; callers needing
    * multiset strength add a second independent hash slice.
    */
  def tableChecksum(df: DataFrame, cols: Seq[Column]): DataFrame = {
    val rendered = cols.map { c =>
      val s = c.cast("string")
      coalesce(concat(length(s).cast("string"), lit(":"), s), lit("N"))
    }
    df.select(conv(substring(md5(concat_ws("|", rendered: _*)), 1, 15), 16, 10)
        .cast("long").as("_h"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(_h)").as("xor_checksum"),
        min("_h").as("min_hash"),
        max("_h").as("max_hash"))
  }

  /** Partition count for an iterated small-graph stage (connected
    * components, PageRank), derived from the MEASURED edge count
    * rather than a literal: ~[[rowsPerPartition]] edges per task,
    * clamped to [minParts, maxParts]. A literal `coalesce(4)` is right
    * for LSH-survivor graphs (thousands of edges) and wrong for a
    * 100 TB pair graph that isn't tiny — per-round task counts must
    * grow with the graph while tiny graphs keep O(1) tasks so driver
    * scheduling latency doesn't dominate the rounds. Callers pay one
    * cheap `count()` on the (already-persisted) pair frame, work the
    * first iteration would have materialized anyway.
    */
  def graphPartitions(edgeCount: Long, rowsPerPartition: Long = 1000000L,
                      minParts: Int = 4, maxParts: Int = 4096): Int = {
    require(edgeCount >= 0, s"edgeCount must be non-negative, got $edgeCount")
    require(rowsPerPartition > 0 && minParts > 0 && maxParts >= minParts,
      "graphPartitions bounds must be positive with maxParts >= minParts")
    // overflow-free ceiling division (edgeCount near Long.MaxValue)
    val want = edgeCount / rowsPerPartition +
      (if (edgeCount % rowsPerPartition == 0) 0 else 1)
    math.min(maxParts.toLong, math.max(minParts.toLong, want)).toInt
  }

  /** Persist an iterated edge frame at a MEASURED partition count —
    * the call-site form of the sizing [[Dedup.connectedComponents]]
    * does inline, so no literal partition count survives anywhere a
    * graph loop reads its edges. persist → count → [[graphPartitions]]
    * → coalesce (narrow, when shrinking) or repartition on `keyCol`
    * (when the graph is big enough to need more tasks) → persist the
    * sized frame, materialize it from the cached snapshot, and RELEASE
    * the snapshot so exactly one copy of the edges stays cached.
    *
    * LSH-survivor graphs (thousands of edges) iterate on O(1) tasks so
    * driver scheduling latency doesn't dominate the rounds; a pair
    * graph that grows with the data gets tasks proportional to its
    * edges. Cost: one count on the snapshot (work the first iteration
    * would materialize anyway) + one cached-read pass to fill the
    * sized frame. The caller owns the returned persisted frame and
    * should [[Materialize.release]] it after the iteration's final action.
    */
  def sizedEdges(edges: DataFrame, keyCol: String = "src"): DataFrame = {
    val p = Materialize.persist(edges)
    val parts = graphPartitions(p.count())
    val have = p.rdd.getNumPartitions
    if (have == parts) p // already right-sized; keep the one cached copy
    else {
      val sized = Materialize.persist(
        if (have > parts) p.coalesce(parts) else p.repartition(parts, col(keyCol)))
      sized.count() // fill from the cached snapshot before releasing it
      Materialize.release(p)
      sized
    }
  }

  /** Exponentially time-decayed counts per key — the recency-weighted
    * popularity score a sampling pipeline uses to favor fresh sources
    * without discarding history: score = Σ_days n_day · 2^(−⌊age/half⌋).
    * STEP decay (integer halving exponent) on purpose: 1/2^k is a
    * power of two, exact in IEEE — so no `pow`/`exp` libm call exists
    * anywhere and the score is bit-identical cross-engine, unlike a
    * continuous 2^(−age/h) whose last ulp is at the mercy of each
    * engine's libm. Terms are floor-quantized to nano-units (exact:
    * n·1e9 is an exact double below 2⁵³, i.e. n < 9e6 per (key, day) —
    * coarsen the grid past that) and summed as longs, so accumulation
    * order cannot drift.
    *
    * Scale shape: one map-side-combined (key, day) count collapses the
    * fact table to the grid; the max-day scalar broadcasts back; the
    * final per-key sum shuffles grid cells, not rows. Rolling the
    * score forward a day is a multiply-by-½ on k-boundary days plus
    * the new day's count — no history re-scan (the [[graft.ext.Sketch]]
    * merge discipline).
    */
  def decayedCounts(df: DataFrame, keys: Seq[String], ts: Column,
                    halfLifeDays: Int): DataFrame = {
    require(halfLifeDays >= 1, "halfLifeDays must be positive")
    val gcols = keys.map(col)
    val daily = df.select(gcols :+ ts.cast("date").as("day"): _*)
      .groupBy(gcols :+ col("day"): _*).agg(count(lit(1)).as("n"))
    val maxDay = daily.agg(max("day").as("max_day"))
    daily.crossJoin(broadcast(maxDay))
      .withColumn("steps", least(
        floor(datediff(col("max_day"), col("day")).cast("double") / halfLifeDays),
        lit(62.0)).cast("int"))
      .withColumn("w_nano",
        floor(col("n").cast("double") * lit(1e9) /
          expr("shiftleft(CAST(1 AS BIGINT), steps)").cast("double")).cast("long"))
      .groupBy(gcols: _*)
      .agg(sum("n").as("n_total"), sum("w_nano").as("s_nano"))
      .select(gcols :+ col("n_total") :+
        round(col("s_nano").cast("double") / lit(1e9), 6).as("decayed_count"): _*)
  }

  /** 2-D Pareto frontier (skyline): entities not dominated on the
    * maximize-both (`x`, `y`) plane — a point is OFF the frontier iff
    * some other point is ≥ on both axes and > on at least one. The
    * "best suppliers by revenue AND breadth" / "best configs by
    * quality AND throughput" query.
    *
    * Algorithm: collapse to one row per distinct `x` keeping the max
    * `y` (same-x domination falls out here), then one ordered pass
    * over the distinct-x grid — a row survives iff its y exceeds the
    * running max over all STRICTLY greater x (a rows-frame works
    * because x is distinct after the collapse). A deterministic
    * representative (`min` id among the arg-max entities) rides along
    * via one co-grouped join-back.
    *
    * Scale contract (grid-first, as [[keyDistribution]]): callers
    * aggregate the fact table to one row per entity FIRST, so the
    * single-partition window runs over |distinct x| grid cells, not
    * rows. For a frontier over raw 10⁹-point clouds, pre-prune with
    * per-partition LOCAL frontiers (each partition's skyline is a
    * superset filter of the global one) and run this on the
    * survivors.
    */
  def paretoFrontier(entities: DataFrame, id: String, x: String, y: String): DataFrame = {
    val perX = entities.groupBy(col(x)).agg(max(col(y)).as("best_y"))
    val reps = entities.as("e")
      .join(perX.as("p"),
        col(s"e.$x") === col(s"p.$x") && col(s"e.$y") === col("p.best_y"))
      .select(col(s"p.$x").as(x), col("p.best_y").as("best_y"), col(s"e.$id").as(id))
      .groupBy(x, "best_y").agg(min(col(id)).as("rep_id"))
    val strictlyHigherX = Window.orderBy(col(x).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    reps
      .withColumn("prev_best", max("best_y").over(strictlyHigherX))
      .filter(col("prev_best").isNull || col("best_y") > col("prev_best"))
      .select(col("rep_id"), col(x), col("best_y").as(y))
  }

  /** Functional-dependency audit: does `lhs → rhs` hold? One row per
    * candidate FD: determinant-group count, groups violating (more
    * than one distinct rhs), the worst group's distinct-rhs count, and
    * the violation rate in integer basis points. The schema-inference
    * probe you run before declaring a column a key, a dimension
    * functionally derived, or a join safe to denormalize.
    *
    * Scale: one two-phase distinct aggregate keyed by the determinant
    * (shuffle = lhs × distinct rhs per group, never rows), then a
    * scalar rollup. Null determinants are excluded — SQL keys don't
    * compare null=null; null rhs counts as a value (a group with one
    * real value and null is two-valued, i.e. violating).
    */
  def fdViolations(df: DataFrame, lhs: String, rhs: String): DataFrame = {
    val groups = df.filter(col(lhs).isNotNull)
      .groupBy(col(lhs))
      .agg(countDistinct(col(rhs)).as("n_rhs_nn"),
        max(when(col(rhs).isNull, 1).otherwise(0)).as("has_null"))
      .select(col(lhs), (col("n_rhs_nn") + col("has_null")).as("n_rhs"))
    groups.agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("n_rhs") > 1, 1L).otherwise(0L)).as("n_violating"),
        max(col("n_rhs")).as("max_distinct_rhs"))
      .select(lit(s"$lhs->$rhs").as("fd"), col("n_groups"), col("n_violating"),
        col("max_distinct_rhs"),
        expr("(n_violating * 10000) DIV n_groups").as("violation_bp"))
  }

  /** Zone-map pruning audit — the lakehouse planner question "how many
    * files would these predicates skip?" answered from metadata alone.
    * Stage 1 builds the zone maps: per file, (min, max, rows) of the
    * filter column — the statistics every parquet footer / Delta or
    * Iceberg manifest already carries; ONE map-side-combined aggregate,
    * shuffle = files, never rows. Stage 2 evaluates each closed-
    * interval predicate [lo, hi] against the file-count-sized zone-map
    * table (a file is skippable iff max < lo or min > hi — the
    * sound-for-pruning test, file-level false positives impossible)
    * with the predicate list broadcast, and rolls up to one row per
    * predicate. Nothing downstream of stage 1 touches data rows, which
    * is the point: at 100 TB this audit costs one metadata-sized
    * aggregate, and in production it reads the manifest directly and
    * costs no scan at all.
    *
    * The verdict quantifies layout quality: a clustering key that
    * correlates with the filter column (ingest time, z-order) makes
    * rows_skipped ≈ out-of-range rows; a random layout makes every
    * file straddle every range and n_skipped collapses to 0 — the
    * measurable difference between q_zorder's layouts.
    *
    * Returns one row per predicate: (pred, lo, hi, n_files, n_skipped,
    * rows_skipped, rows_scanned) — exact longs.
    */
  def zoneMapPruning(df: DataFrame, fileCol: Column, valueCol: Column,
                     preds: Seq[(String, Long, Long)]): DataFrame = {
    require(preds.nonEmpty, "predicate list must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    val zm = df.groupBy(fileCol.as("file_id"))
      .agg(min(valueCol).as("mn"), max(valueCol).as("mx"),
        count(lit(1)).as("nrows"))
    val p = preds.toDF("pred", "lo", "hi")
    zm.join(broadcast(p))
      .withColumn("skipped", col("mx") < col("lo") || col("mn") > col("hi"))
      .groupBy("pred", "lo", "hi")
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("skipped"), 1L).otherwise(0L)).as("n_skipped"),
        sum(when(col("skipped"), col("nrows")).otherwise(0L)).as("rows_skipped"),
        sum(when(!col("skipped"), col("nrows")).otherwise(0L)).as("rows_scanned"))
  }

  /** Deterministic fixed-size-per-stratum sample: exactly min(k, |g|)
    * rows per group, chosen by md5 of the unique `key` — the
    * reproducible replacement for reservoir sampling (same rows on
    * every engine, every run, any partitioning) used for eval-set
    * carving, per-class training caps, and debugging slices. Because
    * md5 is uniform on the key, the selection is an unbiased uniform
    * k-without-replacement per stratum, yet fully order-free: no RNG
    * state, no seed plumbing.
    *
    * Scale: ONE ranked window per group — the sort spreads across
    * reducers by the group key and spills; no per-group collect, no
    * global sort, no two-pass threshold estimation. For mega-strata
    * where even the per-group sort bites, pre-filter with a hash-range
    * predicate (md5 < ~(k/|g|-quantile)) to thin before ranking — the
    * same trick [[splitByKey]] uses; documented, not built, since
    * strata at the k ≪ |g| scale prune to k quickly anyway.
    *
    * `key` must be unique per row (it is the tie-break as well as the
    * hash input, making the rank total). Returns the group columns +
    * (key as `sample_key`, `rn` in 1..k).
    */
  def stratifiedK(df: DataFrame, group: Seq[String], key: Column,
      k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val ranked = df
      .select(group.map(col) :+ key.as("sample_key")
        :+ md5(key.cast("string")).as("hk"): _*)
      .withColumn("rn", row_number().over(
        Window.partitionBy(group.map(col): _*)
          .orderBy(col("hk"), col("sample_key"))))
    ranked.filter(col("rn") <= k)
      .select(group.map(col) :+ col("sample_key") :+ col("rn"): _*)
  }
}
