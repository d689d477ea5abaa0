package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Order statistics that survive 100 TB.
  *
  * Spark's exact `percentile` aggregate is an ImperativeAggregate that
  * buffers a value→count map PER GROUP in executor memory — fine at
  * bench scale, an OOM at datalake scale. The alternative here:
  *
  *   - [[exactQuantiles]]: exact percentile_cont semantics in two
  *     scalable passes — a hash-aggregate collapses rows to
  *     (group, value, count) with map-side combine (shuffle volume =
  *     distinct values, not rows), then a cumulative-count window over
  *     the sorted distinct values locates the ranks each quantile
  *     needs. The per-group sort is Spark's external (spilling) sort
  *     over DISTINCT values only; per-row state is O(1). Interpolation
  *     reproduces Spark's `percentile` formula bit-for-bit:
  *     `(hi - pos)·v_lo + (pos - lo)·v_hi` at `pos = p·(n-1)`.
  */
object Quantiles {

  /** Rank a pre-collapsed (group, `_v`, `_c`) value-count table:
    * cumulative counts over the sorted values — the value at 0-based
    * rank r is the row with _start <= r < _end; _n is the group size.
    * Rows with equal `_v` need not be pre-merged: each gets its own
    * interval, a rank target lands in exactly one of them, and both
    * carry the same value, so every quantile below is tie-safe.
    * Exposed package-private so operators that already hold a
    * distinct-value table ([[ScaleOps.robustOutliersDisc]]'s deviation
    * pass) can rank it without a second pass over raw rows.
    */
  private[ext] def rankCounts(counts: DataFrame,
                              groupCols: Seq[String]): DataFrame = {
    val keys = groupCols.map(col)
    val wCum = Window.partitionBy(keys: _*).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keys: _*)
    counts
      .withColumn("_end", sum(col("_c")).over(wCum))
      .withColumn("_start", col("_end") - col("_c"))
      .withColumn("_n", sum(col("_c")).over(wAll))
  }

  /** Shared pass 1+2 of both exact forms: collapse rows to
    * (group, value, count) with map-side combine (shuffle volume =
    * distinct values, not rows), then [[rankCounts]].
    */
  private def rankedCounts(df: DataFrame, valueCol: String,
                           groupCols: Seq[String]): DataFrame = {
    val keys = groupCols.map(col)
    val v = col(valueCol).cast("double")
    rankCounts(
      df.filter(col(valueCol).isNotNull)
        .groupBy(keys :+ v.as("_v"): _*)
        .agg(count(lit(1)).as("_c")),
      groupCols)
  }

  /** Exact interpolated quantiles (percentile_cont / Spark
    * `percentile` semantics, nulls ignored) per group. Returns one row
    * per group with `outCols(i)` holding the `ps(i)` quantile.
    * Groups whose values are all null are omitted (the exact aggregate
    * would return null rows for them).
    */
  def exactQuantiles(df: DataFrame, valueCol: String, groupCols: Seq[String],
                     ps: Seq[Double], outCols: Seq[String]): DataFrame =
    quantilesFromRanked(rankedCounts(df, valueCol, groupCols), groupCols, ps, outCols)

  /** [[exactQuantiles]]' interpolation stage over an already-ranked
    * table from [[rankCounts]].
    */
  private[ext] def quantilesFromRanked(ranked: DataFrame, groupCols: Seq[String],
                                       ps: Seq[Double], outCols: Seq[String]): DataFrame = {
    require(ps.nonEmpty && ps.size == outCols.size, "one output column per quantile")
    require(ps.forall(p => p >= 0.0 && p <= 1.0), "quantiles must be in [0,1]")
    val keys = groupCols.map(col)

    // per-row rank targets: pos_i = p_i * (n-1), lo/hi its floor/ceil
    def pos(p: Double): Column = lit(p) * (col("_n") - 1).cast("double")
    def covers(r: Column): Column = col("_start") <= r && r < col("_end")
    val needed = ps.map(p => covers(floor(pos(p))) || covers(ceil(pos(p)))).reduce(_ || _)

    // one filter keeps only the handful of rows carrying a needed rank;
    // the final aggregate is over ≤ 2·|ps| rows per group
    val picked = ranked.filter(needed)
      .groupBy(keys: _*)
      .agg(
        max(col("_n")).as("_n"),
        ps.zipWithIndex.flatMap { case (p, i) =>
          Seq(max(when(covers(floor(pos(p))), col("_v"))).as(s"_lo_$i"),
            max(when(covers(ceil(pos(p))), col("_v"))).as(s"_hi_$i"))
        }: _*)

    // Spark `percentile` interpolation, reproduced exactly:
    // lower when pos is integral, else (hi-pos)*v_lo + (pos-lo)*v_hi
    val outs = ps.zip(outCols).zipWithIndex.map { case ((p, name), i) =>
      val position = pos(p)
      val lo = floor(position)
      val hi = ceil(position)
      when(hi === lo, col(s"_lo_$i"))
        .otherwise((hi.cast("double") - position) * col(s"_lo_$i") +
          (position - lo.cast("double")) * col(s"_hi_$i"))
        .as(name)
    }
    picked.select(keys ++ outs: _*)
  }

  /** Exact DISCRETE quantiles (percentile_disc semantics: the smallest
    * actual value whose cumulative distribution reaches p) through the
    * same scalable counts + cumulative-window machinery — no per-group
    * value map. The qualifying value's cumulative interval satisfies
    * `_start < p·n <= _end` (p = 0 degenerates to the first value);
    * exactly one interval qualifies, located by one filter over the
    * distinct values. Unit-gated bit-equal to Spark's `percentile_disc`
    * aggregate.
    */
  def exactQuantilesDisc(df: DataFrame, valueCol: String, groupCols: Seq[String],
                         ps: Seq[Double], outCols: Seq[String]): DataFrame =
    quantilesDiscFromRanked(rankedCounts(df, valueCol, groupCols), groupCols, ps, outCols)

  /** [[exactQuantilesDisc]]' rank-location stage over an already-ranked
    * table from [[rankCounts]].
    */
  private[ext] def quantilesDiscFromRanked(ranked: DataFrame, groupCols: Seq[String],
                                           ps: Seq[Double], outCols: Seq[String]): DataFrame = {
    require(ps.nonEmpty && ps.size == outCols.size, "one output column per quantile")
    require(ps.forall(p => p >= 0.0 && p <= 1.0), "quantiles must be in [0,1]")
    val keys = groupCols.map(col)
    def cond(p: Double): Column =
      if (p == 0.0) col("_start") === 0L
      else {
        val t = lit(p) * col("_n").cast("double")
        col("_start").cast("double") < t && t <= col("_end").cast("double")
      }
    val needed = ps.map(cond).reduce(_ || _)
    ranked.filter(needed)
      .groupBy(keys: _*)
      .agg(
        min(when(cond(ps.head), col("_v"))).as(outCols.head),
        ps.tail.zip(outCols.tail).map { case (p, name) =>
          min(when(cond(p), col("_v"))).as(name)
        }: _*)
  }

  /** Exact WEIGHTED discrete quantiles: the smallest value whose
    * cumulative WEIGHT reaches p · Σw — `percentile_disc` where each
    * row counts `weightCol` times instead of once (the weighted median
    * at p = 0.5). Null values/weights and non-positive weights are
    * ignored (a zero weight must not make its value eligible as a
    * quantile).
    *
    * Scale shape is [[exactQuantilesDisc]]'s unchanged: rows collapse
    * map-side to (group, distinct value, Σweight), the cumulative
    * window runs over distinct values, and one filter extracts the ≤
    * |ps| qualifying rows per group — integer weights keep every
    * cumulative bound an exact long, so the only float is the p·Σw
    * rank target itself.
    */
  def exactWeightedQuantilesDisc(df: DataFrame, valueCol: String, weightCol: String,
                                 groupCols: Seq[String], ps: Seq[Double],
                                 outCols: Seq[String]): DataFrame = {
    val keys = groupCols.map(col)
    val ranked = rankCounts(
      df.filter(col(valueCol).isNotNull && col(weightCol).isNotNull &&
          col(weightCol) > 0)
        .groupBy(keys :+ col(valueCol).cast("double").as("_v"): _*)
        .agg(sum(col(weightCol).cast("long")).as("_c")),
      groupCols)
    quantilesDiscFromRanked(ranked, groupCols, ps, outCols)
  }
}
