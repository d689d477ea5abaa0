package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each left row, the LATEST right row with
  * `rightTime <= leftTime` on the same key — the lookup every
  * time-series enrichment needs (latest rate, latest snapshot, latest
  * completed aggregate) and one Spark has no built-in operator for.
  *
  * Implementation is the union-and-carry pattern, not a join: tag both
  * inputs, union them, and per key let a `last(_, ignoreNulls)` window
  * running in (time, side) order carry the most recent right payload
  * forward into each left row. ONE shuffle (by key) + ONE sort — the
  * same cost as a sort-merge join, with no range-condition blowup; at
  * equal timestamps the right row sorts first, making the match
  * inclusive. Right rows must be unique per (key, time) — aggregate
  * first if not (otherwise "latest" is ill-defined in any engine).
  *
  * Scale: the window partitions by the join key; use high-cardinality
  * keys (user, instrument) at scale — low-cardinality keys concentrate
  * per-key sort work exactly as they would in any as-of engine.
  */
object AsofJoin {

  /** `toleranceSec`: when set, a carried match older than the bound
    * (leftTime − rightTime > tolerance) is nulled out — pandas
    * merge_asof's `tolerance`. Only the LATEST match can ever qualify
    * (any earlier right row is older still), so gating the carried row
    * is exactly tolerance semantics, not an approximation.
    *
    * `direction`: "backward" (default — latest right ≤ left) or
    * "forward" (earliest right ≥ left, pandas merge_asof
    * direction='forward'). Forward is the SAME one-shuffle carry run
    * in reverse time order (ties still match inclusively: the right
    * row sorts before the left at equal timestamps), with the
    * tolerance sign mirrored.
    */
  def asofJoinLast(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                   leftTime: String, rightTime: String,
                   payloadCols: Seq[String],
                   toleranceSec: Option[Long] = None,
                   direction: String = "backward"): DataFrame = {
    require(Set("backward", "forward").contains(direction),
      s"direction must be backward|forward, got $direction")
    val forward = direction == "forward"
    val leftCols = left.columns.toSeq
    val nonKeyLeft = leftCols.filterNot(keyCols.contains)
    // The payload travels as ONE struct, not per-column: carrying each
    // column independently with last(ignoreNulls) would skip a
    // legitimately-null value in the newest right row and stitch
    // together fields from DIFFERENT right rows. The struct itself is
    // non-null exactly on right rows, so the carry picks whole rows and
    // interior nulls survive — true ASOF semantics. The right time
    // rides along as `_rt` so the tolerance gate can compare it.
    val payloadType = org.apache.spark.sql.types.StructType(
      payloadCols.map(c => right.schema(c).copy(name = c)) :+
        right.schema(rightTime).copy(name = "_rt"))
    val lAligned = left.select(
      (keyCols ++ nonKeyLeft).map(col) :+
        lit(null).cast(payloadType).as("_payload") :+
        col(leftTime).as("_t") :+ lit(1).as("_src"): _*)
    val rAligned = right.select(
      keyCols.map(col) ++
        nonKeyLeft.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(payloadCols.map(col) :+ col(rightTime).as("_rt"): _*).as("_payload") :+
        col(rightTime).as("_t") :+ lit(0).as("_src"): _*)
    val timeOrder = if (forward) col("_t").desc else col("_t").asc
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(timeOrder, col("_src"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = lAligned.unionByName(rAligned)
      .withColumn("_payload", last(col("_payload"), ignoreNulls = true).over(w))
    val staleness =
      if (forward) col("_payload._rt").cast("double") - col("_t").cast("double")
      else col("_t").cast("double") - col("_payload._rt").cast("double")
    val gated = toleranceSec match {
      case Some(tol) => carried.withColumn("_payload",
        when(col("_payload").isNotNull && staleness <= tol, col("_payload")))
      case None => carried
    }
    gated
      .filter(col("_src") === 1)
      .select((keyCols ++ nonKeyLeft).map(col) ++
        payloadCols.map(c => col(s"_payload.$c").as(c)): _*)
  }

  /** pandas merge_asof direction='nearest': per left row the right row
    * with the smallest |leftTime − rightTime| (ties → the backward
    * match, pandas' rule). Runs the backward and forward carries over
    * the SAME union frame — one hash exchange (shared partitioning),
    * two in-partition sorts — then picks per row. `toleranceSec`
    * bounds the winning match's distance.
    */
  def asofJoinNearest(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                      leftTime: String, rightTime: String,
                      payloadCols: Seq[String],
                      toleranceSec: Option[Long] = None): DataFrame = {
    require(payloadCols.contains(rightTime),
      "payloadCols must include rightTime — nearest compares match distances")
    // left rows must be identity-unique (they are joined back on all
    // left columns); both directional carries share the key hash
    // partitioning, so the recombination join adds no extra exchange
    // of the right side
    val back = asofJoinLast(left, right, keyCols, leftTime, rightTime,
      payloadCols, toleranceSec, "backward")
    val fwd = asofJoinLast(left, right, keyCols, leftTime, rightTime,
      payloadCols, toleranceSec, "forward")
    val bSel = back.select(left.columns.map(col) ++
      payloadCols.map(c => col(c).as(s"_b_$c")): _*)
    val fSel = fwd.select(left.columns.map(col) ++
      payloadCols.map(c => col(c).as(s"_f_$c")): _*)
    val joined = bSel.join(fSel, left.columns.toSeq)
    val bTime = col(s"_b_$rightTime")
    val fTime = col(s"_f_$rightTime")
    val lTime = col(leftTime)
    val bDist = lTime.cast("double") - bTime.cast("double")
    val fDist = fTime.cast("double") - lTime.cast("double")
    val useBack = bTime.isNotNull && (fTime.isNull || bDist <= fDist)
    joined.select(left.columns.map(col) ++
      payloadCols.map(c =>
        when(useBack, col(s"_b_$c")).otherwise(col(s"_f_$c")).as(c)): _*)
  }

  /** Range (interval) join: left rows against right [start, end]
    * intervals on the same key, point-in-interval semantics. A naive
    * theta-join degenerates to per-key cross products; here both sides
    * bin their times (intervals explode across the bins they span, a
    * point lands in exactly one bin) so the planner gets an EQUI-join
    * on (key, bin) and the residual between-filter runs per bin, not
    * per key. Pick `binSeconds` ≳ typical interval length: explode
    * factor is len/bin + 1 while bigger bins widen the candidate set —
    * the usual time-binning tradeoff. No dedup is needed: a left row
    * meets each interval only in the row's own bin.
    */
  def rangeJoinBinned(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                      leftTime: String, rightStart: String, rightEnd: String,
                      binSeconds: Long): DataFrame = {
    val lb = left.withColumn("_bin",
      floor(col(leftTime).cast("double") / binSeconds))
    val rb = right.withColumn("_bin", explode(sequence(
      floor(col(rightStart).cast("double") / binSeconds),
      floor(col(rightEnd).cast("double") / binSeconds))))
    lb.join(rb, keyCols :+ "_bin", "inner")
      .filter(col(leftTime) >= col(rightStart) && col(leftTime) <= col(rightEnd))
      .drop("_bin")
  }
}
