package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

/** How long an intermediate result stays in storage: every snapshot,
  * persist and release in `ext` goes through here. Three rules:
  *
  *  1. A loop's round state is a [[snapshot]], and the loop
  *     [[release]]s each superseded round at once. A snapshot is an
  *     eager `localCheckpoint`: it materializes the round AND truncates
  *     lineage to a scan of the cached blocks. A round whose plan reads
  *     the previous round more than once would otherwise grow the
  *     LOGICAL plan geometrically — persist caches data, not the plan.
  *  2. A frame that a lazy result reads is [[persist]]ed and handed to
  *     [[releaseAfterUse]]: it is freed after that result's first run,
  *     and a later run recomputes it from its lineage. Such a frame is
  *     never a snapshot — a released checkpoint has no lineage left to
  *     recompute from.
  *  3. A returned snapshot is the caller's to [[release]].
  *
  * `spark.catalog.clearCache()` drops persisted frames but NOT
  * checkpoint blocks: those live until [[release]]d (or freed with
  * everything else by [[releaseAll]]) or until the driver
  * garbage-collects their RDD.
  *
  * Storage is MEMORY_AND_DISK_SER for snapshots and persists alike.
  * Deserialized row objects are 3-5× the serialized bytes ON HEAP: the
  * 30× scale sweep saw k-core's per-round snapshots as live objects
  * blow a 16 GiB heap where the serialized form fit, and lost-block
  * recompute is no way out for a checkpoint, whose lineage is gone.
  */
private[graft] object Materialize {

  private val level = StorageLevel.MEMORY_AND_DISK_SER

  /** Eager `localCheckpoint` of `df`. */
  def snapshot(df: DataFrame): DataFrame = df.localCheckpoint(eager = true, level)

  /** [[snapshot]] plus `metrics` over its rows, read from an
    * `Observation` filled by the snapshot's own job — a loop that tests
    * a count per round pays ONE action per round, not a snapshot and a
    * second `count()` job. The row holds the metrics in order.
    */
  def snapshot(df: DataFrame, metric: Column, more: Column*): (DataFrame, Row) =
    snapshot(df, false, metric +: more: _*)

  /** As above; `reliable` checkpoints to the SparkContext's checkpoint
    * directory instead, so the truncated lineage survives executor loss
    * (what a cluster run of a long loop wants). With no metrics the row
    * is empty.
    */
  def snapshot(df: DataFrame, reliable: Boolean, metrics: Column*): (DataFrame, Row) = {
    val snap: DataFrame => DataFrame =
      if (reliable) _.checkpoint(eager = true) else snapshot
    if (metrics.isEmpty) (snap(df), Row.empty)
    else {
      val obs = Observation()
      val named = metrics.zipWithIndex.map { case (m, i) => m.as(s"m$i") }
      val s = snap(df.observe(obs, named.head, named.tail: _*))
      val got = obs.get
      (s, Row.fromSeq(metrics.indices.map(i => got(s"m$i"))))
    }
  }

  /** Lazy persist, for a frame that its operator or loop releases. */
  def persist(df: DataFrame): DataFrame = df.persist(level)

  /** Frees each frame's storage without blocking: the blocks of a
    * [[snapshot]], the cache entry of a [[persist]]. A frame DERIVED
    * from a snapshot is left alone — its inner checkpoint scans may
    * still back other live frames — so release the snapshot handle
    * itself, not a projection of it.
    */
  def release(dfs: DataFrame*): Unit = dfs.foreach { df =>
    org.apache.spark.sql.graft.ColumnBridge.checkpointedRdd(df) match {
      case Some(rdd) => rdd.unpersist(blocking = false)
      case None => df.unpersist(blocking = false)
    }
  }

  /** Frees what finished queries left in storage: `clearCache()` drops
    * the persisted frames, and every RDD the SparkContext still holds
    * persisted — the blocks of returned snapshots among them — is
    * unpersisted. For a caller that runs query after query and keeps
    * none of their results ([[graft.Bench]], [[graft.Verify]]).
    */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** `result`, unchanged in rows and laziness, that [[release]]s
    * `frames` once its first run ends — a collect, a write, an RDD
    * action, or a failed action alike. It carries an `Observation`, and
    * Spark's session-scoped observation manager completes that
    * observation at the end of the first query that runs the result;
    * completion frees the frames. A later run of the result recomputes
    * them uncached. A result that never runs keeps its frames until
    * `spark.catalog.clearCache()`, as any persist does.
    */
  def releaseAfterUse(result: DataFrame, frames: DataFrame*): DataFrame = {
    val obs = Observation()
    obs.future.onComplete(_ => release(frames: _*))(
      scala.concurrent.ExecutionContext.parasitic)
    result.observe(obs, count(lit(1)))
  }
}
