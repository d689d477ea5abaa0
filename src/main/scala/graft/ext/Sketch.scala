package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch, Spark-first: the sketch is not an opaque binary
  * blob but a TINY AGGREGATED TABLE of (row, bucket, count) — depth×width
  * rows total, regardless of input size. That representation keeps every
  * sketch property and gains the engine's machinery for free:
  *
  *  - build is one map-side-combined aggregate: shuffle volume is
  *    bounded by depth × width × tasks, never the corpus;
  *  - merge is `unionByName` + re-aggregate (counters are additive) —
  *    the mergeability that makes CMS work across partitions/days;
  *  - estimates are a broadcast join + `min` — no driver round-trip;
  *  - everything is deterministic (md5-derived bucket hashing), so a
  *    SQL oracle can reproduce the sketch bit-for-bit — unusual for a
  *    "probabilistic" structure and exactly why this hashing was chosen.
  *
  * Estimates carry the classic CMS guarantee: never an underestimate,
  * and overestimate ≤ ε·N with probability 1−δ for width ≥ e/ε,
  * depth ≥ ln(1/δ). Use for heavy-hitter counts over unbounded key
  * universes where exact per-key aggregation would blow memory.
  */
object Sketch {

  /** A built sketch: the counter table plus the (depth, width) it was
    * hashed with. Carrying the parameters in the type makes a
    * build/probe geometry mismatch — which would silently break the
    * never-underestimate guarantee (probe buckets mod a different
    * width hit wrong counters) — unrepresentable. Merge sketches of
    * EQUAL geometry by unioning tables and re-summing counters.
    */
  final case class CmsSketch(table: DataFrame, depth: Int, width: Int) {
    /** Counter-wise sum with another sketch of the same geometry. */
    def merge(other: CmsSketch): CmsSketch = {
      require(depth == other.depth && width == other.width,
        s"geometry mismatch: ${depth}x$width vs ${other.depth}x${other.width}")
      copy(table = table.unionByName(other.table)
        .groupBy("r", "bucket").agg(sum("c").as("c")))
    }
  }

  /** Row-`r` bucket for an item: the first 8 md5 hex chars of
    * `"r:item"` as an integer, mod `width`. Deterministic, uniform
    * enough, and reproducible in any engine with md5 + hex parsing.
    */
  def cmsBucket(r: Int, item: Column, width: Int): Column =
    conv(substring(md5(concat(lit(r.toString), lit(":"), item.cast("string"))), 1, 8), 16, 10)
      .cast("long") % width

  /** Build the sketch table (`r`, `bucket`, `c`) for `depth` hash rows
    * of `width` buckets each. Missing (r, bucket) combinations are
    * zero counters (the estimate join treats absence as 0).
    */
  def countMin(df: DataFrame, item: Column, depth: Int = 4, width: Int = 256): CmsSketch = {
    require(depth >= 1 && width >= 2, "need depth >= 1, width >= 2")
    CmsSketch(
      df.select(posexplode(
          array((0 until depth).map(r => cmsBucket(r, item, width)): _*))
          .as(Seq("r", "bucket")))
        .groupBy("r", "bucket")
        .agg(count(lit(1)).as("c")),
      depth, width)
  }

  /** Sliding-window distinct count, EXACT form: deduplicate to
    * (keys, day, item), explode each survivor to the `windowDays`
    * window-ends it participates in, count distinct per window. A
    * window function cannot express sliding COUNT(DISTINCT) at all —
    * this explode-to-ends rewrite is the standard exact formulation.
    *
    * Scale: shuffle = distinct (keys, day, item) triples × windowDays.
    * Exact is right while the per-day item universe is modest; when
    * items ~ corpus (distinct users at 100 TB), the same window shape
    * over mergeable daily sketches bounds the shuffle independently of
    * item count.
    */
  def slidingDistinctExact(df: DataFrame, keys: Seq[String], item: Column,
                           dateCol: Column, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    df.select(keys.map(col) :+ dateCol.as("_d") :+ item.as("_item"): _*)
      .distinct()
      .select(keys.map(col) :+ col("_item") :+
        explode(expr(s"sequence(_d, date_add(_d, ${windowDays - 1}), interval 1 day)"))
          .as("window_end"): _*)
      .groupBy(keys.map(col) :+ col("window_end"): _*)
      .agg(countDistinct(col("_item")).as("n_distinct"))
  }

  /** Point-query the sketch: for each probe row's `item`, the minimum
    * counter across the item's `depth` buckets. The sketch side is
    * depth×width rows — always broadcastable.
    */
  def cmsEstimate(cms: CmsSketch, probes: DataFrame, item: Column): DataFrame = {
    val exploded = probes.select(probes.columns.map(col) :+ posexplode(
      array((0 until cms.depth).map(r => cmsBucket(r, item, cms.width)): _*))
      .as(Seq("r", "bucket")): _*)
    exploded
      .join(broadcast(cms.table), Seq("r", "bucket"), "left")
      .groupBy(probes.columns.map(col): _*)
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }

  // --------------------------------------------------------------------
  // Deterministic (cross-engine reproducible) cardinality sketches.
  //
  // Spark's DataSketches HLL (`hll_sketch_agg`) is the right
  // production choice, but its sketch bytes are engine-private, so its
  // estimates can only be unit-gated. The two sketches below trade a
  // little constant factor for full determinism: every register /
  // minimum is derived from md5 with INTEGER-ONLY arithmetic, so an
  // external SQL engine reproduces the sketch state bit-for-bit and
  // the hash gate can carry a "probabilistic" estimator — the same
  // property [[cmsBucket]] was designed around.
  // --------------------------------------------------------------------

  /** 60-bit uniform hash of an item: the first 15 hex chars of its
    * md5, as a (non-negative) long. 15 chars — not 16 — keeps the
    * value off the sign bit so `>>`/`&` behave identically in every
    * engine, and 60 bits is plenty below the ~2^30 distinct-per-group
    * scale where 64-vs-60-bit collision odds would start to matter.
    */
  def hash60(item: Column): Column =
    conv(substring(md5(item.cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** Deterministic HLL register table per group: `keys..., bucket,
    * reg` with `bucket` the hash's top `bucketBits` bits and `reg` the
    * max over the group of (trailing zeros of the remaining bits) + 1,
    * a trailing-zero sentinel capping reg at 60−bucketBits+1. One
    * map-side-combined MAX aggregate: shuffle ≤ groups × 2^bucketBits
    * rows regardless of input size, and absent (group, bucket) rows
    * mean register 0 — [[hllDetEstimate]] reconstructs them.
    *
    * Trailing — not the textbook leading — zeros define ρ here: the
    * rank is `bit_count((w & -w) − 1) + 1`, three integer ops both
    * Spark and any SQL oracle evaluate identically, where leading
    * zeros would need a log2 (libm, last-ulp engine-dependent). The
    * estimator only needs ρ geometrically distributed, which trailing
    * zeros of a uniform hash are.
    */
  def hllDetRegisters(df: DataFrame, keys: Seq[String], item: Column,
                      bucketBits: Int = 8): DataFrame = {
    require(bucketBits >= 4 && bucketBits <= 16,
      s"bucketBits $bucketBits outside [4, 16]")
    val p = 60 - bucketBits
    val h = hash60(item)
    // payload with a sentinel bit at position p: rho <= p + 1 even for
    // an all-zero payload
    val w = h.bitwiseAND(lit((1L << p) - 1)).bitwiseOR(lit(1L << p))
    val rho = (bit_count(w.bitwiseAND(-w) - lit(1L)) + lit(1)).cast("int")
    df.groupBy(keys.map(col) :+ shiftright(h, p).as("bucket"): _*)
      .agg(max(rho).as("reg"))
  }

  /** Cardinality estimate off a [[hllDetRegisters]] table, one row per
    * group: `v_empty` (zero registers), `s_scaled` (Σ_buckets
    * 2^(maxReg − reg), the harmonic-mean denominator as an EXACT long —
    * ≤ 2^(bucketBits + 61 − bucketBits) so it never overflows), `band`
    * ('lc' when the linear-counting small-range correction applies,
    * 'raw' otherwise) and `est` (the corrected estimate, rounded 1e-4).
    *
    * Determinism contract: `v_empty`/`s_scaled`/`band` are integer
    * state — bit-identical in any engine. `est` is a handful of IEEE
    * double ops off that state; the one libm call (`ln` on the 'lc'
    * branch, at most 2^bucketBits distinct inputs) can differ in the
    * last ulp across engines, which the 1e-4 rounding absorbs — the
    * same convention the surprisal/entropy operators use.
    */
  def hllDetEstimate(regs: DataFrame, keys: Seq[String],
                     bucketBits: Int = 8): DataFrame = {
    val m = 1 << bucketBits
    val maxReg = 60 - bucketBits + 1
    val grouped = regs.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_buckets"),
        sum(expr(s"shiftleft(cast(1 as bigint), $maxReg - reg)"))
          .as("s_present"))
    // a register table built at HIGHER bucketBits than this estimate
    // assumes would silently yield negative v_empty and garbage — the
    // geometry mismatch fails loudly instead (the check rides on
    // v_empty so column pruning cannot drop it)
    val vEmpty = when(col("n_buckets") > m.toLong,
        raise_error(concat(lit(s"hllDetEstimate(bucketBits=$bucketBits, m=$m) " +
          "got a register table with more buckets than m — built with " +
          "different bucketBits: "), col("n_buckets"))).cast("long"))
      .otherwise(lit(m.toLong) - col("n_buckets"))
    val sScaled = col("s_present") + vEmpty * lit(1L << maxReg)
    // HyperLogLog alpha_m by register count (Flajolet et al.'s small-m
    // constants below 128), as literal arithmetic the oracle repeats
    val alpha = m match {
      case 16 => lit(0.673)
      case 32 => lit(0.697)
      case 64 => lit(0.709)
      case _  => lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    }
    val scale = lit(1L << maxReg).cast("double") // power of 2: exact
    val raw = alpha * lit(m.toDouble) * lit(m.toDouble) * scale /
      col("s_scaled").cast("double")
    grouped
      .withColumn("v_empty", vEmpty)
      .withColumn("s_scaled", sScaled)
      .withColumn("_raw", raw)
      .withColumn("band",
        when(col("v_empty") > 0 && col("_raw") <= lit(2.5) * lit(m.toDouble),
          lit("lc")).otherwise(lit("raw")))
      .withColumn("est", round(
        when(col("band") === "lc",
          lit(m.toDouble) * log(lit(m.toDouble) / col("v_empty").cast("double")))
          .otherwise(col("_raw")), 4))
      .select(keys.map(col) :+ col("v_empty") :+ col("s_scaled") :+
        col("band") :+ col("est"): _*)
  }

  /** Bottom-k distinct-hash (KMV) sketch per group: one row per group
    * with `ks` = the k smallest distinct [[hash60]] values, ascending.
    * Built with [[graft.functions.KmvAgg]], so dedup happens inside
    * the aggregation buffer: the shuffle carries ≤ k longs per group
    * per map partition — never the group's distinct universe (the
    * window-function bottom-k would sort audience-sized partitions).
    *
    * The sketch supports, all integer-exact: distinct-count
    * ((k−1)·2^60/h_k), and — because all groups hash items through the
    * SAME function — set union (k smallest of a merged sketch) and
    * Jaccard/intersection estimates between groups, the mergeable
    * audience-overlap machinery exact pairwise `COUNT(DISTINCT)` can't
    * provide without re-reading raw data.
    */
  def kmvSketch(df: DataFrame, key: String, item: Column,
                k: Int = 128): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(key).cast("string").as("_1"), hash60(item).as("_2"))
      .as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(new graft.functions.KmvAgg(k).toColumn.name("ks"))
      .toDF(key, "ks")
  }

  /** Pairwise overlap estimates from a [[kmvSketch]] table: for each
    * unordered group pair, the union sketch (k smallest of the merged
    * distinct hashes), `n_shared` (union-sketch members present in
    * BOTH input sketches), `ku` (union sketch size) and the KMV
    * Jaccard estimate n_shared/ku. The sketch table is groups × k
    * longs — broadcast-sized at any corpus scale — so the pair join is
    * array HOFs over tiny rows; raw data is never touched.
    */
  def kmvOverlap(sketches: DataFrame, key: String, k: Int): DataFrame = {
    val a = sketches.select(col(key).as("ga"), col("ks").as("ksa"))
    val b = sketches.select(col(key).as("gb"), col("ks").as("ksb"))
    // non-equi pair join: broadcast explicitly — the typed-agg output
    // has no size stats, and without the hint the planner could fall
    // back to CartesianProductExec (PlanAuditSpec forbids it)
    a.join(broadcast(b), col("ga") < col("gb"))
      .withColumn("ku_list",
        slice(array_sort(array_union(col("ksa"), col("ksb"))), 1, k))
      .withColumn("n_shared",
        size(array_intersect(array_intersect(col("ku_list"), col("ksa")),
          col("ksb"))).cast("long"))
      .withColumn("ku", size(col("ku_list")).cast("long"))
      .select(col("ga"), col("gb"), col("n_shared"), col("ku"),
        round(col("n_shared").cast("double") / col("ku").cast("double"), 4)
          .as("jaccard_kmv"))
  }
}
