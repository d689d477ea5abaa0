package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Grid-blocked spatial operators: proximity self-joins over 2-D
  * integer coordinates without a distance index. The device is the
  * standard spatial-blocking trick — quantize points to grid cells of
  * side `cellSize`, replicate only the PROBE side to its 3×3 cell
  * neighborhood, and equi-join on the cell key — so the all-pairs
  * distance test never materializes: candidate pairs are bounded by
  * per-cell density, and the join is an ordinary hash join Spark can
  * partition both sides of.
  */
object Spatial {

  /** All unordered point pairs within Chebyshev distance `radius`,
    * via 3×3 grid-cell blocking. Requires `radius <= cellSize` — that
    * is what makes the 3×3 neighborhood COMPLETE (a point's match at
    * distance ≤ cellSize lies in an adjacent cell by construction),
    * so the result is exact, not approximate. Each qualifying pair is
    * emitted exactly once (`id_a < id_b`; the probe's 9 neighbor cells
    * are distinct, and the build point lives in exactly one of them).
    *
    * Scale shape: the probe side explodes ×9 (narrow, pre-shuffle);
    * the join is an equi-join on the (cx, cy) cell key — shuffle is
    * 10× points, never points². Pair work is Σ_cell density² — the
    * cell size is the knob: pick it ≈ radius (smallest complete
    * neighborhood) so dense data costs what its true pair count
    * costs, not more. Coordinates are caller-quantized integers (the
    * [[graft.ext.Inference]] exactness contract): every distance is
    * exact integer arithmetic, so the radius cut is engine-exact.
    */
  def gridNeighborPairs(points: DataFrame, id: String, x: Column, y: Column,
                        cellSize: Int, radius: Int): DataFrame = {
    require(cellSize >= 1, "cellSize must be positive")
    require(radius >= 0 && radius <= cellSize,
      "radius must be in [0, cellSize] for the 3x3 neighborhood to be complete")
    val pts = points
      .select(col(id).as("pid"), x.cast("long").as("px"), y.cast("long").as("py"))
      // floor(x / cell) in double is exact while |x| < 2^53 / cell —
      // far past any quantized coordinate grid
      .withColumn("cx", floor(col("px").cast("double") / cellSize).cast("long"))
      .withColumn("cy", floor(col("py").cast("double") / cellSize).cast("long"))
    val build = pts.select(col("pid").as("id_b"), col("px").as("bx"),
      col("py").as("by"), col("cx"), col("cy"))
    val offsets = typedLit(for { dx <- -1 to 1; dy <- -1 to 1 } yield (dx, dy))
    val probe = pts
      .select(col("pid").as("id_a"), col("px").as("ax"), col("py").as("ay"),
        col("cx").as("acx"), col("cy").as("acy"))
      .withColumn("o", explode(offsets))
      .select(col("id_a"), col("ax"), col("ay"),
        (col("acx") + col("o._1")).as("ncx"), (col("acy") + col("o._2")).as("ncy"))
    probe.join(build,
        col("ncx") === col("cx") && col("ncy") === col("cy") &&
          col("id_a") < col("id_b") &&
          greatest(abs(col("ax") - col("bx")), abs(col("ay") - col("by"))) <= radius)
      .select(col("id_a"), col("id_b"),
        greatest(abs(col("ax") - col("bx")), abs(col("ay") - col("by"))).as("dist"))
  }

  /** Grid-density clustering (cell-level DBSCAN): quantize points to
    * grid cells of side `cellSize`, call a cell CORE when it holds at
    * least `minPts` points, connect core cells that are 8-neighbors,
    * and label each connected component with its minimum packed cell
    * key. Points in core cells are core points of their cell's
    * cluster; points in non-core cells adjacent (3×3) to a core cell
    * join the minimum-labeled neighboring cluster as border points;
    * everything else is noise (`cluster_id = -1`).
    *
    * ==Contract==
    * This is the CELL-level variant of DBSCAN (the grid-partitioned
    * family of Gunawan 2013 / GriDBSCAN): density is tested per cell,
    * not per point ε-ball, so results depend on the grid phase. The
    * trade is determinism and scale: every decision is exact integer
    * arithmetic on cell counts, so the output is engine-reproducible —
    * no ε-ball floating-point boundary, no seed. Cell keys pack as
    * `cx * packBase + cy`; the caller must pick `packBase` larger than
    * the cell-coordinate span so packing is collision-free.
    *
    * Scale shape: points reduce to CELLS in one map-side-combined
    * aggregate before anything quadratic can happen — the component
    * search runs on the cell graph (bounded by grid area, not data
    * volume), via [[graft.ext.Dedup.connectedComponentsStar]]'s
    * alternating star loop. The ×9 neighbor probe
    * explodes only cells, and every join back to points is an
    * equi-join on the cell key. At 100 TB the per-point cost is two
    * scans and two cell-keyed hash joins.
    *
    * Output: one row per cluster plus one `cluster_id = -1` noise row —
    * `(cluster_id, n_points, n_core_points, n_cells)` with `n_cells`
    * the distinct cells holding the row's points. The output is an
    * eager snapshot, so the cell cache and the component labels are
    * released before returning; it is the caller's to
    * [[Materialize.release]].
    */
  def gridDensityClusters(points: DataFrame, id: String, x: Column, y: Column,
                          cellSize: Int, minPts: Long,
                          packBase: Long = 1000000L): DataFrame = {
    require(cellSize >= 1, "cellSize must be positive")
    require(minPts >= 1, "minPts must be positive")
    val pts = points.select(col(id).as("pid"),
        floor(x.cast("double") / cellSize).cast("long").as("cx"),
        floor(y.cast("double") / cellSize).cast("long").as("cy"))
    // the cell histogram is bounded by GRID AREA, not data volume —
    // persist it so the component loop, the border join, and the final
    // point join all read the same cached cells instead of
    // re-aggregating points; total point-scan cost of the operator is
    // exactly two passes (this aggregate + the final cluster-assignment
    // join)
    val cells = Materialize.persist(pts.groupBy("cx", "cy").agg(count(lit(1)).as("n"))
      .withColumn("k", col("cx") * packBase + col("cy")))
    // packing is collision-free only for cell coords in [0, packBase);
    // a negative or overly wide span would SILENTLY merge distinct
    // cells — fail loudly instead (one scalar action, bounded by grid
    // area, that also fills the cell cache)
    val ext = cells.agg(min("cx"), max("cx"), min("cy"), max("cy")).head()
    if (!ext.isNullAt(0)) {
      val ok = ext.getLong(2) >= 0 && ext.getLong(3) < packBase &&
        ext.getLong(0) >= 0 && ext.getLong(1) < Long.MaxValue / packBase
      if (!ok) Materialize.release(cells)
      require(ok, s"cell coordinates (cx in [${ext.getLong(0)}, ${ext.getLong(1)}], " +
        s"cy in [${ext.getLong(2)}, ${ext.getLong(3)}]) do not fit the " +
        s"packBase=$packBase collision-free packing — shift coordinates " +
        "to be nonnegative or raise packBase")
    }
    val core = cells.filter(col("n") >= minPts).select("k", "cx", "cy")
    val offsets = typedLit(for { dx <- -1 to 1; dy <- -1 to 1 } yield (dx, dy))
    // ×9 probe over CORE CELLS only; the (0,0) offset self-pair keeps
    // isolated core cells in the node set as singleton clusters
    def probed(src: DataFrame): DataFrame = src
      .withColumn("o", explode(offsets))
      .select(col(src.columns.head), (col("cx") + col("o._1")).as("ncx"),
        (col("cy") + col("o._2")).as("ncy"))
    val edges = probed(core.select(col("k").as("src"), col("cx"), col("cy")))
      .join(core, col("ncx") === col("cx") && col("ncy") === col("cy"))
      .select(col("src").as("id1"), col("k").as("id2"))
    // the cell graph is the HIGH-DIAMETER case (a fully-core W×H grid
    // has diameter ~max(W,H), so min-label CC would pay that many
    // driver rounds); the alternating star algorithm converges in
    // O(log²) rounds instead — measured 6.8 s → 5.7 s on the sf0.1
    // all-core grid, where the residual is the two point scans, and
    // the round count (not per-round work) is what survives a wider
    // grid (ScaleSpec gates equality of the two algorithms)
    val cc = Dedup.connectedComponentsStar(edges)
    val lab = cc.select(col("id").as("k"), col("label").as("cluster_id"))
    // border resolution at CELL level: a non-core cell takes the min
    // label among its 3×3 core neighbors (deterministic tie rule)
    val borderLab = probed(cells.filter(col("n") < minPts)
        .select(col("k").as("nk"), col("cx"), col("cy")))
      .join(core.select(col("k"), col("cx"), col("cy")),
        col("ncx") === col("cx") && col("ncy") === col("cy"))
      .join(lab, "k")
      .groupBy("nk").agg(min("cluster_id").as("cluster_id"))
    val assigned = pts
      .withColumn("k", col("cx") * packBase + col("cy"))
      .join(lab.select(col("k"), col("cluster_id").as("core_cl")), Seq("k"), "left")
      .join(borderLab.select(col("nk").as("k"), col("cluster_id").as("bord_cl")),
        Seq("k"), "left")
      .select(col("k"),
        coalesce(col("core_cl"), col("bord_cl"), lit(-1L)).as("cluster_id"),
        col("core_cl").isNotNull.cast("long").as("is_core"))
    val out = Materialize.snapshot(assigned.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_points"), sum("is_core").as("n_core_points"),
        countDistinct("k").as("n_cells")))
    Materialize.release(cells, cc)
    out
  }

  /** Each point's nearest neighbor within Chebyshev `radius` (points
    * with no neighbor in range emit nothing — the caller decides what
    * isolation means). Built on [[gridNeighborPairs]]: symmetrize the
    * unordered pairs (cheap: pair count ≪ point count after the radius
    * cut), then one per-point argmin by the total order (dist, id) —
    * deterministic under ties.
    *
    * Scale: the argmin window partitions on the point id — maximal
    * key cardinality, so the sort spreads across all reducers and
    * each group is the handful of in-radius candidates. This is the
    * geometric twin of the ANN top-k in [[graft.ext.Similarity]]:
    * blocking by cell instead of by hash bucket.
    */
  def nearestNeighbors(points: DataFrame, id: String, x: Column, y: Column,
                       cellSize: Int, radius: Int): DataFrame = {
    val pairs = gridNeighborPairs(points, id, x, y, cellSize, radius)
    val sym = pairs.unionAll(pairs.select(col("id_b").as("id_a"),
      col("id_a").as("id_b"), col("dist")))
    sym
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("id_a").orderBy(col("dist"), col("id_b"))))
      .filter(col("rn") === 1)
      .select(col("id_a").as("id"), col("id_b").as("nn_id"),
        col("dist").as("nn_dist"))
  }
}
