package graft

import graft.ext.ScaleOps
import org.apache.spark.sql.functions._

/** Skew-salting and bucketed co-location: outputs must equal the naive
  * forms while the physical plan shows the changed shuffle layout.
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  lazy val li = spark.read.parquet(s"${SparkSpec.sf0001}/lineitem.parquet")
    .select("l_returnflag", "l_quantity")

  test("saltedJoin: output equals plain join; salt in the join keys") {
    val dim = li.select("l_returnflag").distinct()
      .withColumn("flag_label", concat(lit("F_"), $"l_returnflag"))
    val salted = ScaleOps.saltedJoin(li, dim, "l_returnflag", salts = 8)
      .groupBy("flag_label").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
    val plain = li.join(dim, "l_returnflag")
      .groupBy("flag_label").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
    assert(salted.orderBy("flag_label").collect().toSeq ==
      plain.orderBy("flag_label").collect().toSeq)
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("_salt"), "salt column absent from the physical join")
    assert(!plan.contains("BroadcastHashJoin"),
      "dim was broadcast — the salted shuffle never happened")
  }

  test("CBO: column statistics flip a selective-filter join to broadcast, no hints") {
    // the "let Catalyst optimize" path: without statistics Spark sizes
    // a filtered table at its FULL scan estimate (SizeInBytesOnly
    // visitor passes Filter through), so a selective filter still
    // plans a shuffle join; with ANALYZE ... FOR ALL COLUMNS + CBO the
    // filter estimate shrinks to ~rowCount/ndv rows and the join
    // auto-broadcasts — no broadcast() hint anywhere. On a real
    // cluster this is why stats collection is part of the load path.
    val orders = spark.read.parquet(s"${SparkSpec.sf0001}/orders.parquet")
    orders.write.mode("overwrite").saveAsTable("cbo_orders")
    try {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.cbo.enabled", "true")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", (8 * 1024).toString)
      def joined(s: org.apache.spark.sql.SparkSession) = {
        val key = orders.agg(min("o_orderkey")).head().getLong(0)
        s.read.parquet(s"${SparkSpec.sf0001}/lineitem.parquet")
          .join(s.table("cbo_orders").filter(col("o_orderkey") === key),
            col("l_orderkey") === col("o_orderkey"))
      }
      // stats absent: full-size estimate > threshold -> shuffle join
      val before = joined(s2).queryExecution.executedPlan.toString
      assert(!before.contains("BroadcastHashJoin"),
        "no-stats join broadcast anyway — threshold not exercised")

      // analyze THROUGH the planning session: each session caches its
      // resolved relation (stats included), so stats written elsewhere
      // aren't seen until that session's cache refreshes
      s2.sql("ANALYZE TABLE cbo_orders COMPUTE STATISTICS FOR ALL COLUMNS")
      s2.catalog.refreshTable("cbo_orders")
      val after = joined(s2).queryExecution.executedPlan.toString
      assert(after.contains("BroadcastHashJoin"),
        s"stats did not flip the join to broadcast:\n${after.take(600)}")
    } finally spark.sql("DROP TABLE IF EXISTS cbo_orders")
  }

  test("saltedJoin: left join keeps unmatched fact rows exactly once") {
    val fact = Seq(("a", 1), ("a", 2), ("b", 3), ("c", 4)).toDF("k", "v")
    val dim = Seq(("a", "A"), ("b", "B")).toDF("k", "lbl")
    val got = ScaleOps.saltedJoin(fact, dim, "k", salts = 4, joinType = "left")
      .orderBy("k", "v").collect()
      .map(r => (r.getString(0), r.getInt(1), Option(r.getString(2))))
    assert(got.toSeq == Seq(("a", 1, Some("A")), ("a", 2, Some("A")),
      ("b", 3, Some("B")), ("c", 4, None)))
  }

  test("bucketed tables join with zero exchanges") {
    val orders = spark.read.parquet(s"${SparkSpec.sf0001}/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    val items = spark.read.parquet(s"${SparkSpec.sf0001}/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    ScaleOps.writeBucketed(orders, "b_orders", "o_orderkey", 8)
    ScaleOps.writeBucketed(items.withColumnRenamed("l_orderkey", "o_orderkey"),
      "b_items", "o_orderkey", 8)
    try {
      // merge hint: at this toy SF Spark would broadcast instead; the
      // bucketed co-location shows with the join strategy big-big
      // tables get
      val joined = spark.table("b_orders").hint("merge")
        .join(spark.table("b_items").hint("merge"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n${plan.take(800)}")
      assert(joined.count() ==
        orders.join(items, orders("o_orderkey") === items("l_orderkey")).count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_items")
    }
  }

  test("zorderKey: sorting by it bounds BOTH dimensions per chunk; x-sort does not") {
    import spark.implicits._
    val grid = for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong)
    val d = grid.toDF("x", "y").repartition(8)
    val nChunks = 16
    def chunkSpread(sortKey: org.apache.spark.sql.Column): (Double, Double) = {
      val w = org.apache.spark.sql.expressions.Window.orderBy(sortKey, $"x", $"y")
      val spreads = d.withColumn("rn", row_number().over(w) - 1)
        .withColumn("chunk", ($"rn" / lit(grid.size / nChunks)).cast("long"))
        .groupBy("chunk")
        .agg((max("x") - min("x")).as("xs"), (max("y") - min("y")).as("ys"))
        .agg(avg("xs"), avg("ys")).head()
      (spreads.getDouble(0), spreads.getDouble(1))
    }
    val (zx, zy) = chunkSpread(ScaleOps.zorderKey($"x", $"y", 6))
    val (_, xy) = chunkSpread($"x")
    // z-order: each 256-row chunk covers a ~16x16 rectangle of the 64x64
    // grid — both axes bounded. x-sort: y spans the full 0..63 range.
    assert(zx <= 16 && zy <= 16, s"z-chunks not rectangular: x=$zx y=$zy")
    assert(xy >= 60, s"x-sorted chunks should leave y unbounded, got $xy")
    assert(zy < xy / 3, "z-order does not beat single-column sort on the off axis")
  }

  test("zorderKey: deinterleave roundtrips arbitrary coordinates") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val genPt = Gen.zip(Gen.chooseNum(0L, (1L << 16) - 1), Gen.chooseNum(0L, (1L << 16) - 1))
    val pts = (1L to 4L).flatMap(seed =>
      Gen.listOfN(50, genPt).apply(Gen.Parameters.default, Seed(seed)).get) ++
      Seq((0L, 0L), (65535L, 65535L), (0L, 65535L), (65535L, 0L)) // corners
    val d = pts.toDF("x", "y")
    val bad = d.select(
        $"x", $"y",
        ScaleOps.zorderDim(ScaleOps.zorderKey($"x", $"y", 16), 0, 16).as("rx"),
        ScaleOps.zorderDim(ScaleOps.zorderKey($"x", $"y", 16), 1, 16).as("ry"))
      .filter($"rx" =!= $"x" || $"ry" =!= $"y").count()
    assert(bad == 0L)
  }

  test("quotaSample: largest-remainder quotas sum to exactly k; deterministic under repartitioning") {
    import spark.implicits._
    // stratum x carries 3x the weight of y -> quotas 6 and 2 at k=8
    val rows = (1 to 40).map(i => (if (i <= 20) "x" else "y", i.toLong,
      if (i <= 20) 3L else 1L))
    val d = rows.toDF("s", "id", "w")
    val pick = ScaleOps.quotaSample(d, Seq("s"), $"w", md5($"id".cast("string")), 8L)
    val sizes = pick.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes == Map("x" -> 6L, "y" -> 2L), s"got $sizes")
    // identical draw regardless of physical layout
    val again = ScaleOps.quotaSample(d.repartition(7), Seq("s"), $"w",
      md5($"id".cast("string")), 8L)
    assert(pick.select("s", "id").exceptAll(again.select("s", "id")).isEmpty)

    // fractional shares: weights 507/493, k=100 — naive floors give 99;
    // the largest remainder must top the bigger-remainder stratum to 51
    val frac = (1 to 200).map { i =>
      val s = if (i <= 100) "a" else "b"
      (s, i.toLong, if (i <= 100) 507L else 493L)
    }.toDF("s", "id", "w") // per-row weights sum to 50700 / 49300
    val fsizes = ScaleOps.quotaSample(frac, Seq("s"), $"w", md5($"id".cast("string")), 100L)
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fsizes == Map("a" -> 51L, "b" -> 49L), s"got $fsizes")
    assert(fsizes.values.sum == 100L)

    // k below the stratum count: total stays exactly k, losers get 0
    // (equal weights tie on remainder -> stratum key ascending wins)
    val tiny = ScaleOps.quotaSample(d, Seq("s"), $"w", md5($"id".cast("string")), 1L)
    val tsizes = tiny.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tsizes == Map("x" -> 1L), s"got $tsizes")
  }

  test("snapshotDiff: classifies added/removed/changed/unchanged; null payloads safe") {
    import spark.implicits._
    val a = Seq(("k1", Some(1)), ("k2", Some(2)), ("k3", Some(3)), ("k4", None: Option[Int]))
      .toDF("k", "v")
    val b = Seq(("k2", Some(2)), ("k3", Some(30)), ("k4", None: Option[Int]), ("k5", Some(5)))
      .toDF("k", "v")
    val got = ScaleOps.snapshotDiff(a, b, Seq("k"), "v")
      .select("k", "status").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map(
      "k1" -> "removed", "k2" -> "unchanged", "k3" -> "changed",
      "k4" -> "unchanged", // null payload BOTH sides: present + equal, not 'added'
      "k5" -> "added"))
  }

  test("latestByKey: picks the max ordering tuple per key, tiebroken deterministically") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val log = Seq(
      // key a: later ts wins regardless of version order in the input
      ("a", 3L, "2024-01-02 00:00:00", "v3"),
      ("a", 1L, "2024-01-03 00:00:00", "v-latest"),
      ("a", 2L, "2024-01-01 00:00:00", "v2"),
      // key b: equal ts -> larger seq wins (deterministic tiebreak)
      ("b", 10L, "2024-06-01 12:00:00", "stale"),
      ("b", 11L, "2024-06-01 12:00:00", "winner"),
      // key c: single row passes through
      ("c", 7L, "2024-02-02 09:00:00", "only")
    ).toDF("k", "seq", "ts", "payload")
      .withColumn("ts", $"ts".cast("timestamp"))
      .repartition(4) // make map-side partial aggregation real
    val got = ScaleOps.latestByKey(log, Seq("k"), Seq("ts", "seq"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(3))).toMap
    assert(got == Map("a" -> (1L, "v-latest"), "b" -> (11L, "winner"), "c" -> (7L, "only")))

    // agrees with the classic window form on real data
    val ev = spark.read.parquet(s"${SparkSpec.sf0001}/orders.parquet")
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice")
    val viaAgg = ScaleOps.latestByKey(ev, Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"))
    val w = Window.partitionBy("o_custkey")
      .orderBy($"o_orderdate".desc, $"o_orderkey".desc)
    val viaWindow = ev.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).drop("rn")
    assert(viaAgg.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaAgg).isEmpty)
  }

  test("scd2: collapses runs into intervals; null attr is not a change; one exchange") {
    import spark.implicits._
    val log = Seq(
      ("u1", 1L, Some("gold")),
      ("u1", 2L, Some("gold")),   // same run
      ("u1", 3L, Some("silver")), // change
      ("u1", 4L, None: Option[String]), // change to null
      ("u1", 5L, None: Option[String]), // null == null: same run
      ("u1", 6L, Some("gold")),   // re-entering a value opens a NEW interval
      ("u2", 1L, Some("bronze"))
    ).toDF("k", "t", "tier").repartition(4)
    val got = ScaleOps.scd2(log, "k", "t", "tier")
      .orderBy("k", "version")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), Option(r.getString(2)),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]), r.getLong(5)))
    assert(got.toSeq == Seq(
      ("u1", 1, Some("gold"), 1L, Some(3L), 2L),
      ("u1", 2, Some("silver"), 3L, Some(4L), 1L),
      ("u1", 3, None, 4L, Some(6L), 2L),
      ("u1", 4, Some("gold"), 6L, None, 1L),
      ("u2", 1, Some("bronze"), 1L, None, 1L)))

    // scale shape: the run-collapsing agg and the interval-closing
    // window both reuse the first window's hash partitioning on the
    // key — exactly ONE hash exchange in the whole plan (the fixture's
    // repartition contributes a round-robin one, not counted)
    val exchanges = ScaleOps.scd2(log, "k", "t", "tier")
      .queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges")
  }

  test("mergeUpsert: inserted/updated/kept; null update payload overwrites") {
    import spark.implicits._
    val target = Seq(("k1", Some(1)), ("k2", Some(2)), ("k3", Some(3)))
      .toDF("k", "v")
    val updates = Seq(("k2", Some(20)), ("k3", None: Option[Int]), ("k4", Some(4)))
      .toDF("k", "v")
    val got = ScaleOps.mergeUpsert(target, updates, Seq("k"))
      .collect()
      .map(r => r.getString(0) -> ((Option(r.get(1)).map(_.asInstanceOf[Int]), r.getString(2))))
      .toMap
    assert(got == Map(
      "k1" -> ((Some(1), "kept")),
      "k2" -> ((Some(20), "updated")),
      "k3" -> ((None, "updated")), // null payload genuinely overwrites
      "k4" -> ((Some(4), "inserted"))))
  }

  test("keyDistribution: exact skew summary over the group-size table") {
    import spark.implicits._
    // key a: 6 rows, b: 3, c: 1 — 10 rows, hottest holds 60%
    val df = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("k")
    val r = ScaleOps.keyDistribution(df, Seq("k")).collect().head
    assert(r.getAs[Long]("n_keys") == 3L)
    assert(r.getAs[Long]("n_rows") == 10L)
    assert(r.getAs[Long]("max_key_rows") == 6L)
    assert(r.getAs[Double]("mean_key_rows") == 3.3333)
    // DISCRETE quantiles over sizes [1,3,6]: p50 = smallest size whose
    // cume count reaches half (3), p99 = the max (6) — actual values,
    // never interpolated
    assert(r.getAs[Double]("p50_key_rows") == 3.0)
    assert(r.getAs[Double]("p99_key_rows") == 6.0)
    assert(r.getAs[Double]("top_key_share") == 0.6)
  }

  test("weightedSample: exact size, layout-independent, and weight-biased") {
    import spark.implicits._
    // two weight classes: ids 0-499 weight 100, ids 500-999 weight 1
    val d = (0L until 1000L).map(i => (i, if (i < 500) 100L else 1L)).toDF("id", "w")
    val pick = ScaleOps.weightedSample(d, k = 100, keyCol = "id", weight = $"w")
    assert(pick.count() == 100L)
    // identical draw under a different physical layout
    val again = ScaleOps.weightedSample(d.repartition(13), 100, "id", $"w")
    assert(pick.select("id").exceptAll(again.select("id")).isEmpty)
    // heavy rows dominate: expected ~99% heavy; even a lax bound proves bias
    val heavy = pick.filter($"w" === 100L).count()
    assert(heavy > 80L, s"heavy=$heavy of 100")
  }

  test("splitByKey: split is a pure function of the key; all three splits populated") {
    import spark.implicits._
    // many rows per key across partitions: a key must land in ONE split
    val d = (0L until 2000L).map(i => (i % 200, i)).toDF("k", "row")
      .repartition(7)
      .withColumn("split", ScaleOps.splitByKey($"k"))
    assert(d.select("k", "split").distinct().count() ==
      d.select("k").distinct().count())
    val sizes = d.select("k", "split").distinct().groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.keySet == Set("train", "val", "test"), s"got $sizes")
    // 13/2/1 sixteenths: train must be the clear majority
    assert(sizes("train") > sizes("val") && sizes("train") > sizes("test"))
    intercept[IllegalArgumentException] {
      ScaleOps.splitByKey($"k", trainSixteenths = 15, valSixteenths = 2)
    }
  }

  test("tsCvFolds: expanding windows, embargo gap, last fold absorbs the tail") {
    import spark.implicits._
    // 12 days, one row each; nFolds=2, embargo=1: tsz = 12 div 3 = 4.
    // fold 1: test idx [4,7] (Jan 5-8), train idx <= 2 (embargo purges
    // Jan 4); fold 2: test idx [8,11] (Jan 9-12), train idx <= 6.
    val d = (1 to 12).map(i => f"2024-01-$i%02d 10:00:00").toDF("s")
      .select(col("s").cast("timestamp").as("ts"))
    val out = ScaleOps.tsCvFolds(d, col("ts"), nFolds = 2, embargoDays = 1)
      .orderBy("fold").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDate(3).toString, r.getDate(4).toString, r.getDate(5).toString))
    assert(out.toSeq === Seq(
      (1L, 3L, 4L, "2024-01-03", "2024-01-05", "2024-01-08"),
      (2L, 7L, 4L, "2024-01-07", "2024-01-09", "2024-01-12")))
    intercept[IllegalArgumentException](
      ScaleOps.tsCvFolds(d, col("ts"), nFolds = 1))
  }

  test("graphPartitions: measured-edge sizing with clamped bounds") {
    // tiny graphs stay at the floor so per-round task counts are O(1)
    assert(ScaleOps.graphPartitions(0L) == 4)
    assert(ScaleOps.graphPartitions(1L) == 4)
    assert(ScaleOps.graphPartitions(1000000L) == 4)
    // exact multiples don't round up an extra partition
    assert(ScaleOps.graphPartitions(5000000L) == 5)
    assert(ScaleOps.graphPartitions(5000001L) == 6)
    // clamp at the ceiling (and no overflow near Long.MaxValue)
    assert(ScaleOps.graphPartitions(5000000000L) == 4096)
    assert(ScaleOps.graphPartitions(Long.MaxValue) == 4096)
    intercept[IllegalArgumentException] { ScaleOps.graphPartitions(-1L) }
    intercept[IllegalArgumentException] {
      ScaleOps.graphPartitions(10L, rowsPerPartition = 0L)
    }
    intercept[IllegalArgumentException] {
      ScaleOps.graphPartitions(10L, minParts = 8, maxParts = 4)
    }
  }

  test("sizedEdges: measured sizing, one cached copy, tiny graph at the floor") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.size
    val edges = (0L until 200L).map(i => (i, i + 1)).toDF("src", "dst")
      .repartition(16) // deliberately oversplit for a 200-edge graph
    val sized = ScaleOps.sizedEdges(edges)
    // 200 edges -> graphPartitions floor (4), NOT the input's 16 and
    // NOT any literal at the call site
    assert(sized.rdd.getNumPartitions == ScaleOps.graphPartitions(200L))
    assert(sized.count() == 200L)
    // the sizing snapshot was released: exactly ONE new cached frame
    assert(spark.sparkContext.getPersistentRDDs.size == before + 1,
      "sizedEdges must release its sizing snapshot after the resize")
    sized.unpersist()
  }

  test("spread: identity (no added Exchange) when input is already split") {
    val par = spark.sparkContext.defaultParallelism
    val wide = spark.range(1000).toDF("x").repartition(par)
    // already at parallelism: spread must return the SAME frame — the
    // cluster's input splits make the repartition pure waste there
    assert(QueryShared.spread(wide) eq wide)
    // single-partition local read: spread fans out to the machine
    val narrow = spark.range(1000).toDF("x").coalesce(1)
    assert(QueryShared.spread(narrow).rdd.getNumPartitions == par)
  }

  test("graph loops: persisted frames stay bounded across rounds") {
    import spark.implicits._
    val sc = spark.sparkContext
    // force the DISTRIBUTED loops: this test gates their per-round
    // snapshot/release discipline, which the local fast paths bypass
    spark.conf.set("spark.graft.graph.localEdges", "0")
    // a 12-hop path forces many BFS rounds; bounded cache regardless
    val path = (0L until 12L).map(i => (i, i + 1)).toDF("id1", "id2")
    val edges = graft.ext.Graph.symmetrize(path)
    val before = sc.getPersistentRDDs.size
    val hops = graft.ext.Graph.bfsHops(edges, Seq(0L).toDF("id"), maxHops = 12)
    assert(hops.count() == 13)
    assert(sc.getPersistentRDDs.size <= before + 1,
      "bfsHops must release superseded per-round snapshots")
    graft.ext.Materialize.release(hops)
    assert(sc.getPersistentRDDs.size <= before,
      "release must free the returned snapshot's blocks")
    val beforeK = sc.getPersistentRDDs.size
    val deg = graft.ext.Graph.kCorePeel(edges, k = 1, rounds = 8)
    assert(deg.count() == 13)
    assert(sc.getPersistentRDDs.size <= beforeK + 1,
      "kCorePeel must release superseded per-round snapshots")
    val beforeC = sc.getPersistentRDDs.size
    val cn = graft.ext.Graph.commonNeighbors(edges, maxApexDegree = 10,
      minCommon = 1, topK = 5)
    assert(cn.count() == 5)
    assert(sc.getPersistentRDDs.size <= beforeC + 1,
      "commonNeighbors must release its wedge-leg cache before returning")
    // connected components over the same 12-hop path needs ~12
    // propagation rounds: superseded label snapshots must be released
    // per round, not left to driver GC
    val beforeCC = sc.getPersistentRDDs.size
    // force the distributed loop: the union-find fast path has no
    // per-round snapshots to leak in the first place
    spark.conf.set("spark.graft.graph.localEdges", "0")
    try {
      val cc = graft.ext.Dedup.connectedComponents(path)
      assert(cc.count() == 13)
      assert(sc.getPersistentRDDs.size <= beforeCC + 1,
        "connectedComponents must release superseded label snapshots")
      graft.ext.Materialize.release(cc)
    } finally {
      spark.conf.unset("spark.graft.graph.localEdges")
      spark.conf.unset("spark.graft.graph.localEdges")
    }
  }

  test("propagation fast paths: bit-identical to the distributed loops") {
    import spark.implicits._
    // BFS/SSSP/layers/critical-path are exact-integer recurrences, so
    // the size-gated driver relaxation must reproduce the distributed
    // rounds exactly — including the PARTIAL result when the round
    // budget stops short of the fixpoint (maxHops = 2 on a 12-chain)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.get(1).toString).toMap
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("id1", "id2")
    val edges = graft.ext.Graph.symmetrize(chain)
    val dag = (0L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    val wdag = dag.select(col("src"), col("dst"),
      (col("src") % 3 + 1).as("w"))
    val seeds = Seq(0L, 7L).toDF("id")
    // a later round improves an already-reached node: node 3 is first
    // reached over the direct edge, then bettered over the 3-edge path
    // (dist 10 → 3 in short1; cost 10 → 20 → 30 in long1) — a frontier
    // that forgot a node once reached, or joined only newly reached
    // nodes, stops at the first value
    val short1 = Seq((0L, 3L, 10L), (0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L))
      .toDF("src", "dst", "w")
    val long1 = Seq((0L, 3L, 1L), (0L, 1L, 10L), (1L, 2L, 10L), (2L, 3L, 10L))
      .toDF("src", "dst", "w")
    val s0 = Seq(0L).toDF("id")
    def all() = Seq(
      m(graft.ext.Graph.bfsHops(edges, seeds, maxHops = 2)),
      m(graft.ext.Graph.bfsHops(edges, seeds, maxHops = 12)),
      m(graft.ext.Graph.sssp(wdag, seeds, maxHops = 3)),
      m(graft.ext.Graph.longestPathLayers(dag, maxRounds = 4)), // partial
      m(graft.ext.Graph.longestPathLayers(dag, maxRounds = 20)),
      m(graft.ext.Graph.criticalPath(wdag, maxRounds = 20))) ++
      Seq(short1, long1).flatMap(g => Seq(2, 5).flatMap(r => Seq(
        m(graft.ext.Graph.sssp(g, s0, maxHops = r)),
        m(graft.ext.Graph.criticalPath(g, maxRounds = r)))))
    val fast = all() // default conf: local fast path (13 edges < cap)
    spark.conf.set("spark.graft.graph.localEdges", "0")
    try {
      val dist = all()
      fast.zip(dist).zipWithIndex.foreach { case ((f, d), i) =>
        assert(f === d, s"fast path diverged from distributed at case $i")
      }
    } finally spark.conf.unset("spark.graft.graph.localEdges")
    // the new cases' values, in all() order: sssp then criticalPath at
    // budgets 2 and 5, short1 then long1
    assert(fast.drop(6) === Seq(
      Map(0L -> "0", 1L -> "1", 2L -> "2", 3L -> "10"),
      Map(0L -> "0", 1L -> "1", 2L -> "2", 3L -> "10"),
      Map(0L -> "0", 1L -> "1", 2L -> "2", 3L -> "3"),
      Map(0L -> "0", 1L -> "1", 2L -> "2", 3L -> "10"),
      Map(0L -> "0", 1L -> "10", 2L -> "20", 3L -> "1"),
      Map(0L -> "0", 1L -> "10", 2L -> "20", 3L -> "20"),
      Map(0L -> "0", 1L -> "10", 2L -> "20", 3L -> "1"),
      Map(0L -> "0", 1L -> "10", 2L -> "20", 3L -> "30")))
  }

  test("propagation loops: one Spark action per round, fast paths off") {
    import spark.implicits._
    // Dataset actions of one call, counted by a QueryExecutionListener.
    // Listener events arrive in order, so a marker query before and
    // after the call brackets exactly the call's own actions.
    def actions(call: => Any): Int = {
      val marks = new java.util.concurrent.atomic.AtomicInteger
      val n = new java.util.concurrent.atomic.AtomicInteger
      val done = new java.util.concurrent.CountDownLatch(1)
      val l = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
          if (qe.analyzed.output.exists(_.name == "action_count_mark")) {
            if (marks.incrementAndGet() == 2) done.countDown()
          } else if (marks.get == 1) n.incrementAndGet()
        def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
          if (marks.get == 1) n.incrementAndGet()
      }
      def mark() = spark.range(1).toDF("action_count_mark").collect()
      spark.listenerManager.register(l)
      try {
        mark(); call; mark()
        assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally spark.listenerManager.unregister(l)
      n.get
    }
    val G = graft.ext.Graph
    def chain(len: Int) = (0L until len.toLong).map(i => (i, i + 1L))
      .toDF("src", "dst")
    val sym = G.symmetrize(chain(20).toDF("id1", "id2"))
    val dag = chain(20)
    val wdag = dag.withColumn("w", lit(2L))
    val seed = Seq(0L).toDF("id")
    // K4 minus an edge: the 4-truss peel keeps only the shared edge in
    // round 1 and drops it in round 2, so neither budget reaches the
    // fixpoint (which ends the peel without its closing support pass)
    val k4m = G.symmetrize(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("id1", "id2"))
    spark.conf.set("spark.graft.graph.localEdges", "0")
    try {
      // (name, call with fewer rounds, call with more, extra rounds):
      // budgets below the depth of the chain, so every round runs;
      // closure squaring needs ceil(log2 L) + 1 doublings on an
      // L-edge chain (2 for L = 2, 4 for L = 8)
      val cases = Seq[(String, () => Long, () => Long, Int)](
        ("bfsHops", () => G.bfsHops(sym, seed, 2).count(),
          () => G.bfsHops(sym, seed, 5).count(), 3),
        ("longestPathLayers", () => G.longestPathLayers(dag, 2).count(),
          () => G.longestPathLayers(dag, 5).count(), 3),
        ("criticalPath", () => G.criticalPath(wdag, 2).count(),
          () => G.criticalPath(wdag, 5).count(), 3),
        ("sccLabels", () => G.sccLabels(chain(2)).count(),
          () => G.sccLabels(chain(8)).count(), 2),
        ("bipartiteComponents", () => G.bipartiteComponents(chain(2)).count(),
          () => G.bipartiteComponents(chain(8)).count(), 2),
        ("kTrussPeel", () => G.kTrussPeel(k4m, k = 4, rounds = 1).count(),
          () => G.kTrussPeel(k4m, k = 4, rounds = 2).count(), 1))
      cases.foreach { case (name, few, more, n) =>
        val (a, b) = (actions(few()), actions(more()))
        assert(b - a == n, s"$name: $a actions, then $b with $n more rounds")
      }
    } finally spark.conf.unset("spark.graft.graph.localEdges")
  }

  test("connectedComponentsStar: equals min-label CC on path, grid, random, and singleton graphs") {
    import spark.implicits._
    // both DISTRIBUTED algorithms under test, not the shared fast path
    spark.conf.set("spark.graft.graph.localEdges", "0")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // high-diameter path (the star algorithm's motivating case), two
    // components + a self-loop singleton
    val path = ((1L to 12L).sliding(2).map(p => (p(0), p(1))).toSeq ++
      Seq((20L, 21L), (30L, 30L))).toDF("id1", "id2")
    val pl = labels(graft.ext.Dedup.connectedComponents(path))
    assert(labels(graft.ext.Dedup.connectedComponentsStar(path)) === pl)
    // 6x6 8-neighbor grid — the DBSCAN cell-graph shape
    val grid = (for { x <- 0 to 5; y <- 0 to 5; dx <- -1 to 1; dy <- -1 to 1
      if (dx, dy) != (0, 0) && x + dx >= 0 && x + dx <= 5 && y + dy >= 0 && y + dy <= 5
    } yield (x * 100L + y, (x + dx) * 100L + (y + dy))).toDF("id1", "id2")
    val gl = labels(graft.ext.Dedup.connectedComponentsStar(grid))
    assert(gl === labels(graft.ext.Dedup.connectedComponents(grid)))
    assert(gl.values.toSet === Set(0L)) // one component, labeled by the min
    // deterministic pseudo-random graph: hash-derived sparse edges
    val rand = (1L to 200L).map(i =>
      (i % 97, (i * i * 31 + 7) % 97)).filter(p => p._1 != p._2).toDF("id1", "id2")
    val rl = labels(graft.ext.Dedup.connectedComponents(rand))
    assert(labels(graft.ext.Dedup.connectedComponentsStar(rand)) === rl)
    spark.conf.unset("spark.graft.graph.localEdges")
    // fast-path parity: default conf routes these same graphs through
    // driver union-find — labels must be bit-identical to the
    // distributed results captured above, through BOTH entry points
    assert(labels(graft.ext.Dedup.connectedComponents(path)) === pl)
    assert(labels(graft.ext.Dedup.connectedComponentsStar(path)) === pl)
    assert(labels(graft.ext.Dedup.connectedComponents(grid)) === gl)
    assert(labels(graft.ext.Dedup.connectedComponentsStar(grid)) === gl)
    assert(labels(graft.ext.Dedup.connectedComponents(rand)) === rl)
    assert(labels(graft.ext.Dedup.connectedComponentsStar(rand)) === rl)
  }

  test("connectedComponentsStar: the size gate's count rides on the snapshot's job") {
    import spark.implicits._
    // Dataset actions of one call, counted as in the one-action-per-round
    // test: marker queries before and after bracket the call's actions
    def actions(call: => Any): Int = {
      val marks = new java.util.concurrent.atomic.AtomicInteger
      val n = new java.util.concurrent.atomic.AtomicInteger
      val done = new java.util.concurrent.CountDownLatch(1)
      val l = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
          if (qe.analyzed.output.exists(_.name == "action_count_mark")) {
            if (marks.incrementAndGet() == 2) done.countDown()
          } else if (marks.get == 1) n.incrementAndGet()
        def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
          if (marks.get == 1) n.incrementAndGet()
      }
      def mark() = spark.range(1).toDF("action_count_mark").collect()
      spark.listenerManager.register(l)
      try {
        mark(); call; mark()
        assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally spark.listenerManager.unregister(l)
      n.get
    }
    val path = (1L to 12L).sliding(2).map(p => (p(0), p(1))).toSeq.toDF("id1", "id2")
    // fast path: one job snapshots and counts the pairs, one collects
    // them for union-find
    assert(actions(graft.ext.Dedup.connectedComponentsStar(path)) == 2)
  }

  test("releaseAfterUse: frames stay cached until the result's first run, then free") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import org.apache.spark.sql.{DataFrame, Observation}
    val M = graft.ext.Materialize
    def cached(df: DataFrame) = df.storageLevel.isValid
    // a 7-row result over two persisted frames
    def scoped(): (DataFrame, Seq[DataFrame]) = {
      val a = M.persist(spark.range(0, 700).toDF("x").withColumn("y", col("x") % 7))
      val b = M.persist(a.groupBy("y").agg(count(lit(1)).as("n")))
      (M.releaseAfterUse(b.join(a.groupBy("y").agg(sum("x").as("s")), "y"), a, b),
        Seq(a, b))
    }
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    // the release runs on the listener bus: wait for it
    def freed(fs: Seq[DataFrame]) =
      eventually(timeout(60.seconds)) { assert(fs.forall(!cached(_))) }
    // an action's own observation completes on the same listener bus
    // once that action's end is handled, so after it nothing that
    // action could free is still pending
    def otherAction(df: DataFrame): Unit = {
      val o = Observation()
      df.observe(o, count(lit(1))).collect()
      o.get
    }

    val (r, fs) = scoped()
    assert(fs.forall(cached))
    otherAction(spark.range(10).toDF("z"))
    otherAction(fs.head) // an action on one of the frames, not the result
    assert(fs.forall(cached), "an action that does not run the result freed its frames")
    val first = rows(r)
    assert(first.size == 7)
    freed(fs)
    assert(rows(r) == first, "a second run must recompute the same rows")

    // a failing first action frees them too
    val a = M.persist(spark.range(0, 100).toDF("x"))
    val bad = M.releaseAfterUse(a.select(assert_true(col("x") < 50)), a)
    assert(cached(a))
    intercept[Exception](bad.collect())
    freed(Seq(a))

    // the bench's cold run: a noop write wrapped in an outer observe
    val (r2, fs2) = scoped()
    val outer = Observation("outer_rows")
    r2.observe(outer, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    assert(outer.get("n") == 7L)
    freed(fs2)

    // an RDD action
    val (r3, fs3) = scoped()
    assert(r3.rdd.count() == 7L)
    freed(fs3)
  }

  test("internal snapshots are freed after use and the result runs twice") {
    import spark.implicits._
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val sc = spark.sparkContext
    def added(before: Set[Int]) = sc.getPersistentRDDs.keySet.toSet -- before
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    // tukeyPairs: a lazy result; its k-row frame goes after the first run
    val grp = (0 until 60).map(i => (s"g${i % 3}", i.toLong)).toDF("g", "x")
    val b0 = sc.getPersistentRDDs.keySet.toSet
    val t = graft.ext.Inference.tukeyPairs(grp, "g", col("x"))
    val t1 = rows(t)
    assert(t1.size == 3)
    eventually(timeout(60.seconds)) { assert(added(b0).isEmpty) }
    assert(rows(t) == t1)
    // star CC and the grid clustering on it, distributed path: only the
    // returned snapshot stays, and releasing it leaves nothing
    spark.conf.set("spark.graft.graph.localEdges", "0")
    try {
      val path = ((1L to 12L).sliding(2).map(p => (p(0), p(1))).toSeq ++
        Seq((20L, 21L), (30L, 30L))).toDF("id1", "id2")
      val b1 = sc.getPersistentRDDs.keySet.toSet
      val cc = graft.ext.Dedup.connectedComponentsStar(path)
      val c1 = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(c1 === ((1L to 12L).map(_ -> 1L) ++ Seq(20L -> 20L, 21L -> 20L,
        30L -> 30L)).toMap)
      assert(added(b1).size == 1, "star CC must free its pair and edge snapshots")
      assert(cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == c1)
      graft.ext.Materialize.release(cc)
      assert(added(b1).isEmpty)
      val pts = Seq((1L, 1L, 1L), (2L, 2L, 2L), (3L, 11L, 5L), (4L, 12L, 6L),
        (5L, 15L, 15L), (6L, 35L, 35L), (7L, 36L, 36L), (8L, 99L, 99L))
        .toDF("id", "x", "y")
      val g = graft.ext.Spatial
        .gridDensityClusters(pts, "id", col("x"), col("y"), cellSize = 10, minPts = 2)
      val g1 = rows(g)
      assert(g1.size == 3)
      assert(added(b1).size == 1, "gridDensityClusters must free its cells and labels")
      assert(rows(g) == g1)
      graft.ext.Materialize.release(g)
      assert(added(b1).isEmpty)
      // graph operators that return their last snapshot, or a one-row
      // result that holds none: releasing the result leaves nothing
      val G = graft.ext.Graph
      val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
      val sym = G.symmetrize(tri.toDF("id1", "id2"))
      val chain = G.symmetrize(path.filter($"id1" =!= $"id2"))
      Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "kCorePeel" -> (() => G.kCorePeel(sym, k = 2, rounds = 3)),
        "kTrussPeel at its fixpoint" -> (() => G.kTrussPeel(sym, k = 3, rounds = 4)),
        "kTrussPeel out of rounds" -> (() => G.kTrussPeel(sym, k = 3, rounds = 1)),
        "labelPropagation" -> (() => G.labelPropagation(sym, rounds = 2)),
        "hits" -> (() => G.hits(tri, iters = 2)),
        "pageRankDirected" -> (() => G.pageRankDirected(tri, iters = 2)),
        "diameterDoubleBfs" -> (() => G.diameterDoubleBfs(chain, maxHops = 20))
      ).foreach { case (name, op) =>
        val b = sc.getPersistentRDDs.keySet.toSet
        val res = op()
        val r1 = rows(res)
        assert(r1.nonEmpty, name)
        assert(added(b).size <= 1, s"$name must free its internal snapshots")
        assert(rows(res) == r1, s"$name: a second run differs")
        graft.ext.Materialize.release(res)
        assert(added(b).isEmpty, s"$name: releasing the result leaves storage behind")
      }
    } finally spark.conf.unset("spark.graft.graph.localEdges")
  }

  test("pageRankDirected: dangling mass keeps total rank at exactly 1") {
    import spark.implicits._
    // 1→2, 1→3, 2→3: node 3 is a sink — without the dangling term its
    // rank would leak out of the system every round
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val pr = graft.ext.Graph.pageRankDirected(e, iters = 5)
    val rows = pr.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val total = rows.values.sum
    assert(math.abs(total - 1.0) < 1e-5, s"rank mass leaked: $total")
    // everything flows into the sink: it must hold the most rank
    assert(rows(3L) > rows(1L) && rows(3L) > rows(2L))
  }

  test("commonNeighbors: rejects a non-symmetrized edge list") {
    import spark.implicits._
    val directed = (0L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      graft.ext.Graph.commonNeighbors(directed, maxApexDegree = 10,
        minCommon = 1, topK = 5)
    }
  }

  test("connectedComponents: auto partition sizing keeps tiny graphs at the floor") {
    import spark.implicits._
    // a 3-node path a-b-c plus isolated pair d-e: 2 components
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val cc = graft.ext.Dedup.connectedComponents(pairs) // default: auto sizing
    val labels = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("gridNeighborPairs: exact pairs incl. cross-cell adjacency; radius cut; each pair once") {
    import spark.implicits._
    // cell=8: p1(0,0) p2(3,4) share cell (0,0), Chebyshev 4;
    // p4(7,7) cell (0,0) and p5(9,9) cell (1,1) are cross-cell, dist 2;
    // p1-p4 dist 7; p2-p4 dist 4; p1/p2 vs p5 dist 9 > 8 excluded;
    // p3(100,100) isolated
    val pts = Seq((1L, 0L, 0L), (2L, 3L, 4L), (3L, 100L, 100L),
      (4L, 7L, 7L), (5L, 9L, 9L)).toDF("id", "x", "y")
    val out = graft.ext.Spatial
      .gridNeighborPairs(pts, "id", col("x"), col("y"), cellSize = 8, radius = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out === Map((1L, 2L) -> 4L, (1L, 4L) -> 7L, (2L, 4L) -> 4L,
      (2L, 5L) -> 6L, (4L, 5L) -> 2L))
    // tighter radius drops the far pairs but keeps the close one
    val tight = graft.ext.Spatial
      .gridNeighborPairs(pts, "id", col("x"), col("y"), cellSize = 8, radius = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight === Set((4L, 5L)))
    intercept[IllegalArgumentException](graft.ext.Spatial
      .gridNeighborPairs(pts, "id", col("x"), col("y"), cellSize = 8, radius = 9))
  }

  test("nearestNeighbors: argmin per point with (dist, id) tie-break; isolated points absent") {
    import spark.implicits._
    // p1(0,0): neighbors p2 at dist 4 and p4 at dist 7 -> nn p2;
    // tie case: p2(3,4) has p1 at dist 4 and p4 at dist 4 -> lower id p1 wins;
    // p3 isolated -> absent
    val pts = Seq((1L, 0L, 0L), (2L, 3L, 4L), (3L, 100L, 100L),
      (4L, 7L, 7L), (5L, 9L, 9L)).toDF("id", "x", "y")
    val nn = graft.ext.Spatial
      .nearestNeighbors(pts, "id", col("x"), col("y"), cellSize = 8, radius = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(nn === Map(1L -> (2L, 4L), 2L -> (1L, 4L), 4L -> (5L, 2L),
      5L -> (4L, 2L)))
    assert(!nn.contains(3L))
  }

  test("gridDensityClusters: core merge across cells, border adoption, noise, singleton cluster") {
    import spark.implicits._
    // cell=10, minPts=2, packBase=1e6:
    //  cell(0,0): p1,p2 core; cell(1,0): p3,p4 core, adjacent -> one
    //  cluster labeled min key 0; cell(1,1): p5 non-core but adjacent to
    //  both core cells -> border of cluster 0; cell(3,3): p6,p7 core,
    //  isolated -> singleton cluster keyed 3000003; cell(9,9): p8 noise
    val pts = Seq((1L, 1L, 1L), (2L, 2L, 2L), (3L, 11L, 5L), (4L, 12L, 6L),
      (5L, 15L, 15L), (6L, 35L, 35L), (7L, 36L, 36L), (8L, 99L, 99L))
      .toDF("id", "x", "y")
    val out = graft.ext.Spatial
      .gridDensityClusters(pts, "id", col("x"), col("y"), cellSize = 10, minPts = 2)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out === Map(
      0L -> (5L, 4L, 3L),          // 4 core pts + 1 border, 3 cells
      3000003L -> (2L, 2L, 1L),    // isolated core cell = own cluster
      -1L -> (1L, 0L, 1L)))        // no core neighbor -> noise
  }

  test("decayedCounts: step halving by elapsed half-lives, exact at the grid") {
    import spark.implicits._
    val df = Seq(
      ("a", "2024-01-15"), ("a", "2024-01-15"), ("a", "2024-01-15"), // today x3
      ("a", "2024-01-07"), ("a", "2024-01-07"),                      // 8d -> w 1/2
      ("a", "2023-12-31"),                                           // 15d -> w 1/4
      ("b", "2024-01-15"))
      .toDF("k", "d").withColumn("ts", col("d").cast("timestamp"))
    val out = ScaleOps.decayedCounts(df, Seq("k"), col("ts"), halfLifeDays = 7)
      .orderBy("k").collect()
    assert(out(0).getAs[Long]("n_total") === 6L)
    assert(out(0).getAs[Double]("decayed_count") === 3.0 + 2.0 / 2 + 1.0 / 4)
    assert(out(1).getAs[Long]("n_total") === 1L)
    assert(out(1).getAs[Double]("decayed_count") === 1.0)
    intercept[IllegalArgumentException](
      ScaleOps.decayedCounts(df, Seq("k"), col("ts"), halfLifeDays = 0))
  }
}
