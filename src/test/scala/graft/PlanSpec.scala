package graft

/** Physical-plan assertions: the scale properties the queries claim
  * (pushdown, broadcast, cache reuse, native kernels) must be visible
  * in the executed plan, not just asserted in comments. These guard
  * against regressions that stay correct but silently lose the plan
  * shape that survives 100x data.
  */
class PlanSpec extends SparkSpec {

  private val dir = SparkSpec.sf0001

  private def plan(q: String): String = {
    // the shared session may carry cache registrations from earlier
    // suites (persist() registers at ANALYSIS time); clear them so
    // every pin asserts the cold plan the builder actually declares
    spark.catalog.clearCache()
    val df = SparkEntry.queries(q)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  /** The executed plan of every action that building `q` runs — an
    * operator that snapshots its rounds does its work there — with the
    * returned plan last. Listener events arrive in order, so a marker
    * query before and after the build brackets the build's own actions.
    */
  private def builtPlans(q: String): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    val marks = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.CountDownLatch(1)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (qe.analyzed.output.exists(_.name == "plan_mark")) {
          if (marks.incrementAndGet() == 2) done.countDown()
        } else if (marks.get == 1) plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def mark() = spark.range(1).toDF("plan_mark").collect()
    spark.listenerManager.register(l)
    try {
      mark(); val last = plan(q); mark()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
      plans.toArray(Array.empty[String]).toSeq :+ last
    } finally spark.listenerManager.unregister(l)
  }

  test("q_scan_prune: filter and projection reach the parquet scan") {
    val p = plan("q_scan_prune")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity"),
      "quantity filter not pushed to scan")
    assert(!p.contains("l_comment"), "unprojected column still read")
  }

  test("q_dim_join: both dimension joins broadcast") {
    val p = plan("q_dim_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_anti_join: anti join broadcasts the filtered orders side") {
    val p = plan("q_anti_join")
    assert(p.contains("LeftAnti"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"))
  }

  test("q_lsh_pairs: ONE shingle pass feeds banding — no cache, no re-shingle") {
    // round-10 A/B removed the signature persist: lshBands reads the
    // signature frame exactly once (in-row band array explode), so the
    // right plan has NO cache barrier and exactly one shingle explode
    // over the corpus — two passes would mean banding re-derived the
    // signatures, the regression the old persist guarded against
    spark.catalog.clearCache() // drop cache registrations from earlier suites
    val df = SparkEntry.queries("q_lsh_pairs")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("InMemoryTableScan"),
      "persist crept back onto the single-consumer signature frame")
    // ONE canonical token, conjunctive (round-10 ADVICE: the old
    // disjunction was vacuously true whenever no node was literally
    // named "shingles"): q_lsh_pairs reads only the documents table,
    // so a second scan of documents.parquet in the executed plan IS a
    // re-derivation of the signatures
    val docScans = "documents\\.parquet".r.findAllIn(p).size
    assert(docScans == 1,
      s"documents scanned $docScans times — signature derivation " +
        "appears more than once in the plan")
    spark.catalog.clearCache()
  }

  test("q_embed_neardup: native dot kernel present, no interpreted HOF") {
    val p = plan("q_embed_neardup")
    assert(p.contains("dot_f32"), "native DotFloat kernel missing from plan")
    assert(!p.contains("aggregate(zip_with"), "interpreted HOF cosine on hot path")
  }

  test("q_flagship_agg: partial (map-side) aggregation before the shuffle") {
    val p = plan("q_flagship_agg")
    assert(p.contains("partial_"), "no map-side partial aggregation")
  }

  test("q_asof_join: no join operator at all — union-and-carry window") {
    val p = plan("q_asof_join")
    assert(!p.contains("Join"), "as-of should be a window carry, not a join")
    assert(p.contains("Window"))
  }

  test("q_range_join: equi-join on (key, bin), never a nested-loop/cartesian") {
    val p = plan("q_range_join")
    assert(p.contains("_bin"), "bin key missing — range condition not rewritten")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range join degenerated to a per-key cross product")
  }

  test("q_salted_join: salt reaches the shuffle keys; no broadcast") {
    val p = plan("q_salted_join")
    assert(p.contains("_salt"))
    assert(!p.contains("BroadcastHashJoin"))
  }

  test("q_mway_join: customer filter broadcast; no cartesian anywhere") {
    val p = plan("q_mway_join")
    assert(p.contains("BroadcastHashJoin"), "filtered customer side not broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)]")
      || p.contains("EqualTo(c_mktsegment"), "segment filter not pushed to scan")
  }

  test("q_bucket_join: bucketed sides join with NO exchange; only the agg shuffles") {
    val df = SparkEntry.queries("q_bucket_join")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the one exchange allowed is the tiny o_orderpriority aggregate;
    // a second would mean a bucketed side got re-shuffled for the join
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"bucketed join re-shuffled a side:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "expected a co-located big-big join operator")
    assert(p.contains("Bucketed: true"), "scan did not use bucketing")
  }

  test("q_mann_whitney / q_chi2_test: map-side partial aggregation feeds the grid") {
    for (q <- Seq("q_mann_whitney", "q_chi2_test")) {
      val p = plan(q)
      assert(p.contains("partial_"), s"$q: no map-side partial aggregation")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian product planned")
    }
  }

  test("q_embed_drift: assignment uses the native dot kernel, no cartesian") {
    val p = plan("q_embed_drift")
    assert(p.contains("dot_f32"), "native DotFloat kernel missing from assignment")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_compaction_plan: one metadata window + one bin aggregate, nothing else") {
    val p = plan("q_compaction_plan")
    // the single-partition window exchange + the bin groupBy exchange;
    // a third would mean the file-metadata pass re-shuffled data
    assert("Exchange".r.findAllIn(p).size <= 3,
      s"unexpected extra exchanges:\n$p")
    assert(p.contains("Window"))
  }

  test("q_count_distinct: Expand fan-out with partial aggregation") {
    val p = plan("q_count_distinct")
    assert(p.contains("Expand"), "multi-distinct should plan through Expand")
    assert(p.contains("partial_"), "no map-side partial aggregation")
  }

  test("q_ivf_topk: probe side broadcast, native dot kernel, no cartesian") {
    val p = plan("q_ivf_topk")
    assert(p.contains("BroadcastHashJoin"), "probe list join not broadcast")
    assert(p.contains("dot_f32"), "native DotFloat kernel missing from plan")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_doc_fingerprint: narrow plan — no shuffle before the final sort") {
    val p = plan("q_doc_fingerprint")
    // exactly the spread() repartition and the orderBy range exchange
    assert("Exchange".r.findAllIn(p).size <= 2,
      "fingerprint should be a narrow projection, not a shuffling plan")
  }

  test("q_latest_by_key: partial max_by combines before the shuffle; no window") {
    val p = plan("q_latest_by_key")
    // shuffle volume = keys, not versions: the partial aggregate must
    // sit below the exchange (SortAggregate is expected — struct
    // buffers aren't hash-aggregable — the map-side combine is the
    // property that matters)
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    assert(exchangeIdx >= 0, "no hash exchange in plan — assertion would be vacuous")
    assert(p.indexOf("partial_max_by") >= 0, "no map-side partial max_by")
    assert(p.indexOf("partial_max_by") > exchangeIdx,
      "partial max_by not below the exchange in plan text") // plan prints top-down
    assert(!p.contains("Window"), "latest-by-key must not be a window sort")
  }

  test("q_gapfill: one hash-partition exchange (the window), then narrow explode") {
    val p = plan("q_gapfill")
    // agg partial+final + window share the event_type partitioning;
    // no join operator anywhere (the spine-join shape would add one)
    assert(!p.contains("Join"), "gap fill must not join a spine")
    assert(p.contains("Window"), "lead() window missing")
    assert(p.contains("Generate explode"), "sequence explode missing")
  }

  test("runtime bloom filter: a selective dim filter injects might_contain into the fact side") {
    // Catalyst's InjectRuntimeFilter: when a shuffle join's small side
    // carries a selective filter, the optimizer builds a bloom filter
    // over its join keys and semi-filters the big side's scan with it —
    // rows that can't match die before the shuffle. At 100 TB this is
    // the difference between shuffling the whole fact table and
    // shuffling the matching slice. The size thresholds are tuned for
    // real clusters, so the toy-scale test lowers the application-side
    // floor; everything else is stock Spark.
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import org.apache.spark.sql.functions.col
    val li = s.read.parquet(s"$dir/lineitem.parquet").select("l_partkey", "l_quantity")
    val part = s.read.parquet(s"$dir/part.parquet").filter(col("p_size") === 1)
    val j = li.join(part, col("l_partkey") === col("p_partkey"))
    val opt = j.queryExecution.optimizedPlan.toString
    assert(opt.contains("might_contain"),
      s"no runtime bloom filter injected:\n${opt.take(2000)}")
  }

  test("q_tpch_q5ish: date filter pushed to the orders scan; dim chain broadcasts") {
    val p = plan("q_tpch_q5ish")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate") ||
      p.contains("GreaterThanOrEqual(o_orderdate"), "date range not pushed to orders scan")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, "nation/region dims not broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_knn_eval: queries broadcast to the scoring join; no cartesian, no sort-merge") {
    val p = plan("q_knn_eval")
    // the ≠-condition scoring join must be a broadcast nested loop over
    // the TINY query side (never a cartesian of the corpus), and the
    // label joins hash-broadcast
    assert(!p.contains("CartesianProduct"), "cartesian in the scoring join")
    assert(p.contains("BroadcastNestedLoop") || p.contains("BroadcastHashJoin"),
      "query side not broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus-side shuffle join appeared")
  }

  test("q_clean_corpus: contamination joins broadcast; no cartesian anywhere") {
    val p = plan("q_clean_corpus")
    // the eval-shingle join inside contamination AND the left-anti
    // removal of the (small) contaminated id set must both broadcast —
    // the corpus side never shuffles for either
    assert(p.contains("BroadcastHashJoin"), "contamination join not broadcast")
    assert(p.contains("LeftAnti"), "decontamination anti-join missing")
    assert(!p.contains("CartesianProduct"), "cartesian product in the pipeline")
  }

  test("q_graph_stats: triangle joins are equi-joins over the cached edge set") {
    val p = plan("q_graph_stats")
    assert(!p.contains("CartesianProduct"), "triangle enumeration went cartesian")
    assert(!p.contains("BroadcastNestedLoop"), "closing-edge join is not an equi-join")
    // the persisted pair set feeds degree + two-path + closing edge:
    // at least 3 cache scans, zero recomputations of the near-dup join
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3,
      "edge set not reused from cache")
  }

  test("q_mixture_balance: only the single-row budget is nested-loop joined") {
    val p = plan("q_mixture_balance")
    assert(!p.contains("CartesianProduct"), "cartesian in mixture balance")
    // the scalar budget broadcast is the ONE admissible nested-loop
    assert("BroadcastNestedLoop".r.findAllIn(p).size <= 1)
    assert(!p.contains("SortMergeJoin"), "per-source totals join should broadcast")
  }

  test("q_outliers: one scan, two shuffles, zero joins — medians attached by window") {
    val df = SparkEntry.queries("q_outliers")(spark, dir)
    df.collect() // AQE finalizes the plan only at execution
    // the AQE string appends the pre-reuse "Initial Plan"; judge the
    // final section only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(p).size == 1,
      "median/MAD/outlier-count must derive from ONE scan of the raw table " +
        "(the join form re-executed the scan once per consumer)")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "the linear window form needs only the (keys, value) collapse " +
        "shuffle and the keys shuffle; anything more means a branch " +
        "re-shuffled or a join crept back in")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "medians must attach as window aggregates over the keys " +
        "partition — no join of any kind")
  }

  test("q_range_lookup: tiny interval dim broadcasts as a nested-loop, no shuffle join") {
    val p = plan("q_range_lookup")
    assert(p.contains("BroadcastNestedLoopJoin"), "band lookup should be a broadcast NLJ")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "non-equi lookup must not shuffle the fact side")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_dedup_ensemble: assignment consumes materialized CC labels, no cartesian") {
    // CC runs EAGERLY inside the query builder, so the returned plan
    // starts from the MATERIALIZED label frame, not a re-derivation of
    // the pair joins: below the localEdges cap that frame is
    // the union-find fast path's RDD scan (Scan[obj — round-11: an
    // ExternalRDD reference, no longer a LocalRelation re-serialized
    // into every consuming plan); above it, the distributed loop's
    // checkpoint scan (ExistingRDD). Either way the served plan is the
    // cheap tail.
    val p = plan("q_dedup_ensemble")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LocalTableScan") || p.contains("ExistingRDD") ||
      p.contains("Scan[obj"),
      "CC labels not served from a materialized frame")
  }

  test("q_edge_support / q_ktruss: intersection work stays in-row, no cartesian") {
    // q_ktruss returns its last round's snapshot: its triangle closures
    // run in the snapshot jobs that build it
    for ((q, ps) <- Seq("q_edge_support" -> Seq(plan("q_edge_support")),
        "q_ktruss" -> builtPlans("q_ktruss"))) {
      assert(ps.exists(_.contains("array_intersect")),
        s"$q: triangle closure must run inside codegen'd array_intersect")
      assert(!ps.exists(_.contains("CartesianProduct")))
    }
  }

  test("q_cohens_d: one map-side-combined aggregate, no join") {
    val p = plan("q_cohens_d")
    assert(p.contains("partial_"), "no map-side partial aggregation")
    assert(!p.contains("Join"),
      "effect size must come from ONE conditional power-sum pass")
  }

  test("q_oov_rate: vocab membership join broadcasts the vocab side") {
    val p = plan("q_oov_rate")
    assert(p.contains("BroadcastHashJoin"), "vocab join should broadcast")
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("TakeOrderedAndProject"),
      "vocab top-k should be TakeOrdered, not a global sort")
  }

  test("q_quantized_topk / q_hard_negatives: query side broadcast, no shuffle join") {
    for (q <- Seq("q_quantized_topk", "q_hard_negatives")) {
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"$q: non-equi scoring join should broadcast the query side")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$q: corpus must never shuffle for the scoring join")
    }
  }

  test("q_tpch_q18ish: the HAVING key set broadcasts back into the detail") {
    val p = plan("q_tpch_q18ish")
    assert(p.contains("BroadcastHashJoin"), "key set should broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("TakeOrderedAndProject"), "top-20 should be TakeOrdered")
  }

  test("q_incr_dedup / q_simhash_dedup: candidate joins are equi-joins, never cartesian") {
    for (q <- Seq("q_incr_dedup", "q_simhash_dedup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q: candidate generation must stay an equi-join")
    }
  }

  test("q_weighted_sample: the rank filter plans as one TakeOrdered, no shuffle") {
    val df = SparkEntry.queries("q_weighted_sample")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // per-partition top-k + driver merge of k-sized lists; the corpus
    // is never sorted and never shuffled for the selection
    assert(p.contains("TakeOrderedAndProject(limit=60"),
      "selection should be a single TakeOrdered")
    assert(!p.contains("hashpartitioning"),
      "weighted sampling must not shuffle the corpus")
  }

  test("q_spearman: no full-row sort ever runs inside a group partition") {
    val df = SparkEntry.queries("q_spearman")(spark, SparkSpec.sf0001)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the grid form's only group-key-partitioned work is the two
    // axis-rank windows over DISTINCT values; every row-sized exchange
    // hashes on the high-cardinality (group, value) keys. A window
    // whose sort input is the raw row stream would resurrect the
    // 3-reducer funnel this form exists to kill — catch it by pinning
    // the group-key-only exchanges to the two tiny axis windows (+1
    // final single-row aggregate).
    assert("Exchange hashpartitioning\\(l_returnflag#\\d+, \\d+\\)".r.findAllIn(p).size <= 3,
      s"group-key-only exchanges must carry only distinct-value or group-row frames:\n$p")
    assert("Exchange hashpartitioning\\(l_returnflag#\\d+, xv".r.findAllIn(p).size +
      "Exchange hashpartitioning\\(l_returnflag#\\d+, yv".r.findAllIn(p).size >= 1,
      "row-sized exchanges must hash on (group, value), not the group alone")
    assert(p.contains("partial_"), "power sums must combine map-side")
  }

  test("q_corr_matrix: one scan, one partial-aggregated reduction, no join") {
    val df = SparkEntry.queries("q_corr_matrix")(spark, SparkSpec.sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "corr matrix must be a single-pass aggregate")
    assert("FileScan parquet".r.findAllIn(p).size == 1, "must scan lineitem once")
    assert(p.contains("partial_"), "power sums must combine map-side")
  }

  test("q_shard_assign: narrow shard expression, single aggregate exchange") {
    val df = SparkEntry.queries("q_shard_assign")(spark, SparkSpec.sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"))
    assert(p.contains("partial_"), "per-shard stats must combine map-side")
  }

  test("q_target_encode: category sums broadcast back; the encode pass is narrow") {
    val df = SparkEntry.queries("q_target_encode")(spark, SparkSpec.sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "join-back should broadcast the category sums")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q_skipgram: narrow pair generation — no join before the count") {
    val df = SparkEntry.queries("q_skipgram")(spark, SparkSpec.sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "skipgram pairs must come from HOFs, not a self-join")
    assert(p.contains("partial_"), "pair counts must combine map-side")
    assert(p.contains("TakeOrderedAndProject"), "top-k should be a TakeOrdered")
  }

  test("q_grid_join: equi-join on the cell key, never a cartesian/NL join") {
    val df = SparkEntry.queries("q_grid_join")(spark, SparkSpec.sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "grid blocking must plan as an equi-join on (ncx, ncy)")
  }

  test("q_decayed_count: grid-first — raw events aggregate before any join") {
    val df = SparkEntry.queries("q_decayed_count")(spark, SparkSpec.sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_"), "daily grid must combine map-side")
    // the only join is the 1-row max-day broadcast
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q_incr_join_view: dimension joins broadcast in BOTH partials; merge is an agg") {
    val df = SparkEntry.queries("q_incr_join_view")(spark, SparkSpec.sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "nation/customer must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("partial_"), "partial states must combine map-side")
  }

  test("q_tpch_q3ish / q_tpch_q10ish: dims broadcast, top-k is one TakeOrdered") {
    for (q <- Seq("q_tpch_q3ish", "q_tpch_q10ish")) {
      val p = SparkEntry.queries(q)(spark, SparkSpec.sf0001)
        .queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"$q: the small dim must broadcast")
      assert(p.contains("TakeOrderedAndProject"),
        s"$q: limit-after-sort must plan as TakeOrdered, not a global sort")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("q_item_cosine: vocabulary broadcasts; neighbor ranking never cartesians") {
    val df = SparkEntry.queries("q_item_cosine")(spark, SparkSpec.sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "freq counts must broadcast onto the pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("q_fd_audit: each FD is one two-phase distinct aggregate, no joins") {
    val df = SparkEntry.queries("q_fd_audit")(spark, SparkSpec.sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "FD audit must be pure aggregation")
    assert(p.contains("partial_"), "distinct counts must combine in two phases")
  }

  test("q_itemsets3: triples expand from basket arrays — no self-join anywhere") {
    val df = SparkEntry.queries("q_itemsets3")(spark, SparkSpec.sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "triple generation must be the nested-HOF expansion, not a 3-way join")
    assert(p.contains("partial_count"), "triple counts must combine map-side")
  }

  test("q_weighted_median: weights collapse map-side; the window runs over distinct values") {
    val df = SparkEntry.queries("q_weighted_median")(spark, SparkSpec.sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_sum"), "Σweight per distinct value must combine map-side")
    assert(!p.contains("Join"), "weighted quantiles are a single-table pass")
  }

  test("q_bfs_hops / q_kcore: every graph join is an equi-join, never cartesian") {
    for (q <- Seq("q_bfs_hops", "q_kcore")) {
      val p = SparkEntry.queries(q)(spark, SparkSpec.sf0001)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q must stay on keyed joins (frontier/edge and degree restrictions):\n$p")
    }
  }

  test("q_transitivity / q_degree_assort / q_burstiness: keyed joins and map-side sums only") {
    for (q <- Seq("q_transitivity", "q_degree_assort")) {
      val p = SparkEntry.queries(q)(spark, SparkSpec.sf0001)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$q: wedge/degree joins must stay keyed:\n$p")
    }
    val pb = SparkEntry.queries("q_burstiness")(spark, SparkSpec.sf0001)
      .queryExecution.executedPlan.toString
    assert(!pb.contains("Join"), "burstiness is one window + one aggregate")
    assert(pb.contains("partial_"), "gap power sums must combine map-side")
  }

  test("q_conformal: model and q-hat frames broadcast back to the row splits") {
    val df = SparkEntry.queries("q_conformal")(spark, SparkSpec.sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "per-group model/qhat joins must broadcast, not shuffle the rows")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_rfm: breakpoints broadcast; the customer metrics are never globally sorted") {
    val df = SparkEntry.queries("q_rfm")(spark, SparkSpec.sf0001)
    val p = df.queryExecution.executedPlan.toString
    // the 1-row breakpoint frame joins as a broadcast nested loop (a
    // true scalar cross join); a global ntile would instead plan a
    // single-partition Window over every customer
    assert(p.contains("BroadcastNestedLoopJoin"),
      "breakpoint attach should be a 1-row broadcast")
    assert(!p.contains("Window [ntile"), "bucketing must not use a global ntile")
  }

  test("q_hll_distinct: register build is a partial (map-side) max aggregate") {
    val p = plan("q_hll_distinct")
    // the (group, bucket) register aggregate must combine BEFORE its
    // exchange — that is the 'shuffle <= groups x 256 rows' claim
    assert(p.contains("partial_max"), "register MAX not map-side combined")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_kmv_overlap: sketch pair join broadcasts; no cartesian") {
    val p = plan("q_kmv_overlap")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the groups x k sketch pair join must broadcast one side")
    assert(!p.contains("CartesianProduct"),
      "non-equi pair join fell back to a cartesian")
    // KmvAgg runs with partial aggregation (k-bounded buffers merge
    // map-side) — the shuffle-carries-k-longs claim
    assert(p.contains("ObjectHashAggregate"),
      "typed KMV aggregation should plan as ObjectHashAggregate")
  }

  test("q_blocking_eval: minhash derived once, no cache on the single-consumer frame") {
    // Round-11 adjudication of the round-10 "persist KEPT by
    // measurement" (verdict item 4c asked for the mechanism): the
    // signature frame has exactly ONE consumer, the candidate joins
    // broadcast identically with or without the cache, and a same-JVM
    // interleaved A/B measured parity on wall with 11 extra cache-fill
    // tasks when persisted — the round-10 delta was host-load noise.
    // Pin the resolved shape: the expensive minhash aggregate (the
    // partial_min(substring...) tower) appears exactly once, and no
    // InMemoryTableScan sneaks back onto a single-consumer frame.
    val p = plan("q_blocking_eval")
    // one partial-aggregate NODE prints all four partial_min columns,
    // so count the node marker, not the function occurrences
    val sigDerivations = "functions=\\[partial_min\\(substring".r.findAllIn(p).size
    assert(sigDerivations == 1,
      s"minhash signature aggregate appears $sigDerivations times")
    assert(!p.contains("InMemoryTableScan"),
      "persist crept back onto the single-consumer signature frame")
    assert(!p.contains("CartesianProduct"))
  }
}
