package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.qcew.{NaicsAgg, Resample, Series}
import graft.ext.{Affinity, AsofJoin, Bloom, Corpus, Dedup, EventsStream, Forecast, Graph, Inference, Multimodal, Privacy, Quantiles, ScaleOps, Sessionize, Similarity, Sketch, Spatial, StatefulOps, TextStats, TimeFill}

/** lakehouse/table-maintenance + incremental-view + physical-layout ops (CDC, SCD2, merge, compaction, bucketing, stats).
  *
  * One registry shard of [[SparkEntry]] (split in round 9 —
  * the single 11k-line object was the repo's one
  * maintainability hazard). Entries are verbatim; the shared
  * helpers live in [[QueryShared]]. SparkEntry concatenates
  * all shards and unit gates assert name uniqueness and
  * query/oracle set equality.
  */
private[graft] object QueriesLake {
  import QueryShared._

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // S5/S6: parquet scan with projection + pushed filter
    "q_scan_prune" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .filter(col("l_quantity") > 45)
        .orderBy("l_orderkey", "l_linenumber")
    }),


    // U1: union of two sources
    "q_union" -> ((s, dir) => {
      t(s, dir, "customer").select(col("c_name").as("name"), lit("customer").as("src"))
        .unionByName(
          t(s, dir, "supplier").select(col("s_name").as("name"), lit("supplier").as("src")))
        .orderBy("src", "name")
    }),


    // ext: snapshot diff — what did the last 20 days change about each
    // (user, type)'s latest event? latestByKey twice + one full-outer
    // classification join (ScaleOps.snapshotDiff; all four statuses
    // exercised by the unit fixture — 'removed' is structurally
    // impossible here since snapshot B covers a superset window).
    "q_snapshot_diff" -> ((s, dir) => {
      val ev = EventsStream.readEvents(s, s"$dir/events.parquet")
        .select("user_id", "event_type", "event_id", "ts")
      val keys = Seq("user_id", "event_type")
      val a = ScaleOps.latestByKey(
        ev.filter(col("ts") < lit("2024-01-11").cast("timestamp")), keys, Seq("ts", "event_id"))
      val b = ScaleOps.latestByKey(ev, keys, Seq("ts", "event_id"))
      ScaleOps.snapshotDiff(a, b, keys, "event_id")
        .groupBy("status").agg(count(lit(1)).as("n"))
        .orderBy("status")
    }),


    // data-quality gate (the Deequ/dbt-test niche): referential
    // integrity, key uniqueness, completeness, and range checks as ONE
    // unioned summary — each check a map-side-combinable conditional
    // aggregate, the orphan check a broadcast left join on the distinct
    // key set. The shape every pipeline runs before publishing a table.
    "q_data_quality" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      def summary(name: String, flagged: Column, from: DataFrame): DataFrame =
        from.agg(
          sum(when(flagged, 1L).otherwise(0L)).cast("long").as("n_bad"),
          count(lit(1)).as("n_total"))
          .select(lit(name).as("check_name"), col("n_bad"), col("n_total"))
      val orphan = summary("lineitem_orphan_orderkey", col("o_orderkey").isNull,
        li.join(broadcast(o.select("o_orderkey").distinct()),
          col("l_orderkey") === col("o_orderkey"), "left"))
      val dupKeys = summary("orders_duplicate_orderkey", col("cnt") > 1,
        o.groupBy("o_orderkey").agg(count(lit(1)).as("cnt")))
      val nullBal = summary("customer_null_acctbal", col("c_acctbal").isNull, c)
      val qtyRange = summary("lineitem_quantity_out_of_range",
        col("l_quantity") < 1 || col("l_quantity") > 50, li)
      val negPrice = summary("lineitem_nonpositive_price",
        col("l_extendedprice") <= 0, li)
      orphan.unionByName(dupKeys).unionByName(nullBal)
        .unionByName(qtyRange).unionByName(negPrice)
        .orderBy("check_name")
    }),


    // date arithmetic family: add/diff/last_day/day-of-week in one
    // projection (DuckDB numbers Sunday 0 where Spark says 1 — the
    // oracle shifts)
    "q_date_math" -> ((s, dir) => {
      spread(t(s, dir, "orders"))
        .select(col("o_orderkey"),
          date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("due_date"),
          datediff(lit("1998-12-31").cast("date"), col("o_orderdate")).as("days_to_eoy"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
          dayofweek(col("o_orderdate")).as("dow"))
        .orderBy("o_orderkey")
    }),


    // ext: JSON property extraction over events.props — `from_json`
    // with an explicit schema for the hot path (ONE parse per row,
    // codegen'd struct access) plus `get_json_object` for the ad-hoc
    // single-field pull, then an aggregate over the extracted field.
    // At scale the typed form wins: schema-on-read parses once into a
    // struct instead of re-walking the JSON per field.
    "q_props_extract" -> ((s, dir) => {
      import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
      val ev = spread(EventsStream.readEvents(s, s"$dir/events.parquet"))
      val propsSchema = StructType(Seq(StructField("k", IntegerType)))
      ev.select(col("event_type"),
          from_json(col("props"), propsSchema).getField("k").as("k_typed"),
          get_json_object(col("props"), "$.k").cast("int").as("k_adhoc"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum("k_typed").cast("long").as("k_sum"),
          round(avg("k_typed"), 4).as("k_avg"),
          count(col("k_adhoc")).as("n_with_k"))
        .orderBy("event_type")
    }),


    // ext: CDC snapshot compaction — latest event per user as ONE
    // map-side-combining hash aggregate (max_by over struct ordering),
    // not a window sort; ScaleOps.latestByKey scaladoc for why.
    "q_latest_by_key" -> ((s, dir) => {
      val ev = EventsStream.readEvents(s, s"$dir/events.parquet")
        .select("user_id", "event_id", "event_type", "ts", "value")
      ScaleOps.latestByKey(ev, Seq("user_id"), Seq("ts", "event_id"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
          col("value"))
        .orderBy("user_id")
    }),


    // ext: SCD type-2 history build — changelog → per-key validity
    // intervals of the tracked attribute (ScaleOps.scd2 scaladoc: one
    // shuffle; the run-collapsing agg reuses the window's hash
    // partitioning). (user_id, ts) is unique in the testdata, so the
    // history is deterministic without a tiebreaker.
    "q_scd2" -> ((s, dir) => {
      val ev = EventsStream.readEvents(s, s"$dir/events.parquet")
        .select("user_id", "ts", "event_type")
      ScaleOps.scd2(ev, key = "user_id", ord = "ts", attr = "event_type")
        .select(col("user_id"), col("version"), col("event_type"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_to"),
          col("n_rows"))
        .orderBy("user_id", "version")
    }),


    // ext: MERGE-style upsert — apply a late batch of per-user updates
    // to an earlier snapshot (ScaleOps.mergeUpsert scaladoc: one
    // full-outer shuffle, presence-marker classification). The target
    // deliberately excludes the `user_id % 10 == 0` cohort so the
    // update batch exercises all three actions: those users insert,
    // the rest of the batch updates, untouched users carry over.
    "q_merge_upsert" -> ((s, dir) => {
      val cut = lit("2024-01-20").cast("timestamp")
      val ev = EventsStream.readEvents(s, s"$dir/events.parquet")
        .select("user_id", "event_id", "event_type", "ts", "value")
      val target = ScaleOps.latestByKey(
          ev.filter(col("ts") < cut && col("user_id") % 10 =!= 0),
          Seq("user_id"), Seq("ts", "event_id"))
        .select("user_id", "event_type", "value")
      val updates = ScaleOps.latestByKey(
          ev.filter(col("ts") >= cut && col("user_id") % 3 === 0),
          Seq("user_id"), Seq("ts", "event_id"))
        .select("user_id", "event_type", "value")
      ScaleOps.mergeUpsert(target, updates, Seq("user_id"))
        .orderBy("user_id")
    }),


    // ext: Z-order clustering key — per 256-key chunk of the Morton
    // curve, the (x, y) bounding rectangle stays small on BOTH axes
    // (the file-skipping property; ScaleOps.zorderKey scaladoc). All
    // integer bit arithmetic: drift-free on any engine.
    "q_zorder" -> ((s, dir) => {
      val x = col("l_orderkey") % 256
      val y = col("l_partkey") % 256
      t(s, dir, "lineitem")
        .select(ScaleOps.zorderKey(x, y, 8).as("zkey"), x.as("x"), y.as("y"))
        .withColumn("chunk", shiftright(col("zkey"), 8))
        .groupBy("chunk")
        .agg(count(lit(1)).as("n"),
          min("x").as("x_min"), max("x").as("x_max"),
          min("y").as("y_min"), max("y").as("y_max"))
        .orderBy("chunk")
    }),


    // ext: salted join — l_returnflag has only 3 values, the textbook
    // skewed key; the salt spreads each hot key across reducers while
    // the output stays identical to the plain join (what the oracle
    // checks)
    "q_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_returnflag", "l_quantity")
      val dim = li.select("l_returnflag").distinct()
        .withColumn("flag_label", concat(lit("F_"), col("l_returnflag")))
      ScaleOps.saltedJoin(li, dim, "l_returnflag", salts = 8)
        .groupBy("flag_label")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
        .orderBy("flag_label")
    }),


    // ext: per-source corpus health report — doc counts, docs caught in
    // any corpus-wide duplicate group, mean quality. The fingerprint
    // self-aggregation joins back by fp as a SHUFFLE join on purpose:
    // at corpus scale the fingerprint table is corpus-sized, never
    // broadcastable.
    "q_source_report" -> ((s, dir) => {
      val docs = TextStats.withQuality(spread(t(s, dir, "documents")))
        .withColumn("fp", Dedup.normalizedFingerprint(col("text")))
      val fpCounts = docs.groupBy("fp").agg(count(lit(1)).as("fp_n"))
      docs.join(fpCounts, "fp")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("fp_n") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
          // quality_score is 2-decimal by construction: sum exact
          // integer hundredths, divide once — order-independent
          round(sum(round(col("quality_score") * 100).cast("long")).cast("double") /
            (count(col("quality_score")) * lit(100.0)), 4).as("avg_quality"))
        .orderBy("source")
    }),


    // ext: key-distribution profiler — the pre-join skew diagnostic,
    // run over a deliberately skewed key (3 return flags) and a
    // high-cardinality one (suppliers) side by side.
    "q_skew_report" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      ScaleOps.keyDistribution(li, Seq("l_returnflag"))
        .withColumn("key_set", lit("l_returnflag"))
        .unionByName(ScaleOps.keyDistribution(li, Seq("l_suppkey"))
          .withColumn("key_set", lit("l_suppkey")))
        .orderBy("key_set")
    }),


    // ext dedup: INCREMENTAL dedup — the new ingest batch (doc_id >=
    // 400) matched against the existing corpus (< 400) through the
    // corpus' LSH band table, then exact-Jaccard verified. The
    // production shape: per-batch cost is one equi-join against
    // precomputed signatures, never corpus x corpus.
    "q_incr_dedup" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      Dedup.incrementalDupes(
          docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400))
        .select(col("new_id"), col("old_id"), col("n_inter"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("new_id", "old_id")
    }),


    // ext scale: incremental aggregate maintenance (materialized-view
    // merge). State = mergeable partials (n, Σ) per key; a new
    // partition folds in WITHOUT rescanning history — merged state is
    // a groupBy-sum over state(base) ∪ state(delta). The oracle
    // recomputes from the full table, so the gate proves merged ==
    // full: a 100-TB pipeline maintains its rollups by reading only
    // the new day, never the history.
    "q_incr_agg" -> ((s, dir) => {
      val ev = EventsStream.readEvents(s, s"$dir/events.parquet")
      def state(df: DataFrame): DataFrame =
        df.groupBy("event_type").agg(count(lit(1)).as("n"), sum("value").as("s"))
      val base = state(ev.filter(to_date(col("ts")) < lit("2024-01-21")))
      val delta = state(ev.filter(to_date(col("ts")) >= lit("2024-01-21")))
      base.unionByName(delta)
        .groupBy("event_type")
        .agg(sum("n").as("n_events"), sum("s").as("s_raw"))
        .select(col("event_type"), col("n_events"),
          round(col("s_raw"), 4).as("total_value"),
          round(col("s_raw") / col("n_events"), 4).as("avg_value"))
        .orderBy("event_type")
    }),


    // ANALYZE-style column profiling: ONE pass computes per-column
    // null count / exact distinct count / min / max for four measures
    // (multiple exact count-distincts plan through Expand, cf.
    // q_count_distinct), then reshapes to a row per column. At real
    // profiler scale swap count_distinct for approx_count_distinct —
    // same single-pass shape, bounded memory.
    "q_column_profile" -> ((s, dir) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val aggs = cols.flatMap(c => Seq(
        count(col(c)).as(s"${c}_n"),
        countDistinct(col(c)).as(s"${c}_d"),
        min(col(c)).cast("double").as(s"${c}_min"),
        max(col(c)).cast("double").as(s"${c}_max")))
      val row = t(s, dir, "lineitem").agg(count(lit(1)).as("n_rows"), aggs: _*)
      val structs = array(cols.map(c => struct(
        lit(c).as("col_name"),
        (col("n_rows") - col(s"${c}_n")).as("n_nulls"),
        col(s"${c}_d").as("n_distinct"),
        col(s"${c}_min").as("min_v"),
        col(s"${c}_max").as("max_v"))): _*)
      row.select(explode(structs).as("p")).select("p.*").orderBy("col_name")
    }),


    // lake lineage: the hidden `_metadata` column on file sources —
    // per-row provenance (file name, size) with zero storage cost,
    // what incremental pipelines and debugging joins key on. Oracled
    // via DuckDB's filename virtual column.
    "q_file_metadata" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("_metadata.file_name").as("file_name"), col("l_orderkey"))
        .groupBy("file_name")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct("l_orderkey").as("n_orders"))
        .orderBy("file_name")
    }),


    // Spark 4 VARIANT type: the open-schema semi-structured path —
    // parse_json once into a binary VARIANT column, extract typed
    // fields with variant_get path expressions. Unlike q_props_extract
    // (from_json needs the schema up front), VARIANT keeps the full
    // document queryable when the schema is unknown or drifting — the
    // lakehouse answer to a props/metadata column. Shredded parquet
    // storage makes repeated extraction columnar at scale.
    // VARIANT ingestion: parse_json the props payload, typed-path
    // extract the integer field, aggregate. The engine-rendered
    // schema_of_variant string is asserted in a unit test
    // (VariantSpec), NOT gated here — an engine-rendered rendering is
    // not a stable cross-version oracle value.
    "q_variant_extract" -> ((s, dir) => {
      spread(EventsStream.readEvents(s, s"$dir/events.parquet"))
        .select(col("event_type"),
          parse_json(col("props")).as("v"))
        .select(col("event_type"),
          expr("variant_get(v, '$.k', 'long')").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum("k").cast("long").as("k_sum"),
          min("k").as("k_min"),
          max("k").as("k_max"))
        .orderBy("event_type")
    }),


    // functional-dependency audit across four candidate FDs — the
    // schema-inference probe run before trusting a column as a key or
    // a dimension as derivable. Each row is one two-phase distinct
    // aggregate; o_orderkey→o_custkey is the key check (0 violations
    // expected), the others measure real violation rates
    // (ScaleOps.fdViolations scaladoc).
    "q_fd_audit" -> ((s, dir) => {
      val o = spread(t(s, dir, "orders"))
      ScaleOps.fdViolations(o, "o_orderkey", "o_custkey")
        .unionAll(ScaleOps.fdViolations(o, "o_custkey", "o_orderpriority"))
        .unionAll(ScaleOps.fdViolations(spread(t(s, dir, "lineitem")),
          "l_orderkey", "l_returnflag"))
        .unionAll(ScaleOps.fdViolations(t(s, dir, "customer"),
          "c_nationkey", "c_mktsegment"))
        .orderBy("fd")
    }),


    // incremental JOIN-view maintenance: the nation-revenue rollup
    // (orders ⋈ customer ⋈ nation) maintained from base + delta
    // PARTIALS — the delta joins only ITS orders against the
    // dimensions, history is never re-scanned, and the merge is a
    // groupBy-sum over two partial states. The oracle recomputes from
    // the full fact table, so the gate proves merged == full — the
    // join generalization of q_incr_agg's aggregate maintenance.
    "q_incr_join_view" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
      def partial(o: DataFrame): DataFrame =
        o.join(cust, col("o_custkey") === col("c_custkey"))
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n"), sum(floor(col("o_totalprice") * 100)).as("cents"))
      val ord = t(s, dir, "orders")
      val cut = lit("1999-01-01").cast("timestamp")
      partial(ord.filter(col("o_orderdate") < cut))
        .unionByName(partial(ord.filter(col("o_orderdate") >= cut)))
        .groupBy("n_name")
        .agg(sum("n").as("n_orders"), sum("cents").as("rev_cents"))
        .orderBy("n_name")
    }),


    // cross-source duplicate overlap matrix on a 20-char-prefix
    // fingerprint (the coarse granularity that actually surfaces
    // mirroring in this corpus — exact normalized fingerprints are
    // disjoint across sources here, and a 0-row audit gates nothing).
    // Pair fan-out per fingerprint is bounded by the SOURCE count, so
    // no bucket cap is needed (Dedup.sourceOverlap scaladoc).
    "q_source_overlap" -> ((s, dir) => {
      Dedup.sourceOverlap(spread(t(s, dir, "documents")),
          fp = md5(substring(col("text"), 1, 20)))
        .orderBy("source1", "source2")
    }),


    // join-size preflight: predict |A ⋈ B| on the key EXACTLY from the
    // two per-key count tables (Σ n_a(k)·n_b(k)) without running the
    // join — the planner-style guard a pipeline runs before an
    // unfamiliar fact-fact join. Count tables are map-side-combined
    // (shuffle = keys); their join carries one row per key.
    "q_join_size" -> ((s, dir) => {
      val a = t(s, dir, "lineitem").groupBy(col("l_orderkey").as("k"))
        .agg(count(lit(1)).as("na"))
      val b = t(s, dir, "orders").groupBy(col("o_orderkey").as("k"))
        .agg(count(lit(1)).as("nb"))
      a.join(b, Seq("k"))
        .agg(sum(col("na") * col("nb")).as("join_rows"),
          count(lit(1)).as("n_shared_keys"),
          max(col("na") * col("nb")).as("max_key_rows"))
        .orderBy("join_rows")
    }),


    // order-independent table checksum over a rendered lineitem slice:
    // XOR of 60-bit row hashes + count — identical digest under any
    // partitioning or engine (ScaleOps.tableChecksum scaladoc).
    "q_table_checksum" -> ((s, dir) => {
      ScaleOps.tableChecksum(spread(t(s, dir, "lineitem")),
          Seq(col("l_orderkey"), col("l_linenumber"),
            floor(col("l_quantity")).cast("long"), col("l_returnflag"),
            date_format(col("l_shipdate"), "yyyy-MM-dd")))
        .orderBy("n_rows")
    }),


    // small-file compaction planning — the decision step behind every
    // lakehouse OPTIMIZE: pack the (ordered) file list into
    // target-sized bins by running total (next-fit, order-preserving —
    // compaction must not destroy the sort/z-order clustering the
    // files already have). Documents stand in for the file-metadata
    // table (doc_id = file, n_chars = bytes). The window runs over
    // FILE METADATA, not data — thousands of rows per table partition
    // in production, partitioned by the table's partition key; the
    // plan's bin ids then drive a grouped rewrite job.
    "q_compaction_plan" -> ((s, dir) => {
      val targetBytes = 65536.0 // 64 KiB bins at this sf; production: 1 GiB
      val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
      t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
        .withColumn("cum_before", coalesce(sum("n_chars").over(w), lit(0L)))
        .withColumn("bin", floor(col("cum_before") / lit(targetBytes)))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_files"), sum("n_chars").as("bytes"),
          min("doc_id").as("first_id"), max("doc_id").as("last_id"))
        .orderBy("bin")
    }),


    // bucketed co-located fact-fact join: both sides written bucketed
    // (and sorted) on the join key, so the join plans with ZERO
    // exchange — the persisted-co-location pattern every incremental
    // 100-TB pipeline uses for its repeated big-big joins
    // (ScaleOps.writeBucketed scaladoc; shuffle-freedom is
    // plan-asserted in PlanSpec). External-path tables keep bench/
    // verify runs from writing into the working directory; the
    // catalog-existence guard makes warm bench runs time the JOIN, not
    // the one-time bucketed write.
    "q_bucket_join" -> ((s, dir) => {
      val dirKey = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val tmp = System.getProperty("java.io.tmpdir")
      val (to, tl) = (s"bj_orders_$dirKey", s"bj_lineitem_$dirKey")
      if (!s.catalog.tableExists(to) || !s.catalog.tableExists(tl)) {
        ScaleOps.writeBucketed(
          t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
          to, "o_orderkey", 8, path = Some(s"$tmp/graft_$to"))
        ScaleOps.writeBucketed(
          t(s, dir, "lineitem").select(col("l_orderkey").as("o_orderkey"),
            col("l_quantity"), col("l_extendedprice")),
          tl, "o_orderkey", 8, path = Some(s"$tmp/graft_$tl"))
      }
      // merge hint: at this sf the planner would broadcast the tiny
      // orders side, hiding the property under test; at 100 TB neither
      // side broadcasts and sort-merge over co-bucketed scans IS the
      // natural plan — the hint pins the at-scale shape locally
      s.table(tl).join(s.table(to).hint("merge"), "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(floor(col("l_quantity")).cast("long")).as("sum_qty"),
          sum(floor(col("l_extendedprice")).cast("long")).as("sum_price"))
        .orderBy("o_orderpriority")
    }),


    // fixed-width source end-to-end: materialize a deterministic
    // fixed-width extract of lineitem, read it back through
    // graft-fixedwidth (FixedWidth.slice over the text source, split by
    // spark.sql.files.maxPartitionBytes), and aggregate. Round-trip
    // parity with the oracle on the original table proves slicing,
    // latin-1 decode, and trim; pruning is plan-asserted in
    // FixedWidthSourceSpec.
    "q_dsv2_scan" -> ((s, dir) => {
      // fixture path keyed by a CONTENT-COLLISION-FREE digest of the sf
      // dir (hashCode could collide across dirs); write once, so
      // repeated runs time the source READ, not the fixture export — but
      // re-export whenever the fixture no longer matches the LIVE
      // lineitem table by (row count, Σ l_orderkey): the driver has
      // regenerated testdata in place between rounds, and a
      // regeneration can keep the row count while changing values, so
      // count alone would silently serve stale bytes. The check itself
      // (a full live-lineitem aggregate + a full fixture re-read) runs
      // ONCE per (JVM, dir) via ensureDsv2Fixture — the round-8 bench
      // timed it on every warm run, inflating the row ~10× and masking
      // the source read it claims to measure; the staleness contract only
      // needs first-touch-per-session (testdata regeneration happens
      // between driver rounds, i.e. between JVMs, never mid-session).
      val fwDir = ensureDsv2Fixture(s, dir)
      s.read.format("graft-fixedwidth")
        .option("layout", "okey:1:12,pkey:13:12,qty:25:8,rflag:33:4,sdate:37:12")
        .option("recordLength", 48)
        .load(fwDir)
        .groupBy(col("rflag"))
        .agg(count(lit(1)).as("n"),
          sum(expr("try_cast(qty AS BIGINT)")).as("sum_qty"),
          min(col("sdate")).as("min_sdate"),
          countDistinct(col("okey")).as("n_orders"))
        .orderBy("rflag")
    }),


    // lake: zone-map pruning audit — per-month "files" over shipdate,
    // min/max/rows zone maps, then five closed date-interval predicates
    // evaluated against metadata only; exact skip/scan counts
    // (ScaleOps.zoneMapPruning scaladoc). The month-aligned predicates
    // skip whole files; the misaligned one must scan its straddlers.
    "q_zonemap_prune" -> ((s, dir) => {
      val preds = zonePreds.map { case (n, lo, hi) =>
        (n, java.time.LocalDate.parse(lo).toEpochDay,
          java.time.LocalDate.parse(hi).toEpochDay) }
      ScaleOps.zoneMapPruning(t(s, dir, "lineitem"),
          fileCol = (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
            .cast("long"),
          valueCol = datediff(col("l_shipdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long"),
          preds)
        .orderBy("pred")
    }),


    // storage advisor: candidate partition-key audit in ONE scan (the
    // q_column_profile Expand pattern) — per candidate: partition
    // count, max/min partition rows, integer skew ratio, and a
    // recommendation under the standard layout rules (not too few
    // partitions, not too many, skew bounded).
    "q_partition_layout" -> ((s, dir) => {
      EventsStream.readEvents(s, s"$dir/events.parquet")
        .select(col("event_type").as("c1"),
          date_format(col("ts"), "yyyy-MM-dd").as("c2"),
          (col("user_id") % 64).cast("string").as("c3"))
        .select(expr(
          "stack(3, 'day', c2, 'event_type', c1, 'user_mod64', c3) AS (cand, v)"))
        .groupBy("cand", "v").agg(count(lit(1)).as("n"))
        .groupBy("cand")
        .agg(count(lit(1)).as("n_partitions"), max("n").as("max_rows"),
          min("n").as("min_rows"), sum("n").as("n_rows"))
        .withColumn("skew_x100",
          expr("(max_rows * n_partitions * 100) div n_rows"))
        .withColumn("recommended",
          col("n_partitions").between(5, 10000) && col("skew_x100") < 300)
        .orderBy("cand")
    }),


    // export: deterministic multiplicative-hash shards (high bits) —
    // reproducible training-data placement any consumer can recompute;
    // per-shard balance audit is one narrow scan + one small groupBy.
    "q_shard_assign" -> ((s, dir) => {
      spread(t(s, dir, "documents"))
        .withColumn("shard", ScaleOps.shardOf(col("doc_id"), 8))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("n_chars_total"),
          countDistinct("lang").as("n_langs"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("shard")
    }),


    // lake: schema-evolution read — two parquet generations (gen 2
    // adds disc_c) merged by mergeSchema; early rows surface null for
    // the late column. The fixture derives deterministically from
    // lineitem and is REWRITTEN every run (overwrite, no cache) so a
    // testdata regeneration can never serve stale bytes; the oracle
    // recomputes the same split from the live table.
    "q_schema_evolution" -> ((s, dir) => {
      val dirKey = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val evoDir = s"${System.getProperty("java.io.tmpdir")}/graft_evo_$dirKey"
      val li = t(s, dir, "lineitem")
      li.filter(col("l_linenumber") === 1)
        .select(col("l_orderkey"), col("l_returnflag").as("rflag"),
          floor(col("l_quantity")).cast("long").as("qty"))
        .coalesce(1).write.mode("overwrite").parquet(s"$evoDir/gen1")
      li.filter(col("l_linenumber") === 2)
        .select(col("l_orderkey"), col("l_returnflag").as("rflag"),
          floor(col("l_quantity")).cast("long").as("qty"),
          floor(col("l_discount") * 100).cast("long").as("disc_c"))
        .coalesce(1).write.mode("overwrite").parquet(s"$evoDir/gen2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$evoDir/gen1", s"$evoDir/gen2")
        .groupBy("rflag")
        .agg(count(lit(1)).as("n"), count(col("disc_c")).as("n_with_disc"),
          sum("qty").as("sum_qty"), sum("disc_c").as("sum_disc"))
        .orderBy("rflag")
    }),


    // snapshot reconciliation via FULL OUTER join — the data-diff
    // report every migration/backfill ends with: per-customer order
    // count + exact cents from two halves of the order history,
    // full-outer joined and classified left_only / right_only /
    // changed. One co-keyed shuffle join of two partial aggregates;
    // the classification and delta are narrow integer arithmetic, and
    // the report collapses to |status| rows map-side.
    "q_full_outer_recon" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
      val cut = lit("1996-01-01").cast("timestamp")
      def snap(f: DataFrame): DataFrame = f.groupBy("o_custkey")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * 100)).cast("long").as("cents"))
      val a = snap(ord.filter(col("o_orderdate") < cut))
        .select(col("o_custkey"), col("n").as("n_a"), col("cents").as("cents_a"))
      val b = snap(ord.filter(col("o_orderdate") >= cut))
        .select(col("o_custkey"), col("n").as("n_b"), col("cents").as("cents_b"))
      a.join(b, Seq("o_custkey"), "full_outer")
        .select(
          when(col("n_a").isNull, lit("right_only"))
            .when(col("n_b").isNull, lit("left_only"))
            .otherwise(lit("changed")).as("status"),
          coalesce(col("cents_b"), lit(0L)).minus(coalesce(col("cents_a"), lit(0L)))
            .as("delta_cents"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_customers"),
          sum("delta_cents").as("total_delta_cents"))
        .orderBy("status")
    }),


    // URL parse + host rollup — the web-corpus ingestion primitive
    // (every crawl pipeline groups by registered host before
    // dedup/quality). URLs derive deterministically from document
    // columns so the DuckDB oracle reproduces them; the PARSING is the
    // operator: one regexp per component (host / first path segment /
    // query param), all codegen'd, narrow until the per-host count —
    // which map-side-combines to |hosts| rows.
    "q_url_parse" -> ((s, dir) => {
      val urls = t(s, dir, "documents")
        .select(concat(lit("https://"), col("source"), lit(".example.com/docs/"),
          col("lang"), lit("/"), col("doc_id"), lit("?ref=r"),
          pmod(col("n_chars"), lit(7))).as("url"))
      urls.select(
          regexp_extract(col("url"), "^https?://([^/?#]+)", 1).as("host"),
          regexp_extract(col("url"), "^https?://[^/?#]+/[^/?#]+/([^/?#]+)", 1).as("seg2"),
          regexp_extract(col("url"), "[?&]ref=([^&#]*)", 1).as("ref"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("ref")).as("n_refs"),
          countDistinct(col("seg2")).as("n_langs"))
        .orderBy("host")
    }),


    // URL canonicalization dedup — the web-corpus staple: the same
    // page arrives as scheme/host case variants, with tracking params,
    // fragments, and trailing slashes; the canonical key (lowercased
    // host + path sans trailing slash, query and fragment dropped)
    // collapses them. Two deterministic raw variants per doc here;
    // per-host audit shows raw distinct = 2× canonical. Narrow
    // codegen string pass + two count-distincts — no shuffle beyond
    // the rollup.
    "q_url_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def mk(scheme: Column, host: Column, tail: Column): Column =
        concat(scheme, host, lit("/docs/"), col("lang"), lit("/"),
          col("doc_id"), tail)
      val raw = docs.select(col("doc_id"), mk(lit("https://"),
          concat(col("source"), lit(".Example.COM")),
          concat(lit("?ref=r"), pmod(col("n_chars"), lit(7)))).as("url"))
        .unionAll(docs.select(col("doc_id"), mk(lit("HTTPS://"),
          concat(upper(col("source")), lit(".example.com")),
          lit("/?utm_source=feed&utm_medium=rss#sec")).as("url")))
      val canon = raw.withColumn("canonical",
        concat(
          lower(regexp_extract(col("url"), "^[hH][tT][tT][pP][sS]?://([^/?#]+)", 1)),
          regexp_replace(
            regexp_extract(col("url"), "^[hH][tT][tT][pP][sS]?://[^/?#]+([^?#]*)", 1),
            "/$", "")))
      canon
        .withColumn("host",
          lower(regexp_extract(col("url"), "^[hH][tT][tT][pP][sS]?://([^/?#]+)", 1)))
        .groupBy("host")
        .agg(count(lit(1)).as("n_raw"),
          countDistinct(col("url")).as("n_distinct_raw"),
          countDistinct(col("canonical")).as("n_canonical"))
        .orderBy("host")
    }),

    // CDC apply with TOMBSTONES: each event is an op on its user key
    // ('D' delete when event_id % 10 = 0, else upsert); the snapshot is
    // the last op per key in (ts, event_id) order with deleted keys
    // ABSENT — the delete-wins semantic q_merge_upsert's pure-upsert
    // merge can't express. One map-side-combined latestByKey pass (no
    // per-key sort); the tombstone filter runs on the keys-sized
    // result, never the log.
    "q_cdc_tombstone" -> ((s, dir) => {
      val ops = EventsStream.readEvents(s, s"$dir/events.parquet")
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
          col("value"),
          when(pmod(col("event_id"), lit(10)) === 0, lit("D"))
            .otherwise(lit("U")).as("op"))
      ScaleOps.latestByKey(ops, Seq("user_id"), Seq("ts", "event_id"))
        .filter(col("op") =!= "D")
        .select(col("user_id"), col("event_type"), col("value"))
        .orderBy("user_id")
    }),
  )

  val oracles: Seq[(String, String)] = Seq(
      "q_scan_prune" ->
        """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
          |FROM lineitem WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber""".stripMargin,


      "q_union" ->
        """SELECT c_name AS name, 'customer' AS src FROM customer
          |UNION ALL SELECT s_name, 'supplier' FROM supplier
          |ORDER BY src, name""".stripMargin,


      "q_snapshot_diff" ->
        """WITH a AS (
          |  SELECT user_id, event_type, event_id FROM (
          |    SELECT user_id, event_type, event_id,
          |           row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
          |    FROM events WHERE ts < TIMESTAMP '2024-01-11') WHERE rn = 1),
          |b AS (
          |  SELECT user_id, event_type, event_id FROM (
          |    SELECT user_id, event_type, event_id,
          |           row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
          |    FROM events) WHERE rn = 1)
          |SELECT CASE WHEN a.event_id IS NULL THEN 'added'
          |            WHEN b.event_id IS NULL THEN 'removed'
          |            WHEN a.event_id <> b.event_id THEN 'changed'
          |            ELSE 'unchanged' END AS status,
          |       count(*) AS n
          |FROM a FULL JOIN b ON a.user_id = b.user_id AND a.event_type = b.event_type
          |GROUP BY 1 ORDER BY 1""".stripMargin,


      "q_data_quality" ->
        """SELECT 'customer_null_acctbal' AS check_name,
          |       CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
          |       count(*) AS n_total FROM customer
          |UNION ALL
          |SELECT 'lineitem_nonpositive_price',
          |       CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
          |       count(*) FROM lineitem
          |UNION ALL
          |SELECT 'lineitem_orphan_orderkey',
          |       CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          |       count(*)
          |FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
          |  ON l.l_orderkey = o.o_orderkey
          |UNION ALL
          |SELECT 'lineitem_quantity_out_of_range',
          |       CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT),
          |       count(*) FROM lineitem
          |UNION ALL
          |SELECT 'orders_duplicate_orderkey',
          |       CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT),
          |       count(*)
          |FROM (SELECT o_orderkey, count(*) AS cnt FROM orders GROUP BY 1)
          |ORDER BY check_name""".stripMargin,


      "q_date_math" ->
        """SELECT o_orderkey,
          |       strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
          |       CAST(date_diff('day', o_orderdate, DATE '1998-12-31') AS INTEGER) AS days_to_eoy,
          |       strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
          |       CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow
          |FROM orders ORDER BY o_orderkey""".stripMargin,


      "q_props_extract" ->
        """WITH j AS (
          |  SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
          |  FROM events)
          |SELECT event_type, count(*) AS n_events,
          |       CAST(sum(k) AS BIGINT) AS k_sum,
          |       round(avg(k), 4) AS k_avg,
          |       count(k) AS n_with_k
          |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,


      "q_latest_by_key" ->
        """WITH ranked AS (
          |  SELECT user_id, event_id, event_type, ts, value,
          |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events)
          |SELECT user_id, event_id, event_type,
          |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s, value
          |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin,


      "q_scd2" ->
        """WITH c AS (
          |  SELECT user_id, ts, event_type,
          |         CASE WHEN event_type IS NOT DISTINCT FROM
          |                   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts)
          |              THEN 0 ELSE 1 END AS chg
          |  FROM events),
          |v AS (
          |  SELECT user_id, ts, event_type,
          |         CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts) AS INT) AS version
          |  FROM c),
          |r AS (
          |  SELECT user_id, version, min(event_type) AS event_type,
          |         min(ts) AS vf, count(*) AS n_rows
          |  FROM v GROUP BY 1, 2)
          |SELECT user_id, version, event_type,
          |       strftime(vf, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
          |       strftime(lead(vf) OVER (PARTITION BY user_id ORDER BY version),
          |                '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
          |       n_rows
          |FROM r ORDER BY user_id, version""".stripMargin,


      "q_merge_upsert" ->
        """WITH t AS (
          |  SELECT user_id, event_type, value FROM (
          |    SELECT user_id, event_type, value,
          |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          |    FROM events
          |    WHERE ts < TIMESTAMP '2024-01-20' AND user_id % 10 <> 0)
          |  WHERE rn = 1),
          |u AS (
          |  SELECT user_id, event_type, value FROM (
          |    SELECT user_id, event_type, value,
          |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          |    FROM events
          |    WHERE ts >= TIMESTAMP '2024-01-20' AND user_id % 3 = 0)
          |  WHERE rn = 1)
          |SELECT COALESCE(t.user_id, u.user_id) AS user_id,
          |       CASE WHEN u.user_id IS NOT NULL THEN u.event_type ELSE t.event_type END AS event_type,
          |       CASE WHEN u.user_id IS NOT NULL THEN u.value ELSE t.value END AS value,
          |       CASE WHEN t.user_id IS NULL THEN 'inserted'
          |            WHEN u.user_id IS NULL THEN 'kept'
          |            ELSE 'updated' END AS action
          |FROM t FULL JOIN u ON t.user_id = u.user_id
          |ORDER BY user_id""".stripMargin,


      "q_zorder" -> {
        val zexpr = (0 until 8).map(i =>
          s"((((l_orderkey % 256) >> $i) & 1) << ${2 * i}) + ((((l_partkey % 256) >> $i) & 1) << ${2 * i + 1})")
          .mkString(" + ")
        s"""WITH z AS (
           |  SELECT CAST($zexpr AS BIGINT) AS zkey,
           |         l_orderkey % 256 AS x, l_partkey % 256 AS y
           |  FROM lineitem)
           |SELECT zkey >> 8 AS chunk, count(*) AS n,
           |       CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max,
           |       CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max
           |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
      },


      "q_salted_join" ->
        """WITH dim AS (
          |  SELECT DISTINCT l_returnflag, 'F_' || l_returnflag AS flag_label FROM lineitem)
          |SELECT flag_label, count(*) AS n, sum(l_quantity) AS sum_qty
          |FROM lineitem JOIN dim USING (l_returnflag)
          |GROUP BY flag_label ORDER BY flag_label""".stripMargin,


      "q_source_report" ->
        s"""WITH $sqlQualityFeatureCte,
           |fp AS (
           |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fpv
           |  FROM documents),
           |fpn AS (SELECT fpv, count(*) AS fp_n FROM fp GROUP BY 1),
           |d AS (
           |  SELECT doc_id, source FROM documents)
           |SELECT d.source, count(*) AS n_docs,
           |       CAST(sum(CASE WHEN fpn.fp_n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
           |       round(CAST(sum(CAST(round(($sqlQualityScore) * 100.0) AS BIGINT)) AS DOUBLE)
           |             / (count($sqlQualityScore) * 100.0), 4) AS avg_quality
           |FROM d JOIN fp USING (doc_id) JOIN fpn USING (fpv) JOIN f USING (doc_id)
           |GROUP BY 1 ORDER BY d.source""".stripMargin,


      // p50/p99 of the integer group sizes as DISCRETE quantiles in
      // pure integer rank logic (smallest size whose <=-count reaches
      // p·keys) — no quantile built-in, no interpolation, no
      // engine-version sensitivity; mean = one exact-int division
      "q_skew_report" ->
        """WITH s1 AS (SELECT count(*) AS _n FROM lineitem GROUP BY l_returnflag),
          |s2 AS (SELECT count(*) AS _n FROM lineitem GROUP BY l_suppkey),
          |w1 AS (
          |  SELECT _n,
          |         count(*) OVER (ORDER BY _n RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ce,
          |         count(*) OVER () AS nk
          |  FROM s1),
          |w2 AS (
          |  SELECT _n,
          |         count(*) OVER (ORDER BY _n RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ce,
          |         count(*) OVER () AS nk
          |  FROM s2),
          |q1 AS (
          |  SELECT (SELECT min(_n) FROM w1 WHERE 2 * ce >= nk) AS p50,
          |         (SELECT min(_n) FROM w1 WHERE 100 * ce >= 99 * nk) AS p99),
          |q2 AS (
          |  SELECT (SELECT min(_n) FROM w2 WHERE 2 * ce >= nk) AS p50,
          |         (SELECT min(_n) FROM w2 WHERE 100 * ce >= 99 * nk) AS p99),
          |r1 AS (
          |  SELECT count(*) AS n_keys, CAST(sum(_n) AS BIGINT) AS n_rows, max(_n) AS max_key_rows,
          |         round(CAST(sum(_n) AS DOUBLE) / count(*), 4) AS mean_key_rows,
          |         round(CAST((SELECT p50 FROM q1) AS DOUBLE), 4) AS p50_key_rows,
          |         round(CAST((SELECT p99 FROM q1) AS DOUBLE), 4) AS p99_key_rows,
          |         round(max(_n) * 1.0 / sum(_n), 4) AS top_key_share,
          |         'l_returnflag' AS key_set
          |  FROM s1),
          |r2 AS (
          |  SELECT count(*) AS n_keys, CAST(sum(_n) AS BIGINT) AS n_rows, max(_n) AS max_key_rows,
          |         round(CAST(sum(_n) AS DOUBLE) / count(*), 4) AS mean_key_rows,
          |         round(CAST((SELECT p50 FROM q2) AS DOUBLE), 4) AS p50_key_rows,
          |         round(CAST((SELECT p99 FROM q2) AS DOUBLE), 4) AS p99_key_rows,
          |         round(max(_n) * 1.0 / sum(_n), 4) AS top_key_share,
          |         'l_suppkey' AS key_set
          |  FROM s2)
          |SELECT * FROM r1 UNION ALL SELECT * FROM r2 ORDER BY key_set""".stripMargin,


      // batch-vs-corpus banding over the shared minhash CTEs, exact
      // Jaccard on the distinct shingle sets of candidates only
      "q_incr_dedup" ->
        s"""WITH $sqlMinhashCtes,
           |bands AS (
           |  SELECT doc_id, 0 AS band, md5(mh0 || mh1) AS bh FROM sig
           |  UNION ALL SELECT doc_id, 1, md5(mh2 || mh3) FROM sig),
           |cand AS (
           |  SELECT b.doc_id AS new_id, a.doc_id AS old_id
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
           |  WHERE a.doc_id < 400 AND b.doc_id >= 400
           |  GROUP BY 1, 2),
           |dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
           |sizes AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY doc_id),
           |inter AS (
           |  SELECT c.new_id, c.old_id, count(*) AS n_inter
           |  FROM cand c
           |  JOIN dsh s1 ON s1.doc_id = c.new_id
           |  JOIN dsh s2 ON s2.doc_id = c.old_id AND s2.shingle = s1.shingle
           |  GROUP BY 1, 2)
           |SELECT i.new_id, i.old_id, i.n_inter,
           |       round(CAST(i.n_inter AS DOUBLE) / (sb.n_sh + se.n_sh - i.n_inter), 6) AS jaccard
           |FROM inter i JOIN sizes sb ON sb.doc_id = i.new_id
           |JOIN sizes se ON se.doc_id = i.old_id
           |ORDER BY new_id, old_id""".stripMargin,


      // full recompute — the gate proves the Spark-side base∪delta
      // partial-state merge equals rescanning everything
      "q_incr_agg" ->
        """SELECT event_type, count(*) AS n_events,
          |       round(sum(value), 4) AS total_value,
          |       round(sum(value) / count(*), 4) AS avg_value
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,


      "q_column_profile" -> {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        cols.map { c =>
          s"""SELECT '$c' AS col_name,
             |       count(*) - count($c) AS n_nulls,
             |       count(DISTINCT $c) AS n_distinct,
             |       CAST(min($c) AS DOUBLE) AS min_v,
             |       CAST(max($c) AS DOUBLE) AS max_v
             |FROM lineitem""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
      },


      // the oracle sees the table as a VIEW (no file path), so the
      // expected name is the testdata layout constant — the gate then
      // checks Spark's _metadata column surfaces exactly that basename
      // with the right per-file row accounting
      "q_file_metadata" ->
        """SELECT 'lineitem.parquet' AS file_name, count(*) AS n_rows,
          |       count(DISTINCT l_orderkey) AS n_orders
          |FROM lineitem ORDER BY file_name""".stripMargin,


      // DuckDB has no VARIANT: the oracle extracts the same typed path
      // from the raw JSON; the Spark-side schema_of_variant rendering
      // is unit-asserted (VariantSpec), never oracle-gated
      "q_variant_extract" ->
        """SELECT event_type,
          |       count(*) AS n_events,
          |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
          |       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
          |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
          |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,


      "q_fd_audit" ->
        """WITH a AS (
          |  SELECT o_orderkey AS lhs,
          |         count(DISTINCT o_custkey)
          |           + max(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS n_rhs
          |  FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
          |b AS (
          |  SELECT o_custkey AS lhs,
          |         count(DISTINCT o_orderpriority)
          |           + max(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS n_rhs
          |  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
          |c AS (
          |  SELECT l_orderkey AS lhs,
          |         count(DISTINCT l_returnflag)
          |           + max(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS n_rhs
          |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
          |d AS (
          |  SELECT c_nationkey AS lhs,
          |         count(DISTINCT c_mktsegment)
          |           + max(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS n_rhs
          |  FROM customer WHERE c_nationkey IS NOT NULL GROUP BY 1),
          |r AS (
          |  SELECT 'o_orderkey->o_custkey' AS fd, count(*) AS n_groups,
          |         count(*) FILTER (WHERE n_rhs > 1) AS n_violating,
          |         CAST(max(n_rhs) AS BIGINT) AS max_distinct_rhs FROM a
          |  UNION ALL
          |  SELECT 'o_custkey->o_orderpriority', count(*),
          |         count(*) FILTER (WHERE n_rhs > 1), CAST(max(n_rhs) AS BIGINT) FROM b
          |  UNION ALL
          |  SELECT 'l_orderkey->l_returnflag', count(*),
          |         count(*) FILTER (WHERE n_rhs > 1), CAST(max(n_rhs) AS BIGINT) FROM c
          |  UNION ALL
          |  SELECT 'c_nationkey->c_mktsegment', count(*),
          |         count(*) FILTER (WHERE n_rhs > 1), CAST(max(n_rhs) AS BIGINT) FROM d)
          |SELECT fd, n_groups, n_violating, max_distinct_rhs,
          |       (n_violating * 10000) // n_groups AS violation_bp
          |FROM r ORDER BY fd""".stripMargin,


      // full recompute — the gate proves base+delta partial-state merge
      // over the JOIN view equals rescanning the whole fact
      "q_incr_join_view" ->
        """SELECT n_name, count(*) AS n_orders,
          |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,


      "q_source_overlap" ->
        """WITH sf AS (
          |  SELECT DISTINCT source AS src, md5(substring(text, 1, 20)) AS fp
          |  FROM documents),
          |ps AS (SELECT src, count(*) AS n_fp FROM sf GROUP BY 1),
          |ov AS (
          |  SELECT a.src AS source1, b.src AS source2, count(*) AS n_shared
          |  FROM sf a JOIN sf b ON a.fp = b.fp AND a.src < b.src
          |  GROUP BY 1, 2)
          |SELECT source1, source2, n_shared, p1.n_fp AS n1, p2.n_fp AS n2,
          |       round(CAST(n_shared AS DOUBLE) / CAST(p1.n_fp + p2.n_fp - n_shared AS DOUBLE), 6) AS jaccard
          |FROM ov JOIN ps p1 ON p1.src = ov.source1
          |        JOIN ps p2 ON p2.src = ov.source2
          |ORDER BY source1, source2""".stripMargin,


      "q_join_size" ->
        """WITH a AS (SELECT l_orderkey AS k, count(*) AS na FROM lineitem GROUP BY 1),
          |b AS (SELECT o_orderkey AS k, count(*) AS nb FROM orders GROUP BY 1)
          |SELECT CAST(sum(na * nb) AS BIGINT) AS join_rows,
          |       count(*) AS n_shared_keys,
          |       CAST(max(na * nb) AS BIGINT) AS max_key_rows
          |FROM a JOIN b USING (k) ORDER BY join_rows""".stripMargin,


      // each column renders length-prefixed (`<len>:<value>`, NULL →
      // 'N') before the '|' join — mirrors ScaleOps.tableChecksum's
      // self-delimiting render exactly
      "q_table_checksum" ->
        """WITH r AS (
          |  SELECT COALESCE(concat(CAST(length(CAST(l_orderkey AS VARCHAR)) AS VARCHAR), ':',
          |                         CAST(l_orderkey AS VARCHAR)), 'N') AS c1,
          |         COALESCE(concat(CAST(length(CAST(l_linenumber AS VARCHAR)) AS VARCHAR), ':',
          |                         CAST(l_linenumber AS VARCHAR)), 'N') AS c2,
          |         COALESCE(concat(CAST(length(CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR)) AS VARCHAR), ':',
          |                         CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR)), 'N') AS c3,
          |         COALESCE(concat(CAST(length(l_returnflag) AS VARCHAR), ':', l_returnflag), 'N') AS c4,
          |         COALESCE(concat(CAST(length(strftime(l_shipdate, '%Y-%m-%d')) AS VARCHAR), ':',
          |                         strftime(l_shipdate, '%Y-%m-%d')), 'N') AS c5
          |  FROM lineitem),
          |h AS (
          |  SELECT CAST(concat('0x', substring(md5(concat_ws('|', c1, c2, c3, c4, c5)), 1, 15)) AS BIGINT) AS rh
          |  FROM r)
          |SELECT count(*) AS n_rows, bit_xor(rh) AS xor_checksum,
          |       min(rh) AS min_hash, max(rh) AS max_hash
          |FROM h ORDER BY n_rows""".stripMargin,


      // running-total next-fit binning; exact integer cumulative sums
      "q_compaction_plan" ->
        """WITH c AS (
          |  SELECT doc_id, n_chars,
          |         COALESCE(CAST(sum(n_chars) OVER (ORDER BY doc_id ROWS BETWEEN
          |           UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb
          |  FROM documents)
          |SELECT CAST(floor(cb / 65536.0) AS BIGINT) AS bin,
          |       count(*) AS n_files, CAST(sum(n_chars) AS BIGINT) AS bytes,
          |       min(doc_id) AS first_id, max(doc_id) AS last_id
          |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,


      // the bucketed tables reproduce orders/lineitem exactly, so the
      // oracle joins the originals; co-location is a plan property
      // (PlanSpec), not a value property
      "q_bucket_join" ->
        """SELECT o_orderpriority, count(*) AS n_items,
          |       CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
          |       CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_price
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,


      // the fixed-width round-trip reproduces lineitem exactly, so the oracle
      // aggregates the original table directly
      "q_dsv2_scan" ->
        """SELECT l_returnflag AS rflag,
          |       count(*) AS n,
          |       CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
          |       strftime(min(l_shipdate), '%Y-%m-%d') AS min_sdate,
          |       count(DISTINCT l_orderkey) AS n_orders
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,


      // metadata-only pruning: zone maps from the same month bucketing,
      // predicates as DATE literals -> epoch days, skip test mx<lo|mn>hi
      "q_zonemap_prune" -> {
        val predVals = zonePreds
          .map { case (n, lo, hi) => s"('$n', DATE '$lo', DATE '$hi')" }
          .mkString(", ")
        s"""WITH zm AS (
           |  SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS file_id,
           |         CAST(min(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))) AS BIGINT) AS mn,
           |         CAST(max(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))) AS BIGINT) AS mx,
           |         CAST(count(*) AS BIGINT) AS nrows
           |  FROM lineitem GROUP BY 1),
           |p AS (SELECT pred,
           |             CAST(date_diff('day', DATE '1970-01-01', lo) AS BIGINT) AS lo,
           |             CAST(date_diff('day', DATE '1970-01-01', hi) AS BIGINT) AS hi
           |      FROM (VALUES $predVals) t(pred, lo, hi)),
           |ev AS (SELECT p.pred, p.lo, p.hi, zm.nrows,
           |              (zm.mx < p.lo OR zm.mn > p.hi) AS skipped
           |       FROM zm CROSS JOIN p)
           |SELECT pred, lo, hi, CAST(count(*) AS BIGINT) AS n_files,
           |       CAST(sum(CASE WHEN skipped THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
           |       CAST(sum(CASE WHEN skipped THEN nrows ELSE 0 END) AS BIGINT) AS rows_skipped,
           |       CAST(sum(CASE WHEN NOT skipped THEN nrows ELSE 0 END) AS BIGINT) AS rows_scanned
           |FROM ev GROUP BY 1, 2, 3 ORDER BY pred""".stripMargin
      },


      "q_partition_layout" ->
        """WITH ev AS (
          |  SELECT event_type AS v1, strftime(ts, '%Y-%m-%d') AS v2,
          |         CAST(user_id % 64 AS VARCHAR) AS v3
          |  FROM events),
          |st AS (
          |  SELECT 'day' AS cand, v2 AS v FROM ev
          |  UNION ALL SELECT 'event_type', v1 FROM ev
          |  UNION ALL SELECT 'user_mod64', v3 FROM ev),
          |g AS (SELECT cand, v, count(*) AS n FROM st GROUP BY 1, 2)
          |SELECT cand, count(*) AS n_partitions,
          |       CAST(max(n) AS BIGINT) AS max_rows,
          |       CAST(min(n) AS BIGINT) AS min_rows,
          |       CAST(sum(n) AS BIGINT) AS n_rows,
          |       CAST((max(n) * count(*) * 100) // sum(n) AS BIGINT) AS skew_x100,
          |       (count(*) BETWEEN 5 AND 10000
          |        AND (max(n) * count(*) * 100) // sum(n) < 300) AS recommended
          |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,


      // high bits of the Knuth multiplicative hash; ·8 then >>32 is an
      // exact power-of-two division, integer end to end
      "q_shard_assign" ->
        """WITH b AS (
          |  SELECT *, ((((doc_id * 2654435761) % 4294967296) * 8) >> 32) AS shard
          |  FROM documents)
          |SELECT shard, count(*) AS n_docs,
          |       CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
          |       count(DISTINCT lang) AS n_langs,
          |       CAST(min(doc_id) AS BIGINT) AS min_doc,
          |       CAST(max(doc_id) AS BIGINT) AS max_doc
          |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,


      // the oracle recomputes the two-generation split from the live
      // table: generation 1 (l_linenumber=1) has no disc_c, so its
      // rows contribute null to the merged column
      "q_schema_evolution" ->
        """SELECT l_returnflag AS rflag, count(*) AS n,
          |       count(CASE WHEN l_linenumber = 2 THEN 1 END) AS n_with_disc,
          |       CAST(sum(floor(l_quantity)) AS BIGINT) AS sum_qty,
          |       CAST(sum(CASE WHEN l_linenumber = 2
          |                     THEN floor(l_discount * 100) END) AS BIGINT) AS sum_disc
          |FROM lineitem WHERE l_linenumber IN (1, 2)
          |GROUP BY 1 ORDER BY 1""".stripMargin,


      "q_full_outer_recon" ->
        """WITH a AS (
          |  SELECT o_custkey, count(*) AS n_a,
          |         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_a
          |  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01' GROUP BY 1),
          |b AS (
          |  SELECT o_custkey, count(*) AS n_b,
          |         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_b
          |  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' GROUP BY 1),
          |j AS (
          |  SELECT CASE WHEN a.o_custkey IS NULL THEN 'right_only'
          |              WHEN b.o_custkey IS NULL THEN 'left_only'
          |              ELSE 'changed' END AS status,
          |         COALESCE(cents_b, 0) - COALESCE(cents_a, 0) AS delta_cents
          |  FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey)
          |SELECT status, count(*) AS n_customers,
          |       CAST(sum(delta_cents) AS BIGINT) AS total_delta_cents
          |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,


      "q_url_parse" ->
        """WITH u AS (
          |  SELECT 'https://' || source || '.example.com/docs/' || lang || '/'
          |           || doc_id || '?ref=r' || (n_chars % 7) AS url
          |  FROM documents),
          |p AS (
          |  SELECT regexp_extract(url, '^https?://([^/?#]+)', 1) AS host,
          |         regexp_extract(url, '^https?://[^/?#]+/[^/?#]+/([^/?#]+)', 1) AS seg2,
          |         regexp_extract(url, '[?&]ref=([^&#]*)', 1) AS ref
          |  FROM u)
          |SELECT host, count(*) AS n_urls,
          |       CAST(count(DISTINCT ref) AS BIGINT) AS n_refs,
          |       CAST(count(DISTINCT seg2) AS BIGINT) AS n_langs
          |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,

      // case/query/fragment/trailing-slash variants collapse to one
      // canonical key; regexes identical to the Spark side
      "q_url_dedup" ->
        """WITH raw AS (
          |  SELECT doc_id,
          |         'https://' || source || '.Example.COM/docs/' || lang || '/'
          |           || doc_id || '?ref=r' || (n_chars % 7) AS url
          |  FROM documents
          |  UNION ALL
          |  SELECT doc_id,
          |         'HTTPS://' || upper(source) || '.example.com/docs/' || lang
          |           || '/' || doc_id || '/?utm_source=feed&utm_medium=rss#sec' AS url
          |  FROM documents),
          |c AS (
          |  SELECT url,
          |         lower(regexp_extract(url, '^[hH][tT][tT][pP][sS]?://([^/?#]+)', 1))
          |           || regexp_replace(
          |                regexp_extract(url, '^[hH][tT][tT][pP][sS]?://[^/?#]+([^?#]*)', 1),
          |                '/$', '') AS canonical,
          |         lower(regexp_extract(url, '^[hH][tT][tT][pP][sS]?://([^/?#]+)', 1)) AS host
          |  FROM raw)
          |SELECT host, count(*) AS n_raw,
          |       CAST(count(DISTINCT url) AS BIGINT) AS n_distinct_raw,
          |       CAST(count(DISTINCT canonical) AS BIGINT) AS n_canonical
          |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,


      "q_cdc_tombstone" ->
        """WITH ops AS (
          |  SELECT user_id, event_id, ts, event_type, value,
          |         CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op
          |  FROM events),
          |last AS (
          |  SELECT user_id, event_type, value, op,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM ops)
          |SELECT user_id, event_type, value FROM last
          |WHERE rn = 1 AND op <> 'D' ORDER BY user_id""".stripMargin,
  )
}
