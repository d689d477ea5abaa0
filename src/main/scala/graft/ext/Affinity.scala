package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Within-basket co-occurrence mining: association rules
  * (support / confidence / lift) and token PMI.
  *
  * Both operators share one skeleton: distinct (basket, item) pairs →
  * frequency-prune the item vocabulary → within-basket self-join with
  * `item1 < item2` → one hash aggregate over the pair grid. The pruning
  * step is the 100-TB design decision: the classic first Apriori pass.
  * Pair-space per basket is k·(k−1)/2 for a k-item basket, and a single
  * pathological basket (a crawl page listing every product, a document
  * containing the whole vocabulary) makes that quadratic. Filtering the
  * item table to frequent items FIRST — a broadcast semi-join, since the
  * surviving vocabulary is small by construction — bounds k before any
  * pairing happens. The final aggregate is map-side combined, so shuffle
  * volume is bounded by the frequent-item grid (|V|²/2), not by rows.
  *
  * All counts are exact longs; ratios (support, confidence, lift, PMI)
  * are single divisions of exact longs, so results are cross-engine
  * drift-free up to one final rounding.
  */
object Affinity {

  /** Distinct (basket, item) membership — the input shape both miners
    * consume. Distinct matters: a basket listing an item twice is one
    * co-occurrence, not two (and dedup here keeps the join fan-out
    * bounded by basket cardinality).
    */
  def basketItems(df: DataFrame, basket: Column, item: Column): DataFrame =
    df.select(basket.as("basket"), item.as("item")).distinct()

  /** Item → basket-frequency over [[basketItems]] output, pruned to
    * items appearing in at least `minCount` baskets.
    */
  def frequentItems(bi: DataFrame, minCount: Long): DataFrame =
    bi.groupBy("item").agg(count(lit(1)).as("n_item"))
      .filter(col("n_item") >= minCount)

  /** Co-occurrence counts over ordered pairs (item1 < item2) of
    * frequent items. `freq` is broadcast — it is the pruned vocabulary,
    * small by construction — so the corpus-side table never shuffles
    * for the pruning.
    *
    * Pair generation collects each basket's (pruned, sorted) item set
    * and expands pairs with a narrow array lambda — ONE basket-keyed
    * shuffle, no self-join: the join form exchanges the membership
    * table twice and shuffles again for the pair aggregate. Collecting
    * a basket is safe exactly when pairing it is: pair output is
    * quadratic in basket size either way, so a basket too large to
    * collect was already too large to pair — prune harder (higher
    * `minCount`), or cap basket size upstream, in both designs.
    */
  def pairCounts(bi: DataFrame, freq: DataFrame): DataFrame = {
    val kept = bi.join(broadcast(freq.select("item")), Seq("item"), "left_semi")
    kept.groupBy("basket")
      .agg(sort_array(collect_set(col("item"))).as("items"))
      .filter(size(col("items")) >= 2)
      .select(explode(expr(
        """flatten(transform(items, (x, i) ->
          |  transform(slice(items, i + 2, size(items)), y ->
          |    named_struct('item1', x, 'item2', y))))""".stripMargin)).as("p"))
      .groupBy(col("p.item1").as("item1"), col("p.item2").as("item2"))
      .agg(count(lit(1)).as("n_pair"))
  }

  /** Ordered-triple co-occurrence counts (item1 < item2 < item3) of
    * frequent items — the 3-itemset stage of A-priori. Same design as
    * [[pairCounts]]: the pruned vocabulary broadcasts for a semi-join
    * prune, each basket collapses to its sorted item set in ONE
    * basket-keyed shuffle, and triples expand with a nested array
    * lambda — no self-join, so the only quadratic-free cost is the
    * cubic-in-basket-size expansion itself, which the `minCount` prune
    * bounds exactly as in the pair stage (a basket too large to cube
    * was too large to mine; prune harder).
    */
  def tripleCounts(bi: DataFrame, freq: DataFrame): DataFrame = {
    val kept = bi.join(broadcast(freq.select("item")), Seq("item"), "left_semi")
    kept.groupBy("basket")
      .agg(sort_array(collect_set(col("item"))).as("items"))
      .filter(size(col("items")) >= 3)
      .select(explode(expr(
        """flatten(transform(items, (x, i) ->
          |  flatten(transform(slice(items, i + 2, size(items)), (y, j) ->
          |    transform(slice(items, i + j + 3, size(items)), z ->
          |      named_struct('item1', x, 'item2', y, 'item3', z))))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.item1").as("item1"), col("p.item2").as("item2"),
        col("p.item3").as("item3"))
      .agg(count(lit(1)).as("n_triple"))
  }

  /** Frequent 3-itemsets with basket support: [[tripleCounts]] over the
    * `minItemCount`-pruned vocabulary, kept at `minTripleCount`, with
    * support = n_triple / |baskets| (the basket total computed once and
    * broadcast, as in [[associationRules]]).
    */
  def frequentTriples(df: DataFrame, basket: Column, item: Column,
      minItemCount: Long, minTripleCount: Long): DataFrame = {
    // persist the distinct membership and the pruned vocabulary: bi is
    // consumed by the vocabulary, the basket total AND the triple
    // expansion (freq twice more) — each pruning different columns, so
    // nothing ReusedExchange can dedupe; without the cache the full
    // scan+distinct chain replays per consumer (round 14, guide §2.4)
    val bi = Materialize.persist(basketItems(df, basket, item))
    val freq = Materialize.persist(frequentItems(bi, minItemCount))
    val total = bi.select(countDistinct(col("basket")).as("n_baskets"))
    Materialize.releaseAfterUse(
      tripleCounts(bi, freq)
        .filter(col("n_triple") >= minTripleCount)
        .crossJoin(broadcast(total))
        .select(col("item1"), col("item2"), col("item3"), col("n_triple"),
          round(col("n_triple").cast("double") / col("n_baskets").cast("double"), 6)
            .as("support")),
      bi, freq)
  }

  /** Association rules over baskets: for each frequent ordered pair,
    * support = P(1∧2), confidence in both directions, and lift =
    * P(1∧2) / (P(1)·P(2)). The basket total is computed once here
    * (one countDistinct over the basket ids) and broadcast into the
    * per-pair probabilities — never recounted per pair.
    */
  def associationRules(df: DataFrame, basket: Column, item: Column,
      minItemCount: Long, minPairCount: Long): DataFrame = {
    // bi/freq persist + self-release: see [[frequentTriples]]
    val bi = Materialize.persist(basketItems(df, basket, item))
    val freq = Materialize.persist(frequentItems(bi, minItemCount))
    val total = bi.select(countDistinct(col("basket")).as("n_baskets"))
    Materialize.releaseAfterUse(pairCounts(bi, freq)
      .filter(col("n_pair") >= minPairCount)
      .join(broadcast(freq.withColumnRenamed("item", "item1")
        .withColumnRenamed("n_item", "n1")), "item1")
      .join(broadcast(freq.withColumnRenamed("item", "item2")
        .withColumnRenamed("n_item", "n2")), "item2")
      .crossJoin(broadcast(total))
      .select(col("item1"), col("item2"), col("n_pair"), col("n1"), col("n2"),
        round(col("n_pair").cast("double") / col("n_baskets").cast("double"), 6)
          .as("support"),
        round(col("n_pair").cast("double") / col("n1").cast("double"), 6)
          .as("conf_1to2"),
        round(col("n_pair").cast("double") / col("n2").cast("double"), 6)
          .as("conf_2to1"),
        round(col("n_pair").cast("double") * col("n_baskets").cast("double") /
          (col("n1") * col("n2")).cast("double"), 6).as("lift")),
      bi, freq)
  }

  /** Item-item collaborative filtering: cosine (Ochiai) similarity
    * between items from basket co-occurrence — cos(i,j) =
    * n_ij / √(n_i·n_j) — cut to the top `k` neighbors per item, the
    * classic "customers who bought X also bought" kernel. Built on the
    * same pair scaffold as [[associationRules]] (pruned vocabulary
    * broadcast, narrow array-lambda pair expansion); the per-item
    * top-k ranks on the (rounded cosine DESC, neighbor id) total
    * order, so ties cannot flip cross-engine or under retries. Pairs
    * are emitted in BOTH directions before ranking — each item sees
    * its full neighbor list.
    */
  def itemCosineTopK(df: DataFrame, basket: Column, item: Column,
      minItemCount: Long, minPairCount: Long, k: Int): DataFrame = {
    // bi/freq persist + self-release: see [[frequentTriples]]; pairs
    // additionally persists because the both-directions union consumes
    // the whole pair derivation twice
    val bi = Materialize.persist(basketItems(df, basket, item))
    val freq = Materialize.persist(frequentItems(bi, minItemCount))
    val pairs = Materialize.persist(pairCounts(bi, freq)
      .filter(col("n_pair") >= minPairCount))
    val both = pairs.unionAll(pairs.select(col("item2").as("item1"),
      col("item1").as("item2"), col("n_pair")))
    val scored = both
      .join(broadcast(freq.withColumnRenamed("item", "item1")
        .withColumnRenamed("n_item", "n1")), "item1")
      .join(broadcast(freq.withColumnRenamed("item", "item2")
        .withColumnRenamed("n_item", "n2")), "item2")
      .select(col("item1"), col("item2"), col("n_pair"),
        round(col("n_pair").cast("double") /
          sqrt((col("n1") * col("n2")).cast("double")), 6).as("cosine"))
    Materialize.releaseAfterUse(
      scored
        .withColumn("rank", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("item1").orderBy(col("cosine").desc, col("item2"))))
        .filter(col("rank") <= k)
        .select(col("item1"), col("rank").cast("int").as("rank"),
          col("item2"), col("n_pair"), col("cosine")),
      bi, freq, pairs)
  }

  /** Pointwise mutual information of token pairs co-occurring in
    * documents: PMI(x,y) = ln( P(x,y) / (P(x)·P(y)) ) with document-
    * level probabilities. Same skeleton as [[associationRules]] —
    * the vocabulary prune IS the scale control here, because document
    * token sets are long-tailed and pairing an unpruned vocabulary is
    * quadratic in document length.
    */
  def pmiPairs(df: DataFrame, doc: Column, term: Column,
      minTermCount: Long, minPairCount: Long): DataFrame = {
    // bi/freq persist + self-release: see [[frequentTriples]]
    val bi = Materialize.persist(basketItems(df, doc, term))
    val freq = Materialize.persist(frequentItems(bi, minTermCount))
    val total = bi.select(countDistinct(col("basket")).as("n_docs"))
    Materialize.releaseAfterUse(pairCounts(bi, freq)
      .filter(col("n_pair") >= minPairCount)
      .join(broadcast(freq.withColumnRenamed("item", "item1")
        .withColumnRenamed("n_item", "n1")), "item1")
      .join(broadcast(freq.withColumnRenamed("item", "item2")
        .withColumnRenamed("n_item", "n2")), "item2")
      .crossJoin(broadcast(total))
      .select(col("item1").as("term1"), col("item2").as("term2"),
        col("n_pair"), col("n1"), col("n2"),
        round(log(col("n_pair").cast("double") * col("n_docs").cast("double") /
          (col("n1") * col("n2")).cast("double")), 6).as("pmi")),
      bi, freq)
  }

  /** Last-touch attribution: each conversion event is credited to the
    * latest STRICTLY-EARLIER touch event of the same key (the
    * marketing-funnel readout; conversions with no prior touch fall in
    * the `direct` bucket).
    *
    * Determinism is designed in, not assumed: the carried touch is
    * `max(struct(ts, channel))` over a RANGE frame ending at
    * `1 preceding` on the integral event time — a frame that contains
    * exactly the strictly-earlier rows REGARDLESS of how equal-ts rows
    * are ordered within a partition, where a ROWS frame would make the
    * answer depend on tie order. Equal-ts touches tie-break to the max
    * channel string (struct comparison), the same rule any engine
    * applies to the same struct.
    *
    * Scale shape: one hash exchange on the key, one per-key sort —
    * the window and the final aggregate share nothing worse; keys are
    * high-cardinality users, so reducers spread. Counts exact.
    */
  def lastTouchAttribution(df: DataFrame, key: Column, tsInt: Column,
                           channel: Column, isConversion: Column,
                           isTouch: Column): DataFrame = {
    val w = Window.partitionBy("k").orderBy("t")
      .rangeBetween(Window.unboundedPreceding, -1)
    df.select(key.as("k"), tsInt.as("t"), channel.as("ch"),
        isConversion.as("conv"), isTouch.as("touch"))
      .withColumn("attr",
        max(when(col("touch"), struct(col("t"), col("ch")))).over(w))
      .filter(col("conv"))
      .groupBy(coalesce(col("attr.ch"), lit("direct")).as("channel"))
      .agg(count(lit(1)).as("n_conversions"))
  }

  /** Linear (equal-credit) multi-touch attribution: each conversion
    * splits one unit of credit equally over ALL its touches inside the
    * lookback window `(conv − windowT, conv)`; conversions with no
    * in-window touch credit `direct`.
    *
    * Credit is integer parts-per-billion (`1e9 / k`, floor), summed as
    * exact longs — a float credit sum would be partition-order
    * dependent, this one is associative by construction and the single
    * float division happens once per output channel. The residue of
    * the floor division stays un-attributed (≤ k−1 ppb per
    * conversion); `n_touches` carries the exact contact count.
    *
    * Scale shape: the touch↔conversion join is keyed by the entity and
    * time-bounded, so fan-out per conversion is its in-window touch
    * count, never the user's history; both aggregates share the
    * (key, conv-time) partitioning. The anti-join for `direct` reuses
    * the credited pair frame.
    */
  def linearAttribution(df: DataFrame, key: Column, tsInt: Column,
                        channel: Column, isConversion: Column,
                        isTouch: Column, windowT: Long): DataFrame = {
    val e = df.select(key.as("k"), tsInt.as("t"), channel.as("ch"),
      isConversion.as("conv"), isTouch.as("touch"))
    val convs = e.filter(col("conv")).select(col("k"), col("t").as("ct"))
    val touches = e.filter(col("touch"))
      .select(col("k"), col("t").as("tt"), col("ch"))
    val credited = convs.join(touches, Seq("k"))
      .filter(col("tt") < col("ct") && col("ct") - col("tt") <= lit(windowT))
    val perConv = credited.groupBy("k", "ct").agg(count(lit(1)).as("n_touch"))
    val byChannel = credited.join(perConv, Seq("k", "ct"))
      .groupBy("ch")
      .agg(sum(expr("1000000000 div n_touch")).as("credit_ppb"),
        count(lit(1)).as("n_touches"))
    val direct = convs
      .join(credited.select("k", "ct").distinct(), Seq("k", "ct"), "left_anti")
      .agg(count(lit(1)).as("n_direct"))
      .select(lit("direct").as("ch"),
        (col("n_direct") * lit(1000000000L)).as("credit_ppb"),
        lit(0L).as("n_touches"))
      .filter(col("credit_ppb") > 0)
    byChannel.unionByName(direct)
      .select(col("ch").as("channel"),
        round(col("credit_ppb").cast("double") / 1e9, 6).as("credit"),
        col("n_touches"))
  }

  /** Slope-one recommender model table: for every ordered item pair
    * (i < j), the average per-user rating deviation
    * dev_ij = Σ_u (r_ui − r_uj) / n_ij over users who rated both —
    * the entire "training" of the classic slope-one CF baseline, and
    * the join table its prediction step consumes (predict r_uj from
    * r_ui + (−)dev_ij). Ratings are caller-quantized integers (the
    * module contract), so the deviation numerator and co-rating count
    * are exact longs; the one division rounds at 6. Pairs below
    * `minCo` co-raters drop — an unsupported deviation is noise.
    *
    * Scale shape (the [[pairCounts]] skeleton): ratings collapse to
    * one row per (user, item) in a single map-side-combined sum, each
    * user's item set collects and expands ordered pairs with a narrow
    * array lambda — ONE user-keyed shuffle, no self-join — and the
    * pair aggregate is map-side combined, bounded by the item-catalog
    * grid |V|²/2, never by rows. Per-user fan-out is k·(k−1)/2 for a
    * k-item user: bound the item vocabulary (brands, categories — not
    * raw SKUs) exactly as the miners do.
    */
  def slopeOneDeviations(ratings: DataFrame, user: Column, item: Column,
      rating: Column, minCo: Long,
      itemDict: Option[DataFrame] = None): DataFrame = {
    val perUI = ratings
      .select(user.as("u"), item.as("i"), rating.cast("long").as("r"))
      .groupBy("u", "i").agg(sum("r").as("r"))
    // Integer-dictionary the item vocabulary BEFORE pairing: the pair
    // expansion is the row-scale hot loop (Σ_u k_u·(k_u−1)/2 rows —
    // 135M at the 30× sweep), and emitting a packed long key instead
    // of a two-string struct keeps the explode, the partial-aggregate
    // hash, and the shuffle on primitive longs (30× A/B: 46.2 s →
    // measured below). The dictionary is order-preserving
    // (row_number over the sorted vocabulary — a global window over a
    // VOCABULARY-sized frame, the blessed grid pattern), so i < j
    // orientation is still plain item order. Callers pass `itemDict`
    // (one distinct-item column) when a DIMENSION table knows the
    // vocabulary — deriving it from `ratings` would re-run the whole
    // upstream fact pipeline for one tiny distinct. A caller-supplied
    // itemDict MUST be a superset of the rated items: the dictionary
    // join below is inner, so ratings on items absent from the dict
    // are dropped (pass None to derive the vocabulary from `ratings`
    // when coverage is uncertain).
    val vocab = itemDict.getOrElse(ratings.select(item.as("i")).distinct())
      .select(col("i")).distinct()
    // Loud guard on the packed-key shift (round-13 advice): iid is the
    // dense row_number 1..|V|, so any iid ≥ 2^20 means the pack below
    // WOULD collide — raise instead of silently merging pair counts.
    // The check rides the vocabulary-sized dictionary (no extra job,
    // one codegen branch per dict row), and 2^20 ids is far past the
    // bounded-catalog contract in the scale note above.
    val packShift = 1048576L // 2^20, matches the literals in the expr
    val dict = vocab
      .withColumn("iid", row_number().over(Window.orderBy("i")).cast("long"))
      .withColumn("iid",
        when(col("iid") < packShift, col("iid")).otherwise(raise_error(concat(
          lit("slopeOneDeviations: item vocabulary exceeds 2^20 ids (iid="),
          col("iid").cast("string"),
          lit(") — the packed pair key would collide; dictionary-encode to "
            + "a bounded catalog (brands/categories, not raw SKUs)")))))
    val withId = perUI.join(broadcast(dict), "i")
      .select(col("u"), col("iid"), col("r"))
    val packed = withId.groupBy("u")
      .agg(sort_array(collect_list(struct(col("iid"), col("r")))).as("items"))
      .filter(size(col("items")) >= 2)
      .select(explode(expr(
        """flatten(transform(items, (x, ix) ->
          |  transform(slice(items, ix + 2, size(items)), y ->
          |    named_struct('pk', x.iid * 1048576L + y.iid,
          |                 'd', x.r - y.r))))""".stripMargin)).as("p"))
      .groupBy(col("p.pk").as("pk"))
      .agg(count(lit(1)).as("n_co"), sum(col("p.d")).as("dev_num"))
      .filter(col("n_co") >= minCo)
    packed
      .withColumn("ii", expr("pk div 1048576"))
      .withColumn("jj", pmod(col("pk"), lit(1048576L)))
      .join(broadcast(dict.select(col("iid").as("ii"), col("i").as("item_i"))), "ii")
      .join(broadcast(dict.select(col("iid").as("jj"), col("i").as("item_j"))), "jj")
      .select(col("item_i"), col("item_j"), col("n_co"), col("dev_num"),
        round(col("dev_num").cast("double") / col("n_co").cast("double"), 6)
          .as("dev"))
  }
}
