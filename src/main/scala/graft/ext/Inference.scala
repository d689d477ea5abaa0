package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Closed-form statistical inference over groups: Welch's two-sample
  * t-test, simple linear regression, and mutual information between two
  * categorical columns.
  *
  * Everything here reduces to EXACT INTEGER power sums (n, Σx, Σy, Σxy,
  * Σx², Σy², or contingency counts) aggregated in one map-side-combined
  * pass, with the floating-point formula applied only to the per-group
  * sums at the very end. That is simultaneously the scale story — the
  * shuffle carries a handful of longs per group, never rows, so a
  * 100-TB fact table costs one scan plus a group-cardinality-bounded
  * exchange — and the determinism story: integer sums are associative,
  * so results are bit-identical regardless of partitioning or engine,
  * with one final rounding where a division or log produces a double.
  * (The same cannot be said of aggregating doubles directly; callers
  * quantize measures to integers — e.g. `floor(value·100)` cents —
  * before handing them in.)
  *
  * Storage: a grid or base frame that several consumers of a lazy
  * result read is persisted and released after the result's first run
  * ([[Materialize.releaseAfterUse]]); a second run recomputes it.
  */
object Inference {

  private def meanC(n: Column, s: Column): Column =
    s.cast("double") / n.cast("double")

  /** Sample variance from power sums: (n·ss − s²) / (n·(n−1)).
    * The power-sum products are computed in DOUBLE, not Long: s² and
    * n·ss overflow Int64 silently (non-ANSI wrap) once s reaches
    * ~3e9, while the double form degrades gracefully (exact until
    * 2^53, then rounded) and matches the oracle's op order exactly.
    */
  private def varC(n: Column, s: Column, ss: Column): Column =
    (n.cast("double") * ss.cast("double") - s.cast("double") * s.cast("double")) /
      (n.cast("double") * (n - lit(1)).cast("double"))

  /** Welch's unequal-variance two-sample t-test between arms 0 and 1
    * (`arm` must evaluate to 0/1 — e.g. a deterministic id split), per
    * metric group. One conditional aggregate widens the per-arm power
    * sums onto a single row per group — no join, no pivot shuffle.
    * Emits arm means, mean difference, Welch t statistic, and the
    * Welch–Satterthwaite degrees of freedom, all rounded at 6.
    */
  def welchT(df: DataFrame, group: Seq[String], arm: Column, x: Column): DataFrame = {
    val armsWide = df
      .select(group.map(col) ++ Seq(arm.cast("int").as("arm"),
        x.cast("long").as("x")): _*)
      .groupBy(group.map(col): _*)
      .agg(
        sum(when(col("arm") === 0, lit(1L)).otherwise(lit(0L))).as("n0"),
        sum(when(col("arm") === 0, col("x")).otherwise(lit(0L))).as("s0"),
        sum(when(col("arm") === 0, col("x") * col("x")).otherwise(lit(0L))).as("ss0"),
        sum(when(col("arm") === 1, lit(1L)).otherwise(lit(0L))).as("n1"),
        sum(when(col("arm") === 1, col("x")).otherwise(lit(0L))).as("s1"),
        sum(when(col("arm") === 1, col("x") * col("x")).otherwise(lit(0L))).as("ss1"))
    val se0 = varC(col("n0"), col("s0"), col("ss0")) / col("n0").cast("double")
    val se1 = varC(col("n1"), col("s1"), col("ss1")) / col("n1").cast("double")
    val se2 = se0 + se1
    // arm-size guards, the cohensD convention: an empty arm's mean and
    // a single-row arm's variance divide by zero, where Spark's SQL
    // divide nulls but an IEEE engine produces inf/NaN — null is the
    // portable (and honest) answer for every derived statistic
    val both1 = col("n0") >= 1 && col("n1") >= 1
    val both2 = col("n0") >= 2 && col("n1") >= 2
    armsWide.select(group.map(col) ++ Seq(
      col("n0"), col("n1"),
      when(col("n0") >= 1, round(meanC(col("n0"), col("s0")), 6)).as("mean0"),
      when(col("n1") >= 1, round(meanC(col("n1"), col("s1")), 6)).as("mean1"),
      when(both1,
        round(meanC(col("n1"), col("s1")) - meanC(col("n0"), col("s0")), 6))
        .as("mean_diff"),
      when(both2, round((meanC(col("n1"), col("s1")) -
        meanC(col("n0"), col("s0"))) / sqrt(se2), 6)).as("t_stat"),
      when(both2, round(se2 * se2 /
        (se0 * se0 / (col("n0") - lit(1)).cast("double") +
         se1 * se1 / (col("n1") - lit(1)).cast("double")), 6))
        .as("welch_df")): _*)
  }

  /** Cohen's d effect size between arms 0 and 1 per metric group —
    * the "is the lift big or just significant" companion to [[welchT]]
    * (a t-stat grows with √n; d = (mean1 − mean0)/s_pooled does not):
    * s_pooled² = ((n0−1)·s0² + (n1−1)·s1²) / (n0+n1−2). Same one-pass
    * conditional power-sum aggregate as welchT (6 longs per group, no
    * join, no pivot); all floats are closed-form expressions over the
    * exact sums. Groups where either arm has < 2 rows or the pooled
    * variance is 0 emit null d. Emits (group, n0, n1, mean_diff,
    * pooled_sd, cohens_d), rounded at 6.
    */
  def cohensD(df: DataFrame, group: Seq[String], arm: Column, x: Column): DataFrame = {
    val armsWide = df
      .select(group.map(col) ++ Seq(arm.cast("int").as("arm"),
        x.cast("long").as("x")): _*)
      .groupBy(group.map(col): _*)
      .agg(
        sum(when(col("arm") === 0, lit(1L)).otherwise(lit(0L))).as("n0"),
        sum(when(col("arm") === 0, col("x")).otherwise(lit(0L))).as("s0"),
        sum(when(col("arm") === 0, col("x") * col("x")).otherwise(lit(0L))).as("ss0"),
        sum(when(col("arm") === 1, lit(1L)).otherwise(lit(0L))).as("n1"),
        sum(when(col("arm") === 1, col("x")).otherwise(lit(0L))).as("s1"),
        sum(when(col("arm") === 1, col("x") * col("x")).otherwise(lit(0L))).as("ss1"))
    val diff = meanC(col("n1"), col("s1")) - meanC(col("n0"), col("s0"))
    val pooledVar =
      ((col("n0") - lit(1)).cast("double") * varC(col("n0"), col("s0"), col("ss0")) +
       (col("n1") - lit(1)).cast("double") * varC(col("n1"), col("s1"), col("ss1"))) /
        (col("n0") + col("n1") - lit(2)).cast("double")
    armsWide.select(group.map(col) ++ Seq(
      col("n0"), col("n1"),
      // mean_diff needs BOTH arms non-empty: an empty arm's mean is a
      // 0/0 whose result is engine-specific (Spark nulls the integer-
      // backed division, IEEE engines produce NaN) — null is the one
      // portable answer, and it is also the honest one (round-10
      // ADVICE: pooled_sd/cohens_d were guarded but mean_diff was not)
      when(col("n0") >= 1 && col("n1") >= 1, round(diff, 6))
        .as("mean_diff"),
      when(col("n0") >= 2 && col("n1") >= 2, round(sqrt(pooledVar), 6))
        .as("pooled_sd"),
      when(col("n0") >= 2 && col("n1") >= 2 && pooledVar > 0,
        round(diff / sqrt(pooledVar), 6)).as("cohens_d")): _*)
  }

  /** Per-group simple linear regression y = a + b·x by the closed-form
    * least-squares solution, plus r². x and y must be integral (the
    * caller quantizes); the five power sums are exact longs, so slope /
    * intercept / r² are single double expressions over exact inputs.
    */
  def linearFit(df: DataFrame, group: Seq[String], x: Column, y: Column): DataFrame = {
    val sums = df
      .select(group.map(col) ++ Seq(x.cast("long").as("x"), y.cast("long").as("y")): _*)
      .groupBy(group.map(col): _*)
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val n = col("n").cast("double")
    val covN = col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double") / n
    val varXN = col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double") / n
    val varYN = col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double") / n
    sums.select(group.map(col) ++ Seq(
      col("n"),
      round(covN / varXN, 6).as("slope"),
      round(col("sy").cast("double") / n - (covN / varXN) * col("sx").cast("double") / n, 6)
        .as("intercept"),
      round(covN * covN / (varXN * varYN), 6).as("r2")): _*)
  }

  /** Two-sample Kolmogorov–Smirnov statistic between arms 0 and 1 of an
    * integral (caller-quantized) measure: D = max |F0(v) − F1(v)|, with
    * the 5%-level critical value 1.358·√((n0+n1)/(n0·n1)) and the
    * reject flag.
    *
    * Scale shape: counts collapse to the DISTINCT quantized value grid
    * first (map-side combined), so the one unavoidable ordered pass —
    * a global cumulative window, the CDF — runs over grid cells, not
    * rows. Quantization is therefore not just the determinism trick
    * (exact longs; the per-cell CDF gap is a pair of IEEE divisions)
    * but the scale bound: pick the grid so |grid| is thousands, and a
    * 100-TB measure costs one scan + one tiny sorted pass. Complements
    * [[graft.ext.ScaleOps]]' PSI drift gate: KS is binning-free on the
    * quantized scale and carries a significance threshold.
    */
  def ksTest(df: DataFrame, arm: Column, x: Column): DataFrame = {
    val cells = df.select(arm.cast("int").as("arm"), x.cast("long").as("v"))
      .groupBy("v")
      .agg(sum(when(col("arm") === 0, lit(1L)).otherwise(lit(0L))).as("c0"),
        sum(when(col("arm") === 1, lit(1L)).otherwise(lit(0L))).as("c1"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val n0 = sum("c0").over(Window.partitionBy())
    val n1 = sum("c1").over(Window.partitionBy())
    cells
      .select(
        (sum("c0").over(w).cast("double") / n0.cast("double") -
          sum("c1").over(w).cast("double") / n1.cast("double")).as("gap"),
        n0.as("n0"), n1.as("n1"))
      .groupBy("n0", "n1")
      .agg(round(max(abs(col("gap"))), 6).as("ks_stat"))
      .withColumn("crit_05",
        round(lit(1.358) * sqrt((col("n0") + col("n1")).cast("double") /
          (col("n0") * col("n1")).cast("double")), 6))
      .withColumn("reject_05", col("ks_stat") > col("crit_05"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) between arms 0 and 1 of an
    * integral (caller-quantized) measure — the nonparametric
    * complement to [[welchT]] when the distribution is skewed or
    * heavy-tailed. Emits U₁, the rank-biserial-free effect size
    * AUC = U₁/(n₀·n₁) (the probability a random arm-1 draw exceeds a
    * random arm-0 draw, ties half — exactly the ROC-AUC of the arm as
    * a classifier), and the tie-corrected normal-approximation z.
    *
    * Exactness trick: with ties, midranks are half-integers — so the
    * machinery carries DOUBLED ranks (2·midrank = 2·cumBefore+cnt+1,
    * an integer) and 2·U₁, keeping every aggregate an exact long; the
    * halving happens in the final float tower (x.5 is IEEE-exact).
    * Same distinct-value-grid scale shape as [[ksTest]]: counts
    * collapse map-side to the grid, the one ordered pass (cumulative
    * counts) runs over grid cells, not rows. z is null when the
    * tie-corrected variance is 0 (all values identical).
    */
  def mannWhitney(df: DataFrame, arm: Column, x: Column): DataFrame = {
    val cells = df.select(arm.cast("int").as("arm"), x.cast("long").as("v"))
      .groupBy("v")
      .agg(sum(when(col("arm") === 0, lit(1L)).otherwise(lit(0L))).as("c0"),
        sum(when(col("arm") === 1, lit(1L)).otherwise(lit(0L))).as("c1"))
    val wBefore = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cnt = col("c0") + col("c1")
    val sums = cells
      .withColumn("cb", coalesce(sum(col("c0") + col("c1")).over(wBefore), lit(0L)))
      .agg(sum("c0").as("n0"), sum("c1").as("n1"),
        sum(col("c1") * (lit(2) * col("cb") + cnt + 1)).as("r2"),
        sum(cnt * cnt * cnt - cnt).as("t3"))
    val u2 = col("r2") - col("n1") * (col("n1") + 1) // = 2·U₁, exact
    val varU = col("n0").cast("double") * col("n1").cast("double") / lit(12.0) *
      ((col("n0") + col("n1") + 1).cast("double") -
        col("t3").cast("double") /
          ((col("n0") + col("n1")).cast("double") *
            (col("n0") + col("n1") - 1).cast("double")))
    sums.select(col("n0"), col("n1"),
      (u2.cast("double") / lit(2.0)).as("u1"),
      round(u2.cast("double") /
        (lit(2.0) * col("n0").cast("double") * col("n1").cast("double")), 6)
        .as("auc"),
      when(varU > 0,
        round((u2 - col("n0") * col("n1")).cast("double") / lit(2.0) /
          sqrt(varU), 6)).as("z"))
  }

  /** Kaplan–Meier survival curve over integral durations, all events
    * observed (no censoring — the retention/churn readout: "what
    * fraction of entities survive past duration d"). Per distinct
    * duration: entities still at risk, deaths, and the product-limit
    * estimate S(d) = Π_{d_i ≤ d} (1 − deaths_i / risk_i).
    *
    * Determinism without drift: the product is computed as
    * exp(Σ ln(1 − d_i/n_i)) where the Σ is a CUMULATIVE window over
    * durations sorted ascending — a sequential left-to-right float sum
    * over the same ordered sequence in any engine, so the bits match
    * cross-engine even though float addition is non-associative. Every
    * ratio is one division of exact counts. S rounds at 1e-6.
    *
    * Scale shape: entities collapse to the distinct-duration grid
    * first (one map-side-combined count), so the ordered pass — the
    * same global-window shape as [[ksTest]]'s CDF — runs over grid
    * cells, not entities. Pick the duration unit so the grid stays
    * thousands of rows.
    */
  def kaplanMeier(df: DataFrame, duration: Column): DataFrame = {
    val deaths = df.select(duration.cast("long").as("d"))
      .groupBy("d").agg(count(lit(1)).as("deaths"))
    val wCum = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = sum("deaths").over(Window.partitionBy())
    deaths
      .withColumn("n_risk", total - sum("deaths").over(wCum) + col("deaths"))
      // a row where every remaining entity dies (only possible at the
      // final duration) zeroes the product: emit 0 explicitly instead
      // of ln(0) — engines disagree on whether ln(0) is -inf or an error
      .withColumn("_ln", when(col("deaths") < col("n_risk"), log(lit(1.0) -
        col("deaths").cast("double") / col("n_risk").cast("double"))))
      .withColumn("survival",
        when(col("deaths") === col("n_risk"), lit(0.0))
          .otherwise(round(exp(sum("_ln").over(wCum)), 6)))
      .select("d", "n_risk", "deaths", "survival")
  }

  /** Weight-of-evidence / information-value feature screen — the
    * credit-scoring staple that ranks a binned feature's separation of
    * a binary label: per bin, WOE = ln((g/G)/(b/B)) with a +0.5
    * Laplace guard on the bin counts (so empty-side bins stay finite),
    * and the bin's IV contribution (g/G − b/B)·WOE; Σ IV over bins is
    * the feature's screening score (rule of thumb: < 0.02 useless,
    * > 0.3 strong). The caller supplies the bin (quantile, equal-width,
    * categorical — same contract as [[ksTest]]'s grid).
    *
    * Scale shape: ONE map-side-combined contingency pass (shuffle =
    * bins, not rows); totals join back as a broadcast of one row. All
    * counts exact; WOE/IV are a fixed tower of two divisions and one
    * ln over identical integers cross-engine, rounded 1e-6.
    */
  def woeIv(df: DataFrame, bin: Column, label: Column): DataFrame = {
    val counts = df
      .select(bin.as("bin"), label.cast("int").as("y"))
      .groupBy("bin")
      .agg(sum(when(col("y") === 1, 1L).otherwise(0L)).as("g"),
        sum(when(col("y") === 0, 1L).otherwise(0L)).as("b"))
    val totals = counts.agg(sum("g").as("g_tot"), sum("b").as("b_tot"))
    val gShare = (col("g").cast("double") + lit(0.5)) / col("g_tot").cast("double")
    val bShare = (col("b").cast("double") + lit(0.5)) / col("b_tot").cast("double")
    counts.crossJoin(broadcast(totals))
      .select(col("bin"), col("g"), col("b"),
        round(log(gShare / bShare), 6).as("woe"),
        round((gShare - bShare) * log(gShare / bShare), 6).as("iv_part"))
  }

  /** Pearson chi-square test of independence between two categorical
    * columns, with Cramér's V effect size: one contingency pass, then
    * χ² = Σ_cells (O − E)²/E with E = n_x·n_y/n, dof = (|X|−1)(|Y|−1),
    * V = √(χ²/(n·min(|X|−1, |Y|−1))).
    *
    * Determinism: the per-cell contribution is a double, and a global
    * Σ of doubles is accumulation-order-dependent — so each cell is
    * quantized to nano-units (`round(c·1e9)` → long) and the SUM runs
    * over exact longs, which are associative under any partitioning or
    * engine. The ≤1e-9-per-cell quantization error is far below the
    * 1e-6 output rounding for any contingency table small enough to be
    * one (cells ≪ 1000). Same one-scan-plus-tiny-exchange scale shape
    * as [[mutualInfo]]; marginals and the total broadcast.
    */
  def chi2(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val joint = df.groupBy(xCol, yCol).agg(count(lit(1)).as("nxy"))
    val margX = joint.groupBy(xCol).agg(sum("nxy").as("nx"))
    val margY = joint.groupBy(yCol).agg(sum("nxy").as("ny"))
    val total = joint.agg(sum("nxy").as("n"),
      countDistinct(col(xCol)).as("dx"), countDistinct(col(yCol)).as("dy"))
    val e = col("nx").cast("double") * col("ny").cast("double") / col("n").cast("double")
    val d = col("nxy").cast("double") - e
    // the FULL dx×dy grid, not just observed cells: an absent cell
    // (O = 0) still contributes E to χ² — skipping zeros understates
    // the statistic exactly when the association is strongest
    margX.crossJoin(broadcast(margY))
      .join(joint, Seq(xCol, yCol), "left")
      .withColumn("nxy", coalesce(col("nxy"), lit(0L)))
      .crossJoin(broadcast(total))
      .select(col("n"), col("dx"), col("dy"),
        round(d * d / e * lit(1e9), 0).cast("long").as("c9"))
      .groupBy("n", "dx", "dy")
      .agg(sum("c9").as("chi9"))
      .select(col("n"),
        ((col("dx") - 1) * (col("dy") - 1)).as("dof"),
        round(col("chi9").cast("double") / lit(1e9), 6).as("chi2_stat"),
        round(sqrt(col("chi9").cast("double") / lit(1e9) /
          (col("n").cast("double") *
            least(col("dx") - 1, col("dy") - 1).cast("double"))), 6)
          .as("cramers_v"))
  }

  /** Sample autocorrelation function r_k for lags 1..maxLag over ONE
    * global integral series (aggregate first — days × metric, not raw
    * rows): r_k = Σ_{t>k}(y_t−ȳ)(y_{t−k}−ȳ) / Σ_t(y_t−ȳ)², the
    * standard ACF with the full-series mean. Clearing denominators by
    * N² turns every term into exact integer arithmetic:
    *   r_k = (N²·Σab_k − N·S·(Σa_k+Σb_k) + c_k·S²) / (N·(N·SS − S²))
    * over longs, with ONE final division — bit-identical cross-engine.
    *
    * Scale shape: the caller aggregates the fact table down to the
    * series grid first (same contract as [[ksTest]]'s quantized grid),
    * so the lag windows run over grid cells. One global window sort
    * over the series (bounded: it IS a series), one row out per lag.
    * Overflow bound: N^1.5·y_max·√N ≈ N²·y² must stay < 2⁶³ — coarsen
    * the series unit (or scale y down) past ~1e9·√N.
    */
  def autocorr(series: DataFrame, ord: Column, y: Column, maxLag: Int): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val w = Window.orderBy("ord")
    val base = series.select(ord.as("ord"), y.cast("long").as("y"))
    val lagged = (1 to maxLag).foldLeft(base)((d, k) =>
      d.withColumn(s"y_$k", lag("y", k).over(w)))
    val aggs = Seq(count(lit(1)).as("n"), sum("y").as("s"),
        sum(col("y") * col("y")).as("ss")) ++
      (1 to maxLag).flatMap(k => Seq(
        count(col(s"y_$k")).as(s"c$k"),
        sum(col("y") * col(s"y_$k")).as(s"sab$k"),
        sum(when(col(s"y_$k").isNotNull, col("y"))).as(s"sa$k"),
        sum(col(s"y_$k")).as(s"sb$k")))
    val sums = lagged.agg(aggs.head, aggs.tail: _*)
    val perLag = (1 to maxLag).map { k =>
      val num = col("n") * col("n") * col(s"sab$k") -
        col("n") * col("s") * (col(s"sa$k") + col(s"sb$k")) +
        col(s"c$k") * col("s") * col("s")
      val den = col("n") * (col("n") * col("ss") - col("s") * col("s"))
      struct(lit(k).cast("int").as("lag"), col(s"c$k").as("n_pairs"),
        round(num.cast("double") / den.cast("double"), 6).as("acf"))
    }
    sums.select(explode(array(perLag: _*)).as("r"))
      .select(col("r.lag"), col("r.n_pairs"), col("r.acf"))
  }

  /** Lagged cross-correlation between TWO integral series on one grid:
    * for each lag k in 0..maxLag, the Pearson correlation over the
    * aligned pairs (x_t, y_{t+k}) — "does x lead y by k steps?", the
    * lead-lag detection kernel (marketing spend → purchases, clicks →
    * conversions). Unlike [[autocorr]] (full-series mean, ACF
    * convention), each lag uses its own pair-set moments — the standard
    * lagged-Pearson convention, so xcf at lag 0 IS corr(x, y).
    *
    * Determinism: all six moment sums per lag (c, Σx, Σx², Σy, Σy²,
    * Σxy) are exact longs from one aggregate; per lag ONE expression
    *   r_k = (c·Σxy − Σx·Σy) / √((c·Σx²−Σx²̂)·(c·Σy²−Σy²̂))
    * evaluates in doubles (the two variance terms are exact longs that
    * convert exactly below 2⁵³; ·, √, / are correctly rounded IEEE ops
    * in both engines) — bit-identical cross-engine, rounded at 6.
    * Zero-variance sides yield null. Overflow bound: c·Σx² < 2⁶³, i.e.
    * series length × (length·x_max²) — coarsen the grid unit past that.
    *
    * Scale shape: the caller aggregates the fact table to the series
    * grid FIRST (the [[autocorr]] contract), so the lead windows run
    * over grid cells; one global window sort over the series (bounded:
    * it IS a series), one aggregate row, maxLag+1 rows out.
    */
  def crossCorr(series: DataFrame, ord: Column, x: Column, y: Column,
                maxLag: Int): DataFrame = {
    require(maxLag >= 0, "maxLag must be non-negative")
    val w = Window.orderBy("ord")
    val base = series.select(ord.as("ord"), x.cast("long").as("x"),
      y.cast("long").as("y"))
    val lagged = (0 to maxLag).foldLeft(base)((d, k) =>
      if (k == 0) d.withColumn("y_0", col("y"))
      else d.withColumn(s"y_$k", lead("y", k).over(w)))
    val aggs = (0 to maxLag).flatMap(k => Seq(
      count(col(s"y_$k")).as(s"c$k"),
      sum(when(col(s"y_$k").isNotNull, col("x"))).as(s"sx$k"),
      sum(when(col(s"y_$k").isNotNull, col("x") * col("x"))).as(s"sxx$k"),
      sum(col(s"y_$k")).as(s"sy$k"),
      sum(col(s"y_$k") * col(s"y_$k")).as(s"syy$k"),
      sum(col("x") * col(s"y_$k")).as(s"sxy$k")))
    val sums = lagged.agg(aggs.head, aggs.tail: _*)
    val perLag = (0 to maxLag).map { k =>
      val num = col(s"c$k") * col(s"sxy$k") - col(s"sx$k") * col(s"sy$k")
      val vx = col(s"c$k") * col(s"sxx$k") - col(s"sx$k") * col(s"sx$k")
      val vy = col(s"c$k") * col(s"syy$k") - col(s"sy$k") * col(s"sy$k")
      struct(lit(k).cast("int").as("lag"), col(s"c$k").as("n_pairs"),
        when(vx > 0 && vy > 0,
          round(num.cast("double") /
            sqrt(vx.cast("double") * vy.cast("double")), 6)).as("xcf"))
    }
    sums.select(explode(array(perLag: _*)).as("r"))
      .select(col("r.lag"), col("r.n_pairs"), col("r.xcf"))
  }

  /** Mutual information I(X;Y) in nats between two categorical columns,
    * from one contingency-count pass: I = Σ_xy p(x,y)·ln(p(x,y)/(p(x)p(y))).
    * Output is the per-x partial contribution plus the cell count, so
    * the caller can roll up to the scalar MI or inspect which categories
    * carry the association. Counts are exact; the log-ratio sum per x is
    * over at most |Y| terms, rounded at 6.
    */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val joint = df.groupBy(xCol, yCol).agg(count(lit(1)).as("nxy"))
    val margX = joint.groupBy(xCol).agg(sum("nxy").as("nx"))
    val margY = joint.groupBy(yCol).agg(sum("nxy").as("ny"))
    val total = joint.agg(sum("nxy").as("n"))
    joint
      .join(broadcast(margX), xCol).join(broadcast(margY), yCol)
      .crossJoin(broadcast(total))
      .withColumn("contrib",
        col("nxy").cast("double") / col("n").cast("double") *
          log(col("nxy").cast("double") * col("n").cast("double") /
            (col("nx") * col("ny")).cast("double")))
      .groupBy(xCol)
      .agg(count(lit(1)).as("n_cells"), sum("nxy").as("nx"),
        round(sum("contrib"), 6).as("mi_part"))
  }

  /** Benford first-significant-digit conformance screen over a positive
    * integral measure — the classic fabricated-data / unit-mixing
    * forensic: naturally-grown magnitudes follow P(d) = log₁₀(1+1/d);
    * hand-entered, capped, or synthesized values don't. Emits the full
    * 1..9 digit grid (absent digits still contribute E to χ², the
    * [[chi2]] rule) with exact observed counts, the expected
    * proportion, and the per-digit χ² contribution quantized at
    * nano-units so the total is an exact-long sum any reader can roll
    * up. The expected proportions are PLAN LITERALS (computed once on
    * the driver), never engine `log10` calls — the two engines' libm
    * need not agree to the last ulp.
    *
    * Scale shape: one map-side-combined 9-group aggregate over the
    * scan; the grid join broadcasts those (at most 9) counts. First-digit
    * extraction is numeric when possible; the string form used here
    * (first char of the decimal rendering) is exact for integral longs.
    */
  def benford(df: DataFrame, x: Column): DataFrame = {
    val counts = df.select(x.cast("long").as("v"))
      .filter(col("v") > 0)
      .select(substring(col("v").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val spark = df.sparkSession
    val expected = spark.range(1, 10).select(
      col("id").cast("int").as("digit"),
      typedLit(
        (1 to 9).map(d => math.log10(1.0 + 1.0 / d))
      ).getItem(col("id").cast("int") - 1).as("p"))
    val total = counts.agg(sum("n_obs").as("n"))
    // the hint goes on the build side: a left outer join cannot build
    // its preserved (left) side, and `counts` has at most 9 rows
    expected
      .join(broadcast(counts), Seq("digit"), "left")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      .crossJoin(broadcast(total))
      .select(col("digit"), col("n_obs"), col("n"),
        col("p").as("expected_p"),
        round(
          (col("n_obs").cast("double") - col("n").cast("double") * col("p")) *
          (col("n_obs").cast("double") - col("n").cast("double") * col("p")) /
          (col("n").cast("double") * col("p")) * lit(1e9), 0)
          .cast("long").as("chi2_nano"))
      .orderBy("digit")
  }

  /** Jackknife standard error of the per-group mean over a bounded
    * grid: leave-one-out resampling, the assumption-free uncertainty
    * estimate every reported mean should carry. The textbook form
    * (SE² = (n−1)/n · Σ(m̄₍ᵢ₎ − m̄)²) reduces algebraically to exact
    * integer arithmetic: m̄₍ᵢ₎ − m̄ = (S − n·xᵢ)/(n(n−1)), so
    * Q = Σ(S − n·xᵢ)² is computed over DECIMAL(38,0) (the squares
    * overflow int64 at profiler scale; decimal sums stay exact and
    * order-independent) and only the final sqrt/divisions are IEEE —
    * one fixed tower, cross-engine stable under round(4).
    *
    * Scale shape: the totals aggregate and the join-back share the
    * group-key partitioning (one exchange); the caller aggregates the
    * fact table to the grid first (the [[autocorr]] contract), so rows
    * here are grid cells. Overflow: (n·x_max)² < 10³⁸ — safe to
    * ~10¹⁹·cell, far past any real grid.
    */
  def jackknifeSE(series: DataFrame, keys: Seq[String], x: Column): DataFrame = {
    val base = series.select(keys.map(col) :+ x.cast("long").as("x"): _*)
    val tot = base.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum("x").as("s"))
    base.join(tot, keys)
      .select(keys.map(col) :+ col("n") :+ col("s")
        :+ (col("s") - col("n") * col("x")).cast("decimal(38,0)").as("d"): _*)
      .groupBy(keys.map(col) :+ col("n") :+ col("s"): _*)
      .agg(sum(col("d") * col("d")).as("q"))
      .select(keys.map(col)
        :+ col("n").as("n_periods")
        :+ round(col("s").cast("double") / col("n").cast("double"), 4).as("mean_x")
        :+ round(
          sqrt(col("q").cast("double") * (col("n") - lit(1)).cast("double") /
            col("n").cast("double")) /
          (col("n") * (col("n") - lit(1))).cast("double"), 4).as("jack_se"): _*)
  }

  /** Trailing-window Pearson correlation between two integral series
    * over one ordered grid: for each period, corr(a, b) over the last
    * `window` periods — the rolling co-movement monitor (metric vs
    * metric, arm vs arm) that flags coupling changes long before a
    * global correlation would. All six frame aggregates (n, Σa, Σb,
    * Σa², Σb², Σab) are exact longs; the correlation is one fixed
    * float tower (two sqrt, one division) over them — bit-identical
    * cross-engine. Undefined frames (either variance zero) yield null.
    *
    * Scale shape: the caller aggregates to the (bounded) series grid
    * first — the [[autocorr]] / [[Forecast.cusumChangepoint]] contract
    * — so the window runs over grid cells. Overflow bound:
    * window·a_max·b_max < 2⁶³ and n·Σa² < 2⁶³ — quantize the series
    * units down past ~3e9/√window.
    */
  def rollingCorr(series: DataFrame, ord: Column, a: Column, b: Column,
      window: Int): DataFrame = {
    require(window >= 2, "window must be >= 2")
    val w = Window.orderBy("ord").rowsBetween(-(window - 1), 0)
    val base = series.select(ord.as("ord"),
      a.cast("long").as("a"), b.cast("long").as("b"))
    val n = count(lit(1)).over(w)
    val sa = sum("a").over(w); val sb = sum("b").over(w)
    val saa = sum(col("a") * col("a")).over(w)
    val sbb = sum(col("b") * col("b")).over(w)
    val sab = sum(col("a") * col("b")).over(w)
    val num = (n * sab - sa * sb).cast("double")
    val da = (n * saa - sa * sa).cast("double")
    val db = (n * sbb - sb * sb).cast("double")
    base.select(col("ord"), n.as("n_win"),
        when(da > 0 && db > 0,
          round(num / (sqrt(da) * sqrt(db)), 6)).as("corr"))
      .orderBy("ord")
  }

  /** Cumulative gain / lift table for a scored binary classifier —
    * the model-eval twin of the calibration curve: rank the population
    * by score, cut into `buckets` equal slices, and per slice report
    * exact counts plus cumulative precision and lift vs the base rate.
    * Lift@decile-1 is THE number a data-selection pipeline quotes
    * ("the top 10% by classifier score is 3.2× richer in positives").
    *
    * Determinism: ranking orders by (pre-rounded score desc, id) — a
    * total order, so ntile assignment is engine-exact; every output
    * except `lift`/`cum_precision` is an exact count, and those two
    * are one division each over exact-long products.
    *
    * Scale: ntile needs a global rank — over the SCORED table this is
    * the one global sort of the eval job (ranking 10⁹ scored rows is
    * a sort-merge well inside Spark's wheelhouse; the per-bucket agg
    * that follows collapses map-side). For a quick gate at corpus
    * scale, pre-compute approx score-quantile edges and bucket by
    * range instead — the lift curve tolerates edge-rank error.
    */
  def liftTable(scored: DataFrame, id: Column, score: Column, label: Column,
                buckets: Int = 10): DataFrame = {
    require(buckets >= 2, "need at least 2 buckets")
    val ranked = scored.select(id.as("id"), score.as("r"),
        label.cast("long").as("pos"))
      .withColumn("bucket",
        ntile(buckets).over(Window.orderBy(col("r").desc, col("id"))))
    val perBucket = ranked.groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("pos").as("n_pos"))
    val cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    val tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perBucket
      .select(col("bucket"), col("n"), col("n_pos"),
        sum("n").over(cum).as("cum_n"), sum("n_pos").over(cum).as("cum_pos"),
        sum("n").over(tot).as("tot_n"), sum("n_pos").over(tot).as("tot_pos"))
      .select(col("bucket"), col("n"), col("n_pos"), col("cum_n"), col("cum_pos"),
        round(col("cum_pos").cast("double") / col("cum_n").cast("double"), 6)
          .as("cum_precision"),
        when(col("tot_pos") > 0,
          round((col("cum_pos") * col("tot_n")).cast("double") /
            (col("cum_n") * col("tot_pos")).cast("double"), 6)).as("lift"))
      .orderBy("bucket")
  }

  /** Inverse-CDF cutpoints of Poisson(1) on a uniform integer draw in
    * [0, 1e6): P(X ≤ k) · 1e6, truncated. Integer compares — no float
    * enters the weight decision on any engine.
    */
  private val poissonCdfMicro = Seq(367879L, 735758L, 919698L, 981011L, 996340L)

  /** Deterministic Poisson bootstrap CI for a per-group mean — the
    * industrial-scale bootstrap: instead of resampling n rows WITH
    * replacement (which needs global coordination), each row gets an
    * independent Poisson(1) multiplicity per replicate, drawn by
    * INVERSE CDF from a hash of (row key, replicate) — so the "random"
    * weights are pure functions of the data: identical under retries,
    * speculative execution, AQE re-plans, and across engines (the
    * property that lets a DuckDB oracle regenerate the exact draw).
    *
    * One pass computes all `reps` replicate means (explode ×reps, then
    * a map-side-combined weighted sum); the CI is the empirical
    * [2.5%, 97.5%] of the replicate means by explicit rank — no
    * quantile interpolation to diverge cross-engine.
    *
    * The draw is priced for the fan-out: md5 runs ONCE PER ROW (its
    * leading 32 bits become the row seed h); each replicate's uniform
    * then comes from an exact integer mixer over (h, rep) — two
    * multiplicative rounds mod 2³², every intermediate < 2⁶³ so both
    * engines (and DuckDB's checked arithmetic) compute it exactly.
    * Hashing per (row, replicate) instead costs reps× the md5s and
    * dominated the whole query (~10× slower at reps=50).
    *
    * Scale: shuffle = groups × reps rows (never data); the explode
    * multiplies scan width by `reps`, so at corpus scale either run
    * the fan-out map-side (it combines before the shuffle — cost is
    * CPU, not network) or drop to reps=20 (CI degrades gracefully).
    * `x` must be integer-scaled by the caller (cents, micros) so
    * replicate sums stay exact longs; overflow bound reps-independent:
    * 5 · x_max · rows-per-group < 2⁶³.
    */
  def poissonBootstrapCI(df: DataFrame, group: Seq[String], rowKey: Column,
                         x: Column, reps: Int = 50): DataFrame = {
    require(reps >= 10, "need >= 10 replicates for a 95% CI rank")
    val loRank = (0.025 * reps).toInt + 1
    val hiRank = reps - (0.025 * reps).toInt
    val gcols = group.map(col)
    val base = df.select(gcols :+ rowKey.cast("string").as("rk") :+
      x.cast("long").as("xc"): _*)
      .withColumn("h", conv(substring(md5(col("rk")), 1, 8), 16, 10).cast("long"))
    // mixer bounds: h < 2³², rep·K₀ < 2³⁸ ⇒ s < 2³²; s·K₁ and u₁·K₂
    // stay under 2⁶³ because K₁, K₂ < 2³¹
    val s = (col("h") + col("rep") * lit(2654435761L)) % lit(4294967296L)
    val u1 = (s * lit(1597334677L)) % lit(4294967296L)
    val u = ((u1 * lit(1812433253L)) % lit(4294967296L)) % lit(1000000L)
    // the CDF fold references the mixer in EVERY branch condition, and
    // codegen does NOT hoist it across the when-chain (round-14 A/B,
    // VERDICT #6: inline 2.18 s vs hoisted 1.84 s min-of-3 at sf0.1 —
    // the round-13 langId reduce(when) duplication class in miniature),
    // so the mixer lands in its own projected column and the fold
    // reads the materialized value once per row
    val w = poissonCdfMicro.zipWithIndex
      .foldRight(lit(poissonCdfMicro.length.toLong)) { case ((cut, k), rest) =>
        when(col("_u") < cut, k.toLong).otherwise(rest)
      }
    val repMeans = base
      .select(gcols :+ col("rk") :+ col("xc") :+ col("h") :+
        explode(sequence(lit(0), lit(reps - 1))).as("rep"): _*)
      .withColumn("_u", u)
      .withColumn("w", w)
      .groupBy(gcols :+ col("rep"): _*)
      .agg(sum(col("w") * col("xc")).as("swx"), sum("w").as("sw"))
      .withColumn("m", col("swx").cast("double") / col("sw").cast("double"))
    val ranked = repMeans.withColumn("rn", row_number().over(
      Window.partitionBy(gcols: _*).orderBy(col("m"), col("rep"))))
    val point = base.groupBy(gcols: _*)
      .agg(count(lit(1)).as("n_rows"), sum("xc").as("sx"))
    point
      .join(ranked.filter(col("rn") === loRank)
        .select(gcols :+ col("m").as("lo"): _*), group)
      .join(ranked.filter(col("rn") === hiRank)
        .select(gcols :+ col("m").as("hi"): _*), group)
      .select(gcols :+ col("n_rows") :+
        round(col("sx").cast("double") / col("n_rows").cast("double"), 6)
          .as("point_mean") :+
        round(col("lo"), 6).as("ci_lo") :+ round(col("hi"), 6).as("ci_hi"): _*)
  }

  /** Spearman rank correlation per group between two integral
    * (caller-quantized) measures — the monotone-association readout
    * that survives outliers and nonlinearity where Pearson breaks.
    * Ties take midranks, the standard (Spearman-with-ties ≡ Pearson
    * over midranks).
    *
    * Exactness trick (the [[mannWhitney]] device): midranks with ties
    * are half-integers, so the machinery carries DOUBLED ranks
    * (2·midrank = minrank + maxrank, an integer: `rank()` plus the
    * peers-INCLUSIVE cumulative count from a RANGE frame) — Pearson is
    * invariant under the affine map r → 2r, so ρ over doubled ranks IS
    * ρ over midranks, with every power sum an exact integer. Products
    * are summed in DECIMAL(38,0) (4n³ passes int64 only to n ≈ 1.3e6;
    * decimal stays exact and order-independent to any real group), and
    * the only IEEE ops are the final two sqrt and one division —
    * bit-identical cross-engine under round(6).
    *
    * Scale shape: rows collapse FIRST to the (group, x, y) distinct
    * grid (map-side combine; shuffle = distinct pairs, not rows), and
    * the doubled midranks attach IN PLACE via RANGE-frame windows over
    * the grid — the cumulative-count identity 2·midrank(v) =
    * 2·cum(<v) + c(v) + 1 with cum(<v) = Σ_c over the strictly-below
    * frame and c(v) = Σ_c over the equal-peers frame (algebraically
    * equal to rank() + peers-inclusive count — verified in
    * `MiningSpec` against the window form). Round 14 (guide §2.4):
    * the earlier per-axis aggregate + join-back spelling consumed the
    * grid subtree THREE times (the joins' legs derive differently, so
    * no ReusedExchange — the full scan + grid aggregation ran 3× in
    * the plan, 28 Exchanges); the range frames reuse the one grid with
    * two sorts over its distinct triples and no joins (1 scan,
    * 7 Exchanges). The original row-window funnel this operator
    * replaced sorted EVERY ROW inside per-group partitions; these
    * sorts are over the grid's distinct triples, carrying multiplicity
    * `_c`, so the power sums stay exact. Null x/y rows are dropped up
    * front (the join form dropped them after ranking; for null-free
    * inputs — the operator's quantized-measure contract — the two are
    * identical).
    */
  def spearman(df: DataFrame, group: Seq[String], x: Column, y: Column): DataFrame = {
    val gcols = group.map(col)
    val base = df.select(gcols :+ x.cast("long").as("xv") :+ y.cast("long").as("yv"): _*)
      .filter(col("xv").isNotNull && col("yv").isNotNull)
    // (group, x, y) multiplicity grid — the only pass over raw rows
    val grid = base.groupBy(gcols :+ col("xv") :+ col("yv"): _*)
      .agg(count(lit(1)).as("_c"))
    // doubled midrank per axis value, attached without a join:
    // 2·cum(<v) + c(v) + 1 from two range frames on the same sort
    def withRank(d: DataFrame, vcol: String, out: String): DataFrame = {
      val wLt = Window.partitionBy(gcols: _*).orderBy(col(vcol))
        .rangeBetween(Window.unboundedPreceding, -1)
      val wEq = Window.partitionBy(gcols: _*).orderBy(col(vcol))
        .rangeBetween(Window.currentRow, Window.currentRow)
      d.withColumn(out,
        lit(2L) * coalesce(sum(col("_c")).over(wLt), lit(0L)) +
          sum(col("_c")).over(wEq) + lit(1L))
    }
    val ranked = withRank(withRank(grid, "xv", "rx"), "yv", "ry")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // factor c·rx / c·ry once per row (round 14): the inlined form
    // paid 8 wide-decimal multiplies per grid row, this one pays 5 —
    // BigDecimal products are the per-row cost once the plan shape is
    // right (probe: decimal sums 2.58 s vs long 1.64 s on the same
    // plan at sf0.1; exactness keeps decimal, so shave its op count)
    val withProds = ranked
      .withColumn("_cx", dec(col("_c")) * dec(col("rx")))
      .withColumn("_cy", dec(col("_c")) * dec(col("ry")))
    val sums = withProds.groupBy(gcols: _*)
      .agg(sum("_c").as("n"),
        sum(col("_cx")).cast("decimal(38,0)").as("sx"),
        sum(col("_cy")).cast("decimal(38,0)").as("sy"),
        sum(col("_cx") * dec(col("ry"))).as("sxy"),
        sum(col("_cx") * dec(col("rx"))).as("sxx"),
        sum(col("_cy") * dec(col("ry"))).as("syy"))
    val n = dec(col("n"))
    val num = (n * col("sxy") - dec(col("sx")) * dec(col("sy"))).cast("double")
    val da = (n * col("sxx") - dec(col("sx")) * dec(col("sx"))).cast("double")
    val db = (n * col("syy") - dec(col("sy")) * dec(col("sy"))).cast("double")
    sums.select(gcols :+ col("n") :+
      when(da > 0 && db > 0,
        round(num / (sqrt(da) * sqrt(db)), 6)).as("rho"): _*)
  }

  /** Pairwise Pearson correlation matrix over k integral
    * (caller-quantized) measures in ONE scan: a single aggregate
    * computes n, the k sums, k sums-of-squares, and k(k−1)/2 cross
    * sums — all exact (products in DECIMAL(38,0), the [[jackknifeSE]]
    * rule: x² at 1e7-unit scale overflows int64 by 6e5 rows) — then
    * the pair grid explodes from that one row. The correlation itself
    * is the [[rollingCorr]] float tower (numerator and the two
    * variance factors cast exactly-once to double, two sqrt, one
    * division), so the matrix is bit-stable cross-engine under
    * round(6).
    *
    * Scale: this is THE way to screen features at 100 TB — one pass,
    * map-side-combined, shuffle = one row of k(k+3)/2 decimals;
    * never k² passes, never a row-pair join. Degenerate (zero
    * variance) columns yield null cells rather than NaN.
    */
  def corrMatrix(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    require(cols.size >= 2, "need at least 2 columns")
    val names = cols.map(_._1)
    val base = df.select(cols.map { case (nm, c) => c.cast("long").as(nm) }: _*)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val aggs = Seq(count(lit(1)).as("n")) ++
      names.map(nm => sum(col(nm)).as(s"s_$nm")) ++
      names.map(nm => sum(dec(col(nm)) * dec(col(nm))).as(s"ss_$nm")) ++
      names.combinations(2).map { case Seq(a, b) =>
        sum(dec(col(a)) * dec(col(b))).as(s"sp_${a}_$b")
      }.toSeq
    val sums = base.agg(aggs.head, aggs.tail: _*)
    val n = dec(col("n"))
    val pairs = names.combinations(2).map { case Seq(a, b) =>
      val num = (n * col(s"sp_${a}_$b") - dec(col(s"s_$a")) * dec(col(s"s_$b")))
        .cast("double")
      val da = (n * col(s"ss_$a") - dec(col(s"s_$a")) * dec(col(s"s_$a"))).cast("double")
      val db = (n * col(s"ss_$b") - dec(col(s"s_$b")) * dec(col(s"s_$b"))).cast("double")
      struct(lit(a).as("col_a"), lit(b).as("col_b"), col("n").as("n"),
        when(da > 0 && db > 0, round(num / (sqrt(da) * sqrt(db)), 6)).as("corr"))
    }.toSeq
    sums.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.col_a"), col("p.col_b"), col("p.n"), col("p.corr"))
  }

  /** Leave-one-out target encoding of a categorical column — the
    * leakage-safe way to turn a high-cardinality category into a
    * numeric feature: each row gets its category's target mean
    * COMPUTED WITHOUT ITSELF, (Σ_cat − x)/(n_cat − 1), so the encoding
    * never smuggles the row's own label into its feature (the failure
    * mode that makes naive mean-encoding look brilliant in training
    * and collapse in production). Singleton categories (n = 1) yield
    * null — the caller backfills with a global prior.
    *
    * Exactness: the target is integral (caller-quantized), so Σ_cat is
    * an exact long and the LOO value is one division, rounded 1e-6.
    *
    * Scale shape: one map-side-combined aggregate (shuffle =
    * categories), then the per-category sums BROADCAST back onto the
    * fact scan — the encode pass is narrow, no row shuffle. At
    * extreme category cardinality (beyond broadcast) the join-back
    * degrades to a shuffle join on the same key — still one exchange.
    */
  def targetEncodeLOO(df: DataFrame, cat: String, id: Column, target: Column): DataFrame = {
    val base = df.select(id.as("id"), col(cat), target.cast("long").as("t"))
    val grp = base.groupBy(cat)
      .agg(count(lit(1)).as("n_cat"), sum("t").as("s_cat"))
    base.join(broadcast(grp), cat)
      .select(col("id"), col(cat), col("t"), col("n_cat"),
        when(col("n_cat") > 1,
          round((col("s_cat") - col("t")).cast("double") /
            (col("n_cat") - lit(1)).cast("double"), 6)).as("loo_mean"))
  }

  /** Cohen's kappa — chance-corrected agreement between two
    * categorical columns (two annotators, or predicted vs gold
    * labels): κ = (p_o − p_e)/(1 − p_e), computed entirely from the
    * confusion counts in cleared-denominator integer form,
    * κ = (n·Σdiag − Σ row_c·col_c) / (n² − Σ row_c·col_c), so exactly
    * one float division exists end to end.
    *
    * Scale: one contingency pass (the [[chi2]] shape — shuffle =
    * observed cells); marginal products run over the tiny class grid.
    * The grid is PERSISTED: three rollups consume it (totals, row
    * margins, column margins), and without the persist the upstream
    * pipeline — for q_cohen_kappa, the documents scan plus a full
    * language-ID evaluation — executed three times (round-13 30×
    * sweep caught it as a 9.4× time ratio; the grid itself is ≤|cats|²
    * rows). The grid self-unpersists after the result's first
    * materialization ([[Materialize.releaseAfterUse]]) — no cache
    * entry or `clearCache()` convention survives the call.
    * Overflow: n² < 2⁶³ holds to ~3·10⁹ rows;
    * past that, compute on a hash sample — κ is a rate, it
    * concentrates fast.
    */
  def cohenKappa(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val conf = Materialize.persist(df.groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("n")))
    val tot = conf.agg(sum("n").as("n_tot"),
      sum(when(col("x") === col("y"), col("n")).otherwise(0L)).as("n_agree"))
    val rm = conf.groupBy("x").agg(sum("n").as("rm"))
    val cm = conf.groupBy("y").agg(sum("n").as("cm"))
    val pe = rm.join(cm, col("x") === col("y"))
      .agg(coalesce(sum(col("rm") * col("cm")), lit(0L)).as("pe_num"))
    Materialize.releaseAfterUse(tot.crossJoin(pe) // two 1-row scalar aggregates
      .select(col("n_tot"), col("n_agree"),
        round(col("n_agree").cast("double") / col("n_tot").cast("double"), 6)
          .as("p_observed"),
        round(col("pe_num").cast("double") /
          (col("n_tot") * col("n_tot")).cast("double"), 6).as("p_expected"),
        round((col("n_tot") * col("n_agree") - col("pe_num")).cast("double") /
          (col("n_tot") * col("n_tot") - col("pe_num")).cast("double"), 6)
          .as("kappa")), conf)
  }

  /** Split-conformal prediction intervals per group, fully
    * integer-exact. The rows are hash-split by `key`
    * ([[ScaleOps.splitByKey]]): the TRAIN split fits the predictor
    * (per-group floor-mean of the integer measure `y` — `sum DIV n`,
    * exact long arithmetic), the VAL split calibrates (nonconformity
    * score = |y − ŷ|, q̂ = the DISCRETE p-quantile of the scores — an
    * actual observed score, no interpolation), and the TEST split
    * reports empirical coverage of ŷ ± q̂ in integer basis points
    * (`covered·10⁴ DIV n_test`). Split conformal's guarantee —
    * P(|y−ŷ| ≤ q̂) ≥ p for exchangeable data, regardless of how bad
    * the predictor is — is distribution-free, which is why the
    * deliberately crude mean predictor still yields calibrated
    * intervals.
    *
    * Scale: three grouped aggregates over one scan each plus two
    * broadcast-sized joins (the per-group model and q̂ frames are one
    * row per group); the only ordered pass is the discrete quantile,
    * which [[Quantiles.exactQuantilesDisc]] runs over per-group
    * DISTINCT score values, not rows. No floats anywhere in the gated
    * output.
    */
  /** Fleiss' kappa — chance-corrected agreement for ≥ 3 RATERS (the
    * multi-annotator generalization of [[cohenKappa]], the standard QA
    * statistic for label-crowdsourcing and LLM-judge ensembles). Input
    * is the long-form assignment table (one row per item × rater,
    * category in `category`); items whose rater count ≠ `nRaters`
    * (partial annotations) are excluded, which keeps the per-item
    * agreement denominator n(n−1) constant as the formula requires.
    *
    * With n_ij = raters voting category j on item i, N items, n raters,
    * c_j = Σᵢ n_ij:  P̄ = (Σ n_ij² − N·n)/(N·n·(n−1)),
    * P_e = Σ c_j²/(N·n)², κ = (P̄−P_e)/(1−P_e). Cleared of
    * denominators: κ = (A·D2 − B·D1)/(D1·(D2 − B)) with
    * A = Σn_ij²−Nn, D1 = Nn(n−1), B = Σc_j², D2 = (Nn)² — every term
    * an exact long, exactly three float divisions (P̄, P_e, κ) in the
    * output. Overflow: A·D2 ~ n³(n−1)·N³ binds first — safe to
    * N ≈ 10⁵ items at n = 3; past that compute κ from the rounded
    * P̄/P_e doubles instead (it is a rate; it concentrates fast).
    *
    * Scale: one count to (item × category) cells — shuffle is cells,
    * bounded by N·min(n, |cats|) — then one per-item and one
    * per-category rollup; the two scalar frames broadcast. The cell
    * grid is PERSISTED (serialized, grid-sized): both rollups consume
    * it, and without the persist the entire upstream assignment
    * pipeline (for q_fleiss_kappa: scans + three language-ID rater
    * evaluations) executes twice — round-13 measured the double
    * evaluation as ~2× the query. The grid self-unpersists after the
    * result's first materialization ([[Materialize.releaseAfterUse]])
    * — no cache entry or `clearCache()` convention survives the call.
    * Returns one row: (n_items, n_raters, p_bar, p_e, kappa), rounded
    * at 6.
    */
  def fleissKappa(assign: DataFrame, item: Column, category: Column,
      nRaters: Int): DataFrame = {
    require(nRaters >= 2, "Fleiss' kappa needs at least 2 raters")
    val cells = Materialize.persist(assign.select(item.as("i"), category.as("cat"))
      .groupBy("i", "cat").agg(count(lit(1)).as("nij")))
    val complete = cells.groupBy("i")
      .agg(sum("nij").as("n_i"), sum(col("nij") * col("nij")).as("sq_i"))
      .filter(col("n_i") === nRaters)
    val perItem = complete.agg(count(lit(1)).as("n_items"),
      coalesce(sum("sq_i"), lit(0L)).as("sum_sq"))
    val perCat = cells.join(complete.select(col("i")), Seq("i"), "left_semi")
      .groupBy("cat").agg(sum("nij").as("cj"))
      .agg(coalesce(sum(col("cj") * col("cj")), lit(0L)).as("b"))
    Materialize.releaseAfterUse(perItem.crossJoin(perCat) // two 1-row scalar aggregates
      .select(col("n_items"), lit(nRaters).cast("int").as("n_raters"),
        (col("sum_sq") - col("n_items") * nRaters).as("a"),
        (col("n_items") * (nRaters.toLong * (nRaters - 1))).as("d1"),
        col("b"),
        (col("n_items") * nRaters * (col("n_items") * nRaters)).as("d2"))
      .select(col("n_items"), col("n_raters"),
        round(col("a").cast("double") / col("d1").cast("double"), 6)
          .as("p_bar"),
        round(col("b").cast("double") / col("d2").cast("double"), 6)
          .as("p_e"),
        round((col("a") * col("d2") - col("b") * col("d1")).cast("double") /
          (col("d1") * (col("d2") - col("b"))).cast("double"), 6).as("kappa")),
      cells)
  }

  /** Wilcoxon signed-rank test — the PAIRED complement to
    * [[mannWhitney]]: did each subject's measure shift between two
    * conditions (same cohort, before vs after)? Zero differences drop
    * (the standard convention); |d| is ranked ascending with AVERAGE
    * ranks on ties, and W⁺/W⁻ sum the ranks of positive/negative
    * differences. Everything is exact integer arithmetic in HALF-UNIT
    * rank basis: a tie group's average rank is (first + last)/2, so
    * 2·rank is always a long (`w_plus2`/`w_minus2` = 2·W⁺/2·W⁻), and
    * the normal approximation with tie correction,
    *   z = (W⁺ − n(n+1)/4) / √(n(n+1)(2n+1)/24 − Σ(t³−t)/48),
    * clears to z = (2·w_plus2 − n(n+1)) · √3 /
    * √(2n(n+1)(2n+1) − Σ(t³−t)) — exact long numerator and radicand,
    * one sqrt tower rounded at 6 (null when every |d| ties into one
    * group and the radicand is 0). Overflow binds at n³ < 2⁶³ (n ≈
    * 2·10⁶ pairs; a paired cohort is panel-sized far below that).
    *
    * Scale: the caller supplies the paired frame (one row per subject,
    * x and y) — typically itself a grouped aggregate, so this runs on
    * cohort-sized data; one rank window over a single ordered pass
    * (spillable), one tie rollup, one scalar row out.
    */
  def wilcoxonSignedRank(pairs: DataFrame, x: Column, y: Column): DataFrame = {
    val d = pairs.select((y.cast("long") - x.cast("long")).as("d"))
      .filter(col("d") =!= 0L)
      .select(col("d"), abs(col("d")).as("ad"))
    // Average rank in half units: 2·avgRank = first + last rank of the
    // tie group = 2·(rank-1) ... computed as (minRank + maxRank) via
    // rank() over ad asc and its dense complement: for a group starting
    // at rank r with t members, avg = r + (t-1)/2 → 2·avg = 2r + t - 1.
    val w = Window.orderBy("ad")
    val ranked = d
      .withColumn("r", rank().over(w))
      .withColumn("t", count(lit(1)).over(Window.partitionBy("ad")))
      .withColumn("rank2", col("r") * 2 + col("t") - 1)
    val ties = d.groupBy("ad").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(col("t") * col("t") * col("t") - col("t")), lit(0L))
        .as("tie_cube"))
    ranked.agg(count(lit(1)).as("n"),
        sum(when(col("d") > 0, col("rank2")).otherwise(0L)).as("w_plus2"),
        sum(when(col("d") < 0, col("rank2")).otherwise(0L)).as("w_minus2"))
      .crossJoin(ties) // 1-row scalar
      .select(col("n"), col("w_plus2"), col("w_minus2"),
        when(lit(2L) * col("n") * (col("n") + 1) * (col("n") * 2 + 1)
            - col("tie_cube") > 0,
          round((col("w_plus2") * 2 - col("n") * (col("n") + 1)).cast("double")
            * sqrt(lit(3.0)) /
            sqrt((lit(2L) * col("n") * (col("n") + 1) * (col("n") * 2 + 1)
              - col("tie_cube")).cast("double")), 6)).as("z"))
  }

  /** Kendall's τ-b between TWO integral series on one grid — the
    * tie-corrected rank correlation ([[Forecast.mannKendall]] is the
    * one-series-vs-time special case; this is series-vs-series, the
    * robust alternative to [[crossCorr]] at lag 0). Over all C(n,2)
    * grid-cell pairs: C/D = concordant/discordant (sign agreement of
    * Δx and Δy), tx/ty = pairs tied on x alone / y alone,
    *   τ_b = (C − D) / √((n0 − n1)(n0 − n2))
    * with n0 = n(n−1)/2, n1/n2 = Σ tᵢ(tᵢ−1)/2 over x/y tie groups.
    * C, D, and all tie counts are exact longs from ONE pair-space
    * aggregate; one sqrt tower rounded at 6 (null when either
    * radicand factor is 0 — a constant series has no defined τ).
    *
    * Scale: the pair space is over the aggregated GRID (the
    * [[crossCorr]]/[[autocorr]] contract — aggregate the fact table
    * first), so the self-join is n_grid², never rows²; n0 − n1 < 2⁶³
    * binds at n_grid ≈ 3·10⁹ — coarsen the grid long before that.
    */
  def kendallTauB(series: DataFrame, ord: Column, x: Column,
      y: Column): DataFrame = {
    val base = series.select(ord.as("o"), x.cast("long").as("x"),
      y.cast("long").as("y"))
    // The pair join has no equi-key; the grid side is bounded by the
    // aggregate-first contract, so BROADCAST it explicitly — a nested-
    // loop over grid × grid, never a shuffled cartesian.
    val pairs = base
      .join(broadcast(base.select(col("o").as("o2"), col("x").as("x2"),
        col("y").as("y2"))), col("o") < col("o2"))
    val sx = signum(col("x2") - col("x"))
    val sy = signum(col("y2") - col("y"))
    pairs.agg(count(lit(1)).as("n_pairs"),
        sum(when(sx * sy > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(sx * sy < 0, 1L).otherwise(0L)).as("discordant"),
        sum(when(sx === 0 && sy =!= 0, 1L).otherwise(0L)).as("ties_x"),
        sum(when(sy === 0 && sx =!= 0, 1L).otherwise(0L)).as("ties_y"),
        sum(when(sx === 0 && sy === 0, 1L).otherwise(0L)).as("ties_xy"))
      .select(col("n_pairs"), col("concordant"), col("discordant"),
        col("ties_x"), col("ties_y"), col("ties_xy"),
        when((col("n_pairs") - col("ties_x") - col("ties_xy")) > 0 &&
            (col("n_pairs") - col("ties_y") - col("ties_xy")) > 0,
          round((col("concordant") - col("discordant")).cast("double") /
            sqrt((col("n_pairs") - col("ties_x") - col("ties_xy"))
              .cast("double") *
              (col("n_pairs") - col("ties_y") - col("ties_xy"))
                .cast("double")), 6)).as("tau_b"))
  }

  def conformalInterval(df: DataFrame, group: Seq[String], key: Column,
      y: Column, p: Double = 0.9): DataFrame = {
    val g = group.map(col)
    // persist the split-tagged base and the per-group model: the three
    // split filters each replayed the caller's upstream (for
    // q_conformal, a 150k-row join — 28 parquet scans in the plan),
    // and the model feeds the calibration join, the test join AND the
    // final assembly (round 14, guide §2.4); both self-release
    val rows = Materialize.persist(df.select(g :+ ScaleOps.splitByKey(key).as("split")
      :+ y.cast("long").as("y"): _*))
    val model = Materialize.persist(rows.filter(col("split") === "train")
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n_train"), sum("y").as("sy"))
      .select(g :+ col("n_train") :+ expr("sy DIV n_train").as("y_hat"): _*))
    val calScores = rows.filter(col("split") === "val")
      .join(broadcast(model), group)
      .select(g :+ abs(col("y") - col("y_hat")).as("score"): _*)
    val qhat = Quantiles.exactQuantilesDisc(calScores, "score", group,
      Seq(p), Seq("qhat"))
    val test = rows.filter(col("split") === "test")
      .join(broadcast(model.join(qhat, group)), group)
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n_test"),
        sum(when(abs(col("y") - col("y_hat")) <= col("qhat"), 1L).otherwise(0L))
          .as("covered"))
    Materialize.releaseAfterUse(
      model.join(qhat, group).join(test, group)
        .select(g ++ Seq(col("n_train"), col("y_hat"), col("qhat").cast("long").as("qhat"),
          col("n_test"), col("covered"),
          expr("(covered * 10000) DIV n_test").as("coverage_bp")): _*),
      rows, model)
  }

  /** Per-group ROC AUC from an INTEGER score and a boolean label, via
    * the tie-aware rank-sum identity AUC = U/(P·N): aggregate to
    * (group, score) → (n_pos, n_neg) first, then one cumulative window
    * over the score grid computes, for every score s, the negatives
    * strictly below it, and
    *   2U = Σ_s n_pos(s) · (2·cum_neg_below(s) + n_neg(s))
    * — ties get half credit, every term an exact long, so `u2` (= 2U)
    * hashes identically on any engine and the single division happens
    * once at the end. Integer scores are the caller's quantization
    * contract (cents), which also bounds the window: the sort runs
    * over the DISTINCT-score grid per group (≤ score range), not over
    * rows — the aggregate-first window discipline. AUC is null when a
    * group lacks both classes.
    *
    * Returns (group…, n_pos, n_neg, u2, auc) with auc rounded at 6.
    */
  def rocAuc(df: DataFrame, group: Seq[String], score: Column,
      label: Column): DataFrame = {
    val g = group.map(col)
    val byScore = df.select(g :+ score.cast("long").as("s")
        :+ label.cast("boolean").as("y"): _*)
      .groupBy(g :+ col("s"): _*)
      .agg(sum(when(col("y"), 1L).otherwise(0L)).as("np"),
        sum(when(col("y"), 0L).otherwise(1L)).as("nn"))
    val w = Window.partitionBy(group.map(col): _*).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("cnb", coalesce(sum("nn").over(w), lit(0L)))
      .groupBy(g: _*)
      .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"),
        sum(col("np") * (lit(2L) * col("cnb") + col("nn"))).as("u2"))
      .select(g ++ Seq(col("n_pos"), col("n_neg"), col("u2"),
        // explicit one-class guard: Spark's non-ANSI Divide would give
        // null here anyway, but DuckDB gives NaN — branch BEFORE the
        // division so both engines emit the same null (round-8 advice)
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("u2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6)).as("auc")): _*)
  }

  /** Precision/recall curve over INTEGER score buckets, descending:
    * for every distinct bucket b, "predict positive when score ≥ b"
    * gives tp/fp as cumulative sums from the top of the score grid —
    * the same aggregate-first window shape as [[rocAuc]], counts exact
    * longs, one division per emitted point. Returns one row per
    * (group…, bucket) with tp, fp, precision, recall (rounded at 6).
    */
  def prCurve(df: DataFrame, group: Seq[String], bucket: Column,
      label: Column): DataFrame = {
    val g = group.map(col)
    val byB = df.select(g :+ bucket.cast("long").as("b")
        :+ label.cast("boolean").as("y"): _*)
      .groupBy(g :+ col("b"): _*)
      .agg(sum(when(col("y"), 1L).otherwise(0L)).as("np"),
        sum(when(col("y"), 0L).otherwise(1L)).as("nn"))
    val wTop = Window.partitionBy(group.map(col): _*)
      .orderBy(col("b").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(group.map(col): _*)
    byB
      .withColumn("tp", sum("np").over(wTop))
      .withColumn("fp", sum("nn").over(wTop))
      .withColumn("p_tot", sum("np").over(wAll))
      .select(g ++ Seq(col("b").as("bucket"), col("tp"), col("fp"),
        // tp+fp ≥ 1 by construction (the bucket row exists because at
        // least one observation landed in it), so precision never
        // divides by zero; recall's divisor is the group's positive
        // total, which CAN be 0 — branch before dividing so Spark and
        // DuckDB agree on null instead of null-vs-NaN (round-8 advice)
        round(col("tp").cast("double") / (col("tp") + col("fp")), 6)
          .as("precision"),
        when(col("p_tot") > 0,
          round(col("tp").cast("double") / col("p_tot"), 6)).as("recall")): _*)
  }

  /** Benjamini–Hochberg FDR adjustment over a frame of hypotheses:
    * rank p ascending (ties broken by the caller-unique `key` so the
    * rank is total), adjusted p = min over j ≥ i of m·p_(j)/j clamped
    * at 1 (a reversed running min), reject = adjusted ≤ `alpha`
    * computed FROM THE ROUNDED adjusted p in both engines — the
    * q_quality_classifier trick that keeps the boolean off any float
    * ulp boundary. The set {m·p_j/j} depends only on the sorted
    * multiset of p-values, so tie order never changes the output.
    *
    * m is small (one row per hypothesis — per group/arm/brand, not per
    * observation), so the single global window is grid-bounded by
    * construction. Returns (key…, p, rank, p_adj, reject).
    */
  def bhAdjust(df: DataFrame, key: Seq[String], p: Column,
      alpha: Double = 0.05): DataFrame = {
    val k = key.map(col)
    val base = df.select(k :+ p.cast("double").as("p"): _*)
      .withColumn("m", count(lit(1)).over(Window.partitionBy()))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("p") +: k: _*)))
    val wRev = Window.orderBy(col("rank"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    base
      .withColumn("p_adj",
        least(lit(1.0), min(col("m") * col("p") / col("rank")).over(wRev)))
      .select(k ++ Seq(round(col("p"), 6).as("p"), col("rank"),
        round(col("p_adj"), 6).as("p_adj"),
        (round(col("p_adj"), 6) <= alpha).as("reject")): _*)
  }

  /** Krippendorff's alpha (nominal) — chance-corrected inter-rater
    * agreement that, unlike [[fleissKappa]], tolerates MISSING ratings:
    * units rated by any m_u ≥ 2 of the raters enter with weight
    * 1/(m_u−1). Exact integer form: each unit's off-diagonal
    * coincidence mass is (m_u² − Σ_c n_uc²)/(m_u−1), scaled by
    * `scale` = lcm(1..maxRaters−1) so the division stays integral
    * (scale=12 covers up to 5 raters — pass a larger lcm for more);
    * with marginals n_c over the qualifying units and n = Σ m_u,
    *   α = 1 − (n−1)·D_o^scaled / (scale · (n² − Σ n_c²)),
    * one exact-long ratio, rounded at 6 (null for degenerate inputs —
    * no qualifying unit, or a single category where D_e = 0).
    *
    * Input contract: ONE rating per (unit, rater) — aggregate upstream
    * (this dedups defensively). Scale: two grouped counts over the
    * ratings (unit-sized shuffle), then scalar rollups; no pairs ever
    * materialize — the quadratic "every pair of ratings within a unit"
    * definition is cleared to Σ n_uc² per unit.
    */
  def krippendorffAlpha(ratings: DataFrame, unit: Column, rater: Column,
      category: Column, scale: Long = 12L): DataFrame = {
    val r = ratings.select(unit.as("u"), rater.as("rt"), category.as("cat"))
      .distinct()
    val perUC = r.groupBy("u", "cat").agg(count(lit(1)).as("nuc"))
    val perU = perUC.groupBy("u")
      .agg(sum("nuc").as("mu"), sum(col("nuc") * col("nuc")).as("sq"))
      .filter(col("mu") >= 2L)
    val dObs = perU.agg(count(lit(1)).as("n_units"),
      coalesce(sum("mu"), lit(0L)).as("n"),
      coalesce(sum(lit(scale) * (col("mu") * col("mu") - col("sq")) /
        (col("mu") - 1L)), lit(0L)).cast("long").as("do_scaled"))
    val marg = perUC.join(perU.select("u"), Seq("u"), "left_semi")
      .groupBy("cat").agg(sum("nuc").as("nc"))
      .agg(coalesce(sum(col("nc") * col("nc")), lit(0L)).as("sum_nc2"))
    dObs.crossJoin(marg) // two 1-row scalar aggregates
      .select(col("n_units"), col("n"), col("do_scaled"),
        (col("n") * col("n") - col("sum_nc2")).as("de_num"),
        round(lit(1.0) - ((col("n") - 1L) * col("do_scaled")).cast("double") /
          (lit(scale) * (col("n") * col("n") - col("sum_nc2"))).cast("double"),
          6).as("alpha"))
  }

  /** One-way ANOVA F test across the k groups of `group` on the
    * caller-quantized integral measure `x` — the k-sample
    * generalization of [[welchT]] (equal-variance form): "do the
    * group means differ more than within-group noise explains?".
    *
    * Same power-sum shape as everything in this module: one
    * map-side-combined pass collapses rows to (n, Σx, Σx²) per group,
    * a group-cardinality-sized second aggregate combines them, and
    * only then does the float tower run. The between/within split
    * uses the standard sums-of-squares algebra: with per-group
    * b_g = s_g²/n_g (double), SSB = Σb_g − S²/N and SSW = Σss_g − Σb_g.
    * Both are differences of O(Σx²)-magnitude terms, so they are NOT
    * emitted raw (their trailing digits are below one ulp at scale) —
    * only the O(1)-magnitude ratios F and η² are, rounded at 6, where
    * the cancellation-amplified relative error (~1e-10 at sf0.1) sits
    * far below the rounding grain. F is null when k < 2, N ≤ k, or
    * SSW ≤ 0 (all within-group values identical).
    */
  def anovaF(df: DataFrame, group: Seq[String], x: Column): DataFrame = {
    val g = df.select(group.map(col) :+ x.cast("long").as("x"): _*)
      .groupBy(group.map(col): _*)
      .agg(count(lit(1)).as("n"), sum("x").as("s"),
        sum(col("x") * col("x")).as("ss"))
    val tot = g.agg(count(lit(1)).as("k"), sum("n").as("n"),
      sum("s").cast("double").as("sd"), sum("ss").cast("double").as("ssd"),
      sum(col("s").cast("double") * col("s").cast("double") /
        col("n").cast("double")).as("sb"))
    val nD = col("n").cast("double")
    // clamp at 0: when every group mean is equal, float cancellation in
    // sb - sd²/n can land a hair below zero and emit a tiny negative
    // f_stat/eta_sq instead of 0 (round-11 advice)
    val ssb = greatest(col("sb") - col("sd") * col("sd") / nD, lit(0.0))
    val ssw = col("ssd") - col("sb")
    val f = (ssb / (col("k") - 1L).cast("double")) /
      (ssw / (col("n") - col("k")).cast("double"))
    tot.select(col("k"), col("n"),
      when(col("k") >= 2L && col("n") > col("k") && ssw > 0,
        round(f, 6)).as("f_stat"),
      when(col("k") >= 2L && col("n") > col("k") && ssb + ssw > 0,
        round(ssb / (ssb + ssw), 6)).as("eta_sq"))
  }

  /** Kruskal–Wallis H test — the k-sample rank generalization of
    * [[mannWhitney]]: "does at least one group stochastically dominate
    * another?", robust to outliers and any monotone transform of `x`.
    *
    * Same doubled-midrank exactness trick as [[mannWhitney]]: per
    * distinct value, 2·midrank = 2·cumBefore + cnt + 1 is an exact
    * long, so each group's doubled rank sum R2_g = Σ c_gv·(2cb+cv+1)
    * is an exact long too; the halving happens inside the final float
    * tower. Tie correction Σ(t³−t) is likewise an exact long off the
    * value grid.
    *
    * Scale shape: rows collapse map-side to the (group, value) grid,
    * the value-total grid derives from THAT (never a second row
    * scan), and the one ordered pass (cumulative counts) runs over
    * value-grid cells. The grid join back is grid-sized. H and its
    * tie-corrected form round at 6; both null when k < 2 or every
    * value is identical (tie correction hits 0).
    */
  def kruskalWallisH(df: DataFrame, group: Seq[String], x: Column): DataFrame = {
    val cells = df.select(group.map(col) :+ x.cast("long").as("v"): _*)
      .groupBy(group.map(col) :+ col("v"): _*)
      .agg(count(lit(1)).as("c"))
    val vt = cells.groupBy("v").agg(sum("c").as("cv"))
      .withColumn("cb", coalesce(sum("cv").over(Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val perG = cells.join(vt, Seq("v"))
      .groupBy(group.map(col): _*)
      .agg(sum("c").as("ng"),
        sum(col("c") * (lit(2L) * col("cb") + col("cv") + 1L)).as("r2"))
    val gTot = perG.agg(count(lit(1)).as("k"), sum("ng").as("n"),
      sum(col("r2").cast("double") * col("r2").cast("double") /
        (lit(4.0) * col("ng").cast("double"))).as("rterm"))
    val ties = vt.agg(sum(col("cv") * col("cv") * col("cv") - col("cv"))
      .as("t3"))
    val nD = col("n").cast("double")
    val h = lit(12.0) / (nD * (nD + 1.0)) * col("rterm") - lit(3.0) * (nD + 1.0)
    val corr = lit(1.0) - col("t3").cast("double") / (nD * nD * nD - nD)
    gTot.crossJoin(ties) // two 1-row scalar aggregates
      .select(col("k"), col("n"), col("t3"),
        when(col("k") >= 2L && col("n") >= 2L, round(h, 6)).as("h_stat"),
        when(col("k") >= 2L && col("n") >= 2L && corr > 0,
          round(h / corr, 6)).as("h_corrected"))
  }

  /** Brown–Forsythe robust equal-variance test (the median-centered
    * Levene W): one-way ANOVA F on z = |x − median_g| — the gate a
    * pipeline runs BEFORE trusting [[anovaF]]'s pooled-variance
    * assumption, robust because the center is each group's median,
    * not its outlier-dragged mean.
    *
    * Everything happens on the (group, value) grid: per-group
    * discrete medians come from a grid-cumulative window (lower
    * middle, min v with cum ≥ (n+1) div 2 — engine-exact, no
    * interpolation), z is an exact long per grid cell, and the ANOVA
    * power sums are COUNT-WEIGHTED grid aggregates (Σc·z, Σc·z²) — the
    * rows are never rescanned after the first collapse. Emits
    * (k, n, w_stat) with the same null guards as [[anovaF]].
    */
  def brownForsytheW(df: DataFrame, group: Seq[String], x: Column): DataFrame = {
    val gc = group.map(col)
    val cells = df.select(gc :+ x.cast("long").as("v"): _*)
      .groupBy(gc :+ col("v"): _*)
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(gc: _*).orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(gc: _*)
    val meds = cells
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("ng", sum("c").over(wAll))
      .groupBy(gc: _*)
      .agg(min(when(col("cum") >= shiftright(col("ng") + 1L, 1), col("v")))
        .as("med"))
    val z = cells.join(meds, group) // group-cardinality broadcast
      .withColumn("z", abs(col("v") - col("med")))
    val perG = z.groupBy(gc: _*)
      .agg(sum("c").as("n"), sum(col("c") * col("z")).as("s"),
        sum(col("c") * col("z") * col("z")).as("ss"))
    val tot = perG.agg(count(lit(1)).as("k"), sum("n").as("n"),
      sum("s").cast("double").as("sd"), sum("ss").cast("double").as("ssd"),
      sum(col("s").cast("double") * col("s").cast("double") /
        col("n").cast("double")).as("sb"))
    val nD = col("n").cast("double")
    // same equal-means cancellation clamp as [[anovaF]]
    val ssb = greatest(col("sb") - col("sd") * col("sd") / nD, lit(0.0))
    val ssw = col("ssd") - col("sb")
    val w = (ssb / (col("k") - 1L).cast("double")) /
      (ssw / (col("n") - col("k")).cast("double"))
    tot.select(col("k"), col("n"),
      when(col("k") >= 2L && col("n") > col("k") && ssw > 0,
        round(w, 6)).as("w_stat"))
  }

  /** Grubbs-style max-deviation outlier score per group: the largest
    * studentized deviation G = max|x − mean|/sd and the suspect value
    * itself — the per-group screen a pipeline runs before a batch is
    * admitted (is the extreme a tail draw or a corruption?).
    *
    * Exactness trick: max|x − mean| over rows never needs a float
    * argmax — it is greatest(max − mean, mean − min), and WHICH side
    * wins reduces to the exact long comparison n·(max+min) ≥ 2·Σx
    * (ties → the max side), so the suspect value is exact-integer
    * deterministic. One power-sum pass (n, Σx, Σx², min, max) per
    * group; G rounds at 6, null when n < 3 or sd = 0.
    */
  def grubbsMax(df: DataFrame, group: Seq[String], x: Column): DataFrame = {
    val g = df.select(group.map(col) :+ x.cast("long").as("x"): _*)
      .groupBy(group.map(col): _*)
      .agg(count(lit(1)).as("n"), sum("x").as("s"),
        sum(col("x") * col("x")).as("ss"),
        min("x").as("mn"), max("x").as("mx"))
    val mean = meanC(col("n"), col("s"))
    val sd = sqrt(varC(col("n"), col("s"), col("ss")))
    val dev = greatest(col("mx").cast("double") - mean,
      mean - col("mn").cast("double"))
    g.select(group.map(col) :+ col("n") :+
      when(col("n") * (col("mx") + col("mn")) >= lit(2L) * col("s"),
        col("mx")).otherwise(col("mn")).as("suspect_val") :+
      when(col("n") >= 3L && sd > 0, round(dev / sd, 6)).as("grubbs_g"): _*)
  }

  /** Mood's median test: a chi-square on each group's split around
    * the GRAND discrete median — the coarsest, most assumption-free
    * k-sample location test (only the counts above/at-or-below the
    * shared median matter), the right gate when even ranks are too
    * much structure to trust.
    *
    * The grand median comes off the global value grid (same
    * grid-cumulative shape as [[ksTest]]'s CDF; lower middle, exact),
    * per-group above/below are exact longs, and each group's
    * chi-square contribution (a−Ea)²/Ea + (b−Eb)²/Eb is a float tower
    * over exact counts. Emits one row per group with its contribution
    * plus the shared total (a k-row unpartitioned window — grid-sized
    * by construction), both rounded at 6.
    */
  def moodMedianChi2(df: DataFrame, group: Seq[String], x: Column): DataFrame = {
    val gc = group.map(col)
    val vals = df.select(gc :+ x.cast("long").as("v"): _*)
    val vt = vals.groupBy("v").agg(count(lit(1)).as("cv"))
      .withColumn("cum", sum("cv").over(Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("cv").over(Window.partitionBy()))
    val med = vt.agg(min(when(col("cum") >= shiftright(col("n") + 1L, 1),
      col("v"))).as("med")) // 1-row scalar
    val perG = vals.crossJoin(broadcast(med))
      .groupBy(gc: _*)
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") > col("med"), 1L).otherwise(0L)).as("above"))
      .withColumn("below", col("n") - col("above"))
    val wAll = Window.partitionBy()
    val withTot = perG
      .withColumn("na", sum("above").over(wAll))
      .withColumn("nb", sum("below").over(wAll))
      .withColumn("nt", sum("n").over(wAll))
    val ea = col("n").cast("double") * col("na").cast("double") /
      col("nt").cast("double")
    val eb = col("n").cast("double") * col("nb").cast("double") /
      col("nt").cast("double")
    val contrib =
      (col("above").cast("double") - ea) * (col("above").cast("double") - ea) / ea +
      (col("below").cast("double") - eb) * (col("below").cast("double") - eb) / eb
    withTot
      .withColumn("contrib", when(ea > 0 && eb > 0, contrib))
      .select(gc :+ col("n") :+ col("above") :+ col("below") :+
        round(col("contrib"), 6).as("chi2_contrib") :+
        round(sum("contrib").over(wAll), 6).as("chi2_total"): _*)
  }

  /** Decision-stump split scan: for every candidate threshold t of the
    * caller-quantized integral `feature`, the weighted Gini impurity
    * of the (x ≤ t | x > t) split against the boolean `label` — the
    * inner kernel of tree training (and the single most informative
    * univariate screen of a feature against a target). The best
    * threshold is flagged, ties going to the SMALLEST threshold so the
    * flag is deterministic.
    *
    * Scale shape: rows collapse map-side to the distinct-value grid
    * (count + positives per value), the cumulative pass and the
    * impurity tower run over grid cells, and the output is grid-sized.
    * All counts are exact longs; the impurity is a fixed float tower
    * over them, rounded at 6 (the best flag compares the ROUNDED
    * values, so it is exactly as stable as the emitted column). The
    * top value drops — splitting nothing off is not a split.
    */
  def giniSplitScan(df: DataFrame, feature: Column, label: Column): DataFrame = {
    val cells = df
      .select(feature.cast("long").as("v"),
        when(label, 1L).otherwise(0L).as("pos"))
      .groupBy("v").agg(count(lit(1)).as("c"), sum("pos").as("p"))
    val wCum = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val cum = cells
      .withColumn("n_le", sum("c").over(wCum))
      .withColumn("p_le", sum("p").over(wCum))
      .withColumn("nt", sum("c").over(wAll))
      .withColumn("pt", sum("p").over(wAll))
      .filter(col("n_le") < col("nt"))
    val nle = col("n_le").cast("double")
    val ple = col("p_le").cast("double")
    val qle = (col("n_le") - col("p_le")).cast("double")
    val ngt = (col("nt") - col("n_le")).cast("double")
    val pgt = (col("pt") - col("p_le")).cast("double")
    val qgt = (col("nt") - col("n_le") - (col("pt") - col("p_le"))).cast("double")
    val gLe = lit(1.0) - (ple * ple + qle * qle) / (nle * nle)
    val gGt = lit(1.0) - (pgt * pgt + qgt * qgt) / (ngt * ngt)
    val wg = round((nle * gLe + ngt * gGt) / col("nt").cast("double"), 6)
    val scored = cum.select(col("v").as("threshold"), col("n_le"),
      col("p_le"), wg.as("gini_split"))
    scored
      .withColumn("is_best",
        row_number().over(Window.orderBy("gini_split", "threshold")) === 1)
  }

  /** Friedman test (tie-corrected, Conover's T1 form) over complete
    * blocks: rank the k treatments WITHIN each block, then ask whether
    * the per-treatment rank sums differ more than chance — the
    * repeated-measures complement to [[kruskalWallisH]] (each block is
    * its own control, so between-block level shifts cancel exactly).
    * Blocks missing any treatment are dropped (the classical
    * complete-block requirement), with k measured from the data.
    *
    * Exactness: within-block midranks carry DOUBLED (2·midrank =
    * 2·countBelow + ties + 1, an exact long via one RANGE window),
    * and clearing the statistic's denominators by 4 makes it ONE
    * division of exact longs:
    *   χ²_F = (k−1)·(ΣR2_j² − n²k(k+1)²) / (ΣA2 − nk(k+1)²),
    * which reduces to the classic 12/(nk(k+1))·ΣR_j² − 3n(k+1) when
    * no block has ties (unit-pinned on the hand-computed 2-block
    * perfect-agreement case, χ² = k−1·n = 4). Emits one row per
    * treatment (n_blocks, doubled rank sum, mean rank) with the
    * shared statistic; null when the denominator is 0 (all blocks
    * fully tied).
    *
    * Scale shape: one (block, treatment)-keyed collapse, two
    * block-partitioned count windows (block size = k, a category
    * cardinality), one treatment-sized aggregate.
    */
  def friedmanT1(df: DataFrame, block: Column, treatment: Column,
      y: Column): DataFrame = {
    val cells = df.select(block.as("b"), treatment.as("trt"),
        y.cast("long").as("y"))
      .groupBy("b", "trt").agg(sum("y").as("y"))
    val kRow = cells.agg(countDistinct(col("trt")).as("k"))
    val blockSizes = cells.groupBy("b").agg(count(lit(1)).as("bk"))
    val complete = cells.join(blockSizes, Seq("b"))
      .crossJoin(broadcast(kRow)).filter(col("bk") === col("k"))
    val wLt = Window.partitionBy("b").orderBy("y")
      .rangeBetween(Window.unboundedPreceding, -1)
    val wEq = Window.partitionBy("b", "y")
    val ranked = complete
      .withColumn("clt", count(lit(1)).over(wLt))
      .withColumn("teq", count(lit(1)).over(wEq))
      .withColumn("r2", lit(2L) * col("clt") + col("teq") + 1L)
    val perT = ranked.groupBy("trt", "k")
      .agg(count(lit(1)).as("n"), sum("r2").as("r2sum"),
        sum(col("r2") * col("r2")).as("a2t"))
    val wAll = Window.partitionBy()
    val g = perT
      .withColumn("a2", sum("a2t").over(wAll))
      .withColumn("sr2", sum(col("r2sum") * col("r2sum")).over(wAll))
    val kk1sq = col("k") * (col("k") + 1L) * (col("k") + 1L)
    val num = (col("k") - 1L) * (col("sr2") - col("n") * col("n") * kk1sq)
    val den = col("a2") - col("n") * kk1sq
    g.select(col("trt"), col("n").as("n_blocks"), col("r2sum"),
      when(col("n") > 0, round(col("r2sum").cast("double") /
        (lit(2.0) * col("n").cast("double")), 6)).as("mean_rank"),
      when(den > 0, round(num.cast("double") / den.cast("double"), 6))
        .as("friedman_chi2"))
  }

  /** CUPED variance-reduced A/B readout: adjust each unit's outcome by
    * its pre-period covariate, y_adj = y − θ·(x − x̄), with
    * θ = cov(x,y)/var(x) pooled across arms — the industry-standard
    * sensitivity lift (the same experiment detects effects ~1/(1−ρ²)
    * smaller). Emits the raw and adjusted arm-mean differences plus
    * ρ² (the variance fraction removed); adjusted diff equals
    * (ȳ₁−ȳ₀) − θ·(x̄₁−x̄₀), so no per-row adjusted column ever
    * materializes.
    *
    * `unit` keys the experiment unit; `arm` must evaluate 0/1 per
    * unit; x (pre-period) and y (outcome) are caller-quantized
    * integral measures aggregated per unit HERE (conditional sums, so
    * units missing a period contribute 0 — the standard imputation).
    * Scale shape: one unit-keyed combine, then ONE row of power sums
    * (n, Σx, Σy, Σx², Σy², Σxy per arm + pooled), float tower at the
    * end, rounded at 6. θ and ρ² null when var(x) = 0; t-free by
    * design — pair with [[welchT]] on the adjusted metric upstream if
    * a p-value is needed.
    */
  def cupedAdjust(df: DataFrame, unit: Column, arm: Column, x: Column,
      y: Column): DataFrame = {
    val perU = df.select(unit.as("u"), arm.cast("int").as("arm"),
        x.cast("long").as("x"), y.cast("long").as("y"))
      .groupBy("u", "arm").agg(sum("x").as("x"), sum("y").as("y"))
    val sums = perU.agg(
      count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(when(col("arm") === 0, lit(1L)).otherwise(lit(0L))).as("n0"),
      sum(when(col("arm") === 0, col("x")).otherwise(lit(0L))).as("sx0"),
      sum(when(col("arm") === 0, col("y")).otherwise(lit(0L))).as("sy0"),
      sum(when(col("arm") === 1, lit(1L)).otherwise(lit(0L))).as("n1"),
      sum(when(col("arm") === 1, col("x")).otherwise(lit(0L))).as("sx1"),
      sum(when(col("arm") === 1, col("y")).otherwise(lit(0L))).as("sy1"))
    val nD = col("n").cast("double")
    val covN = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val varXN = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val varYN = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    val theta = covN / varXN
    val rawDiff = col("sy1").cast("double") / col("n1").cast("double") -
      col("sy0").cast("double") / col("n0").cast("double")
    val xDiff = col("sx1").cast("double") / col("n1").cast("double") -
      col("sx0").cast("double") / col("n0").cast("double")
    val armsOk = col("n0") >= 1L && col("n1") >= 1L
    sums.select(col("n").as("n_units"), col("n0"), col("n1"),
      when(varXN > 0, round(theta, 6)).as("theta"),
      when(armsOk, round(rawDiff, 6)).as("diff_raw"),
      when(armsOk && varXN > 0, round(rawDiff - theta * xDiff, 6))
        .as("diff_cuped"),
      when(varXN > 0 && varYN > 0,
        round(covN * covN / (varXN * varYN), 6)).as("rho_sq"))
  }

  /** 2×2 difference-in-differences: the causal-inference workhorse for
    * "did the treated arm move MORE than the control moved?" across a
    * pre/post boundary — (ȳ_treat,post − ȳ_treat,pre) −
    * (ȳ_ctrl,post − ȳ_ctrl,pre), which cancels both the arm-level
    * baseline gap and the common time shock. One conditional power-sum
    * pass (four cell counts + four cell sums, exact longs), float
    * tower at the end; null when any cell is empty (no
    * counterfactual). Emits the four cell means, both slopes, and the
    * DiD estimate, rounded at 6.
    */
  def diffInDiff(df: DataFrame, treat: Column, post: Column,
      y: Column): DataFrame = {
    val base = df.select(treat.cast("int").as("tr"),
      post.cast("int").as("po"), y.cast("long").as("y"))
    def cellN(t: Int, p: Int) =
      sum(when(col("tr") === t && col("po") === p, 1L).otherwise(0L))
    def cellS(t: Int, p: Int) =
      sum(when(col("tr") === t && col("po") === p, col("y")).otherwise(0L))
    val sums = base.agg(
      cellN(0, 0).as("n00"), cellS(0, 0).as("s00"),
      cellN(0, 1).as("n01"), cellS(0, 1).as("s01"),
      cellN(1, 0).as("n10"), cellS(1, 0).as("s10"),
      cellN(1, 1).as("n11"), cellS(1, 1).as("s11"))
    def mean(n: String, s: String) =
      col(s).cast("double") / col(n).cast("double")
    val ok = col("n00") >= 1L && col("n01") >= 1L &&
      col("n10") >= 1L && col("n11") >= 1L
    val slopeC = mean("n01", "s01") - mean("n00", "s00")
    val slopeT = mean("n11", "s11") - mean("n10", "s10")
    sums.select(col("n00"), col("n01"), col("n10"), col("n11"),
      when(col("n00") >= 1L, round(mean("n00", "s00"), 6)).as("mean_c_pre"),
      when(col("n01") >= 1L, round(mean("n01", "s01"), 6)).as("mean_c_post"),
      when(col("n10") >= 1L, round(mean("n10", "s10"), 6)).as("mean_t_pre"),
      when(col("n11") >= 1L, round(mean("n11", "s11"), 6)).as("mean_t_post"),
      when(ok, round(slopeC, 6)).as("slope_ctrl"),
      when(ok, round(slopeT, 6)).as("slope_treat"),
      when(ok, round(slopeT - slopeC, 6)).as("did"))
  }

  /** Bartlett's variance-equality test — the PARAMETRIC complement to
    * [[brownForsytheW]]: most powerful under normality, famously
    * fragile off it (run both; agreement is the signal). From the same
    * per-group power sums as [[anovaF]]:
    *   T = [(N−k)·ln s_p² − Σ(n_i−1)·ln s_i²] / C,
    *   C = 1 + (Σ 1/(n_i−1) − 1/(N−k)) / (3(k−1)),
    * χ²(k−1) under H₀. The per-group ln terms are fixed float towers
    * over exact longs summed across k groups (category cardinality);
    * T rounds at 6, null when k < 2 or any group has n < 2 or zero
    * variance.
    */
  def bartlettT(df: DataFrame, group: Seq[String], x: Column): DataFrame = {
    val g = df.select(group.map(col) :+ x.cast("long").as("x"): _*)
      .groupBy(group.map(col): _*)
      .agg(count(lit(1)).as("n"), sum("x").as("s"),
        sum(col("x") * col("x")).as("ss"))
    val v = varC(col("n"), col("s"), col("ss"))
    val tot = g.select(col("n"), v.as("v"))
      .agg(count(lit(1)).as("k"), sum("n").as("n"),
        sum((col("n") - 1L).cast("double") * col("v")).as("ssw"),
        sum((col("n") - 1L).cast("double") * log(col("v"))).as("slnv"),
        sum(lit(1.0) / (col("n") - 1L).cast("double")).as("sinv"),
        min("n").as("minn"), min("v").as("minv"))
    val dfw = (col("n") - col("k")).cast("double")
    val sp2 = col("ssw") / dfw
    val t = (dfw * log(sp2) - col("slnv")) /
      (lit(1.0) + (col("sinv") - lit(1.0) / dfw) /
        (lit(3.0) * (col("k") - 1L).cast("double")))
    tot.select(col("k"), col("n"),
      when(col("k") >= 2L && col("minn") >= 2L && col("minv") > 0,
        round(t, 6)).as("bartlett_t"))
  }

  /** Iterative proportional fitting (raking) of a two-way contingency
    * table to uniform target marginals: the classic survey-weighting /
    * dataset-rebalancing kernel — scale rows to hit the row targets,
    * then columns to hit the column targets, `iters` times; the result
    * is the maximum-entropy reweighting consistent with both marginals
    * (the 2-D special case of what a training-data mixer does when it
    * must hit source AND language quotas simultaneously).
    *
    * Everything runs on the r×c cell grid (category cardinalities —
    * rows collapse in ONE counting pass): each half-iteration is two
    * grid-partitioned window sums and one multiply, so the lazy plan
    * is 2·iters windows deep over a tiny frame, no snapshots needed.
    * Cell weights start at the exact observed proportions; the float
    * tower is order-stable to ~1e-14 at category cardinalities, far
    * below the 1e-6 rounding. Emits (row, col, n, weight) with weights
    * summing to 1.
    */
  def ipfRake(df: DataFrame, rowC: Column, colC: Column,
      iters: Int = 4): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val base = df.select(rowC.as("r"), colC.as("c"))
      .groupBy("r", "c").agg(count(lit(1)).as("n"))
    val dims = base.agg(countDistinct(col("r")).as("nr"),
      countDistinct(col("c")).as("nc"), sum("n").as("nt"))
    val cells = base.crossJoin(broadcast(dims)) // 1-row scalar dims
      .withColumn("w", col("n").cast("double") / col("nt").cast("double"))
    val wRow = Window.partitionBy("r")
    val wCol = Window.partitionBy("c")
    val raked = (1 to iters).foldLeft(cells) { (d, _) =>
      val rowScaled = d.withColumn("w",
        col("w") * ((lit(1.0) / col("nr").cast("double")) /
          sum("w").over(wRow)))
      rowScaled.withColumn("w",
        col("w") * ((lit(1.0) / col("nc").cast("double")) /
          sum("w").over(wCol)))
    }
    raked.select(col("r"), col("c"), col("n"), round(col("w"), 6).as("weight"))
  }

  /** Simpson's-paradox screen: the least-squares slope of y on x
    * WITHIN each segment versus the POOLED slope — the aggregation
    * trap detector ("the trend reverses when you split by segment")
    * every dashboard aggregation should run before a pooled trend is
    * believed. Emits one row per segment with both slopes (the same
    * power-sum algebra as [[linearFit]], one division each), a
    * per-segment sign-flip flag, and the shared all-segments-flip
    * verdict (the full paradox). Flags compare the ROUNDED slopes, so
    * they are exactly as stable as the emitted columns; zero-variance
    * segments yield null slope and no flip.
    *
    * Scale shape: one (segment)-keyed power-sum pass; the pooled sums
    * are the segment sums re-aggregated (segment-cardinality work, no
    * second row scan) and broadcast back.
    */
  def simpsonScreen(df: DataFrame, seg: Column, x: Column,
      y: Column): DataFrame = {
    val g = df.select(seg.as("seg"), x.cast("long").as("x"),
        y.cast("long").as("y"))
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
    val pooled = g.agg(sum("n").as("pn"), sum("sx").as("psx"),
      sum("sy").as("psy"), sum("sxx").as("psxx"), sum("sxy").as("psxy"))
    def slope(n: Column, sx: Column, sy: Column, sxx: Column,
        sxy: Column): (Column, Column) = {
      val den = n.cast("double") * sxx.cast("double") -
        sx.cast("double") * sx.cast("double")
      val sl = (n.cast("double") * sxy.cast("double") -
        sx.cast("double") * sy.cast("double")) / den
      (sl, den)
    }
    val (slS, denS) = slope(col("n"), col("sx"), col("sy"), col("sxx"),
      col("sxy"))
    val (slP, denP) = slope(col("pn"), col("psx"), col("psy"), col("psxx"),
      col("psxy"))
    val withSl = g.crossJoin(broadcast(pooled))
      .select(col("seg"), col("n"),
        when(denS > 0, round(slS, 6)).as("slope_seg"),
        when(denP > 0, round(slP, 6)).as("slope_pooled"))
      .withColumn("sign_flip",
        col("slope_seg").isNotNull && col("slope_pooled").isNotNull &&
          ((col("slope_seg") > 0 && col("slope_pooled") < 0) ||
           (col("slope_seg") < 0 && col("slope_pooled") > 0)))
    withSl.withColumn("all_flip",
      min(col("sign_flip").cast("int")).over(Window.partitionBy()) === 1)
  }

  /** Experiment power analysis: the minimum detectable effect at
    * α = 0.05 (two-sided) / power 0.8 per metric group, from the
    * OBSERVED variance and the arms' actual sizes —
    * MDE = (z_{α/2} + z_β)·√(σ²·(1/n₀ + 1/n₁)) — the "is this
    * experiment even capable of seeing the effect we care about?"
    * gate that should run BEFORE [[welchT]] is read. The z constants
    * are pinned literals (1.959963984540054, 0.8416212335729143) so
    * both engines compute identical doubles. One conditional power-sum
    * pass; emits absolute and relative (to the pooled mean) MDE,
    * rounded at 6; null when either arm is empty or variance is 0.
    */
  def mdePower(df: DataFrame, group: Seq[String], arm: Column,
      x: Column): DataFrame = {
    val g = df.select(group.map(col) ++ Seq(arm.cast("int").as("arm"),
        x.cast("long").as("x")): _*)
      .groupBy(group.map(col): _*)
      .agg(count(lit(1)).as("n"), sum("x").as("s"),
        sum(col("x") * col("x")).as("ss"),
        sum(when(col("arm") === 0, lit(1L)).otherwise(lit(0L))).as("n0"),
        sum(when(col("arm") === 1, lit(1L)).otherwise(lit(0L))).as("n1"))
    val z = lit(1.959963984540054) + lit(0.8416212335729143)
    val v = varC(col("n"), col("s"), col("ss"))
    val mde = z * sqrt(v * (lit(1.0) / col("n0").cast("double") +
      lit(1.0) / col("n1").cast("double")))
    val mean = meanC(col("n"), col("s"))
    val ok = col("n0") >= 1L && col("n1") >= 1L && col("n") >= 2L && v > 0
    g.select(group.map(col) ++ Seq(col("n0"), col("n1"),
      when(col("n") >= 2L && v > 0, round(sqrt(v), 6)).as("sd"),
      when(ok, round(mde, 6)).as("mde_abs"),
      // magnitude, not signed: dividing by the signed mean inverts the
      // "is the experiment powered" reading for negative-mean metrics
      // (round-11 advice) — mde_rel is relative SIZE by definition
      when(ok && mean =!= 0.0, round(mde / abs(mean), 6)).as("mde_rel")): _*)
  }

  /** Post-hoc pairwise contrasts after [[anovaF]]: for every group
    * pair, the mean difference and its studentized value
    * t = (mean_a − mean_b) / √(MSW·(1/n_a + 1/n_b)) against the
    * POOLED within-group variance — the Tukey-HSD-style table that
    * says WHICH groups differ once the omnibus F fires (compare |t| to
    * the studentized-range critical value for k groups upstream).
    *
    * Same one-pass power sums as [[anovaF]]; the pair expansion is a
    * broadcast non-equi self-join over the k-row group frame (k² pairs
    * of a category cardinality — never rows), MSW is a broadcast
    * 1-row scalar, and each output value is a fixed float tower over
    * exact longs, rounded at 6. t is null when MSW ≤ 0 or N ≤ k.
    *
    * Storage: the k-row power-sum frame is persisted (it has three
    * consumers — both self-join sides and the MSW scalar — and
    * self-join aliasing defeats exchange reuse) and released after the
    * result's first run ([[Materialize.releaseAfterUse]]).
    */
  def tukeyPairs(df: DataFrame, group: String, x: Column): DataFrame = {
    // the k-row power-sum frame has THREE consumers (both self-join
    // sides and the MSW scalar); self-join aliasing defeats exchange
    // reuse, so without materialization the ROW-SCALE aggregate runs
    // three times (30× sweep: 11.6 s → one scan). Persist the k rows —
    // k is a category cardinality, the cache is tiny — and free them
    // once the result has run.
    val g = Materialize.persist(df.select(col(group).as("g"), x.cast("long").as("x"))
      .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("s"),
        sum(col("x") * col("x")).as("ss")))
    val tot = g.agg(count(lit(1)).as("k"), sum("n").as("nt"),
      sum("ss").cast("double").as("ssd"),
      sum(col("s").cast("double") * col("s").cast("double") /
        col("n").cast("double")).as("sb"))
    val pairs = g.as("a")
      .join(broadcast(g.as("b")), col("a.g") < col("b.g"), "inner")
      .crossJoin(broadcast(tot))
    val msw = (col("ssd") - col("sb")) / (col("nt") - col("k")).cast("double")
    val diff = col("a.s").cast("double") / col("a.n").cast("double") -
      col("b.s").cast("double") / col("b.n").cast("double")
    val se = sqrt(msw * (lit(1.0) / col("a.n").cast("double") +
      lit(1.0) / col("b.n").cast("double")))
    Materialize.releaseAfterUse(pairs.select(col("a.g").as("g_a"), col("b.g").as("g_b"),
      col("a.n").as("n_a"), col("b.n").as("n_b"),
      round(diff, 6).as("mean_diff"),
      when(col("nt") > col("k") && msw > 0, round(diff / se, 6))
        .as("t_stat")), g)
  }

  /** Gini concentration coefficient per group over per-unit totals:
    * G = 2·Σ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n with the unit totals x ranked
    * ascending — "how concentrated is spend/traffic/tokens across
    * customers/users/sources?", the Lorenz-curve summary every
    * mixture-balance review starts from (0 = perfectly even,
    * →1 = one unit holds everything).
    *
    * Exactness: rows collapse map-side to the (group, unit) grid; the
    * rank is a deterministic row_number (ties broken by unit id —
    * Σ i·x is INVARIANT under permutations within a tied block, so
    * the tie-break affects nothing), and Σ i·x is an exact long. The
    * G tower is the only float, rounded at 6 (null when n < 2 or the
    * total is 0). The rank window sorts the UNIT GRID per group —
    * aggregated units, never raw rows.
    */
  def giniCoefficient(df: DataFrame, group: Seq[String], unit: Column,
      x: Column): DataFrame = {
    val gc = group.map(col)
    val perUnit = df.select(gc ++ Seq(unit.as("u"), x.cast("long").as("v")): _*)
      .groupBy(gc :+ col("u"): _*).agg(sum("v").as("v"))
    val w = Window.partitionBy(gc: _*).orderBy(col("v"), col("u"))
    perUnit.withColumn("i", row_number().over(w).cast("long"))
      .groupBy(gc: _*)
      .agg(count(lit(1)).as("n"), sum("v").as("total"),
        sum(col("i") * col("v")).as("iwx"))
      .select(gc ++ Seq(col("n"), col("total"),
        when(col("n") >= 2L && col("total") > 0L,
          round(lit(2.0) * col("iwx").cast("double") /
            (col("n").cast("double") * col("total").cast("double")) -
            (col("n") + lit(1L)).cast("double") / col("n").cast("double"), 6))
          .as("gini")): _*)
  }

  /** Cramér's V association between two categorical columns: the
    * χ²-based effect size V = √(χ² / (N·(min(R,C)−1))) — "are these
    * two labels related at all, and how strongly?" on a 0..1 scale,
    * the first screen before any categorical feature is kept.
    *
    * Exactness: one map-side-combined pass to the (a, b) contingency
    * grid; margins derive from the GRID (never a second row scan);
    * χ² is a per-cell float tower over exact longs summed across the
    * FULL R·C grid — observed cells contribute (n−E)²/E, and every
    * EMPTY cell with nonzero margins contributes its expected count E
    * (since (0−E)²/E = E). The empty-cell total never enumerates the
    * missing cells: Σ_all E = N, so Σ_missing E = N − Σ_observed E
    * = (N² − Σ_observed ri·cj)/N, whose numerator is an EXACT long
    * (structural zeros cost one extra integer sum, not a margins
    * cross-join; N² bounds int64 up to N ~ 3·10⁹ rows — past that,
    * pre-aggregate). Non-negative terms — reassociation error ~ulp,
    * far below the 1e-6 rounding. Null V when N = 0 or min(R,C) < 2.
    */
  def cramersV(df: DataFrame, a: Column, b: Column): DataFrame = {
    val cells = df.select(a.as("a"), b.as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("nij"))
    val wA = Window.partitionBy("a")
    val wB = Window.partitionBy("b")
    val wAll = Window.partitionBy()
    val withM = cells
      .withColumn("ri", sum("nij").over(wA))
      .withColumn("cj", sum("nij").over(wB))
      .withColumn("n", sum("nij").over(wAll))
    val e = col("ri").cast("double") * col("cj").cast("double") /
      col("n").cast("double")
    val term = (col("nij").cast("double") - e) *
      (col("nij").cast("double") - e) / e
    val g = withM.groupBy()
      .agg(max("n").as("n"), countDistinct("a").as("r"),
        countDistinct("b").as("c"), sum(term).as("chi2obs"),
        sum(col("ri") * col("cj")).as("rcsum"))
    // empty-cell correction: (N² − Σ_observed ri·cj)/N — exact-long
    // numerator, exactly 0 when the grid is complete
    val chi2 = col("chi2obs") +
      (col("n") * col("n") - col("rcsum")).cast("double") /
        col("n").cast("double")
    val mindim = least(col("r"), col("c")).cast("double") - lit(1.0)
    g.select(col("n"), col("r"), col("c"), round(chi2, 6).as("chi2"),
      when(col("n") > 0L && mindim >= 1.0,
        round(sqrt(chi2 / (col("n").cast("double") * mindim)), 6))
        .as("cramers_v"))
  }

  /** 2×2 odds ratio per group with a Wald 95% CI on the log scale:
    * OR = a·d / (b·c) over the (exposed × outcome) cell counts, and
    * ln(OR) ± 1.96·√(1/a + 1/b + 1/c + 1/d) — the standard
    * case-control readout ("how much does exposure multiply the odds?").
    *
    * Exactness: ONE conditional power-sum pass widens the four cells
    * onto a row per group (exact longs); OR is a single float ratio
    * rounded at 6. The CI bounds pass through `ln`/`exp`, whose last
    * bit is not IEEE-pinned across libm implementations, so they round
    * at 4 (the q_token_entropy convention). All emissions null when
    * any cell is 0 (the CI is undefined; callers add ½ corrections
    * upstream if they want them).
    */
  def oddsRatio(df: DataFrame, group: Seq[String], exposed: Column,
      outcome: Column): DataFrame = {
    val gc = group.map(col)
    val g = df.select(gc ++ Seq(exposed.cast("boolean").as("x"),
        outcome.cast("boolean").as("y")): _*)
      .groupBy(gc: _*)
      .agg(sum(when(col("x") && col("y"), 1L).otherwise(0L)).as("a"),
        sum(when(col("x") && !col("y"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("x") && col("y"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("x") && !col("y"), 1L).otherwise(0L)).as("d"))
    val ok = col("a") > 0L && col("b") > 0L && col("c") > 0L && col("d") > 0L
    val or = col("a").cast("double") * col("d").cast("double") /
      (col("b").cast("double") * col("c").cast("double"))
    val se = sqrt(lit(1.0) / col("a").cast("double") +
      lit(1.0) / col("b").cast("double") +
      lit(1.0) / col("c").cast("double") +
      lit(1.0) / col("d").cast("double"))
    g.select(gc ++ Seq(col("a"), col("b"), col("c"), col("d"),
      when(ok, round(or, 6)).as("odds_ratio"),
      when(ok, round(exp(log(or) - lit(1.96) * se), 4)).as("ci_lo"),
      when(ok, round(exp(log(or) + lit(1.96) * se), 4)).as("ci_hi")): _*)
  }

  /** McNemar's test between two PAIRED classifiers: over items both
    * raters judged, count the discordant cells (b = only rater 1
    * correct, c = only rater 2 correct); χ² = (b−c)²/(b+c) — "is the
    * new model actually better than the old on the same items, or is
    * the accuracy delta coin-flip noise?", the paired readout an
    * unpaired accuracy comparison gets wrong.
    *
    * Exactness: b and c are exact conditional counts in one pass;
    * (b−c)² is an exact long; χ² is one division rounded at 6 (null
    * when b + c = 0 — no discordant pairs, no test).
    */
  def mcnemar(df: DataFrame, group: Seq[String], correct1: Column,
      correct2: Column): DataFrame = {
    val gc = group.map(col)
    val g = df.select(gc ++ Seq(correct1.cast("boolean").as("c1"),
        correct2.cast("boolean").as("c2")): _*)
      .groupBy(gc: _*)
      .agg(count(lit(1)).as("n"),
        sum(when(col("c1") && !col("c2"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("c1") && col("c2"), 1L).otherwise(0L)).as("c"))
    val num = (col("b") - col("c")) * (col("b") - col("c"))
    g.select(gc ++ Seq(col("n"), col("b"), col("c"),
      when(col("b") + col("c") > 0L,
        round(num.cast("double") / (col("b") + col("c")).cast("double"), 6))
        .as("chi2")): _*)
  }

  /** Cochran's Q test across k = 3 PAIRED binary raters — does any of
    * the three classifiers differ in success rate on the same items?
    * The k-rater generalization of [[mcnemar]] (run it first; McNemar
    * pairs tell you WHICH raters differ once Q fires).
    *
    * Exactness: one pass to per-item indicator sums; Q clears to
    * (k−1)·(k·ΣG_j² − (ΣG)²) / (k·ΣL_i − ΣL_i²) where G_j = rater j's
    * successes and L_i = item i's success count — every term an exact
    * long, one division rounded at 6 (null when the denominator is 0:
    * all items unanimous).
    */
  def cochranQ(df: DataFrame, c1: Column, c2: Column,
      c3: Column): DataFrame = {
    val ind = df.select(c1.cast("long").as("x1"), c2.cast("long").as("x2"),
      c3.cast("long").as("x3"))
      .withColumn("l", col("x1") + col("x2") + col("x3"))
    val g = ind.agg(count(lit(1)).as("n"),
      sum("x1").as("g1"), sum("x2").as("g2"), sum("x3").as("g3"),
      sum("l").as("sl"), sum(col("l") * col("l")).as("sl2"))
    val k = lit(3L)
    val sg = col("g1") + col("g2") + col("g3")
    val sg2 = col("g1") * col("g1") + col("g2") * col("g2") +
      col("g3") * col("g3")
    val num = (k - 1L) * (k * sg2 - sg * sg)
    val den = k * col("sl") - col("sl2")
    g.select(col("n"), col("g1"), col("g2"), col("g3"),
      when(den > 0L, round(num.cast("double") / den.cast("double"), 6))
        .as("q_stat"))
  }

  /** Herfindahl–Hirschman concentration index per group over per-unit
    * integral totals: HHI = Σ_u (v_u/S)² — the squared-share market-
    * concentration standard (1/HHI is the "effective number of units"),
    * completing the concentration triple with [[giniCoefficient]] and
    * [[theilIndex]] (HHI weights the HEAD, Gini the whole curve, Theil
    * decomposes).
    *
    * Exactness: rows collapse to the (group, unit) grid; v² is summed
    * in DOUBLE (the [[varC]] overflow convention — v² exceeds int64
    * once v reaches ~3e9) with non-negative terms, so reassociation
    * error is ~ulp, far below the 1e-6 rounding; HHI is one division.
    */
  def hhi(df: DataFrame, group: Seq[String], unit: Column,
      x: Column): DataFrame = {
    val gc = group.map(col)
    val perUnit = df.select(gc ++ Seq(unit.as("u"), x.cast("long").as("v")): _*)
      .groupBy(gc :+ col("u"): _*).agg(sum("v").as("v"))
    perUnit.groupBy(gc: _*)
      .agg(count(lit(1)).as("n"), sum("v").as("total"),
        sum(col("v").cast("double") * col("v").cast("double")).as("ss"))
      .select(gc ++ Seq(col("n"), col("total"),
        when(col("total") > 0L,
          round(col("ss") / (col("total").cast("double") *
            col("total").cast("double")), 6)).as("hhi")): _*)
  }

  /** Stratified average-treatment-effect estimate per group: within
    * each covariate stratum, the treated-minus-control mean; the ATE
    * is the stratum-size-weighted sum Σ_s (n_s/N)·(ȳ₁ₛ − ȳ₀ₛ) — the
    * confounder-adjusted complement to the naive arm difference (also
    * emitted, so the adjustment is visible), the workhorse when
    * randomization is imperfect but a blocking covariate exists.
    *
    * Exactness: one conditional power-sum pass to the (group, stratum)
    * grid (all longs); per-stratum means are exact-long divisions, the
    * weighted sum runs over the stratum grid (a handful of mixed-sign
    * doubles of similar magnitude — reassociation ~ulp against the
    * 1e-6 rounding). Strata missing an arm are excluded from BOTH the
    * ATE numerator and its weight mass (the standard common-support
    * trim), exactly mirrored in the oracle.
    */
  def stratifiedAte(df: DataFrame, group: Seq[String], stratum: Column,
      treated: Column, y: Column): DataFrame = {
    val gc = group.map(col)
    val cells = df.select(gc ++ Seq(stratum.cast("long").as("st"),
        treated.cast("int").as("tr"), y.cast("long").as("y")): _*)
      .groupBy(gc :+ col("st"): _*)
      .agg(sum(when(col("tr") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("tr") === 1, col("y")).otherwise(0L)).as("s1"),
        sum(when(col("tr") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("tr") === 0, col("y")).otherwise(0L)).as("s0"))
    val supported = col("n1") >= 1L && col("n0") >= 1L
    val diff = col("s1").cast("double") / col("n1").cast("double") -
      col("s0").cast("double") / col("n0").cast("double")
    val g = cells.groupBy(gc: _*)
      .agg(sum(col("n1") + col("n0")).as("n"),
        sum(col("n1")).as("nt"), sum(col("n0")).as("nc"),
        sum(col("s1")).as("st1"), sum(col("s0")).as("st0"),
        sum(when(supported, col("n1") + col("n0")).otherwise(0L)).as("nsup"),
        sum(when(supported,
          (col("n1") + col("n0")).cast("double") * diff).otherwise(0.0))
          .as("wsum"))
    val naive = col("st1").cast("double") / col("nt").cast("double") -
      col("st0").cast("double") / col("nc").cast("double")
    g.select(gc ++ Seq(col("n"), col("nt"), col("nc"),
      when(col("nt") >= 1L && col("nc") >= 1L, round(naive, 6))
        .as("diff_naive"),
      when(col("nsup") > 0L,
        round(col("wsum") / col("nsup").cast("double"), 6)).as("ate_strat")): _*)
  }

  /** Theil T inequality index per group over per-unit integral totals:
    * T = Σ x_i·ln(x_i/μ) / (n·μ) — the entropy-based concentration
    * twin of [[giniCoefficient]], and the one that DECOMPOSES
    * (T_total = T_between + Σ share·T_within), so mixture reviews can
    * attribute inequality to across-source vs within-source skew.
    *
    * Exactness (the q_session_entropy micro-nat discipline, but with
    * ln applied to INTEGERS only): using ln(μ) = ln(S) − ln(n),
    * T = [Σ x·lnq(x) − S·(lnq(S) − lnq(n))] / (S·Q) where
    * lnq(k) = round(ln(k)·Q) is a quantized-long log of an integer —
    * so the big sum Σ x·lnq(x) accumulates as EXACT longs and engines
    * agree bit-for-bit. Q = 1e5 keeps x·lnq(x) ≤ ~2e12 per unit and
    * the group sum inside int64 for unit grids up to ~10⁶ units of
    * ~10⁷-scale totals; positive-total units only (ln needs x > 0;
    * zero/negative units drop, documented). Rounds at 6.
    */
  def theilIndex(df: DataFrame, group: Seq[String], unit: Column,
      x: Column): DataFrame = {
    val gc = group.map(col)
    val q = 1e5
    val perUnit = df.select(gc ++ Seq(unit.as("u"), x.cast("long").as("v")): _*)
      .groupBy(gc :+ col("u"): _*).agg(sum("v").as("v"))
      .filter(col("v") > 0L)
    def lnq(c: Column): Column = round(log(c.cast("double")) * q).cast("long")
    val g = perUnit.groupBy(gc: _*)
      .agg(count(lit(1)).as("n"), sum("v").as("s"),
        sum(col("v") * lnq(col("v"))).as("xlnx"))
    val tNum = col("xlnx") - col("s") * (lnq(col("s")) - lnq(col("n")))
    g.select(gc ++ Seq(col("n"), col("s").as("total"),
      when(col("n") >= 1L && col("s") > 0L,
        round(tNum.cast("double") / (col("s").cast("double") * q), 6))
        .as("theil_t")): _*)
  }

  /** Murphy decomposition of the Brier score per group over K
    * forecast bins: BS = reliability − resolution + uncertainty,
    * where bin b's implied forecast is the midpoint f_b = (2b+1)/(2K)
    * — the "is the probability model calibrated, and does it actually
    * discriminate?" readout behind every calibration plot.
    *
    * Exactness: one map-side-combined pass to the (group, bin) cell
    * grid (n_b, o_b exact longs); the Brier score itself clears to an
    * EXACT integer numerator over denominator 4K²·N
    * (Σ_b n_b(2b+1)² − 4K(2b+1)o_b + 4K²o_b, using y² = y), so BS is
    * drift-free; reliability/resolution are K-term sums of
    * non-negative doubles off exact cell counts (no cancellation —
    * reassociation error ~ulp, far below the 1e-6 rounding) and
    * uncertainty is one division. `bin` must evaluate to an integer
    * in [0, K).
    */
  def brierDecomposition(df: DataFrame, group: Seq[String], bin: Column,
      k: Int, y: Column): DataFrame = {
    val gc = group.map(col)
    val cells = df.select(gc ++ Seq(bin.cast("long").as("b"),
        y.cast("long").as("y")): _*)
      .groupBy(gc :+ col("b"): _*)
      .agg(count(lit(1)).as("nk"), sum("y").as("ok"))
    val w = Window.partitionBy(gc: _*)
    val f = col("b") * lit(2L) + lit(1L) // 2b+1; f_b = (2b+1)/(2K)
    val brierNum = col("nk") * f * f -
      lit(4L * k) * f * col("ok") + lit(4L * k.toLong * k) * col("ok")
    val fD = f.cast("double") / lit(2.0 * k)
    val obk = col("ok").cast("double") / col("nk").cast("double")
    val obar = col("o").cast("double") / col("n").cast("double")
    cells
      .withColumn("n", sum("nk").over(w))
      .withColumn("o", sum("ok").over(w))
      .groupBy(gc: _*)
      .agg(max("n").as("n"), max("o").as("o"),
        sum(brierNum).as("bnum"),
        sum(col("nk").cast("double") * (fD - obk) * (fD - obk)).as("reln"),
        sum(col("nk").cast("double") * (obk - obar) * (obk - obar)).as("resn"))
      .select(gc ++ Seq(col("n"),
        round(col("bnum").cast("double") /
          (lit(4.0 * k * k) * col("n").cast("double")), 6).as("brier"),
        round(col("reln") / col("n").cast("double"), 6).as("reliability"),
        round(col("resn") / col("n").cast("double"), 6).as("resolution"),
        round(col("o").cast("double") / col("n").cast("double") *
          (lit(1.0) - col("o").cast("double") / col("n").cast("double")), 6)
          .as("uncertainty")): _*)
  }
}
