package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Robust (outlier-resistant) trend estimation.
  *
  * Web-telemetry role: per-series activity trends where a single crawler
  * burst or outage day would wreck an OLS slope — the median-of-slopes
  * estimator has a 29% breakdown point (up to ~29% of points can be
  * arbitrary garbage before the slope moves).
  */
object Robust {

  /** Theil–Sen slope (Theil 1950, Sen 1968, public papers) per group:
    * the MEDIAN of all pairwise slopes (y_j − y_i)/(x_j − x_i) over points
    * with distinct x. Exact (no approximation) — median by exact
    * interpolating percentile, identical to SQL `quantile_cont(0.5)`.
    *
    * Determinism note for oracle parity: when y is integer-valued (e.g. a
    * daily event count) every slope is ONE IEEE division of exact
    * integers, and the median interpolates at most two such doubles — no
    * float summation anywhere, so the result is bit-identical across
    * engines and shuffle orders.
    *
    * Scale: the pair self-join is O(n²) per group — intended for series of
    * PRE-AGGREGATED points (daily/hourly tier rows, n in the hundreds),
    * never raw events; `maxPoints` enforces that contract at runtime
    * (fails loudly instead of silently exploding a year of 1m points into
    * 10¹⁰ pairs). Groups are independent — the join key is the group, so
    * the work distributes and the hottest group costs n² only locally.
    *
    * Returns one row per group: (groupCols…, n_points, ts_slope).
    */
  def theilSenSlope(df: DataFrame, groupCols: Seq[String], xCol: String,
                    yCol: String, maxPoints: Int = 10000): DataFrame = {
    require(groupCols.nonEmpty, "theilSenSlope needs at least one group column")
    val pts = df.select((groupCols.map(col) :+
      col(xCol).cast("double").as("_x") :+ col(yCol).cast("double").as("_y")): _*)
      .localCheckpoint() // consumed twice (both join sides) + the size gate
    val sizes = pts.groupBy(groupCols.map(col): _*).agg(count(lit(1)).as("n_points"))
    val tooBig = sizes.filter(col("n_points") > maxPoints).limit(1).collect() // bounded: 0 or 1 row
    require(tooBig.isEmpty,
      s"a group exceeds maxPoints=$maxPoints points — feed tier-aggregated series, not raw events")
    val a = pts.toDF((groupCols :+ "_x1" :+ "_y1"): _*)
    val b = pts.toDF((groupCols :+ "_x2" :+ "_y2"): _*)
    val slopes = a.join(b, groupCols)
      .filter(col("_x1") < col("_x2"))
      .select((groupCols.map(col) :+
        ((col("_y2") - col("_y1")) / (col("_x2") - col("_x1"))).as("_slope")): _*)
    // right join keeps 1-point groups (no pairs) with a null slope
    slopes.groupBy(groupCols.map(col): _*)
      .agg(expr("percentile(_slope, 0.5)").as("ts_slope"))
      .join(sizes, groupCols, "right")
      .select((groupCols.map(col) :+ col("n_points") :+ col("ts_slope")): _*)
  }

  /** Kendall's τ-b rank correlation per group (Kendall 1938, tie-corrected
    * τ-b form, public): concordant-minus-discordant pair sign sum over the
    * tie-corrected pair counts,
    *   τ_b = S / √((n₀−n₁)(n₀−n₂)),  n₀ = n(n−1)/2,
    * n₁/n₂ = Σ t(t−1)/2 over tied x / tied y groups. The concordance
    * sibling of [[graft.operators.Features.spearman]]: S is a pure INTEGER
    * statistic on integer measures (every pair contributes −1/0/+1), so
    * only the final normalization touches floats — one sqrt of a product
    * of exact longs.
    *
    * Pairs are ordered by `idCol` (i < j) so each pair counts once. Same
    * O(n²)-per-group contract and `maxPoints` gate as [[theilSenSlope]] —
    * feed tier-aggregated series. Null τ when either measure is constant.
    */
  def kendallTau(df: DataFrame, groupCols: Seq[String], idCol: String,
                 xCol: String, yCol: String, maxPoints: Int = 10000): DataFrame = {
    require(groupCols.nonEmpty, "kendallTau needs at least one group column")
    val pts = df.select((groupCols.map(col) :+ col(idCol).as("_i") :+
      col(xCol).cast("long").as("_x") :+ col(yCol).cast("long").as("_y")): _*)
      .localCheckpoint() // consumed 4×: sizes gate, pair sides, tie counts
    val sizes = pts.groupBy(groupCols.map(col): _*).agg(count(lit(1)).as("n"))
    val tooBig = sizes.filter(col("n") > maxPoints).limit(1).collect()
    require(tooBig.isEmpty,
      s"a group exceeds maxPoints=$maxPoints points — feed tier-aggregated series")
    val a = pts.toDF((groupCols :+ "_i1" :+ "_x1" :+ "_y1"): _*)
    val b = pts.toDF((groupCols :+ "_i2" :+ "_x2" :+ "_y2"): _*)
    val s = a.join(b, groupCols).filter(col("_i1") < col("_i2"))
      .groupBy(groupCols.map(col): _*)
      .agg(sum(signum((col("_x2") - col("_x1")) * (col("_y2") - col("_y1")))
        .cast("long")).as("s"))
    def tieSum(c: String, out: String) = pts
      .groupBy((groupCols.map(col) :+ col(c)): _*).agg(count(lit(1)).as("_t"))
      .groupBy(groupCols.map(col): _*)
      .agg(sum(expr("(_t * (_t - 1)) div 2")).as(out))
    s.join(tieSum("_x", "n1"), groupCols)
      .join(tieSum("_y", "n2"), groupCols)
      .join(sizes, groupCols)
      .withColumn("_n0", expr("(n * (n - 1)) div 2"))
      .withColumn("tau_b",
        when((col("_n0") - col("n1")) > 0 && (col("_n0") - col("n2")) > 0,
          col("s").cast("double") /
            sqrt((col("_n0") - col("n1")).cast("double") *
              (col("_n0") - col("n2")).cast("double"))))
      .select((groupCols.map(col) :+ col("s") :+ col("n") :+ col("tau_b")): _*)
  }

  /** Rank-biased overlap at fixed depth (Webber/Moffat/Zobel 2010, truncated
    * form, no extrapolation): per group, how similar two top-`depth`
    * rankings are, weighting agreement at rank 1 most —
    * `RBO = (1-p) · Σ_{k=1..d} p^(k-1) · |A_k ∩ B_k| / k`.
    *
    * An item in both prefixes enters every overlap from `k = max(rank_a,
    * rank_b)` on, so it contributes the data-independent weight
    * `w(m) = Σ_{k=m..d} p^(k-1)/k` exactly once — the whole metric becomes
    * one inner join on (group, item) and a sum of ≤`depth` plan-time
    * constants per group. No per-k pass, no explode.
    *
    * Rankings order by (`cntCol` DESC, item ASC) — an INTEGER measure with
    * an id tie-break, never a raw float score (cross-engine rank cuts).
    * The per-group `row_number` window is bounded by the item dimension.
    */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, groupCols: Seq[String],
                        itemCol: String, cntCol: String, depth: Int,
                        p: Double): DataFrame = {
    require(depth >= 1, s"rankBiasedOverlap: depth must be >= 1, got $depth")
    require(p > 0 && p < 1, s"rankBiasedOverlap: p must be in (0,1), got $p")
    val keys = groupCols.map(col)
    def ranks(df: DataFrame, rc: String) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys: _*).orderBy(col(cntCol).desc, col(itemCol))
      df.withColumn(rc, row_number().over(w)).filter(col(rc) <= depth)
        .select((keys :+ col(itemCol) :+ col(rc)): _*)
    }
    // w(m), ascending-k sum — ≤ depth doubles, planted as literals
    val weights = (1 to depth).map(m =>
      (m to depth).map(k => math.pow(p, k - 1) / k).sum)
    val m = greatest(col("_ra"), col("_rb"))
    val w = weights.zipWithIndex.foldLeft(lit(0.0)) { case (acc, (wv, i)) =>
      when(m === (i + 1), lit(wv)).otherwise(acc)
    }
    ranks(a, "_ra").join(ranks(b, "_rb"), groupCols :+ itemCol)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_common"),
        ((lit(1.0) - p) * sum(w)).as("rbo"))
  }

  /** Mann–Whitney U rank-sum test (Mann & Whitney 1947) per group: does
    * segment A's value distribution stochastically dominate segment B's —
    * the nonparametric two-sample comparison that needs no normality
    * assumption (the A/B readout for skewed engagement metrics).
    *
    * Midranks handle ties exactly: `rank() + (tieCount−1)/2` — every
    * midrank is a half-integer, so the rank sums are EXACT in doubles.
    * `U_A = R_A − n_A(n_A+1)/2`; z uses the normal approximation with the
    * standard tie correction `σ² = n_A n_B/12 · ((N+1) − Σ(t³−t)/(N(N−1)))`
    * (no continuity correction — documented choice, same in the oracle).
    *
    * Scale: one rank window per group (bounded by group size), one
    * aggregate. Ranks order by raw stored values + id tie-break-free —
    * ties share a midrank so no tie-break is needed; float ORDER is
    * bit-identical cross-engine (no float sums feed the ordering).
    */
  def mannWhitney(df: DataFrame, groupCols: Seq[String], segCol: String,
                  segA: String, segB: String, valCol: String): DataFrame = {
    val keys = groupCols.map(col)
    val both = df.filter(col(segCol).isin(segA, segB))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(col(valCol))
    val tiePart = org.apache.spark.sql.expressions.Window
      .partitionBy((keys :+ col(valCol)): _*)
    val ranked = both
      .withColumn("_tc", count(lit(1)).over(tiePart))
      .withColumn("_mid",
        rank().over(w).cast("double") + (col("_tc") - 1).cast("double") / 2)
    ranked.groupBy(keys: _*)
      .agg(
        sum(when(col(segCol) === segA, 1L).otherwise(0L)).as("n_a"),
        sum(when(col(segCol) === segB, 1L).otherwise(0L)).as("n_b"),
        sum(when(col(segCol) === segA, col("_mid")).otherwise(lit(0.0))).as("_ra"),
        // Σ(t³−t) counted once per tie block: every row carries its block
        // size, so summing (t²−1) per row = Σ over blocks of t·(t²−1)
        sum(col("_tc") * col("_tc") - 1).as("_tie"))
      .withColumn("u_a",
        col("_ra") - col("n_a").cast("double") * (col("n_a") + 1) / 2)
      .withColumn("_n", col("n_a") + col("n_b"))
      .withColumn("_mu", col("n_a").cast("double") * col("n_b") / 2)
      .withColumn("_var",
        col("n_a").cast("double") * col("n_b") / 12 *
          ((col("_n") + 1) - col("_tie").cast("double") /
            (col("_n") * (col("_n") - 1))))
      .withColumn("z",
        when(col("_var") > 0, (col("u_a") - col("_mu")) / sqrt(col("_var"))))
      .select((keys :+ col("n_a") :+ col("n_b") :+ col("u_a") :+ col("z")): _*)
  }

  /** Cohen's kappa (Cohen 1960) per group: chance-corrected agreement
    * between two categorical labelings of the same rows (two quality
    * heuristics, two classifiers, two annotators). With n rows, observed
    * agreement `a` (label_1 = label_2) and per-category marginals n1_k /
    * n2_k, `κ = (n·a − Σ_k n1_k·n2_k) / (n² − Σ_k n1_k·n2_k)` — the whole
    * statistic is INTEGER arithmetic up to one final division, so it is
    * cross-engine exact regardless of shuffle order.
    *
    * Scale: two category-grain aggregates + one equi-join on (group,
    * category) — never a row-grain join; category cardinality bounds
    * everything after the first shuffle.
    */
  def cohenKappa(df: DataFrame, groupCols: Seq[String], aCol: String,
                 bCol: String): DataFrame = {
    val keys = groupCols.map(col)
    val base = df.select((keys :+ col(aCol).cast("string").as("_a") :+
      col(bCol).cast("string").as("_b")): _*)
    val totals = base.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"),
        sum(when(col("_a") === col("_b"), 1L).otherwise(0L)).as("n_agree"))
    val ma = base.groupBy((keys :+ col("_a").as("_k")): _*)
      .agg(count(lit(1)).as("_n1"))
    val mb = base.groupBy((keys :+ col("_b").as("_k")): _*)
      .agg(count(lit(1)).as("_n2"))
    val chance = ma.join(mb, groupCols :+ "_k")
      .groupBy(keys: _*).agg(sum(col("_n1") * col("_n2")).as("_e"))
    totals.join(chance, groupCols)
      .withColumn("kappa",
        when(col("n") * col("n") === col("_e"),
          lit(null).cast("double")) // pe = 1: kappa undefined
          .otherwise((col("n") * col("n_agree") - col("_e")).cast("double") /
            (col("n") * col("n") - col("_e")).cast("double")))
      .select((keys :+ col("n") :+ col("n_agree") :+ col("kappa")): _*)
  }

  /** Tukey median polish (Tukey 1977 EDA ch. 11; Hoaglin-Mosteller-Tukey
    * 1983): robust additive two-way decomposition
    * `y_rc ≈ row_eff_r + col_eff_c + residual_rc` by alternately sweeping
    * out row medians then column medians, `iterations` times. The
    * outlier-proof sibling of the mean-based two-way fit
    * ([[Features.seasonalDecompose]]'s grouped means): one wrecked cell
    * moves a mean sweep but not a median sweep.
    *
    * Convention pinned for replay: effects start at 0, each sweep ADDS the
    * sweep median into the effect and subtracts it from the residuals; no
    * grand-effect re-centering (the overall level stays absorbed in the
    * row effects — the common simplified form). With integer-valued cells
    * every median is an exact dyadic rational and the whole decomposition
    * is bit-exact across engines.
    *
    * Plan: cells live at (key, row, col) grain; each sweep is ONE window
    * exact-percentile over the cell table (a groupBy+join-back formulation
    * would re-evaluate the whole upstream plan twice per sweep — 2^sweeps
    * scans; windows keep it one linear chain of cell-table exchanges,
    * never re-touching the raw events).
    */
  def medianPolish(df: DataFrame, keyCols: Seq[String], rowCol: String,
                   colCol: String, valCol: String, iterations: Int = 2): DataFrame = {
    require(iterations >= 1 && iterations <= 16,
      s"medianPolish: iterations must be in [1,16], got $iterations")
    import org.apache.spark.sql.expressions.Window
    val keys = keyCols.map(col)
    val byRow = Window.partitionBy((keys :+ col("_r")): _*)
    val byCol = Window.partitionBy((keys :+ col("_c")): _*)
    var cells = df.select((keys :+ col(rowCol).as("_r") :+ col(colCol).as("_c") :+
      col(valCol).cast("double").as("_res")): _*)
      .withColumn("_reff", lit(0.0)).withColumn("_ceff", lit(0.0))
    for (_ <- 1 to iterations) {
      cells = cells
        .withColumn("_rm", percentile(col("_res"), lit(0.5)).over(byRow))
        .withColumn("_res", col("_res") - col("_rm"))
        .withColumn("_reff", col("_reff") + col("_rm")).drop("_rm")
        .withColumn("_cm", percentile(col("_res"), lit(0.5)).over(byCol))
        .withColumn("_res", col("_res") - col("_cm"))
        .withColumn("_ceff", col("_ceff") + col("_cm")).drop("_cm")
    }
    cells.select((keys :+ col("_r").as(rowCol) :+ col("_c").as(colCol) :+
      col("_reff").as("row_eff") :+ col("_ceff").as("col_eff") :+
      col("_res").as("residual")): _*)
  }

  /** Hodges–Lehmann location estimator (Hodges & Lehmann 1963): the median
    * of all Walsh averages (xᵢ + xⱼ)/2 over pairs i ≤ j INCLUDING i = j —
    * the robust center the Wilcoxon signed-rank test inverts to. ~29%
    * breakdown with near-Gaussian efficiency 0.955: between the mean
    * (efficient, 0% breakdown) and the median (50% breakdown, 64%
    * efficiency) — the right default center for spiky web metrics.
    *
    * Each Walsh average is one addition + one halving of stored doubles
    * (exact halving), and the median is the exact `percentile` — replayable.
    * Pairs are ordered by `idCol` (i ≤ j) so each counts once. Same
    * O(n²)-per-group contract and `maxPoints` gate as [[theilSenSlope]] —
    * feed tier-aggregated series, never raw events.
    */
  def hodgesLehmann(df: DataFrame, groupCols: Seq[String], idCol: String,
                    valCol: String, maxPoints: Int = 10000): DataFrame = {
    require(groupCols.nonEmpty, "hodgesLehmann needs at least one group column")
    val pts = df.select((groupCols.map(col) :+ col(idCol).as("_i") :+
      col(valCol).cast("double").as("_v")): _*)
      .localCheckpoint() // consumed twice (both join sides) + the size gate
    val sizes = pts.groupBy(groupCols.map(col): _*).agg(count(lit(1)).as("n_points"))
    val tooBig = sizes.filter(col("n_points") > maxPoints).limit(1).collect() // bounded: 0 or 1 row
    require(tooBig.isEmpty,
      s"a group exceeds maxPoints=$maxPoints points — feed tier-aggregated series, not raw events")
    val a = pts.toDF((groupCols :+ "_i1" :+ "_v1"): _*)
    val b = pts.toDF((groupCols :+ "_i2" :+ "_v2"): _*)
    val walsh = a.join(b, groupCols)
      .filter(col("_i1") <= col("_i2"))
      .select((groupCols.map(col) :+
        ((col("_v1") + col("_v2")) / 2.0).as("_w")): _*)
    walsh.groupBy(groupCols.map(col): _*)
      .agg(expr("percentile(_w, 0.5)").as("hl_center"))
      .join(sizes, groupCols, "right")
      .select((groupCols.map(col) :+ col("n_points") :+ col("hl_center")): _*)
  }

  /** Cliff's delta (Cliff 1993) — the nonparametric EFFECT SIZE that
    * belongs next to [[mannWhitney]]'s significance: δ = P(a > b) −
    * P(a < b) over all cross pairs, in [−1, 1], robust to any monotone
    * transform. From the rank-sum U (ties counted half): δ = 2U/(n_a·n_b)
    * − 1 — so this is [[mannWhitney]]'s plan (one rank window + one
    * aggregate, no pair join) plus one arithmetic column.
    * |δ| ≳ 0.147/0.33/0.474 ≈ small/medium/large (Romano et al. 2006).
    * Output: (groups..., n_a, n_b, delta).
    */
  def cliffsDelta(df: DataFrame, groupCols: Seq[String], segCol: String,
                  segA: String, segB: String, valCol: String): DataFrame =
    mannWhitney(df, groupCols, segCol, segA, segB, valCol)
      .withColumn("delta",
        when(col("n_a") > 0 && col("n_b") > 0,
          lit(2.0) * col("u_a") / (col("n_a").cast("double") * col("n_b")) - 1))
      .select((groupCols.map(col) :+ col("n_a") :+ col("n_b") :+
        col("delta")): _*)

  /** Wald–Wolfowitz runs test per key: is the time-ordered sequence of
    * above/below-median signs random, or does it trend/oscillate? Signs
    * from the key's own exact median (values EQUAL to the median are
    * dropped — the standard dichotomization), runs R counted by one lag
    * window, then z = (R − E[R]) / √Var with
    *   E[R] = 2n₁n₂/(n₁+n₂) + 1,
    *   Var  = 2n₁n₂(2n₁n₂−n₁−n₂) / ((n₁+n₂)²(n₁+n₂−1)).
    * Too few runs (z « 0) = trending/level-shifted series; too many =
    * alternating. One exact-percentile aggregate + broadcast join + one
    * lag window. Output: (keys..., n_above, n_below, runs, z).
    */
  def runsTest(df: DataFrame, groupCols: Seq[String], tsCol: String,
               valCol: String): DataFrame = {
    val keys = groupCols.map(col)
    val v = col(valCol).cast("double")
    val med = df.filter(v.isNotNull).groupBy(keys: _*)
      .agg(expr(s"percentile($valCol, 0.5)").as("_med"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(col(tsCol))
    val signed = df.filter(v.isNotNull)
      .join(broadcast(med), groupCols)
      .filter(v =!= col("_med"))
      .withColumn("_s", (v > col("_med")).cast("int"))
      .withColumn("_chg",
        when(lag(col("_s"), 1).over(w).isNull, 1)
          .otherwise((col("_s") =!= lag(col("_s"), 1).over(w)).cast("int")))
    signed.groupBy(keys: _*)
      .agg(sum(col("_s")).cast("long").as("n_above"),
        sum(lit(1) - col("_s")).cast("long").as("n_below"),
        sum(col("_chg")).cast("long").as("runs"))
      .withColumn("_n1", col("n_above").cast("double"))
      .withColumn("_n2", col("n_below").cast("double"))
      .withColumn("_n", col("_n1") + col("_n2"))
      .withColumn("_e", lit(2.0) * col("_n1") * col("_n2") / col("_n") + 1)
      .withColumn("_var",
        lit(2.0) * col("_n1") * col("_n2") *
          (lit(2.0) * col("_n1") * col("_n2") - col("_n")) /
          (col("_n") * col("_n") * (col("_n") - 1)))
      .withColumn("z", when(col("_n1") > 0 && col("_n2") > 0 && col("_var") > 0,
        (col("runs").cast("double") - col("_e")) / sqrt(col("_var"))))
      .select((keys :+ col("n_above") :+ col("n_below") :+ col("runs") :+
        col("z")): _*)
  }

  /** Kruskal–Wallis H test per group (Kruskal & Wallis 1952) — the k-arm
    * generalization of [[mannWhitney]]: one pooled midrank window over all
    * arms, per-arm rank sums, then
    *   H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1),  H_c = H / C,
    *   C = 1 − Σ(t³−t)/(N³−N)   (tie correction; Σ counted per row as t²−1)
    * Output: (groups..., n, n_arms, h_raw, h_stat) — h_stat tie-corrected,
    * null when every pooled value ties (C = 0).
    */
  def kruskalWallis(df: DataFrame, groupCols: Seq[String], armCol: String,
                    valCol: String): DataFrame = {
    val keys = groupCols.map(col)
    val v = col(valCol).cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(v)
    val tiePart = org.apache.spark.sql.expressions.Window
      .partitionBy((keys :+ v): _*)
    val ranked = df.filter(v.isNotNull && col(armCol).isNotNull)
      .withColumn("_tc", count(lit(1)).over(tiePart))
      .withColumn("_mid",
        rank().over(w).cast("double") + (col("_tc") - 1).cast("double") / 2)
    val perArm = ranked.groupBy((keys :+ col(armCol)): _*)
      .agg(count(lit(1)).as("_ng"), sum(col("_mid")).as("_rg"),
        sum(col("_tc") * col("_tc") - 1).as("_tie"))
    perArm.groupBy(keys: _*)
      .agg(sum(col("_ng")).as("n"), count(lit(1)).as("n_arms"),
        sum(col("_rg") * col("_rg") / col("_ng").cast("double")).as("_rr"),
        sum(col("_tie")).as("_ties"))
      .withColumn("_nd", col("n").cast("double"))
      .withColumn("h_raw",
        lit(12.0) / (col("_nd") * (col("_nd") + 1)) * col("_rr") -
          lit(3.0) * (col("_nd") + 1))
      .withColumn("_c", lit(1.0) - col("_ties").cast("double") /
        (col("_nd") * col("_nd") * col("_nd") - col("_nd")))
      .withColumn("h_stat", when(col("_c") > 0, col("h_raw") / col("_c")))
      .select((keys :+ col("n") :+ col("n_arms") :+ col("h_raw") :+
        col("h_stat")): _*)
  }

  /** Brown–Forsythe variance-equality test (Brown & Forsythe 1974): the
    * Levene family with the MEDIAN center — one-way ANOVA F on the
    * absolute deviations |x − med_arm|, robust to non-normality where
    * Bartlett's test is not. Per-(group, arm) exact medians (one
    * aggregate, broadcast back), then [[Experiment.anovaF]] verbatim on
    * the centered column. Output: anovaF's (groups..., n, ssb, ssw,
    * f_stat).
    */
  def brownForsythe(df: DataFrame, groupCols: Seq[String], armCol: String,
                    arms: Seq[String], valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val med = df.filter(v.isNotNull)
      .filter(col(armCol).cast("string").isin(arms.map(a => a: Any): _*))
      .groupBy((groupCols :+ armCol).map(col): _*)
      .agg(expr(s"percentile($valCol, 0.5)").as("_med"))
    val centered = df.filter(v.isNotNull)
      .join(broadcast(med), groupCols :+ armCol)
      .withColumn("_adev", abs(v - col("_med")))
    Experiment.anovaF(centered, groupCols, armCol, arms, "_adev")
  }

  /** Newey–West (1987) long-run standard error of a series mean — the
    * autocorrelation-robust SE an i.i.d. formula UNDERSTATES on positively
    * correlated telemetry (a daily mean's error bars are wrong by the
    * factor √(lrv/γ₀) when days persist):
    *   γ_l = (1/n)Σ_{t>l} e_t·e_{t−l}   (e = x − x̄, population scaling)
    *   lrv = γ₀ + 2·Σ_{l=1..L} (1 − l/(L+1))·γ_l   (Bartlett weights)
    *   se_nw = √(lrv/n)   vs   se_iid = √(γ₀/n)
    * Lag columns are a LITERAL fold over l = 1..maxLag (fixed combination
    * order, oracle-replayable); one demeaning window + one aggregate.
    * lrv is floored at 0 (Bartlett weighting keeps it ≥ 0 in exact
    * arithmetic; float noise can graze below on near-degenerate series).
    * Output: (keys..., n, mean, se_iid, se_nw).
    */
  def neweyWest(df: DataFrame, groupCols: Seq[String], tsCol: String,
                valCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val keys = groupCols.map(col)
    val v = col(valCol).cast("double")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(keys: _*)
    val wT = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(col(tsCol))
    val demeaned = df.filter(v.isNotNull)
      .withColumn("_e", v - avg(v).over(wAll))
      .withColumn("_m", avg(v).over(wAll))
    val lagged = (1 to maxLag).foldLeft(demeaned) { (d, l) =>
      d.withColumn(s"_e$l", lag(col("_e"), l).over(wT))
    }
    val gammaAggs = Seq(count(lit(1)).as("n"), max(col("_m")).as("mean"),
      sum(col("_e") * col("_e")).as("_g0")) ++
      (1 to maxLag).map(l => sum(col("_e") * col(s"_e$l")).as(s"_g$l"))
    val agged = lagged.groupBy(keys: _*).agg(gammaAggs.head, gammaAggs.tail: _*)
    val nD = col("n").cast("double")
    // fixed left-assoc Bartlett fold over the literal lag list
    val lrv = (1 to maxLag).foldLeft(col("_g0") / nD) { (acc, l) =>
      acc + lit(2.0 * (1.0 - l.toDouble / (maxLag + 1))) *
        (coalesce(col(s"_g$l"), lit(0.0)) / nD)
    }
    agged
      .withColumn("_lrv", greatest(lrv, lit(0.0)))
      .withColumn("se_iid", sqrt(col("_g0") / nD / nD))
      .withColumn("se_nw", sqrt(col("_lrv") / nD))
      .select((keys :+ col("n") :+ col("mean") :+ col("se_iid") :+
        col("se_nw")): _*)
  }

  /** Cook's distance for the per-key OLS trend fit (Cook 1977): for each
    * observation of the time-indexed series y ~ a + b·t,
    *   h_i = 1/n + (t_i − t̄)²/S_tt   (leverage)
    *   D_i = e_i²/(p·s²) · h_i/(1 − h_i)²   (p = 2, s² = RSS/(n−2))
    * — WHICH day moved the trend line, not just whether residuals are big:
    * a moderate residual at the series edge (high leverage) can dominate a
    * large one in the middle. D_i > 4/n is the usual screen. All moments
    * ride windows over one sort; no second scan.
    * Output: every input row + (t_idx, resid, leverage, cooks_d).
    */
  def cooksDistance(df: DataFrame, groupCols: Seq[String], tsCol: String,
                    valCol: String): DataFrame = {
    val keys = groupCols.map(col)
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(col(tsCol))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(keys: _*)
    val y = col(valCol).cast("double")
    val staged = df.filter(y.isNotNull)
      .withColumn("t_idx", (row_number().over(wOrd) - 1).cast("double"))
      .withColumn("_n", count(lit(1)).over(wAll).cast("double"))
      .withColumn("_tm", avg(col("t_idx")).over(wAll))
      .withColumn("_ym", avg(y).over(wAll))
      .withColumn("_stt",
        sum((col("t_idx") - col("_tm")) * (col("t_idx") - col("_tm"))).over(wAll))
      .withColumn("_sty",
        sum((col("t_idx") - col("_tm")) * (y - col("_ym"))).over(wAll))
      .withColumn("_b", when(col("_stt") > 0, col("_sty") / col("_stt")))
      .withColumn("resid",
        y - (col("_ym") - col("_b") * col("_tm")) - col("_b") * col("t_idx"))
      .withColumn("_rss", sum(col("resid") * col("resid")).over(wAll))
      .withColumn("_s2", when(col("_n") > 2, col("_rss") / (col("_n") - 2)))
      .withColumn("leverage",
        lit(1.0) / col("_n") +
          (col("t_idx") - col("_tm")) * (col("t_idx") - col("_tm")) / col("_stt"))
      .withColumn("cooks_d",
        when(col("_s2") > 0 && col("leverage") < 1,
          col("resid") * col("resid") / (lit(2.0) * col("_s2")) *
            col("leverage") / ((lit(1.0) - col("leverage")) *
              (lit(1.0) - col("leverage")))))
    staged.drop("_n", "_tm", "_ym", "_stt", "_sty", "_b", "_rss", "_s2")
  }

  /** Friedman rank test (Friedman 1937): are the k arms' values
    * systematically ordered across the n complete blocks (repeated
    * measures — each block contributes one midrank per arm)?
    *   χ² = 12/(n·k(k+1)) · Σ_j R_j² − 3n(k+1)   (df = k − 1)
    * Only COMPLETE blocks (all k arms present) enter, k = the global arm
    * count; midranks keep ties exact (half-integers). One within-block
    * rank window + two bounded aggregates.
    * Output: one row (n_blocks, k, chi2).
    */
  def friedman(df: DataFrame, blockKey: String, armCol: String,
               valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val base = df.filter(v.isNotNull && col(armCol).isNotNull)
    val k = base.agg(countDistinct(col(armCol)).as("k"))
    val complete = base
      .withColumn("_ba", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(blockKey))))
      .crossJoin(k)
      .filter(col("_ba") === col("k"))
    val wBlk = org.apache.spark.sql.expressions.Window
      .partitionBy(col(blockKey)).orderBy(v)
    val tiePart = org.apache.spark.sql.expressions.Window
      .partitionBy(col(blockKey), v)
    val ranked = complete
      .withColumn("_mid", rank().over(wBlk).cast("double") +
        (count(lit(1)).over(tiePart) - 1).cast("double") / 2)
    val perArm = ranked.groupBy(col(armCol))
      .agg(sum(col("_mid")).as("_rj"), count(lit(1)).as("_nb"),
        max(col("k")).as("_k"))
    perArm.agg(max(col("_nb")).as("n_blocks"), max(col("_k")).as("k"),
        sum(col("_rj") * col("_rj")).as("_rr"))
      .withColumn("_nd", col("n_blocks").cast("double"))
      .withColumn("_kd", col("k").cast("double"))
      .withColumn("chi2", when(col("n_blocks") > 0,
        lit(12.0) / (col("_nd") * col("_kd") * (col("_kd") + 1)) * col("_rr") -
          lit(3.0) * col("_nd") * (col("_kd") + 1)))
      .select(col("n_blocks"), col("k"), col("chi2"))
  }
}
