package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Experimentation analytics: the A/B-test readouts a web-scale event log
  * feeds — CUPED variance reduction, difference-in-differences, sample-ratio
  * mismatch, and empirical-Bayes rate shrinkage.
  *
  * Determinism discipline: every statistic reduces to moment sums (Σx, Σy,
  * Σxy, Σx²) followed by ONE closed-form combination per output column, with
  * the combination's operation order mirrored token-for-token in the DuckDB
  * oracles (the q171 AR-fit five-moment-sum precedent). Moment sums of
  * stored doubles are shuffled-order additions — cross-engine agreement is
  * at the 1e-9/r6 tolerance the harness grants floats, not bit-exactness.
  */
object Experiment {

  /** CUPED (Deng, Xu, Kohavi & Walker, WSDM 2013): reduce metric variance
    * with a pre-experiment covariate. θ = cov(x,y)/var(x) is estimated
    * POOLED across all segments (the standard choice — a per-arm θ would
    * bias the adjusted delta), then each segment reports its adjusted mean
    * `mean(y) − θ·(mean(x_seg) − mean(x_pooled))`.
    *
    * Input is a UNIT-grain frame (one row per randomization unit, e.g. per
    * user): `yCol` the experiment-period metric, `xCol` the pre-period
    * covariate. Output per segment: n, y_mean, y_adj_mean, plus the pooled
    * theta and the pooled variance-reduction factor ρ² = θ²·var(x)/var(y)
    * (the fraction of metric variance CUPED removes).
    *
    * Plan: one pooled 1-row aggregate broadcast by crossJoin + one
    * segment-grain aggregate — two scans, no row-grain join.
    */
  def cuped(df: DataFrame, segCol: String, yCol: String,
            xCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val pooled = df.agg(
      count(lit(1)).as("_pn"), sum(x).as("_sx"), sum(y).as("_sy"),
      sum(x * y).as("_sxy"), sum(x * x).as("_sxx"), sum(y * y).as("_syy"))
    val per = df.groupBy(col(segCol))
      .agg(count(lit(1)).as("n"), sum(x).as("_gx"), sum(y).as("_gy"))
    per.crossJoin(pooled)
      .withColumn("_theta",
        (col("_sxy") - col("_sx") * col("_sy") / col("_pn")) /
          (col("_sxx") - col("_sx") * col("_sx") / col("_pn")))
      .withColumn("y_mean", col("_gy") / col("n"))
      .withColumn("y_adj_mean",
        col("_gy") / col("n") - col("_theta") *
          (col("_gx") / col("n") - col("_sx") / col("_pn")))
      .withColumn("var_reduction",
        col("_theta") * col("_theta") *
          (col("_sxx") - col("_sx") * col("_sx") / col("_pn")) /
          (col("_syy") - col("_sy") * col("_sy") / col("_pn")))
      .select(col(segCol), col("n"), col("y_mean"), col("y_adj_mean"),
        col("_theta").as("theta"), col("var_reduction"))
  }

  /** Difference-in-differences (Card & Krueger 1994 design): per group, the
    * 2×2 of (treated, period) cell means and
    * `did = (T_post − T_pre) − (C_post − C_pre)` — the causal-effect
    * estimate under parallel trends. `treatCol`/`postCol` are 0/1 flags.
    * One aggregate pass; the four cells pivot to columns so the estimate is
    * a fixed-order expression, never a shuffled 4-row reduction.
    */
  def diffInDiff(df: DataFrame, groupCols: Seq[String], treatCol: String,
                 postCol: String, yCol: String): DataFrame = {
    val keys = groupCols.map(col)
    val y = col(yCol).cast("double")
    def cell(t: Int, p: Int, tag: String) = Seq(
      sum(when(col(treatCol) === t && col(postCol) === p, y)
        .otherwise(lit(0.0))).as(s"_s$tag"),
      sum(when(col(treatCol) === t && col(postCol) === p, 1L)
        .otherwise(0L)).as(s"_n$tag"))
    val cells = cell(1, 0, "t0") ++ cell(1, 1, "t1") ++
      cell(0, 0, "c0") ++ cell(0, 1, "c1")
    val agged = df.groupBy(keys: _*).agg(count(lit(1)).as("n"), cells: _*)
    Seq("t0", "t1", "c0", "c1").foldLeft(agged) { (d, tag) =>
      d.withColumn(s"m_$tag", col(s"_s$tag") / col(s"_n$tag"))
    }
      .withColumn("did",
        (col("m_t1") - col("m_t0")) - (col("m_c1") - col("m_c0")))
      .select((keys :+ col("n") :+ col("m_t0") :+ col("m_t1") :+
        col("m_c0") :+ col("m_c1") :+ col("did")): _*)
  }

  /** Sample-ratio mismatch check: Pearson χ² of the observed arm counts
    * against the design shares (`arms` = (label, expected share), literal,
    * shares summing to 1). A large χ² (df = arms−1) means the bucketing is
    * broken and every downstream readout is suspect — the first gate any
    * experiment report runs. Counts pivot to columns; χ² is a fixed-order
    * literal fold over exact integers (one division per arm).
    */
  def srmCheck(df: DataFrame, groupCols: Seq[String], armCol: String,
               arms: Seq[(String, Double)]): DataFrame = {
    require(arms.nonEmpty && math.abs(arms.map(_._2).sum - 1.0) < 1e-9,
      "srmCheck: arm shares must sum to 1")
    val keys = groupCols.map(col)
    val agged = df
      .filter(col(armCol).cast("string").isin(arms.map(_._1: Any): _*))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n"),
        arms.zipWithIndex.map { case ((a, _), i) =>
          sum(when(col(armCol).cast("string") === a, 1L).otherwise(0L))
            .as(s"_o$i")
        }: _*)
    val chi2 = arms.zipWithIndex.map { case ((_, share), i) =>
      val e = col("n").cast("double") * share
      (col(s"_o$i") - e) * (col(s"_o$i") - e) / e
    }.reduce(_ + _) // fixed left-assoc order over the literal arm list
    agged.withColumn("chi2", chi2)
      .select((keys :+ col("n") :+ col("chi2")): _*)
  }

  /** Empirical-Bayes beta-binomial rate shrinkage (Robbins 1956 via the
    * standard method-of-moments prior): per-item success rates x/n pulled
    * toward the population prior — the fix for "1/1 = 100% beats 980/1000"
    * leaderboard artifacts. Prior from the UNWEIGHTED moments of the raw
    * per-item rates: with m = mean(p̂), v = var(p̂) (population form),
    * α+β = m(1−m)/v − 1 (guarded to ≥ `minConcentration` — v ≈ 0 or
    * super-binomial spread would otherwise produce a degenerate or negative
    * prior), α = m·(α+β). Shrunk rate = (x + α)/(n + α + β).
    *
    * Plan: item grain is the input; one 1-row moment aggregate broadcast
    * back — no second shuffle.
    */
  def ebShrinkRates(df: DataFrame, itemCols: Seq[String], xCol: String,
                    nCol: String, minConcentration: Double = 1.0): DataFrame = {
    val keys = itemCols.map(col)
    val rate = col(xCol).cast("double") / col(nCol).cast("double")
    val base = df.withColumn("_p", rate)
    val mom = base.agg(count(lit(1)).as("_k"), sum(col("_p")).as("_sp"),
      sum(col("_p") * col("_p")).as("_spp"))
    base.crossJoin(mom)
      .withColumn("_m", col("_sp") / col("_k"))
      .withColumn("_v",
        col("_spp") / col("_k") - col("_m") * col("_m"))
      .withColumn("_ab",
        when(col("_v") > 0,
          greatest(col("_m") * (lit(1.0) - col("_m")) / col("_v") - 1,
            lit(minConcentration)))
          .otherwise(lit(minConcentration)))
      .withColumn("shrunk",
        (col(xCol) + col("_m") * col("_ab")) /
          (col(nCol) + col("_ab")))
      .select((keys :+ col(xCol).as("x") :+ col(nCol).as("n") :+
        col("_p").as("raw_rate") :+ col("_ab").as("prior_strength") :+
        col("shrunk")): _*)
  }

  /** Mixture sequential probability ratio test (mSPRT; Johari, Koomen,
    * Pekelis & Walsh 2017 — the "always-valid p-value" behind peeking-safe
    * A/B dashboards). Per group and per time-ordered checkpoint, with
    * cumulative arm counts/means and a pooled variance estimate:
    *
    *   V_t  = σ̂²·(1/n_A + 1/n_B)                 (variance of the delta)
    *   Λ_t  = sqrt(V/(V+τ²)) · exp(δ̂²·τ²/(2V(V+τ²)))   (mixture LR, N(0,τ²) prior)
    *   p_t  = min(p_{t−1}, 1/Λ_t) capped at 1      (monotone, always valid)
    *
    * Every term is a closed-form combination of six cumulative moment sums,
    * so an oracle replays it token for token; the running min is a window
    * min over the same per-key ordering. One shuffle on the group key — the
    * cumulative frames and the running min share the exchange.
    *
    * @param ckptCol   integer/date checkpoint column (analysis time order)
    * @param armCol    string arm label; `armA`/`armB` select the comparison
    * @param tauSq     mixture prior variance τ² on the mean difference
    * @return one row per (group, checkpoint): cumulative n per arm, delta,
    *         the mixture likelihood ratio `lambda`, and `p_always_valid`
    */
  def msprt(df: DataFrame, groupCols: Seq[String], ckptCol: String,
            armCol: String, armA: String, armB: String, valCol: String,
            tauSq: Double): DataFrame = {
    require(tauSq > 0, s"msprt: tauSq must be > 0, got $tauSq")
    val keys = groupCols.map(col)
    val v = col(valCol).cast("double")
    val isA = col(armCol) === armA
    val isB = col(armCol) === armB
    val perCkpt = df.filter(isA || isB)
      .groupBy((keys :+ col(ckptCol)): _*)
      .agg(
        sum(when(isA, 1L).otherwise(0L)).as("_ca"),
        sum(when(isA, v).otherwise(lit(0.0))).as("_sa"),
        sum(when(isA, v * v).otherwise(lit(0.0))).as("_qa"),
        sum(when(isB, 1L).otherwise(0L)).as("_cb"),
        sum(when(isB, v).otherwise(lit(0.0))).as("_sb"),
        sum(when(isB, v * v).otherwise(lit(0.0))).as("_qb"))
    val wCum = Window.partitionBy(keys: _*).orderBy(col(ckptCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = perCkpt
      .withColumn("n_a", sum(col("_ca")).over(wCum))
      .withColumn("n_b", sum(col("_cb")).over(wCum))
      .withColumn("_Sa", sum(col("_sa")).over(wCum))
      .withColumn("_Sb", sum(col("_sb")).over(wCum))
      .withColumn("_Qa", sum(col("_qa")).over(wCum))
      .withColumn("_Qb", sum(col("_qb")).over(wCum))
    val (na, nb) = (col("n_a").cast("double"), col("n_b").cast("double"))
    val delta = col("_Sb") / nb - col("_Sa") / na
    val pooledVar = (col("_Qa") - col("_Sa") * col("_Sa") / na +
      col("_Qb") - col("_Sb") * col("_Sb") / nb) / (na + nb - 2)
    val vT = pooledVar * (lit(1.0) / na + lit(1.0) / nb)
    val lam = sqrt(vT / (vT + tauSq)) *
      exp(delta * delta * tauSq / (lit(2.0) * vT * (vT + tauSq)))
    val defined = col("n_a") >= 2 && col("n_b") >= 2 && pooledVar > 0
    val scored = cum
      .withColumn("delta", when(col("n_a") >= 1 && col("n_b") >= 1, delta))
      .withColumn("lambda", when(defined, lam))
      .withColumn("_pt", when(defined, least(lit(1.0), lit(1.0) / lam)))
    val wMin = Window.partitionBy(keys: _*).orderBy(col(ckptCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    scored
      .withColumn("p_always_valid", min(col("_pt")).over(wMin))
      .select((keys :+ col(ckptCol) :+ col("n_a") :+ col("n_b") :+
        col("delta") :+ col("lambda") :+ col("p_always_valid")): _*)
  }

  /** UCB1 bandit allocation scores (Auer, Cesa-Bianchi & Fischer 2002):
    * per (group, arm), `ucb = mean + c·sqrt(2·ln N / n)` with n the arm's
    * pulls and N the group's total pulls — the arm a UCB1 policy would play
    * next is the max-ucb row. Unlike Thompson sampling this is fully
    * deterministic (no RNG), so it replays in any engine; the exploration
    * term uses ln of INTEGER counts (the cross-engine-safe ln domain).
    *
    * Plan: one (group, arm) aggregate; the group total is a window sum over
    * that arm-grain frame (arm cardinality per group is bounded), sharing
    * the aggregate's partitioning — one shuffle total.
    */
  def ucb1(df: DataFrame, groupCols: Seq[String], armCol: String,
           valCol: String, c: Double = 1.0): DataFrame = {
    val keys = groupCols.map(col)
    val v = col(valCol).cast("double")
    val arms = df.groupBy((keys :+ col(armCol)): _*)
      .agg(count(lit(1)).as("n"), sum(v).as("_s"))
    val wG = Window.partitionBy(keys: _*)
    arms
      .withColumn("n_total", sum(col("n")).over(wG))
      .withColumn("mean", col("_s") / col("n"))
      .withColumn("ucb", col("_s") / col("n") +
        lit(c) * sqrt(lit(2.0) * log(col("n_total").cast("double")) /
          col("n").cast("double")))
      .select((keys :+ col(armCol) :+ col("n") :+ col("n_total") :+
        col("mean") :+ col("ucb")): _*)
  }

  /** One-way ANOVA F statistic per group over a LITERAL arm list:
    * `F = (SSB/(k−1)) / (SSW/(n−k))` with SSB = Σ_a S_a²/n_a − S²/n and
    * SSW = Q − Σ_a S_a²/n_a, all from per-arm moment sums (n_a, S_a, Q_a)
    * pivoted to columns so every Σ_a is a fixed-order literal fold — the
    * [[srmCheck]] pivot discipline, never a shuffled float reduction over
    * arm rows. The omnibus "do any of the k arms differ" gate that precedes
    * pairwise readouts. Groups missing an arm or with n ≤ k yield null F.
    */
  def anovaF(df: DataFrame, groupCols: Seq[String], armCol: String,
             arms: Seq[String], valCol: String): DataFrame = {
    require(arms.size >= 2, s"anovaF: need >= 2 arms, got ${arms.size}")
    val keys = groupCols.map(col)
    val v = col(valCol).cast("double")
    val k = arms.size
    val agged = df
      .filter(col(armCol).cast("string").isin(arms.map(a => a: Any): _*))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n"),
        arms.zipWithIndex.flatMap { case (a, i) =>
          val in = col(armCol).cast("string") === a
          Seq(sum(when(in, 1L).otherwise(0L)).as(s"_n$i"),
            sum(when(in, v).otherwise(lit(0.0))).as(s"_s$i"),
            sum(when(in, v * v).otherwise(lit(0.0))).as(s"_q$i"))
        }: _*)
    // fixed left-assoc folds over the literal arm list
    val sTot = arms.indices.map(i => col(s"_s$i")).reduce(_ + _)
    val qTot = arms.indices.map(i => col(s"_q$i")).reduce(_ + _)
    val ssbPart = arms.indices
      .map(i => col(s"_s$i") * col(s"_s$i") / col(s"_n$i").cast("double"))
      .reduce(_ + _)
    val n = col("n").cast("double")
    val defined = arms.indices.map(i => col(s"_n$i") >= 1L).reduce(_ && _) &&
      col("n") > lit(k.toLong)
    val ssb = ssbPart - sTot * sTot / n
    val ssw = qTot - ssbPart
    agged
      .withColumn("ssb", when(defined, ssb))
      .withColumn("ssw", when(defined, ssw))
      .withColumn("f_stat", when(defined && ssw > 0,
        (ssb / lit((k - 1).toDouble)) / (ssw / (n - lit(k.toDouble)))))
      .select((keys :+ col("n") :+ col("ssb") :+ col("ssw") :+
        col("f_stat")): _*)
  }

  /** Multiple-testing adjustment of per-hypothesis p-values within a family:
    * Benjamini–Hochberg step-up FDR (`p_bh_i = min_{j ≥ i} p_j·m/j`, capped
    * at 1) and Holm step-down FWER (`p_holm_i = max_{j ≤ i} (m−j+1)·p_j`,
    * capped at 1), both from the ascending p rank within the family.
    *
    * Rank discipline: hypotheses are ordered by (pCol, idCol) — the caller
    * must supply p-values whose ordering is cross-engine-stable (integer-
    * derived, or pre-rounded; two raw float p's one ulp apart would flip
    * ranks between engines). Both adjusted columns are running extrema over
    * the same family partition — one shuffle, two sorted passes.
    */
  def fdrAdjust(df: DataFrame, familyCols: Seq[String], pCol: String,
                idCol: String): DataFrame = {
    val keys = familyCols.map(col)
    val wF = Window.partitionBy(keys: _*)
    val asc = Window.partitionBy(keys: _*).orderBy(col(pCol), col(idCol))
    val ranked = df
      .withColumn("m", count(lit(1)).over(wF))
      .withColumn("p_rank", row_number().over(asc))
    val desc = Window.partitionBy(keys: _*)
      .orderBy(col(pCol).desc, col(idCol).desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val ascRun = asc.rowsBetween(Window.unboundedPreceding, 0)
    ranked
      .withColumn("p_bh", least(lit(1.0),
        min(col(pCol) * col("m").cast("double") /
          col("p_rank").cast("double")).over(desc)))
      .withColumn("p_holm", least(lit(1.0),
        max((col("m") - col("p_rank") + 1).cast("double") * col(pCol))
          .over(ascRun)))
  }

  /** Rate/mix decomposition of a weighted-mean metric change between two
    * periods (the "why did the number move" root-cause table): with
    * segment weights `w_s` (share of rows) and segment rates `r_s` (mean
    * of the metric), the overall change decomposes EXACTLY as
    *
    *   mean₂ − mean₁ = Σ_s [ w₂_s·(r₂_s − r₁_s)  (rate effect)
    *                       + (w₂_s − w₁_s)·r₁_s  (mix effect) ]
    *
    * — a segment hurting the topline because its rate fell reads in
    * `rate_effect`; one hurting it because traffic shifted toward a
    * low-rate segment reads in `mix_effect`. Segments present in only one
    * period contribute their whole effect through the mix term (missing
    * side: w = 0, and a missing r₁ is pinned to 0 — state the convention,
    * the decomposition identity still holds because w₂·(r₂−0) + (w₂−0)·0
    * degenerates to the rate term).
    *
    * One aggregate pass over both periods (conditional sums) + one 1-row
    * broadcast of the period totals — no row-grain join.
    */
  def rateMix(df: DataFrame, segCols: Seq[String],
              isPeriod2: org.apache.spark.sql.Column, valCol: String): DataFrame = {
    val keys = segCols.map(col)
    val v = col(valCol).cast("double")
    val per = df.groupBy(keys: _*)
      .agg(sum(when(!isPeriod2, 1L).otherwise(0L)).as("n1"),
        sum(when(!isPeriod2, v).otherwise(lit(0.0))).as("_s1"),
        sum(when(isPeriod2, 1L).otherwise(0L)).as("n2"),
        sum(when(isPeriod2, v).otherwise(lit(0.0))).as("_s2"))
    val tot = per.agg(sum(col("n1")).as("_t1"), sum(col("n2")).as("_t2"))
    val w1 = col("n1").cast("double") / col("_t1").cast("double")
    val w2 = col("n2").cast("double") / col("_t2").cast("double")
    val r1 = when(col("n1") > 0, col("_s1") / col("n1")).otherwise(lit(0.0))
    val r2 = when(col("n2") > 0, col("_s2") / col("n2")).otherwise(lit(0.0))
    per.crossJoin(tot)
      .withColumn("w1", w1).withColumn("w2", w2)
      .withColumn("r1", r1).withColumn("r2", r2)
      .withColumn("rate_effect", col("w2") * (col("r2") - col("r1")))
      .withColumn("mix_effect", (col("w2") - col("w1")) * col("r1"))
      .withColumn("total_effect", col("rate_effect") + col("mix_effect"))
      .select((keys :+ col("n1") :+ col("n2") :+ col("w1") :+ col("w2") :+
        col("r1") :+ col("r2") :+ col("rate_effect") :+ col("mix_effect") :+
        col("total_effect")): _*)
  }

  /** Φ⁻¹(0.975) / Φ⁻¹(0.80) — the two-sided α=0.05, power=0.80 standard
    * normal quantiles of the classical power formula (fixed literals so
    * both engines add/multiply the identical doubles).
    */
  val Z975 = 1.959963984540054
  val Z80 = 0.8416212335729143

  /** Pre-experiment sizing readout (classical two-proportion normal
    * approximation, e.g. Kohavi, Tang & Xu 2020 §17 — public): per group,
    * from the CURRENT arm sizes and conversion rates,
    *   mde_abs = (z_{1−α/2} + z_{power}) · sqrt(p̄(1−p̄)·(1/n_a + 1/n_b))
    * (the smallest absolute lift this traffic can detect), its relative
    * form over the control rate, and the per-arm N required to detect a
    * `targetRel` relative lift at the same α/power:
    *   n_req = 2·p̄(1−p̄)·(z₁+z₂)² / (targetRel·p_ctl)²
    * p̄ is the pooled conversion rate. Answers "is this experiment sized
    * to see the effect we care about" straight off the assignment log.
    *
    * One grouped aggregation (conditional integer sums) + closed-form
    * columns; no joins. `n_req` stays a double (no ceil) — an integer cut
    * on a float boundary is the cross-engine flake the oracle discipline
    * bans.
    *
    * @return (keys..., n_a, n_b, p_control, p_pool, mde_abs, mde_rel,
    *         n_required) — nulls where a rate/size degenerates (empty arm,
    *         p̄ ∈ {0,1}, zero control rate)
    */
  def mdePower(df: DataFrame, groupCols: Seq[String],
               isControl: org.apache.spark.sql.Column,
               convCol: String, targetRel: Double,
               zAlpha: Double = Z975, zPower: Double = Z80): DataFrame = {
    require(targetRel > 0, s"targetRel must be > 0, got $targetRel")
    val keys = groupCols.map(col)
    val conv = col(convCol).cast("long")
    val per = df.groupBy(keys: _*)
      .agg(sum(when(isControl, 1L).otherwise(0L)).as("n_a"),
        sum(when(!isControl, 1L).otherwise(0L)).as("n_b"),
        sum(when(isControl, conv).otherwise(0L)).as("_c_a"),
        sum(conv).as("_c"), count(lit(1)).as("_n"))
    val pPool = col("_c").cast("double") / col("_n").cast("double")
    val pCtl = when(col("n_a") > 0, col("_c_a").cast("double") / col("n_a").cast("double"))
    val zSum = lit(zAlpha) + lit(zPower)
    val se = sqrt(pPool * (lit(1.0) - pPool) *
      (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))
    val mdeAbs = when(col("n_a") > 0 && col("n_b") > 0 && pPool > 0 && pPool < 1,
      zSum * se)
    val delta = lit(targetRel) * col("p_control")
    per
      .withColumn("p_control", pCtl)
      .withColumn("p_pool", pPool)
      .withColumn("mde_abs", mdeAbs)
      .withColumn("mde_rel",
        when(col("p_control") > 0, col("mde_abs") / col("p_control")))
      .withColumn("n_required",
        when(col("p_control") > 0 && pPool > 0 && pPool < 1,
          lit(2.0) * pPool * (lit(1.0) - pPool) * (zSum * zSum) / (delta * delta)))
      .select((keys :+ col("n_a") :+ col("n_b") :+ col("p_control") :+
        col("p_pool") :+ col("mde_abs") :+ col("mde_rel") :+
        col("n_required")): _*)
  }

  /** Cohen's d with Hedges' small-sample correction (Hedges 1981) per
    * group: the standardized mean difference the experimentation layer
    * reports next to [[mdePower]]'s sizing —
    *   d = (x̄_A − x̄_B) / s_pool,  s²_pool = ((n_A−1)s²_A + (n_B−1)s²_B)/(n_A+n_B−2)
    *   g = J·d,  J = 1 − 3/(4(n_A+n_B) − 9)
    * One conditional-moment aggregation (six sums), arithmetic only after.
    * Degenerate cells (either arm < 2 rows, zero pooled variance) emit
    * nulls. Output: (groups..., n_a, n_b, cohen_d, hedges_g).
    */
  def hedgesG(df: DataFrame, groupCols: Seq[String], armCol: String,
              armA: String, armB: String, valCol: String): DataFrame = {
    val keys = groupCols.map(col)
    val v = col(valCol).cast("double")
    val isA = col(armCol).cast("string") === armA
    val isB = col(armCol).cast("string") === armB
    df.filter(v.isNotNull && (isA || isB))
      .groupBy(keys: _*)
      .agg(sum(when(isA, 1L).otherwise(0L)).as("n_a"),
        sum(when(isB, 1L).otherwise(0L)).as("n_b"),
        sum(when(isA, v).otherwise(lit(0.0))).as("_sa"),
        sum(when(isB, v).otherwise(lit(0.0))).as("_sb"),
        sum(when(isA, v * v).otherwise(lit(0.0))).as("_qa"),
        sum(when(isB, v * v).otherwise(lit(0.0))).as("_qb"))
      .withColumn("_na", col("n_a").cast("double"))
      .withColumn("_nb", col("n_b").cast("double"))
      .withColumn("_vp", when(col("n_a") >= 2 && col("n_b") >= 2,
        ((col("_qa") - col("_sa") * col("_sa") / col("_na")) +
         (col("_qb") - col("_sb") * col("_sb") / col("_nb"))) /
          (col("_na") + col("_nb") - 2)))
      .withColumn("cohen_d", when(col("_vp") > 0,
        (col("_sa") / col("_na") - col("_sb") / col("_nb")) / sqrt(col("_vp"))))
      .withColumn("hedges_g",
        col("cohen_d") *
          (lit(1.0) - lit(3.0) / (lit(4.0) * (col("_na") + col("_nb")) - 9)))
      .select((keys :+ col("n_a") :+ col("n_b") :+ col("cohen_d") :+
        col("hedges_g")): _*)
  }

  /** Post-stratified mean per arm (survey-sampling standard; Holt & Smith
    * 1979): reweight each arm's stratum means by the POOLED stratum
    * shares, ŷ_arm = Σ_s (N_s/N)·ȳ_{arm,s} — removes the composition
    * noise (or imbalance) a raw arm mean carries when strata landed
    * unevenly across arms; the categorical-covariate sibling of [[cuped]].
    * One (arm, stratum)-grain aggregate + one stratum-grain aggregate,
    * joined at stratum grain. Arms missing a stratum contribute nothing
    * for it (their estimate reweights over observed strata — emitted
    * `coverage` = Σ observed N_s/N per arm makes that visible).
    * Output: (armCol, n, raw_mean, post_strat_mean, coverage).
    */
  def postStratify(df: DataFrame, armCol: String, strataCol: String,
                   yCol: String): DataFrame = {
    val y = col(yCol).cast("double")
    val base = df.filter(y.isNotNull && col(strataCol).isNotNull)
    val pooled = base.groupBy(col(strataCol))
      .agg(count(lit(1)).as("_ns"))
    val tot = pooled.agg(sum(col("_ns")).as("_nt"))
    val cell = base.groupBy(col(armCol), col(strataCol))
      .agg(count(lit(1)).as("_na"), sum(y).as("_sa"))
    cell.join(broadcast(pooled), strataCol).crossJoin(tot)
      .withColumn("_w", col("_ns").cast("double") / col("_nt"))
      .groupBy(col(armCol))
      .agg(sum(col("_na")).as("n"),
        (sum(col("_sa")) / sum(col("_na"))).as("raw_mean"),
        sum(col("_w") * (col("_sa") / col("_na"))).as("post_strat_mean"),
        sum(col("_w")).as("coverage"))
  }

  /** Cochran–Mantel–Haenszel pooled odds ratio per group (Mantel &
    * Haenszel 1959): association between arm and a binary outcome POOLED
    * over strata without the aggregation bias a collapsed 2×2 suffers
    * (Simpson's-paradox-proof):
    *   OR_MH = Σ_s (a_s·d_s/n_s) / Σ_s (b_s·c_s/n_s)
    * (a = A-success, b = A-fail, c = B-success, d = B-fail). Each term is
    * one exact-integer-product division; only the final ratio of two sums
    * is derived. Strata where either ratio's denominator degenerates
    * contribute their exact zero terms naturally. One stratum-grain
    * conditional aggregate + one group-grain sum.
    * Output: (groups..., n_strata, n, or_mh) — null when Σbc/n = 0.
    */
  def cmhOddsRatio(df: DataFrame, groupCols: Seq[String], strataCol: String,
                   armCol: String, armA: String, armB: String,
                   successCol: String): DataFrame = {
    val keys = groupCols.map(col)
    val isA = col(armCol).cast("string") === armA
    val isB = col(armCol).cast("string") === armB
    val s = col(successCol) === 1
    val cell = df.filter(isA || isB)
      .groupBy((keys :+ col(strataCol)): _*)
      .agg(sum(when(isA && s, 1L).otherwise(0L)).as("_a"),
        sum(when(isA && !s, 1L).otherwise(0L)).as("_b"),
        sum(when(isB && s, 1L).otherwise(0L)).as("_c"),
        sum(when(isB && !s, 1L).otherwise(0L)).as("_d"))
      .withColumn("_n",
        (col("_a") + col("_b") + col("_c") + col("_d")).cast("double"))
    cell.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_strata"),
        sum(col("_a") + col("_b") + col("_c") + col("_d")).as("n"),
        sum(col("_a") * col("_d") / col("_n")).as("_num"),
        sum(col("_b") * col("_c") / col("_n")).as("_den"))
      .withColumn("or_mh", when(col("_den") > 0, col("_num") / col("_den")))
      .select((keys :+ col("n_strata") :+ col("n") :+ col("or_mh")): _*)
  }
}
