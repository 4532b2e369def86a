package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical process control over metric streams — the Shewhart /
  * EWMA control-chart layer that turns the rollup tiers into "is the
  * process still in control?" verdicts: individuals/moving-range charts,
  * EWMA charts with exact time-varying limits, capability indices
  * against literal spec limits, and the Western Electric runs rules.
  *
  * All limits are closed-form moment algebra computed in ONE
  * deterministic expression order, so the in/out-of-control cuts are
  * cross-engine reproducible (both engines derive bit-identical limits
  * from the same sums, and the compared values are exact integer-cast
  * doubles). No collect, no iteration; one sort-window pass plus one
  * aggregate per chart. Reference: forecastframe has no SPC surface —
  * these extend its descriptive-stats layer the way a monitoring
  * deployment needs.
  */
object Spc {

  /** Individuals / moving-range (I-MR) chart (Shewhart; constants
    * d2 = 1.128 → 2.66, D4 = 3.267 for n=2 moving ranges): with
    * MR_t = |x_t − x_{t−1}|,
    *   UCL_x = x̄ + 2.66·MR̄,  LCL_x = x̄ − 2.66·MR̄,  UCL_mr = 3.267·MR̄,
    * and the out-of-control counts are strict-inequality exceedances.
    * THE default chart for individual measurements (subgroup size 1 —
    * exactly what a per-bucket metric stream is). Output: one row
    * (n, xbar, mrbar, ucl_x, lcl_x, ooc_x, ooc_mr).
    */
  def imrChart(df: DataFrame, tsCol: String, valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val staged = df.filter(v.isNotNull)
      .select(col(tsCol).as("_t"), v.as("_x"))
      .withColumn("_mr",
        abs(col("_x") - lag(col("_x"), 1).over(Window.orderBy(col("_t")))))
    val agged = staged.agg(count(lit(1)).as("n"), avg(col("_x")).as("xbar"),
      avg(col("_mr")).as("mrbar"))
    val limits = agged
      // gate as a FILTER on the one-row aggregate: a filter survives any
      // downstream column pruning, a guarded output column does not
      .filter(Bounded.gate(col("n"), Bounded.DefaultMaxPoints, "imrChart"))
      .withColumn("ucl_x", col("xbar") + lit(2.66) * col("mrbar"))
      .withColumn("lcl_x", col("xbar") - lit(2.66) * col("mrbar"))
      .withColumn("_ucl_mr", lit(3.267) * col("mrbar"))
    staged.crossJoin(limits)
      .agg(max(col("n")).as("n"), max(col("xbar")).as("xbar"),
        max(col("mrbar")).as("mrbar"), max(col("ucl_x")).as("ucl_x"),
        max(col("lcl_x")).as("lcl_x"),
        sum(when(col("_x") > col("ucl_x") || col("_x") < col("lcl_x"), 1L)
          .otherwise(0L)).as("ooc_x"),
        sum(when(col("_mr") > col("_ucl_mr"), 1L).otherwise(0L)).as("ooc_mr"))
  }

  /** EWMA control chart (Roberts 1959; Montgomery §9.2) with EXACT
    * time-varying limits: z_t = λ·x_t + (1−λ)·z_{t−1} (z_0 = x̄) and
    *   σ_z(t) = σ·√(λ/(2−λ)·(1 − (1−λ)^{2t})),
    * flagging |z_t − x̄| > L·σ_z(t). The z recursion is evaluated by its
    * closed-form weighted sum ((1−λ)-geometric weights over a bounded
    * per-row lookback frame), so the whole chart is declarative. EWMA
    * charts catch small sustained shifts (~0.5–1σ) that the Shewhart
    * chart misses. Intended for bounded pre-aggregated series (the
    * per-row weight expansion is O(n²) on the series grain).
    * Output: one row (n, xbar, sigma, ooc).
    */
  def ewmaChart(df: DataFrame, tsCol: String, valCol: String,
                lambda: Double, l: Double,
                mu0: Option[Double] = None,
                sigma0: Option[Double] = None): DataFrame = {
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1), got $lambda")
    require(l > 0, s"L must be positive, got $l")
    require(sigma0.forall(_ > 0), s"sigma0 must be positive, got $sigma0")
    val v = col(valCol).cast("double")
    val base = df.filter(v.isNotNull)
      .select(col(tsCol).as("_t"), v.as("_x"))
      .withColumn("_i", row_number().over(Window.orderBy(col("_t"))))
    // in-control center/scale: caller-supplied reference values (the
    // textbook chart — in-sample moments are CONTAMINATED by the very
    // shift being hunted) or in-sample fallback when no reference exists
    val mom = base.agg(count(lit(1)).as("n"), avg(col("_x")).as("_xbarIn"),
      sum(col("_x") * col("_x")).as("_s2"))
      // 20k cap, not the default 4M: the z_t realization below is an
      // O(n²) range self-join on the series grain. Filter, not a guarded
      // column — filters survive column pruning
      .filter(Bounded.gate(col("n"), 20000L, "ewmaChart"))
      .withColumn("xbar", mu0.map(lit).getOrElse(col("_xbarIn")))
      .withColumn("sigma", sigma0.map(lit).getOrElse(
        sqrt(col("_s2") / col("n").cast("double") -
          col("_xbarIn") * col("_xbarIn"))))
    val other = base.select(col("_i").as("_j"), col("_x").as("_xj"))
    // z_t = (1-l)^t * xbar + sum_{j<=t} l*(1-l)^(t-j) * x_j
    val zRows = base.join(other, col("_j") <= col("_i"))
      .crossJoin(mom)
      .groupBy(col("_i"))
      .agg(max(col("xbar")).as("_xb"), max(col("sigma")).as("_sg"),
        (max(pow(lit(1.0 - lambda), col("_i"))) * max(col("xbar")) +
          sum(lit(lambda) * pow(lit(1.0 - lambda), col("_i") - col("_j")) *
            col("_xj"))).as("_z"))
    val limitW = sqrt(lit(lambda / (2.0 - lambda)) *
      (lit(1.0) - pow(lit(1.0 - lambda), col("_i") * 2)))
    zRows
      .withColumn("_ooc",
        when(abs(col("_z") - col("_xb")) > lit(l) * col("_sg") * limitW, 1L)
          .otherwise(0L))
      .agg(count(lit(1)).as("n"), max(col("_xb")).as("xbar"),
        max(col("_sg")).as("sigma"), sum(col("_ooc")).as("ooc"))
  }

  /** Process capability Cp / Cpk against LITERAL spec limits
    * (population σ, documented — the cross-engine-exact convention):
    *   Cp = (USL − LSL)/(6σ),  Cpk = min(USL − μ, μ − LSL)/(3σ).
    * Cp says whether the spread fits the spec window at all; Cpk says
    * whether it fits WHERE THE PROCESS ACTUALLY SITS. ≥ 1.33 is the
    * classic "capable" bar. One moment pass.
    * Output: one row (n, mu, sigma, cp, cpk).
    */
  def capability(df: DataFrame, valCol: String, lsl: Double,
                 usl: Double): DataFrame = {
    require(lsl < usl, s"need lsl < usl, got $lsl/$usl")
    val v = col(valCol).cast("double")
    val agged = df.filter(v.isNotNull)
      .agg(count(lit(1)).as("n"), avg(v).as("mu"),
        (sum(v * v) / count(lit(1)).cast("double")).as("_m2"))
      .withColumn("sigma", sqrt(col("_m2") - col("mu") * col("mu")))
    agged
      .withColumn("cp", when(col("sigma") > 0,
        lit(usl - lsl) / (lit(6.0) * col("sigma"))))
      .withColumn("cpk", when(col("sigma") > 0,
        least(lit(usl) - col("mu"), col("mu") - lit(lsl)) /
          (lit(3.0) * col("sigma"))))
      .select(col("n"), col("mu"), col("sigma"), col("cp"), col("cpk"))
  }

  /** Western Electric runs rules (WECO 1956) over an individuals chart:
    *   rule 1: a point beyond μ ± 3σ;
    *   rule 2: 9 consecutive points on the same side of μ;
    *   rule 3: 6 consecutive points strictly in/decreasing;
    *   rule 4: 14 consecutive points strictly alternating up/down.
    * Rule 1's σ is the Shewhart moving-range estimate MR̄/d₂ (d₂ =
    * 1.128), the SAME σ [[imrChart]] draws its limits from — the
    * in-sample population SD is inflated by the very shifts/trends the
    * rules exist to detect, which would make rule-1 triggers
    * inconsistent with the I-chart's ooc_x and less sensitive than the
    * WECO convention. Counts are of RULE-TRIGGERING POSITIONS (the t at
    * which the run completes) — integer-exact rolling sums of
    * side/trend indicators over fixed row frames; "same side" means
    * strictly above μ (a point exactly at μ breaks a run, documented).
    * The free pattern alarms that catch what single-point limits miss.
    * Output: one row (n, r1, r2, r3, r4).
    */
  def westernElectric(df: DataFrame, tsCol: String,
                      valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val w = Window.orderBy(col("_t"))
    val staged = df.filter(v.isNotNull)
      .select(col(tsCol).as("_t"), v.as("_x"))
      .withColumn("_mu", avg(col("_x")).over(Window.partitionBy()))
      .withColumn("_d", col("_x") - lag(col("_x"), 1).over(w))
      .withColumn("_sg", when(
        Bounded.gate(count(lit(1)).over(Window.partitionBy()),
          Bounded.DefaultMaxPoints, "westernElectric"),
        avg(abs(col("_d"))).over(Window.partitionBy()) / lit(1.128)))
      .withColumn("_above", (col("_x") > col("_mu")).cast("long"))
      .withColumn("_below", (col("_x") < col("_mu")).cast("long"))
      .withColumn("_up", (col("_d") > 0).cast("long"))
      .withColumn("_dn", (col("_d") < 0).cast("long"))
      .withColumn("_alt",
        when(col("_d") * lag(col("_d"), 1).over(w) < 0, 1L).otherwise(0L))
    val counted = staged
      .withColumn("_r1",
        when(abs(col("_x") - col("_mu")) > lit(3.0) * col("_sg"), 1L)
          .otherwise(0L))
      .withColumn("_same9", greatest(
        sum(col("_above")).over(w.rowsBetween(-8, 0)),
        sum(col("_below")).over(w.rowsBetween(-8, 0))))
      .withColumn("_i", row_number().over(w))
      .withColumn("_r2",
        when(col("_i") >= 9 && col("_same9") === 9, 1L).otherwise(0L))
      .withColumn("_mono6", greatest(
        sum(col("_up")).over(w.rowsBetween(-4, 0)),
        sum(col("_dn")).over(w.rowsBetween(-4, 0))))
      .withColumn("_r3",
        when(col("_i") >= 6 && col("_mono6") === 5, 1L).otherwise(0L))
      .withColumn("_alt12", sum(col("_alt")).over(w.rowsBetween(-11, 0)))
      .withColumn("_r4",
        when(col("_i") >= 14 && col("_alt12") === 12, 1L).otherwise(0L))
    counted.agg(count(lit(1)).as("n"), sum(col("_r1")).as("r1"),
      sum(col("_r2")).as("r2"), sum(col("_r3")).as("r3"),
      sum(col("_r4")).as("r4"))
  }
}
