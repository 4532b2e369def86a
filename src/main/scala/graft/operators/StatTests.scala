package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributional and structural diagnostics over grouped series — the
  * "is this metric stream still well-behaved?" layer that sits between the
  * rollup tiers and the alerting queries: normality (Jarque–Bera), paired
  * binary shift (McNemar), structural break in a fitted trend (Chow),
  * level-stationarity (KPSS), treatment effects on binary block designs
  * (Cochran's Q), and heteroskedasticity of residuals (Breusch–Pagan).
  *
  * All tests are closed-form moment algebra: one shuffle per test (the
  * groupBy on the key columns; window stages reuse the same partitioning so
  * Catalyst plans a single Exchange). No collect, no iteration — every
  * statistic is a fixed-order fold over per-group moment sums, so the plans
  * scale to millions of groups unchanged. Reference: forecastframe exposes
  * only descriptive stats (`describe`, `calc_statistics`); these tests are
  * the engine-native extension of that diagnostics surface.
  *
  * BOUNDED-INPUT CONTRACT (file-wide): several tests in this file are
  * GLOBAL statistics by definition — a pooled rank sum, a grand median,
  * one ln-factorial table, one fitted trend — and their natural plan
  * funnels the (already aggregated) sample through ONE unpartitioned
  * `Window.orderBy` sort task. That is the correct plan at the intended
  * grain: these operate on tier-rolled/bucketed summaries, never raw
  * events — the same "aggregated-grain input only" discipline each
  * affected scaladoc states. The highest-volume heads additionally
  * enforce it at runtime via [[Bounded.gate]] (moodMedian,
  * ansariBradley, wilcoxonSignedRank, blomqvistBeta, and the
  * fisherExact/signTestExact ln-factorial tables); the remaining
  * unpartitioned windows in this file run on frames those same shapes
  * bound (per-arm summaries, k-row tie tables, literal-length
  * sequences) and inherit the [[Bounded.DefaultMaxPoints]] contract by
  * documentation.
  */
object StatTests {

  /** Jarque–Bera normality test per group (Jarque & Bera 1980):
    * `JB = n/6·(S² + K²/4)` with S the population skewness `m3/m2^1.5` and
    * K the EXCESS kurtosis `m4/m2² − 3`, central moments expanded from raw
    * power sums (Σx, Σx², Σx³, Σx⁴) so the whole test is one aggregate
    * pass. Large JB ⇒ reject normality (χ²₂ reference). Feed it integer-
    * valued series (e.g. bucket counts) for bit-exact cross-engine moments;
    * float inputs are fine to the usual 6-dp rounding discipline.
    * Output: (keys..., n, skew, ex_kurt, jb); null when n < 2 or m2 ≤ 0.
    */
  def jarqueBera(df: DataFrame, groupCols: Seq[String],
                 valCol: String): DataFrame = {
    val keys = groupCols.map(col)
    val x = col(valCol).cast("double")
    val agged = df.filter(x.isNotNull).groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), sum(x).as("_s1"),
        sum(x * x).as("_s2"), sum(x * x * x).as("_s3"),
        sum(x * x * x * x).as("_s4"))
    val n = col("n").cast("double")
    val mu = col("_s1") / n
    val m2 = col("_s2") / n - mu * mu
    val m3 = col("_s3") / n - lit(3.0) * mu * (col("_s2") / n) +
      lit(2.0) * mu * mu * mu
    val m4 = col("_s4") / n - lit(4.0) * mu * (col("_s3") / n) +
      lit(6.0) * mu * mu * (col("_s2") / n) - lit(3.0) * mu * mu * mu * mu
    val ok = col("n") >= 2 && m2 > 0
    agged
      .withColumn("skew", when(ok, m3 / sqrt(m2 * m2 * m2)))
      .withColumn("ex_kurt", when(ok, m4 / (m2 * m2) - lit(3.0)))
      .withColumn("jb", when(ok, n / lit(6.0) *
        (col("skew") * col("skew") +
          col("ex_kurt") * col("ex_kurt") / lit(4.0))))
      .select((keys :+ col("n") :+ col("skew") :+ col("ex_kurt") :+
        col("jb")): _*)
  }

  /** McNemar's test for paired binary outcomes (McNemar 1947): given one
    * row per unit with 0/1 `preCol`/`postCol` indicators, counts the
    * discordant pairs b = (1→0) and c = (0→1) and reports
    * `χ² = (b−c)²/(b+c)` (1 df, no continuity correction — both engines
    * compute the same integer algebra, so the statistic is bit-exact).
    * The canonical "did the flag flip between periods?" readout for a
    * cohort. Output: (keys..., n_pairs, b, c, chi2); chi2 null when
    * b + c = 0 (no discordant pairs — the test is undefined).
    */
  def mcnemar(df: DataFrame, groupCols: Seq[String], preCol: String,
              postCol: String): DataFrame = {
    val keys = groupCols.map(col)
    val pre = col(preCol).cast("long")
    val post = col(postCol).cast("long")
    val base = df.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(pre === 1L && post === 0L, 1L).otherwise(0L)).as("b"),
        sum(when(pre === 0L && post === 1L, 1L).otherwise(0L)).as("c"))
    val d = (col("b") - col("c")).cast("double")
    base.withColumn("chi2", when(col("b") + col("c") > 0,
        d * d / (col("b") + col("c")).cast("double")))
      .select((keys :+ col("n_pairs") :+ col("b") :+ col("c") :+
        col("chi2")): _*)
  }

  /** Chow structural-break test per key (Chow 1960): fit `y = a + b·t` by
    * OLS on the full series, then separately on the first ⌊n/2⌋ and the
    * remaining points (the midpoint split — the classic "did the trend
    * regime change halfway?" form), and compare residual sums of squares:
    * `F = ((RSS_p − RSS₁ − RSS₂)/k) / ((RSS₁+RSS₂)/(n − 2k))`, k = 2
    * parameters. RSS via raw moment sums (`Syy − Sxy²/Sxx` with
    * `Sxx = Σx² − (Σx)²/n`), where x is the 0-based row index — integer-
    * exact in both engines. One window pass for the index, one groupBy
    * with conditional sums for pooled + both segments (single shuffle).
    * Output: (keys..., n, rss_pooled, rss_split, f_stat); null F on
    * degenerate segments (n₁ < 3, n₂ < 3, or zero x-variance anywhere).
    */
  def chow(df: DataFrame, keyCols: Seq[String], tsCol: String,
           valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val win = Window.partitionBy(keys: _*).orderBy(col(tsCol))
    val winAll = Window.partitionBy(keys: _*)
    val y = col(valCol).cast("double")
    val staged = df.filter(y.isNotNull)
      .withColumn("_rn", row_number().over(win))
      .withColumn("_n", count(lit(1)).over(winAll))
      .withColumn("_x", (col("_rn") - 1).cast("double"))
      .withColumn("_seg", when(col("_rn") <= col("_n") / 2, 1).otherwise(2))
    def moments(tag: String, pred: Column) = Seq(
      sum(when(pred, 1L).otherwise(0L)).as(s"_n$tag"),
      sum(when(pred, col("_x")).otherwise(lit(0.0))).as(s"_sx$tag"),
      sum(when(pred, col("_x") * col("_x")).otherwise(lit(0.0))).as(s"_sxx$tag"),
      sum(when(pred, y).otherwise(lit(0.0))).as(s"_sy$tag"),
      sum(when(pred, y * y).otherwise(lit(0.0))).as(s"_syy$tag"),
      sum(when(pred, col("_x") * y).otherwise(lit(0.0))).as(s"_sxy$tag"))
    val aggs = moments("p", lit(true)) ++ moments("1", col("_seg") === 1) ++
      moments("2", col("_seg") === 2)
    val agged = staged.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    def rss(tag: String): Column = {
      val n = col(s"_n$tag").cast("double")
      val sxx = col(s"_sxx$tag") - col(s"_sx$tag") * col(s"_sx$tag") / n
      val sxy = col(s"_sxy$tag") - col(s"_sx$tag") * col(s"_sy$tag") / n
      val syy = col(s"_syy$tag") - col(s"_sy$tag") * col(s"_sy$tag") / n
      when(sxx > 0, syy - sxy * sxy / sxx)
    }
    val n = col("_np").cast("double")
    val ok = col("_n1") >= 3 && col("_n2") >= 3
    agged
      .withColumn("rss_pooled", when(ok, rss("p")))
      .withColumn("rss_split", when(ok, rss("1") + rss("2")))
      .withColumn("f_stat", when(ok && col("rss_split") > 0 &&
          col("_np") > 4,
        ((col("rss_pooled") - col("rss_split")) / lit(2.0)) /
          (col("rss_split") / (n - lit(4.0)))))
      .withColumn("n", col("_np"))
      .select((keys :+ col("n") :+ col("rss_pooled") :+ col("rss_split") :+
        col("f_stat")): _*)
  }

  /** KPSS level-stationarity statistic per key (Kwiatkowski et al. 1992,
    * lag truncation l = 0): demean the series, accumulate partial sums
    * `S_t = Σ_{i≤t} e_i` in time order, and report
    * `η = Σ_t S_t² / (n² · σ̂²)` with `σ̂² = Σe²/n`. LARGE η rejects
    * stationarity — the mirror image of [[Forecast.dickeyFuller]] (which
    * rejects a unit root); running both brackets the series. The partial
    * sums are an ordered window cumsum — both engines add in ascending
    * time order, so the accumulation sequence is identical. Output:
    * (keys..., n, eta); null when n < 2 or σ̂² = 0.
    */
  def kpss(df: DataFrame, keyCols: Seq[String], tsCol: String,
           valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val winAll = Window.partitionBy(keys: _*)
    val winCum = Window.partitionBy(keys: _*).orderBy(col(tsCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val y = col(valCol).cast("double")
    val staged = df.filter(y.isNotNull)
      .withColumn("_e", y - avg(y).over(winAll))
      .withColumn("_s", sum(col("_e")).over(winCum))
    staged.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), sum(col("_e") * col("_e")).as("_see"),
        sum(col("_s") * col("_s")).as("_sss"))
      .withColumn("eta", when(col("n") >= 2 && col("_see") > 0,
        col("_sss") / (col("n").cast("double") * col("n").cast("double") *
          (col("_see") / col("n").cast("double")))))
      .select((keys :+ col("n") :+ col("eta")): _*)
  }

  /** Cochran's Q test (Cochran 1950) over a complete binary block design:
    * one row per (block, treatment) with a 0/1 `xCol`; blocks missing any
    * of the k LITERAL treatments are dropped (the [[Robust.friedman]]
    * complete-block discipline). `Q = k(k−1)·Σ_j(T_j − N/k)² /
    * (k·ΣB_i − ΣB_i²)` with T_j the treatment totals, B_i the block totals,
    * N the grand total — all integer sums, so Q is bit-exact cross-engine
    * up to the final division. The k-treatment generalization of
    * [[mcnemar]]. Output: one row (n_blocks, k, q); q null when every
    * block is all-0 or all-1 (denominator 0).
    */
  def cochranQ(df: DataFrame, blockKey: String, treatCol: String,
               treatments: Seq[String], xCol: String): DataFrame = {
    require(treatments.size >= 2,
      s"cochranQ: need >= 2 treatments, got ${treatments.size}")
    val k = treatments.size
    val x = col(xCol).cast("long")
    val bAggs = Seq(count(lit(1)).as("_kc"), sum(x).as("_bi")) ++
      treatments.zipWithIndex.map { case (t, i) =>
        sum(when(col(treatCol).cast("string") === t, x)).as(s"_t$i")
      }
    val base = df
      .filter(col(treatCol).cast("string").isin(treatments.map(a => a: Any): _*))
      .groupBy(col(blockKey))
      .agg(bAggs.head, bAggs.tail: _*)
      .filter(col("_kc") === k.toLong)
    val tAggs = Seq(count(lit(1)).as("n_blocks"),
      sum(col("_bi")).as("_nn"), sum(col("_bi") * col("_bi")).as("_bb")) ++
      treatments.indices.map(i => sum(col(s"_t$i")).as(s"_tt$i"))
    val agged = base.agg(tAggs.head, tAggs.tail: _*)
    val nd = col("_nn").cast("double")
    val ssb = treatments.indices
      .map { i =>
        val d = col(s"_tt$i").cast("double") - nd / lit(k.toDouble)
        d * d
      }
      .reduce(_ + _)
    val denom = (lit(k.toLong) * col("_nn") - col("_bb")).cast("double")
    agged
      .withColumn("k", lit(k.toLong))
      .withColumn("q", when(denom > 0,
        lit((k * (k - 1)).toDouble) * ssb / denom))
      .select(col("n_blocks"), col("k"), col("q"))
  }

  /** Engle–Granger two-step cointegration per key (Engle & Granger 1987):
    * stage 1 regresses `y = α + β·x` by OLS (window moments, one pass);
    * stage 2 runs the NO-INTERCEPT Dickey–Fuller regression
    * `Δe_t = ρ·e_{t−1}` on the stage-1 residuals (the EG convention — the
    * residuals are mean-zero by construction, so no constant):
    * `ρ̂ = Σe_{t−1}Δe / Σe²_{t−1}`, `t = ρ̂/√(RSS/(n−1)/Σe²)`. A strongly
    * negative t (vs the EG critical values, ≈ −3.37 at 5%) means the two
    * series share a common stochastic trend — e.g. two host-level traffic
    * tiers moving together. Input: one row per (keys, ts) with both series
    * aligned. Output: (keys..., n, beta, rho, t_stat).
    */
  def engleGranger(df: DataFrame, keyCols: Seq[String], tsCol: String,
                   xCol: String, yCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val win = Window.partitionBy(keys: _*).orderBy(col(tsCol))
    val winAll = Window.partitionBy(keys: _*)
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val staged = df.filter(x.isNotNull && y.isNotNull)
      .withColumn("_xm", avg(x).over(winAll))
      .withColumn("_ym", avg(y).over(winAll))
      .withColumn("_sxx",
        sum((x - col("_xm")) * (x - col("_xm"))).over(winAll))
      .withColumn("_sxy",
        sum((x - col("_xm")) * (y - col("_ym"))).over(winAll))
      .withColumn("_beta", when(col("_sxx") > 0, col("_sxy") / col("_sxx")))
      .withColumn("_e", y - (col("_ym") - col("_beta") * col("_xm")) -
        col("_beta") * x)
      .withColumn("_el", lag(col("_e"), 1).over(win))
      .withColumn("_de", col("_e") - col("_el"))
    val agged = staged.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), max(col("_beta")).as("beta"),
        sum(when(col("_el").isNotNull, 1L).otherwise(0L)).as("_nr"),
        sum(col("_el") * col("_el")).as("_se2"),
        sum(col("_el") * col("_de")).as("_sed"),
        sum(col("_de") * col("_de")).as("_sdd"))
    val rho = when(col("_se2") > 0, col("_sed") / col("_se2"))
    val rss = col("_sdd") - col("_sed") * col("_sed") / col("_se2")
    agged
      .withColumn("rho", rho)
      .withColumn("t_stat", when(col("_se2") > 0 && col("_nr") > 1 &&
          rss > 0,
        col("rho") / sqrt(rss / (col("_nr").cast("double") - 1) /
          col("_se2"))))
      .select((keys :+ col("n") :+ col("beta") :+ col("rho") :+
        col("t_stat")): _*)
  }

  /** Bradley–Terry paired-comparison strengths over a LITERAL item list
    * (Bradley & Terry 1952; Hunter 2004 MM updates): given per-ordered-pair
    * win counts (`w_ij` = times i beat j), runs `iterations` fixed-point
    * rounds of `p_i ← W_i / Σ_{j≠i} n_ij/(p_i + p_j)` from the uniform
    * start, renormalizing to Σp = 1 each round with a fixed-order literal
    * fold — the whole solve is one projection chain over a single pivoted
    * row (k² counts), so it costs nothing at any corpus scale; all the data
    * weight is in the upstream pair-count aggregation. `df` must have one
    * row per ordered pair (itemCol, oppCol, wins). Output: one row with a
    * `p_<item>` strength column per item plus `n_comparisons`.
    */
  def bradleyTerry(df: DataFrame, itemCol: String, oppCol: String,
                   winsCol: String, items: Seq[String],
                   iterations: Int): DataFrame = {
    require(items.size >= 2 && iterations >= 1)
    val k = items.size
    val w = col(winsCol).cast("double")
    // pivot the k*(k-1) ordered-pair counts into one row: _w_{i}_{j}
    val aggs = (for {
      i <- items.indices; j <- items.indices if i != j
    } yield sum(when(col(itemCol) === items(i) && col(oppCol) === items(j), w)
      .otherwise(lit(0.0))).as(s"_w_${i}_$j")) :+
      sum(w).cast("long").as("n_comparisons")
    var row = df.agg(aggs.head, aggs.tail: _*)
    def wij(i: Int, j: Int) = col(s"_w_${i}_$j")
    // W_i and symmetric n_ij as fixed columns
    for (i <- items.indices) {
      val wi = items.indices.filter(_ != i).map(j => wij(i, j)).reduce(_ + _)
      row = row.withColumn(s"_W_$i", wi)
      row = row.withColumn(s"_p_$i", lit(1.0 / k))
    }
    for (_ <- 1 to iterations) {
      for (i <- items.indices) {
        val denom = items.indices.filter(_ != i).map { j =>
          (wij(i, j) + wij(j, i)) / (col(s"_p_$i") + col(s"_p_$j"))
        }.reduce(_ + _)
        row = row.withColumn(s"_q_$i",
          when(denom > 0, col(s"_W_$i") / denom).otherwise(col(s"_p_$i")))
      }
      val total = items.indices.map(i => col(s"_q_$i")).reduce(_ + _)
      for (i <- items.indices)
        row = row.withColumn(s"_p_$i", col(s"_q_$i") / total)
    }
    val out = items.indices.map(i => col(s"_p_$i").as(s"p_${items(i)}"))
    row.select((out :+ col("n_comparisons")): _*)
  }

  /** Page's L trend test for ordered alternatives (Page 1963): Friedman
    * midranks within complete blocks, but scored against a PRE-SPECIFIED
    * treatment order — `L = Σ_j j·R_j` over the literal `orderedArms`
    * (position j = 1..k), with the normal approximation
    * `z = (L − n·k(k+1)²/4) / √(n·k²(k+1)(k²−1)/144)`. Rejects "no trend"
    * against the ordered alternative (arm j stochastically ≤ arm j+1) with
    * far more power than Friedman's omnibus χ² when the order is known.
    * Blocks missing any arm are dropped ([[Robust.friedman]] discipline).
    * Output: one row (n_blocks, k, l_stat, z).
    */
  def pageL(df: DataFrame, blockKey: String, armCol: String,
            orderedArms: Seq[String], valCol: String): DataFrame = {
    require(orderedArms.size >= 3, "pageL: need >= 3 ordered arms")
    val k = orderedArms.size
    val v = col(valCol).cast("double")
    val base = df.filter(v.isNotNull &&
      col(armCol).cast("string").isin(orderedArms.map(a => a: Any): _*))
      .withColumn("_ba", count(lit(1)).over(Window.partitionBy(col(blockKey))))
      .filter(col("_ba") === k.toLong)
    val wBlk = Window.partitionBy(col(blockKey)).orderBy(v)
    val tiePart = Window.partitionBy(col(blockKey), v)
    val ranked = base.withColumn("_mid", rank().over(wBlk).cast("double") +
      (count(lit(1)).over(tiePart) - 1).cast("double") / 2)
    val aggs = Seq(countDistinct(col(blockKey)).as("n_blocks")) ++
      orderedArms.zipWithIndex.map { case (a, i) =>
        sum(when(col(armCol).cast("string") === a, col("_mid"))
          .otherwise(lit(0.0))).as(s"_r$i")
      }
    val agged = ranked.agg(aggs.head, aggs.tail: _*)
    val l = orderedArms.indices
      .map(i => lit((i + 1).toDouble) * col(s"_r$i")).reduce(_ + _)
    val n = col("n_blocks").cast("double")
    val kd = k.toDouble
    val mean = n * lit(kd * (kd + 1) * (kd + 1) / 4.0)
    val sd = sqrt(n * lit(kd * kd * (kd + 1) * (kd * kd - 1) / 144.0))
    agged
      .withColumn("k", lit(k.toLong))
      .withColumn("l_stat", when(col("n_blocks") > 0, l))
      .withColumn("z", when(col("n_blocks") > 0, (l - mean) / sd))
      .select(col("n_blocks"), col("k"), col("l_stat"), col("z"))
  }

  /** Jonckheere–Terpstra test for ordered alternatives (Jonckheere 1954):
    * across the LITERAL ordered groups g₁ < … < g_k,
    * `J = Σ_{a<b} #{x∈g_a, y∈g_b : x < y}` (+½ per tie), with the normal
    * approximation `E = (N² − Σnᵢ²)/4`,
    * `V = (N²(2N+3) − Σnᵢ²(2nᵢ+3))/72` (tie-free form). Rejects "no
    * difference" against the monotone-ordering alternative — the
    * independent-samples cousin of [[pageL]]. The pair count is a join
    * over group pairs: O(Σ_{a<b} n_a·n_b) comparisons — intended for the
    * AGGREGATED grain (daily/bucket summaries), not raw events; feed it
    * integer-valued summaries for bit-exact cross-engine counting.
    * Output: one row (n, j_stat, z).
    */
  def jonckheere(df: DataFrame, armCol: String, orderedArms: Seq[String],
                 valCol: String): DataFrame = {
    require(orderedArms.size >= 3, "jonckheere: need >= 3 ordered arms")
    val v = col(valCol).cast("double")
    val ordExpr = orderedArms.zipWithIndex
      .foldLeft(lit(-1)) { case (acc, (a, i)) =>
        when(col(armCol).cast("string") === a, lit(i)).otherwise(acc)
      }
    val base = df.filter(v.isNotNull).select(ordExpr.as("g"), v.as("v"))
      .filter(col("g") >= 0)
    val a = base.select(col("g").as("ga"), col("v").as("va"))
    val b = base.select(col("g").as("gb"), col("v").as("vb"))
    val j = a.crossJoin(b).filter(col("ga") < col("gb"))
      .agg(sum(when(col("va") < col("vb"), 1.0)
        .when(col("va") === col("vb"), 0.5).otherwise(0.0)).as("j_stat"))
    val sizes = base.groupBy(col("g")).agg(count(lit(1)).as("ni"))
      .agg(sum(col("ni")).as("n"), sum(col("ni") * col("ni")).as("_n2"),
        sum(col("ni") * col("ni") * (lit(2L) * col("ni") + lit(3L))).as("_n3"))
    j.crossJoin(sizes)
      .withColumn("_e",
        (col("n").cast("double") * col("n").cast("double") -
          col("_n2").cast("double")) / lit(4.0))
      .withColumn("_v",
        (col("n").cast("double") * col("n").cast("double") *
          (lit(2.0) * col("n").cast("double") + lit(3.0)) -
          col("_n3").cast("double")) / lit(72.0))
      .withColumn("z", when(col("_v") > 0,
        (col("j_stat") - col("_e")) / sqrt(col("_v"))))
      .select(col("n"), col("j_stat"), col("z"))
  }

  /** Mood's median test (Mood 1950): χ² independence of "above the grand
    * median" vs group over k LITERAL arms. The grand median is the LOWER
    * MIDDLE order statistic, located with an explicit row_number formula
    * (`rn = (N+1) div 2` on the (value, arm) ordering) so both engines pick
    * the identical data value — never a builtin whose even-N interpolation
    * differs. The global sort funnels one task: intended for aggregated
    * summaries (the engine-wide single-task-sort bound, q53 dictionary
    * discipline). `χ² = Σ_cells (O − E)²/E` with E = row·col/N — integer
    * O and rational E, bit-exact cross-engine. Output: one row
    * (n, median, chi2); chi2 null if any arm is missing or any expected
    * cell is 0.
    */
  def moodMedian(df: DataFrame, armCol: String, arms: Seq[String],
                 valCol: String): DataFrame = {
    require(arms.size >= 2, "moodMedian: need >= 2 arms")
    val k = arms.size
    val v = col(valCol).cast("double")
    val base = df.filter(v.isNotNull &&
      col(armCol).cast("string").isin(arms.map(a => a: Any): _*))
      .select(col(armCol).cast("string").as("arm"), v.as("v"))
    val w = Window.orderBy(col("v"), col("arm"))
    val winAll = Window.partitionBy()
    val med = base
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(winAll))
      .filter(Bounded.gate(col("_n"), Bounded.DefaultMaxPoints, "moodMedian") &&
        col("_rn") ===
        floor((col("_n") + 1L).cast("double") / 2.0).cast("long"))
      .select(col("v").as("median"))
    val aggs = Seq(count(lit(1)).as("n")) ++ arms.zipWithIndex.flatMap {
      case (a, i) => Seq(
        sum(when(col("arm") === a && col("v") > col("median"), 1L)
          .otherwise(0L)).as(s"_a$i"),
        sum(when(col("arm") === a, 1L).otherwise(0L)).as(s"_t$i"))
    }
    val agged = base.crossJoin(broadcast(med)).agg(aggs.head, aggs.tail: _*)
      .crossJoin(broadcast(med))
    val aTot = arms.indices.map(i => col(s"_a$i")).reduce(_ + _)
    val n = col("n").cast("double")
    val chi2 = arms.indices.map { i =>
      val ti = col(s"_t$i").cast("double")
      val ea = ti * aTot.cast("double") / n
      val eb = ti * (col("n") - aTot).cast("double") / n
      val oa = col(s"_a$i").cast("double")
      val ob = (col(s"_t$i") - col(s"_a$i")).cast("double")
      (oa - ea) * (oa - ea) / ea + (ob - eb) * (ob - eb) / eb
    }.reduce(_ + _)
    val defined = arms.indices.map(i => col(s"_t$i") >= 1L).reduce(_ && _) &&
      aTot > 0 && aTot < col("n")
    agged.withColumn("chi2", when(defined, chi2))
      .select(col("n"), col("median"), col("chi2"))
  }

  /** Entropy rate of the empirical first-order Markov chain over LITERAL
    * states (Shannon 1948): `H = −Σᵢ πᵢ Σⱼ pᵢⱼ ln pᵢⱼ` with πᵢ the
    * from-state share of transitions and pᵢⱼ = nᵢⱼ/nᵢ — how predictable
    * the next event type is given the current one. All k² transition
    * counts pivot into ONE row (conditional integer sums), the double-sum
    * is a fixed-order literal fold, and `perplexity = e^H` is the
    * effective branching factor. Output: one row
    * (n_transitions, entropy_rate, perplexity).
    */
  def markovEntropyRate(df: DataFrame, fromCol: String, toCol: String,
                        states: Seq[String]): DataFrame = {
    require(states.size >= 2)
    val aggs = (for { i <- states.indices; j <- states.indices } yield
      sum(when(col(fromCol) === states(i) && col(toCol) === states(j), 1L)
        .otherwise(0L)).as(s"_n_${i}_$j")) :+ count(lit(1)).as("_n_all")
    val row = df
      .filter(col(fromCol).cast("string").isin(states.map(a => a: Any): _*) &&
        col(toCol).cast("string").isin(states.map(a => a: Any): _*))
      .agg(aggs.head, aggs.tail: _*)
    def nij(i: Int, j: Int) = col(s"_n_${i}_$j")
    val withTot = states.indices.foldLeft(row) { (r, i) =>
      r.withColumn(s"_ni_$i", states.indices.map(j => nij(i, j)).reduce(_ + _))
    }
    val nTot = states.indices.map(i => col(s"_ni_$i")).reduce(_ + _)
    val h = states.indices.map { i =>
      val pi = col(s"_ni_$i").cast("double") / nTot.cast("double")
      val inner = states.indices.map { j =>
        val pij = nij(i, j).cast("double") / col(s"_ni_$i").cast("double")
        when(nij(i, j) > 0, -pij * log(pij)).otherwise(lit(0.0))
      }.reduce(_ + _)
      when(col(s"_ni_$i") > 0, pi * inner).otherwise(lit(0.0))
    }.reduce(_ + _)
    withTot
      .withColumn("n_transitions", nTot)
      .withColumn("entropy_rate", h)
      .withColumn("perplexity", exp(col("entropy_rate")))
      .select(col("n_transitions"), col("entropy_rate"), col("perplexity"))
  }

  /** Tukey HSD pairwise readout after [[Experiment.anovaF]]'s omnibus
    * (Tukey 1949): for every literal arm pair,
    * `q = |m̄ᵢ − m̄ⱼ| / √(MSW/2 · (1/nᵢ + 1/nⱼ))` (the Tukey–Kramer
    * unequal-n form) with MSW = SSW/(N−k) from the same per-arm moment
    * pivot. Emitted as the STATISTIC (compared against studentized-range
    * critical values offline — no closed-form p). One aggregate pass, the
    * k(k−1)/2 pair rows assembled from literal selects on the single
    * pivoted row. Output: (arm_a, arm_b, mean_a, mean_b, q_stat).
    */
  def tukeyHsd(df: DataFrame, armCol: String, arms: Seq[String],
               valCol: String): DataFrame = {
    require(arms.size >= 2)
    val k = arms.size
    val v = col(valCol).cast("double")
    val aggs = Seq(count(lit(1)).as("n")) ++ arms.zipWithIndex.flatMap {
      case (a, i) =>
        val in = col(armCol).cast("string") === a
        Seq(sum(when(in, 1L).otherwise(0L)).as(s"_n$i"),
          sum(when(in, v).otherwise(lit(0.0))).as(s"_s$i"),
          sum(when(in, v * v).otherwise(lit(0.0))).as(s"_q$i"))
    }
    val piv = df
      .filter(col(armCol).cast("string").isin(arms.map(a => a: Any): _*))
      .groupBy().agg(aggs.head, aggs.tail: _*)
    val ssw = arms.indices.map(i =>
      col(s"_q$i") - col(s"_s$i") * col(s"_s$i") / col(s"_n$i").cast("double"))
      .reduce(_ + _)
    val msw = ssw / (col("n") - lit(k.toLong)).cast("double")
    val withM = piv.withColumn("_msw", msw)
    val pairs = for { i <- arms.indices; j <- arms.indices if i < j } yield
      withM.select(
        lit(arms(i)).as("arm_a"), lit(arms(j)).as("arm_b"),
        (col(s"_s$i") / col(s"_n$i").cast("double")).as("mean_a"),
        (col(s"_s$j") / col(s"_n$j").cast("double")).as("mean_b"),
        when(col(s"_n$i") >= 1L && col(s"_n$j") >= 1L &&
            col("n") > lit(k.toLong) && col("_msw") > 0,
          abs(col(s"_s$i") / col(s"_n$i").cast("double") -
            col(s"_s$j") / col(s"_n$j").cast("double")) /
            sqrt(col("_msw") / lit(2.0) *
              (lit(1.0) / col(s"_n$i").cast("double") +
                lit(1.0) / col(s"_n$j").cast("double")))).as("q_stat"))
    pairs.reduce(_.unionByName(_))
  }

  /** Ansari–Bradley two-sample scale test (Ansari & Bradley 1960): pooled
    * values scored from both ends — `s = min(rank, N+1−rank)` on the
    * explicit (value, arm, tiebreak) row_number ordering, then tied values
    * get the MEAN score of their tie group — and `AB = Σ s` over sample A.
    * Standardized with the exact finite-population moments of a random
    * n₁-subset of the realized scores (`E = n₁·s̄`,
    * `V = n₁n₂/(N−1)·(Σs²/N − s̄²)`), which is tie-correct by
    * construction. Small AB ⇒ sample A concentrates at the extremes
    * (LARGER dispersion). Global sort = one task: aggregated-grain input
    * only. Output: one row (n_a, n_b, ab_stat, z).
    */
  def ansariBradley(df: DataFrame, armCol: String, armA: String,
                    armB: String, valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val base = df.filter(v.isNotNull &&
      (col(armCol).cast("string") === armA ||
        col(armCol).cast("string") === armB))
      .select(col(armCol).cast("string").as("arm"), v.as("v"))
    val w = Window.orderBy(col("v"), col("arm"))
    val winAll = Window.partitionBy()
    val tiePart = Window.partitionBy(col("v"))
    val scored = base
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(winAll))
      .withColumn("_s0", when(
        Bounded.gate(col("_n"), Bounded.DefaultMaxPoints, "ansariBradley"),
        least(col("_rn").cast("double"),
          (col("_n") + 1L - col("_rn")).cast("double"))))
      .withColumn("_s", avg(col("_s0")).over(tiePart))
    scored.agg(
        sum(when(col("arm") === armA, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === armB, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === armA, col("_s")).otherwise(lit(0.0)))
          .as("ab_stat"),
        sum(col("_s")).as("_ss"), sum(col("_s") * col("_s")).as("_sq"))
      .withColumn("_nt", (col("n_a") + col("n_b")).cast("double"))
      .withColumn("_e", col("n_a").cast("double") * col("_ss") / col("_nt"))
      .withColumn("_var", col("n_a").cast("double") * col("n_b").cast("double") /
        (col("_nt") - lit(1.0)) *
        (col("_sq") / col("_nt") -
          (col("_ss") / col("_nt")) * (col("_ss") / col("_nt"))))
      .withColumn("z", when(col("_var") > 0,
        (col("ab_stat") - col("_e")) / sqrt(col("_var"))))
      .select(col("n_a"), col("n_b"), col("ab_stat"), col("z"))
  }

  /** Breusch–Pagan heteroskedasticity test per key (Breusch & Pagan 1979,
    * Koenker's studentized LM form): fit `y = a + b·t` by OLS on the
    * 0-based time index, square the residuals, and regress e² back on t;
    * `LM = n·R²_aux` where for the single regressor
    * `R² = Sxg² / (Sxx·Sgg)` (g = e²). Large LM ⇒ the residual variance
    * drifts with time — a rollup whose noise floor is growing. Two window
    * stages over one partitioning (index + fit means, then residuals),
    * one final aggregate. Output: (keys..., n, slope, r2_aux, lm); null on
    * degenerate designs (n < 3, zero x- or g-variance).
    */
  def breuschPagan(df: DataFrame, keyCols: Seq[String], tsCol: String,
                   valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val win = Window.partitionBy(keys: _*).orderBy(col(tsCol))
    val winAll = Window.partitionBy(keys: _*)
    val y = col(valCol).cast("double")
    val staged = df.filter(y.isNotNull)
      .withColumn("_x", (row_number().over(win) - 1).cast("double"))
      .withColumn("_xm", avg(col("_x")).over(winAll))
      .withColumn("_ym", avg(y).over(winAll))
      .withColumn("_sxx",
        sum((col("_x") - col("_xm")) * (col("_x") - col("_xm"))).over(winAll))
      .withColumn("_sxy",
        sum((col("_x") - col("_xm")) * (y - col("_ym"))).over(winAll))
      .withColumn("_b", when(col("_sxx") > 0, col("_sxy") / col("_sxx")))
      .withColumn("_e", y - (col("_ym") - col("_b") * col("_xm")) -
        col("_b") * col("_x"))
      .withColumn("_g", col("_e") * col("_e"))
    val agged = staged.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), max(col("_b")).as("slope"),
        max(col("_sxx")).as("_sxxg"),
        sum(col("_x")).as("_sx"), sum(col("_g")).as("_sg"),
        sum(col("_g") * col("_g")).as("_sgg"),
        sum(col("_x") * col("_g")).as("_sxg"))
    val n = col("n").cast("double")
    val sgg = col("_sgg") - col("_sg") * col("_sg") / n
    val sxg = col("_sxg") - col("_sx") * col("_sg") / n
    val ok = col("n") >= 3 && col("_sxxg") > 0 && sgg > 0
    agged
      .withColumn("r2_aux", when(ok, sxg * sxg / (col("_sxxg") * sgg)))
      .withColumn("lm", when(ok, n * col("r2_aux")))
      .select((keys :+ col("n") :+ col("slope") :+ col("r2_aux") :+
        col("lm")): _*)
  }

  /** Fisher's exact test (one-sided, greater) on a 2×2 table built from
    * two 0/1 flags per unit: a = both, b = A only, c = B only, d = neither;
    * `p = Σ_{k≥a} C(r1,k)·C(r2,c1−k) / C(n,c1)` over the feasible k range.
    * Log-factorials come from an ORDERED cumulative sum of ln(i) over
    * 1..n (ascending window — both engines accumulate in the identical
    * order), and the tail probability is the final row of an ordered
    * cumulative sum over k — no shuffled float reduction anywhere. The
    * ln-factorial table is O(n) rows through a single ordered window:
    * this is the SMALL-n exact test (contingency cells after aggregation);
    * at raw-corpus n use the χ² family (q187/q249) instead. Output: one
    * row (a, b, c, d, p_greater).
    */
  def fisherExact(df: DataFrame, flagACol: String, flagBCol: String): DataFrame = {
    val fa = col(flagACol).cast("long")
    val fb = col(flagBCol).cast("long")
    val counts = df.agg(
        sum(when(fa === 1L && fb === 1L, 1L).otherwise(0L)).as("a"),
        sum(when(fa === 1L && fb === 0L, 1L).otherwise(0L)).as("b"),
        sum(when(fa === 0L && fb === 1L, 1L).otherwise(0L)).as("c"),
        sum(when(fa === 0L && fb === 0L, 1L).otherwise(0L)).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      .withColumn("r1", col("a") + col("b"))
      .withColumn("r2", col("c") + col("d"))
      .withColumn("c1", col("a") + col("c"))
    // lnfact(i) for i in 0..n via ordered cumsum (row i=0 contributes 0)
    // the ln-factorial table is O(n) rows through ONE cumsum task —
    // Bounded.gate keeps a 100 TB-scale flag table from exploding it
    val lf = counts.select(explode(sequence(lit(0L),
        when(Bounded.gate(col("n"), Bounded.DefaultMaxPoints, "fisherExact"),
          col("n")))).as("i"))
      .withColumn("v", sum(when(col("i") >= 1L,
        log(col("i").cast("double"))).otherwise(lit(0.0)))
        .over(Window.orderBy(col("i"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    def look(tag: String, key: Column) = lf
      .select(col("i").as(s"_i$tag"), col("v").as(s"lf_$tag"))
      .join(counts.select(key.as(s"_k$tag")),
        col(s"_i$tag") === col(s"_k$tag")).select(col(s"lf_$tag"))
    // constant part: ln C(n, c1) pieces + row-margin factorials
    val const = counts
      .crossJoin(look("r1", col("r1"))).crossJoin(look("r2", col("r2")))
      .crossJoin(look("n", col("n"))).crossJoin(look("c1", col("c1")))
      .crossJoin(look("nc1", col("n") - col("c1")))
    val ks = const.withColumn("k",
      explode(sequence(col("a"), least(col("r1"), col("c1")))))
    val terms = ks
      .join(lf.select(col("i").as("k"), col("v").as("lf_k")), "k")
      .join(lf.select((col("i")).as("_rk"), col("v").as("lf_r1k")),
        col("_rk") === col("r1") - col("k"))
      .join(lf.select(col("i").as("_ck"), col("v").as("lf_c1k")),
        col("_ck") === col("c1") - col("k"))
      .join(lf.select(col("i").as("_xk"), col("v").as("lf_r2x")),
        col("_xk") === col("r2") - col("c1") + col("k"))
      .withColumn("_lnp",
        col("lf_r1") - col("lf_k") - col("lf_r1k") +
          (col("lf_r2") - col("lf_c1k") - col("lf_r2x")) -
          (col("lf_n") - col("lf_c1") - col("lf_nc1")))
      .withColumn("_cum", sum(exp(col("_lnp"))).over(Window.orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_rn", row_number().over(Window.orderBy(col("k").desc)))
      .filter(col("_rn") === 1)
    terms.select(col("a"), col("b"), col("c"), col("d"),
      col("_cum").as("p_greater"))
  }

  /** Chapman capture–recapture estimator (Chapman 1951): from two capture
    * flags per unit, `N̂ = (n₁+1)(n₂+1)/(m+1) − 1` with variance
    * `(n₁+1)(n₂+1)(n₁−m)(n₂−m) / ((m+1)²(m+2))` — the bias-corrected
    * Lincoln–Petersen population estimate. The web-scale use: two crawl
    * passes over the same host estimate how many pages the crawler has
    * NOT seen. Pure integer margins (bit-exact). Output: one row
    * (n1, n2, m, n_hat, se).
    */
  def chapman(df: DataFrame, flag1Col: String, flag2Col: String): DataFrame = {
    val f1 = col(flag1Col).cast("long")
    val f2 = col(flag2Col).cast("long")
    df.agg(sum(when(f1 === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(f2 === 1L, 1L).otherwise(0L)).as("n2"),
        sum(when(f1 === 1L && f2 === 1L, 1L).otherwise(0L)).as("m"))
      .withColumn("n_hat",
        (col("n1") + 1L).cast("double") * (col("n2") + 1L).cast("double") /
          (col("m") + 1L).cast("double") - lit(1.0))
      .withColumn("se", sqrt(
        (col("n1") + 1L).cast("double") * (col("n2") + 1L).cast("double") *
          (col("n1") - col("m")).cast("double") *
          (col("n2") - col("m")).cast("double") /
          ((col("m") + 1L).cast("double") * (col("m") + 1L).cast("double") *
            (col("m") + 2L).cast("double"))))
      .select(col("n1"), col("n2"), col("m"), col("n_hat"), col("se"))
  }

  /** Lin's concordance correlation coefficient per key (Lin 1989):
    * `CCC = 2·c_xy / (v_x + v_y + (m_x − m_y)²)` on POPULATION moments —
    * penalizes both scatter (like Pearson) and systematic bias (unlike
    * Pearson), the right agreement score for "does the cheap tier
    * reproduce the exact tier". Pearson r emitted alongside for the
    * decomposition CCC = r·C_b. One aggregate pass. Output:
    * (keys..., n, pearson, ccc); null on zero variance.
    */
  def concordance(df: DataFrame, keyCols: Seq[String], xCol: String,
                  yCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val agged = df.filter(x.isNotNull && y.isNotNull)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), sum(x).as("_sx"), sum(y).as("_sy"),
        sum(x * x).as("_sxx"), sum(y * y).as("_syy"), sum(x * y).as("_sxy"))
    val n = col("n").cast("double")
    val mx = col("_sx") / n
    val my = col("_sy") / n
    val vx = col("_sxx") / n - mx * mx
    val vy = col("_syy") / n - my * my
    val cxy = col("_sxy") / n - mx * my
    val ok = col("n") >= 2 && vx > 0 && vy > 0
    agged
      .withColumn("pearson", when(ok, cxy / sqrt(vx * vy)))
      .withColumn("ccc", when(ok,
        lit(2.0) * cxy / (vx + vy + (mx - my) * (mx - my))))
      .select((keys :+ col("n") :+ col("pearson") :+ col("ccc")): _*)
  }

  /** Cox–Stuart trend test per key (Cox & Stuart 1955): pair x_i with
    * x_{i+⌈n/2⌉} (the middle point of an odd series is unpaired), count
    * S⁺ = #(later > earlier) among the m non-tied pairs, and standardize
    * against Binomial(m, ½): `z = (S⁺ − m/2)/√(m/4)`. The sign-test
    * cousin of Mann–Kendall — O(n) pairs instead of O(n²), the cheap
    * first-pass trend screen. Feed integer-valued series for exact tie
    * handling. One self-join on the shifted row index (same partition
    * key, no extra shuffle). Output: (keys..., n, m, s_plus, z).
    */
  def coxStuart(df: DataFrame, keyCols: Seq[String], tsCol: String,
                valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val win = Window.partitionBy(keys: _*).orderBy(col(tsCol))
    val winAll = Window.partitionBy(keys: _*)
    val v = col(valCol).cast("double")
    val staged = df.filter(v.isNotNull)
      .withColumn("_rn", row_number().over(win))
      .withColumn("_n", count(lit(1)).over(winAll))
      .withColumn("_h", ceil(col("_n").cast("double") / 2.0).cast("long"))
    val a = staged.select((keys :+ col("_rn") :+ col("_n") :+ col("_h") :+
      v.as("_va")): _*).filter(col("_rn") <= col("_n") - col("_h"))
    val b = staged.select((keyCols.map(k => col(k).as(s"_b_$k")) :+
      col("_rn").as("_rnb") :+ v.as("_vb")): _*)
    val keyCond = keyCols.map(k => col(k) === col(s"_b_$k"))
      .foldLeft(col("_rnb") === col("_rn") + col("_h"))(_ && _)
    val agged = a.join(b, keyCond).groupBy(keys: _*)
      .agg(max(col("_n")).as("n"),
        sum(when(col("_vb") > col("_va"), 1L).otherwise(0L)).as("s_plus"),
        sum(when(col("_vb") =!= col("_va"), 1L).otherwise(0L)).as("m"))
    agged
      .withColumn("z", when(col("m") > 0,
        (col("s_plus").cast("double") - col("m").cast("double") / 2.0) /
          sqrt(col("m").cast("double") / 4.0)))
      .select((keys :+ col("n") :+ col("m") :+ col("s_plus") :+
        col("z")): _*)
  }

  /** Wilcoxon signed-rank test on paired values (Wilcoxon 1945): drop
    * zero differences, midrank |d| across the remaining pairs, and sum the
    * ranks of the positive side: `W⁺`; standardized with the tie-corrected
    * variance `n(n+1)(2n+1)/24 − Σ(t³−t)/48`. The PAIRED cousin of
    * [[Robust.mannWhitney]]. Feed integer-valued pairs (bucket counts) so
    * |d| ties are exact. Global midranking = one sort over the pair grain
    * (aggregated input only). Output: one row (n_pairs, n_nonzero,
    * w_plus, z).
    */
  def wilcoxonSignedRank(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val d = col(xCol).cast("double") - col(yCol).cast("double")
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(d.as("d")).withColumn("_ad", abs(col("d")))
    val nz = base.filter(col("d") =!= 0.0)
    val w = Window.orderBy(col("_ad"))
    val tiePart = Window.partitionBy(col("_ad"))
    val ranked = nz
      .withColumn("_nAll", count(lit(1)).over(Window.partitionBy()))
      .withColumn("_mid", when(
        Bounded.gate(col("_nAll"), Bounded.DefaultMaxPoints,
          "wilcoxonSignedRank"),
        rank().over(w).cast("double") +
          (count(lit(1)).over(tiePart) - 1).cast("double") / 2))
      .withColumn("_t", count(lit(1)).over(tiePart))
    val agged = ranked.agg(count(lit(1)).as("n_nonzero"),
      sum(when(col("d") > 0, col("_mid")).otherwise(lit(0.0))).as("w_plus"),
      // each tie group of size t contributes t*(t^3 - t); dividing by t
      // once per member keeps it a plain row aggregate
      sum((col("_t") * col("_t") * col("_t") - col("_t")).cast("double") /
        col("_t").cast("double")).as("_tie"))
    val tot = base.agg(count(lit(1)).as("n_pairs"))
    val n = col("n_nonzero").cast("double")
    val varW = n * (n + 1) * (n * 2 + 1) / lit(24.0) - col("_tie") / lit(48.0)
    tot.crossJoin(agged)
      .withColumn("z", when(col("n_nonzero") > 0 && varW > 0,
        (col("w_plus") - n * (n + 1) / lit(4.0)) / sqrt(varW)))
      .select(col("n_pairs"), col("n_nonzero"), col("w_plus"), col("z"))
  }

  /** Bartlett's test for variance homogeneity across k LITERAL arms
    * (Bartlett 1937): `χ² = ((N−k)·ln S_p² − Σ(nᵢ−1)·ln Sᵢ²) / C` with
    * `C = 1 + (Σ1/(nᵢ−1) − 1/(N−k)) / (3(k−1))`, sample variances from
    * the per-arm moment pivot ([[Experiment.anovaF]] discipline). The
    * normal-theory complement to the rank-based Brown–Forsythe (q321) —
    * more powerful when the data really are normal, fragile otherwise;
    * run both. Output: one row (n, chi2); null when any arm has nᵢ < 2
    * or a zero variance.
    */
  def bartlett(df: DataFrame, armCol: String, arms: Seq[String],
               valCol: String): DataFrame = {
    require(arms.size >= 2)
    val k = arms.size
    val v = col(valCol).cast("double")
    val aggs = Seq(count(lit(1)).as("n")) ++ arms.zipWithIndex.flatMap {
      case (a, i) =>
        val in = col(armCol).cast("string") === a
        Seq(sum(when(in, 1L).otherwise(0L)).as(s"_n$i"),
          sum(when(in, v).otherwise(lit(0.0))).as(s"_s$i"),
          sum(when(in, v * v).otherwise(lit(0.0))).as(s"_q$i"))
    }
    val piv = df
      .filter(col(armCol).cast("string").isin(arms.map(a => a: Any): _*))
      .groupBy().agg(aggs.head, aggs.tail: _*)
    def ni(i: Int) = col(s"_n$i").cast("double")
    def s2(i: Int) =
      (col(s"_q$i") - col(s"_s$i") * col(s"_s$i") / ni(i)) / (ni(i) - 1)
    val n = col("n").cast("double")
    val nk = n - lit(k.toDouble)
    val sp2 = arms.indices.map(i => (ni(i) - 1) * s2(i)).reduce(_ + _) / nk
    val num = nk * log(sp2) -
      arms.indices.map(i => (ni(i) - 1) * log(s2(i))).reduce(_ + _)
    val cFac = lit(1.0) +
      (arms.indices.map(i => lit(1.0) / (ni(i) - 1)).reduce(_ + _) -
        lit(1.0) / nk) / lit(3.0 * (k - 1))
    val ok = arms.indices.map(i => col(s"_n$i") >= 2L).reduce(_ && _) &&
      arms.indices.map(i => s2(i) > 0).reduce(_ && _)
    piv.withColumn("chi2", when(ok, num / cFac))
      .select(col("n"), col("chi2"))
  }

  /** One-knot hinge (piecewise-linear) trend per key: OLS of
    * `y = b0 + b1·t + b2·(t−k)₊` with the knot at k = ⌊n/2⌋ — b2 is the
    * SLOPE CHANGE at the midpoint, the continuous cousin of the [[chow]]
    * break F. The 3×3 normal equations are solved by Cramer's rule in a
    * fixed expression order; the X'X determinant is pure INTEGER moment
    * algebra (t and (t−k)₊ are integers), so the singularity guard
    * `det > 0` is bit-exact cross-engine. One window pass + one aggregate.
    * Output: (keys..., n, b0, b1, b2); nulls when n < 4 or det = 0.
    */
  def hingeTrend(df: DataFrame, keyCols: Seq[String], tsCol: String,
                 valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val win = Window.partitionBy(keys: _*).orderBy(col(tsCol))
    val winAll = Window.partitionBy(keys: _*)
    val y = col(valCol).cast("double")
    val staged = df.filter(y.isNotNull)
      .withColumn("_rn", row_number().over(win))
      .withColumn("_nn", count(lit(1)).over(winAll))
      .withColumn("_t", (col("_rn") - 1).cast("double"))
      .withColumn("_k", floor(col("_nn").cast("double") / 2.0))
      .withColumn("_h", greatest(col("_t") - col("_k"), lit(0.0)))
    val agged = staged.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"),
        sum(col("_t")).as("_s1"), sum(col("_h")).as("_s2"),
        sum(col("_t") * col("_t")).as("_s11"),
        sum(col("_t") * col("_h")).as("_s12"),
        sum(col("_h") * col("_h")).as("_s22"),
        sum(y).as("_sy"), sum(col("_t") * y).as("_s1y"),
        sum(col("_h") * y).as("_s2y"))
    val nd = col("n").cast("double")
    // X'X = [[n, s1, s2], [s1, s11, s12], [s2, s12, s22]] — Cramer
    def det3(a: Column, b: Column, c: Column, d: Column, e: Column,
             f: Column, g: Column, h: Column, i: Column): Column =
      a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)
    val dA = det3(nd, col("_s1"), col("_s2"),
      col("_s1"), col("_s11"), col("_s12"),
      col("_s2"), col("_s12"), col("_s22"))
    val d0 = det3(col("_sy"), col("_s1"), col("_s2"),
      col("_s1y"), col("_s11"), col("_s12"),
      col("_s2y"), col("_s12"), col("_s22"))
    val d1 = det3(nd, col("_sy"), col("_s2"),
      col("_s1"), col("_s1y"), col("_s12"),
      col("_s2"), col("_s2y"), col("_s22"))
    val d2 = det3(nd, col("_s1"), col("_sy"),
      col("_s1"), col("_s11"), col("_s1y"),
      col("_s2"), col("_s12"), col("_s2y"))
    val ok = col("n") >= 4 && dA > 0
    agged
      .withColumn("b0", when(ok, d0 / dA))
      .withColumn("b1", when(ok, d1 / dA))
      .withColumn("b2", when(ok, d2 / dA))
      .select((keys :+ col("n") :+ col("b0") :+ col("b1") :+ col("b2")): _*)
  }

  /** Blomqvist's medial correlation β (Blomqvist 1950): quadrant sign
    * concordance around the component medians —
    * `β = (n_conc − n_disc)/(n_conc + n_disc)` over points off both
    * medians. Medians are the explicit lower-middle order statistic
    * ([[moodMedian]] locator) per coordinate, so tie exclusion is
    * bit-exact on integer-valued pairs. Detects monotone association with
    * quadrant-level robustness (a one-number cousin of Kendall at O(n)
    * instead of O(n²)). Output: one row (n, n_used, beta).
    */
  def blomqvistBeta(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val base = df.filter(x.isNotNull && y.isNotNull)
      .select(x.as("x"), y.as("y"))
    def med(c: String) = base
      .withColumn("_rn", row_number().over(Window.orderBy(col(c))))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy()))
      .filter(Bounded.gate(col("_n"), Bounded.DefaultMaxPoints,
          "blomqvistBeta") &&
        col("_rn") ===
        floor((col("_n") + 1L).cast("double") / 2.0).cast("long"))
      .select(col(c).as(s"med_$c"))
    val agged = base.crossJoin(broadcast(med("x"))).crossJoin(broadcast(med("y")))
      .agg(count(lit(1)).as("n"),
        sum(when((col("x") > col("med_x") && col("y") > col("med_y")) ||
          (col("x") < col("med_x") && col("y") < col("med_y")), 1L)
          .otherwise(0L)).as("_conc"),
        sum(when((col("x") > col("med_x") && col("y") < col("med_y")) ||
          (col("x") < col("med_x") && col("y") > col("med_y")), 1L)
          .otherwise(0L)).as("_disc"))
    agged
      .withColumn("n_used", col("_conc") + col("_disc"))
      .withColumn("beta", when(col("n_used") > 0,
        (col("_conc") - col("_disc")).cast("double") /
          col("n_used").cast("double")))
      .select(col("n"), col("n_used"), col("beta"))
  }

  /** Cramér's V association for an r×c contingency of two categorical
    * columns (Cramér 1946), with the Bergsma bias-corrected variant:
    * `V = √(χ²/(n·(min(r,c)−1)))`;
    * `Ṽ = √(φ̃²/min(r̃−1, c̃−1))`, φ̃² = max(0, χ²/n − (r−1)(c−1)/(n−1)),
    * r̃ = r − (r−1)²/(n−1), c̃ likewise. χ² from integer cell counts and
    * rational expectations via an (a, b) cell aggregation + two marginal
    * joins — category cardinality bounds everything after the first
    * shuffle ([[Anomaly.contingency]] shape). Output: one row
    * (n, r_levels, c_levels, chi2, v, v_corrected).
    */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("_a"), col(bCol).as("_b"))
      .agg(count(lit(1)).as("_o"))
    val ra = cells.groupBy(col("_a")).agg(sum(col("_o")).as("_na"))
    val cb = cells.groupBy(col("_b")).agg(sum(col("_o")).as("_nb"))
    val tot = cells.agg(sum(col("_o")).as("_n"),
      countDistinct(col("_a")).as("r_levels"),
      countDistinct(col("_b")).as("c_levels"))
    // complete the r x c grid so ZERO cells contribute (0 - E)^2/E too
    val joined = ra.crossJoin(cb)
      .join(cells, Seq("_a", "_b"), "left")
      .withColumn("_oc", coalesce(col("_o"), lit(0L)))
      .crossJoin(tot)
    val e = col("_na").cast("double") * col("_nb").cast("double") /
      col("_n").cast("double")
    val chi2 = joined
      .agg(sum((col("_oc").cast("double") - e) * (col("_oc").cast("double") - e) / e)
        .as("chi2"),
        max(col("_n")).as("n"), max(col("r_levels")).as("r_levels"),
        max(col("c_levels")).as("c_levels"))
    val n = col("n").cast("double")
    val rl = col("r_levels").cast("double")
    val cl = col("c_levels").cast("double")
    val phi2 = col("chi2") / n
    val phiT = greatest(lit(0.0),
      phi2 - (rl - 1) * (cl - 1) / (n - 1))
    val rT = rl - (rl - 1) * (rl - 1) / (n - 1)
    val cT = cl - (cl - 1) * (cl - 1) / (n - 1)
    chi2
      .withColumn("v", when(least(rl, cl) > 1,
        sqrt(phi2 / (least(rl, cl) - 1))))
      .withColumn("v_corrected", when(least(rT, cT) > 1,
        sqrt(phiT / (least(rT, cT) - 1))))
      .select(col("n"), col("r_levels"), col("c_levels"), col("chi2"),
        col("v"), col("v_corrected"))
  }

  /** Goodman–Kruskal γ and Somers' D from one pairwise concordance pass
    * (Goodman & Kruskal 1954; Somers 1962): over all point pairs,
    * C = concordant, D = discordant, T_y = ties on y only;
    * `γ = (C−D)/(C+D)` (ignores all ties) and
    * `D_yx = (C−D)/(C+D+T_y)` (penalizes response ties — the ordinal
    * regression asymmetry). O(n²) pair join: aggregated-grain input only
    * (the [[jonckheere]] bound); integer-valued pairs keep every count
    * exact. Output: one row (n, n_conc, n_disc, gamma, somers_d).
    */
  def ordinalAssociation(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
    val a = base.select(col("x").as("xa"), col("y").as("ya"))
    val b = base.select(col("x").as("xb"), col("y").as("yb"))
    val agged = a.crossJoin(b)
      .agg((count(lit(1))).as("_np2"),
        sum(when((col("xa") < col("xb") && col("ya") < col("yb")) ||
          (col("xa") > col("xb") && col("ya") > col("yb")), 1L)
          .otherwise(0L)).as("_c2"),
        sum(when((col("xa") < col("xb") && col("ya") > col("yb")) ||
          (col("xa") > col("xb") && col("ya") < col("yb")), 1L)
          .otherwise(0L)).as("_d2"),
        sum(when(col("xa") =!= col("xb") && col("ya") === col("yb"), 1L)
          .otherwise(0L)).as("_ty2"))
    // every unordered pair counted twice in the self-join; halve exactly
    val agg2 = agged.select(
      (sqrt(col("_np2").cast("double")).cast("long")).as("n"),
      (col("_c2") / 2L).cast("long").as("n_conc"),
      (col("_d2") / 2L).cast("long").as("n_disc"),
      (col("_ty2") / 2L).cast("long").as("_ty"))
    agg2
      .withColumn("gamma", when(col("n_conc") + col("n_disc") > 0,
        (col("n_conc") - col("n_disc")).cast("double") /
          (col("n_conc") + col("n_disc")).cast("double")))
      .withColumn("somers_d",
        when(col("n_conc") + col("n_disc") + col("_ty") > 0,
          (col("n_conc") - col("n_disc")).cast("double") /
            (col("n_conc") + col("n_disc") + col("_ty")).cast("double")))
      .select(col("n"), col("n_conc"), col("n_disc"), col("gamma"),
        col("somers_d"))
  }

  /** Theil's uncertainty coefficient U(x|y) over a LITERAL x domain
    * (Theil 1970): `U = (H(x) − H(x|y)) / H(x)` with
    * `H(x|y) = Σ_y p(y)·H(x | y)` — the share of x's entropy explained by
    * knowing y, the asymmetric information-theoretic cousin of
    * [[cramersV]]. Inner entropies are fixed-order folds over the literal
    * x list; the outer Σ_y is a float aggregation over the y grain
    * (bounded category cardinality — the q256 entropy discipline).
    * Output: one row (n, h_x, h_x_given_y, u).
    */
  def theilU(df: DataFrame, xCol: String, xDomain: Seq[String],
             yCol: String): DataFrame = {
    require(xDomain.size >= 2)
    val aggs = xDomain.zipWithIndex.map { case (v, i) =>
      sum(when(col(xCol).cast("string") === v, 1L).otherwise(0L)).as(s"_x$i")
    } :+ count(lit(1)).as("_ny")
    val perY = df
      .filter(col(xCol).cast("string").isin(xDomain.map(a => a: Any): _*))
      .groupBy(col(yCol)).agg(aggs.head, aggs.tail: _*)
    def entropy(counts: Seq[Column], tot: Column): Column =
      counts.map { c =>
        val p = c.cast("double") / tot.cast("double")
        when(c > 0, -p * log(p)).otherwise(lit(0.0))
      }.reduce(_ + _)
    val hGiven = perY
      .withColumn("_hy", entropy(xDomain.indices.map(i => col(s"_x$i")),
        col("_ny")))
      .agg(sum(col("_ny")).as("n"),
        xDomain.indices.map(i => sum(col(s"_x$i")).as(s"_tx$i")) :+
          sum(col("_ny").cast("double") * col("_hy")).as("_sumNh"): _*)
    val n = col("n").cast("double")
    val hx = entropy(xDomain.indices.map(i => col(s"_tx$i")), col("n"))
    hGiven
      .withColumn("h_x", hx)
      .withColumn("h_x_given_y", col("_sumNh") / n)
      .withColumn("u", when(col("h_x") > 0,
        (col("h_x") - col("h_x_given_y")) / col("h_x")))
      .select(col("n"), col("h_x"), col("h_x_given_y"), col("u"))
  }

  /** D'Agostino K² omnibus normality test (D'Agostino, Belanger &
    * D'Agostino 1990): the skewness z (Johnson SU transform) and the
    * Anscombe–Glynn kurtosis z, combined as `K² = Z₁² + Z₂²` (χ²₂
    * reference). Every constant is a closed-form function of n, every
    * step elementary (√, ln, ∛ — cross-engine ulp-identical in practice),
    * moments from the [[jarqueBera]] raw power sums. The small-n-calibrated
    * upgrade of JB. Output: (keys..., n, z_skew, z_kurt, k2); null when
    * n < 9 (the kurtosis transform needs n > 8) or m2 ≤ 0.
    */
  def dagostinoK2(df: DataFrame, groupCols: Seq[String],
                  valCol: String): DataFrame = {
    val keys = groupCols.map(col)
    val x = col(valCol).cast("double")
    val agged = df.filter(x.isNotNull).groupBy(keys: _*)
      .agg(count(lit(1)).as("nl"), sum(x).as("_s1"),
        sum(x * x).as("_s2"), sum(x * x * x).as("_s3"),
        sum(x * x * x * x).as("_s4"))
    val n = col("nl").cast("double")
    val mu = col("_s1") / n
    val m2 = col("_s2") / n - mu * mu
    val m3 = col("_s3") / n - lit(3.0) * mu * (col("_s2") / n) +
      lit(2.0) * mu * mu * mu
    val m4 = col("_s4") / n - lit(4.0) * mu * (col("_s3") / n) +
      lit(6.0) * mu * mu * (col("_s2") / n) - lit(3.0) * mu * mu * mu * mu
    val g1 = m3 / sqrt(m2 * m2 * m2)
    val g2 = m4 / (m2 * m2) - lit(3.0)
    // skewness: Johnson SU
    val yv = g1 * sqrt((n + 1) * (n + 3) / (lit(6.0) * (n - 2)))
    val b2 = lit(3.0) * (n * n + lit(27.0) * n - lit(70.0)) * (n + 1) * (n + 3) /
      ((n - 2) * (n + 5) * (n + 7) * (n + 9))
    val w2 = sqrt(lit(2.0) * (b2 - 1)) - lit(1.0)
    val delta = lit(1.0) / sqrt(log(sqrt(w2)))
    val alpha = sqrt(lit(2.0) / (w2 - 1))
    val z1 = delta * log(yv / alpha + sqrt((yv / alpha) * (yv / alpha) + 1))
    // kurtosis: Anscombe-Glynn
    val eg2 = lit(-6.0) / (n + 1)
    val vg2 = lit(24.0) * n * (n - 2) * (n - 3) /
      ((n + 1) * (n + 1) * (n + 3) * (n + 5))
    val xk = (g2 - eg2) / sqrt(vg2)
    val beta = lit(6.0) * (n * n - lit(5.0) * n + lit(2.0)) /
      ((n + 7) * (n + 9)) *
      sqrt(lit(6.0) * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3)))
    val aa = lit(6.0) + lit(8.0) / beta *
      (lit(2.0) / beta + sqrt(lit(1.0) + lit(4.0) / (beta * beta)))
    val z2 = (lit(1.0) - lit(2.0) / (lit(9.0) * aa) -
      cbrt((lit(1.0) - lit(2.0) / aa) /
        (lit(1.0) + xk * sqrt(lit(2.0) / (aa - 4))))) /
      sqrt(lit(2.0) / (lit(9.0) * aa))
    val ok = col("nl") >= 9 && m2 > 0
    agged
      .withColumn("z_skew", when(ok, z1))
      .withColumn("z_kurt", when(ok, z2))
      .withColumn("k2", when(ok, col("z_skew") * col("z_skew") +
        col("z_kurt") * col("z_kurt")))
      .withColumn("n", col("nl"))
      .select((keys :+ col("n") :+ col("z_skew") :+ col("z_kurt") :+
        col("k2")): _*)
  }

  /** Linear-weighted Cohen's kappa for ORDINAL categories (Cohen 1968):
    * with disagreement weights v_ij = |i−j| over the literal ordered
    * level list, `κ_w = 1 − Σv·O / Σv·E` (O observed cells, E = row·col/n
    * chance cells). Integer observed counts and rational expectations —
    * bit-exact up to the final division. Reduces to plain kappa for
    * 2-level inputs. Output: one row (n, kappa_w).
    */
  def weightedKappa(df: DataFrame, aCol: String, bCol: String,
                    levels: Seq[String]): DataFrame = {
    require(levels.size >= 2)
    val k = levels.size
    val aggs = (for { i <- 0 until k; j <- 0 until k } yield
      sum(when(col(aCol).cast("string") === levels(i) &&
        col(bCol).cast("string") === levels(j), 1L).otherwise(0L))
        .as(s"_o_${i}_$j")) :+ count(lit(1)).as("n")
    val piv = df
      .filter(col(aCol).cast("string").isin(levels.map(a => a: Any): _*) &&
        col(bCol).cast("string").isin(levels.map(a => a: Any): _*))
      .agg(aggs.head, aggs.tail: _*)
    def o(i: Int, j: Int) = col(s"_o_${i}_$j")
    val withM = (0 until k).foldLeft(piv) { (p, i) =>
      p.withColumn(s"_ra_$i", (0 until k).map(j => o(i, j)).reduce(_ + _))
        .withColumn(s"_cb_$i", (0 until k).map(j => o(j, i)).reduce(_ + _))
    }
    val n = col("n").cast("double")
    val vO = (for { i <- 0 until k; j <- 0 until k if i != j } yield
      lit(math.abs(i - j).toDouble) * o(i, j).cast("double")).reduce(_ + _)
    val vE = (for { i <- 0 until k; j <- 0 until k if i != j } yield
      lit(math.abs(i - j).toDouble) * col(s"_ra_$i").cast("double") *
        col(s"_cb_$j").cast("double") / n).reduce(_ + _)
    withM
      .withColumn("kappa_w", when(col("n") > 0 && vE > 0,
        lit(1.0) - vO / vE))
      .select(col("n"), col("kappa_w"))
  }

  /** Sen's slope with the rank-based nonparametric CI (Sen 1968; Gilbert
    * 1987): all pairwise slopes (y_j−y_i)/(x_j−x_i) over the 0-based time
    * index, the point estimate at the explicit LOWER-MIDDLE rank, and the
    * CI at ranks ⌈(N'−C)/2⌉ and ⌈(N'+C)/2 + 1⌉ (capped to [1, N']) with
    * `C = 1.96·√(n(n−1)(2n+5)/18)`. Slopes of integer-valued series are
    * correctly-rounded rationals — equal rationals give IDENTICAL doubles
    * in both engines, so the (slope, i, j) rank order is deterministic.
    * O(n²) pairs per key: aggregated-grain input ([[jonckheere]] bound).
    * Output: (keys..., n, n_pairs, slope, ci_lo, ci_hi).
    */
  def senSlopeCI(df: DataFrame, keyCols: Seq[String], tsCol: String,
                 valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val win = Window.partitionBy(keys: _*).orderBy(col(tsCol))
    val v = col(valCol).cast("double")
    val staged = df.filter(v.isNotNull)
      .withColumn("_i", (row_number().over(win) - 1).cast("double"))
      .select((keys :+ col("_i") :+ v.as("_v")): _*)
    val b = staged.select((keyCols.map(k => col(k).as(s"_b_$k")) :+
      col("_i").as("_j") :+ col("_v").as("_w")): _*)
    val cond = keyCols.map(k => col(k) === col(s"_b_$k"))
      .foldLeft(col("_i") < col("_j"))(_ && _)
    val slopes = staged.join(b, cond)
      .select((keys :+ col("_i") :+ col("_j") :+
        ((col("_w") - col("_v")) / (col("_j") - col("_i"))).as("_s")): _*)
    val wRank = Window.partitionBy(keys: _*)
      .orderBy(col("_s"), col("_i"), col("_j"))
    val wAll = Window.partitionBy(keys: _*)
    val ranked = slopes
      .withColumn("_rn", row_number().over(wRank))
      .withColumn("_np", count(lit(1)).over(wAll))
    val nEff = (lit(1.0) + sqrt(lit(1.0) + lit(8.0) *
      col("_np").cast("double"))) / 2.0 // n from N' = n(n-1)/2
    val cBand = lit(1.96) * sqrt(nEff * (nEff - 1) *
      (nEff * 2 + 5) / lit(18.0))
    val npd = col("_np").cast("double")
    val withIdx = ranked
      .withColumn("_rmed", floor((npd + 1.0) / 2.0).cast("long"))
      .withColumn("_rlo", greatest(lit(1L),
        ceil((npd - cBand) / 2.0).cast("long")))
      .withColumn("_rhi", least(col("_np"),
        ceil((npd + cBand) / 2.0 + 1.0).cast("long")))
    withIdx.groupBy(keys: _*)
      .agg(max(col("_np")).as("n_pairs"),
        max(when(col("_rn") === col("_rmed"), col("_s"))).as("slope"),
        max(when(col("_rn") === col("_rlo"), col("_s"))).as("ci_lo"),
        max(when(col("_rn") === col("_rhi"), col("_s"))).as("ci_hi"))
      .withColumn("n", ((lit(1.0) + sqrt(lit(1.0) + lit(8.0) *
        col("n_pairs").cast("double"))) / 2.0).cast("long"))
      .select((keys :+ col("n") :+ col("n_pairs") :+ col("slope") :+
        col("ci_lo") :+ col("ci_hi")): _*)
  }

  /** Quantile-based robust shape per key: Bowley quartile skewness
    * `(Q3 + Q1 − 2·Q2)/(Q3 − Q1)` and Moors octile kurtosis
    * `((E7−E5) + (E3−E1))/(E6 − E2)` (Moors 1988), all order statistics
    * picked at the explicit rank `⌊(n−1)·p⌋ + 1` (lower-value convention)
    * so every pick is an actual data value — never an interpolating
    * builtin whose even-n behavior differs between engines. One window
    * pass + one conditional-max aggregate. Output:
    * (keys..., n, q1, median, q3, bowley_skew, moors_kurt).
    */
  def robustShape(df: DataFrame, keyCols: Seq[String],
                  valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val v = col(valCol).cast("double")
    val win = Window.partitionBy(keys: _*).orderBy(v, monotonically_increasing_id())
    val winAll = Window.partitionBy(keys: _*)
    val staged = df.filter(v.isNotNull)
      .withColumn("_rn", row_number().over(win))
      .withColumn("_n", count(lit(1)).over(winAll))
    def idx(p: Double) =
      floor((col("_n") - 1L).cast("double") * lit(p)).cast("long") + 1L
    val octs = (1 to 7).map(i => i / 8.0)
    val aggs = Seq(max(col("_n")).as("n")) ++ octs.zipWithIndex.map {
      case (p, i) =>
        max(when(col("_rn") === idx(p), v)).as(s"_e${i + 1}")
    }
    val agged = staged.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    val (q1, q2, q3) = (col("_e2"), col("_e4"), col("_e6"))
    agged
      .withColumn("bowley_skew", when(q3 - q1 > 0,
        (q3 + q1 - lit(2.0) * q2) / (q3 - q1)))
      .withColumn("moors_kurt", when(col("_e6") - col("_e2") > 0,
        ((col("_e7") - col("_e5")) + (col("_e3") - col("_e1"))) /
          (col("_e6") - col("_e2"))))
      .select((keys :+ col("n") :+ q1.as("q1") :+ q2.as("median") :+
        q3.as("q3") :+ col("bowley_skew") :+ col("moors_kurt")): _*)
  }

  /** Generalized-Pareto tail fit by method of moments on threshold
    * excesses (Hosking & Wallis 1987): with excess mean m and sample
    * variance s², `ξ̂ = (1 − m²/s²)/2` and `σ̂ = m·(m²/s² + 1)/2`.
    * ξ̂ > 0 ⇒ heavy (Pareto-like) tail, ξ̂ < 0 ⇒ bounded tail. The caller
    * supplies the already-thresholded excess column (keep the exceedance
    * rule integer-exact — e.g. `n·cnt > Σcnt` cross-multiplication).
    * One aggregate pass. Output: (keys..., n_exceed, xi, sigma); null
    * when n < 3 or s² ≤ 0.
    */
  def gpdFit(df: DataFrame, keyCols: Seq[String],
             excessCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val x = col(excessCol).cast("double")
    val agged = df.filter(x.isNotNull).groupBy(keys: _*)
      .agg(count(lit(1)).as("n_exceed"), sum(x).as("_s"),
        sum(x * x).as("_q"))
    val n = col("n_exceed").cast("double")
    val m = col("_s") / n
    val s2 = (col("_q") - col("_s") * col("_s") / n) / (n - 1)
    val ratio = m * m / s2
    val ok = col("n_exceed") >= 3 && s2 > 0 && m > 0
    agged
      .withColumn("xi", when(ok, (lit(1.0) - ratio) / 2.0))
      .withColumn("sigma", when(ok, m * (ratio + 1) / 2.0))
      .select((keys :+ col("n_exceed") :+ col("xi") :+ col("sigma")): _*)
  }

  /** Buishand range test per key (Buishand 1982): adjusted partial sums
    * `S_t = Σ_{i≤t}(x_i − x̄)` in time order, range `R = max S − min S`,
    * reported raw, scaled by the population sd (`R/σ`), and rescaled by
    * √n (`R/(σ√n)` — the value compared against Buishand's critical
    * table). The cumulative-sum cousin of [[kpss]]/q360's SNHT: sensitive
    * to a single mean shift anywhere in the series. Ordered cumsum ⇒
    * identical accumulation order cross-engine. Output:
    * (keys..., n, r_range, r_scaled); null when σ = 0.
    */
  def buishandRange(df: DataFrame, keyCols: Seq[String], tsCol: String,
                    valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val winAll = Window.partitionBy(keys: _*)
    val winCum = Window.partitionBy(keys: _*).orderBy(col(tsCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val v = col(valCol).cast("double")
    val staged = df.filter(v.isNotNull)
      .withColumn("_e", v - avg(v).over(winAll))
      .withColumn("_s", sum(col("_e")).over(winCum))
    staged.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), max(col("_s")).as("_smax"),
        min(col("_s")).as("_smin"), sum(col("_e") * col("_e")).as("_see"))
      .withColumn("_sd", sqrt(col("_see") / col("n").cast("double")))
      .withColumn("r_range", col("_smax") - col("_smin"))
      .withColumn("r_scaled", when(col("_sd") > 0,
        col("r_range") / col("_sd") / sqrt(col("n").cast("double"))))
      .select((keys :+ col("n") :+ col("r_range") :+ col("r_scaled")): _*)
  }

  /** Von Neumann ratio per key (von Neumann 1941):
    * `VN = Σ(x_{t+1} − x_t)² / Σ(x − x̄)²` — ≈ 2 for white noise, → 0
    * under strong trend/positive autocorrelation, → 4 under alternation.
    * The cheapest one-number randomness screen (the [[coxStuart]]
    * companion on the magnitude side). Output: (keys..., n, vn); null
    * when n < 2 or zero variance.
    */
  def vonNeumann(df: DataFrame, keyCols: Seq[String], tsCol: String,
                 valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val win = Window.partitionBy(keys: _*).orderBy(col(tsCol))
    val winAll = Window.partitionBy(keys: _*)
    val v = col(valCol).cast("double")
    val staged = df.filter(v.isNotNull)
      .withColumn("_d", v - lag(v, 1).over(win))
      .withColumn("_e", v - avg(v).over(winAll))
    staged.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), sum(col("_d") * col("_d")).as("_sdd"),
        sum(col("_e") * col("_e")).as("_see"))
      .withColumn("vn", when(col("n") >= 2 && col("_see") > 0,
        col("_sdd") / col("_see")))
      .select((keys :+ col("n") :+ col("vn")): _*)
  }

  /** Taylor's power law (fluctuation scaling, Taylor 1961): across units,
    * OLS of `ln(var)` on `ln(mean)` of each unit's series —
    * `var ≈ a·mean^b`; b ≈ 1 is Poisson-like, b → 2 is synchronized /
    * bursty. The one-number "how does volatility grow with volume"
    * diagnostic for traffic streams. Per-unit moments are one aggregate
    * (integer-exact on counts); the cross-unit OLS a second. Units with
    * mean ≤ 0, var ≤ 0, or n < 2 are dropped. Output: one row
    * (n_units, intercept_ln_a, slope_b).
    */
  def taylorLaw(df: DataFrame, unitCols: Seq[String],
                valCol: String): DataFrame = {
    val units = unitCols.map(col)
    val v = col(valCol).cast("double")
    val perUnit = df.filter(v.isNotNull).groupBy(units: _*)
      .agg(count(lit(1)).as("_n"), sum(v).as("_s"), sum(v * v).as("_q"))
      .withColumn("_m", col("_s") / col("_n").cast("double"))
      .withColumn("_v", (col("_q") - col("_s") * col("_s") /
        col("_n").cast("double")) / (col("_n").cast("double") - 1))
      .filter(col("_n") >= 2 && col("_m") > 0 && col("_v") > 0)
      .select(log(col("_m")).as("_x"), log(col("_v")).as("_y"))
    perUnit.agg(count(lit(1)).as("n_units"), sum(col("_x")).as("_sx"),
        sum(col("_y")).as("_sy"), sum(col("_x") * col("_x")).as("_sxx"),
        sum(col("_x") * col("_y")).as("_sxy"))
      .withColumn("_nd", col("n_units").cast("double"))
      .withColumn("_den", col("_nd") * col("_sxx") - col("_sx") * col("_sx"))
      .withColumn("slope_b", when(col("_den") > 0,
        (col("_nd") * col("_sxy") - col("_sx") * col("_sy")) / col("_den")))
      .withColumn("intercept_ln_a",
        col("_sy") / col("_nd") - col("slope_b") * (col("_sx") / col("_nd")))
      .select(col("n_units"), col("intercept_ln_a"), col("slope_b"))
  }

  /** Lorenz asymmetry coefficient (Damgaard & Weiner 2000, no-
    * interpolation convention documented here): with units strictly below
    * the mean (`x·n < T` — integer cross-multiplication on count data),
    * `S = F(μ) + L(μ)` where F = unit share below the mean and L = mass
    * share below the mean. S < 1 ⇒ inequality driven by many small units;
    * S > 1 ⇒ by a few giants. The directional companion to the Gini
    * (q150) / Lorenz curve (q299). Output: one row
    * (n, f_below, l_below, s_asym).
    */
  def lorenzAsymmetry(df: DataFrame, valCol: String): DataFrame = {
    val v = col(valCol).cast("long")
    df.filter(v.isNotNull)
      .select(v.as("_x"))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("_t", sum(col("_x")).over(Window.partitionBy()))
      .agg(max(col("_n")).as("n"), max(col("_t")).as("_tt"),
        sum(when(col("_x") * col("_n") < col("_t"), 1L).otherwise(0L))
          .as("_nb"),
        sum(when(col("_x") * col("_n") < col("_t"), col("_x"))
          .otherwise(lit(0L))).as("_mb"))
      .withColumn("f_below",
        col("_nb").cast("double") / col("n").cast("double"))
      .withColumn("l_below",
        col("_mb").cast("double") / col("_tt").cast("double"))
      .withColumn("s_asym", col("f_below") + col("l_below"))
      .select(col("n"), col("f_below"), col("l_below"), col("s_asym"))
  }

  /** Kendall's coefficient of concordance W with tie correction (Kendall
    * & Babington Smith 1939): m raters (LITERAL list) midrank n items;
    * `W = 12·Σ(R_j − m(n+1)/2)² / (m²(n³−n) − m·ΣT)` with
    * `T = Σ(t³−t)` per rater over its tie groups. W = 1 ⇔ all raters
    * agree on the full ordering; `χ² = m(n−1)W`. Items missing any rater
    * are dropped (complete-block discipline). Output: one row
    * (n_items, m, w, chi2).
    */
  def kendallW(df: DataFrame, itemCol: String, raterCol: String,
               raters: Seq[String], valCol: String): DataFrame = {
    require(raters.size >= 2)
    val m = raters.size
    val v = col(valCol).cast("double")
    val base = df.filter(v.isNotNull &&
      col(raterCol).cast("string").isin(raters.map(a => a: Any): _*))
      .withColumn("_cnt", count(lit(1)).over(
        Window.partitionBy(col(itemCol))))
      .filter(col("_cnt") === m.toLong)
    val wR = Window.partitionBy(col(raterCol)).orderBy(v)
    val tiePart = Window.partitionBy(col(raterCol), v)
    val ranked = base
      .withColumn("_mid", rank().over(wR).cast("double") +
        (count(lit(1)).over(tiePart) - 1).cast("double") / 2)
      .withColumn("_t", count(lit(1)).over(tiePart))
    val perItem = ranked.groupBy(col(itemCol))
      .agg(sum(col("_mid")).as("_rj"))
    val ties = ranked
      .agg(sum((col("_t") * col("_t") * col("_t") - col("_t")).cast("double") /
        col("_t").cast("double")).as("_tsum"))
    val agged = perItem
      .withColumn("_n", count(lit(1)).over(Window.partitionBy()))
      .agg(max(col("_n")).as("n_items"),
        sum((col("_rj") - lit(m.toDouble) *
          (col("_n").cast("double") + 1) / 2) *
          (col("_rj") - lit(m.toDouble) *
            (col("_n").cast("double") + 1) / 2)).as("_ss"))
      .crossJoin(ties)
    val nd = col("n_items").cast("double")
    val denom = lit((m * m).toDouble) * (nd * nd * nd - nd) -
      lit(m.toDouble) * col("_tsum")
    agged
      .withColumn("m", lit(m.toLong))
      .withColumn("w", when(denom > 0, lit(12.0) * col("_ss") / denom))
      .withColumn("chi2", when(denom > 0,
        lit(m.toDouble) * (nd - 1) * col("w")))
      .select(col("n_items"), col("m"), col("w"), col("chi2"))
  }

  /** Fleiss' kappa for m raters × binary category (Fleiss 1971): per item
    * with n_1 positive votes of m, `P_i = (n_1² + (m−n_1)² − m)/(m(m−1))`,
    * `κ = (P̄ − P_e)/(1 − P_e)` with `P_e = π² + (1−π)²` from the overall
    * positive share π. All-integer vote counts ⇒ exact to the final
    * divisions. Input: one row per (item) with `posCol` = positive votes
    * and the constant rater count m. Output: one row
    * (n_items, m, p_bar, p_e, kappa).
    */
  def fleissKappa(df: DataFrame, posCol: String, m: Int): DataFrame = {
    require(m >= 2)
    val pos = col(posCol).cast("double")
    val md = m.toDouble
    val pi = (pos * pos + (lit(md) - pos) * (lit(md) - pos) - lit(md)) /
      lit(md * (md - 1))
    val agged = df.agg(count(lit(1)).as("n_items"),
      sum(pi).as("_sp"), sum(pos).as("_votes"))
    val n = col("n_items").cast("double")
    val pBar = col("_sp") / n
    val share = col("_votes") / (n * lit(md))
    val pe = share * share + (lit(1.0) - share) * (lit(1.0) - share)
    agged
      .withColumn("m", lit(m.toLong))
      .withColumn("p_bar", pBar)
      .withColumn("p_e", pe)
      .withColumn("kappa", when(lit(1.0) - pe > 0,
        (pBar - pe) / (lit(1.0) - pe)))
      .select(col("n_items"), col("m"), col("p_bar"), col("p_e"),
        col("kappa"))
  }

  /** Gwet's AC1 for the same m-rater binary design (Gwet 2008): identical
    * observed agreement P̄ but the chance term `P_e = 2π(1−π)` — stable
    * where Fleiss' kappa collapses under prevalence skew (the "kappa
    * paradox"); report both side by side. Output: one row
    * (n_items, m, p_bar, p_e_gwet, ac1).
    */
  def gwetAc1(df: DataFrame, posCol: String, m: Int): DataFrame = {
    require(m >= 2)
    val pos = col(posCol).cast("double")
    val md = m.toDouble
    val pi = (pos * pos + (lit(md) - pos) * (lit(md) - pos) - lit(md)) /
      lit(md * (md - 1))
    val agged = df.agg(count(lit(1)).as("n_items"),
      sum(pi).as("_sp"), sum(pos).as("_votes"))
    val n = col("n_items").cast("double")
    val pBar = col("_sp") / n
    val share = col("_votes") / (n * lit(md))
    val pe = lit(2.0) * share * (lit(1.0) - share)
    agged
      .withColumn("m", lit(m.toLong))
      .withColumn("p_bar", pBar)
      .withColumn("p_e_gwet", pe)
      .withColumn("ac1", when(lit(1.0) - pe > 0,
        (pBar - pe) / (lit(1.0) - pe)))
      .select(col("n_items"), col("m"), col("p_bar"), col("p_e_gwet"),
        col("ac1"))
  }

  /** CUSUM-of-squares variance-change statistic (Brown, Durbin & Evans
    * 1975): `C_t = Σ_{i≤t} x²_i / Σ x²`, `stat = max_t |C_t − t/n|`, with
    * the argmax timestamp under the (rounded stat desc, ts) rank rule —
    * the VARIANCE sibling of the mean-shift family ([[buishandRange]],
    * q360 SNHT). Ordered cumsum ⇒ identical accumulation. Output:
    * (keys..., n, stat, split_ts).
    */
  def cusumSquares(df: DataFrame, keyCols: Seq[String], tsCol: String,
                   valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val winAll = Window.partitionBy(keys: _*)
    val winCum = Window.partitionBy(keys: _*).orderBy(col(tsCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val winOrd = Window.partitionBy(keys: _*).orderBy(col(tsCol))
    val v = col(valCol).cast("double")
    val staged = df.filter(v.isNotNull)
      .withColumn("_q", v * v)
      .withColumn("_cq", sum(col("_q")).over(winCum))
      .withColumn("_tq", sum(col("_q")).over(winAll))
      .withColumn("_i", row_number().over(winOrd))
      .withColumn("_n", count(lit(1)).over(winAll))
      .filter(col("_tq") > 0)
      .withColumn("_d", abs(col("_cq") / col("_tq") -
        col("_i").cast("double") / col("_n").cast("double")))
      .withColumn("_dr", signum(col("_d")) *
        floor(abs(col("_d")) * 1e6 + 0.5) / 1e6)
    val wPick = Window.partitionBy(keys: _*)
      .orderBy(col("_dr").desc, col(tsCol))
    staged.withColumn("_rk", row_number().over(wPick))
      .filter(col("_rk") === 1)
      .select((keys :+ col("_n").as("n") :+ col("_dr").as("stat") :+
        col(tsCol).as("split_ts")): _*)
  }

  /** Exact paired sign test (two-sided): with b = positive and c =
    * negative differences (zeros dropped), m = b + c,
    * `p = min(1, 2·Σ_{k≤min(b,c)} C(m,k)·2⁻ᵐ)` — binomial tail via the
    * same ORDERED ln-factorial cumsum as [[fisherExact]] (no shuffled
    * float reduction). The distribution-free companion of
    * [[wilcoxonSignedRank]] when even ranks are suspect. Output: one row
    * (n_pairs, b, c, p_two_sided).
    */
  def signTestExact(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val d = col(xCol).cast("double") - col(yCol).cast("double")
    val counts = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(d > 0, 1L).otherwise(0L)).as("b"),
        sum(when(d < 0, 1L).otherwise(0L)).as("c"))
      .withColumn("_m", col("b") + col("c"))
      .withColumn("_kmax", least(col("b"), col("c")))
    val lf = counts.select(col("_m"),
        explode(sequence(lit(0L),
          when(Bounded.gate(col("_m"), Bounded.DefaultMaxPoints,
            "signTestExact"), col("_m")))).as("i"))
      .withColumn("v", sum(when(col("i") >= 1L,
        log(col("i").cast("double"))).otherwise(lit(0.0)))
        .over(Window.orderBy(col("i"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val lfm = lf.groupBy().agg(max(when(col("i") === col("_m"), col("v")))
      .as("lf_m"))
    val ks = counts.crossJoin(lfm)
      .withColumn("k", explode(sequence(lit(0L), col("_kmax"))))
    val terms = ks
      .join(lf.select(col("i").as("k"), col("v").as("lf_k")), "k")
      .join(lf.select(col("i").as("_mk"), col("v").as("lf_mk")),
        col("_mk") === col("_m") - col("k"))
      .withColumn("_lnp", col("lf_m") - col("lf_k") - col("lf_mk") -
        col("_m").cast("double") * log(lit(2.0)))
      .withColumn("_cum", sum(exp(col("_lnp"))).over(Window.orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_rk", row_number().over(Window.orderBy(col("k").desc)))
      .filter(col("_rk") === 1)
    terms.select(col("n_pairs"), col("b"), col("c"),
      least(lit(1.0), lit(2.0) * col("_cum")).as("p_two_sided"))
  }

  /** Rousseeuw–Croux Qn-style robust scale: the k-th order statistic of
    * the pairwise gaps |xᵢ − xⱼ| (i < j), k = ⌊(⌊n/2⌋+1 choose 2... the
    * classical k = C(h,2) with h = ⌊n/2⌋+1⌋), times the consistency
    * factor 2.2219. 50% breakdown without a location estimate — the scale
    * companion of q86's MAD. O(n²) pairs: aggregated-grain input only.
    * Integer-valued inputs make every gap exact. Output: one row
    * (n, n_pairs, qn_raw, qn).
    */
  def qnScale(df: DataFrame, valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val base = df.filter(v.isNotNull)
      .select(v.as("_x"))
      .withColumn("_i", row_number().over(Window.orderBy(col("_x"))))
    val b = base.select(col("_x").as("_y"), col("_i").as("_j"))
    val gaps = base.join(b, col("_i") < col("_j"))
      .select(abs(col("_x") - col("_y")).as("_g"), col("_i"), col("_j"))
    val ranked = gaps
      .withColumn("_rn", row_number().over(
        Window.orderBy(col("_g"), col("_i"), col("_j"))))
      .withColumn("_np", count(lit(1)).over(Window.partitionBy()))
    // n from N' = n(n-1)/2; h = floor(n/2) + 1; k = C(h, 2)
    val nd = (lit(1.0) + sqrt(lit(1.0) + lit(8.0) *
      col("_np").cast("double"))) / 2.0
    val h = floor(nd / 2.0) + 1.0
    val kIdx = (h * (h - 1.0) / 2.0).cast("long")
    ranked.filter(col("_rn") === greatest(lit(1L), kIdx))
      .select(nd.cast("long").as("n"), col("_np").as("n_pairs"),
        col("_g").as("qn_raw"),
        (col("_g") * lit(2.2219)).as("qn"))
  }

  /** Hodges–Lehmann two-sample shift estimate with the Moses rank CI:
    * the explicit lower-middle order statistic of ALL pairwise
    * differences x − y (n_a·n_b of them), CI at ranks
    * `⌈N/2 − 1.96·√(n_a·n_b(n_a+n_b+1)/12)⌉` and the mirrored upper rank
    * (capped to [1, N]) — the estimate "how much did the distribution
    * shift" that mannWhitney only tests. Integer-valued inputs give exact
    * differences and a deterministic (diff, i, j) rank order. O(n_a·n_b)
    * pairs: aggregated-grain input. Output: one row
    * (n_a, n_b, shift, ci_lo, ci_hi).
    */
  def hlShift(df: DataFrame, armCol: String, armA: String, armB: String,
              valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val base = df.filter(v.isNotNull)
    val a = base.filter(col(armCol).cast("string") === armA)
      .select(v.as("_x"))
      .withColumn("_i", row_number().over(Window.orderBy(col("_x"))))
    val b = base.filter(col(armCol).cast("string") === armB)
      .select(v.as("_y"))
      .withColumn("_j", row_number().over(Window.orderBy(col("_y"))))
    val diffs = a.crossJoin(b).select((col("_x") - col("_y")).as("_d"),
      col("_i"), col("_j"))
    val ranked = diffs
      .withColumn("_rn", row_number().over(
        Window.orderBy(col("_d"), col("_i"), col("_j"))))
      .withColumn("_np", count(lit(1)).over(Window.partitionBy()))
    val npd = col("_np").cast("double")
    // n_a*n_b = N; recover n_a + n_b is not needed — the Moses sd uses
    // both, so carry them in as literal-free aggregates
    val na = a.agg(count(lit(1)).as("n_a"))
    val nb = b.agg(count(lit(1)).as("n_b"))
    val withN = ranked.crossJoin(na).crossJoin(nb)
    val sd = sqrt(col("n_a").cast("double") * col("n_b").cast("double") *
      (col("n_a").cast("double") + col("n_b").cast("double") + 1) / lit(12.0))
    val withIdx = withN
      .withColumn("_rmed", floor((npd + 1.0) / 2.0).cast("long"))
      .withColumn("_rlo", greatest(lit(1L),
        ceil(npd / 2.0 - lit(1.96) * sd).cast("long")))
      .withColumn("_rhi", least(col("_np"),
        ceil(npd / 2.0 + lit(1.96) * sd + 1.0).cast("long")))
    withIdx.groupBy(col("n_a"), col("n_b"))
      .agg(max(when(col("_rn") === col("_rmed"), col("_d"))).as("shift"),
        max(when(col("_rn") === col("_rlo"), col("_d"))).as("ci_lo"),
        max(when(col("_rn") === col("_rhi"), col("_d"))).as("ci_hi"))
      .select(col("n_a"), col("n_b"), col("shift"), col("ci_lo"),
        col("ci_hi"))
  }

  /** One-sample Kolmogorov–Smirnov statistic against U(0, span): with
    * sorted values u₍ᵢ₎ and F(u) = u/span,
    * `D = max_i max(i/n − F(u₍ᵢ₎), F(u₍ᵢ₎) − (i−1)/n)` — the classic
    * are-the-arrival-offsets-uniform screen. Integer-second offsets keep
    * F exact ratios. One global sort at the aggregated/bounded grain.
    * Output: one row (n, d_stat).
    */
  def ksUniform(df: DataFrame, valCol: String, span: Double): DataFrame = {
    require(span > 0)
    val v = col(valCol).cast("double")
    val ranked = df.filter(v.isNotNull).select(v.as("_u"))
      .withColumn("_i", row_number().over(Window.orderBy(col("_u"))))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy()))
    val n = col("_n").cast("double")
    val f = col("_u") / lit(span)
    val d = greatest(col("_i").cast("double") / n - f,
      f - (col("_i").cast("double") - 1) / n)
    ranked.agg(max(col("_n")).as("n"), max(d).as("d_stat"))
      .select(col("n"), col("d_stat"))
  }

  /** Circular summary + Rayleigh uniformity test over angles in radians
    * (Mardia & Jupp 2000): resultant `R̄ = √(C̄² + S̄²)` of the unit
    * vectors, mean direction atan2(S̄, C̄), circular variance 1 − R̄, and
    * the Rayleigh statistic `z = n·R̄²` (large z rejects uniformity —
    * e.g. "is traffic concentrated at an hour of day?"). cos/sin sums are
    * the only floats; one aggregate pass. Output: one row
    * (n, mean_dir, resultant, circ_var, rayleigh_z).
    */
  def circularStats(df: DataFrame, angleCol: String): DataFrame = {
    val th = col(angleCol).cast("double")
    val agged = df.filter(th.isNotNull)
      .agg(count(lit(1)).as("n"), sum(cos(th)).as("_c"), sum(sin(th)).as("_s"))
    val n = col("n").cast("double")
    val cb = col("_c") / n
    val sb = col("_s") / n
    val r = sqrt(cb * cb + sb * sb)
    agged
      .withColumn("mean_dir", atan2(col("_s"), col("_c")))
      .withColumn("resultant", r)
      .withColumn("circ_var", lit(1.0) - r)
      .withColumn("rayleigh_z", n * r * r)
      .select(col("n"), col("mean_dir"), col("resultant"), col("circ_var"),
        col("rayleigh_z"))
  }

  /** Distribution-free order-statistic CI for the median: the point
    * estimate at the explicit lower-middle rank, the interval at ranks
    * `⌊(n − 1.96·√n)/2⌋` and `⌈1 + (n + 1.96·√n)/2⌉` (binomial normal
    * approximation, capped) — actual data values, exact coverage
    * guarantees, no distributional assumption. Output: one row
    * (n, median, ci_lo, ci_hi).
    */
  def medianCI(df: DataFrame, valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val ranked = df.filter(v.isNotNull).select(v.as("_x"))
      .withColumn("_rn", row_number().over(Window.orderBy(col("_x"))))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy()))
    val nd = col("_n").cast("double")
    val withIdx = ranked
      .withColumn("_rmed", floor((nd + 1.0) / 2.0).cast("long"))
      .withColumn("_rlo", greatest(lit(1L),
        floor((nd - lit(1.96) * sqrt(nd)) / 2.0).cast("long")))
      .withColumn("_rhi", least(col("_n"),
        ceil(lit(1.0) + (nd + lit(1.96) * sqrt(nd)) / 2.0).cast("long")))
    withIdx.agg(max(col("_n")).as("n"),
        max(when(col("_rn") === col("_rmed"), col("_x"))).as("median"),
        max(when(col("_rn") === col("_rlo"), col("_x"))).as("ci_lo"),
        max(when(col("_rn") === col("_rhi"), col("_x"))).as("ci_hi"))
      .select(col("n"), col("median"), col("ci_lo"), col("ci_hi"))
  }

  /** Biased (V-statistic) RBF-kernel maximum mean discrepancy between two
    * samples (Gretton et al. 2012): `MMD² = mean k(x,x') + mean k(y,y')
    * − 2·mean k(x,y)` with `k(a,b) = exp(−(a−b)²/(2γ²))` and γ the MEDIAN
    * pairwise absolute gap over the pooled sample (explicit lower-middle
    * rank — the deterministic median heuristic). Detects ANY distribution
    * difference, not just location/scale. O(n²) kernels: aggregated-grain
    * input. Output: one row (n_a, n_b, bandwidth, mmd2).
    */
  def mmdRbf(df: DataFrame, armCol: String, armA: String, armB: String,
             valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val base = df.filter(v.isNotNull &&
      (col(armCol).cast("string") === armA ||
        col(armCol).cast("string") === armB))
      .select(col(armCol).cast("string").as("_arm"), v.as("_v"))
      .withColumn("_id", row_number().over(
        Window.orderBy(col("_v"), col("_arm"))))
    val b2 = base.select(col("_arm").as("_arm2"), col("_v").as("_v2"),
      col("_id").as("_id2"))
    val pairs = base.crossJoin(b2).filter(col("_id") < col("_id2"))
      .select(abs(col("_v") - col("_v2")).as("_g"), col("_id"), col("_id2"))
    val gamma = pairs
      .withColumn("_rn", row_number().over(
        Window.orderBy(col("_g"), col("_id"), col("_id2"))))
      .withColumn("_np", count(lit(1)).over(Window.partitionBy()))
      .filter(col("_rn") ===
        floor((col("_np").cast("double") + 1.0) / 2.0).cast("long"))
      .select(greatest(col("_g"), lit(1e-9)).as("_gamma"))
    val all = base.crossJoin(b2).crossJoin(broadcast(gamma))
      .withColumn("_k", exp(-(col("_v") - col("_v2")) *
        (col("_v") - col("_v2")) /
        (lit(2.0) * col("_gamma") * col("_gamma"))))
    val agged = all.agg(
      sum(when(col("_arm") === armA && col("_arm2") === armA, col("_k"))
        .otherwise(lit(0.0))).as("_kxx"),
      sum(when(col("_arm") === armB && col("_arm2") === armB, col("_k"))
        .otherwise(lit(0.0))).as("_kyy"),
      sum(when(col("_arm") === armA && col("_arm2") === armB, col("_k"))
        .otherwise(lit(0.0))).as("_kxy"),
      sum(when(col("_arm") === armA && col("_arm2") === armA, 1L)
        .otherwise(0L)).as("_nxx"),
      sum(when(col("_arm") === armB && col("_arm2") === armB, 1L)
        .otherwise(0L)).as("_nyy"),
      sum(when(col("_arm") === armA && col("_arm2") === armB, 1L)
        .otherwise(0L)).as("_nxy"),
      max(col("_gamma")).as("bandwidth"))
    val na = sqrt(col("_nxx").cast("double"))
    val nb = sqrt(col("_nyy").cast("double"))
    agged
      .withColumn("n_a", na.cast("long"))
      .withColumn("n_b", nb.cast("long"))
      .withColumn("mmd2",
        col("_kxx") / col("_nxx").cast("double") +
          col("_kyy") / col("_nyy").cast("double") -
          lit(2.0) * col("_kxy") / col("_nxy").cast("double"))
      .select(col("n_a"), col("n_b"), col("bandwidth"), col("mmd2"))
  }

  /** Yuen's trimmed-mean two-sample t (Yuen 1974): per arm, trim
    * g = ⌊0.2·n⌋ from each end by explicit integer rank cuts, compare
    * trimmed means with winsorized variances:
    * `t = (x̄_t1 − x̄_t2) / √(d1 + d2)`, `d = (n−1)·s²_w / (h·(h−1))`,
    * h = n − 2g (winsorized variance = variance after clamping the
    * trimmed tails to the cut values). Outlier-robust where Welch's t is
    * not. Integer rank cuts ⇒ deterministic membership. Output: one row
    * (n_a, n_b, h_a, h_b, tmean_a, tmean_b, t_stat).
    */
  def yuenT(df: DataFrame, armCol: String, armA: String, armB: String,
            valCol: String, trim: Double = 0.2): DataFrame = {
    require(trim > 0 && trim < 0.5)
    val v = col(valCol).cast("double")
    val base = df.filter(v.isNotNull &&
      (col(armCol).cast("string") === armA ||
        col(armCol).cast("string") === armB))
      .select(col(armCol).cast("string").as("_arm"), v.as("_v"))
    val w = Window.partitionBy(col("_arm")).orderBy(col("_v"))
    val wAll = Window.partitionBy(col("_arm"))
    val staged = base
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_g", floor(col("_n").cast("double") * lit(trim)).cast("long"))
      // winsorize: clamp ranks <= g to the (g+1)-th value, >= n-g to (n-g)-th
      .withColumn("_lo", max(when(col("_rn") === col("_g") + 1L, col("_v")))
        .over(wAll))
      .withColumn("_hi", max(when(col("_rn") === col("_n") - col("_g"),
        col("_v"))).over(wAll))
      .withColumn("_wv", when(col("_rn") <= col("_g"), col("_lo"))
        .when(col("_rn") > col("_n") - col("_g"), col("_hi"))
        .otherwise(col("_v")))
      .withColumn("_inTrim",
        col("_rn") > col("_g") && col("_rn") <= col("_n") - col("_g"))
    def side(tag: String, arm: String) = Seq(
      sum(when(col("_arm") === arm, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(col("_arm") === arm && col("_inTrim"), 1L).otherwise(0L))
        .as(s"h_$tag"),
      sum(when(col("_arm") === arm && col("_inTrim"), col("_v"))
        .otherwise(lit(0.0))).as(s"_ts_$tag"),
      sum(when(col("_arm") === arm, col("_wv")).otherwise(lit(0.0)))
        .as(s"_ws_$tag"),
      sum(when(col("_arm") === arm, col("_wv") * col("_wv"))
        .otherwise(lit(0.0))).as(s"_wq_$tag"))
    val aggs = side("a", armA) ++ side("b", armB)
    val agged = staged.agg(aggs.head, aggs.tail: _*)
    def stats(tag: String) = {
      val n = col(s"n_$tag").cast("double")
      val h = col(s"h_$tag").cast("double")
      val tm = col(s"_ts_$tag") / h
      val sw2 = (col(s"_wq_$tag") - col(s"_ws_$tag") * col(s"_ws_$tag") / n) /
        (n - 1)
      val d = (n - 1) * sw2 / (h * (h - 1))
      (tm, d)
    }
    val (tma, da) = stats("a")
    val (tmb, db) = stats("b")
    val ok = col("h_a") >= 2L && col("h_b") >= 2L
    agged
      .withColumn("tmean_a", when(ok, tma))
      .withColumn("tmean_b", when(ok, tmb))
      .withColumn("t_stat", when(ok && da + db > 0,
        (tma - tmb) / sqrt(da + db)))
      .select(col("n_a"), col("n_b"), col("h_a"), col("h_b"),
        col("tmean_a"), col("tmean_b"), col("t_stat"))
  }

  /** Dixon's Q for the most extreme point on each end (Dixon 1950, r10
    * form): `Q_min = (x₍₂₎−x₍₁₎)/range`, `Q_max = (x₍ₙ₎−x₍ₙ₋₁₎)/range` —
    * the smallest-sample outlier screen (compare against Dixon's critical
    * table offline). Explicit rank picks. Output: (keys..., n, q_min,
    * q_max); null when range = 0 or n < 3.
    */
  def dixonQ(df: DataFrame, keyCols: Seq[String], valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val v = col(valCol).cast("double")
    val w = Window.partitionBy(keys: _*).orderBy(v)
    val wAll = Window.partitionBy(keys: _*)
    val staged = df.filter(v.isNotNull)
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(wAll))
    val agged = staged.groupBy(keys: _*)
      .agg(max(col("_n")).as("n"),
        max(when(col("_rn") === 1L, v)).as("_x1"),
        max(when(col("_rn") === 2L, v)).as("_x2"),
        max(when(col("_rn") === col("_n") - 1L, v)).as("_xn1"),
        max(when(col("_rn") === col("_n"), v)).as("_xn"))
    val range = col("_xn") - col("_x1")
    val ok = col("n") >= 3 && range > 0
    agged
      .withColumn("q_min", when(ok, (col("_x2") - col("_x1")) / range))
      .withColumn("q_max", when(ok, (col("_xn") - col("_xn1")) / range))
      .select((keys :+ col("n") :+ col("q_min") :+ col("q_max")): _*)
  }

  /** First-harmonic (24-bin) seasonal fit: with per-bin means m_b over the
    * LITERAL bin domain 0..23, the Fourier-1 coefficients
    * `a = (2/24)·Σ m_b·cos(2πb/24)`, `b = (2/24)·Σ m_b·sin(2πb/24)`,
    * amplitude √(a²+b²), acrophase atan2(b, a), and the fraction of
    * between-bin variance the harmonic explains
    * (`(a²+b²)/2 / var(m_b)`). Every trig constant is a plan-time JVM
    * double shared with the oracle via 17-digit literals. Output: one row
    * (n, mesor, amplitude, phase, var_explained).
    */
  def harmonicFit(df: DataFrame, binCol: String, valCol: String,
                  period: Int = 24): DataFrame = {
    require(period >= 3)
    val v = col(valCol).cast("double")
    val perBin = df.filter(v.isNotNull &&
      col(binCol).between(0, period - 1))
      .groupBy(col(binCol).as("_b")).agg(avg(v).as("_m"),
        count(lit(1)).as("_cnt"))
    val aggs = Seq(sum(col("_cnt")).as("n"), count(lit(1)).as("_nb")) ++
      (0 until period).flatMap { b =>
        Seq(sum(when(col("_b") === b, col("_m"))).as(s"_m$b"))
      }
    val piv = perBin.agg(aggs.head, aggs.tail: _*)
    def m(b: Int) = coalesce(col(s"_m$b"), lit(0.0))
    val mesor = (0 until period).map(m).reduce(_ + _) / lit(period.toDouble)
    val ca = (0 until period).map { b =>
      m(b) * lit(math.cos(2.0 * math.Pi * b / period))
    }.reduce(_ + _) * lit(2.0 / period)
    val cb = (0 until period).map { b =>
      m(b) * lit(math.sin(2.0 * math.Pi * b / period))
    }.reduce(_ + _) * lit(2.0 / period)
    val msq = (0 until period).map(b => m(b) * m(b)).reduce(_ + _) /
      lit(period.toDouble)
    val varB = msq - mesor * mesor
    val ok = col("_nb") === period.toLong
    piv
      .withColumn("mesor", when(ok, mesor))
      .withColumn("amplitude", when(ok, sqrt(ca * ca + cb * cb)))
      .withColumn("phase", when(ok, atan2(cb, ca)))
      .withColumn("var_explained", when(ok && varB > 0,
        (ca * ca + cb * cb) / 2.0 / varB))
      .select(col("n"), col("mesor"), col("amplitude"), col("phase"),
        col("var_explained"))
  }

  /** One-way intraclass correlation ICC(1) with the unequal-group-size
    * k₀ correction (Fisher 1925; Donner 1986): from the [[tukeyHsd]]-style
    * group moment cascade, `ICC = (MSB − MSW)/(MSB + (k₀−1)·MSW)` with
    * `k₀ = (N − Σnᵢ²/N)/(G−1)` — how much of the variance lives BETWEEN
    * units (users) rather than within. Two aggregates (group grain then
    * global). Output: one row (n, n_groups, k0, msb, msw, icc).
    */
  def icc1(df: DataFrame, groupCols: Seq[String], valCol: String): DataFrame = {
    val keys = groupCols.map(col)
    val v = col(valCol).cast("double")
    val per = df.filter(v.isNotNull).groupBy(keys: _*)
      .agg(count(lit(1)).as("_ni"), sum(v).as("_si"), sum(v * v).as("_qi"))
    val agged = per.agg(count(lit(1)).as("n_groups"),
      sum(col("_ni")).as("n"), sum(col("_ni") * col("_ni")).as("_n2"),
      sum(col("_si")).as("_st"), sum(col("_qi")).as("_qt"),
      sum(col("_si") * col("_si") / col("_ni").cast("double")).as("_ssb"))
    val n = col("n").cast("double")
    val g = col("n_groups").cast("double")
    val ssb = col("_ssb") - col("_st") * col("_st") / n
    val ssw = col("_qt") - col("_ssb")
    val msb = ssb / (g - 1)
    val msw = ssw / (n - g)
    val k0 = (n - col("_n2").cast("double") / n) / (g - 1)
    val ok = col("n_groups") >= 2 && col("n") > col("n_groups")
    agged
      .withColumn("k0", when(ok, k0))
      .withColumn("msb", when(ok, msb))
      .withColumn("msw", when(ok, msw))
      .withColumn("icc", when(ok && msb + (k0 - 1) * msw > 0,
        (msb - msw) / (msb + (k0 - 1) * msw)))
      .select(col("n"), col("n_groups"), col("k0"), col("msb"), col("msw"),
        col("icc"))
  }

  /** ROC-AUC from midranks (the Mann–Whitney identity): with pooled
    * midranks of the score, `AUC = (R̄₊ − (n₊+1)/2)/n₋` — the probability
    * a random positive outscores a random negative, ties counted half.
    * Integer-valued scores keep the midranks exact. One rank window +
    * one aggregate. Output: one row (n_pos, n_neg, auc).
    */
  def rocAuc(df: DataFrame, labelCol: String, scoreCol: String): DataFrame = {
    val y = col(labelCol).cast("long")
    val sc = col(scoreCol).cast("double")
    val base = df.filter(sc.isNotNull && y.isNotNull)
      .select(y.as("_y"), sc.as("_s"))
    val w = Window.orderBy(col("_s"))
    val tiePart = Window.partitionBy(col("_s"))
    val ranked = base.withColumn("_mid",
      rank().over(w).cast("double") +
        (count(lit(1)).over(tiePart) - 1).cast("double") / 2)
    val agged = ranked.agg(
      sum(when(col("_y") === 1L, 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("_y") === 0L, 1L).otherwise(0L)).as("n_neg"),
      sum(when(col("_y") === 1L, col("_mid")).otherwise(lit(0.0))).as("_rp"))
    val np = col("n_pos").cast("double")
    val nn = col("n_neg").cast("double")
    agged
      .withColumn("auc", when(col("n_pos") >= 1 && col("n_neg") >= 1,
        (col("_rp") / np - (np + 1) / 2) / nn))
      .select(col("n_pos"), col("n_neg"), col("auc"))
  }

  /** Brunner–Munzel rank test (Brunner & Munzel 2000): the
    * unequal-variance ("nonparametric Behrens–Fisher") generalization of
    * Mann–Whitney. From pooled midranks R and within-sample midranks r:
    * relative effect `p̂ = (R̄₂ − (n₂+1)/2)/n₁`, placement variances
    * `Sᵢ² = var_samp(R − r within sample i)`, and the statistic
    * `W = (R̄₂ − R̄₁) / (N·√(S₁²/(n₁·n₂²) + S₂²/(n₂·n₁²)))` — the reduced
    * computational form of the paper's eq. 4.7, mirrored verbatim by the
    * oracle and pinned to a published worked example in the spec. Prefer
    * this over MWU when the two groups' dispersions visibly differ.
    * Output: one row (n_a, n_b, p_hat, w_stat).
    */
  def brunnerMunzel(df: DataFrame, armCol: String, armA: String,
                    armB: String, valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val base = df.filter(v.isNotNull &&
      (col(armCol).cast("string") === armA ||
        col(armCol).cast("string") === armB))
      .select(col(armCol).cast("string").as("_arm"), v.as("_v"))
    val wPool = Window.orderBy(col("_v"))
    val tiePool = Window.partitionBy(col("_v"))
    val wIn = Window.partitionBy(col("_arm")).orderBy(col("_v"))
    val tieIn = Window.partitionBy(col("_arm"), col("_v"))
    // NOTE: Spark column resolution is case-insensitive — "_R" and "_r"
    // would silently overwrite each other in withColumn; use distinct names
    val ranked = base
      .withColumn("_rp", rank().over(wPool).cast("double") +
        (count(lit(1)).over(tiePool) - 1).cast("double") / 2)
      .withColumn("_rw", rank().over(wIn).cast("double") +
        (count(lit(1)).over(tieIn) - 1).cast("double") / 2)
      .withColumn("_d", col("_rp") - col("_rw"))
    val agged = ranked.agg(
      sum(when(col("_arm") === armA, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("_arm") === armB, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("_arm") === armA, col("_rp")).otherwise(lit(0.0))).as("_ra"),
      sum(when(col("_arm") === armB, col("_rp")).otherwise(lit(0.0))).as("_rb"),
      sum(when(col("_arm") === armA, col("_d")).otherwise(lit(0.0))).as("_da"),
      sum(when(col("_arm") === armB, col("_d")).otherwise(lit(0.0))).as("_db"),
      sum(when(col("_arm") === armA, col("_d") * col("_d"))
        .otherwise(lit(0.0))).as("_qa"),
      sum(when(col("_arm") === armB, col("_d") * col("_d"))
        .otherwise(lit(0.0))).as("_qb"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val nt = na + nb
    val rma = col("_ra") / na
    val rmb = col("_rb") / nb
    val s2a = (col("_qa") - col("_da") * col("_da") / na) / (na - 1)
    val s2b = (col("_qb") - col("_db") * col("_db") / nb) / (nb - 1)
    val se = nt * sqrt(s2a / (na * nb * nb) + s2b / (nb * na * na))
    val ok = col("n_a") >= 2 && col("n_b") >= 2
    agged
      .withColumn("p_hat", when(ok, (rmb - (nb + 1) / 2) / na))
      .withColumn("w_stat", when(ok && se > 0, (rmb - rma) / se))
      .select(col("n_a"), col("n_b"), col("p_hat"), col("w_stat"))
  }

  /** Siegel repeated-medians slope (Siegel 1982): for every point i, the
    * MEDIAN over j ≠ i of the pairwise slopes (y_j − y_i)/(x_j − x_i),
    * then the median of those per-point medians — 50% breakdown (vs
    * Theil–Sen's 29%, [[graft.operators.Robust.theilSenSlope]]): up to
    * HALF the points can be arbitrary garbage before the slope moves.
    * Intercept = median_i(y_i − slope·x_i). Both medians are the exact
    * interpolating `percentile` = SQL `quantile_cont(0.5)`; integer x/y
    * make every slope one exact IEEE division, so the estimate is
    * cross-engine replayable. O(n²) pairs — aggregated-grain series only.
    * Output: one row (n, slope, intercept).
    */
  def siegelSlope(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val pts = df.filter(x.isNotNull && y.isNotNull)
      .select(x.as("_x"), y.as("_y"))
    val a = pts.toDF("_x1", "_y1")
    val b = pts.toDF("_x2", "_y2")
    val perPoint = a.crossJoin(b)
      .filter(col("_x1") =!= col("_x2"))
      .groupBy(col("_x1"), col("_y1"))
      .agg(percentile(
        (col("_y2") - col("_y1")) / (col("_x2") - col("_x1")), lit(0.5))
        .as("_mi"))
      .localCheckpoint() // consumed twice: slope median + intercept pass
    val slope = perPoint.agg(count(lit(1)).as("n"),
      percentile(col("_mi"), lit(0.5)).as("slope"))
    perPoint.crossJoin(broadcast(slope))
      .withColumn("_ic", col("_y1") - col("slope") * col("_x1"))
      .groupBy(col("n"), col("slope"))
      .agg(percentile(col("_ic"), lit(0.5)).as("intercept"))
      .select(col("n"), col("slope"), col("intercept"))
  }

  /** Rousseeuw–Croux Sn robust scale (Rousseeuw & Croux 1993): the
    * "median of high medians of gaps" —
    *   Sn = 1.1926 · lomed_i ( himed_{j≠i} |x_i − x_j| )
    * with himed = the (⌊n/2⌋+1)-th order statistic of the n−1 gaps of
    * point i and lomed = the ⌊(n+1)/2⌋-th order statistic across points.
    * 50% breakdown WITHOUT pairing symmetric gaps the way [[qnScale]]
    * does; both medians are explicit integer rank picks (ties broken by
    * the partner index) so the result is deterministic cross-engine on
    * integer inputs. O(n²) pairs — aggregated-grain input only.
    * Output: one row (n, sn_raw, sn).
    */
  def snScale(df: DataFrame, valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val base = df.filter(v.isNotNull).select(v.as("_x"))
      .withColumn("_i", row_number().over(Window.orderBy(col("_x"))))
    val b = base.select(col("_x").as("_y"), col("_i").as("_j"))
    val gaps = base.join(b, col("_i") =!= col("_j"))
      .select(col("_i"), col("_j"), abs(col("_x") - col("_y")).as("_g"))
    val wIn = Window.partitionBy(col("_i")).orderBy(col("_g"), col("_j"))
    val ranked = gaps
      .withColumn("_rn", row_number().over(wIn))
      .withColumn("_m", count(lit(1)).over(Window.partitionBy(col("_i"))))
    // himed over n−1 gaps: rank ⌊n/2⌋+1 where n = m+1 points
    val himed = ranked
      .filter(col("_rn") === floor((col("_m") + 1) / 2) + 1)
      .select(col("_i"), col("_g").as("_hm"))
    val outer = himed
      .withColumn("_rn2", row_number().over(
        Window.orderBy(col("_hm"), col("_i"))))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy()))
    outer.filter(col("_rn2") === floor((col("_n") + 1) / 2))
      .select(col("_n").as("n"), col("_hm").as("sn_raw"),
        (col("_hm") * lit(1.1926)).as("sn"))
  }

  /** Sample L-moments (Hosking 1990) by direct order-statistic weights:
    * with x₍₁₎ ≤ … ≤ x₍ₙ₎ and probability-weighted moments
    *   b_r = (1/n) Σᵢ x₍ᵢ₎ · Π_{s=1..r} (i−s)/(n−s),
    * l1 = b0, l2 = 2b1 − b0, l3 = 6b2 − 6b1 + b0,
    * l4 = 20b3 − 30b2 + 12b1 − b0; ratios t2 = l2/l1 (L-CV),
    * t3 = l3/l2 (L-skew), t4 = l4/l2 (L-kurtosis). Rank-weighted SUMS —
    * no squaring of deviations, so far more outlier-resistant than
    * conventional skew/kurtosis (q56) and defined whenever the mean is.
    * Tied values share equal x so the weighted sum is tie-order invariant.
    * One global sort + one aggregate. Output: one row
    * (n, l1, l2, t2, t3, t4).
    */
  def lmoments(df: DataFrame, valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val ranked = df.filter(v.isNotNull).select(v.as("_x"))
      .withColumn("_i", row_number().over(Window.orderBy(col("_x")))
        .cast("double"))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy())
        .cast("double"))
    val i = col("_i")
    val n = col("_n")
    val w1 = (i - 1) / (n - 1)
    val w2 = w1 * (i - 2) / (n - 2)
    val w3 = w2 * (i - 3) / (n - 3)
    val agged = ranked.agg(
      max(col("_n")).cast("long").as("n"),
      avg(col("_x")).as("_b0"),
      avg(col("_x") * w1).as("_b1"),
      avg(col("_x") * w2).as("_b2"),
      avg(col("_x") * w3).as("_b3"))
    val l1 = col("_b0")
    val l2 = lit(2.0) * col("_b1") - col("_b0")
    val l3 = lit(6.0) * col("_b2") - lit(6.0) * col("_b1") + col("_b0")
    val l4 = lit(20.0) * col("_b3") - lit(30.0) * col("_b2") +
      lit(12.0) * col("_b1") - col("_b0")
    agged
      .withColumn("l1", l1)
      .withColumn("l2", l2)
      .withColumn("t2", when(l1 =!= 0.0, l2 / l1))
      .withColumn("t3", when(l2 =!= 0.0, l3 / l2))
      .withColumn("t4", when(l2 =!= 0.0, l4 / l2))
      .select(col("n"), col("l1"), col("l2"), col("t2"), col("t3"),
        col("t4"))
  }

  /** Cucconi two-sample location-AND-scale test (Cucconi 1968; Marozzi
    * 2009 review): from the pooled midranks R_j of sample B (sizes
    * m = n_a, n = n_b, N = m + n),
    *   U = (6ΣR_j² − n(N+1)(2N+1)) / √(mn(N+1)(2N+1)(8N+11)/5)
    *   V = (6Σ(N+1−R_j)² − n(N+1)(2N+1)) / √(same)
    *   ρ = 2(N²−4)/((2N+1)(8N+11)) − 1
    *   C = (U² + V² − 2ρUV) / (2(1−ρ²))
    * — squared-rank sums from BOTH ends detect a location shift, a scale
    * change, or both in one statistic (older than, and competitive with,
    * Lepage q393). Midranks substitute for ranks under ties (documented
    * deviation from the no-tie original; both engines midrank
    * identically). One pooled rank window + one aggregate. Output: one
    * row (n_a, n_b, u_stat, v_stat, rho, c_stat).
    */
  def cucconi(df: DataFrame, armCol: String, armA: String, armB: String,
              valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val base = df.filter(v.isNotNull &&
      (col(armCol).cast("string") === armA ||
        col(armCol).cast("string") === armB))
      .select(col(armCol).cast("string").as("_arm"), v.as("_v"))
    val wPool = Window.orderBy(col("_v"))
    val tiePool = Window.partitionBy(col("_v"))
    val ranked = base.withColumn("_mid",
      rank().over(wPool).cast("double") +
        (count(lit(1)).over(tiePool) - 1).cast("double") / 2)
    val agged = ranked.agg(
      sum(when(col("_arm") === armA, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("_arm") === armB, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("_arm") === armB, col("_mid") * col("_mid"))
        .otherwise(lit(0.0))).as("_sr2"),
      sum(when(col("_arm") === armB, col("_mid")).otherwise(lit(0.0)))
        .as("_sr"))
    val m = col("n_a").cast("double")
    val n = col("n_b").cast("double")
    val bigN = m + n
    // Σ(N+1−R)² = n(N+1)² − 2(N+1)ΣR + ΣR²
    val sc2 = n * (bigN + 1) * (bigN + 1) -
      lit(2.0) * (bigN + 1) * col("_sr") + col("_sr2")
    val mu = n * (bigN + 1) * (lit(2.0) * bigN + 1)
    val den = sqrt(m * n * (bigN + 1) * (lit(2.0) * bigN + 1) *
      (lit(8.0) * bigN + 11) / 5.0)
    val u = (lit(6.0) * col("_sr2") - mu) / den
    val vv = (lit(6.0) * sc2 - mu) / den
    val rho = lit(2.0) * (bigN * bigN - 4) /
      ((lit(2.0) * bigN + 1) * (lit(8.0) * bigN + 11)) - 1
    val ok = col("n_a") >= 1 && col("n_b") >= 1 && den > 0
    agged
      .withColumn("u_stat", when(ok, u))
      .withColumn("v_stat", when(ok, vv))
      .withColumn("rho", when(ok, rho))
      .withColumn("c_stat", when(ok,
        (u * u + vv * vv - lit(2.0) * rho * u * vv) /
          (lit(2.0) * (lit(1.0) - rho * rho))))
      .select(col("n_a"), col("n_b"), col("u_stat"), col("v_stat"),
        col("rho"), col("c_stat"))
  }

  /** Quade test (Quade 1979): the blocked k-treatment rank test that
    * WEIGHTS blocks by how much they discriminate — within-block midranks
    * R_ij, block ranges ranked across blocks (midranks) as Q_i, scores
    * S_ij = Q_i·(R_ij − (k+1)/2), per-treatment sums S_j; then
    *   A = Σ S_ij²,  B = (1/b)·Σ_j S_j²,  F = (b−1)·B/(A−B)
    * (df k−1, (b−1)(k−1)). More powerful than Friedman (q357) when block
    * spreads differ. Only COMPLETE blocks enter (all k treatments
    * present). Null F when A = B (every block identically ordered —
    * perfectly concordant). Two rank windows + bounded aggregates.
    * Output: one row (n_blocks, k, a_term, b_term, f_stat).
    */
  def quade(df: DataFrame, blockKey: String, armCol: String,
            valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val base = df.filter(v.isNotNull && col(armCol).isNotNull)
    val k = base.agg(countDistinct(col(armCol)).as("_k"))
    val complete = base
      .withColumn("_ba", count(lit(1)).over(
        Window.partitionBy(col(blockKey))))
      .crossJoin(k)
      .filter(col("_ba") === col("_k"))
    val wBlk = Window.partitionBy(col(blockKey)).orderBy(v)
    val tieBlk = Window.partitionBy(col(blockKey), v)
    val ranked = complete
      .withColumn("_mid", rank().over(wBlk).cast("double") +
        (count(lit(1)).over(tieBlk) - 1).cast("double") / 2)
      .withColumn("_rng",
        max(v).over(Window.partitionBy(col(blockKey))) -
          min(v).over(Window.partitionBy(col(blockKey))))
    // block-range midranks: rank the DISTINCT block rows, re-attach
    val blocks = ranked.select(col(blockKey).as("_blk"), col("_rng"))
      .distinct()
    val wRng = Window.orderBy(col("_rng"))
    val tieRng = Window.partitionBy(col("_rng"))
    val q = blocks.withColumn("_q",
      rank().over(wRng).cast("double") +
        (count(lit(1)).over(tieRng) - 1).cast("double") / 2)
    val scored = ranked.join(broadcast(q),
        ranked(blockKey) === q("_blk"))
      .withColumn("_s",
        col("_q") * (col("_mid") - (col("_k").cast("double") + 1) / 2))
    val perArm = scored.groupBy(col(armCol))
      .agg(sum(col("_s")).as("_sj"), sum(col("_s") * col("_s")).as("_aj"),
        count(lit(1)).as("_nb"), max(col("_k")).as("_karm"))
    perArm.agg(max(col("_nb")).as("n_blocks"), max(col("_karm")).as("k"),
        sum(col("_aj")).as("a_term"), sum(col("_sj") * col("_sj")).as("_ss"))
      .withColumn("b_term", col("_ss") / col("n_blocks").cast("double"))
      .withColumn("f_stat",
        when(col("a_term") - col("b_term") > 0,
          (col("n_blocks").cast("double") - 1) * col("b_term") /
            (col("a_term") - col("b_term"))))
      .select(col("n_blocks"), col("k"), col("a_term"), col("b_term"),
        col("f_stat"))
  }

  /** Spiegelhalter's calibration Z (Spiegelhalter 1986): given binary
    * outcomes y and forecast probabilities p, the Brier score decomposes
    * so that under perfect calibration
    *   Z = Σ (y−p)(1−2p) / √(Σ (1−2p)²·p·(1−p)) ~ N(0,1)
    * — |Z| ≫ 2 means the probabilities are systematically mis-calibrated
    * (the one-number screen beside q156's binned ECE: no binning choice
    * at all). One aggregate pass. Output: one row (n, brier, z_stat).
    */
  /** Hosmer–Lemeshow goodness-of-calibration (Hosmer & Lemeshow 1980):
    * rank rows by forecast probability (id tie-break — deterministic
    * cross-engine cut), split into `g` equal-count ntile bins, then
    *   HL = Σ_g (O1_g − E1_g)² / (E1_g·(1 − E1_g/n_g))   (df = g − 2)
    * with O1 = observed positives, E1 = Σp per bin. The BINNED companion
    * of [[spiegelhalterZ]] (which bin is mis-calibrated, not just
    * whether). One global ntile window (bounded input contract — score
    * grain, not raw events) + one bin aggregate. Output: one row
    * (g, n, hl_chi2).
    */
  def hosmerLemeshow(df: DataFrame, yCol: String, pCol: String,
                     idCol: String, g: Int = 10): DataFrame = {
    require(g >= 2, s"hosmerLemeshow: g must be >= 2, got $g")
    val y = col(yCol).cast("double")
    val p = col(pCol).cast("double")
    val binned = df.filter(y.isNotNull && p.isNotNull)
      .withColumn("_g", ntile(g).over(Window.orderBy(p, col(idCol))))
    val per = binned.groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"), sum(y).as("_o1"), sum(p).as("_e1"))
    val term = (col("_o1") - col("_e1")) * (col("_o1") - col("_e1")) /
      (col("_e1") * (lit(1.0) - col("_e1") / col("_n").cast("double")))
    per.agg(count(lit(1)).cast("long").as("g"), sum(col("_n")).as("n"),
      sum(term).as("hl_chi2"))
  }

  /** Krippendorff's alpha, nominal data (Krippendorff 1970/2004): chance-
    * corrected agreement over units with ANY number of ratings ≥ 2 (the
    * generalization kappa/Fleiss can't do — raters per unit may differ).
    * From per-(unit, value) counts n_uv, m_u = Σ_v n_uv:
    *   Σo  = Σ_u (m_u² − Σ_v n_uv²)/(m_u − 1)   (observed mismatches)
    *   α = 1 − (N−1)·Σo / (N² − Σ_v n_v²),  n_v = Σ_u n_uv,  N = Σ m_u
    * Integer arithmetic except the per-unit rational — cross-engine
    * exact. Units with m_u < 2 are dropped (standard). Two bounded
    * aggregates. Output: one row (n_units, n_ratings, alpha).
    */
  def krippendorffAlpha(df: DataFrame, unitCol: String,
                        valCol: String): DataFrame = {
    val perUv = df.filter(col(valCol).isNotNull)
      .groupBy(col(unitCol).as("_u"), col(valCol).cast("string").as("_v"))
      .agg(count(lit(1)).as("_nuv"))
    val perU = perUv.groupBy(col("_u"))
      .agg(sum(col("_nuv")).as("_mu"),
        sum(col("_nuv") * col("_nuv")).as("_sq"))
      .filter(col("_mu") >= 2)
    val omm = perU.agg(
      count(lit(1)).as("n_units"), sum(col("_mu")).as("n_ratings"),
      sum((col("_mu") * col("_mu") - col("_sq")).cast("double") /
        (col("_mu") - 1).cast("double")).as("_so"))
    val nv = perUv.join(perU.select(col("_u")), Seq("_u"))
      .groupBy(col("_v")).agg(sum(col("_nuv")).as("_nv"))
      .agg(sum(col("_nv") * col("_nv")).as("_snv"))
    val nD = col("n_ratings").cast("double")
    omm.crossJoin(nv)
      .withColumn("alpha",
        when(nD * nD - col("_snv") > 0,
          lit(1.0) - (nD - 1) * col("_so") / (nD * nD - col("_snv"))))
      .select(col("n_units"), col("n_ratings"), col("alpha"))
  }

  /** Kuiper's V against U(0, span) (Kuiper 1960): V = D⁺ + D⁻ with
    *   D⁺ = max_i (i/n − F(u₍ᵢ₎)),  D⁻ = max_i (F(u₍ᵢ₎) − (i−1)/n)
    * — the rotation-invariant refinement of the one-sample KS (q423):
    * equally sensitive at every phase of a CIRCULAR domain like
    * time-of-day, where KS under-weights deviations near the wrap point.
    * Same one-sort plan as [[ksUniform]]. Output: one row
    * (n, d_plus, d_minus, v_stat).
    */
  def kuiperUniform(df: DataFrame, valCol: String, span: Double): DataFrame = {
    require(span > 0)
    val v = col(valCol).cast("double")
    val ranked = df.filter(v.isNotNull).select(v.as("_u"))
      .withColumn("_i", row_number().over(Window.orderBy(col("_u"))))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy()))
    val n = col("_n").cast("double")
    val f = col("_u") / lit(span)
    ranked.agg(max(col("_n")).as("n"),
        max(col("_i").cast("double") / n - f).as("d_plus"),
        max(f - (col("_i").cast("double") - 1) / n).as("d_minus"))
      .withColumn("v_stat", col("d_plus") + col("d_minus"))
      .select(col("n"), col("d_plus"), col("d_minus"), col("v_stat"))
  }

  /** Sample entropy, m = 2 (Richman & Moorman 2000): over the N−2
    * template vectors (x_i, x_{i+1}[, x_{i+2}]),
    *   B = #{i<j : max(|Δx|, |Δx₊₁|) ≤ r},  A = same with |Δx₊₂| too,
    *   SampEn = −ln(A/B)
    * — low = regular/predictable series, high = irregular. `r` defaults
    * to the exact MEDIAN of |successive differences| (integer inputs →
    * half-integer r, so every ≤-r decision is EXACT cross-engine; never
    * a float-σ rule whose ulp could flip a boundary pair). O(n²) pairs —
    * aggregated-grain series only. Output: one row
    * (n, r, b_pairs, a_pairs, sampen) — null sampen when A or B = 0.
    */
  def sampleEntropy(df: DataFrame, tsCol: String, valCol: String,
                    rOverride: Option[Double] = None): DataFrame = {
    val v = col(valCol).cast("double")
    val w = Window.orderBy(col(tsCol))
    val base = df.filter(v.isNotNull)
      .withColumn("_i", row_number().over(w))
      .withColumn("_v0", v)
      .withColumn("_v1", lead(v, 1).over(w))
      .withColumn("_v2", lead(v, 2).over(w))
    val rDf = rOverride match {
      case Some(r) => base.agg(lit(r).as("_r")).limit(1)
      case None => base.filter(col("_v1").isNotNull)
        .agg(percentile(abs(col("_v1") - col("_v0")), lit(0.5)).as("_r"))
    }
    val tmpl = base.filter(col("_v2").isNotNull)
      .select(col("_i"), col("_v0"), col("_v1"), col("_v2"))
      .crossJoin(broadcast(rDf))
    val b = tmpl.select(col("_i").as("_j"), col("_v0").as("_w0"),
      col("_v1").as("_w1"), col("_v2").as("_w2"))
    val pairs = tmpl.join(b, col("_i") < col("_j"))
      .select(col("_r"),
        (greatest(abs(col("_v0") - col("_w0")),
          abs(col("_v1") - col("_w1"))) <= col("_r")).as("_bm"),
        (greatest(abs(col("_v0") - col("_w0")), abs(col("_v1") - col("_w1")),
          abs(col("_v2") - col("_w2"))) <= col("_r")).as("_am"))
    val counts = base.agg(count(lit(1)).as("n"))
    val agged = pairs.agg(max(col("_r")).as("r"),
      sum(when(col("_bm"), 1L).otherwise(0L)).as("b_pairs"),
      sum(when(col("_am"), 1L).otherwise(0L)).as("a_pairs"))
    agged.crossJoin(counts)
      .withColumn("sampen",
        when(col("a_pairs") > 0 && col("b_pairs") > 0,
          -log(col("a_pairs").cast("double") / col("b_pairs").cast("double"))))
      .select(col("n"), col("r"), col("b_pairs"), col("a_pairs"),
        col("sampen"))
  }

  /** Higuchi fractal dimension (Higuchi 1988): for each scale k ≤ kMax
    * and offset m ≤ k, the curve length of the subsampled series
    *   L_m(k) = (Σ |x_{m+ik} − x_{m+(i−1)k}|) · (n−1)/(c·k) / k
    * (c = the subsequence's diff count ⌊(n−m)/k⌋), L(k) = mean_m L_m(k);
    * FD = −slope of the OLS fit of ln L(k) on ln k — 1 for a smooth
    * trend, →2 for space-filling noise (a self-similarity companion of
    * q282's Hurst). The (k, m) grid is a LITERAL cross join, broadcast by
    * size (≤ kMax(kMax+1)/2 combos, no lateral ranges); integer inputs keep
    * every length sum exact. Output: one row (n, fd).
    */
  def higuchiFd(df: DataFrame, tsCol: String, valCol: String,
                kMax: Int = 5): DataFrame = {
    require(kMax >= 2, s"higuchiFd: kMax must be >= 2, got $kMax")
    val v = col(valCol).cast("double")
    val spark = df.sparkSession
    import spark.implicits._
    val grid = (1 to kMax).flatMap(k => (1 to k).map(m => (k, m)))
      .toDF("_k", "_m")
    val indexed = df.filter(v.isNotNull)
      .withColumn("_i", row_number().over(Window.orderBy(col(tsCol))))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy()))
      .select(col("_i"), col("_n"), v.as("_x"))
    val sub = indexed.crossJoin(grid)
      .filter(col("_i") >= col("_m") &&
        pmod(col("_i") - col("_m"), col("_k")) === 0)
    val wSub = Window.partitionBy(col("_k"), col("_m")).orderBy(col("_i"))
    val diffs = sub
      .withColumn("_d", abs(col("_x") - lag(col("_x"), 1).over(wSub)))
      .filter(col("_d").isNotNull)
    val lm = diffs.groupBy(col("_k"), col("_m"))
      .agg(sum(col("_d")).as("_s"), count(lit(1)).as("_c"),
        max(col("_n")).as("_nn"))
      .withColumn("_lm", col("_s") * (col("_nn").cast("double") - 1) /
        (col("_c").cast("double") * col("_k").cast("double")) /
        col("_k").cast("double"))
    val lk = lm.groupBy(col("_k"))
      .agg(avg(col("_lm")).as("_lk"), max(col("_nn")).as("_nn"))
      .select(col("_nn"), log(col("_k").cast("double")).as("_lx"),
        log(col("_lk")).as("_ly"))
    lk.agg(max(col("_nn")).as("n"), count(lit(1)).cast("double").as("_kc"),
        sum(col("_lx")).as("_sx"), sum(col("_ly")).as("_sy"),
        sum(col("_lx") * col("_ly")).as("_sxy"),
        sum(col("_lx") * col("_lx")).as("_sxx"))
      .withColumn("fd",
        when(col("_kc") * col("_sxx") - col("_sx") * col("_sx") > 0,
          -(col("_kc") * col("_sxy") - col("_sx") * col("_sy")) /
            (col("_kc") * col("_sxx") - col("_sx") * col("_sx"))))
      .select(col("n"), col("fd"))
  }

  /** Nonlinearity + time-reversal asymmetry diagnostics at lag ℓ
    * (Schreiber & Schmitz 1997; the tsfresh c3 feature):
    *   c3   = mean(x_t · x_{t+ℓ} · x_{t+2ℓ})
    *   trev = mean((x_{t+ℓ} − x_t)³) / mean((x_{t+ℓ} − x_t)²)^{3/2}
    * A linear-Gaussian series has trev ≈ 0 — sawtooth asymmetry (slow
    * build, fast crash — typical of traffic incidents) shows up as
    * trev ≠ 0 where autocorrelation sees nothing. Two lead windows + one
    * aggregate; integer inputs keep products exact below 2^53. Output:
    * one row (n, c3, trev).
    */
  def c3Trev(df: DataFrame, tsCol: String, valCol: String,
             lagStep: Int = 1): DataFrame = {
    require(lagStep >= 1, s"c3Trev: lagStep must be >= 1, got $lagStep")
    val v = col(valCol).cast("double")
    val w = Window.orderBy(col(tsCol))
    val staged = df.filter(v.isNotNull)
      .withColumn("_v0", v)
      .withColumn("_v1", lead(v, lagStep).over(w))
      .withColumn("_v2", lead(v, 2 * lagStep).over(w))
    val d = col("_v1") - col("_v0")
    val agged = staged.agg(count(lit(1)).as("n"),
      avg(when(col("_v2").isNotNull,
        col("_v0") * col("_v1") * col("_v2"))).as("c3"),
      avg(when(col("_v1").isNotNull, d * d * d)).as("_m3"),
      avg(when(col("_v1").isNotNull, d * d)).as("_m2"))
    agged
      .withColumn("trev", when(col("_m2") > 0,
        col("_m3") / sqrt(col("_m2") * col("_m2") * col("_m2"))))
      .select(col("n"), col("c3"), col("trev"))
  }

  /** Chatterjee's rank correlation ξ (Chatterjee 2021, ties-general form):
    * with rows ordered by (x, id) and r_i = #{j : y_j ≤ y_i},
    * l_i = #{j : y_j ≥ y_i},
    *   ξ = 1 − n·Σ_{i<n} |r_{i+1} − r_i| / (2·Σ_i l_i(n − l_i)).
    * ξ → 1 iff y is a measurable FUNCTION of x (not just monotone like
    * Spearman, not just linear like Pearson) and ≈ 0 under independence —
    * the modern default for "does x determine y at all?". Deterministic:
    * x-ties break on idCol (the paper randomizes; a fixed tie-break keeps
    * the statistic oracle-replayable). All counts are exact integers; the
    * single division happens once at the end. Two global-window passes on
    * a pre-aggregated series (bounded rows). Output: one row (n, xi).
    */
  def chatterjeeXi(df: DataFrame, xCol: String, yCol: String,
                   idCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val staged = df.filter(x.isNotNull && y.isNotNull)
      .select(x.as("_x"), y.as("_y"), col(idCol).as("_id"))
      .withColumn("_r", count(lit(1)).over(Window.orderBy(col("_y"))))
      .withColumn("_l", count(lit(1)).over(Window.orderBy(col("_y").desc)))
      .withColumn("_rn",
        lead(col("_r"), 1).over(Window.orderBy(col("_x"), col("_id"))))
      .withColumn("_nn", count(lit(1)).over(Window.partitionBy()))
    val agged = staged.agg(count(lit(1)).as("n"),
      sum(when(col("_rn").isNotNull,
        abs(col("_rn") - col("_r"))).otherwise(0L)).as("_num"),
      sum(col("_l") * (col("_nn") - col("_l"))).as("_den"))
    agged
      .withColumn("xi", when(col("_den") > 0,
        lit(1.0) - col("n").cast("double") * col("_num").cast("double") /
          (lit(2.0) * col("_den").cast("double"))))
      .select(col("n"), col("xi"))
  }

  /** Hoeffding's D test of independence (Hoeffding 1948, midrank form):
    * with u(t) = 1 if t>0, ½ if t=0, 0 if t<0 and per-row sums over j≠i
    *   a_i = Σ u(x_i−x_j), b_i = Σ u(y_i−y_j), q_i = Σ u(x_i−x_j)u(y_i−y_j),
    *   D1 = Σ q_i(q_i−1), D2 = Σ a_i(a_i−1)b_i(b_i−1),
    *   D3 = Σ (a_i−1)(b_i−1)q_i,
    *   D  = 30·((n−2)(n−3)D1 + D2 − 2(n−2)D3) / (n(n−1)(n−2)(n−3)(n−4)).
    * D detects ANY dependence with ξ-like generality but a classical null
    * distribution; D = 1 at perfect monotone dependence. The q_i sums need
    * the bivariate joint, hence one self-join — intended for bounded
    * pre-aggregated series (daily buckets), never raw events; half-integer
    * midranks are exact in doubles. Output: one row (n, d_stat).
    */
  def hoeffdingD(df: DataFrame, xCol: String, yCol: String,
                 idCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val base = df.filter(x.isNotNull && y.isNotNull)
      .select(col(idCol).as("_id"), x.as("_x"), y.as("_y"))
    val other = base.select(col("_id").as("_jd"), col("_x").as("_xj"),
      col("_y").as("_yj"))
    def u(d: Column): Column =
      when(d > 0, 1.0).when(d === 0, 0.5).otherwise(0.0)
    val per = base.join(other, col("_id") =!= col("_jd"))
      .groupBy(col("_id"))
      .agg(sum(u(col("_x") - col("_xj"))).as("_a"),
        sum(u(col("_y") - col("_yj"))).as("_b"),
        sum(u(col("_x") - col("_xj")) * u(col("_y") - col("_yj")))
          .as("_q"))
    val agged = per.agg(count(lit(1)).cast("double").as("_n"),
      sum(col("_q") * (col("_q") - 1)).as("_d1"),
      sum(col("_a") * (col("_a") - 1) * col("_b") * (col("_b") - 1))
        .as("_d2"),
      sum((col("_a") - 1) * (col("_b") - 1) * col("_q")).as("_d3"))
    val n = col("_n")
    agged
      .withColumn("d_stat", when(n >= 5,
        lit(30.0) * ((n - 2) * (n - 3) * col("_d1") + col("_d2") -
          lit(2.0) * (n - 2) * col("_d3")) /
          (n * (n - 1) * (n - 2) * (n - 3) * (n - 4))))
      .select(n.cast("bigint").as("n"), col("d_stat"))
  }

  /** Distance correlation (Székely, Rizzo & Bakirov 2007, V-statistic):
    * over ALL ordered pairs (i,j) with a_ij = |x_i−x_j|, b_ij = |y_i−y_j|,
    *   dCov² = mean(a·b) + mean(a)·mean(b) − 2·mean_i(rowmean_a·rowmean_b),
    * dVar likewise with a (resp. b) twice, dCor = dCov/√(dVarX·dVarY).
    * dCor = 0 ⟺ independence (for finite first moments) and = 1 at exact
    * linear dependence — the energy-statistics complement of ξ/D above.
    * One self-join + one groupBy on a bounded pre-aggregated series;
    * integer-valued inputs keep every pairwise sum exact. Output: one row
    * (n, dcov2, dvarx2, dvary2, dcor).
    */
  def distanceCorr(df: DataFrame, xCol: String, yCol: String,
                   idCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val base = df.filter(x.isNotNull && y.isNotNull)
      .select(col(idCol).as("_id"), x.as("_x"), y.as("_y"))
    val other = base.select(col("_id").as("_jd"), col("_x").as("_xj"),
      col("_y").as("_yj"))
    val perRow = base.join(other, lit(true))
      .select(col("_id"), abs(col("_x") - col("_xj")).as("_a"),
        abs(col("_y") - col("_yj")).as("_b"))
      .groupBy(col("_id"))
      .agg(sum(col("_a") * col("_b")).as("_sab"),
        sum(col("_a") * col("_a")).as("_saa"),
        sum(col("_b") * col("_b")).as("_sbb"),
        sum(col("_a")).as("_ra"), sum(col("_b")).as("_rb"))
    val agged = perRow.agg(count(lit(1)).cast("double").as("_n"),
      sum(col("_sab")).as("_tab"), sum(col("_saa")).as("_taa"),
      sum(col("_sbb")).as("_tbb"),
      sum(col("_ra")).as("_ga"), sum(col("_rb")).as("_gb"),
      sum(col("_ra") * col("_rb")).as("_rab"),
      sum(col("_ra") * col("_ra")).as("_raa"),
      sum(col("_rb") * col("_rb")).as("_rbb"))
    val n = col("_n")
    def vstat(pairSum: Column, gA: Column, gB: Column,
              rowProd: Column): Column =
      pairSum / (n * n) + (gA / (n * n)) * (gB / (n * n)) -
        lit(2.0) * rowProd / (n * n * n)
    agged
      .withColumn("dcov2",
        vstat(col("_tab"), col("_ga"), col("_gb"), col("_rab")))
      .withColumn("dvarx2",
        vstat(col("_taa"), col("_ga"), col("_ga"), col("_raa")))
      .withColumn("dvary2",
        vstat(col("_tbb"), col("_gb"), col("_gb"), col("_rbb")))
      .withColumn("dcor",
        when(col("dvarx2") > 0 && col("dvary2") > 0 && col("dcov2") >= 0,
          sqrt(col("dcov2") / sqrt(col("dvarx2") * col("dvary2")))))
      .select(n.cast("bigint").as("n"), col("dcov2"), col("dvarx2"),
        col("dvary2"), col("dcor"))
  }

  /** Binary transfer entropy x→y at lag 1 (Schreiber 2000): both series
    * are binarized ABOVE their own exact median (b = 1{v > median}), then
    *   TE = Σ p(y′,y,x) · ln( p(y′,y,x)·p(y) / (p(y,x)·p(y′,y)) )
    * over the (y′ = lead(y), y, x) transition triples — the directed,
    * model-free "does knowing x's past reduce surprise in y's future
    * beyond y's own past?" companion of q318's Granger F (which only sees
    * linear coupling). All probabilities are exact rational counts over
    * T = n−1 transitions; ln runs once per observed triple (≤ 8), so the
    * result is cross-engine exact. Output: one row
    * (t = transitions, te_nats).
    */
  def transferEntropy(df: DataFrame, tsCol: String, xCol: String,
                      yCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val base = df.filter(x.isNotNull && y.isNotNull)
      .select(col(tsCol).as("_t"), x.as("_x"), y.as("_y"))
    val med = base.agg(percentile(col("_x"), lit(0.5)).as("_mx"),
      percentile(col("_y"), lit(0.5)).as("_my"))
    val w = Window.orderBy(col("_t"))
    val tri = base.crossJoin(broadcast(med))
      .select((col("_x") > col("_mx")).cast("int").as("_xb"),
        (col("_y") > col("_my")).cast("int").as("_yb"), col("_t"))
      .withColumn("_y1", lead(col("_yb"), 1).over(w))
      .filter(col("_y1").isNotNull)
    val c3 = tri.groupBy(col("_y1"), col("_yb"), col("_xb"))
      .agg(count(lit(1)).as("_c3"))
    val c2a = tri.groupBy(col("_yb").as("_yb2"), col("_xb").as("_xb2"))
      .agg(count(lit(1)).as("_c2a"))
    val c2b = tri.groupBy(col("_y1").as("_y12"), col("_yb").as("_yb3"))
      .agg(count(lit(1)).as("_c2b"))
    val c1 = tri.groupBy(col("_yb").as("_yb4")).agg(count(lit(1)).as("_c1"))
    val joined = c3
      .join(broadcast(c2a),
        col("_yb") === col("_yb2") && col("_xb") === col("_xb2"))
      .join(broadcast(c2b),
        col("_y1") === col("_y12") && col("_yb") === col("_yb3"))
      .join(broadcast(c1), col("_yb") === col("_yb4"))
    joined.agg(sum(col("_c3")).as("t"),
        sum(col("_c3").cast("double") *
          log(col("_c3").cast("double") * col("_c1").cast("double") /
            (col("_c2a").cast("double") * col("_c2b").cast("double"))))
          .as("_num"))
      .select(col("t"),
        (col("_num") / col("t").cast("double")).as("te_nats"))
  }

  /** Two-sample Anderson–Darling A² (Scholz & Stephens 1987, version-1
    * k=2): pool both arms, order by (value, id) — the deterministic
    * tie-break keeps ranks oracle-replayable — and with M_i = # of arm-A
    * values among the i smallest of the N pooled,
    *   A² = (1/n_a + 1/n_b) · Σ_{i=1}^{N−1} (N·M_i − n_a·i)² / (i(N−i)N).
    * Weighting by 1/(i(N−i)) makes A² far more tail-sensitive than q142's
    * KS or q313's CvM — the right default for "did the DISTRIBUTION of
    * purchase values shift in the tails?". One global sort window over the
    * pooled arms (bounded by the arm filter), integer M_i exact. Output:
    * one row (n_a, n_b, a2).
    */
  def adTwoSample(df: DataFrame, armCol: String, armA: String, armB: String,
                  valCol: String, idCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val pooled = df.filter(v.isNotNull &&
        (col(armCol) === armA || col(armCol) === armB))
      .select((col(armCol) === armA).cast("int").as("_isa"), v.as("_v"),
        col(idCol).as("_id"))
    val w = Window.orderBy(col("_v"), col("_id"))
    val staged = pooled
      .withColumn("_i", row_number().over(w))
      .withColumn("_m", sum(col("_isa")).over(w))
      .withColumn("_nn", count(lit(1)).over(Window.partitionBy()))
      .withColumn("_na", sum(col("_isa")).over(Window.partitionBy()))
    val nn = col("_nn").cast("double")
    val na = col("_na").cast("double")
    val term = (nn * col("_m").cast("double") -
      na * col("_i").cast("double"))
    staged.filter(col("_i") < col("_nn"))
      .agg(max(col("_na")).as("n_a"),
        max(col("_nn") - col("_na")).as("n_b"),
        sum(term * term /
          (col("_i").cast("double") * (nn - col("_i").cast("double")) * nn))
          .as("_s"),
        max(lit(1.0) / na + lit(1.0) / (nn - na)).as("_w"))
      .select(col("n_a"), col("n_b"), (col("_s") * col("_w")).as("a2"))
  }

  /** Baumgartner–Weiß–Schindler two-sample B statistic (BWS 1998): with
    * arm A's sorted values holding pooled ranks R_1 < … < R_{n_a},
    *   B_A = (1/n_a) Σ_i (R_i − (N/n_a)·i)² /
    *         ( (i/(n_a+1))(1 − i/(n_a+1)) · n_b·N/n_a ),
    * B_B symmetric, B = (B_A + B_B)/2. The variance-rescaled ECDF gap
    * weights BOTH tails fully (unlike KS's sup or CvM's uniform weight) —
    * shown by BWS to dominate both for location-scale alternatives.
    * Pooled ranks break ties on idCol (deterministic, oracle-replayable);
    * two window passes, integer ranks exact. Output: one row
    * (n_a, n_b, b_stat).
    */
  def bws(df: DataFrame, armCol: String, armA: String, armB: String,
          valCol: String, idCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val pooled = df.filter(v.isNotNull &&
        (col(armCol) === armA || col(armCol) === armB))
      .select((col(armCol) === armA).cast("int").as("_isa"), v.as("_v"),
        col(idCol).as("_id"))
      .withColumn("_r",
        row_number().over(Window.orderBy(col("_v"), col("_id"))))
      .withColumn("_i", row_number().over(
        Window.partitionBy(col("_isa")).orderBy(col("_v"), col("_id"))))
      .withColumn("_na", sum(col("_isa")).over(Window.partitionBy()))
      .withColumn("_nn", count(lit(1)).over(Window.partitionBy()))
    val nn = col("_nn").cast("double")
    val na = col("_na").cast("double")
    val nb = nn - na
    val nOwn = when(col("_isa") === 1, na).otherwise(nb)
    val nOther = when(col("_isa") === 1, nb).otherwise(na)
    val i = col("_i").cast("double")
    val gap = col("_r").cast("double") - (nn / nOwn) * i
    val frac = i / (nOwn + 1)
    val term = gap * gap / (frac * (lit(1.0) - frac) * nOther * nn / nOwn)
    pooled
      .groupBy(col("_isa"))
      .agg(max(col("_na")).as("_gna"), max(col("_nn")).as("_gnn"),
        (sum(term) / max(nOwn)).as("_bpart"))
      .agg(max(col("_gna")).as("n_a"),
        max(col("_gnn") - col("_gna")).as("n_b"),
        (sum(col("_bpart")) / 2).as("b_stat"))
  }

  /** Bartels' rank version of von Neumann's ratio (Bartels 1982) — the
    * nonparametric randomness test: with ranks R_1…R_n in TIME order,
    *   RVN = Σ_{i<n} (R_i − R_{i+1})² / Σ_i (R_i − R̄)²,
    * RVN ≈ 2 under randomness, < 2 under positive serial dependence
    * (trend/persistence), > 2 under alternation. Ranks here are
    * `row_number` over (value, ts) — a deterministic tie-break instead of
    * midranks, keeping the statistic oracle-replayable — so the
    * denominator is exactly n(n²−1)/12. The standardization uses Bartels'
    * exact null variance 4(n−2)(5n²−2n−9)/(5n(n+1)(n−1)²).
    * One bounded series, two window passes. Output: (n, rvn, z).
    */
  def bartelsRank(df: DataFrame, tsCol: String, valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val staged = df.filter(v.isNotNull)
      .select(col(tsCol).as("_t"), v.as("_v"))
      .withColumn("_r",
        row_number().over(Window.orderBy(col("_v"), col("_t")))
          .cast("double"))
      .withColumn("_rn", lead(col("_r"), 1).over(Window.orderBy(col("_t"))))
    val agged = staged.agg(count(lit(1)).as("n"),
      sum(when(col("_rn").isNotNull,
        (col("_r") - col("_rn")) * (col("_r") - col("_rn")))
        .otherwise(0.0)).as("_num"))
    val n = col("n").cast("double")
    agged
      .withColumn("rvn", when(col("n") >= 2,
        col("_num") / (n * (n * n - 1) / 12.0)))
      .withColumn("z", when(col("n") >= 4,
        (col("rvn") - 2.0) /
          sqrt(lit(4.0) * (n - 2) * (lit(5.0) * n * n - n * 2 - 9) /
            (lit(5.0) * n * (n + 1) * (n - 1) * (n - 1)))))
      .select(col("n"), col("rvn"), col("z"))
  }

  /** Nadaraya–Watson kernel regression (Nadaraya 1964, Watson 1964) —
    * the nonparametric trend CURVE where [[coxStuart]]/Mann–Kendall only
    * give a trend verdict: at each requested grid point g,
    *   ŷ(g) = Σ_i K((g − x_i)/h)·y_i / Σ_i K((g − x_i)/h),
    * with the Gaussian kernel K(u) = exp(−u²/2). Bandwidth h is the
    * caller's smoothing knob (small h → wiggly, large h → flat). The
    * grid is a bounded literal list, so the plan is one explode of
    * |grid| per row and one groupBy(g) — no pairwise blowup, no sort.
    * Output: one row per grid point (g, yhat, n).
    */
  def nadarayaWatson(df: DataFrame, xCol: String, yCol: String,
                     bandwidth: Double, grid: Seq[Double]): DataFrame = {
    require(bandwidth > 0, s"bandwidth must be positive, got $bandwidth")
    require(grid.nonEmpty, "grid must be non-empty")
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val staged = df.filter(x.isNotNull && y.isNotNull)
      .select(x.as("_x"), y.as("_y"),
        explode(array(grid.map(lit): _*)).as("_g"))
    val t = (col("_g") - col("_x")) / lit(bandwidth)
    staged
      .withColumn("_w", exp(-(t * t) / 2))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("n"), sum(col("_w") * col("_y")).as("_wy"),
        sum(col("_w")).as("_w0"))
      .select(col("_g").as("g"),
        when(col("_w0") > 0, col("_wy") / col("_w0")).as("yhat"), col("n"))
  }

  /** Gumbel probability-plot correlation coefficient — the PPCC
    * goodness-of-fit (Filliben 1975 technique, Gumbel plotting variant
    * standard in hydrology): sort the block maxima ascending with a
    * deterministic (value, id) tie-break, give rank i the Gringorten
    * plotting position p_i = (i − 0.44)/(n + 0.12), and correlate the
    * ordered sample with the Gumbel reduced variates
    * m_i = −ln(−ln p_i). PPCC near 1 ⇒ the maxima are Gumbel — the
    * pre-check that licenses q-return-level extrapolation. Pearson r is
    * expanded from one pass of raw sums. Output: (n, ppcc).
    */
  def gumbelPpcc(df: DataFrame, valCol: String, idCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val staged = df.filter(v.isNotNull)
      .select(v.as("_x"), col(idCol).as("_id"))
      .withColumn("_i",
        row_number().over(Window.orderBy(col("_x"), col("_id")))
          .cast("double"))
      .withColumn("_n",
        count(lit(1)).over(Window.partitionBy()).cast("double"))
      .withColumn("_m", -log(-log((col("_i") - 0.44) / (col("_n") + 0.12))))
    val agged = staged.agg(count(lit(1)).as("n"),
      sum(col("_x")).as("_sx"), sum(col("_m")).as("_sm"),
      sum(col("_x") * col("_m")).as("_sxm"),
      sum(col("_x") * col("_x")).as("_sxx"),
      sum(col("_m") * col("_m")).as("_smm"))
    val nd = col("n").cast("double")
    val cov = col("_sxm") - col("_sx") * col("_sm") / nd
    val vx = col("_sxx") - col("_sx") * col("_sx") / nd
    val vm = col("_smm") - col("_sm") * col("_sm") / nd
    agged
      .withColumn("ppcc", when(vx > 0 && vm > 0, cov / sqrt(vx * vm)))
      .select(col("n"), col("ppcc"))
  }

  /** Lomb–Scargle periodogram for UNEVENLY sampled series (Lomb 1976,
    * Scargle 1982) at candidate periods: unlike the Schuster periodogram
    * ([[graft.operators.Features.periodogram]]) which assumes integer
    * phases, this evaluates true time offsets, so missing buckets and
    * irregular spacing do not smear power. The phase shift τ that makes
    * the cos/sin basis orthogonal is derived WITHOUT atan2 (which is not
    * cross-engine reproducible) via half-angle algebra: with
    * C2 = Σcos 2ωt, S2 = Σsin 2ωt, R = √(C2²+S2²),
    *   cos ωτ = √((1 + C2/R)/2),  sin ωτ = sign(S2)·√((1 − C2/R)/2),
    * and then Σcos²ω(t−τ) = (n+R)/2, Σsin²ω(t−τ) = (n−R)/2 exactly.
    *   P(ω) = [ (Σz·cosω(t−τ))²/((n+R)/2)
    *          + (Σz·sinω(t−τ))²/((n−R)/2) ] / (2σ²),  σ² = Σz²/n,
    * z mean-centered. One window pass (mean + t origin) and one
    * aggregation carrying 4 trig sums per candidate period. Times are
    * taken in SECONDS from the series minimum (exact long arithmetic
    * before the single double division). Output: one row per period
    * (period_sec, power, n).
    */
  def lombScargle(df: DataFrame, tsCol: String, valCol: String,
                  periodsSec: Seq[Double]): DataFrame = {
    require(periodsSec.nonEmpty && periodsSec.forall(_ > 0),
      s"periods must be positive, got $periodsSec")
    val v = col(valCol).cast("double")
    val us = unix_micros(col(tsCol).cast("timestamp"))
    val staged = df.filter(v.isNotNull && col(tsCol).isNotNull)
      .select(us.as("_us"), v.as("_v"))
      .withColumn("_t",
        ((col("_us") - min(col("_us")).over(Window.partitionBy()))
          .cast("double") / 1e6))
      .withColumn("_z", col("_v") - avg(col("_v")).over(Window.partitionBy()))
    val sums = periodsSec.zipWithIndex.flatMap { case (p, k) =>
      val w = 2.0 * math.Pi / p
      val ang = col("_t") * lit(w)
      Seq(sum(col("_z") * cos(ang)).as(s"_cz$k"),
        sum(col("_z") * sin(ang)).as(s"_sz$k"),
        sum(cos(ang * 2)).as(s"_c2$k"),
        sum(sin(ang * 2)).as(s"_s2$k"))
    }
    val aggs = Seq(count(lit(1)).as("n"),
      sum(col("_z") * col("_z")).as("_zz")) ++ sums
    val agged = staged.agg(aggs.head, aggs.tail: _*)
    val nd = col("n").cast("double")
    val sig2 = col("_zz") / nd
    val rows = periodsSec.zipWithIndex.map { case (p, k) =>
      val r = sqrt(col(s"_c2$k") * col(s"_c2$k") +
        col(s"_s2$k") * col(s"_s2$k"))
      val cosT = when(r > 0, sqrt((lit(1.0) + col(s"_c2$k") / r) / 2))
        .otherwise(1.0)
      val sinT = when(r > 0,
        signum(col(s"_s2$k")) * sqrt((lit(1.0) - col(s"_c2$k") / r) / 2))
        .otherwise(0.0)
      val cTerm = col(s"_cz$k") * cosT + col(s"_sz$k") * sinT
      val sTerm = col(s"_sz$k") * cosT - col(s"_cz$k") * sinT
      val cc = (nd + r) / 2
      val ss = (nd - r) / 2
      val p1 = when(cc > 0, cTerm * cTerm / cc).otherwise(0.0)
      val p2 = when(ss > 0, sTerm * sTerm / ss).otherwise(0.0)
      struct(lit(p).as("period_sec"),
        when(sig2 > 0, (p1 + p2) / (lit(2.0) * sig2)).as("power"))
    }
    agged.select(col("n"), explode(array(rows: _*)).as("_e"))
      .select(col("_e.period_sec").as("period_sec"), col("_e.power").as("power"),
        col("n"))
  }

  /** Detrended fluctuation analysis (Peng et al. 1994) — the
    * scaling-exponent estimate that works on nonstationary series where
    * q-autocorrelation/Hurst R/S breaks down: integrate the centered
    * series into a profile Y_k = Σ_{i≤k}(v_i − v̄), cut it into
    * ⌊n/s⌋ non-overlapping boxes of each size s, least-squares detrend
    * each box, and measure F²(s) = mean squared residual. The DFA
    * exponent α is the log–log slope of F(s) vs s (α ≈ 0.5 white noise,
    * 1.0 1/f, 1.5 Brownian). Per-box OLS residuals come from the closed
    * form SSres = Syy − Sxy²/Sxx on centered box sums — one explode of
    * |boxSizes| per row, one (size, box) aggregation, one |boxSizes|-row
    * reduction; no iteration. α uses only sizes with F² > 0.
    * Output: one row per s (s, nboxes, f2, alpha — alpha repeated).
    */
  def dfa(df: DataFrame, tsCol: String, valCol: String,
          boxSizes: Seq[Int]): DataFrame = {
    require(boxSizes.nonEmpty && boxSizes.forall(_ >= 3),
      s"box sizes must all be >= 3, got $boxSizes")
    val v = col(valCol).cast("double")
    val staged = df.filter(v.isNotNull)
      .select(col(tsCol).as("_t"), v.as("_v"))
      .withColumn("_k",
        row_number().over(Window.orderBy(col("_t"))).cast("double"))
      .withColumn("_mu", avg(col("_v")).over(Window.partitionBy()))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("_y",
        sum(col("_v")).over(Window.orderBy(col("_t"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) -
          col("_k") * col("_mu"))
    val boxed = staged
      .select(col("_k"), col("_y"), col("_n"),
        explode(array(boxSizes.map(lit): _*)).as("_s"))
      .withColumn("_b", floor((col("_k") - 1) / col("_s")))
      .filter(col("_b") < floor(col("_n") / col("_s")))
    val perBox = boxed.groupBy(col("_s"), col("_b"))
      .agg(count(lit(1)).cast("double").as("_m"),
        sum(col("_k")).as("_sk"), sum(col("_y")).as("_sy"),
        sum(col("_k") * col("_y")).as("_sky"),
        sum(col("_k") * col("_k")).as("_skk"),
        sum(col("_y") * col("_y")).as("_syy"))
    val sxx = col("_skk") - col("_sk") * col("_sk") / col("_m")
    val sxy = col("_sky") - col("_sk") * col("_sy") / col("_m")
    val syy = col("_syy") - col("_sy") * col("_sy") / col("_m")
    val perSize = perBox
      .withColumn("_ssres", syy - sxy * sxy / sxx)
      .groupBy(col("_s"))
      .agg(count(lit(1)).as("nboxes"),
        (sum(col("_ssres")) /
          (count(lit(1)) * col("_s")).cast("double")).as("f2"))
    val pts = perSize
      .withColumn("_xl", log(col("_s").cast("double")))
      .withColumn("_yl", when(col("f2") > 0, log(col("f2")) / 2))
    val fit = pts.filter(col("_yl").isNotNull)
      .agg(count(lit(1)).cast("double").as("_np"),
        sum(col("_xl")).as("_sx"), sum(col("_yl")).as("_sy2"),
        sum(col("_xl") * col("_yl")).as("_sxy2"),
        sum(col("_xl") * col("_xl")).as("_sxx2"))
      .select(when(col("_np") >= 2,
        (col("_sxy2") - col("_sx") * col("_sy2") / col("_np")) /
          (col("_sxx2") - col("_sx") * col("_sx") / col("_np")))
        .as("alpha"))
    pts.crossJoin(fit)
      .select(col("_s").as("s"), col("nboxes"), col("f2"), col("alpha"))
  }

  /** Weibull fit by median-rank regression (the standard "Weibull paper"
    * estimator of reliability engineering): sort the positive sample
    * ascending with a deterministic (value, id) tie-break, assign Benard
    * median ranks p_i = (i − 0.3)/(n + 0.4), and regress
    * y_i = ln(−ln(1 − p_i)) on x_i = ln v_i. The slope is the shape k
    * and exp(−intercept/k) the scale λ — exact whenever the sample lies
    * on a Weibull quantile curve, robust to moment blowup unlike MLE,
    * and fully closed-form (one rank window + one sums pass).
    * Output: (n, shape, scale_).
    */
  def weibullMrr(df: DataFrame, valCol: String, idCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val staged = df.filter(v.isNotNull && v > 0)
      .select(v.as("_v"), col(idCol).as("_id"))
      .withColumn("_i",
        row_number().over(Window.orderBy(col("_v"), col("_id")))
          .cast("double"))
      .withColumn("_n",
        count(lit(1)).over(Window.partitionBy()).cast("double"))
      .withColumn("_x", log(col("_v")))
      .withColumn("_y",
        log(-log(lit(1.0) - (col("_i") - 0.3) / (col("_n") + 0.4))))
    val agged = staged.agg(count(lit(1)).as("n"),
      sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
      sum(col("_x") * col("_y")).as("_sxy"),
      sum(col("_x") * col("_x")).as("_sxx"))
    val nd = col("n").cast("double")
    val sxx = col("_sxx") - col("_sx") * col("_sx") / nd
    val sxy = col("_sxy") - col("_sx") * col("_sy") / nd
    agged
      .withColumn("shape", when(col("n") >= 2 && sxx > 0, sxy / sxx))
      .withColumn("scale_", when(col("shape").isNotNull && col("shape") =!= 0,
        exp(-(col("_sy") / nd - col("shape") * col("_sx") / nd) /
          col("shape"))))
      .select(col("n"), col("shape"), col("scale_"))
  }

  /** Allan variance (Allan 1966) — the frequency-stability ladder used
    * for oscillators and, here, metric-stream stability: bucket the
    * time-ordered series into non-overlapping groups of τ consecutive
    * points, take group means M_g, and
    *   AVAR(τ) = Σ_{g<G−1} (M_{g+1} − M_g)² / (2(G−1)).
    * Plotting AVAR against τ separates white noise (slope −1) from
    * flicker (flat) from random walk (slope +1) — the "which noise
    * regime is this metric in?" diagnostic that a single variance can't
    * answer. One explode of |taus| per row, one (τ, group) aggregation,
    * one lead pass. Partial trailing groups are dropped. Output: one row
    * per τ (tau, groups, avar).
    */
  def allanVariance(df: DataFrame, tsCol: String, valCol: String,
                    taus: Seq[Int]): DataFrame = {
    require(taus.nonEmpty && taus.forall(_ >= 1),
      s"taus must all be >= 1, got $taus")
    val v = col(valCol).cast("double")
    val staged = df.filter(v.isNotNull)
      .select(col(tsCol).as("_t"), v.as("_v"))
      .withColumn("_k", row_number().over(Window.orderBy(col("_t"))))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy()))
      .select(col("_k"), col("_v"), col("_n"),
        explode(array(taus.map(lit): _*)).as("_tau"))
      .withColumn("_g", floor((col("_k") - 1) / col("_tau")))
      .filter(col("_g") < floor(col("_n") / col("_tau")))
    val grouped = staged.groupBy(col("_tau"), col("_g"))
      .agg(avg(col("_v")).as("_m"))
      .withColumn("_mn", lead(col("_m"), 1)
        .over(Window.partitionBy(col("_tau")).orderBy(col("_g"))))
    grouped.groupBy(col("_tau").as("tau"))
      .agg(count(lit(1)).as("groups"),
        (sum(when(col("_mn").isNotNull,
          (col("_mn") - col("_m")) * (col("_mn") - col("_m")))
          .otherwise(0.0)) /
          (lit(2.0) * (count(lit(1)) - 1).cast("double"))).as("avar"))
  }

  /** Empirical temporal (semi)variogram (Matheron 1963): at each
    * requested integer lag h,
    *   γ(h) = Σ_{pairs at lag h} (x_{t+h} − x_t)² / (2·N_h),
    * where pairs are matched on the ACTUAL time index (days since the
    * series start), so calendar gaps produce fewer pairs instead of
    * silently misaligned ones — the nonstationarity-robust cousin of the
    * ACF (it needs no mean/variance normalization and stays defined
    * under drift). One equi-join per the exploded lag column on the
    * bounded pre-aggregated series. Output: one row per lag
    * (h, n_pairs, gamma).
    */
  def variogram(df: DataFrame, tsCol: String, valCol: String,
                lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1),
      s"lags must all be >= 1, got $lags")
    val v = col(valCol).cast("double")
    val base = df.filter(v.isNotNull)
      .select(col(tsCol).as("_d"), v.as("_v"))
      .withColumn("_dd",
        datediff(col("_d"), min(col("_d")).over(Window.partitionBy())))
    val left = base
      .select(col("_dd"), col("_v"),
        explode(array(lags.map(lit): _*)).as("_h"))
    val right = base.select(col("_dd").as("_dd2"), col("_v").as("_v2"))
    left.join(right, col("_dd2") === col("_dd") + col("_h"))
      .groupBy(col("_h").as("h"))
      .agg(count(lit(1)).as("n_pairs"),
        (sum((col("_v2") - col("_v")) * (col("_v2") - col("_v"))) /
          (lit(2.0) * count(lit(1)).cast("double"))).as("gamma"))
  }

  /** Ripley's K for 1-D temporal point patterns (Ripley 1977, adapted to
    * the line): with event times t_1…t_n over an observed span
    * T = t_max − t_min and
    *   P(r) = Σ_i #{j ≠ i : |t_i − t_j| ≤ r},
    *   K̂(r) = T·P(r)/n²,
    * the CSR (uniform Poisson) expectation is K(r) ≈ 2r, so
    * ratio = K̂/(2r) > 1 flags clustering at scale r and < 1 inhibition —
    * the multi-scale complement of q-burst detection (which finds WHERE
    * bursts are; this measures HOW clustered the process is per scale).
    * P(r) counts BOTH orientations — ONE two-sided range-frame window
    * pass per r over the time-sorted events (no pairwise join): count
    * over RANGE r·10⁶ µs PRECEDING AND r·10⁶ µs FOLLOWING, minus self —
    * so E[P] ≈ n²·2r/T under CSR and the 2r baseline is calibrated (a
    * one-sided count would read ratio ≈ 0.5 on a uniform process).
    * Output: one row per r (r_sec, n, pairs, k_hat, ratio).
    */
  def ripleyK(df: DataFrame, tsCol: String, rsSec: Seq[Double]): DataFrame = {
    require(rsSec.nonEmpty && rsSec.forall(_ > 0),
      s"radii must be positive, got $rsSec")
    val us = unix_micros(col(tsCol).cast("timestamp"))
    val base = df.filter(col(tsCol).isNotNull).select(us.as("_us"))
    val w = Window.orderBy(col("_us"))
    val counted = rsSec.zipWithIndex.foldLeft(base) { case (acc, (r, k)) =>
      acc.withColumn(s"_c$k",
        count(lit(1)).over(
          w.rangeBetween(-math.round(r * 1e6), math.round(r * 1e6))) - 1)
    }
    val aggs = Seq(count(lit(1)).as("n"),
      ((max(col("_us")) - min(col("_us"))).cast("double") / 1e6)
        .as("_span")) ++
      rsSec.indices.map(k => sum(col(s"_c$k")).as(s"_p$k"))
    val agged = counted.agg(aggs.head, aggs.tail: _*)
    val nd = col("n").cast("double")
    val rows = rsSec.zipWithIndex.map { case (r, k) =>
      val kHat = col("_span") * col(s"_p$k").cast("double") / (nd * nd)
      struct(lit(r).as("r_sec"), col(s"_p$k").as("pairs"),
        kHat.as("k_hat"), (kHat / lit(2.0 * r)).as("ratio"))
    }
    agged.select(col("n"), explode(array(rows: _*)).as("_e"))
      .select(col("_e.r_sec").as("r_sec"), col("n"), col("_e.pairs").as("pairs"),
        col("_e.k_hat").as("k_hat"), col("_e.ratio").as("ratio"))
  }

  /** Epanechnikov kernel density estimate at fixed grid points
    * (Epanechnikov 1969 — the MSE-optimal kernel):
    *   f̂(g) = (1/(n·h)) Σ_i 0.75·(1 − u_i²)·1{|u_i| ≤ 1},
    *   u_i = (g − x_i)/h.
    * The compact support makes far points contribute EXACT zeros (no
    * cross-engine exp-tail noise), and the density curve at a literal
    * grid is the distribution-shape readout that histograms quantize
    * away. One explode of |grid| per row, one groupBy(g).
    * Output: one row per grid point (g, fhat, n).
    */
  def epanechnikovKde(df: DataFrame, valCol: String, bandwidth: Double,
                      grid: Seq[Double]): DataFrame = {
    require(bandwidth > 0, s"bandwidth must be positive, got $bandwidth")
    require(grid.nonEmpty, "grid must be non-empty")
    val x = col(valCol).cast("double")
    val staged = df.filter(x.isNotNull)
      .select(x.as("_x"), explode(array(grid.map(lit): _*)).as("_g"))
    val u = (col("_g") - col("_x")) / lit(bandwidth)
    staged
      .withColumn("_k",
        when(abs(u) <= 1, lit(0.75) * (lit(1.0) - u * u)).otherwise(0.0))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("n"), sum(col("_k")).as("_sk"))
      .select(col("_g").as("g"),
        (col("_sk") / (col("n").cast("double") * bandwidth)).as("fhat"),
        col("n"))
  }

  /** Local LINEAR kernel regression (Fan 1992) — [[nadarayaWatson]] with
    * a first-order term, which removes the boundary and curvature bias
    * that makes NW sag at the series edges: at grid point g, weighted
    * least squares of y on (x − g) with Gaussian weights
    * w = exp(−((x−g)/h)²/2) gives the closed form
    *   ŷ(g) = (S₂T₀ − S₁T₁) / (S₀S₂ − S₁²),
    * S_k = Σ w·u^k, T_k = Σ w·u^k·y, u = x − g. Exact on any globally
    * linear trend (NW is not). Same one-explode one-groupBy plan as NW.
    * Output: one row per grid point (g, yhat, n).
    */
  def localLinear(df: DataFrame, xCol: String, yCol: String,
                  bandwidth: Double, grid: Seq[Double]): DataFrame = {
    require(bandwidth > 0, s"bandwidth must be positive, got $bandwidth")
    require(grid.nonEmpty, "grid must be non-empty")
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val staged = df.filter(x.isNotNull && y.isNotNull)
      .select(x.as("_x"), y.as("_y"),
        explode(array(grid.map(lit): _*)).as("_g"))
    val u = col("_x") - col("_g")
    val t = u / lit(bandwidth)
    val agged = staged
      .withColumn("_w", exp(-(t * t) / 2))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("n"), sum(col("_w")).as("_s0"),
        sum(col("_w") * (col("_x") - col("_g"))).as("_s1"),
        sum(col("_w") * (col("_x") - col("_g")) *
          (col("_x") - col("_g"))).as("_s2"),
        sum(col("_w") * col("_y")).as("_t0"),
        sum(col("_w") * (col("_x") - col("_g")) * col("_y")).as("_t1"))
    val den = col("_s0") * col("_s2") - col("_s1") * col("_s1")
    agged.select(col("_g").as("g"),
      when(den =!= 0,
        (col("_s2") * col("_t0") - col("_s1") * col("_t1")) / den)
        .as("yhat"),
      col("n"))
  }

  /** Hill estimator of the Pareto tail index (Hill 1975): with the k
    * largest observations x₍₁₎ ≥ … ≥ x₍ₖ₎ and the (k+1)-th largest as
    * the threshold x₍ₖ₊₁₎,
    *   1/α̂ = (1/k) Σ_{i≤k} ln(x₍ᵢ₎ / x₍ₖ₊₁₎).
    * α̂ ≈ 1–2 means infinite-variance heavy tails (plan for extreme
    * spikes); α̂ > 4 means near-Gaussian tails — the standard "how heavy
    * is this value distribution's tail really?" readout, exact on any
    * Pareto sample. The ONLY full-data pass is a distributed top-(k+1)
    * (`orderBy(...).limit(k+1)` → TakeOrderedAndProject, never a global
    * window); everything after runs on k+1 rows. Deterministic (value,
    * id) tie-break. Output: one row (n_top = k, threshold, inv_alpha,
    * alpha).
    */
  def hillEstimator(df: DataFrame, valCol: String, idCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val v = col(valCol).cast("double")
    val top = df.filter(v.isNotNull && v > 0)
      .select(v.as("_v"), col(idCol).as("_id"))
      .orderBy(col("_v").desc, col("_id"))
      .limit(k + 1)
    top.agg(count(lit(1)).as("_cnt"), min(col("_v")).as("threshold"),
        sum(log(col("_v"))).as("_slog"))
      .select(lit(k).cast("bigint").as("n_top"), col("threshold"),
        when(col("_cnt") === k + 1,
          (col("_slog") - lit((k + 1).toDouble) * log(col("threshold"))) /
            lit(k.toDouble)).as("inv_alpha"))
      .withColumn("alpha",
        when(col("inv_alpha").isNotNull && col("inv_alpha") > 0,
          lit(1.0) / col("inv_alpha")))
  }

  /** Cornish–Fisher quantile estimate (Cornish & Fisher 1938): adjust
    * the Gaussian quantile z_p for the sample's skewness S and excess
    * kurtosis K via the third-order expansion
    *   w = z + (z²−1)S/6 + (z³−3z)K/24 − (2z³−5z)S²/36,
    *   q̂_p = μ + σ·w,
    * the "what p95 does a non-Gaussian metric imply from four moments
    * only?" estimator — computable from a SINGLE pass of power sums even
    * where storing the data for an exact quantile is off the table, and
    * a drift alarm when it diverges from the exact stored-tier
    * percentile (emitted alongside for comparison). z_p is a caller
    * literal (e.g. 1.6448536269514722 for p95), so the whole statistic
    * is moment algebra. Output: one row (n, mean, sd, skew, ex_kurt,
    * cf_q, exact_q).
    */
  def cornishFisher(df: DataFrame, valCol: String, p: Double,
                    zP: Double): DataFrame = {
    require(p > 0 && p < 1, s"p must be in (0,1), got $p")
    val x = col(valCol).cast("double")
    val agged = df.filter(x.isNotNull)
      .agg(count(lit(1)).as("n"), sum(x).as("_s1"), sum(x * x).as("_s2"),
        sum(x * x * x).as("_s3"), sum(x * x * x * x).as("_s4"),
        percentile(x, lit(p)).as("exact_q"))
    val nd = col("n").cast("double")
    val m1 = col("_s1") / nd
    val m2 = col("_s2") / nd - m1 * m1
    val m3 = col("_s3") / nd - lit(3.0) * m1 * col("_s2") / nd +
      lit(2.0) * m1 * m1 * m1
    val m4 = col("_s4") / nd - lit(4.0) * m1 * col("_s3") / nd +
      lit(6.0) * m1 * m1 * col("_s2") / nd - lit(3.0) * m1 * m1 * m1 * m1
    val z = lit(zP)
    agged
      .withColumn("mean", m1)
      .withColumn("sd", when(m2 > 0, sqrt(m2)))
      .withColumn("skew", when(m2 > 0, m3 / (sqrt(m2) * m2)))
      .withColumn("ex_kurt", when(m2 > 0, m4 / (m2 * m2) - 3.0))
      .withColumn("cf_q", when(col("sd").isNotNull,
        col("mean") + col("sd") * (z +
          (z * z - 1) * col("skew") / 6 +
          (z * z * z - z * 3) * col("ex_kurt") / 24 -
          (z * z * z * 2 - z * 5) * col("skew") * col("skew") / 36)))
      .select(col("n"), col("mean"), col("sd"), col("skew"),
        col("ex_kurt"), col("cf_q"), col("exact_q"))
  }

  /** Recurrence quantification on an integer-valued series (Zbilut &
    * Webber 1992, ε-recurrence): with a recurrence when
    * |x_i − x_j| ≤ ε (i ≠ j; ε and the values INTEGER so the cut is
    * cross-engine exact — never a float boundary),
    *   RR   = #recurrent ordered pairs / n²,
    *   DET₂ = #recurrent pairs whose successor (i+1, j+1) is also
    *          recurrent / #recurrent pairs with a successor in range,
    * the determinism share: high RR + high DET₂ means the series
    * revisits values along PARALLEL trajectories (deterministic
    * structure), high RR + low DET₂ means unstructured level-crowding.
    * One self-join on the bounded pre-aggregated series plus one
    * (i+1, j+1) equi-join of the recurrence set with itself.
    * Output: one row (n, rec_pairs, rr, det2).
    */
  def rqa(df: DataFrame, tsCol: String, valCol: String,
          eps: Long): DataFrame = {
    require(eps >= 0, s"eps must be >= 0, got $eps")
    val v = col(valCol).cast("long")
    val base = df.filter(v.isNotNull)
      .select(col(tsCol).as("_t"), v.as("_v"))
      .withColumn("_i", row_number().over(Window.orderBy(col("_t"))))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy()))
      .drop("_t")
    val other = base.select(col("_i").as("_j"), col("_v").as("_vj"))
    val rec = base.join(other, col("_i") =!= col("_j") &&
        abs(col("_v") - col("_vj")) <= eps)
      .select(col("_i"), col("_j"), col("_n"))
    val succ = rec.select((col("_i") - 1).as("_ip"), (col("_j") - 1).as("_jp"))
    val joined = rec.join(succ,
      col("_i") === col("_ip") && col("_j") === col("_jp"), "left")
    joined.agg(max(col("_n")).as("n"),
        count(lit(1)).as("rec_pairs"),
        sum(when(col("_ip").isNotNull, 1L).otherwise(0L)).as("_det_num"),
        sum(when(col("_i") < col("_n") && col("_j") < col("_n"), 1L)
          .otherwise(0L)).as("_det_den"))
      .withColumn("rr", col("rec_pairs").cast("double") /
        (col("n").cast("double") * col("n").cast("double")))
      .withColumn("det2", when(col("_det_den") > 0,
        col("_det_num").cast("double") / col("_det_den").cast("double")))
      .select(col("n"), col("rec_pairs"), col("rr"), col("det2"))
  }

  /** Poincaré-plot descriptors SD1/SD2 (Brennan, Palaniswami & Kamen
    * 2001 — the HRV standard, applied to metric streams): over
    * successive pairs (x_t, x_{t+1}),
    *   SD1² = Var((x_t − x_{t+1})/√2)   (short-term jitter),
    *   SD2² = Var((x_t + x_{t+1})/√2)   (long-term level spread),
    * population variances. SD1/SD2 ≪ 1 means a smooth drifting level;
    * ≈ 1 means white noise — an interpretable two-number decomposition
    * of successive-difference structure. One lead window + one moment
    * pass. Output: one row (n_pairs, sd1, sd2, sd_ratio).
    */
  def poincareSd(df: DataFrame, tsCol: String, valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val staged = df.filter(v.isNotNull)
      .select(col(tsCol).as("_t"), v.as("_v"))
      .withColumn("_vn", lead(col("_v"), 1).over(Window.orderBy(col("_t"))))
      .filter(col("_vn").isNotNull)
      .withColumn("_d", (col("_v") - col("_vn")) / sqrt(lit(2.0)))
      .withColumn("_s", (col("_v") + col("_vn")) / sqrt(lit(2.0)))
    val agged = staged.agg(count(lit(1)).as("n_pairs"),
      sum(col("_d")).as("_sd1"), sum(col("_d") * col("_d")).as("_sd2"),
      sum(col("_s")).as("_ss1"), sum(col("_s") * col("_s")).as("_ss2"))
    val nd = col("n_pairs").cast("double")
    val v1 = col("_sd2") / nd - (col("_sd1") / nd) * (col("_sd1") / nd)
    val v2 = col("_ss2") / nd - (col("_ss1") / nd) * (col("_ss1") / nd)
    agged
      .withColumn("sd1", when(v1 >= 0, sqrt(v1)))
      .withColumn("sd2", when(v2 >= 0, sqrt(v2)))
      .withColumn("sd_ratio", when(col("sd2") > 0, col("sd1") / col("sd2")))
      .select(col("n_pairs"), col("sd1"), col("sd2"), col("sd_ratio"))
  }

  /** Mean Teager–Kaiser energy (Kaiser 1990): the discrete energy
    * operator Ψ[x]_t = x_t² − x_{t−1}·x_{t+1} tracks INSTANTANEOUS
    * amplitude·frequency energy — it spikes on sharp transients that
    * variance (which sees only level spread) smears out, making the
    * mean Ψ a cheap burst-energy summary per series. Interior points
    * only; integer inputs keep every term exact. One window pass.
    * Output: one row (n_interior, mean_tkeo).
    */
  def tkeo(df: DataFrame, tsCol: String, valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val w = Window.orderBy(col("_t"))
    val staged = df.filter(v.isNotNull)
      .select(col(tsCol).as("_t"), v.as("_v"))
      .withColumn("_vp", lag(col("_v"), 1).over(w))
      .withColumn("_vn", lead(col("_v"), 1).over(w))
      .filter(col("_vp").isNotNull && col("_vn").isNotNull)
    staged.agg(count(lit(1)).as("n_interior"),
        sum(col("_v") * col("_v") - col("_vp") * col("_vn")).as("_s"))
      .select(col("n_interior"),
        (col("_s") / col("n_interior").cast("double")).as("mean_tkeo"))
  }

  /** Engle's ARCH(1) LM test (Engle 1982): volatility clustering check.
    * Center the series, square the deviations s_t = (x_t − x̄)², and
    * regress s_t on s_{t−1}; LM = m·R² (m = #pairs) is asymptotically
    * χ²₁ under "no ARCH". Large LM ⇒ today's variance predicts
    * tomorrow's — variance-stationarity is violated even if the level
    * is stationary (the complement of q-KPSS/Dickey-Fuller which only
    * see the level). R² is squared Pearson correlation from one sums
    * pass over the lag-paired squares. Output: one row (n_pairs, r2, lm).
    */
  def archLm(df: DataFrame, tsCol: String, valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val staged = df.filter(v.isNotNull)
      .select(col(tsCol).as("_t"), v.as("_v"))
      .withColumn("_mu", avg(col("_v")).over(Window.partitionBy()))
      .withColumn("_s",
        (col("_v") - col("_mu")) * (col("_v") - col("_mu")))
      .withColumn("_sp", lag(col("_s"), 1).over(Window.orderBy(col("_t"))))
      .filter(col("_sp").isNotNull)
    val agged = staged.agg(count(lit(1)).cast("double").as("_m"),
      sum(col("_s")).as("_sy"), sum(col("_sp")).as("_sx"),
      sum(col("_s") * col("_sp")).as("_sxy"),
      sum(col("_sp") * col("_sp")).as("_sxx"),
      sum(col("_s") * col("_s")).as("_syy"))
    val m = col("_m")
    val cov = col("_sxy") - col("_sx") * col("_sy") / m
    val vx = col("_sxx") - col("_sx") * col("_sx") / m
    val vy = col("_syy") - col("_sy") * col("_sy") / m
    agged
      .withColumn("r2", when(vx > 0 && vy > 0, cov * cov / (vx * vy)))
      .withColumn("lm", col("_m") * col("r2"))
      .select(m.cast("bigint").as("n_pairs"), col("r2"), col("lm"))
  }

  /** Ferro–Segers intervals estimator of the extremal index (Ferro &
    * Segers 2003): with exceedance positions of x > u (u = the exact
    * p-quantile) and interexceedance gaps T_1…T_{N−1},
    *   θ̂ = min(1, 2(ΣT_i)² / ((N−1)·ΣT_i²))            if max T ≤ 2,
    *   θ̂ = min(1, 2(Σ(T_i−1))² / ((N−1)·Σ(T_i−1)(T_i−2)))  otherwise.
    * θ ≈ 1 means exceedances arrive independently; θ ≈ 1/k means they
    * arrive in clusters of mean size k — the number that corrects naive
    * return-period math when extremes cluster. Gaps are integer index
    * differences (exact); the threshold reuses the engine's exact
    * percentile. Output: one row (n_exceed, threshold, theta).
    */
  def extremalIndex(df: DataFrame, tsCol: String, valCol: String,
                    p: Double): DataFrame = {
    require(p > 0 && p < 1, s"p must be in (0,1), got $p")
    val v = col(valCol).cast("double")
    val staged = df.filter(v.isNotNull)
      .select(col(tsCol).as("_t"), v.as("_v"))
      .withColumn("_i", row_number().over(Window.orderBy(col("_t"))))
      .withColumn("_u",
        percentile(col("_v"), lit(p)).over(Window.partitionBy()))
    val gaps = staged.filter(col("_v") > col("_u"))
      .withColumn("_ip", lag(col("_i"), 1).over(Window.orderBy(col("_i"))))
      .withColumn("_g", (col("_i") - col("_ip")).cast("double"))
    val agged = gaps.agg(count(lit(1)).as("n_exceed"),
      max(col("_u")).as("threshold"), max(col("_g")).as("_gmax"),
      sum(col("_g")).as("_s1"), sum(col("_g") * col("_g")).as("_s2"),
      sum(col("_g") - 1).as("_d1"),
      sum((col("_g") - 1) * (col("_g") - 2)).as("_d2"))
    val nm1 = (col("n_exceed") - 1).cast("double")
    val small = lit(2.0) * col("_s1") * col("_s1") / (nm1 * col("_s2"))
    val big = lit(2.0) * col("_d1") * col("_d1") / (nm1 * col("_d2"))
    agged
      .withColumn("theta", when(col("n_exceed") >= 2,
        least(lit(1.0), when(col("_gmax") <= 2, small)
          .otherwise(when(col("_d2") > 0, big)))))
      .select(col("n_exceed"), col("threshold"), col("theta"))
  }

  /** Mean-excess (mean residual life) curve at literal thresholds:
    *   e(u) = mean(x − u | x > u),  n_u = #{x > u}.
    * The shape over increasing u is THE graphical GPD diagnostic
    * (Davison & Smith 1990): linear-increasing e(u) ⇒ heavy Pareto
    * tail (slope ξ/(1−ξ)), flat ⇒ exponential tail, decreasing ⇒ short
    * tail — it picks the threshold where q-GPD fitting becomes valid.
    * One explode of |thresholds| per row, one groupBy. Output: one row
    * per u (u, n_exceed, mean_excess).
    */
  def meanExcess(df: DataFrame, valCol: String,
                 thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val x = col(valCol).cast("double")
    val staged = df.filter(x.isNotNull)
      .select(x.as("_x"), explode(array(thresholds.map(lit): _*)).as("_u"))
      .filter(col("_x") > col("_u"))
    staged.groupBy(col("_u"))
      .agg(count(lit(1)).as("n_exceed"),
        avg(col("_x") - col("_u")).as("mean_excess"))
      .select(col("_u").as("u"), col("n_exceed"), col("mean_excess"))
  }

  /** Q–Q location-scale decomposition of a two-sample shift: evaluate
    * both arms' exact quantiles on a literal p-grid and regress
    * q_B(p) on q_A(p) by OLS. slope ≈ scale ratio, intercept ≈ location
    * shift, r² ≈ "is B an affine transform of A?" — the interpretable
    * decomposition that a single KS/AD/BWS statistic can't give: it says
    * HOW the distribution moved, not just that it did. Two grouped
    * percentile-array aggregations (one per arm), a posexplode pairing,
    * and one sums pass over |grid| rows. Output: one row
    * (n_q, slope, intercept, r2).
    */
  def qqDecomp(df: DataFrame, armCol: String, armA: String, armB: String,
               valCol: String, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p < 1),
      s"probabilities must be in (0,1), got $ps")
    val v = col(valCol).cast("double")
    val grid = array(ps.map(lit): _*)
    def quants(arm: String, out: String) =
      df.filter(v.isNotNull && col(armCol) === arm)
        .agg(percentile(v, grid).as("_qs"))
        .select(posexplode(col("_qs")).as(Seq("_p", out)))
    val paired = quants(armA, "_qa")
      .join(quants(armB, "_qb").withColumnRenamed("_p", "_p2"),
        col("_p") === col("_p2"))
    val agged = paired.agg(count(lit(1)).cast("double").as("_m"),
      sum(col("_qa")).as("_sx"), sum(col("_qb")).as("_sy"),
      sum(col("_qa") * col("_qb")).as("_sxy"),
      sum(col("_qa") * col("_qa")).as("_sxx"),
      sum(col("_qb") * col("_qb")).as("_syy"))
    val m = col("_m")
    val cov = col("_sxy") - col("_sx") * col("_sy") / m
    val vx = col("_sxx") - col("_sx") * col("_sx") / m
    val vy = col("_syy") - col("_sy") * col("_sy") / m
    agged
      .withColumn("slope", when(vx > 0, cov / vx))
      .withColumn("intercept",
        when(col("slope").isNotNull,
          col("_sy") / m - col("slope") * col("_sx") / m))
      .withColumn("r2", when(vx > 0 && vy > 0, cov * cov / (vx * vy)))
      .select(m.cast("bigint").as("n_q"), col("slope"), col("intercept"),
        col("r2"))
  }

  /** Single-bin cross-spectrum phase alignment at candidate periods: with
    * both series mean-centered on a shared time index and the Schuster
    * sums Cₓ = Σzₓcos ωt, Sₓ = Σzₓsin ωt (likewise y),
    *   re_norm = (CₓC_y + SₓS_y)/√(Sxx·Syy)   (cospectrum = cos Δφ),
    *   im_norm = (SₓC_y − CₓS_y)/√(Sxx·Syy)   (quadrature = sin Δφ),
    * i.e. the cosine/sine of the PHASE LAG between the two series at
    * that period, weighted by how coherent the bin is. re_norm → 1:
    * in-phase at this period; → −1: anti-phase; im_norm ≠ 0: one leads
    * the other by a fraction of the cycle that q-cross-correlation's
    * integer-lag argmax can't resolve. (Raw single-bin coherence is
    * identically 1, so it is NOT reported — this is the honest
    * unsmoothed readout.) One window pass + one aggregation carrying
    * 4 trig sums per period. Output: one row per period
    * (period, sxx, syy, re_norm, im_norm).
    */
  def crossSpectrum(df: DataFrame, tsCol: String, xCol: String,
                    yCol: String, periods: Seq[Int]): DataFrame = {
    require(periods.nonEmpty && periods.forall(_ >= 2),
      s"periods must all be >= 2, got $periods")
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val staged = df.filter(x.isNotNull && y.isNotNull)
      .select(col(tsCol).as("_t"), x.as("_x"), y.as("_y"))
      .withColumn("_i",
        (row_number().over(Window.orderBy(col("_t"))) - 1).cast("double"))
      .withColumn("_zx", col("_x") - avg(col("_x")).over(Window.partitionBy()))
      .withColumn("_zy", col("_y") - avg(col("_y")).over(Window.partitionBy()))
    val sums = periods.flatMap { p =>
      val ang = col("_i") * lit(2.0 * math.Pi / p)
      Seq(sum(col("_zx") * cos(ang)).as(s"_cx$p"),
        sum(col("_zx") * sin(ang)).as(s"_sx$p"),
        sum(col("_zy") * cos(ang)).as(s"_cy$p"),
        sum(col("_zy") * sin(ang)).as(s"_sy$p"))
    }
    val agged = staged.agg(sums.head, sums.tail: _*)
    val rows = periods.map { p =>
      val sxx = col(s"_cx$p") * col(s"_cx$p") + col(s"_sx$p") * col(s"_sx$p")
      val syy = col(s"_cy$p") * col(s"_cy$p") + col(s"_sy$p") * col(s"_sy$p")
      val re = col(s"_cx$p") * col(s"_cy$p") + col(s"_sx$p") * col(s"_sy$p")
      val im = col(s"_sx$p") * col(s"_cy$p") - col(s"_cx$p") * col(s"_sy$p")
      struct(lit(p).as("period"), sxx.as("sxx"), syy.as("syy"),
        when(sxx > 0 && syy > 0, re / sqrt(sxx * syy)).as("re_norm"),
        when(sxx > 0 && syy > 0, im / sqrt(sxx * syy)).as("im_norm"))
    }
    agged.select(explode(array(rows: _*)).as("_e"))
      .select(col("_e.period").as("period"), col("_e.sxx").as("sxx"),
        col("_e.syy").as("syy"), col("_e.re_norm").as("re_norm"),
        col("_e.im_norm").as("im_norm"))
  }

  /** Detrended cross-correlation analysis ρ_DCCA (Podobnik & Stanley
    * 2008; Zebende 2011): [[dfa]] run on TWO series at once — integrate
    * both centered series into profiles, per box OLS-detrend each
    * against the time index, and correlate the RESIDUALS:
    *   ρ_DCCA(s) = ΣresX·resY / √(ΣresX² · ΣresY²)  over all boxes of
    * size s. Detrending first means ρ measures co-movement of the
    * FLUCTUATIONS, immune to both series sharing a trend — the fix for
    * spurious correlation between two drifting metrics. Same
    * explode/groupBy plan as dfa with 3 residual closed forms per box.
    * Output: one row per s (s, nboxes, rho).
    */
  def dcca(df: DataFrame, tsCol: String, xCol: String, yCol: String,
           boxSizes: Seq[Int]): DataFrame = {
    require(boxSizes.nonEmpty && boxSizes.forall(_ >= 3),
      s"box sizes must all be >= 3, got $boxSizes")
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val wAll = Window.partitionBy()
    val wCum = Window.orderBy(col("_t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = df.filter(x.isNotNull && y.isNotNull)
      .select(col(tsCol).as("_t"), x.as("_x"), y.as("_y"))
      .withColumn("_k",
        row_number().over(Window.orderBy(col("_t"))).cast("double"))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_a",
        sum(col("_x")).over(wCum) - col("_k") * avg(col("_x")).over(wAll))
      .withColumn("_b",
        sum(col("_y")).over(wCum) - col("_k") * avg(col("_y")).over(wAll))
    val boxed = staged
      .select(col("_k"), col("_a"), col("_b"), col("_n"),
        explode(array(boxSizes.map(lit): _*)).as("_s"))
      .withColumn("_box", floor((col("_k") - 1) / col("_s")))
      .filter(col("_box") < floor(col("_n") / col("_s")))
    val perBox = boxed.groupBy(col("_s"), col("_box"))
      .agg(count(lit(1)).cast("double").as("_m"),
        sum(col("_k")).as("_sk"), sum(col("_k") * col("_k")).as("_skk"),
        sum(col("_a")).as("_sa"), sum(col("_b")).as("_sb"),
        sum(col("_k") * col("_a")).as("_ska"),
        sum(col("_k") * col("_b")).as("_skb"),
        sum(col("_a") * col("_a")).as("_saa"),
        sum(col("_b") * col("_b")).as("_sbb"),
        sum(col("_a") * col("_b")).as("_sab"))
    val skk = col("_skk") - col("_sk") * col("_sk") / col("_m")
    val ska = col("_ska") - col("_sk") * col("_sa") / col("_m")
    val skb = col("_skb") - col("_sk") * col("_sb") / col("_m")
    val resAA = (col("_saa") - col("_sa") * col("_sa") / col("_m")) -
      ska * ska / skk
    val resBB = (col("_sbb") - col("_sb") * col("_sb") / col("_m")) -
      skb * skb / skk
    val resAB = (col("_sab") - col("_sa") * col("_sb") / col("_m")) -
      ska * skb / skk
    perBox
      .withColumn("_raa", resAA).withColumn("_rbb", resBB)
      .withColumn("_rab", resAB)
      .groupBy(col("_s"))
      .agg(count(lit(1)).as("nboxes"), sum(col("_raa")).as("_taa"),
        sum(col("_rbb")).as("_tbb"), sum(col("_rab")).as("_tab"))
      .select(col("_s").as("s"), col("nboxes"),
        when(col("_taa") > 0 && col("_tbb") > 0,
          col("_tab") / sqrt(col("_taa") * col("_tbb"))).as("rho"))
  }

  /** Dispersion entropy (Rostaghi & Azami 2016, quantile-class variant):
    * map each value to one of m classes by exact rank (`ntile(m)` over a
    * deterministic (value, ts) order — integer-exact, no Gaussian CDF),
    * embed d consecutive classes into a pattern, and take the
    * Shannon entropy of the pattern distribution normalized by
    * ln(m^d) ∈ (0, 1]. The class-based sibling of permutation entropy:
    * it sees AMPLITUDE structure (which ordinal patterns discard) while
    * staying fully rank-robust. Pattern counts are exact integers; one
    * ntile window + d−1 leads + one groupBy. Output: one row
    * (t = patterns, n_distinct, h_norm).
    */
  def dispersionEntropy(df: DataFrame, tsCol: String, valCol: String,
                        m: Int, d: Int): DataFrame = {
    require(m >= 2, s"classes m must be >= 2, got $m")
    require(d >= 2 && d <= 4, s"embedding d must be in [2,4], got $d")
    val v = col(valCol).cast("double")
    val wT = Window.orderBy(col("_t"))
    val base = df.filter(v.isNotNull)
      .select(col(tsCol).as("_t"), v.as("_v"))
      .withColumn("_c",
        ntile(m).over(Window.orderBy(col("_v"), col("_t"))).cast("long"))
    val emb = (1 until d).foldLeft(base) { (acc, j) =>
      acc.withColumn(s"_c$j", lead(col("_c"), j).over(wT))
    }
    val patCol = (1 until d).foldLeft(col("_c")) { (acc, j) =>
      acc * m + col(s"_c$j")
    }
    val pats = emb.filter((1 until d).map(j => col(s"_c$j").isNotNull)
        .reduce(_ && _))
      .select(patCol.as("_pat"))
      .groupBy(col("_pat")).agg(count(lit(1)).as("_cnt"))
    pats.agg(sum(col("_cnt")).as("t"),
        count(lit(1)).as("n_distinct"),
        sum(col("_cnt").cast("double") *
          log(col("_cnt").cast("double"))).as("_slnc"))
      .select(col("t"), col("n_distinct"),
        ((log(col("t").cast("double")) -
          col("_slnc") / col("t").cast("double")) /
          lit(d * math.log(m.toDouble))).as("h_norm"))
  }

  /** Burstiness and memory of an event stream (Goh & Barabási 2008):
    * over the inter-event times τ_i (seconds, exact µs differences),
    *   B = (σ − μ)/(σ + μ)   (−1 periodic, 0 Poisson, →1 bursty),
    *   M = corr(τ_i, τ_{i+1}) (do long gaps follow long gaps?).
    * The (B, M) pair is the standard two-axis classification of
    * human/machine activity streams — a Poisson process sits at (0, 0),
    * cron jobs at (−1, ·), cascading retries in the (+, +) quadrant.
    * Population moments from one sums pass; M from the lag-paired sums.
    * Output: one row (n_gaps, b, mem).
    */
  def burstiness(df: DataFrame, tsCol: String): DataFrame = {
    val us = unix_micros(col(tsCol).cast("timestamp"))
    val gaps = df.filter(col(tsCol).isNotNull)
      .select(us.as("_us"))
      .withColumn("_prev", lag(col("_us"), 1).over(Window.orderBy(col("_us"))))
      .filter(col("_prev").isNotNull)
      .withColumn("_g", (col("_us") - col("_prev")).cast("double") / 1e6)
      .withColumn("_gn", lead(col("_g"), 1).over(Window.orderBy(col("_us"))))
    val agged = gaps.agg(count(lit(1)).cast("double").as("_n"),
      sum(col("_g")).as("_s1"), sum(col("_g") * col("_g")).as("_s2"),
      sum(when(col("_gn").isNotNull, 1L).otherwise(0L))
        .cast("double").as("_m"),
      sum(when(col("_gn").isNotNull, col("_g")).otherwise(0.0)).as("_px"),
      sum(when(col("_gn").isNotNull, col("_gn")).otherwise(0.0)).as("_py"),
      sum(when(col("_gn").isNotNull, col("_g") * col("_gn"))
        .otherwise(0.0)).as("_pxy"),
      sum(when(col("_gn").isNotNull, col("_g") * col("_g"))
        .otherwise(0.0)).as("_pxx"),
      sum(when(col("_gn").isNotNull, col("_gn") * col("_gn"))
        .otherwise(0.0)).as("_pyy"))
    val mu = col("_s1") / col("_n")
    val sig = sqrt(col("_s2") / col("_n") - mu * mu)
    val covP = col("_pxy") - col("_px") * col("_py") / col("_m")
    val vxP = col("_pxx") - col("_px") * col("_px") / col("_m")
    val vyP = col("_pyy") - col("_py") * col("_py") / col("_m")
    agged
      .withColumn("b", when(sig + mu > 0, (sig - mu) / (sig + mu)))
      .withColumn("mem", when(vxP > 0 && vyP > 0, covP / sqrt(vxP * vyP)))
      .select(col("_n").cast("bigint").as("n_gaps"), col("b"), col("mem"))
  }

  /** Peaks-over-threshold runs declustering (Smith 1989): exceedances of
    * the exact p-quantile belong to the same cluster when separated by
    * ≤ runGap positions; a gap > runGap starts a new cluster. Reports
    * the cluster census — the operational companion of
    * [[extremalIndex]] (θ estimates 1/mean-cluster-size; this SHOWS the
    * clusters): n_exceed, n_clusters, mean_size, max_size. Cluster ids
    * are a cumulative sum of integer gap indicators (exact); one sort
    * window over the bounded exceedance set. Output: one row.
    */
  def potClusters(df: DataFrame, tsCol: String, valCol: String,
                  p: Double, runGap: Int): DataFrame = {
    require(p > 0 && p < 1, s"p must be in (0,1), got $p")
    require(runGap >= 1, s"runGap must be >= 1, got $runGap")
    val v = col(valCol).cast("double")
    val staged = df.filter(v.isNotNull)
      .select(col(tsCol).as("_t"), v.as("_v"))
      .withColumn("_i", row_number().over(Window.orderBy(col("_t"))))
      .withColumn("_u",
        percentile(col("_v"), lit(p)).over(Window.partitionBy()))
    val exceed = staged.filter(col("_v") > col("_u"))
      .withColumn("_prev", lag(col("_i"), 1).over(Window.orderBy(col("_i"))))
      .withColumn("_new",
        when(col("_prev").isNull || col("_i") - col("_prev") > runGap, 1L)
          .otherwise(0L))
      .withColumn("_cl", sum(col("_new")).over(Window.orderBy(col("_i"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perCluster = exceed.groupBy(col("_cl"))
      .agg(count(lit(1)).as("_size"))
    perCluster.agg(sum(col("_size")).as("n_exceed"),
        count(lit(1)).as("n_clusters"),
        (sum(col("_size")).cast("double") /
          count(lit(1)).cast("double")).as("mean_size"),
        max(col("_size")).as("max_size"))
      .select(col("n_exceed"), col("n_clusters"), col("mean_size"),
        col("max_size"))
  }

  /** Seasonal Mann–Kendall trend test (Hirsch & Slack 1984): run the MK
    * sign-pair count WITHIN each season (pairs never straddle seasons,
    * so a pure weekly cycle contributes exactly zero), then combine:
    *   S = Σ_s S_s,  Var = Σ_s n_s(n_s−1)(2n_s+5)/18,
    *   Z = (S − sign S)/√Var.
    * THE standard trend test for seasonal series — plain MK mistakes
    * seasonality for trend; this is immune by construction. One
    * within-season self-join on the bounded pre-aggregated series.
    * Output: one row (n, n_seasons, s, z).
    */
  def seasonalMannKendall(df: DataFrame, seasonCol: String, tsCol: String,
                          valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val base = df.filter(v.isNotNull)
      .select(col(seasonCol).as("_sea"), col(tsCol).as("_t"), v.as("_y"))
    val b = base.select(col("_sea").as("_sea2"), col("_t").as("_t2"),
      col("_y").as("_y2"))
    val sPerSeason = base.join(b,
        col("_sea") === col("_sea2") && col("_t2") > col("_t"))
      .groupBy(col("_sea").as("_sea3"))
      .agg(sum(signum(col("_y2") - col("_y")).cast("long")).as("_sraw"))
    // left join from the count side so single-observation seasons (zero
    // pairs) still contribute their n_s to the variance term
    val perSeason = base.groupBy(col("_sea"))
      .agg(count(lit(1)).as("_ns"))
      .join(sPerSeason, col("_sea") === col("_sea3"), "left")
      .withColumn("_s", coalesce(col("_sraw"), lit(0L)))
    val agged = perSeason.agg(sum(col("_ns")).as("n"),
      count(lit(1)).as("n_seasons"), sum(col("_s")).as("s"),
      sum(col("_ns") * (col("_ns") - 1) * (col("_ns") * 2 + 5) / lit(18.0))
        .as("_var"))
    agged
      .withColumn("z", when(col("_var") > 0,
        (col("s") - signum(col("s").cast("double"))) / sqrt(col("_var"))))
      .select(col("n"), col("n_seasons"), col("s"), col("z"))
  }

  /** Fisher's g test for a hidden periodicity (Fisher 1929) over a
    * literal candidate-period set: with Schuster powers P₁…P_N,
    *   g = max P / Σ P,
    *   p = Σ_{j=1}^{N} (−1)^{j−1} C(N,j)·max(0, 1−jg)^{N−1},
    * the null distribution of the largest normalized ordinate (the
    * max(0,·) truncation implements the ⌊1/g⌋ limit). That null is
    * EXACT only when the ordinates are periodogram powers at orthogonal
    * Fourier frequencies k/n of the realized sample length (where the
    * powers are iid exponential under Gaussian white noise); for an
    * arbitrary candidate grid like {3,4,5,7,14,30} the Schuster powers
    * at non-Fourier periods are correlated, so the reported p_value is
    * an APPROXIMATION — still the right ranking statistic, but not an
    * exact tail probability. Restrict `periods` to divisors n/k of the
    * series length when exactness matters. This is the significance
    * test [[graft.operators.Features.dominantPeriod]] lacks: it says
    * whether the winning period is real or what a flat spectrum would
    * produce anyway. The binomial coefficients and the (N−1)-power
    * expand to literal chains — pure arithmetic, no special functions.
    * Output: one row (n, g_stat, p_value).
    */
  def fisherG(df: DataFrame, tsCol: String, valCol: String,
              periods: Seq[Int]): DataFrame = {
    require(periods.size >= 2 && periods.forall(_ >= 2),
      s"need >= 2 candidate periods all >= 2, got $periods")
    val v = col(valCol).cast("double")
    val staged = df.filter(v.isNotNull)
      .select(col(tsCol).as("_t"), v.as("_v"))
      .withColumn("_i",
        (row_number().over(Window.orderBy(col("_t"))) - 1).cast("double"))
      .withColumn("_z", col("_v") - avg(col("_v")).over(Window.partitionBy()))
    val sums = periods.flatMap { p =>
      val ang = col("_i") * lit(2.0 * math.Pi / p)
      Seq(sum(col("_z") * cos(ang)).as(s"_c$p"),
        sum(col("_z") * sin(ang)).as(s"_s$p"))
    }
    val aggs = Seq(count(lit(1)).as("n")) ++ sums
    val agged = staged.agg(aggs.head, aggs.tail: _*)
    val powers = periods.map(p =>
      col(s"_c$p") * col(s"_c$p") + col(s"_s$p") * col(s"_s$p"))
    val total = powers.reduce(_ + _)
    val gCol = when(total > 0, greatest(powers: _*) / total)
    val nCand = periods.size
    def choose(n: Int, k: Int): Double =
      (1 to k).map(i => (n - i + 1).toDouble / i).product
    def intPow(c: Column, e: Int): Column =
      (1 until e).foldLeft(c)((acc, _) => acc * c)
    val pTerms = (1 to nCand).map { j =>
      val base = greatest(lit(0.0), lit(1.0) - col("g_stat") * j)
      lit(if (j % 2 == 1) choose(nCand, j) else -choose(nCand, j)) *
        intPow(base, nCand - 1)
    }
    agged
      .withColumn("g_stat", gCol)
      .withColumn("p_value",
        when(col("g_stat").isNotNull, pTerms.reduce(_ + _)))
      .select(col("n"), col("g_stat"), col("p_value"))
  }

  /** Zero-inflated Poisson moment fit (ZIP MoM): for a count variable
    * with mean m and population variance v,
    *   λ̂ = (v + m² − m)/m,  π̂ = 1 − m/λ̂,
    * the closed-form method-of-moments answer to "are the zeros
    * structural or just Poisson luck?" — π̂ ≈ 0 means plain Poisson
    * (q-Fano ≈ 1 agrees); π̂ → 1 means a dormant-population mixture,
    * which changes capacity math entirely. One moment pass; null when
    * m = 0 or the implied λ ≤ 0. Output: one row
    * (n, mean, var_, lambda_, pi_).
    */
  def zipFit(df: DataFrame, valCol: String): DataFrame = {
    val x = col(valCol).cast("double")
    val agged = df.filter(x.isNotNull)
      .agg(count(lit(1)).cast("double").as("_n"), sum(x).as("_s1"),
        sum(x * x).as("_s2"))
    val m = col("_s1") / col("_n")
    val vv = col("_s2") / col("_n") - m * m
    agged
      .withColumn("mean", m)
      .withColumn("var_", vv)
      .withColumn("lambda_", when(m > 0,
        (col("var_") + col("mean") * col("mean") - col("mean")) /
          col("mean")))
      .withColumn("pi_", when(col("lambda_") > 0,
        lit(1.0) - col("mean") / col("lambda_")))
      .select(col("_n").cast("bigint").as("n"), col("mean"), col("var_"),
        col("lambda_"), col("pi_"))
  }

  /** Syntetos–Boylan demand classification (SBC 2005): over a
    * time-bucketed demand series,
    *   ADI = mean interval between nonzero-demand buckets,
    *   CV² = (σ/μ)² over the nonzero demand sizes (population),
    * and the quadrant cut at ADI 1.32 / CV² 0.49 names the right
    * forecasting family: smooth (SES-class), intermittent (Croston),
    * erratic (robust SES), lumpy (SBA) — the router in front of the
    * engine's q-Croston/q-SBA/q-TSB forecasters. The label is cut on
    * the 6-dp-rounded statistics so the classification is cross-engine
    * stable. Output: one row (n_buckets, n_demand, adi, cv2, label).
    */
  def adiCv2(df: DataFrame, tsCol: String, valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val demands = df.filter(v.isNotNull)
      .select(col(tsCol).as("_t"), v.as("_v"))
      .withColumn("_i", row_number().over(Window.orderBy(col("_t"))))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy()))
      .filter(col("_v") =!= 0.0)
      .withColumn("_ip", lag(col("_i"), 1).over(Window.orderBy(col("_i"))))
    val agged = demands.agg(max(col("_n")).as("n_buckets"),
      count(lit(1)).as("n_demand"),
      avg(when(col("_ip").isNotNull,
        (col("_i") - col("_ip")).cast("double"))).as("_adi"),
      avg(col("_v")).as("_mu"),
      (sum(col("_v") * col("_v")) / count(lit(1)).cast("double")).as("_m2"))
    def r6c(c: Column): Column =
      signum(c) * floor(abs(c) * 1e6 + 0.5) / 1e6
    val withStats = agged
      .withColumn("adi", r6c(col("_adi")))
      .withColumn("cv2", when(col("_mu") =!= 0,
        r6c((col("_m2") - col("_mu") * col("_mu")) /
          (col("_mu") * col("_mu")))))
    withStats
      .withColumn("label",
        when(col("adi").isNull || col("cv2").isNull, lit("unclassified"))
          .when(col("adi") < 1.32 && col("cv2") < 0.49, lit("smooth"))
          .when(col("adi") >= 1.32 && col("cv2") < 0.49, lit("intermittent"))
          .when(col("adi") < 1.32, lit("erratic"))
          .otherwise(lit("lumpy")))
      .select(col("n_buckets"), col("n_demand"), col("adi"), col("cv2"),
        col("label"))
  }

  /** Generalized Hurst exponents H(q) (Barabási & Vicsek 1991; Di
    * Matteo 2007): from the q-th absolute-moment scaling of increments,
    *   K_q(τ) = mean |x_{t+τ} − x_t|^q  ~  τ^{qH(q)},
    * H(q) = slope of ln K_q(τ) on ln τ, divided by q, over a literal
    * lag ladder. H(1) ≈ H(2) means monofractal (one scaling law rules
    * all magnitudes); H(1) > H(2) means multifractal intermittency —
    * big jumps scale differently from small ones, so ONE Hurst number
    * (q-Hurst, q-DFA) undersells the tail risk. |Δ| for q=1 and Δ² for
    * q=2 are exact on integer series. One explode over lags with a
    * self-join on shifted positions, one per-lag reduction, one 2-point
    * slope per q. Output: one row (h1, h2, mf_gap = h1 − h2).
    */
  def generalizedHurst(df: DataFrame, tsCol: String, valCol: String,
                       lags: Seq[Int]): DataFrame = {
    require(lags.size >= 2 && lags.forall(_ >= 1),
      s"need >= 2 positive lags, got $lags")
    val v = col(valCol).cast("double")
    val base = df.filter(v.isNotNull)
      .select(col(tsCol).as("_t"), v.as("_v"))
      .withColumn("_i", row_number().over(Window.orderBy(col("_t"))))
    val left = base.select(col("_i"), col("_v"),
      explode(array(lags.map(lit): _*)).as("_tau"))
    val right = base.select(col("_i").as("_i2"), col("_v").as("_v2"))
    val perLag = left.join(right, col("_i2") === col("_i") + col("_tau"))
      .groupBy(col("_tau"))
      .agg(avg(abs(col("_v2") - col("_v"))).as("_k1"),
        avg((col("_v2") - col("_v")) * (col("_v2") - col("_v"))).as("_k2"))
      .withColumn("_xl", log(col("_tau").cast("double")))
      .withColumn("_y1", when(col("_k1") > 0, log(col("_k1"))))
      .withColumn("_y2", when(col("_k2") > 0, log(col("_k2"))))
    def slope(yCol: String) = {
      val m = count(when(col(yCol).isNotNull, 1)).cast("double")
      (sum(when(col(yCol).isNotNull, col("_xl") * col(yCol))) -
        sum(when(col(yCol).isNotNull, col("_xl"))) *
          sum(col(yCol)) / m) /
        (sum(when(col(yCol).isNotNull, col("_xl") * col("_xl"))) -
          sum(when(col(yCol).isNotNull, col("_xl"))) *
            sum(when(col(yCol).isNotNull, col("_xl"))) / m)
    }
    perLag.agg(slope("_y1").as("_h1"), (slope("_y2") / 2).as("_h2"))
      .select(col("_h1").as("h1"), col("_h2").as("h2"),
        (col("_h1") - col("_h2")).as("mf_gap"))
  }

  /** Mardia's circular–linear correlation (Mardia 1976): association
    * between a linear variable x and an angle θ via the closed form
    *   R² = (r²ₓc + r²ₓs − 2·rₓc·rₓs·r_cs) / (1 − r²_cs),
    * with rₓc = corr(x, cos θ), rₓs = corr(x, sin θ),
    * r_cs = corr(cos θ, sin θ). This answers "does the metric depend on
    * time-of-day AT ALL?" without binning into hours (q-ANOVA) or
    * assuming a single harmonic (q-cosinor): any phase, both harmonic
    * components. θ comes from an integer bucket (hour·2π/24 — exact
    * angles). One trig projection + one sums pass. Output: one row
    * (n, r_xc, r_xs, r_cs, r2).
    */
  def circularLinearCorr(df: DataFrame, valCol: String,
                         hourCol: String, period: Int): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    val x = col(valCol).cast("double")
    val ang = col(hourCol).cast("double") * lit(2.0 * math.Pi / period)
    val staged = df.filter(x.isNotNull && col(hourCol).isNotNull)
      .select(x.as("_x"), cos(ang).as("_c"), sin(ang).as("_s"))
    val agged = staged.agg(count(lit(1)).cast("double").as("_n"),
      sum(col("_x")).as("_sx"), sum(col("_c")).as("_sc"),
      sum(col("_s")).as("_ss"), sum(col("_x") * col("_c")).as("_sxc"),
      sum(col("_x") * col("_s")).as("_sxs"),
      sum(col("_c") * col("_s")).as("_scs"),
      sum(col("_x") * col("_x")).as("_sxx"),
      sum(col("_c") * col("_c")).as("_scc"),
      sum(col("_s") * col("_s")).as("_sss"))
    val n = col("_n")
    def corr(sab: Column, sa: Column, sb: Column, saa: Column,
             sbb: Column): Column = {
      val cov = sab - sa * sb / n
      val va = saa - sa * sa / n
      val vb = sbb - sb * sb / n
      when(va > 0 && vb > 0, cov / sqrt(va * vb))
    }
    val rxc = corr(col("_sxc"), col("_sx"), col("_sc"), col("_sxx"),
      col("_scc"))
    val rxs = corr(col("_sxs"), col("_sx"), col("_ss"), col("_sxx"),
      col("_sss"))
    val rcs = corr(col("_scs"), col("_sc"), col("_ss"), col("_scc"),
      col("_sss"))
    agged
      .withColumn("r_xc", rxc).withColumn("r_xs", rxs)
      .withColumn("r_cs", rcs)
      .withColumn("r2", when(col("r_xc").isNotNull &&
          col("r_xs").isNotNull && col("r_cs").isNotNull &&
          col("r_cs") * col("r_cs") < 1,
        (col("r_xc") * col("r_xc") + col("r_xs") * col("r_xs") -
          lit(2.0) * col("r_xc") * col("r_xs") * col("r_cs")) /
          (lit(1.0) - col("r_cs") * col("r_cs"))))
      .select(n.cast("bigint").as("n"), col("r_xc"), col("r_xs"),
        col("r_cs"), col("r2"))
  }

  /** Spectral roll-off over a literal candidate-period ladder: walking
    * the candidates from HIGH frequency to low (ascending period), the
    * roll-off is the first period at which the cumulative share of
    * Schuster power reaches `share` (e.g. 0.85) — "how much of the
    * variance lives at fast scales?". Shares are quantized to 6 dp
    * BEFORE the cumulative compare (the [[graft.operators.Features.dominantPeriod]]
    * discipline: never cut a rank/threshold on raw float sums).
    * Output: one row (rolloff_period, cum_share, n).
    */
  def spectralRolloff(df: DataFrame, tsCol: String, valCol: String,
                      periods: Seq[Int], share: Double): DataFrame = {
    require(periods.size >= 2 && periods.forall(_ >= 2),
      s"need >= 2 candidate periods, got $periods")
    require(share > 0 && share < 1, s"share must be in (0,1), got $share")
    val v = col(valCol).cast("double")
    val staged = df.filter(v.isNotNull)
      .select(col(tsCol).as("_t"), v.as("_v"))
      .withColumn("_i",
        (row_number().over(Window.orderBy(col("_t"))) - 1).cast("double"))
      .withColumn("_z", col("_v") - avg(col("_v")).over(Window.partitionBy()))
    val sums = periods.flatMap { p =>
      val ang = col("_i") * lit(2.0 * math.Pi / p)
      Seq(sum(col("_z") * cos(ang)).as(s"_c$p"),
        sum(col("_z") * sin(ang)).as(s"_s$p"))
    }
    val aggs = Seq(count(lit(1)).as("n")) ++ sums
    val agged = staged.agg(aggs.head, aggs.tail: _*)
    val rows = periods.map { p =>
      struct(lit(p).as("period"),
        (col(s"_c$p") * col(s"_c$p") + col(s"_s$p") * col(s"_s$p"))
          .as("power"))
    }
    val exploded = agged
      .select(col("n"), explode(array(rows: _*)).as("_e"))
      .select(col("n"), col("_e.period").as("_p"), col("_e.power").as("_pw"))
      .withColumn("_share",
        floor(col("_pw") / sum(col("_pw")).over(Window.partitionBy()) * 1e6
          + 0.5) / 1e6)
      .withColumn("_cum", sum(col("_share")).over(Window.orderBy(col("_p"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    exploded.filter(col("_cum") >= share)
      .orderBy(col("_p"))
      .limit(1)
      .select(col("_p").as("rolloff_period"), col("_cum").as("cum_share"),
        col("n"))
  }

  /** Grassberger–Procaccia correlation dimension, two-scale estimate
    * (1983): with the correlation integral C(ε) = #{pairs i<j :
    * |x_i − x_j| ≤ ε}/(n(n−1)/2) at two INTEGER radii ε₁ < ε₂,
    *   D₂ ≈ ln(C(ε₂)/C(ε₁)) / ln(ε₂/ε₁),
    * the attractor-dimension reading of the [[rqa]] recurrence machinery
    * (≈ 0 for a few discrete levels, grows with dynamical complexity).
    * Integer radii on integer-valued series keep both pair counts exact.
    * One self-join producing both counts at once. Output: one row
    * (n, c1_pairs, c2_pairs, d2).
    */
  def corrDim(df: DataFrame, tsCol: String, valCol: String,
              eps1: Long, eps2: Long): DataFrame = {
    require(eps1 >= 1 && eps2 > eps1, s"need 1 <= eps1 < eps2, got $eps1/$eps2")
    val v = col(valCol).cast("long")
    val base = df.filter(v.isNotNull)
      .select(col(tsCol).as("_t"), v.as("_v"))
      .withColumn("_i", row_number().over(Window.orderBy(col("_t"))))
      .drop("_t")
    val other = base.select(col("_i").as("_j"), col("_v").as("_vj"))
    val pairs = base.join(other, col("_i") < col("_j"))
      .select(abs(col("_v") - col("_vj")).as("_d"))
    val agged = pairs.agg(
      sum(when(col("_d") <= eps1, 1L).otherwise(0L)).as("c1_pairs"),
      sum(when(col("_d") <= eps2, 1L).otherwise(0L)).as("c2_pairs"),
      count(lit(1)).as("_np"))
    agged
      .withColumn("d2", when(col("c1_pairs") > 0 && col("c2_pairs") > 0,
        log(col("c2_pairs").cast("double") / col("c1_pairs").cast("double")) /
          lit(math.log(eps2.toDouble / eps1.toDouble))))
      .select(col("_np").as("n_pairs"), col("c1_pairs"), col("c2_pairs"),
        col("d2"))
  }

  /** Maximum drawdown + ulcer index of a level series (Martin & McCann
    * 1989 for the ulcer): with the running peak P_t = max_{i≤t} x_i and
    * relative drawdown D_t = (P_t − x_t)/P_t,
    *   max_dd = max(P_t − x_t),  max_dd_pct = max D_t,
    *   ulcer = √(mean D_t²)  (percent-squared mean — penalizes DEPTH
    * and DURATION of slumps, unlike the single worst point).
    * The "how bad did it get and for how long" capacity-planning
    * readout for any cumulative or level KPI. One running-max window +
    * one moment pass; relative forms null when a peak ≤ 0 is involved.
    * Output: one row (n, peak, max_dd, max_dd_pct, ulcer).
    */
  def drawdown(df: DataFrame, tsCol: String, valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val staged = df.filter(v.isNotNull)
      .select(col(tsCol).as("_t"), v.as("_x"))
      .withColumn("_peak", max(col("_x")).over(Window.orderBy(col("_t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_dd", col("_peak") - col("_x"))
      .withColumn("_ddp", when(col("_peak") > 0, col("_dd") / col("_peak")))
    staged.agg(count(lit(1)).as("n"), max(col("_peak")).as("peak"),
        max(col("_dd")).as("max_dd"), max(col("_ddp")).as("max_dd_pct"),
        when(count(col("_ddp")) > 0,
          sqrt(sum(col("_ddp") * col("_ddp")) /
            count(col("_ddp")).cast("double"))).as("ulcer"))
      .select(col("n"), col("peak"), col("max_dd"), col("max_dd_pct"),
        col("ulcer"))
  }

  /** Sortino ratio and Omega ratio of a change series against a zero
    * target (Sortino & Price 1994; Keating & Shadwick 2002):
    *   downside_dev = √(mean(min(r, 0)²))     (only bad volatility),
    *   sortino = mean(r) / downside_dev,
    *   omega   = Σ max(r, 0) / Σ max(−r, 0)   (gain mass over loss mass).
    * Together they grade a metric's trajectory the way plain mean/sd
    * can't: symmetric volatility is forgiven, sustained downside is
    * not. One moment pass over the (already-differenced) series.
    * Output: one row (n, mean_r, downside_dev, sortino, omega).
    */
  def sortinoOmega(df: DataFrame, valCol: String): DataFrame = {
    val r = col(valCol).cast("double")
    val agged = df.filter(r.isNotNull)
      .agg(count(lit(1)).as("n"), avg(r).as("mean_r"),
        sum(when(r < 0, r * r).otherwise(0.0)).as("_dsq"),
        sum(when(r > 0, r).otherwise(0.0)).as("_gain"),
        sum(when(r < 0, -r).otherwise(0.0)).as("_loss"))
    agged
      .withColumn("downside_dev",
        sqrt(col("_dsq") / col("n").cast("double")))
      .withColumn("sortino", when(col("downside_dev") > 0,
        col("mean_r") / col("downside_dev")))
      .withColumn("omega", when(col("_loss") > 0,
        col("_gain") / col("_loss")))
      .select(col("n"), col("mean_r"), col("downside_dev"), col("sortino"),
        col("omega"))
  }

  /** Pickands tail-index estimator (Pickands 1975): from the k-th, 2k-th
    * and 4k-th largest order statistics,
    *   ξ̂ = ln((x₍ₖ₎ − x₍₂ₖ₎)/(x₍₂ₖ₎ − x₍₄ₖ₎)) / ln 2.
    * Unlike [[hillEstimator]] (valid only for ξ > 0), Pickands is
    * consistent for ALL tail regimes — ξ < 0 (finite endpoint), = 0
    * (exponential), > 0 (Pareto) — so the pair (Hill, Pickands) reads
    * both the heaviness AND the domain of attraction. Only a
    * distributed top-4k is touched (TakeOrderedAndProject); ties broken
    * on idCol. Null when a spacing degenerates. Output: one row
    * (k, x_k, x_2k, x_4k, xi).
    */
  def pickands(df: DataFrame, valCol: String, idCol: String,
               k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val v = col(valCol).cast("double")
    val top = df.filter(v.isNotNull)
      .select(v.as("_v"), col(idCol).as("_id"))
      .orderBy(col("_v").desc, col("_id"))
      .limit(4 * k)
      .withColumn("_r", row_number().over(
        Window.orderBy(col("_v").desc, col("_id"))))
    val agged = top.agg(count(lit(1)).as("_cnt"),
      max(when(col("_r") === k, col("_v"))).as("x_k"),
      max(when(col("_r") === 2 * k, col("_v"))).as("x_2k"),
      max(when(col("_r") === 4 * k, col("_v"))).as("x_4k"))
    agged
      .withColumn("xi", when(col("_cnt") === 4 * k &&
          col("x_k") - col("x_2k") > 0 && col("x_2k") - col("x_4k") > 0,
        log((col("x_k") - col("x_2k")) / (col("x_2k") - col("x_4k"))) /
          lit(math.log(2.0))))
      .select(lit(k).cast("bigint").as("k"), col("x_k"), col("x_2k"),
        col("x_4k"), col("xi"))
  }

  /** Dekkers–Einmahl–de Haan moment estimator of the extreme-value
    * index (DEdH 1989): with the top-k log-excesses over the (k+1)-th
    * largest, M₁ = mean ln(x᛫/thr) and M₂ = mean ln²(x᛫/thr),
    *   γ̂ = M₁ + 1 − ½ / (1 − M₁²/M₂).
    * The all-regime refinement of [[hillEstimator]] (γ = Hill's 1/α for
    * heavy tails but stays consistent for γ ≤ 0), sharing its
    * distributed top-(k+1) plan. Output: one row
    * (n_top, threshold, m1, m2, gamma_).
    */
  def momentTailEstimator(df: DataFrame, valCol: String, idCol: String,
                          k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val v = col(valCol).cast("double")
    val top = df.filter(v.isNotNull && v > 0)
      .select(v.as("_v"), col(idCol).as("_id"))
      .orderBy(col("_v").desc, col("_id"))
      .limit(k + 1)
    val agged = top.agg(count(lit(1)).as("_cnt"), min(col("_v")).as("threshold"),
      sum(log(col("_v"))).as("_sl"),
      sum(log(col("_v")) * log(col("_v"))).as("_sll"))
    // mean of ln(x/thr) over the k strict-top rows; the threshold row
    // contributes ln(thr/thr) = 0 to both sums, so subtract its terms
    val lt = log(col("threshold"))
    val m1 = (col("_sl") - lit((k + 1).toDouble) * lt) / lit(k.toDouble)
    val m2 = (col("_sll") - lit(2.0) * lt * col("_sl") +
      lit((k + 1).toDouble) * lt * lt) / lit(k.toDouble)
    agged
      .withColumn("m1", when(col("_cnt") === k + 1, m1))
      .withColumn("m2", when(col("_cnt") === k + 1, m2))
      .withColumn("gamma_", when(col("m2").isNotNull && col("m2") > 0 &&
          (lit(1.0) - col("m1") * col("m1") / col("m2")) =!= 0,
        col("m1") + 1 - lit(0.5) /
          (lit(1.0) - col("m1") * col("m1") / col("m2"))))
      .select(lit(k).cast("bigint").as("n_top"), col("threshold"),
        col("m1"), col("m2"), col("gamma_"))
  }

  /** The Lanczos gamma approximation (g = 7, 9 terms — Lanczos 1964;
    * coefficients as published in Numerical Recipes / Boost) as a plain
    * Column expression for z ≥ 0.5:
    *   Γ(z) = √(2π)·t^{z−0.5}·e^{−t}·A(z),  t = z + 6.5,
    *   A(z) = c₀ + Σ_{i=1..8} cᵢ/(z − 1 + i),
    * |rel err| < 1e−13 on (0.5, 1.5] — far inside the 6-dp compare. The
    * SAME literal coefficients are replayed by the SQL oracle, so both
    * engines run the identical formula (ulp-level exp/pow noise only).
    */
  val lanczosCoeffs: Seq[Double] = Seq(
    0.99999999999980993, 676.5203681218851, -1259.1392167224028,
    771.32342877765313, -176.61502916214059, 12.507343278686905,
    -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)

  def lanczosGamma(z: Column): Column = {
    val a = lanczosCoeffs.zipWithIndex.tail.foldLeft(
      lit(lanczosCoeffs.head): Column) { case (acc, (c, i)) =>
      acc + lit(c) / (z - 1 + lit(i.toDouble))
    }
    val t = z + lit(6.5)
    when(z >= 0.5,
      lit(math.sqrt(2.0 * math.Pi)) * pow(t, z - lit(0.5)) * exp(-t) * a)
  }

  /** GEV fit by L-moments (Hosking, Wallis & Wood 1985) + return
    * levels: from the sample L-moments (l₁, l₂, t₃) of block maxima,
    *   c = 2/(3 + t₃) − ln2/ln3,   κ = 7.8590c + 2.9554c²,
    *   α = l₂·κ / ((1 − 2^{−κ})·Γ(1+κ)),
    *   μ = l₁ − α(1 − Γ(1+κ))/κ,
    * and the T-block return level x_T = μ + α(1 − y^κ)/κ with
    * y = −ln(1 − 1/T). κ > 0 is a bounded tail, κ < 0 heavy (GEV ξ =
    * −κ) — the full three-parameter extension of the engine's Gumbel
    * return levels, fitted by the same order-statistic L-moment pass as
    * [[lmoments]] and evaluated through [[lanczosGamma]] (both engines
    * replay identical literals). Output: one row per T
    * (n, kappa, alpha_, mu_, ret_t, ret_level).
    */
  def gevLmomFit(df: DataFrame, valCol: String,
                 returnTs: Seq[Int]): DataFrame = {
    require(returnTs.nonEmpty && returnTs.forall(_ >= 2),
      s"return periods must all be >= 2, got $returnTs")
    val lm = lmoments(df, valCol)
    val c = lit(2.0) / (lit(3.0) + col("t3")) -
      lit(math.log(2.0) / math.log(3.0))
    val fitted = lm
      .withColumn("_c", c)
      .withColumn("kappa",
        lit(7.8590) * col("_c") + lit(2.9554) * col("_c") * col("_c"))
      .withColumn("_g1k", lanczosGamma(lit(1.0) + col("kappa")))
      .withColumn("alpha_", when(col("kappa") =!= 0 &&
          (lit(1.0) - pow(lit(2.0), -col("kappa"))) =!= 0 &&
          col("_g1k").isNotNull,
        col("l2") * col("kappa") /
          ((lit(1.0) - pow(lit(2.0), -col("kappa"))) * col("_g1k"))))
      .withColumn("mu_", when(col("alpha_").isNotNull,
        col("l1") - col("alpha_") * (lit(1.0) - col("_g1k")) / col("kappa")))
    val rows = returnTs.map { t =>
      val y = -log(lit(1.0) - lit(1.0 / t))
      struct(lit(t).as("ret_t"),
        when(col("mu_").isNotNull,
          col("mu_") + col("alpha_") *
            (lit(1.0) - pow(y, col("kappa"))) / col("kappa")).as("ret_level"))
    }
    fitted.select(col("n"), col("kappa"), col("alpha_"), col("mu_"),
        explode(array(rows: _*)).as("_e"))
      .select(col("n"), col("kappa"), col("alpha_"), col("mu_"),
        col("_e.ret_t").as("ret_t"), col("_e.ret_level").as("ret_level"))
  }

  /** Negative-binomial moment fit: for an overdispersed count variable
    * with mean m and population variance v > m,
    *   r̂ = m²/(v − m),  p̂ = m/v,
    * the closed-form companion of [[zipFit]] — ZIP explains excess zeros
    * by a dormant mixture, NB by gamma-heterogeneous rates; fitting both
    * and comparing deviances is the standard overdispersion triage.
    * Null when v ≤ m (no overdispersion — plain Poisson wins). One
    * moment pass. Output: one row (n, mean_, var_, r_, p_).
    */
  def negBinFit(df: DataFrame, valCol: String): DataFrame = {
    val x = col(valCol).cast("double")
    val agged = df.filter(x.isNotNull)
      .agg(count(lit(1)).cast("double").as("_n"), sum(x).as("_s1"),
        sum(x * x).as("_s2"))
    val m = col("_s1") / col("_n")
    val vv = col("_s2") / col("_n") - m * m
    agged
      .withColumn("mean_", m).withColumn("var_", vv)
      .withColumn("r_", when(col("var_") > col("mean_") &&
          col("mean_") > 0,
        col("mean_") * col("mean_") / (col("var_") - col("mean_"))))
      .withColumn("p_", when(col("r_").isNotNull,
        col("mean_") / col("var_")))
      .select(col("_n").cast("bigint").as("n"), col("mean_"), col("var_"),
        col("r_"), col("p_"))
  }

  /** James–Stein shrinkage of k group means toward the grand mean
    * (James & Stein 1961, positive-part estimator): with per-group means
    * m_i, the pooled within-group variance of a group mean σ̄² (mean of
    * s²_i/n_i), and S = Σ(m_i − m̄)²,
    *   c = max(0, 1 − (k−3)·σ̄²/S),   shrunk_i = m̄ + c·(m_i − m̄).
    * Dominates the raw means in total squared error whenever k ≥ 4 —
    * the frequentist twin of q-EB shrinkage for RATES, here for means.
    * One grouped moment pass + one bounded reduction + a broadcast
    * join-back. Output: (group, n_g, raw_mean, shrunk).
    */
  def jamesStein(df: DataFrame, groupCol: String,
                 valCol: String): DataFrame = {
    val x = col(valCol).cast("double")
    val per = df.filter(x.isNotNull).groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).cast("double").as("_ng"), avg(x).as("raw_mean"),
        (sum(x * x) / count(lit(1)).cast("double")).as("_m2"))
      .withColumn("_se2",
        (col("_m2") - col("raw_mean") * col("raw_mean")) / col("_ng"))
    val glob = per.agg(count(lit(1)).cast("double").as("_k"),
      avg(col("raw_mean")).as("_gm"), avg(col("_se2")).as("_sbar"))
    val s = per.crossJoin(glob)
      .withColumn("_dev",
        (col("raw_mean") - col("_gm")) * (col("raw_mean") - col("_gm")))
    val s2 = s.groupBy().agg(max(col("_k")).as("_k2"),
      max(col("_gm")).as("_gm2"), max(col("_sbar")).as("_sbar2"),
      sum(col("_dev")).as("_ss"))
    per.crossJoin(s2)
      .withColumn("_c", when(col("_k2") >= 4 && col("_ss") > 0,
        greatest(lit(0.0), lit(1.0) -
          (col("_k2") - 3) * col("_sbar2") / col("_ss"))))
      .withColumn("shrunk", when(col("_c").isNotNull,
        col("_gm2") + col("_c") * (col("raw_mean") - col("_gm2"))))
      .select(col("group"), col("_ng").cast("bigint").as("n_g"),
        col("raw_mean"), col("shrunk"))
  }

  /** Tukey's one-degree-of-freedom test for non-additivity (Tukey
    * 1949): on a two-way table of cell means m_ij with row effects
    * a_i = rowmean − grand, column effects b_j = colmean − grand and
    * additive residuals r_ij = m_ij − rowmean_i − colmean_j + grand,
    *   SS_nonadd = (Σ r_ij·a_i·b_j)² / (Σa_i²·Σb_j²),
    *   F = SS_nonadd / ((SS_res − SS_nonadd)/(RC − R − C)),
    * large F ⇒ the factors INTERACT multiplicatively (a log transform
    * would fix it) — the "is dow × hour really additive?" pre-check
    * before trusting any additive seasonal profile. Cell means, margins
    * and the test are three grouped passes over the bounded table.
    * Output: one row (cells_, ss_res, ss_nonadd, f_stat).
    */
  def tukeyAdditivity(df: DataFrame, rowCol: String, colCol: String,
                      valCol: String): DataFrame = {
    val x = col(valCol).cast("double")
    val cells = df.filter(x.isNotNull)
      .groupBy(col(rowCol).as("_r"), col(colCol).as("_c"))
      .agg(avg(x).as("_m"))
    val withMargins = cells
      .withColumn("_rm", avg(col("_m")).over(Window.partitionBy(col("_r"))))
      .withColumn("_cm", avg(col("_m")).over(Window.partitionBy(col("_c"))))
      .withColumn("_gm", avg(col("_m")).over(Window.partitionBy()))
      .withColumn("_a", col("_rm") - col("_gm"))
      .withColumn("_b", col("_cm") - col("_gm"))
      .withColumn("_res",
        col("_m") - col("_rm") - col("_cm") + col("_gm"))
    // distinct-entity effect sums: each row/column effect counted ONCE
    val rowSq = withMargins.select(col("_r"), col("_a")).distinct()
      .agg(sum(col("_a") * col("_a")).as("_sa2"),
        count(lit(1)).cast("double").as("_nr"))
    val colSq = withMargins.select(col("_c"), col("_b")).distinct()
      .agg(sum(col("_b") * col("_b")).as("_sb2"),
        count(lit(1)).cast("double").as("_nc"))
    val agged = withMargins.agg(count(lit(1)).as("cells_"),
      sum(col("_res") * col("_res")).as("ss_res"),
      sum(col("_res") * col("_a") * col("_b")).as("_num"))
      .crossJoin(rowSq).crossJoin(colSq)
    val ssNon = when(col("_sa2") > 0 && col("_sb2") > 0,
      col("_num") * col("_num") / (col("_sa2") * col("_sb2")))
    val dfRes = (col("_nr") - 1) * (col("_nc") - 1) - 1
    agged
      .withColumn("ss_nonadd", ssNon)
      .withColumn("f_stat", when(col("ss_nonadd").isNotNull && dfRes > 0 &&
          (col("ss_res") - col("ss_nonadd")) > 0,
        col("ss_nonadd") /
          ((col("ss_res") - col("ss_nonadd")) / dfRes)))
      .select(col("cells_"), col("ss_res"), col("ss_nonadd"), col("f_stat"))
  }

  /** Single-feature decision stump on a literal threshold grid: for each
    * candidate cut t, split on x ≤ t and score the weighted Gini
    * impurity drop for a binary label,
    *   gain(t) = G(parent) − (n_L·G_L + n_R·G_R)/n,  G = 2p(1−p).
    * The best cut (6-dp-quantized gain, smallest-threshold tie-break —
    * never a raw-float argmax) is flagged. The "which single value cut
    * most separates converters?" explainability readout; all counts are
    * exact integers. One explode over the literal grid + one groupBy.
    * Output: one row per threshold (thr, n_left, n_right, gini_gain,
    * best).
    */
  def decisionStump(df: DataFrame, featureCol: String, labelCol: String,
                    thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val x = col(featureCol).cast("double")
    val y = col(labelCol).cast("long")
    val staged = df.filter(x.isNotNull && y.isNotNull)
      .select(x.as("_x"), y.as("_y"),
        explode(array(thresholds.map(lit): _*)).as("_t"))
    val per = staged.groupBy(col("_t"))
      .agg(count(lit(1)).cast("double").as("_n"),
        sum(col("_y")).cast("double").as("_pos"),
        sum(when(col("_x") <= col("_t"), 1L).otherwise(0L))
          .cast("double").as("_nl"),
        sum(when(col("_x") <= col("_t"), col("_y")).otherwise(0L))
          .cast("double").as("_pl"))
    def gini(p: Column): Column = lit(2.0) * p * (lit(1.0) - p)
    val nr = col("_n") - col("_nl")
    val pr = col("_pos") - col("_pl")
    val scored = per
      .withColumn("_gain", when(col("_nl") > 0 && nr > 0,
        gini(col("_pos") / col("_n")) -
          (col("_nl") * gini(col("_pl") / col("_nl")) +
            nr * gini(pr / nr)) / col("_n")).otherwise(0.0))
      .withColumn("_q",
        signum(col("_gain")) * floor(abs(col("_gain")) * 1e6 + 0.5) / 1e6)
    val best = scored.agg(
      max(struct(col("_q").as("q"), (-col("_t")).as("negt"))).as("_b"))
    scored.crossJoin(best)
      .withColumn("best",
        col("_q") === col("_b.q") && col("_t") === -col("_b.negt"))
      .select(col("_t").as("thr"), col("_nl").cast("bigint").as("n_left"),
        nr.cast("bigint").as("n_right"), col("_gain").as("gini_gain"),
        col("best"))
  }

  /** Bland–Altman agreement of two paired measurement streams (Bland &
    * Altman 1986): over the paired differences d,
    *   bias = mean d,  LoA = bias ± 1.96·sd(d)  (population sd),
    * with the count of pairs outside the limits. THE standard for "do
    * two tiers/pipelines measure the same thing?", where correlation
    * misleads (perfectly correlated streams can disagree by a constant
    * or a scale). One moment pass + one recount against the limits.
    * Output: one row (n, bias, sd_d, loa_low, loa_high, n_outside).
    */
  def blandAltman(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val d = col(aCol).cast("double") - col(bCol).cast("double")
    val base = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(d.as("_d"))
    val mom = base.agg(count(lit(1)).as("n"), avg(col("_d")).as("bias"),
      (sum(col("_d") * col("_d")) / count(lit(1)).cast("double")).as("_m2"))
      .withColumn("sd_d", sqrt(col("_m2") - col("bias") * col("bias")))
      .withColumn("loa_low", col("bias") - lit(1.96) * col("sd_d"))
      .withColumn("loa_high", col("bias") + lit(1.96) * col("sd_d"))
    base.crossJoin(mom)
      .agg(max(col("n")).as("n"), max(col("bias")).as("bias"),
        max(col("sd_d")).as("sd_d"), max(col("loa_low")).as("loa_low"),
        max(col("loa_high")).as("loa_high"),
        sum(when(col("_d") < col("loa_low") ||
          col("_d") > col("loa_high"), 1L).otherwise(0L)).as("n_outside"))
  }

  /** Wilson score intervals + Newcombe difference interval (Wilson
    * 1927; Newcombe 1998 method 10): per arm, the Wilson 95% bounds
    *   (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n),
    * and for the difference p̂₁ − p̂₂ the Newcombe square-and-add CI
    *   [δ − √((p̂₁−l₁)² + (u₂−p̂₂)²),  δ + √((u₁−p̂₁)² + (p̂₂−l₂)²)].
    * Wilson never collapses at 0/1 counts like the Wald interval, and
    * Newcombe inherits that — the production-grade proportion CI pair.
    * z = 1.959963984540054 (a literal both engines share). Two grouped
    * counts + pure arithmetic. Output: one row
    * (n1, p1, lo1, hi1, n2, p2, lo2, hi2, diff, d_lo, d_hi).
    */
  def newcombeCi(df: DataFrame, armCol: String, armA: String, armB: String,
                 successCol: String): DataFrame = {
    val z = 1.959963984540054
    val s = col(successCol).cast("long")
    def wilson(arm: String, tag: String) = {
      val agged = df.filter(col(armCol) === arm && s.isNotNull)
        .agg(count(lit(1)).cast("double").as(s"_n$tag"),
          sum(s).cast("double").as(s"_x$tag"))
      val n = col(s"_n$tag")
      val p = col(s"_x$tag") / n
      val z2 = lit(z * z)
      val center = p + z2 / (n * 2)
      val half = lit(z) * sqrt(p * (lit(1.0) - p) / n + z2 / (n * n * 4))
      val denom = lit(1.0) + z2 / n
      agged
        .withColumn(s"p$tag", p)
        .withColumn(s"lo$tag", (center - half) / denom)
        .withColumn(s"hi$tag", (center + half) / denom)
    }
    val joined = wilson(armA, "1").crossJoin(wilson(armB, "2"))
    joined
      .withColumn("diff", col("p1") - col("p2"))
      .withColumn("d_lo", col("diff") - sqrt(
        (col("p1") - col("lo1")) * (col("p1") - col("lo1")) +
          (col("hi2") - col("p2")) * (col("hi2") - col("p2"))))
      .withColumn("d_hi", col("diff") + sqrt(
        (col("hi1") - col("p1")) * (col("hi1") - col("p1")) +
          (col("p2") - col("lo2")) * (col("p2") - col("lo2"))))
      .select(col("_n1").cast("bigint").as("n1"), col("p1"), col("lo1"),
        col("hi1"), col("_n2").cast("bigint").as("n2"), col("p2"),
        col("lo2"), col("hi2"), col("diff"), col("d_lo"), col("d_hi"))
  }

  /** Deming regression (errors in BOTH variables, Deming 1943; ratio of
    * error variances λ): from centered population moments,
    *   slope = (s_yy − λs_xx + √((s_yy − λs_xx)² + 4λs_xy²)) / (2s_xy),
    *   intercept = ȳ − slope·x̄.
    * OLS assumes x is exact and attenuates the slope when it is not —
    * for method-comparison pairs (two pipelines measuring the same
    * quantity, the [[blandAltman]] setting) Deming is the right line.
    * Closed-form from one moment pass; null when s_xy = 0.
    * Output: one row (n, slope, intercept).
    */
  def deming(df: DataFrame, xCol: String, yCol: String,
             lambda: Double = 1.0): DataFrame = {
    require(lambda > 0, s"lambda must be positive, got $lambda")
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val agged = df.filter(x.isNotNull && y.isNotNull)
      .agg(count(lit(1)).cast("double").as("_n"), sum(x).as("_sx"),
        sum(y).as("_sy"), sum(x * x).as("_sxx"), sum(y * y).as("_syy"),
        sum(x * y).as("_sxy"))
    val n = col("_n")
    val mxx = col("_sxx") / n - (col("_sx") / n) * (col("_sx") / n)
    val myy = col("_syy") / n - (col("_sy") / n) * (col("_sy") / n)
    val mxy = col("_sxy") / n - (col("_sx") / n) * (col("_sy") / n)
    val d = myy - lit(lambda) * mxx
    agged
      .withColumn("slope", when(mxy =!= 0,
        (d + sqrt(d * d + lit(4.0 * lambda) * mxy * mxy)) /
          (lit(2.0) * mxy)))
      .withColumn("intercept", when(col("slope").isNotNull,
        col("_sy") / n - col("slope") * col("_sx") / n))
      .select(n.cast("bigint").as("n"), col("slope"), col("intercept"))
  }

  /** Heidke and Peirce skill scores for a binary event forecast
    * (Heidke 1926; Peirce 1884): from the contingency counts hits a,
    * false alarms b, misses c, correct negatives d,
    *   PSS = a/(a+c) − b/(b+d)        (hit rate − false-alarm rate),
    *   HSS = 2(ad − bc)/((a+c)(c+d) + (a+b)(b+d)),
    * both 0 for a no-skill forecast (random or constant) and 1 for a
    * perfect one — the categorical companions of q-Brier that a naive
    * accuracy number fakes under class imbalance. Exact integer counts.
    * Output: one row (n, hits, false_alarms, misses, corr_neg, pss,
    * hss).
    */
  def heidkePeirce(df: DataFrame, obsCol: String,
                   fcCol: String): DataFrame = {
    val o = col(obsCol).cast("long")
    val f = col(fcCol).cast("long")
    val agged = df.filter(o.isNotNull && f.isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(when(f === 1 && o === 1, 1L).otherwise(0L)).as("hits"),
        sum(when(f === 1 && o === 0, 1L).otherwise(0L)).as("false_alarms"),
        sum(when(f === 0 && o === 1, 1L).otherwise(0L)).as("misses"),
        sum(when(f === 0 && o === 0, 1L).otherwise(0L)).as("corr_neg"))
    val a = col("hits").cast("double")
    val b = col("false_alarms").cast("double")
    val c = col("misses").cast("double")
    val dd = col("corr_neg").cast("double")
    val hssDen = (a + c) * (c + dd) + (a + b) * (b + dd)
    agged
      .withColumn("pss", when((a + c) > 0 && (b + dd) > 0,
        a / (a + c) - b / (b + dd)))
      .withColumn("hss", when(hssDen > 0,
        lit(2.0) * (a * dd - b * c) / hssDen))
      .select(col("n"), col("hits"), col("false_alarms"), col("misses"),
        col("corr_neg"), col("pss"), col("hss"))
  }

  /** The power-mean ladder over a positive sample: harmonic (p = −1),
    * geometric (p → 0), arithmetic (p = 1) and quadratic (p = 2) means.
    * The AM/GM gap reads multiplicative spread, HM the rate-averaging
    * answer (mean of speeds), QM the energy mean — and the ladder
    * HM ≤ GM ≤ AM ≤ QM is a free internal consistency invariant. One
    * moment pass (Σ1/x, Σln x, Σx, Σx²). Output: one row
    * (n, hm, gm, am, qm).
    */
  def powerMeans(df: DataFrame, valCol: String): DataFrame = {
    val x = col(valCol).cast("double")
    val agged = df.filter(x.isNotNull && x > 0)
      .agg(count(lit(1)).cast("double").as("_n"),
        sum(lit(1.0) / x).as("_sinv"), sum(log(x)).as("_sln"),
        sum(x).as("_s1"), sum(x * x).as("_s2"))
    agged.select(col("_n").cast("bigint").as("n"),
      (col("_n") / col("_sinv")).as("hm"),
      exp(col("_sln") / col("_n")).as("gm"),
      (col("_s1") / col("_n")).as("am"),
      sqrt(col("_s2") / col("_n")).as("qm"))
  }

  /** Youden J optimal cut over a literal threshold grid: per cut t
    * (predict positive when score > t),
    *   J(t) = sensitivity + specificity − 1,
    * with the best cut chosen on the 6-dp-quantized J (smallest
    * threshold tie-break — never a raw-float argmax). The operating-
    * point companion of q-ROC-AUC: AUC says the score CAN discriminate,
    * Youden names the threshold to deploy. Exact integer confusion
    * counts per cut. Output: one row per threshold
    * (thr, sens, spec, j, best).
    */
  def youdenCut(df: DataFrame, labelCol: String, scoreCol: String,
                thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val y = col(labelCol).cast("long")
    val s = col(scoreCol).cast("double")
    val staged = df.filter(y.isNotNull && s.isNotNull)
      .select(y.as("_y"), s.as("_s"),
        explode(array(thresholds.map(lit): _*)).as("_t"))
    val per = staged.groupBy(col("_t"))
      .agg(sum(when(col("_s") > col("_t") && col("_y") === 1, 1L)
          .otherwise(0L)).cast("double").as("_tp"),
        sum(when(col("_s") <= col("_t") && col("_y") === 0, 1L)
          .otherwise(0L)).cast("double").as("_tn"),
        sum((col("_y") === 1).cast("long")).cast("double").as("_p"),
        sum((col("_y") === 0).cast("long")).cast("double").as("_neg"))
    val scored = per
      .withColumn("sens", when(col("_p") > 0, col("_tp") / col("_p")))
      .withColumn("spec", when(col("_neg") > 0, col("_tn") / col("_neg")))
      .withColumn("j", col("sens") + col("spec") - 1)
      .withColumn("_q",
        signum(col("j")) * floor(abs(col("j")) * 1e6 + 0.5) / 1e6)
    val best = scored.agg(
      max(struct(col("_q").as("q"), (-col("_t")).as("negt"))).as("_b"))
    scored.crossJoin(best)
      .withColumn("best",
        col("_q") === col("_b.q") && col("_t") === -col("_b.negt"))
      .select(col("_t").as("thr"), col("sens"), col("spec"), col("j"),
        col("best"))
  }

  /** Hill diversity numbers (Hill 1973) of a share distribution:
    *   D₀ = S (richness), D₁ = exp(−Σp ln p) (Shannon's effective
    * count), D₂ = 1/Σp² (inverse Simpson), plus Pielou evenness
    * J = H/ln S. The "how many EFFECTIVE hosts/users carry this
    * traffic?" ladder — D₁/D₂ drop long before raw richness does when
    * concentration creeps in. Shares from exact counts; one groupBy +
    * one reduction. Output: one row (s_, d1, d2, evenness).
    */
  def hillDiversity(df: DataFrame, keyCol: String): DataFrame = {
    val per = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("_c"))
    val agged = per.agg(count(lit(1)).as("s_"),
      sum(col("_c")).cast("double").as("_tot"),
      sum(col("_c").cast("double") * log(col("_c").cast("double")))
        .as("_slnc"),
      sum(col("_c").cast("double") * col("_c").cast("double")).as("_sc2"))
    val h = log(col("_tot")) - col("_slnc") / col("_tot")
    agged
      .withColumn("d1", exp(h))
      .withColumn("d2", col("_tot") * col("_tot") / col("_sc2"))
      .withColumn("evenness", when(col("s_") > 1,
        h / log(col("s_").cast("double"))))
      .select(col("s_"), col("d1"), col("d2"), col("evenness"))
  }

  /** Day-over-day population turnover: for each adjacent bucket pair,
    * the Jaccard overlap of the distinct-key sets plus the joined /
    * churned counts,
    *   jaccard = |A∩B| / (|A| + |B| − |A∩B|).
    * The membership-level churn reading that aggregate counts hide (a
    * flat DAU curve can mask 50% daily replacement). Distinct sets per
    * bucket, one self-join on the +1 bucket index, exact integer
    * overlap counts. Output: one row per adjacent pair
    * (dd, n_prev, n_curr, n_common, jaccard).
    */
  def turnover(df: DataFrame, tsCol: String, keyCol: String): DataFrame = {
    val daily = df.filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(tsCol).as("_d"), col(keyCol).as("_u")).distinct()
      .withColumn("_dd",
        datediff(col("_d"), min(col("_d")).over(Window.partitionBy())))
    val sizes = daily.groupBy(col("_dd")).agg(count(lit(1)).as("_sz"))
    val nxt = daily.select((col("_dd") - 1).as("_ddn"), col("_u").as("_un"))
    val common = daily.join(nxt,
        col("_dd") === col("_ddn") && col("_u") === col("_un"))
      .groupBy(col("_dd")).agg(count(lit(1)).as("_com"))
    val paired = sizes.join(sizes.select((col("_dd") - 1).as("_ddp"),
        col("_sz").as("_szn")), col("_dd") === col("_ddp"))
      .join(common, Seq("_dd"), "left")
      .withColumn("n_common", coalesce(col("_com"), lit(0L)))
    paired.select(col("_dd").as("dd"), col("_sz").as("n_prev"),
        col("_szn").as("n_curr"), col("n_common"),
        (col("n_common").cast("double") /
          (col("_sz") + col("_szn") - col("n_common")).cast("double"))
          .as("jaccard"))
  }

  def spiegelhalterZ(df: DataFrame, yCol: String, pCol: String): DataFrame = {
    val y = col(yCol).cast("double")
    val p = col(pCol).cast("double")
    val agged = df.filter(y.isNotNull && p.isNotNull)
      .agg(count(lit(1)).as("n"),
        avg((y - p) * (y - p)).as("brier"),
        sum((y - p) * (lit(1.0) - lit(2.0) * p)).as("_num"),
        sum((lit(1.0) - lit(2.0) * p) * (lit(1.0) - lit(2.0) * p) * p *
          (lit(1.0) - p)).as("_den"))
    agged
      .withColumn("z_stat", when(col("_den") > 0,
        col("_num") / sqrt(col("_den"))))
      .select(col("n"), col("brier"), col("z_stat"))
  }
}
