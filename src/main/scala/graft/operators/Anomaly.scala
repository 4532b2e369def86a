package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Anomaly detection over rolled-up series: robust (median/MAD) outlier
  * flags and a two-window mean-shift changepoint score.
  *
  * The reference stops at error metrics (interpret.py:47-115) — production
  * monitoring of the same rolled-up series needs "which points are broken"
  * and "where did the level shift", and both are pure relational algebra
  * over the tier tables this engine already produces.
  *
  * Scale design:
  *   - [[madOutliers]] is two grouped EXACT-median aggregates + two
  *     broadcast-able joins on the hierarchy keys — the per-key stats frame
  *     is tier-cardinality-sized (tiny next to the series), never a global
  *     sort. At extreme key cardinality both joins are plain shuffled
  *     hash joins on the same key — still two narrow passes.
  *   - [[meanShiftScore]] is one window shuffle (both frames share the
  *     (keys, ts) sort), rows-frame aggregates only — codegen'd, no UDF.
  */
object Anomaly {

  /** Robust outlier flags via the modified z-score (Iglewicz & Hoaglin 1993,
    * "How to Detect and Handle Outliers" — public):
    *   med  = median(v) per key
    *   mad  = median(|v − med|) per key
    *   z    = 0.6745·(v − med)/mad     (0.6745 ≈ Φ⁻¹(0.75): MAD→σ for normals)
    *   flag = |z| > threshold          (3.5 is the standard cut)
    * A key whose MAD is 0 (over half the points identical) yields null z and
    * false flags — the robust scale is undefined, not infinite.
    *
    * Output: input columns + `med, mad, robust_z, is_outlier`.
    */
  def madOutliers(df: DataFrame, keyCols: Seq[String], valCol: String,
                  threshold: Double = 3.5): DataFrame = {
    require(threshold > 0, s"threshold must be > 0, got $threshold")
    val v = col(valCol).cast("double")
    val med = df.groupBy(keyCols.map(col): _*)
      .agg(percentile(v, lit(0.5)).as("med"))
    val withMed = df.join(med, keyCols)
    val mad = withMed.groupBy(keyCols.map(col): _*)
      .agg(percentile(abs(v - col("med")), lit(0.5)).as("mad"))
    withMed.join(mad, keyCols)
      .withColumn("robust_z",
        when(col("mad") > 0, lit(0.6745) * (v - col("med")) / col("mad")))
      .withColumn("is_outlier",
        coalesce(abs(col("robust_z")) > threshold, lit(false)))
  }

  /** Two-window mean-shift changepoint score (CUSUM-adjacent, but windowed
    * so it is pure window algebra — the standard "compare the last w points
    * against the next w points" scan statistic):
    *
    * At each row t, left = rows [t−w, t−1], right = rows [t, t+w−1];
    *   score(t) = |mean(right) − mean(left)| / sqrt(var(left)/w + var(right)/w)
    * — Welch's t-statistic of the two windows. Null unless both windows are
    * FULL (w rows each) and the pooled variance is positive; high scores mark
    * level shifts.
    *
    * Output: input columns + `mean_l, mean_r, shift_score`.
    */
  def meanShiftScore(df: DataFrame, keyCols: Seq[String], tsCol: String,
                     valCol: String, w: Int): DataFrame = {
    require(w >= 2, s"window w must be >= 2 (variance needs 2 points), got $w")
    val v = col(valCol).cast("double")
    val base = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol))
    val left = base.rowsBetween(-w, -1)
    val right = base.rowsBetween(0, w - 1)
    val full = count(v).over(left) === w && count(v).over(right) === w
    val pooled = var_samp(v).over(left) / w + var_samp(v).over(right) / w
    df.withColumn("mean_l", when(full, avg(v).over(left)))
      .withColumn("mean_r", when(full, avg(v).over(right)))
      .withColumn("shift_score",
        when(full && pooled > 0,
          abs(avg(v).over(right) - avg(v).over(left)) / sqrt(pooled)))
  }

  /** Hampel filter (Hampel 1974; the standard despiking pass for sensor
    * series): per row, over the CENTERED window of `2·half + 1` samples,
    *   med = median(window),  mad = median(|xᵢ − med|)
    *   spike ⟺ |x − med| > k · 1.4826 · mad
    * and `v_filtered` replaces spikes with the window median. Unlike the
    * global [[madOutliers]] this adapts to local level — a spike during a
    * high plateau is judged against the plateau, not the series mean. MAD 0
    * (over half the window identical) gives a zero threshold, so ANY
    * deviation from the window median flags — the MATLAB `hampel`
    * convention, and the right call for despiking: a lone spike in a flat
    * window is exactly the case to catch.
    *
    * The frame is materialized per row (`collect_list` + `array_sort` +
    * exact interpolated medians via HOFs — codegen'd, no UDF): O(w log w)
    * per row, the same cost class as [[Features.rollingQuantile]]. Gated
    * null until the centered window is FULL (edges pass through
    * unfiltered). One window shuffle.
    */
  def hampel(df: DataFrame, keyCols: Seq[String], tsCol: String,
             valCol: String, half: Int = 3, k: Double = 3.0): DataFrame = {
    require(half >= 1, s"half-window must be >= 1, got $half")
    require(k > 0, s"k must be > 0, got $k")
    val w = 2 * half + 1
    val frame = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol))
      .rowsBetween(-half, half)
    val v = col(valCol).cast("double")
    // w = 2·half+1 is always odd: the median is the middle element exactly
    def medOf(sorted: org.apache.spark.sql.Column) =
      element_at(sorted, (w + 1) / 2)
    df.withColumn("_win", collect_list(v).over(frame))
      .withColumn("_med",
        when(size(col("_win")) === w, medOf(array_sort(col("_win")))))
      .withColumn("_mad",
        when(col("_med").isNotNull,
          medOf(array_sort(transform(col("_win"), x => abs(x - col("_med")))))))
      .withColumn("hampel_flag",
        when(col("_mad").isNotNull,
          abs(v - col("_med")) > lit(k) * lit(1.4826) * col("_mad"))
          .otherwise(lit(false)))
      .withColumn("v_filtered", when(col("hampel_flag"), col("_med")).otherwise(v))
      .withColumnRenamed("_med", "hampel_med")
      .drop("_win", "_mad")
  }

  /** Tabular (two-sided) CUSUM drift detector (Page 1954; NIST/SEMATECH
    * e-handbook §6.3.2.3 form): per key, standardize against the key's own
    * mean/stddev, then fold the pair of one-sided cumulative sums
    *
    *   s⁺ᵢ = max(0, s⁺ᵢ₋₁ + zᵢ − slack)
    *   s⁻ᵢ = max(0, s⁻ᵢ₋₁ − zᵢ − slack)     (s⁺₀ = s⁻₀ = 0)
    *
    * and flag rows where either side exceeds `h`. Detects small SUSTAINED
    * drifts that [[madOutliers]] (pointwise) and [[meanShiftScore]]
    * (fixed-window) both dilute; `slack` (the "allowance" k, typically 0.5 =
    * half the shift-to-detect in σ units) absorbs in-control noise.
    *
    * The recursion is inherently sequential per series — a [[SeriesFold]]
    * like the EWMA/Holt folds (SURVEY §2.11): one `collect_list` per key
    * under the folds' one point bound (point a TIER at it, not raw events),
    * the fold a primitive O(n) pass, results exploded back to one row per point.
    * One shuffle on the keys; the moments reuse a grouped agg + key join.
    *
    * Output: (keys, ts-sec, tie, z, cusum_pos, cusum_neg, is_drift).
    */
  def cusum(df: DataFrame, keyCols: Seq[String], tsCol: String, tieCol: String,
            valCol: String, slack: Double = 0.5, h: Double = 5.0): DataFrame = {
    require(slack >= 0, s"slack must be >= 0, got $slack")
    require(h > 0, s"h must be > 0, got $h")
    val keys = keyCols.map(col)
    val v = col(valCol).cast("double")
    val foldUdf = udf { (pts: Seq[org.apache.spark.sql.Row]) =>
      val sorted = SeriesFold.guard(pts).sortBy(p => (p.getLong(0), p.getLong(1)))
      var sp = 0.0; var sn = 0.0
      sorted.map { p =>
        val z = p.getDouble(2)
        sp = math.max(0.0, sp + z - slack)
        sn = math.max(0.0, sn - z - slack)
        (p.getLong(0), p.getLong(1), z, sp, sn)
      }
    }
    val moments = df.filter(v.isNotNull).groupBy(keys: _*)
      .agg(avg(v).as("_mu"), stddev_pop(v).as("_sd"))
    val scored = df.filter(v.isNotNull)
      .join(moments, keyCols)
      .withColumn("_z", when(col("_sd") > 0, (v - col("_mu")) / col("_sd"))
        .otherwise(lit(0.0)))
    SeriesFold.collect(scored, keyCols, Seq(unix_timestamp(col(tsCol)).as("t"),
        col(tieCol).cast("long").as("i"), col("_z").as("z")))
      .withColumn("_r", explode(foldUdf(col("_pts"))))
      .select((keys ++ Seq(col("_r._1").as("ts_sec"), col("_r._2").as("tie"),
        col("_r._3").as("z"), col("_r._4").as("cusum_pos"),
        col("_r._5").as("cusum_neg"))): _*)
      .withColumn("is_drift", col("cusum_pos") > h || col("cusum_neg") > h)
  }

  /** Tukey fences (Tukey 1977 EDA, public): per group the quartiles, IQR,
    * and the count of points beyond q1 − k·IQR / q3 + k·IQR — the boxplot
    * outlier rule, the distribution-free sibling of [[madOutliers]] (IQR
    * tolerates 25% contamination where stdev tolerates none).
    *
    * One exact-percentile aggregation + one conditional-count aggregation
    * on the same group key (AQE reuses the exchange). The fences are
    * fixed-order IEEE on the interpolated quartiles, so the flag counts
    * are cross-engine exact.
    */
  def tukeyFences(df: DataFrame, keyCols: Seq[String], valCol: String,
                  k: Double = 1.5): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val keys = keyCols.map(col)
    val q = df.groupBy(keys: _*).agg(
      expr(s"percentile($valCol, 0.25)").as("q1"),
      expr(s"percentile($valCol, 0.75)").as("q3"))
      .withColumn("iqr", col("q3") - col("q1"))
      .withColumn("lo_fence", col("q1") - lit(k) * col("iqr"))
      .withColumn("hi_fence", col("q3") + lit(k) * col("iqr"))
    df.join(q, keyCols)
      .groupBy(keys: _*)
      .agg(first(col("q1")).as("q1"), first(col("q3")).as("q3"),
        first(col("lo_fence")).as("lo_fence"), first(col("hi_fence")).as("hi_fence"),
        sum(when(col(valCol) < col("lo_fence"), 1L).otherwise(0L)).as("n_below"),
        sum(when(col(valCol) > col("hi_fence"), 1L).otherwise(0L)).as("n_above"),
        count(lit(1)).as("n"))
  }

  /** Inter-event regularity per key — the timing-based bot detector:
    * humans arrive with bursty, high-variance gaps, schedulers with
    * metronomic ones, so a LOW coefficient of variation of the
    * inter-event gap flags automation (the classic crawler/beacon
    * heuristic). Per key over the event stream:
    *   gaps gᵢ (integer seconds, one lag window),
    *   cv = √(n·Σg² − (Σg)²) / Σg   (population std / mean, simplified —
    * the n's cancel), computed from EXACT integer power sums, so the one
    * sqrt and one division are the only float ops. Null cv for keys with
    * < 2 gaps or zero total gap. Overflow bound: Σg² must fit a long —
    * seconds-grain gaps over years are fine; document µs-grain inputs out.
    *
    * One window pass + one map-side-combined aggregation.
    */
  def gapRegularity(df: DataFrame, keyCols: Seq[String], tsCol: String,
                    tieCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val t = unix_timestamp(col(tsCol).cast("timestamp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(t, col(tieCol))
    df.withColumn("_gap", t - lag(t, 1).over(w))
      .filter(col("_gap").isNotNull)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("_gap")).as("sum_gap_s"),
        sum(col("_gap") * col("_gap")).as("sum_gap2"))
      .withColumn("mean_gap_s",
        col("sum_gap_s").cast("double") / col("n_gaps").cast("double"))
      .withColumn("gap_cv",
        when(col("n_gaps") >= 2 && col("sum_gap_s") > 0,
          sqrt((col("n_gaps") * col("sum_gap2") - col("sum_gap_s") * col("sum_gap_s"))
            .cast("double")) / col("sum_gap_s").cast("double")))
      .select((keys :+ col("n_gaps") :+ col("sum_gap_s") :+
        col("mean_gap_s") :+ col("gap_cv")): _*)
  }

  /** Contingency table with chi-square DECOMPOSITION per cell: observed
    * count, expected under independence e = row_total·col_total/N (one
    * division of exact integers), and the standardized Pearson residual
    * (o−e)/√e. Emitted PER CELL deliberately — summing the χ² statistic
    * would make the result depend on float summation order across cells,
    * whereas every cell value here is fixed-order IEEE on exact counts;
    * the reader sums the (bounded) cell table if they want the statistic.
    *
    * One (a, b) count + two marginal aggregations of that result + one
    * scalar row — everything downstream of the first count operates on
    * |A|×|B| rows.
    */
  def contingency(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint() // consumed 3×: marginals ×2 + the cell join
    val rowTot = cells.groupBy("a").agg(sum(col("o")).as("row_tot"))
    val colTot = cells.groupBy("b").agg(sum(col("o")).as("col_tot"))
    val n = cells.agg(sum(col("o")).as("n_tot"))
    cells.join(rowTot, "a").join(colTot, "b")
      .crossJoin(n)
      .withColumn("expected",
        (col("row_tot") * col("col_tot")).cast("double") / col("n_tot").cast("double"))
      .withColumn("residual",
        (col("o").cast("double") - col("expected")) / sqrt(col("expected")))
      .select(col("a"), col("b"), col("o"), col("row_tot"), col("col_tot"),
        col("expected"), col("residual"))
  }

  /** Local-maxima peak detection: a row is a peak iff its value is STRICTLY
    * greater than every value within `radius` rows on each side of it in
    * the per-key time order. Strict comparison makes plateaus peak-free and
    * the flag deterministic (no tie-break needed); rows near a series edge
    * compare only against the neighbors that exist (an endpoint can be a
    * peak). One window shuffle on the key; both row frames reuse the same
    * sorted exchange.
    *
    * Returns the input plus `is_peak`; use `filter(col("is_peak"))` for the
    * peak list. Works on any per-key ordered series — run it on a TIER
    * table (1h/1d counts), never raw events, at scale.
    */
  def peaks(df: DataFrame, keyCols: Seq[String], tsCol: String,
            valCol: String, radius: Int): DataFrame = {
    require(radius >= 1, s"peaks: radius must be >= 1, got $radius")
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol))
    val left = max(col(valCol)).over(w.rowsBetween(-radius, -1))
    val right = max(col(valCol)).over(w.rowsBetween(1, radius))
    df.withColumn("is_peak",
      (left.isNull || col(valCol) > left) &&
        (right.isNull || col(valCol) > right))
  }

  /** Multi-window SLO burn-rate alerting (the SRE-workbook pattern): per
    * key, bucket the event stream to `bucketSeconds` error/total counts,
    * then compare the error RATE over a long and a short trailing window
    * against `budget × threshold`. An alert fires only when BOTH windows
    * burn hot — the long window gives significance, the short one confirms
    * the burn is still happening (fast reset). Rates are exact integer
    * ratios; the two range frames share one window exchange.
    *
    * @param errCond   boolean column marking an error event
    * @param budget    SLO error budget as a rate (e.g. 0.1 = 10% errors allowed)
    * @param threshold burn-rate multiple that pages (e.g. 2.0)
    * @return one row per (key, bucket): counts, both rates, both burn
    *         rates, and the `alert` flag
    */
  def burnRate(df: DataFrame, keyCols: Seq[String], tsCol: String,
               errCond: org.apache.spark.sql.Column, bucketSeconds: Long,
               shortBuckets: Int, longBuckets: Int,
               budget: Double, threshold: Double): DataFrame = {
    require(bucketSeconds >= 1 && shortBuckets >= 1 && longBuckets > shortBuckets,
      "burnRate: need bucketSeconds >= 1 and longBuckets > shortBuckets >= 1")
    require(budget > 0 && threshold > 0, "burnRate: budget and threshold must be > 0")
    val keys = keyCols.map(col)
    val bucketed = df
      .withColumn("_sec", unix_timestamp(col(tsCol).cast("timestamp")))
      .withColumn("bucket_start", col("_sec") - pmod(col("_sec"), lit(bucketSeconds)))
      .groupBy((keys :+ col("bucket_start")): _*)
      .agg(count(lit(1)).as("total"),
        sum(when(errCond, 1L).otherwise(0L)).as("errors"))
    // range frame on the bucket index, so missing (empty) buckets shorten
    // the window honestly instead of silently stretching it over gaps
    val w = Window.partitionBy(keys: _*)
      .orderBy((col("bucket_start") / bucketSeconds).cast("long"))
    def rate(nBuckets: Int) = {
      val f = w.rangeBetween(-(nBuckets - 1).toLong, 0L)
      sum(col("errors")).over(f).cast("double") /
        sum(col("total")).over(f).cast("double")
    }
    bucketed
      .withColumn("rate_short", rate(shortBuckets))
      .withColumn("rate_long", rate(longBuckets))
      .withColumn("burn_short", col("rate_short") / budget)
      .withColumn("burn_long", col("rate_long") / budget)
      .withColumn("alert",
        col("burn_short") > threshold && col("burn_long") > threshold)
  }

  /** Two-state Viterbi burst segmentation (the Kleinberg 2002 automaton
    * shape): per key, over the time-ordered series, find the min-cost
    * base/burst state path where each row pays an emission cost in its
    * state (`e0Col`/`e1Col`) and each base→burst transition pays `gamma`
    * (burst→base is free, as in Kleinberg). Forward DP:
    * `c0_t = min(c0, c1) + e0(t)`, `c1_t = min(c0 + γ, c1) + e1(t)`;
    * ties break toward base (`<=`) in both the step mins and the backtrack,
    * so the optimal path is unique and replayable.
    *
    * Cross-engine determinism: the DP path is a sequence of comparisons on
    * accumulated costs — supply INTEGER-exact emission costs (e.g. L1
    * distances of integer counts, the q287 pattern) and the path is
    * bit-exact in any engine; true log-likelihood float costs work but put
    * near-tie path choices at the mercy of last-ulp libm agreement.
    *
    * A per-key [[SeriesFold]] under the same point bound as [[cusum]]/EWMA —
    * run it on TIER buckets, never raw events. Output: input keys + `ts_sec`,
    * both running costs, and `burst` (the Viterbi state).
    */
  def burstSegments(df: DataFrame, keyCols: Seq[String], tsCol: String,
                    e0Col: String, e1Col: String,
                    gammaCol: org.apache.spark.sql.Column): DataFrame = {
    val keys = keyCols.map(col)
    val foldUdf = udf { (pts: Seq[org.apache.spark.sql.Row], gamma: Double) =>
      require(gamma >= 0, s"burstSegments: gamma must be >= 0, got $gamma")
      val sorted = SeriesFold.guard(pts).sortBy(_.getLong(0)).toArray
      val n = sorted.length
      val c0 = new Array[Double](n); val c1 = new Array[Double](n)
      // fromBase(i): the min in c1_i's recurrence came from state 0
      val fromBase0 = new Array[Boolean](n); val fromBase1 = new Array[Boolean](n)
      var i = 0
      while (i < n) {
        val e0 = sorted(i).getDouble(1); val e1 = sorted(i).getDouble(2)
        if (i == 0) {
          // path starts in base state (Kleinberg's q0): burst at t=0 pays γ
          c0(0) = e0; c1(0) = gamma + e1
          fromBase0(0) = true; fromBase1(0) = true
        } else {
          fromBase0(i) = c0(i - 1) <= c1(i - 1)
          fromBase1(i) = c0(i - 1) + gamma <= c1(i - 1)
          c0(i) = math.min(c0(i - 1), c1(i - 1)) + e0
          c1(i) = math.min(c0(i - 1) + gamma, c1(i - 1)) + e1
        }
        i += 1
      }
      val state = new Array[Int](n)
      if (n > 0) {
        state(n - 1) = if (c0(n - 1) <= c1(n - 1)) 0 else 1
        var j = n - 1
        while (j > 0) {
          val fb = if (state(j) == 0) fromBase0(j) else fromBase1(j)
          state(j - 1) = if (fb) 0 else 1
          j -= 1
        }
      }
      sorted.indices.map(k =>
        (sorted(k).getLong(0), c0(k), c1(k), state(k) == 1))
    }
    SeriesFold.collect(df.withColumn("_gamma", gammaCol.cast("double")), keyCols,
        Seq(col(tsCol).cast("long").as("t"), col(e0Col).cast("double").as("e0"),
          col(e1Col).cast("double").as("e1")),
        first(col("_gamma")).as("_g"))
      .withColumn("_r", explode(foldUdf(col("_pts"), col("_g"))))
      .select((keys ++ Seq(col("_r._1").as("ts_sec"),
        col("_r._2").as("cost_base"), col("_r._3").as("cost_burst"),
        col("_r._4").as("burst"))): _*)
  }

  /** Single best mean-shift changepoint per key (the first split of binary
    * segmentation, Scott & Knott 1974 / the top level of PELT): over the
    * time-ordered series, pick the split s maximizing the between-segment
    * sum-of-squares gain
    *
    *   gain(s) = S_L²/n_L + S_R²/n_R − S²/n
    *
    * (algebraically = SSE_total − SSE_left − SSE_right — variances cancel,
    * so only SUMS are needed). Prefix sums come from one cumulative window;
    * the winner is picked by rank on the 6-dp-ROUNDED gain with a timestamp
    * tie-break (raw-double gain ordering is ulp-fragile cross-engine; with
    * integer-valued series the sums themselves are exact). The heavier
    * statistical sibling of [[meanShiftScore]]: that scores EVERY point with
    * a t-statistic, this returns the single argmax split with its segment
    * means. One window shuffle; per-key rank is bounded by series length —
    * tier-grain contract, never raw events.
    *
    * @return one row per key: n, split_ts (last point of the left segment),
    *         n_left/n_right, mean_left/mean_right, gain
    */
  def binarySegment(df: DataFrame, keyCols: Seq[String], tsCol: String,
                    valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val wOrd = Window.partitionBy(keys: _*).orderBy(col(tsCol))
    val wAll = Window.partitionBy(keys: _*)
    val v = col(valCol).cast("double")
    val staged = df
      .withColumn("_i", row_number().over(wOrd))
      .withColumn("_cs", sum(v).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_s", sum(v).over(wAll))
    val nL = col("_i").cast("double")
    val nR = (col("_n") - col("_i")).cast("double")
    val gain = col("_cs") * col("_cs") / nL +
      (col("_s") - col("_cs")) * (col("_s") - col("_cs")) / nR -
      col("_s") * col("_s") / col("_n").cast("double")
    val scored = staged
      .filter(col("_i") < col("_n")) // split must leave a non-empty right side
      // arithmetic 6-dp rounding of the raw double (NOT Spark `round`, whose
      // BigDecimal shortest-repr path can round a boundary value the other
      // way than DuckDB) — the rounded gain also drives the argmax ORDER
      .withColumn("_gain_r", signum(gain) * floor(abs(gain) * 1e6 + 0.5) / 1e6)
    val pick = Window.partitionBy(keys: _*)
      .orderBy(col("_gain_r").desc, col(tsCol))
    scored
      .withColumn("_rk", row_number().over(pick))
      .filter(col("_rk") === 1)
      .select((keys ++ Seq(col("_n").as("n"), col(tsCol).as("split_ts"),
        col("_i").as("n_left"), (col("_n") - col("_i")).as("n_right"),
        (col("_cs") / nL).as("mean_left"),
        ((col("_s") - col("_cs")) / nR).as("mean_right"),
        col("_gain_r").as("gain"))): _*)
  }

  /** Page–Hinkley test (Page 1954; the streaming-drift form in Gama et al.
    * 2014 §3.1) — the sequential mean-INCREASE detector that [[cusum]]'s
    * fixed-target form doesn't give: the running mean itself is the
    * baseline, so no training window is needed.
    *   m_t  = Σ_{i≤t} (x_i − x̄_i − δ)    with x̄_i the running mean through i
    *   PH_t = m_t − min_{i≤t} m_i        alarm when PH_t > λ
    * δ absorbs tolerated drift; λ is the detection threshold (scale of the
    * measure). The whole statistic is three cumulative windows per key —
    * running mean, cumulative deviation, running min — one sort, no
    * iteration, no state.
    * Output: every input row + `run_mean`, `ph`, `alarm` (0/1).
    */
  def pageHinkley(df: DataFrame, keyCols: Seq[String], tsCol: String,
                  valCol: String, delta: Double, lambda: Double): DataFrame = {
    require(lambda > 0, s"lambda must be > 0, got $lambda")
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col(tsCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val v = col(valCol).cast("double")
    df.filter(v.isNotNull)
      .withColumn("run_mean", avg(v).over(w))
      .withColumn("_m", sum(v - col("run_mean") - lit(delta)).over(w))
      .withColumn("ph", col("_m") - min(col("_m")).over(w))
      .withColumn("alarm", (col("ph") > lambda).cast("int"))
      .drop("_m")
  }

  /** Pettitt changepoint test (Pettitt 1979) — the rank-based single-
    * changepoint locator ([[binarySegment]]'s nonparametric sibling:
    * robust to outliers and any monotone transform because only RANKS
    * enter):
    *   U_t = Σ_{i≤t} Σ_{j>t} sgn(x_i − x_j),  K = max_t |U_t| (t < n)
    *   p ≈ 2·exp(−6K² / (n³ + n²))
    * The double sum collapses: Σ_j sgn(x_i − x_j) = 2·midrank_i − (n+1)
    * (ties cancel through the midrank), and the within-prefix part is
    * antisymmetric, so U_t is just the CUMSUM of (2·midrank − (n+1)) in
    * time order — one value-rank window + one time-cumsum window per key.
    * Midranks are integers-or-halves, so U_t is cross-engine EXACT; the
    * argmax is ranked on (|U_t| desc, ts asc), an exact-integer ordering.
    * Output: one row per key: (keys..., n, u_max, split_ts, p_approx).
    */
  def pettitt(df: DataFrame, keyCols: Seq[String], tsCol: String,
              valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val v = col(valCol).cast("double")
    val wVal = Window.partitionBy(keys: _*).orderBy(v)
    val wTie = Window.partitionBy((keys :+ v): _*)
    val wAll = Window.partitionBy(keys: _*)
    val wCum = Window.partitionBy(keys: _*).orderBy(col(tsCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = df.filter(v.isNotNull)
      .withColumn("_mid",
        rank().over(wVal).cast("double") + (count(lit(1)).over(wTie) - 1) / 2.0)
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_u",
        sum(lit(2.0) * col("_mid") - (col("_n") + 1)).over(wCum))
      .withColumn("_rt", row_number().over(
        Window.partitionBy(keys: _*).orderBy(col(tsCol))))
    val pick = Window.partitionBy(keys: _*)
      .orderBy(abs(col("_u")).desc, col(tsCol))
    staged
      .filter(col("_rt") < col("_n")) // U_n = 0 by construction; t ranges 1..n−1
      .withColumn("_rk", row_number().over(pick))
      .filter(col("_rk") === 1)
      .withColumn("_nd", col("_n").cast("double"))
      .select((keys ++ Seq(col("_n").as("n"), abs(col("_u")).as("u_max"),
        col(tsCol).as("split_ts"),
        exp(lit(-6.0) * col("_u") * col("_u") /
          (col("_nd") * col("_nd") * col("_nd") + col("_nd") * col("_nd")))
          .multiply(2.0).as("p_approx"))): _*)
  }

  /** Grubbs' outlier statistic (Grubbs 1950) per key: G = max|x − x̄| / s
    * (sample sd) with the offending value alongside — the single-most-
    * extreme-point test that complements [[madOutliers]]' per-row flags
    * and [[hampel]]'s rolling form. Two aggregates (moments, then the max
    * deviation against the broadcast-joined moments) — the mean can't be
    * known while scanning, so one re-touch is inherent. Keys with s = 0 or
    * n < 3 emit null G. Output: (keys..., n, g_stat, outlier_value).
    */
  def grubbs(df: DataFrame, keyCols: Seq[String], valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val v = col(valCol).cast("double")
    val moments = df.filter(v.isNotNull)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), avg(v).as("_m"),
        sum(v * v).as("_q"), sum(v).as("_s"))
      .withColumn("_var", when(col("n") > 1,
        (col("_q") - col("_s") * col("_s") / col("n").cast("double")) /
          (col("n").cast("double") - 1)))
      .withColumn("_sd", sqrt(greatest(col("_var"), lit(0.0))))
    df.filter(v.isNotNull)
      .join(broadcast(moments), keyCols)
      .groupBy((keys :+ col("n") :+ col("_m") :+ col("_sd")): _*)
      .agg(max(abs(v - col("_m"))).as("_dev"),
        max_by(v, abs(v - col("_m"))).as("outlier_value"))
      .withColumn("g_stat",
        when(col("_sd") > 0 && col("n") >= 3, col("_dev") / col("_sd")))
      .select((keys :+ col("n") :+ col("g_stat") :+ col("outlier_value")): _*)
  }

  /** Standard normal homogeneity test (Alexandersson 1986, SNHT) per key —
    * the single-breakpoint MEAN-SHIFT locator on the STANDARDIZED series
    * (where [[binarySegment]] maximizes raw SS gain and [[pettitt]] uses
    * ranks, SNHT is the parametric z-score form climate homogenization
    * uses):
    *   T_t = t·z̄₁² + (n−t)·z̄₂²,  z = (x − μ)/σ (population moments)
    * maximized over t = 1..n−1; T ≳ 8–10 flags a break for typical n.
    * With prefix sums cz_t: T_t = cz_t²/t + (cz_n − cz_t)²/(n−t) — one
    * moment window + one cumulative window; the argmax is ranked on the
    * arithmetic-6dp-rounded T with the ts tie-break (the [[binarySegment]]
    * rank discipline). Output: (keys..., n, split_ts, t_stat).
    */
  def snht(df: DataFrame, keyCols: Seq[String], tsCol: String,
           valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val wAll = Window.partitionBy(keys: _*)
    val wCum = Window.partitionBy(keys: _*).orderBy(col(tsCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val v = col(valCol).cast("double")
    val staged = df.filter(v.isNotNull)
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_m", avg(v).over(wAll))
      .withColumn("_sd", sqrt(greatest(
        avg(v * v).over(wAll) - col("_m") * col("_m"), lit(0.0))))
      .filter(col("_sd") > 0)
      .withColumn("_z", (v - col("_m")) / col("_sd"))
      .withColumn("_cz", sum(col("_z")).over(wCum))
      .withColumn("_i", row_number().over(
        Window.partitionBy(keys: _*).orderBy(col(tsCol))))
      .withColumn("_czn", sum(col("_z")).over(wAll))
    val t = staged.filter(col("_i") < col("_n"))
      .withColumn("_t",
        col("_cz") * col("_cz") / col("_i") +
          (col("_czn") - col("_cz")) * (col("_czn") - col("_cz")) /
            (col("_n") - col("_i")))
      .withColumn("_tr", signum(col("_t")) * floor(abs(col("_t")) * 1e6 + 0.5) / 1e6)
    val pick = Window.partitionBy(keys: _*)
      .orderBy(col("_tr").desc, col(tsCol))
    t.withColumn("_rk", row_number().over(pick))
      .filter(col("_rk") === 1)
      .select((keys ++ Seq(col("_n").as("n"), col(tsCol).as("split_ts"),
        col("_tr").as("t_stat"))): _*)
  }
}
