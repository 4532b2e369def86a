package graft.operators

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical baseline forecasters with the reference's model-selection
  * layer ([[rollingOriginSelect]]), plus the series diagnostics a model
  * choice reads (AR(2), Granger, variance ratio, Dickey–Fuller) and
  * top-down reconciliation.
  *
  * The reference's model layer fits LightGBM/Prophet
  * (/root/reference/forecastframe/model.py:802-953 — scoped out per SURVEY
  * §3: driver-side ML, not engine work), but every forecasting pipeline
  * needs the classical baselines the models must beat, and THOSE are pure
  * relational algebra — they belong in the engine. Semantics follow the
  * standard definitions (Hyndman & Athanasopoulos, "Forecasting: Principles
  * and Practice" — public). The family:
  *   - closed form, no per-key collect: [[seasonalNaive]], [[drift]],
  *     [[ses]], [[theta]], [[croston]], [[sba]], [[tsb]], [[greyGm11]]. The
  *     SES-style levels are geometric weighted sums (one window rank + one
  *     aggregate); drift is one min_by/max_by aggregate; seasonal naive
  *     equi-joins each step's source timestamp back onto history.
  *   - per-key fold: [[holt]], [[holtDamped]], [[holtWinters]],
  *     [[holtWintersMul]]. Their coupled recursions have no geometric
  *     closed form, so each runs as a [[SeriesFold]] (one `collect_list`
  *     per key, an O(n) pass in time order, the one point bound) through
  *     one shared skeleton, each with its own recursion.
  * Every keyed forecaster ends in the same future frame: each key's origin
  * (its last observation) expanded to steps 1..horizon, with
  * `forecast_ts` = origin + step·stepSeconds, and outputs
  * (keys..., forecast_ts, step, yhat). Seasonal naive adds residual-based
  * ±z·σ̂·√⌈s/m⌉ intervals (Hyndman §5.5).
  *
  * Inputs are a REGULAR per-key series (run [[GapFill]] first): `tsCol`
  * spaced exactly `stepSeconds` apart within each key.
  */
object Forecast {

  private def requireWeight(name: String, v: Double): Unit =
    require(v > 0 && v <= 1, s"$name must be in (0, 1], got $v")

  /** The future frame: each `perKey` row repeated for step = 1..horizon,
    * with `forecast_ts` = the `origin` timestamp + step·stepSeconds.
    */
  private def future(perKey: DataFrame, origin: String, horizon: Int,
                     stepSeconds: Long): DataFrame = {
    require(horizon >= 1 && stepSeconds >= 1,
      s"horizon/stepSeconds must be >= 1, got $horizon/$stepSeconds")
    perKey
      .withColumn("step", explode(sequence(lit(1), lit(horizon))))
      .withColumn("forecast_ts",
        timestamp_seconds(unix_timestamp(col(origin)) + col("step") * stepSeconds))
  }

  /** [[future]] in the forecasters' output shape: (keys..., forecast_ts, step, yhat). */
  private def forecastFrame(perKey: DataFrame, keyCols: Seq[String], origin: String,
                            horizon: Int, stepSeconds: Long, yhat: Column): DataFrame =
    future(perKey, origin, horizon, stepSeconds)
      .select((keyCols.map(col) :+ col("forecast_ts") :+ col("step") :+ yhat.as("yhat")): _*)

  /** Weight of an observation `back` steps before the last one in the SES
    * closed form with l₁ = y₁: (1−α)^back for the first observation,
    * α·(1−α)^back for every later one.
    */
  private def sesWeight(isFirst: Column, back: Column, alpha: Double): Column =
    when(isFirst, pow(lit(1.0 - alpha), back))
      .otherwise(lit(alpha) * pow(lit(1.0 - alpha), back))

  /** The fold forecasters' skeleton: each key's non-null observations
    * collected ([[SeriesFold]]), folded in time order into a state `_st`
    * (`None` drops the key), then the future frame from the key's last
    * observation, with `yhat` computed from `_st` and `step`.
    */
  private def foldForecast[S: TypeTag](history: DataFrame, keyCols: Seq[String],
                                       tsCol: String, valCol: String, horizon: Int,
                                       stepSeconds: Long, yhat: Column)(
      fold: Array[Double] => Option[S]): DataFrame = {
    val foldUdf = udf((pts: Seq[Row]) => fold(SeriesFold.values(pts)))
    val perKey = SeriesFold.collect(history.filter(col(valCol).isNotNull), keyCols,
        SeriesFold.timeValue(tsCol, valCol), max(col(tsCol)).as("_last_ts"))
      .withColumn("_st", foldUdf(col("_pts")))
      .filter(col("_st").isNotNull)
    forecastFrame(perKey, keyCols, "_last_ts", horizon, stepSeconds, yhat)
  }

  /** Seasonal-naive forecast with ±z·σ̂·√⌈s/m⌉ prediction intervals:
    * ŷ(T+s) = y(T + s − m·⌈s/m⌉), the last same-season value.
    *
    * One pass over history gives the last timestamp and the residual σ per
    * key (stddev of the m-lag difference, widened by √⌈s/m⌉ as the naive
    * variance grows with steps ahead). The future frame computes each
    * step's SOURCE timestamp arithmetically, then equi-joins history on
    * (key, source_ts): one broadcast-able equi-join instead of a range join
    * or a per-key window over history+future.
    *
    * @param period      season length m, in steps
    * @param horizon     number of future steps to emit (1..horizon)
    * @param stepSeconds series grid spacing in seconds
    * @return one row per (key, step): `forecast_ts, step, yhat, lo, hi`
    */
  def seasonalNaive(history: DataFrame, keyCols: Seq[String], tsCol: String,
                    valCol: String, period: Int, horizon: Int,
                    stepSeconds: Long, z: Double = 1.96): DataFrame = {
    require(period >= 1, s"period must be >= 1, got $period")
    val keys = keyCols.map(col)

    // one pass over history: last timestamp + m-lag residual spread per key
    val w = Window.partitionBy(keys: _*).orderBy(col(tsCol))
    val resid = history
      .withColumn("_resid", col(valCol) - lag(col(valCol), period).over(w))
    val perKey = resid
      .groupBy(keys: _*)
      .agg(max(col(tsCol)).as("_last_ts"),
        coalesce(stddev_samp(col("_resid")), lit(0.0)).as("_sigma"))

    // step s forecasts from source ts = T + (s − m·⌈s/m⌉)·Δ
    val fut = future(perKey, "_last_ts", horizon, stepSeconds)
      .withColumn("_k", ceil(col("step").cast("double") / period).cast("long"))
      .withColumn("_src_ts",
        timestamp_seconds(unix_timestamp(col("_last_ts")) +
          (col("step") - col("_k") * period) * stepSeconds))

    val src = history.select((keys :+ col(tsCol).as("_src_ts")
      :+ col(valCol).as("yhat")): _*)
    fut.join(src, keyCols :+ "_src_ts", "left")
      .withColumn("lo", col("yhat") - lit(z) * col("_sigma") * sqrt(col("_k")))
      .withColumn("hi", col("yhat") + lit(z) * col("_sigma") * sqrt(col("_k")))
      .select((keys :+ col("forecast_ts") :+ col("step")
        :+ col("yhat") :+ col("lo") :+ col("hi")): _*)
  }

  /** Grey GM(1,1) forecast (Deng 1982) — the small-sample trend model of
    * grey-systems theory, built for series far too short for ARIMA: with
    * the accumulated series x1_k = Σ_{i≤k} x0_i and adjacent means
    * z_k = (x1_{k−1} + x1_k)/2, fit the grey differential equation
    * x0_k = −a·z_k + b by plain 2-parameter OLS (k = 2…n), then
    *   x̂0(n+h) = (1 − e^a)·(x0_1 − b/a)·e^{−a·(n+h−1)}.
    * Everything is closed form: one cumulative window, one lag, one sums
    * pass, and the forecast explodes a literal horizon sequence — no
    * iteration, no collect. Null yhat when the OLS denominator or `a`
    * degenerates (constant series forecast flat via a → 0 guard).
    * Output: one row per step (step, yhat).
    */
  def greyGm11(history: DataFrame, tsCol: String, valCol: String,
               horizon: Int): DataFrame = {
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    val v = col(valCol).cast("double")
    val w = Window.orderBy(col("_t"))
    val staged = history.filter(v.isNotNull)
      .select(col(tsCol).as("_t"), v.as("_x0"))
      .withColumn("_k", row_number().over(w))
      .withColumn("_x1", sum(col("_x0")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_x1p", lag(col("_x1"), 1).over(w))
      .withColumn("_first", first(col("_x0")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val pairs = staged.filter(col("_x1p").isNotNull)
      .withColumn("_z", (col("_x1p") + col("_x1")) / 2)
    val agged = pairs.agg(count(lit(1)).cast("double").as("_m"),
      sum(col("_z")).as("_sz"), sum(col("_x0")).as("_sx"),
      sum(col("_z") * col("_x0")).as("_szx"),
      sum(col("_z") * col("_z")).as("_szz"),
      max(col("_k")).cast("double").as("_n"),
      min(col("_first")).as("_x01"))
    // OLS of x0 on z: slope = cov/var; a = -slope, b = intercept
    val den = col("_szz") - col("_sz") * col("_sz") / col("_m")
    val slope = (col("_szx") - col("_sz") * col("_sx") / col("_m")) / den
    val withAb = agged
      .withColumn("_a", when(
        Bounded.gate(col("_m"), Bounded.DefaultMaxPoints, "greyGm11") &&
          den =!= 0, -slope))
      .withColumn("_b", when(col("_a").isNotNull,
        col("_sx") / col("_m") + col("_a") * col("_sz") / col("_m")))
    withAb
      .withColumn("step", explode(sequence(lit(1), lit(horizon))))
      .withColumn("yhat", when(col("_a").isNotNull && col("_a") =!= 0,
        (lit(1.0) - exp(col("_a"))) * (col("_x01") - col("_b") / col("_a")) *
          exp(-col("_a") * (col("_n") + col("step") - 1))))
      .select(col("step"), col("yhat"))
  }

  /** Drift forecast: the line through the first and last observation,
    * extrapolated `horizon` steps — ŷ(T+s) = y(T) + s·(y(T) − y(1))/(T−1).
    * One aggregate pass over history (map-side partial min_by/max_by by
    * ts) + the future frame.
    */
  def drift(history: DataFrame, keyCols: Seq[String], tsCol: String,
            valCol: String, horizon: Int, stepSeconds: Long): DataFrame = {
    val perKey = history
      .groupBy(keyCols.map(col): _*)
      .agg(
        min_by(col(valCol), col(tsCol)).as("_y1"),
        max_by(col(valCol), col(tsCol)).as("_yT"),
        max(col(tsCol)).as("_last_ts"),
        count(lit(1)).as("_n"))
    forecastFrame(perKey, keyCols, "_last_ts", horizon, stepSeconds,
      when(col("_n") > 1,
        col("_yT") + col("step") * (col("_yT") - col("_y1")) / (col("_n") - 1))
        .otherwise(col("_yT")))
  }

  /** Simple-exponential-smoothing forecast (Hyndman §8.1, adjust=False /
    * l₁ = y₁ initialization): flat ŷ(T+s) = l_T for all s, where
    * l_t = α·y_t + (1−α)·l_{t−1}.
    *
    * The recursion is computed by its CLOSED FORM — l_T is a weighted sum
    *   l_T = (1−α)^(T−1)·y₁ + Σ_{t=2..T} α·(1−α)^(T−t)·y_t
    * — so the whole level is ONE window (row_number) + ONE groupBy(sum):
    * no per-key collect, no UDF state, and the weights underflow harmlessly
    * to 0 for ancient points (never overflow — the exponent is always ≥ 0,
    * unlike the prefix-scan trick with (1−α)^(−t) that blows up past ~700
    * rows). Per-row smoothed SERIES (not just the last level) should use
    * [[Ewma.ewmaSeriesFrame]] with adjust=false instead.
    *
    * Nulls in `valCol` are skipped (pandas `ignore_na=True` shape): weights
    * are computed over the non-null rank so the recursion sees only observed
    * points.
    */
  def ses(history: DataFrame, keyCols: Seq[String], tsCol: String,
          valCol: String, alpha: Double, horizon: Int, stepSeconds: Long): DataFrame = {
    requireWeight("alpha", alpha)
    val keys = keyCols.map(col)
    val obs = history.filter(col(valCol).isNotNull)
    // rank-from-the-end gives the exponent (T−t) directly; the ascending rank
    // only flags the t=1 row. Both windows share one sort order (desc is the
    // reverse), so Catalyst plans a single Exchange on the keys.
    val w = Window.partitionBy(keys: _*).orderBy(col(tsCol))
    val wDesc = Window.partitionBy(keys: _*).orderBy(col(tsCol).desc)
    val weighted = obs
      .withColumn("_back", row_number().over(wDesc) - 1) // T−t: 0 for last row
      .withColumn("_rn", row_number().over(w))
    val lvl = weighted
      .withColumn("_w", sesWeight(col("_rn") === 1, col("_back"), alpha))
      .groupBy(keys: _*)
      .agg(sum(col("_w") * col(valCol)).as("level"), max(col(tsCol)).as("_last_ts"))
    forecastFrame(lvl, keyCols, "_last_ts", horizon, stepSeconds, col("level"))
  }

  /** Theta method (Assimakopoulos & Nikolopoulos 2000; the M3-competition
    * winner — public), non-seasonal θ = (0, 2) variant:
    *   - theta-0 line = OLS fit y ~ t over the 1-based row index t (pure
    *     linear trend);
    *   - theta-2 line z_t = 2·y_t − (â + b̂·t) (double-curvature series),
    *     smoothed by SES (same closed form as [[ses]], l₁ = z₁);
    *   - ŷ(T+s) = ((â + b̂·(T+s)) + l_T) / 2 — the equally-weighted
    *     combination of the extrapolated trend and the SES level.
    *
    * Everything is closed-form: the OLS slope/intercept come from the five
    * classic sums (n, Σt, Σy, Σty, Σt²) as window aggregates over each key,
    * the SES level is the usual geometric weighted sum — ONE shuffle on the
    * keys (all windows share the partitioning), one groupBy, no UDF, no
    * per-key state. Keys need ≥ 2 points (OLS denominator); single-point
    * keys fall back to a flat ŷ = y₁.
    */
  def theta(history: DataFrame, keyCols: Seq[String], tsCol: String,
            valCol: String, alpha: Double, horizon: Int, stepSeconds: Long): DataFrame = {
    requireWeight("alpha", alpha)
    val keys = keyCols.map(col)
    val wp = Window.partitionBy(keys: _*)
    val w = Window.partitionBy(keys: _*).orderBy(col(tsCol))
    val wDesc = Window.partitionBy(keys: _*).orderBy(col(tsCol).desc)
    val obs = history.filter(col(valCol).isNotNull)
      .withColumn("_t", row_number().over(w).cast("double"))
      .withColumn("_back", row_number().over(wDesc) - 1)
      .withColumn("_y", col(valCol).cast("double"))
    // OLS over the index: b = (nΣty − Σt·Σy) / (nΣt² − (Σt)²); a = (Σy − b·Σt)/n
    val withOls = obs
      .withColumn("_n", count(lit(1)).over(wp).cast("double"))
      .withColumn("_st", sum(col("_t")).over(wp))
      .withColumn("_sy", sum(col("_y")).over(wp))
      .withColumn("_sty", sum(col("_t") * col("_y")).over(wp))
      .withColumn("_stt", sum(col("_t") * col("_t")).over(wp))
      .withColumn("_den", col("_n") * col("_stt") - col("_st") * col("_st"))
      .withColumn("_b", when(col("_den") =!= 0,
        (col("_n") * col("_sty") - col("_st") * col("_sy")) / col("_den")).otherwise(lit(0.0)))
      .withColumn("_a", (col("_sy") - col("_b") * col("_st")) / col("_n"))
    // SES closed form over the theta-2 line z_t = 2y_t − (a + b·t)
    val withW = withOls
      .withColumn("_z", lit(2.0) * col("_y") - (col("_a") + col("_b") * col("_t")))
      .withColumn("_w", sesWeight(col("_t") === 1.0, col("_back"), alpha))
    val lvl = withW
      .groupBy(keys: _*)
      .agg(sum(col("_w") * col("_z")).as("_l"),
        max(col(tsCol)).as("_last_ts"),
        max(col("_n")).as("_T"), max(col("_a")).as("_a"), max(col("_b")).as("_b"))
    forecastFrame(lvl, keyCols, "_last_ts", horizon, stepSeconds,
      ((col("_a") + col("_b") * (col("_T") + col("step"))) + col("_l")) / 2.0)
  }

  /** Damped-trend Holt (Hyndman §8.2 "damped trend methods"): the φ-damped
    * variant that stops linear trends from extrapolating to infinity —
    *   l_t = α·y_t + (1−α)·(l_{t−1} + φ·b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·(φ·b_{t−1})
    *   ŷ(T+s) = l_T + (φ + φ² + … + φˢ)·b_T
    * from l₁ = y₁, b₁ = y₂ − y₁, with the horizon multiplier in closed form
    * φ(1−φˢ)/(1−φ) (s itself at φ = 1, where the method is [[holt]]).
    *
    * The coupled (l, b) recursion has no geometric closed form (the
    * observation weights are entries of a 2×2 matrix power), so it runs as
    * a per-key [[SeriesFold]] over the sorted series, like the other fold
    * forecasters ([[holtWinters]], [[holtWintersMul]]): one `collect_list`
    * per key, O(series) fold, state never crosses keys, and the one point
    * bound applies (the intended input is a rolled-up tier, not raw
    * events). Keys with < 2 points are dropped (b₁ undefined).
    */
  def holtDamped(history: DataFrame, keyCols: Seq[String], tsCol: String,
                 valCol: String, alpha: Double, beta: Double, phi: Double,
                 horizon: Int, stepSeconds: Long): DataFrame = {
    requireWeight("alpha", alpha)
    requireWeight("beta", beta)
    requireWeight("phi", phi)
    val phiSum =
      if (phi == 1.0) col("step").cast("double")
      else lit(phi) * (lit(1.0) - pow(lit(phi), col("step"))) / lit(1.0 - phi)
    foldForecast(history, keyCols, tsCol, valCol, horizon, stepSeconds,
      col("_st._1") + phiSum * col("_st._2")) { ys =>
      if (ys.length < 2) None
      else {
        var l = ys(0)
        var b = ys(1) - ys(0)
        var i = 1
        while (i < ys.length) {
          val lNew = alpha * ys(i) + (1.0 - alpha) * (l + phi * b)
          b = beta * (lNew - l) + (1.0 - beta) * (phi * b)
          l = lNew
          i += 1
        }
        Some((l, b))
      }
    }
  }

  /** Holt's linear-trend method (Hyndman §8.2, standard init l₁ = y₁,
    * b₁ = y₂ − y₁, recursion from t = 2):
    *   l_t = α·y_t + (1−α)·(l_{t−1} + b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    *   ŷ(T+s) = l_T + s·b_T
    * — [[holtDamped]] at φ = 1, where φ·b = b exactly, so the results are
    * the undamped recursion's bit for bit.
    */
  def holt(history: DataFrame, keyCols: Seq[String], tsCol: String,
           valCol: String, alpha: Double, beta: Double, horizon: Int,
           stepSeconds: Long): DataFrame =
    holtDamped(history, keyCols, tsCol, valCol, alpha, beta, phi = 1.0, horizon, stepSeconds)

  /** Holt-Winters ADDITIVE seasonal method (Winters 1960; Hyndman §8.3),
    * classical init (statsmodels "legacy-heuristic"-adjacent, fully pinned
    * here so the oracle can replay it):
    *   l_m = mean(y_1..y_m)
    *   b_m = (Σ y_{m+1..2m} − Σ y_{1..m}) / m²
    *   s_i = y_i − l_m                       (i = 1..m)
    * recursion for t > m:
    *   l_t = α·(y_t − s_{t−m}) + (1−α)·(l_{t−1} + b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    *   s_t = γ·(y_t − l_{t−1} − b_{t−1}) + (1−γ)·s_{t−m}
    * forecast: ŷ(T+h) = l_T + h·b_T + s_{T+h−m·⌈h/m⌉}.
    *
    * Like [[holt]], the coupled recursion is a per-key [[SeriesFold]]; the
    * seasonal state is an m-slot ring buffer, O(m) memory per key. Keys
    * with fewer than 2m points are dropped (the init needs two full seasons).
    */
  def holtWinters(history: DataFrame, keyCols: Seq[String], tsCol: String,
                  valCol: String, alpha: Double, beta: Double, gamma: Double,
                  period: Int, horizon: Int, stepSeconds: Long): DataFrame = {
    requireWeight("alpha", alpha)
    requireWeight("beta", beta)
    requireWeight("gamma", gamma)
    require(period >= 2, s"period must be >= 2, got $period")
    val m = period
    foldForecast(history, keyCols, tsCol, valCol, horizon, stepSeconds,
      col("_st._1") + col("step") * col("_st._2") +
        element_at(col("_st._3"), col("step").cast("int"))) { ys =>
      val n = ys.length
      if (n < 2 * m) None
      else {
        // init: level = first-season mean, trend = season-over-season drift,
        // seasonals = first-season deviations (sum shapes match the oracle)
        var l = ys.slice(0, m).sum / m
        var b = (ys.slice(m, 2 * m).sum - ys.slice(0, m).sum) / (m * m)
        val s = Array.tabulate(m)(i => ys(i) - l)
        var i = m
        while (i < n) {
          val sOld = s(i % m)
          val lNew = alpha * (ys(i) - sOld) + (1.0 - alpha) * (l + b)
          val bNew = beta * (lNew - l) + (1.0 - beta) * b
          s(i % m) = gamma * (ys(i) - l - b) + (1.0 - gamma) * sOld
          l = lNew; b = bNew
          i += 1
        }
        // ring slot for forecast step h (1-based): time (n−1)+h mod m
        Some((l, b, (1 to horizon).map(h => s((n - 1 + h) % m))))
      }
    }
  }

  /** MULTIPLICATIVE Holt-Winters (Hyndman §8.3) — the variant for series
    * whose seasonal swing scales with the level (traffic, sales: a +20%
    * weekend is +20% whether the week ran 1k or 1M):
    *   l_t = α·(y_t / s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    *   s_t = γ·(y_t / (l_{t−1} + b_{t−1})) + (1−γ)·s_{t−m}
    *   ŷ(T+h) = (l_T + h·b_T) · s_{T+h−m⌈h/m⌉}
    * Init mirrors [[holtWinters]] with ratio seasonals (s_i = y_i / l₀).
    * Requires strictly positive observations (the ratios are undefined
    * otherwise) — keys with any y ≤ 0 or fewer than 2 seasons are dropped.
    * Same per-key fold + ring buffer as the additive form.
    */
  def holtWintersMul(history: DataFrame, keyCols: Seq[String], tsCol: String,
                     valCol: String, alpha: Double, beta: Double, gamma: Double,
                     period: Int, horizon: Int, stepSeconds: Long): DataFrame = {
    requireWeight("alpha", alpha)
    requireWeight("beta", beta)
    requireWeight("gamma", gamma)
    require(period >= 2, s"period must be >= 2, got $period")
    val m = period
    foldForecast(history, keyCols, tsCol, valCol, horizon, stepSeconds,
      (col("_st._1") + col("step") * col("_st._2")) *
        element_at(col("_st._3"), col("step").cast("int"))) { ys =>
      val n = ys.length
      if (n < 2 * m || ys.exists(_ <= 0.0)) None
      else {
        var l = ys.slice(0, m).sum / m
        var b = (ys.slice(m, 2 * m).sum - ys.slice(0, m).sum) / (m * m)
        if (l == 0.0) None
        else {
          val s = Array.tabulate(m)(i => ys(i) / l)
          var i = m
          while (i < n) {
            val sOld = s(i % m)
            val lNew = alpha * (ys(i) / sOld) + (1.0 - alpha) * (l + b)
            val bNew = beta * (lNew - l) + (1.0 - beta) * b
            s(i % m) = gamma * (ys(i) / (l + b)) + (1.0 - gamma) * sOld
            l = lNew; b = bNew
            i += 1
          }
          Some((l, b, (1 to horizon).map(h => s((n - 1 + h) % m))))
        }
      }
    }
  }

  /** Croston's method for INTERMITTENT demand (Croston 1972, "Forecasting
    * and stock control for intermittent demands" — public; the standard
    * baseline for sparse series, which is what retail demand at SKU grain —
    * the reference's home turf — actually looks like):
    *   ŷ = ẑ / p̂, where ẑ = SES level of the NON-ZERO demand sizes and
    *   p̂ = SES level of the inter-demand intervals (in grid steps), both
    *   with the same α and l₁ = first observation.
    * First interval convention: the 1-based position of the first non-zero
    * demand (R `tsintermittent`/`crost` init). Keys with no non-zero demand
    * have no Croston forecast and are absent from the output.
    *
    * Same closed-form machinery as [[ses]] — the recursion never needs
    * per-key state: two window ranks over the (small) non-zero subsequence
    * and one weighted-sum aggregate compute BOTH levels in one pass.
    * Inputs are a REGULAR per-key series (run [[GapFill]] first) — the
    * interval count is defined by grid positions, not wall time.
    */
  def croston(history: DataFrame, keyCols: Seq[String], tsCol: String,
              valCol: String, alpha: Double, horizon: Int, stepSeconds: Long): DataFrame = {
    requireWeight("alpha", alpha)
    val keys = keyCols.map(col)
    val wAll = Window.partitionBy(keys: _*).orderBy(col(tsCol))
    val indexed = history
      .withColumn("_idx", row_number().over(wAll))
      .withColumn("_last_ts", max(col(tsCol)).over(Window.partitionBy(keys: _*)))
    val nz = indexed.filter(col(valCol).isNotNull && col(valCol) =!= 0)
    val wNz = Window.partitionBy(keys: _*).orderBy(col("_idx"))
    val wNzDesc = Window.partitionBy(keys: _*).orderBy(col("_idx").desc)
    val ranked = nz
      .withColumn("_q", coalesce(col("_idx") - lag(col("_idx"), 1).over(wNz), col("_idx")))
      .withColumn("_rn", row_number().over(wNz))
      .withColumn("_back", row_number().over(wNzDesc) - 1)
      .withColumn("_w", sesWeight(col("_rn") === 1, col("_back"), alpha))
    val lvl = ranked
      .groupBy(keys: _*)
      .agg(sum(col("_w") * col(valCol)).as("_z"), sum(col("_w") * col("_q")).as("_p"),
        max(col("_last_ts")).as("_origin"))
    forecastFrame(lvl, keyCols, "_origin", horizon, stepSeconds, col("_z") / col("_p"))
  }

  /** Syntetos–Boylan approximation (SBA; Syntetos & Boylan 2005): Croston's
    * intermittent-demand forecast debiased by the (1 − α/2) factor —
    * Croston's z/p ratio estimator is biased HIGH (expectation of a ratio ≠
    * ratio of expectations), and SBA's correction makes it approximately
    * unbiased, the default recommendation in the intermittent-demand
    * literature. Identical plan to [[croston]]; one extra multiply.
    */
  def sba(history: DataFrame, keyCols: Seq[String], tsCol: String,
          valCol: String, alpha: Double, horizon: Int,
          stepSeconds: Long): DataFrame =
    croston(history, keyCols, tsCol, valCol, alpha, horizon, stepSeconds)
      .withColumn("yhat", col("yhat") * lit(1.0 - alpha / 2.0))

  /** AR(2) fit per key by conditional least squares on the MEAN-CENTERED
    * series (Box & Jenkins ch. 7): regress xₜ on (xₜ₋₁, xₜ₋₂) through the
    * origin, closed form via Cramer's rule over five moment sums —
    * deterministic, one window + one aggregation, no iteration. φ₂ is by
    * construction the lag-2 PARTIAL autocorrelation, so this also fills the
    * PACF slot next to [[graft.operators.Features.acf]]. `rmse` is the
    * in-sample one-step residual error — the baseline any fancier model
    * must beat. Keys with a degenerate design (det ≤ 0 numerically) are
    * emitted with null coefficients.
    * Output: (keys..., phi1, phi2, rmse, n_obs).
    */
  def arFit2(df: DataFrame, keyCols: Seq[String], tsCol: String,
             valueCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(col(tsCol))
    val winAll = org.apache.spark.sql.expressions.Window.partitionBy(keys: _*)
    val v = col(valueCol).cast("double")
    val centered = df.filter(v.isNotNull)
      .withColumn("_m", avg(v).over(winAll))
      .withColumn("_y", v - col("_m"))
      .withColumn("_x1", lag(col("_y"), 1).over(win))
      .withColumn("_x2", lag(col("_y"), 2).over(win))
      .filter(col("_x1").isNotNull && col("_x2").isNotNull)
    val fitted = centered.groupBy(keys: _*)
      .agg(sum(col("_x1") * col("_x1")).as("_s11"),
        sum(col("_x2") * col("_x2")).as("_s22"),
        sum(col("_x1") * col("_x2")).as("_s12"),
        sum(col("_y") * col("_x1")).as("_s01"),
        sum(col("_y") * col("_x2")).as("_s02"),
        count(lit(1)).as("n_obs"))
      .withColumn("_det", col("_s11") * col("_s22") - col("_s12") * col("_s12"))
      .withColumn("phi1", when(col("_det") > 0,
        (col("_s01") * col("_s22") - col("_s02") * col("_s12")) / col("_det")))
      .withColumn("phi2", when(col("_det") > 0,
        (col("_s11") * col("_s02") - col("_s12") * col("_s01")) / col("_det")))
    centered.join(fitted.select((keys :+ col("phi1") :+ col("phi2") :+
        col("n_obs")): _*), keyCols)
      .withColumn("_e", col("_y") - col("phi1") * col("_x1") -
        col("phi2") * col("_x2"))
      .groupBy((keys :+ col("phi1") :+ col("phi2") :+ col("n_obs")): _*)
      .agg(sqrt(avg(col("_e") * col("_e"))).as("rmse"))
      .select((keys :+ col("phi1") :+ col("phi2") :+ col("rmse") :+
        col("n_obs")): _*)
  }

  /** TSB method (Teunter, Syntetos & Babai 2011, "Intermittent demand:
    * linking forecasting to inventory obsolescence") — the intermittent-
    * demand forecaster that, unlike [[croston]], updates the demand
    * PROBABILITY every period (so it decays toward zero when an item goes
    * obsolete, which Croston's interval estimate never does):
    *   p̂ = SES(1{demand≠0} over ALL periods, β),  p₁ = first indicator
    *   ẑ = SES(non-zero demand sizes, α),          z₁ = first non-zero size
    *   ŷ = p̂ · ẑ (flat over the horizon)
    * Same closed-form machinery as [[croston]]: both recursions collapse to
    * power-decay weighted sums (adjust=False, init = first observation), so
    * TWO window ranks + one aggregate compute both levels — no iteration,
    * no per-key state. Keys with no non-zero demand are absent (ẑ
    * undefined), matching Croston's convention.
    * Inputs are a REGULAR per-key series (run [[GapFill]] first).
    */
  def tsb(history: DataFrame, keyCols: Seq[String], tsCol: String,
          valCol: String, alpha: Double, beta: Double, horizon: Int,
          stepSeconds: Long): DataFrame = {
    requireWeight("alpha", alpha)
    requireWeight("beta", beta)
    val keys = keyCols.map(col)
    val wAll = Window.partitionBy(keys: _*).orderBy(col(tsCol))
    val wAllDesc = Window.partitionBy(keys: _*).orderBy(col(tsCol).desc)
    // probability level over ALL periods: weight (1-β)^(T-t) for t=1 else
    // β(1-β)^(T-t); indicator = 1 iff demand non-zero
    val p = history
      .withColumn("_rn", row_number().over(wAll))
      .withColumn("_back", row_number().over(wAllDesc) - 1)
      .withColumn("_ind",
        when(col(valCol).isNotNull && col(valCol) =!= 0, 1.0).otherwise(0.0))
      .withColumn("_w", sesWeight(col("_rn") === 1, col("_back"), beta))
      .groupBy(keys: _*)
      .agg(sum(col("_w") * col("_ind")).as("_p"), max(col(tsCol)).as("_origin"))
    // size level over the NON-ZERO subsequence (identical to croston's ẑ)
    val nz = history.filter(col(valCol).isNotNull && col(valCol) =!= 0)
    val z = nz
      .withColumn("_rn", row_number().over(wAll))
      .withColumn("_back", row_number().over(wAllDesc) - 1)
      .withColumn("_w", sesWeight(col("_rn") === 1, col("_back"), alpha))
      .groupBy(keys: _*)
      .agg(sum(col("_w") * col(valCol)).as("_z"))
    // inner join: keys with no demand have no ẑ
    forecastFrame(p.join(z, keyCols), keyCols, "_origin", horizon, stepSeconds,
      col("_p") * col("_z"))
  }

  /** Hierarchical forecast reconciliation — top-down by historical
    * proportions plus the bottom-up check, the two classical methods
    * (Hyndman & Athanasopoulos §10.3; the reference's hierarchy columns —
    * forecastframe's `hierarchy` attribute threaded through every groupby —
    * exist precisely so forecasts can be rolled up and disaggregated
    * coherently). Given per-CHILD base forecasts and the history both
    * grains aggregate from:
    *   prop_c  = Σ history(c) / Σ history(parent(c))   (proportion of the total)
    *   yhat_td = parent base forecast × prop_c          (top-down)
    *   yhat_bu(parent) = Σ_c child base forecast        (bottom-up, attached
    *                     to every child row for the coherence check)
    * After reconciliation Σ_c yhat_td = parent forecast exactly — the
    * coherence property the base (independent per-series) forecasts lack.
    *
    * Scale: proportions are one aggregate over history at child grain,
    * rolled up to parent grain with a second partial-agg pass (never a
    * re-scan); the parent-grain frames are parent-cardinality-sized and
    * joined broadcast, so the only full-size pass is the child aggregate.
    *
    * @param childFc  per-child base forecasts: childKeys ++ (fcCol)
    * @param parentFc per-parent base forecasts: parentKeys ++ (fcCol)
    * @return childFc ++ (prop, yhat_td, yhat_bu) — one row per child
    */
  def reconcileTopDown(history: DataFrame, childFc: DataFrame,
                       parentFc: DataFrame, parentKeys: Seq[String],
                       childKeys: Seq[String], valCol: String,
                       fcCol: String): DataFrame = {
    require(childKeys.startsWith(parentKeys),
      s"childKeys must refine parentKeys, got $childKeys vs $parentKeys")
    val childTot = history.groupBy(childKeys.map(col): _*)
      .agg(sum(col(valCol)).as("_child_tot"))
    val parentTot = childTot.groupBy(parentKeys.map(col): _*)
      .agg(sum(col("_child_tot")).as("_parent_tot"))
    val buParent = childFc.groupBy(parentKeys.map(col): _*)
      .agg(sum(col(fcCol)).as("yhat_bu"))
    childFc
      .join(childTot, childKeys)
      .join(broadcast(parentTot), parentKeys)
      .join(broadcast(parentFc.withColumnRenamed(fcCol, "_parent_fc")), parentKeys)
      .join(broadcast(buParent), parentKeys)
      .withColumn("prop",
        when(col("_parent_tot") =!= 0, col("_child_tot") / col("_parent_tot")))
      .withColumn("yhat_td", col("_parent_fc") * col("prop"))
      .drop("_child_tot", "_parent_tot", "_parent_fc")
  }

  /** Granger-causality F test at lag 1 (Granger 1969): does x's past
    * improve the prediction of y beyond y's own past? Per key, over the
    * aligned (tsCol-ordered) series,
    *   restricted:   y_t ~ y_{t−1}          RSS_r
    *   unrestricted: y_t ~ y_{t−1} + x_{t−1} RSS_u
    *   F = (RSS_r − RSS_u) / (RSS_u / (n − 3))
    * Both regressions are fit on the MEAN-CENTERED sample (the same rows),
    * so the intercept drops out and both collapse to closed forms over six
    * moment sums — [[arFit2]]'s Cramer machinery with x₂ = the exogenous
    * lag instead of y's second lag. One window pass + one aggregation; no
    * iteration. Degenerate designs (det ≤ 0, RSS_u ≤ 0, n ≤ 3) emit null F.
    * Output: (keys..., n, rss_r, rss_u, f_stat).
    */
  def grangerF(df: DataFrame, keyCols: Seq[String], tsCol: String,
               yCol: String, xCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val win = Window.partitionBy(keys: _*).orderBy(col(tsCol))
    val winAll = Window.partitionBy(keys: _*)
    val y = col(yCol).cast("double"); val x = col(xCol).cast("double")
    val staged = df.filter(y.isNotNull && x.isNotNull)
      .withColumn("_y0", y)
      .withColumn("_l1", lag(y, 1).over(win))
      .withColumn("_l2", lag(x, 1).over(win))
      .filter(col("_l1").isNotNull && col("_l2").isNotNull)
    val centered = staged
      .withColumn("_cy", col("_y0") - avg(col("_y0")).over(winAll))
      .withColumn("_c1", col("_l1") - avg(col("_l1")).over(winAll))
      .withColumn("_c2", col("_l2") - avg(col("_l2")).over(winAll))
    centered.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"),
        sum(col("_c1") * col("_c1")).as("_s11"),
        sum(col("_c2") * col("_c2")).as("_s22"),
        sum(col("_c1") * col("_c2")).as("_s12"),
        sum(col("_cy") * col("_c1")).as("_s1y"),
        sum(col("_cy") * col("_c2")).as("_s2y"),
        sum(col("_cy") * col("_cy")).as("_syy"))
      .withColumn("_det", col("_s11") * col("_s22") - col("_s12") * col("_s12"))
      .withColumn("rss_r", when(col("_s11") > 0,
        col("_syy") - col("_s1y") * col("_s1y") / col("_s11")))
      .withColumn("_b1", when(col("_det") > 0,
        (col("_s1y") * col("_s22") - col("_s2y") * col("_s12")) / col("_det")))
      .withColumn("_b2", when(col("_det") > 0,
        (col("_s11") * col("_s2y") - col("_s12") * col("_s1y")) / col("_det")))
      .withColumn("rss_u",
        col("_syy") - col("_b1") * col("_s1y") - col("_b2") * col("_s2y"))
      .withColumn("f_stat", when(col("rss_u") > 0 && col("n") > 3,
        (col("rss_r") - col("rss_u")) /
          (col("rss_u") / (col("n").cast("double") - 3))))
      .select((keys :+ col("n") :+ col("rss_r") :+ col("rss_u") :+
        col("f_stat")): _*)
  }

  /** Variance-ratio test of the random-walk hypothesis (Lo & MacKinlay
    * 1988, simple overlapping form): VR(q) = Var(y_t − y_{t−q}) /
    * (q · Var(y_t − y_{t−1})) — 1 for a random walk, > 1 under positive
    * serial correlation (momentum), < 1 under mean reversion. Population
    * variances over each difference's own sample (the simple estimator;
    * the bias-corrected LM weights matter only for inference, which the
    * z-less readout here doesn't claim). Two lag columns + one aggregate.
    * Output: (keys..., n_diff1, n_diffq, vr) — null when Var₁ ≤ 0.
    */
  def varianceRatio(df: DataFrame, keyCols: Seq[String], tsCol: String,
                    valCol: String, q: Int): DataFrame = {
    require(q >= 2, s"q must be >= 2, got $q")
    val keys = keyCols.map(col)
    val win = Window.partitionBy(keys: _*).orderBy(col(tsCol))
    val v = col(valCol).cast("double")
    val staged = df.filter(v.isNotNull)
      .withColumn("_d1", v - lag(v, 1).over(win))
      .withColumn("_dq", v - lag(v, q).over(win))
    staged.groupBy(keys: _*)
      .agg(count(col("_d1")).as("n_diff1"), count(col("_dq")).as("n_diffq"),
        avg(col("_d1")).as("_m1"), avg(col("_d1") * col("_d1")).as("_q1"),
        avg(col("_dq")).as("_mq"), avg(col("_dq") * col("_dq")).as("_qq"))
      .withColumn("_v1", col("_q1") - col("_m1") * col("_m1"))
      .withColumn("_vq", col("_qq") - col("_mq") * col("_mq"))
      .withColumn("vr", when(col("_v1") > 0 && col("n_diffq") > 0,
        col("_vq") / (lit(q.toDouble) * col("_v1"))))
      .select((keys :+ col("n_diff1") :+ col("n_diffq") :+ col("vr")): _*)
  }

  /** Dickey–Fuller unit-root regression per key (Dickey & Fuller 1979,
    * the no-lag, intercept form): Δy_t = α + ρ·y_{t−1} + ε. ρ̂ near 0 with
    * an insignificant t means a RANDOM WALK (difference before modeling);
    * strongly negative ρ̂ means mean reversion (model levels). Closed form
    * on the mean-centered sample ([[grangerF]]'s machinery, one
    * regressor): ρ̂ = S_xd/S_xx, RSS = S_dd − S_xd²/S_xx,
    * t = ρ̂ / √(RSS/(n−2)/S_xx). (The t is compared against DF critical
    * values ≈ −2.86 at 5%, not normal ones — emitted, not thresholded.)
    * Output: (keys..., n, rho, t_stat) — nulls on degenerate designs.
    */
  def dickeyFuller(df: DataFrame, keyCols: Seq[String], tsCol: String,
                   valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val win = Window.partitionBy(keys: _*).orderBy(col(tsCol))
    val winAll = Window.partitionBy(keys: _*)
    val y = col(valCol).cast("double")
    val staged = df.filter(y.isNotNull)
      .withColumn("_x", lag(y, 1).over(win))
      .withColumn("_dy", y - lag(y, 1).over(win))
      .filter(col("_x").isNotNull)
      .withColumn("_cx", col("_x") - avg(col("_x")).over(winAll))
      .withColumn("_cd", col("_dy") - avg(col("_dy")).over(winAll))
    staged.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"),
        sum(col("_cx") * col("_cx")).as("_sxx"),
        sum(col("_cx") * col("_cd")).as("_sxd"),
        sum(col("_cd") * col("_cd")).as("_sdd"))
      .withColumn("rho", when(col("_sxx") > 0, col("_sxd") / col("_sxx")))
      .withColumn("_rss",
        col("_sdd") - col("_sxd") * col("_sxd") / col("_sxx"))
      .withColumn("t_stat", when(col("_sxx") > 0 && col("n") > 2 &&
          col("_rss") > 0,
        col("rho") / sqrt(col("_rss") / (col("n").cast("double") - 2) /
          col("_sxx"))))
      .select((keys :+ col("n") :+ col("rho") :+ col("t_stat")): _*)
  }

  /** Rolling-origin forecaster selection — the reference's
    * `cross_validate` + grid-search MODEL-SELECTION semantics
    * (/root/reference/forecastframe/model.py:1356-1417 cross_validate,
    * :319-375 grid search) re-expressed Spark-first over the engine's own
    * forecaster family. SURVEY §7 keeps LightGBM/Prophet FITTING out of
    * engine scope; what the pipeline needs from that layer is the
    * decision — "which model (and params) for which series" — and that
    * decision is pure plan algebra:
    *
    * For each fold boundary b (date literals — SURVEY §2.6's Spark
    * equivalent of `TimeSeriesSplit` over the time index): every
    * candidate trains on rows with ts < b and emits its `horizon`
    * forecasts; forecasts land on the held-out (key, ts) grid (feed a
    * REGULAR series — run [[GapFill]] first if the grid has holes; grid
    * points with no actual simply don't score), are clipped to the
    * held-out region (a key whose history ends early must not be scored
    * on its own training rows), and accumulate per-(key, candidate)
    * sMAPE across all folds:
    *   sMAPE = 2·Σ|y−ŷ| / Σ(|y|+|ŷ|)  (aggregate-then-divide).
    * The per-key winner ranks on round(sMAPE, 6) with the candidate NAME
    * as tie-break — the engine-wide "never rank-cut on raw float sums"
    * discipline, so both engines' ranks agree whenever their 6-dp scores
    * do.
    *
    * Scale shape: each candidate×fold is the candidate's own one-shuffle
    * plan over the filtered train prefix; the M·F forecast frames union
    * into one (key, ts)-join against the actuals and ONE final
    * groupBy(key, model) + per-key rank window. No collect, no
    * per-key iteration — a million-series population selects its models
    * in one job, and adding a candidate adds one branch to the union,
    * not a pass over the data.
    *
    * `candidates` are (name, train => forecast) closures whose output
    * carries (keys..., forecast_ts, yhat) — every forecaster in this
    * file qualifies; parameter sweeps are just more entries
    * ("ses_a03" -> ses(α=0.3), "ses_a05" -> ses(α=0.5), …).
    * Output: (keys..., model, n_eval, smape, rank, is_best) — one row
    * per key × candidate that produced ≥ 1 scored point.
    */
  def rollingOriginSelect(df: DataFrame, keyCols: Seq[String], tsCol: String,
                          valCol: String,
                          candidates: Seq[(String, DataFrame => DataFrame)],
                          boundaries: Seq[java.sql.Timestamp]): DataFrame = {
    require(candidates.nonEmpty, "rollingOriginSelect: need >= 1 candidate")
    require(candidates.map(_._1).distinct.size == candidates.size,
      "rollingOriginSelect: candidate names must be distinct")
    require(boundaries.nonEmpty, "rollingOriginSelect: need >= 1 fold boundary")
    val keys = keyCols.map(col)
    val perFold = boundaries.map { b =>
      val train = df.filter(col(tsCol) < lit(b))
      candidates.map { case (name, f) =>
        f(train).select((keys :+
          unix_timestamp(col("forecast_ts")).as("_fs") :+
          col("yhat").cast("double").as("_yhat")): _*)
          .withColumn("model", lit(name))
      }.reduce(_.unionByName(_))
        // held-out region only: stale keys forecast from their own last
        // observation, which can land before the boundary (= train rows)
        .filter(col("_fs") >= unix_timestamp(lit(b)))
    }
    val actual = df.filter(col(valCol).isNotNull)
      .select((keys :+ unix_timestamp(col(tsCol)).as("_fs") :+
        col(valCol).cast("double").as("_y")): _*)
    val scored = perFold.reduce(_.unionByName(_))
      .filter(col("_yhat").isNotNull)
      .join(actual, keyCols :+ "_fs")
      .groupBy((keys :+ col("model")): _*)
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("_y") - col("_yhat"))).as("_sae"),
        sum(abs(col("_y")) + abs(col("_yhat"))).as("_sden"))
      .withColumn("smape",
        when(col("_sden") > 0, lit(2.0) * col("_sae") / col("_sden")))
    // rank key = the 6-dp grid INTEGER via multiply/floor on the double
    // itself (sMAPE ≥ 0), NOT functions.round — Spark's round goes through
    // BigDecimal shortest-repr while DuckDB rounds the raw double (the
    // EntryHelpers.r6 pitfall), and a rank cut must use the same grid in
    // both engines
    val wRank = Window.partitionBy(keys: _*)
      .orderBy(floor(col("smape") * 1e6 + 0.5).asc_nulls_last, col("model"))
    scored
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("is_best", col("rank") === 1L)
      .drop("_sae", "_sden")
  }
}
