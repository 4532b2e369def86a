package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Split-conformal prediction intervals (Vovk et al. 2005; Lei et al. 2018,
  * "Distribution-Free Predictive Inference for Regression", JASA) — the
  * distribution-free way to turn ANY point forecaster (persistence, [[Forecast.holt]],
  * an external model's scores) into bands with a finite-sample coverage
  * guarantee: if calibration and test residuals are exchangeable, the band
  * `pred ± qhat` covers the actual with probability ≥ 1−α.
  *
  * `qhat` is the k-th smallest absolute calibration residual with
  * k = ⌈(n+1)(1−α)⌉ — the finite-sample-corrected empirical quantile, NOT
  * the naive (1−α)-quantile (the +1 is what makes the guarantee exact).
  * Keys whose calibration set is too small for the requested coverage
  * (k > n, i.e. n < (1−α)/α points) yield no row: no valid finite band
  * exists, and silently emitting the max residual would overclaim.
  *
  * Scale shape: one hash shuffle on the keys; the per-key window sort runs
  * over a two-column (key, residual) frame, so a key's calibration set must
  * fit one task — calibration windows are bounded by construction (a recent
  * time slice per entity), same bound class as a [[SeriesFold]]'s series.
  * The fitted frame is one row per key: [[applyBands]]' join broadcasts
  * under AQE. The reference has no interval machinery at all — this plugs
  * its gap the same way [[Metrics.intervalScore]] scores the result
  * (forecastframe evaluates point error only, /root/reference/forecastframe/model.py:925-953).
  */
object Conformal {

  /** Fit per-key conformal half-widths on a calibration frame that already
    * carries point predictions. Returns one row per key that has enough
    * calibration residuals: (keys..., qhat, n_calib).
    */
  def fitSplitConformal(calib: DataFrame, keyCols: Seq[String], actualCol: String,
                        predCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0, 1), got $alpha")
    val keys = keyCols.map(col)
    val resid = calib
      .filter(col(actualCol).isNotNull && col(predCol).isNotNull)
      .select((keys :+ abs(col(actualCol).cast("double") - col(predCol).cast("double"))
        .as("_r")): _*)
    // rank ties share a value, so "the k-th smallest residual" is
    // deterministic regardless of which tied ROW row_number picks
    val ranked = resid
      .withColumn("_rnk", row_number().over(
        Window.partitionBy(keys: _*).orderBy(col("_r"))))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(keys: _*)))
    ranked
      .filter(col("_rnk") === ceil((col("_n") + lit(1)) * lit(1.0 - alpha)).cast("long"))
      .select((keys :+ col("_r").as("qhat") :+ col("_n").as("n_calib")): _*)
  }

  /** Attach `lo`/`hi` conformal bands to a test frame: `pred ± qhat`.
    * Inner join — test rows whose key had no valid calibration fit are
    * dropped (they have no band to claim).
    */
  def applyBands(test: DataFrame, fitted: DataFrame, keyCols: Seq[String],
                 predCol: String): DataFrame = {
    test.join(fitted, keyCols)
      .withColumn("lo", col(predCol).cast("double") - col("qhat"))
      .withColumn("hi", col(predCol).cast("double") + col("qhat"))
  }
}
