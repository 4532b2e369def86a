package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Isotonic regression via pool-adjacent-violators (Barlow et al. 1972;
  * the sklearn `IsotonicRegression` algorithm) — the standard monotone
  * calibration step for scores: given (x, y, w) points, fit the
  * weighted-least-squares y-hat that is NON-DECREASING in x. The use case
  * here is calibrating heuristic quality/language scores against observed
  * labels before they gate a corpus ([[TextAnalysis.quality]] scores are
  * ordinal, not calibrated probabilities).
  *
  * PAVA is a sequential pooling pass, so like the other per-key recursions
  * ([[Ewma]], [[Forecast.holt]], [[Kalman]]) it runs as a per-key
  * [[SeriesFold]] under its one point bound — calibration sets are bounded
  * samples by construction. Points are processed in (x, then y) order
  * (pinned tie rule); the output is one fitted value per input point,
  * piecewise-constant and monotone, preserving the weighted mean of each
  * pooled block exactly.
  *
  * Oracle: the pooling RECURSION has no SQL form, but the fitted VALUES
  * do — the PAVA minimax identity fitted_i = max_{j≤i} min_{k≥i}
  * mean(y_j..y_k) is a closed form over prefix sums that SQL computes
  * directly; q514 replays the unweighted integer-count case bit-for-bit
  * (blocks carry EXACT (Σwy, Σw) sums — see below — so each block mean is
  * the correctly-rounded rational both engines produce). The spec keeps
  * the recursion-level evidence (hand goldens, monotonicity + block-mean
  * invariants, weight handling, sorted-input identity).
  */
object Isotonic {

  /** One series: (x, y, w) triples → fitted values aligned with the
    * (x, y)-sorted order. Pure function, exposed for testing.
    *
    * Blocks carry EXACT (Σwy, Σw) sums; the violation test compares
    * cross-products (s₁·w₂ > s₂·w₁ ⇔ s₁/w₁ > s₂/w₂ for w > 0) and each
    * mean divides ONCE at emit. The previous mean-recombination form
    * ((m₁w₁ + m₂w₂)/w) re-multiplied an already-rounded mean, drifting a
    * few ulps per deep pool; with exact sums, integer-valued (y, w)
    * inputs give every block mean as the correctly-rounded rational
    * Σwy/Σw — the property the q514 minimax SQL oracle relies on.
    */
  def pava(points: Seq[(Double, Double, Double)]): Seq[(Double, Double)] = {
    require(points.forall(_._3 > 0), "weights must be > 0")
    val sorted = points.sortBy(p => (p._1, p._2))
    val n = sorted.length
    if (n == 0) return Seq.empty
    val swy = new Array[Double](n); val sw = new Array[Double](n)
    val cnt = new Array[Int](n)
    var top = -1
    sorted.foreach { case (_, y, w) =>
      top += 1; swy(top) = y * w; sw(top) = w; cnt(top) = 1
      while (top > 0 && swy(top - 1) * sw(top) > swy(top) * sw(top - 1)) {
        swy(top - 1) += swy(top); sw(top - 1) += sw(top)
        cnt(top - 1) += cnt(top)
        top -= 1
      }
    }
    val out = Seq.newBuilder[(Double, Double)]
    var b = 0
    var i = 0
    while (b <= top) {
      val mean = swy(b) / sw(b)
      var j = 0
      while (j < cnt(b)) { out += ((sorted(i)._1, mean)); i += 1; j += 1 }
      b += 1
    }
    out.result()
  }

  /** Per-key isotonic fit frame: (keys..., x, y_fit) — one row per input
    * point, y_fit non-decreasing in x within each key.
    */
  def fitFrame(df: DataFrame, keyCols: Seq[String], xCol: String, yCol: String,
               wCol: Option[String] = None): DataFrame = {
    val u = udf { (pts: Seq[Row]) =>
      pava(SeriesFold.guard(pts).map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))))
        .map { case (x, f) => IsoPoint(x, f) }
    }
    val w = wCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    val x = col(xCol).cast("double"); val y = col(yCol).cast("double")
    SeriesFold.collect(df.filter(x.isNotNull && y.isNotNull), keyCols,
        Seq(x.as("x"), y.as("y"), w.as("w")))
      .withColumn("_e", explode(u(col("_pts"))))
      .select((keyCols.map(col) :+ col("_e.x").as("x") :+
        col("_e.f").as("y_fit")): _*)
  }
}

case class IsoPoint(x: Double, f: Double)
