package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Kalman filter for the local-level (random-walk-plus-noise) state-space
  * model (Harvey 1989 §2.4; Durbin & Koopman 2012 ch. 2) — the optimal
  * online smoother/anomaly lens when the series is a drifting level observed
  * with noise, and the probabilistic upgrade of [[Ewma]] (steady-state
  * Kalman gain ≡ an EWMA alpha, but the filter also carries calibrated
  * uncertainty and standardized innovations):
  *
  *   predict:  P⁻ = P + q
  *   gain:     K  = P⁻ / (P⁻ + r)
  *   innovate: z  = (y − l) / √(P⁻ + r)     (standardized one-step surprise)
  *   update:   l += K·(y − l);  P = (1−K)·P⁻
  *
  * Pinned init so an independent engine can replay bit-for-bit: at the first
  * non-null observation l = y, P = r (gain/z null there). A null observation
  * is a pure predict step — the level holds, variance grows by q, so the
  * NEXT gain is larger (the filter trusts fresh data more after a gap);
  * same null convention as [[Ewma.ewmaSeries]].
  *
  * `z` is the anomaly surface: under the model z ~ N(0,1), so |z| > 3 flags
  * level breaks — complements [[Anomaly.madOutliers]] (static) and
  * [[Anomaly.meanShiftScore]] (two-window) with a sequential, gap-aware
  * score. The reference smooths only by EWMA
  * (/root/reference/forecastframe/forecastframe.py calc_ewmas); this adds
  * the state-space family it lacks.
  */
object Kalman {

  /** One series, sorted by ts inside: (ts, level, gain, z) per input point. */
  def kalmanLevelSeries(points: Seq[(Long, Option[Double])], q: Double,
                        r: Double): Seq[(Long, Option[Double], Option[Double], Option[Double])] = {
    require(q > 0 && r > 0, s"process/observation variances must be > 0, got q=$q r=$r")
    val sorted = points.sortBy(_._1)
    var l = 0.0; var p = 0.0; var seeded = false
    sorted.map { case (t, yo) =>
      if (!seeded) {
        yo match {
          case Some(y) => l = y; p = r; seeded = true; (t, Some(y), None, None)
          case None => (t, None, None, None)
        }
      } else {
        val pPred = p + q
        yo match {
          case Some(y) =>
            val k = pPred / (pPred + r)
            val z = (y - l) / math.sqrt(pPred + r)
            l = l + k * (y - l)
            p = (1.0 - k) * pPred
            (t, Some(l), Some(k), Some(z))
          case None =>
            p = pPred
            (t, Some(l), None, None)
        }
      }
    }
  }

  /** Per-key filter frame: (keys..., ts_sec, level, gain, z) — the licensed
    * per-key [[SeriesFold]], under its one point bound: series must already
    * be at time-bucket grain.
    */
  def kalmanLevelFrame(df: DataFrame, keyCols: Seq[String], tsCol: String,
                       valueCol: String, q: Double, r: Double): DataFrame = {
    val u = udf { (pts: Seq[Row]) =>
      kalmanLevelSeries(SeriesFold.pairs(pts), q, r).map { case (t, lv, kv, zv) =>
        KalmanPoint(t, lv.map(Double.box).orNull, kv.map(Double.box).orNull,
          zv.map(Double.box).orNull)
      }
    }
    SeriesFold.collect(df, keyCols, SeriesFold.timeValue(tsCol, valueCol))
      .withColumn("_e", explode(u(col("_pts"))))
      .select((keyCols.map(col) :+ col("_e.ts").as("ts_sec") :+
        col("_e.l").as("level") :+ col("_e.k").as("gain") :+
        col("_e.z").as("z")): _*)
  }
}

case class KalmanPoint(ts: Long, l: java.lang.Double, k: java.lang.Double,
                       z: java.lang.Double)
