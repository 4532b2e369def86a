package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Largest-Triangle-Three-Buckets chart downsampling (Steinarsson,
  * "Downsampling Time Series for Visual Representation", U. Iceland 2013 —
  * public thesis; independent realization).
  *
  * The shape-preserving companion to [[Features.m4Downsample]]: M4
  * preserves the per-pixel-column extremes (exact min/max/first/last),
  * LTTB preserves perceived LINE SHAPE — each of t−2 interior buckets
  * contributes the point forming the largest triangle with the previous
  * SELECTED point and the next bucket's centroid, which is what charting
  * stacks default to for line plots.
  *
  * Determinism contract (the q195 oracle replays it step-for-step):
  * interior points are split into t−2 buckets by INTEGER arithmetic
  * (bucket k covers 0-based indices 1 + floor(k·m/(t−2)) through
  * floor((k+1)·m/(t−2)), m = n−2); the centroid is the next bucket's
  * arithmetic mean (the LAST point for the final bucket); ties on triangle
  * area keep the EARLIEST point (strict > while scanning in time order).
  * With integer-valued x and y (epoch buckets, cents) every area term is
  * float-exact, so the argmax is engine-independent.
  *
  * Scale: LTTB is inherently sequential per series (each pick depends on
  * the previous pick), so it runs where the engine's other series folds
  * run — on TIER series, whose length is bounded by bucket cardinality
  * (ten years of a daily tier = 3,650 points; the raw corpus never folds).
  * A [[SeriesFold]], under the one point bound every fold shares.
  */
object Lttb {

  /** Core selection on one sorted series: returns the selected indices
    * (always includes 0 and n−1; passthrough when n ≤ t).
    */
  private[operators] def selectIndices(xs: Array[Double], ys: Array[Double],
                                       t: Int): Array[Int] = {
    val n = xs.length
    if (n <= t) return Array.range(0, n)
    val m = n - 2
    val buckets = t - 2
    val sel = new Array[Int](t)
    sel(0) = 0
    sel(t - 1) = n - 1
    var prev = 0
    var k = 0
    while (k < buckets) {
      val s = 1 + (k.toLong * m / buckets).toInt
      val e = ((k + 1).toLong * m / buckets).toInt // inclusive, >= s
      // anchor: next bucket's centroid; the last point for the final bucket
      var ax = 0.0; var ay = 0.0
      if (k == buckets - 1) { ax = xs(n - 1); ay = ys(n - 1) }
      else {
        val ns = 1 + ((k + 1).toLong * m / buckets).toInt
        val ne = ((k + 2).toLong * m / buckets).toInt
        var i = ns; var cnt = 0
        while (i <= ne) { ax += xs(i); ay += ys(i); cnt += 1; i += 1 }
        ax /= cnt; ay /= cnt
      }
      val px = xs(prev); val py = ys(prev)
      var best = s; var bestArea = -1.0
      var i = s
      while (i <= e) {
        val area = math.abs((px - ax) * (ys(i) - py) - (px - xs(i)) * (ay - py))
        if (area > bestArea) { bestArea = area; best = i }
        i += 1
      }
      sel(k + 1) = best
      prev = best
      k += 1
    }
    sel
  }

  private def lttbUdf(t: Int): UserDefinedFunction = udf { (pts: Seq[Row]) =>
    val sorted = SeriesFold.guard(pts).map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val xs = sorted.map(_._1.toDouble).toArray
    val ys = sorted.map(_._2).toArray
    selectIndices(xs, ys, t).map(i => sorted(i)).toSeq
  }

  /** Downsample each (keys) series of (`xCol`: long, `yCol`: double) to at
    * most `threshold` points. Output: keys, x, y — the selected points in
    * time order.
    */
  def downsample(df: DataFrame, keys: Seq[String], xCol: String, yCol: String,
                 threshold: Int): DataFrame = {
    require(threshold >= 3, s"threshold must be >= 3, got $threshold")
    SeriesFold.collect(df, keys,
        Seq(col(xCol).cast("long").as("x"), col(yCol).cast("double").as("y")))
      .withColumn("p", explode(lttbUdf(threshold)(col("_pts"))))
      .select(keys.map(col) :+ col("p._1").as("x") :+ col("p._2").as("y"): _*)
  }
}
