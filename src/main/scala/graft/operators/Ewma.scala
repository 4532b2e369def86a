package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Exponentially-weighted moving average — pandas `ewm(span, adjust=True)`
  * parity (ref /root/reference/forecastframe/feature_engineering.py:499-693;
  * α = 2/(span+1); adjust=True weighted-sums form, ignore_na=False: weights
  * decay with absolute row distance, nulls contribute nothing but still
  * advance the position).
  *
  * No Spark builtin exists (SURVEY.md §2.11): the recursion is order-
  * dependent. Realized as a [[SeriesFold]]: one `collect_list(struct(ts,x))`
  * per series + a linear-time pass, exploded back — per-series state never
  * crosses rows, so the operator scales out across series (the grouping
  * key). Series
  * length is bounded by the rolled-up tier cardinality (buckets per series),
  * not raw pages, keeping per-group memory O(series length).
  */
object Ewma {

  /** Computes the ewma sequence for (ts, x) pairs (any input order).
    * Returns (ts, ewma) pairs sorted by ts.
    */
  def ewmaSeries(points: Seq[(Long, Option[Double])], span: Double, lagRows: Int,
                 minPeriods: Int, adjust: Boolean = true): Seq[(Long, Option[Double])] = {
    val alpha = 2.0 / (span + 1.0)
    val sorted = points.sortBy(_._1)
    val xs: Seq[Option[Double]] =
      if (lagRows == 0) sorted.map(_._2)
      else Seq.fill(math.min(lagRows, sorted.size))(None) ++ sorted.dropRight(lagRows).map(_._2)
    val out = new Array[Option[Double]](xs.size)
    if (adjust) {
      // y_t = Σ (1-α)^(t-j) x_j / Σ (1-α)^(t-j) over non-null j ≤ t
      var num = 0.0; var den = 0.0; var nObs = 0
      var i = 0
      val decay = 1.0 - alpha
      while (i < xs.size) {
        num *= decay; den *= decay
        xs(i).foreach { v => num += v; den += 1.0; nObs += 1 }
        out(i) = if (nObs >= minPeriods && den > 0) Some(num / den) else None
        i += 1
      }
    } else {
      // recursive form: y_t = (1-α)·y_{t-1} + α·x_t (nulls carry y forward)
      var y = Option.empty[Double]; var nObs = 0
      var i = 0
      while (i < xs.size) {
        xs(i).foreach { v =>
          nObs += 1
          y = Some(y.fold(v)(prev => (1.0 - alpha) * prev + alpha * v))
        }
        out(i) = if (nObs >= minPeriods) y else None
        i += 1
      }
    }
    sorted.map(_._1).zip(out)
  }

  /** Per-series point bound of every [[SeriesFold]] (EWMA, Kalman, CUSUM,
    * the fold forecasters, ...): a series longer than this almost certainly
    * means the caller pointed the fold at RAW events instead of a rolled-up
    * tier (the intended input — series length = buckets per series, e.g.
    * ≤ ~525k minutes/year). Only [[SeriesFold.guard]] reads it.
    */
  @volatile var maxSeriesPoints: Int = 2000000

  private def ewmaMultiUdf(spans: Seq[Double], lagRows: Int, minPeriods: Int,
                           adjust: Boolean): UserDefinedFunction =
    udf { (pts: Seq[Row]) =>
      val pairs = SeriesFold.pairs(pts)
      val perSpan = spans.map(s => ewmaSeries(pairs, s, lagRows, minPeriods, adjust))
      perSpan.head.indices.map { i =>
        EwmaPointN(perSpan.head(i)._1,
          perSpan.map(series => series(i)._2.map(Double.box).orNull))
      }
    }

  /** The EWMA series frame: per (hierarchy) series, ALL spans computed in
    * ONE `collect_list` pass — output (hierarchy..., ts_sec,
    * `<valueCol>_ewma<span>`...). The round-1 shape aggregated and joined
    * the exploded result back onto the full input once PER SPAN (one
    * avoidable full shuffle of the big side each); here the series frame is
    * the result — callers that need the original columns join once, and
    * pure-series consumers (crossovers, tier outputs) never join at all.
    */
  def ewmaSeriesFrame(df: DataFrame, hierarchy: Seq[String], tsCol: String, valueCol: String,
                      spans: Seq[Double], lagRows: Int = 1, minPeriods: Int = 1,
                      adjust: Boolean = true): DataFrame = {
    val series = SeriesFold.collect(df, hierarchy, SeriesFold.timeValue(tsCol, valueCol))
      .withColumn("e", explode(ewmaMultiUdf(spans, lagRows, minPeriods, adjust)(col("_pts"))))
      .select((hierarchy.map(col) :+ col("e.ts").as("ts_sec") :+ col("e.ys").as("_ys")): _*)
    spans.zipWithIndex.foldLeft(series) { case (d, (s, i)) =>
      d.withColumn(s"${valueCol}_ewma${s.toInt}", col("_ys").getItem(i))
    }.drop("_ys")
  }

  /** Exponentially-weighted mean AND variance (pandas `ewm(span,
    * adjust=True).var(bias=False)` semantics): with weights wⱼ = (1−α)^(t−j)
    * over non-null observations,
    *   μ_t  = Σwx / Σw
    *   var  = [ (Σw)² / ((Σw)² − Σw²) ] · (Σwx²/Σw − μ²)
    * — the debiased exponentially-weighted second moment, running on the
    * four decayed sums (Σw, Σw², Σwx, Σwx²) in one O(n) pass per series.
    * Null until 2 observations (the debias factor is undefined at 1), or
    * until `minPeriods` if larger. Same null convention as [[ewmaSeries]]:
    * nulls contribute nothing but advance the decay.
    */
  def ewmVarSeries(points: Seq[(Long, Option[Double])], span: Double,
                   minPeriods: Int = 1): Seq[(Long, Option[Double], Option[Double])] = {
    val alpha = 2.0 / (span + 1.0)
    val decay = 1.0 - alpha
    val sorted = points.sortBy(_._1)
    val mp = math.max(minPeriods, 2)
    var sw = 0.0; var sw2 = 0.0; var swx = 0.0; var swx2 = 0.0; var nObs = 0
    sorted.map { case (t, xo) =>
      sw *= decay; sw2 *= decay * decay; swx *= decay; swx2 *= decay
      xo.foreach { x =>
        sw += 1.0; sw2 += 1.0; swx += x; swx2 += x * x; nObs += 1
      }
      val m = if (nObs >= 1 && sw > 0) Some(swx / sw) else None
      val den = sw * sw - sw2
      val v = if (nObs >= mp && den > 0)
        m.map(mu => (sw * sw / den) * (swx2 / sw - mu * mu))
      else None
      (t, m, v)
    }
  }

  /** Per-series EWM mean/var/std frame: (hierarchy..., ts_sec, ewm_mean,
    * ewm_var, ewm_std) — the same one-collect_list-per-series shape as
    * [[ewmaSeriesFrame]] ([[SeriesFold]]).
    */
  def ewmVarFrame(df: DataFrame, hierarchy: Seq[String], tsCol: String,
                  valueCol: String, span: Double, minPeriods: Int = 1): DataFrame = {
    val u = udf { (pts: Seq[Row]) =>
      ewmVarSeries(SeriesFold.pairs(pts), span, minPeriods).map { case (t, m, v) =>
        EwmaVarPoint(t, m.map(Double.box).orNull, v.map(Double.box).orNull)
      }
    }
    SeriesFold.collect(df, hierarchy, SeriesFold.timeValue(tsCol, valueCol))
      .withColumn("e", explode(u(col("_pts"))))
      .select((hierarchy.map(col) :+ col("e.ts").as("ts_sec") :+
        col("e.m").as("ewm_mean") :+ col("e.v").as("ewm_var")): _*)
      .withColumn("ewm_std", sqrt(col("ewm_var")))
  }

  /** EWMA crossovers: pairwise ratios across spans (ref :674-693), computed
    * on the series frame — one aggregation pass total, no join back.
    * Output: (hierarchy..., ts_sec, `<v>_ewma<s>`..., `<v>_ewma_cross_a_b`...).
    */
  def crossovers(df: DataFrame, hierarchy: Seq[String], tsCol: String, valueCol: String,
                 spans: Seq[Double], lagRows: Int = 1, minPeriods: Int = 1): DataFrame = {
    val frame = ewmaSeriesFrame(df, hierarchy, tsCol, valueCol, spans, lagRows, minPeriods)
    spans.combinations(2).foldLeft(frame) { case (d, Seq(a, b)) =>
      val ca = col(s"${valueCol}_ewma${a.toInt}")
      val cb = col(s"${valueCol}_ewma${b.toInt}")
      d.withColumn(s"${valueCol}_ewma_cross_${a.toInt}_${b.toInt}",
        when(cb.isNull || cb === 0, lit(null)).otherwise(ca / cb))
    }
  }
}

case class EwmaPointN(ts: Long, ys: Seq[java.lang.Double])

case class EwmaVarPoint(ts: Long, m: java.lang.Double, v: java.lang.Double)
