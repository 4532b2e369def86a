package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The licensed per-key series fold (SURVEY §2.11): one `collect_list` of
  * point structs per key, then an O(n) pass over the points in time order,
  * for recursions no Spark builtin expresses. Its users: [[Ewma]] (both
  * frames), [[Kalman]], [[Anomaly.cusum]], [[Anomaly.burstSegments]],
  * [[Similarity.dtwToReference]], [[Isotonic.fitFrame]], [[Lttb.downsample]]
  * and the four fold forecasters of [[Forecast]].
  *
  * The fold runs on TIER series, whose length is bounded by bucket
  * cardinality. One bound guards every fold: [[Ewma.maxSeriesPoints]]
  * points per key. A longer series almost certainly means raw events were
  * pointed at the fold, and failing with that diagnostic beats an executor
  * OOM from one `collect_list` group.
  */
object SeriesFold {

  /** Fails when a key's points exceed [[Ewma.maxSeriesPoints]]; returns them. */
  def guard(pts: Seq[Row]): Seq[Row] = {
    require(pts.size <= Ewma.maxSeriesPoints,
      s"series fold has ${pts.size} points in one key (> Ewma.maxSeriesPoints=" +
        s"${Ewma.maxSeriesPoints}). A fold takes a rolled-up tier, not raw events: " +
        "aggregate to time buckets (or sample) first, or raise Ewma.maxSeriesPoints " +
        "if the length is intended")
    pts
  }

  /** `df` grouped by `keys`, each key's `point` structs collected as `_pts`,
    * next to the `extra` aggregates.
    */
  def collect(df: DataFrame, keys: Seq[String], point: Seq[Column],
              extra: Column*): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(collect_list(struct(point: _*)).as("_pts"), extra: _*)

  /** The (t: epoch seconds, x: double) point of a time and a value column. */
  def timeValue(tsCol: String, valueCol: String): Seq[Column] =
    Seq(unix_timestamp(col(tsCol)).as("t"), col(valueCol).cast("double").as("x"))

  /** Guarded (t, x) points as their non-null x values, in t order. */
  def values(pts: Seq[Row]): Array[Double] =
    guard(pts).sortBy(_.getLong(0)).map(_.getDouble(1)).toArray

  /** Guarded (t, x) points as (t, Option[x]) pairs, in input order. */
  def pairs(pts: Seq[Row]): Seq[(Long, Option[Double])] =
    guard(pts).map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
}
