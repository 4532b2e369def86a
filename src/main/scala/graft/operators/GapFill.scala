package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-fill / time alignment — the reference's signature ops
  * (fill_time_gaps, /root/reference/forecastframe/transform.py:431-472;
  * fill_missings LOCF :475-500) plus the north rule's linear interpolation.
  *
  * Scale notes: the grid is `distinct(hierarchy) × sequence(min,max,step)` —
  * an explode of a bounded integer sequence, NOT a driver-side date_range.
  * The grid side is tiny relative to data (|groups| × |buckets|) and joins
  * back on (hierarchy, bucket) — the same key as the tier tables, so with a
  * pre-partitioned tier table the join avoids re-shuffling the big side.
  */
object GapFill {

  /** Reindex every group onto the full `[min(ts), max(ts)]` grid at
    * `stepSeconds`, inserting missing rows with null measures. Bounds are
    * global like the reference (transform.py:447-452: one date_range over the
    * whole frame). `tsCol` must be epoch-seconds-aligned to the step.
    */
  def fillTimeGaps(df: DataFrame, hierarchy: Seq[String], tsCol: String,
                   stepSeconds: Long): DataFrame = {
    val bounds = df.agg(min(unix_timestamp(col(tsCol))).as("mn"),
      max(unix_timestamp(col(tsCol))).as("mx"))
    val grid = df.select(hierarchy.map(col): _*).distinct()
      .crossJoin(bounds)
      // snap bounds onto the step grid so generated instants align with data
      .withColumn("mn", col("mn") - pmod(col("mn"), lit(stepSeconds)))
      .select((hierarchy.map(col) :+
        explode(sequence(col("mn"), col("mx"), lit(stepSeconds))).as("_grid_sec")): _*)
      .withColumn(tsCol, timestamp_seconds(col("_grid_sec")))
      .drop("_grid_sec")
    grid.join(df, hierarchy :+ tsCol, "left")
  }

  /** LOCF then (optionally) backfill leading nulls — reference
    * `fill_missings(method="ffill")` (transform.py:475-500).
    */
  def locf(df: DataFrame, hierarchy: Seq[String], tsCol: String, cols: Seq[String],
           backfillLeading: Boolean = false): DataFrame = {
    val ff = Features.forwardFill(df, hierarchy, tsCol, cols)
    if (backfillLeading) Features.backwardFill(ff, hierarchy, tsCol, cols) else ff
  }

  /** Linear interpolation between the nearest non-null neighbors,
    * timestamp-weighted (north rule; SURVEY.md §2.9):
    * x = prev + (next - prev) · (t - t_prev)/(t_next - t_prev).
    * Endpoints (no prev / no next) stay null.
    */
  def linearInterpolate(df: DataFrame, hierarchy: Seq[String], tsCol: String,
                        cols: Seq[String]): DataFrame = {
    val byTs = Features.w(hierarchy, tsCol)
    val back = byTs.rowsBetween(Window.unboundedPreceding, 0)
    val fwd = byTs.rowsBetween(0, Window.unboundedFollowing)
    val t = unix_timestamp(col(tsCol))
    cols.foldLeft(df) { (d, c) =>
      val x = col(c)
      val tOf = when(x.isNotNull, t)
      val prevV = last(x, ignoreNulls = true).over(back)
      val nextV = first(x, ignoreNulls = true).over(fwd)
      val prevT = last(tOf, ignoreNulls = true).over(back)
      val nextT = first(tOf, ignoreNulls = true).over(fwd)
      d.withColumn(c,
        when(x.isNotNull, x)
          .when(prevV.isNotNull && nextV.isNotNull,
            prevV + (nextV - prevV) * (t - prevT) / (nextT - prevT))
          .otherwise(lit(null)))
    }
  }

  /** SEASONAL fill: a null takes the most recent non-null value at the SAME
    * PHASE of the period (ts mod `periodSeconds`) — last Monday's value for
    * a missing Monday, yesterday's 14:00 bucket for a missing 14:00. LOCF
    * and interpolation smear across the seasonal pattern (a weekend gap
    * filled from Friday is systematically wrong for Saturday); seasonal
    * fill preserves it, which is why it is the right default before
    * seasonal models ([[graft.operators.Forecast.seasonalNaive]] is exactly
    * this fill applied to the FUTURE).
    *
    * One window shuffle on (keys, phase) — same cost class as [[locf]],
    * just a finer partition key. Rows with no earlier same-phase value stay
    * null (compose with [[locf]] for a total fill).
    */
  def seasonalFill(df: DataFrame, hierarchy: Seq[String], tsCol: String,
                   cols: Seq[String], periodSeconds: Long): DataFrame = {
    require(periodSeconds >= 1, s"periodSeconds must be >= 1, got $periodSeconds")
    val phase = pmod(unix_timestamp(col(tsCol)), lit(periodSeconds))
    val staged = df.withColumn("_phase", phase)
    val win = Window.partitionBy((hierarchy.map(col) :+ col("_phase")): _*)
      .orderBy(col(tsCol)).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(staged)((d, c) =>
        d.withColumn(c, coalesce(col(c), last(col(c), ignoreNulls = true).over(win))))
      .drop("_phase")
  }
}
