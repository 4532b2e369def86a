package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Customer-value segmentation over a transaction log — the marketing-
  * analytics layer a forecasting user runs BEFORE the reference's
  * hierarchical pipeline to pick which (customer, grain) series matter
  * (the reference groups on arbitrary hierarchy columns,
  * /root/reference/forecastframe/__init__.py `hierarchy=` — RFM/LTV are the
  * standard ways those hierarchy segments get defined from raw orders).
  *
  * Scale notes: every method aggregates to the CUSTOMER dimension first
  * (one shuffle over the fact table), then works on the dimension-sized
  * frame. Global ranks use the range-partitioned sort + `zipWithIndex`
  * pattern ([[Encoding.fitOrdinal]]) — never a single-task
  * `row_number().over(Window.orderBy(...))`.
  */
object Segment {

  /** Attach a dense 0-based global rank by `sortCols` as `rankCol`.
    * `sort()` range-partitions, so per-partition index + partition offset
    * (what `zipWithIndex` computes with one lightweight count job) IS the
    * global rank — fully distributed, no single-task exchange.
    */
  private def withGlobalRank(df: DataFrame, rankCol: String,
                             sortCols: Seq[Column]): DataFrame = {
    val sorted = df.sort(sortCols: _*)
    val schema = sorted.schema.add(rankCol, LongType, nullable = false)
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** 6-dp arithmetic rounding (round-half-away-from-zero on the raw double,
    * matching DuckDB `round(x, 6)` — see SparkEntry.r6).
    */
  private def r6(c: Column): Column =
    when(c.isNull, lit(null).cast("double"))
      .otherwise(signum(c) * floor(abs(c) * 1e6 + 0.5) / 1e6)

  /** RFM segmentation: per customer, recency (latest order timestamp, µs),
    * frequency (order count) and monetary (6-dp-rounded amount sum), each
    * scored 1..`buckets` by global rank — score `b` = the top 1/`buckets`
    * of customers (most recent / most frequent / highest spend).
    *
    * Scores are integer-exact and engine-independent:
    * `score = 1 + (rank * buckets) div n` over the dense 0-based rank with
    * ties broken on the customer id — the SQL twin is
    * `1 + ((row_number() OVER (ORDER BY metric, cust) - 1) * b) // n`.
    * The monetary rank cut is taken on the ROUNDED sum (a rank cut must
    * never sit on a raw shuffled float sum — last-ulp engine differences
    * would reorder ties).
    *
    * Plan: one fact-table shuffle to customer grain, then three range-sort
    * rank passes over the dimension-sized frame and one broadcast of the
    * 1-row total. Nothing here is bounded by a single task.
    */
  def rfm(orders: DataFrame, custCol: String, tsCol: String, amtCol: String,
          buckets: Int = 5): DataFrame = {
    require(buckets >= 1, s"rfm: buckets must be >= 1, got $buckets")
    val base = orders.groupBy(col(custCol)).agg(
      max(unix_micros(col(tsCol).cast("timestamp"))).as("recency_us"),
      count(lit(1)).as("frequency"),
      r6(sum(col(amtCol))).as("monetary"))
    val ranked = Seq(
      "recency_us" -> "_r_rank",
      "frequency" -> "_f_rank",
      "monetary" -> "_m_rank").foldLeft(base) { case (df, (m, rk)) =>
      withGlobalRank(df, rk, Seq(col(m), col(custCol)))
    }
    val total = base.agg(count(lit(1)).as("_n"))
    def score(rk: String) = expr(s"1L + ($rk * $buckets) div _n")
    ranked.join(total)
      .select(col(custCol), col("recency_us"), col("frequency"), col("monetary"),
        score("_r_rank").as("r_score"), score("_f_rank").as("f_score"),
        score("_m_rank").as("m_score"))
  }

  /** Cohort LTV curve: customers cohorted by FIRST-order month, revenue
    * accumulated by month offset since the cohort month, normalized by
    * cohort size — one (cohort, offset) row with the cell revenue, the
    * running cumulative, and cumulative revenue per cohort customer (the
    * "LTV at age k months" curve).
    *
    * Months are integer-indexed (`year*12 + month`) so the offset is exact
    * integer arithmetic in any engine — never `months_between` floats.
    * Revenue columns carry the INPUT amount type through unrounded: pass an
    * integer-cents column for exact sums (a cumulated float revenue at
    * 1e9+ magnitude has ulps bigger than 6-dp rounding can absorb — q263
    * bit exactly that at sf0.1); only `ltv` divides, exactly and
    * deterministically, cum/n.
    *
    * Plan: one fact shuffle to (cust, month), a dimension-sized first-month
    * aggregate joined back (AQE broadcasts it), one (cohort, offset)
    * aggregate, and a window cumulative over the tiny result — the same
    * shape as [[Sessions.cohortRetention]] with a revenue measure.
    */
  def ltvCurve(orders: DataFrame, custCol: String, tsCol: String,
               amtCol: String): DataFrame = {
    val ym = (year(col(tsCol)) * lit(12) + month(col(tsCol))).as("_ym")
    val facts = orders.select(col(custCol).as("_cust"), ym,
      col(amtCol).as("_amt"))
    val first = facts.groupBy("_cust").agg(min(col("_ym")).as("cohort_ym"))
    val sizes = first.groupBy("cohort_ym").agg(count(lit(1)).as("n_customers"))
    val cells = facts.join(first, Seq("_cust"))
      .groupBy(col("cohort_ym"), (col("_ym") - col("cohort_ym")).as("offset_m"))
      .agg(sum(col("_amt")).as("_rev"))
    val cum = Window.partitionBy("cohort_ym").orderBy("offset_m")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.join(sizes, Seq("cohort_ym"))
      .select(col("cohort_ym"), col("offset_m"), col("n_customers"),
        col("_rev").as("revenue"),
        sum(col("_rev")).over(cum).as("cum_revenue"),
        (sum(col("_rev")).over(cum) / col("n_customers")).as("ltv"))
  }
}
