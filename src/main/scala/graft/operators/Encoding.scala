package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Ordinal categorical encode/decode — the reference's dictionary encoding
  * (`/root/reference/forecastframe/transform.py:367-428`: dictionary = the
  * column's distinct values ordered ascending, code = dense 0-based
  * position; decode maps codes back through the saved dictionary).
  *
  * Scale design: the dictionary is built WITHOUT a global single-task
  * window. `row_number().over(Window.orderBy(c))` — the obvious
  * formulation — funnels the whole distinct set through ONE task, which is
  * fine for a categorical domain but dies first when someone points it at a
  * high-cardinality column. Here the distinct set is range-partition
  * SORTED (parallel) and numbered with `zipWithIndex` — a narrow two-pass
  * over the sorted partitions (one lightweight job to count per-partition
  * sizes, then offset-adds). Every stage is distributed; the only
  * cardinality bound is what a join dictionary inherently costs.
  */
object Encoding {

  /** Dictionary frame `(value_col, code: long)` — codes are the dense
    * 0-based ascending rank of the distinct values (nulls excluded, like the
    * reference's dict built from observed category values).
    */
  def fitOrdinal(df: DataFrame, c: String): DataFrame = {
    val spark = df.sparkSession
    val distinct = df.select(col(c)).filter(col(c).isNotNull).distinct().sort(col(c))
    val schema = distinct.schema.add("code", LongType, nullable = false)
    // RDD zipWithIndex is the one licensed RDD drop-down (SURVEY §2.11 "only
    // where Catalyst can't express it"): no Catalyst operator yields a
    // partition-parallel dense global rank without a single-task exchange.
    // sort() gives range partitioning, so per-partition index + partition
    // offset IS the global ascending rank.
    val rdd = distinct.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    spark.createDataFrame(rdd, schema)
  }

  /** Attach `<c>_code` by joining the dictionary. Unseen values get null
    * codes. Spark sizes a fitted dictionary by its input, not by its
    * category count, so pass `broadcast(dict)` to keep the join a broadcast
    * at any input scale.
    */
  def encodeOrdinal(df: DataFrame, c: String, dict: DataFrame): DataFrame =
    df.join(dict.withColumnRenamed("code", s"${c}_code"), Seq(c), "left")

  /** Map `codeCol` back to the categorical value as `<codeCol>_decoded`. */
  def decodeOrdinal(df: DataFrame, codeCol: String, c: String, dict: DataFrame): DataFrame =
    df.join(
      dict.select(col("code").as(codeCol), col(c).as(s"${codeCol}_decoded")),
      Seq(codeCol), "left")

  // ----------------------------------------------- frequency / target enc

  /** Frequency dictionary `(c, <c>_freq)`: each category's share of the
    * non-null FIT rows. Counts are vocabulary-sized; the total rides along
    * as a broadcast 1-row frame — no collect, no global window.
    */
  def fitFrequency(df: DataFrame, c: String): DataFrame = {
    val nn = df.filter(col(c).isNotNull)
    val total = nn.agg(count(lit(1)).as("_total"))
    nn.groupBy(col(c)).agg(count(lit(1)).as("_n"))
      .join(total)
      .withColumn(s"${c}_freq", col("_n") / col("_total"))
      .select(col(c), col(s"${c}_freq"))
  }

  /** Attach `<c>_freq` from a fitted dictionary; categories never seen in
    * the fit frame get 0.0 (an observed share, not a missing value).
    */
  def encodeFrequency(df: DataFrame, c: String, dict: DataFrame): DataFrame =
    df.join(dict, Seq(c), "left")
      .withColumn(s"${c}_freq", coalesce(col(s"${c}_freq"), lit(0.0)))

  /** Global target prior (train mean of `y`) — the one bounded scalar the
    * target encoder persists beside its dictionary (same contract as the
    * scaler params: a 1-value aggregate collected once).
    */
  def fitTargetPrior(df: DataFrame, y: String): Double =
    df.filter(col(y).isNotNull).agg(avg(col(y))).head().getDouble(0)

  /** Smoothed mean (target) encoding fit on TRAIN ONLY — the leak-free
    * categorical encoding (Micci-Barreca 2001, "A preprocessing scheme for
    * high-cardinality categorical attributes" — public):
    *   code(v) = (Σ y + m·prior) / (n_v + m)
    * One vocabulary-sized aggregation; smoothing pulls rare categories
    * toward the prior, so a category seen once cannot memorize its row's
    * target (the leakage the reference's CV scaffolding exists to prevent).
    */
  def fitTarget(df: DataFrame, c: String, y: String, m: Double,
                prior: Double): DataFrame = {
    require(m >= 0, s"smoothing m must be >= 0, got $m")
    df.filter(col(c).isNotNull && col(y).isNotNull)
      .groupBy(col(c))
      .agg(sum(col(y)).as("_sy"), count(lit(1)).as("_ny"))
      .withColumn(s"${c}_target", (col("_sy") + lit(m) * prior) / (col("_ny") + lit(m)))
      .select(col(c), col(s"${c}_target"))
  }

  /** Attach `<c>_target`; unseen categories fall back to the prior (the
    * m→∞ limit — the only leak-free default).
    */
  def encodeTarget(df: DataFrame, c: String, dict: DataFrame, prior: Double): DataFrame =
    df.join(dict, Seq(c), "left")
      .withColumn(s"${c}_target", coalesce(col(s"${c}_target"), lit(prior)))
}
