package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Probability-calibration and ranking evaluation — the measurement side of
  * the calibration loop whose fitting side is [[Isotonic]] (fit on held-out
  * labels, then SCORE the calibration here) and whose interval analogue is
  * [[Conformal]]/[[Metrics.intervalScore]]:
  *
  *  - [[ece]] — expected calibration error (Naeini et al. 2015 AAAI) over
  *    fixed-width confidence bins, plus the Brier score (Brier 1950, the
  *    proper scoring rule ECE's binning approximates) and the base rate.
  *  - [[gainTable]] — cumulative gains by score bucket (the lift table):
  *    bucket 0 = highest scores; `cum_capture` = share of all positives
  *    captured through that bucket. A perfect ranker captures everything in
  *    the first buckets; a random one captures linearly.
  *
  * Both are exact fixed-bin / rank-bucket forms an independent engine
  * replays (bucket = ⌊(rn−1)·B/n⌋ integer math; ECE bins = ⌊p·B⌋ clamped),
  * never approximate quantile cuts. One grouped aggregation each; the
  * gain ranking needs a per-key ordered window over scored rows (the rank
  * is the semantics; at unbounded scale pre-bucket scores first).
  */
object Calibration {

  /** One row: (ece, brier, base_rate, n). `probCol` ∈ [0,1] by contract
    * (values outside clamp into the edge bins); `labelCol` is 0/1.
    */
  def ece(df: DataFrame, probCol: String, labelCol: String,
          bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val p = col(probCol).cast("double")
    val y = col(labelCol).cast("double")
    val binned = df.filter(p.isNotNull && y.isNotNull)
      .withColumn("_bin", least(lit(bins - 1L), greatest(lit(0L),
        floor(p * bins))))
    val per = binned.groupBy("_bin")
      .agg(count(lit(1)).as("_nb"), avg(y).as("_acc"), avg(p).as("_conf"))
    val tot = binned.agg(count(lit(1)).as("_n"),
      avg((p - y) * (p - y)).as("brier"), avg(y).as("base_rate"))
    per.join(tot)
      .groupBy()
      .agg(sum((col("_nb") / col("_n")) * abs(col("_acc") - col("_conf")))
        .as("ece"),
        max(col("brier")).as("brier"), max(col("base_rate")).as("base_rate"),
        max(col("_n")).as("n"))
  }

  /** Murphy (1973) decomposition of the Brier score over the same fixed
    * bins as [[ece]]:
    *   REL = Σ n_k (p̄_k − ō_k)² / N   (reliability — miscalibration, lower
    *                                    is better)
    *   RES = Σ n_k (ō_k − ō)² / N     (resolution — how much the bins
    *                                    separate outcomes, higher is better)
    *   UNC = ō(1 − ō)                 (uncertainty — base-rate entropy,
    *                                    forecaster can't change it)
    * For BINNED forecasts Brier = REL − RES + UNC exactly; with continuous
    * probabilities the within-bin variance of p leaves a small residual, so
    * the raw `brier` is reported alongside for the audit. One binned
    * aggregate + one scalar aggregate, broadcast-combined — same plan
    * shape (and bin contract) as [[ece]].
    *
    * @return one row: (n, brier, reliability, resolution, uncertainty)
    */
  def brierDecomposition(df: DataFrame, probCol: String, labelCol: String,
                         bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val p = col(probCol).cast("double")
    val y = col(labelCol).cast("double")
    val binned = df.filter(p.isNotNull && y.isNotNull)
      .withColumn("_bin", least(lit(bins - 1L), greatest(lit(0L),
        floor(p * bins))))
    val per = binned.groupBy("_bin")
      .agg(count(lit(1)).as("_nb"), avg(y).as("_acc"), avg(p).as("_conf"))
    val tot = binned.agg(count(lit(1)).as("_n"),
      avg((p - y) * (p - y)).as("brier"), avg(y).as("_ybar"))
    per.join(tot)
      .groupBy()
      .agg(max(col("_n")).as("n"), max(col("brier")).as("brier"),
        sum(col("_nb") * (col("_conf") - col("_acc")) *
          (col("_conf") - col("_acc")) / col("_n")).as("reliability"),
        sum(col("_nb") * (col("_acc") - col("_ybar")) *
          (col("_acc") - col("_ybar")) / col("_n")).as("resolution"),
        max(col("_ybar") * (lit(1.0) - col("_ybar"))).as("uncertainty"))
  }

  /** Gains by descending-score bucket: (bucket, n, positives, cum_positives,
    * cum_capture). `tieCol` pins the rank order under score ties so the
    * buckets are deterministic.
    *
    * The global descending rank is computed WITHOUT a single-task window:
    * `sort` gives range partitioning, so per-partition index + partition
    * offset IS the global rank (the same licensed RDD zipWithIndex
    * drop-down as `Encoding.fitOrdinal` — r3 review flagged the previous
    * `row_number().over(Window.orderBy(...))` realization as the first
    * thing to die when pointed at a full scored corpus rather than a
    * bounded eval set). The only remaining unpartitioned window runs over
    * the ≤`buckets` aggregated rows.
    */
  def gainTable(df: DataFrame, scoreCol: String, labelCol: String,
                tieCol: String, buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val spark = df.sparkSession
    val sc = col(scoreCol).cast("double")
    val y = col(labelCol).cast("long")
    val base = df.filter(sc.isNotNull && y.isNotNull)
      .select(sc.as("_s"), y.as("_y"), col(tieCol).as("_t"))
    val n = base.count()
    require(n > 0, "gainTable on an empty frame")
    // 0-based rank i -> bucket i*buckets/n (Long division == floor here)
    val bucketed = base.sort(col("_s").desc, col("_t")).rdd.zipWithIndex()
      .map { case (r, i) => (i * buckets / n, r.getLong(1)) }
    import spark.implicits._
    val per = bucketed.toDF("bucket", "_y")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("positives"))
    // bounded-input contract: this unpartitioned window sees at most
    // `buckets` rows (one per bucket, a caller literal) — no gate needed
    val wCum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per
      .withColumn("cum_positives", sum(col("positives")).over(wCum))
      .withColumn("cum_capture", col("cum_positives") /
        sum(col("positives")).over(Window.partitionBy()))
  }

  /** nDCG@k per query (Järvelin & Kekäläinen 2002) — position-discounted
    * ranking quality against the ideal ordering. Completes the ranking-eval
    * family: [[gainTable]] audits capture by bucket, this scores the exact
    * positions. Binary or graded relevance; ideal-ranking ties among equal
    * relevance leave IDCG unchanged, so the result is deterministic.
    * Output: (queryCols..., dcg, idcg, ndcg, n) — ndcg null when the query
    * has no relevant rows (nothing to rank).
    */
  def ndcg(df: DataFrame, queryCols: Seq[String], scoreCol: String,
           relCol: String, tieCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val keys = queryCols.map(col)
    val sc = col(scoreCol).cast("double"); val rel = col(relCol).cast("double")
    val base = df.filter(sc.isNotNull && rel.isNotNull)
      .withColumn("_rs", row_number().over(
        Window.partitionBy(keys: _*).orderBy(sc.desc, col(tieCol))))
      .withColumn("_ri", row_number().over(
        Window.partitionBy(keys: _*).orderBy(rel.desc, col(tieCol))))
    base.groupBy(keys: _*)
      .agg(sum(when(col("_rs") <= k, rel / log2(col("_rs") + 1))
          .otherwise(lit(0.0))).as("dcg"),
        sum(when(col("_ri") <= k, rel / log2(col("_ri") + 1))
          .otherwise(lit(0.0))).as("idcg"),
        count(lit(1)).as("n"))
      .withColumn("ndcg", when(col("idcg") > 0, col("dcg") / col("idcg")))
  }

  /** Mean reciprocal rank over all queries: rr(q) = 1/rank of the FIRST
    * relevant row under (score desc, tie), 0 when a query has none.
    * Output: one row (mrr, n_queries, n_hit).
    */
  def mrr(df: DataFrame, queryCols: Seq[String], scoreCol: String,
          relCol: String, tieCol: String): DataFrame = {
    val keys = queryCols.map(col)
    val sc = col(scoreCol).cast("double"); val rel = col(relCol).cast("double")
    val ranked = df.filter(sc.isNotNull && rel.isNotNull)
      .withColumn("_r", row_number().over(
        Window.partitionBy(keys: _*).orderBy(sc.desc, col(tieCol))))
    ranked.groupBy(keys: _*)
      .agg(min(when(rel > 0, col("_r"))).as("_first"))
      .agg(avg(coalesce(lit(1.0) / col("_first"), lit(0.0))).as("mrr"),
        count(lit(1)).as("n_queries"),
        count(col("_first")).as("n_hit"))
  }

  /** Precision@k and recall@k per query — the set-overlap counterparts of
    * [[ndcg]] (which grades positions): of the top-k by score, how many are
    * relevant, and what share of all relevant rows that captures.
    * Output: (queryCols..., hits, n_rel, precision_k, recall_k) — recall
    * null when the query has no relevant rows.
    */
  def precisionRecallAtK(df: DataFrame, queryCols: Seq[String], scoreCol: String,
                         relCol: String, tieCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val keys = queryCols.map(col)
    val sc = col(scoreCol).cast("double"); val rel = col(relCol).cast("long")
    df.filter(sc.isNotNull && rel.isNotNull)
      .withColumn("_r", row_number().over(
        Window.partitionBy(keys: _*).orderBy(sc.desc, col(tieCol))))
      .groupBy(keys: _*)
      .agg(sum(when(col("_r") <= k, rel).otherwise(lit(0L))).as("hits"),
        sum(rel).as("n_rel"))
      .withColumn("precision_k", col("hits") / lit(k))
      .withColumn("recall_k", when(col("n_rel") > 0, col("hits") / col("n_rel")))
  }
}
