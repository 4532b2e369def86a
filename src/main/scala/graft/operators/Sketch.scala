package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DDSketch-style relative-error quantile sketch over a non-negative
  * integer-quantized measure (reference: Masson, Rim & Lee, "DDSketch: a
  * fast and fully-mergeable quantile sketch with relative-error
  * guarantees", VLDB 2019 — public paper; this is an independent
  * Spark-declarative realization, not a port).
  *
  * Role in the engine: the tier store keeps EXACT percentiles by carrying
  * compressed point blocks (`BlockAgg` + Gorilla codec) — the right
  * call while blocks fit the tier budget. A DDSketch tier is the documented
  * fallback when they do not (e.g. p99 over a year of raw points at host
  * grain): the sketch is a FIXED-size histogram (one row per occupied
  * geometric bucket, ~550 buckets for α=2% over a 10⁶ domain) that merges
  * by summing counts — associative, commutative, any tier nesting — and
  * answers any quantile with guaranteed relative error ≤ α.
  *
  * Bucketing: x ≥ 1 maps to index ceil(ln x / ln γ) with γ = (1+α)/(1−α);
  * x = 0 to the reserved zero bucket −1. Every value in bucket i lies in
  * (γ^{i−1}, γ^i], so the midpoint estimate 2γ^i/(γ+1) is within factor
  * (1+α)/1 of any member — the relative-error bound (SketchSpec asserts it
  * against exact percentiles on seeded data).
  *
  * Everything is declarative Catalyst: bucketing one codegen'd projection,
  * build/merge plain `groupBy.sum`, quantile lookup one cumulative window
  * over ≤ O(buckets) rows per group. Cross-engine determinism of the DuckDB
  * oracle twin was verified exhaustively: JVM `Math.ceil(Math.log(n)/log γ)`
  * equals DuckDB `ceil(ln(n)/ln(γ))` for every integer n in [1, 10⁶] at
  * α = 0.02 (tools/lncheck — zero mismatches), so the oracle can replicate
  * the exact bucket function on the integer domain.
  */
object Sketch {

  def gamma(alpha: Double): Double = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    (1.0 + alpha) / (1.0 - alpha)
  }

  /** Geometric bucket index of a non-negative integer-valued column.
    * 0 → −1 (zero bucket); x ≥ 1 → ceil(ln x / ln γ). Negative inputs are
    * rejected at run time via an impossible bucket that [[quantiles]]
    * require-guards (the engine's measures — char counts, cents — are
    * non-negative by construction).
    */
  def ddBucket(x: Column, alpha: Double): Column = {
    val lg = math.log(gamma(alpha))
    when(x <= 0, lit(-1L))
      .otherwise(ceil(log(x.cast("double")) / lit(lg)).cast("long"))
  }

  /** Midpoint estimate for a bucket index (inverse of [[ddBucket]]):
    * zero bucket → 0, else 2γ^i/(γ+1).
    */
  def bucketEstimate(idx: Column, alpha: Double): Column = {
    val g = gamma(alpha)
    when(idx === -1L, lit(0.0))
      .otherwise(lit(2.0) * pow(lit(g), idx.cast("double")) / lit(g + 1.0))
  }

  /** Build per-group sketches: one row per (keys, dd_bucket) with its count.
    * A map-side-combined `groupBy` — the shuffle payload per group is the
    * occupied-bucket count (≤ ~550 at α=2% over a 10⁶ domain), independent
    * of input rows.
    */
  def build(df: DataFrame, keys: Seq[String], valueCol: String,
            alpha: Double): DataFrame =
    df.withColumn("dd_bucket", ddBucket(col(valueCol), alpha))
      .groupBy(keys.map(col) :+ col("dd_bucket"): _*)
      .agg(count(lit(1)).as("dd_count"))

  /** Merge sketches downward in the key hierarchy (or across time tiers):
    * drop the retired keys, sum counts per surviving (keys, bucket). The
    * sketch is fully mergeable — merge(build(A), build(B)) ==
    * build(A ∪ B) exactly (SketchSpec asserts bucket-level equality).
    */
  def merge(sketch: DataFrame, keys: Seq[String]): DataFrame =
    sketch.groupBy(keys.map(col) :+ col("dd_bucket"): _*)
      .agg(sum(col("dd_count")).as("dd_count"))

  /** Quantile lookup: for each q, the smallest bucket whose cumulative
    * count reaches rank floor(q·(n−1)) + 1 (the DDSketch rank convention).
    * Output: keys, q, n, the chosen bucket index, and the midpoint
    * estimate. One cumulative window per group over bucket rows.
    */
  def quantiles(sketch: DataFrame, keys: Seq[String], qs: Seq[Double],
                alpha: Double): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1),
      s"quantiles must be in [0,1], got $qs")
    val kcols = keys.map(col)
    val cumW = Window.partitionBy(kcols: _*)
      .orderBy(col("dd_bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy(kcols: _*)
    val cum = sketch
      .withColumn("dd_cum", sum(col("dd_count")).over(cumW))
      .withColumn("dd_n", sum(col("dd_count")).over(totW))
    // rank = floor(q*(n-1)) + 1; pick the min bucket with cum >= rank
    cum.withColumn("q", explode(array(qs.map(lit): _*)))
      .withColumn("dd_rank", (floor(col("q") * (col("dd_n") - 1)) + 1).cast("long"))
      .groupBy(kcols :+ col("q") :+ col("dd_n").as("n") :+ col("dd_rank"): _*)
      .agg(min(when(col("dd_cum") >= col("dd_rank"), col("dd_bucket"))).as("bucket"))
      .withColumn("estimate", bucketEstimate(col("bucket"), alpha))
      .drop("dd_rank")
  }

  // ------------------------------------------------------------------ tiers

  /** Sketch-tier build: tumbling `bucketSeconds` DDSketch rows per group —
    * the FIXED-SIZE alternative to [[graft.operators.Rollup.tier1m]]'s exact
    * point blocks for tiers whose per-bucket point count exceeds the block
    * budget (p99 over a year of raw points at host grain). Each row carries
    * the associative measures (cnt/sum/min/max) plus `dd_sketch`: a sorted
    * map bucket→count bounded by the occupied-bucket count (~550 at α=2%
    * over a 10⁶ domain) — row size is INDEPENDENT of the points aggregated.
    *
    * Two-stage aggregation, both map-side combined: stage 1 shuffles raw
    * rows once to (keys, bucket, dd_bucket) — the same shuffle volume as
    * the exact tier — and stage 2 folds the tiny per-bucket histogram rows
    * into the map column.
    */
  def tierSketch(df: DataFrame, keys: Seq[String], tsCol: String,
                 valueCol: String, bucketSeconds: Long, alpha: Double): DataFrame = {
    val kcols = keys.map(col)
    val withB = df
      .withColumn("_ts_sec", unix_timestamp(col(tsCol).cast("timestamp")))
      .withColumn("bucket_start", col("_ts_sec") - pmod(col("_ts_sec"), lit(bucketSeconds)))
      .withColumn("dd_bucket", ddBucket(col(valueCol), alpha))
    val stage1 = withB
      .groupBy(kcols :+ col("bucket_start") :+ col("dd_bucket"): _*)
      .agg(count(lit(1)).as("c"), sum(col(valueCol)).as("s"),
        min(col(valueCol)).as("mn"), max(col(valueCol)).as("mx"))
    stage1
      .groupBy(kcols :+ col("bucket_start"): _*)
      .agg(sum(col("c")).as("cnt"), sum(col("s")).as("sum_v"),
        min(col("mn")).as("min_v"), max(col("mx")).as("max_v"),
        map_from_entries(array_sort(collect_list(struct(
          col("dd_bucket"), col("c"))))).as("dd_sketch"))
  }

  /** Promote a finer sketch tier to `tierSeconds` buckets: associative
    * measures re-aggregate from the finer rows; sketches merge by exploding
    * the (tiny, bounded) maps and summing bucket counts — ONE pass, no
    * self-join: each finer row's measures ride its first (pos = 0) map
    * entry and re-aggregate beside the bucket counts (a tier row always
    * has ≥ 1 entry — rows exist only where data exists). Runs over
    * tier-sized rows — raw data is never re-read — and
    * promote(tierSketch(1m)) == tierSketch(1h) EXACTLY (map-level
    * equality: SketchSpec + the q196 oracle), the same consistency
    * contract the exact tier proves for point blocks.
    */
  def promoteSketch(finer: DataFrame, keys: Seq[String], tierSeconds: Long): DataFrame = {
    val kcols = keys.map(col)
    val coarse = (col("bucket_start") - pmod(col("bucket_start"), lit(tierSeconds)))
      .as("bucket_start")
    val exploded = finer.select(
      kcols ++ Seq(coarse, col("cnt"), col("sum_v"), col("min_v"), col("max_v"),
        posexplode(col("dd_sketch")).as(Seq("pos", "dd_bucket", "c"))): _*)
    exploded
      .groupBy(kcols :+ col("bucket_start") :+ col("dd_bucket"): _*)
      .agg(sum(col("c")).as("c"),
        sum(when(col("pos") === 0, col("cnt"))).as("pc"),
        sum(when(col("pos") === 0, col("sum_v"))).as("ps"),
        min(when(col("pos") === 0, col("min_v"))).as("pmn"),
        max(when(col("pos") === 0, col("max_v"))).as("pmx"))
      .groupBy(kcols :+ col("bucket_start"): _*)
      .agg(sum(col("pc")).as("cnt"), sum(col("ps")).as("sum_v"),
        min(col("pmn")).as("min_v"), max(col("pmx")).as("max_v"),
        map_from_entries(array_sort(collect_list(struct(
          col("dd_bucket"), col("c"))))).as("dd_sketch"))
  }

  /** Serving-path quantiles over `[startSec, endSec)` by STITCHING the
    * coarsest sketch tiers that cover the range ([[Rollup.coverage]]) —
    * the sketch twin of [[Rollup.readRange]]: a misaligned 25-day window
    * reads ~24 day rows + edge hour/minute rows per group instead of raw
    * points, and the stitched merge is just bucket-count sums, so the
    * answer is IDENTICAL to building one sketch over the raw range
    * (SketchSpec asserts equality against the direct build).
    *
    * @param tiers tierName → (bucketSeconds, tier frame from
    *              [[tierSketch]]/[[promoteSketch]])
    */
  def readRange(tiers: Map[String, (Long, DataFrame)], keys: Seq[String],
                startSec: Long, endSec: Long, qs: Seq[Double],
                alpha: Double): DataFrame = {
    val segs = Rollup.coverage(startSec, endSec,
      tiers.map { case (n, (s, _)) => Rollup.Tier(n, s) }.toSeq)
    val parts = segs.map { seg =>
      tiers(seg.tier)._2
        .filter(col("bucket_start") >= seg.startSec &&
          col("bucket_start") < seg.endSec)
        .select(keys.map(col) :+
          explode(col("dd_sketch")).as(Seq("dd_bucket", "dd_count")): _*)
    }
    quantiles(merge(parts.reduce(_.unionByName(_)), keys), keys, qs, alpha)
  }

  /** Quantile bucket from a sketch-map column, declaratively (codegen'd
    * HOFs, no UDF): sort the map entries by bucket, rank = floor(q·(n−1))+1
    * (same convention as [[quantiles]]), scan the running count for the
    * first bucket reaching the rank. Returns the bucket INDEX (integer —
    * feed to [[bucketEstimate]] for the value estimate).
    */
  def quantileFromMap(m: Column, q: Double): Column =
    quantilesFromMap(m, Seq(q)).getField("bkt0")

  /** N quantile buckets from ONE sort + ONE counting fold + ONE scanning
    * fold of the sketch map (HOF `aggregate` lambdas run interpreted even
    * inside codegen'd stages — the r6 plan audit measured a per-quantile
    * `quantileFromMap` pair costing 0.72 → 1.52 s on the q196 tier: three
    * interpreted array passes per call). Each requested q gets a `bktI`
    * field in the returned struct; rank convention identical to
    * [[quantileFromMap]] (floor(q·(n−1))+1, first bucket whose running
    * count reaches it), so per-field results are bit-identical.
    */
  def quantilesFromMap(m: Column, qs: Seq[Double]): Column = {
    require(qs.nonEmpty)
    val entries = array_sort(map_entries(m))
    val n = aggregate(entries, lit(0L), (acc, e) => acc + e.getField("value"))
    val ranks = qs.map(q =>
      (floor(lit(q) * (n - 1).cast("double")) + 1).cast("long"))
    val zero = struct((lit(0L).as("cum") +:
      qs.indices.map(i => lit(null).cast("long").as(s"bkt$i"))): _*)
    val scan = aggregate(entries, zero, (acc, e) => {
      val cum = acc.getField("cum") + e.getField("value")
      struct((cum.as("cum") +: qs.indices.map { i =>
        when(acc.getField(s"bkt$i").isNull && cum >= ranks(i), e.getField("key"))
          .otherwise(acc.getField(s"bkt$i")).as(s"bkt$i")
      }): _*)
    })
    struct(qs.indices.map(i => scan.getField(s"bkt$i").as(s"bkt$i")): _*)
  }

  /** AMS F2 sketch (Alon, Matias & Szegedy 1996): the second frequency
    * moment `F2 = Σ_item count²` estimated by `rows` independent ±1-signed
    * counters — counter_r = Σ count(item)·sign_r(item) with sign_r the
    * parity bit of the seeded 60-bit md5 hash ([[graft.functions.Hashing]]
    * family, oracle-replayable) — and the fixed-order mean of counter².
    * Every counter is an exact integer (counts × ±1), so the estimate is
    * bit-exact cross-engine; the sketch is one aggregate pass with k
    * hash columns, mergeable by addition (the streaming/self-join-free
    * join-size estimator). Exact F2 carried alongside for calibration
    * (the q300 MinHash est-vs-exact pattern). Output: one row
    * (n_items, f2_exact, f2_est, rel_err).
    */
  def amsF2(df: DataFrame, itemCol: String, countCol: String,
            rows: Int = 8): DataFrame = {
    require(rows >= 1)
    val cnt = col(countCol).cast("long")
    val aggs = Seq(count(lit(1)).as("n_items"),
      sum(cnt * cnt).as("f2_exact")) ++
      (0 until rows).map { r =>
        val sign = pmod(graft.functions.Hashing.md5LongSeeded(r,
          col(itemCol).cast("string")), lit(2L)) * 2L - 1L
        sum(cnt * sign).as(s"_c$r")
      }
    val agged = df.agg(aggs.head, aggs.tail: _*)
    val est = (0 until rows)
      .map(r => col(s"_c$r").cast("double") * col(s"_c$r").cast("double"))
      .reduce(_ + _) / lit(rows.toDouble)
    agged
      .withColumn("f2_est", est)
      .withColumn("rel_err",
        abs(col("f2_est") - col("f2_exact").cast("double")) /
          col("f2_exact").cast("double"))
      .select(col("n_items"), col("f2_exact"), col("f2_est"), col("rel_err"))
  }
}
