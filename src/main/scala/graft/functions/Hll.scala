package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** HyperLogLog cardinality sketch — the documented drop-in for the exact
  * `lang_set` distinct count in [[graft.operators.Rollup]] when the distinct
  * domain outgrows an exact set (Rollup.scala keeps languages exact because
  * the ISO-639 domain is ~200; per-host URL or token cardinality at 10^12
  * pages is not).
  *
  * Standard HLL (Flajolet et al. 2007, "HyperLogLog: the analysis of a
  * near-optimal cardinality estimation algorithm" — public): p=12 → m=4096
  * byte registers (4 KB per group), 64-bit MD5-derived item hash (stable
  * across runs/engines, same rationale as [[Hashing]]), bias-corrected
  * estimator with linear-counting small-range correction. Standard error
  * 1.04/√m ≈ 1.6%.
  *
  * Why it matters for the tier cascade: the registers MERGE by elementwise
  * max, so a coarse tier's sketch is computed from the finer tier's sketches
  * — never from raw rows — exactly like the count/sum/min/max associative
  * path in `Rollup.promote`. `sketchOf(1h bucket)` == `merge(sketchOf(its
  * 60 1m buckets))` REGISTER-IDENTICAL (max is associative+commutative),
  * so promotion loses nothing: the property HllSpec asserts.
  *
  * Both aggregators are typed `Aggregator`s over primitive byte arrays —
  * no boxing, partial aggregation (map-side combine) applies, each group's
  * state is a fixed 4 KB regardless of cardinality.
  */
object Hll {

  /** Register-index bits: m = 2^P = 4096 registers, SE ≈ 1.6%. */
  val P: Int = 12
  val M: Int = 1 << P
  private val Alpha: Double = 0.7213 / (1.0 + 1.079 / M) // standard α_m, m ≥ 128

  /** 64 bits of MD5 — stable, engine-independent item hash. The digest
    * instance is thread-local: `MessageDigest.getInstance` allocates (SPI
    * lookup + provider object) per call, which dominated the per-item
    * sketch update cost in the r6 profile; `reset()` + reuse produces the
    * identical digest bytes.
    */
  private val mdLocal: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
  private[graft] def hash64(s: String): Long = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  private[graft] def update(regs: Array[Byte], item: String): Unit = {
    val h = hash64(item)
    val idx = (h >>> (64 - P)).toInt           // top P bits pick the register
    val rest = h << P                           // remaining 64-P bits
    // rank = leading zeros of the remaining bits + 1; all-zero rest ranks max
    val rank = (if (rest == 0L) (64 - P) else java.lang.Long.numberOfLeadingZeros(rest)) + 1
    if (rank > (regs(idx) & 0xff)) regs(idx) = rank.toByte
  }

  private[graft] def mergeInto(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < M) { if ((b(i) & 0xff) > (a(i) & 0xff)) a(i) = b(i); i += 1 }
    a
  }

  /** Bias-corrected estimate with linear-counting small-range correction. */
  def estimate(regs: Array[Byte]): Double = {
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < M) {
      val r = regs(i) & 0xff
      sum += java.lang.Math.scalb(1.0, -r) // 2^-r
      if (r == 0) zeros += 1
      i += 1
    }
    val e = Alpha * M.toDouble * M.toDouble / sum
    if (e <= 2.5 * M && zeros > 0) M * math.log(M.toDouble / zeros) else e
  }

  private val emptyRegs: Array[Byte] = new Array[Byte](M)

  /** strings → sketch registers (binary column). */
  class SketchAgg extends Aggregator[String, Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = emptyRegs.clone()
    def reduce(b: Array[Byte], s: String): Array[Byte] = { if (s != null) update(b, s); b }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = mergeInto(a, b)
    def finish(r: Array[Byte]): Array[Byte] = r
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** sketches → merged sketch — the tier-promotion aggregate. */
  class MergeAgg extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = emptyRegs.clone()
    def reduce(b: Array[Byte], s: Array[Byte]): Array[Byte] =
      if (s == null) b else mergeInto(b, s)
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = mergeInto(a, b)
    def finish(r: Array[Byte]): Array[Byte] = r
    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** `hllSketch(stringCol)` aggregate → binary registers. */
  def hllSketch(c: Column): Column = udaf(new SketchAgg).apply(c)

  /** `hllMerge(sketchCol)` aggregate → merged binary registers. */
  def hllMerge(c: Column): Column = udaf(new MergeAgg).apply(c)

  /** Scalar: estimate a sketch column. */
  def hllEstimate(c: Column): Column = {
    val f = org.apache.spark.sql.functions.udf((r: Array[Byte]) =>
      if (r == null) 0.0 else estimate(r))
    f(c)
  }

  /** Sliding-window distinct count served from per-bucket HLL registers —
    * the continuous-aggregate read "distinct items over the trailing k
    * buckets, per bucket" (distinct users last 24h per host, stepped
    * hourly). Per-bucket sketches build once ([[hllSketch]], one shuffle);
    * the trailing merge is a RANGE-frame window whose state is the 4 KB
    * register array — register max is associative and idempotent, so the
    * windowed estimate equals a direct build over the union of the
    * trailing buckets REGISTER-BYTE-exactly (PipelineOpsSpec asserts byte
    * equality; q198's oracle replays registers + linear counting from
    * first principles over the same trailing range). Exact sliding
    * distinct would need every (item, bucket) pair shuffled k times;
    * the register path moves k·4 KB per group-bucket regardless of item
    * cardinality. A range (not rows) frame keeps gap semantics honest:
    * absent buckets contribute nothing on both the engine and oracle side.
    */
  def slidingDistinct(df: DataFrame, keys: Seq[String], tsCol: String,
                      itemCol: String, bucketSeconds: Long, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // the columns this function names itself: a key of the same name would
    // be duplicated or silently replaced
    val clash = keys.filter(Set("bucket_start", "bucket_distinct", "window_distinct_est",
      "_sd_item", "_regs", "_wregs"))
    require(clash.isEmpty, s"slidingDistinct: key column(s) ${clash.mkString(", ")} clash with " +
      "the function's own output or internal columns; rename them first")
    val kcols = keys.map(col)
    val tsSec = unix_timestamp(col(tsCol).cast("timestamp"))
    // Distinct (key, bucket, item) FIRST, then sketch + count the survivors.
    // Register-byte-identical to sketching the raw rows (register max is
    // duplicate-insensitive) and count(item) over distinct rows == the old
    // countDistinct(item) exactly (both skip nulls) — but the plan drops the
    // mixed distinct/non-distinct Expand (which streamed every event row
    // twice through a 3-level aggregate) for two plain hash aggregations,
    // and the per-row MD5 digest runs once per distinct item instead of
    // once per event row (guide §2.3: aggregate before you shuffle).
    // one projection, so no internal column can shadow a caller's column
    val dedup = df
      .select(kcols :+ (tsSec - pmod(tsSec, lit(bucketSeconds))).as("bucket_start") :+
        col(itemCol).as("_sd_item"): _*)
      .distinct()
    val bucketed = dedup
      .groupBy(kcols :+ col("bucket_start"): _*)
      .agg(hllSketch(col("_sd_item")).as("_regs"),
        count(col("_sd_item")).as("bucket_distinct"))
    val w = Window.partitionBy(kcols: _*)
      .orderBy(col("bucket_start"))
      .rangeBetween(-(k - 1) * bucketSeconds, 0)
    bucketed
      .withColumn("_wregs", hllMerge(col("_regs")).over(w))
      .withColumn("window_distinct_est", hllEstimate(col("_wregs")))
      .drop("_regs", "_wregs")
  }
}
