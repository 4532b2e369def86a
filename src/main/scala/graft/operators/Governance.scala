package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Hashing.md5Long

/** Privacy-guarded aggregate release — the governance gate between a raw
  * corpus and published statistics (per-source counts in a transparency
  * report, shared eval-set breakdowns).
  *
  * Not in the reference; the web-corpus extension beside the scrub/redact
  * ops (q67/q194). Two public mechanisms composed:
  *   - k-anonymity small-cell suppression (Sweeney 2002): groups with
  *     fewer than `minGroupSize` rows are withheld entirely — the cells
  *     that would re-identify.
  *   - bounded integer noise on the surviving counts, derived from a
  *     content hash (uniform on [-noiseBound, +noiseBound]) and clamped at
  *     the suppression floor. Uniform-bounded rather than Laplace BY
  *     DESIGN here: the release stays integer-exact so an auditing engine
  *     reproduces it bit-for-bit (the md5 contract of
  *     [[graft.functions.Hashing]]) — swap the noise map for a discrete
  *     Laplace sampler when formal ε-DP is the requirement; the
  *     suppression/clamp/release plumbing is identical.
  *
  * Scale: one map-side-combined count on the group keys, then pure
  * projection — no second shuffle, nothing collected.
  */
object Governance {

  /** Release noisy counts per group: true count → suppress (< minGroupSize)
    * → add hash-seeded noise in [-noiseBound, +noiseBound] → clamp to
    * minGroupSize so the noise itself can never leak a suppressed-adjacent
    * cell below the floor. Output: group cols + released_count.
    */
  def noisyCountRelease(df: DataFrame, groupCols: Seq[String],
                        minGroupSize: Long, noiseBound: Long,
                        seed: String): DataFrame = {
    require(minGroupSize >= 1, s"minGroupSize must be >= 1, got $minGroupSize")
    require(noiseBound >= 0, s"noiseBound must be >= 0, got $noiseBound")
    val counts = df.groupBy(groupCols.map(col): _*).agg(count(lit(1)).as("_true"))
      .filter(col("_true") >= minGroupSize)
    val noise = pmod(
      md5Long(concat_ws(":", lit(seed) +: groupCols.map(c => col(c).cast("string")): _*)),
      lit(2 * noiseBound + 1)) - noiseBound
    counts.select((groupCols.map(col) :+
      greatest(col("_true") + noise, lit(minGroupSize)).as("released_count")): _*)
  }

  /** Benford first-digit expectations log10(1 + 1/d), d = 1..9, as FIXED
    * 12-dp literals — both the engine and any SQL oracle consume these
    * exact constants, so no transcendental is evaluated at query time
    * (JVM StrictMath vs libm last-ulp noise cannot appear).
    */
  val BenfordExpected: Seq[(Int, Double)] = Seq(
    1 -> 0.301029995664, 2 -> 0.176091259056, 3 -> 0.124938736608,
    4 -> 0.096910013008, 5 -> 0.079181246048, 6 -> 0.066946789631,
    7 -> 0.057991946978, 8 -> 0.051152522447, 9 -> 0.045757490561)

  /** Benford's-law first-significant-digit audit of a positive INTEGER
    * measure (Benford 1938; Nigrini's fraud-screen use is the governance
    * application: a synthetic or tampered measure column drifts from the
    * log-curve). One row per digit 1..9 with the observed count, observed
    * share, expected share, and the digit's Pearson χ² term
    * (obs−exp)²/exp on counts — sum the column for the full statistic.
    *
    * Integer-exact everywhere: the digit is the first character of the
    * decimal rendering (no log10), counts are longs, and the three float
    * outputs are fixed-order IEEE arithmetic on those longs. One
    * map-side-combined count on a 9-value key; the expected curve joins in
    * as a 9-row literal frame.
    */
  /** Cross-source syndication matrix: for every source pair, how many
    * distinct content digests appear in BOTH — the "who republishes whom"
    * corpus-governance view (syndication networks inflate dedup rates and
    * poison per-source quality stats if unnoticed). One distinct
    * (source, digest) pass, one shared-digest self-join (bounded by
    * content that actually duplicates — unique content never joins), one
    * count.
    */
  def syndicationMatrix(df: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val d = df.select(col(srcCol).as("src"), md5(col(textCol)).as("_dig"))
      .distinct()
      .localCheckpoint() // consumed twice (both self-join sides)
    d.toDF("src_a", "_dig").join(d.toDF("src_b", "_dig"), "_dig")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
  }

  def benfordDigits(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    val expected = spark.createDataFrame(BenfordExpected.map {
      case (d, e) => (d, e)
    }).toDF("digit", "expected_share")
    val counts = df
      .filter(col(valueCol) >= 1)
      .select(substring(col(valueCol).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum(col("cnt")).as("n_total"))
    expected.join(counts, Seq("digit"), "left")
      .na.fill(0L, Seq("cnt"))
      .crossJoin(tot)
      .withColumn("share", col("cnt").cast("double") / col("n_total").cast("double"))
      .withColumn("chi2_term", {
        val exp = col("expected_share") * col("n_total").cast("double")
        (col("cnt").cast("double") - exp) * (col("cnt").cast("double") - exp) / exp
      })
      .select(col("digit"), col("cnt"), col("share"),
        col("expected_share"), col("chi2_term"))
  }
}
