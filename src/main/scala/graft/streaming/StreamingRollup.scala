package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Hier
import graft.operators.Rollup

/** Structured Streaming variant of the tier-1 continuous aggregate.
  *
  * The reference is batch-only (SURVEY.md §2.10) and the north rule requires
  * batch spark-submit jobs; this is the streaming ingestion path for the same
  * 1-minute tier: `readStream → withWatermark → window(warc_ts, "1 minute")
  * → agg`, so late pages update their bucket until the watermark closes it
  * and tier promotion (batch, [[graft.plans.TierPipeline]]) picks up only
  * closed buckets.
  *
  * Measures are the associative subset (count/sum/min/max/mean + approximate
  * lang cardinality): exact percentiles and Gorilla blocks are computed at
  * promotion time from the closed 1m buckets, exactly as the batch path
  * recomputes them from decoded blocks — streaming state stays tiny.
  */
object StreamingRollup {

  /** 1-minute streaming aggregate. `pages` must be a streaming DataFrame with
    * `warc_ts, text, lang` and the hierarchy columns already derived
    * ([[graft.functions.Hier.withHierarchy]] works on streaming frames — pure
    * projections).
    *
    * @param watermark how long to keep a bucket open for late pages; after
    *                  this delay the bucket is final and appendable downstream
    */
  def tier1mStream(pages: DataFrame, watermark: String = "5 minutes",
                   groupCols: Seq[String] = Hier.Levels): DataFrame =
    Rollup.textLen(pages)
      .withWatermark("warc_ts", watermark)
      .groupBy((groupCols.map(col) :+ window(col("warc_ts"), "1 minute").as("w")): _*)
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("text_len")).as("sum_len"),
        min(col("text_len")).as("min_len"),
        max(col("text_len")).as("max_len"),
        approx_count_distinct(col("lang")).as("lang_card_approx"))
      .withColumn("bucket_start", unix_timestamp(col("w.start")))
      .withColumn("mean_len", col("sum_len") / col("cnt"))
      .drop("w")
}
