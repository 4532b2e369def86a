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
  * Measures are [[Rollup]]'s raw-point list and finishing projection, so a
  * closed bucket is the batch [[Rollup.tier1m]] row: exact p50/p95, the
  * lang set and the point block included. The state of an open bucket is
  * therefore its point buffer (as in the batch aggregate), held until the
  * watermark closes the bucket.
  */
object StreamingRollup {

  /** 1-minute streaming aggregate with [[Rollup.tierSchema]]'s columns over
    * [[graft.functions.Hier.Levels]]. `pages` must be a streaming DataFrame
    * with `warc_ts, text, lang` and the hierarchy columns already derived
    * ([[graft.functions.Hier.withHierarchy]] works on streaming frames — pure
    * projections).
    *
    * @param watermark how long to keep a bucket open for late pages; after
    *                  this delay the bucket is final and appendable downstream
    */
  def tier1mStream(pages: DataFrame, watermark: String = "5 minutes"): DataFrame = {
    val hier = Hier.Levels.map(col)
    val agg = pages.select((hier ++ (col("warc_ts") +: Rollup.pagePoints)): _*)
      .withWatermark("warc_ts", watermark)
      .groupBy((hier :+ window(col("warc_ts"), "1 minute").as("w")): _*)
      .agg(Rollup.rawPartial.head, Rollup.rawPartial.tail: _*)
    Rollup.finish(agg.select(agg.columns.toSeq.map {
      case "w" => unix_timestamp(col("w.start")).as("bucket_start")
      case c   => col(c)
    }: _*))
  }
}
