package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.functions.Hier
import graft.operators.Rollup
import graft.streaming.StreamingRollup

/** Streaming 1m aggregate == batch 1m aggregate on the same pages, on every
  * tier column (exact percentiles, lang set and point block included),
  * including a late-arrival update within watermark.
  */
case class StreamPage(url: String, warc_ts: Timestamp, text: String, lang: String)

class StreamingRollupSpec extends SparkSuite {
  import spark.implicits._
  type Page = StreamPage
  val Page = StreamPage

  private def ts(minute: Int, sec: Int): Timestamp =
    new Timestamp((1704067200L + minute * 60L + sec) * 1000L)

  test("streaming tier1m matches batch aggregation incl. late data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Page]
    val stream = StreamingRollup.tier1mStream(Hier.withHierarchy(mem.toDF()))
    val q = stream.writeStream.format("memory").queryName("t1m_stream")
      .outputMode("complete").start()
    try {
      val batch1 = Seq(
        Page("https://w1.site1.com/p/1", ts(0, 5), "aaaa", "en"),
        Page("https://w1.site1.com/p/2", ts(0, 30), "bb", "de"),
        Page("https://w2.site2.org/p/3", ts(1, 0), "cccccc", "en"))
      mem.addData(batch1: _*)
      q.processAllAvailable()
      // late page for minute 0 arrives in a later micro-batch (within watermark)
      val late = Page("https://w1.site1.com/p/4", ts(0, 59), "dddddddd", "fr")
      mem.addData(late)
      q.processAllAvailable()

      val streamed = tierRows(spark.table("t1m_stream"))
      assert(streamed === tierRows(Rollup.tier1m(Hier.withHierarchy((batch1 :+ late).toDF()))))
      // the late row really landed in the minute-0 bucket
      val m0 = spark.table("t1m_stream")
        .filter(col("host") === "w1.site1.com" && col("bucket_start") === 1704067200L)
        .collect().head
      assert(m0.getAs[Long]("cnt") === 3L && m0.getAs[Double]("sum_len") === 14.0)
    } finally q.stop()
  }

  test("streaming HLL sketch registers are byte-identical to batch on the same pages") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Hll
    val mem = MemoryStream[Page]
    // the sketch column rides a regular watermarked window aggregate — the
    // tier-1m shape with a mergeable-summary measure; register max is
    // order-independent, so stream (incremental merges across micro-batches)
    // and batch produce the SAME bytes
    val stream = Hier.withHierarchy(mem.toDF())
      .withWatermark("warc_ts", "5 minutes")
      .groupBy(col("host"), window(col("warc_ts"), "1 minute").as("w"))
      .agg(Hll.hllSketch(col("lang")).as("regs"))
      .withColumn("bucket_start", unix_timestamp(col("w.start"))).drop("w")
    val q = stream.writeStream.format("memory").queryName("hll_stream")
      .outputMode("complete").start()
    try {
      mem.addData(
        Page("https://w1.site1.com/p/1", ts(0, 5), "aa", "en"),
        Page("https://w1.site1.com/p/2", ts(0, 20), "bb", "de"))
      q.processAllAvailable()
      mem.addData( // second micro-batch merges INTO the same bucket's state
        Page("https://w1.site1.com/p/3", ts(0, 40), "cc", "fr"),
        Page("https://w1.site1.com/p/4", ts(0, 50), "dd", "en"))
      q.processAllAvailable()
      val streamed = spark.table("hll_stream")
        .select("host", "bucket_start", "regs").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getAs[Array[Byte]](2)).toMap
      val batchPages = Seq(
        Page("https://w1.site1.com/p/1", ts(0, 5), "aa", "en"),
        Page("https://w1.site1.com/p/2", ts(0, 20), "bb", "de"),
        Page("https://w1.site1.com/p/3", ts(0, 40), "cc", "fr"),
        Page("https://w1.site1.com/p/4", ts(0, 50), "dd", "en"))
      val batch = Hier.withHierarchy(batchPages.toDF())
        .groupBy(col("host"), window(col("warc_ts"), "1 minute").as("w"))
        .agg(Hll.hllSketch(col("lang")).as("regs"))
        .withColumn("bucket_start", unix_timestamp(col("w.start")))
        .select("host", "bucket_start", "regs").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getAs[Array[Byte]](2)).toMap
      assert(streamed.keySet === batch.keySet && streamed.nonEmpty)
      streamed.foreach { case (k, regs) =>
        assert(java.util.Arrays.equals(regs, batch(k)), s"registers differ at $k") }
      // and the estimate sees all 3 distinct langs
      val est = graft.functions.Hll.estimate(streamed.values.head)
      assert(math.abs(est - 3.0) < 0.2)
    } finally q.stop()
  }

  test("append mode emits a bucket only after the watermark closes it") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Page]
    val stream = StreamingRollup.tier1mStream(
      Hier.withHierarchy(mem.toDF()), watermark = "2 minutes")
    val q = stream.writeStream.format("memory").queryName("t1m_append")
      .outputMode("append").start()
    try {
      mem.addData(Page("https://w1.site1.com/p/1", ts(0, 10), "aaaa", "en"))
      q.processAllAvailable()
      // watermark still at minute 0 - 2m: nothing finalized yet
      assert(spark.table("t1m_append").count() === 0)
      // event time advances far enough to close minute 0's bucket
      mem.addData(Page("https://w1.site1.com/p/2", ts(10, 0), "bb", "de"))
      q.processAllAvailable()
      mem.addData(Page("https://w1.site1.com/p/3", ts(20, 0), "cc", "fr"))
      q.processAllAvailable()
      val rows = spark.table("t1m_append").collect()
      assert(rows.exists(r => r.getAs[Long]("bucket_start") === 1704067200L
        && r.getAs[Long]("cnt") === 1L && r.getAs[Double]("sum_len") === 4.0))
      // a late page for the CLOSED minute-0 bucket is dropped, not re-emitted
      mem.addData(Page("https://w1.site1.com/p/4", ts(0, 30), "dddd", "en"))
      mem.addData(Page("https://w1.site1.com/p/5", ts(30, 0), "e", "en"))
      q.processAllAvailable()
      val m0 = spark.table("t1m_append")
        .filter(col("bucket_start") === 1704067200L).collect()
      assert(m0.length === 1 && m0.head.getAs[Long]("cnt") === 1L)
    } finally q.stop()
  }

  test("append mode: every watermark-CLOSED bucket equals the batch tier1m row") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Page]
    // watermark wider than the 0-4m data span: rows from any micro-batch
    // land in still-open buckets (no drops), and the final future page then
    // closes them all — so closed-bucket output must equal batch exactly
    val stream = StreamingRollup.tier1mStream(
      Hier.withHierarchy(mem.toDF()), watermark = "10 minutes")
    val q = stream.writeStream.format("memory").queryName("t1m_parity")
      .outputMode("append").start()
    try {
      // pages spread over minutes 0-4 across two hosts, added across several
      // micro-batches (exercises partial-state merge), then a far-future page
      // advances the watermark past every bucket
      val pages = (0 until 20).map { i =>
        Page(s"https://w${i % 2}.site${i % 2}.com/p/$i", ts(i % 5, (i * 7) % 60),
          "x" * (1 + i % 9), Seq("en", "de", "fr")(i % 3))
      }
      pages.grouped(7).foreach { g => mem.addData(g: _*); q.processAllAvailable() }
      mem.addData(Page("https://w0.site0.com/p/zz", ts(60, 0), "y", "en"))
      q.processAllAvailable()

      val parity = spark.table("t1m_parity")
      assert(parity.columns.toSeq === Rollup.tierSchema(spark, Hier.Levels).fieldNames.toSeq)
      // the 0-4m buckets, all closed
      val closed = tierRows(parity.filter(col("bucket_start") < 1704067200L + 5 * 60))
      val batch = tierRows(Rollup.tier1m(Hier.withHierarchy(pages.toDF())))
      // every 0-4m bucket was emitted exactly once and matches batch §2.4 on
      // every column: exact p50/p95, lang_card, sorted lang_set, block SHA
      assert(closed === batch)
    } finally q.stop()
  }
}
