package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.Hier
import graft.operators.Rollup
import graft.plans.TierPipeline
import graft.streaming.{StreamingIngest, StreamingRollup}

/** Durable streaming ingestion ([[graft.streaming.StreamingIngest]]): closed
  * buckets land in the tier-store layout exactly once, micro-batch replay is
  * idempotent, and the hot/cold serving view never double-counts a partition.
  */
class StreamingIngestSpec extends SparkSuite {
  import spark.implicits._

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    new Timestamp((1704067200L + minute * 60L + sec) * 1000L)

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** A schema's column names and SQL types: a file read reports every column
    * nullable, so nullability is left out.
    */
  private def layout(s: org.apache.spark.sql.types.StructType): Seq[(String, String)] =
    s.map(f => f.name -> f.dataType.sql)

  test("sink lands exactly the closed buckets, batch-parity, partitioned layout") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("ingest_store")
    val cfg = TierPipeline.Config(root)
    val mem = MemoryStream[StreamPage]
    val closed = StreamingRollup.tier1mStream(
      Hier.withHierarchy(mem.toDF()), watermark = "10 minutes")
    val q = StreamingIngest.startTierSink(closed, cfg, tmp("ingest_ckpt"), "runA")
    try {
      val pages = (0 until 20).map { i =>
        StreamPage(s"https://w${i % 2}.site${i % 2}.com/p/$i", ts(i % 5, (i * 7) % 60),
          "x" * (1 + i % 9), Seq("en", "de", "fr")(i % 3))
      }
      pages.grouped(7).foreach { g => mem.addData(g: _*); q.processAllAvailable() }
      mem.addData(StreamPage("https://w0.site0.com/p/zz", ts(60), "y", "en"))
      q.processAllAvailable()

      // all 0-4m buckets closed and landed, once each, equal to batch on
      // every tier column
      val stream = StreamingIngest.readStreamTier(spark, cfg)
      assert(tierRows(stream.drop("day", "host_bucket")) ===
        tierRows(Rollup.tier1m(Hier.withHierarchy(pages.toDF()))))
      // partition columns as the lineage names them: `day` a yyyy-MM-dd string
      assert(stream.schema("day").dataType === org.apache.spark.sql.types.StringType)
      assert(stream.select("day").distinct().collect().map(_.get(0)).toSeq === Seq("2024-01-01"))

      // physical layout: day= / host_bucket= / batch_id= subdirectories
      val dayDirs = new java.io.File(StreamingIngest.streamTierPath(root)).listFiles()
        .filter(_.isDirectory).map(_.getName)
      assert(dayDirs.contains("day=2024-01-01"))
      val hbDirs = new java.io.File(StreamingIngest.streamTierPath(root) + "/day=2024-01-01")
        .listFiles().filter(_.isDirectory)
      assert(hbDirs.nonEmpty && hbDirs.forall(_.getName.startsWith("host_bucket=")))
      assert(hbDirs.head.listFiles().exists(_.getName.startsWith("batch_id=")))

      // lineage audit rows rode along
      val lin = TierPipeline.lineage(spark, root)
        .filter(col("tier") === StreamingIngest.StreamTier &&
          col("status") === "stream-append")
      assert(lin.count() > 0)
      assert(lin.agg(sum(col("page_cnt"))).first().getLong(0) === pages.length.toLong)
    } finally q.stop()
  }

  test("micro-batch replay is idempotent (same batch_id overwrites itself)") {
    val root = tmp("ingest_replay")
    val cfg = TierPipeline.Config(root)
    val pages = Seq(
      StreamPage("https://a.one.com/1", ts(0, 10), "aaaa", "en"),
      StreamPage("https://b.two.com/2", ts(1, 20), "bb", "de"))
    val buckets = Rollup.tier1m(Hier.withHierarchy(pages.toDF()))

    def rows(): Seq[Seq[Any]] =
      tierRows(StreamingIngest.readStreamTier(spark, cfg).drop("day", "host_bucket"))
    StreamingIngest.ingestBatch(buckets, cfg, "runB", batchId = 7L)
    val once = rows()
    // crash-replay of the SAME micro-batch: same id, same data
    StreamingIngest.ingestBatch(buckets, cfg, "runB", batchId = 7L)
    val twice = rows()
    assert(twice === once)
    assert(once === tierRows(buckets))
    // lineage not double-appended either
    val lin = TierPipeline.lineage(spark, root)
      .filter(col("run_id") === "runB#7").collect()
    assert(lin.map(r => (r.getString(1), r.getInt(2))).distinct.length === lin.length)
  }

  test("readHot serves each partition from exactly one layer") {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("ingest_hot")
    val cfg = TierPipeline.Config(root)
    // day 1 = 2024-01-01 (minutes 0-4), day 2 = 2024-01-02 (minutes 1500-1504)
    val day1 = (0 until 10).map { i =>
      StreamPage(s"https://w$i.site${i % 3}.com/p/$i", ts(i % 5, i), "x" * (2 + i), "en")
    }
    val day2 = (0 until 10).map { i =>
      StreamPage(s"https://w$i.site${i % 3}.com/q/$i", ts(1500 + i % 5, i), "y" * (3 + i), "de")
    }

    // hot layer receives BOTH days (stream runs ahead of the batch cascade)
    val mem = MemoryStream[StreamPage]
    val closed = StreamingRollup.tier1mStream(
      Hier.withHierarchy(mem.toDF()), watermark = "10 minutes")
    val q = StreamingIngest.startTierSink(closed, cfg, tmp("hot_ckpt"), "runC")
    try {
      mem.addData(day1: _*); q.processAllAvailable()
      mem.addData(day2: _*); q.processAllAvailable()
      mem.addData(StreamPage("https://w0.site0.com/p/zz", ts(3000), "z", "en"))
      q.processAllAvailable()
    } finally q.stop()

    // cold layer has caught up through day 1 only
    TierPipeline.buildAll(Hier.withHierarchy(day1.toDF()), cfg, "cold-run")

    val served = StreamingIngest.readHot(spark, cfg)
    assert(layout(served.schema) === layout(Rollup.tierSchema(spark, Hier.Levels)))
    val expected = tierRows(Rollup.tier1m(Hier.withHierarchy((day1 ++ day2).toDF())))
    // no partition dropped, none double-counted, every tier column (exact
    // p50/p95 and blocks included) equal to batch from either layer
    assert(tierRows(served) === expected)

    // hot-layer GC: day-1 stream partitions are superseded by the cold layer
    // — pruning deletes them without changing any served result
    val prunedParts = StreamingIngest.pruneStreamTier(spark, cfg, "gc-run")
    assert(prunedParts.nonEmpty && prunedParts.forall(_._1 == "2024-01-01"))
    assert(tierRows(StreamingIngest.readHot(spark, cfg)) === expected)
    // day-1 dirs are physically gone; day-2 (hot-only) dirs remain
    val streamDays = new java.io.File(StreamingIngest.streamTierPath(root))
      .listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(!streamDays.contains("day=2024-01-01") && streamDays.contains("day=2024-01-02"))
    // idempotent: second pass finds nothing to prune
    assert(StreamingIngest.pruneStreamTier(spark, cfg, "gc-run2").isEmpty)

    // and day-1 rows really came from the cold layer: hot day-1 rows are
    // anti-joined away because batch lineage marks those partitions complete
    val hotOnly = StreamingIngest.readHot(spark, TierPipeline.Config(tmp("empty_cold")))
    assert(hotOnly.collect().isEmpty) // empty stream store + no cold layer
    assert(layout(hotOnly.schema) === layout(Rollup.tierSchema(spark, Hier.Levels)))
  }

  test("readHot over a store with no stream tier serves exactly its complete 1m rows") {
    val cfg = TierPipeline.Config(tmp("ingest_cold_only"))
    // two days, so the store has partitions on both
    val pages = (0 until 12).map { i =>
      StreamPage(s"https://w$i.site${i % 3}.com/c/$i", ts(i % 5 + 1500 * (i % 2), i),
        "c" * (1 + i), Seq("en", "de")(i % 2))
    }
    TierPipeline.buildAll(Hier.withHierarchy(pages.toDF()), cfg, "cold-only")
    assert(!TierPipeline.exists(spark, StreamingIngest.streamTierPath(cfg.root)))

    val served = StreamingIngest.readHot(spark, cfg)
    assert(layout(served.schema) === layout(Rollup.tierSchema(spark, Hier.Levels)))
    assert(tierRows(served) === tierRows(TierPipeline.readTier(spark, cfg, "1m").drop("day")))
    assert(tierRows(served) === tierRows(Rollup.tier1m(Hier.withHierarchy(pages.toDF()))))
    assert(served.count() === pages.length) // one host per page
  }
}
