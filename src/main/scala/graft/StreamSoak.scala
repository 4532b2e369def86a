package graft

import org.apache.spark.sql.functions._

import graft.functions.Hier
import graft.operators.Rollup
import graft.plans.TierPipeline
import graft.sources.Pages
import graft.streaming.{StreamingIngest, StreamingRollup}

/** Streaming-ingest soak: pages replayed through a file-source micro-batch
  * stream → watermarked 1m aggregate (append mode, closed buckets only) →
  * [[StreamingIngest]] durable landing, then a batch-parity audit of every
  * landed bucket. Records sustained streaming throughput, the state
  * operators' memory at the last micro-batch (`state_bytes`: an open bucket
  * holds its point buffer) and end-to-end correctness of the hot layer at a
  * scale the unit specs don't reach (numbers land in BASELINE.md).
  *
  * The page corpus spans a fixed day and arrives out of ts order (Pages
  * scaladoc), so the watermark trails the max event time: buckets close
  * progressively across micro-batches and the LAST `watermark` minutes of
  * buckets stay open when the source drains — exactly the steady state of a
  * live ingest. The parity audit therefore checks landed ⊆ batch on every
  * tier column ([[Rollup.comparable]]: the block's SHA-256, the sorted lang
  * set, exact p50/p95 included).
  *
  * Usage: SPARK_GRAFT_CPUS=8 sbt "runMain graft.StreamSoak [nPages] [root]"
  */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val nPages = args.headOption.map(_.toLong).getOrElse(2000000L)
    val root = args.lift(1).getOrElse("/tmp/graft_stream_soak")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // RocksDB state store: ~756k live window-state rows at 2M pages — the
    // default HDFSBacked provider keeps state as in-memory hashmaps
    // snapshotted to delta files per batch and degrades with state size;
    // RocksDB is the production choice for large streaming state
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val srcDir = s"$root/source"
    val cfg = TierPipeline.Config(s"$root/store")

    // stage the replay corpus as many small files IN EVENT-TIME ORDER
    // (repartitionByRange on warc_ts → part-file N covers the N-th time
    // slice; the file source replays files in listing order within one
    // mtime): a live ingest (Kafka, WARC fetch log) delivers roughly
    // time-ordered data, and a watermark over a randomly-shuffled full-day
    // replay would correctly late-drop most of it — semantics the unit specs
    // cover, but useless as a throughput soak
    val filesPerTrigger = sys.env.getOrElse("SPARK_GRAFT_STREAM_FPT", "4").toInt
    // corpus minute span controls state density (pages per (host, minute)
    // bucket): 1440 ≈ 2.6 pages/bucket at 2M pages (state-bound worst case),
    // smaller spans model denser real-crawl traffic
    val minutes = sys.env.getOrElse("SPARK_GRAFT_STREAM_MINUTES", "1440").toInt
    val nFiles = 64
    Pages.synthesize(spark, nPages, seed = 43L, minutes = minutes, partitions = nFiles)
      .repartitionByRange(nFiles, col("warc_ts"))
      .sortWithinPartitions("warc_ts")
      .write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(srcDir)
    val closed = StreamingRollup.tier1mStream(
      Hier.withHierarchy(stream), watermark = "5 minutes")

    val t0 = System.nanoTime()
    val q = StreamingIngest.startTierSink(closed, cfg, s"$root/ckpt", "stream-soak")
    q.processAllAvailable()
    val stateBytes = q.lastProgress.stateOperators.map(_.memoryUsedBytes).sum
    q.stop()
    val ingestSec = (System.nanoTime() - t0) / 1e9

    // ---- parity audit: every landed bucket must equal its batch twin ----
    val landed = Rollup.comparable(
      StreamingIngest.readStreamTier(spark, cfg).drop("day", "host_bucket"))
    val batch = Rollup.comparable(Rollup.tier1m(Hier.withHierarchy(spark.read.parquet(srcDir))))
    val landedCnt = landed.count()
    val batchCnt = batch.count()
    val mismatched = landed.exceptAll(batch).count() // landed ⊆ batch, exact
    val landedPages = StreamingIngest.readStreamTier(spark, cfg)
      .agg(sum(col("cnt"))).first().getLong(0)
    val nBatches = TierPipeline.lineage(spark, cfg.root)
      .filter(col("tier") === StreamingIngest.StreamTier)
      .select("run_id").distinct().count()

    println(s"[stream-soak] {" +
      s""""pages":$nPages,"ingest_sec":${f"$ingestSec%.1f"},""" +
      s""""pages_per_sec":${(nPages / ingestSec).toLong},"state_bytes":$stateBytes,""" +
      s""""micro_batches":$nBatches,"buckets_landed":$landedCnt,""" +
      s""""buckets_batch":$batchCnt,"pages_landed":$landedPages,""" +
      s""""mismatched_buckets":$mismatched,"cpus":$cpus}""")
    spark.stop()
  }
}
