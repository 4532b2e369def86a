package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}

import graft.plans.TierPipeline
import graft.plans.TierPipeline.{parts, partIn, snapshot, storedPart, tierSchema}

/** Durable landing of the streaming 1-minute tier into the
  * [[graft.plans.TierPipeline]] store — the ingestion half of a
  * hot/cold-layer architecture:
  *
  *   - COLD: the batch cascade (`TierPipeline.buildAll`) owns
  *     `tier_1m/` .. `tier_1d/` with exact percentiles and point blocks.
  *   - HOT: this sink lands watermark-CLOSED streaming buckets
  *     ([[StreamingRollup.tier1mStream]] in append mode) into
  *     `tier_1m_stream/` within seconds of bucket close, in the cascade
  *     tiers' layout (exact percentiles and point blocks included).
  *     [[readHot]] serves the union: batch partitions where the cold layer
  *     has caught up, streamed rows elsewhere.
  *
  * Exactly-once without a transactional table format (same constraint as
  * TierPipeline — no Iceberg/Delta jar on the box): each micro-batch writes
  * under `batch_id=<id>` subpartitions with dynamic-partition OVERWRITE.
  * Structured Streaming replays a failed micro-batch with the same id and
  * the same data (replayable source + checkpoint), so a replay overwrites
  * exactly the files the failed attempt may have half-written — append-only
  * at the dataset level, idempotent at the batch level. Lineage rows
  * (status=`stream-append`, run_id=`<runId>#<batchId>`) are appended after
  * the data write as the audit trail + replay fast-path.
  *
  * Scale notes: one closed 1m bucket per (host, minute) is tiny relative to
  * raw pages — the sink shuffles nothing (the streaming agg already grouped),
  * writes are partition-pruned appends, and the per-batch metrics collect is
  * bounded by distinct (day, host_bucket) pairs in the batch (≤ hostBuckets ×
  * days touched, not rows).
  */
object StreamingIngest {

  val StreamTier = "1m_stream"

  def streamTierPath(root: String): String = TierPipeline.tierPath(root, StreamTier)

  /** Lands one micro-batch of CLOSED 1m buckets. Public for direct batch-level
    * testing; normal entry is [[startTierSink]]. Idempotent per (runId,
    * batchId): a replay overwrites its own batch_id partitions and skips
    * lineage re-append.
    */
  def ingestBatch(closed: DataFrame, cfg: TierPipeline.Config,
                  runId: String, batchId: Long): Unit = {
    val spark = closed.sparkSession
    val batchRun = s"$runId#$batchId"
    val replayed = snapshot(spark, cfg.root).exists(r =>
      r.tier == StreamTier && r.run_id == batchRun && r.status == "stream-append")

    val part = TierPipeline.withPartitionCols(closed, cfg.hostBuckets)
      .withColumn("batch_id", lit(batchId))
      .persist() // one materialization feeds both the write and the metrics agg
    try {
      if (part.isEmpty) return
      part.write
        .mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day", "host_bucket", "batch_id")
        .parquet(streamTierPath(cfg.root))
      if (replayed) return // data re-landed idempotently; lineage already there

      TierPipeline.appendLineage(spark, cfg.root,
        TierPipeline.partitionMetrics(part, StreamTier, batchRun, "stream-append"))
    } finally part.unpersist()
  }

  /** Starts the durable sink over a CLOSED-bucket stream (i.e.
    * `StreamingRollup.tier1mStream(...)` written in append mode — update-mode
    * streams would land still-open buckets and violate the one-row-per-bucket
    * contract).
    */
  def startTierSink(closed1m: DataFrame, cfg: TierPipeline.Config,
                    checkpoint: String, runId: String,
                    trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    closed1m.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch((batch: DataFrame, id: Long) => ingestBatch(batch, cfg, runId, id))
      .start()

  /** The streamed hot tier as a DataFrame, read with the cascade tiers'
    * declared schema ([[TierPipeline.tierSchema]]: the tier columns and the
    * `day` (yyyy-MM-dd string) and `host_bucket` partition columns);
    * `batch_id` is dropped. Empty when nothing has landed yet.
    */
  def readStreamTier(spark: SparkSession, cfg: TierPipeline.Config): DataFrame =
    landed(spark, streamTierPath(cfg.root), tierSchema(spark).add("batch_id", LongType))
      .drop("batch_id")

  /** The table at `path` read with `schema`, so planning it runs no Spark
    * job; empty when nothing has been written there.
    */
  private def landed(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(Seq(path).filter(TierPipeline.exists(spark, _)): _*)

  /** Hot-layer garbage collection: once the cold cascade marks a (day,
    * host_bucket) partition complete in `tier_1m`, the streamed rows for that
    * partition are superseded — [[readHot]]'s split already ignores them,
    * so deleting them changes no query result; it only reclaims the space and
    * the small-file count that accumulate at one-directory-per-micro-batch.
    * Appends a `stream-pruned` lineage row per dropped partition for audit.
    * Idempotent; bounded by lineage size (partition count), never data size.
    *
    * Returns the pruned (day, host_bucket) partitions.
    */
  def pruneStreamTier(spark: SparkSession, cfg: TierPipeline.Config,
                      runId: String): Seq[(String, Int)] = {
    val lin = snapshot(spark, cfg.root)
    val todo = ((parts(lin, StreamTier, "stream-append") intersect parts(lin, "1m")) --
      parts(lin, StreamTier, "stream-pruned")).toSeq.sorted
    if (todo.isEmpty) return Seq.empty

    val (fs, base) = TierPipeline.fsPath(spark, streamTierPath(cfg.root))
    todo.foreach { case (d, hb) => fs.delete(new Path(base, s"day=$d/host_bucket=$hb"), true) }
    // drop day directories left empty (keeps file listings clean for readers)
    todo.map(_._1).distinct.foreach { d =>
      val dayPath = new Path(base, s"day=$d")
      if (fs.exists(dayPath) && fs.listStatus(dayPath).isEmpty) fs.delete(dayPath, true)
    }
    TierPipeline.appendLineage(spark, cfg.root, todo.map { case (d, hb) =>
      TierPipeline.LineageRow(StreamTier, d, hb, runId, status = "stream-pruned")
    })
    todo
  }

  /** Serving view over the 1m tier, with [[graft.operators.Rollup.tierSchema]]'s
    * columns: batch `tier_1m` rows for every (day, host_bucket) partition
    * the cold layer has marked complete, streamed rows for everything else.
    * Both layers carry the full tier row, so either serves exact p50/p95
    * and the point block. The split is the complete 1m set of the lineage
    * [[TierPipeline.snapshot]] taken when the frame is built, applied to
    * both layers as a partition filter — a partition is served from exactly
    * one layer, so catch-up of the cold cascade never double-counts.
    */
  def readHot(spark: SparkSession, cfg: TierPipeline.Config): DataFrame = {
    val batchDone = parts(snapshot(spark, cfg.root), "1m")
    val hot = readStreamTier(spark, cfg).filter(!partIn(storedPart, batchDone))
    // cold side restricted to lineage-COMPLETE partitions: data written by a
    // crashed batch run that never reached its lineage append must not be
    // served (it will be overwritten on resume, and its partition is still
    // served from the hot layer by the filter above)
    val cold = landed(spark, TierPipeline.tierPath(cfg.root, "1m"), tierSchema(spark))
      .filter(partIn(storedPart, batchDone))
    cold.unionByName(hot).drop("day", "host_bucket")
  }
}
