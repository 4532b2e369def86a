package graft.plans

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}
import graft.functions.Hier
import graft.operators.Rollup

/** Checkpoint-resumable retention-tier pipeline with per-partition lineage +
  * metrics — the orchestration layer of the north rule.
  *
  * Physical layout (Iceberg-style partitioning emulated on Parquet — no
  * Iceberg jar on this box, SURVEY.md §7.5):
  * {{{
  *   <root>/tier_1m/day=YYYY-MM-DD/host_bucket=NN/part-....parquet
  *   <root>/tier_5m/...   tier_1h/...   tier_1d/...
  *   <root>/_lineage/part-....parquet   // append-only checkpoint + metrics
  * }}}
  *
  * Resumability contract: a (tier, day, host_bucket) partition is the unit of
  * work. A lineage row with status=complete is written ONLY after the
  * partition's data is fully on disk; a killed job therefore replays exactly
  * the partitions with no lineage row. Replays are idempotent because data
  * writes use dynamic-partition overwrite (each rewrite replaces the whole
  * partition, never appends into it).
  *
  * Scale design:
  *   - "which partitions are done" has one answer: a driver-side snapshot of
  *     the lineage table ([[snapshot]]), read once per [[buildAll]]. Lineage
  *     holds one row per partition event, so the snapshot is bounded by
  *     partition count, never by data. Every pending question (the raw cut,
  *     each promotion's pending set, retention, invalidation, stream pruning,
  *     the hot/cold split) is a set operation on it, and reaches the data as
  *     a (day, host_bucket) predicate ([[partIn]]) — over a stored tier's
  *     partition columns that predicate prunes at the directory level.
  *   - promotion reads ONLY the finer tier (already rolled up, ~1/60th the
  *     data), and only its partitions in complete(finer) − complete(tier).
  *   - a coarser bucket never spans a day or a host_bucket, so promotion is
  *     closed per partition — partitions can be (re)built independently and
  *     in parallel, which is what makes partition-granular resume sound.
  *   - metrics ride the same pass as the data write (one extra small agg),
  *     giving per-partition row counts + measure checksums for drift checks.
  *   - every cascade tier is read with one declared schema ([[tierSchema]]),
  *     derived from [[Rollup]]'s columns. A read plans with no Spark job:
  *     there is no schema-inference job over the files' footers, and `day`
  *     comes back as the lineage's yyyy-MM-dd string, not an inferred DATE.
  *     The stream tier (`graft.streaming.StreamingIngest`) has the same
  *     layout and is read with the same schema.
  *   - `day` is `Rollup.dayOf(bucket_start)`, the UTC day whatever the
  *     session time zone, so a time range is also a day range:
  *     `Rollup.readRange`, `Rollup.readSeries` and the [[routes]] prune a
  *     [[readTier]] frame to the range's day directories.
  *
  * One writer per root: nothing locks `_lineage`, so [[buildAll]],
  * [[enforceRetention]], [[invalidateLate]] and [[compact]] on one root must
  * not run concurrently.
  */
object TierPipeline {

  /** A store at `root`, grouped by the page hierarchy
    * ([[graft.functions.Hier.Levels]]), each tier's rows spread over
    * `hostBuckets` host directories per day.
    */
  case class Config(root: String, hostBuckets: Int = 8)

  /** A (day, host_bucket) partition of a tier; `day` is yyyy-MM-dd. */
  type Part = (String, Int)

  /** One lineage row: a partition event of a tier — `complete`, `expired`,
    * `compacted`, `stream-append` or `stream-pruned` — with the partition's
    * metrics where the event has them. Its fields are the lineage schema.
    */
  case class LineageRow(tier: String, day: String, host_bucket: Int, run_id: String,
                        row_cnt: Long = 0L, page_cnt: Long = 0L, sum_len_sum: Double = 0.0,
                        status: String) {
    def part: Part = (day, host_bucket)
  }

  private val lineageEncoder = Encoders.product[LineageRow]
  private[graft] val lineageSchema: StructType = lineageEncoder.schema

  def tierPath(root: String, tier: String): String = s"$root/tier_$tier"
  def lineagePath(root: String): String = s"$root/_lineage"

  /** The FileSystem that holds `path` (not the session default), and the path. */
  private[graft] def fsPath(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private[graft] def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = fsPath(spark, path)
    fs.exists(p)
  }

  /** The lineage + metrics table; empty if nothing ran yet (no lineage
    * directory). Any other failure — an unknown filesystem, an unreadable
    * table — is thrown, never read as "nothing built".
    */
  def lineage(spark: SparkSession, root: String): DataFrame =
    if (exists(spark, lineagePath(root))) spark.read.schema(lineageSchema).parquet(lineagePath(root))
    else spark.createDataFrame(Seq.empty[LineageRow])

  /** The lineage table on the driver: the one read that every pending
    * question is answered from. Bounded by partition count.
    */
  private[graft] def snapshot(spark: SparkSession, root: String): Seq[LineageRow] =
    lineage(spark, root).as(lineageEncoder).collect().toSeq

  /** Partitions of `tier` with a `status` row in `lin`. */
  private[graft] def parts(lin: Seq[LineageRow], tier: String,
                           status: String = "complete"): Set[Part] =
    lin.collect { case r if r.tier == tier && r.status == status => r.part }.toSet

  /** Appends lineage rows as one file; no-op when empty. */
  private[graft] def appendLineage(spark: SparkSession, root: String, rows: Seq[LineageRow]): Unit =
    if (rows.nonEmpty) writeLineage(spark, rows, lineagePath(root), SaveMode.Append)

  private def writeLineage(spark: SparkSession, rows: Seq[LineageRow], path: String,
                           mode: SaveMode): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1)).write.mode(mode).parquet(path)

  /** Partition key of a host: which of `hostBuckets` directories it lands in. */
  private[graft] def hostBucket(host: Column, hostBuckets: Int): Column =
    pmod(xxhash64(host), lit(hostBuckets.toLong)).cast("int")

  private[graft] def withPartitionCols(tierDf: DataFrame, hostBuckets: Int): DataFrame =
    tierDf
      .withColumn("day", Rollup.dayOf(col("bucket_start")))
      .withColumn("host_bucket", hostBucket(col("host"), hostBuckets))

  /** The stored layout of a cascade tier: [[Rollup.tierSchema]] over the
    * page hierarchy, then the partition columns `day`
    * (yyyy-MM-dd string) and `host_bucket`.
    */
  private[graft] def tierSchema(spark: SparkSession): StructType =
    Rollup.tierSchema(spark, Hier.Levels).add("day", StringType).add("host_bucket", IntegerType)

  /** A stored cascade tier with its partition columns, read with the
    * declared [[tierSchema]]: no Spark job to plan it.
    */
  private[graft] def readStored(spark: SparkSession, cfg: Config, tier: String): DataFrame =
    spark.read.schema(tierSchema(spark)).parquet(tierPath(cfg.root, tier))

  /** The partition key of a stored tier read with [[tierSchema]]. */
  private[graft] val storedPart: Seq[Column] = Seq(col("day"), col("host_bucket"))

  /** The partition key raw pages' tier rows land under: the day of the
    * epoch second [[Rollup.tier1m]] buckets, so it is the day of the row's
    * `bucket_start` (a bucket never spans a day).
    */
  private def pagePart(cfg: Config): Seq[Column] = Seq(
    Rollup.dayOf(unix_timestamp(col("warc_ts"))).as("day"),
    hostBucket(col("host"), cfg.hostBuckets).as("host_bucket"))

  /** `key ∈ parts` for a (day, host_bucket) key; false when `parts` is
    * empty. Over [[storedPart]] it is a partition filter.
    */
  private[graft] def partIn(key: Seq[Column], parts: Set[Part]): Column =
    struct(key: _*).isin(parts.toSeq.sorted.map { case (d, hb) =>
      struct(lit(d).as("day"), lit(hb).as("host_bucket"))
    }: _*)

  private def partsOf(df: DataFrame, key: Seq[Column]): Set[Part] =
    df.select(key: _*).distinct().collect().map(r => (r.getString(0), r.getInt(1))).toSet

  /** One lineage row per (day, host_bucket) partition of `df`: its row count
    * and its page and length checksums.
    */
  private[graft] def partitionMetrics(df: DataFrame, tier: String, runId: String,
                                      status: String): Seq[LineageRow] =
    df.groupBy("day", "host_bucket")
      .agg(count(lit(1)), sum(col("cnt")), sum(col("sum_len")))
      .collect().toSeq
      .map(r => LineageRow(tier, r.getString(0), r.getInt(1), runId,
        r.getLong(2), r.getLong(3), r.getDouble(4), status))

  /** The one tier writer. `rows` are the tier rows of exactly the partitions
    * `todo`: they are written by dynamic-partition overwrite, `todo` is read
    * back from disk for the metrics, and only then are its `complete` lineage
    * rows appended — the crash-consistency point. Returns the appended rows.
    */
  private def writeParts(spark: SparkSession, rows: => DataFrame, tier: String, todo: Set[Part],
                         cfg: Config, runId: String): Seq[LineageRow] = {
    if (todo.isEmpty) return Seq.empty
    val path = tierPath(cfg.root, tier)
    withPartitionCols(rows, cfg.hostBuckets).write
      .mode(SaveMode.Overwrite)
      // dynamic partition overwrite set PER WRITE, not inherited from the
      // session: under the Spark default (static) a resume would delete ALL
      // completed partitions of the tier and rewrite only pending ones while
      // lineage still marks the deleted ones complete — silent data loss the
      // idempotent-replay contract forbids.
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day", "host_bucket")
      .parquet(path)
    // metrics from the bytes on disk verify the durable write and do not
    // evaluate the tier pipeline twice; the predicate prunes the read to
    // the written directories, so other partitions of the tier — complete
    // or orphaned — are neither read nor marked
    val done = partitionMetrics(readStored(spark, cfg, tier).filter(partIn(storedPart, todo)),
      tier, runId, "complete")
    appendLineage(spark, cfg.root, done)
    done
  }

  /** Reads a stored tier table: the tier's data columns and its `day`
    * partition column (yyyy-MM-dd string, `Rollup.dayOf(bucket_start)`);
    * `host_bucket` is dropped. `Rollup.readRange`/`readSeries` and the
    * [[routes]] prune on `day`. Planning the read runs no Spark job.
    */
  def readTier(spark: SparkSession, cfg: Config, tier: String): DataFrame =
    readStored(spark, cfg, tier).drop("host_bucket")

  /** Retention enforcement — the "retention" in retention tiers: each tier
    * keeps only its last `policy(tier)` days (e.g. 1m for 7 days, 1h for 90,
    * 1d forever = absent from the policy). Expired `day=` directories are
    * dropped whole (partition-level delete, the Iceberg `expire`-style
    * operation — no row rewrite), and an `expired` lineage row is appended
    * per dropped partition for audit.
    *
    * The original `complete` rows are kept (lineage is append-only), which
    * is what makes expiry safe against [[buildAll]]: pending-work filters
    * match on `complete`, so an expired partition is still "done" and is
    * NEVER rebuilt from raw — expiry deletes data, not progress.
    *
    * Returns tier → expired days. Idempotent: partitions already marked
    * expired are skipped.
    */
  def enforceRetention(spark: SparkSession, cfg: Config, policy: Map[String, Int],
                       today: java.time.LocalDate, runId: String): Map[String, Seq[String]] = {
    val lin = snapshot(spark, cfg.root)
    policy.map { case (tier, keepDays) =>
      val cutoff = today.minusDays(keepDays.toLong).toString // yyyy-MM-dd sorts lexically
      val todo = (parts(lin, tier) -- parts(lin, tier, "expired")).filter(_._1 < cutoff).toSeq.sorted
      val days = todo.map(_._1).distinct
      val (fs, base) = fsPath(spark, tierPath(cfg.root, tier))
      days.foreach(d => fs.delete(new Path(base, s"day=$d"), true))
      appendLineage(spark, cfg.root,
        todo.map { case (d, hb) => LineageRow(tier, d, hb, runId, status = "expired") })
      tier -> days
    }
  }

  /** Late-data invalidation — the REPLAY half of the ingest contract: pages
    * arriving after their (day, host_bucket) partitions were marked
    * complete (beyond any streaming watermark) make those tier partitions
    * stale. This computes the affected partitions from the late pages
    * themselves, removes their `complete` lineage rows for EVERY tier (the
    * cascade re-derives coarser tiers from finer), and returns the
    * invalidated set — the next [[buildAll]] over the FULL corpus then
    * replays exactly those partitions and nothing else.
    *
    * The lineage rewrite is a driver-side overwrite of the [[snapshot]].
    * Crash-safety: lineage shrinks BEFORE any data rewrite, so
    * a crash anywhere leaves partitions pending — the idempotent-replay
    * contract of [[buildAll]] finishes them on the next run; stale data
    * remains readable (never deleted here) until its rebuild overwrites it
    * partition-atomically.
    *
    * @return (day, host_bucket) partitions invalidated across all tiers
    */
  def invalidateLate(latePages: DataFrame, cfg: Config): Seq[(String, Int)] = {
    val spark = latePages.sparkSession
    val affected = partsOf(latePages, pagePart(cfg))
    if (affected.isEmpty) return Seq.empty
    val kept = snapshot(spark, cfg.root).filterNot(r => r.status == "complete" && affected(r.part))
    val tmp = lineagePath(cfg.root) + "_rewrite"
    writeLineage(spark, kept, tmp, SaveMode.Overwrite)
    val (fs, linPath) = fsPath(spark, lineagePath(cfg.root))
    fs.delete(linPath, true)
    fs.rename(new Path(tmp), linPath)
    affected.toSeq.sorted
  }

  /** Small-file compaction — the Iceberg `rewrite_data_files` analogue for
    * the emulated store: partitions whose file count exceeds
    * `maxFilesPerPartition` are rewritten in place to
    * ceil(partitionBytes / targetFileBytes) files (min 1). Many small files
    * are the natural waste product of incremental builds (every resume and
    * every streaming flush appends its own task files) and they tax every
    * later read with per-file open/footer costs — maintenance compaction is
    * what keeps a month-old store reading at day-one speed.
    *
    * Safety: a rewrite changes LAYOUT, not rows — `complete` lineage is
    * untouched (so nothing gets rebuilt), and an audit `compacted` row is
    * appended per rewritten partition. Rewrites use the same
    * dynamic-partition overwrite as [[buildAll]], so a crashed compaction
    * leaves either the old or the new layout per partition, both valid.
    *
    * Scale: the file listing is driver-side but bounded by PARTITION count
    * (one `listStatus` per partition directory of the selected tier), which
    * is the same order as the lineage [[snapshot]]; a real Iceberg catalog
    * would serve the same stats from manifests. The rewrite itself reads
    * only the selected partitions (directory-pruned) and shuffles them once
    * into per-partition slot groups.
    *
    * With `zOrderCluster = true` the rewrite also sorts each output file by
    * the Morton key of (hashed host, minute-of-day)
    * ([[graft.functions.ZOrder]]), so row-group min/max statistics are
    * bounded on BOTH read dimensions — a one-host time-range read and a
    * cross-host time-slice read each prune row groups instead of scanning
    * the partition. Same rows, same files, better layout; the sort rides
    * the compaction shuffle that was happening anyway.
    *
    * @return (day, host_bucket) partitions rewritten
    */
  def compact(spark: SparkSession, cfg: Config, tier: String,
              maxFilesPerPartition: Int, targetFileBytes: Long,
              runId: String, zOrderCluster: Boolean = false): Seq[(String, Int)] = {
    require(maxFilesPerPartition >= 1, "maxFilesPerPartition must be >= 1")
    require(targetFileBytes >= 1, "targetFileBytes must be >= 1")
    val (fs, base) = fsPath(spark, tierPath(cfg.root, tier))
    if (!fs.exists(base)) return Seq.empty
    val onDisk = for {
      dayDir <- fs.listStatus(base).toSeq
      if dayDir.isDirectory && dayDir.getPath.getName.startsWith("day=")
      hbDir <- fs.listStatus(dayDir.getPath).toSeq
      if hbDir.isDirectory && hbDir.getPath.getName.startsWith("host_bucket=")
    } yield {
      val files = fs.listStatus(hbDir.getPath).filter(f =>
        f.isFile && !f.getPath.getName.startsWith("_"))
      (dayDir.getPath.getName.stripPrefix("day="),
        hbDir.getPath.getName.stripPrefix("host_bucket=").toInt,
        files.length, files.map(_.getLen).sum)
    }
    val todo = onDisk.filter(_._3 > maxFilesPerPartition)
    if (todo.isEmpty) return Seq.empty
    val slots: Map[(String, Int), Int] = todo.map { case (d, hb, _, bytes) =>
      (d, hb) -> math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    }.toMap
    val slotFor = udf((d: String, hb: Int) => slots.getOrElse((d, hb), 1))
    val selected = readStored(spark, cfg, tier)
      .filter(partIn(storedPart, slots.keySet)) // directory-level prune
    val nTasks = math.max(1, slots.values.sum)
    val slotted = selected
      .withColumn("_slot",
        pmod(xxhash64(col("host")), slotFor(col("day"), col("host_bucket")).cast("long")).cast("int"))
      .repartition(nTasks, col("day"), col("host_bucket"), col("_slot"))
      .drop("_slot")
    // the partitioned writer re-sorts each task by the partition columns
    // unless the incoming order already starts with them — lead with
    // (day, host_bucket) so the z suffix SURVIVES the write
    val clustered =
      if (!zOrderCluster) slotted
      else slotted.sortWithinPartitions(col("day"), col("host_bucket"),
        graft.functions.ZOrder.interleave(
          pmod(xxhash64(col("host")), lit(1L << 20)),
          floor(pmod(col("bucket_start"), lit(86400L)) / lit(60L)).cast("long")))
    clustered
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day", "host_bucket")
      .parquet(tierPath(cfg.root, tier))
    appendLineage(spark, cfg.root, todo.map { case (d, hb, nFiles, bytes) =>
      LineageRow(tier, d, hb, runId, nFiles.toLong, bytes, status = "compacted")
    })
    todo.map(t => (t._1, t._2))
  }

  /** Builds / resumes the full tier cascade 1m → 5m → 1h → 1d from raw pages
    * (pages must already carry hierarchy columns). Lineage is read once, as
    * a [[snapshot]] that each tier's appended rows extend in memory; each
    * tier writes only its pending partitions through the one writer, and a
    * promotion reads exactly its pending partitions of the stored finer
    * tier. Assumes one writer per root (see the object scaladoc). Returns
    * tier → partitions written.
    */
  def buildAll(pages: DataFrame, cfg: Config, runId: String): Map[String, Seq[(String, Int)]] = {
    val spark = pages.sparkSession
    val snap = snapshot(spark, cfg.root)
    // raw pages cut to partitions without a complete 1m row BEFORE
    // aggregating: a no-op resume must not re-run the tier-1 aggregate
    // (measured: it cost more than the initial build). On a first build the
    // cut is `NOT false` and the optimizer drops it.
    val raw = pages.filter(!partIn(pagePart(cfg), parts(snap, "1m")))
    // the exact 1m partitions to write, from (warc_ts, host) only: a
    // fully-complete resume must not pay a full-width scan (text bytes
    // dominate the source) to learn nothing is pending
    val todo1m = partsOf(raw, pagePart(cfg))
    val w1m = writeParts(spark, Rollup.tier1m(raw), "1m", todo1m, cfg, runId)
    Rollup.Tiers.sliding(2).foldLeft((Map("1m" -> w1m.map(_.part)), snap ++ w1m)) {
      case ((written, lin), Seq(finer, t)) =>
        // promotion preserves (day, host_bucket): the pending partitions are
        // complete(finer) − complete(t), and the input is exactly those
        // finer partitions — an orphan finer partition (data with no lineage
        // row) sharing their day is never read
        val todo = parts(lin, finer.name) -- parts(lin, t.name)
        def input = readStored(spark, cfg, finer.name)
          .filter(partIn(storedPart, todo)).drop("day", "host_bucket")
        val w = writeParts(spark, Rollup.promote(input, t.seconds), t.name, todo,
          cfg, runId)
        (written + (t.name -> w.map(_.part)), lin ++ w)
    }._1
  }

  /** [[TierRoute]] registrations for a durable store: every stored tier
    * becomes a route over `raw` (the pages frame WITH hierarchy columns,
    * scanned from parquet), with `length(text)`/`utf8_char_count(text)`
    * measures and `count(DISTINCT lang)`. The rule reads the stored tier
    * layout itself: exact percentiles come from its `block` column,
    * distinct counts from its `lang_set`. The tier frames
    * carry their `day` partition column, so a time-bounded query reads only
    * the day directories its range covers. In a session with the engine's
    * extension ([[graft.GraftSession]]), after
    * {{{
    *   TierPipeline.routes(spark, cfg, raw).foreach(TierRoute.register)
    * }}}
    * raw-phrased aggregates are served by the coarsest eligible stored tier
    * — a daily-by-host report query reads `tier_1d` instead of the raw
    * corpus, with no change to the query.
    */
  def routes(spark: SparkSession, cfg: Config, raw: DataFrame): Seq[TierRoute.Route] =
    Rollup.Tiers.map { t =>
      TierRoute.Route(
        name = s"${cfg.root}:${t.name}",
        raw = raw, tierSeconds = t.seconds,
        tier = () => readTier(spark, cfg, t.name),
        groupCols = Hier.Levels, tsCol = "warc_ts",
        measure = TierRoute.CharLenMeasure("text"), measureNonNull = true,
        distinctCol = Some("lang"))
    }
}
