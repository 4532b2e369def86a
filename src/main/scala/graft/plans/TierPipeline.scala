package graft.plans

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
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
  *   - the pending-work filter is a broadcast anti-join against the (tiny)
  *     lineage table — no driver-side listing of a 10^12-row table.
  *   - promotion reads ONLY the finer tier (already rolled up, ~1/60th the
  *     data) and only its pending days, pruned at the parquet-directory level
  *     by the `day` partition filter.
  *   - a coarser bucket never spans a day or a host_bucket, so promotion is
  *     closed per partition — partitions can be (re)built independently and
  *     in parallel, which is what makes partition-granular resume sound.
  *   - metrics ride the same pass as the data write (one extra small agg),
  *     giving per-partition row counts + measure checksums for drift checks.
  */
object TierPipeline {

  case class Config(
      root: String,
      groupCols: Seq[String] = Seq("tld", "registered_domain", "host"),
      hostBuckets: Int = 8)

  def tierPath(root: String, tier: String): String = s"$root/tier_$tier"
  def lineagePath(root: String): String = s"$root/_lineage"

  /** Lineage schema: one row per completed partition of a tier. */
  private val lineageSchema =
    "tier string, day string, host_bucket int, run_id string, " +
      "row_cnt long, page_cnt long, sum_len_sum double, status string"

  /** The FileSystem that holds `path` (not the session default), and the path. */
  private[graft] def fsPath(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private[graft] def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = fsPath(spark, path)
    fs.exists(p)
  }

  private def lineageFrame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType.fromDDL(lineageSchema))

  /** The lineage + metrics table; empty if nothing ran yet (no lineage
    * directory). Any other failure — an unknown filesystem, an unreadable
    * table — is thrown, never read as "nothing built".
    */
  def lineage(spark: SparkSession, root: String): DataFrame =
    if (exists(spark, lineagePath(root))) spark.read.schema(lineageSchema).parquet(lineagePath(root))
    else lineageFrame(spark, Seq.empty)

  /** Appends lineage rows (in [[lineageSchema]] order); no-op when empty. */
  private[graft] def appendLineage(spark: SparkSession, root: String, rows: Seq[Row]): Unit =
    if (rows.nonEmpty) lineageFrame(spark, rows).write.mode(SaveMode.Append).parquet(lineagePath(root))

  /** (day, host_bucket) partitions of `tier` with a `complete` lineage row. */
  def completed(spark: SparkSession, root: String, tier: String): DataFrame =
    lineage(spark, root)
      .filter(col("tier") === tier && col("status") === "complete")
      .select("day", "host_bucket")

  /** Partition key of a host: which of `hostBuckets` directories it lands in. */
  private[graft] def hostBucket(host: Column, hostBuckets: Int): Column =
    pmod(xxhash64(host), lit(hostBuckets.toLong)).cast("int")

  private[graft] def withPartitionCols(tierDf: DataFrame, hostBuckets: Int): DataFrame =
    tierDf
      .withColumn("day", date_format(timestamp_seconds(col("bucket_start")), "yyyy-MM-dd"))
      .withColumn("host_bucket", hostBucket(col("host"), hostBuckets))

  /** Writes the pending (not-yet-complete) partitions of one tier:
    * dynamic-partition overwrite of the data, then metrics+lineage append.
    * Returns the (day, host_bucket) partitions written.
    */
  def writeTier(tierDf: DataFrame, tier: String, cfg: Config, runId: String): Seq[(String, Int)] = {
    val done = completed(tierDf.sparkSession, cfg.root, tier)
    writePending(withPartitionCols(tierDf, cfg.hostBuckets)
      .join(broadcast(done), Seq("day", "host_bucket"), "left_anti"), done, tier, cfg, runId)
  }

  /** The write half of [[writeTier]], for tier rows already cut to pending
    * partitions (`pending` carries the partition columns; `done` is the
    * tier's [[completed]] frame the cut was made against).
    */
  private def writePending(pending: DataFrame, done: DataFrame, tier: String, cfg: Config,
                           runId: String): Seq[(String, Int)] = {
    val spark = pending.sparkSession
    pending.write
      .mode(SaveMode.Overwrite)
      // dynamic partition overwrite set PER WRITE, not inherited from the
      // session: under the Spark default (static) a resume would delete ALL
      // completed partitions of the tier and rewrite only pending ones while
      // lineage still marks the deleted ones complete — silent data loss the
      // idempotent-replay contract forbids.
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day", "host_bucket")
      .parquet(tierPath(cfg.root, tier))

    // metrics are computed from the bytes actually on disk (verifies the
    // durable write, and avoids evaluating the tier pipeline twice); lineage
    // is appended AFTER the data write — the crash-consistency point
    val doneLocal = done.collect().map(r => (r.getString(0), r.getInt(1))).toSet
    // read back only days that are not fully complete — a literal day filter
    // prunes at the partition-directory level, so a no-op resume reads no
    // tier data at all
    val fullDays = doneLocal.groupBy(_._1)
      .collect { case (d, ps) if ps.size >= cfg.hostBuckets => d }.toSeq
    val metrics = spark.read.parquet(tierPath(cfg.root, tier))
      .filter(if (fullDays.isEmpty) lit(true) else !col("day").isin(fullDays: _*))
      // partition-type inference reads day= dirs back as DATE; lineage keys
      // are canonical yyyy-MM-dd strings
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
      .groupBy(col("day"), col("host_bucket"))
      .agg(count(lit(1)).as("row_cnt"), sum(col("cnt")).as("page_cnt"),
        sum(col("sum_len")).as("sum_len_sum"))
      .collect()
      .filterNot(r => doneLocal.contains((r.getAs[String]("day"), r.getAs[Int]("host_bucket"))))
    if (metrics.isEmpty) return Seq.empty

    appendLineage(spark, cfg.root, metrics.toSeq.map(r => Row(
      tier, r.getAs[String]("day"), r.getAs[Int]("host_bucket"), runId,
      r.getAs[Long]("row_cnt"), r.getAs[Long]("page_cnt"),
      r.getAs[Double]("sum_len_sum"), "complete")))

    metrics.map(r => (r.getAs[String]("day"), r.getAs[Int]("host_bucket"))).toSeq
  }

  /** Reads a stored tier table (data columns only, partition cols dropped). */
  def readTier(spark: SparkSession, cfg: Config, tier: String): DataFrame =
    spark.read.parquet(tierPath(cfg.root, tier)).drop("day", "host_bucket")

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
    policy.map { case (tier, keepDays) =>
      val cutoff = today.minusDays(keepDays.toLong).toString // yyyy-MM-dd sorts lexically
      // lineage is tiny (one row per partition ever completed) — the collect
      // is bounded by partition count, not data
      val expired = lineage(spark, cfg.root)
        .filter(col("tier") === tier && col("status") === "expired")
        .select("day", "host_bucket").collect()
        .map(r => (r.getString(0), r.getInt(1))).toSet
      val todo = completed(spark, cfg.root, tier).filter(col("day") < lit(cutoff))
        .distinct().collect()
        .map(r => (r.getString(0), r.getInt(1)))
        .filterNot(expired)
      val days = todo.map(_._1).distinct.sorted.toSeq
      val (fs, base) = fsPath(spark, tierPath(cfg.root, tier))
      days.foreach(d => fs.delete(new Path(base, s"day=$d"), true))
      appendLineage(spark, cfg.root,
        todo.toSeq.map { case (d, hb) => Row(tier, d, hb, runId, 0L, 0L, 0.0, "expired") })
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
    * The lineage rewrite is a driver-side overwrite of a table bounded by
    * partition count (the same order every other pipeline step already
    * collects). Crash-safety: lineage shrinks BEFORE any data rewrite, so
    * a crash anywhere leaves partitions pending — the idempotent-replay
    * contract of [[writeTier]] finishes them on the next run; stale data
    * remains readable (never deleted here) until its rebuild overwrites it
    * partition-atomically.
    *
    * @return (day, host_bucket) partitions invalidated across all tiers
    */
  def invalidateLate(latePages: DataFrame, cfg: Config): Seq[(String, Int)] = {
    val spark = latePages.sparkSession
    val affected = latePages
      .select(date_format(col("warc_ts"), "yyyy-MM-dd").as("day"),
        hostBucket(col("host"), cfg.hostBuckets).as("host_bucket"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    if (affected.isEmpty) return Seq.empty
    val lin = lineage(spark, cfg.root)
    val kept = lin.collect().filterNot { r =>
      r.getString(7) == "complete" && affected.contains((r.getString(1), r.getInt(2)))
    }
    val tmp = lineagePath(cfg.root) + "_rewrite"
    lineageFrame(spark, kept.toSeq).write.mode(SaveMode.Overwrite).parquet(tmp)
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
    * dynamic-partition overwrite as [[writeTier]], so a crashed compaction
    * leaves either the old or the new layout per partition, both valid.
    *
    * Scale: the file listing is driver-side but bounded by PARTITION count
    * (one `listStatus` per partition directory of the selected tier), which
    * is the same order as the lineage table the pipeline already collects;
    * a real Iceberg catalog would serve the same stats from manifests. The
    * rewrite itself reads only the selected partitions (directory-pruned)
    * and shuffles them once into per-partition slot groups.
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
    val parts = for {
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
    val todo = parts.filter(_._3 > maxFilesPerPartition)
    if (todo.isEmpty) return Seq.empty
    val slots: Map[(String, Int), Int] = todo.map { case (d, hb, _, bytes) =>
      (d, hb) -> math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    }.toMap
    val days = todo.map(_._1).distinct
    val slotFor = udf((d: String, hb: Int) => slots.getOrElse((d, hb), 1))
    val keyIn = todo.map { case (d, hb, _, _) => s"$d/$hb" }.toSet
    val keyInUdf = udf((d: String, hb: Int) => keyIn.contains(s"$d/$hb"))
    val selected = spark.read.parquet(tierPath(cfg.root, tier))
      .filter(col("day").isin(days: _*)) // directory-level prune
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
      .filter(keyInUdf(col("day"), col("host_bucket")))
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
      Row(tier, d, hb, runId, nFiles.toLong, bytes, 0.0, "compacted")
    })
    todo.map(t => (t._1, t._2))
  }

  /** Builds / resumes the full tier cascade 1m → 5m → 1h → 1d from raw pages
    * (pages must already carry hierarchy columns). Each tier writes only its
    * pending partitions; promotion reads the stored finer tier, pruned to the
    * days that still have pending work. Returns tier → partitions written.
    */
  def buildAll(pages: DataFrame, cfg: Config, runId: String): Map[String, Seq[(String, Int)]] = {
    val spark = pages.sparkSession
    // prune raw pages to PENDING partitions BEFORE aggregating: the
    // writeTier anti-join alone would re-run the whole tier-1 aggregate on a
    // fully-complete table just to discover nothing is pending (measured: a
    // no-op resume cost more than the initial build). The row-level
    // (day, host_bucket) predicate is cheap derived-column arithmetic; on a
    // day-partitioned source table the day side additionally prunes the scan.
    val done1m = completed(spark, cfg.root, "1m")
    val done1mKeys = done1m.toDF("_day", "_hb")
    def withKeys(df: DataFrame): DataFrame = df
      .withColumn("_day", date_format(col("warc_ts"), "yyyy-MM-dd"))
      .withColumn("_hb", hostBucket(col("host"), cfg.hostBuckets))
    // cheap pending probe FIRST, on (warc_ts, host) only: a fully-complete
    // resume must not pay a full-width scan (text bytes dominate the source)
    // just to learn nothing is pending. take(1) short-circuits as soon as
    // one pending row is found, so the probe is ~free when work exists; on a
    // day-partitioned source the day predicate additionally prunes dirs.
    val anyPending = withKeys(pages.select("warc_ts", "host"))
      .join(broadcast(done1mKeys), Seq("_day", "_hb"), "left_anti")
      .take(1).nonEmpty
    val w1 = if (!anyPending) Seq.empty[(String, Int)] else {
      val pending = withKeys(pages)
        .join(broadcast(done1mKeys), Seq("_day", "_hb"), "left_anti")
        .drop("_day", "_hb")
      // single-phase aggregate: salting cannot split one hot (host, minute)
      // group (see Rollup's scaladoc); measured 10% slower at 32M pages
      // (BASELINE.md, TierPipeline soak). The raw cut above is this write's
      // only lineage anti-join: a tier row's (day, host_bucket) is its
      // pages' (_day, _hb), so a second cut on the tier rows drops nothing.
      writePending(withPartitionCols(Rollup.tier1m(pending, cfg.groupCols), cfg.hostBuckets),
        done1m, "1m", cfg, runId)
    }
    val written = Rollup.Tiers.tail.foldLeft(Map("1m" -> w1)) { case (acc, t) =>
      val finerName = Rollup.Tiers(Rollup.Tiers.indexWhere(_.name == t.name) - 1).name
      // promotion preserves (day, host_bucket), so this tier's partition
      // domain == the finer tier's lineage; pending = finer lineage minus this
      // tier's complete lineage. Reading only pending DAYS is exact
      // directory-level partition pruning (the per-partition anti-join inside
      // writeTier then trims to exact (day, host_bucket) granularity).
      val pendingDays = completed(spark, cfg.root, finerName)
        .join(completed(spark, cfg.root, t.name), Seq("day", "host_bucket"), "left_anti")
        .select("day").distinct().collect().map(_.getString(0)).toSeq
      if (pendingDays.isEmpty) acc + (t.name -> Seq.empty)
      else {
        val finer = spark.read.parquet(tierPath(cfg.root, finerName))
          .filter(col("day").isin(pendingDays: _*))
          .drop("day", "host_bucket")
        val promoted = Rollup.promote(finer, t.seconds, cfg.groupCols)
        acc + (t.name -> writeTier(promoted, t.name, cfg, runId))
      }
    }
    written
  }

  /** [[TierRoute]] registrations for a durable store: every stored tier
    * becomes a route over `raw` (the pages frame WITH hierarchy columns,
    * scanned from parquet), with `length(text)`/`utf8_char_count(text)`
    * measures, exact percentiles via the Gorilla block column, and
    * `count(DISTINCT lang)` via the per-bucket lang sets. After
    * {{{
    *   TierRoute.install(spark)
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
        groupCols = cfg.groupCols, tsCol = "warc_ts",
        measure = TierRoute.CharLenMeasure("text"), measureNonNull = true,
        cntCol = "cnt", sumCol = "sum_len", minCol = "min_len", maxCol = "max_len",
        blockCol = Some("block"), distinctCol = Some(("lang", "lang_set")))
    }
}
