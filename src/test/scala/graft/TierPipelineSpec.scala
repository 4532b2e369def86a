package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ListenerShim
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import graft.functions.Hier
import graft.operators.Rollup
import graft.plans.TierPipeline
import graft.plans.TierPipeline.Config
import graft.sources.Pages

/** Checkpoint-resume semantics of the tier pipeline (SURVEY.md §5.2 item 6):
  * kill mid-promotion (simulated by dropping lineage rows + partition dirs),
  * re-run, assert only unfinished partitions recompute and the final tables
  * equal a direct computation.
  */
class TierPipelineSpec extends SparkSuite {

  private def freshRoot(): String = {
    val p = Files.createTempDirectory("graft_tiers_")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def rmrf(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).forEach(rmrf(_))
    Files.deleteIfExists(p)
  }

  /** Replaces the lineage table with its rows that pass `keep`, as a crash
    * that never appended the others would have left it.
    */
  private def rewriteLineage(root: String)(keep: Row => Boolean): Unit = {
    val rows = TierPipeline.lineage(spark, root).collect().filter(keep)
    rmrf(Paths.get(TierPipeline.lineagePath(root)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), TierPipeline.lineageSchema)
      .write.parquet(TierPipeline.lineagePath(root))
  }

  // 3 days of simulated crawl: the resume granularity is (day, host_bucket),
  // so the partition domain must span several days to be meaningful
  private lazy val pages = Hier.withHierarchy(
    Pages.synthesize(spark, 30000L, seed = 7L, minutes = 3 * 1440))

  test("buildAll writes all tiers with lineage, and is a no-op when complete") {
    val cfg = Config(freshRoot(), hostBuckets = 4)
    val w1 = TierPipeline.buildAll(pages, cfg, runId = "run1")
    assert(w1.keySet === Set("1m", "5m", "1h", "1d"))
    assert(w1.values.forall(_.nonEmpty))
    // stored 1m tier == the in-memory tier1m, row for row: block bytes,
    // lang set (order-free) and every derived measure
    def rows1m(df: DataFrame): DataFrame = df.select(col("tld"), col("registered_domain"),
      col("host"), col("bucket_start"), col("cnt"), col("sum_len"), col("min_len"), col("max_len"),
      col("mean_len"), col("p50_len"), col("p95_len"), col("lang_card"),
      sort_array(col("lang_set")).as("lang_set"), sha2(col("block"), 256).as("block_sha"))
    val stored1m = rows1m(TierPipeline.readTier(spark, cfg, "1m"))
    val direct1m = rows1m(Rollup.tier1m(pages))
    assert(stored1m.count() === direct1m.count())
    assert(stored1m.exceptAll(direct1m).isEmpty && direct1m.exceptAll(stored1m).isEmpty)
    // stored 1h tier == direct promotion of the in-memory cascade
    val stored = TierPipeline.readTier(spark, cfg, "1h")
      .select("host", "bucket_start", "cnt", "sum_len", "min_len", "max_len", "p50_len", "p95_len")
    val direct = Rollup.promote(Rollup.promote(Rollup.tier1m(pages), 300L), 3600L)
      .select("host", "bucket_start", "cnt", "sum_len", "min_len", "max_len", "p50_len", "p95_len")
    assert(stored.exceptAll(direct).isEmpty && direct.exceptAll(stored).isEmpty)
    // lineage has metrics for every written partition
    val lin = TierPipeline.lineage(spark, cfg.root)
    assert(lin.filter(col("row_cnt") <= 0).count() === 0)
    assert(lin.count() === w1.values.map(_.size).sum)
    // second run: everything complete -> nothing recomputed
    val w2 = TierPipeline.buildAll(pages, cfg, runId = "run2")
    assert(w2.values.forall(_.isEmpty))
    // no pages on a fresh root: nothing to write, no tier to read
    assert(TierPipeline.buildAll(pages.limit(0), Config(freshRoot()), "run0").values.forall(_.isEmpty))
  }

  test("declared tier schema: Rollup's tier columns plus the partition columns, as stored") {
    val cfg = Config(freshRoot(), hostBuckets = 4)
    TierPipeline.buildAll(pages, cfg, runId = "run1")
    def named(s: StructType): Seq[(String, String)] =
      s.fields.toSeq.map(f => f.name -> f.dataType.catalogString)
    val partCols = Seq("day" -> "string", "host_bucket" -> "int")
    val declared = named(TierPipeline.tierSchema(spark))
    val t1m = Rollup.tier1m(pages)
    assert(declared === named(t1m.schema) ++ partCols)
    assert(declared === named(Rollup.promote(t1m, 300L).schema) ++ partCols)
    // what schema inference reads from each stored tier's footers and
    // directories, with the DATE it infers for `day` taken as the string
    Rollup.Tiers.foreach { t =>
      val inferred = named(spark.read.parquet(TierPipeline.tierPath(cfg.root, t.name)).schema)
        .map { case ("day", "date") => "day" -> "string"; case f => f }
      assert(declared === inferred, s"tier ${t.name}")
    }
    // readTier: the data columns and `day` as the lineage's string
    val read = TierPipeline.readTier(spark, cfg, "1h")
    assert(named(read.schema) === named(t1m.schema) :+ ("day" -> "string"))
    assert(read.select("day").distinct().collect().map(_.getString(0)).toSet ===
      TierPipeline.lineage(spark, cfg.root).filter(col("tier") === "1h")
        .select("day").distinct().collect().map(_.getString(0)).toSet)
  }

  test("lineage: empty before any build, but a listing failure throws") {
    assert(TierPipeline.lineage(spark, freshRoot()).isEmpty)
    // an unreadable root must not read as "nothing built yet": invalidateLate
    // would write that empty table over _lineage and drop all build progress
    intercept[Exception](TierPipeline.lineage(spark, "nosuchfs://x/root"))
  }

  test("killed promotion resumes: only unfinished partitions recompute") {
    val cfg = Config(freshRoot(), hostBuckets = 4)
    // compare on value-stable columns (lang_set array order and block byte
    // layout are multiset-equal but order-free across runs)
    val stable = Seq("tld", "registered_domain", "host", "bucket_start", "cnt",
      "sum_len", "min_len", "max_len", "p50_len", "p95_len", "lang_card")
    TierPipeline.buildAll(pages, cfg, runId = "run1")
    val before = TierPipeline.readTier(spark, cfg, "1d")
      .select(stable.map(col): _*).collect().toSet

    // simulate a crash that lost two 1h partitions: remove their data dirs
    // and rewrite lineage without their rows (and without all 1d rows, as a
    // killed job would never have reached the coarser tier)
    val victims = TierPipeline.lineage(spark, cfg.root).filter(col("tier") === "1h").limit(2)
      .select("day", "host_bucket").collect()
      .map(r => (r.getString(0), r.getInt(1)))
    victims.foreach { case (day, hb) =>
      rmrf(Paths.get(cfg.root, "tier_1h", s"day=$day", s"host_bucket=$hb"))
    }
    rewriteLineage(cfg.root) { r =>
      r.getString(0) != "1d" &&
        !(r.getString(0) == "1h" && victims.contains((r.getString(1), r.getInt(2))))
    }

    val w = TierPipeline.buildAll(pages, cfg, runId = "run2")
    // 1m and 5m untouched; 1h recomputed exactly the victims
    assert(w("1m").isEmpty && w("5m").isEmpty)
    assert(w("1h").toSet === victims.toSet)
    assert(w("1d").nonEmpty)
    // final 1d tier identical to the pre-crash state
    val after = TierPipeline.readTier(spark, cfg, "1d")
      .select(stable.map(col): _*).collect().toSet
    assert(after === before)
  }

  test("lineage is read at most once per buildAll, and exactly once on a no-op resume") {
    val cfg = Config(freshRoot(), hostBuckets = 4)
    def readsLineage(qe: QueryExecution): Boolean = qe.analyzed.exists {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.exists(_.getName == "_lineage")
        case _ => false
      }
      case _ => false
    }
    val reads = new AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (readsLineage(qe)) reads.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = onSuccess(f, qe, 0L)
    }
    def lineageReads(body: => Any): Int = {
      ListenerShim.drain(spark)
      reads.set(0)
      body
      ListenerShim.drain(spark)
      reads.get
    }
    spark.listenerManager.register(listener)
    try {
      assert(lineageReads(TierPipeline.buildAll(pages, cfg, runId = "run1")) <= 1)
      assert(lineageReads(TierPipeline.buildAll(pages, cfg, runId = "run2")) === 1)
    } finally spark.listenerManager.unregister(listener)
  }

  test("an orphan 1m partition sharing a day with pending work is never promoted") {
    val cfg = Config(freshRoot(), hostBuckets = 4)
    TierPipeline.buildAll(pages, cfg, runId = "run1")
    // a crash left the orphan's 1m data on disk without its lineage row; the
    // pending partition of the same day lost its data and lineage at every
    // tier; the re-run has no raw pages of the orphan
    val day = "2024-01-02"
    val (orphan, pending) = ((day, 0), (day, 1))
    rewriteLineage(cfg.root)(r => !Set(orphan, pending).contains((r.getString(1), r.getInt(2))))
    Rollup.Tiers.foreach { t =>
      rmrf(Paths.get(cfg.root, s"tier_${t.name}", s"day=$day", "host_bucket=1"))
      if (t.name != "1m") rmrf(Paths.get(cfg.root, s"tier_${t.name}", s"day=$day", "host_bucket=0"))
    }
    assert(Files.exists(Paths.get(cfg.root, "tier_1m", s"day=$day", "host_bucket=0")))
    val rerun = pages.filter(!(date_format(col("warc_ts"), "yyyy-MM-dd") === day &&
      pmod(xxhash64(col("host")), lit(4L)) === 0))
    val w = TierPipeline.buildAll(rerun, cfg, runId = "run2")
    w.foreach { case (t, ps) => assert(ps.toSet === Set(pending), s"tier $t") }
    val orphanRows = TierPipeline.lineage(spark, cfg.root)
      .filter(col("day") === day && col("host_bucket") === 0)
    assert(orphanRows.isEmpty)
    Rollup.Tiers.tail.foreach { t =>
      assert(!Files.exists(Paths.get(cfg.root, s"tier_${t.name}", s"day=$day", "host_bucket=0")))
    }
  }

  test("retention expiry drops old fine-tier days but never triggers a rebuild") {
    val cfg = Config(freshRoot(), hostBuckets = 4)
    TierPipeline.buildAll(pages, cfg, runId = "run1")
    val allDays = TierPipeline.lineage(spark, cfg.root)
      .filter(col("tier") === "1m").select("day").distinct()
      .collect().map(_.getString(0)).sorted
    assert(allDays.length >= 3)
    val coarseBefore = TierPipeline.readTier(spark, cfg, "1d").count()

    // keep only the newest day of the 1m tier ("today" = day after the last)
    val today = java.time.LocalDate.parse(allDays.last).plusDays(1)
    val exp = TierPipeline.enforceRetention(spark, cfg,
      policy = Map("1m" -> 1), today = today, runId = "exp1")
    assert(exp("1m") === allDays.init.toSeq)
    // expired day dirs are gone; the kept day remains
    allDays.init.foreach { d =>
      assert(!Files.exists(java.nio.file.Paths.get(cfg.root, "tier_1m", s"day=$d")))
    }
    assert(Files.exists(java.nio.file.Paths.get(cfg.root, "tier_1m", s"day=${allDays.last}")))
    // lineage: expired rows appended, complete rows preserved
    val lin = TierPipeline.lineage(spark, cfg.root).filter(col("tier") === "1m")
    assert(lin.filter(col("status") === "expired").select("day").distinct().count()
      === allDays.init.length.toLong)
    assert(lin.filter(col("status") === "complete").select("day").distinct().count()
      === allDays.length.toLong)
    // CRITICAL: a subsequent buildAll does NOT rebuild the expired partitions
    // (expiry deletes data, not progress) and coarser tiers are untouched
    val w = TierPipeline.buildAll(pages, cfg, runId = "run2")
    assert(w.values.forall(_.isEmpty))
    assert(TierPipeline.readTier(spark, cfg, "1d").count() === coarseBefore)
    // idempotent: a second enforcement expires nothing new
    val exp2 = TierPipeline.enforceRetention(spark, cfg,
      policy = Map("1m" -> 1), today = today, runId = "exp2")
    assert(exp2("1m").isEmpty)
  }

  test("invalidateLate: late pages replay exactly their partitions through the cascade") {
    val cfg = Config(freshRoot(), hostBuckets = 4)
    // initial corpus = all but a held-back slice of one day's pages
    val all = pages.cache()
    val late = all.filter(
      date_format(col("warc_ts"), "yyyy-MM-dd") === "2024-01-02" &&
        pmod(xxhash64(col("host")), lit(4L)) === 1 &&
        pmod(xxhash64(col("url")), lit(3L)) === 0).cache()
    assert(late.count() > 0)
    val initial = all.exceptAll(late)
    TierPipeline.buildAll(initial, cfg, runId = "run1")
    // the late slice arrives after completion → invalidate + full-corpus rebuild
    val inv = TierPipeline.invalidateLate(late, cfg)
    assert(inv == Seq(("2024-01-02", 1)))
    val w = TierPipeline.buildAll(all, cfg, runId = "run2")
    // ONLY the invalidated partition rebuilt, at every tier
    w.foreach { case (_, parts) => assert(parts.toSet == Set(("2024-01-02", 1))) }
    // stored tiers now equal a direct build over the full corpus
    val direct = Rollup.allTiers(all)("1d")
      .select("host", "bucket_start", "cnt", "p95_len")
    val stored = TierPipeline.readTier(spark, cfg, "1d")
      .select("host", "bucket_start", "cnt", "p95_len")
    assert(stored.exceptAll(direct).isEmpty && direct.exceptAll(stored).isEmpty)
    // untouched partitions kept their run1 lineage (no needless rewrite)
    val lin = TierPipeline.lineage(spark, cfg.root)
    assert(lin.filter(col("status") === "complete" && col("run_id") === "run1")
      .count() > 0)
    assert(lin.filter(col("status") === "complete" && col("run_id") === "run2" &&
      !(col("day") === "2024-01-02" && col("host_bucket") === 1)).count() === 0)
    all.unpersist(); late.unpersist()
  }

  test("compact: rewrites small-file partitions in place, rows identical, idempotent") {
    val cfg = Config(freshRoot(), hostBuckets = 2)
    TierPipeline.buildAll(pages, cfg, runId = "run1")
    // fragment the 1h tier: overwrite with many tiny task files per partition
    val frag = TierPipeline.withPartitionCols(
      TierPipeline.readTier(spark, cfg, "1h"), cfg.hostBuckets)
      .repartition(24)
    frag.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day", "host_bucket")
      .parquet(TierPipeline.tierPath(cfg.root, "1h"))
    def fileCounts(): Map[(String, Int), Int] = {
      val base = java.nio.file.Paths.get(TierPipeline.tierPath(cfg.root, "1h"))
      import scala.jdk.CollectionConverters._
      Files.list(base).iterator().asScala.filter(p => p.getFileName.toString.startsWith("day=")).flatMap { d =>
        Files.list(d).iterator().asScala.filter(_.getFileName.toString.startsWith("host_bucket=")).map { hb =>
          val n = Files.list(hb).iterator().asScala
            .count(f => !f.getFileName.toString.startsWith("_") && !f.getFileName.toString.endsWith(".crc"))
          (d.getFileName.toString.stripPrefix("day="),
            hb.getFileName.toString.stripPrefix("host_bucket=").toInt) -> n
        }
      }.toMap
    }
    val before = TierPipeline.readTier(spark, cfg, "1h")
      .select("host", "bucket_start", "cnt", "sum_len").collect().map(_.toSeq).toSet
    assert(fileCounts().values.max > 4, "fixture must be fragmented")
    val rewritten = TierPipeline.compact(spark, cfg, "1h",
      maxFilesPerPartition = 4, targetFileBytes = 1L << 30, runId = "cmp1")
    assert(rewritten.nonEmpty)
    // layout: every rewritten partition is down to ~1 file (1 GiB target)
    val fcAfter = fileCounts()
    rewritten.foreach { p => assert(fcAfter(p) <= 2, s"$p still fragmented: ${fcAfter(p)}") }
    // rows byte-identical
    val after = TierPipeline.readTier(spark, cfg, "1h")
      .select("host", "bucket_start", "cnt", "sum_len").collect().map(_.toSeq).toSet
    assert(after === before)
    // lineage: audit rows appended, complete rows untouched → no rebuild
    val lin = TierPipeline.lineage(spark, cfg.root)
    assert(lin.filter(col("status") === "compacted").count() === rewritten.size.toLong)
    assert(TierPipeline.buildAll(pages, cfg, runId = "run2").values.forall(_.isEmpty))
    // idempotent: everything now under the threshold
    assert(TierPipeline.compact(spark, cfg, "1h", 4, 1L << 30, "cmp2").isEmpty)
  }

  test("compact with zOrderCluster: rows identical, files sorted by Morton key") {
    val cfg = Config(freshRoot(), hostBuckets = 2)
    TierPipeline.buildAll(pages, cfg, runId = "run1")
    val frag = TierPipeline.withPartitionCols(
      TierPipeline.readTier(spark, cfg, "1m"), cfg.hostBuckets)
      .repartition(24)
    frag.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day", "host_bucket")
      .parquet(TierPipeline.tierPath(cfg.root, "1m"))
    val before = TierPipeline.readTier(spark, cfg, "1m")
      .select("host", "bucket_start", "cnt", "sum_len").collect().map(_.toSeq).toSet
    val rewritten = TierPipeline.compact(spark, cfg, "1m",
      maxFilesPerPartition = 4, targetFileBytes = 1L << 30, runId = "cmpz",
      zOrderCluster = true)
    assert(rewritten.nonEmpty)
    val after = TierPipeline.readTier(spark, cfg, "1m")
      .select("host", "bucket_start", "cnt", "sum_len").collect().map(_.toSeq).toSet
    assert(after === before)
    // every rewritten data file is internally sorted by the Morton key
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(TierPipeline.tierPath(cfg.root, "1m"))
    val dataFiles = Files.walk(base).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("_")).toSeq
    assert(dataFiles.nonEmpty)
    dataFiles.foreach { f =>
      val zs = spark.read.parquet(f.toString)
        .select(graft.functions.ZOrder.interleave(
          pmod(xxhash64(col("host")), lit(1L << 20)),
          floor(pmod(col("bucket_start"), lit(86400L)) / lit(60L)).cast("long")).as("z"))
        .collect().map(_.getLong(0))
      assert(zs.sameElements(zs.sorted), s"file $f not z-sorted")
    }
  }
}
