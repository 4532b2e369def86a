package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hier
import graft.operators.Rollup
import graft.plans.{TierPipeline, TierRoute}
import graft.sources.Pages
import Main.{OpResult, Workload}

/** The two workloads. Sizes are fixed here so that every run of a workload
  * does the same amount of work; only the seed changes the data.
  */
object Workloads {

  /** Pages per run of `cascade` (one simulated day). */
  val DayPages = 100000L
  /** Pages and simulated days of the `serve` store. */
  val ServePages = 100000L
  val ServeDays = 2
  /** Files of the generated page table. */
  val InputFiles = 16

  /** Shuffle partitions of each workload's session, fixed so that plans do
    * not depend on the box.
    */
  def shufflePartitions(name: String): Int = name match {
    case "cascade" => 16
    case "serve"   => 4
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "cascade" => new Cascade(spark, seed)
    case "serve"   => new Serve(spark, seed)
    case other     => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Full evaluation of every row and column; writes nothing. */
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Raw page table of `n` pages over `minutes`, as parquet under `dir`. */
  def writePages(spark: SparkSession, dir: String, n: Long, seed: Long, minutes: Int): Unit =
    Pages.synthesize(spark, n, seed, minutes, partitions = InputFiles)
      .write.mode("overwrite").parquet(dir)

  /** Σ length(text) over the page table: the reference for Σsum_len. */
  def rawLenSum(spark: SparkSession, dir: String): Double =
    spark.read.parquet(dir).agg(sum(length(col("text")).cast("double"))).head().getDouble(0)

  /** Lineage of a finished store: complete partitions by tier, and Σpage_cnt by tier. */
  def lineageByTier(spark: SparkSession, root: String): (Set[(String, String, Int)], Map[String, Long]) = {
    val rows = TierPipeline.lineage(spark, root).filter(col("status") === "complete")
      .select("tier", "day", "host_bucket", "page_cnt").collect()
    (rows.map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet,
      rows.groupBy(_.getString(0)).map { case (t, rs) => t -> rs.map(_.getLong(3)).sum })
  }

  /** Partition directories `(tier, day, host_bucket)` present on disk. */
  def partitionsOnDisk(root: String): Set[(String, String, Int)] =
    Rollup.Tiers.flatMap { t =>
      val base = new File(TierPipeline.tierPath(root, t.name))
      for {
        d <- Option(base.listFiles).toSeq.flatten if d.getName.startsWith("day=")
        h <- Option(d.listFiles).toSeq.flatten if h.getName.startsWith("host_bucket=")
      } yield (t.name, d.getName.stripPrefix("day="), h.getName.stripPrefix("host_bucket=").toInt)
    }.toSet

  /** Checks on a store built from `pages` pages: every partition written or
    * present on disk has a `complete` lineage row, and each tier's lineage
    * page_cnt sums to the page count.
    */
  def checkStore(spark: SparkSession, root: String, pages: Long,
                 written: Map[String, Seq[(String, Int)]]): Seq[String] = {
    val (complete, pageCnt) = lineageByTier(spark, root)
    val bad = ArrayBuffer.empty[String]
    val writtenSet = written.toSeq.flatMap { case (t, ps) => ps.map { case (d, h) => (t, d, h) } }
    (writtenSet ++ partitionsOnDisk(root)).distinct.filterNot(complete).take(3)
      .foreach(p => bad += s"partition $p has no complete lineage row")
    Rollup.Tiers.foreach { t =>
      val got = pageCnt.getOrElse(t.name, 0L)
      if (got != pages) bad += s"tier ${t.name}: lineage page_cnt $got != $pages pages"
    }
    bad.toSeq
  }

  /** `cascade`: tier1m, then promote to 5m, 1h and 1d, into the noop sink. */
  final class Cascade(spark: SparkSession, seed: Long) extends Workload {
    val workUnit = "pages/s"
    val prepareRepeats = 3
    val warmupOps = 3
    var pagesDir: String = _
    val pageCount: Long = DayPages
    val days = 1
    private var lenSum = 0.0

    def prepare(dir: String): Unit = {
      writePages(spark, dir, DayPages, seed, Pages.Minutes)
      pagesDir = dir
    }
    override def afterPrepare(): Unit = lenSum = rawLenSum(spark, pagesDir)

    def op(i: Int): OpResult = {
      val pages = Hier.withHierarchy(spark.read.parquet(pagesDir))
      val obs = Rollup.Tiers.map(_ => new Observation())
      def observed(df: DataFrame, k: Int): DataFrame =
        df.observe(obs(k), sum(col("cnt")).as("cnt"), sum(col("sum_len")).as("len"))
      val t1m = observed(Rollup.tier1m(pages), 0)
      val t1d = Rollup.Tiers.tail.zipWithIndex.foldLeft(t1m) { case (finer, (t, k)) =>
        observed(Rollup.promote(finer, t.seconds), k + 1)
      }
      materialize(t1d)
      OpResult(DayPages, () => Rollup.Tiers.zip(obs).flatMap { case (t, ob) =>
        val m = ob.get
        val cnt = m("cnt").asInstanceOf[Long]
        val len = m("len").asInstanceOf[Double]
        (if (cnt != DayPages) Seq(s"tier ${t.name}: Σcnt $cnt != $DayPages") else Nil) ++
          (if (len != lenSum) Seq(s"tier ${t.name}: Σsum_len $len != $lenSum") else Nil)
      })
    }
  }

  /** The four panels of a dashboard over a store at `root` built from the
    * page table (with hierarchy columns) at `pagesDir`, covering `days` days.
    * Routed panels are phrased against the raw table; the range and series
    * panels read the tiers, re-read on every call as routes do.
    */
  final class Panels(spark: SparkSession, val pagesDir: String, val root: String,
                     days: Int, seed: Long) {
    private val rng = new scala.util.Random(seed)
    private val uw = unix_timestamp(col("warc_ts"))
    val dailyLo: Long = Pages.Epoch + 86400L * rng.nextInt(math.max(days - 1, 1))
    val hourlyLo: Long = Pages.Epoch + 3600L * rng.nextInt(days * 24 - 6)
    val seriesLo: Long = Pages.Epoch + 3600L * rng.nextInt((days - 1) * 24 + 1)
    val cfg: TierPipeline.Config = TierPipeline.Config(root)

    def raw: DataFrame = spark.read.parquet(pagesDir)

    /** Daily-by-host count, sum, count distinct lang and p95 over two days. */
    def daily(src: DataFrame): DataFrame = src
      .filter(uw >= dailyLo && uw < dailyLo + 2 * 86400L)
      .groupBy(col("host"), (uw - pmod(uw, lit(86400L))).as("bucket_start"))
      .agg(count(lit(1)).as("cnt"),
        sum(length(col("text")).cast("double")).as("sum_len"),
        countDistinct(col("lang")).as("lang_card"),
        percentile(length(col("text")), lit(0.95)).as("p95_len"))

    /** Hourly-by-host p50 over six hours. */
    def hourly(src: DataFrame): DataFrame = src
      .filter(uw >= hourlyLo && uw < hourlyLo + 6 * 3600L)
      .groupBy(col("host"), (uw - pmod(uw, lit(3600L))).as("bucket_start"))
      .agg(percentile(length(col("text")), lit(0.5)).as("p50_len"))

    def tiers: Map[String, DataFrame] =
      Rollup.Tiers.map(t => t.name -> TierPipeline.readTier(spark, cfg, t.name)).toMap

    /** The seeded, minute-aligned range of refresh `i`: up to three days. */
    def rangeOf(i: Int): (Long, Long) = {
      val r = new scala.util.Random(seed * 1000003L + i)
      val lo = Pages.Epoch + 60L * r.nextInt(days * Pages.Minutes - 1)
      val len = 60L * (1 + r.nextInt(3 * Pages.Minutes))
      (lo, math.min(lo + len, Pages.Epoch + 86400L * days))
    }
    def range(i: Int): DataFrame = { val (lo, hi) = rangeOf(i); Rollup.readRange(tiers, lo, hi) }
    /** 24 hours at a one-hour step. */
    def series: DataFrame = Rollup.readSeries(tiers, seriesLo, seriesLo + 86400L, 3600L)

    /** Panels phrased against the raw table must scan a tier, not the pages. */
    def routed(df: DataFrame, name: String): Seq[String] = {
      val paths = TierRoute.relationPaths(df.queryExecution.optimizedPlan)
      if (paths.exists(_.contains("/tier_")) && !paths.exists(_.contains(pagesDir))) Nil
      else Seq(s"$name panel not routed to a tier: ${paths.mkString(",")}")
    }

    def register(): Unit = TierPipeline.routes(spark, cfg, raw).foreach(TierRoute.register)
  }

  /** `serve`: a dashboard refresh of four panels over a multi-day store. */
  final class Serve(spark: SparkSession, seed: Long) extends Workload {
    val workUnit = "panels/s"
    val prepareRepeats = 1
    val warmupOps = 1
    var pagesDir: String = _
    val pageCount: Long = ServePages
    val days: Int = ServeDays
    private var p: Panels = _
    override def storeRoot: Option[String] = Option(p).map(_.root)
    // expected answers, computed on the raw table with the routes cleared
    private var expectDaily: Seq[Row] = Nil
    private var expectHourly: Seq[Row] = Nil
    private var minuteCnt: Array[Long] = Array.emptyLongArray
    private var minuteLen: Array[Double] = Array.emptyDoubleArray

    def prepare(dir: String): Unit = {
      TierRoute.clear()
      pagesDir = s"$dir/pages"
      Hier.withHierarchy(Pages.synthesize(spark, ServePages, seed, ServeDays * Pages.Minutes,
        partitions = InputFiles)).write.mode("overwrite").parquet(pagesDir)
      p = new Panels(spark, pagesDir, s"$dir/store", ServeDays, seed)
      val written = TierPipeline.buildAll(p.raw, p.cfg, "serve")
      val bad = checkStore(spark, p.root, ServePages, written)
      require(bad.isEmpty, s"serve store: ${bad.mkString("; ")}")
    }

    override def afterPrepare(): Unit = {
      val uw = unix_timestamp(col("warc_ts"))
      expectDaily = sorted(p.daily(p.raw).collect())
      expectHourly = sorted(p.hourly(p.raw).collect())
      val perMinute = p.raw.groupBy(((uw - lit(Pages.Epoch)) / 60).cast("int").as("m"))
        .agg(count(lit(1)), sum(length(col("text")).cast("double"))).collect()
      minuteCnt = new Array[Long](ServeDays * Pages.Minutes)
      minuteLen = new Array[Double](ServeDays * Pages.Minutes)
      perMinute.foreach { r => minuteCnt(r.getInt(0)) = r.getLong(1); minuteLen(r.getInt(0)) = r.getDouble(2) }
      p.register()
    }

    def op(i: Int): OpResult = {
      val d = p.daily(p.raw)
      val dRows = d.collect()
      val h = p.hourly(p.raw)
      val hRows = h.collect()
      val range = p.range(i).collect()
      val series = p.series.collect()
      OpResult(4, () => {
        val bad = ArrayBuffer.empty[String]
        bad ++= p.routed(d, "daily") ++ p.routed(h, "hourly")
        if (!sameRows(sorted(dRows), expectDaily)) bad += "daily panel differs from unrouted"
        if (!sameRows(sorted(hRows), expectHourly)) bad += "hourly panel differs from unrouted"
        val (lo, hi) = p.rangeOf(i)
        val (m0, m1) = (((lo - Pages.Epoch) / 60).toInt, ((hi - Pages.Epoch) / 60).toInt)
        val (expCnt, expLen) = (minuteCnt.slice(m0, m1).sum, minuteLen.slice(m0, m1).sum)
        val gotCnt = range.map(_.getAs[Long]("cnt")).sum
        val gotLen = range.map(_.getAs[Double]("sum_len")).sum
        if (gotCnt != expCnt || gotLen != expLen)
          bad += s"range [$lo,$hi): $gotCnt/$gotLen != $expCnt/$expLen"
        val sm0 = ((p.seriesLo - Pages.Epoch) / 60).toInt
        val sCnt = series.map(_.getAs[Long]("cnt")).sum
        if (sCnt != minuteCnt.slice(sm0, sm0 + 1440).sum) bad += s"series Σcnt $sCnt wrong"
        bad.toSeq
      })
    }
  }

  def sorted(rows: Array[Row]): Seq[Row] = rows.toSeq.sortBy(r => (r.getString(0), r.getLong(1)))

  /** Row-by-row equality; doubles within 1e-9 relative (percentiles are
    * recomputed from blocks on one side and from raw values on the other).
    */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean = a.size == b.size && a.zip(b).forall {
    case (x, y) => x.size == y.size && (0 until x.size).forall { k =>
      (x.get(k), y.get(k)) match {
        case (p: Double, q: Double) => math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(q))
        case (p, q) => p == q
      }
    }
  }
}
