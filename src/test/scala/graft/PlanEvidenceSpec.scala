package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateMode, Complete, Final, Partial}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ListenerShim
import graft.sources.Pages
import graft.functions.Hier
import graft.operators.Rollup
import graft.plans.{TierPipeline, TierRoute}

/** Physical-plan evidence for the scale claims the correctness oracle can't
  * see: bucketed tables join WITHOUT a shuffle, the tier-store layout prunes
  * partitions and pushes filters into the parquet scan, and the tier-1
  * aggregate and the whole tier cascade are single-shuffle plans. These pin
  * the plan *shapes* — on a 1000-executor cluster they are the difference
  * between a narrow join and re-shuffling 100 TB.
  */
class PlanEvidenceSpec extends SparkSuite {

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE settles on the final plan
    df.queryExecution.executedPlan.toString
  }

  /** Runs `body` with both broadcast thresholds at 1 KiB. At the default
    * 10 MB every test table is broadcast by size, hinted or not; at 1 KiB
    * the planner broadcasts unhinted only what it sizes as constant (a
    * no-grouping count/sum aggregate, literal rows), so a pin on a hinted
    * join fails when its hint goes. Adaptive execution can still broadcast a
    * side once its shuffled stage turns out small; its local shuffle read
    * then shows the shuffle the hint avoids.
    */
  private def withTinyBroadcast[A](body: => A): A = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "1024"))
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed co-located join runs with ZERO exchanges; unbucketed control shuffles") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    spark.sql("DROP TABLE IF EXISTS graft_bl")
    spark.sql("DROP TABLE IF EXISTS graft_br")
    ev.write.format("parquet").option("path", s"$dir/bl")
      .bucketBy(8, "user_id").sortBy("user_id")
      .mode("overwrite").saveAsTable("graft_bl")
    ev.groupBy("user_id").agg(sum("value").as("tot"))
      .write.format("parquet").option("path", s"$dir/br")
      .bucketBy(8, "user_id").sortBy("user_id")
      .mode("overwrite").saveAsTable("graft_br")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("graft_bl").join(spark.table("graft_br"), "user_id")
      val plan = finalPlan(j)
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      assert(plan.contains("SortMergeJoin"), "co-located join should sort-merge in place")
      // control: identical join on plain parquet reads must shuffle
      val nb = ev.join(ev.groupBy("user_id").agg(sum("value").as("tot")), "user_id")
      assert(finalPlan(nb).contains("Exchange"), "control join should need a shuffle")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_bl")
      spark.sql("DROP TABLE IF EXISTS graft_br")
    }
  }

  test("day-partitioned tier layout: partition pruning + parquet filter pushdown") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.partitionBy("day").mode("overwrite").parquet(dir)
    val rd = spark.read.parquet(dir)
      .filter(col("day") === "2024-01-03" && col("value") > 100.0)
      .select("event_id", "value")
    val plan = finalPlan(rd)
    assert(plan.contains("PartitionFilters") && plan.contains("2024-01-03"),
      s"day predicate must prune partitions at plan time:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(value,100.0)"),
      s"measure predicate must reach the parquet reader:\n$plan")
    // column pruning: the scan schema carries only the projected+filtered cols
    assert(plan.contains("ReadSchema") && !plan.contains("event_type"),
      "scan must not read columns the query never touches")
  }

  test("readRange over the DURABLE store: min/max-pruned scans, no raw re-read") {
    import graft.plans.TierPipeline
    import graft.plans.TierPipeline.Config
    // build a real 2-day durable store, then serve a stitched range off it
    val pages = Hier.withHierarchy(Pages.synthesize(spark, 6000L, seed = 21L,
      minutes = 2 * 1440))
    val cfg = Config(java.nio.file.Files.createTempDirectory("graft_serve").toString,
      hostBuckets = 2)
    TierPipeline.buildAll(pages, cfg, runId = "serve1")
    val tiers = Map(
      "1m" -> TierPipeline.readTier(spark, cfg, "1m"),
      "1h" -> TierPipeline.readTier(spark, cfg, "1h"),
      "1d" -> TierPipeline.readTier(spark, cfg, "1d"))
    val start = Pages.Epoch + 2 * 3600 + 11 * 60
    val end = Pages.Epoch + 86400 + 5 * 3600
    val res = Rollup.readRange(tiers, start, end)
    // AdaptiveSparkPlan prints final + initial sections — count in the final
    val plan = finalPlan(res.drop("block", "lang_set")).split("== Initial Plan ==")(0)
    // the serving read touches ONLY tier parquet (no raw pages in this plan
    // by construction) and every tier scan carries a pushed bucket_start
    // range so parquet row-group min/max stats prune storage-side
    assert(plan.contains("GreaterThanOrEqual(bucket_start"),
      s"bucket_start range must reach the parquet reader:\n$plan")
    val tiersInCover = Rollup.coverage(start, end,
      Rollup.Tiers.filter(t => tiers.contains(t.name))).map(_.tier).distinct.size
    assert("Scan parquet|FileScan".r.findAllIn(plan).size == tiersInCover,
      s"exactly one pruned scan per covering tier ($tiersInCover), nothing else")
    // and the stitched numbers equal a direct raw aggregation
    val direct = Rollup.textLen(pages)
      .filter(unix_timestamp(col("warc_ts")) >= start &&
        unix_timestamp(col("warc_ts")) < end)
      .groupBy(col("tld"), col("registered_domain"), col("host"))
      .agg(count(lit(1)).as("d_cnt"),
        org.apache.spark.sql.functions.percentile(col("text_len"), lit(0.95)).as("d_p95"))
    val j = res.join(direct, Seq("tld", "registered_domain", "host"), "full_outer")
    assert(j.filter(col("cnt").isNull || col("d_cnt").isNull).count() == 0)
    assert(j.filter(col("cnt") =!= col("d_cnt") ||
      abs(col("p95_len") - col("d_p95")) > 1e-9).count() == 0)
  }

  /** A 2-day store (hostBuckets 2) built by `buildAll` from pages on disk —
    * routes match their raw frame by its parquet path — and the page dir.
    */
  private lazy val store: (String, TierPipeline.Config) = {
    val rawDir = Files.createTempDirectory("graft_store_raw").toString
    Hier.withHierarchy(Pages.synthesize(spark, 6000L, seed = 23L, minutes = 2 * 1440))
      .write.mode("overwrite").parquet(rawDir)
    val cfg = TierPipeline.Config(Files.createTempDirectory("graft_store").toString, hostBuckets = 2)
    TierPipeline.buildAll(spark.read.parquet(rawDir), cfg, runId = "store1")
    (rawDir, cfg)
  }

  /** Fresh frames over every stored tier, as a dashboard refresh builds them. */
  private def storeTiers(cfg: TierPipeline.Config): Map[String, DataFrame] =
    Rollup.Tiers.map(t => t.name -> TierPipeline.readTier(spark, cfg, t.name)).toMap

  private val uw = unix_timestamp(col("warc_ts"))

  /** Daily-by-host panel over both days, phrased against the raw pages. */
  private def dailyPanel(raw: DataFrame): DataFrame = raw
    .filter(uw >= Pages.Epoch && uw < Pages.Epoch + 2 * 86400L)
    .groupBy(col("host"), (uw - pmod(uw, lit(86400L))).as("bucket_start"))
    .agg(count(lit(1)).as("cnt"), percentile(length(col("text")), lit(0.95)).as("p95_len"))

  /** Hourly-by-host p50 over six hours of day 1, phrased against the raw pages. */
  private def hourlyPanel(raw: DataFrame): DataFrame = raw
    .filter(uw >= Pages.Epoch + 3 * 3600L && uw < Pages.Epoch + 9 * 3600L)
    .groupBy(col("host"), (uw - pmod(uw, lit(3600L))).as("bucket_start"))
    .agg(percentile(length(col("text")), lit(0.5)).as("p50_len"))
    .orderBy("host", "bucket_start")

  private def withStoreRoutes[A](raw: DataFrame, cfg: TierPipeline.Config)(body: => A): A = {
    TierRoute.clear()
    TierPipeline.routes(spark, cfg, raw).foreach(TierRoute.register)
    try body finally TierRoute.clear()
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** The parquet scans of an executed frame's final plan. */
  private def scans(df: DataFrame): Seq[FileSourceScanExec] = {
    df.collect()
    Plans.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
  }

  test("store reads plan with no Spark job: routed aggregate, readRange, readSeries") {
    val (rawDir, cfg) = store
    val raw = spark.read.parquet(rawDir)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    // jobs started while a fresh frame is analyzed, optimized and planned
    def jobsToPlan(df: => DataFrame): Int = {
      ListenerShim.drain(spark)
      jobs.set(0)
      df.queryExecution.executedPlan
      ListenerShim.drain(spark)
      jobs.get
    }
    val lo = Pages.Epoch + 3 * 3600L
    spark.sparkContext.addSparkListener(listener)
    try withStoreRoutes(raw, cfg) {
      assert(jobsToPlan(dailyPanel(raw)) === 0, "routed daily panel")
      assert(TierRoute.relationPaths(dailyPanel(raw).queryExecution.optimizedPlan)
        .exists(_.contains("tier_1d")), "the daily panel must be routed")
      assert(jobsToPlan(Rollup.readRange(storeTiers(cfg), lo + 7 * 60, lo + 86400L)) === 0, "readRange")
      assert(jobsToPlan(Rollup.readSeries(storeTiers(cfg), lo, lo + 86400L, 3600L)) === 0, "readSeries")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("store reads prune by day: readRange, readSeries and a routed panel") {
    val (rawDir, cfg) = store
    val raw = spark.read.parquet(rawDir)
    // every scan carries a partition filter on `day`, and opens only that
    // day's hostBuckets partitions
    def prunedTo(day: String, df: DataFrame, what: String): Unit = {
      val ss = scans(df)
      assert(ss.nonEmpty, s"$what: no parquet scan")
      ss.foreach { s =>
        assert(s.partitionFilters.exists(_.references.exists(_.name == "day")),
          s"$what: no day partition filter on ${s.relation.location.rootPaths}:\n${s.simpleString(400)}")
        val read = s.selectedPartitions
        assert(read.filePartitionIterator.map(_.values.getUTF8String(0).toString).toSeq.distinct === Seq(day),
          s"$what: scanned days of ${s.relation.location.rootPaths}")
        assert(read.partitionCount === cfg.hostBuckets, s"$what: partitions read")
      }
    }
    // a one-day range: 1m, 5m and 1h segments, all on day 1
    prunedTo("2024-01-01",
      Rollup.readRange(storeTiers(cfg), Pages.Epoch + 2 * 3600L + 11 * 60, Pages.Epoch + 5 * 3600L),
      "readRange")
    prunedTo("2024-01-02",
      Rollup.readSeries(storeTiers(cfg), Pages.Epoch + 86400L, Pages.Epoch + 2 * 86400L, 3600L),
      "readSeries")
    TierRoute.clear()
    val unrouted = hourlyPanel(raw).collect()
    withStoreRoutes(raw, cfg) {
      val routed = hourlyPanel(raw)
      prunedTo("2024-01-01", routed, "routed hourly panel")
      assert(TierRoute.relationPaths(routed.queryExecution.optimizedPlan).exists(_.contains("tier_1h")))
      val got = routed.collect()
      assert(got.length === unrouted.length && got.nonEmpty)
      got.zip(unrouted).foreach { case (g, e) =>
        assert(g.getString(0) === e.getString(0) && g.getLong(1) === e.getLong(1))
        assert(approxEq(g.getDouble(2), e.getDouble(2)))
      }
    }
  }

  test("store reads give the same rows in any session time zone") {
    val (rawDir, cfg) = store
    val raw = spark.read.parquet(rawDir)
    // 02:00–05:00 UTC of day 2: in Los Angeles both ends fall on day 1, so
    // a cut computed in the session's zone would prune day 2 away
    val lo = Pages.Epoch + 86400L + 2 * 3600L
    val hi = lo + 3 * 3600L
    def panel(): DataFrame = raw
      .filter(uw >= lo && uw < hi)
      .groupBy(col("host"), (uw - pmod(uw, lit(3600L))).as("bucket_start"))
      .agg(count(lit(1)).as("cnt"), percentile(length(col("text")), lit(0.5)).as("p50_len"))
    def rows(df: DataFrame): Set[Seq[Any]] = {
      val out = df.drop("block").collect().map(_.toSeq.map {
        case d: Double => math.round(d * 1e6) / 1e6
        case v => v
      }).toSet
      assert(out.nonEmpty)
      out
    }
    def reads(): Seq[Set[Seq[Any]]] = {
      TierRoute.clear()
      val unrouted = rows(panel())
      val routed = withStoreRoutes(raw, cfg)(rows(panel()))
      assert(routed === unrouted, "routed panel vs its unrouted answer")
      Seq(rows(Rollup.readRange(storeTiers(cfg), lo + 7 * 60, hi)),
        rows(Rollup.readSeries(storeTiers(cfg), lo, hi, 3600L)), routed)
    }
    val tz = "spark.sql.session.timeZone"
    val prev = spark.conf.get(tz)
    assert(prev === "UTC")
    val utc = reads()
    spark.conf.set(tz, "America/Los_Angeles")
    try {
      reads().zip(Seq("readRange", "readSeries", "routed panel")).zip(utc).foreach {
        case ((got, what), expected) => assert(got === expected, what)
      }
    } finally spark.conf.set(tz, prev)
  }

  test("tier-1 continuous aggregate is a single-shuffle plan") {
    val pages = Hier.withHierarchy(Pages.synthesize(spark, 5000L, seed = 7L))
    val t1m = Rollup.tier1m(pages)
    // AdaptiveSparkPlan.toString prints BOTH the final and the initial plan —
    // count shuffles only in the final section
    val plan = finalPlan(t1m.drop("block", "lang_set")).split("== Initial Plan ==")(0)
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"tier-1 rollup should shuffle exactly once (got $exchanges):\n$plan")
  }

  /** The final plan's `ObjectHashAggregateExec`s, by the mode of their
    * functions, read through cached relations (a frame another suite cached
    * stands in for part of the plan).
    */
  private def objectAggModes(df: DataFrame): Seq[Set[AggregateMode]] = {
    def modes(plan: SparkPlan): Seq[Set[AggregateMode]] = Plans.collect(plan) {
      case a: ObjectHashAggregateExec => Seq(a.aggregateExpressions.map(_.mode).toSet)
      case m: InMemoryTableScanExec => modes(m.relation.cachedPlan)
    }.flatten
    df.collect()
    modes(df.queryExecution.executedPlan)
  }

  test("tier1m -> 5m -> 1h -> 1d cascade is a single-shuffle plan") {
    val pages = Hier.withHierarchy(Pages.synthesize(spark, 5000L, seed = 7L))
    val t1d = Seq(300L, 3600L, 86400L).foldLeft(Rollup.tier1m(pages))(Rollup.promote(_, _))
    val plan = finalPlan(t1d).split("== Initial Plan ==")(0)
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"the tier cascade should shuffle exactly once (got $exchanges):\n$plan")
    // no exchange between a level's partial and final: each level runs as
    // ONE Complete-mode aggregate (LocalCompleteAggregate)
    assert(objectAggModes(t1d) === Seq.fill(4)(Set(Complete)),
      s"expected 4 Complete-mode aggregates, one per tier level:\n$plan")
  }

  test("an aggregate over an unpartitioned scan keeps its map-side Partial before the exchange") {
    val agg = spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy(col("user_id")).agg(collect_set(col("event_type")).as("types"))
    val modes = objectAggModes(agg)
    assert(modes === Seq(Set(Final), Set(Partial)),
      s"expected a Final over an exchange over a Partial:\n${agg.queryExecution.executedPlan}")
    val belowExchange = Plans.collect(agg.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.child
    }
    assert(belowExchange.exists {
      case a: ObjectHashAggregateExec => a.aggregateExpressions.forall(_.mode == Partial)
      case _ => false
    }, s"the Partial must feed the exchange:\n${agg.queryExecution.executedPlan}")
  }

  test("zipfSlope cuts top-K with a distributed TakeOrdered, never a vocab-wide window") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = finalPlan(TextAnalysis.zipfSlope(docs, "text", topK = 50))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K must be the distributed TakeOrdered operator:\n$plan")
    // the only Window allowed is the rank assignment over the K survivors,
    // which sits ABOVE the TakeOrdered cut — the vocabulary-sized aggregate
    // below it must reach the cut without any window
    val below = plan.split("TakeOrderedAndProject").last
    assert(!below.contains("Window"),
      s"no window may run below the top-K cut (vocabulary-sized input):\n$plan")
  }

  test("conformal band attach is a broadcast join (fitted side is key-sized)") {
    import graft.operators.Conformal
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("pred", col("value") * 0.9)
    val fitted = Conformal.fitSplitConformal(ev, Seq("user_id"), "value", "pred", 0.2)
    val banded = Conformal.applyBands(ev, fitted, Seq("user_id"), "pred")
    val plan = finalPlan(banded).split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      s"band attach should broadcast the per-key fit:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"band attach must not sort-merge the event stream:\n$plan")
  }

  test("heavy-hitters recount pass broadcasts the ≤k candidate set") {
    import graft.operators.HeavyHitters
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .selectExpr("event_type", "cast(user_id as string) as item")
    val hh = HeavyHitters.frequentItems(ev, Seq("event_type"), "item", k = 16)
    val plan = withTinyBroadcast(finalPlan(hh)).split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      s"pass 2 must broadcast the bounded candidate set:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the raw item stream must never sort-merge:\n$plan")
  }

  test("merkleDiff drill-down is gated by BROADCAST semi-joins on the bucket list") {
    import graft.operators.Reconcile
    val a = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("user_id"), col("value"))
    val b = a.filter(col("event_id") % 13 =!= 0)
    val diff = Reconcile.merkleDiff(a, b, "event_id", Seq("user_id", "value"),
      buckets = 32)
    val plan = withTinyBroadcast(finalPlan(diff)).split("== Initial Plan ==")(0)
    // both row-level sides must be pruned by a broadcast LeftSemi on the
    // (≤ buckets)-row differing-bucket list — at 100 TB this is what keeps
    // the pk-level full-outer join from shuffling the full snapshots
    val semis = "BroadcastHashJoin.*LeftSemi".r.findAllIn(plan).size
    assert(semis >= 2, s"expected 2 broadcast semi-join gates, got $semis:\n$plan")
    // a local shuffle read marks a join AQE turned into a broadcast only
    // after shuffling both sides: the snapshots must not pay that shuffle
    assert(!plan.contains("AQEShuffleRead local"),
      s"the row-level sides must not be shuffled for the gate:\n$plan")
  }

  test("overlapJoin is a bucket EQUI-join — no cartesian/nested-loop anywhere") {
    import graft.operators.Intervals
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"),
        unix_timestamp(col("ts").cast("timestamp")).as("start_s"))
      .withColumn("end_s", col("start_s") + 600L)
    val a = ev.select(col("event_id").as("aid"), col("start_s"), col("end_s"))
    val b = ev.select(col("event_id").as("bid"), col("start_s"), col("end_s"))
    val j = Intervals.overlapJoin(a, b, Seq("aid"), Seq("bid"),
      "start_s", "end_s", bucketSeconds = 3600L)
    val plan = finalPlan(j).split("== Initial Plan ==")(0)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval overlap must never degrade to a θ-only join:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"expected an equi-join on the time bucket:\n$plan")
  }

  test("prefix joins (PPJoin / Ed-Join) candidate stage is an equi-join on the token") {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val ppj = Dedup.prefixJaccardJoin(docs, "text", "doc_id", tau = 0.9)
    val plan = finalPlan(ppj).split("== Initial Plan ==")(0)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"prefix filtering must never degrade to all-pairs:\n$plan")
  }

  test("StatTests moment tests are single-shuffle plans (jarqueBera, chow, breuschPagan)") {
    import graft.operators.StatTests
    val daily = spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .agg(sum(col("value")).as("v"))
    // daily itself costs one shuffle; each diagnostic must add NO MORE than
    // one (its groupBy/window partitioning on the same keys is reused)
    def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
      val plan = finalPlan(df).split("== Initial Plan ==")(0)
      "(?<!Broadcast)Exchange".r.findAllIn(plan).size
    }
    val base = exchanges(daily)
    assert(exchanges(StatTests.jarqueBera(daily, Seq("user_id"), "v")) <= base + 1,
      "jarqueBera must be one aggregate pass over the input")
    assert(exchanges(StatTests.chow(daily, Seq("user_id"), "d", "v")) <= base + 1,
      "chow's window + groupBy share one user_id exchange")
    assert(exchanges(StatTests.breuschPagan(daily, Seq("user_id"), "d", "v")) <= base + 1,
      "breuschPagan's two window stages + aggregate share one exchange")
  }

  test("linearShap2 attaches the per-key fit by BROADCAST (fit side is key-sized)") {
    val daily = spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .agg(sum(round(col("value") * 100).cast("long")).as("vc"))
      .withColumn("x1", expr("unix_timestamp(d) div 86400"))
      .withColumn("x2",
        when(dayofweek(col("d")).isin(1, 7), lit(1L)).otherwise(lit(0L)))
    val plan = withTinyBroadcast(finalPlan(
      graft.operators.Interpret.linearShap2(daily, Seq("user_id"), "x1", "x2", "vc")))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"the one-row-per-key fit must broadcast, never shuffle the fact side:\n$plan")
    // a local shuffle read marks a join AQE turned into a broadcast only
    // after shuffling the fact side on the key
    assert(!plan.split("== Initial Plan ==")(0).contains("AQEShuffleRead local"),
      s"the fact side must not be shuffled for the fit join:\n$plan")
  }

  test("blomqvistBeta joins its one-row median sides by BROADCAST, never a cartesian product") {
    val daily = spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .agg(count(lit(1)).as("x"), sum(col("value")).as("y"))
    val plan = withTinyBroadcast(finalPlan(
      graft.operators.StatTests.blomqvistBeta(daily, "x", "y")))
      .split("== Initial Plan ==")(0)
    // each median is one row picked by a filter, which the planner sizes by
    // its input: only the hint keeps the pair loop off a CartesianProduct
    assert(!plan.contains("CartesianProduct"),
      s"the median sides must not be joined by a cartesian product:\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size >= 2,
      s"both median sides must arrive by broadcast:\n$plan")
  }

  test("lmScore with maxVocab broadcasts the vocab — the token stream never shuffles for it") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 500)
    val plan = finalPlan(
      graft.operators.TextAnalysis.lmScore(docs, "doc_id", "text",
        sampleMod = 1, maxVocab = Some(100)).filter(col("n_tokens") > 0))
    // both the capped vocab and the totals row must arrive by broadcast;
    // the exploded token stream's only exchange is its own final groupBy
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab/totals joins must be broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no sort-merge join may touch the exploded token stream:\n$plan")
  }
}
