package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.TierRoute
import graft.plans.TierRoute.{AttrMeasure, Route}

/** Continuous-aggregate routing (plans.TierRoute): result parity with the
  * unrouted plan, plan evidence that the scan actually moved to the tier,
  * tier selection, and the safe-fallback guards.
  */
class TierRouteSpec extends SparkSuite {

  private lazy val raw: DataFrame = spark.read.parquet(s"$sfDir/events.parquet")

  private def u = unix_timestamp(col("ts"))

  private def buildTier(seconds: Long): String = {
    val dir = Files.createTempDirectory(s"graft_route_$seconds").toString
    raw.groupBy(col("user_id"), (u - pmod(u, lit(seconds))).as("bucket_start"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        min("value").as("min_value"), max("value").as("max_value"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private lazy val tier1mPath = buildTier(60L)
  private lazy val tier1hPath = buildTier(3600L)

  private def route(name: String, path: String, seconds: Long): Route =
    Route(name = name, raw = raw, tierSeconds = seconds,
      tier = () => spark.read.parquet(path),
      groupCols = Seq("user_id"), tsCol = "ts", measure = AttrMeasure("value"),
      measureNonNull = true)

  private def scannedPaths(df: DataFrame): Set[String] =
    TierRoute.relationPaths(df.queryExecution.optimizedPlan)

  private def hourly(src: DataFrame): DataFrame =
    src.groupBy(col("user_id"), (u - pmod(u, lit(3600L))).as("bucket_start"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        avg("value").as("avg_value"), min("value").as("min_value"),
        max("value").as("max_value"))
      .orderBy("user_id", "bucket_start")

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val (ra, rb) = (a.collect(), b.collect())
    assert(ra.length === rb.length)
    ra.zip(rb).foreach { case (x, y) =>
      x.toSeq.zip(y.toSeq).foreach {
        case (d1: Double, d2: Double) => assert(approxEq(d1, d2))
        case (v1, v2)                 => assert(v1 === v2)
      }
    }
  }

  private def withRoutes(rs: Route*)(body: => Unit): Unit = {
    TierRoute.clear() // q202/q203 (run by EntrySpec) leave their routes registered
    TierRoute.install(spark)
    rs.foreach(TierRoute.register)
    try body finally TierRoute.clear()
  }

  test("routes an hourly aggregate onto the 1m tier: parity + plan evidence") {
    TierRoute.clear()
    val expected = hourly(raw).collect() // routes not registered
    withRoutes(route("t1m", tier1mPath, 60L)) {
      val routed = hourly(raw)
      val paths = scannedPaths(routed)
      assert(paths.exists(_.contains(tier1mPath)), s"expected tier scan, got $paths")
      assert(!paths.exists(_.contains("events.parquet")), s"raw still scanned: $paths")
      val got = routed.collect()
      assert(got.length === expected.length)
      got.zip(expected).foreach { case (x, y) =>
        x.toSeq.zip(y.toSeq).foreach {
          case (d1: Double, d2: Double) => assert(approxEq(d1, d2))
          case (v1, v2)                 => assert(v1 === v2)
        }
      }
    }
  }

  test("coarsest eligible tier wins; finer buckets fall back to the finer tier") {
    withRoutes(route("t1m", tier1mPath, 60L), route("t1h", tier1hPath, 3600L)) {
      assert(scannedPaths(hourly(raw)).exists(_.contains(tier1hPath)))
      val fiveMin = raw
        .groupBy(col("user_id"), (u - pmod(u, lit(300L))).as("bucket_start"))
        .agg(sum("value").as("sum_value"))
      assert(scannedPaths(fiveMin).exists(_.contains(tier1mPath)))
      assertSameRows(
        fiveMin.orderBy("user_id", "bucket_start"),
        { TierRoute.clear()
          raw.groupBy(col("user_id"), (u - pmod(u, lit(300L))).as("bucket_start"))
            .agg(sum("value").as("sum_value")).orderBy("user_id", "bucket_start") })
    }
  }

  test("aligned time + dimension filters are rewritten onto bucket_start") {
    val cut = java.time.Instant.parse("2024-01-02T00:00:00Z").getEpochSecond
    def q(src: DataFrame): DataFrame = src
      .filter(u >= lit(cut) && col("user_id") % 2 === 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"))
      .orderBy("user_id")
    withRoutes(route("t1m", tier1mPath, 60L)) {
      assert(scannedPaths(q(raw)).exists(_.contains(tier1mPath)))
      val got = q(raw).collect()
      TierRoute.clear()
      val exp = q(raw).collect()
      assert(got.map(_.getLong(1)).toSeq === exp.map(_.getLong(1)).toSeq)
      got.zip(exp).foreach { case (g, e) => assert(approxEq(g.getDouble(2), e.getDouble(2))) }
    }
  }

  test("timestamp-literal range predicates route when tier-aligned") {
    def q(src: DataFrame): DataFrame = src
      .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-02 00:00:00")) &&
        col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-05 00:00:00")))
      .groupBy(col("user_id")).agg(max("value").as("max_value"))
      .orderBy("user_id")
    withRoutes(route("t1m", tier1mPath, 60L)) {
      assert(scannedPaths(q(raw)).exists(_.contains(tier1mPath)))
      val got = q(raw)
      TierRoute.clear()
      assertSameRows(got, q(raw))
    }
  }

  test("safe fallbacks: anything unrecognized keeps the raw scan") {
    withRoutes(route("t1m", tier1mPath, 60L)) {
      // misaligned time predicate (90 s is not a 60 s multiple)
      val misaligned = raw.filter(u >= lit(1704067290L))
        .groupBy(col("user_id")).agg(sum("value").as("s"))
      assert(scannedPaths(misaligned).exists(_.contains("events.parquet")))
      // distinct aggregate
      val dist = raw.groupBy(col("user_id")).agg(countDistinct(col("value")).as("d"))
      assert(scannedPaths(dist).exists(_.contains("events.parquet")))
      // unsupported aggregate function
      val sd = raw.groupBy(col("user_id")).agg(stddev(col("value")).as("sd"))
      assert(scannedPaths(sd).exists(_.contains("events.parquet")))
      // unsupported measure
      val wrongMeasure = raw.groupBy(col("user_id")).agg(sum(col("event_id")).as("s"))
      assert(scannedPaths(wrongMeasure).exists(_.contains("events.parquet")))
      // unsupported grouping expression
      val wrongGroup = raw.groupBy(col("event_type")).agg(sum(col("value")).as("s"))
      assert(scannedPaths(wrongGroup).exists(_.contains("events.parquet")))
      // 90 s buckets do not divide into 60 s tiers
      val width90 = raw.groupBy((u - pmod(u, lit(90L))).as("b"))
        .agg(sum(col("value")).as("s"))
      assert(scannedPaths(width90).exists(_.contains("events.parquet")))
    }
  }

  test("percentiles route onto Gorilla blocks: exact parity + plan evidence + fallback") {
    // a 1m tier that also carries the point block
    val dir = Files.createTempDirectory("graft_route_blk").toString
    raw.groupBy(col("user_id"), (u - pmod(u, lit(60L))).as("bucket_start"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        min("value").as("min_value"), max("value").as("max_value"),
        graft.functions.codec.BlockAgg.points(u, col("value")).as("m"))
      .withColumn("block", col("m.block")).drop("m")
      .write.mode("overwrite").parquet(dir)
    val blockRoute = route("tblk", dir, 60L).copy(blockCol = Some("block"))
    def q(src: DataFrame): DataFrame = src
      .groupBy(col("user_id"), (u - pmod(u, lit(3600L))).as("bucket_start"))
      .agg(percentile(col("value"), lit(0.5)).as("p50_v"),
        percentile(col("value"), lit(0.95)).as("p95_v"),
        count(lit(1)).as("cnt"))
      .orderBy("user_id", "bucket_start")
    withRoutes(blockRoute) {
      val routed = q(raw)
      assert(scannedPaths(routed).exists(_.contains(dir)), "percentile query not routed")
      val got = routed.collect()
      TierRoute.clear()
      val exp = q(raw).collect()
      assert(got.length === exp.length)
      got.zip(exp).foreach { case (g, e) =>
        assert(approxEq(g.getDouble(2), e.getDouble(2)))
        assert(approxEq(g.getDouble(3), e.getDouble(3)))
        assert(g.getLong(4) === e.getLong(4))
      }
    }
    // unsupported percentage falls back to raw
    withRoutes(blockRoute) {
      val p90 = raw.groupBy(col("user_id"))
        .agg(percentile(col("value"), lit(0.9)).as("p90"))
      assert(scannedPaths(p90).exists(_.contains("events.parquet")))
    }
    // a block-less route cannot serve percentiles (no silent wrong answer) —
    // but with BOTH registered the block route picks up the query
    withRoutes(route("t1m", tier1mPath, 60L)) {
      val p50 = raw.groupBy(col("user_id"))
        .agg(percentile(col("value"), lit(0.5)).as("p50"))
      assert(scannedPaths(p50).exists(_.contains("events.parquet")))
    }
    withRoutes(route("t1m", tier1mPath, 60L), blockRoute) {
      val p50 = raw.groupBy(col("user_id"))
        .agg(percentile(col("value"), lit(0.5)).as("p50"))
      assert(scannedPaths(p50).exists(_.contains(dir)))
    }
  }

  test("pages domain: length(text) measures route onto the page tier (CharLenMeasure)") {
    // raw pages parquet with the hierarchy materialized (TierPipeline layout)
    val rawDir = Files.createTempDirectory("graft_route_pages_raw").toString
    graft.functions.Hier.withHierarchy(
        graft.sources.Pages.synthesize(spark, 20000, seed = 7, minutes = 360))
      .write.mode("overwrite").parquet(rawDir)
    val rawPages = spark.read.parquet(rawDir)
    val tierDir = Files.createTempDirectory("graft_route_pages_tier").toString
    graft.operators.Rollup.tier1m(rawPages).drop("lang_set", "mean_len",
        "lang_card", "p50_len", "p95_len")
      .write.mode("overwrite").parquet(tierDir)
    val pagesRoute = Route(
      name = "pages_1m", raw = rawPages, tierSeconds = 60L,
      tier = () => spark.read.parquet(tierDir),
      groupCols = Seq("tld", "registered_domain", "host"), tsCol = "warc_ts",
      measure = TierRoute.CharLenMeasure("text"), measureNonNull = true,
      cntCol = "cnt", sumCol = "sum_len", minCol = "min_len", maxCol = "max_len",
      blockCol = Some("block"))
    val uw = unix_timestamp(col("warc_ts"))
    def q(src: DataFrame): DataFrame = src
      .groupBy(col("host"), (uw - pmod(uw, lit(3600L))).as("bucket_start"))
      .agg(count(lit(1)).as("cnt"),
        sum(length(col("text")).cast("double")).as("sum_len"),
        avg(length(col("text"))).as("mean_len"),
        percentile(length(col("text")), lit(0.5)).as("p50_len"))
      .orderBy("host", "bucket_start")
    withRoutes(pagesRoute) {
      val routed = q(rawPages)
      assert(scannedPaths(routed).exists(_.contains(tierDir)), "pages query not routed")
      val got = routed.collect()
      TierRoute.clear()
      val exp = q(rawPages).collect()
      assert(got.length === exp.length)
      got.zip(exp).foreach { case (g, e) =>
        assert(g.getString(0) === e.getString(0))
        assert(g.getLong(2) === e.getLong(2))
        assert(approxEq(g.getDouble(3), e.getDouble(3)))
        assert(approxEq(g.getDouble(4), e.getDouble(4)))
        assert(approxEq(g.getDouble(5), e.getDouble(5)))
      }
      // utf8_char_count spelling routes too
      TierRoute.register(pagesRoute)
      val viaNative = rawPages.groupBy(col("host"))
        .agg(sum(graft.functions.Utf8CharCountExpr(col("text")).cast("double")).as("s"))
      assert(scannedPaths(viaNative).exists(_.contains(tierDir)))
    }
  }

  test("count(DISTINCT col) routes onto the tier's per-bucket value sets") {
    val dir = Files.createTempDirectory("graft_route_set").toString
    raw.groupBy(col("user_id"), (u - pmod(u, lit(60L))).as("bucket_start"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        min("value").as("min_value"), max("value").as("max_value"),
        collect_set(col("event_type")).as("type_set"))
      .write.mode("overwrite").parquet(dir)
    val setRoute = route("tset", dir, 60L)
      .copy(distinctCol = Some(("event_type", "type_set")))
    def q(src: DataFrame): DataFrame = src
      .groupBy(col("user_id"), (u - pmod(u, lit(3600L))).as("bucket_start"))
      .agg(countDistinct(col("event_type")).as("n_types"), count(lit(1)).as("cnt"))
      .orderBy("user_id", "bucket_start")
    withRoutes(setRoute) {
      val routed = q(raw)
      assert(scannedPaths(routed).exists(_.contains(dir)), "distinct query not routed")
      val got = routed.collect()
      TierRoute.clear()
      assert(got.map(_.toSeq).toSeq === q(raw).collect().map(_.toSeq).toSeq)
    }
    // without distinctCol the distinct aggregate stays on raw
    withRoutes(route("tset2", dir, 60L)) {
      assert(scannedPaths(q(raw)).exists(_.contains("events.parquet")))
    }
  }

  test("durable store routes: daily query reads tier_1d, hourly reads tier_1h") {
    import graft.plans.TierPipeline
    val rawDir = Files.createTempDirectory("graft_store_raw").toString
    graft.functions.Hier.withHierarchy(
        graft.sources.Pages.synthesize(spark, 20000, seed = 11, minutes = 2900))
      .write.mode("overwrite").parquet(rawDir)
    val rawPages = spark.read.parquet(rawDir)
    val cfg = TierPipeline.Config(Files.createTempDirectory("graft_store").toString,
      hostBuckets = 2)
    TierPipeline.buildAll(rawPages, cfg, runId = "routes1")
    val uw = unix_timestamp(col("warc_ts"))
    def daily(src: DataFrame): DataFrame = src
      .groupBy(col("host"), (uw - pmod(uw, lit(86400L))).as("bucket_start"))
      .agg(count(lit(1)).as("cnt"),
        sum(length(col("text")).cast("double")).as("sum_len"),
        countDistinct(col("lang")).as("lang_card"),
        percentile(length(col("text")), lit(0.95)).as("p95_len"))
      .orderBy("host", "bucket_start")
    withRoutes(TierPipeline.routes(spark, cfg, rawPages): _*) {
      val routedDaily = daily(rawPages)
      val paths = scannedPaths(routedDaily)
      assert(paths.exists(_.contains("tier_1d")), s"daily not on tier_1d: $paths")
      val hourly = rawPages
        .groupBy(col("host"), (uw - pmod(uw, lit(3600L))).as("bucket_start"))
        .agg(sum(length(col("text")).cast("double")).as("sum_len"))
      assert(scannedPaths(hourly).exists(_.contains("tier_1h")))
      val got = routedDaily.collect()
      TierRoute.clear()
      val exp = daily(rawPages).collect()
      assert(got.length === exp.length)
      got.zip(exp).foreach { case (g, e) =>
        assert(g.getString(0) === e.getString(0))
        assert(g.getLong(2) === e.getLong(2))
        assert(approxEq(g.getDouble(3), e.getDouble(3)))
        assert(g.getLong(4) === e.getLong(4))
        assert(approxEq(g.getDouble(5), e.getDouble(5)))
      }
    }
  }

  test("avg and count(measure) rewrite only under the non-null contract") {
    val nullable = route("t1m", tier1mPath, 60L).copy(measureNonNull = false)
    withRoutes(nullable) {
      val avgQ = raw.groupBy(col("user_id")).agg(avg("value").as("a"))
      assert(scannedPaths(avgQ).exists(_.contains("events.parquet")))
      val cntM = raw.groupBy(col("user_id")).agg(count(col("value")).as("c"))
      assert(scannedPaths(cntM).exists(_.contains("events.parquet")))
      // count(*) needs no contract — still routed
      val cntStar = raw.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      assert(scannedPaths(cntStar).exists(_.contains(tier1mPath)))
    }
    withRoutes(route("t1m", tier1mPath, 60L)) {
      val avgQ = raw.groupBy(col("user_id")).agg(avg("value").as("a")).orderBy("user_id")
      assert(scannedPaths(avgQ).exists(_.contains(tier1mPath)))
      val got = avgQ.collect()
      TierRoute.clear()
      val exp = raw.groupBy(col("user_id")).agg(avg("value").as("a")).orderBy("user_id").collect()
      got.zip(exp).foreach { case (g, e) => assert(approxEq(g.getDouble(1), e.getDouble(1))) }
    }
  }
}
