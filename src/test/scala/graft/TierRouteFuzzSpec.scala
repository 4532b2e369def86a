package graft

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.TierRoute
import graft.plans.TierRoute.{AttrMeasure, Route}

/** Property fuzz for the TierRoute structural matcher — the one component
  * where a silent mis-match would CORRUPT results rather than error, so the
  * safe-fallback contract ("rewrite iff every piece of the query is
  * recognized, parity always") is asserted over ~1.1k randomly generated
  * query shapes instead of a handful of hand-picked ones.
  *
  * Each trial assembles a random aggregate query over the raw events scan
  * from independently-sampled components (dimension / bucket-width /
  * aggregate / predicate choices), each tagged a-priori eligible or
  * ineligible per the rule's documented contract. Asserts:
  *   1. rewrite-iff-eligible: the optimized plan scans the tier exactly
  *      when every sampled component is eligible;
  *   2. parity-with-raw on EVERY rewrite: the routed result equals the
  *      unrouted result row-for-row (1e-9 on doubles).
  *
  * This suite caught a real matcher hole on first run: an unmapped
  * aggregate over a grouping dimension (count/sum/count-distinct of
  * `user_id` while grouped by `user_id`) had its ARGUMENT rewritten to the
  * tier attribute by the grouping-substitution pass and then slipped the
  * output-reference check — counting TIER rows instead of raw rows. Fixed
  * by requiring every AggregateExpression to be individually mappable
  * (TierRoute.rewriteWith allMapped guard).
  */
class TierRouteFuzzSpec extends SparkSuite {

  private lazy val raw: DataFrame = spark.read.parquet(s"$sfDir/events.parquet")
  private def u = unix_timestamp(col("ts"))

  private lazy val tierPath: String = {
    val dir = Files.createTempDirectory("graft_route_fuzz").toString
    raw.groupBy(col("user_id"), (u - pmod(u, lit(60L))).as("bucket_start"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        min("value").as("min_value"), max("value").as("max_value"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def mkRoute: Route = Route(name = "fuzz1m", raw = raw,
    tierSeconds = 60L, tier = () => spark.read.parquet(tierPath),
    groupCols = Seq("user_id"), tsCol = "ts", measure = AttrMeasure("value"),
    measureNonNull = true)

  test("fuzz: rewrite-iff-eligible + parity on every rewrite (1100 shapes)") {
    val rnd = new scala.util.Random(20260820L)
    val base = 1704067200L // 2024-01-01T00:00:00Z, 60s-aligned
    TierRoute.clear()
    TierRoute.install(spark)
    val route = mkRoute
    // touch the lazy tier build once before the loop
    assert(new java.io.File(tierPath).exists())

    var nRewritten = 0
    var nKept = 0

    (1 to 1100).foreach { trial =>
      val parts = Seq.newBuilder[String]
      var eligible = true
      def note(d: String, ok: Boolean): Unit = {
        parts += (if (ok) d else d + "!"); if (!ok) eligible = false
      }

      // ---- sample the shape (decisions only — columns rebuilt per plan) ----
      val dimChoice = rnd.nextInt(4)       // 0 none, 1-2 user_id, 3 event_type
      val bucketChoice = rnd.nextInt(10)
      val alignedW = Seq(60L, 120L, 300L, 3600L, 86400L)(rnd.nextInt(5))
      val misW = Seq(45L, 90L, 61L, 3599L)(rnd.nextInt(4))
      val aggPool: Seq[(String, () => Column, Boolean)] = Seq(
        ("count_star", () => count(lit(1)), true),
        ("count_val", () => count(col("value")), true),
        ("sum_val", () => sum(col("value")), true),
        ("min_val", () => min(col("value")), true),
        ("max_val", () => max(col("value")), true),
        ("avg_val", () => avg(col("value")), true),
        ("stddev_val", () => stddev_pop(col("value")), false),
        ("sum_id", () => sum(col("event_id")), false),
        ("cntd_type", () => countDistinct(col("event_type")), false),
        ("p50_val", () => percentile(col("value"), lit(0.5)), false),
        ("count_dim", () => count(col("user_id")), false),
        ("sum_dim", () => sum(col("user_id")), false),
        ("cntd_dim", () => countDistinct(col("user_id")), false))
      // 40% of trials draw aggregates from the eligible pool only —
      // unbiased independent sampling makes all-eligible shapes too rare
      // (~8%) for the rewrite side of the property to be well-exercised
      val drawPool = if (rnd.nextInt(10) < 4) aggPool.filter(_._3) else aggPool
      val pickedAggs = rnd.shuffle(drawPool).take(1 + rnd.nextInt(3))
      val filterChoices = Seq.fill(rnd.nextInt(3))(
        (rnd.nextInt(5), rnd.nextInt(72)))

      // record eligibility notes once
      dimChoice match {
        case 1 | 2 => note("g:user", true)
        case 3     => note("g:etype", false)
        case _     => ()
      }
      bucketChoice match {
        case 0 | 1 | 2 | 3 => note(s"b:$alignedW", true)
        case 4 | 5         => note(s"b:$misW", false)
        case 6             => note("b:weird", false)
        case 7             => note("b:two", false)
        case _             => ()
      }
      pickedAggs.foreach { case (n, _, ok) => note(s"a:$n", ok) }
      filterChoices.foreach {
        case (0, _) => note("f:ge", true)
        case (1, _) => note("f:lt", true)
        case (2, _) => note("f:mis", false)
        case (3, _) => note("f:dim", true)
        case (4, _) => note("f:etype", false)
      }
      val desc = s"trial $trial: ${parts.result().mkString(" ")}"

      // ---- plan builder (fresh DataFrame per call: queryExecution caches) ----
      var sortCols = Seq.empty[String]
      def build(): DataFrame = {
        sortCols = Seq.empty
        val groupExprs = Seq.newBuilder[Column]
        dimChoice match {
          case 1 | 2 => groupExprs += col("user_id"); sortCols :+= "user_id"
          case 3     => groupExprs += col("event_type"); sortCols :+= "event_type"
          case _     => ()
        }
        bucketChoice match {
          case 0 | 1 | 2 | 3 =>
            groupExprs += (u - pmod(u, lit(alignedW))).as("bucket")
            sortCols :+= "bucket"
          case 4 | 5 =>
            groupExprs += (u - pmod(u, lit(misW))).as("bucket")
            sortCols :+= "bucket"
          case 6 =>
            groupExprs += (u - pmod(u + lit(1L), lit(60L))).as("bucket")
            sortCols :+= "bucket"
          case 7 =>
            groupExprs += (u - pmod(u, lit(60L))).as("b1")
            groupExprs += (u - pmod(u, lit(3600L))).as("b2")
            sortCols = sortCols ++ Seq("b1", "b2")
          case _ => ()
        }
        val aggs = pickedAggs.map { case (n, c, _) => c().as(n) }
        val conds: Seq[Column] = filterChoices.map {
          case (0, k) => u >= lit(base + k * 3600L)
          case (1, k) => u < lit(base + (k + 1) * 3600L)
          case (2, k) => u >= lit(base + k * 3600L + 30L)
          case (3, _) => col("user_id") % 2 === 0
          case (4, _) => col("event_type") === "click"
        }
        val src = conds.foldLeft(raw)((d, c) => d.filter(c))
        val grouped = groupExprs.result()
        if (grouped.isEmpty) src.agg(aggs.head, aggs.tail: _*)
        else src.groupBy(grouped: _*).agg(aggs.head, aggs.tail: _*)
      }

      TierRoute.register(route)
      val routedDf = build()
      val scanned = TierRoute.relationPaths(routedDf.queryExecution.optimizedPlan)
      val wasRewritten = scanned.exists(_.contains(tierPath))
      assert(wasRewritten === eligible,
        s"$desc — expected eligible=$eligible but scanned $scanned")
      if (wasRewritten) {
        assert(!scanned.exists(_.contains("events.parquet")),
          s"$desc — rewrite left the raw scan in place: $scanned")
        nRewritten += 1
        def rows(df: DataFrame) = (sortCols match {
          case Nil => df
          case cs  => df.orderBy(cs.map(col): _*)
        }).collect()
        val got = rows(routedDf)
        TierRoute.clear()
        val exp = rows(build())
        assert(got.length === exp.length, s"$desc — row count mismatch")
        got.zip(exp).foreach { case (g, e) =>
          g.toSeq.zip(e.toSeq).foreach {
            case (d1: Double, d2: Double) =>
              assert(approxEq(d1, d2), s"$desc — $d1 != $d2 in $g vs $e")
            case (v1, v2) => assert(v1 === v2, s"$desc — $v1 != $v2")
          }
        }
      } else nKept += 1
      TierRoute.clear()
    }
    // the generator must exercise both sides heavily or the property is vacuous
    assert(nRewritten >= 100, s"degenerate generator: only $nRewritten rewrites")
    assert(nKept >= 100, s"degenerate generator: only $nKept fallbacks")
    info(s"fuzz: $nRewritten rewritten (parity-checked), $nKept kept raw")
  }

  test("fuzz: block-percentile + distinct-set route arms (400 shapes)") {
    val rnd = new scala.util.Random(4042026L)
    TierRoute.clear()
    TierRoute.install(spark)
    // tier that carries the Gorilla block AND the per-bucket value set, so
    // percentile(0.5/0.95) and count(DISTINCT event_type) become eligible
    val dir = Files.createTempDirectory("graft_route_fuzz_blk").toString
    raw.groupBy(col("user_id"), (u - pmod(u, lit(60L))).as("bucket_start"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        min("value").as("min_value"), max("value").as("max_value"),
        collect_set(col("event_type")).as("type_set"),
        graft.functions.codec.BlockAgg.points(u, col("value")).as("m"))
      .withColumn("block", col("m.block")).drop("m")
      .write.mode("overwrite").parquet(dir)
    val route = mkRoute.copy(name = "fuzzblk", tier = () => spark.read.parquet(dir),
      blockCol = Some("block"), distinctCol = Some(("event_type", "type_set")))

    var nRewritten = 0
    var nKept = 0
    (1 to 400).foreach { trial =>
      val parts = Seq.newBuilder[String]
      var eligible = true
      def note(d: String, ok: Boolean): Unit = {
        parts += (if (ok) d else d + "!"); if (!ok) eligible = false
      }
      val dimChoice = rnd.nextInt(3)    // 0 none, 1-2 user_id
      val bucketChoice = rnd.nextInt(6) // 0-2 aligned, 3 misaligned, 4-5 none
      val alignedW = Seq(60L, 300L, 3600L)(rnd.nextInt(3))
      val aggPool: Seq[(String, () => Column, Boolean)] = Seq(
        ("p50_val", () => percentile(col("value"), lit(0.5)), true),
        ("p95_val", () => percentile(col("value"), lit(0.95)), true),
        ("p90_val", () => percentile(col("value"), lit(0.9)), false),
        ("cntd_type", () => countDistinct(col("event_type")), true),
        ("cntd_val", () => countDistinct(col("value")), false),
        ("count_star", () => count(lit(1)), true),
        ("sum_val", () => sum(col("value")), true),
        ("avg_val", () => avg(col("value")), true),
        ("stddev_val", () => stddev_pop(col("value")), false))
      val drawPool = if (rnd.nextInt(10) < 5) aggPool.filter(_._3) else aggPool
      val pickedAggs = rnd.shuffle(drawPool).take(1 + rnd.nextInt(3))
      dimChoice match {
        case 1 | 2 => note("g:user", true)
        case _     => ()
      }
      bucketChoice match {
        case 0 | 1 | 2 => note(s"b:$alignedW", true)
        case 3         => note("b:90", false)
        case _         => ()
      }
      pickedAggs.foreach { case (n, _, ok) => note(s"a:$n", ok) }
      val desc = s"blk trial $trial: ${parts.result().mkString(" ")}"

      var sortCols = Seq.empty[String]
      def build(): DataFrame = {
        sortCols = Seq.empty
        val groupExprs = Seq.newBuilder[Column]
        dimChoice match {
          case 1 | 2 => groupExprs += col("user_id"); sortCols :+= "user_id"
          case _     => ()
        }
        bucketChoice match {
          case 0 | 1 | 2 =>
            groupExprs += (u - pmod(u, lit(alignedW))).as("bucket")
            sortCols :+= "bucket"
          case 3 =>
            groupExprs += (u - pmod(u, lit(90L))).as("bucket")
            sortCols :+= "bucket"
          case _ => ()
        }
        val aggs = pickedAggs.map { case (n, c, _) => c().as(n) }
        val grouped = groupExprs.result()
        if (grouped.isEmpty) raw.agg(aggs.head, aggs.tail: _*)
        else raw.groupBy(grouped: _*).agg(aggs.head, aggs.tail: _*)
      }

      TierRoute.register(route)
      val routedDf = build()
      val scanned = TierRoute.relationPaths(routedDf.queryExecution.optimizedPlan)
      val wasRewritten = scanned.exists(_.contains(dir))
      assert(wasRewritten === eligible,
        s"$desc — expected eligible=$eligible but scanned $scanned")
      if (wasRewritten) {
        nRewritten += 1
        def rows(df: DataFrame) = (sortCols match {
          case Nil => df
          case cs  => df.orderBy(cs.map(col): _*)
        }).collect()
        val got = rows(routedDf)
        TierRoute.clear()
        val exp = rows(build())
        assert(got.length === exp.length, s"$desc — row count mismatch")
        got.zip(exp).foreach { case (g, e) =>
          g.toSeq.zip(e.toSeq).foreach {
            case (d1: Double, d2: Double) =>
              assert(approxEq(d1, d2), s"$desc — $d1 != $d2")
            case (v1, v2) => assert(v1 === v2, s"$desc — $v1 != $v2")
          }
        }
      } else nKept += 1
      TierRoute.clear()
    }
    assert(nRewritten >= 60, s"degenerate generator: only $nRewritten rewrites")
    assert(nKept >= 60, s"degenerate generator: only $nKept fallbacks")
    info(s"blk fuzz: $nRewritten rewritten (parity-checked), $nKept kept raw")
  }
}
