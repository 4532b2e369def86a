package graft

import org.apache.spark.sql.functions._
import graft.sources.Pages
import graft.functions.Hier
import graft.operators.Rollup

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

  test("tier1m -> 5m -> 1h -> 1d cascade is a single-shuffle plan") {
    val pages = Hier.withHierarchy(Pages.synthesize(spark, 5000L, seed = 7L))
    val t1d = Seq(300L, 3600L, 86400L).foldLeft(Rollup.tier1m(pages))(Rollup.promote(_, _))
    val plan = finalPlan(t1d).split("== Initial Plan ==")(0)
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"the tier cascade should shuffle exactly once (got $exchanges):\n$plan")
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
    val plan = finalPlan(hh).split("== Initial Plan ==")(0)
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
    val plan = finalPlan(diff).split("== Initial Plan ==")(0)
    // both row-level sides must be pruned by a broadcast LeftSemi on the
    // (≤ buckets)-row differing-bucket list — at 100 TB this is what keeps
    // the pk-level full-outer join from shuffling the full snapshots
    val semis = "BroadcastHashJoin.*LeftSemi".r.findAllIn(plan).size
    assert(semis >= 2, s"expected 2 broadcast semi-join gates, got $semis:\n$plan")
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
    val plan = finalPlan(
      graft.operators.Interpret.linearShap2(daily, Seq("user_id"), "x1", "x2", "vc"))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"the one-row-per-key fit must broadcast, never shuffle the fact side:\n$plan")
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
