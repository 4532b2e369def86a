package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Pages
import graft.functions.Hier
import graft.operators.Rollup

/** Tier rollup correctness: tier consistency (promotion == direct), salting
  * invariance, hierarchy-rollup totals, per-url text invariant (FIXTURES.md §5,
  * BASELINE.json correctness gate).
  */
class RollupSpec extends SparkSuite {
  import Rollup._

  lazy val pages = Hier.withHierarchy(Pages.synthesize(spark, 5000L, seed = 7L)).cache()
  lazy val t1m = tier1m(pages).cache()

  test("page generator is deterministic and has required shape") {
    val again = Hier.withHierarchy(Pages.synthesize(spark, 5000L, seed = 7L))
    assert(pages.exceptAll(again).isEmpty && again.exceptAll(pages).isEmpty)
    assert(pages.count() == 5000)
    val langs = pages.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs.contains(null) && langs.size == 6)
    assert(pages.filter(length(col("text")) === 0).count() > 0, "needs empty texts")
  }

  test("per-row invariant: extracted text is byte-identical per url") {
    val bad = pages.filter(sha2(Pages.extractText(col("html")), 256) =!= sha2(col("text"), 256))
    assert(bad.count() == 0)
  }

  test("gap buckets exist (minute slots ≡ 3 mod 7 are empty)") {
    val minutes = pages.select(((unix_timestamp(col("warc_ts")) - Pages.Epoch) / 60).cast("long").as("m"))
      .filter(pmod(col("m"), lit(7L)) === 3).count()
    assert(minutes == 0)
  }

  test("tier1m matches a direct SQL aggregate") {
    val direct = Rollup.textLen(pages)
      .groupBy(col("host"), window(col("warc_ts"), "1 minute"))
      .agg(count(lit(1)).as("d_cnt"), sum(col("text_len")).as("s"),
        percentile(col("text_len"), lit(0.5)).as("p50"))
    val joined = t1m.select(col("host"), col("bucket_start"), col("cnt"), col("sum_len"), col("p50_len"))
      .join(direct.withColumn("bucket_start", unix_timestamp(col("window.start"))),
        Seq("host", "bucket_start"))
    val n = joined.count()
    assert(n == t1m.count() && n == direct.count())
    val bad = joined.filter(col("cnt") =!= col("d_cnt") || abs(col("sum_len") - col("s")) > 1e-9 ||
      abs(col("p50_len") - col("p50")) > 1e-9).count()
    assert(bad == 0)
  }

  test("tier consistency: promoted 5m/1h/1d match direct aggregation from raw") {
    for (t <- Tiers.tail) {
      val promoted = allTiers(pages)(t.name)
      val direct = Rollup.textLen(pages)
        .groupBy(col("tld"), col("registered_domain"), col("host"),
          window(col("warc_ts"), s"${t.seconds} seconds").as("w"))
        .agg(count(lit(1)).as("d_cnt"), sum(col("text_len")).as("d_sum"),
          min(col("text_len")).as("d_min"), max(col("text_len")).as("d_max"),
          percentile(col("text_len"), lit(0.5)).as("d_p50"),
          percentile(col("text_len"), lit(0.95)).as("d_p95"),
          countDistinct(col("lang")).as("d_card"))
        .withColumn("bucket_start", unix_timestamp(col("w.start")))
      val j = promoted.join(direct, Seq("tld", "registered_domain", "host", "bucket_start"), "full_outer")
      assert(j.filter(col("cnt").isNull || col("d_cnt").isNull).count() == 0, s"bucket mismatch at ${t.name}")
      val bad = j.filter(
        col("cnt") =!= col("d_cnt") || abs(col("sum_len") - col("d_sum")) > 1e-9 ||
          col("min_len") =!= col("d_min") || col("max_len") =!= col("d_max") ||
          abs(col("p50_len") - col("d_p50")) > 1e-9 || abs(col("p95_len") - col("d_p95")) > 1e-9 ||
          col("lang_card") =!= col("d_card") ||
          abs(col("mean_len") - col("d_sum") / col("d_cnt")) > 1e-9)
      assert(bad.count() == 0, s"measure mismatch at tier ${t.name}")
    }
  }

  test("salting invariance: salted tier1m == unsalted") {
    def measures(df: org.apache.spark.sql.DataFrame) = df.select(col("host"), col("bucket_start"),
      col("cnt"), col("sum_len"), col("min_len"), col("max_len"), col("p50_len"), col("p95_len"),
      col("lang_card"), sha2(col("block"), 256).as("block_sha"))
    val j = measures(tier1mSalted(pages, s = 8)).alias("a")
      .join(measures(t1m).alias("b"), Seq("host", "bucket_start"), "full_outer")
    assert(j.filter(col("a.cnt").isNull || col("b.cnt").isNull).count() == 0)
    val bad = j.filter(col("a.cnt") =!= col("b.cnt") ||
      abs(col("a.sum_len") - col("b.sum_len")) > 1e-9 ||
      col("a.min_len") =!= col("b.min_len") ||
      col("a.max_len") =!= col("b.max_len") ||
      abs(col("a.p50_len") - col("b.p50_len")) > 1e-9 ||
      abs(col("a.p95_len") - col("b.p95_len")) > 1e-9 ||
      col("a.lang_card") =!= col("b.lang_card") ||
      col("a.block_sha") =!= col("b.block_sha")).count()
    assert(bad == 0)
  }

  test("salted two-phase merge equals direct merge at a coarse level") {
    val direct = rollupHierarchy(t1m, Seq("tld", "registered_domain", "host"))
      .filter(col("grouping_level") === 1)
      .select("tld", "bucket_start", "cnt", "sum_len", "p50_len", "p95_len", "lang_card")
    val salted = Rollup.mergePartialsSalted(t1m, Seq("tld"), s = 4)
      .select("tld", "bucket_start", "cnt", "sum_len", "p50_len", "p95_len", "lang_card")
    val j = salted.alias("a").join(direct.alias("b"), Seq("tld", "bucket_start"), "full_outer")
    assert(j.filter(col("a.cnt").isNull || col("b.cnt").isNull).count() == 0)
    assert(j.filter(col("a.cnt") =!= col("b.cnt") ||
      abs(col("a.sum_len") - col("b.sum_len")) > 1e-9 ||
      abs(col("a.p50_len") - col("b.p50_len")) > 1e-9 ||
      abs(col("a.p95_len") - col("b.p95_len")) > 1e-9 ||
      col("a.lang_card") =!= col("b.lang_card")).count() == 0)
  }

  test("upsertPoints: late-data merge equals rebuilding the tier from all points") {
    // split the corpus 80/20 on a url hash; the 20% arrives "late"
    val isLate = pmod(xxhash64(col("url")), lit(5L)) === 0L
    val tierBase = tier1m(pages.filter(!isLate))
    val latePart = tier1m(pages.filter(isLate))
    val upserted = upsertPoints(tierBase, latePart, Seq("tld", "registered_domain", "host"))
      .select("host", "bucket_start", "cnt", "sum_len", "min_len", "max_len",
        "p50_len", "p95_len", "lang_card")
    val full = t1m
      .select("host", "bucket_start", "cnt", "sum_len", "min_len", "max_len",
        "p50_len", "p95_len", "lang_card")
    val j = upserted.alias("a").join(full.alias("b"), Seq("host", "bucket_start"), "full_outer")
    assert(j.filter(col("a.cnt").isNull || col("b.cnt").isNull).count() == 0)
    assert(j.filter(col("a.cnt") =!= col("b.cnt") ||
      abs(col("a.sum_len") - col("b.sum_len")) > 1e-9 ||
      col("a.min_len") =!= col("b.min_len") ||
      col("a.max_len") =!= col("b.max_len") ||
      abs(col("a.p50_len") - col("b.p50_len")) > 1e-9 ||
      abs(col("a.p95_len") - col("b.p95_len")) > 1e-9 ||
      col("a.lang_card") =!= col("b.lang_card")).count() == 0)
  }

  test("Utf8CharCountExpr equals length() on multi-byte unicode") {
    import spark.implicits._
    val texts = Seq("", "ascii only", "héllo wörld", "中文字符测试", "emoji 🙂🎉 mix",
      "mixed é中🙂x", "a" * 5000, "日本語テキスト" * 100)
    val df = texts.toDF("t")
      .select(graft.functions.Utf8CharCountExpr(col("t")).as("fast"),
        length(col("t")).cast("long").as("builtin"))
    assert(df.filter(col("fast") =!= col("builtin")).count() === 0)
  }

  test("hierarchy rollup: global level equals whole-bucket aggregate") {
    val r = rollupHierarchy(t1m, Seq("tld", "registered_domain", "host"))
    val global = r.filter(col("grouping_level") === 0)
    val direct = Rollup.textLen(pages)
      .groupBy(window(col("warc_ts"), "1 minute").as("w"))
      .agg(count(lit(1)).as("d_cnt"), percentile(col("text_len"), lit(0.95)).as("d_p95"))
      .withColumn("bucket_start", unix_timestamp(col("w.start")))
    val j = global.join(direct, Seq("bucket_start"), "full_outer")
    assert(j.filter(col("cnt").isNull || col("d_cnt").isNull).count() == 0)
    assert(j.filter(col("cnt") =!= col("d_cnt") || abs(col("p95_len") - col("d_p95")) > 1e-9).count() == 0)
  }

  test("coverage: disjoint, exact, coarsest-possible segments") {
    // whole day → single 1d segment
    assert(coverage(0L, 86400L) == Seq(Segment("1d", 0L, 86400L)))
    // misaligned ends walk down the tier ladder
    val segs = coverage(60L, 90000L)
    // concatenation covers [60, 90000) exactly, in order, with no overlap
    assert(segs.head.startSec == 60L && segs.last.endSec == 90000L)
    assert(segs.sliding(2).forall { case Seq(a, b) => a.endSec == b.startSec; case _ => true })
    // every segment is aligned to (and non-empty in) its own tier width
    val width = Tiers.map(t => t.name -> t.seconds).toMap
    assert(segs.forall(s => s.startSec % width(s.tier) == 0 &&
      s.endSec % width(s.tier) == 0 && s.endSec > s.startSec))
    // coarsest-possible: a segment never spans a whole bucket of a coarser tier
    assert(segs.forall { s =>
      Tiers.filter(_.seconds > width(s.tier)).forall { coarse =>
        val lo = ((s.startSec + coarse.seconds - 1) / coarse.seconds) * coarse.seconds
        lo + coarse.seconds > s.endSec
      }
    })
    // unaligned endpoints rejected
    intercept[IllegalArgumentException](coverage(30L, 86400L))
  }

  test("readRange: stitched multi-tier read equals direct aggregate from raw") {
    // 4-day corpus so the cover has a 1d interior plus 1h and 1m edges
    val pages4d = graft.functions.Hier.withHierarchy(
      Pages.synthesize(spark, 8000L, seed = 11L, minutes = 5760)).cache()
    val tiers = allTiers(pages4d)
    val start = Pages.Epoch + 3 * 3600 + 7 * 60       // day 1, 03:07
    val end = Pages.Epoch + 2 * 86400 + 5 * 3600 + 120 // day 3, 05:02
    val segs = coverage(start, end, Tiers.filter(t => tiers.contains(t.name)))
    assert(segs.map(_.tier).toSet == Set("1m", "5m", "1h", "1d"))
    val stitched = readRange(tiers, start, end)
    val direct = Rollup.textLen(pages4d)
      .filter(unix_timestamp(col("warc_ts")) >= start && unix_timestamp(col("warc_ts")) < end)
      .groupBy(col("tld"), col("registered_domain"), col("host"))
      .agg(count(lit(1)).as("d_cnt"), sum(col("text_len")).as("d_sum"),
        min(col("text_len")).as("d_min"), max(col("text_len")).as("d_max"),
        percentile(col("text_len"), lit(0.5)).as("d_p50"),
        percentile(col("text_len"), lit(0.95)).as("d_p95"),
        size(collect_set(col("lang"))).cast("long").as("d_card"))
    val j = stitched.join(direct, Seq("tld", "registered_domain", "host"), "full_outer")
    assert(j.filter(col("cnt").isNull || col("d_cnt").isNull).count() == 0)
    assert(j.filter(col("cnt") =!= col("d_cnt") ||
      abs(col("sum_len") - col("d_sum")) > 1e-9 ||
      abs(col("min_len") - col("d_min")) > 1e-9 ||
      abs(col("max_len") - col("d_max")) > 1e-9 ||
      abs(col("p50_len") - col("d_p50")) > 1e-9 ||
      abs(col("p95_len") - col("d_p95")) > 1e-9 ||
      col("lang_card") =!= col("d_card")).count() == 0)
    assert(stitched.select("range_start").head.getLong(0) == start)
    pages4d.unpersist()
  }

  test("readSeries: dense step grid, holes cnt=0/null, parity with direct agg") {
    val pages = graft.functions.Hier.withHierarchy(
      Pages.synthesize(spark, 4000L, seed = 13L, minutes = 2880)).cache()
    val tiers = allTiers(pages)
    val start = Pages.Epoch
    val end = Pages.Epoch + 86400L // one day at 90-min steps → 16 buckets
    val series = readSeries(tiers, start, end, stepSeconds = 5400L).cache()
    // dense: every group in range has exactly 16 rows
    val perGroup = series.groupBy("tld", "registered_domain", "host").count()
    assert(perGroup.filter(col("count") =!= 16L).count() == 0)
    // empty buckets carry cnt=0 and null measures
    assert(series.filter(col("cnt") === 0 && col("sum_len").isNotNull).count() == 0)
    // non-empty buckets match a direct raw aggregation at the step grain
    val direct = Rollup.textLen(pages)
      .withColumn("sec", unix_timestamp(col("warc_ts")))
      .filter(col("sec") >= start && col("sec") < end)
      .groupBy(col("tld"), col("registered_domain"), col("host"),
        (col("sec") - pmod(col("sec"), lit(5400L))).as("bucket_start"))
      .agg(count(lit(1)).as("d_cnt"), sum(col("text_len")).as("d_sum"),
        percentile(col("text_len"), lit(0.95)).as("d_p95"))
    val j = series.filter(col("cnt") > 0)
      .join(direct, Seq("tld", "registered_domain", "host", "bucket_start"), "full_outer")
    assert(j.filter(col("cnt").isNull || col("d_cnt").isNull).count() == 0)
    assert(j.filter(col("cnt") =!= col("d_cnt") ||
      abs(col("sum_len") - col("d_sum")) > 1e-9 ||
      abs(col("p95_len") - col("d_p95")) > 1e-9).count() == 0)
    series.unpersist(); pages.unpersist()
  }

  /** The per-user 1m aggregate the events entries (q62, q110, q121, q284)
    * each wrote out by hand before [[Rollup.tier1mOfPoints]]; kept here as
    * the reference that tier-1 over non-page points is held to.
    */
  private def entryTier1m(events: DataFrame): DataFrame = events
    .withColumn("ts_sec", unix_timestamp(col("ts")))
    .withColumn("bucket_start", col("ts_sec") - pmod(col("ts_sec"), lit(60L)))
    .groupBy(col("user_id"), col("bucket_start"))
    .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_len"),
      min(col("value")).as("min_len"), max(col("value")).as("max_len"),
      collect_set(col("event_type")).as("lang_set"),
      graft.functions.codec.BlockAgg.points(col("ts_sec"), col("value")).as("m"))
    .withColumn("mean_len", col("sum_len") / col("cnt"))
    .withColumn("lang_card", size(col("lang_set")).cast("long"))
    .withColumn("p50_len", col("m.p50")).withColumn("p95_len", col("m.p95"))
    .withColumn("block", col("m.block")).drop("m")

  test("tier1mOfPoints over events equals the hand-written per-user aggregate") {
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    def rows(t: DataFrame): DataFrame = t.select(col("user_id"), col("bucket_start"),
      col("cnt"), col("sum_len"), col("min_len"), col("max_len"), col("mean_len"),
      col("lang_card"), col("p50_len"), col("p95_len"), sha2(col("block"), 256).as("block_sha"),
      array_sort(col("lang_set")).as("langs"))
    val ref = rows(entryTier1m(events)).cache()
    val j = rows(EntryHelpers.userTier1m(events)).alias("a")
      .join(ref.alias("b"), Seq("user_id", "bucket_start"), "full_outer")
    assert(ref.count() > 0)
    assert(j.filter(col("a.cnt").isNull || col("b.cnt").isNull).count() == 0)
    // the sums follow the shuffle's row order, so they match to 1e-9 as
    // elsewhere in this suite; everything else matches exactly
    assert(j.filter(col("a.cnt") =!= col("b.cnt") ||
      abs(col("a.sum_len") - col("b.sum_len")) > 1e-9 ||
      abs(col("a.mean_len") - col("b.mean_len")) > 1e-9 ||
      col("a.min_len") =!= col("b.min_len") || col("a.max_len") =!= col("b.max_len") ||
      col("a.lang_card") =!= col("b.lang_card") ||
      col("a.p50_len") =!= col("b.p50_len") || col("a.p95_len") =!= col("b.p95_len") ||
      col("a.block_sha") =!= col("b.block_sha") || col("a.langs") =!= col("b.langs")).count() == 0)
    ref.unpersist()
  }
}
