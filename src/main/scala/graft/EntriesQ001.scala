package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Pages
import graft.functions.Hier
import graft.operators.{Conformal, CrossVal, Dedup, Encoding, Ewma, Features, GapFill, Hist, Intervals, Metrics, Multimodal, Profile, Rollup, Sax, Scalers, Similarity, TextAnalysis}
import graft.EntryHelpers._

/** SparkEntry queries q001–q098 with their DuckDB oracle twins,
  * split from the former single-file map (round-4 maintainability item:
  * entries and oracles live side by side per file so a mispaired oracle
  * is caught by the duplicate/coverage checks in [[SparkEntry]]).
  */
private[graft] object EntriesQ001 extends EntryPart {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // §2.4 hierarchical agg — TPC-H-style pricing summary (scan+filter+agg)
    "q01_pricing_summary" -> ((s, dir) => {
      li(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          r6(sum(col("l_quantity"))).as("sum_qty"),
          r6(sum(col("l_extendedprice"))).as("sum_base_price"),
          r6(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price"),
          r6(avg(col("l_quantity"))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // §2.4 tier-1 continuous aggregate: 1-minute tumbling window per user
    "q02_rollup_1m" -> ((s, dir) => {
      ev(s, dir)
        .groupBy(col("user_id"), window(col("ts"), "1 minute").as("w"))
        .agg(count(lit(1)).as("cnt"), r6(sum(col("value"))).as("sum_value"),
          r6(min(col("value"))).as("min_value"), r6(max(col("value"))).as("max_value"))
        .withColumn("bucket_start", unix_timestamp(col("w.start")))
        .drop("w")
        .select("user_id", "bucket_start", "cnt", "sum_value", "min_value", "max_value")
        .orderBy("user_id", "bucket_start")
    }),

    // §4.3 tier promotion: 1m tier re-aggregated associatively to 1h;
    // oracle computes 1h directly from raw — validates promotion exactness.
    "q03_tier_promote_1h" -> ((s, dir) => {
      val t1m = ev(s, dir)
        .groupBy(col("user_id"), window(col("ts"), "1 minute").as("w"))
        .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sv"),
          min(col("value")).as("mn"), max(col("value")).as("mx"))
        .withColumn("b1m", unix_timestamp(col("w.start")))
      t1m.groupBy(col("user_id"), (col("b1m") - pmod(col("b1m"), lit(3600L))).as("bucket_start"))
        .agg(sum(col("cnt")).as("cnt"), r6(sum(col("sv"))).as("sum_value"),
          r6(min(col("mn"))).as("min_value"), r6(max(col("mx"))).as("max_value"))
        .withColumn("mean_value", r6(col("sum_value") / col("cnt")))
        .orderBy("user_id", "bucket_start")
    }),

    // §2.4 exact percentiles (p50/p95) per group
    "q04_percentiles" -> ((s, dir) => {
      ev(s, dir)
        .groupBy(col("event_type"))
        .agg(r6(percentile(col("value"), lit(0.5))).as("p50"),
          r6(percentile(col("value"), lit(0.95))).as("p95"),
          count(lit(1)).as("cnt"))
        .orderBy("event_type")
    }),

    // §2.4 GROUPING SETS / rollup across a 2-level hierarchy
    "q05_grouping_sets" -> ((s, dir) => {
      ev(s, dir)
        .rollup(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("cnt"), r6(sum(col("value"))).as("sum_value"),
          grouping_id(col("event_type"), col("user_id")).as("lvl"))
        .orderBy(col("lvl"), col("event_type"), col("user_id"))
    }),

    // §2.4 lang cardinality + text-length measures per source
    "q06_lang_card" -> ((s, dir) => {
      docs(s, dir)
        .groupBy(col("source"))
        .agg(countDistinct(col("lang")).as("lang_card"),
          count(lit(1)).as("cnt"),
          sum(length(col("text")).cast("long")).as("sum_len"),
          r6(avg(col("n_chars"))).as("avg_chars"))
        .orderBy("source")
    }),

    // §2.5 per-group lag (anti-leak k>=1)
    "q07_lag" -> ((s, dir) => {
      Features.lagFeatures(ev(s, dir), Seq("user_id"), "event_id", Seq("value"), Seq(1))
        .select(col("user_id"), col("event_id"), r6(col("value_lag1")).as("value_lag1"))
        .orderBy("user_id", "event_id")
    }),

    // §2.5 per-group difference
    "q08_diff" -> ((s, dir) => {
      Features.differenceFeatures(ev(s, dir), Seq("user_id"), "event_id", Seq("value"), Seq(3))
        .select(col("user_id"), col("event_id"), r6(col("value_diff3")).as("value_diff3"))
        .orderBy("user_id", "event_id")
    }),

    // §2.5 percent change of the lagged series, ±inf -> null
    "q09_pct_change" -> ((s, dir) => {
      Features.percentChange(ev(s, dir), Seq("user_id"), "event_id", Seq("value"), Seq(1))
        .select(col("user_id"), col("event_id"), r6(col("value_pct_change1")).as("pct_change1"))
        .orderBy("user_id", "event_id")
    }),

    // §2.4 time-based rolling stats over a 7-day range frame
    "q10_rolling_7d" -> ((s, dir) => {
      val frame = Features.rangeW(Seq("user_id"), "ts").rangeBetween(-604800L, 0L)
      ev(s, dir)
        .withColumn("roll_cnt", count(col("value")).over(frame))
        .withColumn("roll_sum", r6(sum(col("value")).over(frame)))
        .withColumn("roll_min", r6(min(col("value")).over(frame)))
        .withColumn("roll_max", r6(max(col("value")).over(frame)))
        .select("user_id", "event_id", "roll_cnt", "roll_sum", "roll_min", "roll_max")
        .orderBy("user_id", "event_id")
    }),

    // §2.5/§2.9 LOCF forward-fill (nulls injected deterministically)
    "q11_locf" -> ((s, dir) => {
      val withNulls = ev(s, dir)
        .withColumn("v", when(pmod(col("event_id"), lit(7L)) === 0, lit(null)).otherwise(col("value")))
      Features.forwardFill(withNulls, Seq("user_id"), "event_id", Seq("v"))
        .select(col("user_id"), col("event_id"), r6(col("v")).as("v_filled"))
        .orderBy("user_id", "event_id")
    }),

    // §2.9 gap-fill: daily grid per user over the global span
    "q12_gapfill" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value")).as("sv"))
      GapFill.fillTimeGaps(daily, Seq("user_id"), "day", 86400L)
        .select(col("user_id"), unix_timestamp(col("day")).as("day_sec"),
          r6(coalesce(col("sv"), lit(-1.0))).as("sv_filled"))
        .orderBy("user_id", "day_sec")
    }),

    // §2.5 days since first observation per group
    "q13_days_since_first" -> ((s, dir) => {
      Features.daysSinceRelease(ev(s, dir), Seq("user_id"), "ts", "value", skipLeadingZeros = true)
        .select("user_id", "event_id", "days_since_release")
        .orderBy("user_id", "event_id")
    }),

    // §2.8 calendar features, pandas-parity definitions
    "q14_calendar" -> ((s, dir) => {
      Features.calendarFeatures(ev(s, dir).select("event_id", "ts"), "ts")
        .select("event_id", "day", "day_of_week", "weekend_flag", "week", "month",
          "year", "quarter", "month_year", "quarter_year")
        .orderBy("event_id")
    }),

    // §2.8 standardize with fitted global stats (+ inverse round-trips in tests)
    "q15_standardize" -> ((s, dir) => {
      val df = ev(s, dir)
      val p = Scalers.fitStandardize(df, "value")
      df.select(col("event_id"), r6(p(col("value"))).as("value_std"))
        .orderBy("event_id")
    }),

    // §2.2/§2.8 clamp negatives + log1p
    "q16_log1p_clamp" -> ((s, dir) => {
      ev(s, dir)
        .withColumn("shifted", col("value") - 100)
        .transform(d => Features.correctNegatives(d, Seq("shifted")))
        .select(col("event_id"), r6(log1p(col("shifted"))).as("log1p_clamped"))
        .orderBy("event_id")
    }),

    // §2.8 error metrics: lag-1 naive forecast scored per event_type
    "q17_error_metrics" -> ((s, dir) => {
      val withPred = Features.lagFeatures(ev(s, dir), Seq("user_id"), "event_id", Seq("value"), Seq(1))
        .withColumnRenamed("value_lag1", "pred")
      Metrics.summarize(withPred, "value", "pred", Seq("event_type"))
        .select(col("event_type"), r6(col("mape")).as("mape"), r6(col("mae")).as("mae"),
          r6(col("rmse")).as("rmse"), r6(col("smape")).as("smape"), col("n"))
        .orderBy("event_type")
    }),

    // §2.4 share-over-threshold per group
    "q18_threshold_share" -> ((s, dir) => {
      ev(s, dir).groupBy(col("user_id"))
        .agg(r6(avg((col("value") > 50).cast("double"))).as("share_gt50"),
          count(lit(1)).as("cnt"))
        .orderBy("user_id")
    }),

    // §2.6 top-k by aggregate
    "q19_topk_users" -> ((s, dir) => {
      ev(s, dir).groupBy(col("user_id"))
        .agg(r6(sum(col("value"))).as("total"))
        .orderBy(col("total").desc, col("user_id"))
        .limit(10)
    }),

    // §2.3 semi-join (EXISTS)
    "q20_semi_join" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      o.join(li(s, dir), o("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus")
    }),

    // §2.3 anti-join (NOT EXISTS)
    "q21_anti_join" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet").filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment")
    }),

    // §2.3 broadcast dimension join chain (customer -> nation hierarchy)
    "q22_dim_join" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val n = s.read.parquet(s"$dir/nation.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      // customer is dim-sized at every TPC-H sf (|customer| = |orders|/10);
      // broadcast it explicitly rather than hoping AQE converts the SMJ
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("cnt"), r2(sum(col("o_totalprice"))).as("revenue"))
        .orderBy("n_name")
    }),

    // §2.3 full outer join of two daily series
    "q23_outer_join" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
        .groupBy(date_trunc("day", col("o_orderdate")).as("day")).agg(count(lit(1)).as("order_cnt"))
      val l = li(s, dir)
        .groupBy(date_trunc("day", col("l_shipdate")).as("day")).agg(count(lit(1)).as("ship_cnt"))
      o.join(l, Seq("day"), "full_outer")
        .select(unix_timestamp(col("day")).as("day_sec"),
          coalesce(col("order_cnt"), lit(0L)).as("order_cnt"),
          coalesce(col("ship_cnt"), lit(0L)).as("ship_cnt"))
        .orderBy("day_sec")
    }),

    // §2.7 union with sample tag (train/test concat pattern, model.py:682-699)
    "q24_union_tag" -> ((s, dir) => {
      val df = ev(s, dir)
      val cut = lit("2024-01-15").cast("timestamp")
      val train = df.filter(col("ts") < cut).withColumn("tag", lit("train"))
      val test = df.filter(col("ts") >= cut).withColumn("tag", lit("test"))
      train.unionByName(test)
        .groupBy(col("tag"), col("event_type")).agg(count(lit(1)).as("cnt"))
        .orderBy("tag", "event_type")
    }),

    // §2.3 future frame: distinct hierarchy × future dates (model.py:759-777)
    "q25_future_frame" -> ((s, dir) => {
      val df = ev(s, dir)
      val maxDay = df.agg(unix_timestamp(date_trunc("day", max(col("ts")))).as("mx"))
      df.select(col("user_id")).distinct()
        .crossJoin(maxDay)
        .select(col("user_id"),
          explode(sequence(col("mx") + 86400L, col("mx") + 3 * 86400L, lit(86400L))).as("day_sec"))
        .orderBy("user_id", "day_sec")
    }),

    // §2.4 EWMA (pandas ewm(span=5, adjust=True) parity) on daily series
    "q26_ewma" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      Ewma.ewmaSeriesFrame(daily, Seq("user_id"), "day", "v", spans = Seq(5.0),
          lagRows = 1, minPeriods = 1)
        .select(col("user_id"), col("ts_sec").as("day_sec"),
          r6(col("v_ewma5")).as("ewma5"))
        .orderBy("user_id", "day_sec")
    }),

    // §2.8 min-max normalize within group (window-fitted params)
    "q27_minmax" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
      ev(s, dir)
        .withColumn("mn", min(col("value")).over(w))
        .withColumn("mx", max(col("value")).over(w))
        .select(col("event_id"),
          r6((col("value") - col("mn")) / (col("mx") - col("mn"))).as("value_norm"))
        .orderBy("event_id")
    }),

    // §2.4 null-masked weighted average (utilities.py:478-481)
    "q28_weighted_avg" -> ((s, dir) => {
      ev(s, dir)
        .withColumn("wt", (pmod(col("user_id"), lit(5L)) + 1).cast("double"))
        .groupBy(col("event_type"))
        .agg(r6(sum(col("value") * col("wt")) / sum(col("wt"))).as("wavg"))
        .orderBy("event_type")
    }),

    // §2.4 missing-percentage profile (utilities.py:511-515)
    "q29_missing_profile" -> ((s, dir) => {
      val withNulls = ev(s, dir)
        .withColumn("v", when(pmod(col("event_id"), lit(7L)) === 0, lit(null)).otherwise(col("value")))
      withNulls.agg(
        r6(avg(when(col("v").isNull, 1.0).otherwise(0.0))).as("pct_null_v"),
        r6(avg(when(col("props").isNull, 1.0).otherwise(0.0))).as("pct_null_props"),
        count(lit(1)).as("n"))
    }),

    // §3 rolling-origin CV fold boundaries (sklearn TimeSeriesSplit parity)
    "q30_cv_folds" -> ((s, dir) => {
      import s.implicits._
      val daily = ev(s, dir).select(date_trunc("day", col("ts")).as("day")).distinct()
      val folds = CrossVal.timeSeriesSplits(daily, "day", nSplits = 4, gap = 0)
      folds.zipWithIndex.map { case (f, i) =>
        (i, f.trainEnd.getTime / 1000, f.testStart.getTime / 1000, f.testEnd.getTime / 1000)
      }.toDF("fold", "train_end", "test_start", "test_end").orderBy("fold")
    }),

    // ---- training-data pipeline ops (dedup / similarity / text analysis) ----

    // exact dedup on content digest; duplicates constructed by unioning a
    // shifted-id copy of the corpus
    "q31_exact_dedup" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val uni = base.unionByName(base.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.exactDedup(uni, "text", "doc_id")
        .select("content_md5", "keep_id", "dup_cnt")
        .orderBy("keep_id")
    }),

    // MinHash signatures (k=4) over word 3-gram shingles
    "q32_minhash_sig" -> ((s, dir) => {
      Dedup.minhashSignature(
          docs(s, dir).filter(col("doc_id") < 200)
            .filter(size(graft.functions.Hashing.words(col("text"))) >= 3)
            .select("doc_id", "text"),
          "text", k = 4)
        .select("doc_id", "mh0", "mh1", "mh2", "mh3")
        .orderBy("doc_id")
    }),

    // MinHash + LSH near-duplicate pairs (8 hashes, 4 bands), Jaccard-verified
    "q33_lsh_near_dup" -> ((s, dir) => {
      val base = docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id").as("id"), col("text"))
      val uni = base.unionByName(base.select((col("id") + 1000000L).as("id"), col("text")))
      Dedup.lshNearDupPairs(uni, "text", "id", k = 8, bands = 4, threshold = 0.9)
        .select(col("id_a"), col("id_b"), r6(col("jaccard")).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // SimHash 16-bit fingerprints over distinct words
    "q34_simhash" -> ((s, dir) => {
      Dedup.withSimhash(
          docs(s, dir).filter(col("doc_id") < 200)
            .filter(size(graft.functions.Hashing.words(col("text"))) > 0),
          "text", bits = 16)
        .select("doc_id", "simhash")
        .orderBy("doc_id")
    }),

    // n-gram Jaccard similarity pairs within language
    "q35_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(
          docs(s, dir).filter(col("doc_id") < 60), "text", "doc_id",
          groupCols = Seq("lang"), shingleN = 3, minJaccard = 0.0)
        .select(col("lang"), col("id_a"), col("id_b"), r6(col("jaccard")).as("jaccard"))
        .orderBy("lang", "id_a", "id_b")
    }),

    // brute-force cosine top-k neighbors (exact ANN baseline)
    "q36_cosine_topk" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id"), r6(col("sim")).as("sim"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // hyperplane-LSH bucketed ANN with Hamming-1 multi-probe (the sublinear
    // scale path; recall measured >= 0.9 vs brute force in DedupSimilaritySpec)
    "q37_ann_bucketed" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.bucketedTopK(emb.filter(col("vec_id") < 20), emb,
          "vec_id", "embedding", k = 3, bits = 8, dim = 64, probeHamming = 1)
        .select(col("query_id"), col("neighbor_id"), r6(col("sim")).as("sim"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // embedding-cosine near-duplicates, LSH-bucket-pruned; dups constructed
    // by unioning an id-shifted copy
    "q38_embed_near_dup" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") < 500).select("vec_id", "embedding")
      val uni = emb.unionByName(
        emb.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      Similarity.nearDupPairs(uni, "vec_id", "embedding", threshold = 0.999,
          bits = 8, dim = 64, tables = 2)
        .select(col("id_a"), col("id_b"), r6(col("cos_sim")).as("cos_sim"))
        .orderBy("id_a", "id_b")
    }),

    // character-trigram language ID: profiles from a DETERMINISTIC hash-
    // sample of the train split (md5(doc_id) % 3 == 0, the scale path — the
    // full-corpus explode was the round-1 scale-killer), argmax
    // profile-overlap prediction on the test split
    "q39_lang_id" -> ((s, dir) => {
      val d = docs(s, dir)
      val train = d.filter(pmod(col("doc_id"), lit(5L)) < 4 && col("lang").isNotNull)
      val profiles = TextAnalysis.langProfiles(train, "text", "lang", topN = 50,
        sampleIdCol = Some("doc_id"), sampleMod = 3)
      val test = d.filter(pmod(col("doc_id"), lit(5L)) === 4)
      TextAnalysis.langId(test, "doc_id", "text", profiles)
        .select(col("id").as("doc_id"), col("pred_lang"), col("score"))
        .orderBy("doc_id")
    }),

    // heuristic quality scoring (length / stopword / punctuation / TTR)
    "q40_quality_score" -> ((s, dir) => {
      TextAnalysis.qualityScore(docs(s, dir), "text")
        .select(col("doc_id"), col("n_tokens"),
          r6(col("mean_token_len")).as("mean_token_len"),
          r6(col("stopword_ratio")).as("stopword_ratio"),
          r6(col("punct_ratio")).as("punct_ratio"),
          r6(col("type_token_ratio")).as("type_token_ratio"),
          r6(col("quality_score")).as("quality_score"))
        .orderBy("doc_id")
    }),

    // token counting: whitespace + BPE-ish regex + distinct
    "q41_token_counts" -> ((s, dir) => {
      TextAnalysis.tokenCounts(docs(s, dir), "text")
        .select("doc_id", "ws_tokens", "regex_tokens", "distinct_tokens")
        .orderBy("doc_id")
    }),

    // bottom-k document fingerprint over 8-char rolling shingle hashes
    "q42_fingerprint" -> ((s, dir) => {
      docs(s, dir)
        .filter(length(col("text")) >= 8) // cheap pre-filter == fp.isNotNull
        .withColumn("fp", TextAnalysis.fingerprint(col("text"), k = 4, n = 8))
        .select(col("doc_id"),
          try_element_at(col("fp"), lit(1)).as("fp0"),
          try_element_at(col("fp"), lit(2)).as("fp1"),
          try_element_at(col("fp"), lit(3)).as("fp2"),
          try_element_at(col("fp"), lit(4)).as("fp3"))
        .orderBy("doc_id")
    }),

    // multimodal payload plumbing: binary column metadata + batched
    // (mapPartitions) stub decode — features are deterministic so the oracle
    // replays them. Stub-derived dims are surfaced as stub_* so no consumer
    // mistakes them for codec output (the REAL decode path is q60).
    "q43_media_features" -> ((s, dir) => {
      val withBin = docs(s, dir)
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .withColumn("url", col("doc_id").cast("string"))
      Multimodal.extractFeatures(withBin, "url", "payload")
        .toDF()
        .select(col("url").cast("long").as("doc_id"), col("byte_len"),
          col("sha_hex"), col("width").as("stub_width"),
          col("height").as("stub_height"), col("n_frames").as("stub_n_frames"))
        .orderBy("doc_id")
    }),

    // §2.5 backward fill (transform.py bfill branch)
    "q44_bfill" -> ((s, dir) => {
      val withNulls = ev(s, dir)
        .withColumn("v", when(pmod(col("event_id"), lit(7L)) === 0, lit(null)).otherwise(col("value")))
      Features.backwardFill(withNulls, Seq("user_id"), "event_id", Seq("v"))
        .select(col("user_id"), col("event_id"), r6(col("v")).as("v_bfilled"))
        .orderBy("user_id", "event_id")
    }),

    // §2.9 linear interpolation between nearest non-null neighbors (north rule)
    "q45_linear_interp" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
        .withColumn("v", when(pmod(unix_timestamp(col("day")) / 86400, lit(4L)) === 1, lit(null))
          .otherwise(col("v")))
      GapFill.linearInterpolate(daily, Seq("user_id"), "day", Seq("v"))
        .select(col("user_id"), unix_timestamp(col("day")).as("day_sec"), r6(col("v")).as("v_interp"))
        .orderBy("user_id", "day_sec")
    }),

    // §2.4 momentum: lagged value / rolling mean (group-correct; the
    // reference's global-shift numerator is a documented leakage bug)
    "q46_momentum" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      Features.momentum(daily, Seq("user_id"), "day", "v", windowDays = 7, lagDays = 1)
        .select(col("user_id"), unix_timestamp(col("day")).as("day_sec"),
          r6(col("v_momentum7d")).as("momentum7d"))
        .orderBy("user_id", "day_sec")
    }),

    // §2.4 rolling stats with the reference min_periods gate (ceil(7^0.8)=5)
    "q47_rolling_gated" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      Features.rollingStats(daily, Seq("user_id"), "day", "v",
          windowDays = 7, lagDays = 1, ops = Seq("std", "mean", "sum"))
        .select(col("user_id"), unix_timestamp(col("day")).as("day_sec"),
          r6(col("v_roll7d_lag1_std")).as("roll_std"),
          r6(col("v_roll7d_lag1_mean")).as("roll_mean"),
          r6(col("v_roll7d_lag1_sum")).as("roll_sum"))
        .orderBy("user_id", "day_sec")
    }),

    // §2.3 keyed update: non-null overwrite via join + coalesce (utilities.py:189-211)
    "q48_keyed_update" -> ((s, dir) => {
      val base = ev(s, dir).select(col("event_id"), col("user_id"), col("value"))
      val updates = base.filter(pmod(col("user_id"), lit(3L)) === 0)
        .select(col("event_id"), (col("value") * 2).as("new_value"))
      base.join(updates, Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"),
          r6(coalesce(col("new_value"), col("value"))).as("value_updated"))
        .orderBy("event_id")
    }),

    // §1.1 PK-uniqueness check (main.py:58-69): duplicate-key groups
    "q49_pk_check" -> ((s, dir) => {
      ev(s, dir).groupBy(col("user_id"), col("ts"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1)
        .agg(count(lit(1)).as("violation_groups"),
          coalesce(sum(col("cnt")), lit(0L)).as("violation_rows"))
    }),

    // §2.4 EWMA crossover: ratio of span-3 to span-5 EWMA (feature_engineering.py:674-693)
    "q50_ewma_crossover" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      Ewma.crossovers(daily, Seq("user_id"), "day", "v", spans = Seq(3.0, 5.0),
          lagRows = 1, minPeriods = 1)
        .select(col("user_id"), col("ts_sec").as("day_sec"),
          r6(col("v_ewma_cross_3_5")).as("cross_3_5"))
        .orderBy("user_id", "day_sec")
    }),

    // §2.4 rolling percent-over-threshold with min_periods gate (ref :813-940)
    "q51_threshold_roll" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      Features.percentOverThreshold(daily, Seq("user_id"), "day", "v",
          threshold = 500.0, op = "gt", windowDays = 7, lagDays = 1)
        .withColumnRenamed("v_pct_gt_500.0_7d", "thr_share")
        .select(col("user_id"), unix_timestamp(col("day")).as("day_sec"),
          r6(col("thr_share")).as("thr_share"))
        .orderBy("user_id", "day_sec")
    }),

    // §2.4 rolling-percent: lagged value / rolling sum (feature_engineering.py:412-422)
    "q52_rolling_percent" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      Features.rollingPercent(daily, Seq("user_id"), "day", "v", windowDays = 7, lagDays = 1)
        .select(col("user_id"), unix_timestamp(col("day")).as("day_sec"),
          r6(col("v_rollpct7d")).as("rollpct7d"))
        .orderBy("user_id", "day_sec")
    }),

    // §2.8 ordinal categorical encode + decode round-trip (transform.py:367-428):
    // dictionary = distinct values ordered ascending; code = dense position.
    // Encoding.fitOrdinal builds the dictionary WITHOUT a single-task global
    // window (range-partitioned sort + zipWithIndex).
    "q53_categorical_encode" -> ((s, dir) => {
      val dict = Encoding.fitOrdinal(ev(s, dir), "event_type")
      ev(s, dir).join(broadcast(dict), Seq("event_type"))
        .groupBy(col("event_type"), col("code"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("code")
    }),

    // per-row invariant audit (input_hint: byte-identical derived values per
    // row): recomputed text length must equal the stored n_chars metadata
    "q54_row_invariant" -> ((s, dir) => {
      docs(s, dir).agg(
        count(lit(1)).as("n"),
        sum(when(length(col("text")) =!= col("n_chars"), 1L).otherwise(0L)).as("violations"))
    }),

    // §3 the reference's semantic heart composed end-to-end (model.py:654-714):
    // last rolling-origin fold -> train-only standardize -> mask test target
    // -> lag feature over the combined frame (test rows see only train-visible
    // history) -> restore actuals + train/test tag
    "q55_leakfree_cv" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      val days = daily.select(col("day")).distinct()
      val fold = CrossVal.timeSeriesSplits(days, "day", nSplits = 4, gap = 0).last
      CrossVal.leakFreeFold(daily, "day", "v", fold, scalerCols = Seq("v"),
          featureFn = d => Features.lagFeatures(d, Seq("user_id"), "day", Seq("v"), Seq(1)))
        .select(col("user_id"), unix_timestamp(col("day")).as("day_sec"),
          r6(col("v")).as("v_scaled"), r6(col("v_lag1")).as("v_lag1"),
          col("_sample").as("sample"))
        .orderBy("user_id", "day_sec")
    }),

    // §2.4 rolling median/skew/kurt with the pandas G1/G2 corrections —
    // DuckDB skewness/kurtosis ARE the sample-adjusted G1/G2 (verified), so
    // the oracle reconciles directly; Spark needs the adjustment from its
    // population g1/g2 (Features.rollingStats:94-101)
    "q56_rolling_shape" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      Features.rollingStats(daily, Seq("user_id"), "day", "v",
          windowDays = 7, lagDays = 1, ops = Seq("median", "kurt", "skew"))
        .select(col("user_id"), unix_timestamp(col("day")).as("day_sec"),
          r6(col("v_roll7d_lag1_median")).as("roll_median"),
          r6(col("v_roll7d_lag1_skew")).as("roll_skew"),
          r6(col("v_roll7d_lag1_kurt")).as("roll_kurt"))
        .orderBy("user_id", "day_sec")
    }),

    // §2.8 categorical encode -> DECODE round trip (transform.py:399-428:
    // codes map back through the saved dictionary); mismatches must be 0
    "q57_categorical_decode" -> ((s, dir) => {
      val dict = Encoding.fitOrdinal(ev(s, dir), "event_type")
      val enc = Encoding
        .encodeOrdinal(ev(s, dir), "event_type", broadcast(dict))
        .select(col("event_id"), col("event_type").as("orig"),
          col("event_type_code").as("code"))
      val dec = Encoding
        .decodeOrdinal(enc, "code", "event_type", broadcast(dict))
        .withColumnRenamed("code_decoded", "decoded")
      dec.groupBy(col("code"), col("decoded"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("decoded") =!= col("orig"), 1L).otherwise(0L)).as("mismatches"))
        .orderBy("code")
    }),

    // §2.4 describe() profile (interpret.py:172-177): 8 exact stats per
    // column, one aggregation pass, exploded to the pandas layout
    "q58_describe_profile" -> ((s, dir) => {
      Profile.describe(
          ev(s, dir).withColumn("user_id_d", col("user_id").cast("double")),
          Seq("value", "user_id_d"))
        .select(col("column"), col("count"), r6(col("mean")).as("mean"),
          r6(col("std")).as("std"), r6(col("min")).as("min"),
          r6(col("p25")).as("p25"), r6(col("p50")).as("p50"),
          r6(col("p75")).as("p75"), r6(col("max")).as("max"))
        .orderBy("column")
    }),

    // the reference's predict() pipeline shape composed end-to-end
    // (model.py:717-791 + 170-199): fit scaler -> scale history -> future
    // frame -> concat -> LOCF-naive forecast replayed over the combined
    // frame -> inverse-scale predictions for the future rows
    "q59_future_e2e" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      val p = Scalers.fitStandardize(daily, "v")
      val scaled = daily.withColumn("v", p(col("v")))
      val mx = daily.agg(unix_timestamp(date_trunc("day", max(col("day")))).as("mx"))
      val future = daily.select(col("user_id")).distinct()
        .crossJoin(mx)
        .select(col("user_id"),
          explode(sequence(col("mx") + 86400L, col("mx") + 3 * 86400L, lit(86400L))).as("_ds"))
        .select(col("user_id"), timestamp_seconds(col("_ds")).as("day"))
        .withColumn("v", lit(null).cast("double"))
      val all = scaled.select("user_id", "day", "v")
        .unionByName(future)
        .withColumn("is_future", col("v").isNull)
      val filled = Features.forwardFill(all, Seq("user_id"), "day", Seq("v"))
      filled.filter(col("is_future"))
        .select(col("user_id"), unix_timestamp(col("day")).as("day_sec"),
          r6(p.inverse(col("v"))).as("pred"))
        .orderBy("user_id", "day_sec")
    }),

    // REAL image pipeline end-to-end: synthesize PNG bytes (dims derived
    // arithmetically from doc_id), decode with the actual javax.imageio
    // codec in batched mapPartitions — decoded dims must round-trip to the
    // arithmetic oracle, proving the decode is real, not derived
    "q60_image_decode" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id")).filter(col("doc_id") < 200)
        .withColumn("w", (pmod(col("doc_id"), lit(8L)) + 1).cast("int"))
        .withColumn("h", (pmod(col("doc_id"), lit(5L)) + 1).cast("int"))
        .withColumn("payload", Multimodal.pngEncodeUdf(col("w"), col("h"), col("doc_id")))
        .withColumn("url", col("doc_id").cast("string"))
      Multimodal.extractImageFeatures(d, "url", "payload")
        .toDF()
        .select(col("url").cast("long").as("doc_id"), col("media_type"),
          col("width"), col("height"))
        .orderBy("doc_id")
    }),

    // IVF ANN: deterministic coarse quantizer (8 md5-seeded centroids),
    // nProbe=2 inverted-list probing — the learned-quantizer alternative to
    // the q37 hyperplane path
    "q61_ivf_ann" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 3, nlist = 8, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), r6(col("sim")).as("sim"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // the engine's SIGNATURE path against the independent oracle: 1m blocks
    // (BlockAgg point mode) -> promote to 1h where p50/p95 are recomputed
    // from the DECODED, merged Gorilla blocks (BlockAgg block mode) —
    // the oracle computes quantile_cont directly from raw at 1h grain, so a
    // green row proves block encode/merge/percentile exactness end-to-end
    "q62_block_pctl_promote" -> ((s, dir) => {
      Rollup.promote(userTier1m(ev(s, dir)), 3600L, groupCols = Seq("user_id"))
        .select(col("user_id"), col("bucket_start"), col("cnt"),
          r6(col("sum_len")).as("sum_value"), r6(col("min_len")).as("min_value"),
          r6(col("max_len")).as("max_value"),
          r6(col("p50_len")).as("p50"), r6(col("p95_len")).as("p95"))
        .orderBy("user_id", "bucket_start")
    }),

    // Rollup.rollupHierarchy (stepwise GROUPING-SETS levels with exact
    // block-merged percentiles at EVERY level) vs a DuckDB GROUPING SETS
    // twin — closes the round-2 gap where this ran only inside entry()
    "q63_hier_rollup" -> ((s, dir) => {
      val levels = Seq("event_type", "user_id_s")
      val t1h = Rollup.promote(Rollup.tier1mOfPoints(ev(s, dir).select(col("event_type"),
          col("user_id").cast("string").as("user_id_s"), unix_timestamp(col("ts")).as("ts_sec"),
          col("value").as("text_len"), col("event_type").as("lang")), levels), 3600L, levels)
      // mean derived from the ROUNDED sum on both engines: the raw sums
      // differ by summation order below 1e-6 (they round equal), but the
      // raw quotient can straddle a rounding boundary (seen at sf0.1)
      Rollup.rollupHierarchy(t1h, levels)
        .select(col("event_type"), col("user_id_s"), col("grouping_level"),
          col("bucket_start"), col("cnt"), r6(col("sum_len")).as("sum_value"),
          r6(r6(col("sum_len")) / col("cnt")).as("mean_value"),
          r6(col("p50_len")).as("p50"), r6(col("p95_len")).as("p95"),
          col("lang_card").as("type_card"))
        .orderBy("grouping_level", "event_type", "user_id_s", "bucket_start")
    }),

    // n-gram Jaccard with a BINDING document-frequency cap (maxDf=2): the
    // scale-safe mode (bounds per-shingle join fan-out by min(df, τ)²) under
    // oracle — jaccard is over the df≤τ shingle universe on both engines
    "q64_jaccard_capped" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(
          docs(s, dir).filter(col("doc_id") < 60), "text", "doc_id",
          groupCols = Seq("lang"), shingleN = 3, minJaccard = 0.0,
          maxDf = Some(2L))
        .select(col("lang"), col("id_a"), col("id_b"), r6(col("jaccard")).as("jaccard"))
        .orderBy("lang", "id_a", "id_b")
    }),

    // the SQL surface end-to-end: a pure spark.sql query through the native
    // expression that GraftExtensions registers at session build
    // (utf8_char_count == length for valid UTF-8), oracled by DuckDB length()
    "q65_sql_surface" -> ((s, dir) => {
      docs(s, dir).createOrReplaceTempView("docs_q65")
      s.sql("""SELECT lang, count(*) AS n_docs,
              |  sum(utf8_char_count(text)) AS sum_chars,
              |  max(utf8_char_count(text)) AS max_chars
              |FROM docs_q65 GROUP BY lang ORDER BY lang""".stripMargin)
    }),

    // Gopher-style repetition ratios (duplicate word/2-gram/3-gram fraction)
    // — boilerplate/spam gate; pure projection, no shuffle
    "q66_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionRatios(docs(s, dir), "text")
        .select(col("doc_id"), r6(col("rep_word")).as("rep_word"),
          r6(col("rep_2gram")).as("rep_2gram"), r6(col("rep_3gram")).as("rep_3gram"))
        .orderBy("doc_id")
    }),

    // PII scrubbing with audit counts; emails/IPs are synthesized
    // deterministically from doc_id (the corpus has none) so both engines
    // redact the identical augmented text
    "q67_redact" -> ((s, dir) => {
      val aug = docs(s, dir).withColumn("text2", concat(
        col("text"),
        when(pmod(col("doc_id"), lit(3)) =!= 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
            lit("."), pmod(col("doc_id") * 7, lit(256)).cast("string")))
          .otherwise(lit(""))))
      TextAnalysis.redactPii(aug, "text2")
        .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
          col("n_ips").cast("long").as("n_ips"), col("redacted"))
        .orderBy("doc_id")
    }),

    // the canonical corpus-cleaning pass, composed end-to-end: quality +
    // repetition + token gates -> keep/drop + audit reason, one projection
    // pipeline (thresholds tuned to split this corpus meaningfully)
    "q68_corpus_filter" -> ((s, dir) => {
      TextAnalysis.corpusFilter(docs(s, dir), "text",
          minQuality = 0.4, maxRep3gram = 0.2, minTokens = 25L, maxTokens = 90L)
        .select(col("doc_id"), col("n_tokens"),
          r6(col("quality_score")).as("quality_score"),
          r6(col("rep_3gram")).as("rep_3gram"),
          col("drop_reason"), col("keep"))
        .orderBy("doc_id")
    }),

    // incremental batch-vs-history dedup: Bloom prune + exact anti-join verify
    "q69_incremental_dedup" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val history = d.filter(col("doc_id") >= 100)
      val batch = d.filter(col("doc_id") < 200)
        .withColumn("text",
          when(col("doc_id") < 100, concat(col("text"), lit(" NOVEL")))
            .otherwise(col("text")))
      Dedup.incrementalDedup(batch, history, "text",
          expectedHistoryItems = 1000L, fpp = 0.01)
        .select(col("doc_id"), md5(col("text")).as("content_md5"))
        .orderBy("doc_id")
    }),

    // gap-based sessionization (30-minute inactivity) + per-session stats
    "q70_sessionize" -> ((s, dir) => {
      graft.operators.Sessions.sessionStats(
          ev(s, dir), Seq("user_id"), "ts", gapSeconds = 1800L, valueCol = "value")
        .select(col("user_id"), col("session_idx"),
          unix_timestamp(col("session_start")).as("start_s"),
          unix_timestamp(col("session_end")).as("end_s"),
          col("duration_sec"), col("n_events"), r6(col("sum_value")).as("sum_value"))
        .orderBy("user_id", "session_idx")
    }),

    // as-of join: attach the most recent purchase at-or-before each click
    "q71_asof_join" -> ((s, dir) => {
      val e = ev(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max(col("value")).as("purchase_value"))
      graft.operators.AsOf.asofJoin(clicks, purchases, Seq("user_id"),
          leftTs = "ts", rightTs = "ts", valueCols = Seq("purchase_value"))
        .select(col("event_id"), col("user_id"), unix_timestamp(col("ts")).as("ts_s"),
          unix_timestamp(col("matched_ts")).as("matched_s"),
          r6(col("purchase_value")).as("purchase_value"))
        .orderBy("event_id")
    }),

    // deterministic stratified sample: bottom-5 by content hash per language
    "q72_stratified_sample" -> ((s, dir) => {
      graft.operators.Sampling.stratifiedBottomK(
          docs(s, dir).select("doc_id", "lang"), Seq("lang"), "doc_id", k = 5)
        .select(col("lang"), col("doc_id"), col("sample_rank").cast("long").as("sample_rank"))
        .orderBy("lang", "sample_rank")
    }),

    // seasonal-naive forecast (m=7 days, h=7) with residual-σ bands
    "q73_snaive_forecast" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      graft.operators.Forecast.seasonalNaive(daily, Seq("user_id"), "d", "v",
          period = 7, horizon = 7, stepSeconds = 86400L)
        .select(col("user_id"), unix_timestamp(col("forecast_ts")).as("forecast_s"),
          col("step").cast("long").as("step"), r6(col("yhat")).as("yhat"),
          r6(col("lo")).as("lo"), r6(col("hi")).as("hi"))
        .orderBy("user_id", "step")
    }),

    // drift forecast: line through first/last daily observation, h=5
    "q74_drift_forecast" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      graft.operators.Forecast.drift(daily, Seq("user_id"), "d", "v",
          horizon = 5, stepSeconds = 86400L)
        .select(col("user_id"), unix_timestamp(col("forecast_ts")).as("forecast_s"),
          col("step").cast("long").as("step"), r6(col("yhat")).as("yhat"))
        .orderBy("user_id", "step")
    }),

    // quantile binning (pandas-qcut shape): value quartile within event type
    "q75_qcut" -> ((s, dir) => {
      Scalers.quantileBin(ev(s, dir).select("event_id", "event_type", "value"),
          Seq("event_type"), "value", "event_id", n = 4)
        .select(col("event_type"), col("event_id"), col("bin").cast("long").as("bin"))
        .orderBy("event_type", "event_id")
    }),

    // HLL lang cardinality per source — estimate vs exact, oracle replays the
    // sketch from first principles in SQL (registers + linear counting)
    "q76_hll_langcard" -> ((s, dir) => {
      import graft.functions.Hll
      docs(s, dir).filter(col("lang").isNotNull)
        .groupBy(col("source"))
        .agg(countDistinct(col("lang")).as("n_langs_exact"),
          Hll.hllSketch(col("lang")).as("_sk"))
        .select(col("source"), col("n_langs_exact"),
          r6(Hll.hllEstimate(col("_sk"))).as("hll_est"))
        .orderBy("source")
    }),

    // connected-components clustering over LSH near-dup pairs (q33's corpus):
    // pairwise similarity → canonical cluster ids + keep-list decision
    "q77_dedup_clusters" -> ((s, dir) => {
      val base = docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id").as("id"), col("text"))
      val uni = base.unionByName(base.select((col("id") + 1000000L).as("id"), col("text")))
      val pairs = Dedup.lshNearDupPairs(uni, "text", "id", k = 8, bands = 4, threshold = 0.9)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id"), col("component"), col("cluster_size"), col("is_canonical"))
        .orderBy("id")
    }),

    // autocorrelation at lags 1/2/7 over each user's daily series
    "q78_acf" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      graft.operators.Features.acf(daily, Seq("user_id"), "d", "v", lags = Seq(1, 2, 7))
        .select(col("user_id"), col("lag").cast("long").as("lag"), r6(col("acf")).as("acf"))
        .orderBy("user_id", "lag")
    }),

    // simple-exponential-smoothing flat forecast (α=0.3, h=5) per user
    "q79_ses_forecast" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      graft.operators.Forecast.ses(daily, Seq("user_id"), "d", "v",
          alpha = 0.3, horizon = 5, stepSeconds = 86400L)
        .select(col("user_id"), unix_timestamp(col("forecast_ts")).as("forecast_s"),
          col("step").cast("long").as("step"), r6(col("yhat")).as("yhat"))
        .orderBy("user_id", "step")
    }),

    // count-min-sketch heavy hitters: top-10 exact words vs CMS estimates
    // (oracle replays the whole sketch — buckets, sums, min — in SQL)
    "q80_cms_heavy" -> ((s, dir) => {
      import graft.functions.Cms
      val wordsDf = docs(s, dir)
        .select(explode(graft.functions.Hashing.words(col("text"))).as("word"))
      val sk = wordsDf.agg(Cms.cmsSketch(col("word")).as("_sk"))
      val top = wordsDf.groupBy("word").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("word")).limit(10)
      top.crossJoin(broadcast(sk))
        .select(col("word"), col("exact_cnt"),
          Cms.cmsQuery(col("_sk"), col("word")).as("cms_est"))
        .orderBy(col("exact_cnt").desc, col("word"))
    }),

    // benchmark decontamination: 3-gram containment of candidates vs an
    // eval set (docs 0-19), broadcast benchmark shingle set
    "q81_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") < 20)
      val cands = d.filter(col("doc_id") >= 20 && col("doc_id") < 220)
      graft.operators.TextAnalysis.decontaminate(cands, bench, "text", "doc_id")
        .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
          r6(col("contamination")).as("contamination"))
        .orderBy("doc_id")
    }),

    // MASE: last-5-days test vs train-mean prediction, lag-1 naive scale
    "q82_mase" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      val ranked = daily.withColumn("_rd", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("d").desc)))
      val train = ranked.filter(col("_rd") > 5).drop("_rd")
      val pred = train.groupBy("user_id").agg(avg(col("v")).as("p"))
      val test = ranked.filter(col("_rd") <= 5).drop("_rd").join(pred, "user_id")
      Metrics.mase(train, test, Seq("user_id"), "d", "v", "p", m = 1)
        .select(col("user_id"), r6(col("mase")).as("mase"), col("n"))
        .orderBy("user_id")
    }),

    // Croston's intermittent-demand forecast (α=0.3, h=3) on a sparsified
    // daily series (demand only every third day)
    "q83_croston" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
        .withColumn("v",
          when(pmod(unix_timestamp(col("d")) / 86400, lit(3L)) === 0, col("v"))
            .otherwise(lit(0.0)))
      graft.operators.Forecast.croston(daily, Seq("user_id"), "d", "v",
          alpha = 0.3, horizon = 3, stepSeconds = 86400L)
        .select(col("user_id"), unix_timestamp(col("forecast_ts")).as("forecast_s"),
          col("step").cast("long").as("step"), r6(col("yhat")).as("yhat"))
        .orderBy("user_id", "step")
    }),

    // Theta method (M3 winner): OLS trend line + SES of the theta-2 line,
    // all closed-form — one shuffle on the keys
    "q84_theta" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      graft.operators.Forecast.theta(daily, Seq("user_id"), "d", "v",
          alpha = 0.3, horizon = 4, stepSeconds = 86400L)
        .select(col("user_id"), unix_timestamp(col("forecast_ts")).as("forecast_s"),
          col("step").cast("long").as("step"), r6(col("yhat")).as("yhat"))
        .orderBy("user_id", "step")
    }),

    // Holt linear trend (the one fold-based forecaster; oracle replays the
    // coupled (level, trend) recursion with a recursive CTE)
    "q85_holt" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      graft.operators.Forecast.holt(daily, Seq("user_id"), "d", "v",
          alpha = 0.3, beta = 0.2, horizon = 3, stepSeconds = 86400L)
        .select(col("user_id"), unix_timestamp(col("forecast_ts")).as("forecast_s"),
          col("step").cast("long").as("step"), r6(col("yhat")).as("yhat"))
        .orderBy("user_id", "step")
    }),

    // robust outlier flags: modified z-score from per-key exact median + MAD
    "q86_mad_outliers" -> ((s, dir) => {
      graft.operators.Anomaly.madOutliers(ev(s, dir), Seq("user_id"), "value")
        .select(col("user_id"), col("event_id"), r6(col("med")).as("med"),
          r6(col("mad")).as("mad"), r6(col("robust_z")).as("robust_z"),
          col("is_outlier"))
        .orderBy("user_id", "event_id")
    }),

    // two-window mean-shift changepoint score on the daily series
    "q87_changepoint" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      graft.operators.Anomaly.meanShiftScore(daily, Seq("user_id"), "d", "v", w = 5)
        .select(col("user_id"), unix_timestamp(col("d")).as("d_s"),
          r6(col("mean_l")).as("mean_l"), r6(col("mean_r")).as("mean_r"),
          r6(col("shift_score")).as("shift_score"))
        .orderBy("user_id", "d_s")
    }),

    // Fourier weekly seasonality pair (k=2 harmonics, period 7 days) —
    // pure projection
    "q88_fourier" -> ((s, dir) => {
      Features.fourierTerms(ev(s, dir), "ts", period = 7, k = 2)
        .select(col("event_id"),
          r6(col("fourier_sin_1")).as("fourier_sin_1"),
          r6(col("fourier_cos_1")).as("fourier_cos_1"),
          r6(col("fourier_sin_2")).as("fourier_sin_2"),
          r6(col("fourier_cos_2")).as("fourier_cos_2"))
        .orderBy("event_id")
    }),

    // Box-Cox (λ=0.5) + inverse round-trip: transformed value and the
    // replayed inverse (null for non-positive inputs)
    "q89_boxcox" -> ((s, dir) => {
      val p = Scalers.BoxCoxParams("value", 0.5)
      ev(s, dir)
        .withColumn("bc", p(col("value")))
        .withColumn("back", p.inverse(col("bc")))
        .select(col("event_id"), r6(col("bc")).as("bc"), r6(col("back")).as("back"))
        .orderBy("event_id")
    }),

    // winsorize per user at the exact [p05, p95] band
    "q90_winsorize" -> ((s, dir) => {
      Scalers.winsorize(ev(s, dir), Seq("user_id"), "value")
        .select(col("user_id"), col("event_id"),
          r6(col("value_wins")).as("value_wins"))
        .orderBy("user_id", "event_id")
    }),

    // URL canonicalization: messy urls synthesized from doc_id (cases,
    // default/odd ports, empty paths, unsorted+empty query params,
    // fragments), normalized by the regex-only rule both engines replay
    "q91_url_canon" -> ((s, dir) => {
      val id = col("doc_id")
      val messy = concat(
        when(pmod(id, lit(3)) === 0, lit("HTTPS")).when(pmod(id, lit(3)) === 1, lit("https"))
          .otherwise(lit("HTTP")),
        lit("://W"), pmod(id, lit(50)).cast("string"), lit(".Example.COM"),
        when(pmod(id, lit(4)) === 0, lit(":443")).when(pmod(id, lit(4)) === 1, lit(":8080"))
          .otherwise(lit("")),
        when(pmod(id, lit(5)) === 0, lit("")).otherwise(concat(lit("/p/"), id.cast("string"))),
        when(pmod(id, lit(2)) === 0, lit("?b=2&a=1&")).otherwise(lit("")),
        when(pmod(id, lit(7)) === 0, lit("#frag")).otherwise(lit("")))
      docs(s, dir)
        .select(id, messy.as("url"), Hier.canonicalizeUrl(messy).as("canon"))
        .orderBy("doc_id")
    }),

    // chunk-level (boilerplate) dedup: 8-word chunks, first corpus-wide
    // occurrence wins, docs reassembled from kept chunks
    "q92_chunk_dedup" -> ((s, dir) => {
      Dedup.chunkDedup(docs(s, dir).filter(col("doc_id") < 300), "doc_id", "text")
        .select(col("doc_id"), col("n_chunks"), col("n_kept"),
          md5(col("kept_text")).as("kept_md5"))
        .orderBy("doc_id")
    }),

    // classical additive seasonal decomposition, weekly period on the daily
    // series (trend = centered 7-MA, seasonal = centered per-position means).
    // Runs in seasonalDecomposeExact's scaled-integer algebra (q148's
    // two-part determinism discipline): the integer-cents head alone was
    // NOT sufficient — the generic path's per-phase avg(double) still
    // accumulated in shuffle-merge order. Here every order-sensitive
    // reduction is a long sum and every double op a fixed expression tree,
    // so trend/seasonal/remainder are bit-identical across runs + engines.
    "q93_seasonal_decomp" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(round(col("value") * 100).cast("long")).as("vc"))
      Features.seasonalDecomposeExact(daily, Seq("user_id"), "d", "vc",
          period = 7, scale = 100L)
        .select(col("user_id"), unix_timestamp(col("d")).as("d_s"),
          r6(col("trend")).as("trend"), r6(col("seasonal")).as("seasonal"),
          r6(col("remainder")).as("remainder"))
        .orderBy("user_id", "d_s")
    }),

    // rolling 7-day Pearson correlation between daily volume and daily count
    "q94_rolling_corr" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"), count(lit(1)).cast("double").as("c"))
      Features.rollingCorr(daily, Seq("user_id"), "d", "v", "c", winRows = 7)
        .select(col("user_id"), unix_timestamp(col("d")).as("d_s"),
          r6(col("rolling_corr")).as("rolling_corr"))
        .orderBy("user_id", "d_s")
    }),

    // pivot (builtin groupBy.pivot with an EXPLICIT value list — no extra
    // distinct pass): event_type → columns of summed value
    "q95_pivot" -> ((s, dir) => {
      ev(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(sum(col("value")))
        .select(col("user_id"), r6(col("click")).as("click"), r6(col("view")).as("view"),
          r6(col("purchase")).as("purchase"), r6(col("signup")).as("signup"),
          r6(col("error")).as("error"))
        .orderBy("user_id")
    }),

    // unpivot/melt (builtin): two measures stacked to (event_id, measure, val)
    "q96_melt" -> ((s, dir) => {
      ev(s, dir)
        .filter(col("event_id") < 1000)
        .select(col("event_id"), col("value").as("v_raw"),
          (col("value") * 2.0).as("v_double"))
        .unpivot(Array(col("event_id")), Array(col("v_raw"), col("v_double")),
          "measure", "val")
        .select(col("event_id"), col("measure"), r6(col("val")).as("val"))
        .orderBy("event_id", "measure")
    }),

    // grouped top-k: top-3 events by value per user, deterministic ties
    "q97_topk_group" -> ((s, dir) => {
      graft.operators.Sampling.topKBy(ev(s, dir), Seq("user_id"), "value",
          "event_id", k = 3)
        .select(col("user_id"), col("rnk"), col("event_id"),
          r6(col("value")).as("value"))
        .orderBy("user_id", "rnk")
    }),

    // data-quality expectations report: one aggregate pass for row checks +
    // one groupBy for the PK uniqueness check
    "q98_expectations" -> ((s, dir) => {
      Profile.expectations(ev(s, dir),
          notNull = Seq("user_id", "ts", "value"),
          unique = Seq(Seq("event_id")),
          ranges = Seq(("value", 0.0, 400.0)),
          accepted = Seq(("event_type", Seq("click", "view", "purchase"))))
        .orderBy("check", "target")
    }),
  )

  val oracles: Seq[(String, String)] = Seq(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |round(sum(l_quantity),6) AS sum_qty,
        |round(sum(l_extendedprice),6) AS sum_base_price,
        |round(sum(l_extendedprice*(1-l_discount)),6) AS sum_disc_price,
        |round(avg(l_quantity),6) AS avg_qty,
        |count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q02_rollup_1m" ->
      """SELECT user_id, epoch(date_trunc('minute', ts))::BIGINT AS bucket_start,
        |count(*) AS cnt, round(sum(value),6) AS sum_value,
        |round(min(value),6) AS min_value, round(max(value),6) AS max_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q03_tier_promote_1h" ->
      """SELECT user_id, epoch(date_trunc('hour', ts))::BIGINT AS bucket_start,
        |count(*) AS cnt, round(sum(value),6) AS sum_value,
        |round(min(value),6) AS min_value, round(max(value),6) AS max_value,
        |round(sum(value)/count(*),6) AS mean_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q04_percentiles" ->
      """SELECT event_type, round(quantile_cont(value, 0.5),6) AS p50,
        |round(quantile_cont(value, 0.95),6) AS p95, count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q05_grouping_sets" ->
      """SELECT event_type, user_id, count(*) AS cnt, round(sum(value),6) AS sum_value,
        |CASE WHEN event_type IS NULL AND user_id IS NULL THEN 3
        |     WHEN user_id IS NULL THEN 1 ELSE 0 END AS lvl
        |FROM events GROUP BY ROLLUP(event_type, user_id)
        |ORDER BY lvl, event_type NULLS FIRST, user_id NULLS FIRST""".stripMargin,

    // sum(length(..)) is HUGEINT in DuckDB → pandas float64 repr ("7949.0")
    // breaks the driver's exact hash vs Spark's BIGINT; cast to BIGINT.
    "q06_lang_card" ->
      """SELECT source, count(DISTINCT lang) AS lang_card, count(*) AS cnt,
        |sum(length(text))::BIGINT AS sum_len, round(avg(n_chars),6) AS avg_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q07_lag" ->
      """SELECT user_id, event_id,
        |round(lag(value,1) OVER (PARTITION BY user_id ORDER BY event_id),6) AS value_lag1
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q08_diff" ->
      """SELECT user_id, event_id,
        |round(value - lag(value,3) OVER (PARTITION BY user_id ORDER BY event_id),6) AS value_diff3
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q09_pct_change" ->
      """WITH t AS (SELECT user_id, event_id,
        |  lag(value,1) OVER (PARTITION BY user_id ORDER BY event_id) AS l1,
        |  lag(value,2) OVER (PARTITION BY user_id ORDER BY event_id) AS l2
        |FROM events)
        |SELECT user_id, event_id,
        |round(CASE WHEN l2 IS NULL OR l2 = 0 THEN NULL ELSE (l1-l2)/l2 END,6) AS pct_change1
        |FROM t ORDER BY user_id, event_id""".stripMargin,

    "q10_rolling_7d" ->
      """SELECT user_id, event_id,
        |count(value) OVER w AS roll_cnt,
        |round(sum(value) OVER w,6) AS roll_sum,
        |round(min(value) OVER w,6) AS roll_min,
        |round(max(value) OVER w,6) AS roll_max
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY floor(epoch(ts))::BIGINT
        |             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "q11_locf" ->
      """WITH t AS (SELECT user_id, event_id,
        |  CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v FROM events)
        |SELECT user_id, event_id,
        |round(last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),6) AS v_filled
        |FROM t ORDER BY user_id, event_id""".stripMargin,

    "q12_gapfill" ->
      """WITH b AS (SELECT date_trunc('day', min(ts)) AS mn, date_trunc('day', max(ts)) AS mx FROM events),
        |g AS (SELECT unnest(generate_series((SELECT mn FROM b), (SELECT mx FROM b), INTERVAL 1 DAY)) AS day),
        |u AS (SELECT DISTINCT user_id FROM events),
        |a AS (SELECT user_id, date_trunc('day', ts) AS day, sum(value) AS sv FROM events GROUP BY 1,2)
        |SELECT u.user_id, epoch(g.day)::BIGINT AS day_sec,
        |round(coalesce(a.sv, -1.0),6) AS sv_filled
        |FROM u CROSS JOIN g LEFT JOIN a ON a.user_id = u.user_id AND a.day = g.day
        |ORDER BY u.user_id, day_sec""".stripMargin,

    "q13_days_since_first" ->
      """SELECT user_id, event_id,
        |greatest(coalesce(ts::DATE - (min(CASE WHEN value > 0 THEN ts END)
        |  OVER (PARTITION BY user_id))::DATE, 0), 0) AS days_since_release
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q14_calendar" ->
      """SELECT event_id,
        |dayofmonth(ts) AS day,
        |(dayofweek(ts) + 6) % 7 AS day_of_week,
        |CASE WHEN (dayofweek(ts) + 6) % 7 >= 5 THEN 1 ELSE 0 END AS weekend_flag,
        |((dayofyear(ts) - 1 + 7 - dayofweek(ts)) // 7 + 1)::INT AS week,
        |month(ts) AS month, year(ts) % 100 AS year, quarter(ts) AS quarter,
        |printf('%02dM%02d', year(ts) % 100, month(ts)) AS month_year,
        |printf('%02dQ%d', year(ts) % 100, quarter(ts)) AS quarter_year
        |FROM events ORDER BY event_id""".stripMargin,

    "q15_standardize" ->
      """SELECT event_id,
        |round((value - (SELECT avg(value) FROM events)) / (SELECT stddev_samp(value) FROM events),6) AS value_std
        |FROM events ORDER BY event_id""".stripMargin,

    "q16_log1p_clamp" ->
      """SELECT event_id, round(ln(1 + greatest(value - 100, 0)),6) AS log1p_clamped
        |FROM events ORDER BY event_id""".stripMargin,

    "q17_error_metrics" ->
      """WITH t AS (SELECT event_type, value AS a,
        |  lag(value,1) OVER (PARTITION BY user_id ORDER BY event_id) AS p FROM events)
        |SELECT event_type,
        |round(avg(abs((a-p)/a)),6) AS mape,
        |round(avg(abs(a-p)),6) AS mae,
        |round(sqrt(avg((a-p)*(a-p))),6) AS rmse,
        |round(avg(abs(a-p)*2/(abs(a)+abs(p))),6) AS smape,
        |count(*) AS n
        |FROM t WHERE a IS NOT NULL AND p IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,

    "q18_threshold_share" ->
      """SELECT user_id, round(avg(CASE WHEN value > 50 THEN 1.0 ELSE 0.0 END),6) AS share_gt50,
        |count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q19_topk_users" ->
      """SELECT user_id, round(sum(value),6) AS total FROM events
        |GROUP BY 1 ORDER BY total DESC, user_id LIMIT 10""".stripMargin,

    "q20_semi_join" ->
      """SELECT o_orderstatus, count(*) AS cnt FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q21_anti_join" ->
      """SELECT c_mktsegment, count(*) AS cnt FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q22_dim_join" ->
      """SELECT n_name, count(*) AS cnt, round(sum(o_totalprice),2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q23_outer_join" ->
      """WITH o AS (SELECT date_trunc('day', o_orderdate) AS day, count(*) AS order_cnt
        |  FROM orders GROUP BY 1),
        |l AS (SELECT date_trunc('day', l_shipdate) AS day, count(*) AS ship_cnt
        |  FROM lineitem GROUP BY 1)
        |SELECT epoch(coalesce(o.day, l.day))::BIGINT AS day_sec,
        |coalesce(o.order_cnt, 0) AS order_cnt, coalesce(l.ship_cnt, 0) AS ship_cnt
        |FROM o FULL OUTER JOIN l ON o.day = l.day ORDER BY day_sec""".stripMargin,

    "q24_union_tag" ->
      """SELECT tag, event_type, count(*) AS cnt FROM (
        |  SELECT 'train' AS tag, event_type FROM events WHERE ts < TIMESTAMP '2024-01-15'
        |  UNION ALL
        |  SELECT 'test' AS tag, event_type FROM events WHERE ts >= TIMESTAMP '2024-01-15')
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q25_future_frame" ->
      """WITH mx AS (SELECT epoch(date_trunc('day', max(ts)))::BIGINT AS m FROM events)
        |SELECT u.user_id, d.day_sec FROM (SELECT DISTINCT user_id FROM events) u
        |CROSS JOIN (SELECT unnest(generate_series((SELECT m+86400 FROM mx),
        |  (SELECT m+3*86400 FROM mx), 86400)) AS day_sec) d
        |ORDER BY u.user_id, d.day_sec""".stripMargin,

    "q26_ewma" ->
      """WITH d AS (SELECT user_id, date_trunc('day', ts) AS day, sum(value) AS v
        |  FROM events GROUP BY 1,2),
        |r AS (SELECT user_id, day, v,
        |  row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM d),
        |s AS (SELECT a.user_id, a.day, a.rn, b.v AS x
        |  FROM r a LEFT JOIN r b ON a.user_id = b.user_id AND b.rn = a.rn - 1)
        |SELECT s1.user_id, epoch(s1.day)::BIGINT AS day_sec,
        |round(sum(power(2.0/3.0, s1.rn - s2.rn) * s2.x) / sum(power(2.0/3.0, s1.rn - s2.rn)),6) AS ewma5
        |FROM s s1 LEFT JOIN s s2 ON s1.user_id = s2.user_id AND s2.rn <= s1.rn AND s2.x IS NOT NULL
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q27_minmax" ->
      """SELECT event_id,
        |round((value - min(value) OVER (PARTITION BY event_type)) /
        |  (max(value) OVER (PARTITION BY event_type) - min(value) OVER (PARTITION BY event_type)),6) AS value_norm
        |FROM events ORDER BY event_id""".stripMargin,

    "q28_weighted_avg" ->
      """SELECT event_type,
        |round(sum(value * (user_id % 5 + 1)) / sum(user_id % 5 + 1),6) AS wavg
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q29_missing_profile" ->
      """SELECT round(avg(CASE WHEN event_id % 7 = 0 THEN 1.0 ELSE 0.0 END),6) AS pct_null_v,
        |round(avg(CASE WHEN props IS NULL THEN 1.0 ELSE 0.0 END),6) AS pct_null_props,
        |count(*) AS n FROM events""".stripMargin,

    "q30_cv_folds" ->
      """WITH d AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events),
        |n AS (SELECT count(*) AS c FROM d),
        |r AS (SELECT day, row_number() OVER (ORDER BY day) - 1 AS rn FROM d),
        |f AS (SELECT unnest(generate_series(0, 3)) AS fold)
        |SELECT f.fold,
        |epoch(tr.day)::BIGINT AS train_end,
        |epoch(s.day)::BIGINT AS test_start,
        |epoch(e.day)::BIGINT AS test_end
        |FROM f CROSS JOIN n
        |JOIN r tr ON tr.rn = n.c - (4 - f.fold) * (n.c // 5) - 1
        |JOIN r s ON s.rn = n.c - (4 - f.fold) * (n.c // 5)
        |JOIN r e ON e.rn = n.c - (4 - f.fold) * (n.c // 5) + (n.c // 5) - 1
        |ORDER BY f.fold""".stripMargin,

    // Shared hash contract with graft.functions.Hashing: md5int(s) =
    // ('0x' || substr(md5(s),1,15))::BIGINT == Spark conv(substring(md5(s),1,15),16,10).
    "q31_exact_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT md5(text) AS content_md5, min(doc_id) AS keep_id, count(*) AS dup_cnt
        |FROM corpus GROUP BY 1 ORDER BY keep_id""".stripMargin,

    "q32_minhash_sig" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents WHERE doc_id < 200),
        |s AS (SELECT doc_id, list_transform(generate_series(1, greatest(len(ws)-2, 0)),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh FROM w),
        |e AS (SELECT doc_id, unnest(sh) AS g FROM s)
        |SELECT doc_id,
        |  min(('0x' || substr(md5('0:' || g),1,15))::BIGINT) AS mh0,
        |  min(('0x' || substr(md5('1:' || g),1,15))::BIGINT) AS mh1,
        |  min(('0x' || substr(md5('2:' || g),1,15))::BIGINT) AS mh2,
        |  min(('0x' || substr(md5('3:' || g),1,15))::BIGINT) AS mh3
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    "q33_lsh_near_dup" ->
      """WITH corpus AS (
        |  SELECT doc_id AS id, text FROM documents WHERE doc_id < 200
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 200),
        |w AS (SELECT id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws FROM corpus),
        |s AS (SELECT id, list_transform(generate_series(1, greatest(len(ws)-2, 0)),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh FROM w),
        |e AS (SELECT id, unnest(sh) AS g FROM s),
        |m AS (SELECT id,
        |  min(('0x' || substr(md5('0:' || g),1,15))::BIGINT) AS mh0,
        |  min(('0x' || substr(md5('1:' || g),1,15))::BIGINT) AS mh1,
        |  min(('0x' || substr(md5('2:' || g),1,15))::BIGINT) AS mh2,
        |  min(('0x' || substr(md5('3:' || g),1,15))::BIGINT) AS mh3,
        |  min(('0x' || substr(md5('4:' || g),1,15))::BIGINT) AS mh4,
        |  min(('0x' || substr(md5('5:' || g),1,15))::BIGINT) AS mh5,
        |  min(('0x' || substr(md5('6:' || g),1,15))::BIGINT) AS mh6,
        |  min(('0x' || substr(md5('7:' || g),1,15))::BIGINT) AS mh7
        |  FROM e GROUP BY 1),
        |bk AS (
        |  SELECT id, 0 AS band, ('0x' || substr(md5('0:' || mh0::VARCHAR || ',' || mh1::VARCHAR),1,15))::BIGINT AS bucket FROM m
        |  UNION ALL SELECT id, 1, ('0x' || substr(md5('1:' || mh2::VARCHAR || ',' || mh3::VARCHAR),1,15))::BIGINT FROM m
        |  UNION ALL SELECT id, 2, ('0x' || substr(md5('2:' || mh4::VARCHAR || ',' || mh5::VARCHAR),1,15))::BIGINT FROM m
        |  UNION ALL SELECT id, 3, ('0x' || substr(md5('3:' || mh6::VARCHAR || ',' || mh7::VARCHAR),1,15))::BIGINT FROM m),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
        |shd AS (SELECT id, list_distinct(sh) AS sh FROM s),
        |j AS (SELECT id_a, id_b,
        |  len(list_intersect(x.sh, y.sh))::DOUBLE AS i2,
        |  (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))::DOUBLE AS u2
        |  FROM cand JOIN shd x ON x.id = cand.id_a JOIN shd y ON y.id = cand.id_b)
        |SELECT id_a, id_b, round(i2/u2, 6) AS jaccard FROM j
        |WHERE u2 > 0 AND i2/u2 >= 0.9 ORDER BY 1, 2""".stripMargin,

    "q34_simhash" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents WHERE doc_id < 200),
        |d AS (SELECT doc_id, unnest(list_distinct(ws)) AS word FROM w WHERE len(ws) > 0),
        |h AS (SELECT doc_id, ('0x' || substr(md5(word),1,15))::BIGINT AS hv FROM d),
        |b AS (SELECT doc_id, j,
        |    CASE WHEN sum(((hv >> j) & 1) * 2 - 1) >= 0 THEN (1::BIGINT << j) ELSE 0 END AS bit
        |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j) GROUP BY doc_id, j)
        |SELECT doc_id, sum(bit)::BIGINT AS simhash FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q35_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents WHERE doc_id < 60),
        |s AS (SELECT doc_id, lang, list_distinct(list_transform(generate_series(1, greatest(len(ws)-2, 0)),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM w),
        |d AS (SELECT doc_id, lang, sh, len(sh) AS n FROM s WHERE len(sh) > 0),
        |e AS (SELECT doc_id, lang, unnest(sh) AS g FROM d),
        |inter AS (SELECT a.lang, a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i2
        |  FROM e a JOIN e b ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3)
        |SELECT inter.lang, id_a, id_b,
        |  round(i2::DOUBLE / (x.n + y.n - i2), 6) AS jaccard
        |FROM inter
        |JOIN d x ON x.doc_id = id_a AND x.lang = inter.lang
        |JOIN d y ON y.doc_id = id_b AND y.lang = inter.lang
        |ORDER BY 1, 2, 3""".stripMargin,

    "q36_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |sc AS (SELECT query_id, neighbor_id,
        |    list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
        |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id
        |    AND sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)) > 0),
        |r AS (SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM sc)
        |SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // seeded Rademacher hyperplanes: sign(j,d) from md5('h:0:j:d') — the
    // identical derivation as Similarity.rademacherSigns; projections are
    // sequential-order dot products on both engines so boundary signs agree
    "q37_ann_bucketed" ->
      """WITH sl AS (SELECT j, list_transform(generate_series(1, 64),
        |    d -> (CASE WHEN ('0x' || substr(md5('h:0:' || j::VARCHAR || ':' || d::VARCHAR), 1, 15))::BIGINT % 2 = 0
        |          THEN 1.0 ELSE -1.0 END)::DOUBLE) AS s
        |  FROM generate_series(0, 7) t(j)),
        |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |pb AS (SELECT v.vec_id,
        |    sum(CASE WHEN list_dot_product(v.e, sl.s) >= 0 THEN (1::BIGINT << sl.j) ELSE 0 END)::BIGINT AS bucket
        |  FROM v CROSS JOIN sl GROUP BY 1),
        |qp AS (SELECT vec_id AS query_id,
        |    CASE WHEN g.pr = 0 THEN bucket ELSE xor(bucket, (1::BIGINT << (g.pr - 1))) END AS bucket
        |  FROM pb CROSS JOIN generate_series(0, 8) g(pr) WHERE vec_id < 20),
        |sc AS (SELECT qp.query_id, cb.vec_id AS neighbor_id,
        |    list_dot_product(q.e, c.e) / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) AS sim
        |  FROM qp JOIN pb cb ON cb.bucket = qp.bucket AND cb.vec_id <> qp.query_id
        |  JOIN v q ON q.vec_id = qp.query_id
        |  JOIN v c ON c.vec_id = cb.vec_id
        |  WHERE sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)) > 0),
        |r AS (SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM sc)
        |SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // two independent hyperplane tables (seeds h:0:*, h:1:*): a pair is a
    // candidate if it collides in ANY table, then exact-cosine verified
    "q38_embed_near_dup" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
        |corpus AS (SELECT vec_id, embedding FROM base
        |  UNION ALL SELECT vec_id + 1000000, embedding FROM base),
        |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM corpus),
        |sl AS (SELECT t, j, list_transform(generate_series(1, 64),
        |    d -> (CASE WHEN ('0x' || substr(md5('h:' || t::VARCHAR || ':' || j::VARCHAR || ':' || d::VARCHAR), 1, 15))::BIGINT % 2 = 0
        |          THEN 1.0 ELSE -1.0 END)::DOUBLE) AS s
        |  FROM generate_series(0, 1) tt(t) CROSS JOIN generate_series(0, 7) jj(j)),
        |pb AS (SELECT v.vec_id, sl.t,
        |    sum(CASE WHEN list_dot_product(v.e, sl.s) >= 0 THEN (1::BIGINT << sl.j) ELSE 0 END)::BIGINT AS bucket
        |  FROM v CROSS JOIN sl GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM pb a JOIN pb b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b,
        |  round(list_dot_product(x.e, y.e) / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))), 6) AS cos_sim
        |FROM cand JOIN v x ON x.vec_id = id_a JOIN v y ON y.vec_id = id_b
        |WHERE sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e)) > 0
        |  AND list_dot_product(x.e, y.e) / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))) >= 0.999
        |ORDER BY 1, 2""".stripMargin,

    "q39_lang_id" ->
      """WITH tri AS (SELECT doc_id, lang,
        |    unnest(list_transform(generate_series(1, greatest(len(text)-2, 0)), i -> substr(text, i, 3))) AS trigram
        |  FROM documents),
        |prof AS (SELECT lang, trigram FROM (
        |    SELECT lang, trigram, row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, trigram) AS rk
        |    FROM tri WHERE doc_id % 5 < 4 AND lang IS NOT NULL
        |      AND ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 3 = 0
        |    GROUP BY lang, trigram)
        |  WHERE rk <= 50),
        |test AS (SELECT doc_id, trigram FROM tri WHERE doc_id % 5 = 4),
        |sc AS (SELECT t.doc_id, p.lang, count(*) AS score
        |  FROM test t JOIN prof p ON t.trigram = p.trigram GROUP BY 1, 2),
        |r AS (SELECT doc_id, lang, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rk FROM sc)
        |SELECT doc_id, lang AS pred_lang, score FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    "q40_quality_score" ->
      """WITH w AS (SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |f AS (SELECT doc_id,
        |    len(text) AS n_chars_q, len(ws) AS n_tokens,
        |    CASE WHEN len(ws) > 0 THEN list_sum(list_transform(ws, t -> len(t)))::DOUBLE / len(ws) END AS mean_token_len,
        |    CASE WHEN len(ws) > 0 THEN len(list_filter(ws, t -> list_contains(['the','a','of','and','in','to','is'], t)))::DOUBLE / len(ws) END AS stopword_ratio,
        |    CASE WHEN len(text) > 0 THEN (len(text) - len(regexp_replace(text, '[^\p{L}\p{N}\s]', '', 'g')))::DOUBLE / len(text) END AS punct_ratio,
        |    CASE WHEN len(ws) > 0 THEN len(list_distinct(ws))::DOUBLE / len(ws) END AS type_token_ratio
        |  FROM w)
        |SELECT doc_id, n_tokens,
        |  round(mean_token_len, 6) AS mean_token_len,
        |  round(stopword_ratio, 6) AS stopword_ratio,
        |  round(punct_ratio, 6) AS punct_ratio,
        |  round(type_token_ratio, 6) AS type_token_ratio,
        |  round(type_token_ratio * (1 - coalesce(punct_ratio, 0)) * least(n_tokens / 20.0, 1.0), 6) AS quality_score
        |FROM f ORDER BY doc_id""".stripMargin,

    "q41_token_counts" ->
      """WITH w AS (SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents)
        |SELECT doc_id, len(ws) AS ws_tokens,
        |  len(regexp_extract_all(text, '[\p{L}\p{N}]+|[^\p{L}\p{N}\s]')) AS regex_tokens,
        |  len(list_distinct(ws)) AS distinct_tokens
        |FROM w ORDER BY doc_id""".stripMargin,

    "q42_fingerprint" ->
      """WITH h AS (SELECT doc_id,
        |    list_sort(list_distinct(list_transform(generate_series(1, greatest(len(text)-7, 0)),
        |      i -> ('0x' || substr(md5(substr(text, i, 8)),1,15))::BIGINT))) AS hs
        |  FROM documents)
        |SELECT doc_id, hs[1] AS fp0, hs[2] AS fp1, hs[3] AS fp2, hs[4] AS fp3
        |FROM h WHERE len(hs) > 0 ORDER BY doc_id""".stripMargin,

    // width/height derive from the payload's first two UTF-8 BYTES (hex of
    // the blob), matching StubDecoder exactly — ascii(substr(..)) would be
    // code points, which only agree on pure-ASCII corpora; try_cast guards
    // texts shorter than 2 bytes identically to the stub's 0 default.
    "q43_media_features" ->
      """SELECT doc_id, octet_length(encode(text)) AS byte_len,
        |  sha256(text) AS sha_hex,
        |  64 + coalesce(try_cast('0x' || substr(hex(encode(text)), 1, 2) AS INT), 0) % 64 AS stub_width,
        |  64 + coalesce(try_cast('0x' || substr(hex(encode(text)), 3, 2) AS INT), 0) % 64 AS stub_height,
        |  1 + octet_length(encode(text)) % 8 AS stub_n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q44_bfill" ->
      """WITH t AS (SELECT user_id, event_id,
        |  CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v FROM events)
        |SELECT user_id, event_id,
        |round(first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
        |  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),6) AS v_bfilled
        |FROM t ORDER BY user_id, event_id""".stripMargin,

    "q45_linear_interp" ->
      """WITH d AS (SELECT user_id, date_trunc('day', ts) AS day, sum(value) AS v
        |  FROM events GROUP BY 1, 2),
        |n AS (SELECT user_id, day, epoch(day)::BIGINT AS t,
        |  CASE WHEN (epoch(day)::BIGINT // 86400) % 4 = 1 THEN NULL ELSE v END AS x FROM d),
        |w AS (SELECT user_id, day, t, x,
        |  last_value(x IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |  first_value(x IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |  last_value(CASE WHEN x IS NOT NULL THEN t END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        |  first_value(CASE WHEN x IS NOT NULL THEN t END IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        |  FROM n)
        |SELECT user_id, t AS day_sec,
        |round(CASE WHEN x IS NOT NULL THEN x
        |  WHEN pv IS NOT NULL AND nv IS NOT NULL THEN pv + (nv - pv) * (t - pt) / (nt - pt)
        |  END, 6) AS v_interp
        |FROM w ORDER BY user_id, day_sec""".stripMargin,

    "q46_momentum" ->
      """WITH d AS (SELECT user_id, date_trunc('day', ts) AS day, sum(value) AS v
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, day, epoch(day)::BIGINT AS te, v,
        |  lag(v, 1) OVER (PARTITION BY user_id ORDER BY day) AS lg FROM d),
        |m AS (SELECT user_id, day, te, lg,
        |  avg(v) OVER (PARTITION BY user_id ORDER BY te
        |    RANGE BETWEEN 604800 PRECEDING AND 86400 PRECEDING) AS rm FROM t)
        |SELECT user_id, te AS day_sec,
        |round(CASE WHEN rm IS NULL OR rm = 0 THEN NULL ELSE lg / rm END, 6) AS momentum7d
        |FROM m ORDER BY user_id, day_sec""".stripMargin,

    "q47_rolling_gated" ->
      """WITH d AS (SELECT user_id, date_trunc('day', ts) AS day, sum(value) AS v
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, epoch(day)::BIGINT AS te, v FROM d),
        |m AS (SELECT user_id, te,
        |  count(v) OVER w AS n,
        |  stddev_samp(v) OVER w AS sd,
        |  avg(v) OVER w AS mn,
        |  sum(v) OVER w AS sm
        |  FROM t
        |  WINDOW w AS (PARTITION BY user_id ORDER BY te
        |    RANGE BETWEEN 604800 PRECEDING AND 86400 PRECEDING))
        |SELECT user_id, te AS day_sec,
        |round(CASE WHEN n >= 5 THEN sd END, 6) AS roll_std,
        |round(CASE WHEN n >= 5 THEN mn END, 6) AS roll_mean,
        |round(CASE WHEN n >= 5 THEN sm END, 6) AS roll_sum
        |FROM m ORDER BY user_id, day_sec""".stripMargin,

    "q48_keyed_update" ->
      """SELECT event_id, user_id,
        |round(CASE WHEN user_id % 3 = 0 THEN value * 2 ELSE value END, 6) AS value_updated
        |FROM events ORDER BY event_id""".stripMargin,

    "q49_pk_check" ->
      """WITH g AS (SELECT user_id, ts, count(*) AS cnt FROM events
        |  GROUP BY 1, 2 HAVING count(*) > 1)
        |SELECT count(*) AS violation_groups,
        |coalesce(sum(cnt), 0)::BIGINT AS violation_rows FROM g""".stripMargin,

    // pandas ewm(span, adjust=True) closed form, lag-1 series; decay = 1-α =
    // (span-1)/(span+1): 0.5 for span 3, 2/3 for span 5 (same CTE as q26)
    "q50_ewma_crossover" ->
      """WITH d AS (SELECT user_id, date_trunc('day', ts) AS day, sum(value) AS v
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, day, v,
        |  row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM d),
        |s AS (SELECT a.user_id, a.day, a.rn, b.v AS x
        |  FROM r a LEFT JOIN r b ON a.user_id = b.user_id AND b.rn = a.rn - 1),
        |e3 AS (SELECT s1.user_id, s1.day,
        |  sum(power(0.5, s1.rn - s2.rn) * s2.x) / sum(power(0.5, s1.rn - s2.rn)) AS v
        |  FROM s s1 LEFT JOIN s s2 ON s1.user_id = s2.user_id AND s2.rn <= s1.rn AND s2.x IS NOT NULL
        |  GROUP BY 1, 2),
        |e5 AS (SELECT s1.user_id, s1.day,
        |  sum(power(2.0/3.0, s1.rn - s2.rn) * s2.x) / sum(power(2.0/3.0, s1.rn - s2.rn)) AS v
        |  FROM s s1 LEFT JOIN s s2 ON s1.user_id = s2.user_id AND s2.rn <= s1.rn AND s2.x IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT e3.user_id, epoch(e3.day)::BIGINT AS day_sec,
        |round(CASE WHEN e5.v IS NULL OR e5.v = 0 THEN NULL ELSE e3.v / e5.v END, 6) AS cross_3_5
        |FROM e3 JOIN e5 ON e3.user_id = e5.user_id AND e3.day = e5.day
        |ORDER BY 1, 2""".stripMargin,

    "q51_threshold_roll" ->
      """WITH d AS (SELECT user_id, date_trunc('day', ts) AS day, sum(value) AS v
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, epoch(day)::BIGINT AS te, v FROM d),
        |m AS (SELECT user_id, te,
        |  count(v) OVER w AS n,
        |  avg(CASE WHEN v > 500 THEN 1.0 ELSE 0.0 END) OVER w AS sh
        |  FROM t
        |  WINDOW w AS (PARTITION BY user_id ORDER BY te
        |    RANGE BETWEEN 604800 PRECEDING AND 86400 PRECEDING))
        |SELECT user_id, te AS day_sec,
        |round(CASE WHEN n >= 5 THEN sh END, 6) AS thr_share
        |FROM m ORDER BY user_id, day_sec""".stripMargin,

    "q52_rolling_percent" ->
      """WITH d AS (SELECT user_id, date_trunc('day', ts) AS day, sum(value) AS v
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, day, epoch(day)::BIGINT AS te, v,
        |  lag(v, 1) OVER (PARTITION BY user_id ORDER BY day) AS lg FROM d),
        |m AS (SELECT user_id, te, lg,
        |  sum(v) OVER (PARTITION BY user_id ORDER BY te
        |    RANGE BETWEEN 604800 PRECEDING AND 86400 PRECEDING) AS rs FROM t)
        |SELECT user_id, te AS day_sec,
        |round(CASE WHEN rs IS NULL OR rs = 0 THEN NULL ELSE lg / rs END, 6) AS rollpct7d
        |FROM m ORDER BY user_id, day_sec""".stripMargin,

    "q53_categorical_encode" ->
      """WITH dict AS (SELECT event_type,
        |  row_number() OVER (ORDER BY event_type) - 1 AS code
        |  FROM (SELECT DISTINCT event_type FROM events))
        |SELECT e.event_type, d.code, count(*) AS cnt
        |FROM events e JOIN dict d ON e.event_type = d.event_type
        |GROUP BY 1, 2 ORDER BY code""".stripMargin,

    "q54_row_invariant" ->
      """SELECT count(*) AS n,
        |sum(CASE WHEN len(text) <> n_chars THEN 1 ELSE 0 END)::BIGINT AS violations
        |FROM documents""".stripMargin,

    // fold boundaries replicate CrossVal.timeSeriesSplits for fold 3 of 4:
    // testSize = n//5, trainEnd at rn = n - testSize - 1, testEnd at n - 1
    "q55_leakfree_cv" ->
      """WITH d AS (SELECT user_id, date_trunc('day', ts) AS day, sum(value) AS v
        |  FROM events GROUP BY 1, 2),
        |dd AS (SELECT DISTINCT day FROM d),
        |n AS (SELECT count(*) AS c FROM dd),
        |r AS (SELECT day, row_number() OVER (ORDER BY day) - 1 AS rn FROM dd),
        |b AS (SELECT
        |  (SELECT r.day FROM r, n WHERE r.rn = n.c - (n.c // 5) - 1) AS train_end,
        |  (SELECT r.day FROM r, n WHERE r.rn = n.c - 1) AS test_end),
        |f AS (SELECT user_id, day, v FROM d, b WHERE day <= b.test_end),
        |p AS (SELECT avg(v) AS m, stddev_samp(v) AS s FROM f, b WHERE day <= b.train_end),
        |sc AS (SELECT user_id, day, (v - p.m) / (CASE WHEN p.s = 0 THEN 1 ELSE p.s END) AS vs
        |  FROM f, p),
        |mk AS (SELECT user_id, day, vs, CASE WHEN day <= b.train_end THEN vs END AS vmask
        |  FROM sc, b),
        |ft AS (SELECT mk.user_id, mk.day, mk.vs,
        |  lag(vmask, 1) OVER (PARTITION BY user_id ORDER BY day) AS l1,
        |  CASE WHEN mk.day <= b.train_end THEN 'train' ELSE 'test' END AS sample
        |  FROM mk, b)
        |SELECT user_id, epoch(day)::BIGINT AS day_sec, round(vs, 6) AS v_scaled,
        |round(l1, 6) AS v_lag1, sample FROM ft ORDER BY user_id, day_sec""".stripMargin,

    // DuckDB skewness/kurtosis are the pandas sample-adjusted G1/G2 directly
    // (empirically verified); Spark's population g1/g2 carry the adjustment
    // in Features.rollingStats
    "q56_rolling_shape" ->
      """WITH d AS (SELECT user_id, date_trunc('day', ts) AS day, sum(value) AS v
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, epoch(day)::BIGINT AS te, v::DOUBLE AS v FROM d),
        |m AS (SELECT user_id, te,
        |  count(v) OVER w AS n,
        |  median(v) OVER w AS md,
        |  skewness(v) OVER w AS sk,
        |  kurtosis(v) OVER w AS ku
        |  FROM t
        |  WINDOW w AS (PARTITION BY user_id ORDER BY te
        |    RANGE BETWEEN 604800 PRECEDING AND 86400 PRECEDING))
        |SELECT user_id, te AS day_sec,
        |round(CASE WHEN n >= 5 THEN md END, 6) AS roll_median,
        |round(CASE WHEN n >= 5 THEN sk END, 6) AS roll_skew,
        |round(CASE WHEN n >= 5 THEN ku END, 6) AS roll_kurt
        |FROM m ORDER BY user_id, day_sec""".stripMargin,

    "q57_categorical_decode" ->
      """WITH dict AS (SELECT event_type, row_number() OVER (ORDER BY event_type) - 1 AS code
        |  FROM (SELECT DISTINCT event_type FROM events)),
        |enc AS (SELECT e.event_id, e.event_type AS orig, d.code
        |  FROM events e JOIN dict d ON e.event_type = d.event_type),
        |dec AS (SELECT enc.event_id, enc.orig, enc.code, d2.event_type AS decoded
        |  FROM enc JOIN dict d2 ON enc.code = d2.code)
        |SELECT code, decoded, count(*) AS cnt,
        |sum(CASE WHEN decoded <> orig THEN 1 ELSE 0 END)::BIGINT AS mismatches
        |FROM dec GROUP BY 1, 2 ORDER BY code""".stripMargin,

    "q58_describe_profile" ->
      """SELECT 'value' AS "column", count(value) AS count,
        |round(avg(value), 6) AS mean, round(stddev_samp(value), 6) AS std,
        |round(min(value), 6) AS min, round(quantile_cont(value, 0.25), 6) AS p25,
        |round(quantile_cont(value, 0.5), 6) AS p50, round(quantile_cont(value, 0.75), 6) AS p75,
        |round(max(value), 6) AS max FROM events
        |UNION ALL
        |SELECT 'user_id_d', count(user_id),
        |round(avg(user_id::DOUBLE), 6), round(stddev_samp(user_id::DOUBLE), 6),
        |round(min(user_id::DOUBLE), 6), round(quantile_cont(user_id::DOUBLE, 0.25), 6),
        |round(quantile_cont(user_id::DOUBLE, 0.5), 6), round(quantile_cont(user_id::DOUBLE, 0.75), 6),
        |round(max(user_id::DOUBLE), 6) FROM events
        |ORDER BY "column"""".stripMargin,

    // LOCF-naive forecast: future prediction per user = last history value,
    // scale -> inverse round trip replicated arithmetically
    "q59_future_e2e" ->
      """WITH d AS (SELECT user_id, date_trunc('day', ts) AS day, sum(value) AS v
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT avg(v) AS m, stddev_samp(v) AS s FROM d),
        |mx AS (SELECT epoch(date_trunc('day', max(day)))::BIGINT AS m FROM d),
        |lastv AS (SELECT user_id, arg_max(v, day) AS lv FROM d GROUP BY 1),
        |g AS (SELECT unnest(generate_series((SELECT m + 86400 FROM mx),
        |  (SELECT m + 3 * 86400 FROM mx), 86400)) AS day_sec)
        |SELECT l.user_id, g.day_sec,
        |round(((l.lv - p.m) / (CASE WHEN p.s = 0 THEN 1 ELSE p.s END))
        |  * (CASE WHEN p.s = 0 THEN 1 ELSE p.s END) + p.m, 6) AS pred
        |FROM lastv l CROSS JOIN g, p ORDER BY 1, 2""".stripMargin,

    "q60_image_decode" ->
      """SELECT doc_id, 'image' AS media_type,
        |(doc_id % 8 + 1)::INT AS width, (doc_id % 5 + 1)::INT AS height
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,

    // centroid pick, assignment argmax and probe lists replicate ivfTopK:
    // centroids = 8 smallest md5(vec_id); cosine NULL (zero norm) sorts last
    // like the Scala -inf; ties break on cid asc on both engines
    "q61_ivf_ann" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |cent AS (SELECT vec_id AS cid, e AS ce FROM v
        |  ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT, vec_id LIMIT 8),
        |asgc AS (SELECT v.vec_id, c.cid,
        |    CASE WHEN sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.ce, c.ce)) > 0
        |      THEN list_dot_product(v.e, c.ce) /
        |           (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.ce, c.ce))) END AS cs
        |  FROM v CROSS JOIN cent c),
        |asg AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC NULLS LAST, cid) AS rn FROM asgc)
        |  WHERE rn = 1),
        |qprobe AS (SELECT vec_id AS query_id, cid FROM (SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC NULLS LAST, cid) AS rn
        |    FROM asgc WHERE vec_id < 10)
        |  WHERE rn <= 2),
        |sc AS (SELECT qp.query_id, a.vec_id AS neighbor_id,
        |    list_dot_product(q.e, c.e) / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) AS sim
        |  FROM qprobe qp JOIN asg a ON a.cid = qp.cid AND a.vec_id <> qp.query_id
        |  JOIN v q ON q.vec_id = qp.query_id
        |  JOIN v c ON c.vec_id = a.vec_id
        |  WHERE sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)) > 0),
        |r AS (SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM sc)
        |SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // quantile_cont straight from raw at 1h grain — the Spark side reaches
    // the same numbers only through 1m Gorilla blocks + k-way block merge
    "q62_block_pctl_promote" ->
      """SELECT user_id, epoch(date_trunc('hour', ts))::BIGINT AS bucket_start,
        |count(*) AS cnt, round(sum(value),6) AS sum_value,
        |round(min(value),6) AS min_value, round(max(value),6) AS max_value,
        |round(quantile_cont(value, 0.5),6) AS p50,
        |round(quantile_cont(value, 0.95),6) AS p95
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q63_hier_rollup" ->
      """WITH r AS (SELECT event_type, user_id::VARCHAR AS user_id_s,
        |  epoch(date_trunc('hour', ts))::BIGINT AS bucket_start, value FROM events)
        |SELECT event_type, user_id_s,
        |CASE WHEN event_type IS NULL THEN 0 WHEN user_id_s IS NULL THEN 1 ELSE 2 END AS grouping_level,
        |bucket_start, count(*) AS cnt, round(sum(value),6) AS sum_value,
        |round(round(sum(value),6)/count(*),6) AS mean_value,
        |round(quantile_cont(value, 0.5),6) AS p50,
        |round(quantile_cont(value, 0.95),6) AS p95,
        |count(DISTINCT event_type) AS type_card
        |FROM r GROUP BY GROUPING SETS ((bucket_start), (event_type, bucket_start),
        |  (event_type, user_id_s, bucket_start))
        |ORDER BY grouping_level, event_type NULLS FIRST, user_id_s NULLS FIRST, bucket_start""".stripMargin,

    // q35's twin with the df≤2 shingle filter applied before the pair join;
    // doc sizes n are recomputed over the KEPT shingles (capped semantics)
    "q64_jaccard_capped" ->
      """WITH w AS (SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents WHERE doc_id < 60),
        |s AS (SELECT doc_id, lang, list_distinct(list_transform(generate_series(1, greatest(len(ws)-2, 0)),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM w),
        |d AS (SELECT doc_id, lang, sh FROM s WHERE len(sh) > 0),
        |e0 AS (SELECT doc_id, lang, unnest(sh) AS g FROM d),
        |rare AS (SELECT lang, g FROM e0 GROUP BY lang, g HAVING count(*) <= 2),
        |e AS (SELECT e0.doc_id, e0.lang, e0.g FROM e0 JOIN rare USING (lang, g)),
        |n2 AS (SELECT doc_id, lang, count(*) AS n FROM e GROUP BY 1, 2),
        |inter AS (SELECT a.lang, a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i2
        |  FROM e a JOIN e b ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3)
        |SELECT inter.lang, id_a, id_b,
        |  round(i2::DOUBLE / (x.n + y.n - i2), 6) AS jaccard
        |FROM inter
        |JOIN n2 x ON x.doc_id = id_a AND x.lang = inter.lang
        |JOIN n2 y ON y.doc_id = id_b AND y.lang = inter.lang
        |ORDER BY 1, 2, 3""".stripMargin,

    // utf8_char_count counts code points == length() on valid UTF-8;
    // sum() is HUGEINT in DuckDB — cast to match Spark's BIGINT (q06 lesson)
    "q65_sql_surface" ->
      """SELECT lang, count(*) AS n_docs,
        |  sum(length(text))::BIGINT AS sum_chars,
        |  max(length(text)) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // duplicate-unit fraction = (occurrences - distinct)/occurrences per
    // word/2-gram/3-gram array (same split + shingle rules as q64's twin)
    "q66_repetition" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, ws,
        |  list_transform(generate_series(1, greatest(len(ws)-1, 0)),
        |    i -> ws[i] || ' ' || ws[i+1]) AS g2,
        |  list_transform(generate_series(1, greatest(len(ws)-2, 0)),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS g3 FROM w)
        |SELECT doc_id,
        |  CASE WHEN len(ws) > 0 THEN round((len(ws) - len(list_distinct(ws)))::DOUBLE / len(ws), 6) END AS rep_word,
        |  CASE WHEN len(g2) > 0 THEN round((len(g2) - len(list_distinct(g2)))::DOUBLE / len(g2), 6) END AS rep_2gram,
        |  CASE WHEN len(g3) > 0 THEN round((len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3), 6) END AS rep_3gram
        |FROM g ORDER BY doc_id""".stripMargin,

    // same deterministic augmentation, then RE2 'g'-flag replace — the
    // patterns avoid lookaround so Java and RE2 agree byte-for-byte
    "q67_redact" ->
      """WITH aug AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 3 <> 0 THEN ' contact user' || doc_id || '@mail.example.com' ELSE '' END ||
        |  CASE WHEN doc_id % 2 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id*7) % 256) ELSE '' END AS text2
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(text2, '\b\d{1,3}(\.\d{1,3}){3}\b'))::BIGINT AS n_ips,
        |  regexp_replace(regexp_replace(text2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g') AS redacted
        |FROM aug ORDER BY doc_id""".stripMargin,

    // q40's quality + q66's rep_3gram composed into the gate cascade; CASE
    // null-semantics match Spark `when` (a null comparison skips the branch)
    "q68_corpus_filter" ->
      """WITH w AS (SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |f AS (SELECT doc_id, len(ws) AS n_tokens,
        |    CASE WHEN len(text) > 0 THEN (len(text) - len(regexp_replace(text, '[^\p{L}\p{N}\s]', '', 'g')))::DOUBLE / len(text) END AS punct_ratio,
        |    CASE WHEN len(ws) > 0 THEN len(list_distinct(ws))::DOUBLE / len(ws) END AS ttr,
        |    list_transform(generate_series(1, greatest(len(ws)-2, 0)),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS g3
        |  FROM w),
        |s AS (SELECT doc_id, n_tokens,
        |    ttr * (1 - coalesce(punct_ratio, 0)) * least(n_tokens / 20.0, 1.0) AS quality_score,
        |    CASE WHEN len(g3) > 0 THEN (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3) END AS rep_3gram
        |  FROM f),
        |d AS (SELECT doc_id, n_tokens, quality_score, rep_3gram,
        |    CASE WHEN n_tokens < 25 THEN 'too_short'
        |         WHEN n_tokens > 90 THEN 'too_long'
        |         WHEN quality_score < 0.4 THEN 'low_quality'
        |         WHEN rep_3gram > 0.2 THEN 'repetitive' END AS drop_reason
        |  FROM s)
        |SELECT doc_id, n_tokens, round(quality_score, 6) AS quality_score,
        |  round(rep_3gram, 6) AS rep_3gram, drop_reason,
        |  drop_reason IS NULL AS keep
        |FROM d ORDER BY doc_id""".stripMargin,

    "q69_incremental_dedup" ->
      """WITH history AS (SELECT text FROM documents WHERE doc_id >= 100),
        |batch AS (SELECT doc_id,
        |    CASE WHEN doc_id < 100 THEN text || ' NOVEL' ELSE text END AS text
        |  FROM documents WHERE doc_id < 200)
        |SELECT b.doc_id, md5(b.text) AS content_md5 FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM history h WHERE md5(h.text) = md5(b.text))
        |ORDER BY doc_id""".stripMargin,

    "q70_sessionize" ->
      """WITH f AS (SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS nf
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts, value,
        |    sum(nf) OVER (PARTITION BY user_id ORDER BY ts
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM f)
        |SELECT user_id, session_idx::BIGINT AS session_idx,
        |  floor(epoch(min(ts)))::BIGINT AS start_s, floor(epoch(max(ts)))::BIGINT AS end_s,
        |  floor(epoch(max(ts)))::BIGINT - floor(epoch(min(ts)))::BIGINT AS duration_sec,
        |  count(*) AS n_events, round(sum(value),6) AS sum_value
        |FROM s GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q71_asof_join" ->
      """WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1,2)
        |SELECT c.event_id, c.user_id, floor(epoch(c.ts))::BIGINT AS ts_s,
        |  floor(epoch(p.ts))::BIGINT AS matched_s, round(p.purchase_value,6) AS purchase_value
        |FROM clicks c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin,

    "q72_stratified_sample" ->
      """SELECT lang, doc_id, sample_rank FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) AS sample_rank
        |  FROM documents) t
        |WHERE sample_rank <= 5 ORDER BY lang, sample_rank""".stripMargin,

    "q73_snaive_forecast" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d, sum(value) AS v
        |  FROM events GROUP BY 1,2),
        |r AS (SELECT user_id, d, v,
        |    v - lag(v,7) OVER (PARTITION BY user_id ORDER BY d) AS resid FROM daily),
        |pk AS (SELECT user_id, max(d) AS last_d,
        |    coalesce(stddev_samp(resid), 0.0) AS sigma FROM r GROUP BY 1),
        |f AS (SELECT user_id, sigma, g.s AS step,
        |    epoch(last_d)::BIGINT + g.s*86400 AS forecast_s,
        |    ceil(g.s/7.0)::BIGINT AS k,
        |    epoch(last_d)::BIGINT + (g.s - 7*ceil(g.s/7.0))::BIGINT*86400 AS src_s
        |  FROM pk, generate_series(1,7) g(s))
        |SELECT f.user_id, forecast_s, step, round(d2.v,6) AS yhat,
        |  round(d2.v - 1.96*sigma*sqrt(k),6) AS lo,
        |  round(d2.v + 1.96*sigma*sqrt(k),6) AS hi
        |FROM f LEFT JOIN daily d2
        |  ON f.user_id = d2.user_id AND epoch(d2.d)::BIGINT = f.src_s
        |ORDER BY 1,3""".stripMargin,

    "q74_drift_forecast" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d, sum(value) AS v
        |  FROM events GROUP BY 1,2),
        |pk AS (SELECT user_id, min_by(v, d) AS y1, max_by(v, d) AS yT,
        |    max(d) AS last_d, count(*) AS n FROM daily GROUP BY 1)
        |SELECT user_id, epoch(last_d)::BIGINT + g.s*86400 AS forecast_s, g.s AS step,
        |  round(CASE WHEN n > 1 THEN yT + g.s*(yT - y1)/(n - 1) ELSE yT END, 6) AS yhat
        |FROM pk, generate_series(1,5) g(s)
        |ORDER BY 1,3""".stripMargin,

    "q75_qcut" ->
      """SELECT event_type, event_id,
        |  ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS bin
        |FROM events ORDER BY event_type, event_id""".stripMargin,

    // HLL replayed from first principles: 64-bit hash = first 16 md5 hex
    // chars; idx = top 12 bits; rank = leading zeros of the remaining 52
    // bits + 1 (exact integer CASE chain, no float log2); registers = max
    // rank per idx; linear-counting small-range correction — bit-for-bit
    // the algorithm in graft.functions.Hll.
    "q76_hll_langcard" ->
      s"""WITH items AS (SELECT DISTINCT source, lang FROM documents WHERE lang IS NOT NULL),
        |h AS (SELECT source, ('0x' || substr(md5(lang),1,16))::UBIGINT AS u FROM items),
        |b AS (SELECT source, (u // 4503599627370496)::BIGINT AS idx,
        |    (u % 4503599627370496)::BIGINT AS r FROM h),
        |regs AS (SELECT source, idx,
        |    max(CASE WHEN r = 0 THEN 53 ELSE 53 - (CASE $hllBitlenCase END) END) AS reg
        |  FROM b GROUP BY 1,2),
        |agg AS (SELECT source, sum(power(2.0, -reg)) AS sum_present,
        |    count(*) AS n_present FROM regs GROUP BY 1),
        |est AS (SELECT source, (4096 - n_present) AS zeros,
        |    (0.7213/(1.0+1.079/4096)) * 4096.0 * 4096.0
        |      / (sum_present + (4096 - n_present)) AS e FROM agg),
        |fin AS (SELECT source,
        |    CASE WHEN e <= 2.5*4096 AND zeros > 0
        |         THEN 4096.0 * ln(4096.0/zeros) ELSE e END AS hll FROM est),
        |ex AS (SELECT source, count(DISTINCT lang) AS n_langs_exact
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1)
        |SELECT ex.source, n_langs_exact, round(fin.hll, 6) AS hll_est
        |FROM ex JOIN fin USING(source) ORDER BY source""".stripMargin,

    // q33's LSH pair chain verbatim, then transitive closure by a recursive
    // CTE (UNION-distinct terminates) — min reachable id per node = component
    "q77_dedup_clusters" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id AS id, text FROM documents WHERE doc_id < 200
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 200),
        |w AS (SELECT id, list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws FROM corpus),
        |s AS (SELECT id, list_transform(generate_series(1, greatest(len(ws)-2, 0)),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh FROM w),
        |e AS (SELECT id, unnest(sh) AS g FROM s),
        |m AS (SELECT id,
        |  min(('0x' || substr(md5('0:' || g),1,15))::BIGINT) AS mh0,
        |  min(('0x' || substr(md5('1:' || g),1,15))::BIGINT) AS mh1,
        |  min(('0x' || substr(md5('2:' || g),1,15))::BIGINT) AS mh2,
        |  min(('0x' || substr(md5('3:' || g),1,15))::BIGINT) AS mh3,
        |  min(('0x' || substr(md5('4:' || g),1,15))::BIGINT) AS mh4,
        |  min(('0x' || substr(md5('5:' || g),1,15))::BIGINT) AS mh5,
        |  min(('0x' || substr(md5('6:' || g),1,15))::BIGINT) AS mh6,
        |  min(('0x' || substr(md5('7:' || g),1,15))::BIGINT) AS mh7
        |  FROM e GROUP BY 1),
        |bk AS (
        |  SELECT id, 0 AS band, ('0x' || substr(md5('0:' || mh0::VARCHAR || ',' || mh1::VARCHAR),1,15))::BIGINT AS bucket FROM m
        |  UNION ALL SELECT id, 1, ('0x' || substr(md5('1:' || mh2::VARCHAR || ',' || mh3::VARCHAR),1,15))::BIGINT FROM m
        |  UNION ALL SELECT id, 2, ('0x' || substr(md5('2:' || mh4::VARCHAR || ',' || mh5::VARCHAR),1,15))::BIGINT FROM m
        |  UNION ALL SELECT id, 3, ('0x' || substr(md5('3:' || mh6::VARCHAR || ',' || mh7::VARCHAR),1,15))::BIGINT FROM m),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
        |shd AS (SELECT id, list_distinct(sh) AS sh FROM s),
        |j AS (SELECT id_a, id_b,
        |  len(list_intersect(x.sh, y.sh))::DOUBLE AS i2,
        |  (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))::DOUBLE AS u2
        |  FROM cand JOIN shd x ON x.id = cand.id_a JOIN shd y ON y.id = cand.id_b),
        |pairs AS (SELECT id_a, id_b FROM j WHERE u2 > 0 AND i2/u2 >= 0.9),
        |und AS (SELECT id_a AS s2, id_b AS d2 FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT s2 AS id FROM und),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION SELECT u.s2, reach.r FROM und u JOIN reach ON u.d2 = reach.id),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY 1),
        |sz AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1)
        |SELECT c.id, c.component, sz.cluster_size, c.id = c.component AS is_canonical
        |FROM comp c JOIN sz USING(component) ORDER BY c.id""".stripMargin,

    "q78_acf" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d, sum(value) AS v
        |  FROM events GROUP BY 1,2),
        |l AS (SELECT user_id, v,
        |    lag(v,1) OVER w AS l1, lag(v,2) OVER w AS l2, lag(v,7) OVER w AS l7
        |  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY d)),
        |a AS (SELECT user_id, corr(v, l1) AS a1, corr(v, l2) AS a2, corr(v, l7) AS a7
        |  FROM l GROUP BY 1)
        |SELECT user_id, lag, round(acf, 6) AS acf FROM (
        |  SELECT user_id, 1::BIGINT AS lag, a1 AS acf FROM a
        |  UNION ALL SELECT user_id, 2::BIGINT, a2 FROM a
        |  UNION ALL SELECT user_id, 7::BIGINT, a7 FROM a)
        |ORDER BY user_id, lag""".stripMargin,

    // SES closed form replayed: weight = (1−α)^(T−t) for t=1, α(1−α)^(T−t) else
    "q79_ses_forecast" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d, sum(value) AS v
        |  FROM events GROUP BY 1,2),
        |r AS (SELECT user_id, d, v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d DESC) - 1 AS back
        |  FROM daily),
        |lvl AS (SELECT user_id,
        |    sum(CASE WHEN rn = 1 THEN power(0.7, back) * v
        |             ELSE 0.3 * power(0.7, back) * v END) AS level,
        |    max(d) AS last_d FROM r GROUP BY 1)
        |SELECT user_id, epoch(last_d)::BIGINT + g.s*86400 AS forecast_s, g.s AS step,
        |  round(level, 6) AS yhat
        |FROM lvl, generate_series(1,5) g(s) ORDER BY 1,3""".stripMargin,

    // CMS replayed from first principles: bucket_i(x) = md5-60bit("i:x") mod
    // 1024 (the engine-wide hash convention), row counters = summed bucket
    // counts, estimate = min over the 4 rows — byte-for-byte the algorithm
    // in graft.functions.Cms.
    "q80_cms_heavy" ->
      """WITH it AS (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    x -> x <> '')) AS word FROM documents),
        |cnt AS (SELECT word, count(*) AS exact_cnt FROM it GROUP BY 1),
        |rws AS (SELECT unnest(generate_series(0, 3)) AS i),
        |buck AS (SELECT i,
        |    ('0x' || substr(md5(i::VARCHAR || ':' || word), 1, 15))::BIGINT % 1024 AS b,
        |    sum(exact_cnt) AS c
        |  FROM cnt CROSS JOIN rws GROUP BY 1, 2),
        |top AS (SELECT word, exact_cnt FROM cnt ORDER BY exact_cnt DESC, word LIMIT 10),
        |qb AS (SELECT t.word, t.exact_cnt, r.i,
        |    ('0x' || substr(md5(r.i::VARCHAR || ':' || t.word), 1, 15))::BIGINT % 1024 AS b
        |  FROM top t CROSS JOIN rws r)
        |SELECT qb.word, qb.exact_cnt, min(buck.c)::BIGINT AS cms_est
        |FROM qb JOIN buck USING (i, b) GROUP BY 1, 2
        |ORDER BY exact_cnt DESC, word""".stripMargin,

    "q81_decontaminate" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(ws)-2, 0)),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM w),
        |bs AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id < 20),
        |ds AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id >= 20 AND doc_id < 220),
        |ov AS (SELECT ds.doc_id, count(*) AS n_overlap FROM ds JOIN bs USING (g) GROUP BY 1),
        |tot AS (SELECT doc_id, len(sh)::BIGINT AS n_shingles FROM s
        |  WHERE doc_id >= 20 AND doc_id < 220)
        |SELECT t.doc_id, t.n_shingles, coalesce(o.n_overlap, 0)::BIGINT AS n_overlap,
        |  round(CASE WHEN t.n_shingles > 0
        |    THEN coalesce(o.n_overlap, 0) / t.n_shingles::DOUBLE END, 6) AS contamination
        |FROM tot t LEFT JOIN ov o USING (doc_id) ORDER BY t.doc_id""".stripMargin,

    "q82_mase" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d, sum(value) AS v
        |  FROM events GROUP BY 1,2),
        |r AS (SELECT user_id, d, v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d DESC) AS rd FROM daily),
        |train AS (SELECT user_id, d, v FROM r WHERE rd > 5),
        |test AS (SELECT user_id, d, v FROM r WHERE rd <= 5),
        |p AS (SELECT user_id, avg(v) AS pred FROM train GROUP BY 1),
        |den AS (SELECT user_id, avg(abs(v - lv)) AS dnm FROM (
        |    SELECT user_id, v, lag(v) OVER (PARTITION BY user_id ORDER BY d) AS lv
        |    FROM train) WHERE lv IS NOT NULL GROUP BY 1),
        |num AS (SELECT t.user_id, avg(abs(t.v - p.pred)) AS nmr, count(*) AS n
        |  FROM test t JOIN p USING (user_id) GROUP BY 1)
        |SELECT user_id, round(CASE WHEN dnm > 0 THEN nmr/dnm END, 6) AS mase, n
        |FROM num JOIN den USING (user_id) ORDER BY user_id""".stripMargin,

    // Croston replayed: SES closed form over the non-zero subsequence for
    // both demand sizes and inter-demand intervals (first interval = 1-based
    // position of the first demand)
    "q83_croston" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d, sum(value) AS v
        |  FROM events GROUP BY 1,2),
        |g AS (SELECT user_id, d,
        |    CASE WHEN (epoch(d)::BIGINT // 86400) % 3 = 0 THEN v ELSE 0.0 END AS v
        |  FROM daily),
        |r AS (SELECT user_id, d, v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d) AS idx,
        |    max(d) OVER (PARTITION BY user_id) AS last_d FROM g),
        |nz AS (SELECT user_id, last_d, idx, v,
        |    coalesce(idx - lag(idx) OVER w, idx) AS q,
        |    row_number() OVER w AS rn,
        |    row_number() OVER (PARTITION BY user_id ORDER BY idx DESC) - 1 AS back
        |  FROM r WHERE v <> 0 WINDOW w AS (PARTITION BY user_id ORDER BY idx)),
        |lvl AS (SELECT user_id, max(last_d) AS last_d,
        |    sum(CASE WHEN rn = 1 THEN power(0.7, back)*v ELSE 0.3*power(0.7, back)*v END) AS z,
        |    sum(CASE WHEN rn = 1 THEN power(0.7, back)*q ELSE 0.3*power(0.7, back)*q END) AS p
        |  FROM nz GROUP BY 1)
        |SELECT user_id, epoch(last_d)::BIGINT + g2.s*86400 AS forecast_s, g2.s AS step,
        |  round(z/p, 6) AS yhat
        |FROM lvl, generate_series(1,3) g2(s) ORDER BY 1,3""".stripMargin,

    // Theta replayed: identical formula shapes (OLS from the five sums, SES
    // closed form on the theta-2 line) so float op order matches the engine
    "q84_theta" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d, sum(value) AS v
        |  FROM events GROUP BY 1,2),
        |r AS (SELECT user_id, d, v::DOUBLE AS y,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d)::DOUBLE AS t,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d DESC) - 1 AS back
        |  FROM daily),
        |o AS (SELECT user_id, d, y, t, back,
        |    (count(*) OVER w)::DOUBLE AS n,
        |    sum(t) OVER w AS st, sum(y) OVER w AS sy,
        |    sum(t*y) OVER w AS sty, sum(t*t) OVER w AS stt
        |  FROM r WINDOW w AS (PARTITION BY user_id)),
        |ab AS (SELECT *,
        |    CASE WHEN n*stt - st*st <> 0
        |      THEN (n*sty - st*sy) / (n*stt - st*st) ELSE 0.0 END AS b
        |  FROM o),
        |ab2 AS (SELECT *, (sy - b*st) / n AS a FROM ab),
        |z AS (SELECT *, 2.0*y - (a + b*t) AS zt,
        |    CASE WHEN t = 1.0 THEN power(0.7, back) ELSE 0.3*power(0.7, back) END AS w
        |  FROM ab2),
        |lvl AS (SELECT user_id, sum(w*zt) AS l, max(d) AS last_d,
        |    max(n) AS bigT, max(a) AS a, max(b) AS b
        |  FROM z GROUP BY 1)
        |SELECT user_id, epoch(last_d)::BIGINT + g.s*86400 AS forecast_s, g.s AS step,
        |  round(((a + b*(bigT + g.s)) + l) / 2.0, 6) AS yhat
        |FROM lvl, generate_series(1,4) g(s) ORDER BY 1,3""".stripMargin,

    // Holt replayed with a recursive CTE: l/b recursion in the exact same
    // float op order as the engine's fold (l' reused textually inside b')
    "q85_holt" ->
      """WITH RECURSIVE daily AS (SELECT user_id, date_trunc('day', ts) AS d, sum(value) AS v
        |  FROM events GROUP BY 1,2),
        |r AS (SELECT user_id, d, v::DOUBLE AS y,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn FROM daily),
        |n AS (SELECT user_id, max(rn) AS bigT, max(d) AS last_d FROM r GROUP BY 1),
        |rec AS (
        |  SELECT r1.user_id, 1 AS rn, r1.y AS l, r2.y - r1.y AS b
        |  FROM r r1 JOIN r r2 ON r2.user_id = r1.user_id AND r2.rn = 2
        |  WHERE r1.rn = 1
        |  UNION ALL
        |  SELECT s.user_id, s.rn,
        |    0.3*s.y + 0.7*(rec.l + rec.b) AS l,
        |    0.2*((0.3*s.y + 0.7*(rec.l + rec.b)) - rec.l) + 0.8*rec.b AS b
        |  FROM rec JOIN r s ON s.user_id = rec.user_id AND s.rn = rec.rn + 1),
        |fin AS (SELECT rec.user_id, rec.l, rec.b
        |  FROM rec JOIN n ON n.user_id = rec.user_id AND rec.rn = n.bigT)
        |SELECT f.user_id, epoch(n.last_d)::BIGINT + g.s*86400 AS forecast_s, g.s AS step,
        |  round(f.l + g.s*f.b, 6) AS yhat
        |FROM fin f JOIN n USING (user_id), generate_series(1,3) g(s)
        |ORDER BY 1,3""".stripMargin,

    // median == quantile_cont(0.5), the interpolating definition both
    // engines share (parity pinned by q56)
    "q86_mad_outliers" ->
      """WITH m AS (SELECT user_id, median(value) AS med FROM events GROUP BY 1),
        |j AS (SELECT e.user_id, e.event_id, e.value, m.med
        |  FROM events e JOIN m USING (user_id)),
        |m2 AS (SELECT user_id, median(abs(value - med)) AS mad FROM j GROUP BY 1)
        |SELECT j.user_id, j.event_id, round(j.med, 6) AS med,
        |  round(m2.mad, 6) AS mad,
        |  round(CASE WHEN m2.mad > 0
        |    THEN 0.6745 * (j.value - j.med) / m2.mad END, 6) AS robust_z,
        |  coalesce(CASE WHEN m2.mad > 0
        |    THEN abs(0.6745 * (j.value - j.med) / m2.mad) > 3.5 END, false) AS is_outlier
        |FROM j JOIN m2 USING (user_id) ORDER BY j.user_id, j.event_id""".stripMargin,

    "q87_changepoint" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d, sum(value) AS v
        |  FROM events GROUP BY 1,2),
        |s AS (SELECT user_id, d,
        |    count(v) OVER l AS cl, count(v) OVER r AS cr,
        |    avg(v) OVER l AS ml, avg(v) OVER r AS mr,
        |    var_samp(v) OVER l / 5 + var_samp(v) OVER r / 5 AS pooled
        |  FROM daily
        |  WINDOW l AS (PARTITION BY user_id ORDER BY d ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING),
        |         r AS (PARTITION BY user_id ORDER BY d ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING))
        |SELECT user_id, floor(epoch(d))::BIGINT AS d_s,
        |  round(CASE WHEN cl = 5 AND cr = 5 THEN ml END, 6) AS mean_l,
        |  round(CASE WHEN cl = 5 AND cr = 5 THEN mr END, 6) AS mean_r,
        |  round(CASE WHEN cl = 5 AND cr = 5 AND pooled > 0
        |    THEN abs(mr - ml) / sqrt(pooled) END, 6) AS shift_score
        |FROM s ORDER BY user_id, d_s""".stripMargin,

    // same float op order as the engine: ((2π · t) · j) / period
    "q88_fourier" ->
      """WITH t AS (SELECT event_id,
        |    floor(floor(epoch(ts)) / 86400)::DOUBLE AS d FROM events)
        |SELECT event_id,
        |  round(sin(2*pi() * d * 1 / 7), 6) AS fourier_sin_1,
        |  round(cos(2*pi() * d * 1 / 7), 6) AS fourier_cos_1,
        |  round(sin(2*pi() * d * 2 / 7), 6) AS fourier_sin_2,
        |  round(cos(2*pi() * d * 2 / 7), 6) AS fourier_cos_2
        |FROM t ORDER BY event_id""".stripMargin,

    "q89_boxcox" ->
      """SELECT event_id,
        |  round(CASE WHEN value > 0 THEN (pow(value, 0.5) - 1.0) / 0.5 END, 6) AS bc,
        |  round(CASE WHEN value > 0
        |    THEN pow(((pow(value, 0.5) - 1.0) / 0.5) * 0.5 + 1.0, 1.0 / 0.5) END, 6) AS back
        |FROM events ORDER BY event_id""".stripMargin,

    "q90_winsorize" ->
      """WITH b AS (SELECT user_id,
        |    quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY 1)
        |SELECT e.user_id, e.event_id,
        |  round(least(greatest(e.value, b.lo), b.hi), 6) AS value_wins
        |FROM events e JOIN b USING (user_id) ORDER BY e.user_id, e.event_id""".stripMargin,

    // canonicalization replayed regex-for-regex on identically-built urls
    "q91_url_canon" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' WHEN doc_id % 3 = 1 THEN 'https'
        |        ELSE 'HTTP' END)
        |  || '://W' || (doc_id % 50) || '.Example.COM'
        |  || (CASE WHEN doc_id % 4 = 0 THEN ':443' WHEN doc_id % 4 = 1 THEN ':8080'
        |           ELSE '' END)
        |  || (CASE WHEN doc_id % 5 = 0 THEN '' ELSE '/p/' || doc_id END)
        |  || (CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1&' ELSE '' END)
        |  || (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |p AS (SELECT doc_id, url,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth,
        |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
        |  regexp_extract(url, '\?([^#]*)', 1) AS query
        |  FROM u),
        |q AS (SELECT *, regexp_extract(auth, ':([0-9]+)$', 1) AS port,
        |  lower(regexp_replace(auth, ':[0-9]+$', '')) AS hostp,
        |  coalesce(array_to_string(list_sort(list_filter(string_split(query, '&'),
        |    x -> x <> '')), '&'), '') AS sq
        |  FROM p)
        |SELECT doc_id, url,
        |  CASE WHEN scheme = '' THEN NULL ELSE
        |    scheme || '://' || hostp
        |    || (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
        |             OR (scheme = 'https' AND port = '443') THEN ''
        |        ELSE ':' || port END)
        |    || (CASE WHEN path = '' THEN '/' ELSE path END)
        |    || (CASE WHEN sq = '' THEN '' ELSE '?' || sq END)
        |  END AS canon
        |FROM q ORDER BY doc_id""".stripMargin,

    "q92_chunk_dedup" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents WHERE doc_id < 300),
        |c AS (SELECT doc_id, t.g AS pos,
        |    array_to_string(ws[(t.g*8+1):(t.g*8+8)], ' ') AS chunk
        |  FROM w, unnest(generate_series(0, (len(ws)+7)//8 - 1)) AS t(g)),
        |k AS (SELECT doc_id, pos, chunk,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) = 1 AS keep
        |  FROM c),
        |agg AS (SELECT doc_id, count(*) AS n_chunks,
        |    count(*) FILTER (keep) AS n_kept,
        |    coalesce(string_agg(chunk, ' ' ORDER BY pos) FILTER (keep), '') AS kept_text
        |  FROM k GROUP BY 1)
        |SELECT w.doc_id, coalesce(a.n_chunks, 0)::BIGINT AS n_chunks,
        |  coalesce(a.n_kept, 0)::BIGINT AS n_kept,
        |  md5(coalesce(a.kept_text, '')) AS kept_md5
        |FROM w LEFT JOIN agg a USING (doc_id) ORDER BY w.doc_id""".stripMargin,

    // verbatim DuckDB twin of Features.seasonalDecomposeExact: BIGINT
    // window/phase sums, single double divisions, fixed-association ctr
    // fold — bit-exact vs the Spark plan (same determinism argument)
    "q93_seasonal_decomp" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d,
        |    sum(round(value * 100)::BIGINT) AS vc
        |  FROM events GROUP BY 1,2),
        |i AS (SELECT user_id, d, vc, vc / 100.0 AS y,
        |    (row_number() OVER (PARTITION BY user_id ORDER BY d) - 1) % 7 AS pos,
        |    CASE WHEN count(vc) OVER f = 7 THEN sum(vc) OVER f END AS sp
        |  FROM daily
        |  WINDOW f AS (PARTITION BY user_id ORDER BY d
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |d2 AS (SELECT user_id, d, y, pos, sp / 700.0 AS trend,
        |    7 * vc - sp AS detp FROM i),
        |sr AS (SELECT user_id, pos, sum(detp) / (700.0 * count(detp)) AS s_raw
        |  FROM d2 GROUP BY 1,2 HAVING count(detp) > 0),
        |piv AS (SELECT user_id,
        |    sum(CASE WHEN pos = 0 THEN s_raw END) AS s0,
        |    sum(CASE WHEN pos = 1 THEN s_raw END) AS s1,
        |    sum(CASE WHEN pos = 2 THEN s_raw END) AS s2,
        |    sum(CASE WHEN pos = 3 THEN s_raw END) AS s3,
        |    sum(CASE WHEN pos = 4 THEN s_raw END) AS s4,
        |    sum(CASE WHEN pos = 5 THEN s_raw END) AS s5,
        |    sum(CASE WHEN pos = 6 THEN s_raw END) AS s6
        |  FROM sr GROUP BY 1),
        |c AS (SELECT user_id,
        |    ((((((coalesce(s0, 0) + coalesce(s1, 0)) + coalesce(s2, 0))
        |      + coalesce(s3, 0)) + coalesce(s4, 0)) + coalesce(s5, 0))
        |      + coalesce(s6, 0))
        |    / ((s0 IS NOT NULL)::INT + (s1 IS NOT NULL)::INT
        |      + (s2 IS NOT NULL)::INT + (s3 IS NOT NULL)::INT
        |      + (s4 IS NOT NULL)::INT + (s5 IS NOT NULL)::INT
        |      + (s6 IS NOT NULL)::INT) AS ctr
        |  FROM piv)
        |SELECT d2.user_id, floor(epoch(d))::BIGINT AS d_s,
        |  round(trend, 6) AS trend,
        |  round(s_raw - ctr, 6) AS seasonal,
        |  round(y - trend - (s_raw - ctr), 6) AS remainder
        |FROM d2 JOIN sr USING (user_id, pos) JOIN c USING (user_id)
        |ORDER BY 1, 2""".stripMargin,

    // same moment-sum expression shape as the engine (not DuckDB's corr,
    // whose co-moment algorithm differs in float op order)
    "q94_rolling_corr" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d,
        |    sum(value) AS v, count(*)::DOUBLE AS c
        |  FROM events GROUP BY 1,2),
        |s AS (SELECT user_id, d, count(v) OVER f AS cnt,
        |    7.0*sum(v*c) OVER f - sum(v) OVER f * sum(c) OVER f AS num,
        |    7.0*sum(v*v) OVER f - sum(v) OVER f * sum(v) OVER f AS denx,
        |    7.0*sum(c*c) OVER f - sum(c) OVER f * sum(c) OVER f AS deny
        |  FROM daily
        |  WINDOW f AS (PARTITION BY user_id ORDER BY d
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT user_id, floor(epoch(d))::BIGINT AS d_s,
        |  round(CASE WHEN cnt = 7 AND denx > 0 AND deny > 0
        |    THEN num / sqrt(denx * deny) END, 6) AS rolling_corr
        |FROM s ORDER BY 1, 2""".stripMargin,

    "q95_pivot" ->
      """SELECT user_id,
        |  round(sum(CASE WHEN event_type = 'click' THEN value END), 6) AS click,
        |  round(sum(CASE WHEN event_type = 'view' THEN value END), 6) AS view,
        |  round(sum(CASE WHEN event_type = 'purchase' THEN value END), 6) AS purchase,
        |  round(sum(CASE WHEN event_type = 'signup' THEN value END), 6) AS signup,
        |  round(sum(CASE WHEN event_type = 'error' THEN value END), 6) AS error
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q96_melt" ->
      """SELECT event_id, 'v_raw' AS measure, round(value, 6) AS val
        |FROM events WHERE event_id < 1000
        |UNION ALL
        |SELECT event_id, 'v_double' AS measure, round(value * 2.0, 6) AS val
        |FROM events WHERE event_id < 1000
        |ORDER BY event_id, measure""".stripMargin,

    "q97_topk_group" ->
      """WITH r AS (SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS rnk
        |  FROM events)
        |SELECT user_id, rnk, event_id, round(value, 6) AS value
        |FROM r WHERE rnk <= 3 ORDER BY user_id, rnk""".stripMargin,

    "q98_expectations" ->
      """WITH rowchecks AS (
        |  SELECT 'not_null' AS "check", 'user_id' AS target,
        |    sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS violations,
        |    count(*)::BIGINT AS total FROM events
        |  UNION ALL
        |  SELECT 'not_null', 'ts',
        |    sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)::BIGINT, count(*)::BIGINT
        |  FROM events
        |  UNION ALL
        |  SELECT 'not_null', 'value',
        |    sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT, count(*)::BIGINT
        |  FROM events
        |  UNION ALL
        |  SELECT 'range[0.0,400.0]', 'value',
        |    sum(CASE WHEN value IS NOT NULL AND (value < 0.0 OR value > 400.0)
        |      THEN 1 ELSE 0 END)::BIGINT, count(*)::BIGINT FROM events
        |  UNION ALL
        |  SELECT 'accepted{click,view,purchase}', 'event_type',
        |    sum(CASE WHEN event_type IS NOT NULL
        |      AND event_type NOT IN ('click','view','purchase')
        |      THEN 1 ELSE 0 END)::BIGINT, count(*)::BIGINT FROM events
        |  UNION ALL
        |  SELECT 'unique', 'event_id',
        |    coalesce(sum(CASE WHEN n > 1 THEN n - 1 END), 0)::BIGINT,
        |    coalesce(sum(n), 0)::BIGINT
        |  FROM (SELECT event_id, count(*) AS n FROM events GROUP BY 1))
        |SELECT "check", target, violations, total, violations = 0 AS pass
        |FROM rowchecks ORDER BY "check", target""".stripMargin,
  )
}
