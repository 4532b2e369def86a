package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Pages
import graft.functions.Hier
import graft.operators.{Conformal, CrossVal, Dedup, Encoding, Ewma, Features, GapFill, Hist, Intervals, Metrics, Multimodal, Profile, Rollup, Sax, Scalers, Similarity, TextAnalysis}
import graft.EntryHelpers._

/** SparkEntry queries q099–q168 with their DuckDB oracle twins,
  * split from the former single-file map (round-4 maintainability item:
  * entries and oracles live side by side per file so a mispaired oracle
  * is caught by the duplicate/coverage checks in [[SparkEntry]]).
  */
private[graft] object EntriesQ099 extends EntryPart {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // Holt-Winters additive seasonal forecast (period=7 on the daily series;
    // oracle replays the coupled (l, b, s-ring) recursion with a recursive
    // CTE carrying the 7-slot seasonal list)
    "q99_holt_winters" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      graft.operators.Forecast.holtWinters(daily, Seq("user_id"), "d", "v",
          alpha = 0.3, beta = 0.1, gamma = 0.2, period = 7, horizon = 7,
          stepSeconds = 86400L)
        .select(col("user_id"), unix_timestamp(col("forecast_ts")).as("forecast_s"),
          col("step").cast("long").as("step"), r6(col("yhat")).as("yhat"))
        .orderBy("user_id", "step")
    }),

    // rolling exact p25/p75 (arbitrary-q generalization of q56's median)
    "q100_rolling_quantile" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      val p25 = Features.rollingQuantile(daily, Seq("user_id"), "day", "v",
        q = 0.25, windowDays = 7, lagDays = 1)
      Features.rollingQuantile(p25, Seq("user_id"), "day", "v",
          q = 0.75, windowDays = 7, lagDays = 1)
        .select(col("user_id"), unix_timestamp(col("day")).as("day_sec"),
          r6(col("v_roll7d_lag1_p25")).as("roll_p25"),
          r6(col("v_roll7d_lag1_p75")).as("roll_p75"))
        .orderBy("user_id", "day_sec")
    }),

    // TF-IDF (sklearn smooth-idf) over the document corpus
    "q101_tfidf" -> ((s, dir) => {
      graft.operators.TextAnalysis.tfidf(docs(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("df"),
          r6(col("tfidf")).as("tfidf"))
        .orderBy("doc_id", "term")
    }),

    // BM25 keyword relevance against a literal query term set
    "q102_bm25" -> ((s, dir) => {
      graft.operators.TextAnalysis.bm25(docs(s, dir), "doc_id", "text",
          query = Seq("join", "hash", "scan"))
        .select(col("id").as("doc_id"), r6(col("score")).as("score"),
          col("n_terms_hit"))
        .orderBy("doc_id")
    }),

    // cohort retention matrix (first-seen day × day offset × active users)
    "q103_cohort_retention" -> ((s, dir) => {
      graft.operators.Sessions.cohortRetention(ev(s, dir), "user_id", "ts")
        .select(unix_timestamp(col("cohort_day")).as("cohort_s"),
          col("offset_days").cast("long").as("offset_days"), col("n_active"))
        .orderBy("cohort_s", "offset_days")
    }),

    // 3-step windowed funnel (click → view → purchase within 7 days)
    "q104_window_funnel" -> ((s, dir) => {
      graft.operators.Sessions.windowFunnel(ev(s, dir), Seq("user_id"), "ts",
          "event_type", Seq("click", "view", "purchase"), windowSeconds = 7L * 86400)
        .select(col("user_id"), col("max_step").cast("long").as("max_step"),
          unix_micros(col("t1")).as("t1_us"), unix_micros(col("t2")).as("t2_us"),
          unix_micros(col("t3")).as("t3_us"))
        .orderBy("user_id")
    }),

    // frequency encoding (category -> share of fit rows)
    "q105_freq_encode" -> ((s, dir) => {
      val e = ev(s, dir)
      val dict = Encoding.fitFrequency(e, "event_type")
      Encoding.encodeFrequency(e, "event_type", broadcast(dict))
        .groupBy(col("event_type"))
        .agg(r6(first(col("event_type_freq"))).as("freq"), count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // smoothed target encoding fit on the train split only (leak-free)
    "q106_target_encode" -> ((s, dir) => {
      val e = ev(s, dir)
      val train = e.filter(col("ts") < lit("2024-01-20").cast("timestamp"))
      val prior = Encoding.fitTargetPrior(train, "value")
      val dict = Encoding.fitTarget(train, "event_type", "value", m = 10.0, prior = prior)
      Encoding.encodeTarget(e, "event_type", broadcast(dict), prior)
        .groupBy(col("event_type"))
        .agg(r6(first(col("event_type_target"))).as("code"), count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // robust scaler: (x - median) / IQR through the scaler-replay pipeline
    "q107_robust_scale" -> ((s, dir) => {
      val e = ev(s, dir)
      val p = Scalers.fitRobust(e, "value")
      Scalers.applyAll(e, Seq(p))
        .select(col("event_id"), r6(col("value")).as("value_scaled"))
        .orderBy("event_id")
    }),

    // OHLC tick->bar downsample (5m buckets, deterministic tie-break)
    "q108_ohlc" -> ((s, dir) => {
      Features.ohlc(ev(s, dir), Seq("user_id"), "ts", "event_id", "value",
          bucketSeconds = 300L)
        .select(col("user_id"), col("bucket_start"), r6(col("open")).as("open"),
          r6(col("high")).as("high"), r6(col("low")).as("low"),
          r6(col("close")).as("close"), col("cnt"))
        .orderBy("user_id", "bucket_start")
    }),

    // time-weighted average over irregular points (1h buckets)
    "q109_twap" -> ((s, dir) => {
      Features.timeWeightedAvg(ev(s, dir), Seq("user_id"), "ts", "event_id",
          "value", bucketSeconds = 3600L)
        .select(col("user_id"), col("bucket_start"), r6(col("twap")).as("twap"),
          col("cnt"))
        .orderBy("user_id", "bucket_start")
    }),

    // retention-tier RANGE READ (the store's serving path): an arbitrary
    // minute-aligned window answered by STITCHING the coarsest tiers that
    // fit (1m edges → 1h edges → 1d interior, Rollup.coverage), p50/p95
    // EXACT via k-way Gorilla-block merge across tiers; the oracle computes
    // straight from raw points over the same window
    "q110_range_read" -> ((s, dir) => {
      val t1m = userTier1m(ev(s, dir))
      val t1h = Rollup.promote(t1m, 3600L, groupCols = Seq("user_id"))
      val t1d = Rollup.promote(t1h, 86400L, groupCols = Seq("user_id"))
      // [2024-01-03 05:23, 2024-01-27 19:41): misaligned on both ends so the
      // cover uses all three tiers (37 1m + 18 1h + 23 1d + 19 1h + 41 1m)
      Rollup.readRange(Map("1m" -> t1m, "1h" -> t1h, "1d" -> t1d),
          1704259380L, 1706384460L, groupCols = Seq("user_id"))
        .select(col("user_id"), col("cnt"), r6(col("sum_len")).as("sum_value"),
          r6(col("min_len")).as("min_value"), r6(col("max_len")).as("max_value"),
          r6(col("p50_len")).as("p50"), r6(col("p95_len")).as("p95"),
          col("lang_card").as("type_card"))
        .orderBy("user_id")
    }),

    // interval containment join as a coarse-bucket EQUI-join (intervals
    // replicated to overlapped buckets, residual predicate on the match —
    // never a theta/nested-loop join): events inside derived per-user
    // 30-minute windows
    "q111_interval_join" -> ((s, dir) => {
      val e = ev(s, dir)
      val iv = e.filter(pmod(col("event_id"), lit(97L)) === 0)
        .select(col("user_id"), col("event_id").as("window_id"),
          col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("w_end"))
      Intervals.intervalJoin(e, iv, Seq("user_id"), "ts", "w_start", "w_end",
          bucketSeconds = 1800L, carryCols = Seq("window_id"))
        .select(col("user_id"), col("window_id"), col("event_id"))
        .orderBy("user_id", "window_id", "event_id")
    }),

    // SAX symbolization (Lin et al. 2003): z-normalize per user, PAA over
    // 2-day frames, equiprobable-Gaussian letters — one indexable word per
    // series
    "q112_sax" -> ((s, dir) => {
      Sax.sax(ev(s, dir), Seq("user_id"), "ts", "value",
          frameSeconds = 172800L, alphabet = 4)
        .select(col("user_id"), col("sax_word"), col("n_frames"))
        .orderBy("user_id")
    }),

    // PromQL-style counter increase/rate with reset handling, over a
    // synthetic wraparound counter (cumsum of 1+event_id%7 mod 1000) so
    // resets genuinely occur; deltas computed on the FULL series order so
    // they cross bucket boundaries correctly
    "q113_counter_rate" -> ((s, dir) => {
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val ctr = ev(s, dir).withColumn("counter",
        pmod(sum(lit(1L) + pmod(col("event_id"), lit(7L))).over(win), lit(1000L)))
      Features.counterRate(ctr, Seq("user_id"), "ts", "event_id", "counter",
          bucketSeconds = 3600L)
        .select(col("user_id"), col("bucket_start"),
          r6(col("increase")).as("increase"), col("n_deltas"), col("n_resets"),
          r6(col("rate")).as("rate"))
        .orderBy("user_id", "bucket_start")
    }),

    // rolling OLS slope of value vs time (local linear trend) over the
    // trailing 7 samples; x re-centered per key before the moment sums
    "q114_rolling_slope" -> ((s, dir) => {
      Features.rollingSlope(ev(s, dir), Seq("user_id"), "ts", "value",
          winRows = 7)
        .select(col("user_id"), col("event_id"),
          r6(col("rolling_slope")).as("rolling_slope"))
        .orderBy("user_id", "event_id")
    }),

    // M4 visualization downsample: ≤4 rows (first/last/min/max points) per
    // 6h bucket, ties resolved to the earliest row
    "q115_m4" -> ((s, dir) => {
      Features.m4Downsample(ev(s, dir), Seq("user_id"), "ts", "event_id",
          "value", bucketSeconds = 21600L)
        .select(col("user_id"), col("bucket_start"), col("event_id"),
          r6(col("value")).as("value"), array_join(col("roles"), ",").as("roles"))
        .orderBy("user_id", "bucket_start", "event_id")
    }),

    // mergeable fixed-width histograms THROUGH promotion: 1m histogram tier
    // rows merged elementwise to 1h, exploded to (bin, cnt) rows; the oracle
    // bins raw points directly at 1h grain — proving counter-exact promotion
    "q116_hist_promote" -> ((s, dir) => {
      val h1m = Hist.histogram(ev(s, dir), Seq("user_id"), "ts", "value",
        bucketSeconds = 60L, lo = 0.0, hi = 100.0, nbins = 10)
      Hist.promote(h1m, Seq("user_id"), tierSeconds = 3600L, nbins = 10)
        .select(col("user_id"), col("bucket_start"),
          posexplode(col("hist")).as(Seq("bin", "cnt")))
        .orderBy("user_id", "bucket_start", "bin")
    }),

    // two-sided tabular CUSUM drift detector (Page 1954): per-key
    // standardize, fold s± = max(0, s± ± z − slack), flag either side > h;
    // the oracle replays the recursion as a recursive CTE in identical
    // float op order
    "q117_cusum" -> ((s, dir) => {
      graft.operators.Anomaly.cusum(ev(s, dir), Seq("user_id"), "ts",
          "event_id", "value", slack = 0.5, h = 5.0)
        .select(col("user_id"), col("ts_sec"), col("tie"), r6(col("z")).as("z"),
          r6(col("cusum_pos")).as("cusum_pos"),
          r6(col("cusum_neg")).as("cusum_neg"), col("is_drift"))
        .orderBy("user_id", "ts_sec", "tie")
    }),

    // unigram-LM fluency gate (CCNet-shaped, unigram table in place of
    // KenLM): model trained on a 1/2 hash-sample, vocabulary capped to the
    // top 500 tokens (tail → OOV mass), per-doc bits/token + perplexity
    "q118_lm_score" -> ((s, dir) => {
      TextAnalysis.lmScore(docs(s, dir), "doc_id", "text",
          sampleMod = 2, maxVocab = Some(500))
        .select(col("doc_id"), col("n_tokens"), r6(col("bits")).as("bits"),
          r6(col("ppl")).as("ppl"))
        .orderBy("doc_id")
    }),

    // quantile ESTIMATES from the promoted 1h histograms (uniform-within-bin
    // interpolation, under/overflow clamp) — the fixed-size approximate
    // percentile for tiers where even compressed blocks are too heavy
    "q119_hist_quantile" -> ((s, dir) => {
      val h1m = Hist.histogram(ev(s, dir), Seq("user_id"), "ts", "value",
        bucketSeconds = 60L, lo = 0.0, hi = 100.0, nbins = 10)
      val h1h = Hist.promote(h1m, Seq("user_id"), tierSeconds = 3600L, nbins = 10)
      Hist.quantileEst(h1h, Seq("user_id"), lo = 0.0, hi = 100.0, nbins = 10,
          qs = Seq(0.5, 0.95))
        .select(col("user_id"), col("bucket_start"), col("q"),
          r6(col("est")).as("est"))
        .orderBy("user_id", "bucket_start", "q")
    }),

    // PCA + whitening over the embeddings table, certified by the ANALYTIC
    // invariant: the whitened projections' population covariance is the k×k
    // identity. DETERMINISM: r3 compared 4-dp-rounded covar_pop against
    // literal 1.0/0.0 — but the true diagonal is λᵢ/(λᵢ+eps), and
    // covar_pop's partial-merge order wobbles the last ulp, so a value
    // sitting on a 0.00005 rounding boundary flipped between runs. Now the
    // compared quantity is a BOOLEAN: |cov − expected| < 5e-4, where
    // expected is the model-derived λᵢ/(λᵢ+eps) plan literal (0 off-diag).
    // The tolerance is ~10^12 ulps wide, so merge-order noise (≤ a few
    // ulps) can never flip the bit; the oracle asserts the invariant holds
    // everywhere.
    "q120_pca_whiten" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val model = graft.operators.Pca.fit(emb, "embedding", k = 8)
      val proj = graft.operators.Pca.transform(emb, "embedding", model,
        whiten = true)
      val pairs = for (i <- 0 until 8; j <- 0 until 8) yield (i, j)
      val aggs = pairs.map { case (i, j) =>
        covar_pop(element_at(col("pca"), i + 1),
          element_at(col("pca"), j + 1)).as(s"c_${i}_$j") }
      val eps = 1e-9
      proj.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(pairs.map { case (i, j) =>
          val expected =
            if (i == j) model.eigenvalues(i) / (model.eigenvalues(i) + eps)
            else 0.0
          struct(lit(i).as("i"), lit(j).as("j"),
            (abs(col(s"c_${i}_$j") - lit(expected)) < lit(5e-4))
              .as("identity_ok")) }: _*)).as("e"))
        .select(col("e.i"), col("e.j"), col("e.identity_ok"))
        .orderBy("i", "j")
    }),

    // dashboard SERIES read off the tier store: 90-min resample of a
    // 15.9-day window served from the 5m tier (coarsest divisor of the
    // step), DENSE grid with explicit empty buckets, p50/p95 exact from
    // merged blocks; the oracle re-aggregates raw points per step bucket
    "q121_range_series" -> ((s, dir) => {
      val t1m = userTier1m(ev(s, dir))
      val t5m = Rollup.promote(t1m, 300L, groupCols = Seq("user_id"))
      Rollup.readSeries(Map("1m" -> t1m, "5m" -> t5m),
          1704412800L, 1705789800L, stepSeconds = 5400L,
          groupCols = Seq("user_id"))
        .select(col("user_id"), col("bucket_start"), col("cnt"),
          r6(col("sum_len")).as("sum_value"), r6(col("p50_len")).as("p50"),
          r6(col("p95_len")).as("p95"), col("lang_card").as("type_card"))
        .orderBy("user_id", "bucket_start")
    }),

    // damped-trend Holt (φ = 0.875, exactly representable so the closed-form
    // horizon multiplier replays bit-equal); same daily series as q85
    "q122_holt_damped" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      graft.operators.Forecast.holtDamped(daily, Seq("user_id"), "d", "v",
          alpha = 0.3, beta = 0.2, phi = 0.875, horizon = 3, stepSeconds = 86400L)
        .select(col("user_id"), unix_timestamp(col("forecast_ts")).as("forecast_s"),
          col("step").cast("long").as("step"), r6(col("yhat")).as("yhat"))
        .orderBy("user_id", "step")
    }),

    // rolling percent-rank: share of the trailing 10 samples at or below
    // the current value ("how unusual is now")
    "q123_rolling_rank" -> ((s, dir) => {
      Features.rollingPercentRank(ev(s, dir), Seq("user_id"), "ts", "value",
          winRows = 10)
        .select(col("user_id"), col("event_id"),
          r6(col("rolling_pct_rank")).as("pct_rank"))
        .orderBy("user_id", "event_id")
    }),

    // the dedup ENDGAME on q77's cluster graph: per near-dup cluster the
    // highest-score (longest) copy survives, ties to the smallest id,
    // singletons keep themselves
    "q124_dedup_keep" -> ((s, dir) => {
      val base = docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id").as("id"), col("text"), col("n_chars"))
      val uni = base.unionByName(base.select((col("id") + 1000000L).as("id"),
        col("text"), col("n_chars")))
      val pairs = Dedup.lshNearDupPairs(uni, "text", "id", k = 8, bands = 4,
        threshold = 0.9)
      Dedup.keepBest(uni, "id", "n_chars", pairs)
        .orderBy("id")
    }),

    // per-series trend/seasonal strength (FPP3 §4.3) from the q93
    // decomposition — the triage scalars for million-series populations
    "q125_decomp_strength" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        // exact scaled-integer decomposition (q93/q148 discipline); the
        // trailing var_pop ratios stay double but see bit-identical inputs
        .agg(sum(round(col("value") * 100).cast("long")).as("vc"))
      Features.decompStrengthExact(daily, Seq("user_id"), "d", "vc",
          period = 7, scale = 100L)
        .select(col("user_id"), col("n"),
          r6(col("trend_strength")).as("trend_strength"),
          r6(col("seasonal_strength")).as("seasonal_strength"))
        .orderBy("user_id")
    }),

    // Hampel despiking: centered 7-sample window, exact median/MAD via
    // sorted-array HOFs, spikes replaced by the window median
    "q126_hampel" -> ((s, dir) => {
      graft.operators.Anomaly.hampel(ev(s, dir), Seq("user_id"), "ts",
          "value", half = 3, k = 3.0)
        .select(col("user_id"), col("event_id"),
          r6(col("hampel_med")).as("hampel_med"), col("hampel_flag"),
          r6(col("v_filtered")).as("v_filtered"))
        .orderBy("user_id", "event_id")
    }),

    // exponentially-weighted mean + debiased variance (pandas ewm.var
    // semantics); span 3 makes the decay exactly 0.5, so the four running
    // sums replay bit-equal in the recursive-CTE twin
    "q127_ewm_var" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      Ewma.ewmVarFrame(daily, Seq("user_id"), "day", "v", span = 3.0)
        .select(col("user_id"), col("ts_sec").as("day_sec"),
          r6(col("ewm_mean")).as("ewm_mean"), r6(col("ewm_var")).as("ewm_var"),
          r6(col("ewm_std")).as("ewm_std"))
        .orderBy("user_id", "day_sec")
    }),

    // C4-style line filtering over a deterministically constructed 4-line
    // page (kept prose line / no-punct line / javascript boilerplate /
    // short-or-kept tail) — line rules catch what page-level scores average
    // away
    "q128_line_filter" -> ((s, dir) => {
      val multi = docs(s, dir).select(col("doc_id"),
        concat(substring(col("text"), 1, 50), lit(".\n"),
          substring(col("text"), 51, 40), lit("\n"),
          lit("Please enable javascript to continue."), lit("\n"),
          substring(col("text"), 91, 60), lit("!")).as("page"))
      TextAnalysis.lineFilter(multi, "doc_id", "page")
        .select(col("doc_id"), col("n_lines"), col("n_kept"), col("clean_text"))
        .orderBy("doc_id")
    }),

    // Schuster periodogram at candidate periods over the daily series —
    // seasonality DETECTION (argmax feeds decompose/fourier)
    "q129_periodogram" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      Features.periodogram(daily, Seq("user_id"), "d", "v",
          periods = Seq(2, 3, 7, 14))
        .select(col("user_id"), col("period"), r6(col("power")).as("power"),
          col("n"))
        .orderBy("user_id", "period")
    }),

    // multiplicative Holt-Winters on the same daily series as q99 — ratio
    // seasonals, swing scales with level
    "q130_holt_winters_mul" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      graft.operators.Forecast.holtWintersMul(daily, Seq("user_id"), "d", "v",
          alpha = 0.3, beta = 0.1, gamma = 0.2, period = 7, horizon = 7,
          stepSeconds = 86400L)
        .select(col("user_id"), unix_timestamp(col("forecast_ts")).as("forecast_s"),
          col("step").cast("long").as("step"), r6(col("yhat")).as("yhat"))
        .orderBy("user_id", "step")
    }),

    // lead-lag detection: y is x delayed by 2 events, so the CCF must peak
    // (exactly 1) at lag −2 under ccf(l) = corr(x_t, y_{t−l})
    "q131_cross_corr" -> ((s, dir) => {
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val xy = ev(s, dir).withColumn("y", lag(col("value"), 2).over(win))
      Features.crossCorrelation(xy, Seq("user_id"), "ts", "value", "y",
          lags = Seq(-2, -1, 0, 1, 2))
        .select(col("user_id"), col("lag"), r6(col("ccf")).as("ccf"))
        .orderBy("user_id", "lag")
    }),

    // categorical concentration per user: entropy + HHI of the event_type
    // distribution — skew, where lang_card only counts
    "q132_concentration" -> ((s, dir) => {
      Profile.concentration(ev(s, dir), Seq("user_id"), "event_type")
        .select(col("user_id"), col("n"), col("n_categories"),
          r6(col("entropy")).as("entropy"), r6(col("hhi")).as("hhi"))
        .orderBy("user_id")
    }),

    // Yeo-Johnson power transform on a SIGNED measure (value - 50, both
    // branches exercised) with the exact piecewise inverse round-tripped
    // inside the oracle row, like q89's Box-Cox
    "q133_yeo_johnson" -> ((s, dir) => {
      val p = Scalers.YeoJohnsonParams("centered", 0.5)
      ev(s, dir)
        .withColumn("centered", col("value") - 50.0)
        .withColumn("yj", p(col("centered")))
        .withColumn("back", p.inverse(col("yj")))
        .select(col("event_id"), r6(col("yj")).as("yj"), r6(col("back")).as("back"))
        .orderBy("event_id")
    }),

    // gaps-and-islands streaks of above-threshold events per user: run id
    // (rn − cond-rn) and running length inside each run
    "q134_streaks" -> ((s, dir) => {
      Features.streaks(ev(s, dir), Seq("user_id"), "ts", col("value") > 60.0)
        .select(col("user_id"), col("event_id"), col("streak_id"),
          col("streak_len"))
        .orderBy("user_id", "event_id")
    }),

    // seasonal fill on an hourly-gridded series: nulls take the most recent
    // value at the SAME hour-of-day (period = 86400 s) — not the previous
    // hour (LOCF) and not a blend (interpolation)
    "q135_seasonal_fill" -> ((s, dir) => {
      val hourly = ev(s, dir)
        .withColumn("ts_sec", unix_timestamp(col("ts")))
        .withColumn("h", col("ts_sec") - pmod(col("ts_sec"), lit(3600L)))
        .groupBy(col("user_id"), col("h")).agg(sum(col("value")).as("v"))
        .withColumn("ts", timestamp_seconds(col("h")))
        .withColumn("v", when(pmod(col("h") / 3600L, lit(5L)) === 0,
          lit(null)).otherwise(col("v")))
      graft.operators.GapFill.seasonalFill(hourly, Seq("user_id"), "ts",
          Seq("v"), periodSeconds = 86400L)
        .select(col("user_id"), col("h"), r6(col("v")).as("v_filled"))
        .orderBy("user_id", "h")
    }),

    // Winkler interval score + empirical coverage of naive ±15 bands built
    // from each event's predecessor — band quality, which point metrics
    // cannot rank
    "q136_interval_score" -> ((s, dir) => {
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val banded = ev(s, dir)
        .withColumn("lo", lag(col("value"), 1).over(win) - 15.0)
        .withColumn("hi", lag(col("value"), 1).over(win) + 15.0)
      Metrics.intervalScore(banded, Seq("user_id"), "value", "lo", "hi",
          alpha = 0.2)
        .select(col("user_id"), r6(col("interval_score")).as("interval_score"),
          r6(col("coverage")).as("coverage"), col("n"))
        .orderBy("user_id")
    }),

    // split-conformal bands around a persistence forecast, calibrated on the
    // first 24 days and Winkler-scored on the last 6 — the full
    // distribution-free interval pipeline (fit → apply → score) in one plan
    "q137_conformal" -> ((s, dir) => {
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val split = lit(java.sql.Timestamp.valueOf("2024-01-25 00:00:00"))
      val withPred = ev(s, dir)
        .withColumn("pred", lag(col("value"), 1).over(win))
        .filter(col("pred").isNotNull && col("value").isNotNull)
      val fitted = Conformal.fitSplitConformal(
        withPred.filter(col("ts") < split), Seq("user_id"), "value", "pred",
        alpha = 0.2)
      val banded = Conformal.applyBands(
        withPred.filter(col("ts") >= split), fitted, Seq("user_id"), "pred")
      Metrics.intervalScore(banded, Seq("user_id"), "value", "lo", "hi",
          alpha = 0.2)
        .join(fitted, "user_id")
        .select(col("user_id"), r6(col("qhat")).as("qhat"), col("n_calib"),
          r6(col("interval_score")).as("interval_score"),
          r6(col("coverage")).as("coverage"), col("n"))
        .orderBy("user_id")
    }),

    // purged K-fold with embargo at day grain: every (fold, role) census —
    // proves the leakage guard rows land exactly where the index math says
    "q138_purged_cv" -> ((s, dir) => {
      val daily = ev(s, dir)
        .select(date_trunc("day", col("ts")).as("d"), col("event_id"))
      CrossVal.purgedFoldAssign(daily, "d", nFolds = 5, purge = 2, embargo = 2)
        .groupBy(col("fold"), col("role"))
        .agg(count(lit(1)).as("n"), min(col("d")).as("d_min"),
          max(col("d")).as("d_max"))
        .orderBy("fold", "role")
    }),

    // Kalman local-level filter over daily sums (q=4, r=16): filtered level,
    // gain, standardized innovation — the sequential gap-aware anomaly score
    "q139_kalman" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      graft.operators.Kalman.kalmanLevelFrame(daily, Seq("user_id"), "day", "v",
          q = 4.0, r = 16.0)
        .select(col("user_id"), col("ts_sec").as("day_sec"),
          r6(col("level")).as("level"), r6(col("gain")).as("gain"),
          r6(col("z")).as("z"))
        .orderBy("user_id", "day_sec")
    }),

    // hybrid retrieval: BM25 lexical ranking fused with a dense cosine
    // ranking (query = embedding 1) by reciprocal-rank fusion over the
    // shared integer id space; both systems rank on ROUNDED scores so an
    // independent engine reproduces the exact rank order
    "q140_rrf_hybrid" -> ((s, dir) => {
      val wAll = org.apache.spark.sql.expressions.Window
      // each system cuts its candidate list with a DISTRIBUTED TakeOrdered
      // (orderBy+limit); only the 50 survivors see a rank window
      val bmRank = TextAnalysis.bm25(docs(s, dir), "doc_id", "text",
          query = Seq("join", "hash", "scan"))
        .filter(col("score").isNotNull)
        .withColumn("_r", r6(col("score")))
        .orderBy(col("_r").desc, col("id")).limit(50)
        .withColumn("rank", row_number().over(
          wAll.orderBy(col("_r").desc, col("id"))))
        .select(col("id"), col("rank"))
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      // the query side is one row picked by a filter, which the planner
      // sizes by the whole table: without the hint a large table pairs it
      // with every row through a CartesianProduct
      val dnRank = broadcast(emb.filter(col("vec_id") === 1)
        .select(col("embedding").as("qv")))
        .crossJoin(emb.select(col("vec_id").as("id"), col("embedding").as("cv")))
        .filter(col("id") =!= 1)
        .withColumn("sim", graft.operators.Similarity.cosine(col("qv"), col("cv")))
        .filter(col("sim").isNotNull)
        .withColumn("_r", r6(col("sim")))
        .orderBy(col("_r").desc, col("id")).limit(50)
        .withColumn("rank", row_number().over(
          wAll.orderBy(col("_r").desc, col("id"))))
        .select(col("id"), col("rank"))
      graft.operators.Fusion.rrf(Seq(bmRank, dnRank), queryCols = Nil,
          idCols = Seq("id"), rankCol = "rank", kRrf = 60)
        .filter(col("fused_rank") <= 20)
        .select(col("id"), r6(col("rrf_score")).as("rrf_score"),
          col("n_systems"), col("fused_rank"))
        .orderBy("fused_rank")
    }),

    // population stability index per user between the first and second half
    // of the month — the industry drift score, Laplace-smoothed fixed bins
    "q141_psi" -> ((s, dir) => {
      val split = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
      val e = ev(s, dir)
      graft.operators.Drift.psi(e.filter(col("ts") < split),
          e.filter(col("ts") >= split), Seq("user_id"), "value", bins = 10)
        .select(col("user_id"), r6(col("psi")).as("psi"), col("n_ref"),
          col("n_cur"))
        .orderBy("user_id")
    }),

    // exact two-sample Kolmogorov-Smirnov statistic per user on the same
    // split — distribution-free, integer cumulative counts divided once
    "q142_ks" -> ((s, dir) => {
      val split = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
      val e = ev(s, dir)
      graft.operators.Drift.ks(e.filter(col("ts") < split),
          e.filter(col("ts") >= split), Seq("user_id"), "value")
        .select(col("user_id"), r6(col("ks")).as("ks"), col("n_ref"),
          col("n_cur"))
        .orderBy("user_id")
    }),

    // Theil-Sen robust trend per user over the daily series — median of all
    // pairwise slopes, immune to the outliers that bend an OLS slope
    "q143_theil_sen" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      Features.theilSen(daily, Seq("user_id"), "day", "v", unitSeconds = 86400L)
        .select(col("user_id"), r6(col("ts_slope")).as("ts_slope"),
          r6(col("ts_intercept")).as("ts_intercept"), col("n_pairs"))
        .orderBy("user_id")
    }),

    // lexical diversity per document: type-token ratio + hapax share — the
    // C4/Gopher-class quality gates the surface ratios of q40 can't see
    "q144_vocab" -> ((s, dir) => {
      TextAnalysis.vocabulary(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
          r6(col("ttr")).as("ttr"), r6(col("hapax_ratio")).as("hapax_ratio"))
        .orderBy("doc_id")
    }),

    // corpus Zipf fit over the top-100 terms: distributed TakeOrdered cut,
    // closed-form OLS of ln(freq) on ln(rank)
    "q145_zipf" -> ((s, dir) => {
      TextAnalysis.zipfSlope(docs(s, dir), "text", topK = 100)
        .select(r6(col("zipf_slope")).as("zipf_slope"), col("n_terms"),
          col("max_freq"))
    }),

    // Kaplan-Meier churn curves per event_type: subject = (user, type),
    // duration = active span in days, right-censored if still active in the
    // last 3 days of the month — censoring is what the naive cohort table
    // cannot express
    "q146_km" -> ((s, dir) => {
      val subj = ev(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(date_trunc("day", col("ts"))).as("fd"),
          max(date_trunc("day", col("ts"))).as("ld"))
        .select(col("event_type"),
          datediff(col("ld").cast("date"), col("fd").cast("date")).as("dur"),
          when(col("ld") < lit(java.sql.Timestamp.valueOf("2024-01-28 00:00:00")),
            lit(1)).otherwise(lit(0)).as("churned"))
      graft.operators.Survival.kaplanMeier(subj, Seq("event_type"), "dur",
          "churned")
        .select(col("event_type"), col("t"), col("n_risk"),
          col("n_event").as("d"), r6(col("survival")).as("survival"))
        .orderBy("event_type", "t")
    }),

    // robust centers per event_type: 5-95 trimmed and winsorized means
    // beside the plain mean — the tier-store robust aggregates
    "q147_trimmed_mean" -> ((s, dir) => {
      Profile.trimmedMean(ev(s, dir), Seq("event_type"), "value",
          loQ = 0.05, hiQ = 0.95)
        .select(col("event_type"), r6(col("mean")).as("mean"),
          r6(col("trimmed_mean")).as("trimmed_mean"),
          r6(col("winsor_mean")).as("winsor_mean"), col("n"), col("n_kept"))
        .orderBy("event_type")
    }),

    // seasonal-aware anomaly detection COMPOSED: classical decomposition
    // strips weekly structure, then robust MAD z-scores run on the
    // REMAINDER — a raw-value MAD would flag every seasonal peak; this
    // flags only what the seasonality cannot explain.
    // DETERMINISM (the two-part r4→r5 fix): (a) the head quantizes value
    // to integer CENTS before the daily sum, so both engines start from
    // the identical exact series; (b) the decomposition itself runs in
    // seasonalDecomposeExact's scaled-integer algebra — r4's remaining
    // hole was the per-phase groupBy().agg(avg(_det)) inside the generic
    // seasonalDecompose, which accumulated non-integer doubles in
    // shuffle-merge order. Now every order-sensitive reduction is a LONG
    // sum and every double op a fixed expression tree (see the
    // determinism argument on Features.seasonalDecomposeExact), so the
    // remainders entering the MAD medians are bit-identical across runs
    // and engines, and 6-dp rounding is stable.
    "q148_seasonal_esd" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(round(col("value") * 100).cast("long")).as("vc"))
      val dec = Features.seasonalDecomposeExact(daily, Seq("user_id"), "d",
          "vc", period = 7, scale = 100L)
        .filter(col("remainder").isNotNull)
      graft.operators.Anomaly.madOutliers(dec, Seq("user_id"), "remainder",
          threshold = 3.0)
        .select(col("user_id"), unix_timestamp(col("d")).as("d_s"),
          r6(col("remainder")).as("remainder"), r6(col("med")).as("med"),
          r6(col("mad")).as("mad"), r6(col("robust_z")).as("robust_z"),
          col("is_outlier"))
        .orderBy("user_id", "d_s")
    }),

    // activity-weighted median of each user's daily mean value — the
    // typical day, with busy days counting proportionally
    "q149_weighted_median" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(avg(col("value")).as("m"), count(lit(1)).as("c"))
      Profile.weightedMedian(daily, Seq("user_id"), "m", "c")
        .select(col("user_id"),
          r6(col("weighted_median")).as("weighted_median"),
          r6(col("total_w")).as("total_w"))
        .orderBy("user_id")
    }),

    // Gini inequality of each user's non-negative event values — the
    // numeric-mass companion of q132's categorical concentration
    "q150_gini" -> ((s, dir) => {
      Profile.gini(ev(s, dir).filter(col("value") >= 0), Seq("user_id"),
          "value")
        .select(col("user_id"), r6(col("gini")).as("gini"), col("n"))
        .orderBy("user_id")
    }),

    // Mann-Kendall monotone-trend test per user on the daily series — the
    // significance companion of q143's Theil-Sen slope; S is an exact
    // integer in both engines
    "q151_mann_kendall" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      Features.mannKendall(daily, Seq("user_id"), "day", "v")
        .select(col("user_id"), col("s"), r6(col("z")).as("z"), col("n"))
        .orderBy("user_id")
    }),

    // 1-Wasserstein drift magnitude per user on the month-half split —
    // PSI/KS say WHETHER the distribution moved; W1 says BY HOW MUCH, in
    // the value's own units. The measure is 2-decimal quantized, so the
    // integer-exact variant runs (bit-exact cross-engine; the generic
    // double path's last ulp is engine-order-dependent)
    "q152_wasserstein" -> ((s, dir) => {
      val split = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
      val e = ev(s, dir)
      graft.operators.Drift.wasserstein1Quantized(e.filter(col("ts") < split),
          e.filter(col("ts") >= split), Seq("user_id"), "value", scale = 100L)
        .select(col("user_id"), r6(col("w1")).as("w1"), col("n_ref"),
          col("n_cur"))
        .orderBy("user_id")
    }),

    // Spearman rank correlation per user between daily volume and daily
    // activity — monotone association with average-rank ties (the counts
    // tie constantly, exercising the convention)
    "q153_spearman" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("x"), count(lit(1)).as("y"))
      Features.spearman(daily, Seq("user_id"), "x", "y")
        .select(col("user_id"), r6(col("spearman_rho")).as("spearman_rho"),
          col("n"))
        .orderBy("user_id")
    }),

    // mutual information between event type and weekday — does the MIX of
    // event types depend on the day of week, in one exact-count statistic
    "q154_mutual_info" -> ((s, dir) => {
      val tagged = ev(s, dir)
        .withColumn("dow", dayofweek(col("ts")))
      Profile.mutualInfo(tagged, "event_type", "dow")
        .select(r6(col("mi")).as("mi"), r6(col("h_a")).as("h_a"),
          r6(col("h_b")).as("h_b"), r6(col("mi_norm")).as("mi_norm"),
          col("n_cells"), col("n"))
    }),

    // EWMA control chart COMPOSED: one-step-ahead EWM mean/std (span 3 —
    // alpha exactly 0.5, binary-exact recursion) become ±3σ limits for the
    // NEXT observation; breaches are the classic SPC alert
    "q155_control_chart" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        // integer-cents head: same determinism argument as q93/q148
        .agg((sum(round(col("value") * 100).cast("long")) / 100.0).as("v"))
        .withColumn("ts_sec", unix_timestamp(col("day")))
      val stats = Ewma.ewmVarFrame(daily, Seq("user_id"), "day", "v",
        span = 3.0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_sec"))
      daily.join(stats, Seq("user_id", "ts_sec"))
        .withColumn("center", lag(col("ewm_mean"), 1).over(w))
        .withColumn("half", lit(3.0) * lag(col("ewm_std"), 1).over(w))
        .select(col("user_id"), col("ts_sec").as("day_sec"),
          r6(col("v")).as("v"), r6(col("center")).as("center"),
          r6(col("half")).as("half"),
          coalesce(abs(col("v") - col("center")) > col("half"), lit(false))
            .as("breach"))
        .orderBy("user_id", "day_sec")
    }),

    // expected calibration error + Brier of "min-max-scaled value predicts
    // a purchase" — honest answer: barely better than base rate, and ECE
    // quantifies exactly how miscalibrated the scaled score is
    "q156_ece" -> ((s, dir) => {
      val e = ev(s, dir).filter(col("value").isNotNull &&
        col("event_type").isNotNull)
      val st = e.agg(min(col("value")).as("_lo"), max(col("value")).as("_hi"))
      val scored = e.crossJoin(st)
        .withColumn("p", when(col("_hi") === col("_lo"), lit(0.0))
          .otherwise((col("value") - col("_lo")) / (col("_hi") - col("_lo"))))
        .withColumn("y", when(col("event_type") === "purchase", lit(1.0))
          .otherwise(lit(0.0)))
      graft.operators.Calibration.ece(scored, "p", "y", bins = 10)
        .select(r6(col("ece")).as("ece"), r6(col("brier")).as("brier"),
          r6(col("base_rate")).as("base_rate"), col("n"))
    }),

    // cumulative gains by descending-score decile — does ranking by value
    // concentrate the purchases in the top buckets
    "q157_gain_table" -> ((s, dir) => {
      val e = ev(s, dir).filter(col("value").isNotNull &&
          col("event_type").isNotNull)
        .withColumn("y", when(col("event_type") === "purchase", 1L)
          .otherwise(0L))
      graft.operators.Calibration.gainTable(e, "value", "y", "event_id",
          buckets = 10)
        .select(col("bucket"), col("n"), col("positives"),
          col("cum_positives"), r6(col("cum_capture")).as("cum_capture"))
        .orderBy("bucket")
    }),

    // pairwise association rules over (user, day) baskets of event types —
    // support/confidence/lift from exact integer counts
    "q158_assoc_rules" -> ((s, dir) => {
      val baskets = ev(s, dir)
        .withColumn("d", date_trunc("day", col("ts")))
      graft.operators.Assoc.pairRules(baskets, Seq("user_id", "d"),
          "event_type")
        .select(col("item_a"), col("item_b"), col("c_a"), col("c_b"),
          col("c_ab"), col("n_baskets"), r6(col("support")).as("support"),
          r6(col("conf_ab")).as("conf_ab"), r6(col("conf_ba")).as("conf_ba"),
          r6(col("lift")).as("lift"))
        .orderBy("item_a", "item_b")
    }),

    // keyword extraction COMPOSED: top-3 TF-IDF terms per document (ranks
    // on rounded scores so an independent engine reproduces the cut)
    "q159_keywords" -> ((s, dir) => {
      val t = TextAnalysis.tfidf(docs(s, dir), "doc_id", "text")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(r6(col("tfidf")).desc, col("term"))
      t.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("df"),
          r6(col("tfidf")).as("tfidf"), col("rank"))
        .orderBy("doc_id", "rank")
    }),

    // nDCG@10 per user of the value-ranking against purchase relevance —
    // position-discounted ranking quality, the precise complement of
    // q157's bucket-level gains
    "q160_ndcg" -> ((s, dir) => {
      val e = ev(s, dir).filter(col("value").isNotNull &&
          col("event_type").isNotNull)
        .withColumn("rel", when(col("event_type") === "purchase", 1.0)
          .otherwise(0.0))
      graft.operators.Calibration.ndcg(e, Seq("user_id"), "value", "rel",
          "event_id", k = 10)
        .select(col("user_id"), r6(col("dcg")).as("dcg"),
          r6(col("idcg")).as("idcg"), r6(col("ndcg")).as("ndcg"), col("n"))
        .orderBy("user_id")
    }),

    // mean reciprocal rank of the first purchase under each user's
    // value-ranking — the single-number "how early does the ranker find it"
    "q161_mrr" -> ((s, dir) => {
      val e = ev(s, dir).filter(col("value").isNotNull &&
          col("event_type").isNotNull)
        .withColumn("rel", when(col("event_type") === "purchase", 1.0)
          .otherwise(0.0))
      graft.operators.Calibration.mrr(e, Seq("user_id"), "value", "rel",
          "event_id")
        .select(r6(col("mrr")).as("mrr"), col("n_queries"), col("n_hit"))
    }),

    // two-proportion z-test per event_type: did each type's share of
    // positive-value events move between the month halves — the RATE drift
    // test beside q141/q142/q152's distribution tests
    "q162_proportion_z" -> ((s, dir) => {
      val split = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
      val e = ev(s, dir).filter(col("value").isNotNull)
        .withColumn("pos", when(col("value") > 100.0, 1L).otherwise(0L))
      graft.operators.Drift.proportionZ(e.filter(col("ts") < split),
          e.filter(col("ts") >= split), Seq("event_type"), "pos")
        .select(col("event_type"), r6(col("rate_ref")).as("rate_ref"),
          r6(col("rate_cur")).as("rate_cur"), r6(col("z")).as("z"),
          col("n_ref"), col("n_cur"))
        .orderBy("event_type")
    }),

    // precision/recall@10 per user for the same value-vs-purchase ranking
    // as q160 — set overlap where nDCG grades positions
    "q163_precision_recall" -> ((s, dir) => {
      val e = ev(s, dir).filter(col("value").isNotNull &&
          col("event_type").isNotNull)
        .withColumn("rel", when(col("event_type") === "purchase", 1L)
          .otherwise(0L))
      graft.operators.Calibration.precisionRecallAtK(e, Seq("user_id"),
          "value", "rel", "event_id", k = 10)
        .select(col("user_id"), col("hits"), col("n_rel"),
          r6(col("precision_k")).as("precision_k"),
          r6(col("recall_k")).as("recall_k"))
        .orderBy("user_id")
    }),

    // vocabulary drift between the document-corpus halves: share of
    // second-half token OCCURRENCES whose type never appears in the first
    // half — the text analogue of the value-drift family
    "q164_vocab_drift" -> ((s, dir) => {
      val d = docs(s, dir)
      val half = d.agg(percentile(col("doc_id"), lit(0.5)).as("_m"))
      val toks = d.crossJoin(broadcast(half))
        .withColumn("_is_ref", col("doc_id") <= col("_m"))
        .select(col("_is_ref"),
          explode(graft.functions.Hashing.words(lower(col("text")))).as("term"))
      val refVocab = toks.filter(col("_is_ref")).select("term").distinct()
      val cur = toks.filter(!col("_is_ref"))
      cur.join(refVocab.withColumn("_seen", lit(1)), Seq("term"), "left")
        .agg(count(lit(1)).as("n_cur_tokens"),
          sum(when(col("_seen").isNull, 1L).otherwise(0L)).as("n_oov_tokens"))
        .withColumn("oov_rate", r6(col("n_oov_tokens") / col("n_cur_tokens")))
    }),

    // semi-structured extraction: pull the JSON property out of the props
    // payload (get_json_object — codegen'd, no UDF) and aggregate it per
    // event_type; the projection/predicate surface for nested event payloads
    "q165_json_extract" -> ((s, dir) => {
      ev(s, dir).filter(col("props").isNotNull)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .filter(col("k").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
          r6(avg(col("k"))).as("k_avg"), min(col("k")).as("k_min"),
          max(col("k")).as("k_max"))
        .orderBy("event_type")
    }),

    // trapezoidal integral of each user's daily series in value-days —
    // linear interpolation between samples where q109's TWAP holds (LOCF)
    "q166_trapz" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      Features.trapezoidIntegral(daily, Seq("user_id"), "day", "v",
          unitSeconds = 86400L)
        .select(col("user_id"), r6(col("integral")).as("integral"),
          col("n_points"))
        .orderBy("user_id")
    }),

    // exact distinct event types in each user's trailing 7-row window —
    // Spark has no windowed DISTINCT agg, so array_distinct over the frame
    // list expresses it (DuckDB replays with count(DISTINCT) OVER)
    "q167_rolling_distinct" -> ((s, dir) => {
      val w7 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-6, 0)
      ev(s, dir).filter(col("event_type").isNotNull)
        .withColumn("distinct_types_7",
          size(array_distinct(collect_list(col("event_type")).over(w7))))
        .select(col("user_id"), col("event_id"), col("distinct_types_7"))
        .orderBy("user_id", "event_id")
    }),

    // is each user's arrival process Poisson: exponential MLE over
    // inter-event gaps + one-sample KS against the fitted CDF
    "q168_exp_fit" -> ((s, dir) => {
      graft.operators.Drift.expFitKs(ev(s, dir), Seq("user_id"), "ts")
        .select(col("user_id"), r6(col("lambda")).as("lambda"),
          r6(col("ks_stat")).as("ks_stat"), col("n_gaps"))
        .orderBy("user_id")
    }),
  )

  val oracles: Seq[(String, String)] = Seq(
    // Holt-Winters additive replayed with a recursive CTE: the 7-slot
    // seasonal ring buffer rides along as a DuckDB LIST, updated by
    // slice-concat in the exact float op order of the engine's fold
    // (l' reused textually inside b'; s' uses the PRE-update l and b)
    "q99_holt_winters" ->
      """WITH RECURSIVE daily AS (
        |  SELECT user_id, date_trunc('day', ts) AS d, sum(value) AS v
        |  FROM events GROUP BY 1,2),
        |r AS (SELECT user_id, d, v::DOUBLE AS y,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn FROM daily),
        |n AS (SELECT user_id, max(rn) AS bigT, max(d) AS last_d FROM r GROUP BY 1
        |  HAVING max(rn) >= 14),
        |agg AS (
        |  SELECT user_id,
        |    sum(CASE WHEN rn <= 7 THEN y END) / 7.0 AS l0,
        |    (sum(CASE WHEN rn BETWEEN 8 AND 14 THEN y END)
        |     - sum(CASE WHEN rn <= 7 THEN y END)) / 49.0 AS b0,
        |    list(y ORDER BY rn) FILTER (WHERE rn <= 7) AS first7
        |  FROM r GROUP BY 1),
        |init AS (
        |  SELECT a.user_id, 7 AS rn, l0 AS l, b0 AS b,
        |    list_transform(first7, x -> x - l0) AS s
        |  FROM agg a JOIN n USING (user_id)),
        |rec AS (
        |  SELECT * FROM init
        |  UNION ALL
        |  SELECT rec.user_id, rec.rn + 1,
        |    0.3*(sr.y - rec.s[(rec.rn % 7) + 1]) + 0.7*(rec.l + rec.b) AS l,
        |    0.1*((0.3*(sr.y - rec.s[(rec.rn % 7) + 1]) + 0.7*(rec.l + rec.b)) - rec.l)
        |      + 0.9*rec.b AS b,
        |    rec.s[1:(rec.rn % 7)]
        |      || [0.2*(sr.y - rec.l - rec.b) + 0.8*rec.s[(rec.rn % 7) + 1]]
        |      || rec.s[(rec.rn % 7) + 2:7] AS s
        |  FROM rec JOIN r sr ON sr.user_id = rec.user_id AND sr.rn = rec.rn + 1),
        |fin AS (SELECT rec.user_id, rec.l, rec.b, rec.s
        |  FROM rec JOIN n ON n.user_id = rec.user_id AND rec.rn = n.bigT)
        |SELECT f.user_id, epoch(n.last_d)::BIGINT + g.s*86400 AS forecast_s, g.s AS step,
        |  round(f.l + g.s*f.b + f.s[((n.bigT - 1 + g.s) % 7) + 1], 6) AS yhat
        |FROM fin f JOIN n USING (user_id), generate_series(1,7) g(s)
        |ORDER BY 1,3""".stripMargin,

    "q100_rolling_quantile" ->
      """WITH d AS (SELECT user_id, date_trunc('day', ts) AS day, sum(value) AS v
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, epoch(day)::BIGINT AS te, v::DOUBLE AS v FROM d),
        |m AS (SELECT user_id, te,
        |  count(v) OVER w AS n,
        |  quantile_cont(v, 0.25) OVER w AS q25,
        |  quantile_cont(v, 0.75) OVER w AS q75
        |  FROM t
        |  WINDOW w AS (PARTITION BY user_id ORDER BY te
        |    RANGE BETWEEN 604800 PRECEDING AND 86400 PRECEDING))
        |SELECT user_id, te AS day_sec,
        |round(CASE WHEN n >= 5 THEN q25 END, 6) AS roll_p25,
        |round(CASE WHEN n >= 5 THEN q75 END, 6) AS roll_p75
        |FROM m ORDER BY user_id, day_sec""".stripMargin,

    "q101_tfidf" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1,2),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.term, tf.tf, dft.df,
        |  round(tf.tf * (ln((1 + n.n_docs)::DOUBLE / (1 + dft.df)) + 1), 6) AS tfidf
        |FROM tf JOIN dft USING (term), n
        |ORDER BY doc_id, term""".stripMargin,

    // BM25: identical float op order as the engine's contrib expression
    // ((idf·tf)·(k1+1)) / (tf + k1·(1 − b + b·len/avglen)), k1=1.2 b=0.75
    "q102_bm25" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len(ws))::DOUBLE AS avg_len FROM w),
        |toks AS (SELECT doc_id, len(ws)::DOUBLE AS len, unnest(ws) AS term FROM w),
        |tf AS (SELECT doc_id, len, term, count(*) AS tf FROM toks
        |  WHERE term IN ('join','hash','scan') GROUP BY 1,2,3),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id,
        |    sum(ln(1 + (st.n_docs - dft.df + 0.5)/(dft.df + 0.5))
        |      * tf.tf * 2.2 / (tf.tf + 1.2*(1 - 0.75 + 0.75*tf.len/st.avg_len))) AS score,
        |    count(*) AS n_terms_hit
        |  FROM tf JOIN dft USING (term), st GROUP BY 1)
        |SELECT d.doc_id, round(sc.score, 6) AS score,
        |  coalesce(sc.n_terms_hit, 0)::BIGINT AS n_terms_hit
        |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    "q103_cohort_retention" ->
      """WITH a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1)
        |SELECT epoch(f.cohort_day)::BIGINT AS cohort_s,
        |  date_diff('day', f.cohort_day, a.day) AS offset_days,
        |  count(a.user_id) AS n_active
        |FROM a JOIN f USING (user_id) GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    // funnel replayed as the same min-timestamp chain, exact microseconds
    "q104_window_funnel" ->
      """WITH ev AS (SELECT user_id, event_type AS t, epoch_us(ts) AS us FROM events),
        |s1 AS (SELECT user_id, min(us) AS t1 FROM ev WHERE t = 'click' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.us) AS t2 FROM ev e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.t = 'view' AND e.us > s1.t1
        |    AND e.us <= s1.t1 + 604800000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.us) AS t3 FROM ev e
        |  JOIN s1 ON e.user_id = s1.user_id JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.t = 'purchase' AND e.us > s2.t2
        |    AND e.us <= s1.t1 + 604800000000 GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT u.user_id,
        |  (CASE WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END
        |   + CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END
        |   + CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS max_step,
        |  s1.t1 AS t1_us, s2.t2 AS t2_us, s3.t3 AS t3_us
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id)
        |ORDER BY u.user_id""".stripMargin,

    "q105_freq_encode" ->
      """WITH t AS (SELECT count(*)::DOUBLE AS total FROM events
        |  WHERE event_type IS NOT NULL),
        |d AS (SELECT event_type, count(*) AS n FROM events
        |  WHERE event_type IS NOT NULL GROUP BY 1)
        |SELECT e.event_type, round(coalesce(d.n / t.total, 0), 6) AS freq,
        |  count(*) AS n
        |FROM events e CROSS JOIN t LEFT JOIN d USING (event_type)
        |GROUP BY 1,2 ORDER BY 1""".stripMargin,

    // identical float op order: (sum + 10·prior) / (count + 10)
    "q106_target_encode" ->
      """WITH tr AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-20'),
        |p AS (SELECT avg(value) AS prior FROM tr),
        |d AS (SELECT event_type,
        |    (sum(value) + 10.0*p.prior) / (count(*) + 10.0) AS code
        |  FROM tr CROSS JOIN p
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL
        |  GROUP BY event_type, p.prior)
        |SELECT e.event_type, round(coalesce(d.code, p.prior), 6) AS code,
        |  count(*) AS n
        |FROM events e CROSS JOIN p LEFT JOIN d USING (event_type)
        |GROUP BY 1,2 ORDER BY 1""".stripMargin,

    "q107_robust_scale" ->
      """WITH p AS (SELECT quantile_cont(value, 0.5) AS med,
        |    quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr
        |  FROM events)
        |SELECT event_id,
        |  round((value - p.med)
        |    / (CASE WHEN p.iqr = 0 THEN 1.0 ELSE p.iqr END), 6) AS value_scaled
        |FROM events CROSS JOIN p ORDER BY event_id""".stripMargin,

    // floor(epoch(ts)) not epoch(ts)::BIGINT: the cast ROUNDS sub-second ts
    "q108_ohlc" ->
      """WITH e AS (SELECT user_id,
        |    (floor(epoch(ts))::BIGINT // 300) * 300 AS bucket_start,
        |    ts, event_id, value FROM events),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY user_id, bucket_start
        |      ORDER BY ts, event_id) AS ra,
        |    row_number() OVER (PARTITION BY user_id, bucket_start
        |      ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM e)
        |SELECT user_id, bucket_start,
        |  round(max(CASE WHEN ra = 1 THEN value END), 6) AS open,
        |  round(max(value), 6) AS high, round(min(value), 6) AS low,
        |  round(max(CASE WHEN rd = 1 THEN value END), 6) AS close,
        |  count(*) AS cnt
        |FROM r GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q109_twap" ->
      """WITH e AS (SELECT user_id,
        |    (floor(epoch(ts))::BIGINT // 3600) * 3600 AS bucket_start,
        |    epoch_us(ts) AS tus, event_id, value FROM events),
        |d AS (SELECT user_id, bucket_start, value,
        |    (lead(tus) OVER (PARTITION BY user_id, bucket_start
        |      ORDER BY tus, event_id) - tus)::DOUBLE AS dt
        |  FROM e)
        |SELECT user_id, bucket_start,
        |  round(CASE WHEN sum(dt) IS NULL OR sum(dt) = 0
        |    THEN avg(value) ELSE sum(value * dt) / sum(dt) END, 6) AS twap,
        |  count(*) AS cnt
        |FROM d GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    // straight off the raw points — the Spark side reaches the same numbers
    // only through the 1m->1h->1d tier store + Rollup.readRange stitching
    "q110_range_read" ->
      """SELECT user_id, count(*) AS cnt, round(sum(value),6) AS sum_value,
        |round(min(value),6) AS min_value, round(max(value),6) AS max_value,
        |round(quantile_cont(value, 0.5),6) AS p50,
        |round(quantile_cont(value, 0.95),6) AS p95,
        |count(DISTINCT event_type) AS type_card
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-03 05:23:00'
        |  AND ts < TIMESTAMP '2024-01-27 19:41:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q111_interval_join" ->
      """WITH iv AS (SELECT user_id, event_id AS window_id, ts AS w_start,
        |    ts + INTERVAL 30 MINUTE AS w_end FROM events WHERE event_id % 97 = 0)
        |SELECT e.user_id, iv.window_id, e.event_id
        |FROM events e JOIN iv ON e.user_id = iv.user_id
        | AND e.ts >= iv.w_start AND e.ts < iv.w_end
        |ORDER BY 1, 2, 3""".stripMargin,

    // frame base uses minute-truncated epoch (exact BIGINT cast; a raw
    // epoch(ts)::BIGINT would ROUND sub-second timestamps) — 2-day frames
    // are minute multiples so truncation cannot move a point across frames
    "q112_sax" ->
      """WITH m AS (SELECT user_id, avg(value) AS mu, stddev_pop(value) AS sd
        |    FROM events GROUP BY 1),
        |z AS (SELECT e.user_id,
        |    epoch(date_trunc('minute', e.ts))::BIGINT
        |      - epoch(date_trunc('minute', e.ts))::BIGINT % 172800 AS frame_start,
        |    CASE WHEN m.sd > 0 THEN (e.value - m.mu) / m.sd ELSE 0 END AS z
        |  FROM events e JOIN m USING (user_id)),
        |p AS (SELECT user_id, frame_start, round(avg(z),6) AS paa FROM z GROUP BY 1,2),
        |s AS (SELECT user_id, frame_start,
        |    CASE WHEN paa < -0.6744898 THEN 'a' WHEN paa < 0.0 THEN 'b'
        |         WHEN paa < 0.6744898 THEN 'c' ELSE 'd' END AS sym FROM p)
        |SELECT user_id, string_agg(sym, '' ORDER BY frame_start) AS sax_word,
        |count(*) AS n_frames FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    // series-head delta is NULL (contributes nothing), negative delta =
    // reset → the restarted counter's absolute value counts as increase
    "q113_counter_rate" ->
      """WITH c AS (SELECT user_id, ts, event_id,
        |    (sum(1 + event_id % 7) OVER (PARTITION BY user_id
        |       ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)) % 1000 AS counter
        |  FROM events),
        |d AS (SELECT user_id,
        |    (floor(epoch(ts))::BIGINT // 3600) * 3600 AS bucket_start,
        |    counter::DOUBLE AS v,
        |    counter::DOUBLE - lag(counter::DOUBLE) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS dd
        |  FROM c),
        |x AS (SELECT user_id, bucket_start,
        |    CASE WHEN dd IS NULL THEN NULL WHEN dd >= 0 THEN dd ELSE v END AS delta,
        |    CASE WHEN dd < 0 THEN 1 ELSE 0 END AS is_reset
        |  FROM d)
        |SELECT user_id, bucket_start, round(sum(delta),6) AS increase,
        |  count(delta) AS n_deltas, sum(is_reset)::BIGINT AS n_resets,
        |  round(sum(delta) / 3600.0, 6) AS rate
        |FROM x GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    // identical float-op order: per-key re-centered x, the same five moment
    // sums over ROWS 6 PRECEDING, the same (n·Σxy−Σx·Σy)/(n·Σxx−Σx²) shape
    "q114_rolling_slope" ->
      """WITH e AS (SELECT user_id, event_id, ts, value,
        |    epoch_us(ts)::DOUBLE / 86400000000.0 AS xa FROM events),
        |c AS (SELECT *, xa - min(xa) OVER (PARTITION BY user_id) AS x FROM e),
        |s AS (SELECT user_id, event_id,
        |    count(value) OVER fr AS n,
        |    sum(x) OVER fr AS sx, sum(value) OVER fr AS sy,
        |    sum(x * value) OVER fr AS sxy, sum(x * x) OVER fr AS sxx
        |  FROM c
        |  WINDOW fr AS (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id,
        |  round(CASE WHEN n = 7 AND 7.0 * sxx - sx * sx > 0
        |    THEN (7.0 * sxy - sx * sy) / (7.0 * sxx - sx * sx) END, 6)
        |    AS rolling_slope
        |FROM s ORDER BY 1,2""".stripMargin,

    // roles resolved by explicit row_number orderings (earliest row wins
    // min/max ties), same fixed first,last,min,max role order
    "q115_m4" ->
      """WITH e AS (SELECT user_id, event_id, value,
        |    (floor(epoch(ts))::BIGINT // 21600) * 21600 AS bucket_start,
        |    epoch_us(ts) AS tus FROM events),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY user_id, bucket_start
        |      ORDER BY tus, event_id) AS rn_f,
        |    row_number() OVER (PARTITION BY user_id, bucket_start
        |      ORDER BY tus DESC, event_id DESC) AS rn_l,
        |    row_number() OVER (PARTITION BY user_id, bucket_start
        |      ORDER BY value, tus, event_id) AS rn_min,
        |    row_number() OVER (PARTITION BY user_id, bucket_start
        |      ORDER BY value DESC, tus, event_id) AS rn_max
        |  FROM e)
        |SELECT user_id, bucket_start, event_id, round(value,6) AS value,
        |  concat_ws(',',
        |    CASE WHEN rn_f = 1 THEN 'first' END,
        |    CASE WHEN rn_l = 1 THEN 'last' END,
        |    CASE WHEN rn_min = 1 THEN 'min' END,
        |    CASE WHEN rn_max = 1 THEN 'max' END) AS roles
        |FROM r WHERE rn_f = 1 OR rn_l = 1 OR rn_min = 1 OR rn_max = 1
        |ORDER BY 1, 2, 3""".stripMargin,

    // bins raw points straight at 1h grain (slot expr float-op-identical to
    // Hist.slot: 12 slots = underflow + 10 bins of [0,100) + overflow);
    // zero slots materialized via the bin spine cross join
    "q116_hist_promote" ->
      """WITH pts AS (SELECT user_id,
        |    (floor(epoch(ts))::BIGINT // 3600) * 3600 AS bucket_start,
        |    CASE WHEN value < 0.0 THEN 0 WHEN value >= 100.0 THEN 11
        |         ELSE least(floor((value - 0.0) / 10.0)::INT, 9) + 1 END AS bin
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT DISTINCT user_id, bucket_start FROM pts),
        |bins AS (SELECT unnest(generate_series(0, 11)) AS bin),
        |c AS (SELECT user_id, bucket_start, bin, count(*) AS cnt
        |  FROM pts GROUP BY 1,2,3)
        |SELECT g.user_id, g.bucket_start, bins.bin,
        |  coalesce(c.cnt, 0)::BIGINT AS cnt
        |FROM g CROSS JOIN bins
        |LEFT JOIN c ON c.user_id = g.user_id
        |  AND c.bucket_start = g.bucket_start AND c.bin = bins.bin
        |ORDER BY 1, 2, 3""".stripMargin,

    // the fold replayed as a recursive CTE over per-key row_number, same
    // (second-truncated ts, event_id) order and float op order as the Spark
    // fold; is_drift compared on the UNROUNDED sums
    "q117_cusum" ->
      """WITH RECURSIVE m AS (
        |  SELECT user_id, avg(value) AS mu, stddev_pop(value) AS sd
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |z AS (SELECT e.user_id, floor(epoch(e.ts))::BIGINT AS ts_sec,
        |    e.event_id AS tie,
        |    CASE WHEN m.sd > 0 THEN (e.value - m.mu) / m.sd ELSE 0.0 END AS z,
        |    row_number() OVER (PARTITION BY e.user_id
        |      ORDER BY floor(epoch(e.ts))::BIGINT, e.event_id) AS rn
        |  FROM events e JOIN m USING (user_id) WHERE e.value IS NOT NULL),
        |rec AS (
        |  SELECT user_id, rn, ts_sec, tie, z,
        |    greatest(0.0, 0.0 + z - 0.5) AS sp,
        |    greatest(0.0, 0.0 - z - 0.5) AS sn
        |  FROM z WHERE rn = 1
        |  UNION ALL
        |  SELECT z.user_id, z.rn, z.ts_sec, z.tie, z.z,
        |    greatest(0.0, r.sp + z.z - 0.5), greatest(0.0, r.sn - z.z - 0.5)
        |  FROM z JOIN rec r ON z.user_id = r.user_id AND z.rn = r.rn + 1)
        |SELECT user_id, ts_sec, tie, round(z,6) AS z,
        |  round(sp,6) AS cusum_pos, round(sn,6) AS cusum_neg,
        |  (sp > 5.0 OR sn > 5.0) AS is_drift
        |FROM rec ORDER BY 1, 2, 3""".stripMargin,

    // same tokenizer contract as q41, same md5Long sample gate as q39, the
    // identical (c+1)/(N+V) and -ln(p)/ln(2) op shapes; totals from the
    // FULL sampled counts, vocab capped to top-500 (c desc, tok)
    "q118_lm_score" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      w -> w <> '')) AS tok
        |  FROM documents),
        |tr AS (SELECT tok FROM toks
        |  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 2 = 0),
        |cnts AS (SELECT tok, count(*) AS c FROM tr GROUP BY 1),
        |tot AS (SELECT sum(c)::BIGINT AS N, count(*)::BIGINT AS V FROM cnts),
        |voc AS (SELECT tok, c FROM (SELECT tok, c,
        |    row_number() OVER (ORDER BY c DESC, tok) AS rk FROM cnts)
        |  WHERE rk <= 500),
        |sc AS (SELECT t.doc_id,
        |    -ln((coalesce(v.c, 0) + 1.0) / (tot.N + tot.V)) / ln(2.0) AS b
        |  FROM toks t LEFT JOIN voc v USING (tok) CROSS JOIN tot),
        |agg AS (SELECT doc_id, count(*) AS n_tokens, avg(b) AS bits
        |  FROM sc GROUP BY 1)
        |SELECT d.doc_id, coalesce(a.n_tokens, 0)::BIGINT AS n_tokens,
        |  round(a.bits, 6) AS bits, round(pow(2.0, a.bits), 6) AS ppl
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY 1""".stripMargin,

    // replays the q116 binning at 1h grain, then the identical rank model:
    // r = q·n, containing slot = first non-empty with cumBefore < r <= cum,
    // lo + (bin−1)·w + ((r−cumBefore)/cnt)·w, slots 0/11 clamp to lo/hi
    "q119_hist_quantile" ->
      """WITH pts AS (SELECT user_id,
        |    (floor(epoch(ts))::BIGINT // 3600) * 3600 AS bucket_start,
        |    CASE WHEN value < 0.0 THEN 0 WHEN value >= 100.0 THEN 11
        |         ELSE least(floor((value - 0.0) / 10.0)::INT, 9) + 1 END AS bin
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT DISTINCT user_id, bucket_start FROM pts),
        |bins AS (SELECT unnest(generate_series(0, 11)) AS bin),
        |c AS (SELECT user_id, bucket_start, bin, count(*) AS cnt
        |  FROM pts GROUP BY 1,2,3),
        |h AS (SELECT g.user_id, g.bucket_start, bins.bin,
        |    coalesce(c.cnt, 0)::BIGINT AS cnt
        |  FROM g CROSS JOIN bins
        |  LEFT JOIN c ON c.user_id = g.user_id
        |    AND c.bucket_start = g.bucket_start AND c.bin = bins.bin),
        |w AS (SELECT *,
        |    sum(cnt) OVER (PARTITION BY user_id, bucket_start ORDER BY bin
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(cnt) OVER (PARTITION BY user_id, bucket_start) AS n FROM h),
        |qq AS (SELECT unnest([0.5, 0.95]) AS q),
        |sel AS (SELECT w.user_id, w.bucket_start, qq.q, w.bin, w.cnt, w.cum,
        |    qq.q * w.n AS r
        |  FROM w CROSS JOIN qq
        |  WHERE w.cnt > 0 AND w.cum >= qq.q * w.n
        |    AND (w.cum - w.cnt) < qq.q * w.n)
        |SELECT user_id, bucket_start, q,
        |  round(CASE WHEN bin = 0 THEN 0.0 WHEN bin = 11 THEN 100.0
        |    ELSE 0.0 + (bin - 1) * 10.0 + ((r - (cum - cnt)) / cnt) * 10.0
        |    END, 6) AS est
        |FROM sel ORDER BY 1, 2, 3""".stripMargin,

    // analytic oracle: whitened-PCA covariance IS the identity — no replay
    // of the eigen solve, the mathematical invariant itself is the check.
    // The Spark side reduces each cell to |cov − λᵢ/(λᵢ+eps)| < 5e-4 (a
    // boolean immune to agg merge-order ulps); the oracle asserts TRUE
    // for all k×k cells.
    "q120_pca_whiten" ->
      """SELECT a.i::INT AS i, b.j::INT AS j, TRUE AS identity_ok
        |FROM (SELECT unnest(generate_series(0, 7)) AS i) a
        |CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) b
        |ORDER BY 1, 2""".stripMargin,

    // raw points re-aggregated per 90-min bucket + the dense zero-fill
    // spine; the Spark side reaches the same numbers only through the
    // 1m→5m tier store and block-merge percentiles
    "q121_range_series" ->
      """WITH agg AS (SELECT user_id,
        |    (floor(epoch(ts))::BIGINT // 5400) * 5400 AS bucket_start,
        |    count(*) AS cnt, round(sum(value),6) AS sum_value,
        |    round(quantile_cont(value, 0.5),6) AS p50,
        |    round(quantile_cont(value, 0.95),6) AS p95,
        |    count(DISTINCT event_type) AS type_card
        |  FROM events
        |  WHERE floor(epoch(ts))::BIGINT >= 1704412800
        |    AND floor(epoch(ts))::BIGINT < 1705789800
        |  GROUP BY 1, 2),
        |grid AS (SELECT u.user_id, g.bucket_start
        |  FROM (SELECT DISTINCT user_id FROM agg) u
        |  CROSS JOIN (SELECT unnest(generate_series(1704412800,
        |    1705789800 - 5400, 5400)) AS bucket_start) g)
        |SELECT grid.user_id, grid.bucket_start,
        |  coalesce(agg.cnt, 0)::BIGINT AS cnt, agg.sum_value, agg.p50,
        |  agg.p95, agg.type_card
        |FROM grid LEFT JOIN agg ON agg.user_id = grid.user_id
        |  AND agg.bucket_start = grid.bucket_start
        |ORDER BY 1, 2""".stripMargin,

    // q85's recursion with the φ damping factor threaded through; the
    // horizon multiplier φ(1−φˢ)/(1−φ) uses φ=0.875 (binary-exact, so
    // 1−φ = 0.125 is identical in both engines)
    "q122_holt_damped" ->
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
        |    0.3*s.y + 0.7*(rec.l + 0.875*rec.b) AS l,
        |    0.2*((0.3*s.y + 0.7*(rec.l + 0.875*rec.b)) - rec.l)
        |      + 0.8*(0.875*rec.b) AS b
        |  FROM rec JOIN r s ON s.user_id = rec.user_id AND s.rn = rec.rn + 1),
        |fin AS (SELECT rec.user_id, rec.l, rec.b
        |  FROM rec JOIN n ON n.user_id = rec.user_id AND rec.rn = n.bigT)
        |SELECT f.user_id, epoch(n.last_d)::BIGINT + g.s*86400 AS forecast_s,
        |  g.s AS step,
        |  round(f.l + (0.875 * (1.0 - pow(0.875, g.s)) / 0.125) * f.b, 6) AS yhat
        |FROM fin f JOIN n USING (user_id), generate_series(1,3) g(s)
        |ORDER BY 1,3""".stripMargin,

    // list window + filter — the same materialized-frame construction
    "q123_rolling_rank" ->
      """WITH e AS (SELECT user_id, event_id, value,
        |    list(value) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS l
        |  FROM events)
        |SELECT user_id, event_id,
        |  round(CASE WHEN len(l) = 10 AND value IS NOT NULL
        |    THEN len(list_filter(l, x -> x <= value))::DOUBLE / 10.0 END, 6)
        |    AS pct_rank
        |FROM e ORDER BY 1, 2""".stripMargin,

    // q77's LSH + transitive-closure clustering, then the survivor pick:
    // max n_chars per component (ties -> min id), singletons keep themselves
    "q124_dedup_keep" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id AS id, text, n_chars FROM documents WHERE doc_id < 200
        |  UNION ALL SELECT doc_id + 1000000, text, n_chars FROM documents WHERE doc_id < 200),
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
        |lab AS (SELECT c.id, coalesce(comp.component, c.id) AS component,
        |    c.n_chars::DOUBLE AS score
        |  FROM corpus c LEFT JOIN comp ON comp.id = c.id)
        |SELECT id, component,
        |  row_number() OVER (PARTITION BY component ORDER BY score DESC, id) = 1 AS keep
        |FROM lab ORDER BY id""".stripMargin,

    // q93's EXACT decomposition aggregated to the FPP3 strength scalars;
    // edge rows (null trend) excluded, zero-variance denominators null
    "q125_decomp_strength" ->
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
        |  FROM piv),
        |fin AS (SELECT d2.user_id, trend, s_raw - ctr AS seasonal,
        |    y - trend - (s_raw - ctr) AS remainder
        |  FROM d2 JOIN sr USING (user_id, pos) JOIN c USING (user_id)
        |  WHERE trend IS NOT NULL)
        |SELECT user_id, count(*) AS n,
        |  round(CASE WHEN var_pop(trend + remainder) > 0 THEN
        |    greatest(0.0, 1.0 - var_pop(remainder) / var_pop(trend + remainder))
        |    END, 6) AS trend_strength,
        |  round(CASE WHEN var_pop(seasonal + remainder) > 0 THEN
        |    greatest(0.0, 1.0 - var_pop(remainder) / var_pop(seasonal + remainder))
        |    END, 6) AS seasonal_strength
        |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin,

    // list-window median/MAD in the same sorted-middle-element form; MAD 0
    // thresholds at zero so any deviation from the window median flags
    "q126_hampel" ->
      """WITH e AS (SELECT user_id, event_id, value,
        |    list(value) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS l
        |  FROM events),
        |m AS (SELECT user_id, event_id, value, l,
        |    CASE WHEN len(l) = 7 THEN list_sort(l)[4] END AS med FROM e),
        |d AS (SELECT user_id, event_id, value, med,
        |    CASE WHEN med IS NOT NULL THEN
        |      list_sort(list_transform(l, x -> abs(x - med)))[4] END AS mad
        |  FROM m)
        |SELECT user_id, event_id, round(med, 6) AS hampel_med,
        |  CASE WHEN mad IS NOT NULL
        |    THEN abs(value - med) > 3.0 * 1.4826 * mad ELSE false END AS hampel_flag,
        |  round(CASE WHEN mad IS NOT NULL
        |      AND abs(value - med) > 3.0 * 1.4826 * mad
        |    THEN med ELSE value END, 6) AS v_filtered
        |FROM d ORDER BY 1, 2""".stripMargin,

    // recursive CTE carries the four decayed sums (decay = 0.5 exact);
    // var = (sw²/(sw²−sw2)) · (swx2/sw − m²) in the identical op order,
    // null until two observations
    "q127_ewm_var" ->
      """WITH RECURSIVE daily AS (SELECT user_id, date_trunc('day', ts) AS day,
        |    sum(value) AS v FROM events GROUP BY 1,2),
        |r AS (SELECT user_id, floor(epoch(day))::BIGINT AS day_sec, v::DOUBLE AS y,
        |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM daily),
        |rec AS (
        |  SELECT user_id, rn, day_sec, 1.0::DOUBLE AS sw, 1.0::DOUBLE AS sw2,
        |    y AS swx, y*y AS swx2, 1 AS nobs
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT s.user_id, s.rn, s.day_sec,
        |    0.5*rec.sw + 1.0, 0.25*rec.sw2 + 1.0,
        |    0.5*rec.swx + s.y, 0.5*rec.swx2 + s.y*s.y, rec.nobs + 1
        |  FROM rec JOIN r s ON s.user_id = rec.user_id AND s.rn = rec.rn + 1)
        |SELECT user_id, day_sec,
        |  round(swx / sw, 6) AS ewm_mean,
        |  round(CASE WHEN nobs >= 2 AND sw*sw - sw2 > 0 THEN
        |    (sw*sw / (sw*sw - sw2)) * (swx2/sw - (swx/sw)*(swx/sw)) END, 6) AS ewm_var,
        |  round(CASE WHEN nobs >= 2 AND sw*sw - sw2 > 0 THEN
        |    sqrt((sw*sw / (sw*sw - sw2)) * (swx2/sw - (swx/sw)*(swx/sw))) END, 6) AS ewm_std
        |FROM rec ORDER BY 1, 2""".stripMargin,

    // identical page construction, line predicates replayed rule-for-rule,
    // ordered reassembly via string_agg ORDER BY pos
    "q128_line_filter" ->
      """WITH t AS (SELECT doc_id,
        |    substr(text, 1, 50) || '.' || chr(10) || substr(text, 51, 40)
        |      || chr(10) || 'Please enable javascript to continue.'
        |      || chr(10) || substr(text, 91, 60) || '!' AS page
        |  FROM documents),
        |x AS (SELECT doc_id, string_split(page, chr(10)) AS ls FROM t),
        |l AS (SELECT doc_id, u.pos, ls[u.pos] AS line
        |  FROM x CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS pos) u),
        |k AS (SELECT doc_id, pos, line,
        |    regexp_matches(trim(line), '[.!?"]$')
        |    AND len(list_filter(regexp_split_to_array(trim(line), '\s+'),
        |      w -> w <> '')) >= 5
        |    AND NOT contains(lower(line), 'javascript')
        |    AND NOT contains(lower(line), 'cookie') AS keep
        |  FROM l)
        |SELECT doc_id, count(*) AS n_lines,
        |  count(CASE WHEN keep THEN 1 END) AS n_kept,
        |  string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos)
        |    AS clean_text
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,

    // the same direct single-bin sums: z·cos / z·sin against integer row
    // phases, power = sc² + ss², identical 2·π/p constant shape
    "q129_periodogram" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d, sum(value) AS v
        |  FROM events GROUP BY 1,2),
        |r AS (SELECT user_id, v::DOUBLE AS y,
        |    (row_number() OVER (PARTITION BY user_id ORDER BY d) - 1)::DOUBLE AS t
        |  FROM daily),
        |c AS (SELECT user_id, avg(y) AS mu FROM r GROUP BY 1),
        |z AS (SELECT r.user_id, r.t, r.y - c.mu AS z
        |  FROM r JOIN c USING (user_id)),
        |p AS (SELECT unnest([2, 3, 7, 14]) AS period),
        |a AS (SELECT z.user_id, p.period,
        |    sum(z.z * cos(z.t * (2.0 * pi() / p.period))) AS sc,
        |    sum(z.z * sin(z.t * (2.0 * pi() / p.period))) AS ss,
        |    count(*) AS n
        |  FROM z CROSS JOIN p GROUP BY 1, 2)
        |SELECT user_id, period::INT AS period,
        |  round(sc*sc + ss*ss, 6) AS power, n
        |FROM a ORDER BY 1, 2""".stripMargin,

    // q99's recursion with ratio seasonals: divide where additive
    // subtracts, multiply the forecast; positive-series guard in `n`
    "q130_holt_winters_mul" ->
      """WITH RECURSIVE daily AS (
        |  SELECT user_id, date_trunc('day', ts) AS d, sum(value) AS v
        |  FROM events GROUP BY 1,2),
        |r AS (SELECT user_id, d, v::DOUBLE AS y,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn FROM daily),
        |n AS (SELECT user_id, max(rn) AS bigT, max(d) AS last_d FROM r GROUP BY 1
        |  HAVING max(rn) >= 14 AND min(y) > 0),
        |agg AS (
        |  SELECT user_id,
        |    sum(CASE WHEN rn <= 7 THEN y END) / 7.0 AS l0,
        |    (sum(CASE WHEN rn BETWEEN 8 AND 14 THEN y END)
        |     - sum(CASE WHEN rn <= 7 THEN y END)) / 49.0 AS b0,
        |    list(y ORDER BY rn) FILTER (WHERE rn <= 7) AS first7
        |  FROM r GROUP BY 1),
        |init AS (
        |  SELECT a.user_id, 7 AS rn, l0 AS l, b0 AS b,
        |    list_transform(first7, x -> x / l0) AS s
        |  FROM agg a JOIN n USING (user_id) WHERE l0 <> 0),
        |rec AS (
        |  SELECT * FROM init
        |  UNION ALL
        |  SELECT rec.user_id, rec.rn + 1,
        |    0.3*(sr.y / rec.s[(rec.rn % 7) + 1]) + 0.7*(rec.l + rec.b) AS l,
        |    0.1*((0.3*(sr.y / rec.s[(rec.rn % 7) + 1]) + 0.7*(rec.l + rec.b)) - rec.l)
        |      + 0.9*rec.b AS b,
        |    rec.s[1:(rec.rn % 7)]
        |      || [0.2*(sr.y / (rec.l + rec.b)) + 0.8*rec.s[(rec.rn % 7) + 1]]
        |      || rec.s[(rec.rn % 7) + 2:7] AS s
        |  FROM rec JOIN r sr ON sr.user_id = rec.user_id AND sr.rn = rec.rn + 1),
        |fin AS (SELECT rec.user_id, rec.l, rec.b, rec.s
        |  FROM rec JOIN n ON n.user_id = rec.user_id AND rec.rn = n.bigT)
        |SELECT f.user_id, epoch(n.last_d)::BIGINT + g.s*86400 AS forecast_s, g.s AS step,
        |  round((f.l + g.s*f.b) * f.s[((n.bigT - 1 + g.s) % 7) + 1], 6) AS yhat
        |FROM fin f JOIN n USING (user_id), generate_series(1,7) g(s)
        |ORDER BY 1,3""".stripMargin,

    // same construction and the same shifted-y correlations via window lag
    "q131_cross_corr" ->
      """WITH xy AS (SELECT user_id, ts, event_id, value,
        |    lag(value, 2) OVER w AS y
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |st AS (SELECT user_id, value,
        |    lead(y, 2) OVER w AS y_m2, lead(y, 1) OVER w AS y_m1, y AS y_0,
        |    lag(y, 1) OVER w AS y_1, lag(y, 2) OVER w AS y_2
        |  FROM xy WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |a AS (SELECT user_id,
        |    corr(value, y_m2) AS c_m2, corr(value, y_m1) AS c_m1,
        |    corr(value, y_0) AS c_0, corr(value, y_1) AS c_1,
        |    corr(value, y_2) AS c_2
        |  FROM st GROUP BY 1)
        |SELECT user_id, l.lag, round(CASE l.lag
        |    WHEN -2 THEN c_m2 WHEN -1 THEN c_m1 WHEN 0 THEN c_0
        |    WHEN 1 THEN c_1 ELSE c_2 END, 6) AS ccf
        |FROM a CROSS JOIN (SELECT unnest([-2, -1, 0, 1, 2]) AS lag) l
        |ORDER BY 1, 2""".stripMargin,

    // identical share construction; log2 is the only libm call and r6
    // absorbs its ulp
    "q132_concentration" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS c FROM events
        |  WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT user_id, c,
        |    c::DOUBLE / sum(c) OVER (PARTITION BY user_id) AS p FROM c)
        |SELECT user_id, sum(c)::BIGINT AS n, count(*) AS n_categories,
        |  round(-sum(p * log2(p)), 6) AS entropy,
        |  round(sum(c * c)::DOUBLE / (sum(c) * sum(c))::DOUBLE, 6) AS hhi
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    // piecewise forms replayed branch-for-branch (lambda = 0.5, 2-lambda =
    // 1.5), inverse applied to the forward result inside the query
    "q133_yeo_johnson" ->
      """WITH c AS (SELECT event_id, value - 50.0 AS x FROM events),
        |f AS (SELECT event_id, x,
        |    CASE WHEN x >= 0 THEN (pow(x + 1.0, 0.5) - 1.0) / 0.5
        |         ELSE -(pow(1.0 - x, 1.5) - 1.0) / 1.5 END AS yj
        |  FROM c)
        |SELECT event_id, round(yj, 6) AS yj,
        |  round(CASE WHEN yj >= 0 THEN pow(yj * 0.5 + 1.0, 1.0 / 0.5) - 1.0
        |    ELSE 1.0 - pow(1.0 - yj * 1.5, 1.0 / 1.5) END, 6) AS back
        |FROM f ORDER BY event_id""".stripMargin,

    // the classic two-row_number difference, replayed key-for-key
    "q134_streaks" ->
      """WITH e AS (SELECT user_id, event_id, ts, value > 60.0 AS cond,
        |    row_number() OVER w AS rn,
        |    count(CASE WHEN value > 60.0 THEN 1 END) OVER
        |      (PARTITION BY user_id ORDER BY ts
        |       ROWS UNBOUNDED PRECEDING) AS crn
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |i AS (SELECT user_id, event_id, ts, cond,
        |    CASE WHEN cond THEN rn - crn END AS island FROM e)
        |SELECT user_id, event_id,
        |  CASE WHEN cond THEN island END AS streak_id,
        |  CASE WHEN cond THEN row_number() OVER
        |    (PARTITION BY user_id, island ORDER BY ts) END AS streak_len
        |FROM i ORDER BY 1, 2""".stripMargin,

    // same hourly grid + nulls, fill = last same-phase non-null
    "q135_seasonal_fill" ->
      """WITH hourly AS (SELECT user_id,
        |    (floor(epoch(ts))::BIGINT // 3600) * 3600 AS h, sum(value) AS v
        |  FROM events GROUP BY 1, 2),
        |withnulls AS (SELECT user_id, h,
        |    CASE WHEN (h // 3600) % 5 = 0 THEN NULL ELSE v END AS v,
        |    h % 86400 AS phase
        |  FROM hourly)
        |SELECT user_id, h,
        |  round(coalesce(v, last_value(v IGNORE NULLS) OVER
        |    (PARTITION BY user_id, phase ORDER BY h
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS v_filled
        |FROM withnulls ORDER BY 1, 2""".stripMargin,

    // the Winkler form replayed term-for-term (2/alpha = 2.0/0.2)
    "q136_interval_score" ->
      """WITH b AS (SELECT user_id, value,
        |    lag(value, 1) OVER w - 15.0 AS lo,
        |    lag(value, 1) OVER w + 15.0 AS hi
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |f AS (SELECT user_id, value, lo, hi,
        |    (hi - lo)
        |    + CASE WHEN value < lo THEN (2.0 / 0.2) * (lo - value) ELSE 0.0 END
        |    + CASE WHEN value > hi THEN (2.0 / 0.2) * (value - hi) ELSE 0.0 END AS w
        |  FROM b WHERE value IS NOT NULL AND lo IS NOT NULL AND hi IS NOT NULL)
        |SELECT user_id, round(avg(w), 6) AS interval_score,
        |  round(avg(CASE WHEN value >= lo AND value <= hi THEN 1.0 ELSE 0.0 END), 6)
        |    AS coverage,
        |  count(*) AS n
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    // finite-sample quantile k = ceil((n+1)(1-alpha)) replayed exactly;
    // 2.0/0.2 == 10.0 in IEEE doubles in both engines
    "q137_conformal" ->
      """WITH p AS (SELECT user_id, ts, value,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pred
        |  FROM events),
        |pp AS (SELECT * FROM p WHERE pred IS NOT NULL AND value IS NOT NULL),
        |rk AS (SELECT user_id, abs(value - pred) AS r,
        |    row_number() OVER (PARTITION BY user_id ORDER BY abs(value - pred)) AS rnk,
        |    count(*) OVER (PARTITION BY user_id) AS nc
        |  FROM pp WHERE ts < TIMESTAMP '2024-01-25 00:00:00'),
        |q AS (SELECT user_id, r AS qhat, nc AS n_calib FROM rk
        |  WHERE rnk = CAST(ceil((nc + 1) * (1.0 - 0.2)) AS BIGINT)),
        |t AS (SELECT pp.user_id, q.qhat, q.n_calib, pp.value,
        |    pp.pred - q.qhat AS lo, pp.pred + q.qhat AS hi
        |  FROM pp JOIN q USING (user_id)
        |  WHERE pp.ts >= TIMESTAMP '2024-01-25 00:00:00'),
        |f AS (SELECT user_id, qhat, n_calib, value, lo, hi,
        |    (hi - lo)
        |    + CASE WHEN value < lo THEN (2.0 / 0.2) * (lo - value) ELSE 0.0 END
        |    + CASE WHEN value > hi THEN (2.0 / 0.2) * (value - hi) ELSE 0.0 END AS w
        |  FROM t)
        |SELECT user_id, round(any_value(qhat), 6) AS qhat,
        |  any_value(n_calib) AS n_calib,
        |  round(avg(w), 6) AS interval_score,
        |  round(avg(CASE WHEN value >= lo AND value <= hi THEN 1.0 ELSE 0.0 END), 6)
        |    AS coverage,
        |  count(*) AS n
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    // fold = floor(idx*K/n) over distinct day buckets, purge/embargo in
    // bucket units — the same pure integer forms the operator uses
    "q138_purged_cv" ->
      """WITH dd AS (SELECT DISTINCT date_trunc('day', ts) AS d FROM events),
        |ix AS (SELECT d, row_number() OVER (ORDER BY d) - 1 AS idx,
        |    count(*) OVER () AS n FROM dd),
        |fd AS (SELECT d, idx, CAST(floor(idx * 5.0 / n) AS BIGINT) AS fold FROM ix),
        |fb AS (SELECT fold, min(idx) AS si, max(idx) AS ei FROM fd GROUP BY 1),
        |e AS (SELECT date_trunc('day', ts) AS d FROM events),
        |j AS (SELECT fd.idx, e.d FROM e JOIN fd USING (d)),
        |r AS (SELECT fb.fold, j.d,
        |    CASE WHEN j.idx BETWEEN fb.si AND fb.ei THEN 'test'
        |         WHEN j.idx >= fb.si - 2 AND j.idx < fb.si THEN 'purged'
        |         WHEN j.idx > fb.ei AND j.idx <= fb.ei + 2 THEN 'embargo'
        |         ELSE 'train' END AS role
        |  FROM j CROSS JOIN fb)
        |SELECT fold, role, count(*) AS n, min(d) AS d_min, max(d) AS d_max
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the filter recursion replayed in identical float op order
    // (pPred = p+q; k = pPred/(pPred+r); z = (y-l)/sqrt(pPred+r);
    //  l += k*(y-l); p = (1-k)*pPred), init l=y1 p=r
    "q139_kalman" ->
      """WITH RECURSIVE daily AS (SELECT user_id, date_trunc('day', ts) AS day,
        |    sum(value) AS v FROM events GROUP BY 1,2),
        |r AS (SELECT user_id, floor(epoch(day))::BIGINT AS day_sec, v::DOUBLE AS y,
        |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM daily),
        |rec AS (
        |  SELECT user_id, rn, day_sec, y AS l, 16.0::DOUBLE AS p,
        |    NULL::DOUBLE AS k, NULL::DOUBLE AS z
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT s.user_id, s.rn, s.day_sec,
        |    rec.l + ((rec.p + 4.0) / ((rec.p + 4.0) + 16.0)) * (s.y - rec.l),
        |    (1.0 - (rec.p + 4.0) / ((rec.p + 4.0) + 16.0)) * (rec.p + 4.0),
        |    (rec.p + 4.0) / ((rec.p + 4.0) + 16.0),
        |    (s.y - rec.l) / sqrt((rec.p + 4.0) + 16.0)
        |  FROM rec JOIN r s ON s.user_id = rec.user_id AND s.rn = rec.rn + 1)
        |SELECT user_id, day_sec, round(l, 6) AS level, round(k, 6) AS gain,
        |  round(z, 6) AS z
        |FROM rec ORDER BY 1, 2""".stripMargin,

    // both systems replayed (q102's BM25, q36's cosine), ranks on
    // round(score, 6) with id tie-break, RRF k=60
    "q140_rrf_hybrid" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |st AS (SELECT count(*)::DOUBLE AS n_docs, avg(len(ws))::DOUBLE AS avg_len FROM w),
        |toks AS (SELECT doc_id, len(ws)::DOUBLE AS len, unnest(ws) AS term FROM w),
        |tf AS (SELECT doc_id, len, term, count(*) AS tf FROM toks
        |  WHERE term IN ('join','hash','scan') GROUP BY 1,2,3),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id,
        |    sum(ln(1 + (st.n_docs - dft.df + 0.5)/(dft.df + 0.5))
        |      * tf.tf * 2.2 / (tf.tf + 1.2*(1 - 0.75 + 0.75*tf.len/st.avg_len))) AS score
        |  FROM tf JOIN dft USING (term), st GROUP BY 1),
        |bm AS (SELECT doc_id AS id,
        |    row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rnk
        |  FROM sc QUALIFY rnk <= 50),
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 1),
        |cs AS (SELECT c.vec_id AS id,
        |    list_dot_product(q.qv, c.cv) / (sqrt(list_dot_product(q.qv, q.qv))
        |      * sqrt(list_dot_product(c.cv, c.cv))) AS sim
        |  FROM q CROSS JOIN (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings) c
        |  WHERE c.vec_id <> 1
        |    AND sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv)) > 0),
        |dn AS (SELECT id, row_number() OVER (ORDER BY round(sim, 6) DESC, id) AS rnk
        |  FROM cs QUALIFY rnk <= 50),
        |u AS (SELECT id, rnk FROM bm UNION ALL SELECT id, rnk FROM dn),
        |f AS (SELECT id, sum(1.0 / (60 + rnk)) AS rrf_score, count(*) AS n_systems
        |  FROM u GROUP BY 1),
        |rr AS (SELECT id, rrf_score, n_systems,
        |    row_number() OVER (ORDER BY rrf_score DESC, id) AS fused_rank FROM f)
        |SELECT id, round(rrf_score, 6) AS rrf_score, n_systems, fused_rank
        |FROM rr WHERE fused_rank <= 20 ORDER BY fused_rank""".stripMargin,

    // fixed-width bins over the reference min/max, Laplace smoothing
    // (c+0.5)/(n+5), every bin slot materialized
    "q141_psi" ->
      """WITH r AS (SELECT user_id, value::DOUBLE AS v FROM events
        |  WHERE value IS NOT NULL AND ts < TIMESTAMP '2024-01-16 00:00:00'),
        |c AS (SELECT user_id, value::DOUBLE AS v FROM events
        |  WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-16 00:00:00'),
        |st AS (SELECT user_id, min(v) AS lo, max(v) AS hi, count(*) AS n_ref
        |  FROM r GROUP BY 1),
        |cn AS (SELECT user_id, count(*) AS n_cur FROM c GROUP BY 1),
        |rb AS (SELECT r.user_id,
        |    CASE WHEN st.hi = st.lo THEN 0 ELSE least(9, greatest(0,
        |      CAST(floor((r.v - st.lo) / (st.hi - st.lo) * 10) AS BIGINT))) END AS bin,
        |    count(*) AS cr
        |  FROM r JOIN st USING (user_id) GROUP BY 1, 2),
        |cb AS (SELECT c.user_id,
        |    CASE WHEN st.hi = st.lo THEN 0 ELSE least(9, greatest(0,
        |      CAST(floor((c.v - st.lo) / (st.hi - st.lo) * 10) AS BIGINT))) END AS bin,
        |    count(*) AS cc
        |  FROM c JOIN st USING (user_id) GROUP BY 1, 2),
        |slots AS (SELECT user_id, unnest(range(0, 10)) AS bin FROM st),
        |sh AS (SELECT s.user_id,
        |    (coalesce(rb.cr, 0) + 0.5)::DOUBLE / (st.n_ref + 5.0)::DOUBLE AS pr,
        |    (coalesce(cb.cc, 0) + 0.5)::DOUBLE / (cn.n_cur + 5.0)::DOUBLE AS pc
        |  FROM slots s
        |  LEFT JOIN rb ON rb.user_id = s.user_id AND rb.bin = s.bin
        |  LEFT JOIN cb ON cb.user_id = s.user_id AND cb.bin = s.bin
        |  JOIN st ON st.user_id = s.user_id
        |  JOIN cn ON cn.user_id = s.user_id)
        |SELECT sh.user_id, round(sum((pc - pr) * ln(pc / pr)), 6) AS psi,
        |  max(st.n_ref) AS n_ref, max(cn.n_cur) AS n_cur
        |FROM sh JOIN st ON st.user_id = sh.user_id
        |  JOIN cn ON cn.user_id = sh.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // D = max |F_ref - F_cur| over integer cumulative counts
    "q142_ks" ->
      """WITH t AS (SELECT user_id, value::DOUBLE AS v,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS ir,
        |    CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS ic
        |  FROM events WHERE value IS NOT NULL),
        |pv AS (SELECT user_id, v, sum(ir) AS cr, sum(ic) AS cc FROM t GROUP BY 1, 2),
        |cum AS (SELECT user_id,
        |    sum(cr) OVER (PARTITION BY user_id ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sr,
        |    sum(cc) OVER (PARTITION BY user_id ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sc,
        |    sum(cr) OVER (PARTITION BY user_id) AS nr,
        |    sum(cc) OVER (PARTITION BY user_id) AS nc
        |  FROM pv)
        |SELECT user_id, round(max(abs(sr::DOUBLE / nr - sc::DOUBLE / nc)), 6) AS ks,
        |  max(nr)::BIGINT AS n_ref, max(nc)::BIGINT AS n_cur
        |FROM cum WHERE nr > 0 AND nc > 0 GROUP BY 1 ORDER BY 1""".stripMargin,

    // pairwise slopes via self-join, exact interpolated medians; x is
    // epoch-days re-centered per key (identical float ops to the operator)
    "q143_theil_sen" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS day,
        |    sum(value) AS v FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, epoch_us(day)::DOUBLE / 86400000000.0 AS xa,
        |    v::DOUBLE AS y,
        |    min(epoch_us(day)::DOUBLE / 86400000000.0)
        |      OVER (PARTITION BY user_id) AS x0
        |  FROM daily WHERE v IS NOT NULL),
        |bb AS (SELECT user_id, xa - x0 AS x, y FROM b),
        |p AS (SELECT l.user_id, (r.y - l.y) / (r.x - l.x) AS s
        |  FROM bb l JOIN bb r ON l.user_id = r.user_id AND r.x > l.x),
        |f AS (SELECT user_id, quantile_cont(s, 0.5) AS ts_slope,
        |    count(*) AS n_pairs FROM p GROUP BY 1),
        |i AS (SELECT bb.user_id, f.ts_slope, f.n_pairs,
        |    quantile_cont(bb.y - f.ts_slope * bb.x, 0.5) AS ts_intercept
        |  FROM bb JOIN f USING (user_id) GROUP BY 1, 2, 3)
        |SELECT user_id, round(ts_slope, 6) AS ts_slope,
        |  round(ts_intercept, 6) AS ts_intercept, n_pairs
        |FROM i ORDER BY 1""".stripMargin,

    "q144_vocab" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(ws) AS term FROM w),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |v AS (SELECT doc_id, sum(tf)::BIGINT AS n_tokens, count(*) AS n_types,
        |    sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax
        |  FROM tf GROUP BY 1)
        |SELECT doc_id, n_tokens, n_types, n_hapax,
        |  round(n_types::DOUBLE / n_tokens, 6) AS ttr,
        |  round(n_hapax::DOUBLE / n_types, 6) AS hapax_ratio
        |FROM v ORDER BY 1""".stripMargin,

    // rank ties broken by term asc in BOTH the top-K cut and the ranking
    "q145_zipf" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |t AS (SELECT unnest(ws) AS term FROM w),
        |tf AS (SELECT term, count(*) AS freq FROM t GROUP BY 1),
        |top AS (SELECT term, freq FROM tf ORDER BY freq DESC, term LIMIT 100),
        |r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, term) AS rank
        |  FROM top),
        |s AS (SELECT count(*)::DOUBLE AS n,
        |    sum(ln(rank::DOUBLE)) AS sx, sum(ln(freq::DOUBLE)) AS sy,
        |    sum(ln(rank::DOUBLE) * ln(freq::DOUBLE)) AS sxy,
        |    sum(ln(rank::DOUBLE) * ln(rank::DOUBLE)) AS sxx,
        |    max(freq) AS max_freq FROM r)
        |SELECT round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
        |  n::BIGINT AS n_terms, max_freq
        |FROM s""".stripMargin,

    // product-limit via exp(sum(ln(1 - d/n))) in identical term order;
    // a d = n time zeroes the curve from there on
    "q146_km" ->
      """WITH s AS (SELECT user_id, event_type,
        |    min(date_trunc('day', ts)) AS fd, max(date_trunc('day', ts)) AS ld
        |  FROM events GROUP BY 1, 2),
        |subj AS (SELECT event_type, datediff('day', fd, ld) AS t,
        |    CASE WHEN ld < TIMESTAMP '2024-01-28 00:00:00' THEN 1 ELSE 0 END AS e
        |  FROM s),
        |pt AS (SELECT event_type, t, sum(e) AS d, count(*) AS c
        |  FROM subj GROUP BY 1, 2),
        |ar AS (SELECT event_type, t, d,
        |    sum(c) OVER (PARTITION BY event_type)
        |      - sum(c) OVER (PARTITION BY event_type ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + c AS n_risk
        |  FROM pt),
        |ev AS (SELECT * FROM ar WHERE d > 0),
        |fin AS (SELECT event_type, t, n_risk, d,
        |    CASE WHEN max(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER w = 1
        |      THEN 0.0
        |      ELSE exp(sum(CASE WHEN d < n_risk
        |        THEN ln(1.0 - d::DOUBLE / n_risk) END) OVER w) END AS survival
        |  FROM ev
        |  WINDOW w AS (PARTITION BY event_type ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, t::BIGINT AS t, n_risk::BIGINT AS n_risk,
        |  d::BIGINT AS d, round(survival, 6) AS survival
        |FROM fin ORDER BY 1, 2""".stripMargin,

    // exact interpolated quantile band, inclusive trim, clamped winsor
    "q147_trimmed_mean" ->
      """WITH b AS (SELECT event_type,
        |    quantile_cont(value, 0.05) AS qlo, quantile_cont(value, 0.95) AS qhi
        |  FROM events WHERE value IS NOT NULL GROUP BY 1)
        |SELECT e.event_type, round(avg(e.value), 6) AS mean,
        |  round(avg(CASE WHEN e.value BETWEEN b.qlo AND b.qhi THEN e.value END), 6)
        |    AS trimmed_mean,
        |  round(avg(greatest(b.qlo, least(b.qhi, e.value))), 6) AS winsor_mean,
        |  count(*) AS n,
        |  count(CASE WHEN e.value BETWEEN b.qlo AND b.qhi THEN 1 END) AS n_kept
        |FROM events e JOIN b USING (event_type)
        |WHERE e.value IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q93's EXACT decomposition replayed (integer-cents window/phase sums,
    // single double divisions, fixed-association ctr fold — the verbatim
    // DuckDB twin of Features.seasonalDecomposeExact), then median/MAD
    // robust z on the remainder (quantile_cont parity), 3.0 cut. Every
    // order-sensitive reduction is a BIGINT sum, so the remainders are
    // bit-identical to Spark's and the exact-repr hash matches.
    "q148_seasonal_esd" ->
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
        |  FROM piv),
        |rem AS (SELECT d2.user_id, floor(epoch(d))::BIGINT AS d_s,
        |    y - trend - (s_raw - ctr) AS rem
        |  FROM d2 JOIN sr USING (user_id, pos) JOIN c USING (user_id)
        |  WHERE y - trend - (s_raw - ctr) IS NOT NULL),
        |m AS (SELECT user_id, quantile_cont(rem, 0.5) AS med FROM rem GROUP BY 1),
        |md AS (SELECT r.user_id, quantile_cont(abs(r.rem - m.med), 0.5) AS mad
        |  FROM rem r JOIN m USING (user_id) GROUP BY 1)
        |SELECT r.user_id, r.d_s, round(r.rem, 6) AS remainder,
        |  round(m.med, 6) AS med, round(md.mad, 6) AS mad,
        |  round(CASE WHEN md.mad > 0
        |    THEN 0.6745 * (r.rem - m.med) / md.mad END, 6) AS robust_z,
        |  coalesce(abs(CASE WHEN md.mad > 0
        |    THEN 0.6745 * (r.rem - m.med) / md.mad END) > 3.0, false) AS is_outlier
        |FROM rem r JOIN m USING (user_id) JOIN md USING (user_id)
        |ORDER BY 1, 2""".stripMargin,

    // lower weighted median: first value whose 2*cumw reaches the total
    "q149_weighted_median" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d,
        |    avg(value) AS m, count(*) AS c FROM events GROUP BY 1, 2),
        |pv AS (SELECT user_id, m::DOUBLE AS v, sum(c::DOUBLE) AS w
        |  FROM daily WHERE m IS NOT NULL GROUP BY 1, 2),
        |cw AS (SELECT user_id, v,
        |    sum(w) OVER (PARTITION BY user_id ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cwv,
        |    sum(w) OVER (PARTITION BY user_id) AS tw
        |  FROM pv)
        |SELECT user_id,
        |  round(min(CASE WHEN cwv * 2 >= tw THEN v END), 6) AS weighted_median,
        |  round(max(tw), 6) AS total_w
        |FROM cw GROUP BY 1 ORDER BY 1""".stripMargin,

    // G = (2*sum(i*x) - (n+1)*sum(x)) / (n*sum(x)), i = ascending rank
    "q150_gini" ->
      """WITH s AS (SELECT user_id, value::DOUBLE AS v FROM events
        |  WHERE value IS NOT NULL AND value >= 0),
        |r AS (SELECT user_id, v,
        |    (row_number() OVER (PARTITION BY user_id ORDER BY v))::DOUBLE AS i
        |  FROM s),
        |g AS (SELECT user_id,
        |    (2.0 * sum(i * v) - (count(*) + 1) * sum(v)) / (count(*) * sum(v)) AS gg,
        |    count(*) AS n, sum(v) AS tot
        |  FROM r GROUP BY 1)
        |SELECT user_id, round(CASE WHEN tot > 0 THEN gg END, 6) AS gini, n
        |FROM g ORDER BY 1""".stripMargin,

    // S = sum of pairwise signs (exact integer); Z with the continuity
    // correction, no tie correction (pinned)
    "q151_mann_kendall" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS day,
        |    sum(value) AS v FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, epoch_us(day) AS t, v::DOUBLE AS y
        |  FROM daily WHERE v IS NOT NULL),
        |p AS (SELECT l.user_id, sign(r.y - l.y) AS sg
        |  FROM b l JOIN b r ON l.user_id = r.user_id AND r.t > l.t),
        |sa AS (SELECT user_id, sum(sg)::BIGINT AS s FROM p GROUP BY 1),
        |nn AS (SELECT user_id, count(*) AS n FROM b GROUP BY 1)
        |SELECT sa.user_id, sa.s,
        |  round(CASE WHEN nn.n >= 2 THEN (sa.s - sign(sa.s::DOUBLE))
        |    / sqrt(nn.n * (nn.n - 1) * (2 * nn.n + 5) / 18.0) END, 6) AS z,
        |  nn.n
        |FROM sa JOIN nn USING (user_id) ORDER BY 1""".stripMargin,

    // W1 on integer cents: sum |sr*nc - sc*nr| * gap_cents is EXACT integer
    // arithmetic; floats only in the single final division
    "q152_wasserstein" ->
      """WITH t AS (SELECT user_id,
        |    CAST(round(value::DOUBLE * 100) AS BIGINT) AS v,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS ir,
        |    CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS ic
        |  FROM events WHERE value IS NOT NULL),
        |pv AS (SELECT user_id, v, sum(ir)::BIGINT AS cr, sum(ic)::BIGINT AS cc
        |  FROM t GROUP BY 1, 2),
        |cum AS (SELECT user_id,
        |    (sum(cr) OVER (PARTITION BY user_id ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS sr,
        |    (sum(cc) OVER (PARTITION BY user_id ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS sc,
        |    (sum(cr) OVER (PARTITION BY user_id))::BIGINT AS nr,
        |    (sum(cc) OVER (PARTITION BY user_id))::BIGINT AS nc,
        |    lead(v) OVER (PARTITION BY user_id ORDER BY v) - v AS gap
        |  FROM pv)
        |SELECT user_id,
        |  round((sum(CASE WHEN gap IS NOT NULL
        |      THEN abs(sr * nc - sc * nr) * gap ELSE 0 END))::DOUBLE
        |    / (max(nr) * max(nc))::DOUBLE / 100, 6) AS w1,
        |  max(nr)::BIGINT AS n_ref, max(nc)::BIGINT AS n_cur
        |FROM cum WHERE nr > 0 AND nc > 0 GROUP BY 1 ORDER BY 1""".stripMargin,

    // average ranks (row_number averaged within the tied value group), then
    // Pearson over ranks in closed form
    "q153_spearman" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d,
        |    sum(value) AS x, count(*) AS y FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, x::DOUBLE AS x, y::DOUBLE AS y FROM daily
        |  WHERE x IS NOT NULL AND y IS NOT NULL),
        |r1 AS (SELECT *, (row_number() OVER (PARTITION BY user_id ORDER BY x))::DOUBLE AS rnx
        |  FROM b),
        |r2 AS (SELECT *, avg(rnx) OVER (PARTITION BY user_id, x) AS rxa FROM r1),
        |r3 AS (SELECT *, (row_number() OVER (PARTITION BY user_id ORDER BY y))::DOUBLE AS rny
        |  FROM r2),
        |r4 AS (SELECT *, avg(rny) OVER (PARTITION BY user_id, y) AS rya FROM r3),
        |g AS (SELECT user_id, count(*)::DOUBLE AS n,
        |    sum(rxa) AS sx, sum(rya) AS sy, sum(rxa*rxa) AS sxx,
        |    sum(rya*rya) AS syy, sum(rxa*rya) AS sxy
        |  FROM r4 GROUP BY 1)
        |SELECT user_id,
        |  round(CASE WHEN (n*sxx - sx*sx) * (n*syy - sy*sy) > 0
        |    THEN (n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)) END, 6)
        |    AS spearman_rho,
        |  n::BIGINT AS n
        |FROM g ORDER BY 1""".stripMargin,

    // MI/entropies from exact integer cell counts; DuckDB dayofweek = Spark
    // dayofweek - 1, so shift to match (Sun=1..Sat=7 in Spark)
    "q154_mutual_info" ->
      """WITH cells AS (SELECT event_type AS a, dayofweek(ts) + 1 AS b,
        |    count(*) AS c
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |ma AS (SELECT a, sum(c)::BIGINT AS ca FROM cells GROUP BY 1),
        |mb AS (SELECT b, sum(c)::BIGINT AS cb FROM cells GROUP BY 1),
        |tot AS (SELECT sum(c)::BIGINT AS n FROM cells),
        |mi AS (SELECT sum((c / n::DOUBLE) * ln(c * n::DOUBLE / (ca * cb))) AS mi,
        |    count(*) AS n_cells
        |  FROM cells JOIN ma USING (a) JOIN mb USING (b), tot),
        |ha AS (SELECT -sum((ca / n::DOUBLE) * ln(ca / n::DOUBLE)) AS h_a
        |  FROM ma, tot),
        |hb AS (SELECT -sum((cb / n::DOUBLE) * ln(cb / n::DOUBLE)) AS h_b
        |  FROM mb, tot)
        |SELECT round(mi.mi, 6) AS mi, round(ha.h_a, 6) AS h_a,
        |  round(hb.h_b, 6) AS h_b,
        |  round(CASE WHEN least(ha.h_a, hb.h_b) > 0
        |    THEN mi.mi / least(ha.h_a, hb.h_b) END, 6) AS mi_norm,
        |  mi.n_cells, tot.n
        |FROM mi, ha, hb, tot""".stripMargin,

    // q127's binary-exact decay-0.5 recursion, then one-step-ahead +/-3
    // sigma limits and breach flags
    "q155_control_chart" ->
      """WITH RECURSIVE daily AS (SELECT user_id, date_trunc('day', ts) AS day,
        |    sum(round(value * 100)::BIGINT) / 100.0 AS v
        |  FROM events GROUP BY 1,2),
        |r AS (SELECT user_id, floor(epoch(day))::BIGINT AS day_sec, v::DOUBLE AS y,
        |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM daily),
        |rec AS (
        |  SELECT user_id, rn, day_sec, y, 1.0::DOUBLE AS sw, 1.0::DOUBLE AS sw2,
        |    y AS swx, y*y AS swx2, 1 AS nobs
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT s.user_id, s.rn, s.day_sec, s.y,
        |    0.5*rec.sw + 1.0, 0.25*rec.sw2 + 1.0,
        |    0.5*rec.swx + s.y, 0.5*rec.swx2 + s.y*s.y, rec.nobs + 1
        |  FROM rec JOIN r s ON s.user_id = rec.user_id AND s.rn = rec.rn + 1),
        |st AS (SELECT user_id, rn, day_sec, y, swx / sw AS m,
        |    CASE WHEN nobs >= 2 AND sw*sw - sw2 > 0 THEN
        |      sqrt((sw*sw / (sw*sw - sw2)) * (swx2/sw - (swx/sw)*(swx/sw))) END AS sd
        |  FROM rec),
        |lg AS (SELECT user_id, day_sec, y,
        |    lag(m) OVER (PARTITION BY user_id ORDER BY rn) AS center,
        |    3.0 * lag(sd) OVER (PARTITION BY user_id ORDER BY rn) AS half
        |  FROM st)
        |SELECT user_id, day_sec, round(y, 6) AS v, round(center, 6) AS center,
        |  round(half, 6) AS half,
        |  coalesce(abs(y - center) > half, false) AS breach
        |FROM lg ORDER BY 1, 2""".stripMargin,

    // fixed confidence bins floor(p*10) clamped; Brier + base rate ride the
    // same pass
    "q156_ece" ->
      """WITH st AS (SELECT min(value) AS lo, max(value) AS hi FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |b AS (SELECT CASE WHEN st.hi = st.lo THEN 0.0
        |      ELSE (value - st.lo) / (st.hi - st.lo) END AS p,
        |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
        |  FROM events, st WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |bb AS (SELECT least(9, greatest(0, CAST(floor(p * 10) AS BIGINT))) AS bin,
        |    p, y FROM b),
        |per AS (SELECT bin, count(*) AS nb, avg(y) AS acc, avg(p) AS conf
        |  FROM bb GROUP BY 1),
        |tot AS (SELECT count(*) AS n, avg((p - y) * (p - y)) AS brier,
        |    avg(y) AS base_rate FROM bb)
        |SELECT round(sum((per.nb::DOUBLE / tot.n) * abs(per.acc - per.conf)), 6) AS ece,
        |  round(max(tot.brier), 6) AS brier,
        |  round(max(tot.base_rate), 6) AS base_rate, max(tot.n)::BIGINT AS n
        |FROM per, tot""".stripMargin,

    // bucket = floor((rn-1)*10/n), rank by (score desc, event_id)
    "q157_gain_table" ->
      """WITH b AS (SELECT value::DOUBLE AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y, event_id
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (ORDER BY s DESC, event_id) AS rn,
        |    count(*) OVER () AS n FROM b),
        |bk AS (SELECT CAST(floor((rn - 1) * 10 / n) AS BIGINT) AS bucket, y FROM r),
        |per AS (SELECT bucket, count(*) AS n, sum(y)::BIGINT AS positives
        |  FROM bk GROUP BY 1),
        |f AS (SELECT bucket, n, positives,
        |    (sum(positives) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum_positives,
        |    (sum(positives) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE
        |      / (sum(positives) OVER ())::DOUBLE AS cum_capture
        |  FROM per)
        |SELECT bucket, n, positives, cum_positives,
        |  round(cum_capture, 6) AS cum_capture
        |FROM f ORDER BY bucket""".stripMargin,

    // exact integer counts; lift's products go through doubles like the
    // operator (long*long overflows at corpus scale)
    "q158_assoc_rules" ->
      """WITH items AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d,
        |    event_type AS it FROM events WHERE event_type IS NOT NULL),
        |nb AS (SELECT count(*) AS n_baskets FROM
        |  (SELECT DISTINCT user_id, d FROM items)),
        |supp AS (SELECT it, count(*) AS c FROM items GROUP BY 1),
        |pairs AS (SELECT a.it AS item_a, b.it AS item_b, count(*) AS c_ab
        |  FROM items a JOIN items b
        |    ON a.user_id = b.user_id AND a.d = b.d AND a.it < b.it
        |  GROUP BY 1, 2)
        |SELECT p.item_a, p.item_b, sa.c AS c_a, sb.c AS c_b, p.c_ab,
        |  nb.n_baskets,
        |  round(p.c_ab::DOUBLE / nb.n_baskets, 6) AS support,
        |  round(p.c_ab::DOUBLE / sa.c, 6) AS conf_ab,
        |  round(p.c_ab::DOUBLE / sb.c, 6) AS conf_ba,
        |  round((nb.n_baskets::DOUBLE * p.c_ab) / (sa.c::DOUBLE * sb.c), 6) AS lift
        |FROM pairs p
        |JOIN supp sa ON sa.it = p.item_a
        |JOIN supp sb ON sb.it = p.item_b, nb
        |ORDER BY 1, 2""".stripMargin,

    // q101's tfidf replayed, ranked per doc on round(tfidf, 6) with term
    // tie-break, top 3
    "q159_keywords" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1,2),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT tf.doc_id, tf.term, tf.tf, dft.df,
        |    tf.tf * (ln((1 + n.n_docs)::DOUBLE / (1 + dft.df)) + 1) AS tfidf
        |  FROM tf JOIN dft USING (term), n),
        |rk AS (SELECT doc_id, term, tf, df, tfidf,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY round(tfidf, 6) DESC, term) AS rank
        |  FROM sc)
        |SELECT doc_id, term, tf, df, round(tfidf, 6) AS tfidf, rank
        |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // DCG/IDCG at k=10 with (score desc, event_id) and (rel desc, event_id)
    // ranks; idcg=0 -> null ndcg
    "q160_ndcg" ->
      """WITH b AS (SELECT user_id, event_id, value::DOUBLE AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS rel
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY user_id ORDER BY s DESC, event_id) AS rs,
        |    row_number() OVER (PARTITION BY user_id ORDER BY rel DESC, event_id) AS ri
        |  FROM b),
        |g AS (SELECT user_id,
        |    sum(CASE WHEN rs <= 10 THEN rel / log2(rs + 1) ELSE 0.0 END) AS dcg,
        |    sum(CASE WHEN ri <= 10 THEN rel / log2(ri + 1) ELSE 0.0 END) AS idcg,
        |    count(*) AS n
        |  FROM r GROUP BY 1)
        |SELECT user_id, round(dcg, 6) AS dcg, round(idcg, 6) AS idcg,
        |  round(CASE WHEN idcg > 0 THEN dcg / idcg END, 6) AS ndcg, n
        |FROM g ORDER BY 1""".stripMargin,

    // rr = 1/rank of the first relevant row, 0 when none; averaged
    "q161_mrr" ->
      """WITH b AS (SELECT user_id, event_id, value::DOUBLE AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS rel
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY user_id ORDER BY s DESC, event_id) AS rk
        |  FROM b),
        |f AS (SELECT user_id, min(CASE WHEN rel > 0 THEN rk END) AS first
        |  FROM r GROUP BY 1)
        |SELECT round(avg(coalesce(1.0 / first, 0.0)), 6) AS mrr,
        |  count(*) AS n_queries, count(first) AS n_hit
        |FROM f""".stripMargin,

    // pooled-variance z from exact integer counts
    "q162_proportion_z" ->
      """WITH b AS (SELECT event_type, ts,
        |    CASE WHEN value > 100.0 THEN 1 ELSE 0 END AS pos
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT event_type, sum(pos)::BIGINT AS sr, count(*) AS nr
        |  FROM b WHERE ts < TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1),
        |c AS (SELECT event_type, sum(pos)::BIGINT AS sc, count(*) AS nc
        |  FROM b WHERE ts >= TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1),
        |j AS (SELECT r.event_type, sr, nr, sc, nc,
        |    sr / nr AS pr, sc / nc AS pc,
        |    (sr + sc) / (nr + nc) AS pool
        |  FROM r JOIN c USING (event_type))
        |SELECT event_type, round(pr, 6) AS rate_ref, round(pc, 6) AS rate_cur,
        |  round(CASE WHEN pool > 0 AND pool < 1 THEN (pr - pc) /
        |    sqrt(pool * (1.0 - pool) * (1.0 / nr + 1.0 / nc)) END, 6) AS z,
        |  nr AS n_ref, nc AS n_cur
        |FROM j ORDER BY 1""".stripMargin,

    "q163_precision_recall" ->
      """WITH b AS (SELECT user_id, event_id, value::DOUBLE AS s,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY user_id ORDER BY s DESC, event_id) AS rk
        |  FROM b),
        |g AS (SELECT user_id,
        |    sum(CASE WHEN rk <= 10 THEN rel ELSE 0 END)::BIGINT AS hits,
        |    sum(rel)::BIGINT AS n_rel
        |  FROM r GROUP BY 1)
        |SELECT user_id, hits, n_rel,
        |  round(hits::DOUBLE / 10, 6) AS precision_k,
        |  round(CASE WHEN n_rel > 0 THEN hits::DOUBLE / n_rel END, 6) AS recall_k
        |FROM g ORDER BY 1""".stripMargin,

    // ref vocab = distinct types in the doc_id-median first half; OOV rate
    // counts second-half token OCCURRENCES of unseen types
    "q164_vocab_drift" ->
      """WITH m AS (SELECT quantile_cont(doc_id, 0.5) AS md FROM documents),
        |t AS (SELECT (doc_id <= m.md) AS is_ref,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents, m),
        |rv AS (SELECT DISTINCT term FROM t WHERE is_ref),
        |cur AS (SELECT CASE WHEN rv.term IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM t LEFT JOIN rv USING (term) WHERE NOT is_ref)
        |SELECT count(*) AS n_cur_tokens, sum(oov)::BIGINT AS n_oov_tokens,
        |  round(sum(oov)::DOUBLE / count(*), 6) AS oov_rate
        |FROM cur""".stripMargin,

    "q165_json_extract" ->
      """WITH j AS (SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events WHERE props IS NOT NULL)
        |SELECT event_type, count(*) AS n, sum(k)::BIGINT AS k_sum,
        |  round(avg(k), 6) AS k_avg, min(k) AS k_min, max(k) AS k_max
        |FROM j WHERE k IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,

    // (v_i + v_{i+1})/2 * dt_days via a lead window
    "q166_trapz" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS day,
        |    sum(value) AS v FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, epoch_us(day) AS t, v::DOUBLE AS v FROM daily
        |  WHERE v IS NOT NULL),
        |l AS (SELECT user_id, v,
        |    lead(v) OVER (PARTITION BY user_id ORDER BY t) AS nv,
        |    (lead(t) OVER (PARTITION BY user_id ORDER BY t) - t)::DOUBLE
        |      / 86400000000.0 AS dt
        |  FROM b)
        |SELECT user_id,
        |  round(sum(CASE WHEN nv IS NOT NULL THEN (v + nv) / 2 * dt END), 6)
        |    AS integral,
        |  count(*) AS n_points
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin,

    "q167_rolling_distinct" ->
      """SELECT user_id, event_id,
        |  count(DISTINCT event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |    ::INT AS distinct_types_7
        |FROM events WHERE event_type IS NOT NULL
        |ORDER BY user_id, event_id""".stripMargin,

    // lambda = 1/mean(gap_seconds); D from exact order statistics
    "q168_exp_fit" ->
      """WITH g AS (SELECT user_id,
        |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts)))::DOUBLE / 1000000.0 AS gap
        |  FROM events),
        |gg AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL AND gap > 0),
        |lm AS (SELECT user_id, 1.0 / avg(gap) AS lambda, count(*) AS n_gaps
        |  FROM gg GROUP BY 1),
        |r AS (SELECT gg.user_id, lm.lambda, lm.n_gaps, gg.gap,
        |    (row_number() OVER (PARTITION BY gg.user_id ORDER BY gg.gap))::DOUBLE AS i,
        |    1.0 - exp(-lm.lambda * gg.gap) AS f
        |  FROM gg JOIN lm USING (user_id))
        |SELECT user_id, round(max(lambda), 6) AS lambda,
        |  round(max(greatest(i / n_gaps - f, f - (i - 1) / n_gaps)), 6) AS ks_stat,
        |  max(n_gaps) AS n_gaps
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
