package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Pages
import graft.functions.Hier
import graft.operators.{Conformal, CrossVal, Dedup, Encoding, Ewma, Features, GapFill, Hist, Intervals, Metrics, Multimodal, Profile, Rollup, Sax, Scalers, Similarity, TextAnalysis}
import graft.EntryHelpers._

/** SparkEntry queries q169–q241 with their DuckDB oracle twins,
  * split from the former single-file map (round-4 maintainability item:
  * entries and oracles live side by side per file so a mispaired oracle
  * is caught by the duplicate/coverage checks in [[SparkEntry]]).
  */
private[graft] object EntriesQ169 extends EntryPart {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // Welch's unequal-variance t between the month halves per user, with
    // the Welch-Satterthwaite df — the MEAN-drift test beside q162's rates
    "q169_welch_t" -> ((s, dir) => {
      val split = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
      val e = ev(s, dir).filter(col("value").isNotNull)
      def stats(d: DataFrame, m: String, v: String, n: String) =
        d.groupBy(col("user_id")).agg(avg(col("value")).as(m),
          var_samp(col("value")).as(v), count(lit(1)).as(n))
      val j = stats(e.filter(col("ts") < split), "m1", "v1", "n1")
        .join(stats(e.filter(col("ts") >= split), "m2", "v2", "n2"), "user_id")
        .filter(col("n1") >= 2 && col("n2") >= 2)
      val se1 = col("v1") / col("n1"); val se2 = col("v2") / col("n2")
      j.withColumn("t", (col("m1") - col("m2")) / sqrt(se1 + se2))
        .withColumn("df", (se1 + se2) * (se1 + se2) /
          (se1 * se1 / (col("n1") - 1) + se2 * se2 / (col("n2") - 1)))
        .select(col("user_id"), r6(col("t")).as("t"), r6(col("df")).as("df"),
          col("n1"), col("n2"))
        .orderBy("user_id")
    }),

    // Ljung-Box portmanteau COMPOSED over q78's acf definition (lags 1..5):
    // Q = n(n+2) sum rho_k^2/(n-k) — "is there ANY autocorrelation left"
    "q170_ljung_box" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      val nPer = daily.groupBy("user_id").agg(count(lit(1)).as("n"))
      val rho = Features.acf(daily, Seq("user_id"), "d", "v",
        lags = Seq(1, 2, 3, 4, 5))
      rho.join(nPer, "user_id")
        .groupBy(col("user_id"), col("n"))
        .agg(sum(col("acf") * col("acf") / (col("n") - col("lag"))).as("_s"),
          count(col("acf")).as("n_lags"))
        .withColumn("q_stat", col("n") * (col("n") + 2) * col("_s"))
        .select(col("user_id"), r6(col("q_stat")).as("q_stat"), col("n"),
          col("n_lags"))
        .orderBy("user_id")
    }),

    // AR(2) fit per user on the centered daily series — phi2 IS the lag-2
    // partial autocorrelation; rmse is the one-step baseline error
    "q171_ar2" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
      graft.operators.Forecast.arFit2(daily, Seq("user_id"), "day", "v")
        .select(col("user_id"), r6(col("phi1")).as("phi1"),
          r6(col("phi2")).as("phi2"), r6(col("rmse")).as("rmse"),
          col("n_obs"))
        .orderBy("user_id")
    }),

    // seasonal Mann-Kendall (Hirsch & Slack) COMPOSED: the MK test runs
    // WITHIN each weekday season, S and Var pool across seasons — trend
    // detection that weekly cycles cannot fake
    "q172_seasonal_mk" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value")).as("v"))
        .withColumn("dow", dayofweek(col("day")))
      val mk = Features.mannKendall(daily, Seq("user_id", "dow"), "day", "v")
      mk.groupBy(col("user_id"))
        .agg(sum(col("s")).as("s_total"),
          sum(col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) / lit(18.0))
            .as("_var"),
          count(lit(1)).as("n_seasons"))
        .withColumn("z", when(col("_var") > 0,
          (col("s_total") - signum(col("s_total").cast("double"))) /
            sqrt(col("_var"))))
        .select(col("user_id"), col("s_total"), r6(col("z")).as("z"),
          col("n_seasons"))
        .orderBy("user_id")
    }),

    // rolling 14-day beta of daily volume on daily activity per user —
    // "units of value per extra event, lately"
    "q173_rolling_beta" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).cast("double").as("x"), sum(col("value")).as("y"))
      Features.rollingBeta(daily, Seq("user_id"), "day", "x", "y",
          winRows = 14)
        .select(col("user_id"), unix_timestamp(col("day")).as("day_sec"),
          r6(col("rolling_beta")).as("rolling_beta"))
        .orderBy("user_id", "day_sec")
    }),

    // first-order Markov transition matrix over each user's event-type
    // sequence, pooled corpus-wide: P(next | current) from exact counts —
    // the sequence-structure profile beside funnels and sessions
    "q174_transitions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pairs = ev(s, dir).filter(col("event_type").isNotNull)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      val fromTot = pairs.groupBy("from_type").agg(sum(col("n")).as("n_from"))
      pairs.join(broadcast(fromTot), "from_type")
        .withColumn("p", r6(col("n") / col("n_from")))
        .select(col("from_type"), col("next_type"), col("n"), col("n_from"),
          col("p"))
        .orderBy("from_type", "next_type")
    }),

    // pairwise correlation matrix of the five event types' daily totals —
    // which series co-move (q94's rolling pair generalized to the matrix)
    "q175_corr_matrix" -> ((s, dir) => {
      val daily = ev(s, dir).filter(col("event_type").isNotNull)
        .groupBy(date_trunc("day", col("ts")).as("d"), col("event_type"))
        .agg(sum(col("value")).as("v"))
      val a = daily.select(col("d"), col("event_type").as("type_a"),
        col("v").as("va"))
      val b = daily.select(col("d"), col("event_type").as("type_b"),
        col("v").as("vb"))
      a.join(b, Seq("d"))
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(r6(corr(col("va"), col("vb"))).as("corr"),
          count(lit(1)).as("n_days"))
        .orderBy("type_a", "type_b")
    }),

    // entropy rate of the q174 transition chain (joint-weighted conditional
    // entropy, nats): how predictable is the next event given the current —
    // 0 = deterministic sequences, ln(5) = uniform chaos
    "q176_seq_entropy" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pairs = ev(s, dir).filter(col("event_type").isNotNull)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("f"), col("next_type").as("t"))
        .agg(count(lit(1)).as("n"))
      val fromTot = pairs.groupBy("f").agg(sum(col("n")).as("nf"))
      val tot = pairs.agg(sum(col("n")).as("nt"))
      pairs.join(broadcast(fromTot), "f").join(broadcast(tot))
        .agg(sum((col("n") / col("nt")) *
          (-log(col("n") / col("nf")))).as("entropy_rate"),
          count(lit(1)).as("n_cells"), max(col("nt")).as("n_transitions"))
        .select(r6(col("entropy_rate")).as("entropy_rate"), col("n_cells"),
          col("n_transitions"))
    }),

    // Goh-Barabasi burstiness of inter-event gaps per user:
    // B = (sigma - mu)/(sigma + mu) in [-1, 1] — -1 periodic, 0 Poisson,
    // ->1 bursty; the single-number companion of q168's KS test
    "q177_burstiness" -> ((s, dir) => {
      val tUs = unix_micros(col("ts").cast("timestamp"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(tUs)
      val gaps = ev(s, dir)
        .withColumn("_gap", (tUs - lag(tUs, 1).over(w)).cast("double") / lit(1e6))
        .filter(col("_gap").isNotNull && col("_gap") > 0)
      gaps.groupBy(col("user_id"))
        .agg(avg(col("_gap")).as("_mu"), stddev_pop(col("_gap")).as("_sd"),
          count(lit(1)).as("n_gaps"))
        .withColumn("burstiness", when(col("_sd") + col("_mu") > 0,
          (col("_sd") - col("_mu")) / (col("_sd") + col("_mu"))))
        .select(col("user_id"), r6(col("burstiness")).as("burstiness"),
          r6(col("_mu")).as("mean_gap"), col("n_gaps"))
        .orderBy("user_id")
    }),

    // daily quantile fan per event_type (p10/p25/p50/p75/p90) — the
    // dashboard fan-chart read, exact percentiles per bucket
    "q178_fan_chart" -> ((s, dir) => {
      ev(s, dir).filter(col("value").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(r6(percentile(col("value"), lit(0.1))).as("p10"),
          r6(percentile(col("value"), lit(0.25))).as("p25"),
          r6(percentile(col("value"), lit(0.5))).as("p50"),
          r6(percentile(col("value"), lit(0.75))).as("p75"),
          r6(percentile(col("value"), lit(0.9))).as("p90"),
          count(lit(1)).as("n"))
        .orderBy("event_type", "d")
    }),

    // Mann-Whitney U between the month halves per user over average ranks
    // (no tie correction, pinned) — the NONPARAMETRIC mean-drift test
    // beside q169's Welch t
    "q179_mann_whitney" -> ((s, dir) => {
      val split = lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
      val e = ev(s, dir).filter(col("value").isNotNull)
        .withColumn("_g", when(col("ts") < split, 1L).otherwise(0L))
      val ranked = e
        .withColumn("_rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("value"))).cast("double"))
        .withColumn("_rk", avg(col("_rn")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id"), col("value"))))
      ranked.groupBy(col("user_id"))
        .agg(sum(when(col("_g") === 1, col("_rk"))).as("_r1"),
          sum(col("_g")).as("n1"),
          sum(lit(1L) - col("_g")).as("n2"))
        .withColumn("u", col("_r1") - col("n1") * (col("n1") + 1) / lit(2.0))
        .withColumn("z", when(col("n1") > 0 && col("n2") > 0,
          (col("u") - col("n1") * col("n2") / lit(2.0)) /
            sqrt(col("n1") * col("n2") * (col("n1") + col("n2") + 1) / lit(12.0))))
        .select(col("user_id"), r6(col("u")).as("u"), r6(col("z")).as("z"),
          col("n1"), col("n2"))
        .orderBy("user_id")
    }),

    // running-record tracking per user: how many times the daily total set
    // a new all-time high, and when the standing record was set
    "q180_records" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("d"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      daily
        .withColumn("_is_rec",
          when(col("v") >= max(col("v")).over(w), 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("_is_rec")).as("n_records"),
          max(when(col("_is_rec") === 1, col("d"))).as("last_record_day"),
          r6(max(col("v"))).as("record_value"),
          count(lit(1)).as("n_days"))
        .orderBy("user_id")
    }),

    // content novelty per document: tf-weighted mean IDF of its tokens
    // (sum(tfidf)/sum(tf) over the q101 frame) — high = niche content worth
    // keeping, low = boilerplate-adjacent
    "q181_idf_novelty" -> ((s, dir) => {
      TextAnalysis.tfidf(docs(s, dir), "doc_id", "text")
        .groupBy(col("id").as("doc_id"))
        .agg((sum(col("tfidf")) / sum(col("tf"))).as("_nov"),
          sum(col("tf")).as("n_tokens"), count(lit(1)).as("n_types"))
        .select(col("doc_id"), r6(col("_nov")).as("novelty"), col("n_tokens"),
          col("n_types"))
        .orderBy("doc_id")
    }),

    // hour-of-day load profile per event_type — the daily-cycle heatmap
    // behind capacity planning (q14's calendar features aggregated)
    "q182_hour_profile" -> ((s, dir) => {
      ev(s, dir).filter(col("value").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type"), hour(col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"), r6(avg(col("value"))).as("v_avg"))
        .orderBy("event_type", "hr")
    }),

    // changepoint LOCALIZATION composed over q87's shift scores: the single
    // most likely break day per user (rounded-score argmax, earliest tie)
    "q183_changepoint_loc" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      val scored = graft.operators.Anomaly.meanShiftScore(daily,
          Seq("user_id"), "d", "v", w = 5)
        .filter(col("shift_score").isNotNull)
        .withColumn("_r", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
            .orderBy(r6(col("shift_score")).desc, col("d"))))
      scored.filter(col("_r") === 1)
        .select(col("user_id"), unix_timestamp(col("d")).as("break_day_sec"),
          r6(col("shift_score")).as("shift_score"))
        .orderBy("user_id")
    }),

    // maximum drawdown of each user's daily series: the deepest drop from
    // a running peak — pure max/min/subtraction window algebra, no float
    // accumulation anywhere
    "q184_drawdown" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("d"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      daily
        .withColumn("_dd", max(col("v")).over(w) - col("v"))
        .groupBy(col("user_id"))
        .agg(r6(max(col("_dd"))).as("max_drawdown"),
          r6(max(col("v"))).as("peak"), count(lit(1)).as("n_days"))
        .orderBy("user_id")
    }),

    // the longest silence per user (max inter-event gap) and when it ended
    // — the availability/liveness read; again pure lag/max algebra
    "q185_max_silence" -> ((s, dir) => {
      val tUs = unix_micros(col("ts").cast("timestamp"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(tUs, col("event_id"))
      ev(s, dir)
        .withColumn("_gap", tUs - lag(tUs, 1).over(w))
        .filter(col("_gap").isNotNull)
        .groupBy(col("user_id"))
        .agg(max(col("_gap")).as("max_gap_us"), count(lit(1)).as("n_gaps"))
        .withColumn("max_gap_hours", r6(col("max_gap_us").cast("double") /
          lit(3600e6)))
        .select(col("user_id"), col("max_gap_us"), col("max_gap_hours"),
          col("n_gaps"))
        .orderBy("user_id")
    }),

    // per-source corpus governance: volume, size, language diversity — the
    // source-mix report every training-data pipeline publishes
    "q186_source_mix" -> ((s, dir) => {
      docs(s, dir).filter(col("source").isNotNull)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          r6(avg(col("n_chars"))).as("mean_chars"),
          count_distinct(col("lang")).as("n_langs"))
        .orderBy("source")
    }),

    // language-by-source chi-square independence from exact counts — is
    // the language mix uniform across sources, or do sources specialize
    "q187_lang_source_chi2" -> ((s, dir) => {
      val cells = docs(s, dir)
        .filter(col("source").isNotNull && col("lang").isNotNull)
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))
      val rowT = cells.groupBy("source").agg(sum(col("o")).as("nr"))
      val colT = cells.groupBy("lang").agg(sum(col("o")).as("nc"))
      val tot = cells.agg(sum(col("o")).as("n"))
      cells.join(broadcast(rowT), "source").join(broadcast(colT), "lang")
        .join(broadcast(tot))
        .withColumn("_e", col("nr").cast("double") * col("nc") / col("n"))
        .agg(r6(sum((col("o") - col("_e")) * (col("o") - col("_e")) /
          col("_e"))).as("chi2"),
          count(lit(1)).as("n_cells"), max(col("n")).as("n"))
    }),

    // exact-duplicate rate per source — which ingest feeds are dirty
    "q188_dup_rate" -> ((s, dir) => {
      docs(s, dir).filter(col("source").isNotNull)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(md5(col("text"))).as("n_distinct"))
        .withColumn("dup_rate", r6((col("n_docs") - col("n_distinct")) /
          col("n_docs")))
        .orderBy("source")
    }),

    // TPC-H Q5-shaped five-table chain: revenue by nation within one
    // region — dimension tables broadcast, only the two fact tables shuffle
    "q189_revenue_by_nation" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val nat = s.read.parquet(s"$dir/nation.parquet")
      val reg = s.read.parquet(s"$dir/region.parquet")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg.filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(r6(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),

    // order-priority mix by month — pure integer counts, the order-book
    // seasonality read
    "q190_priority_mix" -> ((s, dir) => {
      val ord = s.read.parquet(s"$dir/orders.parquet")
      ord.filter(col("o_orderpriority").isNotNull)
        .groupBy(date_trunc("month", col("o_orderdate")).as("mon"),
          col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          r6(avg(col("o_totalprice"))).as("avg_price"))
        .orderBy("mon", "o_orderpriority")
    }),

    // Exact heavy hitters via two-pass Misra–Gries (k=64 counters per
    // group, candidates re-counted exactly): the scale-right way to find
    // frequent items without shuffling the long tail. The item domain is
    // constructed skewed (70% of rows carry a unique tail item, 30%
    // concentrate on 3 hot items) so the MG eviction path is genuinely
    // exercised — the tail domain (~1400 distinct per group at sf0.01) is
    // 20× the counter budget. The threshold max(minCount, floor(N_g/k)+1)
    // makes the MG pass lossless, so the output equals the oracle's full
    // groupBy-count HAVING answer exactly.
    "q191_heavy_hitters" -> ((s, dir) => {
      val items = ev(s, dir).select(col("event_type"),
        when(pmod(col("event_id"), lit(10)) < 7,
          concat(lit("u"), col("event_id")))
          .otherwise(concat(lit("hot_"), pmod(col("event_id"), lit(3))))
          .as("item0"))
      graft.operators.HeavyHitters.frequentItems(
          items, Seq("event_type"), "item0", k = 64, minCount = 1L)
        .select(col("event_type"), col("item"), col("cnt"), col("n_group"),
          col("threshold").cast("long").as("threshold"))
        .orderBy("event_type", "item")
    }),

    // DDSketch relative-error quantile sketch (α=2%) on cents-quantized
    // event values: per-user sketches MERGED to event_type (tests full
    // mergeability), then p50/p95 bucket lookup. Output compares the
    // bucket INDEXES — integers, so the oracle twin (same log-bucket
    // formula, verified ulp-identical across engines for the whole
    // integer domain 1..10⁶) matches exactly.
    "q192_ddsketch" -> ((s, dir) => {
      val cents = ev(s, dir)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      val perUser = graft.operators.Sketch.build(
        cents, Seq("event_type", "user_id"), "cents", alpha = 0.02)
      val merged = graft.operators.Sketch.merge(perUser, Seq("event_type"))
      graft.operators.Sketch.quantiles(merged, Seq("event_type"),
          qs = Seq(0.5, 0.95), alpha = 0.02)
        .select(col("event_type"), col("q"), col("n"), col("bucket"))
        .orderBy("event_type", "q")
    }),

    // Spectral entropy of the Schuster periodogram (q129's spectrum):
    // how concentrated is the series' energy across candidate periods —
    // ≈0 for a pure seasonal signal, ≈1 for white noise. Dominant period
    // chosen on the 6-dp-rounded power with a smallest-period tie-break
    // (cross-engine-safe ranking).
    "q193_spectral_entropy" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      val per = Features.periodogram(daily, Seq("user_id"), "d", "v",
        periods = Seq(2, 3, 7, 14))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      val p = per
        .withColumn("p_share", col("power") / sum(col("power")).over(w))
        .withColumn("dom_rn", row_number().over(
          w.orderBy(r6(col("power")).desc, col("period").asc)))
      p.groupBy(col("user_id"))
        .agg(
          r6(-sum(when(col("p_share") > 0,
            col("p_share") * log(col("p_share"))).otherwise(lit(0.0))) /
            log(count(lit(1)).cast("double"))).as("spectral_entropy"),
          max(when(col("dom_rn") === 1, col("period"))).as("dominant_period"))
        .orderBy("user_id")
    }),

    // Tracking-param scrub (Hier.stripTracking: utm_*/gclid/fbclid removal
    // with separator repair) COMPOSED with the q91 canonicalizer — the full
    // normalize-before-dedup chain of a crawl pipeline, mapping every
    // tracking-decorated variant of a page to one dedup key. URLs are
    // constructed deterministically from doc_id in BOTH engines; the
    // oracle replays strip + canonicalize regex-for-regex.
    "q194_url_scrub" -> ((s, dir) => {
      val id = col("doc_id")
      val messy = concat(lit("https://Tr."), col("source"),
        lit(".Example.COM:443/p/"), id.cast("string"),
        lit("?utm_source=feed&b="), id.cast("string"), lit("&utm_campaign=x&a=1"),
        when(pmod(id, lit(7)) === 0, lit("#sec")).otherwise(lit("")))
      docs(s, dir)
        .select(id, Hier.stripTracking(messy).as("scrubbed"))
        .withColumn("canon", Hier.canonicalizeUrl(col("scrubbed")))
        .orderBy("doc_id")
    }),

    // LTTB chart downsampling (Steinarsson 2013) of each user's daily
    // integer-cents series to 20 points: shape-preserving companion to M4
    // (q115). Integer-valued x (day index) and y (cents) make every
    // triangle-area term float-exact, so the per-bucket argmax — the
    // whole algorithm — is engine-independent; the oracle replays the
    // sequential pick with a recursive CTE over the same list state.
    "q195_lttb" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"),
          (unix_timestamp(date_trunc("day", col("ts"))) / 86400L)
            .cast("long").as("d"))
        .agg(sum(floor(col("value") * 100 + 0.5)).cast("long").as("cents"))
      graft.operators.Lttb.downsample(daily, Seq("user_id"), "d", "cents",
          threshold = 20)
        .select(col("user_id"), col("x").as("d"), col("y").cast("long").as("cents"))
        .orderBy("user_id", "d")
    }),

    // Sketch-tier cascade: 1m DDSketch tier rows (fixed-size map column +
    // associative measures) PROMOTED to 1h — the q62/q03 consistency
    // contract for the sketch fallback path. Oracle computes the 1h grain
    // directly from raw: measures must re-aggregate exactly and the
    // promoted sketch must answer p50/p95 with the same bucket the direct
    // build would (all-integer output).
    "q196_sketch_promote" -> ((s, dir) => {
      import graft.operators.Sketch
      val cents = ev(s, dir)
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      val t1m = Sketch.tierSketch(cents, Seq("event_type"), "ts", "cents",
        bucketSeconds = 60L, alpha = 0.02)
      val t1h = Sketch.promoteSketch(t1m, Seq("event_type"), tierSeconds = 3600L)
      // both quantiles from ONE sort + ONE fold of the sketch map (the
      // separate per-q calls each re-sorted and re-scanned the map through
      // interpreted HOF lambdas — measured 2× the promote cost)
      val qq = Sketch.quantilesFromMap(col("dd_sketch"), Seq(0.5, 0.95))
      t1h.select(col("event_type"), col("bucket_start"), col("cnt"),
          col("sum_v").as("sum_cents"), col("min_v").as("min_cents"),
          col("max_v").as("max_cents"),
          qq.getField("bkt0").as("p50_b"),
          qq.getField("bkt1").as("p95_b"))
        .orderBy("event_type", "bucket_start")
    }),

    // Z-order (Morton) clustering key over (user_id, minute-of-day) — the
    // write-time layout primitive that gives parquet row groups bounded
    // min/max ranges on BOTH dimensions (functions.ZOrder scaladoc). Pure
    // 64-bit shift/or/mask arithmetic, replayed step-for-step by the
    // oracle — integer-exact across engines.
    "q197_zorder" -> ((s, dir) => {
      val base = ev(s, dir).select(col("event_id"),
        col("user_id").as("a"),
        floor(pmod(unix_timestamp(col("ts")), lit(86400L)) / lit(60L))
          .cast("long").as("b"))
      base
        .withColumn("zkey", graft.functions.ZOrder.interleave(col("a"), col("b")))
        .orderBy("event_id")
    }),

    // Sliding-window distinct from per-bucket HLL registers: trailing-3
    // 10-minute buckets per event_type (range frame — gaps contribute
    // nothing). The oracle replays registers + linear counting from first
    // principles (q76's machinery) over the same trailing range, plus the
    // exact per-bucket and windowed distinct counts.
    "q198_sliding_distinct" -> ((s, dir) => {
      val items = ev(s, dir).select(col("event_type"), col("ts"),
        concat(lit("u"), pmod(col("event_id"), lit(97))).as("item"))
      graft.functions.Hll.slidingDistinct(items, Seq("event_type"), "ts",
          "item", bucketSeconds = 600L, k = 3)
        .select(col("event_type"), col("bucket_start"), col("bucket_distinct"),
          r6(col("window_distinct_est")).as("window_distinct_est"))
        .orderBy("event_type", "bucket_start")
    }),

    // PageRank over a deterministic, non-regular link graph on the doc_id
    // domain: a cycle edge (i+1 mod n — a bijection for every n, so
    // indegree >= 1 everywhere and the oracle's inner-join recursion keeps
    // all nodes) plus a quadratic and a halving map that skew indegree
    // (ranks span ~0.2x..6x uniform). Outdegree is exactly 3 by
    // construction. Ranks reported n-normalized (uniform = 1.0) so the 6-dp
    // round keeps full precision at any sf.
    "q199_pagerank" -> ((s, dir) => {
      val (edges, n) = docEdges(s, dir)
      graft.operators.Graph.pageRank(edges, iterations = 10)
        .select(col("id"), r6(col("rank") * n).as("rank_norm"))
        .orderBy("id")
    }),

    // multi-source BFS crawl depth over the same deterministic link graph:
    // min link hops from seed docs 0..4, capped at 8 levels. Frontier-only
    // expansion (each level joins just the newly discovered nodes); the
    // oracle replays it with a deduplicating recursive CTE + min(hop).
    // All-integer output — no float rounding concerns.
    "q200_crawl_depth" -> ((s, dir) => {
      val (edges, _) = docEdges(s, dir)
      val seeds = docs(s, dir).filter(col("doc_id") < 5).select(col("doc_id").as("id"))
      graft.operators.Graph.hopDistance(edges, seeds, maxHops = 8)
        .orderBy("id")
    }),

    // per-node triangle count + local clustering coefficient on the
    // undirected simple projection of the link graph (compact-forward,
    // degree-ordered enumeration — Graph.triangles scaladoc). The oracle
    // counts each triangle once via the value-ordered x<y<z join and fans
    // it to its three vertices; counts are integer-exact, the coefficient
    // is one double division.
    "q201_triangles" -> ((s, dir) => {
      val (edges, _) = docEdges(s, dir)
      graft.operators.Graph.triangles(edges)
        .select(col("id"), col("degree"), col("tri_cnt"),
          r6(col("clustering_coeff")).as("clustering_coeff"))
        .orderBy("id")
    }),

    // transparent continuous-aggregate routing (plans.TierRoute): a 1m tier
    // is materialized once, a Route registered, and the HOURLY aggregate
    // below is phrased AGAINST THE RAW events table — the optimizer rule
    // rewrites it onto the tier (count->sum(cnt), sum->sum(sum),
    // avg->sum/sum, min/max of partials) and the require() proves the
    // rewrite actually fired (the optimized plan must scan the tier
    // parquet, not events). The oracle aggregates raw directly — parity IS
    // the routing contract.
    "q202_tier_route" -> ((s, dir) => {
      import graft.plans.TierRoute
      val tierPath = s"${System.getProperty("java.io.tmpdir")}/graft_route_tier_${Integer.toHexString(dir.hashCode)}"
      val raw = ev(s, dir)
      val u = unix_timestamp(col("ts"))
      raw.groupBy(col("user_id"), (u - pmod(u, lit(60L))).as("bucket_start"))
        .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
          min("value").as("min_value"), max("value").as("max_value"))
        .write.mode("overwrite").parquet(tierPath)
      TierRoute.install(s)
      TierRoute.register(TierRoute.Route(
        name = s"events_1m_$dir", raw = raw, tierSeconds = 60L,
        tier = () => s.read.parquet(tierPath),
        groupCols = Seq("user_id"), tsCol = "ts",
        measure = TierRoute.AttrMeasure("value"), measureNonNull = true))
      val cut = 1704240000L // 2024-01-03T00:00:00Z, hour-aligned
      val routed = raw
        .filter(u >= lit(cut))
        .groupBy(col("user_id"), (u - pmod(u, lit(3600L))).as("bucket_start"))
        .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
          avg("value").as("avg_value"), min("value").as("min_value"),
          max("value").as("max_value"))
        .select(col("user_id"), col("bucket_start"), col("cnt"),
          r6(col("sum_value")).as("sum_value"), r6(col("avg_value")).as("avg_value"),
          r6(col("min_value")).as("min_value"), r6(col("max_value")).as("max_value"))
        .orderBy("user_id", "bucket_start")
      val scanned = TierRoute.relationPaths(routed.queryExecution.optimizedPlan)
      require(scanned.exists(_.contains(tierPath)),
        s"tier route did not fire — scanned $scanned")
      routed
    }),

    // percentile routing: the tier additionally carries Gorilla point
    // blocks (BlockAgg point mode), and the raw-phrased HOURLY
    // percentile(value, .5/.95) is rewritten onto the block merge
    // (BlockAgg block mode -> struct fields) — the
    // optimizer meeting the engine's signature exact-percentile promotion.
    // Oracle: quantile_cont on raw at the same grain; parity is exact, 6-dp
    // rounded on both sides.
    "q203_route_pctl" -> ((s, dir) => {
      import graft.plans.TierRoute
      val tierPath = s"${System.getProperty("java.io.tmpdir")}/graft_route_blk_${Integer.toHexString(dir.hashCode)}"
      val raw = ev(s, dir)
      val u = unix_timestamp(col("ts"))
      raw.groupBy(col("user_id"), (u - pmod(u, lit(60L))).as("bucket_start"))
        .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
          min("value").as("min_value"), max("value").as("max_value"),
          graft.functions.codec.BlockAgg.points(u, col("value")).as("m"))
        .withColumn("block", col("m.block")).drop("m")
        .write.mode("overwrite").parquet(tierPath)
      TierRoute.install(s)
      TierRoute.register(TierRoute.Route(
        name = s"events_1m_blocks_$dir", raw = raw, tierSeconds = 60L,
        tier = () => s.read.parquet(tierPath),
        groupCols = Seq("user_id"), tsCol = "ts",
        measure = TierRoute.AttrMeasure("value"), measureNonNull = true,
        blockCol = Some("block")))
      val routed = raw
        .groupBy(col("user_id"), (u - pmod(u, lit(3600L))).as("bucket_start"))
        .agg(percentile(col("value"), lit(0.5)).as("p50_v"),
          percentile(col("value"), lit(0.95)).as("p95_v"),
          count(lit(1)).as("cnt"))
        .select(col("user_id"), col("bucket_start"),
          r6(col("p50_v")).as("p50_v"), r6(col("p95_v")).as("p95_v"), col("cnt"))
        .orderBy("user_id", "bucket_start")
      val scanned = TierRoute.relationPaths(routed.queryExecution.optimizedPlan)
      require(scanned.exists(_.contains(tierPath)),
        s"percentile tier route did not fire — scanned $scanned")
      routed
    }),

    // crawl-frontier prioritization: the canonical composition of link
    // analysis with the corpus quality pipeline — priority = n-normalized
    // PageRank x heuristic quality score (q40's formula). Null quality
    // (empty docs) propagates to null priority on both sides.
    "q204_crawl_priority" -> ((s, dir) => {
      val (edges, n) = docEdges(s, dir)
      val pr = graft.operators.Graph.pageRank(edges, iterations = 10)
        .select(col("id").as("doc_id"), (col("rank") * n).as("rank_norm"))
      val q = TextAnalysis.qualityScore(docs(s, dir), "text")
        .select(col("doc_id"), col("quality_score"))
      pr.join(q, "doc_id")
        .select(col("doc_id"), r6(col("rank_norm")).as("rank_norm"),
          r6(col("quality_score")).as("quality_score"),
          r6(col("rank_norm") * col("quality_score")).as("priority"))
        .orderBy("doc_id")
    }),

    // HITS hubs & authorities: un-normalized alternating power iteration is
    // integer-EXACT in doubles (all-ones start, integer sums throughout —
    // Graph.hits scaladoc), so Spark and the oracle recursion agree
    // bit-for-bit until the single final normalization division.
    "q205_hits" -> ((s, dir) => {
      val (edges, _) = docEdges(s, dir)
      // 6 iterations: the deepest whose score totals stay inside 2^53 at
      // sf0.1 (probed: sum_auth ~4.9e14 at T=6, ~5e16 at T=7)
      graft.operators.Graph.hits(edges, iterations = 6)
        .select(col("id"), r6(col("hub_norm")).as("hub_norm"),
          r6(col("auth_norm")).as("auth_norm"))
        .orderBy("id")
    }),

    // distinct-count routing: the tier carries per-bucket value SETS
    // (collect_set — the lang_set pattern at page scale), and the
    // raw-phrased hourly count(DISTINCT event_type) is rewritten onto the
    // exact set re-merge (size(array_distinct(flatten(collect_list(set))))).
    "q206_route_distinct" -> ((s, dir) => {
      import graft.plans.TierRoute
      val tierPath = s"${System.getProperty("java.io.tmpdir")}/graft_route_set_${Integer.toHexString(dir.hashCode)}"
      val raw = ev(s, dir)
      val u = unix_timestamp(col("ts"))
      raw.groupBy(col("user_id"), (u - pmod(u, lit(60L))).as("bucket_start"))
        .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
          min("value").as("min_value"), max("value").as("max_value"),
          collect_set(col("event_type")).as("type_set"))
        .write.mode("overwrite").parquet(tierPath)
      TierRoute.install(s)
      TierRoute.register(TierRoute.Route(
        name = s"events_1m_sets_$dir", raw = raw, tierSeconds = 60L,
        tier = () => s.read.parquet(tierPath),
        groupCols = Seq("user_id"), tsCol = "ts",
        measure = TierRoute.AttrMeasure("value"), measureNonNull = true,
        distinctCol = Some(("event_type", "type_set"))))
      val routed = raw
        .groupBy(col("user_id"), (u - pmod(u, lit(3600L))).as("bucket_start"))
        .agg(countDistinct(col("event_type")).as("n_types"),
          count(lit(1)).as("cnt"), sum("value").as("sum_value"))
        .select(col("user_id"), col("bucket_start"), col("n_types"), col("cnt"),
          r6(col("sum_value")).as("sum_value"))
        .orderBy("user_id", "bucket_start")
      val scanned = TierRoute.relationPaths(routed.queryExecution.optimizedPlan)
      require(scanned.exists(_.contains(tierPath)),
        s"distinct tier route did not fire — scanned $scanned")
      routed
    }),

    // week-over-week on the daily tier: calendar-exact via a self-join on
    // date - 7 (NOT lag(7) — a missing day would silently shift the
    // comparison), delta integer-exact on the count measure.
    "q207_wow" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      graft.operators.Features.periodOverPeriod(
          daily, Seq("event_type"), "day", "cnt", periodDays = 7)
        .select(col("event_type"), col("day").cast("string").as("day"),
          col("cnt"), col("prev_value").as("prev_cnt"), col("delta"),
          r6(col("ratio")).as("ratio"))
        .orderBy("event_type", "day")
    }),

    // inverted-index term statistics: df / cf / impact-ordered postings
    // head per term, min-df pruned. The argmax is packed into one max()
    // struct aggregate — no window, two map-side-combined shuffles total.
    "q208_postings" -> ((s, dir) => {
      graft.operators.Search.termStats(docs(s, dir), "doc_id", "text", minDf = 5L)
        .orderBy("term")
    }),

    // positional phrase search: postings equi-joined on (doc, pos+1) —
    // co-partitioned after one shuffle on the doc id.
    "q209_phrase" -> ((s, dir) => {
      graft.operators.Search.phraseSearch(docs(s, dir), "doc_id", "text",
          Seq("table", "hash"))
        .select(col("doc"), col("n_matches"), col("first_pos").cast("long").as("first_pos"))
        .orderBy("doc")
    }),

    // common-neighbors link prediction on the doc link graph: non-adjacent
    // pairs sharing >= 3 neighbors, neighborhood Jaccard as the score.
    // Counts integer-exact; the one division is 6-dp rounded both sides.
    "q210_common_neighbors" -> ((s, dir) => {
      val (edges, _) = docEdges(s, dir)
      graft.operators.Graph.commonNeighbors(edges, minCommon = 3L)
        .select(col("a"), col("b"), col("common"),
          r6(col("nbr_jaccard")).as("nbr_jaccard"))
        .orderBy("a", "b")
    }),

    // automatic seasonality detection: dominant ACF lag per event_type over
    // hourly counts (argmax on 6-dp-rounded acf, smaller lag wins ties —
    // the verify-skill cross-engine rank-cut rule).
    "q211_season_detect" -> ((s, dir) => {
      val hourly = ev(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg(count(lit(1)).cast("double").as("cnt"))
      graft.operators.Features.dominantPeriod(
          hourly, Seq("event_type"), "bucket", "cnt", lags = (1 to 36))
        .orderBy("event_type")
    }),

    // replayable bootstrap CI for the mean text length: 200 hash-seeded
    // resamples (m = n here; m-out-of-n is the scale knob), exact interior
    // means (int64 sums / one division), percentile CI over the replicate
    // means. Every draw is auditor-replayable from md5 — no RNG state.
    "q212_bootstrap_ci" -> ((s, dir) => {
      val d = docs(s, dir)
      val n = d.count() // bounded scalar: corpus row count
      val means = graft.operators.Sampling.bootstrapMeans(
        d, "doc_id", "n_chars", n = n, b = 200, m = n, seed = "bs1")
      // full-sample mean instead of avg-of-replicates: int64 sum / one
      // division stays bit-identical cross-engine; a double avg would
      // depend on summation order
      val meanFull = d.agg(
        r6(sum(col("n_chars")).cast("double") / n).as("mean_full"))
      means.agg(
        count(lit(1)).as("b"),
        r6(percentile(col("boot_mean"), lit(0.025))).as("ci_lo"),
        r6(percentile(col("boot_mean"), lit(0.975))).as("ci_hi"))
        .crossJoin(meanFull)
    }),

    // governed release of per-(lang, source) counts: k-anonymity
    // suppression (< 10 withheld) + hash-seeded bounded integer noise,
    // clamped at the floor — integer-exact, bit-replayable by the oracle.
    "q213_dp_release" -> ((s, dir) => {
      graft.operators.Governance.noisyCountRelease(
          docs(s, dir), Seq("lang", "source"),
          minGroupSize = 10L, noiseBound = 5L, seed = "dp1")
        .orderBy("lang", "source")
    }),

    // asymmetric shingle containment (quote/subset detection): ordered
    // pairs whose trigram-set overlap covers >= 8% of the FIRST doc's
    // shingles — the relation Jaccard misses when sizes differ. Trigrams,
    // not bigrams: this corpus's 31-word vocabulary makes bigram df huge
    // (~2 docs in 5 share any given bigram) and the shared-shingle join
    // quadratic — the q35 hot-shingle lesson applied at query-design time.
    "q214_containment" -> ((s, dir) => {
      graft.operators.Dedup.containmentPairs(docs(s, dir), "text", "doc_id",
          shingleN = 3, minContainment = 0.08)
        .select(col("id_a"), col("id_b"), col("inter"), col("n_a"),
          r6(col("containment")).as("containment"))
        .orderBy("id_a", "id_b")
    }),

    // bigram collocation lift p(ab)/(p(a)p(b)): exp(PMI) kept un-logged so
    // the score is three fixed-order IEEE divisions on exact counts —
    // bit-identical cross-engine, no transcendental.
    "q215_collocations" -> ((s, dir) => {
      graft.operators.TextAnalysis.collocations(docs(s, dir), "text",
          minPairCount = 20L)
        .orderBy("term_a", "term_b")
    }),

    // SCD type-2 from the event change log: runs of consecutive equal
    // event_type per user become validity intervals (half-open, null-open
    // tail), versioned in time order. Epoch seconds via truncation both
    // sides (floor(epoch) in the oracle — the recipe's sub-second rule).
    "q216_scd2" -> ((s, dir) => {
      graft.operators.Scd.scd2(ev(s, dir), Seq("user_id"), "ts",
          "event_type", "event_id")
        .select(col("user_id"), col("state"), col("version"),
          unix_timestamp(col("valid_from").cast("timestamp")).as("valid_from"),
          unix_timestamp(col("valid_to").cast("timestamp")).as("valid_to"),
          col("n_obs"))
        .orderBy("user_id", "version")
    }),

    // Benford first-digit audit of n_chars: digit from the decimal
    // rendering (no log10), expected shares are fixed 12-dp literals shared
    // with the oracle, chi-square terms on exact counts.
    "q217_benford" -> ((s, dir) => {
      graft.operators.Governance.benfordDigits(docs(s, dir), "n_chars")
        .orderBy("digit")
    }),

    // priority sampling (Duffield-Lund-Thorup): top-100 by w/u with
    // hash-replayable u — every priority two IEEE ops on exact integers,
    // so the cut is bit-deterministic; distributed TakeOrdered, no window.
    "q218_weighted_sample" -> ((s, dir) => {
      graft.operators.Sampling.prioritySample(docs(s, dir), "doc_id",
          "n_chars", k = 100, seed = "ps1")
        .orderBy("doc_id")
    }),

    // SAX motif classes: 5-day sign-pattern words (alphabet 2) over each
    // user's value series; identical words = a motif class. Class summary
    // is min/max member, never a collected list.
    "q219_sax_motifs" -> ((s, dir) => {
      graft.operators.Sax.motifs(ev(s, dir), "user_id", "ts", "value",
          frameSeconds = 432000L, alphabet = 2, minSize = 2L)
        .orderBy("sax_word")
    }),

    // tail attribution: which event_type owns the top-500 values — rank
    // cut (integer-exact membership), lift = tail share / overall share.
    "q220_tail_lift" -> ((s, dir) => {
      graft.operators.Profile.tailLift(ev(s, dir), "event_type", "value",
          "event_id", tailK = 500)
        .orderBy("event_type")
    }),

    // k-core peel on the doc link graph: 3 synchronous peel rounds at
    // k=4 — bounded-round semantics IS the oracle contract (the SQL twin
    // unrolls the same rounds); per round one degree count + two
    // endpoint semi-joins, all on the vertex id.
    "q221_kcore" -> ((s, dir) => {
      val (edges, _) = docEdges(s, dir)
      graft.operators.Graph.kCore(edges, k = 4L, rounds = 3)
        .orderBy("v")
    }),

    // frequent 3-step event paths per user stream: two window leads, one
    // count — discovers the funnels windowFunnel needs hand-specified.
    "q222_path_trigrams" -> ((s, dir) => {
      graft.operators.Sessions.pathNgrams(ev(s, dir), Seq("user_id"), "ts",
          "event_id", "event_type", n = 3, minCount = 5L)
        .orderBy("step_1", "step_2", "step_3")
    }),

    // first/last-touch attribution matrix for purchase conversions: both
    // attribution extremes from one window pass.
    "q223_attribution" -> ((s, dir) => {
      graft.operators.Sessions.touchAttribution(ev(s, dir), Seq("user_id"),
          "ts", "event_id", "event_type", targetState = "purchase")
        .orderBy("first_touch", "last_touch")
    }),

    // hour-of-day profile cosine between event types: integer dot/norms
    // on raw counts, one correctly-rounded sqrt pair at the end.
    "q224_profile_sim" -> ((s, dir) => {
      graft.operators.Profile.profileCosine(
          ev(s, dir).withColumn("hod", hour(col("ts"))), "event_type", "hod")
        .orderBy("seg_a", "seg_b")
    }),

    // coalesce per-user activity intervals [ts, ts + (event_id%7+1) min):
    // single window pass (running-max-end run detection), epoch-second
    // domain so the arithmetic is integer both sides.
    "q225_interval_coalesce" -> ((s, dir) => {
      val iv = ev(s, dir).select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts").cast("timestamp")).as("start_s"))
        .withColumn("end_s", col("start_s") + (pmod(col("event_id"), lit(7L)) + 1L) * 60L)
      graft.operators.Intervals.coalesceIntervals(iv, Seq("user_id"),
          "start_s", "end_s", "event_id")
        .orderBy("user_id", "span_seq")
    }),

    // Adamic-Adar link prediction: non-adjacent pairs scored by
    // Σ 1/ln(deg) over common neighbors — each term the exact integer
    // floor(1e12/ln(deg)+0.5) (ln is ulp-identical cross-engine on the
    // integer domain), so the pair score is an order-independent BIGINT sum.
    "q226_adamic_adar" -> ((s, dir) => {
      val (edges, _) = docEdges(s, dir)
      graft.operators.Graph.adamicAdar(edges, minCommon = 2L)
        .select(col("a"), col("b"), col("common"), col("aa_pico"),
          r6(col("aa_score")).as("aa_score"))
        .orderBy("a", "b")
    }),

    // personalized PageRank from seed set {doc_id < 5}: q199's power
    // iteration with restart mass concentrated on the seeds — the
    // "crawl more pages like these" scorer.
    "q227_ppr" -> ((s, dir) => {
      val (edges, _) = docEdges(s, dir)
      val seeds = docs(s, dir).select(col("doc_id")).filter(col("doc_id") < 5)
      graft.operators.Graph.personalizedPageRank(edges, seeds, iterations = 10)
        .select(col("id"), r6(col("ppr") * 100).as("ppr_pct"))
        .orderBy("id")
    }),

    // PPJoin-style prefix-filtered EXACT Jaccard join at τ=0.5 over the
    // whole corpus (no group restriction): candidates only from the
    // rarest-first shingle prefixes, then exact array_intersect verify.
    // The oracle computes the same pairs by the naive all-shared-shingle
    // join — exactness of the filter IS the contract.
    "q228_ppjoin" -> ((s, dir) => {
      graft.operators.Dedup.prefixJaccardJoin(docs(s, dir), "text", "doc_id",
          shingleN = 3, tau = 0.5)
        .select(col("id_a"), col("id_b"), col("inter"),
          r6(col("jaccard")).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // path-prefix tree rollup: pages + chars under every /source, /source/
    // lang, /source/lang/dNN prefix — one explode(literal seq) + one agg.
    "q229_path_tree" -> ((s, dir) => {
      val p = docs(s, dir).select(
        concat(lit("/"), col("source"), lit("/"), col("lang"), lit("/d"),
          pmod(col("doc_id"), lit(20L))).as("path"),
        col("n_chars"))
      graft.operators.PathTree.prefixRollup(p, "path", maxDepth = 3,
          weightCol = "n_chars")
        .orderBy("depth", "prefix")
    }),

    // Merkle-style snapshot diff: B = events minus id%97==13, value+1 where
    // id%101==7, plus re-keyed copies of id%103==11 — the engine finds the
    // exact deleted/changed/added set via bucket XOR digests + drill-down;
    // the oracle computes the same set by a direct full outer join.
    "q230_table_diff" -> ((s, dir) => {
      val a = ev(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), col("value"))
      val b = a.filter(pmod(col("event_id"), lit(97L)) =!= 13L)
        .withColumn("value",
          when(pmod(col("event_id"), lit(101L)) === 7L, col("value") + lit(1.0))
            .otherwise(col("value")))
        .unionByName(a.filter(pmod(col("event_id"), lit(103L)) === 11L)
          .withColumn("event_id", col("event_id") + lit(10000000L)))
      graft.operators.Reconcile.merkleDiff(a, b, "event_id",
          Seq("user_id", "event_type", "value"), buckets = 64)
        .withColumnRenamed("pk", "event_id")
        .orderBy("event_id", "status")
    }),

    // KMV bottom-k distinct sketch per source + a '_ALL_' row served by
    // MERGING the per-source sketches (bottom-k of a union == bottom-k of
    // unioned bottom-ks — the tier-promotion property, proven against the
    // oracle's direct global bottom-k). Estimator branches (exact under k,
    // (k−1)/U(k) at k) are both hash-replayable.
    "q231_kmv" -> ((s, dir) => {
      import graft.functions.{Hashing, Kmv}
      val k = 16
      val h = docs(s, dir).select(col("source"), Hashing.md5Long(col("text")).as("h"))
      val per = h.groupBy("source").agg(
        Kmv.kmvSketch(col("h"), k).as("sk"),
        count_distinct(col("h")).as("n_distinct"))
      val glob = per.agg(Kmv.kmvMerge(col("sk"), k).as("sk"))
        .withColumn("source", lit("_ALL_"))
        .crossJoin(h.agg(count_distinct(col("h")).as("n_distinct")))
      per.select(col("source"), col("n_distinct"), col("sk"))
        .unionByName(glob.select(col("source"), col("n_distinct"), col("sk")))
        .select(col("source"), Kmv.kmvN(col("sk")).cast("long").as("sketch_n"),
          col("n_distinct"), r6(Kmv.kmvEstimate(col("sk"), k)).as("est_distinct"))
        .orderBy("source")
    }),

    // deterministic synchronous label propagation (mode label, min tie-
    // break), 3 bounded rounds — the oracle unrolls the identical rounds.
    "q232_label_prop" -> ((s, dir) => {
      val (edges, _) = docEdges(s, dir)
      graft.operators.Graph.labelPropagation(edges, rounds = 3)
        .orderBy("id")
    }),

    // Theil-Sen robust activity trend per user over daily event counts:
    // every pairwise slope is one IEEE division of exact integers, the
    // median interpolates two of them — no float summation anywhere.
    "q233_theil_sen" -> ((s, dir) => {
      val daily = ev(s, dir).select(col("user_id"),
          floor(unix_timestamp(col("ts").cast("timestamp")) / 86400L).as("day"))
        .groupBy("user_id", "day").agg(count(lit(1)).as("cnt"))
      graft.operators.Robust.theilSenSlope(daily, Seq("user_id"), "day", "cnt")
        .select(col("user_id"), col("n_points"), r6(col("ts_slope")).as("ts_slope"))
        .orderBy("user_id")
    }),

    // Ed-Join prefix-filtered exact Levenshtein join over ASCII-normalized
    // 48-char prefixes (DuckDB levenshtein counts BYTES, Spark counts code
    // points — ASCII normalization makes them the same function). Corpus =
    // docs < 150 plus 1-substitution mutated copies (the q31 union
    // pattern), so true near pairs exist by construction at every sf; the
    // bound keeps the all-pairs oracle honest. NOTE the synthetic corpus
    // is gram-poor (rarest-gram df ≈ 90 at sf0.1 — measured), so prefix
    // filtering is data-defeated on FULL-corpus runs; on real web text the
    // Zipfian gram tail is what makes Ed-Join sub-quadratic.
    "q234_edit_join" -> ((s, dir) => {
      val base = docs(s, dir).filter(col("doc_id") < 150).select(col("doc_id"),
        substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 48).as("s"))
      val corpus = base.unionByName(base.select(
          (col("doc_id") + 1000000L).as("doc_id"),
          concat(substring(col("s"), 1, 5), lit("X"), substring(col("s"), 7, 42)).as("s")))
        .filter(length(col("s")) >= 40)
      graft.operators.Dedup.editDistanceJoin(corpus, "doc_id", "s", maxDist = 8, q = 3)
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
        .orderBy("id_a", "id_b")
    }),

    // KMV set algebra: audience overlap between event types on the
    // (user, day) activity grain — per-type sketches, pairwise merged
    // sketch (scalar merge), Jaccard/union/intersection estimates all
    // hash-replayable; exact intersection carried for reference.
    "q235_kmv_overlap" -> ((s, dir) => {
      import graft.functions.{Hashing, Kmv}
      val k = 64
      val h = ev(s, dir).select(col("event_type"),
          Hashing.md5Long(concat(col("user_id").cast("string"), lit(":"),
            floor(unix_timestamp(col("ts").cast("timestamp")) / 86400L)
              .cast("long").cast("string"))).as("h"))
        .distinct()
      val sk = h.groupBy("event_type").agg(
        Kmv.kmvSketch(col("h"), k).as("sk"), count_distinct(col("h")).as("nd"))
      val ex = h.toDF("type_a", "h").join(h.toDF("type_b", "h"), "h")
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b").agg(count(lit(1)).as("exact_inter"))
      sk.toDF("type_a", "sk_a", "nd_a")
        .crossJoin(sk.toDF("type_b", "sk_b", "nd_b"))
        .filter(col("type_a") < col("type_b"))
        .withColumn("mk", Kmv.kmvMerge2(col("sk_a"), col("sk_b"), k))
        .withColumn("inter_k", size(array_intersect(
          array_intersect(Kmv.kmvValues(col("mk")), Kmv.kmvValues(col("sk_a"))),
          Kmv.kmvValues(col("sk_b")))).cast("long"))
        .withColumn("m_n", Kmv.kmvN(col("mk")).cast("long"))
        .withColumn("union_est", Kmv.kmvEstimate(col("mk"), k))
        .withColumn("jaccard_est",
          col("inter_k").cast("double") / col("m_n").cast("double"))
        .join(ex, Seq("type_a", "type_b"), "left")
        .na.fill(0L, Seq("exact_inter"))
        .select(col("type_a"), col("type_b"), col("nd_a"), col("nd_b"),
          col("exact_inter"), col("m_n"), col("inter_k"),
          r6(col("jaccard_est")).as("jaccard_est"),
          r6(col("union_est")).as("union_est"),
          r6(col("jaccard_est") * col("union_est")).as("inter_est"))
        .orderBy("type_a", "type_b")
    }),

    // weekly growth accounting: every active user classed new/retained/
    // resurrected, churn attributed to the period a user went silent —
    // pure integer counts from one distinct pass + one per-user window.
    "q236_growth" -> ((s, dir) => {
      val weekly = ev(s, dir).select(col("user_id"),
        (floor(floor(unix_timestamp(col("ts").cast("timestamp")) / 86400L) / 7L))
          .cast("long").as("week"))
      graft.operators.Sessions.growthAccounting(weekly, "user_id", "week")
        .select(col("p").as("week"), col("status"), col("n"))
        .orderBy("week", "status")
    }),

    // ABC / Pareto classification of sources by corpus chars: integer
    // cumulative sums, one division per row, deterministic class cuts.
    "q237_abc" -> ((s, dir) => {
      graft.operators.Profile.abcClass(docs(s, dir), "source", "n_chars")
        .select(col("cat").as("source"), col("w_sum"),
          r6(col("cum_share")).as("cum_share"), col("abc_class"))
        .orderBy("source")
    }),

    // signup → first-purchase latency per user at exact microsecond
    // precision; never-converted users keep a null-latency row so the
    // conversion rate falls out of the same frame.
    "q238_conversion_latency" -> ((s, dir) => {
      graft.operators.Sessions.conversionLatency(ev(s, dir), Seq("user_id"),
          "ts", "event_type", fromState = "signup", toState = "purchase")
        .select(col("user_id"), col("from_us"), col("to_us"),
          r6(col("latency_s")).as("latency_s"))
        .orderBy("user_id")
    }),

    // reciprocal best match over embeddings: mutual top-1 cosine pairs —
    // the bitext/near-dup mining criterion that kills hub false positives.
    "q239_rbm" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Similarity.reciprocalBestMatch(emb, "vec_id", "embedding")
        .select(col("id_a"), col("id_b"), r6(col("sim")).as("sim"))
        .orderBy("id_a", "id_b")
    }),

    // largest-remainder crawl-budget apportionment across sources by
    // corpus chars — pure integer arithmetic, Σ alloc == budget exactly.
    "q240_crawl_budget" -> ((s, dir) => {
      graft.operators.Alloc.largestRemainder(docs(s, dir), "source", "n_chars",
          budget = 10000L)
        .orderBy("key")
    }),

    // rendezvous-hashing shard movement audit: assignment under 3 workers
    // vs 4 — every moved key lands on the NEW worker (minimal disruption,
    // visible in the from→to matrix).
    "q241_rendezvous" -> ((s, dir) => {
      val keys = docs(s, dir).select(col("doc_id"))
      val before = graft.operators.Alloc.rendezvousAssign(keys, "doc_id",
        Seq("w1", "w2", "w3"))
      val after = graft.operators.Alloc.rendezvousAssign(keys, "doc_id",
        Seq("w1", "w2", "w3", "w4"))
      before.toDF("key", "node_before").join(after.toDF("key", "node_after"), "key")
        .groupBy("node_before", "node_after").agg(count(lit(1)).as("n"))
        .orderBy("node_before", "node_after")
    }),
  )

  val oracles: Seq[(String, String)] = Seq(
    // sample variances, pooled-free SE, Welch-Satterthwaite df
    "q169_welch_t" ->
      """WITH r AS (SELECT user_id, avg(value) AS m1, var_samp(value) AS v1,
        |    count(*) AS n1 FROM events
        |  WHERE value IS NOT NULL AND ts < TIMESTAMP '2024-01-16 00:00:00'
        |  GROUP BY 1),
        |c AS (SELECT user_id, avg(value) AS m2, var_samp(value) AS v2,
        |    count(*) AS n2 FROM events
        |  WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-16 00:00:00'
        |  GROUP BY 1),
        |j AS (SELECT r.user_id, m1, m2, v1 / n1 AS s1, v2 / n2 AS s2, n1, n2
        |  FROM r JOIN c USING (user_id) WHERE n1 >= 2 AND n2 >= 2)
        |SELECT user_id, round((m1 - m2) / sqrt(s1 + s2), 6) AS t,
        |  round((s1 + s2) * (s1 + s2)
        |    / (s1 * s1 / (n1 - 1) + s2 * s2 / (n2 - 1)), 6) AS df,
        |  n1, n2
        |FROM j ORDER BY 1""".stripMargin,

    // q78's corr-based acf at lags 1..5, then the portmanteau sum
    "q170_ljung_box" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d, sum(value) AS v
        |  FROM events GROUP BY 1, 2),
        |nn AS (SELECT user_id, count(*) AS n FROM daily GROUP BY 1),
        |l AS (SELECT user_id, v,
        |    lag(v,1) OVER w AS l1, lag(v,2) OVER w AS l2, lag(v,3) OVER w AS l3,
        |    lag(v,4) OVER w AS l4, lag(v,5) OVER w AS l5
        |  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY d)),
        |a AS (SELECT user_id, corr(v, l1) AS a1, corr(v, l2) AS a2,
        |    corr(v, l3) AS a3, corr(v, l4) AS a4, corr(v, l5) AS a5
        |  FROM l GROUP BY 1),
        |st AS (SELECT user_id, lag, acf FROM (
        |  SELECT user_id, 1::BIGINT AS lag, a1 AS acf FROM a
        |  UNION ALL SELECT user_id, 2::BIGINT, a2 FROM a
        |  UNION ALL SELECT user_id, 3::BIGINT, a3 FROM a
        |  UNION ALL SELECT user_id, 4::BIGINT, a4 FROM a
        |  UNION ALL SELECT user_id, 5::BIGINT, a5 FROM a)),
        |g AS (SELECT st.user_id, nn.n,
        |    sum(acf * acf / (nn.n - lag)) AS s, count(acf) AS n_lags
        |  FROM st JOIN nn USING (user_id) GROUP BY 1, 2)
        |SELECT user_id, round(n * (n + 2) * s, 6) AS q_stat, n, n_lags
        |FROM g ORDER BY 1""".stripMargin,

    // centered conditional LS via Cramer's rule over five moment sums
    "q171_ar2" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d, sum(value) AS v
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT user_id, d,
        |    v - avg(v) OVER (PARTITION BY user_id) AS y
        |  FROM daily WHERE v IS NOT NULL),
        |l AS (SELECT user_id, y,
        |    lag(y, 1) OVER w AS x1, lag(y, 2) OVER w AS x2
        |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY d)),
        |ll AS (SELECT * FROM l WHERE x1 IS NOT NULL AND x2 IS NOT NULL),
        |f AS (SELECT user_id,
        |    sum(x1 * x1) AS s11, sum(x2 * x2) AS s22, sum(x1 * x2) AS s12,
        |    sum(y * x1) AS s01, sum(y * x2) AS s02, count(*) AS n_obs
        |  FROM ll GROUP BY 1),
        |ph AS (SELECT user_id, n_obs,
        |    CASE WHEN s11 * s22 - s12 * s12 > 0 THEN
        |      (s01 * s22 - s02 * s12) / (s11 * s22 - s12 * s12) END AS phi1,
        |    CASE WHEN s11 * s22 - s12 * s12 > 0 THEN
        |      (s11 * s02 - s12 * s01) / (s11 * s22 - s12 * s12) END AS phi2
        |  FROM f),
        |e AS (SELECT ll.user_id, ph.phi1, ph.phi2, ph.n_obs,
        |    ll.y - ph.phi1 * ll.x1 - ph.phi2 * ll.x2 AS r
        |  FROM ll JOIN ph USING (user_id))
        |SELECT user_id, round(max(phi1), 6) AS phi1, round(max(phi2), 6) AS phi2,
        |  round(sqrt(avg(r * r)), 6) AS rmse, max(n_obs) AS n_obs
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    // per-weekday sign pairs pooled: S = sum S_g, Var = sum n(n-1)(2n+5)/18
    "q172_seasonal_mk" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS day,
        |    sum(value) AS v FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, dayofweek(day) + 1 AS dow, epoch_us(day) AS t,
        |    v::DOUBLE AS y FROM daily WHERE v IS NOT NULL),
        |p AS (SELECT l.user_id, l.dow, sign(r.y - l.y) AS sg
        |  FROM b l JOIN b r ON l.user_id = r.user_id AND l.dow = r.dow
        |    AND r.t > l.t),
        |sg AS (SELECT user_id, dow, sum(sg)::BIGINT AS s FROM p GROUP BY 1, 2),
        |nn AS (SELECT user_id, dow, count(*) AS n FROM b GROUP BY 1, 2),
        |g AS (SELECT sg.user_id, sum(sg.s)::BIGINT AS s_total,
        |    sum(nn.n * (nn.n - 1) * (2 * nn.n + 5) / 18.0) AS var,
        |    count(*) AS n_seasons
        |  FROM sg JOIN nn USING (user_id, dow) GROUP BY 1)
        |SELECT user_id, s_total,
        |  round(CASE WHEN var > 0 THEN
        |    (s_total - sign(s_total::DOUBLE)) / sqrt(var) END, 6) AS z,
        |  n_seasons
        |FROM g ORDER BY 1""".stripMargin,

    // the q114 moment-sum shape with an arbitrary regressor
    "q173_rolling_beta" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS day,
        |    count(*)::DOUBLE AS x, sum(value) AS y FROM events GROUP BY 1, 2),
        |m AS (SELECT user_id, day, x, y::DOUBLE AS yy,
        |    count(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN 1 END) OVER w AS c,
        |    sum(x) OVER w AS sx, sum(y::DOUBLE) OVER w AS sy,
        |    sum(x * y::DOUBLE) OVER w AS sxy, sum(x * x) OVER w AS sxx
        |  FROM daily
        |  WINDOW w AS (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT user_id, floor(epoch(day))::BIGINT AS day_sec,
        |  round(CASE WHEN c = 14 AND 14.0 * sxx - sx * sx > 0 THEN
        |    (14.0 * sxy - sx * sy) / (14.0 * sxx - sx * sx) END, 6) AS rolling_beta
        |FROM m ORDER BY 1, 2""".stripMargin,

    "q174_transitions" ->
      """WITH s AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events WHERE event_type IS NOT NULL),
        |p AS (SELECT event_type AS from_type, next_type, count(*) AS n
        |  FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |f AS (SELECT from_type, sum(n)::BIGINT AS n_from FROM p GROUP BY 1)
        |SELECT p.from_type, p.next_type, p.n, f.n_from,
        |  round(p.n::DOUBLE / f.n_from, 6) AS p
        |FROM p JOIN f USING (from_type)
        |ORDER BY 1, 2""".stripMargin,

    "q175_corr_matrix" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS d, event_type,
        |    sum(value) AS v FROM events WHERE event_type IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  round(corr(a.v, b.v), 6) AS corr, count(*) AS n_days
        |FROM daily a JOIN daily b
        |  ON a.d = b.d AND a.event_type < b.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // H = sum (n/nt) * (-ln(n/nf)) over transition cells
    "q176_seq_entropy" ->
      """WITH s AS (SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events WHERE event_type IS NOT NULL),
        |p AS (SELECT event_type AS f, next_type AS t, count(*) AS n
        |  FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |ft AS (SELECT f, sum(n)::BIGINT AS nf FROM p GROUP BY 1),
        |tt AS (SELECT sum(n)::BIGINT AS nt FROM p)
        |SELECT round(sum((p.n::DOUBLE / tt.nt) * (-ln(p.n::DOUBLE / ft.nf))), 6)
        |    AS entropy_rate,
        |  count(*) AS n_cells, max(tt.nt) AS n_transitions
        |FROM p JOIN ft USING (f), tt""".stripMargin,

    // B = (sd_pop - mu)/(sd_pop + mu) over positive inter-event gaps
    "q177_burstiness" ->
      """WITH g AS (SELECT user_id,
        |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts)))::DOUBLE / 1000000.0 AS gap
        |  FROM events),
        |gg AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL AND gap > 0),
        |m AS (SELECT user_id, avg(gap) AS mu, stddev_pop(gap) AS sd,
        |    count(*) AS n_gaps FROM gg GROUP BY 1)
        |SELECT user_id,
        |  round(CASE WHEN sd + mu > 0 THEN (sd - mu) / (sd + mu) END, 6)
        |    AS burstiness,
        |  round(mu, 6) AS mean_gap, n_gaps
        |FROM m ORDER BY 1""".stripMargin,

    "q178_fan_chart" ->
      """SELECT event_type, date_trunc('day', ts) AS d,
        |  round(quantile_cont(value, 0.1), 6) AS p10,
        |  round(quantile_cont(value, 0.25), 6) AS p25,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.75), 6) AS p75,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  count(*) AS n
        |FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // average ranks over the pooled sample; U = R1 - n1(n1+1)/2
    "q179_mann_whitney" ->
      """WITH b AS (SELECT user_id, value::DOUBLE AS v,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS g
        |  FROM events WHERE value IS NOT NULL),
        |r1 AS (SELECT *, (row_number() OVER (PARTITION BY user_id ORDER BY v))::DOUBLE AS rn
        |  FROM b),
        |r2 AS (SELECT *, avg(rn) OVER (PARTITION BY user_id, v) AS rk FROM r1),
        |g AS (SELECT user_id, sum(CASE WHEN g = 1 THEN rk END) AS rr1,
        |    sum(g)::BIGINT AS n1, sum(1 - g)::BIGINT AS n2
        |  FROM r2 GROUP BY 1),
        |u AS (SELECT user_id, rr1 - n1 * (n1 + 1) / 2.0 AS u, n1, n2 FROM g)
        |SELECT user_id, round(u, 6) AS u,
        |  round(CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    (u - n1 * n2 / 2.0)
        |    / sqrt(n1 * n2 * (n1 + n2 + 1) / 12.0) END, 6) AS z,
        |  n1, n2
        |FROM u ORDER BY 1""".stripMargin,

    // record iff v >= running max (ties re-count, pinned)
    "q180_records" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d,
        |    sum(value) AS v FROM events GROUP BY 1, 2),
        |m AS (SELECT user_id, d, v,
        |    CASE WHEN v >= max(v) OVER (PARTITION BY user_id ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    THEN 1 ELSE 0 END AS is_rec
        |  FROM daily)
        |SELECT user_id, sum(is_rec)::BIGINT AS n_records,
        |  max(CASE WHEN is_rec = 1 THEN d END) AS last_record_day,
        |  round(max(v), 6) AS record_value, count(*) AS n_days
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    // q101's tfidf summed per doc over tf
    "q181_idf_novelty" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT tf.doc_id, tf.tf,
        |    tf.tf * (ln((1 + n.n_docs)::DOUBLE / (1 + dft.df)) + 1) AS tfidf
        |  FROM tf JOIN dft USING (term), n)
        |SELECT doc_id, round(sum(tfidf) / sum(tf), 6) AS novelty,
        |  sum(tf)::BIGINT AS n_tokens, count(*) AS n_types
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,

    "q182_hour_profile" ->
      """SELECT event_type, extract(hour FROM ts)::INT AS hr,
        |  count(*) AS n, round(avg(value), 6) AS v_avg
        |FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q87's scores, rounded-score argmax with earliest-day tie-break
    "q183_changepoint_loc" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d, sum(value) AS v
        |  FROM events GROUP BY 1,2),
        |s AS (SELECT user_id, d,
        |    count(v) OVER l AS cl, count(v) OVER r AS cr,
        |    avg(v) OVER l AS ml, avg(v) OVER r AS mr,
        |    var_samp(v) OVER l / 5 + var_samp(v) OVER r / 5 AS pooled
        |  FROM daily
        |  WINDOW l AS (PARTITION BY user_id ORDER BY d ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING),
        |         r AS (PARTITION BY user_id ORDER BY d ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING)),
        |sc AS (SELECT user_id, d,
        |    CASE WHEN cl = 5 AND cr = 5 AND pooled > 0
        |      THEN abs(mr - ml) / sqrt(pooled) END AS score
        |  FROM s),
        |rk AS (SELECT user_id, d, score,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY round(score, 6) DESC, d) AS r
        |  FROM sc WHERE score IS NOT NULL)
        |SELECT user_id, floor(epoch(d))::BIGINT AS break_day_sec,
        |  round(score, 6) AS shift_score
        |FROM rk WHERE r = 1 ORDER BY 1""".stripMargin,

    "q184_drawdown" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d,
        |    sum(value) AS v FROM events GROUP BY 1, 2),
        |m AS (SELECT user_id, v,
        |    max(v) OVER (PARTITION BY user_id ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - v AS dd
        |  FROM daily)
        |SELECT user_id, round(max(dd), 6) AS max_drawdown,
        |  round(max(v), 6) AS peak, count(*) AS n_days
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    "q185_max_silence" ->
      """WITH g AS (SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS gap
        |  FROM events)
        |SELECT user_id, max(gap)::BIGINT AS max_gap_us,
        |  round(max(gap)::DOUBLE / 3600000000.0, 6) AS max_gap_hours,
        |  count(gap) AS n_gaps
        |FROM g WHERE gap IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,

    "q186_source_mix" ->
      """SELECT source, count(*) AS n_docs,
        |  sum(n_chars)::BIGINT AS total_chars,
        |  round(avg(n_chars), 6) AS mean_chars,
        |  count(DISTINCT lang) AS n_langs
        |FROM documents WHERE source IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // expected = row_total * col_total / n over exact integer counts
    "q187_lang_source_chi2" ->
      """WITH cells AS (SELECT source, lang, count(*) AS o FROM documents
        |  WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2),
        |rt AS (SELECT source, sum(o)::BIGINT AS nr FROM cells GROUP BY 1),
        |ct AS (SELECT lang, sum(o)::BIGINT AS nc FROM cells GROUP BY 1),
        |tt AS (SELECT sum(o)::BIGINT AS n FROM cells),
        |e AS (SELECT cells.o, rt.nr::DOUBLE * ct.nc / tt.n AS ex
        |  FROM cells JOIN rt USING (source) JOIN ct USING (lang), tt)
        |SELECT round(sum((o - ex) * (o - ex) / ex), 6) AS chi2,
        |  count(*) AS n_cells, max(tt.n)::BIGINT AS n
        |FROM e, tt""".stripMargin,

    "q188_dup_rate" ->
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(text)) AS n_distinct,
        |  round((count(*) - count(DISTINCT md5(text)))::DOUBLE / count(*), 6)
        |    AS dup_rate
        |FROM documents WHERE source IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q189_revenue_by_nation" ->
      """SELECT n.n_name,
        |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 6) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q190_priority_mix" ->
      """SELECT date_trunc('month', o_orderdate) AS mon, o_orderpriority,
        |  count(*) AS n, round(avg(o_totalprice), 6) AS avg_price
        |FROM orders WHERE o_orderpriority IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // full count + HAVING over every item: what the engine's two-pass
    // Misra–Gries answers WITHOUT shuffling the tail — exact-equality twin
    "q191_heavy_hitters" ->
      """WITH items AS (
        |  SELECT event_type,
        |    CASE WHEN event_id % 10 < 7 THEN 'u' || event_id
        |         ELSE 'hot_' || (event_id % 3) END AS item
        |  FROM events),
        |g AS (SELECT event_type, count(*) AS n_group FROM items GROUP BY 1),
        |c AS (SELECT event_type, item, count(*)::BIGINT AS cnt
        |  FROM items GROUP BY 1, 2)
        |SELECT c.event_type, c.item, c.cnt, g.n_group::BIGINT AS n_group,
        |  greatest(1::BIGINT, CAST(floor(g.n_group / 64.0) AS BIGINT) + 1)
        |    AS threshold
        |FROM c JOIN g USING (event_type)
        |WHERE c.cnt >=
        |  greatest(1::BIGINT, CAST(floor(g.n_group / 64.0) AS BIGINT) + 1)
        |ORDER BY 1, 2""".stripMargin,

    // identical log-bucket formula on the integer cents domain (verified
    // ulp-identical JVM vs DuckDB for all n in [1,10^6], tools/lncheck);
    // rank convention floor(q*(n-1))+1, bucket indexes compared as ints
    "q192_ddsketch" ->
      """WITH c AS (SELECT event_type,
        |    CAST(floor(value*100 + 0.5) AS BIGINT) AS cents FROM events),
        |b AS (SELECT event_type,
        |    CASE WHEN cents <= 0 THEN -1
        |      ELSE CAST(ceil(ln(cents::DOUBLE) /
        |        ln((1.0+0.02)/(1.0-0.02))) AS BIGINT) END AS bucket
        |  FROM c),
        |g AS (SELECT event_type, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
        |w AS (SELECT event_type, bucket,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM g),
        |q AS (SELECT unnest([0.5::DOUBLE, 0.95::DOUBLE]) AS q),
        |r AS (SELECT w.event_type, q.q, w.n, w.bucket, w.cum,
        |    CAST(floor(q.q * (w.n - 1)) + 1 AS BIGINT) AS rnk
        |  FROM w CROSS JOIN q)
        |SELECT event_type, q, n::BIGINT AS n,
        |  min(CASE WHEN cum >= rnk THEN bucket END) AS bucket
        |FROM r GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin,

    // q129's spectrum + Shannon entropy of the normalized powers; dominant
    // period ranked on the 6-dp-quantized power (same arithmetic rounding
    // as the Spark side) with smallest-period tie-break
    "q193_spectral_entropy" ->
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
        |    sum(z.z * sin(z.t * (2.0 * pi() / p.period))) AS ss
        |  FROM z CROSS JOIN p GROUP BY 1, 2),
        |pw AS (SELECT user_id, period, sc*sc + ss*ss AS power FROM a),
        |t AS (SELECT user_id, period, power,
        |    power / sum(power) OVER (PARTITION BY user_id) AS p_share,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY floor(power*1e6 + 0.5) DESC, period ASC) AS dom_rn
        |  FROM pw)
        |SELECT user_id,
        |  round(-sum(CASE WHEN p_share > 0 THEN p_share * ln(p_share)
        |    ELSE 0 END) / ln(count(*)::DOUBLE), 6) AS spectral_entropy,
        |  max(CASE WHEN dom_rn = 1 THEN period END)::INT AS dominant_period
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    // strip replayed regex-for-regex (DuckDB needs the 'g' flag where Java
    // replaces all matches by default), then the q91 canonicalizer replay
    "q194_url_scrub" ->
      """WITH u0 AS (SELECT doc_id,
        |  'https://Tr.' || source || '.Example.COM:443/p/' || doc_id ||
        |  '?utm_source=feed&b=' || doc_id || '&utm_campaign=x&a=1' ||
        |  (CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END) AS url
        |  FROM documents),
        |st AS (SELECT doc_id, regexp_replace(regexp_replace(url,
        |  '(utm_[A-Za-z0-9_]+|gclid|fbclid|msclkid|mc_eid)=[^&#]*&?', '', 'g'),
        |  '[?&]+(#|$)', '\1') AS scrubbed FROM u0),
        |p AS (SELECT doc_id, scrubbed,
        |  lower(regexp_extract(scrubbed, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_extract(scrubbed, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth,
        |  regexp_extract(scrubbed, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
        |  regexp_extract(scrubbed, '\?([^#]*)', 1) AS query
        |  FROM st),
        |q AS (SELECT *, regexp_extract(auth, ':([0-9]+)$', 1) AS port,
        |  lower(regexp_replace(auth, ':[0-9]+$', '')) AS hostp,
        |  coalesce(array_to_string(list_sort(list_filter(string_split(query, '&'),
        |    x -> x <> '')), '&'), '') AS sq
        |  FROM p)
        |SELECT doc_id, scrubbed,
        |  CASE WHEN scheme = '' THEN NULL ELSE
        |    scheme || '://' || hostp
        |    || (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
        |             OR (scheme = 'https' AND port = '443') THEN ''
        |        ELSE ':' || port END)
        |    || (CASE WHEN path = '' THEN '/' ELSE path END)
        |    || (CASE WHEN sq = '' THEN '' ELSE '?' || sq END)
        |  END AS canon
        |FROM q ORDER BY doc_id""".stripMargin,

    // the sequential LTTB pick replayed with a recursive CTE: same integer
    // bucket boundaries (1-based list indexes = the engine's 0-based + 1),
    // same next-bucket centroid, same abs((px-ax)(y-py)-(px-x)(ay-py))
    // area in the same op order, first-max tie-break via list_position
    "q195_lttb" ->
      """WITH RECURSIVE
        |d AS (SELECT user_id,
        |    CAST(floor(epoch(date_trunc('day', ts))/86400) AS BIGINT) AS d,
        |    CAST(sum(floor(value*100 + 0.5)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT user_id, list(d ORDER BY d) AS xs,
        |    list(cents ORDER BY d) AS ys, count(*)::INT AS n
        |  FROM d GROUP BY 1),
        |base AS (SELECT user_id, xs, ys, n, 0 AS k, 1 AS prev,
        |    [1] AS sel FROM s WHERE n > 20),
        |rec AS (
        |  SELECT * FROM base
        |  UNION ALL
        |  SELECT user_id, xs, ys, n, k + 1,
        |    ls - 1 + list_position(areas, list_max(areas)),
        |    list_append(sel, ls - 1 + list_position(areas, list_max(areas)))
        |  FROM (
        |    SELECT user_id, xs, ys, n, k, sel, ls,
        |      list_transform(generate_series(ls, le),
        |        i -> abs((px - ax) * (CAST(ys[i] AS DOUBLE) - py)
        |               - (px - CAST(xs[i] AS DOUBLE)) * (ay - py))) AS areas
        |    FROM (
        |      SELECT user_id, xs, ys, n, k, prev, sel,
        |        2 + (k * (n-2)) // 18 AS ls,
        |        1 + ((k+1) * (n-2)) // 18 AS le,
        |        CASE WHEN k = 17 THEN CAST(xs[n] AS DOUBLE)
        |          ELSE CAST(list_sum(xs[(2 + ((k+1)*(n-2)) // 18) :
        |                                (1 + ((k+2)*(n-2)) // 18)]) AS DOUBLE)
        |            / (((k+2)*(n-2)) // 18 - ((k+1)*(n-2)) // 18) END AS ax,
        |        CASE WHEN k = 17 THEN CAST(ys[n] AS DOUBLE)
        |          ELSE CAST(list_sum(ys[(2 + ((k+1)*(n-2)) // 18) :
        |                                (1 + ((k+2)*(n-2)) // 18)]) AS DOUBLE)
        |            / (((k+2)*(n-2)) // 18 - ((k+1)*(n-2)) // 18) END AS ay,
        |        CAST(xs[prev] AS DOUBLE) AS px,
        |        CAST(ys[prev] AS DOUBLE) AS py
        |      FROM rec WHERE k < 18)
        |  )),
        |fin AS (SELECT user_id, xs, ys, list_append(sel, n) AS sel
        |  FROM rec WHERE k = 18),
        |big AS (SELECT user_id, unnest(list_transform(sel, i ->
        |    {'d': xs[i], 'cents': ys[i]}), recursive := true) FROM fin),
        |small AS (SELECT user_id, d, cents FROM d
        |  WHERE user_id IN (SELECT user_id FROM s WHERE n <= 20))
        |SELECT user_id, d, cents FROM big
        |UNION ALL SELECT user_id, d, cents FROM small
        |ORDER BY user_id, d""".stripMargin,

    // the 1h grain computed directly from raw: associative measures +
    // the same log-bucket histogram and rank lookup the promoted sketch
    // must reproduce (epoch floored, not rounded — DuckDB epoch() rounds)
    "q196_sketch_promote" ->
      """WITH c AS (SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      - CAST(floor(epoch(ts)) AS BIGINT) % 3600 AS bucket_start,
        |    CAST(floor(value*100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |b AS (SELECT event_type, bucket_start, cents,
        |    CASE WHEN cents <= 0 THEN -1
        |      ELSE CAST(ceil(ln(cents::DOUBLE) /
        |        ln((1.0+0.02)/(1.0-0.02))) AS BIGINT) END AS dd
        |  FROM c),
        |g AS (SELECT event_type, bucket_start, dd, count(*) AS cnt
        |  FROM b GROUP BY 1, 2, 3),
        |w AS (SELECT event_type, bucket_start, dd,
        |    sum(cnt) OVER (PARTITION BY event_type, bucket_start ORDER BY dd) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type, bucket_start) AS n
        |  FROM g),
        |p AS (SELECT event_type, bucket_start,
        |    min(CASE WHEN cum >= CAST(floor(0.5*(n-1))+1 AS BIGINT) THEN dd END) AS p50_b,
        |    min(CASE WHEN cum >= CAST(floor(0.95*(n-1))+1 AS BIGINT) THEN dd END) AS p95_b
        |  FROM w GROUP BY 1, 2),
        |m AS (SELECT event_type, bucket_start, count(*) AS cnt,
        |    sum(cents)::BIGINT AS sum_cents, min(cents) AS min_cents,
        |    max(cents) AS max_cents
        |  FROM c GROUP BY 1, 2)
        |SELECT m.event_type, m.bucket_start, m.cnt, m.sum_cents,
        |  m.min_cents, m.max_cents, p.p50_b, p.p95_b
        |FROM m JOIN p USING (event_type, bucket_start)
        |ORDER BY 1, 2""".stripMargin,

    // the identical five magic-mask spreading steps per operand (lateral
    // column aliases), then even|odd<<1 — all 64-bit integer ops
    "q197_zorder" ->
      """WITH base AS (SELECT event_id, user_id::BIGINT AS a,
        |    ((CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 60) AS b
        |  FROM events),
        |z AS (SELECT event_id, a, b,
        |  (a & 4294967295) AS a0,
        |  ((a0 | (a0 << 16)) & 281470681808895) AS a1,
        |  ((a1 | (a1 << 8)) & 71777214294589695) AS a2,
        |  ((a2 | (a2 << 4)) & 1085102592571150095) AS a3,
        |  ((a3 | (a3 << 2)) & 3689348814741910323) AS a4,
        |  ((a4 | (a4 << 1)) & 6148914691236517205) AS a5,
        |  (b & 4294967295) AS b0,
        |  ((b0 | (b0 << 16)) & 281470681808895) AS b1,
        |  ((b1 | (b1 << 8)) & 71777214294589695) AS b2,
        |  ((b2 | (b2 << 4)) & 1085102592571150095) AS b3,
        |  ((b3 | (b3 << 2)) & 3689348814741910323) AS b4,
        |  ((b4 | (b4 << 1)) & 6148914691236517205) AS b5
        |  FROM base)
        |SELECT event_id, a, b, (a5 | (b5 << 1)) AS zkey
        |FROM z ORDER BY event_id""".stripMargin,

    // q76's register replay over the trailing range: existing buckets
    // range-join the raw items of their window, then registers + linear
    // counting from first principles; exact distinct rides along
    "q198_sliding_distinct" ->
      s"""WITH raw AS (SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      - CAST(floor(epoch(ts)) AS BIGINT) % 600 AS b,
        |    'u' || (event_id % 97) AS item FROM events),
        |buckets AS (SELECT event_type, b,
        |    count(DISTINCT item) AS bucket_distinct
        |  FROM raw GROUP BY 1, 2),
        |win AS (SELECT bk.event_type, bk.b, r.item
        |  FROM buckets bk JOIN raw r ON r.event_type = bk.event_type
        |    AND r.b BETWEEN bk.b - 1200 AND bk.b),
        |items AS (SELECT DISTINCT event_type, b, item FROM win),
        |h AS (SELECT event_type, b,
        |    ('0x' || substr(md5(item),1,16))::UBIGINT AS u FROM items),
        |bb AS (SELECT event_type, b, (u // 4503599627370496)::BIGINT AS idx,
        |    (u % 4503599627370496)::BIGINT AS r FROM h),
        |regs AS (SELECT event_type, b, idx,
        |    max(CASE WHEN r = 0 THEN 53 ELSE 53 - (CASE $hllBitlenCase END) END) AS reg
        |  FROM bb GROUP BY 1, 2, 3),
        |agg AS (SELECT event_type, b, sum(power(2.0, -reg)) AS sum_present,
        |    count(*) AS n_present FROM regs GROUP BY 1, 2),
        |est AS (SELECT event_type, b, (4096 - n_present) AS zeros,
        |    (0.7213/(1.0+1.079/4096)) * 4096.0 * 4096.0
        |      / (sum_present + (4096 - n_present)) AS e FROM agg),
        |fin AS (SELECT event_type, b,
        |    CASE WHEN e <= 2.5*4096 AND zeros > 0
        |         THEN 4096.0 * ln(4096.0/zeros) ELSE e END AS hll FROM est)
        |SELECT bk.event_type, bk.b AS bucket_start, bk.bucket_distinct,
        |  round(fin.hll, 6) AS window_distinct_est
        |FROM buckets bk JOIN fin ON fin.event_type = bk.event_type AND fin.b = bk.b
        |ORDER BY 1, 2""".stripMargin,

    // power iteration replayed as a recursive CTE: the working table holds
    // iteration it's full rank vector; the recursive term is one join +
    // group-by (aggregation in the recursive term probed OK in DuckDB).
    // Outdegree is exactly 3 by construction, so rank/3.0 is exact.
    "q199_pagerank" ->
      """WITH RECURSIVE e AS (
        |  SELECT doc_id AS src, (doc_id + 1) % (SELECT count(*) FROM documents) AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id*doc_id + 3) % (SELECT count(*) FROM documents) FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id // 2) FROM documents),
        |r AS (
        |  SELECT doc_id AS id, 1.0::DOUBLE/(SELECT count(*) FROM documents) AS pr, 0 AS it FROM documents
        |  UNION ALL
        |  SELECT e.dst, 0.15::DOUBLE/(SELECT count(*) FROM documents) + 0.85*sum(r.pr/3.0), r.it+1
        |  FROM r JOIN e ON e.src = r.id WHERE r.it < 10 GROUP BY e.dst, r.it+1)
        |SELECT id, round(pr * (SELECT count(*) FROM documents), 6) AS rank_norm
        |FROM r WHERE it = 10 ORDER BY id""".stripMargin,

    // deduplicating (UNION, not UNION ALL) recursion keeps the working
    // table bounded by nodes x hops; min(hop) collapses revisits to the
    // BFS distance
    "q200_crawl_depth" ->
      """WITH RECURSIVE e AS (
        |  SELECT doc_id AS src, (doc_id + 1) % (SELECT count(*) FROM documents) AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id*doc_id + 3) % (SELECT count(*) FROM documents) FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id // 2) FROM documents),
        |d AS (
        |  SELECT doc_id AS id, 0 AS hop FROM documents WHERE doc_id < 5
        |  UNION
        |  SELECT e.dst, d.hop + 1 FROM d JOIN e ON e.src = d.id WHERE d.hop < 8)
        |SELECT id, min(hop) AS hop FROM d GROUP BY id ORDER BY id""".stripMargin,

    // each triangle generated once as x<y<z, then fanned to its three
    // vertices; explicit ::DOUBLE so the coefficient never runs through
    // DECIMAL division
    "q201_triangles" ->
      """WITH raw AS (
        |  SELECT doc_id AS s, (doc_id + 1) % (SELECT count(*) FROM documents) AS t FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id*doc_id + 3) % (SELECT count(*) FROM documents) FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id // 2) FROM documents),
        |u AS (SELECT DISTINCT least(s, t) AS x, greatest(s, t) AS y FROM raw WHERE s <> t),
        |deg AS (SELECT id, count(*) AS degree FROM
        |  (SELECT x AS id FROM u UNION ALL SELECT y FROM u) GROUP BY id),
        |tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
        |  FROM u e1 JOIN u e2 ON e2.x = e1.x AND e2.y > e1.y
        |  JOIN u e3 ON e3.x = e1.y AND e3.y = e2.y),
        |pern AS (SELECT id, count(*) AS tri_cnt FROM
        |  (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
        |   UNION ALL SELECT c FROM tri) GROUP BY id)
        |SELECT deg.id, deg.degree, coalesce(pern.tri_cnt, 0)::BIGINT AS tri_cnt,
        |  round(CASE WHEN deg.degree < 2 THEN 0.0::DOUBLE
        |    ELSE coalesce(pern.tri_cnt, 0)::DOUBLE * 2.0
        |         / (deg.degree * (deg.degree - 1)) END, 6) AS clustering_coeff
        |FROM deg LEFT JOIN pern ON pern.id = deg.id ORDER BY 1""".stripMargin,

    // the routing contract: the tier-served result must equal the raw
    // aggregate — so the oracle IS the raw aggregate
    "q202_tier_route" ->
      """WITH b AS (SELECT user_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS u FROM events
        |  WHERE CAST(floor(epoch(ts)) AS BIGINT) >= 1704240000)
        |SELECT user_id, (u - u % 3600) AS bucket_start, count(*) AS cnt,
        |  round(sum(value), 6) AS sum_value, round(avg(value), 6) AS avg_value,
        |  round(min(value), 6) AS min_value, round(max(value), 6) AS max_value
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // quantile_cont == Spark percentile == the engine's block percentile
    // (linear interpolation; exactness through the block path is q62's
    // contract) — so the raw-grain quantile IS the routed-percentile oracle
    "q203_route_pctl" ->
      """WITH b AS (SELECT user_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS u FROM events)
        |SELECT user_id, (u - u % 3600) AS bucket_start,
        |  round(quantile_cont(value, 0.5), 6) AS p50_v,
        |  round(quantile_cont(value, 0.95), 6) AS p95_v,
        |  count(*) AS cnt
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q199's power-iteration CTE x q40's quality formula
    "q204_crawl_priority" ->
      """WITH RECURSIVE e AS (
        |  SELECT doc_id AS src, (doc_id + 1) % (SELECT count(*) FROM documents) AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id*doc_id + 3) % (SELECT count(*) FROM documents) FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id // 2) FROM documents),
        |r AS (
        |  SELECT doc_id AS id, 1.0::DOUBLE/(SELECT count(*) FROM documents) AS pr, 0 AS it FROM documents
        |  UNION ALL
        |  SELECT e.dst, 0.15::DOUBLE/(SELECT count(*) FROM documents) + 0.85*sum(r.pr/3.0), r.it+1
        |  FROM r JOIN e ON e.src = r.id WHERE r.it < 10 GROUP BY e.dst, r.it+1),
        |pr AS (SELECT id, pr * (SELECT count(*) FROM documents) AS rank_norm
        |  FROM r WHERE it = 10),
        |w AS (SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |f AS (SELECT doc_id,
        |    len(ws) AS n_tokens,
        |    CASE WHEN len(text) > 0 THEN (len(text) - len(regexp_replace(text, '[^\p{L}\p{N}\s]', '', 'g')))::DOUBLE / len(text) END AS punct_ratio,
        |    CASE WHEN len(ws) > 0 THEN len(list_distinct(ws))::DOUBLE / len(ws) END AS type_token_ratio
        |  FROM w),
        |q AS (SELECT doc_id,
        |    type_token_ratio * (1 - coalesce(punct_ratio, 0)) * least(n_tokens / 20.0, 1.0) AS quality_score
        |  FROM f)
        |SELECT q.doc_id, round(pr.rank_norm, 6) AS rank_norm,
        |  round(q.quality_score, 6) AS quality_score,
        |  round(pr.rank_norm * q.quality_score, 6) AS priority
        |FROM pr JOIN q ON q.doc_id = pr.id ORDER BY q.doc_id""".stripMargin,

    // un-normalized alternating recursion (integer-exact), one reference to
    // the recursive CTE per term; final authorities = A^T h_10; normalized
    // to mean 1.0 at the very end
    "q205_hits" ->
      """WITH RECURSIVE e AS (
        |  SELECT doc_id AS src, (doc_id + 1) % (SELECT count(*) FROM documents) AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id*doc_id + 3) % (SELECT count(*) FROM documents) FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id // 2) FROM documents),
        |r AS (
        |  SELECT doc_id AS id, 1.0::DOUBLE AS h, 0 AS it FROM documents
        |  UNION ALL
        |  SELECT e2.src, sum(a.a), a.it + 1
        |  FROM (SELECT e.dst AS id, sum(r.h) AS a, r.it AS it
        |        FROM r JOIN e ON e.src = r.id WHERE r.it < 6 GROUP BY 1, 3) a
        |  JOIN e e2 ON e2.dst = a.id GROUP BY 1, a.it + 1),
        |hf AS (SELECT id, h FROM r WHERE it = 6),
        |af AS (SELECT e.dst AS id, sum(hf.h) AS a FROM hf JOIN e ON e.src = hf.id GROUP BY 1),
        |n AS (SELECT count(*) AS cnt FROM documents),
        |s AS (SELECT (SELECT sum(h) FROM hf) AS sh, (SELECT sum(a) FROM af) AS sa)
        |SELECT hf.id, round(hf.h / s.sh * n.cnt, 6) AS hub_norm,
        |  round(coalesce(af.a, 0) / s.sa * n.cnt, 6) AS auth_norm
        |FROM hf LEFT JOIN af ON af.id = hf.id, s, n ORDER BY hf.id""".stripMargin,

    // the routing contract again: tier-set re-merge must equal the raw
    // distinct count
    "q206_route_distinct" ->
      """WITH b AS (SELECT user_id, event_type, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS u FROM events)
        |SELECT user_id, (u - u % 3600) AS bucket_start,
        |  count(DISTINCT event_type) AS n_types, count(*) AS cnt,
        |  round(sum(value), 6) AS sum_value
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // calendar-exact self-join on day - 7, never lag(7) over present rows
    "q207_wow" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
        |           FROM events GROUP BY 1, 2)
        |SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day, d.cnt,
        |  p.cnt AS prev_cnt, d.cnt - p.cnt AS delta,
        |  CASE WHEN p.cnt <> 0 THEN round(d.cnt::DOUBLE / p.cnt, 6) END AS ratio
        |FROM d LEFT JOIN d p
        |  ON p.event_type = d.event_type AND p.day = d.day - 7
        |ORDER BY 1, 2""".stripMargin,

    // impact head replayed with a window argmax (tf desc, doc asc);
    // sum(tf) is HUGEINT -> ::BIGINT
    "q208_postings" ->
      """WITH w AS (SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |pd AS (SELECT term, doc_id, count(*) AS tf FROM w GROUP BY 1, 2),
        |rk AS (SELECT term, doc_id, tf, row_number()
        |    OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rn FROM pd),
        |st AS (SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf
        |       FROM pd GROUP BY 1)
        |SELECT st.term, st.df, st.cf, rk.doc_id AS top_doc, rk.tf AS top_tf
        |FROM st JOIN rk ON rk.term = st.term AND rk.rn = 1
        |WHERE st.df >= 5 ORDER BY st.term""".stripMargin,

    // generate_subscripts is 1-based; Spark posexplode is 0-based
    "q209_phrase" ->
      """WITH w AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |p AS (SELECT doc_id, unnest(ws) AS term,
        |    generate_subscripts(ws, 1) - 1 AS pos FROM w),
        |m AS (SELECT a.doc_id, a.pos FROM p a
        |      JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |      WHERE a.term = 'table' AND b.term = 'hash')
        |SELECT doc_id AS doc, count(*) AS n_matches,
        |  min(pos)::BIGINT AS first_pos
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    // wedge self-join centered on the shared neighbor, NOT EXISTS drops
    // already-adjacent pairs; the one division rounded 6 dp both sides
    "q210_common_neighbors" ->
      """WITH raw AS (
        |  SELECT doc_id AS s, (doc_id + 1) % (SELECT count(*) FROM documents) AS t FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id*doc_id + 3) % (SELECT count(*) FROM documents) FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id // 2) FROM documents),
        |u AS (SELECT DISTINCT least(s, t) AS x, greatest(s, t) AS y FROM raw WHERE s <> t),
        |adj AS (SELECT x AS v, y AS n FROM u UNION ALL SELECT y, x FROM u),
        |deg AS (SELECT v, count(*) AS degree FROM adj GROUP BY 1),
        |pairs AS (SELECT a.v AS a, b.v AS b, count(*) AS common
        |          FROM adj a JOIN adj b ON b.n = a.n AND a.v < b.v GROUP BY 1, 2),
        |cand AS (SELECT p.* FROM pairs p WHERE p.common >= 3
        |         AND NOT EXISTS (SELECT 1 FROM u WHERE u.x = p.a AND u.y = p.b))
        |SELECT c.a, c.b, c.common::BIGINT AS common,
        |  round(c.common::DOUBLE / (da.degree + db.degree - c.common), 6) AS nbr_jaccard
        |FROM cand c JOIN deg da ON da.v = c.a JOIN deg db ON db.v = c.b
        |ORDER BY 1, 2""".stripMargin,

    "q211_season_detect" -> seasonDetectSql,

    // the documents table IS the draw-index domain (doc_id contiguous
    // 0..n-1 at every sf); replicate means are exact (int64 sum / one
    // division), so quantile_cont sees bit-identical inputs
    "q212_bootstrap_ci" ->
      """WITH n AS (SELECT count(*) AS n FROM documents),
        |grid AS (SELECT r.range AS rep, d0.doc_id AS i
        |         FROM range(0, 200) r, documents d0),
        |draws AS (SELECT rep, (('0x' || substr(md5(concat_ws(':', 'bs1', rep, i)), 1, 15))::BIGINT
        |    % (SELECT n FROM n)) AS idx FROM grid),
        |means AS (SELECT rep, sum(d.n_chars)::DOUBLE / (SELECT n FROM n) AS boot_mean
        |          FROM draws JOIN documents d ON d.doc_id = draws.idx GROUP BY 1)
        |SELECT count(*) AS b,
        |  round(quantile_cont(boot_mean, 0.025), 6) AS ci_lo,
        |  round(quantile_cont(boot_mean, 0.975), 6) AS ci_hi,
        |  (SELECT round(sum(n_chars)::DOUBLE / (SELECT n FROM n), 6)
        |   FROM documents) AS mean_full
        |FROM means""".stripMargin,

    // suppression + hash noise + clamp, all integer — bit-replayable
    "q213_dp_release" ->
      """WITH c AS (SELECT lang, source, count(*) AS cnt FROM documents
        |           GROUP BY 1, 2 HAVING count(*) >= 10)
        |SELECT lang, source,
        |  greatest(cnt + (('0x' || substr(md5(concat_ws(':', 'dp1', lang, source)), 1, 15))::BIGINT
        |    % 11) - 5, 10) AS released_count
        |FROM c ORDER BY 1, 2""".stripMargin,

    // trigram-set containment inter/|A|: same shingle rule as the engine
    // (1-based list slots = element_at), raw-double threshold both sides
    "q214_containment" ->
      """WITH w AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(
        |    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
        |  FROM w WHERE len(ws) >= 3),
        |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |          FROM ex a JOIN ex b ON b.s = a.s AND a.doc_id <> b.doc_id
        |          GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(sh)::BIGINT AS n FROM sh)
        |SELECT i.id_a, i.id_b, i.inter::BIGINT AS inter, sz.n AS n_a,
        |  round(i.inter::DOUBLE / sz.n, 6) AS containment
        |FROM inter i JOIN sz ON sz.doc_id = i.id_a
        |WHERE i.inter::DOUBLE / sz.n >= 0.08 ORDER BY 1, 2""".stripMargin,

    // lift = (n_ab/B)/((n_a/T)(n_b/T)) in the engine's exact IEEE op order
    "q215_collocations" ->
      """WITH w AS (SELECT list_filter(
        |    regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |wn AS (SELECT ws FROM w WHERE len(ws) > 0),
        |u2 AS (SELECT term, count(*) AS n FROM (SELECT unnest(ws) AS term FROM wn) GROUP BY 1),
        |bi AS (SELECT ws[i] AS term_a, ws[i+1] AS term_b, count(*) AS n_ab
        |       FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM wn WHERE len(ws) >= 2)
        |       GROUP BY 1, 2 HAVING count(*) >= 20),
        |tot AS (SELECT sum(len(ws))::BIGINT AS t_total,
        |        sum(greatest(len(ws) - 1, 0))::BIGINT AS b_total FROM wn)
        |SELECT bi.term_a, bi.term_b, bi.n_ab::BIGINT AS n_ab,
        |  ua.n::BIGINT AS n_a, ub.n::BIGINT AS n_b,
        |  (bi.n_ab::DOUBLE / tot.b_total::DOUBLE) /
        |    ((ua.n::DOUBLE / tot.t_total::DOUBLE) * (ub.n::DOUBLE / tot.t_total::DOUBLE)) AS lift
        |FROM bi JOIN u2 ua ON ua.term = bi.term_a
        |        JOIN u2 ub ON ub.term = bi.term_b, tot
        |ORDER BY 1, 2""".stripMargin,

    // run collapse via lag-change flag + running sum; null state is a state
    // (IS NOT DISTINCT FROM = Spark's <=>); valid_to = next run's start
    "q216_scd2" ->
      """WITH f AS (SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(event_type) OVER w IS NOT DISTINCT FROM event_type
        |         THEN 0 ELSE 1 END AS chg
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |v AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS version FROM f),
        |r AS (SELECT user_id, version::BIGINT AS version, min(event_type) AS state,
        |    min(ts) AS vf, count(*) AS n_obs
        |  FROM v GROUP BY 1, 2)
        |SELECT user_id, state, version,
        |  floor(epoch(vf))::BIGINT AS valid_from,
        |  floor(epoch(lead(vf) OVER (PARTITION BY user_id ORDER BY version)))::BIGINT AS valid_to,
        |  n_obs::BIGINT AS n_obs
        |FROM r ORDER BY user_id, version""".stripMargin,

    "q217_benford" -> benfordSql,

    // priority q = w/u, u = (h+1)/2^60 — the same two IEEE ops; rank cut
    // is (priority DESC, doc_id), bit-deterministic
    "q218_weighted_sample" ->
      """WITH p AS (SELECT doc_id, n_chars AS weight,
        |    n_chars::DOUBLE / ((('0x' || substr(md5(concat_ws(':', 'ps1', doc_id)), 1, 15))::BIGINT + 1)::DOUBLE
        |      / 1152921504606846976.0) AS priority
        |  FROM documents WHERE n_chars > 0),
        |t AS (SELECT * FROM p ORDER BY priority DESC, doc_id LIMIT 100)
        |SELECT doc_id, weight, priority FROM t ORDER BY doc_id""".stripMargin,

    // q112's SAX pipeline at alphabet 2 / 5-day frames, grouped by word
    "q219_sax_motifs" ->
      """WITH m AS (SELECT user_id, avg(value) AS mu, stddev_pop(value) AS sd
        |    FROM events GROUP BY 1),
        |z AS (SELECT e.user_id,
        |    epoch(date_trunc('minute', e.ts))::BIGINT
        |      - epoch(date_trunc('minute', e.ts))::BIGINT % 432000 AS frame_start,
        |    CASE WHEN m.sd > 0 THEN (e.value - m.mu) / m.sd ELSE 0 END AS z
        |  FROM events e JOIN m USING (user_id)),
        |p AS (SELECT user_id, frame_start, round(avg(z),6) AS paa FROM z GROUP BY 1,2),
        |s AS (SELECT user_id, frame_start,
        |    CASE WHEN paa < 0.0 THEN 'a' ELSE 'b' END AS sym FROM p),
        |wd AS (SELECT user_id, string_agg(sym, '' ORDER BY frame_start) AS sax_word,
        |    count(*) AS n_frames FROM s GROUP BY 1)
        |SELECT sax_word, count(*) AS n_series,
        |  min(user_id) AS member_min, max(user_id) AS member_max,
        |  min(n_frames)::BIGINT AS min_frames, max(n_frames)::BIGINT AS max_frames
        |FROM wd GROUP BY 1 HAVING count(*) >= 2 ORDER BY 1""".stripMargin,

    // rank-cut tail membership (top-500 by value desc, event_id), then the
    // same fixed-order share/lift arithmetic
    "q220_tail_lift" ->
      """WITH t AS (SELECT event_type FROM events ORDER BY value DESC, event_id LIMIT 500),
        |tc AS (SELECT event_type, count(*) AS tail_cnt FROM t GROUP BY 1),
        |o AS (SELECT event_type, count(*) AS total_cnt FROM events GROUP BY 1),
        |n AS (SELECT count(*) AS n_total FROM events)
        |SELECT o.event_type, o.total_cnt::BIGINT AS total_cnt,
        |  coalesce(tc.tail_cnt, 0)::BIGINT AS tail_cnt,
        |  coalesce(tc.tail_cnt, 0)::DOUBLE / 500.0 AS tail_share,
        |  o.total_cnt::DOUBLE / n.n_total::DOUBLE AS overall_share,
        |  CASE WHEN coalesce(tc.tail_cnt, 0) > 0
        |       THEN (coalesce(tc.tail_cnt, 0)::DOUBLE / 500.0)
        |            / (o.total_cnt::DOUBLE / n.n_total::DOUBLE) END AS lift
        |FROM o LEFT JOIN tc USING (event_type), n ORDER BY 1""".stripMargin,

    "q221_kcore" -> kcoreSql(k = 4, rounds = 3),

    "q222_path_trigrams" ->
      """WITH g AS (SELECT user_id, event_type AS s1,
        |    lead(event_type, 1) OVER w AS s2, lead(event_type, 2) OVER w AS s3
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT s1 AS step_1, s2 AS step_2, s3 AS step_3,
        |  count(*) AS n_occurrences, count(DISTINCT user_id)::BIGINT AS n_keys
        |FROM g WHERE s3 IS NOT NULL
        |GROUP BY 1, 2, 3 HAVING count(*) >= 5 ORDER BY 1, 2, 3""".stripMargin,

    // first touch = running first over the user stream, last touch = lag;
    // '(none)' when the conversion opens the stream
    "q223_attribution" ->
      """WITH t AS (SELECT user_id, event_type,
        |    first_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS ft,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
        |  FROM events)
        |SELECT ft AS first_touch, coalesce(pv, '(none)') AS last_touch,
        |  count(*) AS n_conversions
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // integer dot/norms on raw counts; cosine = dot / (sqrt(ssa)*sqrt(ssb))
    // in the engine's op order (IEEE sqrt is correctly rounded)
    "q224_profile_sim" ->
      """WITH p AS (SELECT event_type AS seg, EXTRACT(hour FROM ts)::INT AS b,
        |    count(*) AS c FROM events GROUP BY 1, 2),
        |n AS (SELECT seg, sum(c * c)::BIGINT AS ss FROM p GROUP BY 1),
        |d AS (SELECT a.seg AS seg_a, b.seg AS seg_b, sum(a.c * b.c)::BIGINT AS dot
        |      FROM p a JOIN p b ON b.b = a.b AND a.seg < b.seg GROUP BY 1, 2)
        |SELECT d.seg_a, d.seg_b, d.dot,
        |  d.dot::DOUBLE / (sqrt(na.ss::DOUBLE) * sqrt(nb.ss::DOUBLE)) AS cosine
        |FROM d JOIN n na ON na.seg = d.seg_a JOIN n nb ON nb.seg = d.seg_b
        |ORDER BY 1, 2""".stripMargin,

    // running max of PRECEDING ends starts a new span when start exceeds
    // it; run ids by running sum — identical window semantics both sides
    "q225_interval_coalesce" ->
      """WITH iv AS (SELECT user_id, event_id,
        |    floor(epoch(ts))::BIGINT AS start_s,
        |    floor(epoch(ts))::BIGINT + (event_id % 7 + 1) * 60 AS end_s
        |  FROM events),
        |f AS (SELECT *, max(end_s) OVER (PARTITION BY user_id
        |    ORDER BY start_s, end_s, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM iv),
        |r AS (SELECT *, CASE WHEN pm IS NULL OR start_s > pm THEN 1 ELSE 0 END AS nr
        |  FROM f),
        |s AS (SELECT *, sum(nr) OVER (PARTITION BY user_id
        |    ORDER BY start_s, end_s, event_id ROWS UNBOUNDED PRECEDING) AS run
        |  FROM r)
        |SELECT user_id, run::BIGINT AS span_seq,
        |  min(start_s)::BIGINT AS span_start, max(end_s)::BIGINT AS span_end,
        |  count(*) AS n_intervals
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // per-term floor(1e12/ln(deg)+0.5) is the same BIGINT both engines
    // (ln ulp-identical on integers); the pair score is an integer sum —
    // order-independent, so no float-summation flake is possible
    "q226_adamic_adar" ->
      """WITH raw AS (
        |  SELECT doc_id AS s, (doc_id + 1) % (SELECT count(*) FROM documents) AS t FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id*doc_id + 3) % (SELECT count(*) FROM documents) FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id // 2) FROM documents),
        |u AS (SELECT DISTINCT least(s, t) AS x, greatest(s, t) AS y FROM raw WHERE s <> t),
        |adj AS (SELECT x AS v, y AS n FROM u UNION ALL SELECT y, x FROM u),
        |deg AS (SELECT v, count(*) AS degree FROM adj GROUP BY v),
        |ctr AS (SELECT adj.n AS c, adj.v AS node, w.term
        |  FROM adj JOIN (SELECT v, floor(1e12 / ln(degree) + 0.5)::BIGINT AS term
        |                 FROM deg WHERE degree >= 2) w ON w.v = adj.n),
        |pairs AS (SELECT p.node AS a, q.node AS b,
        |    count(*) AS common, sum(p.term)::BIGINT AS aa_pico
        |  FROM ctr p JOIN ctr q ON p.c = q.c AND p.node < q.node
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT a, b, common, aa_pico, round(aa_pico::DOUBLE / 1e12, 6) AS aa_score
        |FROM pairs LEFT JOIN u ON u.x = pairs.a AND u.y = pairs.b
        |WHERE u.x IS NULL ORDER BY 1, 2""".stripMargin,

    // q199's recursion with restart mass on the seeds only: every node has
    // indegree >= 1 (cycle edge), so the grouped recursion covers all ids
    "q227_ppr" ->
      """WITH RECURSIVE e AS (
        |  SELECT doc_id AS src, (doc_id + 1) % (SELECT count(*) FROM documents) AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id*doc_id + 3) % (SELECT count(*) FROM documents) FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id // 2) FROM documents),
        |r AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN doc_id < 5 THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END AS pr,
        |    0 AS it FROM documents
        |  UNION ALL
        |  SELECT e.dst,
        |    0.15::DOUBLE * (CASE WHEN e.dst < 5 THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END)
        |      + 0.85::DOUBLE * sum(r.pr / 3.0::DOUBLE),
        |    r.it + 1
        |  FROM r JOIN e ON e.src = r.id WHERE r.it < 10 GROUP BY e.dst, r.it + 1)
        |SELECT id, round(pr * 100, 6) AS ppr_pct
        |FROM r WHERE it = 10 ORDER BY id""".stripMargin,

    // the naive all-shared-shingle join IS the oracle for the prefix-
    // filtered join — exactness (no pair dropped by the filter) is the
    // whole contract
    "q228_ppjoin" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(ws)-2, 0)),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM w),
        |d AS (SELECT doc_id, sh, len(sh) AS n FROM s WHERE len(sh) > 0),
        |e AS (SELECT doc_id, unnest(sh) AS g FROM d),
        |ix AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i2
        |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, i2 AS inter,
        |  round(i2::DOUBLE / (x.n + y.n - i2), 6) AS jaccard
        |FROM ix JOIN d x ON x.doc_id = id_a JOIN d y ON y.doc_id = id_b
        |WHERE i2::DOUBLE / (x.n + y.n - i2) >= 0.5
        |ORDER BY 1, 2""".stripMargin,

    "q229_path_tree" ->
      """WITH p AS (SELECT '/' || source || '/' || lang || '/d' || (doc_id % 20) AS path,
        |    n_chars FROM documents),
        |x AS (SELECT t.d::INTEGER AS depth,
        |    '/' || array_to_string((string_split(ltrim(path, '/'), '/'))[1:t.d], '/') AS prefix,
        |    n_chars
        |  FROM p CROSS JOIN generate_series(1, 3) t(d))
        |SELECT depth, prefix, count(*) AS cnt, sum(n_chars)::BIGINT AS w_sum
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the direct full-outer diff IS the oracle; the engine must reach the
    // identical set through bucket digests + drill-down
    "q230_table_diff" ->
      """WITH a AS (SELECT event_id, user_id, event_type, value FROM events),
        |b AS (
        |  SELECT event_id, user_id, event_type,
        |    CASE WHEN event_id % 101 = 7 THEN value + 1.0::DOUBLE ELSE value END AS value
        |  FROM events WHERE event_id % 97 <> 13
        |  UNION ALL
        |  SELECT event_id + 10000000, user_id, event_type, value
        |  FROM events WHERE event_id % 103 = 11),
        |j AS (SELECT coalesce(a.event_id, b.event_id) AS event_id,
        |    CASE WHEN b.event_id IS NULL THEN 'deleted'
        |         WHEN a.event_id IS NULL THEN 'added'
        |         WHEN a.value <> b.value OR a.user_id <> b.user_id
        |           OR a.event_type <> b.event_type THEN 'changed'
        |    END AS status
        |  FROM a FULL OUTER JOIN b ON a.event_id = b.event_id)
        |SELECT event_id, status FROM j WHERE status IS NOT NULL
        |ORDER BY 1, 2""".stripMargin,

    // shared md5int hash contract (see q31); the '_ALL_' row is the
    // engine's MERGED sketch — the oracle computes the global bottom-k
    // directly, so equality proves sketch mergeability
    "q231_kmv" ->
      """WITH h AS (SELECT DISTINCT source,
        |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS h FROM documents),
        |r AS (SELECT source, h,
        |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h),
        |per AS (SELECT source, count(*) AS nd,
        |    max(CASE WHEN rn = 16 THEN h END) AS h16,
        |    least(count(*), 16)::BIGINT AS sketch_n
        |  FROM r GROUP BY source),
        |g AS (SELECT '_ALL_' AS source, count(*) AS nd,
        |    max(CASE WHEN rng = 16 THEN h END) AS h16,
        |    least(count(*), 16)::BIGINT AS sketch_n
        |  FROM (SELECT h, row_number() OVER (ORDER BY h) AS rng
        |        FROM (SELECT DISTINCT h FROM h))),
        |u AS (SELECT * FROM per UNION ALL SELECT * FROM g)
        |SELECT source, sketch_n, nd::BIGINT AS n_distinct,
        |  round(CASE WHEN nd < 16 THEN nd::DOUBLE
        |    ELSE 15.0::DOUBLE * 1152921504606846976.0 / h16 END, 6) AS est_distinct
        |FROM u ORDER BY source""".stripMargin,

    // three unrolled synchronous rounds; mode-with-min-tie-break is the
    // deterministic LPA variant the engine runs
    "q232_label_prop" ->
      """WITH raw AS (
        |  SELECT doc_id AS s, (doc_id + 1) % (SELECT count(*) FROM documents) AS t FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id*doc_id + 3) % (SELECT count(*) FROM documents) FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id // 2) FROM documents),
        |u AS (SELECT DISTINCT least(s, t) AS x, greatest(s, t) AS y FROM raw WHERE s <> t),
        |adj AS (SELECT x AS v, y AS n FROM u UNION ALL SELECT y, x FROM u),
        |l0 AS (SELECT DISTINCT v AS id, v AS label FROM adj),
        |l1 AS (SELECT v AS id, label FROM (
        |  SELECT adj.v, l0.label, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY adj.v ORDER BY count(*) DESC, l0.label) AS rn
        |  FROM adj JOIN l0 ON l0.id = adj.n GROUP BY adj.v, l0.label) WHERE rn = 1),
        |l2 AS (SELECT v AS id, label FROM (
        |  SELECT adj.v, l1.label, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY adj.v ORDER BY count(*) DESC, l1.label) AS rn
        |  FROM adj JOIN l1 ON l1.id = adj.n GROUP BY adj.v, l1.label) WHERE rn = 1),
        |l3 AS (SELECT v AS id, label FROM (
        |  SELECT adj.v, l2.label, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY adj.v ORDER BY count(*) DESC, l2.label) AS rn
        |  FROM adj JOIN l2 ON l2.id = adj.n GROUP BY adj.v, l2.label) WHERE rn = 1)
        |SELECT id, label FROM l3 ORDER BY id""".stripMargin,

    // slopes are single divisions of exact integers; quantile_cont(0.5)
    // == Spark percentile — interpolation of two identical doubles
    "q233_theil_sen" ->
      """WITH d AS (SELECT user_id,
        |    floor(epoch(ts))::BIGINT // 86400 AS day, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.user_id,
        |    (b.cnt - a.cnt)::DOUBLE / (b.day - a.day)::DOUBLE AS slope
        |  FROM d a JOIN d b ON a.user_id = b.user_id AND a.day < b.day),
        |m AS (SELECT user_id, quantile_cont(slope, 0.5) AS ts_slope FROM p GROUP BY 1),
        |n AS (SELECT user_id, count(*) AS n_points FROM d GROUP BY 1)
        |SELECT n.user_id, n.n_points, round(m.ts_slope, 6) AS ts_slope
        |FROM n LEFT JOIN m ON m.user_id = n.user_id ORDER BY 1""".stripMargin,

    // naive all-pairs Levenshtein IS the oracle for the q-gram-prefiltered
    // join; ASCII normalization aligns DuckDB's byte DP with Spark's
    // code-point DP
    "q234_edit_join" ->
      """WITH s0 AS (SELECT doc_id,
        |    substr(regexp_replace(text, '[^ -~]', '', 'g'), 1, 48) AS s
        |  FROM documents WHERE doc_id < 150),
        |c AS (SELECT doc_id, s FROM s0
        |  UNION ALL
        |  SELECT doc_id + 1000000, substr(s, 1, 5) || 'X' || substr(s, 7, 42) FROM s0),
        |f AS (SELECT * FROM c WHERE length(s) >= 40)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  levenshtein(a.s, b.s)::BIGINT AS dist
        |FROM f a JOIN f b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.s, b.s) <= 8
        |ORDER BY 1, 2""".stripMargin,

    // bottom-64 per type replayed from the shared md5int contract; the
    // merged bottom-64 comes from the union of the two bottoms (the KMV
    // merge identity), estimates are fixed-order IEEE on exact integers
    "q235_kmv_overlap" ->
      """WITH ud AS (SELECT DISTINCT event_type,
        |    ('0x' || substr(md5(user_id::VARCHAR || ':' ||
        |      ((floor(epoch(ts))::BIGINT // 86400))::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM events),
        |r AS (SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM ud),
        |bot AS (SELECT event_type, h FROM r WHERE rn <= 64),
        |nd AS (SELECT event_type, count(*) AS nd FROM ud GROUP BY 1),
        |types AS (SELECT a.event_type AS ta, a.nd AS nd_a, b.event_type AS tb, b.nd AS nd_b
        |  FROM nd a JOIN nd b ON a.event_type < b.event_type),
        |mb AS (SELECT ta, tb, h,
        |    row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
        |  FROM (SELECT DISTINCT t.ta, t.tb, x.h FROM types t
        |        JOIN bot x ON x.event_type IN (t.ta, t.tb))),
        |mk AS (SELECT ta, tb, h FROM mb WHERE rn <= 64),
        |mstat AS (SELECT ta, tb, count(*) AS m_n, max(h) AS hk FROM mk GROUP BY 1, 2),
        |ik AS (SELECT mk.ta, mk.tb, count(*) AS inter_k
        |  FROM mk JOIN bot p ON p.event_type = mk.ta AND p.h = mk.h
        |          JOIN bot q ON q.event_type = mk.tb AND q.h = mk.h
        |  GROUP BY 1, 2),
        |ex AS (SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS exact_inter
        |  FROM ud a JOIN ud b ON a.h = b.h AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT t.ta AS type_a, t.tb AS type_b, t.nd_a, t.nd_b,
        |  coalesce(ex.exact_inter, 0)::BIGINT AS exact_inter,
        |  m.m_n::BIGINT AS m_n, coalesce(ik.inter_k, 0)::BIGINT AS inter_k,
        |  round(coalesce(ik.inter_k, 0)::DOUBLE / m.m_n::DOUBLE, 6) AS jaccard_est,
        |  round(CASE WHEN m.m_n < 64 THEN m.m_n::DOUBLE
        |    ELSE 63.0::DOUBLE * 1152921504606846976.0 / m.hk END, 6) AS union_est,
        |  round((coalesce(ik.inter_k, 0)::DOUBLE / m.m_n::DOUBLE) *
        |    (CASE WHEN m.m_n < 64 THEN m.m_n::DOUBLE
        |     ELSE 63.0::DOUBLE * 1152921504606846976.0 / m.hk END), 6) AS inter_est
        |FROM types t
        |JOIN mstat m ON m.ta = t.ta AND m.tb = t.tb
        |LEFT JOIN ik ON ik.ta = t.ta AND ik.tb = t.tb
        |LEFT JOIN ex ON ex.ta = t.ta AND ex.tb = t.tb
        |ORDER BY 1, 2""".stripMargin,

    // identical window triple (running-min / lag / lead) both sides;
    // churn for period p+1 counted off period p's activity
    "q236_growth" ->
      """WITH a AS (SELECT DISTINCT user_id,
        |    (floor(epoch(ts))::BIGINT // 86400) // 7 AS p FROM events),
        |f AS (SELECT user_id, p,
        |    min(p) OVER (PARTITION BY user_id) AS fst,
        |    lag(p) OVER (PARTITION BY user_id ORDER BY p) AS prev,
        |    lead(p) OVER (PARTITION BY user_id ORDER BY p) AS nxt
        |  FROM a),
        |mx AS (SELECT max(p) AS maxp FROM a),
        |st AS (SELECT p,
        |    CASE WHEN p = fst THEN 'new' WHEN prev = p - 1 THEN 'retained'
        |         ELSE 'resurrected' END AS status FROM f),
        |act AS (SELECT p, status, count(*) AS n FROM st GROUP BY 1, 2),
        |ch AS (SELECT f.p + 1 AS p, 'churned' AS status, count(*) AS n
        |  FROM f CROSS JOIN mx
        |  WHERE (nxt IS NULL OR nxt > f.p + 1) AND f.p + 1 <= mx.maxp
        |  GROUP BY 1, 2)
        |SELECT p AS week, status, n
        |FROM (SELECT * FROM act UNION ALL SELECT * FROM ch)
        |ORDER BY 1, 2""".stripMargin,

    // exact integer cumulative sums; the class cut compares the same
    // division both engines
    "q237_abc" ->
      """WITH agg AS (SELECT source AS cat, sum(n_chars)::BIGINT AS w_sum
        |  FROM documents GROUP BY 1),
        |c AS (SELECT cat, w_sum,
        |    sum(w_sum) OVER (ORDER BY w_sum DESC, cat ROWS UNBOUNDED PRECEDING) AS cum_w,
        |    sum(w_sum) OVER () AS w_total FROM agg)
        |SELECT cat AS source, w_sum,
        |  round(cum_w::DOUBLE / w_total::DOUBLE, 6) AS cum_share,
        |  CASE WHEN cum_w::DOUBLE / w_total::DOUBLE <= 0.8 THEN 'A'
        |       WHEN cum_w::DOUBLE / w_total::DOUBLE <= 0.95 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM c ORDER BY 1""".stripMargin,

    // min(CASE …) keeps never-converted users; epoch_us == Spark
    // unix_micros on the cast timestamp; one exact-integer division
    "q238_conversion_latency" ->
      """WITH s AS (SELECT user_id, min(epoch_us(ts)) AS from_us
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |e AS (SELECT user_id, epoch_us(ts) AS to_us
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT s.user_id, s.from_us,
        |    min(CASE WHEN e.to_us >= s.from_us THEN e.to_us END) AS to_us
        |  FROM s LEFT JOIN e ON e.user_id = s.user_id GROUP BY 1, 2)
        |SELECT user_id, from_us, to_us,
        |  round((to_us - from_us)::DOUBLE / 1000000.0::DOUBLE, 6) AS latency_s
        |FROM j ORDER BY user_id""".stripMargin,

    // q36's cosine contract, rank-1 both directions, mutuality by self-join
    "q239_rbm" ->
      """WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |sc AS (SELECT a.vec_id AS qa, b.vec_id AS qb,
        |    list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim
        |  FROM c a CROSS JOIN c b WHERE a.vec_id <> b.vec_id
        |    AND sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) > 0),
        |t AS (SELECT qa, qb, sim,
        |    row_number() OVER (PARTITION BY qa ORDER BY sim DESC, qb) AS rk FROM sc),
        |b1 AS (SELECT qa, qb, sim FROM t WHERE rk = 1)
        |SELECT x.qa AS id_a, x.qb AS id_b, round(x.sim, 6) AS sim
        |FROM b1 x JOIN b1 y ON y.qa = x.qb AND y.qb = x.qa
        |WHERE x.qa < x.qb ORDER BY 1, 2""".stripMargin,

    // pure integer Hamilton apportionment — base = floor division,
    // leftover units to the largest remainders (key tie-break)
    "q240_crawl_budget" ->
      """WITH agg AS (SELECT source AS key, sum(n_chars)::BIGINT AS score
        |  FROM documents GROUP BY 1 HAVING sum(n_chars) > 0),
        |t AS (SELECT sum(score) AS s_total FROM agg),
        |b AS (SELECT key, score, (score * 10000) // s_total AS base,
        |    score * 10000 - ((score * 10000) // s_total) * s_total AS rem
        |  FROM agg CROSS JOIN t),
        |l AS (SELECT 10000 - sum(base) AS leftover FROM b),
        |r AS (SELECT b.*, row_number() OVER (ORDER BY rem DESC, key) AS rk FROM b)
        |SELECT key, score,
        |  (base + CASE WHEN rk <= l.leftover THEN 1 ELSE 0 END)::BIGINT AS alloc
        |FROM r CROSS JOIN l ORDER BY key""".stripMargin,

    // per-key argmax of the seeded hash per node set (hash DESC, node DESC
    // matches the engine's struct-max tie semantics); moved keys must all
    // land on w4
    "q241_rendezvous" ->
      """WITH k AS (SELECT doc_id AS key FROM documents),
        |s1 AS (SELECT key, n.node,
        |    ('0x' || substr(md5(n.node || ':' || key::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM k CROSS JOIN (VALUES ('w1'), ('w2'), ('w3')) n(node)),
        |b1 AS (SELECT key, node FROM (SELECT key, node,
        |    row_number() OVER (PARTITION BY key ORDER BY h DESC, node DESC) AS rk
        |  FROM s1) WHERE rk = 1),
        |s2 AS (SELECT key, n.node,
        |    ('0x' || substr(md5(n.node || ':' || key::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM k CROSS JOIN (VALUES ('w1'), ('w2'), ('w3'), ('w4')) n(node)),
        |b2 AS (SELECT key, node FROM (SELECT key, node,
        |    row_number() OVER (PARTITION BY key ORDER BY h DESC, node DESC) AS rk
        |  FROM s2) WHERE rk = 1)
        |SELECT b1.node AS node_before, b2.node AS node_after, count(*) AS n
        |FROM b1 JOIN b2 ON b2.key = b1.key
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )
}
