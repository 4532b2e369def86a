package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Pages
import graft.functions.Hier
import graft.operators.{Conformal, CrossVal, Dedup, Encoding, Ewma, Features, GapFill, Hist, Intervals, Metrics, Multimodal, Profile, Rollup, Sax, Scalers, Similarity, TextAnalysis}
import graft.EntryHelpers._

/** SparkEntry queries q242–q309 with their DuckDB oracle twins,
  * split from the former single-file map (round-4 maintainability item:
  * entries and oracles live side by side per file so a mispaired oracle
  * is caught by the duplicate/coverage checks in [[SparkEntry]]).
  */
private[graft] object EntriesQ242 extends EntryPart {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // share-of-parent over the q229 path tree: each prefix's chars as a
    // fraction of its parent subtree (depth-1 against the global total) —
    // one division of the rollup's exact integer sums per row.
    "q242_tree_share" -> ((s, dir) => {
      val p = docs(s, dir).select(
        concat(lit("/"), col("source"), lit("/"), col("lang"), lit("/d"),
          pmod(col("doc_id"), lit(20L))).as("path"),
        col("n_chars"))
      val roll = graft.operators.PathTree.prefixRollup(p, "path", maxDepth = 3,
        weightCol = "n_chars")
      graft.operators.PathTree.shareOfParent(roll)
        .select(col("depth"), col("prefix"), col("w_sum"), col("parent_w"),
          r6(col("parent_share")).as("parent_share"))
        .orderBy("depth", "prefix")
    }),

    // weekly trending leaderboard: per-week event-type ranks with the
    // previous week's rank and the delta — integer counts, total order,
    // cross-engine exact.
    "q243_trending" -> ((s, dir) => {
      val weekly = ev(s, dir).select(col("event_type"),
        (floor(floor(unix_timestamp(col("ts").cast("timestamp")) / 86400L) / 7L))
          .cast("long").as("week"))
      graft.operators.Profile.trendingRanks(weekly, "event_type", "week")
        .select(col("p").as("week"), col("key").as("event_type"), col("cnt"),
          col("rank"), col("prev_rank"), col("rank_delta"))
        .orderBy("week", "rank")
    }),

    // stratified sample: exactly 100 docs, source mix preserved via
    // Hamilton quotas, members picked by seeded-hash rank — replayable
    // end-to-end (no Bernoulli draws).
    "q244_stratified" -> ((s, dir) => {
      graft.operators.Sampling.stratifiedSample(
          docs(s, dir).select(col("doc_id"), col("source")),
          "source", "doc_id", total = 100L, seed = "ss1")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // distinctive terms between even/odd doc slices by add-1 odds ratio —
    // ratio space on exact integer counts (a log would lean on libm
    // agreement; the ratio is fixed-order IEEE both engines).
    "q245_distinctive" -> ((s, dir) => {
      graft.operators.TextAnalysis.distinctiveTerms(
          docs(s, dir).withColumn("is_even", pmod(col("doc_id"), lit(2L)) === 0L),
          "text", "is_even", minCount = 50L)
        .select(col("word"), col("y_a"), col("y_b"),
          r6(col("odds_ratio")).as("odds_ratio"))
        .orderBy("word")
    }),

    // symmetric int8 quantization of embeddings + reconstruction cosine —
    // elementwise IEEE on exact inputs (round-half-up via floor(x+0.5)),
    // codes replayed array-for-array by the oracle.
    "q246_quantize" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Similarity.quantizeInt8(emb, "vec_id", "embedding")
        .select(col("id").as("vec_id"), r6(col("scale")).as("scale"),
          array_join(col("codes"), ",").as("codes_csv"),
          r6(col("recon_cos")).as("recon_cos"))
        .orderBy("vec_id")
    }),

    // skip-gram (center, context) counts within a 2-token window — the
    // word2vec/GloVe training-pair table; symmetric, integer counts.
    "q247_skipgrams" -> ((s, dir) => {
      graft.operators.TextAnalysis.skipGrams(docs(s, dir), "text",
          window = 2, minCount = 5L)
        .orderBy("center", "context")
    }),

    // Tukey boxplot fences per event type: exact quartiles, fixed-order
    // fence arithmetic, integer outlier counts.
    "q248_tukey" -> ((s, dir) => {
      graft.operators.Anomaly.tukeyFences(ev(s, dir), Seq("event_type"), "value")
        .select(col("event_type"), r6(col("q1")).as("q1"), r6(col("q3")).as("q3"),
          r6(col("lo_fence")).as("lo_fence"), r6(col("hi_fence")).as("hi_fence"),
          col("n_below"), col("n_above"), col("n"))
        .orderBy("event_type")
    }),

    // event_type × weekday contingency cells with expected-under-
    // independence and standardized residuals — per cell (never a summed
    // χ², which would hang on float summation order).
    "q249_contingency" -> ((s, dir) => {
      val d = ev(s, dir).withColumn("dow", dayofweek(col("ts").cast("timestamp")))
      graft.operators.Anomaly.contingency(d, "event_type", "dow")
        .select(col("a").as("event_type"), col("b").as("dow"), col("o"),
          col("row_tot"), col("col_tot"),
          r6(col("expected")).as("expected"), r6(col("residual")).as("residual"))
        .orderBy("event_type", "dow")
    }),

    // interval × interval overlap join: activity spans of users < 30 vs
    // 30-minute incident windows around error events — bucketized equi-
    // join inside the engine, direct θ-join in the oracle; integer
    // second overlap durations.
    "q250_overlap_join" -> ((s, dir) => {
      val base = ev(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"),
        unix_timestamp(col("ts").cast("timestamp")).as("start_s"))
      val acts = base.filter(col("user_id") < 30)
        .withColumn("end_s",
          col("start_s") + (pmod(col("event_id"), lit(7L)) + 1L) * 60L)
        .select(col("event_id"), col("user_id"), col("start_s"), col("end_s"))
      val incidents = base.filter(col("event_type") === "error")
        .withColumn("end_s", col("start_s") + 1800L)
        .select(col("event_id").as("incident_id"), col("start_s"), col("end_s"))
      graft.operators.Intervals.overlapJoin(acts, incidents,
          Seq("event_id", "user_id"), Seq("incident_id"),
          "start_s", "end_s", bucketSeconds = 1800L)
        .orderBy("a_event_id", "b_incident_id")
    }),

    // Kendall tau-b between daily event volume and daily active users per
    // type: S is a pure integer pair statistic; only the final
    // normalization touches floats (one sqrt of exact longs).
    "q251_kendall" -> ((s, dir) => {
      val daily = ev(s, dir).groupBy(col("event_type"),
          floor(unix_timestamp(col("ts").cast("timestamp")) / 86400L).as("day"))
        .agg(count(lit(1)).as("x"), count_distinct(col("user_id")).as("y"))
      graft.operators.Robust.kendallTau(daily, Seq("event_type"), "day", "x", "y")
        .select(col("event_type"), col("s"), col("n"), r6(col("tau_b")).as("tau_b"))
        .orderBy("event_type")
    }),

    // cohorted conversion: signup-week cohorts, conversion = a purchase
    // at-or-after the first signup (q238's operator), rate = one division
    // of exact counts.
    "q252_cohort_conversion" -> ((s, dir) => {
      val lat = graft.operators.Sessions.conversionLatency(ev(s, dir),
        Seq("user_id"), "ts", "event_type", "signup", "purchase")
      lat.withColumn("cohort_week",
          expr("(from_us div 1000000L div 86400L) div 7L"))
        .groupBy("cohort_week")
        .agg(count(lit(1)).as("n_started"),
          sum(when(col("to_us").isNotNull, 1L).otherwise(0L)).as("n_converted"))
        .withColumn("conv_rate",
          r6(col("n_converted").cast("double") / col("n_started").cast("double")))
        .orderBy("cohort_week")
    }),

    // Flesch reading ease per doc: sentence/word/vowel-group counts are
    // exact integers, the formula is three fixed-order IEEE ops.
    "q253_readability" -> ((s, dir) => {
      graft.operators.TextAnalysis.readability(docs(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_sent"), col("n_words"),
          col("n_syll"), r6(col("flesch")).as("flesch"))
        .orderBy("doc_id")
    }),

    // inter-event gap regularity (bot heuristic): integer power sums of
    // second-grain gaps, cv = sqrt(n·Σg² − (Σg)²)/Σg — one sqrt + one
    // division.
    "q254_gap_regularity" -> ((s, dir) => {
      graft.operators.Anomaly.gapRegularity(ev(s, dir), Seq("user_id"),
          "ts", "event_id")
        .select(col("user_id"), col("n_gaps"), col("sum_gap_s"),
          r6(col("mean_gap_s")).as("mean_gap_s"), r6(col("gap_cv")).as("gap_cv"))
        .orderBy("user_id")
    }),

    // syndication matrix over the corpus plus a 'mirror' aggregator (the
    // q31 union pattern — the raw corpus has no cross-source exact dups):
    // who shares distinct content digests with whom.
    "q255_syndication" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      val corpus = base.select(col("source"), col("text")).unionByName(
        base.filter(pmod(col("doc_id"), lit(4L)) === 0L)
          .select(lit("mirror").as("source"), col("text")))
      graft.operators.Governance.syndicationMatrix(corpus, "source", "text")
        .orderBy("src_a", "src_b")
    }),

    // behavioral Shannon entropy per user over the bounded event-type
    // domain — the term sum is a FIXED-ORDER literal chain (alphabetical
    // categories), replayed term-for-term by the oracle.
    "q256_entropy" -> ((s, dir) => {
      graft.operators.Profile.behaviorEntropy(ev(s, dir), Seq("user_id"),
          "event_type")
        .select(col("user_id"), col("n"), col("n_cats"),
          r6(col("entropy")).as("entropy"))
        .orderBy("user_id")
    }),

    // top-2 sources per language with the tail folded into 'OTHER' — the
    // reporting shape a bare top-k misrepresents; integer counts.
    "q257_topk_other" -> ((s, dir) => {
      graft.operators.Profile.topKWithOther(docs(s, dir), Seq("lang"),
          "source", k = 2)
        .orderBy("lang", "category")
    }),

    // funnel drop-off: q104's click→view→purchase funnel aggregated to
    // reached-counts and step conversion shares (exact counts, guarded
    // divisions).
    "q258_funnel_dropoff" -> ((s, dir) => {
      val f = graft.operators.Sessions.windowFunnel(ev(s, dir), Seq("user_id"),
        "ts", "event_type", Seq("click", "view", "purchase"),
        windowSeconds = 7L * 86400)
      f.agg(count(lit(1)).as("n_users"),
          sum(when(col("max_step") >= 1, 1L).otherwise(0L)).as("reached_1"),
          sum(when(col("max_step") >= 2, 1L).otherwise(0L)).as("reached_2"),
          sum(when(col("max_step") >= 3, 1L).otherwise(0L)).as("reached_3"))
        .select(col("n_users"), col("reached_1"), col("reached_2"), col("reached_3"),
          r6(col("reached_1").cast("double") / col("n_users").cast("double")).as("conv_0_1"),
          r6(when(col("reached_1") > 0,
            col("reached_2").cast("double") / col("reached_1").cast("double"))).as("conv_1_2"),
          r6(when(col("reached_2") > 0,
            col("reached_3").cast("double") / col("reached_2").cast("double"))).as("conv_2_3"))
    }),

    // 3-truss peel on the doc link graph: 2 bounded synchronous rounds of
    // drop-edges-with-support-below-1, then surviving edges with their
    // final in-subgraph support — the edge-level sibling of q221's k-core.
    "q259_ktruss" -> ((s, dir) => {
      val (edges, _) = docEdges(s, dir)
      graft.operators.Graph.kTruss(edges, k = 3L, rounds = 2)
        .orderBy("x", "y")
    }),

    // RFM segmentation: rank-arithmetic quintile scores per customer —
    // integer-exact cross-engine (rank cut on the r6-rounded monetary sum)
    "q260_rfm" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      graft.operators.Segment.rfm(o, "o_custkey", "o_orderdate", "o_totalprice")
        .orderBy("o_custkey")
    }),

    // time-weighted average of the per-user gauge (LOCF integral over
    // irregular event timestamps — plain avg over-weights dense bursts)
    "q261_twa" -> ((s, dir) => {
      graft.operators.Features.timeWeightedAvg(ev(s, dir), Seq("user_id"),
          "ts", "event_id", "value")
        .select(col("user_id"), col("n_points"),
          r6(col("duration_s")).as("duration_s"), r6(col("twa")).as("twa"))
        .orderBy("user_id")
    }),

    // DAU / trailing-7-day distinct actives (stickiness) — exact sliding
    // distinct via cover-explode, no per-day range join
    "q262_stickiness" -> ((s, dir) => {
      graft.operators.Sessions.stickiness(ev(s, dir), "user_id", "ts",
          windowDays = 7)
        .select(unix_timestamp(col("day").cast("timestamp")).as("day_s"),
          col("dau"), col("window_active"), r6(col("stickiness")).as("stickiness"))
        .orderBy("day_s")
    }),

    // cohort LTV curve: first-order-month cohorts, cumulative revenue per
    // cohort customer by month offset (integer month indexing, never
    // months_between floats). Revenue flows through as EXACT integer cents
    // (long sums); the /100 descale and the cum/n division are
    // deterministic double ops — a cumulated float revenue at 1e9 magnitude
    // has ulps bigger than 6-dp rounding absorbs
    "q263_ltv_curve" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
        .withColumn("amt_c", floor(col("o_totalprice") * 100 + 0.5))
      graft.operators.Segment.ltvCurve(o, "o_custkey", "o_orderdate", "amt_c")
        .select(col("cohort_ym"), col("offset_m"), col("n_customers"),
          (col("revenue") / 100).as("revenue"),
          (col("cum_revenue") / 100).as("cum_revenue"),
          (col("ltv") / 100).as("ltv"))
        .orderBy("cohort_ym", "offset_m")
    }),

    // bloom-pre-filtered semi-join: exact left-semi result (oracle = IN
    // subquery); the bloom pass drops non-matching rows at the scan
    "q264_bloom_semi" -> ((s, dir) => {
      val urgent = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      graft.operators.BloomJoin.semiJoin(li(s, dir), urgent,
          "l_orderkey", "o_orderkey")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"), r6(sum(col("l_quantity"))).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // rank-biased overlap: year-over-year stability of the per-returnflag
    // top-10 SUPPLIER-NATION ranking (25 nations — a domain whose top-10 is
    // volume-driven, not noise-driven, at any SF; broadcast dim join feeds
    // the rank; integer counts, id tie-break)
    "q265_rbo" -> ((s, dir) => {
      val sup = broadcast(s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey"), col("s_nationkey")))
      def yearCnt(y: Int) = li(s, dir)
        .filter(year(col("l_shipdate")) === y)
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_returnflag"), col("s_nationkey"))
        .agg(count(lit(1)).as("cnt"))
      graft.operators.Robust.rankBiasedOverlap(yearCnt(1995), yearCnt(1996),
          Seq("l_returnflag"), "s_nationkey", "cnt", depth = 10, p = 0.9)
        .select(col("l_returnflag"), col("n_common"), r6(col("rbo")).as("rbo"))
        .orderBy("l_returnflag")
    }),

    // uptime coverage: each event keeps its user "up" for 1h; per-user
    // merged coverage of January (exact µs arithmetic end to end)
    "q266_uptime" -> ((s, dir) => {
      val us = unix_micros(col("ts").cast("timestamp"))
      val iv = ev(s, dir).select(col("user_id"), us.as("s_us"),
        (us + lit(3600000000L)).as("e_us"), col("event_id"))
      graft.operators.Intervals.coverage(iv, Seq("user_id"), "s_us", "e_us",
          "event_id", 1704067200000000L, 1706745600000000L)
        .select(col("user_id"), col("n_spans"), col("covered_us"),
          r6(col("uptime_share")).as("uptime_share"))
        .orderBy("user_id")
    }),

    // quantile normalization: every event_type's value distribution mapped
    // to the cross-type rank-mean reference (ranks on stored doubles with
    // id tie-break — bit-identical ordering across engines)
    "q267_qnorm" -> ((s, dir) => {
      graft.operators.Scalers.quantileNormalize(ev(s, dir), "event_type",
          "event_id", "value")
        .select(col("event_type"), col("event_id"), col("rank"),
          col("n_groups_at_rank"), r6(col("qnorm")).as("qnorm"))
        .orderBy("event_type", "rank")
    }),

    // top-k set churn: week-over-week Jaccard of the per-type top-5 user
    // leaderboard (integer week index, integer counts, id tie-break)
    "q268_topk_churn" -> ((s, dir) => {
      val wk = ev(s, dir).withColumn("_us",
          unix_micros(col("ts").cast("timestamp")))
        .withColumn("week", expr("(_us - 1704067200000000L) div 604800000000L"))
        .groupBy(col("event_type"), col("week"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
      graft.operators.Profile.topKChurn(wk, Seq("event_type"), "week",
          "user_id", "cnt", k = 5)
        .select(col("event_type"), col("week"), col("n_prev"), col("n_cur"),
          col("n_common"), r6(col("jaccard")).as("jaccard"))
        .orderBy("event_type", "week")
    }),

    // Haar multi-resolution downsample: per-type event counts in 6h base
    // buckets, 3 halving levels — every approx/detail an exact dyadic
    // rational (integer sums over powers of two)
    "q269_haar" -> ((s, dir) => {
      graft.operators.Features.haarDownsample(ev(s, dir), Seq("event_type"),
          "ts", epochUs = 1704067200000000L, baseUs = 21600000000L, levels = 3)
        .select(col("event_type"), col("level"), col("idx"),
          col("approx"), col("detail"))
        .orderBy("event_type", "level", "idx")
    }),

    // Markov removal-effect attribution: purchase = conversion, the other
    // four event types = channels; 6 propagation steps from START
    "q270_markov_attr" -> ((s, dir) => {
      graft.operators.Attribution.removalEffects(ev(s, dir), "user_id", "ts",
          "event_id", "event_type", convType = "purchase",
          channels = Seq("click", "error", "signup", "view"), steps = 6)
        .select(col("removed_channel"), r6(col("p_conv")).as("p_conv"),
          r6(col("removal_effect")).as("removal_effect"))
        .orderBy("removed_channel")
    }),

    // Kaplan-Meier retention: per type, user engagement span in whole days,
    // churned if the last event predates Jan 24 (else right-censored)
    "q271_km" -> ((s, dir) => {
      val us = unix_micros(col("ts").cast("timestamp"))
      val subj = ev(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(min(us).as("_f"), max(us).as("_l"))
        .withColumn("dur", expr("(_l - _f) div 86400000000L"))
        .withColumn("e",
          when(col("_l") < lit(1706054400000000L), lit(1)).otherwise(lit(0)))
      graft.operators.Survival.kaplanMeier(subj, Seq("event_type"), "dur", "e")
        .select(col("event_type"), col("t"), col("n_risk"), col("n_event"),
          col("n_censored"), r6(col("survival")).as("survival"))
        .orderBy("event_type", "t")
    }),

    // Mann-Whitney U: click-vs-view value distributions per day of month
    // (midranks exact half-integers; tie-corrected normal z)
    "q272_mwu" -> ((s, dir) => {
      val d = ev(s, dir)
        .withColumn("day", dayofmonth(col("ts").cast("timestamp")))
      graft.operators.Robust.mannWhitney(d, Seq("day"), "event_type",
          "click", "view", "value")
        .select(col("day"), col("n_a"), col("n_b"), r6(col("u_a")).as("u_a"),
          r6(col("z")).as("z"))
        .orderBy("day")
    }),

    // Cohen's kappa: agreement between a char-count quality rule and a
    // word-count quality rule, per source (integer-exact up to one division)
    "q273_kappa" -> ((s, dir) => {
      val d = docs(s, dir)
        .withColumn("a", (col("n_chars") > 600).cast("string"))
        .withColumn("b", (length(col("text")) -
          length(translate(col("text"), " ", "")) > 80).cast("string"))
      graft.operators.Robust.cohenKappa(d, Seq("source"), "a", "b")
        .select(col("source"), col("n"), col("n_agree"),
          r6(col("kappa")).as("kappa"))
        .orderBy("source")
    }),

    // Jensen-Shannon divergence: weekly event-type mix vs the global mix
    // (bounded 5-category domain, literal-order term fold)
    "q274_jsd" -> ((s, dir) => {
      val wk = ev(s, dir)
        .withColumn("_us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("week", expr("(_us - 1704067200000000L) div 604800000000L"))
      graft.operators.Profile.jsDivergence(wk, Seq("week"), "event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .select(col("week"), col("n"), r6(col("jsd")).as("jsd"))
        .orderBy("week")
    }),

    // CUPED: per-user post-period value adjusted by the pre-period
    // covariate (pooled theta; Jan 16 split; arm = user parity)
    "q275_cuped" -> ((s, dir) => {
      val us = unix_micros(col("ts").cast("timestamp"))
      val unit = ev(s, dir).groupBy(col("user_id"))
        .agg(sum(when(us < lit(1705363200000000L), col("value"))
            .otherwise(lit(0.0))).as("x"),
          sum(when(us >= lit(1705363200000000L), col("value"))
            .otherwise(lit(0.0))).as("y"))
        .withColumn("seg", (col("user_id") % 2).cast("string"))
      graft.operators.Experiment.cuped(unit, "seg", "y", "x")
        .select(col("seg"), col("n"), r6(col("y_mean")).as("y_mean"),
          r6(col("y_adj_mean")).as("y_adj_mean"), r6(col("theta")).as("theta"),
          r6(col("var_reduction")).as("var_reduction"))
        .orderBy("seg")
    }),

    // difference-in-differences: 2x2 (user parity x Jan-16 split) cell
    // means per event_type, fixed-order estimate from pivoted cells
    "q276_did" -> ((s, dir) => {
      val us = unix_micros(col("ts").cast("timestamp"))
      val d = ev(s, dir)
        .withColumn("treat", (col("user_id") % 2).cast("int"))
        .withColumn("post",
          (us >= lit(1705363200000000L)).cast("int"))
      graft.operators.Experiment.diffInDiff(d, Seq("event_type"), "treat",
          "post", "value")
        .select(col("event_type"), col("n"), r6(col("m_t0")).as("m_t0"),
          r6(col("m_t1")).as("m_t1"), r6(col("m_c0")).as("m_c0"),
          r6(col("m_c1")).as("m_c1"), r6(col("did")).as("did"))
        .orderBy("event_type")
    }),

    // sample-ratio mismatch: Pearson chi-square of user-parity arm counts
    // against the designed 50/50 split, per event_type
    "q277_srm" -> ((s, dir) => {
      val d = ev(s, dir)
        .withColumn("arm", (col("user_id") % 2).cast("string"))
      graft.operators.Experiment.srmCheck(d, Seq("event_type"), "arm",
          Seq("0" -> 0.5, "1" -> 0.5))
        .select(col("event_type"), col("n"), r6(col("chi2")).as("chi2"))
        .orderBy("event_type")
    }),

    // empirical-Bayes shrinkage: per-user purchase rate pulled toward the
    // method-of-moments beta prior
    "q278_eb_rates" -> ((s, dir) => {
      val item = ev(s, dir).groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("x"),
          count(lit(1)).as("cnt"))
      graft.operators.Experiment.ebShrinkRates(item, Seq("user_id"), "x", "cnt")
        .select(col("user_id"), col("x"), col("n"),
          r6(col("raw_rate")).as("raw_rate"),
          r6(col("prior_strength")).as("prior_strength"),
          r6(col("shrunk")).as("shrunk"))
        .orderBy("user_id")
    }),

    // tail-conditional mean (CVaR / expected shortfall): top-decile tail by
    // INTEGER rank cut with id tie-break — never an interpolated threshold
    "q279_cvar" -> ((s, dir) => {
      graft.operators.Profile.tailMean(ev(s, dir), Seq("event_type"),
          "value", "event_id", tailNum = 1, tailDen = 10)
        .select(col("event_type"), col("n"), col("k_tail"),
          r6(col("var_threshold")).as("var_threshold"),
          r6(col("tail_mean")).as("tail_mean"))
        .orderBy("event_type")
    }),

    // local-maxima peaks on the hourly per-user count series (strict > over
    // ±2 neighbors; integer counts so the flag is deterministic)
    "q280_peaks" -> ((s, dir) => {
      val hourly = ev(s, dir)
        .withColumn("ts_sec", unix_timestamp(col("ts").cast("timestamp")))
        .withColumn("bucket_start", col("ts_sec") - pmod(col("ts_sec"), lit(3600L)))
        .groupBy(col("user_id"), col("bucket_start"))
        .agg(count(lit(1)).as("cnt"))
      graft.operators.Anomaly.peaks(hourly, Seq("user_id"), "bucket_start",
          "cnt", radius = 2)
        .filter(col("is_peak"))
        .select(col("user_id"), col("bucket_start"), col("cnt"))
        .orderBy("user_id", "bucket_start")
    }),

    // closed-form multivariate OLS (value ~ hour-of-day + day-of-month):
    // one moment-sum pass + literal Cramer solve, replayed token-for-token
    "q281_ols" -> ((s, dir) => {
      val d = ev(s, dir)
        .withColumn("x1", hour(col("ts").cast("timestamp")).cast("double"))
        .withColumn("x2", dayofmonth(col("ts").cast("timestamp")).cast("double"))
      graft.operators.Features.olsFit(d, Seq("event_type"), "value", "x1", "x2")
        .select(col("event_type"), col("n"), r6(col("b0")).as("b0"),
          r6(col("b1")).as("b1"), r6(col("b2")).as("b2"), r6(col("r2")).as("r2"))
        .orderBy("event_type")
    }),

    // Hurst exponent (aggregated-variance method) of the daily count
    // series per type; dyadic blocks 1/2/4, whole blocks only (daily grain
    // keeps the series dense enough for complete blocks at every sf)
    "q282_hurst" -> ((s, dir) => {
      val daily = ev(s, dir)
        .withColumn("ts_sec", unix_timestamp(col("ts").cast("timestamp")))
        .withColumn("idx", expr("ts_sec div 86400L"))
        .groupBy(col("event_type"), col("idx"))
        .agg(count(lit(1)).cast("double").as("v"))
      graft.operators.Features.hurst(daily, Seq("event_type"), "idx", "v",
          ms = Seq(1, 2, 4))
        .select(col("event_type"), col("n_blocks"), r6(col("slope")).as("slope"),
          r6(col("hurst")).as("hurst"))
        .orderBy("event_type")
    }),

    // mSPRT always-valid p-value sequence: user-parity arms, daily
    // checkpoints, tau^2 = 1 — the peeking-safe A/B readout
    "q283_msprt" -> ((s, dir) => {
      val d = ev(s, dir)
        .withColumn("_us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("day", expr("(_us - 1704067200000000L) div 86400000000L"))
        .withColumn("arm", (col("user_id") % 2).cast("string"))
      graft.operators.Experiment.msprt(d, Seq("event_type"), "day", "arm",
          "0", "1", "value", tauSq = 1.0)
        .select(col("event_type"), col("day"), col("n_a"), col("n_b"),
          r6(col("delta")).as("delta"), r6(col("lambda")).as("lambda"),
          r6(col("p_always_valid")).as("p_always_valid"))
        .orderBy("event_type", "day")
    }),

    // late-data tier upsert: 1m tier from on-time events, the late 20%
    // merged in by Rollup.upsertPoints (only touched buckets re-merge; the
    // oracle recomputes the 1m grain from ALL events incl. exact p50/p95 —
    // proving upsert(tier(base), late) == tier(base ∪ late) through the
    // Gorilla block path)
    "q284_late_upsert" -> ((s, dir) => {
      def t1m(d: DataFrame): DataFrame = d
        .withColumn("ts_sec", unix_timestamp(col("ts").cast("timestamp")))
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
      val all = ev(s, dir)
      val tier = t1m(all.filter(pmod(col("event_id"), lit(5L)) =!= 0L))
      val late = t1m(all.filter(pmod(col("event_id"), lit(5L)) === 0L))
      Rollup.upsertPoints(tier, late, groupCols = Seq("user_id"))
        .select(col("user_id"), col("bucket_start"), col("cnt"),
          r6(col("sum_len")).as("sum_value"), r6(col("min_len")).as("min_value"),
          r6(col("max_len")).as("max_value"), r6(col("p50_len")).as("p50"),
          r6(col("p95_len")).as("p95"))
        .orderBy("user_id", "bucket_start")
    }),

    // multi-window SLO burn rate: hourly error share per user-shard, 6h
    // fast / 24h slow windows against a 0.2 budget — alert when both burn
    "q285_burn_rate" -> ((s, dir) => {
      val d = ev(s, dir).withColumn("shard", (col("user_id") % 4).cast("string"))
      graft.operators.Anomaly.burnRate(d, Seq("shard"), "ts",
          col("event_type") === "error", bucketSeconds = 3600L,
          shortBuckets = 6, longBuckets = 24, budget = 0.2, threshold = 1.05)
        .select(col("shard"), col("bucket_start"), col("total"), col("errors"),
          r6(col("rate_short")).as("rate_short"),
          r6(col("rate_long")).as("rate_long"),
          col("alert").cast("int").as("alert"))
        .orderBy("shard", "bucket_start")
    }),

    // Tukey median polish of the (weekday × week) count matrix per type —
    // integer cells make every sweep median an exact dyadic rational
    "q286_median_polish" -> ((s, dir) => {
      val cells = ev(s, dir)
        .withColumn("dow", dayofweek(col("ts").cast("timestamp")))
        .withColumn("_us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("wk", expr("(_us - 1704067200000000L) div 604800000000L"))
        .groupBy(col("event_type"), col("dow"), col("wk"))
        .agg(count(lit(1)).cast("double").as("v"))
      graft.operators.Robust.medianPolish(cells, Seq("event_type"), "dow",
          "wk", "v", iterations = 2)
        .select(col("event_type"), col("dow"), col("wk"),
          r6(col("row_eff")).as("row_eff"), r6(col("col_eff")).as("col_eff"),
          r6(col("residual")).as("residual"))
        .orderBy("event_type", "dow", "wk")
    }),

    // two-state Viterbi burst segmentation (Kleinberg-shaped) on hourly
    // counts; INTEGER L1 emission costs and integer gamma = per-key base
    // rate, so the optimal path is bit-exact cross-engine
    "q287_bursts" -> ((s, dir) => {
      val hourly = ev(s, dir)
        .withColumn("ts_sec", unix_timestamp(col("ts").cast("timestamp")))
        .withColumn("bucket_start", col("ts_sec") - pmod(col("ts_sec"), lit(3600L)))
        .groupBy(col("event_type"), col("bucket_start"))
        .agg(count(lit(1)).as("n"))
      val base = hourly.groupBy(col("event_type"))
        .agg(expr("sum(n) div count(1)").as("mu"))
      val costed = hourly.join(base, Seq("event_type"))
        .withColumn("e0", abs(col("n") - col("mu")).cast("double"))
        .withColumn("e1", abs(col("n") - lit(2L) * col("mu")).cast("double"))
      graft.operators.Anomaly.burstSegments(costed, Seq("event_type"),
          "bucket_start", "e0", "e1", col("mu"))
        .select(col("event_type"), col("ts_sec").as("bucket_start"),
          r6(col("cost_base")).as("cost_base"),
          r6(col("cost_burst")).as("cost_burst"),
          col("burst").cast("int").as("burst"))
        .orderBy("event_type", "bucket_start")
    }),

    // rate/mix decomposition of the mean-value change across the Jan-16
    // split: which types moved the topline by rate vs by traffic mix
    "q288_rate_mix" -> ((s, dir) => {
      val us = unix_micros(col("ts").cast("timestamp"))
      graft.operators.Experiment.rateMix(ev(s, dir), Seq("event_type"),
          us >= lit(1705363200000000L), "value")
        .select(col("event_type"), col("n1"), col("n2"), r6(col("w1")).as("w1"),
          r6(col("w2")).as("w2"), r6(col("r1")).as("r1"), r6(col("r2")).as("r2"),
          r6(col("rate_effect")).as("rate_effect"),
          r6(col("mix_effect")).as("mix_effect"),
          r6(col("total_effect")).as("total_effect"))
        .orderBy("event_type")
    }),

    // UCB1 allocation scores per shard×arm: deterministic bandit readout,
    // ln over INTEGER pull counts (cross-engine-safe ln domain)
    "q289_ucb1" -> ((s, dir) => {
      val shards = ev(s, dir)
        .withColumn("shard", pmod(col("user_id"), lit(4L)).cast("string"))
      graft.operators.Experiment.ucb1(shards, Seq("shard"), "event_type",
          "value", c = 1.0)
        .select(col("shard"), col("event_type"), col("n"), col("n_total"),
          r6(col("mean")).as("mean"), r6(col("ucb")).as("ucb"))
        .orderBy("shard", "event_type")
    }),

    // one-way ANOVA omnibus F per shard over the literal 5-arm event-type
    // list — per-arm moment sums pivoted to columns, literal-order folds
    "q290_anova" -> ((s, dir) => {
      val shards = ev(s, dir)
        .withColumn("shard", pmod(col("user_id"), lit(4L)).cast("string"))
      graft.operators.Experiment.anovaF(shards, Seq("shard"), "event_type",
          Seq("click", "view", "purchase", "error", "signup"), "value")
        .select(col("shard"), col("n"), r6(col("ssb")).as("ssb"),
          r6(col("ssw")).as("ssw"), r6(col("f_stat")).as("f_stat"))
        .orderBy("shard")
    }),

    // BH-FDR + Holm adjustment within each lang family; hypothesis p-values
    // derived from INTEGER char sums so the p ordering is cross-engine-exact
    "q291_fdr" -> ((s, dir) => {
      val hyp = docs(s, dir).groupBy(col("lang"), col("source"))
        .agg(sum(col("n_chars")).as("_sc"))
        .withColumn("p",
          (pmod(col("_sc"), lit(997L)) + 1).cast("double") / lit(997.0))
      graft.operators.Experiment.fdrAdjust(hyp, Seq("lang"), "p", "source")
        .select(col("lang"), col("source"), r6(col("p")).as("p"),
          col("m"), col("p_rank").cast("long").as("p_rank"),
          r6(col("p_bh")).as("p_bh"), r6(col("p_holm")).as("p_holm"))
        .orderBy("lang", "source")
    }),

    // PACF at lags 1..3 over each event type's daily count series
    // (Durbin–Levinson unrolled — closed-form rationals in the ACF values)
    "q292_pacf" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
        .agg(count(lit(1)).cast("double").as("v"))
      graft.operators.Features.pacf(daily, Seq("event_type"), "d", "v", maxLag = 3)
        .select(col("event_type"), col("lag").cast("long").as("lag"),
          r6(col("pacf")).as("pacf"))
        .orderBy("event_type", "lag")
    }),

    // Chao1 unseen-vocabulary richness per language over document terms
    "q293_chao1" -> ((s, dir) => {
      val terms = docs(s, dir).select(col("lang"),
        explode(graft.functions.Hashing.words(lower(col("text")))).as("term"))
      graft.operators.Profile.chao1(terms, Seq("lang"), "term")
        .select(col("lang"), col("d_observed"), col("f1"), col("f2"),
          r6(col("chao1")).as("chao1"))
        .orderBy("lang")
    }),

    // best single mean-shift changepoint per shard on the hourly count
    // series (binary segmentation top split; integer sums, rank on the
    // 6-dp-rounded gain with a timestamp tie-break)
    "q294_cpt" -> ((s, dir) => {
      val hourly = ev(s, dir)
        .withColumn("shard", pmod(col("user_id"), lit(4L)).cast("string"))
        .withColumn("ts_sec", unix_timestamp(col("ts").cast("timestamp")))
        .withColumn("bucket_start", col("ts_sec") - pmod(col("ts_sec"), lit(3600L)))
        .groupBy(col("shard"), col("bucket_start"))
        .agg(count(lit(1)).as("cnt"))
      graft.operators.Anomaly.binarySegment(hourly, Seq("shard"),
          "bucket_start", "cnt")
        .select(col("shard"), col("n"), col("split_ts"), col("n_left"),
          col("n_right"), r6(col("mean_left")).as("mean_left"),
          r6(col("mean_right")).as("mean_right"), col("gain"))
        .orderBy("shard")
    }),

    // D'Hondt highest-averages apportionment of 10 budget units across the
    // event types by event count (divisor-method sibling of q190's Hamilton)
    "q295_dhondt" -> ((s, dir) => {
      graft.operators.Alloc.dhondt(
          ev(s, dir).withColumn("one", lit(1L)), "event_type", "one", seats = 10)
        .select(col("key"), col("score"), col("alloc"))
        .orderBy("key")
    }),

    // Hodges–Lehmann robust center (median of Walsh averages) of the hourly
    // count series per shard
    "q296_hl" -> ((s, dir) => {
      val hourly = ev(s, dir)
        .withColumn("shard", pmod(col("user_id"), lit(4L)).cast("string"))
        .withColumn("ts_sec", unix_timestamp(col("ts").cast("timestamp")))
        .withColumn("bucket_start", col("ts_sec") - pmod(col("ts_sec"), lit(3600L)))
        .groupBy(col("shard"), col("bucket_start"))
        .agg(count(lit(1)).as("cnt"))
      graft.operators.Robust.hodgesLehmann(hourly, Seq("shard"),
          "bucket_start", "cnt")
        .select(col("shard"), col("n_points"), r6(col("hl_center")).as("hl_center"))
        .orderBy("shard")
    }),

    // Nelson–Aalen cumulative hazard on q271's right-censored churn frame
    "q297_nelson_aalen" -> ((s, dir) => {
      val us = unix_micros(col("ts").cast("timestamp"))
      val subj = ev(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(min(us).as("_f"), max(us).as("_l"))
        .withColumn("dur", expr("(_l - _f) div 86400000000L"))
        .withColumn("e",
          when(col("_l") < lit(1706054400000000L), lit(1)).otherwise(lit(0)))
      graft.operators.Survival.nelsonAalen(subj, Seq("event_type"), "dur", "e")
        .select(col("event_type"), col("t"), col("n_risk"), col("n_event"),
          col("n_censored"), r6(col("cum_hazard")).as("cum_hazard"),
          r6(col("survival_fh")).as("survival_fh"))
        .orderBy("event_type", "t")
    }),

    // Syntetos–Boylan debiased Croston on q83's intermittent daily series
    "q298_sba" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
        .withColumn("v",
          when(pmod(unix_timestamp(col("d")) / 86400, lit(3L)) === 0, col("v"))
            .otherwise(lit(0.0)))
      graft.operators.Forecast.sba(daily, Seq("user_id"), "d", "v",
          alpha = 0.3, horizon = 3, stepSeconds = 86400L)
        .select(col("user_id"), unix_timestamp(col("forecast_ts")).as("forecast_s"),
          col("step").cast("long").as("step"), r6(col("yhat")).as("yhat"))
        .orderBy("user_id", "step")
    }),

    // Lorenz curve of hourly event counts per shard (the curve under q120's
    // Gini); ascending (cnt, bucket) rank, exact integer cumulative sums
    "q299_lorenz" -> ((s, dir) => {
      val hourly = ev(s, dir)
        .withColumn("shard", pmod(col("user_id"), lit(4L)).cast("string"))
        .withColumn("ts_sec", unix_timestamp(col("ts").cast("timestamp")))
        .withColumn("bucket_start", col("ts_sec") - pmod(col("ts_sec"), lit(3600L)))
        .groupBy(col("shard"), col("bucket_start"))
        .agg(count(lit(1)).as("cnt"))
      graft.operators.Profile.lorenz(hourly, Seq("shard"), "cnt", "bucket_start")
        .select(col("shard"), col("i").cast("long").as("i"), col("bucket_start"),
          col("cnt"), r6(col("p_pop")).as("p_pop"), r6(col("p_val")).as("p_val"))
        .orderBy("shard", "i")
    }),

    // MinHash estimate vs exact Jaccard on the bounded q35 corpus slice —
    // the k-calibration readout (k = 8 signature components)
    "q300_mh_est" -> ((s, dir) => {
      val bounded = docs(s, dir).filter(col("doc_id") < 60)
      graft.operators.Dedup.minhashJaccardEst(bounded, "text", "doc_id",
          Seq("lang"), k = 8)
        .select(col("lang"), col("id_a"), col("id_b"),
          r6(col("jaccard")).as("jaccard"), r6(col("est")).as("est"),
          r6(col("err")).as("err"))
        .orderBy("lang", "id_a", "id_b")
    }),

    // Diebold–Mariano on q82's split: does the train-mean forecast beat the
    // last-train-value naive over the 5-day test window (squared loss, h=1)
    "q301_dm" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      val ranked = daily.withColumn("_rd", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("d").desc)))
      val p1 = ranked.filter(col("_rd") > 5)
        .groupBy("user_id").agg(avg(col("v")).as("p1"))
      val p2 = ranked.filter(col("_rd") === 6)
        .select(col("user_id"), col("v").as("p2"))
      val test = ranked.filter(col("_rd") <= 5)
        .join(p1, "user_id").join(p2, "user_id")
      Metrics.dieboldMariano(test, Seq("user_id"), "v", "p1", "p2")
        .select(col("user_id"), col("n"), r6(col("mean_d")).as("mean_d"),
          r6(col("dm_stat")).as("dm_stat"))
        .orderBy("user_id")
    }),

    // experiment sizing readout per event type: arms by event-id parity,
    // deterministic conversion flag; MDE at current traffic + per-arm N
    // required to detect a 10% relative lift
    "q302_mde" -> ((s, dir) => {
      val e = ev(s, dir)
        .withColumn("conv",
          when(pmod(col("event_id"), lit(5L)) === 0, 1L).otherwise(0L))
      graft.operators.Experiment.mdePower(e, Seq("event_type"),
          isControl = pmod(col("event_id"), lit(2L)) === 0,
          convCol = "conv", targetRel = 0.10)
        .select(col("event_type"), col("n_a"), col("n_b"),
          r6(col("p_control")).as("p_control"), r6(col("p_pool")).as("p_pool"),
          r6(col("mde_abs")).as("mde_abs"), r6(col("mde_rel")).as("mde_rel"),
          r6(col("n_required")).as("n_required"))
        .orderBy("event_type")
    }),

    // Burrows' Delta stylistic distance between language slices over the
    // corpus-wide top-20 words — the provenance/style companion to content
    // dedup (same fingerprint ⇒ same template farm)
    "q303_burrows" -> ((s, dir) => {
      TextAnalysis.burrowsDelta(docs(s, dir), "lang", "text", topM = 20)
        .select(col("group_a").as("lang_a"), col("group_b").as("lang_b"),
          col("m_used"), r6(col("delta")).as("delta"))
        .orderBy("lang_a", "lang_b")
    }),

    // Murphy decomposition of q156's Brier score: reliability / resolution /
    // uncertainty over the same 10 fixed bins and scored construction
    "q304_brier_decomp" -> ((s, dir) => {
      val e = ev(s, dir).filter(col("value").isNotNull &&
        col("event_type").isNotNull)
      val st = e.agg(min(col("value")).as("_lo"), max(col("value")).as("_hi"))
      val scored = e.crossJoin(broadcast(st))
        .withColumn("p", when(col("_hi") === col("_lo"), lit(0.0))
          .otherwise((col("value") - col("_lo")) / (col("_hi") - col("_lo"))))
        .withColumn("y", when(col("event_type") === "purchase", lit(1.0))
          .otherwise(lit(0.0)))
      graft.operators.Calibration.brierDecomposition(scored, "p", "y", bins = 10)
        .select(col("n"), r6(col("brier")).as("brier"),
          r6(col("reliability")).as("reliability"),
          r6(col("resolution")).as("resolution"),
          r6(col("uncertainty")).as("uncertainty"))
    }),

    // Theil's U2 on q82's split: train-mean forecast vs the lag-1 naive on
    // the same test rows — the scale-free "does it beat persistence" number
    "q305_theil_u" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      val wAsc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("d"))
      val ranked = daily
        .withColumn("nv", lag(col("v"), 1).over(wAsc))
        .withColumn("_rd", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("d").desc)))
      val p = ranked.filter(col("_rd") > 5)
        .groupBy("user_id").agg(avg(col("v")).as("p"))
      val test = ranked.filter(col("_rd") <= 5).join(p, "user_id")
      Metrics.theilU(test, Seq("user_id"), "v", "p", "nv")
        .select(col("user_id"), r6(col("theil_u")).as("theil_u"), col("n"))
        .orderBy("user_id")
    }),

    // hierarchical forecast reconciliation (top-down by historical
    // proportions + the bottom-up coherence column): per-user mean-daily
    // base forecasts disaggregated from the shard-level forecast
    "q306_reconcile" -> ((s, dir) => {
      val daily = ev(s, dir)
        .withColumn("shard", pmod(col("user_id"), lit(4L)).cast("string"))
        .groupBy(col("shard"), col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      val childFc = daily.groupBy("shard", "user_id").agg(avg(col("v")).as("yhat"))
      val parentFc = daily.groupBy(col("shard"), col("d"))
        .agg(sum(col("v")).as("pv"))
        .groupBy("shard").agg(avg(col("pv")).as("yhat"))
      graft.operators.Forecast.reconcileTopDown(daily, childFc, parentFc,
          Seq("shard"), Seq("shard", "user_id"), "v", "yhat")
        .select(col("shard"), col("user_id"), r6(col("yhat")).as("yhat_base"),
          r6(col("prop")).as("prop"), r6(col("yhat_td")).as("yhat_td"),
          r6(col("yhat_bu")).as("yhat_bu"))
        .orderBy("shard", "user_id")
    }),

    // TSB intermittent-demand forecast on q298's every-3rd-day demand mask —
    // the probability level (updated EVERY period) is what distinguishes it
    // from Croston/SBA
    "q307_tsb" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
        .withColumn("v",
          when(pmod(unix_timestamp(col("d")) / 86400, lit(3L)) === 0, col("v"))
            .otherwise(lit(0.0)))
      graft.operators.Forecast.tsb(daily, Seq("user_id"), "d", "v",
          alpha = 0.3, beta = 0.2, horizon = 3, stepSeconds = 86400L)
        .select(col("user_id"), unix_timestamp(col("forecast_ts")).as("forecast_s"),
          col("step").cast("long").as("step"), r6(col("yhat")).as("yhat"))
        .orderBy("user_id", "step")
    }),

    // Trigg tracking signal over the expanding-mean one-step forecast:
    // cumulative error / cumulative MAD, |TS| > 4 alarms
    "q308_tracking_signal" -> ((s, dir) => {
      val wPrev = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("d"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      val withFc = daily.withColumn("fc", avg(col("v")).over(wPrev))
        .filter(col("fc").isNotNull)
      Metrics.trackingSignal(withFc, Seq("user_id"), "d", "v", "fc")
        .select(col("user_id"), unix_timestamp(col("d")).as("d_s"),
          r6(col("cum_err")).as("cum_err"), r6(col("mad")).as("mad"),
          r6(col("tsig")).as("tsig"), col("alarm"))
        .orderBy("user_id", "d_s")
    }),

    // forecast value added: does the expanding-mean model beat the lag-1
    // naive per user? FVA = (MAE_naive - MAE_model) / MAE_naive
    "q309_fva" -> ((s, dir) => {
      val wAsc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("d"))
      val wPrev = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("d"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val daily = ev(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .agg(sum(col("value")).as("v"))
      val staged = daily
        .withColumn("naive", lag(col("v"), 1).over(wAsc))
        .withColumn("fc", avg(col("v")).over(wPrev))
        .filter(col("naive").isNotNull && col("fc").isNotNull)
      staged.groupBy("user_id")
        .agg(avg(abs(col("v") - col("naive"))).as("mae_naive"),
          avg(abs(col("v") - col("fc"))).as("mae_model"),
          count(lit(1)).as("n"))
        .withColumn("fva", when(col("mae_naive") > 0,
          (col("mae_naive") - col("mae_model")) / col("mae_naive")))
        .select(col("user_id"), r6(col("mae_naive")).as("mae_naive"),
          r6(col("mae_model")).as("mae_model"), r6(col("fva")).as("fva"),
          col("n"))
        .orderBy("user_id")
    }),
  )

  val oracles: Seq[(String, String)] = Seq(
    // q229's rollup + a parent equi-join; every share one division of the
    // exact integer sums
    "q242_tree_share" ->
      """WITH p AS (SELECT '/' || source || '/' || lang || '/d' || (doc_id % 20) AS path,
        |    n_chars FROM documents),
        |x AS (SELECT t.d::INTEGER AS depth,
        |    '/' || array_to_string((string_split(ltrim(path, '/'), '/'))[1:t.d], '/') AS prefix,
        |    n_chars
        |  FROM p CROSS JOIN generate_series(1, 3) t(d)),
        |roll AS (SELECT depth, prefix, sum(n_chars)::BIGINT AS w_sum
        |  FROM x GROUP BY 1, 2),
        |r AS (SELECT depth, prefix, w_sum,
        |    CASE WHEN depth = 1 THEN NULL
        |         ELSE regexp_replace(prefix, '/[^/]+$', '') END AS pp FROM roll),
        |tot AS (SELECT sum(w_sum) AS rw FROM roll WHERE depth = 1)
        |SELECT r.depth, r.prefix, r.w_sum,
        |  coalesce(par.w_sum, tot.rw)::BIGINT AS parent_w,
        |  round(r.w_sum::DOUBLE / coalesce(par.w_sum, tot.rw)::DOUBLE, 6) AS parent_share
        |FROM r LEFT JOIN roll par ON par.depth = r.depth - 1 AND par.prefix = r.pp
        |CROSS JOIN tot
        |ORDER BY 1, 2""".stripMargin,

    // integer leaderboard: identical rank order (cnt DESC, key), previous
    // week via a (period+1, key) self-join
    "q243_trending" ->
      """WITH a AS (SELECT event_type,
        |    (floor(epoch(ts))::BIGINT // 86400) // 7 AS week FROM events),
        |c AS (SELECT week, event_type, count(*) AS cnt FROM a GROUP BY 1, 2),
        |rk AS (SELECT week, event_type, cnt,
        |    row_number() OVER (PARTITION BY week ORDER BY cnt DESC, event_type) AS rank
        |  FROM c)
        |SELECT x.week, x.event_type, x.cnt, x.rank,
        |  y.rank AS prev_rank, y.rank - x.rank AS rank_delta
        |FROM rk x LEFT JOIN rk y
        |  ON y.week = x.week - 1 AND y.event_type = x.event_type
        |ORDER BY x.week, x.rank""".stripMargin,

    // Hamilton quotas on stratum sizes + per-stratum seeded-hash rank —
    // the full sample replayed row-for-row
    "q244_stratified" ->
      """WITH d AS (SELECT doc_id, source FROM documents),
        |sz AS (SELECT source, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT sum(n) AS s_total FROM sz),
        |b AS (SELECT source, n, (n * 100) // s_total AS base,
        |    n * 100 - ((n * 100) // s_total) * s_total AS rem
        |  FROM sz CROSS JOIN t),
        |l AS (SELECT 100 - sum(base) AS leftover FROM b),
        |q AS (SELECT source, base + CASE WHEN
        |    row_number() OVER (ORDER BY rem DESC, source) <= l.leftover
        |    THEN 1 ELSE 0 END AS quota
        |  FROM b CROSS JOIN l),
        |r AS (SELECT d.doc_id, d.source,
        |    row_number() OVER (PARTITION BY d.source
        |      ORDER BY ('0x' || substr(md5('ss1:' || d.doc_id::VARCHAR), 1, 15))::BIGINT,
        |        d.doc_id) AS rk
        |  FROM d)
        |SELECT r.doc_id, r.source FROM r JOIN q ON q.source = r.source
        |WHERE r.rk <= q.quota ORDER BY doc_id""".stripMargin,

    // add-1 odds ratio on exact integer counts, q35's tokenizer
    "q245_distinctive" ->
      """WITH tk AS (SELECT (doc_id % 2 = 0) AS a,
        |    unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x <> '')) AS word
        |  FROM documents),
        |pw AS (SELECT word,
        |    sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS y_a,
        |    sum(CASE WHEN a THEN 0 ELSE 1 END)::BIGINT AS y_b
        |  FROM tk GROUP BY 1),
        |t AS (SELECT sum(y_a) AS n_a, sum(y_b) AS n_b FROM pw)
        |SELECT word, y_a, y_b,
        |  round(((y_a + 1)::DOUBLE / (n_a - y_a + 1)::DOUBLE) /
        |        ((y_b + 1)::DOUBLE / (n_b - y_b + 1)::DOUBLE), 6) AS odds_ratio
        |FROM pw CROSS JOIN t WHERE y_a + y_b >= 50 ORDER BY word""".stripMargin,

    // elementwise replay: same abs-max, same floor(x/scale+0.5) rounding,
    // same clamp, same left-to-right reconstruction cosine
    "q246_quantize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |    CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
        |      THEN list_max(list_transform(v, x -> abs(x))) / 127.0::DOUBLE
        |    END AS scale FROM e),
        |c AS (SELECT vec_id, v, scale,
        |    CASE WHEN scale IS NOT NULL THEN
        |      list_transform(v, x -> greatest(-127, least(127,
        |        floor(x / scale + 0.5)::BIGINT)))
        |    END AS codes FROM s),
        |d AS (SELECT vec_id, v, scale, codes,
        |    CASE WHEN scale IS NOT NULL THEN
        |      list_transform(codes, q -> q::DOUBLE * scale)
        |    END AS deq FROM c)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  array_to_string(codes, ',') AS codes_csv,
        |  round(list_dot_product(v, deq) /
        |    (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(deq, deq))), 6)
        |    AS recon_cos
        |FROM d ORDER BY vec_id""".stripMargin,

    // window-2 skip-grams via zipped parallel unnests (d = 1 and d = 2),
    // both orientations, integer counts
    "q247_skipgrams" ->
      """WITH w AS (SELECT list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    x -> x <> '') AS ws FROM documents),
        |w2 AS (SELECT ws FROM w WHERE len(ws) >= 2),
        |p AS (
        |  SELECT unnest(list_transform(generate_series(1, greatest(len(ws)-1, 0)), i -> ws[i])) AS a,
        |         unnest(list_transform(generate_series(1, greatest(len(ws)-1, 0)), i -> ws[i+1])) AS b
        |  FROM w2
        |  UNION ALL
        |  SELECT unnest(list_transform(generate_series(1, greatest(len(ws)-2, 0)), i -> ws[i])),
        |         unnest(list_transform(generate_series(1, greatest(len(ws)-2, 0)), i -> ws[i+2]))
        |  FROM w2),
        |u AS (SELECT a AS center, b AS context FROM p
        |      UNION ALL SELECT b, a FROM p)
        |SELECT center, context, count(*) AS n FROM u
        |GROUP BY 1, 2 HAVING count(*) >= 5 ORDER BY 1, 2""".stripMargin,

    // quantile_cont quartiles, same fence order q1 - 1.5*(q3-q1)
    "q248_tukey" ->
      """WITH q AS (SELECT event_type,
        |    quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY 1),
        |f AS (SELECT event_type, q1, q3,
        |    q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi FROM q),
        |c AS (SELECT e.event_type,
        |    sum(CASE WHEN e.value < f.lo THEN 1 ELSE 0 END)::BIGINT AS n_below,
        |    sum(CASE WHEN e.value > f.hi THEN 1 ELSE 0 END)::BIGINT AS n_above,
        |    count(*) AS n
        |  FROM events e JOIN f ON f.event_type = e.event_type GROUP BY 1)
        |SELECT c.event_type, round(f.q1, 6) AS q1, round(f.q3, 6) AS q3,
        |  round(f.lo, 6) AS lo_fence, round(f.hi, 6) AS hi_fence,
        |  n_below, n_above, n
        |FROM c JOIN f USING (event_type) ORDER BY 1""".stripMargin,

    // DuckDB dayofweek is 0=Sunday, Spark's is 1=Sunday -> +1 in the oracle
    "q249_contingency" ->
      """WITH d AS (SELECT event_type AS a, (dayofweek(ts) + 1)::INTEGER AS b
        |  FROM events),
        |cells AS (SELECT a, b, count(*) AS o FROM d GROUP BY 1, 2),
        |rt AS (SELECT a, sum(o)::BIGINT AS row_tot FROM cells GROUP BY 1),
        |ct AS (SELECT b, sum(o)::BIGINT AS col_tot FROM cells GROUP BY 1),
        |n AS (SELECT sum(o)::BIGINT AS n_tot FROM cells)
        |SELECT cells.a AS event_type, cells.b AS dow, cells.o,
        |  rt.row_tot, ct.col_tot,
        |  round((rt.row_tot * ct.col_tot)::DOUBLE / n.n_tot::DOUBLE, 6) AS expected,
        |  round((cells.o::DOUBLE - (rt.row_tot * ct.col_tot)::DOUBLE / n.n_tot::DOUBLE)
        |    / sqrt((rt.row_tot * ct.col_tot)::DOUBLE / n.n_tot::DOUBLE), 6) AS residual
        |FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN n
        |ORDER BY 1, 2""".stripMargin,

    // the direct θ-join IS the oracle for the bucketized equi-join plan
    "q250_overlap_join" ->
      """WITH base AS (SELECT event_id, user_id, event_type,
        |    floor(epoch(ts))::BIGINT AS start_s FROM events),
        |a AS (SELECT event_id, user_id, start_s,
        |    start_s + (event_id % 7 + 1) * 60 AS end_s
        |  FROM base WHERE user_id < 30),
        |b AS (SELECT event_id AS incident_id, start_s, start_s + 1800 AS end_s
        |  FROM base WHERE event_type = 'error')
        |SELECT a.event_id AS a_event_id, a.user_id AS a_user_id,
        |  b.incident_id AS b_incident_id,
        |  least(a.end_s, b.end_s) - greatest(a.start_s, b.start_s) AS overlap_s
        |FROM a JOIN b ON a.start_s < b.end_s AND b.start_s < a.end_s
        |ORDER BY 1, 3""".stripMargin,

    // S as an integer sign sum over ordered day pairs; tau-b ties from
    // integer t(t-1)/2 sums; one sqrt at the end
    "q251_kendall" ->
      """WITH d AS (SELECT event_type,
        |    floor(epoch(ts))::BIGINT // 86400 AS day,
        |    count(*) AS x, count(DISTINCT user_id) AS y
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |    sum(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1
        |             WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN -1 ELSE 0 END)::BIGINT AS s
        |  FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day
        |  GROUP BY 1),
        |tx AS (SELECT event_type, sum((t * (t - 1)) // 2)::BIGINT AS n1
        |  FROM (SELECT event_type, x, count(*) AS t FROM d GROUP BY 1, 2)
        |  GROUP BY 1),
        |ty AS (SELECT event_type, sum((t * (t - 1)) // 2)::BIGINT AS n2
        |  FROM (SELECT event_type, y, count(*) AS t FROM d GROUP BY 1, 2)
        |  GROUP BY 1),
        |nn AS (SELECT event_type, count(*) AS n FROM d GROUP BY 1)
        |SELECT p.event_type, p.s, nn.n,
        |  round(CASE WHEN (nn.n * (nn.n - 1)) // 2 - tx.n1 > 0
        |              AND (nn.n * (nn.n - 1)) // 2 - ty.n2 > 0
        |    THEN p.s::DOUBLE / sqrt(((nn.n * (nn.n - 1)) // 2 - tx.n1)::DOUBLE *
        |                            ((nn.n * (nn.n - 1)) // 2 - ty.n2)::DOUBLE)
        |  END, 6) AS tau_b
        |FROM p JOIN tx USING (event_type) JOIN ty USING (event_type)
        |JOIN nn USING (event_type) ORDER BY 1""".stripMargin,

    // q238's latency frame rolled to signup-week cohorts
    "q252_cohort_conversion" ->
      """WITH s AS (SELECT user_id, min(epoch_us(ts)) AS from_us
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |e AS (SELECT user_id, epoch_us(ts) AS to_us
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT s.user_id, s.from_us,
        |    min(CASE WHEN e.to_us >= s.from_us THEN e.to_us END) AS to_us
        |  FROM s LEFT JOIN e ON e.user_id = s.user_id GROUP BY 1, 2)
        |SELECT (from_us // 1000000 // 86400) // 7 AS cohort_week,
        |  count(*) AS n_started,
        |  sum(CASE WHEN to_us IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_converted,
        |  round(sum(CASE WHEN to_us IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*)::DOUBLE, 6) AS conv_rate
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    // same sentence/word/vowel-group regexes; DuckDB lateral aliases keep
    // the formula readable
    "q253_readability" ->
      """SELECT doc_id,
        |  len(list_filter(regexp_split_to_array(text, '[.!?]+'),
        |    x -> trim(x) <> ''))::BIGINT AS n_sent,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    x -> x <> ''))::BIGINT AS n_words,
        |  len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT AS n_syll,
        |  round(CASE WHEN n_sent >= 1 AND n_words >= 1 THEN
        |    206.835::DOUBLE
        |      - 1.015::DOUBLE * (n_words::DOUBLE / n_sent::DOUBLE)
        |      - 84.6::DOUBLE * (n_syll::DOUBLE / n_words::DOUBLE) END, 6) AS flesch
        |FROM documents ORDER BY doc_id""".stripMargin,

    // integer gap power sums; identical (t, event_id) window order
    "q254_gap_regularity" ->
      """WITH o AS (SELECT user_id, floor(epoch(ts))::BIGINT AS t, event_id
        |  FROM events),
        |g AS (SELECT user_id,
        |    t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS gap
        |  FROM o),
        |a AS (SELECT user_id, count(*) AS n_gaps, sum(gap)::BIGINT AS sum_gap_s,
        |    sum(gap * gap)::BIGINT AS sum_gap2
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_gaps, sum_gap_s,
        |  round(sum_gap_s::DOUBLE / n_gaps::DOUBLE, 6) AS mean_gap_s,
        |  round(CASE WHEN n_gaps >= 2 AND sum_gap_s > 0 THEN
        |    sqrt((n_gaps * sum_gap2 - sum_gap_s * sum_gap_s)::DOUBLE)
        |      / sum_gap_s::DOUBLE END, 6) AS gap_cv
        |FROM a ORDER BY user_id""".stripMargin,

    "q255_syndication" ->
      """WITH corpus AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'mirror', text FROM documents WHERE doc_id % 4 = 0),
        |d AS (SELECT DISTINCT source AS src, md5(text) AS dig FROM corpus)
        |SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_shared
        |FROM d a JOIN d b ON a.dig = b.dig AND a.src < b.src
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the engine collects the category domain sorted (click, error,
    // purchase, signup, view) and sums entropy terms in that literal
    // order — the oracle evaluates the identical left-assoc chain
    "q256_entropy" ->
      """WITH c AS (SELECT user_id, count(*) AS n,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS c0,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS c1,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS c2,
        |    sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS c3,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS c4
        |  FROM events GROUP BY 1)
        |SELECT user_id, n,
        |  ((CASE WHEN c0 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c1 > 0 THEN 1 ELSE 0 END)
        |   + (CASE WHEN c2 > 0 THEN 1 ELSE 0 END) + (CASE WHEN c3 > 0 THEN 1 ELSE 0 END)
        |   + (CASE WHEN c4 > 0 THEN 1 ELSE 0 END))::BIGINT AS n_cats,
        |  round(
        |    (CASE WHEN c0 > 0 THEN -((c0::DOUBLE / n::DOUBLE) * ln(c0::DOUBLE / n::DOUBLE)) ELSE 0.0::DOUBLE END)
        |    + (CASE WHEN c1 > 0 THEN -((c1::DOUBLE / n::DOUBLE) * ln(c1::DOUBLE / n::DOUBLE)) ELSE 0.0::DOUBLE END)
        |    + (CASE WHEN c2 > 0 THEN -((c2::DOUBLE / n::DOUBLE) * ln(c2::DOUBLE / n::DOUBLE)) ELSE 0.0::DOUBLE END)
        |    + (CASE WHEN c3 > 0 THEN -((c3::DOUBLE / n::DOUBLE) * ln(c3::DOUBLE / n::DOUBLE)) ELSE 0.0::DOUBLE END)
        |    + (CASE WHEN c4 > 0 THEN -((c4::DOUBLE / n::DOUBLE) * ln(c4::DOUBLE / n::DOUBLE)) ELSE 0.0::DOUBLE END)
        |  , 6) AS entropy
        |FROM c ORDER BY user_id""".stripMargin,

    "q257_topk_other" ->
      """WITH c AS (SELECT lang, source, count(*) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, source, cnt,
        |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, source) AS rk
        |  FROM c)
        |SELECT lang, CASE WHEN rk <= 2 THEN source ELSE 'OTHER' END AS category,
        |  sum(cnt)::BIGINT AS cnt
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q104's funnel CTE aggregated to reached-counts + guarded shares
    "q258_funnel_dropoff" ->
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
        |u AS (SELECT DISTINCT user_id FROM events),
        |m AS (SELECT u.user_id,
        |    (CASE WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END
        |     + CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END
        |     + CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END) AS max_step
        |  FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |    LEFT JOIN s3 USING (user_id)),
        |a AS (SELECT count(*) AS n_users,
        |    sum(CASE WHEN max_step >= 1 THEN 1 ELSE 0 END)::BIGINT AS reached_1,
        |    sum(CASE WHEN max_step >= 2 THEN 1 ELSE 0 END)::BIGINT AS reached_2,
        |    sum(CASE WHEN max_step >= 3 THEN 1 ELSE 0 END)::BIGINT AS reached_3
        |  FROM m)
        |SELECT n_users, reached_1, reached_2, reached_3,
        |  round(reached_1::DOUBLE / n_users::DOUBLE, 6) AS conv_0_1,
        |  round(CASE WHEN reached_1 > 0
        |    THEN reached_2::DOUBLE / reached_1::DOUBLE END, 6) AS conv_1_2,
        |  round(CASE WHEN reached_2 > 0
        |    THEN reached_3::DOUBLE / reached_2::DOUBLE END, 6) AS conv_2_3
        |FROM a""".stripMargin,

    // two unrolled support-peel rounds (k-2 = 1), then the final
    // in-subgraph support — identical bounded-round contract to q221
    "q259_ktruss" ->
      """WITH raw AS (
        |  SELECT doc_id AS s, (doc_id + 1) % (SELECT count(*) FROM documents) AS t FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id*doc_id + 3) % (SELECT count(*) FROM documents) FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id // 2) FROM documents),
        |u0 AS (SELECT DISTINCT least(s, t) AS x, greatest(s, t) AS y FROM raw WHERE s <> t),
        |a0 AS (SELECT x AS v, y AS n FROM u0 UNION ALL SELECT y, x FROM u0),
        |s0 AS (SELECT e.x, e.y, count(*) AS sup FROM u0 e
        |  JOIN a0 p ON p.v = e.x JOIN a0 q ON q.v = e.y AND q.n = p.n
        |  GROUP BY 1, 2),
        |u1 AS (SELECT e.x, e.y FROM u0 e
        |  JOIN s0 ON s0.x = e.x AND s0.y = e.y AND s0.sup >= 1),
        |a1 AS (SELECT x AS v, y AS n FROM u1 UNION ALL SELECT y, x FROM u1),
        |s1 AS (SELECT e.x, e.y, count(*) AS sup FROM u1 e
        |  JOIN a1 p ON p.v = e.x JOIN a1 q ON q.v = e.y AND q.n = p.n
        |  GROUP BY 1, 2),
        |u2 AS (SELECT e.x, e.y FROM u1 e
        |  JOIN s1 ON s1.x = e.x AND s1.y = e.y AND s1.sup >= 1),
        |a2 AS (SELECT x AS v, y AS n FROM u2 UNION ALL SELECT y, x FROM u2),
        |s2 AS (SELECT e.x, e.y, count(*) AS sup FROM u2 e
        |  JOIN a2 p ON p.v = e.x JOIN a2 q ON q.v = e.y AND q.n = p.n
        |  GROUP BY 1, 2)
        |SELECT u2.x, u2.y, coalesce(s2.sup, 0)::BIGINT AS support
        |FROM u2 LEFT JOIN s2 ON s2.x = u2.x AND s2.y = u2.y
        |WHERE coalesce(s2.sup, 0) >= 1
        |ORDER BY 1, 2""".stripMargin,

    // rank arithmetic replayed: score = 1 + (0-based rank * 5) // n
    "q260_rfm" ->
      """WITH base AS (
        |  SELECT o_custkey, epoch_us(max(o_orderdate))::BIGINT AS recency_us,
        |    count(*)::BIGINT AS frequency, round(sum(o_totalprice), 6) AS monetary
        |  FROM orders GROUP BY 1),
        |r AS (SELECT *,
        |  row_number() OVER (ORDER BY recency_us, o_custkey) - 1 AS rr,
        |  row_number() OVER (ORDER BY frequency, o_custkey) - 1 AS fr,
        |  row_number() OVER (ORDER BY monetary, o_custkey) - 1 AS mr,
        |  count(*) OVER () AS n FROM base)
        |SELECT o_custkey, recency_us, frequency, monetary,
        |  (1 + (rr * 5) // n)::BIGINT AS r_score,
        |  (1 + (fr * 5) // n)::BIGINT AS f_score,
        |  (1 + (mr * 5) // n)::BIGINT AS m_score
        |FROM r ORDER BY o_custkey""".stripMargin,

    // per-term float order matches the Spark side exactly:
    // value * ((nxt - us) / 1e6), summed then divided by the duration
    "q261_twa" ->
      """WITH o AS (SELECT user_id, epoch_us(ts) AS us, value,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events)
        |SELECT user_id, count(*)::BIGINT AS n_points,
        |  round((max(us) - min(us)) / 1e6, 6) AS duration_s,
        |  round(sum(value * ((nxt - us) / 1e6)) /
        |    (CASE WHEN max(us) > min(us) THEN (max(us) - min(us)) / 1e6 END), 6) AS twa
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,

    "q262_stickiness" ->
      """WITH pairs AS (SELECT DISTINCT user_id AS u, ts::DATE AS d FROM events),
        |days AS (SELECT d, count(*)::BIGINT AS dau FROM pairs GROUP BY 1),
        |w AS (SELECT dd.d, count(DISTINCT p.u)::BIGINT AS window_active
        |  FROM (SELECT DISTINCT d FROM pairs) dd
        |  JOIN pairs p ON dd.d BETWEEN p.d AND p.d + 6
        |  GROUP BY 1)
        |SELECT floor(epoch(days.d::TIMESTAMP))::BIGINT AS day_s, days.dau,
        |  w.window_active, round(days.dau / w.window_active, 6) AS stickiness
        |FROM days JOIN w ON days.d = w.d ORDER BY 1""".stripMargin,

    // exact integer-cents replay: sums are exact BIGINTs, the two divisions
    // (cum/n, then /100) are deterministic double ops in the same order
    "q263_ltv_curve" ->
      """WITH f AS (SELECT o_custkey AS cust,
        |    (year(o_orderdate)*12 + month(o_orderdate))::INT AS ym,
        |    floor(o_totalprice * 100 + 0.5)::BIGINT AS amt FROM orders),
        |fst AS (SELECT cust, min(ym) AS cohort_ym FROM f GROUP BY 1),
        |sizes AS (SELECT cohort_ym, count(*)::BIGINT AS n_customers
        |  FROM fst GROUP BY 1),
        |cells AS (SELECT fst.cohort_ym, f.ym - fst.cohort_ym AS offset_m,
        |    sum(amt)::BIGINT AS rev
        |  FROM f JOIN fst USING (cust) GROUP BY 1, 2),
        |c AS (SELECT cohort_ym, offset_m, rev,
        |  (sum(rev) OVER (PARTITION BY cohort_ym ORDER BY offset_m))::BIGINT AS cum
        |  FROM cells)
        |SELECT c.cohort_ym, c.offset_m, s.n_customers,
        |  rev / 100 AS revenue, cum / 100 AS cum_revenue,
        |  (cum / s.n_customers) / 100 AS ltv
        |FROM c JOIN sizes s USING (cohort_ym)
        |ORDER BY 1, 2""".stripMargin,

    // the bloom pre-filter is result-invisible: exact IN-subquery twin
    "q264_bloom_semi" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n_rows,
        |  round(sum(l_quantity), 6) AS sum_qty
        |FROM lineitem WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // truncated-RBO replay: an item in both top-10 prefixes contributes
    // w(m) = Σ_{k=m..10} 0.9^(k-1)/k once, from m = max(rank_a, rank_b) —
    // the weights are the plan-time constants the operator plants
    "q265_rbo" ->
      """WITH a AS (SELECT l_returnflag AS g, s_nationkey AS item, count(*) AS cnt
        |    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |    WHERE year(l_shipdate) = 1995 GROUP BY 1, 2),
        |b AS (SELECT l_returnflag AS g, s_nationkey AS item, count(*) AS cnt
        |    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |    WHERE year(l_shipdate) = 1996 GROUP BY 1, 2),
        |ra AS (SELECT g, item, row_number() OVER
        |    (PARTITION BY g ORDER BY cnt DESC, item) AS r FROM a),
        |rb AS (SELECT g, item, row_number() OVER
        |    (PARTITION BY g ORDER BY cnt DESC, item) AS r FROM b),
        |j AS (SELECT ra.g, greatest(ra.r, rb.r) AS m
        |  FROM ra JOIN rb ON ra.g = rb.g AND ra.item = rb.item
        |  WHERE ra.r <= 10 AND rb.r <= 10)
        |SELECT g AS l_returnflag, count(*)::BIGINT AS n_common,
        |  round(0.09999999999999998 * sum(CASE m
        |    WHEN 1 THEN 2.354163994257143
        |    WHEN 2 THEN 1.3541639942571426
        |    WHEN 3 THEN 0.904163994257143
        |    WHEN 4 THEN 0.634163994257143
        |    WHEN 5 THEN 0.45191399425714296
        |    WHEN 6 THEN 0.3206939942571429
        |    WHEN 7 THEN 0.22227899425714287
        |    WHEN 8 THEN 0.14635885140000005
        |    WHEN 9 THEN 0.08657173890000001
        |    WHEN 10 THEN 0.038742048900000006 END), 6) AS rbo
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    // gaps-and-islands merge replayed: new span when start exceeds the
    // running max of all PRECEDING clipped ends (exact µs integers)
    "q266_uptime" ->
      """WITH iv AS (SELECT user_id, event_id,
        |    greatest(epoch_us(ts), 1704067200000000) AS s,
        |    least(epoch_us(ts) + 3600000000, 1706745600000000) AS e
        |  FROM events),
        |f AS (SELECT user_id, event_id, s, e,
        |    CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w
        |         THEN 1 ELSE 0 END AS nf
        |  FROM iv WHERE s < e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY s, e, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |r AS (SELECT user_id, s, e,
        |    sum(nf) OVER (PARTITION BY user_id ORDER BY s, e, event_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM f),
        |sp AS (SELECT user_id, run, min(s) AS ss, max(e) AS se
        |  FROM r GROUP BY 1, 2)
        |SELECT user_id, count(*)::BIGINT AS n_spans,
        |  sum(se - ss)::BIGINT AS covered_us,
        |  round(sum(se - ss)::BIGINT / 2678400000000, 6) AS uptime_share
        |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin,

    "q267_qnorm" ->
      """WITH r AS (SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY value, event_id) AS rank
        |  FROM events),
        |m AS (SELECT rank, avg(value) AS q, count(*) AS n FROM r GROUP BY 1)
        |SELECT r.event_type, r.event_id, r.rank, m.n::BIGINT AS n_groups_at_rank,
        |  round(m.q, 6) AS qnorm
        |FROM r JOIN m USING (rank) ORDER BY 1, 3""".stripMargin,

    // top-5 leaderboard churn: rank window -> shifted self-join on the
    // following week -> k-sized intersection Jaccard
    "q268_topk_churn" ->
      """WITH wk AS (SELECT event_type, user_id,
        |    (epoch_us(ts) - 1704067200000000) // 604800000000 AS week,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2, 3),
        |top AS (SELECT event_type, week, user_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY event_type, week
        |        ORDER BY cnt DESC, user_id) AS r FROM wk) WHERE r <= 5),
        |sz AS (SELECT event_type, week, count(*) AS n FROM top GROUP BY 1, 2),
        |inter AS (SELECT a.event_type, a.week, count(*) AS n_common
        |  FROM top a JOIN top b ON a.event_type = b.event_type
        |    AND a.week = b.week + 1 AND a.user_id = b.user_id
        |  GROUP BY 1, 2)
        |SELECT c.event_type, c.week, p.n::BIGINT AS n_prev, c.n::BIGINT AS n_cur,
        |  coalesce(i.n_common, 0)::BIGINT AS n_common,
        |  round(coalesce(i.n_common, 0) / (p.n + c.n - coalesce(i.n_common, 0)), 6)
        |    AS jaccard
        |FROM sz c JOIN sz p ON c.event_type = p.event_type AND c.week = p.week + 1
        |LEFT JOIN inter i ON i.event_type = c.event_type AND i.week = c.week
        |ORDER BY 1, 2""".stripMargin,

    // direct per-level replay: approx = span count / 2^l; detail uses the
    // level-(l-1) left-child sum — parity of the level-(l-1) index; all
    // dyadic rationals, exact in doubles in both engines
    "q269_haar" ->
      """WITH base AS (SELECT event_type,
        |    (epoch_us(ts) - 1704067200000000) // 21600000000 AS b,
        |    count(*) AS c
        |  FROM events WHERE epoch_us(ts) >= 1704067200000000 GROUP BY 1, 2),
        |lv AS (
        |  SELECT event_type, 1 AS level, b // 2 AS idx, sum(c) AS s,
        |    sum(CASE WHEN b % 2 = 0 THEN c ELSE 0 END) AS sl
        |  FROM base GROUP BY 1, 3
        |  UNION ALL
        |  SELECT event_type, 2, b // 4, sum(c),
        |    sum(CASE WHEN (b // 2) % 2 = 0 THEN c ELSE 0 END)
        |  FROM base GROUP BY 1, 3
        |  UNION ALL
        |  SELECT event_type, 3, b // 8, sum(c),
        |    sum(CASE WHEN (b // 4) % 2 = 0 THEN c ELSE 0 END)
        |  FROM base GROUP BY 1, 3)
        |SELECT event_type, level, idx,
        |  s / (1 << level)::DOUBLE AS approx,
        |  (2 * sl - s) / (1 << level)::DOUBLE AS detail
        |FROM lv ORDER BY 1, 2, 3""".stripMargin,

    // Markov removal effects replayed: journeys -> transition counts ->
    // row-normalized probabilities -> per-variant redirected matrices ->
    // bounded mass propagation as a recursive CTE (PageRank q199 pattern)
    "q270_markov_attr" ->
      """WITH RECURSIVE
        |kept0 AS (SELECT user_id,
        |    CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END AS state,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS idx
        |  FROM events),
        |cx AS (SELECT user_id, min(CASE WHEN state = 'CONV' THEN idx END) AS cidx
        |  FROM kept0 GROUP BY 1),
        |kept AS (SELECT kept0.user_id, state, idx FROM kept0 JOIN cx USING (user_id)
        |  WHERE cx.cidx IS NULL OR idx <= cx.cidx),
        |se AS (SELECT coalesce(lag(state) OVER (PARTITION BY user_id ORDER BY idx),
        |    'START') AS f, state AS t FROM kept),
        |ee AS (SELECT state AS f, 'NULL' AS t FROM kept
        |  JOIN (SELECT user_id, max(idx) AS mx FROM kept GROUP BY 1) m
        |    ON kept.user_id = m.user_id AND idx = mx WHERE state <> 'CONV'),
        |cnt AS (SELECT f, t, count(*)::DOUBLE AS c
        |  FROM (SELECT * FROM se UNION ALL SELECT * FROM ee) GROUP BY 1, 2),
        |p AS (SELECT f, t, c / sum(c) OVER (PARTITION BY f) AS p FROM cnt),
        |vars AS (SELECT unnest(['base','click','error','signup','view']) AS v),
        |red AS (SELECT v, f,
        |    CASE WHEN v <> 'base' AND t = v THEN 'NULL' ELSE t END AS t,
        |    sum(p) AS p
        |  FROM p CROSS JOIN vars WHERE v = 'base' OR f <> v GROUP BY 1, 2, 3),
        |tr AS (SELECT * FROM red UNION ALL
        |  SELECT v, s, s, 1.0::DOUBLE FROM vars
        |  CROSS JOIN (SELECT unnest(['CONV','NULL']) AS s)),
        |mass AS (
        |  SELECT v, 'START' AS state, 1.0::DOUBLE AS m, 0 AS it FROM vars
        |  UNION ALL
        |  SELECT mass.v, tr.t, sum(mass.m * tr.p), it + 1
        |  FROM mass JOIN tr ON tr.v = mass.v AND tr.f = mass.state
        |  WHERE it < 6 GROUP BY mass.v, tr.t, it + 1),
        |pc AS (SELECT v, m FROM mass WHERE it = 6 AND state = 'CONV'),
        |pb AS (SELECT m AS mb FROM pc WHERE v = 'base')
        |SELECT vars.v AS removed_channel,
        |  round(coalesce(pc.m, 0), 6) AS p_conv,
        |  CASE WHEN vars.v = 'base' THEN NULL
        |       ELSE round(1 - coalesce(pc.m, 0) / pb.mb, 6) END AS removal_effect
        |FROM vars LEFT JOIN pc ON pc.v = vars.v CROSS JOIN pb
        |ORDER BY 1""".stripMargin,

    // KM replay: duration grain -> at-risk = total minus preceding exits ->
    // ordered running sum of ln factors (deterministic cumprod), zero flag
    // instead of ln(0)
    "q271_km" ->
      """WITH subj AS (SELECT event_type,
        |    (max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000 AS t,
        |    CASE WHEN max(epoch_us(ts)) < 1706054400000000 THEN 1 ELSE 0 END AS e
        |  FROM events GROUP BY event_type, user_id),
        |g AS (SELECT event_type, t, sum(e) AS d, sum(1 - e) AS c
        |  FROM subj GROUP BY 1, 2),
        |r AS (SELECT *,
        |    sum(d + c) OVER (PARTITION BY event_type) -
        |    coalesce(sum(d + c) OVER (PARTITION BY event_type ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        |  FROM g),
        |s AS (SELECT *,
        |    CASE WHEN max(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER w = 1
        |         THEN 0.0
        |         ELSE exp(sum(ln(1 - d::DOUBLE / n_risk::DOUBLE)) OVER w)
        |    END AS surv
        |  FROM r WINDOW w AS (PARTITION BY event_type ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, t, n_risk::BIGINT AS n_risk, d::BIGINT AS n_event,
        |  c::BIGINT AS n_censored, round(surv, 6) AS survival
        |FROM s WHERE d > 0 ORDER BY 1, 2""".stripMargin,

    // midranks = rank() + (ties-1)/2 (exact half-integers); per-row tie
    // term t^2-1 sums to the standard per-block t^3-t
    "q272_mwu" ->
      """WITH b AS (SELECT day(ts) AS day, event_type, value FROM events
        |  WHERE event_type IN ('click', 'view')),
        |r AS (SELECT *, rank() OVER (PARTITION BY day ORDER BY value) AS rk,
        |    count(*) OVER (PARTITION BY day, value) AS tc FROM b),
        |a AS (SELECT day,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_a,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_b,
        |    sum(CASE WHEN event_type = 'click'
        |        THEN rk + (tc - 1) / 2.0 ELSE 0 END) AS ra,
        |    sum(tc * tc - 1) AS tie
        |  FROM r GROUP BY 1)
        |SELECT day, n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
        |  round(ra - n_a * (n_a + 1) / 2.0, 6) AS u_a,
        |  round((ra - n_a * (n_a + 1) / 2.0 - n_a * n_b / 2.0) /
        |    sqrt(n_a::DOUBLE * n_b / 12.0 * ((n_a + n_b + 1) -
        |      tie::DOUBLE / ((n_a + n_b) * (n_a + n_b - 1.0)))), 6) AS z
        |FROM a ORDER BY 1""".stripMargin,

    // kappa is integer arithmetic up to one division:
    // (n*agree - sum(n1*n2)) / (n^2 - sum(n1*n2))
    "q273_kappa" ->
      """WITH l AS (SELECT source, (n_chars > 600) AS a,
        |    (length(text) - length(replace(text, ' ', '')) > 80) AS b
        |  FROM documents),
        |t AS (SELECT source, count(*) AS n,
        |    sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS na FROM l GROUP BY 1),
        |e AS (SELECT source, sum(n1 * n2) AS e FROM
        |    (SELECT source, a AS k, count(*) AS n1 FROM l GROUP BY 1, 2) x
        |  JOIN (SELECT source, b AS k, count(*) AS n2 FROM l GROUP BY 1, 2) y
        |    USING (source, k)
        |  GROUP BY 1)
        |SELECT t.source, n::BIGINT AS n, na::BIGINT AS n_agree,
        |  round((n * na - e) / (n * n - e)::DOUBLE, 6) AS kappa
        |FROM t JOIN e USING (source) ORDER BY 1""".stripMargin,

    // JSD with the same literal category order and left-assoc term sum as
    // the operator (t_click + t_error + t_purchase + t_signup + t_view)
    "q274_jsd" ->
      """WITH wk AS (SELECT
        |    (epoch_us(ts) - 1704067200000000) // 604800000000 AS week,
        |    event_type FROM events),
        |p AS (SELECT week, count(*) AS n,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c0,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS c1,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2,
        |    sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c3,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c4
        |  FROM wk GROUP BY 1),
        |g AS (SELECT count(*) AS gn,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS g0,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS g1,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS g2,
        |    sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS g3,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS g4
        |  FROM wk)
        |SELECT week, n::BIGINT AS n, round(
        |    (CASE WHEN c0 > 0 THEN (c0/n::DOUBLE) * (ln(2*(c0/n::DOUBLE)) - ln(c0/n::DOUBLE + g0/gn::DOUBLE)) ELSE 0 END
        |     + CASE WHEN g0 > 0 THEN (g0/gn::DOUBLE) * (ln(2*(g0/gn::DOUBLE)) - ln(c0/n::DOUBLE + g0/gn::DOUBLE)) ELSE 0 END) / 2
        |  + (CASE WHEN c1 > 0 THEN (c1/n::DOUBLE) * (ln(2*(c1/n::DOUBLE)) - ln(c1/n::DOUBLE + g1/gn::DOUBLE)) ELSE 0 END
        |     + CASE WHEN g1 > 0 THEN (g1/gn::DOUBLE) * (ln(2*(g1/gn::DOUBLE)) - ln(c1/n::DOUBLE + g1/gn::DOUBLE)) ELSE 0 END) / 2
        |  + (CASE WHEN c2 > 0 THEN (c2/n::DOUBLE) * (ln(2*(c2/n::DOUBLE)) - ln(c2/n::DOUBLE + g2/gn::DOUBLE)) ELSE 0 END
        |     + CASE WHEN g2 > 0 THEN (g2/gn::DOUBLE) * (ln(2*(g2/gn::DOUBLE)) - ln(c2/n::DOUBLE + g2/gn::DOUBLE)) ELSE 0 END) / 2
        |  + (CASE WHEN c3 > 0 THEN (c3/n::DOUBLE) * (ln(2*(c3/n::DOUBLE)) - ln(c3/n::DOUBLE + g3/gn::DOUBLE)) ELSE 0 END
        |     + CASE WHEN g3 > 0 THEN (g3/gn::DOUBLE) * (ln(2*(g3/gn::DOUBLE)) - ln(c3/n::DOUBLE + g3/gn::DOUBLE)) ELSE 0 END) / 2
        |  + (CASE WHEN c4 > 0 THEN (c4/n::DOUBLE) * (ln(2*(c4/n::DOUBLE)) - ln(c4/n::DOUBLE + g4/gn::DOUBLE)) ELSE 0 END
        |     + CASE WHEN g4 > 0 THEN (g4/gn::DOUBLE) * (ln(2*(g4/gn::DOUBLE)) - ln(c4/n::DOUBLE + g4/gn::DOUBLE)) ELSE 0 END) / 2
        |  , 6) AS jsd
        |FROM p CROSS JOIN g ORDER BY week""".stripMargin,

    // CUPED moment-sum replay: pooled theta = (Sxy - SxSy/n)/(Sxx - Sx^2/n),
    // identical operation order to the operator
    "q275_cuped" ->
      """WITH unit AS (SELECT user_id,
        |    sum(CASE WHEN epoch_us(ts) < 1705363200000000 THEN value ELSE 0 END) AS x,
        |    sum(CASE WHEN epoch_us(ts) >= 1705363200000000 THEN value ELSE 0 END) AS y,
        |    (user_id % 2)::VARCHAR AS seg
        |  FROM events GROUP BY user_id),
        |p AS (SELECT count(*) AS pn, sum(x) AS sx, sum(y) AS sy,
        |    sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy FROM unit),
        |g AS (SELECT seg, count(*) AS n, sum(x) AS gx, sum(y) AS gy
        |  FROM unit GROUP BY 1)
        |SELECT seg, n::BIGINT AS n, round(gy/n, 6) AS y_mean,
        |  round(gy/n - ((sxy - sx*sy/pn)/(sxx - sx*sx/pn)) * (gx/n - sx/pn), 6)
        |    AS y_adj_mean,
        |  round((sxy - sx*sy/pn)/(sxx - sx*sx/pn), 6) AS theta,
        |  round(((sxy - sx*sy/pn)/(sxx - sx*sx/pn)) *
        |        ((sxy - sx*sy/pn)/(sxx - sx*sx/pn)) *
        |        (sxx - sx*sx/pn) / (syy - sy*sy/pn), 6) AS var_reduction
        |FROM g CROSS JOIN p ORDER BY 1""".stripMargin,

    // 2x2 cell sums/counts pivoted exactly like the operator; the estimate
    // is (m_t1 - m_t0) - (m_c1 - m_c0)
    "q276_did" ->
      """WITH c AS (SELECT event_type, count(*) AS n,
        |    sum(CASE WHEN user_id % 2 = 1 AND epoch_us(ts) < 1705363200000000 THEN value ELSE 0 END) AS st0,
        |    sum(CASE WHEN user_id % 2 = 1 AND epoch_us(ts) < 1705363200000000 THEN 1 ELSE 0 END) AS nt0,
        |    sum(CASE WHEN user_id % 2 = 1 AND epoch_us(ts) >= 1705363200000000 THEN value ELSE 0 END) AS st1,
        |    sum(CASE WHEN user_id % 2 = 1 AND epoch_us(ts) >= 1705363200000000 THEN 1 ELSE 0 END) AS nt1,
        |    sum(CASE WHEN user_id % 2 = 0 AND epoch_us(ts) < 1705363200000000 THEN value ELSE 0 END) AS sc0,
        |    sum(CASE WHEN user_id % 2 = 0 AND epoch_us(ts) < 1705363200000000 THEN 1 ELSE 0 END) AS nc0,
        |    sum(CASE WHEN user_id % 2 = 0 AND epoch_us(ts) >= 1705363200000000 THEN value ELSE 0 END) AS sc1,
        |    sum(CASE WHEN user_id % 2 = 0 AND epoch_us(ts) >= 1705363200000000 THEN 1 ELSE 0 END) AS nc1
        |  FROM events GROUP BY 1)
        |SELECT event_type, n::BIGINT AS n,
        |  round(st0/nt0, 6) AS m_t0, round(st1/nt1, 6) AS m_t1,
        |  round(sc0/nc0, 6) AS m_c0, round(sc1/nc1, 6) AS m_c1,
        |  round((st1/nt1 - st0/nt0) - (sc1/nc1 - sc0/nc0), 6) AS did
        |FROM c ORDER BY 1""".stripMargin,

    // SRM chi-square on exact integers: ((o0-e)^2/e) + ((o1-e)^2/e) in the
    // operator's literal arm order
    "q277_srm" ->
      """WITH c AS (SELECT event_type, count(*) AS n,
        |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS o0,
        |    sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS o1
        |  FROM events GROUP BY 1)
        |SELECT event_type, n::BIGINT AS n,
        |  round((o0 - n::DOUBLE * 0.5) * (o0 - n::DOUBLE * 0.5) / (n::DOUBLE * 0.5)
        |      + (o1 - n::DOUBLE * 0.5) * (o1 - n::DOUBLE * 0.5) / (n::DOUBLE * 0.5),
        |    6) AS chi2
        |FROM c ORDER BY 1""".stripMargin,

    // beta-binomial method-of-moments prior replayed with the operator's
    // exact formula order: m = sp/k, v = spp/k - m*m,
    // ab = max(m(1-m)/v - 1, 1), shrunk = (x + m*ab)/(n + ab)
    "q278_eb_rates" ->
      """WITH item AS (SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x,
        |    count(*) AS n FROM events GROUP BY 1),
        |b AS (SELECT *, x::DOUBLE / n::DOUBLE AS p FROM item),
        |m AS (SELECT count(*) AS k, sum(p) AS sp, sum(p*p) AS spp FROM b),
        |j AS (SELECT b.*, m.sp, m.k,
        |    CASE WHEN (spp/k - (sp/k)*(sp/k)) > 0
        |         THEN greatest((sp/k)*(1 - sp/k)/(spp/k - (sp/k)*(sp/k)) - 1, 1.0)
        |         ELSE 1.0 END AS ab
        |  FROM b CROSS JOIN m)
        |SELECT user_id, x::BIGINT AS x, n::BIGINT AS n, round(p, 6) AS raw_rate,
        |  round(ab, 6) AS prior_strength,
        |  round((x + (sp/k) * ab) / (n + ab), 6) AS shrunk
        |FROM j ORDER BY 1""".stripMargin,

    // integer rank cut k = ceil(n/10) with (value desc, id) tie-break —
    // replays Profile.tailMean's rank-based tail definition
    "q279_cvar" ->
      """WITH r AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type, max(n)::BIGINT AS n, count(*)::BIGINT AS k_tail,
        |  round(min(value), 6) AS var_threshold, round(avg(value), 6) AS tail_mean
        |FROM r WHERE rn <= (n * 1 + 9) // 10
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // strict local maxima over ±2 rows; null-side frames pass (endpoints
    // may be peaks) — mirrors Anomaly.peaks
    "q280_peaks" ->
      """WITH h AS (SELECT user_id,
        |    floor(epoch(ts))::BIGINT - floor(epoch(ts))::BIGINT % 3600 AS bucket_start,
        |    count(*) AS cnt FROM events GROUP BY 1, 2),
        |m AS (SELECT user_id, bucket_start, cnt,
        |    max(cnt) OVER (PARTITION BY user_id ORDER BY bucket_start
        |      ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS ml,
        |    max(cnt) OVER (PARTITION BY user_id ORDER BY bucket_start
        |      ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS mr
        |  FROM h)
        |SELECT user_id, bucket_start, cnt::BIGINT AS cnt FROM m
        |WHERE (ml IS NULL OR cnt > ml) AND (mr IS NULL OR cnt > mr)
        |ORDER BY 1, 2""".stripMargin,

    // Cramer's-rule 3x3 OLS replayed term for term from the same ten
    // moment sums (Features.olsFit)
    "q281_ols" ->
      """WITH m AS (SELECT event_type, count(*)::DOUBLE AS n,
        |    sum(hour(ts)::DOUBLE) AS s1, sum(date_part('day', ts)::DOUBLE) AS s2,
        |    sum(value) AS sy,
        |    sum(hour(ts)::DOUBLE * hour(ts)::DOUBLE) AS s11,
        |    sum(hour(ts)::DOUBLE * date_part('day', ts)::DOUBLE) AS s12,
        |    sum(date_part('day', ts)::DOUBLE * date_part('day', ts)::DOUBLE) AS s22,
        |    sum(hour(ts)::DOUBLE * value) AS s1y,
        |    sum(date_part('day', ts)::DOUBLE * value) AS s2y,
        |    sum(value * value) AS syy
        |  FROM events GROUP BY 1),
        |d AS (SELECT *,
        |    n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) AS det,
        |    sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y) AS d0,
        |    n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2) AS d1,
        |    n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2) AS d2
        |  FROM m)
        |SELECT event_type, n::BIGINT AS n,
        |  round(CASE WHEN abs(det) > 1e-9 THEN d0/det END, 6) AS b0,
        |  round(CASE WHEN abs(det) > 1e-9 THEN d1/det END, 6) AS b1,
        |  round(CASE WHEN abs(det) > 1e-9 THEN d2/det END, 6) AS b2,
        |  round(CASE WHEN abs(det) > 1e-9 AND (syy - sy*sy/n) > 0
        |    THEN ((d0/det)*sy + (d1/det)*s1y + (d2/det)*s2y - sy*sy/n) / (syy - sy*sy/n)
        |    END, 6) AS r2
        |FROM d ORDER BY 1""".stripMargin,

    "q282_hurst" -> hurstSql,

    // cumulative two-arm moments -> mixture LR -> running-min always-valid
    // p, replaying Experiment.msprt's literal operation order (tau^2 = 1)
    "q283_msprt" ->
      """WITH per AS (SELECT event_type,
        |    (epoch_us(ts) - 1704067200000000) // 86400000000 AS day,
        |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN user_id % 2 = 0 THEN value ELSE 0 END) AS sa,
        |    sum(CASE WHEN user_id % 2 = 0 THEN value*value ELSE 0 END) AS qa,
        |    sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS cb,
        |    sum(CASE WHEN user_id % 2 = 1 THEN value ELSE 0 END) AS sb,
        |    sum(CASE WHEN user_id % 2 = 1 THEN value*value ELSE 0 END) AS qb
        |  FROM events GROUP BY 1, 2),
        |cum AS (SELECT event_type, day,
        |    sum(ca) OVER w AS na, sum(cb) OVER w AS nb,
        |    sum(sa) OVER w AS Sa, sum(sb) OVER w AS Sb,
        |    sum(qa) OVER w AS Qa, sum(qb) OVER w AS Qb
        |  FROM per WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |sc AS (SELECT event_type, day, na, nb,
        |    CASE WHEN na >= 1 AND nb >= 1 THEN Sb/nb::DOUBLE - Sa/na::DOUBLE END AS delta,
        |    CASE WHEN na >= 2 AND nb >= 2 AND
        |        (Qa - Sa*Sa/na::DOUBLE + Qb - Sb*Sb/nb::DOUBLE)/(na::DOUBLE + nb::DOUBLE - 2) > 0
        |      THEN (Qa - Sa*Sa/na::DOUBLE + Qb - Sb*Sb/nb::DOUBLE)/(na::DOUBLE + nb::DOUBLE - 2)
        |        * (1.0/na::DOUBLE + 1.0/nb::DOUBLE) END AS vt
        |  FROM cum),
        |lr AS (SELECT event_type, day, na, nb, delta,
        |    CASE WHEN vt IS NOT NULL THEN
        |      sqrt(vt/(vt + 1.0)) * exp(delta*delta*1.0/(2.0*vt*(vt + 1.0))) END AS lambda
        |  FROM sc)
        |SELECT event_type, day, na::BIGINT AS n_a, nb::BIGINT AS n_b,
        |  round(delta, 6) AS delta, round(lambda, 6) AS lambda,
        |  round(min(CASE WHEN lambda IS NOT NULL
        |      THEN least(1.0, 1.0/lambda) END)
        |    OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS p_always_valid
        |FROM lr ORDER BY 1, 2""".stripMargin,

    // the upsert identity: tier(base) ⊕ late == tier(all); the oracle IS
    // the direct 1m rollup of all events with exact interpolated quantiles
    "q284_late_upsert" ->
      """SELECT user_id,
        |  floor(epoch(ts))::BIGINT - floor(epoch(ts))::BIGINT % 60 AS bucket_start,
        |  count(*)::BIGINT AS cnt, round(sum(value), 6) AS sum_value,
        |  round(min(value), 6) AS min_value, round(max(value), 6) AS max_value,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.95), 6) AS p95
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // hourly error share per shard; 6h/24h trailing RANGE frames on the
    // bucket index (gaps shorten the window on both engines)
    "q285_burn_rate" ->
      """WITH b AS (SELECT (user_id % 4)::VARCHAR AS shard,
        |    floor(epoch(ts))::BIGINT - floor(epoch(ts))::BIGINT % 3600 AS bucket_start,
        |    count(*) AS total,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS errors
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT shard, bucket_start, total, errors,
        |    (sum(errors) OVER ws)::DOUBLE / (sum(total) OVER ws)::DOUBLE AS rs,
        |    (sum(errors) OVER wl)::DOUBLE / (sum(total) OVER wl)::DOUBLE AS rl
        |  FROM b WINDOW
        |    ws AS (PARTITION BY shard ORDER BY bucket_start // 3600
        |      RANGE BETWEEN 5 PRECEDING AND CURRENT ROW),
        |    wl AS (PARTITION BY shard ORDER BY bucket_start // 3600
        |      RANGE BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT shard, bucket_start, total::BIGINT AS total, errors::BIGINT AS errors,
        |  round(rs, 6) AS rate_short, round(rl, 6) AS rate_long,
        |  CASE WHEN rs / 0.2 > 1.05 AND rl / 0.2 > 1.05 THEN 1 ELSE 0 END AS alert
        |FROM w ORDER BY 1, 2""".stripMargin,

    // two alternating (row, col) median sweeps replayed with windowed
    // quantile_cont — integer cells keep every step dyadic-exact
    "q286_median_polish" ->
      """WITH c0 AS (SELECT event_type, dayofweek(ts) + 1 AS dow,
        |    (epoch_us(ts) - 1704067200000000) // 604800000000 AS wk,
        |    count(*)::DOUBLE AS v
        |  FROM events GROUP BY 1, 2, 3),
        |s1 AS (SELECT *, quantile_cont(v, 0.5)
        |    OVER (PARTITION BY event_type, dow) AS rm FROM c0),
        |s2 AS (SELECT event_type, dow, wk, v - rm AS res, rm AS reff FROM s1),
        |s3 AS (SELECT *, quantile_cont(res, 0.5)
        |    OVER (PARTITION BY event_type, wk) AS cm FROM s2),
        |s4 AS (SELECT event_type, dow, wk, res - cm AS res, reff, cm AS ceff FROM s3),
        |s5 AS (SELECT *, quantile_cont(res, 0.5)
        |    OVER (PARTITION BY event_type, dow) AS rm FROM s4),
        |s6 AS (SELECT event_type, dow, wk, res - rm AS res,
        |    reff + rm AS reff, ceff FROM s5),
        |s7 AS (SELECT *, quantile_cont(res, 0.5)
        |    OVER (PARTITION BY event_type, wk) AS cm FROM s6),
        |s8 AS (SELECT event_type, dow, wk, res - cm AS res, reff,
        |    ceff + cm AS ceff FROM s7)
        |SELECT event_type, dow, wk, round(reff, 6) AS row_eff,
        |  round(ceff, 6) AS col_eff, round(res, 6) AS residual
        |FROM s8 ORDER BY 1, 2, 3""".stripMargin,

    // forward Viterbi costs then a BACKWARD recursive walk for the state
    // path, both on integer-exact costs; ties prefer base (<=) exactly as
    // Anomaly.burstSegments pins them
    "q287_bursts" ->
      """WITH RECURSIVE h AS (SELECT event_type,
        |    floor(epoch(ts))::BIGINT - floor(epoch(ts))::BIGINT % 3600 AS b,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, sum(n) // count(*) AS mu FROM h GROUP BY 1),
        |c AS (SELECT h.event_type, b, n, mu,
        |    abs(n - mu)::DOUBLE AS e0, abs(n - 2*mu)::DOUBLE AS e1,
        |    row_number() OVER (PARTITION BY h.event_type ORDER BY b) AS rn,
        |    count(*) OVER (PARTITION BY h.event_type) AS tot
        |  FROM h JOIN m USING (event_type)),
        |fwd AS MATERIALIZED (
        |  SELECT event_type, rn, b, e0 AS c0, mu::DOUBLE + e1 AS c1,
        |    mu::DOUBLE AS g, tot
        |  FROM c WHERE rn = 1
        |  UNION ALL
        |  SELECT c.event_type, c.rn, c.b,
        |    least(f.c0, f.c1) + c.e0,
        |    least(f.c0 + f.g, f.c1) + c.e1, f.g, f.tot
        |  FROM c JOIN fwd f ON c.event_type = f.event_type AND c.rn = f.rn + 1),
        |bwd AS (
        |  SELECT event_type, rn, CASE WHEN c0 <= c1 THEN 0 ELSE 1 END AS st
        |  FROM fwd WHERE rn = tot
        |  UNION ALL
        |  SELECT f.event_type, f.rn,
        |    CASE WHEN bk.st = 0 THEN (CASE WHEN f.c0 <= f.c1 THEN 0 ELSE 1 END)
        |      ELSE (CASE WHEN f.c0 + f.g <= f.c1 THEN 0 ELSE 1 END) END
        |  FROM fwd f JOIN bwd bk
        |    ON f.event_type = bk.event_type AND f.rn = bk.rn - 1)
        |SELECT f.event_type, f.b AS bucket_start, round(f.c0, 6) AS cost_base,
        |  round(f.c1, 6) AS cost_burst, bk.st AS burst
        |FROM fwd f JOIN bwd bk ON f.event_type = bk.event_type AND f.rn = bk.rn
        |ORDER BY 1, 2""".stripMargin,

    // exact decomposition: mean2 - mean1 = sum_s [w2(r2-r1) + (w2-w1)r1];
    // missing-side conventions (w=0, r1→0) mirrored from Experiment.rateMix
    "q288_rate_mix" ->
      """WITH per AS (SELECT event_type,
        |    sum(CASE WHEN epoch_us(ts) < 1705363200000000 THEN 1 ELSE 0 END) AS n1,
        |    sum(CASE WHEN epoch_us(ts) < 1705363200000000 THEN value ELSE 0 END) AS s1,
        |    sum(CASE WHEN epoch_us(ts) >= 1705363200000000 THEN 1 ELSE 0 END) AS n2,
        |    sum(CASE WHEN epoch_us(ts) >= 1705363200000000 THEN value ELSE 0 END) AS s2
        |  FROM events GROUP BY 1),
        |t AS (SELECT sum(n1) AS t1, sum(n2) AS t2 FROM per),
        |d AS (SELECT event_type, n1, n2,
        |    n1::DOUBLE / t1::DOUBLE AS w1, n2::DOUBLE / t2::DOUBLE AS w2,
        |    CASE WHEN n1 > 0 THEN s1 / n1 ELSE 0.0 END AS r1,
        |    CASE WHEN n2 > 0 THEN s2 / n2 ELSE 0.0 END AS r2
        |  FROM per CROSS JOIN t)
        |SELECT event_type, n1::BIGINT AS n1, n2::BIGINT AS n2,
        |  round(w1, 6) AS w1, round(w2, 6) AS w2,
        |  round(r1, 6) AS r1, round(r2, 6) AS r2,
        |  round(w2 * (r2 - r1), 6) AS rate_effect,
        |  round((w2 - w1) * r1, 6) AS mix_effect,
        |  round(w2 * (r2 - r1) + (w2 - w1) * r1, 6) AS total_effect
        |FROM d ORDER BY 1""".stripMargin,

    // UCB1: mean + 1.0·sqrt(2·ln(N)/n), N = shard total pulls (window sum)
    "q289_ucb1" ->
      """WITH a AS (SELECT (user_id % 4)::VARCHAR AS shard, event_type,
        |    count(*)::BIGINT AS n, sum(value) AS s
        |  FROM events GROUP BY 1, 2)
        |SELECT shard, event_type, n,
        |  (sum(n) OVER (PARTITION BY shard))::BIGINT AS n_total,
        |  round(s / n, 6) AS mean,
        |  round(s / n + 1.0 * sqrt(2.0 *
        |    ln((sum(n) OVER (PARTITION BY shard))::DOUBLE) / n::DOUBLE), 6) AS ucb
        |FROM a ORDER BY 1, 2""".stripMargin,

    // ANOVA F from per-arm moment sums pivoted to columns; every Σ_a folds
    // in the literal arm order click,view,purchase,error,signup
    "q290_anova" ->
      """WITH a AS (SELECT (user_id % 4)::VARCHAR AS shard, count(*)::BIGINT AS n,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n0,
        |    sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END) AS s0,
        |    sum(CASE WHEN event_type = 'click' THEN value*value ELSE 0 END) AS q0,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN event_type = 'view' THEN value ELSE 0 END) AS s1,
        |    sum(CASE WHEN event_type = 'view' THEN value*value ELSE 0 END) AS q1,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n2,
        |    sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS s2,
        |    sum(CASE WHEN event_type = 'purchase' THEN value*value ELSE 0 END) AS q2,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n3,
        |    sum(CASE WHEN event_type = 'error' THEN value ELSE 0 END) AS s3,
        |    sum(CASE WHEN event_type = 'error' THEN value*value ELSE 0 END) AS q3,
        |    sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS n4,
        |    sum(CASE WHEN event_type = 'signup' THEN value ELSE 0 END) AS s4,
        |    sum(CASE WHEN event_type = 'signup' THEN value*value ELSE 0 END) AS q4
        |  FROM events
        |  WHERE event_type IN ('click','view','purchase','error','signup')
        |  GROUP BY 1),
        |f AS (SELECT shard, n, n0, n1, n2, n3, n4,
        |    ((((s0*s0/n0::DOUBLE + s1*s1/n1::DOUBLE) + s2*s2/n2::DOUBLE)
        |      + s3*s3/n3::DOUBLE) + s4*s4/n4::DOUBLE) AS ssb_part,
        |    ((((s0 + s1) + s2) + s3) + s4) AS s_tot,
        |    ((((q0 + q1) + q2) + q3) + q4) AS q_tot
        |  FROM a)
        |SELECT shard, n,
        |  round(CASE WHEN n0>=1 AND n1>=1 AND n2>=1 AND n3>=1 AND n4>=1 AND n>5
        |    THEN ssb_part - s_tot*s_tot/n::DOUBLE END, 6) AS ssb,
        |  round(CASE WHEN n0>=1 AND n1>=1 AND n2>=1 AND n3>=1 AND n4>=1 AND n>5
        |    THEN q_tot - ssb_part END, 6) AS ssw,
        |  round(CASE WHEN n0>=1 AND n1>=1 AND n2>=1 AND n3>=1 AND n4>=1 AND n>5
        |         AND (q_tot - ssb_part) > 0
        |    THEN ((ssb_part - s_tot*s_tot/n::DOUBLE) / 4.0)
        |       / ((q_tot - ssb_part) / (n::DOUBLE - 5.0)) END, 6) AS f_stat
        |FROM f ORDER BY 1""".stripMargin,

    // BH = reversed running min of p·m/rank; Holm = running max of
    // (m−rank+1)·p; p from integer char sums so the rank order is exact
    "q291_fdr" ->
      """WITH h AS (SELECT lang, source, sum(n_chars)::BIGINT AS sc
        |  FROM documents GROUP BY 1, 2),
        |p AS (SELECT lang, source, ((sc % 997) + 1)::DOUBLE / 997.0 AS p FROM h),
        |r AS (SELECT lang, source, p,
        |    count(*) OVER (PARTITION BY lang) AS m,
        |    row_number() OVER (PARTITION BY lang ORDER BY p, source) AS p_rank
        |  FROM p)
        |SELECT lang, source, round(p, 6) AS p, m::BIGINT AS m,
        |  p_rank::BIGINT AS p_rank,
        |  round(least(1.0, min(p * m::DOUBLE / p_rank::DOUBLE)
        |    OVER (PARTITION BY lang ORDER BY p DESC, source DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS p_bh,
        |  round(least(1.0, max((m - p_rank + 1)::DOUBLE * p)
        |    OVER (PARTITION BY lang ORDER BY p, source
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS p_holm
        |FROM r ORDER BY lang, source""".stripMargin,

    // Durbin–Levinson unrolled to lag 3: phi22/phi21 from rho1..2, pacf3
    // from the same closed-form rationals — token-for-token the Scala unroll
    "q292_pacf" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS d,
        |    count(*)::DOUBLE AS v
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, v,
        |    lag(v,1) OVER w AS l1, lag(v,2) OVER w AS l2, lag(v,3) OVER w AS l3
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |a AS (SELECT event_type, corr(v, l1) AS r1, corr(v, l2) AS r2,
        |    corr(v, l3) AS r3
        |  FROM l GROUP BY 1),
        |dl AS (SELECT event_type, r1, r2, r3,
        |    (r2 - r1*r1) / (1.0 - r1*r1) AS phi22
        |  FROM a),
        |dl2 AS (SELECT event_type, r1, r2, r3, phi22,
        |    r1 - phi22*r1 AS phi21 FROM dl),
        |f AS (SELECT event_type, 1::BIGINT AS lag, r1 AS pacf FROM dl2
        |  UNION ALL SELECT event_type, 2::BIGINT, phi22 FROM dl2
        |  UNION ALL SELECT event_type, 3::BIGINT,
        |    (r3 - (phi21*r2 + phi22*r1)) / (1.0 - (phi21*r1 + phi22*r2)) FROM dl2)
        |SELECT event_type, lag, round(pacf, 6) AS pacf
        |FROM f ORDER BY event_type, lag""".stripMargin,

    // Chao1 = D + f1(f1−1)/(2(f2+1)) from the (lang, term) count table
    "q293_chao1" ->
      """WITH w AS (SELECT lang,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |t AS (SELECT lang, unnest(ws) AS term FROM w),
        |c AS (SELECT lang, term, count(*) AS c FROM t GROUP BY 1, 2)
        |SELECT lang, count(*)::BIGINT AS d_observed,
        |  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
        |  sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS f2,
        |  round(count(*)::DOUBLE +
        |    (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) *
        |     (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1))::DOUBLE /
        |    (2.0 * (sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1)::DOUBLE), 6) AS chao1
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    // binary-segmentation top split: gain from exact integer prefix sums,
    // winner ranked on the 6-dp-rounded gain with bucket tie-break
    "q294_cpt" ->
      """WITH h AS (SELECT (user_id % 4)::VARCHAR AS shard,
        |    floor(epoch(ts))::BIGINT - floor(epoch(ts))::BIGINT % 3600 AS bucket_start,
        |    count(*)::BIGINT AS cnt FROM events GROUP BY 1, 2),
        |s AS (SELECT shard, bucket_start,
        |    row_number() OVER w AS i,
        |    (sum(cnt) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE AS cs,
        |    count(*) OVER (PARTITION BY shard) AS n,
        |    (sum(cnt) OVER (PARTITION BY shard))::DOUBLE AS stot
        |  FROM h WINDOW w AS (PARTITION BY shard ORDER BY bucket_start)),
        |g AS (SELECT shard, bucket_start, i, n, cs, stot,
        |    round(cs*cs / i::DOUBLE
        |        + (stot-cs)*(stot-cs) / (n-i)::DOUBLE
        |        - stot*stot / n::DOUBLE, 6) AS gain_r
        |  FROM s WHERE i < n),
        |p AS (SELECT *, row_number()
        |    OVER (PARTITION BY shard ORDER BY gain_r DESC, bucket_start) AS rk
        |  FROM g)
        |SELECT shard, n::BIGINT AS n, bucket_start AS split_ts,
        |  i::BIGINT AS n_left, (n - i)::BIGINT AS n_right,
        |  round(cs / i::DOUBLE, 6) AS mean_left,
        |  round((stot - cs) / (n - i)::DOUBLE, 6) AS mean_right,
        |  gain_r AS gain
        |FROM p WHERE rk = 1 ORDER BY shard""".stripMargin,

    // top-10 quotients s/d win; ties pinned by (key, divisor) in the cut
    "q295_dhondt" ->
      """WITH a AS (SELECT event_type AS key, count(*)::BIGINT AS score
        |  FROM events GROUP BY 1),
        |q AS (SELECT key, score, g.d AS divisor,
        |    score::DOUBLE / g.d::DOUBLE AS q
        |  FROM a, generate_series(1, 10) g(d)),
        |w AS (SELECT key FROM q ORDER BY q DESC, key, divisor LIMIT 10),
        |c AS (SELECT key, count(*)::BIGINT AS alloc FROM w GROUP BY 1)
        |SELECT a.key, a.score, coalesce(c.alloc, 0)::BIGINT AS alloc
        |FROM a LEFT JOIN c USING (key) ORDER BY key""".stripMargin,

    // median of Walsh averages (xi+xj)/2 over i <= j pairs (self-pairs in)
    "q296_hl" ->
      """WITH h AS (SELECT (user_id % 4)::VARCHAR AS shard,
        |    floor(epoch(ts))::BIGINT - floor(epoch(ts))::BIGINT % 3600 AS bucket_start,
        |    count(*)::BIGINT AS cnt FROM events GROUP BY 1, 2),
        |p AS (SELECT x.shard, (x.cnt + y.cnt) / 2.0 AS w
        |  FROM h x JOIN h y ON x.shard = y.shard
        |    AND x.bucket_start <= y.bucket_start),
        |n AS (SELECT shard, count(*)::BIGINT AS n_points FROM h GROUP BY 1)
        |SELECT n.shard, n.n_points,
        |  round(quantile_cont(p.w, 0.5), 6) AS hl_center
        |FROM p JOIN n ON p.shard = n.shard
        |GROUP BY n.shard, n.n_points ORDER BY 1""".stripMargin,

    // running sum of d/n over the ordered duration grain (censor-only rows
    // contribute exactly 0); survival_fh = exp(-H)
    "q297_nelson_aalen" ->
      """WITH subj AS (SELECT event_type,
        |    (max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000 AS t,
        |    CASE WHEN max(epoch_us(ts)) < 1706054400000000 THEN 1 ELSE 0 END AS e
        |  FROM events GROUP BY event_type, user_id),
        |g AS (SELECT event_type, t, sum(e) AS d, sum(1 - e) AS c
        |  FROM subj GROUP BY 1, 2),
        |r AS (SELECT *,
        |    sum(d + c) OVER (PARTITION BY event_type) -
        |    coalesce(sum(d + c) OVER (PARTITION BY event_type ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        |  FROM g),
        |h AS (SELECT *,
        |    sum(d::DOUBLE / n_risk::DOUBLE) OVER (PARTITION BY event_type
        |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch
        |  FROM r)
        |SELECT event_type, t, n_risk::BIGINT AS n_risk, d::BIGINT AS n_event,
        |  c::BIGINT AS n_censored, round(ch, 6) AS cum_hazard,
        |  round(exp(-ch), 6) AS survival_fh
        |FROM h WHERE d > 0 ORDER BY 1, 2""".stripMargin,

    // q83's Croston replay scaled by the SBA debias factor (1 - alpha/2)
    "q298_sba" ->
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
        |  round(z/p * 0.85::DOUBLE, 6) AS yhat
        |FROM lvl, generate_series(1,3) g2(s) ORDER BY 1,3""".stripMargin,

    // ascending (cnt, bucket) rank; exact integer cumulative/total sums
    "q299_lorenz" ->
      """WITH h AS (SELECT (user_id % 4)::VARCHAR AS shard,
        |    floor(epoch(ts))::BIGINT - floor(epoch(ts))::BIGINT % 3600 AS bucket_start,
        |    count(*)::BIGINT AS cnt FROM events GROUP BY 1, 2),
        |l AS (SELECT shard, bucket_start, cnt,
        |    row_number() OVER w AS i,
        |    (sum(cnt) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE AS cs,
        |    count(*) OVER (PARTITION BY shard) AS n,
        |    (sum(cnt) OVER (PARTITION BY shard))::DOUBLE AS tot
        |  FROM h WINDOW w AS (PARTITION BY shard ORDER BY cnt, bucket_start))
        |SELECT shard, i::BIGINT AS i, bucket_start, cnt,
        |  round(i::DOUBLE / n::DOUBLE, 6) AS p_pop,
        |  round(cs / tot, 6) AS p_val
        |FROM l ORDER BY shard, i""".stripMargin,

    // q35's exact jaccard joined with the q32 md5 signature contract:
    // est = (1/8) sum of per-seed min-hash agreements
    "q300_mh_est" ->
      """WITH w AS (SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents WHERE doc_id < 60),
        |s AS (SELECT doc_id, lang, list_distinct(list_transform(generate_series(1, greatest(len(ws)-2, 0)),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM w),
        |d AS (SELECT doc_id, lang, sh, len(sh) AS n FROM s WHERE len(sh) > 0),
        |e AS (SELECT doc_id, lang, unnest(sh) AS g FROM d),
        |m AS (SELECT doc_id, lang,
        |    min(('0x' || substr(md5('0:' || g),1,15))::BIGINT) AS mh0,
        |    min(('0x' || substr(md5('1:' || g),1,15))::BIGINT) AS mh1,
        |    min(('0x' || substr(md5('2:' || g),1,15))::BIGINT) AS mh2,
        |    min(('0x' || substr(md5('3:' || g),1,15))::BIGINT) AS mh3,
        |    min(('0x' || substr(md5('4:' || g),1,15))::BIGINT) AS mh4,
        |    min(('0x' || substr(md5('5:' || g),1,15))::BIGINT) AS mh5,
        |    min(('0x' || substr(md5('6:' || g),1,15))::BIGINT) AS mh6,
        |    min(('0x' || substr(md5('7:' || g),1,15))::BIGINT) AS mh7
        |  FROM e GROUP BY 1, 2),
        |inter AS (SELECT a.lang, a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i2
        |  FROM e a JOIN e b ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3),
        |j AS (SELECT inter.lang, id_a, id_b,
        |    i2::DOUBLE / (x.n + y.n - i2) AS jac
        |  FROM inter
        |  JOIN d x ON x.doc_id = id_a AND x.lang = inter.lang
        |  JOIN d y ON y.doc_id = id_b AND y.lang = inter.lang),
        |f AS (SELECT j.lang, id_a, id_b, jac,
        |    ((CASE WHEN a.mh0 = b.mh0 THEN 1 ELSE 0 END +
        |      CASE WHEN a.mh1 = b.mh1 THEN 1 ELSE 0 END +
        |      CASE WHEN a.mh2 = b.mh2 THEN 1 ELSE 0 END +
        |      CASE WHEN a.mh3 = b.mh3 THEN 1 ELSE 0 END +
        |      CASE WHEN a.mh4 = b.mh4 THEN 1 ELSE 0 END +
        |      CASE WHEN a.mh5 = b.mh5 THEN 1 ELSE 0 END +
        |      CASE WHEN a.mh6 = b.mh6 THEN 1 ELSE 0 END +
        |      CASE WHEN a.mh7 = b.mh7 THEN 1 ELSE 0 END))::DOUBLE / 8.0 AS est
        |  FROM j
        |  JOIN m a ON a.doc_id = id_a AND a.lang = j.lang
        |  JOIN m b ON b.doc_id = id_b AND b.lang = j.lang)
        |SELECT lang, id_a, id_b, round(jac, 6) AS jaccard, round(est, 6) AS est,
        |  round(est - jac, 6) AS err
        |FROM f ORDER BY lang, id_a, id_b""".stripMargin,

    // q82's split replayed; d = squared-loss differential, DM = d̄/√(γ₀/n)
    "q301_dm" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d, sum(value) AS v
        |  FROM events GROUP BY 1,2),
        |r AS (SELECT user_id, d, v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d DESC) AS rd FROM daily),
        |p1 AS (SELECT user_id, avg(v) AS p1 FROM r WHERE rd > 5 GROUP BY 1),
        |p2 AS (SELECT user_id, v AS p2 FROM r WHERE rd = 6),
        |t AS (SELECT r.user_id,
        |    (r.v - p1.p1)*(r.v - p1.p1) - (r.v - p2.p2)*(r.v - p2.p2) AS dd
        |  FROM r JOIN p1 USING (user_id) JOIN p2 USING (user_id) WHERE rd <= 5)
        |SELECT user_id, count(*) AS n, round(avg(dd), 6) AS mean_d,
        |  round(CASE WHEN var_pop(dd) > 0 AND count(*) >= 2
        |    THEN avg(dd) / sqrt(var_pop(dd) / count(*)) END, 6) AS dm_stat
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    // classical two-proportion sizing; z-quantile literals added in-engine
    "q302_mde" ->
      """WITH e AS (SELECT event_type, event_id % 2 AS arm,
        |    CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END AS conv FROM events),
        |g AS (SELECT event_type,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
        |    sum(CASE WHEN arm = 0 THEN conv ELSE 0 END)::BIGINT AS c_a,
        |    sum(conv)::BIGINT AS c, count(*)::BIGINT AS n
        |  FROM e GROUP BY 1),
        |f AS (SELECT event_type, n_a, n_b,
        |    c_a::DOUBLE / n_a::DOUBLE AS p_ctl, c::DOUBLE / n::DOUBLE AS pp,
        |    1.959963984540054::DOUBLE + 0.8416212335729143::DOUBLE AS zs
        |  FROM g),
        |m AS (SELECT event_type, n_a, n_b, p_ctl, pp, zs,
        |    zs * sqrt(pp * (1.0 - pp) * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)) AS mde
        |  FROM f)
        |SELECT event_type, n_a, n_b, round(p_ctl, 6) AS p_control,
        |  round(pp, 6) AS p_pool, round(mde, 6) AS mde_abs,
        |  round(mde / p_ctl, 6) AS mde_rel,
        |  round(2.0 * pp * (1.0 - pp) * (zs * zs) /
        |    ((0.1::DOUBLE * p_ctl) * (0.1::DOUBLE * p_ctl)), 6) AS n_required
        |FROM m ORDER BY 1""".stripMargin,

    // corpus-wide top-20 words (exact-count cut, word tie-break), per-lang
    // relative frequencies densified with zeros, z-scored across langs,
    // Delta = mean |z_a − z_b|; σ=0 words excluded by null z in BOTH engines
    "q303_burrows" ->
      """WITH toks AS (SELECT lang, unnest(list_filter(
        |    regexp_split_to_array(trim(lower(text)), '\s+'), w -> w <> '')) AS word
        |  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
        |cnt AS (SELECT lang, word, count(*)::BIGINT AS c FROM toks GROUP BY 1,2),
        |tot AS (SELECT lang, sum(c)::BIGINT AS n FROM cnt GROUP BY 1),
        |top AS (SELECT word FROM (SELECT word, sum(c) AS gc FROM cnt GROUP BY 1)
        |  ORDER BY gc DESC, word LIMIT 20),
        |dense AS (SELECT t.lang, p.word,
        |    coalesce(c.c, 0)::DOUBLE / t.n::DOUBLE AS f
        |  FROM tot t CROSS JOIN top p
        |  LEFT JOIN cnt c ON c.lang = t.lang AND c.word = p.word),
        |st AS (SELECT word, avg(f) AS mu, stddev_pop(f) AS sd FROM dense GROUP BY 1),
        |z AS (SELECT d.lang, d.word,
        |    CASE WHEN st.sd > 0 THEN (d.f - st.mu) / st.sd END AS z
        |  FROM dense d JOIN st USING (word))
        |SELECT a.lang AS lang_a, b.lang AS lang_b,
        |  count(abs(a.z - b.z))::BIGINT AS m_used,
        |  round(avg(abs(a.z - b.z)), 6) AS delta
        |FROM z a JOIN z b ON a.word = b.word AND a.lang < b.lang
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q156's bins replayed; REL/RES against the binned means, UNC = ō(1−ō)
    "q304_brier_decomp" ->
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
        |    avg(y) AS ybar FROM bb)
        |SELECT max(tot.n)::BIGINT AS n, round(max(tot.brier), 6) AS brier,
        |  round(sum(per.nb * (per.conf - per.acc) * (per.conf - per.acc)
        |    / tot.n), 6) AS reliability,
        |  round(sum(per.nb * (per.acc - tot.ybar) * (per.acc - tot.ybar)
        |    / tot.n), 6) AS resolution,
        |  round(max(tot.ybar * (1.0 - tot.ybar)), 6) AS uncertainty
        |FROM per, tot""".stripMargin,

    // q82's split with a lag-1 naive: U2 = √(SSE_model / SSE_naive)
    "q305_theil_u" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d, sum(value) AS v
        |  FROM events GROUP BY 1,2),
        |r AS (SELECT user_id, d, v,
        |    lag(v) OVER (PARTITION BY user_id ORDER BY d) AS nv,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d DESC) AS rd FROM daily),
        |p AS (SELECT user_id, avg(v) AS p FROM r WHERE rd > 5 GROUP BY 1),
        |t AS (SELECT r.user_id, v, nv, p.p FROM r JOIN p USING (user_id)
        |  WHERE rd <= 5 AND nv IS NOT NULL)
        |SELECT user_id,
        |  round(CASE WHEN sum((nv - v) * (nv - v)) > 0
        |    THEN sqrt(sum((p - v) * (p - v)) / sum((nv - v) * (nv - v))) END, 6)
        |    AS theil_u,
        |  count(*) AS n
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    // top-down = parent forecast × historical proportion; bottom-up = Σ
    // child forecasts per parent (the coherence column)
    "q306_reconcile" ->
      """WITH daily AS (SELECT (user_id % 4)::VARCHAR AS shard, user_id,
        |    date_trunc('day', ts) AS d, sum(value) AS v
        |  FROM events GROUP BY 1,2,3),
        |cfc AS (SELECT shard, user_id, avg(v) AS yhat FROM daily GROUP BY 1,2),
        |pdaily AS (SELECT shard, d, sum(v) AS pv FROM daily GROUP BY 1,2),
        |pfc AS (SELECT shard, avg(pv) AS pfc FROM pdaily GROUP BY 1),
        |ct AS (SELECT shard, user_id, sum(v) AS child_tot FROM daily GROUP BY 1,2),
        |pt AS (SELECT shard, sum(child_tot) AS parent_tot FROM ct GROUP BY 1),
        |bu AS (SELECT shard, sum(yhat) AS yhat_bu FROM cfc GROUP BY 1)
        |SELECT c.shard, c.user_id, round(c.yhat, 6) AS yhat_base,
        |  round(CASE WHEN pt.parent_tot <> 0
        |    THEN ct.child_tot / pt.parent_tot END, 6) AS prop,
        |  round(CASE WHEN pt.parent_tot <> 0
        |    THEN pfc.pfc * (ct.child_tot / pt.parent_tot) END, 6) AS yhat_td,
        |  round(bu.yhat_bu, 6) AS yhat_bu
        |FROM cfc c JOIN ct USING (shard, user_id) JOIN pt USING (shard)
        |  JOIN pfc USING (shard) JOIN bu USING (shard)
        |ORDER BY 1, 2""".stripMargin,

    // TSB: p = SES(indicator over ALL days, β=0.2, init = first indicator),
    // z = croston's size level (α=0.3); both as power-decay weighted sums
    "q307_tsb" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d, sum(value) AS v
        |  FROM events GROUP BY 1,2),
        |g AS (SELECT user_id, d,
        |    CASE WHEN (epoch(d)::BIGINT // 86400) % 3 = 0 THEN v ELSE 0.0 END AS v
        |  FROM daily),
        |r AS (SELECT user_id, d, v,
        |    row_number() OVER w AS rn,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d DESC) - 1 AS back,
        |    max(d) OVER (PARTITION BY user_id) AS last_d
        |  FROM g WINDOW w AS (PARTITION BY user_id ORDER BY d)),
        |p AS (SELECT user_id, max(last_d) AS last_d,
        |    sum(CASE WHEN rn = 1 THEN power(0.8, back) ELSE 0.2*power(0.8, back) END
        |        * CASE WHEN v <> 0 THEN 1.0 ELSE 0.0 END) AS p
        |  FROM r GROUP BY 1),
        |nz AS (SELECT user_id, v,
        |    row_number() OVER w2 AS rn2,
        |    row_number() OVER (PARTITION BY user_id ORDER BY d DESC) - 1 AS back2
        |  FROM g WHERE v <> 0 WINDOW w2 AS (PARTITION BY user_id ORDER BY d)),
        |z AS (SELECT user_id,
        |    sum(CASE WHEN rn2 = 1 THEN power(0.7, back2)*v
        |        ELSE 0.3*power(0.7, back2)*v END) AS z
        |  FROM nz GROUP BY 1)
        |SELECT p.user_id, epoch(p.last_d)::BIGINT + s.s*86400 AS forecast_s,
        |  s.s AS step, round(p.p * z.z, 6) AS yhat
        |FROM p JOIN z USING (user_id), generate_series(1,3) s(s)
        |ORDER BY 1, 3""".stripMargin,

    // TS_t = cumulative error / expanding MAD of the expanding-mean forecast
    "q308_tracking_signal" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d, sum(value) AS v
        |  FROM events GROUP BY 1,2),
        |f AS (SELECT user_id, d, v,
        |    avg(v) OVER (PARTITION BY user_id ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS fc
        |  FROM daily),
        |e AS (SELECT user_id, d, v - fc AS err FROM f WHERE fc IS NOT NULL),
        |t AS (SELECT user_id, d,
        |    sum(err) OVER w AS cum_err, avg(abs(err)) OVER w AS mad
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, epoch(d)::BIGINT AS d_s, round(cum_err, 6) AS cum_err,
        |  round(mad, 6) AS mad,
        |  round(CASE WHEN mad > 0 THEN cum_err/mad END, 6) AS tsig,
        |  CASE WHEN mad > 0 AND abs(cum_err/mad) > 4.0 THEN 1 ELSE 0 END AS alarm
        |FROM t ORDER BY 1, 2""".stripMargin,

    "q309_fva" ->
      """WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d, sum(value) AS v
        |  FROM events GROUP BY 1,2),
        |f AS (SELECT user_id, d, v,
        |    lag(v) OVER (PARTITION BY user_id ORDER BY d) AS naive,
        |    avg(v) OVER (PARTITION BY user_id ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS fc
        |  FROM daily),
        |m AS (SELECT user_id, avg(abs(v - naive)) AS mae_naive,
        |    avg(abs(v - fc)) AS mae_model, count(*) AS n
        |  FROM f WHERE naive IS NOT NULL AND fc IS NOT NULL GROUP BY 1)
        |SELECT user_id, round(mae_naive, 6) AS mae_naive,
        |  round(mae_model, 6) AS mae_model,
        |  round(CASE WHEN mae_naive > 0
        |    THEN (mae_naive - mae_model) / mae_naive END, 6) AS fva, n
        |FROM m ORDER BY 1""".stripMargin,
  )
}
