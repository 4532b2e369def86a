package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataframe profiling — the reference's `describe()` summary
  * (/root/reference/forecastframe/interpret.py:172-177: count/mean/std/min/
  * p25/p50/p75/max per numeric column).
  *
  * One aggregation pass computes every stat for every column (8·|cols|
  * aggregate expressions in a single job — percentiles exact, not the
  * approximate ones `Dataset.summary()` uses); the single result row is then
  * exploded to the pandas-shaped (column, stat...) layout. At 100 TB this is
  * one scan + one 1-row reduce, no shuffle of data rows.
  */
object Profile {

  def describe(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      val x = col(c).cast("double")
      Seq(
        count(x).as(s"${c}__count"),
        avg(x).as(s"${c}__mean"),
        stddev_samp(x).as(s"${c}__std"),
        min(x).as(s"${c}__min"),
        percentile(x, lit(0.25)).as(s"${c}__p25"),
        percentile(x, lit(0.5)).as(s"${c}__p50"),
        percentile(x, lit(0.75)).as(s"${c}__p75"),
        max(x).as(s"${c}__max"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val structs = array(cols.map { c =>
      struct(lit(c).as("column"),
        col(s"${c}__count").as("count"), col(s"${c}__mean").as("mean"),
        col(s"${c}__std").as("std"), col(s"${c}__min").as("min"),
        col(s"${c}__p25").as("p25"), col(s"${c}__p50").as("p50"),
        col(s"${c}__p75").as("p75"), col(s"${c}__max").as("max"))
    }: _*)
    row.select(explode(structs).as("d")).select("d.*")
  }

  /** Data-quality expectations report — the reference's PK assertion
    * (main.py:58-69) generalized to the Great-Expectations-style checks a
    * pipeline runs before publishing a tier: per check one row
    * `(check, target, violations, total, pass)`.
    *
    * All row-level checks (not-null, range, accepted-values) ride ONE
    * aggregate pass over the data — adding a check adds an expression, not
    * a scan. Each uniqueness check is one extra groupBy on its key set
    * (violations = rows beyond the first per duplicated key).
    */
  def expectations(df: DataFrame,
                   notNull: Seq[String] = Nil,
                   unique: Seq[Seq[String]] = Nil,
                   ranges: Seq[(String, Double, Double)] = Nil,
                   accepted: Seq[(String, Seq[String])] = Nil): DataFrame = {
    require(notNull.nonEmpty || unique.nonEmpty || ranges.nonEmpty || accepted.nonEmpty,
      "at least one expectation required")
    val rowChecks: Seq[(String, String, org.apache.spark.sql.Column)] =
      notNull.map(c => ("not_null", c,
        sum(when(col(c).isNull, 1L).otherwise(0L)))) ++
      ranges.map { case (c, lo, hi) => (s"range[$lo,$hi]", c,
        sum(when(col(c).isNotNull && (col(c) < lo || col(c) > hi), 1L).otherwise(0L))) } ++
      accepted.map { case (c, vals) => (s"accepted{${vals.mkString(",")}}", c,
        sum(when(col(c).isNotNull && !col(c).isin(vals: _*), 1L).otherwise(0L))) }
    val rowAggs = rowChecks.zipWithIndex.map { case ((_, _, e), i) => e.as(s"_v$i") } :+
      count(lit(1)).as("_total")
    val one = df.agg(rowAggs.head, rowAggs.tail: _*)
    val rowReport = one.select(explode(array(rowChecks.zipWithIndex.map {
      case ((kind, target, _), i) =>
        struct(lit(kind).as("check"), lit(target).as("target"),
          col(s"_v$i").as("violations"), col("_total").as("total"))
    }: _*)).as("d")).select("d.*")
    val uniqueReports = unique.map { keys =>
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))
        .agg(coalesce(sum(when(col("_n") > 1, col("_n") - 1)), lit(0L)).as("violations"),
          coalesce(sum(col("_n")), lit(0L)).as("total"))
        .select(lit("unique").as("check"), lit(keys.mkString(",")).as("target"),
          col("violations"), col("total"))
    }
    uniqueReports.foldLeft(rowReport)(_ unionByName _)
      .withColumn("pass", col("violations") === 0L)
  }

  /** Categorical concentration profile per group: Shannon entropy (bits)
    * and the Herfindahl–Hirschman index of `catCol`'s distribution,
    *   H = −Σ p·log₂p,   HHI = Σ p²,   p = category share (nulls excluded).
    * The scalars behind "is this host serving one language or fifty" /
    * "is this user's traffic one event type" — entropy 0 and HHI 1 mean
    * single-category, log₂(k) and 1/k mean uniform over k. The natural
    * companion to the tier store's `lang_card`: cardinality says how many,
    * concentration says how skewed.
    *
    * Two partial-aggregable shuffles, both on bounded keys: category counts
    * per (keys, category), then the entropy/HHI sums per keys — category
    * cardinality never hits the driver.
    */
  def concentration(df: DataFrame, keyCols: Seq[String], catCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val counts = df.filter(col(catCol).isNotNull)
      .groupBy(keys :+ col(catCol).as("_cat"): _*)
      .agg(count(lit(1)).as("_c"))
    counts
      .withColumn("_tot", sum(col("_c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(keys: _*)))
      .withColumn("_p", col("_c").cast("double") / col("_tot"))
      .groupBy(keys: _*)
      .agg(
        sum(col("_c")).as("n"),
        count(lit(1)).as("n_categories"),
        (-sum(col("_p") * log2(col("_p")))).as("entropy"),
        // HHI via the EXACT integer form Σc²/n² — the count sums stay
        // integers (< 2^53), so the single final division is bit-identical
        // regardless of aggregation order (Σp² is order-sensitive in the
        // last ulp, which an independent engine replay can round differently)
        (sum(col("_c") * col("_c")).cast("double") /
          (max(col("_tot")) * max(col("_tot"))).cast("double")).as("hhi"))
  }

  /** Trimmed and winsorized means per key — the robust center estimates
    * between the mean (breakdown 0) and the median (breakdown 0.5):
    * trimmed = mean of values inside the exact [loQ, hiQ] quantile band
    * (inclusive), winsorized = mean after clamping to the band (the
    * aggregate companion to [[Scalers.winsorize]]'s row transform).
    *
    * One grouped exact-percentile pass for the band + one conditional
    * aggregation — both partial-aggregable; the band join is key-sized
    * (broadcasts under AQE). Quantiles are exact interpolated percentiles
    * (the [[Rollup]] parity contract), so the band — and therefore which
    * rows a replaying engine keeps — is deterministic.
    * Output: (keys..., mean, trimmed_mean, winsor_mean, n, n_kept).
    */
  def trimmedMean(df: DataFrame, keyCols: Seq[String], valCol: String,
                  loQ: Double = 0.05, hiQ: Double = 0.95): DataFrame = {
    require(loQ >= 0 && hiQ <= 1 && loQ < hiQ,
      s"need 0 <= loQ < hiQ <= 1, got $loQ/$hiQ")
    val keys = keyCols.map(col)
    val v = col(valCol).cast("double")
    val band = df.filter(v.isNotNull).groupBy(keys: _*)
      .agg(percentile(v, lit(loQ)).as("_qlo"), percentile(v, lit(hiQ)).as("_qhi"))
    df.filter(v.isNotNull).join(band, keyCols)
      .groupBy(keys: _*)
      .agg(avg(v).as("mean"),
        avg(when(v.between(col("_qlo"), col("_qhi")), v)).as("trimmed_mean"),
        avg(greatest(col("_qlo"), least(col("_qhi"), v))).as("winsor_mean"),
        count(lit(1)).as("n"),
        count(when(v.between(col("_qlo"), col("_qhi")), lit(1))).as("n_kept"))
  }

  /** Lower weighted median per key: the smallest value v whose cumulative
    * weight reaches half the total — the center of a frequency-weighted
    * distribution (e.g. text length weighted by token count), where an
    * unweighted median over pre-aggregated rows is simply wrong. Pinned to
    * the LOWER median convention (2·cumw ≥ totw picks the first qualifying
    * value) so an independent engine replays it exactly, ties in the value
    * column pre-merged so cumulative order is deterministic.
    * One grouped merge + one per-key ordered window over DISTINCT values.
    * Output: (keys..., weighted_median, total_w).
    */
  def weightedMedian(df: DataFrame, keyCols: Seq[String], valCol: String,
                     weightCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val v = col(valCol).cast("double"); val w = col(weightCol).cast("double")
    val perVal = df.filter(v.isNotNull && w.isNotNull && w > 0)
      .groupBy((keys :+ v.as("_v")): _*)
      .agg(sum(w).as("_w"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(col("_v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val winAll = org.apache.spark.sql.expressions.Window.partitionBy(keys: _*)
    perVal
      .withColumn("_cw", sum(col("_w")).over(win))
      .withColumn("_tw", sum(col("_w")).over(winAll))
      .groupBy(keys: _*)
      .agg(min(when(col("_cw") * 2 >= col("_tw"), col("_v")))
        .as("weighted_median"), max(col("_tw")).as("total_w"))
  }

  /** Gini coefficient per key over non-negative values (inequality of the
    * distribution — 0 = perfectly even, →1 = one row owns everything):
    *   G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx),  x₍ᵢ₎ sorted ascending.
    * Σ i·x is invariant under permuting tied values, so the rank window is
    * deterministic cross-engine even with duplicates. The companion of
    * [[concentration]] for NUMERIC mass (concentration covers categorical
    * shares). Null when the total is 0 (inequality undefined), rows with
    * negative values rejected by contract.
    * One per-key ordered window + one aggregation.
    * Output: (keys..., gini, n).
    */
  def gini(df: DataFrame, keyCols: Seq[String], valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val v = col(valCol).cast("double")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(col("_v"))
    df.filter(v.isNotNull && v >= 0)
      .select((keys :+ v.as("_v")): _*)
      .withColumn("_i", row_number().over(win).cast("double"))
      .groupBy(keys: _*)
      .agg(((lit(2.0) * sum(col("_i") * col("_v")) -
        (count(lit(1)) + lit(1)) * sum(col("_v"))) /
        (count(lit(1)) * sum(col("_v")))).as("_g"),
        count(lit(1)).as("n"), sum(col("_v")).as("_tot"))
      .withColumn("gini", when(col("_tot") > 0, col("_g")))
      .select((keys :+ col("gini") :+ col("n")): _*)
  }

  /** Mutual information between two categorical columns (nats), plus the
    * marginal entropies — "does knowing A tell you about B", the
    * categorical association measure ([[concentration]] profiles ONE
    * column; this relates two):
    *   MI = Σ_{a,b} (c_ab/n) · ln(n·c_ab / (c_a·c_b))
    * Everything derives from exact integer counts with divisions only in
    * the final projections, so an independent engine replays it. The
    * normalized variant MI / min(H(a), H(b)) ∈ [0, 1] (0 when either
    * marginal is deterministic — nothing to explain).
    *
    * Plan: one (a,b) grouped count (map-side combinable); marginals and
    * entropies re-aggregated FROM the cell counts (rows touched once);
    * the final assembly is three one-row frames cross-joined. Category
    * cardinality is bounded by contract (same as [[concentration]]).
    * Output: one row (mi, h_a, h_b, mi_norm, n_cells, n).
    */
  def mutualInfo(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("_a"), col(bCol).as("_b"))
      .agg(count(lit(1)).as("_c"))
    val ma = cells.groupBy("_a").agg(sum(col("_c")).as("_ca"))
    val mb = cells.groupBy("_b").agg(sum(col("_c")).as("_cb"))
    val tot = cells.agg(sum(col("_c")).as("_n"))
    val nd = col("_n").cast("double")
    val mi = cells.join(broadcast(ma), "_a").join(broadcast(mb), "_b")
      .join(tot)
      .agg(sum((col("_c") / nd) *
        log(col("_c") * nd / (col("_ca") * col("_cb")))).as("mi"),
        count(lit(1)).as("n_cells"))
    val ha = ma.join(tot)
      .agg((-sum((col("_ca") / nd) * log(col("_ca") / nd))).as("h_a"))
    val hb = mb.join(tot)
      .agg((-sum((col("_cb") / nd) * log(col("_cb") / nd))).as("h_b"))
    mi.crossJoin(ha).crossJoin(hb).crossJoin(tot)
      .withColumn("mi_norm", when(least(col("h_a"), col("h_b")) > 0,
        col("mi") / least(col("h_a"), col("h_b"))))
      .select(col("mi"), col("h_a"), col("h_b"), col("mi_norm"),
        col("n_cells"), col("_n").as("n"))
  }

  /** Tail attribution: which segment drives the extreme tail? For the
    * top-`tailK` rows by `valueCol` (ties broken by `tieCol` — a RANK cut,
    * integer-exact, never a percentile threshold whose interpolated float
    * could flake a membership compare), per-segment counts in the tail vs
    * overall, and the lift (tail share ÷ overall share) — lift ≫ 1 marks
    * the segment that owns the p99 ("the p99 latency is all
    * /checkout"-style monitoring reads).
    *
    * Scale: the tail is a distributed TakeOrdered of K rows (no global
    * window, nothing shuffled but K survivors); overall counts are one
    * map-side-combined aggregation; the lift arithmetic is fixed-order
    * IEEE on exact longs.
    */
  def tailLift(df: DataFrame, segmentCol: String, valueCol: String,
               tieCol: String, tailK: Int): DataFrame = {
    require(tailK >= 1, s"tailK must be >= 1, got $tailK")
    val tail = df.orderBy(col(valueCol).desc, col(tieCol)).limit(tailK)
      .groupBy(segmentCol).agg(count(lit(1)).as("tail_cnt"))
    val overall = df.groupBy(segmentCol).agg(count(lit(1)).as("total_cnt"))
    val n = df.agg(count(lit(1)).as("n_total"))
    overall.join(tail, Seq(segmentCol), "left")
      .na.fill(0L, Seq("tail_cnt"))
      .crossJoin(n)
      .withColumn("tail_share", col("tail_cnt").cast("double") / lit(tailK.toDouble))
      .withColumn("overall_share",
        col("total_cnt").cast("double") / col("n_total").cast("double"))
      .withColumn("lift",
        when(col("tail_cnt") > 0, col("tail_share") / col("overall_share")))
      .select(col(segmentCol), col("total_cnt"), col("tail_cnt"),
        col("tail_share"), col("overall_share"), col("lift"))
  }

  /** ABC / Pareto classification: categories ranked by total weight
    * (descending, id tie-break), classed A while the cumulative share is
    * ≤ `aCut` (default 0.8), B while ≤ `bCut` (default 0.95), C after —
    * the storage-triage view ("which hosts are the 80% of the corpus").
    *
    * Determinism: weights aggregate to exact integer sums, the cumulative
    * sum is an integer window, and each share is ONE division of exact
    * longs — the class boundaries compare identical doubles in both
    * engines. The ranking window is global but runs on the AGGREGATED
    * category table (|categories| rows) — the same bounded-domain contract
    * as the ordinal dictionary in [[graft.operators.Encoding]]; never
    * point it at an unaggregated key.
    */
  def abcClass(df: DataFrame, catCol: String, weightCol: String,
               aCut: Double = 0.8, bCut: Double = 0.95): DataFrame = {
    require(aCut > 0 && aCut < bCut && bCut < 1.0, s"need 0 < aCut < bCut < 1")
    val agg = df.groupBy(col(catCol).as("cat"))
      .agg(sum(col(weightCol)).as("w_sum"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("w_sum").desc, col("cat"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = agg.agg(sum(col("w_sum")).as("w_total")) // one bounded scalar row
    agg.withColumn("cum_w", sum(col("w_sum")).over(w))
      .crossJoin(tot)
      .withColumn("cum_share", col("cum_w").cast("double") / col("w_total").cast("double"))
      .withColumn("abc_class",
        when(col("cum_share") <= aCut, lit("A"))
          .when(col("cum_share") <= bCut, lit("B"))
          .otherwise(lit("C")))
      .select(col("cat"), col("w_sum"), col("cum_share"), col("abc_class"))
  }

  /** Top-k categories per group with an explicit 'OTHER' rollup — the
    * universal reporting shape ("top 2 sources per language, rest lumped")
    * that a bare top-k silently misrepresents by dropping the tail mass.
    * Rank by (count desc, category) on the AGGREGATED (group, category)
    * table — the window is bounded by per-group category cardinality —
    * then one re-aggregation folds the tail into 'OTHER'. Integer counts
    * end to end.
    */
  def topKWithOther(df: DataFrame, groupCols: Seq[String], catCol: String,
                    k: Int, otherLabel: String = "OTHER"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val keys = groupCols.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(col("cnt").desc, col("_cat"))
    df.groupBy((keys :+ col(catCol).cast("string").as("_cat")): _*)
      .agg(count(lit(1)).as("cnt"))
      .withColumn("_rk", row_number().over(w))
      .withColumn("category",
        when(col("_rk") <= k, col("_cat")).otherwise(lit(otherLabel)))
      .groupBy((keys :+ col("category")): _*)
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Behavioral (Shannon) entropy per key over a BOUNDED category domain:
    * H = −Σ_c (n_c/n)·ln(n_c/n) — the diversity score separating one-note
    * automation from varied human behavior (0 = single category, ln|C| =
    * uniform). The category list is collected at plan time (bounded-domain
    * contract, same as the IVF centroid table and the ordinal dictionary)
    * so the per-key term sum is a FIXED-ORDER literal expression chain —
    * never a float aggregation whose order shuffles could reorder; an
    * independent SQL replay evaluates the identical chain.
    *
    * One conditional-count aggregation per key; the entropy projection is
    * narrow.
    */
  def behaviorEntropy(df: DataFrame, keyCols: Seq[String], catCol: String,
                      maxCategories: Int = 1000): DataFrame = {
    val cats = df.select(col(catCol).cast("string")).distinct()
      .orderBy(catCol).limit(maxCategories + 1)
      .collect().map(_.getString(0)) // bounded: the category domain
    require(cats.length <= maxCategories,
      s"more than $maxCategories categories — not a bounded-domain column")
    val keys = keyCols.map(col)
    val counted = df.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"),
        cats.zipWithIndex.map { case (c, i) =>
          sum(when(col(catCol).cast("string") === c, 1L).otherwise(0L)).as(s"_c$i")
        }: _*)
    val terms = cats.indices.map { i =>
      val p = col(s"_c$i").cast("double") / col("n").cast("double")
      when(col(s"_c$i") > 0, -(p * log(p))).otherwise(lit(0.0))
    }
    counted
      .withColumn("n_cats",
        cats.indices.map(i => when(col(s"_c$i") > 0, 1L).otherwise(0L))
          .reduce(_ + _))
      .withColumn("entropy", terms.reduce(_ + _)) // fixed left-assoc order
      .select((keys :+ col("n") :+ col("n_cats") :+ col("entropy")): _*)
  }

  /** Trending ranks: per period, keys ranked by activity count (count
    * desc, key tie-break), each carrying its PREVIOUS period's rank and
    * the delta — the "top movers / new entries" leaderboard view (null
    * prev_rank = new this period; positive delta = climbed). Ranks are
    * integer counts under a total order, so the whole table is cross-
    * engine exact. One count shuffle + one per-period window (bounded by
    * key cardinality) + one self-join on (period+1, key).
    */
  def trendingRanks(df: DataFrame, keyCol: String, periodCol: String): DataFrame = {
    val counts = df.groupBy(col(periodCol).cast("long").as("p"), col(keyCol).as("key"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("p").orderBy(col("cnt").desc, col("key"))
    val ranked = counts.withColumn("rank", row_number().over(w).cast("long"))
      .localCheckpoint() // consumed twice (current + shifted-previous side)
    ranked.join(
        ranked.select((col("p") + 1).as("p"), col("key"),
          col("rank").as("prev_rank")),
        Seq("p", "key"), "left")
      .withColumn("rank_delta", col("prev_rank") - col("rank"))
      .select(col("p"), col("key"), col("cnt"), col("rank"),
        col("prev_rank"), col("rank_delta"))
  }

  /** Pairwise cosine similarity between segment activity PROFILES: each
    * segment's row-count vector over `bucketCol` (hour-of-day, day-of-week,
    * …), compared for every segment pair — "which event types share a
    * temporal shape" / "which sources have the same hourly rhythm".
    *
    * Cosine is scale-invariant, so raw COUNTS are the vectors — dot
    * products and squared norms stay integer-exact in longs, and the one
    * float step is dot/(√ssa·√ssb) (IEEE sqrt is correctly rounded, so
    * even that is bit-reproducible). The pair join is on the bucket key of
    * the PROFILE table (|segments| × |buckets| rows — tiny), never on raw
    * rows; everything upstream is one map-side-combined count. SPARSE
    * semantics: segment pairs sharing no bucket produce NO row (their
    * cosine is 0) — the inner bucket join is what keeps the pair table
    * bounded by co-occurrence, not |segments|².
    */
  def profileCosine(df: DataFrame, segmentCol: String,
                    bucketCol: String): DataFrame = {
    val prof = df.groupBy(col(segmentCol).as("seg"), col(bucketCol).as("b"))
      .agg(count(lit(1)).as("c"))
    val norms = prof.groupBy("seg").agg(sum(col("c") * col("c")).as("ss"))
    val dots = prof.select(col("seg").as("seg_a"), col("b"), col("c").as("ca"))
      .join(prof.select(col("seg").as("seg_b"), col("b"), col("c").as("cb")), "b")
      .filter(col("seg_a") < col("seg_b"))
      .groupBy("seg_a", "seg_b").agg(sum(col("ca") * col("cb")).as("dot"))
    dots
      .join(norms.select(col("seg").as("seg_a"), col("ss").as("ssa")), "seg_a")
      .join(norms.select(col("seg").as("seg_b"), col("ss").as("ssb")), "seg_b")
      .withColumn("cosine", col("dot").cast("double") /
        (sqrt(col("ssa").cast("double")) * sqrt(col("ssb").cast("double"))))
      .select(col("seg_a"), col("seg_b"), col("dot"), col("cosine"))
  }

  /** Top-k set churn: per (group, period), the Jaccard overlap between the
    * period's top-k item set and the PREVIOUS period's — "how much of the
    * leaderboard turned over" ([[rankBiasedOverlap]]'s unweighted set
    * cousin; this one ignores rank position entirely). Periods must be
    * integer-indexed; a period without a predecessor gets no row.
    *
    * Rankings order by (`cntCol` DESC, item) — integer measure, id
    * tie-break. Everything after the bounded per-(group, period) rank
    * window is k-sized: set sizes, the intersection equi-join, and the
    * exact integer Jaccard `|∩| / (|A|+|B|−|∩|)`.
    */
  def topKChurn(df: DataFrame, groupCols: Seq[String], periodCol: String,
                itemCol: String, cntCol: String, k: Int): DataFrame = {
    require(k >= 1, s"topKChurn: k must be >= 1, got $k")
    val keys = groupCols.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((keys :+ col(periodCol)): _*)
      .orderBy(col(cntCol).desc, col(itemCol))
    val top = df.withColumn("_r", row_number().over(w)).filter(col("_r") <= k)
      .select((keys :+ col(periodCol) :+ col(itemCol)): _*)
    val sizes = top.groupBy((keys :+ col(periodCol)): _*)
      .agg(count(lit(1)).as("_sz"))
    val prev = top.select((keys :+ (col(periodCol) + 1).as(periodCol) :+
      col(itemCol)): _*)
    val inter = top.join(prev, groupCols :+ periodCol :+ itemCol)
      .groupBy((keys :+ col(periodCol)): _*).agg(count(lit(1)).as("n_common"))
    val prevSizes = sizes.select((keys :+ (col(periodCol) + 1).as(periodCol) :+
      col("_sz").as("n_prev")): _*)
    sizes.withColumnRenamed("_sz", "n_cur")
      .join(prevSizes, groupCols :+ periodCol)
      .join(inter, groupCols :+ periodCol, "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .withColumn("jaccard", col("n_common") /
        (col("n_prev") + col("n_cur") - col("n_common")))
  }

  /** Jensen–Shannon divergence (Lin 1991) of each group's category
    * distribution from the GLOBAL baseline distribution — the symmetric,
    * bounded (≤ ln 2) drift measure that, unlike KL, tolerates categories
    * absent on one side ("did this week's traffic mix shift?").
    *
    * `cats` is the caller's bounded category domain in a FIXED order (the
    * [[behaviorEntropy]] contract): counts pivot to one column per
    * category, and the ½Σp·ln(2p/(p+q)) + ½Σq·ln(2q/(p+q)) terms fold
    * left-associatively over that literal list — no shuffled float sum
    * anywhere, so the result is bit-stable across partitionings and
    * engines. Counts themselves are exact integers; zero-mass categories
    * contribute exactly 0 by convention.
    *
    * Plan: one group-grain pivot aggregate + one 1-row global aggregate
    * broadcast by crossJoin.
    */
  /** Tail-conditional mean (CVaR / expected shortfall) by RANK: per group,
    * the mean of the top `k = ceil(n·tailNum/tailDen)` values, ranked
    * `(value desc, id)`. The tail is an INTEGER rank cut with an id
    * tie-break, never an interpolated-quantile threshold filter — a float
    * threshold (`value >= quantile_cont(q)`) can flip membership on the
    * boundary ulp between engines, and under heavy ties it selects a
    * different tail mass than the definition promises. `var_threshold` is
    * the k-th (smallest selected) value — the rank-based VaR.
    *
    * One shuffle on the group key; ranking a group is O(group) — for a tiny
    * tail fraction over a huge group, pre-filter with an approximate
    * threshold (`percentile_approx`) minus a safety margin, then rank only
    * the survivors (same result, bounded sort).
    *
    * @param tailNum/tailDen tail fraction as a rational (e.g. 1/10 for the
    *                        top decile) so k is integer-exact cross-engine
    */
  def tailMean(df: DataFrame, groupCols: Seq[String], valCol: String,
               idCol: String, tailNum: Int, tailDen: Int): DataFrame = {
    require(tailNum >= 1 && tailDen >= tailNum,
      s"tailMean: need 0 < tailNum/tailDen <= 1, got $tailNum/$tailDen")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(valCol).desc, col(idCol))
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    df.select((groupCols.map(col) :+ col(valCol) :+ col(idCol)): _*)
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_k", expr(s"(_n * $tailNum + ${tailDen - 1}) div $tailDen"))
      .filter(col("_rn") <= col("_k"))
      .groupBy(groupCols.map(col): _*)
      .agg(max(col("_n")).as("n"), count(lit(1)).as("k_tail"),
        min(col(valCol)).as("var_threshold"),
        avg(col(valCol)).as("tail_mean"))
  }

  def jsDivergence(df: DataFrame, groupCols: Seq[String], catCol: String,
                   cats: Seq[String]): DataFrame = {
    require(cats.nonEmpty && cats.distinct.length == cats.length,
      "jsDivergence: cats must be a non-empty list of distinct categories")
    val keys = groupCols.map(col)
    def pivoted(grouped: Seq[Column]) = df
      .filter(col(catCol).cast("string").isin(cats.map(x => x: Any): _*))
      .groupBy(grouped: _*)
      .agg(count(lit(1)).as("n"),
        cats.zipWithIndex.map { case (c, i) =>
          sum(when(col(catCol).cast("string") === c, 1L).otherwise(0L))
            .as(s"_c$i")
        }: _*)
    val per = pivoted(keys)
    val global = pivoted(Seq.empty).select(
      (col("n").as("_gn") +: cats.indices.map(i => col(s"_c$i").as(s"_g$i"))): _*)
    val joined = per.crossJoin(global)
    val terms = cats.indices.map { i =>
      val p = col(s"_c$i").cast("double") / col("n").cast("double")
      val q = col(s"_g$i").cast("double") / col("_gn").cast("double")
      val m2 = p + q // 2m; ln(2p/(p+q)) = ln(2p) - ln(p+q)
      (when(col(s"_c$i") > 0, p * (log(lit(2.0) * p) - log(m2)))
        .otherwise(lit(0.0)) +
        when(col(s"_g$i") > 0, q * (log(lit(2.0) * q) - log(m2)))
          .otherwise(lit(0.0))) / 2
    }
    joined
      .withColumn("jsd", terms.reduce(_ + _)) // fixed left-assoc order
      .select((keys :+ col("n") :+ col("jsd")): _*)
  }

  /** Chao1 species-richness estimate per group (Chao 1984, bias-corrected
    * form): from the observed distinct count D and the singleton/doubleton
    * counts f₁/f₂ of a category column,
    * `chao1 = D + f₁·(f₁−1) / (2·(f₂+1))` — a lower bound on the TRUE
    * distinct count including never-observed categories. The corpus-health
    * companion to [[graft.operators.TextAnalysis.vocabulary]]: observed
    * vocabulary says what you have, Chao1 says how much of the long tail
    * the sample hasn't surfaced yet. Bias-corrected (f₂+1) keeps it defined
    * when no doubletons exist. Integer-exact up to the single final
    * division.
    *
    * Plan: one (group, category) count aggregate (map-side combinable) +
    * one group re-aggregate — same cascade shape as a tier rollup, never a
    * distinct over raw rows.
    */
  def chao1(df: DataFrame, groupCols: Seq[String], catCol: String): DataFrame = {
    val keys = groupCols.map(col)
    val perCat = df.groupBy((keys :+ col(catCol)): _*)
      .agg(count(lit(1)).as("_c"))
    perCat.groupBy(keys: _*)
      .agg(count(lit(1)).as("d_observed"),
        sum(when(col("_c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("_c") === 2, 1L).otherwise(0L)).as("f2"))
      .withColumn("chao1",
        col("d_observed").cast("double") +
          (col("f1") * (col("f1") - 1)).cast("double") /
            (lit(2.0) * (col("f2") + 1).cast("double")))
  }

  /** Lorenz curve points per group (the curve whose doubled enclosed area is
    * the Gini): rows ranked ascending by (value, id) — id tie-break keeps
    * the order cross-engine-exact — with cumulative population share
    * `p_pop = i/n` and cumulative value share `p_val = cumsum/total`.
    * Inputs should be integer-valued measures (counts, bytes) so the
    * cumulative sums are exact; the two shares are one division each.
    * One window shuffle; row grain = input grain, so run it on a TIER or
    * otherwise bounded domain (hosts, hourly buckets), never raw events.
    */
  def lorenz(df: DataFrame, groupCols: Seq[String], valCol: String,
             idCol: String): DataFrame = {
    val keys = groupCols.map(col)
    val v = col(valCol).cast("double")
    val wOrd = Window.partitionBy(keys: _*).orderBy(col(valCol), col(idCol))
    val wAll = Window.partitionBy(keys: _*)
    df.withColumn("i", row_number().over(wOrd))
      .withColumn("_cs", sum(v).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_tot", sum(v).over(wAll))
      .withColumn("p_pop", col("i").cast("double") / col("_n").cast("double"))
      .withColumn("p_val", col("_cs") / col("_tot"))
      .select((keys ++ Seq(col("i"), col(idCol), col(valCol), col("p_pop"),
        col("p_val"))): _*)
  }

  /** First-order partial correlation per key: the x–y association with the
    * confounder z held fixed (Fisher's recursion over pairwise Pearsons):
    *   r_xy·z = (r_xy − r_xz·r_yz) / √((1 − r²_xz)(1 − r²_yz))
    * — the profiling companion to a raw correlation matrix: a large r_xy
    * that vanishes conditionally is a CONFOUNDED association, not a
    * relationship. All three Pearsons come from ONE nine-moment
    * aggregation over complete rows (x, y, z all non-null — the shared
    * sample each r needs); degenerate denominators emit null.
    * Output: (keys..., n, r_xy, r_xz, r_yz, r_xy_z).
    */
  def partialCorr(df: DataFrame, keyCols: Seq[String], xCol: String,
                  yCol: String, zCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val x = col(xCol).cast("double"); val y = col(yCol).cast("double")
    val z = col(zCol).cast("double")
    def pearson(sxy: Column, sx: Column, sy: Column, sxx: Column,
                syy: Column, n: Column): Column = {
      val num = n * sxy - sx * sy
      val den = sqrt(greatest(n * sxx - sx * sx, lit(0.0))) *
        sqrt(greatest(n * syy - sy * sy, lit(0.0)))
      when(den > 0, num / den)
    }
    df.filter(x.isNotNull && y.isNotNull && z.isNotNull)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n"),
        sum(x).as("_sx"), sum(y).as("_sy"), sum(z).as("_sz"),
        sum(x * x).as("_sxx"), sum(y * y).as("_syy"), sum(z * z).as("_szz"),
        sum(x * y).as("_sxy"), sum(x * z).as("_sxz"), sum(y * z).as("_syz"))
      .withColumn("_nd", col("n").cast("double"))
      .withColumn("r_xy", pearson(col("_sxy"), col("_sx"), col("_sy"),
        col("_sxx"), col("_syy"), col("_nd")))
      .withColumn("r_xz", pearson(col("_sxz"), col("_sx"), col("_sz"),
        col("_sxx"), col("_szz"), col("_nd")))
      .withColumn("r_yz", pearson(col("_syz"), col("_sy"), col("_sz"),
        col("_syy"), col("_szz"), col("_nd")))
      .withColumn("_den", sqrt(greatest(
          (lit(1.0) - col("r_xz") * col("r_xz")) *
          (lit(1.0) - col("r_yz") * col("r_yz")), lit(0.0))))
      .withColumn("r_xy_z", when(col("_den") > 0,
        (col("r_xy") - col("r_xz") * col("r_yz")) / col("_den")))
      .select((keys :+ col("n") :+ col("r_xy") :+ col("r_xz") :+
        col("r_yz") :+ col("r_xy_z")): _*)
  }

  /** Turning-point test of series randomness (Kendall; Brockwell & Davis
    * §1.6): count interior points that are strict local extrema —
    * (x_t − x_{t−1})·(x_t − x_{t+1}) > 0 — against the i.i.d. expectation
    *   E[T] = 2(n−2)/3,  Var[T] = (16n − 29)/90,  z = (T − E)/√Var.
    * Too few turning points = trend/persistence; too many = alternation.
    * Two lag/lead windows + one aggregate per key.
    * Output: (keys..., n, turning_points, z).
    */
  def turningPoints(df: DataFrame, keyCols: Seq[String], tsCol: String,
                    valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col(tsCol))
    val v = col(valCol).cast("double")
    df.filter(v.isNotNull)
      .withColumn("_p", lag(v, 1).over(w))
      .withColumn("_f", lead(v, 1).over(w))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n"),
        sum(when(col("_p").isNotNull && col("_f").isNotNull &&
          (v - col("_p")) * (v - col("_f")) > 0, 1L).otherwise(0L))
          .as("turning_points"))
      .withColumn("_nd", col("n").cast("double"))
      .withColumn("z", when(col("n") >= 4,
        (col("turning_points").cast("double") -
          lit(2.0) * (col("_nd") - 2) / 3) /
          sqrt((lit(16.0) * col("_nd") - 29) / 90)))
      .select((keys :+ col("n") :+ col("turning_points") :+ col("z")): _*)
  }

  /** Atkinson inequality index (Atkinson 1970) per key over POSITIVE
    * values, aversion ε ∈ (0,1)∪(1,∞):
    *   A_ε = 1 − EDE/μ,   EDE = (mean(x^{1−ε}))^{1/(1−ε)}
    * — the welfare-grounded sibling of [[gini]]: ε dials how much the
    * bottom of the distribution matters (ε→0 ignores inequality, large ε
    * cares only about the minimum). Non-positive values are excluded (the
    * index is defined on positive quantities). One aggregate per key.
    * Output: (keys..., n, mean, ede, atkinson).
    */
  def atkinson(df: DataFrame, keyCols: Seq[String], valCol: String,
               epsilon: Double = 0.5): DataFrame = {
    require(epsilon > 0 && epsilon != 1.0,
      s"epsilon must be > 0 and != 1 (log form not implemented), got $epsilon")
    val keys = keyCols.map(col)
    val v = col(valCol).cast("double")
    df.filter(v.isNotNull && v > 0)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n"), avg(v).as("mean"),
        avg(pow(v, lit(1.0 - epsilon))).as("_me"))
      .withColumn("ede", pow(col("_me"), lit(1.0 / (1.0 - epsilon))))
      .withColumn("atkinson",
        when(col("mean") > 0, lit(1.0) - col("ede") / col("mean")))
      .select((keys :+ col("n") :+ col("mean") :+ col("ede") :+
        col("atkinson")): _*)
  }

  /** Theil T inequality index (Theil 1967) per key over positive values:
    *   T = mean((x/μ)·ln(x/μ)) ∈ [0, ln n]
    * — the entropy-based inequality measure whose defining property is
    * perfect DECOMPOSABILITY: T over a partition = within-group + between-
    * group parts exactly (Gini's cross terms don't cancel), which makes it
    * the right index to roll up a hierarchy. Two passes: the mean, then
    * the ratio-log aggregate against the broadcast mean.
    * Output: (keys..., n, mean, theil_t).
    */
  def theilT(df: DataFrame, keyCols: Seq[String], valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val v = col(valCol).cast("double")
    val pos = df.filter(v.isNotNull && v > 0)
    val m = pos.groupBy(keys: _*).agg(avg(v).as("_mu"), count(lit(1)).as("n"))
    pos.join(broadcast(m), keyCols)
      .groupBy((keys :+ col("n")): _*)
      .agg(avg((v / col("_mu")) * log(v / col("_mu"))).as("theil_t"),
        max(col("_mu")).as("mean"))
      .select((keys :+ col("n") :+ col("mean") :+ col("theil_t")): _*)
  }

  /** Palma ratio per key: (value share of the top 10% of units) / (value
    * share of the bottom 40%), units ranked ascending by (value, id) — the
    * tail-focused inequality readout policy work prefers to a single Gini
    * when the middle is stable. Cuts are pure INTEGER ranks (top = rank >
    * n − n/10, bottom = rank ≤ 4n/10, integer division), so the membership
    * is cross-engine exact — never a float quantile cut. One rank window +
    * one conditional aggregate. Null when the top cut is empty (n < 10)
    * or the bottom share is 0. Output: (keys..., n, top_share,
    * bottom_share, palma).
    */
  def palma(df: DataFrame, keyCols: Seq[String], valCol: String,
            idCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val v = col(valCol).cast("double")
    val w = Window.partitionBy(keys: _*).orderBy(v, col(idCol))
    val wAll = Window.partitionBy(keys: _*)
    df.filter(v.isNotNull)
      .withColumn("_r", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(wAll))
      .groupBy(keys: _*)
      .agg(max(col("_n")).as("n"), sum(v).as("_tot"),
        sum(when(col("_r") > col("_n") - expr("_n div 10"), v)
          .otherwise(lit(0.0))).as("_top"),
        sum(when(col("_r") <= expr("(4 * _n) div 10"), v)
          .otherwise(lit(0.0))).as("_bot"))
      .withColumn("top_share", when(col("_tot") =!= 0, col("_top") / col("_tot")))
      .withColumn("bottom_share", when(col("_tot") =!= 0, col("_bot") / col("_tot")))
      .withColumn("palma",
        when(col("n") >= 10 && col("_bot") > 0, col("_top") / col("_bot")))
      .select((keys :+ col("n") :+ col("top_share") :+ col("bottom_share") :+
        col("palma")): _*)
  }

  /** Permutation entropy at order m = 3 (Bandt & Pompe 2002) per key — the
    * complexity/forecastability readout from ORDER patterns alone: each
    * consecutive triple (v_t, v_{t+1}, v_{t+2}) maps to one of six
    * orderings; PE = Shannon entropy of the pattern distribution (nats),
    * `pe_norm` = PE/ln 6 ∈ [0,1] (0 = fully deterministic ordering, 1 =
    * i.i.d. noise — a series with pe_norm near 1 is not worth fitting).
    * Pattern code = 4·1[v₂>v₁] + 2·1[v₃>v₂] + 1[v₃>v₁] (strict; ties fall
    * to the lower pattern deterministically). The entropy is a FIXED-ORDER
    * literal chain over the 8 possible codes (the q256 float-sum
    * discipline), after two lead windows + one pivot aggregate per key.
    * Output: (keys..., n_windows, pe, pe_norm).
    */
  def permutationEntropy(df: DataFrame, keyCols: Seq[String], tsCol: String,
                         valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col(tsCol))
    val v = col(valCol).cast("double")
    val coded = df.filter(v.isNotNull)
      .withColumn("_v2", lead(v, 1).over(w))
      .withColumn("_v3", lead(v, 2).over(w))
      .filter(col("_v2").isNotNull && col("_v3").isNotNull)
      .withColumn("_code",
        (col("_v2") > v).cast("int") * 4 +
          (col("_v3") > col("_v2")).cast("int") * 2 +
          (col("_v3") > v).cast("int"))
    val aggs = count(lit(1)).as("n_windows") +:
      (0 to 7).map(c =>
        sum(when(col("_code") === c, 1L).otherwise(0L)).as(s"_c$c"))
    val pivoted = coded.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    val n = col("n_windows").cast("double")
    val pe = (0 to 7).map { c =>
      when(col(s"_c$c") > 0,
        -(col(s"_c$c") / n) * log(col(s"_c$c") / n)).otherwise(lit(0.0))
    }.reduce(_ + _) // fixed left-assoc chain over the literal code list
    pivoted
      .withColumn("pe", pe)
      .withColumn("pe_norm", col("pe") / math.log(6.0))
      .select((keys :+ col("n_windows") :+ col("pe") :+ col("pe_norm")): _*)
  }

  /** Hjorth parameters (Hjorth 1970) per key — the three-number mobile
    * summary of a series' shape from variances of the signal and its
    * differences (population form, each over its own sample):
    *   activity   = Var(v)
    *   mobility   = √(Var(Δv)/Var(v))        (mean frequency proxy)
    *   complexity = √(Var(Δ²v)/Var(Δv)) / mobility  (bandwidth proxy, ≥ 1)
    * Two lag windows + one six-moment aggregate. Degenerate variances
    * emit nulls downstream of the first zero.
    * Output: (keys..., n, activity, mobility, complexity).
    */
  def hjorth(df: DataFrame, keyCols: Seq[String], tsCol: String,
             valCol: String): DataFrame = {
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col(tsCol))
    val v = col(valCol).cast("double")
    val staged = df.filter(v.isNotNull)
      .withColumn("_d1", v - lag(v, 1).over(w))
      .withColumn("_d2", col("_d1") - lag(col("_d1"), 1).over(w))
    staged.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"),
        avg(v).as("_m0"), avg(v * v).as("_q0"),
        avg(col("_d1")).as("_m1"), avg(col("_d1") * col("_d1")).as("_q1"),
        avg(col("_d2")).as("_m2"), avg(col("_d2") * col("_d2")).as("_q2"))
      .withColumn("activity", col("_q0") - col("_m0") * col("_m0"))
      .withColumn("_v1", col("_q1") - col("_m1") * col("_m1"))
      .withColumn("_v2", col("_q2") - col("_m2") * col("_m2"))
      .withColumn("mobility",
        when(col("activity") > 0, sqrt(col("_v1") / col("activity"))))
      .withColumn("complexity",
        when(col("_v1") > 0 && col("mobility") > 0,
          sqrt(col("_v2") / col("_v1")) / col("mobility")))
      .select((keys :+ col("n") :+ col("activity") :+ col("mobility") :+
        col("complexity")): _*)
  }
}
