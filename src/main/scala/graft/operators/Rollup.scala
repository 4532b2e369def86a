package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import graft.functions.Hier
import graft.functions.codec.{BlockAgg, MergedStats, PointSort}

/** Continuous-aggregate rollup + retention-tier promotion.
  *
  * Generalizes the reference's hierarchical aggregate
  * (`_aggregate_features`, /root/reference/forecastframe/feature_engineering.py:270-300
  * — `groupby(hierarchy + [datetime]).agg(op)`) into tumbling-window tier
  * tables over the page stream, per the north rule:
  * measures = count / sum / mean / min / max / p50 / p95 of per-page
  * text-length + lang distinct-count, tiers 1m → 5m → 1h → 1d.
  *
  * Scale design:
  *   - the whole cascade is ONE shuffle: [[tier1m]] hash-partitions raw
  *     points on the hierarchy columns alone, and every later merge groups
  *     by (hierarchy, coarser bucket), a clustering that partitioning already
  *     satisfies — so `tier1m → promote × 3` plans as one exchange followed
  *     by one stage of chained aggregates (PlanEvidenceSpec). The exchange
  *     moves lean raw points; the aggregation runs after it.
  *   - promotion NEVER re-reads raw pages: count/sum/min/max re-aggregate
  *     associatively, mean = sum/count, p50/p95 + the promoted point block are
  *     recomputed exactly from the decoded finer-tier blocks by the block
  *     mode of [[graft.functions.codec.BlockAgg]]; a tier read back from
  *     storage shuffles once per promotion, over already-rolled-up data.
  *   - point blocks: one native aggregate ([[graft.functions.codec.BlockAgg]])
  *     builds them from raw points and from finer blocks, into primitive
  *     arrays, with no per-row object.
  *   - lang cardinality: exact via a per-bucket lang set (tiny domain). At a
  *     larger lang domain the drop-in replacement is an HLL sketch
  *     (approx_count_distinct / HyperLogLogPlusPlus partials); kept exact here
  *     because the parity gate is exact.
  *   - hot-host skew: the trade-off of the single shuffle. Hierarchy-only
  *     partitioning sends all of a hot host's points, every minute of them,
  *     to one reduce task, which then builds all four of its tiers. On the
  *     benchmark input (100k pages, the top host holds 10% of them) at
  *     local[4], AQE coalesced the stage to 3 tasks and the largest took
  *     34-41% of the stage's summed task time, near an even third, so the
  *     three saved shuffles outweigh it there (CHANGES.md). Many-core boxes
  *     were not measured: once the cores outnumber the work outside the hot
  *     host, its task bounds the stage. Partitioning on (hierarchy, minute)
  *     instead spreads a hot host but costs one shuffle per promotion.
  *     Salting cannot split one hot (host, minute) group — its merge still
  *     sends every partial block of the group to one task, which decodes and
  *     re-encodes all its points. [[tier1mSalted]] / [[mergePartialsSalted]]
  *     (SURVEY.md §4.3) are for coarse groups with a large fan-in; AQE
  *     skew-join/coalescing is enabled in the session defaults.
  */
object Rollup {

  case class Tier(name: String, seconds: Long)
  val Tiers: Seq[Tier] = Seq(Tier("1m", 60), Tier("5m", 300), Tier("1h", 3600), Tier("1d", 86400))

  /** Exact linear-interpolation percentile over a sorted array — same
    * definition as Spark `percentile` / DuckDB `quantile_cont`.
    */
  def exactPercentile(sorted: Array[Double], p: Double): Double = {
    val n = sorted.length
    if (n == 0) return Double.NaN
    val rank = p * (n - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    if (lo == hi) sorted(lo)
    else sorted(lo) + (rank - lo) * (sorted(hi) - sorted(lo))
  }

  /** Encode points into a block AND compute exact p50/p95 in the same pass —
    * the points are sorted for the codec anyway, so the percentiles are free;
    * using separate `percentile` aggregates would add two TypedImperative
    * buffers per group (measurably heavy at ~10^6 sparse groups).
    */
  val encodeWithStatsUdf: UserDefinedFunction = udf { (points: Seq[Row]) =>
    val n = points.length
    val ts = new Array[Long](n); val vs = new Array[Double](n)
    var i = 0
    points.foreach { r => ts(i) = r.getLong(0); vs(i) = r.getDouble(1); i += 1 }
    PointSort.sortPairs(ts, vs, n)
    MergedStats.ofSorted(ts, vs)
  }

  /** Measure column: per-page text length in characters (parity-defined with
    * the oracle: `length(text)`), computed with the vectorizable
    * [[graft.functions.Utf8CharCountExpr]] — `length()`'s numChars loop was
    * ~65% of the tier-1 scan cost on the 64 GB bench corpus.
    */
  def textLen(df: DataFrame): DataFrame =
    df.withColumn("text_len",
      graft.functions.Utf8CharCountExpr(col("text")).cast("double"))

  /** Tier-1 (1-minute) continuous aggregate from raw pages.
    *
    * @param pages     page table with hierarchy columns already attached
    *                  ([[graft.functions.Hier.withHierarchy]])
    * @param groupCols hierarchy grouping (finest level, e.g. host..tld)
    */
  def tier1m(pages: DataFrame, groupCols: Seq[String] = Seq("tld", "registered_domain", "host")): DataFrame = {
    val df = textLen(pages)
      .withColumn("ts_sec", unix_timestamp(col("warc_ts")))
      .withColumn("bucket_start", col("ts_sec") - pmod(col("ts_sec"), lit(60L)))
    // EXPLICIT repartition on the hierarchy BEFORE the aggregate, so the
    // shuffle moves lean raw points (~60 B/row) and the aggregation runs
    // once, post-shuffle. Letting Catalyst insert the exchange instead puts
    // a partial aggregation on the MAP side — pure overhead here: a Gorilla
    // block is order-recursive, so the partial state IS the points
    // themselves, and with groups ~64× wider than per-file row groups every
    // map task builds a near-full-cardinality hash map of point buffers and
    // ships them through the shuffle (measured 5-8× slower on 32M pages /
    // 1.23M groups). Hierarchy only, not (hierarchy, bucket): promotions
    // group by (hierarchy, coarser bucket), which this partitioning already
    // satisfies, so they add no shuffle (hot-host trade-off: see above).
    val keys = groupCols.map(col) :+ col("bucket_start")
    finish(df.select((keys :+ col("ts_sec") :+ col("text_len") :+ col("lang")): _*)
      .repartition(groupCols.map(col): _*)
      .groupBy(keys: _*)
      .agg(rawPartial.head, rawPartial.tail: _*))
  }

  /** Partial measures of one group of raw points (`ts_sec`, `text_len`,
    * `lang`); the point block and its percentiles ride in struct `m`.
    */
  private def rawPartial: Seq[Column] = Seq(
    count(lit(1)).as("cnt"),
    sum(col("text_len")).as("sum_len"),
    min(col("text_len")).as("min_len"),
    max(col("text_len")).as("max_len"),
    collect_set(col("lang")).as("lang_set"),
    BlockAgg.points(col("ts_sec"), col("text_len")).as("m"))

  /** The same measures re-aggregated from partial tier rows: associative
    * measures combine, lang sets union, point blocks merge into `m`.
    */
  private def mergedPartial: Seq[Column] = Seq(
    sum(col("cnt")).as("cnt"),
    sum(col("sum_len")).as("sum_len"),
    min(col("min_len")).as("min_len"),
    max(col("max_len")).as("max_len"),
    array_distinct(flatten(collect_list(col("lang_set")))).as("lang_set"),
    BlockAgg.blocks(col("block")).as("m"))

  /** Derived tier columns over either aggregate above. */
  private def finish(agg: DataFrame): DataFrame = agg
    .withColumn("mean_len", col("sum_len") / col("cnt"))
    .withColumn("lang_card", size(col("lang_set")).cast("long"))
    .withColumn("p50_len", col("m.p50"))
    .withColumn("p95_len", col("m.p95"))
    .withColumn("block", col("m.block"))
    .drop("m")

  /** The columns a tier row needs to be merged again: group keys, bucket,
    * the associative measures, the lang set and the point block.
    */
  private def partialCols(groupCols: Seq[String]): Seq[Column] =
    (groupCols ++ Seq("bucket_start", "cnt", "sum_len", "min_len", "max_len",
      "lang_set", "block")).map(col)

  /** Salted tier-1: [[tier1m]] on (key, `s`-way url salt, bucket) so one
    * hot group fans across `s` reducers, then [[mergePartials]] drops the
    * salt. Result is identical to [[tier1m]] (salting invariance is
    * property-tested). Not used by [[graft.plans.TierPipeline]]: at minute
    * grain the merge still sends a hot group's every block to one task.
    */
  def tier1mSalted(pages: DataFrame, s: Int = 16,
                   groupCols: Seq[String] = Seq("tld", "registered_domain", "host")): DataFrame =
    mergePartials(tier1m(pages.withColumn("_salt", Hier.salt(col("url"), s)), groupCols :+ "_salt"),
      groupCols)

  /** Merges partial tier rows sharing (groupCols, bucket_start): the shared
    * second phase of salting and of tier promotion.
    */
  private def mergePartials(partial: DataFrame, groupCols: Seq[String],
                            bucketExpr: Column = col("bucket_start")): DataFrame =
    finish(partial
      .withColumn("_bucket", bucketExpr)
      .groupBy((groupCols.map(col) :+ col("_bucket").as("bucket_start")): _*)
      .agg(mergedPartial.head, mergedPartial.tail: _*))

  /** Promote a finer tier to `tierSeconds` buckets. Associative measures
    * re-aggregate; p50/p95 and the point block are rebuilt exactly from the
    * decoded finer blocks. Input bucket widths must divide `tierSeconds`.
    */
  def promote(finer: DataFrame, tierSeconds: Long,
              groupCols: Seq[String] = Seq("tld", "registered_domain", "host")): DataFrame =
    mergePartials(finer, groupCols,
      bucketExpr = (col("bucket_start") - pmod(col("bucket_start"), lit(tierSeconds))))

  /** All retention tiers from raw pages: 1m from raw, each coarser tier
    * promoted from the previous one. Returns tierName → DataFrame.
    */
  def allTiers(pages: DataFrame,
               groupCols: Seq[String] = Seq("tld", "registered_domain", "host")): Map[String, DataFrame] = {
    val t1 = tier1m(pages, groupCols)
    val ordered = Tiers.tail.scanLeft("1m" -> t1) { case ((_, prev), t) =>
      t.name -> promote(prev, t.seconds, groupCols)
    }
    ordered.toMap
  }

  /** Hierarchy rollup of a tier table across levels host → domain → tld →
    * global, GROUPING-SETS-style. Exact percentiles at every level via block
    * merge. `levels` is ordered coarse→fine, e.g. Seq("tld","registered_domain","host").
    */
  def rollupHierarchy(tier: DataFrame, levels: Seq[String]): DataFrame = {
    // grouping sets: (), (l1), (l1,l2), ... (all) — the reference's on-demand
    // rollup up the hierarchy (feature_engineering.py:270-300) for all levels
    // at once, keeping percentile exactness via blocks.
    //
    // STEPWISE, not per-level-from-base: each coarser level merges the
    // PREVIOUS level's output, so a group's merge fan-in is its child count
    // at that level (hosts per domain, domains per tld, tlds), never the full
    // host population. Merging the global level straight from the host tier
    // would collect every host's block into one task's array — a
    // driver-memory-shaped failure at 10^12 rows. For a level whose fan-in is
    // still huge (e.g. millions of hosts under one domain), interpose
    // [[mergePartialsSalted]].
    val chain = levels.indices.reverse.map(i => levels.take(i)) // drop finest one level at a time
    val withLevel = tier.withColumn("grouping_level", lit(levels.length))
    val parts = chain.scanLeft(withLevel) { (prev, keep) =>
      mergePartials(prev.drop("grouping_level"), keep)
        .withColumn("grouping_level", lit(keep.length))
    }
    val padded = parts.map { d =>
      levels.foldLeft(d)((dd, l) =>
        if (dd.columns.contains(l)) dd else dd.withColumn(l, lit(null).cast("string")))
    }
    padded.reduce(_.unionByName(_)).select(
      (levels.map(col) ++ Seq(col("grouping_level"), col("bucket_start"), col("cnt"), col("sum_len"),
        col("mean_len"), col("min_len"), col("max_len"), col("p50_len"), col("p95_len"),
        col("lang_card"), col("lang_set"), col("block"))): _*)
  }

  /** One contiguous run of same-tier buckets inside a stitched range read:
    * tier rows with `segStart <= bucket_start < segEnd`.
    */
  case class Segment(tier: String, startSec: Long, endSec: Long)

  /** Minimal tier cover of `[startSec, endSec)`: whole coarse buckets in the
    * interior, progressively finer tiers at the edges (1d interior, then 1h,
    * then 1m — e.g. a 25-day range misaligned by minutes reads ~24 day rows
    * + ≤46 hour rows + ≤118 minute rows per group instead of every raw
    * point). Segments are disjoint, ordered, and concatenate exactly to
    * `[startSec, endSec)`; both endpoints must be aligned to the finest tier.
    */
  def coverage(startSec: Long, endSec: Long, tiers: Seq[Tier] = Tiers): Seq[Segment] = {
    require(tiers.nonEmpty, "coverage needs at least one tier")
    val finest = tiers.map(_.seconds).min
    require(startSec % finest == 0 && endSec % finest == 0,
      s"range endpoints must be multiples of the finest tier (${finest}s)")
    require(startSec <= endSec, "startSec must be <= endSec")
    def go(s: Long, e: Long, rem: List[Tier]): List[Segment] = rem match {
      case Nil =>
        require(s == e, s"uncoverable residue [$s,$e) — finest tier too coarse")
        Nil
      case t :: finer =>
        val w = t.seconds
        val lo = ((s + w - 1) / w) * w // first whole bucket at or after s
        val hi = (e / w) * w           // end of last whole bucket before e
        if (lo >= hi) go(s, e, finer)
        else go(s, lo, finer) ::: Segment(t.name, lo, hi) :: go(hi, e, finer)
    }
    go(startSec, endSec, tiers.sortBy(-_.seconds).toList)
  }

  /** Continuous-aggregate range read: the full-range aggregate per hierarchy
    * group over `[startSec, endSec)` served by STITCHING the coarsest tiers
    * that fit ([[coverage]]) instead of re-scanning raw points — the serving
    * path of a retention-tier store (TimescaleDB-style real-time aggregates).
    * Associative measures re-merge; p50/p95 stay EXACT because each tier row
    * carries its Gorilla point block and the stitched percentile is
    * recomputed from the merged blocks ([[graft.functions.codec.BlockAgg]]).
    *
    * Scale: per group this touches O(interior-days + 48 + 118) tier rows for
    * ANY range width — at 10^12 raw pages a month-wide ad-hoc percentile
    * query reads thousands of tier rows, not billions of points. Against the
    * day-partitioned durable store each segment filter is a partition prune
    * (tier tables partition by day — see [[graft.plans.TierPipeline]]); here
    * the same predicate prunes via parquet min/max on `bucket_start`.
    *
    * @param tiers tierName → tier table (the [[allTiers]] map or the durable
    *              store's frames); every segment's tier must be present and
    *              carry the partial columns (cnt/sum/min/max/lang_set/block)
    * @return one row per group: `range_start`, `range_end`, the merged
    *         measures, exact `p50_len`/`p95_len`, and the merged block
    */
  def readRange(tiers: Map[String, DataFrame], startSec: Long, endSec: Long,
                groupCols: Seq[String] = Seq("tld", "registered_domain", "host")): DataFrame = {
    val segs = coverage(startSec, endSec, Tiers.filter(t => tiers.contains(t.name)))
    // ONE plan subtree per tier, its (disjoint) segment ranges OR-combined:
    // a tier usually covers two edge segments, and referencing the tier
    // frame twice would evaluate its whole upstream plan twice when the
    // caller passes freshly-computed (non-materialized) tiers — against the
    // durable store both forms prune identically, but this one is never
    // worse. (Catalyst's ReuseExchange cannot dedupe the two references:
    // the differing pushed-down range filters make the exchanges differ.)
    val parts = segs.groupBy(_.tier).toSeq.map { case (tier, ss) =>
      val pred = ss.map(sg =>
          col("bucket_start") >= sg.startSec && col("bucket_start") < sg.endSec)
        .reduce(_ || _)
      tiers(tier).filter(pred).select(partialCols(groupCols): _*)
    }
    mergePartials(parts.reduce(_.unionByName(_)), groupCols, bucketExpr = lit(startSec))
      .withColumnRenamed("bucket_start", "range_start")
      .withColumn("range_end", lit(endSec))
  }

  /** Dashboard series read: resample the tier store to an arbitrary `step`
    * over `[startSec, endSec)` (endpoints step-aligned) and return a DENSE
    * per-group series — one row per (group, step bucket), empty buckets
    * materialized with `cnt = 0` and null measures (a chart wants explicit
    * holes, not missing rows). The Grafana-shaped companion to
    * [[readRange]]: range read answers "the aggregate over this window",
    * series read answers "the window as a curve at this resolution".
    *
    * Buckets come from the COARSEST tier whose width divides `step` (only
    * nesting tiers can resample exactly); merged measures including exact
    * p50/p95 are rebuilt per step bucket from the tier blocks, so a 90-min
    * resample of a month costs O(groups × range/5m) tier rows, never a raw
    * scan. The empty-bucket grid is `groups-in-range × (range/step)` — the
    * size of the chart being drawn.
    */
  def readSeries(tiers: Map[String, DataFrame], startSec: Long, endSec: Long,
                 stepSeconds: Long,
                 groupCols: Seq[String] = Seq("tld", "registered_domain", "host")): DataFrame = {
    require(stepSeconds >= 1, s"stepSeconds must be >= 1, got $stepSeconds")
    require(startSec % stepSeconds == 0 && endSec % stepSeconds == 0,
      s"range endpoints must align to the $stepSeconds s step")
    require(startSec < endSec, "empty range")
    val usable = Tiers.filter(t => tiers.contains(t.name) && stepSeconds % t.seconds == 0)
    require(usable.nonEmpty, s"no provided tier divides the $stepSeconds s step")
    val src = usable.maxBy(_.seconds)
    val merged = mergePartials(
      tiers(src.name)
        .filter(col("bucket_start") >= startSec && col("bucket_start") < endSec)
        .select(partialCols(groupCols): _*),
      groupCols,
      bucketExpr = col("bucket_start") - pmod(col("bucket_start"), lit(stepSeconds)))
    val grid = merged.select(groupCols.map(col): _*).distinct()
      .withColumn("bucket_start",
        explode(sequence(lit(startSec), lit(endSec - stepSeconds), lit(stepSeconds))))
    grid.join(merged, groupCols :+ "bucket_start", "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
  }

  /** Late-data upsert into an existing tier table: merge newly-arrived
    * points into ONLY the (group, bucket) rows they touch. Rows for
    * unaffected buckets pass through untouched — their blocks are never
    * decoded, so the cost is O(late data + affected tier rows), not
    * O(tier size): at 10^12 stored points a late batch touching 0.01% of
    * buckets decodes 0.01% of blocks. The merge itself is [[mergePartials]],
    * so all associative measures re-aggregate and p50/p95 + the stored block
    * are rebuilt exactly — `upsertPoints(tier1m(base), tier1m(late))` is
    * row-identical to `tier1m(base ∪ late)` (spec + oracle q284).
    *
    * This is the batch twin of the streaming hot/cold union
    * ([[graft.streaming.StreamingIngest]].readHot): streaming handles late
    * data inside the watermark; this handles the straggler batch that
    * arrives after the bucket was already promoted to the durable store.
    *
    * @param tier        existing tier table (tier1m/promote output schema)
    * @param latePartial the late points pre-aggregated to the SAME tier
    *                    grain and partial schema (run them through
    *                    [[tier1m]] / the q62-shaped aggregate first)
    */
  def upsertPoints(tier: DataFrame, latePartial: DataFrame,
                   groupCols: Seq[String] = Seq("tld", "registered_domain", "host")): DataFrame = {
    val keys = groupCols :+ "bucket_start"
    val affected = latePartial.select(keys.map(col): _*).distinct()
    val touched = tier.join(affected, keys, "left_semi").select(partialCols(groupCols): _*)
    val merged = mergePartials(
      touched.unionByName(latePartial.select(partialCols(groupCols): _*)), groupCols)
    val untouched = tier.join(affected, keys, "left_anti")
      .select(merged.columns.map(col): _*)
    merged.unionByName(untouched)
  }

  /** Two-phase (salted) variant of [[mergePartials]] for coarse groups with
    * unbounded fan-in: phase 1 merges within `(keys, salt)` sub-groups so no
    * single task materializes the whole group's blocks, phase 2 merges the
    * ≤`s` partials. Result identical to a direct merge (associativity +
    * exact block recompute).
    */
  def mergePartialsSalted(partial: DataFrame, groupCols: Seq[String], s: Int = 64): DataFrame =
    mergePartials(
      mergePartials(partial.withColumn("_salt", Hier.salt(col("block"), s)), groupCols :+ "_salt"),
      groupCols)
}
