package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}
import graft.functions.Hier
import graft.functions.codec.BlockAgg

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
  *     by one stage of four chained aggregates, one per tier level
  *     (PlanEvidenceSpec). The exchange moves lean raw points; the
  *     aggregation runs after it. With no exchange between a level's
  *     partial and final aggregate, [[graft.plans.LocalCompleteAggregate]]
  *     runs the pair as one Complete-mode aggregate, so each level is one
  *     hash-map pass over its input with no buffer serialized in between.
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
  *     three saved shuffles outweigh it there (CHANGES.md). Three tasks, not
  *     four, come from AQE's 1 MiB minimum coalesced partition size; at
  *     256 KiB the stage ran 5 tasks and was no faster. Many-core boxes
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

  /** Measure column: per-page text length in characters (parity-defined with
    * the oracle: `length(text)`), computed with the vectorizable
    * [[graft.functions.Utf8CharCountExpr]] — `length()`'s numChars loop was
    * ~65% of the tier-1 scan cost on the 64 GB bench corpus.
    */
  def textLen(df: DataFrame): DataFrame = df.withColumn("text_len", textLenOf(col("text")))

  private def textLenOf(text: Column): Column =
    graft.functions.Utf8CharCountExpr(text).cast("double")

  /** Tier-1 (1-minute) continuous aggregate from raw pages: the page
    * projection to points, then [[tier1mOfPoints]].
    *
    * @param pages     page table with hierarchy columns already attached
    *                  ([[graft.functions.Hier.withHierarchy]])
    * @param groupCols hierarchy grouping (finest level, e.g. host..tld)
    */
  def tier1m(pages: DataFrame, groupCols: Seq[String] = Hier.Levels): DataFrame =
    // one projection per step, not a withColumn each: every DataFrame call
    // re-analyzes the whole plan built so far
    tier1mOfPoints(pages.select((groupCols.map(col) ++ pagePoints): _*), groupCols)

  /** The point columns of a page (`warc_ts, text, lang`): `ts_sec` epoch
    * seconds, `text_len` the measure and `lang`, as [[rawPartial]] reads
    * them.
    */
  private[graft] def pagePoints: Seq[Column] = Seq(
    unix_timestamp(col("warc_ts")).as("ts_sec"), textLenOf(col("text")).as("text_len"), col("lang"))

  /** Tier-1 (1-minute) continuous aggregate of points of any domain: rows of
    * (`groupCols`, `ts_sec` epoch seconds, `text_len` the measure, `lang`
    * the distinct-counted attribute), one tier row per (group, minute) with
    * every tier column of [[tier1m]].
    */
  def tier1mOfPoints(points: DataFrame, groupCols: Seq[String]): DataFrame = {
    val hier = groupCols.map(col)
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
    val bucket = (col("ts_sec") - pmod(col("ts_sec"), lit(60L))).as("bucket_start")
    finish(points.select((hier ++ Seq(bucket, col("ts_sec"), col("text_len"), col("lang"))): _*)
      .repartition(hier: _*)
      .groupBy((hier :+ col("bucket_start")): _*)
      .agg(rawPartial.head, rawPartial.tail: _*))
  }

  /** Partial measures of one group of raw points (`ts_sec`, `text_len`,
    * `lang`); the point block and its percentiles ride in struct `m`. The
    * one raw-point measure list: the batch 1m tier and the streaming one
    * ([[graft.streaming.StreamingRollup]]) both aggregate it.
    */
  private[graft] def rawPartial: Seq[Column] = Seq(
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

  /** Derived tier columns over either aggregate above, in one projection:
    * the aggregate's columns but `m`, then mean, lang count, p50, p95 and
    * the block.
    */
  private[graft] def finish(agg: DataFrame): DataFrame =
    agg.select((agg.columns.filter(_ != "m").map(col).toSeq ++ Seq(
      (col("sum_len") / col("cnt")).as("mean_len"),
      size(col("lang_set")).cast("long").as("lang_card"),
      col("m.p50").as("p50_len"),
      col("m.p95").as("p95_len"),
      col("m.block").as("block"))): _*)

  /** The columns a tier row needs to be merged again: group keys, bucket,
    * the associative measures, the lang set and the point block.
    */
  private def partialCols(groupCols: Seq[String]): Seq[Column] =
    (groupCols ++ Seq("bucket_start", "cnt", "sum_len", "min_len", "max_len",
      "lang_set", "block")).map(col)

  /** The columns of a finished tier row over string hierarchy columns
    * `groupCols`: [[tier1m]] analyzed over an empty page frame, so a column
    * added to the tier is in it too. [[promote]] gives the same names and
    * types (TierPipelineSpec). Analysis only — no Spark job — but its ~15
    * eager analyses took 40-110 ms warm, so it is derived once per
    * `groupCols`.
    */
  private[graft] def tierSchema(spark: SparkSession, groupCols: Seq[String]): StructType =
    tierSchemas.getOrElseUpdate(groupCols, {
      val pages = StructType(groupCols.map(StructField(_, StringType)))
        .add("warc_ts", TimestampType).add("text", StringType).add("lang", StringType)
      tier1m(spark.createDataFrame(java.util.Collections.emptyList[Row](), pages), groupCols).schema
    })

  private val tierSchemas = scala.collection.concurrent.TrieMap.empty[Seq[String], StructType]

  /** `tier`'s rows in a form two tiers compare in, by `===` on collected
    * rows or by `exceptAll`: every column, with `block` as its SHA-256 and
    * `lang_set` sorted (a collected binary compares by reference, and
    * `collect_set` fixes no order).
    */
  private[graft] def comparable(tier: DataFrame): DataFrame =
    tier.select(tier.columns.toSeq.map {
      case "block"    => sha2(col("block"), 256).as("block")
      case "lang_set" => array_sort(col("lang_set")).as("lang_set")
      case c          => col(c)
    }: _*)

  /** The yyyy-MM-dd UTC day of epoch second `sec`, whatever the session
    * time zone: the store's `day` partition of a tier row is
    * `dayOf(bucket_start)`, so a reader in any time zone names the
    * directories the writer did. Whole days since the epoch, as a DATE cast
    * to its ISO string.
    */
  private[graft] def dayOf(sec: Column): Column =
    date_from_unix_date(floor(sec / 86400L).cast("int")).cast("string")

  /** `tier` cut to the days a `bucket_start` in one of `ranges` (each
    * `[lo, hi)`, a missing end unbounded) can lie on, when the frame carries
    * the store's `day` column ([[graft.plans.TierPipeline.readTier]]);
    * otherwise, or when a range has no bound, `tier` as it is. [[dayOf]] is
    * monotone, so `[lo, hi)` covers `day ∈ [dayOf(lo), dayOf(hi − 1)]`: a
    * predicate over `day` alone, which over a stored tier's partition column
    * prunes directories.
    */
  private[graft] def dayPruned(tier: DataFrame, ranges: Seq[(Option[Long], Option[Long])]): DataFrame = {
    val cover = ranges.map { case (lo, hi) =>
      (lo.map(l => col("day") >= dayOf(lit(l))) ++ hi.map(h => col("day") <= dayOf(lit(h - 1))))
        .reduceOption(_ && _)
    }
    if (!tier.columns.contains("day") || cover.isEmpty || cover.exists(_.isEmpty)) tier
    else tier.filter(cover.flatten.reduce(_ || _))
  }

  /** Rows of a tier frame with `bucket_start` in any of `ranges` (each
    * `[lo, hi)`), day-pruned by [[dayPruned]].
    */
  private def inRanges(tier: DataFrame, ranges: Seq[(Long, Long)]): DataFrame =
    dayPruned(tier, ranges.map { case (lo, hi) => (Some(lo), Some(hi)) })
      .filter(ranges.map { case (lo, hi) => col("bucket_start") >= lo && col("bucket_start") < hi }
        .reduce(_ || _))

  /** Salted tier-1: [[tier1m]] on (key, `s`-way url salt, bucket) so one
    * hot group fans across `s` reducers, then [[mergePartials]] drops the
    * salt. Result is identical to [[tier1m]] (salting invariance is
    * property-tested). Not used by [[graft.plans.TierPipeline]]: at minute
    * grain the merge still sends a hot group's every block to one task.
    */
  def tier1mSalted(pages: DataFrame, s: Int = 16, groupCols: Seq[String] = Hier.Levels): DataFrame =
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
              groupCols: Seq[String] = Hier.Levels): DataFrame =
    mergePartials(finer, groupCols,
      bucketExpr = (col("bucket_start") - pmod(col("bucket_start"), lit(tierSeconds))))

  /** All retention tiers from raw pages: 1m from raw, each coarser tier
    * promoted from the previous one. Returns tierName → DataFrame.
    */
  def allTiers(pages: DataFrame,
               groupCols: Seq[String] = Hier.Levels): Map[String, DataFrame] = {
    val t1 = tier1m(pages, groupCols)
    val ordered = Tiers.tail.scanLeft("1m" -> t1) { case ((_, prev), t) =>
      t.name -> promote(prev, t.seconds, groupCols)
    }
    ordered.toMap
  }

  /** Hierarchy rollup of a tier table across levels host → domain → tld →
    * global, GROUPING-SETS-style. Exact percentiles at every level via block
    * merge. `levels` is ordered coarse→fine, e.g. [[graft.functions.Hier.Levels]].
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
    * query reads thousands of tier rows, not billions of points. Every
    * segment filter on `bucket_start` reaches the parquet reader, which
    * prunes row groups by their min/max. A store frame from
    * [[graft.plans.TierPipeline.readTier]] also carries its `day` partition
    * column, and each tier's read is then cut to the days its segments cover
    * ([[dayPruned]]) — a directory-level prune: the files of other days are
    * never opened.
    *
    * @param tiers tierName → tier table (the [[allTiers]] map or the durable
    *              store's frames); every segment's tier must be present and
    *              carry the partial columns (cnt/sum/min/max/lang_set/block).
    *              A `day` column, where present, must be
    *              `dayOf(bucket_start)` as the store writes it
    * @return one row per group: `range_start`, `range_end`, the merged
    *         measures, exact `p50_len`/`p95_len`, and the merged block
    */
  def readRange(tiers: Map[String, DataFrame], startSec: Long, endSec: Long,
                groupCols: Seq[String] = Hier.Levels): DataFrame = {
    val segs = coverage(startSec, endSec, Tiers.filter(t => tiers.contains(t.name)))
    // ONE plan subtree per tier, its (disjoint) segment ranges OR-combined:
    // a tier usually covers two edge segments, and referencing the tier
    // frame twice would evaluate its whole upstream plan twice when the
    // caller passes freshly-computed (non-materialized) tiers — against the
    // durable store both forms prune identically, but this one is never
    // worse. (Catalyst's ReuseExchange cannot dedupe the two references:
    // the differing pushed-down range filters make the exchanges differ.)
    val parts = segs.groupBy(_.tier).toSeq.map { case (tier, ss) =>
      inRanges(tiers(tier), ss.map(sg => (sg.startSec, sg.endSec))).select(partialCols(groupCols): _*)
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
    * size of the chart being drawn. A store frame's `day` column prunes the
    * read to the range's days, as in [[readRange]].
    */
  def readSeries(tiers: Map[String, DataFrame], startSec: Long, endSec: Long,
                 stepSeconds: Long,
                 groupCols: Seq[String] = Hier.Levels): DataFrame = {
    require(stepSeconds >= 1, s"stepSeconds must be >= 1, got $stepSeconds")
    require(startSec % stepSeconds == 0 && endSec % stepSeconds == 0,
      s"range endpoints must align to the $stepSeconds s step")
    require(startSec < endSec, "empty range")
    val usable = Tiers.filter(t => tiers.contains(t.name) && stepSeconds % t.seconds == 0)
    require(usable.nonEmpty, s"no provided tier divides the $stepSeconds s step")
    val src = usable.maxBy(_.seconds)
    val merged = mergePartials(
      inRanges(tiers(src.name), Seq((startSec, endSec))).select(partialCols(groupCols): _*),
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
    *                    [[tier1m]] / [[tier1mOfPoints]] first)
    */
  def upsertPoints(tier: DataFrame, latePartial: DataFrame,
                   groupCols: Seq[String] = Hier.Levels): DataFrame = {
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
