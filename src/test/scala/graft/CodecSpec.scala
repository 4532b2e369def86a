package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.functions.codec.TsCodec

/** Gorilla XOR + delta-of-delta round-trip identity (FIXTURES.md §5):
  * bit-pattern fidelity incl. NaN, ±0.0, ±Inf, subnormals, constant runs.
  */
class CodecSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private def sameBits(a: Array[Double], b: Array[Double]): Boolean =
    a.length == b.length && a.indices.forall(i =>
      java.lang.Double.doubleToRawLongBits(a(i)) == java.lang.Double.doubleToRawLongBits(b(i)))

  private def roundTripOk(ts: Array[Long], vs: Array[Double]): Boolean = {
    val (ts2, vs2) = TsCodec.decode(TsCodec.encode(ts, vs))
    ts2.sameElements(ts) && sameBits(vs2, vs)
  }

  test("empty and singleton blocks") {
    assert(roundTripOk(Array.empty, Array.empty))
    assert(roundTripOk(Array(1704067200L), Array(3.14)))
    assert(roundTripOk(Array(0L), Array(Double.NaN)))
  }

  test("special values") {
    val vs = Array(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue, -Double.MinPositiveValue,
      Double.MaxValue, Double.MinValue, 1.0, 1.0, 1.0)
    assert(roundTripOk(vs.indices.map(i => 1704067200L + i * 60L).toArray, vs))
  }

  test("constant run compresses to ~2 bits per point") {
    val n = 1000
    val ts = (0 until n).map(i => 1704067200L + i * 60L).toArray
    val vs = Array.fill(n)(42.5)
    val block = TsCodec.encode(ts, vs)
    assert(block.length < 4 + 16 + 16 + n / 2, s"block ${block.length}B too large")
    assert(roundTripOk(ts, vs))
  }

  test("property: PointSort equals the boxed tuple sort / concat+sort merge") {
    import graft.functions.codec.PointSort
    val genV = Gen.oneOf(Gen.chooseNum(-1e6, 1e6),
      Gen.oneOf(Double.NaN, 0.0, -0.0, 1.0))
    val genPts = Gen.listOf(Gen.zip(Gen.chooseNum(0L, 500L), genV))
    // sortPairs == Ordering[(Long, Double)] sortBy (TotalOrdering on bits)
    check(Prop.forAll(genPts) { pts =>
      val ts = pts.map(_._1).toArray; val vs = pts.map(_._2).toArray
      PointSort.sortPairs(ts, vs, ts.length)
      val expect = pts.sortBy(identity).toArray
      ts.sameElements(expect.map(_._1)) && sameBits(vs, expect.map(_._2))
    })
    // mergeSortedRuns(sorted runs) == concat + full sort
    check(Prop.forAll(Gen.listOf(genPts)) { runs =>
      val sortedRuns = runs.map(_.sortBy(identity))
      val (mts, mvs) = PointSort.mergeSortedRuns(
        sortedRuns.map(_.map(_._1).toArray).toArray,
        sortedRuns.map(_.map(_._2).toArray).toArray)
      val expect = runs.flatten.sortBy(identity).toArray
      mts.sameElements(expect.map(_._1)) && sameBits(mvs, expect.map(_._2))
    })
  }

  test("property: random (ts, value) streams round-trip exactly") {
    val genV = Gen.oneOf(
      Gen.chooseNum(-1e12, 1e12),
      Gen.oneOf(Double.NaN, 0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity,
        Double.MinPositiveValue, 1.0),
      Gen.chooseNum(-5.0, 5.0))
    val genPts = Gen.listOf(Gen.zip(Gen.chooseNum(0L, 100000L), genV))
    check(Prop.forAll(genPts) { pts =>
      var t = 1704067200L
      val ts = pts.map { case (dt, _) => t += dt; t }.toArray
      roundTripOk(ts, pts.map(_._2).toArray)
    })
  }

  test("property: arbitrary sorted timestamps incl. negatives") {
    check(Prop.forAll(Gen.listOf(Gen.chooseNum(-1000000L, 1000000L))) { rawTs =>
      val ts = rawTs.sorted.toArray
      roundTripOk(ts, rawTs.map(t => (t % 97).toDouble).toArray)
    })
  }
}

/** The native block aggregate ([[graft.functions.codec.BlockAgg]]) must give
  * the same block bytes and percentiles as its references, across partition
  * merges: in point mode the collect_list + scalar UDF path, in block mode a
  * k-way merge of the decoded blocks. Null points and blocks are skipped.
  * Every check runs twice: on the ObjectHashAggregate path, and with the
  * sort-based fallback forced (threshold 1), which serializes every partial
  * buffer and merges the deserialized copies. Those inputs are shuffled
  * between partial and final; one more check groups an input already
  * clustered on the key, where both run as one Complete-mode aggregate, with
  * the fallback forced.
  */
class BlockAggregatorSpec extends SparkSuite {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
  import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
  import org.apache.spark.sql.functions._
  import graft.functions.codec.{BlockAgg, MergedStats, PointSort, TsCodec}

  private val FallbackConf = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  /** Point mode's reference: sort the collected points, then encode the
    * block and take the exact p50/p95 in one pass.
    */
  private val encodeWithStatsUdf = udf { (points: Seq[org.apache.spark.sql.Row]) =>
    val n = points.length
    val ts = new Array[Long](n); val vs = new Array[Double](n)
    var i = 0
    points.foreach { r => ts(i) = r.getLong(0); vs(i) = r.getDouble(1); i += 1 }
    PointSort.sortPairs(ts, vs, n)
    MergedStats.ofSorted(ts, vs)
  }

  private var fallbackForced = false
  private object Plans extends AdaptiveSparkPlanHelper

  private def withFallback(on: Boolean)(body: => Unit): Unit =
    if (!on) body
    else {
      val prev = spark.conf.getOption(FallbackConf)
      spark.conf.set(FallbackConf, "1")
      fallbackForced = true
      try body
      finally {
        fallbackForced = false
        prev.fold(spark.conf.unset(FallbackConf))(spark.conf.set(FallbackConf, _))
      }
    }

  /** Per-group (block, p50, p95) of an aggregate's struct column `m`; under
    * a forced fallback, also checks that the aggregate did fall back.
    */
  private def stats(df: DataFrame): Map[Long, MergedStats] = {
    val sel = df.select(col("g"), col("m.block"), col("m.p50"), col("m.p95"))
    val out = sel.collect()
      .map(r => r.getLong(0) -> MergedStats(r.getAs[Array[Byte]](1), r.getDouble(2), r.getDouble(3)))
      .toMap
    if (fallbackForced) {
      val fellBack = Plans.collect(sel.queryExecution.executedPlan) {
        case a: ObjectHashAggregateExec if a.groupingExpressions.nonEmpty =>
          a.metrics("numTasksFallBacked").value
      }
      assert(fellBack.sum > 0, "the sort-based fallback did not run")
    }
    out
  }

  private def assertSame(got: MergedStats, want: MergedStats, g: Any): Unit = {
    assert(java.util.Arrays.equals(got.block, want.block), s"group $g: block bytes differ")
    assert(java.lang.Double.compare(got.p50, want.p50) == 0, s"group $g: p50 ${got.p50} vs ${want.p50}")
    assert(java.lang.Double.compare(got.p95, want.p95) == 0, s"group $g: p95 ${got.p95} vs ${want.p95}")
  }

  private def pointMode(): Unit = {
    import spark.implicits._
    val pts = (1 to 500).map(i => (i % 7L, 1704067200L + (i * 37) % 1000, (i % 13) * 1.5))
    val df = pts.toDF("g", "ts", "v").repartition(7) // force multi-partition merges
    val viaAgg = stats(df.groupBy("g").agg(BlockAgg.points(col("ts"), col("v")).as("m")))
    val viaUdf = stats(df.groupBy("g")
      .agg(encodeWithStatsUdf(collect_list(struct(col("ts"), col("v").cast("double")))).as("m")))
    assert(viaAgg.size === 7 && viaAgg.keySet === viaUdf.keySet)
    viaAgg.foreach { case (g, m) => assertSame(m, viaUdf(g), g) }
  }

  private def blockMode(): Unit = {
    import spark.implicits._
    // sorted runs with tied timestamps, repeated values and empty blocks
    val rnd = new scala.util.Random(11)
    val blocks = for (g <- 0L until 6L; _ <- 0 until 1 + rnd.nextInt(9)) yield {
      val pts = Seq.fill(rnd.nextInt(40))(
        (1704067200L + rnd.nextInt(300), rnd.nextInt(20) * 0.5)).sortBy(identity)
      (g, pts)
    }
    val df = blocks.map { case (g, pts) =>
      (g, TsCodec.encode(pts.map(_._1).toArray, pts.map(_._2).toArray))
    }.toDF("g", "block").repartition(5)
    val got = stats(df.groupBy("g").agg(BlockAgg.blocks(col("block")).as("m")))
    val want = blocks.groupBy(_._1).map { case (g, runs) =>
      val (ts, vs) = PointSort.mergeSortedRuns(
        runs.map(_._2.map(_._1).toArray).toArray, runs.map(_._2.map(_._2).toArray).toArray)
      g -> MergedStats.ofSorted(ts, vs)
    }
    assert(got.keySet === want.keySet)
    got.foreach { case (g, m) => assertSame(m, want(g), g) }
  }

  private def nullsSkipped(): Unit = {
    import spark.implicits._
    val one = MergedStats.ofSorted(Array(60L), Array(1.0))
    val empty = MergedStats.ofSorted(Array.empty, Array.empty)
    assert(empty.block.length === 4 && empty.p50.isNaN && empty.p95.isNaN)
    // g=1: {1.0, null} is the one point 1.0 (a null stored as 0.0 gives p50 0.5);
    // a null ts is skipped too. g=2: only nulls -> the empty block.
    val pts = Seq[(Long, Option[Long], Option[Double])](
      (1L, Some(60L), Some(1.0)), (1L, Some(120L), None), (1L, None, Some(5.0)),
      (2L, Some(60L), None), (2L, None, None)).toDF("g", "ts", "v").repartition(3)
    val viaPoints = stats(pts.groupBy("g").agg(BlockAgg.points(col("ts"), col("v")).as("m")))
    assertSame(viaPoints(1L), one, 1L)
    assertSame(viaPoints(2L), empty, 2L)
    val blocks = Seq[(Long, Option[Array[Byte]])]((1L, Some(one.block)), (1L, None), (2L, None))
      .toDF("g", "block").repartition(2)
    val viaBlocks = stats(blocks.groupBy("g").agg(BlockAgg.blocks(col("block")).as("m")))
    assertSame(viaBlocks(1L), one, 1L)
    assertSame(viaBlocks(2L), empty, 2L)
    // no rows at all: a global aggregate still emits the empty block
    val none = pts.filter(lit(false)).agg(BlockAgg.points(col("ts"), col("v")).as("m"))
      .select(col("m.block"), col("m.p50"), col("m.p95")).head()
    assertSame(MergedStats(none.getAs[Array[Byte]](0), none.getDouble(1), none.getDouble(2)),
      empty, "global")
  }

  test("Complete-mode aggregate over a clustered input == reference (sort-based fallback)") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.aggregate.Complete
    val pts = (1 to 500).map(i => (i % 7L, 1704067200L + (i * 37) % 1000, (i % 13) * 1.5, s"l${i % 5}"))
    val want = pts.groupBy(_._1).map { case (g, ps) =>
      val ts = ps.map(_._2).toArray; val vs = ps.map(_._3).toArray
      PointSort.sortPairs(ts, vs, ts.length)
      g -> (MergedStats.ofSorted(ts, vs), ps.map(_._4).distinct.sorted)
    }
    withFallback(true) {
      // clustered on g, so no exchange goes between partial and final: they
      // run as one Complete-mode aggregate (LocalCompleteAggregate)
      val df = pts.toDF("g", "ts", "v", "lang").repartition(col("g")).groupBy("g")
        .agg(BlockAgg.points(col("ts"), col("v")).as("m"), collect_set(col("lang")).as("langs"))
        // a forced fallback reorders the set, so it is compared sorted
        .select(col("g"), col("m.block"), col("m.p50"), col("m.p95"), array_sort(col("langs")))
      val got = df.collect().map(r => r.getLong(0) ->
        (MergedStats(r.getAs[Array[Byte]](1), r.getDouble(2), r.getDouble(3)), r.getSeq[String](4))).toMap
      val aggs = Plans.collect(df.queryExecution.executedPlan) { case a: ObjectHashAggregateExec => a }
      assert(aggs.nonEmpty && aggs.forall(_.aggregateExpressions.forall(_.mode == Complete)),
        s"expected only Complete-mode aggregates:\n${df.queryExecution.executedPlan}")
      assert(aggs.map(_.metrics("numTasksFallBacked").value).sum > 0, "the sort-based fallback did not run")
      assert(got.keySet === want.keySet)
      got.foreach { case (g, (m, langs)) =>
        assertSame(m, want(g)._1, g)
        assert(langs === want(g)._2, s"group $g: lang set")
      }
    }
  }

  for ((suffix, fallback) <- Seq("" -> false, " (sort-based fallback)" -> true)) {
    test("aggregator == collect_list+UDF path, merge-safe across partitions" + suffix) {
      withFallback(fallback)(pointMode())
    }
    test("block mode == PointSort.mergeSortedRuns + MergedStats.ofSorted, merge-safe" + suffix) {
      withFallback(fallback)(blockMode())
    }
    test("null points and null blocks are skipped; empty group = 4-byte block, NaN pctl" + suffix) {
      withFallback(fallback)(nullsSkipped())
    }
  }
}
