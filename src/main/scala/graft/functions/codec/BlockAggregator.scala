package graft.functions.codec

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Typed `Aggregator` that collects (ts, value) points into primitive
  * growable arrays and emits the Gorilla/delta-delta block + exact p50/p95
  * in one pass (SURVEY.md §2.11's "merge-capable partial-aggregation
  * buffer").
  *
  * vs the `collect_list(struct(...))` + scalar-UDF formulation: the buffer
  * holds two primitive arrays instead of a Seq of boxed Rows, so per-point
  * cost is an amortized array write — no UnsafeRow copy, no
  * GenericRowWithSchema materialization at eval, ~3 fewer heap objects per
  * point. At 10^6+ sparse groups per task that garbage is what drives GC
  * (measured: full-GC pauses up to 10 s dominated tier-1 wall time). Both
  * formulations shuffle the same bytes (the map-side partial is the points
  * themselves — a Gorilla stream is order-recursive, so no smaller partial
  * exists).
  */
object BlockAggregator extends Aggregator[PointIn, PointsBuf, MergedStats] {

  override def zero: PointsBuf = PointsBuf(new Array[Long](8), new Array[Double](8), 0)

  override def reduce(b: PointsBuf, p: PointIn): PointsBuf = {
    // mutate in place — Aggregator permits returning the same buffer, and a
    // copy-per-point allocates a fresh case class per input row (GC-visible
    // at 10^7 points/task)
    val g = if (b.n == b.ts.length) b.grown() else b
    g.ts(g.n) = p.ts
    g.vs(g.n) = p.v
    g.n += 1
    g
  }

  override def merge(a: PointsBuf, b: PointsBuf): PointsBuf = {
    val ts = new Array[Long](a.n + b.n)
    val vs = new Array[Double](a.n + b.n)
    System.arraycopy(a.ts, 0, ts, 0, a.n); System.arraycopy(b.ts, 0, ts, a.n, b.n)
    System.arraycopy(a.vs, 0, vs, 0, a.n); System.arraycopy(b.vs, 0, vs, a.n, b.n)
    PointsBuf(ts, vs, ts.length)
  }

  override def finish(b: PointsBuf): MergedStats = {
    // (ts, v) sort for deterministic block bytes (see BlockCodec.encodeUdf).
    // Primitive dual-array sort — the earlier boxed `sortBy(i => (ts, vs))`
    // allocated an Integer + Tuple2 per point and dominated finish() cost.
    val ts = java.util.Arrays.copyOf(b.ts, b.n)
    val vs = java.util.Arrays.copyOf(b.vs, b.n)
    PointSort.sortPairs(ts, vs, b.n)
    MergedStats.ofSorted(ts, vs)
  }

  override def bufferEncoder: Encoder[PointsBuf] = Encoders.product[PointsBuf]
  override def outputEncoder: Encoder[MergedStats] = Encoders.product[MergedStats]

  /** Column binding: `blockWithStats(tsSecondsCol, valueCol)` →
    * struct(block, p50, p95).
    */
  lazy val blockWithStats: org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(BlockAggregator, Encoders.product[PointIn])

  def apply(tsSeconds: Column, value: Column): Column =
    blockWithStats(tsSeconds.cast("long"), value.cast("double"))
}

/** Aggregator input point. */
case class PointIn(ts: Long, v: Double)

/** Primitive-array growable buffer; `n` valid points, capacity = ts.length.
  * Fields are vars so [[BlockAggregator.reduce]] can append in place.
  */
case class PointsBuf(var ts: Array[Long], var vs: Array[Double], var n: Int) {
  def grown(): PointsBuf = {
    val c = math.max(8, ts.length * 2)
    val t2 = new Array[Long](c); val v2 = new Array[Double](c)
    System.arraycopy(ts, 0, t2, 0, n); System.arraycopy(vs, 0, v2, 0, n)
    PointsBuf(t2, v2, n)
  }
}

/** Output of every block builder ([[BlockAggregator]],
  * `Rollup.encodeWithStatsUdf`, `Rollup.mergeBlocksUdf`): compressed block +
  * exact percentiles of its values.
  */
case class MergedStats(block: Array[Byte], p50: Double, p95: Double)

object MergedStats {
  /** Exact p50/p95 and the block of points already in (ts, v) order — the
    * codec needs them sorted anyway, so the percentiles are free.
    */
  def ofSorted(ts: Array[Long], vs: Array[Double]): MergedStats = {
    val p = PointSort.percentiles(vs, vs.length, Array(0.5, 0.95))
    MergedStats(TsCodec.encode(ts, vs), p(0), p(1))
  }
}
