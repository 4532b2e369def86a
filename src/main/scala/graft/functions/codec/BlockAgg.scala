package graft.functions.codec

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._

/** Native block aggregate: gathers a group's (ts, value) points into
  * primitive growable arrays and emits the Gorilla/delta-delta block + exact
  * p50/p95 in one pass, as `struct<block, p50, p95>` (SURVEY.md §2.11's
  * "merge-capable partial-aggregation buffer").
  *
  * Two modes, chosen by arity:
  *   - point mode, `BlockAgg(ts, v)` — tier-1 from raw points: reads the long
  *     and the double from the input row. A row whose ts or value is null is
  *     skipped, as `percentile` and `collect_list` skip nulls.
  *   - block mode, `BlockAgg(block)` — promotion, range reads, hierarchy
  *     rollups: decodes each block into the buffer. Null blocks are skipped.
  * The buffer is (ts, v)-sorted once at eval, so the block bytes do not
  * depend on input or merge order. An empty group yields the 4-byte empty
  * block with NaN percentiles.
  *
  * A `TypedImperativeAggregate` rather than a typed `Aggregator` or
  * `collect_list` + scalar UDF: update is an amortized primitive array write
  * with no per-row object (the `Aggregator` decoded every row into a case
  * class and round-tripped its buffer through an expression encoder;
  * `collect_list(block)` kept an array of boxed binaries per group), and the
  * partial buffer serializes as raw longs + doubles. The points themselves
  * are the smallest partial state: a Gorilla stream is order-recursive.
  */
case class BlockAgg(
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends TypedImperativeAggregate[PointsBuf] {

  private val blockMode = children.length == 1

  override def checkInputDataTypes(): TypeCheckResult = children.map(_.dataType) match {
    case Seq(BinaryType) | Seq(LongType, DoubleType) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"block_agg takes (bigint, double) points or one binary block, got " +
        other.map(_.catalogString).mkString("(", ", ", ")"))
  }
  override def dataType: DataType = BlockAgg.OutputType
  override def nullable: Boolean = false
  override def prettyName: String = "block_agg"

  override def createAggregationBuffer(): PointsBuf = new PointsBuf(8)

  override def update(buf: PointsBuf, row: InternalRow): PointsBuf = {
    if (blockMode) {
      val b = children.head.eval(row)
      if (b != null) {
        val (ts, vs) = TsCodec.decode(b.asInstanceOf[Array[Byte]])
        buf.appendAll(ts, vs, ts.length)
      }
    } else {
      val t = children.head.eval(row)
      val v = children(1).eval(row)
      if (t != null && v != null) buf.append(t.asInstanceOf[Long], v.asInstanceOf[Double])
    }
    buf
  }

  override def merge(buf: PointsBuf, other: PointsBuf): PointsBuf = {
    buf.appendAll(other.ts, other.vs, other.n)
    buf
  }

  override def eval(buf: PointsBuf): Any = {
    // primitive dual-array sort by (ts, v): deterministic block bytes
    PointSort.sortPairs(buf.ts, buf.vs, buf.n)
    val m = MergedStats.ofSorted(
      java.util.Arrays.copyOf(buf.ts, buf.n), java.util.Arrays.copyOf(buf.vs, buf.n))
    InternalRow(m.block, m.p50, m.p95)
  }

  /** `[int32 n][n × int64 ts][n × float64 v]` */
  override def serialize(buf: PointsBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.n).putInt(buf.n)
    bb.asLongBuffer().put(buf.ts, 0, buf.n)
    bb.position(4 + 8 * buf.n)
    bb.asDoubleBuffer().put(buf.vs, 0, buf.n)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): PointsBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new PointsBuf(n)
    bb.asLongBuffer().get(buf.ts, 0, n)
    bb.position(4 + 8 * n)
    bb.asDoubleBuffer().get(buf.vs, 0, n)
    buf.n = n
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): BlockAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BlockAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BlockAgg =
    copy(children = newChildren)
}

object BlockAgg {
  /** The output struct; the field order is [[MergedStats]]'s. */
  val OutputType: StructType = StructType(Seq(
    StructField("block", BinaryType, nullable = false),
    StructField("p50", DoubleType, nullable = false),
    StructField("p95", DoubleType, nullable = false)))

  /** Point mode: `(tsSeconds, value)` points of the group → struct(block, p50, p95). */
  def points(tsSeconds: Column, value: Column): Column =
    aggregate(BlockAgg(Seq(Shim.expression(tsSeconds.cast("long")), Shim.expression(value.cast("double")))))

  /** Block mode: the points of the group's blocks, merged → struct(block, p50, p95). */
  def blocks(block: Column): Column = aggregate(BlockAgg(Seq(Shim.expression(block))))

  private def aggregate(f: BlockAgg): Column = Shim.column(f.toAggregateExpression())
}

/** Primitive-array growable point buffer: `n` valid points, capacity =
  * `ts.length`.
  */
final class PointsBuf(var ts: Array[Long], var vs: Array[Double], var n: Int) {
  def this(capacity: Int) = this(new Array[Long](capacity), new Array[Double](capacity), 0)

  private def reserve(extra: Int): Unit = if (n + extra > ts.length) {
    val c = math.max(math.max(8, ts.length * 2), n + extra)
    ts = java.util.Arrays.copyOf(ts, c)
    vs = java.util.Arrays.copyOf(vs, c)
  }

  def append(t: Long, v: Double): Unit = {
    reserve(1)
    ts(n) = t; vs(n) = v; n += 1
  }

  /** Appends the first `m` points of the parallel arrays. */
  def appendAll(ots: Array[Long], ovs: Array[Double], m: Int): Unit = {
    reserve(m)
    System.arraycopy(ots, 0, ts, n, m); System.arraycopy(ovs, 0, vs, n, m)
    n += m
  }
}

/** Compressed block + exact percentiles of its values: the fields of
  * [[BlockAgg]]'s output and of `Rollup.encodeWithStatsUdf`.
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
