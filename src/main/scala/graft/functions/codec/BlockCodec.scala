package graft.functions.codec

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Spark column binding for reading [[TsCodec]] blocks back as points.
  *
  * Blocks are BUILT by the native aggregate [[BlockAgg]] (from raw points,
  * or by merging finer blocks), which buffers each group's points in
  * primitive arrays: a Gorilla stream is order-recursive, so the raw points
  * are the smallest merge-capable partial state (SURVEY.md §2.11). Per-block
  * cardinality is bounded by the bucket width (points per host per bucket),
  * so a buffer never approaches executor memory even at 10^12 rows; the
  * *number* of blocks scales out across partitions.
  */
object BlockCodec {

  /** Decode a block back to array<struct<ts:long, v:double>>. */
  val decodeUdf: UserDefinedFunction = udf { (block: Array[Byte]) =>
    val (ts, vs) = TsCodec.decode(block)
    ts.zip(vs).map { case (t, v) => PointRow(t, v) }
  }

  /** Scalar expression: block → array<struct<ts,v>> (use with `explode`). */
  def decodeBlock(block: Column): Column = decodeUdf(block)
}

/** Decoded point row (named fields survive into the exploded schema). */
case class PointRow(ts: Long, v: Double)
