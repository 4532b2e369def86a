package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run in
  * the forked test JVM sequentially).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.get("local[4]")
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"
  def approxEq(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** `tier`'s rows on every column ([[graft.operators.Rollup.comparable]]),
    * in a fixed order: two tiers' rows compare with `===`, and a row that
    * appears twice shows.
    */
  def tierRows(tier: DataFrame): Seq[Seq[Any]] =
    graft.operators.Rollup.comparable(tier).collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
}
