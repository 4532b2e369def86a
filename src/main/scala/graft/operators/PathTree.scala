package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** URL path-prefix tree aggregation: roll a slash-delimited path column up
  * to every ancestor prefix in one pass — the site-map / storage-explorer
  * query ("how many pages and bytes under /a, /a/b, /a/b/c …") that a
  * fixed-column hierarchy rollup cannot express because path depth varies
  * per row.
  *
  * Plan: split once, explode a LITERAL depth sequence 1..maxDepth (a
  * literal, not a computed array — CollapseProject would otherwise inline
  * the whole split into the Generate, re-splitting per depth; measured
  * pitfall recorded in the verify recipe), cut each prefix with `slice`,
  * then ONE map-side-combined groupBy(depth, prefix). Output size is at
  * most maxDepth × rows before aggregation — linear, no joins, no windows.
  * Deeper-than-maxDepth segments aggregate into their depth-maxDepth
  * ancestor (the tree is truncated, not dropped).
  */
object PathTree {

  /** Aggregate `weightCol` (count + sum) under every path prefix of depth
    * 1..maxDepth. Leading '/' is tolerated; empty segments are dropped.
    * Returns (depth, prefix, cnt, w_sum) with prefix = "/seg1/…/segd".
    */
  def prefixRollup(df: DataFrame, pathCol: String, maxDepth: Int,
                   weightCol: String): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val segs = filter(split(col(pathCol), "/"), s => s =!= "")
    df.select(segs.as("_segs"), size(segs).as("_n"), col(weightCol).as("_w"))
      .select(col("_segs"), col("_n"), col("_w"),
        explode(sequence(lit(1), lit(maxDepth))).as("depth"))
      .filter(col("depth") <= col("_n"))
      .select(col("depth"),
        concat(lit("/"), concat_ws("/", slice(col("_segs"), lit(1), col("depth")))).as("prefix"),
        col("_w"))
      .groupBy("depth", "prefix")
      .agg(count(lit(1)).as("cnt"), sum(col("_w")).as("w_sum"))
  }

  /** Share-of-parent over a [[prefixRollup]] result: each prefix's weight
    * as a fraction of its parent prefix (depth-1 nodes take the GLOBAL
    * total as parent) — the "which child dominates this subtree" reporting
    * view. One equi-join on the parent prefix + one bounded scalar for the
    * root total; each share is ONE division of the exact integer sums the
    * rollup produced, so it is cross-engine deterministic.
    */
  def shareOfParent(rollup: DataFrame): DataFrame = {
    val parents = rollup.select((col("depth") + 1).as("depth"),
      col("prefix").as("_parent_prefix"), col("w_sum").as("parent_w"))
    val rootW = rollup.filter(col("depth") === 1)
      .agg(sum(col("w_sum")).as("_root_w")) // one bounded scalar row
    rollup
      .withColumn("_parent_prefix",
        when(col("depth") === 1, lit(null).cast("string"))
          .otherwise(regexp_replace(col("prefix"), "/[^/]+$", "")))
      .join(parents, Seq("depth", "_parent_prefix"), "left")
      .crossJoin(rootW)
      .withColumn("parent_w",
        when(col("depth") === 1, col("_root_w")).otherwise(col("parent_w")))
      .withColumn("parent_share",
        col("w_sum").cast("double") / col("parent_w").cast("double"))
      .select(col("depth"), col("prefix"), col("w_sum"), col("parent_w"),
        col("parent_share"))
  }
}
