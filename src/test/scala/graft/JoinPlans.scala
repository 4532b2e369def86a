package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.graftshim.ListenerShim
import org.apache.spark.sql.util.QueryExecutionListener

/** Join-plan dump: the join strategy Spark picked for every SparkEntry query
  * at one broadcast threshold, for diffing two versions of the operators.
  *
  * Sets both `spark.sql.autoBroadcastJoinThreshold` and
  * `spark.sql.adaptive.autoBroadcastJoinThreshold` to <thresholdBytes>, runs
  * each query into the noop sink, and writes one line per query to <out>:
  *
  *   <name> TAB <joins> TAB exchanges=<n> TAB planned: <joins>
  *
  * <joins> lists, for every Spark SQL execution the query started (the noop
  * write last, after any eager `localCheckpoint` or `collect` the query ran
  * while it was built), the final adaptive plan's join nodes in plan order
  * as `Type(joinType,buildSide)`, executions separated by " | ". Cached
  * relations are read through to their cached plan. <n> counts the shuffle
  * exchanges (not broadcasts) of the same plans. The `planned:` column lists
  * the joins the planner chose from its estimates, before adaptive
  * re-planning. Executions that fail are left out; a query that throws gets
  * `FAILED <exception class>` in place of the joins.
  *
  * The planned column comes from estimates alone, so no timing enters it.
  * The final one can differ where a join's two sides are both small:
  * adaptive re-planning sizes whichever side's stage finishes first by its
  * runtime bytes, so the build side can flip between runs of the same code.
  *
  * From the repository root:
  *   sbt "Test/runMain graft.JoinPlans <sfDir> <out> <thresholdBytes>"
  * e.g. `... testdata/sf0.01 /tmp/joins_1k.txt 1024`. SPARK_GRAFT_CPUS
  * sets the local core count and shuffle partitions (default 4).
  */
object JoinPlans extends AdaptiveSparkPlanHelper {

  /** Final plan nodes, descending into adaptive stages, subqueries and
    * caches. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(plan) { case p => p }.flatMap {
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case p => Seq(p)
    }

  /** The same nodes as the planner chose them from its estimates, before
    * any adaptive re-plan. */
  private def plannedNodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => plannedNodes(a.inputPlan)
    case m: InMemoryTableScanExec => m +: plannedNodes(m.relation.cachedPlan)
    case p => p +: (p.children ++ p.subqueries).flatMap(plannedNodes)
  }

  private def joinsOf(ps: Seq[SparkPlan]): Seq[String] = ps.collect {
    case j: BroadcastHashJoinExec => s"BroadcastHashJoin(${j.joinType},${j.buildSide})"
    case j: ShuffledHashJoinExec => s"ShuffledHashJoin(${j.joinType},${j.buildSide})"
    case j: SortMergeJoinExec => s"SortMergeJoin(${j.joinType})"
    case j: BroadcastNestedLoopJoinExec =>
      s"BroadcastNestedLoopJoin(${j.joinType},${j.buildSide})"
    case _: CartesianProductExec => "CartesianProduct"
  }

  private def shuffles(plan: SparkPlan): Int =
    nodes(plan).count(_.isInstanceOf[ShuffleExchangeLike])

  def main(args: Array[String]): Unit = {
    val Array(sfDir, out, threshold) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", threshold)
    val runs = ArrayBuffer.empty[QueryExecution]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        runs.synchronized(runs += qe)
      // a failed execution has no final plan; the query's line says FAILED
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      ListenerShim.drain(spark)
      runs.synchronized(runs.clear())
      val failed = try { Bench.materialize(fn(spark, sfDir)); None } catch {
        case e: Throwable => Some(s"FAILED ${e.getClass.getName}")
      }
      ListenerShim.drain(spark)
      val plans = runs.synchronized(runs.toList).map(_.executedPlan)
      spark.catalog.clearCache()
      def list(of: SparkPlan => Seq[SparkPlan]) = failed.getOrElse(
        plans.map(p => joinsOf(of(p)).mkString(" ")).mkString(" | "))
      println(s"[joinplans] $name")
      s"$name\t${list(nodes)}\texchanges=${plans.map(shuffles).sum}" +
        s"\tplanned: ${list(plannedNodes)}"
    }
    Files.writeString(Paths.get(out), lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
