// Dumps the plans the engine's session gives the tier store, over 20k
// synthetic pages spread over 2 days, at local[4] with 16 shuffle partitions:
//   - cascade: explain("formatted") of tier1m -> 5m -> 1h -> 1d, as in
//     plans/pr3/PlanDump.scala (so it diffs against plans/pr8/cascade_after.txt);
//   - buildall_1m_write: TierPipeline.buildAll's tier_1m write (hostBuckets 2);
//   - daily_panel / hourly_panel: the routed panels of PlanEvidenceSpec over
//     that store (daily count + p95 over days 1-2, hourly p50 over six hours
//     of day 1), phrased against the raw pages and routed by the
//     TierPipeline.routes registrations. Each is executed; its dump lists the
//     parquet scans of the final plan (tier, partitions and files read, the
//     partition filters) and then explain("formatted").
// Output: <out>/<name>_<tag>.txt. Expression ids, hashes, plan ids and the
// work directory are normalized so two trees' dumps diff cleanly.
//
// Not part of the sbt build. From the repository root:
//   classes=$(python3 perfbench/build.py)
//   java -cp "$SPARK_HOME/jars/*:$classes" scala.tools.nsc.Main -usejavacp -d /tmp/pd plans/pr9/PlanDump.scala
//   java <build.sbt's --add-opens> -Duser.timezone=UTC -Dspark.sql.session.timeZone=UTC \
//     -cp "/tmp/pd:$classes:$SPARK_HOME/jars/*" PlanDump /tmp/pd-work plans/pr9 after
// The before dumps come from the parent tree, where the route specs also
// attached the rule through TierRoute.install(spark) before registering; the
// script run there had that one line more, right before the registrations.
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.GraftSession
import graft.functions.Hier
import graft.operators.Rollup
import graft.plans.{TierPipeline, TierRoute}
import graft.sources.Pages

/** args: work dir, output dir, tag. */
object PlanDump extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val Array(work, out, tag) = args
    val spark = GraftSession.builder("local[4]", 16).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val absWork = Paths.get(work).toAbsolutePath.toString
    def norm(s: String) = s.replaceAll("#\\d+", "#N").replaceAll("@[0-9a-f]{4,8}\\b", "@H")
      .replaceAll("plan_id=\\d+", "plan_id=N").replace("file:" + absWork, "<work>").replace(absWork, "<work>")
    def dump(name: String, s: String) = {
      Files.createDirectories(Paths.get(out))
      Files.writeString(Paths.get(out, s"${name}_$tag.txt"), norm(s))
    }
    val pagesDir = s"$work/pages"
    Hier.withHierarchy(Pages.synthesize(spark, 20000L, seed = 7L, minutes = 2 * 1440))
      .write.mode("overwrite").parquet(pagesDir)
    val pages = spark.read.parquet(pagesDir)
    val cascade = Rollup.promote(Rollup.promote(Rollup.promote(Rollup.tier1m(pages), 300L), 3600L), 86400L)
    dump("cascade", cascade.queryExecution.explainString(FormattedMode))

    val write1m = new java.util.concurrent.atomic.AtomicReference[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = qe.commandExecuted match {
        case c: InsertIntoHadoopFsRelationCommand if c.outputPath.toString.endsWith("tier_1m") =>
          write1m.compareAndSet(null, qe)
        case _ =>
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val cfg = TierPipeline.Config(s"$work/store", hostBuckets = 2)
    TierPipeline.buildAll(pages, cfg, "dump")
    val t0 = System.currentTimeMillis()
    while (write1m.get == null && System.currentTimeMillis() - t0 < 30000) Thread.sleep(100)
    dump("buildall_1m_write", write1m.get.explainString(FormattedMode))

    TierRoute.clear()
    TierPipeline.routes(spark, cfg, pages).foreach(TierRoute.register)
    val uw = unix_timestamp(col("warc_ts"))
    def executed(name: String, df: DataFrame): Unit = {
      df.collect()
      val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      val head = scans.map { s =>
        val read = s.selectedPartitions
        s"scan ${s.relation.location.rootPaths.map(_.getName).mkString(",")}: " +
          s"${read.partitionCount} partitions, ${read.totalNumberOfFiles} files; " +
          s"PartitionFilters ${s.partitionFilters.mkString("[", ", ", "]")}"
      }.mkString("\n")
      dump(name, head + "\n\n" + df.queryExecution.explainString(FormattedMode))
    }
    executed("daily_panel", pages
      .filter(uw >= Pages.Epoch && uw < Pages.Epoch + 2 * 86400L)
      .groupBy(col("host"), (uw - pmod(uw, lit(86400L))).as("bucket_start"))
      .agg(count(lit(1)).as("cnt"), percentile(length(col("text")), lit(0.95)).as("p95_len")))
    executed("hourly_panel", pages
      .filter(uw >= Pages.Epoch + 3 * 3600L && uw < Pages.Epoch + 9 * 3600L)
      .groupBy(col("host"), (uw - pmod(uw, lit(3600L))).as("bucket_start"))
      .agg(percentile(length(col("text")), lit(0.5)).as("p50_len"))
      .orderBy("host", "bucket_start"))
    TierRoute.clear()
    spark.stop()
  }
}
