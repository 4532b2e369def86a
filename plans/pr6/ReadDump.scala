// Dumps the final plans of two fresh store reads over a 3-day store that
// TierPipeline.buildAll builds from 30k synthetic pages (hostBuckets 8, local[4]):
//   - readrange: Rollup.readRange over fresh readTier frames of all four
//     tiers, [day 2 02:11, day 3 05:00);
//   - daily_panel: a daily-by-host count/sum/count-distinct/p95 over days 2-3,
//     phrased against the raw pages and routed by TierPipeline.routes.
// Each dump, <out>/{readrange,daily_panel}_<tag>.txt, starts with the Spark
// jobs started while the fresh frame was planned, then per parquet scan the
// tier and the partitions and files it read, then explain("formatted") of
// the executed frame. Expression ids, hashes and the work dir are normalized.
//
// Not part of the sbt build. From the repository root:
//   classes=$(python3 perfbench/build.py)
//   java -cp "$SPARK_HOME/jars/*:$classes" scala.tools.nsc.Main -usejavacp -d /tmp/rd plans/pr6/ReadDump.scala
//   java <build.sbt's --add-opens> -Duser.timezone=UTC -Dspark.sql.session.timeZone=UTC \
//     -cp "/tmp/rd:$classes:$SPARK_HOME/jars/*" ReadDump /tmp/rd-work plans/pr6 after
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.functions.Hier
import graft.operators.Rollup
import graft.plans.{TierPipeline, TierRoute}
import graft.sources.Pages

/** args: work dir, output dir, tag. */
object ReadDump extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val Array(work, out, tag) = args
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val absWork = Paths.get(work).toAbsolutePath.toString
    def norm(s: String) = s.replaceAll("#\\d+", "#N").replaceAll("@[0-9a-f]{4,8}\\b", "@H")
      .replaceAll("plan_id=\\d+", "plan_id=N").replace("file:" + absWork, "<work>").replace(absWork, "<work>")
    val jobs = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    def drain(): Unit = Thread.sleep(500) // job-start events reach the listener asynchronously
    def dump(name: String, fresh: => DataFrame): Unit = {
      drain(); jobs.set(0)
      val df = fresh
      df.queryExecution.executedPlan
      drain()
      val planJobs = jobs.get
      df.collect()
      val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      val head = s"Spark jobs started to plan the fresh frame: $planJobs\n" + scans.map { s =>
        val read = s.selectedPartitions
        s"scan ${s.relation.location.rootPaths.map(_.getName).mkString(",")}: " +
          s"${read.partitionCount} partitions, ${read.totalNumberOfFiles} files"
      }.mkString("\n")
      Files.createDirectories(Paths.get(out))
      Files.writeString(Paths.get(out, s"${name}_$tag.txt"),
        norm(head + "\n\n" + df.queryExecution.explainString(FormattedMode)))
    }
    val pagesDir = s"$work/pages"
    Hier.withHierarchy(Pages.synthesize(spark, 30000L, seed = 7L, minutes = 3 * 1440))
      .write.mode("overwrite").parquet(pagesDir)
    val raw = spark.read.parquet(pagesDir)
    val cfg = TierPipeline.Config(s"$work/store")
    TierPipeline.buildAll(raw, cfg, "dump")

    val day2 = Pages.Epoch + 86400L
    dump("readrange", Rollup.readRange(
      Rollup.Tiers.map(t => t.name -> TierPipeline.readTier(spark, cfg, t.name)).toMap,
      day2 + 2 * 3600L + 11 * 60, day2 + 86400L + 5 * 3600L))

    TierPipeline.routes(spark, cfg, raw).foreach(TierRoute.register)
    val uw = unix_timestamp(col("warc_ts"))
    dump("daily_panel", raw
      .filter(uw >= day2 && uw < day2 + 2 * 86400L)
      .groupBy(col("host"), (uw - pmod(uw, lit(86400L))).as("bucket_start"))
      .agg(count(lit(1)).as("cnt"),
        sum(length(col("text")).cast("double")).as("sum_len"),
        countDistinct(col("lang")).as("lang_card"),
        percentile(length(col("text")), lit(0.95)).as("p95_len")))
    spark.stop()
  }
}
