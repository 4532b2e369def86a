// Dumps explain("formatted") of the headline cascade (tier1m -> 5m -> 1h -> 1d)
// and of TierPipeline.buildAll's tier_1m write, over 20k synthetic pages at
// local[4] with 16 shuffle partitions, into <out>/{cascade,buildall_1m_write}_<tag>.txt.
// Expression ids, object hashes, plan ids and the work directory are
// normalized so two trees' dumps diff cleanly.
//
// Not part of the sbt build. From the repository root:
//   classes=$(python3 perfbench/build.py)
//   java -cp "$SPARK_HOME/jars/*:$classes" scala.tools.nsc.Main -usejavacp -d /tmp/pd plans/pr3/PlanDump.scala
//   java <build.sbt's --add-opens> -Duser.timezone=UTC -Dspark.sql.session.timeZone=UTC \
//     -cp "/tmp/pd:$classes:$SPARK_HOME/jars/*" PlanDump /tmp/pd-work plans/pr3 after
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener
import graft.GraftSession
import graft.functions.Hier
import graft.operators.Rollup
import graft.plans.TierPipeline
import graft.sources.Pages

/** Dumps explain("formatted") of the cascade and of buildAll's 1m write.
  * args: work dir, output dir, tag. Expression ids and the work dir are normalized.
  */
object PlanDump {
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

    @volatile var write1m: Option[QueryExecution] = None
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = qe.commandExecuted match {
        case c: InsertIntoHadoopFsRelationCommand
            if c.outputPath.toString.endsWith("tier_1m") && write1m.isEmpty => write1m = Some(qe)
        case _ =>
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    TierPipeline.buildAll(pages, TierPipeline.Config(s"$work/store"), "dump")
    val t0 = System.currentTimeMillis()
    while (write1m.isEmpty && System.currentTimeMillis() - t0 < 30000) Thread.sleep(100)
    dump("buildall_1m_write", write1m.get.explainString(FormattedMode))
    spark.stop()
  }
}
