package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import graft.functions.Hier
import graft.functions.codec.TsCodec
import graft.operators.Rollup
import graft.plans.{TierPipeline, TierRoute}
import Workloads.materialize

/** Times every layer on its own over the run's own pages (traced runs only),
  * whichever workload the run is, so every traced run reports every layer.
  * Each step runs once untraced, to warm it, and once inside a span.
  * Spans are timed around the benchmark's calls into the layer; a layer
  * that shares a Spark job with its input (char count with the scan) is
  * reported as the difference of two jobs.
  */
final class Probes(spark: SparkSession, wl: Main.Workload, t: Trace, o: Main.Opts,
                   failures: ArrayBuffer[String]) {
  private val dir = s"${o.work}/probe"

  private def pages: DataFrame = Hier.withHierarchy(spark.read.parquet(wl.pagesDir))

  /** Seconds of `f` run inside a span named `name`. */
  private def span(name: String)(f: => Any): Double = {
    val t0 = System.nanoTime()
    t.around(name)(f)
    (System.nanoTime() - t0) / 1e9
  }

  /** A warm-up pass of `f`, then the traced one. */
  private def timed(name: String)(f: => Any): Double = { f; span(name)(f) }

  private def shuffleBytes(name: String): Double =
    t.tasksIn(name).lastOption.toSeq.flatten.map(_.shuffleWriteBytes).sum.toDouble

  def run(out: Json.Obj): Unit = {
    val cols = Seq("tld", "registered_domain", "host", "warc_ts", "lang").map(col)
    val scan = timed("probe.sources.scan")(materialize(pages.select(cols :+ col("text"): _*)))
    out("sources.scan_s") = scan
    out("functions.char_count_s") =
      timed("probe.functions.char_count")(
        materialize(Rollup.textLen(pages).select(cols :+ col("text_len"): _*))) - scan

    val rowsObs = ArrayBuffer.empty[Observation]
    out("rollup.tier1m_s") = timed("probe.rollup.tier1m") {
      val ob = new Observation(); rowsObs += ob
      materialize(Rollup.tier1m(pages).observe(ob, count(lit(1)).as("rows")))
    }
    out("rollup.tier1m_rows") = rowsObs.last.get("rows").asInstanceOf[Long].toDouble
    out("rollup.tier1m_shuffle_bytes") = shuffleBytes("probe.rollup.tier1m")
    out("rollup.tier1m_salted_s") =
      timed("probe.rollup.tier1m_salted")(materialize(Rollup.tier1mSalted(pages, 16)))

    // each promotion timed on its own over the finer tier written out first
    Rollup.tier1m(pages).write.parquet(s"$dir/tier_1m")
    Rollup.Tiers.sliding(2).foreach { case Seq(finer, tier) =>
      def promoted = Rollup.promote(spark.read.parquet(s"$dir/tier_${finer.name}"), tier.seconds)
      out(s"rollup.promote_${tier.name}_s") =
        timed(s"probe.rollup.promote_${tier.name}")(materialize(promoted))
      promoted.write.parquet(s"$dir/tier_${tier.name}")
    }

    codec(out)
    pipelineAndServe(out)
  }

  /** Single-thread encode/decode loop over the run's own 1m blocks: the
    * codec's floor, without Spark around it.
    */
  private def codec(out: Json.Obj): Unit = {
    val blocks = spark.read.parquet(s"$dir/tier_1m").select("block").collect().map(_.getAs[Array[Byte]](0))
    val decoded = blocks.map(TsCodec.decode)
    val points = decoded.map(_._1.length.toLong).sum.toDouble
    def rate(f: => Unit): Double = {
      val runs = (0 until 7).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      points / Main.median(runs)
    }
    out("codec.decode_points_per_s") = t.around("probe.codec.decode")(rate(blocks.foreach(TsCodec.decode)))
    out("codec.encode_points_per_s") =
      t.around("probe.codec.encode")(rate(decoded.foreach { case (ts, vs) => TsCodec.encode(ts, vs) }))
    out("codec.bytes_per_point") = blocks.map(_.length.toLong).sum / points
  }

  private def pipelineAndServe(out: Json.Obj): Unit = {
    // routes need the raw table as parquet with the hierarchy columns
    val rawDir = if (wl.storeRoot.isDefined) wl.pagesDir else {
      pages.write.parquet(s"$dir/raw"); s"$dir/raw"
    }
    val raw = spark.read.parquet(rawDir)
    // a workload that built a store in its set-up has warmed the write path
    if (wl.storeRoot.isEmpty) {
      val warmRoot = s"$dir/store-warm"
      TierPipeline.buildAll(raw, TierPipeline.Config(warmRoot), "probe-warm")
      Main.deleteRecursively(new File(warmRoot))
    }
    val root = s"$dir/store"
    val build = span("probe.pipeline.build")(TierPipeline.buildAll(raw, TierPipeline.Config(root), "probe"))
    out("pipeline.build_s") = build
    // metric name -> kind of SQL execution (Trace.classify) it sums
    val parts = Seq("write_1m" -> "write_1m", "write_5m" -> "write_5m", "write_1h" -> "write_1h",
      "write_1d" -> "write_1d", "readback" -> "read_tier", "lineage" -> "lineage")
      .map { case (m, kind) => m -> t.sqlTime("probe.pipeline.build", kind) }
    parts.foreach { case (m, s) => out(s"pipeline.${m}_s") = s }
    out("pipeline.other_s") = build - parts.map(_._2).sum
    val (bytes, files, partitions) = Probes.storeBytes(root)
    out("pipeline.bytes_written") = bytes.toDouble
    out("pipeline.files_written") = files.toDouble
    out("pipeline.partitions_written") = partitions.toDouble
    out("pipeline.store_bytes_per_page") = bytes.toDouble / wl.pageCount
    failures ++= Workloads.checkStore(spark, root, wl.pageCount, Map.empty).map("probe store: " + _)
    // the resume contract: a second build over a complete store writes nothing
    val again = TierPipeline.buildAll(raw, TierPipeline.Config(root), "probe-resume")
    if (again.values.exists(_.nonEmpty)) failures += s"probe store: second buildAll wrote $again"

    TierRoute.clear()
    val p = new Workloads.Panels(spark, rawDir, root, wl.days, o.seed)
    p.register()
    def planned(name: String, df: DataFrame): Double = span(name)(df.queryExecution.executedPlan)
    // a warm refresh first, as in the serve workload
    Seq(p.daily(p.raw), p.hourly(p.raw), p.range(0), p.series).foreach(_.collect())
    val routed = Seq("daily" -> p.daily(p.raw), "hourly" -> p.hourly(p.raw))
    val routePlan = routed.map { case (n, df) => planned(s"probe.route.plan_$n", df) }
    routed.foreach { case (n, df) => span(s"probe.route.$n")(df.collect()) }
    out("route.plan_s") = routePlan.sum / routed.size
    out("route.hit_ratio") = routed.count { case (n, df) => p.routed(df, n).isEmpty }.toDouble / routed.size
    val range = p.range(1)
    val series = p.series
    val readPlan = Seq(planned("probe.read.plan_range", range), planned("probe.read.plan_series", series))
    out("read.range_s") = span("probe.read.range")(range.collect())
    out("read.series_s") = span("probe.read.series")(series.collect())
    out("read.plan_s") = readPlan.sum / readPlan.size
    out("read.files_scanned") = (Probes.filesScanned(range) + Probes.filesScanned(series)).toDouble
  }
}

object Probes {
  /** (bytes, files, partition directories) under a store's tier and lineage tables. */
  def storeBytes(root: String): (Long, Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val top = Option(new File(root).listFiles).toSeq.flatten
      .filter(d => d.getName.startsWith("tier_") || d.getName == "_lineage")
    val files = top.flatMap(walk).filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    val parts = top.flatMap(d => Option(d.listFiles).toSeq.flatten.filter(_.isDirectory)
      .flatMap(day => Option(day.listFiles).toSeq.flatten.filter(_.isDirectory)))
    (files.map(_.length).sum, files.size.toLong, parts.size.toLong)
  }

  /** Files read by the parquet scans of an executed query. */
  def filesScanned(df: DataFrame): Long = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec        => walk(q.plan)
      case other                    => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
  }
}
