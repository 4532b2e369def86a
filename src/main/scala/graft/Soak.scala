package graft

import org.apache.spark.sql.functions._
import graft.functions.Hier
import graft.plans.TierPipeline

/** TierPipeline soak: full cascade build over the big bench page table,
  * then a no-op resume — records that resume cost tracks PENDING work (zero
  * here), not table size (numbers land in BASELINE.md).
  *
  * Usage: SPARK_GRAFT_CPUS=8 sbt "runMain graft.Soak [pagesPath] [root]"
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val pagesPath = args.headOption.getOrElse("/tmp/graft_bench_pages_32000000_s42_v1")
    val root = args.lift(1).getOrElse("/tmp/graft_soak_r3")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(s"local[$cpus]", 1024).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val cfg = TierPipeline.Config(root)
    def timed(label: String)(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; val s = (System.nanoTime() - t0) / 1e9
      println(f"[soak] $label: $s%.1f s"); s
    }
    val pages = Hier.withHierarchy(spark.read.parquet(pagesPath))
    val nPages = pages.count()

    val build = timed("full build (1m->5m->1h->1d, lineage+metrics)") {
      val written = TierPipeline.buildAll(pages, cfg, runId = "soak-build")
      println(s"[soak] partitions written: ${written.view.mapValues(_.size).toMap}")
    }
    val resume = timed("no-op resume (everything complete)") {
      val written = TierPipeline.buildAll(pages, cfg, runId = "soak-resume")
      require(written.values.forall(_.isEmpty), "no-op resume wrote partitions!")
    }
    val rows1d = spark.read.parquet(TierPipeline.tierPath(root, "1d")).count()
    val lineageRows = TierPipeline.lineage(spark, root)
      .filter(col("status") === "complete").count()
    println(f"""[soak] {"pages":$nPages,"build_sec":$build%.1f,"resume_sec":$resume%.1f,""" +
      s""""pages_per_sec":${(nPages / build).toLong},"rows_1d":$rows1d,""" +
      s""""lineage_rows":$lineageRows,"cpus":$cpus}""")
    spark.stop()
  }
}
