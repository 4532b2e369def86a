package graft

/** Round-6 optimization harness — separate from the FROZEN graft.Bench.
  *
  * Usage (all via env, same contract style as Bench):
  *   SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS     core count (default 4)
  *   GRAFT_EXTRA_QUERIES  comma-separated name prefixes to run (required)
  *   GRAFT_EXTRA_PLANS    if set, write .explain("formatted") to
  *                        plans/r06/<query>_<GRAFT_EXTRA_PLANS>.txt
  *   GRAFT_EXTRA_RUNS     warm repetitions per query (default 3)
  *
  * Methodology matches Bench exactly: noop-format write (full evaluation of
  * every row and column, nothing written), one cold pass (codegen + JIT),
  * then GRAFT_EXTRA_RUNS timed warm passes with a System.gc() between
  * queries; reports min and median warm seconds per query as one JSON line.
  */
object BenchExtra {
  import Bench.materialize

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("GRAFT_EXTRA_RUNS", "3").toInt
    val planTag = sys.env.get("GRAFT_EXTRA_PLANS")
    val wanted = sys.env.getOrElse("GRAFT_EXTRA_QUERIES", "")
      .split(',').map(_.trim).filter(_.nonEmpty)
    require(wanted.nonEmpty, "set GRAFT_EXTRA_QUERIES=q199,q228,...")
    val spark = GraftSession.builder(s"local[$cpus]", 1024).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.shuffle.partitions", cpus) // match Bench sweep
    val sel = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      wanted.exists(p => n.startsWith(p)) }
    val out = sel.map { case (name, fn) =>
      spark.sparkContext.setJobDescription(name)
      planTag.foreach { tag =>
        val dir = new java.io.File("plans/r06"); dir.mkdirs()
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"plans/r06/${name}_$tag.txt"), plan)
      }
      val c0 = System.nanoTime()
      materialize(fn(spark, sfDir)) // cold: codegen + C2
      val cold = (System.nanoTime() - c0) / 1e9
      spark.catalog.clearCache()
      System.gc()
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        materialize(fn(spark, sfDir))
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        t
      }.sorted
      name -> (cold, times.head, times(times.size / 2))
    }
    val js = out.map { case (n, (c, mn, md)) =>
      f"""\"$n\":{"cold":$c%.3f,"min":$mn%.3f,"median":$md%.3f}""" }
      .mkString("{", ",", "}")
    spark.stop()
    println(s"""BENCHEXTRA $js""")
  }
}
