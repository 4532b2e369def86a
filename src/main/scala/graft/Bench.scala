package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hier
import graft.operators.Rollup
import graft.sources.Pages

/** Driver benchmark main — prints ONE JSON line and also writes it to
  * `BENCH_OUT.json` in the working directory (the stdout line gets wrapped in
  * sbt's `[info] ` prefix, which broke the driver's parse in round 1).
  *
  * Headline metric (BASELINE.json): rollup throughput in pages/sec through
  * the full tier cascade (1m aggregate → 5m → 1h → 1d promotions,
  * exact percentiles + Gorilla blocks at every tier). The page table is
  * synthesized once to parquet (not timed), then the timed job reads it back
  * so the measurement covers scan + rollup, not generation.
  *
  * Measurement action: every timed plan ends in a `noop`-format write —
  * NOT `.count()`, which lets Catalyst prune every computed column (the
  * block/percentile aggregates, each query's projections) and under-measures.
  * The noop sink fully evaluates every row and column, preserves final sorts,
  * and writes nothing.
  *
  * Also reports per-query wall times for every SparkEntry query on
  * SPARK_GRAFT_SF_DIR (driver contract), and the cpu count so two runs at
  * different SPARK_GRAFT_CPUS give the scaling-efficiency evidence
  * ((thru@4N / thru@N) / 4 — see BASELINE.md).
  */
object Bench {

  /** Full evaluation of every row and column; writes nothing. */
  private[graft] def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val nPages = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAGES", "8000000").toLong
    // The CASCADE runs with 1024 initial shuffle partitions, NOT cores: the
    // tier aggregation holds per-group point buffers live for a task's whole
    // lifetime, so fewer/bigger tasks = a bigger live set churned through
    // every young GC (interleaved A/B on the 32M-page cascade at local[8]:
    // 180 s at 64 partitions vs 118 s at 1024, GC 7 s → 3 s). This is also
    // the right shape for a real cluster, where partition count follows data
    // volume, not core count. The small sf0.1 PER-QUERY runs flip back to
    // partitions = cores below: at 1024, queries with cached intermediates
    // (cache pins the pre-AQE partition count — q38's candidate cache) paid
    // ~10k near-empty task launches (61 s for a 1000-row query).
    val spark = GraftSession.builder(s"local[$cpus]", 1024).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- headline: tier-cascade rollup throughput over synthetic pages ----
    // cache key includes generator seed + a version tag: a Pages.synthesize
    // change must not silently reuse stale data from an older code version
    val pagesPath = s"/tmp/graft_bench_pages_${nPages}_s42_v1"
    if (!new java.io.File(pagesPath + "/_SUCCESS").exists()) {
      // fixed 64-way layout: the scan parallelism of the timed job must not
      // depend on the core count of whichever run generated the file.
      // Generated directly into 64 range partitions — shuffle-free (a
      // .repartition(64) here moves the whole raw corpus through the sorter).
      Pages.synthesize(spark, nPages, seed = 42L, partitions = 64)
        .write.mode("overwrite").parquet(pagesPath)
    }
    // plain tier1m: at (host, minute) grain the time dimension already
    // spreads hot hosts, so salting (tier1mSalted) would only multiply group
    // count; the salted path is for coarse-grain hot keys (hierarchy rollups)
    def cascade(): DataFrame = {
      val pages = Hier.withHierarchy(spark.read.parquet(pagesPath))
      val t1m = Rollup.tier1m(pages)
      Rollup.promote(Rollup.promote(Rollup.promote(t1m, 300L), 3600L), 86400L)
    }
    // one warmup (JIT + codegen + parquet footers), then median of 5 timed
    // runs — single-shot numbers on this VM swing 2-4x from GC/JIT/neighbor
    // noise; all run times are reported so the spread is visible when a
    // driver-measured number disagrees with a builder-measured one
    val rows1d = cascade().count() // row count for the report only (untimed)
    // THREE warmup passes of the full plan (incl. blocks/percentiles): C2
    // compilation of the codegen'd stages + GC adaptive sizing need 2-3
    // passes to converge on this box (measured run sequence from one warmup:
    // 99 s, 84 s, 291 s, 14 s, 14 s — the first three are JIT/GC transient,
    // the last two are the converged state a long-running cluster job sits
    // in). All raw times are still reported so the spread stays visible.
    // 5, not 3: measured run sequences like [44.8, 82.7, 7.7, 8.9, 15.3]
    // AFTER 3 warmups show convergence sometimes needs 5+ full passes here
    val nWarm = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUPS", "5").toInt
    (1 to nWarm).foreach(_ => materialize(cascade()))
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    val rawTimes = (1 to nRuns).map { _ =>
      val t0 = System.nanoTime(); materialize(cascade()); (System.nanoTime() - t0) / 1e9
    }
    val times = rawTimes.sorted
    val rollupSec = times(times.size / 2)
    val pagesPerSec = nPages / rollupSec

    // ---- per-query times on the driver testdata ----
    // (skippable for pure scaling runs: SPARK_GRAFT_BENCH_QUERIES=0)
    spark.conf.set("spark.sql.shuffle.partitions", cpus) // small-input queries
    val runQueries = sys.env.getOrElse("SPARK_GRAFT_BENCH_QUERIES", "1") != "0"
    // each query runs twice: the FIRST pass pays one-time codegen + C2 JIT
    // of that query's generated stages (measured: q38's plan takes ~30 s
    // cold, 6.8 s warm on identical input), the SECOND is the plan's real
    // cost — the steady state of a recurring production query. Both are
    // reported: `queries` = warm times, `queries_cold_total_sec` = Σ cold.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // SPARK_GRAFT_BENCH_FILTER=q63,q33 times only matching name-prefixes —
    // for targeted A/B profiling in one JVM without the full 65-query sweep
    val qFilter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
    val results = (if (runQueries) SparkEntry.queries.toSeq.sortBy(_._1) else Seq.empty)
      .filter { case (name, _) =>
        qFilter.forall(_.split(',').exists(p => name.startsWith(p.trim))) }
      .map { case (name, fn) =>
      val q0 = System.nanoTime()
      try { materialize(fn(spark, sfDir)) } catch {
        case e: Throwable => errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
      val cold = (System.nanoTime() - q0) / 1e9
      // drop anything the cold pass cached (CacheManager dedupes identical
      // logical plans, so a caching query's warm pass would read the
      // InMemoryRelation instead of re-executing the plan)
      spark.catalog.clearCache()
      // isolate the warm timing from the PREVIOUS queries' garbage: across
      // an 81-query sweep the old-gen fills with dead plan/task debris and
      // mid-query collections get billed to whichever query they land in
      // (measured: q45/q46/q64 read 4-5 s in the full sweep vs ~1 s in a
      // targeted run of the same JVM-warm plan). One explicit collection
      // between queries makes per-query times comparable.
      System.gc()
      val q1 = System.nanoTime()
      try { materialize(fn(spark, sfDir)) } catch { case _: Throwable => () }
      spark.catalog.clearCache()
      name -> (cold, (System.nanoTime() - q1) / 1e9)
    }
    // a failed query records -1, not its time-to-exception — a fast failure
    // must not be mistaken for a fast success
    val qs = results.map { case (k, (_, w)) =>
      s"\"" + k + "\":" + (if (errors.contains(k)) "-1" else w.toString)
    }.mkString("{", ",", "}")
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\x00-\\x1f]", " ") + "\""
    val errJson = errors.map { case (k, m) => s"${jstr(k)}:${jstr(m.take(200))}" }
      .mkString("{", ",", "}")
    val ok = results.filterNot { case (k, _) => errors.contains(k) }
    val total = ok.map(_._2._2).sum
    val coldTotal = ok.map(_._2._1).sum
    val runsJson = rawTimes.mkString("[", ",", "]")
    // ---- ambient scan baselines (bench-window comparability receipt) ----
    // A warm full-table noop scan per input table, timed in the SAME window
    // as the per-query sweep: when a big-scan query's warm time moves
    // between rounds, scan_sec says whether the WINDOW moved (contention /
    // cache-honesty harness changes re-reading parquet — the r3 q01–q03
    // "inflation" was exactly this) or the PLAN regressed. Compute-bound
    // queries should track (query_sec − scan_sec of their table), which is
    // harness-invariant.
    val scanSecs = (if (runQueries)
      Seq("events", "documents", "embeddings", "lineitem", "orders")
    else Seq.empty).flatMap { t =>
      val p = new java.io.File(s"$sfDir/$t.parquet")
      if (!p.exists()) None else {
        val read = () => materialize(spark.read.parquet(p.getPath)
          .select(col("*")))
        read() // warm (footers + codegen), matching the warm query times
        val t0 = System.nanoTime(); read()
        Some(t -> (System.nanoTime() - t0) / 1e9)
      }
    }
    val scanJson = scanSecs.map { case (k, v) => s"\"$k\":$v" }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"rollup throughput (pages/sec), 1m->1d tier cascade","value":$pagesPerSec,"unit":"pages/sec","rollup_pages":$nPages,"rollup_sec":$rollupSec,"rollup_runs":$runsJson,"rows_1d":$rows1d,"cpus":$cpus,"queries_total_sec":$total,"queries_cold_total_sec":$coldTotal,"scan_sec":$scanJson,"queries":$qs,"errors":$errJson,"sf":"$sfDir"}"""
    // machine-readable copy for the driver — README documents this file as
    // the canonical artifact (sbt may wrap the stdout line below)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_OUT.json"), json)
    spark.stop()
    // bare JSON as the very last line this process emits (run/fork with
    // StdoutOutput passes it through un-prefixed; only sbt's own
    // "[success]" trailer follows)
    println(json)
    // third channel for the driver's parser (stdout's last line gets sbt's
    // "[success]" trailer appended): the bare JSON is ALSO the final stderr
    // line, preceded by a greppable sentinel
    System.err.println("GRAFT_BENCH_JSON_BELOW")
    System.err.println(json)
  }
}
