package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set-up, warm-up, then a closed loop of ops
  * with a single client for `--seconds`, every op's output checked.
  *
  * {{{
  *   perfbench.Main --workload cascade --seed 1 --seconds 20 --trace 0
  *                  --work <scratch dir> --out <result file> --cpus 4
  * }}}
  *
  * With `--trace 0` it reports the end-to-end metrics; with `--trace 1` it
  * alternates traced and untraced ops (the difference of their medians is
  * the tracing overhead) and then runs [[Probes]], which time every layer on
  * its own. The result is one JSON object written to `--out`.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, out: String, cpus: Int)

  /** What an op reports besides its wall time: the work it completed, and
    * its correctness check, which runs after the op's timing has stopped.
    */
  final case class OpResult(work: Double, check: () => Seq[String])

  /** A workload: inputs built in `prepare`, then `op` repeated. */
  trait Workload {
    /** Unit of `throughput_per_s`. */
    def workUnit: String
    /** How many times set-up builds the inputs (setup_s takes the median). */
    def prepareRepeats: Int
    def warmupOps: Int
    /** Builds the inputs for this run under `dir` (a fresh directory). */
    def prepare(dir: String): Unit
    /** Runs once after the last `prepare`, before warm-up; untimed checks. */
    def afterPrepare(): Unit = ()
    def op(i: Int): OpResult
    /** The run's page table, its page count and the days it spans, for the
      * layer probes.
      */
    def pagesDir: String
    def pageCount: Long
    def days: Int
    /** A tier store built from `pagesDir`, when the workload has one. */
    def storeRoot: Option[String] = None
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"), need("cpus").toInt)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS(): Double = osBean.getProcessCpuTime / 1e9
  def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  }
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Untimed single-thread integer loop: its rate tells whether the host
    * itself ran slower in a run whose ops were slow.
    */
  def calibration(): Double = {
    def loop(n: Int): Long = {
      var x = 88172645463325252L; var acc = 0L; var i = 0
      while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x & 1023; i += 1 }
      acc
    }
    loop(1 << 22)
    val runs = (0 until 5).map { _ =>
      val t0 = System.nanoTime(); loop(1 << 25); (1 << 25) / ((System.nanoTime() - t0) / 1e9)
    }
    median(runs)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.GraftSession.builder(s"local[${o.cpus}]", Workloads.shufflePartitions(o.workload))
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val failures = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    val result = new Json.Obj
    try {
      val wl = Workloads(o.workload, spark, o.seed)
      // set-up: inputs built `prepareRepeats` times, each into a fresh
      // directory; only the last one is kept for the ops
      val prepS = (0 until wl.prepareRepeats).map { k =>
        val dir = s"${o.work}/input-$k"
        val t0 = System.nanoTime()
        wl.prepare(dir)
        val s = (System.nanoTime() - t0) / 1e9
        if (k > 0) deleteRecursively(new File(s"${o.work}/input-${k - 1}"))
        s
      }
      val a0 = System.nanoTime()
      wl.afterPrepare()
      val afterPrepS = (System.nanoTime() - a0) / 1e9
      def runOp(i: Int): (Double, Double, OpResult) = {
        attempted += 1
        val c0 = processCpuS()
        val t0 = System.nanoTime()
        var threw = false
        val r = try wl.op(i) catch {
          case e: Throwable =>
            threw = true
            OpResult(0, () => Seq(s"op $i threw ${e.toString.take(300)}"))
        }
        // a failed op misses every latency limit: it must not read as fast
        val wall = if (threw) Double.PositiveInfinity else (System.nanoTime() - t0) / 1e9
        val cpu = processCpuS() - c0
        val bad = try r.check() catch {
          case e: Throwable => Seq(s"op $i check threw ${e.toString.take(300)}")
        }
        if (bad.nonEmpty) { failed += 1; failures ++= bad }
        (wall, cpu, r)
      }
      val w0 = System.nanoTime()
      val warmTimes = (0 until wl.warmupOps).map(i => runOp(-1 - i)._1)
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + median(prepS) + warmS

      // the timed loop: one client, next op only after the previous one
      val tracer = if (o.trace) Some(new Trace(spark)) else None
      val times = ArrayBuffer.empty[Double]
      val tracedTimes = ArrayBuffer.empty[Double]
      val cpus = ArrayBuffer.empty[Double]
      var work = 0.0
      var tracedGcS = 0.0
      val gc0 = gcS()
      val loop0 = System.nanoTime()
      var i = 0
      while (i < 3 || (System.nanoTime() - loop0) / 1e9 < o.seconds) {
        val traced = tracer.isDefined && i % 2 == 1
        val g0 = gcS()
        val (wall, cpu, r) =
          if (traced) tracer.get.around("op", i)(runOp(i)) else runOp(i)
        if (traced) { tracedTimes += wall; tracedGcS += gcS() - g0 }
        else { times += wall; cpus += cpu; work += r.work }
        i += 1
      }
      val loopGcS = gcS() - gc0
      val ops = times.size
      result("setup_s") = setupS
      result("op_p50_s") = median(times.toSeq)
      result("throughput_per_s") = work / times.sum
      result("cpu_s_per_op") = median(cpus.toSeq)
      result("peak_rss_mb") = peakRssMb()
      val samples = new Json.Obj
      Seq("op_p50_s", "throughput_per_s", "cpu_s_per_op").foreach(samples(_) = ops.toDouble)
      samples("setup_s") = prepS.size.toDouble
      samples("peak_rss_mb") = 1.0
      result("samples") = samples
      val diag = new Json.Obj
      diag("session_s") = sessionS
      diag("prepare_s") = Json.Arr(prepS)
      diag("after_prepare_s") = afterPrepS
      diag("warmup_s") = warmS
      diag("warmup_op_s") = Json.Arr(warmTimes)
      diag("op_s") = Json.Arr(times.toSeq)
      diag("loop_gc_s") = loopGcS
      diag("calibration_per_s") = calibration()
      diag("work_unit") = wl.workUnit
      wl.storeRoot.foreach { root =>
        diag("store_bytes_per_page") = Probes.storeBytes(root)._1.toDouble / wl.pageCount
      }
      result("diag") = diag
      tracer.foreach { t =>
        val layers = new Json.Obj
        layers("trace.overhead_s") = median(tracedTimes.toSeq) - median(times.toSeq)
        layers("jvm.gc_s") = tracedGcS / tracedTimes.size
        t.perOp("op", layers)
        new Probes(spark, wl, t, o, failures).run(layers)
        result("layers") = layers
        result("self_time") = t.selfTimeTable()
      }
    } catch {
      case e: Throwable =>
        failed += 1; attempted = math.max(attempted, 1)
        failures += s"run failed: ${e.toString.take(500)}"
        e.printStackTrace()
    }
    result("attempted") = attempted.toDouble
    result("failed") = failed.toDouble
    result("failures") = Json.Arr(failures.toSeq)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), result.render)
    spark.stop()
  }
}
