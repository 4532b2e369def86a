package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spans recorded by the benchmark around its calls into each layer, plus
  * what a benchmark-owned SparkListener sees while a span is open: task
  * CPU, shuffle and spill bytes per task, and every SQL
  * execution, which becomes a child span named by what it does
  * ([[Trace.classify]]).
  *
  * Spans are kept in memory; nothing is written until the run ends. The
  * listener is attached only while a traced span is open, so untraced ops
  * in the same JVM run without it.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val execStart = mutable.Map.empty[Long, (Long, String)]
  private val execs = ArrayBuffer.empty[Span]

  private object Listener extends SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(e.taskInfo.launchTime, m.executorCpuTime / 1e9,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart
            if s.rootExecutionId.forall(_ == s.executionId) =>
          execStart(s.executionId) = (s.time, classify(s.physicalPlanDescription))
        case x: SparkListenerSQLExecutionEnd =>
          execStart.remove(x.executionId).foreach { case (t0, name) =>
            execs += Span(-2 - execs.size, "sql:" + name, -1, -1, t0, x.time)
          }
        case _ => ()
      }
    }
  }

  /** Times `f` as a span named `name`; the outermost span of an op attaches
    * the listener and drains its events after `f` returns.
    */
  def around[T](name: String, op: Int = currentOp)(f: => T): T = {
    val outer = stack.isEmpty
    if (outer) spark.sparkContext.addSparkListener(Listener)
    val id = spans.size
    spans += Span(id, name, stack.headOption.getOrElse(-1), op, System.currentTimeMillis(), -1L)
    stack = id :: stack
    try f
    finally {
      spans(id) = spans(id).copy(endMs = System.currentTimeMillis())
      stack = stack.tail
      if (outer) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(Listener)
      }
    }
  }

  private def currentOp: Int = stack.headOption.map(spans(_).op).getOrElse(-1)

  /** All spans, SQL executions included, each parented to the innermost
    * benchmark span open when it started.
    */
  private def allSpans: Seq[Span] = {
    val own = spans.toSeq
    def innermost(t: Long): Option[Span] =
      own.filter(s => s.startMs <= t && t <= s.endMs).sortBy(s => -s.startMs).headOption
    own ++ execs.toSeq.flatMap { e =>
      innermost(e.startMs).map(p => e.copy(parent = p.id, op = p.op))
    }
  }

  /** For each span named `name`, the tasks launched inside it. */
  def tasksIn(name: String): Seq[Seq[TaskRec]] = Listener.synchronized {
    spans.toSeq.filter(_.name == name).map { s =>
      tasks.toSeq.filter(t => s.startMs <= t.launchMs && t.launchMs <= s.endMs)
    }
  }

  /** Σ duration of SQL executions of a kind inside spans named `parent`. */
  def sqlTime(parent: String, kind: String): Double = Listener.synchronized {
    val all = allSpans
    val ids = all.filter(_.name == parent).map(_.id).toSet
    all.filter(s => s.name == "sql:" + kind && ids(s.parent)).map(_.durS).sum
  }

  /** Engine metrics per span named `name`, averaged over those spans. */
  def perOp(name: String, out: Json.Obj): Unit = {
    val sel = tasksIn(name)
    val n = math.max(sel.size, 1).toDouble
    val ts = sel.flatten
    out("spark.task_cpu_s") = ts.map(_.cpuS).sum / n
    out("spark.tasks") = ts.size / n
    out("spark.spill_bytes") = ts.map(_.spillBytes).sum.toDouble / n
  }

  /** Name → (count, total s, self s): self time is a span's duration minus
    * the part of it that its children cover.
    */
  def selfTimeTable(): Json.Obj = Listener.synchronized {
    val all = allSpans
    val children = all.groupBy(_.parent)
    val rows = mutable.LinkedHashMap.empty[String, (Int, Double, Double)]
    all.foreach { s =>
      val kids = children.getOrElse(s.id, Nil)
      val covered = union(kids.map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs))))
      val self = math.max(0.0, s.durS - covered / 1e3)
      val (c, t, sf) = rows.getOrElse(s.name, (0, 0.0, 0.0))
      rows(s.name) = (c + 1, t + s.durS, sf + self)
    }
    val o = new Json.Obj
    rows.foreach { case (k, (c, t, sf)) =>
      val r = new Json.Obj; r("count") = c; r("total_s") = t; r("self_s") = sf; o(k) = r
    }
    o
  }
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int, op: Int, startMs: Long, endMs: Long) {
    def durS: Double = (endMs - startMs) / 1e3
  }
  final case class TaskRec(launchMs: Long, cpuS: Double, shuffleWriteBytes: Long, spillBytes: Long)

  /** Length of the union of intervals, in ms. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }

  // the formatted plan lists the write's output path on the node's
  // "Arguments:" line
  private val Insert =
    "(?s)\\(\\d+\\) Execute InsertIntoHadoopFsRelationCommand.*?Arguments: [^,\\s]*/(tier_\\w+|_lineage)[,\\s]".r

  /** What a SQL execution does, from its physical plan: the store table it
    * writes, else whether it reads the lineage or a tier, else `other`.
    */
  def classify(plan: String): String = Insert.findFirstMatchIn(plan) match {
    case Some(m) if m.group(1) == "_lineage" => "lineage"
    case Some(m)                             => "write_" + m.group(1).stripPrefix("tier_")
    case None if plan.contains("/_lineage")  => "lineage"
    case None if plan.contains("/tier_")     => "read_tier"
    case None                                => "other"
  }
}
