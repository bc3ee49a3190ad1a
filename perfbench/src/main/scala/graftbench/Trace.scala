package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a module boundary. Times are milliseconds since
  * the epoch, with sub-millisecond digits, on the same clock as Spark's
  * listener events. `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, start: Double,
                      var end: Double)

/** Spans recorded by the benchmark around its calls into graft. With
  * tracing off, [[apply]] only runs the body. Single-threaded: the
  * benchmark drives graft from one thread. */
final class Tracer(val enabled: Boolean) {
  private val base = System.currentTimeMillis() - System.nanoTime() / 1e6
  def now(): Double = base + System.nanoTime() / 1e6

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  /** Counts taken at a boundary: (time, name, value). */
  val counts = ArrayBuffer.empty[(Double, String, Double)]
  def count(name: String, v: Double): Unit =
    if (enabled) counts += ((now(), name, v))

  def open(name: String): Span = {
    val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name, now(),
      Double.NaN)
    spans += s
    stack = s :: stack
    s
  }

  def close(s: Span): Unit = {
    s.end = now()
    stack = stack.dropWhile(_ ne s).drop(1)
  }

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = open(name)
      try body finally close(s)
    }
}

/** What Spark's listener bus reports, kept for attribution after the
  * run. One SQL execution: its interval, planning phase times and the
  * time graft's own optimizer rules took. */
final case class SqlExec(id: Long, start: Double, end: Double,
                         analysisMs: Double, optimizationMs: Double,
                         planningMs: Double, graftRulesMs: Double,
                         readsWatched: Boolean, writesTable: Option[String])

final case class TaskRec(finish: Double, runMs: Double, cpuMs: Double,
                         gcMs: Double, shuffleReadB: Long,
                         shuffleWriteB: Long, fetchWaitMs: Double,
                         spillB: Long, inputB: Long, outputB: Long)

/** Planning figures of one query execution, from the
  * QueryExecutionListener: phase times, time in graft's own optimizer
  * rules, whether the plan reads the watched tables, and the catalog
  * table it writes, if any. `seen` is when the callback ran. */
final case class PlanRec(analysisMs: Double, optimizationMs: Double,
                         planningMs: Double, graftRulesMs: Double,
                         readsWatched: Boolean, writesTable: Option[String],
                         durationMs: Double, seen: Double)

/** Registered in traced runs only: a SparkListener for scheduler and
  * SQL execution events, and a QueryExecutionListener for planning. An
  * execution whose analyzed plan mentions `watch` (a table-name prefix)
  * is marked as reading those tables. */
final class BenchListener(watch: String) extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  private val starts = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val ends = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val plans = new java.util.concurrent.ConcurrentHashMap[Long, PlanRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo.completionTime.getOrElse(0L).toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val sr = m.shuffleReadMetrics
      tasks.add(TaskRec(e.taskInfo.finishTime.toDouble,
        m.executorRunTime.toDouble, m.executorCpuTime / 1e6,
        m.jvmGCTime.toDouble, sr.remoteBytesRead + sr.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten, sr.fetchWaitTime.toDouble,
        m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => starts.put(s.executionId, s.time)
    case x: SparkListenerSQLExecutionEnd => ends.put(x.executionId, x.time)
    case _ => ()
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution, durationNs: Long): Unit = {
      def phase(p: String): Double =
        qe.tracker.phases.get(p).fold(0.0)(_.durationMs.toDouble)
      val rulesMs = qe.tracker.rules.iterator.collect {
        case (r, s) if r.startsWith("graft.plans.") => s.totalTimeNs / 1e6
      }.sum
      val reads =
        scala.util.Try(qe.analyzed.toString.contains(watch)).getOrElse(false)
      plans.put(qe.id, PlanRec(phase("analysis"), phase("optimization"),
        phase("planning"), rulesMs, reads, BenchListener.writtenTable(qe),
        durationNs / 1e6, System.currentTimeMillis().toDouble))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe, ns)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, 0L)
  }

  /** Every planned execution with its interval: from the SQL execution
    * events when their id matches, else the listener callback time. */
  def execs: Seq[SqlExec] = plans.asScala.toSeq.map { case (id, p) =>
    val end = Option(ends.get(id)).fold(p.seen)(_.toDouble)
    val start = Option(starts.get(id)).fold(end - p.durationMs)(_.toDouble)
    SqlExec(id, start, end, p.analysisMs, p.optimizationMs, p.planningMs,
      p.graftRulesMs, p.readsWatched, p.writesTable)
  }
}

object BenchListener {
  /** The catalog table a command writes, if it writes one. */
  def writtenTable(qe: org.apache.spark.sql.execution.QueryExecution)
      : Option[String] = {
    import org.apache.spark.sql.execution.command._
    import org.apache.spark.sql.execution.datasources._
    scala.util.Try(qe.logical match {
      case c: CreateDataSourceTableAsSelectCommand =>
        Some(c.table.identifier.table)
      case i: InsertIntoHadoopFsRelationCommand =>
        i.catalogTable.map(_.identifier.table)
      case other =>
        // saveAsTable in append mode analyzes to an insert over the
        // catalog relation; its node name carries the table
        val s = other.toString
        val m = "(?s)^(?:InsertIntoStatement|AppendData|CreateTable|" +
          "SaveIntoDataSourceCommand)[^\\n]*?`?(?:spark_catalog\\.)?" +
          "(?:default\\.)?`?(\\w+)`?"
        m.r.findFirstMatchIn(s).map(_.group(1))
    }).toOption.flatten
  }
}

/** Codegen counters are process-wide statics: read them as deltas. */
object Codegen {
  def compiles: Long = org.apache.spark.metrics.source.CodegenMetrics
    .METRIC_COMPILATION_TIME.getCount
  def compileMs: Double = org.apache.spark.sql.catalyst.expressions
    .codegen.CodeGenerator.compileTime / 1e6
}

/** Per-layer figures of one traced window [w0, w1]: spans recorded by
  * the benchmark, listener records attributed to the innermost span
  * whose interval contains them. */
final class LayerReport(tr: Tracer, l: BenchListener, w0: Double,
                        w1: Double, cores: Int) {
  private def inWindow(t: Double) = t >= w0 && t <= w1
  private val allExecs = l.execs
  val execs: Seq[SqlExec] = allExecs.filter(e => inWindow(e.end))
  val tasks: Seq[TaskRec] = l.tasks.asScala.toSeq.filter(t => inWindow(t.finish))
  private val spans = tr.spans.toSeq.filter(s => inWindow(s.start))

  /** Innermost benchmark span containing time t. */
  def spanAt(t: Double): Option[Span] =
    spans.filter(s => s.start <= t && t <= s.end)
      .sortBy(s => s.end - s.start).headOption

  def named(p: String => Boolean): Seq[Span] = spans.filter(s => p(s.name))
  def totalMs(p: String => Boolean): Double =
    named(p).map(s => s.end - s.start).sum

  /** Time covered by the union of intervals: nested or overlapping
    * executions count once. */
  def unionMs(iv: Seq[(Double, Double)]): Double =
    iv.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0.0, Double.NegativeInfinity)) { case ((sum, hi), (a, b)) =>
        if (b <= hi) (sum, hi) else (sum + b - math.max(a, hi), b)
      }._1

  /** Duration minus the union of its children: child spans and the SQL
    * executions attributed to it. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)) ++
      execs.filter(e => spanAt(e.start).exists(_.id == s.id))
        .map(e => (e.start, e.end))
    (s.end - s.start) - unionMs(kids.map { case (a, b) =>
      (math.max(a, s.start), math.min(b, s.end)) })
  }

  def counted(name: String): Double = tr.counts.iterator
    .filter(c => c._2 == name && inWindow(c._1)).map(_._3).sum

  def jobs: Int = l.jobs.asScala.count(t => inWindow(t))
  def stages: Int = l.stages.asScala.count(t => inWindow(t))
  val windowMs: Double = w1 - w0
  def busyFrac: Double = tasks.map(_.runMs).sum / (windowMs * cores)

  /** SQL executions whose start falls inside spans matching p. */
  def execsUnder(p: String => Boolean): Seq[SqlExec] =
    execs.filter(e => {
      var cur = spanAt(e.start)
      var hit = false
      while (!hit && cur.isDefined) {
        hit = p(cur.get.name)
        cur = cur.flatMap(c => spans.find(_.id == c.parent))
      }
      hit
    })

  /** Spans and attributed SQL executions as JSON lines. */
  def jsonLines(runId: String): Iterator[String] = {
    val sp = tr.spans.iterator.map(s => Json.obj(
      "run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end))
    val ex = allExecs.iterator.map(e => Json.obj(
      "run" -> runId, "sql_execution" -> e.id,
      "parent" -> spanAt(e.start).fold(-1)(_.id),
      "start_ms" -> e.start, "end_ms" -> e.end,
      "analysis_ms" -> e.analysisMs, "optimization_ms" -> e.optimizationMs,
      "planning_ms" -> e.planningMs, "graft_rules_ms" -> e.graftRulesMs,
      "writes" -> e.writesTable.getOrElse("")))
    sp ++ ex
  }
}
