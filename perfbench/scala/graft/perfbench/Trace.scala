package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** One timed interval at a layer boundary. `op` groups the spans of one
  * workload operation (a query, a pass, a replay); `parent` is the span
  * that was open when this one started (-1 at the top). Times are epoch ms. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Double, end: Double)

/** In-memory span recorder plus a SparkListener that attributes every job,
  * stage and task to the span open on the driver when the job was
  * submitted. Nothing is written until the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var currentOp = -1

  /** Open a span around `body`; a span opened with no span open starts a
    * new operation. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    if (parent < 0) currentOp = id
    val op = currentOp
    val start = nowMs
    stack = id :: stack
    sc.setLocalProperty(Tracer.SpanKey, s"$id:$op")
    try body
    finally {
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(s => s"$s:$op").orNull)
      synchronized { spans += Span(id, name, parent, op, start, nowMs) }
    }
  }

  import Tracer.{JobRec, StageRec}
  private val stages = mutable.Map.empty[Int, StageRec]
  private val jobs = mutable.Map.empty[Int, JobRec]

  private def owner(props: java.util.Properties): (Int, Int) =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanKey))) match {
      case Some(v) => val Array(s, o) = v.split(":"); (s.toInt, o.toInt)
      case None => (-1, -1)
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val (s, o) = owner(e.properties)
    jobs(e.jobId) = JobRec(e.jobId, s, o, e.time.toDouble, Double.NaN)
    e.stageIds.foreach(id => stages.getOrElseUpdate(id, new StageRec(s, o)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stages.get(info.stageId).foreach { r =>
      info.submissionTime.foreach(t => r.submitted = t.toDouble)
      info.completionTime.foreach(t => r.completed = t.toDouble)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { r =>
      r.tasks += 1
      r.taskMs += (e.taskInfo.finishTime - e.taskInfo.launchTime).toDouble
      val m = e.taskMetrics
      if (m != null) {
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shRead += m.shuffleReadMetrics.totalBytesRead
        r.shWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.output += m.outputMetrics.bytesWritten
        r.peakMem = math.max(r.peakMem, m.peakExecutionMemory.toDouble)
      }
    }
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def allSpans: Seq[Span] = synchronized(spans.toList)
  def opIds: Seq[Int] = allSpans.filter(_.parent < 0).map(_.id)

  /** Jobs submitted while a span named `name` (or one of its children) was
    * open. */
  def jobsUnder(name: String): Int = synchronized {
    val ids = spans.filter(_.name == name).map(_.id).toSet
    def under(s: Int): Boolean = s >= 0 && (ids(s) ||
      spans.find(_.id == s).exists(sp => under(sp.parent)))
    jobs.values.count(j => under(j.span))
  }

  /** Execution-layer totals per operation, over every traced operation. */
  def execLayer(): Map[String, Double] = synchronized {
    val ops = spans.filter(_.parent < 0)
    val n = math.max(ops.size, 1).toDouble
    val st = stages.values.filter(_.op >= 0).toSeq
    val mb = 1024.0 * 1024.0
    def tot(f: StageRec => Double) = st.map(f).sum
    val skew = st.filter(r => r.taskMs.size >= 2 && r.taskMs.max >= 20).map { r =>
      val sorted = r.taskMs.sorted
      sorted.last / math.max(sorted(sorted.size / 2), 1.0)
    }
    // driver gap: op wall time during which none of its stages ran
    val gaps = ops.map { op =>
      val iv = st.filter(_.op == op.id).collect {
        case r if !r.submitted.isNaN && !r.completed.isNaN =>
          (math.max(r.submitted, op.start), math.min(r.completed, op.end))
      }.filter(i => i._2 > i._1).sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      iv.foreach { case (s, e) =>
        if (curE.isNaN || s > curE) {
          if (!curE.isNaN) covered += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
      if (!curE.isNaN) covered += curE - curS
      (op.end - op.start - covered) / 1000.0
    }
    Map(
      "exec.jobs" -> jobs.values.count(_.op >= 0) / n,
      "exec.stages" -> st.count(_.tasks > 0) / n,
      "exec.tasks" -> tot(_.tasks) / n,
      "exec.task_run_s" -> tot(_.runMs) / 1000.0 / n,
      "exec.task_cpu_s" -> tot(_.cpuNs) / 1e9 / n,
      "exec.gc_s" -> tot(_.gcMs) / 1000.0 / n,
      "exec.shuffle_read_mb" -> tot(_.shRead) / mb / n,
      "exec.shuffle_write_mb" -> tot(_.shWrite) / mb / n,
      "exec.spill_mb" -> tot(_.spill) / mb / n,
      "exec.output_mb" -> tot(_.output) / mb / n,
      "exec.peak_exec_mem_mb" -> (if (st.isEmpty) 0.0 else st.map(_.peakMem).max / mb),
      "exec.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "exec.driver_gap_s" -> gaps.sum / n)
  }

  /** Every span, then every Spark job as a span under the span that
    * submitted it. */
  def spanRecords: Seq[Map[String, Any]] = {
    val own = allSpans.sortBy(_.id).map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start" -> s.start, "end" -> s.end)
    }
    own ++ synchronized(jobs.values.toList.sortBy(_.id)).map { j =>
      Map("id" -> s"job${j.id}", "name" -> "spark.job", "parent" -> j.span,
        "op" -> j.op, "start" -> j.start, "end" -> j.end)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final class StageRec(val span: Int, val op: Int) {
    var submitted = Double.NaN
    var completed = Double.NaN
    var tasks = 0
    val taskMs = mutable.ArrayBuffer.empty[Double]
    var runMs, cpuNs, gcMs, shRead, shWrite, spill, output, peakMem = 0.0
  }
  final case class JobRec(id: Int, span: Int, op: Int, start: Double, var end: Double)
}

/** Plan-level readings of an executed DataFrame: Catalyst phase times from
  * its QueryPlanningTracker and operator counts from the final AQE plan. */
object Plans extends AdaptiveSparkPlanHelper {
  def phasesS(df: DataFrame): Map[String, Double] = {
    val ph = df.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning").map { p =>
      p -> ph.get(p).map(_.durationMs / 1000.0).getOrElse(0.0)
    }.toMap
  }

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  def exchanges(df: DataFrame): Int = collect(plan(df)) { case e: Exchange => e }.size

  def joinOutputRows(df: DataFrame): Long =
    collect(plan(df)) { case j: BaseJoinExec =>
      j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}
