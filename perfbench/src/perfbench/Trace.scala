package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. Spans of one run
  * share `run`; `parent` is the enclosing span's id (-1 at the top).
  */
final case class Span(id: Int, run: String, name: String, parent: Int,
                      startMs: Long, startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** Spans kept in memory; written out once, at the end of the run.
  * Disabled, `span` only runs its body, so untraced repetitions pay
  * nothing but a branch.
  */
final class Tracer(val run: String) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var enabled = false

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, run, name, stack.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Span duration minus the part of it its direct children cover. */
  def selfSeconds(s: Span): Double =
    (s.endNs - s.startNs -
      Layers.union(spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).toSeq)) / 1e9
}

final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long,
                         cpuNs: Long, gcMs: Long, delayMs: Long, peakMem: Long,
                         spill: Long, shWBytes: Long, shWRecs: Long, shRBytes: Long,
                         inBytes: Long, inRecs: Long)

final case class QeRec(func: String, atMs: Long, analysisMs: Long, optimizationMs: Long,
                       planningMs: Long, exchanges: Int, scanFiles: Long,
                       writeBytes: Long, writeRows: Long, writeFiles: Long,
                       ops: Seq[(String, Map[String, Long])], candidateRows: Long)

/** Listener totals per job, stage and task, and per-operator SQL
  * metrics of every executed plan. Attached only for traced
  * repetitions; read after `ListenerBusAccess.drain`.
  */
final class Collector extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val jobs = ArrayBuffer.empty[(Int, Long)]          // (jobId, start ms)
  val stages = ArrayBuffer.empty[Int]                // completed stage ids
  val tasks = ArrayBuffer.empty[TaskRec]
  val qes = ArrayBuffer.empty[QeRec]

  // every record of earlier repetitions, for the trace file
  val allTasks = ArrayBuffer.empty[TaskRec]
  val allQes = ArrayBuffer.empty[QeRec]

  def reset(): Unit = synchronized {
    allTasks ++= tasks; allQes ++= qes
    jobs.clear(); stages.clear(); tasks.clear(); qes.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += ((e.jobId, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val ti = e.taskInfo
    if (m == null || ti == null) return
    val delay = math.max(0L, ti.duration - m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - (if (ti.gettingResult) ti.finishTime - ti.gettingResultTime else 0L))
    val rec = TaskRec(e.stageId, ti.launchTime, ti.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, delay, m.peakExecutionMemory,
      m.diskBytesSpilled, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleWriteMetrics.recordsWritten, m.shuffleReadMetrics.totalBytesRead,
      m.inputMetrics.bytesRead,
      m.inputMetrics.recordsRead)
    synchronized { tasks += rec }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def phase(n: String): Long = phases.get(n).map(_.durationMs).getOrElse(0L)
    val plan = qe.executedPlan
    var exchanges = 0
    var scanFiles = 0L
    var wBytes, wRows, wFiles = 0L
    var candidates = 0L
    val ops = ArrayBuffer.empty[(String, Map[String, Long])]
    def visit(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeExec => exchanges += 1
        case s: FileSourceScanExec =>
          scanFiles += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case w: DataWritingCommandExec =>
          val m = w.cmd.metrics
          wBytes += m.get("numOutputBytes").map(_.value).getOrElse(0L)
          wRows += m.get("numOutputRows").map(_.value).getOrElse(0L)
          wFiles += m.get("numFiles").map(_.value).getOrElse(0L)
        case j: BroadcastHashJoinExec
            if Set("q_emb", "emb").subsetOf(j.output.map(_.name).toSet) =>
          // Ivf.scoreAndRank: probed cells joined to the indexed corpus;
          // its output rows are the candidates scored
          candidates += j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case _ =>
      }
      if (p.metrics.nonEmpty)
        ops += ((p.nodeName, p.metrics.map { case (k, v) => k -> v.value }))
    }
    foreach(plan)(visit)
    plan.subqueriesAll.foreach(sq => foreach(sq)(visit))
    val rec = QeRec(funcName, System.currentTimeMillis(), phase("analysis"),
      phase("optimization"), phase("planning"), exchanges, scanFiles, wBytes, wRows,
      wFiles, ops.toSeq, candidates)
    synchronized { qes += rec }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Per-repetition layer metrics from one drained [[Collector]] and the
  * repetition's spans.
  */
object Layers {
  /** Length of the union of the intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { covered += math.max(0L, curE - curS); curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered + math.max(0L, curE - curS)
  }

  def of(c: Collector, rep: Span, planSpans: Seq[Span], cores: Int): Map[String, Double] =
    c.synchronized {
      val wallMs = math.max(1.0, (rep.endNs - rep.startNs) / 1e6)
      val t = c.tasks
      val runIv = t.map(x => (x.finishMs - x.runMs, x.finishMs)).toSeq
      val inPlan = (ms: Long) => planSpans.exists(s => ms >= s.startMs && ms <= s.endMs)
      Map(
        "session.plan_build_s" -> planSpans.map(_.seconds).sum,
        "session.eager_jobs" -> c.jobs.count(j => inPlan(j._2)).toDouble,
        "session.analyze_s" -> c.qes.map(_.analysisMs).sum / 1e3,
        "session.optimize_s" -> c.qes.map(_.optimizationMs).sum / 1e3,
        "session.physical_plan_s" -> c.qes.map(_.planningMs).sum / 1e3,
        "scheduler.jobs" -> c.jobs.size.toDouble,
        "scheduler.stages" -> c.stages.size.toDouble,
        "scheduler.tasks" -> t.size.toDouble,
        "scheduler.delay_s" -> t.map(_.delayMs).sum / 1e3,
        "scheduler.floor_share" -> math.max(0.0, 1.0 - union(runIv) / wallMs),
        "scheduler.core_busy_share" -> t.map(_.runMs).sum / (wallMs * cores),
        "exec.run_s" -> t.map(_.runMs).sum / 1e3,
        "exec.cpu_s" -> t.map(_.cpuNs).sum / 1e9,
        "exec.peak_task_mem_mb" -> (if (t.isEmpty) 0.0 else t.map(_.peakMem).max / 1048576.0),
        "exec.spill_bytes" -> t.map(_.spill).sum.toDouble,
        "shuffle.exchanges" -> c.qes.map(_.exchanges).sum.toDouble,
        "shuffle.write_bytes" -> t.map(_.shWBytes).sum.toDouble,
        "shuffle.write_records" -> t.map(_.shWRecs).sum.toDouble,
        "shuffle.read_bytes" -> t.map(_.shRBytes).sum.toDouble,
        "sources.scan_bytes" -> t.map(_.inBytes).sum.toDouble,
        "sources.scan_rows" -> t.map(_.inRecs).sum.toDouble,
        "sources.scan_files" -> c.qes.map(_.scanFiles).sum.toDouble,
        "sources.write_bytes" -> c.qes.map(_.writeBytes).sum.toDouble,
        "sources.write_rows" -> c.qes.map(_.writeRows).sum.toDouble,
        "sources.write_files" -> c.qes.map(_.writeFiles).sum.toDouble,
        "ann.candidates_scanned" -> c.qes.map(_.candidateRows).sum.toDouble)
    }

  /** Listener totals per stage over every traced task. */
  def stageTotals(tasks: Seq[TaskRec]): Seq[Map[String, Any]] =
    tasks.groupBy(_.stageId).toSeq.sortBy(_._1).map { case (id, ts) =>
      Map("stage" -> id, "tasks" -> ts.size,
        "wall_s" -> (ts.map(_.finishMs).max - ts.map(_.launchMs).min) / 1e3,
        "run_s" -> ts.map(_.runMs).sum / 1e3, "cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "gc_s" -> ts.map(_.gcMs).sum / 1e3, "delay_s" -> ts.map(_.delayMs).sum / 1e3,
        "shuffle_write_bytes" -> ts.map(_.shWBytes).sum,
        "shuffle_read_bytes" -> ts.map(_.shRBytes).sum,
        "input_bytes" -> ts.map(_.inBytes).sum, "spill_bytes" -> ts.map(_.spill).sum)
    }

  /** Jobs whose start falls inside `s`. */
  def jobsIn(c: Collector, s: Span): Int =
    c.synchronized(c.jobs.count(j => j._2 >= s.startMs && j._2 <= s.endMs))
}
