package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

/** The dev-loop entry point: time named SparkEntry gates with Bench's
  * measurement discipline and print each one's final executed plan.
  * A dev tool: Verify and Bench are the contract's mains.
  *
  * usage: runMain graft.Probe <sfDir> <q1> [q2...]
  */
object Probe {

  /** One gate: Bench's summary of its timed runs, the Spark jobs its
    * last timed run started while building the gate's DataFrame (plan
    * time: schema inference, eager collects), the ShuffleExchangeExec
    * count and BroadcastNestedLoopJoin presence in the final AQE plan,
    * and that plan's text.
    */
  case class Result(name: String, summary: Bench.Summary, buildJobs: Int, exchanges: Int,
                    bnlj: Boolean, plan: String) {
    def line: String =
      s"PROBE $name ${summary.brief} build_jobs=$buildJobs exchanges=$exchanges bnlj=$bnlj"
  }

  /** `body`'s result and the number of Spark jobs it started on this
    * thread, counted under a fresh job group. A job reaches the status
    * tracker through its start event, posted before any of its tasks
    * run, so a job `body` waited for is counted.
    */
  private[graft] def jobsStarted[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, "graft.Probe.jobsStarted")
    val out = try body finally sc.clearJobGroup()
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  private val aqe = new AdaptiveSparkPlanHelper {}

  /** A JIT warm-up pass on the warm-up tier beside `dir`
    * ([[Bench.warmupDir]]), then Bench's [[Bench.Runs]] timed runs on
    * `dir`. Left reports an unknown or failing gate.
    */
  def measure(spark: SparkSession, dir: String, name: String): Either[String, Result] =
    SparkEntry.queries.get(name).toRight(s"PROBE $name UNKNOWN").flatMap { fn =>
      try {
        Bench.warmupDir(dir).foreach(w => Bench.exec(fn(spark, w)))
        val buildJobs = scala.collection.mutable.ArrayBuffer[Int]()
        val counted = (s: SparkSession, d: String) => {
          val (df, n) = jobsStarted(s)(fn(s, d))
          buildJobs += n
          df
        }
        val runs = (1 to Bench.Runs).map(_ => Bench.timedRun(spark, counted, dir))
        val plan = runs.last._2.queryExecution.executedPlan
        Right(Result(name, Bench.summarize(runs.map(_._1)), buildJobs.last,
          aqe.collect(plan) { case e: ShuffleExchangeExec => e }.size,
          aqe.find(plan)(_.isInstanceOf[BroadcastNestedLoopJoinExec]).isDefined,
          plan.toString))
      } catch { case e: Exception => Left(s"PROBE $name FAILED ${e.getMessage}") }
    }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.Probe <sfDir> <q1> [q2...]")
      sys.exit(2)
    }
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.tail.foreach { name =>
      measure(spark, args.head, name).fold(println, r => println(s"${r.line}\n${r.plan}"))
    }
    spark.stop()
  }
}
