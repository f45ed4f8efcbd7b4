package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
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

  /** One gate: the seconds of each timed run, the ShuffleExchangeExec
    * count and BroadcastNestedLoopJoin presence in the final AQE plan,
    * and that plan's text.
    */
  case class Result(name: String, secs: Seq[Double], exchanges: Int,
                    bnlj: Boolean, plan: String) {
    def line: String = {
      val s = secs.sorted
      f"PROBE $name min=${s.head}%.3f median=${s(s.size / 2)}%.3f " +
        s"exchanges=$exchanges bnlj=$bnlj"
    }
  }

  private val aqe = new AdaptiveSparkPlanHelper {}

  /** A JIT warm-up pass on the sf0.001 tier beside `dir` (if there is
    * one), then three timed runs on `dir`. Left reports an unknown or
    * failing gate.
    */
  def measure(spark: SparkSession, dir: String, name: String): Either[String, Result] =
    SparkEntry.queries.get(name).toRight(s"PROBE $name UNKNOWN").flatMap { fn =>
      // FULL materialization, as in Bench: count() would let Catalyst
      // prune the computed columns the baseline engine pays for
      def exec(df: DataFrame): DataFrame = { df.queryExecution.toRdd.foreach(_ => ()); df }
      val here = new File(dir).getAbsoluteFile
      val warm = new File(here.getParentFile, "sf0.001")
      try {
        if (warm.isDirectory && warm != here) exec(fn(spark, warm.getPath))
        val runs = (1 to 3).map { _ =>
          spark.sharedState.cacheManager.clearCache()
          // free the prior run's shuffle blocks and broadcasts outside
          // the timed window (Bench.timeGuarded)
          System.gc(); Thread.sleep(300)
          val t0 = System.nanoTime()
          val df = exec(fn(spark, dir))
          ((System.nanoTime() - t0) / 1e9, df.queryExecution.executedPlan)
        }
        val plan = runs.last._2
        Right(Result(name, runs.map(_._1),
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.tail.foreach { name =>
      measure(spark, args.head, name).fold(println, r => println(s"${r.line}\n${r.plan}"))
    }
    spark.stop()
  }
}
