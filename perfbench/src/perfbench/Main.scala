package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The measured process: one workload, one seed, closed loop with one
  * driver thread at `local[cores]`.
  *
  *   set-up   session build + input load + one untimed warm-up
  *            repetition, done `setups` times (the first counted from
  *            JVM start); `setup_s` is their median
  *   measure  repetitions back to back until `seconds` have passed
  *            (at least `minReps`); throughput is records completed
  *            per second over all of them
  *
  * Set-up and repetition times (so `setup_s`, `records_per_s` and
  * `trace.overhead_share`) are the time the run had the CPU: wall time
  * less the share the hypervisor gave to other guests meanwhile
  * ([[Env.stolenShare]]). Their wall times are in the report; span and
  * listener times are wall times.
  *   check    every repetition's outputs, then the written outputs
  *
  * With `trace`, repetitions alternate untraced/traced, the traced
  * ones feed the per-layer metrics, and the spans, stage totals and
  * per-operator SQL metrics are written to `out` as JSON.
  *
  * The last stdout line is the result object.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: File, work: File, out: File, scratch: File, cores: Int)

  /** Set-ups per run: the cold one from JVM start plus a session restart. */
  val setups = 2
  /** Timed repetitions per run (per side, when traced), at least. */
  val minReps = 3

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      new File(m("data")), new File(m("work")), new File(m("out")), new File(m("scratch")),
      m("cores").toInt)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** The confs the benchmark sets over GraftSession's own; every result
    * stamps them. They keep every file a run writes inside its checkout:
    * GraftSession would put shuffle and spill on /dev/shm. At these
    * input sizes a repetition shuffles at most about 11 MB, which stays
    * in the page cache.
    */
  def sessionConf(a: Args): Map[String, String] = Map(
    "spark.local.dir" -> new File(a.scratch, "spark-local").getAbsolutePath,
    "spark.sql.warehouse.dir" -> new File(a.scratch, "warehouse").getAbsolutePath)

  def buildSession(a: Args): SparkSession =
    sessionConf(a).foldLeft(graft.GraftSession.builder(s"local[${a.cores}]", a.cores)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    sys.addShutdownHook(Env.cleanupScratch())
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val stat0 = Env.procStat()
    // wall seconds since `st` scaled to the time the run had the CPU
    def had(wallS: Double, st: Array[Long]): Double =
      wallS * (1.0 - Env.stolenShare(st, Env.procStat()))
    val tracer = new Tracer(s"${a.workload}-${a.seed}-${System.currentTimeMillis()}")
    val wl = Workload(a.workload, a.data, a.work)
    val violations = ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    var spark: SparkSession = null
    val setupS = ArrayBuffer.empty[Double]
    val setupWallS = ArrayBuffer.empty[Double]
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val report = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    try {
      // ---- set-up ----------------------------------------------------
      val buildS = ArrayBuffer.empty[Double]
      val loadS = ArrayBuffer.empty[Double]
      val warmS = ArrayBuffer.empty[Double]
      report += "main_entry_s" -> (System.currentTimeMillis() - jvmStartMs) / 1e3
      report += "session_build_s" -> buildS
      report += "load_s" -> loadS
      report += "warmup_s" -> warmS
      (1 to setups).foreach { i =>
        val t0 = System.nanoTime()
        val st0 = if (i == 1) stat0 else Env.procStat()
        if (spark != null) {
          spark.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
        }
        val tb = System.nanoTime()
        spark = buildSession(a)
        buildS += (System.nanoTime() - tb) / 1e9
        val tl = System.nanoTime()
        wl.load(spark)
        loadS += (System.nanoTime() - tl) / 1e9
        val tw = System.nanoTime()
        attempted += wl.stepSpans.size
        val w = wl.rep(spark, tracer)
        warmS += (System.nanoTime() - tw) / 1e9
        if (w.violations.nonEmpty) {
          failed += math.min(wl.stepSpans.size, w.violations.size)
          violations ++= w.violations.map("warm-up: " + _)
        }
        setupWallS += (if (i == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3
                       else (System.nanoTime() - t0) / 1e9)
        setupS += had(setupWallS.last, st0)
      }

      // ---- measure ---------------------------------------------------
      val collector = new Collector
      val repS = ArrayBuffer.empty[Double]
      val tracedS = ArrayBuffer.empty[Double]
      val repWallS = ArrayBuffer.empty[Double]
      val layerReps = ArrayBuffer.empty[Map[String, Double]]
      var last: RepOut = null
      val cpu0 = Env.procStat()
      val threads0 = Env.threadCpuS()
      val start = System.nanoTime()
      var i = 0
      def elapsed = (System.nanoTime() - start) / 1e9
      // traced runs go untraced, traced, traced, untraced (ABBA) so the
      // JIT's warm-up trend cancels out of trace.overhead_share
      def more = elapsed < a.seconds || repS.size < minReps ||
        (a.trace && (tracedS.size < minReps || i % 4 != 0))
      while (more) {
        val traced = a.trace && (i % 4 == 1 || i % 4 == 2)
        if (traced) { collector.reset(); collector.attach(spark); tracer.enabled = true }
        val th0 = if (traced) Env.threadCpuS() else Map.empty[(String, String), Double]
        val st0 = Env.procStat()
        val t0 = System.nanoTime()
        attempted += wl.stepSpans.size
        val out = tracer.span("rep")(wl.rep(spark, tracer))
        val wall = (System.nanoTime() - t0) / 1e9
        val dt = had(wall, st0)
        repWallS += wall
        if (out.violations.nonEmpty) {
          failed += math.min(wl.stepSpans.size, out.violations.size)
          violations ++= out.violations.map(v => s"rep $i: $v")
        }
        if (traced) {
          tracer.enabled = false
          collector.detach(spark)
          tracedS += dt
          val repSpan = tracer.spans.filter(_.name == "rep").last
          val mine = tracer.spans.filter(_.startNs >= repSpan.startNs)
          val steps = wl.stepSpans.map(n =>
            n + "_s" -> mine.filter(_.name == n).map(_.seconds).sum).toMap
          val th = Env.threadCpuDelta(th0, Env.threadCpuS())
          layerReps += Layers.of(collector, repSpan,
            mine.filter(_.name.startsWith("plan:")).toSeq, a.cores) ++ steps ++ out.counts +
            ("jvm.jit_cpu_s" -> th.getOrElse("jit", 0.0)) +
            ("jvm.gc_cpu_s" -> th.getOrElse("gc", 0.0))
        } else repS += dt
        last = out
        i += 1
      }

      // the last repetition's figures, quality ones included (ab.py
      // guards ann.recall_at_10 from here)
      report += "rep_counts" -> last.counts
      report += "host_during_measure" -> Env.hostShares(cpu0, Env.procStat())
      report += "thread_cpu_during_measure_s" -> Env.threadCpuDelta(threads0, Env.threadCpuS())

      // ---- check written outputs --------------------------------------
      val fin = wl.finalCheck(spark)
      fin.foreach { f =>
        attempted += 1
        if (f.violations.nonEmpty) { failed += 1; violations ++= f.violations }
      }
      val recall = fin.map(_.recall).getOrElse(last.recall)

      if (!a.trace) {
        metrics ++= Seq(
          "setup_s" -> (median(setupS.toSeq), "s"),
          // closed loop: work completed per second over the whole window
          "records_per_s" -> (wl.records * repS.size / repS.sum, "1/s"),
          "peak_rss_mb" -> (peakRssMb(), "MB"),
          "dedup_recall" -> (recall, "share"))
      } else {
        // the per-step breakdown runs traced, after the overhead pairs
        collector.reset(); collector.attach(spark); tracer.enabled = true
        val bdCounts = tracer.span("breakdown")(wl.breakdown(spark, tracer, collector))
        tracer.enabled = false
        collector.detach(spark)
        val bdSpan = tracer.spans.filter(_.name == "breakdown").last
        val bd = bdCounts ++ tracer.spans.filter(_.parent == bdSpan.id)
          .map(s => s.name + "_s" -> s.seconds)
        val keys = layerReps.flatMap(_.keys).distinct
        val layer = keys.map(k => k -> median(layerReps.flatMap(_.get(k)).toSeq)).toMap ++ bd ++
          Map("session.build_s" -> median(buildS.toSeq),
            "session.warmup_s" -> median(warmS.toSeq),
            "trace.overhead_share" -> (median(tracedS.toSeq) / median(repS.toSeq) - 1.0))
        val q = layer.getOrElse("ann.queries", 0.0)
        val withDerived = layer + ("ann.candidates_per_query" ->
          (if (q > 0) layer.getOrElse("ann.candidates_scanned", 0.0) / q else 0.0))
        (PerLayer.names ++ wl.extraLayers).foreach { case (n, unit) =>
          metrics += n -> (withDerived.getOrElse(n, 0.0), unit)
        }
        report += "spans" -> tracer.spans.toSeq
        report += "self_s" -> tracer.spans.map(s => s.id -> tracer.selfSeconds(s)).toMap
        report += "layer_reps" -> layerReps.toSeq
        collector.reset()
        report += "stages" -> Layers.stageTotals(collector.allTasks.toSeq)
        report += "sql_ops" -> collector.allQes.toSeq
      }
      report += "setups_s" -> setupS.toSeq
      report += "setups_wall_s" -> setupWallS.toSeq
      report += "rep_s" -> repS.toSeq
      report += "traced_rep_s" -> tracedS.toSeq
      report += "rep_wall_s" -> repWallS.toSeq
    } catch {
      case NonFatal(e) =>
        failed += 1
        violations += s"error: $e"
        e.printStackTrace()
    } finally {
      if (spark != null) spark.stop()
    }
    val correct = violations.isEmpty && failed == 0
    violations.foreach(v => System.err.println(s"[perfbench] check failed: $v"))
    val env = Env.stamp(a)
    val result = Json.obj(Seq(
      "correct" -> correct, "attempted" -> math.max(1L, attempted), "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) }))))
    a.out.getParentFile.mkdirs()
    val pw = new PrintWriter(a.out)
    pw.write(Json.obj(Seq("env" -> env, "violations" -> violations.toSeq,
      "result" -> Json.Raw(result)) ++ report.toSeq))
    pw.close()
    println(Json.obj(Seq("env" -> env)))
    println(result)
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
