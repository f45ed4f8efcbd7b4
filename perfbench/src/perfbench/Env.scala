package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** The environment stamp every result carries. A set plan-changing
  * override (`SPARK_GRAFT_CONF`, `SPARK_GRAFT_SPREAD_CHUNK`) marks the
  * result as not comparable with results measured without it.
  */
object Env {
  val overrides = Seq("SPARK_GRAFT_CONF", "SPARK_GRAFT_SPREAD_CHUNK")

  def stamp(a: Main.Args): Map[String, Any] = {
    val set = overrides.flatMap(k => sys.env.get(k).map(k -> _)).toMap
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "setups" -> Main.setups,
      "cores" -> a.cores, "master" -> s"local[${a.cores}]",
      "heap" -> jvmArgs.filter(s => s.startsWith("-Xmx") || s.startsWith("-Xms")).mkString(" "),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "session_conf" -> Main.sessionConf(a),
      "overrides" -> set, "comparable" -> set.isEmpty,
      "java" -> sys.props("java.version"), "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString)
  }

  /** The aggregate `cpu` line of /proc/stat (user nice system idle
    * iowait irq softirq steal), in clock ticks.
    */
  def procStat(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
    finally src.close()
  }

  /** Share of host CPU time that was busy, idle and stolen by other
    * guests between two [[procStat]] readings: a run measured while
    * the host was contended shows it here.
    */
  def hostShares(a: Array[Long], b: Array[Long]): Map[String, Double] = {
    val d = b.zip(a).map { case (x, y) => (x - y).toDouble }
    val total = math.max(1.0, d.sum)
    Map("busy" -> (d(0) + d(1) + d(2) + d(5) + d(6)) / total,
      "idle" -> (d(3) + d(4)) / total, "steal" -> d(7) / total)
  }

  /** Share of the time this machine's CPUs wanted to run that the
    * hypervisor gave to other guests, between two [[procStat]]
    * readings: stolen / (busy + stolen). An idle CPU is not stolen
    * from, so idle time is left out. A thread on the critical path
    * loses about this share of the interval, so `wall * (1 - share)`
    * is the time the run had the CPU.
    */
  def stolenShare(a: Array[Long], b: Array[Long]): Double = {
    val d = b.zip(a).map { case (x, y) => (x - y).toDouble }
    val busy = d(0) + d(1) + d(2) + d(5) + d(6)
    if (busy + d(7) <= 0) 0.0 else d(7) / (busy + d(7))
  }

  /** CPU seconds of each live thread of this JVM, keyed by (kind, tid),
    * kind being JIT compiler, GC, Spark task thread or other. Read from
    * schedstat, in ns: the clock ticks of `stat` are 10 ms, too coarse
    * for the GC threads' few ms per repetition.
    */
  def threadCpuS(): Map[(String, String), Double] = {
    val tasks = Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.toSeq.flatMap { t =>
      try {
        val comm = read(new File(t, "comm")).trim
        val kind =
          if (comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler")) "jit"
          else if (comm.startsWith("GC Thread") || comm.startsWith("G1 ")) "gc"
          else if (comm.startsWith("Executor task")) "tasks"
          else "other"
        Some((kind, t.getName) -> read(new File(t, "schedstat")).split(" ")(0).toLong / 1e9)
      } catch { case _: java.io.IOException => None }
    }.toMap
  }

  /** CPU seconds per thread kind between two [[threadCpuS]] readings
    * (threads that ended in between are not counted).
    */
  def threadCpuDelta(a: Map[(String, String), Double],
                     b: Map[(String, String), Double]): Map[String, Double] =
    b.toSeq.map { case (k, v) => k._1 -> (v - a.getOrElse(k, 0.0)) }
      .groupMapReduce(_._1)(_._2)(_ + _)

  private def read(f: File): String = {
    val src = scala.io.Source.fromFile(f)
    try src.mkString finally src.close()
  }

  /** GraftSession.builder creates a per-pid scratch dir under /dev/shm
    * even when spark.local.dir is set over it, and only a later
    * builder call sweeps it; drop it (and its parent, when that is
    * left empty) when the JVM exits, so a run leaves nothing outside
    * its checkout.
    */
  def cleanupScratch(): Unit = {
    val base = new File("/dev/shm/graft-spark")
    val mine = new File(base, s"pid-${ProcessHandle.current().pid()}")
    Gen.deleteTree(mine)
    if (Option(base.list()).exists(_.isEmpty)) base.delete(): Unit
  }
}
