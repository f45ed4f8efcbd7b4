package graft

/** The host's CPU accounting, read from /proc/stat: how much of the
  * time this machine's CPUs wanted to run the hypervisor gave to other
  * guests. [[Bench]] corrects each timed run by it and marks a gate
  * dirty when it is high.
  *
  * `perfbench.Env` keeps its own copy of these two functions, because
  * `perfbench/` (the benchmark BENCHMARK.json runs) changes only with
  * the benchmark. The next change to the benchmark should delete that
  * copy and call this object.
  */
object Host {

  /** The aggregate `cpu` line of /proc/stat (user nice system idle
    * iowait irq softirq steal), in clock ticks.
    */
  def procStat(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
    finally src.close()
  }

  /** Share of the time this machine's CPUs wanted to run that was
    * stolen by other guests between two [[procStat]] readings:
    * stolen / (busy + stolen). An idle CPU is not stolen from, so idle
    * time is left out. A thread on the critical path loses about this
    * share of the interval, so `wall * (1 - share)` is the time the
    * run had the CPU.
    */
  def stolenShare(a: Array[Long], b: Array[Long]): Double = {
    val d = b.zip(a).map { case (x, y) => (x - y).toDouble }
    val busy = d(0) + d(1) + d(2) + d(5) + d(6)
    if (busy + d(7) <= 0) 0.0 else d(7) / (busy + d(7))
  }
}
