package graft

/** [[Probe]] on the sf0.001 fixture: the per-gate measurement the dev
  * main prints, and its report for a name that is not a gate.
  */
class ProbeSpec extends SparkSpec {

  test("Probe.measure: q_quality_score has positive times and one exchange") {
    val r = Probe.measure(spark, sf(), "q_quality_score").fold(fail(_), identity)
    val s = r.summary
    assert(s.q1 > 0 && s.q1 <= s.median && s.median <= s.q3 && s.wallMedian > 0, r.line)
    // the parquet schema is read on the driver: building the plan starts no job
    assert(r.buildJobs === 0, r.line)
    // the small-regime round-robin spread PlanSpec pins for this gate
    assert(r.exchanges === 1, r.plan)
    assert(!r.bnlj, r.plan)
    assert(r.plan.contains("isFinalPlan=true"), r.plan)
    assert(r.line.startsWith("PROBE q_quality_score median="), r.line)
    assert(r.line.endsWith("exchanges=1 bnlj=false"), r.line)
    assert(r.line.contains(" build_jobs=0 exchanges="), r.line)
  }

  test("Probe.measure reports an unknown gate instead of throwing") {
    assert(Probe.measure(spark, sf(), "q_no_such_gate") ===
      Left("PROBE q_no_such_gate UNKNOWN"))
  }
}
