package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench]]'s pure parts: the per-gate summary, its two verdicts, the
  * reference read and the compact stdout line. No SparkSession needed.
  */
class BenchSpec extends AnyFunSuite {

  private def summary(median: Double, q1: Double, q3: Double, steal: Double = 0.0) =
    Bench.Summary(median, q1, q3, median, steal)

  test("median and quartiles interpolate linearly at odd and even N") {
    val odd = Bench.summarize(Seq(5.0, 1.0, 4.0, 2.0, 3.0).map(Bench.Sample(_, 0.0)))
    assert((odd.q1, odd.median, odd.q3) === ((2.0, 3.0, 4.0)))
    val even = Bench.summarize(Seq(4.0, 1.0, 3.0, 2.0).map(Bench.Sample(_, 0.0)))
    assert((even.q1, even.median, even.q3) === ((1.75, 2.5, 3.25)))
    val one = Bench.summarize(Seq(Bench.Sample(7.0, 0.0)))
    assert((one.q1, one.median, one.q3) === ((7.0, 7.0, 7.0)))
  }

  test("runs are steal-corrected; a gate is dirty only above the steal bound") {
    // a run that lost a fifth of its CPU to other guests counts 4 of 5 s
    assert(Bench.Sample(5.0, 0.2).corrected === 4.0)
    val quiet = Bench.summarize(Seq(Bench.Sample(1.0, 0.0), Bench.Sample(3.0, 0.02)))
    assert(quiet.wallMedian === 2.0 && math.abs(quiet.median - (1.0 + 2.94) / 2) < 1e-12)
    // the gate's share is the wall-weighted share of its runs
    assert(math.abs(quiet.steal - 0.06 / 4) < 1e-12)
    assert(!quiet.dirty)
    val hot = Bench.summarize(Seq(Bench.Sample(1.0, Bench.StealBound * 3),
      Bench.Sample(1.0, 0.0)))
    assert(hot.steal > Bench.StealBound && hot.dirty)
    assert(!summary(1, 1, 1, steal = Bench.StealBound).dirty) // bound is inclusive
  }

  test("regression bound: 10 % floor, or the reference IQR when wider") {
    // tight reference (IQR 2 % of the median): the 10 % floor rules
    val tight = summary(1.0, 0.99, 1.01)
    assert(!Bench.regressed(summary(1.09, 1.0, 1.2), tight))
    assert(Bench.regressed(summary(1.11, 1.1, 1.2), tight))
    // wide reference (IQR 30 % of the median): only its spread counts
    val wide = summary(1.0, 0.8, 1.1)
    assert(!Bench.regressed(summary(1.29, 1.2, 1.4), wide))
    assert(Bench.regressed(summary(1.31, 1.3, 1.4), wide))
    // faster is never a regression; a zero reference gives no verdict
    assert(!Bench.regressed(summary(0.5, 0.4, 0.6), tight))
    assert(!Bench.regressed(summary(9.0, 9.0, 9.0), summary(0.0, 0.0, 0.0)))
  }

  test("an absent or malformed BENCH_REF.json gives no verdicts and does not throw") {
    assert(Bench.readReference("/nonexistent/BENCH_REF.json").isEmpty)
    assert(Bench.reference("not json at all").isEmpty)
    assert(Bench.reference("""{"sf01":{"gates":{"q_a":{"median":"x"}}}}""").isEmpty)
    assert(Bench.reference("""{"sf01":{"total":1.0}}""").isEmpty)
    val ref = Bench.reference(
      """{"sf":"x","sf01":{"gates":{"q_a":{"median":0.5,"q1":0.4,"q3":0.6,"wall_median":0.52,"steal":0.01}}},"sf1":{"gates":{}}}""")
    assert(ref === Map("sf01" -> Map("q_a" -> Bench.Summary(0.5, 0.4, 0.6, 0.52, 0.01)),
      "sf1" -> Map.empty))
  }

  test("compact stdout line fits the driver's 2000-char tail window") {
    // The compact line is built here from the LIVE headliner list with
    // worst-case-width values, so growing the headliner set past the
    // window fails CI, not the bench artifact.
    val headline = Bench.headliners.map(_ -> 99.999)
    val tiers = Seq("sf01", "sf1").map(t =>
      s""""$t":{"total":99999.99,"clean":false,"dirty":999,"regressed":999,"ratio":999.99}""")
      .mkString(",")
    val line = Bench.compactLine(9999.999, headline,
      failedJson = """["q_a_long_failed_query_name"]""",
      sfDir = "/data/testdata/sf0.1", contended = true, stale = Seq("sf1"), tiers = tiers)
    assert(line.length <= 1900, s"compact bench line ${line.length} chars")
    assert(line.contains("\"metric\":\"total\"") && line.contains("\"queries\":{"))
    assert(line.contains(s""","tiers":{$tiers}"""), "tier brief dropped")
  }

  test("warm-up tier is the sf0.001 directory beside any data root") {
    val root = java.nio.file.Files.createTempDirectory("graft_warm").toFile
    try {
      val a = new java.io.File(root, "a"); val b = new java.io.File(root, "b")
      Seq("sf0.1", "sf0.001").foreach(t => new java.io.File(a, t).mkdirs())
      new java.io.File(b, "sf0.1").mkdirs()
      assert(Bench.warmupDir(s"$a/sf0.1") ===
        Some(new java.io.File(a, "sf0.001").getAbsolutePath))
      assert(Bench.warmupDir(s"$a/sf0.001").isEmpty) // never warms on itself
      assert(Bench.warmupDir(s"$b/sf0.1").isEmpty)   // no tier beside it
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(): Unit
      }
      rm(root)
    }
  }

  test("tools/baseline.py times exactly the registry's headliners") {
    // the DuckDB baseline keeps its own copy of the list (it runs
    // outside the JVM); a gate whose bench role changes must change it
    // too, or the comparable totals silently cover different sets
    val src = scala.io.Source.fromFile("tools/baseline.py", "UTF-8")
    val text = try src.mkString finally src.close()
    val block = "(?s)HEADLINERS = \\[(.*?)\\]".r.findFirstMatchIn(text)
      .map(_.group(1)).getOrElse(fail("no HEADLINERS list in tools/baseline.py"))
    val names = "\"(q\\w+)\"".r.findAllMatchIn(block.replaceAll("#[^\n]*", ""))
      .map(_.group(1)).toSeq
    assert(names.sorted === Bench.headliners.sorted)
  }
}
