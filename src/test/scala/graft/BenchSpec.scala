package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guard-the-guard: [[BenchGuard]] is pure logic, so we can feed it the
  * exact telemetry of past poisoned artifacts and assert they now classify
  * as contended. No SparkSession needed.
  */
class BenchSpec extends AnyFunSuite {

  // r6's official artifact: loadavg 20.31 on a 32-cpu box, sentinel 0.661 s
  // — the old fixed 1.0 s bound signed off on it ("contended": false).
  test("r6 poisoned telemetry classifies as contended") {
    assert(!BenchGuard.quiet(load1 = 20.31, cores = 32, sentinelSec = 0.661,
      idleSentinelSec = 0.272))
    // each signal trips independently
    assert(!BenchGuard.quiet(20.31, 32, 0.30, 0.272)) // load alone
    assert(!BenchGuard.quiet(2.0, 32, 0.661, 0.272))  // sentinel alone
  }

  test("clean-run telemetry stays quiet") {
    // committed clean run at 1a54514: sentinels 0.272 / 0.342 s, idle box
    assert(BenchGuard.quiet(1.5, 32, 0.272, 0.272))
    assert(BenchGuard.quiet(0.02, 32, 0.342, 0.28))
    // exactly at the gates is still quiet (bounds are inclusive)
    assert(BenchGuard.quiet(4.8, 32, 0.56, 0.28))
    assert(!BenchGuard.quiet(4.81, 32, 0.56, 0.28))
    assert(!BenchGuard.quiet(4.8, 32, 0.561, 0.28))
  }

  test("r8 pre-tier telemetry (load 6.3-7.3/32) now classifies as hot") {
    // the r8 sf0.1 tier started at load 6.3-7.3 against the old
    // 0.25x-cores gate (8.0) and shipped inverted timings under
    // clean:true — the 0.15x gate (4.8 on 32 cpus) refuses to start
    assert(!BenchGuard.quiet(6.3, 32, 0.30, 0.28))
    assert(!BenchGuard.quiet(7.3, 32, 0.30, 0.28))
  }

  test("unreadable loadavg (-1) falls back to sentinel-only gating") {
    assert(BenchGuard.quiet(-1.0, 32, 0.30, 0.28))
    assert(!BenchGuard.quiet(-1.0, 32, 0.70, 0.28))
  }

  test("post-tier gate ignores self-load but still catches a storm") {
    // a clean 32-thread tier ends at loadavg 11-13 by its own doing;
    // the sentinel (0.22-0.39 s, r7 clean run) proves cores are free
    assert(BenchGuard.quietPost(0.22, 0.28))
    assert(BenchGuard.quietPost(0.391, 0.28))
    // r6's external storm: sentinel 0.661 s trips regardless of loadavg
    assert(!BenchGuard.quietPost(0.661, 0.28))
  }

  test("crossTierViolations catches the r8 inverted timings") {
    // r8 artifact: q_passage_dedup 0.72 s at sf0.1 vs 0.17 s at sf10,
    // q_v4_ml_dataset 1.28 s at sf0.1 vs 0.77 s at sf1 — physically
    // backwards, yet the tier shipped clean:true
    val small = Seq("q_passage_dedup" -> 0.72, "q_v4_ml_dataset" -> 1.28)
    assert(BenchGuard.crossTierViolations(small,
      Seq("q_passage_dedup" -> 0.17, "q_v4_ml_dataset" -> 0.77))
      == Seq("q_passage_dedup", "q_v4_ml_dataset"))
  }

  test("crossTierViolations tolerates floor jitter and missing/failed rows") {
    // sub-floor times jitter freely (scheduling noise dominates)
    assert(BenchGuard.crossTierViolations(
      Seq("a" -> 0.29), Seq("a" -> 0.05)).isEmpty)
    // within the 1.5x slack is noise, not inversion
    assert(BenchGuard.crossTierViolations(
      Seq("a" -> 0.9), Seq("a" -> 0.7)).isEmpty)
    // queries absent from (or failed, -1.0, in) the big tier can't vote
    assert(BenchGuard.crossTierViolations(
      Seq("a" -> 5.0, "b" -> 5.0), Seq("b" -> -1.0)).isEmpty)
  }

  test("prior tripwire catches the r11 q_token_count blip") {
    // r11's driver-stamped artifact: q_token_count 2.389 s at sf0.1 vs
    // 0.235 s in the committed same-day run (and 0.298 s in r10) — an
    // 8x box-noise blip that shipped inside contended:false because it
    // fit between two quiet sentinels. The cross-round tripwire flags
    // it against either prior record.
    assert(BenchGuard.priorOutlier(2.389, Some(0.235)))
    assert(BenchGuard.priorOutlier(2.389, Some(0.298)))
    // the committed same-day measurement itself is NOT an outlier
    assert(!BenchGuard.priorOutlier(0.298, Some(0.235)))
    // healthy round-over-round drift (set growth, small regressions)
    // stays under the 3x factor
    assert(!BenchGuard.priorOutlier(0.66, Some(0.235)))
    // newborn operators have no prior record and never trip
    assert(!BenchGuard.priorOutlier(9.9, None))
    // sub-floor times jitter freely (r11's sf0.1 tier is full of
    // 0.1-0.3 s rows whose ratios are scheduling noise)
    assert(!BenchGuard.priorOutlier(0.29, Some(0.05)))
    // a failed query (-1) is handled by the failed list, not this
    assert(!BenchGuard.priorOutlier(-1.0, Some(0.235)))
  }

  test("prior timings parse committed artifacts per tier, min-merged") {
    // BENCH_r11.json is the committed driver-stamped artifact whose
    // sf0.1 block carries the blip itself; parsing it must yield the
    // per-tier per-query maps the tripwire compares against
    val r11 = Bench.artifactTierTimings("BENCH_r11.json")
    if (r11.nonEmpty) { // absent in fresh checkouts; spec is then vacuous
      assert(r11.contains("sf01") && r11("sf01").contains("q_token_count"))
      // extras are merged in (they are timed rows too)
      assert(r11("sf01").contains("q_lsh_ingest_dedup"))
      val merged = Bench.priorTimings(Seq("BENCH_r11.json", "BENCH_LAST.json"))
      // min-of-artifacts: the reference can only get tighter
      assert(merged("sf01")("q_token_count") <=
        r11("sf01")("q_token_count"))
    }
    // unreadable paths parse to empty, never throw
    assert(Bench.artifactTierTimings("/nonexistent.json").isEmpty)
  }

  test("tripwire priors include the COMMITTED artifact, surviving a rerun") {
    // the r12 masking case: run 1 flags a 4.8x outlier, its artifact
    // overwrites BENCH_LAST.json on disk, and a same-session rerun
    // must still compare against the committed prior — not the
    // outlier it just wrote
    val committed = Bench.committedTierTimings()
    if (committed.nonEmpty) { // fresh checkouts without git history skip
      assert(committed.contains("sf01"))
      val merged = Bench.priorTimings(Seq("BENCH_LAST.json"),
        extra = Seq(committed))
      committed("sf01").foreach { case (q, t) =>
        assert(merged("sf01").get(q).exists(_ <= t),
          s"$q: merged prior must be <= committed $t")
      }
    }
    // malformed json parses to empty, never throws
    assert(Bench.tierTimingsFromJson("not json at all").isEmpty)
  }

  test("compact stdout line fits the driver's 2000-char tail window") {
    // r7-r9's full multi-tier line outgrew the driver's tail and the
    // round artifact shipped `"parsed": null`. The compact line is
    // rebuilt here from the LIVE headliner list with worst-case-width
    // values, so growing the headliner set past the window fails CI,
    // not the round artifact.
    val headline = Bench.headliners.map(_ -> 99.999)
    val tiers = """"sf1":{"total":99999.99,"clean":false},"sf10":{"total":99999.99,"clean":false},"sf30":{"total":99999.99,"clean":false},"xtier_dirty":99"""
    val line = Bench.compactLine(9999.999, headline,
      failedJson = """["q_a_long_failed_query_name"]""",
      sfDir = "/root/testdata/sf0.1", contended = true,
      stale = Seq("sf30"), tiers = tiers)
    assert(line.length <= 1900, s"compact bench line ${line.length} chars")
    assert(line.contains("\"metric\":\"total\"") && line.contains("\"queries\":{"))
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
