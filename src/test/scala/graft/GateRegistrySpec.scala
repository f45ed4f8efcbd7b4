package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.gates.Gate

/** Pins the driver contract's gate set: the names, the DuckDB oracle
  * text and the bench membership, as SHA-256 digests. A refactor that
  * moves gates between files must leave every digest unchanged; a
  * change that adds, retires or edits a gate updates its digest here
  * on purpose. No SparkSession: only the registry is read.
  */
class GateRegistrySpec extends AnyFunSuite {

  private def sha256(parts: Seq[String]): String =
    MessageDigest.getInstance("SHA-256")
      .digest(parts.mkString("\u0000").getBytes(UTF_8))
      .map(b => f"$b%02x").mkString

  test("the 210 gate names") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size == 210)
    assert(sha256(names) ==
      "14637f1a3111a0bc06d19e14e10c6cf8bfbddede4a531272c84c9418cdfa0248")
  }

  test("the 192 oracle SQL strings, byte for byte") {
    val pairs = SparkEntry.oracleSql.toSeq.sortBy(_._1)
    assert(pairs.size == 192)
    assert(pairs.forall { case (k, _) => SparkEntry.queries.contains(k) })
    assert(sha256(pairs.flatMap { case (k, v) => Seq(k, v) }) ==
      "6a2b4a6de2c3a4b0fb4935a948153ac62ffdec812f6d821a8e9a1d96f008f3b3")
  }

  test("the bench headline and extra sets") {
    val headline = Bench.headliners.sorted
    val extras = Bench.extras.sorted
    assert(headline.size == 53 && extras.size == 9)
    assert(headline.distinct == headline && extras.distinct == extras)
    assert(headline.intersect(extras).isEmpty)
    assert(sha256(headline) ==
      "e1c0fc9e98e830daf4066e35c6f5eb328894c3e7586d2648d246040c49418159")
    assert(sha256(extras) ==
      "dc751a317ba41f9a17172a76d83aacad6d3a6b8e46529fc28c79f622832cf9c1")
  }

  test("the registry refuses a name declared twice") {
    val a = Gate("q_a", (s, _) => s.range(1).toDF())
    val b = Gate("q_b", (s, _) => s.range(2).toDF())
    assert(Gate.registry(Seq(a), Seq(b)).map(_.name) == Seq("q_a", "q_b"))
    val e = intercept[IllegalArgumentException] {
      Gate.registry(Seq(a, b), Seq(a.copy(oracle = Some("SELECT 1"))))
    }
    assert(e.getMessage.contains("q_a"))
  }
}
