package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** The program's mains are a fixed set: a new one-off harness has to
  * be added here and to the README on purpose, or not at all.
  */
class EntryPointsSpec extends AnyFunSuite {

  private val root = new File(sys.props("user.dir"), "src/main/scala")

  /** `sub.Object` (relative to package graft) of every object whose
    * source defines `def main(`; the object is the last one declared
    * above the method.
    */
  private def mains: Set[String] = {
    def files(d: File): Seq[File] = Option(d.listFiles()).toSeq.flatten
      .flatMap(f => if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    files(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8").mkString
      val pkg = "(?m)^package ([\\w.]+)".r.findFirstMatchIn(src).map(_.group(1)).getOrElse("")
      val objects = "\\bobject (\\w+)".r.findAllMatchIn(src).toSeq
      "\\bdef main\\(".r.findAllMatchIn(src).map { m =>
        val obj = objects.filter(_.start < m.start).last.group(1)
        (pkg.split('.').drop(1) :+ obj).mkString(".")
      }
    }.toSet
  }

  test("the mains are exactly Verify, Bench, sources.DataGen and Probe") {
    assert(root.isDirectory, s"no source tree at $root")
    assert(mains === Set("Verify", "Bench", "sources.DataGen", "Probe"))
  }

  test("every main runs at SPARK_GRAFT_CPUS, else at this machine's core count") {
    assert(GraftSession.cores(Map("SPARK_GRAFT_CPUS" -> "3")) === 3)
    assert(GraftSession.cores(Map.empty) === Runtime.getRuntime.availableProcessors)
  }
}
