package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. One JVM-wide session (getOrCreate)
  * keeps the suite fast; each spec gets the graft defaults. A spec's
  * cached frames die with it: a cache left in the shared session would
  * shape the plans of every later spec that reads the same source.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    GraftSession.builder(master = "local[4]", shufflePartitions = 4).getOrCreate()

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  override def afterAll(): Unit =
    try spark.catalog.clearCache() finally super.afterAll()
}
