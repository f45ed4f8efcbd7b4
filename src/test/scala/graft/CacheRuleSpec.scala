package graft

/** The cache rule: a call into graft leaves no `CacheManager` entry
  * when it returns. A cached relation outlives the call that made it,
  * and any later query whose plan matches it reads the cache instead
  * of its source, so its plan, partition count and job count would
  * depend on which calls ran before. An operator that caches releases
  * what it cached itself: in a `finally` when it collects or writes,
  * or through a lazy local checkpoint (no `CacheManager` entry) when
  * it returns a lazy frame.
  *
  * The sweep builds and collects every registered gate at sf0.001 and
  * records each one that leaves an entry behind; the cache is cleared
  * after each so one offender does not mask the next.
  */
class CacheRuleSpec extends SparkSpec {

  test("no gate leaves a CacheManager entry after its collect") {
    val cm = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    def leaked(name: String)(body: => Unit): Option[String] = {
      body
      val left = !cm.isEmpty
      spark.catalog.clearCache()
      if (left) Some(name) else None
    }
    val staged = leaked("stageTier")(SparkEntry.stageTier(spark, sf()))
    val failures = staged.toSeq ++ SparkEntry.gates.flatMap { g =>
      leaked(g.name)(g.build(spark, sf()).collect())
    }
    assert(failures.isEmpty,
      s"\n${failures.size} calls left a cache entry:\n  ${failures.mkString("\n  ")}")
  }
}
