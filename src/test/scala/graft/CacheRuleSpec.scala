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
  * The same holds for temporary views: a view left in the session
  * catalog outlives the call, and a later call's `s.sql` over the same
  * name reads whatever the last caller registered.
  *
  * The sweep builds and collects every registered gate at sf0.001 and
  * records each one that leaves a cache entry or a temp view behind;
  * both are cleared after each so one offender does not mask the next.
  */
class CacheRuleSpec extends SparkSpec {

  test("no gate leaves a CacheManager entry after its collect") {
    val cm = spark.sharedState.cacheManager
    val catalog = spark.sessionState.catalog
    spark.catalog.clearCache()
    catalog.getTempViewNames().foreach(spark.catalog.dropTempView)
    def leaked(name: String)(body: => Unit): Seq[String] = {
      body
      val views = catalog.getTempViewNames()
      val left = (if (cm.isEmpty) Nil else Seq(s"$name: cache entry")) ++
        views.map(v => s"$name: temp view $v")
      spark.catalog.clearCache()
      views.foreach(spark.catalog.dropTempView)
      left
    }
    val failures = leaked("stageTier")(SparkEntry.stageTier(spark, sf())) ++
      SparkEntry.gates.flatMap(g => leaked(g.name)(g.build(spark, sf()).collect()))
    assert(failures.isEmpty,
      s"\n${failures.size} leftovers:\n  ${failures.mkString("\n  ")}")
  }
}
