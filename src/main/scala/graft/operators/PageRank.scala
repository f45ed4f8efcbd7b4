package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over a link graph — the crawl-prioritization / domain-
  * authority signal a web-scale corpus pipeline ranks its frontier
  * with (the classic "which dumps/hosts deserve crawl budget" input
  * that URL frontier dedup and DomainPolicy consume).
  *
  * Cross-engine exactness: the power iteration runs in NANO-integer
  * rank units with INTEGRAL division everywhere (`div`, never float
  * `/`): per edge, contribution = rank div outdeg; per node,
  * rank' = (1e9 - dampNano) div N + (dampNano * Σcontrib) div 1e9.
  * Every quantity is a non-negative Long (the damp product peaks at
  * ~8.5e17, inside Long), so a DuckDB oracle replays ALL iterations
  * bit-for-bit as chained CTEs — no float summation order, no
  * convergence-threshold ambiguity (fixed iteration count).
  * Truncation leaks a few nano of mass per iteration; both engines
  * leak identically. Dangling nodes (no out-edges) contribute
  * nothing — the standard "removed dangling" variant; callers who
  * need mass conservation add a sink node.
  *
  * Scale shape: out-degrees and the degree-annotated edge list are
  * computed ONCE and persisted pre-partitioned on src; each
  * iteration then pays exactly two exchanges — the N-row rank frame
  * shuffles to src for the join, contributions shuffle to dst for
  * the sum (map-side partial agg) — and `localCheckpoint` truncates
  * lineage so the plan stays O(1) in iterations (no exponential
  * DAG). Driver state is one Long (N). 10 iterations over a
  * trillion-edge graph is 20 bounded exchanges, the canonical
  * iterative-Spark recipe.
  */
object PageRank {

  /** (node, rank_nano) after `iterations` damped power iterations.
    * `edges` is (src, dst) — callers dedupe and drop self-loops;
    * `nodes` is the full (node) universe (isolated nodes keep the
    * base rank).
    *
    * `checkpointEvery` trades lineage depth against materialization
    * cost: a checkpoint per iteration paid one extra job + one RDD
    * materialization per round (measured r12 at sf10: 13.0 s for 10
    * iterations; batching 5 rounds into one lazily-chained plan cut
    * it to the same shape DuckDB executes and materializes only
    * twice). The final iteration ALWAYS checkpoints, so the returned
    * frame has no lineage into the persisted helpers and they can be
    * released here.
    */
  /** Node-count bound below which the whole iteration runs on the
    * driver (guarded by a second, edge-count check against
    * [[localEdgeLimit]]): 10 damped power iterations over a graph
    * this small are pure per-job scheduling cost distributed — ~20
    * exchanges and 2 checkpoint materializations to move KBs
    * (measured sf0.1: 1.9 s distributed vs 0.4 s local, identical
    * bits). The Components.solveLocal hybrid precedent: the
    * distributed rounds exist for graphs that cannot fit a driver,
    * not for ones that trivially do.
    */
  val defaultLocalNodeLimit = 200000L

  /** Edge count cap for the driver-local path: 4M (src, dst) longs
    * ≈ 64 MB collected — the [[graft.dedup.Components]] bound.
    */
  val defaultLocalEdgeLimit = 4000000L

  def ranks(nodes: DataFrame, edges: DataFrame, iterations: Int,
            dampNano: Long = 850000000L, checkpointEvery: Int = 5,
            localNodeLimit: Long = defaultLocalNodeLimit,
            localEdgeLimit: Long = defaultLocalEdgeLimit): DataFrame = {
    require(iterations >= 1 && dampNano >= 0 && dampNano <= 1000000000L)
    require(checkpointEvery >= 1)
    // both paths normalize ids to long up front (r12 advice): an int
    // node column must not produce a scale-dependent output schema
    // (the local path always returned bigint). CONTRACT: `nodes` is a
    // DISTINCT universe — the local HashMap dedupes by construction,
    // the distributed rank frame would double-count a duplicate row.
    val nodesL = nodes.select(col("node").cast("long").as("node"))
    val edgesIn = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val nodesP = nodesL.persist()
    try {
      val n = nodesP.count().max(1L)
      // hybrid small-graph path: node count is already known (the base
      // rank needs it), so the extra edge-count job runs ONLY in the
      // small-n regime; both bounds inside → collect, iterate exactly
      // (same integral `div` recursion — Long / truncates identically
      // on the non-negative operands used here), return a local frame.
      // Set localNodeLimit = 0 to force the distributed path (the spec
      // asserts both paths bit-equal).
      if (n <= localNodeLimit) {
        val eCount = edgesIn.count()
        if (eCount <= localEdgeLimit) {
          val nodeArr = nodesP.select(col("node")).collect().map(_.getLong(0))
          val edgeArr = edgesIn.collect().map(r => (r.getLong(0), r.getLong(1)))
          val spark = nodes.sparkSession
          import spark.implicits._
          return localRanks(nodeArr, edgeArr, n, iterations, dampNano)
            .toSeq.toDF("node", "rank")
        }
      }
      val base = (1000000000L - dampNano) / n
      val outd = edgesIn.groupBy("src").agg(count(lit(1)).as("deg"))
      // degree-annotated edges, partitioned ONCE on the per-iteration
      // join key so only the rank frame moves each round
      val e = edgesIn.join(outd, "src")
        .repartition(col("src")).persist()
      try {
        // integral division via SQL `div` throughout — floor(a/b) through
        // doubles can round a whole quotient down near 2^53; div cannot
        var r = nodesP.select(col("node"), lit(1000000000L / n).as("rank"))
        (1 to iterations).foreach { i =>
          val contrib = e.join(r, col("src") === col("node"))
            .select(col("dst"), expr("rank div deg").as("c"))
            .groupBy("dst").agg(sum(col("c")).as("cs"))
          // the node-universe side is the PERSISTED node table, not the
          // rank frame: self-referencing r here duplicates the whole
          // un-checkpointed prior-iteration chain into both join inputs
          // (A/B'd at sf10: 12.3 s vs 10.1 s — ReusedExchange does not
          // collapse the clones across the aggregate boundary)
          val next = nodesP.join(contrib, col("node") === col("dst"), "left")
            .select(col("node"),
              (lit(base) +
                expr(s"($dampNano * coalesce(cs, 0L)) div 1000000000"))
                .as("rank"))
          r = if (i % checkpointEvery == 0 || i == iterations)
            next.localCheckpoint(true)
          else next
        }
        r
      } finally e.unpersist(blocking = false)
    } finally nodesP.unpersist(blocking = false)
  }

  /** Driver-local replay of the exact distributed recursion: per
    * edge, contribution = rank div outdeg; per node, rank' =
    * (1e9 − damp) div n + (damp · Σcontrib) div 1e9. Every quantity
    * is a non-negative Long, and Scala's `/` truncates toward zero —
    * identical to SQL `div` on non-negative operands — so the result
    * is bit-equal to the distributed path (spec-pinned).
    */
  private[graft] def localRanks(nodeArr: Array[Long], edgeArr: Array[(Long, Long)],
      n: Long, iterations: Int, dampNano: Long): Array[(Long, Long)] = {
    type JL = java.lang.Long
    val base = (1000000000L - dampNano) / n
    val sum = new java.util.function.BiFunction[JL, JL, JL] {
      def apply(a: JL, b: JL): JL = java.lang.Long.valueOf(a.longValue() + b.longValue())
    }
    val outdeg = new java.util.HashMap[JL, JL](edgeArr.length * 2)
    edgeArr.foreach { case (s, _) =>
      outdeg.merge(java.lang.Long.valueOf(s), java.lang.Long.valueOf(1L), sum): Unit
    }
    var rank = new java.util.HashMap[JL, JL](nodeArr.length * 2)
    val init = java.lang.Long.valueOf(1000000000L / n)
    nodeArr.foreach(nd => rank.put(java.lang.Long.valueOf(nd), init))
    (1 to iterations).foreach { _ =>
      val contrib = new java.util.HashMap[JL, JL](nodeArr.length * 2)
      edgeArr.foreach { case (s, t) =>
        // inner-join semantics of the distributed path: an edge whose
        // src is outside the node universe contributes nothing
        val rs = rank.get(java.lang.Long.valueOf(s))
        if (rs != null) {
          val c = rs.longValue() / outdeg.get(java.lang.Long.valueOf(s)).longValue()
          contrib.merge(java.lang.Long.valueOf(t), java.lang.Long.valueOf(c), sum): Unit
        }
      }
      val next = new java.util.HashMap[JL, JL](nodeArr.length * 2)
      nodeArr.foreach { nd =>
        val cs = Option(contrib.get(java.lang.Long.valueOf(nd)))
          .map(_.longValue()).getOrElse(0L)
        next.put(java.lang.Long.valueOf(nd),
          java.lang.Long.valueOf(base + (dampNano * cs) / 1000000000L))
      }
      rank = next
    }
    nodeArr.map(nd => (nd, rank.get(java.lang.Long.valueOf(nd)).longValue()))
  }
}
