package graft.kg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Depth-capped multi-source BFS over a directed link graph — the
  * crawl-frontier primitive: "which pages are within D hops of the trusted
  * seed set, and how many hops" is exactly a crawl's depth budget
  * (TrustRank-style seed expansion) and the KG's entity-neighborhood
  * extraction radius. The depth cap is the SEMANTICS, not a safety valve:
  * real crawls and neighborhood queries are depth-budgeted, and it is what
  * keeps the round count bounded on arbitrarily-shaped graphs (a webgraph's
  * sequential next-page chains would otherwise force O(chain length) rounds
  * — this corpus's own `page/i → page/i+1` tail is the witness).
  *
  * Frontier algorithm, the shape that survives 100 TB: each round shuffles
  * ONLY the current frontier's out-edges (frontier ⋈ edges keyed by src),
  * never the full vertex set, and the round count is ≤ maxDepth by
  * construction. The `seen` filter is a left-anti join against the union of
  * the previous (already-materialized) frontier frames — scanning cached
  * slim (node, dist) rows, re-materializing nothing. The edge set is
  * localCheckpoint'ed ONCE (the repo's iterative-job invariant: per-round
  * plans stay flat, upstream extraction never re-runs).
  *
  * Determinism: hop distances are exact Longs under set semantics — no
  * floats, no order sensitivity — bit-identical at any parallelism, and a
  * DuckDB recursive CTE bounded at the same depth reproduces them exactly
  * ([[oracleSqlFromEdges]]).
  */
object Bfs {

  /** Hop distance from the seed nodes, truncated at `maxDepth`. `seedPred`
    * selects the seeds from the graph's own node set (evaluated on a column
    * named `node`). Output: (node, dist) for every node whose true BFS
    * distance is ≤ maxDepth (seeds at 0); frontier BFS assigns first-reach
    * depth, which IS the true distance, so the cap never distorts a
    * reported value — it only bounds which nodes report. */
  def run(edges: DataFrame, seedPred: Column, maxDepth: Int = 12,
          srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
      .localCheckpoint()
    // small-graph early-out: seeds evaluated by Catalyst over a
    // LocalRelation node set, then a driver-local frontier BFS (bit-exact,
    // LocalIterParitySpec)
    val small = LocalIter.collectSmall(e)
    if (small.isDefined) {
      val localEdges = small.get.map(r => (r.get(0), r.get(1)))
      val nodeType = e.schema.fields(0).dataType
      val seedSet = LocalIter.evalSeeds(e.sparkSession, nodeType,
        LocalIter.nodeSet(localEdges), seedPred)
      return LocalIter.bfs(e.sparkSession, nodeType, localEdges, seedSet, maxDepth)
    }
    val nodes = e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
      .distinct()
    var frontier = nodes.filter(seedPred).select(col("node"), lit(0L).as("dist"))
      .localCheckpoint()
    // all materialized frontier frames so far; their lazy union IS the seen
    // set — scanning cached slim rows per round instead of re-materializing
    // a growing dist table
    val layers = scala.collection.mutable.ArrayBuffer(frontier)
    var depth = 0
    var frontierSize = frontier.count()
    while (frontierSize > 0 && depth < maxDepth) {
      // distinct column name on the seen side: next's lineage CONTAINS the
      // seen frames, and a by-name using-join between a plan and its own
      // sub-plan leans on Spark's self-join disambiguation — an explicit
      // unambiguous predicate takes that resolution path out of play
      val seen = layers.reduce(_ union _).select(col("node").as("__seen"))
      val next = e.join(frontier, e("src") === frontier("node"))
        .groupBy(e("dst").as("node")).agg(min(col("dist") + 1L).as("dist"))
        .join(seen, col("node") === col("__seen"), "left_anti")
        .localCheckpoint()
      frontierSize = next.count()
      if (frontierSize > 0) layers += next
      frontier = next
      depth += 1
    }
    layers.reduce(_ union _)
  }

  /** DuckDB oracle: recursive-CTE reachability with the hop count carried
    * along, min-folded per node (the q28/q53 closure pattern). The `d <
    * $maxDepth` guard is the SAME depth budget as the Spark side — paths are
    * extended only below the cap, so exactly the nodes with true distance ≤
    * maxDepth appear, at their true distance (and the guard also bounds
    * cycle traversal, keeping the working set ≤ |V|·maxDepth pairs).
    * `seedWhere` must be the predicate `run` was given, phrased over a
    * column named `node`. */
  def oracleSqlFromEdges(edgeSql: String, seedWhere: String, maxDepth: Int = 12): String =
    s"""WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ($edgeSql)),
          nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
          seeds AS (SELECT node FROM nodes WHERE $seedWhere),
          reach(node, d) AS (
            SELECT node, 0 AS d FROM seeds
            UNION
            SELECT e.dst, r.d + 1 FROM e JOIN reach r ON r.node = e.src
            WHERE r.d < $maxDepth)
       SELECT node, CAST(min(d) AS BIGINT) AS dist FROM reach GROUP BY node"""
}
