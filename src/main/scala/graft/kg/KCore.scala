package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition of an undirected graph by iterative peeling — the
  * classical web-graph density primitive (Seidman 1983): the k-core is the
  * maximal subgraph where every node keeps degree ≥ k after all lower-degree
  * nodes are recursively removed. On a hyperlink graph the dense cores
  * surface link farms and boilerplate navigation rings (the same spam
  * signal the triangle counts feed), and core membership is a standard
  * graph-quality prior for curation.
  *
  * Representation: the undirected edge set DOUBLED into both directions, so
  * a node's degree is a single `count(*)` keyed by `src` — one aggregation
  * per peel round, no union-of-endpoints re-shuffle. Peeling removes every
  * edge touching a sub-k node; the removal set is degree-table-sized (≤ |V|
  * slim rows), broadcastable in practice, and the edge set only ever
  * SHRINKS, so per-round cost is bounded by the surviving edge count.
  * Each round localCheckpoints (flat plans, the iterative-job invariant).
  *
  * Determinism: pure integer degrees and set semantics — bit-identical at
  * any parallelism. The DuckDB oracle unrolls the SAME peel as a linear CTE
  * chain where each round references its predecessor exactly ONCE (two
  * window counts over the doubled edge rows — the [[Hits]] lesson: DuckDB
  * inlines non-recursive CTEs per reference, so a twice-referenced round
  * would double the inlined subtree every iteration). Extra unrolled rounds
  * past the fixpoint are no-ops, so one shared bound serves both engines:
  * Spark REQUIRES convergence within `maxRounds` and the oracle unrolls
  * exactly `maxRounds`.
  */
object KCore {

  /** Nodes of the k-core with their within-core degree. `edges` is any
    * directed/undirected edge list; it is canonicalized to distinct
    * undirected pairs (self-loops dropped) first. Output: (node, core_deg),
    * empty when the graph has no k-core. */
  def run(edges: DataFrame, k: Int, maxRounds: Int = 16,
          srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 1, "k-core needs k >= 1")
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // both directions out of ONE scan of `und` (inline of a two-struct
    // array): a union of two projections would run the input plan and the
    // distinct once per branch — no common-subtree reuse across union
    // branches (the CC core's measured 2×)
    var ed = und
      .select(inline(array(
        struct(col("u").as("src"), col("v").as("dst")),
        struct(col("v").as("src"), col("u").as("dst")))))
      .localCheckpoint()
    // small-graph early-out: driver-local peel with the identical round
    // budget (bit-exact, LocalIterParitySpec); `ed` carries both directions
    // of every undirected edge
    val small = LocalIter.collectSmall(ed, rowsPerEdge = 2)
    if (small.isDefined)
      return LocalIter.kcore(ed.sparkSession, ed.schema.fields(0).dataType,
        small.get.map(r => (r.get(0), r.get(1))), k, maxRounds)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val bad = ed.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
        .filter(col("d") < k).select("node")
        .localCheckpoint() // materialized once, consumed by count + two joins
      if (bad.count() == 0L) converged = true
      else ed = ed
        .join(bad.withColumnRenamed("node", "src"), Seq("src"), "left_anti")
        .join(bad.withColumnRenamed("node", "dst"), Seq("dst"), "left_anti")
        .select("src", "dst")
        .localCheckpoint()
      round += 1
    }
    require(converged,
      s"$k-core peel did not reach a fixpoint within $maxRounds rounds " +
        "(the oracle's unroll bound would diverge)")
    ed.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** The unrolled-peel DuckDB oracle. Each round keeps the doubled edge rows
    * whose BOTH endpoints have degree ≥ k — `count(*) OVER (PARTITION BY
    * src)` and `... BY dst` on the same relation, referencing the previous
    * round once (symmetry makes the per-direction count the full degree). */
  def oracleSqlFromEdges(edgeSql: String, k: Int, maxRounds: Int = 16): String = {
    val rounds = (1 to maxRounds).map { r =>
      s"""e$r AS (SELECT src, dst FROM (
            SELECT src, dst,
                   count(*) OVER (PARTITION BY src) AS ds,
                   count(*) OVER (PARTITION BY dst) AS dd
            FROM e${r - 1}) WHERE ds >= $k AND dd >= $k)"""
    }.mkString(",\n          ")
    s"""WITH und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                     FROM ($edgeSql) WHERE src <> dst),
          e0 AS (SELECT u AS src, v AS dst FROM und
                 UNION ALL SELECT v, u FROM und),
          $rounds
       SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg
       FROM e$maxRounds GROUP BY src"""
  }
}
