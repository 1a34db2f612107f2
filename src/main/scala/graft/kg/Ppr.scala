package graft.kg

import org.apache.spark.sql.{Column, DataFrame}

/** Personalized PageRank — seed-relative node relevance over the link graph.
  * Where [[PageRank]] answers "how important is this page globally", PPR
  * answers "how relevant is it TO THESE SEEDS": the restart mass returns to
  * the seed set instead of spreading uniformly, so rank decays with distance
  * from the seeds. That is the crawl-prioritization primitive (TrustRank /
  * focused-crawl frontier scoring from a trusted seed list) and the KG's
  * seed-relative entity-relevance ranking — the weighted companion of the
  * [[Bfs]] hop budget.
  *
  * Determinism: identical fixed-point discipline to [[PageRank]] — ranks are
  * Longs in micro-units of [[PageRank.Scale]], damping is the rational
  * 85/100, contributions use integer floor division. Long sums are exact and
  * associative, so results are bit-identical at any parallelism, and the
  * DuckDB oracle unrolls the same iterations bit-exactly
  * ([[oracleSqlFromEdges]]).
  *
  * Scale: the [[RankPropagation]] loop — non-seed nodes start at exactly 0
  * and the contribution join skips zero ranks, so round r shuffles only the
  * out-edges of nodes the seed mass has actually reached: early rounds are
  * frontier-sized, not |V|-sized.
  */
object Ppr {

  /** Seed-personalized ranks for the directed graph. `seedPred` selects the
    * seeds from the graph's node set (evaluated on a column named `node`).
    * Output: (node, rank_fp bigint, rank double) for EVERY node — unreached
    * nodes report exactly 0. */
  def run(edges: DataFrame, seedPred: Column, iterations: Int = 10,
          srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    PageRank.propagate(edges, Some(seedPred), iterations, srcCol, dstCol)

  /** The unrolled fixed-point PPR oracle (the q54/q66 PageRank pattern):
    * each round is one contribution aggregation + one left join against the
    * flagged node table, referencing its predecessor exactly once — the
    * linear-inlining shape DuckDB needs. `seedWhere` must be the predicate
    * `run` was given, phrased over a column named `node`; `//` is DuckDB's
    * integer floor division (positive operands ⇒ same as JVM `div`). */
  def oracleSqlFromEdges(edgeSql: String, seedWhere: String,
                         iterations: Int = 10): String = {
    val s = PageRank.Scale
    val iters = (1 to iterations).map { k =>
      s"""c$k AS (SELECT e.dst AS node,
                 CAST(sum(r.rank_fp * 85 // (100 * e.deg)) AS BIGINT) AS inflow
                 FROM e JOIN r${k - 1} r ON r.node = e.src AND r.rank_fp > 0
                 GROUP BY e.dst),
          r$k AS (SELECT n.node, n.is_seed,
                 n.is_seed * (SELECT base FROM params) + coalesce(c.inflow, 0) AS rank_fp
                 FROM seeded n LEFT JOIN c$k c ON c.node = n.node)"""
    }.mkString(",\n          ")
    s"""WITH e0 AS ($edgeSql),
          deg AS (SELECT src, count(*) AS deg FROM e0 GROUP BY src),
          e AS (SELECT e0.src, e0.dst, d.deg FROM e0 JOIN deg d ON d.src = e0.src),
          nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
          seeded AS (SELECT node, CASE WHEN $seedWhere THEN CAST(1 AS BIGINT)
                                       ELSE CAST(0 AS BIGINT) END AS is_seed
                     FROM nodes),
          params AS (SELECT $s // sum(is_seed) AS init,
                     ($s // sum(is_seed)) * 15 // 100 AS base FROM seeded),
          r0 AS (SELECT node, is_seed,
                 is_seed * (SELECT init FROM params) AS rank_fp FROM seeded),
          $iters
       SELECT node, CAST(rank_fp AS BIGINT) AS rank_fp,
              CAST(rank_fp AS DOUBLE) / $s.0 AS rank
       FROM r$iterations"""
  }
}
