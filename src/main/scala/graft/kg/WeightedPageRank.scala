package graft.kg

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Weighted PageRank — link-multiplicity-aware importance over rollup graphs
  * (the host graph's `n_links`, anchor-frequency edges, triple counts).
  * [[PageRank]] treats every edge equally; here a host that links another
  * host 10,000 times passes proportionally more mass than a single stray
  * link.
  *
  * Determinism + overflow design: the naive fixed-point contribution
  * `rank·85·w div (100·W_src)` overflows a Long once `w > ~10^5` at the
  * rank scale, so weights are pre-normalized per source into 2^20
  * fixed-point fractions `frac = w·2^20 div W_src` (≤ 2^20) and each round
  * contributes `(rank·85 div 100)·frac div 2^20` — max intermediate
  * ~8.9·10^17, exact Long arithmetic at ANY weight magnitude. The per-edge
  * quantization to 2^-20 of the source's mass is a deterministic loss, the
  * same contract as the unweighted operator's integer-division evaporation,
  * and the DuckDB oracle unrolls the identical expression bit-exactly.
  *
  * Scale: the [[RankPropagation]] loop — weighted edges collapse once
  * (duplicate (src,dst) sum their weights) and are partitioned by src once.
  */
object WeightedPageRank {

  val FracScale = 1L << 20

  /** Ranks for the weighted directed graph. Output: (node, rank_fp bigint,
    * rank double). Duplicate (src, dst) edges collapse by summing `wCol`;
    * non-positive weights are rejected. */
  def run(edges: DataFrame, iterations: Int = 10, srcCol: String = "src",
          dstCol: String = "dst", wCol: String = "w"): DataFrame = {
    // counted inside the edge table's own materialization job, for both
    // paths; the metric is absent when Spark prunes a provably empty input
    val nonPositive = Observation()
    val e = RankPropagation.edges(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"), col(wCol).cast("long").as("w"))
        .groupBy("src", "dst").agg(sum(col("w")).as("w"))
        .observe(nonPositive, count_if(col("w") <= 0L).as("n")))
    require(nonPositive.get.getOrElse("n", 0L) == 0L, "edge weights must be positive")
    RankPropagation.run(e,
      RankPropagation.Rule(s"w * ${FracScale}L div w_src", (w, wSrc) => w * FracScale / wSrc,
        s"(rank_fp * 85L div 100L) * p div ${FracScale}L",
        (rank, frac) => (rank * 85L / 100L) * frac / FracScale),
      None, iterations)
  }

  /** Unrolled fixed-point oracle (the q54/q83 pattern); `edgeSql` must yield
    * (src, dst, w). `//` is DuckDB integer floor division — identical to JVM
    * `div` for the positive operands here. */
  def oracleSqlFromEdges(edgeSql: String, iterations: Int = 10): String = {
    val s = PageRank.Scale
    val f = FracScale
    val iters = (1 to iterations).map { k =>
      s"""c$k AS (SELECT e.dst AS node,
                 CAST(sum((r.rank_fp * 85 // 100) * e.frac // $f) AS BIGINT) AS inflow
                 FROM e JOIN r${k - 1} r ON r.node = e.src GROUP BY e.dst),
          r$k AS (SELECT n.node,
                 (SELECT base FROM params) + coalesce(c.inflow, 0) AS rank_fp
                 FROM nodes n LEFT JOIN c$k c ON c.node = n.node)"""
    }.mkString(",\n          ")
    s"""WITH e0 AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w
                    FROM ($edgeSql) GROUP BY src, dst),
          wout AS (SELECT src, sum(w) AS w_src FROM e0 GROUP BY src),
          e AS (SELECT e0.src, e0.dst, e0.w * $f // wout.w_src AS frac
                FROM e0 JOIN wout ON wout.src = e0.src),
          nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
          params AS (SELECT $s // count(*) AS init,
                     ($s // count(*)) * 15 // 100 AS base FROM nodes),
          r0 AS (SELECT node, (SELECT init FROM params) AS rank_fp FROM nodes),
          $iters
       SELECT node, CAST(rank_fp AS BIGINT) AS rank_fp,
              CAST(rank_fp AS DOUBLE) / $s.0 AS rank
       FROM r$iterations"""
  }
}
