package graft.kg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PageRank over the entity graph the KG pipeline emits — node importance
  * for entity salience ranking and canonical-id tie-breaking.
  *
  * Fixed-point ranks (micro-units of [[Scale]]), damping 85/100, integer
  * floor division — bit-identical at any parallelism; the loop, its
  * determinism and its scale design live in [[RankPropagation]]. PageRank is
  * [[Ppr]] with every node seeded, so both run [[propagate]].
  */
object PageRank {

  /** Total fixed-point mass (1e12 ⇒ rank * 85 stays far below Long.Max). */
  val Scale = 1000000000000L

  /** Ranks for the directed graph `edges(src, obj)`. Output:
    * (node, rank_fp bigint, rank double = rank_fp/Scale). */
  def run(edges: DataFrame, iterations: Int = 10,
          srcCol: String = "src", dstCol: String = "dst"): DataFrame =
    propagate(edges, None, iterations, srcCol, dstCol)

  /** Damped ranks over the distinct edges, restarting at the nodes
    * `seedPred` selects (every node when None): each edge carries
    * `rank_fp * 85 div (100 * deg)` of its source's rank, `deg` the source's
    * out-degree (its total out-weight at weight 1). */
  private[kg] def propagate(edges: DataFrame, seedPred: Option[Column], iterations: Int,
                            srcCol: String, dstCol: String): DataFrame =
    RankPropagation.run(
      RankPropagation.edges(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
        .withColumn("w", lit(1L))),
      RankPropagation.Rule("w_src", (_, deg) => deg,
        "rank_fp * 85L div (100L * p)", (rank, deg) => rank * 85L / (100L * deg)),
      seedPred, iterations)
}
