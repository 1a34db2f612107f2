package graft.kg

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** The one rank-propagation core behind [[PageRank]], [[Ppr]] and
  * [[WeightedPageRank]], and the set-up (edge table, small-graph early-out,
  * node table, output projection) [[Hits]] shares with them.
  *
  * One update covers all three: each round a node's rank is
  * `restart · base` plus the contributions over its in-edges, each computed
  * from the source's rank and a per-edge parameter `p` (the source's
  * out-degree, or a 2^20 weight fraction). `restart` is 1 for every node in
  * PageRank and the 0/1 seed flag in PPR — PageRank is PPR with every node
  * seeded. Mass starts at `init = Scale / #restart nodes` on the restart
  * nodes, and `base = init·15/100`.
  *
  * Determinism: ranks are FIXED-POINT Longs in units of [[PageRank.Scale]],
  * never Doubles. Long sums are exact and associative, so the per-round sum
  * per `dst` is bit-identical at any partitioning and in the driver-local
  * loop. Contributions floor-divide, so a little mass evaporates per hop (as
  * it does at dangling nodes); that loss is itself deterministic, and the
  * DuckDB oracles unroll the same rounds bit-exactly.
  *
  * Scale: the edge set is hash-partitioned by `src` ONCE and
  * localCheckpoint'ed; `p` comes from a window over `src` on that
  * partitioning (no shuffle) and is materialized with it. Every round's rank
  * join reuses that materialization, so a round shuffles only the slim
  * (node, rank) table. Each round's ranks are localCheckpoint'ed too: that
  * truncates lineage, without which the plan doubles per round (both join
  * inputs reference the previous round). Zero
  * ranks are filtered out of the join — exact, a zero rank floor-divides to
  * a zero contribution — so PPR's early rounds shuffle only the out-edges of
  * nodes the seed mass has reached. On a real cluster swap localCheckpoint
  * for a reliable `checkpoint` dir to survive executor loss.
  *
  * Below `spark.graft.localIterMaxEdges` the same update runs as a
  * driver-local loop over the collected edges ([[LocalIter]]), with the
  * identical Long arithmetic (LocalIterParitySpec); `p` is then computed on
  * the driver, so the small-graph path pays for no window sort. */
private[kg] object RankPropagation {

  /** How one operator moves mass along an edge: the per-edge parameter `p`
    * from the edge's weight `w` and its source's total out-weight `w_src`,
    * and the contribution from the source's `rank_fp` and `p`. Each is a SQL
    * expression for the distributed loop plus the identical Long function
    * for the driver-local one (all operands are positive, so JVM `/` is SQL
    * `div`). */
  final case class Rule(param: String, paramLocal: (Long, Long) => Long,
                        contrib: String, contribLocal: (Long, Long) => Long)

  /** Materializes the edge table (src, dst[, w]) once, hash-partitioned by
    * `src`. */
  def edges(e: DataFrame): DataFrame = e.repartition(col("src")).localCheckpoint()

  /** The distinct nodes src ∪ dst with their 0/1 `restart` flag (1 for every
    * node without a seed predicate), materialized, and how many restart. The
    * flag rides the table, so the per-round restart term is a column
    * product, never a re-evaluation of the predicate. */
  def nodeTable(e: DataFrame, seedPred: Option[Column]): (DataFrame, Long) = {
    val nodes = e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
      .distinct()
      .withColumn("restart", seedPred.fold(lit(1L))(when(_, 1L).otherwise(0L)))
      .localCheckpoint()
    (nodes, nodes.filter(col("restart") === 1L).count())
  }

  /** (node, <name>_fp..., <name>...): each fixed-point score, then its
    * double value `fp / scale`. */
  def output(scores: DataFrame, scale: Long, names: String*): DataFrame =
    scores.select((col("node") +: names.map(n => col(s"${n}_fp"))) ++
      names.map(n => (col(s"${n}_fp").cast("double") / lit(scale.toDouble)).as(n)): _*)

  /** [[output]] over driver-local score maps, one per name. */
  def localOutput(spark: SparkSession, nodeType: DataType, nodes: java.util.Set[Any],
                  scale: Long, scores: (String, java.util.Map[Any, Long])*): DataFrame = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    nodes.forEach(nd => rows += Row.fromSeq(nd +: scores.map(_._2.get(nd))))
    val schema = StructType(StructField("node", nodeType) +:
      scores.map(s => StructField(s"${s._1}_fp", LongType)))
    output(LocalIter.localDf(spark, schema, rows.toSeq), scale, scores.map(_._1): _*)
  }

  /** (node, rank_fp, rank) after `iterations` rounds over the weighted
    * [[edges]] table `e`. `seedPred` selects the restart nodes, evaluated on
    * a column named `node`; None restarts at every node. */
  def run(e: DataFrame, rule: Rule, seedPred: Option[Column], iterations: Int): DataFrame = {
    val noSeed = "personalized PageRank needs at least one seed node"
    LocalIter.collectSmall(e) match {
      case Some(rows) =>
        val spark = e.sparkSession
        val nodeType = e.schema("src").dataType
        val wSrc = new java.util.HashMap[Any, Long]()
        rows.foreach(r => wSrc.merge(r.get(0), r.getLong(2), _ + _))
        val es = rows.map(r => (r.get(0), r.get(1), rule.paramLocal(r.getLong(2), wSrc.get(r.get(0)))))
        val nodes = LocalIter.nodeSet(es.map(x => (x._1, x._2)))
        val seeds = seedPred.map(LocalIter.evalSeeds(spark, nodeType, nodes, _))
        val restart = (nd: Any) => if (seeds.forall(_(nd))) 1L else 0L
        var k = 0L
        nodes.forEach(nd => k += restart(nd))
        require(k > 0, noSeed)
        val init = PageRank.Scale / k
        val base = init * 15L / 100L
        var ranks = new java.util.HashMap[Any, Long]()
        nodes.forEach(nd => ranks.put(nd, restart(nd) * init))
        for (_ <- 1 to iterations) {
          val inflow = new java.util.HashMap[Any, Long]()
          es.foreach { case (s, d, p) =>
            val rs = ranks.get(s)
            if (rs > 0L) inflow.merge(d, rule.contribLocal(rs, p), _ + _)
          }
          ranks = new java.util.HashMap[Any, Long]()
          nodes.forEach(nd => ranks.put(nd, restart(nd) * base + inflow.getOrDefault(nd, 0L)))
        }
        localOutput(spark, nodeType, nodes, PageRank.Scale, "rank" -> ranks)
      case None =>
        // `e` is partitioned by src, so the window adds no shuffle
        val eP = e.withColumn("w_src", sum(col("w")).over(Window.partitionBy("src")))
          .select(col("src"), col("dst"), expr(rule.param).as("p"))
          .localCheckpoint()
        val (nodes, k) = nodeTable(e, seedPred)
        require(k > 0 || seedPred.isEmpty, noSeed)
        if (k == 0) // empty graph → empty result with the right schema
          return output(nodes.select(col("node"), lit(0L).as("rank_fp")), PageRank.Scale, "rank")
        val init = PageRank.Scale / k
        val base = init * 15L / 100L
        var ranks = nodes.select(col("node"), (col("restart") * init).as("rank_fp"))
        for (_ <- 1 to iterations) {
          val inflow = eP.join(ranks.filter(col("rank_fp") > 0L), col("src") === col("node"))
            .groupBy(col("dst").as("node")).agg(sum(expr(rule.contrib)).as("inflow"))
          ranks = nodes.join(inflow, Seq("node"), "left_outer")
            .select(col("node"),
              (col("restart") * base + coalesce(col("inflow"), lit(0L))).as("rank_fp"))
            .localCheckpoint() // eager: materializes AND truncates this round's lineage
        }
        output(ranks, PageRank.Scale, "rank")
    }
  }
}
