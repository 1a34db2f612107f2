package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components as pure DataFrame iteration (no RDD — input_hint asks
  * for Dataset/Catalyst throughout). Two algorithms:
  *
  *  - `run` (min-label propagation): each node adopts the smallest component
  *    id among itself and its neighbors until fixpoint — O(diameter) rounds.
  *    Right default for canonicalization components (surface-variant
  *    clusters are star-like, diameter ≤ ~4 ⇒ a handful of shuffles).
  *  - `runBigStar` (alternating large-star/small-star, Kiveris et al.,
  *    "Connected Components in MapReduce and Beyond", SOCC'14 — PAPERS.md):
  *    O(log n) rounds regardless of diameter — the scale path for arbitrary
  *    graphs (long chains, billion-edge web graphs) where label propagation
  *    would shuffle the full label table once per diameter hop.
  *
  * Both return identical (node, canon_id = min node of the component)
  * labelings (CcSpec cross-checks them on chain/star/random graphs). Each
  * round is localCheckpoint'ed to cut the growing lineage. */
object ConnectedComponents {

  /** nodes: single column `node` (string). edges: `node_a`, `node_b`.
    * Returns (node, canon_id) where canon_id is stable across runs
    * (min node string of the component, prefixed). */
  def run(nodes: DataFrame, edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // materialize the edge set and seed labels ONCE: both are re-referenced
    // every round, and without the checkpoint each round's join re-executes
    // the whole upstream pipeline that produced them (q28's CC over jaccard
    // pairs re-ran the full pair miner per round — 15.7 s → ~5 s at sf0.1)
    val sym = edges.select(col("node_a").as("a"), col("node_b").as("b"))
      .union(edges.select(col("node_b").as("a"), col("node_a").as("b")))
      .distinct()
      .localCheckpoint()

    // small-graph early-out: union-find over the collected edge set with
    // UTF-8-byte-order component minima (identical to the min-label
    // fixpoint — parity-gated in LocalIterParitySpec), labels rejoined to
    // the node frame as a broadcast so isolated nodes still label
    // themselves. Bound doubled — `sym` carries both edge directions.
    val symCnt = sym.count()
    val ordOpt = LocalIter.orderingFor(sym.schema.fields(0).dataType)
    if (symCnt > 0 && symCnt <= 2 * LocalIter.maxEdges(sym.sparkSession) && ordOpt.isDefined) {
      import org.apache.spark.sql.types.{StructField, StructType}
      val nodeType = sym.schema.fields(0).dataType
      val lbl = LocalIter.ccLabels(sym.collect().map(r => (r.get(0), r.get(1))), ordOpt.get)
      val lblDf = LocalIter.localDf(sym.sparkSession,
        StructType(Seq(StructField("node", nodeType), StructField("comp", nodeType))),
        lbl.toSeq.map { case (n, c) => org.apache.spark.sql.Row(n, c) })
      return nodes.select(col("node")).distinct()
        .join(broadcast(lblDf), Seq("node"), "left")
        .select(col("node"),
          concat(lit("C:"), coalesce(col("comp"), col("node"))).as("canon_id"))
        // lineage cut, like the distributed path's checkpointed labels:
        // callers self-join this result against the frames `nodes` derives
        // from (q53 canonical ⋈ surfaces) — with the node lineage still
        // inside, that join trips Spark's ambiguous-self-join detection
        .localCheckpoint()
    }

    var labels = nodes.select(col("node"), col("node").as("comp")).distinct()
      .localCheckpoint()
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val neighborMin = sym.join(labels, sym("b") === labels("node"))
        .groupBy(sym("a").as("node")).agg(min(col("comp")).as("ncomp"))
      // convergence observed INSIDE the round's own materialization job
      // (Dataset.observe piggybacks on the localCheckpoint action) — no
      // separate comparison job per round
      val obs = org.apache.spark.sql.Observation(s"cc_round_$it")
      val updated = labels.join(neighborMin, Seq("node"), "left")
        .select(col("node"),
          when(col("ncomp").isNotNull && col("ncomp") < col("comp"), col("ncomp"))
            .otherwise(col("comp")).as("comp"),
          (col("ncomp").isNotNull && col("ncomp") < col("comp")).as("changed"))
        .observe(obs, sum(when(col("changed"), 1L).otherwise(0L)).as("changes"))
        .select("node", "comp")
        .localCheckpoint()
      converged = obs.get("changes").asInstanceOf[Long] == 0L
      labels = updated
      it += 1
    }
    if (!converged) {
      // diameter > maxIter: label propagation would silently return a
      // partially-converged labeling (caught by CcSpec's 40-node chain).
      // Hand the graph to the O(log n) algorithm instead of iterating on.
      return runBigStar(nodes, edges)
    }
    labels.select(col("node"), concat(lit("C:"), col("comp")).as("canon_id"))
  }

  /** Alternating large-star/small-star (Kiveris et al. SOCC'14): converges in
    * O(log n) rounds on ANY graph shape. Per round:
    *  - large-star: every node connects its strictly-larger neighbors to the
    *    minimum of its closed neighborhood;
    *  - small-star: edges oriented large→small; every node connects its
    *    smaller-or-equal neighbors (and itself) to that minimum.
    * At fixpoint the edge set is a star forest (node → component minimum). */
  def runBigStar(nodes: DataFrame, edges: DataFrame, maxIter: Int = 40): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("a"), col("b"))
        .union(e.select(col("b").as("a"), col("a").as("b")))
      val m = sym.groupBy("a").agg(least(min(col("b")), first(col("a"))).as("m"))
      sym.join(m, "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // orient each edge large→small, group by the large end
      val d = e.select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      val m = d.groupBy("a").agg(min(col("b")).as("m"))
      val g = d.join(m, "a")
      g.filter(col("b") =!= col("m")).select(col("b").as("a"), col("m").as("b"))
        .union(g.select(col("a"), col("m").as("b")))
        .distinct()
    }
    var e = edges.select(col("node_a").as("a"), col("node_b").as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    // fixpoint = identical edge sets; both sides are distinct, so one
    // order-independent checksum per side suffices — computed once per
    // round (the previous round's checksum is carried over, not recomputed)
    def sig(df: DataFrame) = df
      // decimal sum: ANSI mode would throw on bigint overflow of random hashes
      .agg(count(lit(1)), sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)"))).collect()(0)
    var eSig = sig(e)
    var converged = eSig.getLong(0) == 0L
    var it = 0
    while (!converged && it < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint()
      val nextSig = sig(next)
      converged = nextSig == eSig
      e = next
      eSig = nextSig
      it += 1
    }
    // star forest: b = component min for every non-root a; roots + isolated
    // nodes label themselves
    val labels = nodes.join(e.withColumnRenamed("b", "comp"),
        nodes("node") === e("a"), "left")
      .select(col("node"), coalesce(col("comp"), col("node")).as("comp"))
    labels.select(col("node"), concat(lit("C:"), col("comp")).as("canon_id"))
  }
}
