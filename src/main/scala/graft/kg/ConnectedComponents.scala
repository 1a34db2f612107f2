package graft.kg

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

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
  * round is localCheckpoint'ed to cut the growing lineage. [[labels]] is the
  * one labeling core: `run`, `Dedup.dupClusters` and `KgPipeline.canonical`
  * all label through it. */
object ConnectedComponents {

  /** nodes: single column `node`. edges: `node_a`, `node_b`. Returns
    * (node, canon_id) for every distinct node, where canon_id is stable
    * across runs ("C:" + the component minimum); nodes in no edge label
    * themselves. Edge endpoints outside `nodes` still connect components. */
  def run(nodes: DataFrame, edges: DataFrame, maxIter: Int = 25): DataFrame =
    selfLabeled(nodes.select(col("node")).distinct(), labels(edges, maxIter))
      .select(col("node"), concat(lit("C:"), col("comp")).as("canon_id"))

  /** The labeling core: (node, comp) for every endpoint of `edges`
    * (`node_a`, `node_b`), where comp is the component minimum — in UTF-8
    * byte order for strings (Spark's binary string order), numeric for
    * integral nodes. Builds and materializes the symmetric edge set once,
    * then runs the driver-local union-find when [[LocalIter.collectSmall]]
    * admits it (a broadcast-hinted LocalRelation, so callers' joins stay
    * broadcast) and the distributed min-label propagation otherwise,
    * falling back to [[runBigStar]]'s forest when the diameter exceeds
    * `maxIter`. */
  private[graft] def labels(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // materialize the edge set ONCE: it is re-referenced every round, and
    // without the checkpoint each round's join re-executes the whole
    // upstream pipeline that produced it (q28's CC over jaccard pairs re-ran
    // the full pair miner per round — 15.7 s → ~5 s at sf0.1). Both
    // directions come out of ONE scan of `edges` (inline of a two-struct
    // array): a union of two projections would run the upstream plan twice
    // — no common-subtree reuse across union branches (q28 measured 2×)
    val sym = edges
      .select(inline(array(
        struct(col("node_a").as("a"), col("node_b").as("b")),
        struct(col("node_b").as("a"), col("node_a").as("b")))))
      .distinct()
      .localCheckpoint()
    val nodeType = sym.schema("a").dataType
    val ord = LocalIter.orderingFor(nodeType)
    // `sym` carries both directions of every undirected edge
    val small = if (ord.isDefined) LocalIter.collectSmall(sym, rowsPerEdge = 2) else None
    if (small.isDefined) {
      val lbl = ccLabels(small.get.map(r => (r.get(0), r.get(1))), ord.get)
      return broadcast(LocalIter.localDf(sym.sparkSession,
        StructType(Seq(StructField("node", nodeType), StructField("comp", nodeType))),
        lbl.toSeq.map { case (n, c) => Row(n, c) }))
    }

    var cur = sym.select(col("a").as("node"), col("a").as("comp")).distinct()
      .localCheckpoint()
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val neighborMin = sym.join(cur, sym("b") === cur("node"))
        .groupBy(sym("a").as("node")).agg(min(col("comp")).as("ncomp"))
      // convergence observed INSIDE the round's own materialization job
      // (Dataset.observe piggybacks on the localCheckpoint action) — no
      // separate comparison job per round
      val obs = org.apache.spark.sql.Observation(s"cc_round_$it")
      val updated = cur.join(neighborMin, Seq("node"), "left")
        .select(col("node"),
          when(col("ncomp").isNotNull && col("ncomp") < col("comp"), col("ncomp"))
            .otherwise(col("comp")).as("comp"),
          (col("ncomp").isNotNull && col("ncomp") < col("comp")).as("changed"))
        .observe(obs, sum(when(col("changed"), 1L).otherwise(0L)).as("changes"))
        .select("node", "comp")
        .localCheckpoint()
      converged = obs.get("changes").asInstanceOf[Long] == 0L
      cur = updated
      it += 1
    }
    // diameter > maxIter: label propagation would silently return a
    // partially-converged labeling (caught by CcSpec's 40-node chain).
    // Hand the graph to the O(log n) algorithm instead of iterating on.
    if (converged) cur
    else selfLabeled(sym.select(col("a").as("node")).distinct(), starForest(sym))
  }

  /** (node, comp): `lbl`'s component for each row of `nodes`, the node
    * itself where `lbl` has none. */
  private def selfLabeled(nodes: DataFrame, lbl: DataFrame): DataFrame =
    nodes.join(lbl, Seq("node"), "left")
      .select(col("node"), coalesce(col("comp"), col("node")).as("comp"))

  /** Union-find over the collected symmetric edge set; every edge-endpoint
    * node maps to its component minimum under `ord` (the distributed
    * min-label fixpoint's result). */
  private def ccLabels(edges: Array[(Any, Any)],
                       ord: Ordering[Any]): scala.collection.mutable.HashMap[Any, Any] = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var root = x
      while (parent.get(root) != root) root = parent.get(root)
      var cur = x // path compression
      while (parent.get(cur) != root) {
        val nxt = parent.get(cur); parent.put(cur, root); cur = nxt
      }
      root
    }
    edges.foreach { case (a, b) =>
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(ra, rb)
    }
    val minOf = new java.util.HashMap[Any, Any]()
    parent.keySet().forEach { nd =>
      val root = find(nd)
      val cur = minOf.get(root)
      if (cur == null || ord.lt(nd, cur)) minOf.put(root, nd)
    }
    val labels = scala.collection.mutable.HashMap.empty[Any, Any]
    parent.keySet().forEach(nd => labels.put(nd, minOf.get(find(nd))))
    labels
  }

  /** Alternating large-star/small-star (Kiveris et al. SOCC'14): converges in
    * O(log n) rounds on ANY graph shape. Per round:
    *  - large-star: every node connects its strictly-larger neighbors to the
    *    minimum of its closed neighborhood;
    *  - small-star: edges oriented large→small; every node connects its
    *    smaller-or-equal neighbors (and itself) to that minimum.
    * At fixpoint the edge set is a star forest (node → component minimum). */
  def runBigStar(nodes: DataFrame, edges: DataFrame, maxIter: Int = 40): DataFrame =
    selfLabeled(nodes,
        starForest(edges.select(col("node_a").as("a"), col("node_b").as("b")), maxIter))
      .select(col("node"), concat(lit("C:"), col("comp")).as("canon_id"))

  /** The converged large-star/small-star edge set over the edges (a, b) as
    * (node, comp): every non-root node with its component minimum; roots
    * do not appear. */
  private def starForest(edges: DataFrame, maxIter: Int = 40): DataFrame = {
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
    var e = edges.filter(col("a") =!= col("b")).distinct().localCheckpoint()
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
    // star forest: b = component min for every non-root a
    e.select(col("a").as("node"), col("b").as("comp"))
  }
}
