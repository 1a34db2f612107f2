package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS (hubs & authorities, Kleinberg 1999) over a directed link graph —
  * the classical complement to [[PageRank]] on the extracted web graph:
  * authority scores surface the pages the web points AT (entity landing
  * pages), hub scores the pages that point at many good authorities (link
  * hubs / navigation spam — a curation prior the host-level quality gates
  * consume alongside PageRank).
  *
  * Determinism design (the repo invariant, same as [[PageRank]]): scores are
  * FIXED-POINT Longs. The classical L2 normalization needs a square root, so
  * this uses the equally standard L1 variant — after each half-step the
  * vector is renormalized to sum (at most) [[Scale]] via exact integer
  * floor division `raw * Scale div total`. Long sums are exact and
  * associative ⇒ bit-identical scores at any partitioning, and a DuckDB
  * oracle can unroll the iterations CTE-by-CTE and reproduce them exactly
  * (`//` is DuckDB's floor division; all operands positive).
  *
  * Overflow headroom: hub mass is L1-bounded by Scale after every
  * normalization, and edges are distinct, so a node's raw inflow is at most
  * Scale (= 1e9) and `raw * Scale ≤ 1e18 < Long.Max`. The normalization
  * total is at most Scale × maxOutDegree — safe while the hottest hub stays
  * below ~9e9 out-links (any real web graph).
  *
  * Scale design: the distinct edge set is materialized ONCE by
  * [[RankPropagation.edges]] (localCheckpoint — truncates lineage so the
  * per-iteration plan stays flat, the 2^rounds-plan trap every iterative
  * job in this repo guards against), which HITS shares with the PageRank
  * family along with the small-graph early-out, the node table and the
  * output projection; each iteration then costs two slim (node, score)
  * shuffles — auth from hubs keyed by dst, hubs from auth keyed by src —
  * plus two 1-row total aggregates that enter the next projection as a
  * broadcast cross join, never a driver collect.
  */
object Hits {

  /** Total fixed-point L1 mass. 1e9 (not PageRank's 1e12): the
    * normalization multiply `raw * Scale` must stay under Long.Max with
    * raw ≤ Scale (see overflow note above). */
  val Scale = 1000000000L

  /** Scores for the directed graph `edges(src, dst)`. Output:
    * (node, auth_fp bigint, hub_fp bigint, auth double, hub double). */
  def run(edges: DataFrame, iterations: Int = 8,
          srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val e = RankPropagation.edges(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    LocalIter.collectSmall(e) match {
      case Some(rows) => // driver-local loop, the same Long arithmetic
        val es = rows.map(r => (r.get(0), r.get(1)))
        val nodes = LocalIter.nodeSet(es)
        def halfStep(scores: java.util.HashMap[Any, Long],
                     fromSrc: Boolean): java.util.HashMap[Any, Long] = {
          val raw = new java.util.HashMap[Any, Long]()
          es.foreach { case (s, d) =>
            if (fromSrc) raw.merge(d, scores.get(s), _ + _) else raw.merge(s, scores.get(d), _ + _)
          }
          var tot = 0L
          raw.forEach((_, v) => tot += v)
          val out = new java.util.HashMap[Any, Long]()
          nodes.forEach(nd => out.put(nd, raw.getOrDefault(nd, 0L) * Scale / tot))
          out
        }
        var hubs = new java.util.HashMap[Any, Long]()
        nodes.forEach(nd => hubs.put(nd, Scale / nodes.size))
        var auth = hubs
        for (_ <- 1 to iterations) {
          auth = halfStep(hubs, fromSrc = true)
          hubs = halfStep(auth, fromSrc = false)
        }
        RankPropagation.localOutput(e.sparkSession, e.schema("src").dataType, nodes, Scale,
          "auth" -> auth, "hub" -> hubs)
      case None =>
        val (nodes, n) = RankPropagation.nodeTable(e, None)
        if (n == 0) // empty graph → empty result with the right schema
          return RankPropagation.output(
            nodes.select(col("node"), lit(0L).as("auth_fp"), lit(0L).as("hub_fp")),
            Scale, "auth", "hub")
        // one L1-normalized half-step: inflow sums keyed by `key`, renormalized
        // to Scale by exact integer floor division against the 1-row total
        def halfStep(scores: DataFrame, from: String, key: String): DataFrame = {
          val raw = e.join(scores, e(from) === scores("node"))
            .groupBy(col(key).as("node")).agg(sum(col("v")).as("raw"))
          val tot = raw.agg(sum(col("raw")).as("tot")) // ≥ 1 while edges exist (see scaladoc)
          nodes.join(raw, Seq("node"), "left_outer").crossJoin(broadcast(tot))
            .select(col("node"), expr(s"coalesce(raw, 0L) * ${Scale}L div tot").as("v"))
            .localCheckpoint()
        }
        var hubs = nodes.select(col("node"), lit(Scale / n).as("v"))
        var auth = hubs
        for (_ <- 1 to iterations) {
          auth = halfStep(hubs, from = "src", key = "dst")
          hubs = halfStep(auth, from = "dst", key = "src")
        }
        RankPropagation.output(auth.withColumnRenamed("v", "auth_fp")
          .join(hubs.withColumnRenamed("v", "hub_fp"), "node"), Scale, "auth", "hub")
    }
  }

  /** The unrolled-iterations DuckDB oracle, parametrized by the edge-set
    * SQL (the [[PageRank]] q54/q66 oracle pattern): every update is pure
    * integer arithmetic, so the second engine reproduces the Spark scores
    * bit-identically.
    *
    * The normalization total is a window `sum() OVER ()` INSIDE the
    * normalize CTE (not a separate 1-row CTE joined back): DuckDB inlines
    * non-recursive CTEs per reference, so a raw-CTE referenced twice would
    * double the inlined subtree EVERY iteration — 2^(2·iters) scans of the
    * pin ("Too many open files"). The window keeps each CTE referenced
    * exactly once ⇒ a linear chain. The LEFT-JOIN zero rows add nothing to
    * the window sum, so the total is identical to the Spark side's 1-row
    * aggregate. */
  def oracleSqlFromEdges(edgeSql: String, iterations: Int): String = {
    val iters = (1 to iterations).map { k =>
      s"""a${k}raw AS (SELECT e.dst AS node, sum(h.v) AS raw
                 FROM e JOIN h${k - 1} h ON h.node = e.src GROUP BY e.dst),
          a$k AS (SELECT n.node,
                 coalesce(r.raw, 0) * 1000000000 // sum(coalesce(r.raw, 0)) OVER () AS v
                 FROM nodes n LEFT JOIN a${k}raw r ON r.node = n.node),
          h${k}raw AS (SELECT e.src AS node, sum(a.v) AS raw
                 FROM e JOIN a$k a ON a.node = e.dst GROUP BY e.src),
          h$k AS (SELECT n.node,
                 coalesce(r.raw, 0) * 1000000000 // sum(coalesce(r.raw, 0)) OVER () AS v
                 FROM nodes n LEFT JOIN h${k}raw r ON r.node = n.node)"""
    }.mkString(",\n          ")
    s"""WITH e0 AS ($edgeSql),
          e AS (SELECT DISTINCT src, dst FROM e0),
          nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
          h0 AS (SELECT node, 1000000000 // (SELECT count(*) FROM nodes) AS v FROM nodes),
          $iters
       SELECT n.node, CAST(a.v AS BIGINT) AS auth_fp, CAST(h.v AS BIGINT) AS hub_fp,
              CAST(a.v AS DOUBLE) / 1000000000.0 AS auth,
              CAST(h.v AS DOUBLE) / 1000000000.0 AS hub
       FROM nodes n
       JOIN a$iterations a ON a.node = n.node
       JOIN h$iterations h ON h.node = n.node"""
  }
}
