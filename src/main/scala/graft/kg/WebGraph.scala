package graft.kg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Web-graph construction from raw html — the hyperlink counterpart of
  * [[HtmlText]]: extract every `<a href>` edge (with its anchor text) from
  * the page bytes, then rank pages with the fixed-point [[PageRank]] over
  * the extracted graph. On Common-Crawl-shaped input this is how the page
  * importance signal (a standard curation quality prior) and the KG's
  * document-level edges are actually built.
  *
  * Scale design: extraction is a codegen'd `regexp_extract_all` inside the
  * scan's projection — one pass over the html bytes, no UDF, no parser
  * object per row; the explode multiplies rows by links-per-page (a small
  * constant on real pages), and everything downstream (dedup to distinct
  * edges, PageRank) is keyed shuffles that PageRank already materializes
  * once. The same RE2-compatible pattern runs in DuckDB for the oracle. */
object WebGraph {

  /** href + anchor-text pattern (RE2-compatible: no backrefs/lookarounds). */
  val HrefPattern = "<a href=\"([^\"]+)\">([^<]*)</a>"

  /** (src, dst, anchor) — one row per anchor occurrence, duplicates kept
    * (they are real signal: multiple links to the same target).
    *
    * ONE regex pass over the page bytes: `regexp_extract_all(_, _, 0)` pulls
    * the full `<a …>…</a>` match strings, and the per-group extraction then
    * reruns the pattern only on those short match strings — at 100 TB the
    * html scan dominates this whole operator family, and the previous
    * two-group formulation scanned every page's bytes twice. */
  def links(pages: DataFrame): DataFrame = {
    val h = col("html").cast("string")
    pages.select(col("url").as("src"),
        explode(regexp_extract_all(h, lit(HrefPattern), lit(0))).as("m"))
      .select(col("src"), regexp_extract(col("m"), HrefPattern, 1).as("dst"),
        regexp_extract(col("m"), HrefPattern, 2).as("anchor"))
  }

  /** PageRank over the extracted link graph (distinct edges — dedup happens
    * inside [[PageRank.run]]). Bit-deterministic fixed-point ranks. */
  def pagerank(pages: DataFrame, iterations: Int = 10): DataFrame =
    PageRank.run(links(pages).select("src", "dst"), iterations)

  /** Host of a url (the part between `://` and the first `/`). Same regexp
    * both engines — no parse_url dependency (DuckDB has none). */
  def host(url: Column): Column =
    regexp_extract(url, "^https?://([^/]+)", 1)

  /** Anchor-text profile per TARGET page — "what the web calls this page",
    * the classical anchor signal for entity naming / linking: in-link
    * count, distinct anchor count, distinct linking hosts, and the most
    * common anchor (ties → lexicographically smallest). One aggregation
    * keyed by (dst, anchor) then a bounded-heap top-1 per dst — the
    * two-phase shape that survives hot targets (a hub's million in-links
    * partial-aggregate map-side; no per-dst sort). The edge projection is
    * a lazy local checkpoint: the first job that reads it stores it, and
    * no cache entry outlives the call. */
  def anchorProfile(pages: DataFrame): DataFrame = {
    // the edge projection feeds two independent aggregation branches
    // (perAnchor→totals/top and hosts) — checkpoint it so the html
    // extraction, the dominant cost at scale, runs ONCE instead of once
    // per branch (the q53 lesson)
    val l = links(pages).withColumn("src_host", host(col("src"))).localCheckpoint(eager = false)
    val perAnchor = l.groupBy("dst", "anchor")
      .agg(count(lit(1)).as("n"))
    val totals = perAnchor.groupBy("dst")
      .agg(sum("n").cast("long").as("n_inlinks"),
        count(lit(1)).as("n_anchors"))
    val top = graft.plans.TopK.perKey(perAnchor, Seq(col("dst")),
        Seq(desc("n"), asc("anchor")), 1, rnName = "rn")
      .select(col("dst"), col("anchor").as("top_anchor"),
        col("n").cast("long").as("top_anchor_n"))
    val hosts = l.groupBy("dst").agg(countDistinct(col("src_host")).as("n_src_hosts"))
    totals.join(top, Seq("dst")).join(hosts, Seq("dst"))
      .select(col("dst"), col("n_inlinks"), col("n_anchors"),
        col("n_src_hosts"), col("top_anchor"), col("top_anchor_n"))
  }

  /** Host-level rollup of the link graph: (src_host, dst_host, n_links,
    * n_pages) — the domain graph curation pipelines use for spam/quality
    * priors. Pure two-column aggregation over the extracted edges. */
  def hostGraph(pages: DataFrame): DataFrame =
    links(pages)
      .select(host(col("src")).as("src_host"), host(col("dst")).as("dst_host"),
        col("src"))
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("src")).as("n_pages"))

  /** q67 oracle: profile recomputed from the pin extraction. */
  def oracleSqlAnchorProfile(pagesPin: String): String =
    s"""WITH u AS (SELECT src, dst, anchor,
                   regexp_extract(src, '^https?://([^/]+)', 1) AS src_host
                   FROM (SELECT url AS src,
                           unnest(regexp_extract_all(decode(html), '$HrefPattern', 1)) AS dst,
                           unnest(regexp_extract_all(decode(html), '$HrefPattern', 2)) AS anchor
                         FROM '$pagesPin')),
          pa AS (SELECT dst, anchor, CAST(count(*) AS BIGINT) AS n
                 FROM u GROUP BY dst, anchor),
          tot AS (SELECT dst, CAST(sum(n) AS BIGINT) AS n_inlinks,
                  CAST(count(*) AS BIGINT) AS n_anchors FROM pa GROUP BY dst),
          top AS (SELECT dst, anchor AS top_anchor, n AS top_anchor_n FROM pa
                  QUALIFY row_number() OVER (PARTITION BY dst ORDER BY n DESC, anchor) = 1),
          h AS (SELECT dst, CAST(count(DISTINCT src_host) AS BIGINT) AS n_src_hosts
                FROM u GROUP BY dst)
       SELECT tot.dst, n_inlinks, n_anchors, n_src_hosts, top_anchor, top_anchor_n
       FROM tot JOIN top USING (dst) JOIN h USING (dst)"""

  /** q68 oracle: host rollup from the pin extraction. */
  def oracleSqlHostGraph(pagesPin: String): String =
    s"""WITH u AS (SELECT url AS src,
                   unnest(regexp_extract_all(decode(html), '<a href="([^"]+)"', 1)) AS dst
                   FROM '$pagesPin')
       SELECT regexp_extract(src, '^https?://([^/]+)', 1) AS src_host,
              regexp_extract(dst, '^https?://([^/]+)', 1) AS dst_host,
              CAST(count(*) AS BIGINT) AS n_links,
              CAST(count(DISTINCT src) AS BIGINT) AS n_pages
       FROM u GROUP BY 1, 2"""

  /** Per-node triangle counts over the UNDIRECTED page graph — the
    * clustering-coefficient numerator (link-spam rings and boilerplate nav
    * blocks show up as dense triangles). Degree-ORIENTED enumeration, the
    * standard skew-proof shape: every undirected edge points from its
    * lower-(degree, id) endpoint to the higher, so each triangle is counted
    * exactly once from its smallest vertex and the wedge join fans out from
    * LOW-degree vertices only — a hub with a million in-links contributes no
    * wedges of its own, bounding the join at O(m^1.5) instead of
    * O(m · maxDeg). No global rank/window: the orientation is a local
    * (deg, id) tuple comparison after one degree aggregation. */
  def triangles(pages: DataFrame): DataFrame = {
    val und = undirected(pages)
    triangleCounts(und, degrees(und))
  }

  /** The distinct undirected page edge set, materialized once — deg and the
    * orientation join reference it three times between them, and each
    * un-materialized reference would re-run the html extraction. */
  private def undirected(pages: DataFrame): DataFrame =
    links(pages)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint()

  private def degrees(und: DataFrame): DataFrame =
    und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))

  private def triangleCounts(und: DataFrame, deg: DataFrame): DataFrame = {
    val o = und
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), Seq("u"))
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u")).otherwise(col("v")).as("a"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v")).otherwise(col("u")).as("b"))
    // wedges at the low vertex, closed by an oriented edge between the tips.
    // The tip edge exists in o in exactly ONE direction, so close with TWO
    // hash equi-joins unioned — an OR join condition would plan as a
    // BroadcastNestedLoopJoin (O(wedges × edges), the anti-pattern)
    val w = o.as("e1").join(o.as("e2"),
        col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val closed = w.join(o.as("e3"),
        col("y") === col("e3.a") && col("z") === col("e3.b"))
      .select(col("x"), col("y"), col("z"))
      .union(w.join(o.as("e3"),
          col("z") === col("e3.a") && col("y") === col("e3.b"))
        .select(col("x"), col("y"), col("z")))
    closed.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Local clustering coefficient per node: cc = 2·t / (d·(d−1)) — the
    * link-spam / boilerplate-ring detector normalized by what the node's
    * degree makes possible. EVERY node of the graph reports (zero-triangle
    * and degree-1 nodes read cc = 0). Integers are exact Longs; cc is one
    * IEEE division of exact Longs then the `round(_, 4)` canonicalization.
    * Costs the triangle plan + one degree join — the undirected edge set is
    * materialized once and shared. */
  def clusteringCoeff(pages: DataFrame): DataFrame = {
    val und = undirected(pages)
    // |V|-sized and consumed by the orientation join, the cap, AND the
    // final cc join — checkpoint so the degree aggregation runs once
    val deg = degrees(und).localCheckpoint()
    deg.withColumnRenamed("n", "node")
      .join(triangleCounts(und, deg), Seq("node"), "left_outer")
      .select(col("node"), col("d"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("d") < 2, lit(0.0)).otherwise(
          round(coalesce(col("n_triangles"), lit(0L)).cast("double") * 2.0 /
            (col("d") * (col("d") - 1L)).cast("double"), 4)).as("cc"))
  }

  /** q70 oracle: identical degree-oriented enumeration from the pin. */
  def oracleSqlTriangles(pagesPin: String): String =
    s"""WITH l AS (SELECT url AS src,
                   unnest(regexp_extract_all(decode(html), '<a href="([^"]+)"', 1)) AS dst
                   FROM '$pagesPin'),
          und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                  FROM l WHERE src <> dst),
          deg AS (SELECT n, count(*) AS d FROM
                  (SELECT u AS n FROM und UNION ALL SELECT v FROM und) GROUP BY n),
          o AS (SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN u ELSE v END AS a,
                       CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN v ELSE u END AS b
                FROM und JOIN deg du ON du.n = und.u JOIN deg dv ON dv.n = und.v),
          w AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM o e1 JOIN o e2 ON e1.a = e2.a AND e1.b < e2.b),
          t AS (SELECT x, y, z FROM w JOIN o e3
                ON (w.y = e3.a AND w.z = e3.b) OR (w.z = e3.a AND w.y = e3.b)),
          n AS (SELECT x AS node FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t)
       SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM n GROUP BY node"""

  /** q94 oracle: the q70 triangle chain + the degree join and the
    * round-4 canonicalized ratio. */
  def oracleSqlClusteringCoeff(pagesPin: String): String =
    s"""WITH tri AS (${oracleSqlTriangles(pagesPin)}),
          l AS (SELECT url AS src,
                unnest(regexp_extract_all(decode(html), '<a href="([^"]+)"', 1)) AS dst
                FROM '$pagesPin'),
          und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                  FROM l WHERE src <> dst),
          deg AS (SELECT n AS node, count(*) AS d FROM
                  (SELECT u AS n FROM und UNION ALL SELECT v FROM und) GROUP BY n)
       SELECT deg.node, CAST(deg.d AS BIGINT) AS d,
              CAST(coalesce(tri.n_triangles, 0) AS BIGINT) AS n_triangles,
              CASE WHEN deg.d < 2 THEN 0.0
                   ELSE round(CAST(coalesce(tri.n_triangles, 0) AS DOUBLE) * 2.0
                              / CAST(deg.d * (deg.d - 1) AS DOUBLE), 4)
              END AS cc
       FROM deg LEFT JOIN tri ON tri.node = deg.node"""

  /** q65 oracle: the identical RE2 extraction over the pinned pages. */
  def oracleSqlLinks(pagesPin: String): String =
    s"""WITH p AS (SELECT url, decode(html) AS h FROM '$pagesPin'),
          d AS (SELECT url AS src,
                regexp_extract_all(h, '$HrefPattern', 1) AS dsts,
                regexp_extract_all(h, '$HrefPattern', 2) AS anchors FROM p),
          u AS (SELECT src, unnest(dsts) AS dst, unnest(anchors) AS anchor FROM d)
       SELECT src, dst, anchor FROM u"""

  /** The q66 oracle's edge set: distinct (src, dst) re-extracted from the
    * pin — feeds the shared unrolled-PageRank SQL generator. */
  def oracleEdgeSql(pagesPin: String): String =
    s"""SELECT DISTINCT src, dst FROM (
          SELECT url AS src,
                 unnest(regexp_extract_all(decode(html), '<a href="([^"]+)"', 1)) AS dst
          FROM '$pagesPin')"""
}
