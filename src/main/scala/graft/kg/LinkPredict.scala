package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Neighborhood-overlap link prediction — the KG edge-suggestion primitive:
  * two pages (entities) that share many neighbors but have no edge are the
  * classic candidates for a missing relation (Liben-Nowell & Kleinberg 2003).
  * Scores each non-adjacent pair at distance 2 by common-neighbor count and
  * neighborhood Jaccard |N(a)∩N(b)| / |N(a)∪N(b)|.
  *
  * Shape that survives 100 TB: the pair generator is a wedge self-join keyed
  * by the MID node — the same degree-bounded blocking discipline as the
  * triangle counter and every dedup pair miner. A mid node of degree d emits
  * d·(d-1)/2 wedges, so super-hubs (a nav page linked from everywhere) would
  * detonate the join quadratically; `maxMidDeg` excludes them from wedge
  * generation deterministically. That cap is also the SIGNAL's semantics,
  * not just a safety valve: a shared neighbor that links half the web says
  * nothing about relatedness (the Adamic-Adar 1/log(d) weight formalizes the
  * same intuition — here the weight is hard-thresholded so scores stay exact
  * integers). Degrees and common counts are exact Longs; the only double is
  * the final Jaccard ratio, canonicalized `round(_, 4)` on both engines.
  *
  * The doubled adjacency is materialized ONCE (localCheckpoint) and reused
  * by the degree aggregation and both sides of the self-join — the
  * multi-consumer materialization lesson (q53/anchorProfile).
  */
object LinkPredict {

  /** Candidate edges: (node_a, node_b, n_common, jaccard) for every
    * NON-adjacent pair (a < b) sharing ≥ `minCommon` neighbors through mid
    * nodes of degree ≤ `maxMidDeg`. Input edges may be directed; they are
    * canonicalized to distinct undirected pairs (self-loops dropped). */
  def run(edges: DataFrame, minCommon: Int = 2, maxMidDeg: Int = 1 << 20,
          srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint() // consumed by d2 and by the candidate anti-join
    val d2 = und.select(col("u").as("src"), col("v").as("dst"))
      .union(und.select(col("v").as("src"), col("u").as("dst")))
      .repartition(col("src")) // wedge self-join key
      .localCheckpoint()
    val deg = d2.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
      .localCheckpoint() // consumed by the mid cap and twice by the scorer
    // cap applied BEFORE the self-join: the capped adjacency is what gets
    // joined, so a super-hub never materializes a single wedge
    val d2m = d2.join(
      deg.filter(col("d") <= maxMidDeg).select(col("node").as("src")), Seq("src"))
    val wedges = d2m.as("e1").join(d2m.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .groupBy(col("e1.dst").as("a"), col("e2.dst").as("b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    val cand = wedges.join(und,
      wedges("a") === und("u") && wedges("b") === und("v"), "left_anti")
    cand
      .join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
      .select(col("a").as("node_a"), col("b").as("node_b"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("da") + col("db") - col("n_common")).cast("double"), 4).as("jaccard"))
  }

  /** Adamic-Adar variant: non-adjacent distance-2 pairs scored
    * Σ_mid 1/ln(deg(mid)) — the soft version of the `maxMidDeg` hard cap
    * (a shared neighbor that links everything contributes ~nothing). Scores
    * are fixed-point Longs: each mid node pays ONE `floor(10^6 / ln(deg))`
    * (the single-ln discipline of q72/q80 — one libm call on an exact
    * integer, one IEEE division, one floor, agreed bit-for-bit by both
    * engines), and pair scores are exact Long SUMS of those — associative,
    * partitioning-stable, oracle-recomputable. Same wedge/cap/anti-join
    * shape and 100 TB story as [[run]]. */
  def runAdamicAdar(edges: DataFrame, minCommon: Int = 2,
                    maxMidDeg: Int = 1 << 20,
                    srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint()
    val d2 = und.select(col("u").as("src"), col("v").as("dst"))
      .union(und.select(col("v").as("src"), col("u").as("dst")))
      .repartition(col("src"))
      .localCheckpoint()
    val deg = d2.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    // mids in a wedge have >= 2 distinct neighbors, so ln(d) > 0 always
    val d2w = d2.join(
      deg.filter(col("d") <= maxMidDeg && col("d") >= 2) // deg-1 can't be a mid; ln(1)=0
        .select(col("node").as("src"),
          floor(lit(1000000.0) / log(col("d").cast("double"))).cast("long").as("w_fp")),
      Seq("src"))
    val wedges = d2w.as("e1").join(d2w.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .groupBy(col("e1.dst").as("a"), col("e2.dst").as("b"))
      .agg(count(lit(1)).as("n_common"), sum(col("e1.w_fp")).as("aa_fp"))
      .filter(col("n_common") >= minCommon)
    wedges.join(und,
        wedges("a") === und("u") && wedges("b") === und("v"), "left_anti")
      .select(col("a").as("node_a"), col("b").as("node_b"),
        col("n_common"), col("aa_fp"))
  }

  /** DuckDB oracle for [[runAdamicAdar]]: identical chain, identical
    * single-ln fixed-point mid weights. */
  def oracleSqlAdamicAdar(edgeSql: String, minCommon: Int = 2,
                          maxMidDeg: Int = 1 << 20): String =
    s"""WITH und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                     FROM ($edgeSql) WHERE src <> dst),
          d2 AS (SELECT u AS src, v AS dst FROM und UNION ALL SELECT v, u FROM und),
          deg AS (SELECT src AS node, count(*) AS d FROM d2 GROUP BY src),
          d2w AS (SELECT d2.src, d2.dst,
                  CAST(floor(1000000.0 / ln(CAST(deg.d AS DOUBLE))) AS BIGINT) AS w_fp
                  FROM d2 JOIN deg ON deg.node = d2.src
                  WHERE deg.d <= $maxMidDeg AND deg.d >= 2),
          w AS (SELECT e1.dst AS a, e2.dst AS b, count(*) AS n_common,
                       CAST(sum(e1.w_fp) AS BIGINT) AS aa_fp
                FROM d2w e1 JOIN d2w e2 ON e1.src = e2.src AND e1.dst < e2.dst
                GROUP BY 1, 2
                HAVING count(*) >= $minCommon)
       SELECT w.a AS node_a, w.b AS node_b, CAST(w.n_common AS BIGINT) AS n_common,
              w.aa_fp
       FROM w LEFT JOIN und ON und.u = w.a AND und.v = w.b
       WHERE und.u IS NULL"""

  /** DuckDB oracle: the identical wedge/cap/anti-join/score chain. Degrees
    * and counts are exact integers on both engines; the Jaccard double is
    * one division of exact Longs then `round(_, 4)` — the established
    * ratio canonicalization (q58's dup_ratio). */
  def oracleSqlFromEdges(edgeSql: String, minCommon: Int = 2,
                         maxMidDeg: Int = 1 << 20): String =
    s"""WITH und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                     FROM ($edgeSql) WHERE src <> dst),
          d2 AS (SELECT u AS src, v AS dst FROM und UNION ALL SELECT v, u FROM und),
          deg AS (SELECT src AS node, count(*) AS d FROM d2 GROUP BY src),
          d2m AS (SELECT d2.src, d2.dst FROM d2 JOIN deg ON deg.node = d2.src
                  WHERE deg.d <= $maxMidDeg),
          w AS (SELECT e1.dst AS a, e2.dst AS b, count(*) AS n_common
                FROM d2m e1 JOIN d2m e2 ON e1.src = e2.src AND e1.dst < e2.dst
                GROUP BY 1, 2
                HAVING count(*) >= $minCommon),
          cand AS (SELECT w.a, w.b, w.n_common FROM w
                   LEFT JOIN und ON und.u = w.a AND und.v = w.b
                   WHERE und.u IS NULL)
       SELECT c.a AS node_a, c.b AS node_b, CAST(c.n_common AS BIGINT) AS n_common,
              round(CAST(c.n_common AS DOUBLE) / (da.d + db.d - c.n_common), 4) AS jaccard
       FROM cand c JOIN deg da ON da.node = c.a JOIN deg db ON db.node = c.b"""
}
