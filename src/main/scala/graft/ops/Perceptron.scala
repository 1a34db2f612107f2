package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed quality-classifier training: a batch perceptron
  * (Rosenblatt 1958, batch/gradient form) over integer scan-side text
  * features — the in-engine counterpart of the fastText-style quality
  * classifiers modern curation pipelines train (DCLM, FineWeb-Edu) to
  * replace hand-tuned heuristic gates.
  *
  * Determinism design (the repo invariant): EVERYTHING is exact integer
  * arithmetic. Features are raw counts (tokens, stopword hits, punctuation
  * chars), weights are Longs, the epoch update is `w += Σ_misclassified y·x`
  * with unit learning rate — Long sums are exact and associative, so the
  * trained weights are bit-identical at any partitioning and core count,
  * and a DuckDB oracle can unroll the epochs CTE-by-CTE and reproduce
  * score/prediction EXACTLY (no sigmoid, no float sum, no ulp caveats —
  * the lesson of ops/LmScore.scala:21 applied at design time).
  *
  * Scale design (the q63 k-means discipline, ops/Kmeans.scala:37): the
  * integer feature projection is computed once at scan rate (collected to
  * the driver under the [[graft.kg.LocalIter]] bound, localCheckpointed
  * above it);
  * each epoch is ONE map-side-combined aggregation collecting exactly
  * F+1 longs to the driver (the bounded-collect rule), and the updated
  * weights re-enter the next epoch as LITERALS — the plan never grows with
  * the epoch count and no corpus row ever shuffles. Overflow headroom: a
  * gradient component is bounded by Σ|x_j| ≤ docs·maxCount; at 1e12 docs ×
  * 1e4 tokens that exceeds Long — a production run caps per-epoch gradient
  * mass by averaging over a fixed-denominator minibatch (same arithmetic,
  * scaled counts); the engine's SF inputs sit 8 orders below the bound.
  *
  * Label: the integer-exact stopword-density rule `20·n_stop ≥ n_tokens > 0`
  * (the ratio ≥ 0.05 gate from [[TextStats.qualityScore]] without the float
  * division) — a real separable target the perceptron genuinely learns, and
  * one the oracle reproduces without rounding.
  */
object Perceptron {

  /** Feature projection: (doc_id, y, x1, x2, x3) — all BIGINT.
    * x1 = whitespace tokens, x2 = stopword tokens, x3 = punctuation chars;
    * the bias is weight w0 against implicit x0 = 1. */
  def features(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = TextStats.words(t)
    val nTok = TextStats.tokenCount(t).cast("long")
    val nStop = size(filter(toks, w => w.isin(TextStats.EnStopwords: _*))).cast("long")
    val nPunct = length(regexp_replace(t, "[^.,;:!?'\"()\\[\\]-]", "")).cast("long")
    docs.select(col("doc_id"),
      when(nStop * 20L >= nTok && nTok > 0L, 1L).otherwise(-1L).as("y"),
      nTok.as("x1"), nStop.as("x2"), nPunct.as("x3"))
  }

  /** Trained weights (w0=bias, w1..w3) after `epochs` full-batch passes
    * from zero init. One bounded collect of 4 longs per epoch. */
  def train(feats: DataFrame, epochs: Int): Array[Long] = {
    val proj = feats.select(col("y"), col("x1"), col("x2"), col("x3"))
    // bounded-corpus early-out: one collect of the slim integer feature
    // rows replaces the per-epoch aggregation jobs — identical exact Long
    // update (PerceptronSpec's oracle parity covers both paths). The gate's
    // count prunes the features to a row count, so they are only
    // materialized on the path that reads them every epoch.
    val small = graft.kg.LocalIter.collectSmall(proj)
    if (small.isDefined) {
      val rows = small.get.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      var wl = Array(0L, 0L, 0L, 0L)
      (1 to epochs).foreach { _ =>
        var g0 = 0L; var g1 = 0L; var g2 = 0L; var g3 = 0L
        rows.foreach { case (y, x1, x2, x3) =>
          val dot = wl(0) + wl(1) * x1 + wl(2) * x2 + wl(3) * x3
          if ((y == 1L) != (dot > 0L)) { g0 += y; g1 += y * x1; g2 += y * x2; g3 += y * x3 }
        }
        wl = Array(wl(0) + g0, wl(1) + g1, wl(2) + g2, wl(3) + g3)
      }
      return wl
    }
    val f = proj.localCheckpoint(eager = false)
    var w = Array(0L, 0L, 0L, 0L)
    (1 to epochs).foreach { _ =>
      val dot = lit(w(0)) + lit(w(1)) * col("x1") +
        lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
      // batch update: all rows judged against the PRE-epoch weights
      val mis = (col("y") === 1L) =!= (dot > 0L)
      val g = f.filter(mis)
        .agg(coalesce(sum(col("y")), lit(0L)),
          coalesce(sum(col("y") * col("x1")), lit(0L)),
          coalesce(sum(col("y") * col("x2")), lit(0L)),
          coalesce(sum(col("y") * col("x3")), lit(0L)))
        .head()
      w = Array(w(0) + g.getLong(0), w(1) + g.getLong(1),
        w(2) + g.getLong(2), w(3) + g.getLong(3))
    }
    w
  }

  /** Train on `docs` then score every doc with the final weights:
    * (doc_id, label, score, pred) — score is the exact integer margin. */
  def classify(docs: DataFrame, epochs: Int = 5,
               textCol: String = "text"): DataFrame = {
    val f = features(docs, textCol)
    val w = train(f, epochs)
    f.select(col("doc_id"), col("y").as("label"),
      (lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
        lit(w(3)) * col("x3")).as("score"))
      .withColumn("pred", col("score") > 0L)
  }

  /** Unrolled-epochs DuckDB oracle. Each epoch CTE cross-joins the previous
    * 1-row weight table exactly once and re-aggregates — every CTE is
    * single-reference, so DuckDB's per-reference CTE inlining stays a LINEAR
    * chain (the [[graft.kg.Hits]] oracle lesson). DuckDB sums BIGINT into
    * HUGEINT; the final CASTs pin the output back to BIGINT. */
  def oracleSql(epochs: Int, table: String = "documents"): String = {
    val sw = TextStats.EnStopwords.map(s => s"'$s'").mkString(",")
    val feats =
      s"""SELECT doc_id,
            CASE WHEN ns * 20 >= nt AND nt > 0 THEN 1 ELSE -1 END AS y,
            nt AS x1, ns AS x2, np AS x3
          FROM (SELECT doc_id,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS nt,
            CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                      x -> x IN ($sw))) END AS ns,
            length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS np
            FROM $table)"""
    val chain = (1 to epochs).map { k =>
      s"""w$k AS (SELECT
            max(w0) + coalesce(sum(CASE WHEN mis THEN y END), 0) AS w0,
            max(w1) + coalesce(sum(CASE WHEN mis THEN y * x1 END), 0) AS w1,
            max(w2) + coalesce(sum(CASE WHEN mis THEN y * x2 END), 0) AS w2,
            max(w3) + coalesce(sum(CASE WHEN mis THEN y * x3 END), 0) AS w3
          FROM (SELECT f.y, f.x1, f.x2, f.x3, w.w0, w.w1, w.w2, w.w3,
                  ((f.y = 1) <> (w.w0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3 > 0)) AS mis
                FROM f CROSS JOIN w${k - 1} w))"""
    }.mkString(",\n          ")
    s"""WITH f AS ($feats),
          w0 AS (SELECT 0 AS w0, 0 AS w1, 0 AS w2, 0 AS w3),
          $chain
       SELECT f.doc_id, CAST(f.y AS BIGINT) AS label,
              CAST(w.w0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3 AS BIGINT) AS score,
              (w.w0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3 > 0) AS pred
       FROM f CROSS JOIN w$epochs w"""
  }
}
