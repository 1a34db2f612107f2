package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DSIR-style data selection (Xie et al. 2023, "Data Selection for Language
  * Models via Importance Resampling"): score every raw document by how much
  * more likely its hashed-n-gram bag is under the TARGET distribution than
  * under the RAW distribution, then keep the top-m — the standard way a
  * 100 TB crawl is narrowed toward a small high-quality target domain before
  * training.
  *
  * Feature space: unigrams + bigrams of the whitespace-lowercase
  * tokenization, hashed into a FIXED 65,536-bucket space by md5-prefix
  * (`substring(md5(gram), 1, 4)` — the hashing trick, and the same
  * string-keyed md5 discipline as the q38/q48 samplers, so DuckDB computes
  * the identical buckets). Per-bucket weight is the Laplace-smoothed
  * log-odds, kept as a fixed-point Long:
  *
  *   w(b) = floor(1e6 · ln( ((cp(b)+1)·(Nq+B)) / ((cq(b)+1)·(Np+B)) ))
  *
  * — a SINGLE ln of a ratio of exact integer products per bucket, so both
  * engines feed ln the identical double and the floor can only disagree if
  * 1e6·ln(x) lands within ~1e-9 of an integer (measure-zero in practice;
  * the same boundary argument as the repo's round(x,4) ratio oracles). Doc
  * scores are then exact Long SUMS of bucket weights — associative,
  * partitioning-independent, cross-engine bit-identical.
  *
  * Scale design: the weight table is AT MOST 65,536 rows no matter the
  * corpus size, so the scoring join is a broadcast — the corpus-sized gram
  * stream never shuffles for it. Raw grams are extracted ONCE
  * (lazily localCheckpointed: the first job that reads them stores them,
  * and no cache entry outlives the call) and reused for both the q̂ counts and the
  * scoring pass; the per-doc sum
  * partial-aggregates map-side; selection is `orderBy().limit()` =
  * TakeOrderedAndProject, a bounded per-partition heap + driver merge of m
  * rows, never a global sort. Ties break by doc_id, so the selected set is
  * deterministic.
  */
object Dsir {

  /** Hashed feature-space size: 16^4 md5-prefix buckets. */
  val B = 65536

  /** Fixed-point scale for the per-bucket log-odds. */
  val LogScale = 1000000L

  /** (doc_id, b) — one row per unigram/bigram OCCURRENCE (bag semantics,
    * multiplicity kept), hashed to its md5-prefix bucket. Empty/whitespace
    * docs contribute nothing (and are therefore never selected). */
  def grams(docs: DataFrame): DataFrame = {
    // explicit whitespace class: Java \s also matches U+000B, RE2's doesn't
    val t = split(lower(trim(col("text"))), "[ \\t\\n\\f\\r]+")
    // one codegen'd generate: k ∈ [0, 2·len−2]; k < len is unigram t[k+1],
    // else bigram (t[k−len+1], t[k−len+2]) — the same gram BAG as the old
    // unigram-array ++ zip_with-bigram formulation without its interpreted
    // per-element lambdas (bucket counts are order-insensitive)
    docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), t.as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), size(col("t")) * 2 - 2)).as("k"))
      .select(col("doc_id"),
        when(col("k") < size(col("t")), element_at(col("t"), col("k") + 1))
          .otherwise(concat(
            element_at(col("t"), col("k") - size(col("t")) + 1), lit(" "),
            element_at(col("t"), col("k") - size(col("t")) + 2))).as("g"))
      .select(col("doc_id"), substring(md5(col("g").cast("binary")), 1, 4).as("b"))
  }

  /** Importance scores for every (non-empty) raw doc:
    * (doc_id, score_fp bigint, n_grams bigint). The raw grams and both
    * bucket tables are lazy local checkpoints. */
  def score(raw: DataFrame, target: DataFrame): DataFrame = {
    // one gram-extraction pass over the raw corpus: feeds BOTH the q̂
    // bucket counts and the scoring join. (An Inputs.spread before the
    // gram pass was probed and measured FLAT-to-negative here — the
    // materialization already follows the explode, and the extra exchange
    // of raw text costs what the parallel md5 saves.)
    val rg = grams(raw).localCheckpoint(eager = false)
    // cq/cp are each consumed twice (weight join + N totals) — checkpoint
    // the ≤65,536-row bucket tables so the corpus-gram aggregation runs
    // ONCE and the target extraction isn't replayed for its total
    val cq = rg.groupBy("b").agg(count(lit(1)).as("cq")).localCheckpoint(eager = false)
    val cp = grams(target).groupBy("b").agg(count(lit(1)).as("cp")).localCheckpoint(eager = false)
    val tot = cq.agg(sum(col("cq")).as("nq"))
      .crossJoin(cp.agg(sum(col("cp")).as("np"))) // 1 row
    // raw docs only carry buckets present in cq, so cq is the spine
    val lam = cq.join(cp, Seq("b"), "left_outer").crossJoin(broadcast(tot))
      .select(col("b"),
        // the exact expression the oracle repeats: (cp+1)·(Nq+B) and
        // (cq+1)·(Np+B) as doubles, ONE ln, floor to fixed-point
        floor(lit(LogScale.toDouble) * log(
          ((coalesce(col("cp"), lit(0L)) + lit(1.0)) * (col("nq") + lit(B.toDouble))) /
            ((col("cq") + lit(1.0)) * (col("np") + lit(B.toDouble))))).as("w"))
    rg.join(broadcast(lam), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("w")).as("score_fp"), count(lit(1)).as("n_grams"))
  }

  /** Top-m raw docs by importance (ties → lowest doc_id):
    * TakeOrderedAndProject, so the heap is bounded at m per partition. */
  def select(raw: DataFrame, target: DataFrame, m: Int): DataFrame =
    score(raw, target).orderBy(desc("score_fp"), asc("doc_id")).limit(m)

  private def gramsSql(rel: String): String =
    s"""SELECT doc_id, unnest(list_concat(t,
          [t[i] || ' ' || t[i+1] for i in range(1, len(t))])) AS g
        FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
              FROM $rel WHERE length(trim(text)) > 0)"""

  /** DuckDB oracle: the identical tokenization, md5 bucketing, smoothed
    * fixed-point log-odds, exact Long doc sums, and tie-broken LIMIT —
    * `rawWhere`/`targetWhere` select the two slices of `documents`. */
  def oracleSql(rawWhere: String, targetWhere: String, m: Int): String =
    s"""WITH rg AS (${gramsSql(s"(SELECT doc_id, text FROM documents WHERE $rawWhere)")}),
          tg AS (${gramsSql(s"(SELECT doc_id, text FROM documents WHERE $targetWhere)")}),
          rb AS (SELECT doc_id, substring(md5(g), 1, 4) AS b FROM rg),
          tb AS (SELECT substring(md5(g), 1, 4) AS b FROM tg),
          cq AS (SELECT b, count(*) AS cq FROM rb GROUP BY b),
          cp AS (SELECT b, count(*) AS cp FROM tb GROUP BY b),
          tot AS (SELECT (SELECT count(*) FROM rb) AS nq,
                         (SELECT count(*) FROM tb) AS np),
          lam AS (SELECT cq.b,
                 CAST(floor(1000000.0 * ln(
                   ((coalesce(cp.cp, 0) + 1.0) * (t.nq + 65536.0)) /
                   ((cq.cq + 1.0) * (t.np + 65536.0)))) AS BIGINT) AS w
                 FROM cq LEFT JOIN cp ON cp.b = cq.b, tot t),
          sc AS (SELECT rb.doc_id, CAST(sum(l.w) AS BIGINT) AS score_fp,
                        CAST(count(*) AS BIGINT) AS n_grams
                 FROM rb JOIN lam l ON l.b = rb.b GROUP BY rb.doc_id)
       SELECT doc_id, score_fp, n_grams FROM sc
       ORDER BY score_fp DESC, doc_id LIMIT $m"""
}
