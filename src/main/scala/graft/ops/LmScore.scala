package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bigram language-model scoring — the "perplexity filter" of pretraining
  * pipelines (KenLM-style): train bigram/unigram counts on the corpus
  * itself, then score each document by its mean bigram log-likelihood under
  * add-1 smoothing. Gibberish / boilerplate / wrong-language text scores
  * far below fluent text drawn from the corpus distribution.
  *
  * Determinism design: the per-bigram log-probability is quantized to
  * FIXED-POINT (floor(ln(p) · 1e9) as Long) before the per-doc sum, so the
  * aggregation is an exact integer sum — bit-identical at any parallelism
  * (a double sum over shuffled rows would be partition-order-dependent).
  * p itself is a single division of exact integer counts, so both engines
  * compute the identical double. Cross-ENGINE caveat (not cross-partition):
  * the quantization assumes JVM Math.log and the oracle engine's ln agree —
  * both are correctly-rounded in practice, but floor(ln(p)·1e9) can differ
  * by 1 when ln(p)·1e9 lands within ~1e-5 of an integer; the final
  * round(mean, 4) absorbs a single-ulp disagreement, so parity is a tested
  * property of this corpus-scale pipeline, not a bitwise guarantee per
  * bigram.
  *
  * Scale design: the corpus is TOKENIZED ONCE — a localCheckpointed
  * (doc_id, words) projection feeds unigram counts, bigram counts, the
  * scored bigrams and the final per-doc frame (the previous formulation
  * re-derived it per consumer: 10 scans, 5 redundant tokenizations; at a
  * real lake scale this projection would be a parquet checkpoint —
  * kg.Checkpoints). The checkpoint is lazy: the first job that reads the
  * projection stores it, and no cache entry outlives the call. |V| is derived from
  * the unigram table (count of rows), never a separate pass. Counts are
  * hash aggregations (map-side partial); the (w1, w2) model join is a plain
  * shuffle join (model tables grow with the corpus; no broadcast
  * assumption). The w1 unigram join is EXPLICITLY SALTED ([[SkewJoin]]) —
  * unigram keys are Zipf-distributed and stop words are the canonical hot
  * key, the north rule's explicit-skew case — then
  * one count-shaped aggregation per doc. Nothing is collected to the
  * driver.
  */
object LmScore {

  private def words(text: Column): Column = TextStats.words(text)

  /** (doc_id, w1, w2) adjacent-bigram rows of a tokenized (doc_id, ws)
    * frame — positions explode through GenerateExec, the element_at pair
    * projection is codegen (the zip_with lambda it replaces ran
    * interpreted per bigram). */
  private def bigramRows(toks: DataFrame): DataFrame =
    toks.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), size(col("ws")) - 1)).as("i"))
      .select(col("doc_id"),
        element_at(col("ws"), col("i")).as("w1"),
        element_at(col("ws"), col("i") + 1).as("w2"))

  /** Per-doc mean bigram log-likelihood under an add-1-smoothed bigram LM
    * trained on `train` (default: the scored corpus itself). Output:
    * (doc_id, n_bigrams, avg_logp) — avg_logp ≈ 0 ⇒ in-distribution,
    * strongly negative ⇒ out-of-distribution/gibberish. */
  def meanLogProb(docs: DataFrame, trainOn: Option[DataFrame] = None,
                  textCol: String = "text"): DataFrame = {
    // tokenize once; self-train shares the same checkpointed projection
    def tokens(d: DataFrame) =
      d.select(col("doc_id"), words(col(textCol)).as("ws")).localCheckpoint(eager = false)
    val toks = tokens(docs)
    val trainToks = trainOn.map(tokens).getOrElse(toks)

    val uni = trainToks.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    // |V| = row count of the unigram model — no extra pass over the tokens
    val vocab = uni.agg(count(lit(1)).as("v"))
    val big = bigramRows(trainToks).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))

    val withBigram = bigramRows(toks)
      .join(big, Seq("w1", "w2"), "left_outer")
    // w1 → unigram-count join, salted: stop-word keys carry a large share of
    // all bigram rows (Zipf), and this repo handles skew explicitly rather
    // than leaning on AQE's runtime split (north rule)
    val scored = graft.ops.SkewJoin.saltedJoin(
        withBigram, uni.withColumnRenamed("w", "w1u"),
        bigKey = "w1", smallKey = "w1u", joinType = "left_outer")
      .crossJoin(broadcast(vocab))
      // p = (c12 + 1) / (c1 + V): exact-integer operands ⇒ identical double
      // in any engine; fixed-point floor(ln·1e9) ⇒ exact Long sums
      .select(col("doc_id"),
        floor(log((coalesce(col("c12"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast("double")) * lit(1e9))
          .cast("long").as("logp_fp"))

    val perDoc = scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("logp_fp")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("s").cast("double") / (col("n_bigrams").cast("double") * lit(1e9)), 4)
          .as("avg_logp"))

    // docs with < 2 words have no bigrams: emit (0, 0.0) rows for them
    toks.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("avg_logp"), lit(0.0)).as("avg_logp"))
  }

  /** DuckDB oracle for [[meanLogProb]] trained-on-self over `table`. */
  def oracleSql(table: String = "documents"): String =
    s"""WITH toks AS (SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
               ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS t
          FROM $table),
        w AS (SELECT doc_id, unnest(t) AS w FROM toks),
        uni AS (SELECT w, count(*) AS c1 FROM w GROUP BY 1),
        vocab AS (SELECT count(DISTINCT w) AS v FROM w),
        bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
               FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
        big AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        scored AS (SELECT bg.doc_id,
            CAST(floor(ln((coalesce(big.c12, 0) + 1) * 1.0
                 / (coalesce(uni.c1, 0) + vocab.v)) * 1e9) AS BIGINT) AS logp_fp
            FROM bg LEFT JOIN big ON bg.w1 = big.w1 AND bg.w2 = big.w2
            LEFT JOIN uni ON bg.w1 = uni.w
            CROSS JOIN vocab),
        perdoc AS (SELECT doc_id, count(*) AS n_bigrams, sum(logp_fp) AS s
                   FROM scored GROUP BY 1)
     SELECT d.doc_id,
        CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        coalesce(round(p.s * 1.0 / (p.n_bigrams * 1e9), 4), 0.0) AS avg_logp
     FROM $table d LEFT JOIN perdoc p ON d.doc_id = p.doc_id"""
}
