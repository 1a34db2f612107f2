package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicated-substring detection (the ExactSubstr half of Lee et al.
  * 2022, "Deduplicating Training Data Makes Language Models Better"): flag
  * every n-token window that occurs more than once ANYWHERE in the corpus,
  * and report per document how much of its text those windows cover — the
  * masking signal substring-level dedup acts on (C4-style span/line dedup
  * catches re-used sentences; this catches verbatim boilerplate at any
  * alignment, the dominant duplication mode in crawled webtext).
  *
  * Scale design: one corpus scan tokenizes into a slim projection,
  * lazily localCheckpointed (stored by the first job that reads it; no cache
  * entry outlives the call);
  * n-gram occurrences ship as (doc_id, pos, 128-bit md5(gram)) — the shuffle
  * carries 16-byte keys, never the window text (the q21 fingerprint
  * discipline; a collision needs ~2^64 distinct windows). The duplicate
  * filter is a count keyed by gram hash whose exchange is REUSED by the
  * occurrence join (same key), and the per-doc coverage is a single
  * (doc_id)-keyed window over duplicated occurrences only — corpus-sized
  * nothing, duplicated-mass-sized everything past the first aggregation.
  *
  * Coverage is the exact union length of the per-doc intervals [pos, pos+n):
  * with a FIXED window length, occurrences sorted by pos have sorted ends,
  * so |∪ intervals| = n + Σ min(n, pos_i − pos_{i−1}) — one lag() window,
  * pure integers, no interval merging state. (Spark's `least` IGNORES null
  * lag on the first row — the q73 gotcha — so the null branch is an explicit
  * CASE on both engines.)
  */
object SubstrDedup {

  /** Per-doc duplicated-n-gram coverage. Output: (doc_id, n_tokens, n_grams,
    * n_dup_occ, covered_tokens, dup_ratio) — n_grams = max(n_tokens-n+1, 0),
    * n_dup_occ = this doc's occurrences of corpus-duplicated grams,
    * covered_tokens = union length of their [pos, pos+n) intervals,
    * dup_ratio = covered/n_tokens rounded to 4. */
  def dupNgramCoverage(docs: DataFrame, n: Int = 8, textCol: String = "text"): DataFrame = {
    require(n >= 2, s"window length must be >= 2, got $n")
    // tokenize ONCE: the projection feeds both the occurrence stream and the
    // final per-doc row (slim vs the corpus bytes, same rule as LmScore).
    // Inputs.spread: the per-window md5 stream derives from this
    // checkpointed projection's partitioning — on unsplittable input it
    // would run on 1-2 tasks (A/B: 1.35 s vs 1.72 s warm at sf0.1)
    val toks = Inputs.spread(docs)
      .select(col("doc_id"), TextStats.words(col(textCol)).as("ws"))
      .localCheckpoint(eager = false)
    // positions explode through GenerateExec and the slice+concat+md5 run
    // in the following codegen projection — the previous transform() lambda
    // evaluated the whole window chain interpreted, per gram
    val occ = toks.filter(size(col("ws")) >= n)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0L), (size(col("ws")) - n).cast("long"))).as("pos"))
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(" ", slice(col("ws"), (col("pos") + 1).cast("int"), lit(n)))).as("g"))
    val dupGrams = occ.groupBy("g").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1L).select("g")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val cov = occ.join(dupGrams, Seq("g"))
      .withColumn("gap", col("pos") - lag("pos", 1).over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_occ"),
        (lit(n.toLong) +
          sum(when(col("gap").isNull, 0L).otherwise(least(lit(n.toLong), col("gap")))))
          .as("covered_tokens"))
    toks.select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") >= n, col("n_tokens") - (n - 1)).otherwise(0L).as("n_grams"),
        coalesce(col("n_dup_occ"), lit(0L)).as("n_dup_occ"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        when(col("n_tokens") === 0L, lit(0.0))
          .otherwise(round(coalesce(col("covered_tokens"), lit(0L)).cast("double") /
            col("n_tokens").cast("double"), 4)).as("dup_ratio"))
  }

  /** DuckDB oracle: identical gram stream (canonical tokenization, md5 keys,
    * 0-based positions) and the identical lag-window union length. */
  def oracleSql(n: Int, docsSql: String = "SELECT doc_id, text FROM documents"): String =
    s"""WITH d AS ($docsSql),
          toks AS (SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                        ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS t
                   FROM d),
          gi AS (SELECT doc_id, t, unnest(range(1, len(t) - ${n - 2})) AS i FROM toks),
          occ AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                  md5(array_to_string(t[i : i + ${n - 1}], ' ')) AS g FROM gi),
          dup AS (SELECT g FROM occ GROUP BY g HAVING count(*) > 1),
          gaps AS (SELECT doc_id, pos,
                   pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS gap
                   FROM occ JOIN dup USING (g)),
          cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_occ,
                  CAST($n + sum(CASE WHEN gap IS NULL THEN 0
                                ELSE least($n, gap) END) AS BIGINT) AS covered_tokens
                  FROM gaps GROUP BY doc_id)
       SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
              CAST(CASE WHEN len(t.t) >= $n THEN len(t.t) - ${n - 1} ELSE 0 END AS BIGINT) AS n_grams,
              CAST(coalesce(c.n_dup_occ, 0) AS BIGINT) AS n_dup_occ,
              CAST(coalesce(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
              CASE WHEN len(t.t) = 0 THEN 0.0
                   ELSE round(coalesce(c.covered_tokens, 0) * 1.0 / len(t.t), 4) END AS dup_ratio
       FROM toks t LEFT JOIN cov c USING (doc_id)"""
}
