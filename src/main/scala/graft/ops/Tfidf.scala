package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TF-IDF keyword extraction: the top-k most distinctive terms per document —
  * the classical document-salience signal a KG pipeline uses for entity
  * ranking ("is this mention what the page is ABOUT") and a curation
  * pipeline for topic profiling / topical mixture audits.
  *
  * Scale design: one corpus scan → the (doc_id, word, tf) aggregation
  * (map-side combined; the shuffle carries word keys, not text); the
  * vocabulary-sized df table derives from THAT result (same partitioning —
  * the word-keyed exchange is reused, not repeated), with the corpus size
  * entering as a broadcast 1-row cross join; the per-doc top-k is the
  * bounded-heap [[graft.plans.TopK]] operator — a hot document costs O(k)
  * heap, no per-doc sort. The tf table is localCheckpointed because it
  * feeds both the df aggregation and the score join (slim rows, NOT the
  * corpus bytes); lazily, so the first job that reads it stores it.
  *
  * Determinism (the repo's fixed-point discipline): idf is floor(1e6 ·
  * ln((N+1)/(df+1))) — ONE libm ln per vocabulary word of a ratio of exact
  * integers (the q72 DSIR pattern, cross-engine bit-identical), and scores
  * are exact Long products tf · idf_fp, tie-broken by ascending word. No
  * float sums anywhere.
  */
object Tfidf {

  /** Top-k keywords per doc. Output: (doc_id, rnk, word, tf, score_fp). */
  def keywords(docs: DataFrame, k: Int = 5, textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tf = docs
      .select(col("doc_id"), explode(TextStats.words(col(textCol))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    // df ≤ N always, so ln((N+1)/(df+1)) ≥ 0 and the floor stays a
    // non-negative Long
    val idf = df.crossJoin(broadcast(n))
      .select(col("word"),
        floor(lit(1000000.0) *
          log((col("n_docs") + 1L).cast("double") / (col("df") + 1L).cast("double")))
          .cast("long").as("idf_fp"))
    val scored = tf.join(idf, Seq("word"))
      .select(col("doc_id"), col("word"), col("tf"),
        (col("tf") * col("idf_fp")).as("score_fp"))
    graft.plans.TopK.perKey(scored, Seq(col("doc_id")),
        Seq(desc("score_fp"), asc("word")), k = k, rnName = "rnk")
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
        col("word"), col("tf"), col("score_fp"))
  }

  /** DuckDB oracle: the identical tf/df/idf_fp/top-k chain over the shared
    * canonical tokenization ([[TextStats.words]] ↔ regexp_split_to_array). */
  def oracleSql(k: Int, docsSql: String = "SELECT doc_id, text FROM documents"): String =
    s"""WITH d AS ($docsSql),
          toks AS (SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                        ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS t
                   FROM d),
          w AS (SELECT doc_id, unnest(t) AS word FROM toks),
          tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY 1, 2),
          dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
          n AS (SELECT count(*) AS n_docs FROM d),
          idf AS (SELECT word,
                  CAST(floor(1000000.0 *
                       ln(CAST((SELECT n_docs FROM n) + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)))
                       AS BIGINT) AS idf_fp
                  FROM dfq),
          s AS (SELECT tf.doc_id, tf.word, tf.tf, tf.tf * idf.idf_fp AS score_fp
                FROM tf JOIN idf USING (word)),
          r AS (SELECT doc_id, word, tf, score_fp,
                row_number() OVER (PARTITION BY doc_id
                  ORDER BY score_fp DESC, word) AS rnk FROM s)
       SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, word, tf,
              CAST(score_fp AS BIGINT) AS score_fp
       FROM r WHERE rnk <= $k"""
}
