package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Repetition-based quality signals for web-text filtering (the
  * Gopher/RefinedWeb rule family): fraction of tokens taken by the most
  * frequent word / bigram, and the distinct-token ratio. Heavily repeated
  * boilerplate (nav bars, SEO keyword stuffing, templated spam) scores high
  * on the top-n-gram fractions and low on the distinct ratio.
  *
  * Scale design: all four signals come from ONE native-kernel pass per row
  * ([[graft.plans.RepetitionStatsExpression]], codegen'd) inside the
  * parquet scan — ZERO shuffles, no UDF, no explode. (The naive
  * formulation — explode + groupBy(doc_id, word) + max — costs two
  * shuffles keyed by doc; at 10^12 docs that is the difference between a
  * scan-rate filter and a multi-hour job. The intermediate HOF formulation
  * — sort_array + `aggregate` run-length — was shuffle-free but evaluated
  * interpreted lambdas per token; it survives as the parity reference in
  * OpsPropertySpec.)
  */
object Quality {

  /** One-pass native kernel: struct<n_words, top_word, top_bigram,
    * n_distinct> (see [[graft.plans.TextHash.repetitionStats]]). The
    * previous HOF formulation (sort_array + `aggregate` run-length, kept in
    * OpsPropertySpec as the parity reference) evaluated interpreted lambdas
    * over every token and bigram per row. */
  def repetitionStats(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.RepetitionStatsExpression(
        org.apache.spark.sql.GraftColumnBridge.expression(text)))

  // ratio derivations over an already-computed stats struct — every public
  // surface builds ONE repetitionStats(text) subtree and derives all ratios
  // from it, so codegen subexpression elimination runs the kernel once per
  // row even when several signals appear in one projection/filter
  private def topWordRatioOf(s: Column): Column =
    when(s.getField("n_words") === 0, lit(0.0))
      .otherwise(round(s.getField("top_word").cast("double") /
        s.getField("n_words").cast("double"), 4))

  private def topBigramRatioOf(s: Column): Column =
    when(s.getField("n_words") < 2, lit(0.0))
      .otherwise(round(s.getField("top_bigram").cast("double") /
        (s.getField("n_words") - 1).cast("double"), 4))

  private def distinctRatioOf(s: Column): Column =
    when(s.getField("n_words") === 0, lit(1.0))
      .otherwise(round(s.getField("n_distinct").cast("double") /
        s.getField("n_words").cast("double"), 4))

  private def passesOf(s: Column, maxTopWord: Double, maxTopBigram: Double,
                       minDistinct: Double): Column =
    when((topWordRatioOf(s) <= maxTopWord) &&
      (topBigramRatioOf(s) <= maxTopBigram) &&
      (distinctRatioOf(s) >= minDistinct), lit(true)).otherwise(lit(false))

  /** Gopher-style repetition gate: true = doc looks natural, false = doc is
    * repetition-dominated boilerplate/spam. Single CaseWhen over one stats
    * subtree (not a bare top-level conjunction, which predicate splitting
    * could tear into filters that no longer share the kernel call). */
  def passesRepetitionFilter(text: Column,
                             maxTopWord: Double = 0.20,
                             maxTopBigram: Double = 0.18,
                             minDistinct: Double = 0.30): Column =
    passesOf(repetitionStats(text), maxTopWord, maxTopBigram, minDistinct)

  /** Per-doc repetition report over a docs table. */
  def repetition(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val s = repetitionStats(col(textCol))
    docs.select(col("doc_id"),
      s.getField("n_words").cast("long").as("n_words"),
      topWordRatioOf(s).as("top_word_ratio"),
      topBigramRatioOf(s).as("top_bigram_ratio"),
      distinctRatioOf(s).as("distinct_ratio"),
      passesOf(s, 0.20, 0.18, 0.30).as("passes"))
  }
}
