package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.crf.CrfModel
import graft.kg.{KgPipeline, Page}
import graft.plans.SharedBroadcast

/** Streaming KG triple construction — the full extract→link→relate chain on
  * an unbounded page stream.
  *
  * The key structural observation: everything up to the cross-document
  * rollup is PAGE-LOCAL (sentence split, CRF decode, alias linking, the
  * rank-1 link choice, in-sentence pair/relation matching never look
  * outside one page), so the whole chain is stateless and runs inside each
  * micro-batch with zero shuffles and no state store. Only the corpus-wide
  * (subj, pred, obj) aggregation is stateful, and that is a standard
  * watermarked windowed aggregation with eviction.
  *
  * The stateless part is the batch plan itself: `KgPipeline.sentenceRows`
  * splits the pages and `KgPipeline.sentenceTriplesPlan` — the plan the
  * fused batch `KgPipeline.triples` path runs — pre-filters the sentences
  * and runs one `sentence_triples(text)` (`PageLocal.sentenceTriples`)
  * each, so stream output equals batch output by construction; the
  * StreamingTriplesSpec parity gate holds it equal to batch
  * `KgPipeline.triples` on the same pages.
  */
object StreamingTriples {

  case class RawTriple(subj: String, pred: String, obj: String, url: String,
                       conf: Double, warc_ts: Timestamp)

  /** Stateless pages → raw triples (one row per matched in-sentence pair). */
  def rawTripleStream(pages: Dataset[Page], model: CrfModel): Dataset[RawTriple] = {
    val spark = pages.sparkSession
    import spark.implicits._
    KgPipeline.sentenceTriplesPlan(
      KgPipeline.sentenceRows(pages.toDF(), col("url"), col("warc_ts")),
      SharedBroadcast(spark.sparkContext, model), col("url"), col("warc_ts")).as[RawTriple]
  }

  /** Stateful corpus rollup: per event-time window, (subj, pred, obj) →
    * occurrence count + max confidence, watermark-evicted state. */
  def windowedTripleRollup(raw: Dataset[RawTriple],
                           windowLen: String = "10 minutes",
                           watermark: String = "30 minutes"): DataFrame =
    raw.withWatermark("warc_ts", watermark)
      .groupBy(window(col("warc_ts"), windowLen),
        col("subj"), col("pred"), col("obj"))
      .agg(count(lit(1)).as("n_sources"), max(col("conf")).as("conf"))
}
