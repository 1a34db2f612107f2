package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.crf.CrfModel
import graft.kg.Page

/** Streaming KG triple construction — the full extract→link→relate chain on
  * an unbounded page stream.
  *
  * The key structural observation: everything up to the cross-document
  * rollup is PAGE-LOCAL (sentence split, CRF decode, alias linking, the
  * rank-1 link choice, in-sentence pair/relation matching never look
  * outside one page), so the whole chain runs as ONE stateless
  * `mapPartitions` inside each micro-batch — zero shuffles, no state
  * store, unbounded throughput. Only the corpus-wide (subj, pred, obj)
  * aggregation is stateful, and that is a standard watermarked windowed
  * aggregation with eviction.
  *
  * The per-page Scala logic is the batch stages' own: the same decoder, the
  * same (alias, kind) index `KgPipeline.aliasDf` is built from, the same
  * rank-1 order (score, entity_id), and the same relation matcher
  * (`PageLocal.relationTriples`, which batch runs as `relation_triples`);
  * the StreamingTriplesSpec parity gate holds stream output equal to batch
  * `KgPipeline.triples` on the same pages.
  */
object StreamingTriples {

  case class RawTriple(subj: String, pred: String, obj: String, url: String,
                       conf: Double, warc_ts: Timestamp)

  /** Stateless pages → raw triples (one row per matched in-sentence pair);
    * per-sentence logic is the SHARED [[graft.kg.PageLocal]] chain. */
  def rawTripleStream(pages: Dataset[Page], model: CrfModel): Dataset[RawTriple] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val bcModel = spark.sparkContext.broadcast(model)
    // (alias surface, kind) → candidates; KB-scale broadcast
    val bcAlias = spark.sparkContext.broadcast(graft.kg.PageLocal.aliasIndex)

    // COLUMN filter, not a typed lambda: pushes to the source and avoids
    // deserializing non-English rows (incl. the html bytes) per micro-batch
    pages.filter(col("lang") === "en").as[Page].mapPartitions { iter =>
      val decoder = graft.crf.CrfDecoder.forModel(bcModel.value)
      val alias = bcAlias.value
      val compiled = graft.kg.PageLocal.compilePatterns()
      iter.flatMap { page =>
        page.text.split('\n').iterator.flatMap { sent =>
          graft.kg.PageLocal.sentenceTriples(decoder, sent, alias, compiled)
            .map(t => RawTriple(t.subj, t.pred, t.obj, page.url, t.conf, page.warc_ts))
        }
      }
    }
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
