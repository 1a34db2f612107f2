package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.crf.CrfModel
import graft.kg.{KgPipeline, Page}
import graft.plans.GraftFunctions.crf_tag

/** Structured Streaming surface for the KG pipeline: incremental mention
  * extraction over a stream of pages (`readStream` → transforms →
  * `writeStream`), watermarked tumbling-window aggregation, and custom
  * per-entity running state via `mapGroupsWithState`.
  *
  * The reference is batch-only (its `serve.py` is request/response), so this
  * is an engine-side addition: the batch pipeline's sentence split and
  * `crf_tag` decode run unchanged inside micro-batches — batch/streaming
  * parity by construction.
  */
object StreamingMentions {

  /** Watermarked tumbling-window mention counts per entity kind:
    * (window, entity) → count, 10-minute windows, 30-minute watermark. */
  def windowedEntityCounts(pages: Dataset[Page], model: CrfModel): DataFrame = {
    val withTs = pages.withWatermark("warc_ts", "30 minutes")
    // the query plan is built once, so every micro-batch decodes through the
    // same model broadcast: forModel's identity-keyed decoder stays warm
    // across rows AND micro-batches (same discipline as
    // StreamingTriples.rawTripleStream)
    KgPipeline.sentenceRows(withTs.toDF(), col("warc_ts"))
      .select(col("warc_ts"), inline(crf_tag(col("text"), model)))
      .groupBy(window(col("warc_ts"), "10 minutes"), col("entity"))
      .agg(count(lit(1)).as("n_mentions"))
  }

  case class EntityRunning(entity_id: String, total: Long, max_score: Double)

  /** Custom streaming state: running per-entity totals via mapGroupsWithState
    * (the engine-side analogue of the north_rule's counter metrics, kept
    * incrementally correct across micro-batches). */
  def runningEntityTotals(links: Dataset[(String, Double)]): Dataset[EntityRunning] = {
    val spark = links.sparkSession
    import spark.implicits._
    links.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (id: String, rows: Iterator[(String, Double)], state: GroupState[EntityRunning]) =>
          val prev = state.getOption.getOrElse(EntityRunning(id, 0L, 0.0))
          var total = prev.total
          var mx = prev.max_score
          rows.foreach { case (_, s) => total += 1; mx = math.max(mx, s) }
          val next = EntityRunning(id, total, mx)
          state.update(next)
          next
      }
  }

  /** Run the streaming mention counter over a directory of page parquet files
    * (file-source streaming) to a memory sink; returns the query name. */
  def startOverParquetDir(spark: SparkSession, pagesDir: String, model: CrfModel,
                          queryName: String = "mention_counts"): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val pages = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Page].schema)
      .parquet(pagesDir)
      .as[Page]
    windowedEntityCounts(pages, model)
      .writeStream
      .outputMode(OutputMode.Update())
      .format("memory")
      .queryName(queryName)
      .start()
  }
}
