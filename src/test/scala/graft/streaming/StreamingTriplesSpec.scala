package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.kg.{KgPipeline, Page, PagesGen}

/** Streaming triple construction must agree with the batch pipeline: the
  * stateless per-page chain (decode → link → relate) rolled up per
  * (subj, pred, obj) equals batch `KgPipeline.triples` on the same pages. */
class StreamingTriplesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  lazy val model = KgPipeline.trainModel(42L, nTrain = 200)

  test("streaming raw triples roll up to the batch triple table exactly") {
    val nPages = 200L
    val dir = java.nio.file.Files.createTempDirectory("pages_triples").toString
    PagesGen.pages(spark, nPages, 42L).write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Page].schema)
      .parquet(dir).as[Page]
    val q = StreamingTriples.rawTripleStream(stream, model)
      .writeStream.outputMode("append").format("memory")
      .queryName("raw_triples_test").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.sql(
      """SELECT subj, pred, obj, count(*) AS n_sources, max(conf) AS conf
         FROM raw_triples_test GROUP BY 1, 2, 3""")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getDouble(4))).toMap

    val pages = spark.read.parquet(dir).as[Page]
    val sents = KgPipeline.sentences(pages)
    val links = KgPipeline.links(KgPipeline.mentions(sents, model), KgPipeline.aliasDf(spark))
    val batch = KgPipeline.triples(links, sents)
      .select($"subj", $"pred", $"obj", $"n_sources", $"conf")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getDouble(4))).toMap

    assert(streamed.size === batch.size)
    assert(streamed === batch)
    assert(streamed.nonEmpty && streamed.values.map(_._1).sum > 100)
  }

  test("the stream runs the batch sentence_triples plan: no typed page round trip") {
    import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, MapPartitions}
    import org.apache.spark.sql.types.ObjectType
    val dir = java.nio.file.Files.createTempDirectory("pages_plan").toString
    PagesGen.pages(spark, 4L, 42L).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Page].schema)
      .parquet(dir).as[Page]
    val plan = StreamingTriples.rawTripleStream(stream, model).queryExecution.analyzed
    assert(plan.toString.contains("sentence_triples("), plan)
    assert(plan.collect { case m: MapPartitions => m }.isEmpty, plan)
    assert(plan.collect {
      case d: DeserializeToObject if d.outputObjAttr.dataType == ObjectType(classOf[Page]) => d
    }.isEmpty, plan)
  }

  test("batch triples equal the page-local chain on text outside the BMP") {
    // four emoji (two UTF-16 code units each) before every sentence: crf_tag
    // offsets are UTF-16 indices, so any between-text cut in code points
    // lands in the wrong place and drops or invents relations
    val prefix = "\uD83D\uDE00\uD83D\uDE80\uD83C\uDF0D\uD83E\uDD16 "
    val pages = PagesGen.pages(spark, 40L, 42L)
      .map(p => p.copy(text = p.text.split('\n').map(prefix + _).mkString("\n")))
      .collect()
    val sents = KgPipeline.sentences(spark.createDataset(pages.toSeq))
    val links = KgPipeline.links(KgPipeline.mentions(sents, model), KgPipeline.aliasDf(spark))
    // the in-memory chain takes the fused path; the same links,
    // localCheckpointed, take the generic one
    def counts(links: org.apache.spark.sql.DataFrame, path: String) = {
      val triples = KgPipeline.triples(links, sents)
      assert(graft.kg.TriplesPathSpec.path(triples) === path)
      triples.select($"subj", $"pred", $"obj", $"n_sources")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    }
    val batch = counts(links, "fused")
    assert(counts(links.localCheckpoint(), "generic") === batch)

    val decoder = new graft.crf.CrfDecoder(model)
    val alias = graft.kg.PageLocal.aliasIndex
    val compiled = graft.kg.PageLocal.compilePatterns()
    val local = pages.toSeq.filter(_.lang == "en")
      .flatMap(_.text.split('\n').flatMap(s =>
        graft.kg.PageLocal.sentenceTriples(decoder, s, alias, compiled)))
      .groupBy(t => (t.subj, t.pred, t.obj)).map { case (k, ts) => k -> ts.length.toLong }

    assert(local.values.sum > 100, "the pages must yield relations")
    val differ = (batch.keySet ++ local.keySet).filter(k => batch.get(k) != local.get(k))
    assert(differ.isEmpty, s"${differ.size} triples differ (batch ${batch.values.sum}, " +
      s"page-local ${local.values.sum} occurrences), e.g. ${differ.take(3)}")
  }

  test("windowed rollup: watermarked aggregation emits per-window counts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val input = MemoryStream[StreamingTriples.RawTriple]
    val q = StreamingTriples.windowedTripleRollup(input.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("triple_rollup_test").start()
    input.addData(
      StreamingTriples.RawTriple("PER:A", "works_at", "ORG:X", "u1", 0.5, ts(1)),
      StreamingTriples.RawTriple("PER:A", "works_at", "ORG:X", "u2", 0.9, ts(5)),
      StreamingTriples.RawTriple("PER:B", "met", "PER:C", "u3", 0.4, ts(12)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT subj, pred, obj, n_sources, conf FROM triple_rollup_test")
      .collect().map(r => (r.getString(0), r.getString(2), r.getLong(3), r.getDouble(4))).toSet
    assert(rows.contains(("PER:A", "ORG:X", 2L, 0.9))) // same 10-min window, merged
    assert(rows.contains(("PER:B", "PER:C", 1L, 0.4)))
  }
}
