package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** `KgPipeline.triples` has two paths. The unmodified in-memory chain
  * `links(mentions(S, model, p), aliasDf)` over its own sentences takes the
  * fused one (`sentence_triples`); every other shape of `links` must fall
  * back to the generic one (`relation_triples`) and return the rows the
  * generic path gives for the same links, localCheckpointed (the
  * reference). */
class TriplesPathSpec extends AnyFunSuite {
  import TriplesPathSpec.{path, rows}
  lazy val spark = SparkTestBase.spark

  lazy val model = KgPipeline.trainModel(42L, nTrain = 200)
  lazy val sents = KgPipeline.sentences(PagesGen.pages(spark, 60L, 42L))
  lazy val alias = KgPipeline.aliasDf(spark)
  def chain(p: Int = 0): DataFrame = KgPipeline.links(KgPipeline.mentions(sents, model, p), alias)

  def reference(links: DataFrame, s: DataFrame = sents): Seq[String] =
    rows(KgPipeline.triples(links.localCheckpoint(), s))

  def fallsBack(shape: String, links: DataFrame, s: DataFrame = sents): Unit = {
    val triples = KgPipeline.triples(links, s)
    assert(path(triples) === "generic", shape)
    assert(rows(triples) === reference(links, s), shape)
  }

  test("the in-memory chain takes the fused path, with or without the url repartition") {
    for (p <- Seq(-1, 0, 3)) {
      val links = chain(p)
      val triples = KgPipeline.triples(links, sents)
      assert(path(triples) === "fused", s"partitions = $p")
      val got = rows(triples)
      assert(got.size > 10 && got === reference(links), s"partitions = $p")
    }
  }

  test("checkpointed links fall back: localCheckpoint and a parquet round trip") {
    val fused = rows(KgPipeline.triples(chain(), sents))
    val dir = java.nio.file.Files.createTempDirectory("triples_links").resolve("links").toString
    chain().write.parquet(dir)
    for ((shape, links) <- Seq("localCheckpoint" -> chain().localCheckpoint(),
                               "parquet" -> spark.read.parquet(dir))) {
      fallsBack(shape, links)
      assert(rows(KgPipeline.triples(links, sents)) === fused, shape)
    }
  }

  test("derived mentions fall back: q52's rounded confidence, a filter") {
    val mentions = KgPipeline.mentions(sents, model)
    fallsBack("round(confidence, 4)", KgPipeline.links(
      mentions.withColumn("confidence", round(col("confidence"), 4)), alias))
    fallsBack("filtered mentions", KgPipeline.links(
      mentions.filter(col("confidence") > 0.6), alias))
  }

  test("cached links or mentions fall back, and leave no cache behind") {
    val links = chain().cache()
    try fallsBack("cached links", links) finally links.unpersist(blocking = true)
    val mentions = KgPipeline.mentions(sents, model).cache()
    try fallsBack("cached mentions", KgPipeline.links(mentions, alias))
    finally mentions.unpersist(blocking = true)
    // chains built apart over one model share its broadcast, so they are
    // sameResult: a cache on one is a cache on the other
    val cachedLinks = chain().cache()
    try fallsBack("links equal to cached links", chain()) finally cachedLinks.unpersist(blocking = true)
    val cachedMentions = KgPipeline.mentions(sents, model).cache()
    try fallsBack("mentions equal to cached mentions", chain())
    finally cachedMentions.unpersist(blocking = true)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("sentences other than the decode's input fall back") {
    fallsBack("a filtered sents", chain(), sents.filter(col("sent_id") > 0))
    fallsBack("sents over other pages", chain(), KgPipeline.sentences(PagesGen.pages(spark, 30L, 42L)))
  }

  test("an alias table that is not local, or repeats an (alias, kind), falls back") {
    fallsBack("checkpointed alias", KgPipeline.links(KgPipeline.mentions(sents, model),
      alias.localCheckpoint()))
    val rowsWithRepeat = alias.collect().toSeq
    val repeated = spark.createDataFrame(
      java.util.Arrays.asList((rowsWithRepeat :+ rowsWithRepeat.head): _*), alias.schema)
    assert(repeated.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    fallsBack("repeated (alias, kind)", KgPipeline.links(KgPipeline.mentions(sents, model), repeated))
  }

  test("a local alias table of aliasDf's schema with other rows falls back") {
    val kept = alias.collect().toSeq.tail
    val other = spark.createDataFrame(java.util.Arrays.asList(kept: _*), alias.schema)
    assert(other.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(other.schema === alias.schema)
    fallsBack("aliasDf minus one row", KgPipeline.links(KgPipeline.mentions(sents, model), other))
  }
}

object TriplesPathSpec {
  /** Which triples path a plan runs, by its kernel: "fused"
    * (`sentence_triples`) or "generic" (`relation_triples`). */
  def path(triples: DataFrame): String = {
    val plan = triples.queryExecution.executedPlan.toString
    ("sentence_triples\\(".r.findAllIn(plan).size, "relation_triples\\(".r.findAllIn(plan).size) match {
      case (f, 0) if f > 0 => "fused"
      case (0, g) if g > 0 => "generic"
      case counts => s"neither or both: $counts"
    }
  }

  def rows(triples: DataFrame): Seq[String] =
    triples.select("subj", "pred", "obj", "n_sources", "n_urls", "conf")
      .collect().map(_.toString).toSeq.sorted
}
