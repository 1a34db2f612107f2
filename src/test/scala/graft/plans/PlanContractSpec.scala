package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Plan contracts: the scale claims in PLANS.md, regression-gated. Each
  * assertion pins a property of the PHYSICAL plan (pruned read schema,
  * pushed filters, exchange counts) — a refactor that silently turns a
  * scan-rate operator into a shuffling one fails here, not in a benchmark
  * three rounds later. */
class PlanContractSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val sfDir = "/root/testdata/sf0.001"

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def exchanges(plan: String): Int =
    "(?<!Broadcast)Exchange".r.findAllIn(plan).size

  test("q36 repetition and q38 sampling are zero-exchange scan-side plans") {
    for (q <- Seq("q36_repetition", "q38_sample_mixture")) {
      val plan = physical(graft.SparkEntry.queries(q)(spark, sfDir))
      assert(exchanges(plan) === 0, s"$q must not shuffle:\n$plan")
    }
  }

  test("q20 textstats scan prunes to the referenced columns only") {
    val plan = physical(graft.SparkEntry.queries("q20_textstats")(spark, sfDir))
    val read = "ReadSchema: [^\n]+".r.findFirstIn(plan).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text"))
    assert(!read.contains("lang") && !read.contains("source") && !read.contains("n_chars"),
      s"unreferenced columns must be pruned from the scan: $read")
  }

  test("filters on the documents scan push down to the parquet reader") {
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") > 100L).select("doc_id", "lang")
    val plan = physical(df)
    assert(plan.contains("PushedFilters") &&
      ("PushedFilters: \\[[^\\]]*GreaterThan\\(doc_id,100\\)".r.findFirstIn(plan).isDefined),
      s"doc_id filter must reach the scan:\n$plan")
  }

  test("q39 bm25 plans as one stats pass + one scoring scan + bounded-heap top-k") {
    val plan = physical(graft.SparkEntry.queries("q39_bm25_search")(spark, sfDir))
    assert(plan.contains("TopKPartial") && plan.contains("TopKFinal"),
      "ranking must use the bounded-heap operator, not a Window sort")
    assert(!plan.contains("Window"), "no window sort in the bm25 plan")
  }

  test("KG link/triple tail: links is exchange- and sort-free, triples matches in one kernel") {
    import spark.implicits._
    val mentions = Seq(
      ("u1", 0, 0, 9, "Acme Corp", "ORG", 0.9, 0),
      ("u1", 0, 20, 25, "Paris", "LOC", 0.8, 0))
      .toDF("url", "sent_id", "start", "end", "value", "entity", "confidence", "partition_id")
    val alias = graft.kg.KgPipeline.aliasDf(spark)
    assert(alias.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "the alias side must be a driver-built local relation")
    val links = graft.kg.KgPipeline.links(mentions, alias)
    links.collect()
    val linkPlan = physical(links)
    assert(exchanges(linkPlan) === 0, s"links must not shuffle:\n$linkPlan")
    assert(!linkPlan.contains("Sort"), s"links must not sort or sort-aggregate:\n$linkPlan")
    assert(linkPlan.contains("BroadcastHashJoin") && linkPlan.contains("LocalTableScan"),
      s"links must broadcast-join the local alias table:\n$linkPlan")

    val sents = Seq(("u1", 0, "Acme Corp is in Paris.")).toDF("url", "sent_id", "text")
    val triplesPlan = physical(graft.kg.KgPipeline.triples(links, sents))
    assert("relation_triples\\(".r.findAllIn(triplesPlan).size === 1,
      s"relation matching must run once, in relation_triples:\n$triplesPlan")
    assert(!triplesPlan.contains("substring") && !triplesPlan.contains("CASE WHEN"),
      s"no per-pattern CASE over a between substring:\n$triplesPlan")
  }

  test("KG tail in one pass: the kg_extract chain reads the pages once and shuffles only in the dedup") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.RangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import graft.kg.{KgPipeline, PagesGen}
    object Plans extends AdaptiveSparkPlanHelper
    val sents = KgPipeline.sentences(PagesGen.pages(spark, 30L, 42L))
    val mentions = KgPipeline.mentions(sents, KgPipeline.trainModel(42L, nTrain = 100), partitions = -1)
    val triples = KgPipeline.triples(KgPipeline.links(mentions, KgPipeline.aliasDf(spark)), sents)
    assert(triples.collect().nonEmpty)
    val plan = triples.queryExecution.executedPlan
    val text = plan.toString
    // the dedup's two exchanges hash on (subj, pred, obj[, url]); any other
    // exchange (the per-sentence regroup, the sentence join) comes before it
    val keys = Plans.collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning }
      .map { case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)).toSet
             case other => Set(other.toString) }
    assert(keys.nonEmpty && keys.forall(_.contains("subj")),
      s"only the dedup may shuffle, got exchanges on $keys:\n$text")
    assert(Plans.collect(plan) { case j: SortMergeJoinExec => j }.isEmpty, s"no sentence join:\n$text")
    assert(!text.contains("collect_list"), s"no per-sentence regroup:\n$text")
    assert(Plans.collect(plan) { case r: RangeExec => r }.size === 1, s"one scan of the pages:\n$text")
  }

  test("q37 contamination: corpus side shuffles only the doc_id aggregation") {
    val df = graft.SparkEntry.queries("q37_contamination")(spark, sfDir)
    val plan = physical(df)
    // one exchange for the bench-gram distinct (KB-scale), one for the final
    // per-doc aggregation; the corpus join side must be broadcast
    assert(plan.contains("BroadcastHashJoin"), "bench grams must broadcast")
    assert(exchanges(plan) <= 3, s"corpus must not shuffle more than agg+distinct:\n$plan")
  }
}
