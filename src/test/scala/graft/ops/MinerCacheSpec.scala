package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** No operator persists: frames read more than once are localCheckpointed,
  * never registered in the session's cache, so once a result is collected
  * nothing of the call is left cached (a library caller has no handle to
  * unpersist it). The pair miners and KG canonicalization are checked on a
  * small corpus, then every `SparkEntry.queries` entry at sf0.001. */
class MinerCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val docs = {
    val base = (0 until 30).map(i => i.toLong -> (0 until 20).map(j => s"w${(i * 7 + j * 3) % 23}").mkString(" "))
    (base ++ base.take(10).map { case (id, t) => (id + 100L, t + " tail") }).toDF("doc_id", "text")
  }

  private def leavesNoCache(run: => org.apache.spark.sql.DataFrame): Unit = {
    val cache = spark.sharedState.cacheManager
    cache.clearCache()
    assert(run.collect().nonEmpty, "the miner found nothing — the check would be vacuous")
    assert(cache.isEmpty, "the call left a cached relation behind")
  }

  test("jaccardPairs leaves no cache") {
    leavesNoCache(Dedup.jaccardPairs(docs, threshold = 0.5, maxDf = 1000))
  }

  test("containmentPairs leaves no cache") {
    leavesNoCache(Dedup.containmentPairs(docs, threshold = 0.5, maxDf = 1000))
  }

  test("minhashDupPairs leaves no cache") {
    leavesNoCache(Dedup.minhashDupPairs(docs, threshold = 0.5, k = 32, bands = 16))
  }

  test("simhashDupPairs leaves no cache") {
    leavesNoCache(Dedup.simhashDupPairs(docs, maxDist = 3))
  }

  test("KgPipeline.canonical leaves no cache") {
    val mentions = Seq(("u1", "ORG", "Acme Corp"), ("u2", "ORG", "Acme Corp."),
      ("u3", "ORG", "acme corp"), ("u1", "PER", "Ada Lovelace"))
      .toDF("url", "entity", "value")
    val links = Seq(("ORG", "Acme Corp", "Q1")).toDF("entity", "value", "entity_id")
    leavesNoCache(graft.kg.KgPipeline.canonical(mentions, links))
  }

  for (name <- graft.SparkEntry.queries.keys.toSeq.sorted)
    test(s"session-state sweep: $name leaves no cache") {
      val cache = spark.sharedState.cacheManager
      cache.clearCache()
      graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").collect()
      assert(cache.isEmpty, s"$name left a cached relation behind")
    }
}
