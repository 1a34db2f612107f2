package graft.run

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** The measurement harnesses, on the shared test session and without a
  * cluster: a one-round `Profile` record, and `ScalingBench`'s stage names. */
class MeasurementSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("Profile: one query, one round carries wall time, task totals and the plan summary") {
    val Seq(rec) = Profile.queries(spark, "/root/testdata/sf0.001", Seq("q01_agg"), nRounds = 1)
    assert(rec.name === "q01_agg" && rec.walls.length === 1 && rec.median > 0)
    val t = rec.totals
    assert(t.tasks > 0 && t.runSec > 0 && t.maxTaskSec >= t.medianTaskSec, t.line)
    assert(t.shuffleWriteBytes > 0 && t.shuffleReadBytes > 0, t.line)
    val plan = rec.plan.getOrElse(fail("no plan summary"))
    assert(plan.scans >= 1 && plan.exchanges >= 1 && plan.codegenSpans >= 1, plan.line)
    assert(rec.line.contains("median=") && rec.line.contains("exchanges="))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("Profile: a warm-up round runs untimed before the timed rounds; --decode times the kernel") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val Seq(rec) = Profile.rounds(spark, 2) { r =>
      seen += r
      Seq("range" -> ((s: org.apache.spark.sql.SparkSession) => s.range(10).toDF()))
    }
    assert(seen.toSeq === Seq(-1, 0, 1))
    assert(rec.walls.length === 2)
    val us = Profile.decodeRounds(200, 2)
    assert(us.length === 2 && us.forall(_ > 0))
    assert(Profile.usage.contains("warm-up"))
  }

  test("ScalingBench: one stage dispatch, an unknown stage fails before any session starts") {
    assert(ScalingBench.Stages.keySet === Set("full", "mentions", "curate"))
    val e = intercept[IllegalArgumentException](
      ScalingBench.main(Array("--cluster", "--stage", "extract", "--pages", "10")))
    assert(e.getMessage.contains("unknown --stage 'extract'"), e.getMessage)
    assert(ScalingBench.stageJob("curate")(spark, 300)._3 ===
      graft.Bench.curateThroughput(spark, 300)._3)
  }
}
