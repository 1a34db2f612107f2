package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** The jaccard miner must reproduce the brute-force
  * capped-posting semantics EXACTLY (the oracle's formulation): inter =
  * |shared shingles with 2 ≤ df ≤ maxDf|, denominators = full distinct-set
  * sizes, every pair with jaccard ≥ t present. Randomized corpora stress
  * the length filter (pairs with min/max set size < t are dropped before
  * the pair aggregation) across set sizes, duplicate families and caps;
  * a boundary pair sits exactly on the filter's ratio. */
class JaccardMinerSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Brute-force reference mirroring the DuckDB oracle CTEs. */
  private def reference(docs: Seq[(Long, String)], t: Double,
                        maxDf: Int): Set[(Long, Long, Double)] = {
    def shingles(s: String): Set[String] = {
      val toks = s.trim.toLowerCase.split("[ \t\n\f\r]+").filter(_.nonEmpty).toSeq
      if (toks.length <= 2) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = docs.map { case (id, s) => id -> shingles(s) }.toMap
    val df = sets.values.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    val ids = docs.map(_._1)
    (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = math.min(ids(i), ids(j)); b = math.max(ids(i), ids(j))
      inter = (sets(a) intersect sets(b)).count(s => df(s) >= 2 && df(s) <= maxDf)
      if inter > 0
      jac = inter.toDouble / (sets(a).size + sets(b).size - inter)
      if jac >= t
    } yield (a, b,
      BigDecimal(jac).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
  }

  private def engine(docs: Seq[(Long, String)], t: Double,
                     maxDf: Int): Set[(Long, Long, Double)] =
    Dedup.jaccardPairs(docs.toDF("doc_id", "text"), threshold = t, maxDf = maxDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("randomized corpora: length-filtered miner ≡ brute force") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
      "theta", "iota", "kappa", "la", "mu")
    for (trial <- 0 until 5) {
      val base = (0 until 40).map { i =>
        i.toLong -> Seq.fill(6 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      }
      // planted near-dups: one appended token (the docsWithDups construction)
      val dups = base.filter(_._1 % 3 == 0).map { case (id, s) => (id + 1000L, s + " extra") }
      val docs = base ++ dups
      for (t <- Seq(0.5, 0.8); maxDf <- Seq(8, 1000)) {
        assert(engine(docs, t, maxDf) === reference(docs, t, maxDf),
          s"trial=$trial t=$t maxDf=$maxDf")
      }
    }
  }

  test("short docs (≤2 tokens) and exact duplicates") {
    val docs = Seq(1L -> "a b", 2L -> "a b", 3L -> "a", 4L -> "x y z w q r",
      5L -> "x y z w q r", 6L -> "")
    assert(engine(docs, 0.8, 1000) === reference(docs, 0.8, 1000))
  }

  test("length filter boundary: size ratio exactly t is kept, just above t is dropped") {
    // 4 and 5 shingles, the 4 all shared: min/max = jaccard = 0.8 exactly
    val docs = Seq(1L -> "a b c d e f", 2L -> "a b c d e f g")
    assert(engine(docs, 0.8, 1000) === Set((1L, 2L, 0.8)))
    assert(engine(docs, 0.8, 1000) === reference(docs, 0.8, 1000))
    assert(engine(docs, 0.81, 1000) === Set.empty)
    assert(engine(docs, 0.81, 1000) === reference(docs, 0.81, 1000))
  }

  test("plan: no broadcast exchange, no cached relation, the shingle kernel in one operator") {
    // a one-file parquet input, like the benchmark tables: Inputs.spread
    // repartitions it before the kernel
    val dir = java.nio.file.Files.createTempDirectory("jaccard_plan").resolve("docs").toString
    Seq(1L -> "a b c d e f", 2L -> "a b c d e f g", 3L -> "x y z w").toDF("doc_id", "text")
      .coalesce(1).write.parquet(dir)
    val pairs = Dedup.jaccardPairs(spark.read.parquet(dir), threshold = 0.8, maxDf = 1000)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ===
      Set((1L, 2L, 0.8)))
    val plan = pairs.queryExecution.executedPlan
    val adaptive = plan.asInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec]
    assert(adaptive.isFinalPlan)
    val nodes = Helper.nodes(plan)
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeLike]),
      s"broadcast exchange in\n$plan")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]),
      s"cached relation in\n$plan")
    assert(!plan.toString.contains("InMemoryRelation"), s"cached relation in\n$plan")
    // no inferred filter re-runs the kernel in the scan, before the spread
    val kernelOps = nodes.filter(_.expressions.exists(_.exists(
      _.isInstanceOf[graft.plans.WordShingleHashesExpression])))
    assert(kernelOps.length === 1, s"shingle kernel in ${kernelOps.map(_.nodeName)} of\n$plan")
  }

  /** Every physical node, descending into adaptive query stages. */
  private object Helper extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
    def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      collect(p) { case n => n }
  }
}
