package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkTestBase

/** `Inputs.spread` reads the input's partition count from its physical plan:
  * no `Dataset.rdd` (a deserializing plan reported as an `rdd` SQL
  * execution) and no job, and the spread decision is unchanged. */
class InputsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** One parquet file holding one row group. */
  private lazy val oneFile: String = {
    val dir = java.nio.file.Files.createTempDirectory("inputs_one").toString
    (0 until 40).map(i => i.toLong -> (0 until 12).map(j => s"w${(i * 5 + j) % 17}").mkString(" "))
      .toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  private def executionNames(run: => Unit): Seq[String] = {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = names.add(f)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = names.add(f)
    }
    GraftColumnBridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(l)
    try { run; GraftColumnBridge.drainListenerBus(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    scala.jdk.CollectionConverters.CollectionHasAsScala(names).asScala.toSeq
  }

  test("jaccardPairs over a one-file parquet input reports no rdd execution") {
    val docs = spark.read.parquet(oneFile)
    val names = executionNames {
      assert(Dedup.jaccardPairs(docs, threshold = 0.5, maxDf = 1000).collect().nonEmpty)
    }
    assert(names.contains("collect"), names)
    assert(!names.contains("rdd"), names)
  }

  test("one-row-group input is spread to defaultParallelism; split input is left alone") {
    val p = spark.sparkContext.defaultParallelism
    assert(p > 1, "the check needs a parallel session")
    val one = spark.read.parquet(oneFile)
    assert(one.rdd.getNumPartitions === 1)
    val spread = Inputs.spread(one)
    assert(spread.rdd.getNumPartitions === p)
    assert(spread.as[(Long, String)].collect().sorted === one.as[(Long, String)].collect().sorted)
    val split: DataFrame = spark.range(0, 100, 1, p + 1).toDF("id")
    assert(Inputs.spread(split) eq split)
    val shuffled = one.repartition(p + 1)
    assert(Inputs.spread(shuffled) eq shuffled)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val fresh = spark.read.parquet(oneFile) // schema inference runs a job of its own
    GraftColumnBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try {
      Inputs.spread(fresh)
      Inputs.spread(shuffled)
      GraftColumnBridge.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(counter)
    assert(jobs.get() === 0)
  }
}
