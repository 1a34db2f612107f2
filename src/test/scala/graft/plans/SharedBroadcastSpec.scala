package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.SparkTestBase
import graft.crf.CrfModel
import graft.kg.KgPipeline

/** Every surface that ships a constant value to executors takes it from
  * [[SharedBroadcast]]: one broadcast per (SparkContext, value), none for a
  * stopped context, and a bounded number retained. */
class SharedBroadcastSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  lazy val model = KgPipeline.trainModel(42L, nTrain = 200)

  /** The broadcast ids of the `crf_tag` calls in `df`'s plan. */
  def crfTagIds(df: DataFrame): Seq[Long] =
    df.queryExecution.analyzed.collect { case p =>
      p.expressions.flatMap(_.collect { case c: CrfTagExpression => c.model.id })
    }.flatten

  test("two crf_tag columns over one model carry one broadcast; another model gets its own") {
    import spark.implicits._
    val df = Seq("Alice Johnson works at Hooli .").toDF("text")
    val a = crfTagIds(df.select(GraftFunctions.crf_tag(col("text"), model)))
    val b = crfTagIds(df.select(GraftFunctions.crf_tag(col("text"), model)))
    assert(a.length === 1 && a === b)
    // an equal model that is another object is another value
    val other = model.copy()
    val c = crfTagIds(df.select(GraftFunctions.crf_tag(col("text"), other)))
    assert(c.length === 1 && c != a)
    assert(crfTagIds(df.select(GraftFunctions.crf_tag(col("text"), other))) === c)
    // the Column API, registration and the mention stage share it
    GraftFunctions.register(spark, model)
    df.createOrReplaceTempView("shared_bc_sents")
    assert(crfTagIds(spark.sql("SELECT crf_tag(text) FROM shared_bc_sents")) === a)
    val sents = Seq(("u", 0, "Alice Johnson works at Hooli .")).toDF("url", "sent_id", "text")
    assert(crfTagIds(KgPipeline.mentions(sents, model, -1)).distinct === a)
  }

  test("at most one broadcast is retained per value, and a bounded number in all") {
    val sc = spark.sparkContext
    val value = Array.fill(16)(1.0)
    val first = SharedBroadcast(sc, value)
    val before = SharedBroadcast.retained
    (1 to 5).foreach(_ => assert(SharedBroadcast(sc, value).id === first.id))
    assert(SharedBroadcast.retained === before)
    assert(sc.parallelize(1 to 4, 2).map(_ => first.value.sum).collect().toSeq === Seq.fill(4)(16.0))
    // many other values push it out; it is then broadcast anew, and the
    // dropped broadcast still serves the plans that hold it
    (1 to SharedBroadcast.Retained + 4).foreach(i => SharedBroadcast(sc, Array.fill(4)(i.toDouble)))
    assert(SharedBroadcast.retained === SharedBroadcast.Retained)
    assert(SharedBroadcast(sc, value).id !== first.id)
    assert(sc.parallelize(1 to 2, 2).map(_ => first.value.length).collect().toSeq === Seq(16, 16))
  }

  test("a stopped SparkContext is never handed a dead broadcast") {
    // a second SparkContext cannot run beside the suite's, so the check runs in a child JVM
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val opens = {
      import scala.jdk.CollectionConverters._
      val in = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      in.zip(in.drop(1)).collect { case ("--add-opens", p) => Seq("--add-opens", p) }.flatten ++
        in.filter(_.startsWith("--add-opens="))
    }
    val cmd = Seq(javaBin, "-Xmx512m") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.plans.SharedBroadcastRestart")
    val log = new StringBuilder
    val code = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      l => log.append(l).append('\n'), l => log.append(l).append('\n')))
    assert(code === 0 && log.toString.contains("restart ok"), log.toString.takeRight(4000))
  }
}

/** The child JVM of the stopped-context check: a value broadcast on one
  * context, that context stopped, then the same value on a new context. */
object SharedBroadcastRestart {
  def conf = new SparkConf().setMaster("local[1]").setAppName("shared-broadcast-restart")
    .set("spark.ui.enabled", "false")

  def main(args: Array[String]): Unit = {
    val value = Array(1.0, 2.0, 3.0)
    val sc1 = new SparkContext(conf)
    val b1 = SharedBroadcast(sc1, value)
    require(SharedBroadcast(sc1, value) eq b1)
    require(sc1.parallelize(1 to 2).map(_ => b1.value.sum).collect().toSeq == Seq(6.0, 6.0))
    sc1.stop()
    val refused = try { SharedBroadcast(sc1, value); false } catch { case _: IllegalStateException => true }
    require(refused, "a stopped context was handed a broadcast")
    val sc2 = new SparkContext(conf)
    try {
      val b2 = SharedBroadcast(sc2, value)
      require(b2 ne b1, "the new context was handed the stopped context's broadcast")
      require(sc2.parallelize(1 to 2).map(_ => b2.value.sum).collect().toSeq == Seq(6.0, 6.0))
      require(SharedBroadcast(sc2, value) eq b2)
      println("restart ok")
    } finally sc2.stop()
  }
}
