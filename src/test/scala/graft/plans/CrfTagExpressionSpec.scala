package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.kg.{KgPipeline, PagesGen, Synth}

/** The `crf_tag` Catalyst expression must decode spans identically to
  * `CrfDecoder`, from both the Column API and SQL, and ship the model to
  * executors as a broadcast. */
class CrfTagExpressionSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  lazy val model = KgPipeline.trainModel(42L, nTrain = 200)

  test("crf_tag Column API matches CrfDecoder spans") {
    import spark.implicits._
    val texts = (0L until 200L).map(i => Synth.sentence(42L, i).text)
    val df = texts.toDF("text")
    val rows = df.select(col("text"), GraftFunctions.crf_tag(col("text"), model).as("spans"))
      .select(col("text"), explode(col("spans")).as("s"))
      .select(col("text"), col("s.start"), col("s.end"), col("s.value"), col("s.entity"))
      .collect()
    val decoder = new graft.crf.CrfDecoder(model)
    val expected = texts.flatMap(t => decoder.process(t).map(sp => (t, sp.start, sp.end, sp.value, sp.entity)))
    val got = rows.map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3), r.getString(4)))
    assert(got.sorted.toSeq === expected.sorted)
    assert(got.nonEmpty)
  }

  test("crf_tag is usable from SQL after registration") {
    GraftFunctions.register(spark, model)
    import spark.implicits._
    Seq("Alice Johnson works at Hooli in Berlin .").toDF("text").createOrReplaceTempView("sents")
    val out = spark.sql(
      "SELECT s.value, s.entity FROM sents LATERAL VIEW explode(crf_tag(text)) t AS s ORDER BY s.value")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSeq === Seq(("Alice Johnson", "PER"), ("Berlin", "LOC"), ("Hooli", "ORG")))
  }

  test("kernel SQL functions: registered via the shared table, parity with Scala API") {
    GraftFunctions.registerKernels(spark)
    import spark.implicits._
    Seq((1L, "the quick brown fox the quick brown fox")).toDF("doc_id", "text")
      .createOrReplaceTempView("kdocs")
    // shingles dedupe repeats: 8 words, window 3 -> 6 positions, 4 distinct
    val sh = spark.sql("SELECT size(word_shingles(text, 3)) FROM kdocs").head().getInt(0)
    assert(sh === 4)
    // hashed form aligns 1:1 with the string form
    val hs = spark.sql("SELECT size(word_shingle_hashes(text, 3)) FROM kdocs").head().getInt(0)
    assert(hs === 4)
    // SQL minhash signature == the Scala-API dedup path's signature
    val sqlSig = spark.sql("SELECT minhash_sig(text, 16, 3) FROM kdocs").head().getSeq[Long](0)
    val apiSig = spark.sql("SELECT text FROM kdocs")
      .select(org.apache.spark.sql.GraftColumnBridge.column(
        MinhashSignatureExpression(
          org.apache.spark.sql.GraftColumnBridge.expression(col("text")), 16, 3)))
      .head().getSeq[Long](0)
    assert(sqlSig === apiSig)
    // SQL simhash == the Scala-API dedup path's signature
    val sqlSim = spark.sql("SELECT simhash(text) FROM kdocs").head().getLong(0)
    val apiSim = spark.sql("SELECT text FROM kdocs")
      .select(graft.ops.Dedup.simhash(col("text"))).head().getLong(0)
    assert(sqlSim === apiSim)
    val lang = spark.sql("SELECT lang_scores('the house and the garden are near the street').lang")
      .head().getString(0)
    assert(lang === "en")
    // non-literal int argument is rejected, not silently miscompiled
    val err = intercept[Exception] {
      spark.sql("SELECT word_shingles(text, CAST(doc_id AS INT)) FROM kdocs").collect()
    }
    assert(err.getMessage.contains("literal"))
  }

  test("null text yields null, not a crash") {
    GraftFunctions.register(spark, model)
    val out = spark.sql("SELECT crf_tag(CAST(NULL AS STRING)) IS NULL").collect()
    assert(out.head.getBoolean(0))
  }

  test("crf_tag compiles under CODEGEN_ONLY (no silent interpreted fallback)") {
    import spark.implicits._
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      val out = Seq("Alice Johnson works at Hooli in Berlin .").toDF("text")
        .select(explode(GraftFunctions.crf_tag(col("text"), model)).as("s"))
        .select(col("s.value")).collect().map(_.getString(0)).sorted
      assert(out.toSeq === Seq("Alice Johnson", "Berlin", "Hooli"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("crf_tag carries a broadcast handle, and mentions decode once per sentence") {
    def javaBytes(o: AnyRef): Int = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(o)
      out.close()
      bytes.size()
    }
    val expr = CrfTagExpression(
      org.apache.spark.sql.catalyst.expressions.Literal("Alice works at Hooli ."),
      spark.sparkContext.broadcast(model))
    val (exprBytes, modelBytes) = (javaBytes(expr), javaBytes(model))
    assert(exprBytes * 20 < modelBytes,
      s"serialized crf_tag is $exprBytes bytes vs the model's $modelBytes")

    val sents = KgPipeline.sentences(PagesGen.pages(spark, 20, 42L))
    for (partitions <- Seq(0, -1)) {
      val plan = KgPipeline.mentions(sents, model, partitions).queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val decodes = plan.collect { case node =>
        node.expressions.map(_.collect { case c: CrfTagExpression => c }.size).sum
      }.sum
      assert(decodes === 1, s"partitions = $partitions:\n$plan")
    }
  }
}
