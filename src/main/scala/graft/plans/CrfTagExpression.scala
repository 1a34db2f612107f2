package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.crf.{CrfDecoder, CrfModel}

/** `crf_tag(text)` as a native Catalyst expression: runs the CRF decoder on a
  * string column and returns `array<struct<start,end,value,entity,confidence>>`.
  * `start`/`end` are UTF-16 code-unit offsets into `text` (Java `String`
  * indices, as `RuleTokenizer` walks `charAt`), not the code-point positions
  * Spark's `substring` counts: the two differ on text outside the Basic
  * Multilingual Plane (emoji), so cut `text` at these offsets on the JVM
  * string, as `relation_triples` does.
  *
  * This is the ONE Spark-side mention decode: `KgPipeline.mentions`
  * (`inline(crf_tag(text))`), the streaming window counts and SQL
  * (`spark.sql("SELECT crf_tag(text) FROM pages")`) all run it. Registered
  * per-session via [[GraftExtensions]]
  * (`spark.sql.extensions=graft.plans.GraftExtensions`) or
  * [[GraftFunctions.register]]; the Column API is [[GraftFunctions.crf_tag]].
  *
  * Execution notes:
  *  - `doGenCode` emits a direct call into the decoder via a codegen
  *    reference object (the decode itself is a JVM model call — the win over
  *    a CodegenFallback is skipping the interpreted `Expression.eval` hop and
  *    its row projection, same as the text-hash kernels).
  *  - The expression carries a BROADCAST handle, not the model, and every
  *    surface takes it from [[SharedBroadcast]]: one broadcast per
  *    (SparkContext, model), so the model crosses to each executor once
  *    and every task there, of any query, reads the same `bc.value` object.
  *    `CrfDecoder.forModel` keys its per-thread decoder (with the token
  *    contribution table) by model identity, so the table warms once per
  *    executor thread and survives across tasks, stages, queries and
  *    micro-batches.
  */
case class CrfTagExpression(child: Expression, model: Broadcast[CrfModel])
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  // analysis-time type error / implicit cast like every built-in string fn,
  // instead of an executor-side ClassCastException
  override def inputTypes = Seq(StringType)

  override def dataType: DataType = CrfTagExpression.spanArrayType
  override def nullable: Boolean = true
  override def prettyName: String = "crf_tag"
  // plan strings show `crf_tag(text)`, not the broadcast handle
  override protected def flatArguments: Iterator[Any] = Iterator(child)

  override def nullSafeEval(input: Any): Any = evalText(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("crfTag", this, classOf[CrfTagExpression].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalText($c);")
  }

  /** The kernel — public so the generated code can call it directly. */
  def evalText(input: UTF8String): ArrayData = {
    val spans = CrfDecoder.forModel(model.value).process(input.toString)
    new GenericArrayData(spans.map { s =>
      InternalRow(s.start, s.end, UTF8String.fromString(s.value),
        UTF8String.fromString(s.entity), s.confidence)
    }.toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): CrfTagExpression =
    copy(child = newChild)
}

object CrfTagExpression {
  val spanStructType: StructType = StructType(Seq(
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("entity", StringType, nullable = false),
    StructField("confidence", DoubleType, nullable = false)))
  val spanArrayType: DataType = ArrayType(spanStructType, containsNull = false)
}

/** Session-level registration of graft SQL functions, and the Column-API
  * form of `crf_tag`. */
object GraftFunctions {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  /** Register `crf_tag` on an existing session; every use of the function
    * shares the model's one broadcast. */
  def register(spark: SparkSession, model: CrfModel): Unit = {
    val bc = SharedBroadcast(spark.sparkContext, model)
    val (id, info, builder) = crfTagFunction(bc)
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)
  }

  /** The `crf_tag` function entry shared by [[register]] and
    * [[GraftExtensions]]; `model` is evaluated each time a query resolves
    * the function. */
  private[plans] def crfTagFunction(model: => Broadcast[CrfModel])
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("crf_tag"),
      new ExpressionInfo("graft.plans.CrfTagExpression", "crf_tag"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "crf_tag(text) takes exactly one argument")
        CrfTagExpression(children.head, model)
      })

  /** Column-API form: `df.select(crf_tag($"text", model))`, over the
    * model's one broadcast. */
  def crf_tag(c: org.apache.spark.sql.Column, model: CrfModel): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      CrfTagExpression(org.apache.spark.sql.GraftColumnBridge.expression(c),
        SharedBroadcast(org.apache.spark.SparkContext.getOrCreate(), model)))

  /** The native text kernels as SQL functions — ONE table consumed by both
    * the session-level [[registerKernels]] and the [[GraftExtensions]]
    * injection path, so the two surfaces cannot diverge. Int parameters
    * must be literals (they parameterize the generated code). */
  private def intArg(e: Expression, fn: String): Int = {
    require(e.foldable, s"$fn: numeric arguments must be literals")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(s"$fn: expected int literal, got $other")
    }
  }

  val kernelFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    def fn(name: String, clazz: String, arity: Int,
           build: Seq[Expression] => Expression) =
      (FunctionIdentifier(name), new ExpressionInfo(clazz, name),
        (children: Seq[Expression]) => {
          require(children.length == arity, s"$name takes $arity argument(s)")
          build(children)
        })
    Seq(
      fn("word_shingles", "graft.plans.WordShinglesExpression", 2,
        c => WordShinglesExpression(c.head, intArg(c(1), "word_shingles"))),
      fn("word_shingle_hashes", "graft.plans.WordShingleHashesExpression", 2,
        c => WordShingleHashesExpression(c.head, intArg(c(1), "word_shingle_hashes"))),
      fn("minhash_sig", "graft.plans.MinhashSignatureExpression", 3,
        c => MinhashSignatureExpression(c.head, intArg(c(1), "minhash_sig"),
          intArg(c(2), "minhash_sig"))),
      fn("simhash", "graft.plans.SimhashExpression", 1,
        c => SimhashExpression(c.head)),
      fn("repetition_stats", "graft.plans.RepetitionStatsExpression", 1,
        c => RepetitionStatsExpression(c.head)),
      fn("lang_scores", "graft.plans.LangScoresExpression", 1,
        c => LangScoresExpression(c.head, graft.ops.LangId.langsSorted,
          graft.ops.LangId.langsSorted.map(graft.ops.LangId.profiles(_)))),
      fn("float_dot", "graft.plans.FloatDotExpression", 2,
        c => FloatDotExpression(c.head, c(1))))
  }

  /** Register the kernel SQL functions on an existing session. */
  def registerKernels(spark: SparkSession): Unit =
    kernelFunctions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}

/** `SparkSessionExtensions` hook: loads the model from the path in
  * `spark.graft.model.path` at first use (injected function); every query
  * that resolves `crf_tag` takes the model's one broadcast. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.crfTagFunction(GraftExtensions.modelFromConf()))
    // the native text kernels as plain SQL functions — `spark.sql("SELECT
    // word_shingles(text, 3) ...")` composes them without the Scala API;
    // same table as GraftFunctions.registerKernels (shared constant)
    GraftFunctions.kernelFunctions.foreach(ext.injectFunction)
    // top-k-per-key: rule rewrites Filter(rn<=k, Window(row_number)) into the
    // bounded-heap operator; strategy plans it (partial + exchange + final)
    ext.injectOptimizerRule(_ => RewriteRowNumberTopK)
    ext.injectPlannerStrategy(_ => TopKStrategy)
  }
}

object GraftExtensions {
  // keyed by path: a JVM-global single-slot cache would pin the FIRST
  // session's model forever — conf changes or other sessions would silently
  // tag with the wrong model
  private val cached = new java.util.concurrent.ConcurrentHashMap[String, CrfModel]()
  private[plans] def modelFromConf(): Broadcast[CrfModel] = {
    val path = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.model.path", "")
    val model = cached.computeIfAbsent(path, p =>
      if (p.nonEmpty) graft.io.ModelIO.load(p)
      else graft.kg.KgPipeline.trainModel(42L))
    SharedBroadcast(org.apache.spark.SparkContext.getOrCreate(), model)
  }
}
