package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.crf.{CrfDecoder, CrfModel}
import graft.kg.PageLocal

/** `relation_triples(text, ms)` as a native Catalyst expression: the
  * relation triples of one sentence `text` from its linked mentions `ms`
  * (`array<struct<start, end, entity_id, score>>`, sorted by start), as
  * `array<struct<subj, pred, obj, conf>>`.
  *
  * The body is [[graft.kg.PageLocal.relationTriples]] — the same pair
  * orientation, `end < start` filter, first-match `KgPipeline.relationPatterns`
  * and min-score conf as the page-local surfaces — so the generic path of
  * batch `KgPipeline.triples` cannot drift from them. The text between two
  * mentions is cut with Java `String.substring`, in the UTF-16 code-unit
  * offsets `crf_tag` emits. The mention kind is
  * `PageLocal.kindOf(entity_id)`, as in the alias table.
  *
  * Codegen follows `crf_tag`: a direct call into the kernel through a
  * reference object, no interpreted `eval` hop.
  */
case class RelationTriplesExpression(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType, RelationTriplesExpression.mentionArrayType)
  override def dataType: DataType = RelationTriplesExpression.tripleArrayType
  override def prettyName: String = "relation_triples"

  @transient private lazy val compiled = PageLocal.compilePatterns()

  override def nullSafeEval(text: Any, ms: Any): Any =
    evalSentence(text.asInstanceOf[UTF8String], ms.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("relationTriples", this, classOf[RelationTriplesExpression].getName)
    nullSafeCodeGen(ctx, ev, (t, m) => s"${ev.value} = $ref.evalSentence($t, $m);")
  }

  /** The kernel — public so the generated code can call it directly. */
  def evalSentence(text: UTF8String, ms: ArrayData): ArrayData = {
    val linked = IndexedSeq.tabulate(ms.numElements()) { i =>
      val m = ms.getStruct(i, 4)
      val id = m.getUTF8String(2).toString
      PageLocal.Linked(m.getInt(0), m.getInt(1), PageLocal.kindOf(id), id, m.getDouble(3))
    }
    RelationTriplesExpression.tripleArray(PageLocal.relationTriples(text.toString, linked, compiled))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RelationTriplesExpression =
    copy(left = newLeft, right = newRight)
}

object RelationTriplesExpression {
  /** Triples as the `tripleArrayType` value. */
  def tripleArray(ts: Iterator[PageLocal.LocalTriple]): ArrayData =
    new GenericArrayData(ts.map { t =>
      InternalRow(UTF8String.fromString(t.subj), UTF8String.fromString(t.pred),
        UTF8String.fromString(t.obj), t.conf)
    }.toArray[Any])

  val mentionArrayType: DataType = ArrayType(StructType(Seq(
    StructField("start", IntegerType),
    StructField("end", IntegerType),
    StructField("entity_id", StringType),
    StructField("score", DoubleType))))
  val tripleArrayType: DataType = ArrayType(StructType(Seq(
    StructField("subj", StringType, nullable = false),
    StructField("pred", StringType, nullable = false),
    StructField("obj", StringType, nullable = false),
    StructField("conf", DoubleType, nullable = false))), containsNull = false)
}

/** `sentence_triples(text)` as a native Catalyst expression: the relation
  * triples of one sentence straight from its text — CRF decode, alias link
  * and relation matching in one call, as
  * `array<struct<subj, pred, obj, conf>>`. The body is
  * [[graft.kg.PageLocal.sentenceTriples]], so its answer is the page-local
  * chain's by construction.
  *
  * `KgPipeline.sentenceTriplesPlan` builds it, with a model broadcast (on
  * the fused batch path, the one a matched plan's `crf_tag` already
  * carries) and a broadcast of [[graft.kg.PageLocal.aliasIndex]]. It is not
  * a SQL function.
  * Codegen follows `crf_tag`: a direct call into the kernel through a
  * reference object, and the decoder is `CrfDecoder.forModel`'s per-thread
  * one.
  */
case class SentenceTriplesExpression(child: Expression, model: Broadcast[CrfModel],
                                     alias: Broadcast[PageLocal.AliasIndex])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = RelationTriplesExpression.tripleArrayType
  override def prettyName: String = "sentence_triples"
  // plan strings show `sentence_triples(text)`, not the broadcast handles
  override protected def flatArguments: Iterator[Any] = Iterator(child)

  @transient private lazy val compiled = PageLocal.compilePatterns()
  @transient private lazy val index = alias.value

  override def nullSafeEval(input: Any): Any = evalText(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sentenceTriples", this, classOf[SentenceTriplesExpression].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.evalText($c);")
  }

  /** The kernel — public so the generated code can call it directly. */
  def evalText(text: UTF8String): ArrayData =
    RelationTriplesExpression.tripleArray(PageLocal.sentenceTriples(
      CrfDecoder.forModel(model.value), text.toString, index, compiled))

  override protected def withNewChildInternal(newChild: Expression): SentenceTriplesExpression =
    copy(child = newChild)
}
