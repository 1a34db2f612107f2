package graft.plans

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the dedup text-hash pipelines (shingles, MinHash,
  * SimHash). Each replaces an interpreted higher-order-function formulation
  * whose per-element lambda evaluation dominated the dedup benchmarks — the
  * same move that took trigram language-id from 7.8 s to 0.3 s per 500 docs.
  *
  * Semantics are bit-identical to the column versions they replace
  * (`Dedup.shingles`/`minhashSignature`/`simhashBits` before round 2;
  * `Dedup.simhash` packs those SimHash bits into one long):
  * tokenization is UTF8String trim/lowercase + split on the RE2-equivalent
  * whitespace class `[ \\t\\n\\f\\r]+` with limit −1 (explicit class rather
  * than Java's `\\s`, which also matches U+000B and would diverge from the
  * DuckDB oracles' RE2) — and all hashing goes through
  * Spark's own XXH64 with the engine's default seed 42, so signatures,
  * buckets and candidate sets are unchanged.
  *
  * Since round 3 the kernels implement `doGenCode` (a generated call into
  * the static kernel via `TextHash$.MODULE$`) instead of `CodegenFallback`:
  * the fallback routed every row through `Expression.eval` on a freshly
  * projected row — per-row boxing and an interpreted hop inside an otherwise
  * whole-stage-codegen'd scan. Output is bit-identical (same kernel body);
  * the parity specs in TextHashKernelsSpec gate that.
  */
object TextHash {
  final val Seed = 42L

  def tokens(input: UTF8String): Array[String] =
    input.trim().toLowerCase().toString.split("[ \\t\\n\\f\\r]+", -1)

  def hashString(s: String): Long = {
    val u = UTF8String.fromString(s)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), Seed)
  }

  /** One-pass repetition stats for the Gopher quality rules:
    * (n_words, multiplicity of the most frequent word, multiplicity of the
    * most frequent adjacent bigram, distinct word count). Replaces the HOF
    * formulation in `ops.Quality` (sort_array + `aggregate` run-length over
    * words AND bigrams = two interpreted sorts + two lambda folds per row)
    * with two hash-count loops. Empty/whitespace-only text ⇒ all zeros
    * (the column wrapper applies the 0.0 / 1.0 ratio conventions). */
  def repetitionStats(input: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val t = input.trim()
    if (t.numBytes() == 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0, 0, 0, 0))
    val toks = t.toLowerCase().toString.split("[ \\t\\n\\f\\r]+", -1)
    val wc = new java.util.HashMap[String, Integer]()
    var topW = 0
    var i = 0
    while (i < toks.length) {
      val prev = wc.get(toks(i))
      val c = if (prev == null) 1 else prev.intValue() + 1
      wc.put(toks(i), c)
      if (c > topW) topW = c
      i += 1
    }
    var topB = 0
    if (toks.length >= 2) {
      val bc = new java.util.HashMap[String, Integer]()
      val sb = new java.lang.StringBuilder()
      i = 0
      while (i < toks.length - 1) {
        sb.setLength(0)
        sb.append(toks(i)).append(' ').append(toks(i + 1))
        val key = sb.toString
        val prev = bc.get(key)
        val c = if (prev == null) 1 else prev.intValue() + 1
        bc.put(key, c)
        if (c > topB) topB = c
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](toks.length, topW, topB, wc.size()))
  }

  /** Distinct word-n-gram shingles; ≤ n−1 tokens ⇒ the whole token string
    * (exactly the `when(k <= 0, ...)` branch of the column version). */
  def shingles(input: UTF8String, n: Int): java.util.LinkedHashSet[String] = {
    val toks = tokens(input)
    val out = new java.util.LinkedHashSet[String]()
    val k = toks.length - (n - 1)
    if (k <= 0) out.add(toks.mkString(" "))
    else {
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i < k) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out.add(sb.toString)
        i += 1
      }
    }
    out
  }

  // ---- static entry points for both the interpreted eval and the generated
  // code (called as graft.plans.TextHash$.MODULE$.<name> from Janino) ----

  /** ALL word n-grams WITH multiplicity (the CMS/heavy-hitter occurrence
    * stream — [[shingles]] deduplicates, this must not); fewer than n tokens
    * ⇒ empty (exactly `ops.HeavyHitters.gramStrings`' `when(size < n, [])`
    * branch, including the empty-text case via TextStats.words' empty-array
    * guard). */
  def gramsAllArray(input: UTF8String, n: Int): ArrayData = {
    if (input.trim().numBytes() == 0) return new GenericArrayData(Array.empty[Any])
    val toks = tokens(input)
    val k = toks.length - (n - 1)
    if (k <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](k)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < k) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  def shinglesArray(input: UTF8String, n: Int): ArrayData = {
    val sh = shingles(input, n)
    val out = new Array[Any](sh.size)
    val it = sh.iterator()
    var i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  def shingleHashesArray(input: UTF8String, n: Int): ArrayData = {
    val sh = shingles(input, n)
    val out = new Array[Long](sh.size)
    val it = sh.iterator()
    var i = 0
    while (it.hasNext) { out(i) = hashString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  def minhashSig(input: UTF8String, k: Int, n: Int): ArrayData = {
    val sig = Array.fill(k)(Long.MaxValue)
    val it = shingles(input, n).iterator()
    while (it.hasNext) {
      val h = hashString(it.next())
      val h1 = XXH64.hashLong(h, Seed)
      var i = 0
      while (i < k) {
        val hi = XXH64.hashInt(i, h1)
        if (hi < sig(i)) sig(i) = hi
        i += 1
      }
    }
    new GenericArrayData(sig)
  }

  /** 64-bit SimHash, bit j of the signature (MSB first) = sign of the sum
    * of ±1 votes from bit j of each distinct token's xxhash64 (a tie votes
    * 1), packed into one long. */
  def simhash(input: UTF8String): Long = {
    val toks = tokens(input)
    val seen = new java.util.HashSet[String](toks.length * 2)
    val counts = new Array[Int](64)
    var t = 0
    while (t < toks.length) {
      val tok = toks(t)
      if (seen.add(tok)) {
        val h = hashString(tok)
        var j = 0
        while (j < 64) {
          if (((h >>> (63 - j)) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      t += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) >= 0) sig |= 1L << (63 - j)
      j += 1
    }
    sig
  }

  def lshBucketOf(arr: ArrayData, nBits: Int, table: Int, elemIsFloat: Boolean): Long = {
    val d = arr.numElements()
    // null element ⇒ every plane sum was null in the HOF formulation, whose
    // `when(s >= 0, bit).otherwise(0)` rendered every bit 0 — keep that
    var i0 = 0
    while (i0 < d) {
      if (arr.isNullAt(i0)) return 0L
      i0 += 1
    }
    var bucket = 0L
    var b = 0
    while (b < nBits) {
      // seed fold identical to xxhash64(lit(table*nBits+b), i):
      // hashInt(seedLit, 42) then hashInt(i, ·)
      val h1 = XXH64.hashInt(table * nBits + b, Seed)
      var s = 0.0
      var i = 0
      while (i < d) {
        val v = if (elemIsFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        val even = (XXH64.hashInt(i, h1) & 1L) == 0L
        s += (if (even) v else -v)
        i += 1
      }
      if (s >= 0) bucket |= (1L << b)
      b += 1
    }
    bucket
  }
}

/** `word_shingles(text)` → array<string>: distinct word-n-gram shingles. */
case class WordShinglesExpression(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any =
    TextHash.shinglesArray(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextHash$$.MODULE$$.shinglesArray($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpression =
    copy(child = newChild)
}

/** `word_grams(text)` → array<string>: ALL word n-grams with multiplicity —
  * the occurrence stream the CMS heavy-hitter sketch counts (shingles
  * dedupe; a counting sketch must see every occurrence). */
case class WordGramsExpression(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "word_grams"

  override def nullSafeEval(input: Any): Any =
    TextHash.gramsAllArray(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextHash$$.MODULE$$.gramsAllArray($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordGramsExpression =
    copy(child = newChild)
}

/** `word_shingle_hashes(text)` → array<long>: xxhash64 of each distinct
  * shingle (same tokenization/hash as the other kernels). For inverted-index
  * joins the 8-byte hash replaces the shingle STRING in the posting-list
  * shuffle — at web scale that is most of the exchange's bytes; a 64-bit
  * collision producing a spurious candidate pair is ~n²/2⁶⁴ and candidates
  * are exactness-verified downstream anyway. */
case class WordShingleHashesExpression(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "word_shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    TextHash.shingleHashesArray(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextHash$$.MODULE$$.shingleHashesArray($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordShingleHashesExpression =
    copy(child = newChild)
}

/** `minhash_signature(text)` → array<long>: k minhash values over the
  * distinct shingle set; permutation i = xxhash64(xxhash64(shingle), i)
  * (Spark hash-fold semantics: hashInt(i, hashLong(h, 42))). */
case class MinhashSignatureExpression(child: Expression, k: Int, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any =
    TextHash.minhashSig(input.asInstanceOf[UTF8String], k, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextHash$$.MODULE$$.minhashSig($c, $k, $n);")

  override protected def withNewChildInternal(newChild: Expression): MinhashSignatureExpression =
    copy(child = newChild)
}

/** `lsh_bucket(vec)` → long: `nBits`-bit random-hyperplane sign signature of
  * a float/double array column. Hyperplane component (b, i) is a ±1 weight
  * from Spark's XXH64 fold of (table·nBits + b, i) — bit-identical to the
  * higher-order-function formulation it replaces (`pmod(xxhash64(lit, i), 2)`
  * sign trick), which evaluated nBits separate zip_with/aggregate passes per
  * vector. One tight loop over d×nBits products instead. */
case class LshBucketExpression(child: Expression, nBits: Int, table: Int)
    extends UnaryExpression {
  require(nBits >= 1 && nBits <= 63)
  // TypeCollection is private[sql]; a manual check gives the same
  // analysis-time error for wrong-typed arguments
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"lsh_bucket requires array<float> or array<double>, got $other")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "lsh_bucket"

  @transient private lazy val elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any =
    TextHash.lshBucketOf(input.asInstanceOf[ArrayData], nBits, table, elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextHash$$.MODULE$$.lshBucketOf($c, $nBits, $table, $elemIsFloat);")

  override protected def withNewChildInternal(newChild: Expression): LshBucketExpression =
    copy(child = newChild)
}

/** `simhash(text)` → bigint: the 64-bit SimHash of the distinct tokens
  * ([[TextHash.simhash]]), bit 63 first — the one signature encoding of the
  * SimHash miner, the streaming near-dup key and the q24 signature pin. */
case class SimhashExpression(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash"

  override def nullSafeEval(input: Any): Any =
    TextHash.simhash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextHash$$.MODULE$$.simhash($c);")

  override protected def withNewChildInternal(newChild: Expression): SimhashExpression =
    copy(child = newChild)
}

/** `repetition_stats(text)` → struct<n_words:int, top_word:int,
  * top_bigram:int, n_distinct:int>: one-pass inputs for the Gopher
  * repetition quality rules (see [[TextHash.repetitionStats]]). */
case class RepetitionStatsExpression(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = RepetitionStatsExpression.statsType
  override def nullable: Boolean = true
  override def prettyName: String = "repetition_stats"

  override def nullSafeEval(input: Any): Any =
    TextHash.repetitionStats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.TextHash$$.MODULE$$.repetitionStats($c);")

  override protected def withNewChildInternal(newChild: Expression): RepetitionStatsExpression =
    copy(child = newChild)
}

object RepetitionStatsExpression {
  val statsType: StructType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("top_word", IntegerType, nullable = false),
    StructField("top_bigram", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false)))
}
