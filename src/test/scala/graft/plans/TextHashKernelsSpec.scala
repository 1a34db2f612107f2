package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The native shingle/minhash/simhash kernels must be BIT-IDENTICAL to the
  * higher-order-function formulations they replaced (same tokenization, same
  * Spark XXH64 fold, same bit order) — the dedup candidate sets and the q22
  * DuckDB oracle depend on it. The old formulas are restated inline here as
  * the executable reference. */
class TextHashKernelsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val samples = Seq(
    "the quick brown fox jumps over the lazy dog",
    "one two",                 // fewer tokens than n
    "single",
    "",                        // empty text
    "  padded   with   runs   of spaces  ",
    "MIXED Case ÜNICODE tökens straße",
    "dup dup dup dup",         // distinctness
    "a b c d e f g h i j k l m n o p q r s t u v w x y z")

  private def df = samples.toDF("text")

  test("word_shingles == HOF formulation") {
    def hofShingles(text: org.apache.spark.sql.Column, n: Int) = {
      val toks = split(lower(trim(text)), "\\s+")
      val k = size(toks) - (n - 1)
      when(k <= 0, array_distinct(array(concat_ws(" ", toks))))
        .otherwise(array_distinct(transform(sequence(lit(1), k),
          i => concat_ws(" ", slice(toks, i, lit(n))))))
    }
    for (n <- Seq(2, 3)) {
      val rows = df.select(graft.ops.Dedup.shingles($"text", n).as("k"),
        hofShingles($"text", n).as("h")).collect()
      rows.zip(samples).foreach { case (r, s) =>
        assert(r.getSeq[String](0) === r.getSeq[String](1), s"n=$n text='$s'")
      }
    }
  }

  test("minhash_signature == HOF formulation") {
    def hofSig(text: org.apache.spark.sql.Column, k: Int, n: Int) = {
      val toks = split(lower(trim(text)), "\\s+")
      val kk = size(toks) - (n - 1)
      val sh = when(kk <= 0, array_distinct(array(concat_ws(" ", toks))))
        .otherwise(array_distinct(transform(sequence(lit(1), kk),
          i => concat_ws(" ", slice(toks, i, lit(n))))))
      val hs = transform(sh, s => xxhash64(s))
      aggregate(hs, array_repeat(lit(Long.MaxValue), k),
        (acc, h) => zip_with(acc,
          transform(sequence(lit(0), lit(k - 1)), i => xxhash64(h, i)),
          (a, b) => least(a, b)))
    }
    val rows = df.select(graft.ops.Dedup.minhashSignature($"text", 32, 3).as("k"),
      hofSig($"text", 32, 3).as("h")).collect()
    rows.zip(samples).foreach { case (r, s) =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"text='$s'")
    }
  }

  test("simhash == HOF formulation packed MSB-first into a long") {
    def hofBits(text: org.apache.spark.sql.Column) = {
      val hs = transform(array_distinct(split(lower(trim(text)), "\\s+")), t => xxhash64(t))
      def bits(h: org.apache.spark.sql.Column) =
        transform(split(lpad(bin(h), 64, "0"), ""), c => when(c === "1", lit(1)).otherwise(lit(-1)))
      val counts = aggregate(hs, array_repeat(lit(0), 64),
        (acc, h) => zip_with(acc, slice(bits(h), 1, 64), _ + _))
      transform(counts, c => when(c >= 0, lit(1)).otherwise(lit(0)))
    }
    // bit 1 of the HOF array is bit 63 of the long
    def packed(bits: org.apache.spark.sql.Column) =
      aggregate(bits, lit(0L), (acc, b) => shiftleft(acc, 1).bitwiseOR(b.cast("long")))
    val rows = df.select(graft.ops.Dedup.simhash($"text").as("k"),
      packed(hofBits($"text")).as("h")).collect()
    rows.zip(samples).foreach { case (r, s) =>
      assert(r.getLong(0) === r.getLong(1), s"text='$s'")
    }
  }

  test("null text → null outputs") {
    val r = Seq(Option.empty[String]).toDF("text")
      .select(graft.ops.Dedup.shingles($"text", 3),
        graft.ops.Dedup.minhashSignature($"text"),
        graft.ops.Dedup.simhash($"text")).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("lsh_bucket == HOF formulation on real embeddings and edge vectors") {
    def hofBucket(vec: org.apache.spark.sql.Column, nBits: Int, table: Int) = {
      val bits = (0 until nBits).map { b =>
        val s = aggregate(zip_with(vec, sequence(lit(0), size(vec) - 1),
          (v, i) => v.cast("double") *
            when(pmod(xxhash64(lit(table * nBits + b), i), lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0))),
          lit(0.0), (acc, x) => acc + x)
        when(s >= 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
      }
      bits.reduce((a, b) => a.bitwiseOR(b))
    }
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    for (table <- Seq(0, 3)) {
      val diff = emb.select(
          graft.ops.Similarity.lshBucket($"embedding", 10, table).as("k"),
          hofBucket($"embedding", 10, table).as("h"))
        .filter($"k" =!= $"h").count()
      assert(diff === 0L, s"table=$table")
    }
    // zero vector: every plane sum is 0 >= 0 -> all bits set
    val zeros = Seq(Array.fill(8)(0.0f)).toDF("embedding")
      .select(graft.ops.Similarity.lshBucket($"embedding", 6).as("b")).collect()(0).getLong(0)
    assert(zeros === 63L)
  }

  test("kernels compile under CODEGEN_ONLY (no silent interpreted fallback)") {
    // the kernels implement doGenCode since round 3; a Janino compile error
    // would silently fall back to interpreted eval in the default mode and
    // hide the regression — force codegen so it throws here instead
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try {
      val out = df.select(
          graft.ops.Dedup.shingles($"text", 3).as("sh"),
          graft.ops.Dedup.shingleHashes($"text", 3).as("shh"),
          graft.ops.Dedup.minhashSignature($"text", 16).as("mh"),
          graft.ops.Dedup.simhash($"text").as("simh"),
          graft.ops.LangId.detect($"text").as("lang"))
        .collect()
      assert(out.length === samples.length)
      val emb = Seq(Array.fill(8)(0.5f)).toDF("embedding")
        .select(graft.ops.Similarity.lshBucket($"embedding", 6).as("b")).collect()
      assert(emb.length === 1)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
