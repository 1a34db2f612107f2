package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** The SimHash miner must return exactly the brute-force pair set over its
  * own signatures: every id-ordered pair with popcount(sig_a xor sig_b) ≤
  * maxDist, once. At maxDist 2 and 4 the chunk width does not divide 64, so
  * the low bits fall in no chunk — pigeonhole must still hold over the
  * covered bits. */
class SimhashMinerSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Duplicate-heavy corpus: base docs from a small vocabulary, plus exact
    * copies, token-reordered copies (same signature) and one- to three-token
    * edits (signatures a few bits apart). */
  private lazy val docs: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 60).map(i => s"t$i")
    val base = (0 until 60).map { i =>
      i.toLong -> Seq.fill(8 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val variants = base.flatMap { case (id, s) =>
      val toks = s.split(" ")
      Seq(
        (id + 1000L) -> s,
        (id + 2000L) -> toks.reverse.mkString(" "),
        (id + 3000L) -> (s + " extra" + (id % 5)),
        (id + 4000L) -> toks.drop(1).mkString(" "),
        (id + 5000L) -> (toks.drop(2) ++ Seq("x1", "x2", "x3")).mkString(" "))
    }
    base ++ variants
  }

  private lazy val sigs: Seq[(Long, Long)] =
    docs.toDF("doc_id", "text").select($"doc_id", Dedup.simhash($"text"))
      .as[(Long, Long)].collect().toSeq

  private def bruteForce(maxDist: Int): Seq[(Long, Long, Long)] =
    (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      d = java.lang.Long.bitCount(sa ^ sb) if d <= maxDist
    } yield (a, b, d.toLong)).sorted

  private def mined(maxDist: Int): Seq[(Long, Long, Long)] =
    Dedup.simhashDupPairs(docs.toDF("doc_id", "text").repartition(3), maxDist = maxDist)
      .as[(Long, Long, Long)].collect().toSeq.sorted

  for (maxDist <- Seq(0, 2, 3, 4)) {
    test(s"simhashDupPairs ≡ brute force over the signatures at maxDist $maxDist") {
      val expect = bruteForce(maxDist)
      // the corpus must exercise the cross-signature path, not only dist 0
      if (maxDist > 0) assert(expect.exists(_._3 > 0), "no pair at distance > 0")
      assert(mined(maxDist) === expect)
    }
  }

  test("the corpus has pairs that differ in bits outside every chunk") {
    // maxDist 4: 5 chunks of 12 bits cover bits 63..4; bits 3..0 are in none
    val bySig = sigs.toMap
    assert(bruteForce(4).exists { case (a, b, d) => d > 0 && ((bySig(a) ^ bySig(b)) & 0xFL) != 0L })
  }

  test("maxDist outside 0..63 is rejected with a clear message") {
    val df = docs.toDF("doc_id", "text")
    for (bad <- Seq(-1, 64, 100)) {
      val err = intercept[IllegalArgumentException](Dedup.simhashDupPairs(df, maxDist = bad))
      assert(err.getMessage.contains("maxDist must be in 0..63"), err.getMessage)
    }
    // the widest legal value runs: 64 one-bit chunks
    assert(Dedup.simhashDupPairs(df.limit(20), maxDist = 63).count() === 20L * 19 / 2)
  }
}
