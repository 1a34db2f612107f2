package graft.crf

import org.scalatest.funsuite.AnyFunSuite

/** CRF kernel tests on tiny hand-checkable chains: forward-backward marginals
  * and Viterbi are verified against brute-force enumeration over all label
  * sequences (SURVEY §5 test plan item c). */
class InferenceSpec extends AnyFunSuite {

  def bruteForce(psi: Array[Array[Double]], trans: Array[Array[Double]])
      : (Array[Array[Double]], Array[Int]) = {
    val T = psi.length
    val L = psi(0).length
    val seqs = Iterator.fill(T)(0 until L).foldLeft(Seq(Seq.empty[Int])) { (acc, r) =>
      acc.flatMap(s => r.map(s :+ _))
    }
    def score(s: Seq[Int]): Double =
      s.indices.map(t => psi(t)(s(t))).sum +
        (1 until T).map(t => trans(s(t - 1))(s(t))).sum
    val zs = seqs.map(s => (s, math.exp(score(s))))
    val z = zs.map(_._2).sum
    val marg = Array.ofDim[Double](T, L)
    for ((s, w) <- zs; t <- 0 until T) marg(t)(s(t)) += w / z
    val best = zs.maxBy(_._2)._1.toArray
    (marg, best)
  }

  test("forward-backward marginals match brute force") {
    val psi = Array(
      Array(0.3, -0.2, 1.1),
      Array(-0.5, 0.8, 0.0),
      Array(1.5, 0.2, -1.0),
      Array(0.0, 0.0, 0.4))
    val trans = Array(
      Array(0.1, -0.3, 0.6),
      Array(0.9, 0.2, -0.8),
      Array(-0.1, 0.5, 0.3))
    val (marg, _, _, _) = Inference.forwardBackward(psi, trans)
    val (bfMarg, bfBest) = bruteForce(psi, trans)
    for (t <- psi.indices; y <- 0 until 3)
      assert(math.abs(marg(t)(y) - bfMarg(t)(y)) < 1e-9, s"marg($t)($y)")
    assert(Inference.viterbi(psi, trans).toSeq === bfBest.toSeq)
  }

  test("scaled forward-backward matches log-space marginals") {
    val psi = Array(
      Array(0.3, -0.2, 1.1), Array(-0.5, 0.8, 0.0),
      Array(1.5, 0.2, -1.0), Array(0.0, 0.0, 0.4),
      Array(30.0, -25.0, 2.0)) // large potentials: scaling must stay stable
    val trans = Array(
      Array(0.1, -0.3, 0.6), Array(0.9, 0.2, -0.8), Array(-0.1, 0.5, 0.3))
    val (logMarg, _, _, _) = Inference.forwardBackward(psi, trans)
    val scaled = Inference.marginalsScaled(psi, trans)
    for (t <- psi.indices; y <- 0 until 3)
      assert(math.abs(logMarg(t)(y) - scaled(t)(y)) < 1e-12, s"($t)($y)")
  }

  test("cached exp(transitions) decode path is bit-identical to the per-call exp") {
    val rnd = new scala.util.Random(7)
    val labels = IndexedSeq("O", "B-PER", "I-PER", "L-PER", "U-PER", "B-ORG", "L-ORG", "U-LOC")
    val L = labels.length
    val trans = Array.fill(L, L)(rnd.nextGaussian() * 3)
    val model = CrfModel(labels, Map.empty, trans, CrfConfig())
    assert(model.expTransW eq model.expTransW, "exp(transW) is computed once per model")
    def bits(m: Array[Array[Double]]) = m.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq
    for (len <- Seq(1, 2, 7, 40)) {
      val psi = Array.fill(len, L)(rnd.nextGaussian() * 10)
      val cached = Inference.marginalsScaledExp(psi, model.expTransW)
      assert(bits(cached) === bits(Inference.marginalsScaled(psi, trans)), s"T=$len")
      // BILOU pooling over the cached entity names: the same sum, in the
      // same order, as pooling over `label.drop(2)` per label
      for (t <- 0 until len) {
        val (label, conf) = SpanDecode.mostLikelyEntity(model, cached, t)
        val p = cached(t)
        val best = p.indices.reduceLeft((b, i) => if (p(i) > p(b)) i else b)
        var ref = 0.0
        p.indices.foreach(i => if (labels(i).drop(2) == labels(best).drop(2)) ref += p(i))
        assert(label === labels(best))
        assert(java.lang.Double.doubleToRawLongBits(conf) === java.lang.Double.doubleToRawLongBits(ref))
      }
    }
  }

  test("single-token chain") {
    val psi = Array(Array(0.2, 1.0))
    val trans = Array(Array(0.0, 0.0), Array(0.0, 0.0))
    val (marg, _, _, _) = Inference.forwardBackward(psi, trans)
    val e = math.exp(0.2) + math.exp(1.0)
    assert(math.abs(marg(0)(0) - math.exp(0.2) / e) < 1e-12)
    assert(Inference.viterbi(psi, trans).toSeq === Seq(1))
  }

  test("trainer fits a separable toy corpus exactly") {
    // tokens "a" always labeled X, "b" always labeled Y
    val examples = Seq(
      Example("a b a", IndexedSeq.empty, IndexedSeq(Span(0, 1, "a", "X", 1.0), Span(2, 3, "b", "Y", 1.0), Span(4, 5, "a", "X", 1.0))),
      Example("b a", IndexedSeq.empty, IndexedSeq(Span(0, 1, "b", "Y", 1.0), Span(2, 3, "a", "X", 1.0))))
    val cfg = CrfConfig(c1 = 0.01, c2 = 0.01, maxIter = 200)
    val model = Trainer.trainExamples(examples, cfg)
    val rep = EvalReport.evalExamples(model, examples)
    assert(rep.microF1 === 1.0, rep.formatted)
  }
}
