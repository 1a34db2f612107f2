package graft.crf

/** The reference's non-lbfgs crfsuite training algorithms
  * (ref compat.py:15-23: `l2sgd`, `ap`, `pa`, `arow`): the update rules
  * only. [[Trainer.train]] builds the index, encodes the sentences and
  * assembles the model; potentials, the transition block and the NLL
  * gradient are the training core's too. These are online structured
  * learners — per sentence, decode with the current weights and update
  * toward the gold path:
  *
  *  - l2sgd: stochastic gradient descent on the CRF NLL with L2 (Pegasos
  *    learning-rate schedule η_t = 1/(λ(t0+t)), λ = 2·c2/N)
  *  - ap: averaged structured perceptron (Collins 2002) — mistake-driven
  *    f(gold)−f(pred) updates, averaged weights returned
  *  - pa: passive-aggressive PA-I (Crammer et al. 2006) with the standard
  *    structured hinge loss = margin + √(Hamming cost), step
  *    τ = min(C, loss/‖Δf‖²)
  *  - arow: adaptive regularization of weight vectors (Crammer et al. 2009),
  *    diagonal confidence: β = 1/(Δf'ΣΔf + r), α = max(0, 1−m)·β
  *
  * Weight-for-weight crfsuite equality is not a goal (same stance as the
  * L-BFGS trainer); the gate is span-level P/R parity on the reference
  * corpora (OnlineTrainersSpec). All passes iterate sentences in a
  * seed-fixed shuffled order — deterministic across runs and machines. */
object OnlineTrainers {

  import Trainer.{EncSent, FeatureIndex, potentials, sentenceNllGrad, transOf}

  /** Sparse Δf = f(gold) − f(pred) as (paramIdx → value). Only state params
    * with an allocated slot contribute (observed-features model, like the
    * L-BFGS path); transitions always have slots. */
  private def featureDelta(idx: FeatureIndex, s: EncSent, pred: Array[Int]): java.util.HashMap[Integer, java.lang.Double] = {
    val L = idx.labels.length
    val nS = idx.numStateParams
    val d = new java.util.HashMap[Integer, java.lang.Double]()
    def add(p: Int, v: Double): Unit =
      if (p >= 0) d.merge(p, v, (a, b) => a + b)
    val T = s.gold.length
    var t = 0
    while (t < T) {
      val ids = s.attrIds(t); val ws = s.attrW(t)
      var k = 0
      while (k < ids.length) {
        val params = idx.attrParam(ids(k))
        add(params(s.gold(t)), ws(k))
        add(params(pred(t)), -ws(k))
        k += 1
      }
      if (t > 0) {
        add(nS + s.gold(t - 1) * L + s.gold(t), 1.0)
        add(nS + pred(t - 1) * L + pred(t), -1.0)
      }
      t += 1
    }
    d
  }

  private def hamming(a: Array[Int], b: Array[Int]): Int = {
    var n = 0; var i = 0
    while (i < a.length) { if (a(i) != b(i)) n += 1; i += 1 }
    n
  }

  /** Deterministic per-epoch order (seed-fixed Fisher-Yates). */
  private def epochOrder(n: Int, epoch: Int): Array[Int] = {
    val rnd = new scala.util.Random(42L + epoch)
    val order = Array.range(0, n)
    var i = n - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t; i -= 1 }
    order
  }

  /** Stochastic gradient descent on the per-sentence CRF NLL + L2: each
    * step adds −η × the sentence gradient straight into `w`. */
  private[crf] def l2sgd(idx: FeatureIndex, enc: Array[EncSent], config: CrfConfig,
                         epochs: Int): Array[Double] = {
    val n = idx.numParams
    val w = new Array[Double](n)
    val lambda = 2.0 * math.max(config.c2, 1e-6) / enc.length
    val t0 = 1.0 / lambda // Pegasos-style offset: η_1 well below 1/λ
    var t = 0L
    for (epoch <- 0 until epochs; si <- epochOrder(enc.length, epoch)) {
      // clamp: eta*lambda must stay < 1 or the L2 shrink factor goes
      // non-positive (weights zeroed/sign-flipped when lambda = 2*c2/N >= 1,
      // e.g. tiny corpora with large c2); crfsuite solves this with eta0
      // calibration, a cap is the simple equivalent
      val eta = math.min(1.0 / (lambda * (t0 + t)), 0.9 / lambda)
      sentenceNllGrad(idx, w, enc(si), w, -eta)
      // L2 shrink (scaled to the per-sentence share)
      val shrink = 1.0 - eta * lambda
      var i = 0
      while (i < n) { w(i) *= shrink; i += 1 }
      t += 1
    }
    w
  }

  /** Averaged structured perceptron. */
  private[crf] def averagedPerceptron(idx: FeatureIndex, enc: Array[EncSent],
                                      epochs: Int): Array[Double] = {
    val n = idx.numParams
    val w = new Array[Double](n)
    val u = new Array[Double](n) // c-weighted update sums (Daumé averaging trick)
    var c = 1.0
    for (epoch <- 0 until epochs; si <- epochOrder(enc.length, epoch)) {
      val s = enc(si)
      val pred = Inference.viterbi(potentials(idx, w, s), transOf(idx, w))
      if (!java.util.Arrays.equals(pred, s.gold)) {
        val d = featureDelta(idx, s, pred)
        d.forEach { (p, v) => w(p) += v; u(p) += c * v }
      }
      c += 1.0
    }
    val avg = new Array[Double](n)
    var i = 0
    while (i < n) { avg(i) = w(i) - u(i) / c; i += 1 }
    avg
  }

  /** Passive-aggressive PA-I with √Hamming-augmented hinge. */
  private[crf] def passiveAggressive(idx: FeatureIndex, enc: Array[EncSent],
                                     epochs: Int, c: Double): Array[Double] = {
    val n = idx.numParams
    val w = new Array[Double](n)
    for (epoch <- 0 until epochs; si <- epochOrder(enc.length, epoch)) {
      val s = enc(si)
      val pred = Inference.viterbi(potentials(idx, w, s), transOf(idx, w))
      val cost = hamming(pred, s.gold)
      if (cost > 0) {
        val d = featureDelta(idx, s, pred)
        var margin = 0.0 // w·Δf = score(gold) − score(pred) ≤ 0 when pred is argmax
        var norm2 = 0.0
        val it = d.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          margin += w(e.getKey) * e.getValue
          norm2 += e.getValue * e.getValue
        }
        val loss = math.sqrt(cost.toDouble) - margin
        if (loss > 0 && norm2 > 0) {
          val tau = math.min(c, loss / norm2)
          d.forEach { (p, v) => w(p) += tau * v }
        }
      }
    }
    w
  }

  /** AROW with diagonal confidence. */
  private[crf] def arow(idx: FeatureIndex, enc: Array[EncSent], epochs: Int,
                        r: Double): Array[Double] = {
    val n = idx.numParams
    val w = new Array[Double](n)
    val sigma = Array.fill(n)(1.0)
    for (epoch <- 0 until epochs; si <- epochOrder(enc.length, epoch)) {
      val s = enc(si)
      val pred = Inference.viterbi(potentials(idx, w, s), transOf(idx, w))
      if (!java.util.Arrays.equals(pred, s.gold)) {
        val d = featureDelta(idx, s, pred)
        var margin = 0.0
        var v = 0.0 // Δf' Σ Δf
        val it = d.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          margin += w(e.getKey) * e.getValue
          v += sigma(e.getKey) * e.getValue * e.getValue
        }
        val loss = 1.0 - margin
        if (loss > 0) {
          val beta = 1.0 / (v + r)
          val alpha = loss * beta
          d.forEach { (p, x) =>
            w(p) += alpha * sigma(p) * x
            sigma(p) -= beta * sigma(p) * sigma(p) * x * x
          }
        }
      }
    }
    w
  }
}
