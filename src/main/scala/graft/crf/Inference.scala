package graft.crf

/** Linear-chain CRF inference kernels in log space.
  *
  * From-scratch implementations of the standard algorithms (Lafferty et al.
  * 2001) that libcrfsuite provides to the reference behind
  * `predict_marginals_single` / `predict`. Label counts are small (≤ dozens),
  * so O(T·L²) with tight primitive-array loops is fast and allocation-light —
  * this runs inside `mapPartitions` on the 100 TB path.
  */
object Inference {

  @inline private def logSumExp(xs: Array[Double]): Double = {
    var mx = Double.NegativeInfinity
    var i = 0
    while (i < xs.length) { if (xs(i) > mx) mx = xs(i); i += 1 }
    if (mx == Double.NegativeInfinity) return Double.NegativeInfinity
    var s = 0.0
    i = 0
    while (i < xs.length) { s += math.exp(xs(i) - mx); i += 1 }
    mx + math.log(s)
  }

  /** Forward-backward. Returns (marginals T×L, logZ, alpha, beta).
    * alpha(t)(y) includes ψ_t(y); beta(t)(y) excludes ψ_t(y). */
  def forwardBackward(psi: Array[Array[Double]], trans: Array[Array[Double]])
      : (Array[Array[Double]], Double, Array[Array[Double]], Array[Array[Double]]) = {
    val T = psi.length
    if (T == 0) return (Array.empty, 0.0, Array.empty, Array.empty)
    val L = psi(0).length
    val alpha = Array.ofDim[Double](T, L)
    val beta = Array.ofDim[Double](T, L)
    val tmp = new Array[Double](L)

    System.arraycopy(psi(0), 0, alpha(0), 0, L)
    var t = 1
    while (t < T) {
      var y2 = 0
      while (y2 < L) {
        var y = 0
        while (y < L) { tmp(y) = alpha(t - 1)(y) + trans(y)(y2); y += 1 }
        alpha(t)(y2) = logSumExp(tmp) + psi(t)(y2)
        y2 += 1
      }
      t += 1
    }
    val logZ = logSumExp(alpha(T - 1))

    java.util.Arrays.fill(beta(T - 1), 0.0)
    t = T - 2
    while (t >= 0) {
      var y = 0
      while (y < L) {
        var y2 = 0
        while (y2 < L) { tmp(y2) = trans(y)(y2) + psi(t + 1)(y2) + beta(t + 1)(y2); y2 += 1 }
        beta(t)(y) = logSumExp(tmp)
        y += 1
      }
      t -= 1
    }

    val marg = Array.ofDim[Double](T, L)
    t = 0
    while (t < T) {
      var y = 0
      while (y < L) { marg(t)(y) = math.exp(alpha(t)(y) + beta(t)(y) - logZ); y += 1 }
      t += 1
    }
    (marg, logZ, alpha, beta)
  }

  /** Scaled-domain forward-backward (Rabiner scaling): works on
    * exponentiated potentials with per-step normalization — no exp/log inside
    * the O(T·L²) recursions, so it is several times faster than the log-space
    * version and numerically stable for any chain length. Returns marginals
    * only — the decode hot path needs nothing else (training keeps the
    * log-space version for logZ/ξ bookkeeping).
    *
    * Potentials are max-shifted per row before exponentiation so `exp` never
    * overflows regardless of weight magnitudes. */
  def marginalsScaled(psi: Array[Array[Double]], trans: Array[Array[Double]]): Array[Array[Double]] =
    marginalsScaledExp(psi, expOf(trans))

  /** Element-wise `exp` of a transition matrix — the `eTrans` argument of
    * [[marginalsScaledExp]]; a decoder computes it once per model
    * (`CrfModel.expTransW`), not once per sentence. */
  def expOf(trans: Array[Array[Double]]): Array[Array[Double]] =
    trans.map(_.map(math.exp))

  /** [[marginalsScaled]] over pre-exponentiated transitions
    * `eTrans = expOf(trans)`: the decode core's forward-backward
    * (`CrfDecoder.marginals`) on copies of `psi` and `eTrans`. */
  def marginalsScaledExp(psi: Array[Array[Double]], eTrans: Array[Array[Double]]): Array[Array[Double]] = {
    val T = psi.length
    if (T == 0) return Array.empty
    val L = psi(0).length
    val b = new CrfDecoder.Buffers
    b.ensure(T * L)
    System.arraycopy(CrfDecoder.flat(psi), 0, b.psi, 0, T * L)
    CrfDecoder.marginals(b, T, L, CrfDecoder.flat(eTrans))
    Array.tabulate(T)(t => java.util.Arrays.copyOfRange(b.alpha, t * L, t * L + L))
  }

  /** Viterbi (max-sum) best label sequence. */
  def viterbi(psi: Array[Array[Double]], trans: Array[Array[Double]]): Array[Int] = {
    val T = psi.length
    if (T == 0) return Array.empty
    val L = psi(0).length
    val delta = Array.ofDim[Double](T, L)
    val back = Array.ofDim[Int](T, L)
    System.arraycopy(psi(0), 0, delta(0), 0, L)
    var t = 1
    while (t < T) {
      var y2 = 0
      while (y2 < L) {
        var best = Double.NegativeInfinity
        var arg = 0
        var y = 0
        while (y < L) {
          val v = delta(t - 1)(y) + trans(y)(y2)
          if (v > best) { best = v; arg = y }
          y += 1
        }
        delta(t)(y2) = best + psi(t)(y2)
        back(t)(y2) = arg
        y2 += 1
      }
      t += 1
    }
    var bestY = 0
    var bestV = Double.NegativeInfinity
    var y = 0
    while (y < L) { if (delta(T - 1)(y) > bestV) { bestV = delta(T - 1)(y); bestY = y }; y += 1 }
    val path = new Array[Int](T)
    path(T - 1) = bestY
    t = T - 1
    while (t > 0) { path(t - 1) = back(t)(path(t)); t -= 1 }
    path
  }
}
