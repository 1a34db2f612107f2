package graft.crf

import breeze.linalg.DenseVector
import breeze.optimize.{DiffFunction, LBFGS, OWLQN}

/** From-scratch linear-chain CRF trainer: maximum likelihood with elastic-net
  * regularization, optimized with breeze L-BFGS / OWL-QN.
  *
  * Mirrors the reference's training contract (libcrfsuite `lbfgs` with
  * `c1`/`c2`, `all_possible_transitions=True`; documented at
  * `/root/reference/spacy_crfsuite/compat.py:15-74`, invoked from
  * `crf_extractor.py:167-201`): loss = Σ_sents −log P(y|x) + c1·‖w‖₁ + c2·‖w‖₂²,
  * L1 handled by OWL-QN (crfsuite does exactly this when c1 > 0). State
  * features exist for observed (attribute, label) pairs only
  * (`all_possible_states=False` default); transitions are the dense L×L matrix
  * (`all_possible_transitions=True`; `false` is rejected).
  *
  * Weight-for-weight equality with libcrfsuite is not a goal (different
  * optimizer internals); the parity gate is span-level P/R (SURVEY §7).
  *
  * This object is the one training core: the slot layout ([[FeatureIndex]]),
  * the sentence encoder, node potentials, the transition block, the NLL
  * gradient, the L2 + optimizer objective ([[minimize]]) and the weights →
  * [[CrfModel]] assembly. The batch path here, the online solvers
  * ([[OnlineTrainers]]) and the distributed path ([[SparkTrainer]]) are thin
  * over it.
  *
  * Scale note: training corpora are curated and small (the reference's largest
  * is CoNLL03's 14k sentences) — feature extraction is distributed via
  * Dataset.map upstream, the optimizer itself runs on the driver over encoded
  * (int-indexed) sentences. The gradient is embarrassingly parallel over
  * sentences; the batch path sums it over fixed 64-sentence chunks on the
  * common fork-join pool, so it uses all driver cores.
  */
object Trainer {

  /** A sentence encoded against the feature index: per token the attr ids +
    * scales, plus gold label ids. */
  final case class EncSent(attrIds: Array[Array[Int]], attrW: Array[Array[Double]], gold: Array[Int])

  /** Parameter-slot layout: attribute-major state slots (`attrParam`, -1 for
    * a pair without a parameter), then the dense L×L transition block. */
  final class FeatureIndex private (
      val labels: IndexedSeq[String],
      val attrs: IndexedSeq[String],
      val attrParam: Array[Array[Int]], // attrId → labelId → param idx or -1
      val numStateParams: Int) extends Serializable {
    val labelIdx: Map[String, Int] = labels.zipWithIndex.toMap
    val attrIdx: Map[String, Int] = attrs.zipWithIndex.toMap
    def numParams: Int = numStateParams + labels.length * labels.length
  }

  object FeatureIndex {
    /** The one place an index is built. Slots are numbered attribute-major,
      * in the given attribute and label orders (the orders decide the
      * weights); `survives(a, y)` says whether the (attribute, label) pair
      * gets a state slot, unless `config.allPossibleStates` grants all. */
    private[crf] def apply(labels: IndexedSeq[String], attrs: IndexedSeq[String], config: CrfConfig)(
        survives: (Int, Int) => Boolean): FeatureIndex = {
      require(config.allPossibleTransitions,
        "allPossibleTransitions = false (all_possible_transitions) is not supported: " +
          "transitions are always the dense L×L block")
      var p = 0
      val attrParam = Array.tabulate(attrs.length, labels.length) { (a, y) =>
        if (config.allPossibleStates || survives(a, y)) { val k = p; p += 1; k } else -1
      }
      new FeatureIndex(labels, attrs, attrParam, p)
    }
  }

  /** Build label + attribute dictionaries and the observed (attr,label) param
    * layout from the training data. Label order = first appearance.
    *
    * `minFreq` is crfsuite's feature cut-off (ref `compat.py:24-28`): a state
    * feature (attr,label) gets a parameter only if its occurrence frequency
    * exceeds `minFreq` ("no greater than" is dropped). Frequency is the sum
    * of ABSOLUTE feature values (binary features have weight 1.0 ⇒ the
    * occurrence count, crfsuite's behavior) — a SIGNED sum would silently
    * freeze dense (zero-centered) feature slots whose weights cancel, even
    * at the default minFreq=0.0 "no cut-off". Attributes left with no
    * surviving label slot are dropped from the dictionary entirely.
    *
    * `allPossibleStates` (crfsuite all_possible_states=True, ref
    * compat.py:30-42) generates the full grid over the SURVIVING attributes ×
    * all labels — negative state features included. The cut is applied to
    * attributes FIRST, then the grid is generated; the same order as the
    * distributed trainer ([[SparkTrainer]]), so both produce one feature
    * space for one config (gated by SparkTrainerSpec's parity test). */
  def buildIndex(sents: Seq[(IndexedSeq[Array[FeatAtom]], IndexedSeq[String])],
                 minFreq: Double = 0.0, allPossibleStates: Boolean = false): FeatureIndex =
    index(sents, CrfConfig(minFreq = minFreq, allPossibleStates = allPossibleStates))

  private def index(sents: Seq[(IndexedSeq[Array[FeatAtom]], IndexedSeq[String])],
                    config: CrfConfig): FeatureIndex = {
    val labels = scala.collection.mutable.LinkedHashSet.empty[String]
    val attrsAll = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    for ((feats, tags) <- sents) {
      tags.foreach(labels += _)
      feats.foreach(_.foreach(a => if (!attrsAll.contains(a.attr)) attrsAll(a.attr) = attrsAll.size))
    }
    val labelSeq = labels.toIndexedSeq
    val lIdx = labelSeq.zipWithIndex.toMap
    val freq = Array.fill(attrsAll.size)(new Array[Double](labelSeq.length))
    for ((feats, tags) <- sents; t <- feats.indices; a <- feats(t))
      freq(attrsAll(a.attr))(lIdx(tags(t))) += math.abs(a.weight)
    val kept = attrsAll.keysIterator.zipWithIndex
      .filter { case (_, i) => freq(i).exists(_ > config.minFreq) }.toIndexedSeq
    FeatureIndex(labelSeq, kept.map(_._1), config)((a, y) => freq(kept(a)._2)(y) > config.minFreq)
  }

  def encode(idx: FeatureIndex,
             sents: Seq[(IndexedSeq[Array[FeatAtom]], IndexedSeq[String])]): IndexedSeq[EncSent] =
    sents.iterator.map { case (feats, tags) =>
      encodeSent(idx, feats.map(_.map(_.attr)).toArray, feats.map(_.map(_.weight)).toArray, tags.toArray)
    }.toIndexedSeq

  /** One sentence against the index: attributes outside the dictionary are
    * dropped together with their values. */
  private[crf] def encodeSent(idx: FeatureIndex, attrs: Array[Array[String]], ws: Array[Array[Double]],
                              tags: Array[String]): EncSent = {
    val ids = attrs.map(_.map(idx.attrIdx.getOrElse(_, -1)))
    val kept = ids.zip(ws).map { case (is, vs) => vs.indices.filter(is(_) >= 0).map(vs).toArray }
    EncSent(ids.map(_.filter(_ >= 0)), kept, tags.map(idx.labelIdx))
  }

  /** Node potentials ψ[t][y] for one encoded sentence under weights w. */
  private[crf] def potentials(idx: FeatureIndex, w: Array[Double], s: EncSent): Array[Array[Double]] = {
    val L = idx.labels.length
    val T = s.gold.length
    val psi = Array.ofDim[Double](T, L)
    var t = 0
    while (t < T) {
      val ids = s.attrIds(t); val ws = s.attrW(t)
      var k = 0
      while (k < ids.length) {
        val params = idx.attrParam(ids(k))
        var y = 0
        while (y < L) {
          val p = params(y)
          if (p >= 0) psi(t)(y) += w(p) * ws(k)
          y += 1
        }
        k += 1
      }
      t += 1
    }
    psi
  }

  /** The L×L transition block of w (a copy). */
  private[crf] def transOf(idx: FeatureIndex, w: Array[Double]): Array[Array[Double]] = {
    val L = idx.labels.length
    Array.tabulate(L, L)((i, j) => w(idx.numStateParams + i * L + j))
  }

  /** −log-likelihood of one sentence; adds `scale` × its gradient into
    * `grad`. ψ and the transition block are read from `w` before any write,
    * so `grad` may be `w` itself (online SGD passes `scale = −η`). */
  private[crf] def sentenceNllGrad(idx: FeatureIndex, w: Array[Double], s: EncSent,
                                   grad: Array[Double], scale: Double): Double = {
    val L = idx.labels.length
    val T = s.gold.length
    if (T == 0) return 0.0
    val nS = idx.numStateParams
    val psi = potentials(idx, w, s)
    val trans = transOf(idx, w)
    val (marg, logZ, alpha, beta) = Inference.forwardBackward(psi, trans)

    // gold score
    var goldScore = psi(0)(s.gold(0))
    var t = 1
    while (t < T) { goldScore += trans(s.gold(t - 1))(s.gold(t)) + psi(t)(s.gold(t)); t += 1 }

    // state gradient: E[f] − f(gold)
    t = 0
    while (t < T) {
      val ids = s.attrIds(t); val ws = s.attrW(t)
      var k = 0
      while (k < ids.length) {
        val params = idx.attrParam(ids(k))
        var y = 0
        while (y < L) {
          val p = params(y)
          if (p >= 0) {
            var g = marg(t)(y) * ws(k)
            if (y == s.gold(t)) g -= ws(k)
            grad(p) += scale * g
          }
          y += 1
        }
        k += 1
      }
      t += 1
    }
    // transition gradient via pairwise marginals
    t = 0
    while (t < T - 1) {
      var y = 0
      while (y < L) {
        var y2 = 0
        while (y2 < L) {
          val xi = math.exp(alpha(t)(y) + trans(y)(y2) + psi(t + 1)(y2) + beta(t + 1)(y2) - logZ)
          var g = xi
          if (y == s.gold(t) && y2 == s.gold(t + 1)) g -= 1.0
          grad(nS + y * L + y2) += scale * g
          y2 += 1
        }
        y += 1
      }
      t += 1
    }
    logZ - goldScore
  }

  /** Summed NLL and gradient of a run of sentences, in iteration order. */
  private[crf] def nllGrad(idx: FeatureIndex, w: Array[Double], sents: Iterator[EncSent]): (Double, Array[Double]) = {
    val g = new Array[Double](idx.numParams)
    var loss = 0.0
    sents.foreach(s => loss += sentenceNllGrad(idx, w, s, g, 1.0))
    (loss, g)
  }

  /** The batch objective over `n` weights: `partials(w)` gives the NLL and
    * gradient of each chunk of the corpus, which are summed in the order
    * given (a fixed order keeps the weights bit-identical across runs), plus
    * c2·‖w‖₂²; L1 (c1 > 0) is OWL-QN's, else L-BFGS. Starts from w = 0. */
  private[crf] def minimize(n: Int, config: CrfConfig)(
      partials: Array[Double] => Array[(Double, Array[Double])]): Array[Double] = {
    val f = new DiffFunction[DenseVector[Double]] {
      def calculate(wv: DenseVector[Double]): (Double, DenseVector[Double]) = {
        val w = wv.data
        var loss = 0.0
        val grad = new Array[Double](n)
        partials(w).foreach { case (l, g) =>
          loss += l
          var i = 0
          while (i < n) { grad(i) += g(i); i += 1 }
        }
        // L2 (crfsuite: + c2·‖w‖², grad 2·c2·w)
        if (config.c2 > 0) {
          var i = 0
          while (i < n) { loss += config.c2 * w(i) * w(i); grad(i) += 2 * config.c2 * w(i); i += 1 }
        }
        (loss, DenseVector(grad))
      }
    }
    val init = DenseVector.zeros[Double](n)
    val wOpt =
      if (config.c1 > 0)
        new OWLQN[Int, DenseVector[Double]](config.maxIter, 6, config.c1, 1e-8).minimize(f, init)
      else
        new LBFGS[DenseVector[Double]](config.maxIter, 6, 1e-8).minimize(f, init)
    wOpt.data
  }

  /** Weights → model: each attribute's state row (0 where a pair has no
    * slot) and the transition block. */
  private[crf] def toModel(idx: FeatureIndex, w: Array[Double], config: CrfConfig): CrfModel = {
    val L = idx.labels.length
    val stateW = idx.attrs.indices.iterator.map { a =>
      val arr = new Array[Double](L)
      var y = 0
      while (y < L) { val p = idx.attrParam(a)(y); if (p >= 0) arr(y) = w(p); y += 1 }
      idx.attrs(a) -> arr
    }.toMap
    CrfModel(idx.labels, stateW, transOf(idx, w), config)
  }

  /** Train from already-featurized sentences. Dispatches on
    * `config.algorithm`: `lbfgs` (the batch objective, reference default) or
    * the online crfsuite algorithms `l2sgd`/`ap`/`pa`/`arow`
    * ([[OnlineTrainers]], ref compat.py:15-23). */
  def train(sents: Seq[(IndexedSeq[Array[FeatAtom]], IndexedSeq[String])],
            config: CrfConfig): CrfModel = {
    require(sents.nonEmpty, "empty training set")
    require(Set("lbfgs", "l2sgd", "ap", "pa", "arow")(config.algorithm),
      s"unknown algorithm: ${config.algorithm}")
    val idx = index(sents, config)
    val enc = encode(idx, sents)
    val w =
      if (config.algorithm == "lbfgs") {
        // fixed chunk size, NOT core-count-derived: keeps the gradient
        // summation order (and therefore the trained weights) bit-identical
        // across machines and ActiveProcessorCount settings; the pool still
        // uses all cores
        val chunks = enc.grouped(64).toArray
        minimize(idx.numParams, config)(w => chunks.par2Map(c => nllGrad(idx, w, c.iterator)))
      } else {
        val online = enc.filter(_.gold.nonEmpty).toArray
        // crfsuite's own defaults for the online algorithms are ~100 epochs
        // (max_iterations); the CrfConfig default 1000 is the lbfgs budget —
        // cap the online passes at 100 unless the user set something smaller.
        val epochs = math.min(config.maxIter, 100)
        config.algorithm match {
          case "l2sgd" => OnlineTrainers.l2sgd(idx, online, config, epochs)
          case "ap"    => OnlineTrainers.averagedPerceptron(idx, online, epochs)
          case "pa"    => OnlineTrainers.passiveAggressive(idx, online, epochs, c = 1.0)
          case "arow"  => OnlineTrainers.arow(idx, online, epochs, r = 1.0)
        }
      }
    toModel(idx, w, config)
  }

  /** Train from raw examples (reference train CLI flow, `train.py:71-129`).
    * `vectors` feeds the dense-features path when
    * `config.useDenseFeatures` is on (reference: the spaCy md model's vocab). */
  def trainExamples(examples: Seq[Example], config: CrfConfig, bilou: Boolean = true,
                    vectors: Option[VectorSource] = None): CrfModel = {
    val dense =
      if (config.useDenseFeatures) vectors.map((_, config.denseFeaturesClsPooling)) else None
    val sents = examples.map { ex =>
      val crfToks = Featurizer.goldExampleToCrfTokens(ex, bilou, dense)
      (Featurizer.sentenceFeatures(crfToks, config.features), crfToks.map(_.entity))
    }.filter(_._2.nonEmpty)
    train(sents, config)
  }

  /** Tiny fixed-pool parallel map (scala-parallel-collections isn't a
    * first-class dep; this keeps the gradient multi-core on the driver). */
  implicit private class ParOps[A](private val xs: Array[A]) {
    def par2Map[B: scala.reflect.ClassTag](fn: A => B): Array[B] = {
      import java.util.concurrent._
      val pool = ForkJoinPool.commonPool()
      val tasks = xs.map(a => pool.submit(new Callable[B] { def call(): B = fn(a) }))
      tasks.map(_.get())
    }
  }
}
