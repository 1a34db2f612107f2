package graft.crf

/** A trained linear-chain CRF: label dictionary, per-attribute state weights,
  * dense transition matrix (reference model state, SURVEY §1.1; weights live in
  * sklearn-crfsuite's `state_features_`/`transition_features_`,
  * `/root/reference/spacy_crfsuite/crf_extractor.py:309-341`).
  *
  * `stateW(attr)` is a dense Array over labels (L is small — ≤ a few dozen);
  * `transW(i)(j)` is the weight of transition label_i → label_j. The whole
  * model is a plain serializable value: on Spark it crosses to executors once
  * via its one broadcast (`plans.SharedBroadcast`), never per-row.
  */
case class CrfModel(
    labels: IndexedSeq[String],
    stateW: Map[String, Array[Double]],
    transW: Array[Array[Double]],
    config: CrfConfig) extends Serializable {

  @transient lazy val labelIndex: Map[String, Int] = labels.zipWithIndex.toMap
  def numLabels: Int = labels.length

  /** `exp(transW)`, the scaled-domain decode's transition factors — once per
    * model instance (on Spark: once per executor's broadcast value). */
  @transient lazy val expTransW: Array[Array[Double]] = Inference.expOf(transW)

  /** The entity name of each label (`label.drop(2)`: "B-PER" → "PER"), by
    * label index — what BILOU confidence pooling compares. */
  @transient lazy val entityNames: Array[String] = labels.map(_.drop(2)).toArray

  /** Node log-potentials for one token: ψ(y) = Σ_atoms w(attr, y) · weight. */
  def nodePotentials(atoms: Array[FeatAtom]): Array[Double] = {
    val psi = new Array[Double](numLabels)
    var i = 0
    while (i < atoms.length) {
      val a = atoms(i)
      val w = stateW.getOrElse(a.attr, null)
      if (w != null) {
        var y = 0
        while (y < psi.length) { psi(y) += w(y) * a.weight; y += 1 }
      }
      i += 1
    }
    psi
  }

  /** All node potentials for a sentence (T × L). */
  def sentencePotentials(feats: IndexedSeq[Array[FeatAtom]]): Array[Array[Double]] =
    feats.iterator.map(nodePotentials).toArray

  /** Reference `explain()` (`crf_extractor.py:292-341`): top transitions and
    * state features by weight. (The reference's "Negative features" section
    * accidentally reprints the positive ones — upstream bug, not replicated:
    * we print the actual most-negative features.) */
  def explain(nTrans: Int = 10, nStates: Int = 10): String = {
    val sb = new StringBuilder
    val trans = (for (i <- labels.indices; j <- labels.indices)
      yield ((labels(i), labels(j)), transW(i)(j))).sortBy(-_._2)
    sb.append("Most likely transitions:\n")
    trans.take(nTrans).foreach { case ((a, b), w) => sb.append(f"$a%-10s -> $b%-10s $w%.6f\n") }
    sb.append("\nMost unlikely transitions:\n")
    trans.takeRight(nTrans).reverse.foreach { case ((a, b), w) => sb.append(f"$a%-10s -> $b%-10s $w%.6f\n") }
    val states = (for ((attr, ws) <- stateW.toSeq; y <- ws.indices if ws(y) != 0.0)
      yield ((attr, labels(y)), ws(y))).sortBy(-_._2)
    sb.append("\nPositive features:\n")
    states.take(nStates).foreach { case ((attr, l), w) => sb.append(f"$w%.6f $l%-10s $attr\n") }
    sb.append("\nNegative features:\n")
    states.takeRight(nStates).reverse.foreach { case ((attr, l), w) => sb.append(f"$w%.6f $l%-10s $attr\n") }
    sb.result()
  }
}

object CrfModel {
  /** Build node potentials and run forward-backward in one call —
    * the reference's `predict_marginals_single` (`crf_extractor.py:164`). */
  def marginals(model: CrfModel, feats: IndexedSeq[Array[FeatAtom]]): Array[Array[Double]] =
    Inference.forwardBackward(model.sentencePotentials(feats), model.transW)._1

  /** Viterbi best path — the reference's `predict` used by `eval()`
    * (`crf_extractor.py:222`). */
  def viterbi(model: CrfModel, feats: IndexedSeq[Array[FeatAtom]]): Array[Int] =
    Inference.viterbi(model.sentencePotentials(feats), model.transW)
}
