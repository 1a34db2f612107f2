package graft.crf

import org.apache.spark.sql.Dataset

/** Distributed CRF training: feature extraction as a Dataset map, L-BFGS /
  * OWL-QN on the driver with the loss/gradient computed per partition over
  * executor-resident encoded sentences — the MLlib pattern (weights
  * broadcast per iteration), except that the per-partition partials are
  * collected and summed on the driver in partition-id order.
  *
  * The slot layout, encoder, NLL gradient, objective and model assembly are
  * [[Trainer]]'s; this path only supplies the dictionaries and the gradient.
  *
  * The reference trains single-process (libcrfsuite). Curated corpora fit on
  * the driver (use `Trainer.train`); this path exists for corpus-scale
  * training where examples live in a Dataset — gradient cost dominates and
  * scales with executors, while the optimizer state (one weight vector)
  * stays on the driver.
  */
object SparkTrainer {

  def train(examples: Dataset[Example], config: CrfConfig, bilou: Boolean = true,
            vectors: Option[VectorSource] = None): CrfModel = {
    val spark = examples.sparkSession
    import spark.implicits._
    // the distributed gradient is L-BFGS-shaped (full-batch loss per
    // iteration); the online algorithms are inherently sequential — reject
    // loudly instead of silently training something else than requested
    require(config.algorithm == "lbfgs",
      s"SparkTrainer supports algorithm=lbfgs only (got '${config.algorithm}'); " +
        "use Trainer.trainExamples for l2sgd/ap/pa/arow")
    val dense =
      if (config.useDenseFeatures) vectors.map((_, config.denseFeaturesClsPooling)) else None

    // 1. distributed featurization → (attrs per token, tags), materialized
    //    once: the dictionaries and the encoding below each read it
    val featurized: Dataset[(Array[Array[String]], Array[Array[Double]], Array[String])] =
      examples.map { ex =>
        val crfToks = Featurizer.goldExampleToCrfTokens(ex, bilou, dense)
        val feats = Featurizer.sentenceFeatures(crfToks, config.features)
        (feats.map(_.map(_.attr)).toArray, feats.map(_.map(_.weight)).toArray,
          crfToks.map(_.entity).toArray)
      }.filter(_._3.nonEmpty).localCheckpoint(eager = false)

    // 2. dictionaries: labels (collect keys only, not features) and the
    //    surviving (attr,label) pairs. The pair frequencies are summed
    //    distributed (map-side combine) and cut at minFreq BEFORE the collect
    //    — on web-scale corpora this is what keeps the driver-side dictionary
    //    bounded (crfsuite min_freq semantics, ref compat.py:24-28: keep
    //    features with frequency strictly greater than minFreq). Frequency is
    //    the |value| sum, matching Trainer.buildIndex — a signed sum would
    //    silently cut zero-centered dense slots whose weights cancel.
    val labelSeq = featurized.flatMap(_._3).distinct().collect().sorted.toIndexedSeq
    val minFreq = config.minFreq
    val observedPairs = featurized.rdd.flatMap { case (attrs, ws, tags) =>
      attrs.iterator.zip(ws.iterator).zip(tags.iterator).flatMap { case ((as, vs), t) =>
        as.iterator.zip(vs.iterator).map { case (a, v) => ((a, t), math.abs(v)) }
      }
    }.reduceByKey(_ + _).filter(_._2 > minFreq).keys.collect()
    val attrSeq = observedPairs.map(_._1).distinct.sorted.toIndexedSeq
    val observed = observedPairs.toSet
    val idx = Trainer.FeatureIndex(labelSeq, attrSeq, config)((a, y) => observed((attrSeq(a), labelSeq(y))))

    // 3. encode sentences against the dictionaries, keep distributed
    //    (materialized once, before the iteration loop)
    val bcIdx = spark.sparkContext.broadcast(idx)
    val encoded: Dataset[Trainer.EncSent] = featurized.map { case (attrs, ws, tags) =>
      Trainer.encodeSent(bcIdx.value, attrs, ws, tags)
    }.localCheckpoint(eager = false)

    // 4. optimizer on driver; per-partition loss+gradient partials combined
    //    on the driver in FIXED partition-id order — treeAggregate combines
    //    in task-arrival order, which makes float summation (and therefore
    //    the trained weights) vary across runs and core counts. Ordered
    //    reduce costs one grad array per partition over the wire; with the
    //    minFreq-bounded dictionary that is the affordable price of the
    //    repo's bit-determinism invariant. (Weights are reproducible for a
    //    fixed input partitioning; the partitioning itself comes from the
    //    caller's Dataset, not from the executor count.)
    val encRdd = encoded.rdd
    val w = Trainer.minimize(idx.numParams, config) { w =>
      val bcW = spark.sparkContext.broadcast(w)
      val partials = encRdd.mapPartitionsWithIndex { (pid, it) =>
        Iterator.single((pid, Trainer.nllGrad(bcIdx.value, bcW.value, it)))
      }.collect().sortBy(_._1).map(_._2)
      bcW.destroy()
      partials
    }
    Trainer.toModel(idx, w, config)
  }
}
