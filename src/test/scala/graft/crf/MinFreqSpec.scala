package graft.crf

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.kg.PagesGen

/** crfsuite `min_freq` feature cut-off parity (ref compat.py:24-28): state
  * features with value-summed occurrence frequency ≤ minFreq are dropped
  * before training, in both the local and the distributed trainer. */
class MinFreqSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def restaurantExamples: Seq[Example] = RestaurantCorpus.examples

  test("minFreq=0 keeps every observed feature (crfsuite default)") {
    val cfg = CrfConfig.restaurantConfig
    val sents = restaurantExamples.map { ex =>
      val toks = Featurizer.goldExampleToCrfTokens(ex, cfg.bilou)
      (Featurizer.sentenceFeatures(toks, cfg.features), toks.map(_.entity))
    }.filter(_._2.nonEmpty)
    val idx0 = Trainer.buildIndex(sents, minFreq = 0.0)
    val idxDefault = Trainer.buildIndex(sents)
    assert(idx0.attrs === idxDefault.attrs)
    assert(idx0.numStateParams === idxDefault.numStateParams)
  }

  test("minFreq=1 drops singleton features, dictionary shrinks, quality holds") {
    val cfg = CrfConfig.restaurantConfig
    val sents = restaurantExamples.map { ex =>
      val toks = Featurizer.goldExampleToCrfTokens(ex, cfg.bilou)
      (Featurizer.sentenceFeatures(toks, cfg.features), toks.map(_.entity))
    }.filter(_._2.nonEmpty)
    val full = Trainer.buildIndex(sents, minFreq = 0.0)
    val cut = Trainer.buildIndex(sents, minFreq = 1.0)
    assert(cut.numStateParams < full.numStateParams,
      s"cut ${cut.numStateParams} vs full ${full.numStateParams}")
    assert(cut.attrs.length < full.attrs.length)
    // every surviving (attr,label) slot really occurs more than once
    val freq = scala.collection.mutable.Map.empty[(String, String), Double]
    for ((feats, tags) <- sents; t <- feats.indices; a <- feats(t))
      freq((a.attr, tags(t))) = freq.getOrElse((a.attr, tags(t)), 0.0) + a.weight
    for (a <- cut.attrs.indices; y <- cut.labels.indices if cut.attrParam(a)(y) >= 0)
      assert(freq((cut.attrs(a), cut.labels(y))) > 1.0)
    // the bias feature occurs everywhere → always survives
    assert(cut.attrIdx.contains("0:bias:bias"))
  }

  test("all_possible_states generates the full A x L grid (negative features)") {
    val cfg = CrfConfig.restaurantConfig
    val sents = restaurantExamples.map { ex =>
      val toks = Featurizer.goldExampleToCrfTokens(ex, cfg.bilou)
      (Featurizer.sentenceFeatures(toks, cfg.features), toks.map(_.entity))
    }.filter(_._2.nonEmpty)
    val observed = Trainer.buildIndex(sents)
    val full = Trainer.buildIndex(sents, allPossibleStates = true)
    assert(full.numStateParams === full.attrs.length * full.labels.length)
    assert(full.numStateParams > observed.numStateParams)
    assert(full.attrs === observed.attrs)
    // config key parses and a model trains + evals clean with the dense grid
    assert(graft.io.ConfigJson.parse("""{"all_possible_states": true}""").allPossibleStates)
    val model = Trainer.trainExamples(restaurantExamples,
      cfg.copy(allPossibleStates = true, maxIter = 200))
    assert(EvalReport.evalExamples(model, restaurantExamples).microF1 === 1.0)
    val path = java.nio.file.Files.createTempDirectory("aps").resolve("m.json").toString
    graft.io.ModelIO.save(model, path)
    assert(graft.io.ModelIO.load(path).config.allPossibleStates)
  }

  test("min_freq flows through config JSON and model save/load") {
    val cfg = graft.io.ConfigJson.parse("""{"c1": 0.003, "min_freq": 2}""")
    assert(cfg.minFreq === 2.0)
    assert(graft.io.ConfigJson.parse("""{}""").minFreq === 0.0)
    val model = Trainer.trainExamples(restaurantExamples, cfg.copy(maxIter = 50))
    val path = java.nio.file.Files.createTempDirectory("minfreq").resolve("m.json").toString
    graft.io.ModelIO.save(model, path)
    assert(graft.io.ModelIO.load(path).config.minFreq === 2.0)
  }

  test("allPossibleStates + minFreq>0: local and distributed agree (cut attrs first, then grid)") {
    import spark.implicits._
    val examples = PagesGen.trainingExamples(42L, 120)
    val cfg = graft.kg.KgPipeline.pipelineConfig.copy(
      allPossibleStates = true, minFreq = 1.0, maxIter = 60)
    val distModel = SparkTrainer.train(spark.createDataset(examples), cfg)
    val localModel = Trainer.trainExamples(examples, cfg)
    // identical feature SPACE: same surviving attributes, and (grid semantics)
    // every surviving attribute carries a slot for every label on both paths
    assert(distModel.stateW.keySet === localModel.stateW.keySet)
    // the grid really is attrs × labels: smaller than uncut grid, larger than
    // the observed-pairs space under the same cut
    val sents = examples.map { ex =>
      val toks = Featurizer.goldExampleToCrfTokens(ex, cfg.bilou)
      (Featurizer.sentenceFeatures(toks, cfg.features), toks.map(_.entity))
    }.filter(_._2.nonEmpty)
    val grid = Trainer.buildIndex(sents, minFreq = 1.0, allPossibleStates = true)
    val observed = Trainer.buildIndex(sents, minFreq = 1.0)
    assert(grid.numStateParams === grid.attrs.length * grid.labels.length)
    assert(grid.attrs === observed.attrs)
    assert(grid.numStateParams > observed.numStateParams)
  }

  test("minFreq frequency uses |value|: zero-centered dense slots survive minFreq=0") {
    import graft.crf.{FeatAtom => FA}
    // attribute "d" appears twice for label "A" with weights −0.4 and +0.1
    // (signed sum −0.3 ⇒ the round-2 bug cut it at the default minFreq=0.0)
    val sents = Seq(
      (IndexedSeq(Array(FA("d", -0.4), FA("b", 1.0))), IndexedSeq("A")),
      (IndexedSeq(Array(FA("d", 0.1), FA("b", 1.0))), IndexedSeq("A")))
    val idx = Trainer.buildIndex(sents)
    val d = idx.attrIdx("d")
    assert(idx.attrParam(d)(idx.labelIdx("A")) >= 0,
      "negative-sum dense feature must keep its parameter at minFreq=0")
  }

  test("SparkTrainer honors minFreq and stays quality-equal to local") {
    import spark.implicits._
    val examples = PagesGen.trainingExamples(42L, 200)
    val cfg = graft.kg.KgPipeline.pipelineConfig.copy(minFreq = 1.0)
    val distModel = SparkTrainer.train(spark.createDataset(examples), cfg)
    val localModel = Trainer.trainExamples(examples, cfg)
    // identical surviving feature space on both paths
    assert(distModel.stateW.keySet === localModel.stateW.keySet)
    // the cut dictionary is a strict subset of the uncut one
    val uncut = SparkTrainer.train(spark.createDataset(examples),
      graft.kg.KgPipeline.pipelineConfig)
    assert(distModel.stateW.keySet.subsetOf(uncut.stateW.keySet))
    assert(distModel.stateW.size < uncut.stateW.size)
    // quality holds on the training set despite the cut
    val rep = EvalReport.evalExamples(distModel, examples)
    assert(rep.microF1 === 1.0, rep.formatted)
  }
}
