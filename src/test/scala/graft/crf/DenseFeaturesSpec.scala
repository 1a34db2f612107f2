package graft.crf

import org.scalatest.funsuite.AnyFunSuite
import graft.text.RuleTokenizer

/** Dense-features path, mirroring ref:tests/test_dense_features.py:5-34 and
  * the semantics of features.py:65-94,138-156 / tokenizer.py:91-98. */
class DenseFeaturesSpec extends AnyFunSuite {

  private val helloTokens = RuleTokenizer.tokenizeWithCls("hello world")

  test("vectors-less source yields None (test_dense_features_with_spacy_sm analog)") {
    val noVecs = VectorSource.Fixture(Map.empty, 4)
    assert(DenseFeatures.getDenseFeatures(helloTokens, noVecs) === None)
    // partial coverage is also all-or-nothing (the reference length check)
    val partial = VectorSource.Fixture(Map("hello" -> Array(1.0, 0.0, 0.0, 0.0)), 4)
    assert(DenseFeatures.getDenseFeatures(helloTokens, partial) === None)
  }

  test("flag disabled → no dense atoms even with a vector source") {
    val cfg = CrfConfig(useDenseFeatures = false)
    val toks = Featurizer.goldExampleToCrfTokens(
      Example("hello world", IndexedSeq.empty, IndexedSeq.empty), cfg.bilou,
      dense = None)
    assert(toks.forall(_.dense.isEmpty))
  }

  test("full coverage: len(tokens)+1 rows of d dims with pooled CLS last") {
    val src = VectorSource.Hashed(dim = 300)
    val rows = DenseFeatures.getDenseFeatures(helloTokens, src).get
    assert(rows.length === 3) // 2 tokens + pooled CLS (ref test: len == 3)
    assert(rows.forall(_.length === 300))
    val Seq(h, w, cls) = rows.toSeq
    for (i <- 0 until 300)
      assert(math.abs(cls(i) - (h(i) + w(i)) / 2) < 1e-12) // mean pooling
  }

  test("max pooling and the all-zero-vectors zero CLS") {
    val vecs = Map("hello" -> Array(1.0, -2.0), "world" -> Array(0.5, 3.0))
    val src = VectorSource.Fixture(vecs, 2)
    val rows = DenseFeatures.getDenseFeatures(helloTokens, src, DenseFeatures.PoolMax).get
    assert(rows.last.toSeq === Seq(1.0, 3.0))
    // all-zero vectors: pooled CLS is the zero vector, not NaN
    val zeros = VectorSource.Fixture(Map("hello" -> Array(0.0, 0.0), "world" -> Array(0.0, 0.0)), 2)
    assert(DenseFeatures.getDenseFeatures(helloTokens, zeros).get.last.toSeq === Seq(0.0, 0.0))
    // invalid pooling mirrors the reference's ValueError
    intercept[IllegalArgumentException] {
      DenseFeatures.poolCls(IndexedSeq(Array(1.0)), "median")
    }
  }

  test("dense atoms appear in a trained model and survive save/load + decode") {
    val examples = RestaurantCorpus.examples
    val cfg = CrfConfig.restaurantConfig.copy(
      features = IndexedSeq(
        IndexedSeq("low"),
        IndexedSeq("low", "bias", "suffix3", "dense_features"),
        IndexedSeq("low")),
      useDenseFeatures = true, maxIter = 200)
    val src = VectorSource.Hashed(dim = 8)
    val model = Trainer.trainExamples(examples, cfg, vectors = Some(src))
    val denseAttrs = model.stateW.keySet.filter(_.startsWith("0:dense_features:text_dense_features:"))
    assert(denseAttrs.nonEmpty, "dense feature atoms must be in the trained model")
    assert(denseAttrs.exists(_.endsWith(":0")) && denseAttrs.exists(_.endsWith(":7")))
    // config round-trips through model IO
    val path = java.nio.file.Files.createTempDirectory("dense").resolve("m.json").toString
    graft.io.ModelIO.save(model, path)
    val loaded = graft.io.ModelIO.load(path)
    assert(loaded.config.useDenseFeatures)
    assert(loaded.config.denseFeaturesClsPooling === "mean")
    // decode with the same source still nails a training sentence
    val spans = new CrfDecoder(loaded, Some(src)).process("show me chinese restaurants")
    assert(spans.map(_.value) === IndexedSeq("chinese"))
    assert(spans.head.entity === "cuisine")
  }

  test("config json parses the reference keys") {
    val cfg = graft.io.ConfigJson.parse(
      """{"use_dense_features": true, "dense_features_cls_pooling": "max"}""")
    assert(cfg.useDenseFeatures)
    assert(cfg.denseFeaturesClsPooling === "max")
  }

  test("decoder cache is not poisoned by per-sentence dense presence (OOV rule)") {
    val examples = RestaurantCorpus.examples
    val cfg = CrfConfig.restaurantConfig.copy(
      features = IndexedSeq(IndexedSeq("low"),
        IndexedSeq("low", "bias", "suffix3", "dense_features"), IndexedSeq("low")),
      useDenseFeatures = true, maxIter = 200)
    // fixture source covering ONLY the words of sentence A: sentence A gets
    // dense atoms, any sentence with an extra word gets none (all-or-nothing)
    val wordsA = "show me chinese restaurants".split(" ")
    val src = VectorSource.Fixture(
      wordsA.map(w => w -> Array.tabulate(4)(i => (w.hashCode % 97 + i).toDouble)).toMap, 4)
    val model = Trainer.trainExamples(examples, cfg, vectors = Some(src))
    val sentA = "show me chinese restaurants"
    val sentB = "show me chinese OOVWORD"   // OOV strips dense from ALL tokens
    // decode B on a decoder pre-warmed by A: must equal a FRESH decoder's B
    val warmed = new CrfDecoder(model, Some(src))
    warmed.process(sentA)
    val viaWarmed = warmed.process(sentB)
    val viaFresh = new CrfDecoder(model, Some(src)).process(sentB)
    assert(viaWarmed === viaFresh,
      "stale dense-atom cache entries leaked into the no-dense sentence")
    // and the reverse order: warm with the dense-less sentence first
    val warmed2 = new CrfDecoder(model, Some(src))
    warmed2.process(sentB)
    assert(warmed2.process(sentA) === new CrfDecoder(model, Some(src)).process(sentA))
  }

  test("SparkTrainer: dense features + rejection of online algorithms") {
    val spark = graft.SparkTestBase.spark
    import spark.implicits._
    val examples = graft.kg.PagesGen.trainingExamples(42L, 60)
    val cfg = graft.kg.KgPipeline.pipelineConfig
    intercept[IllegalArgumentException] {
      SparkTrainer.train(spark.createDataset(examples), cfg.copy(algorithm = "ap"))
    }
    val src = VectorSource.Hashed(dim = 4)
    val dcfg = cfg.copy(useDenseFeatures = true,
      features = cfg.features.updated(1, cfg.features(1) :+ "dense_features"))
    val model = SparkTrainer.train(spark.createDataset(examples), dcfg, vectors = Some(src))
    assert(model.stateW.keySet.exists(_.startsWith("0:dense_features:text_dense_features:")))
  }
}
