package graft.crf

import org.scalatest.funsuite.AnyFunSuite
import graft.io.ModelIO

/** End-to-end parity gate #1 (SURVEY §7 step 1): train on the reference's own
  * restaurant corpus ([[RestaurantCorpus]], config from the reference's
  * `examples/default-config.json`) and reproduce the reference's published
  * all-1.000 train-set report (`/root/reference/README.md:110-122`) plus
  * byte-identical predicted span values. */
class RestaurantE2ESpec extends AnyFunSuite {

  lazy val corpus: IndexedSeq[Example] = RestaurantCorpus.examples
  lazy val model: CrfModel = Trainer.trainExamples(corpus, CrfConfig.restaurantConfig)

  test("corpus parses to 15 examples") {
    assert(corpus.length === 15)
    // 14 entity spans → 17 token-level tags (the README report's support 17;
    // "asian fusion" = B+L, "mexican indian fusion" = B+I+L)
    assert(corpus.flatMap(_.entities).length === 14)
  }

  test("train-set eval reaches 1.000 on every label (README.md:110-122)") {
    val rep = EvalReport.evalExamples(model, corpus)
    assert(rep.totalSupport === 17)
    for (s <- rep.perLabel if s.support > 0) {
      assert(s.precision === 1.0, s"precision ${s.label}\n${rep.formatted}")
      assert(s.recall === 1.0, s"recall ${s.label}\n${rep.formatted}")
    }
    assert(rep.microF1 === 1.0)
  }

  test("predicted spans byte-equal gold surface text") {
    // the reference reconstructs span values from the original text
    // (crf_extractor.py:364-390); on the train set the spans must round-trip.
    for (ex <- corpus) {
      val tokens = graft.text.RuleTokenizer.tokenizeWithCls(ex.text)
      val pred = SpanDecode.process(model, ex.text, tokens)
      val goldSurface = ex.entities.map(e => (e.start, e.end, ex.text.substring(e.start, e.end), e.entity))
      val predSurface = pred.map(p => (p.start, p.end, p.value, p.entity))
      assert(predSurface === goldSurface, s"text: ${ex.text}")
      pred.foreach(p => assert(p.confidence > 0.5 && p.confidence <= 1.0 + 1e-9))
    }
  }

  test("model JSON round-trips") {
    val tmp = java.nio.file.Files.createTempFile("crf", ".json").toString
    ModelIO.save(model, tmp)
    val loaded = ModelIO.load(tmp)
    assert(loaded.labels === model.labels)
    assert(loaded.config === model.config)
    assert(loaded.transW.map(_.toSeq).toSeq === model.transW.map(_.toSeq).toSeq)
    assert(loaded.stateW.keySet === model.stateW.keySet)
    val ex = corpus(5) // "show me chines restaurants in the north"
    val toks = graft.text.RuleTokenizer.tokenizeWithCls(ex.text)
    assert(SpanDecode.process(loaded, ex.text, toks) === SpanDecode.process(model, ex.text, toks))
    java.nio.file.Files.delete(java.nio.file.Paths.get(tmp))
  }

  test("explain surface: top transitions and state features are finite") {
    assert(model.transW.flatten.forall(w => !w.isNaN && !w.isInfinite))
    assert(model.stateW.values.flatten.forall(w => !w.isNaN && !w.isInfinite))
  }
}
