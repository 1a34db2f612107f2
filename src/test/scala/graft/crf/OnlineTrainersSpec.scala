package graft.crf

import org.scalatest.funsuite.AnyFunSuite

/** The non-lbfgs crfsuite algorithms (ref compat.py:15-23): each must learn
  * the reference restaurant corpus to the same span-level quality as lbfgs
  * (the reference README's 1.000 report), deterministically. */
class OnlineTrainersSpec extends AnyFunSuite {

  private lazy val examples = RestaurantCorpus.examples

  for (algo <- Seq("l2sgd", "ap", "pa", "arow")) {
    test(s"$algo reaches micro F1 = 1.0 on the restaurant corpus") {
      val cfg = CrfConfig.restaurantConfig.copy(algorithm = algo)
      val model = Trainer.trainExamples(examples, cfg)
      val rep = EvalReport.evalExamples(model, examples)
      assert(rep.microF1 === 1.0, s"$algo:\n${rep.formatted}")
    }

    test(s"$algo is deterministic (same weights on retrain)") {
      val cfg = CrfConfig.restaurantConfig.copy(algorithm = algo, maxIter = 20)
      val m1 = Trainer.trainExamples(examples, cfg)
      val m2 = Trainer.trainExamples(examples, cfg)
      assert(m1.transW.flatten.toSeq === m2.transW.flatten.toSeq)
      assert(m1.stateW.view.mapValues(_.toSeq).toMap ===
        m2.stateW.view.mapValues(_.toSeq).toMap)
    }
  }

  test("unknown algorithm is rejected") {
    intercept[IllegalArgumentException] {
      Trainer.trainExamples(examples, CrfConfig(algorithm = "adam"))
    }
  }

  test("online models round-trip through ModelIO and decode") {
    val cfg = CrfConfig.restaurantConfig.copy(algorithm = "ap")
    val model = Trainer.trainExamples(examples, cfg)
    val path = java.nio.file.Files.createTempDirectory("ap").resolve("m.json").toString
    graft.io.ModelIO.save(model, path)
    val spans = new CrfDecoder(graft.io.ModelIO.load(path)).process("show me chinese restaurants")
    assert(spans.map(s => (s.value, s.entity)) === IndexedSeq(("chinese", "cuisine")))
  }
}
