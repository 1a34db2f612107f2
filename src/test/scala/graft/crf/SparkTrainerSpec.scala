package graft.crf

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.kg.PagesGen

/** Distributed trainer: the per-partition gradient, summed on the driver in
  * partition-id order, must train a model of the same quality and over the
  * same feature space as the driver-local trainer on the same corpus. */
class SparkTrainerSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("SparkTrainer model matches local trainer quality (P/R = 1.0 on train set)") {
    import spark.implicits._
    val examples = PagesGen.trainingExamples(42L, 200)
    val base = graft.kg.KgPipeline.pipelineConfig
    for (cfg <- Seq(base, base.copy(minFreq = 1.0, allPossibleStates = true))) {
      val distModel = SparkTrainer.train(spark.createDataset(examples), cfg)
      if (cfg == base) {
        val rep = EvalReport.evalExamples(distModel, examples)
        assert(rep.microF1 === 1.0, rep.formatted)
      }
      // same feature space as the local trainer (same attrs observed)
      val localModel = Trainer.trainExamples(examples, cfg)
      assert(distModel.stateW.keySet === localModel.stateW.keySet, cfg)
      assert(distModel.labels.toSet === localModel.labels.toSet, cfg)
    }
  }

  test("allPossibleTransitions = false is rejected by the local and the distributed trainer") {
    import spark.implicits._
    val examples = PagesGen.trainingExamples(42L, 20)
    val cfg = graft.kg.KgPipeline.pipelineConfig.copy(allPossibleTransitions = false)
    val local = intercept[IllegalArgumentException](Trainer.trainExamples(examples, cfg))
    val dist = intercept[IllegalArgumentException](SparkTrainer.train(spark.createDataset(examples), cfg))
    for (e <- Seq(local, dist)) assert(e.getMessage.contains("allPossibleTransitions"), e.getMessage)
  }
}
