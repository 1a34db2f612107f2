package graft.run

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.SparkTestBase
import graft.io.ModelIO
import graft.kg.{Checkpoints, KgPipeline, PagesGen}

/** The command lines: every CLI lists its options, so an unknown one fails
  * before any work starts, and PipelineCli's documented `--seed` reaches
  * the pipeline it runs. */
class CliSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("every CLI rejects an unknown option before it starts") {
    val mains = Seq[(String, Array[String] => Unit)](
      "PipelineCli" -> PipelineCli.main, "CurateCli" -> CurateCli.main,
      "ServeCli" -> ServeCli.main, "SynthCli" -> SynthCli.main,
      "TrainCli" -> TrainCli.main, "EvalCli" -> EvalCli.main)
    for ((name, main) <- mains) {
      val e = intercept[IllegalArgumentException](main(Array("/nonexistent/out", "--bogus", "1")))
      assert(e.getMessage.contains("unknown option --bogus"), s"$name: ${e.getMessage}")
    }
    // PipelineCli's seed is `--seed`; the short `-s` is not one of its options
    intercept[IllegalArgumentException](PipelineCli.command(Array("/nonexistent/out", "-s", "7")))
  }

  test("PipelineCli: --seed reaches the run, which generates the pages of that seed") {
    val root = java.nio.file.Files.createTempDirectory("cli_seed").resolve("kg").toString
    // a model already in place, so the run resumes it instead of training
    Checkpoints.writeText(root, "model.json", ModelIO.json(KgPipeline.trainModel(7L, nTrain = 30)))
    val (cpus, job) = PipelineCli.command(Array(root, "--pages", "8", "--seed", "7", "--cpus", "2"))
    assert(cpus === "2")
    assert(job(spark).nPages === 8L)
    def texts(pages: DataFrame) = pages.select("url", "text").collect().map(_.toString).toSet
    val written = texts(spark.read.parquet(s"$root/pages"))
    assert(written === texts(PagesGen.pages(spark, 8L, 7L).toDF()))
    assert(written !== texts(PagesGen.pages(spark, 8L, 42L).toDF()))
  }
}
