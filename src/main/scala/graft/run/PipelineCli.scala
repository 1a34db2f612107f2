package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg._
import graft.io.ModelIO

/** End-to-end KG-construction job (north_rule): synthesize/ingest pages, run
  * every stage with checkpoint/resume (each stage manifest holds its rows per
  * partition), report stage row counts and mention P/R vs gold.
  *
  * Usage: PipelineCli <outRoot> [--pages N] [--seed S] [--cpus N] [--input dir] [--from-html]
  */
object PipelineCli {

  def session(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("graft-kg")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val (cpus, job) = command(args)
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    try {
      val r = job(spark)
      println(f"[pipeline] docs/sec=${r.docsPerSec}%.1f triples/sec=${r.triplesPerSec}%.1f " +
        f"mentionP=${r.mentionP}%.4f mentionR=${r.mentionR}%.4f triples=${r.nTriples}")
    } finally spark.stop()
  }

  /** The command line as the session's cores and the [[run]] it asks for. */
  private[run] def command(args: Array[String]): (String, SparkSession => Result) = {
    val (opts, pos) = Cli.parse(args, Set("-p", "--pages", "--seed", "--cpus", "--input", "--from-html"))
    require(pos.length == 1,
      "usage: PipelineCli <outRoot> [--pages N] [--seed S] [--cpus N] [--input dir] [--from-html]")
    val nPages = opts.get("-p").orElse(opts.get("--pages")).map(_.toLong).getOrElse(2000L)
    val seed = opts.get("--seed").map(_.toLong).getOrElse(42L)
    (opts.getOrElse("--cpus", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")),
      spark => run(spark, pos.head, nPages, seed, inputDir = opts.get("--input"),
        fromHtml = opts.contains("--from-html")))
  }

  case class Result(nPages: Long, nSentences: Long, nMentions: Long, nLinks: Long,
                    nCanonical: Long, nTriples: Long, mentionP: Double, mentionR: Double,
                    wallSec: Double, docsPerSec: Double, triplesPerSec: Double)

  /** Run all stages under `outRoot` (resuming completed ones).
    * `inputDir`: read an existing pages table (input_hint schema) instead of
    * generating one — the real-data ingest path; P/R is then reported as -1
    * (no gold available). `fromHtml`: derive `text` from the html BYTES
    * ([[graft.kg.HtmlText]]) instead of trusting the input text column — the
    * Common-Crawl-real shape; on generated pages the extraction is
    * byte-identical, so gold P/R still applies. */
  def run(spark: SparkSession, outRoot: String, nPages: Long, seed: Long = 42L,
          log: String => Unit = println, inputDir: Option[String] = None,
          fromHtml: Boolean = false): Result = {
    import spark.implicits._
    val t0 = System.nanoTime()

    // model: train once, checkpoint as JSON next to the stages (through the
    // stages' filesystem, so outRoot may be a URI)
    val model = Checkpoints.readText(outRoot, "model.json").map(ModelIO.parse).getOrElse {
      val m = KgPipeline.trainModel(seed)
      Checkpoints.writeText(outRoot, "model.json", ModelIO.json(m))
      log(s"[pipeline] trained model (${m.labels.length} labels) -> $outRoot/model.json")
      m
    }

    val pages = Checkpoints.stage(spark, outRoot, "pages", log) {
      val raw = inputDir.map(d => spark.read.parquet(d))
        .getOrElse(PagesGen.pages(spark, nPages, seed).toDF())
      if (fromHtml) HtmlText.pagesFromHtml(raw.as[Page]).toDF() else raw
    }
    val sents = Checkpoints.stage(spark, outRoot, "sentences", log) {
      KgPipeline.sentences(pages.as[Page])
    }
    val mentions = Checkpoints.stage(spark, outRoot, "mentions", log) {
      KgPipeline.mentions(sents, model)
    }
    val links = Checkpoints.stage(spark, outRoot, "links", log) {
      KgPipeline.links(mentions, KgPipeline.aliasDf(spark))
    }
    val canonical = Checkpoints.stage(spark, outRoot, "canonical", log) {
      KgPipeline.canonical(mentions, links)
    }
    val triples = Checkpoints.stage(spark, outRoot, "triples", log) {
      KgPipeline.triples(links, sents)
    }
    Checkpoints.stage(spark, outRoot, "domain_stats", log) {
      KgPipeline.domainStats(mentions)
    }
    val nodes = Checkpoints.stage(spark, outRoot, "nodes", log) {
      KgPipeline.nodes(canonical)
    }
    val edges = Checkpoints.stage(spark, outRoot, "edges", log) {
      KgPipeline.edges(triples)
    }
    Checkpoints.stage(spark, outRoot, "pagerank", log) {
      // entity salience over the materialized graph — resumes like any
      // other stage; reads the checkpointed edge parquet, not the lineage
      PageRank.run(edges.select(col("src"), col("dst")), iterations = 10)
    }

    // mention P/R vs generated gold (BASELINE gate: >= 0.95); external input
    // has no gold — report -1
    val nPred = mentions.count()
    val (p, r) = if (inputDir.isDefined) (-1.0, -1.0) else {
      val gold = PagesGen.gold(spark, nPages, seed).toDF()
      val hit = mentions.join(gold, Seq("url", "sent_id", "start", "end", "entity"), "inner").count()
      val nGold = gold.count()
      (if (nPred == 0) 0.0 else hit.toDouble / nPred,
        if (nGold == 0) 0.0 else hit.toDouble / nGold)
    }

    val wall = (System.nanoTime() - t0) / 1e9
    val res = Result(nPages, sents.count(), nPred, links.count(), canonical.count(),
      triples.count(), p, r, wall, nPages / wall, triples.count() / wall)
    Checkpoints.writeText(outRoot, "metrics.json",
      s"""{"pages":${res.nPages},"sentences":${res.nSentences},"mentions":${res.nMentions},""" +
      s""""links":${res.nLinks},"canonical":${res.nCanonical},"triples":${res.nTriples},""" +
      s""""mention_precision":${res.mentionP},"mention_recall":${res.mentionR},""" +
      s""""wall_sec":${res.wallSec},"docs_per_sec":${res.docsPerSec},"triples_per_sec":${res.triplesPerSec}}""")
    res
  }
}
