package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.run.PipelineCli

/** End-to-end KG pipeline tests (SURVEY §5 items e): synthetic pages → triples
  * with the BASELINE gates (mention P/R ≥ 0.95) and checkpoint-resume
  * idempotence (delete a stage, rerun, identical final triples). */
class KgPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  val outRoot: String = java.nio.file.Files.createTempDirectory("kgspec").toString
  val nPages = 400L

  lazy val result: PipelineCli.Result =
    PipelineCli.run(spark, outRoot, nPages, log = _ => ())

  test("pipeline runs all stages and meets the P/R >= 0.95 gate") {
    assert(result.nSentences > 0)
    assert(result.nMentions > 0)
    assert(result.nTriples > 0)
    assert(result.mentionP >= 0.95, s"precision ${result.mentionP}")
    assert(result.mentionR >= 0.95, s"recall ${result.mentionR}")
  }

  test("per-row invariant: extracted mention values are byte-identical slices of page text") {
    result // ensure ran
    val sents = spark.read.parquet(s"$outRoot/sentences")
    val mentions = spark.read.parquet(s"$outRoot/mentions")
    val bad = mentions.join(sents, Seq("url", "sent_id"))
      .filter(expr("substring(text, start + 1, end - start) <> value"))
      .count()
    assert(bad === 0)
    // and sentences reassemble to the exact page text
    val pages = spark.read.parquet(s"$outRoot/pages")
    val reassembled = sents.groupBy("url")
      .agg(concat_ws("\n", array_sort(collect_list(struct(col("sent_id"), col("text"))))
        .getField("text")).as("retext"))
    val mismatch = pages.join(reassembled, Seq("url"))
      .filter(col("text") =!= col("retext")).count()
    assert(mismatch === 0)
  }

  test("mentions carry partition lineage and links are rank-1 per mention") {
    result
    val mentions = spark.read.parquet(s"$outRoot/mentions")
    assert(mentions.select("partition_id").distinct().count() > 1)
    val links = spark.read.parquet(s"$outRoot/links")
    val dup = links.groupBy("url", "sent_id", "start").count().filter(col("count") > 1).count()
    assert(dup === 0)
  }

  test("checkpoint resume: deleting a mid-pipeline stage reproduces identical triples") {
    result
    def snapshot() = spark.read.parquet(s"$outRoot/triples")
      .orderBy("subj", "pred", "obj").collect().map(_.toString).toSeq
    val before = snapshot()
    Checkpoints.invalidate(outRoot, "triples")
    Checkpoints.invalidate(outRoot, "links")
    assert(!Checkpoints.isComplete(outRoot, "links"))
    val r2 = PipelineCli.run(spark, outRoot, nPages, log = _ => ())
    assert(r2.nTriples === result.nTriples)
    assert(snapshot() === before)
  }

  test("pagerank stage: every graph node ranked, total fixed-point mass bounded") {
    result
    val pr = spark.read.parquet(s"$outRoot/pagerank")
    val edges = spark.read.parquet(s"$outRoot/edges")
    val nNodes = edges.select(col("src").as("n"))
      .union(edges.select(col("dst").as("n"))).distinct().count()
    assert(pr.count() === nNodes)
    val total = pr.agg(sum("rank_fp")).head().getLong(0)
    assert(total <= PageRank.Scale && total > 0L)
  }

  test("canonicalization groups surface variants with their linked entity") {
    result
    val canonical = spark.read.parquet(s"$outRoot/canonical")
    // every surface got a canon id; components are non-trivial (aliases like
    // "acme corp" vs "acme" share one)
    assert(canonical.filter(col("canon_id").isNull).count() === 0)
    val grouped = canonical.groupBy("canon_id").count()
    assert(grouped.filter(col("count") > 1).count() > 0)
  }

  test("cooccurrence: pair counts, distinct urls, NPMI vs hand computation") {
    import spark.implicits._
    // 4 entity-bearing sentences; within-sentence repeats must collapse
    val links = Seq(
      ("u1", 0, 0, "A"), ("u1", 0, 5, "B"), ("u1", 0, 9, "A"), // {A,B}
      ("u1", 1, 0, "A"), ("u1", 1, 3, "C"),                    // {A,C}
      ("u2", 0, 0, "A"), ("u2", 0, 4, "B"),                    // {A,B}
      ("u2", 1, 0, "C")                                        // {C} — no pair
    ).toDF("url", "sent_id", "start", "entity_id")
    val got = KgPipeline.cooccurrence(links).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.size === 2)
    def npmi(nab: Long, na: Long, nb: Long, tot: Long): Double =
      BigDecimal(math.log(nab.toDouble * tot / (na * nb)) / -math.log(nab.toDouble / tot))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // marginals: A=3, B=2, C=2 of 4 sentences
    assert(got(("A", "B")) === ((2L, 2L, npmi(2, 3, 2, 4))))
    assert(got(("A", "C")) === ((1L, 1L, npmi(1, 3, 2, 4))))
  }

  test("cooccurrence: p(a,b)=1 singularity pins npmi to 1.0, parallelism-invariant") {
    import spark.implicits._
    val links = Seq(("u1", 0, 0, "X"), ("u1", 0, 4, "Y"))
      .toDF("url", "sent_id", "start", "entity_id")
    val r = KgPipeline.cooccurrence(links).collect()
    assert(r.length === 1 && r.head.getDouble(4) === 1.0)
    val base = Seq.tabulate(60) { i =>
      (s"u${i % 7}", i % 5, i, s"E${i % 6}")
    } ++ Seq.tabulate(60)(i => (s"u${i % 7}", i % 5, 100 + i, s"E${(i + 1) % 6}"))
    def run(parts: Int) =
      KgPipeline.cooccurrence(base.toDF("url", "sent_id", "start", "entity_id")
        .repartition(parts)).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .sortBy(t => (t._1, t._2))
    assert(run(1).toSeq === run(7).toSeq)
  }

  test("PipelineCli on a file:/// URI root: model.json and metrics.json land under it, a rerun resumes") {
    val dir = java.nio.file.Files.createTempDirectory("kg cli uri")
    val root = s"file://$dir"
    val first = PipelineCli.run(spark, root, 20, log = _ => ())
    val (model, metrics) = (dir.resolve("model.json"), dir.resolve("metrics.json"))
    assert(java.nio.file.Files.exists(model) && java.nio.file.Files.exists(metrics))
    assert(java.nio.file.Files.readString(metrics).contains(s"\"triples\":${first.nTriples},"))
    val modelJson = java.nio.file.Files.readString(model)
    val logs = scala.collection.mutable.ArrayBuffer.empty[String]
    val again = PipelineCli.run(spark, root, 20, log = logs += _)
    assert((again.nMentions, again.nTriples) === ((first.nMentions, first.nTriples)))
    assert(logs.nonEmpty && logs.forall(_.contains("resuming from")), logs.mkString("\n"))
    assert(java.nio.file.Files.readString(model) === modelJson)
  }

  test("checkpoints on a file:/// URI root: write, resume, invalidate, recompute") {
    // a space in the directory name: input_file_name() URI-encodes it
    val dir = java.nio.file.Files.createTempDirectory("kg uri")
    val root = s"file://$dir"
    var computes = 0
    def run(): (Long, Long) = {
      val pages = Checkpoints.stage(spark, root, "pages", _ => ()) {
        computes += 1; PagesGen.pages(spark, 20, 42L).toDF()
      }
      val sents = Checkpoints.stage(spark, root, "sentences", _ => ()) {
        computes += 1; KgPipeline.sentences(pages.as(org.apache.spark.sql.Encoders.product[Page]))
      }
      (pages.count(), sents.count())
    }
    val first = run()
    assert(computes === 2 && first._2 > first._1)
    assert(Checkpoints.isComplete(root, "pages") && Checkpoints.isComplete(root, "sentences"))
    val m = java.nio.file.Files.readString(Checkpoints.manifestPath(dir.toString, "sentences"))
    assert(m.contains(s"\"rows\":${first._2}") && m.contains("part-"), m)
    assert(run() === first && computes === 2, "resume must skip both computes")
    Checkpoints.invalidate(root, "sentences")
    assert(!Checkpoints.isComplete(root, "sentences"))
    assert(!java.nio.file.Files.exists(dir.resolve("sentences")))
    assert(run() === first && computes === 3, "only the invalidated stage recomputes")
  }

  test("a url repeated in the pages counts its triple sources once per copy, on both triples paths") {
    val model = KgPipeline.trainModel(42L, nTrain = 200)
    val alias = KgPipeline.aliasDf(spark)
    val pages = PagesGen.pages(spark, 40L, 42L)
    // fused: the in-memory chain; generic: the same links, localCheckpointed
    def tail(ps: org.apache.spark.sql.Dataset[Page], generic: Boolean) = {
      val sents = KgPipeline.sentences(ps)
      val chain = KgPipeline.links(KgPipeline.mentions(sents, model), alias)
      val links = if (generic) chain.localCheckpoint() else chain
      val triples = KgPipeline.triples(links, sents)
      assert(TriplesPathSpec.path(triples) === (if (generic) "generic" else "fused"))
      links.count() -> triples.collect().map { r =>
        (r.getString(0), r.getString(1), r.getString(2)) ->
          ((r.getAs[Long]("n_sources"), r.getAs[Long]("n_urls"), r.getAs[Double]("conf")))
      }.toMap
    }
    // the repeated page: the first one that yields a triple on its own
    val (page, (pageLinks, alone)) = pages.collect().iterator
      .map(p => p -> tail(pages.filter(_.url == p.url), generic = false))
      .find(_._2._2.nonEmpty).getOrElse(fail("no page yields a triple"))
    for (generic <- Seq(false, true)) {
      val (nLinks, once) = tail(pages, generic)
      val (nLinksTwice, twice) = tail(pages.union(pages.filter(_.url == page.url)), generic)
      // links: one row per mention row, so the copy's mentions link again
      assert(nLinksTwice === nLinks + pageLinks)
      // triples: each copy of a sentence is one source, so the url counts
      // 2 × its sources (the page-local answer); n_urls and conf hold
      assert(twice.keySet === once.keySet)
      twice.foreach { case (spo, (nSources, nUrls, conf)) =>
        val (n0, u0, c0) = once(spo)
        val extra = alone.get(spo).fold(0L)(_._1)
        assert((nSources, nUrls, conf) === ((n0 + extra, u0, c0)), s"$spo generic=$generic")
      }
    }
  }
}
