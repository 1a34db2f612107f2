package graft.run

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** End-to-end curation pipeline: funnel must be monotone, planted dups must
  * die in the dedup stage, and resume must reproduce identical output. */
class CurateSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private var plantedSourceId: Long = -1L

  private lazy val inputDir: String = {
    // sf0.001 docs + planted exact dup + planted near-dup (survives exact,
    // must die in the MinHash stage)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text", "lang")
    // the planted source must SURVIVE the clean gates (language + quality +
    // repetition), otherwise the dedup-kill assertions pass vacuously
    val keep = docs.filter(length(trim($"text")) > 50)
      .filter(graft.ops.TextStats.isEnglishHeuristic($"text"))
      .filter(graft.ops.TextStats.qualityScore($"text") >= 0.5)
      .filter(graft.ops.Quality.passesRepetitionFilter($"text"))
      .limit(1)
      .select($"doc_id", $"text", $"lang").as[(Long, String, String)].head()
    plantedSourceId = keep._1
    val planted = Seq(
      (900001L, keep._2, keep._3),
      (900002L, keep._2 + " extraword", keep._3)).toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("curate_in").toString
    docs.union(planted).write.mode("overwrite").parquet(dir)
    dir
  }

  private lazy val outRoot = java.nio.file.Files.createTempDirectory("curate_out").toString
  private lazy val funnel = CurateCli.run(spark, outRoot, inputDir, log = _ => ())

  private def counts: Map[String, Long] =
    funnel.map { s => val Array(k, v) = s.split("="); k -> v.toLong }.toMap

  test("funnel is monotone and every stage is materialized with a manifest") {
    val c = counts
    assert(c("input") > 0)
    assert(c("stats") === c("input"))
    assert(c("clean") <= c("stats") && c("clean") > 0)
    assert(c("dedup") <= c("clean"))
    assert(c("sample") === c("dedup")) // defaultRate = 1.0 keeps all
    for (st <- Seq("stats", "clean", "dedup", "sample"))
      assert(graft.kg.Checkpoints.isComplete(outRoot, st), s"stage $st")
  }

  test("planted exact and near duplicates die in the dedup stage") {
    funnel
    // the planted docs must REACH dedup (pass the clean gates) — otherwise
    // the kill assertions below are vacuous
    val cleaned = spark.read.parquet(s"$outRoot/clean").select("doc_id").as[Long].collect().toSet
    assert(cleaned.contains(900001L) && cleaned.contains(900002L) &&
      cleaned.contains(plantedSourceId), "planted docs must pass the clean gates")
    val surv = spark.read.parquet(s"$outRoot/dedup").select("doc_id").as[Long].collect().toSet
    assert(!surv.contains(900001L), "exact dup must lose to the original (min doc_id)")
    assert(!surv.contains(900002L), "near dup must be pruned by MinHash")
  }

  // ---- extended funnel: decontamination + LM perplexity gates ------------
  // Corpus: web-page TEXT (templated sentences — bigrams repeat across
  // pages, so a self-trained bigram LM has real signal: pages score
  // -2.6..-1.3, unseen-bigram gibberish -4.5; the sf documents table is
  // itself word salad and separates nothing).

  /** Gibberish that PASSES the heuristic clean gates (stopword ratio ~0.5,
    * quality 1.0, no repetition) but whose bigrams are unseen anywhere else
    * in the corpus — the case only the perplexity gate catches. */
  private val gibberish: String = (0 until 15).map { i =>
    val conn = Seq("the", "of", "and", "to", "in", "is", "for", "with", "as", "at",
      "by", "on", "that", "this", "are")(i)
    s"$conn zqxv$i"
  }.mkString(" ") + " ."

  private lazy val extInputDir: String = {
    val pages = graft.kg.PagesGen.pages(spark, 300L, 7L).toDF()
      .select(regexp_extract($"url", "page/(\\d+)", 1).cast("long").as("doc_id"),
        $"text", $"lang")
    val dir = java.nio.file.Files.createTempDirectory("curate_ext_in").toString
    pages.union(Seq((900003L, gibberish, "en")).toDF("doc_id", "text", "lang"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private lazy val benchmarkDir: String = {
    // the benchmark "eval set" contains page 0's text — decontamination must
    // drop that doc even though every heuristic gate passes it
    val keepText = spark.read.parquet(extInputDir)
      .filter($"doc_id" === 0L).select("text").as[String].head()
    val dir = java.nio.file.Files.createTempDirectory("curate_bench").toString
    Seq((1L, keepText)).toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    dir
  }

  private lazy val extOutRoot = java.nio.file.Files.createTempDirectory("curate_ext_out").toString
  private lazy val extFunnel = CurateCli.run(spark, extOutRoot, extInputDir,
    log = _ => (), benchmarkDir = Some(benchmarkDir), minLogP = Some(-3.5))

  private def extCounts: Map[String, Long] =
    extFunnel.map { s => val Array(k, v) = s.split("="); k -> v.toLong }.toMap

  test("extended funnel: decontam and lmscore stages are monotone and materialized") {
    val c = extCounts
    assert(c.contains("decontam") && c.contains("lmscore"))
    assert(c("decontam") <= c("dedup") && c("decontam") > 0)
    assert(c("lmscore") <= c("decontam") && c("lmscore") > 0)
    assert(c("sample") === c("lmscore"))
    for (st <- Seq("decontam", "lmscore"))
      assert(graft.kg.Checkpoints.isComplete(extOutRoot, st), s"stage $st")
  }

  test("decontamination drops the benchmark-contaminated doc; LM gate kills gibberish") {
    extFunnel
    val afterDedup = spark.read.parquet(s"$extOutRoot/dedup").select("doc_id").as[Long].collect().toSet
    val afterDecon = spark.read.parquet(s"$extOutRoot/decontam").select("doc_id").as[Long].collect().toSet
    val afterLm = spark.read.parquet(s"$extOutRoot/lmscore").select("doc_id").as[Long].collect().toSet
    // page 0 survives every earlier stage, but its text IS in the benchmark —
    // decontam must drop it on 8-gram overlap
    assert(afterDedup.contains(0L))
    assert(!afterDecon.contains(0L), "benchmark 8-gram overlap must drop the doc")
    // gibberish passes every heuristic gate and decontam, dies at the LM gate
    assert(afterDedup.contains(900003L) && afterDecon.contains(900003L),
      "gibberish must reach the LM gate (heuristics pass it)")
    assert(!afterLm.contains(900003L), "unseen-bigram gibberish must score below -3.5")
  }

  test("extended funnel resume: invalidating decontam reproduces identical survivors") {
    extFunnel
    def snap() = spark.read.parquet(s"$extOutRoot/sample")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val before = snap()
    for (st <- Seq("decontam", "lmscore", "sample"))
      graft.kg.Checkpoints.invalidate(extOutRoot, st)
    val again = CurateCli.run(spark, extOutRoot, extInputDir,
      log = _ => (), benchmarkDir = Some(benchmarkDir), minLogP = Some(-3.5))
    assert(snap() === before)
    assert(again === extFunnel)
  }

  // ---- line-dedup stage (--line-dedup) -----------------------------------

  /** A gate-passing boilerplate footer (≥10 words, stopword-rich, no
    * punctuation excess): a doc consisting of ONLY this line passes every
    * heuristic gate and both doc-level dedups, and can die only in the
    * line-dedup stage's empty-rebuild drop. */
  private val footer: String =
    "all the rights of this page are reserved by the site owner and the content is provided as is"

  private lazy val lineInputDir: String = {
    // real multi-line docs (page text is newline-joined sentences) + the
    // shared footer line on every page + one all-boilerplate doc
    val pages = graft.kg.PagesGen.pages(spark, 200L, 11L).toDF()
      .select(regexp_extract($"url", "page/(\\d+)", 1).cast("long").as("doc_id"),
        concat($"text", lit("\n" + footer)).as("text"), $"lang")
    val dir = java.nio.file.Files.createTempDirectory("curate_line_in").toString
    pages.union(Seq((900004L, footer, "en")).toDF("doc_id", "text", "lang"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private lazy val lineOutRoot = java.nio.file.Files.createTempDirectory("curate_line_out").toString
  private lazy val lineFunnel = CurateCli.run(spark, lineOutRoot, lineInputDir,
    log = _ => (), lineDedup = true)

  test("line-dedup stage: corpus-wide footer killed, all-boilerplate doc dropped") {
    val c = lineFunnel.map { s => val Array(k, v) = s.split("="); k -> v.toLong }.toMap
    assert(c.contains("linededup"))
    assert(c("linededup") <= c("dedup") && c("linededup") > 0)
    assert(c("sample") === c("linededup"))
    assert(graft.kg.Checkpoints.isComplete(lineOutRoot, "linededup"))
    val afterDedup = spark.read.parquet(s"$lineOutRoot/dedup")
      .select("doc_id").as[Long].collect().toSet
    assert(afterDedup.contains(900004L), "footer-only doc must reach line dedup")
    val out = spark.read.parquet(s"$lineOutRoot/linededup")
      .select("doc_id", "clean_text").as[(Long, String)].collect()
    assert(!out.map(_._1).contains(900004L), "empty rebuild must be dropped")
    val withFooter = out.filter(_._2.contains(footer))
    assert(withFooter.length === 1, s"exactly one keeper of the footer line, got ${withFooter.length}")
    // keep-first: every input doc holds the footer, so the keeper must be
    // the globally-minimal doc_id that reached the stage
    assert(withFooter.head._1 === afterDedup.min)
  }

  test("resume: invalidating a mid-chain stage reproduces identical survivors") {
    funnel
    def snap() = spark.read.parquet(s"$outRoot/sample")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val before = snap()
    graft.kg.Checkpoints.invalidate(outRoot, "dedup")
    graft.kg.Checkpoints.invalidate(outRoot, "sample")
    val again = CurateCli.run(spark, outRoot, inputDir, log = _ => ())
    assert(snap() === before)
    assert(again === funnel)
  }

  // ---- temperature-sample stage (--temp-alpha) ----------------------------
  // PagesGen labels ~10% of pages "de" but all page TEXT is English-shaped,
  // so both labels survive the text-keyed clean gates and the sample stage
  // sees a genuinely imbalanced (en, de) mixture to rebalance.

  private lazy val tempInputDir: String = {
    val pages = graft.kg.PagesGen.pages(spark, 300L, 13L).toDF()
      .select(regexp_extract($"url", "page/(\\d+)", 1).cast("long").as("doc_id"),
        $"text", $"lang")
    val dir = java.nio.file.Files.createTempDirectory("curate_temp_in").toString
    pages.write.mode("overwrite").parquet(dir)
    dir
  }

  private lazy val tempOutRoot = java.nio.file.Files.createTempDirectory("curate_temp_out").toString
  private lazy val tempFunnel = CurateCli.run(spark, tempOutRoot, tempInputDir,
    log = _ => (), tempAlpha = Some(0.5))

  test("temp-sample stage: rarest surviving language kept whole, majority down-sampled") {
    val c = tempFunnel.map { s => val Array(k, v) = s.split("="); k -> v.toLong }.toMap
    assert(c("sample") > 0 && c("sample") < c("dedup"))
    def byLang(stage: String) = spark.read.parquet(s"$tempOutRoot/$stage")
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val pre = byLang("dedup")
    val post = byLang("sample")
    assert(pre.keySet === Set("en", "de") && pre("en") > pre("de"),
      s"need an imbalanced surviving mixture, got $pre")
    // rarest language rides through whole; the majority thins toward
    // sqrt(n_de/n_en) of itself (md5 buckets ≈ uniform)
    assert(post("de") === pre("de"))
    val target = math.sqrt(pre("de").toDouble / pre("en").toDouble)
    assert(math.abs(post("en").toDouble / pre("en") - target) < 0.15,
      s"en kept ${post("en")}/${pre("en")}, target ratio $target")
  }

  test("temp-sample resume: invalidating sample reproduces identical survivors") {
    tempFunnel
    def snap() = spark.read.parquet(s"$tempOutRoot/sample")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val before = snap()
    graft.kg.Checkpoints.invalidate(tempOutRoot, "sample")
    val again = CurateCli.run(spark, tempOutRoot, tempInputDir,
      log = _ => (), tempAlpha = Some(0.5))
    assert(snap() === before)
    assert(again === tempFunnel)
  }

  // ---- pack stage (--pack <budget>) ---------------------------------------

  private lazy val packOutRoot = java.nio.file.Files.createTempDirectory("curate_pack_out").toString
  private lazy val packFunnel = CurateCli.run(spark, packOutRoot, inputDir,
    log = _ => (), packBudget = Some(64L))

  test("pack stage: one manifest row per survivor, offsets are the exclusive cumsum") {
    val c = packFunnel.map { s => val Array(k, v) = s.split("="); k -> v.toLong }.toMap
    assert(c.contains("pack"))
    assert(c("pack") === c("sample"), "every sampled survivor gets a packing row")
    assert(graft.kg.Checkpoints.isComplete(packOutRoot, "pack"))
    val rows = spark.read.parquet(s"$packOutRoot/pack")
      .select("doc_id", "n_tokens", "tok_offset", "seq_start", "seq_end", "n_seqs")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // offset continuity: tok_offset(doc k) = Σ n_tokens of docs before it in
    // doc_id order — the property a sharded packed-example writer relies on
    var running = 0L
    rows.foreach { case (id, n, off, s0, s1, nSeqs) =>
      assert(off === running, s"offset gap at doc $id")
      running += n
      assert(s0 === off / 64, s"seq_start of $id")
      assert(s1 === (if (n == 0) off / 64 else (off + n - 1) / 64), s"seq_end of $id")
      assert(nSeqs === s1 - s0 + 1)
    }
  }

  test("pack stage resume: invalidating pack reproduces identical layout") {
    packFunnel
    def snap() = spark.read.parquet(s"$packOutRoot/pack")
      .select("doc_id", "tok_offset", "seq_start", "seq_end")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val before = snap()
    graft.kg.Checkpoints.invalidate(packOutRoot, "pack")
    val again = CurateCli.run(spark, packOutRoot, inputDir,
      log = _ => (), packBudget = Some(64L))
    assert(snap() === before)
    assert(again === packFunnel)
  }

  // ------------------------------------------------- chunk + pack composed
  private lazy val chunkOutRoot = java.nio.file.Files.createTempDirectory("curate_chunk_out").toString
  private lazy val chunkFunnel = CurateCli.run(spark, chunkOutRoot, inputDir,
    log = _ => (), chunkSpec = Some((20, 15, 5)), packBudget = Some(64L))

  test("chunk stage matches a direct Chunker run over the sampled survivors") {
    val c = chunkFunnel.map { s => val Array(k, v) = s.split("="); k -> v.toLong }.toMap
    assert(c.contains("chunk") && c.contains("pack"))
    assert(c("chunk") >= c("sample"), "chunking never shrinks the unit count here")
    assert(graft.kg.Checkpoints.isComplete(chunkOutRoot, "chunk"))
    val direct = graft.ops.Chunker.chunk(
        spark.read.parquet(s"$chunkOutRoot/sample")
          .select($"doc_id", $"clean_text".as("text")), 20, 15, 5)
      .as[(Long, Long, Long, Long, String)].collect().sorted.toSeq
    val staged = spark.read.parquet(s"$chunkOutRoot/chunk")
      .select("doc_id", "chunk_idx", "start_tok", "n_tokens", "chunk_md5")
      .as[(Long, Long, Long, Long, String)].collect().sorted.toSeq
    assert(staged === direct)
  }

  test("pack over chunks: one row per chunk, offsets contiguous in unit order") {
    val c = chunkFunnel.map { s => val Array(k, v) = s.split("="); k -> v.toLong }.toMap
    assert(c("pack") === c("chunk"), "every chunk gets a packing row")
    val rows = spark.read.parquet(s"$chunkOutRoot/pack")
      .select("doc_id", "n_tokens", "tok_offset")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    var running = 0L
    rows.foreach { case (id, n, off) =>
      assert(off === running, s"offset gap at unit $id")
      running += n
    }
    // unit ids decompose back into (doc, chunk): every decomposed doc id is
    // a sampled survivor, and its chunk indices are dense from 0
    val sampledIds = spark.read.parquet(s"$chunkOutRoot/sample")
      .select("doc_id").as[Long].collect().toSet
    val byDoc = rows.groupBy { case (id, _, _) => id / 65536L }
    assert(byDoc.keySet.subsetOf(sampledIds))
    byDoc.foreach { case (doc, rs) =>
      val idxs = rs.map { case (id, _, _) => id % 65536L }.sorted.toSeq
      assert(idxs === (0L until idxs.size.toLong), s"chunk gap for doc $doc")
    }
  }

  test("CurateCli on a file:/// URI root: report.json lands under it, a rerun resumes") {
    val dir = java.nio.file.Files.createTempDirectory("curate_uri")
    val root = s"file://$dir"
    def reportHas(funnel: Seq[String]): Unit = {
      val json = java.nio.file.Files.readString(dir.resolve("report.json"))
      funnel.foreach { kv =>
        val Array(k, v) = kv.split("=")
        assert(json.contains(s"\"$k\":$v,"), json)
      }
    }
    val first = CurateCli.run(spark, root, inputDir, log = _ => ())
    reportHas(first)
    val logs = scala.collection.mutable.ArrayBuffer.empty[String]
    val again = CurateCli.run(spark, root, inputDir, log = logs += _)
    assert(again === first)
    assert(logs.exists(_.contains("resuming from")), logs.mkString("\n"))
    reportHas(again)
  }
}
