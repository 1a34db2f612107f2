package graft.run

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.kg.Checkpoints
import graft.ops._

/** End-to-end corpus-curation job — the training-data counterpart of
  * PipelineCli: read a documents table (doc_id, text[, lang]), run the full
  * filter chain with checkpoint/resume per stage, write a survivors table
  * plus a per-stage funnel report.
  *
  * Stages (each a parquet dir + manifest under <outRoot>, resumable):
  *   stats      per-doc signals: quality, language heuristic, repetition
  *   clean      gate on quality + language + repetition; PII-redact survivors
  *   dedup      exact keep-first, then MinHash-LSH near-dup prune
  *   linededup  (with --line-dedup) C4-style corpus-wide line dedup: each
  *              surviving doc is rewritten to its corpus-first lines;
  *              all-boilerplate docs (empty rebuild) are dropped
  *   decontam   (with --benchmark) drop docs sharing any 8-gram with the
  *              benchmark/eval set — the decontamination gate
  *   lmscore    (with --min-logp) drop docs whose self-trained bigram-LM
  *              mean log-prob is below the threshold — the perplexity gate
  *   sample     deterministic md5-bucket mixture by language; with
  *              --temp-alpha the stage is instead XLM-style temperature
  *              rebalancing (rarest surviving language kept whole, others
  *              down-sampled at (n_min/n_l)^(1-alpha))
  *   chunk      (with --chunk W,S,minTail) strided context-window cutting
  *              of the survivors (ops.Chunker) ahead of packing
  *   pack       (with --pack <budget>) token-budget sequence packing over
  *              the survivors: per-doc global token offset + the range of
  *              fixed-budget training sequences it lands in — the manifest
  *              a sharded packed-example writer consumes. This closes the
  *              end-to-end story: pages → clean → dedup → decontam →
  *              LM gate → sample → packed training sequences.
  *   report.json  funnel counts per stage
  *
  * Usage: CurateCli <outRoot> --input <documents parquet> [--cpus N]
  *        [--quality 0.5] [--rate 0.5] [--line-dedup]
  *        [--benchmark <parquet>] [--min-logp -5.0] [--temp-alpha 0.5]
  *        [--chunk W,S,minTail] [--pack 2048]
  */
object CurateCli {

  def main(args: Array[String]): Unit = {
    val (opts, pos) = Cli.parse(args, Set("--input", "--cpus", "--quality", "--rate",
      "--line-dedup", "--benchmark", "--min-logp", "--temp-alpha", "--chunk", "--pack"))
    require(pos.length == 1, "usage: CurateCli <outRoot> --input <parquet> [--cpus N]")
    val outRoot = pos.head
    val input = opts.getOrElse("--input",
      sys.error("--input <documents parquet dir> is required"))
    val cpus = opts.getOrElse("--cpus", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val spark = PipelineCli.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    try {
      val r = run(spark, outRoot, input,
        minQuality = opts.get("--quality").map(_.toDouble).getOrElse(0.5),
        defaultRate = opts.get("--rate").map(_.toDouble).getOrElse(1.0),
        benchmarkDir = opts.get("--benchmark"),
        minLogP = opts.get("--min-logp").map(_.toDouble),
        lineDedup = opts.contains("--line-dedup"),
        tempAlpha = opts.get("--temp-alpha").map(_.toDouble),
        chunkSpec = opts.get("--chunk").map { s =>
          val Array(w, st, mt) = s.split(",").map(_.trim.toInt)
          (w, st, mt)
        },
        packBudget = opts.get("--pack").map(_.toLong))
      println(s"[curate] ${r.mkString(" ")}")
    } finally spark.stop()
  }

  /** Run the curation chain; returns the funnel as "stage=count" pairs.
    * `benchmarkDir` enables the decontamination stage (docs sharing any
    * 8-gram with the benchmark set are dropped); `minLogP` enables the
    * perplexity gate (self-trained bigram LM over the surviving corpus;
    * docs below the mean-log-prob threshold are dropped — gibberish that
    * slipped the heuristic gates scores ~-ln|V| per bigram, far below
    * in-distribution text). */
  def run(spark: SparkSession, outRoot: String, inputDir: String,
          minQuality: Double = 0.5, defaultRate: Double = 1.0,
          log: String => Unit = println,
          benchmarkDir: Option[String] = None,
          minLogP: Option[Double] = None,
          lineDedup: Boolean = false,
          tempAlpha: Option[Double] = None,
          chunkSpec: Option[(Int, Int, Int)] = None,
          packBudget: Option[Long] = None): Seq[String] = {
    val t0 = System.nanoTime()
    val docs = spark.read.parquet(inputDir)
    val hasLang = docs.columns.contains("lang")
    val nIn = docs.count()

    val stats = Checkpoints.stage(spark, outRoot, "stats", log) {
      docs.select(
        col("doc_id"),
        col("text"),
        (if (hasLang) col("lang") else lit("und")).as("lang"),
        TextStats.qualityScore(col("text")).as("quality"),
        TextStats.isEnglishHeuristic(col("text")).as("is_en"),
        Quality.passesRepetitionFilter(col("text")).as("passes_repetition"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextStats.fingerprint(col("text")).as("fingerprint"))
    }

    val clean = Checkpoints.stage(spark, outRoot, "clean", log) {
      stats
        .filter(col("is_en") && col("quality") >= minQuality && col("passes_repetition"))
        .withColumn("clean_text", Scrub.redact(col("text")))
        .drop("text")
    }

    val deduped = Checkpoints.stage(spark, outRoot, "dedup", log) {
      // exact keep-first on the precomputed fingerprint, then MinHash-LSH
      // near-dup prune (keep the min doc_id of each near-dup pair's side)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fingerprint")).orderBy(col("doc_id"))
      val exact = clean.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      val pairs = Dedup.minhashDupPairs(
        exact.select(col("doc_id"), col("clean_text").as("text")), threshold = 0.9)
      val losers = pairs.select(greatest(col("doc_a"), col("doc_b")).as("doc_id")).distinct()
      exact.join(losers, Seq("doc_id"), "left_anti")
    }

    val lineDeduped = if (lineDedup) {
      Checkpoints.stage(spark, outRoot, "linededup", log) {
        // rewrite each survivor to its corpus-first lines; the n_tokens /
        // fingerprint signals computed upstream describe the PRE-rewrite
        // text (they fed the gates/dedup that already ran). Docs whose
        // every line was boilerplate rebuild empty and are dropped.
        val rw = Dedup.lineDedupRewrite(
          deduped.select(col("doc_id"), col("clean_text").as("text")))
        deduped.drop("clean_text")
          .join(rw.select(col("doc_id"), col("clean_text")), Seq("doc_id"))
          .filter(length(col("clean_text")) > 0)
      }
    } else deduped

    val decontam = benchmarkDir.map { bd =>
      Checkpoints.stage(spark, outRoot, "decontam", log) {
        Contamination.decontaminate(lineDeduped, spark.read.parquet(bd),
          n = 8, textCol = "clean_text")
      }
    }.getOrElse(lineDeduped)

    val lmGated = minLogP.map { thr =>
      Checkpoints.stage(spark, outRoot, "lmscore", log) {
        val scores = LmScore.meanLogProb(decontam, textCol = "clean_text")
          .filter(col("avg_logp") >= thr).select(col("doc_id"))
        decontam.join(scores, Seq("doc_id"), "left_semi")
      }
    }.getOrElse(decontam)

    val sampled = Checkpoints.stage(spark, outRoot, "sample", log) {
      tempAlpha match {
        case Some(a) =>
          // temperature rebalancing over the SURVIVING mixture: the rarest
          // language after the gates is what gets kept whole (ops.Sampling
          // scaladoc) — kept ids semi-join back to carry every column on
          val kept = Sampling.temperatureSample(
            lmGated.select(col("doc_id"), col("lang"),
              col("clean_text").as("text")), alpha = a)
          lmGated.join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
        case None =>
          Sampling.stratifiedSample(lmGated, "lang",
            rates = Map.empty, defaultRate = defaultRate, textCol = "clean_text")
      }
    }

    // optional pre-pack stage: cut long survivors into overlapping strided
    // context windows (ops.Chunker); chunk unit id = doc_id·2^16 + chunk_idx
    // so downstream packing orders chunks document-major deterministically
    // (chunk_idx < 65536 holds for any doc under 65536·stride tokens)
    val chunked = chunkSpec.map { case (w, st, mt) =>
      Checkpoints.stage(spark, outRoot, "chunk", log) {
        graft.ops.Chunker.chunk(
          sampled.select(col("doc_id"), col("clean_text").as("text")), w, st, mt)
      }
    }
    // the packing unit id below is doc_id·2^16 + chunk_idx: a doc yielding
    // ≥ 65536 chunks (over 65536·stride tokens) would silently collide into
    // the next doc's id space — fail the run loudly instead (cheap agg on
    // the checkpointed chunk output)
    chunked.foreach { c =>
      val mx = Option(c.agg(max(col("chunk_idx"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      require(mx < 65536L, s"chunk stage produced chunk_idx=$mx >= 65536: " +
        "the doc_id*65536+chunk_idx packing unit id would collide; " +
        "use a larger stride or split oversized docs upstream")
    }

    // terminal stage: lay the curated survivors (or their chunks) end-to-end
    // in unit order and cut fixed-budget training sequences — the
    // packed-example manifest (distributed two-level prefix sum; see
    // ops.Packing)
    val packed = packBudget.map { budget =>
      Checkpoints.stage(spark, outRoot, "pack", log) {
        chunked match {
          case Some(c) => Packing.packOffsetsCounted(
            c.select((col("doc_id") * 65536L + col("chunk_idx")).as("doc_id"),
              col("n_tokens")), budget)
          case None => Packing.packOffsets(
            sampled.select(col("doc_id"), col("clean_text").as("text")), budget)
        }
      }
    }

    val funnel = Seq(
      "input" -> nIn, "stats" -> stats.count(), "clean" -> clean.count(),
      "dedup" -> deduped.count()) ++
      (if (lineDedup) Seq("linededup" -> lineDeduped.count()) else Nil) ++
      benchmarkDir.map(_ => "decontam" -> decontam.count()) ++
      minLogP.map(_ => "lmscore" -> lmGated.count()) ++
      Seq("sample" -> sampled.count()) ++
      chunked.map(c => "chunk" -> c.count()) ++
      packed.map(p => "pack" -> p.count())
    val wall = (System.nanoTime() - t0) / 1e9
    val docsPerSec = nIn / math.max(wall, 1e-9)
    // Locale.ROOT: the f-interpolator honors the JVM default locale — a
    // comma-decimal locale would render "wall_sec":12,3 (invalid JSON)
    def num(d: Double) = String.format(java.util.Locale.ROOT, "%.1f", Double.box(d))
    Checkpoints.writeText(outRoot, "report.json",
      (funnel.map { case (k, v) => s""""$k":$v""" } :+
        s""""wall_sec":${num(wall)}""" :+ s""""docs_per_sec":${num(docsPerSec)}""")
        .mkString("{", ",", "}"))
    log(s"[curate] wall=${num(wall)} s, ${num(docsPerSec)} docs/s through the funnel")
    funnel.map { case (k, v) => s"$k=$v" }
  }
}
