package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The measurement harness for query work, beside the frozen
  * `graft.Bench`. Every call runs in interleaved rounds with a
  * noop sink and is timed through [[TaskTotals]]. No operator persists
  * (frames read more than once are localCheckpointed), so a call leaves
  * nothing in the session's cache for the next one to find.
  *
  * `Profile --sf DIR [--rounds R] qNN...` runs the named `SparkEntry`
  * queries (all of them when none is named) in a seeded shuffle per round
  * and prints per query the min, median and samples of its wall time, the
  * task totals of its median round, and a summary of its executed physical
  * plan. One untimed warm-up round runs before the R timed ones, so the
  * median is not a JIT warm-up sample.
  *
  * `Profile --sf DIR --sounding [--rounds R]` is the 10× sounding of the
  * heavy pair-mining family: it runs each at DIR and at a deterministic 10×
  * copy of DIR, in paired rounds alternating which scale goes first, and
  * writes the per-query medians and the scaling exponent to
  * `BENCH_sf1.json` (log10 of the time ratio across the 10× size ratio:
  * 1.0 = linear, 2.0 = quadratic).
  *
  * `Profile --decode N [--rounds R]` is the kernel layer alone, no Spark:
  * single-thread `CrfDecoder.process` with the pipeline model over the
  * first N sentences of seed-42 `PagesGen` pages, one decoder throughout.
  * It prints µs per sentence, min and median over the R timed rounds;
  * [[DecodeWarmups]] untimed rounds come first.
  *
  * The session is `graft.Bench.session(SPARK_GRAFT_CPUS)` (default 32).
  */
object Profile {

  /** Node definitions of the physical plans a call executed, summed over
    * its SQL executions (eager checkpoints and collects, then its write;
    * final adaptive plans and subqueries included, a reused exchange counted
    * once): parquet scans, exchanges and whole-stage-codegen spans. */
  final case class PlanSummary(scans: Int, exchanges: Int, codegenSpans: Int) {
    def +(o: PlanSummary): PlanSummary =
      PlanSummary(scans + o.scans, exchanges + o.exchanges, codegenSpans + o.codegenSpans)
    def line: String = s"scans=$scans exchanges=$exchanges codegenSpans=$codegenSpans"
  }

  object PlanSummary extends AdaptiveSparkPlanHelper {
    def of(plan: SparkPlan): PlanSummary = {
      val nodes = collectWithSubqueries(plan) { case p => p }
      PlanSummary(nodes.count(_.isInstanceOf[FileSourceScanExec]),
        nodes.count(_.isInstanceOf[Exchange]), nodes.count(_.isInstanceOf[WholeStageCodegenExec]))
    }
  }

  /** One query over all rounds: the wall times in round order, the task
    * totals of the median round, and the plan summary of its first
    * successful round (None when every round failed). */
  final case class Record(name: String, walls: Seq[Double], totals: TaskTotals.Snapshot,
                          plan: Option[PlanSummary]) {
    def median: Double = Profile.median(walls)
    def line: String = f"[profile] $name%-24s min=${walls.min}%.3f median=$median%.3f " +
      s"samples=${walls.map(w => f"$w%.2f").mkString(",")} ${totals.line} " +
      plan.fold("plan=none")(_.line)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Runs one untimed warm-up round (`calls(-1)`), then `nRounds` timed
    * rounds of the calls `calls(round)` names, each key once per round;
    * returns one record per key, sorted by key. */
  def rounds(spark: SparkSession, nRounds: Int)(
      calls: Int => Seq[(String, SparkSession => DataFrame)]): Seq[Record] = {
    val totals = TaskTotals.on(spark)
    // the plans of the current call's successful executions
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val plans = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executed.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(plans)
    val samples = scala.collection.mutable.Map.empty[String, Vector[(Double, TaskTotals.Snapshot)]]
    val summaries = scala.collection.mutable.Map.empty[String, PlanSummary]
    try for (r <- -1 until nRounds; (key, call) <- calls(r)) {
      val round = if (r < 0) "warm-up" else s"round $r"
      spark.sparkContext.setJobDescription(s"profile: $key $round")
      executed.clear()
      val (ok, wall, t) = totals.timed {
        try { call(spark).write.mode("overwrite").format("noop").save(); true }
        catch { case NonFatal(e) => System.err.println(s"[profile] $key failed: ${e.getMessage}"); false }
      }
      System.err.println(f"[profile] $round $key: $wall%.2f s")
      if (r >= 0) {
        samples(key) = samples.getOrElse(key, Vector.empty) :+ (wall -> t)
        if (ok && !summaries.contains(key))
          executed.asScala.map(PlanSummary.of).reduceOption(_ + _).foreach(summaries(key) = _)
      }
    } finally {
      spark.sparkContext.setJobDescription(null)
      spark.listenerManager.unregister(plans)
      totals.close()
    }
    samples.toSeq.sortBy(_._1).map { case (key, s) =>
      Record(key, s.map(_._1), s.sortBy(_._1).apply(s.length / 2)._2, summaries.get(key))
    }
  }

  /** The named queries (all when `names` is empty) in a seeded shuffle per round. */
  def queries(spark: SparkSession, sfDir: String, names: Seq[String], nRounds: Int): Seq[Record] = {
    val targets = if (names.nonEmpty) names else graft.SparkEntry.queries.keys.toSeq.sorted
    targets.foreach(n => require(graft.SparkEntry.queries.contains(n), s"unknown query '$n'"))
    rounds(spark, nRounds) { r =>
      new scala.util.Random(2000 + r).shuffle(targets)
        .map(n => n -> ((s: SparkSession) => graft.SparkEntry.queries(n)(s, sfDir)))
    }
  }

  /** 10 deterministic, mutually decorrelated copies of `src` in `dst`. The
    * copies must not be textual or geometric near-duplicates of each other,
    * or the sounding measures planted quadratic duplication instead of
    * corpus growth: every word gets a per-copy suffix (shingles become
    * copy-disjoint, and each copy keeps its own near-duplicate structure, so
    * duplicate density is scale-invariant), and embedding components are
    * rotated per copy (norms kept, cross-copy cosine decorrelated). */
  def buildTenfold(spark: SparkSession, src: String, dst: String): Unit = {
    val done = new java.io.File(s"$dst/_SOUNDING_READY")
    if (done.exists()) return
    val d = spark.read.parquet(s"$src/documents.parquet")
    (0 until 10).map { c =>
      d.select((col("doc_id") + c * 100000L).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1x" + c).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_.union(_))
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    val e = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until 10).map { c =>
      val rot =
        if (c == 0) col("embedding")
        else concat(slice(col("embedding"), c + 1, 10000), slice(col("embedding"), 1, c))
      e.select((col("vec_id") + c * 100000L).as("vec_id"),
        rot.cast("array<float>").as("embedding"), col("label"))
    }.reduce(_.union(_))
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    done.createNewFile()
    ()
  }

  /** The heavy family as `SparkEntry.queries` defines it, except q64, whose
    * k-means k scales with the corpus (k = 8 per `scaleMult` base corpora,
    * the contract in `Kmeans.semDedupPairs`' scaladoc; the assignment ops
    * keep k fixed and are linear by construction). The last four are the
    * FastSS pair miner (a candidate fan-out to bound), the KMV sketch (must
    * stay k-bounded after the distincts) and two scan-shaped linear
    * controls. */
  def heavyQueries(scaleMult: Int): Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq("q22_jaccard_pairs", "q23_minhash_pairs", "q24_simhash_pairs", "q28_dedup_clusters",
      "q58_line_dedup", "q64_semdedup", "q69_cluster_sample", "q87_fuzzy_link",
      "q90_theta_intersect", "q89_chunk_windows", "q93_weighted_sample").map {
      case n @ "q64_semdedup" => n -> ((s: SparkSession, dir: String) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet").select(col("vec_id"), col("embedding"))
        val perturbed = emb.select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"), (v, i) =>
            (v + when(i === 0, lit(0.01f)).otherwise(lit(0.0f))).cast("float")).as("embedding"))
        graft.ops.Kmeans.semDedupPairs(emb.union(perturbed),
          k = 8 * scaleMult, iters = 5, threshold = 0.98)
      })
      case n => n -> graft.SparkEntry.queries(n)
    }

  /** The sounding's JSON document (the keys of `BENCH_sf1.json`). */
  def sounding(spark: SparkSession, sfDir: String, nRounds: Int): String = {
    val big = System.getProperty("java.io.tmpdir") + "/sf1"
    buildTenfold(spark, sfDir, big)
    spark.read.parquet(s"$big/documents.parquet").count() // warm the reader, untimed
    val scales = Seq("sf01" -> (sfDir, 1), "sf1" -> (big, 10))
    val recs = rounds(spark, nRounds) { r =>
      (if (r % 2 == 0) scales else scales.reverse).flatMap { case (label, (dir, mult)) =>
        heavyQueries(mult).map { case (n, q) => s"$n@$label" -> ((s: SparkSession) => q(s, dir)) }
      }
    }.map(rec => rec.name -> rec.median).toMap
    val per = heavyQueries(1).map { case (n, _) =>
      val (lo, hi) = (recs(s"$n@sf01"), recs(s"$n@sf1"))
      f""""$n":{"sf01_sec":$lo%.2f,"sf1_sec":$hi%.2f,"ratio":${hi / lo}%.2f,"exponent":${math.log10(hi / lo)}%.2f}"""
    }
    def rows(t: String) = spark.read.parquet(s"$big/$t.parquet").count()
    s"""{"protocol":"10x deterministic scale-up of sf0.1 (word-suffixed copies, rotated embeddings), $nRounds interleaved paired rounds, per-query medians; exponent=log10(t_sf1/t_sf0.1) across the 10x size ratio (1.0=linear, 2.0=quadratic); semdedup k scales with the corpus per its scaladoc contract",""" +
      s""""rows":{"documents":${rows("documents")},"embeddings":${rows("embeddings")}},${per.mkString(",")}}"""
  }

  /** Untimed rounds before the timed ones of `--decode`. */
  val DecodeWarmups = 5

  /** Single-thread decode µs per sentence of each timed round, over the
    * first `n` sentences of seed-42 pages. */
  def decodeRounds(n: Int, nRounds: Int): Seq[Double] = {
    val sents = Iterator.from(0)
      .flatMap(i => graft.kg.PagesGen.pageOf(42L, i, density = 8)._1.text.split('\n'))
      .take(n).toArray
    val decoder = new graft.crf.CrfDecoder(graft.kg.KgPipeline.trainModel(42L))
    (1 to DecodeWarmups + nRounds).map { _ =>
      val t0 = System.nanoTime()
      sents.foreach(decoder.process)
      (System.nanoTime() - t0) / 1e3 / n
    }.drop(DecodeWarmups)
  }

  val usage: String = "usage: Profile --sf DIR [--rounds R] [--sounding | qNN...] " +
    "(one untimed warm-up round precedes the R timed ones)\n" +
    s"       Profile --decode N [--rounds R] ($DecodeWarmups untimed warm-up rounds precede the R timed ones)"

  def main(args: Array[String]): Unit = {
    val (opts, names) = Cli.parse(args, Set("--sf", "--rounds", "--sounding", "--decode"))
    val nRounds = opts.getOrElse("--rounds", "3").toInt
    opts.get("--decode") match {
      case Some(n) =>
        val us = decodeRounds(n.toInt, nRounds)
        println(f"[profile] decode sentences=$n rounds=$nRounds us_per_sent min=${us.min}%.3f " +
          f"median=${median(us)}%.3f samples=${us.map(u => f"$u%.2f").mkString(",")}")
      case None => sparkMain(opts.getOrElse("--sf", sys.error(usage)), opts.contains("--sounding"),
        names, nRounds)
    }
  }

  private def sparkMain(sfDir: String, runSounding: Boolean, names: Seq[String], nRounds: Int): Unit = {
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    try {
      if (runSounding) {
        val json = sounding(spark, sfDir, nRounds)
        java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_sf1.json"), json + "\n")
        println(json)
      } else {
        graft.Bench.kgModelCached // outside the timed region, like Bench
        spark.read.parquet(s"$sfDir/lineitem.parquet").count()
        queries(spark, sfDir, names, nRounds).foreach(r => println(r.line))
      }
    } finally spark.stop()
  }
}
