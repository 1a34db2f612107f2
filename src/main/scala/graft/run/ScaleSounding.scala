package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off 10× sounding of the heavy pair-mining family (round-4 verdict
  * task #8): every scaladoc in ops.Dedup/ops.Kmeans claims the caps and
  * blocking bound the pair blowup; the driver SFs only evidence that at
  * sf≤0.1. This harness materializes a DETERMINISTIC 10× corpus from sf0.1
  * (to /tmp — never into the read-only testdata), runs each heavy operator
  * at both scales in interleaved paired rounds, and writes per-query medians
  * plus the empirical scaling exponent (log10 of the time ratio across a
  * 10× size ratio: 1.0 = linear, 2.0 = quadratic).
  *
  * Scale-up construction — copies must not be textual/geometric near-dups of
  * each other, or the sounding measures planted quadratic duplication
  * instead of corpus growth:
  *   - documents: every word gets a per-copy suffix (shingles become
  *     copy-disjoint; each copy keeps its own internal near-dup structure —
  *     docsWithDups still plants one near-dup per doc, so dup DENSITY is
  *     scale-invariant, which is the realistic regime);
  *   - embeddings: components circularly rotated per copy (norms preserved,
  *     cross-copy cosine decorrelated).
  *
  * k-means k scales WITH the corpus for the SemDeDup miner (k = 8 per
  * sf0.1-equivalent, exactly the "production scales k so per-cluster blocks
  * stay small" contract in Kmeans.semDedupPairs' scaladoc); the assignment
  * ops (q63/q69 shapes) keep k fixed — they are linear by construction.
  *
  * Usage: ScaleSounding [--rounds 3] [--out BENCH_sf1.json]
  */
object ScaleSounding {

  val Sf01 = "/root/testdata/sf0.1"
  val Sf1 = "/tmp/sf1"

  /** 10 deterministic, mutually-decorrelated copies of sf0.1 → /tmp/sf1. */
  def buildSf1(spark: SparkSession): Unit = {
    val done = new java.io.File(s"$Sf1/_SOUNDING_READY")
    if (done.exists()) return
    val d = spark.read.parquet(s"$Sf01/documents.parquet")
    (0 until 10).map { c =>
      d.select((col("doc_id") + c * 100000L).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1x" + c).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_.union(_))
      .write.mode("overwrite").parquet(s"$Sf1/documents.parquet")
    val e = spark.read.parquet(s"$Sf01/embeddings.parquet")
    (0 until 10).map { c =>
      val rot =
        if (c == 0) col("embedding")
        else concat(slice(col("embedding"), c + 1, 10000), slice(col("embedding"), 1, c))
      e.select((col("vec_id") + c * 100000L).as("vec_id"),
        rot.cast("array<float>").as("embedding"), col("label"))
    }.reduce(_.union(_))
      .write.mode("overwrite").parquet(s"$Sf1/embeddings.parquet")
    done.createNewFile()
    ()
  }

  /** The heavy family, run exactly as [[graft.SparkEntry.queries]]
    * defines it — except q64, whose k-means k scales with
    * the corpus (`scaleMult` sf0.1-equivalents). The last four are the
    * FastSS pair miner (a candidate-pair fan-out to bound), the KMV sketch
    * (must stay k-bounded after the distincts) and two pure scan-shape ops
    * as linear controls. */
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

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val (opts, _) = Cli.parse(args)
    val rounds = opts.getOrElse("--rounds", "3").toInt
    val out = opts.getOrElse("--out", "BENCH_sf1.json")
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    buildSf1(spark)
    // warm the reader/codegen once, untimed
    spark.read.parquet(s"$Sf1/documents.parquet").count()

    val names = heavyQueries(1).map(_._1)
    val times = scala.collection.mutable.Map.empty[(String, String), List[Double]]
      .withDefaultValue(Nil)
    for (r <- 0 until rounds) {
      // interleave the two scales and alternate which goes first (the
      // burst-credit discipline of every measurement in this repo)
      val scales = if (r % 2 == 0) Seq(Sf01 -> 1, Sf1 -> 10) else Seq(Sf1 -> 10, Sf01 -> 1)
      for ((dir, mult) <- scales; (name, fn) <- heavyQueries(mult)) {
        val t0 = System.nanoTime()
        fn(spark, dir).write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        times((name, dir)) = dt :: times((name, dir))
        System.err.println(f"[sounding] round $r $name @ ${dir.split('/').last}: $dt%.2f s")
        spark.sharedState.cacheManager.clearCache()
      }
    }
    val per = names.map { n =>
      val lo = median(times((n, Sf01)))
      val hi = median(times((n, Sf1)))
      val exp = math.log10(hi / lo)
      f""""$n":{"sf01_sec":$lo%.2f,"sf1_sec":$hi%.2f,"ratio":${hi / lo}%.2f,"exponent":$exp%.2f}"""
    }
    val json = s"""{"protocol":"10x deterministic scale-up of sf0.1 (word-suffixed copies, rotated embeddings), $rounds interleaved paired rounds, per-query medians; exponent=log10(t_sf1/t_sf0.1) across the 10x size ratio (1.0=linear, 2.0=quadratic); semdedup k scales with the corpus per its scaladoc contract","rows":{"documents":50000,"embeddings":20000},${per.mkString(",")}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    println(json)
    spark.stop()
  }
}
