package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`): brute-force
  * cosine top-k as the exact baseline, random-hyperplane LSH bucketing as the
  * scale path, and near-duplicate pair mining.
  *
  * All vector math is `zip_with`/`aggregate` higher-order functions over the
  * array column — Tungsten-evaluated, no UDF, no mllib Vector conversion. */
object Similarity {

  /** dot(x, y) in double precision — the native [[graft.plans.VectorKernel]]
    * (generated static call, primitive loop) with the exact IEEE operation
    * order of the HOF fold it replaced: float→double widening, double
    * multiply, left-to-right accumulation. Bit-identical results; the HOF
    * (`aggregate(zip_with(...))`) ran an interpreted lambda per element per
    * pair. Inputs are `array<float>` (all embedding columns). */
  def dot(x: Column, y: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.FloatDotExpression(
        org.apache.spark.sql.GraftColumnBridge.expression(x),
        org.apache.spark.sql.GraftColumnBridge.expression(y)))

  def norm(x: Column): Column = sqrt(dot(x, x))

  def cosine(x: Column, y: Column): Column = {
    val d = norm(x) * norm(y)
    when(d === 0, lit(0.0)).otherwise(dot(x, y) / d)
  }

  /** Cosine from a precomputed norm on each side: ONE zip_with/aggregate
    * pass per pair instead of three. The norms must be materialized as
    * columns BEFORE the pair join — a join boundary stops projection
    * collapse from re-inlining the norm expression into the per-pair
    * projection (Spark HOFs re-evaluate inlined outer expressions per
    * element, an O(d²) trap). */
  def cosineWithNorms(x: Column, y: Column, nx: Column, ny: Column): Column =
    when(nx === 0 || ny === 0, lit(0.0)).otherwise(dot(x, y) / (nx * ny))

  /** Exact top-k neighbors for each query vector (brute force — the
    * correctness baseline; linear in corpus size, broadcast the queries). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosineWithNorms(col("qv"), col("cv"), col("qn"), col("cn")))
    // rank via the bounded-heap top-k operator (graft.plans.TopKPerKey):
    // k survivors per query cross the exchange instead of every scored pair
    graft.plans.TopK.perKey(scored, Seq(col("query_id")),
        Seq(desc("cos"), asc("neighbor_id")), k, rnName = "rnk")
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("neighbor_id"), round(col("cos"), 4).as("cos"))
  }

  /** Random-hyperplane LSH bucket id: `nBits`-bit sign signature. Hyperplane
    * components are deterministic ±1 weights derived from (bit, dim) — a
    * public standard trick (sign of sum of ±-weighted coords ≈ random
    * hyperplane for high dims). `table` offsets the hyperplane seeds so
    * multiple independent hash tables can be built from the same function.
    * Native kernel ([[graft.plans.LshBucketExpression]], bit-identical to
    * the nBits-separate-HOF-passes formulation it replaces). */
  def lshBucket(vec: Column, nBits: Int = 12, table: Int = 0): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.LshBucketExpression(
        org.apache.spark.sql.GraftColumnBridge.expression(vec), nBits, table))

  /** ANN top-k via multi-table, multi-probe LSH — the two standard recall
    * levers composed:
    *  - `nTables` independent hash tables (independent hyperplane sets);
    *    a neighbor is a candidate if it collides in ANY table:
    *    recall = 1 − (1 − p_bucket)^nTables. The corpus side fans out
    *    ×nTables (the classic index-size-for-recall trade).
    *  - within each table, each query probes its own bucket plus every
    *    bucket at Hamming distance ≤ `probeBits` (neighbors that straddle
    *    one hyperplane land one bit-flip away).
    * Probe rows live on the small broadcast QUERY side — the corpus scans
    * once, fans out nTables slim (bucket, id, vec) rows, and joins by hash
    * probe with NO shuffle; only the final per-query ranking shuffles the
    * surviving candidates. The same pair can collide in several tables, so
    * candidates are deduped before ranking. Recall is gated in Ops2Spec
    * against `bruteForceTopK` on the bench embedding distribution. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5, nBits: Int = 12,
              idCol: String = "vec_id", vecCol: String = "embedding",
              probeBits: Int = 1, nTables: Int = 4): DataFrame = {
    require(probeBits >= 0 && probeBits <= 1, "probeBits 0 (exact bucket) or 1 (flip-one)")
    require(nTables >= 1)
    def tableBuckets(vec: Column, flips: Boolean): Column =
      array((0 until nTables).flatMap { t =>
        val b0 = lshBucket(vec, nBits, t)
        val base = struct(lit(t).as("tbl"), b0.as("bucket"))
        if (!flips) Seq(base)
        else base +: (0 until nBits).map(b =>
          struct(lit(t).as("tbl"), b0.bitwiseXOR(lit(1L << b)).as("bucket")))
      }: _*)
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), norm(col(vecCol)).as("qn"),
        explode(tableBuckets(col(vecCol), flips = probeBits == 1)).as("tb"))
      .select(col("query_id"), col("qv"), col("qn"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket")))
    val c = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), norm(col(vecCol)).as("cn"),
        explode(tableBuckets(col(vecCol), flips = false)).as("tb"))
      .select(col("neighbor_id"), col("cv"), col("cn"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    // cosine BEFORE the dedupe: a pair colliding in several tables computes
    // its (identical) cosine ≤nTables times, but the dedupe then aggregates
    // slim (long, long, double) rows in a HashAggregate — deduping first
    // would drag the full vectors through a sort-based distinct instead
    val scored = q.join(c, Seq("tbl", "bucket")).filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosineWithNorms(col("qv"), col("cv"), col("qn"), col("cn")))
      .groupBy(col("query_id"), col("neighbor_id")).agg(max(col("cos")).as("cos"))
    graft.plans.TopK.perKey(scored, Seq(col("query_id")),
        Seq(desc("cos"), asc("neighbor_id")), k, rnName = "rnk")
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("neighbor_id"), round(col("cos"), 4).as("cos"))
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold, candidates from LSH
    * buckets (never O(n²)). `nTables` independent hyperplane sets drive
    * recall exactly as in [[lshTopK]]: a true near-dup pair is missed only if
    * it straddles a hyperplane in EVERY table (miss^nTables) — at nBits=8,
    * nTables=4 the driver-gate corpus recovers the brute-force pair set
    * exactly (q32's independent DuckDB oracle re-mines all pairs by brute
    * force, so a recall regression goes oracle-red, not silently missing).
    * The corpus fans out ×nTables slim (tbl, bucket, id, vec) rows — the
    * standard index-size-for-recall trade. */
  def cosineDupPairs(corpus: DataFrame, threshold: Double = 0.95, nBits: Int = 10,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     nTables: Int = 1): DataFrame = {
    require(nTables >= 1)
    // both join sides recompute buckets+norm (one native-kernel pass per
    // table + one HOF pass per vector). Deliberately NOT persisted: this is
    // the FULL corpus with its embedding vectors — caching it would spill the
    // whole input to executor disk for a 2× saving on a cheap projection
    // (unlike the candidate-pair checkpoints in Dedup, which are small by
    // construction)
    val tb = explode(array((0 until nTables).map(t =>
      struct(lit(t).as("tbl"), lshBucket(col(vecCol), nBits, t).as("bucket"))): _*))
    val withB = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nrm"), tb.as("tb"))
      .select(col("id"), col("v"), col("nrm"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val a = withB.select(col("tbl"), col("bucket"), col("id").as("a"), col("v").as("va"), col("nrm").as("na"))
    val b = withB.select(col("tbl"), col("bucket"), col("id").as("b"), col("v").as("vb"), col("nrm").as("nb"))
    // cosine BEFORE the pair dedupe (the lshTopK rationale): a pair colliding
    // in several tables recomputes its identical cosine ≤nTables times, but
    // the dedupe then runs over slim (long, long, double) rows
    a.join(b, Seq("tbl", "bucket"))
      .filter(col("a") < col("b"))
      .withColumn("cos", cosineWithNorms(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("a").as("id_a"), col("b").as("id_b"), round(col("cos"), 4).as("cos"))
      .dropDuplicates("id_a", "id_b")
  }
}
