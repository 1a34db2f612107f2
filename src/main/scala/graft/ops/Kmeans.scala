package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed k-means over the embedding column — the corpus-clustering
  * step a SemDeDup-style curation pipeline runs before within-cluster
  * near-duplicate pruning, and the complement of [[IvfIndex]]'s quantizer:
  * IVF fits on a bounded driver-side sample (centroid quality saturates
  * early), while this operator runs Lloyd iterations over the ENTIRE
  * corpus as Spark aggregations — the shape to use when cluster membership
  * itself is the product.
  *
  * Scale design — per iteration: one scan of the localCheckpointed
  * quantized projection for assignment (pure codegen'd array arithmetic against
  * literal centroids: no shuffle, no UDF, no join) plus one
  * (cluster, dim)-keyed partial aggregation whose shuffle is k·dim rows per
  * map partition regardless of corpus size (map-side combine collapses the
  * posexplode). Driver state is the k·dim centroid matrix itself — the same
  * bounded-collect discipline as the trainer's minFreq table. The plan does
  * NOT grow with iterations (centroids re-enter as literals), so no
  * per-round localCheckpoint is needed, unlike PageRank/CC.
  *
  * Determinism / cross-engine parity — all distance and update arithmetic
  * is integer: components quantize to `floor(x · scale)` longs, distances
  * are exact Long sums of squares, and the centroid update is
  * `floor(sum / count)` computed in double (sums stay < 2⁵³, so the double
  * path is exact and engine-identical). Assignment ties break to the lowest
  * cluster index on both engines. Validated bit-identical against a numpy
  * integer reference AND the generated DuckDB oracle before wiring.
  *
  * Empty clusters keep their previous centroid (no resample — deterministic,
  * and mirrored in the oracle's `coalesce`). Seeds are the k smallest ids'
  * vectors: deterministic and engine-agreeable (k-means++ would need an RNG
  * the SQL side can't replay).
  */
object Kmeans {

  /** Component-wise fixed-point quantization: `floor(x·scale)` as Long.
    * Float→double widening is exact, and double multiply is IEEE-identical
    * across engines, so both sides see the same integers. */
  def quantize(vec: Column, scale: Long): Column =
    transform(vec, x => floor(x.cast("double") * scale).cast("long"))

  /** Adds `cluster` (argmin, ties → lowest index) and `dist_sq` to a frame
    * with a quantized `q` column. Map-side only: ONE generated k×dim
    * integer loop per row ([[graft.plans.KmeansArgminExpression]] — the
    * float_dot move; the previous formulation built an array of k
    * interpreted `aggregate(zip_with(...))` folds per row, which is k
    * CodegenFallback lambdas and a k-element array allocation each — the
    * per-row cost that matters when k grows to SemDeDup-realistic
    * thousands). Bit-identical by the exact-Long contract in the kernel. */
  private def withAssignment(qdf: DataFrame, cents: IndexedSeq[Array[Long]]): DataFrame = {
    val asgn = org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.KmeansArgminExpression(
        org.apache.spark.sql.GraftColumnBridge.expression(col("q")),
        cents.map(_.clone).toArray))
    qdf.withColumn("asgn", asgn)
      .withColumn("dist_sq", col("asgn.dist_sq"))
      .withColumn("cluster", col("asgn.cluster"))
      .drop("asgn")
  }

  /** `iters` Lloyd iterations over the whole corpus; returns the final
    * centroid matrix (quantized integer space). `k` is capped by the row
    * count. */
  def fit(embeddings: DataFrame, k: Int, iters: Int, scale: Long = 1000000L,
          idCol: String = "vec_id", vecCol: String = "embedding"): IndexedSeq[Array[Long]] = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val proj = embeddings
      .select(col(idCol).cast("long").as("vec_id"), quantize(col(vecCol), scale).as("q"))
    // bounded-corpus early-out: ONE collect of the slim quantized
    // projection replaces `iters` assignment+aggregation jobs — identical
    // exact-integer Lloyd arithmetic (LocalFitParitySpec); the
    // distributed loop below is the path above the bound. The gate's count
    // prunes the projection to a row count, so the projection is only
    // materialized on the path that reads it every iteration.
    val small = graft.kg.LocalIter.collectSmall(proj)
    if (small.isDefined)
      return fitLocal(small.get.map(r => (r.getLong(0), r.getSeq[Long](1).toArray)), k, iters)
    val qdf = proj.localCheckpoint(eager = false)
    var cents: IndexedSeq[Array[Long]] = qdf.orderBy("vec_id").limit(k).collect()
      .map(_.getSeq[Long](1).toArray).toIndexedSeq
    require(cents.nonEmpty, "k-means on an empty corpus")
    for (_ <- 1 to iters) {
      // k·dim rows total after partial agg — bounded driver collect
      val sums = withAssignment(qdf, cents)
        .select(col("cluster"), posexplode(col("q")))
        .groupBy("cluster", "pos")
        .agg(sum("col").as("s"), count(lit(1)).as("n"))
        .collect()
      val updated = sums.groupBy(_.getLong(0)).map { case (j, rows) =>
        val arr = cents(j.toInt).clone()
        rows.foreach { r =>
          arr(r.getInt(1)) = math.floor(r.getLong(2).toDouble / r.getLong(3)).toLong
        }
        j.toInt -> arr
      }
      cents = cents.indices.map(j => updated.getOrElse(j, cents(j)))
    }
    cents
  }

  /** Driver-local Lloyd loop — the [[fit]] arithmetic verbatim: exact Long
    * squared distances, ties to the lowest cluster index, floor(sum/count)
    * centroid updates in double (sums < 2^53 ⇒ exact), empty clusters keep
    * their previous centroid, seeds = the k smallest ids' vectors. */
  private def fitLocal(rows: Array[(Long, Array[Long])], k: Int,
                       iters: Int): IndexedSeq[Array[Long]] = {
    val data = rows.sortBy(_._1)
    var cents: IndexedSeq[Array[Long]] = data.take(k).map(_._2.clone).toIndexedSeq
    require(cents.nonEmpty, "k-means on an empty corpus")
    for (_ <- 1 to iters) {
      val sums = Array.fill(cents.length)(null: Array[Long])
      val counts = new Array[Long](cents.length)
      data.foreach { case (_, q) =>
        var best = 0
        var bestD = Long.MaxValue
        var j = 0
        while (j < cents.length) {
          val c = cents(j)
          var d = 0L
          var i = 0
          while (i < q.length) { val t = q(i) - c(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        counts(best) += 1
        if (sums(best) == null) sums(best) = new Array[Long](q.length)
        val s = sums(best)
        var i = 0
        while (i < q.length) { s(i) += q(i); i += 1 }
      }
      cents = cents.indices.map { j =>
        if (counts(j) == 0L) cents(j)
        else {
          val arr = cents(j).clone()
          var i = 0
          while (i < arr.length) {
            arr(i) = math.floor(sums(j)(i).toDouble / counts(j)).toLong
            i += 1
          }
          arr
        }
      }
    }
    cents
  }

  /** Assignment under a fixed centroid matrix: (vec_id, cluster, dist_sq).
    * One scan, no shuffle. */
  def assign(embeddings: DataFrame, cents: IndexedSeq[Array[Long]],
             scale: Long = 1000000L,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    withAssignment(
      embeddings.select(col(idCol).cast("long").as("vec_id"),
        quantize(col(vecCol), scale).as("q")), cents)
      .select(col("vec_id"), col("cluster"), col("dist_sq"))

  /** Fit + assign: the q63 entry point. */
  def cluster(embeddings: DataFrame, k: Int, iters: Int,
              scale: Long = 1000000L): DataFrame =
    assign(embeddings, fit(embeddings, k, iters, scale), scale)

  /** SemDeDup: cluster the corpus, then mine near-duplicate pairs ONLY
    * within clusters — the cluster structure bounds the pair blocks the way
    * LSH bands bound [[Dedup.minhashDupPairs]]'s. In production k scales
    * with the corpus (SemDeDup uses k in the thousands) so per-cluster
    * blocks stay small; `maxCluster` is the hot-block guard (same contract
    * as Dedup's maxDf/maxBucket caps): clusters larger than it are skipped
    * deterministically rather than detonating an O(c²) join. Cosine is
    * computed on the ORIGINAL float vectors (norms materialized before the
    * self-join — see [[Similarity.cosineWithNorms]]). Building the frame
    * runs the fit; the slim assignment is a lazy local checkpoint. */
  def semDedupPairs(embeddings: DataFrame, k: Int, iters: Int,
                    threshold: Double, scale: Long = 1000000L,
                    maxCluster: Long = 100000L): DataFrame = {
    // checkpoint the SLIM assignment (2 longs/row — never the corpus
    // vectors): cluster sizes and both self-join sides derive from it, and
    // without it every reference re-inlined the full assign scan — the plan
    // audit showed 16 parquet scans of the embeddings for one query. The
    // size cap becomes a broadcast semi-join on the ≤k cluster ids.
    val a = cluster(embeddings, k, iters, scale).select("vec_id", "cluster")
      .localCheckpoint(eager = false)
    val okCl = a.groupBy("cluster").agg(count(lit(1)).as("csize"))
      .filter(col("csize") <= maxCluster).select("cluster")
    val withVec = embeddings.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .join(a, Seq("vec_id"))
      .join(broadcast(okCl), Seq("cluster"), "left_semi")
      .withColumn("n", Similarity.norm(col("embedding")))
    val l = withVec.select(col("cluster"), col("vec_id").as("id_a"),
      col("embedding").as("va"), col("n").as("na"))
    val r = withVec.select(col("cluster"), col("vec_id").as("id_b"),
      col("embedding").as("vb"), col("n").as("nb"))
    l.join(r, Seq("cluster")).filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        round(Similarity.cosineWithNorms(col("va"), col("vb"), col("na"), col("nb")), 4))
      .filter(col("cos") >= threshold)
      .select(col("cluster"), col("id_a"), col("id_b"), col("cos"))
  }

  /** Cluster-balanced diversity sampling: up to `cap` vectors per k-means
    * cluster, picked in md5(vec_id) order — a deterministic pseudo-random
    * draw BOTH engines can replay (the q38 md5-bucket trick), unlike
    * xxhash64 which DuckDB lacks. The per-cluster pick runs on the
    * bounded-heap TopKPerKey operator: a hot cluster costs O(cap) heap,
    * never a per-cluster sort — the same skew contract as domainQuota. */
  def clusterBalancedSample(embeddings: DataFrame, k: Int, iters: Int,
                            cap: Int, scale: Long = 1000000L): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val a = cluster(embeddings, k, iters, scale)
      .withColumn("pick", md5(col("vec_id").cast("string").cast("binary")))
    graft.plans.TopK.perKey(a, Seq(col("cluster")),
        Seq(asc("pick"), asc("vec_id")), cap, rnName = "rn")
      .select(col("cluster"), col("rn").cast("long").as("rn"), col("vec_id"))
  }

  /** q69 oracle: assignment CTEs + the same md5-ordered window pick. */
  def oracleSqlClusterSample(k: Int, iters: Int, dim: Int, cap: Int,
                             scale: Long = 1000000L): String =
    s"""WITH ${oracleCtes(k, iters, dim, scale)},
          r AS (SELECT cluster, vec_id,
                row_number() OVER (PARTITION BY cluster
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
                FROM af)
        SELECT CAST(cluster AS BIGINT) AS cluster, CAST(rn AS BIGINT) AS rn, vec_id
        FROM r WHERE rn <= $cap"""

  // ====================================================================
  // DuckDB oracles — the Lloyd iterations unrolled as CTEs with the SAME
  // integer arithmetic. An independent FORMULATION (per-dim unnest via
  // generate_series + window-ranked argmin) of the semantics, not a port
  // of the Spark plan; validated bit-identical to the numpy reference.
  // ====================================================================

  /** CTE chain ending in `{prefix}af AS (vec_id, cluster, dist)` — the final
    * assignment over `srcRel` (a relation with vec_id + embedding). `prefix`
    * namespaces every CTE so multiple chains compose in one WITH (the PQ
    * oracle runs one chain per subspace). */
  def oracleCtes(k: Int, iters: Int, dim: Int, scale: Long,
                 srcRel: String = "embeddings", prefix: String = ""): String = {
    val (qv, af, df) = (s"${prefix}qv", s"${prefix}af", s"${prefix}df")
    val sb = new StringBuilder(
      s"""$qv AS (SELECT vec_id, list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE)*$scale) AS BIGINT)) AS q FROM $srcRel),
          ${prefix}c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, q AS c
                 FROM $qv ORDER BY vec_id LIMIT $k)""")
    var prev = s"${prefix}c0"
    for (it <- 1 to iters) {
      val (d, a, s_, l, c) = (s"${prefix}d$it", s"${prefix}a$it",
        s"${prefix}s$it", s"${prefix}l$it", s"${prefix}c$it")
      sb.append(s""",
          $d AS (SELECT $qv.vec_id, $prev.j,
                   sum(($qv.q[g.i] - $prev.c[g.i]) * ($qv.q[g.i] - $prev.c[g.i])) AS dist
                   FROM $qv, $prev, generate_series(1, $dim) AS g(i)
                   GROUP BY $qv.vec_id, $prev.j),
          $a AS (SELECT vec_id, j AS cluster FROM $d
                   QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) = 1),
          $s_ AS (SELECT $a.cluster AS j, g.i,
                   CAST(floor(CAST(sum($qv.q[g.i]) AS DOUBLE) / count(*)) AS BIGINT) AS v
                   FROM $qv JOIN $a USING (vec_id), generate_series(1, $dim) AS g(i)
                   GROUP BY 1, 2),
          $l AS (SELECT j, list(v ORDER BY i) AS c FROM $s_ GROUP BY j),
          $c AS (SELECT $prev.j, coalesce($l.c, $prev.c) AS c
                   FROM $prev LEFT JOIN $l USING (j))""")
      prev = c
    }
    sb.append(s""",
          $df AS (SELECT $qv.vec_id, $prev.j,
                 sum(($qv.q[g.i] - $prev.c[g.i]) * ($qv.q[g.i] - $prev.c[g.i])) AS dist
                 FROM $qv, $prev, generate_series(1, $dim) AS g(i)
                 GROUP BY $qv.vec_id, $prev.j),
          $af AS (SELECT vec_id, j AS cluster, dist FROM $df
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) = 1)""")
    sb.toString
  }

  /** q63 oracle: final assignment. */
  def oracleSql(k: Int, iters: Int, dim: Int, scale: Long = 1000000L): String =
    s"""WITH ${oracleCtes(k, iters, dim, scale)}
        SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
               CAST(dist AS BIGINT) AS dist_sq FROM af"""

  /** q64 oracle: SemDeDup pairs over the q32 planted-dup construction —
    * k-means CTEs over the union, then brute-force cosine restricted to
    * same-cluster id-ordered pairs. */
  def oracleSqlSemDedup(k: Int, iters: Int, dim: Int, threshold: Double,
                        scale: Long = 1000000L): String =
    s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
            pert AS (SELECT vec_id + 1000000 AS vec_id,
                     list_concat([CAST(embedding[1] + CAST(0.01 AS FLOAT) AS FLOAT)], embedding[2:]) AS embedding
                     FROM base),
            allv AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
            ${oracleCtes(k, iters, dim, scale, srcRel = "allv")},
            p AS (SELECT a.cluster, x.vec_id AS id_a, y.vec_id AS id_b,
                  list_cosine_similarity(CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])) AS cos
                  FROM af a JOIN af b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                  JOIN allv x ON x.vec_id = a.vec_id
                  JOIN allv y ON y.vec_id = b.vec_id)
        SELECT CAST(cluster AS BIGINT) AS cluster, id_a, id_b, round(cos, 4) AS cos
        FROM p WHERE round(cos, 4) >= $threshold"""
}
