package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic stratified sampling for training-data mixtures: each
  * stratum (e.g. language, source, quality band) gets its own keep-rate,
  * and membership is decided by a content hash — not `rand()` — so the
  * sample is (a) reproducible bit-for-bit across runs, cluster sizes and
  * engines, (b) stable under re-partitioning, and (c) consistent: the same
  * document always lands on the same side, so incremental re-runs over a
  * growing corpus never flip earlier decisions.
  *
  * Scale design: the keep decision is a pure codegen'd column predicate
  * (md5 → first 4 hex chars → lexicographic compare against the stratum's
  * threshold), evaluated inside the scan — a 100 TB mixture materializes at
  * full scan rate with zero shuffles. The hex-string compare (rather than
  * hex→int conversion) is deliberate: it is reproducible verbatim in any
  * SQL engine, which is how the DuckDB oracle checks it.
  */
object Sampling {

  /** Uniform [0, 65536) bucket from the doc's content+id hash, as a 4-hex
    * string: `substr(md5(concat(doc_id, ':', text)), 1, 4)`. */
  def bucketHex(docId: Column, text: Column): Column =
    substring(md5(concat(docId.cast("string"), lit(":"), text).cast("binary")), 1, 4)

  /** 4-char lowercase hex threshold for keep-rate `rate` (fraction of the
    * 65536 bucket space, floor). keep ⇔ bucket < threshold. */
  def rateToHex(rate: Double): String = {
    val t = math.max(0, math.min(65536, math.floor(rate * 65536).toLong))
    // keep-all sentinel "g": 'g' > 'f' so every 4-hex bucket compares below
    // it ("10000" would NOT work — "abcd" < "10000" is false lexically)
    if (t >= 65536) "g" else f"$t%04x"
  }

  /** Stratified deterministic sample: `rates` maps stratum value → keep
    * rate; strata not listed get `defaultRate`. Keeps the row iff its hash
    * bucket falls under the stratum's threshold. */
  def stratifiedSample(docs: DataFrame, stratumCol: String,
                       rates: Map[String, Double], defaultRate: Double = 0.0,
                       textCol: String = "text"): DataFrame = {
    val bucket = bucketHex(col("doc_id"), col(textCol))
    // ONE reference to the stratum column (map-literal lookup), not one per
    // when-branch: with a COMPUTED stratum (q48's quality band) the old
    // when-chain re-inlined the full scoring expression tree into every
    // branch of the pushed-down filter — ~5 evaluations per row. Lookup
    // misses (incl. null stratum) coalesce to the default rate, exactly as
    // the when-chain's otherwise did.
    val threshold =
      if (rates.isEmpty) lit(rateToHex(defaultRate))
      else coalesce(
        element_at(typedLit(rates.map { case (s, r) => s -> rateToHex(r) }), col(stratumCol)),
        lit(rateToHex(defaultRate)))
    docs.withColumn("bucket", bucket)
      .filter(col("bucket") < threshold)
  }

  /** Per-domain quota cap — the domain-balancing step that stops one giant
    * crawl host from dominating a training mixture: keep at most `cap` docs
    * per domain, preferring the highest quality score (doc_id breaks ties
    * deterministically).
    *
    * Scale design: runs on the custom bounded-heap top-k operator
    * (graft.plans.TopK — partial per-partition heaps, then a merge capped at
    * `cap` rows per key), NOT a `row_number` window. A window partitioned by
    * domain sorts every row of the hottest domain in one task; the heap
    * operator holds `cap` rows per key per partition regardless of how
    * skewed the domain distribution is, which is the shape that survives a
    * single domain with billions of pages. */
  def domainQuota(docs: DataFrame, cap: Int, domainCol: String = "source"): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val scored = docs.select(col(domainCol).as("source"), col("doc_id"),
      round(TextStats.qualityScore(col("text")), 2).as("quality"))
    graft.plans.TopK.perKey(scored, Seq(col("source")),
        Seq(desc("quality"), asc("doc_id")), k = cap)
      .select(col("source"), col("rn").cast("long").as("rn"),
        col("doc_id"), col("quality"))
  }

  /** In-engine keep-rate → 4-hex threshold, the rateToHex counterparts as
    * columns: `rate_fp` is the integer threshold in [0, 65536] (65536 = keep
    * all, sentinel 'g' — see rateToHex). */
  private def fpToHexThreshold(rateFp: Column): Column =
    when(rateFp >= 65536L, lit("g"))
      .otherwise(lower(lpad(hex(rateFp), 4, "0")))

  /** Temperature-balanced multilingual resampling (the XLM-R / mT5 mixture
    * move): post-sampling language mass ∝ n_l^alpha, realized by keeping the
    * SMALLEST language whole and down-sampling every other language at
    *
    *   rate_l = (n_min / n_l)^(1-alpha)
    *
    * — the upsampling-free formulation (kept_l = n_l · rate_l ∝ n_l^alpha,
    * with max rate = 1 at the rarest language), chosen deliberately because
    * it needs NO cross-language normalization sum: a Σ_l n_l^alpha over
    * doubles would be summation-order-sensitive and therefore neither
    * partitioning-stable nor cross-engine reproducible. The ratio of two
    * exact Long counts and (at alpha = 0.5) one IEEE-correctly-rounded sqrt
    * feed both engines the identical double; ×65536 (= 2^16) only shifts the
    * exponent, so the floored fixed-point threshold is bit-identical — the
    * same single-transcendental-op discipline as Dsir's log-odds weights.
    * (Other alphas go through `pow`, which is NOT correctly rounded — fine
    * inside one engine, but the value-oracled configuration is 0.5.)
    *
    * Scale design: the per-language count is one tiny aggregation; the
    * threshold table (rows = languages) broadcast-joins back, and the keep
    * decision is the stratifiedSample scan-side md5 predicate — a 100 TB
    * corpus rebalances at scan rate with one language-sized shuffle. */
  def temperatureSample(docs: DataFrame, alpha: Double = 0.5,
                        langCol: String = "lang", textCol: String = "text"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    // checkpointed: consumed twice (thresholds + its min) — without it the
    // lang-column scan replays for the 1-row min (the Dsir cq/cp discipline)
    val counts = docs.groupBy(col(langCol).as("lang")).agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false)
    val nMin = counts.agg(min(col("n")).as("n_min")) // 1 row
    val ratio = col("n_min").cast("double") / col("n").cast("double")
    val rate = if (alpha == 0.5) sqrt(ratio) else pow(ratio, 1.0 - alpha)
    val thr = counts.crossJoin(broadcast(nMin))
      .select(col("lang"), floor(lit(65536.0) * rate).cast("long").as("rate_fp"))
    docs.select(col("doc_id"), col(langCol).as("lang"),
        bucketHex(col("doc_id"), col(textCol)).as("bucket"))
      .join(broadcast(thr), Seq("lang"))
      .filter(col("bucket") < fpToHexThreshold(col("rate_fp")))
      .select(col("doc_id"), col("lang"), col("rate_fp"))
  }

  /** Token-budget source mixing (the Pile/Dolma "mix to a recipe" stage):
    * each source s with a budget B_s tokens is down-sampled at
    * rate_s = min(1, B_s / T_s) where T_s is the source's exact token total;
    * sources without a budget are dropped. Budgets are caller literals and
    * T_s is an exact Long sum, so the fixed-point threshold
    * floor(65536 · min(1, B_s/T_s)) is deterministic at any parallelism and
    * bit-reproducible in the DuckDB oracle (one exact-integer ratio, no
    * transcendentals at all).
    *
    * Scale design: the text is scanned ONCE into a slim lazily
    * localCheckpointed (doc_id, source, n_tokens, bucket) projection
    * (~40 B/row), stored by the first job that reads it — the totals aggregation and the keep
    * filter both consume the projection, never the corpus bytes twice, and
    * no cache entry outlives the call. The threshold table (rows = sources) broadcasts;
    * the keep decision is the same scan-side md5 predicate as every sampler
    * here. Expected kept tokens per source ≈ min(B_s, T_s) (the md5 buckets
    * are uniform; exactness to the budget is a reservoir problem by design —
    * consistency under corpus growth matters more for training mixes). */
  def mixBudget(docs: DataFrame, budgets: Map[String, Long],
                sourceCol: String = "source", textCol: String = "text"): DataFrame = {
    require(budgets.nonEmpty, "mixBudget needs at least one source budget")
    require(budgets.values.forall(_ >= 0), "budgets must be non-negative")
    val slim = docs.select(col("doc_id"), col(sourceCol).as("source"),
        TextStats.tokenCount(col(textCol)).cast("long").as("n_tokens"),
        bucketHex(col("doc_id"), col(textCol)).as("bucket"))
      .localCheckpoint(eager = false)
    val budgetCol = budgets.foldLeft(lit(null).cast("long")) {
      case (acc, (s, b)) => when(col("source") === s, lit(b)).otherwise(acc)
    }
    // restrict BEFORE the rate: least() ignores nulls, so an un-budgeted
    // source's null budget would silently read as keep-all otherwise
    val thr = slim.groupBy("source").agg(sum(col("n_tokens")).as("t"))
      .filter(col("source").isin(budgets.keys.toSeq: _*))
      .select(col("source"), floor(lit(65536.0) *
        least(lit(1.0), budgetCol.cast("double") / col("t").cast("double")))
        .cast("long").as("rate_fp"))
    slim.join(broadcast(thr), Seq("source"))
      .filter(col("bucket") < fpToHexThreshold(col("rate_fp")))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("rate_fp"))
  }

  /** DuckDB oracle for [[temperatureSample]] at alpha = 0.5 over
    * `documents`: identical counts, correctly-rounded sqrt, exact 2^16
    * scale, and the same md5-threshold keep predicate. */
  def temperatureOracleSql: String =
    """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
          m AS (SELECT min(n) AS n_min FROM c),
          thr AS (SELECT c.lang,
                 CAST(floor(65536.0 * sqrt(CAST(m.n_min AS DOUBLE) / CAST(c.n AS DOUBLE))) AS BIGINT) AS rate_fp
                 FROM c, m),
          b AS (SELECT d.doc_id, d.lang, t.rate_fp,
                 substring(md5(CAST(d.doc_id AS VARCHAR) || ':' || d.text), 1, 4) AS bucket
                 FROM documents d JOIN thr t ON t.lang = d.lang)
       SELECT doc_id, lang, rate_fp FROM b
       WHERE bucket < (CASE WHEN rate_fp >= 65536 THEN 'g' ELSE printf('%04x', rate_fp) END)"""

  /** DuckDB oracle for [[mixBudget]] over `documents`: the q27 token count,
    * exact Long source totals, the same fixed-point min(1, B/T) threshold
    * and md5 keep predicate, budgets inlined from the same map. */
  def mixBudgetOracleSql(budgets: Map[String, Long]): String = {
    val cases = budgets.toSeq.sortBy(_._1)
      .map { case (s, b) => s"WHEN '$s' THEN $b" }.mkString(" ")
    val inList = budgets.keys.toSeq.sorted.map(s => s"'$s'").mkString(", ")
    s"""WITH s AS (SELECT doc_id, source,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
             substring(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 4) AS bucket
             FROM documents),
          tot AS (SELECT source, sum(n_tokens) AS t FROM s GROUP BY source),
          thr AS (SELECT source, CAST(floor(65536.0 * least(1.0,
                 CAST((CASE source $cases END) AS DOUBLE) / CAST(t AS DOUBLE))) AS BIGINT) AS rate_fp
                 FROM tot WHERE source IN ($inList))
       SELECT s.doc_id, s.source, s.n_tokens, th.rate_fp
       FROM s JOIN thr th ON th.source = s.source
       WHERE s.bucket < (CASE WHEN th.rate_fp >= 65536 THEN 'g' ELSE printf('%04x', th.rate_fp) END)"""
  }

  // ------------------------------------------------- weighted top-k sample
  /** Efraimidis–Spirakis weighted sampling WITHOUT replacement as a top-k:
    * each row draws u ∈ (0,1] from md5(id) and ranks by key = u^(1/w) —
    * equivalently ln(u)/w, larger is better — so P(pick) is proportional to
    * weight w, exactly (the classic A-Res scheme, Efraimidis & Spirakis
    * 2006). The quality-weighted corpus sampler: "take k docs, favoring
    * high quality-score ones, deterministically and reproducibly".
    *
    * Determinism: u = (hex60(md5(id)) + 1) / 2^60 — the long→double
    * conversion is correctly rounded identically in both engines and the
    * division by a power of two is EXACT (pure exponent shift); the key is
    * then the single-ln fixed-point discipline (one libm ln, one IEEE
    * division by the exact weight, one ×10^9 floor) with id tie-breaks, so
    * selection is bit-stable across engines and parallelism.
    *
    * Scale: one scan projecting (id, w, key_fp) slim rows into a bounded
    * TakeOrdered heap — never a global sort, never a shuffle of the corpus.
    */
  def weightedTopK(docs: DataFrame, k: Int, idCol: String = "doc_id",
                   wCol: String = "w"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long").cast("double") + 1.0) / math.pow(2.0, 60)
    docs
      .filter(col(wCol) > 0)
      .select(col(idCol), col(wCol).cast("long").as("w"),
        floor(log(u) / col(wCol).cast("double") * 1e9).cast("long").as("key_fp"))
      .orderBy(col("key_fp").desc, col(idCol))
      .limit(k)
      .withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("key_fp").desc, col(idCol))).cast("long"))
  }

  /** DuckDB oracle for [[weightedTopK]]: identical draw, key, and order. */
  def weightedTopKOracleSql(k: Int, docsSql: String): String =
    s"""WITH d AS ($docsSql),
          keyed AS (SELECT id AS doc_id, CAST(w AS BIGINT) AS w,
                    CAST(floor(ln((CAST(CAST('0x' ||
                        substring(md5(CAST(id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
                        + 1.0) / ${math.pow(2.0, 60).toLong}.0)
                      / CAST(w AS DOUBLE) * 1e9) AS BIGINT) AS key_fp
                    FROM d WHERE w > 0)
       SELECT doc_id, w, key_fp,
              CAST(row_number() OVER (ORDER BY key_fp DESC, doc_id) AS BIGINT) AS rnk
       FROM keyed ORDER BY key_fp DESC, doc_id LIMIT $k"""
}
