package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash. Everything is expressed with built-in (codegen'd)
  * column functions and standard shuffles — no UDFs, no driver loops — so the
  * same plan runs at 10^12 docs.
  *
  * Scale notes per operator:
  *  - exact: one hash-aggregate on a 16-byte key (map-side partial combine)
  *  - ngram-Jaccard: inverted-index join on shingles, with a stop-shingle cap
  *    (shingles occurring in > maxDf docs are dropped BEFORE the join — the
  *    standard guard against quadratic blowup on boilerplate)
  *  - MinHash LSH: candidates from banded signatures — cost is O(docs ×
  *    bands), never O(docs²); candidates verified with exact Jaccard
  *  - SimHash: one 64-bit signature (a bigint) per doc, Hamming-≤k pairs
  *    via pigeonhole banding (k+1 chunks, one must match exactly)
  *
  * Every candidate generator — the shingle postings of the Jaccard and
  * containment miners, the MinHash band buckets, the SimHash band chunks and
  * the KG canonicalization blocks — runs through ONE blocking core,
  * [[blockPairs]]: group by the block key, sort the block's entries, keep
  * blocks of 2..cap entries, expand the ordered pairs. Frames a miner reads
  * more than once are materialized with `localCheckpoint()`, never
  * `persist`, so no call leaves a cached relation behind.
  */
object Dedup {

  // --------------------------------------------------------------- exact
  /** Exact duplicate groups by normalized-text fingerprint. */
  def exactGroups(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(TextStats.fingerprint(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc_id"))
      .filter(col("n_docs") > 1)

  /** Keep-first exact dedup: survivors only. */
  def exactDedup(docs: DataFrame, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(TextStats.fingerprint(col(textCol))).orderBy(col("doc_id"))
    docs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Incremental-ingest dedup — the steady-state shape of corpus dedup: a
    * NEW batch arrives against an already-deduped corpus whose fingerprint
    * set is materialized (`existingFp`, one `fingerprint` column). Keeps
    * batch docs that are (a) absent from the corpus (left_anti on the
    * 16-byte fingerprint — a key-only shuffle join; bucket both sides by
    * fingerprint in the lake and it becomes a co-located zero-exchange
    * join) and (b) the first occurrence within the batch itself. The
    * corpus text is never read — only its fingerprint column — which is
    * what makes daily ingestion O(batch), not O(corpus). */
  def incrementalDedup(batch: DataFrame, existingFp: DataFrame,
                       textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withFp = batch.withColumn("fingerprint", TextStats.fingerprint(col(textCol)))
    val novel = withFp.join(existingFp.select(col("fingerprint")), Seq("fingerprint"), "left_anti")
    val w = Window.partitionBy(col("fingerprint")).orderBy(col("doc_id"))
    novel.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("fingerprint"))
  }

  // --------------------------------------------------- token-ngram shingles
  /** Distinct word-n-gram shingles of the lowercased text, as an array col.
    * Backed by the [[graft.plans.WordShinglesExpression]] native kernel
    * (bit-identical to the previous HOF formulation, ~an order of magnitude
    * less per-row work — see PLANS.md round 2). */
  def shingles(text: Column, n: Int = 3): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.WordShinglesExpression(
        org.apache.spark.sql.GraftColumnBridge.expression(text), n))

  /** xxhash64 of each distinct shingle — the slim posting key for inverted-
    * index joins (8 bytes/row instead of the shingle string). */
  def shingleHashes(text: Column, n: Int = 3): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.WordShingleHashesExpression(
        org.apache.spark.sql.GraftColumnBridge.expression(text), n))

  // ------------------------------------------------------- n-gram Jaccard
  /** Near-duplicate pairs with token-n-gram Jaccard ≥ `threshold`, via an
    * inverted-index join. `maxDf` drops boilerplate shingles before the join
    * (documented coverage cap — pairs sharing ONLY ultra-common shingles are
    * not candidates).
    *
    * Each posting entry carries its doc's distinct-shingle count `n`, so a
    * pair row holds both set sizes and the pair aggregation yields
    * (a, b, na, nb, inter) with no size-table join — nothing corpus-sized is
    * broadcast, and the shingle sets are read once (no persist).
    *
    * Length filter (exact, applied BEFORE the pair aggregation): a pair
    * survives only if min(na, nb) / max(na, nb) ≥ `threshold`, in double as
    * the final filter computes. It drops no output pair: inter ≤ min(na, nb)
    * and na + nb − inter ≥ max(na, nb), and IEEE division is correctly
    * rounded, hence monotone — so jaccard = inter / (na + nb − inter) ≤
    * fl(min / max), and every dropped pair would also fail jaccard ≥
    * `threshold`, at every threshold and maxDf. At sf0.1 (q22: 10k docs of
    * 8–99 shingles) it keeps 2.15M of the 5.34M pair rows; the pair
    * aggregation shuffles 1.80M records instead of 4.92M.
    *
    * Measured and rejected: (1) a hash-order positional bound,
    * min(i, j) + 1 + min(na − i − 1, nb − j − 1) — positions in hash order
    * are correlated across documents, so it pruned almost nothing (q22:
    * 1.56M vs 1.80M shuffled records, 1.95 vs 1.96 s); (2) slim (a, b) group
    * keys plus a broadcast-join of the per-doc sizes after the aggregation —
    * q22 8 % faster than carrying sizes, but it broadcasts a corpus-sized
    * table. A full AllPairs/SSJoin prefix filter was also measured slower
    * (see [[orderedPostingPairs]]). */
  def jaccardPairs(docs: DataFrame, threshold: Double = 0.8, n: Int = 3,
                   maxDf: Int = 50, textCol: String = "text"): DataFrame = {
    val entry = struct(col("doc_id").as("id"), size(col("sh")).cast("long").as("n"))
    orderedPostingPairs(shingleSets(docs, n, textCol), entry, maxDf)
      .filter(least(col("a.n"), col("b.n")).cast("double") /
        greatest(col("a.n"), col("b.n")).cast("double") >= threshold)
      .groupBy(col("a.id").as("a"), col("b.id").as("b"), col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** (doc_id, sh): each doc's distinct shingle-hash set — the input of both
    * posting-list miners. Inputs.spread: the shingle kernel is the heavy
    * scan-side pass — on unsplittable (single-row-group) input it would run
    * on ONE task. */
  private def shingleSets(docs: DataFrame, n: Int, textCol: String): DataFrame =
    Inputs.spread(docs).select(col("doc_id"), shingleHashes(col(textCol), n).as("sh"))

  /** The posting core of [[jaccardPairs]] and [[containmentPairs]]: every
    * pair (a, b) of `entry` values (computed per row of `sets`) that share a
    * shingle hash whose posting list holds 2..`maxDf` docs — one row per
    * shared shingle, a < b in `entry` order (entries lead with the doc id).
    *
    * Group-by-shingle → emit pairs: ONE pass over the posting list (a
    * self-join would scan/explode the corpus twice — no exchange reuse
    * across a broadcast boundary), no window sort, per-shingle pair count
    * bounded by the stop-shingle cap (≤ maxDf·(maxDf−1)/2). The posting key
    * is the 64-bit shingle HASH, not the string — same distinct counts
    * (collisions ~n²/2⁶⁴), a fraction of the exchange bytes. The pair stream
    * is the plan's dominant term (Σ C(df,2) rows — 5.3M at sf0.1).
    *
    * A full AllPairs/SSJoin prefix-filter variant (candidates from the
    * df-ascending (1−t)-prefix of each doc's shared-shingle list + exact
    * set verification) was implemented and MEASURED SLOWER here (q22
    * 2.36 s → 3.61 s, q28 2.93 → 3.99 s at sf0.1): its extra doc-keyed
    * shuffle, candidate dedupe and array-payload verify joins cost more
    * than the 5.3M→~0.3M bare-long pair-row reduction saves. It becomes
    * the right trade only when Σ C(df,2) outgrows the corpus by orders of
    * magnitude (boilerplate-heavy shingle dfs near the cap) — revisit
    * with measurements if maxDf-sized postings ever dominate; see
    * OPTIMIZATION_r06.md ("tried and reverted").
    *
    * explode_outer + a null filter on the generated shingle, not explode:
    * Catalyst infers `size(sh) > 0` from a plain explode and pushes it
    * through the projection and [[Inputs.spread]] into the scan, so the
    * shingle kernel ran again per doc on the unspread input (q22 at sf0.1:
    * 2.02 → 1.71 s median, 10 alternating pairs, same rows). */
  private def orderedPostingPairs(sets: DataFrame, entry: Column, maxDf: Int): DataFrame =
    blockPairs(
      sets.select(entry.as("e"), explode_outer(col("sh")).as("shingle"))
        .filter(col("shingle").isNotNull),
      Seq(col("shingle")), col("e"), maxDf)

  /** The blocking core of every candidate generator: group `rows` by the
    * block `keys`, sort each block's `entry` values, drop blocks of fewer
    * than 2 or more than `cap` entries, and emit every ordered pair (a < b
    * in `entry` order) of a kept block as two bare columns `a`, `b` — one
    * row per (pair, shared block). The cap bounds a block's pair fan-out at
    * cap·(cap−1)/2; a block over it is a boilerplate / stop-key collision. */
  private[graft] def blockPairs(rows: DataFrame, keys: Seq[Column], entry: Column,
                                cap: Int): DataFrame =
    explodeOrderedPairs(
      rows.groupBy(keys: _*)
        .agg(sort_array(collect_list(entry)).as("entries"))
        .filter(size(col("entries")).between(2, cap)),
      "entries")

  /** All ordered pairs (a < b by array position) of each row's sorted
    * `listCol` array, as two bare columns `a`, `b` after the pass-through
    * `keep` columns — expanded with posexplode + slice + explode, which run
    * in GenerateExec/codegen, instead of nested `transform` lambdas
    * (interpreted eval — measured ~2× slower on the multi-million-row pair
    * streams of the jaccard/containment miners). The one pair-expansion
    * helper: [[blockPairs]], the SimHash same-signature pairs and the KG
    * cooccurrence stage all use it. */
  private[graft] def explodeOrderedPairs(grouped: DataFrame, listCol: String,
                                         keep: String*): DataFrame = {
    val kept = keep.map(col)
    grouped
      .select(kept ++ Seq(posexplode(col(listCol)).as(Seq("i", "a")), col(listCol)): _*)
      .select(kept ++ Seq(col("a"),
        explode(slice(col(listCol), col("i") + lit(2), lit(1000000))).as("b")): _*)
  }

  /** Containment near-dup pairs — the asymmetric score Jaccard structurally
    * misses: a short document quoted verbatim inside a long one shares ALL
    * its shingles (containment = inter/min(na,nb) = 1.0) yet scores jaccard
    * ≈ na/nb ≈ 0. This is the quote/excerpt/boilerplate-inclusion detector
    * of the dedup family. The same hashed, maxDf-capped, one-pass posting
    * core as [[jaccardPairs]] ([[orderedPostingPairs]]).
    *
    * Containment has no size bound to filter on, so its pair rows carry
    * ONLY (a, b) and the per-doc set sizes broadcast-join back AFTER the
    * pair aggregation. Carrying the sizes on the posting entries (the
    * jaccard plan) measured slower here: q96 1.80 → 2.10 s at sf0.1 (+16 %,
    * 16 alternating pairs). The broadcast table is one row per document —
    * the open scale item of this miner. */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.9, n: Int = 3,
                       maxDf: Int = 50, textCol: String = "text"): DataFrame = {
    // read twice (postings + sizes): materialize so the shingle kernel runs once
    val sets = shingleSets(docs, n, textCol).localCheckpoint()
    // n_sh = |distinct shingle set| (the pre-cap posting count per doc)
    val sizes = sets.select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"))
    orderedPostingPairs(sets, col("doc_id"), maxDf)
      .groupBy("a", "b")
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("doc_id").as("a"), col("n_sh").as("na"))), Seq("a"))
      .join(broadcast(sizes.select(col("doc_id").as("b"), col("n_sh").as("nb"))), Seq("b"))
      .withColumn("containment", col("inter").cast("double") /
        least(col("na"), col("nb")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("inter"),
        round(col("containment"), 4).as("containment"))
  }

  // ------------------------------------------------------------ MinHash LSH
  /** k minhash values per doc: permutation i = xxhash64 of (shingle-hash, i)
    * (ANSI mode forbids the classic wrapping affine transform; per-seed
    * hashing is equivalent and overflow-free). Native kernel — one pass over
    * the shingle set with a k-slot min array
    * ([[graft.plans.MinhashSignatureExpression]]). */
  def minhashSignature(text: Column, k: Int = 32, n: Int = 3): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.MinhashSignatureExpression(
        org.apache.spark.sql.GraftColumnBridge.expression(text), k, n))

  /** LSH candidate pairs from banded minhash signatures, verified with exact
    * Jaccard ≥ threshold. bands × rowsPerBand must equal k.
    *
    * Shuffle discipline (the 100 TB concern): the band shuffle carries ONLY
    * slim (doc_id, band, bucket) rows — 3 longs/doc/band — never the shingle
    * sets (which are ~document-sized; shuffling them ×bands was the dominant
    * cost of the previous formulation). Candidate pairs come out of the
    * bucket groupBy as bare id pairs; the exact-Jaccard verification then
    * joins shingles back for CANDIDATE docs only (a semi-join restriction —
    * AQE turns it into a broadcast when the candidate id set is small, the
    * common case; worst case it shuffles the corpus ONCE by doc_id instead
    * of ×bands). Buckets larger than `maxBucket` are skipped (standard LSH
    * hot-bucket cap — such buckets are boilerplate collisions, and the cap
    * bounds per-task pair fan-out). */
  def minhashDupPairs(docs: DataFrame, threshold: Double = 0.8, k: Int = 32,
                      bands: Int = 8, n: Int = 3, textCol: String = "text",
                      maxBucket: Int = 200): DataFrame = {
    require(k % bands == 0)
    val r = k / bands
    // band buckets in pure codegen: explode the band index, hash the band's
    // r signature slots directly (variadic xxhash64 over element_at — no
    // per-band string building in interpreted lambdas). Bucket VALUES
    // differ from the old concat-string hash, but bucket identity semantics
    // don't: equal band slots ⇒ equal bucket either way, and a 64-bit hash
    // collision can only ADD a candidate pair (verified exactly afterward).
    val banded = docs
      .select(col("doc_id"), minhashSignature(col(textCol), k, n).as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("doc_id"), col("band"),
        xxhash64((1 to r).map(j => element_at(col("sig"), col("band") * r + j)): _*).as("bucket"))
    // cand/candSh are each referenced 2-3 times below; unmaterialized, every
    // reference re-inlines (and re-executes) the full banding pipeline —
    // plan review showed 44 parquet scans and zero ReusedExchange. Both are
    // small by construction (candidate pairs / candidate docs' shingles), so
    // they are materialized once (localCheckpoint: no cache entry outlives
    // the call).
    val cand = blockPairs(banded, Seq(col("band"), col("bucket")), col("doc_id"), maxBucket)
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .localCheckpoint()
    val ids = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // shingle only the candidate docs: restrict BEFORE the (costly) shingle
    // projection so non-candidate text never enters the verify joins
    val candSh = docs.join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingleHashes(col(textCol), n).as("sh"))
      .localCheckpoint()
    cand
      .join(candSh.select(col("doc_id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
      .join(candSh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
      .withColumn("jaccard",
        round(size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb"))).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  // ----------------------------------------------- cluster canonicalization
  /** Fuzzy-dedup keep-one: near-dup PAIRS (from any generator above) →
    * connected components → one kept representative per duplicate cluster
    * (the minimum doc_id — deterministic at any parallelism). Returns
    * (doc_id, cluster_id, kept) for every doc that appears in a pair; the
    * corpus-level drop step is then a left-anti join against the
    * `kept = false` rows.
    *
    * Scale: the CC input is only the docs that appear in a dup pair — a
    * small fraction of the corpus (pair mining already bounded it) — and
    * [[graft.kg.ConnectedComponents]] runs label propagation with the
    * O(log n) large-star/small-star fallback, so chain-shaped dup clusters
    * (A≈B≈C≈… template families) don't stall it. doc_ids travel as longs,
    * so the component minimum is the numeric minimum doc_id. */
  def dupClusters(pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame =
    graft.kg.ConnectedComponents.labels(
        pairs.select(col(aCol).cast("long").as("node_a"), col(bCol).cast("long").as("node_b")))
      .select(col("node").as("doc_id"), col("comp").as("cluster_id"))
      .withColumn("kept", col("doc_id") === col("cluster_id"))

  // --------------------------------------------------------- span-level dedup
  /** C4-style span-level dedup stats: every doc is cut into consecutive
    * `span`-token chunks; a chunk is a duplicate unless it is the corpus-wide
    * FIRST occurrence (minimum (doc_id, span_idx), deterministic at any
    * parallelism). Returns per-doc (doc_id, n_spans, n_dup_spans, dup_ratio)
    * — the filter a training-data pipeline applies to drop boilerplate-heavy
    * documents.
    *
    * Scale: the global dedup key is the 8-byte xxhash64 of the span, not the
    * span text, so the corpus-wide exchange carries (hash, doc_id, span_idx)
    * — ~24 bytes per span regardless of span length. One shuffle for the
    * first-occurrence window, one map-side-combined aggregate back to docs. */
  def spanDedup(docs: DataFrame, span: Int = 10, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialize the token array BEFORE the generator: referenced as a bare
    // attribute, the split runs once per doc — inlined, Spark re-evaluates
    // the full tokenize inside the per-span lambda (once per SPAN)
    val withToks = docs.select(col("doc_id"),
      split(lower(trim(col(textCol))), "[ \\t\\n\\f\\r]+").as("toks"))
    val nSpans = greatest(lit(1), ceil(size(col("toks")).cast("double") / span).cast("int"))
    // the span text exists only inside this projection (the exchange still
    // carries hashes, never text); TWO independent 64-bit hashes key the
    // keep-first window — the lineDedup collision discipline without
    // shuffling the text: a silent dup-stat inflation now needs a
    // simultaneous 128-bit collision
    val spans = withToks
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), nSpans - 1)).as("span_idx"))
      .select(col("doc_id"), col("span_idx"),
        array_join(slice(col("toks"), col("span_idx") * span + 1, lit(span)), " ").as("sp"))
      .select(col("doc_id"), col("span_idx"),
        xxhash64(col("sp")).as("span_hash"), xxhash64(lit(1L), col("sp")).as("span_hash2"))
    val w = Window.partitionBy(col("span_hash"), col("span_hash2"))
      .orderBy(col("doc_id"), col("span_idx"))
    spans.withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_ratio",
        round(col("n_dup_spans").cast("double") / col("n_spans").cast("double"), 4))
  }

  // ----------------------------------------------------------- line dedup
  /** C4-style line-level dedup WITH text reconstruction: split each document
    * on newlines, keep only the corpus-wide FIRST occurrence of every line
    * (minimum (id, line_idx) — deterministic at any parallelism), and emit
    * per-doc (id, n_lines, n_dup_lines, dup_ratio, clean_fp) where clean_fp
    * fingerprints the document rebuilt from its kept lines in original
    * order. This is the C4 "discard repeated lines across the corpus" pass
    * (boilerplate nav/footer/legal lines), distinct from [[spanDedup]] which
    * only SCORES token-window duplication.
    *
    * Scale: the keep-first decision groups on the 8-byte xxhash64 of the
    * line, but unlike spanDedup the shuffled row must carry the line text
    * once — reconstruction needs it back. One wide exchange over lines
    * (≈ line bytes + 20), then a map-side-combined aggregate back to docs.
    * A doc whose every line is a duplicate reconstructs as the empty string
    * (clean_fp = md5("")). */
  private def lineKeepFirst(docs: DataFrame, idCol: String,
                            textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = docs.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("line_idx", "line")))
    // grouping key is (line hash, line): the 8-byte hash drives the shuffle
    // partitioning while the line text — already shuffled for reconstruction,
    // so adding it to the key costs nothing — removes the 64-bit-collision
    // failure mode (at C4 scale, billions of distinct lines, a silent
    // birthday collision would delete a unique line)
    val w = Window.partitionBy(xxhash64(col("line")), col("line"))
      .orderBy(col(idCol), col("line_idx"))
    lines.withColumn("rn", row_number().over(w))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup_lines"),
        // collect_list skips the nulls (dropped dup lines); struct sort is
        // by line_idx first, so the rebuilt text is in original order at
        // any parallelism
        array_join(transform(
          sort_array(collect_list(when(col("rn") === 1,
            struct(col("line_idx"), col("line"))))),
          s => s.getField("line")), "\n").as("clean_text"))
  }

  def lineDedup(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    lineKeepFirst(docs, idCol, textCol)
      .withColumn("dup_ratio",
        round(col("n_dup_lines").cast("double") / col("n_lines").cast("double"), 4))
      .select(col(idCol), col("n_lines"), col("n_dup_lines"),
        col("dup_ratio"), md5(col("clean_text")).as("clean_fp"))

  /** The rewrite form of [[lineDedup]] for the curation funnel: per-doc
    * (id, clean_text, n_lines, n_dup_lines) with `clean_text` the document
    * rebuilt from its surviving lines — a doc whose every line was seen
    * earlier rebuilds as "" (the caller decides whether to drop it). */
  def lineDedupRewrite(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    lineKeepFirst(docs, idCol, textCol)
      .select(col(idCol), col("clean_text"), col("n_lines"), col("n_dup_lines"))

  // --------------------------------------------------------------- SimHash
  /** 64-bit SimHash over word-unigram hashes, as one bigint: bit 63 first,
    * per bit the sign of the sum of ±1 votes. Native kernel
    * ([[graft.plans.SimhashExpression]]). */
  def simhash(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.SimhashExpression(
        org.apache.spark.sql.GraftColumnBridge.expression(text)))

  /** Near-dup pairs (doc_a < doc_b) with Hamming(simhash) ≤ maxDist via
    * pigeonhole banding: cut the signature into maxDist+1 chunks of
    * 64 / (maxDist+1) bits (the low 64 mod (maxDist+1) bits fall in no
    * chunk); a pair within distance must agree exactly on ≥1 chunk.
    *
    * Docs are first collapsed to DISTINCT signatures (duplicate-heavy corpora
    * otherwise blow the band blocks up quadratically — docs sharing a
    * signature pair at distance 0 by construction). The distinct signatures
    * are blocked on (band, chunk) by [[blockPairs]] (no cap: a chunk shared
    * by many signatures is still a candidate set, not boilerplate), the
    * distance is `bit_count(xor)` of the two longs, and each surviving
    * signature pair expands to the cross product of its two doc lists. */
  def simhashDupPairs(docs: DataFrame, maxDist: Int = 3, textCol: String = "text"): DataFrame = {
    require(maxDist >= 0 && maxDist <= 63,
      s"simhashDupPairs: maxDist must be in 0..63 (a 64-bit signature), got $maxDist")
    val chunks = maxDist + 1
    val width = 64 / chunks
    val mask = if (width == 64) -1L else (1L << width) - 1
    // read twice (same-signature pairs + the band blocks): materialize so
    // the SimHash kernel and the signature grouping run once
    val sigGroups = docs.select(col("doc_id"), simhash(col(textCol)).as("sig"))
      .groupBy(col("sig"))
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
      .localCheckpoint()

    // same-signature pairs: distance 0
    val within = explodeOrderedPairs(sigGroups.filter(size(col("docs")) > 1), "docs")
      .select(col("a").as("doc_a"), col("b").as("doc_b"), lit(0L).as("dist"))

    // chunk b = signature bits [64 − (b+1)·width, 64 − b·width)
    val banded = sigGroups.select(col("sig"), col("docs"),
      posexplode(array((0 until chunks).map(b =>
        shiftrightunsigned(col("sig"), 64 - (b + 1) * width).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "chunk")))
    // distance filter BEFORE the pair dedup: recomputing the (cheap) Hamming
    // distance once per shared band beats shuffling every candidate row with
    // its doc lists through dropDuplicates
    val cross = blockPairs(banded, Seq(col("band"), col("chunk")),
        struct(col("sig"), col("docs")), Int.MaxValue)
      .select(col("a.sig").as("siga"), col("b.sig").as("sigb"),
        col("a.docs").as("docsa"), col("b.docs").as("docsb"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      .dropDuplicates("siga", "sigb")
      .select(explode(col("docsa")).as("x"), col("docsb"), col("dist"))
      .select(col("x"), explode(col("docsb")).as("y"), col("dist"))
      .select(least(col("x"), col("y")).as("doc_a"), greatest(col("x"), col("y")).as("doc_b"),
        col("dist"))

    within.union(cross)
  }
}
