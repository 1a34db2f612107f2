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
  *  - SimHash: 64-bit signature per doc, Hamming-≤k pairs via the pigeonhole
  *    band join (k+1 chunks, one must match exactly)
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
    * not candidates). */
  def jaccardPairs(docs: DataFrame, threshold: Double = 0.8, n: Int = 3,
                   maxDf: Int = 50, textCol: String = "text"): DataFrame = {
    // group-by-shingle → emit pairs: ONE pass over the posting list (a
    // self-join would scan/explode the corpus twice — no exchange reuse
    // across a broadcast boundary), no window sort, per-shingle pair count
    // bounded by the stop-shingle cap (≤ maxDf·(maxDf−1)/2). The posting key
    // is the 64-bit shingle HASH, not the string — same distinct counts
    // (collisions ~n²/2⁶⁴), a fraction of the exchange bytes.
    //
    // The pair stream is the plan's dominant term (Σ C(df,2) rows — 5.3M at
    // sf0.1 for 6k final pairs), so pair rows carry ONLY (a, b): the
    // per-doc set sizes needed for the jaccard denominator broadcast-join
    // back AFTER the pair aggregation (docs-sized slim table vs +2 longs on
    // every pair row — guide §2.3, shuffle keys not payloads).
    //
    // A full AllPairs/SSJoin prefix-filter variant (candidates from the
    // df-ascending (1−t)-prefix of each doc's shared-shingle list + exact
    // set verification) was implemented and MEASURED SLOWER here (q22
    // 2.36 s → 3.61 s, q28 2.93 → 3.99 s at sf0.1): its extra doc-keyed
    // shuffle, candidate dedupe and array-payload verify joins cost more
    // than the 5.3M→~0.3M bare-long pair-row reduction saves. It becomes
    // the right trade only when Σ C(df,2) outgrows the corpus by orders of
    // magnitude (boilerplate-heavy shingle dfs near the cap) — revisit
    // with measurements if maxDf-sized postings ever dominate; see
    // OPTIMIZATION_r06.md ("tried and reverted").
    // Inputs.spread: the shingle kernel is the heavy scan-side pass — on
    // unsplittable (single-row-group) input it would run on ONE task
    val withSh = Inputs.spread(docs)
      .select(col("doc_id"), shingleHashes(col(textCol), n).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val posting = withSh.select(col("doc_id"), explode(col("sh")).as("shingle"))
    // n_sh = |distinct shingle set| (the pre-cap posting count per doc)
    val sizes = withSh.select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"))
    val byShingle = posting.groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")).between(2, maxDf))
    explodeOrderedPairs(byShingle, "ds")
      .groupBy("a", "b")
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("doc_id").as("a"), col("n_sh").as("na"))), Seq("a"))
      .join(broadcast(sizes.select(col("doc_id").as("b"), col("n_sh").as("nb"))), Seq("b"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** All ordered pairs (a < b by array position) of each row's sorted
    * `listCol` array, as two bare columns — expanded with
    * posexplode + slice + explode, which run in GenerateExec/codegen,
    * instead of the nested HOF lambdas of [[pairCombos]] (interpreted eval
    * — measured ~2× slower on the multi-million-row pair streams of the
    * jaccard/containment miners). */
  private def explodeOrderedPairs(grouped: DataFrame, listCol: String): DataFrame =
    grouped
      .select(posexplode(col(listCol)).as(Seq("i", "a")), col(listCol))
      .select(col("a"),
        explode(slice(col(listCol), col("i") + lit(2), lit(1000000))).as("b"))

  /** Containment near-dup pairs — the asymmetric score Jaccard structurally
    * misses: a short document quoted verbatim inside a long one shares ALL
    * its shingles (containment = inter/min(na,nb) = 1.0) yet scores jaccard
    * ≈ na/nb ≈ 0. This is the quote/excerpt/boilerplate-inclusion detector
    * of the dedup family. Identical group-then-pair posting plan as
    * [[jaccardPairs]] (hashed postings, maxDf stop-shingle cap, one pass) —
    * only the final ratio differs, so the 100 TB story is the same. */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.9, n: Int = 3,
                       maxDf: Int = 50, textCol: String = "text"): DataFrame = {
    // identical slim-pair shape as [[jaccardPairs]] — bare (a, b) pair rows,
    // sizes broadcast-joined after the aggregation, one persisted kernel pass
    val withSh = Inputs.spread(docs)
      .select(col("doc_id"), shingleHashes(col(textCol), n).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val posting = withSh.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val sizes = withSh.select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"))
    val byShingle = posting.groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")).between(2, maxDf))
    explodeOrderedPairs(byShingle, "ds")
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
    // cand/candSh are each referenced 2-3 times below; WITHOUT persist every
    // reference re-inlines (and re-executes) the full banding pipeline —
    // plan review showed 44 parquet scans and zero ReusedExchange. Both are
    // small by construction (candidate pairs / candidate docs' shingles), so
    // explicit persistence is the scale-correct call; Spark's LRU evicts.
    val cand = explodeOrderedPairs(
        banded.groupBy(col("band"), col("bucket"))
          .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
          .filter(size(col("ds")).between(2, maxBucket)), "ds")
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ids = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // shingle only the candidate docs: restrict BEFORE the (costly) shingle
    // projection so non-candidate text never enters the verify joins
    val candSh = docs.join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingleHashes(col(textCol), n).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
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
    * (A≈B≈C≈… template families) don't stall it. doc_ids travel as
    * fixed-width strings so the component minimum is the numeric minimum. */
  def dupClusters(pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    def key(c: Column) = lpad(c.cast("string"), 20, "0")
    // materialize the (usually expensive) pair-mining plan ONCE: edges and
    // nodes below reference it 4× between them, and Spark has no common-
    // subtree reuse across union branches
    val edges = pairs.select(key(col(aCol)).as("node_a"), key(col(bCol)).as("node_b"))
      .localCheckpoint()
    // small-graph early-out, one step beyond ConnectedComponents' own:
    // every CC node here IS an edge endpoint (nodes derive from the pair
    // list), so the collected union-find labels are ALREADY the complete
    // answer — emit the final frame as a LocalRelation instead of paying
    // the generic sym-distinct / node-distinct / label-join round-trips
    val eCnt = edges.count()
    if (eCnt > 0 && eCnt <= graft.kg.LocalIter.maxEdges(edges.sparkSession)) {
      import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
      val ord = graft.kg.LocalIter.orderingFor(org.apache.spark.sql.types.StringType).get
      val lbl = graft.kg.LocalIter.ccLabels(
        edges.collect().map(r => (r.get(0), r.get(1))), ord)
      // 20-digit zero-padded keys: byte order ≡ numeric order, so the
      // component-minimum label decodes to the minimum doc_id
      val rows = lbl.toSeq.map { case (n, c) =>
        val docId = n.asInstanceOf[String].toLong
        val cluster = c.asInstanceOf[String].toLong
        org.apache.spark.sql.Row(docId, cluster, docId == cluster)
      }
      return graft.kg.LocalIter.localDf(edges.sparkSession,
        StructType(Seq(StructField("doc_id", LongType), StructField("cluster_id", LongType),
          StructField("kept", BooleanType))), rows)
    }
    val nodes = edges.select(col("node_a").as("node"))
      .union(edges.select(col("node_b").as("node"))).distinct()
    graft.kg.ConnectedComponents.run(nodes, edges).select(
      col("node").cast("long").as("doc_id"),
      // canon_id is "C:" + the zero-padded component minimum
      substring(col("canon_id"), 3, 20).cast("long").as("cluster_id"))
      .withColumn("kept", col("doc_id") === col("cluster_id"))
  }

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
  /** 64-bit SimHash over word-unigram hashes, as an array<int> of bits (MSB
    * first): per bit, sign of the sum of ±1 votes. Native kernel
    * ([[graft.plans.SimhashBitsExpression]]). */
  def simhashBits(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.SimhashBitsExpression(
        org.apache.spark.sql.GraftColumnBridge.expression(text)))

  /** Near-dup pairs with Hamming(simhash) ≤ maxDist via pigeonhole banding:
    * split the 64-bit signature into maxDist+1 chunks; any pair within
    * distance must agree exactly on ≥1 chunk.
    *
    * Docs are first collapsed to DISTINCT signatures (duplicate-heavy corpora
    * otherwise blow the band join up quadratically — docs sharing a signature
    * pair at distance 0 by construction and never enter the join). */
  def simhashDupPairs(docs: DataFrame, maxDist: Int = 3, textCol: String = "text"): DataFrame = {
    val chunks = maxDist + 1
    val width = 64 / chunks
    val withSig = docs.select(col("doc_id"), simhashBits(col(textCol)).as("sig"))
      .withColumn("sigstr", concat_ws("", col("sig")))
    // referenced three times (within-pairs + both sides of the band join) —
    // persist so the SimHash bit computation runs once, not per reference
    val sigGroups = withSig.groupBy(col("sigstr")).agg(
      first(col("sig")).as("sig"), sort_array(collect_list(col("doc_id"))).as("docs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // within-signature pairs: distance 0
    val within = explodeOrderedPairs(sigGroups.filter(size(col("docs")) > 1), "docs")
      .select(col("a").as("doc_a"), col("b").as("doc_b"), lit(0L).as("dist"))

    // cross-signature pairs via pigeonhole bands over distinct signatures.
    // The chunk key packs the band's `width` bits into ONE long (injective —
    // exactly the equality semantics of the old bit-string concat) in a
    // codegen projection instead of interpreted string-building lambdas.
    val banded = sigGroups.select(col("sigstr"), col("sig"), col("docs"),
        explode(sequence(lit(0), lit(chunks - 1))).as("band"))
      .withColumn("chunk",
        (1 to width).map(j =>
          element_at(col("sig"), col("band") * width + j).cast("long") * lit(1L << (width - j)))
          .reduce(_ + _))
    val a = banded.select(col("band"), col("chunk"), col("sigstr").as("stra"),
      col("sig").as("siga"), col("docs").as("docsa"))
    val b = banded.select(col("band"), col("chunk"), col("sigstr").as("strb"),
      col("sig").as("sigb"), col("docs").as("docsb"))
    // distance filter BEFORE the pair dedup: recomputing the (cheap) Hamming
    // distance once per shared band beats shuffling every candidate row with
    // its 64-element signatures and doc lists through dropDuplicates —
    // benchmarked 13× on signature-collision-heavy corpora
    val cross = a.join(b, Seq("band", "chunk"))
      .filter(col("stra") < col("strb"))
      .withColumn("dist", aggregate(zip_with(col("siga"), col("sigb"),
        (x, y) => abs(x - y)), lit(0), (acc, v) => acc + v))
      .filter(col("dist") <= maxDist)
      .dropDuplicates("stra", "strb")
      .select(explode(crossCombos(col("docsa"), col("docsb"))).as("p"), col("dist"))
      .select(least(col("p._1"), col("p._2")).as("doc_a"),
        greatest(col("p._1"), col("p._2")).as("doc_b"), col("dist").cast("long").as("dist"))

    within.union(cross)
  }

  /** Cross product of two (tiny) arrays. */
  private def crossCombos(xs: Column, ys: Column): Column =
    flatten(transform(xs, x => transform(ys, y => struct(x.as("_1"), y.as("_2")))))
}
