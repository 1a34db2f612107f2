package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.crf.{CrfConfig, CrfModel}

case class SentenceRow(url: String, sent_id: Int, text: String)
case class MentionRow(url: String, sent_id: Int, start: Int, end: Int, value: String,
                      entity: String, confidence: Double, partition_id: Int)

/** The Spark-native KG-construction pipeline (north_rule): pages → sentences →
  * CRF mentions → alias links → canonicalization → triples → graph tables.
  *
  * Scale design (SURVEY §4):
  *  - model crosses to executors ONCE via broadcast; decode is a typed
  *    `mapPartitions` (no per-row closure state, no driver loop)
  *  - explicit `repartition(pmod(xxhash64(url), P))` before the heavy CRF
  *    stage: deterministic placement, no skew from source file layout
  *  - alias linking is a broadcast hash join (dictionary ≪ mentions)
  *  - triple dedup is a two-phase aggregation with url as the natural salt
  *    (hot (s,p,o) keys — e.g. popular entities on hot domains — spread
  *    across reducers by url first, then merge map-side)
  *  - similarity join for canonicalization blocks on a cheap key and is
  *    salt-safe: block sizes are capped and AQE skew-join splits stragglers
  *  - every stage checkpoints to parquet with a manifest written LAST;
  *    reruns skip completed stages (resume), partial outputs are overwritten
  */
object KgPipeline {

  // ---------------------------------------------------------------- sentences
  /** pages → one row per sentence. Filter non-English pages (input_hint: other
    * langs pass through untouched, i.e. never enter extraction). The page text
    * is NEWLINE-joined sentences; splitting on '\n' reproduces each sentence
    * byte-identically (the per-row invariant). */
  def sentences(pages: Dataset[Page]): Dataset[SentenceRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.filter($"lang" === "en")
      .flatMap(p => p.text.split('\n').iterator.zipWithIndex.map { case (s, i) => SentenceRow(p.url, i, s) })
  }

  // ----------------------------------------------------------------- mentions
  /** CRF mention extraction: broadcast model, explicit url-hash repartition,
    * batched per-partition decode, per-partition lineage column + counters.
    * `partitions = -1` skips the repartition — for inputs already evenly
    * hash-distributed (e.g. the deterministic generator), the shuffle buys
    * nothing and its disk IO is a scaling bottleneck. */
  /** Named-accumulator counter metrics (north_rule): registered on the Spark
    * UI and readable by the caller after an action. */
  case class StageCounters(sentences: org.apache.spark.util.LongAccumulator,
                           mentions: org.apache.spark.util.LongAccumulator)

  def mentions(sents: Dataset[SentenceRow], model: CrfModel, partitions: Int = 0,
               counters: Option[StageCounters] = None): Dataset[MentionRow] = {
    val spark = sents.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    val cs = counters.getOrElse(StageCounters(
      spark.sparkContext.longAccumulator("kg.sentences"),
      spark.sparkContext.longAccumulator("kg.mentions")))
    val sentCounter = cs.sentences
    val mentionCounter = cs.mentions
    val p = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism
    val distributed =
      if (partitions < 0) sents
      else sents.repartition(p, pmod(xxhash64($"url"), lit(p)))
    distributed
      .mapPartitions { iter =>
        // per-thread decoder reused across partitions (CrfDecoder.forModel):
        // the (slot, token) contribution cache (Zipfian hit rates) warms
        // once per executor core instead of once per partition
        val decoder = graft.crf.CrfDecoder.forModel(bc.value)
        val pid = org.apache.spark.TaskContext.getPartitionId()
        iter.flatMap { s =>
          sentCounter.add(1)
          decoder.process(s.text).map { sp =>
            mentionCounter.add(1)
            MentionRow(s.url, s.sent_id, sp.start, sp.end, sp.value, sp.entity, sp.confidence, pid)
          }
        }
      }
  }

  // -------------------------------------------------------------------- links
  /** Alias-dictionary entity linking: broadcast hash join on the lowercased
    * surface, kind must match, then rank-1 per mention by score.
    *
    * Rank-1 selection uses `max(struct(score, …))` instead of a row_number
    * window: a hash aggregate with map-side partial combine — no global sort
    * of the mention stream, which benchmarked as the pipeline's second-worst
    * stage. Ties on score break to the larger entity_id (struct ordering) —
    * deterministic across partitionings. (Window rank-k stays the tool for
    * k > 1; see SparkEntry q04.) */
  def links(mentions: Dataset[MentionRow], alias: DataFrame): DataFrame = {
    val scored = mentions
      .join(broadcast(alias), lower(mentions("value")) === alias("alias") &&
        substring(alias("entity_id"), 1, 3) === mentions("entity"), "inner")
      .withColumn("score", col("prior") * col("confidence"))
    scored
      // ONE exchange on (url, sent_id) serves this whole tail: hash
      // partitioning on a SUBSET of the grouping keys satisfies the agg's
      // clustered distribution, and the partitioning survives into the
      // downstream per-sentence grouping and the sentences join in
      // `triples` — 3 exchanges collapse to 1 (+ the sents side)
      .repartition(col("url"), col("sent_id"))
      .groupBy(col("url"), col("sent_id"), col("start"))
      .agg(max(struct(col("score"), col("entity_id"), col("end"), col("value"),
        col("entity"))).as("top"))
      .select(col("url"), col("sent_id"), col("start"), col("top.end").as("end"),
        col("top.value").as("value"), col("top.entity").as("entity"),
        col("top.entity_id").as("entity_id"), col("top.score").as("score"))
  }

  // ---------------------------------------------------------------- canonical
  /** Canonicalization: connected components over a blocked similarity join of
    * distinct mention surfaces, plus surface→linked-id edges, so surface
    * variants and their dictionary entities land in one component.
    *
    * Blocking key = lowercased first token; candidate pairs within a block are
    * kept when char-3-gram Jaccard ≥ 0.5. Distinct-surface cardinality is
    * gazetteer-sized (≪ corpus), the join is blocked, and the groupBy feeding
    * it is a salted two-phase count — safe at 10^12 docs because it only ever
    * sees DISTINCT surfaces. */
  def canonical(mentions: Dataset[MentionRow], links: DataFrame): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._

    // distinct surfaces, salted pre-aggregation (hot surfaces on hot domains).
    // surfaces is referenced THREE times below (block pairs, allNodes, the
    // final cc join) — without persist each reference re-inlines the whole
    // upstream pipeline INCLUDING the CRF decode when mentions isn't a
    // checkpointed parquet (the q53 driver path paid the decode ~5×; same
    // unpersisted-multi-reference class as the round-2 MinHash fix). The
    // persisted set is distinct (entity, surface) rows — gazetteer-sized,
    // ≪ corpus, safe to cache at any scale.
    val surfaces = mentions
      .withColumn("salt", pmod(xxhash64($"url"), lit(64)))
      .groupBy($"entity", lower($"value").as("surface"), $"salt").agg(count(lit(1)).as("c0"))
      .groupBy($"entity", $"surface").agg(sum($"c0").as("n_mentions"))
      .withColumn("node", concat($"entity", lit(":"), $"surface"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val withBlock = surfaces.withColumn("block", concat($"entity", lit(":"), split($"surface", " ").getItem(0)))

    // group-by-block → pair within block (one pass, no self-join); blocks
    // beyond maxBlock surfaces are skipped — at web scale an oversized block
    // is a stop-word-like key whose pairs are noise, and the cap bounds the
    // quadratic fan-out per task
    val maxBlock = 1000
    val simPairs = withBlock.groupBy($"block")
      .agg(sort_array(collect_list(struct($"node", $"surface"))).as("ns"))
      .filter(size($"ns").between(2, maxBlock))
      .select(explode(blockPairs($"ns")).as("p"))
      .filter(jaccard3($"p._1.surface", $"p._2.surface") >= 0.5)
      .select($"p._1.node".as("node_a"), $"p._2.node".as("node_b"))

    // surface → linked entity id edges; referenced three times (both allNodes
    // unions + the edge set) and distinct-collapsed already — small, persist
    val linkEdges = links
      .select(concat($"entity", lit(":"), lower($"value")).as("node_a"),
        concat(lit("ID:"), $"entity_id").as("node_b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val edges = simPairs.union(linkEdges).localCheckpoint()

    // small-graph fast path, one step beyond ConnectedComponents' own: the
    // output only needs labels for SURFACE nodes (ID: nodes exist solely to
    // glue components through the dictionary), so the collected union-find
    // labels broadcast-join straight onto the persisted surfaces frame —
    // surfaces in no edge self-label — skipping the generic sym/node/label
    // materializations. Identical labeling: the component minimum is taken
    // over ALL edge nodes (incl. ID:), exactly like the distributed CC.
    val eCnt = edges.count()
    if (eCnt > 0 && eCnt <= 2 * LocalIter.maxEdges(spark)) {
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      val lbl = LocalIter.ccLabels(edges.collect().map(r => (r.get(0), r.get(1))),
        LocalIter.orderingFor(StringType).get)
      val lblDf = LocalIter.localDf(spark,
        StructType(Seq(StructField("node", StringType), StructField("comp", StringType))),
        lbl.toSeq.map { case (n, c) => org.apache.spark.sql.Row(n, c) })
      return surfaces.join(broadcast(lblDf), Seq("node"), "left")
        .select($"entity", $"surface", $"n_mentions",
          concat(lit("C:"), coalesce($"comp", $"node")).as("canon_id"))
    }

    val allNodes = surfaces.select($"node").union(linkEdges.select($"node_a"))
      .union(linkEdges.select($"node_b")).distinct()

    val cc = ConnectedComponents.run(allNodes, edges)
    // canon_id = representative node per component
    cc.join(surfaces, cc("node") === surfaces("node"))
      .select(surfaces("entity"), surfaces("surface"), surfaces("n_mentions"),
        cc("canon_id"))
  }

  /** char-3-gram Jaccard as a Column expression (codegen-friendly: pure
    * built-in higher-order functions, no UDF). */
  private def jaccard3(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def grams(c: org.apache.spark.sql.Column) =
      array_distinct(transform(sequence(lit(1), greatest(length(c) - 2, lit(1))),
        i => c.substr(i, lit(3))))
    val gx = grams(x); val gy = grams(y)
    val inter = size(array_intersect(gx, gy)).cast("double")
    val uni = size(array_union(gx, gy)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  // ------------------------------------------------------------------ triples
  /** One relation pattern: subject kind, object kind, the trigger on the
    * between-text (Left = plain `contains`, Right = regex `rlike`), and the
    * predicate it yields. SINGLE source for both the map-side `canMatch`
    * pre-filter and the predicate CASE in [[triples]] — deriving them
    * separately once let an edit to one silently drop triples in the other.
    * Order matters: first matching pattern wins. */
  final case class RelationPattern(k1: String, k2: String,
                                   trigger: Either[String, String], predicate: String)

  val relationPatterns: Seq[RelationPattern] = Seq(
    RelationPattern("PER", "ORG", Left("works at"), "works_at"),
    RelationPattern("ORG", "ORG", Left("acquired"), "acquired"),
    RelationPattern("PER", "LOC", Left("born in"), "born_in"),
    RelationPattern("PER", "PER", Left("met"), "met"),
    RelationPattern("PER", "LOC", Right("\\bin\\b"), "visited"),
    RelationPattern("ORG", "LOC", Right("\\bin\\b"), "located_in"))

  /** Relation extraction + salted dedup. Linked mentions are grouped per
    * sentence (collect_list is safe: ≤ a handful of mentions per sentence),
    * joined back to sentence text, and each ordered pair is matched against
    * the relation patterns on the text BETWEEN the two mentions. */
  def triples(links: DataFrame, sents: Dataset[SentenceRow]): DataFrame = {
    val spark = links.sparkSession
    import spark.implicits._

    val perSentence = links
      .groupBy($"url", $"sent_id")
      // sort_array: collect_list order depends on shuffle partitioning; the
      // pair orientation filter below needs text order (start ascending) —
      // struct comparison is lexicographic, so start must be the first field
      // (start is unique per sentence — links emits one row per start — so
      // later fields never even tie-break). The entity KIND is NOT carried:
      // it is definitionally the first 3 chars of entity_id (the links join
      // matches on that prefix), so the per-mention structs crossing this
      // exchange stay one string slimmer.
      .agg(sort_array(collect_list(struct($"start", $"end", $"entity_id", $"score"))).as("ms"))
      .filter(size($"ms") >= 2)

    // only sentences whose text can yield SOME relation pattern need to cross
    // the join shuffle: `between` is always a substring of `text`, so a
    // sentence containing none of the trigger phrases can never produce a
    // predicate. The filter runs map-side inside the scan (cheap contains +
    // one regex) and cuts the shuffled sentence bytes — the dominant cost of
    // this stage — by the corpus' non-relational fraction. Derived from the
    // SAME relationPatterns table as the predicate CASE below.
    val canMatch = relationPatterns.map(_.trigger).distinct.map {
      case Left(phrase) => $"text".contains(phrase)
      case Right(re)    => $"text".rlike(re)
    }.reduce(_ || _)
    val joined = perSentence.join(sents.filter(canMatch), Seq("url", "sent_id"))

    val pairs = joined.select($"url", $"text", explode(pairCombos($"ms")).as("pr"))
      .select($"url", $"text",
        $"pr._1.start".as("s1"), $"pr._1.end".as("e1"),
        substring($"pr._1.entity_id", 1, 3).as("k1"),
        $"pr._1.entity_id".as("id1"), $"pr._1.score".as("sc1"),
        $"pr._2.start".as("s2"), $"pr._2.end".as("e2"),
        substring($"pr._2.entity_id", 1, 3).as("k2"),
        $"pr._2.entity_id".as("id2"), $"pr._2.score".as("sc2"))
      .filter($"e1" < $"s2")
      .withColumn("between", expr("substring(text, e1 + 1, s2 - e1)"))

    val pred = relationPatterns.map { p =>
      val trig = p.trigger match {
        case Left(phrase) => $"between".contains(phrase)
        case Right(re)    => $"between".rlike(re)
      }
      ($"k1" === p.k1 && $"k2" === p.k2 && trig, lit(p.predicate))
    }.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
      case (None, (cond, out))      => Some(when(cond, out))
      case (Some(acc), (cond, out)) => Some(acc.when(cond, out))
    }.get

    val raw = pairs
      .withColumn("pred", pred)
      .filter($"pred".isNotNull)
      .select($"id1".as("subj"), $"pred", $"id2".as("obj"), $"url",
        least($"sc1", $"sc2").as("conf"))

    // exact two-phase dedup with url as the NATURAL salt: phase 1 groups by
    // (s,p,o,url) — a hot (s,p,o) key is spread across reducers by its many
    // urls, the same skew protection the previous explicit 64-way salt
    // bought — and phase 2's partial aggregation collapses each partition's
    // share of a hot key map-side before the final exchange. Replacing the
    // per-(s,p,o,salt) approx_count_distinct also deletes 64 HLL sketch
    // buffers per distinct triple — the post-mention pipeline's dominant
    // allocation source in the round-4 GC decomposition — and upgrades
    // n_urls from approximate to exact for free.
    raw
      .groupBy($"subj", $"pred", $"obj", $"url")
      .agg(count(lit(1)).as("c0"), max($"conf").as("m0"))
      .groupBy($"subj", $"pred", $"obj")
      .agg(sum($"c0").as("n_sources"), max($"m0").as("conf"), count(lit(1)).as("n_urls"))
  }

  /** All unordered pairs within one (bounded) array — built-ins only. */
  private def blockPairs(xs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    flatten(transform(xs, (x, i) =>
      transform(slice(xs, i + lit(2), lit(1000000)), y => struct(x.as("_1"), y.as("_2")))))

  /** All unordered pairs of the (tiny) per-sentence mention array, as a
    * Column — built-ins only, stays in codegen. */
  private def pairCombos(ms: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    flatten(transform(ms, (m1, i) =>
      transform(slice(ms, i + 2, lit(1000000)), m2 => struct(m1.as("_1"), m2.as("_2")))))

  // ------------------------------------------------------------ co-occurrence
  /** Sentence-level entity co-occurrence graph with NPMI association — the
    * classic "which entities appear together" KG edge complement to the
    * pattern-matched [[triples]].
    *
    * Shape: ONE aggregation per (url, sent_id) collects the DISTINCT linked
    * entity ids of the sentence (`collect_set` + `sort_array` — bounded,
    * a sentence holds ≤ a handful of entities, and sorted so the pair
    * expansion is deterministic at any parallelism). Pairs expand MAP-SIDE
    * with the same built-in combination expression as `triples` (no
    * self-join — the quadratic fan-out never crosses an exchange), and pair
    * counts aggregate in two map-side-combinable phases: per (a, b, url)
    * first, then per (a, b) — which yields an EXACT distinct-url count
    * without `countDistinct`'s Expand doubling the shuffled rows. Entity
    * marginals and the sentence total are dictionary-sized → broadcast;
    * nothing in the plan shuffles more than the slim per-sentence sets.
    *
    * npmi = ln(p(a,b) / (p(a)·p(b))) / −ln p(a,b) over the universe of
    * entity-bearing sentences, with the p(a,b) = 1 singularity pinned to
    * 1.0. Counts are exact Longs, so the double is reproducible at any
    * parallelism; emitted `round(·, 4)`. */
  def cooccurrence(links: DataFrame): DataFrame = {
    val spark = links.sparkSession
    import spark.implicits._
    // `links` leaves its stage hash-partitioned on (url, sent_id) — this
    // groupBy reuses that distribution (no new exchange). Referenced three
    // times below (pairs, marginals, total) → persist, or each reference
    // re-inlines the upstream CRF decode (the round-2 q53 lesson).
    val perSent = links.groupBy($"url", $"sent_id")
      .agg(sort_array(collect_set($"entity_id")).as("ents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val pairs = perSent.filter(size($"ents") >= 2)
      .select($"url", explode(pairCombos($"ents")).as("p"))
      .select($"url", $"p._1".as("entity_a"), $"p._2".as("entity_b"))
    val pairCounts = pairs
      .groupBy($"entity_a", $"entity_b", $"url").agg(count(lit(1)).as("c"))
      .groupBy($"entity_a", $"entity_b")
      .agg(sum($"c").as("n_sents"), count(lit(1)).as("n_urls"))

    val marg = perSent.select(explode($"ents").as("entity_id"))
      .groupBy($"entity_id").agg(count(lit(1)).as("n"))
    val total = perSent.agg(count(lit(1)).as("n_total"))

    pairCounts
      .join(broadcast(marg.select($"entity_id".as("entity_a"), $"n".as("n_a"))), "entity_a")
      .join(broadcast(marg.select($"entity_id".as("entity_b"), $"n".as("n_b"))), "entity_b")
      .crossJoin(broadcast(total))
      .select($"entity_a", $"entity_b", $"n_sents", $"n_urls",
        round(when($"n_sents" === $"n_total", lit(1.0)).otherwise(
          // marginals cast to double BEFORE the product: n_a·n_b as Long×Long
          // overflows past ~3e9 sentences per entity
          log($"n_sents".cast("double") * $"n_total" / ($"n_a".cast("double") * $"n_b")) /
            -log($"n_sents".cast("double") / $"n_total")), 4).as("npmi"))
  }

  // ------------------------------------------------------------- domain stats
  /** Per-domain page/mention counts with EXPLICIT skew protection: hot
    * domains (the generator plants two at ~20% each) would make a plain
    * groupBy(domain) reducer-skewed at 10^12 docs, so the count is built as
    * a two-phase aggregate with url as the natural salt — partials per
    * (domain, url) spread a hot domain across reducers by its pages, then
    * the final merge partial-aggregates map-side (same shape as the triples
    * dedup; exact distinct-url counts, no per-group HLL buffers). */
  def domainStats(mentions: Dataset[MentionRow]): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._
    mentions
      .withColumn("domain", regexp_extract($"url", "https?://([^/]+)/", 1))
      .groupBy($"domain", $"url")
      .agg(count(lit(1)).as("m0"))
      .groupBy($"domain")
      .agg(sum($"m0").as("n_mentions"), count(lit(1)).as("n_urls"))
  }

  // -------------------------------------------------------------------- graph
  def nodes(canonical: DataFrame, links: DataFrame): DataFrame = {
    canonical.groupBy(col("canon_id"))
      .agg(max(col("entity")).as("label"), sum(col("n_mentions")).as("n_mentions"))
  }

  def edges(triples: DataFrame): DataFrame =
    triples.select(col("subj").as("src"), col("obj").as("dst"), col("pred"),
      col("n_sources").cast("double").as("weight"))

  // ----------------------------------------------------------------- training
  /** Pipeline model config: free-text path (rule tokenizer ⇒ no POS), BILOU on. */
  val pipelineConfig: CrfConfig = CrfConfig(
    features = IndexedSeq(
      IndexedSeq("low", "title", "upper"),
      IndexedSeq("low", "bias", "prefix5", "prefix2", "suffix5", "suffix3",
        "suffix2", "upper", "title", "digit", "shape"),
      IndexedSeq("low", "title", "upper")),
    c1 = 0.01, c2 = 0.05, maxIter = 300)

  def trainModel(seed: Long = 42L, nTrain: Int = 400): CrfModel =
    graft.crf.Trainer.trainExamples(PagesGen.trainingExamples(seed, nTrain), pipelineConfig)

  def aliasDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Synth.aliasDict.toDF("alias", "entity_id", "prior")
  }
}
