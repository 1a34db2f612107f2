package graft.kg

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.crf.{CrfConfig, CrfModel}
import graft.ops.Dedup.{blockPairs, explodeOrderedPairs}
import graft.plans.GraftFunctions.crf_tag
import graft.plans.SharedBroadcast

/** The Spark-native KG-construction pipeline (north_rule): pages → sentences →
  * CRF mentions → alias links → canonicalization → triples → graph tables.
  *
  * Scale design (SURVEY §4):
  *  - sentences and mentions are built-in expressions end to end:
  *    `posexplode(split(text))`, then `inline(crf_tag(text))` — the model
  *    crosses to executors ONCE via the broadcast `crf_tag` carries, and
  *    Catalyst prunes columns through the decode (no encoder round-trips)
  *  - explicit `repartition(pmod(xxhash64(url), P))` before the heavy CRF
  *    stage: deterministic placement, no skew from source file layout
  *  - alias linking is a broadcast hash join on (surface, kind) against a
  *    driver-built local table (dictionary ≪ mentions); the rank-1 pick is
  *    an `array_max` over the mention's candidates on the same row, so the
  *    link stage adds no exchange, sort or aggregate to the decode stage
  *  - relation matching is the page-local matcher
  *    ([[PageLocal.relationTriples]]) in one native expression per sentence
  *    — one implementation for batch, streaming and serving. The
  *    per-sentence chain has ONE Spark plan, [[sentenceTriplesPlan]]: each
  *    sentence that can match runs ONE `sentence_triples(text)` call
  *    ([[PageLocal.sentenceTriples]]: decode, link, relate). Streaming runs
  *    it, and so does [[triples]] when its `links` is the unmodified
  *    in-memory plan `links(mentions(S, model, p), aliasDf)` over its own
  *    `sents` (the kg_extract chain, `Bench`) — inside the decode stage, no
  *    per-sentence exchange and no second read of `sents`; every other
  *    `links` (checkpointed or parquet links, derived mentions, cached
  *    links, another alias table) regroups its links per sentence, joins
  *    them to the sentence text and runs `relation_triples(text, ms)`
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
  /** pages → one row per sentence `(url, sent_id, text)`. Filter non-English
    * pages (input_hint: other langs pass through untouched, i.e. never enter
    * extraction). The page text is NEWLINE-joined sentences; splitting on
    * '\n' reproduces each sentence byte-identically (the per-row
    * invariant). */
  def sentences(pages: Dataset[Page]): DataFrame = sentenceRows(pages.toDF(), col("url"))

  /** [[sentences]] keeping the `keep` columns of each page. Rows follow Java
    * `String.split('\n')`, which drops trailing empty strings: trailing
    * newlines are trimmed before the split, and a page of newlines only
    * yields no sentence (an empty page still yields one empty sentence). */
  private[graft] def sentenceRows(pages: DataFrame, keep: Column*): DataFrame = {
    val body = rtrim(col("text"), "\n")
    pages.filter(col("lang") === "en" && (body =!= "" || col("text") === ""))
      .select(keep :+ posexplode(split(body, "\n")).as(Seq("sent_id", "text")): _*)
  }

  // ----------------------------------------------------------------- mentions
  /** CRF mention extraction: explicit url-hash repartition, then one
    * `inline(crf_tag(text))` per sentence plus the per-partition lineage
    * column `partition_id`. Rows per stage partition are in the checkpoint
    * manifest. `partitions = -1` skips the repartition — for inputs already
    * evenly hash-distributed (e.g. the deterministic generator), the shuffle
    * buys nothing and its disk IO is a scaling bottleneck. */
  def mentions(sents: DataFrame, model: CrfModel, partitions: Int = 0): DataFrame = {
    val p = if (partitions > 0) partitions else sents.sparkSession.sparkContext.defaultParallelism
    val distributed =
      if (partitions < 0) sents
      else sents.repartition(p, pmod(xxhash64(col("url")), lit(p)))
    decode(distributed, crf_tag(col("text"), model))
  }

  /** [[mentions]]' projection over its (distributed) sentences, `tag` the
    * `crf_tag` column. The fused [[triples]] path rebuilds a matched plan
    * through it, so the two cannot disagree on what mentions builds. */
  private def decode(distributed: DataFrame, tag: Column): DataFrame =
    distributed.select(col("url"), col("sent_id"), inline(tag),
      spark_partition_id().as("partition_id"))

  // -------------------------------------------------------------------- links
  /** Alias-dictionary entity linking: broadcast hash join of each mention on
    * (lowercased surface, entity kind) against [[aliasDf]], then the rank-1
    * candidate picked on the mention row itself —
    * `array_max(transform(cands, c -> struct(c.prior * confidence, c.entity_id)))`:
    * highest score, ties to the larger entity_id (struct ordering),
    * deterministic across partitionings. Mentions with no candidate drop.
    *
    * No exchange, sort or aggregate: the pick runs inside the decode stage.
    * One output row per mention row, so the pick is rank-1 per
    * (url, sent_id, start) whenever each url appears once in the input —
    * url is the pipeline's page key. A url present twice repeats its
    * mentions and links; [[triples]] then counts each of its sources twice,
    * once per copy of the page, with n_urls and conf unchanged — the
    * page-local chain's answer, on both [[triples]] paths (pinned in
    * KgPipelineSpec, "a url repeated in the pages ..."). */
  def links(mentions: DataFrame, alias: DataFrame): DataFrame = {
    val top = array_max(transform(alias("cands"), c =>
      struct((c("prior") * mentions("confidence")).as("score"), c("entity_id").as("entity_id"))))
    mentions
      .join(broadcast(alias), lower(mentions("value")) === alias("alias") &&
        mentions("entity") === alias("kind"), "inner")
      .select(mentions("url"), mentions("sent_id"), mentions("start"), mentions("end"),
        mentions("value"), mentions("entity"), top.as("top"))
      .select(col("url"), col("sent_id"), col("start"), col("end"), col("value"),
        col("entity"), col("top.entity_id").as("entity_id"), col("top.score").as("score"))
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
  def canonical(mentions: DataFrame, links: DataFrame): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._

    // distinct surfaces, salted pre-aggregation (hot surfaces on hot domains).
    // surfaces is referenced twice below (block pairs, the final label
    // join) — unmaterialized, each reference re-inlines the whole
    // upstream pipeline INCLUDING the CRF decode when mentions isn't a
    // checkpointed parquet (the q53 driver path paid the decode ~5×; same
    // multi-reference class as the round-2 MinHash fix). The materialized
    // set is distinct (entity, surface) rows — gazetteer-sized, ≪ corpus;
    // localCheckpoint, so no cache entry outlives the call.
    val surfaces = mentions
      .withColumn("salt", pmod(xxhash64($"url"), lit(64)))
      .groupBy($"entity", lower($"value").as("surface"), $"salt").agg(count(lit(1)).as("c0"))
      .groupBy($"entity", $"surface").agg(sum($"c0").as("n_mentions"))
      .withColumn("node", concat($"entity", lit(":"), $"surface"))
      .localCheckpoint()

    val withBlock = surfaces.withColumn("block", concat($"entity", lit(":"), split($"surface", " ").getItem(0)))

    // group-by-block → pair within block (one pass, no self-join); blocks
    // beyond maxBlock surfaces are skipped — at web scale an oversized block
    // is a stop-word-like key whose pairs are noise, and the cap bounds the
    // quadratic fan-out per task
    val maxBlock = 1000
    val simPairs = blockPairs(withBlock, Seq($"block"), struct($"node", $"surface"), maxBlock)
      .filter(jaccard3($"a.surface", $"b.surface") >= 0.5)
      .select($"a.node".as("node_a"), $"b.node".as("node_b"))

    // surface → linked entity id edges (the CC core deduplicates)
    val linkEdges = links
      .select(concat($"entity", lit(":"), lower($"value")).as("node_a"),
        concat(lit("ID:"), $"entity_id").as("node_b"))

    // the component minimum is taken over ALL edge nodes (incl. ID: nodes,
    // which exist solely to glue components through the dictionary);
    // surfaces in no edge self-label
    surfaces.join(ConnectedComponents.labels(simPairs.union(linkEdges)), Seq("node"), "left")
      .select($"entity", $"surface", $"n_mentions",
        concat(lit("C:"), coalesce($"comp", $"node")).as("canon_id"))
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
    * predicate it yields. SINGLE source for both the map-side [[canMatch]]
    * pre-filter of [[triples]] and the matcher
    * [[PageLocal.relationTriples]] — deriving them separately once let an
    * edit to one silently drop triples in the other. Order matters: first
    * matching pattern wins. */
  final case class RelationPattern(k1: String, k2: String,
                                   trigger: Either[String, String], predicate: String)

  val relationPatterns: Seq[RelationPattern] = Seq(
    RelationPattern("PER", "ORG", Left("works at"), "works_at"),
    RelationPattern("ORG", "ORG", Left("acquired"), "acquired"),
    RelationPattern("PER", "LOC", Left("born in"), "born_in"),
    RelationPattern("PER", "PER", Left("met"), "met"),
    RelationPattern("PER", "LOC", Right("\\bin\\b"), "visited"),
    RelationPattern("ORG", "LOC", Right("\\bin\\b"), "located_in"))

  /** Relation extraction + salted dedup, on one of two paths; both give the
    * page-local chain's triples ([[PageLocal.sentenceTriples]] over every
    * sentence), and the dedup is shared.
    *
    *  - **Fused**, when `links` is exactly the plan
    *    `links(mentions(S, model, p), aliasDf(spark))` builds (nothing
    *    projected, filtered or rounded in between), `S` (under `mentions`'
    *    repartition, if any) is `sents`, and neither `links` nor its
    *    mentions are in the session's cache: `S`, keeping its repartition,
    *    runs [[sentenceTriplesPlan]] with the model broadcast of the plan's
    *    `crf_tag` — decode, link and relate in the decode stage. No
    *    per-sentence exchange, no join, one read of the pages.
    *  - **Generic**, for every other `links` (checkpointed or parquet links,
    *    derived or filtered mentions, cached links, another alias table):
    *    linked mentions are grouped per sentence (collect_list is safe:
    *    ≤ a handful of mentions per sentence), joined back to the sentence
    *    text, and `relation_triples` (the one relation matcher,
    *    [[PageLocal.relationTriples]]) matches each ordered pair on the
    *    text BETWEEN the two mentions. */
  def triples(links: DataFrame, sents: DataFrame): DataFrame = {
    val spark = links.sparkSession
    import spark.implicits._

    val raw = fusedTriples(links, sents).getOrElse(genericTriples(links, sents))
      .select($"subj", $"pred", $"obj", $"url", $"conf")

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

  /** Only sentences whose text can yield SOME relation pattern need the
    * relation matcher: the between-text is always a substring of `text`, so
    * a sentence containing none of the trigger phrases can never produce a
    * predicate. A cheap contains + one regex, run map-side in the scan;
    * derived from the SAME relationPatterns table as the matcher. */
  private def canMatch: Column = relationPatterns.map(_.trigger).distinct.map {
    case Left(phrase) => col("text").contains(phrase)
    case Right(re)    => col("text").rlike(re)
  }.reduce(_ || _)

  /** The generic path of [[triples]]: `(url, subj, pred, obj, conf)` rows. */
  private def genericTriples(links: DataFrame, sents: DataFrame): DataFrame = {
    val spark = links.sparkSession
    import spark.implicits._
    val perSentence = links
      .groupBy($"url", $"sent_id")
      // sort_array: collect_list order depends on shuffle partitioning; the
      // pair orientation needs text order (start ascending) — struct
      // comparison is lexicographic, so start must be the first field.
      // array_distinct: start is unique per mention within a sentence, so
      // only the copies a repeated url brings collapse, and such a url
      // counts once per copy of its sentence (the join below), as on the
      // fused path. The entity KIND is NOT carried: it is definitionally the
      // first 3 chars of entity_id (the links join matches on it).
      .agg(array_distinct(sort_array(collect_list(struct($"start", $"end", $"entity_id", $"score"))))
        .as("ms"))
      .filter(size($"ms") >= 2)
    perSentence.join(sents.filter(canMatch), Seq("url", "sent_id"))
      .select($"url", inline(relationTriples($"text", $"ms")))
  }

  /** The fused path of [[triples]], when `links` and `sents` qualify (see
    * there): `(url, subj, pred, obj, conf)` rows. The match takes the
    * decode input, the `crf_tag` and the alias relation out of the plan,
    * requires the alias relation to be [[aliasDf]]'s, rebuilds `links` from
    * them through [[decode]] and [[links]], and requires the same result,
    * so any change to the chain in between falls back to the generic path. */
  private def fusedTriples(links: DataFrame, sents: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.GraftColumnBridge.{column, isCached, ofRows}
    import org.apache.spark.sql.catalyst.expressions.Inline
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical._
    import graft.plans.CrfTagExpression
    val spark = links.sparkSession
    val plan = links.queryExecution.analyzed
    val sentsPlan = sents.queryExecution.analyzed
    for {
      (decoded, tag, in, alias) <- plan match {
        case Project(_, Project(_, Join(decoded @ Project(_, Generate(Inline(tag: CrfTagExpression),
            _, _, _, _, in)), ResolvedHint(alias, _), Inner, _, _))) =>
          Some((decoded, tag, in, alias))
        case _ => None
      }
      if alias.sameResult(aliasDf(spark).queryExecution.analyzed)
      source = ofRows(spark, in)
      if this.links(decode(source, column(tag)), ofRows(spark, alias))
        .queryExecution.analyzed.sameResult(plan)
      if in.sameResult(sentsPlan) || (in match {
        case r: RepartitionByExpression => r.child.sameResult(sentsPlan)
        case _ => false
      })
      if !isCached(spark, plan) && !isCached(spark, decoded)
    } yield sentenceTriplesPlan(source, tag.model, col("url"))
  }

  /** The per-sentence triple chain as a Spark plan, the one both the fused
    * [[triples]] path and `streaming.StreamingTriples` run: the sentence rows
    * that [[canMatch]], then ONE `sentence_triples(text)` each — CRF decode
    * with `model`, alias link against the one broadcast of
    * [[PageLocal.aliasIndex]], relate — as the `keep` columns plus
    * `(subj, pred, obj, conf)`. */
  private[graft] def sentenceTriplesPlan(sents: DataFrame, model: Broadcast[CrfModel],
                                         keep: Column*): DataFrame = {
    val alias = SharedBroadcast(sents.sparkSession.sparkContext, PageLocal.aliasIndex)
    sents.filter(canMatch).select(keep :+ inline(sentenceTriples(col("text"), model, alias)): _*)
  }

  // ------------------------------------------------------------ co-occurrence
  /** Sentence-level entity co-occurrence graph with NPMI association — the
    * classic "which entities appear together" KG edge complement to the
    * pattern-matched [[triples]].
    *
    * Shape: ONE aggregation per (url, sent_id) collects the DISTINCT linked
    * entity ids of the sentence (`collect_set` + `sort_array` — bounded,
    * a sentence holds ≤ a handful of entities, and sorted so the pair
    * expansion is deterministic at any parallelism). Pairs expand MAP-SIDE
    * with `Dedup.explodeOrderedPairs` (no self-join — the quadratic fan-out
    * never crosses an exchange), and pair counts aggregate in two
    * map-side-combinable phases: per (a, b, url) first, then per (a, b) —
    * which yields an EXACT distinct-url count without `countDistinct`'s
    * Expand doubling the shuffled rows. Entity marginals and the sentence
    * total are dictionary-sized → broadcast; nothing in the plan shuffles
    * more than the slim per-sentence sets.
    *
    * npmi = ln(p(a,b) / (p(a)·p(b))) / −ln p(a,b) over the universe of
    * entity-bearing sentences, with the p(a,b) = 1 singularity pinned to
    * 1.0. Counts are exact Longs, so the double is reproducible at any
    * parallelism; emitted `round(·, 4)`. The per-sentence sets are a lazy
    * local checkpoint: the first job that reads them stores them, and no
    * cache entry outlives the call. */
  def cooccurrence(links: DataFrame): DataFrame = {
    val spark = links.sparkSession
    import spark.implicits._
    // Referenced three times below (pairs, marginals, total) → checkpoint,
    // or each reference re-inlines the upstream CRF decode (the round-2 q53
    // lesson).
    val perSent = links.groupBy($"url", $"sent_id")
      .agg(sort_array(collect_set($"entity_id")).as("ents"))
      .localCheckpoint(eager = false)

    val pairs = explodeOrderedPairs(perSent.filter(size($"ents") >= 2), "ents", "url")
      .select($"url", $"a".as("entity_a"), $"b".as("entity_b"))
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
  def domainStats(mentions: DataFrame): DataFrame = {
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
  def nodes(canonical: DataFrame): DataFrame =
    canonical.groupBy(col("canon_id"))
      .agg(max(col("entity")).as("label"), sum(col("n_mentions")).as("n_mentions"))

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

  /** The alias dictionary as one row per (alias, kind) with its candidates,
    * `cands: array<struct<prior, entity_id>>` — [[PageLocal.aliasIndex]]
    * (the one alias grouping) as a local relation: built on the driver,
    * broadcast by [[links]] without a Spark job. */
  def aliasDf(spark: SparkSession): DataFrame =
    spark.createDataFrame(aliasRows, aliasSchema)

  /** [[aliasDf]]'s rows, by (kind, alias), built once. */
  private lazy val aliasRows: java.util.List[Row] = {
    val rows = for {
      (kind, byAlias) <- PageLocal.aliasIndex.toSeq.sortBy(_._1)
      (alias, cands) <- byAlias.toSeq.sortBy(_._1)
    } yield Row(alias, kind, cands.toSeq.map(c => Row(c.prior, c.entityId)))
    java.util.Arrays.asList(rows: _*)
  }

  private val aliasSchema = StructType(Seq(
    StructField("alias", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("cands", ArrayType(StructType(Seq(
      StructField("prior", DoubleType, nullable = false),
      StructField("entity_id", StringType, nullable = false))), containsNull = false),
      nullable = false)))

  /** `relation_triples(text, ms)` as a Column (see [[graft.plans.RelationTriplesExpression]]). */
  private def relationTriples(text: Column, ms: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.plans.RelationTriplesExpression(expression(text), expression(ms)))
  }

  /** `sentence_triples(text)` as a Column (see [[graft.plans.SentenceTriplesExpression]]). */
  private def sentenceTriples(text: Column, model: Broadcast[CrfModel],
                              alias: Broadcast[PageLocal.AliasIndex]): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.plans.SentenceTriplesExpression(expression(text), model, alias))
  }
}
