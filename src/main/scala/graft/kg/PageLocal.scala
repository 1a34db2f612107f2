package graft.kg

import graft.crf.CrfDecoder

/** The page-local slice of the KG pipeline — decode → alias link (rank-1)
  * → in-sentence relation matching — as plain Scala over one sentence.
  * ONE implementation for every surface. The Spark plans run it through
  * native expressions: `sentence_triples` ([[sentenceTriples]]) in
  * `KgPipeline.sentenceTriplesPlan`, the one per-sentence triple plan that
  * streaming (`streaming.StreamingTriples`) and the fused path of batch
  * `KgPipeline.triples` share, and `relation_triples` ([[relationTriples]])
  * on the generic batch path. Request/response serving (`run.ServeCli
  * /triples`) calls it directly. `KgPipeline.aliasDf` is [[aliasIndex]] as
  * a table. StreamingTriplesSpec pins both batch paths equal to this
  * implementation on generated pages, including pages with characters
  * outside the Basic Multilingual Plane.
  */
object PageLocal {

  case class Linked(start: Int, end: Int, entity: String,
                    entityId: String, score: Double)
  case class LocalTriple(subj: String, pred: String, obj: String, conf: Double)
  /** One alias candidate: the entity it may name and the alias prior. */
  case class Candidate(prior: Double, entityId: String)

  type CompiledPatterns = Seq[(KgPipeline.RelationPattern, java.util.regex.Pattern)]
  type AliasIndex = Map[(String, String), IndexedSeq[Candidate]]

  /** Right-triggers compiled once (per partition / per server). */
  def compilePatterns(
      ps: Seq[KgPipeline.RelationPattern] = KgPipeline.relationPatterns): CompiledPatterns =
    ps.map { p =>
      (p, p.trigger match {
        case Left(_) => null
        case Right(re) => java.util.regex.Pattern.compile(re)
      })
    }

  /** The entity kind of an entity id: its 3-char prefix ("PER:…" → "PER"). */
  def kindOf(entityId: String): String = entityId.take(3)

  /** (alias surface, entity kind) → candidates — the KB-scale side that the
    * batch path broadcasts (`KgPipeline.aliasDf` is this map as rows). A
    * lookup by (surface, mention kind) returns only kind-compatible
    * entities. */
  def aliasIndex: AliasIndex =
    Synth.aliasDict.groupBy(a => (a.alias, kindOf(a.entityId)))
      .map { case (k, xs) => k -> xs.map(x => Candidate(x.prior, x.entityId)) }

  /** Decode one sentence and link mentions (inner semantics — unlinked
    * mentions drop; rank-1 by the batch order (score, entity_id)), sorted
    * in the batch pair orientation. */
  def linkSentence(decoder: CrfDecoder, sent: String, alias: AliasIndex): IndexedSeq[Linked] =
    decoder.process(sent).flatMap { sp =>
      // Locale.ROOT: Spark's lower() is locale-independent; a default-locale
      // toLowerCase diverges on Turkish-locale JVMs (İ/ı) and breaks parity
      alias.get((sp.value.toLowerCase(java.util.Locale.ROOT), sp.entity)).map { cands =>
        val best = cands.maxBy(c => (c.prior * sp.confidence, c.entityId))
        Linked(sp.start, sp.end, sp.entity, best.entityId, best.prior * sp.confidence)
      }
    }.sortBy(m => (m.start, m.end, m.entity, m.entityId, m.score))

  /** The relation triples of one sentence's linked mentions, `linked`
    * sorted by start: every ordered pair (m1 before m2, `m1.end < m2.start`)
    * is matched on the text between the two mentions against the relation
    * patterns (first match wins), conf = min of the pair's link scores.
    * Offsets are UTF-16 code-unit indices into `sent`, as `crf_tag` emits
    * them. The one relation matcher: [[sentenceTriples]] (and so the batch
    * `sentence_triples` expression) and the batch `relation_triples`
    * expression run it. */
  def relationTriples(sent: String, linked: IndexedSeq[Linked],
                      compiled: CompiledPatterns): Iterator[LocalTriple] =
    for {
      i <- linked.indices.iterator
      j <- ((i + 1) until linked.length).iterator
      m1 = linked(i); m2 = linked(j)
      if m1.end < m2.start
      between = sent.substring(m1.end, m2.start)
      hit <- compiled.find { case (p, re) =>
        p.k1 == m1.entity && p.k2 == m2.entity &&
          (if (re == null) between.contains(p.trigger.left.getOrElse(""))
           else re.matcher(between).find())
      }
    } yield LocalTriple(m1.entityId, hit._1.predicate, m2.entityId,
      math.min(m1.score, m2.score))

  /** All relation triples of one sentence: [[linkSentence]] then
    * [[relationTriples]]. */
  def sentenceTriples(decoder: CrfDecoder, sent: String, alias: AliasIndex,
                      compiled: CompiledPatterns): Iterator[LocalTriple] =
    relationTriples(sent, linkSentence(decoder, sent, alias), compiled)
}
