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

  /** Entity kind → lowercased alias surface → candidates ([[aliasIndex]]). */
  type AliasIndex = Map[String, Map[String, Array[Candidate]]]

  /** The relation patterns, right-triggers compiled once (per partition /
    * per server), as parallel arrays: a phrase trigger has a null regex. */
  final class CompiledPatterns(ps: Seq[KgPipeline.RelationPattern]) {
    private val k1 = ps.map(_.k1).toArray
    private val k2 = ps.map(_.k2).toArray
    private val phrase = ps.map(_.trigger.left.getOrElse(null: String)).toArray
    private val regex = ps.map(_.trigger.toOption.map(java.util.regex.Pattern.compile).orNull).toArray
    private val predicate = ps.map(_.predicate).toArray

    /** The predicate of the first pattern for kinds (`kind1`, `kind2`) whose
      * trigger is in `between`, or null. */
    def firstMatch(kind1: String, kind2: String, between: String): String = {
      var i = 0
      while (i < k1.length) {
        if (k1(i) == kind1 && k2(i) == kind2 &&
            (if (regex(i) == null) between.contains(phrase(i)) else regex(i).matcher(between).find()))
          return predicate(i)
        i += 1
      }
      null
    }
  }

  def compilePatterns(
      ps: Seq[KgPipeline.RelationPattern] = KgPipeline.relationPatterns): CompiledPatterns =
    new CompiledPatterns(ps)

  /** The entity kind of an entity id: its 3-char prefix ("PER:…" → "PER"). */
  def kindOf(entityId: String): String = entityId.take(3)

  /** Entity kind → alias surface → candidates, built once — the KB-scale
    * side that the batch path broadcasts (`KgPipeline.aliasDf` is this map
    * as (alias, kind) rows). A lookup by mention kind, then surface, returns
    * only kind-compatible entities. */
  val aliasIndex: AliasIndex =
    Synth.aliasDict.groupBy(a => kindOf(a.entityId)).map { case (kind, as) =>
      kind -> as.groupBy(_.alias).map { case (alias, xs) =>
        alias -> xs.map(x => Candidate(x.prior, x.entityId)).toArray
      }
    }

  /** The batch order of linked mentions: (start, end, entity, entityId, score). */
  private val linkedOrder: java.util.Comparator[Linked] = (a: Linked, b: Linked) => {
    var c = Integer.compare(a.start, b.start)
    if (c == 0) c = Integer.compare(a.end, b.end)
    if (c == 0) c = a.entity.compareTo(b.entity)
    if (c == 0) c = a.entityId.compareTo(b.entityId)
    if (c == 0) c = java.lang.Double.compare(a.score, b.score)
    c
  }

  /** Decode one sentence and link mentions (inner semantics — unlinked
    * mentions drop; rank-1 by the batch order (score, entity_id)), sorted
    * in the batch pair orientation. */
  def linkSentence(decoder: CrfDecoder, sent: String, alias: AliasIndex): IndexedSeq[Linked] = {
    val spans = decoder.process(sent)
    val out = new Array[Linked](spans.length)
    var n = 0
    spans.foreach { sp =>
      // Locale.ROOT: Spark's lower() is locale-independent; a default-locale
      // toLowerCase diverges on Turkish-locale JVMs (İ/ı) and breaks parity
      val cands = alias.getOrElse(sp.entity, Map.empty[String, Array[Candidate]])
        .getOrElse(sp.value.toLowerCase(java.util.Locale.ROOT), null)
      if (cands != null) {
        var best = cands(0)
        var score = best.prior * sp.confidence
        var i = 1
        while (i < cands.length) {
          val c = cands(i)
          val s = c.prior * sp.confidence
          val cmp = java.lang.Double.compare(s, score)
          if (cmp > 0 || (cmp == 0 && c.entityId.compareTo(best.entityId) > 0)) { best = c; score = s }
          i += 1
        }
        out(n) = Linked(sp.start, sp.end, sp.entity, best.entityId, score)
        n += 1
      }
    }
    java.util.Arrays.sort(out, 0, n, linkedOrder)
    scala.collection.immutable.ArraySeq.unsafeWrapArray(java.util.Arrays.copyOf(out, n))
  }

  /** The relation triples of one sentence's linked mentions, `linked`
    * sorted by start: every ordered pair (m1 before m2, `m1.end < m2.start`)
    * is matched on the text between the two mentions against the relation
    * patterns (first match wins), conf = min of the pair's link scores.
    * Offsets are UTF-16 code-unit indices into `sent`, as `crf_tag` emits
    * them. The one relation matcher: [[sentenceTriples]] (and so the batch
    * `sentence_triples` expression) and the batch `relation_triples`
    * expression run it. */
  def relationTriples(sent: String, linked: IndexedSeq[Linked],
                      compiled: CompiledPatterns): Iterator[LocalTriple] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[LocalTriple]
    var i = 0
    while (i < linked.length) {
      val m1 = linked(i)
      var j = i + 1
      while (j < linked.length) {
        val m2 = linked(j)
        if (m1.end < m2.start) {
          val pred = compiled.firstMatch(m1.entity, m2.entity, sent.substring(m1.end, m2.start))
          if (pred != null)
            out += LocalTriple(m1.entityId, pred, m2.entityId, math.min(m1.score, m2.score))
        }
        j += 1
      }
      i += 1
    }
    out.iterator
  }

  /** All relation triples of one sentence: [[linkSentence]] then
    * [[relationTriples]]. */
  def sentenceTriples(decoder: CrfDecoder, sent: String, alias: AliasIndex,
                      compiled: CompiledPatterns): Iterator[LocalTriple] =
    relationTriples(sent, linkSentence(decoder, sent, alias), compiled)
}
