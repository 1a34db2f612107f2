package graft.kg

import graft.crf.{Example, Span, Tok}
import graft.text.Shape

/** Deterministic synthetic corpus for training, parity gates, and the
  * Common-Crawl-style pages table (FIXTURES.md §6: synthesized with a fixed
  * seed, no external data).
  *
  * Determinism: every random draw derives from `splitmix64(seed ^ position)` —
  * no global RNG state, so generation is order-independent and identical
  * across partitions, runs, and parallelism levels.
  */
object Synth {

  // ---- seeded hashing ------------------------------------------------------
  def splitmix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def pick[A](xs: IndexedSeq[A], h: Long): A = xs(((h % xs.length + xs.length) % xs.length).toInt)

  // ---- gazetteer (entity dictionary — also the alias dict for linking) ----
  val firstNames: IndexedSeq[String] = IndexedSeq(
    "Alice", "Robert", "Maria", "James", "Linda", "Omar", "Wei", "Fatima",
    "Carlos", "Yuki", "Anna", "David", "Elena", "Noah", "Priya", "Lucas")
  val lastNames: IndexedSeq[String] = IndexedSeq(
    "Johnson", "Smith", "Garcia", "Chen", "Mueller", "Tanaka", "Rossi",
    "Dubois", "Ivanov", "Okafor", "Haddad", "Kim", "Silva", "Novak")
  val orgs: IndexedSeq[String] = IndexedSeq(
    "Acme Corp", "Globex", "Initech", "Umbrella Group", "Stark Industries",
    "Wayne Enterprises", "Tyrell Corp", "Cyberdyne Systems", "Aperture Labs",
    "Vandelay Industries", "Hooli", "Pied Piper", "Wonka Industries",
    "Soylent Corp", "Massive Dynamic", "Oscorp")
  val locs: IndexedSeq[String] = IndexedSeq(
    "Berlin", "Paris", "Tokyo", "Nairobi", "Toronto", "Madrid", "Oslo",
    "Seoul", "Lima", "Cairo", "Sydney", "Boston", "Mumbai", "Prague",
    "New York", "San Francisco", "Tel Aviv", "Hong Kong")

  lazy val persons: IndexedSeq[String] =
    for (f <- firstNames; l <- lastNames) yield s"$f $l"

  /** Alias dictionary rows for entity linking: alias (lowercased surface) →
    * canonical entity id + prior. Includes abbreviation aliases so linking is
    * non-trivial. Built once. */
  case class Alias(alias: String, entityId: String, prior: Double)
  lazy val aliasDict: IndexedSeq[Alias] = {
    val p = persons.zipWithIndex.flatMap { case (name, i) =>
      val id = s"PER:${name.replace(' ', '_')}"
      // full name, and last name alone as a weaker alias
      IndexedSeq(Alias(name.toLowerCase, id, 0.9)) ++
        (if (i % 3 == 0) IndexedSeq(Alias(name.split(' ')(1).toLowerCase, id, 0.4)) else IndexedSeq.empty)
    }
    val o = orgs.flatMap { name =>
      val id = s"ORG:${name.replace(' ', '_')}"
      IndexedSeq(Alias(name.toLowerCase, id, 0.95),
        Alias(name.split(' ')(0).toLowerCase, id, 0.5))
    }
    val l = locs.map(name => Alias(name.toLowerCase, s"LOC:${name.replace(' ', '_')}", 0.95))
    p ++ o ++ l
  }

  // ---- sentence grammar ----------------------------------------------------
  /** A generated sentence: tokens (with POS), gold multi-token spans over the
    * joined text, and the relation triples it expresses. */
  case class Sent(tokens: IndexedSeq[(String, String)], // (word, pos)
                  ents: IndexedSeq[(Int, Int, String, String)], // tokIdxStart, tokIdxEnd(incl), label, entityId
                  rels: IndexedSeq[(String, String, String)]) { // (subjId, pred, objId)
    def text: String = tokens.map(_._1).mkString(" ")
    /** Char-offset gold spans over `text`. */
    def spans: IndexedSeq[Span] = {
      val starts = tokens.scanLeft(0)((acc, t) => acc + t._1.length + 1)
      ents.map { case (s, e, label, _) =>
        val st = starts(s)
        val en = starts(e) + tokens(e)._1.length
        Span(st, en, text.substring(st, en), label, 1.0)
      }
    }
  }

  private def posOf(w: String): String = w match {
    case "the" | "a" => "DT"
    case "works" | "acquired" | "met" | "visited" | "announced" | "opened" | "joined" => "VBD"
    case "was" | "is" => "VBZ"
    case "born" | "based" => "VBN"
    case "at" | "in" | "on" | "with" | "near" | "from" => "IN"
    case "and" => "CC"
    case "." => "."
    case "," => ","
    case w0 if w0.headOption.exists(_.isUpper) => "NNP"
    case w0 if w0.forall(_.isDigit) => "CD"
    case _ => "NN"
  }

  private def ent(words: String, label: String): (IndexedSeq[(String, String)], String) =
    (words.split(' ').toIndexedSeq.map(w => (w, "NNP")), s"$label:${words.replace(' ', '_')}")

  private def plain(s: String): IndexedSeq[(String, String)] =
    s.split(' ').toIndexedSeq.map(w => (w, posOf(w)))

  /** Generate sentence #i under `seed`. ~25% filler sentences, else one of
    * four relation templates over gazetteer draws. */
  def sentence(seed: Long, i: Long): Sent = {
    val h = splitmix64(seed ^ (i * 0x9e3779b97f4a7c15L + 1))
    val kind = ((h >>> 8) % 100).toInt
    def h2(k: Int) = splitmix64(h + k)
    if (kind < 25) {
      val fillers = IndexedSeq(
        "the market closed higher on Monday .",
        "officials announced a new budget for the quarter .",
        "analysts expect growth to continue this year .",
        "the committee will meet again next week .",
        "results were in line with expectations .")
      Sent(plain(pick(fillers, h2(1))), IndexedSeq.empty, IndexedSeq.empty)
    } else if (kind < 50) {
      val (per, perId) = ent(pick(persons, h2(1)), "PER")
      // ~30% short-form org surface ("Acme" for "Acme Corp") with the SAME
      // entity id — the variant canonicalization must re-unify downstream
      val orgFull = pick(orgs, h2(2))
      val (org, orgId) = {
        val full = ent(orgFull, "ORG")
        if (orgFull.contains(' ') && (h2(7) % 10 + 10) % 10 < 3)
          (IndexedSeq((orgFull.split(' ')(0), "NNP")), full._2)
        else full
      }
      val (loc, locId) = ent(pick(locs, h2(3)), "LOC")
      val toks = per ++ plain("works at") ++ org ++ plain("in") ++ loc ++ plain(".")
      Sent(toks,
        IndexedSeq((0, per.length - 1, "PER", perId),
          (per.length + 2, per.length + 1 + org.length, "ORG", orgId),
          (per.length + org.length + 3, per.length + org.length + 2 + loc.length, "LOC", locId)),
        IndexedSeq((perId, "works_at", orgId), (orgId, "located_in", locId)))
    } else if (kind < 70) {
      val (o1, id1) = ent(pick(orgs, h2(1)), "ORG")
      var (o2, id2) = ent(pick(orgs, h2(2)), "ORG")
      if (id2 == id1) { val e = ent(pick(orgs, h2(4)), "ORG"); o2 = e._1; id2 = e._2 }
      val toks = o1 ++ plain("acquired") ++ o2 ++ plain("on Thursday .")
      val rels = if (id1 == id2) IndexedSeq.empty[(String, String, String)]
                 else IndexedSeq((id1, "acquired", id2))
      Sent(toks,
        IndexedSeq((0, o1.length - 1, "ORG", id1),
          (o1.length + 1, o1.length + o2.length, "ORG", id2)), rels)
    } else if (kind < 85) {
      val (per, perId) = ent(pick(persons, h2(1)), "PER")
      val (loc, locId) = ent(pick(locs, h2(2)), "LOC")
      val toks = per ++ plain("was born in") ++ loc ++ plain(".")
      Sent(toks,
        IndexedSeq((0, per.length - 1, "PER", perId),
          (per.length + 3, per.length + 2 + loc.length, "LOC", locId)),
        IndexedSeq((perId, "born_in", locId)))
    } else {
      val (p1, id1) = ent(pick(persons, h2(1)), "PER")
      var (p2, id2) = ent(pick(persons, h2(2)), "PER")
      if (id2 == id1) { val e = ent(pick(persons, h2(4)), "PER"); p2 = e._1; id2 = e._2 }
      val (loc, locId) = ent(pick(locs, h2(3)), "LOC")
      val toks = p1 ++ plain("met") ++ p2 ++ plain("in") ++ loc ++ plain(".")
      val rels = if (id1 == id2) IndexedSeq((id1, "visited", locId))
                 else IndexedSeq((id1, "met", id2), (id1, "visited", locId))
      Sent(toks,
        IndexedSeq((0, p1.length - 1, "PER", id1),
          (p1.length + 1, p1.length + p2.length, "PER", id2),
          (p1.length + p2.length + 2, p1.length + p2.length + 1 + loc.length, "LOC", locId)),
        rels)
    }
  }

  /** IOB2 tags per token (CoNLL-style fixture emission). */
  def iobTags(s: Sent): IndexedSeq[String] = {
    val tags = Array.fill(s.tokens.length)("O")
    for ((st, en, label, _) <- s.ents) {
      tags(st) = s"B-$label"
      var i = st + 1
      while (i <= en) { tags(i) = s"I-$label"; i += 1 }
    }
    tags.toIndexedSeq
  }

  /** CoNLL-03-format block (word pos chunk tag). */
  def conllBlock(s: Sent): String =
    s.tokens.zip(iobTags(s)).map { case ((w, p), t) => s"$w $p I-NP $t" }.mkString("\n")

  def conllCorpus(seed: Long, from: Long, n: Int): String =
    (from until (from + n)).map(i => conllBlock(sentence(seed, i))).mkString("\n\n") + "\n"

  /** Pre-tokenized Example with char-offset gold spans (the engine's gold
    * path: BILOU_flag=true, clean labels). */
  def example(seed: Long, i: Long): Example = {
    val s = sentence(seed, i)
    val starts = s.tokens.scanLeft(0)((acc, t) => acc + t._1.length + 1)
    val toks = s.tokens.zipWithIndex.map { case ((w, p), j) =>
      Tok(w, starts(j), starts(j) + w.length, p, Shape.of(w))
    }
    Example(s.text, toks, s.spans)
  }
}
