package graft.text

import graft.crf.Tok

/** Deterministic rule tokenizer for free text, standing in for the reference's
  * spaCy tokenizer (`/root/reference/spacy_crfsuite/tokenizer.py:61-98`).
  *
  * spaCy itself is not reproducible on the JVM; the parity corpora (CoNLL
  * fixtures) are pre-tokenized and bypass this entirely, so this only has to be
  * deterministic and produce tokens whose (start, end) offsets index the
  * original text exactly — the invariant every downstream stage depends on.
  *
  * Rules (spaCy-like): split on whitespace; peel leading/trailing punctuation
  * one char at a time; split common English contractions ('s, 'm, 're, 've,
  * 'll, 'd, n't) as their own tokens. Like the reference tokenizer it appends
  * a `__CLS__` sentinel at `lastEnd + 1` (`tokenizer.py:85-88`) which all
  * consumers drop again (`features.py:127-129`) — quirk Q1 in SURVEY §2.4.
  *
  * The rules run once, in [[offsets]], which writes token offsets into
  * reusable arrays (the decoder's path: no `Tok`, no shape, no sentinel);
  * [[tokenize]] builds `Tok`s from them.
  */
object RuleTokenizer {

  private val ContractionSuffixes = Array("n't", "'s", "'m", "'re", "'ve", "'ll", "'d",
    "N'T", "'S", "'M", "'RE", "'VE", "'LL", "'D")

  private def isPunct(c: Char): Boolean =
    !Character.isLetterOrDigit(c) && !Character.isWhitespace(c)

  /** Growable (start, end) arrays: token `i` is `text.substring(starts(i), ends(i))`. */
  final class Offsets {
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var length = 0

    def clear(): Unit = length = 0

    def add(s: Int, e: Int): Unit = {
      if (length == starts.length) {
        starts = java.util.Arrays.copyOf(starts, length * 2)
        ends = java.util.Arrays.copyOf(ends, length * 2)
      }
      starts(length) = s
      ends(length) = e
      length += 1
    }
  }

  /** Tokenize and append the CLS sentinel (reference `tokenize`). */
  def tokenizeWithCls(text: String): IndexedSeq[Tok] = {
    val toks = tokenize(text)
    if (toks.isEmpty) toks
    else {
      val idx = toks.last.end + 1
      toks :+ Tok("__CLS__", idx, idx + "__CLS__".length, "", Shape.of("__CLS__"))
    }
  }

  /** Raw tokens, no CLS. Offsets are char offsets into `text`. */
  def tokenize(text: String): IndexedSeq[Tok] = {
    val o = new Offsets
    val out = new Array[Tok](offsets(text, o))
    var i = 0
    while (i < out.length) {
      val t = text.substring(o.starts(i), o.ends(i))
      out(i) = Tok(t, o.starts(i), o.ends(i), "", Shape.of(t))
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** The token offsets of `text` (no CLS), written over `out`; returns the
    * token count. */
  def offsets(text: String, out: Offsets): Int = {
    out.clear()
    var i = 0
    val n = text.length
    while (i < n) {
      while (i < n && Character.isWhitespace(text.charAt(i))) i += 1
      if (i < n) {
        var j = i
        while (j < n && !Character.isWhitespace(text.charAt(j))) j += 1
        emitChunk(text, i, j, out)
        i = j
      }
    }
    out.length
  }

  private def emitChunk(text: String, start: Int, end: Int, out: Offsets): Unit = {
    var s = start
    // leading punctuation, one char each
    while (s < end && isPunct(text.charAt(s)) && end - s > 1) {
      out.add(s, s + 1); s += 1
    }
    // trailing punctuation: one char each, emitted after the core
    var e = end
    while (e > s + 1 && isPunct(text.charAt(e - 1))) e -= 1
    if (s < e) {
      val cut = contractionStart(text, s, e)
      if (cut > s) { out.add(s, cut); out.add(cut, e) }
      else out.add(s, e)
    }
    while (e < end) { out.add(e, e + 1); e += 1 }
  }

  /** Where the first contraction suffix of `text[s, e)` that is shorter than
    * it starts, or -1. */
  private def contractionStart(text: String, s: Int, e: Int): Int = {
    var k = 0
    while (k < ContractionSuffixes.length) {
      val cs = ContractionSuffixes(k)
      if (e - s > cs.length && text.regionMatches(e - cs.length, cs, 0, cs.length))
        return e - cs.length
      k += 1
    }
    -1
  }
}
