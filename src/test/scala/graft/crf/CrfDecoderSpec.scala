package graft.crf

import org.scalatest.funsuite.AnyFunSuite
import graft.kg.{KgPipeline, PagesGen, Synth}
import graft.text.{RuleTokenizer, Shape}

/** The cached decoder must be span-identical to the reference-shaped
  * `SpanDecode.process` path on thousands of sentences (cache correctness),
  * its offset path bit-identical to its token path, and measurably faster. */
class CrfDecoderSpec extends AnyFunSuite {
  import CrfDecoderSpec._

  lazy val model: CrfModel = KgPipeline.trainModel(42L, nTrain = 200)

  test("CrfDecoder produces identical spans to SpanDecode on 3000 sentences") {
    val decoder = new CrfDecoder(model)
    var n = 0
    for (i <- 0L until 3000L) {
      val text = Synth.sentence(42L, i).text
      val toks = graft.text.RuleTokenizer.tokenizeWithCls(text)
      val fast = decoder.processTokens(text, toks)
      val slow = SpanDecode.process(model, text, toks)
      // spans exactly equal; confidence within float-summation-order noise
      assert(fast.map(s => (s.start, s.end, s.value, s.entity)) ===
        slow.map(s => (s.start, s.end, s.value, s.entity)), s"sentence $i: $text")
      fast.zip(slow).foreach { case (f, sl) =>
        assert(math.abs(f.confidence - sl.confidence) < 1e-9, s"confidence, sentence $i")
      }
      n += fast.length
    }
    assert(n > 1000)
  }

  test("process(text) is bit-identical to processTokens over tokenizeWithCls") {
    val decoder = new CrfDecoder(model)
    val texts = corpus ++ edgeCases
    assert(texts.length >= 20000)
    var spans = 0
    texts.foreach { text =>
      val viaOffsets = decoder.process(text)
      val viaTokens = decoder.processTokens(text, RuleTokenizer.tokenizeWithCls(text))
      assert(exact(viaOffsets) === exact(viaTokens), text)
      spans += viaOffsets.length
    }
    assert(spans > 10000)
    // a fresh decoder (cold tables) gives the same answer as the warm one
    edgeCases.foreach(t => assert(exact(new CrfDecoder(model).process(t)) === exact(decoder.process(t)), t))
  }

  test("the offset tokenizer gives RuleTokenizer.tokenize's tokens, and the rules' offsets") {
    val offs = new RuleTokenizer.Offsets
    (corpus ++ edgeCases).foreach { text =>
      val n = RuleTokenizer.offsets(text, offs)
      val toks = RuleTokenizer.tokenize(text)
      assert((0 until n).map(i => (offs.starts(i), offs.ends(i))) === toks.map(t => (t.start, t.end)), text)
      assert(toks.map(t => (t.start, t.end)) === referenceOffsets(text), text)
      toks.foreach { t =>
        assert(t.text === text.substring(t.start, t.end))
        assert(t.pos === "" && t.shape === Shape.of(t.text))
      }
    }
    assert(Shape.of(edgeCases.find(_.startsWith("x" * 100)).get.split(' ')(0)) === "LONG")
  }

  test("decoder throughput: cached path beats uncached") {
    val texts = (0L until 4000L).map(i => Synth.sentence(42L, i).text)
    // warmup both
    val d0 = new CrfDecoder(model)
    texts.take(500).foreach(d0.process)
    texts.take(500).foreach(t => SpanDecode.process(model, t, graft.text.RuleTokenizer.tokenizeWithCls(t)))

    val t0 = System.nanoTime()
    val decoder = new CrfDecoder(model)
    texts.foreach(decoder.process)
    val fast = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    texts.foreach(t => SpanDecode.process(model, t, graft.text.RuleTokenizer.tokenizeWithCls(t)))
    val slow = (System.nanoTime() - t1) / 1e9

    info(f"cached ${texts.length / fast}%.0f sents/s vs uncached ${texts.length / slow}%.0f sents/s (${slow / fast}%.1fx)")
    assert(fast < slow)
  }
}

object CrfDecoderSpec {
  /** Spans with confidence as raw bits: equal only if bit-identical. */
  def exact(spans: IndexedSeq[Span]): Seq[(Int, Int, String, String, Long)] =
    spans.map(s => (s.start, s.end, s.value, s.entity, java.lang.Double.doubleToRawLongBits(s.confidence)))

  /** 10,000 Synth sentences and the sentences of the first seed-42 pages
    * (every language), 22,000 in all. */
  lazy val corpus: IndexedSeq[String] =
    (0L until 10000L).map(i => Synth.sentence(42L, i).text) ++
      Iterator.from(0).flatMap(i => PagesGen.pageOf(42L, i, density = 8)._1.text.split('\n'))
        .take(12000).toIndexedSeq

  val edgeCases: IndexedSeq[String] = IndexedSeq(
    "", " ", "   \t\n  ", "\n",
    "I don't know what's in John's bag , they'll say we're n't done .",
    "DON'T STOP Alice Johnson'S car ; she'D say I'M here ... ok'",
    "Wow!!! ?!?! (really) --- \"quoted\" [x] ... !!",
    "Hello , Alice Johnson works at Hooli in Berlin ! ! ! ...",
    "'s n't 'd ' '' . , ; -",
    ("x" * 100) + " Alice Johnson met Robert Smith in Paris .",
    ("Y" * 99) + " " + ("𝔘" * 120) + " works at Hooli .",
    "Alice Johnson 😀 works at Hooli in Berlin 🚀 .",
    "😀😀 (🚀) Maria Garcia visited 東京 in Tokyo — naïve café Ünïcödé .",
    "𝔘𝔫𝔦 Omar Haddad met Wei Chen .",
    "a", "A", "1", ".", "Globex")

  /** The tokenizer's rules over substrings and lists, as first written:
    * an independent statement of the offsets the offset tokenizer must give. */
  def referenceOffsets(text: String): Seq[(Int, Int)] = {
    val suffixes = Seq("n't", "'s", "'m", "'re", "'ve", "'ll", "'d",
      "N'T", "'S", "'M", "'RE", "'VE", "'LL", "'D")
    def isPunct(c: Char) = !Character.isLetterOrDigit(c) && !Character.isWhitespace(c)
    val out = Seq.newBuilder[(Int, Int)]
    var i = 0
    while (i < text.length) {
      while (i < text.length && Character.isWhitespace(text.charAt(i))) i += 1
      if (i < text.length) {
        var j = i
        while (j < text.length && !Character.isWhitespace(text.charAt(j))) j += 1
        var s = i
        var e = j
        while (s < e && isPunct(text.charAt(s)) && e - s > 1) { out += ((s, s + 1)); s += 1 }
        var trail = List.empty[(Int, Int)]
        while (e > s + 1 && isPunct(text.charAt(e - 1))) { trail = (e - 1, e) :: trail; e -= 1 }
        if (s < e) {
          val core = text.substring(s, e)
          suffixes.find(cs => core.length > cs.length && core.endsWith(cs)) match {
            case Some(cs) => out += ((s, e - cs.length)); out += ((e - cs.length, e))
            case None => out += ((s, e))
          }
        }
        out ++= trail
        i = j
      }
    }
    out.result()
  }
}
