package graft.crf

/** Marginal-based BILOU span decoding — the reference's inference path
  * (`/root/reference/spacy_crfsuite/crf_extractor.py:148-165,343-502`),
  * including its repair quirks which are observable behavior (SURVEY §2.4 Q2):
  * decoding runs over per-token marginal argmaxes (NOT Viterbi), which can
  * yield invalid BILOU sequences that `_find_bilou_end` repairs.
  */
object SpanDecode {

  /** Reference `process()`: featurize → marginals → span decode. `tokens` is
    * the full token list (CLS included if produced by the tokenizer); the
    * last token is dropped, quirk Q1. */
  def process(model: CrfModel, text: String, tokens: IndexedSeq[Tok]): IndexedSeq[Span] = {
    val crfToks = Featurizer.toCrfTokens(tokens, None)
    if (crfToks.isEmpty) return IndexedSeq.empty
    val feats = Featurizer.sentenceFeatures(crfToks, model.config.features)
    val marg = CrfModel.marginals(model, feats)
    fromMarginals(model, text, Featurizer.tokensWithoutCls(tokens), marg)
  }

  /** Reference `_from_crf_to_json` (`crf_extractor.py:452-465`). `tokens` here
    * is already CLS-stripped and must align 1:1 with `marg`. */
  def fromMarginals(model: CrfModel, text: String, tokens: IndexedSeq[Tok],
                    marg: Array[Array[Double]]): IndexedSeq[Span] = {
    require(tokens.length == marg.length,
      s"Inconsistency in amount of tokens between crf and message: ${tokens.length} vs ${marg.length}")
    if (model.config.bilou) convertBilou(model, text, tokens, marg)
    else convertSimple(model, tokens, marg)
  }

  /** Reference `most_likely_entity` (`crf_extractor.py:343-362`): argmax label
    * (first max wins, label-dictionary order); BILOU confidence pools the
    * marginals of all tags sharing the entity name (quirk Q3). */
  def mostLikelyEntity(model: CrfModel, marg: Array[Array[Double]], idx: Int): (String, Double) = {
    if (idx >= marg.length) return ("", 0.0)
    val p = marg(idx)
    var best = 0
    var i = 1
    while (i < p.length) { if (p(i) > p(best)) best = i; i += 1 }
    val label = model.labels(best)
    if (model.config.bilou) {
      val names = model.entityNames
      val name = names(best)
      var conf = 0.0
      i = 0
      while (i < p.length) { if (names(i) == name) conf += p(i); i += 1 }
      (label, conf)
    } else (label, p(best))
  }

  /** Reference `_find_bilou_end` (`crf_extractor.py:397-433`) with both repair
    * rules: mixed classes inside B-..L- keep B's class; an unclosed B- backs
    * up one token and closes. */
  private def findBilouEnd(model: CrfModel, marg: Array[Array[Double]], wordIdx: Int): (Int, Double) = {
    var entWordIdx = wordIdx + 1
    val (label0, conf0) = mostLikelyEntity(model, marg, wordIdx)
    val entityLabel = Bilou.entityName(label0)
    var confidence = conf0
    var finished = false
    while (!finished) {
      val (label, labelConf) = mostLikelyEntity(model, marg, entWordIdx)
      confidence = math.min(confidence, labelConf)
      // label.drop(2) != entityLabel ⇒ reference warns "Inconsistent BILOU
      // tagging ... Assuming B- class is correct" and proceeds — same here.
      if (label.startsWith("L-")) finished = true
      else if (label.startsWith("I-")) entWordIdx += 1
      else { finished = true; entWordIdx -= 1 } // B- not closed by L-
    }
    (entWordIdx, confidence)
  }

  /** Reference `_handle_bilou_label` (`crf_extractor.py:435-450`). */
  private def handleBilouLabel(model: CrfModel, marg: Array[Array[Double]],
                               wordIdx: Int): Option[(Int, Double, String)] = {
    val (label, confidence) = mostLikelyEntity(model, marg, wordIdx)
    Bilou.prefixOf(label) match {
      case Some('U') => Some((wordIdx, confidence, Bilou.entityName(label)))
      case Some('B') =>
        val (endIdx, conf) = findBilouEnd(model, marg, wordIdx)
        Some((endIdx, conf, Bilou.entityName(label)))
      case _ => None
    }
  }

  private def convertBilou(model: CrfModel, text: String, tokens: IndexedSeq[Tok],
                           marg: Array[Array[Double]]): IndexedSeq[Span] = {
    val out = IndexedSeq.newBuilder[Span]
    var wordIdx = 0
    while (wordIdx < tokens.length) {
      handleBilouLabel(model, marg, wordIdx) match {
        case Some((endIdx, confidence, entityLabel)) =>
          out += createSpan(text, tokens, wordIdx, endIdx, entityLabel, confidence)
          wordIdx = endIdx + 1
        case None => wordIdx += 1
      }
    }
    out.result()
  }

  /** Reference `_convert_simple_tagging_to_entity_result`
    * (`crf_extractor.py:486-502`): every non-O token is its own span. */
  private def convertSimple(model: CrfModel, tokens: IndexedSeq[Tok],
                            marg: Array[Array[Double]]): IndexedSeq[Span] = {
    val out = IndexedSeq.newBuilder[Span]
    var i = 0
    while (i < tokens.length) {
      val (label, conf) = mostLikelyEntity(model, marg, i)
      if (label != Bilou.NoEntityTag) {
        val t = tokens(i)
        out += Span(t.start, t.end, t.text, label, conf)
      }
      i += 1
    }
    out.result()
  }

  /** Reference `_create_entity_dict` (`crf_extractor.py:364-390`): span value
    * rebuilt from the ORIGINAL text — inter-token bytes preserved verbatim.
    * This is the mechanism behind the byte-identical-text-per-url invariant. */
  def createSpan(text: String, tokens: IndexedSeq[Tok], start: Int, end: Int,
                 entity: String, confidence: Double): Span = {
    val sb = new StringBuilder(tokens(start).text)
    var i = start + 1
    while (i <= end) {
      sb.append(text.substring(tokens(i - 1).end, tokens(i).start))
      sb.append(tokens(i).text)
      i += 1
    }
    Span(tokens(start).start, tokens(end).end, sb.result(), entity, confidence)
  }
}
