package graft.crf

/** Marginal-based BILOU span decoding — the reference's inference path
  * (`/root/reference/spacy_crfsuite/crf_extractor.py:148-165,343-502`),
  * including its repair quirks which are observable behavior (SURVEY §2.4 Q2):
  * decoding runs over per-token marginal argmaxes (NOT Viterbi), which can
  * yield invalid BILOU sequences that `_find_bilou_end` repairs. The walk
  * itself is the decode core's (`CrfDecoder.spans`); these are its
  * entry points over per-token arrays.
  */
object SpanDecode {

  /** Reference `process()`: featurize → log-space marginals → span decode.
    * `tokens` is the full token list (CLS included if produced by the
    * tokenizer); the last token is dropped, quirk Q1. */
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
    CrfDecoder.spans(new CrfDecoder.Labels(model), text, tokens.length, CrfDecoder.flat(marg),
      tokens.map(_.start).toArray, tokens.map(_.end).toArray, tokens.map(_.text).toArray)
  }

  /** Reference `most_likely_entity` (`crf_extractor.py:343-362`): argmax label
    * (first max wins, label-dictionary order); BILOU confidence pools the
    * marginals of all tags sharing the entity name (quirk Q3). */
  def mostLikelyEntity(model: CrfModel, marg: Array[Array[Double]], idx: Int): (String, Double) =
    if (idx >= marg.length) ("", 0.0)
    else {
      val lab = new CrfDecoder.Labels(model)
      val best = CrfDecoder.argmax(marg(idx), 0, lab.size)
      (lab.names(best), CrfDecoder.confidence(lab, marg(idx), 0, best))
    }
}
