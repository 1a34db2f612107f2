package graft.crf

import graft.text.RuleTokenizer

/** Allocation-light CRF decoder for the executor hot path (one instance per
  * partition inside `mapPartitions`).
  *
  * Semantics are identical to `SpanDecode.process`; the speed comes from a
  * per-(window-slot, token) cache that resolves a token's feature atoms
  * straight to their summed per-label weight contribution (an Array[Double]
  * of length L). Web text is Zipfian, so after warmup nearly every token is
  * a cache hit: node potentials become `windowSize` array adds per token —
  * no string building, no hash lookups per atom, no FeatAtom allocation.
  *
  * NOT thread-safe: create one per partition/task (cheap — caches start
  * empty and are bounded below).
  */
object CrfDecoder {
  private val perThread = new ThreadLocal[CrfDecoder]()

  /** Per-thread decoder reused ACROSS partitions on the same executor core.
    *
    * `new CrfDecoder` per partition is correct but rebuilds the
    * (slot, token)→contribution cache from scratch every partition: with P
    * partitions per core that is P warmups of redundant CPU, and each
    * retired cache (~100s of MB of entries on web vocab) becomes survivor
    * garbage — measured as the dominant young-GC copy volume in the
    * multi-executor scaling runs. Executor task threads are pooled and
    * reused in Spark, so a ThreadLocal keyed on the model INSTANCE (the
    * broadcast's per-executor deserialized value — reference equality is
    * exact) gives one long-lived, bounded cache per core with zero
    * cross-partition contention. Cache contents are a pure function of the
    * model, never of partition data, so reuse cannot change results. */
  def forModel(model: CrfModel, vectors: Option[VectorSource] = None): CrfDecoder = {
    val cur = perThread.get()
    if (cur != null && (cur.model eq model) && cur.vectors == vectors) cur
    else { val d = new CrfDecoder(model, vectors); perThread.set(d); d }
  }
}

final class CrfDecoder(val model: CrfModel, val vectors: Option[VectorSource] = None) {
  private val dense: Option[(VectorSource, String)] =
    if (model.config.useDenseFeatures) vectors.map((_, model.config.denseFeaturesClsPooling))
    else None

  private val L = model.numLabels
  private val cfgFeatures = model.config.features
  private val windowSize = cfgFeatures.length
  private val half = windowSize / 2
  private val zero = new Array[Double](L)
  private val bosW = model.stateW.getOrElse("BOS", zero)
  private val eosW = model.stateW.getOrElse("EOS", zero)
  private val MaxCacheEntries = 1 << 20 // bound memory on adversarial vocab

  private val slotCaches =
    Array.fill(windowSize)(new java.util.HashMap[String, Array[Double]]())
  private val scratch = new scala.collection.mutable.ArrayBuffer[FeatAtom](16)

  /** Summed weight contribution of `token` appearing at window offset
    * `slot - half` — cached by (slot, token text/pos, dense-presence).
    *
    * Dense-presence MUST be part of the key: dense atoms are attached
    * all-or-nothing per SENTENCE (one OOV token strips them from every
    * token — DenseFeatures.getDenseFeatures), so the same word can occur
    * with and without dense atoms across sentences. The dense VALUES are a
    * pure function of the text for a fixed source, so (text, hasDense) is
    * a sound key. */
  private def contribution(slot: Int, token: CrfToken): Array[Double] = {
    val cache = slotCaches(slot)
    val base = if (token.pos == null) token.text else token.text + "\u0000" + token.pos
    val key = if (token.dense.isEmpty) base else base + "\u0000D"
    var w = cache.get(key)
    if (w == null) {
      scratch.clear()
      Featurizer.slotAtoms(token, (slot - half).toString, cfgFeatures(slot), scratch)
      w = new Array[Double](L)
      var i = 0
      while (i < scratch.length) {
        val a = scratch(i)
        val sw = model.stateW.getOrElse(a.attr, null)
        if (sw != null) {
          var y = 0
          while (y < L) { w(y) += sw(y) * a.weight; y += 1 }
        }
        i += 1
      }
      if (cache.size < MaxCacheEntries) cache.put(key, w)
    }
    w
  }

  /** Node potentials for a CLS-stripped token sequence. */
  def potentials(sent: IndexedSeq[CrfToken]): Array[Array[Double]] = {
    val T = sent.length
    val psi = Array.ofDim[Double](T, L)
    var t = 0
    while (t < T) {
      val row = psi(t)
      var seenBos = false
      var seenEos = false
      var off = -half
      while (off <= half) {
        val p = t + off
        if (p >= T) {
          if (!seenEos) { addInto(row, eosW); seenEos = true }
        } else if (p < 0) {
          if (!seenBos) { addInto(row, bosW); seenBos = true }
        } else {
          addInto(row, contribution(off + half, sent(p)))
        }
        off += 1
      }
      t += 1
    }
    psi
  }

  @inline private def addInto(dst: Array[Double], src: Array[Double]): Unit = {
    var y = 0
    while (y < L) { dst(y) += src(y); y += 1 }
  }

  /** Full inference for one sentence text: tokenize → marginals → BILOU span
    * decode (reference `process`, same spans as `SpanDecode.process`). */
  def process(text: String): IndexedSeq[Span] = {
    val tokens = RuleTokenizer.tokenizeWithCls(text)
    processTokens(text, tokens)
  }

  /** Same, for pre-tokenized input (full token list incl. CLS quirk). */
  def processTokens(text: String, tokens: IndexedSeq[Tok]): IndexedSeq[Span] = {
    val crfToks = dense match {
      case Some((src, pooling)) => DenseFeatures.toCrfTokens(tokens, None, src, pooling)
      case None                 => Featurizer.toCrfTokens(tokens, None)
    }
    if (crfToks.isEmpty) return IndexedSeq.empty
    val psi = potentials(crfToks)
    val marg = Inference.marginalsScaledExp(psi, model.expTransW)
    SpanDecode.fromMarginals(model, text, Featurizer.tokensWithoutCls(tokens), marg)
  }
}
