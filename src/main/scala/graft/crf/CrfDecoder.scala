package graft.crf

import graft.text.{RuleTokenizer, Shape}

/** The one CRF decode core: tokens → node potentials → scaled
  * forward-backward → BILOU span walk, over flat `T×L` arrays (row `t` of a
  * `T×L` array is `[t·L, t·L + L)`) that each decoder reuses from sentence to
  * sentence.
  *
  * `process(text)` tokenizes into offset arrays ([[RuleTokenizer.offsets]]:
  * no `Tok`, no shape and no `__CLS__` sentinel) and does ONE lookup per
  * token in a table keyed by the token's text, looked up as a char range of
  * the sentence, which returns the token's summed weight contribution for
  * every window slot at once (W×L doubles). Web text is Zipfian, so after
  * warm-up nearly every token is a hit: a hit allocates nothing, and the
  * node potentials become W array adds per token. Only a miss builds the
  * token's feature atoms (`Featurizer.slotAtoms`).
  *
  * Every other decode surface is a thin wrapper over the same core:
  * `processTokens` (pre-tokenized and dense input, a second table keyed by
  * text, pos, shape and dense presence), `Inference.marginalsScaledExp`
  * ([[marginals]]) and `SpanDecode.fromMarginals` ([[spans]]). The
  * arithmetic is the reference-shaped path's, in the same floating-point
  * operation order, so spans and confidences are bit-identical to it
  * (`CrfDecoderSpec`).
  *
  * NOT thread-safe: one instance per thread ([[CrfDecoder.forModel]]).
  */
object CrfDecoder {
  private val perThread = new ThreadLocal[CrfDecoder]()

  /** Bound on each contribution table's entries (memory on adversarial vocab). */
  private val MaxCacheEntries = 1 << 20

  /** Per-thread decoder reused ACROSS partitions on the same executor core.
    *
    * `new CrfDecoder` per partition is correct but rebuilds the
    * token→contribution table from scratch every partition: with P
    * partitions per core that is P warmups of redundant CPU, and each
    * retired table (~100s of MB of entries on web vocab) becomes survivor
    * garbage — measured as the dominant young-GC copy volume in the
    * multi-executor scaling runs. Executor task threads are pooled and
    * reused in Spark, so a ThreadLocal keyed on the model INSTANCE (the
    * broadcast's per-executor deserialized value — reference equality is
    * exact) gives one long-lived, bounded table per core with zero
    * cross-partition contention. Table contents are a pure function of the
    * model, never of partition data, so reuse cannot change results. */
  def forModel(model: CrfModel, vectors: Option[VectorSource] = None): CrfDecoder = {
    val cur = perThread.get()
    if (cur != null && (cur.model eq model) && cur.vectors == vectors) cur
    else { val d = new CrfDecoder(model, vectors); perThread.set(d); d }
  }

  /** Reusable `T×L` work arrays, grown on demand: the potentials (then
    * their row-shifted exponentials), the forward variables (then the
    * marginals) and the backward variables. */
  final class Buffers {
    var psi: Array[Double] = Array.emptyDoubleArray
    var alpha: Array[Double] = Array.emptyDoubleArray
    var beta: Array[Double] = Array.emptyDoubleArray

    def ensure(cells: Int): Unit = if (psi.length < cells) {
      val n = math.max(cells, psi.length * 2)
      psi = new Array[Double](n)
      alpha = new Array[Double](n)
      beta = new Array[Double](n)
    }
  }

  /** The per-label codes the span walk reads: the label, its BILOU prefix
    * (`'\u0000'` for none), the entity name a span reports
    * (`Bilou.entityName`) and the confidence pool — the first label with the
    * same `label.drop(2)` (quirk Q3: BILOU confidence pools every tag of the
    * entity). */
  final class Labels(model: CrfModel) {
    val size: Int = model.numLabels
    val bilou: Boolean = model.config.bilou
    val names: Array[String] = model.labels.toArray
    val prefix: Array[Char] = names.map(l => Bilou.prefixOf(l).getOrElse('\u0000'))
    val entity: Array[String] = names.map(Bilou.entityName)
    val pool: Array[Int] = {
      val pooled = model.entityNames
      pooled.map(n => pooled.indexOf(n))
    }
  }

  /** `m` as one row-major array. */
  def flat(m: Array[Array[Double]]): Array[Double] = {
    val cols = if (m.isEmpty) 0 else m(0).length
    val out = new Array[Double](m.length * cols)
    var r = 0
    while (r < m.length) { System.arraycopy(m(r), 0, out, r * cols, cols); r += 1 }
    out
  }

  // ---------------------------------------------------------------- marginals
  /** Scaled-domain forward-backward (Rabiner scaling) over the `T×L` node
    * log-potentials in `b.psi`, with `eTrans` the row-major `exp` of the
    * transition matrix. The marginals land in `b.alpha`; `b.psi` is
    * overwritten with `exp(ψ − rowmax)`. Potentials are max-shifted per row
    * before exponentiation so `exp` never overflows. */
  def marginals(b: Buffers, T: Int, L: Int, eTrans: Array[Double]): Unit = {
    expRows(b.psi, T, L)
    forward(b.alpha, b.psi, T, L, eTrans)
    backward(b.beta, b.psi, T, L, eTrans)
    posterior(b.alpha, b.beta, T, L)
  }

  private def expRows(psi: Array[Double], T: Int, L: Int): Unit = {
    var base = 0
    while (base < T * L) {
      var mx = Double.NegativeInfinity
      var y = 0
      while (y < L) { if (psi(base + y) > mx) mx = psi(base + y); y += 1 }
      y = 0
      while (y < L) { psi(base + y) = math.exp(psi(base + y) - mx); y += 1 }
      base += L
    }
  }

  /** Scales row `[base, base + L)` of `a` to sum 1, `s` its sum (0 leaves it). */
  private def normalize(a: Array[Double], base: Int, L: Int, s: Double): Unit = {
    val inv = if (s == 0) 1.0 else 1.0 / s
    var y = 0
    while (y < L) { a(base + y) *= inv; y += 1 }
  }

  private def forward(alpha: Array[Double], ePsi: Array[Double], T: Int, L: Int,
                      eTrans: Array[Double]): Unit = {
    var s = 0.0
    var y = 0
    while (y < L) { alpha(y) = ePsi(y); s += alpha(y); y += 1 }
    normalize(alpha, 0, L, s)
    var cur = L
    while (cur < T * L) {
      val prev = cur - L
      s = 0.0
      var y2 = 0
      while (y2 < L) {
        var acc = 0.0
        var yp = 0
        while (yp < L) { acc += alpha(prev + yp) * eTrans(yp * L + y2); yp += 1 }
        val v = acc * ePsi(cur + y2)
        alpha(cur + y2) = v
        s += v
        y2 += 1
      }
      normalize(alpha, cur, L, s)
      cur += L
    }
  }

  private def backward(beta: Array[Double], ePsi: Array[Double], T: Int, L: Int,
                       eTrans: Array[Double]): Unit = {
    java.util.Arrays.fill(beta, (T - 1) * L, T * L, 1.0)
    var cur = (T - 2) * L
    while (cur >= 0) {
      val next = cur + L
      var s = 0.0
      var y = 0
      while (y < L) {
        var acc = 0.0
        var y2 = 0
        while (y2 < L) { acc += eTrans(y * L + y2) * ePsi(next + y2) * beta(next + y2); y2 += 1 }
        beta(cur + y) = acc
        s += acc
        y += 1
      }
      normalize(beta, cur, L, s)
      cur -= L
    }
  }

  /** Marginals ∝ α·β, renormalized per position, into `alpha`. */
  private def posterior(alpha: Array[Double], beta: Array[Double], T: Int, L: Int): Unit = {
    var base = 0
    while (base < T * L) {
      var s = 0.0
      var y = 0
      while (y < L) { val v = alpha(base + y) * beta(base + y); alpha(base + y) = v; s += v; y += 1 }
      normalize(alpha, base, L, s)
      base += L
    }
  }

  // ---------------------------------------------------------------- span walk
  /** The most likely label of the row at `base` (first max wins, label
    * order) — reference `most_likely_entity`. */
  def argmax(marg: Array[Double], base: Int, L: Int): Int = {
    var best = 0
    var i = 1
    while (i < L) { if (marg(base + i) > marg(base + best)) best = i; i += 1 }
    best
  }

  /** The confidence of label `best` at row `base`: its marginal, or under
    * BILOU the sum, in label order, of the marginals of its pool. */
  def confidence(lab: Labels, marg: Array[Double], base: Int, best: Int): Double =
    if (!lab.bilou) marg(base + best)
    else {
      val g = lab.pool(best)
      var c = 0.0
      var i = 0
      while (i < lab.size) { if (lab.pool(i) == g) c += marg(base + i); i += 1 }
      c
    }

  /** Spans from the `T×L` marginals `marg` of tokens `[starts(i), ends(i))`
    * of `text`, reference `_from_crf_to_json` (`crf_extractor.py:452-465`).
    * `words(i)` is token `i`'s text, or `words` is null when every token is
    * its substring of `text`. */
  def spans(lab: Labels, text: String, T: Int, marg: Array[Double],
            starts: Array[Int], ends: Array[Int], words: Array[String]): IndexedSeq[Span] =
    if (lab.bilou) bilouSpans(lab, text, T, marg, starts, ends, words)
    else simpleSpans(lab, text, T, marg, starts, ends, words)

  /** Reference `_handle_bilou_label` and `_find_bilou_end`
    * (`crf_extractor.py:397-450`) with both repair rules: mixed classes
    * inside B-..L- keep B's class; an unclosed B- backs up one token and
    * closes. The span's confidence is the minimum over every token looked
    * at, the one that ended the walk included (0 past the last token). */
  private def bilouSpans(lab: Labels, text: String, T: Int, marg: Array[Double],
                         starts: Array[Int], ends: Array[Int], words: Array[String]): IndexedSeq[Span] = {
    val L = lab.size
    val out = Vector.newBuilder[Span]
    var w = 0
    while (w < T) {
      val best = argmax(marg, w * L, L)
      val pre = lab.prefix(best)
      if (pre == 'U' || pre == 'B') {
        var conf = confidence(lab, marg, w * L, best)
        var end = w
        if (pre == 'B') {
          var k = w + 1
          var open = true
          while (open) {
            if (k >= T) { conf = math.min(conf, 0.0); open = false; end = k - 1 }
            else {
              val b = argmax(marg, k * L, L)
              conf = math.min(conf, confidence(lab, marg, k * L, b))
              lab.prefix(b) match {
                case 'L' => open = false; end = k
                case 'I' => k += 1
                case _ => open = false; end = k - 1
              }
            }
          }
        }
        out += Span(starts(w), ends(end), spanText(text, starts, ends, words, w, end),
          lab.entity(best), conf)
        w = end + 1
      } else w += 1
    }
    out.result()
  }

  /** Reference `_convert_simple_tagging_to_entity_result`
    * (`crf_extractor.py:486-502`): every non-O token is its own span. */
  private def simpleSpans(lab: Labels, text: String, T: Int, marg: Array[Double],
                          starts: Array[Int], ends: Array[Int], words: Array[String]): IndexedSeq[Span] = {
    val L = lab.size
    val out = Vector.newBuilder[Span]
    var i = 0
    while (i < T) {
      val best = argmax(marg, i * L, L)
      if (lab.names(best) != Bilou.NoEntityTag)
        out += Span(starts(i), ends(i), spanText(text, starts, ends, words, i, i),
          lab.names(best), marg(i * L + best))
      i += 1
    }
    out.result()
  }

  /** Reference `_create_entity_dict` (`crf_extractor.py:364-390`): the span
    * value rebuilt from the ORIGINAL text — inter-token bytes preserved
    * verbatim (the byte-identical-text-per-url invariant). */
  private def spanText(text: String, starts: Array[Int], ends: Array[Int], words: Array[String],
                       s: Int, e: Int): String =
    if (words == null) text.substring(starts(s), ends(e))
    else {
      val sb = new java.lang.StringBuilder(words(s))
      var i = s + 1
      while (i <= e) { sb.append(text, ends(i - 1), starts(i)).append(words(i)); i += 1 }
      sb.toString
    }

  // ------------------------------------------------------- contribution table
  /** Open-addressing map from a token key to its W×L contribution row. A key
    * is looked up as a char range of a string with its `String.hashCode`,
    * so a hit allocates nothing. */
  private final class RowTable {
    private var keys = new Array[String](1 << 10)
    private var hashes = new Array[Int](1 << 10)
    private var rows = new Array[Array[Double]](1 << 10)
    var size = 0

    private def index(h: Int, mask: Int): Int = { val x = h * 0x9e3779b9; (x ^ (x >>> 16)) & mask }

    def get(text: String, s: Int, e: Int, h: Int): Array[Double] = {
      val mask = keys.length - 1
      val n = e - s
      var i = index(h, mask)
      var k = keys(i)
      while (k != null) {
        if (hashes(i) == h && k.length == n && k.regionMatches(0, text, s, n)) return rows(i)
        i = (i + 1) & mask
        k = keys(i)
      }
      null
    }

    /** Adds `key`, which must be absent. */
    def put(key: String, h: Int, row: Array[Double]): Unit = {
      if ((size + 1) * 2 > keys.length) grow()
      insert(key, h, row)
      size += 1
    }

    private def insert(key: String, h: Int, row: Array[Double]): Unit = {
      val mask = keys.length - 1
      var i = index(h, mask)
      while (keys(i) != null) i = (i + 1) & mask
      keys(i) = key
      hashes(i) = h
      rows(i) = row
    }

    private def grow(): Unit = {
      val (ks, hs, rs) = (keys, hashes, rows)
      keys = new Array[String](ks.length * 2)
      hashes = new Array[Int](ks.length * 2)
      rows = new Array[Array[Double]](ks.length * 2)
      var i = 0
      while (i < ks.length) { if (ks(i) != null) insert(ks(i), hs(i), rs(i)); i += 1 }
    }
  }

  /** A prefix-free key of a pre-tokenized token's feature inputs. */
  private def tokKey(tok: Tok, dense: Boolean): String = {
    def part(s: String) = if (s == null) "-" else s"${s.length}:$s"
    part(tok.text) + part(tok.pos) + part(tok.shape) + (if (dense) "D" else "")
  }
}

final class CrfDecoder(val model: CrfModel, val vectors: Option[VectorSource] = None) {
  import CrfDecoder._

  private val dense: Option[(VectorSource, String)] =
    if (model.config.useDenseFeatures) vectors.map((_, model.config.denseFeaturesClsPooling))
    else None

  private val labels = new Labels(model)
  private val L = labels.size
  private val cfgFeatures = model.config.features
  private val W = cfgFeatures.length
  private val half = W / 2
  private val slotPrefix = Array.tabulate(W)(slot => (slot - half).toString)
  private val zero = new Array[Double](L)
  private val bosW = model.stateW.getOrElse("BOS", zero)
  private val eosW = model.stateW.getOrElse("EOS", zero)
  private val eTrans = flat(model.expTransW)

  /** Rule-tokenized text: key = the token text (pos "", shape of the text). */
  private val plain = new RowTable
  /** Pre-tokenized or dense tokens: key = [[CrfDecoder.tokKey]]. */
  private val keyed = new RowTable
  private val scratch = new scala.collection.mutable.ArrayBuffer[FeatAtom](16)

  private val offs = new RuleTokenizer.Offsets
  private var words = new Array[String](64)
  private var rows = new Array[Array[Double]](64)
  private val buf = new Buffers

  /** Full inference for one sentence text: tokenize → marginals → BILOU span
    * decode (reference `process`). */
  def process(text: String): IndexedSeq[Span] =
    if (dense.isDefined) processTokens(text, RuleTokenizer.tokenizeWithCls(text))
    else {
      val T = RuleTokenizer.offsets(text, offs)
      ensureTokens(T)
      var t = 0
      while (t < T) { rows(t) = plainRow(text, offs.starts(t), offs.ends(t)); t += 1 }
      decode(text, T, null)
    }

  /** Same, for pre-tokenized input: the full token list, whose last token
    * is dropped (the CLS sentinel, quirk Q1). */
  def processTokens(text: String, tokens: IndexedSeq[Tok]): IndexedSeq[Span] = {
    val T = tokens.length - 1
    if (T <= 0) return IndexedSeq.empty
    val vecs = dense.flatMap { case (src, pooling) => DenseFeatures.getDenseFeatures(tokens, src, pooling) }
    ensureTokens(T)
    offs.clear()
    var t = 0
    while (t < T) {
      val tok = tokens(t)
      offs.add(tok.start, tok.end)
      words(t) = tok.text
      rows(t) = keyedRow(tok, vecs.fold(null: Array[Double])(_(t)))
      t += 1
    }
    decode(text, T, words)
  }

  private def ensureTokens(T: Int): Unit = if (rows.length < T) {
    rows = new Array[Array[Double]](math.max(T, rows.length * 2))
    words = new Array[String](rows.length)
  }

  private def decode(text: String, T: Int, ws: Array[String]): IndexedSeq[Span] =
    if (T == 0) IndexedSeq.empty
    else {
      buf.ensure(T * L)
      potentials(T)
      marginals(buf, T, L, eTrans)
      spans(labels, text, T, buf.alpha, offs.starts, offs.ends, ws)
    }

  /** Node potentials of tokens `0 until T` into `buf.psi`: per window
    * offset, BOS/EOS once when it falls outside the sentence, else the
    * token's contribution for that slot — reference `_features_for_token`
    * (`crf_extractor.py:513-549`), summed in window order. */
  private def potentials(T: Int): Unit = {
    val psi = buf.psi
    var t = 0
    while (t < T) {
      val base = t * L
      java.util.Arrays.fill(psi, base, base + L, 0.0)
      var seenBos = false
      var seenEos = false
      var off = -half
      while (off <= half) {
        val p = t + off
        if (p >= T) {
          if (!seenEos) { addInto(psi, base, eosW, 0); seenEos = true }
        } else if (p < 0) {
          if (!seenBos) { addInto(psi, base, bosW, 0); seenBos = true }
        } else addInto(psi, base, rows(p), (off + half) * L)
        off += 1
      }
      t += 1
    }
  }

  private def addInto(dst: Array[Double], base: Int, src: Array[Double], from: Int): Unit = {
    var y = 0
    while (y < L) { dst(base + y) += src(from + y); y += 1 }
  }

  /** The contribution row of rule token `text[s, e)`. */
  private def plainRow(text: String, s: Int, e: Int): Array[Double] = {
    var h = 0
    var i = s
    while (i < e) { h = 31 * h + text.charAt(i); i += 1 }
    val row = plain.get(text, s, e, h)
    if (row != null) row
    else {
      val word = text.substring(s, e)
      cached(plain, word, h, contributions(CrfToken(word, "", "N/A", Shape.of(word))))
    }
  }

  /** The contribution row of a pre-tokenized token, `vec` its dense vector
    * or null. Dense presence is part of the key: dense atoms are attached
    * all-or-nothing per SENTENCE (one OOV token strips them from every
    * token — `DenseFeatures.getDenseFeatures`), so the same word can occur
    * with and without them. The dense VALUES are a pure function of the
    * text for a fixed source. */
  private def keyedRow(tok: Tok, vec: Array[Double]): Array[Double] = {
    val key = tokKey(tok, vec != null)
    val h = key.hashCode
    val row = keyed.get(key, 0, key.length, h)
    if (row != null) row
    else cached(keyed, key, h, contributions(
      CrfToken(tok.text, tok.pos, "N/A", tok.shape, dense = if (vec == null) Array.empty else vec)))
  }

  private def cached(table: RowTable, key: String, h: Int, row: Array[Double]): Array[Double] = {
    if (table.size < MaxCacheEntries) table.put(key, h, row)
    row
  }

  /** The W×L weight contribution of `token` at each window slot: slot `s`
    * holds Σ_atoms w(attr, y) · weight over the atoms it has at window
    * offset `s - half`. */
  private def contributions(token: CrfToken): Array[Double] = {
    val row = new Array[Double](W * L)
    var slot = 0
    while (slot < W) {
      scratch.clear()
      Featurizer.slotAtoms(token, slotPrefix(slot), cfgFeatures(slot), scratch)
      var i = 0
      while (i < scratch.length) {
        val a = scratch(i)
        val sw = model.stateW.getOrElse(a.attr, null)
        if (sw != null) {
          var y = 0
          while (y < L) { row(slot * L + y) += sw(y) * a.weight; y += 1 }
        }
        i += 1
      }
      slot += 1
    }
    row
  }
}
