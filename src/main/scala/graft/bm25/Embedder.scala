package graft.bm25

import graft.text.{Bm25Tokenizer, TextTokenizer}

/** One token occurrence embedded in the u32 space: `index` is the FxHash32 of
  * the token (carried as unsigned in a Long), `value` its BM25 term-frequency
  * weight. Mirrors `TokenEmbedding` (`/root/reference/src/embedder.rs:38-44`);
  * duplicates are preserved, one entry per occurrence in token order
  * (`embedder.rs:166-172`).
  */
final case class TokenWeight(index: Long, value: Float)

/** A document embedded as its per-occurrence token weights; length = the
  * document's token count (dl). Mirrors `Embedding` (`embedder.rs:53-54`).
  */
final case class DocEmbedding(entries: Array[TokenWeight]) {
  def dl: Int = entries.length
  def indices: Array[Long] = entries.map(_.index)
}

/** BM25 parameters (crate defaults k1=1.2, b=0.75 — `embedder.rs:196-207`,
  * matched to the Scorer defaults named in BASELINE.json's north_star).
  */
final case class Bm25Params(k1: Float = 1.2f, b: Float = 0.75f, avgdl: Float = Embedder.FallbackAvgdl)

/** Text → sparse BM25 embedding, the exact math of `Embedder::embed`
  * (`/root/reference/src/embedder.rs:137-173`): all arithmetic in IEEE-754
  * binary32 with the reference's operand order (see SURVEY.md Appendix B).
  * As a Spark transform this is a pure row-local map — no shuffle.
  */
final class Embedder(val params: Bm25Params, val tokenizer: TextTokenizer,
                     val hasher: TokenHasher = TokenHasher.default) extends Serializable {

  /** Effective avgdl: non-positive values fall back to 256.0
    * (`embedder.rs:129,144-148`).
    */
  private val avgdlEff: Float = if (params.avgdl <= 0.0f) Embedder.FallbackAvgdl else params.avgdl

  def avgdl: Float = params.avgdl

  /** Per-term weight for a document: `tf·(k1+1) / (tf + k1·(1 − b + b·(dl/avgdl)))`
    * in f32, operand-ordered as `embedder.rs:155-164`.
    */
  @inline def weight(tf: Int, dl: Int): Float = {
    val tff = tf.toFloat
    val numerator = tff * (params.k1 + 1.0f)
    val denominator = tff + params.k1 * (1.0f - params.b + params.b * (dl.toFloat / avgdlEff))
    numerator / denominator
  }

  /** Embeds text: one `TokenWeight` per token occurrence, in token order. */
  def embed(text: String): DocEmbedding = {
    val tokens = tokenizer.tokenize(text)
    val dl = tokens.length
    val indices = new Array[Long](dl)
    var i = 0
    while (i < dl) { indices(i) = hasher.hash(tokens(i)); i += 1 }
    // per-index tf (row-local fold, mirrors the HashMap fold at embedder.rs:150-154)
    val counts = new LongIntMap(dl)
    i = 0
    while (i < dl) { counts.increment(indices(i)); i += 1 }
    val entries = new Array[TokenWeight](dl)
    i = 0
    while (i < dl) {
      entries(i) = TokenWeight(indices(i), weight(counts.get(indices(i)), dl))
      i += 1
    }
    DocEmbedding(entries)
  }

  /** Distinct (term, tf) pairs plus dl for a text — the index-build form
    * (posting rows carry integer tf/dl; the f32 weight is reconstructed at
    * query time with this embedder's exact `weight`, which commutes with the
    * reference's upsert-time computation).
    */
  def termFrequencies(text: String): (Array[Long], Array[Int], Int) = {
    val (counts, dl) = tokenizer match {
      // Fused path (stock hashers only): region-cached tokenize+hash — no
      // token array, no per-token allocation on cache hits. Identical
      // output by construction (same stopword/stem/hash tables, same
      // insertion order); FusedPathSpec asserts it.
      case b: Bm25Tokenizer if graft.text.TokenHashCache.supports(hasher) =>
        val counts = new LongIntMap(64)
        (counts, b.foreachTermHash(text, hasher)(counts.increment))
      case _ =>
        val tokens = tokenizer.tokenize(text)
        val dl = tokens.length
        val counts = new LongIntMap(dl)
        var i = 0
        while (i < dl) { counts.increment(hasher.hash(tokens(i))); i += 1 }
        (counts, dl)
    }
    val terms = new Array[Long](counts.size)
    val tfs = new Array[Int](counts.size)
    var i = 0
    counts.foreachOrdered { (k, v) => terms(i) = k; tfs(i) = v; i += 1 }
    (terms, tfs, dl)
  }
}

object Embedder {
  /** `embedder.rs:129`: used when avgdl ≤ 0 or the fit corpus is empty. */
  val FallbackAvgdl: Float = 256.0f

  def apply(tokenizer: TextTokenizer = Bm25Tokenizer.default,
            k1: Float = 1.2f, b: Float = 0.75f, avgdl: Float = FallbackAvgdl,
            hasher: TokenHasher = TokenHasher.default): Embedder =
    new Embedder(Bm25Params(k1, b, avgdl), tokenizer, hasher)

  /** avgdl fit over an in-memory corpus (`embedder.rs:213-237`): exact
    * integer token-count sum, f64 division, f32 cast. A distributed corpus
    * gets the same numerics from the index builder's stats stage.
    */
  def fitAvgdlLocal(corpus: IterableOnce[String], tokenizer: TextTokenizer): Float = {
    var total = 0L
    var n = 0L
    corpus.iterator.foreach { t => total += tokenizer.tokenize(t).length.toLong; n += 1 }
    if (n == 0L) FallbackAvgdl else (total.toDouble / n.toDouble).toFloat
  }
}
