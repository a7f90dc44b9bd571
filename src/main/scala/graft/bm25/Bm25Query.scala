package graft.bm25

/** A query compiled once against a df lookup and a document count N, and
  * scored by every route (the index's exhaustive scorer and WAND kernel,
  * its point score, the engine's changed docs) through the same `score`
  * and `blockBound`.
  *
  *   - `terms`: the query's distinct terms with df > 0, in first-occurrence
  *     order, one slot each; a term the corpus lacks adds 0 to every score
  *     and gets no slot;
  *   - `idfs`: each slot's f32 idf (`Bm25Math.idf(N, df)`);
  *   - `mults`: each slot's multiplicity among the query tokens;
  *   - `slots`: the slot of each query occurrence of a present term, in
  *     token order: the reference's f32 accumulation order
  *     (`src/scorer.rs:109-123`).
  */
final case class Bm25Query(terms: Array[Long], idfs: Array[Float], mults: Array[Int],
                           slots: Array[Int]) {
  def isEmpty: Boolean = terms.isEmpty

  def size: Int = terms.length

  /** The slot of `term`, or -1 when the query has none for it. */
  def slotOf(term: Long): Int = {
    var s = 0
    while (s < terms.length && terms(s) != term) s += 1
    if (s < terms.length) s else -1
  }

  /** The BM25 score of a doc whose weight for slot `s` is
    * `weightBySlot(s)` (0 when it lacks the term): idf·weight summed in f32
    * in query-occurrence order, zero weights skipped (adding 0f is exact).
    */
  def score(weightBySlot: Array[Float]): Float = {
    var score = 0.0f
    var i = 0
    while (i < slots.length) {
      val s = slots(i)
      val w = weightBySlot(s)
      if (w != 0.0f) score += idfs(s) * w
      i += 1
    }
    score
  }

  /** An upper bound on slot `s`'s part of any score whose weight for it is
    * at most `maxWeight`: mult·idf·weight, each f32 product rounded up a
    * step, so the bound never falls below what the fold adds.
    */
  def blockBound(s: Int, maxWeight: Float): Double =
    mults(s) * Math.nextUp(idfs(s) * Math.nextUp(maxWeight)).toDouble
}

object Bm25Query {

  /** Compiles the query occurrences `occ` (hashed tokens, duplicates kept,
    * in token order) against `df` (0 for a term the corpus lacks) and `nDocs`.
    */
  def apply(occ: Array[Long], df: Long => Long, nDocs: Long): Bm25Query = {
    val present = occ.distinct.map(t => (t, df(t))).filter(_._2 > 0L)
    val terms = present.map(_._1)
    val slots = occ.map(t => terms.indexOf(t)).filter(_ >= 0)
    Bm25Query(terms, present.map { case (_, d) => Bm25Math.idf(nDocs, d) },
      terms.indices.map(s => slots.count(_ == s)).toArray, slots)
  }
}
