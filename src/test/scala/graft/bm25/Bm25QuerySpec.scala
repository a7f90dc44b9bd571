package graft.bm25

import org.scalatest.funsuite.AnyFunSuite

/** The compiled query's slots, fold and block bound (the fold's bit-exact
  * equality with a plain occurrence-order loop is a property in
  * `graft.PropertyChecks`).
  */
class Bm25QuerySpec extends AnyFunSuite {
  private def bits(f: Float) = java.lang.Float.floatToRawIntBits(f)

  test("terms with df 0 get no slot") {
    val dfs = Map(10L -> 3L, 30L -> 7L)
    val q = Bm25Query(Array(10L, 20L, 30L, 20L), dfs.getOrElse(_, 0L), 100L)
    assert(q.terms.toSeq === Seq(10L, 30L))
    assert(q.slotOf(20L) === -1 && q.slotOf(30L) === 1)
    assert(q.slots.toSeq === Seq(0, 1))
    assert(q.mults.toSeq === Seq(1, 1))
    assert(q.idfs.map(bits).toSeq === Seq(Bm25Math.idf(100L, 3L), Bm25Math.idf(100L, 7L)).map(bits))
    assert(Bm25Query(Array(20L), _ => 0L, 100L).isEmpty)
  }

  test("a repeated token scales both the fold and the bound by its multiplicity") {
    val df: Long => Long = Map(1L -> 4L, 2L -> 9L)
    val once = Bm25Query(Array(1L, 2L), df, 50L)
    val thrice = Bm25Query(Array(1L, 2L, 1L, 1L), df, 50L)
    assert(thrice.terms.toSeq === once.terms.toSeq)
    assert(thrice.mults.toSeq === Seq(3, 1))
    assert(thrice.slots.toSeq === Seq(0, 1, 0, 0))
    val w = 1.3f
    // the fold adds idf·w once per occurrence, in token order
    val x = once.idfs(0) * w
    assert(bits(thrice.score(Array(w, 0.0f))) === bits(x + x + x))
    assert(bits(once.score(Array(w, 0.0f))) === bits(x))
    assert(thrice.blockBound(0, w) === 3 * once.blockBound(0, w))
    assert(thrice.blockBound(1, w) === once.blockBound(1, w))
    // the bound never falls below what the fold adds
    assert(thrice.blockBound(0, w) >= thrice.score(Array(w, 0.0f)).toDouble)
  }
}
