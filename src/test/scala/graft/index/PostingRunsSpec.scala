package graft.index

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Unit round-trip tests for the map-side run codec behind the distributed
  * multi-way posting merge (PostingRuns): random posting sets must survive
  * buffer → chunk → cursor → k-way merge with exact (shard, term, doc, tf,
  * dl) fidelity and global ordering — including FULL 64-bit (and negative)
  * term hashes, the class of values the round-2 packed-skey format truncated.
  */
class PostingRunsSpec extends AnyFunSuite {

  private val PrefixBits = 2
  private val BucketsPerShard = 1 << PrefixBits

  /** Writer sort order: (shard, bucket(term), term, doc). */
  private def sortKey(p: (Int, Long, Long, Int, Int)): (Int, Int, Long, Long) =
    (p._1, PostingRuns.bucketOf(p._2, PrefixBits), p._2, p._3)

  private def roundTrip(postings: Seq[(Int, Long, Long, Int, Int)],
                        capacity: Int)
      : Seq[(Int, Seq[(Int, Long, Long, Int, Int)])] = {
    val buf = new PostingRuns.RunBuffer(capacity, BucketsPerShard, PrefixBits)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
    postings.foreach { case (shard, term, doc, tf, dl) =>
      buf.add(shard, term, doc, tf, dl)
      if (buf.isFull) out ++= buf.flush()
    }
    if (buf.nonEmpty) out ++= buf.flush()
    out.toSeq.map { case (pkey, bytes) =>
      val c = new PostingRuns.RunCursor(bytes, PrefixBits)
      val decoded = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Int, Int)]
      while (c.advance()) decoded += ((c.shard, c.term, c.doc, c.tf, c.dl))
      (pkey, decoded.toSeq)
    }
  }

  private def pkeyOf(shard: Int, term: Long): Int =
    shard * BucketsPerShard + PostingRuns.bucketOf(term, PrefixBits)

  test("random postings round-trip chunks exactly, sorted within chunk") {
    val rnd = new Random(7)
    val postings = Seq.fill(5000) {
      (rnd.nextInt(8), rnd.nextInt(1000).toLong,
        rnd.nextLong(1L << 40), 1 + rnd.nextInt(64), 1 + rnd.nextInt(4096))
    }.distinctBy(p => (p._1, p._2, p._3)) // one (shard, term, doc) per posting
    val chunks = roundTrip(postings, capacity = 257)

    // every chunk is internally sorted and routed to its pkey
    chunks.foreach { case (pkey, ps) =>
      assert(ps.map(sortKey) === ps.map(sortKey).sorted, "chunk unsorted")
      ps.foreach(p => assert(pkeyOf(p._1, p._2) === pkey, "posting in wrong pkey chunk"))
    }
    // the union of all chunks is exactly the input multiset
    assert(chunks.flatMap(_._2).sorted === postings.sorted)
  }

  test("full-64-bit and negative term hashes round-trip exactly (fx64/custom)") {
    val rnd = new Random(41)
    // terms across the whole signed-long range, incl. values > 2^32 and < 0
    val postings = Seq.fill(4000) {
      (rnd.nextInt(4), rnd.nextLong(),
        rnd.nextLong(1L << 50), 1 + rnd.nextInt(31), 1 + rnd.nextInt(512))
    }.distinctBy(p => (p._1, p._2, p._3)) ++ Seq(
      (0, Long.MaxValue, 1L, 1, 1),
      (0, Long.MinValue, 2L, 2, 2),
      (3, -1L, 3L, 3, 3),
      (3, 1L << 33, 4L, 4, 4)) // the exact class the packed skey corrupted
    val chunks = roundTrip(postings, capacity = 129)
    assert(chunks.flatMap(_._2).sorted === postings.sorted)
  }

  test("k-way merge of cursors reproduces the writer-ordered stream") {
    val rnd = new Random(13)
    val postings = Seq.fill(2000) {
      (rnd.nextInt(2), rnd.nextLong(), // full 64-bit terms through the merge
        rnd.nextLong(1L << 30), 1 + rnd.nextInt(9), 1 + rnd.nextInt(99))
    }.distinctBy(p => (p._1, p._2, p._3))
    val buf = new PostingRuns.RunBuffer(64, BucketsPerShard, PrefixBits)
    val pq = new java.util.PriorityQueue[PostingRuns.RunCursor](64,
      (a: PostingRuns.RunCursor, b: PostingRuns.RunCursor) =>
        PostingRuns.compareCursors(a, b))
    def drain(): Unit = buf.flush().foreach { case (_, bytes) =>
      val c = new PostingRuns.RunCursor(bytes, PrefixBits)
      if (c.advance()) pq.add(c)
    }
    postings.foreach { p =>
      buf.add(p._1, p._2, p._3, p._4, p._5)
      if (buf.isFull) drain()
    }
    drain()
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Int, Int)]
    while (!pq.isEmpty) {
      val c = pq.poll()
      merged += ((c.shard, c.term, c.doc, c.tf, c.dl))
      if (c.advance()) pq.add(c)
    }
    assert(merged.toSeq === postings.sortBy(sortKey))
    // all postings of one (shard, term) are contiguous in the merged stream
    val seen = scala.collection.mutable.Set.empty[(Int, Long)]
    var cur: (Int, Long) = null
    merged.foreach { p =>
      val k = (p._1, p._2)
      if (k != cur) { assert(!seen.contains(k), s"group $k split"); seen += k; cur = k }
    }
  }

  test("empty buffer, single posting, and max-value edges") {
    val one = roundTrip(Seq((5, 42L, Long.MaxValue - 1, Int.MaxValue, 1)), 8)
    assert(one.map(_._2) === Seq(Seq((5, 42L, Long.MaxValue - 1, Int.MaxValue, 1))))
    assert(one.head._1 === pkeyOf(5, 42L))
    val buf = new PostingRuns.RunBuffer(4, BucketsPerShard, PrefixBits)
    assert(buf.flush().isEmpty)
  }
}
