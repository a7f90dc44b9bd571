package graft.index

/** Map-side posting runs for the distributed multi-way posting merge.
  *
  * Instead of shuffling one 32-byte row per posting and externally sorting
  * each reduce partition (the memory-bandwidth bottleneck of the build at
  * scale), each map task locally sorts bounded buffers of postings and emits
  * delta+varbyte-encoded CHUNKS (~10 B/posting) keyed by a (shard,
  * term-bucket) group. Reduce tasks k-way-merge the sorted chunks straight
  * into posting blocks — the shuffle carries 3× less data and the reduce
  * side needs no sort at all.
  *
  * The term is carried as a FULL 64-bit value end-to-end (any TokenHasher —
  * fx32, fx64, custom — round-trips exactly). The shuffle bucket is derived
  * from a mix (murmur fmix64) of the term rather than its raw top bits, so
  * the group fan-out is uniform for every hash width; fmix64 is a bijection,
  * so equal mixes ⇔ equal terms and the sort stays a total order.
  *
  * Chunk format (one chunk = one pkey group from one buffer flush; shard is
  * constant within a chunk, groups ordered by (bucket(term), term)):
  *
  *   chunk := shard:varint  group*
  *   group := termDelta:varlong  cnt:varint  cnt × (docDelta:varlong
  *            tf:varint dl:varint)
  *
  * termDelta is from the previous group in the chunk (first vs 0); deltas
  * use two's-complement wraparound, so arbitrary signed 64-bit terms and doc
  * ids are exact. docDelta is from the previous posting in the group (first
  * absolute). A (term, doc) pair exists in exactly one map partition (the
  * forward index holds one row per doc), so merge order is total and the
  * output is deterministic.
  */
private[index] object PostingRuns {

  /** MurmurHash3 64-bit finalizer (public domain): bijective avalanche mix. */
  @inline def fmix64(v0: Long): Long = {
    var v = v0
    v ^= v >>> 33
    v *= 0xff51afd7ed558ccdL
    v ^= v >>> 33
    v *= 0xc4ceb9fe1a85ec53L
    v ^= v >>> 33
    v
  }

  /** Uniform term bucket within a shard: top `prefixBits` of the mixed term. */
  @inline def bucketOf(term: Long, prefixBits: Int): Int =
    if (prefixBits == 0) 0 else (fmix64(term) >>> (64 - prefixBits)).toInt

  /** Buffered map-side collector: sort (gkey, term, doc) → split by gkey →
    * encode. gkey = shard·bucketsPerShard + bucket(term) is the chunk's
    * merge-group key.
    */
  final class RunBuffer(capacity: Int, bucketsPerShard: Int, prefixBits: Int) {
    private val gkeys = new Array[Long](capacity)
    private val terms = new Array[Long](capacity)
    private val docs = new Array[Long](capacity)
    private val tfdls = new Array[Long](capacity)
    private var n = 0

    def add(shard: Int, term: Long, doc: Long, tf: Int, dl: Int): Unit = {
      gkeys(n) = shard.toLong * bucketsPerShard + bucketOf(term, prefixBits)
      terms(n) = term
      docs(n) = doc
      tfdls(n) = (tf.toLong << 32) | (dl.toLong & 0xFFFFFFFFL)
      n += 1
    }
    def isFull: Boolean = n == capacity
    def nonEmpty: Boolean = n > 0

    @inline private def shardAt(i: Int): Int = (gkeys(i) / bucketsPerShard).toInt

    def flush(): Iterator[(Int, Array[Byte])] = {
      if (n == 0) return Iterator.empty
      sort3(0, n - 1)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
      var i = 0
      while (i < n) {
        val gk = gkeys(i)
        val bos = new java.io.ByteArrayOutputStream(1024)
        writeVar(bos, shardAt(i).toLong)
        var prevTerm = 0L
        // encode all consecutive terms sharing this gkey
        while (i < n && gkeys(i) == gk) {
          val term = terms(i)
          var j = i
          while (j < n && gkeys(j) == gk && terms(j) == term) j += 1
          writeVar(bos, term - prevTerm) // wraparound delta: exact for any Long
          writeVar(bos, (j - i).toLong)
          var prevDoc = 0L
          var k = i
          while (k < j) {
            writeVar(bos, if (k == i) docs(k) else docs(k) - prevDoc)
            prevDoc = docs(k)
            writeVar(bos, tfdls(k) >>> 32)
            writeVar(bos, tfdls(k) & 0xFFFFFFFFL)
            k += 1
          }
          prevTerm = term
          i = j
        }
        out += ((gk.toInt, bos.toByteArray))
      }
      n = 0
      out.iterator
    }

    private def writeVar(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0L) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }

    // quicksort of the parallel arrays by (gkey, term, doc); median-of-3 pivot
    private def sort3(lo0: Int, hi0: Int): Unit = {
      var lo = lo0; var hi = hi0
      while (lo < hi) {
        if (hi - lo < 24) { insertion(lo, hi); return }
        val mid = (lo + hi) >>> 1
        // median-of-three into mid
        if (less(mid, lo)) swap(mid, lo)
        if (less(hi, mid)) { swap(hi, mid); if (less(mid, lo)) swap(mid, lo) }
        val pg = gkeys(mid); val pt = terms(mid); val pd = docs(mid)
        var i = lo; var j = hi
        while (i <= j) {
          while (lessK(i, pg, pt, pd)) i += 1
          while (grtK(j, pg, pt, pd)) j -= 1
          if (i <= j) { swap(i, j); i += 1; j -= 1 }
        }
        // recurse into the smaller side, loop on the larger
        if (j - lo < hi - i) { sort3(lo, j); lo = i } else { sort3(i, hi); hi = j }
      }
    }
    @inline private def lessK(a: Int, g: Long, t: Long, d: Long): Boolean =
      gkeys(a) < g || (gkeys(a) == g && (terms(a) < t || (terms(a) == t && docs(a) < d)))
    @inline private def grtK(a: Int, g: Long, t: Long, d: Long): Boolean =
      gkeys(a) > g || (gkeys(a) == g && (terms(a) > t || (terms(a) == t && docs(a) > d)))
    @inline private def less(a: Int, b: Int): Boolean =
      lessK(a, gkeys(b), terms(b), docs(b))
    @inline private def swap(a: Int, b: Int): Unit = {
      var t = gkeys(a); gkeys(a) = gkeys(b); gkeys(b) = t
      t = terms(a); terms(a) = terms(b); terms(b) = t
      t = docs(a); docs(a) = docs(b); docs(b) = t
      t = tfdls(a); tfdls(a) = tfdls(b); tfdls(b) = t
    }
    private def insertion(lo: Int, hi: Int): Unit = {
      var i = lo + 1
      while (i <= hi) {
        val g = gkeys(i); val tm = terms(i); val d = docs(i); val t = tfdls(i)
        var j = i - 1
        while (j >= lo && grtK(j, g, tm, d)) {
          gkeys(j + 1) = gkeys(j); terms(j + 1) = terms(j)
          docs(j + 1) = docs(j); tfdls(j + 1) = tfdls(j)
          j -= 1
        }
        gkeys(j + 1) = g; terms(j + 1) = tm; docs(j + 1) = d; tfdls(j + 1) = t
        i += 1
      }
    }
  }

  /** Streaming decoder over one chunk: yields (shard, term, doc, tf, dl) in
    * ((bucket(term), term), doc) order with O(1) state. `prefixBits` must
    * match the writer so cursor comparison reproduces the chunk order.
    */
  final class RunCursor(bytes: Array[Byte], prefixBits: Int) {
    private var pos = 0
    private var remaining = 0
    val shard: Int = readVar().toInt
    var term = 0L
    var bucket = 0 // bucketOf(term, prefixBits), cached per group
    var doc = 0L
    var tf = 0
    var dl = 0

    /** Advance to the next posting; false when exhausted. */
    def advance(): Boolean = {
      var fresh = false
      if (remaining == 0) {
        if (pos >= bytes.length) return false
        term += readVar()
        bucket = bucketOf(term, prefixBits)
        remaining = readVar().toInt
        fresh = true
      }
      val delta = readVar()
      doc = if (fresh) delta else doc + delta
      tf = readVar().toInt
      dl = readVar().toInt
      remaining -= 1
      true
    }

    private def readVar(): Long = {
      var shift = 0; var v = 0L; var b = 0
      do {
        b = bytes(pos) & 0xff
        v |= (b & 0x7fL) << shift
        shift += 7
        pos += 1
      } while ((b & 0x80) != 0)
      v
    }
  }

  /** Total merge order matching the writer's sort: (shard, bucket, term, doc). */
  def compareCursors(a: RunCursor, b: RunCursor): Int = {
    var c = Integer.compare(a.shard, b.shard)
    if (c != 0) return c
    c = Integer.compare(a.bucket, b.bucket)
    if (c != 0) return c
    c = java.lang.Long.compare(a.term, b.term)
    if (c != 0) c else java.lang.Long.compare(a.doc, b.doc)
  }
}
