package graft.index

/** Delta + variable-byte (LEB128) codec for posting blocks.
  *
  * The reference keeps postings as in-memory HashSets
  * (`/root/reference/src/scorer.rs:25-26`); at 10^12-doc scale we persist
  * them as compressed blocks instead (north_star: "delta-encoded +
  * variable-byte compressed posting blocks with block-max metadata").
  * Doc ids are sorted ascending within a block → gaps ≥ 0 (first value
  * stored absolute); tf/dl streams are plain varbyte.
  */
object PostingCodec {

  private def writeVarLong(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  def encodeDeltas(sorted: Array[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(sorted.length * 2)
    var prev = 0L
    var i = 0
    while (i < sorted.length) {
      val d = if (i == 0) sorted(0) else sorted(i) - prev
      require(d >= 0, s"doc ids not sorted: ${sorted(i)} after $prev")
      writeVarLong(out, d)
      prev = sorted(i)
      i += 1
    }
    out.toByteArray
  }

  /** Reads consecutive varbyte values from `bytes`, from `pos` on. */
  private final class Reader(bytes: Array[Byte], private var pos: Int) {
    def next(): Long = {
      var shift = 0
      var v = 0L
      var b = 0
      do {
        b = bytes(pos) & 0xff
        v |= (b & 0x7fL) << shift
        shift += 7
        pos += 1
      } while ((b & 0x80) != 0)
      v
    }
    def deltas(n: Int, out: Array[Long]): Unit = {
      var acc = 0L
      var i = 0
      while (i < n) { acc += next(); out(i) = acc; i += 1 }
    }
    def ints(n: Int, out: Array[Int]): Unit = {
      var i = 0
      while (i < n) { out(i) = next().toInt; i += 1 }
    }
  }

  def decodeDeltas(bytes: Array[Byte], n: Int): Array[Long] = {
    val out = new Array[Long](n)
    new Reader(bytes, 0).deltas(n, out)
    out
  }

  def encodeInts(xs: Array[Int]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(xs.length)
    var i = 0
    while (i < xs.length) { writeVarLong(out, xs(i).toLong); i += 1 }
    out.toByteArray
  }

  def decodeInts(bytes: Array[Byte], n: Int): Array[Int] = {
    val out = new Array[Int](n)
    new Reader(bytes, 0).ints(n, out)
    out
  }

  /** Decodes one block of `n` postings whose doc-delta, tf and dl streams
    * lie back to back in `bytes` from `from` into the first `n` slots of
    * `docs`, `tfs` and `dls`.
    */
  def decodeBlock(bytes: Array[Byte], from: Int, n: Int,
                  docs: Array[Long], tfs: Array[Int], dls: Array[Int]): Unit = {
    val r = new Reader(bytes, from)
    r.deltas(n, docs)
    r.ints(n, tfs)
    r.ints(n, dls)
  }
}
