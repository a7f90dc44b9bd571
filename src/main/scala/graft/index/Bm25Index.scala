package graft.index

import graft.bm25.{Bm25Params, Embedder}
import graft.text.{Bm25Tokenizer, Language, TextTokenizer}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One decoded posting: a (doc, term) pair with integer tf and the doc's
  * token count.
  */
final case class Posting(doc_id: Long, term: Long, tf: Int, dl: Int)

final case class ScoredDoc(doc_id: Long, score: Float)

/** Distributed BM25 retrieval over a built index (SURVEY §3.1 plan):
  * driver-side query embedding (pure function, no job) → term-stat lookup
  * with bucket/row-group pruning → pruned posting-block scan → per-candidate
  * f32 score fold (query-occurrence order, `/root/reference/src/scorer.rs:109-123`)
  * → `TakeOrderedAndProject` top-k.
  *
  * Candidate generation is disjunctive (docs sharing ≥1 query term,
  * `scorer.rs:79-97`); ties are broken deterministically (score desc,
  * doc_id asc) — the reference's tie order is HashSet-nondeterministic and
  * its own snapshot tests sort by id (`search.rs:497-498`).
  *
  * Two physical modes:
  *   - `exhaustive`: scores every candidate (the reference semantics,
  *     1:1; used as the parity gate and as the WAND cross-check).
  *   - `wand`: block-max WAND with a per-partition top-k heap — skips
  *     decoding blocks whose upper bound cannot enter the current top-k.
  *     Safe/exact for monotone additive scores, so rank-identical.
  */
final class Bm25Index(spark: SparkSession, val indexDir: String,
                      customTokenizer: Option[TextTokenizer] = None,
                      k1: Float = 1.2f, b: Float = 0.75f,
                      customHasher: Option[graft.bm25.TokenHasher] = None,
                      wandRangesPerShard: Int = 0,
                      avgdlOverride: Option[Float] = None) extends Serializable {
  import spark.implicits._

  val manifest: IndexManifest = IndexManifest.read(indexDir)

  val tokenizer: TextTokenizer = customTokenizer.getOrElse {
    val tc = manifest.tokenizer
    require(tc.language != "custom",
      "index was built with a custom tokenizer; pass it to Bm25Index explicitly")
    Bm25Tokenizer(Language.fromName(tc.language).getOrElse(Language.English),
      tc.normalization, tc.stopwords, tc.stemming)
  }

  val hasher: graft.bm25.TokenHasher = customHasher.getOrElse {
    graft.bm25.TokenHasher.fromName(manifest.hasher).getOrElse(
      throw new IllegalArgumentException(
        s"index was built with hasher '${manifest.hasher}'; pass it to Bm25Index explicitly"))
  }

  val params: Bm25Params = Bm25Params(k1, b, avgdlOverride.getOrElse(manifest.avgdl))
  private val embedder = new Embedder(params, tokenizer, hasher)

  def nDocs: Long = manifest.nDocs

  // An index dir never changes after it is built (compaction writes a new
  // dir and swaps it in), so each table is resolved once per instance: later
  // reads skip the parquet schema-inference job and the file listing.
  @transient private lazy val termStatsTable = spark.read.parquet(s"$indexDir/termstats")
  @transient private lazy val postingsTable = spark.read.parquet(s"$indexDir/postings")
  @transient private[graft] lazy val forwardTable = spark.read.parquet(s"$indexDir/forward")

  /** The index's doc ids: the sorted 8-byte `docids` sidecar (fresh builds
    * and compactions write it), so a membership probe reads a handful of
    * stats-pruned row groups instead of the forward table; index dirs from
    * before the sidecar fall back to the forward table's ids.
    */
  @transient private[graft] lazy val docIdsTable: DataFrame = {
    val sidecar = new org.apache.hadoop.fs.Path(s"$indexDir/docids")
    if (sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(sidecar))
      spark.read.parquet(sidecar.toString)
    else forwardTable.select($"doc_id")
  }

  /** Sub-ranges per shard for the WAND query fan-out (task count scales as
    * numShards × this — numShards is not a parallelism ceiling).
    */
  def wandFanoutRangesPerShard: Int =
    if (wandRangesPerShard > 0) wandRangesPerShard
    else math.max(1,
      (spark.sparkContext.defaultParallelism * 2) / math.max(manifest.numShards, 1))

  /** IDF exactly as `scorer.rs:99-107`: f32 throughout, df = number of docs
    * containing the term, N = total docs.
    */
  def idf(df: Long): Float = graft.bm25.Bm25Math.idf(nDocs, df)

  /** df lookup for query terms: bucket-pruned termstats scan (reads only the
    * term buckets the query touches, then row-group pruning via the sorted
    * term column).
    */
  def termDfs(terms: Array[Long]): Map[Long, Long] = {
    if (terms.isEmpty) return Map.empty
    termStatsFor(terms)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
  }

  /** The (term, df) rows for `terms` as a DataFrame — the single definition
    * of the bucket+term-pruned termstats scan (shared by the collected
    * termDfs lookup, the exhaustive scorer's broadcast side, and catalog
    * queries that ride the df lookup inside their own plan).
    */
  def termStatsFor(terms: Array[Long]): DataFrame = {
    val buckets = terms.map(manifest.bucketOf).distinct
    termStatsTable
      .where($"bucket".isin(buckets.map(Int.box): _*) && $"term".isin(terms.map(Long.box): _*))
      .select($"term", $"df")
  }

  /** Decoded postings of the given terms (pruned scan over posting blocks). */
  def postingsFor(terms: Array[Long]): Dataset[Posting] = {
    if (terms.isEmpty) return spark.emptyDataset[Posting]
    postingsTable
      .where($"term".isin(terms: _*))
      .select($"term", $"cnt", $"docs", $"tfs", $"dls")
      .as[(Long, Int, Array[Byte], Array[Byte], Array[Byte])]
      .flatMap { case (term, cnt, docsB, tfsB, dlsB) =>
        val docs = PostingCodec.decodeDeltas(docsB, cnt)
        val tfs = PostingCodec.decodeInts(tfsB, cnt)
        val dls = PostingCodec.decodeInts(dlsB, cnt)
        Iterator.tabulate(cnt)(i => Posting(docs(i), term, tfs(i), dls(i)))
      }
  }

  /** Query-occurrence term sequence (duplicates preserved, in token order) —
    * the f32 accumulation order of the reference's score kernel.
    */
  def queryTerms(query: String): Array[Long] =
    tokenizer.tokenize(query).map(hasher.hash)

  /** Top-k search over the index. Returns (doc_id, score) sorted by
    * (score desc, doc_id asc), limited to `limit` if given — all documents
    * sharing ≥1 query term otherwise (the reference's unlimited search).
    */
  def search(query: String, limit: Option[Int] = None, mode: String = "exhaustive"): Dataset[ScoredDoc] = {
    val qOcc = queryTerms(query)
    if (qOcc.isEmpty) return spark.emptyDataset[ScoredDoc]
    val distinctTerms = qOcc.distinct

    val scored = mode match {
      case "wand" if limit.isDefined =>
        // WAND needs idfs up front (block bounds) → one small termstats
        // lookup, then the pruned merge.
        val dfs = termDfs(distinctTerms)
        val present = distinctTerms.filter(dfs.contains)
        if (present.isEmpty) return spark.emptyDataset[ScoredDoc]
        val idfs = distinctTerms.iterator.map(t => t -> idf(dfs.getOrElse(t, 0L))).toMap
        wandTopK(qOcc, present, idfs, limit.get, Array.empty, None)
      case _ =>
        exhaustive(qOcc, distinctTerms)
    }
    val sorted = scored.orderBy($"score".desc, $"doc_id".asc)
    limit.map(sorted.limit).getOrElse(sorted).as[ScoredDoc]
  }

  /** Reference-exact scoring of every candidate (disjunctive union), as ONE
    * Spark job: the per-term df rides into the score fold via a broadcast
    * join with the pruned termstats (no driver round-trip; idf is computed
    * in f32 inside the fold, identically to `scorer.rs:99-123`).
    */
  private def exhaustive(qOcc: Array[Long], terms: Array[Long]): Dataset[ScoredDoc] = {
    val emb = embedder
    val n = nDocs
    val qOccB = spark.sparkContext.broadcast(qOcc)
    val stats = termStatsFor(terms)
    postingsFor(terms).toDF()
      .join(broadcast(stats), "term")
      .select($"doc_id", $"term", $"tf", $"dl", $"df")
      .as[(Long, Long, Int, Int, Long)]
      .groupByKey(_._1)
      .mapGroups { (docId, rows) =>
        val values = new java.util.HashMap[Long, Float](16)
        val idfs = new java.util.HashMap[Long, Float](16)
        rows.foreach { case (_, term, tf, dl, df) =>
          values.putIfAbsent(term, emb.weight(tf, dl))
          idfs.putIfAbsent(term, graft.bm25.Bm25Math.idf(n, df))
        }
        var score = 0.0f
        val occ = qOccB.value
        var i = 0
        while (i < occ.length) {
          val v = values.get(occ(i)) // 0.0f when absent — adding 0f is exact
          if (v != 0.0f) score += idfs.get(occ(i)) * v
          i += 1
        }
        ScoredDoc(docId, score)
      }
  }

  /** Block-max WAND, document-at-a-time: per shard (doc-range partition),
    * the query terms' posting blocks form doc-sorted cursors that are merged
    * doc-at-a-time with a k-sized heap. Before a cursor decodes its next
    * block, the block's upper bound (idf·weight(max_tf, min_dl), nextUp-
    * padded) plus the other terms' partition-wide bounds is compared to the
    * current k-th score: strictly-below blocks are skipped without decoding.
    * Memory is O(k + blockSize·|terms|) regardless of posting length; the
    * pruning is conservative, so results are rank- and bit-identical to the
    * exhaustive scorer (asserted in Bm25IndexSpec).
    *
    * `idfs` are the caller's (the engine passes live df/N), `exclude` is a
    * sorted array of doc ids passed over unscored (the engine's superseded
    * docs), and `skipAcc` counts pruned blocks. With `k = Int.MaxValue` the
    * threshold never rises above −∞, so nothing is pruned and every
    * candidate is scored: the engine's unlimited search.
    */
  private[graft] def wandTopK(qOcc: Array[Long], present: Array[Long],
                              idfs: Map[Long, Float], k: Int,
                              exclude: Array[Long],
                              skipAcc: Option[org.apache.spark.util.LongAccumulator]): Dataset[ScoredDoc] = {
    val emb = embedder
    val qOccB = spark.sparkContext.broadcast(qOcc)
    val idfB = spark.sparkContext.broadcast(idfs)
    val exclB = spark.sparkContext.broadcast(exclude)
    // Query-token multiplicity: the score fold adds idf·weight once per
    // occurrence in qOcc (scorer.rs:109-123), so a term repeated m times
    // contributes m× — bounds must scale by m or block skips are unsafe.
    val multB = spark.sparkContext.broadcast(
      qOcc.groupBy(identity).map { case (t, a) => t -> a.length })
    // Query fan-out is decoupled from numShards: each shard's doc range is
    // split into R sub-ranges and every block is routed to the sub-ranges
    // it overlaps (cursors filter decoded postings to their range), so the
    // task count scales with the cluster instead of the shard count.
    val numShards = manifest.numShards
    val rangesPerShard = wandFanoutRangesPerShard
    val shardBounds = manifest.shardBounds
    def shardLow(s: Int): Long =
      math.max(0L, if (s == 0) Long.MinValue else shardBounds(s - 1))
    def shardHigh(s: Int): Long =
      if (s >= shardBounds.length) Long.MaxValue else shardBounds(s)
    // [low, high) split into R slices; the last slice absorbs the remainder
    def rangeOf(shard: Int, doc: Long): Int = {
      if (rangesPerShard <= 1) return 0
      val lo = shardLow(shard)
      val span = shardHigh(shard) - lo
      val width = math.max(1L, (if (span < 0) Long.MaxValue else span) / rangesPerShard)
      math.min(rangesPerShard - 1, ((doc - lo) / width).toInt)
    }
    val rps = rangesPerShard
    val blocks = postingsTable
      .where($"term".isin(present: _*))
      .select($"shard", $"term", $"block", $"cnt", $"max_tf", $"min_dl",
        $"min_doc", $"max_doc", $"docs", $"tfs", $"dls")
      .as[(Int, Long, Int, Int, Int, Int, Long, Long, Array[Byte], Array[Byte], Array[Byte])]
      .flatMap { case (shard, term, block, cnt, maxTf, minDl, minDoc, maxDoc, d, t, l) =>
        val _ = block // block ids are per build-slice; readers order by min_doc
        val r0 = rangeOf(shard, minDoc)
        val r1 = rangeOf(shard, maxDoc)
        (r0 to r1).iterator.map(r =>
          (shard, r, term, minDoc, cnt, maxTf, minDl, d, t, l))
      }
      .toDF("shard", "rng", "term", "min_doc", "cnt", "max_tf", "min_dl", "docs", "tfs", "dls")
      .repartition(math.max(numShards * rps, spark.sparkContext.defaultParallelism),
        $"shard", $"rng")
      .as[(Int, Int, Long, Long, Int, Int, Int, Array[Byte], Array[Byte], Array[Byte])]
    val boundsB = spark.sparkContext.broadcast(shardBounds)
    blocks.mapPartitions { it =>
      val occ = qOccB.value
      val idfMap = idfB.value
      val multMap = multB.value
      // Conservative padding for the f32 accumulation of ≤|occ| additions:
      // fold result ≤ realSum·(1+2^-24)^(|occ|-1); 1e-6·|occ| dominates that.
      val pad = 1.0 + occ.length * 1e-6
      // capacity clamped: k + 1 overflows for an unlimited k
      val heap = new java.util.PriorityQueue[ScoredDoc](math.min(k, 1024) + 1,
        (a: ScoredDoc, b: ScoredDoc) =>
          if (a.score != b.score) java.lang.Float.compare(a.score, b.score)
          else java.lang.Long.compare(b.doc_id, a.doc_id)) // min-heap on (score, -doc_id)

      // per-(shard, sub-range) doc bounds, recomputed from the broadcast
      // shard bounds (pure function of (shard, rng))
      val boundsArr = boundsB.value
      def pShardLow(s: Int): Long =
        math.max(0L, if (s == 0) Long.MinValue else boundsArr(s - 1))
      def pShardHigh(s: Int): Long =
        if (s >= boundsArr.length) Long.MaxValue else boundsArr(s)
      def pRange(s: Int, r: Int): (Long, Long) = { // inclusive [lo, hi]
        if (rps <= 1) return (Long.MinValue, Long.MaxValue)
        val lo = pShardLow(s)
        val span = pShardHigh(s) - lo
        val width = math.max(1L, (if (span < 0) Long.MaxValue else span) / rps)
        val a = lo + r.toLong * width
        val b = if (r == rps - 1) Long.MaxValue else a + width - 1
        (a, b)
      }

      // (shard, rng) → term → blocks ordered by block index
      val byGroup = new java.util.HashMap[Long, java.util.HashMap[Long, java.util.ArrayList[(Long, Int, Int, Int, Array[Byte], Array[Byte], Array[Byte])]]]()
      val groupRange = new java.util.HashMap[Long, (Long, Long)]()
      it.foreach { case (shard, rng, term, minDoc, cnt, maxTf, minDl, d, t, l) =>
        val key = (shard.toLong << 32) | (rng.toLong & 0xFFFFFFFFL)
        groupRange.computeIfAbsent(key, _ => pRange(shard, rng))
        byGroup.computeIfAbsent(key, _ => new java.util.HashMap())
          .computeIfAbsent(term, _ => new java.util.ArrayList())
          .add((minDoc, cnt, maxTf, minDl, d, t, l))
      }

      /** Doc-sorted cursor over one term's block list with block-max skip,
        * restricted to the group's inclusive doc range.
        */
      final class Cursor(val term: Long, rLo: Long, rHi: Long,
                         blocksIn: java.util.ArrayList[(Long, Int, Int, Int, Array[Byte], Array[Byte], Array[Byte])]) {
        // blocks of one (shard, term) have disjoint doc ranges; min_doc
        // orders them even when slices were built by different tasks
        blocksIn.sort((a, b) => java.lang.Long.compare(a._1, b._1))
        val idf: Float = idfMap(term)
        val mult: Int = multMap.getOrElse(term, 1)
        // partition-wide bound for this term (residual for others' skips),
        // scaled by the term's query-occurrence multiplicity
        var termBound: Double = 0.0
        (0 until blocksIn.size).foreach { i =>
          val (_, _, maxTf, minDl, _, _, _) = blocksIn.get(i)
          val ub = mult * Math.nextUp(idf * Math.nextUp(emb.weight(maxTf, minDl))).toDouble
          if (ub > termBound) termBound = ub
        }
        private var bi = 0
        private var pos = 0
        private var docs: Array[Long] = null
        private var tfs: Array[Int] = null
        private var dls: Array[Int] = null
        private var n = 0
        var residual: Double = 0.0 // set once all cursors exist

        /** bound of the CURRENT block (mult·idf·weight(max_tf,min_dl), padded) */
        private def blockBound(i: Int): Double = {
          val (_, _, maxTf, minDl, _, _, _) = blocksIn.get(i)
          mult * Math.nextUp(idf * Math.nextUp(emb.weight(maxTf, minDl))).toDouble
        }

        /** Advance to the next undecoded block, skipping blocks whose docs
          * provably cannot reach the threshold (strict <).
          */
        def loadNext(threshold: Double): Unit = {
          docs = null
          while (bi < blocksIn.size && docs == null) {
            if (threshold != Double.NegativeInfinity &&
                (blockBound(bi) + residual) * pad < threshold) {
              bi += 1 // skip whole block without decoding
              skipAcc.foreach(_.add(1L))
            }
            else {
              val (_, cnt, _, _, d, t, l) = blocksIn.get(bi)
              docs = PostingCodec.decodeDeltas(d, cnt)
              tfs = PostingCodec.decodeInts(t, cnt)
              dls = PostingCodec.decodeInts(l, cnt)
              // trim to the group's doc range (docs are sorted)
              var s = 0
              while (s < cnt && docs(s) < rLo) s += 1
              var e = cnt
              while (e > s && docs(e - 1) > rHi) e -= 1
              if (e <= s) { docs = null; bi += 1 } // block entirely outside
              else { n = e; pos = s; bi += 1 }
            }
          }
        }
        def exhausted: Boolean = docs == null && bi >= blocksIn.size
        def currentDoc: Long = docs(pos)
        def hasCurrent: Boolean = docs != null && pos < n
        def currentWeight: Float = emb.weight(tfs(pos), dls(pos))
        def advance(threshold: Double): Unit = {
          pos += 1
          if (pos >= n) { docs = null; loadNext(threshold) }
        }
      }

      val groups = byGroup.entrySet().iterator()
      while (groups.hasNext) {
        val entry = groups.next()
        val (rLo, rHi) = groupRange.get(entry.getKey)
        val terms = entry.getValue
        val cursors = new java.util.ArrayList[Cursor]()
        terms.forEach((term, bs) => cursors.add(new Cursor(term, rLo, rHi, bs)): Unit)
        var total = 0.0
        (0 until cursors.size).foreach(i => total += cursors.get(i).termBound)
        (0 until cursors.size).foreach { i =>
          val c = cursors.get(i); c.residual = total - c.termBound
        }
        def threshold: Double =
          if (heap.size < k) Double.NegativeInfinity else heap.peek().score.toDouble
        cursors.forEach(c => c.loadNext(threshold))
        // doc-at-a-time merge
        val weights = new java.util.HashMap[Long, Float](cursors.size * 2)
        var done = false
        val excluded = exclB.value
        while (!done) {
          var minDoc = Long.MaxValue
          cursors.forEach { c => if (c.hasCurrent && c.currentDoc < minDoc) minDoc = c.currentDoc }
          if (minDoc == Long.MaxValue) done = true
          else if (java.util.Arrays.binarySearch(excluded, minDoc) >= 0) {
            // superseded doc: advance past it without scoring
            val thr = threshold
            cursors.forEach { c =>
              if (c.hasCurrent && c.currentDoc == minDoc) c.advance(thr)
            }
          } else {
            weights.clear()
            val thr = threshold
            cursors.forEach { c =>
              if (c.hasCurrent && c.currentDoc == minDoc) {
                weights.put(c.term, c.currentWeight)
                c.advance(thr)
              }
            }
            // f32 fold in query-occurrence order (scorer.rs:109-123)
            var score = 0.0f
            var i = 0
            while (i < occ.length) {
              val v = weights.get(occ(i))
              if (v != 0.0f) score += idfMap(occ(i)) * v
              i += 1
            }
            heap.add(ScoredDoc(minDoc, score))
            if (heap.size > k) heap.poll(): Unit
          }
        }
        // heap carries over across shards within the partition (tighter
        // threshold); emitted once at the end
      }
      val arr = new Array[ScoredDoc](heap.size)
      var i = arr.length - 1
      while (heap.size > 0) { arr(i) = heap.poll(); i -= 1 }
      arr.iterator
    }
  }

  /** Point score of one document vs a query (the reference's
    * `Scorer::score`, `scorer.rs:72-75`): None when the doc is absent.
    */
  def scoreDoc(docId: Long, query: String): Option[Float] = {
    val qOcc = queryTerms(query)
    val shard = manifest.shardOf(docId)
    val fwd = forwardTable
      .where($"shard" === shard && $"doc_id" === docId)
      .select($"doc_id", $"shard", $"dl", $"terms", $"tfs")
      .as[ForwardRow]
      .collect()
    fwd.headOption.map { row =>
      if (qOcc.isEmpty) 0.0f
      else {
        val dfs = termDfs(qOcc.distinct)
        val weights = new java.util.HashMap[Long, Float]()
        var i = 0
        while (i < row.terms.length) {
          weights.putIfAbsent(row.terms(i), embedder.weight(row.tfs(i), row.dl))
          i += 1
        }
        var score = 0.0f
        i = 0
        while (i < qOcc.length) {
          val t = qOcc(i)
          val v = weights.get(t)
          if (v != 0.0f) score += idf(dfs.getOrElse(t, 0L)) * v
          else score += idf(dfs.getOrElse(t, 0L)) * 0.0f // exact no-op, kept for clarity
          i += 1
        }
        score
      }
    }
  }
}

object Bm25Index {
  def searchWithContents(index: Bm25Index, docs: DataFrame, idCol: String, contentCol: String,
                         query: String, limit: Option[Int] = None,
                         mode: String = "exhaustive"): DataFrame = {
    val hits = index.search(query, limit, mode).toDF("doc_id", "score")
    // top-k side is tiny → broadcast it against the corpus scan
    docs.join(broadcast(hits), docs(idCol) === hits("doc_id"), "inner")
      .select(docs(idCol), docs(contentCol), hits("score"))
      .orderBy(desc("score"), asc(idCol))
  }
}
