package graft.index

import graft.bm25.{Bm25Params, Embedder}
import graft.text.{Bm25Tokenizer, Language, TextTokenizer}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One decoded posting: a (doc, term) pair with integer tf and the doc's
  * token count.
  */
final case class Posting(doc_id: Long, term: Long, tf: Int, dl: Int)

final case class ScoredDoc(doc_id: Long, score: Float)

/** The WAND fan-out's doc sub-ranges: shard `s` covers the doc ids in
  * [low, high) of the index's shard bounds, split into `perShard` slices of
  * equal width, the last absorbing the remainder. Blocks are routed with
  * `rangeOf` and each fan-out task filters its postings to `range`.
  */
private[index] final case class FanoutRanges(bounds: Array[Long], perShard: Int) {
  private def low(s: Int): Long = math.max(0L, if (s == 0) Long.MinValue else bounds(s - 1))
  private def high(s: Int): Long = if (s >= bounds.length) Long.MaxValue else bounds(s)
  private def width(s: Int): Long = {
    val span = high(s) - low(s)
    math.max(1L, (if (span < 0) Long.MaxValue else span) / perShard)
  }

  /** The sub-range of shard `s` that holds `doc`. */
  def rangeOf(s: Int, doc: Long): Int =
    if (perShard <= 1) 0 else math.min(perShard - 1, ((doc - low(s)) / width(s)).toInt)

  /** Sub-range `r` of shard `s` as inclusive doc bounds. */
  def range(s: Int, r: Int): (Long, Long) =
    if (perShard <= 1) (Long.MinValue, Long.MaxValue)
    else {
      val a = low(s) + r.toLong * width(s)
      (a, if (r == perShard - 1) Long.MaxValue else a + width(s) - 1)
    }
}

/** Distributed BM25 retrieval over a built index (SURVEY §3.1 plan):
  * driver-side query embedding (pure function, no job) → term-stat lookup
  * (a binary search of the held term dictionary, for both modes) → idfs
  * broadcast to the scorer → pruned posting-block scan → per-candidate
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
  *
  * An instance holds, for its whole life (an index dir never changes):
  *   - on the driver, the resolved tables and the term dictionary (every
  *     term with its df, sorted; 16 B × the manifest's `vocabulary`), both
  *     read once, on first use, and the WAND fan-out groups, fixed on first
  *     use;
  *   - in the executors, from its first WAND search on, the posting blocks
  *     routed and partitioned for the WAND fan-out (`heldBlocks`), persisted
  *     at MEMORY_AND_DISK until `release()`.
  *
  * So a WAND search after the first is one job over the held blocks, with
  * no parquet scan and no exchange. The exhaustive scorer and
  * `postingsFor` read the postings parquet, so WAND ≡ exhaustive compares
  * two independent input paths. An owner that drops an instance calls
  * `release()`.
  */
final class Bm25Index(spark: SparkSession, val indexDir: String,
                      customTokenizer: Option[TextTokenizer] = None,
                      k1: Float = 1.2f, b: Float = 0.75f,
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

  val hasher: graft.bm25.TokenHasher = graft.bm25.TokenHasher.fromName(manifest.hasher).getOrElse(
    throw new IllegalArgumentException(s"index was built with hasher '${manifest.hasher}', which has no known name"))

  val params: Bm25Params = Bm25Params(k1, b, avgdlOverride.getOrElse(manifest.avgdl))
  private val embedder = new Embedder(params, tokenizer, hasher)

  def nDocs: Long = manifest.nDocs

  // An index dir never changes after it is built (compaction writes a new
  // dir and swaps it in), so each table is resolved once per instance, with
  // its written schema (no schema-inference job; later reads skip the listing).
  @transient private lazy val postingsTable = IndexTables.postings(spark, indexDir)
  @transient private[graft] lazy val forwardTable = IndexTables.forward(spark, indexDir)

  /** Sub-ranges per shard for the WAND query fan-out (task count scales as
    * numShards × this — numShards is not a parallelism ceiling).
    */
  def wandFanoutRangesPerShard: Int = fanoutRanges.perShard

  /** The fan-out groups of this instance, fixed on first use. The held
    * blocks are routed to these groups and the kernel trims each group to
    * its doc range, so both must read one value: the session's default
    * parallelism, which sets the auto count, grows as executors register.
    */
  @transient private lazy val fanoutRanges: FanoutRanges = FanoutRanges(manifest.shardBounds,
    if (wandRangesPerShard > 0) wandRangesPerShard
    else math.max(1, (spark.sparkContext.defaultParallelism * 2) / math.max(manifest.numShards, 1)))

  /** IDF exactly as `scorer.rs:99-107`: f32 throughout, df = number of docs
    * containing the term, N = total docs.
    */
  def idf(df: Long): Float = graft.bm25.Bm25Math.idf(nDocs, df)

  /** The term dictionary: every term of the index, sorted, and its df at the
    * same position. Collected from termstats by one job, on the first
    * `termDfs` of this instance; an index dir never changes, so it stays
    * valid for the instance's life. It holds 16 B × the manifest's
    * `vocabulary` (0.7 MB for the 42 k terms of a 200 k-doc `CodeCorpus`
    * index). `@transient`: it is driver-side metadata, and a
    * task closure that captures this index (the WAND fan-out, `postingsFor`)
    * must never ship it.
    */
  @transient private lazy val termDictionary: (Array[Long], Array[Long]) = {
    val rows = IndexTables.termstats(spark, indexDir).as[(Long, Long)].collect().sortBy(_._1)
    (rows.map(_._1), rows.map(_._2))
  }

  /** df of each of `terms` the index holds (absent terms have no entry): a
    * binary search of the term dictionary, so only the first call of an
    * instance launches a job.
    */
  def termDfs(terms: Array[Long]): Map[Long, Long] = {
    if (terms.isEmpty) return Map.empty
    val (dictTerms, dictDfs) = termDictionary
    terms.iterator.flatMap { t =>
      val i = java.util.Arrays.binarySearch(dictTerms, t)
      if (i >= 0) Some(t -> dictDfs(i)) else None
    }.toMap
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
    // one df lookup for both modes: the term dictionary, on the driver
    val terms = qOcc.distinct
    val dfs = termDfs(terms)
    val present = terms.filter(dfs.contains)
    if (present.isEmpty) return spark.emptyDataset[ScoredDoc]
    val idfs = present.iterator.map(t => t -> idf(dfs(t))).toMap

    val scored = mode match {
      case "wand" if limit.isDefined => wandTopK(qOcc, present, idfs, limit.get, Array.empty, None)
      case _ => exhaustive(qOcc, present, idfs)
    }
    val sorted = scored.orderBy($"score".desc, $"doc_id".asc)
    limit.map(sorted.limit).getOrElse(sorted).as[ScoredDoc]
  }

  /** Reference-exact scoring of every candidate (disjunctive union): the
    * postings of the `present` terms grouped by doc, each doc's score
    * folded in f32 with the caller's `idfs`, broadcast as `wandTopK` takes
    * them (identically to `scorer.rs:99-123`).
    */
  private def exhaustive(qOcc: Array[Long], present: Array[Long],
                         idfs: Map[Long, Float]): Dataset[ScoredDoc] = {
    val emb = embedder
    val qOccB = spark.sparkContext.broadcast(qOcc)
    val idfB = spark.sparkContext.broadcast(idfs)
    postingsFor(present)
      .groupByKey(_.doc_id)
      .mapGroups { (docId, rows) =>
        val values = new java.util.HashMap[Long, Float](16)
        rows.foreach(p => values.putIfAbsent(p.term, emb.weight(p.tf, p.dl)))
        var score = 0.0f
        val occ = qOccB.value
        val idfMap = idfB.value
        var i = 0
        while (i < occ.length) {
          val v = values.get(occ(i)) // 0.0f when absent — adding 0f is exact
          if (v != 0.0f) score += idfMap(occ(i)) * v
          i += 1
        }
        ScoredDoc(docId, score)
      }
  }

  @transient private var held: DataFrame = _

  /** The WAND's input, held for the life of the instance: every posting
    * block, routed to each fan-out group (shard, sub-range) its doc range
    * overlaps, hash-partitioned by (shard, rng) — a group's blocks share
    * one partition — and sorted by term within each partition, so the
    * cached batches' term bounds prune a query's `term IN` filter (at
    * 200 k docs, 60 % of the rows a query scans unsorted; see
    * `benchresults/held-wand-blocks/sort_within_partitions.txt`).
    * Persisted (MEMORY_AND_DISK) and materialized by the first WAND search,
    * so a later search is one job with no parquet scan and no exchange. A
    * frame that left the cache manager since (`release()`,
    * `catalog.clearCache()`) is registered and materialized again, so no
    * search re-routes the whole table inside its own job.
    */
  private def heldBlocks: DataFrame = synchronized {
    if (held == null) {
      val ranges = fanoutRanges
      held = postingsTable
        .select($"shard", $"term", $"cnt", $"max_tf", $"min_dl",
          $"min_doc", $"max_doc", $"docs", $"tfs", $"dls")
        .as[(Int, Long, Int, Int, Int, Long, Long, Array[Byte], Array[Byte], Array[Byte])]
        .flatMap { case (shard, term, cnt, maxTf, minDl, minDoc, maxDoc, d, t, l) =>
          (ranges.rangeOf(shard, minDoc) to ranges.rangeOf(shard, maxDoc)).iterator.map(r =>
            (shard, r, term, minDoc, cnt, maxTf, minDl, d, t, l))
        }
        .toDF("shard", "rng", "term", "min_doc", "cnt", "max_tf", "min_dl", "docs", "tfs", "dls")
        .repartition(math.max(manifest.numShards * ranges.perShard, spark.sparkContext.defaultParallelism),
          $"shard", $"rng")
        .sortWithinPartitions($"term")
    }
    if (held.storageLevel == StorageLevel.NONE) {
      held.persist()
      // materialized by a write to the noop sink: one job fewer than
      // count(), which aggregates over the cache once it is filled
      held.write.format("noop").mode("overwrite").save()
    }
    held
  }

  /** Drops the held WAND blocks from the cache; a later WAND search on this
    * instance builds them again.
    */
  def release(): Unit = synchronized {
    if (held != null) held.unpersist(blocking = false): Unit
  }

  /** Block-max WAND, document-at-a-time: per shard (doc-range partition),
    * the query terms' posting blocks form doc-sorted cursors that are merged
    * doc-at-a-time with a k-sized heap. Before a cursor decodes its next
    * block, the block's upper bound (idf·weight(max_tf, min_dl), nextUp-
    * padded) plus the other terms' partition-wide bounds is compared to the
    * current k-th score: strictly-below blocks are skipped without decoding.
    * Memory is O(k + blockSize·|terms|) regardless of posting length; the
    * pruning is conservative, so results are rank- and bit-identical to the
    * exhaustive scorer (asserted in Bm25IndexSpec). The input is
    * `heldBlocks` filtered to the `present` terms: each partition holds
    * whole fan-out groups, so the kernel runs where the blocks are cached.
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
    val ranges = fanoutRanges
    val blocks = heldBlocks
      .where($"term".isin(present: _*))
      .as[(Int, Int, Long, Long, Int, Int, Int, Array[Byte], Array[Byte], Array[Byte])]
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

      // (shard, rng) → term → blocks ordered by block index
      val byGroup = new java.util.HashMap[Long, java.util.HashMap[Long, java.util.ArrayList[(Long, Int, Int, Int, Array[Byte], Array[Byte], Array[Byte])]]]()
      val groupRange = new java.util.HashMap[Long, (Long, Long)]()
      it.foreach { case (shard, rng, term, minDoc, cnt, maxTf, minDl, d, t, l) =>
        val key = (shard.toLong << 32) | (rng.toLong & 0xFFFFFFFFL)
        groupRange.computeIfAbsent(key, _ => ranges.range(shard, rng))
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
