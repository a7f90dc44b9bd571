package graft.index

import graft.bm25.{Bm25Params, Bm25Query, Embedder}
import graft.text.{Bm25Tokenizer, Language, TextTokenizer}
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One decoded posting: a (doc, term) pair with integer tf and the doc's
  * token count.
  */
final case class Posting(doc_id: Long, term: Long, tf: Int, dl: Int)

final case class ScoredDoc(doc_id: Long, score: Float)

/** One shard's posting blocks, held for WAND and indexed by term: the
  * shard's terms, sorted; the blocks of `terms(i)` are `blockAt(i) until
  * blockAt(i + 1)`, ordered by min_doc; block j holds `cnt(j)` postings with
  * block-max `maxTf(j)` and `minDl(j)`, and its doc-delta, tf and dl streams
  * lie back to back in `bytes` from `byteAt(j)`.
  */
private[index] final class ShardStore(val terms: Array[Long], val blockAt: Array[Int],
                                      val cnt: Array[Int], val maxTf: Array[Int], val minDl: Array[Int],
                                      val byteAt: Array[Int], val bytes: Array[Byte]) extends Serializable

private[index] object ShardStore {
  type Block = (Long, Long, Int, Int, Int, Array[Byte], Array[Byte], Array[Byte])

  /** The store of one shard's blocks, each (term, min_doc, cnt, max_tf,
    * min_dl, docs, tfs, dls). The streams are copied once, into an array of
    * their exact total size; a shard whose streams pass 2 GiB is refused
    * (`addExact` throws), so such an index needs more shards.
    */
  def apply(blocks: Iterator[Block]): ShardStore = {
    val sorted = blocks.toArray.sortWith((a, b) => if (a._1 != b._1) a._1 < b._1 else a._2 < b._2)
    val n = sorted.length
    val terms = Array.newBuilder[Long]
    val blockAt = Array.newBuilder[Int]
    val byteAt = new Array[Int](n + 1)
    for (j <- 0 until n) {
      val (term, _, _, _, _, d, t, l) = sorted(j)
      if (j == 0 || term != sorted(j - 1)._1) { terms += term; blockAt += j }
      byteAt(j + 1) = Math.addExact(byteAt(j), d.length + t.length + l.length)
    }
    blockAt += n
    val bytes = new Array[Byte](byteAt(n))
    val out = java.nio.ByteBuffer.wrap(bytes)
    sorted.foreach { case (_, _, _, _, _, d, t, l) => out.put(d).put(t).put(l) }
    new ShardStore(terms.result(), blockAt.result(), sorted.map(_._3), sorted.map(_._4), sorted.map(_._5),
      byteAt, bytes)
  }
}

/** Distributed BM25 retrieval over a built index (SURVEY §3.1 plan). A
  * search is one route for both modes: driver-side query embedding (pure
  * function, no job) → one compiled `Bm25Query` (the present terms' slots,
  * idfs from the held term dictionary's df, multiplicities, occurrence
  * slots) → the WAND kernel or the exhaustive scorer, each folding a doc's
  * slot-indexed weights with `Bm25Query.score` (the f32 fold in
  * query-occurrence order, the reference's `scorer.rs:109-123`) →
  * `Bm25Index.topK`, the `Bm25Index.RankOrder` (score desc, doc_id asc)
  * tail (`TakeOrderedAndProject` for a limited search). The engine runs
  * the same WAND kernel (`wandRuns`) and merges its per-shard runs itself.
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
  *     Safe/exact for monotone additive scores, so rank-identical. An
  *     unlimited WAND search runs with an unbounded k and prunes nothing.
  *
  * Any other mode is refused.
  *
  * An instance holds, for its whole life (an index dir never changes):
  *   - on the driver, the resolved tables and the term dictionary (every
  *     term with its df, sorted; 16 B × the manifest's `vocabulary`), both
  *     read once, on first use;
  *   - in the executors, from its first WAND search on, one `ShardStore`
  *     per shard (`shardStores`), persisted at MEMORY_AND_DISK until
  *     `release()`.
  *
  * So the first WAND search is one job that builds the stores and
  * searches them, and a later one is one job over the held stores, one
  * task per shard, with no parquet scan and no exchange. The exhaustive
  * scorer and `postingsFor` read the postings parquet, so WAND ≡
  * exhaustive compares two independent input paths. An owner that drops an
  * instance calls `release()`.
  */
final class Bm25Index(spark: SparkSession, val indexDir: String,
                      customTokenizer: Option[TextTokenizer] = None,
                      k1: Float = 1.2f, b: Float = 0.75f,
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

  /** The term dictionary: every term of the index, sorted, and its df at the
    * same position. Collected from termstats by one job, on the first
    * `termDfs` of this instance; an index dir never changes, so it stays
    * valid for the instance's life. It holds 16 B × the manifest's
    * `vocabulary` (0.7 MB for the 42 k terms of a 200 k-doc `CodeCorpus`
    * index). `@transient`: it is driver-side metadata, and a
    * task closure that captures this index must never ship it.
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

  /** `occ` compiled against the term dictionary's df and the index's N:
    * the one query value every scorer here folds and bounds.
    */
  private def compile(occ: Array[Long]): Bm25Query = {
    val dfs = termDfs(occ.distinct)
    Bm25Query(occ, dfs.getOrElse(_, 0L), nDocs)
  }

  /** Top-k search over the index. Returns (doc_id, score) sorted by
    * (score desc, doc_id asc), limited to `limit` if given — all documents
    * sharing ≥1 query term otherwise (the reference's unlimited search).
    * `mode` is "wand" or "exhaustive"; an unlimited WAND search runs with an
    * unbounded k, so it prunes nothing.
    */
  def search(query: String, limit: Option[Int] = None, mode: String = "exhaustive"): Dataset[ScoredDoc] = {
    if (mode != "wand" && mode != "exhaustive")
      throw new IllegalArgumentException(s"unknown search mode '$mode': use \"wand\" or \"exhaustive\"")
    val q = compile(queryTerms(query))
    if (q.isEmpty) return spark.emptyDataset[ScoredDoc]
    Bm25Index.topK(
      if (mode == "wand") spark.createDataset(wandRuns(q, limit.getOrElse(Int.MaxValue), Array.empty, None))
      else exhaustive(q),
      limit)
  }

  /** Reference-exact scoring of every candidate (disjunctive union): the
    * postings of the query's terms grouped by doc, each doc's weights put
    * in its slots and folded by `Bm25Query.score` (`scorer.rs:99-123`).
    */
  private def exhaustive(q: Bm25Query): Dataset[ScoredDoc] = {
    val emb = embedder
    val queryB = spark.sparkContext.broadcast(q)
    postingsFor(q.terms)
      .groupByKey(_.doc_id)
      .mapGroups { (docId, rows) =>
        val query = queryB.value
        val weights = new Array[Float](query.size)
        rows.foreach(p => weights(query.slotOf(p.term)) = emb.weight(p.tf, p.dl))
        ScoredDoc(docId, query.score(weights))
      }
  }

  @transient private var stores: RDD[ShardStore] = _

  /** The WAND's input, held for the life of the instance: the postings
    * parquet read once, each block keyed by its shard and partitioned by
    * `HashPartitioner(numShards)` (an `Int` key hashes to itself, so
    * partition i holds shard i alone), each partition built into one
    * `ShardStore`. Persisted (MEMORY_AND_DISK) and filled by the first WAND
    * search, whose job builds them, so a later search is one job with no
    * parquet scan and no exchange. After `release()` the next WAND search
    * builds the stores again. Named after the index dir, so
    * `getRDDStorageInfo` tells them apart.
    */
  private def shardStores: RDD[ShardStore] = synchronized {
    if (stores == null)
      stores = postingsTable
        .select($"shard", $"term", $"min_doc", $"cnt", $"max_tf", $"min_dl", $"docs", $"tfs", $"dls")
        .as[(Int, Long, Long, Int, Int, Int, Array[Byte], Array[Byte], Array[Byte])]
        .rdd
        .map { case (shard, term, minDoc, cnt, maxTf, minDl, d, t, l) => (shard, (term, minDoc, cnt, maxTf, minDl, d, t, l)) }
        .partitionBy(new HashPartitioner(manifest.numShards))
        .mapPartitions(blocks => Iterator(ShardStore(blocks.map(_._2))))
        .setName(s"shard stores of $indexDir")
    if (stores.getStorageLevel == StorageLevel.NONE) stores.persist(StorageLevel.MEMORY_AND_DISK)
    stores
  }

  /** Drops the held shard stores from the cache; a later WAND search on
    * this instance builds them again.
    */
  def release(): Unit = synchronized {
    if (stores != null) stores.unpersist(blocking = false): Unit
  }

  /** Block-max WAND, document-at-a-time, one task per shard store: each
    * query term's blocks, found by a binary search of the store's terms,
    * form one doc-sorted cursor, and the cursors are merged doc-at-a-time
    * with a k-sized heap. Before a cursor decodes its next block, the
    * block's `Bm25Query.blockBound` plus the other terms' shard-wide
    * bounds, padded for f32 rounding, is compared to the current k-th
    * score: strictly-below blocks are skipped without decoding. Each
    * candidate's weights go into an array indexed by query slot and are
    * folded by `Bm25Query.score`. Memory is O(k + blockSize·|terms|)
    * regardless of posting length; the pruning is conservative, so results
    * are rank- and bit-identical to the exhaustive scorer (asserted in
    * Bm25IndexSpec).
    *
    * `q` is compiled by the caller (the engine passes live df/N),
    * `exclude` is a sorted array of doc ids passed over unscored (the
    * engine's superseded docs); both ship as one broadcast. `skipAcc`
    * counts pruned blocks. With `k = Int.MaxValue` the threshold never
    * rises above −∞, so nothing is pruned and every candidate is scored:
    * every unlimited WAND search.
    *
    * Partition i of the result is shard i's hits, at most k, in
    * `Bm25Index.RankOrder`: the index's search wraps it in a Dataset for
    * `topK`, the engine zips it with the shard's held contents.
    */
  private[graft] def wandRuns(q: Bm25Query, k: Int, exclude: Array[Long],
                              skipAcc: Option[org.apache.spark.util.LongAccumulator]): RDD[ScoredDoc] = {
    val emb = embedder
    val blockSize = manifest.blockSize
    val queryB = spark.sparkContext.broadcast((q, exclude))
    shardStores.mapPartitions(_.flatMap { store =>
      val (query, excluded) = queryB.value
      // Conservative padding for the f32 accumulation of ≤|slots| additions:
      // fold result ≤ realSum·(1+2^-24)^(|slots|-1); 1e-6·|slots| dominates that.
      val pad = 1.0 + query.slots.length * 1e-6
      // capacity clamped: k + 1 overflows for an unlimited k; the head is
      // the lowest-ranked hit held
      val heap = new java.util.PriorityQueue[ScoredDoc](math.min(k, 1024) + 1, Bm25Index.RankOrder.reverse)

      /** Doc-sorted cursor over the store's blocks `from until until` of
        * one slot's term, with block-max skip.
        */
      final class Cursor(val slot: Int, from: Int, until: Int) {
        private val bounds: Array[Double] = Array.tabulate(until - from) { i =>
          query.blockBound(slot, emb.weight(store.maxTf(from + i), store.minDl(from + i)))
        }
        // shard-wide bound for this slot (residual for others' skips)
        val termBound: Double = bounds.foldLeft(0.0)(math.max)
        private var bi = from
        private var pos = 0
        private var n = 0
        private val docs = new Array[Long](blockSize)
        private val tfs = new Array[Int](blockSize)
        private val dls = new Array[Int](blockSize)
        var residual: Double = 0.0 // set once all cursors exist

        /** Advance to the next undecoded block, skipping blocks whose docs
          * provably cannot reach the threshold (strict <).
          */
        def loadNext(threshold: Double): Unit = {
          n = 0
          while (bi < until && n == 0) {
            if (threshold != Double.NegativeInfinity && (bounds(bi - from) + residual) * pad < threshold)
              skipAcc.foreach(_.add(1L)) // skip whole block without decoding
            else {
              n = store.cnt(bi)
              pos = 0
              PostingCodec.decodeBlock(store.bytes, store.byteAt(bi), n, docs, tfs, dls)
            }
            bi += 1
          }
        }
        def currentDoc: Long = docs(pos)
        def hasCurrent: Boolean = pos < n
        def currentWeight: Float = emb.weight(tfs(pos), dls(pos))
        def advance(threshold: Double): Unit = {
          pos += 1
          if (pos >= n) loadNext(threshold)
        }
      }

      val cursors = query.terms.indices.flatMap { s =>
        val i = java.util.Arrays.binarySearch(store.terms, query.terms(s))
        if (i < 0) None else Some(new Cursor(s, store.blockAt(i), store.blockAt(i + 1)))
      }
      val total = cursors.map(_.termBound).sum
      cursors.foreach(c => c.residual = total - c.termBound)
      def threshold: Double =
        if (heap.size < k) Double.NegativeInfinity else heap.peek().score.toDouble
      cursors.foreach(_.loadNext(threshold))
      val weights = new Array[Float](query.size)
      // doc-at-a-time merge
      var done = false
      while (!done) {
        var minDoc = Long.MaxValue
        cursors.foreach { c => if (c.hasCurrent && c.currentDoc < minDoc) minDoc = c.currentDoc }
        if (minDoc == Long.MaxValue) done = true
        else {
          // a superseded doc is advanced past without scoring
          val scored = java.util.Arrays.binarySearch(excluded, minDoc) < 0
          if (scored) java.util.Arrays.fill(weights, 0.0f)
          val thr = threshold
          cursors.foreach { c =>
            if (c.hasCurrent && c.currentDoc == minDoc) {
              if (scored) weights(c.slot) = c.currentWeight
              c.advance(thr)
            }
          }
          if (scored) {
            heap.add(ScoredDoc(minDoc, query.score(weights)))
            if (heap.size > k) heap.poll(): Unit
          }
        }
      }
      val arr = new Array[ScoredDoc](heap.size)
      var i = arr.length - 1
      while (heap.size > 0) { arr(i) = heap.poll(); i -= 1 }
      arr.iterator
    })
  }

  /** Point score of one document vs a query (the reference's
    * `Scorer::score`, `scorer.rs:72-75`): None when the doc is absent.
    */
  def scoreDoc(docId: Long, query: String): Option[Float] = {
    val q = compile(queryTerms(query))
    val shard = manifest.shardOf(docId)
    val fwd = forwardTable
      .where($"shard" === shard && $"doc_id" === docId)
      .select($"doc_id", $"shard", $"dl", $"terms", $"tfs")
      .as[ForwardRow]
      .collect()
    fwd.headOption.map { row =>
      val weights = new Array[Float](q.size)
      for (i <- row.terms.indices; s = q.slotOf(row.terms(i)) if s >= 0)
        weights(s) = embedder.weight(row.tfs(i), row.dl)
      q.score(weights)
    }
  }
}

object Bm25Index {

  /** The rank order of every search: score desc, then doc_id asc (the
    * reference's tie order is nondeterministic). The WAND kernel's heap,
    * `topK` and the engine's merge of the per-shard runs all use it.
    */
  private[graft] val RankOrder: Ordering[ScoredDoc] = new Ordering[ScoredDoc] {
    def compare(a: ScoredDoc, b: ScoredDoc): Int =
      if (a.score != b.score) java.lang.Float.compare(b.score, a.score)
      else java.lang.Long.compare(a.doc_id, b.doc_id)
  }

  /** The top-k tail of the index's search: in `RankOrder`, the first
    * `limit` rows (each partition's top `limit`, merged on the driver), or
    * all of them, collected and sorted on the driver (no exchange; a global
    * sort would sample its input first, running the scorer twice).
    */
  private[graft] def topK(scored: Dataset[ScoredDoc], limit: Option[Int]): Dataset[ScoredDoc] =
    limit.fold {
      val all = scored.collect().sorted(RankOrder)
      scored.sparkSession.createDataset(all.toSeq)(Encoders.product[ScoredDoc])
    }(scored.orderBy(col("score").desc, col("doc_id").asc).limit)

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
