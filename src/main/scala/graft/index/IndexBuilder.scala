package graft.index

import graft.bm25.Embedder
import graft.text.{Bm25Tokenizer, TextTokenizer}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** A corpus document keyed by a Long surrogate id (see `graft.api` for the
  * (repo, path, commit) / string-key adapters).
  */
final case class CorpusDoc(doc_id: Long, content: String)

/** Forward-index row: one document's distinct terms + integer term
  * frequencies + token count. This is the durable form of the reference's
  * `Scorer.embeddings` map (`/root/reference/src/scorer.rs:21-24`) — storing
  * (tf, dl) instead of the f32 weight keeps the index exact, parameter-free
  * (any k1/b/avgdl can be applied at query time with bit-identical results,
  * since the weight function is reconstructed in f32 from the same integers).
  */
final case class ForwardRow(doc_id: Long, shard: Int, dl: Int, terms: Array[Long], tfs: Array[Int])

/** One compressed posting block: ≤ blockSize (doc_id, tf, dl) triples for a
  * single term within one doc-range shard, delta+varbyte encoded, with
  * block-max metadata (max_tf, min_dl ⇒ a safe upper bound on the BM25
  * weight for any parameters — weight is monotone ↑tf, ↓dl).
  */
final case class PostingBlock(shard: Int, term: Long, block: Int, cnt: Int,
                              max_tf: Int, min_dl: Int,
                              min_doc: Long, max_doc: Long,
                              docs: Array[Byte], tfs: Array[Byte], dls: Array[Byte])

/** The index tables, read with the schemas their writers write, so no read
  * runs a parquet schema-inference job. The postings table's `group`
  * partition column is still discovered from its directory names.
  */
object IndexTables {
  private lazy val ForwardSchema = Encoders.product[ForwardRow].schema
  private lazy val PostingsSchema = Encoders.product[PostingBlock].schema

  def forward(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema(ForwardSchema).parquet(s"$indexDir/forward")
  def postings(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema(PostingsSchema).parquet(s"$indexDir/postings")
  def termstats(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema("term BIGINT, df BIGINT").parquet(s"$indexDir/termstats")
}

final case class IndexBuildConfig(
    numShards: Int = 8,
    blockSize: Int = 128,
    shardGroups: Int = 4, // checkpoint granularity for the postings stage
    postingTasks: Int = 0, // shuffle tasks for the postings stage (0 = 3x parallelism)
    // doc ids that are hash surrogates are uniform in [0, Long.MaxValue]:
    // range bounds are then analytic (no quantile job over the corpus)
    uniformIdSpace: Boolean = false
)

/** Distributed index build (SURVEY §7.4, north_star pipeline):
  *
  *   stage 1 `forward`    docs → tokenize+hash+tf (one narrow pass, no
  *                        shuffle) → forward index partitioned by doc-range
  *                        shard (range bounds from quantiles, recorded in the
  *                        checkpoint lineage).
  *   stage 2 `stats`      Σdl / N / avgdl — exact integer aggregate over
  *                        the written forward rows (`embedder.rs:213-237`
  *                        semantics), recorded in its checkpoint.
  *   stage 3 `postings_*` per shard group: explode → shuffle by shard →
  *                        sort (shard, term, doc_id) → streaming block
  *                        encoder (delta+varbyte+block-max) → parquet
  *                        partitioned by shard. No giant per-term groupBy:
  *                        the sort-based encoder bounds memory regardless of
  *                        term skew.
  *   stage 4 `termstats`  df(term) via one `groupBy(term)` over the
  *                        written blocks (one exchange; the map-side
  *                        partial aggregate folds a hot term to a row per
  *                        task, so no salt) → parquet in the aggregation's
  *                        partitioning, each file sorted by term.
  *                        The same aggregation gives the content metrics
  *                        (blocks, bytes, postings, vocabulary, max/mean
  *                        df), recorded in its checkpoint.
  *
  * Every stage commits a checkpoint marker with lineage + metrics; a
  * restarted build skips committed stages/groups (kill/resume test in
  * IndexResumeSpec). Stages 2–4 and the manifest are `fromForward`, which
  * `build` runs after its forward stage and `Compactor.merge` runs over the
  * merged forward table: this is the only code that turns forward rows into
  * postings, stats, termstats and a manifest.
  */
object IndexBuilder {

  /** (rows, Σdl) of forward rows: an index's N and Σdl. */
  private[graft] def docStats(fwd: DataFrame): (Long, Long) = {
    val t = longTotals(fwd.select(col("dl").cast("long")))
    (t(0), t(1))
  }

  /** [rows, Σ c1, max c1, Σ c2, max c2, …] over non-negative long columns,
    * in ONE job: partitions fold their rows and the driver adds the
    * partials (a global `agg` runs a second job for its exchange).
    */
  private[graft] def longTotals(df: DataFrame): Array[Long] = {
    val n = df.columns.length
    df.queryExecution.toRdd.aggregate(new Array[Long](2 * n + 1))((a, r) => {
      a(0) += 1
      for (i <- 0 until n) { a(2 * i + 1) += r.getLong(i); a(2 * i + 2) = math.max(a(2 * i + 2), r.getLong(i)) }
      a
    }, (a, b) => Array.tabulate(2 * n + 1)(i => if (i % 2 == 0 && i > 0) math.max(a(i), b(i)) else a(i) + b(i)))
  }

  /** Runs `body` on a new thread. A thread inherits the Spark local
    * properties of the thread that starts it, so the body's jobs carry the
    * caller's job group and description; a pooled thread would carry the
    * ones current when the pool created it.
    */
  private def concurrently[A](body: => A): scala.concurrent.Future[A] = {
    val p = scala.concurrent.Promise[A]()
    val t = new Thread(() => try p.success(body) catch { case e: Throwable => p.failure(e) })
    t.setDaemon(true)
    t.start()
    p.future
  }

  private def checkpoint(indexDir: String, name: String) =
    Checkpoints.read(indexDir, name).map(new com.fasterxml.jackson.databind.ObjectMapper().readTree(_))

  def tokenizerConfig(t: TextTokenizer): TokenizerConfig = t match {
    case b: Bm25Tokenizer => TokenizerConfig(b.language.name, b.normalization, b.stopwords, b.stemming)
    case _                => TokenizerConfig("custom", normalization = false, stopwords = false, stemming = false)
  }

  /** @param avgdlOverride a pre-fit avgdl. The reference fits avgdl over the
    *   corpus *as given* — including documents later replaced by id-duplicate
    *   upserts (`search.rs:176-193` fits before the upsert loop at
    *   `search.rs:244-254`) — so a caller deduplicating docs must fit first
    *   and pass the value through.
    */
  def build(spark: SparkSession, docs: Dataset[CorpusDoc], tokenizer: TextTokenizer,
            indexDir: String, cfg: IndexBuildConfig = IndexBuildConfig(),
            lineage: Map[String, String] = Map.empty,
            avgdlOverride: Option[Float] = None,
            hasher: graft.bm25.TokenHasher = graft.bm25.TokenHasher.default): IndexManifest = {
    import spark.implicits._
    val t0 = System.nanoTime()

    if (IndexManifest.exists(indexDir)) return IndexManifest.read(indexDir)

    // --- shard bounds (range partitioning of the doc-id space) ------------
    val bounds: Array[Long] = checkpoint(indexDir, "bounds") match {
      case Some(n) =>
        val b = n.get("bounds").asText()
        if (b.isEmpty) Array.empty[Long] else b.split(",").map(_.toLong)
      case None =>
        // analytic bounds take no time; sampled ones record the quantile job's
        val t = System.nanoTime()
        val (bs, seconds) =
          if (cfg.numShards <= 1) (Array.empty[Long], 0.0)
          else if (cfg.uniformIdSpace)
            (Array.tabulate(cfg.numShards - 1)(i => (Long.MaxValue / cfg.numShards) * (i + 1)), 0.0)
          else (docs.toDF().stat
            .approxQuantile("doc_id", (1 until cfg.numShards).map(_.toDouble / cfg.numShards).toArray, 0.001)
            .map(_.toLong), (System.nanoTime() - t) / 1e9)
        Checkpoints.commit(indexDir, "bounds",
          Map("bounds" -> bs.mkString(","), "numShards" -> cfg.numShards, "seconds" -> seconds))
        bs
    }
    // --- stage 1: forward index ------------------------------------------
    if (!Checkpoints.isDone(indexDir, "forward")) {
      val t = System.nanoTime()
      val emb = new Embedder(graft.bm25.Bm25Params(), tokenizer, hasher) // tf/dl only; params unused
      val fwd = docs.mapPartitions { it =>
        it.map { d =>
          val (terms, tfs, dl) = emb.termFrequencies(d.content)
          ForwardRow(d.doc_id, IndexManifest.shardOf(bounds, d.doc_id), dl, terms, tfs)
        }
      }
      // Written in input partitioning: the forward build is a pure narrow
      // map (tokenize+hash+tf), NO shuffle — the postings stage re-shuffles
      // by shard anyway, and shard/doc_id remain ordinary columns for
      // stats-based pruning. (An earlier repartition+partitionBy layout
      // serialized this stage on shuffle + small-file IO.)
      fwd.write.mode(SaveMode.Overwrite).parquet(s"$indexDir/forward")
      // row count is recorded by the stats stage (single agg over the output)
      Checkpoints.commit(indexDir, "forward", Map(
        "seconds" -> (System.nanoTime() - t) / 1e9))
    }
    fromForward(spark, indexDir, bounds, cfg, tokenizerConfig(tokenizer), hasher.name,
      lineage, avgdlOverride, t0)
  }

  /** Stages 2–4 and the manifest over the forward table written at
    * `indexDir/forward`, sharded by `bounds`; committed stages are skipped.
    * `t0` is when the whole operation started (the manifest's build rates).
    */
  private[graft] def fromForward(spark: SparkSession, indexDir: String, bounds: Array[Long],
                                 cfg: IndexBuildConfig, tokenizer: TokenizerConfig,
                                 hasherName: String, lineage: Map[String, String],
                                 avgdlOverride: Option[Float], t0: Long): IndexManifest = {
    import spark.implicits._

    // --- stage 2: corpus stats (N, Σdl, avgdl) ----------------------------
    // Launched as a CONCURRENT job: it only reads the committed forward
    // output, so it overlaps with the postings stage instead of serializing
    // the build (its result is not needed until the manifest is written).
    import scala.concurrent.{Await, Future}
    val statsF: Future[(Long, Long)] = checkpoint(indexDir, "stats") match {
      case Some(n) => Future.successful((n.get("nDocs").asLong(), n.get("sumDl").asLong()))
      case None => concurrently {
        val t = System.nanoTime()
        val (n, s) = docStats(IndexTables.forward(spark, indexDir))
        Checkpoints.commit(indexDir, "stats", Map("nDocs" -> n, "sumDl" -> s,
          "seconds" -> (System.nanoTime() - t) / 1e9))
        (n, s)
      }
    }

    // --- stage 3: posting blocks per shard group --------------------------
    val groups = math.max(1, math.min(cfg.shardGroups, cfg.numShards))
    for (g <- 0 until groups; name = s"postings_g$g" if !Checkpoints.isDone(indexDir, name)) {
      val t = System.nanoTime()
      val shardsInGroup = (0 until cfg.numShards).filter(_ % groups == g)
      // Columnar end-to-end: explode via Catalyst's generate (whole-stage
      // codegen, no per-posting JVM objects), shuffle+sort on UnsafeRows,
      // and encode straight off InternalRow — an earlier typed-Dataset
      // version allocated a Tuple5 per posting on both shuffle sides
      // (287M objects at the 1M-doc bench) and was GC-bound.
      val exploded = IndexTables.forward(spark, indexDir)
        .where($"shard".isin(shardsInGroup: _*))
        .select($"shard", $"doc_id", $"dl", explode(arrays_zip($"terms", $"tfs")).as("te"))
        .select($"shard", $"te.terms".as("term"), $"doc_id", $"te.tfs".as("tf"), $"dl")
      // Partition by (shard, term): a term's postings within a shard stay
      // in one task (whole blocks), while the task count scales with the
      // cluster instead of the shard count — numShards stops being a
      // parallelism ceiling.
      // each group owns its subdirectory (hive-style `group=N`, so readers
      // of the root discover it as a partition column): group overwrite is
      // a plain directory replace, and each task writes exactly one file
      encodePostingRows(spark, exploded, s"$indexDir/postings/group=$g", cfg,
        math.max(shardsInGroup.size, 1))
      Checkpoints.commit(indexDir, name, Map(
        "shards" -> shardsInGroup.mkString(","),
        "seconds" -> (System.nanoTime() - t) / 1e9))
    }

    // --- stage 4: term stats (df) + content metrics -----------------------
    // a checkpoint from before the metrics were recorded redoes the stage
    val content = checkpoint(indexDir, "termstats").filter(_.has("vocabulary")) match {
      case Some(n) => ContentMetrics.map(k => k -> n.get(k).asDouble()).toMap
      case None =>
        val t = System.nanoTime()
        val c = buildTermstats(spark, indexDir)
        Checkpoints.commit(indexDir, "termstats", c + ("seconds" -> (System.nanoTime() - t) / 1e9))
        c
    }

    // --- finalize: metrics + manifest -------------------------------------
    import scala.concurrent.duration.Duration
    val (nDocs, sumDl) = Await.result(statsF, Duration.Inf)
    val avgdl = avgdlOverride.getOrElse(
      if (nDocs == 0L) Embedder.FallbackAvgdl
      else (sumDl.toDouble / nDocs.toDouble).toFloat)
    val manifest = IndexManifest(
      version = IndexManifest.CurrentVersion,
      numShards = cfg.numShards,
      blockSize = cfg.blockSize,
      tokenizer = tokenizer,
      hasher = hasherName,
      nDocs = nDocs,
      sumDl = sumDl,
      avgdl = avgdl,
      shardBounds = bounds,
      lineage = lineage ++ Map("builder" -> "graft.index.IndexBuilder"),
      metrics = metrics(content, nDocs, (System.nanoTime() - t0) / 1e9)
    )
    manifest.write(indexDir)
    manifest
  }

  /** Distributed multi-way posting merge (north_rule) of posting rows
    * (shard, term, doc_id, tf, dl) into encoded blocks, shared by the batch
    * build and the merge compactor: map tasks locally sort bounded posting
    * buffers and emit delta+varbyte run CHUNKS (~10 B/posting) keyed by
    * (shard, term-prefix) group; the exchange carries 3× less data than raw
    * posting rows and the reduce side k-way merges the sorted chunks
    * straight into blocks — no external sort at all. See PostingRuns for
    * the chunk format and determinism argument.
    */
  private[graft] def encodePostingRows(spark: SparkSession,
                                       rows: org.apache.spark.sql.DataFrame,
                                       outPath: String, cfg: IndexBuildConfig,
                                       minTasks: Int = 1): Unit = {
    import spark.implicits._
    val numPostingTasks =
      if (cfg.postingTasks > 0) cfg.postingTasks
      else math.max(spark.sparkContext.defaultParallelism * 3, minTasks)
    // (shard, term-prefix) groups: fine enough that task count scales with
    // the cluster (not capped by numShards), coarse enough that map-side
    // chunks stay densely packed
    val bucketsPerShard = Integer.highestOneBit(
      math.max(1, numPostingTasks * 2 / math.max(cfg.numShards, 1)))
    val prefixBits = Integer.numberOfTrailingZeros(bucketsPerShard)
    // shard and term travel as SEPARATE fields: the 64-bit term hash (fx64 /
    // custom hashers) round-trips exactly — never packed into a shared long
    val packed = rows.select(
      $"shard".cast("int").as("shard"),
      $"term".cast("long").as("term"),
      $"doc_id".cast("long").as("doc_id"),
      $"tf".cast("int"), $"dl".cast("int"))

    // map side: buffer → local sort → encoded chunks
    val chunkRdd = packed.queryExecution.toRdd.mapPartitions { it =>
      val buf = new PostingRuns.RunBuffer(1 << 19, bucketsPerShard, prefixBits)
      new Iterator[(Int, Array[Byte])] {
        private var pending: Iterator[(Int, Array[Byte])] = Iterator.empty
        @annotation.tailrec
        private def refill(): Unit =
          if (!pending.hasNext) {
            if (it.hasNext) {
              while (it.hasNext && !buf.isFull) {
                val r = it.next()
                buf.add(r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4))
              }
              pending = buf.flush()
              refill()
            } else if (buf.nonEmpty) pending = buf.flush()
          }
        def hasNext: Boolean = { refill(); pending.hasNext }
        def next(): (Int, Array[Byte]) = { refill(); pending.next() }
      }
    }
    val shuffled = spark.createDataset(chunkRdd).toDF("pkey", "chunk")
      .repartition(numPostingTasks, $"pkey")

    val blockSize = cfg.blockSize
    // reduce side: k-way merge of chunk cursors → streaming block encoder
    val blockRdd = shuffled.queryExecution.toRdd.mapPartitions { it =>
      val pq = new java.util.PriorityQueue[PostingRuns.RunCursor](64,
        (a: PostingRuns.RunCursor, b: PostingRuns.RunCursor) =>
          PostingRuns.compareCursors(a, b))
      it.foreach { r =>
        val c = new PostingRuns.RunCursor(r.getBinary(1), prefixBits)
        if (c.advance()) pq.add(c)
      }
      mergeToBlocks(pq, blockSize)
    }
    spark.createDataset(blockRdd)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
  }

  /** Streaming block builder over the cursor heap: pops (shard, term, doc)-
    * ordered postings, groups runs of one (shard, term), emits ≤blockSize
    * blocks. The term keeps its full 64 bits.
    */
  private def mergeToBlocks(pq: java.util.PriorityQueue[PostingRuns.RunCursor],
                            blockSize: Int): Iterator[PostingBlock] =
    new Iterator[PostingBlock] {
      private var curShard = -1
      private var curTerm = 0L
      private var haveCur = false
      private var blockNo = 0

      def hasNext: Boolean = !pq.isEmpty

      def next(): PostingBlock = {
        val shard = pq.peek().shard
        val term = pq.peek().term
        if (!haveCur || shard != curShard || term != curTerm) {
          curShard = shard; curTerm = term; haveCur = true; blockNo = 0
        }
        val docs = new Array[Long](blockSize)
        val tfs = new Array[Int](blockSize)
        val dls = new Array[Int](blockSize)
        var n = 0
        var maxTf = 0
        var minDl = Int.MaxValue
        while (n < blockSize && !pq.isEmpty &&
               pq.peek().shard == shard && pq.peek().term == term) {
          val c = pq.poll()
          docs(n) = c.doc; tfs(n) = c.tf; dls(n) = c.dl
          if (c.tf > maxTf) maxTf = c.tf
          if (c.dl < minDl) minDl = c.dl
          n += 1
          if (c.advance()) pq.add(c)
        }
        val b = PostingBlock(shard, term, blockNo, n,
          maxTf, minDl,
          if (n > 0) docs(0) else 0L, if (n > 0) docs(n - 1) else 0L,
          PostingCodec.encodeDeltas(java.util.Arrays.copyOf(docs, n)),
          PostingCodec.encodeInts(java.util.Arrays.copyOf(tfs, n)),
          PostingCodec.encodeInts(java.util.Arrays.copyOf(dls, n)))
        blockNo += 1
        b
      }
    }

  /** The content metrics `buildTermstats` derives (termstats checkpoint keys). */
  private val ContentMetrics =
    Seq("blocks", "compressedBytes", "postings", "vocabulary", "maxDf", "meanDf")

  /** df(term) over the written posting blocks, with each term's block
    * count and bytes, in one `groupBy(term)`: one exchange, below which
    * Spark's partial aggregate already folds a hot term to one row per map
    * task, so no salt is needed. Exposed for the plan audit.
    */
  private[graft] def termAggregate(spark: SparkSession, indexDir: String): DataFrame = {
    import spark.implicits._
    IndexTables.postings(spark, indexDir).groupBy($"term")
      .agg(sum($"cnt").as("df"), count(lit(1)).as("blocks"),
        sum(length($"docs") + length($"tfs") + length($"dls")).as("bytes"))
  }

  /** Writes termstats (term, df) from `termAggregate`, in the aggregation's
    * own partitioning with each file sorted by term; readers take the whole
    * table once, as `Bm25Index`'s term dictionary. The per-term rows are
    * cached, written, and the cache summed into the content metrics — so
    * they come from the written postings (a retried or speculative task
    * cannot count twice) without reading anything back.
    */
  private[graft] def buildTermstats(spark: SparkSession, indexDir: String): Map[String, Double] = {
    import spark.implicits._
    val perTerm = termAggregate(spark, indexDir).persist()
    try {
      perTerm.select($"term", $"df").sortWithinPartitions($"term")
        .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/termstats")
      val t = longTotals(perTerm.select($"df", $"blocks", $"bytes"))
      val (vocab, postings) = (t(0), t(1))
      Map("blocks" -> t(3).toDouble, "compressedBytes" -> t(5).toDouble,
        "postings" -> postings.toDouble, "vocabulary" -> vocab.toDouble,
        "maxDf" -> t(2).toDouble,
        "meanDf" -> (if (vocab > 0) postings.toDouble / vocab else 0.0))
    } finally perTerm.unpersist()
  }

  /** Manifest metrics: the content metrics plus the build's rates. */
  private[graft] def metrics(content: Map[String, Double], nDocs: Long,
                             seconds: Double): Map[String, Double] = {
    val postings = content("postings")
    val meanDf = content("meanDf")
    content - "meanDf" ++ Map(
      "buildSeconds" -> seconds,
      "docsPerSecond" -> (if (seconds > 0) nDocs / seconds else 0.0),
      "postingsPerSecond" -> (if (seconds > 0) postings / seconds else 0.0),
      "bytesPerPosting" -> (if (postings > 0) content("compressedBytes") / postings else 0.0),
      "dfSkewRatio" -> (if (meanDf > 0) content("maxDf") / meanDf else 0.0)
    )
  }

}
