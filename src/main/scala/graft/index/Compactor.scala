package graft.index

import graft.bm25.{Bm25Params, Embedder, TokenHasher}
import graft.text.TextTokenizer
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed multi-way posting merge (north_rule): folds pending deltas
  * into a base index WITHOUT re-tokenizing the base corpus —
  *
  *   - the changed docs (each one's latest post-base version) are read in
  *     ONE pass: live ones are tokenized in executors into cached forward
  *     rows, and one collect of (doc_id, tombstone, dl) gives the drop set
  *     (every changed id: an upsert replaces its base version, a tombstone
  *     removes it), the delta count and Σdl; the forward write and the
  *     posting explode both read the cache;
  *   - base posting blocks are decoded columnar-ly (one UDF call per block,
  *     then a Catalyst explode — never per-posting JVM objects on the scan
  *     side); dropped doc versions are filtered by a binary search of the
  *     sorted drop ids, broadcast once (no join exchange, no `distinct`,
  *     never an `isin` literal list — a large tombstone set would blow up
  *     the plan);
  *   - both streams feed the builder's (shard, term)-partitioned sort-merge
  *     exchange and block encoder, producing fresh range-partitioned shards.
  *
  * Shard bounds, blockSize, termBuckets, tokenizer, hasher and the FROZEN
  * avgdl all derive from the base manifest (compaction is physical: scores
  * must not move, and the written layout must match what the manifest
  * declares — asserted in SearchEngineSpec / CompactorSpec). N and Σdl are
  * the base's, minus the dropped base rows, plus the deltas; the content
  * metrics come from the termstats aggregation — nothing written is read
  * back for the manifest.
  */
object Compactor {

  /** @param changed the changed docs as (doc_id, tombstone, contents), one
    *   row per id; a tombstone's contents are not read.
    */
  def merge(spark: SparkSession, baseDir: String, outDir: String,
            changed: DataFrame, tokenizer: TextTokenizer,
            cfg: IndexBuildConfig = IndexBuildConfig()): IndexManifest = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val base = IndexManifest.read(baseDir)
    // Physical layout parameters MUST come from the base manifest — the new
    // manifest is base.copy(...), and bucketOf/shardOf prune against these.
    val eff = cfg.copy(numShards = base.numShards, blockSize = base.blockSize,
      termBuckets = base.termBuckets)
    val hasher = TokenHasher.fromName(base.hasher).getOrElse(TokenHasher.default)

    val emb = new Embedder(Bm25Params(), tokenizer, hasher)
    val changedFwd = changed.as[(Long, Boolean, String)].map { case (id, tombstone, text) =>
      val (terms, tfs, dl) =
        if (tombstone) (Array.empty[Long], Array.empty[Int], 0) else emb.termFrequencies(text)
      (tombstone, ForwardRow(id, base.shardOf(id), dl, terms, tfs))
    }.toDF("tombstone", "row").persist()
    try {
      val deltaFwd = changedFwd.where(!$"tombstone").select($"row.*").as[ForwardRow]
      val changedDl = changedFwd.select($"row.doc_id", $"tombstone", $"row.dl").as[(Long, Boolean, Int)].collect()
      val deltaDl = changedDl.filterNot(_._2).map(_._3.toLong)
      val drop = changedDl.map(_._1).distinct.sorted
      val dropB = spark.sparkContext.broadcast(drop)
      val kept = udf((id: Long) => java.util.Arrays.binarySearch(dropB.value, id) < 0)

      // --- forward: base \ drop ∪ tokenized deltas -------------------------
      val baseFwd = IndexTables.forward(spark, baseDir)
      baseFwd.where(kept($"doc_id")).as[ForwardRow].union(deltaFwd)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/forward")
      val (goneDocs, goneDl) = IndexBuilder.docStats(baseFwd.where(!kept($"doc_id")))

      // --- postings: decoded base blocks ∪ delta postings → sort-merge ----
      val decDocs = udf((b: Array[Byte], n: Int) => PostingCodec.decodeDeltas(b, n))
      val decInts = udf((b: Array[Byte], n: Int) => PostingCodec.decodeInts(b, n))
      val baseRows = IndexTables.postings(spark, baseDir)
        .select($"shard", $"term",
          decDocs($"docs", $"cnt").as("d"), decInts($"tfs", $"cnt").as("t"), decInts($"dls", $"cnt").as("l"))
        .select($"shard", $"term", explode(arrays_zip($"d", $"t", $"l")).as("p"))
        .select($"shard", $"term", $"p.d".as("doc_id"), $"p.t".as("tf"), $"p.l".as("dl"))
        .where(kept($"doc_id"))
      val deltaRows = deltaFwd.toDF()
        .select($"shard", $"doc_id", $"dl", explode(arrays_zip($"terms", $"tfs")).as("te"))
        .select($"shard", $"te.terms".as("term"), $"doc_id", $"te.tfs".as("tf"), $"dl")
      IndexBuilder.encodePostingRows(spark, baseRows.unionByName(deltaRows),
        s"$outDir/postings/group=0", eff, eff.numShards)

      // --- termstats + manifest -------------------------------------------
      val content = IndexBuilder.buildTermstats(spark, outDir, eff)
      val nDocs = base.nDocs - goneDocs + deltaDl.length
      val manifest = base.copy(
        nDocs = nDocs,
        sumDl = base.sumDl - goneDl + deltaDl.sum,
        // avgdl intentionally unchanged (frozen at fit, reference semantics)
        lineage = base.lineage ++ Map(
          "compactedFrom" -> baseDir,
          "deltaDocs" -> deltaDl.length.toString),
        metrics = IndexBuilder.metrics(content, nDocs, (System.nanoTime() - t0) / 1e9)
      )
      manifest.write(outDir)
      Checkpoints.commit(outDir, "bounds",
        Map("bounds" -> base.shardBounds.mkString(","), "numShards" -> base.numShards))
      manifest
    } finally changedFwd.unpersist()
  }
}
