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
  *     rows, and one collect of (doc_id, tombstone) gives the drop set
  *     (every changed id: an upsert replaces its base version, a tombstone
  *     removes it);
  *   - the merged forward table is the base's forward rows minus the drop
  *     set, filtered by a binary search of the sorted drop ids, broadcast
  *     once (no join exchange, no `distinct`, never an `isin` literal list —
  *     a large tombstone set would blow up the plan), plus the tokenized
  *     changed docs;
  *   - the builder's own stages (`IndexBuilder.fromForward`: stats,
  *     postings, termstats, manifest) run over that table, so the merged
  *     index is built exactly as a fresh build over the live corpus is.
  *
  * Shard bounds, blockSize, tokenizer, hasher and the FROZEN avgdl all
  * derive from the base manifest (compaction is physical: scores must not
  * move, and the written layout must match what the manifest declares —
  * asserted in SearchEngineSpec / CompactorSpec). A merge is
  * never resumed: `outDir` must hold no index and no checkpoints, and it
  * ends with the same checkpoint set as a build.
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
    require(!IndexManifest.exists(outDir) &&
      !java.nio.file.Files.exists(java.nio.file.Paths.get(outDir, "_checkpoints")),
      s"merge output $outDir already holds an index or checkpoints; merge into a new directory")
    val base = IndexManifest.read(baseDir)
    val hasher = TokenHasher.fromName(base.hasher).getOrElse(
      throw new IllegalArgumentException(
        s"base index was built with hasher '${base.hasher}'; a merge cannot hash its deltas"))

    val emb = new Embedder(Bm25Params(), tokenizer, hasher)
    val changedFwd = changed.as[(Long, Boolean, String)].map { case (id, tombstone, text) =>
      val (terms, tfs, dl) =
        if (tombstone) (Array.empty[Long], Array.empty[Int], 0) else emb.termFrequencies(text)
      (tombstone, ForwardRow(id, base.shardOf(id), dl, terms, tfs))
    }.toDF("tombstone", "row").persist()
    val deltaDocs = try {
      val changedIds = changedFwd.select($"row.doc_id", $"tombstone").as[(Long, Boolean)].collect()
      val dropB = spark.sparkContext.broadcast(changedIds.map(_._1).distinct.sorted)
      val kept = udf((id: Long) => java.util.Arrays.binarySearch(dropB.value, id) < 0)

      // forward: base \ drop ∪ tokenized deltas
      Checkpoints.commit(outDir, "bounds", Map("bounds" -> base.shardBounds.mkString(","),
        "numShards" -> base.numShards, "seconds" -> 0.0))
      IndexTables.forward(spark, baseDir).where(kept($"doc_id")).as[ForwardRow]
        .union(changedFwd.where(!$"tombstone").select($"row.*").as[ForwardRow])
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/forward")
      Checkpoints.commit(outDir, "forward", Map("seconds" -> (System.nanoTime() - t0) / 1e9))
      changedIds.count(!_._2)
    } finally changedFwd.unpersist()

    // Layout from the base manifest (shardOf routes the deltas against it);
    // one shard group, since a merge is never resumed.
    IndexBuilder.fromForward(spark, outDir, base.shardBounds,
      cfg.copy(numShards = base.numShards, blockSize = base.blockSize, shardGroups = 1),
      base.tokenizer, base.hasher,
      base.lineage ++ Map("compactedFrom" -> baseDir, "deltaDocs" -> deltaDocs.toString),
      Some(base.avgdl), t0)
  }
}
