package graft.index

import graft.SparkTestBase
import graft.bm25.FnHasher
import graft.text.Bm25Tokenizer

/** The multi-way merge compactor must produce an index whose decoded content
  * equals a from-scratch build over the post-mutation corpus (same bounds,
  * same frozen avgdl) — posting multisets, termstats and search results all
  * identical.
  */
class CompactorSpec extends SparkTestBase {
  import spark.implicits._

  test("merge-compacted index ≡ fresh build over the live corpus") {
    val tok = Bm25Tokenizer.default
    val baseDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "text as content").as[CorpusDoc]

    val baseDir = tmpDir("cmp_base")
    val cfg = IndexBuildConfig(numShards = 4, shardGroups = 1)
    val baseManifest = IndexBuilder.build(spark, baseDocs, tok, baseDir, cfg)

    // deltas: remove docs 3 and 7, update doc 5, add two new docs; the
    // changed rows are (doc_id, tombstone, contents), one per id
    val removed = Seq(3L, 7L)
    val deltaDocs = Seq(
      CorpusDoc(5L, "spark merge sort window stream"),
      CorpusDoc(100001L, "hash join broadcast table scan"),
      CorpusDoc(100002L, "filter group agg query row"))
    def changed(tombstones: Seq[Long]) =
      (tombstones.map((_, true, null: String)) ++ deltaDocs.map(d => (d.doc_id, false, d.content)))
        .toDF("doc_id", "tombstone", "contents")

    // 100003 was added and removed since the base: its tombstone drops nothing
    val mergedDir = tmpDir("cmp_merged")
    val merged = Compactor.merge(spark, baseDir, mergedDir, changed(removed :+ 100003L), tok, cfg)
    assert(merged.nDocs === 500L - 3 + 3) // 2 removed, 1 replaced, 2 added
    assert(merged.avgdl === baseManifest.avgdl) // frozen

    // fresh build over the equivalent live corpus with the same bounds+avgdl
    val superseded = removed :+ 5L
    val liveDocs = baseDocs.filter(d => !superseded.contains(d.doc_id)).union(deltaDocs.toDS())
    val freshDir = tmpDir("cmp_fresh")
    // carry the base bounds so sharding is identical
    Checkpoints.commit(freshDir, "bounds", Map(
      "bounds" -> baseManifest.shardBounds.mkString(","), "numShards" -> cfg.numShards))
    val freshManifest = IndexBuilder.build(spark, liveDocs, tok, freshDir, cfg,
      avgdlOverride = Some(baseManifest.avgdl))
    // the merge derives its stats and metrics; they equal the fresh build's
    assert(merged.nDocs === freshManifest.nDocs)
    assert(merged.sumDl === freshManifest.sumDl)
    for (m <- Seq("postings", "blocks", "compressedBytes", "vocabulary", "maxDf", "dfSkewRatio"))
      assert(merged.metrics(m) === freshManifest.metrics(m), m)
    // ... and are the written tables' own figures
    import org.apache.spark.sql.functions._
    val ts = spark.read.parquet(s"$mergedDir/termstats").agg(count(lit(1)), max($"df"), avg($"df")).head()
    val pb = spark.read.parquet(s"$mergedDir/postings")
      .agg(count(lit(1)), sum($"cnt"), sum(length($"docs") + length($"tfs") + length($"dls"))).head()
    assert(Seq("vocabulary", "maxDf", "dfSkewRatio", "blocks", "postings", "compressedBytes").map(merged.metrics) ===
      Seq(ts.getLong(0).toDouble, ts.getLong(1).toDouble, ts.getLong(1) / ts.getDouble(2),
        pb.getLong(0).toDouble, pb.getLong(1).toDouble, pb.getLong(2).toDouble))

    def postingsSig(dir: String): Seq[String] = {
      val idx = new Bm25Index(spark, dir)
      spark.read.parquet(s"$dir/postings")
        .select($"shard", $"term", $"cnt", $"docs", $"tfs", $"dls")
        .as[(Int, Long, Int, Array[Byte], Array[Byte], Array[Byte])]
        .flatMap { case (s, t, c, d, tf, dl) =>
          val ds = PostingCodec.decodeDeltas(d, c)
          val tfs = PostingCodec.decodeInts(tf, c)
          val dls = PostingCodec.decodeInts(dl, c)
          Iterator.tabulate(c)(i => s"$s|$t|${ds(i)}|${tfs(i)}|${dls(i)}")
        }.collect().sorted.toSeq ++ {
          val _ = idx
          spark.read.parquet(s"$dir/termstats").select($"term", $"df")
            .collect().map(_.toString).sorted.toSeq
        }
    }
    assert(postingsSig(mergedDir) === postingsSig(freshDir))
    // upsert semantics do not rest on a tombstone: the updated doc 5, only a
    // live changed row, still replaces its base version
    val upsertDir = tmpDir("cmp_upsert")
    Compactor.merge(spark, baseDir, upsertDir, changed(removed), tok, cfg)
    assert(postingsSig(upsertDir) === postingsSig(freshDir))

    // search equivalence, bit-exact
    val qm = new Bm25Index(spark, mergedDir)
    val qf = new Bm25Index(spark, freshDir)
    for (q <- Seq("merge sort", "hash join table", "spark window")) {
      val a = qm.search(q, None).collect().toSeq
      val b = qf.search(q, None).collect().toSeq
      assert(a.map(_.doc_id) === b.map(_.doc_id), s"q='$q'")
      a.zip(b).foreach { case (x, y) =>
        assert(java.lang.Float.floatToRawIntBits(x.score) ===
          java.lang.Float.floatToRawIntBits(y.score), s"q='$q' doc ${x.doc_id}")
      }
    }
  }

  private def smallBase(hasher: graft.bm25.TokenHasher = graft.bm25.TokenHasher.default): String = {
    val dir = tmpDir("cmp_small")
    IndexBuilder.build(spark, Seq(CorpusDoc(1L, "spark merge sort"), CorpusDoc(2L, "hash join table"),
      CorpusDoc(3L, "window stream row")).toDS(), Bm25Tokenizer.default, dir,
      IndexBuildConfig(numShards = 2, shardGroups = 1), hasher = hasher)
    dir
  }
  private def oneUpsert =
    Seq((2L, false, "broadcast join table")).toDF("doc_id", "tombstone", "contents")

  test("merge refuses a base built with a hasher it cannot name, writing no manifest") {
    val base = smallBase(new FnHasher("rev", t => t.reverse.hashCode.toLong & Long.MaxValue))
    val out = tmpDir("cmp_rev")
    val e = intercept[IllegalArgumentException](
      Compactor.merge(spark, base, out, oneUpsert, Bm25Tokenizer.default))
    assert(e.getMessage.contains("rev"))
    assert(!IndexManifest.exists(out))
  }

  test("merge refuses an output dir holding a manifest or checkpoints") {
    val base = smallBase()
    val withManifest = tmpDir("cmp_stale")
    IndexManifest.read(base).write(withManifest)
    intercept[IllegalArgumentException](
      Compactor.merge(spark, base, withManifest, oneUpsert, Bm25Tokenizer.default))
    val withCheckpoint = tmpDir("cmp_stale_ckpt")
    Checkpoints.commit(withCheckpoint, "postings_g0", Map("shards" -> "0,1"))
    intercept[IllegalArgumentException](
      Compactor.merge(spark, base, withCheckpoint, oneUpsert, Bm25Tokenizer.default))
    assert(!IndexManifest.exists(withCheckpoint))
  }

  test("a merged index carries the same checkpoint set as a built one") {
    val base = smallBase()
    val out = tmpDir("cmp_ckpt")
    Compactor.merge(spark, base, out, oneUpsert, Bm25Tokenizer.default)
    val merged = Checkpoints.readAll(out)
    assert(merged.keySet === Set("bounds", "forward", "stats", "postings_g0", "termstats"))
    assert(merged.keySet === Checkpoints.readAll(base).keySet)
    // every stage records its time, in a built index and a merged one
    for ((what, cps) <- Seq("built" -> Checkpoints.readAll(base), "merged" -> merged); (name, json) <- cps)
      assert(json.contains("\"seconds\""), s"$what $name: $json")
    assert(merged("stats").contains("\"nDocs\" : 3"))
  }
}
