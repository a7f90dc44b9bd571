package graft.index

import graft.SparkTestBase
import graft.text.Bm25Tokenizer

/** Distributed-index tests over the driver-provided documents table
  * (sf0.001, 500 docs): WAND ≡ exhaustive (rank- and bit-identical top-k),
  * point-score consistency, pruning-friendly stats.
  */
class Bm25IndexSpec extends SparkTestBase {
  import spark.implicits._

  lazy val indexDir: String = {
    val dir = tmpDir("idx_sf0001")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "text as content").as[CorpusDoc]
    IndexBuilder.build(spark, docs, Bm25Tokenizer.default, dir,
      IndexBuildConfig(numShards = 4, shardGroups = 2),
      Map("input" -> "/root/testdata/sf0.001/documents.parquet"))
    dir
  }

  lazy val index = new Bm25Index(spark, indexDir)

  /** An instance whose fan-out groups are fixed, by its first search, under
    * a default parallelism of 8: 8 × 2 / 4 shards = 4 ranges per shard.
    */
  private def fannedIndex(): Bm25Index =
    org.apache.spark.graft.LocalParallelism(spark.sparkContext, 8) {
      val idx = new Bm25Index(spark, indexDir)
      idx.search("merge join sort", Some(5), mode = "wand").collect()
      idx
    }

  test("index builds with sane stats") {
    val m = index.manifest
    assert(m.nDocs === 500L)
    assert(m.avgdl > 0f)
    assert(m.metrics("postings") > 0)
    assert(m.metrics("bytesPerPosting") < 8.0,
      s"varbyte blocks should beat 8B/posting, got ${m.metrics("bytesPerPosting")}")
  }

  test("WAND top-k is rank- and score-identical to exhaustive") {
    for (q <- Seq("merge join sort", "spark window batch stream", "the fast key"); k <- Seq(5, 20)) {
      val ex = index.search(q, Some(k), mode = "exhaustive").collect()
      val wd = index.search(q, Some(k), mode = "wand").collect()
      assert(wd.map(_.doc_id).toSeq === ex.map(_.doc_id).toSeq, s"q='$q' k=$k ids")
      wd.zip(ex).foreach { case (w, e) =>
        assert(java.lang.Float.floatToRawIntBits(w.score) ===
          java.lang.Float.floatToRawIntBits(e.score), s"q='$q' k=$k doc ${w.doc_id}")
      }
    }
  }

  test("WAND ≡ exhaustive with repeated query tokens (multiplicity-scaled bounds)") {
    // A token repeated in the query contributes mult·idf·weight to the fold
    // (scorer.rs:109-123); WAND block bounds must scale by mult or they
    // under-estimate and skip blocks holding true top-k docs.
    // "keys key" stems to the same token twice — the post-stemming duplicate case.
    for (q <- Seq("merge merge join sort sort sort", "keys key", "batch batch batch stream");
         k <- Seq(3, 10)) {
      val ex = index.search(q, Some(k), mode = "exhaustive").collect()
      val wd = index.search(q, Some(k), mode = "wand").collect()
      assert(wd.map(_.doc_id).toSeq === ex.map(_.doc_id).toSeq, s"q='$q' k=$k ids")
      wd.zip(ex).foreach { case (w, e) =>
        assert(java.lang.Float.floatToRawIntBits(w.score) ===
          java.lang.Float.floatToRawIntBits(e.score), s"q='$q' k=$k doc ${w.doc_id}")
      }
    }
  }

  test("WAND fan-out exceeds numShards and stays rank/bit-identical (range split)") {
    // 4 sub-ranges per shard on a 4-shard index → 16 groups > 4 shards:
    // query parallelism is no longer capped by the shard count.
    val fanned = fannedIndex()
    assert(fanned.fanoutRanges.perShard === 4)
    assert(fanned.manifest.numShards * fanned.fanoutRanges.perShard >
      fanned.manifest.numShards)
    for (q <- Seq("merge join sort", "the fast key", "keys key"); k <- Seq(5, 20)) {
      val ex = index.search(q, Some(k), mode = "exhaustive").collect()
      val wd = fanned.search(q, Some(k), mode = "wand").collect()
      assert(wd.map(_.doc_id).toSeq === ex.map(_.doc_id).toSeq, s"q='$q' k=$k ids")
      wd.zip(ex).foreach { case (w, e) =>
        assert(java.lang.Float.floatToRawIntBits(w.score) ===
          java.lang.Float.floatToRawIntBits(e.score), s"q='$q' k=$k doc ${w.doc_id}")
      }
    }
  }

  test("scoreDoc matches the search score for a hit, None for absent doc") {
    val q = "merge join sort"
    val top = index.search(q, Some(3)).collect()
    assert(top.nonEmpty)
    top.foreach { h =>
      val s = index.scoreDoc(h.doc_id, q)
      assert(s.isDefined)
      assert(java.lang.Float.floatToRawIntBits(s.get) ===
        java.lang.Float.floatToRawIntBits(h.score))
    }
    assert(index.scoreDoc(999999999L, q).isEmpty)
  }

  test("an unknown search mode is refused, naming both modes") {
    for (q <- Seq("merge join sort", "")) {
      val e = intercept[IllegalArgumentException](index.search(q, Some(5), mode = "wnad"))
      assert(e.getMessage.contains("wnad") && e.getMessage.contains("\"wand\"") &&
        e.getMessage.contains("\"exhaustive\""), e.getMessage)
    }
  }

  test("empty query and unknown terms yield empty results") {
    assert(index.search("", Some(5)).isEmpty)
    assert(index.search("zzzunseenwordzzz", Some(5)).isEmpty)
  }

  test("empty and single-doc corpora build queryable indexes") {
    val emptyDir = tmpDir("idx_empty")
    IndexBuilder.build(spark, spark.emptyDataset[CorpusDoc], Bm25Tokenizer.default,
      emptyDir, IndexBuildConfig(numShards = 2, shardGroups = 1, uniformIdSpace = true))
    val emptyIdx = new Bm25Index(spark, emptyDir)
    assert(emptyIdx.nDocs === 0L)
    assert(emptyIdx.manifest.avgdl === 256.0f) // fallback, embedder.rs:129
    assert(emptyIdx.search("anything", Some(5)).isEmpty)

    val oneDir = tmpDir("idx_one")
    IndexBuilder.build(spark, Seq(CorpusDoc(1L, "solitary spark document")).toDS(),
      Bm25Tokenizer.default, oneDir, IndexBuildConfig(numShards = 2, shardGroups = 1))
    val oneIdx = new Bm25Index(spark, oneDir)
    val hits = oneIdx.search("spark", None).collect()
    assert(hits.length === 1 && hits.head.doc_id === 1L && hits.head.score > 0f)
  }

  test("64-bit term hashes (fx64) survive build + search, identical ranks to fx32") {
    // Round-2's run format packed skey = shard<<32 + term, silently
    // truncating 64-bit hashes; this gates the fixed format end-to-end.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "text as content").as[CorpusDoc]
    val dir = tmpDir("idx_fx64")
    IndexBuilder.build(spark, docs, Bm25Tokenizer.default, dir,
      IndexBuildConfig(numShards = 4, shardGroups = 2),
      hasher = graft.bm25.Fx64Hasher)
    // the index must actually contain terms above the 32-bit range
    val wide = spark.read.parquet(s"$dir/postings")
      .where($"term" > (1L << 32)).count()
    assert(wide > 0L, "fx64 index should hold terms > 2^32")
    val idx64 = new Bm25Index(spark, dir)
    for (q <- Seq("merge join sort", "the fast key", "spark window batch stream");
         k <- Seq(5, 20)) {
      // same tokenizer + same corpus ⇒ identical tf/dl/df per matched doc:
      // scores and ranks must be bit-identical across hash spaces (the hash
      // only names the term), and WAND must agree with exhaustive.
      val h32 = index.search(q, Some(k), "exhaustive").collect()
      val ex64 = idx64.search(q, Some(k), "exhaustive").collect()
      val wd64 = idx64.search(q, Some(k), "wand").collect()
      assert(ex64.map(_.doc_id).toSeq === h32.map(_.doc_id).toSeq, s"q='$q' k=$k vs fx32")
      ex64.zip(h32).foreach { case (a, b) =>
        assert(java.lang.Float.floatToRawIntBits(a.score) ===
          java.lang.Float.floatToRawIntBits(b.score), s"q='$q' doc ${a.doc_id}")
      }
      assert(wd64.map(_.doc_id).toSeq === ex64.map(_.doc_id).toSeq, s"q='$q' k=$k wand")
      wd64.zip(ex64).foreach { case (a, b) =>
        assert(java.lang.Float.floatToRawIntBits(a.score) ===
          java.lang.Float.floatToRawIntBits(b.score), s"q='$q' doc ${a.doc_id} wand")
      }
    }
  }

  test("termDfs equals the termstats rows and Σcnt over blocks") {
    val rows = IndexTables.termstats(spark, indexDir).as[(Long, Long)].collect()
    assert(rows.length.toDouble === index.manifest.metrics("vocabulary"))
    val stored = rows.toMap
    assert(stored.size === rows.length, "one termstats row per term")
    val all = rows.map(_._1)
    assert(index.termDfs(all) === stored)
    val blockSums = IndexTables.postings(spark, indexDir).groupBy($"term")
      .agg(org.apache.spark.sql.functions.sum($"cnt").as("df"))
      .as[(Long, Long)].collect().toMap
    assert(index.termDfs(all) === blockSums)
    val held = all.toSet
    val absent = Seq(Long.MinValue, -1L, 0L, 1L, Long.MaxValue).filterNot(held).toArray
    assert(absent.nonEmpty)
    assert(index.termDfs(absent).isEmpty)
    assert(index.termDfs(absent ++ all.take(3)) === all.take(3).map(t => t -> stored(t)).toMap)
  }

  test("a second termDfs on one index instance launches no Spark job") {
    import org.apache.spark.graft.JobRecorder
    val fresh = new Bm25Index(spark, indexDir)
    val terms = fresh.queryTerms("merge join sort").distinct
    val (first, firstJobs) = JobRecorder(spark.sparkContext)(fresh.termDfs(terms))
    assert(firstJobs.length === 1, s"first lookup jobs: $firstJobs")
    val (second, secondJobs) = JobRecorder(spark.sparkContext)(fresh.termDfs(fresh.queryTerms("spark window")))
    assert(secondJobs.isEmpty, s"second lookup jobs: $secondJobs")
    assert(first === index.termDfs(terms) && second.nonEmpty)
    // the exhaustive scorer takes its idfs from the same dictionary: a second
    // search on the instance launches its scoring only, one job for the
    // doc-grouping exchange's map stage and one for the top-k
    fresh.search("merge join sort", Some(10), "exhaustive").collect()
    val (hits, searchJobs) = JobRecorder(spark.sparkContext)(
      fresh.search("spark window batch", Some(10), "exhaustive").collect())
    assert(searchJobs.length === 2, s"second exhaustive search jobs: $searchJobs")
    assert(hits.nonEmpty)
  }

  /** WAND top-k of `idx` equals the exhaustive scorer's, ids and f32 bits,
    * limited and unlimited.
    */
  private def assertWandExact(idx: Bm25Index, what: String): Unit =
    for (q <- Seq("merge join sort", "keys key", "spark window batch stream"); k <- Seq(Some(5), Some(20), None)) {
      val ex = index.search(q, k, mode = "exhaustive").collect()
      val wd = idx.search(q, k, mode = "wand").collect()
      assert(wd.map(_.doc_id).toSeq === ex.map(_.doc_id).toSeq, s"$what: q='$q' k=$k ids")
      assert(wd.map(w => java.lang.Float.floatToRawIntBits(w.score)).toSeq ===
        ex.map(e => java.lang.Float.floatToRawIntBits(e.score)).toSeq, s"$what: q='$q' k=$k scores")
    }

  test("WAND stays bit-exact against exhaustive after release() and after clearCache(), fan-out too") {
    import org.apache.spark.graft.JobRecorder
    for (idx <- Seq(new Bm25Index(spark, indexDir), fannedIndex())) {
      val what = s"${idx.fanoutRanges.perShard} ranges per shard"
      // a search over held blocks reads them: one job
      def assertOneJob(when: String): Unit = {
        val (hits, jobs) = JobRecorder(spark.sparkContext)(idx.search("spark window batch", Some(10), "wand").collect())
        assert(jobs.length === 1, s"$what: search $when jobs: $jobs")
        assert(hits.nonEmpty)
      }
      assertWandExact(idx, s"$what, first")
      assertOneJob("after the first")
      idx.release()
      assertWandExact(idx, s"$what, after release()")
      spark.catalog.clearCache()
      assertWandExact(idx, s"$what, after clearCache()")
      assertOneJob("after re-registration")
      idx.release()
    }
  }

  test("WAND stays bit-exact when the default parallelism grows after the blocks are held") {
    import org.apache.spark.graft.LocalParallelism
    // the auto fan-out count derives from the default parallelism, which on
    // a cluster grows as executors register: the kernel must trim each
    // group to the ranges its held blocks were routed with
    val idx = new Bm25Index(spark, indexDir)
    val perShard = idx.fanoutRanges.perShard
    assertWandExact(idx, s"$perShard ranges per shard")
    LocalParallelism(spark.sparkContext, spark.sparkContext.defaultParallelism * 4) {
      assertWandExact(idx, s"$perShard ranges per shard, default parallelism grown")
      assert(idx.fanoutRanges.perShard === perShard)
    }
    idx.release()
  }

  test("df from termstats equals live distinct count from postings") {
    val terms = index.queryTerms("merge join").distinct
    val dfs = index.termDfs(terms)
    val live = index.postingsFor(terms).groupByKey(_.term).count().collect().toMap
    terms.foreach { t =>
      assert(dfs.get(t) === live.get(t), s"term $t df mismatch")
    }
  }
}
