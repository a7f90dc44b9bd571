package graft.index

import graft.SparkTestBase
import graft.text.Bm25Tokenizer
import java.nio.file.{Files, Paths}

/** Kill/resume semantics (north_rule: resumable from per-partition
  * checkpoints with lineage): a build interrupted after some shard groups
  * must, on rerun, skip committed work and produce an index whose content is
  * identical to an uninterrupted build.
  */
class IndexResumeSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    .selectExpr("doc_id", "text as content").as[CorpusDoc]

  private val cfg = IndexBuildConfig(numShards = 4, shardGroups = 4)

  private def contentSignature(dir: String): (Seq[String], Seq[String], IndexManifest) = {
    val postings = spark.read.parquet(s"$dir/postings")
      .selectExpr("shard", "term", "block", "cnt", "max_tf", "min_dl",
        "hex(docs) as d", "hex(tfs) as t", "hex(dls) as l")
      .collect().map(_.toString).sorted.toSeq
    val termstats = spark.read.parquet(s"$dir/termstats")
      .selectExpr("term", "df").collect().map(_.toString).sorted.toSeq
    (postings, termstats, IndexManifest.read(dir))
  }

  test("interrupted build resumes from checkpoints to identical content") {
    val clean = tmpDir("idx_clean")
    IndexBuilder.build(spark, docs, Bm25Tokenizer.default, clean, cfg)

    // Simulate a crash: full build, then destroy everything AFTER shard
    // group 1 (postings groups 2..3, termstats, manifest) while keeping the
    // committed checkpoints for forward/stats/g0/g1.
    val crashed = tmpDir("idx_crashed")
    IndexBuilder.build(spark, docs, Bm25Tokenizer.default, crashed, cfg)
    Files.delete(Paths.get(crashed, "manifest.json"))
    Files.delete(Paths.get(crashed, "_checkpoints", "postings_g2.json"))
    Files.delete(Paths.get(crashed, "_checkpoints", "postings_g3.json"))
    Files.delete(Paths.get(crashed, "_checkpoints", "termstats.json"))
    // remove the group dirs those checkpoints covered
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(new java.io.File(s"$crashed/postings/group=2"))
    rm(new java.io.File(s"$crashed/postings/group=3"))
    rm(new java.io.File(s"$crashed/termstats"))

    // Resume: must skip forward/stats/g0/g1 and redo the rest.
    val t0 = System.nanoTime()
    IndexBuilder.build(spark, docs, Bm25Tokenizer.default, crashed, cfg)
    val resumeSeconds = (System.nanoTime() - t0) / 1e9

    val (p1, t1, m1) = contentSignature(clean)
    val (p2, t2, m2) = contentSignature(crashed)
    assert(p1 === p2, "posting blocks differ after resume")
    assert(t1 === t2, "termstats differ after resume")
    assert(m1.nDocs === m2.nDocs && m1.sumDl === m2.sumDl && m1.avgdl === m2.avgdl)
    assert(m1.shardBounds.toSeq === m2.shardBounds.toSeq)
    for (k <- Seq("postings", "blocks", "compressedBytes", "bytesPerPosting", "vocabulary",
                  "maxDf", "dfSkewRatio"))
      assert(m1.metrics(k) === m2.metrics(k), s"content metric $k differs after resume")
    // a crash after every stage committed: the content metrics are read
    // back from the termstats checkpoint
    Files.delete(Paths.get(crashed, "manifest.json"))
    val m3 = IndexBuilder.build(spark, docs, Bm25Tokenizer.default, crashed, cfg)
    for (k <- Seq("postings", "blocks", "compressedBytes", "vocabulary", "maxDf", "dfSkewRatio"))
      assert(m3.metrics(k) === m1.metrics(k), s"content metric $k differs after a manifest-only resume")
    assert(resumeSeconds < 60, s"resume took ${resumeSeconds}s")
  }

  test("a completed build is a no-op on rerun (manifest short-circuit)") {
    val dir = tmpDir("idx_noop")
    IndexBuilder.build(spark, docs, Bm25Tokenizer.default, dir, cfg)
    // Assert the no-op property directly — no file under the index dir is
    // rewritten or added — rather than a wall-clock bound (which flakes on
    // slow VM windows: a 2 s cap was once missed at 2.3 s by pure host noise).
    def snapshot: Map[String, Long] = {
      val root = Paths.get(dir)
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).toArray.map { p0 =>
        val p = p0.asInstanceOf[java.nio.file.Path]
        p.toString -> Files.getLastModifiedTime(p).toMillis
      }.toMap
      finally s.close()
    }
    val before = snapshot
    val m = IndexBuilder.build(spark, docs, Bm25Tokenizer.default, dir, cfg)
    assert(snapshot === before, "rerun touched index files despite completed manifest")
    assert(m.nDocs === 500L)
  }
}
