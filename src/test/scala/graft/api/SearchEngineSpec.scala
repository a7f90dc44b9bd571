package graft.api

import graft.SparkTestBase
import graft.bm25.Bm25Math
import graft.fixtures.Fixtures
import graft.text.Language

/** Mirrors the reference search-engine unit tests
  * (`/root/reference/src/search.rs:321-490`) plus the pinned scorer vectors
  * (`scorer.rs:197-263`), against the distributed engine.
  */
class SearchEngineSpec extends SparkTestBase {

  private def engine(dir: String, corpus: Seq[String], lang: Language = Language.English) =
    SearchEngine.withCorpus(spark, tmpDir(dir), corpus, lang)

  test("search returns relevant documents") {
    val eng = engine("rel", Seq("space station", "bacon and avocado sandwich"))
    val results = eng.search("sandwich with bacon", Some(5))
    assert(results.length === 1)
    assert(results.head.contents === "bacon and avocado sandwich")
    assert(results.head.score > 0.0f)
  }

  test("search does not return unrelated documents") {
    val eng = engine("unrel", Seq("space station", "bacon and avocado sandwich"))
    assert(eng.search("maths and computer science", Some(5)).isEmpty)
  }

  test("it can insert a document (delta-only path, no base index)") {
    val eng = SearchEngine.withAvgdl(spark, tmpDir("ins"), 2.0f)
    val doc = Doc("hello world", "bananas and apples")
    eng.upsert(doc)
    assert(eng.get("hello world").contains(doc))
    // searchable through the delta path
    val r = eng.search("bananas", None)
    assert(r.length === 1 && r.head.id === "hello world")
  }

  test("it can remove a document") {
    val eng = SearchEngine.withAvgdl(spark, tmpDir("rm"), 2.0f)
    eng.upsert(Doc("123", "bananas and apples"))
    eng.remove("123")
    assert(eng.get("123").isEmpty)
    assert(eng.search("bananas", None).isEmpty)
  }

  test("it can update a document") {
    val eng = SearchEngine.withDocuments(spark, tmpDir("upd"),
      Seq(Doc("hello_world", "bananas and apples")))
    eng.upsert(Doc("hello_world", "oranges and papayas"))
    assert(eng.get("hello_world").contains(Doc("hello_world", "oranges and papayas")))
    assert(eng.search("bananas", None).isEmpty)
    val r = eng.search("papayas", None)
    assert(r.length === 1 && r.head.id === "hello_world")
  }

  test("handles empty input") {
    val eng = SearchEngine.withAvgdl(spark, tmpDir("emptyd"), 2.0f)
    eng.upsert(Doc("123", ""))
    assert(eng.search("bacon sandwich", Some(5)).isEmpty)
  }

  test("handles empty search") {
    val eng = SearchEngine.withAvgdl(spark, tmpDir("emptyq"), 2.0f)
    eng.upsert(Doc("123", "pencil and paper"))
    assert(eng.search("", Some(5)).isEmpty)
  }

  test("pinned scorer value: 1-of-2-docs single-token match scores ln 2") {
    // scorer.rs:197-215 (via an engine whose weights are exactly 1.0: dl=1,
    // avgdl=1 → weight(1,1)=1.0) — score = idf(2,1)·1.0 = 0.6931472.
    val eng = SearchEngine.withAvgdl(spark, tmpDir("ln2"), 1.0f)
    eng.upsert(Seq(Doc("0", "apple"), Doc("1", "banana")))
    val r = eng.search("apple", None)
    assert(r.length === 1)
    assert(r.head.id === "0")
    assert(java.lang.Float.floatToRawIntBits(r.head.score) ===
      java.lang.Float.floatToRawIntBits(0.6931472f))
  }

  test("pinned idf vectors") {
    assert(java.lang.Float.floatToRawIntBits(Bm25Math.idf(2, 1)) ===
      java.lang.Float.floatToRawIntBits(0.6931472f))
    assert(java.lang.Float.floatToRawIntBits(Bm25Math.idf(2, 2)) ===
      java.lang.Float.floatToRawIntBits(0.1823216f))
    // non-negative IDF regression (scorer.rs:218-234): df counts documents,
    // not occurrences, and df ≤ N always → idf stays positive even when every
    // doc contains the term.
    assert(Bm25Math.idf(1, 1) > 0.0f)
    assert(Bm25Math.idf(1000000, 1000000) > 0.0f)
  }

  lazy val enRecipes = Fixtures.recipesEn.map(r => Doc(r.title, r.method))
  lazy val enEngine: SearchEngine =
    SearchEngine.withDocuments(spark, tmpDir("recipes_en"), enRecipes)

  test("it returns exact matches with highest score") {
    val r = enEngine.search("To make guacamole, start by mashing 2 ripe avocados in a bowl.", None)
    assert(r.nonEmpty)
    assert(r.head.id === "Guacamole")
  }

  test("it only returns results containing query") {
    val r = enEngine.search("vegetable", Some(5))
    assert(r.length === 5)
    assert(r.forall(_.contents.contains("vegetable")))
  }

  test("it returns results sorted by score") {
    val r = enEngine.search("chicken", Some(1000))
    assert(r.nonEmpty)
    assert(r.sliding(2).forall(p => p.length < 2 || p(0).score >= p(1).score))
  }

  test("it ranks shorter documents higher") {
    val eng = SearchEngine.withDocuments(spark, tmpDir("short"), Seq(
      Doc("0", "Correct horse battery staple bacon bacon bacon"),
      Doc("1", "Correct horse battery staple")))
    val r = eng.search("staple", Some(2))
    assert(r.map(_.id) === Seq("1", "0"))
    assert(r(0).score > r(1).score)
  }

  test("it matches common unicode equivalents") {
    val eng = engine("uni", Seq("étude"), Language.French)
    val r1 = eng.search("etude", None)
    val r2 = eng.search("étude", None)
    assert(r1.length === 1 && r2.length === 1)
    assert(r1 === r2)
  }

  test("it can search for emoji") {
    val eng = engine("emoji", Seq("🔥"))
    val r1 = eng.search("🔥", None)
    val r2 = eng.search("fire", None)
    assert(r1.length === 1 && r2.length === 1)
    assert(r1 === r2)
  }

  test("distributed batch mutations (upsertBatch/removeBatch) ≡ fresh engine, bit-exact") {
    import spark.implicits._
    // Same shape as the per-doc delta test, but every mutation goes through
    // the executor-side batch paths (no rows on the driver).
    val base = Seq(
      Doc("a", "spark shuffle join"), Doc("b", "shuffle sort merge"),
      Doc("c", "join broadcast hash"), Doc("d", "window aggregate state"))
    val eng = SearchEngine.open(spark, tmpDir("batch1"))
    eng.upsertBatch(base.toDS())
    eng.buildBase(graft.index.IndexBuildConfig(numShards = 2, shardGroups = 1))
    val frozenAvgdl = eng.avgdl
    eng.removeBatch(Seq("b").toDS())
    eng.upsertBatch(Seq(Doc("e", "shuffle join window"),
      Doc("a", "spark catalyst optimizer")).toDS())

    val fresh = SearchEngine.withAvgdl(spark, tmpDir("batch2"), frozenAvgdl)
    fresh.upsert(Seq(
      Doc("a", "spark catalyst optimizer"),
      Doc("c", "join broadcast hash"), Doc("d", "window aggregate state"),
      Doc("e", "shuffle join window")))

    for (q <- Seq("shuffle join", "spark", "window state", "merge"))
      assertSameResults(eng.search(q, None).sortBy(_.id), fresh.search(q, None).sortBy(_.id), s"query '$q'")
    assert(eng.count() === 4L)
    assert(eng.get("b").isEmpty)
  }

  test("delta mutations score exactly like a fresh engine on the live docs") {
    // Remove + upsert against a built base, then compare every score against
    // an engine built from scratch on the post-mutation corpus with the same
    // frozen avgdl — exercises the live df/N correction path end to end.
    val base = Seq(
      Doc("a", "spark shuffle join"), Doc("b", "shuffle sort merge"),
      Doc("c", "join broadcast hash"), Doc("d", "window aggregate state"))
    val eng = SearchEngine.withDocuments(spark, tmpDir("delta1"), base)
    val frozenAvgdl = eng.avgdl
    eng.remove("b")
    eng.upsert(Doc("e", "shuffle join window"))
    eng.upsert(Doc("a", "spark catalyst optimizer")) // update

    val live = Seq(
      Doc("a", "spark catalyst optimizer"),
      Doc("c", "join broadcast hash"), Doc("d", "window aggregate state"),
      Doc("e", "shuffle join window"))
    val fresh = SearchEngine.withAvgdl(spark, tmpDir("delta2"), frozenAvgdl)
    fresh.upsert(live)

    for (q <- Seq("shuffle join", "spark", "window state", "merge"))
      assertSameResults(eng.search(q, None).sortBy(_.id), fresh.search(q, None).sortBy(_.id), s"query '$q'")
  }

  test("limited search runs WAND over the live view: bit-exact vs exhaustive, blocks skipped") {
    import spark.implicits._
    // Enough docs + tiny blocks that hot terms span many posting blocks, so
    // the live-WAND path has real skip opportunities even with deltas.
    val words = Array("merge", "join", "sort", "spark", "key", "fast", "scan",
      "row", "hash", "window")
    val docs = (0 until 300).map { i =>
      val rnd = new scala.util.Random(i)
      Doc(s"d$i", Seq.fill(5 + rnd.nextInt(8))(words(rnd.nextInt(words.length))).mkString(" "))
    }
    val eng = SearchEngine.open(spark, tmpDir("wandlive"))
    eng.upsertBatch(docs.toDS())
    eng.buildBase(graft.index.IndexBuildConfig(numShards = 2, shardGroups = 1, blockSize = 8))
    // nonempty delta: removals + updates + new docs
    eng.removeBatch(Seq("d7", "d13", "d100").toDS())
    eng.upsertBatch(Seq(Doc("d5", "merge join catalyst"),
      Doc("dx", "merge fast window row"), Doc("dy", "join join sort")).toDS())

    for (q <- Seq("merge join", "spark window", "sort fast key", "join")) {
      // expected = the exhaustive live scorer (unlimited path), same order
      assertSameResults(eng.search(q, Some(5)), eng.search(q, None).take(5), s"query '$q'")
    }
    assert(eng.wandSkippedBlocks.value > 0L,
      "live-WAND should have pruned at least one block with a nonempty delta")

    // unlimited search runs the same WAND operator, so also compare both
    // limits against an independent scorer: a fresh engine without a base
    // (delta fold only) over the live docs, with the frozen avgdl
    val gone = Set("d7", "d13", "d100", "d5")
    val live = docs.filterNot(d => gone(d.id)) ++ Seq(Doc("d5", "merge join catalyst"),
      Doc("dx", "merge fast window row"), Doc("dy", "join join sort"))
    val fresh = SearchEngine.withAvgdl(spark, tmpDir("wandlive2"), eng.avgdl)
    fresh.upsert(live)
    for (q <- Seq("merge join", "spark window", "sort fast key", "join"); limit <- Seq(Some(5), None))
      assertSameResults(eng.search(q, limit), fresh.search(q, limit), s"query '$q' limit $limit")
  }

  test("compaction preserves search results exactly") {
    val base = Seq(
      Doc("a", "spark shuffle join"), Doc("b", "shuffle sort merge"),
      Doc("c", "join broadcast hash"))
    val eng = SearchEngine.withDocuments(spark, tmpDir("cmp"), base)
    eng.remove("b")
    eng.upsert(Doc("e", "shuffle join window"))
    val before = eng.search("shuffle join", None)
    eng.compact() // physical only: frozen avgdl carried through
    assertSameResults(eng.search("shuffle join", None), before, "after compact")
    assertContentsAsGet(eng, Seq("shuffle join", "window"))
  }

  test("compaction rewrites the docstore log to its live view") {
    import spark.implicits._
    val dir = tmpDir("logcmp")
    val eng = SearchEngine.withDocuments(spark, dir, Seq(
      Doc("a", "spark shuffle join"), Doc("b", "shuffle sort merge"),
      Doc("c", "join broadcast hash")))
    eng.remove("b")                                  // tombstone
    eng.upsert(Doc("a", "spark shuffle join again")) // supersede
    eng.upsert(Doc("e", "shuffle join window"))      // fresh delta
    val liveBefore = eng.iter().collect().sortBy(_.id)
    val before = eng.search("shuffle join", None).sortBy(_.id)
    eng.compact()
    // the log now holds exactly one row per live doc — no tombstones, no
    // superseded versions, and the compacting/backup side dirs are gone
    val log = spark.read.parquet(s"$dir/docstore")
    assert(log.count() === liveBefore.length.toLong)
    assert(log.where($"tombstone").count() === 0L)
    assert(log.select($"doc_id").distinct().count() === liveBefore.length.toLong)
    assert(!new java.io.File(s"$dir/docstore_compacting").exists())
    assert(!new java.io.File(s"$dir/docstore_old").exists())
    // live view and scores are untouched, both in this engine and a reopen
    assert(eng.iter().collect().sortBy(_.id) === liveBefore)
    for (e <- Seq(eng, SearchEngine.open(spark, dir)))
      assertSameResults(e.search("shuffle join", None).sortBy(_.id), before, "after compact")
    // mutations after compaction keep working on the rewritten log
    eng.upsert(Doc("f", "another shuffle"))
    assert(eng.get("f").exists(_.contents == "another shuffle"))
    assert(eng.count() === liveBefore.length.toLong + 1)
  }

  test("a torn log-compaction swap heals at the next open") {
    import java.nio.file.{Files, Paths}
    val dir = tmpDir("logswapcrash")
    val eng = SearchEngine.withDocuments(spark, dir, Seq(
      Doc("a", "grilled cheese sandwich"), Doc("b", "bacon avocado toast")))
    eng.remove("b")
    eng.compact()
    // crash between the two swap renames: the log is gone, only the
    // complete backup survives — open must restore it
    Files.move(Paths.get(s"$dir/docstore"), Paths.get(s"$dir/docstore_old"))
    val re = SearchEngine.open(spark, dir)
    assert(Files.exists(Paths.get(s"$dir/docstore")))
    assert(!Files.exists(Paths.get(s"$dir/docstore_old")))
    assert(re.get("a").exists(_.contents == "grilled cheese sandwich"))
    assert(re.get("b").isEmpty)
    assert(re.count() === 1)
    assert(re.search("sandwich", None).map(_.id) === Seq("a"))
  }

  test("a completed swap's leftover backup is dropped at open, log untouched") {
    import java.nio.file.{Files, Paths}
    val dir = tmpDir("logswapdone")
    val eng = SearchEngine.withDocuments(spark, dir, Seq(Doc("a", "grilled cheese sandwich")))
    eng.compact()
    // crash after the new log verified but before the backup delete
    val bak = Paths.get(s"$dir/docstore_old")
    Files.createDirectory(bak)
    Files.write(bak.resolve("stale.parquet"), Array[Byte](1, 2, 3))
    val re = SearchEngine.open(spark, dir)
    assert(!Files.exists(bak))
    assert(re.get("a").exists(_.contents == "grilled cheese sandwich"))
    assert(re.count() === 1)
  }

  test("a torn index-compaction swap restores the pre-compaction base at open") {
    import java.nio.file.{Files, Paths}
    val dir = tmpDir("idxswapcrash")
    val eng = SearchEngine.withDocuments(spark, dir, Seq(
      Doc("a", "grilled cheese sandwich"), Doc("b", "bacon avocado toast")))
    eng.upsert(Doc("c", "roasted tomato soup"))
    // the window between compact()'s two renames: the base moved aside,
    // its replacement never landed
    Files.move(Paths.get(s"$dir/index"), Paths.get(s"$dir/index_old"))
    val re = SearchEngine.open(spark, dir)
    assert(Files.exists(Paths.get(s"$dir/index/manifest.json")))
    assert(!Files.exists(Paths.get(s"$dir/index_old")))
    assert(re.count() === 3)
    assert(re.search("sandwich", None).map(_.id) === Seq("a"))
    assert(re.get("c").exists(_.contents == "roasted tomato soup"))
  }

  test("open drops stale staged dirs and a backup next to a live index; the next compact is bit-identical") {
    import graft.index.{Checkpoints, IndexManifest}
    import java.nio.file.{Files, Paths}
    val dir = tmpDir("stalerecover")
    val base = Seq(Doc("a", "grilled cheese sandwich"), Doc("b", "bacon avocado toast"),
      Doc("c", "tomato soup with cheese"))
    val eng = SearchEngine.withDocuments(spark, dir, base)
    eng.upsert(Doc("d", "cheese toast melt"))
    eng.remove("b")
    val queries = Seq("cheese", "toast sandwich", "soup")
    val before = for (q <- queries; limit <- Seq(Some(2), None)) yield eng.search(q, limit)
    // a compaction that died before its swap: staged index checkpoints (no
    // manifest) and a staged log; and a complete backup next to the live index
    Checkpoints.commit(s"$dir/index_compacting", "postings_g0", Map("shards" -> "0,1"))
    Files.createDirectories(Paths.get(s"$dir/docstore_compacting/bucket=0"))
    Files.write(Paths.get(s"$dir/docstore_compacting/bucket=0/stale.parquet"), Array[Byte](1, 2, 3))
    IndexManifest.read(s"$dir/index").write(s"$dir/index_old")
    assert(IndexManifest.exists(s"$dir/index_old"))
    val re = SearchEngine.open(spark, dir)
    for (d <- Seq("index_compacting", "docstore_compacting", "index_old", "docstore_old"))
      assert(!Files.exists(Paths.get(s"$dir/$d")), d)
    assert(IndexManifest.exists(s"$dir/index"))
    re.compact()
    assert(!re.hasPendingDeltas)
    val after = for (q <- queries; limit <- Seq(Some(2), None)) yield re.search(q, limit)
    for ((g, e) <- after.zip(before)) assertSameResults(g, e, "after compact")
  }

  test("a successful compact leaves no backup or tmp dirs behind") {
    val dir = tmpDir("cmpclean")
    val eng = SearchEngine.withDocuments(spark, dir, Seq(Doc("a", "grilled cheese sandwich")))
    eng.upsert(Doc("b", "bacon avocado toast"))
    eng.compact()
    for (d <- Seq("index_old", "index_compacting", "docstore_old", "docstore_compacting"))
      assert(!new java.io.File(s"$dir/$d").exists(), d)
    assert(eng.count() === 2)
    assert(eng.search("toast", None).map(_.id) === Seq("b"))
  }

  test("appends refuse over an unhealed log-compaction backup") {
    import java.nio.file.{Files, Paths}
    val dir = tmpDir("bakguard")
    val eng = SearchEngine.withDocuments(spark, dir, Seq(Doc("a", "solo doc here")))
    // a backup surviving PAST open-time healing means a swap failed and
    // its in-process restore failed too — appending must fail loudly
    Files.createDirectory(Paths.get(s"$dir/docstore_old"))
    val ex = intercept[IllegalArgumentException] { eng.upsert(Doc("b", "bacon toast")) }
    assert(ex.getMessage.contains("unhealed"))
  }

  test("an all-tombstones log compacts to an empty engine, seq monotone") {
    val dir = tmpDir("logcmp0")
    val eng = SearchEngine.withDocuments(spark, dir, Seq(Doc("a", "solo doc here")))
    eng.remove("a")
    eng.compact()
    assert(eng.count() === 0L)
    assert(eng.search("solo", None).isEmpty)
    // reopen: seq continues from the sealed marker, so a later upsert can
    // never be shadowed by a pre-compaction row
    val re = SearchEngine.open(spark, dir)
    re.upsert(Doc("a", "risen again"))
    assert(re.get("a").exists(_.contents == "risen again"))
    assert(re.search("risen", None).map(_.id) === Seq("a"))
  }

  test("a docstore holding flat data files is refused at open") {
    import org.apache.spark.graft.JobRecorder
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val sid = graft.text.FxHash.hash64("x") & Long.MaxValue
    def flatRow(dir: String, seq: Long) =
      Seq(LogRow(sid, "x", "flat row", seq, tombstone = false)).toDS().coalesce(1)
        .write.mode("append").parquet(s"$dir/docstore")
    def listing(dir: String): Seq[String] = {
      val root = java.nio.file.Paths.get(dir)
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.map(root.relativize(_).toString).toSeq.sorted finally walk.close()
    }
    // a pre-bucket log (flat part files only), and a mixed one whose flat
    // rows partition discovery would drop
    val flat = tmpDir("flatlog")
    flatRow(flat, 0L)
    val mixed = tmpDir("mixedlog")
    flatRow(mixed, 0L)
    Seq(LogRow(sid, "x", "bucketed row", 1L, tombstone = false)).toDS().coalesce(1)
      .write.parquet(s"$mixed/docstore/bucket=0")
    for (dir <- Seq(flat, mixed)) {
      val before = listing(dir)
      val (ex, jobs) = JobRecorder(spark.sparkContext)(
        intercept[IllegalArgumentException](SearchEngine.open(spark, dir)))
      assert(ex.getMessage.contains("pre-bucket"), ex.getMessage)
      assert(jobs.isEmpty, s"$dir: open jobs $jobs")
      assert(listing(dir) === before, dir)
    }
  }

  /** Same hits in the same order: key, contents and f32 score bits. */
  private def assertSameResults(got: Seq[SearchResult], exp: Seq[SearchResult], what: String): Unit = {
    assert(got.map(r => (r.id, r.contents)) === exp.map(r => (r.id, r.contents)), what)
    assert(got.map(r => java.lang.Float.floatToRawIntBits(r.score)) ===
      exp.map(r => java.lang.Float.floatToRawIntBits(r.score)), what)
  }

  /** Every query, limited and unlimited, returns what `fresh` returns. */
  private def assertSameSearches(eng: SearchEngine, fresh: SearchEngine, queries: Seq[String]): Unit =
    for (q <- queries; limit <- Seq(Some(2), None))
      assertSameResults(eng.search(q, limit), fresh.search(q, limit), s"query '$q' limit $limit")

  /** Every hit of every query, limited and unlimited, carries the contents
    * `get` reads for its key (one `get` per distinct key).
    */
  private def assertContentsAsGet(eng: SearchEngine, queries: Seq[String]): Unit = {
    val hits = for (q <- queries; limit <- Seq(Some(2), None); r <- eng.search(q, limit))
      yield (s"query '$q' limit $limit", r)
    assert(hits.nonEmpty, s"no hits for $queries")
    val got = hits.map(_._2.id).distinct.map(id => id -> eng.get(id).map(_.contents)).toMap
    for ((what, r) <- hits) assert(got(r.id).contains(r.contents), s"$what key ${r.id}")
  }

  test("a clean limited search runs 1 Spark job and infers no parquet schema; get runs 1") {
    import org.apache.spark.graft.JobRecorder
    enEngine.search("chicken soup", Some(10)) // warm-up: holds the index tables, shard stores and docs
    val (hits, jobs) = JobRecorder(spark.sparkContext)(enEngine.search("garlic vegetable", Some(10)))
    assert(hits.nonEmpty)
    // base WAND and contents 1, over the held stores and docs (the df
    // lookup reads the held term dictionary)
    assert(jobs.length === 1, s"${jobs.length} jobs: $jobs")
    assert(!jobs.flatten.exists(_.startsWith("parquet at")), s"schema-inference job: $jobs")
    val (doc, getJobs) = JobRecorder(spark.sparkContext)(enEngine.get("Guacamole"))
    assert(doc.exists(_.id == "Guacamole"))
    assert(getJobs.length === 1, s"get jobs: $getJobs")
  }

  test("contents resolve latest-seq-wins: 3 upserts, a remove and a re-upsert, all pending") {
    val base = Seq(Doc("a", "grilled cheese sandwich"), Doc("b", "bacon avocado sandwich"),
      Doc("c", "tomato soup with cheese"))
    val eng = SearchEngine.withDocuments(spark, tmpDir("latest1"), base)
    for (v <- 1 to 3) eng.upsert(Doc("a", s"cheese sandwich version $v"))
    eng.remove("a")
    eng.upsert(Doc("a", "toasted cheese sandwich again"))
    val fresh = SearchEngine.withAvgdl(spark, tmpDir("latest2"), eng.avgdl)
    fresh.upsert(Seq(Doc("a", "toasted cheese sandwich again"), base(1), base(2)))
    assertSameSearches(eng, fresh, Seq("cheese sandwich", "version", "toasted", "soup"))
    assertContentsAsGet(eng, Seq("cheese sandwich", "soup"))
    assert(eng.get("a").contains(Doc("a", "toasted cheese sandwich again")))
  }

  test("an unlimited search with more than 1024 hits resolves contents via the semi-join") {
    val docs = (0 until 1100).map(i => Doc(s"d$i", s"common word${i % 7} term${i % 13}"))
    val eng = SearchEngine.withDocuments(spark, tmpDir("wide1"), docs)
    eng.remove("d3")
    eng.upsert(Doc("d4", "common word4 changed"))
    val live = docs.filterNot(d => d.id == "d3" || d.id == "d4") :+ Doc("d4", "common word4 changed")
    val fresh = SearchEngine.withAvgdl(spark, tmpDir("wide2"), eng.avgdl)
    fresh.upsert(live)
    // the base hits' contents are held; the fresh engine has no base, so all
    // of its > 1024 hits resolve through the semi-join
    val got = eng.search("common word4", None)
    assert(got.length > 1024)
    assertSameResults(got, fresh.search("common word4", None), "unlimited")
    val liveContents = eng.iter().collect().map(d => d.id -> d.contents).toMap
    for (r <- got) assert(liveContents.get(r.id).contains(r.contents), s"key ${r.id}")
    assertSameResults(eng.search("common word4", Some(5)), fresh.search("common word4", Some(5)), "top 5")
  }

  test("a clean unlimited search runs 1 Spark job, like a limited one, and ranks like it") {
    import org.apache.spark.graft.JobRecorder
    enEngine.search("chicken soup", None) // warm-up: holds the index tables, shard stores and docs
    val (hits, jobs) = JobRecorder(spark.sparkContext)(enEngine.search("garlic vegetable", None))
    assert(hits.length > 1)
    // base WAND and contents 1: the hits are ranked on the driver, no exchange
    assert(jobs.length === 1, s"${jobs.length} jobs: $jobs")
    assertSameResults(hits, enEngine.search("garlic vegetable", Some(hits.length)), "unlimited vs limited")
  }

  test("unpersisted held stores and docs are built again by the next search: same hits, contents as get") {
    val queries = Seq("garlic vegetable", "chicken soup")
    def searches() = for (q <- queries; limit <- Seq(Some(10), None)) yield enEngine.search(q, limit)
    val before = searches()
    // the engine's held base: its index's shard stores and its docs
    def held = spark.sparkContext.getPersistentRDDs.values.filter(r => Option(r.name).exists(_.contains(enEngine.dir)))
    assert(held.size === 2, s"held RDDs: $held")
    held.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    assert(held.isEmpty)
    for ((a, b) <- searches().zip(before)) assertSameResults(a, b, "after unpersist and clearCache()")
    assert(held.size === 2, s"held RDDs: $held")
    assertContentsAsGet(enEngine, queries)
  }

  test("the held base index follows compact() and buildBase() on the same instance") {
    val dir = tmpDir("held1")
    val eng = SearchEngine.withDocuments(spark, dir, Seq(
      Doc("a", "spark shuffle join"), Doc("b", "shuffle sort merge"), Doc("c", "join broadcast hash")))
    eng.remove("b")
    eng.upsert(Doc("e", "shuffle join window"))
    val q = "shuffle join"
    eng.search(q, Some(2))
    eng.compact()
    assertSameResults(eng.search(q, Some(2)), SearchEngine.open(spark, dir).search(q, Some(2)), "after compact")
    assertContentsAsGet(eng, Seq(q, "window"))

    val dir2 = tmpDir("held2")
    val eng2 = SearchEngine.open(spark, dir2)
    eng2.upsert(Seq(Doc("a", "spark shuffle join"), Doc("b", "shuffle sort merge")))
    eng2.search(q, Some(2)) // no base yet
    // a superseded row and a tombstone at or below the base's seq
    eng2.upsert(Doc("a", "spark shuffle join rewritten"))
    eng2.upsert(Doc("c", "join shuffle cache"))
    eng2.remove("c")
    eng2.buildBase()
    assertSameResults(eng2.search(q, Some(2)), SearchEngine.open(spark, dir2).search(q, Some(2)), "after buildBase")
    assertContentsAsGet(eng2, Seq(q, "merge"))
    assert(eng2.search("rewritten", None).map(r => (r.id, r.contents)) === Seq(("a", "spark shuffle join rewritten")))
    assert(eng2.search("cache", None).isEmpty)
  }

  test("a base compacted by another instance is picked up, never read from swapped-out files") {
    val dir = tmpDir("held3")
    val a = SearchEngine.withDocuments(spark, dir, Seq(
      Doc("a", "spark shuffle join"), Doc("b", "shuffle sort merge"), Doc("c", "join broadcast hash")))
    a.upsert(Doc("d", "shuffle join window"))
    val q = "shuffle join"
    a.search(q, Some(3))
    val b = SearchEngine.open(spark, dir)
    b.upsert(Doc("e", "merge join shuffle"))
    b.compact()
    for (limit <- Seq(Some(3), None))
      assertSameResults(a.search(q, limit), SearchEngine.open(spark, dir).search(q, limit), s"limit $limit")
  }

  test("open-time max seq comes from parquet footer stats and equals the aggregate") {
    // r6: the footer fast path must (a) actually fire on a freshly written
    // log (exact INT64 row-group stats) and (b) agree with the distributed
    // aggregate it replaces, for markers below, at, and above the log max.
    val dir = tmpDir("footer_seq")
    val eng = SearchEngine.withDocuments(spark, dir,
      Seq(Doc("a", "one doc"), Doc("b", "two doc")))
    eng.upsert(Doc("c", "three doc"))
    eng.remove("a")
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val trueMax = spark.read.parquet(s"$dir/docstore")
      .agg(max($"seq")).head().getLong(0)
    for (marker <- Seq(-1L, 0L, trueMax, trueMax + 5)) {
      val fast = eng.footerMaxSeq(marker)
      assert(fast.isDefined, s"footer fast path did not fire (marker=$marker)")
      assert(fast.get == math.max(marker, trueMax), s"marker=$marker")
    }
    // reopening the engine must see the same high-water mark: a fresh
    // upsert gets the next seq, nothing is overwritten
    val re = SearchEngine.open(spark, dir)
    re.upsert(Doc("d", "four doc"))
    val after = spark.read.parquet(s"$dir/docstore")
      .agg(max($"seq")).head().getLong(0)
    assert(after == trueMax + 1)
  }

  test("null keys, contents and queries are rejected before anything is appended") {
    import spark.implicits._
    val base = Seq(Doc("a", "grilled cheese sandwich"), Doc("b", "bacon avocado toast"))
    val eng = SearchEngine.withDocuments(spark, tmpDir("nulls"), base)
    eng.upsert(Doc("c", "tomato soup with cheese"))
    val queries = Seq("cheese", "toast soup")
    val before = queries.map(eng.search(_, None))
    intercept[IllegalArgumentException](eng.upsert(Doc("d", null)))
    intercept[IllegalArgumentException](eng.upsert(Doc(null, "lentil soup")))
    intercept[IllegalArgumentException](eng.upsert(Seq(Doc("e", "pea soup"), null)))
    intercept[IllegalArgumentException](eng.remove(null))
    intercept[IllegalArgumentException](eng.search(null, Some(3)))
    // the batch writers fail their write job, so nothing is committed
    val upserted = intercept[org.apache.spark.SparkException](
      eng.upsertBatch(Seq(Doc("f", "pea soup"), Doc("g", null)).toDS()))
    assert(upserted.getMessage.contains("null contents"), upserted.getMessage)
    val removed = intercept[org.apache.spark.SparkException](eng.removeBatch(Seq("a", null).toDS()))
    assert(removed.getMessage.contains("null document key"), removed.getMessage)
    for (e <- Seq(eng, SearchEngine.open(spark, eng.dir))) {
      assert(e.count() === 3L)
      assert(queries.map(e.search(_, None)) === before)
      assert(e.get("e").isEmpty && e.get("f").isEmpty && e.get("a").nonEmpty)
    }
    eng.compact()
    assert(queries.map(eng.search(_, None)) === before)
  }

  test("buildBase over an existing base is refused, pending deltas stay searchable, compact folds them in") {
    val dir = tmpDir("rebuild1")
    val base = Seq(Doc("a", "grilled cheese sandwich"), Doc("b", "bacon avocado toast"))
    val eng = SearchEngine.withDocuments(spark, dir, base)
    eng.upsert(Doc("c", "roasted cheese soup"))
    val ex = intercept[IllegalStateException] { eng.buildBase() }
    assert(ex.getMessage.contains("compact()"), ex.getMessage)
    assert(eng.hasPendingDeltas)
    assert(eng.search("soup", None).map(_.id) === Seq("c"))
    assert(SearchEngine.open(spark, dir).search("soup", Some(3)).map(_.id) === Seq("c"))
    eng.compact()
    assert(!eng.hasPendingDeltas)
    val fresh = SearchEngine.withAvgdl(spark, tmpDir("rebuild2"), eng.avgdl)
    fresh.upsert(base :+ Doc("c", "roasted cheese soup"))
    assertSameSearches(eng, fresh, Seq("soup", "cheese", "toast"))
    assertSameSearches(SearchEngine.open(spark, dir), fresh, Seq("soup", "cheese"))
  }

  test("a warm limited search with deltas pending infers no parquet schema and runs at most 5 Spark jobs") {
    import org.apache.spark.graft.JobRecorder
    val eng = SearchEngine.withDocuments(spark, tmpDir("deltajobs"), enRecipes)
    eng.upsert(Seq(Doc("Garlic Soup", "simmer garlic and vegetable stock"), enRecipes(3).copy(contents = "garlic bread")))
    eng.remove(enRecipes(5).id)
    eng.search("chicken soup", Some(10)) // warm-up: holds the index tables, shard stores and docs
    val (hits, jobs) = JobRecorder(spark.sparkContext)(eng.search("garlic vegetable", Some(10)))
    assert(hits.exists(_.id == "Garlic Soup"))
    assert(!jobs.flatten.exists(_.startsWith("parquet at")), s"schema-inference job: $jobs")
    // churn pass 2 · forward probe 1 · base WAND and held contents 1 ·
    // the ranked changed doc's contents 1 (the base df comes from the held
    // term dictionary)
    assert(jobs.length === 5, s"${jobs.length} jobs: $jobs")
    // no changed doc holds "chicken": no contents lookup
    val (baseOnly, baseJobs) = JobRecorder(spark.sparkContext)(eng.search("chicken", Some(10)))
    assert(baseOnly.nonEmpty)
    assert(baseJobs.length === 4, s"${baseJobs.length} jobs: $baseJobs")
  }

  test("after 3 × (upsert, compact, search) the session holds one base generation's WAND blocks") {
    val eng = SearchEngine.withDocuments(spark, tmpDir("heldblocks"), enRecipes)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    eng.search("chicken soup", Some(10))
    for (i <- 1 to 3) {
      eng.upsert(Doc(s"Garlic Soup $i", s"simmer garlic and vegetable stock $i"))
      eng.compact()
      assert(eng.search("garlic soup", Some(10)).exists(_.id == s"Garlic Soup $i"))
    }
    // each compact() releases the stores and docs of the base it replaced
    val held = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }.values.map(_.name).toSeq
    assert(held.sorted === Seq(s"base docs of ${eng.dir}", s"shard stores of ${eng.dir}/index"),
      s"persisted RDDs left by the engine: $held")
  }

  test("compact() on a churned engine runs at most 13 Spark jobs and infers no parquet schema") {
    import org.apache.spark.graft.JobRecorder
    val dir = tmpDir("compactjobs1")
    val eng = SearchEngine.withDocuments(spark, dir, enRecipes)
    val added = Seq(Doc("Garlic Soup", "simmer garlic and vegetable stock"),
      enRecipes(3).copy(contents = "garlic bread"))
    eng.upsert(added)
    eng.remove(enRecipes(5).id)
    val (_, jobs) = JobRecorder.withCallSites(spark.sparkContext)(eng.compact())
    // writes are `parquet at` stages too; a read's call site names the reader
    assert(!jobs.flatten.exists(JobRecorder.infersSchema), s"schema-inference job: ${jobs.map(_.map(_._1))}")
    assert(jobs.length <= 13, s"${jobs.length} jobs: ${jobs.map(_.map(_._1))}")
    assert(!new java.io.File(s"$dir/index/docids").exists())
    val live = enRecipes.filterNot(d => d.id == enRecipes(3).id || d.id == enRecipes(5).id) ++ added
    val fresh = SearchEngine.withAvgdl(spark, tmpDir("compactjobs2"), eng.avgdl)
    fresh.upsert(live)
    assertSameSearches(eng, fresh, Seq("garlic vegetable", "chicken soup", "bread"))
    assert(eng.count() === fresh.count())
  }

  test("buildBase runs exactly 17 Spark jobs and infers no parquet schema") {
    import org.apache.spark.graft.JobRecorder
    // an earlier build, outside the recorder: threads it leaves behind must
    // not run the next build's stages under a stale job group
    SearchEngine.withDocuments(spark, tmpDir("buildjobs0"), enRecipes.take(5))
    val eng = SearchEngine.withAvgdl(spark, tmpDir("buildjobs"), 10.0f)
    eng.upsert(enRecipes)
    val (_, jobs) = JobRecorder.withCallSites(spark.sparkContext)(eng.buildBase())
    assert(!jobs.flatten.exists(JobRecorder.infersSchema), s"schema-inference job: ${jobs.map(_.map(_._1))}")
    // the concurrent stats stage runs under the caller's job group
    assert(jobs.exists(_.exists(_._2.contains("IndexBuilder$.docStats"))),
      s"no IndexBuilder$$.docStats job: ${jobs.map(_.map(_._1))}")
    // the traced benchmark's index.build.jobs
    assert(jobs.length === 17, s"${jobs.length} jobs: ${jobs.map(_.map(_._1))}")
    assert(!new java.io.File(s"${eng.dir}/index/docids").exists())
  }

  test("two live keys with one surrogate fail the build's collision check") {
    import org.apache.spark.sql.functions.{lit, pmod}
    import spark.implicits._
    val dir = tmpDir("collide")
    val eng = SearchEngine.withAvgdl(spark, dir, 3.0f)
    eng.upsert(Doc("a", "grilled cheese sandwich"))
    // a row of key "b" that hashes like "a", appended in the log's layout
    Seq(LogRow(eng.surrogate("a"), "b", "bacon avocado toast", 1L, tombstone = false)).toDF()
      .withColumn("bucket", pmod($"doc_id", lit(16L)))
      .write.mode("append").partitionBy("bucket").parquet(s"$dir/docstore")
    val built = intercept[IllegalArgumentException] { eng.buildBase() }
    assert(built.getMessage.contains("collision"), built.getMessage)
    val compacted = intercept[IllegalArgumentException] { SearchEngine.open(spark, dir).compact() }
    assert(compacted.getMessage.contains("collision"), compacted.getMessage)
  }

  test("a batch write from 8 input partitions adds one file per bucket dir; open then runs no job") {
    import org.apache.spark.graft.JobRecorder
    import spark.implicits._
    val dir = tmpDir("batchfiles")
    val docs = (0 until 200).map(i => Doc(s"k$i", s"batch doc $i term${i % 9}"))
    // parquet data files per bucket= dir of the log
    def files(): Map[String, Int] =
      new java.io.File(s"$dir/docstore").listFiles().filter(_.getName.startsWith("bucket="))
        .map(d => d.getName -> d.list().count(_.endsWith(".parquet"))).toMap
    def bucketsOf(keys: Seq[String]): Set[String] =
      keys.map(k => s"bucket=${Math.floorMod(SearchEngine.surrogate(k), 16L)}").toSet
    val eng = SearchEngine.open(spark, dir)
    val batch = docs.toDS().repartition(8)
    assert(batch.rdd.getNumPartitions === 8)
    eng.upsertBatch(batch)
    val afterUpsert = files()
    assert(afterUpsert.keySet === bucketsOf(docs.map(_.id)))
    assert(afterUpsert.values.forall(_ == 1), s"files per bucket after upsertBatch: $afterUpsert")
    val removed = docs.take(120).map(_.id)
    eng.removeBatch(removed.toDS().repartition(8))
    val afterRemove = files()
    val added = afterRemove.map { case (b, n) => b -> (n - afterUpsert.getOrElse(b, 0)) }
    assert(added.filter(_._2 > 0).keySet === bucketsOf(removed))
    assert(added.values.forall(_ <= 1), s"files added per bucket by removeBatch: $added")
    // at most 2 × 16 files: open reads the max seq from the footers, no job
    val (opened, openJobs) = JobRecorder(spark.sparkContext)(SearchEngine.open(spark, dir))
    assert(openJobs.isEmpty, s"open jobs: $openJobs")
    assert(opened.count() === 80L)
    opened.upsert(Doc("late", "batch doc late"))
    assert(opened.get("late").contains(Doc("late", "batch doc late")))
    assert(opened.get(removed.head).isEmpty && opened.get("k150").contains(docs(150)))
  }

  test("the first search on a freshly opened engine infers no parquet schema") {
    import org.apache.spark.graft.JobRecorder
    val dir = tmpDir("openjobs")
    val eng = SearchEngine.withDocuments(spark, dir, enRecipes)
    eng.upsert(Doc("Garlic Soup", "simmer garlic and vegetable stock"))
    eng.remove(enRecipes(5).id)
    for (pending <- Seq(true, false)) {
      if (!pending) eng.compact()
      // open reads the max seq from the log's parquet footers: no Spark job
      val (opened, openJobs) = JobRecorder(spark.sparkContext)(SearchEngine.open(spark, dir))
      assert(openJobs.isEmpty, s"pending $pending, open jobs: $openJobs")
      val (hits, jobs) = JobRecorder(spark.sparkContext)(opened.search("garlic vegetable", Some(10)))
      assert(hits.exists(_.id == "Garlic Soup"), s"pending $pending")
      assert(!jobs.flatten.exists(_.startsWith("parquet at")), s"pending $pending, schema-inference job: $jobs")
      // term dictionary 1 · base WAND 1, which builds and holds the shard
      // stores and docs; pending adds churn pass 2, forward probe 1 and the
      // ranked changed doc's contents 1
      assert(jobs.length === (if (pending) 6 else 2), s"pending $pending, ${jobs.length} jobs: $jobs")
    }
  }

  test("churn above 100 000 changed ids: limited and unlimited search ≡ fresh engine, bit-exact") {
    import spark.implicits._
    // > MaxInProbe (10 000) changed ids between compactions, and above the
    // 100 000 ids the live WAND once capped at: tombstones for absent keys,
    // plus real removes, updates and new docs
    val docs = (0 until 200).map(i => Doc(s"d$i", s"common word${i % 7} term${i % 13} item$i"))
    val eng = SearchEngine.withDocuments(spark, tmpDir("bigchurn1"), docs)
    eng.removeBatch(spark.range(100050).map(i => s"absent$i"))
    eng.remove("d3")
    eng.removeBatch(Seq("d10", "d11").toDS())
    eng.upsert(Seq(Doc("d4", "common word4 changed"), Doc("new1", "common term2 fresh")))
    val gone = Set("d3", "d10", "d11", "d4")
    val live = docs.filterNot(d => gone(d.id)) ++
      Seq(Doc("d4", "common word4 changed"), Doc("new1", "common term2 fresh"))
    val fresh = SearchEngine.withAvgdl(spark, tmpDir("bigchurn2"), eng.avgdl)
    fresh.upsert(live)
    assertSameSearches(eng, fresh, Seq("common word4", "term2 item10", "word3 term3 word3", "fresh"))
    assert(eng.search("common", None).length === live.length)
    // the public live query state (catalog surface) takes the anti-join branch
    val terms = eng.tokenizer.tokenize("common word4 term2").map(graft.text.FxHash.hash32u).distinct
    val (posts, dfs, n) = eng.liveQueryState(terms)
    val (freshPosts, freshDfs, freshN) = fresh.liveQueryState(terms)
    assert(n === live.length.toLong && freshN === n)
    assert(dfs === freshDfs)
    assert(posts.collect().sortBy(p => (p.doc_id, p.term)) === freshPosts.collect().sortBy(p => (p.doc_id, p.term)))
    // a reopened engine sees the same churn: searches, and point reads of
    // updated, new, untouched, removed and never-present keys
    val re = SearchEngine.open(spark, eng.dir)
    assertSameSearches(re, fresh, Seq("common word4", "term2 item10", "fresh"))
    assert(re.get("d4").contains(Doc("d4", "common word4 changed")))
    assert(re.get("new1").contains(Doc("new1", "common term2 fresh")))
    assert(re.get("d0").contains(docs(0)))
    for (k <- Seq("d3", "d10", "absent5")) assert(re.get(k).isEmpty, k)
    // compaction folds the whole churn set in: same searches, live count and N
    eng.compact()
    assert(!eng.hasPendingDeltas)
    assertSameSearches(eng, fresh, Seq("common word4", "term2 item10", "word3 term3 word3", "fresh"))
    assert(eng.count() === live.length.toLong)
    assert(graft.index.IndexManifest.read(s"${eng.dir}/index").nDocs === live.length.toLong)
  }
}
