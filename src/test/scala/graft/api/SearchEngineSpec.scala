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

    for (q <- Seq("shuffle join", "spark", "window state", "merge")) {
      val got = eng.search(q, None).sortBy(_.id)
      val exp = fresh.search(q, None).sortBy(_.id)
      assert(got.map(_.id) === exp.map(_.id), s"query '$q' ids")
      got.zip(exp).foreach { case (g, e) =>
        assert(java.lang.Float.floatToRawIntBits(g.score) ===
          java.lang.Float.floatToRawIntBits(e.score), s"query '$q' doc ${g.id}")
      }
    }
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

    for (q <- Seq("shuffle join", "spark", "window state", "merge")) {
      val got = eng.search(q, None).sortBy(_.id)
      val exp = fresh.search(q, None).sortBy(_.id)
      assert(got.map(_.id) === exp.map(_.id), s"query '$q' ids")
      got.zip(exp).foreach { case (g, e) =>
        assert(java.lang.Float.floatToRawIntBits(g.score) ===
          java.lang.Float.floatToRawIntBits(e.score), s"query '$q' doc ${g.id}")
      }
    }
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
      val exp = eng.search(q, None).take(5)
      val got = eng.search(q, Some(5))
      assert(got.map(_.id) === exp.map(_.id), s"query '$q' ids")
      got.zip(exp).foreach { case (g, e) =>
        assert(java.lang.Float.floatToRawIntBits(g.score) ===
          java.lang.Float.floatToRawIntBits(e.score), s"query '$q' doc ${g.id}")
      }
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

  test("a pre-bucketing flat docstore dir stays readable and appendable (layout gate)") {
    import spark.implicits._
    val dir = tmpDir("legacy")
    // simulate a log written before the bucketed layout: flat part files,
    // no bucket column, no partition directories
    val sid = graft.text.FxHash.hash64("old doc") & Long.MaxValue
    Seq(LogRow(sid, "old doc", "grilled cheese sandwich", 0L, tombstone = false))
      .toDS().coalesce(1).write.parquet(s"$dir/docstore")
    val eng = SearchEngine.withAvgdl(spark, dir, 4.0f)
    assert(eng.get("old doc").contains(Doc("old doc", "grilled cheese sandwich")))
    // appends must stay flat — partition dirs next to flat files would break
    // parquet partition discovery for every later read
    eng.upsert(Doc("new doc", "bacon avocado sandwich"))
    assert(eng.count() === 2)
    assert(eng.get("new doc").exists(_.contents == "bacon avocado sandwich"))
    assert(eng.search("sandwich", None).map(_.id).toSet === Set("old doc", "new doc"))
    assert(!new java.io.File(s"$dir/docstore").list().exists(_.startsWith("bucket=")))
  }

  test("compaction preserves search results exactly") {
    val base = Seq(
      Doc("a", "spark shuffle join"), Doc("b", "shuffle sort merge"),
      Doc("c", "join broadcast hash"))
    val eng = SearchEngine.withDocuments(spark, tmpDir("cmp"), base)
    eng.remove("b")
    eng.upsert(Doc("e", "shuffle join window"))
    val before = eng.search("shuffle join", None).sortBy(_.id)
    eng.compact() // physical only: frozen avgdl carried through
    val after = eng.search("shuffle join", None).sortBy(_.id)
    assert(after.map(_.id) === before.map(_.id))
    after.zip(before).foreach { case (g, e) =>
      assert(java.lang.Float.floatToRawIntBits(g.score) ===
        java.lang.Float.floatToRawIntBits(e.score))
    }
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
    for (e <- Seq(eng, SearchEngine.open(spark, dir))) {
      val after = e.search("shuffle join", None).sortBy(_.id)
      assert(after.map(_.id) === before.map(_.id))
      after.zip(before).foreach { case (g, x) =>
        assert(java.lang.Float.floatToRawIntBits(g.score) ===
          java.lang.Float.floatToRawIntBits(x.score))
      }
    }
    // mutations after compaction keep working on the rewritten log
    eng.upsert(Doc("f", "another shuffle"))
    assert(eng.get("f").exists(_.contents == "another shuffle"))
    assert(eng.count() === liveBefore.length.toLong + 1)
  }

  test("a legacy flat log stays flat through log compaction") {
    import spark.implicits._
    val dir = tmpDir("legacycmp")
    val sid = graft.text.FxHash.hash64("old doc") & Long.MaxValue
    Seq(LogRow(sid, "old doc", "grilled cheese sandwich", 0L, tombstone = false))
      .toDS().coalesce(1).write.parquet(s"$dir/docstore")
    val eng = SearchEngine.withAvgdl(spark, dir, 4.0f)
    eng.upsert(Doc("new doc", "bacon avocado sandwich"))
    eng.remove("old doc")
    eng.compact()
    // the rewritten log must keep the flat layout this engine committed to
    assert(!new java.io.File(s"$dir/docstore").list().exists(_.startsWith("bucket=")))
    assert(eng.count() === 1)
    assert(eng.search("sandwich", None).map(_.id) === Seq("new doc"))
    val re = SearchEngine.open(spark, dir)
    assert(re.get("new doc").exists(_.contents == "bacon avocado sandwich"))
    assert(re.get("old doc").isEmpty)
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

  test("a mixed flat+bucketed docstore layout fails fast") {
    import spark.implicits._
    val dir = tmpDir("mixed")
    val sid = graft.text.FxHash.hash64("x") & Long.MaxValue
    // flat part files AND a bucket= dir — the corruption the layout gate
    // exists for; picking either layout silently drops rows
    Seq(LogRow(sid, "x", "flat row", 0L, tombstone = false))
      .toDS().coalesce(1).write.parquet(s"$dir/docstore")
    Seq(LogRow(sid, "x", "bucketed row", 1L, tombstone = false))
      .toDS().coalesce(1).write.parquet(s"$dir/docstore/bucket=0")
    val ex = intercept[IllegalArgumentException] { SearchEngine.withAvgdl(spark, dir, 4.0f) }
    assert(ex.getMessage.contains("mixed docstore layout"))
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

  test("a clean limited search runs at most 4 Spark jobs and infers no parquet schema; get runs 1") {
    import org.apache.spark.graft.JobRecorder
    enEngine.search("chicken soup", Some(10)) // warm-up: resolves the held index tables
    val (hits, jobs) = JobRecorder(spark.sparkContext)(enEngine.search("garlic vegetable", Some(10)))
    assert(hits.nonEmpty)
    assert(jobs.length <= 4, s"${jobs.length} jobs: $jobs")
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
    val got = eng.search("common word4", None)
    assert(got.length > 1024)
    assertSameResults(got, fresh.search("common word4", None), "unlimited")
    assertSameResults(eng.search("common word4", Some(5)), fresh.search("common word4", Some(5)), "top 5")
  }

  test("a legacy flat log resolves contents without a bucket filter") {
    import spark.implicits._
    val dir = tmpDir("legacyc1")
    def sid(k: String) = graft.text.FxHash.hash64(k) & Long.MaxValue
    Seq(LogRow(sid("x"), "x", "grilled cheese sandwich", 0L, tombstone = false),
      LogRow(sid("x"), "x", "grilled cheese toast", 1L, tombstone = false),
      LogRow(sid("y"), "y", "bacon sandwich", 2L, tombstone = false),
      LogRow(sid("z"), "z", "cheese soup", 3L, tombstone = false),
      LogRow(sid("z"), "z", "", 4L, tombstone = true))
      .toDS().coalesce(1).write.parquet(s"$dir/docstore")
    val eng = SearchEngine.withAvgdl(spark, dir, 4.0f)
    eng.buildBase(avgdlOverride = Some(4.0f))
    eng.upsert(Doc("w", "cheese sandwich melt"))
    eng.remove("y")
    eng.upsert(Doc("y", "bacon toast"))
    assert(!eng.contentsRows(Seq(sid("x"), sid("y"))).queryExecution.executedPlan.toString.contains("bucket"))
    val fresh = SearchEngine.withAvgdl(spark, tmpDir("legacyc2"), 4.0f)
    fresh.upsert(Seq(Doc("x", "grilled cheese toast"), Doc("w", "cheese sandwich melt"),
      Doc("y", "bacon toast")))
    assertSameSearches(eng, fresh, Seq("cheese", "toast", "sandwich", "soup"))
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

    val dir2 = tmpDir("held2")
    val eng2 = SearchEngine.open(spark, dir2)
    eng2.upsert(Seq(Doc("a", "spark shuffle join"), Doc("b", "shuffle sort merge")))
    eng2.search(q, Some(2)) // no base yet
    eng2.buildBase()
    assertSameResults(eng2.search(q, Some(2)), SearchEngine.open(spark, dir2).search(q, Some(2)), "after buildBase")
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

  test("a warm limited search with deltas pending infers no parquet schema and runs at most 16 Spark jobs") {
    import org.apache.spark.graft.JobRecorder
    val eng = SearchEngine.withDocuments(spark, tmpDir("deltajobs"), enRecipes)
    eng.upsert(Seq(Doc("Garlic Soup", "simmer garlic and vegetable stock"), enRecipes(3).copy(contents = "garlic bread")))
    eng.remove(enRecipes(5).id)
    eng.search("chicken soup", Some(10)) // warm-up: resolves the held index tables, the sidecar included
    val (hits, jobs) = JobRecorder(spark.sparkContext)(eng.search("garlic vegetable", Some(10)))
    assert(hits.exists(_.id == "Garlic Soup"))
    assert(!jobs.flatten.exists(_.startsWith("parquet at")), s"schema-inference job: $jobs")
    assert(jobs.length <= 16, s"${jobs.length} jobs: $jobs")
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
    val (posts, n) = eng.liveQueryState(terms)
    val (freshPosts, freshN) = fresh.liveQueryState(terms)
    assert(n === live.length.toLong && freshN === n)
    assert(posts.collect().sortBy(p => (p.doc_id, p.term)) === freshPosts.collect().sortBy(p => (p.doc_id, p.term)))
  }
}
