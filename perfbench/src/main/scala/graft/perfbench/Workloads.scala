package graft.perfbench

import graft.api.{Doc, SearchEngine, SearchResult}
import graft.bm25.{Bm25Params, Embedder}
import graft.index.{Bm25Index, Checkpoints, IndexManifest, ScoredDoc}
import graft.sources.CodeCorpus
import graft.text.Bm25Tokenizer
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.Random

/** One run's state: the session, the seed, the clock, the recorders and
  * what the workload measured.
  */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Int,
                val tracer: Tracer, val ledger: Option[JobLedger], val workDir: String,
                val runStartNs: Long) {
  /** Latency samples in ms per operation name, in the order taken. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** (check name, passed, detail) per output check. */
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  /** The workload's own metrics under the names a reader asked for, with
    * unit and sample count; printed in the summary line.
    */
  val summary = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  var setupEndNs: Long = 0L
  var opsAttempted = 0

  def traced: Boolean = tracer.enabled

  /** Runs a timed operation: its latency goes to `samples(name)` and, when
    * traced, a span of the same name wraps it.
    */
  def timed[A](name: String, request: Long = -1L)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = tracer.span(name, request)(body)
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
    r
  }

  /** A timed operation of the workload's loop, counted as attempted. */
  def op[A](name: String, request: Long)(body: => A): A = {
    opsAttempted += 1
    timed(name, request)(body)
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  /** Marks the end of set-up: the next operation is the first timed one. */
  def setupDone(): Unit = setupEndNs = System.nanoTime()

  def setupSeconds: Double = (setupEndNs - runStartNs) / 1e9

  def deadlineNs: Long = setupEndNs + seconds * 1000000000L

  def ms(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)

  def tmp(name: String): String = Paths.get(workDir, name).toString

  /** Median ms of a traced operation, 0 when it never ran. */
  def medianMs(name: String): Double = { val xs = ms(name); if (xs.isEmpty) 0.0 else Stats.median(xs) }

  /** Spark work of the spans with this name, per span. */
  def workPer(name: String): Work = ledger match {
    case Some(l) =>
      org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
      val spans = tracer.spans
      val ids = spans.filter(_.name == name).map(_.id).toSet
      if (ids.isEmpty) Work() else l.workOf(spans, ids) / ids.size
    case None => Work()
  }
}

/** A benchmark workload. `run` performs set-up, calls `setupDone`, runs the
  * measured loop and the output checks, and fills the run's metrics.
  */
trait Workload {
  def name: String
  def run(r: Run): Unit
}

object Workload {
  val all: Seq[Workload] = Seq(ServeWorkload, ChurnWorkload)

  def byName(n: String): Option[Workload] = all.find(_.name == n)
}

/** Shared inputs: the seeded code corpus and queries drawn from it. */
object Inputs {

  /** Engine key of corpus row `i`. */
  def key(i: Long): String = s"doc-$i"

  def rowOf(key: String): Long = key.stripPrefix("doc-").toLong

  /** The corpus as engine documents, keyed by row. */
  def docs(spark: SparkSession, n: Long, seed: Long): Dataset[Doc] = {
    import spark.implicits._
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
      .map(i => Doc(key(i), CodeCorpus.row(seed, i).content))
  }

  /** Query shapes, (terms, k): every run cycles through them in this order,
    * so seeds change the terms but not the mix.
    */
  val Shapes: Seq[(Int, Int)] = for (k <- Seq(10, 100); n <- 1 to 4) yield (n, k)

  /** Query `j`: `Shapes(j % 8)` terms drawn from the tokens of random corpus
    * rows, so term frequencies follow the corpus's own Zipf skew. Only
    * tokens the tokenizer keeps are drawn, so no query is empty.
    */
  def query(rnd: Random, n: Long, seed: Long, j: Int): (String, Int) = {
    val (terms, k) = Shapes(j % Shapes.length)
    (Seq.fill(terms)(term(rnd, n, seed)).mkString(" "), k)
  }

  def term(rnd: Random, n: Long, seed: Long): String =
    Iterator.continually {
      val toks = CodeCorpus.row(seed, (rnd.nextLong() & Long.MaxValue) % n).content.split("\\s+")
      toks(rnd.nextInt(toks.length))
    }.find(t => Bm25Tokenizer.default.tokenize(t).nonEmpty).get

  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  /** Bit-exact equality of two ranked lists. */
  def sameRanking(a: Seq[(Long, Float)], b: Seq[(Long, Float)]): Boolean =
    a.length == b.length && a.zip(b).forall { case ((d1, s1), (d2, s2)) =>
      d1 == d2 && java.lang.Float.floatToRawIntBits(s1) == java.lang.Float.floatToRawIntBits(s2)
    }

  def ranked(xs: Seq[ScoredDoc]): Seq[(Long, Float)] = xs.map(h => (h.doc_id, h.score))

  /** Stage times `IndexBuilder` committed to `_checkpoints`. The stats stage
    * records no time of its own; it starts when `forward` commits, so its
    * time is the gap between the two commits.
    */
  def stageSeconds(indexDir: String): Map[String, Double] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val cps = Checkpoints.readAll(indexDir).map { case (k, v) => k -> mapper.readTree(v) }
    def secs(k: String) = cps.get(k).flatMap(n => Option(n.get("seconds"))).map(_.asDouble()).getOrElse(0.0)
    def mtime(k: String) = Files.getLastModifiedTime(
      Paths.get(indexDir, "_checkpoints", s"$k.json")).toMillis
    Map(
      "forward" -> secs("forward"),
      "stats" -> (if (cps.contains("stats") && cps.contains("forward"))
        math.max(0L, mtime("stats") - mtime("forward")) / 1e3 else 0.0),
      "postings" -> cps.keys.filter(_.startsWith("postings_g")).toSeq.map(secs).sum,
      "termstats" -> secs("termstats"))
  }

  /** Per-layer metrics of a built index. */
  def indexLayers(r: Run, indexDir: String, inputBytes: Long): Unit = {
    val st = stageSeconds(indexDir)
    Seq("forward", "stats", "postings", "termstats").foreach(s => r.perLayer(s"index.build.${s}_s") = st(s))
    val m = IndexManifest.read(indexDir).metrics
    r.perLayer("index.postings") = m.getOrElse("postings", 0.0)
    r.perLayer("index.bytes_per_posting") = m.getOrElse("bytesPerPosting", 0.0)
    r.perLayer("index.df_skew_ratio") = m.getOrElse("dfSkewRatio", 0.0)
    r.perLayer("index.bytes_per_input_byte") = dirBytes(Paths.get(indexDir)).toDouble / inputBytes
  }

  def buildWork(r: Run, span: String): Unit = {
    val w = r.workPer(span)
    r.perLayer("index.build.jobs") = w.jobs
    r.perLayer("index.build.tasks") = w.tasks
    r.perLayer("index.build.task_ms") = w.taskMs
    r.perLayer("index.build.shuffle_write_bytes") = w.shuffleWriteBytes
    r.perLayer("index.build.spill_bytes") = w.spillBytes
  }
}

/** Shared engine set-up for `serve` and `churn`: a seeded corpus upserted in
  * one batch and built into the base index. The corpus stays cached for the
  * run (traced `serve` runs time tokenizer and embedder passes over it).
  */
final case class Engine(eng: SearchEngine, corpus: Dataset[Doc])

object EngineSetup {
  def apply(r: Run, docs: Long): Engine = {
    val spark = r.spark
    import spark.implicits._
    val (corpus, inputBytes) = r.tracer.span("sources.corpus_gen") {
      val c = Inputs.docs(spark, docs, r.seed).persist()
      (c, c.agg(sum(octet_length($"contents"))).head().getLong(0))
    }
    val dir = r.tmp("engine")
    val eng = r.tracer.span("api.open")(SearchEngine.open(spark, dir))
    r.tracer.span("api.upsert_batch")(eng.upsertBatch(corpus))
    r.tracer.span("api.build_base")(eng.buildBase())
    val n = IndexManifest.read(s"$dir/index").nDocs
    r.check("engine.base_ndocs", n == docs, s"manifest nDocs $n != $docs corpus rows")
    if (r.traced) {
      // read now: a compaction replaces the base and its checkpoints
      r.perLayer("api.build_base_s") = r.tracer.named("api.build_base").head.durationNs / 1e9
      Inputs.indexLayers(r, s"$dir/index", inputBytes)
    }
    Engine(eng, corpus)
  }

  /** Every result must carry the generated contents of its row, and results
    * must come in rank order.
    */
  def checkResults(r: Run, hits: Seq[SearchResult], k: Int, expected: String => Option[String]): Unit = {
    val ordered = hits.zip(hits.drop(1)).forall { case (a, b) => a.score >= b.score }
    val contentsOk = hits.forall(h => expected(h.id).contains(h.contents))
    r.check("search.results", hits.length <= k && ordered && contentsOk,
      s"${hits.length} hits for k=$k, ordered=$ordered, contents=$contentsOk")
  }

  def searchLayers(r: Run): Unit = {
    val w = r.workPer("api.search")
    r.perLayer("api.search_ms") = r.medianMs("api.search")
    r.perLayer("api.search_jobs") = w.jobs
    r.perLayer("api.search_tasks") = w.tasks
    r.perLayer("api.search_task_ms") = w.taskMs
    r.perLayer("api.search_shuffle_bytes") = w.shuffleBytes
  }
}

/** Closed-loop `SearchEngine.search` over a clean engine (no pending
  * deltas).
  */
object ServeWorkload extends Workload {
  val name = "serve"
  val Docs = 1000L
  val Warmups = 2
  val Rechecked = 2

  def run(r: Run): Unit = {
    val spark = r.spark
    val e = EngineSetup(r, Docs)
    val eng = e.eng
    val rnd = new Random(r.seed * 31 + 1)
    def expected(id: String) = Some(CodeCorpus.row(r.seed, Inputs.rowOf(id)).content)
    r.tracer.span("warmup") {
      val w = new Random(r.seed * 31 + 2)
      for (j <- 0 until Warmups) { val (q, k) = Inputs.query(w, Docs, r.seed, j); eng.search(q, Some(k)) }
    }
    r.setupDone()

    val idx = new Bm25Index(spark, s"${eng.dir}/index")
    val done = mutable.ArrayBuffer.empty[(String, Int, Seq[SearchResult])]
    var skipped = 0L
    var req = 0L
    do {
      val (q, k) = Inputs.query(rnd, Docs, r.seed, req.toInt)
      val before = eng.wandSkippedBlocks.value
      val hits = r.op("api.search", req)(eng.search(q, Some(k)))
      skipped += eng.wandSkippedBlocks.value - before
      EngineSetup.checkResults(r, hits, k, expected)
      done += ((q, k, hits))
      if (r.traced) {
        // decomposition: the index-only calls the engine call wraps
        val terms = idx.queryTerms(q).distinct
        r.timed("index.term_dfs", req)(idx.termDfs(terms))
        val wand = r.timed("index.wand", req)(idx.search(q, Some(k), "wand").collect())
        val exh = r.timed("index.exhaustive", req)(idx.search(q, Some(k), "exhaustive").collect())
        checkExhaustive(r, eng, hits, exh.toSeq)
        r.check("serve.wand_equals_exhaustive",
          Inputs.sameRanking(Inputs.ranked(wand.toSeq), Inputs.ranked(exh.toSeq)), s"query '$q' k=$k")
      }
      req += 1
    } while (System.nanoTime() < r.deadlineNs)

    if (!r.traced) {
      // a seeded subset, re-checked untimed against the exhaustive scorer
      val pick = new Random(r.seed * 31 + 3)
      for ((q, k, hits) <- pick.shuffle(done.toSeq).take(Rechecked))
        checkExhaustive(r, eng, hits, idx.search(q, Some(k), "exhaustive").collect().toSeq)
    }

    val lat = r.ms("api.search")
    r.endToEnd("throughput_per_s") = lat.length / (lat.sum / 1e3)
    r.endToEnd("latency_p50_ms") = Stats.median(lat)
    r.summary("searches_per_s") = (lat.length / (lat.sum / 1e3), "1/s", lat.length)
    r.summary("search_p50_ms") = (Stats.median(lat), "ms", lat.length)
    Stats.highestReportable(lat.length).foreach { p =>
      r.summary(f"search_p${p * 100}%.0f_ms") = (Stats.percentile(lat, p), "ms", lat.length)
    }

    if (r.traced) {
      Inputs.buildWork(r, "api.build_base")
      textPasses(r, e.corpus, eng.tokenizer)
      EngineSetup.searchLayers(r)
      r.perLayer("index.term_dfs_ms") = r.medianMs("index.term_dfs")
      r.perLayer("index.wand_ms") = r.medianMs("index.wand")
      r.perLayer("index.wand_jobs") = r.workPer("index.wand").jobs
      r.perLayer("index.exhaustive_ms") = r.medianMs("index.exhaustive")
      r.perLayer("api.engine_self_ms") =
        r.perLayer("api.search_ms") - r.perLayer("index.term_dfs_ms") - r.perLayer("index.wand_ms")
      r.perLayer("api.wand_blocks_skipped") = skipped.toDouble / lat.length
      r.perLayer("api.open_ms") = r.tracer.named("api.open").head.durationNs / 1e6
    }
    e.corpus.unpersist()
  }

  /** The tokenizer and embedder over the corpus through the noop sink. */
  def textPasses(r: Run, corpus: Dataset[Doc], tok: graft.text.TextTokenizer): Unit = {
    val spark = r.spark
    import spark.implicits._
    // an untimed pass first, so neither timed pass pays for a cold job
    corpus.map(_.contents.length).write.format("noop").mode("overwrite").save()
    r.tracer.span("text.tokenize") {
      corpus.map(d => tok.tokenize(d.contents).length).write.format("noop").mode("overwrite").save()
    }
    r.tracer.span("bm25.embed") {
      val emb = new Embedder(Bm25Params(), tok)
      corpus.map(d => emb.termFrequencies(d.contents)._3).write.format("noop").mode("overwrite").save()
    }
    r.perLayer("text.tokenize_s") = r.tracer.named("text.tokenize").head.durationNs / 1e9
    r.perLayer("bm25.embed_s") = r.tracer.named("bm25.embed").head.durationNs / 1e9
  }

  /** The engine's hits, mapped to surrogate ids, must equal the exhaustive
    * index ranking bit for bit.
    */
  def checkExhaustive(r: Run, eng: SearchEngine, hits: Seq[SearchResult], exh: Seq[ScoredDoc]): Unit = {
    val got = hits.map(h => (eng.surrogate(h.id), h.score))
    r.check("serve.equals_exhaustive", Inputs.sameRanking(got, Inputs.ranked(exh)),
      s"${got.take(3)} vs ${Inputs.ranked(exh).take(3)}")
  }
}

/** Writes beside reads on the same engine. The measured window runs cycles
  * of `PairsPerCycle` pairs of (upsert a batch of modified existing
  * documents, remove one document), one search with those deltas pending,
  * and `compact()`; that search's query is checked again just after the
  * compaction. Every cycle does the same work, so compactions compare
  * across runs.
  */
object ChurnWorkload extends Workload {
  val name = "churn"
  val Docs = 1000L
  val UpsertBatch = 2
  val PairsPerCycle = 16
  val WarmupPairs = 4
  /** Acknowledged upserts, and removals, re-read through a fresh engine. */
  val DurableChecked = 8

  def run(r: Run): Unit = {
    val spark = r.spark
    val e = EngineSetup(r, Docs)
    val eng = e.eng
    val ops = new Random(r.seed * 31 + 4)
    val probe = Seq.fill(2)(Inputs.term(new Random(r.seed * 31 + 6), Docs, r.seed)).mkString(" ")
    val upserted = mutable.LinkedHashMap.empty[String, String]
    val removed = mutable.LinkedHashSet.empty[String]
    def live(id: String) = !removed.contains(id)
    def expected(id: String) =
      if (removed.contains(id)) None
      else upserted.get(id).orElse(Some(CodeCorpus.row(r.seed, Inputs.rowOf(id)).content))
    def pickRow(ok: String => Boolean): String =
      Iterator.continually(Inputs.key((ops.nextLong() & Long.MaxValue) % Docs)).find(ok).get

    var req = 0L
    def writePair(timed: Boolean): Unit = {
      val batch = Seq.fill(UpsertBatch)(pickRow(live)).distinct.map { id =>
        Doc(id, expected(id).get + " " + Inputs.term(ops, Docs, r.seed))
      }
      if (timed) r.op("api.upsert", req)(eng.upsert(batch)) else eng.upsert(batch)
      batch.foreach(d => upserted(d.id) = d.contents)
      val gone = pickRow(id => live(id) && !upserted.contains(id))
      if (timed) r.op("api.remove", req)(eng.remove(gone)) else eng.remove(gone)
      removed += gone
    }
    // documents each compaction merges, for its throughput
    val compacted = mutable.ArrayBuffer.empty[Long]
    def cycle(): Unit = {
      for (_ <- 0 until PairsPerCycle) writePair(timed = true)
      // compaction is physical only: the probe ranks the same before and after
      val hits = r.op("api.search", req)(eng.search(probe, Some(10)))
      EngineSetup.checkResults(r, hits, 10, expected)
      val before = hits.map(h => (eng.surrogate(h.id), h.score))
      r.op("api.compact", req)(eng.compact())
      compacted += Docs - removed.size
      val after = eng.search(probe, Some(10)).map(h => (eng.surrogate(h.id), h.score))
      r.check("churn.compact_preserves_results", Inputs.sameRanking(before, after),
        s"probe '$probe': ${before.take(3)} vs ${after.take(3)}")
      req += 1
    }
    r.tracer.span("warmup") {
      for (_ <- 0 until WarmupPairs) writePair(timed = false)
      eng.compact()
    }
    r.setupDone()

    do cycle() while (System.nanoTime() < r.deadlineNs)

    // durability: a fresh engine on the same directory sees a seeded subset
    // of the acknowledged writes
    val pick = new Random(r.seed * 31 + 7)
    val fresh = r.timed("api.open")(SearchEngine.open(spark, eng.dir))
    for ((id, contents) <- pick.shuffle(upserted.toSeq.filter(u => live(u._1))).take(DurableChecked))
      r.check("churn.get_upserted", r.timed("api.get")(fresh.get(id)).contains(Doc(id, contents)), id)
    for (id <- pick.shuffle(removed.toSeq).take(DurableChecked / 2))
      r.check("churn.get_removed", r.timed("api.get")(fresh.get(id)).isEmpty, id)

    // Gated: the compaction, which keeps every core busy. A write is a chain
    // of short Spark jobs, and on a shared virtual machine its latency swings
    // with host contention far more than the compaction's, so the writes and
    // the search are reported in the summary but not gated.
    val compactMs = r.ms("api.compact")
    r.endToEnd("throughput_per_s") = compacted.sum / (compactMs.sum / 1e3)
    r.endToEnd("latency_p50_ms") = Stats.median(compactMs)
    val searches = r.ms("api.search")
    val writes = r.ms("api.upsert") ++ r.ms("api.remove")
    val busyS = (searches.sum + writes.sum + compactMs.sum) / 1e3
    r.summary("writes_per_s") = (writes.length / (writes.sum / 1e3), "1/s", writes.length)
    r.summary("ops_per_s") = ((searches.length + writes.length) / busyS, "1/s", searches.length + writes.length)
    r.summary("search_p50_ms") = (Stats.median(searches), "ms", searches.length)
    r.summary("write_p50_ms") = (Stats.median(writes), "ms", writes.length)
    Stats.highestReportable(writes.length).foreach { p =>
      r.summary(f"write_p${p * 100}%.0f_ms") = (Stats.percentile(writes, p), "ms", writes.length)
    }
    r.summary("compact_s") = (Stats.median(compactMs) / 1e3, "s", compactMs.length)

    if (r.traced) {
      Inputs.buildWork(r, "api.build_base")
      EngineSetup.searchLayers(r)
      r.perLayer("api.open_ms") = r.medianMs("api.open")
      r.perLayer("api.get_ms") = r.medianMs("api.get")
      r.perLayer("api.upsert_ms") = r.medianMs("api.upsert")
      r.perLayer("api.remove_ms") = r.medianMs("api.remove")
      val wu = r.workPer("api.upsert"); val wr = r.workPer("api.remove")
      r.perLayer("api.write_jobs") = (wu.jobs + wr.jobs) / 2
      r.perLayer("api.compact_s") = r.medianMs("api.compact") / 1e3
      val wc = r.workPer("api.compact")
      r.perLayer("api.compact_jobs") = wc.jobs
      r.perLayer("api.compact_shuffle_bytes") = wc.shuffleBytes
    }
    e.corpus.unpersist()
  }
}
