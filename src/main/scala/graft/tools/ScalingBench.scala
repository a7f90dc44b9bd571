package graft.tools

import graft.index.{Bm25Index, Checkpoints, IndexBuildConfig, IndexBuilder}
import graft.sources.{CodeCorpus, TableIO}
import graft.text.Bm25Tokenizer

/** Scaling-efficiency evidence (BASELINE.json: ≥0.8 between N and 4N
  * executors; evidenced here as local[N] vs local[4N] per the driver
  * instruction — no real cluster in this sandbox).
  *
  * Usage: SPARK_GRAFT_CPUS=8 sbt "runMain graft.tools.ScalingBench 200000"
  * Prints one JSON line: corpus-generation + index-build + query timings at
  * the given parallelism over the deterministic synthetic code corpus
  * (input_hint shape — identical data at any parallelism).
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(200000L)
    val cpus = ToolSession.cpus
    // SPARK_GRAFT_MASTER=local-cluster[N,cores,mem] runs the same job on N
    // separate executor JVMs (the north_rule's N-vs-4N-executors shape);
    // under spark-submit (scripts/run_submit.sh) the master comes from the
    // --master flag (spark.master system property); default is local[cpus].
    val master = sys.env.get("SPARK_GRAFT_MASTER")
      .orElse(sys.props.get("spark.master"))
      .getOrElse(s"local[$cpus]")
    // the corpora here are ~100 MB: 4m splits (at production scale the
    // default is right)
    val spark = ToolSession("bm25spark-scaling", Seq("spark.master" -> master,
      "spark.io.compression.codec" -> sys.env.getOrElse("SPARK_GRAFT_CODEC", "lz4")) ++
      ToolSession.localSplits("4m"): _*)
    try {
      val tmp = System.getProperty("java.io.tmpdir")
      val corpusPath = s"$tmp/graft_code_corpus_$n"
      // materialize the corpus once (shared by both parallelism levels) so
      // the measured job is ingest+build, not generation
      if (!new java.io.File(s"$corpusPath/_SUCCESS").exists()) {
        CodeCorpus.generate(spark, n, seed = 42L, partitions = math.max(cpus * 4, 16))
          .write.mode("overwrite").parquet(corpusPath)
      }
      // the surrogate ids' collision check, outside the timed build
      TableIO.assertUniqueIds(TableIO.toCorpusDocs(TableIO.readCorpus(spark, corpusPath)))
      val indexDir = s"$tmp/graft_scale_idx_${n}_cpus${cpus}_${System.nanoTime()}"

      // warmup: a tiny throwaway build exercises every code path (parquet
      // reader codegen, shuffle, writers) so the timed run measures
      // steady-state throughput, not JVM warmup
      val warmDocs = TableIO.toCorpusDocs(CodeCorpus.generate(spark, 2000, seed = 7L))
      IndexBuilder.build(spark, warmDocs, Bm25Tokenizer.default,
        s"$indexDir.warmup", IndexBuildConfig(numShards = 4, shardGroups = 1, uniformIdSpace = true))

      val t0 = System.nanoTime()
      val files = TableIO.readCorpus(spark, corpusPath)
      val docs = TableIO.toCorpusDocs(files)
      // numShards is fixed (not a function of parallelism) so the N and 4N
      // runs execute the identical job over identical data.
      val manifest = IndexBuilder.build(spark, docs, Bm25Tokenizer.default, indexDir,
        IndexBuildConfig(numShards = 64, shardGroups = 1, uniformIdSpace = true, postingTasks = 96),
        Map("input" -> corpusPath, "n" -> n.toString))
      val buildSec = (System.nanoTime() - t0) / 1e9

      val idx = new Bm25Index(spark, indexDir)
      val queries = Seq("fn return match struct", "def class import lambda",
        "func range defer chan", "val object trait extends", "vab vac vad")
      // the first WAND query also collects the term dictionary and builds
      // and caches the index's shard stores: reported as warm_ms, with the
      // stores' cached size, apart from the steady-state percentiles
      val tw = System.nanoTime()
      idx.search(queries.head, Some(20), "wand").count()
      val warmMs = (System.nanoTime() - tw) / 1e6
      val held = spark.sparkContext.getRDDStorageInfo
      val (heldMem, heldDisk) = (held.map(_.memSize).sum, held.map(_.diskSize).sum)
      val lats = (for (q <- queries; k <- Seq(5, 20)) yield {
        val t = System.nanoTime()
        idx.search(q, Some(k), "wand").count()
        (System.nanoTime() - t) / 1e6
      }).sorted
      def pct(p: Double) = lats(math.min(lats.length - 1, (p * lats.length).toInt))

      val stageSecs = Checkpoints.readAll(indexDir).toSeq.sortBy(_._1).flatMap { case (name, json) =>
        "\"seconds\"\\s*:\\s*([0-9.]+)".r.findFirstMatchIn(json).map(m => s""""$name":${m.group(1).toDouble.round}""")
      }.mkString("{", ",", "}")
      println(f"""{"bench":"scaling","cpus":$cpus,"n_docs":${manifest.nDocs},"build_sec":$buildSec%.2f,"docs_per_sec":${manifest.nDocs / buildSec}%.1f,"postings_per_sec":${manifest.metrics("postings") / buildSec}%.1f,"postings":${manifest.metrics("postings")}%.0f,"bytes_per_posting":${manifest.metrics("bytesPerPosting")}%.3f,"df_skew_ratio":${manifest.metrics("dfSkewRatio")}%.1f,"warm_ms":$warmMs%.1f,"held_mem_bytes":$heldMem,"held_disk_bytes":$heldDisk,"query_p50_ms":${pct(0.5)}%.1f,"query_p95_ms":${pct(0.95)}%.1f,"stages":$stageSecs}""")
    } finally spark.stop()
  }
}
