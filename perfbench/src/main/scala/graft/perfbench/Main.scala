package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One benchmark run in this JVM:
  *
  * {{{
  * Main --workload <serve|churn> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --raw <file>
  * }}}
  *
  * Runs the workload in `local[nproc]` with one client thread, checks its
  * outputs and writes every sample, check, metric, the host state and (when
  * traced) every span to the raw JSON file. `run.py` turns that file into
  * the result line. An operation that throws ends the run with a non-zero
  * exit code.
  */
object Main {

  /** Single-core host canary: 200k MD5s of a short fixed string. A healthy
    * vCPU takes tens of ms; a hypervisor stall inflates it several times.
    */
  def canaryMs(): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = "the quick brown fox jumps over".getBytes
    var sink = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 200000) { md.update(buf); sink += md.digest()(0); i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if (sink == Long.MinValue) println(sink) // keeps the loop live
    ms
  }

  def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad option $k"); k.stripPrefix("--") -> v
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val workload = Workload.byName(opts("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val workDir = opts("work")
    val cpus = Runtime.getRuntime.availableProcessors()

    canaryMs() // the first call measures the JIT, not the host
    val canaryPre = canaryMs()
    val runStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${workload.name}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", Paths.get(workDir, "warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - runStart) / 1e9
    val ledger = if (traced) Some(new JobLedger) else None
    ledger.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(traced, if (traced) Some(spark.sparkContext) else None)
    val run = new Run(spark, seed, seconds, tracer, ledger, workDir, runStart)

    try {
      workload.run(run)
      run.endToEnd("setup_s") = run.setupSeconds
      if (traced) {
        val setupEnd = run.setupEndNs
        val top = tracer.spans.filter(s => s.parent == -1 && s.startNs < setupEnd)
          .map(s => (s.startNs, math.min(s.endNs, setupEnd)))
        run.perLayer("setup.session_s") = sessionS
        run.perLayer("setup.self_s") = run.setupSeconds - sessionS - Stats.unionLength(top) / 1e9
        run.perLayer("sources.corpus_gen_s") = tracer.named("sources.corpus_gen").head.durationNs / 1e9
        // layers this workload does not run report 0; run.py adds the
        // trace.overhead metrics, which need the untraced twin run
        for ((name, _) <- Metrics.perLayer if !name.startsWith("trace.overhead."))
          run.perLayer.getOrElseUpdate(name, 0.0)
      }
    } finally {
      val canaryPost = canaryMs()
      val failedChecks = run.checks.count(!_._2)
      val raw = Map(
        "workload" -> workload.name,
        "seed" -> seed,
        "seconds" -> seconds,
        "trace" -> traced,
        "host" -> Map(
          "nproc" -> cpus,
          "max_heap_bytes" -> Runtime.getRuntime.maxMemory(),
          "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
            .filter(a => a.startsWith("-X") || a.startsWith("-XX")).toSeq,
          "canary_md5_ms_pre" -> canaryPre,
          "canary_md5_ms_post" -> canaryPost),
        "attempted" -> (run.opsAttempted + run.checks.length),
        "failed" -> failedChecks,
        "checks" -> run.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq,
        "samples_ms" -> run.samples.map { case (k, v) => k -> v.toSeq },
        "end_to_end" -> run.endToEnd,
        "per_layer" -> run.perLayer,
        "summary" -> run.summary.map { case (k, (v, u, n)) =>
          k -> Map("value" -> v, "unit" -> u, "n" -> n) },
        "spans" -> tracer.spans.map { s =>
          Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
            "start_ms" -> s.startMs, "end_ms" -> s.endMs, "duration_ms" -> s.durationNs / 1e6,
            "self_ms" -> Tracer.selfNs(s, tracer.spans) / 1e6)
        })
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      Files.write(Paths.get(opts("raw")), mapper.writeValueAsBytes(raw))
      spark.stop()
    }
  }
}
