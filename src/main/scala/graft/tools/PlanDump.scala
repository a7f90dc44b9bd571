package graft.tools

import graft.SparkEntry

/** Writes `.explain("formatted")` for each catalog query to
  * <outDir>/<query>_<suffix>.txt — the optimization-round evidence files
  * (plans/r06/...). Usage:
  *   runMain graft.tools.PlanDump <outDir> <suffix> [query ...]
  * Uses Bench's session (`ToolSession` with 8m splits) so the plans match
  * what the bench executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r06")
    val suffix = if (args.length > 1) args(1) else "before"
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = ToolSession("bm25spark-plandump", ToolSession.localSplits("8m"): _*)
    new java.io.File(outDir).mkdirs()
    // prebuild the shared index/engine dirs exactly like Bench does, so the
    // per-query plans do not include one-time index builds
    graft.Queries.cachedIndex(spark, sfDir, "simple", graft.Queries.simpleTokenizer)
    graft.Queries.cachedIndex(spark, sfDir, "real", graft.text.Bm25Tokenizer.default)
    graft.Queries.lifecycleEngine(spark, sfDir, compacted = false)
    graft.Queries.lifecycleEngine(spark, sfDir, compacted = true)
    for (name <- names) {
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt", "UTF-8")
        try w.write(plan) finally w.close()
        println(s"dumped $name")
      } catch {
        // NonFatal only: an OOM/fatal error must abort the dump, not leave
        // later plan files written from a broken session
        case scala.util.control.NonFatal(e) =>
          println(s"FAILED $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
