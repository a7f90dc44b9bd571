package graft.tools

import graft.index._
import graft.text.Bm25Tokenizer
import org.apache.spark.sql.SparkSession

/** CLI surface over the distributed engine:
  *
  *   sbt "runMain graft.tools.SearchCli build <docsParquet> <indexDir>"
  *   sbt "runMain graft.tools.SearchCli query <indexDir> <k> <mode> <query...>"
  *
  * `docsParquet` needs (doc_id: long, text: string) columns (the driver's
  * documents tables qualify).
  */
object SearchCli {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName("bm25spark-cli")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")
    try args.toList match {
      case "build" :: docsPath :: indexDir :: rest =>
        val numShards = rest.headOption.map(_.toInt).getOrElse(8)
        val docs = spark.read.parquet(docsPath)
          .selectExpr("doc_id", "text as content").as[CorpusDoc]
        val t0 = System.nanoTime()
        val m = IndexBuilder.build(spark, docs, Bm25Tokenizer.default, indexDir,
          IndexBuildConfig(numShards = numShards), Map("input" -> docsPath))
        println(f"built: ${m.nDocs} docs, ${m.metrics("postings")}%.0f postings, " +
          f"${m.metrics("blocks")}%.0f blocks, ${m.metrics("bytesPerPosting")}%.2f B/posting, " +
          f"avgdl ${m.avgdl}%.2f, ${(System.nanoTime() - t0) / 1e9}%.1f s " +
          f"(${m.metrics("docsPerSecond")}%.0f docs/s)")
      case "query" :: indexDir :: k :: mode :: qs if qs.nonEmpty =>
        val idx = new Bm25Index(spark, indexDir)
        val t0 = System.nanoTime()
        val hits = idx.search(qs.mkString(" "), Some(k.toInt), mode).collect()
        val ms = (System.nanoTime() - t0) / 1e6
        hits.foreach(h => println(f"${h.doc_id}%8d  ${h.score}%.6f"))
        println(f"${hits.length} hits in $ms%.0f ms ($mode)")
      case "merge" :: baseDir :: outDir :: deltaPath :: rest =>
        // fold a delta corpus (parquet: doc_id, text) into a base index via
        // the distributed multi-way posting merge; optional csv of doc ids
        // to remove/supersede as the 4th arg
        val removed = rest.headOption.map(_.split(",").filter(_.nonEmpty).map(_.toLong))
          .getOrElse(Array.empty[Long]).toSeq.toDF("doc_id")
          .selectExpr("doc_id", "true as tombstone", "cast(null as string) as contents")
        val deltas = spark.read.parquet(deltaPath)
          .selectExpr("doc_id", "false as tombstone", "text as contents")
        val m = Compactor.merge(spark, baseDir, outDir, deltas.union(removed),
          new Bm25Index(spark, baseDir).tokenizer)
        println(f"merged: ${m.nDocs} docs, ${m.metrics("postings")}%.0f postings, " +
          f"avgdl ${m.avgdl}%.4f (frozen), ${m.metrics("bytesPerPosting")}%.2f B/posting")
      case "explain" :: indexDir :: qs if qs.nonEmpty =>
        val idx = new Bm25Index(spark, indexDir)
        idx.search(qs.mkString(" "), Some(10)).explain("formatted")
      case other =>
        System.err.println(s"usage: build <docs.parquet> <indexDir> [shards] | merge <baseDir> <outDir> <deltas.parquet> [ids,csv] | query <indexDir> <k> <wand|exhaustive> <query...> | explain <indexDir> <query...>; got $other")
        sys.exit(2)
    } finally spark.stop()
  }
}
