// Run with spark-shell -i over one checkout's compiled classes and test classes
// (for JobRecorder), local[4], spark.sql.shuffle.partitions=4, a fresh
// java.io.tmpdir, and PROBE_RESULTS naming the results file; the PROBE lines
// it prints are warm_jobs.txt, the results file is diffed in results_diff.txt.
// Spark jobs and held bytes of a 1 k-doc engine built as the benchmark builds it.
import graft.api.{Doc, SearchEngine}
import graft.sources.CodeCorpus
import org.apache.spark.graft.JobRecorder
val sc = spark.sparkContext
import spark.implicits._
def dirBytes(p: String): Long = { val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p)); try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum() finally s.close() }
def jobs[A](body: => A): (A, Int) = { val (r, j) = JobRecorder(sc)(body); (r, j.length) }
for (seed <- Seq(150L, 961L)) {
  val docs = spark.range(0, 1000, 1, sc.defaultParallelism).map(i => Doc(s"doc-$i", CodeCorpus.row(seed, i).content))
  val dir = java.nio.file.Files.createTempDirectory(s"probe$seed").toString
  val eng = SearchEngine.open(spark, dir)
  eng.upsertBatch(docs)
  eng.buildBase()
  val before = sc.getRDDStorageInfo.map(_.id).toSet
  val rnd = new scala.util.Random(seed)
  def q(): String = Seq.fill(2)({ val t = CodeCorpus.row(seed, rnd.nextInt(1000)).content.split("\\s+"); t(rnd.nextInt(t.length)) }).mkString(" ")
  val (_, first) = jobs(eng.search(q(), Some(10)))
  val held = sc.getRDDStorageInfo.filterNot(r => before(r.id))
  val (_, second) = jobs(eng.search(q(), Some(10)))
  val (_, warm) = jobs(eng.search(q(), Some(100)))
  val (unl, unlimited) = jobs(eng.search(q(), None))
  val heldStr = held.map(r => s"[${r.name.replace(dir, "<dir>")}: mem=${r.memSize} disk=${r.diskSize} partitions=${r.numCachedPartitions}/${r.numPartitions}]").mkString(" ")
  println(s"PROBE seed=$seed first_search_jobs=$first second_search_jobs=$second warm_limited_jobs=$warm unlimited_clean_jobs=$unlimited unlimited_hits=${unl.length} held_rdds=${held.length} held_mem=${held.map(_.memSize).sum} held_disk=${held.map(_.diskSize).sum} docstore_dir_bytes=${dirBytes(s"$dir/docstore")} postings_dir_bytes=${dirBytes(s"$dir/index/postings")}")
  println(s"PROBE seed=$seed held $heldStr")
  eng.upsert(Doc("doc-1", "fresh probe delta row"))
  eng.compact()
  eng.upsert(Doc("doc-2", "another probe delta row"))
  val (_, firstDelta) = jobs(eng.search(q(), Some(10)))
  val (_, warmDelta) = jobs(eng.search(q(), Some(10)))
  val (_, warmDeltaRanked) = jobs(eng.search("probe delta", Some(10)))
  println(s"PROBE seed=$seed first_search_on_new_base_with_deltas_jobs=$firstDelta warm_search_with_deltas_jobs=$warmDelta warm_search_with_ranked_delta_jobs=$warmDeltaRanked")
}
// results of 450 queries (the last 150 with deltas pending) (k 10, 100, unlimited) on one 1 k-doc engine, for a diff between two builds
locally {
  val seed = 150L
  val docs = spark.range(0, 1000, 1, sc.defaultParallelism).map(i => Doc(s"doc-$i", CodeCorpus.row(seed, i).content))
  val eng = SearchEngine.open(spark, java.nio.file.Files.createTempDirectory("probe_results").toString)
  eng.upsertBatch(docs)
  eng.buildBase()
  val rnd = new scala.util.Random(7)
  val out = new java.io.PrintWriter(sys.env("PROBE_RESULTS"), "UTF-8")
  for (j <- 0 until 450) {
    if (j == 300) { // deltas pending for the last 150
      eng.upsert(Seq(Doc("doc-5", CodeCorpus.row(seed, 6).content), Doc("new-1", CodeCorpus.row(seed, 8).content + " fresh")))
      eng.remove("doc-7")
    }
    val q = Seq.fill(1 + j % 4)({ val t = CodeCorpus.row(seed, rnd.nextInt(1000)).content.split("\\s+"); t(rnd.nextInt(t.length)) }).mkString(" ")
    val limit = Seq(Some(10), Some(100), None)(j % 3)
    for (r <- eng.search(q, limit))
      out.println(s"$j\t$limit\t${r.id}\t${java.lang.Float.floatToRawIntBits(r.score)}\t${java.security.MessageDigest.getInstance("SHA-256").digest(r.contents.getBytes("UTF-8")).map("%02x".format(_)).mkString}")
  }
  out.close()
  println("PROBE results written")
}
System.exit(0)
