package graft.perfbench

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.util.Properties

class JobLedgerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def span(id: Int, start: Long, end: Long) = Span(id, s"s$id", -1, 0L, start, end, start, end)

  private def jobStart(jobId: Int, timeMs: Long, group: Option[String]) = {
    val p = new Properties()
    group.foreach(p.setProperty("spark.jobGroup.id", _))
    SparkListenerJobStart(jobId, timeMs, Nil, p)
  }

  test("a job goes to the span its group names while that span is open") {
    val l = new JobLedger
    val spans = Seq(span(0, 100, 200), span(1, 150, 180))
    l.onJobStart(jobStart(0, 160, Some("perfbench-0")))
    l.onJobStart(jobStart(1, 160, Some("perfbench-1")))
    assert(l.attribute(spans) == Map(0 -> 0, 1 -> 1))
  }

  test("a stale or missing group falls back to the innermost span open at submission") {
    val l = new JobLedger
    val spans = Seq(span(0, 100, 200), span(1, 300, 400), span(2, 350, 360))
    l.onJobStart(jobStart(0, 310, Some("perfbench-0"))) // span 0 has closed
    l.onJobStart(jobStart(1, 355, None)) // inside span 2, nested in span 1
    l.onJobStart(jobStart(2, 250, None)) // between spans
    l.onJobStart(jobStart(3, 320, Some("someone-else")))
    assert(l.attribute(spans) == Map(0 -> 1, 1 -> 2, 2 -> -1, 3 -> 1))
  }

  test("jobs, tasks and shuffle bytes of real jobs land on the active span") {
    val l = new JobLedger
    spark.sparkContext.addSparkListener(l)
    try {
      val t = new Tracer(enabled = true, Some(spark.sparkContext))
      t.span("shuffle") {
        spark.range(0, 10000, 1, 4).repartition(3).selectExpr("id % 7 as k").distinct().count()
      }
      t.span("scan")(spark.sparkContext.parallelize(1 to 1000, 2).map(_.toLong).reduce(_ + _))
      spark.range(0, 10).count() // outside every span
      ListenerDrain(spark.sparkContext)
      val byName = t.spans.map(s => s.name -> s.id).toMap
      val shuffle = l.workOf(t.spans, Set(byName("shuffle")))
      val scan = l.workOf(t.spans, Set(byName("scan")))
      assert(shuffle.jobs >= 1 && shuffle.tasks >= 4)
      assert(shuffle.shuffleWriteBytes > 0 && shuffle.shuffleReadBytes > 0)
      assert(scan.jobs >= 1 && scan.tasks >= 2)
      assert(scan.shuffleBytes == 0)
      assert(l.attribute(t.spans).values.count(_ == -1) >= 1)
      assert(l.workOf(t.spans, byName.values.toSet).jobs == shuffle.jobs + scan.jobs)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
