package graft.perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark work attributed to one span (or a set of spans). */
final case class Work(jobs: Double = 0, tasks: Double = 0, taskMs: Double = 0,
                      shuffleReadBytes: Double = 0, shuffleWriteBytes: Double = 0,
                      spillBytes: Double = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks, taskMs + o.taskMs,
    shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes)
  def /(n: Int): Work = Work(jobs / n, tasks / n, taskMs / n,
    shuffleReadBytes / n, shuffleWriteBytes / n, spillBytes / n)
  def shuffleBytes: Double = shuffleReadBytes + shuffleWriteBytes
}

/** Collects Spark jobs, tasks and bytes and attributes each job to the
  * benchmark span that launched it.
  *
  * A job belongs to the span named by its job group (set by [[Tracer]])
  * when it was submitted while that span was open. Jobs submitted from
  * pooled threads can carry a stale group inherited from an earlier span;
  * those, and jobs with no group, go to the innermost span open at the
  * job's submission time. The client is single-threaded, so that span is
  * the call that caused the job.
  */
final class JobLedger extends SparkListener {
  import JobLedger.Job
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val work = mutable.HashMap.empty[Int, Work]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = Job(group, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      val m = Option(e.taskMetrics)
      val w = Work(
        tasks = 1,
        taskMs = m.map(_.executorRunTime.toDouble).getOrElse(0.0),
        shuffleReadBytes = m.map(_.shuffleReadMetrics.totalBytesRead.toDouble).getOrElse(0.0),
        shuffleWriteBytes = m.map(_.shuffleWriteMetrics.bytesWritten.toDouble).getOrElse(0.0),
        spillBytes = m.map(t => (t.memoryBytesSpilled + t.diskBytesSpilled).toDouble).getOrElse(0.0))
      work(j) = work.getOrElse(j, Work()) + w
    }
  }

  /** Span id per job id (-1: no span was open). */
  def attribute(spans: Seq[Span]): Map[Int, Int] = synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    def open(s: Span, ms: Long) = s.startMs <= ms && ms <= s.endMs
    jobs.iterator.map { case (jobId, j) =>
      val byGroup = j.group.filter(_.startsWith("perfbench-"))
        .flatMap(g => g.stripPrefix("perfbench-").toIntOption).flatMap(byId.get)
        .filter(open(_, j.submitMs))
      val span = byGroup.orElse(spans.filter(open(_, j.submitMs)).maxByOption(s => (s.startNs, s.id)))
      jobId -> span.map(_.id).getOrElse(-1)
    }.toMap
  }

  /** Work of the jobs attributed to any span in `ids`. */
  def workOf(spans: Seq[Span], ids: Set[Int]): Work = synchronized {
    attribute(spans).iterator.collect {
      case (jobId, span) if ids.contains(span) => work.getOrElse(jobId, Work()).copy(jobs = 1)
    }.foldLeft(Work())(_ + _)
  }
}

object JobLedger {
  private final case class Job(group: Option[String], submitMs: Long)
}
