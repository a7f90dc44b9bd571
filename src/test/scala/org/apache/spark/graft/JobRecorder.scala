package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.jdk.CollectionConverters._

/** Records the Spark jobs a block launches, as each job's stage names. Jobs
  * are told apart by a job group private to the call, so jobs of other
  * threads never count. Lives under `org.apache.spark` to drain the
  * listener bus, so the record is complete when the block's result returns.
  */
object JobRecorder {
  def apply[A](sc: SparkContext)(body: => A): (A, Seq[Seq[String]]) = {
    val (result, jobs) = withCallSites(sc)(body)
    (result, jobs.map(_.map(_._1)))
  }

  /** Like `apply`, with each stage's name paired with its long call site
    * (the stack it was launched from). A job of a SQL execution also carries
    * the execution's call site: adaptive execution submits its jobs from a
    * pool thread whose stack names no caller.
    */
  def withCallSites[A](sc: SparkContext)(body: => A): (A, Seq[Seq[(String, String)]]) = {
    val (result, jobs, _) = withStages(sc)(body)
    (result, jobs)
  }

  /** Like `withCallSites`, plus the stages the block submitted. A stage
    * whose output already exists (a cached or shuffled input) is skipped,
    * never submitted, so these are the stages that did work, and their
    * RDDs tell which data the block really read.
    */
  def withStages[A](sc: SparkContext)(body: => A): (A, Seq[Seq[(String, String)]], Seq[StageInfo]) = {
    val group = s"job-recorder-${java.util.UUID.randomUUID()}"
    def ours(p: java.util.Properties) = Option(p).exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[(String, String)]]()
    val submitted = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val executionSites = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executionSites.put(s.executionId.toString, s.details)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) {
          val site = Option(e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY))
            .flatMap(id => Option(executionSites.get(id))).fold("")("\n" + _)
          jobs.add(e.stageInfos.map(s => (s.name, s.details + site)))
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties)) submitted.add(e.stageInfo)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "recorded")
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, jobs.asScala.toSeq, submitted.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Whether a recorded stage is a parquet schema inference: a job launched
    * from a `DataFrameReader.parquet` call, which a read with a known schema
    * never runs. (Writes are `DataFrameWriter` call sites.)
    */
  def infersSchema(stage: (String, String)): Boolean =
    stage._1.startsWith("parquet at") && stage._2.contains("DataFrameReader.parquet")
}
