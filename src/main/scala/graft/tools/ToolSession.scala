package graft.tools

import org.apache.spark.sql.SparkSession

/** The Spark session of every tool main (`Bench`, `Verify`, `SearchCli`,
  * `ScalingBench`, `PlanDump`): `local[SPARK_GRAFT_CPUS]` (4 when unset)
  * with as many shuffle partitions, the UTC session time zone (NTZ casts
  * must be identity), no UI, and ERROR logging. A tool passes only the
  * settings it differs in, as config pairs (`spark.master` among them).
  */
object ToolSession {
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Local-scale input splits: the tools' inputs are far below the default
    * 128 MB split, which would read each on one task whatever the cores.
    */
  def localSplits(maxPartitionBytes: String): Seq[(String, String)] =
    Seq("spark.sql.files.maxPartitionBytes" -> maxPartitionBytes, "spark.sql.files.openCostInBytes" -> "1m")

  def apply(appName: String, settings: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = settings.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
