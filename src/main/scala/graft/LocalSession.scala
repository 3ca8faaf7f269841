package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session builder of the engine's entry points
  * (`Bench`, `Verify`, `ScaleLadder`, `Profile`). Every query assumes
  * the UTC session time zone (`Tables.events` refuses an NTZ cast under
  * any other), and shuffle partitions follow the core count so one
  * stage never fans out wider than the cores that run it. */
object LocalSession {

  /** The pinned session conf for `cpus` local cores. */
  def conf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true")

  /** Session over `SPARK_GRAFT_CPUS` cores (else `defaultCpus`), with
    * Spark's own log level at WARN. */
  def create(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(defaultCpus)
    val spark = conf(cpus)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
