package graft

import org.apache.spark.sql.SparkSession

/** The local session the runnable mains (`Bench`, `Verify`, `graft.tools`)
  * start from: `local[cores]` with as many shuffle partitions, the UTC
  * session time zone, adaptive execution on and the UI off. `confs` add to
  * or override these; `logLevel` is the SparkContext log level. */
object LocalSession {
  def apply(
      cores: Int,
      confs: Map[String, String] = Map.empty,
      logLevel: String = "WARN"): SparkSession = {
    val base = Map(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false")
    val spark = (base ++ confs)
      .foldLeft(SparkSession.builder().master(s"local[$cores]")) { case (b, (k, v)) =>
        b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Core count from `SPARK_GRAFT_CPUS`; a missing or malformed value
    * gives 4. */
  def envCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).filter(_ >= 1).getOrElse(4)
}
