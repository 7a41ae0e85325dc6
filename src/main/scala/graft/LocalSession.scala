package graft

import org.apache.spark.sql.SparkSession

/** The in-process session of Verify, Bench and EvalRun. The WARN level is a
  * builder config, so it holds from context start-up on (only Spark's first
  * three version lines print at INFO). graft.Main keeps its own builder. */
object LocalSession {
  def apply(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.log.level", "WARN")
      .getOrCreate()
}
