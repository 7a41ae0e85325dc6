package graft.tools
import graft.spark.EvalCorpus
import org.apache.spark.sql.SparkSession
/** Manual eval-corpus scoring runner (quality vs published baseline). */
object EvalRun {
  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "standard"
    val spark = SparkSession.builder().master("local[*]")
      .config("spark.sql.shuffle.partitions", Runtime.getRuntime.availableProcessors.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN").getOrCreate()
    val s = EvalCorpus.score(spark, "/root/reference/tests/eval",
      "src/test/resources/evaldata.json", mode)
    println(s"EVAL[$mode] $s")
    spark.stop()
  }
}
