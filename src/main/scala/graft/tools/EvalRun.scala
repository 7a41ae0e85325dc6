package graft.tools
import graft.spark.EvalCorpus
/** Manual eval-corpus scoring runner (quality vs published baseline). */
object EvalRun {
  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "standard"
    val spark = graft.LocalSession(Runtime.getRuntime.availableProcessors)
    val s = EvalCorpus.score(spark, "/root/reference/tests/eval",
      "src/test/resources/evaldata.json", mode)
    println(s"EVAL[$mode] $s")
    spark.stop()
  }
}
