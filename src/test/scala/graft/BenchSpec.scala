package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** graft.Bench's one pass, end to end on sf0.001: the JSON line keeps the
  * BENCH.json keys and names no lane count wider than the host. */
class BenchSpec extends AnyFunSuite {

  test("Bench.run: one pass at sf0.001 emits the ten keys, every query, no scaling figure") {
    val spark = SparkSession.builder()
      .master("local[4]").config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    val json = Bench.run(spark, "/root/testdata/sf0.001", queryRuns = 1, factor = 1)
    val root = new ObjectMapper().readTree(json)
    assert(root.fieldNames.asScala.toSet == Set("metric", "value", "unit", "queries",
      "query_spread", "query_runs", "sf", "cpus", "extract", "scaling"), json)
    assert(SparkEntry.queries.size == 23)
    assert(root.get("queries").fieldNames.asScala.toSet == SparkEntry.queries.keySet)
    // spread -1 marks a query run that threw
    SparkEntry.queries.keys.foreach(q => assert(root.get("query_spread").get(q).asDouble >= 0, q))
    assert(root.get("cpus").asInt <= Runtime.getRuntime.availableProcessors)
    assert(root.get("extract").get("docs").asLong > 0)
    assert(root.get("scaling").get("efficiency").isNull)
  }
}
