package graft

/** Mid-run local-finish correctness: the driver union-find must compose
  * correctly with NOT-YET-IDEMPOTENT labels (pointer chains survive the
  * one-hop flatten), which only occurs when the distributed loop ran at
  * least one round before the edge set fell under the threshold. */
class LocalFinishSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("connectedComponents: local finish engaged AFTER distributed rounds is exact") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    // two chains (diameter 60 each): 118 directed pairs -> 236 edges; with
    // localFinishEdges = 60 the loop MUST contract distributedly first
    // (236 > 60), then finish locally on a shrunken graph mid-run
    val chain = (0L until 60L).sliding(2).map(s => (s.head, s.last)).toSeq ++
      (1000L until 1060L).sliding(2).map(s => (s.head, s.last)).toSeq
    val (labels, stats) = graft.spark.TextOps.connectedComponents(
      chain.toDF("a", "b"), maxIters = 20, localFinishEdges = 60)
    assert(stats.converged)
    assert(stats.rounds >= 1, "local finish must have engaged AFTER a distributed round")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == 120)
    got.foreach { case (d, l) => assert(l == (if (d < 1000) 0L else 1000L), s"$d -> $l") }
  }
}
