package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
/** Scale-linearity evidence: run the dedup/ANN operators on 1x/4x/16x
  * replicas of the documents table (distinct ids) and report wall time.
  * Near-linear growth = the plans have no quadratic shuffle hiding. */
object ScaleSweep {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = "/root/testdata/sf0.1"
    // every WORD gets a replica-unique prefix: cross-replica shingle overlap
    // is zero, so near-dup OUTPUT grows linearly with input (replicating
    // verbatim would create fx-sized duplicate clusters and legitimately
    // quadratic pair counts, which measures the data, not the plan)
    def docsX(factor: Int) = {
      val d = graft.spark.DocsTables.documents(spark, sfDir)
      d.join(spark.range(factor).toDF("rep"))
        .withColumn("doc_id", col("doc_id") * factor + col("rep"))
        .withColumn("text", concat_ws(" ",
          transform(split(col("text"), " "), w => concat(col("rep"), lit("x"), w))))
        .select("doc_id", "text")
        .repartition(32, col("doc_id"))
    }
    def t(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"SWEEP $name rows=$n sec=${(System.nanoTime()-t0)/1e9}%.2f")
    }
    // warmup
    graft.spark.TextOps.dedupMinhash(docsX(1)).count()
    Seq(1, 4, 16).foreach { fx =>
      val d = docsX(fx).persist()
      d.count()
      t(s"dedup_minhash x$fx")(graft.spark.TextOps.dedupMinhash(d).count())
      t(s"dedup_exact   x$fx")(graft.spark.TextOps.dedupExact(d).count())
      t(s"simhash_fp    x$fx")(graft.spark.TextOps.simhashPairs(spark, d).count())
      // banded-hamming near-dup with the production bandCap guard engaged
      // (degenerate bands from clustered fingerprints are the quadratic
      // risk here — the cap bounds any one band's contribution)
      t(s"dedup_simhash x$fx")(
        graft.spark.TextOps.dedupSimhash(spark, d, maxHamming = 3, bandCap = 200).count())
      // full pipeline tail (r5 fixed shape): near-dup pairs -> connected
      // components -> canonical-per-cluster counts over a persisted input
      t(s"pipeline_clusters x$fx")(
        graft.spark.TextOps.dedupClusters(d)
          .groupBy(col("cluster_id")).agg(count(lit(1))).count())
      d.unpersist()
    }
    spark.stop()
  }
}
