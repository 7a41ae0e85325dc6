package graft.spark

import graft.functions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** SQL names for the native expressions: exposes them to `spark.sql` users
  * (SURVEY §2.10 — optional expression surface). Operators never need this;
  * they call `graft.functions` as typed columns, and the kernel's one entry
  * is `ExtractPipeline.extractDocs`. */
object SqlSurface {

  private val natives: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", e => VecDot(e(0), e(1))),
    ("vec_unit", e => VecUnit(e(0))),
    ("vec_dots", e => VecDots(e(0), e(1))),
    ("srp_buckets", e => SrpBuckets(e(0), e(1), e(2))),
    ("minhash128", e => MinHash128(e(0))),
    ("shingle_hashes", e => ShingleHashes(e(0))),
    ("sorted_intersect_count", e => SortedIntersectCount(e(0), e(1))),
    ("simhash64", e => Simhash64(e(0))))

  def register(spark: SparkSession): Unit =
    natives.foreach { case (name, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "scala_udf")
    }
}
