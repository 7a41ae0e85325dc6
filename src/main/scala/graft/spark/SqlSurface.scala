package graft.spark

import graft.extract.{Extraction, ExtractorOptions, TrafConfig}
import graft.functions._
import graft.out.Serializers.Span
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** SQL names for the native expressions and kernel UDFs: exposes them to
  * `spark.sql` users (SURVEY §2.10 — optional UDF/expression surface).
  * Operators never need this; they call `graft.functions` as typed columns. */
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

  def register(spark: SparkSession): Unit = {
    natives.foreach { case (name, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "scala_udf")
    }
    // kernel as SQL functions (opaque per-row transforms -> UDFs)
    val opts = ExtractorOptions(config = TrafConfig.Zero, fast = true, images = true)
    spark.udf.register("extract_text",
      (html: String) => Extraction.extract(html, null, opts))
    spark.udf.register("extract_spans", (html: String) => {
      val d = Extraction.bareExtraction(html, null, opts)
      if (d == null) Seq.empty[Span] else d.spans
    })
    spark.udf.register("extract_title", (html: String) => {
      val d = Extraction.bareExtraction(html, null, opts)
      if (d == null) null else d.meta.title
    })
  }
}
