package graft

import graft.functions.{shingleHashes, sortedIntersectCount, srpBuckets, vecDot, vecDots, vecUnit}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r06 optimization-round equivalence pins: each new fused native
  * expression must be BIT-IDENTICAL to the composable form it replaced —
  * the oracle queries' hashes depend on it. */
class VecExprsEquivalenceSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("vec-exprs-equivalence").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def floatVecs(n: Int, dim: Int): org.apache.spark.sql.DataFrame = {
    val rnd = new java.util.Random(7)
    import spark.implicits._
    (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
  }

  test("vec_unit is bit-identical to transform(x / sqrt(vec_dot(c,c)))") {
    val df = floatVecs(64, 64)
    val lambdaForm = {
      val c = col("embedding")
      val nrm = sqrt(vecDot(c, c))
      transform(c, x => x.cast("double") / nrm)
    }
    val rows = df.select(vecUnit(col("embedding")).as("a"),
      lambdaForm.as("b")).collect()
    rows.foreach { r =>
      val a = r.getSeq[Double](0)
      val b = r.getSeq[Double](1)
      assert(a.size == b.size)
      a.indices.foreach(i => assert(
        java.lang.Double.doubleToLongBits(a(i)) == java.lang.Double.doubleToLongBits(b(i)),
        s"element $i differs: ${a(i)} vs ${b(i)}"))
    }
  }

  test("vec_dots equals N independent vec_dot calls bit-for-bit") {
    val rnd = new java.util.Random(11)
    val planes = Array.fill(17, 64)(rnd.nextGaussian())
    val df = floatVecs(40, 64)
    val dots = vecDots(col("embedding"), planes.map(_.toSeq).toSeq)
    val singles = array(planes.map(p =>
      vecDot(col("embedding"), array(p.map(lit): _*))): _*)
    df.select(dots.as("a"), singles.as("b")).collect().foreach { r =>
      val a = r.getSeq[Double](0); val b = r.getSeq[Double](1)
      assert(a.size == b.size)
      a.indices.foreach(i => assert(
        java.lang.Double.doubleToLongBits(a(i)) == java.lang.Double.doubleToLongBits(b(i))))
    }
  }

  test("srp_buckets equals the per-plane sign/bit-packing SQL formulation") {
    val rnd = new java.util.Random(13)
    val tables = 6; val k = 4
    val hyper = Array.fill(tables, k, 64)(rnd.nextGaussian())
    val df = floatVecs(50, 64)
    val fused = srpBuckets(col("embedding"),
      (0 until tables).flatMap(t => (0 until k).map(i => hyper(t)(i).toSeq)), k)
    val sqlForm = array((0 until tables).map { t =>
      (0 until k).map { i =>
        (vecDot(col("embedding"), array(hyper(t)(i).map(lit): _*)) >= 0)
          .cast("int") * lit(1 << i)
      }.reduce(_ + _)
    }: _*)
    df.select(fused.as("a"), sqlForm.as("b")).collect().foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1))
    }
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted distinct arrays") {
    val rnd = new java.util.Random(17)
    import spark.implicits._
    val rows = (0 until 200).map { i =>
      val a = Seq.fill(rnd.nextInt(50) + 1)(rnd.nextInt(40).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(50) + 1)(rnd.nextInt(40).toLong).distinct.sorted
      (a, b)
    }
    val df = rows.toDF("a", "b")
    df.select(sortedIntersectCount(col("a"), col("b")).as("n"),
        size(array_intersect(col("a"), col("b"))).as("m"))
      .collect().foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("shingle_hashes equals array_sort(hashedShingles) on adversarial texts") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b c",              // exactly one shingle
      "a b",                // too short -> empty
      "",                   // empty -> empty
      "   ",                // only spaces: empty words still shingle
      "a  b   c d",         // doubled/tripled spaces -> empty words
      " leading and trailing ",
      "dup dup dup dup dup dup", // repeated shingles -> distinct collapses
      "\u00e9l\u00e8ve \u4e16\u754c caf\u00e9 na\u00efve \ud83d\ude00 emoji mix",
      "tab\tand\nnewline are not separators here",
      "x " * 2000 + "tail"  // long text
    )
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val rows = df.select(
        shingleHashes(col("text")).as("a"),
        array_sort(graft.spark.TextOps.hashedShingles(col("text"))).as("b"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"shingle sets differ: ${r.getSeq[Long](0)} vs ${r.getSeq[Long](1)}")
    }
  }
}
