package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, typedlit}
import org.apache.spark.sql.graftshim.ExprColumn.{column, expression => e}

/** The native expressions as typed columns. Operators call these, never a
  * registered name, so they run in any session and leave its function
  * registry alone; `SqlSurface.register` gives `spark.sql` users the names. */
package object functions {
  /** Pairwise dot: the interpreted `aggregate(zip_with(...))` form was ~60%
    * of the bench total on the 2M-pair near-dup join. Same element order and
    * double accumulation, so results are bit-identical. */
  def vecDot(a: Column, b: Column): Column = column(VecDot(e(a), e(b)))
  /** L2-normalize once per row, so every pairwise stage after it is a dot
    * product only: norms would otherwise be recomputed per pair. */
  def vecUnit(v: Column): Column = column(VecUnit(e(v)))
  def vecDots(v: Column, planes: Seq[Seq[Double]]): Column =
    column(VecDots(e(v), e(typedlit(planes))))
  def srpBuckets(v: Column, planes: Seq[Seq[Double]], k: Int): Column =
    column(SrpBuckets(e(v), e(typedlit(planes)), e(lit(k))))
  def minhash128(shingles: Column): Column = column(MinHash128(e(shingles)))
  def shingleHashes(text: Column): Column = column(ShingleHashes(e(text)))
  def sortedIntersectCount(a: Column, b: Column): Column =
    column(SortedIntersectCount(e(a), e(b)))
  def simhash64(text: Column): Column = column(Simhash64(e(text)))
}
