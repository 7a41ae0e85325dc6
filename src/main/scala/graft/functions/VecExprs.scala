package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Dot product of two numeric arrays as a NATIVE codegen'd expression.
  *
  * The composable form — `aggregate(zip_with(a, b, _*_), 0d, _+_)` — runs
  * interpreted (higher-order functions never enter whole-stage codegen) and
  * allocates an intermediate array per ROW PAIR; on a 2M-pair near-dup join
  * that is the dominant cost (~60% of the bench total). This expression
  * generates a tight primitive loop instead: same result (same element
  * order, same double accumulation), ~100x less overhead.
  *
  * Accepts array<float> and array<double> children in any mix; always
  * accumulates in double, truncating to the shorter array like zip_with
  * would for equal-length inputs (unequal lengths are a caller bug either
  * way — zip_with pads with null and the interpreted form returns null).
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(et, _) => et
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => elemType(e) == FloatType || elemType(e) == DoubleType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  private def mayContainNull(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  }

  override def nullable: Boolean = true

  /** A null element makes the result null — matching the replaced
    * aggregate(zip_with(a, b, _*_), 0d, _+_) form, where the null product
    * nulls the running sum. Element null checks are emitted only when the
    * array type says containsNull (parquet float lists usually do). */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    val checkL = mayContainNull(left)
    val checkR = mayContainNull(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      if ((checkL && x.isNullAt(i)) || (checkR && y.isNullAt(i))) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val getL = if (elemType(left) == FloatType) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getR = if (elemType(right) == FloatType) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      val nullCheck =
        if (mayContainNull(left) || mayContainNull(right)) {
          val conds = Seq(
            if (mayContainNull(left)) Some(s"$a.isNullAt($i)") else None,
            if (mayContainNull(right)) Some(s"$b.isNullAt($i)") else None).flatten.mkString(" || ")
          s"if ($conds) { ${ev.isNull} = true; break; }"
        } else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  $s += $getL * $getR;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** L2-normalize a numeric array: `vec_unit(array<float|double>) ->
  * array<double>`, bit-identical to
  * `transform(c, x -> cast(x as double) / sqrt(vec_dot(c, c)))` — same
  * sequential double accumulation for the norm, same per-element double
  * division — but with the norm computed ONCE per row: the lambda form
  * embeds `sqrt(vec_dot(c, c))` in the element function, so the interpreted
  * higher-order evaluation recomputed the full dot product for EVERY
  * element (64x redundant work per row plus per-element closure overhead).
  * Null-element semantics match the lambda form: any null element nulls the
  * norm, which nulls every output element (length preserved). */
case class VecUnit(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "vec_unit"

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"vec_unit expects array<float|double>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val fl = isFloat
    var s = 0.0
    var i = 0
    var anyNull = false
    while (i < n && !anyNull) {
      if (arr.isNullAt(i)) anyNull = true
      else { val v = if (fl) arr.getFloat(i).toDouble else arr.getDouble(i); s += v * v }
      i += 1
    }
    if (anyNull) return new org.apache.spark.sql.catalyst.util.GenericArrayData(
      new Array[Any](n))
    val norm = math.sqrt(s)
    val out = new Array[Double](n)
    i = 0
    while (i < n) {
      out(i) = (if (fl) arr.getFloat(i).toDouble else arr.getDouble(i)) / norm
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): VecUnit =
    copy(child = newChild)
}

/** Intersection size of two SORTED DISTINCT long arrays as a native
  * codegen'd merge walk: `sorted_intersect_count(array<long>, array<long>)
  * -> int`. Equals `size(array_intersect(a, b))` for sorted distinct inputs
  * but allocation-free — array_intersect builds a hash set AND materializes
  * the intersection array per CALL, which dominated the candidate-verify
  * stage of the set-similarity joins (one call per candidate pair).
  * Null ELEMENTS are skipped (array_sort places them last, so the merge
  * walk simply terminates); the dedup callers' shingle arrays are
  * null-free by construction (xxhash64 of non-null concat). */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"

  private def okInput(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (okInput(left) && okInput(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count expects array<long> inputs, got ${left.dataType} / ${right.dataType}")

  private def mayContainNull(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (n1, n2) = (x.numElements(), y.numElements())
    val (cl, cr) = (mayContainNull(left), mayContainNull(right))
    var i = 0
    var j = 0
    var c = 0
    while (i < n1 && j < n2 && !(cl && x.isNullAt(i)) && !(cr && y.isNullAt(j))) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val n1 = ctx.freshName("n1")
      val n2 = ctx.freshName("n2")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val nullBreak = Seq(
        if (mayContainNull(left)) Some(s"$a.isNullAt($i)") else None,
        if (mayContainNull(right)) Some(s"$b.isNullAt($j)") else None
      ).flatten match {
        case Nil => ""
        case cs => s"if (${cs.mkString(" || ")}) break;"
      }
      s"""
         |int $n1 = $a.numElements();
         |int $n2 = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $n1 && $j < $n2) {
         |  $nullBreak
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else { $c++; $i++; $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** All dot products of one vector against a literal plane MATRIX in a
  * single pass: `vec_dots(array<float|double>, array<array<double>> lit) ->
  * array<double>`, element p = vec_dot(child, planes[p]) bit-identically
  * (same sequential double accumulation, same float->double casts, same
  * min-length truncation; any null child element nulls every dot, matching
  * N independent vec_dot calls).
  *
  * Why it exists: a projection with N separate `vec_dot(emb, lit-array)`
  * expressions measured ~7 µs PER DOT at N=96 (r06 — the
  * generated projection is too large to JIT and each dot re-walks the row)
  * versus ~60 ns for the fused loop here: the input vector is read once
  * into a primitive array and all planes stream over it. */
case class VecDots(child: Expression, planesLit: Expression)
  extends BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def left: Expression = child
  override def right: Expression = planesLit
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "vec_dots"

  override def checkInputDataTypes(): TypeCheckResult = (child.dataType, planesLit.dataType) match {
    case (ArrayType(FloatType, _) | ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _))
      if planesLit.foldable => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"vec_dots expects (array<float|double>, foldable array<array<double>>), got " +
        s"${child.dataType} / ${planesLit.dataType}")
  }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** The plane matrix, extracted from the foldable literal once per task. */
  @transient private lazy val planes: Array[Array[Double]] = {
    val ad = planesLit.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements()) { p =>
      ad.getArray(p).toDoubleArray()
    }
  }

  override def nullSafeEval(input: Any, unused: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val fl = isFloat
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          new Array[Any](planes.length))
      v(i) = if (fl) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    val out = new Array[Double](planes.length)
    var p = 0
    while (p < planes.length) {
      val pl = planes(p)
      val m = math.min(n, pl.length)
      var s = 0.0
      var j = 0
      while (j < m) { s += v(j) * pl(j); j += 1 }
      out(p) = s
      p += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VecDots = copy(child = newLeft, planesLit = newRight)
}

/** Sign-random-projection bucket values for every hash table in one pass:
  * `srp_buckets(array<float|double>, array<array<double>> lit, k lit) ->
  * array<int>` of `planes.length / k` bucket values, where bucket t =
  * sum over i < k of (dot(child, planes[t*k+i]) >= 0 ? 1 << i : 0).
  * Bit-identical to the SQL formulation
  * `sum_i cast(vec_dot(emb, plane) >= 0 as int) * (1 << i)` including
  * Spark's NaN ordering (NaN >= 0 is TRUE) and null semantics (any null
  * child element nulls every dot, hence every bucket). Exists for the same
  * reason as vec_dots: 96 separate dot expressions in one projection ran
  * two orders of magnitude slower than this fused loop (r06). */
case class SrpBuckets(child: Expression, planesLit: Expression, kLit: Expression)
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def first: Expression = child
  override def second: Expression = planesLit
  override def third: Expression = kLit
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def prettyName: String = "srp_buckets"

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, planesLit.dataType, kLit.dataType) match {
      case (ArrayType(FloatType, _) | ArrayType(DoubleType, _),
          ArrayType(ArrayType(DoubleType, _), _), IntegerType)
        if planesLit.foldable && kLit.foldable => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"srp_buckets expects (array<float|double>, foldable array<array<double>>, int lit)")
    }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  @transient private lazy val planes: Array[Array[Double]] = {
    val ad = planesLit.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(p => ad.getArray(p).toDoubleArray())
  }
  @transient private lazy val k: Int = kLit.eval(null).asInstanceOf[Int]

  override def nullSafeEval(input: Any, u1: Any, u2: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val fl = isFloat
    val tables = planes.length / k
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          new Array[Any](tables))
      v(i) = if (fl) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    val out = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      var b = 0
      var bi = 0
      while (bi < k) {
        val pl = planes(t * k + bi)
        val m = math.min(n, pl.length)
        var s = 0.0
        var j = 0
        while (j < m) { s += v(j) * pl(j); j += 1 }
        // SQL ordering: NaN compares larger than any value, so NaN >= 0
        if (java.lang.Double.isNaN(s) || s >= 0.0) b |= 1 << bi
        bi += 1
      }
      out(t) = b
      t += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): SrpBuckets = copy(child = f, planesLit = s, kLit = t)
}

/** 128-permutation MinHash signature of an int64 shingle set, computed in
  * ONE map-side pass: `minhash128(array<long>) -> array<long>`.
  *
  * Equivalent to (and bit-identical with) the explode + 128 ×
  * `min(xxhash64(s, lit(i)))` + groupBy(doc_id) formulation — Spark's
  * multi-arg xxhash64 chains `hashLong(i, hashLong(s, 42))`, which is what
  * this computes — but without materializing |shingles| rows × 128 hash
  * columns through a shuffle: the signature stage becomes pure scan-side
  * work, which is the shape that survives a 100 TB corpus (the only
  * remaining shuffles in MinHash dedup are the band-bucket join and the
  * candidate verify join).
  */
case class MinHash128(child: org.apache.spark.sql.catalyst.expressions.Expression,
    perms: Int = 128)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash128"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"minhash128 expects array<long>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(perms)(Long.MaxValue)
    var j = 0
    while (j < n) {
      // xxhash64(s, lit(i)) chains seed 42 -> hashLong(s) -> hashInt(i)
      val inner = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(arr.getLong(j), 42L)
      var i = 0
      while (i < perms) {
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(i, inner)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    ArrayData.toArrayData(mins)
  }

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): MinHash128 =
    copy(child = newChild)
}

/** Sorted DISTINCT xxhash64 values of all 3-word shingles of a
  * space-separated text, in ONE zero-copy pass:
  * `shingle_hashes(string) -> array<long>` (sorted ascending).
  *
  * Bit-identical to the SQL formulation used through r06
  * (`array_sort(array_distinct(slice(zip_with(ws, slice(ws,2,..), concat)
  * ... xxhash64 ...)))` over `split(text, " ")`):
  *  - `split` on the single-space regex means consecutive words are
  *    separated by EXACTLY one 0x20 byte, so the shingle string
  *    `w_i ++ " " ++ w_i+1 ++ " " ++ w_i+2` is a contiguous BYTE SLICE of
  *    the original UTF8String — no concat, no substring copies; 0x20 never
  *    occurs inside a multi-byte UTF-8 sequence, so byte-level word
  *    boundaries equal the regex's character-level ones (incl. empty words
  *    from doubled spaces and the trailing-empty words limit=-1 keeps);
  *  - the hash is Spark's own XXH64 over the same bytes with the
  *    xxhash64 expression's default seed 42;
  *  - sort + adjacent-dedup of the long hashes = array_sort ∘
  *    array_distinct (both operate on the hash VALUES).
  * The interpreted zip_with tree this replaces evaluated three splits and
  * a lambda per element and allocated two intermediate string arrays per
  * row — the dominant cost of the dedup family's corpus-build stage
  * (measured r06). Equivalence is pinned in VecExprsEquivalenceSpec.
  */
case class ShingleHashes(child: org.apache.spark.sql.catalyst.expressions.Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"shingle_hashes expects string, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    import org.apache.spark.unsafe.Platform
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val nb = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var m = 0 // space count
    var i = 0
    while (i < nb) {
      if (Platform.getByte(base, off + i) == 0x20) m += 1
      i += 1
    }
    val nWords = m + 1
    val nTri = if (nWords >= 3) nWords - 2 else 0
    if (nTri == 0) return ArrayData.toArrayData(Array.emptyLongArray)
    val sp = new Array[Int](m)
    i = 0
    var j = 0
    while (i < nb) {
      if (Platform.getByte(base, off + i) == 0x20) { sp(j) = i; j += 1 }
      i += 1
    }
    val out = new Array[Long](nTri)
    var t = 0
    while (t < nTri) {
      val start = if (t == 0) 0 else sp(t - 1) + 1
      val end = if (t + 2 == nWords - 1) nb else sp(t + 2)
      out(t) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, off + start, end - start, 42L)
      t += 1
    }
    java.util.Arrays.sort(out)
    var w = 1
    var r = 1
    while (r < nTri) {
      if (out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    ArrayData.toArrayData(if (w == nTri) out else java.util.Arrays.copyOf(out, w))
  }

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): ShingleHashes =
    copy(child = newChild)
}

/** 64-bit Charikar simhash: `simhash64(string) -> long`. Opaque (blake2b is
  * not codegen'd), yet better than a Scala UDF: null handling and type
  * plumbing stay in Catalyst and the expression composes in SQL. */
case class Simhash64(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    graft.hash.SimHash.createHash(input.asInstanceOf[UTF8String].toString)
  override protected def withNewChildInternal(newChild: Expression): Simhash64 =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}
