package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, IntegerType, LongType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

/** Intersection size of two SORTED, DISTINCT long arrays via a linear
  * merge scan — a native, codegen'd replacement for
  * `size(array_intersect(a, b))` in the near-dup verification hot path
  * ([[graft.dedup.Dedup]]): no per-call hash set, no allocation, and the
  * call lives inside whole-stage codegen.
  *
  * Semantics match `size(array_intersect(a, b))` exactly when both inputs
  * are sorted and duplicate-free (which the callers guarantee via
  * `array_sort(array_distinct(...))`). REQUIRED sort order is
  * `array_sort`'s (nulls LAST) — NOT `sort_array(asc)`'s, which places
  * nulls first. Null elements in tail position are supported: the merge
  * treats null as +infinity with null==null counting as a match — exactly
  * array_intersect's null semantics. A null-LEADING array (sort_array
  * order) would silently produce a wrong near-empty intersection, so the
  * merge rejects it with a descriptive error instead (the function is
  * registered session-wide as public SQL; callers outside this repo may
  * hold either order). DuckDB-oracle parity is unaffected. The merge is
  * [[ArrayOps.merge]], shared with [[SortedIntersect]] and
  * [[SortedIntersectAtLeast]].
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    ArrayOps.checkLongArrays("sorted_intersect_size", left, right)
  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayOps.intersectSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${ArrayOps.Static}.intersectSize($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

/** Intersection of two SORTED, DISTINCT long arrays via the same linear
  * merge scan as [[SortedIntersectSize]], returning the matching
  * ELEMENTS (sorted, distinct — the order both inputs share). The
  * triangle-counting hot loop needs the sinks themselves, not just the
  * count; Spark's generic `array_intersect` builds a hash set per call,
  * while this merge allocates only the result array and runs inside
  * whole-stage codegen. Null elements must sort to the tail
  * (array_sort order — NOT sort_array, which leads with nulls; a
  * null-leading input is rejected with a descriptive error, see
  * [[SortedIntersectSize]]) and match only each other, exactly
  * `array_intersect`'s null semantics. */
case class SortedIntersect(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    ArrayOps.checkLongArrays("sorted_intersect", left, right)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayOps.intersect(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      new Array[Array[Long]](1))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val buf = ctx.addMutableState("long[][]", "buf", v => s"$v = new long[1][];")
    defineCodeGen(ctx, ev, (a, b) => s"${ArrayOps.Static}.intersect($a, $b, $buf)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersect =
    copy(left = newLeft, right = newRight)
}

/** Threshold-aware variant of [[SortedIntersectSize]]: TRUE iff the
  * intersection size of two sorted distinct long arrays reaches
  * `threshold`, with the merge ABORTING as soon as the remaining
  * elements cannot reach it (`matched + min(remaining_a, remaining_b)
  * < threshold`). For a count filter that rejects most candidates
  * (the Gravano q-gram filter keeps ~10² of ~10⁶ band pairs), the scan
  * typically stops within ~2× the mismatch budget of the divergence
  * point instead of walking both arrays to the end — the classic
  * adaptive-prefix trick of similarity joins, as a codegen'd predicate.
  *
  * Exactly equivalent to `sorted_intersect_size(a, b) >= threshold`
  * (same merge, same null handling — array_sort order required,
  * null-leading inputs rejected); survivors needing the exact count
  * recompute it — they are rare by construction. */
case class SortedIntersectAtLeast(first: Expression, second: Expression,
    third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = third.dataType match {
    case LongType | IntegerType
        if ArrayOps.checkLongArrays("sorted_intersect_atleast", first, second).isSuccess =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_atleast expects (array<bigint>, array<bigint>, int/bigint), " +
        s"got (${first.dataType.simpleString}, ${second.dataType.simpleString}, ${t.simpleString})")
  }
  override def dataType: DataType = BooleanType

  override def nullSafeEval(a: Any, b: Any, t: Any): Any =
    ArrayOps.atLeast(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      t.asInstanceOf[Number].longValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, t) => s"${ArrayOps.Static}.atLeast($a, $b, (long) $t)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): SortedIntersectAtLeast =
    copy(first = f, second = s, third = t)
}

/** PQ asymmetric-distance lookup sum: `Σ_s lut[s][codes[s]]` over an
  * `array<int>` of codebook assignments and a per-query
  * `array<array<double>>` lookup table — the ADC inner loop of
  * [[graft.sim.Similarity.knnPq]], evaluated per (query × coded-corpus)
  * pair. A native expression because the HOF formulation
  * (`aggregate(zip_with(codes, lut, (cd, l) -> element_at(l, cd + 1)), …)`)
  * is interpreted per element: at 8 subspaces × queries × corpus it
  * allocates a zipped array and evaluates 16 lambdas per pair.
  * Null semantics match the HOF form exactly: length mismatch (zip_with
  * null-padding) or any null element/lookup propagates null. An
  * out-of-range code throws, like element_at. */
case class LutSum(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"lut_sum expects (array<int>, array<array<double>>), " +
          s"got (${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val out = new Array[Double](1)
    if (ArrayOps.lutSum(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], out)) out(0)
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => ArrayOps.slotCall(ctx, ev, "double", "lutSum", a, b))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LutSum =
    copy(left = newLeft, right = newRight)
}

/** Nearest-centroid assignment by money-rounded cosine — the argmax at
  * the heart of the kmeans/IVF/PQ family, as ONE codegen'd loop.
  * Replaces the HOF form
  * `array_max(transform(cents, s -> struct(money(dot/sqrt(n2*cn2)), -cid)))`
  * whose per-centroid lambda Catalyst evaluates INTERPRETED — at
  * k centroids x corpus rows x Lloyd iterations that lambda dominates
  * the fit/encode stages. Bit-equivalent semantics, pinned by spec:
  * the same multiply/divide/floor sequence as `Fns.money(dot_double/sqrt)`,
  * Spark's double ordering (NaN greatest, -0.0 == 0.0), ties and
  * all-null-cosine degenerate cases resolve to the smallest cid; empty
  * centroid arrays yield null. A null ARRAY SLOT (a null struct element,
  * which the HOF form's array_max would rank below every real struct) is
  * SKIPPED — it can never win, and an array of only null slots yields
  * null like the empty array — so public-SQL callers who don't honor the
  * repo's non-null convention get graceful null-loses behavior, not a
  * garbage struct read (`cents` = array<struct<cid:int, c:array<double>,
  * cn2:double>>). */
case class AssignCid(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType, ArrayType(StructType(fields), _))
        if fields.length == 3 && fields(0).dataType == IntegerType &&
           (fields(1).dataType match {
             case ArrayType(DoubleType, _) => true; case _ => false }) &&
           fields(2).dataType == DoubleType =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"assign_cid expects (array<double>, double, array<struct<cid:int,c:array<double>,cn2:double>>), " +
          s"got (${a.simpleString}, ${b.simpleString}, ${c.simpleString})")
    }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val out = new Array[Int](1)
    if (ArrayOps.assignCid(a.asInstanceOf[ArrayData], b.asInstanceOf[Double],
        c.asInstanceOf[ArrayData], out)) out(0)
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => ArrayOps.slotCall(ctx, ev, "int", "assignCid", a, b, c))

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): AssignCid =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** 64-bit SimHash folded in ONE pass over two parallel arrays of 32-bit
  * token-hash halves (`lo` = bits 0-31, `hi` = bits 32-63): per-bit ±1
  * votes, output bit set when the vote is positive.
  *
  * A native expression rather than the HOF formulation
  * (`aggregate(transform(sequence(0,63), …), aggregate(th, …))`) because
  * Catalyst evaluates higher-order lambdas INTERPRETED, per element — at
  * 64 bits × tokens × docs that dominated the whole near-dup pipeline
  * (dedup_simhash_pairs at sf0.1: 16.5 s with the HOF fingerprint,
  * 2.8 s steady-state with this loop). Semantics are bit-identical to the HOF form
  * and the DuckDB oracle replay: pure integer ops, no ordering
  * sensitivity. Null ELEMENTS (never produced by the tokenizer) are
  * skipped; extra elements beyond the shorter array are ignored. */
case class Simhash64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    ArrayOps.checkLongArrays("simhash64", left, right)
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayOps.simhash64(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${ArrayOps.Static}.simhash64($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Simhash64 =
    copy(left = newLeft, right = newRight)
}

/** 16-permutation MinHash signature in ONE pass over the token-hash
  * array — a native replacement for the
  * `transform(sequence(0, 15), i -> array_min(transform(th, …)))` HOF
  * nest, which Catalyst evaluates interpreted at 16 × |tokens| lambda
  * calls per row (the [[Simhash64]] finding again). One compiled loop
  * updates all 16 minima per element instead.
  *
  * Constants are pinned to the repo-wide MinHash family
  * (`graft.dedup.Dedup.K = 16`, `P = 1000000007`): permutation `i` maps
  * `h → ((2i+1)·h + 7i+3) mod P` — all-long arithmetic, no overflow at
  * 31 × P < 2⁶³, bit-identical to the HOF form and the DuckDB oracle.
  * Null elements are skipped (array_min semantics); an empty or
  * all-null input yields 16 NULL positions exactly as `array_min` of an
  * empty transform does — downstream band keys go null and drop from
  * the candidate equi-join on both engines alike.
  *
  * Codegen'd like its siblings ([[Simhash64]], [[DotDouble]]) so the
  * signature stage keeps one unbroken whole-stage span. */
case class MinhashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<bigint>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullSafeEval(a: Any): Any =
    ArrayOps.minhashSig(a.asInstanceOf[ArrayData], new Array[Long](ArrayOps.K))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mins = ctx.addMutableState("long[]", "mins", v => s"$v = new long[${ArrayOps.K}];")
    defineCodeGen(ctx, ev, a => s"${ArrayOps.Static}.minhashSig($a, $mins)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

/** Dot product of two equal-length double arrays accumulated in INDEX
  * ORDER — a native, codegen'd replacement for
  * `aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, x) -> acc + x)`
  * in the embedding hot paths ([[graft.sim.Similarity]]): Catalyst
  * evaluates higher-order lambdas INTERPRETED, per element (see
  * [[Simhash64]]), so the HOF form pays object/closure overhead on
  * every one of pairs × dims multiply-adds.
  *
  * Semantics match the HOF form exactly: the loop folds left-to-right
  * (the same sequential order `aggregate` and DuckDB's `list_reduce`
  * use, so the IEEE result is bit-identical across all three), a null
  * ELEMENT on either side poisons the result to null (zip_with's
  * null-product then null-sum), and unequal lengths yield null (the
  * longer tail zips against null). */
case class DotDouble(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_double expects (array<double>, array<double>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val out = new Array[Double](1)
    if (ArrayOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], out)) out(0)
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => ArrayOps.slotCall(ctx, ev, "double", "dot", a, b))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotDouble =
    copy(left = newLeft, right = newRight)
}

/** The kernels of the native expressions above: each expression's
  * interpreted `nullSafeEval` and its whole-stage generated code call the
  * same static method here (a standalone object, so each public method
  * has the static forwarder the generated class calls; Scala emits none
  * for qualified-private members). Apart from the result of an
  * array-valued function and [[simhash64]]'s counters, the kernels
  * allocate nothing per row: scratch buffers and the one-slot arrays
  * that carry a nullable primitive result come from the caller —
  * generated code holds them as mutable state, the interpreted path
  * allocates them per call. A kernel with a nullable result returns
  * whether the value is defined and writes it to `out(0)`, so a SQL null
  * costs no boxed value. */
object ArrayOps {

  /** Fully qualified name the generated code calls the kernels by. */
  private[functions] val Static = "graft.functions.ArrayOps"

  /** MinHash permutations and modulus, pinned to [[graft.dedup.Dedup]]. */
  private[functions] final val K = 16
  private final val P = 1000000007L

  /** Type check of the `(array<bigint>, array<bigint>)` functions. */
  private[functions] def checkLongArrays(fn: String, left: Expression,
      right: Expression): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$fn expects (array<bigint>, array<bigint>), got (${l.simpleString}, ${r.simpleString})")
  }

  /** Generated code for a kernel with a nullable primitive result: the
    * one-slot `out` array is mutable state of the generated class. */
  private[functions] def slotCall(ctx: CodegenContext, ev: ExprCode, javaType: String,
      kernel: String, args: String*): String = {
    val out = ctx.addMutableState(s"$javaType[]", "out", v => s"$v = new $javaType[1];")
    s"""${ev.isNull} = !$Static.$kernel(${(args :+ out).mkString(", ")});
       |${ev.value} = $out[0];""".stripMargin
  }

  /** Error raised by the sorted-merge expressions when a null-LEADING
    * array is detected: their merge treats a null element as +infinity,
    * i.e. inputs must be in `array_sort` order (nulls LAST).
    * `sort_array(asc)` — which leads with nulls — would make the merge
    * silently advance the other side past every value and return a
    * wrong, near-empty intersection. */
  def nullLeadingError(fn: String): Nothing =
    throw new IllegalArgumentException(
      s"$fn requires array_sort order (nulls LAST); got a null-leading " +
        "array — sort_array(asc) places nulls first and is not supported")

  /** The sorted merge of two nulls-last long arrays: counts the matches
    * (null == null included) and, when `out` is given, stores each value
    * match at its position in the match order. The scan stops as soon as
    * `needed` matches are out of reach; `needed = 0` walks to the end.
    * The null-order checks live INSIDE the null branches, so the
    * all-non-null hot path pays nothing for them (a per-call entry guard
    * was measured at +20% on `dedup_minhash`): nulls-last order means a
    * null head implies a null tail, anything else is sort_array order. */
  private[functions] def merge(fn: String, x: ArrayData, y: ArrayData, needed: Long,
      out: Array[Long]): Int = {
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var n = 0
    while (i < nx && j < ny && n + math.min(nx - i, ny - j) >= needed) {
      val xNull = x.isNullAt(i); val yNull = y.isNullAt(j)
      if (xNull && i == 0 && !x.isNullAt(nx - 1)) nullLeadingError(fn)
      if (yNull && j == 0 && !y.isNullAt(ny - 1)) nullLeadingError(fn)
      if (xNull && yNull) { n += 1; i += 1; j += 1 }
      else if (xNull) j += 1 // null sorts after every value
      else if (yNull) i += 1
      else {
        val xi = x.getLong(i); val yj = y.getLong(j)
        if (xi == yj) {
          if (out != null) out(n) = xi
          n += 1; i += 1; j += 1
        }
        else if (xi < yj) i += 1
        else j += 1
      }
    }
    n
  }

  def intersectSize(x: ArrayData, y: ArrayData): Int =
    merge("sorted_intersect_size", x, y, 0L, null)

  def atLeast(x: ArrayData, y: ArrayData, needed: Long): Boolean =
    merge("sorted_intersect_atleast", x, y, needed, null) >= needed

  /** [[SortedIntersect]]: the matches, gathered in `buf(0)`, a scratch
    * grown to the shorter input. In nulls-last inputs every null match
    * follows every value match, and their number is the count of
    * trailing null pairs; the result is a primitive array unless a null
    * pair matched. */
  def intersect(x: ArrayData, y: ArrayData, buf: Array[Array[Long]]): ArrayData = {
    val nx = x.numElements(); val ny = y.numElements()
    val m = math.min(nx, ny)
    if (buf(0) == null || buf(0).length < m) buf(0) = new Array[Long](m)
    val out = buf(0)
    val n = merge("sorted_intersect", x, y, 0L, out)
    var nulls = 0
    while (nulls < n && x.isNullAt(nx - 1 - nulls) && y.isNullAt(ny - 1 - nulls)) nulls += 1
    if (nulls == 0) UnsafeArrayData.fromPrimitiveArray(out, Platform.LONG_ARRAY_OFFSET, n, 8)
    else new GenericArrayData(Array.tabulate[Any](n)(k => if (k < n - nulls) out(k) else null))
  }

  /** [[LutSum]]: `Σ_s lut[s][codes[s]]`, undefined on a length mismatch
    * or any null. */
  def lutSum(codes: ArrayData, lut: ArrayData, out: Array[Double]): Boolean = {
    val n = codes.numElements()
    if (n != lut.numElements()) return false
    var acc = 0.0
    var s = 0
    while (s < n) {
      if (codes.isNullAt(s) || lut.isNullAt(s)) return false
      val row = lut.getArray(s)
      val cd = codes.getInt(s)
      if (cd < 0 || cd >= row.numElements())
        throw new ArrayIndexOutOfBoundsException(cd)
      if (row.isNullAt(cd)) return false
      acc += row.getDouble(cd)
      s += 1
    }
    out(0) = acc
    true
  }

  /** [[DotDouble]]: the index-order fold, undefined on a length mismatch
    * or any null element. */
  def dot(x: ArrayData, y: ArrayData, out: Array[Double]): Boolean = {
    val n = x.numElements()
    if (n != y.numElements()) return false
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return false
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    out(0) = acc
    true
  }

  /** [[AssignCid]]: the argmax cid, undefined when no centroid slot is
    * non-null. */
  def assignCid(v: ArrayData, n2: Double, cents: ArrayData, out: Array[Int]): Boolean = {
    val k = cents.numElements()
    val dim = v.numElements()
    var bestValid = false; var bestCos = 0.0; var bestCid = 0; var haveBest = false
    var s = 0
    while (s < k) {
      if (!cents.isNullAt(s)) {
        val row = cents.getStruct(s, 3)
        val cid = row.getInt(0)
        // cosine (undefined when the dot is) with the exact
        // money(dot/sqrt(n2*cn2)) arithmetic
        var cosValid = !row.isNullAt(1) && !row.isNullAt(2)
        var cos = 0.0
        if (cosValid) {
          val carr = row.getArray(1)
          if (carr.numElements() != dim) cosValid = false
          else {
            var dot = 0.0; var i = 0
            while (cosValid && i < dim) {
              if (v.isNullAt(i) || carr.isNullAt(i)) cosValid = false
              else { dot += v.getDouble(i) * carr.getDouble(i); i += 1 }
            }
            if (cosValid) {
              val x = dot / math.sqrt(n2 * row.getDouble(2))
              cos = math.floor(x * 10000.0 + 0.5) / 10000.0
            }
          }
        }
        val better =
          if (!haveBest) true
          else if (cosValid != bestValid) cosValid
          else if (!cosValid) cid < bestCid
          else {
            val cmp = if (cos == bestCos) 0 else java.lang.Double.compare(cos, bestCos)
            cmp > 0 || (cmp == 0 && cid < bestCid)
          }
        if (better) { haveBest = true; bestValid = cosValid; bestCos = cos; bestCid = cid }
      }
      s += 1
    }
    out(0) = bestCid
    haveBest
  }

  /** [[Simhash64]]: the per-bit vote. The 64 counters are a local array:
    * a caller-held scratch measured 15-25% slower per row. */
  def simhash64(lo: ArrayData, hi: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = math.min(lo.numElements(), hi.numElements())
    var i = 0
    while (i < n) {
      if (!lo.isNullAt(i) && !hi.isNullAt(i)) {
        val l = lo.getLong(i); val h = hi.getLong(i)
        var j = 0
        while (j < 32) {
          votes(j) += (if (((l >> j) & 1L) == 1L) 1 else -1)
          votes(32 + j) += (if (((h >> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** [[MinhashSig]]: the K minima over `mins`, a K-slot scratch; K nulls
    * when no element is non-null. */
  def minhashSig(th: ArrayData, mins: Array[Long]): ArrayData = {
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = th.numElements()
    var any = false
    var i = 0
    while (i < n) {
      if (!th.isNullAt(i)) {
        any = true
        val h = th.getLong(i)
        var k = 0
        while (k < K) {
          val v = ((2L * k + 1L) * h + 7L * k + 3L) % P
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      i += 1
    }
    if (any) UnsafeArrayData.fromPrimitiveArray(mins)
    else new GenericArrayData(new Array[Any](K))
  }
}
