package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

/** Intersection size of two SORTED, DISTINCT long arrays via a linear
  * merge scan — a native, codegen'd replacement for
  * `size(array_intersect(a, b))` in the near-dup verification hot path
  * ([[graft.dedup.Dedup]]): no per-call hash set, no allocation, and the
  * loop lives inside whole-stage codegen.
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
  * hold either order). DuckDB-oracle parity is unaffected.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_size expects (array<bigint>, array<bigint>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var n = 0
    val nx = x.numElements(); val ny = y.numElements()
    while (i < nx && j < ny) {
      val xNull = x.isNullAt(i); val yNull = y.isNullAt(j)
      // null-order checks live INSIDE the null branches: the all-non-null
      // hot path pays zero extra instructions (the per-call entry guard
      // was measured at +20% on dedup_minhash). Nulls-last order means a
      // null head implies a null tail; anything else is sort_array order.
      if (xNull && i == 0 && !x.isNullAt(nx - 1))
        ArrayOps.nullLeadingError("sorted_intersect_size")
      if (yNull && j == 0 && !y.isNullAt(ny - 1))
        ArrayOps.nullLeadingError("sorted_intersect_size")
      if (xNull && yNull) { n += 1; i += 1; j += 1 }
      else if (xNull) j += 1 // null sorts after every value
      else if (yNull) i += 1
      else {
        val xi = x.getLong(i); val yj = y.getLong(j)
        if (xi == yj) { n += 1; i += 1; j += 1 }
        else if (xi < yj) i += 1
        else j += 1
      }
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val xi = ctx.freshName("xi"); val yj = ctx.freshName("yj")
      val xNull = ctx.freshName("xNull"); val yNull = ctx.freshName("yNull")
      s"""
         |int $i = 0, $j = 0, $n = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  boolean $xNull = $a.isNullAt($i);
         |  boolean $yNull = $b.isNullAt($j);
         |  if ($xNull && $i == 0 && !$a.isNullAt($a.numElements() - 1))
         |    graft.functions.ArrayOps.nullLeadingError("sorted_intersect_size");
         |  if ($yNull && $j == 0 && !$b.isNullAt($b.numElements() - 1))
         |    graft.functions.ArrayOps.nullLeadingError("sorted_intersect_size");
         |  if ($xNull && $yNull) { $n++; $i++; $j++; }
         |  else if ($xNull) { $j++; }
         |  else if ($yNull) { $i++; }
         |  else {
         |    long $xi = $a.getLong($i);
         |    long $yj = $b.getLong($j);
         |    if ($xi == $yj) { $n++; $i++; $j++; }
         |    else if ($xi < $yj) { $i++; }
         |    else { $j++; }
         |  }
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

/** Intersection of two SORTED, DISTINCT long arrays via the same linear
  * merge scan as [[SortedIntersectSize]], returning the matching
  * ELEMENTS (sorted, distinct — the order both inputs share). The
  * triangle-counting hot loop needs the sinks themselves, not just the
  * count; Spark's generic `array_intersect` builds a hash set per call,
  * while this merge is allocation-free until the single result buffer
  * and lives inside whole-stage codegen. Null elements must sort to the
  * tail (array_sort order — NOT sort_array, which leads with nulls; a
  * null-leading input is rejected with a descriptive error, see
  * [[SortedIntersectSize]]) and match only each other, exactly
  * `array_intersect`'s null semantics. */
case class SortedIntersect(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect expects (array<bigint>, array<bigint>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    val buf = new Array[Any](math.min(nx, ny))
    var i = 0; var j = 0; var n = 0
    while (i < nx && j < ny) {
      val xNull = x.isNullAt(i); val yNull = y.isNullAt(j)
      if (xNull && i == 0 && !x.isNullAt(nx - 1))
        ArrayOps.nullLeadingError("sorted_intersect")
      if (yNull && j == 0 && !y.isNullAt(ny - 1))
        ArrayOps.nullLeadingError("sorted_intersect")
      if (xNull && yNull) { buf(n) = null; n += 1; i += 1; j += 1 }
      else if (xNull) j += 1 // null sorts after every value
      else if (yNull) i += 1
      else {
        val xi = x.getLong(i); val yj = y.getLong(j)
        if (xi == yj) { buf(n) = xi; n += 1; i += 1; j += 1 }
        else if (xi < yj) i += 1
        else j += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(buf.asInstanceOf[Array[AnyRef]], n))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val buf = ctx.freshName("buf")
      val xi = ctx.freshName("xi"); val yj = ctx.freshName("yj")
      val xNull = ctx.freshName("xNull"); val yNull = ctx.freshName("yNull")
      s"""
         |int $i = 0, $j = 0, $n = 0;
         |Object[] $buf = new Object[Math.min($a.numElements(), $b.numElements())];
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  boolean $xNull = $a.isNullAt($i);
         |  boolean $yNull = $b.isNullAt($j);
         |  if ($xNull && $i == 0 && !$a.isNullAt($a.numElements() - 1))
         |    graft.functions.ArrayOps.nullLeadingError("sorted_intersect");
         |  if ($yNull && $j == 0 && !$b.isNullAt($b.numElements() - 1))
         |    graft.functions.ArrayOps.nullLeadingError("sorted_intersect");
         |  if ($xNull && $yNull) { $buf[$n++] = null; $i++; $j++; }
         |  else if ($xNull) { $j++; }
         |  else if ($yNull) { $i++; }
         |  else {
         |    long $xi = $a.getLong($i);
         |    long $yj = $b.getLong($j);
         |    if ($xi == $yj) { $buf[$n++] = $xi; $i++; $j++; }
         |    else if ($xi < $yj) { $i++; }
         |    else { $j++; }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  java.util.Arrays.copyOf($buf, $n));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersect =
    copy(left = newLeft, right = newRight)
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
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val lut = b.asInstanceOf[ArrayData]
    val n = codes.numElements()
    if (n != lut.numElements()) return null
    var acc = 0.0
    var s = 0
    while (s < n) {
      if (codes.isNullAt(s) || lut.isNullAt(s)) return null
      val row = lut.getArray(s)
      val cd = codes.getInt(s)
      if (cd < 0 || cd >= row.numElements())
        throw new ArrayIndexOutOfBoundsException(cd)
      if (row.isNullAt(cd)) return null
      acc += row.getDouble(cd)
      s += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val s = ctx.freshName("s"); val acc = ctx.freshName("acc")
      val row = ctx.freshName("row"); val cd = ctx.freshName("cd")
      val n = ctx.freshName("n")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  for (int $s = 0; $s < $n; $s++) {
         |    if ($a.isNullAt($s) || $b.isNullAt($s)) { ${ev.isNull} = true; break; }
         |    org.apache.spark.sql.catalyst.util.ArrayData $row = $b.getArray($s);
         |    int $cd = $a.getInt($s);
         |    if ($cd < 0 || $cd >= $row.numElements())
         |      throw new ArrayIndexOutOfBoundsException($cd);
         |    if ($row.isNullAt($cd)) { ${ev.isNull} = true; break; }
         |    $acc += $row.getDouble($cd);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

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
      case (ArrayType(DoubleType, _), DoubleType,
            ArrayType(org.apache.spark.sql.types.StructType(fields), _))
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
    val v = a.asInstanceOf[ArrayData]
    val n2 = b.asInstanceOf[Double]
    val cents = c.asInstanceOf[ArrayData]
    val k = cents.numElements()
    if (k == 0) return null
    val dim = v.numElements()
    var bestValid = false; var bestCos = 0.0; var bestCid = 0; var haveBest = false
    var s = 0
    while (s < k) {
      if (cents.isNullAt(s)) { s += 1 } else {
      val row = cents.getStruct(s, 3)
      val cid = row.getInt(0)
      // cosine (null when the dot is undefined) with the exact
      // money(dot/sqrt(n2*cn2)) arithmetic
      var cosValid = true; var cos = 0.0
      if (row.isNullAt(1) || row.isNullAt(2)) cosValid = false
      else {
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
        else if (cosValid && !bestValid) true
        else if (!cosValid && bestValid) false
        else if (!cosValid && !bestValid) cid < bestCid
        else {
          val cmp = if (cos == bestCos) 0 else java.lang.Double.compare(cos, bestCos)
          cmp > 0 || (cmp == 0 && cid < bestCid)
        }
      if (better) { haveBest = true; bestValid = cosValid; bestCos = cos; bestCid = cid }
      s += 1
      }
    }
    if (haveBest) bestCid else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val k = ctx.freshName("k"); val dim = ctx.freshName("dim")
      val s = ctx.freshName("s"); val i = ctx.freshName("i")
      val row = ctx.freshName("row"); val cid = ctx.freshName("cid")
      val carr = ctx.freshName("carr"); val dot = ctx.freshName("dot")
      val cos = ctx.freshName("cos"); val cosValid = ctx.freshName("cosValid")
      val bestValid = ctx.freshName("bestValid"); val bestCos = ctx.freshName("bestCos")
      val bestCid = ctx.freshName("bestCid"); val haveBest = ctx.freshName("haveBest")
      val better = ctx.freshName("better"); val cmp = ctx.freshName("cmp")
      val x = ctx.freshName("x")
      s"""
         |int $k = $c.numElements();
         |if ($k == 0) { ${ev.isNull} = true; }
         |else {
         |  int $dim = $a.numElements();
         |  boolean $bestValid = false; double $bestCos = 0.0;
         |  int $bestCid = 0; boolean $haveBest = false;
         |  for (int $s = 0; $s < $k; $s++) {
         |    if ($c.isNullAt($s)) continue; // null slot: never wins (HOF array_max parity)
         |    InternalRow $row = $c.getStruct($s, 3);
         |    int $cid = $row.getInt(0);
         |    boolean $cosValid = true; double $cos = 0.0;
         |    if ($row.isNullAt(1) || $row.isNullAt(2)) { $cosValid = false; }
         |    else {
         |      org.apache.spark.sql.catalyst.util.ArrayData $carr = $row.getArray(1);
         |      if ($carr.numElements() != $dim) { $cosValid = false; }
         |      else {
         |        double $dot = 0.0;
         |        for (int $i = 0; $cosValid && $i < $dim; $i++) {
         |          if ($a.isNullAt($i) || $carr.isNullAt($i)) { $cosValid = false; }
         |          else { $dot += $a.getDouble($i) * $carr.getDouble($i); }
         |        }
         |        if ($cosValid) {
         |          double $x = $dot / java.lang.Math.sqrt($b * $row.getDouble(2));
         |          $cos = java.lang.Math.floor($x * 10000.0 + 0.5) / 10000.0;
         |        }
         |      }
         |    }
         |    boolean $better;
         |    if (!$haveBest) { $better = true; }
         |    else if ($cosValid && !$bestValid) { $better = true; }
         |    else if (!$cosValid && $bestValid) { $better = false; }
         |    else if (!$cosValid) { $better = ($cid < $bestCid); }
         |    else {
         |      int $cmp = ($cos == $bestCos) ? 0 : java.lang.Double.compare($cos, $bestCos);
         |      $better = ($cmp > 0 || ($cmp == 0 && $cid < $bestCid));
         |    }
         |    if ($better) { $haveBest = true; $bestValid = $cosValid; $bestCos = $cos; $bestCid = $cid; }
         |  }
         |  if ($haveBest) { ${ev.value} = $bestCid; } else { ${ev.isNull} = true; }
         |}
       """.stripMargin
    })

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

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects (array<bigint>, array<bigint>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val lo = x.getLong(i); val hi = y.getLong(i)
        var j = 0
        while (j < 32) {
          votes(j) += (if (((lo >> j) & 1L) == 1L) 1 else -1)
          votes(32 + j) += (if (((hi >> j) & 1L) == 1L) 1 else -1)
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val votes = ctx.freshName("votes")
      val lo = ctx.freshName("lo"); val hi = ctx.freshName("hi")
      val out = ctx.freshName("out")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    long $lo = $a.getLong($i);
         |    long $hi = $b.getLong($i);
         |    for (int $j = 0; $j < 32; $j++) {
         |      $votes[$j] += ((($lo >> $j) & 1L) == 1L) ? 1 : -1;
         |      $votes[32 + $j] += ((($hi >> $j) & 1L) == 1L) ? 1 : -1;
         |    }
         |  }
         |}
         |long $out = 0L;
         |for (int $j = 0; $j < 64; $j++) {
         |  if ($votes[$j] > 0) $out |= (1L << $j);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Simhash64 =
    copy(left = newLeft, right = newRight)
}

object ArrayOps {
  /** Error raised by the sorted-merge expressions when a null-LEADING
    * array is detected: their merge treats a null element as +infinity,
    * i.e. inputs must be in `array_sort` order (nulls LAST).
    * `sort_array(asc)` — which leads with nulls — would make the merge
    * silently advance the other side past every value and return a
    * wrong, near-empty intersection. The detection sits INSIDE the
    * merges' null branches (null at the head while the tail is
    * non-null), so the all-non-null hot path pays nothing — a per-call
    * entry guard was measured at +20% on `dedup_minhash`. Called from
    * both interpreted and generated paths (standalone object ⇒ static
    * forwarder). */
  def nullLeadingError(fn: String): Nothing =
    throw new IllegalArgumentException(
      s"$fn requires array_sort order (nulls LAST); got a null-leading " +
        "array — sort_array(asc) places nulls first and is not supported")
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
  * (same merge steps, same null handling — array_sort order required,
  * null-leading inputs rejected); survivors needing the exact count
  * recompute it — they are rare by construction. */
case class SortedIntersectAtLeast(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def arr(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    def num(t: DataType) = t == LongType || t == IntegerType
    if (arr(first.dataType) && arr(second.dataType) && num(third.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_atleast expects (array<bigint>, array<bigint>, int/bigint), " +
        s"got (${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
        s"${third.dataType.simpleString})")
  }
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType

  private def thLong(t: Any): Long = t match {
    case i: Integer => i.longValue()
    case l: java.lang.Long => l.longValue()
    case other => other.asInstanceOf[Number].longValue()
  }

  override def nullSafeEval(a: Any, b: Any, t: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val needed = thLong(t)
    var i = 0; var j = 0; var n = 0L
    val nx = x.numElements(); val ny = y.numElements()
    while (i < nx && j < ny &&
        n + math.min(nx - i, ny - j) >= needed) {
      val xNull = x.isNullAt(i); val yNull = y.isNullAt(j)
      if (xNull && i == 0 && !x.isNullAt(nx - 1))
        ArrayOps.nullLeadingError("sorted_intersect_atleast")
      if (yNull && j == 0 && !y.isNullAt(ny - 1))
        ArrayOps.nullLeadingError("sorted_intersect_atleast")
      if (xNull && yNull) { n += 1; i += 1; j += 1 }
      else if (xNull) j += 1
      else if (yNull) i += 1
      else {
        val xi = x.getLong(i); val yj = y.getLong(j)
        if (xi == yj) { n += 1; i += 1; j += 1 }
        else if (xi < yj) i += 1
        else j += 1
      }
    }
    n >= needed
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, t) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val need = ctx.freshName("need")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi"); val yj = ctx.freshName("yj")
      val xNull = ctx.freshName("xNull"); val yNull = ctx.freshName("yNull")
      s"""
         |long $need = (long) $t;
         |int $i = 0, $j = 0;
         |long $n = 0;
         |int $nx = $a.numElements(), $ny = $b.numElements();
         |while ($i < $nx && $j < $ny &&
         |       $n + Math.min($nx - $i, $ny - $j) >= $need) {
         |  boolean $xNull = $a.isNullAt($i);
         |  boolean $yNull = $b.isNullAt($j);
         |  if ($xNull && $i == 0 && !$a.isNullAt($nx - 1))
         |    graft.functions.ArrayOps.nullLeadingError("sorted_intersect_atleast");
         |  if ($yNull && $j == 0 && !$b.isNullAt($ny - 1))
         |    graft.functions.ArrayOps.nullLeadingError("sorted_intersect_atleast");
         |  if ($xNull && $yNull) { $n++; $i++; $j++; }
         |  else if ($xNull) { $j++; }
         |  else if ($yNull) { $i++; }
         |  else {
         |    long $xi = $a.getLong($i);
         |    long $yj = $b.getLong($j);
         |    if ($xi == $yj) { $n++; $i++; $j++; }
         |    else if ($xi < $yj) { $i++; }
         |    else { $j++; }
         |  }
         |}
         |${ev.value} = ($n >= $need);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): SortedIntersectAtLeast =
    copy(first = f, second = s, third = t)
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
  * signature stage keeps one unbroken whole-stage span; the generated
  * loop is the exact Java transliteration of [[nullSafeEval]]
  * (bit-equality pinned in ArrayOpsSpec). */
case class MinhashSig(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private val K = 16
  private val P = 1000000007L

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<bigint>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val mins = Array.fill(K)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i)) {
        any = true
        val h = x.getLong(i)
        var k = 0
        while (k < K) {
          val v = ((2L * k + 1L) * h + 7L * k + 3L) % P
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      i += 1
    }
    val out: Array[Any] =
      if (any) Array.tabulate[Any](K)(k => mins(k))
      else Array.fill[Any](K)(null)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val k = ctx.freshName("k")
      val n = ctx.freshName("n"); val h = ctx.freshName("h")
      val v = ctx.freshName("v"); val mins = ctx.freshName("mins")
      val any = ctx.freshName("any"); val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |long[] $mins = new long[$K];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |boolean $any = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    $any = true;
         |    long $h = $a.getLong($i);
         |    for (int $k = 0; $k < $K; $k++) {
         |      long $v = ((2L * $k + 1L) * $h + 7L * $k + 3L) % ${P}L;
         |      if ($v < $mins[$k]) $mins[$k] = $v;
         |    }
         |  }
         |}
         |Object[] $out = new Object[$K];
         |if ($any) {
         |  for (int $k = 0; $k < $K; $k++) $out[$k] = java.lang.Long.valueOf($mins[$k]);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

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
      case ArrayType(org.apache.spark.sql.types.DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_double expects (array<double>, array<double>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |boolean $bad = ($n != $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; !$bad && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; }
         |  else { $acc += $a.getDouble($i) * $b.getDouble($i); }
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotDouble =
    copy(left = newLeft, right = newRight)
}
