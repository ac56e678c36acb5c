package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

class ArrayOpsSpec extends SparkSpec {

  /** `f` over a one-file parquet copy of `df` (so it keeps `df`'s row
    * order), deleted afterwards. */
  private def withParquetCopy[T](df: DataFrame)(f: DataFrame => T): T = {
    val dir = Files.createTempDirectory("arrayops").toString
    try {
      df.coalesce(1).write.parquet(dir + "/t")
      f(spark.read.parquet(dir + "/t"))
    } finally graft.engine.Fs.deleteDir(spark, dir)
  }

  /** Runs `check` on `df` and on its parquet copy: a select over the
    * local relation is evaluated interpreted (the optimizer folds it into
    * a new local relation), the same select over the copy's scan runs in
    * whole-stage generated code. */
  private def bothPaths(df: DataFrame)(check: DataFrame => Unit): Unit = {
    check(df)
    withParquetCopy(df)(check)
  }

  test("sorted_intersect_size matches size(array_intersect) on sorted distinct arrays") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(3L, 4L, 5L, 10L)), // overlap 2
      (Seq(1L, 2L), Seq(3L, 4L)),                  // disjoint
      (Seq(7L), Seq(7L)),                          // identical
      (Seq.empty[Long], Seq(1L))                   // empty side
    ).toDF("a", "b")
    bothPaths(df) { d =>
      val out = d.select(
        expr("sorted_intersect_size(a, b)").as("fast"),
        expr("size(array_intersect(a, b))").as("ref")).collect()
      assert(out.forall(r => r.getInt(0) == r.getInt(1)))
    }
  }

  test("null ELEMENTS match array_intersect semantics (null==null counts, sorted to tail)") {
    import spark.implicits._
    val df = Seq((Seq(Some(1L), Some(3L), None), Seq(Some(3L), Some(5L), None), Seq(3L, 5L)))
      .toDF("a", "b", "c")
    bothPaths(df) { d =>
      val rows = d.select(
        expr("sorted_intersect_size(a, b)").as("both_null"),
        expr("sorted_intersect_size(a, c)").as("one_null"),
        expr("size(array_intersect(a, b))").as("ref_both"),
        expr("size(array_intersect(a, c))").as("ref_one"),
        expr("sorted_intersect(a, b)").as("si_both"),
        expr("sorted_intersect(a, c)").as("si_one"),
        expr("sorted_intersect(a, a)").as("si_self")).collect()(0)
      assert(rows.getInt(0) == 2 && rows.getInt(0) == rows.getInt(2))
      assert(rows.getInt(1) == 1 && rows.getInt(1) == rows.getInt(3))
      assert(rows.getSeq[Any](4) == Seq(3L, null))
      assert(rows.getSeq[Any](5) == Seq(3L))
      assert(rows.getSeq[Any](6) == Seq(1L, 3L, null))
    }
  }

  test("dot_double equals the HOF zip_with fold bit-for-bit, incl. null/length semantics") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.5, -2.25, 3.0), Seq(0.5, 4.0, -1.0)),
      (Seq(0.1, 0.2, 0.3), Seq(0.3, 0.2, 0.1)),     // non-exact doubles: fold order matters
      (Seq.empty[Double], Seq.empty[Double]),        // empty -> 0.0
      (Seq(1e300, 1.0), Seq(1e300, -1.0))            // extreme magnitudes
    ).toDF("a", "b")
    def fastAndRef(d: DataFrame) = d.select(
      expr("dot_double(a, b)").as("fast"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)").as("ref"))
      .collect()
    // exact double equality — same sequential fold, same IEEE ops
    bothPaths(df)(fastAndRef(_).foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), r.toString)))
    // unequal lengths and null elements poison to null, as the HOF does
    val edge = Seq(
      (Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(1.0)))),
      (Some(Seq(Some(1.0), None)), Some(Seq(Some(1.0), Some(2.0)))),
      (None, Some(Seq(Some(1.0)))))
      .toDF("a", "b")
    bothPaths(edge)(fastAndRef(_).foreach(r => assert(r.isNullAt(0) && r.isNullAt(1), r.toString)))
  }

  test("minhash_sig equals the nested-HOF signature, incl. empty input -> 16 nulls") {
    import spark.implicits._
    val P = graft.dedup.Dedup.P
    val df = Seq(
      Seq(12345L, 987654321L, 42L),
      Seq(0L, P - 1L),
      Seq(999999999L),
      Seq.empty[Long]
    ).toDF("th")
    bothPaths(df) { d =>
      val out = d.select(
        expr("minhash_sig(th)").as("fast"),
        expr(s"""transform(sequence(0, 15), i ->
          array_min(transform(th, h -> ((2 * i + 1) * h + 7 * i + 3) % $P)))""").as("ref"))
        .collect()
      out.foreach { r =>
        assert(r.getSeq[Any](0) == r.getSeq[Any](1), r.toString)
      }
      // empty input: all 16 positions null (array_min of empty transform)
      val empty = out.last.getSeq[Any](0)
      assert(empty.length == 16 && empty.forall(_ == null))
    }
  }

  test("native expressions COMPILE under codegen — no silent interpreter fallback") {
    import spark.implicits._
    // with fallback disabled a Janino error in any doGenCode THROWS
    // instead of quietly degrading to interpreted eval (which would pass
    // every value-equality pin while losing the whole-stage span). The
    // rows come from a parquet scan: over a local relation the optimizer
    // evaluates the select interpreted and no generated code is compiled
    val df = Seq((Seq(12345L, 42L), Seq(1.5, 2.5), Seq(2.0, -1.0), Seq(0, 1),
        Seq(Seq(2.5), Seq(1.0, 4.5)), Seq(1.0, 0.0), 1.0,
        Seq((2, Seq(1.0, 0.0), 1.0), (1, Seq(0.0, 1.0), 1.0))))
      .toDF("th", "a", "b", "codes", "lut", "v", "norm2", "cents")
    def native(d: DataFrame) = d.select(
      expr("minhash_sig(th)").as("sig"),
      expr("dot_double(a, b)").as("dot"),
      expr("simhash64(th, th)").as("sh"),
      expr("sorted_intersect_size(th, th)").as("sis"),
      expr("sorted_intersect_atleast(th, th, 2)").as("sia"),
      expr("sorted_intersect(th, th)").as("si"),
      expr("lut_sum(codes, lut)").as("ls"),
      expr("assign_cid(v, norm2, cents)").as("cid"))
    val expected = native(df).collect()(0)
    withParquetCopy(df) { copy =>
      spark.conf.set("spark.sql.codegen.fallback", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      try {
        val scanned = native(copy)
        val r = scanned.collect()(0)
        assert(r.getSeq[Long](0).length == 16)
        assert(r.getDouble(1) == 1.5 * 2.0 + 2.5 * -1.0)
        assert(r.getInt(3) == 2 && r.getBoolean(4))
        assert(r.getSeq[Long](5) == Seq(12345L, 42L))
        assert(r.getDouble(6) == 2.5 + 4.5)
        assert(r.getInt(7) == 2)
        assert(r == expected)
        val plan = scanned.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        val generated = plan.collect { case w: WholeStageCodegenExec =>
          w.child.collect { case p => p.expressions.flatMap(_.collect { case e => e.getClass }) }.flatten
        }.flatten.toSet
        Seq(classOf[functions.MinhashSig], classOf[functions.DotDouble], classOf[functions.Simhash64],
          classOf[functions.SortedIntersectSize], classOf[functions.SortedIntersectAtLeast],
          classOf[functions.SortedIntersect], classOf[functions.LutSum], classOf[functions.AssignCid])
          .foreach(c => assert(generated(c), s"${c.getSimpleName} not under WholeStageCodegenExec:\n$plan"))
      } finally {
        spark.conf.set("spark.sql.codegen.fallback", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
    }
  }

  test("lut_sum equals the zip_with/aggregate HOF form") {
    import spark.implicits._
    val df = Seq(
      (Seq(0, 2, 1), Seq(Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0), Seq(7.0, 8.0, 9.0))),
      (Seq(2, 2, 2), Seq(Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0), Seq(7.0, 8.0, 9.0))),
      (Seq(0, 0), Seq(Seq(1.5, 2.5), Seq(3.5, 4.5), Seq(9.9, 9.9))) // length mismatch -> null
    ).toDF("codes", "lut")
    bothPaths(df) { d =>
      val rows = d.select(
        expr("lut_sum(codes, lut)").as("mine"),
        expr("aggregate(zip_with(codes, lut, (cd, l) -> element_at(l, cd + 1)), CAST(0 AS DOUBLE), (a, x) -> a + x)").as("ref"))
        .collect()
      rows.foreach { r =>
        assert(r.isNullAt(0) == r.isNullAt(1), r.toString)
        if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1), r.toString)
      }
    }
  }

  test("assign_cid equals the array_max/transform HOF argmax; NaN and ties pinned") {
    import spark.implicits._
    // equivalence vs the HOF form on the production domain (cn2 > 0):
    // cid 0 duplicates cid 2 so the cosine TIES and the smaller cid
    // must win on both paths; cid 1 is a distinct direction
    val df = Seq(
      (Seq(1.0, 0.0), 1.0),
      (Seq(0.6, 0.8), 1.0),
      (Seq(-1.0, 0.0), 1.0),
      (Seq(0.0, 2.0), 4.0)
    ).toDF("v", "norm2")
      .withColumn("cents", expr(
        """array(named_struct('cid', 2, 'c', array(CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)), 'cn2', CAST(1.0 AS DOUBLE)),
                 named_struct('cid', 1, 'c', array(CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE)), 'cn2', CAST(1.0 AS DOUBLE)),
                 named_struct('cid', 0, 'c', array(CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)), 'cn2', CAST(1.0 AS DOUBLE)))"""))
    bothPaths(df) { rows =>
      val out = rows.select(
        expr("assign_cid(v, norm2, cents)").as("mine"),
        expr("""-array_max(transform(cents, s -> named_struct(
            'cos', floor((aggregate(zip_with(v, s.c, (x, y) -> x * y), CAST(0 AS DOUBLE), (a, x) -> a + x)
                   / sqrt(norm2 * s.cn2)) * 10000 + 0.5) / 10000,
            'ncid', -s.cid))).ncid""").as("ref")).collect()
      out.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
      // tie between cid 0 and cid 2 resolves to 0 for the x-axis vector;
      // the y-leaning vectors pick the y-axis centroid
      assert(out(0).getInt(0) == 0)
      assert(out(1).getInt(0) == 1 && out(3).getInt(0) == 1)
      // degenerate cn2 = 0 (a dead/zero codeword): the NaN cosine wins
      // under Spark's NaN-greatest double ordering — pinned native-only,
      // since constant-folding the HOF reference trips ANSI on the 0/0
      val nan = rows.select(expr(
        """assign_cid(v, norm2, array(
             named_struct('cid', 5, 'c', array(CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)), 'cn2', CAST(1.0 AS DOUBLE)),
             named_struct('cid', 9, 'c', array(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)), 'cn2', CAST(0.0 AS DOUBLE))))"""))
        .collect().map(_.getInt(0))
      assert(nan.forall(_ == 9), nan.toSeq.toString)
      // empty centroid set -> null (array_max of empty is null)
      val empty = rows.limit(1).select(expr(
        "assign_cid(v, norm2, CAST(array() AS array<struct<cid:int,c:array<double>,cn2:double>>))"))
        .collect()(0)
      assert(empty.isNullAt(0))
    }
  }

  test("sorted_intersect matches array_intersect on sorted distinct arrays") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(3L, 4L, 5L, 10L)),
      (Seq(1L, 2L), Seq(3L, 4L)),
      (Seq(7L), Seq(7L)),
      (Seq.empty[Long], Seq(1L)),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L))
    ).toDF("a", "b")
    bothPaths(df) { d =>
      val rows = d.select(
        expr("sorted_intersect(a, b)").as("mine"),
        array_intersect(col("a"), col("b")).as("ref"),
        expr("sorted_intersect_size(a, b)").as("n")).collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString)
        assert(r.getSeq[Long](0).length == r.getInt(2))
      }
    }
  }

  test("sorted_intersect_atleast equals size(...) >= t for every threshold") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(3L, 4L, 5L, 10L)),
      (Seq(1L, 2L), Seq(3L, 4L)),
      (Seq(7L), Seq(7L)),
      (Seq.empty[Long], Seq(1L)),
      (Seq(1L, 2L, 3L, 4L, 5L), Seq(1L, 2L, 3L, 4L, 5L))
    ).toDF("a", "b")
    bothPaths(df) { d =>
      for (t <- 0 to 6) {
        val out = d.select(
          expr(s"sorted_intersect_atleast(a, b, $t)").as("fast"),
          (expr("sorted_intersect_size(a, b)") >= t).as("ref")).collect()
        out.foreach(r => assert(r.getBoolean(0) == r.getBoolean(1), s"t=$t $r"))
      }
    }
  }

  test("null-LEADING arrays (sort_array order) are rejected loudly, never a wrong count") {
    // sort_array(asc) places the null FIRST — the merge's null-as-+infinity
    // assumption would silently skip every real match; the guard throws
    import spark.implicits._
    val raw = Seq((Seq(Some(3L), Some(1L), None), Seq(Some(5L), Some(3L), None))).toDF("ra", "rb")
    bothPaths(raw) { d =>
      for (fn <- Seq("sorted_intersect_size(a, b)", "sorted_intersect(a, b)",
          "sorted_intersect_atleast(a, b, 1)")) {
        val e = intercept[Exception] {
          d.select(expr("sort_array(ra)").as("a"), expr("sort_array(rb)").as("b"))
            .select(expr(fn).as("x")).collect()
        }
        def msgs(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
        assert(msgs(e).exists(_.contains("array_sort order")), e.toString)
      }
    }
    // tail nulls (array_sort order) still work
    val ok = spark.sql(
      "SELECT sorted_intersect_size(array_sort(array(3L, 1L, NULL)), array_sort(array(5L, 3L, NULL))) AS x")
      .collect()(0)
    assert(ok.getInt(0) == 2) // 3 and null==null
    // ALL-null arrays are legal nulls-last inputs (a null head implies a
    // null tail) and merge like array_intersect, never a false rejection
    val allNull = spark.sql(
      """SELECT sorted_intersect_size(CAST(array(NULL, NULL) AS ARRAY<BIGINT>),
         |                            CAST(array(NULL) AS ARRAY<BIGINT>)) AS x""".stripMargin)
      .collect()(0)
    assert(allNull.getInt(0) == 1)
  }

  test("assign_cid skips null centroid SLOTS; all-null slots yield null like empty") {
    import spark.implicits._
    bothPaths(Seq((Seq(1.0, 0.0), 1.0)).toDF("v", "norm2")) { rows =>
      // a null slot between two real centroids: the real argmax must win
      val mixed = rows.select(expr(
        """assign_cid(v, norm2, array(
             named_struct('cid', 4, 'c', array(CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE)), 'cn2', CAST(1.0 AS DOUBLE)),
             CAST(NULL AS struct<cid:int,c:array<double>,cn2:double>),
             named_struct('cid', 7, 'c', array(CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)), 'cn2', CAST(1.0 AS DOUBLE))))"""))
        .collect()(0)
      assert(mixed.getInt(0) == 7, mixed.toString)
      // an array of ONLY null slots degenerates like the empty array: null
      val allNull = rows.select(expr(
        "assign_cid(v, norm2, array(CAST(NULL AS struct<cid:int,c:array<double>,cn2:double>)))"))
        .collect()(0)
      assert(allNull.isNullAt(0))
    }
  }

  test("null inputs propagate null") {
    val r = spark.sql(
      "SELECT sorted_intersect_size(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS x")
      .collect()(0)
    assert(r.isNullAt(0))
  }

  test("type mismatch is rejected at analysis") {
    intercept[Exception] {
      spark.sql("SELECT sorted_intersect_size(array('a'), array('b'))").collect()
    }
  }

  test("simhash64 native expression equals the HOF bit-vote formulation") {
    import org.apache.spark.sql.functions.expr
    // pseudo-random 32-bit halves, incl. empty and single-element docs
    val rnd = new scala.util.Random(42)
    val rows = (Seq.empty[Long] -> Seq.empty[Long]) +:
      Seq.tabulate(50)(i => {
        val n = 1 + rnd.nextInt(40)
        (Seq.fill(n)(rnd.nextLong() & 0xFFFFFFFFL), Seq.fill(n)(rnd.nextLong() & 0xFFFFFFFFL))
      })
    import spark.implicits._
    bothPaths(rows.toDF("lo", "hi")) { df =>
      val out = df.select(
        expr("simhash64(lo, hi)").as("fast"),
        expr("""aggregate(
                  transform(sequence(0, 63), j ->
                    IF(aggregate(zip_with(lo, hi, (l, h) -> named_struct('lo', l, 'hi', h)), 0,
                         (acc, x) -> acc + IF((shiftright(IF(j < 32, x.lo, x.hi), j % 32) & 1) = 1, 1, -1)) > 0,
                       shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT))),
                  CAST(0 AS BIGINT), (acc, v) -> acc + v)""").as("ref")).collect()
      assert(out.forall(r => r.getLong(0) == r.getLong(1)))
    }
  }

  test("extensions class registers the function in a fresh session") {
    // a new session builds its own function registry, seeded only by the
    // extensions the session was built with: nothing registers per call
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (id, _, _) =>
      assert(registry.functionExists(id), s"${id.funcName} not registered")
    }
    val n = fresh.sql("SELECT sorted_intersect_size(array(1L,2L), array(2L,3L)) AS n")
      .collect()(0).getInt(0)
    assert(n == 1)
  }
}

class IntersectRewriteSpec extends SparkSpec {
  test("optimizer rule rewrites size(array_intersect) on provably sorted-distinct longs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    spark.experimental.extraOptimizations =
      Seq(graft.plans.IntersectRewrite)
    try {
      // fixture-sourced columns so constant folding can't collapse the plan
      def shaped = Tables.nation(spark, sf).select(
        expr("array_sort(array_distinct(array(CAST(n_nationkey AS BIGINT), CAST(n_regionkey AS BIGINT), 3L)))").as("sa"),
        expr("array_sort(array_distinct(array(CAST(n_regionkey AS BIGINT), 3L, 7L)))").as("sb"))
      val df = shaped.select(expr("size(array_intersect(sa, sb))").as("n"))
      assert(df.queryExecution.optimizedPlan.toString
        .toLowerCase.contains("sortedintersectsize"),
        df.queryExecution.optimizedPlan.toString)
      val rewritten = df.agg(sum(col("n"))).head().getLong(0)
      spark.experimental.extraOptimizations = Nil
      val reference = shaped.select(expr("size(array_intersect(sa, sb))").as("n"))
        .agg(sum(col("n"))).head().getLong(0)
      assert(rewritten == reference)
      // guard: inputs not provably sorted-distinct are NOT rewritten
      val plain = Tables.nation(spark, sf)
        .select(expr("array(CAST(n_nationkey AS BIGINT))").as("a"),
          expr("array(CAST(n_regionkey AS BIGINT))").as("b"))
        .select(expr("size(array_intersect(a, b))").as("n"))
      assert(!plain.queryExecution.optimizedPlan.toString
        .toLowerCase.contains("sortedintersectsize"))
      // guard: a CUSTOM comparator breaks the ascending-order assumption →
      // must NOT be rewritten (descending sort would give wrong counts)
      val custom = Tables.nation(spark, sf).select(
        expr("array_sort(array_distinct(array(CAST(n_nationkey AS BIGINT), 3L)), (l, r) -> CASE WHEN l > r THEN -1 WHEN l < r THEN 1 ELSE 0 END)").as("sa"),
        expr("array_sort(array_distinct(array(CAST(n_regionkey AS BIGINT), 3L)), (l, r) -> CASE WHEN l > r THEN -1 WHEN l < r THEN 1 ELSE 0 END)").as("sb"))
        .select(expr("size(array_intersect(sa, sb))").as("n"))
      assert(!custom.queryExecution.optimizedPlan.toString
        .toLowerCase.contains("sortedintersectsize"),
        custom.queryExecution.optimizedPlan.toString)
    } finally {
      spark.experimental.extraOptimizations = Nil
    }
  }
  test("the rewrite also fires on non-null elements, whose comparator the optimizer folds") {
    spark.experimental.extraOptimizations = Seq(graft.plans.IntersectRewrite)
    try {
      // spark.range ids are non-null: array(...) has containsNull = false,
      // so NullPropagation drops the default comparator's null branches
      def shaped = spark.range(0, 40).select(
        expr("array_sort(array_distinct(array(id, 40 - id, 2 * id, 5L)))").as("sa"),
        expr("array_sort(array_distinct(array(id + 1, 39 - id, 6L)))").as("sb"))
      val df = shaped.select(expr("size(array_intersect(sa, sb))").as("n"))
      val plan = df.queryExecution.optimizedPlan.toString
      assert(shaped.schema.forall(!_.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull))
      assert(plan.toLowerCase.contains("sortedintersectsize"), plan)
      val rewritten = df.collect().map(_.getInt(0)).toSeq
      spark.experimental.extraOptimizations = Nil
      assert(rewritten == shaped.select(expr("size(array_intersect(sa, sb))")).collect().map(_.getInt(0)).toSeq)
    } finally {
      spark.experimental.extraOptimizations = Nil
    }
  }
}
