package graft

import org.apache.spark.sql.functions._
import graft.sim.Similarity

/** Pins [[Similarity.pqFitFused]] — the one-job-per-iteration fused PQ
  * codebook trainer — to the per-slice [[Similarity.kmeansFitOn]] fits
  * it replaced: same seeds, same assignments, same money-rounded decimal
  * centroid updates, per subspace, bit for bit. The DuckDB `knn_pq`
  * oracle unrolls the per-slice formulation, so this equivalence IS the
  * oracle-parity argument for the fused path.
  */
class PqFitSpec extends SparkSpec {

  test("pqFitFused == per-slice kmeansFitOn, every subspace, bit for bit") {
    val m = 8
    val subDim = 64 / m
    val e = Similarity.prepared(spark, sf).localCheckpoint(true)
    val fused = Similarity.pqFitFused(e, m, subDim, codes = 32, iters = 2)
    val perSlice = (0 until m).map { s =>
      Similarity.kmeansFitOn(
        e.select(col("vec_id"), expr(s"slice(v, ${s * subDim + 1}, $subDim)").as("v"))
          .withColumn("norm2", expr("aggregate(v, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x)")),
        32, 2)
    }
    assert(fused.size == m)
    for (s <- 0 until m) {
      val f = fused(s); val p = perSlice(s)
      assert(f.map(_.cid) == p.map(_.cid), s"subspace $s: surviving cids differ")
      f.zip(p).foreach { case (a, b) =>
        assert(a.c == b.c, s"subspace $s cid ${a.cid}: centroids differ")
        assert(a.cn2 == b.cn2, s"subspace $s cid ${a.cid}: norms differ")
      }
    }
  }

  test("pqFitFused schedules 1 seed job + 1 job per iteration, not m of each") {
    // The fusion's whole value is SCHEDULING count, which no plan-shape
    // pin can see: the per-slice form runs m×(1 seed + iters) jobs
    // (m=8, iters=3 ⇒ 32); the fused form must run exactly 1 + iters.
    val e = Similarity.prepared(spark, sf).localCheckpoint(true) // before the count
    val iters = 3
    val execs = SparkWork.count(spark) {
      Similarity.pqFitFused(e, m = 8, subDim = 8, codes = 16, iters = iters)
    }._2.sqlExecutions
    assert(execs == 1 + iters,
      s"fused fit must schedule 1 seed + $iters iteration jobs, saw $execs")
  }

  test("pqFitFused at a coarse config (m=4, codes=8) still matches per-slice") {
    val m = 4
    val subDim = 64 / m
    val e = Similarity.prepared(spark, sf).localCheckpoint(true)
    val fused = Similarity.pqFitFused(e, m, subDim, codes = 8, iters = 2)
    val perSlice = (0 until m).map { s =>
      Similarity.kmeansFitOn(
        e.select(col("vec_id"), expr(s"slice(v, ${s * subDim + 1}, $subDim)").as("v"))
          .withColumn("norm2", expr("aggregate(v, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x)")),
        8, 2)
    }
    for (s <- 0 until m)
      assert(fused(s) == perSlice(s), s"subspace $s differs")
  }
}
