package graft

import graft.sim.Similarity

/** Pins [[Similarity.buildIvfIndexOn]] — the FUSED IVF build phase
  * (round-10 brief #2: the pqFitFused scheduling discipline applied to
  * the index build). The fusion's value is SCHEDULING count, which no
  * plan-shape pin can see: before it, `knnIvfServed` materialized the
  * prepared corpus once inside the fit's persist, re-derived it for the
  * list-assignment write, and re-derived it again for the serve-time
  * query slice. Now ONE checkpoint feeds all three, and the build
  * schedules exactly 1 seed + iters iteration jobs + 2 writes.
  */
class IvfBuildSpec extends SparkSpec {

  test("buildIvfIndexOn schedules 1 seed + iters iterations + 2 writes, nothing else") {
    val e = Similarity.preparedCk(spark, sf) // materialized BEFORE the count
    val idx = graft.engine.Fs.scratch("graft_ivf_spec", sf)
    graft.engine.Fs.deleteDir(spark, idx)
    val iters = 3
    val execs = SparkWork.count(spark) {
      Similarity.buildIvfIndexOn(e, idx, nClusters = 10, iters = iters)
    }._2.sqlExecutions
    // upper bound, not exact (round-11 ADVICE): the pin guards against
    // the fusion REGRESSING into extra corpus scans; a Spark-version
    // change emitting one more bookkeeping execution must not fail it.
    // A lower bound of the irreducible actions keeps the pin honest.
    assert(execs <= 1 + iters + 2,
      s"fused IVF build must schedule at most 1 seed + $iters iteration " +
        s"jobs + 2 index writes, saw $execs — fusion regressed")
    assert(execs >= 1 + iters,
      s"expected at least the seed + $iters iteration jobs, saw $execs " +
        "— the listener missed executions; pin is not measuring")
  }

  test("kmeansLloyd over a checkpointed corpus == kmeansFit from parquet, bit for bit") {
    // the persist-free Lloyd entry must not change a single centroid
    // value vs the self-persisting path the DuckDB oracles unroll
    val viaCk = Similarity.kmeansLloyd(Similarity.preparedCk(spark, sf), 10, 3)
    val viaFit = Similarity.kmeansFit(spark, sf, 10, 3)
    assert(viaCk == viaFit)
  }
}
