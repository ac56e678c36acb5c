package org.apache.spark.rdd

/** Unpersist without `RDD.unpersist`'s per-RDD WARN for locally
  * checkpointed RDDs. Such an RDD cannot be recomputed whatever its
  * storage level says, so freeing its blocks through the context is all
  * `unpersist` would do; other RDDs go through `unpersist` as before. */
object RddRelease {
  def unpersist(rdd: RDD[_]): Unit =
    if (rdd.isLocallyCheckpointed) rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
    else rdd.unpersist(blocking = false)
}
