package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Process-lifetime DERIVED-RELATION store — the
  * [[graft.sim.Similarity]] quantizer-registry discipline applied to
  * corpus-scale derivations (round-13 verdict #1a: the containment pair
  * spent ~10 s/run re-deriving the SAME shingle index — split → 3-gram
  * → md5/conv hash → sort, all interpreted higher-order lambdas — once
  * per query, per pass, while the candidate join + exact verify it
  * feeds cost ~1.5 s).
  *
  * A derivation registered here is a DETERMINISTIC pure function of the
  * input directory (same discipline as the fit registry: memoizing it
  * changes nothing observable but the job count), materialized ONCE per
  * JVM as parquet under a run-private scratch dir ([[Fs.scratch]] keys
  * by JVM token, so cross-JVM staleness cannot occur and a code change
  * can never meet an old file) and re-read by every consumer. This is
  * also the production shape: a dedup tier materializes the corpus
  * shingle index as a table the way an ANN tier persists its quantizer
  * — re-shingling 100 TB per query would dominate every downstream
  * operator. Values round-trip exactly (BIGINT/array<BIGINT> columns;
  * no doubles are stored by current users — if a derivation ever stores
  * doubles, parquet round-trips them bit-exactly too). */
object Derived {

  private val built = new Memo[String]

  /** The derivation named `name` over fixture `dir`: built and written
    * on first use (charged to that caller), read back by everyone
    * after. Callers layer their own persist on the returned reader when
    * they consume it more than once. Contract: `dir`'s contents are
    * immutable for the JVM lifetime (true of every fixture, test temp
    * dir and `ScalingSpec` replica root — each is written once, then
    * probed); a caller that rewrites its input in-process must use a
    * fresh path, exactly as it must for Spark's own file-index caches. */
  def cached(spark: SparkSession, name: String, dir: String)
      (build: => DataFrame): DataFrame =
    Fs.readParquet(spark, relPath(spark, name, dir)(build))

  private def relPath(spark: SparkSession, name: String, dir: String)
      (build: => DataFrame): String =
    built(s"$name|$dir") {
      // prefix segment `rel_` vs store's `store_`: the namespaces are
      // disjoint BY CONSTRUCTION — a cached relation named "store_x"
      // digests to graft_derived_rel_store_x while a store named "x"
      // digests to graft_derived_store_x, so no (kind, name) pair can
      // ever alias the other kind's path (two registry entries sharing
      // one path would delete-and-overwrite each other's files)
      val p = Fs.scratch(s"graft_derived_rel_$name", dir)
      Fs.deleteDir(spark, p)
      build.write.mode("overwrite").parquet(p)
      p
    }

  /** A deterministic STORE build memoized per (name, dir) — [[cached]]
    * for derivations that materialize a DIRECTORY (e.g. a manifest
    * table with committed version history) rather than one parquet
    * relation. `populate` runs once per JVM into a fresh scratch path;
    * every later caller gets the same path back. Contract: the store's
    * content is a pure function of (name, dir) and callers treat it as
    * READ-ONLY after the build — queries whose measured semantics ARE
    * writes (reload/retry proofs) must keep building their own stores.
    * A caller that maintains a template (the IVF-PQ maintenance
    * surfaces) clones its manifest tables with [[Manifest.shallowClone]]
    * and commits to the clone: zero-copy, and safe because nothing
    * commits to the template. */
  def store(spark: SparkSession, name: String, dir: String)
      (populate: String => Unit): String =
    built(s"store:$name|$dir") {
      // scratch prefix is namespaced apart from cached's `rel_` segment
      // (disjoint by construction — see relPath): a store and a cached
      // relation sharing a NAME must not share a PATH (the second build
      // would delete-and-overwrite the first's files while both
      // registry entries keep pointing there)
      val p = Fs.scratch(s"graft_derived_store_$name", dir)
      Fs.deleteDir(spark, p)
      populate(p)
      p
    }

  private val counts = new Memo[Long]

  /** Row count of the derivation from parquet FOOTER metadata
    * ([[Fs.parquetRowCount]] — driver-side, NO Spark job), memoized per
    * key: the manifest-stats path for guards that need only a row bound
    * (e.g. broadcast-vs-shuffle admission decisions), instead of a
    * `count()` action over the relation. Builds the derivation first if
    * this is its first touch. */
  def rowCount(spark: SparkSession, name: String, dir: String)
      (build: => DataFrame): Long = {
    val path = relPath(spark, name, dir)(build)
    counts(s"$name|$dir")(Fs.parquetRowCount(spark, path))
  }

  /** Test hook: drop the registry (files stay; keys are re-derivable). */
  private[graft] def clear(): Unit = { built.clear(); counts.clear() }
}
