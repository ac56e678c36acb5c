package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{Fns, Tables}

/** Deduplication operators for a training-data pipeline over `documents`
  * and `embeddings`: exact hash dedup, MinHash+LSH, SimHash, n-gram
  * Jaccard, and embedding-cosine near-duplicates.
  *
  * Scale design: every operator avoids the O(n²) all-pairs comparison —
  * candidates come from hash-bucket joins (LSH bands, shared shingles,
  * hyperplane sign buckets), so the shuffles are keyed on bucket ids and
  * the quadratic blow-up is confined to same-bucket groups. Two further
  * 100 TB guards:
  *
  *  - Reused relations persist MEMORY_AND_DISK, never memory-only: under
  *    executor memory pressure blocks SPILL instead of being evicted, so
  *    there is no recompute storm mid-shuffle when the signature relation
  *    no longer fits.
  *  - Pathological hot buckets (a million identical docs landing in one
  *    band bucket / a boilerplate shingle shared by every doc) are
  *    boundable via the `maxBucketSize` / `maxShingleFreq` knobs — the
  *    standard frequency-cut trick. The cut applies ONLY to candidate
  *    generation; verification always runs on full token/shingle sets, so
  *    surviving pairs carry exact similarity values. Defaults are
  *    un-cut (exact candidate enumeration, what the oracle replays).
  *
  * Signature computation is per-row higher-order-function work (codegen,
  * no shuffle). All hashing goes through the engine-portable md5-based
  * [[graft.Fns.h64]] so the DuckDB oracle reproduces results bit-for-bit.
  */
object Dedup {

  /** MinHash parameters: K hashes in B bands of R rows (K = B*R). With
    * (aK+b) mod P permutations over 60-bit md5 token hashes. */
  val K = 16; val B = 4; val R = 4
  val P = 1000000007L

  /** Default of every broadcast guard (`maxBroadcastSets`,
    * `maxBroadcastDocs`, `maxBroadcastLabels`): above this many rows a
    * batch-side relation is not broadcast, and the operator degrades
    * loudly to a shuffled join with the same rows. */
  val maxBroadcastRows: Long = 500000L

  /** Exact dedup: group identical texts by md5, keep the smallest doc_id
    * (hash-groupBy — one shuffle keyed on the digest). */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("kept_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("kept_doc_id"))

  /** Distinct-token array + MinHash signature + band buckets, per doc. */
  private def withSignature(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", expr("array_distinct(split(text, ' '))"))
      .withColumn("th", expr(
        s"""transform(toks, t ->
            CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT) % $P)"""))
      // native one-pass signature (graft.functions.MinhashSig; K/P pinned
      // there to this object's constants) — the HOF nest evaluates
      // interpreted at K x |th| lambda calls per row
      .withColumn("sig", expr("minhash_sig(th)"))

  /** A document's sorted distinct token-hash set: each distinct token's
    * md5-derived hash mod [[P]] — the exact-Jaccard and MinHash input. */
  private val tokenHashSet: Column = expr(
    s"""array_sort(array_distinct(transform(array_distinct(split(text, ' ')),
        t -> CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT) % $P)))""")

  /** MinHash+LSH near-duplicate pairs: band-bucket candidate join, then
    * exact distinct-token Jaccard ≥ `threshold`.
    *
    * Verification intersects 60-bit token hashes, not strings — ~3×
    * cheaper in the hot join, same result (the oracle hashes identically;
    * a collision would affect both engines equally).
    *
    * @param maxBucketSize drop band buckets holding more than this many
    *   docs before the self-join (a bucket of m docs costs m² candidate
    *   rows; a corpus with a million byte-identical docs puts them ALL in
    *   one bucket). Bounded recall loss by design: members of an
    *   over-full bucket usually co-occur in other, smaller buckets, and
    *   truly identical docs are [[exact]]-dedup's job anyway. None (the
    *   default, oracle-replayed) enumerates exactly.
    * @param bandSubset restrict candidate GENERATION to these LSH bands —
    *   the deterministic sampling lever for fidelity evals
    *   ([[sketchAgreement]]): a band is a uniform hash-selected sample of
    *   the candidate space, so "pairs discoverable via band 0" is an
    *   unbiased, oracle-replayable subset at 1/B the join cost.
    *   Verification still runs on full token-hash sets (surviving pairs
    *   carry exact Jaccard); with a single band the candidate DISTINCT
    *   is skipped entirely — each doc holds one row per band, so a pair
    *   can only be emitted once. None (the default) enumerates all
    *   bands. */
  def minhashPairs(spark: SparkSession, dir: String, threshold: Double = 0.9,
      maxBucketSize: Option[Int] = None,
      bandSubset: Option[Seq[Int]] = None): DataFrame = {
    if (maxBucketSize.isDefined)
      minhashPairsByDoc(spark, dir, threshold, maxBucketSize, bandSubset)
    else
      minhashPairsContracted(spark, dir, threshold, bandSubset)
  }

  /** TOKEN-SET-CONTRACTED pair generation (the default path): docs with
    * identical distinct-token-hash sets have identical MinHash signatures
    * AND identical verification outcomes, so the whole pipeline —
    * signature, banding, candidate join, exact verify — runs once per
    * DISTINCT token set and expands to doc pairs only at output. The
    * shrink is quadratic exactly where the corpus is dirtiest: a group
    * of m clones contributes m band rows per band (m² candidate rows
    * per bucket) uncontracted, ONE row contracted — measured at sf0.1:
    * 5 000 docs → 3 935 distinct sets, and 35 606 within-group clone
    * pairs leave the candidate join entirely (they emit straight from
    * the group member lists at Jaccard 1.0, guarded against empty token
    * sets where the ratio would be NULL). The signature is computed on
    * the GROUP relation (min over a set is duplicate/order-independent,
    * so sorted-distinct input gives the oracle-identical value). */
  private def minhashPairsContracted(spark: SparkSession, dir: String,
      threshold: Double, bandSubset: Option[Seq[Int]]): DataFrame = {
    val (groups, verified) = minhashGroupPairs(spark, dir, threshold, bandSubset)
    // cross-group expansion: members_a × members_b per verified group
    // pair, normalized to doc_a < doc_b (membership does not follow rep
    // order); output-bound
    val cross = verified
      .join(groups.select(col("rep").as("rep_a"), col("members").as("mem_a")), "rep_a")
      .join(groups.select(col("rep").as("rep_b"), col("members").as("mem_b")), "rep_b")
      .select(explode(col("mem_a")).as("da"), col("mem_b"), col("jaccard"))
      .select(col("da"), explode(col("mem_b")).as("db"), col("jaccard"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jaccard"))
    // within-group clone pairs: identical sets ⟹ Jaccard exactly 1.0;
    // empty token sets are excluded (0/0 is NULL on both engines, never
    // a pair)
    val within = groups
      .filter(size(col("members")) >= 2 && size(col("th")) > 0)
      .select(explode(col("members")).as("da"), col("members"))
      .select(col("da"), explode(col("members")).as("db"))
      .filter(col("da") < col("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        Fns.money(lit(1.0)).as("jaccard"))
    cross.unionAll(within).orderBy(col("doc_a"), col("doc_b"))
  }

  /** The contracted pipeline UP TO the group-pair stage: returns
    * (`groups`, `verified`) where `groups` is one row per distinct
    * token-hash set (rep, members, th, sig) and `verified` is the
    * Jaccard-verified group-pair relation (rep_a, rep_b, jaccard) —
    * everything BEFORE the member×member doc-pair expansion, so rollup
    * consumers ([[dedupThresholdCurve]]) can aggregate at group
    * granularity and never materialize the expanded pair set. */
  private def minhashGroupPairs(spark: SparkSession, dir: String,
      threshold: Double, bandSubset: Option[Seq[Int]]): (DataFrame, DataFrame) = {
    // the contraction (token-hash sets → one row per distinct set, with
    // members and the MinHash signature) is a deterministic derivation
    // of the corpus — materialized once per JVM via the derived-relation
    // store (the shingle-index discipline) and shared by the pair
    // pipeline, the threshold curve and the sketch-agreement eval. The
    // eager checkpoint on the read stays: the relation feeds multiple
    // branches of the returned lazy plan (no safe unpersist point).
    val groups = minhashGroups(spark, dir).localCheckpoint(true)

    // band rows carry size(th) (ONE int) so the size-ratio prefilter —
    // jaccard ≤ min/max, the same lossless cut jaccardAtLeast re-applies
    // after the th join — runs directly on the band-join output, BEFORE
    // the distinct: measured at sf0.1 it cuts the distinct input
    // 4.17 M → 2.19 M rows, the distinct output (= th-join probes)
    // 2.86 M → 1.33 M pairs, and changes no survivor (28 690 either way)
    val bandsAll = bandRows(
      groups.select(col("rep").as("doc_id"), col("sig"),
        size(col("th")).as("sz")), carry = Seq("sz"))
    val bands = bandSubset match {
      case Some(bs) => bandsAll.filter(col("band").isin(bs: _*))
      case None     => bandsAll
    }
    // join + DISTINCT on narrow (rep_a, rep_b) rows. Measured alternative
    // (bucket collect_list + in-array pair combinations + first-band
    // dedup filter): 8× slower — combination structs haul the full
    // signature arrays through the shuffle. Narrow pair rows win.
    val cand0 = bands.as("a")
      .join(bands.as("b"),
        Seq("band", "k1", "k2", "k3", "k4"))
      .filter(col("a.doc_id") < col("b.doc_id") &&
        least(col("a.sz"), col("b.sz")) >=
          lit(threshold) * greatest(col("a.sz"), col("b.sz")))
      .select(col("a.doc_id").as("rep_a"), col("b.doc_id").as("rep_b"))
    // single-band sampling can't duplicate a pair (one row per group) —
    // the distinct shuffle is pure cost there
    val cand =
      if (bandSubset.exists(_.size == 1)) cand0 else cand0.distinct()

    // verify-join strategy, measured BOTH ways under AQE (round 11):
    // on the FULL 4-band path the th-attach joins are best left to AQE's
    // runtime broadcast (merge/shuffle_hash hints re-sort the ~1.3 M
    // narrow candidate rows twice: 3.09 s hinted vs 2.19 s unhinted);
    // on the SINGLE-BAND sampled path ([[dedupThresholdCurve]]) the
    // candidate relation is a fraction of that and the broadcast-probe
    // copy of the O(|th|) arrays dominates instead — merge measured
    // 1.94-2.06 s vs 2.35 s converted. One boundary, both directions
    // recorded; at corpus scale the group relation outgrows broadcast
    // and BOTH paths land on the merge shape AQE picks there anyway.
    val sampled = bandSubset.exists(_.size == 1)
    def strat(df: DataFrame): DataFrame = if (sampled) df.hint("merge") else df
    val ta = groups.select(col("rep").as("rep_a"), col("th").as("th_a"))
    val tb = groups.select(col("rep").as("rep_b"), col("th").as("th_b"))
    val verified = jaccardAtLeast(
      cand.join(strat(ta), "rep_a").join(strat(tb), "rep_b"),
      "th_a", "th_b", threshold)
      .select(col("rep_a"), col("rep_b"), Fns.money(col("jaccard_raw")).as("jaccard"))
    (groups, verified)
  }

  /** The MinHash token-set contraction `(th, rep, members, sig)` — one
    * row per distinct sorted token-hash set, with the group's member
    * list and its one-pass native MinHash signature (K/P pinned in
    * [[graft.functions.MinhashSig]]; min over a set is duplicate/order-
    * independent, so sorted-distinct input gives the oracle-identical
    * value). Derived once per JVM ([[graft.engine.Derived]]). */
  private def minhashGroups(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Derived.cached(spark, "minhash_groups", dir) {
      Tables.documents(spark, dir)
        .withColumn("th", tokenHashSet)
        .select(col("doc_id"), col("th"))
        .groupBy(col("th"))
        .agg(min(col("doc_id")).as("rep"), collect_list(col("doc_id")).as("members"))
        .withColumn("sig", expr("minhash_sig(th)"))
    }

  /** The SimHash fingerprint contraction `(simhash, rep, m, members)` —
    * [[fpGroups]] over the 64-bit corpus fingerprints, derived once per
    * JVM and shared by the pair pipeline and the whole CC family
    * (clusters, canonical docs, size histogram, source dup ratio). */
  private def simhashGroups(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Derived.cached(spark, "simhash_groups", dir) {
      fpGroups(simhashFingerprints(spark, dir))
    }

  /** Doc-level pair generation — the path the `maxBucketSize` hot-bucket
    * cut runs on: the cap's semantics COUNT DOCS per band bucket (the
    * oracle replays exactly that), which contraction would silently
    * change to counting groups. */
  private def minhashPairsByDoc(spark: SparkSession, dir: String,
      threshold: Double, maxBucketSize: Option[Int],
      bandSubset: Option[Seq[Int]]): DataFrame = {
    // persisted, not memory-only cached: feeds three plan branches (band
    // explode + both sides of the verify join); spills under pressure
    // instead of evicting into a recompute storm
    val docs = withSignature(Tables.documents(spark, dir))
      .withColumn("th", expr("array_sort(array_distinct(th))"))
      .select(col("doc_id"), col("th"), col("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // band rows keyed by the R raw signature longs — no string building,
    // the shuffle key is (band, k1..k4); size(th) rides along (one int)
    // for the pre-distinct size-ratio cut below
    val bandsSz = bandRows(
      docs.select(col("doc_id"), col("sig"), size(col("th")).as("sz")),
      carry = Seq("sz"))
    val bands0 = bandSubset match {
      case Some(bs) => bandsSz.filter(col("band").isin(bs: _*))
      case None     => bandsSz
    }

    // hot-bucket cut: the count window shuffles on the same key as the
    // self-join below, so AQE reuses the exchange. The window counts
    // docs BEFORE the size-ratio cut (the cap's oracle-replayed
    // semantics count bucket membership, not qualifying pairs)
    val bands = maxBucketSize match {
      case Some(cap) =>
        val w = Window.partitionBy(col("band"), col("k1"), col("k2"), col("k3"), col("k4"))
        bands0.withColumn("__bsz", count(lit(1)).over(w))
          .filter(col("__bsz") <= cap).drop("__bsz")
      case None => bands0
    }

    // the same lossless size-ratio prefilter as the contracted path:
    // jaccard ≤ min/max, so pairs failing it cannot reach the threshold
    // — identical to the cut jaccardAtLeast re-applies after the th join
    val cand0 = bands.as("a")
      .join(bands.as("b"),
        Seq("band", "k1", "k2", "k3", "k4"))
      .filter(col("a.doc_id") < col("b.doc_id") &&
        least(col("a.sz"), col("b.sz")) >=
          lit(threshold) * greatest(col("a.sz"), col("b.sz")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val cand =
      if (bandSubset.exists(_.size == 1)) cand0 else cand0.distinct()

    val ta = docs.select(col("doc_id").as("doc_a"), col("th").as("th_a"))
    val tb = docs.select(col("doc_id").as("doc_b"), col("th").as("th_b"))
    jaccardAtLeast(cand.join(ta, "doc_a").join(tb, "doc_b"), "th_a", "th_b", threshold)
      .select(col("doc_a"), col("doc_b"), Fns.money(col("jaccard_raw")).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Incremental near-dup admission — the nightly-ingest question a
    * 100 TB corpus actually asks: for each document of an incoming
    * BATCH, is it a MinHash near-duplicate (exact Jaccard ≥ `threshold`)
    * of anything already IN the corpus, and of what? One row per batch
    * doc: `(doc_id, is_dup, match_id, jaccard)` with `match_id` the
    * best corpus match (highest rounded Jaccard, ties to the smallest
    * corpus doc_id) and nulls when nothing matches. Batch-INTERNAL
    * duplicates are out of scope by design ([[minhashPairs]] over the
    * batch answers that); the fixture split is `doc_id % batchMod == 0`
    * = batch, the rest = corpus.
    *
    * Scale shape — the point of the operator: the corpus side is
    * MAP-ONLY. Token hashes, signature, and band keys are per-row
    * expressions; the batch's band index arrives by broadcast; and only
    * broadcast-join SURVIVORS ever reach an exchange — the corpus is
    * scanned once and never shuffled, the [[graft.text.TextAnalysis
    * .decontaminate]] discipline applied to LSH. There is no DISTINCT
    * anywhere: a pair colliding in several bands produces duplicate
    * candidate rows that collapse inside the per-batch-doc argmax
    * aggregate (map-side-combining), which is also what bounds the
    * exchange to survivor scale. The batch side contracts to distinct
    * token sets first (identical sets share signature, candidates, and
    * verdict), so a clone-heavy batch probes once per distinct set and
    * fans out to docs only at output.
    *
    * The per-set signatures the batch side computes here are exactly
    * the stored index [[signaturesFor]] maintains
    * ([[graft.streaming.CorpusIngest]]); a deployment reads that index
    * instead of re-deriving corpus bands per ingest.
    *
    * Batch-size assumption (round-10 ADVICE #2): the band index
    * broadcast carries the token-hash array per band row — B rows per
    * distinct batch set — so it scales with the BATCH, not the corpus,
    * and a nightly batch must fit the driver/broadcast budget. The
    * guard is enforced: above `maxBroadcastSets` distinct sets (counted
    * on the already-checkpointed batch relation, a metadata-scale job)
    * the probe DEGRADES to a shuffled band join — same survivors, but
    * the corpus band rows now cross an exchange, so the map-only
    * promise is traded for not OOMing the driver. A batch that big is
    * really a backfill: run [[minhashPairs]] over the union instead. */
  def dedupIncremental(spark: SparkSession, dir: String,
      threshold: Double = 0.9, batchMod: Int = 10,
      maxBroadcastSets: Long = maxBroadcastRows): DataFrame = {
    val all = Tables.documents(spark, dir)
      .withColumn("th", tokenHashSet)
      .select(col("doc_id"), col("th"))
    val isBatch = col("doc_id") % batchMod === 0
    // batch side, contracted + checkpointed: feeds the band probe, the
    // verify arrays, and the final member expansion
    val bGroups = all.filter(isBatch)
      .groupBy(col("th"))
      .agg(min(col("doc_id")).as("brep"), collect_list(col("doc_id")).as("bmem"))
      .withColumn("sig", expr("minhash_sig(th)"))
      .localCheckpoint(true)
    val bBands = bandRows(
        bGroups.select(col("brep").as("doc_id"), col("sig"), col("th").as("th_b")),
        carry = Seq("th_b"))
      .withColumnRenamed("doc_id", "brep")
    // corpus side: doc-level and map-only; th rides the band explode so
    // the verify needs no join back against the corpus (the array is
    // copied per band row WITHIN the scan task — CPU for zero shuffle)
    val cBands = bandRows(
        all.filter(!isBatch)
          .withColumn("sig", expr("minhash_sig(th)"))
          .withColumnRenamed("th", "th_a"),
        carry = Seq("th_a"))
      .withColumnRenamed("doc_id", "cdoc")
    // enforced broadcast guard (see scaladoc): the count reads the
    // checkpoint just materialized, not the documents scan
    val nSets = bGroups.count()
    val probe =
      if (nSets <= maxBroadcastSets)
        cBands.join(broadcast(bBands), Seq("band", "k1", "k2", "k3", "k4"))
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"dedupIncremental: $nSets distinct batch sets exceed " +
            s"maxBroadcastSets=$maxBroadcastSets — degrading to a shuffled " +
            "band join (corpus bands will cross an exchange)")
        cBands.join(bBands, Seq("band", "k1", "k2", "k3", "k4"))
      }
    val verified = jaccardAtLeast(probe, "th_a", "th_b", threshold)
      .select(col("brep"), col("cdoc"), Fns.money(col("jaccard_raw")).as("jaccard"))
    // per-batch-set argmax: (rounded jaccard DESC, corpus doc ASC) —
    // multi-band duplicates are absorbed by the max, never distinct'd
    val best = verified.groupBy(col("brep"))
      .agg(max(struct(col("jaccard"), (-col("cdoc")).as("nm"))).as("b"))
      .select(col("brep"), (-col("b.nm")).as("match_id"), col("b.jaccard").as("jaccard"))
    bGroups.select(explode(col("bmem")).as("doc_id"), col("brep"))
      .join(broadcast(best), Seq("brep"), "left")
      .select(col("doc_id"), col("match_id").isNotNull.as("is_dup"),
        col("match_id"), col("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** Exact-Jaccard gate shared by every verification path (minhash,
    * n-gram cut, streaming ingest admission): size-ratio prefilter
    * (jaccard ≤ min/max, so failing pairs can't reach the threshold),
    * codegen'd merge-scan intersect, threshold filter. Keeping it in one
    * place keeps admission and pair-generation semantics provably
    * identical. Adds `inter` and `jaccard_raw` columns. */
  private[graft] def jaccardAtLeast(df: DataFrame, thA: String, thB: String,
      threshold: Double): DataFrame =
    df.filter(least(expr(s"size($thA)"), expr(s"size($thB)")) >=
        lit(threshold) * greatest(expr(s"size($thA)"), expr(s"size($thB)")))
      .withColumn("inter", expr(s"sorted_intersect_size($thA, $thB)"))
      .withColumn("jaccard_raw",
        col("inter") / (expr(s"size($thA)") + expr(s"size($thB)") - col("inter")))
      .filter(col("jaccard_raw") >= threshold)

  /** Sorted-distinct token hashes + MinHash signature for any document
    * relation — the per-batch form [[graft.streaming.CorpusIngest]]
    * maintains as its stored index. */
  private[graft] def signaturesFor(docs: DataFrame): DataFrame =
    withSignature(docs)
      .withColumn("th", expr("array_sort(array_distinct(th))"))
      .select(col("doc_id"), col("th"), col("sig"))

  /** MinHash band rows for a signature relation — shared by the pair
    * pipeline and the streaming ingest index probe so both run the
    * identical plan. */
  private[graft] def bandRows(docs: DataFrame, carry: Seq[String] = Nil): DataFrame =
    docs.select(
      (col("doc_id") +: carry.map(col)) :+
      explode(expr(
        s"""transform(sequence(0, ${B - 1}), b -> named_struct(
            'band', b,
            'k1', element_at(sig, b * $R + 1), 'k2', element_at(sig, b * $R + 2),
            'k3', element_at(sig, b * $R + 3), 'k4', element_at(sig, b * $R + 4)))"""))
        .as("bb"): _*)
      .select(col("doc_id") +: carry.map(col) :+ col("bb.band").as("band") :+
        col("bb.k1").as("k1") :+ col("bb.k2").as("k2") :+ col("bb.k3").as("k3") :+
        col("bb.k4").as("k4"): _*)

  /** Unsorted per-doc fingerprints — shared by [[simhash]] (which adds
    * the output ordering) and [[simhashPairs]] (which must not pay for a
    * sort it immediately discards into a join).
    *
    * 64-bit (VERDICT r2 #5 — at ≫2³² docs a 32-bit simhash fabricates
    * near-dup pairs by birthday collision; production simhash is 64-bit).
    * Each token contributes 64 independent bits taken from two 32-bit
    * md5 halves (a single `conv` of 16 hex chars overflows BIGINT on
    * both engines, so bits 0-31 come from md5[1..8], bits 32-63 from
    * md5[9..16]). Bit 63 makes the fingerprint negative by design —
    * the banding mask (`& 255`) and `bit_count(xor)` are sign-safe.
    *
    * The bit-vote fold runs through the native codegen'd
    * [[graft.functions.Simhash64]] expression: the equivalent
    * `aggregate(transform(sequence(0,63), …))` HOF is interpreted
    * per-lambda-call and measured 64-bit at ~2× the whole 32-bit
    * pipeline's cost; the md5 halves stay in (codegen'd) `transform`s. */
  private def simhashFingerprints(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("toks", expr("array_distinct(split(text, ' '))"))
      .withColumn("th_lo", expr(
        "transform(toks, t -> CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT))"))
      .withColumn("th_hi", expr(
        "transform(toks, t -> CAST(conv(substr(md5(t), 9, 8), 16, 10) AS BIGINT))"))
      .select(col("doc_id"), expr("simhash64(th_lo, th_hi)").as("simhash"))
  }

  /** 64-bit SimHash per document: per-bit votes over distinct-token
    * hashes (bit set in hash → +1, else −1), bit set in the output when
    * the vote is positive. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashFingerprints(spark, dir).orderBy(col("doc_id"))

  /** SimHash near-duplicate PAIRS via pigeonhole banding: the 64-bit
    * fingerprint splits into equal bands; any pair within Hamming
    * distance ≤ d must leave at least one band untouched when there are
    * at least d+1 bands, so the band-bucket equi-join is a LOSSLESS
    * candidate generator — no all-pairs comparison — and the exact
    * `bit_count(xor)` check keeps only true matches. The classic
    * fingerprint-blocking scheme.
    *
    * Band count is the COARSEST lossless choice for the Hamming budget:
    * 4 bands of 16 bits for d ≤ 3 (the default), 8 bands of 8 bits up
    * to d = 7. Wider bands are strictly more selective — a 16-bit key
    * has 65 536 bucket values vs 256, so unrelated fingerprints
    * (uniform bits) collide 256× less often. Measured at sf0.1: 2.4M
    * candidate rows vs 16.2M and 4.4× faster end-to-end, identical
    * final pair set (the pigeonhole bound guarantees it). */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    simhashPairsUnsorted(spark, dir, maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))

  /** DISTINCT-FINGERPRINT groups: `(simhash, rep, m, members)` — one row
    * per distinct 64-bit fingerprint with its smallest member doc_id,
    * member count, and member list. The contraction backbone of the whole
    * simhash family: the Hamming predicate is a pure function of the
    * fingerprint, so docs sharing one are interchangeable in the near-dup
    * graph — candidate generation, verification, and the CC fixpoint all
    * run on this relation (bounded by DISTINCT fingerprints, not corpus
    * rows) and expand back to docs only at output time. On a dup-heavy
    * corpus the shrink is quadratic where it matters: a group of m
    * identical fingerprints contributes m band rows per band (m²
    * candidate rows per bucket) uncontracted, ONE row contracted —
    * measured at sf0.1: 5 000 docs → 3 866 groups, 166 267 doc pairs →
    * 8 746 fp pairs in the verify/fixpoint path.
    *
    * Carrying `members` (the [[minhashPairsContracted]] discipline) is
    * what lets every consumer expand group→docs with a single `explode`
    * instead of a doc-scale join back to a separately-checkpointed
    * fingerprint relation — one materialization and one shuffle fewer per
    * query (measured round 10). A pathological mega-group (millions of
    * byte-identical docs) makes one row's array large; that corpus is
    * [[exact]]-dedup's job first, same caveat as the minhash family. */
  private def fpGroups(fp: DataFrame): DataFrame =
    fp.groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("m"),
        collect_list(col("doc_id")).as("members"))

  /** Verified near-dup pairs between DISTINCT fingerprints:
    * `(sh_a, sh_b, rep_a, rep_b, hamming)` with `rep_a < rep_b`, via the
    * pigeonhole band join over the (contracted) group relation. Same
    * lossless-banding argument as [[simhashPairs]]; hamming-0 pairs
    * cannot appear here by construction (equal fingerprints are the SAME
    * group) — within-group pairs are expanded separately where an
    * operator needs them. */
  private def fpPairs(groups: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 7, "banding of 64 bits is lossless only up to Hamming 7")
    val nBands = if (maxHamming <= 3) 4 else 8 // coarsest lossless power-of-two split
    val width = 64 / nBands
    val mask = (1L << width) - 1
    // fingerprints ride through the candidate distinct (two fixed-width
    // longs — measured cheaper inline than a join-back; see git history)
    val bands = groups.select(col("rep"), col("simhash"),
      explode(expr(
        s"""transform(sequence(0, ${nBands - 1}), b ->
           named_struct('band', b, 'key', shiftright(simhash, b * $width) & $mask))""")).as("bb"))
      .select(col("rep"), col("simhash"),
        col("bb.band").as("band"), col("bb.key").as("key"))
    bands.as("a").join(bands.as("b"), Seq("band", "key"))
      .filter(col("a.rep") < col("b.rep"))
      .select(col("a.rep").as("rep_a"), col("b.rep").as("rep_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      // hamming BEFORE the dedup exchange: bit_count is a codegen'd
      // per-row op, so verifying first means only true near-pairs (not
      // every band collision, up to nBands copies each) pay the
      // distinct's shuffle — filter and distinct commute here
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** [[simhashPairs]] without the terminal presentation sort — the form
    * consumers that immediately join/aggregate (e.g.
    * [[nearDupClusters]]) use, so the full-shuffle global sort isn't
    * paid just to be discarded.
    *
    * Contraction shape ([[fpGroups]]): band join + Hamming verify run
    * over distinct fingerprints; doc pairs come back by expansion —
    * cross-group pairs explode the member lists carried on both endpoint
    * groups (normalized to doc_a < doc_b; group membership does not
    * follow rep order), within-group pairs are the member×member explode
    * at Hamming 0. Both expansions are output-bound, and neither needs a
    * doc-scale join back to a fingerprint relation. */
  private def simhashPairsUnsorted(spark: SparkSession, dir: String,
      maxHamming: Int): DataFrame = {
    // eager checkpoint: groups feed the pair pipeline AND both expansion
    // branches of the returned lazy plan, which has no safe unpersist
    // point; checkpoint blocks are freed by the context cleaner when the
    // result is dereferenced
    val groups = simhashGroups(spark, dir).localCheckpoint(true)
    val fpp = fpPairs(groups, maxHamming)
    val cross = fpp
      .join(groups.select(col("simhash").as("sh_a"), col("members").as("mem_a")), "sh_a")
      .join(groups.select(col("simhash").as("sh_b"), col("members").as("mem_b")), "sh_b")
      .select(explode(col("mem_a")).as("da"), col("mem_b"), col("hamming"))
      .select(col("da"), explode(col("mem_b")).as("db"), col("hamming"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        col("hamming").cast("int").as("hamming"))
    val within = groups
      .filter(col("m") >= 2)
      .select(explode(col("members")).as("da"), col("members"))
      .select(col("da"), explode(col("members")).as("db"))
      .filter(col("da") < col("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        lit(0).cast("int").as("hamming"))
    cross.unionAll(within)
  }

  /** Near-duplicate CLUSTER resolution: connected components over the
    * [[simhashPairs]] edge set via hash-to-min label propagation —
    * cluster id = smallest doc_id reachable through near-dup edges, so
    * "keep one doc per cluster" becomes `filter(doc_id = cluster_id)`.
    * The step a real dedup pipeline needs beyond PAIRS: transitive
    * near-dups (A≈B≈C with A¬≈C) must still collapse to one survivor.
    *
    * The fixpoint runs on the CONTRACTED distinct-fingerprint graph
    * ([[fpClusters]]) — 19× fewer edges on this fixture — and expands
    * to docs only for the final output.
    *
    * Scale shape: iterative-join CC with POINTER JUMPING — each round
    * takes the min over graph neighbors, then follows the label one hop
    * (`label[label[u]]`, valid because a label is always a member doc_id
    * of the same component), so convergence is O(log diameter) rounds
    * instead of O(diameter): a 10⁶-doc chain converges in ~20 rounds.
    * (A double jump per round was measured: it does NOT cut rounds on
    * near-dup graphs — components are clique-like, so the single jump
    * already collapses them — and doubles the per-round join count.)
    * Three constant-factor disciplines, each measured on this fixture:
    *
    *  - Edges are hash-REPARTITIONED on the probe key `doc_b` before the
    *    persist, so every round's edges⋈labels join reuses the cached
    *    partitioning and only the (tiny, edge-touched) label relation
    *    shuffles — without it the full edge relation re-shuffles every
    *    round.
    *  - The neighbor-min and keep-own-label steps fuse into one
    *    union + min-aggregate (no separate left join) — one shuffle
    *    fewer per round than the join+agg+left-join shape.
    *  - Each round materializes through a LAZY `localCheckpoint`: the
    *    convergence scalar's action is the same job that computes and
    *    caches the round, so a round is ONE job, not two (checkpoint
    *    truncation is still mandatory — iterative plans otherwise nest
    *    one level per round until the driver OOMs on plan analysis,
    *    observed on this fixture's 179-doc chain component).
    *
    * The driver loop carries only the label-sum scalar per round; labels
    * stay distributed and the fixpoint is order-independent (min is
    * commutative), hence deterministic on any cluster size. Singleton
    * docs keep themselves as cluster id. */
  def nearDupClusters(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    nearDupClustersUnsorted(spark, dir, maxHamming).orderBy(col("doc_id"))

  /** [[nearDupClusters]] without the terminal presentation sort — for
    * consumers that immediately join/aggregate/checkpoint the relation
    * ([[canonicalDocs]], [[sourceDupRatio]]): the eager checkpoint in
    * canonicalDocs was MATERIALIZING the range-exchange sort only to
    * feed joins that destroy the order. */
  private[graft] def nearDupClustersUnsorted(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    val gl = fpClusters(spark, dir, maxHamming)
    val sizes = gl.groupBy(col("cluster_id")).agg(sum(col("m")).as("cluster_size"))
    gl.select(explode(col("members")).as("doc_id"), col("cluster_id"))
      .join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** Group-level cluster resolution shared by the CC family: the labeled
    * group relation `(simhash, rep, m, members, cluster_id)`. The
    * fixpoint runs over the CONTRACTED rep graph
    * ([[fpGroups]]/[[fpPairs]]): a fingerprint group is a clique
    * (Hamming 0), so contracting it cannot change components, and the
    * component's min doc_id equals the min rep (every rep is its group's
    * min member). Untouched groups label themselves (`rep`), which also
    * covers m ≥ 2 groups with no external edges (an all-identical
    * cluster) and singletons uniformly. Operators that only need
    * cluster-level numbers ([[clusterSizeHist]]) aggregate `m` and never
    * touch `members`; doc-level consumers expand via ONE explode — no
    * doc-scale join, no separate fingerprint checkpoint. */
  private def fpClusters(spark: SparkSession, dir: String,
      maxHamming: Int): DataFrame =
    // derived-relation store, not a per-query checkpoint: the labeled
    // group relation is a pure function of (dir, maxHamming) consumed by
    // FIVE query surfaces (dedup_clusters, dedup_canonical,
    // cluster_size_hist, source_dup_ratio, cluster_split) — the CC
    // fixpoint runs once per JVM and everyone reads the labels back (a
    // production dedup tier maintains cluster labels as a table; the
    // streaming ingest path in ClusterMaintain IS that maintenance).
    // Longs/arrays round-trip parquet exactly; the fixpoint is
    // order-independent (min-label), hence deterministic. The read
    // re-checkpoints per query: consumers fan out into a size aggregate
    // plus a doc-level explode, and block-manager blocks beat
    // re-decoding parquet per consumer. NESTED derivation by design
    // (simhashGroups is itself Derived-cached — the engine.Memo slot
    // build runs outside the registry's bin lock).
    graft.engine.Derived.cached(spark, s"fpclusters_h$maxHamming", dir) {
      // eager checkpoint: groups feed the pair pipeline (via the
      // fixpoint's edge materialization) AND the labeled output below
      val groups = simhashGroups(spark, dir).localCheckpoint(true)
      val labels = minLabelFixpoint(fpPairs(groups, maxHamming)
        .select(col("rep_a").as("doc_a"), col("rep_b").as("doc_b")))
      groups
        .join(labels.withColumnRenamed("doc_id", "__m"),
          col("rep") === col("__m"), "left")
        .select(col("simhash"), col("rep"), col("m"), col("members"),
          coalesce(col("label"), col("rep")).as("cluster_id"))
    }.localCheckpoint(true)

  /** Hash-to-min label-propagation fixpoint with pointer jumping over an
    * undirected pair list `(doc_a, doc_b)` — returns `(doc_id, label)`
    * for every edge-touched node, label = smallest reachable id.
    *
    * The LOOP runs on pair RDDs under one shared [[HashPartitioner]] —
    * the one place in this repo where dropping below the DataFrame API
    * is the right call, for the same reason GraphX/Pregel lives on RDDs:
    *
    *  - The edge relation is partitioned ONCE and persisted; every
    *    round's edges⋈labels lookup is then a NARROW co-partitioned join
    *    (zero shuffle on the big side, ever). The DataFrame form could
    *    only pre-partition edges and still re-shuffled the label relation
    *    into place each round.
    *  - A round is one job of three label-scale shuffles with no Catalyst
    *    analysis, no AQE re-planning, and no per-round plan growth (so no
    *    checkpoint-truncation machinery either) — measured ~4× less
    *    per-round fixed cost than the DataFrame loop at equal round
    *    count; at label scale the driver-side overhead WAS the round.
    *
    * The boundary of this trick (measured, round 10): it pays ONLY while
    * per-round data is state-scale. The pagerank/LPA loops in
    * [[graft.queries.Graphs]] emit EDGE-scale rows per round (millions
    * of contribution tuples), and the same RDD port made them 1.4-3.6×
    * SLOWER there — boxed tuple shuffles lose to Tungsten unsafe rows +
    * codegen'd hash aggregation as soon as volume dominates fixed cost.
    * Those loops stay on DataFrames by measurement (BASELINE.md
    * round-10).
    *
    * Self-loop edges (u, u) make the neighbor-min include the own label,
    * fusing keep-own-label into the single reduceByKey — the same
    * one-shuffle fusion the DataFrame form achieved with a union leg.
    * Each round then pointer-jumps (`label[label[u]]`, valid because a
    * label is always a member id of the same component), so convergence
    * is O(log diameter) rounds. Convergence detection rides the
    * label-sum invariant: every update strictly decreases some label, so
    * an O(scan) sum action per round doubles as the job that
    * materializes the round's persist. Deterministic on any cluster
    * size: min is commutative, the partitioner only routes. */
  private[graft] def minLabelFixpoint(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val pr = pairs.select(col("doc_a"), col("doc_b")).as[(Long, Long)].rdd
    // partition count INHERITED from the (AQE-coalesced) pair relation:
    // the label state is edge-scale, so the upstream's post-shuffle
    // sizing is exactly the right parallelism for the loop — a fixed
    // defaultParallelism was measured 4× slower here (32 near-empty
    // tasks × 3 stages × rounds of pure scheduling latency), while at
    // corpus scale AQE hands back proportionally more partitions
    val part = new org.apache.spark.HashPartitioner(
      math.max(1, pr.getNumPartitions))
    // edges keyed by the NEIGHBOR whose label flows across: (v, u) per
    // direction, plus self-loops so a node's own label rides the same
    // join (keep-own-label fused into the one reduceByKey). Self-loops
    // are emitted per incident edge, NOT deduped — duplicates only add
    // redundant candidate rows that the map-side combine squashes,
    // cheaper than a whole setup-time distinct shuffle. Partitioned
    // once, persisted MEMORY_AND_DISK (spills under pressure instead of
    // evicting into a recompute storm — the pair pipeline above is the
    // expensive part).
    val edges = pr
      .flatMap { case (a, b) => Iterator((a, b), (b, a), (a, a), (b, b)) }
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)

    def jump(l: org.apache.spark.rdd.RDD[(Long, Long)]) =
      l.map { case (u, lab) => (lab, u) }
        .join(l, part)
        .map { case (_, (u, ll)) => (u, ll) }
        .partitionBy(part)

    def labelSum(l: org.apache.spark.rdd.RDD[(Long, Long)]): Long =
      l.aggregate(0L)((acc, kv) => acc + kv._2, _ + _)

    // init: label = min(self, neighbors) via the self-loop edges — the
    // same seed as one loop round without the jump — then one jump, which
    // saves a full round on chain-shaped components (measured on the
    // fixture's 179-doc chain)
    var labels = jump(edges.reduceByKey(part, math.min(_: Long, _: Long)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var prevSum = labelSum(labels)
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      require(rounds <= 64, "connected components failed to converge in 64 rounds")
      // NARROW join (edges and labels share the partitioner): for edge
      // (v, u), v's label becomes a candidate for u; the self-loop
      // delivers u's own label; one reduceByKey folds the min
      val m1 = edges.join(labels, part)
        .map { case (_, (u, lv)) => (u, lv) }
        .reduceByKey(part, math.min(_: Long, _: Long))
      val next = jump(m1).persist(StorageLevel.MEMORY_AND_DISK)
      val newSum = labelSum(next)
      converged = newSum == prevSum
      prevSum = newSum
      labels.unpersist(false)
      labels = next
    }
    edges.unpersist(false)
    // hand back an eagerly-checkpointed label-scale DataFrame so BOTH
    // loop RDD persists can be released here and now — returning a
    // DataFrame over the persisted `labels` would leak one pinned RDD
    // per query (nothing downstream could safely unpersist it, and
    // recomputing it after unpersist would re-run the whole pair
    // pipeline). Checkpoint blocks are freed by the context cleaner
    // when the result is dereferenced, the established pattern here.
    val out = labels.toDF("doc_id", "label").localCheckpoint(true)
    labels.unpersist(false)
    out
  }

  /** Connected components over an ARBITRARY undirected pair relation —
    * the [[minLabelFixpoint]] engine as a public operator: any near-dup
    * pair source (MinHash, SimHash, embedding LSH, edit distance, a
    * user's own join) resolves to transitive clusters with the same
    * one-narrow-join-per-round RDD loop, O(log diameter) rounds, and
    * deterministic min-id labels. Returns `(node, component)` for every
    * edge-touched node (both columns cast to BIGINT); nodes absent from
    * the pair relation are their own singleton components by definition —
    * attach with a left join + coalesce, as [[embeddingClusters]] does. */
  def connectedComponents(pairs: DataFrame, srcCol: String, dstCol: String): DataFrame =
    minLabelFixpoint(pairs.select(
        col(srcCol).cast("long").as("doc_a"),
        col(dstCol).cast("long").as("doc_b")))
      .select(col("doc_id").as("node"), col("label").as("component"))

  /** Transitive near-duplicate CLUSTERS over the embedding-cosine pair
    * graph — [[connectedComponents]] composed onto [[embeddingPairs]]:
    * A≈B≈C with A¬≈C must still collapse to one cluster before a keep-one
    * pass, exactly the [[nearDupClusters]] semantics but on the embedding
    * modality (the complement of SemDeDup's centroid-capped variant,
    * [[graft.sim.Similarity.semanticDedup]], which bounds work per
    * k-means cell instead of chasing transitivity). Every vector gets a
    * row; vectors with no qualifying pair are singleton clusters.
    *
    * Scale shape: pairs come from the hyperplane-bucketed candidate join
    * (never all-pairs; `nPlanes` is the 100 TB bucket-population lever),
    * the fixpoint is label-scale per round, and the final size/attach
    * joins are node-scale. */
  def embeddingClusters(spark: SparkSession, dir: String,
      threshold: Double = 0.2, nPlanes: Int = 8): DataFrame = {
    val labels = connectedComponents(
      embeddingPairsUnsorted(spark, dir, threshold, nPlanes), "id_a", "id_b")
    val assigned = Tables.embeddings(spark, dir).select(col("vec_id"))
      .join(labels.withColumnRenamed("node", "__n"),
        col("vec_id") === col("__n"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("cluster_id"))
    val sizes = assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    assigned.join(sizes, "cluster_id")
      .select(col("vec_id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("vec_id"))
  }

  /** The corpus 3-gram shingle-hash index `(doc_id, shh, n_sh)` —
    * sorted distinct 60-bit hashes per doc, the relation BOTH
    * containment variants and both n-gram-Jaccard variants feed from.
    * Derived once per JVM through [[graft.engine.Derived]]: the
    * derivation (split → 3-gram strings → md5/conv hash → sort) is all
    * interpreted higher-order lambdas and measured ~5 s at sf0.1 —
    * 3-4× the candidate join + exact verify it feeds — so re-deriving
    * it per query was the dominant cost of the whole dedup-containment
    * family. Production shape: the shingle index is a materialized
    * table maintained beside the corpus, not a per-query recompute. */
  private[graft] def shingleIndex(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Derived.cached(spark, "shingles3", dir)(shingleIndexBuild(spark, dir))

  /** Footer-metadata row bound of the shingle index (no Spark job) —
    * an upper bound on any slice of it, for broadcast admission guards. */
  private def shingleIndexRowBound(spark: SparkSession, dir: String): Long =
    graft.engine.Derived.rowCount(spark, "shingles3", dir)(shingleIndexBuild(spark, dir))

  private def shingleIndexBuild(spark: SparkSession, dir: String): DataFrame =
    withShingles(Tables.documents(spark, dir))
      .withColumn("shh", expr(
        """array_sort(array_distinct(transform(shingles, s ->
           CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT))))"""))
      .select(col("doc_id"), col("shh"), expr("size(shh)").as("n_sh"))

  /** Distinct word 3-gram shingles per doc. */
  private def withShingles(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", expr("split(text, ' ')"))
      .withColumn("shingles", expr(
        """array_distinct(CASE WHEN size(toks) < 3 THEN array()
           ELSE transform(sequence(1, size(toks) - 2), i ->
             concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),
                       element_at(toks, i + 2)))
           END)"""))

  /** DIRECTED containment near-duplicates: `(doc_id, container_id)`
    * pairs where `|S_a ∩ S_b| / |S_a| ≥ threshold` over the same 3-gram
    * shingle sets as [[ngramJaccardPairs]]. Containment is the measure
    * Jaccard structurally misses: a 50-shingle quote embedded verbatim
    * in a 5 000-shingle article has jaccard ≈ 0.01 but containment 1.0 —
    * exactly the doc-inside-doc duplication (syndicated excerpts, quoted
    * posts, boilerplate-wrapped reprints) corpus curation prunes.
    *
    * Scale shape: the Jaccard variant's lossless size-ratio cut does
    * NOT exist here — containment pairs are size-asymmetric by
    * definition (the small side's containment in the large side is the
    * interesting direction). The lossless cut that DOES exist is the
    * asymmetric PREFIX FILTER (Chaudhari et al.'s AllPairs/PPJoin idea
    * applied to containment): if `|S_a ∩ S_b| ≥ τ·|S_a|` then the first
    * `|S_a| − ⌊τ·|S_a|⌋ + 1` of a's ASCENDING-sorted shingle hashes must
    * hit S_b (a can miss at most |S_a| − ⌈τ·|S_a|⌉ shingles; ⌊·⌋ keeps
    * the bound conservative under double rounding). So the containee
    * side indexes only its ~(1−τ) prefix while the container side
    * indexes everything — index entries drop ~5× at τ=0.8 (measured at
    * sf0.1: 9.1 s grouped-count formulation → 5.0 s prefix cut +
    * size cut + verify), and survivors are re-verified EXACTLY on full
    * sorted sets via the codegen'd merge-scan `sorted_intersect_size`,
    * so the filter is lossless and the oracle replays the plain
    * inverted-index semantics unchanged.
    *
    * @param maxShingleFreq hot-shingle frequency cut — the composable
    *   corpus-scale lever for boilerplate posting lists (license
    *   blocks, shared headers): shingle hashes whose DOCUMENT frequency
    *   in the full index exceeds this are dropped from BOTH candidate
    *   index sides before the join, bounding the worst posting list.
    *   Candidate generation only: survivors still re-verify exactly on
    *   full sets, so reported containment values are exact; only pairs
    *   whose every (containee-prefix ∩ container) shingle is hot are
    *   lost. Note the cut composes with the prefix filter — a pair
    *   survives iff the containee's PREFIX holds a cold shingle of the
    *   container — so the capped oracle replays prefix + cut together
    *   (the prefix filter alone is lossless; under the cut it defines
    *   the recall contract). None (default) enumerates exactly. */
  def containmentPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.8, maxShingleFreq: Option[Int] = None): DataFrame = {
    val docs = shingleIndex(spark, dir)
      .filter(col("n_sh") > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pre0 = docs.select(col("doc_id"), col("n_sh"), explode(expr(
      s"slice(shh, 1, size(shh) - CAST(floor($threshold * size(shh)) AS INT) + 1)")).as("sh"))
    val full0 = docs.select(col("doc_id"), col("n_sh"), explode(col("shh")).as("sh"))
    // document frequency comes from the FULL index (prefix rows must
    // not deflate it), aggregated to the HOT set only: the groupBy's
    // map-side combine shuffles distinct-shingle partials (not all
    // postings — a window over the index was measured shuffling the
    // whole posting volume TWICE, once per consumer side, with no
    // static exchange reuse), and the surviving hot set is boilerplate
    // scale (29 shingles at sf0.01, f=5) — the optimizer broadcasts it
    // into two MAP-ONLY anti-joins and degrades to a shuffled anti-join
    // if a pathological corpus grows it past the broadcast threshold
    // (bounded by total-postings/f regardless)
    val (pre, full) = maxShingleFreq match {
      case None => (pre0, full0)
      case Some(f) =>
        val hot = full0.groupBy(col("sh")).agg(count(lit(1)).as("__f"))
          .filter(col("__f") > f).select(col("sh"))
          .localCheckpoint(true)
        (pre0.join(hot, Seq("sh"), "left_anti"),
         full0.join(hot, Seq("sh"), "left_anti"))
    }
    // second lossless cut IN the join: inter ≤ nb, so a→b needs
    // nb ≥ τ·na — the large→small direction dies before the distinct.
    // Measured alternative (rejected on this fixture): PPJoin's
    // positional filter (posexplode both sides, prune matches where
    // 1 + min(na−i, nb−j) < τ·na before the distinct) cut candidates
    // only 384k → 310k and benched 5.5 s vs 5.0 s — the fixture's
    // candidate pairs share MANY shingles (boilerplate-heavy near-dup
    // families), so an any-single-position test almost always passes
    // while the posexplode widens the join input. On a sparse-overlap
    // corpus (inter ≪ τ·n for junk pairs) the same filter cuts
    // candidates ~(1−τ)× and is the standard add-back.
    val cand = pre.as("a")
      .join(full.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id") &&
        col("b.n_sh") >= lit(threshold) * col("a.n_sh"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("container_id"))
      .distinct()
    cand
      .join(docs.select(col("doc_id"), col("shh").as("sh_a"), col("n_sh").as("na")), "doc_id")
      .join(docs.select(col("doc_id").as("container_id"), col("shh").as("sh_b")), "container_id")
      .withColumn("c_raw",
        expr("sorted_intersect_size(sh_a, sh_b)") / col("na"))
      .filter(col("c_raw") >= threshold)
      .select(col("doc_id"), col("container_id"), Fns.money(col("c_raw")).as("containment"))
      .orderBy(col("doc_id"), col("container_id"))
  }

  /** INCREMENTAL containment admission — the [[dedupIncremental]]
    * discipline applied to doc-inside-doc dedup: an arriving batch is
    * checked for being CONTAINED IN stored corpus docs (`|S_b ∩ S_c| /
    * |S_b| ≥ threshold` with b from the batch, c from the corpus — the
    * admission question "does this new doc add anything, or is it an
    * excerpt/reprint of something we already hold"). The batch's
    * asymmetric PREFIX index (the [[containmentPairs]] lossless cut —
    * only ~(1−τ) of each batch doc's shingles) BROADCASTS, and the
    * corpus posting explode scans MAP-ONLY against it: candidate
    * generation never shuffles the corpus, which is the whole point at
    * 100 TB where the corpus is the big side and the batch is the small
    * one. The exact re-verify meets the corpus shingle sets with the
    * batch-scale candidate pairs as the broadcast side, so it too scans
    * the corpus map-only (`ScalingSpec`: with broadcast off, candidate
    * and total shuffle records stay flat as the corpus grows). Above
    * `maxBroadcastDocs` batch docs the probe degrades loudly to a
    * shuffled join — same rows, the map-only promise traded for not
    * OOMing. Survivors re-verify exactly on full sorted sets
    * (merge-scan `sorted_intersect_size`), so the prefix filter stays
    * lossless and the oracle replays plain inverted-index semantics on
    * the sliced pair space. */
  def containmentIncremental(spark: SparkSession, dir: String,
      threshold: Double = 0.8, maxBroadcastDocs: Long = maxBroadcastRows): DataFrame = {
    val docs = shingleIndex(spark, dir).filter(col("n_sh") > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    containmentIncrementalOn(docs, col("doc_id") % 10 === 0, threshold,
      maxBroadcastDocs, docsRowBound = Some(shingleIndexRowBound(spark, dir)))
      .orderBy(col("doc_id"), col("container_id"))
  }

  /** [[containmentIncremental]] over a caller-held `(doc_id, shh, n_sh)`
    * shingle relation with an explicit batch predicate — the entry
    * `ScalingSpec` "flat: incremental containment candidates against a
    * growing corpus" drives with a fixed batch. `docsRowBound` is an
    * optional caller-known UPPER BOUND on |docs| (manifest / parquet
    * footer stats): when it already fits the broadcast cap, the guard
    * needs no `count()` action at all — a batch slice can only be
    * smaller. Only when the bound is absent or exceeds the cap does the
    * exact batch count run (the loud-degradation path must be exact). */
  private[graft] def containmentIncrementalOn(docs: DataFrame,
      isBatch: Column, threshold: Double, maxBroadcastDocs: Long,
      docsRowBound: Option[Long] = None): DataFrame = {
    val batchD = docs.filter(isBatch)
    val corpusD = docs.filter(!isBatch)
    val pre = batchD.select(col("doc_id"), col("n_sh"), explode(expr(
      s"slice(shh, 1, size(shh) - CAST(floor($threshold * size(shh)) AS INT) + 1)")).as("sh"))
    val broadcastOk = docsRowBound.exists(_ <= maxBroadcastDocs) ||
      batchD.count() <= maxBroadcastDocs
    if (!broadcastOk)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"containmentIncremental: batch exceeds maxBroadcastDocs=" +
          s"$maxBroadcastDocs — degrading to a shuffled probe join")
    val corpusIdx = corpusD.select(col("doc_id").as("container_id"),
      col("n_sh").as("nb"), explode(col("shh")).as("sh"))
    val probeSide = if (broadcastOk) broadcast(pre) else pre
    // the size cut rides IN the join so non-qualifying pairs die before
    // the distinct (inter ≤ nb ⟹ b→c needs nb ≥ τ·nb_batch)
    val cand = corpusIdx.join(probeSide,
        corpusIdx("sh") === probeSide("sh") &&
          col("nb") >= lit(threshold) * col("n_sh"))
      .select(col("doc_id"), col("container_id"))
      .distinct()
    // the verify meets the corpus shingle relation with the batch-scale
    // candidates as the broadcast side, behind the same guard: the corpus
    // scans map-only and only candidate containers go on, where a
    // shuffled join would move the whole corpus index every batch
    val pairs = cand
      .join(batchD.select(col("doc_id"), col("shh").as("sh_a"), col("n_sh").as("na")), "doc_id")
    corpusD.select(col("doc_id").as("container_id"), col("shh").as("sh_b"))
      .join(if (broadcastOk) broadcast(pairs) else pairs, "container_id")
      .withColumn("c_raw",
        expr("sorted_intersect_size(sh_a, sh_b)") / col("na"))
      .filter(col("c_raw") >= threshold)
      .select(col("doc_id"), col("container_id"), Fns.money(col("c_raw")).as("containment"))
  }

  /** N-gram Jaccard near-duplicates via inverted shingle index: docs
    * sharing a shingle become candidates (shuffle keyed on the 60-bit
    * shingle hash — ~3× less shuffle volume than shingle strings),
    * then exact shingle-set Jaccard ≥ `threshold`.
    *
    * @param maxShingleFreq stop-shingle cut: shingles indexing more than
    *   this many docs (boilerplate headers, license blocks) are dropped
    *   from the inverted index BEFORE the self-join — the standard
    *   frequency-cut trick that bounds the worst posting list. Candidate
    *   generation only: surviving pairs are re-verified on their FULL
    *   shingle sets (merge-scan intersect), so reported jaccard values
    *   are exact; only pairs connected SOLELY through cut shingles are
    *   lost. None (default, oracle-replayed) enumerates exactly. */
  def ngramJaccardPairs(spark: SparkSession, dir: String, threshold: Double = 0.5,
      maxShingleFreq: Option[Int] = None): DataFrame = {
    val docs = shingleIndex(spark, dir)
      .persist(StorageLevel.MEMORY_AND_DISK)

    val inv = docs.select(col("doc_id"), col("n_sh"), explode(col("shh")).as("sh"))

    maxShingleFreq match {
      case None =>
        // exact path: the shared-shingle count IS the intersection size.
        // The size-ratio cut (jaccard ≤ min/max, lossless) sits IN the
        // join condition so non-qualifying pairs never reach the grouped
        // count — same discipline as the minhash pre-distinct cut
        val shared = inv.as("a")
          .join(inv.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
            least(col("a.n_sh"), col("b.n_sh")) >=
              lit(threshold) * greatest(col("a.n_sh"), col("b.n_sh")))
          .groupBy(
            col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
          .agg(count(lit(1)).as("inter"))
        shared
          .withColumn("jaccard_raw", col("inter") / (col("na") + col("nb") - col("inter")))
          .filter(col("jaccard_raw") >= threshold)
          .select(col("doc_a"), col("doc_b"), Fns.money(col("jaccard_raw")).as("jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))

      case Some(f) =>
        // cut path: hot shingles only stop GENERATING candidates; the
        // intersection must come from the full sets, not the cut index
        val w = Window.partitionBy(col("sh"))
        val invCut = inv.withColumn("__f", count(lit(1)).over(w))
          .filter(col("__f") <= f).drop("__f")
        val cand = invCut.as("a")
          .join(invCut.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
            least(col("a.n_sh"), col("b.n_sh")) >=
              lit(threshold) * greatest(col("a.n_sh"), col("b.n_sh")))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        val sa = docs.select(col("doc_id").as("doc_a"), col("shh").as("sh_a"))
        val sb = docs.select(col("doc_id").as("doc_b"), col("shh").as("sh_b"))
        jaccardAtLeast(cand.join(sa, "doc_a").join(sb, "doc_b"), "sh_a", "sh_b", threshold)
          .select(col("doc_a"), col("doc_b"), Fns.money(col("jaccard_raw")).as("jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
    }
  }

  /** Embedding-cosine similar/near-dup pairs with random-hyperplane LSH
    * pre-bucketing: `nPlanes` sign bits (coordinate hyperplanes) →
    * candidate pairs only within a bucket → exact cosine ≥ `threshold`.
    * Left-to-right fold for the dot product keeps the double bit-exact
    * across engines.
    *
    * @param nPlanes number of sign bits = log2(bucket count). 8 (the
    *   oracle default) gives 256 buckets — fine at test scale; at 100 TB
    *   raise it (16-20 planes → 65k-1M buckets) so per-bucket pair
    *   counts stay bounded, and/or multi-probe neighboring buckets to
    *   recover recall. Must be ≤ the embedding dimension. */
  def embeddingPairs(spark: SparkSession, dir: String, threshold: Double = 0.2,
      nPlanes: Int = 8): DataFrame =
    embeddingPairsUnsorted(spark, dir, threshold, nPlanes)
      .orderBy(col("id_a"), col("id_b"))

  /** [[embeddingPairs]] without the terminal presentation sort — for
    * consumers that immediately aggregate or iterate
    * ([[embeddingClusters]]), the same discipline as
    * [[nearDupClustersUnsorted]]. */
  private[graft] def embeddingPairsUnsorted(spark: SparkSession, dir: String,
      threshold: Double = 0.2, nPlanes: Int = 8): DataFrame = {
    val e = hyperplaneBuckets(spark, dir, nPlanes)
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("bucket"), col("norm2").as("na2"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("bucket"), col("norm2").as("nb2"))
    cosinePairs(a, b, "bucket", threshold)
  }

  /** The embedding corpus keyed by its `nPlanes` hyperplane sign bits:
    * `(vec_id, v, bucket, norm2)`. */
  private def hyperplaneBuckets(spark: SparkSession, dir: String, nPlanes: Int): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 64,
      s"nPlanes must be in [1, 64] (embedding dim; got $nPlanes) — " +
        "element_at past the vector end throws under ANSI mode")
    Tables.embeddings(spark, dir)
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("bucket", expr(
        s"""aggregate(sequence(0, ${nPlanes - 1}), CAST(0 AS BIGINT),
             (acc, j) -> acc + IF(element_at(v, j + 1) > CAST(0 AS DOUBLE),
                                  shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))"""))
      .withColumn("norm2", expr("aggregate(v, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x)"))
      .select(col("vec_id"), col("v"), col("bucket"), col("norm2"))
  }

  /** The `(id_a, id_b, cosine)` pairs of `a ⋈ b` on `key` with `id_a <
    * id_b` and exact cosine ≥ `threshold`, money-rounded after the
    * threshold compares the raw cosine. */
  private def cosinePairs(a: DataFrame, b: DataFrame, key: String,
      threshold: Double): DataFrame =
    a.join(b, Seq(key)).filter(col("id_a") < col("id_b"))
      .withColumn("dot", expr("dot_double(va, vb)"))
      .withColumn("cos_raw", col("dot") / sqrt(col("na2") * col("nb2")))
      .filter(col("cos_raw") >= threshold)
      .select(col("id_a"), col("id_b"), Fns.money(col("cos_raw")).as("cosine"))

  /** Multi-probe variant of [[embeddingPairs]]: each vector probes its
    * own bucket plus the `nPlanes` buckets at Hamming distance 1 (one
    * sign flipped), recovering pairs whose vectors straddle exactly one
    * hyperplane — the recall repair that makes FINER bucketing (higher
    * `nPlanes`, hence smaller buckets) viable at 100 TB: probe cost grows
    * linearly in planes while bucket population shrinks exponentially.
    *
    * Exactly-once emission without a dedup pass: only the probing (left)
    * side explodes, so pair (a, b) with `id_a < id_b` is produced solely
    * through a's probe list containing b's bucket — Hamming distance is
    * symmetric, the join is not. */
  def embeddingPairsMultiProbe(spark: SparkSession, dir: String,
      threshold: Double = 0.2, nPlanes: Int = 8): DataFrame = {
    val e = hyperplaneBuckets(spark, dir, nPlanes)
    val a = e
      .withColumn("pbucket", explode(expr(
        s"""array_union(array(bucket), transform(sequence(0, ${nPlanes - 1}),
            j -> bucket ^ shiftleft(CAST(1 AS BIGINT), j)))""")))
      .select(col("vec_id").as("id_a"), col("v").as("va"),
        col("pbucket"), col("norm2").as("na2"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("bucket").as("pbucket"), col("norm2").as("nb2"))
    cosinePairs(a, b, "pbucket", threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Edit-distance near-dup pairs: documents in the same language whose
    * lengths differ by ≤ `maxLenDiff` and whose `prefix`-char prefixes
    * are within `maxDist` Levenshtein edits — the character-level
    * fuzzy-dup family member (MinHash/SimHash are set/bit-level; this
    * catches small in-place edits they dilute).
    *
    * Scale shape: candidates come from a KEYED equi-join on
    * (lang, length-band) — the left side probes its own band ±1, the
    * right side stays single-band, so each qualifying pair is emitted
    * exactly once and nothing is all-pairs. Joined pairs then pass a
    * LOSSLESS q-gram count filter before any DP runs: ≤ `maxDist` edits
    * can destroy at most `2·maxDist` of a prefix's bigram occurrences,
    * so a true pair must share ≥ max(|Gₐ|,|G_b|) − 2·maxDist bigrams
    * (Gravano et al.'s count filter) — computed by the codegen'd
    * merge-scan `sorted_intersect_size` over pre-sorted bigram-hash
    * arrays (hash collisions can only RAISE the measured overlap, so
    * the filter stays lossless). The whole chain runs once per DISTINCT
    * (lang, n_chars, prefix) group — the pair predicate is a pure
    * function of those columns, so clone docs ride the
    * [[minhashPairsContracted]] contraction and within-group pairs
    * emit at distance 0 without touching the join. Measured at sf0.1:
    * ~600k group-pair band candidates → ~10² DP survivors.
    * Levenshtein then runs with Spark's
    * bounded form (`levenshtein(l, r, threshold)`), which abandons a DP
    * row once `maxDist` is exceeded — O(prefix × maxDist), not
    * O(prefix²), and only on the filter's survivors.
    *
    * Measured alternative (rejected): a PassJoin-style segment index
    * (Li et al., VLDB'11 — equi-join on (segment-id, content-hash) with
    * ±shift probe enumeration) was implemented and benchmarked at 2-3×
    * SLOWER here (6.6-19.6 s candidate gen vs 5.9 s end-to-end): on a
    * shared-vocabulary corpus 9-char segments collide across unrelated
    * docs (150k-256k distinct candidates vs ~10² true pairs), and
    * cutting hot segment buckets — unlike [[minhashPairs]]'s
    * `maxBucketSize` — would break the pigeonhole guarantee. The
    * length-band join's quadratic-bucket risk at corpus scale is
    * instead bounded by the cheapness of the count filter (~240 fused
    * ops/pair, no DP) and by `maxLenDiff` narrowing the bands.
    *
    * Probed ×1/×2/×4 on both scale axes (BASELINE.md §Scaling probes
    * round 10): clone replicas (contraction axis) keep the wall FLAT
    * while output pairs grow ~m² (79 → 31 264); lang-salted replicas
    * (disjoint-group axis, m× the distinct groups) add ~0.14 s per
    * copy against a ~3.2 s fixed floor — sub-linear on both.
    *
    * Oracle caveat: DuckDB's `levenshtein` is byte-based while Spark's is
    * codepoint-based; they agree on this fixture (all-ASCII corpus — the
    * spec pins it) and on any single-byte corpus. */
  def editDistancePairs(spark: SparkSession, dir: String, prefix: Int = 120,
      maxLenDiff: Int = 60, maxDist: Int = 12): DataFrame = {
    // CONTRACTED on (lang, n_chars, prefix) — the full pair predicate
    // (band, length filter, q-gram filter, DP) is a pure function of
    // those three columns, so docs sharing them are interchangeable
    // (the [[minhashPairsContracted]] discipline): candidate join,
    // count filter, and bounded DP run once per DISTINCT group; doc
    // pairs expand only at output. Clone-heavy corpora shrink
    // quadratically exactly where the band join is most loaded. The
    // bigram build runs once per group (was once per doc).
    val groups = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        expr(s"substring(text, 1, $prefix)").as("p"))
      .groupBy(col("lang"), col("n_chars"), col("p"))
      .agg(min(col("doc_id")).as("rep"), collect_list(col("doc_id")).as("members"))
      .withColumn("band", (col("n_chars") / maxLenDiff).cast("long"))
      // sorted bigram-hash multiset, computed once per group (119 longs)
      .withColumn("bg", expr(
        """array_sort(transform(sequence(1, greatest(char_length(p) - 1, 1)),
           i -> CAST(hash(substring(p, i, 2)) AS BIGINT)))"""))
      // eager checkpoint: the probe (a, 3-band explode), build (b), and
      // within-group sides all read this relation — without it the
      // bigram build + array_sort pipeline runs once per side, and the
      // returned lazy plan has no safe unpersist point for a bare persist
      .localCheckpoint(true)
    val a = groups
      .withColumn("jband", explode(expr("sequence(band - 1, band + 1)")))
      .select(col("lang"), col("jband"), col("rep").as("rep_a"),
        col("n_chars").as("len_a"), col("p").as("pa"), col("bg").as("bga"),
        col("members").as("mem_a"))
    val b = groups.select(col("lang"), col("band").as("jband"),
      col("rep").as("rep_b"), col("n_chars").as("len_b"),
      col("p").as("pb"), col("bg").as("bgb"), col("members").as("mem_b"))
    // merge hint, NOT broadcast (round-11 A/B, the Graphs.scala:214
    // lesson): both sides carry the 119-long bigram multiset per row —
    // AQE's runtime broadcast conversion of b re-copies that array out
    // of the hashed relation per band-join probe (edit_dist_pairs 2.92 s
    // converted vs 0.92 s static sort-merge). Merge keeps the arrays in
    // place and is the only shape that survives corpus scale.
    val cross = a.join(b.hint("merge"), Seq("lang", "jband"))
      .filter(col("rep_a") < col("rep_b") &&
        abs(col("len_a") - col("len_b")) <= maxLenDiff)
      // threshold-aware merge with early abort (SortedIntersectAtLeast):
      // identical predicate, but the scan stops once the remaining
      // elements cannot reach the bound -- most of the ~10^6-pair band
      // relation rejects within ~2x the mismatch budget
      .filter(expr(
        s"sorted_intersect_atleast(bga, bgb, greatest(size(bga), size(bgb)) - ${2 * maxDist})"))
      .withColumn("edit_dist",
        expr(s"levenshtein(pa, pb, $maxDist)").cast("int"))
      .filter(col("edit_dist") >= 0) // bounded form returns -1 past maxDist
      // member×member expansion, normalized to doc_a < doc_b (membership
      // does not follow rep order); output-bound
      .select(explode(col("mem_a")).as("da"), col("mem_b"), col("edit_dist"))
      .select(col("da"), explode(col("mem_b")).as("db"), col("edit_dist"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("edit_dist"))
    // within-group pairs: identical prefixes ⟹ edit distance exactly 0
    // (the q-gram filter is trivially satisfied, the doc-level join
    // emitted these through the full predicate)
    val within = groups
      .filter(size(col("members")) >= 2)
      .select(explode(col("members")).as("da"), col("members"))
      .select(col("da"), explode(col("members")).as("db"))
      .filter(col("da") < col("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        lit(0).cast("int").as("edit_dist"))
    cross.unionAll(within).orderBy(col("doc_a"), col("doc_b"))
  }

  /** Canonical-document election: the step after [[nearDupClusters]] a
    * real dedup pipeline runs — inside each near-dup cluster KEEP the
    * best representative (longest `n_chars`, ties to the smallest
    * `doc_id`) and mark the rest as drops, rather than keeping the
    * arbitrary min-id member. Mirrors the reference's "survivor pick"
    * framing of dedup (dedup = choose one row per duplicate group, cf.
    * `dags/product.py` latest-row dedup before SCD2), lifted to
    * transitive near-dup groups.
    *
    * Scale shape: the election is one `max_by` hash aggregation over the
    * cluster relation — O(1) state per cluster, map-side partials, no
    * window sort over members — then a broadcast-size join back (one row
    * per cluster ≤ one row per doc). The ordering struct `(n_chars,
    * -doc_id)` makes max_by deterministic under ties without a second
    * pass. */
  def canonicalDocs(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    // one materialization of the cluster relation (one narrow row per
    // doc) feeds BOTH the election aggregate and the output join —
    // without it each branch re-runs the whole cluster assembly
    // (doc scan + label join + size agg) on top of the checkpointed
    // fixpoint labels
    val clusters = nearDupClustersUnsorted(spark, dir, maxHamming).localCheckpoint(true)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    val kept = clusters.join(docs, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(expr("max_by(doc_id, struct(n_chars, -doc_id))").as("kept_doc_id"))
    clusters.join(kept, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("kept_doc_id"),
        (col("doc_id") === col("kept_doc_id")).cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Near-dup cluster size distribution: how many clusters of each size
    * the corpus collapses into, and the doc mass per size — the summary
    * that tells a curation run whether duplication is a long tail of
    * pairs or a few mega-clusters (which decides between pair-level
    * removal and canonical election). One grouped aggregate over the
    * cluster relation; group count bounded by the largest cluster. */
  def clusterSizeHist(spark: SparkSession, dir: String): DataFrame = {
    // cluster-LEVEL math only: sizes come from the group relation
    // (Σ members per cluster), so the histogram never expands to
    // per-doc rows — n_docs per size bucket is clusters × size
    val gl = fpClusters(spark, dir, 3)
    gl.groupBy(col("cluster_id")).agg(sum(col("m")).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))
  }

  /** Per-source duplication report: for each corpus source, how many of
    * its documents sit in a near-dup cluster (size > 1) and the dup
    * ratio — "which crawl is dirtiest", the attribution report that
    * routes a contaminated source back to its ingest owner. The cluster
    * relation is doc-keyed, so the source attach is one equi-join and
    * the rollup one grouped aggregate. */
  def sourceDupRatio(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(nearDupClustersUnsorted(spark, dir), "doc_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum((col("cluster_size") > 1).cast("long")).as("n_dup_docs"))
      .withColumn("dup_ratio", Fns.money(col("n_dup_docs") / col("n_docs")))
      .orderBy(col("source"))

  /** SimHash PRECISION audit: for every Hamming-≤3 candidate pair, the
    * exact distinct-token-hash Jaccard, rolled up per Hamming distance —
    * n_pairs, how many are true near-dups at `threshold`, the mean
    * Jaccard, and the precision. The eval that justifies (or indicts) a
    * fingerprint threshold before a corpus-wide dedup commits to it —
    * the sketch-fidelity companion of [[sourceOverlap]]'s MinHash MAE
    * and [[graft.sim.Similarity.annRecall]].
    *
    * Scale shape: the pair relation is the banded candidate set (never
    * all pairs); the token-hash sets attach by two equi-joins keyed on
    * doc id and intersect via the codegen'd merge scan; the rollup has
    * 4 groups. Mean Jaccard money-rounds each pair first, then
    * decimal-accumulates (order-independent); the threshold compares
    * the RAW int/int ratio — IEEE-identical cross-engine. */
  def simhashPrecision(spark: SparkSession, dir: String,
      threshold: Double = 0.9): DataFrame = {
    val th = Tables.documents(spark, dir)
      .select(col("doc_id"), tokenHashSet.as("hs"))
    simhashPairs(spark, dir)
      .join(th.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(th.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .withColumn("inter", expr("sorted_intersect_size(hs_a, hs_b)"))
      .withColumn("jac",
        col("inter") / (size(col("hs_a")) + size(col("hs_b")) - col("inter")))
      .groupBy(col("hamming"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum((col("jac") >= threshold).cast("long")).as("n_true"),
        Fns.money(Fns.sumMoney(Fns.money(col("jac"))) / count(lit(1)))
          .as("mean_jaccard"))
      .withColumn("precision", Fns.money(col("n_true") / col("n_pairs")))
      .orderBy(col("hamming"))
  }

  /** Cross-sketch RECALL: of the exact-verified MinHash near-dup pairs
    * (Jaccard ≥ 0.9), the fraction the 64-bit SimHash Hamming-≤3 pass
    * also finds — the two independent fingerprint families auditing
    * each other (they share no hash bits beyond the md5 base). Both
    * pair sets are banded-candidate relations, so the membership join
    * and the single-row rollup are pair-scale work.
    *
    * The MinHash universe is SAMPLED to the band-0 candidates
    * ([[minhashPairs]]' `bandSubset`): an eval needs an unbiased
    * estimate, not the exhaustive pair set, and a band is a uniform
    * hash-selected sample of the candidate space — 1/B the generation
    * cost (and no candidate distinct), deterministic, replayed exactly
    * by the oracle. The SimHash side stays exhaustive (it is the
    * membership probe being audited; missing one of its pairs would
    * UNDERCOUNT recall, not sample it). */
  def sketchAgreement(spark: SparkSession, dir: String): DataFrame = {
    val mh = minhashPairs(spark, dir, bandSubset = Some(Seq(0)))
      .select(col("doc_a"), col("doc_b"))
    val sh = simhashPairs(spark, dir)
      .select(col("doc_a").as("sa"), col("doc_b").as("sb"), lit(1).as("hit"))
    mh.join(sh, col("doc_a") === col("sa") && col("doc_b") === col("sb"), "left")
      .agg(
        count(lit(1)).as("n_minhash_pairs"),
        count(col("hit")).as("n_caught"))
      .withColumn("recall", Fns.money(col("n_caught") / col("n_minhash_pairs")))
  }

  /** Pairwise corpus-source overlap: for every pair of `source` values,
    * the exact token-set Jaccard AND its union-MinHash estimate side by
    * side — the cross-source contamination audit run before mixing
    * corpora (is src3 a re-crawl of src7?), doubling as a live fidelity
    * check of the sketch against ground truth.
    *
    * Union-MinHash: the signature of a source is the per-permutation min
    * over ALL its documents' token hashes (min is associative, so the
    * union sketch is one grouped aggregate with K longs of state per
    * source — never materializing the union set). Same (2i+1)h+7i+3
    * mod-P permutation family as [[withSignature]], so the DuckDB oracle
    * replays it bit-for-bit. Estimated Jaccard = agreeing permutations
    * / K.
    *
    * Scale shape: the sketch side is O(sources × K) state; the exact
    * side dedups to DISTINCT (source, token) rows (bounded by sources ×
    * vocabulary, NOT corpus size) and self-joins on the token key —
    * per-token fan-out is bounded by source count squared, which is the
    * bounded-dimension regime (sources are ~10³ even at 100 TB). Pair
    * enumeration is sources², a broadcast-scale relation. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables.documents(spark, dir)
      .select(col("source"), explode(expr("array_distinct(split(text, ' '))")).as("t"))
      .distinct()
      .withColumn("h",
        expr(s"CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT) % $P"))
    val minCols = (0 until K).map(i =>
      min(expr(s"((2 * $i + 1) * h + 7 * $i + 3) % $P")).as(s"m$i"))
    val sigs = st.groupBy(col("source"))
      .agg(countDistinct(col("t")).as("n_terms"), minCols: _*)
    val a = sigs.select(col("source").as("src_a") +: col("n_terms").as("na") +:
      (0 until K).map(i => col(s"m$i").as(s"am$i")): _*)
    val b = sigs.select(col("source").as("src_b") +: col("n_terms").as("nb") +:
      (0 until K).map(i => col(s"m$i").as(s"bm$i")): _*)
    val agree = (0 until K)
      .map(i => (col(s"am$i") === col(s"bm$i")).cast("long"))
      .reduce(_ + _)
    val pairs = a.crossJoin(b).filter(col("src_a") < col("src_b"))
      .withColumn("n_agree", agree)
    val inter = st.select(col("source").as("src_a"), col("t")).as("x")
      .join(st.select(col("source").as("src_b"), col("t")).as("y"), "t")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs.join(inter, Seq("src_a", "src_b"), "left")
      .select(
        col("src_a"), col("src_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        (col("na") + col("nb") - coalesce(col("n_common"), lit(0L)))
          .cast("long").as("n_union"),
        Fns.money(coalesce(col("n_common"), lit(0L)) /
          (col("na") + col("nb") - coalesce(col("n_common"), lit(0L))))
          .as("jaccard"),
        Fns.money(col("n_agree") / lit(K.toDouble)).as("est_jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Dedup threshold curve: how many near-dup pairs (and docs touched)
    * each Jaccard band contains — the number that turns "pick a dedup
    * threshold" from folklore into a measurement (lower the cut one
    * band and this table says exactly how many more docs disappear).
    * `cum_pairs` accumulates from the strictest band down, i.e. the
    * pair count a dedup pass at `threshold_lo` would act on.
    *
    * Candidate generation is the band-0 sample of the MinHash pipeline
    * ([[minhashPairs]]'s `bandSubset` lever, the [[sketchAgreement]]
    * precedent): a curve needs an unbiased shape, not the exhaustive
    * pair set, and one band is a uniform hash-selected sample of the
    * candidate space at 1/B the join cost with the candidate DISTINCT
    * skipped entirely. Verification still carries exact Jaccard, so
    * band membership only affects WHICH pairs are sampled, never their
    * score.
    *
    * Scale shape: the rollup is a ≤6-row aggregate over the sampled
    * pair relation; the cumulative sum is a window over those ≤6 rows
    * (not the corpus). */
  def dedupThresholdCurve(spark: SparkSession, dir: String): DataFrame = {
    def bucket(j: Column): Column =
      Fns.money(least(floor(j * 10) / 10, lit(0.9)))
    // group-granular the whole way ([[minhashGroupPairs]]): a verified
    // group pair (a, b, j) stands for |mem_a|·|mem_b| doc pairs ALL at
    // exact Jaccard j (identical token sets are interchangeable), and a
    // clone group of m docs stands for m(m-1)/2 pairs at Jaccard 1.0 —
    // so pair counts are closed-form products and the doc-pair relation
    // is never materialized. localCheckpoint: the small group-pair
    // relation feeds both the pair-count and the doc-distinct branches.
    val (groups, verified0) = minhashGroupPairs(spark, dir,
      threshold = 0.5, bandSubset = Some(Seq(0)))
    val verified = verified0
      .join(groups.select(col("rep").as("rep_a"), size(col("members")).as("na"),
        col("members").as("mem_a")), "rep_a")
      .join(groups.select(col("rep").as("rep_b"), size(col("members")).as("nb"),
        col("members").as("mem_b")), "rep_b")
      .select(bucket(col("jaccard")).as("threshold_lo"),
        (col("na").cast("long") * col("nb")).as("n"),
        col("mem_a"), col("mem_b"))
      .localCheckpoint(true)
    val clones = groups
      .filter(size(col("members")) >= 2 && size(col("th")) > 0)
      .select(bucket(lit(1.0)).as("threshold_lo"),
        (size(col("members")).cast("long") * (size(col("members")) - 1) / 2)
          .cast("long").as("n"),
        col("members").as("mem_a"), expr("CAST(array() AS ARRAY<BIGINT>)").as("mem_b"))
    val all = verified.unionAll(clones)
    val cnt = all.groupBy(col("threshold_lo"))
      .agg(sum(col("n")).as("n_pairs"))
    val docs = all
      .select(col("threshold_lo"),
        explode(concat(col("mem_a"), col("mem_b"))).as("d"))
      .groupBy(col("threshold_lo"))
      .agg(countDistinct(col("d")).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("threshold_lo").desc)
    cnt.join(docs, "threshold_lo")
      .withColumn("cum_pairs", sum(col("n_pairs")).over(w).cast("long"))
      .orderBy(col("threshold_lo"))
  }
}
