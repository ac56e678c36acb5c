package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Graph-analytic queries over relations derived from the fixture tables.
  *
  * Training-data curation ranks documents/URLs by link-graph centrality
  * (harmonic or PageRank scores decide what gets crawled and kept); the
  * same power-iteration shape applies to any co-occurrence graph. Here the
  * graph is real derived data: parts are nodes, an edge connects two parts
  * co-purchased in the same order (the `basket_pairs` relation made
  * symmetric), and the score is PageRank with damping 0.85.
  *
  * Scale design:
  *  - The whole family starts from ONE shared representation: the
  *    checkpointed symmetric adjacency ([[coPurchaseAdjacency]]) built
  *    by one per-order collect_set + pipelined pair explode + one
  *    collect_set aggregate — hash-bucketed candidate generation, never
  *    an all-pairs scan over parts, and no separate edge-DISTINCT or
  *    degree exchanges.
  *  - Each power iteration is one NODE-scale join (ranks onto the
  *    adjacency) + one grouped aggregate; the per-edge contribution rows
  *    are born inside an explode feeding the map-side partial combine,
  *    so the edge-cardinality relation never crosses a join.
  *  - Driver state is O(1) (the node count); ranks stay distributed —
  *    the same pointer-jumping discipline as
  *    [[graft.dedup.Dedup.nearDupClusters]].
  *
  * Cross-engine determinism: ranks are FIXED-POINT BIGINTs (micro-units of
  * 1e-12), all updates are integer multiply/floor-divide/sum — no double
  * accumulation order to diverge, so a DuckDB oracle replaying the same
  * unrolled iterations is hash-identical. Floor division leaks a few
  * trailing units of rank mass per node per round; that bias is identical
  * on both engines and irrelevant to the ranking use.
  */
object Graphs {

  /** Rank scale: 1.0 of probability mass = 1e12 fixed-point units. */
  val Scale: Long = 1000000000000L

  /** Co-purchase edge list, both directions, with the source's degree on
    * every edge: `(src, dst, outdeg)`. */
  private[graft] def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    // RAW (order, part) rows, not pre-deduplicated: the terminal edge
    // DISTINCT below dedups anyway, duplicate parts within an order are
    // rare (one extra join row each), and skipping the dedup lets BOTH
    // self-join sides reuse ONE order-key exchange instead of paying a
    // (okey, part) exchange first — one full shuffle fewer per query
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").cast("long").as("part"))
    val edges = items.withColumnRenamed("part", "src")
      .join(items.withColumnRenamed("part", "dst"), "okey")
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .distinct()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    edges.join(deg, "src")
  }

  /** The co-purchase graph as ADJACENCY LISTS — `(src, nbrs, outdeg)`
    * with `nbrs` the sorted distinct co-purchased parts — checkpointed,
    * the shared input of the whole graph family. One okey self-join and
    * ONE grouped aggregate build it (collect_set dedups in aggregate
    * state, so no separate edge-DISTINCT exchange and no degree join —
    * the edge-list build paid three M-row exchanges for the same
    * information). The symmetric graph makes one relation serve as both
    * forward and reverse adjacency. Node-cardinality rows (each O(deg)
    * wide) instead of edge-cardinality: per-round joins against it are
    * node-scale, and the edge set re-materializes only inside a
    * pipelined explode that feeds a map-side partial aggregate — the
    * M-row relation never crosses a join again. Hub rows are O(deg)
    * state, the same bound the [[partSimilarity]] lists carry; the
    * 100 TB guard for pathological hubs is [[partSimilarityCapped]]'s
    * signature path.
    *
    * The relation is a pure function of `dir` and the SHARED input of
    * six graph queries, so it lives in the derived-relation store
    * ([[graft.engine.Derived]]) — built once per JVM, read back by every
    * consumer (the production shape: an adjacency table is maintained,
    * not re-derived per query). Each consumer still localCheckpoints its
    * read: the per-round joins of the iterative algorithms re-read the
    * node-scale relation many times, and block-manager blocks beat
    * re-decoding parquet per round. */
  private[graft] def coPurchaseAdjacency(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Derived.cached(spark, "copurchase_adj", dir) {
      coPurchaseAdjacencyPlanProbe(spark, dir)
    }.localCheckpoint(true)

  /** The adjacency build BEFORE the checkpoint — the plan-quality spec
    * pins the one-exchange, join-free shape here (the checkpoint hides
    * the lineage behind a LogicalRDD). */
  private[graft] def coPurchaseAdjacencyPlanProbe(spark: SparkSession, dir: String): DataFrame = {
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").cast("long").as("part"))
    // ONE order-keyed exchange, not two: group each order's item set
    // first, then the pair relation is born from a pipelined double
    // explode feeding the node-keyed aggregate's map-side partials — the
    // okey self-join formulation shuffled `items` twice (the rename
    // before the join defeated exchange reuse) and paid a sort-merge
    // join besides (measured at sf0.1: adjacency build 2.7 s → 1.3 s
    // steady-state). Per-order item sets are basket-bounded, so the
    // per-row explode fan-out is O(basket²) with small constants.
    items.groupBy(col("okey")).agg(collect_set(col("part")).as("parts"))
      .select(explode(col("parts")).as("src"), col("parts"))
      .select(col("src"), explode(col("parts")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"))
      .agg(sort_array(collect_set(col("dst"))).as("nbrs"))
      .withColumn("outdeg", size(col("nbrs")).cast("long"))
  }

  /** PageRank over the co-purchase part graph: `iters` fixed power
    * iterations, damping 0.85, fixed-point arithmetic (see object doc).
    * Every part with at least one co-purchase partner is a node; the
    * graph is symmetric, so every node both emits and receives mass each
    * round (no dangling-node redistribution needed).
    *
    * Output: `(part, rank_fx)` ordered by rank descending — the most
    * "central" parts in the co-purchase network. */
  def partPagerank(spark: SparkSession, dir: String, iters: Int = 5): DataFrame =
    pagerankAdj(coPurchaseAdjacency(spark, dir), iters)

  /** Per-part triangle participation counts in the co-purchase graph —
    * the local-clustering signal (how clique-ish a product's
    * neighborhood is), top-`k` by count.
    *
    * Algorithm: degree-ordered edge ORIENTATION (each undirected edge
    * directed from the lower (degree, id) endpoint to the higher — an
    * acyclic total order), then triangles = oriented paths u→v→w closed
    * by an oriented edge u→w. Every triangle is counted EXACTLY once,
    * and the wedge-join fan-out is bounded by out-degrees, which
    * orientation caps at O(√m) for any graph (the classic
    * Ortmann/Brandes / "forward" bound) — hot hub nodes cannot explode
    * the join, because their edges all point INTO them.
    *
    * Scale shape (compact-forward): instead of materializing the wedge
    * relation u→v→w through a shuffle (tens of millions of candidate
    * rows on a dense graph — measured 12.3 s at sf0.1), each oriented
    * edge (u,v) intersects the two sorted out-neighbor lists
    * `N⁺(u) ∩ N⁺(v)` per edge. Orientation caps every out-list at O(√m), so the
    * adjacency relation is node-cardinality with bounded rows, and the
    * only shuffles are two node-keyed joins of edge-scale rows
    * (recorded 4.9 s at sf0.1, BASELINE.md round-5 run — 2.5× over the
    * wedge join's 12.3 s). Each triangle
    * is found ONCE, at its base edge (u,v) with the sink w in both
    * out-lists; corner attribution is u,v weighted by the intersection
    * SIZE plus one exploded row per sink w — the explode emits exactly
    * one row per closed triangle (output-bound, never wedge-bound).
    * Deterministic: counts are integers, top-k tiebreak is
    * (count desc, part asc). */
  def triangleCounts(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    // symmetric adjacency once ([[coPurchaseAdjacency]]): degree = list
    // size rides for free, replacing the edge-DISTINCT + degree-rollup +
    // two degree joins of the edge-list build (three M-row exchanges)
    val adjS = coPurchaseAdjacency(spark, dir)
    // orientation needs each NEIGHBOR's degree: explode to (u, du, m)
    // and equi-join the node-scale (m, dm) projection — the one
    // edge-scale exchange of the build
    val ori = adjS
      .select(col("src").as("u"), col("outdeg").as("du"),
        explode(col("nbrs")).as("m"))
      .join(adjS.select(col("src").as("m"), col("outdeg").as("dm")), "m")
      .filter(struct(col("dm"), col("m")) > struct(col("du"), col("u")))
    // oriented adjacency (checkpointed: the pair explode and the probe
    // join both read it); out-lists are O(√m)-bounded by orientation
    val adjO = ori.groupBy(col("u"))
      .agg(sort_array(collect_list(col("m"))).as("onbrs"))
      .localCheckpoint(true)
    // oriented edges are born from the out-lists with N⁺(u) onboard —
    // only N⁺(v) attaches by join
    val lists = adjO
      .select(col("u").as("src"), col("onbrs").as("nu"),
        explode(col("onbrs")).as("dst"))
      // merge-join like [[partSimilarity]]: a broadcast-hash probe would
      // copy the matched O(√m) out-list per exploded edge, and the
      // oriented node relation outgrows broadcast at scale regardless
      .join(adjO.select(col("u").as("dst"), col("onbrs").as("nv")).hint("merge"), "dst")
      // codegen'd sorted-merge intersect (graft.functions.SortedIntersect):
      // the out-lists are sorted+distinct by construction, and the
      // per-edge merge scan replaces array_intersect's per-call hash set
      .select(col("src"), col("dst"), expr("sorted_intersect(nu, nv)").as("ws"))
      .filter(size(col("ws")) > 0)
    val sinks = lists.select(explode(col("ws")).as("part"), lit(1L).as("t"))
    val bases = lists.select(
      explode(array(col("src"), col("dst"))).as("part"),
      size(col("ws")).cast("long").as("t"))
    sinks.union(bases)
      .groupBy(col("part")).agg(sum(col("t")).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("part"))
      .limit(k)
  }

  /** "Customers who bought X also bought Y"-style part similarity:
    * Jaccard overlap of co-purchase NEIGHBORHOODS for each co-purchased
    * pair — two parts are similar when they are bought alongside the
    * same other parts, a structural signal strictly stronger than the
    * raw co-purchase count ([[graft.queries.Analytics.basketRules]]).
    *
    * Scale shape: full adjacency lists per node (collect sorted once),
    * two node-keyed joins onto the edge relation, and the codegen'd
    * `sorted_intersect_size` merge scan per edge — similarity is only
    * evaluated on EXISTING edges, never all pairs. Hub nodes make
    * O(deg) list state; at corpus scale the standard move is to replace
    * the exact lists with MinHash signatures over the neighbor sets —
    * built and oracle-checked as [[partSimilarityCapped]].
    *
    * Determinism: output ordered by integer keys only (jaccard is a
    * money-rounded VALUE, never a sort key), inner threshold on the
    * integer intersection size. */
  def partSimilarity(spark: SparkSession, dir: String, minCommon: Int = 20): DataFrame = {
    // symmetric adjacency once ([[coPurchaseAdjacency]]): the undirected
    // pair relation is born from the lists (a < b keeps each edge once)
    // with N(a)/deg(a) already onboard, so only N(b) attaches by join —
    // one node-keyed exchange replaces the edge-DISTINCT + adjacency
    // union-rollup + two probe joins of the edge-list build
    val adj = coPurchaseAdjacency(spark, dir)
    adj
      .select(col("src").as("a"), col("nbrs").as("na"),
        col("outdeg").as("deg_a"), explode(col("nbrs")).as("b"))
      .filter(col("a") < col("b"))
      // merge-join by hint, NOT broadcast: the checkpointed node relation
      // measures broadcastable at fixture scale, but a broadcast-hash
      // probe re-copies the matched row's O(deg) array out of the hashed
      // relation for every one of the M exploded edges (measured at
      // sf0.1: 9.4 s broadcast vs 1.4 s merge). At corpus scale the node
      // relation outgrows broadcast anyway — the shuffled merge join is
      // both the faster and the scale-honest shape for fat build sides.
      .join(adj.select(col("src").as("b"), col("nbrs").as("nb_"),
        col("outdeg").as("deg_b")).hint("merge"), "b")
      .select(col("a").as("part_a"), col("b").as("part_b"),
        expr("sorted_intersect_size(na, nb_)").cast("long").as("n_common"),
        col("deg_a"), col("deg_b"))
      .filter(col("n_common") >= minCommon)
      .withColumn("jaccard", graft.Fns.money(col("n_common").cast("double") /
        (col("deg_a") + col("deg_b") - col("n_common")).cast("double")))
      .orderBy(col("part_a"), col("part_b"))
  }

  /** The 100 TB-shaped variant of [[partSimilarity]]: MinHash+LSH over
    * co-purchase NEIGHBOR SETS — [[graft.dedup.Dedup]]'s document
    * machinery applied verbatim with node → doc and neighbor-id → token.
    * Hub nodes stop being a problem twice over: candidate generation
    * compares fixed 16-long signatures instead of O(deg) adjacency
    * lists, and the band-bucket cap (`maxBucketSize`, the
    * [[graft.dedup.Dedup.minhashPairs]] hot-bucket cut) drops
    * pathological buckets before the self-join.
    *
    * The cap and the banding are CANDIDATE-GEN ONLY: every surviving
    * pair is verified by the exact codegen'd intersection of the true
    * neighbor-hash sets — the same split as `dedup_minhash_capped`, and
    * the oracle replays signature, banding, window cut, and exact verify
    * alike, so the green row proves the cut semantics, not just the
    * happy path. 8 bands × 2 rows targets the lower-similarity regime of
    * co-purchase neighborhoods (s-curve midpoint ≈ 0.35) vs the 4×4
    * near-dup banding. */
  def partSimilarityCapped(spark: SparkSession, dir: String,
      threshold: Double = 0.1, maxBucketSize: Int = 10): DataFrame = {
    val P = graft.dedup.Dedup.P
    // neighbor HASH sets straight off the symmetric adjacency (the
    // neighbor lists are already distinct, so the per-element md5 runs
    // once per edge, and the union-rollup exchange of the edge-list
    // build disappears)
    val nodes = coPurchaseAdjacency(spark, dir)
      .select(col("src").as("n"), col("nbrs"))
      // array_distinct on the HASHES (not the already-distinct ids):
      // a mod-P collision between two neighbors must collapse on both
      // engines — the oracle's list_distinct does exactly this
      .withColumn("hs", expr(s"""array_sort(array_distinct(transform(nbrs,
        t -> CAST(conv(substr(md5(CAST(t AS STRING)), 1, 15), 16, 10) AS BIGINT) % $P)))"""))
      .select(col("n"), col("hs"))
      // native one-pass signature (graft.functions.MinhashSig)
      .withColumn("sig", expr("minhash_sig(hs)"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = nodes.select(col("n"),
        explode(expr("""transform(sequence(0, 7), b -> named_struct(
          'band', b, 'k1', element_at(sig, b * 2 + 1), 'k2', element_at(sig, b * 2 + 2)))"""))
          .as("bb"))
      .select(col("n"), col("bb.band").as("band"), col("bb.k1").as("k1"), col("bb.k2").as("k2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("k1"), col("k2"))
    val capped = bands.withColumn("__bsz", count(lit(1)).over(w))
      .filter(col("__bsz") <= maxBucketSize).drop("__bsz")
    val cand = capped.as("x")
      .join(capped.as("y"), Seq("band", "k1", "k2"))
      .filter(col("x.n") < col("y.n"))
      .select(col("x.n").as("part_a"), col("y.n").as("part_b"))
      .distinct()
    val verified = graft.dedup.Dedup.jaccardAtLeast(
      cand.join(nodes.select(col("n").as("part_a"), col("hs").as("th_a")), "part_a")
        .join(nodes.select(col("n").as("part_b"), col("hs").as("th_b")), "part_b"),
      "th_a", "th_b", threshold)
    verified.select(col("part_a"), col("part_b"),
        graft.Fns.money(col("jaccard_raw")).as("jaccard"))
      .orderBy(col("part_a"), col("part_b"))
  }

  /** Community detection on the co-purchase graph by SYNCHRONOUS label
    * propagation (Raghavan et al. 2007), the linear-time alternative to
    * modularity optimization: every node starts labeled with its own id;
    * each round every node simultaneously adopts the most frequent label
    * among its neighbors, ties broken by smallest label. Product
    * communities = substitute/complement clusters in the co-purchase
    * network; on a document link graph the identical operator yields the
    * site/topic clusters crawl curation samples from.
    *
    * Determinism (the reason for SYNCHRONOUS rounds): asynchronous LPA
    * depends on visit order, which no distributed engine reproduces.
    * Synchronous rounds with integer counts and the (count DESC, label
    * ASC) argmax are a pure function of the edge set, so a DuckDB
    * oracle unrolling the same `iters` rounds is hash-identical.
    * `iters` is FIXED (no convergence test) — label oscillation between
    * rounds is possible in bipartite-ish regions by construction, and a
    * fixed horizon keeps the oracle finite; 4 rounds reaches stable
    * cores on every tested fixture.
    *
    * Scale shape: per round one NODE-scale join (labels onto the
    * [[coPurchaseAdjacency]] relation — symmetry makes "labels of my
    * neighbors" equal "my label sent to my neighbors", so each node's
    * label attaches once and the per-edge rows are born in the explode
    * feeding the aggregate, never crossing a join) and one two-level
    * hash aggregate — the (node, label) count then the per-node argmax
    * via `min(struct(-c, label))`, both with map-side partials; labels
    * never leave the cluster, driver state is O(1). Final community
    * sizes ride a window over the node-cardinality result. */
  def partCommunities(spark: SparkSession, dir: String, iters: Int = 4): DataFrame = {
    val adj = coPurchaseAdjacency(spark, dir)
    var labels = adj.select(col("src").as("part"), col("src").as("label"))
    for (_ <- 1 to iters) {
      labels = adj
        .join(labels, adj("src") === labels("part"))
        .select(explode(col("nbrs")).as("node"), col("label"))
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("node").as("part"), col("m.l").as("label"))
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("community"))
    labels.select(col("part"), col("label").as("community"))
      .withColumn("community_size", count(lit(1)).over(w))
      .orderBy(col("part"))
  }

  /** Density-adaptive k-core of the co-purchase graph: the maximal
    * subgraph in which every node keeps at least `k` neighbors, computed
    * by synchronous peeling (Matula & Beck 1983's algorithm, rounds made
    * simultaneous for the same determinism reason as [[partCommunities]]).
    * The core is the load-bearing community skeleton — on a document
    * link graph the identical operator yields the densely-cited pages
    * crawl curation keeps when it prunes the long tail.
    *
    * `k` adapts to graph density — `(7 × Σdeg) div (10 × |V|)` (0.7× the
    * mean degree, INTEGER arithmetic so both engines compute the same k
    * exactly) — because a fixed absolute k on this co-purchase family
    * either binds nothing or cascades to empty as density scales
    * (measured: mean-degree k empties every fixture; 0.7× converges to a
    * stable core of ~91–97% of nodes at sf0.001–0.1). The two driver
    * scalars (Σdeg, |V|) ride one O(1) aggregate action, the same class
    * as pagerank's node count.
    *
    * Determinism over a FIXED horizon: alive sets shrink monotonically
    * (alive₀ = all nodes; a node peeled at round i has alive-degree < k
    * against a superset of every later alive set, so it can never
    * re-qualify), which makes the alive set after round 12 a pure
    * function of the edge set whatever the convergence point — the
    * unrolled DuckDB oracle and this loop agree by construction,
    * converged or not. 12 rounds is
    * fixpoint + ≥3 rounds of margin on every tested fixture (sf0.001
    * converges by round 2, sf0.01 by 6, sf0.1 by 9; `GraphsSpec` pins
    * fixpoint-at-horizon on the fixture).
    *
    * Scale shape: monotone peeling needs NO dead-node filter — a
    * receiver below k stays below k — so each round is exactly one
    * node-scale join (alive onto the checkpointed adjacency) feeding a
    * pipelined explode into one hash aggregate with map-side partials,
    * the [[partCommunities]] shape; the alive relation only shrinks.
    * Driver state is the two scalars; labels never leave the cluster. */
  def partKcore(spark: SparkSession, dir: String): DataFrame = {
    val adj = coPurchaseAdjacency(spark, dir)
    val firstRow = adj.agg(sum(col("outdeg")).as("s"), count(lit(1)).as("n")).head()
    val k = (7L * firstRow.getLong(0)) / (10L * firstRow.getLong(1))
    kcoreAdj(adj, k, 12)
  }

  /** The peel loop over a symmetric `(src, nbrs)` adjacency relation —
    * seam for property tests on synthetic graphs. Returns the surviving
    * nodes with their in-core degree (alive-neighbor count at the final
    * round). */
  private[graft] def kcoreAdj(adj: DataFrame, k: Long, rounds: Int): DataFrame = {
    var alive = adj.select(col("src").as("part"))
    var counted = adj.select(col("src").as("part"), col("outdeg").as("core_degree"))
    for (_ <- 1 to rounds) {
      counted = adj
        .join(alive, adj("src") === alive("part"))
        .select(explode(col("nbrs")).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("core_degree"))
        .filter(col("core_degree") >= k)
        .select(col("node").as("part"), col("core_degree"))
      alive = counted.select(col("part"))
    }
    counted.orderBy(col("part"))
  }

  /** Power iteration over a symmetric `(src, dst, outdeg)` edge list —
    * every node must both emit and receive (guaranteed when the edge set
    * is symmetric), so no dangling-mass redistribution pass is needed.
    * The edge list is grouped into adjacency form once; see
    * [[pagerankAdj]] for the iteration shape. */
  private[graft] def pagerank(edgeList: DataFrame, iters: Int): DataFrame =
    pagerankAdj(
      edgeList.groupBy(col("src"))
        .agg(collect_set(col("dst")).as("nbrs"))
        .withColumn("outdeg", size(col("nbrs")).cast("long"))
        .localCheckpoint(true),
      iters)

  /** Power iteration over a CHECKPOINTED symmetric adjacency relation
    * `(src, nbrs, outdeg)`. Each round is one node-scale join (ranks
    * onto adjacency — 1/deḡ the rows of the edge-keyed formulation,
    * which joined the full edge relation against ranks every round) and
    * one grouped aggregate; the exploded contribution rows are born
    * inside the aggregate's input pipeline, so they hit the map-side
    * partial combine without ever crossing a join or an extra exchange.
    * Measured at sf0.1 (2.39 M edges, 20 k nodes): 5 rounds 6.5 s
    * edge-keyed → 2.2 s adjacency-keyed, bit-identical ranks. */
  private def pagerankAdj(adj: DataFrame, iters: Int): DataFrame = {
    val n = adj.count() // O(1) driver scalar, like the k-means centroid count
    require(n > 0, "pagerank over an empty edge list")
    val r0 = Scale / n
    val base = 15L * r0 / 100L
    var ranks = adj.select(col("src").as("part"), lit(r0).as("rank_fx"))
    for (_ <- 1 to iters) {
      ranks = adj
        .join(ranks, adj("src") === ranks("part"))
        .select(explode(col("nbrs")).as("dst"),
          expr("rank_fx div outdeg").as("contrib"))
        .groupBy(col("dst"))
        .agg((lit(base) + expr("(85 * sum(contrib)) div 100")).as("rank_fx"))
        .select(col("dst").as("part"), col("rank_fx"))
    }
    ranks.orderBy(col("rank_fx").desc, col("part"))
  }
}
