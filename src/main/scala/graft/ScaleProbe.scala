package graft

/** Ad-hoc scale probe: time the same operator at ×1/×2/×4 input
  * replication to verify the claimed complexity empirically (findings
  * recorded in the operators' scaladoc and BASELINE.md §Scaling probes).
  * Usage:
  *   runMain graft.ScaleProbe <dir> [dir ...]        (text-op probes)
  *   runMain graft.ScaleProbe --span <dir> [mults]   (span-dedup probe)
  *   runMain graft.ScaleProbe --families <dir>       (minhash/triangles/knn_pq/
  *                                                    cc/mart/edit_dist ×2 axes)
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("32")
    spark.sparkContext.setLogLevel("WARN")
    // the one lap timer of every mode: `warm` runs `f` once untimed first
    // (JIT + codegen + page cache) — pass false for operations that are
    // not idempotent; every run is followed by releaseAll so cached and
    // checkpointed blocks never carry into the next measurement
    def timed(label: String, warm: Boolean = true)(f: => Long): Unit = {
      if (warm) { f; Sessions.releaseAll(spark) }
      val t0 = System.nanoTime(); val n = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      Sessions.releaseAll(spark)
    }
    // --families <baseDir>: ×1/×2/×4 replication probes for the heaviest
    // bench families (round-9 brief #4, round-10 brief #1/#6).
    // Replication shapes:
    //  - minhash: documents replicated under shifted doc_ids with the
    //    SAME text — every clone family is a true near-dup clique, so
    //    OUTPUT pairs grow ~quadratically by construction; the linearity
    //    claim is per-OUTPUT-pair cost, which is printed alongside.
    //  - triangles: lineitem replicated under shifted order/part keys —
    //    m disjoint copies of the co-purchase graph, workload ∝ m.
    //  - knn_pq: corpus replicated under ODD vec_ids (2·id+1+offset), so
    //    replicas never hit the vec_id % 100 == 0 query predicate: the
    //    query set stays FIXED while the coded corpus grows ∝ m — the
    //    serving-scale axis (ADC cost ∝ Q·N with Q held).
    //  - neardup_clusters (CC fixpoint): documents replicated with every
    //    TOKEN salted per replica (t -> t_i, a bijection) — token-set
    //    differences, hence the whole near-dup graph, are preserved
    //    exactly within a replica while cross-replica token sets are
    //    disjoint: m non-interacting copies of the same cluster graph,
    //    so fixpoint workload grows ∝ m at CONSTANT round count.
    //  - calendar mart: lineitem+orders replicated under shifted order
    //    keys with dates/dims unchanged — fact rows grow ∝ m while the
    //    18-key grouped keyspace stays FIXED: exactly the axis on which
    //    a partial aggregate that stopped combining would go
    //    super-linear.
    //  - edit_dist, two axes matching its two scale claims:
    //    (a) CLONE replicas (same text, shifted doc_id) — clones land in
    //    the SAME (lang, n_chars, prefix) contraction groups, so the
    //    band join / count filter / DP workload stays CONSTANT and only
    //    member lists (hence output pairs, ~m² within clone families)
    //    grow: probes the minhashPairsContracted-style contraction.
    //    (b) LANG-SALTED replicas (lang -> lang_i, text/n_chars/prefix
    //    unchanged) — lang is the leading join key, so replicas are m
    //    exactly-disjoint copies of the ×1 group graph: distinct-group
    //    join load ∝ m at identical candidate structure.
    if (args.headOption.contains("--families")) {
      import org.apache.spark.sql.functions._
      val base = args(1)
      val mults = args.lift(2).map(_.split(',').toSeq.map(_.toInt)).getOrElse(Seq(1, 2, 4))
      // optional 4th arg: comma-set of family keys to probe (skips the
      // other families' root builds too) — minhash, triangles, knn_pq,
      // cc, mart, edit_dist. Absent = all.
      val onlyFam = args.lift(3).map(_.split(',').toSet)
      def want(fam: String): Boolean = onlyFam.forall(_.contains(fam))
      for (m <- mults) {
        val root = s"/tmp/graft_scale_fam_x$m"
        val docs = Tables.documents(spark, base).select(col("doc_id"), col("text"))
        if (want("minhash") || want("containment_capped"))
          (0 until m).map(i => docs.select(
              (col("doc_id") + lit(i * 10000000L)).as("doc_id"), col("text")))
            .reduce(_.unionAll(_))
            .write.mode("overwrite").parquet(s"$root/documents.parquet")
        if (want("triangles") || want("kcore")) {
          val li = Tables.lineitem(spark, base)
            .select(col("l_orderkey"), col("l_partkey"))
          (0 until m).map(i => li.select(
              (col("l_orderkey") + lit(i * 1000000000L)).as("l_orderkey"),
              (col("l_partkey") + lit(i * 10000000L)).as("l_partkey")))
            .reduce(_.unionAll(_))
            .write.mode("overwrite").parquet(s"$root/lineitem.parquet")
        }
        if (want("knn_pq") || want("ivfpq") || want("mmr")) {
          val emb = Tables.embeddings(spark, base)
          val embReps = emb +: (1 until m).map(i => emb.withColumn("vec_id",
            col("vec_id") * 2 + lit(1L) + lit(i * 100000000L)))
          embReps.reduce(_.unionByName(_))
            .write.mode("overwrite").parquet(s"$root/embeddings.parquet")
        }

        // CC-family root: token-salted replicas (disjoint graph copies)
        val ccRoot = s"/tmp/graft_scale_cc_x$m"
        if (want("cc") || want("containment") || want("containment_incr"))
          (0 until m).map(i => docs.select(
              (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
              (if (i == 0) col("text")
               else expr(s"array_join(transform(split(text, ' '), t -> concat(t, '_$i')), ' ')"))
                .as("text")))
            .reduce(_.unionAll(_))
            .write.mode("overwrite").parquet(s"$ccRoot/documents.parquet")

        // calendar-mart root: facts grow, dims and group keyspace fixed
        val martRoot = s"/tmp/graft_scale_mart_x$m"
        if (want("mart")) {
          val liFull = Tables.lineitem(spark, base)
          (0 until m).map(i => liFull.withColumn("l_orderkey",
              col("l_orderkey") + lit(i * 1000000000L)))
            .reduce(_.unionAll(_))
            .write.mode("overwrite").parquet(s"$martRoot/lineitem.parquet")
          val ordFull = Tables.orders(spark, base)
          (0 until m).map(i => ordFull.withColumn("o_orderkey",
              col("o_orderkey") + lit(i * 1000000000L)))
            .reduce(_.unionAll(_))
            .write.mode("overwrite").parquet(s"$martRoot/orders.parquet")
          for (t <- Seq("part", "customer", "nation", "region"))
            Tables.read(spark, base, t)
              .write.mode("overwrite").parquet(s"$martRoot/$t.parquet")
        }

        // edit-distance roots: clone axis (contraction) + lang-salt axis
        // (disjoint group copies) — see the replication-shape notes above
        val edClone = s"/tmp/graft_scale_edc_x$m"
        val edLang = s"/tmp/graft_scale_edl_x$m"
        if (want("edit_dist")) {
          val docsEd = Tables.documents(spark, base)
            .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
          (0 until m).map(i => docsEd.withColumn("doc_id",
              col("doc_id") + lit(i * 10000000L)))
            .reduce(_.unionAll(_))
            .write.mode("overwrite").parquet(s"$edClone/documents.parquet")
          (0 until m).map(i => docsEd
              .withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
              .withColumn("lang",
                if (i == 0) col("lang") else concat(col("lang"), lit(s"_$i"))))
            .reduce(_.unionAll(_))
            .write.mode("overwrite").parquet(s"$edLang/documents.parquet")
        }

        // streaming-CC root: the STORE grows ×m (token-salted replicas,
        // disjoint near-dup graphs), the timed unit ingests the SAME
        // fixed batch against it — the operator's scale claim is that
        // per-ingest work is batch + touched clusters + a map-only
        // index scan, so ingest time must grow only with the scan term,
        // never like a corpus re-cluster
        val stRoot = s"/tmp/graft_scale_stream_x$m/store"
        if (want("streaming")) {
          graft.engine.Fs.deleteDir(spark, stRoot)
          val corpus = (0 until m).map(i => docs
              .filter(col("doc_id") % 7 =!= 3).select(
                (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
                (if (i == 0) col("text")
                 else expr(s"array_join(transform(split(text, ' '), t -> concat(t, '_$i')), ' ')"))
                  .as("text")))
            .reduce(_.unionAll(_))
          graft.streaming.ClusterMaintain.ingestBatch(corpus, stRoot, 0L)
        }

        if (want("minhash"))
          timed(f"minhash_pairs    x$m")(graft.dedup.Dedup.minhashPairs(spark, root).count())
        if (want("triangles"))
          timed(f"triangle_counts  x$m")(
            graft.queries.Graphs.triangleCounts(spark, root).count())
        // kcore rides the triangles root: ×m disjoint co-purchase graph
        // copies (orderkey/partkey both shifted), so nodes, edges and the
        // peel workload all grow ∝ m while the adaptive k stays the ×1
        // value (each copy has the ×1 degree distribution) — per-round
        // join + aggregate must scale linearly
        if (want("kcore"))
          timed(f"part_kcore       x$m")(
            graft.queries.Graphs.partKcore(spark, root).count())
        // containment rides the CC root: token-salted replicas keep the
        // shingle spaces DISJOINT (posting lists stay ×1-length, the
        // inverted-index join grows ∝ m, no m² candidate blowup — clone
        // replicas would instead square the OUTPUT, which is the
        // operator's honest output-bound axis, same as minhash clones)
        if (want("containment"))
          timed(f"containment      x$m")(
            graft.dedup.Dedup.containmentPairs(spark, ccRoot).count())
        // CAPPED containment rides the CLONE root (minhash root — same
        // text, shifted doc_id): clones multiply every posting list's
        // document frequency by m, the adversarial boilerplate shape
        // where the UNCAPPED inverted-index join squares candidates and
        // output with m. The frequency cap (candidate-gen-only) bounds
        // every surviving posting list at ≤cap rows, so candidate volume
        // is ≤ (#distinct shingles)·cap² independent of m — growth must
        // stay ≤ linear (the index build/window legs are ∝ m), never m²
        if (want("containment_capped"))
          timed(f"containment_cap  x$m")(
            graft.dedup.Dedup.containmentPairs(spark, root,
              maxShingleFreq = Some(10)).count())
        if (want("knn_pq"))
          timed(f"knn_pq           x$m")(graft.sim.Similarity.knnPq(spark, root).count())
        // ivfpq rides the knn_pq embeddings root (corpus grows ×m; the
        // vec_id%100==0 query set stays FIXED at ×1 — replica ids are
        // odd by construction, so no replica is ever a query): the ADC
        // scan is probed-lists-only, so per-query scanned rows grow
        // ∝ m/nClusters while knn_pq's full coded scan grows ∝ m — at a
        // fixed query set the composite's advantage should WIDEN with m
        if (want("ivfpq"))
          timed(f"knn_ivfpq        x$m")(graft.sim.Similarity.knnIvfPq(spark, root).count())
        // mmr on the same root: k fixed rounds, each one corpus scan —
        // expected linear in corpus size at fixed k
        if (want("mmr"))
          timed(f"mmr_select       x$m")(graft.sim.Similarity.mmrSelect(spark, root).count())
        if (want("cc"))
          timed(f"neardup_clusters x$m")(
            graft.dedup.Dedup.nearDupClusters(spark, ccRoot).count())
        if (want("mart"))
          timed(f"calendar_mart    x$m")(
            graft.queries.Marts.salesSummaryCalendar(spark, martRoot).count())
        if (want("edit_dist")) {
          timed(f"edit_dist clones x$m")(
            graft.dedup.Dedup.editDistancePairs(spark, edClone).count())
          timed(f"edit_dist langs  x$m")(
            graft.dedup.Dedup.editDistancePairs(spark, edLang).count())
        }
        if (want("streaming"))
          // replay of the same batch_id is idempotent, so timed's
          // warm+timed double-run measures the identical ingest twice
          timed(f"stream_ingest    x$m")(
            graft.streaming.ClusterMaintain.ingestBatch(
              docs.filter(col("doc_id") % 7 === 3), stRoot, 1L))
        // ANN-maintenance probe: the INDEX grows ×m (corpus replicated
        // under odd vec_ids, index rebuilt per m), the ingested batch is
        // FIXED (fresh ids above the replica range). The operator's
        // scale claim is that ingest is map-only over the batch against
        // O(nClusters + m·codes) broadcast metadata — it never reads the
        // lists store — so ingest time must be FLAT in index size, while
        // the post-ingest serve grows only with the probed lists
        // (∝ m/nClusters of the corpus).
        if (want("ann_maintain")) {
          val amRoot = s"/tmp/graft_scale_am_x$m"
          val emb = Tables.embeddings(spark, base)
          val embReps = emb +: (1 until m).map(i => emb.withColumn("vec_id",
            col("vec_id") * 2 + lit(1L) + lit(i * 100000000L)))
          embReps.reduce(_.unionByName(_))
            .write.mode("overwrite").parquet(s"$amRoot/embeddings.parquet")
          val idx = s"$amRoot/idx"
          graft.engine.Fs.deleteDir(spark, idx)
          graft.sim.Similarity.buildIvfPqIndexOn(
            graft.sim.Similarity.preparedCk(spark, amRoot), idx, 10, 3, 8, 32, 2)
          // thunks re-derive their inputs from parquet: timed's
          // releaseAll between runs evicts localCheckpoint blocks, so a
          // checkpointed frame must not outlive one thunk
          timed(f"ann_ingest       x$m")(
            graft.sim.Similarity.ingestIvfPqBatch(
              graft.sim.Similarity.prepared(spark, base)
                .select((col("vec_id") + lit(900000000L)).as("vec_id"),
                  col("v"), col("norm2")),
              idx, 1L))
          timed(f"ann_serve_maint  x$m")(
            graft.sim.Similarity.knnIvfPqFromIndexOn(
              graft.sim.Similarity.prepared(spark, amRoot)
                .select(col("vec_id"), col("v"), col("norm2")),
              idx, 5, 2, 8, 50).count())
        }
        // ann_streamed_refit END-TO-END (round-15 verdict #2): the
        // components are probed individually (ingest FLAT, refit ∝
        // drifted members, serve pruned) — this times the COMPOSITE
        // (base-template clone + two streamed epochs through ivfPqSink
        // + the forced refit-ALL + the pruned serve) at ×m corpora.
        // Replication shape: vec_id + i·8e7 — the shift is ≡0 (mod 8),
        // so the %4≠3 base slice, the %8=3 iid epoch and the %8=7
        // negated-drift epoch ALL grow ∝ m with their class structure
        // intact; replicas share vector values, so the drift regime
        // (iid quiet, negated all-drifted) is preserved exactly.
        // Expected: every leg ∝ m around a ~1 s fixed AvailableNow
        // epoch overhead — gently linear end-to-end, never super-linear
        // (the refit's Lloyd is over drifted members only; the serve is
        // probe-pruned). The warm (untimed) pass absorbs the per-root
        // base-template Derived.store build, so the timed pass measures
        // the bench steady-state shape (clone + stream + refit + serve).
        if (want("ann_refit_e2e")) {
          val arRoot = s"/tmp/graft_scale_ar_x$m"
          val emb = Tables.embeddings(spark, base)
          val embReps = emb +: (1 until m).map(i => emb.withColumn("vec_id",
            col("vec_id") + lit(i * 80000000L)))
          embReps.reduce(_.unionByName(_))
            .write.mode("overwrite").parquet(s"$arRoot/embeddings.parquet")
          timed(f"ann_refit_e2e    x$m")(
            graft.sim.Similarity.annStreamedRefit(spark, arRoot).count())
        }
        // incremental-containment probe: FIXED batch (replica-0 docs
        // with doc_id % 10 = 0) against a corpus growing ×m via the
        // token-salted replicas (disjoint shingle spaces — cross-replica
        // candidates impossible, so candidate volume stays ×1 while the
        // map-only corpus posting scan grows ∝ m: growth must be gently
        // linear in the scan term, never in the pair term)
        if (want("containment_incr")) {
          timed(f"containment_incr x$m") {
            val docsIdx = graft.dedup.Dedup.shingleIndex(spark, ccRoot)
              .filter(col("n_sh") > 0)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            val n = graft.dedup.Dedup.containmentIncrementalOn(docsIdx,
              col("doc_id") < 10000000L && col("doc_id") % 10 === 0,
              0.8, 500000L).count()
            docsIdx.unpersist()
            n
          }
        }
        // compaction-cadence probe (round-13 verdict #6): at what forest
        // size does compactMerges pay for itself within ONE batch? For
        // m·1000 chain edges, measure (a) ingest carrying the forest,
        // (b) the compaction, (c) ingest after — the per-batch forest
        // tax is (a)−(c); compaction is break-even within one batch
        // when (a)−(c) ≥ (b). Pass mults like 2,10,25,50 to sweep E.
        if (want("compact_cadence")) {
          val czRoot = s"/tmp/graft_scale_cz_x$m/store"
          graft.engine.Fs.deleteDir(spark, czRoot)
          graft.streaming.ClusterMaintain.ingestBatch(
            docs.filter(col("doc_id") % 7 =!= 3), czRoot, 0L)
          spark.range(1000L * m)
            .select((col("id") + lit(1000000001L)).as("old_label"),
              (col("id") + lit(1000000000L)).as("new_label"))
            .write.mode("overwrite").parquet(s"$czRoot/merges/batch_id=1")
          val batch = docs.filter(col("doc_id") % 7 === 3)
          timed(f"cz_ingest_forest ${m}k")(
            graft.streaming.ClusterMaintain.ingestBatch(batch, czRoot, 2L))
          timed(f"cz_compact       ${m}k", warm = false)(
            graft.streaming.ClusterMaintain.compactMerges(spark, czRoot))
          timed(f"cz_ingest_after  ${m}k")(
            graft.streaming.ClusterMaintain.ingestBatch(batch, czRoot, 2L))
        }
        // partial-refit probe: corpus grows ×m; the claim is refit cost
        // ∝ the DRIFTED FRACTION's members, not the corpus — one drifted
        // list of 10 must cost ~1/10 of the full coarse work at every m,
        // while the full rebuild pays the whole corpus fit + encode.
        // Drift is fabricated per run by a stats_delta whose rows sit
        // far below the fit means for exactly the chosen cids.
        if (want("ann_refit")) {
          val arRoot = s"/tmp/graft_scale_ar_x$m"
          val emb = Tables.embeddings(spark, base)
          val embReps = emb +: (1 until m).map(i => emb.withColumn("vec_id",
            col("vec_id") * 2 + lit(1L) + lit(i * 100000000L)))
          embReps.reduce(_.unionByName(_))
            .write.mode("overwrite").parquet(s"$arRoot/embeddings.parquet")
          val idx = s"$arRoot/idx"
          def freshIndex(): Unit = {
            graft.engine.Fs.deleteDir(spark, idx)
            val e = graft.sim.Similarity.preparedCk(spark, arRoot)
            val (coarse, _) = graft.sim.Similarity.buildIvfPqIndexOn(
              e, idx, 10, 3, 8, 32, 2)
            graft.sim.Similarity.cidStats(
                graft.sim.Similarity.assignScored(e, coarse), "n_fit", "fit_mean_cos")
              .coalesce(1).write.mode("overwrite").parquet(s"$idx/stats")
          }
          def fakeDrift(cids: Seq[Int]): Unit =
            spark.read.parquet(s"$idx/stats")
              .filter(col("cid").isin(cids: _*))
              .select(col("cid"), col("n_fit").as("n_batch"),
                (col("fit_mean_cos") - lit(1.0)).as("batch_mean_cos"),
                lit(1L).as("batch_id"))
              .coalesce(1).write.mode("overwrite").parquet(s"$idx/stats_delta")
          freshIndex()
          timed(f"ar_full_rebuild  x$m", warm = false) {
            graft.sim.Similarity.buildIvfPqIndexOn(
              graft.sim.Similarity.preparedCk(spark, arRoot), idx, 10, 3, 8, 32, 2)
            1L
          }
          freshIndex(); fakeDrift(Seq(3))
          timed(f"ar_refit_1of10   x$m", warm = false) {
            graft.sim.Similarity.refitDriftedLists(
              graft.sim.Similarity.preparedCk(spark, arRoot), idx).toLong
          }
          freshIndex(); fakeDrift(0 until 10)
          timed(f"ar_refit_10of10  x$m", warm = false) {
            graft.sim.Similarity.refitDriftedLists(
              graft.sim.Similarity.preparedCk(spark, arRoot), idx).toLong
          }
        }
        // streaming-compact probe: the STORE is fixed ×1 but the merge
        // FOREST is salted with a 50k·m-edge chain (the adversarial
        // lifetime shape: years of cluster-merge events, chained so the
        // fixpoint needs pointer-jumping rounds over them). Uncompacted,
        // the chain rides into EVERY per-batch fixpoint — ingest cost
        // grows with m. After compactMerges folds it into the label
        // store (chain labels touch no stored doc, so the fold is a
        // no-op rewrite + forest delete), ingest cost must be FLAT in m:
        // per-batch work is batch + touched roots only.
        if (want("streaming_compact")) {
          val scRoot = s"/tmp/graft_scale_sc_x$m/store"
          graft.engine.Fs.deleteDir(spark, scRoot)
          graft.streaming.ClusterMaintain.ingestBatch(
            docs.filter(col("doc_id") % 7 =!= 3), scRoot, 0L)
          spark.range(50000L * m)
            .select((col("id") + lit(1000000001L)).as("old_label"),
              (col("id") + lit(1000000000L)).as("new_label"))
            .write.mode("overwrite").parquet(s"$scRoot/merges/batch_id=1")
          val batch = docs.filter(col("doc_id") % 7 === 3)
          timed(f"cm_ingest_forest x$m")(
            graft.streaming.ClusterMaintain.ingestBatch(batch, scRoot, 2L))
          timed(f"cm_compact       x$m", warm = false)(
            graft.streaming.ClusterMaintain.compactMerges(spark, scRoot))
          timed(f"cm_ingest_compact x$m")(
            graft.streaming.ClusterMaintain.ingestBatch(batch, scRoot, 2L))
        }
      }
      spark.stop(); return
    }
    // --midtail <baseDir>: stage attribution for the 1.3 s+ mid-tail
    // queries (round-15 verdict #5) — time each query's NATURAL
    // components so the committed medians decompose into write-
    // primitive / gate / round-structure floors instead of opaque
    // totals. Warm+timed double-run per component (the timed shape).
    if (args.headOption.contains("--midtail")) {
      import org.apache.spark.sql.functions._
      val base = args(1)
      val src = Tables.orders(spark, base)
        .withColumn("ingestion_month",
          date_format(col("o_orderdate"), "yyyyMM").cast("int"))
      // write primitives shared by the four write-measuring queries:
      // one full-source partitioned load, its replace-partition retry,
      // the read-back aggregate — their floors are sums of these
      val wRoot = "/tmp/graft_midtail_w"
      timed("orders_part_write (fresh)") {
        graft.engine.Fs.deleteDir(spark, wRoot)
        graft.engine.Layers.replacePartitionsPath(src, wRoot,
          Seq("ingestion_month")); 1L
      }
      timed("orders_part_retry (replace)") {
        graft.engine.Layers.replacePartitionsPath(src, wRoot,
          Seq("ingestion_month")); 1L
      }
      timed("orders_readback_agg")(
        spark.read.parquet(wRoot).groupBy(col("ingestion_month"))
          .agg(count(lit(1))).count())
      val mRoot = "/tmp/graft_midtail_m"
      timed("manifest_write (fresh)") {
        graft.engine.Fs.deleteDir(spark, mRoot)
        graft.engine.Manifest.replacePartitions(src, mRoot,
          Seq("ingestion_month")); 1L
      }
      timed("manifest_retry+vacuum") {
        graft.engine.Manifest.replacePartitions(src, mRoot,
          Seq("ingestion_month"))
        graft.engine.Manifest.vacuum(spark, mRoot); 1L
      }
      // gate primitive: the one-aggregation-job expectation suite over
      // the full orders source (dq_gated_promotion pays this twice,
      // plus the clean batch's partitioned load)
      timed("full_query idempotent_reload")(
        graft.queries.Extras.idempotentReload(spark, base).count())
      timed("full_query manifest_reload")(
        graft.queries.Extras.manifestReload(spark, base).count())
      timed("full_query dq_gated")(
        graft.queries.DataQuality.dqGatedPromotion(spark, base).count())
      timed("full_query scd2_gated")(
        graft.queries.Scd2Queries.gated(spark, base).count())
      // basket_rules = basket_pairs' pair relation + two broadcast
      // count-attaches + the scalar basket count: the pairs leg is the
      // floor, the delta is the attach machinery
      timed("basket_pairs_leg")(
        graft.queries.Extras.basketPairs(spark, base).count())
      timed("full_query basket_rules")(
        graft.queries.Analytics.basketRules(spark, base).count())
      // part_kcore: fixed-round peel loop — time at 3/6/12 rounds; a
      // ~linear fit in rounds pins the cost to round structure
      // (scheduler + per-round shuffle), not data volume
      Seq(3, 6, 12).foreach(r =>
        timed(f"part_kcore rounds=$r%2d")(
          graft.queries.Graphs.partKcore(spark, base, rounds = r).count()))
      timed("full_query dedup_threshold_curve")(
        graft.dedup.Dedup.dedupThresholdCurve(spark, base).count())
      spark.stop(); return
    }
    // --span <baseDir>: replicate documents ×1/×2/×4 with distinct ids
    // and time spanDedup — duplication depth grows, distinct chunks stay
    // constant, so time should track the explode volume (≈ linear)
    if (args.headOption.contains("--span")) {
      import org.apache.spark.sql.functions._
      val base = Tables.documents(spark, args(1)).select(col("doc_id"), col("text"))
      val mults = args.lift(2).map(_.split(',').toSeq.map(_.toInt)).getOrElse(Seq(1, 2, 4))
      for (m <- mults) {
        val rep = (0 until m).map(i => base.select(
          (col("doc_id") + lit(i * 10000000L)).as("doc_id"), col("text")))
          .reduce(_.unionAll(_))
        val path = s"/tmp/span_x$m"
        rep.write.mode("overwrite").parquet(s"$path/documents.parquet")
        // consume n_kept + clean_md5 so Catalyst cannot eliminate the
        // keeper join (count() alone prunes a unique-key left join away)
        def run(): Long = graft.text.TextAnalysis.spanDedup(spark, path)
          .agg(sum(col("n_kept")), max(col("clean_md5"))).head().getLong(0)
        timed(f"span_dedup x$m")(run())
      }
      spark.stop(); return
    }
    for (d <- args.toSeq) {
      timed(s"dup_spans    $d", warm = false)(graft.text.TextAnalysis.dupSpans(spark, d).count())
      timed(s"source_quota $d", warm = false)(graft.text.TextAnalysis.sourceQuota(spark, d).count())
      timed(s"quality_gate $d", warm = false)(graft.text.TextAnalysis.qualityGatePerLang(spark, d).count())
    }
    spark.stop()
  }
}
