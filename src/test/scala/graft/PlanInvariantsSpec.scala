package graft

/** The SCALING.md plan invariants as a regression guard over EVERY
  * registered query: no cartesian product may ever appear, and
  * BroadcastNestedLoopJoin may appear only in the audited set of
  * deliberate bounded broadcasts (one-row aggregates, tiny enumerated
  * dimensions, bounded probe sets). A new query that accidentally plans
  * a cartesian or an unbounded BNLJ fails here before it ships.
  */
class PlanInvariantsSpec extends SparkSpec {

  /** Queries whose plans legitimately contain BroadcastNestedLoopJoin —
    * each is a bounded broadcast by construction (see SCALING.md). */
  private val allowedBnlj = Set(
    "q_cross_join",      // 5x5 enumeration
    "q_range_join",      // tiny band dimension
    "q_scalar_subquery", // one-row aggregate
    "q_tpch_q11",        // one-row aggregate
    "q_tpch_q22",        // one-row aggregate
    "text_bm25",         // one-row corpus stats
    "text_bm25_serve",   // same one-row stats, read from the index
    "text_bm25_shards",  // same, re-aggregated across index shards
    "text_bm25_delete",  // same one-row stats + the one-row tombstone
                         // (count, Σdl) adjustment broadcast
    "text_tfidf_vocab",  // one-row corpus size
    "text_boilerplate",  // one-row corpus size
    "text_unigram_logprob", // one-row (n_total, vocab) LM normalizer
    "text_quality_deciles", // same LM normalizer, decile rollup
    "text_dsir_weights", // one-row (ns, nt, vocab) two-LM normalizer
    "text_nb_classify",  // |labels|-row candidate dimension crossed
                         // into the token stream (the
                         // pipeline_source_mix tiny-enumeration
                         // class) + the one-row vocab scalar
    "text_nb_serve",     // the same scoring frame over the stored
                         // count tables — identical audited shapes
    "text_nb_compact",   // ditto — the compacted tables feed the one
                         // shared scoring frame
    "text_nb_delete",    // ditto — batch-partition retraction, same
                         // serve plan over what remains
    "sim_topk_bruteforce", "sim_topk_aggregator", "sim_topk_native", // probes
    "sim_range_search",  // broadcast probes, map-side threshold filter
    "graph_pagerank",    // one-row node-count normalizer per iteration
    "graph_pagerank_dangling", // + one-row dangling-mass scalar per iteration
    "pipeline_temperature_mix", // one-row pow-normalizer aggregate
    "sim_kmeans_step",   // K centroids
    "sim_index_stats",   // one-row (total, n_cells) normalizer
    "sim_imi_stats",     // one-row (total, n_pairs) normalizer — the
                         // same shape at the pair key
    "pipeline_source_mix", // |sources|-row capped-count dimension
    "pipeline_mixture",    // one-row source-count aggregate
    "pipeline_mixture_sample", // same normalizer, materialized
    "pipeline_key_skew",   // one-row global-stats aggregate
    "pipeline_drift_psi",  // one-row corpus-total normalizer
    "sim_hybrid_rrf",      // vector leg = broadcast probes (scoreAll's
                           // probe≠neighbor non-equi), same as the
                           // audited brute-force family
    "sim_rrf_diverse",     // same fused chain + diversity windows
    "sim_pca_power",       // one-row mean / direction / norm vectors
    "sim_pca_residual",    // same chain + the broadcast final direction
    "sim_random_projection", // dOut-row (4) output-dimension table
    "text_cooccurrence_pmi", // one-row n_docs normalizer aggregate
    "text_bigram_logprob",   // one-row vocab scalar (the context-count
                             // side is a broadcast HASH join on `a`)
    "flow_ewma_anomaly",     // observed-bucket dim (≤ |day/600| rows)
                             // crossed into the dense (eni, bucket)
                             // grid
    "text_bpe_train",        // one-row winning-pair broadcast per
                             // unrolled merge round (crossJoin(limit 1))
    "text_bpe_apply",        // same train chain feeding the tokenize join
    "sim_mips_topk",         // broadcast probes, probe != neighbor
                             // non-equi (the brute-force family shape)
    "pipeline_negative_sample", // one-row occupied-bucket-count scalar
                             // (the empty-bucket-proof draw remap)
    "text_keywords",         // one-row corpus-count idf normalizer
    "sketch_kmv_setops",     // |groups|×|groups| pair enumeration over
                             // the synopsis store's distinct groups —
                             // bounded by the PROFILE's group count
                             // (sources, crawls), never data
    "sim_mmr_rerank",        // candidate generation = the audited
                             // brute-force shape (broadcast probes,
                             // probe != neighbor non-equi); the greedy
                             // rounds are equi-joins on the tiny pool
    "sim_bq_rerank",         // Hamming shortlist = the brute-force
                             // shape over 16-byte codes (broadcast
                             // probe codes, probe != neighbor
                             // non-equi); the re-rank joins are equi
    "sim_bq_persist", "sim_bq_append", // same serve over the stored /
                             // appended code tables
    "sim_bq_delete",         // same serve, tombstone-masked codes
    "sim_bq_filtered",       // same serve, predicate-masked codes —
                             // the broadcast probe side is unchanged
    "sim_bq_range",          // same serve, thresholded refined tail
    "sim_bq_compact",        // same serve over the physically
                             // compacted code table (the rewrite ran
                             // before the returned frame)
    "sim_recall_ladder",     // composes the audited brute-force + BQ
                             // shortlist shapes (broadcast probes,
                             // probe != neighbor non-equi) per rung
    "sim_recall_curve",      // the ladder's shapes × nprobe operating
                             // points — same audited brute-force
                             // exact-baseline + shortlist non-equis
    "sim_imi_curve",         // the multi-index curve: the same
                             // audited brute-force exact baseline
                             // (broadcast probes, probe != neighbor
                             // non-equi); every serve leg is a pair
                             // equi-join
    "sim_imi_curve_clustered", // the same curve chain over the
                             // deterministic clustered fixture —
                             // identical audited shapes, only the
                             // input vectors differ
    "sim_imi_curve_external", // the same curve chain probed by
                             // synthesized NON-corpus vectors —
                             // identical audited shapes (broadcast
                             // probes, probe != neighbor non-equi),
                             // only the probe frame differs
    "mm_feature_knn"         // the audited brute-force shape over
                             // kernel-extracted feature vectors
                             // (broadcast probes, probe != neighbor
                             // non-equi)
  )

  test("unrolled iterative plans pin their round counts") {
    // The shuffle-budget spec legitimately excludes the iterative
    // queries (cached/unrolled lineage inflates the plan-string
    // exchange count), which leaves a blind spot: an accidental extra
    // Lloyd / rank / hop round would ship silently inside correctness
    // (the fixed point re-converges) at ~1.5x the cost. These pins
    // count ROUND SIGNATURES in the analyzed logical plan instead —
    // one per unrolled round by construction, updated deliberately
    // when an iteration constant changes.
    import org.apache.spark.sql.catalyst.plans.logical.Window

    // sim_kmeans_train (round-19 kernel, round-20 localization): each
    // Lloyd round's assignment is an inline array_min argmin over the
    // COLLECTED previous-round centroids, and since round 20 each
    // round's means themselves materialize to a LocalRelation — the
    // returned frame is a bounded local table with zero Windows and
    // zero argmin projections left in its plan (the rounds ran
    // eagerly at build). The iteration COUNT itself is pinned harder
    // than any plan signature could be: the DuckDB oracle replays the
    // trajectory sequentially (seed → c0 → a1 → c1 → a2 → c2), so an
    // extra or missing round changes every mean and fails the hash
    // gate.
    val km = SparkEntry.queries("sim_kmeans_train")(spark, sfDir)
    val kmWindows = km.queryExecution.analyzed.collect {
      case w: Window => w
    }.size
    assert(kmWindows == 0,
      s"sim_kmeans_train: expected 0 windows (inline argmin " +
        s"assignment), got $kmWindows")
    val kmArgmins = "array_min\\(transform\\(".r
      .findAllIn(km.queryExecution.analyzed.toString).size
    assert(kmArgmins == 0,
      s"sim_kmeans_train: expected a localized means table (0 argmin " +
        s"projections in the final frame), got $kmArgmins")
    val kmLocal = km.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.size
    assert(kmLocal == 1,
      s"sim_kmeans_train: expected the trained means as exactly 1 " +
        s"LocalRelation, got $kmLocal")

    // graph_pagerank runs iterations = 3: the contrib projection
    // (`rank_micro div outd AS contrib`) appears once per round in the
    // rank chain (the prelude subtrees re-print per round, but none of
    // them aliases `contrib`).
    val pr = SparkEntry.queries("graph_pagerank")(spark, sfDir)
    val prRounds = " AS contrib".r
      .findAllIn(pr.queryExecution.analyzed.toString).size
    assert(prRounds == 3,
      s"graph_pagerank: expected 3 contrib rounds, got $prRounds")

    // graph_label_prop runs iterations = 2: the per-round argmax
    // aggregation aliases `best`, and each round's votes union
    // re-prints the prior round's chain under BOTH branches (neighbor
    // join + self-vote), so N rounds print 2^N − 1 `best` aliases —
    // 3 for N=2; a third round would jump the count to 7.
    val lpa = SparkEntry.queries("graph_label_prop")(spark, sfDir)
    val lpaBest = " AS best".r
      .findAllIn(lpa.queryExecution.analyzed.toString).size
    assert(lpaBest == 3,
      s"graph_label_prop: expected 2 vote rounds (2^2-1 = 3 printed " +
        s"argmax aliases), got $lpaBest")

    // graph_bfs_hops runs maxHops = 3: each hop stamps its own
    // DISTINCT hop literal (`k AS hops`), so the set of literals in
    // the lineage is exactly {0..maxHops} — an accidental 4th hop
    // would stamp `4 AS hops`. (Occurrence COUNTS are meaningless
    // here: the anti-join re-prints the prior visited chain per hop.)
    val bfs = SparkEntry.queries("graph_bfs_hops")(spark, sfDir)
    val hopLits = "([0-9]+) AS hops".r
      .findAllMatchIn(bfs.queryExecution.analyzed.toString)
      .map(_.group(1).toInt).toSet
    assert(hopLits == Set(0, 1, 2, 3),
      s"graph_bfs_hops: expected hop literals {0,1,2,3}, got $hopLits")

    // graph_kcore unrolls 3 peel rounds. Each round's degree
    // aggregation aliases `d` once, and the round's two semi-joins
    // re-print the prior chain under the alive subtree twice, so the
    // count follows c(r) = 3·c(r−1) + 2 → 2, 8, 26 — the
    // label-prop-style derived lineage formula. A 4th round would
    // jump the count to 80.
    val kc = SparkEntry.queries("graph_kcore")(spark, sfDir)
    val kcDegs = """ AS d\b""".r
      .findAllIn(kc.queryExecution.analyzed.toString).size
    assert(kcDegs == 26,
      s"graph_kcore: expected 3 peel rounds (c(r)=3c+2 = 26 printed " +
        s"degree aliases), got $kcDegs")

    // sim_mmr_rerank unrolls k = 3 greedy rounds over a LOCALLY
    // CHECKPOINTED pool and sims table (their upstream windows print
    // as LogicalRDD leaves, w = 0). Window-node count in the analyzed
    // plan is DERIVED from the round recurrence: the seed selection
    // w(sel₁) = 1; each round adds its pick window over (anti-join of
    // cand ⟕̸ sel) ⋈ (max-sim agg over sims ⋈ sel) — two sel refs —
    // and unions it under the running selection, so w(selᵣ) =
    // 3·w(selᵣ₋₁) + 1 → 1, 4, 13. A 4th round would jump the count
    // to 40; a regression from checkpoint back to raw lineage would
    // jump it to 34 (the old w(r)=3w+4 recurrence over the re-printed
    // pool window).
    val mmr = SparkEntry.queries("sim_mmr_rerank")(spark, sfDir)
    val mmrWindows = mmr.queryExecution.analyzed.collect {
      case w: Window => w
    }.size
    assert(mmrWindows == 13,
      s"sim_mmr_rerank: expected 13 windows (3 unrolled greedy " +
        s"rounds over checkpointed pool/sims, w(r)=3w+1), got " +
        s"$mmrWindows — round count or pool materialization drifted?")
  }

  test("connected components: executed round counts pin on controlled diameters") {
    // The CC loop is convergence-driven (not unrolled), so its rounds
    // never appear in any plan — componentsWithRounds exposes the
    // executed count instead. Fixtures are geometry-controlled so the
    // expected round count is DERIVED, not just measured; an
    // accidental extra propagation round (or a propagation change that
    // slows convergence) re-converges to the same fixpoint and would
    // otherwise ship silently at ~1.5x the cost.
    import spark.implicits._
    import operators.ConnectedComponents

    // Two disjoint dup cliques (diameter 1) — the gated dedup graphs'
    // shape: the fused init already labels every vertex with its
    // component minimum, so round 1 only confirms the fixpoint.
    val cliques = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L))
      .toDF("id_a", "id_b")
    val (cliqueLabels, cliqueRounds) =
      ConnectedComponents.componentsWithRounds(cliques)
    assert(cliqueLabels.count() == 5)
    assert(cliqueRounds == 1,
      s"clique CC: fused init must leave only the confirming round, " +
        s"ran $cliqueRounds")

    // A 9-node chain (diameter 8): min-label propagation moves the
    // head label one hop per round past the fused init's head start
    // (node 8 starts at label 7), needing 7 improvement rounds + 1
    // confirming round; pointer jumping shortcuts through the label's
    // label each round and must converge in O(log diameter).
    val chain = (0L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (plainLabels, plainRounds) =
      ConnectedComponents.componentsWithRounds(chain)
    val (jumpLabels, jumpRounds) = ConnectedComponents
      .componentsWithRounds(chain, pointerJump = true)
    info(s"chain CC rounds: plain=$plainRounds jump=$jumpRounds")
    assert(plainLabels.agg(org.apache.spark.sql.functions.max($"component"))
      .head.getLong(0) == 0L)
    assert(jumpLabels.agg(org.apache.spark.sql.functions.max($"component"))
      .head.getLong(0) == 0L)
    assert(plainRounds == 8,
      s"chain CC: expected 7 improvement + 1 confirm rounds, " +
        s"ran $plainRounds")
    assert(jumpRounds < plainRounds && jumpRounds <= 5,
      s"pointer jumping must be O(log diameter): ran $jumpRounds " +
        s"vs plain $plainRounds")
  }

  test("no CartesianProduct in any plan; BNLJ only in the audited set") {
    // Iterative queries (connected components) execute driver-side jobs
    // while BUILDING their final frame; that is acceptable here — the
    // final plan is still what ships to the sink.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val cartesian = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin") &&
          !allowedBnlj.contains(name)
        if (cartesian) Some(s"$name: CartesianProduct")
        else if (bnlj) Some(s"$name: unaudited BroadcastNestedLoopJoin")
        else None
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("an opened persisted index builds its serve frames with no Spark job; collect job counts pinned") {
    // The persisted serves derive their per-index state (schemas,
    // collected quantizer, occupancy, corpus stats, tombstone
    // presence) once per index generation (IndexSnapshot). On an index
    // already served since its last write, building a request's frame
    // must therefore run NO job, and the collect's job count is pinned
    // at its current value: a job added to either half shows here.
    import graft.operators.{Dedup, Multimodal, Similarity, Sketches,
      TextAnalysis}
    import org.apache.spark.sql.functions.{col, explode, expr, length}
    val s = spark
    import s.implicits._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf[A](f: => A): (A, Int) = {
      org.apache.spark.graft.GraftSpillBridge.waitListenerBus(sc)
      jobs.set(0)
      val r = f
      org.apache.spark.graft.GraftSpillBridge.waitListenerBus(sc)
      (r, jobs.get)
    }
    withTempDir("graft_serve_jobs") { root =>
      val (ann, text) = (s"$root/ann", s"$root/text")
      val labeled = Similarity.vectors(Tables.embeddings(spark, sfDir))
      val vecs = labeled.select($"vec_id", $"v")
      val cents = Similarity.kmeansTrain(vecs, 8, 2)
      val imiCents = Similarity.imiSubCentroids(labeled)
      Similarity.writeIvfPqIndex(vecs, ann)
      TextAnalysis.writeInvertedIndex(Tables.documents(spark, sfDir), text, 8)
      Similarity.writeBqIndex(vecs, s"$root/bq")
      Similarity.writeIvfBqIndex(vecs, cents, s"$root/ivf_bq")
      Similarity.writeIvfIndex(vecs, cents, s"$root/ivf_flat")
      Similarity.writeIvfSq8Index(vecs, cents, s"$root/ivf_sq8")
      Similarity.writeImiIndex(labeled, imiCents, s"$root/imi")
      Similarity.writeImiPqIndex(labeled, imiCents, s"$root/imi_pq")
      val docs = Tables.documents(spark, sfDir)
      val sigs = Dedup.minhashSignaturesV2(docs)
      val shingles = docs.filter(length(col("text")) >= 8)
        .select(col("source"), explode(expr("transform(sequence(1, " +
          "length(text) - 7), i -> substring(text, i, 8))")).as("sh"))
      TextAnalysis.writeSpellIndex(docs, s"$root/symspell")
      TextAnalysis.nbWriteModel(
        docs.select($"doc_id", $"source".as("label"), $"text"), s"$root/nb")
      Dedup.writeSubstringFpIndex(docs.filter($"doc_id" < 50),
        s"$root/substring_fp")
      Multimodal.writeChunkStore(docs.filter($"doc_id" < 50),
        s"$root/chunk_store")
      Dedup.writeBloomIndex(docs, s"$root/bloom", shards = 4)
      Dedup.writeLshIndex(sigs.filter($"doc_id" < 100), s"$root/lsh",
        sep = "|")
      Sketches.writeKmvSynopses(shingles, col("sh"), col("source"),
        s"$root/kmv", k = 16)
      val (incoming, history) =
        (docs.filter($"doc_id" < 20), docs.filter($"doc_id" < 50))
      val (classified, shard) =
        (docs.select($"doc_id", $"text"), sigs.filter($"doc_id" >= 100))
      // One serving request: a single local probe vector.
      val probe = Seq((-1L, vecs.filter($"vec_id" === 3).head.getSeq[Double](1)))
        .toDF("vec_id", "v")
      val serves = Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "ann" -> (() => Similarity.searchIvfPqIndex(spark, ann, vecs, probe,
          5, rerankDepth = Similarity.AutoRerankDepth)),
        "bm25" -> (() => TextAnalysis.searchInvertedIndex(spark, text,
          Seq("hash", "join", "spark"), 8)),
        "phrase" -> (() => TextAnalysis.searchPhraseIndex(spark, text,
          Seq("slow", "hash", "batch"), 8)),
        "bq" -> (() => Similarity.bqRerankFromIndex(spark, s"$root/bq", vecs,
          probe, k = 5)),
        "ivf_bq" -> (() => Similarity.searchIvfBqIndex(spark,
          s"$root/ivf_bq", vecs, probe, k = 5)),
        "ivf_flat" -> (() => Similarity.searchIvfIndex(spark,
          s"$root/ivf_flat", probe, 5)),
        "ivf_sq8" -> (() => Similarity.searchIvfSq8Index(spark,
          s"$root/ivf_sq8", probe, 5)),
        "imi" -> (() => Similarity.searchImiIndex(spark, s"$root/imi", probe,
          5)),
        "imi_pq" -> (() => Similarity.searchImiPqIndex(spark, s"$root/imi_pq",
          labeled, probe, 5, rerankDepth = Similarity.AutoRerankDepth)),
        "symspell" -> (() => TextAnalysis.searchSpellIndex(spark, docs,
          s"$root/symspell")),
        "nb_model" -> (() => TextAnalysis.nbClassifyFromModel(spark,
          classified, s"$root/nb")),
        "substring_fp" -> (() => Dedup.substringSpansAgainstIndex(spark,
          incoming, history, s"$root/substring_fp")),
        "chunk_store" -> (() => Multimodal.reconstructFromStore(spark,
          s"$root/chunk_store")),
        "bloom" -> (() => Dedup.bloomPrefilterFromIndex(spark, incoming,
          docs, s"$root/bloom")),
        "lsh" -> (() => Dedup.lshIncrementalFromIndex(spark, s"$root/lsh",
          shard, sep = "|")),
        "kmv" -> (() => Sketches.kmvSetOps(spark, s"$root/kmv", k = 16)))
      serves.foreach(_._2().collect()) // opens every index
      sc.addSparkListener(listener)
      try {
        val counts = serves.map { case (name, serve) =>
          val (df, built) = jobsOf(serve())
          val (_, collected) = jobsOf(df.collect())
          name -> (built, collected)
        }.toMap
        info(s"serve jobs (build, collect): $counts")
        assert(counts === Map("ann" -> (0, 4), "bm25" -> (0, 3),
          "phrase" -> (0, 3), "bq" -> (0, 5), "ivf_bq" -> (0, 5),
          "ivf_flat" -> (0, 4), "ivf_sq8" -> (0, 4), "imi" -> (0, 4),
          "imi_pq" -> (0, 7), "symspell" -> (0, 8), "nb_model" -> (0, 18),
          "substring_fp" -> (0, 13), "chunk_store" -> (0, 3), "bloom" -> (0, 5),
          "lsh" -> (0, 3), "kmv" -> (0, 6)))
      } finally sc.removeSparkListener(listener)
    }
  }
}
