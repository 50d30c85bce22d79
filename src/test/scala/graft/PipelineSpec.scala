package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Similarity}

/** Tests for the training-data pipeline operators: known-positive
  * duplicates must be found, ANN must rank the exact duplicate first,
  * multimodal plumbing must preserve payloads.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Tables.documents(spark, sfDir)
  lazy val corpus = Dedup.augmentCorpus(docs)

  /** Shared controlled-geometry ANN fixture: 8 well-separated ±1
    * sign-pattern centers, 12 members each = center + N(0, 0.1) noise,
    * vec_id = center*100 + i, label = center. True neighbors are
    * in-cluster, every member shares its center's 4-bit sign bucket,
    * and labels coincide with geometric clusters — one definition so
    * the recall pins across the knnJoin/IVF/LSH tests can never
    * desynchronize on the geometry. */
  private def clusteredVecs(seed: Int = 42): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(seed)
    val dim = 16
    val centers = (0 until 8).map(c =>
      Array.tabulate(dim)(d => if (((c >> (d % 3)) & 1) == 1) 1.0 else -1.0))
    val rows = for (c <- 0 until 8; i <- 0 until 12) yield
      (c * 100L + i, c,
        centers(c).map(x => x + rnd.nextGaussian() * 0.1).toSeq)
    rows.toDF("vec_id", "label", "v")
  }

  test("exact dedup finds every injected duplicate pair") {
    val groups = Dedup.exactDuplicates(corpus)
    val nDocs = docs.count()
    val dupGroups = groups.filter($"n_copies" >= 2).count()
    val injected = docs.filter($"doc_id" % 10 === 0).count()
    assert(dupGroups === injected)
    assert(groups.agg(sum($"n_copies")).head.getLong(0) === corpus.count())
    assert(nDocs > 0)
  }

  test("DSIR weights rank target-domain documents above off-domain ones") {
    // Two disjoint vocabularies: target docs speak "medical", the rest
    // "legal". Importance weights toward the target source must score
    // every in-domain doc above every off-domain doc, and identical
    // docs identically.
    val med = "dose patient trial cohort symptom relapse therapy outcome"
    val leg = "clause tort estoppel plaintiff statute remand verdict brief"
    val docs = (
      (0L until 10L).map(i => (i, "target", med)) ++
      (10L until 30L).map(i => (i, s"other${i % 3}", leg))
    ).toDF("doc_id", "source", "text")
    val w = graft.operators.TextAnalysis.dsirWeights(docs, "target")
      .select($"doc_id", $"avg_term_micro").as[(Long, Double)].collect().toMap
    val inDomain = (0L until 10L).map(w)
    val offDomain = (10L until 30L).map(w)
    assert(inDomain.min > offDomain.max,
      s"in-domain min ${inDomain.min} must exceed off-domain max ${offDomain.max}")
    assert(inDomain.toSet.size === 1 && offDomain.toSet.size === 1,
      "identical documents must score identically")
  }

  test("dedup cluster stats account for every document exactly once") {
    val pairs = Dedup.lshCandidatePairs(
      Dedup.minhashSignatures(Dedup.shingles(corpus)))
    val stats = graft.operators.ConnectedComponents
      .canonicalize(corpus, pairs)
      .groupBy($"component").agg(count(lit(1)).as("cluster_size"))
      .groupBy($"cluster_size").agg(count(lit(1)).as("n_clusters"))
    val rows = stats.as[(Long, Long)].collect()
    assert(rows.map { case (sz, n) => sz * n }.sum === corpus.count())
    // injected exact+near duplicates guarantee some multi-doc clusters
    assert(rows.exists { case (sz, _) => sz >= 2 })
  }

  test("sharded bloom prefilter: no full-size filter anywhere, output = plain anti-join") {
    val base = docs.select($"doc_id", $"text")
    val incoming = corpus.filter($"doc_id" >= 100000)
    val shards = 8
    val expected = 1000000L
    // 1. Distribution: the filter table is a pure Dataset pipeline —
    // only (shard, byte-length) ever reaches the driver here, and every
    // per-shard filter is ~1/shards of the single merged filter the
    // unsharded path would allocate (compare serialized sizes).
    val sizes = Dedup.shardedBloomFilters(base, shards, expected, 0.01)
      .map { case (shard, bytes) => (shard, bytes.length) }.collect()
    assert(sizes.nonEmpty && sizes.length <= shards)
    val fullSize = {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.spark.util.sketch.BloomFilter.create(expected, 0.01).writeTo(bos)
      bos.size()
    }
    for ((shard, n) <- sizes)
      assert(n < fullSize / 4,
        s"shard $shard filter is $n bytes — not sharded vs full $fullSize")
    // 2. Correctness: identical to the unsharded operator and to the
    // plain anti-join ground truth.
    val got = Dedup.bloomPrefilterShardedNew(base, incoming, shards)
      .select($"doc_id").as[Long].collect().toSet
    val plain = incoming.join(base.select($"text"), Seq("text"), "left_anti")
      .select($"doc_id").as[Long].collect().toSet
    assert(got === plain)
    assert(got === Dedup.bloomPrefilterNew(base, incoming)
      .select($"doc_id").as[Long].collect().toSet)
  }

  test("persisted bloom layout: served output equals the in-memory " +
      "operator; OR-merged append halves are BIT-identical to the " +
      "monolithic filter; the sidecar gates the layout") {
    val base = docs.select($"doc_id", $"text")
    val incoming = corpus.filter($"doc_id" >= 100000)
    val dir = tempDir("graft_bloom_spec")
    Dedup.writeBloomIndex(base, dir, shards = 8)
    val served = Dedup.bloomPrefilterFromIndex(spark, incoming, base, dir)
      .as[(Long, String)].collect().sortBy(_._1)
    val direct = Dedup.bloomPrefilterShardedNew(base, incoming, shards = 8)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(served.toSeq === direct.toSeq)

    // Append bit-parity at the FILTER level (stronger than output
    // parity): per shard, OR(half-A filter, half-B filter) must
    // serialize to exactly the monolithic filter's bytes — bloom
    // insertion is deterministic bit-setting, so the merged bit array
    // IS the union build's.
    def filters(df: org.apache.spark.sql.DataFrame) =
      Dedup.shardedBloomFilters(df, 8, 1000000L, 0.01).collect().toMap
    val mono = filters(base)
    val a = filters(base.filter($"doc_id" % 2 === 0))
    val b = filters(base.filter($"doc_id" % 2 =!= 0))
    assert(mono.keySet === (a.keySet ++ b.keySet))
    mono.foreach { case (shard, wantBytes) =>
      def read(m: Map[Int, Array[Byte]]) = m.get(shard).map(bs =>
        org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(bs)))
      val merged = (read(a), read(b)) match {
        case (Some(x), Some(y)) => x.mergeInPlace(y); x
        case (Some(x), None) => x
        case (None, Some(y)) => y
        case _ => fail(s"shard $shard missing from both halves")
      }
      val bos = new java.io.ByteArrayOutputStream()
      merged.writeTo(bos)
      assert(java.util.Arrays.equals(bos.toByteArray, wantBytes),
        s"shard $shard: merged halves differ from the monolithic filter")
    }

    // A non-bloom dir must fail loudly.
    operators.IndexMeta.write(spark, dir, "layout" -> "symspell")
    val e = intercept[IllegalArgumentException] {
      Dedup.bloomPrefilterFromIndex(spark, incoming, base, dir)
    }
    assert(e.getMessage.contains("bloom"))
  }

  test("minhash LSH candidates include all exact and near duplicates") {
    val cand = Dedup.lshCandidatePairs(
      Dedup.minhashSignatures(Dedup.shingles(corpus)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactIds = docs.filter($"doc_id" % 10 === 0)
      .select($"doc_id").as[Long].collect()
    for (id <- exactIds)
      assert(cand.contains((id, id + 100000)), s"missing exact dup $id")
    val nearIds = docs.filter($"doc_id" % 10 === 5)
      .select($"doc_id").as[Long].collect()
    val nearFound = nearIds.count(id => cand.contains((id, id + 200000)))
    // near-dups share all but ~3 trailing shingles; expect nearly all found
    assert(nearFound >= nearIds.length * 9 / 10)
  }

  test("bloom prefilter dedup equals the plain anti-join exactly") {
    val base = docs.select($"doc_id", $"text")
    val incoming = corpus.filter($"doc_id" >= 100000)
    val got = Dedup.bloomPrefilterNew(base, incoming)
      .select($"doc_id").as[Long].collect().sorted
    val want = incoming
      .join(base.select($"text").distinct(), Seq("text"), "left_anti")
      .select($"doc_id").as[Long].collect().sorted
    assert(got.toSeq === want.toSeq)
    // every injected exact copy is dropped; every near-dup survives
    assert(got.forall(_ >= 200000))
    assert(got.length === docs.filter($"doc_id" % 10 === 5).count())
  }

  test("jaccard of an exact duplicate pair is 1.0") {
    val sh = Dedup.shingles(corpus)
    val cand = Dedup.lshCandidatePairs(Dedup.minhashSignatures(sh))
    val jac = Dedup.jaccardPairs(sh, cand)
    val exact = jac.filter($"id_b" === $"id_a" + 100000)
    assert(exact.filter($"jaccard" =!= 1.0).count() === 0)
    assert(exact.count() > 0)
  }

  test("simhash is identical for exact duplicates") {
    val sh = Dedup.simhash(corpus)
    val joined = sh.as("a").join(sh.as("b"),
      col("b.doc_id") === col("a.doc_id") + 100000)
    assert(joined.count() > 0)
    assert(joined.filter(col("a.simhash") =!= col("b.simhash")).count() === 0)
    assert(sh.head.getString(1).length === 16)
  }

  test("simhash pairs recover every exact duplicate at distance 0") {
    val sh = Dedup.simhash(corpus)
    val pairs = Dedup.simhashPairs(sh, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val dupIds = corpus.filter(col("doc_id") >= 100000 && col("doc_id") < 200000)
      .select((col("doc_id") - 100000).as("orig"))
      .collect().map(_.getLong(0)).toSet
    for (orig <- dupIds)
      assert(pairs.exists(p => p._1 == orig && p._2 == orig + 100000 && p._3 == 0),
        s"missing exact-dup pair for $orig")
    // verification is exact: no pair beyond the distance bound survives
    assert(pairs.forall(_._3 <= 1))
  }

  test("brute-force ANN ranks an exact duplicate at cosine 1.0") {
    val vecs = Similarity.augmentVectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" === 100000) // dup of vec 0
    val top = Similarity.bruteForceTopK(vecs, probes, 1).collect()
    assert(top.length === 1)
    assert(top(0).getAs[Long]("neighbor_id") === 0L)
    assert(top(0).getAs[Double]("cos_r") === 1.0)
  }

  test("winsorize clips ~2*(1-p) of each dimension, passes the rest through") {
    val vecs = graft.operators.Similarity.vectors(
      Tables.embeddings(spark, sfDir)).select($"vec_id", $"v")
    val w = graft.operators.Similarity.winsorize(vecs)
    val n = vecs.count().toDouble
    // ~5% clipped per side for continuous data; generous slack for ties
    val perDim = w.groupBy($"dim")
      .agg((sum(when($"clipped", 1).otherwise(0)) / n).as("frac"))
      .select($"frac").as[Double].collect()
    assert(perDim.forall(f => f >= 0.04 && f <= 0.14),
      s"clip fraction out of band: ${perDim.min} .. ${perDim.max}")
    // unclipped values pass through exactly (mod the 6-dp emit rounding)
    val dims = vecs.select($"vec_id",
      posexplode($"v").as(Seq("pos", "x")))
      .select($"vec_id", ($"pos" + 1).cast("long").as("dim"), $"x")
    val drift = w.filter(!$"clipped").join(dims, Seq("vec_id", "dim"))
      .filter(abs($"x_clip" - $"x") > 5e-7).count()
    assert(drift === 0)
  }

  test("recall@k: IVF and LSH recover clustered neighbors") {
    // Controlled geometry ([[clusteredVecs]]): true neighbors are
    // in-cluster, so single-cluster IVF search must recover (almost)
    // all of them, and every member shares its center's 4-bit sign
    // bucket exactly.
    val vecs = clusteredVecs()
    val probes = vecs.filter($"vec_id" % 100 < 2)   // 2 per cluster
    val k = 3
    val exact = graft.operators.Similarity
      .bruteForceTopK(vecs.select($"vec_id", $"v"),
        probes.select($"vec_id", $"v"), k)
    def mean(df: org.apache.spark.sql.DataFrame): Double =
      graft.operators.Similarity.recallAtK(exact, df)
        .agg(avg($"recall")).head.getDouble(0)
    // self-recall is exactly 1 (identity sanity for the metric itself)
    assert(mean(exact) === 1.0)
    val ivf = graft.operators.Similarity.ivfTopK(vecs, probes, k)
    val lsh = graft.operators.Similarity
      .lshTopK(vecs.select($"vec_id", $"v"), probes.select($"vec_id", $"v"),
        k, bits = 4)
    val (mi, ml) = (mean(ivf), mean(lsh))
    info(f"clustered recall@$k ivf=$mi%.3f lsh=$ml%.3f")
    assert(mi >= 0.95, f"IVF recall@$k degraded: $mi%.3f")
    assert(ml >= 0.95, f"LSH recall@$k degraded: $ml%.3f")
  }

  test("knnJoin: all-cells probing equals brute force, one cell recovers clusters") {
    // Same 8-center geometry ([[clusteredVecs]]). At nprobe = 8
    // (every cell probed) the IVF blocking is exhaustive, so the join
    // must equal the brute-force self-top-k EXACTLY — same rounded
    // scores, same tie-break order. At nprobe = 1 in-cluster neighbors
    // dominate, so recall stays high while each probe scans ~1/8.
    val vecs = clusteredVecs()
    val k = 3
    val exact = graft.operators.Similarity
      .bruteForceTopK(vecs.select($"vec_id", $"v"),
        vecs.select($"vec_id", $"v"), k)
      .select($"probe_id", $"neighbor_id", $"cos_r", $"rank".as("rnk"))
    val exhaustive = graft.operators.Similarity.knnJoin(vecs, k, nprobe = 8)
    assert(exhaustive.collect().toSet === exact.collect().toSet,
      "knnJoin at nprobe=all-cells must equal brute force bit-for-bit")
    val single = graft.operators.Similarity.knnJoin(vecs, k)
    val recall = graft.operators.Similarity.recallAtK(exact, single)
      .agg(avg($"recall")).head.getDouble(0)
    info(f"knnJoin single-cell recall@$k = $recall%.3f")
    assert(recall >= 0.95, f"single-cell knnJoin recall degraded: $recall%.3f")
  }

  test("imiTopK: exhaustive pair-probing equals brute force, one pair recovers clusters") {
    // Same 8-center geometry. The multi-index has 8 sub-centroids per
    // half → 64 virtual (c0, c1) cells; at nprobe = 64 every pair is
    // probed, the union of probed cells is the whole corpus (cells are
    // disjoint by the rank-1 pair indexing), and the serve must equal
    // brute force EXACTLY — same rounded cosines, same tie-break. At
    // nprobe = 1 a probe scans only its own best pair; on clustered
    // data that pair holds its cluster, so recall stays high while the
    // scan fraction drops to ~1/64th-granularity cells.
    val vecs = clusteredVecs()
    val probes = vecs.filter($"vec_id" % 100 < 2)
    val k = 3
    val exact = graft.operators.Similarity
      .bruteForceTopK(vecs.select($"vec_id", $"v"),
        probes.select($"vec_id", $"v"), k)
      .select($"probe_id", $"neighbor_id", $"cos_r", $"rank".as("rnk"))
    val exhaustive = graft.operators.Similarity
      .imiTopK(vecs, probes, k, nprobe = 64)
      .select($"probe_id", $"neighbor_id", $"cos_r", $"rnk")
    assert(exhaustive.collect().toSet === exact.collect().toSet,
      "imiTopK at nprobe=all-pairs must equal brute force bit-for-bit")
    val single = graft.operators.Similarity.imiTopK(vecs, probes, k)
    val recall = graft.operators.Similarity.recallAtK(exact,
        single.select($"probe_id", $"neighbor_id", $"cos_r", $"rnk"))
      .agg(avg($"recall")).head.getDouble(0)
    info(f"imiTopK single-pair recall@$k = $recall%.3f")
    assert(recall >= 0.95, f"single-pair IMI recall degraded: $recall%.3f")
    // Disjointness invariant of the pair indexing: across ALL probed
    // cells of the exhaustive serve, no (probe, neighbor) pair may
    // surface twice — a corpus vector lives in exactly one virtual cell.
    val dup = graft.operators.Similarity
      .imiTopK(vecs, probes, Int.MaxValue, nprobe = 64)
      .groupBy($"probe_id", $"neighbor_id").count()
      .filter($"count" > 1).count()
    assert(dup === 0, "a corpus vector surfaced from two virtual cells")
  }

  test("imiTrainedTopK: exhaustive pair-probing equals brute force, one pair recovers clusters") {
    // The production (label-free) multi-index on the same 8-center
    // geometry: two independently-trained half-quantizers (hash-seeded
    // Lloyd, k=8 per half). At nprobe = 64 every virtual pair is
    // probed and the serve must equal brute force exactly; at
    // nprobe = 1 the trained pair still recovers the clusters (the
    // centers' half-patterns are distinct, so each half's Lloyd
    // converges onto them).
    val vecs = clusteredVecs()
    val probes = vecs.filter($"vec_id" % 100 < 2)
    val k = 3
    val exact = graft.operators.Similarity
      .bruteForceTopK(vecs.select($"vec_id", $"v"),
        probes.select($"vec_id", $"v"), k)
      .select($"probe_id", $"neighbor_id", $"cos_r", $"rank".as("rnk"))
    val exhaustive = graft.operators.Similarity
      .imiTrainedTopK(vecs.select($"vec_id", $"v"),
        probes.select($"vec_id", $"v"), k, kSub = 8, iters = 2,
        nprobe = 64)
      .select($"probe_id", $"neighbor_id", $"cos_r", $"rnk")
    assert(exhaustive.collect().toSet === exact.collect().toSet,
      "trained IMI at nprobe=all-pairs must equal brute force bit-for-bit")
    val single = graft.operators.Similarity
      .imiTrainedTopK(vecs.select($"vec_id", $"v"),
        probes.select($"vec_id", $"v"), k, kSub = 8, iters = 2)
    val recall = graft.operators.Similarity.recallAtK(exact,
        single.select($"probe_id", $"neighbor_id", $"cos_r", $"rnk"))
      .agg(avg($"recall")).head.getDouble(0)
    info(f"imiTrainedTopK single-pair recall@$k = $recall%.3f")
    assert(recall >= 0.90, f"trained single-pair IMI recall degraded: $recall%.3f")
  }

  test("persisted IMI index: served, appended, and deleted legs keep the in-memory contract") {
    // Write → read → serve must not move a bit (double codebook means
    // are parquet-exact; the serve frame is SHARED with imiTopK); the
    // append leg must make write(A) + append(B) file-for-file
    // equivalent to write(A ∪ B) under the same codebooks (assignment
    // depends only on the stored codebooks); the pair-partitioned scan
    // must be DPP-driven on the probed pairs; and a tombstoned id must
    // vanish from every serve.
    import graft.operators.Similarity
    val vecs = clusteredVecs()
    val probes = vecs.filter($"vec_id" % 100 < 2)
    val cents = Similarity.imiSubCentroids(vecs)
    val want = Similarity.imiTopK(vecs, probes, 3, nprobe = 2)
      .collect().toSet
    withTempDir("graft_imi_spec") { dir =>
      Similarity.writeImiIndex(vecs, cents, dir)
      val served = Similarity.searchImiIndex(spark, dir, probes, 3,
        nprobe = 2)
      assert(want.nonEmpty && served.collect().toSet === want,
        "persisted IMI serve must equal the in-memory imiTopK")
      val plan = served.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        "IMI index scan lost its dynamic partition pruning")
      // A deleted neighbor disappears; everything else is unchanged.
      val victim = want.head.getLong(want.head.fieldIndex("neighbor_id"))
      Similarity.deleteFromIvfIndex(spark,
        Seq(victim).toDF("vec_id"), dir)
      val masked = Similarity.searchImiIndex(spark, dir, probes,
          Int.MaxValue, nprobe = 2)
        .select($"neighbor_id").distinct().collect().map(_.getLong(0))
      assert(!masked.contains(victim), "tombstoned id still served")
      // Physical compaction (per-pair leaf replace) must serve
      // bit-identically to the mask it replaces, drop the victim's
      // rows from disk, and drain the tombstone table to zero rows
      // (present, so the serve reads an empty mask, not a missing
      // path).
      val wantMasked = Similarity.searchImiIndex(spark, dir, probes, 3,
        nprobe = 2).collect().toSet
      Similarity.compactImiIndex(spark, dir)
      val compacted = Similarity.searchImiIndex(spark, dir, probes, 3,
        nprobe = 2).collect().toSet
      assert(compacted === wantMasked,
        "compaction changed a served result")
      assert(liveTable(dir, "index")
        .filter($"vec_id" === victim).count() === 0,
        "compaction left the tombstoned row's files on disk")
      assert(liveTable(dir, "tombstones").count() === 0,
        "compaction did not drain the tombstone table")
    }
    withTempDir("graft_imi_spec_app") { dir =>
      Similarity.writeImiIndex(vecs.filter($"vec_id" % 2 === 0), cents, dir)
      Similarity.appendImiIndex(spark, vecs.filter($"vec_id" % 2 === 1),
        dir)
      val served = Similarity.searchImiIndex(spark, dir, probes, 3,
        nprobe = 2)
      assert(served.collect().toSet === want,
        "write(A) + append(B) must serve identically to write(A ∪ B)")
      // Full drain → zero-row placeholder → re-append: the drained
      // table must stay readable (empty serve, not a crash), the
      // placeholder must yield to the re-appended pair partitions,
      // and the rebuilt serve must equal a fresh build over the same
      // rows — the lifecycle's hardest corner, pinned for the pair
      // layout like the cell layouts before it.
      Similarity.deleteFromIvfIndex(spark, vecs.select($"vec_id"), dir)
      Similarity.compactImiIndex(spark, dir)
      assert(Similarity.searchImiIndex(spark, dir, probes, 3, nprobe = 2)
        .count() === 0, "fully drained IMI index must serve empty")
      Similarity.appendImiIndex(spark, vecs, dir)
      val rebuilt = Similarity.searchImiIndex(spark, dir, probes, 3,
        nprobe = 2)
      assert(rebuilt.collect().toSet === want,
        "re-append after a full drain must serve like a fresh build")
    }
  }

  test("persisted IMI index: a one-probe serve at nprobe 1 reads one pair partition") {
    // The test above pins that a dynamic pruning filter is in the plan;
    // this one pins that it prunes. Each 8-dim half of a clusteredVecs
    // center carries all three bits of the center index (bit d % 3), so
    // the 8 centers land in 8 distinct (c0, c1) leaves, and one probed
    // pair is one leaf. The count is the scan's numPartitions metric
    // after the serve ran; AQE wraps scans in query stages, so the scan
    // is found through AdaptiveSparkPlanHelper.
    import graft.operators.Similarity
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val vecs = clusteredVecs()
    withTempDir("graft_imi_prune") { dir =>
      Similarity.writeImiIndex(vecs, Similarity.imiSubCentroids(vecs), dir)
      val onDisk = liveTable(dir, "index")
        .select($"c0", $"c1").distinct().count()
      assert(onDisk === 8, s"fixture holds $onDisk pair leaves, not 8")
      val served = Similarity.searchImiIndex(spark, dir,
        vecs.filter($"vec_id" === 0), 3, nprobe = 1)
      assert(served.collect().nonEmpty, "one-probe serve returned nothing")
      val helper = new AdaptiveSparkPlanHelper {}
      val read = helper.collect(served.queryExecution.executedPlan) {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths
              .exists(_.toString.endsWith("/index")) =>
          f.metrics("numPartitions").value
      }
      assert(read.nonEmpty, "no file scan over the IMI index found")
      assert(read.max === 1,
        s"one-probe nprobe-1 serve read ${read.max} of $onDisk pair " +
          "partitions; the probed pair is one")
    }
  }

  test("persisted IMI index: delete, compaction, full drain and re-append keep the in-memory contract") {
    // The lifecycle legs of the test above, on the same fixture, without
    // its plan-shape pin: a tombstoned id vanishes, compaction serves
    // bit-identically to the mask it replaces, and a two-level full
    // drain followed by an append serves like a fresh build.
    import graft.operators.Similarity
    val vecs = clusteredVecs()
    val probes = vecs.filter($"vec_id" % 100 < 2)
    val cents = Similarity.imiSubCentroids(vecs)
    val want = Similarity.imiTopK(vecs, probes, 3, nprobe = 2)
      .collect().toSet
    withTempDir("graft_imi_life") { dir =>
      Similarity.writeImiIndex(vecs, cents, dir)
      val victim = want.head.getLong(want.head.fieldIndex("neighbor_id"))
      Similarity.deleteFromIvfIndex(spark,
        Seq(victim).toDF("vec_id"), dir)
      val masked = Similarity.searchImiIndex(spark, dir, probes,
          Int.MaxValue, nprobe = 2)
        .select($"neighbor_id").distinct().collect().map(_.getLong(0))
      assert(!masked.contains(victim), "tombstoned id still served")
      val wantMasked = Similarity.searchImiIndex(spark, dir, probes, 3,
        nprobe = 2).collect().toSet
      Similarity.compactImiIndex(spark, dir)
      val compacted = Similarity.searchImiIndex(spark, dir, probes, 3,
        nprobe = 2).collect().toSet
      assert(compacted === wantMasked,
        "compaction changed a served result")
      assert(liveTable(dir, "index")
        .filter($"vec_id" === victim).count() === 0,
        "compaction left the tombstoned row's files on disk")
      assert(liveTable(dir, "tombstones").count() === 0,
        "compaction did not drain the tombstone table")
    }
    withTempDir("graft_imi_life_app") { dir =>
      Similarity.writeImiIndex(vecs.filter($"vec_id" % 2 === 0), cents, dir)
      Similarity.appendImiIndex(spark, vecs.filter($"vec_id" % 2 === 1),
        dir)
      assert(Similarity.searchImiIndex(spark, dir, probes, 3, nprobe = 2)
        .collect().toSet === want,
        "write(A) + append(B) must serve identically to write(A ∪ B)")
      Similarity.deleteFromIvfIndex(spark, vecs.select($"vec_id"), dir)
      Similarity.compactImiIndex(spark, dir)
      assert(Similarity.searchImiIndex(spark, dir, probes, 3, nprobe = 2)
        .count() === 0, "fully drained IMI index must serve empty")
      Similarity.appendImiIndex(spark, vecs, dir)
      assert(Similarity.searchImiIndex(spark, dir, probes, 3, nprobe = 2)
        .collect().toSet === want,
        "re-append after a full drain must serve like a fresh build")
    }
  }

  test("imiPqTopK: exhaustive config equals brute force bit-for-bit; " +
      "shipped config keeps recall") {
    // Multi-D-ADC + refine: with every pair probed and the shortlist
    // covering the corpus, the exact re-rank IS brute force (pairs
    // partition the corpus; ADC only ORDERS the shortlist, and a full
    // shortlist makes that ordering irrelevant) — the degenerate pin
    // every ANN rung here carries. At the shipped config (nprobe=2,
    // depth-40 refine) the m-byte codes must not cost meaningful
    // recall on the clustered geometry the multi-index is for.
    import graft.operators.Similarity
    val vecs = clusteredVecs()
    val probes = vecs.filter($"vec_id" % 100 < 2)
    val k = 3
    val exact = Similarity.bruteForceTopK(vecs.select($"vec_id", $"v"),
        probes.select($"vec_id", $"v"), k)
      .select($"probe_id", $"neighbor_id", $"cos_r", $"rank".as("rnk"))
    val exhaustive = Similarity.imiPqTopK(vecs, probes, k,
      nprobe = 64, rerankDepth = vecs.count().toInt)
    assert(exhaustive.collect().toSet === exact.collect().toSet,
      "imiPqTopK at nprobe=all-pairs, depth=corpus must equal brute force")
    val shipped = Similarity.imiPqTopK(vecs, probes, k)
    val recall = Similarity.recallAtK(exact, shipped)
      .agg(avg($"recall")).head.getDouble(0)
    info(f"imiPqTopK shipped-config recall@$k = $recall%.3f")
    assert(recall >= 0.85,
      f"Multi-D-ADC shipped-config recall degraded: $recall%.3f")
  }

  test("persisted Multi-D-ADC layout: served, appended, deleted, and " +
      "compacted legs keep the in-memory contract") {
    import graft.operators.Similarity
    val vecs = clusteredVecs()
    val probes = vecs.filter($"vec_id" % 100 < 2)
    val cents = Similarity.imiSubCentroids(vecs)
    val want = Similarity.imiPqTopK(vecs, probes, 3).collect().toSet
    withTempDir("graft_imipq_spec") { dir =>
      Similarity.writeImiPqIndex(vecs, cents, dir)
      val served = Similarity.searchImiPqIndex(spark, dir, vecs, probes, 3)
      assert(want.nonEmpty && served.collect().toSet === want,
        "persisted Multi-D-ADC serve must equal the in-memory imiPqTopK")
      // The layout's whole point: the stored corpus is CODES +
      // integer metadata (fmt 2: the input's non-vector columns ride
      // beside the codes for the filtered serve) — no float/vector
      // column anywhere in the index table.
      assert(liveTable(dir, "codes").columns.toSet ===
        Set("vec_id", "sub", "cid", "label", "c0", "c1"),
        "code table must hold codes + metadata + pair keys, never floats")
      // A deleted id can never be NOMINATED (masked before the ADC
      // shortlist), and physical compaction serves bit-identically to
      // the mask while dropping the code rows and draining tombstones.
      val victim = want.head.getLong(want.head.fieldIndex("neighbor_id"))
      Similarity.deleteFromIvfIndex(spark, Seq(victim).toDF("vec_id"), dir)
      val masked = Similarity.searchImiPqIndex(spark, dir, vecs, probes,
        96, nprobe = 64, rerankDepth = 96)
      assert(!masked.select($"neighbor_id").distinct().collect()
        .map(_.getLong(0)).contains(victim), "tombstoned id was nominated")
      val wantMasked = Similarity.searchImiPqIndex(spark, dir, vecs,
        probes, 3).collect().toSet
      Similarity.compactImiPqIndex(spark, dir)
      assert(Similarity.searchImiPqIndex(spark, dir, vecs, probes, 3)
        .collect().toSet === wantMasked,
        "compaction changed a served result")
      assert(liveTable(dir, "codes")
        .filter($"vec_id" === victim).count() === 0,
        "compaction left the tombstoned row's code files on disk")
      assert(liveTable(dir, "tombstones").count() === 0,
        "compaction did not drain the tombstone table")
    }
    withTempDir("graft_imipq_spec_app") { dir =>
      // write(evens, quantizer = full) + append(odds) must serve
      // bit-identically to the monolithic build: BOTH quantizer
      // levels (half codebooks AND residual codebook) are fixed at
      // write time and parquet round-trips them exactly.
      Similarity.writeImiPqIndex(vecs.filter($"vec_id" % 2 === 0), cents,
        dir, quantizer = Some(vecs))
      Similarity.appendImiPqIndex(spark, vecs.filter($"vec_id" % 2 === 1),
        dir)
      assert(Similarity.searchImiPqIndex(spark, dir, vecs, probes, 3)
        .collect().toSet === want,
        "write(A) + append(B) must serve identically to write(A ∪ B)")
    }
  }

  test("metadata-carrying appends reject a mismatched column set loudly") {
    // The flat and IMI layouts persist ALL input columns (metadata
    // rides beside the vector for the filtered serves). A raw parquet
    // append with a different column set would not fail — it would
    // leave mixed-schema files the filtered serve reads as nulls on
    // half the index. The append gate turns that documented
    // hazard into an entry-time rejection, and the rejected batch
    // must leave the stored layout untouched.
    import graft.operators.Similarity
    val vecs = clusteredVecs()
    withTempDir("graft_imi_appcols") { dir =>
      Similarity.writeImiIndex(vecs, Similarity.imiSubCentroids(vecs), dir)
      val storedCols = liveTable(dir, "index").columns.toSet
      val e = intercept[IllegalArgumentException] {
        // Missing the `label` metadata column the index was built with.
        Similarity.appendImiIndex(spark, vecs.select($"vec_id", $"v"), dir)
      }
      assert(e.getMessage.contains("does not match the stored index schema"),
        s"wrong rejection message: ${e.getMessage}")
      assert(liveTable(dir, "index").columns.toSet === storedCols,
        "rejected append must leave the stored schema untouched")
      // Matching NAMES with a different TYPE is the same corruption
      // class (mixed-type parquet files that fail or silently coerce
      // on the next read) and must reject just as loudly.
      val eT = intercept[IllegalArgumentException] {
        Similarity.appendImiIndex(spark,
          vecs.withColumn("label", $"label".cast("string")), dir)
      }
      assert(eT.getMessage.contains("does not match the stored index schema"),
        s"type mismatch not rejected: ${eT.getMessage}")
      assert(Similarity.searchImiIndexWhere(spark, dir,
          vecs.filter($"vec_id" % 100 < 2), 3, nprobe = 2,
          $"label" % 2 === 0).count() > 0,
        "filtered serve must still work after the rejected append")
    }
    withTempDir("graft_ivf_appcols") { dir =>
      Similarity.writeIvfIndex(vecs,
        Similarity.kmeansTrain(vecs.select($"vec_id", $"v"), 8, 2), dir)
      val e = intercept[IllegalArgumentException] {
        // An EXTRA column is just as corrupting as a missing one.
        Similarity.appendIvfIndex(spark,
          vecs.withColumn("extra", lit(1)), dir)
      }
      assert(e.getMessage.contains("does not match the stored index schema"),
        s"wrong rejection message: ${e.getMessage}")
      // A matching batch still appends fine after the rejection.
      Similarity.appendIvfIndex(spark, vecs.limit(0), dir)
    }
    withTempDir("graft_imipq_appcols") { dir =>
      // The Multi-D-ADC layout joined the metadata-carrying family at
      // fmt 2 — its append leg gates through the same contract.
      Similarity.writeImiPqIndex(vecs, Similarity.imiSubCentroids(vecs),
        dir)
      val storedCols = liveTable(dir, "codes").columns.toSet
      val e = intercept[IllegalArgumentException] {
        Similarity.appendImiPqIndex(spark, vecs.select($"vec_id", $"v"),
          dir)
      }
      assert(e.getMessage.contains("does not match the stored index schema"),
        s"wrong rejection message: ${e.getMessage}")
      assert(liveTable(dir, "codes").columns.toSet === storedCols,
        "rejected append must leave the stored code schema untouched")
      assert(Similarity.searchImiPqIndexWhere(spark, dir, vecs,
          vecs.filter($"vec_id" % 100 < 2), 3, $"label" % 2 === 0)
          .count() > 0,
        "filtered imipq serve must still work after the rejected append")
    }
    withTempDir("graft_ivfpq_appcols") { dir =>
      // Single-level twin: the IVF-PQ code rows carry metadata for
      // the filtered serve since round 18 — same append contract.
      Similarity.writeIvfPqIndex(vecs, dir)
      val e = intercept[IllegalArgumentException] {
        Similarity.appendIvfPqIndex(spark, vecs.select($"vec_id", $"v"),
          dir)
      }
      assert(e.getMessage.contains("does not match the stored index schema"),
        s"wrong rejection message: ${e.getMessage}")
      assert(Similarity.searchIvfPqIndexWhere(spark, dir, vecs,
          vecs.filter($"vec_id" % 100 < 2), 3, $"label" % 2 === 0)
          .count() > 0,
        "filtered ivfpq serve must still work after the rejected append")
    }
  }

  test("inline cell and pair assignment reject a reserved input column loudly") {
    // Metadata columns ride beside the codes on the fmt-2 build and
    // append legs, and the inline assignment adds its own `cell` (or
    // `c0`/`c1`) column: an input column of that name must fail at
    // entry, naming the column, instead of being silently replaced or
    // duplicated in the stored rows.
    import graft.operators.Similarity
    val vecs = clusteredVecs()
    def rejects(col: String)(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains(s"input column '$col' is reserved"),
        s"wrong rejection message: ${e.getMessage}")
    }
    withTempDir("graft_reserved_cell") { dir =>
      rejects("cell")(Similarity.writeIvfPqIndex(
        vecs.withColumn("cell", $"label"), dir))
      Similarity.writeIvfPqIndex(vecs, dir)
      rejects("cell")(Similarity.appendIvfPqIndex(spark,
        vecs.drop("label").withColumn("cell", lit(1)), dir))
      rejects("cell")(Similarity.writeIvfIndex(
        vecs.withColumn("Cell", $"label"),
        Similarity.kmeansTrain(vecs.select($"vec_id", $"v"), 4, 1),
        s"$dir/flat"))
    }
    withTempDir("graft_reserved_pair") { dir =>
      rejects("c0")(Similarity.writeImiPqIndex(
        vecs.withColumn("c0", $"label"), Similarity.imiSubCentroids(vecs),
        dir))
      rejects("c1")(Similarity.writeImiIndex(
        vecs.withColumn("c1", $"label"), Similarity.imiSubCentroids(vecs),
        dir))
    }
  }

  test("imiSuggestedRerankDepth absorbs the largest virtual cell and " +
      "never loses recall to the fixed default") {
    // The clustered curve proved depth-vs-occupancy is THE recall
    // knob; this pins the sizing rule that closes the loop from the
    // imiPairStats health view to the serve: at q = 1 the suggested
    // depth covers the biggest pair, so a mega-pair cannot silently
    // cap recall, and serving with it is never worse than the fixed
    // depth-40 default on the clustered fixture the rule exists for.
    import graft.operators.Similarity
    // Mega-pair fixture: label 0 replicated 5× (60 of 144 vectors in
    // one virtual cell) — the exact grid shape where the fixed
    // depth-40 default silently caps recall.
    val base = clusteredVecs()
    val vecs = base.unionByName((1 to 4).map(r =>
      base.filter($"label" === 0)
        .select(($"vec_id" + 1000L * r).as("vec_id"), $"label", $"v"))
      .reduce(_ unionByName _))
    val probes = vecs.filter($"vec_id" % 100 < 2)
    val stats = Similarity.imiPairStats(vecs,
      Similarity.imiSubCentroids(vecs))
    val maxOcc = stats.agg(max($"n_vectors")).head.getLong(0)
    val depth = Similarity.imiSuggestedRerankDepth(stats, 3)
    assert(maxOcc > 40,
      s"fixture must hold a mega-pair bigger than the default (got $maxOcc)")
    assert(depth >= maxOcc && depth >= 40,
      s"suggested depth $depth below max(largest pair $maxOcc, default 40)")
    val exact = Similarity.bruteForceTopK(vecs, probes, 3)
    def recallAt(d: Int): Double =
      Similarity.recallAtK(exact,
        Similarity.imiPqTopK(vecs, probes, 3, rerankDepth = d))
        .agg(avg($"recall")).head.getDouble(0)
    val rSugg = recallAt(depth)
    val rFixed = recallAt(40)
    info(f"recall@3: suggested depth $depth = $rSugg%.3f, fixed 40 = " +
      f"$rFixed%.3f (max pair occupancy $maxOcc)")
    assert(rSugg >= rFixed,
      f"occupancy-derived depth lost recall: $rSugg%.3f < $rFixed%.3f")
    // q scales the rule; the k and default floors hold at tiny q
    assert(Similarity.imiSuggestedRerankDepth(stats, 50, q = 1e-9) === 50)
    assert(Similarity.imiSuggestedRerankDepth(stats, 3, q = 1e-9) === 40)
    intercept[IllegalArgumentException] {
      Similarity.imiSuggestedRerankDepth(stats, 3, q = 0.0)
    }
    // EMPTY stats (empty corpus / freshly drained index) returns the
    // floor instead of an NPE — the serve-time auto mode hits this on
    // a drained layout.
    assert(Similarity.imiSuggestedRerankDepth(
      stats.filter($"n_vectors" < 0), 3) === 40)
    // AUTO serve mode: the persisted Multi-D-ADC serve at
    // rerankDepth = AutoRerankDepth derives THIS rule's depth from
    // the stored code table — on the mega-pair fixture it must serve
    // bit-identically to passing the suggested depth explicitly (the
    // auto path reads occupancy from codes, the explicit one from
    // imiPairStats; both must land on the same grid).
    withTempDir("imipq_auto") { dir =>
      Similarity.writeImiPqIndex(vecs, Similarity.imiSubCentroids(vecs),
        dir)
      val auto = Similarity.searchImiPqIndex(spark, dir, vecs, probes, 3,
          rerankDepth = Similarity.AutoRerankDepth)
        .orderBy("probe_id", "rnk").collect()
      val explicitD = Similarity.searchImiPqIndex(spark, dir, vecs,
          probes, 3, rerankDepth = depth)
        .orderBy("probe_id", "rnk").collect()
      assert(auto.sameElements(explicitD),
        "auto-depth serve diverged from the explicitly-sized serve")
    }
  }

  test("imiRecallCurve candidate counts are membership-checked: " +
      "external probes subtract no self row") {
    // The curve's bytes accounting subtracts the probe's own index row
    // via a membership probe against the index frame, not by
    // assumption. Pin both halves with the same probe VECTORS under
    // member and non-member ids: identical vectors rank identical
    // pairs, so per (np, probe) the member candidate count must be
    // exactly the external one minus 1 (the self row), and the
    // external run must not error.
    import graft.operators.Similarity
    val vecs = clusteredVecs().select($"vec_id", $"v")
    val member = vecs.filter($"vec_id" < 3)
    val external = member.select(($"vec_id" + 1000000L).as("vec_id"),
      $"v")
    def cands(probes: org.apache.spark.sql.DataFrame) =
      Similarity.imiRecallCurve(vecs, probes, 3)
        .filter($"rung" === "imi")
        .select($"np", $"probe_id", $"cand")
        .as[(Int, Long, Long)].collect()
        .map { case (np, pid, c) => ((np, pid % 1000000L), c) }.toMap
    val m = cands(member)
    val e = cands(external)
    assert(m.nonEmpty && m.keySet === e.keySet,
      "member and external runs must cover the same (np, probe) grid")
    for ((k, mc) <- m)
      assert(mc === e(k) - 1L,
        s"at $k: member cand $mc != external cand ${e(k)} - 1 — the " +
          "self-row subtraction is not membership-derived")
  }

  test("substringSpans: emitted spans are verbatim shared substrings, " +
      "shared regions are found, disjoint docs never pair") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(11)
    def rndText(n: Int, vocab: String) =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString
    val base = rndText(200, "abcdefgh ")
    val docs = Seq(
      (1L, base),
      // the same 200 bytes embedded in unrelated context
      (2L, rndText(50, "abcdefgh ") + base + rndText(50, "abcdefgh ")),
      // disjoint alphabet: no 16-byte window can match
      (3L, rndText(300, "uvwxyz")),
      // exact duplicate of doc 1
      (4L, base)).toDF("doc_id", "text")
    val spans = Dedup.substringSpans(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getInt(4)))
    val texts = Map(1L -> base,
      2L -> docs.filter($"doc_id" === 2).head.getString(1),
      3L -> docs.filter($"doc_id" === 3).head.getString(1),
      4L -> base)
    // EXACTNESS: every emitted span is a verbatim shared substring at
    // the stated offsets in both documents.
    for ((a, b, sa, sb, len) <- spans)
      assert(texts(a).substring(sa, sa + len) ===
        texts(b).substring(sb, sb + len),
        s"span ($a,$b,$sa,$sb,$len) is not verbatim-shared")
    // COMPLETENESS + MAXIMALITY: the embedded 200-byte region must
    // surface for (1,2) and (2,4) at its FULL extent — the byte
    // extension recovers the ≤ winnowW − 1 per-side margin winnowing
    // detection can leave, so the span is exactly maximal, not just
    // within 2·23 of it.
    for ((a, b) <- Seq((1L, 2L), (2L, 4L))) {
      val best = spans.filter(s => s._1 == a && s._2 == b).map(_._5)
      assert(best.nonEmpty && best.max === 200,
        s"shared 200-byte region not maximal for ($a,$b): got $best")
    }
    // the exact-duplicate pair (1,4) spans the WHOLE doc at delta 0
    val dup = spans.filter(s => s._1 == 1L && s._2 == 4L)
    assert(dup.nonEmpty && dup.forall(s => s._3 == s._4) &&
      dup.exists(s => s._3 == 0 && s._5 == 200),
      s"exact duplicate pair not whole-doc-spanned: $dup")
    // SKEW GUARD: forcing every fingerprint bucket through the salted
    // path (maxBucket = 2) must reproduce the pair/span set
    // bit-identically — the same adversarial pinning the LSH guard
    // gates every round.
    val guarded = Dedup.substringSpans(docs, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getInt(4)))
    assert(guarded.toSet === spans.toSet,
      "salted bucket expansion at maxBucket=2 diverged from default")
    // disjoint doc 3 pairs with nobody
    assert(!spans.exists(s => s._1 == 3L || s._2 == 3L),
      "disjoint-alphabet doc produced a span")
    // the completeness bound is enforced, not silently violated
    intercept[IllegalArgumentException] {
      Dedup.substringSpans(docs, window = 16, winnowW = 8, minSpan = 20)
    }
    // REWRITE half: clean_text must equal the original with the
    // merged keep-later-removals excised — recomputed independently
    // from the spans output here, so the interval surgery itself is
    // pinned, not just replayed.
    val rewritten = Dedup.substringDedupCorpus(docs)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    def expectClean(id: Long): (String, Long) = {
      val t = texts(id)
      val iv = spans.filter(_._2 == id)
        .map(s => (s._4, s._4 + s._5)).distinct.sortBy(x => (x._1, x._2))
      val merged = iv.foldLeft(List.empty[(Int, Int)]) {
        case (acc, (s, e)) => acc match {
          case (ps, pe) :: rest if s <= pe => (ps, math.max(pe, e)) :: rest
          case _ => (s, e) :: acc
        }
      }.reverse
      val keep = new StringBuilder
      var cur = 0
      for ((s, e) <- merged) { keep ++= t.substring(cur, s); cur = e }
      keep ++= t.substring(cur)
      (keep.toString, merged.map(x => (x._2 - x._1).toLong).sum)
    }
    for (id <- texts.keys) {
      val (wantText, wantCut) = expectClean(id)
      assert(rewritten(id) === ((wantText, wantCut)),
        s"rewrite mismatch for doc $id")
    }
    // keep-first policy: the exact duplicate's LATER copy (doc 4)
    // loses its shared body; the first copy (doc 1) is untouched.
    assert(rewritten(1L)._2 === 0L, "first occurrence must be kept whole")
    assert(rewritten(4L)._2 > 0L, "later duplicate must lose its body")
    // CROSS-CORPUS (decontamination) variant: reference = doc 1's
    // text under an id that COLLIDES with corpus doc 2 — the leak in
    // docs 1, 2 and 4 must surface (including the same-id pair (2,2)?
    // no: ids are independent namespaces, so the (1, ref 2) and
    // (2, ref 2) pairs both appear — no ordering, no same-id
    // exclusion), and the disjoint doc 3 must not.
    val ref = Seq((2L, base)).toDF("doc_id", "text")
    val hits = Dedup.substringSpansAgainst(docs, ref)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getInt(4)))
    assert(hits.nonEmpty && hits.forall(_._2 == 2L))
    for (docId <- Seq(1L, 2L, 4L)) {
      val best = hits.filter(_._1 == docId).map(_._5)
      assert(best.nonEmpty && best.max >= 200 - 2 * 23,
        s"leaked reference not found in corpus doc $docId: $best")
    }
    // every hit is verbatim-shared at the stated offsets
    for ((cid, _, st, rs, len) <- hits)
      assert(texts(cid).substring(st, st + len) ===
        base.substring(rs, rs + len))
    assert(!hits.exists(_._1 == 3L),
      "disjoint corpus doc matched the reference")
  }

  test("substringSelfSpans finds within-doc repeats; withinDoc rewrite " +
      "cuts later occurrences; scrub trims reference leaks") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(23)
    def rndText(n: Int, vocab: String) =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString
    val block = rndText(60, "abcdefgh ")     // repeated region
    val filler = rndText(30, "uvwxyz")       // disjoint alphabet gap
    val selfDoc = block + filler + block     // repeat at delta 90
    val plain = rndText(150, "abcdefgh ")
    val docs = Seq((1L, selfDoc), (2L, plain)).toDF("doc_id", "text")
    val self = Dedup.substringSelfSpans(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3)))
    // exactly the one repeat, at its maximal extent (byte extension)
    assert(self.toSeq === Seq((1L, 0, 90, 60)),
      s"self-span mismatch: ${self.toSeq}")
    // cross-doc-only rewrite leaves the self-repeat alone...
    val crossOnly = Dedup.substringDedupCorpus(docs)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(crossOnly(1L) === ((selfDoc, 0L)))
    // ...withinDoc = true cuts the LATER occurrence, keeps the first
    val withSelf = Dedup.substringDedupCorpus(docs, withinDoc = true)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(withSelf(1L) === ((block + filler, 60L)),
      s"withinDoc rewrite mismatch: ${withSelf(1L)}")
    assert(withSelf(2L) === ((plain, 0L)))
    // SCRUB: corpus spans matching a reference doc are cut; untouched
    // docs pass through; the reference side is never rewritten.
    val leak = rndText(80, "abcdefgh ")
    val corpus = Seq((10L, "x" * 20 + leak + "y" * 20), (11L, plain))
      .toDF("doc_id", "text")
    val ref = Seq((1L, leak)).toDF("doc_id", "text")
    val scrubbed = Dedup.substringScrub(corpus, ref)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(scrubbed(10L) === (("x" * 20 + "y" * 20, 80L)),
      s"scrub mismatch: ${scrubbed(10L)}")
    assert(scrubbed(11L) === ((plain, 0L)))
  }

  test("naiveBayesClassify routes documents to the label whose " +
      "vocabulary they use; exact ties break label-ascending") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "a", "x x y"), (2L, "a", "x y y"),
      (3L, "b", "z z w"), (4L, "b", "z w w"),
      // labels c and d have IDENTICAL distributions and priors for
      // "t t" — the argmax must break the tie deterministically on
      // label ascending, never nondeterministically
      (5L, "c", "t t"), (6L, "d", "t t"))
      .toDF("doc_id", "label", "text")
    val preds = TextAnalysis.naiveBayesClassify(docs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, want) <- Seq(1L -> "a", 2L -> "a", 3L -> "b", 4L -> "b"))
      assert(preds(id) === want,
        s"doc $id classified as ${preds(id)}, wanted $want")
    assert(preds(5L) === "c" && preds(6L) === "c",
      s"tie must break label-ascending: got ${preds(5L)}/${preds(6L)}")
  }

  test("substring-fp index serve fails loudly when the reference " +
      "frame under-covers the index, instead of silently dropping spans") {
    // The stored fingerprints name documents whose BYTES the caller
    // must supply for the extension refine; a frame holding only the
    // latest batch would otherwise silently delete every span against
    // older history — and the scrub would pass contaminated text
    // through as clean with n_cut = 0.
    import graft.operators.Dedup
    val shared = "the quick brown fox jumps over the lazy dog " * 2
    val history = Seq((10L, "PREFIX_ONE " + shared))
      .toDF("doc_id", "text")
    val incoming = Seq((1L, shared + " SUFFIX_TWO"))
      .toDF("doc_id", "text")
    withTempDir("graft_subfp_guard") { dir =>
      Dedup.writeSubstringFpIndex(history, dir)
      // full history: the span surfaces
      assert(Dedup.substringSpansAgainstIndex(spark, incoming, history,
        dir).count() > 0)
      // under-covering frame (doc 10's bytes missing): loud failure
      val e = intercept[Exception] {
        Dedup.substringSpansAgainstIndex(spark, incoming,
          history.filter($"doc_id" =!= 10L), dir).collect()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains(
        "missing from the caller-supplied reference frame")),
        s"wanted the under-coverage raise_error, got: ${messages(e)}")
    }
  }

  test("nbAppendModel is idempotent under at-least-once redelivery: " +
      "replaying a batchId replaces its partition, never double-counts") {
    // The foreachBatch ingest contract is at-least-once: a batch
    // replayed after a crash must CONVERGE, not stack a second copy
    // of its counts (sums are not duplicate-insensitive — a plain
    // append here would skew every replayed token's likelihood).
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "a", "x x y"), (2L, "a", "x y y"),
      (3L, "b", "z z w"), (4L, "b", "z w w"))
      .toDF("doc_id", "label", "text")
    val incoming = docs.select($"doc_id", $"text")
    withTempDir("graft_nb_replay_spec") { dir =>
      TextAnalysis.nbWriteModel(docs.filter($"doc_id" <= 2), dir)
      val batch = docs.filter($"doc_id" > 2)
      TextAnalysis.nbAppendModel(spark, batch, dir, batchId = 1)
      val want = TextAnalysis.nbClassifyFromModel(spark, incoming, dir)
        .orderBy("doc_id").collect().toSeq
      val wantRows = liveTable(dir, "counts").count()
      // the redelivery: same batchId, same data — partition overwrite
      TextAnalysis.nbAppendModel(spark, batch, dir, batchId = 1)
      assert(liveTable(dir, "counts").count() === wantRows,
        "replayed batch must replace its partition, not append beside it")
      val after = TextAnalysis.nbClassifyFromModel(spark, incoming, dir)
        .orderBy("doc_id").collect().toSeq
      assert(after === want,
        "classify after a replay must be bit-identical — a doubled " +
          "batch would shift every replayed token's log-likelihood")
      // batch 0 is reserved for the base build / compaction's fold
      intercept[IllegalArgumentException] {
        TextAnalysis.nbAppendModel(spark, batch, dir, batchId = 0)
      }
      // crash-window healing: a crash before a replay's log entry
      // (simulated by deleting the newest entry) leaves the model as it
      // was, and the at-least-once replay of the same batchId must
      // converge the model back to one consistent copy
      TextAnalysis.nbAppendModel(spark, docs.filter($"doc_id" === 3L), dir,
        batchId = 1)
      val log = new java.io.File(dir, graft.operators.IndexMeta.Name)
      assert(log.listFiles().filter(_.getName.endsWith(".json"))
        .maxBy(_.getName.stripSuffix(".json").toLong).delete(),
        "fixture: the newest log entry must be gone")
      assert(TextAnalysis.nbClassifyFromModel(spark, incoming, dir)
        .orderBy("doc_id").collect().toSeq === want,
        "a replay without its log entry changed the model")
      TextAnalysis.nbAppendModel(spark, batch, dir, batchId = 1)
      val healed = TextAnalysis.nbClassifyFromModel(spark, incoming, dir)
        .orderBy("doc_id").collect().toSeq
      assert(healed === want,
        "replay after a crash between the two table writes must " +
          "restore the consistent model")
    }
  }

  test("nbDeleteBatch retraction equals a retrain without the batch; " +
      "batch 0 and compaction-folded ids are refused loudly") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "a", "x x y"), (2L, "a", "x y y"),
      (3L, "b", "z z w"), (4L, "b", "z w w"),
      (5L, "a", "q q z"), (6L, "b", "q x x"))
      .toDF("doc_id", "label", "text")
    val incoming = docs.select($"doc_id", $"text")
    withTempDir("graft_nb_delete_spec") { dir =>
      TextAnalysis.nbWriteModel(docs.filter($"doc_id" <= 2), dir)
      TextAnalysis.nbAppendModel(spark, docs.filter(
        $"doc_id" === 3 || $"doc_id" === 4), dir, batchId = 1)
      TextAnalysis.nbAppendModel(spark, docs.filter(
        $"doc_id" >= 5), dir, batchId = 2)
      TextAnalysis.nbDeleteBatch(spark, dir, 2)
      val got = TextAnalysis.nbClassifyFromModel(spark, incoming, dir)
        .orderBy("doc_id").collect().toSeq
      // the claim: partition drop ≡ retrain without the batch
      val want = withTempDir("graft_nb_delete_want") { d2 =>
        TextAnalysis.nbWriteModel(docs.filter($"doc_id" <= 4), d2)
        TextAnalysis.nbClassifyFromModel(spark, incoming, d2)
          .orderBy("doc_id").collect().toSeq
      }
      assert(got === want,
        "deleting the batch partition must equal a retrain without it")
      // refusals: the base build, and an id a compaction folded away
      intercept[IllegalArgumentException] {
        TextAnalysis.nbDeleteBatch(spark, dir, 0)
      }
      TextAnalysis.nbCompactModel(spark, dir)
      val e = intercept[IllegalArgumentException] {
        TextAnalysis.nbDeleteBatch(spark, dir, 1)
      }
      assert(e.getMessage.contains("compaction folded"),
        s"folded-id refusal must explain itself, got: ${e.getMessage}")
    }
  }

  test("nbCompactModel folds appended count rows to one per key; " +
      "classify parity with the uncompacted model is bit-identical") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "a", "x x y"), (2L, "a", "x y y"),
      (3L, "b", "z z w"), (4L, "b", "z w w"),
      (5L, "a", "x z"), (6L, "b", "w y"))
      .toDF("doc_id", "label", "text")
    val incoming = docs.select($"doc_id", $"text")
    withTempDir("graft_nb_compact_spec") { dir =>
      TextAnalysis.nbWriteModel(docs.filter($"doc_id" <= 3), dir)
      TextAnalysis.nbAppendModel(spark, docs.filter($"doc_id" > 3), dir,
        batchId = 1)
      val before = TextAnalysis.nbClassifyFromModel(spark, incoming, dir)
        .orderBy("doc_id").collect()
      val rawCounts = liveTable(dir, "counts").count()
      TextAnalysis.nbCompactModel(spark, dir)
      val compCounts = liveTable(dir, "counts")
      // one row per (label, tok) after the fold — and strictly fewer
      // rows than the two stacked batches ("x" and others repeat)
      assert(compCounts.count() ===
        compCounts.select($"label", $"tok").distinct().count())
      assert(compCounts.count() < rawCounts,
        s"compaction did not shrink: $rawCounts -> ${compCounts.count()}")
      assert(liveTable(dir, "docstats").count() === 2L)
      val after = TextAnalysis.nbClassifyFromModel(spark, incoming, dir)
        .orderBy("doc_id").collect()
      assert(after.toSeq === before.toSeq)
    }
  }

  test("interval surgery snaps byte offsets to UTF-8 codepoint " +
      "boundaries — no mojibake on multibyte corpora") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(31)
    val shared = Seq.fill(60)("abcdefgh "(rnd.nextInt(9))).mkString
    // doc 1 keeps the span; doc 2 loses it. The surrounding codepoints
    // are chosen so byte extension stops MID-codepoint on both edges:
    // left: α (CE B1) vs ñ (C3 B1) share their LAST byte; right:
    // α (CE B1) vs β (CE B2) share their FIRST byte. Without the snap,
    // doc 2's clean_text would carry orphan continuation bytes.
    val d1 = "α" + shared + "α"   // α … α
    val d2 = "ñ" + shared + "β"   // ñ … β
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val spans = Dedup.substringSpans(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getInt(4)))
    // extension crossed into both multibyte neighbors by exactly 1 byte
    assert(spans.toSeq === Seq((1L, 2L, 1, 1, 62)),
      s"extension mismatch: ${spans.toSeq}")
    val rewritten = Dedup.substringDedupCorpus(docs)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(rewritten(1L) === ((d1, 0L)), "first occurrence must be kept")
    // the snap widens the removal over both partially-cut codepoints:
    // the whole of doc 2 (2 + 60 + 2 bytes) is removed cleanly
    assert(rewritten(2L) === (("", 64L)),
      s"snap mismatch: ${rewritten(2L)}")
    assert(!rewritten.values.exists(_._1.contains('�')),
      "clean_text contains replacement characters — invalid UTF-8")
  }

  test("knnJoin recall at the SHIPPED config (nprobe=2) is >= 0.95") {
    // The gated sim_knn_join entry runs nprobe=2 (PipelineQueries) — this
    // pins the quality bound at that production setting, not only at the
    // exhaustive (nprobe=8) and fastest (nprobe=1) extremes. Same
    // 8-center clustered geometry ([[clusteredVecs]]).
    val vecs = clusteredVecs()
    val k = 3
    val exact = graft.operators.Similarity
      .bruteForceTopK(vecs.select($"vec_id", $"v"),
        vecs.select($"vec_id", $"v"), k)
      .select($"probe_id", $"neighbor_id", $"cos_r", $"rank".as("rnk"))
    val shipped = graft.operators.Similarity.knnJoin(vecs, k, nprobe = 2)
    val recall = graft.operators.Similarity.recallAtK(exact, shipped)
      .agg(avg($"recall")).head.getDouble(0)
    info(f"knnJoin shipped-config (nprobe=2) recall@$k = $recall%.3f")
    assert(recall >= 0.95,
      f"recall at the shipped nprobe=2 config degraded: $recall%.3f")
  }

  test("kmeansTrain: SSE is non-increasing over rounds and members are conserved") {
    // Lloyd's guarantee — each assign/update round cannot increase the
    // within-cluster sum of squares (the 6-dp mean rounding adds at
    // most an epsilon) — pinned over the real fixture, plus membership
    // conservation: the per-cid counts sum to the corpus each round.
    val vecs = graft.operators.Similarity.vectors(
      Tables.embeddings(spark, sfDir)).select($"vec_id", $"v")
    val nVecs = vecs.count()
    val dims = vecs.select($"vec_id", posexplode($"v").as(Seq("pos", "x")))
    def sse(iters: Int): Double = {
      val cents = graft.operators.Similarity.kmeansTrain(vecs, 8, iters)
        .select($"cid", ($"dim" - 1).as("pos"), $"cmean", $"n")
      assert(cents.select($"cid", $"n").distinct()
        .agg(sum($"n")).head.getLong(0) === nVecs,
        s"membership not conserved at iters=$iters")
      dims.join(cents.select($"cid", $"pos", $"cmean"), Seq("pos"))
        .groupBy($"vec_id", $"cid")
        .agg(sum(($"x" - $"cmean") * ($"x" - $"cmean")).as("d2"))
        .groupBy($"vec_id").agg(min($"d2").as("best"))
        .agg(sum($"best")).head.getDouble(0)
    }
    val (s0, s1, s2) = (sse(0), sse(1), sse(2))
    info(f"kmeans SSE by round: $s0%.3f -> $s1%.3f -> $s2%.3f")
    val eps = 1e-3
    assert(s1 <= s0 + eps, f"round 1 increased SSE: $s0%.6f -> $s1%.6f")
    assert(s2 <= s1 + eps, f"round 2 increased SSE: $s1%.6f -> $s2%.6f")
  }

  test("trained-cell IVF search at nprobe=all-cells equals brute force") {
    // Trained cells PARTITION the corpus (every vector indexed under
    // exactly one rank-1 cell), so probing every cell is exhaustive by
    // construction regardless of how good the training was — the
    // structural guarantee that makes nprobe a pure recall knob for
    // ivfSearchTrained, pinned on the real fixture.
    val vecs = graft.operators.Similarity.vectors(
      Tables.embeddings(spark, sfDir)).select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 10)
    val k = 3
    val cents = graft.operators.Similarity.kmeansTrain(vecs, 8, 1)
    val exact = graft.operators.Similarity.bruteForceTopK(vecs, probes, k)
      .select($"probe_id", $"neighbor_id", $"cos_r", $"rank".as("rnk"))
    val got = graft.operators.Similarity
      .ivfSearchTrained(vecs, probes, cents, k, nprobe = 8)
    assert(got.collect().toSet === exact.collect().toSet,
      "all-cells trained search must equal brute force bit-for-bit")
  }

  test("persisted IVF index: file-backed search equals the in-memory search") {
    // The write → read → serve round-trip must not move a single bit:
    // parquet doubles are exact, norms are precomputed at index time,
    // and the assignment helper is SHARED with ivfSearchTrained, so the
    // persisted path has no independent determinism surface. Also
    // audits the serving scan: the index is cell-partitioned, and the
    // probe-cell join keys the scan by partition column so only
    // consulted cells' files matter (dynamic pruning when the optimizer
    // deems the filter selective; the partition-column join is the
    // structural prerequisite either way).
    import graft.operators.Similarity
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 12)
    val cents = Similarity.kmeansTrain(vecs, 8, 1)
    withTempDir("graft_idx_spec") { dir =>
      Similarity.writeIvfIndex(vecs, cents, dir)
      val served = Similarity.searchIvfIndex(spark, dir, probes, 3,
        nprobe = 2)
      val want = Similarity.ivfSearchTrained(vecs, probes, cents, 3,
          nprobe = 2)
        .collect().toSet
      assert(want.nonEmpty && served.collect().toSet === want,
        "persisted-index search must equal the in-memory search")
      // The scan must be DPP-driven: the index side's partition filter
      // carries a dynamicpruning expression fed by the probe-cell set,
      // so a serving query physically reads only the consulted cells.
      val plan = served.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        "index scan lost its dynamic partition pruning")
    }
  }

  test("knnJoinIndexed: recall at nprobe=2, and exhaustive probing equals brute force") {
    // Same clustered geometry ([[clusteredVecs]]): at nprobe=8 (every
    // cell probed) the self-indexed blocking is exhaustive, so the join
    // equals brute force exactly; at the shipped nprobe=2 the recall
    // bound matches the label-blocked form (labels == geometric
    // clusters here, so index cells and labels coincide — the variants
    // differ only where metadata and geometry disagree).
    val vecs = clusteredVecs()
    val k = 3
    val exact = graft.operators.Similarity
      .bruteForceTopK(vecs.select($"vec_id", $"v"),
        vecs.select($"vec_id", $"v"), k)
      .select($"probe_id", $"neighbor_id", $"cos_r", $"rank".as("rnk"))
    val exhaustive = graft.operators.Similarity
      .knnJoinIndexed(vecs, k, nprobe = 8)
    assert(exhaustive.collect().toSet === exact.collect().toSet,
      "knnJoinIndexed at nprobe=all-cells must equal brute force bit-for-bit")
    val shipped = graft.operators.Similarity.knnJoinIndexed(vecs, k, nprobe = 2)
    val recall = graft.operators.Similarity.recallAtK(exact, shipped)
      .agg(avg($"recall")).head.getDouble(0)
    info(f"knnJoinIndexed recall@$k at nprobe=2 = $recall%.3f")
    assert(recall >= 0.95,
      f"self-indexed recall at nprobe=2 degraded: $recall%.3f")
  }

  test("persisted LSH bucket index: file-backed incremental pairs equal " +
      "the live cross-side pairs") {
    // The base corpus's bucket table round-trips parquet (string
    // buckets, BIGINT ids — exact), and the incoming shard's buckets
    // derive from the SAME bandBuckets expression, so the served
    // pairs must equal lshIncrementalPairs over the same split
    // bit-for-bit — including the no-within-shard-pairs contract.
    val sigs = Dedup.minhashSignaturesV2(corpus)
    withTempDir("graft_lsh_idx") { dir =>
      Dedup.writeLshIndex(sigs.filter($"doc_id" < 100000), dir, sep = "|")
      val served = Dedup.lshIncrementalFromIndex(spark, dir,
        sigs.filter($"doc_id" >= 100000), sep = "|")
      val want = Dedup.lshIncrementalPairs(sigs, $"doc_id" >= 100000,
        sep = "|").collect().toSet
      assert(want.nonEmpty && served.collect().toSet === want,
        "persisted-index incremental pairs must equal the live pairs")
      assert(served.filter($"base_id" >= 100000).isEmpty,
        "within-shard pairs must never form against the base index")
      // Mismatched serve-time banding must fail LOUDLY (the meta
      // sidecar), never silently return zero pairs.
      val e = intercept[IllegalArgumentException] {
        Dedup.lshIncrementalFromIndex(spark, dir,
          sigs.filter($"doc_id" >= 100000), sep = "")
      }
      assert(e.getMessage.contains("built with"), e.getMessage)
    }
  }

  test("persisted kNN assignment index: file-backed join equals the " +
      "in-memory twin, including at a lowered serve-time nprobe") {
    // The write → read → serve round-trip must not move a single bit:
    // the assignment table is all integers (probe_id, assigned_label,
    // rn), so parquet is exact and knnJoinFromIndex shares the scoring
    // contract with knnJoinIndexed. Also pins the build-once property
    // the in-memory twin cannot have (its two consumers re-run the
    // corpus×centroids aggregation per branch), and that serving at
    // nprobe=1 from an index BUILT at nprobe=2 equals the in-memory
    // nprobe=1 join — the rank filter makes nprobe a serve-time knob.
    import graft.operators.Similarity
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
    withTempDir("graft_knn_idx") { dir =>
      Similarity.writeKnnAssignIndex(vecs, dir, nprobe = 2)
      val served = Similarity.knnJoinFromIndex(spark, dir, vecs, 3,
        nprobe = 2)
      val want = Similarity.knnJoinIndexed(vecs, 3, nprobe = 2)
        .collect().toSet
      assert(want.nonEmpty && served.collect().toSet === want,
        "persisted-assignment join must equal the in-memory twin")
      val served1 = Similarity.knnJoinFromIndex(spark, dir, vecs, 3,
        nprobe = 1)
      val want1 = Similarity.knnJoinIndexed(vecs, 3, nprobe = 1)
        .collect().toSet
      assert(served1.collect().toSet === want1,
        "lowered serve-time nprobe must equal the in-memory nprobe=1 join")
      // Asking for MORE recall than the index stored must fail loudly
      // (meta sidecar), never silently serve the stored rank.
      val e = intercept[IllegalArgumentException] {
        Similarity.knnJoinFromIndex(spark, dir, vecs, 3, nprobe = 4)
      }
      assert(e.getMessage.contains("rebuild"), e.getMessage)
      // Tombstone delete removes a vector from BOTH roles — it
      // neither probes nor serves as a neighbor — under the original
      // stored assignments.
      Similarity.deleteFromIvfIndex(spark,
        vecs.filter($"vec_id" % 6 === 0).select($"vec_id"), dir)
      val masked = Similarity.knnJoinFromIndex(spark, dir, vecs, 3,
        nprobe = 2)
      assert(masked.filter($"probe_id" % 6 === 0).isEmpty,
        "a deleted vector still probes")
      assert(masked.filter($"neighbor_id" % 6 === 0).isEmpty,
        "a deleted vector still serves as a neighbor")
      assert(!masked.isEmpty, "masked knn serve returned nothing")
    }
  }

  test("knnJoin one-cell corpus: over-asking nprobe can't multiply work") {
    // Degenerate corpus: every vector in ONE cell. The candidate-work
    // bound is cellsize × min(nprobe, n_cells) per probe — so at
    // nprobe=4 the assignment must still emit exactly ONE row per probe
    // (not 4 duplicate assignments that would quadruple the cell scan),
    // and the join must equal brute force exactly (one cell ≡
    // exhaustive).
    val rnd = new scala.util.Random(9)
    val n = 20
    val rows = (0 until n).map(i =>
      (i.toLong, 0, Array.fill(8)(rnd.nextGaussian()).toSeq))
    val vecs = rows.toDF("vec_id", "label", "v")
    val assigned = graft.operators.Similarity.assignCells(vecs, vecs, 4)
    assert(assigned.count() === n.toLong,
      "one-cell corpus must yield exactly one assignment per probe")
    assert(assigned.select($"assigned_label").distinct().count() === 1L)
    val k = 3
    val exact = graft.operators.Similarity
      .bruteForceTopK(vecs.select($"vec_id", $"v"),
        vecs.select($"vec_id", $"v"), k)
      .select($"probe_id", $"neighbor_id", $"cos_r", $"rank".as("rnk"))
    val joined = graft.operators.Similarity.knnJoin(vecs, k, nprobe = 4)
    assert(joined.collect().toSet === exact.collect().toSet,
      "one-cell knnJoin must equal brute force bit-for-bit")
  }

  test("ivfPqTopK at nprobe=all-cells equals flat ADC bit-for-bit") {
    // Cells partition the corpus (each vector indexes under exactly one
    // trained cell), so probing EVERY cell makes the IVF-PQ stack scan
    // the same code set as flat adcTopK — the structural guarantee that
    // makes nprobe a pure recall knob for the PQ path too. Same
    // codebook, same ADC rounding, same rank tie-break ⇒ the results
    // must be bit-identical, not merely close.
    import graft.operators.Similarity
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 8)
    val flat = Similarity.adcTopK(vecs, probes, 4).collect().toSet
    val ivfpq = Similarity.ivfPqTopK(vecs, probes, 4, kCells = 8,
      nprobe = 8).collect().toSet
    assert(flat.nonEmpty && ivfpq === flat,
      "IVF-PQ probing all cells must equal flat ADC bit-for-bit")
    // Shipped config (nprobe=2): every emitted neighbor must carry the
    // same ADC distance the flat scan computes (cell blocking may drop
    // candidates, never rescore them) — checked against the FULL flat
    // score set (k = ∞), since blocking promotes lower-flat-rank
    // neighbors into the shipped top-k.
    val shipped = Similarity.ivfPqTopK(vecs, probes, 4, kCells = 8,
        nprobe = 2)
      .select($"probe_id", $"neighbor_id", $"adist")
      .collect().toSet
    val allFlat = Similarity.adcTopK(vecs, probes, Int.MaxValue)
      .select($"probe_id", $"neighbor_id", $"adist")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(shipped.forall(r => allFlat.contains(
        (r.getLong(0), r.getLong(1), r.getDouble(2)))),
      "cell blocking must subset flat ADC scores, never alter them")
  }

  test("ivfPqrTopK: probing all cells with rerankDepth >= corpus " +
      "equals exact brute force; shipped config beats raw PQ recall") {
    // The refine stage's structural guarantee: with every cell probed
    // the candidate set is the whole corpus, and a shortlist that
    // covers it makes the exact-cosine re-rank THE ranking — so the
    // by-residual composition degenerates to bruteForceTopK
    // bit-for-bit (same 6-dp cosine, same neighbor-id tie-break).
    import graft.operators.Similarity
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 8)
    val exact = Similarity.bruteForceTopK(vecs, probes, 3)
      .select($"probe_id", $"neighbor_id", $"cos_r", $"rank".as("rnk"))
      .collect().toSet
    val all = Similarity.ivfPqrTopK(vecs, probes, 3, nprobe = 8,
      rerankDepth = 1000000).collect().toSet
    assert(exact.nonEmpty && all === exact,
      "exhaustive by-residual PQ must equal brute force bit-for-bit")
    // At the shipped config the residual+refine rung must recall at
    // least as much as the raw-code, no-refine variant — the measured
    // reason the deployment rung is by-residual (SCALING.md round 16).
    val bf = Similarity.bruteForceTopK(vecs, probes, 3)
    def hits(approx: org.apache.spark.sql.DataFrame): Long =
      Similarity.recallAtK(bf, approx)
        .agg(sum($"hits")).as[Long].head()
    val resid = hits(Similarity.ivfPqrTopK(vecs, probes, 3))
    val raw = hits(Similarity.ivfPqTopK(vecs, probes, 3))
    assert(resid >= raw,
      s"by-residual refine recall ($resid) fell below raw PQ ($raw)")
    // Encode-once path ≡ the monolithic call bit-for-bit (the recall
    // curve serves its four nprobe points from one ivfPqrEncode).
    val cents = Similarity.kmeansTrain(vecs, 8, 2)
    val (rcb, codes) = Similarity.ivfPqrEncode(vecs, cents)
    val enc = Similarity.ivfPqrTopKEncoded(codes, rcb, cents, vecs,
      probes, 3).collect().toSet
    val mono = Similarity.ivfPqrTopK(vecs, probes, 3,
      trained = Some(cents)).collect().toSet
    assert(enc.nonEmpty && enc === mono,
      "encode-once pqr serve diverged from the monolithic call")
  }

  test("BM25 index serving: bit-for-bit parity and physically pruned postings scan") {
    // The persisted inverted index must (a) reproduce the corpus-scan
    // bm25 scores exactly — same tf/df/dl longs survive the parquet
    // round-trip, same weight expression — and (b) READ only the query
    // terms' hash-bucket partitions: the terms are literals, so the
    // bucket set is a static partition filter and the scan's input
    // files must all lie under the consulted tbucket= directories.
    import graft.operators.{Sampling, TextAnalysis}
    val terms = Seq("hash", "join", "spark")
    withTempDir("graft_inv_spec") { dir =>
      TextAnalysis.writeInvertedIndex(docs, dir)
      val served = TextAnalysis.searchInvertedIndex(spark, dir, terms)
      val want = TextAnalysis.bm25(docs, terms).collect().toSet
      assert(want.nonEmpty && served.collect().toSet === want,
        "index-served BM25 must equal the corpus scan bit-for-bit")
      // Physical pruning: the postings FileSourceScan's SELECTED
      // partition listing (post-partition-filter) must be at most the
      // consulted bucket set, while the index on disk holds many more
      // bucket directories. (DataFrame.inputFiles can't prove this —
      // it lists the relation's files BEFORE partition filters.)
      val consulted = terms.map(Sampling.hashBucketLocal(_, 64)).toSet
      val scan = served.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths
              .exists(_.toString.contains("postings")) => f
      }
      assert(scan.nonEmpty, "no file scan over the postings index found")
      val selected = scan.map(_.selectedPartitions.partitionCount).max
      val onDisk = new java.io.File(s"$dir/postings").listFiles()
        .count(_.getName.startsWith("tbucket="))
      assert(selected <= consulted.size,
        s"scan selected $selected bucket partitions; " +
          s"query consults only ${consulted.size}")
      assert(onDisk > consulted.size,
        s"fixture too small to prove pruning ($onDisk buckets on disk)")
    }
  }

  test("BM25 index serve reads its postings once") {
    // df is counted in the scoring pass, so the executed plan scans the
    // postings once — with and without tombstones to mask. Scores stay
    // equal to the corpus scan over the live documents.
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val terms = Seq("hash", "join", "spark")
    val helper = new AdaptiveSparkPlanHelper {}
    withTempDir("graft_inv_once") { dir =>
      TextAnalysis.writeInvertedIndex(docs, dir, 8)
      def check(leg: String, live: org.apache.spark.sql.DataFrame): Unit = {
        val served = TextAnalysis.searchInvertedIndex(spark, dir, terms, 8)
        val got = served.collect().toSet
        assert(got.nonEmpty && got === TextAnalysis.bm25(live, terms)
          .collect().toSet, s"$leg: index serve differs from the corpus scan")
        val scans = helper.collect(served.queryExecution.executedPlan) {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths
                .exists(_.toString.endsWith("/postings")) => f
        }
        assert(scans.size === 1,
          s"$leg: the serve scans the postings ${scans.size} times")
      }
      check("build", docs)
      val dead = docs.filter($"doc_id" % 7 === 0).select($"doc_id")
      TextAnalysis.deleteFromInvertedIndex(spark, dead, dir)
      check("delete", docs.join(dead, Seq("doc_id"), "left_anti"))
    }
  }

  test("ivfCellStats: totals reconcile and a skewed corpus reads as imbalanced") {
    import graft.operators.Similarity
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val cents = Similarity.kmeansTrain(vecs, 8, 1)
    val stats = Similarity.ivfCellStats(vecs, cents).collect()
    assert(stats.map(_.getAs[Long]("n_vectors")).sum === vecs.count())
    val shareSum = stats.map(_.getAs[Double]("share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-9, s"shares sum to $shareSum")
    // balance is share × n_cells: a uniform corpus sits near 1.0
    // everywhere; a corpus piled onto one center must flag that cell.
    val dim = 8
    val skewRows = (0 until 64).map { i =>
      val base = Array.tabulate(dim)(d => if (d == 0) 4.0 else 0.0)
      if (i < 60) (i.toLong, base.map(_ + (i % 3) * 0.01).toSeq)
      else (i.toLong,
        Array.tabulate(dim)(d => if (d == i % dim) -4.0 else 0.1).toSeq)
    }
    import spark.implicits._
    val skewVecs = skewRows.toDF("vec_id", "v")
    val skewStats = Similarity
      .ivfCellStats(skewVecs, Similarity.kmeansTrain(skewVecs, 4, 1))
      .collect()
    assert(skewStats.map(_.getAs[Double]("balance")).max > 2.0,
      "a mega-cell must read as balance >> 1")
  }

  test("snapshotDiff: identity is all-unchanged; a constructed delta is classified exactly") {
    import graft.operators.Profiling
    val idDiff = Profiling.snapshotDiff(docs, docs)
      .select($"status").distinct().as[String].collect().toSeq
    assert(idDiff === Seq("unchanged"))
    val newSnap = docs.filter($"doc_id" % 17 =!= 0)
      .select($"doc_id",
        when($"doc_id" % 13 === 0, concat($"text", lit(" rev2")))
          .otherwise($"text").as("text"))
      .unionByName(docs.filter($"doc_id" % 10 === 3)
        .select(($"doc_id" + 300000).as("doc_id"), $"text"))
    val byStatus = Profiling.snapshotDiff(docs, newSnap)
      .groupBy($"status").count().as[(String, Long)].collect().toMap
    val n = docs.count()
    val removed = docs.filter($"doc_id" % 17 === 0).count()
    val modified = docs.filter($"doc_id" % 13 === 0 &&
      $"doc_id" % 17 =!= 0).count()
    val added = docs.filter($"doc_id" % 10 === 3).count()
    assert(byStatus.getOrElse("removed", 0L) === removed)
    assert(byStatus.getOrElse("modified", 0L) === modified)
    assert(byStatus.getOrElse("added", 0L) === added)
    assert(byStatus.getOrElse("unchanged", 0L) === n - removed - modified)
  }

  test("adcRerankTopK at full depth equals brute force; scores are always exact") {
    // With rerankDepth covering the whole corpus the PQ stage nominates
    // everyone, so the re-rank IS brute-force search — same rounded
    // cosines, same tie-break, bit-for-bit. At production depth the
    // candidate SET may shrink but every reported score must still be
    // the exact cosine (PQ error never leaks into the output).
    import graft.operators.Similarity
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 8)
    val exact = Similarity.bruteForceTopK(vecs, probes, 5)
      .select($"probe_id", $"neighbor_id", $"cos_r", $"rank".as("rnk"))
      .collect().toSet
    val full = Similarity.adcRerankTopK(vecs, probes, 5,
      rerankDepth = Int.MaxValue).collect().toSet
    assert(exact.nonEmpty && full === exact,
      "full-depth re-rank must equal brute force bit-for-bit")
    val shallow = Similarity.adcRerankTopK(vecs, probes, 5,
        rerankDepth = 20)
      .select($"probe_id", $"neighbor_id", $"cos_r").collect().toSet
    val exactScores = Similarity.scoreAll(vecs, probes)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    shallow.foreach { r =>
      assert(r.getDouble(2) === exactScores((r.getLong(0), r.getLong(1))),
        "re-ranked score must be the exact cosine")
    }
  }

  test("appendIvfIndex: write(A) + append(B) serves exactly like write(A ∪ B)") {
    // The incremental-ingestion contract: assignment is per-vector
    // against the STORED centroids, so appending a batch is
    // indistinguishable from having indexed it up front — served
    // results bit-for-bit equal, not merely recall-equivalent.
    import graft.operators.Similarity
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 12)
    val cents = Similarity.kmeansTrain(vecs, 8, 1)
    val (dirMono, dirApp) = (tempDir("graft_ivf_mono"), tempDir("graft_ivf_app"))
    Similarity.writeIvfIndex(vecs, cents, dirMono)
    Similarity.writeIvfIndex(vecs.filter($"vec_id" % 2 === 0), cents,
      dirApp)
    Similarity.appendIvfIndex(spark, vecs.filter($"vec_id" % 2 =!= 0),
      dirApp)
    val mono = Similarity.searchIvfIndex(spark, dirMono, probes, 3,
      nprobe = 2).collect().toSet
    val appended = Similarity.searchIvfIndex(spark, dirApp, probes, 3,
      nprobe = 2).collect().toSet
    assert(mono.nonEmpty && appended === mono,
      "append-built index must serve exactly like the monolithic build")
  }

  test("persisted IVF-PQ index: file-backed ADC equals in-memory, scan is cell-pruned") {
    // The stored corpus is CODES ONLY — after the write, serving never
    // touches a raw embedding. Parity must be bit-for-bit (parquet
    // round-trips the codes/codebook/centroid doubles exactly), and
    // the cell-partitioned code scan must carry a runtime pruning
    // filter fed by the probe-cell set.
    import graft.operators.Similarity
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 10)
    withTempDir("graft_ivfpq_spec") { dir =>
      Similarity.writeIvfPqIndex(vecs, dir)
      val served = Similarity.searchIvfPqIndex(spark, dir, vecs, probes, 5)
      val want = Similarity.ivfPqrTopK(vecs, probes, 5).collect().toSet
      assert(want.nonEmpty && served.collect().toSet === want,
        "persisted IVF-PQ serve must equal the in-memory stack")
      val plan = served.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        "code scan lost its dynamic partition pruning")
    }
  }

  test("persisted cell layouts: a local-probe serve reads only its probed " +
      "cells and equals the distributed-probe serve") {
    // A probe frame built on the driver (a local relation) is served with
    // its probed cells as a literal partition filter; a probe frame read
    // from files keeps the broadcast joins and DPP. Both must return the
    // same rows bit for bit, and the local serve's stored scan must read
    // exactly the probed partitions: one probe at nprobe 2 consults two
    // distinct cells. Checked on the build, after an append, and after a
    // delete, for each cell-partitioned layout.
    import graft.operators.Similarity
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import scala.jdk.CollectionConverters._
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val cents = Similarity.kmeansTrain(vecs, 8, 1)
    val (base, batch) = (vecs.filter($"vec_id" % 4 =!= 1),
      vecs.filter($"vec_id" % 4 === 1))
    def local(df: DataFrame): DataFrame =
      spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
    val oneProbe = vecs.filter($"vec_id" === 3)
    val probes = vecs.filter($"vec_id" < 40 && $"vec_id" % 9 === 2)
    val helper = new AdaptiveSparkPlanHelper {}
    def partitionsRead(served: DataFrame, table: String): Seq[Long] =
      helper.collect(served.queryExecution.executedPlan) {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths
              .exists(_.toString.endsWith(s"/$table")) =>
          f.metrics("numPartitions").value
      }
    case class Layout(name: String, table: String, write: String => Unit,
        append: String => Unit, serve: (String, DataFrame) => DataFrame)
    val layouts = Seq(
      Layout("ivf_flat", "index", Similarity.writeIvfIndex(base, cents, _),
        Similarity.appendIvfIndex(spark, batch, _),
        Similarity.searchIvfIndex(spark, _, _, 3, nprobe = 2)),
      Layout("ivf_sq8", "index", Similarity.writeIvfSq8Index(base, cents, _),
        Similarity.appendIvfSq8Index(spark, batch, _),
        Similarity.searchIvfSq8Index(spark, _, _, 3, nprobe = 2)),
      Layout("ivf_bq", "codes", Similarity.writeIvfBqIndex(base, cents, _),
        Similarity.appendIvfBqIndex(spark, batch, _),
        Similarity.searchIvfBqIndex(spark, _, vecs, _, k = 3, nprobe = 2)),
      Layout("ivf_pq", "codes",
        Similarity.writeIvfPqIndex(base, _, quantizer = Some(vecs)),
        Similarity.appendIvfPqIndex(spark, batch, _),
        Similarity.searchIvfPqIndex(spark, _, vecs, _, 3, nprobe = 2)))
    layouts.foreach { l =>
      withTempDir(s"graft_local_${l.name}") { dir =>
        def check(leg: String): Array[org.apache.spark.sql.Row] = {
          val served = l.serve(dir, local(oneProbe))
          val got = served.collect()
          val want = l.serve(dir, oneProbe).collect()
          assert(got.nonEmpty && got.toSet === want.toSet,
            s"${l.name} $leg: the local-probe serve differs from the " +
              "distributed-probe serve")
          val read = partitionsRead(served, l.table)
          assert(read.nonEmpty, s"${l.name} $leg: no scan of ${l.table}")
          assert(read.max === 2, s"${l.name} $leg: a one-probe nprobe-2 " +
            s"serve read ${read.max} cell partitions; it probes 2")
          assert(l.serve(dir, local(probes)).collect().toSet ===
            l.serve(dir, probes).collect().toSet,
            s"${l.name} $leg: local and distributed multi-probe serves differ")
          got
        }
        l.write(dir)
        val onDisk = new java.io.File(s"$dir/${l.table}").listFiles()
          .count(_.getName.startsWith("cell="))
        assert(onDisk > 2, s"${l.name}: fixture holds $onDisk cells")
        check("build")
        l.append(dir)
        val victim = check("append").head.getAs[Long]("neighbor_id")
        Similarity.deleteFromIvfIndex(spark, Seq(victim).toDF("vec_id"), dir)
        assert(!check("delete").exists(_.getAs[Long]("neighbor_id") == victim),
          s"${l.name}: a deleted neighbor was served")
      }
    }
  }

  test("phrase serve from the positional index equals the corpus-side intersection") {
    // One Lucene-style index, two query classes: the same postings the
    // BM25 serve reads carry sorted position lists, and a phrase query
    // served from them (single index or shards — a doc lives wholly in
    // one shard, so its positions are intact) must equal phraseMatch
    // over the corpus bit-for-bit.
    import graft.operators.TextAnalysis
    val phrase = Seq("a", "b")
    val phDocs = Seq(
      (1L, "a b c a b"), (2L, "a a a b"), (3L, "b a"),
      (4L, "c c c"), (5L, "x a b y a b a b"), (6L, "a b")
    ).toDF("doc_id", "text")
    val (dirFull, dirA, dirB) =
      (tempDir("graft_ph_full"), tempDir("graft_ph_a"), tempDir("graft_ph_b"))
    TextAnalysis.writeInvertedIndex(phDocs, dirFull)
    TextAnalysis.writeInvertedIndex(phDocs.filter($"doc_id" % 2 === 0),
      dirA)
    TextAnalysis.writeInvertedIndex(phDocs.filter($"doc_id" % 2 =!= 0),
      dirB)
    val want = TextAnalysis.phraseMatch(phDocs, phrase).collect().toSet
    val served = TextAnalysis.searchPhraseIndex(spark, dirFull, phrase)
      .collect().toSet
    val sharded = TextAnalysis
      .searchPhraseIndexShards(spark, Seq(dirA, dirB), phrase)
      .collect().toSet
    assert(want.nonEmpty && served === want,
      "index-served phrase search must equal the corpus intersection")
    assert(sharded === want,
      "sharded phrase serve must equal the corpus intersection")
  }

  test("sharded inverted-index serve equals the single full index bit-for-bit") {
    // Incremental-ingestion contract: indexing two corpus halves
    // separately and serving from both shards must equal one index
    // over the union — df and corpus stats are integer sums, so the
    // equality is exact, not approximate.
    import graft.operators.TextAnalysis
    val terms = Seq("hash", "join", "spark")
    val (dirFull, dirA, dirB) =
      (tempDir("graft_inv_full"), tempDir("graft_inv_sa"), tempDir("graft_inv_sb"))
    TextAnalysis.writeInvertedIndex(docs, dirFull)
    TextAnalysis.writeInvertedIndex(docs.filter($"doc_id" % 2 === 0), dirA)
    TextAnalysis.writeInvertedIndex(docs.filter($"doc_id" % 2 =!= 0), dirB)
    val full = TextAnalysis.searchInvertedIndex(spark, dirFull, terms)
      .collect().toSet
    val sharded = TextAnalysis
      .searchInvertedIndexShards(spark, Seq(dirA, dirB), terms)
      .collect().toSet
    assert(full.nonEmpty && sharded === full,
      "sharded serve must equal the monolithic index bit-for-bit")
  }

  test("multi-probe IVF recovers boundary probes single-probe loses") {
    // Three orthogonal unit centers; probes sit on the A/B bisector, so
    // their exact top-k straddles BOTH clusters. Single-probe search
    // commits to one cell and forfeits the other side's neighbors;
    // nprobe=2 scans both probed cells (2/3 of the corpus, not all of
    // it — C stays unscanned) and must recover ≥0.9.
    val rnd = new scala.util.Random(7)
    val dim = 12
    def unit(axis: Int) = Array.tabulate(dim)(d => if (d == axis) 1.0 else 0.0)
    val centers = Seq(unit(0), unit(1), unit(2))
    val members = for (c <- 0 until 3; i <- 0 until 15) yield
      (c * 100L + i, c,
        centers(c).map(x => x + rnd.nextGaussian() * 0.15).toSeq)
    val vecs = members.toDF("vec_id", "label", "v")
    val bisector = Array.tabulate(dim)(d =>
      if (d <= 1) 1.0 / math.sqrt(2) else 0.0)
    val probes = (0 until 4).map(i =>
      (900L + i, -1, bisector.map(x => x + rnd.nextGaussian() * 0.02).toSeq))
      .toDF("vec_id", "label", "v")
    val k = 4
    val exact = graft.operators.Similarity
      .bruteForceTopK(vecs.select($"vec_id", $"v"),
        probes.select($"vec_id", $"v"), k)
    def mean(df: org.apache.spark.sql.DataFrame): Double =
      graft.operators.Similarity.recallAtK(exact, df)
        .agg(avg($"recall")).head.getDouble(0)
    val r1 = mean(graft.operators.Similarity.ivfTopK(vecs, probes, k))
    val r2 = mean(graft.operators.Similarity.ivfTopK(vecs, probes, k, nprobe = 2))
    info(f"boundary recall@$k nprobe1=$r1%.3f nprobe2=$r2%.3f")
    assert(r2 >= 0.9, f"nprobe=2 must recover boundary neighbors: $r2%.3f")
    assert(r1 < r2, "single-probe must actually lose neighbors here, " +
      "else this fixture tests nothing")
  }

  test("recall@k beats the retrieved-fraction baseline on unclustered data") {
    // The testdata embeddings are geometrically structureless (intra-
    // label cosine ≈ inter-label ≈ 0), so this pins the floor behavior:
    // IVF's single-cluster search can't beat its ~1/10 corpus fraction
    // by much, while sign-LSH — keyed on the vectors themselves, not an
    // unrelated label — must clear its 1/16 bucket fraction decisively.
    // A structure-aware index on structureless data degrading to the
    // scanned fraction (and not below) is the documented contract.
    val vecs = graft.operators.Similarity.vectors(
      Tables.embeddings(spark, sfDir))
    val probes = vecs.filter($"vec_id" < 15)
    val k = 3
    val exact = graft.operators.Similarity
      .bruteForceTopK(vecs.select($"vec_id", $"v"),
        probes.select($"vec_id", $"v"), k)
    def mean(df: org.apache.spark.sql.DataFrame): Double =
      graft.operators.Similarity.recallAtK(exact, df)
        .agg(avg($"recall")).head.getDouble(0)
    val mi = mean(graft.operators.Similarity.ivfTopK(vecs, probes, k))
    val ml = mean(graft.operators.Similarity.lshTopK(
      vecs.select($"vec_id", $"v"), probes.select($"vec_id", $"v"), k, 4))
    info(f"unclustered recall@$k ivf=$mi%.3f lsh=$ml%.3f")
    assert(mi >= 0.10, f"IVF below its scanned fraction: $mi%.3f")
    assert(ml >= 0.125, f"LSH below 2x its bucket fraction: $ml%.3f")
  }

  test("semantic components collapse hub-linked clusters SemDeDup keeps apart") {
    // A at 0°, B at 60°, hub C at 30° (2-D unit vectors, one label):
    // cos(A,C) = cos(B,C) = cos 30° ≈ 0.866 ≥ 0.8 but
    // cos(A,B) = cos 60° = 0.5 < 0.8. Single-pass SemDeDup drops only
    // the pair-wise id_b (C) and keeps BOTH A and B; the component
    // closure links A—C—B transitively and elects ONE canonical (A).
    // This is the semantic difference dedup_semantic_components exists
    // to provide — pin it so a refactor can't silently equate the two.
    import math.{Pi, cos, sin}
    val vecs = Seq(
      (1L, 0, Seq(1.0, 0.0)),
      (2L, 0, Seq(cos(Pi / 3), sin(Pi / 3))),
      (3L, 0, Seq(cos(Pi / 6), sin(Pi / 6))))
      .toDF("vec_id", "label", "v")
    val pairs = Similarity.cosineDupPairs(vecs, 0.8)
    assert(pairs.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      === Set((1L, 3L), (2L, 3L)))
    val semSurvivors = Similarity.semanticDedup(vecs, 0.8)
      .filter(!$"dropped").select($"vec_id").as[Long].collect().toSet
    assert(semSurvivors === Set(1L, 2L),
      "SemDeDup's single pass must keep both spokes of the hub")
    val canonical = graft.operators.ConnectedComponents.canonicalize(
        vecs.select($"vec_id".as("doc_id")),
        pairs.select($"id_a", $"id_b"))
      .filter($"is_canonical").select($"doc_id").as[Long].collect().toSet
    assert(canonical === Set(1L),
      "the transitive closure must collapse the hub cluster to one doc")
  }

  test("knn-join components resolve every injected duplicate to its original") {
    // dedup_knn_components end-to-end semantics: with the augmented
    // corpus (every 10th vector copied at vec_id+100000), the k-NN
    // join at τ=0.99 finds exactly the copy edges, so every copy must
    // land non-canonical with component = its original, and every
    // other vector must be its own canonical singleton.
    val out = SparkEntry.queries("dedup_knn_components")(spark, sfDir)
      .as[(Long, Long, Boolean)].collect()
    assert(out.nonEmpty)
    val copies = out.filter(_._1 >= 100000L)
    assert(copies.nonEmpty)
    assert(copies.forall { case (id, comp, canon) =>
      comp === id - 100000L && !canon },
      "every injected copy must resolve to its original, non-canonical")
    assert(out.filter(_._1 < 100000L).forall { case (id, comp, canon) =>
      comp === id && canon },
      "unduplicated vectors must be their own canonical")
  }

  test("semanticDedup drops every injected exact duplicate, keeps originals") {
    val vecs = Similarity.augmentVectors(Tables.embeddings(spark, sfDir))
    val out = Similarity.semanticDedup(vecs, 0.99)
      .as[(Long, Int, Boolean)].collect()
    assert(out.length === vecs.count())
    val dropped = out.filter(_._3).map(_._1).toSet
    // every injected copy (vec_id >= 100000 duplicates vec_id - 100000,
    // cosine exactly 1.0) is similar to a lower id → dropped ...
    val copies = out.map(_._1).filter(_ >= 100000).toSet
    assert(copies.nonEmpty && copies.subsetOf(dropped))
    // ... and its original survives (nothing below it is cos >= 0.99
    // identical in the synthetic blobs at this threshold)
    assert(copies.forall(c => !dropped.contains(c - 100000)))
  }

  test("IVF returns k in-cluster neighbors per probe, never the probe itself") {
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
    val probes = vecs.filter($"vec_id" < 5)
    val out = Similarity.ivfTopK(vecs, probes, 3).cache()
    val labelOf = vecs.select($"vec_id", $"label")
      .as[(Long, Int)].collect().toMap
    val rows = out.select($"probe_id", $"assigned_label", $"neighbor_id")
      .as[(Long, Int, Long)].collect()
    assert(rows.length === 5 * 3)
    for ((p, l, n) <- rows) {
      assert(n !== p)
      // every neighbor really lives in the assigned cluster
      assert(labelOf(n) === l, s"neighbor $n of probe $p")
    }
    // exactly one assigned cluster per probe, ranks 1..k each
    assert(out.select($"probe_id", $"assigned_label").distinct().count() === 5)
    assert(out.groupBy($"probe_id").count().filter($"count" =!= 3).count() === 0)
  }

  test("PQ: codebook vectors encode to themselves with zero error") {
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    // NO .cache(): suites share one cache manager, and caching this
    // exact subtree would substitute an InMemoryRelation into
    // sim_pq_codes' plan in the concurrently-running ShuffleBudgetSpec.
    val out = Similarity.productQuantize(vecs, m = 4, k = 8)
    // every vector gets exactly one row with all 4 codes in [0, 8)
    assert(out.count() === vecs.count())
    assert(out.filter(
      $"code_0" < 0 || $"code_0" >= 8 || $"code_1" < 0 || $"code_1" >= 8 ||
      $"code_2" < 0 || $"code_2" >= 8 || $"code_3" < 0 || $"code_3" >= 8 ||
      $"err" < 0).count() === 0)
    // a codebook vector's nearest centroid in each subspace is itself
    // (dist 0; id tie-break keeps it unless another seed is identical)
    val seeds = out.filter($"vec_id" < 8)
      .select($"vec_id", $"code_0", $"code_1", $"code_2", $"code_3", $"err")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    for ((id, c0, c1, c2, c3, err) <- seeds) {
      assert(Seq(c0, c1, c2, c3).forall(_ === id), s"seed $id codes")
      assert(err === 0.0, s"seed $id err")
    }
  }

  test("ADC distance to a codebook vector equals the exact L2² distance") {
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" >= 8 && $"vec_id" < 12)
    val out = Similarity.adcTopK(vecs, probes, 500) // no .cache(): see PQ test
    // structural: distances non-negative, ranks dense and ordered
    assert(out.filter($"adist" < 0).count() === 0)
    val mono = out.selectExpr(
      "probe_id", "adist - lag(adist) OVER (PARTITION BY probe_id ORDER BY rnk) AS d")
      .filter($"d" < 0).count()
    assert(mono === 0, "adist must be non-decreasing in rank")
    // a codebook vector reconstructs exactly (its code is itself in
    // every subspace), so ADC distance to it IS the true L2² distance
    val exact = probes.as("p").crossJoin(vecs.filter($"vec_id" < 8).as("c"))
      .select($"p.vec_id".as("probe_id"), $"c.vec_id".as("neighbor_id"),
        expr("aggregate(zip_with(p.v, c.v, (a, b) -> (a - b) * (a - b)), " +
          "0.0d, (acc, x) -> acc + x)").as("true_d2"))
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val adc = out.filter($"neighbor_id" < 8)
      .select($"probe_id", $"neighbor_id", $"adist")
      .as[(Long, Long, Double)].collect()
    assert(adc.nonEmpty)
    for ((p, n, a) <- adc)
      assert(math.abs(a - exact((p, n))) < 1e-4,
        s"ADC($p,$n)=$a vs exact ${exact((p, n))}")
  }

  test("token chunks cover every token and overlap by chunkSize - stride") {
    val (chunk, stride) = (64, 48)
    val chunks = graft.operators.TextAnalysis
      .chunkByTokens(docs, chunk, stride)
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val texts = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().toMap
    assert(chunks.keySet === texts.keySet)
    for ((id, rows) <- chunks.toSeq.sortBy(_._1).take(50)) {
      val toks = texts(id).split(" ")
      val sorted = rows.sortBy(_.getAs[Long]("chunk_id"))
      // chunk count = ceil(n / stride); starts advance by the stride
      assert(sorted.length === (toks.length + stride - 1) / stride)
      // stitching the first `stride` tokens of each chunk (all of the
      // last) reassembles the document exactly — nothing dropped
      val stitched = sorted.map(_.getAs[String]("chunk_text").split(" ")
        .take(stride)).flatten
      val tail = sorted.last.getAs[String]("chunk_text").split(" ")
        .drop(stride)
      assert((stitched ++ tail).mkString(" ") === texts(id))
      // consecutive chunks share exactly chunkSize - stride tokens
      for (Array(a, b) <- sorted.sliding(2).map(_.toArray) if
          a.getAs[Long]("n_tok") == chunk.toLong) {
        val at = a.getAs[String]("chunk_text").split(" ")
        val bt = b.getAs[String]("chunk_text").split(" ")
        assert(at.drop(stride).sameElements(
          bt.take((chunk - stride) min bt.length)))
      }
    }
  }

  test("token chunking survives null and empty documents") {
    val edge = Seq((1L, null: String), (2L, ""), (3L, "a b c"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.chunkByTokens(edge, 4, 4)
      .collect().groupBy(_.getAs[Long]("doc_id"))
    // null and empty both chunk to one empty-token chunk, not a crash
    assert(got(1L).length === 1 && got(2L).length === 1)
    // ...and that chunk reports ZERO tokens (split("") is [""]: one
    // zero-length token, which must not count as content)
    assert(got(1L).head.getAs[Long]("n_tok") === 0L)
    assert(got(2L).head.getAs[Long]("n_tok") === 0L)
    assert(got(1L).head.getAs[String]("chunk_text") === "")
    assert(got(3L).head.getAs[String]("chunk_text") === "a b c")
    assert(got(3L).head.getAs[Long]("n_tok") === 3L)
  }

  test("chunking reassembles to the original payload, hashes are content keys") {
    import graft.operators.Multimodal
    val docs = Seq((1L, "x" * 150), (2L, "y" * 64), (3L, "z" * 150 + "x" * 0))
      .toDF("doc_id", "text")
    val chunks = Multimodal.chunkPayloads(
      Multimodal.asBinaryPayloads(docs), 64)
    // Sizes: 150 = 64 + 64 + 22; 64 = one full chunk.
    val sizes = chunks.filter(col("doc_id") === 1L)
      .orderBy("chunk_no").select("chunk_len").as[Int].collect().toSeq
    assert(sizes === Seq(64, 64, 22))
    assert(chunks.filter(col("doc_id") === 2L).count() === 1)
    // Content-addressing: identical 64-byte runs of the same char share
    // hashes across documents only when the bytes match.
    val h1 = chunks.filter(col("doc_id") === 1L && col("chunk_no") === 0)
      .select("chunk_hash").as[String].head()
    val h3 = chunks.filter(col("doc_id") === 3L && col("chunk_no") === 0)
      .select("chunk_hash").as[String].head()
    assert(h1 !== h3)  // different content, different key
  }

  test("CDC chunking: chunks cover the text exactly and survive a " +
      "prefix shift that re-keys every fixed-offset chunk") {
    import graft.operators.Multimodal
    // Pseudo-random but fixed content (hash boundaries need byte
    // diversity — a constant run has one window value everywhere).
    val rnd = new scala.util.Random(7)
    val body = Array.fill(600)(('a' + rnd.nextInt(26)).toChar).mkString
    val docs = Seq((1L, body), (2L, "QQQ" + body))
      .toDF("doc_id", "text")
    val chunks = Multimodal.cdcChunks(docs, window = 8, divisor = 32)
      .collect()
    // Exactness: per-doc chunk lengths sum to the text length and
    // chunk numbers are dense from 0.
    Seq(1L -> 600, 2L -> 603).foreach { case (id, n) =>
      val c = chunks.filter(_.getLong(0) == id).sortBy(_.getInt(1))
      assert(c.map(_.getInt(2)).sum == n, s"doc $id chunks must cover")
      assert(c.map(_.getInt(1)).toSeq == c.indices.toSeq)
    }
    // Shift robustness: doc 2 is doc 1 with a 3-byte prefix. Interior
    // boundaries are content-defined, so after the first surviving
    // cut the chunk hash sets re-align; fixed-offset chunking at the
    // same granularity shares (essentially) nothing.
    val cdc1 = chunks.filter(_.getLong(0) == 1L).map(_.getString(3)).toSet
    val cdc2 = chunks.filter(_.getLong(0) == 2L).map(_.getString(3)).toSet
    val cdcShared = (cdc1 & cdc2).size.toDouble / cdc1.size
    val fixed = Multimodal.chunkPayloads(
      Multimodal.asBinaryPayloads(docs), 32).collect()
    val f1 = fixed.filter(_.getLong(0) == 1L).map(_.getString(3)).toSet
    val f2 = fixed.filter(_.getLong(0) == 2L).map(_.getString(3)).toSet
    val fixedShared = (f1 & f2).size.toDouble / f1.size
    info(f"shared chunk-hash fraction under a 3-byte shift: " +
      f"cdc=$cdcShared%.2f fixed=$fixedShared%.2f")
    assert(cdcShared >= 0.8,
      f"CDC chunks must re-align after a byte shift: $cdcShared%.2f")
    assert(fixedShared <= 0.2,
      f"fixture degenerate: fixed chunking unexpectedly aligned " +
        f"($fixedShared%.2f)")
  }

  test("hash split assignments are stable when the corpus grows") {
    import graft.operators.Sampling
    val small = (0L until 200L).toDF("doc_id")
    val big = (0L until 400L).toDF("doc_id")
    val a = Sampling.split(small, col("doc_id"))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val b = Sampling.split(big, col("doc_id"))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // Every original row keeps its assignment — no migration on growth.
    assert(a.forall { case (k, v) => b(k) == v })
  }

  test("leakage-safe split: a duplicate cluster never straddles splits") {
    // The contamination guarantee itself: every component maps to ONE
    // split, every injected near/exact duplicate shares its original's
    // split, and singleton docs get exactly the plain doc_id split
    // (the two operators agree where there is nothing to protect).
    import graft.operators.{Dedup, Sampling}
    val pairs = Dedup.lshCandidatePairs(
      Dedup.minhashSignaturesV2(corpus), sep = "|")
    val out = Sampling.leakageSafeSplit(corpus, pairs)
    val perComp = out.groupBy($"component")
      .agg(countDistinct($"split").as("n_splits"))
      .filter($"n_splits" > 1).count()
    assert(perComp === 0L, "a component straddled two splits")
    val byDoc = out.select($"doc_id", $"split").as[(Long, String)]
      .collect().toMap
    // injected exact duplicates: doc_id + 100000 for doc_id % 10 == 0
    val dups = byDoc.keys.filter(_ >= 100000L).filter(_ < 200000L)
    assert(dups.nonEmpty)
    dups.foreach(d => assert(byDoc(d) === byDoc(d - 100000L),
      s"duplicate $d split from its original"))
    // singletons (no incident candidate pair) fall back to the id hash
    val linked = pairs.select($"id_a".as("doc_id"))
      .unionByName(pairs.select($"id_b".as("doc_id")))
      .distinct().as[Long].collect().toSet
    val plain = Sampling.split(corpus.select($"doc_id"), $"doc_id")
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val singles = byDoc.keys.filterNot(linked.contains)
    assert(singles.nonEmpty)
    singles.foreach(dId => assert(byDoc(dId) === plain(dId)))
  }

  test("phraseMatch counts adjacent in-order occurrences, including overlaps") {
    import graft.operators.TextAnalysis
    val docsDf = Seq(
      (1L, "a b c a b"),        // "a b" twice
      (2L, "a a a"),            // "a a" overlapping: twice
      (3L, "b a"),              // reversed order: no "a b"
      (4L, "a c b"),            // non-adjacent: no match
      (5L, "x a b y a b a b")   // three "a b"
    ).toDF("doc_id", "text")
    val ab = TextAnalysis.phraseMatch(docsDf, Seq("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(ab === Map(1L -> 2L, 5L -> 3L))
    val aa = TextAnalysis.phraseMatch(docsDf, Seq("a", "a"))
      .as[(Long, Long)].collect().toMap
    assert(aa === Map(2L -> 2L))
    val single = TextAnalysis.phraseMatch(docsDf, Seq("a"))
      .as[(Long, Long)].collect().toMap
    assert(single === Map(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 1L, 5L -> 3L))
  }

  test("chunkDedup reports every injected duplicate chunk with exact reclaimable bytes") {
    // An injected exact-duplicate document shares EVERY chunk hash
    // with its original (fixed-offset chunking of identical bytes), so
    // all of its chunks must surface as duplicated; and the
    // reclaimable-bytes arithmetic must hold row by row.
    import graft.operators.Multimodal
    val pay = Multimodal.asBinaryPayloads(corpus)
    val out = graft.operators.Multimodal.chunkDedup(pay, 64)
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("bytes_saved") ===
        r.getAs[Int]("chunk_len").toLong * (r.getAs[Long]("n_copies") - 1))
      assert(r.getAs[Long]("n_docs") <= r.getAs[Long]("n_copies"))
    }
    val dupHashes = Multimodal.chunkPayloads(pay, 64)
      .filter($"doc_id" >= 100000L && $"doc_id" < 200000L)
      .select($"chunk_hash").distinct()
    val surfaced = dupHashes.join(out, "chunk_hash").count()
    assert(surfaced === dupHashes.count(),
      "every chunk of an exact-duplicate doc must be reported duplicated")
  }

  test("docs shorter than the shingle width exact-dedup but produce no shingles") {
    import graft.operators.Dedup
    val docs = Seq((1L, "one two"), (2L, "one two"), (3L, "a b c d"))
      .toDF("doc_id", "text")
    assert(Dedup.shingles(docs).filter(col("doc_id") <= 2L).count() === 0)
    val exact = Dedup.exactDuplicates(docs).collect()
    assert(exact.length === 2)  // the pair collapses, the long doc stands
  }

  test("GR raster synth: header dims round-trip and pixels cycle the " +
      "document bytes") {
    import graft.functions.RasterKernel
    val out = Multimodal.synthesizeRasterPayloads(docs)
      .orderBy("doc_id").collect()
    assert(out.length === docs.count())
    val texts = docs.orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    for (r <- out.take(20)) {
      val id = r.getAs[Long]("doc_id")
      val b = r.getAs[Array[Byte]]("payload")
      val d = RasterKernel.dims(b)
      assert(d != null, s"doc $id synthesized an invalid raster")
      assert(d.toSeq === Seq(3, (4 + id % 5).toInt, (3 + id % 4).toInt))
      val tb = texts(id).getBytes("UTF-8")
      val pix = b.drop(RasterKernel.HeaderLen)
      assert(pix.zipWithIndex.forall { case (p, i) => p == tb(i % tb.length) })
    }
  }

  test("frame sampling covers the payload with the right stride") {
    val payloads = Seq((1L, Array.fill[Byte](200)(7))).toDF("doc_id", "payload")
    val frames = Multimodal.sampleFrames(payloads, 64, 2)
      .orderBy("frame_no").collect()
    // 200 bytes → frames 0..3; stride 2 keeps 0 and 2
    assert(frames.map(_.getAs[Long]("frame_no")).toSeq === Seq(0L, 2L))
    assert(frames(0).getAs[Array[Byte]]("frame").length === 64)
  }

  test("raster box-filter resize: exact floor-averages on a handcrafted " +
      "grid; malformed bytes go to null, not a throw") {
    import graft.functions.RasterKernel
    // 1 channel, 4×2: rows [0,10,20,30] and [40,50,60,70]. Factor 2 →
    // 2×1 with pixels floor((0+10+40+50)/4)=25, floor((20+30+60+70)/4)=45.
    val src = RasterKernel.build(1, 4, 2,
      Array[Byte](0, 10, 20, 30, 40, 50, 60, 70))
    val payloads = Seq((1L, src), (2L, "not a raster".getBytes))
      .toDF("doc_id", "payload")
    val out = Multimodal.resizeRasters(payloads, 2)
      .orderBy("doc_id").collect()
    val good = out(0).getAs[Array[Byte]]("payload")
    assert(RasterKernel.dims(good).toSeq === Seq(1, 2, 1))
    assert(good.drop(RasterKernel.HeaderLen).toSeq === Seq(25.toByte, 45.toByte))
    assert(out(1).isNullAt(1), "malformed payload must resize to null")
    // Kernel edge semantics: a trailing partial block is dropped
    // (floor dims), and values above 127 stay exact unsigned bytes.
    val odd = RasterKernel.build(1, 3, 3,
      Array[Byte](200.toByte, 250.toByte, 9, 210.toByte, 240.toByte, 9,
        9, 9, 9))
    val rz = RasterKernel.resize(odd, 2)
    assert(RasterKernel.dims(rz).toSeq === Seq(1, 1, 1))
    assert((rz(RasterKernel.HeaderLen) & 0xff) === (200 + 250 + 210 + 240) / 4)
    // A dimension shrinking below 1 is malformed-output → null.
    assert(RasterKernel.resize(RasterKernel.build(1, 4, 1,
      Array[Byte](1, 2, 3, 4)), 2) === null)
    // Int-overflow header: c=4, w=65535, h=16385 → w*h*c wraps mod 2^32
    // to 196604, so an Int-arithmetic length check would accept a
    // 196604+7-byte body and the kernels would index out of bounds.
    // The Long-width check must reject it as null, never throw.
    val overflow = new Array[Byte](RasterKernel.HeaderLen + 196604)
    overflow(0) = 'G'; overflow(1) = 'R'; overflow(2) = 4
    overflow(3) = 0xff.toByte; overflow(4) = 0xff.toByte  // w = 65535
    overflow(5) = 0x40.toByte; overflow(6) = 0x01.toByte  // h = 16385
    assert(RasterKernel.dims(overflow) === null,
      "overflowing header dims must be rejected, not indexed")
    assert(RasterKernel.resize(overflow, 2) === null)
  }

  test("PNG codec: decodes an INDEPENDENTLY generated PNG byte-exact, " +
      "round-trips every filter class, nulls out malformed bytes") {
    import graft.functions.{PngKernel, RasterKernel}
    def hex2b(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // Fixtures generated by a SECOND, independent PNG implementation
    // (Python zlib + hand-written filters; one row per filter type),
    // so a compensating encode/decode bug in PngKernel cannot hide:
    // 4×6 grayscale with filters 0,1,2,3,4,0 and 3×5 RGB with
    // filters 4,3,2,1,0.
    val png1 = hex2b("89504e470d0a1a0a0000000d49484452000000040000000608" +
      "00000000c15260a90000002549444154789c63e03608ad629cafaaaaca340508" +
      "98d7c5c6de6599a23a4595e1bd88651c00899e09c444a7aa660000000049454e" +
      "44ae426082")
    val pix1 = Seq(11, 48, 85, 122, 159, 196, 233, 14, 51, 88, 125, 162,
      199, 236, 17, 54, 91, 128, 165, 202, 239, 20, 57, 94)
    val d1 = PngKernel.decode(png1)
    assert(d1 != null && RasterKernel.dims(d1).toSeq === Seq(1, 4, 6))
    assert(d1.drop(RasterKernel.HeaderLen).map(_ & 0xff).toSeq === pix1)
    val png2 = hex2b("89504e470d0a1a0a0000000d49484452000000030000000508" +
      "020000000f13c1f50000002e49444154789c6339f1d7683e18303bc67cdbb7cf" +
      "6edfbe7d4c776180317eca49882c834de1b2db02ae55eb9f0000e9ea1d0e54b7" +
      "f79a0000000049454e44ae426082")
    val pix2 = Seq(200, 253, 50, 103, 156, 209, 6, 59, 112, 165, 218, 15,
      68, 121, 174, 227, 24, 77, 130, 183, 236, 33, 86, 139, 192, 245,
      42, 95, 148, 201, 254, 51, 104, 157, 210, 7, 60, 113, 166, 219,
      16, 69, 122, 175, 228)
    val d2 = PngKernel.decode(png2)
    assert(d2 != null && RasterKernel.dims(d2).toSeq === Seq(3, 3, 5))
    assert(d2.drop(RasterKernel.HeaderLen).map(_ & 0xff).toSeq === pix2)
    // Filter arithmetic pinned against hand-computed spec values
    // (PNG spec §6, bpp 1): raw row (10, 200, 30), prior (5, 100, 7).
    val raw = Array[Byte](10, 200.toByte, 30)
    val prior = Array[Byte](5, 100, 7)
    val out = new Array[Byte](3)
    PngKernel.filterRow(1, raw, prior, 1, out) // Sub: x - left
    assert(out.map(_ & 0xff).toSeq === Seq(10, 190, 86)) // 30-200 mod 256
    PngKernel.filterRow(2, raw, prior, 1, out) // Up: x - up
    assert(out.map(_ & 0xff).toSeq === Seq(5, 100, 23))
    PngKernel.filterRow(3, raw, prior, 1, out) // Average
    // preds: (0+5)/2=2, (10+100)/2=55, (200+7)/2=103
    assert(out.map(_ & 0xff).toSeq === Seq(8, 145, 183)) // 30-103 mod 256
    PngKernel.filterRow(4, raw, prior, 1, out) // Paeth
    // preds: paeth(0,5,0): p=5, pa=5, pb=0, pc=5 → up=5;
    //        paeth(10,100,5): p=105, pa=95, pb=5, pc=100 → up=100;
    //        paeth(200,7,100): p=107, pa=93, pb=100, pc=7 → ul=100
    assert(out.map(_ & 0xff).toSeq === Seq(5, 100, 186)) // 30-100 mod 256
    // Every channel count round-trips bit-exact through a real PNG,
    // including >127 bytes and all five filters (h ≥ 5).
    for (c <- 1 to 4) {
      val gr = RasterKernel.build(c, 5, 6,
        Array.tabulate(5 * 6 * c)(i => ((i * 41 + 190) % 256).toByte))
      val rt = PngKernel.decode(PngKernel.encode(gr))
      assert(rt != null && rt.toSeq === gr.toSeq,
        s"PNG round-trip diverged at channels=$c")
    }
    // Dead-letter contract: every malformed shape → null, never throw.
    val good = PngKernel.encode(RasterKernel.build(1, 4, 5,
      Array.tabulate(20)(_.toByte)))
    assert(PngKernel.decode(null) === null)
    assert(PngKernel.decode("not a png".getBytes) === null)
    assert(PngKernel.decode(good.take(30)) === null) // truncated
    val crcBad = good.clone()
    crcBad(45) = (crcBad(45) ^ 1).toByte // flip an IDAT byte
    assert(PngKernel.decode(crcBad) === null)
    // 16-bit depth and interlaced flags are out of scope → null (the
    // IHDR edit recomputes the chunk CRC so ONLY the flag rejects).
    def withIhdrByte(src: Array[Byte], off: Int, v: Byte): Array[Byte] = {
      val b = src.clone()
      b(off) = v
      val crc = new java.util.zip.CRC32()
      crc.update(b, 12, 17) // "IHDR" + 13 data bytes
      val c = crc.getValue.toInt
      b(29) = (c >>> 24).toByte; b(30) = (c >>> 16).toByte
      b(31) = (c >>> 8).toByte; b(32) = c.toByte
      b
    }
    assert(PngKernel.decode(withIhdrByte(good, 24, 16)) === null)
    assert(PngKernel.decode(withIhdrByte(good, 28, 1)) === null)
  }

  test("JPEG codec: entropy bits match hand-derived Annex K codes, " +
      "block-constant round trip is exact, AC path bounded, " +
      "malformed/out-of-scope bytes null out") {
    import graft.functions.{JpegKernel, RasterKernel}
    // 1) Hand-derived bitstream pin — independent of the encoder's own
    // tables: a constant 8×8 gray-130 block has DC = 8·(130−128) = 16,
    // quantized 2 (category 2). Annex K canonical codes, derived BY
    // HAND from the BITS/HUFFVAL lists: DC category 2 → '011' (the
    // second length-3 code), value bits '10', AC EOB (0x00, the first
    // length-4 code) → '1010'; 9 bits + seven 1-pad bits = 0x75 0x7F.
    // A transposed table or a bit-order bug cannot survive this.
    val const130 = RasterKernel.build(1, 8, 8, Array.fill(64)(130.toByte))
    val jp = JpegKernel.encode(const130)
    assert(jp != null)
    val sos = jp.indices.dropRight(1)
      .find(i => (jp(i) & 0xff) == 0xff && (jp(i + 1) & 0xff) == 0xda).get
    val entropy = jp.slice(sos + 10, jp.length - 2) // FFDA + len 8
    assert(entropy.map(_ & 0xff).toSeq === Seq(0x75, 0x7f),
      s"entropy bytes ${entropy.map(b => f"${b & 0xff}%02x").mkString(" ")}" +
        " diverged from the hand-derived Annex K bitstream")
    assert(JpegKernel.decode(jp).toSeq === const130.toSeq,
      "constant-block round trip must be the identity")
    // 2) Multi-block constant fixture with partial edge blocks — the
    // gated row's class: exact identity through the DC prediction
    // chain and the edge-replication padding.
    val blocky = RasterKernel.build(1, 13, 19, Array.tabulate(13 * 19) {
      i => val x = i % 13; val y = i / 13
        ((x / 8) * 97 + (y / 8) * 59 + 7).toByte
    })
    assert(JpegKernel.decode(JpegKernel.encode(blocky)).toSeq ===
      blocky.toSeq, "block-constant fixture must round-trip exactly")
    // 3) The lossy AC path (run-length, ZRL, EOB, EXTEND) on a noisy
    // raster: dims preserved, per-pixel error bounded by the all-8s
    // quant table (≤ 4 per coefficient; empirical pixel bound well
    // under the loose 59 analytic one), and encoding is deterministic.
    val noisy = RasterKernel.build(1, 21, 14, Array.tabulate(21 * 14)(
      i => ((i * 137 + i * i * 29 + 83) % 256).toByte))
    val rt = JpegKernel.decode(JpegKernel.encode(noisy))
    assert(rt != null && RasterKernel.dims(rt).toSeq === Seq(1, 21, 14))
    val errs = rt.drop(RasterKernel.HeaderLen)
      .zip(noisy.drop(RasterKernel.HeaderLen))
      .map { case (a, b) => math.abs((a & 0xff) - (b & 0xff)) }
    info(f"JPEG AC-path max err = ${errs.max}, mean = " +
      f"${errs.sum.toDouble / errs.length}%.2f")
    assert(errs.max <= 24, s"AC-path pixel error ${errs.max} out of bound")
    assert(errs.sum.toDouble / errs.length <= 4.0)
    assert(JpegKernel.encode(noisy).toSeq === JpegKernel.encode(noisy).toSeq)
    // 4) Dead-letter contract: malformed or out-of-scope → null.
    assert(JpegKernel.decode(null) === null)
    assert(JpegKernel.decode("not a jpeg".getBytes) === null)
    assert(JpegKernel.decode(jp.take(20)) === null) // truncated
    assert(JpegKernel.encode(RasterKernel.build(2, 4, 4,
      Array.fill(32)(1.toByte))) === null,
      "2-channel (gray+alpha) encode is out of scope")
    // 5) 3-component RGB-as-planes: interleaved MCUs with a separate
    // DC predictor per component — block-constant exactness holds per
    // channel (no color transform), and the noisy error bound matches
    // the gray path's.
    val rgbBlocky = RasterKernel.build(3, 13, 10,
      Array.tabulate(13 * 10 * 3) { i =>
        val x = (i / 3) % 13; val y = (i / 3) / 13; val ch = i % 3
        ((x / 8) * 71 + (y / 8) * 37 + ch * 17 + 5).toByte
      })
    assert(JpegKernel.decode(JpegKernel.encode(rgbBlocky)).toSeq ===
      rgbBlocky.toSeq, "RGB block-constant fixture must round-trip exactly")
    val rgbNoisy = RasterKernel.build(3, 11, 9,
      Array.tabulate(11 * 9 * 3)(i => ((i * 131 + i * i * 17 + 7) % 256).toByte))
    val rgbRt = JpegKernel.decode(JpegKernel.encode(rgbNoisy))
    assert(rgbRt != null && RasterKernel.dims(rgbRt).toSeq === Seq(3, 11, 9))
    val rgbErrs = rgbRt.drop(RasterKernel.HeaderLen)
      .zip(rgbNoisy.drop(RasterKernel.HeaderLen))
      .map { case (a, b) => math.abs((a & 0xff) - (b & 0xff)) }
    assert(rgbErrs.max <= 24, s"RGB AC-path error ${rgbErrs.max} out of bound")
    val progressive = jp.clone()
    val sof = jp.indices.dropRight(1)
      .find(i => (jp(i) & 0xff) == 0xff && (jp(i + 1) & 0xff) == 0xc0).get
    progressive(sof + 1) = 0xc2.toByte // SOF0 → SOF2
    assert(JpegKernel.decode(progressive) === null,
      "progressive JPEG must dead-letter, not misdecode")
    val withDri = jp.take(sof) ++
      Array(0xff, 0xdd, 0x00, 0x04, 0x00, 0x02).map(_.toByte) ++
      jp.drop(sof)
    assert(JpegKernel.decode(withDri) === null,
      "restart intervals are out of scope and must dead-letter")
    // 6) Scan/frame header sweep: every in-the-wild shape this decoder
    // does NOT implement must dead-letter (null), never silently
    // misdecode with the wrong tables / no color transform.
    def patched(src: Array[Byte])(edits: (Int, Int)*): Array[Byte] = {
      val c = src.clone()
      for ((i, v) <- edits) c(i) = v.toByte
      c
    }
    val sosIdx = jp.indices.dropRight(1)
      .find(i => (jp(i) & 0xff) == 0xff && (jp(i + 1) & 0xff) == 0xda).get
    // gray stream layout: SOF payload at sof+4 (precision, h, w, nc,
    // then [id, HV, Tq] per comp); SOS payload at sosIdx+4 (Ns, then
    // [Cs, TdTa] per comp, then Ss, Se, AhAl).
    assert(JpegKernel.decode(patched(jp)(sosIdx + 6 -> 0x11)) === null,
      "SOS Huffman selectors off table pair 0 must dead-letter")
    assert(JpegKernel.decode(patched(jp)(sosIdx + 7 -> 1)) === null,
      "Ss != 0 (spectral selection) must dead-letter")
    assert(JpegKernel.decode(patched(jp)(sosIdx + 8 -> 62)) === null,
      "Se != 63 must dead-letter")
    assert(JpegKernel.decode(patched(jp)(sosIdx + 9 -> 0x10)) === null,
      "Ah/Al != 0 (successive approximation) must dead-letter")
    assert(JpegKernel.decode(patched(jp)(sosIdx + 5 -> 2)) === null,
      "SOS component id not matching SOF must dead-letter")
    assert(JpegKernel.decode(patched(jp)(sof + 12 -> 1)) === null,
      "SOF quant-table slot 1 must dead-letter (only slot 0 loads)")
    assert(JpegKernel.decode(patched(jp)(sof + 9 -> 2)) === null,
      "2-component SOF must dead-letter")
    // 3-component stream with YCbCr-style ids 1,2,3 instead of
    // 'R','G','B': would decode without the color transform →
    // silently wrong pixels; must dead-letter instead. SOS ids are
    // cross-checked against SOF, so patch both.
    val rgbJp = JpegKernel.encode(rgbBlocky)
    val rgbSof = rgbJp.indices.dropRight(1).find(i =>
      (rgbJp(i) & 0xff) == 0xff && (rgbJp(i + 1) & 0xff) == 0xc0).get
    val rgbSos = rgbJp.indices.dropRight(1).find(i =>
      (rgbJp(i) & 0xff) == 0xff && (rgbJp(i + 1) & 0xff) == 0xda).get
    assert(JpegKernel.decode(patched(rgbJp)(
        rgbSof + 10 -> 1, rgbSof + 13 -> 2, rgbSof + 16 -> 3,
        rgbSos + 5 -> 1, rgbSos + 7 -> 2, rgbSos + 9 -> 3)) === null,
      "3-component ids other than R,G,B must dead-letter")
    // non-interleaved per-component scan (Ns=1 on a 3-comp frame)
    assert(JpegKernel.decode(patched(rgbJp)(rgbSos + 4 -> 1)) === null,
      "Ns != component count must dead-letter")
    // truncated DHT: segment length cut into the BITS array
    val dht = jp.indices.dropRight(1).find(i =>
      (jp(i) & 0xff) == 0xff && (jp(i + 1) & 0xff) == 0xc4).get
    assert(JpegKernel.decode(patched(jp)(dht + 2 -> 0, dht + 3 -> 5)) === null,
      "truncated DHT must dead-letter")
    // 7) Allocation guards: header dims alone never size the canvas.
    // 20000×20000 gray = 400 MB canvas > the 256 MiB cap → null before
    // allocating; 2000×2000 passes the cap but its 62500 blocks need
    // ≥ 15 KB of entropy where the stream has 2 bytes → null via the
    // entropy-size sanity, still before allocating.
    assert(JpegKernel.decode(patched(jp)(
        sof + 5 -> 0x4e, sof + 6 -> 0x20, sof + 7 -> 0x4e,
        sof + 8 -> 0x20)) === null,
      "canvas cap must dead-letter crafted huge dims")
    assert(JpegKernel.decode(patched(jp)(
        sof + 5 -> 0x07, sof + 6 -> 0xd0, sof + 7 -> 0x07,
        sof + 8 -> 0xd0)) === null,
      "entropy-size sanity must dead-letter tiny payloads with big dims")
    // 8) Fuzz: random single-byte corruptions never THROW — the
    // kernel's contract is null-or-bytes, property-tested like the
    // PNG path.
    val fuzzRnd = new scala.util.Random(23)
    val rgbNoisyJp = JpegKernel.encode(rgbNoisy)
    for (src <- Seq(jp, rgbJp, rgbNoisyJp); _ <- 1 to 200) {
      val i = fuzzRnd.nextInt(src.length)
      val r = JpegKernel.decode(patched(src)(i -> fuzzRnd.nextInt(256)))
      assert(r == null || r.isInstanceOf[Array[Byte]])
    }
  }

  test("header decoder parses real PNG and JPEG bytes, verifies PNG CRC") {
    // PNG: exact dimensions + CRC32 round-trip
    val png = Multimodal.pngBytes(640, 480, "body".getBytes)
    assert(Multimodal.decodeHeader(png) === Some(("png", 640, 480, true)))
    // corrupt one IHDR data byte → CRC must catch it
    val bad = png.clone(); bad(17) = (bad(17) ^ 1).toByte
    assert(Multimodal.decodeHeader(bad).map(_._4) === Some(false))
    // JPEG: dimensions sit behind APP0+DQT segments the scan must skip
    val jpg = Multimodal.jpegBytes(1920, 1080, "entropy".getBytes)
    assert(Multimodal.decodeHeader(jpg) === Some(("jpeg", 1920, 1080, true)))
    // truncated before SOF / foreign bytes → None, no throw
    assert(Multimodal.decodeHeader(jpg.take(10)) === None)
    assert(Multimodal.decodeHeader("not an image".getBytes) === None)
    assert(Multimodal.decodeHeader(Array.empty[Byte]) === None)
  }

  test("synthesized payloads decode to the oracle's derived dimensions") {
    val out = Multimodal.decodeImageHeaders(
      Multimodal.synthesizeImagePayloads(docs)).orderBy("doc_id").collect()
    val texts = docs.orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(out.nonEmpty)
    for (r <- out) {
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[String]("format") === (if (id % 2 == 0) "png" else "jpeg"))
      assert(r.getAs[Int]("width") === 16 + texts(id).getBytes("UTF-8").length % 600)
      assert(r.getAs[Int]("height") === (16 + id % 480).toInt)
      assert(r.getAs[Boolean]("header_ok"))
    }
  }

  test("WAV header decoder parses real RIFF bytes, skips unknown chunks") {
    // 7 bytes of PCM at stereo blockAlign=4 → 1 whole frame kept
    val wav = Multimodal.wavBytes(44100, 2, Array[Byte](1, 2, 3, 4, 5, 6, 7))
    assert(Multimodal.decodeWavHeader(wav) === Some((2, 44100, 1L)))
    // mono keeps 3 frames of the same 7 bytes
    val mono = Multimodal.wavBytes(8000, 1, Array[Byte](1, 2, 3, 4, 5, 6, 7))
    assert(Multimodal.decodeWavHeader(mono) === Some((1, 8000, 3L)))
    // truncated mid-header / foreign bytes → None, no throw
    assert(Multimodal.decodeWavHeader(wav.take(20)) === None)
    assert(Multimodal.decodeWavHeader("RIFFnotawave".getBytes) === None)
    assert(Multimodal.decodeWavHeader(Array.empty[Byte]) === None)
    // adversarial chunk lengths: near Int.MaxValue (overflowed the int
    // cursor into a negative index pre-fix → StringIndexOutOfBounds) and
    // in the uint32 range — both must decode as None, never throw
    for (lenBytes <- Seq(
        Array[Byte](0xf0.toByte, 0xff.toByte, 0xff.toByte, 0x7f.toByte),
        Array[Byte](0xf0.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte))) {
      val evil = "RIFF0000WAVEJUNK".getBytes("US-ASCII") ++ lenBytes ++
        Array.fill[Byte](32)(7)
      assert(Multimodal.decodeWavHeader(evil) === None)
    }
    // data chunk claiming more bytes than the buffer holds → truncated
    // file, rejected rather than reporting frames that don't exist
    val cut = wav.dropRight(2)
    assert(Multimodal.decodeWavHeader(cut) === None)
  }

  test("synthesized WAV payloads decode to the oracle's derivation") {
    val out = Multimodal.decodeAudioHeaders(
      Multimodal.synthesizeAudioPayloads(docs)).orderBy("doc_id").collect()
    val texts = docs.orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val rates = Array(8000, 16000, 22050, 44100)
    assert(out.nonEmpty)
    for (r <- out) {
      val id = r.getAs[Long]("doc_id")
      val blockAlign = 2 * (1 + id % 2).toInt
      assert(r.getAs[Int]("channels") === (1 + id % 2).toInt)
      assert(r.getAs[Int]("sample_rate") === rates((id % 4).toInt))
      assert(r.getAs[Long]("n_frames") ===
        texts(id).getBytes("UTF-8").length / blockAlign)
      assert(r.getAs[Boolean]("header_ok"))
    }
  }

  test("WAV window stats: exact energy/peak on handcrafted PCM, " +
      "partial windows dropped, malformed bytes null out") {
    import graft.functions.WavKernel
    // Mono PCM16, 5 frames of known samples: 3, -4, 100, -32768, 7.
    def le(v: Int): Array[Byte] = {
      val u = if (v < 0) v + 0x10000 else v
      Array((u & 0xff).toByte, ((u >> 8) & 0xff).toByte)
    }
    val pcm = Seq(3, -4, 100, -32768, 7).flatMap(le).toArray
    val wav = Multimodal.wavBytes(8000, 1, pcm)
    // winFrames = 2 → two full windows, the 5th frame drops.
    val st = WavKernel.windowStats(wav, 2).toLongArray()
    assert(st.toSeq === Seq(
      3L * 3 + 4L * 4, 4L,
      100L * 100 + 32768L * 32768, 32768L))
    // Stereo: the same bytes as 2 channels → blockAlign 4, windows
    // span both channels' samples.
    val wav2 = Multimodal.wavBytes(8000, 2, pcm) // truncates to 2 frames
    val st2 = WavKernel.windowStats(wav2, 1).toLongArray()
    assert(st2.toSeq === Seq(
      3L * 3 + 4L * 4, 4L,
      100L * 100 + 32768L * 32768, 32768L))
    // Fewer frames than a window → zero windows, not a partial one.
    assert(WavKernel.windowStats(wav, 9).toLongArray().isEmpty)
    // Malformed / non-WAV bytes → null, never a throw.
    assert(WavKernel.windowStats("not audio".getBytes, 2) === null)
    // The operator drops zero-window and malformed payloads cleanly.
    val frames = Multimodal.audioWindowStats(
      Seq((1L, wav), (2L, "junk".getBytes), (3L, wav))
        .toDF("doc_id", "payload"), winFrames = 9).collect()
    assert(frames.isEmpty)
  }

  test("raster gray/flip/crop/stats kernels: exact integer semantics " +
      "on a handcrafted grid; invalid windows and bytes null out") {
    import graft.functions.RasterKernel
    // 2 channels, 3×2: pixel (x,y) has ch0 = 10·(y·3+x), ch1 = 200+idx.
    val pix = Array.tabulate(12)(i =>
      (if (i % 2 == 0) 10 * (i / 2) else 200 + i / 2).toByte)
    val b = RasterKernel.build(2, 3, 2, pix)
    // gray: floor((ch0 + ch1) / 2) per pixel
    val g = RasterKernel.gray(b)
    assert(RasterKernel.dims(g).toSeq === Seq(1, 3, 2))
    assert(g.drop(RasterKernel.HeaderLen).map(_ & 0xff).toSeq ===
      (0 until 6).map(i => (10 * i + 200 + i) / 2))
    // flip: row [p0 p1 p2] -> [p2 p1 p0], channels ride along
    val f = RasterKernel.flipH(b)
    assert(RasterKernel.dims(f).toSeq === Seq(2, 3, 2))
    def px(raw: Array[Byte], x: Int, y: Int, c: Int): Int =
      raw(RasterKernel.HeaderLen + (y * 3 + x) * 2 + c) & 0xff
    for (y <- 0 until 2; x <- 0 until 3; c <- 0 until 2)
      assert(px(f, x, y, c) === px(b, 2 - x, y, c))
    // crop 2×1 at (1,1): source pixels (1,1),(2,1)
    val cr = RasterKernel.crop(b, 1, 1, 2, 1)
    assert(RasterKernel.dims(cr).toSeq === Seq(2, 2, 1))
    assert(cr.drop(RasterKernel.HeaderLen).map(_ & 0xff).toSeq ===
      Seq(px(b, 1, 1, 0), px(b, 1, 1, 1), px(b, 2, 1, 0), px(b, 2, 1, 1)))
    // out-of-bounds window → null, never a clamp or a throw
    assert(RasterKernel.crop(b, 2, 0, 2, 2) === null)
    assert(RasterKernel.crop(b, 0, 0, 4, 1) === null)
    // channel stats: exact sum/min/max per channel, channel-major
    val st = RasterKernel.channelStats(b).toLongArray()
    assert(st.toSeq === Seq(
      (0 until 6).map(10L * _).sum, 0L, 50L,
      (0 until 6).map(200L + _).sum, 200L, 205L))
    // upsample: each source pixel replicates into an f×f block…
    val up = RasterKernel.upsample(b, 2)
    assert(RasterKernel.dims(up).toSeq === Seq(2, 6, 4))
    for (y <- 0 until 4; x <- 0 until 6; c <- 0 until 2)
      assert((up(RasterKernel.HeaderLen + (y * 6 + x) * 2 + c) & 0xff)
        === px(b, x / 2, y / 2, c))
    // …so box-filter downsampling it back is the exact identity
    // (the average of f² identical bytes is the byte).
    assert(RasterKernel.resize(up, 2).toSeq === b.toSeq,
      "resize(upsample(b, f), f) must round-trip bit-for-bit")
    // malformed bytes null out across the whole family
    val junk = "not a raster".getBytes
    assert(RasterKernel.gray(junk) === null)
    assert(RasterKernel.flipH(junk) === null)
    assert(RasterKernel.crop(junk, 0, 0, 1, 1) === null)
    assert(RasterKernel.channelStats(junk) === null)
    assert(RasterKernel.upsample(junk, 2) === null)
  }

  test("fused image pipeline equals the stage-by-stage composition and " +
      "keeps every kernel inside one codegen pass") {
    import graft.functions.{functions => gf}
    val synth = Multimodal.synthesizeRasterPayloads(docs)
    val fused = Multimodal.imagePipeline(docs)
      .orderBy("doc_id", "b").collect().toSeq
    val staged = Multimodal.grayRasters(
        Multimodal.resizeRasters(synth, 2))
      .select($"doc_id", gf.raster_histogram($"payload", 8).as("hist"))
      .select($"doc_id", posexplode($"hist"))
      .select($"doc_id", $"pos".cast("int").as("b"), $"col".as("cnt"))
      .orderBy("doc_id", "b").collect().toSeq
    assert(fused.nonEmpty && fused === staged,
      "fused pipeline diverged from the stage-by-stage composition")
    // Plan shape: the three kernels chain inside whole-stage codegen —
    // no exchange before the generator, a single codegen span reading
    // the synthesized payloads.
    val plan = Multimodal.imagePipeline(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"fused image pipeline grew an exchange:\n$plan")
    // executedPlan.toString marks whole-stage-codegen spans with the
    // "*(n)" prefix; the kernel chain must sit inside one.
    assert(plan.contains("*("),
      s"fused image pipeline fell out of whole-stage codegen:\n$plan")
  }

  test("feature extraction: per-channel histograms are exact and each " +
      "channel's bins sum to 1") {
    import graft.functions.RasterKernel
    // 2 channels, 2×2 interleaved: channel 0 = [97, 97, 65, 32],
    // channel 1 = [200, 200, 200, 33]. bins=8 buckets are v*8/256.
    val pix = Array[Byte](97, 200.toByte, 97, 200.toByte,
      65, 200.toByte, 32, 33)
    val payloads = Seq((1L, RasterKernel.build(2, 2, 2, pix)))
      .toDF("doc_id", "payload")
    val feats = Multimodal.extractFeatures(payloads).head
      .getAs[scala.collection.Seq[Double]]("features")
    assert(feats.length === 16)
    // channel 0: 'a'(97)→bin 3 ×2, 'A'(65)→bin 2, ' '(32)→bin 1
    assert(feats(3) === 0.5 && feats(2) === 0.25 && feats(1) === 0.25)
    // channel 1: 200→bin 6 ×3, '!'(33)→bin 1
    assert(feats(8 + 6) === 0.75 && feats(8 + 1) === 0.25)
    assert(math.abs(feats.slice(0, 8).sum - 1.0) < 1e-12)
    assert(math.abs(feats.slice(8, 16).sum - 1.0) < 1e-12)
  }

  test("bqCodes packs sign bits exactly; Hamming is 0 on self, 64 on " +
      "negation; the re-rank stage's cosines are the exact scores") {
    import graft.operators.Similarity
    // Handcrafted: dims 1,3,...,63 positive, evens negative → code
    // halves are the alternating-bit pattern 0x55555555 in both words.
    val alt = (1 to 64).map(i => if (i % 2 == 1) 1.0 else -1.0)
    val fix = Seq((1L, alt), (2L, alt.map(-_))).toDF("vec_id", "v")
    val packed = Similarity.bqCodes(fix)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(packed(0) === ((1L, 0x55555555L, 0x55555555L)))
    assert(packed(1) === ((2L, 0xAAAAAAAAL, 0xAAAAAAAAL)))

    // Self-Hamming 0 / negation-Hamming 64 through the public serve:
    // with shortlist = k = 1 over {v, -v}, each probe's single
    // candidate is the other vector at ham = 64.
    val pair = Similarity.bqRerank(fix, fix, shortlist = 1, k = 1)
      .select($"probe_id", $"neighbor_id", $"ham")
      .as[(Long, Long, Int)].collect().toSet
    assert(pair === Set((1L, 2L, 64), (2L, 1L, 64)))

    // Corpus: every served cos_r must equal the brute-force score for
    // the same (probe, neighbor) pair — the re-rank stage is exact,
    // BQ only decides WHICH pairs reach it.
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 10)
    val served = Similarity.bqRerank(vecs, probes)
      .select($"probe_id", $"neighbor_id", $"cos_r")
      .as[(Long, Long, Double)].collect()
    assert(served.nonEmpty)
    val exact = Similarity.scoreAll(vecs, probes)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    served.foreach { case (p, n, c) =>
      assert(exact((p, n)) === c, s"re-rank cos drifted for ($p, $n)")
    }

    // Persisted + appended code tables serve bit-identically to the
    // in-memory path (BIGINT codes round-trip parquet exactly; append
    // rows are per-vector, so halves union to the monolithic table).
    val full = Similarity.bqRerank(vecs, probes)
      .as[(Long, Long, Int, Double, Int)].collect().sortBy(r => (r._1, r._5))
    withTempDir("graft_bq_spec") { dir =>
      Similarity.writeBqIndex(vecs, dir)
      val stored = Similarity.bqRerankFromIndex(spark, dir, vecs, probes)
        .as[(Long, Long, Int, Double, Int)].collect()
        .sortBy(r => (r._1, r._5))
      assert(stored === full)
    }
    withTempDir("graft_bq_app_spec") { dir =>
      Similarity.writeBqIndex(vecs.filter($"vec_id" % 2 === 0), dir)
      Similarity.appendBqIndex(spark, vecs.filter($"vec_id" % 2 =!= 0),
        dir)
      val appended = Similarity.bqRerankFromIndex(spark, dir, vecs, probes)
        .as[(Long, Long, Int, Double, Int)].collect()
        .sortBy(r => (r._1, r._5))
      assert(appended === full)
    }
  }

  test("bqCodes fails loudly on a non-64-dim vector instead of " +
      "silently skewing Hamming distances") {
    import graft.operators.Similarity
    val short = Seq((1L, (1 to 63).map(_.toDouble))).toDF("vec_id", "v")
    val e = intercept[Exception] {
      Similarity.bqCodes(short).collect()
    }
    assert(e.getMessage.contains("64"),
      s"expected the 64-dim contract in the error, got: ${e.getMessage}")
  }

  test("BQ delete/compact lifecycle: masked serve equals " +
      "rebuild-over-survivors, compaction serves identically and " +
      "drains, full drain stays readable and re-appends cleanly") {
    import graft.operators.Similarity
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 10)
    val survivors = vecs.filter($"vec_id" % 7 =!= 0)
    withTempDir("graft_bq_del_spec") { dir =>
      Similarity.writeBqIndex(vecs, dir)
      Similarity.deleteFromBqIndex(spark,
        vecs.filter($"vec_id" % 7 === 0).select($"vec_id"), dir)
      val masked = Similarity.bqRerankFromIndex(spark, dir, vecs, probes)
      val r1 = masked.collect().toSet
      assert(r1.nonEmpty, "masked BQ serve returned nothing")
      assert(masked.filter($"neighbor_id" % 7 === 0).isEmpty,
        "a deleted id appeared as a BQ neighbor")
      // Delete ≡ rebuild over the survivors: the mask applies BEFORE
      // the Hamming shortlist ranks, so the shortlist fills with
      // survivors exactly as a fresh build's would.
      withTempDir("graft_bq_rebuild") { dir2 =>
        Similarity.writeBqIndex(survivors, dir2)
        val rebuilt = Similarity.bqRerankFromIndex(spark, dir2, vecs,
          probes).collect().toSet
        assert(rebuilt === r1,
          "BQ delete diverged from a rebuild over the survivors")
      }
      // Compaction: identical serve, drained tombstones, rows gone.
      Similarity.compactBqIndex(spark, dir)
      val r2 = Similarity.bqRerankFromIndex(spark, dir, vecs, probes)
        .collect().toSet
      assert(r2 === r1, "compacted BQ serve diverged from the masked serve")
      assert(liveTable(dir, "tombstones").isEmpty,
        "BQ tombstones not drained by compaction")
      assert(liveTable(dir, "codes")
          .filter($"vec_id" % 7 === 0).isEmpty,
        "BQ compaction left deleted code rows behind")
      // FULL drain: delete everything, compact — the code table must
      // stay readable (zero-row schema-preserving file), and a later
      // append must serve exactly a fresh build over the new batch
      // (the table is unpartitioned, so the placeholder coexists with
      // appended files harmlessly).
      Similarity.deleteFromBqIndex(spark, vecs.select($"vec_id"), dir)
      Similarity.compactBqIndex(spark, dir)
      assert(liveTable(dir, "codes").isEmpty,
        "fully-drained BQ code table must read back as zero rows")
      assert(Similarity.bqRerankFromIndex(spark, dir, vecs, probes)
          .isEmpty, "a deleted row resurfaced after a full BQ drain")
      val batch = vecs.filter($"vec_id" % 3 === 0)
      Similarity.appendBqIndex(spark, batch, dir)
      val reAdded = Similarity.bqRerankFromIndex(spark, dir, vecs, probes)
        .collect().toSet
      withTempDir("graft_bq_fresh") { dir3 =>
        Similarity.writeBqIndex(batch, dir3)
        val fresh = Similarity.bqRerankFromIndex(spark, dir3, vecs,
          probes).collect().toSet
        assert(reAdded.nonEmpty && reAdded === fresh,
          "append after a full BQ drain diverged from a fresh build")
      }
    }
  }

  test("unreferenced and uncommitted files under an index dir leave its serve unchanged") {
    import graft.operators.{IndexMeta, Similarity}
    def plant(dir: String, names: String*): Seq[java.io.File] =
      names.map { n =>
        val d = new java.io.File(dir, n)
        d.mkdirs()
        val junk = new java.io.File(d, "part-junk.parquet")
        java.nio.file.Files.write(junk.toPath, Array[Byte](1, 2, 3))
        junk
      }
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 10)
    withTempDir("graft_stage_sweep") { dir =>
      Similarity.writeBqIndex(vecs, dir)
      Similarity.deleteFromBqIndex(spark,
        vecs.filter($"vec_id" % 7 === 0).select($"vec_id"), dir)
      def serve() = Similarity.bqRerankFromIndex(spark, dir, vecs, probes)
        .collect().toSet
      val want = serve()
      // Unreadable files no entry lists, inside the tables and in a
      // crashed leg's staging child: a serve never lists the dir.
      val planted = plant(dir, "codes", "tombstones",
        "_graft_stage-crashed/1/codes")
      assert(serve() === want, "a planted unreferenced file changed the serve")
      // An uncommitted leg: a compaction whose log entry never landed.
      Similarity.compactBqIndex(spark, dir)
      val log = new java.io.File(dir, IndexMeta.Name)
      assert(log.listFiles().filter(_.getName.endsWith(".json"))
        .maxBy(_.getName.stripSuffix(".json").toLong).delete())
      assert(serve() === want, "an uncommitted compaction changed the serve")
      Similarity.compactBqIndex(spark, dir)
      assert(serve() === want, "the re-run compaction changed the serve")
      planted.foreach(f => assert(f.exists(),
        s"$f was deleted before the log's grace"))
      Similarity.writeBqIndex(vecs, dir)
      assert(serve().nonEmpty)
    }
  }

  test("IVF-BQ cell-blocked serve: probing every cell equals the flat " +
      "BQ serve bit-for-bit; persist/append/delete/compact reuse the " +
      "cell-table lifecycle exactly") {
    import graft.operators.Similarity
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 10)
    val cents = Similarity.kmeansTrain(vecs, 8, 2)
    // Cells partition the corpus, so consulting ALL of them (nprobe =
    // kCells) degenerates to the flat full-corpus Hamming scan — the
    // same candidate set, same tie-breaks, same re-rank.
    val flat = Similarity.bqRerank(vecs, probes).collect().toSet
    val allCells = Similarity
      .ivfBqTopK(vecs, probes, cents, 20, 3, nprobe = 8)
      .collect().toSet
    assert(flat.nonEmpty && allCells === flat,
      "nprobe=all cell-blocked BQ diverged from the flat serve")
    val mem = Similarity.ivfBqTopK(vecs, probes, cents, 20, 3, nprobe = 2)
      .collect().toSet
    withTempDir("graft_ivfbq_spec") { dir =>
      Similarity.writeIvfBqIndex(vecs, cents, dir)
      val stored = Similarity.searchIvfBqIndex(spark, dir, vecs, probes)
        .collect().toSet
      assert(mem.nonEmpty && stored === mem,
        "persisted IVF-BQ serve diverged from the in-memory path")
      // Append ≡ monolithic (per-vector codes + stored centroids).
      withTempDir("graft_ivfbq_app") { dir2 =>
        Similarity.writeIvfBqIndex(vecs.filter($"vec_id" % 2 === 0),
          cents, dir2)
        Similarity.appendIvfBqIndex(spark,
          vecs.filter($"vec_id" % 2 =!= 0), dir2)
        val appended = Similarity.searchIvfBqIndex(spark, dir2, vecs,
          probes).collect().toSet
        assert(appended === stored,
          "IVF-BQ build+append diverged from the monolithic serve")
      }
      // Delete masks before the shortlist; compaction serves
      // identically, drains the tombstones, removes the rows.
      Similarity.deleteFromIvfBqIndex(spark,
        vecs.filter($"vec_id" % 7 === 0).select($"vec_id"), dir)
      val masked = Similarity.searchIvfBqIndex(spark, dir, vecs, probes)
      val r1 = masked.collect().toSet
      assert(r1.nonEmpty, "masked IVF-BQ serve returned nothing")
      assert(masked.filter($"neighbor_id" % 7 === 0).isEmpty,
        "a deleted id appeared as an IVF-BQ neighbor")
      Similarity.compactIvfBqIndex(spark, dir)
      val r2 = Similarity.searchIvfBqIndex(spark, dir, vecs, probes)
        .collect().toSet
      assert(r2 === r1,
        "compacted IVF-BQ serve diverged from the masked serve")
      assert(liveTable(dir, "tombstones").isEmpty,
        "IVF-BQ tombstones not drained by compaction")
      assert(liveTable(dir, "codes")
          .filter($"vec_id" % 7 === 0).isEmpty,
        "IVF-BQ compaction left deleted code rows behind")
      // Layout gate: the flat-BQ searcher must refuse this dir.
      val e = intercept[IllegalArgumentException] {
        Similarity.bqRerankFromIndex(spark, dir, vecs, probes)
      }
      assert(e.getMessage != null)
    }
  }

  test("IVF-BQ append after a FULL-drain compaction: the drained " +
      "placeholder clears and the cell-partitioned codes serve the batch") {
    import graft.operators.Similarity
    // The corpus embeddings, not clusteredVecs(): bqCodes enforces the
    // 64-dim packing contract and the fixture is 16-dim.
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val cents = Similarity.kmeansTrain(vecs, 8, 2)
    val probes = vecs.filter($"vec_id" < 10)
    val batch = vecs.filter($"vec_id" % 3 === 0)
    withTempDir("graft_ivfbq_drain") { dir =>
      Similarity.writeIvfBqIndex(vecs, cents, dir)
      Similarity.deleteFromIvfBqIndex(spark, vecs.select($"vec_id"), dir)
      Similarity.compactIvfBqIndex(spark, dir)
      assert(liveTable(dir, "codes").isEmpty,
        "fully-drained IVF-BQ code table must read back as zero rows")
      Similarity.appendIvfBqIndex(spark, batch, dir)
      val served = Similarity.searchIvfBqIndex(spark, dir, vecs, probes)
        .collect().toSet
      withTempDir("graft_ivfbq_drain_fresh") { dir2 =>
        Similarity.writeIvfBqIndex(batch, cents, dir2)
        val fresh = Similarity.searchIvfBqIndex(spark, dir2, vecs,
          probes).collect().toSet
        assert(served.nonEmpty && served === fresh,
          "IVF-BQ append after a full-drain compaction diverged from " +
            "a fresh build of the batch")
      }
    }
  }

  test("IVF append after a FULL-drain compaction: the drained " +
      "placeholder clears and the partitioned table serves the batch") {
    // The drained-table corner of the append leg: a full-drain
    // compaction leaves a zero-row NON-partitioned placeholder at the
    // table root; an append must not write cell= dirs beside it
    // (mixed partition depths would fail the next read's partition
    // discovery) — the placeholder clears first, and the served
    // result equals a fresh build of the appended batch under the
    // same stored centroids.
    import graft.operators.Similarity
    val vecs = clusteredVecs().select($"vec_id", $"v")
    val cents = Similarity.kmeansTrain(vecs, 8, 2)
    val probes = vecs.filter($"vec_id" < 10)
    val batch = vecs.filter($"vec_id" % 3 === 0)
    withTempDir("graft_drain_app") { dir =>
      Similarity.writeIvfIndex(vecs, cents, dir)
      Similarity.deleteFromIvfIndex(spark, vecs.select($"vec_id"), dir)
      Similarity.compactIvfIndex(spark, dir)
      Similarity.appendIvfIndex(spark, batch, dir)
      val served = Similarity.searchIvfIndex(spark, dir, probes, 3,
        nprobe = 2).collect().toSet
      withTempDir("graft_drain_fresh") { dir2 =>
        Similarity.writeIvfIndex(batch, cents, dir2)
        val fresh = Similarity.searchIvfIndex(spark, dir2, probes, 3,
          nprobe = 2).collect().toSet
        assert(served.nonEmpty && served === fresh,
          "append after a full-drain compaction diverged from a " +
            "fresh build of the batch")
      }
    }
  }

  test("ivfSq8TopK (in-memory) equals the persisted SQ8 serve " +
      "bit-for-bit — one shared scoring frame") {
    import graft.operators.Similarity
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 10)
    val cents = Similarity.kmeansTrain(vecs, 8, 2)
    val mem = Similarity.ivfSq8TopK(vecs, probes, cents, 3, nprobe = 2)
      .collect().toSet
    withTempDir("graft_sq8_mem") { dir =>
      Similarity.writeIvfSq8Index(vecs, cents, dir)
      val stored = Similarity.searchIvfSq8Index(spark, dir, probes, 3,
        nprobe = 2).collect().toSet
      assert(mem.nonEmpty && mem === stored,
        "in-memory SQ8 serve diverged from the persisted serve")
    }
  }

  test("SQ8 range serve at nprobe = all equals the full thresholded " +
      "MIPS scan; smaller nprobe returns a subset; deletes mask") {
    import graft.operators.Similarity
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 15)
    val cents = Similarity.kmeansTrain(vecs, 8, 2)
    withTempDir("graft_sq8_rng_spec") { dir =>
      Similarity.writeIvfSq8Index(vecs, cents, dir)
      // Cells partition the corpus: probing all of them makes the
      // range serve the complete thresholded scan — derive the
      // expectation from the shared top-k frame at unbounded k.
      val full = Similarity.searchIvfSq8IndexRange(spark, dir, probes,
        tau = 0.2, nprobe = 8).as[(Long, Long, Double)].collect().toSet
      val want = Similarity
        .ivfSq8TopK(vecs, probes, cents, Int.MaxValue, nprobe = 8)
        .select($"probe_id", $"neighbor_id", $"ip_r")
        .filter($"ip_r" >= 0.2)
        .as[(Long, Long, Double)].collect().toSet
      assert(full.nonEmpty && full === want,
        "nprobe=all SQ8 range diverged from the thresholded scan")
      val narrow = Similarity.searchIvfSq8IndexRange(spark, dir, probes,
        tau = 0.2, nprobe = 2).as[(Long, Long, Double)].collect().toSet
      assert(narrow.nonEmpty && narrow.subsetOf(full),
        "narrower nprobe must return a subset of the full ball")
      // Deletion contract: the range mode masks tombstones like the
      // top-k mode (one shared scored frame).
      Similarity.deleteFromIvfSq8Index(spark,
        vecs.filter($"vec_id" % 7 === 0).select($"vec_id"), dir)
      val masked = Similarity.searchIvfSq8IndexRange(spark, dir, probes,
        tau = 0.2, nprobe = 8).as[(Long, Long, Double)].collect().toSet
      assert(masked === full.filter(_._2 % 7 != 0),
        "SQ8 range serve must drop exactly the tombstoned neighbors")
    }
  }

  test("MIPS-to-cosine reduction: norm-augmented cosine ranking equals inner-product ranking") {
    // Neyshabur & Srebro 2015 (arXiv:1410.5518): append
    // sqrt(M^2 - |x|^2) to every item and 0 to every query; then
    // cos(q', x') = <q,x> / (|q|*M) is strictly monotone in <q,x>
    // (M is one corpus constant), so the cosine top-k over the
    // augmented vectors must return the SAME neighbors in the SAME
    // order as mipsTopK — this is what lets the IVF/LSH cosine
    // machinery serve MIPS at scale.
    import org.apache.spark.sql.functions._
    val S = graft.operators.Similarity
    val vecs = S.vectors(graft.Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val m2 = vecs.agg(max(S.dot($"v", $"v"))).as[Double].collect().head
    val aug = vecs.withColumn("v",
      concat($"v", array(sqrt(lit(m2) - S.dot($"v", $"v")))))
    val probes = vecs.filter($"vec_id" < 10)
    val probesAug = probes.withColumn("v", concat($"v", array(lit(0.0))))
    val viaCos = S.bruteForceTopK(aug, probesAug, 5)
      .select($"probe_id", $"rank".as("rnk"), $"neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    val viaMips = S.mipsTopK(vecs, probes, 5)
      .select($"probe_id", $"rnk", $"neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(viaCos.nonEmpty && viaCos === viaMips,
      s"reduction broken: cos path ${viaCos.size} rows vs mips ${viaMips.size}")
  }

  test("hard negatives exclude every near-duplicate: no survivor at cos >= dedup threshold") {
    // On the augmented set every injected twin is its base vector's
    // top neighbor at cos 1.0; the component exclusion must remove ALL
    // of those, so no surviving hard negative can sit at or above the
    // 0.8 dedup threshold, and at least one exclusion must have fired
    // (survivor count < the raw k-NN row count).
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("pipeline_hard_negatives")(spark, sfDir)
    val knnRows = graft.operators.Similarity.knnJoin(
      graft.operators.Similarity.augmentVectors(
        graft.Tables.embeddings(spark, sfDir)), 3, nprobe = 2).count()
    val survivors = rows.cache()
    try {
      assert(survivors.count() < knnRows,
        "the dedup exclusion never fired on the augmented set")
      val dupSurvivors = survivors.filter(col("cos_r") >= 0.8).count()
      assert(dupSurvivors == 0L,
        s"$dupSurvivors near-duplicate pairs leaked through the exclusion")
    } finally survivors.unpersist()
  }

  test("IVF delete: tombstones mask deleted ids; compaction serves identically and drains") {
    import graft.operators.Similarity
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 15)
    val cents = Similarity.kmeansTrain(vecs, 8, 2)
    withTempDir("graft_del_spec") { dir =>
      Similarity.writeIvfIndex(vecs, cents, dir)
      Similarity.deleteFromIvfIndex(spark,
        vecs.filter($"vec_id" % 7 === 0).select($"vec_id"), dir)
      val masked = Similarity.searchIvfIndex(spark, dir, probes, 3,
        nprobe = 2)
      val r1 = masked.collect().toSet
      assert(r1.nonEmpty, "masked serve returned nothing")
      assert(masked.filter($"neighbor_id" % 7 === 0).isEmpty,
        "a deleted id appeared as a neighbor")
      // Compaction rewrites only affected partitions; with deletions
      // spread across all cells and plenty of survivors, no cell
      // empties, so the tombstone table must come out DRAINED and the
      // serve bit-identical.
      Similarity.compactIvfIndex(spark, dir)
      val r2 = Similarity.searchIvfIndex(spark, dir, probes, 3,
        nprobe = 2).collect().toSet
      assert(r2 === r1, "compacted serve diverged from the masked serve")
      assert(liveTable(dir, "tombstones").isEmpty,
        "tombstones not drained though every affected cell kept rows")
      // And the rows are physically gone, not just masked.
      assert(liveTable(dir, "index")
          .filter($"vec_id" % 7 === 0).isEmpty,
        "compaction left deleted rows in the index files")
    }
  }

  test("SQ8 layout: stored codes equal quantizeInt8, append equals the " +
      "monolithic build, delete/compact serve identically, wrong layout fails loudly") {
    import graft.operators.Similarity
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 15)
    val cents = Similarity.kmeansTrain(vecs, 8, 2)
    withTempDir("graft_sq8_spec") { dir =>
      Similarity.writeIvfSq8Index(vecs, cents, dir)
      // The stored code arrays are EXACTLY the gated per-dim
      // quantization — the layout and sim_quantize_int8 cannot diverge.
      val stored = liveTable(dir, "index")
        .select($"vec_id", posexplode($"q").as(Seq("pos", "qv")))
        .select($"vec_id", ($"pos" + 1).as("dim"), $"qv")
        .as[(Long, Int, Int)].collect().toSet
      val perDim = Similarity.quantizeInt8(vecs)
        .as[(Long, Int, Int)].collect().toSet
      assert(stored === perDim,
        "stored SQ8 codes diverge from the quantizeInt8 contract")
      val want = Similarity.searchIvfSq8Index(spark, dir, probes, 3,
        nprobe = 2).collect().toSet
      assert(want.nonEmpty, "SQ8 serve returned nothing")
      // Append half onto a half-build under the same stored quantizer:
      // per-vector scale + stored-centroid assignment ⇒ bit-identical.
      withTempDir("graft_sq8_app_spec") { dir2 =>
        Similarity.writeIvfSq8Index(vecs.filter($"vec_id" % 2 === 0),
          cents, dir2)
        Similarity.appendIvfSq8Index(spark,
          vecs.filter($"vec_id" % 2 =!= 0), dir2)
        val got = Similarity.searchIvfSq8Index(spark, dir2, probes, 3,
          nprobe = 2).collect().toSet
        assert(got === want,
          "SQ8 build+append diverged from the monolithic serve")
      }
      // Delete masks at serve; compaction serves identically, drains
      // the tombstones, and physically removes the rows.
      Similarity.deleteFromIvfSq8Index(spark,
        vecs.filter($"vec_id" % 7 === 0).select($"vec_id"), dir)
      val masked = Similarity.searchIvfSq8Index(spark, dir, probes, 3,
        nprobe = 2)
      val r1 = masked.collect().toSet
      assert(r1.nonEmpty, "masked SQ8 serve returned nothing")
      assert(masked.filter($"neighbor_id" % 7 === 0).isEmpty,
        "a deleted id appeared as an SQ8 neighbor")
      Similarity.compactIvfSq8Index(spark, dir)
      val r2 = Similarity.searchIvfSq8Index(spark, dir, probes, 3,
        nprobe = 2).collect().toSet
      assert(r2 === r1, "compacted SQ8 serve diverged from the masked serve")
      assert(liveTable(dir, "tombstones").isEmpty,
        "SQ8 tombstones not drained though every affected cell kept rows")
      assert(liveTable(dir, "index")
          .filter($"vec_id" % 7 === 0).isEmpty,
        "SQ8 compaction left deleted rows in the index files")
      // Serving a non-SQ8 dir with the SQ8 searcher fails loudly (the
      // sidecar layout contract), never silently mis-scores.
      withTempDir("graft_sq8_wrong") { dir3 =>
        Similarity.writeIvfIndex(vecs, cents, dir3)
        val e = intercept[IllegalArgumentException] {
          Similarity.searchIvfSq8Index(spark, dir3, probes, 3, nprobe = 2)
        }
        assert(e.getMessage != null)
      }
    }
  }

  test("PQ serving honors tombstone deletes; PQ compaction serves identically and drains") {
    import graft.operators.Similarity
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 10)
    withTempDir("graft_pq_del") { dir =>
      Similarity.writeIvfPqIndex(vecs, dir)
      Similarity.deleteFromIvfIndex(spark,
        vecs.filter($"vec_id" % 7 === 0).select($"vec_id"), dir)
      val masked = Similarity.searchIvfPqIndex(spark, dir, vecs, probes, 5)
      val r1 = masked.collect().toSet
      assert(r1.nonEmpty, "masked PQ serve returned nothing")
      assert(masked.filter($"neighbor_id" % 7 === 0).isEmpty,
        "a deleted id appeared as a PQ neighbor")
      Similarity.compactIvfPqIndex(spark, dir)
      val r2 = Similarity.searchIvfPqIndex(spark, dir, vecs, probes, 5)
        .collect().toSet
      assert(r2 === r1, "compacted PQ serve diverged from the masked serve")
      assert(liveTable(dir, "tombstones").isEmpty,
        "PQ tombstones not drained though every affected cell kept rows")
      assert(liveTable(dir, "codes")
          .filter($"vec_id" % 7 === 0).isEmpty,
        "PQ compaction left deleted rows in the code files")
    }
  }

  test("appendIvfPqIndex: build-half + append-half serves exactly like " +
      "the monolithic build; mismatched m fails loudly; re-add round-trips") {
    import graft.operators.Similarity
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 10)
    withTempDir("graft_pq_mono") { dirMono =>
      withTempDir("graft_pq_app") { dirApp =>
        // The quantizer trains on the FULL corpus in both layouts, so
        // build(evens) + append(odds) must be bit-identical at serve
        // to the monolithic build — the FAISS fixed-quantizer add
        // contract for the compressed layout.
        Similarity.writeIvfPqIndex(vecs, dirMono)
        Similarity.writeIvfPqIndex(vecs.filter($"vec_id" % 2 === 0),
          dirApp, quantizer = Some(vecs))
        Similarity.appendIvfPqIndex(spark,
          vecs.filter($"vec_id" % 2 =!= 0), dirApp)
        val mono = Similarity.searchIvfPqIndex(spark, dirMono, vecs,
          probes, 5).collect().toSet
        val app = Similarity.searchIvfPqIndex(spark, dirApp, vecs,
          probes, 5).collect().toSet
        assert(mono.nonEmpty && app === mono,
          "append-built PQ index must serve exactly like the monolithic build")
        // Appending (or serving) at a different sub-vector split than
        // the build must fail loudly via the sidecar.
        val eApp = intercept[IllegalArgumentException] {
          Similarity.appendIvfPqIndex(spark, probes, dirApp, m = 2)
        }
        assert(eApp.getMessage.contains("m="))
        val eServe = intercept[IllegalArgumentException] {
          Similarity.searchIvfPqIndex(spark, dirApp, vecs, probes, 5,
            m = 2)
        }
        assert(eServe.getMessage.contains("m="))
        // Delete → compact (rows physically gone, tombstones drained)
        // → delete again (live tombstones for absent rows) → re-add:
        // the append must clear the stale tombstones so the serve
        // returns to the monolithic baseline.
        val victims = vecs.filter($"vec_id" % 9 === 0)
        Similarity.deleteFromIvfIndex(spark,
          victims.select($"vec_id"), dirApp)
        Similarity.compactIvfPqIndex(spark, dirApp)
        Similarity.deleteFromIvfIndex(spark,
          victims.select($"vec_id"), dirApp)
        Similarity.appendIvfPqIndex(spark, victims, dirApp)
        val readded = Similarity.searchIvfPqIndex(spark, dirApp, vecs,
          probes, 5).collect().toSet
        assert(readded === mono,
          "a PQ delete→compact→re-add must round-trip to the monolithic serve")
      }
    }
  }

  test("IVF delete: a fully-emptied cell is drained — dir dropped, tombstones cleared") {
    import graft.operators.Similarity
    val vecs = clusteredVecs().select($"vec_id", $"v")
    val cents = Similarity.kmeansTrain(vecs, 8, 2)
    withTempDir("graft_del_cell") { dir =>
      Similarity.writeIvfIndex(vecs, cents, dir)
      // Delete every vector of ONE cell while other cells survive:
      // compaction must drop that cell's files from the live entry
      // (zero rows cannot be rewritten in) and still drain every
      // tombstone — no retention corner; the next write past the log's
      // grace deletes the cell's dir.
      val idx = liveTable(dir, "index")
      val victim = idx.groupBy($"cell").count()
        .orderBy($"count".asc, $"cell".asc).first().get(0)
      val doomed = idx.filter($"cell" === victim).select($"vec_id")
      Similarity.deleteFromIvfIndex(spark, doomed, dir)
      val masked = Similarity.searchIvfIndex(spark, dir,
        vecs.filter($"vec_id" < 10), 3, nprobe = 2).collect().toSet
      Similarity.compactIvfIndex(spark, dir)
      assert(!liveFiles(dir, "index").exists(_.startsWith(s"index/cell=$victim/")),
        "the live entry still lists a file of the emptied cell")
      assert(liveTable(dir, "tombstones").isEmpty,
        "tombstones must fully drain once the emptied cell's dir is gone")
      val compacted = Similarity.searchIvfIndex(spark, dir,
        vecs.filter($"vec_id" < 10), 3, nprobe = 2).collect().toSet
      assert(compacted === masked,
        "compacted serve diverged from the masked serve")
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val aged = System.currentTimeMillis() -
        2 * graft.operators.IndexMeta.GraceMillis
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator().forEachRemaining(p =>
        fs.setTimes(new org.apache.hadoop.fs.Path(p.toUri), aged, -1))
      finally walk.close()
      Similarity.deleteFromIvfIndex(spark, doomed, dir)
      assert(!fs.exists(
          new org.apache.hadoop.fs.Path(s"$dir/index/cell=$victim")),
        "the emptied cell's partition dir must be deleted")
    }
  }

  test("IVF delete: draining EVERY cell keeps the table readable and the serve empty") {
    import graft.operators.Similarity
    val vecs = clusteredVecs().select($"vec_id", $"v")
    val cents = Similarity.kmeansTrain(vecs, 8, 2)
    withTempDir("graft_del_empty") { dir =>
      Similarity.writeIvfIndex(vecs, cents, dir)
      Similarity.deleteFromIvfIndex(spark, vecs.select($"vec_id"), dir)
      Similarity.compactIvfIndex(spark, dir)
      // Full drain: the table swaps to a zero-row schema-preserving
      // file (readable — no schema-inference failure at serve time),
      // and the tombstones drain with it.
      assert(liveTable(dir, "index").isEmpty,
        "fully-drained index must read back as zero rows")
      assert(liveTable(dir, "tombstones").isEmpty,
        "tombstones must drain on a full-table compaction")
      val served = Similarity.searchIvfIndex(spark, dir,
        vecs.filter($"vec_id" < 5), 3, nprobe = 2)
      assert(served.isEmpty,
        "a deleted row resurfaced after compacting emptied cells")
    }
  }

  test("appendIvfIndex: re-adding a deleted id clears its tombstone (delete → re-add → compact)") {
    import graft.operators.Similarity
    val vecs = clusteredVecs().select($"vec_id", $"v")
    val cents = Similarity.kmeansTrain(vecs, 8, 2)
    val probes = vecs.filter($"vec_id" < 10)
    withTempDir("graft_readd") { dir =>
      Similarity.writeIvfIndex(vecs, cents, dir)
      val baseline = Similarity.searchIvfIndex(spark, dir, probes, 3,
        nprobe = 2).collect().toSet
      val victims = vecs.filter($"vec_id" % 7 === 0)
      Similarity.deleteFromIvfIndex(spark,
        victims.select($"vec_id"), dir)
      Similarity.compactIvfIndex(spark, dir)
      // Re-add the deleted vectors: the append must reconcile the
      // (drained-or-not) tombstones so the serve sees them again…
      Similarity.deleteFromIvfIndex(spark,
        victims.select($"vec_id"), dir) // re-delete post-compact: live tombstones
      Similarity.appendIvfIndex(spark, victims, dir)
      val readded = Similarity.searchIvfIndex(spark, dir, probes, 3,
        nprobe = 2).collect().toSet
      assert(readded === baseline,
        "a re-added id stayed masked by its stale tombstone")
      // …and a later compaction must NOT drop the re-added rows.
      Similarity.compactIvfIndex(spark, dir)
      val afterGc = Similarity.searchIvfIndex(spark, dir, probes, 3,
        nprobe = 2).collect().toSet
      assert(afterGc === baseline,
        "compaction after a delete-then-re-add lost the re-added rows")
    }
  }

  test("IVF range serve at nprobe = k covers every cell and equals " +
      "the brute-force range exactly; smaller nprobe is a subset") {
    import graft.operators.Similarity
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 15)
    val cents = Similarity.kmeansTrain(vecs, 8, 2)
    withTempDir("graft_rng_idx") { dir =>
      Similarity.writeIvfIndex(vecs, cents, dir)
      def served(np: Int) =
        Similarity.searchIvfIndexRange(spark, dir, probes, tau = 0.2,
            nprobe = np)
          .as[(Long, Long, Double)].collect().toSet
      val brute = Similarity.rangeSearch(vecs, probes, 0.2)
        .as[(Long, Long, Double)].collect().toSet
      // All 8 cells probed ⇒ the full ball, bit-identical scores.
      assert(served(8) === brute)
      // Fewer cells ⇒ complete within the probed cells, never beyond.
      val np2 = served(2)
      assert(np2.subsetOf(brute))
      assert(np2.nonEmpty)
    }
  }

  test("filtered ANN serve: predicate pushed to the index scan, equal to a pre-filtered index") {
    import graft.operators.Similarity
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
    val train = vecs.select($"vec_id", $"v")
    val probes = train.filter($"vec_id" < 12)
    val cents = Similarity.kmeansTrain(train, 8, 2)
    withTempDir("graft_filt_a") { dirA =>
      withTempDir("graft_filt_b") { dirB =>
        Similarity.writeIvfIndex(vecs, cents, dirA)
        Similarity.writeIvfIndex(vecs.filter($"label" % 2 === 0),
          cents, dirB)
        val filtered = Similarity.searchIvfIndexWhere(spark, dirA,
          probes, 3, nprobe = 2, $"label" % 2 === 0)
        // Per-vector assignment is independent of other vectors, so
        // filtering at serve and indexing only matching vectors are
        // the SAME result, bit-for-bit.
        val want = Similarity.searchIvfIndex(spark, dirB, probes, 3,
          nprobe = 2)
          .select($"probe_id", $"neighbor_id", $"cos_r", $"rnk")
          .collect().toSet
        val got = filtered
          .select($"probe_id", $"neighbor_id", $"cos_r", $"rnk")
          .collect().toSet
        assert(got.nonEmpty && got === want,
          "serve-time filter diverged from the pre-filtered index")
        // The metadata filter must reach the parquet scan as a pushed
        // data filter, alongside the cell DPP.
        val plan = filtered.queryExecution.executedPlan.toString
        assert(plan.toLowerCase.contains("dynamicpruning"),
          "filtered serve lost its dynamic partition pruning")
        assert("PushedFilters: \\[[^\\]]*label".r.findFirstIn(plan)
            .isDefined,
          "label predicate not pushed to the index scan")
      }
    }
  }

  test("appendLshIndex: build-half + append-half serves exactly like the " +
      "monolithic base; mismatched banding fails loudly; delete→re-add round-trips") {
    import graft.operators.Dedup
    val sigs = Dedup.minhashSignaturesV2(corpus)
    val baseSigs = sigs.filter($"doc_id" < 100000)
    val shard = sigs.filter($"doc_id" >= 100000)
    withTempDir("graft_lsh_app_a") { dirApp =>
      withTempDir("graft_lsh_app_b") { dirMono =>
        Dedup.writeLshIndex(baseSigs, dirMono, sep = "|")
        val want = Dedup.lshIncrementalFromIndex(spark, dirMono, shard,
          sep = "|").as[(Long, Long)].collect().toSet
        Dedup.writeLshIndex(baseSigs.filter($"doc_id" % 2 === 0),
          dirApp, sep = "|")
        Dedup.appendLshIndex(spark,
          baseSigs.filter($"doc_id" % 2 =!= 0), dirApp, sep = "|")
        val got = Dedup.lshIncrementalFromIndex(spark, dirApp, shard,
          sep = "|").as[(Long, Long)].collect().toSet
        assert(want.nonEmpty && got === want,
          "append-grown LSH base must serve exactly like the monolithic build")
        // Appending under different banding parameters must fail
        // loudly via the sidecar (buckets would silently never
        // collide otherwise).
        val e = intercept[IllegalArgumentException] {
          Dedup.appendLshIndex(spark, baseSigs, dirApp, sep = "#")
        }
        assert(e.getMessage.contains("sep"))
        // deleteFromLshIndex removes rows PHYSICALLY, so a
        // delete→re-add needs no tombstone reconciliation: one live
        // copy per doc, serve returns to the monolithic baseline.
        val victims = baseSigs.filter($"doc_id" % 7 === 0)
        Dedup.deleteFromLshIndex(spark,
          victims.select($"doc_id"), dirApp)
        Dedup.appendLshIndex(spark, victims, dirApp, sep = "|")
        val readded = Dedup.lshIncrementalFromIndex(spark, dirApp, shard,
          sep = "|").as[(Long, Long)].collect().toSet
        assert(readded === want,
          "an LSH delete→re-add must round-trip to the monolithic serve")
      }
    }
  }

  test("LSH and inverted-index deletes equal an index rebuilt without the docs") {
    import graft.operators.{Dedup, TextAnalysis}
    val sigs = Dedup.minhashSignaturesV2(corpus)
    val baseSigs = sigs.filter($"doc_id" < 100000)
    val shard = sigs.filter($"doc_id" >= 100000)
    withTempDir("graft_lsh_del_a") { dirA =>
      withTempDir("graft_lsh_del_b") { dirB =>
        // A: build on everything, then delete; B: build without the
        // deleted docs. Index rows are per-doc, so the candidate pairs
        // must be bit-identical.
        Dedup.writeLshIndex(baseSigs, dirA, sep = "|")
        Dedup.deleteFromLshIndex(spark,
          docs.filter($"doc_id" % 5 === 0).select($"doc_id"), dirA)
        Dedup.writeLshIndex(baseSigs.filter($"doc_id" % 5 =!= 0), dirB,
          sep = "|")
        val got = Dedup.lshIncrementalFromIndex(spark, dirA, shard,
          sep = "|").as[(Long, Long)].collect().toSet
        val want = Dedup.lshIncrementalFromIndex(spark, dirB, shard,
          sep = "|").as[(Long, Long)].collect().toSet
        assert(got.nonEmpty && got === want,
          "LSH delete diverged from the rebuilt index")
        assert(!got.exists(_._2 % 5 == 0),
          "a deleted base doc still produced a pair")
      }
    }
    withTempDir("graft_inv_del_a") { dirA =>
      withTempDir("graft_inv_del_b") { dirB =>
        // Same rebuild-equivalence for BM25 serving: idf and avgdl must
        // re-derive from the tombstone-adjusted stats, not just the
        // masked postings.
        val terms = Seq("hash", "join", "spark")
        TextAnalysis.writeInvertedIndex(docs, dirA)
        TextAnalysis.deleteFromInvertedIndex(spark,
          docs.filter($"doc_id" % 5 === 0).select($"doc_id"), dirA)
        TextAnalysis.writeInvertedIndex(
          docs.filter($"doc_id" % 5 =!= 0), dirB)
        val got = TextAnalysis.searchInvertedIndex(spark, dirA, terms)
          .as[(Long, Long, Double)].collect().toSet
        val want = TextAnalysis.searchInvertedIndex(spark, dirB, terms)
          .as[(Long, Long, Double)].collect().toSet
        assert(got.nonEmpty && got === want,
          "BM25 delete diverged from the rebuilt index (stats adjustment?)")
        // Compaction drains the tombstones and rewrites postings +
        // stats — the serve must stay bit-identical and the deleted
        // docs must be physically gone.
        TextAnalysis.compactInvertedIndex(spark, dirA)
        val compacted = TextAnalysis
          .searchInvertedIndex(spark, dirA, terms)
          .as[(Long, Long, Double)].collect().toSet
        assert(compacted === want,
          "compacted BM25 serve diverged from the rebuilt index")
        assert(liveFiles(dirA, "tombstones").isEmpty,
          "inverted-index compaction left the tombstone table")
        assert(liveTable(dirA, "postings")
            .filter($"doc_id" % 5 === 0).isEmpty,
          "compaction left deleted docs' postings")
      }
    }
  }

  test("rebuild supersedes deletions; double-delete counts once in the stats adjustment") {
    import graft.operators.{Similarity, TextAnalysis}
    val terms = Seq("hash", "join", "spark")
    withTempDir("graft_rebuild_inv") { dir =>
      TextAnalysis.writeInvertedIndex(docs, dir)
      val full = TextAnalysis.searchInvertedIndex(spark, dir, terms)
        .as[(Long, Long, Double)].collect().toSet
      val del = docs.filter($"doc_id" % 5 === 0).select($"doc_id")
      // Delete the SAME docs twice (two append batches): the stats
      // adjustment must count each doc once, so the served scores
      // still equal a single delete.
      TextAnalysis.deleteFromInvertedIndex(spark, del, dir)
      val once = TextAnalysis.searchInvertedIndex(spark, dir, terms)
        .as[(Long, Long, Double)].collect().toSet
      TextAnalysis.deleteFromInvertedIndex(spark, del, dir)
      val twice = TextAnalysis.searchInvertedIndex(spark, dir, terms)
        .as[(Long, Long, Double)].collect().toSet
      assert(twice === once,
        "double-delete shifted the served scores (stats double-count)")
      // A rebuild over the same dir supersedes the deletions: stale
      // tombstones must not mask (or double-subtract) docs present in
      // the new index.
      TextAnalysis.writeInvertedIndex(docs, dir)
      val rebuilt = TextAnalysis.searchInvertedIndex(spark, dir, terms)
        .as[(Long, Long, Double)].collect().toSet
      assert(rebuilt === full,
        "stale tombstones survived the inverted-index rebuild")
    }
    withTempDir("graft_rebuild_ivf") { dir =>
      val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
        .select($"vec_id", $"v")
      val probes = vecs.filter($"vec_id" < 10)
      val cents = Similarity.kmeansTrain(vecs, 8, 2)
      Similarity.writeIvfIndex(vecs, cents, dir)
      Similarity.deleteFromIvfIndex(spark,
        vecs.filter($"vec_id" % 7 === 0).select($"vec_id"), dir)
      Similarity.writeIvfIndex(vecs, cents, dir)
      val served = Similarity.searchIvfIndex(spark, dir, probes, 3,
        nprobe = 2)
      assert(!served.filter($"neighbor_id" % 7 === 0).isEmpty,
        "stale tombstones survived the IVF rebuild — previously " +
          "deleted ids must serve again")
    }
  }

  test("chunk store: dedup-at-rest exactness and loud parameter mismatch") {
    import graft.operators.Multimodal
    val base = docs.select($"doc_id", $"text")
    val extras = corpus.filter($"doc_id" >= 100000)
    withTempDir("graft_store_spec") { dir =>
      Multimodal.writeChunkStore(base, dir)
      Multimodal.appendChunkStore(spark, extras, dir)
      // The store must hold EXACTLY the corpus's distinct chunk
      // hashes — one payload per distinct chunk, nothing dropped,
      // nothing double-stored (the injected duplicates' chunks all
      // dedup against base).
      val stored = liveTable(dir, "store").count()
      val distinctHashes = Multimodal.cdcChunks(corpus)
        .select($"chunk_hash").distinct().count()
      assert(stored === distinctHashes,
        s"store holds $stored payloads, corpus has $distinctHashes " +
          "distinct chunks")
      val totalChunks = Multimodal.cdcChunks(corpus).count()
      assert(stored < totalChunks,
        "no dedup happened though the corpus injects exact duplicates")
      // Appending with different chunking parameters must fail loudly
      // (meta sidecar): those chunks could never dedup against the
      // stored ones.
      val e = intercept[IllegalArgumentException] {
        Multimodal.appendChunkStore(spark, extras, dir, window = 4)
      }
      assert(e.getMessage.contains("built with"), e.getMessage)
    }
  }

  test("chunk-store GC sweeps all orphans and only orphans") {
    import graft.operators.Multimodal
    val base = docs.select($"doc_id", $"text")
    val extras = corpus.filter($"doc_id" >= 100000)
    withTempDir("graft_gc_spec") { dir =>
      Multimodal.writeChunkStore(base, dir)
      Multimodal.appendChunkStore(spark, extras, dir)
      Multimodal.deleteDocsFromChunkStore(spark,
        base.filter($"doc_id" % 3 === 0).select($"doc_id"), dir)
      // The post-GC store must hold EXACTLY the surviving corpus's
      // distinct chunk hashes: every orphan gone (space reclaimed),
      // every still-referenced chunk kept (survivors reassemble — the
      // oracle gates that; this pins the reclaim side).
      val survivors = corpus.filter(
        !($"doc_id" < 100000 && $"doc_id" % 3 === 0))
      val want = Multimodal.cdcChunks(survivors)
        .select($"chunk_hash").distinct().count()
      val got = liveTable(dir, "store").count()
      assert(got === want,
        s"post-GC store holds $got chunks, surviving corpus references $want")
      // The deletion must have actually reclaimed something: deleted
      // docs with no surviving duplicate carry unique chunks.
      val before = Multimodal.cdcChunks(corpus)
        .select($"chunk_hash").distinct().count()
      assert(got < before, "GC reclaimed nothing on a corpus with " +
        "uniquely-referenced deleted docs")
      // And the manifest no longer references any deleted doc.
      assert(liveTable(dir, "manifest")
          .filter($"doc_id" < 100000 && $"doc_id" % 3 === 0).isEmpty,
        "deleted docs survived in the manifest")
    }
  }

  test("KMV set-ops are exact when both sides fit; mismatched serve k fails loudly") {
    import graft.operators.Sketches
    // Two overlapping sets small enough for the k=64 window: every
    // figure the estimator emits must be EXACT (n_kept < k branch).
    val rows = ((1 to 30).map(i => ("a", s"key$i")) ++
      (21 to 45).map(i => ("b", s"key$i"))).toDF("src", "key")
    withTempDir("graft_syn_spec") { dir =>
      Sketches.writeKmvSynopses(rows, $"key", $"src", dir, k = 64)
      val got = Sketches.kmvSetOps(spark, dir, k = 64)
        .select($"ga", $"gb", $"est_a", $"est_b", $"est_union",
          $"est_inter", $"est_only_a", $"jac_micro")
        .as[(String, String, Long, Long, Long, Long, Long, Long)]
        .collect()
      assert(got.length == 1)
      val (ga, gb, ea, eb, eu, ei, eoa, jac) = got.head
      assert((ga, gb) == ("a", "b"))
      assert((ea, eb, eu, ei, eoa) == ((30L, 25L, 45L, 10L, 20L)),
        s"exact-branch figures wrong: $ea/$eb/$eu/$ei/$eoa")
      assert(jac == 10L * 1000000L / 45L, s"jaccard micro $jac")
      val e = intercept[IllegalArgumentException] {
        Sketches.kmvSetOps(spark, dir, k = 32)
      }
      assert(e.getMessage.contains("built with"), e.getMessage)
    }
  }
}
