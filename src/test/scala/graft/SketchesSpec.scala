package graft

import org.apache.spark.sql.functions._
import graft.operators.{Graph, Profiling, Sketches}

/** Contracts for the sketch / maintenance / link-prediction operators
  * added alongside the profiling family: KMV's estimate quality and
  * exact-small-group fallback, count-min's one-sided error and bounded
  * sketch size, the compaction planner's partition-exactness and
  * bin-boundary invariants, and the common-neighbor hub cap.
  */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("KMV: exact below k, estimate within 30% at k=32 on 1000 keys") {
    val small = (1 to 10).map(i => (s"v$i", "small")).toDF("key", "grp")
    val exact = Sketches.kmvDistinct(small, col("key"), col("grp"), k = 32)
      .collect().head
    assert(exact.getAs[Long]("n_kept") == 10L &&
      exact.getAs[Long]("est_distinct") == 10L,
      "group with < k distinct keys must report exactly")

    // 1000 distinct keys, each duplicated 3x (distinct-agg must dedup).
    val big = (1 to 1000).flatMap(i => Seq.fill(3)((s"key$i", "big")))
      .toDF("key", "grp")
    val est = Sketches.kmvDistinct(big, col("key"), col("grp"), k = 32)
      .collect().head.getAs[Long]("est_distinct")
    // KMV stderr is ~1/sqrt(k-2) ≈ 18% at k=32; md5 is fixed so this
    // is a deterministic pin of the actual estimate, not a flaky bound.
    assert(est > 700 && est < 1300,
      s"KMV estimate $est implausible for true cardinality 1000")
  }

  test("CMS: one-sided error (est >= true) and d*w sketch size") {
    val df = (1 to 2000).map(i => s"k${i % 50}").toDF("key")
    val sketch = Sketches.cmsBuild(df, col("key"), depth = 3, width = 64)
    assert(sketch.count() <= 3L * 64,
      "sketch must be at most d*w cells regardless of input size")
    val hh = Sketches.cmsHeavyHitters(df, col("key"), depth = 3,
      width = 64, minCount = 1L).collect()
    assert(hh.length == 50)
    hh.foreach { r =>
      assert(r.getAs[Long]("est_c") >= r.getAs[Long]("true_c"),
        s"count-min must never underestimate: $r")
    }
    // 50 keys in 64 buckets: at least one key must be collision-free
    // in some row and estimate exactly.
    assert(hh.exists(r =>
      r.getAs[Long]("est_c") == r.getAs[Long]("true_c")))
  }

  test("cmsSubtract: retraction equals a fresh build over the survivors; " +
      "non-subset subtraction fails loudly") {
    // Count-min is the family's only turnstile sketch: cells are plain
    // sums, so build(A) - build(B) must be BIT-identical to
    // build(A \ B) when B ⊆ A — including cells dropping out entirely
    // when they reach zero.
    val all = (1 to 1000).map(i => (i.toLong, s"k${i % 50}"))
      .toDF("id", "key")
    val gone = all.filter($"id" % 5 === 0)
    val kept = all.filter($"id" % 5 =!= 0)
    val sub = Sketches.cmsSubtract(
      Sketches.cmsBuild(all, col("key"), 3, 64),
      Sketches.cmsBuild(gone, col("key"), 3, 64))
    val fresh = Sketches.cmsBuild(kept, col("key"), 3, 64)
    assert(sub.exceptAll(fresh).isEmpty && fresh.exceptAll(sub).isEmpty,
      "subtracted sketch must equal a fresh build over the survivors")
    // Subtracting counts that were never added must throw, not clamp —
    // a clamp would silently break the est >= true contract.
    val e = intercept[Exception] {
      Sketches.cmsSubtract(
        Sketches.cmsBuild(kept, col("key"), 3, 64),
        Sketches.cmsBuild(all, col("key"), 3, 64)).collect()
    }
    val msg = e.getMessage +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("negative"), s"unexpected failure: $msg")
    // The sharper non-subset case: retracted keys whose cells the
    // build NEVER touched (b-only cells). A left join from the build
    // side would silently drop those rows and the retraction would
    // pass — the full-outer join must surface them as negative cells
    // and raise.
    val disjoint = (1 to 100).map(i => (i.toLong, s"zz_$i"))
      .toDF("id", "key")
    val e2 = intercept[Exception] {
      Sketches.cmsSubtract(
        Sketches.cmsBuild(kept, col("key"), 3, 64),
        Sketches.cmsBuild(disjoint, col("key"), 3, 64)).collect()
    }
    val msg2 = e2.getMessage +
      Option(e2.getCause).map(_.getMessage).getOrElse("")
    assert(msg2.contains("negative"),
      s"b-only cells must raise, not vanish: $msg2")
  }

  test("sharded KMV and CMS are bit-identical to their monolithic twins") {
    val docs = Tables.documents(spark, sfDir)
    val mono = operators.Sketches
      .kmvDistinct(docs, col("text"), col("source"), k = 16)
    val sharded = operators.Sketches
      .kmvDistinctSharded(docs, col("text"), col("source"),
        col("doc_id") % 4, k = 16)
    assert(mono.exceptAll(sharded).isEmpty &&
      sharded.exceptAll(mono).isEmpty,
      "KMV shard-merge must reproduce the monolithic synopsis exactly")

    val ev = Tables.events(spark, sfDir)
    val cmsM = operators.Sketches
      .cmsHeavyHitters(ev, col("user_id"), 3, 64, minCount = 1L)
    val cmsS = operators.Sketches
      .cmsHeavyHittersSharded(ev, col("user_id"), col("event_id") % 4,
        depth = 3, width = 64, minCount = 1L)
    assert(cmsM.exceptAll(cmsS).isEmpty && cmsS.exceptAll(cmsM).isEmpty,
      "CMS linearity: cell-wise shard merge must equal one-pass build")
  }

  test("sharded builds group by the shard column: negative / out-of-range " +
      "shard values are never dropped") {
    // Signed ids: Spark's % returns NEGATIVE remainders for them, so a
    // filter-per-index shard build (sh === 0..3) would silently drop
    // every negative-id row from the sketch while true_c still counts
    // it — breaking CMS's one-sided est >= true guarantee and HLL's
    // merge identity. Grouping on the shard column is immune.
    val df = (-500 to 500).map(i => (i.toLong, s"k${math.abs(i) % 40}", "g"))
      .toDF("id", "key", "grp")

    val hllMono = Sketches.hllDistinct(df, col("key"), col("grp")).collect()
    val hllShard = Sketches.hllDistinctSharded(df, col("key"), col("grp"),
      col("id") % 4).collect()
    assert(hllMono.toSeq == hllShard.toSeq,
      "HLL shard-merge must equal the monolithic build even with " +
        s"negative shard remainders: ${hllMono.toSeq} vs ${hllShard.toSeq}")

    val cmsMono = Sketches.cmsHeavyHitters(df, col("key"), 3, 64,
      minCount = 1L)
    val cmsShard = Sketches.cmsHeavyHittersSharded(df, col("key"),
      col("id") % 4, depth = 3, width = 64, minCount = 1L)
    assert(cmsMono.exceptAll(cmsShard).isEmpty &&
      cmsShard.exceptAll(cmsMono).isEmpty,
      "CMS shard-merge must equal the monolithic build even with " +
        "negative shard remainders")
    cmsShard.collect().foreach { r =>
      assert(r.getAs[Long]("est_c") >= r.getAs[Long]("true_c"),
        s"one-sided guarantee must survive sharding: $r")
    }
  }

  test("cmsScore: a candidate key absent from the build estimates 0, " +
      "not the min of its populated cells") {
    val built = Sketches.cmsBuild((1 to 30).map(i => s"k$i").toDF("key"),
      col("key"), depth = 3, width = 64)
    // est > 0 is legal for count-min if every cell of an unseen key
    // collides, but if ANY of its d cells is empty the lookup must
    // return 0 — left-join semantics. An inner join would instead
    // inflate the key to the min over its POPULATED cells, or drop it
    // entirely when all d miss. Derive cell coordinates with the same
    // md5-prefix hash the expression uses, so the probe key is chosen
    // deterministically, not hoped for: 30 keys × 3 rows in 192 cells
    // leaves most cells empty.
    val cells = built.collect().map(r =>
      (r.getAs[Int]("j"), r.getAs[Long]("bucket"))).toSet
    def cellsOf(k: String): Seq[(Int, Long)] = (1 to 3).map { j =>
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$j:$k".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      (j, java.lang.Long.parseLong(
        digest.take(6).map(b => f"$b%02x").mkString, 16) % 64)
    }
    val probeWithEmptyCell = (0 to 99).map(i => s"probe-$i")
      .find(k => cellsOf(k).exists(c => !cells.contains(c)))
    assert(probeWithEmptyCell.isDefined,
      "fixture degenerate: no probe key with an empty cell in 100 tries")
    val cand = Seq(("k1", 1L), (probeWithEmptyCell.get, 0L))
      .toDF("k", "true_c")
    val scored = Sketches.cmsScore(built, cand, 3, 64)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("est_c")).toMap
    assert(scored("k1") >= 1L, "seen key must estimate >= its true count")
    assert(scored(probeWithEmptyCell.get) == 0L,
      "a candidate with an empty cell must score exactly 0, " +
        s"got ${scored(probeWithEmptyCell.get)}")
  }

  test("HLL persist: register table round-trips through parquet and " +
      "estimates identically") {
    val df = (1 to 800).map(i => (s"key$i", s"g${i % 3}"))
      .toDF("key", "grp")
    val dir = tempDir("graft_hll_rt")
    val served = Sketches.hllPersistRoundTrip(df, col("key"), col("grp"),
      dir)
    val mono = Sketches.hllDistinct(df, col("key"), col("grp"))
    assert(mono.exceptAll(served).isEmpty && served.exceptAll(mono).isEmpty,
      "persisted-register estimate must equal the in-memory build")
  }

  test("kmvJaccard: exact when the union fits in the synopsis") {
    val a = (1 to 30).map(i => s"k$i").toDF("key")
    val b = (21 to 50).map(i => s"k$i").toDF("key")
    // |A|=30, |B|=30, inter=10, union=50 < k=64 -> everything exact.
    val r = operators.Sketches
      .kmvJaccard(a, col("key"), b, col("key"), k = 64).collect().head
    assert(r.getAs[Long]("n_kept") == 50L)
    assert(r.getAs[Long]("n_both") == 10L)
    assert(r.getAs[Long]("jac_micro") == 10L * 1000000 / 50)
    assert(r.getAs[Long]("est_union") == 50L)
    assert(r.getAs[Long]("est_inter") == 10L)
  }

  test("HLL: register estimate within 35% on 1000 distinct keys") {
    val df = (1 to 1000).flatMap(i => Seq.fill(2)((s"key$i", "g")))
      .toDF("key", "grp")
    val r = operators.Sketches
      .hllDistinct(df, col("key"), col("grp")).collect().head
    val est = r.getAs[Double]("est_hll")
    // m=64 -> ~13% stderr; md5 is fixed, so this pins a deterministic
    // value, not a flaky draw.
    assert(est > 650 && est < 1350, s"HLL estimate $est for true 1000")
    // And the small-range branch: 5 distinct keys -> linear counting
    // territory, estimate must land near 5.
    val small = (1 to 5).map(i => (s"v$i", "g")).toDF("key", "grp")
    val es = operators.Sketches
      .hllDistinct(small, col("key"), col("grp")).collect()
      .head.getAs[Double]("est_hll")
    assert(es > 3.0 && es < 8.0, s"linear-counting estimate $es for 5")
  }

  test("quantile sketch: exact when the group fits, within rank " +
      "tolerance at k=64, sharded merge bit-identical") {
    // Exact-fit contract: 10 rows < k=64 -> the sample IS the group,
    // so estimates are the true order statistics at ceil(q*10).
    val small = (1 to 10).map(i => (i.toLong, i.toLong * 100, "g"))
      .toDF("key", "v", "grp")
    val exact = Sketches.quantileSketch(small, col("key"), col("v"),
      col("grp"), k = 64).collect()
      .map(r => r.getAs[Int]("pct") -> r.getAs[Long]("est_v")).toMap
    // ceil(25*10/100)=3 -> 300; 50 -> 5 -> 500; 75 -> 8 -> 800;
    // 95 -> ceil(9.5)=10 -> 1000.
    assert(exact == Map(25 -> 300L, 50 -> 500L, 75 -> 800L, 95 -> 1000L),
      s"exact-fit quantiles wrong: $exact")

    // Sampling accuracy: 2000 values 1..2000, k=64 -> rank stderr
    // ~n/sqrt(k) = 250; md5 is fixed so this pins a deterministic
    // draw, not a flaky bound.
    val big = (1 to 2000).map(i => (i.toLong, i.toLong, "g"))
      .toDF("key", "v", "grp")
    val est = Sketches.quantileSketch(big, col("key"), col("v"),
      col("grp"), k = 64).collect()
      .map(r => r.getAs[Int]("pct") -> r.getAs[Long]("est_v")).toMap
    Seq(25, 50, 75, 95).foreach { p =>
      val truth = p * 2000L / 100
      assert(math.abs(est(p) - truth) < 500,
        s"p$p estimate ${est(p)} implausible for true $truth")
    }

    // Mergeability: per-shard bottom-k re-ranked equals the monolithic
    // sample — including NEGATIVE shard remainders (the family's
    // group-on-shard discipline).
    val signed = (-1000 to 999).map(i =>
      (i.toLong, math.abs(i).toLong, s"g${math.abs(i) % 2}"))
      .toDF("key", "v", "grp")
    val mono = Sketches.quantileSketch(signed, col("key"), col("v"),
      col("grp"), k = 32)
    val sharded = Sketches.quantileSketchSharded(signed, col("key"),
      col("v"), col("grp"), col("key") % 4, k = 32)
    assert(mono.exceptAll(sharded).isEmpty &&
      sharded.exceptAll(mono).isEmpty,
      "quantile shard-merge must reproduce the monolithic sample exactly")
  }

  test("quantile sketch property: rank error bounded across random " +
      "distributions at the shipped k; shard merge preserves the bound") {
    // The distribution-level property the other three family members
    // carry (KMV estimate quality, CMS one-sided error, HLL merge
    // identity): for a k-row uniform sample the estimated quantile's
    // TRUE rank fraction deviates from the target by ~sqrt(q(1-q)/k)
    // (stderr <= 0.0625 at k=64); 4 sigma = 0.25 is the hard bound,
    // and the fixed h48 hash makes every draw deterministic — these
    // are pins, not flaky statistical tests. Rank error is measured in
    // RANK space (fraction of values <= estimate), which is the bound
    // the sketch actually promises — value-space error is unbounded on
    // heavy tails.
    val k = 64
    val n = 4000
    val tol = 0.25
    val rnd = new scala.util.Random(43)
    val dists: Seq[(String, IndexedSeq[Long])] = Seq(
      "uniform" -> IndexedSeq.fill(n)(rnd.nextInt(1000000).toLong),
      "skewed" -> IndexedSeq.fill(n) {
        val x = rnd.nextInt(1000).toLong; x * x
      },
      "heavy-dup" -> IndexedSeq.fill(n)(rnd.nextInt(10).toLong),
      "heavy-tail" -> IndexedSeq.fill(n)(
        math.exp(rnd.nextGaussian() * 2 + 5).toLong))
    dists.foreach { case (name, vals) =>
      val df = vals.zipWithIndex
        .map { case (v, i) => (i.toLong, v, "g") }
        .toDF("key", "v", "grp")
      val est = Sketches.quantileSketch(df, col("key"), col("v"),
        col("grp"), k = k).collect()
        .map(r => r.getAs[Int]("pct") -> r.getAs[Long]("est_v")).toMap
      val sorted = vals.sorted
      Seq(25, 50, 75, 95).foreach { p =>
        val v = est(p)
        // With duplicates the estimate's rank is an interval
        // [#(x < v), #(x <= v)]; the target must fall within it
        // plus the sampling tolerance on either side.
        val lo = sorted.count(_ < v).toDouble / n
        val hi = sorted.count(_ <= v).toDouble / n
        val q = p / 100.0
        assert(q >= lo - tol && q <= hi + tol,
          f"$name p$p: est $v has rank interval [$lo%.3f, $hi%.3f], " +
            f"target $q%.2f outside ±$tol%.2f")
      }
      // Merge preserves the bound by the strongest possible argument:
      // the sharded sketch (grouped shards, negative remainders
      // included) is bit-identical to the monolithic one on every
      // distribution, so its estimates carry the same rank bound.
      val sharded = Sketches.quantileSketchSharded(df, col("key"),
        col("v"), col("grp"), (col("key") - lit(n / 2)) % 7, k = k)
      val mono = Sketches.quantileSketch(df, col("key"), col("v"),
        col("grp"), k = k)
      assert(mono.exceptAll(sharded).isEmpty &&
        sharded.exceptAll(mono).isEmpty,
        s"$name: shard merge must be bit-identical to the monolithic " +
          "sketch")
    }
  }

  test("compaction plan: partitions files exactly, bins respect target") {
    val target = 100L
    val files = Seq(
      // part "a": steady 40-byte files -> bins of ceil(100/40)=3 files
      ("a", 1L, 40L), ("a", 2L, 40L), ("a", 3L, 40L), ("a", 4L, 40L),
      ("a", 5L, 40L), ("a", 6L, 40L), ("a", 7L, 40L),
      // part "b": an oversized file spans multiple bin widths
      ("b", 1L, 10L), ("b", 2L, 350L), ("b", 3L, 10L), ("b", 4L, 10L))
      .toDF("part_key", "file_id", "bytes")
    val plan = Profiling.compactionPlan(files, target)
      .orderBy("part_key", "bin").collect()

    // Exactness: every file lands in exactly one bin.
    assert(plan.map(_.getAs[Long]("n_files")).sum == 11)
    assert(plan.map(_.getAs[Long]("bin_bytes")).sum == 7 * 40 + 380)

    // Bins within a partition cover disjoint, ordered file-id ranges.
    plan.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("bin"))
      sorted.sliding(2).foreach {
        case Array(x, y) =>
          assert(x.getAs[Long]("last_file") < y.getAs[Long]("first_file"))
        case _ =>
      }
      // Every non-final bin closed because the running total crossed
      // the NEXT present bin's boundary (bins can be skipped only by a
      // file larger than the bin width).
      var cum = 0L
      sorted.sliding(2).foreach {
        case Array(x, y) =>
          cum += x.getAs[Long]("bin_bytes")
          assert(cum >= y.getAs[Long]("bin") * target,
            s"bin ${x.getAs[Long]("bin")} closed early: cum=$cum")
        case _ =>
      }
    }
    // The oversized file closes its bin across several bin widths:
    // part b packs as bin 0 = files {1, 2} (360 B, crossing boundaries
    // 100..300) and the next file re-opens at bin 360//100 = 3 — bin
    // ids are byte offsets div target, monotone but not dense.
    val bBins = plan.filter(_.getString(0) == "b")
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_files"),
        r.getAs[Long]("bin_bytes"))).toSeq
    assert(bBins == Seq((0L, 2L, 360L), (3L, 2L, 20L)), bBins.toString)
  }

  test("commonNeighbors: hub cap bounds pair work, degrees stay global") {
    // 4 left nodes all share hub part 99 (degree 4 > cap 3); nodes 1,2
    // additionally share parts 1 and 2 (degree 2 each, under cap).
    val edges = Seq(
      (1L, 99L), (2L, 99L), (3L, 99L), (4L, 99L),
      (1L, 1L), (2L, 1L), (1L, 2L), (2L, 2L))
      .toDF("src", "dst")
    val out = Graph.commonNeighbors(edges, degreeCap = 3, minShared = 2L)
      .collect()
    // Only the (1,2) pair survives: the hub is excluded from pair
    // generation, so pairs that co-occur ONLY at the hub never form.
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("a") == 1L && r.getAs[Long]("b") == 2L)
    assert(r.getAs[Long]("shared") == 2L)
    // Jaccard denominator uses FULL degrees (3 each, hub included):
    // 2*1e6 div (3+3-2) = 500000 — the cap bounds work, not the score.
    assert(r.getAs[Long]("jac_micro") == 500000L)
    // SALTED twin parity: the two-phase degree aggregation (salts = 8)
    // must be bit-identical — integer partials merge exactly, so the
    // hub cap and the Jaccard denominators cannot move. Pinned on the
    // fixture (where the cap visibly bites) and on the corpus graph.
    assert(Graph.commonNeighbors(edges, degreeCap = 3, minShared = 2L,
        salts = 8).collect().map(_.toSeq).toSet ===
      out.map(_.toSeq).toSet,
      "salted commonNeighbors diverged on the hub fixture")
    val corpus = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey").as("src"), col("l_partkey").as("dst"))
    assert(Graph.commonNeighbors(corpus, degreeCap = 1000,
        minShared = 2L, salts = 8).collect().map(_.toSeq).toSet ===
      Graph.commonNeighbors(corpus, degreeCap = 1000, minShared = 2L)
        .collect().map(_.toSeq).toSet,
      "salted commonNeighbors diverged on the corpus graph")
  }
}
