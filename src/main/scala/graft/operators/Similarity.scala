package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - brute-force cosine top-k (the exactness baseline): broadcast the
  *    (small) probe set against the full corpus — the corpus never
  *    shuffles, so this scales linearly with corpus size;
  *  - sign-LSH bucketed top-k (the scale path): bucket every vector by
  *    the sign pattern of its leading dimensions, then join probe→corpus
  *    on bucket equality only. At 100 TB the bucket join hash-partitions
  *    by bucket key; each probe scans ~1/2^bits of the corpus.
  *
  * All arithmetic in double (element-wise cast from float) with
  * sequential fold order, so cosines are bit-reproducible against the
  * DuckDB oracle's list_dot_product.
  */
object Similarity {

  /** embeddings with the vector cast to array<double>. */
  def vectors(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))

  /** Augmentation for the dedup-by-embedding query: every 10th vector is
    * duplicated (vec_id+100000) so cosine==1.0 pairs provably exist. */
  def augmentVectors(embeddings: DataFrame): DataFrame = {
    val base = vectors(embeddings)
    base.unionByName(base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("label"), col("v")))
  }

  /** Sequential-order dot product of two array<double> columns — a
    * custom codegen'd Expression (graft.functions.DotProduct); the
    * pure-built-in spelling `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)`
    * computes the same value but runs interpreted with an intermediate
    * array per row. */
  def dot(a: Column, b: Column): Column =
    graft.functions.functions.dot_product(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Norm precomputed once per vector — at N² pairs, recomputing
    * sqrt(dot(v,v)) inside the pair loop would triple the array work.
    * sqrt(dot(a,a))*sqrt(dot(b,b)) is the exact same double value either
    * way, so the oracle is unaffected. */
  private def withNorm(vecs: DataFrame): DataFrame =
    vecs.withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Embedding-cosine near-duplicate pairs, blocked by label. */
  def cosineDupPairs(vecs: DataFrame, threshold: Double): DataFrame = {
    val vn = withNorm(vecs)
    vn.as("a")
      .join(vn.as("b"),
        col("a.label") === col("b.label") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
          .as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos_r"))
  }

  /** Skew-guarded [[cosineDupPairs]]: identical output, different
    * worst-case shape. The plain variant's label-blocked self-join is
    * quadratic WITHIN a label — fine for balanced clusters, but at
    * 100 TB one mega-cluster (a boilerplate blob, a near-constant
    * embedding) funnels its n² pairs through the tasks holding that
    * label. Here the in-label pair GENERATION goes through the same
    * salted expansion the LSH chain uses ([[Dedup.saltedBucketPairs]]
    * with label as the bucket): oversized labels split into hash salts
    * so no task materializes more than ~maxLabel ids, then each
    * candidate pair fetches its two vectors back by id (two
    * co-partitioned hash joins) and scores exact cosine. Operand order
    * (id_a's vector left) matches the unguarded join, so the doubles —
    * and the oracle hash — are bit-identical. */
  def cosineDupPairsGuarded(vecs: DataFrame, threshold: Double,
      maxLabel: Int = 1 << 20): DataFrame = {
    val cand = Dedup.saltedBucketPairs(
      vecs.select(col("vec_id").as("doc_id"),
        col("label").cast("string").as("bucket")),
      maxLabel)
    val vn = withNorm(vecs).select(col("vec_id"), col("v"), col("nrm"))
    cand
      .join(vn.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), "id_a")
      .join(vn.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos_r"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus, then within each cluster
    * drop every vector whose cosine to a lower-id cluster-mate meets
    * the threshold — the survivors are the semantically deduplicated
    * corpus. Cluster ids here are the embedding labels (the testdata's
    * natural blobs); a production run k-means first — [[kmeansUpdateStep]]
    * is exactly that step.
    *
    * Scale shape: candidate pairs exist only inside a cluster (the
    * equi-join in [[cosineDupPairs]]), so the quadratic term is bounded
    * by the largest cluster, not the corpus — the whole reason SemDeDup
    * clusters before comparing. The drop set flows back as one
    * hash-join on vec_id. The lowest-id-wins policy is deterministic
    * and single-pass — unlike greedy per-cluster scanning it needs no
    * iteration, at the cost of dropping an entire similarity chain
    * rather than keeping every other link.
    */
  def semanticDedup(vecs: DataFrame, threshold: Double): DataFrame = {
    val dropped = cosineDupPairs(vecs, threshold)
      .select(col("id_b").as("vec_id"))
      .distinct()
      .withColumn("is_dup", lit(true))
    vecs.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("is_dup"), lit(false)).as("dropped"))
  }

  /** Brute-force cosine top-k: broadcast probes × full corpus. */
  def bruteForceTopK(vecs: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = scoreAll(vecs, probes)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_r").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** All probe×corpus cosine scores (broadcast probes, corpus streams) —
    * the shared scoring stage of the brute-force variants. */
  def scoreAll(vecs: DataFrame, probes: DataFrame): DataFrame =
    broadcast(withNorm(probes)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"),
          col("nrm").as("pnrm")))
      .join(withNorm(vecs).select(col("vec_id").as("neighbor_id"), col("v"),
        col("nrm")),
        col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(dot(col("pv"), col("v")) / (col("pnrm") * col("nrm")), 6)
          .as("cos_r"))

  /** Maximum-inner-product top-k (MIPS) — the recommender/retrieval
    * primitive where score = ⟨q, x⟩ UNNORMALIZED (a two-tower model's
    * item scores, where popular items legitimately have larger norms
    * and cosine would erase that). Same shape as [[bruteForceTopK]]:
    * probes broadcast, corpus streams, one ranking window per probe
    * (the TopKPerKey rewrite applies). Scores round to 6 dp with
    * neighbor-id tie-break — the shared determinism contract.
    *
    * The classic MIPS→cosine reduction (Neyshabur & Srebro 2015,
    * arXiv:1410.5518: append sqrt(M²−‖x‖²) to items and 0 to queries,
    * then cosine order equals inner-product order) is what lets the
    * IVF/LSH cosine machinery above serve MIPS at 100 TB; the
    * equivalence is property-pinned in PipelineSpec rather than
    * duplicated as a second operator.
    */
  def mipsTopK(vecs: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = broadcast(probes
        .select(col("vec_id").as("probe_id"), col("v").as("pv")))
      .join(vecs.select(col("vec_id").as("neighbor_id"), col("v")),
        col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(dot(col("pv"), col("v")), 6).as("ip_r"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("ip_r").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Cosine radius search: every corpus vector whose (6-dp rounded)
    * cosine to a probe meets the threshold — the "find all neighbors
    * within τ" companion to top-k, used for near-duplicate sweeps and
    * retrieval-candidate generation where the neighbor count is
    * data-dependent rather than fixed.
    *
    * Scale shape: strictly better than top-k — the probes broadcast,
    * the corpus streams, and the threshold is a map-side filter, so
    * there is NO per-probe state at all (no window, no heap, no
    * shuffle); output size is the only cost. The filter compares the
    * rounded cosine so the cut line is the exact same value the oracle
    * compares. */
  def rangeSearch(vecs: DataFrame, probes: DataFrame, tau: Double): DataFrame =
    scoreAll(vecs, probes).filter(col("cos_r") >= tau)

  /** Typed top-k aggregator: keeps only the k best (score desc, id asc)
    * per group in a bounded buffer. Compared to the window row_number
    * formulation, the shuffle carries at most k rows per group from each
    * map task (partial aggregation) instead of sorting every candidate —
    * the plan shape that survives a billion-candidate group. */
  class TopKAggregator(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Long, Long, Double), Seq[(Long, Double)], Seq[(Long, Double)]] {
    private def trim(s: Seq[(Long, Double)]): Seq[(Long, Double)] =
      s.sortBy(t => (-t._2, t._1)).take(k)
    override def zero: Seq[(Long, Double)] = Seq.empty
    override def reduce(b: Seq[(Long, Double)], e: (Long, Long, Double)): Seq[(Long, Double)] =
      trim(b :+ ((e._2, e._3)))
    override def merge(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Seq[(Long, Double)] =
      trim(a ++ b)
    override def finish(b: Seq[(Long, Double)]): Seq[(Long, Double)] = trim(b)
    override def bufferEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Double)]]()
    override def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Double)]]()
  }

  /** Brute-force top-k via the typed aggregator — identical results to
    * bruteForceTopK (same scoring, same tie-break). */
  def bruteForceTopKAgg(vecs: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val scored = broadcast(withNorm(probes)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"),
          col("nrm").as("pnrm")))
      .join(withNorm(vecs).select(col("vec_id").as("neighbor_id"), col("v"),
        col("nrm")),
        col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(dot(col("pv"), col("v")) / (col("pnrm") * col("nrm")), 6)
          .as("cos_r"))
    scored.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .agg(new TopKAggregator(k).toColumn)
      .flatMap { case (probe, top) =>
        top.zipWithIndex.map { case ((nid, cos), i) =>
          (probe, nid, cos, i + 1)
        }
      }
      .toDF("probe_id", "neighbor_id", "cos_r", "rnk")
  }

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein, SIGIR
    * 1998) — the diversity-aware selection a retrieval-augmented
    * curation pipeline runs AFTER candidate generation: greedily pick
    * `k` results from a brute-force top-`depth` pool, each round
    * choosing argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s). Pure
    * relevance (rank 1) seeds the selection; later ranks trade
    * relevance against redundancy with what is already picked —
    * exactly the redundancy failure RRF fusion cannot see (RRF only
    * looks at per-leg ranks, never at inter-candidate similarity).
    *
    * Scale shape: the ONLY corpus-sized stage is the candidate
    * generation ([[bruteForceTopK]]: probes broadcast, corpus streams,
    * pushed WindowGroupLimit). Everything after operates on the
    * ≤ depth·|probes| candidate pool — the pairwise sim matrix is
    * depth²·|probes| rows (vector arithmetic paid once, NOT once per
    * round), and each greedy round is a join + max + ranking window
    * over that pool. The rounds are plan-unrolled (k is a query-time
    * constant, like the Lloyd iterations in [[kmeansTrain]]); at 100 TB
    * one would persist the pool between rounds to cap the re-derived
    * plan depth — the per-round shape is unchanged.
    *
    * Determinism contract: rel and pairwise sims round to 6 dp; the λ
    * blend then runs in EXACT DECIMAL over those 6-dp values (scores
    * cast to DECIMAL(12,6), λ as a DECIMAL(7,6) literal — λ itself is
    * rounded HALF_UP to 6 dp, so any double λ blends exactly) — the
    * blend of 6-dp decimals is exact at 12 dp, so the final 6-dp round
    * can never sit on a float-fuzz boundary (a double blend DID: probe
    * 1's round-2 score lands exactly on 0.2030395, where
    * BigDecimal-expansion HALF_UP and scale-and-round disagree). All
    * argmaxes tie-break by neighbor_id asc. Rank 1 reports mmr_r = rel
    * (the empty-selection round has no redundancy term). */
  def mmrRerank(vecs: DataFrame, probes: DataFrame, depth: Int = 8,
      k: Int = 3, lambda: Double = 0.7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(lambda >= 0.0 && lambda <= 1.0,
      s"lambda must be in [0, 1], got $lambda")
    // The pool and its pairwise sims are LOCALLY CHECKPOINTED (not
    // cache()d): they are the only corpus-derived frames (≤
    // depth·|probes| and depth²·|probes| rows) and every unrolled
    // greedy round references them — without materialization each
    // round re-runs the full corpus scan through the re-printed
    // lineage (measured 3.0 s → 2.5 s at sf0.1 where the corpus scan
    // is cheap; at 100 TB it is the difference between 1 corpus scan
    // and one per lineage repeat). localCheckpoint over cache because
    // its blocks are freed by the ContextCleaner once the returned
    // plan's RDDs are garbage-collected — a cache() entry here would
    // leak two pinned frames into the session's storage memory per
    // enumeration for the JVM lifetime, with no safe place to
    // unpersist (the caller holds a lazy plan that still reads them).
    // TRADE-OFFS the caller accepts (Spark's own localCheckpoint doc
    // flags both): (1) the blocks are UNREPLICATED and the lineage is
    // truncated, so losing an executor that holds them — a node
    // failure, or a dynamic-allocation decommission — makes the
    // returned lazy plan fail permanently instead of recomputing;
    // re-invoke mmrRerank to rebuild. Deployments running with
    // spark.dynamicAllocation.enabled should also set
    // spark.dynamicAllocation.cachedExecutorIdleTimeout so executors
    // holding these blocks aren't reclaimed mid-serve. (2) the
    // materialization is EAGER: two jobs (pool + sims) run at
    // plan-build time even if the caller never executes the returned
    // plan — acceptable here because every caller of a re-ranker
    // executes it, and the eager frames are probe-bounded, not
    // corpus-bounded.
    val cand = bruteForceTopK(vecs, probes, depth)
      .select(col("probe_id"), col("neighbor_id"), col("cos_r").as("rel"))
      .localCheckpoint()
    val candV = cand.join(
      vecs.select(col("vec_id").as("neighbor_id"), col("v")),
      Seq("neighbor_id"))
    // Pairwise candidate sims, computed once over the tiny pool; the
    // greedy rounds below reference sim_r only (no vector columns).
    val sims = candV
      .select(col("probe_id"), col("neighbor_id").as("cid"),
        col("v").as("cv"))
      .join(candV.select(col("probe_id"), col("neighbor_id").as("sid"),
        col("v").as("sv")), Seq("probe_id"))
      .filter(col("cid") =!= col("sid"))
      .select(col("probe_id"), col("cid"), col("sid"),
        round(cosine(col("cv"), col("sv")), 6).as("sim_r"))
      .localCheckpoint()
    val wSel = Window.partitionBy(col("probe_id"))
      .orderBy(col("rel").desc, col("neighbor_id").asc)
    var sel = cand
      .withColumn("rn", row_number().over(wSel)).filter(col("rn") === 1)
      .select(col("probe_id"), col("neighbor_id"),
        col("rel").as("mmr_r"), lit(1).as("rnk"))
    for (r <- 2 to k) {
      val remaining = cand.join(sel.select("probe_id", "neighbor_id"),
        Seq("probe_id", "neighbor_id"), "left_anti")
      // Every remaining candidate has a sims row against every selected
      // one (sel ⊆ pool, sims is the full pool × pool matrix), so the
      // inner join cannot drop candidates.
      val maxSim = sims
        .join(sel.select(col("probe_id"), col("neighbor_id").as("sid")),
          Seq("probe_id", "sid"))
        .groupBy(col("probe_id"), col("cid").as("neighbor_id"))
        .agg(max(col("sim_r")).as("max_sim"))
      val wMmr = Window.partitionBy(col("probe_id"))
        .orderBy(col("mmr").desc, col("neighbor_id").asc)
      // λ as an exact DECIMAL(7,6) literal (6-dp HALF_UP of the
      // double's shortest decimal form) — wide enough that ANY
      // reasonable λ (0.75, 0.125, …) blends exactly; the previous
      // DECIMAL(2,1) form threw ArithmeticException at plan build for
      // every λ not representable at 1 decimal place. Precisions are
      // kept tight (7,6 × 12,6 → 20,12; the subtraction lands at
      // 22,12) so no intermediate ever exceeds DECIMAL(38) — wider
      // operands would trip Spark's precision-loss scale reduction
      // and reintroduce double rounding at the 12th digit.
      val lam = lit(java.math.BigDecimal.valueOf(lambda)
        .setScale(6, java.math.RoundingMode.HALF_UP)).cast("decimal(7,6)")
      val one = lit(BigDecimal(1).setScale(6)).cast("decimal(7,6)")
      val pick = remaining
        .join(maxSim, Seq("probe_id", "neighbor_id"))
        .withColumn("mmr", round(
          lam * col("rel").cast("decimal(12,6)") -
            (one - lam) * col("max_sim").cast("decimal(12,6)"), 6)
          .cast("double"))
        .withColumn("rn", row_number().over(wMmr)).filter(col("rn") === 1)
        .select(col("probe_id"), col("neighbor_id"),
          col("mmr").as("mmr_r"), lit(r).as("rnk"))
      sel = sel.unionByName(pick)
    }
    sel
  }

  /** Binary-quantization codes: the sign bit of every dimension packed
    * into two BIGINT halves (bits 1–32 and 33–64) — two positive longs
    * instead of one 64-bit word so neither engine touches the sign
    * bit (a 1<<63 term sums differently under DuckDB's overflow-checked
    * BIGINT and Spark's wrapping non-ANSI add). Convention: bit i set
    * iff v[i] ≥ 0. This is the 1-bit rung UNDER the SQ8/PQ ladder:
    * 256× smaller than float64, and the serve-side distance is two
    * XOR+popcounts — no arithmetic on the corpus floats at all. */
  def bqCodes(vecs: DataFrame): DataFrame = {
    def half(lo: Int): Column = expr(
      s"""aggregate(transform(sequence(1, 32), i ->
         |  IF(element_at(v, i + $lo) >= CAST(0 AS DOUBLE),
         |     shiftleft(CAST(1 AS BIGINT), i - 1), CAST(0 AS BIGINT))),
         |CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin)
    // The packing width is fixed at 64 (two 32-bit halves; the sidecar
    // records bits=64). A shorter vector would silently encode its
    // missing dims as 0-bits (element_at past the end is null → the
    // else branch) and a longer one would silently drop dims beyond
    // 64 — both skew Hamming distances instead of failing, so the
    // contract is enforced loudly per row.
    // Non-vector input columns ride through the packing projection
    // (round 20) — metadata and cell keys stay beside the codes with
    // no re-attach join; explicit selects at every serve-side call
    // site keep their previous shapes.
    val carry = vecs.columns
      .filterNot(c => c == "v" || c == "vec_id").map(col).toSeq
    val checked = vecs.select(Seq(col("vec_id")) ++ carry :+
      when(size(col("v")) === 64, col("v")).otherwise(raise_error(concat(
        lit("bqCodes packs exactly 64 dims (bits=64); got "),
        size(col("v")).cast("string"), lit(" dims for vec_id "),
        col("vec_id").cast("string")))).as("v"): _*)
    checked.select(Seq(col("vec_id")) ++ carry :+
      half(0).as("code0") :+ half(32).as("code1"): _*)
  }

  /** Two-stage binary-quantized search (the classic BQ serve: Hamming
    * shortlist over the 1-bit codes, exact re-rank of the shortlist):
    * per probe, the `shortlist` nearest corpus codes by Hamming
    * distance (XOR + popcount on the two packed halves, ties by
    * neighbor_id), then the true cosine re-ranks the shortlist to the
    * final `k`. The corpus-sized stage touches ONLY the 16-byte codes
    * (broadcast probes, pushed WindowGroupLimit); float vectors are
    * read for the ≤ shortlist·|probes| survivors alone — at 100 TB
    * that is the difference between streaming 16 B/vector and
    * 512 B/vector through the scan. Output carries both distances so
    * the oracle pins the shortlist stage, not just the final ranks. */
  def bqRerank(vecs: DataFrame, probes: DataFrame, shortlist: Int = 20,
      k: Int = 3): DataFrame =
    bqServe(bqCodes(vecs), vecs, probes, shortlist, k)

  /** Persist the BQ layout: the (vec_id, code0, code1) code table
    * under `$dir/codes` — 16 bytes/vector, the artifact a BQ
    * deployment actually stores (floats stay in the corpus table and
    * are read only by the re-rank's shortlist join). Codes are
    * per-vector, so the layout appends bit-trivially; deletes use the
    * layout-agnostic tombstone table ([[deleteFromBqIndex]]) beside
    * the code table, the same lifecycle discipline as the flat/SQ8/PQ
    * rungs. A rebuild clears stale tombstones first. */
  def writeBqIndex(vecs: DataFrame, dir: String): Unit =
    buildLayout(vecs.sparkSession, dir, BqLayout)(bqCodeRows(vecs))

  /** The stored code-row frame of the flat BQ build/append legs:
    * (vec_id, code0, code1, metadata…) — non-vector input columns
    * ride beside the 16-byte codes for [[bqRerankFromIndexWhere]]'s
    * pushed predicate; metadata-less inputs produce the previous
    * schema exactly. */
  private def bqCodeRows(vecs: DataFrame): DataFrame = {
    val metaCols = vecs.columns.filterNot(c => c == "v" || c == "vec_id")
    // Metadata rides through [[bqCodes]]' packing projection
    // (round 20) — the re-attach join is gone.
    bqCodes(vecs)
      .select((Seq("vec_id", "code0", "code1") ++ metaCols).map(col): _*)
  }

  /** APPEND a vector batch's codes to a stored [[writeBqIndex]]
    * layout — per-vector rows, so build-half + append-half IS the
    * monolithic table (same rows, any file split); the gated query
    * shares the monolithic oracle. The table is unpartitioned, so a
    * full-drain placeholder stays harmlessly beside the appended rows. */
  def appendBqIndex(spark: org.apache.spark.sql.SparkSession,
      vecs: DataFrame, dir: String): Unit = {
    requireLayout(spark, dir, BqLayout)
    appendRows(spark, dir, BqLayout, vecs, bqCodeRows(vecs), "appendBqIndex")
  }

  /** Tombstone-DELETE from the BQ layout — the tombstone table is
    * layout-agnostic (ids only), so this IS [[deleteFromIvfIndex]]'s
    * contract applied to the BQ dir: ids land in `tombstones/`, the
    * code files are untouched, and the serve masks them BEFORE the
    * Hamming shortlist ranks (so the shortlist fills with survivors,
    * never with ghosts that the re-rank would then drop —
    * under-returning k). [[compactBqIndex]] reclaims the space. */
  def deleteFromBqIndex(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, dir: String): Unit = {
    requireLayout(spark, dir, BqLayout)
    deleteFromIvfIndex(spark, ids, dir)
  }

  /** Compact the BQ layout: [[compactLayout]]'s whole-table rewrite —
    * the codes are NOT cell-partitioned, so the unit of rewrite is the
    * table (16 B/vector, so even a full rewrite moves 1/32nd of the
    * corpus bytes). Serve parity with the uncompacted masked table is
    * bit-for-bit (spec-pinned). */
  def compactBqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    compactLayout(spark, dir, BqLayout)

  /** [[bqRerank]] served from a stored [[writeBqIndex]] code table —
    * bit-identical to the in-memory path (BIGINT codes round-trip
    * parquet exactly; spec-pinned). `vecs` supplies the floats the
    * re-rank stage reads for the shortlist survivors. Deleted ids
    * mask via one broadcast anti-join over the 16-byte code rows,
    * BEFORE the shortlist window ranks. */
  def bqRerankFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecs: DataFrame, probes: DataFrame,
      shortlist: Int = 20, k: Int = 3): DataFrame =
    bqRerankFromIndexImpl(spark, dir, vecs, probes, shortlist, k, None)

  /** [[bqRerankFromIndex]] with a metadata predicate pushed to the
    * stored code scan — candidates filter BEFORE the Hamming
    * shortlist, the filtered-serve contract at the flat-code shape. */
  def bqRerankFromIndexWhere(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecs: DataFrame, probes: DataFrame, pred: Column,
      shortlist: Int = 20, k: Int = 3): DataFrame =
    bqRerankFromIndexImpl(spark, dir, vecs, probes, shortlist, k,
      Some(pred))

  /** Cosine radius search over a persisted [[writeBqIndex]] layout —
    * Hamming gates the `shortlist`, the exact refine applies the
    * radius ([[searchIvfBqIndexRange]]'s composition without the cell
    * prune: the flat scan reads every 16-byte code, the float fetch
    * stays shortlist-bounded). */
  def bqRangeFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecs: DataFrame, probes: DataFrame, tau: Double,
      shortlist: Int = 20): DataFrame =
    bqRefinedStage(bqHamFlat(bqMaskedCodes(spark, dir, None), probes),
        vecs, probes, shortlist)
      .filter(col("cos_r") >= tau)
      .select(col("probe_id"), col("neighbor_id"), col("cos_r"))

  private def bqRerankFromIndexImpl(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      vecs: DataFrame, probes: DataFrame, shortlist: Int, k: Int,
      pred: Option[Column]): DataFrame =
    bqServe(bqMaskedCodes(spark, dir, pred), vecs, probes, shortlist, k)

  /** The live code scan of the flat-BQ serves: sidecar gate, optional
    * metadata predicate, tombstone mask — one read path for all
    * modes. */
  private def bqMaskedCodes(spark: org.apache.spark.sql.SparkSession,
      dir: String, pred: Option[Column]): DataFrame = {
    requireLayout(spark, dir, BqLayout)
    liveRows(spark, dir, BqLayout, readTombstones(spark, dir), pred)
  }

  private def bqServe(codes: DataFrame, vecs: DataFrame,
      probes: DataFrame, shortlist: Int, k: Int): DataFrame =
    bqRerankStage(bqHamFlat(codes, probes), vecs, probes, shortlist, k)

  /** The Hamming frame of the flat-BQ serves: broadcast probe codes
    * past every live code row, probe ≠ neighbor. */
  private def bqHamFlat(codes: DataFrame, probes: DataFrame): DataFrame = {
    val pcodes = broadcast(bqCodes(probes)
      .select(col("vec_id").as("probe_id"), col("code0").as("p0"),
        col("code1").as("p1")))
    pcodes
      .join(codes.select(col("vec_id").as("neighbor_id"), col("code0"),
        col("code1")), col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        (expr("bit_count(p0 ^ code0)") + expr("bit_count(p1 ^ code1)"))
          .cast("int").as("ham"))
  }

  /** Shared tail of every BQ serve (flat and cell-blocked): the
    * Hamming shortlist window (ham asc, neighbor asc, top
    * `shortlist`) and the exact-cosine re-rank of the survivors
    * against the corpus floats (cos desc, neighbor asc, top `k`) —
    * one definition so the two serve shapes cannot diverge on the
    * determinism contract. */
  private def bqRerankStage(ham: DataFrame, vecs: DataFrame,
      probes: DataFrame, shortlist: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wC = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_r").desc, col("neighbor_id").asc)
    bqRefinedStage(ham, vecs, probes, shortlist)
      .withColumn("rnk", row_number().over(wC))
      .filter(col("rnk") <= k)
  }

  /** The exact-refined scored frame under the BQ serve modes (top-k,
    * filtered, range): Hamming gates the `shortlist`, ONLY the
    * shortlist's floats are fetched, exact 6-dp cosine — one
    * definition so the modes cannot diverge ([[imiPqRefined]]'s split
    * at the binary-code shape). */
  private def bqRefinedStage(ham: DataFrame, vecs: DataFrame,
      probes: DataFrame, shortlist: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wH = Window.partitionBy(col("probe_id"))
      .orderBy(col("ham").asc, col("neighbor_id").asc)
    val short = ham.withColumn("hrnk", row_number().over(wH))
      .filter(col("hrnk") <= shortlist)
      .select(col("probe_id"), col("neighbor_id"), col("ham"))
    val pv = broadcast(withNorm(probes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm")))
    short
      .join(withNorm(vecs).select(col("vec_id").as("neighbor_id"),
        col("v"), col("nrm")), Seq("neighbor_id"))
      .join(pv, Seq("probe_id"))
      .select(col("probe_id"), col("neighbor_id"), col("ham"),
        round(dot(col("pv"), col("v")) / (col("pnrm") * col("nrm")), 6)
          .as("cos_r"))
  }

  /** CELL-BLOCKED binary quantization — the IVF composition of the BQ
    * rung, and the shape a 100 TB BQ deployment actually runs: the
    * flat [[bqRerank]] streams EVERY vector's 16-byte code past every
    * probe (at 100 TB of float64 vectors that is still ~1.6 TB of
    * codes per probe batch), while this layout partitions the code
    * table by the trained coarse cell and Hamming-scans only the
    * `nprobe` probed cells' partitions — the [[searchIvfIndex]] DPP
    * contract applied to 16-byte rows, so the serve reads
    * corpus·nprobe/kCells codes instead of the corpus (FAISS's
    * IVF+refine composition with a binary refine stage). Recall is
    * bounded by nprobe exactly as in every IVF serve; probing every
    * cell degenerates to the flat BQ serve bit-for-bit (cells
    * partition the corpus — spec-pinned). Shortlist and re-rank
    * contracts are [[bqRerank]]'s, shared via [[bqRerankStage]]. */
  def ivfBqTopK(vecs: DataFrame, probes: DataFrame, cents: DataFrame,
      shortlist: Int = 20, k: Int = 3, nprobe: Int = 2): DataFrame = {
    ivfBqServe(bqCodes(withInlineCell(vecs, cents)), cents, vecs,
      probes, shortlist, k, nprobe)
  }

  /** Persist the IVF-BQ layout: trained centroids + the code table
    * partitioned by cell — 16 bytes/vector like the flat BQ layout,
    * but the serve scan prunes to the probed cells' partitions.
    * Lifecycle legs reuse the cell-table machinery wholesale:
    * [[appendIvfBqIndex]] assigns against the STORED centroids
    * (FAISS `add`), [[deleteFromIvfBqIndex]] is the layout-agnostic
    * tombstone table, [[compactIvfBqIndex]] is the affected-partition
    * rewrite. */
  def writeIvfBqIndex(vecs: DataFrame, cents: DataFrame,
      dir: String): Unit =
    buildLayout(vecs.sparkSession, dir, IvfBqLayout) {
      cents.write.mode("overwrite").parquet(s"$dir/centroids")
      ivfBqCodeRows(vecs, vecs.sparkSession.read.parquet(s"$dir/centroids"))
    }

  /** The stored code-row frame of the IVF-BQ build/append legs:
    * (vec_id, code0, code1, metadata…, cell) — non-vector input
    * columns ride beside the 16-byte codes for
    * [[searchIvfBqIndexWhere]]'s pushed predicate; metadata-less
    * inputs produce the previous schema exactly. */
  private def ivfBqCodeRows(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val metaCols = vecs.columns.filterNot(c => c == "v" || c == "vec_id")
    // Cell assignment ([[withInlineCell]]) and metadata both ride the
    // packing projection (round 20) — the two corpus-sized re-attach
    // joins are gone from the build/append path.
    bqCodes(withInlineCell(vecs, cents))
      .select((Seq("vec_id", "code0", "code1") ++ metaCols ++
        Seq("cell")).map(col): _*)
  }

  /** APPEND a batch to a persisted [[writeIvfBqIndex]] layout —
    * per-vector codes + stored-centroid assignment, so write(A) then
    * append(B) is row-for-row write(A ∪ B) under the same quantizer
    * (the gated twin shares the monolithic oracle). */
  def appendIvfBqIndex(spark: org.apache.spark.sql.SparkSession,
      vecs2: DataFrame, dir: String): Unit = {
    requireLayout(spark, dir, IvfBqLayout)
    appendRows(spark, dir, IvfBqLayout, vecs2,
      ivfBqCodeRows(vecs2, spark.read.parquet(s"$dir/centroids")),
      "appendIvfBqIndex")
  }

  /** Tombstone-DELETE from the IVF-BQ layout (layout-agnostic id
    * table; the serve masks BEFORE the Hamming shortlist ranks). */
  def deleteFromIvfBqIndex(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, dir: String): Unit =
    deleteFromIvfIndex(spark, ids, dir)

  /** Compaction for the IVF-BQ layout: the affected-cell rewrite of
    * [[compactLayout]] over the cell-partitioned code table. */
  def compactIvfBqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    compactLayout(spark, dir, IvfBqLayout)

  /** Serve [[ivfBqTopK]] from a persisted [[writeIvfBqIndex]] layout —
    * bit-identical to the in-memory path (BIGINT codes round-trip
    * parquet exactly); the code scan prunes to the probed cells via
    * DPP and deleted ids mask via the broadcast tombstone anti-join
    * before the shortlist window. */
  def searchIvfBqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecs: DataFrame, probes: DataFrame,
      shortlist: Int = 20, k: Int = 3, nprobe: Int = 2): DataFrame =
    searchIvfBqIndexImpl(spark, dir, vecs, probes, shortlist, k,
      nprobe, None)

  /** [[searchIvfBqIndex]] with a metadata predicate pushed to the
    * stored CODE scan — the 16-byte code rows carry the input's
    * non-vector columns, so the predicate filters candidates BEFORE
    * the Hamming shortlist and the depth budget is spent entirely on
    * matching rows ([[searchImiPqIndexWhere]]'s contract at the
    * binary-code shape). */
  def searchIvfBqIndexWhere(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecs: DataFrame, probes: DataFrame, pred: Column,
      shortlist: Int = 20, k: Int = 3, nprobe: Int = 2): DataFrame =
    searchIvfBqIndexImpl(spark, dir, vecs, probes, shortlist, k,
      nprobe, Some(pred))

  /** Cosine radius search over a persisted [[writeIvfBqIndex]] layout
    * — Hamming distances gate the `shortlist`, the exact refine
    * applies the radius over the shortlisted cosines (the
    * [[searchImiPqIndexRange]] composition at the binary-code shape;
    * same recall bound: a true neighbor outside the probed cells or
    * below the Hamming shortlist is not seen). */
  def searchIvfBqIndexRange(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecs: DataFrame, probes: DataFrame, tau: Double,
      shortlist: Int = 20, nprobe: Int = 2): DataFrame =
    ivfBqRefinedFromIndex(spark, dir, vecs, probes, shortlist, nprobe,
        None)
      .filter(col("cos_r") >= tau)
      .select(col("probe_id"), col("neighbor_id"), col("cos_r"))

  private def searchIvfBqIndexImpl(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      vecs: DataFrame, probes: DataFrame, shortlist: Int, k: Int,
      nprobe: Int, pred: Option[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wC = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_r").desc, col("neighbor_id").asc)
    ivfBqRefinedFromIndex(spark, dir, vecs, probes, shortlist, nprobe,
        pred)
      .withColumn("rnk", row_number().over(wC))
      .filter(col("rnk") <= k)
  }

  /** The refined scored frame of the persisted IVF-BQ serves (top-k,
    * filtered, range): stored centroids, tombstone mask, optional
    * metadata predicate on the cell-partitioned code scan, Hamming
    * gate, exact refine — one read path for all modes. */
  private def ivfBqRefinedFromIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      vecs: DataFrame, probes: DataFrame, shortlist: Int, nprobe: Int,
      pred: Option[Column]): DataFrame = {
    requireLayout(spark, dir, IvfBqLayout)
    val cents = spark.read.parquet(s"$dir/centroids")
    val codes = liveRows(spark, dir, IvfBqLayout, readTombstones(spark, dir),
      pred)
    bqRefinedStage(ivfBqHam(codes, cents, probes, nprobe), vecs,
      probes, shortlist)
  }

  /** Shared IVF-BQ scoring stage: probe cell assignment (nprobe
    * nearest stored cells), cell-equi Hamming over the probed cells'
    * codes, then the flat serve's shortlist + re-rank tail. */
  private def ivfBqServe(codes: DataFrame, cents: DataFrame,
      vecs: DataFrame, probes: DataFrame, shortlist: Int, k: Int,
      nprobe: Int): DataFrame =
    bqRerankStage(ivfBqHam(codes, cents, probes, nprobe), vecs, probes,
      shortlist, k)

  /** The Hamming frame of the IVF-BQ serves: broadcast probe codes
    * against the cell-pruned code scan, probe ≠ neighbor. */
  private def ivfBqHam(codes: DataFrame, cents: DataFrame,
      probes: DataFrame, nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val pcells = trainedAssign(probes, cents, nprobe)
      .select(col("probe_id"), col("cid").as("pcell"))
    val pcodes = broadcast(bqCodes(probes)
      .select(col("vec_id").as("probe_id"), col("code0").as("p0"),
        col("code1").as("p1"))
      .join(pcells, Seq("probe_id")))
    pcodes
      .join(codes.select(col("vec_id").as("neighbor_id"), col("code0"),
        col("code1"), col("cell")),
        col("pcell") === col("cell") &&
          col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        (expr("bit_count(p0 ^ code0)") + expr("bit_count(p1 ^ code1)"))
          .cast("int").as("ham"))
  }

  /** Sign-LSH bucket key: the sign pattern of dimensions 1..bits. */
  def signBucket(v: Column, bits: Int): Column =
    concat((1 to bits).map(i =>
      when(element_at(v, i) >= 0, "1").otherwise("0")): _*)

  /** IVF-style ANN, stage 1 — the coarse quantizer: per-cluster,
    * per-dimension centroid means kept in *exploded* form (cluster, pos,
    * mean). Staying exploded avoids a nondeterministic collect_list and
    * lets probe→centroid distances be a join + sum. Cluster ids here are
    * the embedding labels (the testdata's natural blobs); a production
    * build would k-means them — the search machinery is identical. */
  def centroids(vecs: DataFrame): DataFrame =
    vecs.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("x")).as("cmean"))

  /** Shared IVF cell assignment: each probe row of `probeSrc` mapped to
    * its `nprobe` nearest centroids of `vecs` — rounded L2² with label
    * tie-break, so ulp-level summation differences can't flip the
    * argmin/ordering. One helper for both [[ivfTopK]] (external probes)
    * and [[knnJoin]] (the corpus probes itself) so the two paths cannot
    * diverge on the determinism contract. Output:
    * (probe_id, assigned_label). Package-private so PipelineSpec can pin
    * the candidate-work bound directly: a probe is assigned
    * min(nprobe, n_cells) cells — over-asking on a corpus with fewer
    * cells must NOT multiply join work. */
  private[graft] def assignCells(vecs: DataFrame, probeSrc: DataFrame,
      nprobe: Int): DataFrame =
    assignCellsRanked(vecs, probeSrc, nprobe)
      .select(col("probe_id"), col("assigned_label"))

  /** [[assignCells]] with the assignment rank retained — rank 1 is the
    * vector's OWN nearest cell (its IVF index cell), ranks 2..nprobe
    * the multi-probe expansion. One d2 aggregation serves both sides
    * of [[knnJoinIndexed]]. */
  private[graft] def assignCellsRanked(vecs: DataFrame, probeSrc: DataFrame,
      nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    // Round-19 rewrite: the label-mean centroids are collected
    // ([[csLiteral]]'s bounded-quantizer discipline — labels×dims
    // doubles, constant in corpus size) and the ranked assignment is
    // an inline array_sort over the per-centroid fold — no exploded
    // dim×k join, no hash aggregate, no row_number shuffle. Collect
    // carries the exact doubles the avg produced, and the 6-dp round
    // + label tie-break ranking contract is unchanged.
    // Memoized on the CORPUS frame reference: ivfTopK/knnJoin-family
    // compositions assign corpus and probe sides in separate calls
    // over one vecs object — one collect serves both.
    val entries = memoized(vecs, "labelcents") {
      collectCents(centroids(vecs)
        .select(col("label").as("cid"), col("pos"), col("cmean")), "pos")
    }
    probeSrc.select(col("vec_id").as("probe_id"), posexplode(
        slice(array_sort(
          distStructs(csLiteralFrom(entries), col("v"))), 1, nprobe))
        .as(Seq("i", "e")))
      .select(col("probe_id"), col("e.cid").as("assigned_label"),
        (col("i") + 1).as("rn"))
  }

  /** IVF-style ANN, stage 2: assign each probe to its `nprobe` nearest
    * centroids ([[assignCells]]), then search exact cosine only within
    * those clusters — each probe scans ~nprobe/k of the corpus.
    * `nprobe` is the standard IVF recall knob: 1 is the fastest search;
    * raising it recovers the neighbors a boundary-straddling probe
    * loses to the adjacent cell (PipelineSpec pins the recall recovery
    * on a clustered fixture). Clusters are disjoint, so multi-probe
    * candidates never duplicate. */
  def ivfTopK(vecs: DataFrame, probes: DataFrame, k: Int,
      nprobe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = assignCells(vecs, probes, nprobe)
    val pb = withNorm(probes).select(col("vec_id").as("probe_id"),
      col("v").as("pv"), col("nrm").as("pnrm"))
    val scored = broadcast(pb.join(assigned, Seq("probe_id")))
      .join(withNorm(vecs),
        col("assigned_label") === col("label") &&
          col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("assigned_label"),
        col("vec_id").as("neighbor_id"),
        round(dot(col("pv"), col("v")) / (col("pnrm") * col("nrm")), 6)
          .as("cos_r"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_r").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** The vector split at size/2 into the multi-index's two halves:
    * (id, pos, x, sub ∈ {0,1}) — the explode both codebook training
    * and distance computation share. */
  private def imiSubDims(df: DataFrame, idCol: String): DataFrame = df
    .select(col(idCol), (size(col("v")) / 2).cast("int").as("hf"),
      posexplode(col("v")).as(Seq("pos", "x")))
    .select(col(idCol), col("pos"), col("x"),
      when(col("pos") < col("hf"), 0).otherwise(1).as("sub"))

  /** Train the two half-vector codebooks: per half, the label-mean of
    * that half's dims — (sub, clabel, pos, cmean). Doubles, so parquet
    * round-trips them exactly and a persisted serve is bit-identical
    * to the in-memory one. */
  private[graft] def imiSubCentroids(vecs: DataFrame): DataFrame =
    imiSubDims(vecs.select(col("label").as("clabel"), col("v")), "clabel")
      .groupBy(col("sub"), col("clabel"), col("pos"))
      .agg(avg(col("x")).as("cmean"))

  /** Rounded half-L2² of every `probeSrc` row against every
    * sub-centroid of a GIVEN codebook table — the serve-side half of
    * [[imiSubDistances]], shared by the in-memory path and the
    * persisted layout (stored codebooks read back from parquet). */
  private[graft] def imiSubDistancesAgainst(cents: DataFrame,
      probeSrc: DataFrame): DataFrame = {
    // Round-19 rewrite: the two half-codebooks are collected
    // ([[csLiteral]]'s bounded-quantizer discipline — 2·k·(dims/2)
    // doubles) and each half's distances fold inline on the probe row
    // over the matching v-slice; the exploded dim×k join + hash
    // aggregate is gone. Positions are absolute with a sub tag, so
    // each half's fold runs over its pos-ascending slice — the same
    // per-dimension accumulation order the partial aggregate
    // produced; 6-dp round unchanged.
    val tagged = halfDistStructs(collectHalves(cents)).zipWithIndex
      .map { case (d, s) =>
        transform(d, e => struct(
          lit(s).as("sub"),
          e.getField("cid").as("clabel"),
          e.getField("d2r").as("d2r")))
      }
    probeSrc.select(col("vec_id").as("probe_id"),
        explode(concat(tagged: _*)).as("e"))
      .select(col("probe_id"), col("e.sub").as("sub"),
        col("e.clabel").as("clabel"), col("e.d2r").as("d2r"))
  }

  /** Collected half-codebooks — entries(sub) = (clabel, cvec) pairs,
    * clabels ascending, cvec in position order: [[csLiteral]]'s
    * bounded-collect discipline at the half-codebook key
    * (2·k·(dims/2) doubles, constant in corpus size). Serves both
    * codebook shapes (label-mean absolute positions, trained rebased
    * positions): positions are only an ordering key within a half. */
  private def collectHalves(cents: DataFrame): Seq[Seq[(Any, Seq[Double])]] =
    memoized(cents, "halves") { collectHalvesUncached(cents) }

  private def collectHalvesUncached(
      cents: DataFrame): Seq[Seq[(Any, Seq[Double])]] = {
    val rows = cents
      .select(col("sub"), col("clabel"), col("pos"), col("cmean")).collect()
    Seq(0, 1).map(s => rows
      .filter(_.getInt(0) == s)
      .groupBy(r => r.get(1))
      .toSeq
      .sortBy { case (cl, _) => cl.asInstanceOf[Number].longValue }
      .map { case (cl, rs) =>
        (cl, rs.sortBy(_.get(2).asInstanceOf[Number].longValue)
          .map(_.getDouble(3)).toSeq)
      })
  }

  /** [[collectHalves]] of TRAINED half-quantizers (the
    * [[imiTrainedCents]] pair, public (cid, dim, cmean) shape). */
  private def collectHalvesTrained(
      cents: Seq[DataFrame]): Seq[Seq[(Any, Seq[Double])]] =
    cents.map(c => collectCents(c, "dim"))

  /** [[distStructs]] per half over the matching slice of `v` — the
    * ONE half-distance implementation every multi-index consumer
    * (sub-distance frames, inline pair assignment, inline pair
    * ranking) inherits the determinism contract from. */
  private def halfDistStructs(
      halves: Seq[Seq[(Any, Seq[Double])]]): Seq[Column] = {
    val hf = (size(col("v")) / 2).cast("int")
    val slices = Seq(
      slice(col("v"), lit(1), hf),
      slice(col("v"), hf + 1, size(col("v")) - hf))
    halves.zip(slices).map { case (es, sv) =>
      distStructs(csLiteralFrom(es), sv)
    }
  }

  /** `src` with its rank-1 virtual-cell PAIR computed INLINE —
    * min(struct(d2r, clabel)) per half, [[imiIndexCells]]'s contract
    * with no aggregate and no re-attach join (round 19): the corpus
    * encode side of every multi-index build used to aggregate the
    * exploded sub-distance frame per vector and join the result back
    * to the corpus by vec_id. */
  private def withInlinePair(src: DataFrame,
      halves: Seq[Seq[(Any, Seq[Double])]]): DataFrame = {
    requireUnreserved(src, "pair assignment", "c0", "c1")
    val hd = halfDistStructs(halves)
    src
      .withColumn("c0", array_min(hd(0)).getField("cid"))
      .withColumn("c1", array_min(hd(1)).getField("cid"))
      .filter(col("c0").isNotNull && col("c1").isNotNull)
  }

  /** Fused inline encode: (vec_id, metadata…, c0, c1, rv) with rv =
    * v − [cent0(c0); cent1(c1)] — [[imiPairResiduals]] at the corpus
    * rank-1 shape with assignment, centroid lookup, and subtraction
    * all on the src row (zero joins, zero aggregates). Non-vector
    * input columns RIDE THROUGH the projection (round 20), so a
    * metadata-carrying build never re-attaches them with a
    * corpus-sized join downstream. */
  private def inlinePairResiduals(src: DataFrame,
      halves: Seq[Seq[(Any, Seq[Double])]]): DataFrame = {
    val maps = halves.map(es =>
      if (es.isEmpty) expr("CAST(map() AS map<int,array<double>>)")
      else map(es.flatMap { case (cl, cv) =>
        Seq(lit(cl), array(cv.map(lit(_)): _*)) }: _*))
    val carry = src.columns
      .filterNot(c => c == "v" || c == "vec_id").map(col).toSeq
    withInlinePair(src, halves)
      .select(Seq(col("vec_id")) ++ carry ++ Seq(col("c0"), col("c1"),
        zip_with(col("v"),
          concat(element_at(maps(0), col("c0")),
            element_at(maps(1), col("c1"))),
          (a, b) => a - b).as("rv")): _*)
  }

  /** Top-`nprobe` virtual-cell pairs computed INLINE on the probe row
    * — all k² (sum of rounded half-distances, l0, l1) structs built
    * in one expression, array_sorted ((r0+r1) asc, l0 asc, l1 asc —
    * [[imiProbePairsRanked]]'s window contract verbatim) and sliced;
    * no half self-join, no row_number shuffle (round 19). */
  private def inlineProbePairsRanked(probeSrc: DataFrame,
      halves: Seq[Seq[(Any, Seq[Double])]], nprobe: Int): DataFrame = {
    val hd = halfDistStructs(halves)
    val pairs = flatten(transform(hd(0), a =>
      transform(hd(1), b => struct(
        (a.getField("d2r") + b.getField("d2r")).as("rsum"),
        a.getField("cid").as("l0"),
        b.getField("cid").as("l1")))))
    probeSrc.select(col("vec_id").as("probe_id"),
        posexplode(slice(array_sort(pairs), 1, nprobe)).as(Seq("i", "e")))
      .select(col("probe_id"), col("e.l0").as("l0"),
        col("e.l1").as("l1"), (col("i") + 1).as("rn"))
  }

  /** Per-HALF sub-centroid distances — the shared assignment stage of
    * the inverted multi-index ([[imiTopK]]): train the codebooks from
    * `vecs`, then score every `probeSrc` row against both halves'
    * sub-centroids. Output: (probe_id, sub ∈ {0,1}, clabel, d2r) — one
    * frame serves corpus indexing ([[imiIndexCells]]) and probe
    * expansion ([[imiProbePairs]]), so the two sides cannot diverge on
    * the determinism contract. */
  private[graft] def imiSubDistances(vecs: DataFrame,
      probeSrc: DataFrame): DataFrame =
    imiSubDistancesAgainst(imiSubCentroids(vecs), probeSrc)

  /** Rank-1 (c0, c1) virtual-cell pair per vector of a sub-distance
    * frame — the corpus indexing argmin: one combine-friendly hash
    * aggregate, `min(struct(d2r, clabel))` per half IS the
    * (distance asc, clabel asc) rank-1 contract with no sort, no
    * window, no self-join. */
  private[graft] def imiIndexCells(subD: DataFrame): DataFrame =
    subD.groupBy(col("probe_id"))
      .agg(
        min(when(col("sub") === 0, struct(col("d2r"), col("clabel"))))
          .as("m0"),
        min(when(col("sub") === 1, struct(col("d2r"), col("clabel"))))
          .as("m1"))
      .select(col("probe_id").as("corpus_id"),
        col("m0.clabel").as("c0"), col("m1.clabel").as("c1"))

  /** Top-`nprobe` virtual-cell PAIRS per probe: all k² pairs ranked by
    * the sum of the two rounded half-distances (the multi-sequence
    * ordering, exact because both lists are complete) with (l0, l1)
    * tie-break. */
  private[graft] def imiProbePairs(subD: DataFrame,
      nprobe: Int): DataFrame =
    imiProbePairsRanked(subD, nprobe)
      .select(col("probe_id"), col("l0"), col("l1"))

  /** [[imiProbePairs]] with the pair RANK retained — (probe_id, l0,
    * l1, rn) — so a multi-nprobe enumeration (the recall curve) can
    * scope one pair-ranking pass per operating point with a filter
    * instead of re-ranking. */
  private[graft] def imiProbePairsRanked(subD: DataFrame,
      nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = subD.filter(col("sub") === 0)
      .select(col("probe_id"), col("clabel").as("l0"), col("d2r").as("r0"))
      .join(subD.filter(col("sub") === 1)
        .select(col("probe_id"), col("clabel").as("l1"),
          col("d2r").as("r1")), Seq("probe_id"))
    val wPair = Window.partitionBy(col("probe_id"))
      .orderBy((col("r0") + col("r1")).asc, col("l0").asc, col("l1").asc)
    pairs.withColumn("rn", row_number().over(wPair))
      .filter(col("rn") <= nprobe)
      .select(col("probe_id"), col("l0"), col("l1"), col("rn"))
  }

  /** Inverted multi-index (IMI) ANN — the 100 TB answer to the coarse
    * quantizer itself becoming the bottleneck (Babenko & Lempitsky,
    * "The Inverted Multi-Index", CVPR 2012 — public knowledge,
    * re-derived relationally here). A single-level IVF over N vectors
    * wants ~√N cells to keep cell scans bounded, so at 10⁹+ vectors
    * every probe must compute ~32k centroid distances BEFORE it scans
    * anything — the assignment step inherits the linear scan the index
    * exists to avoid. IMI splits each vector in half and quantizes the
    * halves independently with k sub-centroids each: k² virtual cells
    * (the cross product) from only 2·k distance computations per probe.
    * Here k = the label count per half (the same deterministic
    * label-mean training every gated quantizer row uses), so 10 labels
    * give 100 cells from 20 sub-distances.
    *
    * Shapes: corpus rows are indexed in the PAIR of their rank-1
    * sub-cells (disjoint — each vector lives in exactly one virtual
    * cell, so multi-probe candidates never duplicate); probes rank all
    * k² pairs by the SUM of the two rounded half-distances (the
    * multi-sequence ordering, exact here because both lists are
    * complete) and scan the top `nprobe` pairs with exact cosine.
    * Determinism: per-half round(d2, 6) with clabel tie-break, pair
    * order (d2r0 + d2r1, l0, l1), cosine rounded with neighbor-id
    * tie-break — the [[ivfTopK]] contract extended to pair keys.
    * Scale: sub-centroids broadcast (2·k·dim doubles), the cell join
    * keys on the (l0, l1) pair — hash-partitioned, per-task work
    * bounded by virtual-cell occupancy × nprobe; the corpus never
    * shuffles on the serve path (probe set broadcasts, as all external
    * -probe serves here). With nprobe ≥ k² the probed pairs cover every
    * indexed cell and the result equals [[bruteForceTopK]] exactly
    * (PipelineSpec pins it). */
  def imiTopK(vecs: DataFrame, probes: DataFrame, k: Int,
      nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    // Corpus indexing is a pure inline ARGMIN per (vector, half) —
    // a projection on the corpus row ([[withInlinePair]]); at 100 TB
    // this is the pass that touches every corpus row, so it must not
    // sort, window, self-join, aggregate, or re-attach by id.
    val halves = collectHalves(imiSubCentroids(vecs))
    val assigned = inlineProbePairsRanked(probes, halves, nprobe)
      .select(col("probe_id"), col("l0"), col("l1"))
    val corpus = withInlinePair(withNorm(vecs), halves)
      .select(col("vec_id"), col("v"), col("nrm"), col("c0"), col("c1"))
    imiServe(probes, assigned, corpus, k)
  }

  /** Shared IMI serve stage: broadcast (probe, pair) rows against the
    * pair-indexed corpus, exact cosine, top-k — the in-memory path and
    * the persisted layout serve through this one frame so they cannot
    * diverge on the scoring contract (rounded-cosine desc, neighbor
    * asc). */
  private def imiServe(probes: DataFrame, assigned: DataFrame,
      corpus: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_r").desc, col("neighbor_id").asc)
    imiScored(probes, assigned, corpus)
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** The scored frame under both IMI serve modes (top-k and range):
    * broadcast (probe, pair) rows against the pair-indexed corpus,
    * exact rounded cosine — one definition so the modes cannot diverge
    * on the determinism or deletion contracts. */
  private def imiScored(probes: DataFrame, assigned: DataFrame,
      corpus: DataFrame): DataFrame = {
    val pb = withNorm(probes).select(col("vec_id").as("probe_id"),
      col("v").as("pv"), col("nrm").as("pnrm"))
    broadcast(pb.join(assigned, Seq("probe_id")))
      .join(corpus,
        col("l0") === col("c0") && col("l1") === col("c1") &&
          col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("l0"), col("l1"),
        col("vec_id").as("neighbor_id"),
        round(dot(col("pv"), col("v")) / (col("pnrm") * col("nrm")), 6)
          .as("cos_r"))
  }

  /** Persist the inverted multi-index: the two half-vector codebooks
    * to `centroids/` and the corpus — each row in its rank-1 (c0, c1)
    * virtual cell — to `index/`, partitioned by BOTH pair keys, so a
    * serve's (l0, l1) equi-join partition-prunes to exactly the probed
    * pairs. `cents` is passed explicitly (an [[imiSubCentroids]]
    * frame), the [[writeIvfIndex]] trainer-separation contract: the
    * quantizer may be trained on a different corpus slice than the
    * batch being indexed, which is what makes the append leg exact.
    * Codebook means are doubles — parquet round-trips them exactly, so
    * the persisted serve is bit-identical to [[imiTopK]] under the
    * same codebooks (spec-pinned). */
  def writeImiIndex(vecs: DataFrame, cents: DataFrame,
      dir: String): Unit =
    buildLayout(vecs.sparkSession, dir, ImiLayout) {
      cents.write.mode("overwrite").parquet(s"$dir/centroids")
      // All input columns persist (metadata like `label` rides beside
      // the vector), so [[searchImiIndexWhere]]'s predicate pushes to
      // the stored scan — the same filtered-serve contract as the flat
      // layout. The pair assignment is inline on the corpus row
      // ([[withInlinePair]]) — no aggregate, no re-attach join.
      withInlinePair(withNorm(vecs), collectHalves(
        vecs.sparkSession.read.parquet(s"$dir/centroids")))
    }

  /** APPEND a corpus batch to a persisted [[writeImiIndex]] layout:
    * the batch assigns against the STORED codebooks (the quantizer is
    * fixed once trained — FAISS's `add` contract), so write(A) then
    * append(B) serves identically to write(A ∪ B) under the same
    * codebooks (spec-pinned bit-for-bit). The batch must carry the
    * SAME column set the index was built with (metadata columns
    * persist beside the vector for the filtered serve) — ENFORCED by
    * [[appendRows]], with the rest of the shared append leg. */
  def appendImiIndex(spark: org.apache.spark.sql.SparkSession,
      vecs2: DataFrame, dir: String): Unit = {
    requireLayout(spark, dir, ImiLayout)
    appendRows(spark, dir, ImiLayout, vecs2,
      withInlinePair(withNorm(vecs2),
        collectHalves(spark.read.parquet(s"$dir/centroids"))),
      "appendImiIndex")
  }

  /** Serve a persisted [[writeImiIndex]] layout: probes rank virtual-
    * cell pairs against the stored codebooks ([[imiProbePairs]]) and
    * the pair-partitioned index is joined on BOTH cell keys — the
    * probed-pair set drives partition pruning, so the scan reads
    * ~nprobe/k² of the corpus. Deleted ids ([[deleteFromIvfIndex]] —
    * the tombstone table is layout-agnostic) mask via one broadcast
    * anti-join before scoring. Same serve frame as [[imiTopK]]
    * ([[imiServe]]), so the contract cannot diverge. */
  def searchImiIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, probes: DataFrame, k: Int,
      nprobe: Int = 1): DataFrame =
    searchImiIndexImpl(spark, dir, probes, k, nprobe, None)

  /** [[searchImiIndex]] with a metadata predicate pushed to the stored
    * index scan — serve only rows satisfying `pred`, equivalent to a
    * pre-filtered index without building one (the flat layout's
    * [[searchIvfIndexWhere]] contract at the pair shape). */
  def searchImiIndexWhere(spark: org.apache.spark.sql.SparkSession,
      dir: String, probes: DataFrame, k: Int, nprobe: Int,
      pred: Column): DataFrame =
    searchImiIndexImpl(spark, dir, probes, k, nprobe, Some(pred))

  private def searchImiIndexImpl(spark: org.apache.spark.sql.SparkSession,
      dir: String, probes: DataFrame, k: Int, nprobe: Int,
      pred: Option[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_r").desc, col("neighbor_id").asc)
    imiScoredFromIndex(spark, dir, probes, nprobe, pred)
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Cosine radius search over a persisted [[writeImiIndex]] layout —
    * the range mode of the pair-partitioned serve: all neighbors in
    * the probed pairs with cos ≥ tau, no ranking window. Same scored
    * frame as the top-k serve, so the modes cannot diverge; same
    * nprobe recall bound (a neighbor outside the probed pairs is not
    * seen — the IVF-family contract). */
  def searchImiIndexRange(spark: org.apache.spark.sql.SparkSession,
      dir: String, probes: DataFrame, tau: Double,
      nprobe: Int = 1): DataFrame =
    imiScoredFromIndex(spark, dir, probes, nprobe, None)
      .filter(col("cos_r") >= tau)

  /** The scored frame of the persisted-IMI serves (top-k, filtered,
    * range): probe pairs against the STORED codebooks, pair-equi join
    * into the pair-partitioned index (DPP-prunable, tombstone mask
    * applied), rounded cosine. */
  private def imiScoredFromIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      probes: DataFrame, nprobe: Int, pred: Option[Column]): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    requireLayout(spark, dir, ImiLayout)
    val cents = spark.read.parquet(s"$dir/centroids")
    val assigned = inlineProbePairsRanked(probes, collectHalves(cents),
        nprobe)
      .select(col("probe_id"), col("l0"), col("l1"))
    imiScored(probes, assigned,
      liveRows(spark, dir, ImiLayout, readTombstones(spark, dir), pred))
  }

  /** Physically COMPACT a persisted [[writeImiIndex]] layout:
    * [[compactLayout]] over the multi-index's TWO-LEVEL partitioning —
    * the replace unit is the leaf pair dir `c0=X/c1=Y`; the parent
    * level is only a directory shell. */
  def compactImiIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    compactLayout(spark, dir, ImiLayout)

  /** Half-codebook mean ARRAYS — (sub, clabel, cv) with cv ordered by
    * pos ([[centroidArrays]]'s shape at the half-codebook key):
    * array_sort on the (pos, cmean) struct sorts on the first field,
    * so the order is deterministic regardless of collect_list's
    * partition order. 2·k rows of dim/2 doubles: always
    * broadcastable. Serves BOTH codebook shapes — label-mean
    * ([[imiSubCentroids]], absolute positions) and trained
    * ([[imiTrainedAsSubCents]], rebased positions): positions are
    * only an ordering key within a half, and both shapes order the
    * half's dims identically. */
  private def imiCentArrays(cents: DataFrame): DataFrame =
    cents.groupBy(col("sub"), col("clabel"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cmean"))))
        .as("p"))
      .select(col("sub"), col("clabel"),
        expr("transform(p, q -> q.cmean)").as("cv"))

  /** Residuals against the CONCATENATED pair centroid — rv = v −
    * [cent0(c0); cent1(c1)], the multi-index's natural coarse
    * reconstruction (each half's quantizer explains its half): one
    * row per (vector, assigned pair). `assign` carries (vec_id, c0,
    * c1) — rank-1 pairs on the corpus encode side (one row per
    * vector), probed pairs on the query side (nprobe rows per probe —
    * the residual is pair-dependent, exactly [[residualsOf]]'s
    * n = nprobe shape at the pair key). `broadcastAssign` marks the
    * assignment side broadcastable — set it on PROBE-side calls; the
    * corpus-side encode assignment is corpus-sized and the co-keyed
    * join is the correct build shape. The half-mean arrays broadcast
    * (2·k rows) and concat per matched pair — all k² pair centroids
    * are never materialized, only the pairs rows actually need. */
  private def imiPairResiduals(src: DataFrame, assign: DataFrame,
      cents: DataFrame, broadcastAssign: Boolean = false): DataFrame = {
    val ca = imiCentArrays(cents)
    val a0 = broadcast(ca.filter(col("sub") === 0)
      .select(col("clabel").as("c0"), col("cv").as("cv0")))
    val a1 = broadcast(ca.filter(col("sub") === 1)
      .select(col("clabel").as("c1"), col("cv").as("cv1")))
    val asg = if (broadcastAssign) broadcast(assign) else assign
    src.join(asg, Seq("vec_id"))
      .join(a0, Seq("c0")).join(a1, Seq("c1"))
      .select(col("vec_id"), col("c0"), col("c1"),
        zip_with(col("v"), concat(col("cv0"), col("cv1")),
          (a, b) => a - b).as("rv"))
  }

  /** The ENCODE half of [[imiPqTopK]] split out ([[ivfPqrEncode]]'s
    * shape at the pair key) — (residual codebook, residual codes) of
    * a pair-indexed corpus: codes carry (vec_id, sub, cid, c0, c1),
    * m small ints + the pair keys per vector instead of dim·8 B of
    * floats. A multi-operating-point enumeration (the recall curve)
    * computes this ONCE; codes are nprobe-independent. */
  private[graft] def imiPqEncode(vecs: DataFrame, cents: DataFrame,
      m: Int, codebookK: Int): (DataFrame, DataFrame) = {
    // Fused inline encode (round 19): assignment + residual in one
    // projection ([[inlinePairResiduals]]), pair keys riding through
    // the code assignment — no per-vector aggregate, no re-attach
    // joins anywhere on the encode path.
    val rcorp = inlinePairResiduals(vecs, collectHalves(cents))
    val rv = rcorp.select(col("vec_id"), col("rv").as("v"))
    val rcb = codebookOf(rv, m, codebookK)
    val codes = pqCodesAgainst(rcb,
      rcorp.select(col("vec_id"), col("c0"), col("c1"),
        col("rv").as("v")), m)
    (rcb, codes)
  }

  /** Shared serve of the Multi-D-ADC composition ([[imiPqTopK]] and
    * the recall curve's PQ rung route here): probes residualize
    * against each PROBED pair's concatenated centroid, the per-
    * (probe, pair) distance table builds against the residual
    * codebook, ADC nominates `rerankDepth` candidates per probe from
    * the probed pairs only, and ONLY those candidates' raw vectors
    * are fetched back for the exact-cosine re-rank — [[pqrServe]]'s
    * contract at the pair key. Each corpus vector lives in exactly
    * one virtual cell, so a (probe, vec) ADC group sums exactly m
    * terms (candidates never duplicate across probed pairs).
    * Determinism: the family contract — exact-decimal ADC sums with
    * vec-id tie-break for the shortlist, 6-dp cosine with neighbor-id
    * tie-break for the final rank. Scale: dtab is probe-bounded
    * (|probes|·nprobe·m·codebookK rows) and broadcasts; the code scan
    * joins it within probed pairs only; the float fetch is shortlist-
    * bounded (|probes|·rerankDepth rows probe the corpus scan — the
    * corpus floats never shuffle and never broadcast). */
  private def imiPqServeEncoded(codes: DataFrame, rcb: DataFrame,
      cents: DataFrame, vecs: DataFrame, probes: DataFrame,
      assigned: DataFrame, k: Int, m: Int, rerankDepth: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rerankDepth >= k, s"rerankDepth $rerankDepth must cover k=$k")
    val wC = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_r").desc, col("neighbor_id").asc)
    imiPqRefined(codes, rcb, cents, vecs, probes, assigned, m,
        rerankDepth)
      .withColumn("rnk", row_number().over(wC))
      .filter(col("rnk") <= k)
  }

  /** The exact-refined scored frame under both Multi-D-ADC serve modes
    * (top-k and range): ADC-shortlist the probed pairs to
    * `rerankDepth` candidates, fetch ONLY those candidates' floats,
    * exact 6-dp cosine — one definition so the modes cannot diverge on
    * the determinism, shortlist, or deletion contracts (the
    * [[imiScored]] split at the encoded shape). The range mode
    * thresholds this frame directly: approximate distances GATE the
    * shortlist, the exact refine applies the radius — a true neighbor
    * outside the depth-`rerankDepth` ADC shortlist is not seen, the
    * same recall knob as the top-k mode (documented, measured by the
    * recall curve). */
  private def imiPqRefined(codes: DataFrame, rcb: DataFrame,
      cents: DataFrame, vecs: DataFrame, probes: DataFrame,
      assigned: DataFrame, m: Int, rerankDepth: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wS = Window.partitionBy(col("probe_id"))
      .orderBy(col("adist").asc, col("vec_id").asc)
    val short = broadcast(
      imiPqAdcScores(codes, rcb, cents, probes, assigned, m)
        .withColumn("srnk", row_number().over(wS))
        .filter(col("srnk") <= rerankDepth)
        .select(col("probe_id"), col("vec_id").as("neighbor_id")))
    val pv = broadcast(withNorm(probes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm")))
    short
      .join(withNorm(vecs).select(col("vec_id").as("neighbor_id"),
        col("v"), col("nrm")), Seq("neighbor_id"))
      .join(pv, Seq("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(dot(col("pv"), col("v")) / (col("pnrm") * col("nrm")), 6)
          .as("cos_r"))
  }

  /** The ADC distance frame of the Multi-D-ADC serve — (probe_id,
    * vec_id, adist) over the probed pairs only, split out so the
    * recall curve can rank ONE scored frame per operating point
    * (each (probe, vec) row belongs to exactly one pair, so scoping
    * by pair rank downstream is a filter, not a re-score). */
  private def imiPqAdcScores(codes: DataFrame, rcb: DataFrame,
      cents: DataFrame, probes: DataFrame, assigned: DataFrame,
      m: Int): DataFrame = {
    val passign = assigned.select(col("probe_id").as("vec_id"),
      col("l0").as("c0"), col("l1").as("c1"))
    val psubs = imiPairResiduals(probes, passign, cents,
        broadcastAssign = true)
      .select(col("vec_id").as("probe_id"), col("c0").as("l0"),
        col("c1").as("l1"),
        explode(expr(s"sequence(0, ${m - 1})")).as("sub"), col("rv"))
      .select(col("probe_id"), col("l0"), col("l1"), col("sub"),
        expr(s"slice(rv, sub * (size(rv) div $m) + 1, size(rv) div $m)")
          .as("sv"))
    val dtab = psubs.join(broadcast(rcb), Seq("sub"))
      .select(col("probe_id"), col("l0"), col("l1"), col("sub"),
        col("cid"),
        (dot(col("sv"), col("sv")) - lit(2.0) * dot(col("sv"), col("cv")) +
          dot(col("cv"), col("cv"))).as("pd2"))
    codes.join(broadcast(dtab),
        codes("sub") === dtab("sub") && codes("cid") === dtab("cid") &&
          col("c0") === col("l0") && col("c1") === col("l1") &&
          col("probe_id") =!= col("vec_id"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(round(col("pd2"), 6).cast("decimal(18,6)")).cast("double")
        .as("adist"))
  }

  /** IMI index health report — [[ivfCellStats]] at the pair shape:
    * per-VIRTUAL-CELL occupancy, corpus share, and balance (occupancy
    * relative to uniform over the occupied pairs; 1.0 is perfectly
    * balanced). Pair imbalance is the multi-index's operational
    * failure mode twice over: a mega-pair makes every probe that
    * ranks it scan far more than corpus·nprobe/k², AND a half whose
    * sub-quantizer collapsed (many empty rows in the k×k grid) wastes
    * the k² granularity the two-level design pays for — this is the
    * view a deployment watches to decide when to re-train the half
    * codebooks. Cost: the corpus assignment pass (shared shape with
    * every IMI build) + a ≤k²-row aggregate; the one-row total
    * broadcasts. */
  def imiPairStats(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val occ = withInlinePair(vecs.select(col("v")), collectHalves(cents))
      .groupBy(col("c0"), col("c1")).agg(count(lit(1)).as("n_vectors"))
    val tot = occ.agg(sum(col("n_vectors")).as("total"),
      count(lit(1)).as("n_pairs"))
    occ.crossJoin(broadcast(tot))
      .select(col("c0"), col("c1"), col("n_vectors"),
        (col("n_vectors").cast("double") / col("total").cast("double"))
          .as("share"),
        (col("n_vectors").cast("double") * col("n_pairs").cast("double") /
          col("total").cast("double")).as("balance"))
  }

  /** Occupancy-derived ADC shortlist depth — the sizing rule that
    * connects [[imiPairStats]] to the Multi-D-ADC serves: rerankDepth
    * = max(k, ceil(q · largest-pair-occupancy)). Why the MAX pair and
    * not the mean: the clustered-corpus recall curve established that
    * depth RELATIVE TO PAIR OCCUPANCY is the recall knob (depth 40
    * against ~400-vector pairs capped recall at .73 at sf0.1) — a
    * single mega-pair silently caps recall no matter how balanced the
    * rest of the grid is, so at q = 1 the shortlist can absorb the
    * biggest virtual cell whole and no cell can cap recall by itself;
    * lower q trades refine bytes for recall KNOWINGLY (each shortlist
    * row costs dim·8 B in the refine fetch). SCALING.md records the
    * measured sf0.1 procedure. Cost: one collect of the ≤k²-row stats
    * frame — metadata-bounded (the [[imiPairStats]] scale class, same
    * as the compaction pair lists). */
  def imiSuggestedRerankDepth(stats: DataFrame, k: Int,
      q: Double = 1.0, floor: Int = 40): Int = {
    require(q > 0, s"occupancy fraction q must be > 0, got $q")
    suggestedRerankDepth(maxOccupancy(stats), k, q, floor)
  }

  /** The largest `n_vectors` of an occupancy frame; 0 when it is empty
    * (empty corpus / freshly drained index: max() is NULL — the floor
    * applies instead of an opaque NPE). */
  private def maxOccupancy(stats: DataFrame): Long =
    // The per-cell rows are collected (≤ k² of them) and maxed
    // locally: one Spark job fewer than a global max() aggregate.
    stats.select(col("n_vectors")).collect()
      .filterNot(_.isNullAt(0)).map(_.getLong(0)).foldLeft(0L)(math.max)

  /** [[imiSuggestedRerankDepth]]'s rule over an already-known largest
    * occupancy. Never below the shipped default (`floor` = the serve's
    * rerankDepth default): the rule RAISES depth when the grid holds
    * cells bigger than the default can absorb — a larger shortlist is
    * a superset, so recall is monotone and the suggestion can only
    * help (spec-pinned). */
  private def suggestedRerankDepth(maxOcc: Long, k: Int, q: Double = 1.0,
      floor: Int = 40): Int =
    math.max(math.max(k, floor), math.ceil(q * maxOcc).toInt)

  /** Materialize the Multi-D-ADC index — the 13th persisted layout:
    * the two half codebooks, the residual PQ codebook, and every
    * vector's m-byte PAIR-RESIDUAL code written partitioned by BOTH
    * pair keys (c0, c1). The stored corpus is CODES + METADATA (fmt 2:
    * every non-vector input column rides beside the code rows, the
    * fleet's filtered-serve contract — [[searchImiPqIndexWhere]]
    * pushes its predicate into the pair-pruned code scan exactly as
    * [[searchImiIndexWhere]] does on the raw layout); raw floats still
    * appear nowhere in the index — metadata here is integers/short
    * strings, so the m-bytes-per-vector size story survives —
    * [[searchImiPqIndex]]'s refine fetch reads the caller-supplied
    * corpus. `cents` is an [[imiSubCentroids]]
    * frame (trainer separation, as [[writeImiIndex]]); `quantizer`
    * optionally trains the RESIDUAL codebook on a different corpus
    * than the batch being indexed (the incremental-ingestion shape —
    * train once on the representative corpus, build on the first
    * batch, [[appendImiPqIndex]] the rest). Both quantizer tables
    * persist FIRST and codes assign against the RE-READ state, so a
    * later append encodes against byte-identical quantizers. */
  def writeImiPqIndex(vecs: DataFrame, cents: DataFrame, dir: String,
      m: Int = 4, codebookK: Int = 8,
      quantizer: Option[DataFrame] = None): Unit = {
    val spark = vecs.sparkSession
    buildLayout(spark, dir, ImiPqLayout, "m" -> m.toString,
        "codebookK" -> codebookK.toString) {
      cents.write.mode("overwrite").parquet(s"$dir/centroids")
      // Fused inline encode (round 19): assignment + residual in one
      // projection on the corpus row — no per-vector argmin aggregate,
      // no re-attach join.
      val halves = collectHalves(spark.read.parquet(s"$dir/centroids"))
      val rcorp = inlinePairResiduals(vecs, halves)
      // The default (quantizer = batch) REUSES the batch's own residual
      // frame for codebook training — computing the same assignment
      // twice measured ~1.5 s/row at sf0.1 for nothing.
      val qres = quantizer.map(qsrc => inlinePairResiduals(qsrc, halves))
        .getOrElse(rcorp)
      codebookOf(qres.select(col("vec_id"), col("rv").as("v")), m,
          codebookK)
        .write.mode("overwrite").parquet(s"$dir/codebook")
      imiPqCodeRows(spark.read.parquet(s"$dir/codebook"), rcorp, vecs, m)
    }
  }

  /** The stored code-row frame shared by the imi_pq build and append
    * legs: (vec_id, sub, cid, metadata…, c0, c1) — the m-byte residual
    * codes with every non-vector input column attached (each vector's
    * m sub-rows carry identical metadata, so a filtered serve's
    * predicate keeps or drops whole vectors and the ADC group still
    * sums exactly m terms). The metadata join keys on vec_id like the
    * pair join beside it — same co-partitioning, no extra exchange
    * class at build time. */
  private def imiPqCodeRows(codebook: DataFrame, rcorp: DataFrame,
      vecs: DataFrame, m: Int): DataFrame = {
    val metaCols = vecs.columns.filterNot(c => c == "v" || c == "vec_id")
    // Pair keys (round 19) AND metadata (round 20) ride through the
    // code assignment — zero re-attach joins on the encode path: the
    // residual frame is a pure projection of the input row, so every
    // input column is already beside the residual when the code
    // argmin runs.
    val base = pqCodesAgainst(codebook, rcorp.select(
      (Seq(col("vec_id")) ++ metaCols.map(col) ++
        Seq(col("c0"), col("c1"), col("rv").as("v"))): _*), m)
    base.select((Seq("vec_id", "sub", "cid") ++ metaCols ++
      Seq("c0", "c1")).map(col): _*)
  }

  /** APPEND a corpus batch to a persisted [[writeImiPqIndex]] layout:
    * the batch assigns pairs against the STORED half codebooks and
    * encodes against the STORED residual codebook (both quantizer
    * levels fixed once trained — FAISS's `add` contract), so
    * write(A, quantizer = A ∪ B) then append(B) serves bit-identically
    * to the monolithic build (spec-pinned). Since fmt 2 the code rows
    * carry the input's metadata columns for the filtered serve, so the
    * batch gates through [[FsOps.requireAppendColumns]] (name + type) like
    * every metadata-carrying append leg; the sidecar still rejects a
    * mismatched `m` loudly. */
  def appendImiPqIndex(spark: org.apache.spark.sql.SparkSession,
      vecs2: DataFrame, dir: String, m: Int = 4): Unit = {
    requireLayout(spark, dir, ImiPqLayout, "m" -> m.toString)
    val rcorp = inlinePairResiduals(vecs2,
      collectHalves(spark.read.parquet(s"$dir/centroids")))
    appendRows(spark, dir, ImiPqLayout, vecs2,
      imiPqCodeRows(spark.read.parquet(s"$dir/codebook"), rcorp, vecs2, m),
      "appendImiPqIndex")
  }

  /** Sentinel `rerankDepth` for the persisted Multi-D-ADC serves:
    * derive the ADC shortlist depth from the STORED index's pair
    * occupancy at serve time — max(k, 40, max-pair-occupancy), the
    * [[imiSuggestedRerankDepth]] rule at q = 1 over one ≤ k²-row
    * aggregate of the code table. A fixed default on a clustered
    * corpus silently caps recall (the recall curve measured depth 40
    * against ~400-vector pairs capping at .73); auto sizes the
    * shortlist so no single virtual cell can cap it. Costs one extra
    * metadata-bounded aggregate per serve; deployments that pinned a
    * measured depth keep passing it explicitly. */
  val AutoRerankDepth: Int = -1

  /** Serve a persisted [[writeImiPqIndex]] layout: probes rank pairs
    * against the stored half codebooks, the pair-partitioned CODE
    * scan joins the broadcast per-(probe, pair) distance table, and
    * the ADC shortlist re-ranks with exact cosine over the supplied
    * corpus floats ([[imiPqServeEncoded]] — the same serve frame as
    * the in-memory [[imiPqTopK]], so the contracts cannot diverge;
    * parquet round-trips the doubles, so results are bit-identical at
    * the same parameters, spec-pinned). Tombstones mask the code
    * rows BEFORE the ADC shortlist, the fleet contract. */
  def searchImiPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecs: DataFrame, probes: DataFrame, k: Int,
      m: Int = 4, nprobe: Int = 2, rerankDepth: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wC = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_r").desc, col("neighbor_id").asc)
    require(rerankDepth == AutoRerankDepth || rerankDepth >= k,
      s"rerankDepth $rerankDepth must cover k=$k (or AutoRerankDepth)")
    imiPqRefinedFromIndex(spark, dir, vecs, probes, m, nprobe,
        rerankDepth, None, k)
      .withColumn("rnk", row_number().over(wC))
      .filter(col("rnk") <= k)
  }

  /** [[searchImiPqIndex]] with a metadata predicate pushed to the
    * stored CODE scan — the code rows carry every non-vector input
    * column (fmt 2), so the predicate filters candidates BEFORE the
    * ADC shortlist (a non-matching row can never be nominated, so the
    * depth-`rerankDepth` shortlist is spent entirely on matching
    * rows — equivalent to a pre-filtered index without building one;
    * [[searchImiIndexWhere]]'s contract at the encoded shape). */
  def searchImiPqIndexWhere(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecs: DataFrame, probes: DataFrame, k: Int,
      pred: Column, m: Int = 4, nprobe: Int = 2,
      rerankDepth: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wC = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_r").desc, col("neighbor_id").asc)
    require(rerankDepth == AutoRerankDepth || rerankDepth >= k,
      s"rerankDepth $rerankDepth must cover k=$k (or AutoRerankDepth)")
    imiPqRefinedFromIndex(spark, dir, vecs, probes, m, nprobe,
        rerankDepth, Some(pred), k)
      .withColumn("rnk", row_number().over(wC))
      .filter(col("rnk") <= k)
  }

  /** Cosine radius search over a persisted [[writeImiPqIndex]] layout
    * — the range mode of the encoded serve: ADC distances GATE the
    * depth-`rerankDepth` shortlist, the exact refine applies the
    * radius (all shortlisted neighbors with cos ≥ tau, no ranking
    * window — the standard approximate-range composition). Recall
    * bound: a true neighbor outside the probed pairs OR below the ADC
    * shortlist depth is not seen; rerankDepth is the dial (size it
    * from [[imiPairStats]] occupancy — SCALING.md records the
    * procedure). */
  def searchImiPqIndexRange(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecs: DataFrame, probes: DataFrame, tau: Double,
      m: Int = 4, nprobe: Int = 2, rerankDepth: Int = 40): DataFrame =
    imiPqRefinedFromIndex(spark, dir, vecs, probes, m, nprobe,
        rerankDepth, None, 1)
      .filter(col("cos_r") >= tau)

  /** The refined scored frame of the persisted Multi-D-ADC serves
    * (top-k, filtered, range): stored quantizers, tombstone mask, then
    * the optional metadata predicate on the pair-partitioned code
    * scan, then [[imiPqRefined]] — one read path so the three modes
    * cannot diverge on masking order or the scoring contract. */
  private def imiPqRefinedFromIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      vecs: DataFrame, probes: DataFrame, m: Int, nprobe: Int,
      rerankDepth: Int, pred: Option[Column], k: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    requireLayout(spark, dir, ImiPqLayout, "m" -> m.toString)
    val cents = spark.read.parquet(s"$dir/centroids")
    val codebook = spark.read.parquet(s"$dir/codebook")
    // Read once, mask once, THEN branch: the LIVE (tombstone-masked,
    // pre-predicate) frame is both the occupancy source and the serve
    // scan's input, and the predicate commutes with the mask (both row
    // filters).
    val live = liveRows(spark, dir, ImiPqLayout, readTombstones(spark, dir))
    val codes = pred.foldLeft(live)(_ filter _)
    // [[AutoRerankDepth]]: occupancy of the live code rows — each
    // vector stores m sub-rows, so count div m per pair is the exact
    // [[imiPairStats]] occupancy, read from the index itself (one
    // ≤ k²-row aggregate; never the raw corpus). Derived BEFORE the
    // metadata predicate: the depth sizes the grid, and filtered
    // serves must not shrink their shortlist just because few rows
    // match.
    val depth =
      if (rerankDepth != AutoRerankDepth) rerankDepth
      else imiSuggestedRerankDepth(
        live.groupBy(col("c0"), col("c1"))
          .agg(expr(s"count(1) div $m").as("n_vectors")), k)
    val assigned = inlineProbePairsRanked(probes, collectHalves(cents),
        nprobe)
      .select(col("probe_id"), col("l0"), col("l1"))
    imiPqRefined(codes, codebook, cents, vecs, probes, assigned, m,
      depth)
  }

  /** Physically COMPACT a persisted [[writeImiPqIndex]] layout — the
    * pair-leaf rewrite of [[compactImiIndex]] over the `codes/` table. */
  def compactImiPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    compactLayout(spark, dir, ImiPqLayout)

  /** Multi-D-ADC with an exact refine stage — the inverted
    * multi-index with PRODUCT-QUANTIZED residual codes in its virtual
    * cells (Babenko & Lempitsky, CVPR 2012 §5's "Multi-D-ADC"
    * composition; the by-residual encoding and the refine wrapper are
    * Jégou et al. 2011 §V — public knowledge, re-derived relationally
    * here). [[imiTopK]] stores raw floats in its pair cells, so every
    * probed candidate costs dim·8 B and the curve honestly records the
    * multi-index losing to single-level rungs at equal bytes on
    * structureless corpora; THIS is the published fix that makes the
    * multi-index's bytes story work at 10⁹ vectors: each cell row is
    * an m-byte code of the residual v − [cent0(c0); cent1(c1)] (the
    * concatenated pair centroid), probed pairs scan by ADC table
    * lookups (m small-int joins per candidate, no vector math), and
    * only the `rerankDepth` shortlist fetches floats for the
    * exact-cosine re-rank. Candidate bytes drop from 512 B to m B;
    * the refine fetch is probe-bounded (rerankDepth·dim doubles per
    * probe), never corpus-bounded. Half-codebooks here are the
    * label-mean trainers every gated IMI row uses ([[imiSubCentroids]]
    * — the trained-Lloyd variant feeds the recall curve's rung).
    * With nprobe ≥ k² and rerankDepth ≥ corpus size this degenerates
    * to exact brute force (spec-pinned), making both knobs pure
    * recall/bytes dials.
    *
    * Reference-capability context: the serve generalizes the
    * decorator's enrichment-lookup shape
    * (`decorator/index.js:166-177`) like every ANN serve here. */
  def imiPqTopK(vecs: DataFrame, probes: DataFrame, k: Int,
      m: Int = 4, codebookK: Int = 8, nprobe: Int = 2,
      rerankDepth: Int = 40): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val cents = imiSubCentroids(vecs)
    val assigned = inlineProbePairsRanked(probes, collectHalves(cents),
        nprobe)
      .select(col("probe_id"), col("l0"), col("l1"))
    val (rcb, codes) = imiPqEncode(vecs, cents, m, codebookK)
    imiPqServeEncoded(codes, rcb, cents, vecs, probes, assigned, k, m,
      rerankDepth)
  }

  /** IVF-blocked k-NN JOIN: every vector is a probe — for each of the
    * n corpus vectors, its k nearest OTHER vectors by cosine. This is
    * the all-pairs analog of [[ivfTopK]] and the operator an embedding
    * dedup/linking pass runs corpus-wide, so the plan must differ from
    * the single-probe path in one crucial way: the probe side is the
    * WHOLE corpus and is never broadcast. Both sides of the cell scan
    * shuffle on the cell key (`assigned_label` = `label`) — a plain
    * co-partitioned equi-join whose per-task work is bounded by cell
    * size × nprobe, not n². At 100 TB the quadratic term lives inside
    * cells (corpus/n_cells per cell, tunable via the quantizer), every
    * exchange is keyed by cell or probe id, and the final per-probe
    * top-k is the rank-window form the topk rewrite turns into the
    * spillable [[graft.plans]] TopKPerKeyExec. Multi-probe (`nprobe`)
    * trades scan fraction for boundary recall exactly as in
    * [[ivfTopK]]; cells are disjoint so candidates never duplicate.
    * Determinism: rounded-L2² assignment with label tie-break, rounded
    * cosine with neighbor-id tie-break — same contract as [[ivfTopK]]. */
  def knnJoin(vecs: DataFrame, k: Int, nprobe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = assignCells(vecs, vecs, nprobe)
    // Probe rows re-keyed by their assigned cell(s): corpus-sized, so
    // this join (probe_id) and the cell scan below (cell key) are both
    // shuffle equi-joins — no broadcast anywhere on the corpus path.
    val pb = withNorm(vecs).select(col("vec_id").as("probe_id"),
      col("v").as("pv"), col("nrm").as("pnrm"))
      .join(assigned, Seq("probe_id"))
    val scored = pb
      .join(withNorm(vecs),
        col("assigned_label") === col("label") &&
          col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"),
        col("vec_id").as("neighbor_id"),
        round(dot(col("pv"), col("v")) / (col("pnrm") * col("nrm")), 6)
          .as("cos_r"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_r").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** SELF-INDEXED k-NN join — [[knnJoin]] with the corpus side blocked
    * by each vector's OWN nearest centroid (its IVF index cell, the
    * assignment rank-1 row) instead of its metadata label. This is the
    * textbook IVF shape: vectors are indexed where the quantizer puts
    * them, so a probe's nprobe nearest cells always INCLUDE its own
    * index cell — an exact duplicate (identical vector ⇒ identical
    * ranked assignment) is therefore found at ANY nprobe, a guarantee
    * the label-blocked [[knnJoin]] cannot make when labels and
    * quantizer geometry disagree (on the structureless fixture a
    * vector's nearest centroid is usually NOT its label's). Use this
    * for duplicate DETECTION; use the label-blocked form when the
    * labels themselves are the trusted clustering. One
    * [[assignCellsRanked]] aggregation serves both sides. */
  def knnJoinIndexed(vecs: DataFrame, k: Int, nprobe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The two consumers filter the assignment at different ranks
    // (index = rn 1, probes = rn ≤ nprobe); Catalyst pushes DIFFERENT
    // WindowGroupLimits into the two branches, so they stop being
    // sameResult and the corpus×cells distance aggregation runs twice
    // (verified in the executed plan — only the centroid broadcast is
    // a ReusedExchange). MEASURED decision to keep it: persist() and
    // localCheckpoint() of the assignment both ran SLOWER at sf0.1
    // (2.42 s / 2.28 s vs 2.10 s) because caching defeats the
    // map-side partial WindowGroupLimit and forces full
    // materialization — the same lesson as the LSH chain's documented
    // "persisting sigs was measured slower". At a scale where the
    // double assignment pass dominates, materialize the index OUTSIDE
    // the query: [[writeKnnAssignIndex]] persists the ranked table
    // once and [[knnJoinFromIndex]] serves both branches from it,
    // bit-identically (PipelineSpec pins the parity).
    val ranked = assignCellsRanked(vecs, vecs, nprobe)
    val probeCells = ranked.select(col("probe_id"), col("assigned_label"))
    val indexCells = ranked.filter(col("rn") === 1)
      .select(col("probe_id").as("corpus_id"),
        col("assigned_label").as("cell"))
    val pb = withNorm(vecs).select(col("vec_id").as("probe_id"),
      col("v").as("pv"), col("nrm").as("pnrm"))
      .join(probeCells, Seq("probe_id"))
    val corpus = withNorm(vecs)
      .join(indexCells, col("vec_id") === col("corpus_id"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    val scored = pb
      .join(corpus,
        col("assigned_label") === col("cell") &&
          col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"),
        col("vec_id").as("neighbor_id"),
        round(dot(col("pv"), col("v")) / (col("pnrm") * col("nrm")), 6)
          .as("cos_r"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_r").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Materialize [[knnJoinIndexed]]'s ranked cell assignment next to
    * the corpus — the fix knnJoinIndexed's note prescribes for the
    * double-assignment pass: the rn=1 rows ARE the corpus's index
    * cells and rn ≤ nprobe the probe expansion, and both consumers
    * force the corpus×centroids distance aggregation to run once per
    * branch when the assignment is live lineage (caching it in-query
    * measured SLOWER — it defeats the pushed WindowGroupLimit). A
    * BUILD is the "materialize outside the query" case: the
    * aggregation runs exactly once here, and [[knnJoinFromIndex]]
    * serves both branches from the stored (probe_id, cell, rn) table
    * — all integers, so parquet round-trips it exactly and the served
    * join is bit-identical to the in-memory twin. */
  def writeKnnAssignIndex(vecs: DataFrame, dir: String,
      nprobe: Int = 1): Unit = {
    // Subdir layout (`assign/` under the index root, like `index/` and
    // `codes/`): the root holds the meta sidecar and an optional
    // tombstone table, which must not sit inside a parquet table's
    // own directory listing.
    clearTombstones(vecs.sparkSession, dir)
    assignCellsRanked(vecs, vecs, nprobe)
      .write.mode("overwrite").parquet(s"$dir/assign")
    IndexMeta.write(vecs.sparkSession, dir,
      "layout" -> "knn_assign", "nprobe" -> nprobe.toString,
      "fmt" -> "1")
  }

  /** [[knnJoinIndexed]] served from a [[writeKnnAssignIndex]] table:
    * identical scoring/tie-break contract, but the assignment pass is
    * a parquet scan — rn=1 rows block the corpus side, rn ≤ nprobe
    * rows expand the probe side (`nprobe` may be LOWERED below the
    * built rank to trade recall for scan fraction without rebuilding;
    * asking for MORE than the index stored fails loudly via the
    * [[IndexMeta]] sidecar — raising recall beyond the build requires
    * a rebuild, the same contract as re-training an IVF quantizer,
    * and serving reduced recall silently is exactly the failure a
    * recall-gated deployment must not absorb).
    * The quadratic work stays cell-bounded; the only corpus-sized
    * shuffles are the two id-keyed joins against the index table and
    * the cell-keyed scan join — same shape as the in-memory twin minus
    * the doubled distance aggregation. */
  def knnJoinFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecs: DataFrame, k: Int, nprobe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    // Presence is part of the contract: a sidecar WITHOUT the key
    // (hand-copied from another layout, say) must fail loudly, not
    // silently serve at the reduced-recall default of 1 — exactly the
    // failure the sidecar exists to prevent.
    val meta = IndexMeta.read(spark, dir)
    require(meta.contains("nprobe"),
      s"index at $dir has no `nprobe` key in its meta sidecar — not " +
        "a knn-assignment index layout (or a sidecar copied from " +
        "another layout); rebuild the index with writeKnnAssignIndex")
    require(meta.get("fmt").forall(_ == "1"),
      s"index at $dir has fmt=${meta.get("fmt")} but this reader " +
        "serves fmt=1 knn-assignment layouts — the layout format " +
        "changed; rebuild the index with writeKnnAssignIndex")
    val builtNprobe = meta("nprobe").toInt
    require(nprobe <= builtNprobe,
      s"index at $dir stores assignment ranks up to $builtNprobe but " +
        s"the serve requested nprobe=$nprobe — rebuild the index at " +
        "the higher rank (serving reduced recall silently is not an " +
        "option)")
    val ranked0 = spark.read.parquet(s"$dir/assign")
    // Tombstone mask, both roles at once: a deleted vector's rows key
    // on its own probe_id, so one anti-join removes it from the rn=1
    // corpus blocking AND the probe expansion — it neither probes nor
    // serves as a neighbor. Deletion under the ORIGINAL quantizer
    // (stored assignments unchanged), the same contract as the IVF
    // tombstones.
    val ranked = readTombstones(spark, dir)
      .map(t => ranked0.join(
        broadcast(t.withColumnRenamed("vec_id", "probe_id")),
        Seq("probe_id"), "left_anti"))
      .getOrElse(ranked0)
    val probeCells = ranked.filter(col("rn") <= nprobe)
      .select(col("probe_id"), col("assigned_label"))
    val indexCells = ranked.filter(col("rn") === 1)
      .select(col("probe_id").as("corpus_id"),
        col("assigned_label").as("cell"))
    val pb = withNorm(vecs).select(col("vec_id").as("probe_id"),
      col("v").as("pv"), col("nrm").as("pnrm"))
      .join(probeCells, Seq("probe_id"))
    val corpus = withNorm(vecs)
      .join(indexCells, col("vec_id") === col("corpus_id"))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    val scored = pb
      .join(corpus,
        col("assigned_label") === col("cell") &&
          col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"),
        col("vec_id").as("neighbor_id"),
        round(dot(col("pv"), col("v")) / (col("pnrm") * col("nrm")), 6)
          .as("cos_r"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_r").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Bucketed ANN: candidates share the probe's sign bucket. */
  def lshTopK(vecs: DataFrame, probes: DataFrame, k: Int, bits: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketed = withNorm(vecs).select(col("vec_id").as("neighbor_id"),
      col("v"), col("nrm"), signBucket(col("v"), bits).as("bucket"))
    val pb = withNorm(probes).select(col("vec_id").as("probe_id"),
      col("v").as("pv"), col("nrm").as("pnrm"),
      signBucket(col("v"), bits).as("bucket"))
    val scored = broadcast(pb)
      .join(bucketed, Seq("bucket"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(dot(col("pv"), col("v")) / (col("pnrm") * col("nrm")), 6)
          .as("cos_r"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_r").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Symmetric int8 quantization of an embedding column: one scale per
    * vector (max|x|/127), each dimension rounded to [-127, 127]. The
    * storage-side transform that cuts an embedding corpus 4× before
    * ANN serving; emitted per-dimension so the result is engine-
    * comparable without list-ordering concerns. Pure narrow projection
    * + generator — no shuffle at any corpus size. */
  def quantizeInt8(vecs: DataFrame): DataFrame =
    vecs
      .select(col("vec_id"),
        (array_max(transform(col("v"), x => abs(x))) / 127.0).as("scale"),
        col("v"))
      .select(col("vec_id"), col("scale"),
        posexplode(col("v")).as(Seq("pos", "x")))
      .select(col("vec_id"), (col("pos") + 1).as("dim"),
        when(col("scale") === 0.0, 0)
          .otherwise(round(col("x") / col("scale"), 0)).cast("int").as("q"))

  /** Product quantization (PQ) — the compression stage of the standard
    * IVF-PQ stack that makes billion-vector ANN serveable: each vector
    * splits into `m` subvectors, each subvector is replaced by the id of
    * its nearest codebook entry (L2², via the dot-product identity
    * |a-b|² = a·a - 2a·b + b·b), giving an m-byte code per vector plus
    * its quantization error. The codebook here is the first `k` vectors'
    * subvectors (deterministic sample); a production build k-means each
    * subspace — [[kmeansUpdateStep]] is that trainer.
    *
    * Scale shape: the codebook broadcasts (k·dim doubles); assignment is
    * a map-side scan with a bounded per-row argmin — the only shuffle is
    * the final per-vector rollup keyed by vec_id. Argmin rounds to 6 dp
    * with a centroid-id tie-break (the [[ivfTopK]] rule), so ulp-level
    * summation drift can't flip a code. */
  def productQuantize(vecs: DataFrame, m: Int = 4, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val subs = subvectors(vecs, m)
    val codebook = broadcast(subs.filter(col("vec_id") < k)
      .select(col("sub"), col("vec_id").as("cid"), col("sv").as("cv")))
    val d2 = subs.join(codebook, Seq("sub"))
      .select(col("vec_id"), col("sub"), col("cid"),
        (dot(col("sv"), col("sv")) - lit(2.0) * dot(col("sv"), col("cv")) +
          dot(col("cv"), col("cv"))).as("dist2"))
    val wAssign = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(round(col("dist2"), 6).asc, col("cid").asc)
    val chosen = d2.withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
    val codeCols = (0 until m).map(s =>
      max(when(col("sub") === s, col("cid"))).as(s"code_$s"))
    chosen.groupBy(col("vec_id"))
      .agg(codeCols.head, codeCols.tail :+
        sum(round(col("dist2"), 6).cast("decimal(18,6)")).cast("double")
          .as("err"): _*)
  }

  /** PQ codes of the corpus — the stored m-byte-per-vector
    * representation ([[productQuantize]] without the error column),
    * shared by [[adcTopK]] and [[ivfPqTopK]] so the assignment
    * contract (rounded L2² asc, cid asc) cannot diverge between the
    * flat-ADC and cell-blocked serving paths. Codebook = the first
    * `codebookK` vectors' subvectors, same deterministic sample as
    * [[productQuantize]]. Output: (vec_id, sub, cid). */
  private def pqCodesOf(vecs: DataFrame, m: Int, codebookK: Int): DataFrame =
    pqCodesAgainst(codebookOf(vecs, m, codebookK), vecs, m)

  /** PQ-encode `vecs` against an EXPLICIT codebook frame (in-memory or
    * read back from a persisted index — parquet round-trips doubles
    * exactly, so the sources are indistinguishable): the encode half
    * of FAISS's fixed-quantizer `add` contract, shared by the build
    * and the append so the two paths cannot diverge. */
  private def pqCodesAgainst(codebook: DataFrame, vecs: DataFrame,
      m: Int): DataFrame =
    pqCodesWith(collectCodebook(codebook), vecs, m)

  /** [[pqCodesAgainst]] against already-collected codebook entries. */
  private def pqCodesWith(codebook: CodebookEntries, vecs: DataFrame,
      m: Int): DataFrame = {
    // Round-19 rewrite: the codebook is collected ([[csLiteral]]'s
    // bounded-quantizer discipline — m·codebookK·(dims/m) doubles)
    // and the per-subvector argmin runs inline on the corpus row —
    // no broadcast join fan-out, no row_number shuffle over
    // corpus×m×codebookK rows. The distance stays the dot-product
    // identity |a−b|² = a·a − 2a·b + b·b on the SAME codegen'd
    // [[graft.functions.DotProduct]], and the (6-dp round asc, cid
    // asc) argmin is array_min over the same values — codes are
    // bit-identical.
    def subEntries(s: Int) = codebook.filter(_._1 == s)
      .map { case (_, cid, cv) => (cid, cv) }
    val d = graft.functions.functions.dot_product _
    val best = (0 until m).map { s =>
      val sv = expr(s"slice(v, $s * (size(v) div $m) + 1, size(v) div $m)")
      val cands = subEntries(s).map { case (cid, cv) =>
        val cvLit = array(cv.map(lit(_)): _*)
        struct(round(d(sv, sv) - lit(2.0) * d(sv, cvLit) + d(cvLit, cvLit), 6)
          .as("d2r"), lit(cid).as("cid"))
      }
      if (cands.isEmpty) lit(null)
      else least(cands: _*).getField("cid").as(s"code_$s")
    }
    // Non-vector input columns (pair/cell keys of a residual frame)
    // ride through, so encode consumers need no re-attach join.
    val carry = vecs.columns.filterNot(_ == "v").map(col).toSeq
    vecs.select(carry ++ best: _*)
      .select(carry :+
        posexplode(array((0 until m).map(s => col(s"code_$s")): _*))
          .as(Seq("sub", "cid")): _*)
      .filter(col("cid").isNotNull)
  }

  /** The PQ codebook: per-subspace slices of the first `codebookK`
    * vectors — (sub, cid, cv), the deterministic sample every PQ
    * consumer trains against. */
  private def codebookOf(vecs: DataFrame, m: Int,
      codebookK: Int): DataFrame =
    subvectors(vecs, m).filter(col("vec_id") < codebookK)
      .select(col("sub"), col("vec_id").as("cid"), col("sv").as("cv"))

  /** A PQ codebook collected locally: (sub, cid, cv) entries
    * ordered by (sub, cid) — m·codebookK sub-vectors, bounded by the
    * quantizer like [[collectCents]]' centroids. */
  private type CodebookEntries = Seq[(Int, Any, Seq[Double])]

  private def collectCodebook(codebook: DataFrame): CodebookEntries =
    memoized(codebook, "codebook") {
      codebook.select(col("sub"), col("cid"), col("cv")).collect()
        .map(r => (r.getInt(0), r.get(1), r.getSeq[Double](2).toSeq))
        .sortBy { case (sub, cid, _) =>
          (sub, cid.asInstanceOf[Number].longValue) }
        .toSeq
    }

  /** The codebook as a literal `map<sub, array<struct<cid, cv>>>`, so
    * a probe-side distance table is a projection of the probe rows
    * (explode the probe sub-vector's codebook slice) instead of a
    * broadcast join against a codebook table. */
  private def codebookBySub(codebook: CodebookEntries): Column =
    if (codebook.isEmpty)
      expr("CAST(map() AS map<int,array<struct<cid:bigint,cv:array<double>>>>)")
    else map(codebook.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (sub, es) => Seq(lit(sub), array(es.map { case (_, cid, cv) =>
        struct(lit(cid).as("cid"), array(cv.map(lit(_)): _*).as("cv"))
      }: _*))
    }: _*)

  /** Per-probe ADC distance table against an explicit codebook frame
    * (in-memory or read back from a persisted index — parquet
    * round-trips doubles exactly, so the two sources are
    * indistinguishable): d²(probe_subᵐ, codebook[cid]ᵐ) for every
    * (sub, cid) — |probes|·m·codebookK rows, the broadcast side of
    * every ADC scan. */
  private def adcDistTableFrom(codebook: DataFrame, probes: DataFrame,
      m: Int): DataFrame =
    subvectors(probes, m)
      .select(col("vec_id").as("probe_id"), col("sub"), col("sv").as("pv"))
      .join(codebook, Seq("sub"))
      .select(col("probe_id"), col("sub"), col("cid"),
        (dot(col("pv"), col("pv")) - lit(2.0) * dot(col("pv"), col("cv")) +
          dot(col("cv"), col("cv"))).as("pd2"))

  /** [[adcDistTableFrom]] with the codebook derived from `vecs` (the
    * corpus), the same sample [[pqCodesOf]] assigns against. */
  private def adcDistTable(vecs: DataFrame, probes: DataFrame, m: Int,
      codebookK: Int): DataFrame =
    adcDistTableFrom(codebookOf(vecs, m, codebookK), probes, m)

  /** Internal: per-subspace slices of every vector (vec_id, sub, sv). */
  private def subvectors(vecs: DataFrame, m: Int): DataFrame =
    vecs
      .select(col("vec_id"), col("v"),
        explode(expr(s"sequence(0, ${m - 1})")).as("sub"))
      .select(col("vec_id"), col("sub"),
        expr(s"slice(v, sub * (size(v) div $m) + 1, size(v) div $m)")
          .as("sv"))

  /** ADC (asymmetric distance computation) top-k — stage 3 of IVF-PQ:
    * probes stay full-precision, the corpus exists only as PQ codes, and
    * each probe×vector distance is a sum of m table lookups
    * d²(probe_subᵐ, codebook[codeᵐ]) instead of a dim-length dot
    * product. The distance TABLE (|probes|·m·k rows) broadcasts; the
    * corpus-side work is one equi-join on (sub, code) and a
    * (probe, vec) rollup — linear in corpus size with no full-vector
    * math in the hot path, which is why billion-scale ANN serves from
    * PQ codes. Per-term distances round to 6 dp and sum as exact
    * decimal; ranking ties break on neighbor id. */
  def adcTopK(vecs: DataFrame, probes: DataFrame, k: Int,
      m: Int = 4, codebookK: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val codes = pqCodesOf(vecs, m, codebookK)
    val dtab = adcDistTable(vecs, probes, m, codebookK)
    val scored = codes.join(broadcast(dtab), Seq("sub", "cid"))
      .filter(col("probe_id") =!= col("vec_id"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(round(col("pd2"), 6).cast("decimal(18,6)")).cast("double")
        .as("adist"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("adist").asc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("adist"), col("rnk"))
  }

  /** The FULL IVF-PQ serving stack — coarse quantizer + product codes +
    * ADC, composed end-to-end: TRAIN `kCells` coarse cells
    * ([[kmeansTrain]]), INDEX each corpus vector under its nearest
    * trained cell (rank-1, the [[knnJoinIndexed]] contract) with its
    * m-byte PQ code ([[pqCodesOf]]), then SEARCH: each probe assigns to
    * its `nprobe` nearest cells and scores ONLY those cells' codes via
    * distance-table lookups ([[adcDistTable]]). This is the billion-
    * scale composition (Jégou et al. 2011, "Product Quantization for
    * Nearest Neighbor Search"): the cell blocking bounds candidates at
    * corpus·nprobe/kCells per probe, and ADC removes full-vector math
    * from the corpus side entirely. Codes are computed on RAW vectors,
    * not cell residuals — the simpler of the two standard encodings
    * (FAISS exposes it as `by_residual=false`); it keeps the code
    * independent of the cell assignment, so re-training the coarse
    * quantizer never forces a re-encode.
    *
    * Scale shape: the corpus path is (codes ⋈ index-cell) keyed by
    * vec_id, then one broadcast-joined scan against the per-probe
    * distance table restricted to probed cells, then a (probe, vec)
    * rollup — the corpus never broadcasts and never re-reduces vectors
    * at serve time. Probing every cell degenerates to exactly
    * [[adcTopK]] (cells partition the corpus — PipelineSpec pins the
    * bit-for-bit equality), which makes `nprobe` a pure recall knob
    * here too. Determinism: the family contract throughout — rounded
    * L2² with cid tie-break for both quantizers, exact-decimal ADC
    * sums, neighbor-id rank tie-break. */
  def ivfPqTopK(vecs: DataFrame, probes: DataFrame, k: Int,
      m: Int = 4, codebookK: Int = 8, kCells: Int = 8, iters: Int = 2,
      nprobe: Int = 2): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val cents = kmeansTrain(vecs, kCells, iters)
    val pcells = trainedAssign(probes, cents, nprobe)
      .select(col("probe_id"), col("cid").as("pcell"))
    // Cell assignment rides the encode projection ([[withInlineCell]]
    // under [[pqCodesAgainst]]'s carry, round 20) — the corpus-sized
    // re-attach join on vec_id is gone; same argmin, same rows.
    val codes = pqCodesAgainst(codebookOf(vecs, m, codebookK),
        withInlineCell(vecs, cents), m)
      .select(col("vec_id"), col("sub"), col("cid"), col("cell"))
    // pcells is probe-bounded (|probes|·nprobe rows): broadcast it so
    // the per-probe distance table never shuffles on probe_id — the
    // whole dtab subtree stays map-side before its own broadcast.
    val dtab = adcDistTable(vecs, probes, m, codebookK)
      .join(broadcast(pcells), Seq("probe_id"))
    adcCellTopK(codes, dtab, k)
  }

  /** Shared serving stage of [[ivfPqTopK]] and [[searchIvfPqIndex]]:
    * join the cell-blocked code table against the broadcast per-probe
    * distance table (ONLY within each probe's consulted cells), roll
    * the per-subspace terms up to ADC distances, and rank top-k —
    * one implementation so the in-memory and persisted paths cannot
    * diverge on the scoring or tie-break contract. `codes` carries
    * (vec_id, sub, cid, cell); `dtab` (probe_id, sub, cid, pd2,
    * pcell). */
  private def adcCellTopK(codes: DataFrame, dtab: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // One shuffle, by probe, serves both the (probe, vector) rollup and
    // the per-probe ranking; a rollup hashed on (probe, vector) would
    // make the ranking shuffle again. The price: candidate rows move
    // without a map-side partial sum (m terms each; exact decimals, so
    // the sums are unchanged).
    val scored = codes.join(broadcast(dtab),
        codes("sub") === dtab("sub") && codes("cid") === dtab("cid") &&
          col("cell") === col("pcell") && col("probe_id") =!= col("vec_id"))
      .repartition(col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(round(col("pd2"), 6).cast("decimal(18,6)")).cast("double")
        .as("adist"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("adist").asc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("adist"), col("rnk"))
  }

  /** Residuals of `src` against its `n` nearest trained cells:
    * (vec_id, cell, rv) with rv = v − centroid(cell), one row per
    * (vector, assigned cell). n = 1 residualizes a corpus against its
    * own cells (the encode side); n = nprobe residualizes a probe
    * against EACH cell it consults (the query side of a by-residual
    * ADC serve, where the distance table is per probed cell).
    * Plain double subtraction — engine-portable (the centroid means
    * are already 6-dp rounded by [[kmeansTrain]]'s contract). */
  private def residualsOf(src: DataFrame, cents: DataFrame,
      n: Int): DataFrame =
    residualsWith(src, collectCents(cents, "dim"), n)

  /** [[residualsOf]] against already-collected centroid entries. */
  private def residualsWith(src: DataFrame, entries: CentEntries,
      n: Int): DataFrame = {
    requireUnreserved(src, "residual encode", "cell")
    // Round-19 rewrite: assignment AND subtraction run inline on the
    // src row against the collected quantizer ([[csLiteral]]'s
    // discipline) — the old form joined src to a windowed assignment
    // frame and again to broadcast centroid arrays (two joins and a
    // shuffle of the corpus side per encode). Values unchanged: same
    // rounded-distance ranking, same double subtraction.
    val cvm =
      if (entries.isEmpty) expr("CAST(map() AS map<int,array<double>>)")
      else map(entries.flatMap { case (cid, cvec) =>
        Seq(lit(cid), array(cvec.map(lit(_)): _*)) }: _*)
    // Non-vector input columns ride through (round 20) — the encode
    // side's metadata and any downstream key live beside the residual
    // with no re-attach join.
    val carry = src.columns
      .filterNot(c => c == "v" || c == "vec_id").map(col).toSeq
    src.select(Seq(col("vec_id")) ++ carry ++ Seq(col("v"),
        explode(slice(array_sort(
          distStructs(csLiteralFrom(entries), col("v"))), 1, n)).as("e")): _*)
      .select(Seq(col("vec_id")) ++ carry ++ Seq(col("e.cid").as("cell"),
        zip_with(col("v"), element_at(cvm, col("e.cid")), (a, b) => a - b)
          .as("rv")): _*)
  }

  /** Shared serve of the BY-RESIDUAL IVF-PQ composition (in-memory
    * [[ivfPqrTopK]] and persisted [[searchIvfPqIndex]] route here so
    * the two paths cannot diverge): probes residualize against each
    * of their `nprobe` cells, the per-(probe, cell) distance table
    * builds against the residual codebook, ADC nominates
    * `rerankDepth` candidates per probe, and ONLY those candidates'
    * raw vectors are fetched back for an exact-cosine re-rank — the
    * [[bqRerankStage]] refinement contract applied to the PQ rung.
    * `codes` carries (vec_id, sub, cid, cell); output
    * (probe_id, neighbor_id, cos_r, rnk). */
  private def pqrServe(codes: DataFrame, cents: DataFrame,
      codebook: DataFrame, vecs: DataFrame, probes: DataFrame, k: Int,
      m: Int, nprobe: Int, rerankDepth: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rerankDepth >= k, s"rerankDepth $rerankDepth must cover k=$k")
    val wC = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_r").desc, col("neighbor_id").asc)
    pqrRefined(codes, collectCents(cents, "dim"),
        collectCodebook(codebook), vecs, probes, m, nprobe, rerankDepth)
      .withColumn("rnk", row_number().over(wC))
      .filter(col("rnk") <= k)
  }

  /** The exact-refined scored frame under the by-residual IVF-PQ
    * serve modes (top-k, filtered, range) — [[imiPqRefined]]'s split
    * at the single-level cell key: ADC-shortlist the probed cells to
    * `rerankDepth` candidates, fetch ONLY those candidates' floats,
    * exact 6-dp cosine. One definition so the modes cannot diverge on
    * the determinism, shortlist, or deletion contracts. */
  private def pqrRefined(codes: DataFrame, cents: CentEntries,
      codebook: CodebookEntries, vecs: DataFrame, probes: DataFrame,
      m: Int, nprobe: Int, rerankDepth: Int): DataFrame = {
    val psubs = residualsWith(probes, cents, nprobe)
      .select(col("vec_id").as("probe_id"), col("cell").as("pcell"),
        explode(expr(s"sequence(0, ${m - 1})")).as("sub"), col("rv"))
      .select(col("probe_id"), col("pcell"), col("sub"),
        expr(s"slice(rv, sub * (size(rv) div $m) + 1, size(rv) div $m)")
          .as("sv"))
    // The distance table is a projection of the probe rows against the
    // collected codebook (the way [[residualsWith]] inlines the
    // centroids): each probe sub-vector explodes its sub's codebook
    // slice — the same (probe, cell, sub, cid) rows and the same
    // codegen'd distance expression the broadcast codebook join
    // produced, with no codebook scan or broadcast job per serve.
    val dtab = psubs
      .select(col("probe_id"), col("pcell"), col("sub"), col("sv"),
        explode(element_at(codebookBySub(codebook), col("sub"))).as("e"))
      .select(col("probe_id"), col("pcell"), col("sub"),
        col("e.cid").as("cid"), col("sv"), col("e.cv").as("cv"))
      .select(col("probe_id"), col("pcell"), col("sub"), col("cid"),
        (dot(col("sv"), col("sv")) - lit(2.0) * dot(col("sv"), col("cv")) +
          dot(col("cv"), col("cv"))).as("pd2"))
    // The shortlist is |probes|·rerankDepth rows — broadcast it so
    // the corpus-float fetch PROBES the corpus scan instead of
    // shuffling it (at 100 TB the floats never move; only shortlist
    // survivors flow out of the join).
    val short = broadcast(adcCellTopK(codes, dtab, rerankDepth)
      .select(col("probe_id"), col("neighbor_id")))
    val pv = broadcast(withNorm(probes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm")))
    short
      .join(withNorm(vecs).select(col("vec_id").as("neighbor_id"),
        col("v"), col("nrm")), Seq("neighbor_id"))
      .join(pv, Seq("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(dot(col("pv"), col("v")) / (col("pnrm") * col("nrm")), 6)
          .as("cos_r"))
  }

  /** BY-RESIDUAL IVF-PQ with an exact refine stage — the deployment
    * composition of the PQ rung (Jégou et al. 2011 §V; FAISS's
    * default `by_residual=true` IVFPQ plus its refine wrapper), and
    * the rung the recall curve serves: each corpus vector encodes the
    * RESIDUAL v − centroid(cell) against a residual codebook (the
    * coarse quantizer removes the cell's mean before the fine
    * quantizer spends its bits, so the same codebook budget encodes a
    * far smaller-variance signal than [[ivfPqTopK]]'s raw-vector
    * codes), probes build a distance table PER PROBED CELL (the
    * residual is cell-dependent), and the ADC shortlist is re-ranked
    * with exact cosine over the fetched floats. The byte budget
    * stays below the IVF-BQ rung's: m-byte codes (4 B/vector) vs
    * 16-byte binary codes, and the deeper `rerankDepth` fetch is
    * probe-bounded (rerankDepth · dim doubles per probe), never
    * corpus-bounded. Trade-off vs raw codes: re-training the coarse
    * quantizer now forces a re-encode (the standard by-residual
    * cost; reference-capability context: the enrichment lookup shape
    * of `decorator/index.js:166-177` is the serve this generalizes).
    *
    * `trained` optionally supplies an already-trained quantizer in
    * [[kmeansTrain]]'s exploded form so a multi-rung enumeration
    * (the recall curve) trains ONCE and shares. Determinism: the
    * family contract — rounded L2² cid tie-break for both quantizer
    * levels, exact-decimal ADC sums, 6-dp cosine with neighbor-id
    * tie-break. Probing every cell with rerankDepth ≥ corpus size
    * degenerates to exact brute force (spec-pinned). */
  def ivfPqrTopK(vecs: DataFrame, probes: DataFrame, k: Int,
      m: Int = 4, codebookK: Int = 8, kCells: Int = 8, iters: Int = 2,
      nprobe: Int = 2, rerankDepth: Int = 40,
      trained: Option[DataFrame] = None): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    // [[kmeansTrain]] returns its means as local rows, so every
    // consumer (corpus encode, probe assignment, probe residuals)
    // reads them without replaying the Lloyd trajectory.
    val cents = trained.getOrElse(kmeansTrain(vecs, kCells, iters))
    val (rcb, codes) = ivfPqrEncode(vecs, cents, m, codebookK)
    pqrServe(codes, cents, rcb, vecs, probes, k, m, nprobe, rerankDepth)
  }

  /** The ENCODE half of [[ivfPqrTopK]] split out — (residual
    * codebook, residual codes) of a corpus against a trained
    * quantizer. A multi-operating-point enumeration (the recall
    * curve's 4 nprobe rungs; any deployment tuning nprobe) computes
    * this ONCE and serves each point via [[ivfPqrTopKEncoded]]: codes
    * are nprobe-independent, so re-encoding per point would redo the
    * corpus-side work the persisted layout exists to amortize. */
  def ivfPqrEncode(vecs: DataFrame, cents: DataFrame, m: Int = 4,
      codebookK: Int = 8): (DataFrame, DataFrame) = {
    val rcorp = residualsOf(vecs, cents, 1)
    val rv = rcorp.select(col("vec_id"), col("rv").as("v"))
    val rcb = codebookOf(rv, m, codebookK)
    // The cell key rides through the code assignment (round 20) —
    // [[residualsOf]] carries it beside the residual, so the old
    // re-attach join on vec_id is gone.
    val codes = pqCodesAgainst(rcb,
      rcorp.select(col("vec_id"), col("cell"), col("rv").as("v")), m)
    (rcb, codes)
  }

  /** [[ivfPqrTopK]] served from precomputed [[ivfPqrEncode]] state —
    * bit-identical to the monolithic call at the same parameters
    * (spec-pinned): the serve stages are shared via the same private
    * implementation, so the two entries cannot diverge. */
  def ivfPqrTopKEncoded(codes: DataFrame, codebook: DataFrame,
      cents: DataFrame, vecs: DataFrame, probes: DataFrame, k: Int,
      m: Int = 4, nprobe: Int = 2, rerankDepth: Int = 40): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    pqrServe(codes, cents, codebook, vecs, probes, k, m, nprobe,
      rerankDepth)
  }

  /** IVF index health report: per-cell occupancy, corpus share, and
    * balance (occupancy relative to uniform — 1.0 is perfectly
    * balanced; a cell at 8.0 holds 8× its fair share). Cell imbalance
    * is THE operational failure mode of IVF serving — a mega-cell
    * makes every probe that touches it scan far more than
    * corpus·nprobe/kCells, exactly the skew the dedup chain guards
    * against with salting — so this is the monitoring view a serving
    * deployment watches to decide when to re-train the quantizer with
    * more cells. Cost: the assignment pass + a kCells-row aggregate;
    * the one-row total broadcasts. */
  def ivfCellStats(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val cells = trainedAssign(vecs, cents, 1)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_vectors"))
    val tot = cells.agg(sum(col("n_vectors")).as("total"),
      count(lit(1)).as("n_cells"))
    cells.crossJoin(broadcast(tot))
      .select(col("cid").as("cell"), col("n_vectors"),
        (col("n_vectors").cast("double") / col("total").cast("double"))
          .as("share"),
        (col("n_vectors").cast("double") * col("n_cells").cast("double") /
          col("total").cast("double")).as("balance"))
  }

  /** Two-stage ADC serving: PQ distances nominate `rerankDepth`
    * candidates per probe ([[adcTopK]]), then ONLY those candidates'
    * raw vectors are fetched back for an exact-cosine re-rank — the
    * standard refinement that buys back the quantization error
    * (Jégou et al. 2011 §V's re-ranking stage): the corpus-wide scan
    * stays code-only, and exact math touches |probes|·rerankDepth
    * rows, never the corpus. The candidate fetch is a plain
    * neighbor-id hash join against the corpus (co-keyed, corpus never
    * broadcast); the probe side broadcasts. Final contract matches
    * the exact-search family: 6-dp rounded cosine desc, neighbor id
    * asc, top-k. With rerankDepth ≥ corpus size this IS brute force
    * (PipelineSpec pins it); at production depth the PQ stage bounds
    * recall and the re-rank makes the reported scores exact. */
  def adcRerankTopK(vecs: DataFrame, probes: DataFrame, k: Int,
      rerankDepth: Int = 20, m: Int = 4, codebookK: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rerankDepth >= k, s"rerankDepth $rerankDepth must cover k=$k")
    val cand = adcTopK(vecs, probes, rerankDepth, m, codebookK)
      .select(col("probe_id"), col("neighbor_id"))
    val pn = broadcast(withNorm(probes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm")))
    val vn = withNorm(vecs)
      .select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"))
    val scored = cand.join(pn, Seq("probe_id"))
      .join(vn, Seq("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(dot(col("pv"), col("v")) / (col("pnrm") * col("nrm")), 6)
          .as("cos_r"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_r").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Materialize the IVF-PQ index: trained centroids, the PQ codebook,
    * and every vector's m-byte code written CELL-PARTITIONED parquet —
    * the serving layout where the stored corpus is CODES ONLY (m
    * small ints + a cell id per vector, the ~32× compression that
    * makes billion-vector serving fit on disk budgets the raw
    * embeddings never could). The full-precision vectors appear
    * nowhere in the index; [[searchIvfPqIndex]] never needs them.
    *
    * `quantizer` optionally trains the cell centroids and PQ codebook
    * on a DIFFERENT corpus than the one being encoded (defaults to
    * `vecs`) — the incremental-ingestion shape: train once on the
    * full/representative corpus, build the index on the first batch,
    * [[appendIvfPqIndex]] the rest. Centroids and codebook persist
    * FIRST and the codes assign against the RE-READ tables, so a
    * later append encodes against byte-identical quantizer state. */
  def writeIvfPqIndex(vecs: DataFrame, dir: String, m: Int = 4,
      codebookK: Int = 8, kCells: Int = 8, iters: Int = 2,
      quantizer: Option[DataFrame] = None): Unit =
    buildLayout(vecs.sparkSession, dir, IvfPqLayout, "m" -> m.toString,
        "codebookK" -> codebookK.toString, "kCells" -> kCells.toString) {
      val qsrc = quantizer.getOrElse(vecs)
      // Same build discipline as [[writeIvfIndex]]: persist the trained
      // centroids FIRST and assign against the re-read table, so the
      // Lloyd trajectory runs once instead of once per downstream
      // action (exact: parquet round-trips the means).
      kmeansTrain(qsrc, kCells, iters)
        .write.mode("overwrite").parquet(s"$dir/centroids")
      val cents = vecs.sparkSession.read.parquet(s"$dir/centroids")
      // BY-RESIDUAL ([[ivfPqrTopK]]'s encoding): the codebook trains on
      // the quantizer corpus's residuals against the STORED centroids,
      // and every vector's code encodes v − centroid(cell).
      val qres = residualsOf(qsrc, cents, 1)
        .select(col("vec_id"), col("rv").as("v"))
      codebookOf(qres, m, codebookK)
        .write.mode("overwrite").parquet(s"$dir/codebook")
      val codebook = vecs.sparkSession.read.parquet(s"$dir/codebook")
      ivfPqCodeRows(collectCodebook(codebook), residualsOf(vecs, cents, 1),
        vecs, m)
    }

  /** The [[IndexSnapshot]] of a persisted [[writeIvfPqIndex]] layout,
    * checked against the serve's sub-vector split. */
  private def ivfPqSnapshot(spark: org.apache.spark.sql.SparkSession,
      dir: String, m: Int): IndexSnapshot.Snapshot =
    IndexSnapshot.open(spark, dir,
      IvfPqLayout.sidecar :+ ("m" -> m.toString): _*)

  /** The stored quantizer of an opened ivf_pq generation: centroid
    * and residual-codebook entries, collected once per build. */
  private def ivfPqQuantizer(spark: org.apache.spark.sql.SparkSession,
      dir: String, snap: IndexSnapshot.Snapshot)
      : (CentEntries, CodebookEntries) = (
    snap.quantizer("centroids")(
      collectCents(spark.read.parquet(s"$dir/centroids"), "dim")),
    snap.quantizer("codebook")(
      collectCodebook(spark.read.parquet(s"$dir/codebook"))))

  /** The stored code-table schema of an opened ivf_pq layout, so code
    * scans read with it instead of inferring it per request. Fixed by
    * the build: appends must match it, compaction keeps it (a fully
    * drained table's placeholder file carries the same columns). */
  private def ivfPqCodesSchema(spark: org.apache.spark.sql.SparkSession,
      dir: String, snap: IndexSnapshot.Snapshot)
      : org.apache.spark.sql.types.StructType =
    snap.quantizer("codes.schema")(spark.read.parquet(s"$dir/codes").schema)

  /** The stored code-row frame shared by the ivf_pq build and append
    * legs — [[imiPqCodeRows]] at the single-level cell key: (vec_id,
    * sub, cid, metadata…, cell), every non-vector input column riding
    * beside the m-byte residual codes for [[searchIvfPqIndexWhere]]'s
    * pushed predicate. Metadata-less inputs (vec_id, v) produce the
    * previous schema exactly, so existing layouts are unchanged. */
  private def ivfPqCodeRows(codebook: CodebookEntries, rcorp: DataFrame,
      vecs: DataFrame, m: Int): DataFrame = {
    val metaCols = vecs.columns.filterNot(c => c == "v" || c == "vec_id")
    // The cell key and the metadata ride through the code assignment
    // (round 20): [[residualsOf]] is a pure projection that carries
    // every non-vector input column, so the old cell re-attach join
    // AND the metadata re-attach join are gone from the encode path.
    val base = pqCodesWith(codebook, rcorp.select(
      (Seq(col("vec_id")) ++ metaCols.map(col) ++
        Seq(col("cell"), col("rv").as("v"))): _*), m)
    base.select((Seq("vec_id", "sub", "cid") ++ metaCols ++
      Seq("cell")).map(col): _*)
  }

  /** APPEND a corpus batch to a persisted [[writeIvfPqIndex]] layout —
    * the PQ analog of [[appendIvfIndex]], closing the lifecycle
    * matrix's last append cell: new vectors assign cells against the
    * STORED centroids and encode against the STORED codebook (the
    * quantizer is fixed once trained — FAISS's `add` contract; the
    * sidecar makes a mismatched `m` a loud failure, since codes under
    * a different sub-vector split would silently score garbage).
    * Same tombstone reconciliation as the IVF append: a re-added id's
    * tombstone clears AFTER the data append commits. */
  def appendIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      vecs2: DataFrame, dir: String, m: Int = 4): Unit = {
    val snap = ivfPqSnapshot(spark, dir, m)
    // Residual encode against the STORED quantizer state (both
    // levels: coarse centroids AND residual codebook are fixed once
    // trained), so the appended union is bit-identical to the
    // monolithic build — FAISS's `add` contract at by_residual=true.
    // The entries come from the opened generation: an append after a
    // serve collects nothing.
    val (cents, codebook) = ivfPqQuantizer(spark, dir, snap)
    appendRows(spark, dir, IvfPqLayout, vecs2,
      ivfPqCodeRows(codebook, residualsWith(vecs2, cents, 1), vecs2, m),
      "appendIvfPqIndex", Some(ivfPqCodesSchema(spark, dir, snap)))
  }

  /** Serve the BY-RESIDUAL refine composition from a persisted
    * [[writeIvfPqIndex]] layout: probes residualize against their
    * `nprobe` nearest stored centroids, the per-(probe, cell)
    * distance table builds against the stored residual codebook, the
    * cell-partitioned code scan is pruned to the consulted cells
    * (dynamic partition pruning off the broadcast probe-cell side,
    * exactly like [[searchIvfIndex]]), and the ADC shortlist is
    * re-ranked with exact cosine over `vecs` — the corpus floats,
    * which the layout itself never stores ([[bqRerankFromIndex]]'s
    * contract: the shortlist fetch is probe-bounded). Results are
    * bit-identical to the in-memory [[ivfPqrTopK]] at the same build
    * parameters — parquet round-trips doubles and longs exactly
    * (PipelineSpec pins the parity; the gated twin shares
    * sim_ivfpqr_topk's oracle). */
  def searchIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecs: DataFrame, probes: DataFrame, k: Int,
      m: Int = 4, nprobe: Int = 2, rerankDepth: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rerankDepth == AutoRerankDepth || rerankDepth >= k,
      s"rerankDepth $rerankDepth must cover k=$k (or AutoRerankDepth)")
    val wC = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_r").desc, col("neighbor_id").asc)
    pqrRefinedFromIndex(spark, dir, vecs, probes, m, nprobe,
        rerankDepth, None, k)
      .withColumn("rnk", row_number().over(wC))
      .filter(col("rnk") <= k)
  }

  /** [[searchIvfPqIndex]] with a metadata predicate pushed to the
    * stored CODE scan — code rows carry every non-vector input column
    * the index was built with, so the predicate filters candidates
    * BEFORE the ADC shortlist, spending the depth budget entirely on
    * matching rows ([[searchImiPqIndexWhere]]'s contract at the
    * single-level cell key). Serving a layout built WITHOUT the
    * predicate's column fails loudly at resolution. */
  def searchIvfPqIndexWhere(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecs: DataFrame, probes: DataFrame, k: Int,
      pred: Column, m: Int = 4, nprobe: Int = 2,
      rerankDepth: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rerankDepth == AutoRerankDepth || rerankDepth >= k,
      s"rerankDepth $rerankDepth must cover k=$k (or AutoRerankDepth)")
    val wC = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_r").desc, col("neighbor_id").asc)
    pqrRefinedFromIndex(spark, dir, vecs, probes, m, nprobe,
        rerankDepth, Some(pred), k)
      .withColumn("rnk", row_number().over(wC))
      .filter(col("rnk") <= k)
  }

  /** Cosine radius search over a persisted [[writeIvfPqIndex]] layout
    * — ADC distances gate the depth-`rerankDepth` shortlist, the
    * exact refine applies the radius ([[searchImiPqIndexRange]]'s
    * composition at the cell key; same recall bound and
    * occupancy-sizing guidance — [[imiSuggestedRerankDepth]]'s rule
    * applies over [[ivfCellStats]]). */
  def searchIvfPqIndexRange(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecs: DataFrame, probes: DataFrame, tau: Double,
      m: Int = 4, nprobe: Int = 2, rerankDepth: Int = 40): DataFrame =
    pqrRefinedFromIndex(spark, dir, vecs, probes, m, nprobe,
        rerankDepth, None, 1)
      .filter(col("cos_r") >= tau)

  /** The refined scored frame of the persisted IVF-PQ serves (top-k,
    * filtered, range): stored quantizers, tombstone mask, then the
    * optional metadata predicate on the cell-partitioned code scan,
    * then [[pqrRefined]] — one read path so the modes cannot diverge
    * on masking order or the scoring contract. */
  private def pqrRefinedFromIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      vecs: DataFrame, probes: DataFrame, m: Int, nprobe: Int,
      rerankDepth: Int, pred: Option[Column], k: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    // Serving at a different sub-vector split than the build would
    // slice probe vectors against codes that mean something else —
    // the sidecar makes it a loud failure instead of silent garbage,
    // and fmt=2 rejects a pre-residual (raw-code) dir the same way.
    // Everything derived from the stored tables below comes from the
    // opened generation ([[IndexSnapshot]]): on an index already
    // served since its last write, building this frame runs no job.
    val snap = ivfPqSnapshot(spark, dir, m)
    val (cents, codebook) = ivfPqQuantizer(spark, dir, snap)
    // Mask once, THEN branch ([[imiPqRefinedFromIndex]]'s structure):
    // the LIVE (tombstone-masked, pre-predicate) frame feeds both the
    // occupancy aggregate and the serve scan, and the predicate
    // commutes with the mask (both row filters). Same tombstone mask
    // as [[searchIvfIndex]] — [[deleteFromIvfIndex]] is
    // layout-agnostic (it only writes ids), so PQ serving honors
    // deletions identically. The mask is skipped when no tombstone
    // row exists — never deleted, or drained by a compaction (whose
    // empty table would otherwise cost a broadcast job per serve).
    val tombstoned = snap.data[java.lang.Boolean]("tombstones")(
      Boolean.box(readTombstones(spark, dir).exists(!_.isEmpty)))
    val live = liveRows(spark, dir, IvfPqLayout,
      if (tombstoned) readTombstones(spark, dir) else None,
      schema = Some(ivfPqCodesSchema(spark, dir, snap)))
    val codes = pred.foldLeft(live)(_ filter _)
    // [[AutoRerankDepth]] at the single-level cell key: occupancy of
    // the live code rows, count div m per cell —
    // [[imiPqRefinedFromIndex]]'s rule over `cell` instead of
    // (c0, c1); one ≤ K-row aggregate of the index, run once per
    // data generation.
    val depth =
      if (rerankDepth != AutoRerankDepth) rerankDepth
      else suggestedRerankDepth(
        snap.data[java.lang.Long]("occupancy")(Long.box(maxOccupancy(
          live.groupBy(col("cell"))
            .agg(expr(s"count(1) div $m").as("n_vectors"))))), k)
    pqrRefined(codes, cents, codebook, vecs, probes, m, nprobe,
      depth)
  }

  /** Per-dimension winsorization — clip each embedding dimension to its
    * corpus [pLow, pHigh] percentile band, the standard outlier guard
    * before quantization (a single extreme value otherwise stretches
    * the int8 scale and crushes everyone else's resolution). Bounds
    * come from Profiling.groupedPercentiles keyed by dimension —
    * bounded state, dim-count × distinct-values, never corpus size —
    * and broadcast back over the exploded corpus (dims × docs rows,
    * narrow). Emitted per-dimension like quantizeInt8, so results are
    * engine-comparable without list-ordering concerns.
    */
  def winsorize(vecs: DataFrame, pLow: Double = 0.05,
      pHigh: Double = 0.95): DataFrame = {
    val dims = vecs.select(col("vec_id"),
      posexplode(col("v")).as(Seq("pos", "x")))
    val bounds = Profiling.groupedPercentiles(dims, col("pos"), col("x"),
      Seq(pLow -> "lo", pHigh -> "hi"))
      .withColumnRenamed("k", "pos")
    dims.join(broadcast(bounds), Seq("pos"))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
        round(greatest(col("lo"), least(col("hi"), col("x"))), 6)
          .as("x_clip"),
        (col("x") < col("lo") || col("x") > col("hi")).as("clipped"))
  }

  /** Recall@k of an approximate ANN result against the exact top-k:
    * per-probe |approx ∩ exact| / |exact|. The standard quality gate
    * before swapping a brute-force serving path for IVF/LSH — run it on
    * a sampled probe set, not the full corpus. Pure equi-join + count
    * on (probe_id, neighbor_id): cost is the result sizes, not the
    * corpus. Both inputs are any DataFrame with those two columns
    * (bruteForceTopK / ivfTopK / lshTopK / adcTopK outputs qualify).
    */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    val e = exact.select(col("probe_id"), col("neighbor_id"))
    val a = approx.select(col("probe_id"), col("neighbor_id"))
    val hits = e.join(a, Seq("probe_id", "neighbor_id"))
      .groupBy(col("probe_id")).agg(count(lit(1)).as("hits"))
    e.groupBy(col("probe_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("probe_id"), "left")
      .na.fill(0L, Seq("hits"))
      .select(col("probe_id"), col("hits"), col("n_exact"),
        (col("hits").cast("double") / col("n_exact")).as("recall"))
  }

  /** Full label-free quantizer training: hash-seeded, fixed-iteration
    * Lloyd's k-means, the trainer the IVF comments promise ("a
    * production run k-means first"). Seeds come from the engine-portable
    * md5 bucket ([[graft.operators.Sampling.hashBucket]] — no rand(),
    * identical under retries and across engines), then `iters` unrolled
    * rounds of assign-to-nearest (L2², 6-dp-rounded distance with cid
    * tie-break, the same determinism contract as [[assignCellsRanked]])
    * and exact-DECIMAL mean recomputation rounded to 6 dp — rounding
    * each round re-synchronizes any ulp drift, so the whole trajectory
    * is bit-reproducible against a sequential SQL replay. Works fully
    * EXPLODED (cid, pos, cmean): no collect_list, no driver-side
    * centroid state; per round one broadcast of k×dim means + one
    * (vec, cid) aggregation + one means aggregation. A cluster that
    * loses every member simply drops out (deterministic on both
    * engines). Output: (cid, dim, n, cmean) with 1-based dim.
    *
    * EAGER: the trajectory runs when this is CALLED, not when the
    * returned frame is used — each round's means are collected
    * (iters + 1 collects) and the result is a local relation
    * over the final k×dim rows. Building or explaining any query that
    * composes a trainer therefore trains; time such a query's
    * construction together with its action. The payoff: every
    * consumer reads bounded local rows instead of replaying the
    * trajectory (Spark MLlib's KMeans collects per iteration too). */
  def kmeansTrain(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    // Assignment-carrying rows stay (cid, v): the per-iteration argmin
    // is ONE codegen'd expression over the broadcast centroid-array
    // row (no per-dim explode×k join, no groupBy, no window shuffle —
    // round-19 rewrite; the old exploded form pushed corpus×k×dims
    // rows through a hash aggregate plus a row_number sort PER
    // ITERATION). Distances fold in dim order ([[graft.functions.L2Sq]]),
    // the same per-dim accumulation order the exploded partial
    // aggregate produced, and the 6-dp round + cid tie-break contract
    // is unchanged — assignments are bit-identical (oracle replays
    // re-gated, PipelineSpec trajectory pins unchanged).
    def means(assigned: DataFrame): DataFrame =
      assigned.select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,18)")).as("sx"))
        .select(col("cid"), col("pos"), col("n"),
          round(col("sx").cast("double") / col("n"), 6).as("cmean"))
    // Each round's k×dim means MATERIALIZE to the driver and the loop
    // continues from a LocalRelation (round 20). The per-round
    // csLiteral collect already pulls exactly these rows; continuing
    // from the live lineage instead made every round's collect RE-RUN
    // all preceding rounds from scratch (quadratic re-execution in
    // iters) and re-optimize a literal-heavy plan that deepens per
    // round. Values are bit-identical — the same collected doubles
    // feed the same assignment expression — and downstream consumers
    // (centroid writes, collectCents) now run against bounded local
    // rows instead of replaying the trajectory per action, which also
    // makes [[imiTrainedCents]]' old localCheckpoint redundant.
    def localized(df: DataFrame): DataFrame =
      df.sparkSession.createDataFrame(
        java.util.Arrays.asList(df.collect(): _*), df.schema)
    var cents = localized(means(vecs.select(
      graft.operators.Sampling.hashBucket(col("vec_id"), k).as("cid"),
      col("v"))))
    for (_ <- 1 to iters) {
      val cs = csLiteral(cents, "pos")
      val assigned = vecs
        .select(nearestIn(cs, col("v")).as("cid"), col("v"))
        .filter(col("cid").isNotNull)
      cents = localized(means(assigned))
    }
    cents.select(col("cid"), (col("pos") + 1).as("dim"), col("n"),
      col("cmean"))
  }

  /** Trained centroids in exploded (cid, <posCol>, cmean) form,
    * COLLECTED and re-emitted as a literal `array<struct<cid, cvec>>`
    * column, cvec ordered by position, entries ordered by cid.
    *
    * This is a deliberate, bounded driver collect: k·dims doubles —
    * the QUANTIZER, a constant independent of corpus size (8×64 here;
    * even a 2¹⁶-cell, 1024-dim production quantizer is ~0.5 GB of
    * plan-side state, and that regime belongs to the IMI layout
    * whose half-quantizers are 2⁸ each). Spark MLlib's own KMeans
    * collects centroids to the driver every Lloyd iteration for the
    * same reason: the next assignment becomes a pure per-row
    * projection — no exploded dim×k join, no per-iteration broadcast
    * build, no row_number window, no shuffle of the vector side at
    * all. Values round-trip exactly (collect carries the same doubles
    * the rounded means produced), so assignments, trajectories and
    * every downstream gate are bit-identical to the joined form. */
  private def csLiteral(cents: DataFrame, posCol: String): Column =
    csLiteralFrom(collectCents(cents, posCol))

  /** Per-INSTANCE memo of collected quantizers (centroids and PQ
    * codebooks), keyed by the Dataset object REFERENCE (WeakHashMap;
    * Dataset keeps identity equals): a multi-rung enumeration (the
    * recall curve serves 16 rungs off one trained-cents frame) would
    * otherwise re-run the bounded collect as a separate Spark action
    * per serve leg. It dedups actions within one composition, the
    * job localCheckpoint does for frames.
    *
    * The persisted serves keep their collected quantizer in the
    * index's [[IndexSnapshot]] instead, beside the stored code-table
    * schema, tombstone presence and cell occupancy: values derived
    * from the stored tables, never DataFrames or results, and held
    * only while the sidecar's generation tokens are unchanged. That
    * is no cross-run result cache either: the query suite rebuilds
    * each index on every run, the rebuild writes fresh tokens, and
    * nothing derived from an earlier run is ever served. */
  private val quantizerMemo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, Map[String, AnyRef]]())

  private def memoized[T <: AnyRef](df: DataFrame, tag: String)
      (f: => T): T = {
    val m = Option(quantizerMemo.get(df)).getOrElse(Map.empty)
    m.get(tag) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val v = f
        quantizerMemo.put(df, m + (tag -> v))
        v
    }
  }

  /** The bounded collect behind [[csLiteral]]: (cid, cvec) pairs,
    * cids ascending, cvec in position order. */
  private type CentEntries = Seq[(Any, Seq[Double])]

  private def collectCents(cents: DataFrame,
      posCol: String): CentEntries =
    memoized(cents, s"cents:$posCol") {
      cents.select(col("cid"), col(posCol), col("cmean")).collect()
        .groupBy(r => r.get(0))
        .toSeq
        .sortBy { case (cid, _) => cid.asInstanceOf[Number].longValue }
        .map { case (cid, rs) =>
          (cid, rs.sortBy(_.get(1).asInstanceOf[Number].longValue)
            .map(_.getDouble(2)).toSeq)
        }
    }

  private def csLiteralFrom(entries: Seq[(Any, Seq[Double])]): Column =
    if (entries.isEmpty)
      // Typed empty: keeps resolution (getField) working on an
      // empty-corpus quantizer; every consumer yields zero rows from
      // it, matching the joined form's empty-join semantics.
      expr("CAST(array() AS array<struct<cid:int,cvec:array<double>>>)")
    else array(entries.map { case (cid, cvec) =>
      struct(lit(cid).as("cid"), array(cvec.map(lit(_)): _*).as("cvec"))
    }: _*)

  /** (rounded L2², cid) structs of `v` against every centroid of a
    * [[csLiteral]] array — array_min picks the (distance asc, cid
    * asc) rank-1 cell, array_sort enumerates the full ranking; ONE
    * expression so every consumer inherits the same determinism
    * contract. [[graft.functions.L2Sq]] folds in dim order, the same
    * per-dimension accumulation order the old exploded partial
    * aggregate produced, so the 6-dp-rounded ranking is unchanged. */
  private def distStructs(cs: Column, v: Column): Column =
    transform(cs, c => struct(
      round(graft.functions.functions.l2_sq(v, c.getField("cvec")), 6)
        .as("d2r"),
      c.getField("cid").as("cid")))

  /** Rank-1 cid of [[distStructs]] — the argmin every index/encode
    * side uses. Null only when the quantizer is empty. */
  private def nearestIn(cs: Column, v: Column): Column =
    array_min(distStructs(cs, v)).getField("cid")

  /** IVF search over TRAINED cells — the production composition
    * train → index → search with no labels anywhere: `cents` is a
    * trained quantizer in [[kmeansTrain]]'s exploded (cid, dim, cmean)
    * form; the corpus indexes under each vector's nearest trained cell
    * (rank 1, the self-indexed contract of [[knnJoinIndexed]] — with
    * no labels, assignment is the only possible blocking) and probes
    * search their `nprobe` nearest cells. Same determinism contract as
    * the whole IVF family: rounded L2² with cid tie-break, rounded
    * cosine with neighbor-id tie-break. Probing every cell is
    * exhaustive by construction (cells partition the corpus), pinned
    * against brute force in PipelineSpec. */
  /** Trained-centroid cell assignment shared by [[ivfSearchTrained]]
    * and the persisted-index pair ([[writeIvfIndex]] /
    * [[searchIvfIndex]]) — one implementation so the determinism
    * contract (rounded L2² asc, cid asc) cannot diverge between the
    * in-memory and persisted paths. `cents` carries (cid, dim, cmean),
    * dims 1-based. */
  private def trainedAssign(src: DataFrame, cents: DataFrame,
      n: Int): DataFrame =
    trainedAssignRanked(src, cents, n).select(col("probe_id"), col("cid"))

  /** `src` with its rank-1 trained cell computed INLINE on the row —
    * [[trainedAssign]] at n = 1 as a pure projection that keeps every
    * input column (round 20): the build/append legs of the
    * cell-partitioned layouts used to compute the assignment as a
    * separate frame and re-attach it with a corpus-sized join on
    * vec_id; the assignment depends only on the row's own vector and
    * the bounded quantizer, so the join bought nothing. Same argmin
    * expression ([[nearestIn]] over [[distStructs]]), same null
    * filter for an empty quantizer — assignments bit-identical. */
  private def withInlineCell(src: DataFrame, cents: DataFrame): DataFrame = {
    requireUnreserved(src, "cell assignment", "cell")
    src.withColumn("cell", nearestIn(csLiteral(cents, "dim"), col("v")))
      .filter(col("cell").isNotNull)
  }

  /** Fail loudly when `src` already carries a column the inline
    * assignment is about to add: `withColumn` would silently replace
    * an input metadata column of that name (and a carried projection
    * would duplicate it), where the old re-attach join failed on the
    * ambiguity. Compared case-insensitively, as Spark resolves. */
  private def requireUnreserved(src: DataFrame, stage: String,
      names: String*): Unit =
    names.foreach { n =>
      require(!src.columns.exists(_.equalsIgnoreCase(n)),
        s"input column '$n' is reserved: the $stage adds its own '$n' " +
          "column — rename the input column")
    }

  /** [[trainedAssign]] with the assignment RANK kept — (probe_id,
    * cid, rn), rn 1-based by (rounded L2² asc, cid asc) — so a
    * multi-nprobe enumeration (the recall curve) can scope one
    * assignment pass per np with a filter instead of re-assigning. */
  private def trainedAssignRanked(src: DataFrame, cents: DataFrame,
      n: Int): DataFrame =
    // Ranks over [[distStructs]] — ONE implementation of the
    // centroid-distance computation, so the ranked and unranked
    // consumers cannot diverge on the rounding contract. array_sort
    // on the (d2r, cid) structs IS the (rounded distance asc, cid
    // asc) ordering, computed inline on the src row against the
    // collected quantizer — no row_number window, no shuffle of the
    // src side at all (round-19 rewrite of the exploded join +
    // window form).
    src.select(col("vec_id").as("probe_id"), posexplode(
        slice(array_sort(distStructs(csLiteral(cents, "dim"), col("v"))),
          1, n))
        .as(Seq("i", "e")))
      .select(col("probe_id"), col("e.cid").as("cid"),
        (col("i") + 1).as("rn"))

  /** Rounded L2² of every `src` row against every trained centroid —
    * (probe_id, cid, d2r): [[trainedAssignRanked]]'s distance frame
    * WITHOUT the rank cut, for consumers that rank a composition of
    * distances rather than one list (the trained multi-index ranks
    * PAIRS by the sum of two half-distances). Same determinism
    * contract: 6-dp-rounded distance, cid tie-break downstream. */
  private def trainedDistances(src: DataFrame,
      cents: DataFrame): DataFrame =
    src.select(col("vec_id").as("probe_id"),
        explode(distStructs(csLiteral(cents, "dim"), col("v"))).as("e"))
      .select(col("probe_id"), col("e.cid").as("cid"),
        col("e.d2r").as("d2r"))

  /** One vector half as a (vec_id, v) frame — sub 0 = the leading
    * size/2 dims, sub 1 = the rest. Positions re-base to 0 within the
    * slice; they are only join keys within a half, so distances and
    * Lloyd trajectories are unchanged by the re-basing. */
  private def imiHalf(df: DataFrame, sub: Int): DataFrame =
    df.select(col("vec_id"),
      (if (sub == 0)
        expr("slice(v, 1, cast(size(v) / 2 as int))")
      else
        expr("slice(v, cast(size(v) / 2 as int) + 1, " +
          "size(v) - cast(size(v) / 2 as int))")).as("v"))

  /** Train both half-quantizers by hash-seeded Lloyd. Each trained
    * table feeds BOTH the corpus-index and the probe-assignment
    * branches; [[kmeansTrain]] returns its means as a LocalRelation
    * (round 20), so each trajectory already runs exactly once per
    * query and every consuming branch reads bounded local rows — the
    * localCheckpoint that used to enforce this is redundant (it
    * re-materialized the local rows through an RDD and made every
    * later consumer action a cluster job again). */
  private[graft] def imiTrainedCents(vecs: DataFrame, kSub: Int,
      iters: Int): Seq[DataFrame] =
    Seq(0, 1).map(s => kmeansTrain(imiHalf(vecs, s), kSub, iters))

  /** TRAINED half-quantizers re-keyed to the (sub, clabel, pos,
    * cmean) half-codebook shape ([[imiSubCentroids]]'s), so the
    * residual machinery ([[imiCentArrays]], [[imiPairResiduals]])
    * serves both codebook trainings through one implementation.
    * Positions re-base to the half slice (kmeansTrain's 1-based dim
    * − 1) — an ordering key within a half only, so the concatenated
    * pair centroid aligns with the full vector exactly as the
    * absolute-position label shape does. */
  private def imiTrainedAsSubCents(cents: Seq[DataFrame]): DataFrame =
    Seq(0, 1).map(s => cents(s).select(lit(s).as("sub"),
      col("cid").as("clabel"), (col("dim") - 1).as("pos"), col("cmean")))
      .reduce(_ unionByName _)

  /** Sub-distance frame of `src` against TRAINED half-quantizers —
    * the label-free analog of [[imiSubDistancesAgainst]], same
    * (probe_id, sub, clabel, d2r) shape so the pair/argmin helpers
    * serve both trainings. */
  private def imiTrainedSubD(cents: Seq[DataFrame],
      src: DataFrame): DataFrame =
    Seq(0, 1).map(s =>
      trainedDistances(imiHalf(src, s), cents(s))
        .select(col("probe_id"), lit(s).as("sub"),
          col("cid").as("clabel"), col("d2r")))
      .reduce(_ unionByName _)

  /** The PRODUCTION multi-index: [[imiTopK]] with the half codebooks
    * trained by hash-seeded Lloyd ([[kmeansTrain]] per half) instead of
    * label means — train → index → search with no labels anywhere, the
    * same composition step [[ivfSearchTrained]] makes for the single-
    * level family. Each half trains independently on its slice of the
    * corpus (k sub-centroids per half, k² virtual cells from 2·k
    * distances per probe); corpus rows index in their rank-1 pair,
    * probes rank pairs by the summed rounded half-distances with
    * (l0, l1) tie-break, and the serve is the shared [[imiServe]]
    * frame. Trajectories are bit-reproducible against the sequential
    * SQL replay (kmeansTrain's contract), so the gated row is exact.
    * 100 TB: the half slices are projections, both trainings are the
    * standard Lloyd shape, and the pair-keyed serve is [[imiTopK]]'s. */
  def imiTrainedTopK(vecs: DataFrame, probes: DataFrame, k: Int,
      kSub: Int = 8, iters: Int = 2, nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val halves = collectHalvesTrained(imiTrainedCents(vecs, kSub, iters))
    val assigned = inlineProbePairsRanked(probes, halves, nprobe)
      .select(col("probe_id"), col("l0"), col("l1"))
    val corpus = withInlinePair(withNorm(vecs), halves)
      .select(col("vec_id"), col("v"), col("nrm"), col("c0"), col("c1"))
    imiServe(probes, assigned, corpus, k)
  }

  /** Recall-vs-bytes operating points of the TRAINED multi-index,
    * TWO RUNGS per operating point since round 17: 'imi' (raw floats
    * in the cells — candidates × 512 B) and 'imipq' ([[imiPqTopK]]'s
    * Multi-D-ADC over the SAME quantizer and pair index — candidates
    * × m B of codes + the depth-`rerankDepth` refine fetch × 512 B),
    * so the artifact directly answers what the same candidate set
    * costs under each cell encoding. The IMI counterpart of the
    * single-level recall curve: for each
    * nprobe the exact-integer recall overlap against brute force and
    * the exact bytes the serve reads (at the
    * 64-dim corpus — the DPP contract over the pair-partitioned
    * layout: candidates = Σ probed-pair occupancy − self, where the
    * self row is subtracted via a MEMBERSHIP CHECK against the index
    * frame, so the figure is exact for corpus-member AND external
    * probe sets alike; for members the check always fires because the
    * pair ordering separates — min(r0 + r1) is attained at the two
    * per-half argmins — making it equivalent to the old unconditional
    * subtraction). Why this artifact
    * matters at 100 TB: at equal nprobe the IMI probes k² -granular
    * cells, so its candidate set (and bytes) per operating point is
    * ~k× smaller than the single-level curve's — this is the frame a
    * deployment reads to pick the two-level rung. One shared pair
    * ranking serves all operating points (rank once, filter per np);
    * both trainings run once ([[imiTrainedCents]]).
    *
    * Probe sets may be corpus slices OR external vectors: the
    * candidate count subtracts the probe's own index row only where a
    * membership probe against the index frame finds one (see the
    * inline note at the `cand` frame), so both cases are exact. The
    * gated rows probe a corpus slice; the external case is
    * spec-pinned. */
  def imiRecallCurve(vecs: DataFrame, probes: DataFrame, k: Int,
      kSub: Int = 8, iters: Int = 2,
      nps: Seq[Int] = Seq(1, 2, 4, 8), m: Int = 4, codebookK: Int = 8,
      rerankDepth: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = imiTrainedCents(vecs, kSub, iters)
    val halves = collectHalvesTrained(cents)
    // localCheckpointed: the pair index feeds three consumers
    // (pair sizes, the membership probe, the ADC rung's pair-rank
    // join). The inline assignment (round 19) removed the per-vector
    // aggregate whose EXCHANGE used to be the runtime-reused
    // materialization across those branches; this narrow
    // (id, c0, c1) frame is the same bytes the old exchange wrote,
    // materialized once explicitly instead of re-deriving the
    // assignment per branch (re-measured: the clustered fixture's
    // synthesized corpus made per-branch re-evaluation a 1.5×
    // regression).
    val idx = withInlinePair(vecs.select(col("vec_id"), col("v")), halves)
      .select(col("vec_id").as("corpus_id"), col("c0"), col("c1"))
      .localCheckpoint()
    val pairSizes = idx.groupBy(col("c0"), col("c1"))
      .agg(count(lit(1)).as("pair_n"))
    val ranked = inlineProbePairsRanked(probes, halves, nps.max)
    val corpus = withInlinePair(withNorm(vecs), halves)
      .select(col("vec_id"), col("v"), col("nrm"), col("c0"), col("c1"))
    val bf = bruteForceTopK(vecs, probes, k)
    val rungs = nps.map { np =>
      val assigned = ranked.filter(col("rn") <= np)
        .select(col("probe_id"), col("l0"), col("l1"))
      recallAtK(bf, imiServe(probes, assigned, corpus, k))
        .select(lit(np).as("np"), col("probe_id"), col("hits"),
          col("n_exact"))
    }.reduce(_ unionByName _)
    // MEMBERSHIP-CHECKED self-row subtraction: the probe's own index
    // row is subtracted from the candidate count only where it
    // actually lands in a probed pair — derived from a real membership
    // probe against the index frame (probe-bounded: ≤ |probes| rows,
    // broadcast), NOT assumed. For corpus-member probes this equals
    // the old unconditional −1 (the pair ordering separates, so a
    // member's own pair is always its rank-1 pair — both gated rows
    // re-gate bit-identically); for EXTERNAL probes no self row
    // exists, nothing subtracts, and the candidate/bytes figures are
    // now exact instead of off by one (spec-pinned).
    val selfIn = broadcast(idx
      .join(probes.select(col("vec_id").as("corpus_id")),
        Seq("corpus_id"))
      .select(col("corpus_id").as("probe_id"), col("c0").as("l0"),
        col("c1").as("l1"), lit(1L).as("self_row")))
    val cand = nps.map { np =>
      ranked.filter(col("rn") <= np)
        .join(broadcast(pairSizes),
          col("l0") === col("c0") && col("l1") === col("c1"))
        .join(selfIn, Seq("probe_id", "l0", "l1"), "left")
        .groupBy(col("probe_id"))
        .agg((sum(col("pair_n")) -
          coalesce(sum(col("self_row")), lit(0L))).as("cand"))
        .select(lit(np).as("np"), col("probe_id"), col("cand"))
    }.reduce(_ unionByName _)
    val imiRows = rungs.join(cand, Seq("np", "probe_id"))
      .select(lit("imi").as("rung"), col("np"), col("probe_id"),
        col("hits"), col("n_exact"), col("cand"),
        (col("cand") * 512L).as("bytes_scanned"))
    // The Multi-D-ADC rung ([[imiPqTopK]]'s composition over the SAME
    // trained quantizer and pair index): the candidate SET per
    // operating point is identical to the raw-float rung's — what
    // changes is the bytes each candidate costs (m-byte residual
    // code vs 512 B of floats) plus the shortlist-bounded float
    // fetch of the exact refine. One ADC pass scores all operating
    // points (each (probe, vec) row lives in exactly one pair, so a
    // pair-rank join makes per-np scoping a filter, not a re-score);
    // one codebook training and one corpus encode serve the whole
    // rung.
    val subCents = imiTrainedAsSubCents(cents)
    val (rcb, codes) = imiPqEncode(vecs, subCents, m, codebookK)
    val scoredRn = imiPqAdcScores(codes, rcb, subCents, probes,
        ranked.select(col("probe_id"), col("l0"), col("l1")), m)
      .join(idx.select(col("corpus_id").as("vec_id"), col("c0"),
        col("c1")), Seq("vec_id"))
      .join(ranked.select(col("probe_id"), col("l0").as("c0"),
        col("l1").as("c1"), col("rn")), Seq("probe_id", "c0", "c1"))
      .select(col("probe_id"), col("vec_id"), col("adist"), col("rn"))
    // NOT localCheckpointed: measured 8.0–8.8 → 10.3–12.0 s at sf0.1.
    // The per-np consumers differ only by a rank filter above one
    // shared subtree — runtime ReuseExchange dedups it, and the eager
    // cut only adds a materialization (the sim_recall_ladder side of
    // the round-16 rule, re-measured here rather than assumed).
    val wS = Window.partitionBy(col("probe_id"))
      .orderBy(col("adist").asc, col("vec_id").asc)
    val wC = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_r").desc, col("neighbor_id").asc)
    val pvb = broadcast(withNorm(probes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm")))
    val vn = withNorm(vecs).select(col("vec_id").as("neighbor_id"),
      col("v"), col("nrm"))
    val pqRungs = nps.map { np =>
      val short = scoredRn.filter(col("rn") <= np)
        .withColumn("srnk", row_number().over(wS))
        .filter(col("srnk") <= rerankDepth)
        .select(col("probe_id"), col("vec_id").as("neighbor_id"))
      val served = broadcast(short).join(vn, Seq("neighbor_id"))
        .join(pvb, Seq("probe_id"))
        .select(col("probe_id"), col("neighbor_id"),
          round(dot(col("pv"), col("v")) / (col("pnrm") * col("nrm")), 6)
            .as("cos_r"))
        .withColumn("rnk", row_number().over(wC))
        .filter(col("rnk") <= k)
      recallAtK(bf, served)
        .select(lit(np).as("np"), col("probe_id"), col("hits"),
          col("n_exact"))
    }.reduce(_ unionByName _)
    val pqRows = pqRungs.join(cand, Seq("np", "probe_id"))
      .select(lit("imipq").as("rung"), col("np"), col("probe_id"),
        col("hits"), col("n_exact"), col("cand"),
        (col("cand") * m.toLong +
          least(col("cand"), lit(rerankDepth.toLong)) * 512L)
          .as("bytes_scanned"))
    imiRows.unionByName(pqRows)
  }

  /** Per-probe probed-cell OCCUPANCY up to `nprobe` — (probe_id, rn,
    * cell_n): the probe's rank-rn cell holds cell_n corpus vectors.
    * This is the exact-integer frame the recall curve turns into
    * bytes-scanned-per-serve: an IVF-family serve at nprobe = np
    * touches Σ_{rn ≤ np} cell_n candidate rows (minus the probe's own
    * row — its rank-1 cell is always consulted), and each layout's
    * bytes follow from its per-row code width. Cost: the corpus
    * assignment pass (shared shape with every IVF build) plus a
    * kCells-row size table broadcast into the probe assignment. */
  def probedCellSizes(vecs: DataFrame, probes: DataFrame,
      cents: DataFrame, nprobe: Int): DataFrame = {
    val sizes = trainedAssign(vecs, cents, 1)
      .groupBy(col("cid")).agg(count(lit(1)).as("cell_n"))
    trainedAssignRanked(probes, cents, nprobe)
      .join(broadcast(sizes), Seq("cid"))
      .select(col("probe_id"), col("rn"), col("cell_n"))
  }

  def ivfSearchTrained(vecs: DataFrame, probes: DataFrame,
      cents: DataFrame, k: Int, nprobe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val pcells = trainedAssign(probes, cents, nprobe)
      .select(col("probe_id"), col("cid").as("pcell"))
    val pb = withNorm(probes).select(col("vec_id").as("probe_id"),
      col("v").as("pv"), col("nrm").as("pnrm"))
      .join(pcells, Seq("probe_id"))
    // Inline rank-1 assignment on the corpus row ([[withInlineCell]],
    // round 20) — no assignment frame, no re-attach join.
    val corpus = withInlineCell(withNorm(vecs), cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    val scored = pb
      .join(corpus,
        col("pcell") === col("cell") && col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("pv"), col("v")) / (col("pnrm") * col("nrm")), 6)
          .as("cos_r"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_r").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Materialize the IVF index next to the corpus: every vector with
    * its own (rn = 1) trained cell, written CELL-PARTITIONED parquet,
    * plus the centroid table — the layout SCALING.md prescribes once an
    * index is consulted more often than it is rebuilt. Norms are
    * precomputed at index time (`nrm` column), so serving never
    * re-reduces the vectors. */
  def writeIvfIndex(vecs: DataFrame, cents: DataFrame, dir: String): Unit =
    buildLayout(vecs.sparkSession, dir, IvfFlatLayout) {
      // Centroids first, then assign against the RE-READ table: `cents`
      // is typically a live kmeansTrain lineage, and each write action
      // would replay the whole training trajectory (caching it was
      // measured slower in-query — knnJoinIndexed's note — but a BUILD
      // is exactly the "materialize the index outside the query" case
      // that note prescribes). Parquet round-trips the means exactly,
      // so the assignment is bit-identical either way.
      cents.write.mode("overwrite").parquet(s"$dir/centroids")
      // Inline rank-1 assignment on the row ([[withInlineCell]],
      // round 20) — the separate assignment frame + corpus-sized
      // re-attach join on vec_id are gone; same argmin, same rows.
      withInlineCell(withNorm(vecs),
        vecs.sparkSession.read.parquet(s"$dir/centroids"))
    }

  /** APPEND a new corpus batch to a persisted [[writeIvfIndex]] layout
    * — the incremental-ingestion path for ANN serving: the new vectors
    * assign against the STORED centroids (the quantizer is fixed once
    * trained; FAISS's `add` contract) and their rows land in the same
    * cell-partitioned layout, so serving sees the union with no
    * rebuild and no change to [[searchIvfIndex]]. Assignment is per-
    * vector and depends only on the centroid table, so write(A) then
    * append(B) is file-for-file equivalent to write(A ∪ B) under the
    * same centroids (PipelineSpec pins the served parity bit-for-bit).
    * Re-TRAINING the quantizer, by contrast, is a rebuild — new cells
    * re-bucket everything, same rule as the streaming-dedup family
    * switch. An append of a previously deleted vec_id is a re-add:
    * [[appendRows]] clears its tombstone after the data commits. */
  def appendIvfIndex(spark: org.apache.spark.sql.SparkSession,
      vecs2: DataFrame, dir: String): Unit = {
    requireLayout(spark, dir, IvfFlatLayout)
    appendRows(spark, dir, IvfFlatLayout, vecs2,
      withInlineCell(withNorm(vecs2), spark.read.parquet(s"$dir/centroids")),
      "appendIvfIndex")
  }

  /** One tombstoned vector layout: the fixed fields its sidecar records
    * and every lifecycle leg checks, its row table under the index dir,
    * and the keys that table is partitioned by (none, the coarse
    * `cell`, or the IMI pair `c0`, `c1`). Build parameters such as
    * PQ's `m` ride beside the fixed fields. */
  private final case class VectorLayout(sidecar: Seq[(String, String)],
      table: String, partKeys: Seq[String]) {
    def name: String = sidecar.head._2
    def rows(dir: String): String = s"$dir/$table"
  }

  // BQ fmt=2: the code table lives under `codes/` (fmt 1, pre-r14,
  // wrote code files at the dir root), so an old-layout dir is rejected
  // loudly instead of appending a `codes/` subdir the fmt-1 reader
  // ignores or serving half the corpus. IVF-PQ fmt=2 marks by-residual
  // codes (fmt 1 held raw-vector codes a fmt-2 serve would score as
  // garbage); IMI-PQ fmt=2 marks code rows that carry metadata. The
  // flat and SQ8 layouts both store an `index/` table, so the layout
  // key keeps an append or serve against the wrong one from merging
  // mismatched schemas.
  private val BqLayout = VectorLayout(
    Seq("layout" -> "bq", "bits" -> "64", "fmt" -> "2"), "codes", Nil)
  private val IvfBqLayout = VectorLayout(
    Seq("layout" -> "ivf_bq", "bits" -> "64", "fmt" -> "1"), "codes",
    Seq("cell"))
  private val IvfFlatLayout = VectorLayout(
    Seq("layout" -> "ivf_flat", "fmt" -> "1"), "index", Seq("cell"))
  private val IvfSq8Layout = VectorLayout(
    Seq("layout" -> "ivf_sq8", "bits" -> "8", "fmt" -> "1"), "index",
    Seq("cell"))
  private val IvfPqLayout = VectorLayout(
    Seq("layout" -> "ivf_pq", "fmt" -> "2"), "codes", Seq("cell"))
  private val ImiLayout = VectorLayout(
    Seq("layout" -> "imi", "fmt" -> "1"), "index", Seq("c0", "c1"))
  private val ImiPqLayout = VectorLayout(
    Seq("layout" -> "imi_pq", "fmt" -> "2"), "codes", Seq("c0", "c1"))

  /** Sidecar layouts whose ids [[deleteFromIvfIndex]] may tombstone:
    * the seven vector layouts and the knn-assignment table. */
  private val TombstonedLayouts =
    Seq(BqLayout, IvfBqLayout, IvfFlatLayout, IvfSq8Layout, IvfPqLayout,
      ImiLayout, ImiPqLayout).map(_.name).toSet + "knn_assign"

  /** Fail unless `dir`'s sidecar records `layout`'s fixed fields and
    * the given build parameters. */
  private def requireLayout(spark: org.apache.spark.sql.SparkSession,
      dir: String, layout: VectorLayout, params: (String, String)*): Unit =
    IndexMeta.requireMatch(spark, dir, layout.sidecar ++ params: _*)

  /** The build leg of every vector layout: clear the previous
    * generation's tombstones, run `rows` (which writes the layout's
    * quantizer tables, if any, and returns the row frame), write the
    * rows partitioned by the layout's keys, then the sidecar with fresh
    * generation tokens ([[IndexSnapshot]]). */
  private def buildLayout(spark: org.apache.spark.sql.SparkSession,
      dir: String, layout: VectorLayout, params: (String, String)*)(
      rows: => DataFrame): Unit = {
    clearTombstones(spark, dir)
    rows.write.mode("overwrite").partitionBy(layout.partKeys: _*)
      .parquet(layout.rows(dir))
    IndexMeta.write(spark, dir,
      layout.sidecar ++ params ++ IndexSnapshot.buildTokens(): _*)
  }

  /** The append leg of every vector layout, after the caller's sidecar
    * check: gate `rows` on the stored column set (`stored` when the
    * caller already holds the schema, else read from the table — rows
    * carry metadata for the filtered serves, so a mismatched batch must
    * fail at entry, not leave mixed-schema files), clear a full-drain
    * placeholder, append partitioned by the layout's keys, clear the
    * tombstones of re-added `batch` ids, then write a new data token. */
  private def appendRows(spark: org.apache.spark.sql.SparkSession,
      dir: String, layout: VectorLayout, batch: DataFrame, rows: DataFrame,
      leg: String,
      stored: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    val table = layout.rows(dir)
    stored.fold(FsOps.requireAppendColumns(spark, table, rows, leg))(
      FsOps.requireColumns(_, rows, leg))
    layout.partKeys.headOption.foreach(clearDrainedPlaceholder(spark, table, _))
    rows.write.mode("append").partitionBy(layout.partKeys: _*).parquet(table)
    reconcileTombstonesAfterAppend(spark, dir, batch.select(col("vec_id")))
    IndexSnapshot.bumpData(spark, dir)
  }

  /** Shared by the append legs: anti-join the appended ids out of the
    * tombstone table (staged + checked swap), so a delete-then-re-add
    * serves the re-added rows and a later compaction cannot drop
    * them. Runs AFTER the data append commits — a crash in the window
    * leaves the new rows masked (retryable), never stale rows
    * visible. Caller contract (FAISS's `add` has the same one — ids
    * are not membership-checked): re-adding an id whose deleted rows
    * are still physically present (deleted but not yet compacted)
    * would leave duplicate rows once unmasked; compact first
    * (PipelineSpec's re-add pins exercise exactly that flow). */
  private def reconcileTombstonesAfterAppend(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      ids: DataFrame): Unit =
    readTombstones(spark, dir).foreach { t =>
      FsOps.clearStaging(FsOps.fsOf(spark, dir), dir)
      val appended = ids
        .select(col("vec_id").cast("long").as("vec_id")).distinct()
      val staging = s"$dir/tombstones_next"
      t.join(broadcast(appended), Seq("vec_id"), "left_anti")
        .write.mode("overwrite").parquet(staging)
      FsOps.swapInto(FsOps.fsOf(spark, dir), staging,
        s"$dir/tombstones")
    }

  /** Tombstone-DELETE vectors from a persisted vector layout (any of
    * the seven, or a [[writeKnnAssignIndex]] table) — the removal half
    * of the index lifecycle (user deletion requests, retracted
    * documents) next to the append half. Ids land in a side table
    * (`tombstones/`), the index files are untouched, and every serve
    * masks them with one broadcast anti-join — O(|deletes|) serve
    * overhead, zero rewrite cost, exactly the tombstone contract every
    * LSM-shaped store uses. The dir's sidecar is checked first: a
    * delete aimed at a mistyped path or another kind of index would
    * otherwise "succeed" and mask nothing. The layout's compaction
    * reclaims the space and drains the table. */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, dir: String): Unit = {
    val layout = IndexMeta.read(spark, dir).getOrElse("layout", "<absent>")
    require(TombstonedLayouts(layout),
      s"index at $dir has layout=$layout, which has no tombstone " +
        s"table; deletes apply to ${TombstonedLayouts.toSeq.sorted
          .mkString(", ")}")
    ids.select(col("vec_id").cast("long").as("vec_id")).distinct()
      .write.mode("append").parquet(s"$dir/tombstones")
    IndexSnapshot.bumpData(spark, dir)
  }

  /** A REBUILD supersedes prior deletions: stale tombstones under the
    * target dir would wrongly mask ids present in the new index. Every
    * write entry point clears them first — through the CHECKED delete
    * (a false-returning `fs.delete` with the path still present would
    * leave stale tombstones silently masking rows in the next build,
    * exactly the failure class FsOps exists to kill). */
  private def clearTombstones(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Every rebuild entry routes through here, so the rebuild also
    // sweeps staging left by a crashed compact/delete of the OLD
    // index generation.
    FsOps.clearStaging(fs, dir)
    FsOps.deleteIfExists(fs, p)
  }

  /** Partition-dir segment for a value, escaped exactly as Spark's
    * partitioned writes escape it (ExternalCatalogUtils.escapePathName
    * — the writer-side codec), so the compaction rename/delete loops
    * match the ON-DISK dir names even for string labels needing URI
    * escaping (space, '/', '='). Raw interpolation would silently
    * miss such dirs: an emptied-partition delete or a full-drain
    * check acting on a name that doesn't exist. Int labels (the only
    * ones today) escape to themselves, so this is a no-op for them. */
  private def partSegment(colName: String, v: Any): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val s = Option(v).map(_.toString)
      .getOrElse(ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
    s"$colName=${ExternalCatalogUtils.escapePathName(s)}"
  }

  /** A FULL-DRAIN compaction replaces a partitioned table with a
    * zero-row NON-partitioned placeholder file at the table root
    * ([[compactLayout]]'s drained branch — a partitioned write of zero
    * rows would leave no parquet footer at all and the next read would
    * fail schema inference). A later partitioned APPEND would write
    * `key=` dirs BESIDE that root file, and the next read of the table
    * fails Spark's partition discovery (mixed partition depths) — so
    * every partitioned append clears the placeholder first. Root-level
    * data files with no `key=` sibling (`key` is the table's first
    * partition key) can ONLY be the drained marker (every build/append
    * writes partitioned), so the whole table dir is safe to drop; with
    * any `key=` dir present the table is live and nothing is touched,
    * whatever stray root files sit beside it. */
  private def clearDrainedPlaceholder(
      spark: org.apache.spark.sql.SparkSession, tableDir: String,
      key: String): Unit = {
    import org.apache.hadoop.fs.Path
    val p = new Path(tableDir)
    val fs = FsOps.fsOf(spark, tableDir)
    if (fs.exists(p)) {
      val entries = fs.listStatus(p)
      val hasParts = entries.exists(s =>
        s.isDirectory && s.getPath.getName.startsWith(s"$key="))
      val rootData = entries.exists(s => s.isFile && {
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
      if (!hasParts && rootData) FsOps.deleteIfExists(fs, p)
    }
  }

  private val TombstoneSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType)))

  /** The tombstone table if one exists, else an empty frame — read
    * with an explicit schema so a drained (zero-part-file) table after
    * [[compactLayout]] still reads cleanly. */
  private def readTombstones(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.schema(TombstoneSchema).parquet(p.toString))
    else None
  }

  /** The tombstone-masked row scan under every vector serve: the
    * layout's row table (read with `schema` when the caller holds it),
    * the optional metadata predicate, then one broadcast anti-join
    * against `tombs` — the tombstone table when the caller found one
    * to apply, so an index without deletes plans no mask. */
  private def liveRows(spark: org.apache.spark.sql.SparkSession,
      dir: String, layout: VectorLayout, tombs: Option[DataFrame],
      pred: Option[Column] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val scan = schema.fold(spark.read)(spark.read.schema(_))
      .parquet(layout.rows(dir))
    val rows = pred.foldLeft(scan)(_ filter _)
    tombs.fold(rows)(t => rows.join(broadcast(t), Seq("vec_id"), "left_anti"))
  }

  /** The partition leaf dirs under `root` for `keys`, relative to it
    * (`cell=3`, `c0=1/c1=2`); none when `root` is absent. */
  private def partitionLeaves(fs: org.apache.hadoop.fs.FileSystem,
      root: String, keys: Seq[String]): Set[String] =
    keys.foldLeft(Set("")) { (parents, key) =>
      parents.flatMap { rel =>
        val p = new org.apache.hadoop.fs.Path(root + rel)
        if (!fs.exists(p)) Nil
        else fs.listStatus(p).map(_.getPath.getName)
          .filter(_.startsWith(s"$key=")).map(n => s"$rel/$n")
      }
    }.map(_.stripPrefix("/"))

  /** The compaction leg of every vector layout: check the sidecar,
    * drop the tombstoned rows from the row table and drain the
    * tombstone table.
    * Reclamation never changes a result: the compacted serve equals the
    * masked serve it replaces (oracle-gated per layout).
    *
    * The unit of rewrite follows the partition keys. An unpartitioned
    * table (flat BQ, 16 B/vector) is rewritten whole and swapped in. A
    * partitioned table rewrites only the leaves (`cell=N` or
    * `c0=X/c1=Y`) that hold tombstoned rows — untouched leaves are
    * never read or written. The survivors stage to a sibling dir, and
    * each leaf is replaced by a checked delete plus a checked rename: a
    * driver-side metadata loop bounded by the quantizer's cell count
    * (the commit shape of Spark's own dynamic-partition protocol), never
    * data through the driver. There is no rename-aside: a transient
    * `cell=N_old` sibling would match the partition-dir pattern and
    * corrupt a concurrent partitioned read. A leaf whose rows all died
    * is deleted outright, so tombstones always drain fully. A
    * compaction that leaves no row at all swaps in a zero-row
    * schema-preserving file at the table root instead, so the table
    * still reads ([[clearDrainedPlaceholder]] clears it before the next
    * partitioned append).
    *
    * CRASH-WINDOW ORDER: staging left by a crashed leg is swept at
    * entry; the compacted rows commit first, the tombstone drain
    * second, the data token last. A crash after the row commit leaves
    * tombstones naming rows that are already gone — harmless for
    * serves, and an append that re-adds one of those ids clears it
    * ([[reconcileTombstonesAfterAppend]]). The reverse order would
    * unmask the deleted rows if the row swap then crashed. A crash
    * before the token write leaves JVMs that had opened the index on
    * their old derived values until the next write ([[IndexSnapshot]]);
    * re-running the compaction recovers. */
  private def compactLayout(spark: org.apache.spark.sql.SparkSession,
      dir: String, layout: VectorLayout): Unit = {
    import org.apache.hadoop.fs.Path
    requireLayout(spark, dir, layout)
    val fs = FsOps.fsOf(spark, dir)
    FsOps.clearStaging(fs, dir)
    readTombstones(spark, dir).foreach { tombs =>
      val table = layout.rows(dir)
      val staging = s"${table}_compacting"
      val keys = layout.partKeys
      val rows = spark.read.parquet(table)
      // Both rewrites report whether no row survived anywhere.
      def rewriteWhole(): Boolean = {
        rows.join(broadcast(tombs), Seq("vec_id"), "left_anti")
          .write.mode("overwrite").parquet(staging)
        // A full drain can leave the staged write with no data file.
        val hasData = fs.listStatus(new Path(staging))
          .exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        if (hasData) FsOps.swapInto(fs, staging, table)
        !hasData
      }
      def rewriteLeaves(): Boolean = {
        val affected = rows.join(broadcast(tombs), Seq("vec_id"))
          .select(keys.map(col): _*).distinct()
        val rewritten = rows.join(broadcast(affected), keys)
          .join(broadcast(tombs), Seq("vec_id"), "left_anti")
        // Leaves with NO survivors are deleted below instead of
        // rewritten. Leaf count is quantizer-bounded, so collecting
        // them is a metadata-sized driver list.
        val emptied = affected
          .join(rewritten.select(keys.map(col): _*).distinct(), keys,
            "left_anti")
          .collect().map(r => keys.indices
            .map(i => partSegment(keys(i), r.get(i))).mkString("/")).toSet
        rewritten.write.mode("overwrite").partitionBy(keys: _*)
          .parquet(staging)
        val staged = partitionLeaves(fs, staging, keys)
        val drained = emptied.nonEmpty &&
          ((partitionLeaves(fs, table, keys) -- emptied) ++ staged).isEmpty
        if (!drained) {
          staged.foreach { name =>
            val dest = new Path(s"$table/$name")
            FsOps.deleteIfExists(fs, dest)
            fs.mkdirs(dest.getParent)
            FsOps.checkedRename(fs, new Path(s"$staging/$name"), dest)
          }
          emptied.foreach(name =>
            FsOps.deleteIfExists(fs, new Path(s"$table/$name")))
        }
        drained
      }
      if (if (keys.isEmpty) rewriteWhole() else rewriteLeaves()) {
        // The placeholder is staged while the source files are still in
        // place; partition keys ride in it as plain columns.
        val emptyStaging = s"${table}_empty"
        rows.limit(0).write.mode("overwrite").parquet(emptyStaging)
        FsOps.swapInto(fs, emptyStaging, table)
      }
      FsOps.deleteIfExists(fs, new Path(staging))
      // The tombstone table drains to zero rows but stays present, so a
      // later serve reads an empty mask, not a missing path.
      val tombStaging = s"$dir/tombstones_next"
      tombs.limit(0).write.mode("overwrite").parquet(tombStaging)
      FsOps.swapInto(fs, tombStaging, s"$dir/tombstones")
    }
    IndexSnapshot.bumpData(spark, dir)
  }

  /** Physically compact a persisted [[writeIvfIndex]] layout: the
    * affected-cell rewrite of [[compactLayout]] over the float cell
    * table. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    compactLayout(spark, dir, IvfFlatLayout)

  /** [[compactIvfIndex]] for the PQ layout — the same rewrite over the
    * cell-partitioned `codes/` table. */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    compactLayout(spark, dir, IvfPqLayout)

  /** Search a persisted [[writeIvfIndex]] layout: probes assign to
    * their `nprobe` nearest stored centroids, then join the
    * cell-partitioned index on the cell key — Spark's dynamic partition
    * pruning drives the scan from the (tiny) probe-cell set, so a
    * serving query physically reads only the consulted cells'
    * partitions, not the corpus (PipelineSpec pins both the
    * bit-for-bit parity with [[ivfSearchTrained]] and the DPP filter
    * in the plan). Exactly the contract of the in-memory path:
    * rounded-cosine desc, neighbor asc, top-k per probe. */
  def searchIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      probes: DataFrame, k: Int, nprobe: Int = 1): DataFrame =
    searchIvfIndexImpl(spark, dir, probes, k, nprobe, None)

  /** FILTERED ANN serve: [[searchIvfIndex]] restricted to index rows
    * satisfying a metadata predicate — the filtered-vector-search
    * contract (tenant scoping, language/source restriction, freshness
    * cuts). The predicate applies BEFORE scoring, so the top-k ranks
    * over matching vectors only (never "top-k then filter", which
    * under-returns), and it references columns STORED IN the index —
    * [[writeIvfIndex]] persists whatever metadata columns ride along
    * with (vec_id, v), which is how the filter reaches the parquet
    * scan as a pushed data filter next to the cell DPP (spec-pinned).
    * Recall caveat, same as every IVF system: nprobe bounds the cells
    * consulted; a filter that excludes most of a probe's nearby cells'
    * content returns what those cells still hold — raise nprobe for
    * highly selective filters. Serving a pre-filtered index and
    * filtering at serve are bit-identical (per-vector assignment does
    * not depend on other vectors; spec-pinned). */
  def searchIvfIndexWhere(spark: org.apache.spark.sql.SparkSession,
      dir: String, probes: DataFrame, k: Int, nprobe: Int,
      pred: Column): DataFrame =
    searchIvfIndexImpl(spark, dir, probes, k, nprobe, Some(pred))

  private def searchIvfIndexImpl(spark: org.apache.spark.sql.SparkSession,
      dir: String, probes: DataFrame, k: Int, nprobe: Int,
      pred: Option[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = ivfScoredFromIndex(spark, dir, probes, nprobe, pred)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_r").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** RANGE serve from the persisted IVF layout: every neighbor in the
    * probed cells with cosine ≥ `tau` — [[rangeSearch]]'s contract
    * (threshold recall, not top-k: dedup sweeps and "all docs closer
    * than X" audits want the full ball, however big) served without a
    * corpus scan. Same recall caveat as every IVF serve: only the
    * `nprobe` probed cells are consulted, so the ball is complete
    * WITHIN them; raise nprobe to widen. No ranking window at all —
    * the per-probe top-k structure the top-k serve pays is exactly
    * what a range query must NOT. */
  def searchIvfIndexRange(spark: org.apache.spark.sql.SparkSession,
      dir: String, probes: DataFrame, tau: Double,
      nprobe: Int = 1): DataFrame =
    ivfScoredFromIndex(spark, dir, probes, nprobe, None)
      .filter(col("cos_r") >= tau)

  /** The shared scoring frame of the persisted-IVF serves (top-k,
    * filtered, range): probe→cell assignment against the STORED
    * centroids, cell-equi join into the index (DPP-prunable, tombstone
    * mask applied), rounded cosine. One definition so the serve modes
    * cannot diverge on the determinism or deletion contracts. */
  private def ivfScoredFromIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      probes: DataFrame, nprobe: Int, pred: Option[Column]): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    requireLayout(spark, dir, IvfFlatLayout)
    val cents = spark.read.parquet(s"$dir/centroids")
    val idx = liveRows(spark, dir, IvfFlatLayout, readTombstones(spark, dir),
      pred)
    val pcells = trainedAssign(probes, cents, nprobe)
      .select(col("probe_id"), col("cid").as("pcell"))
    val pb = withNorm(probes).select(col("vec_id").as("probe_id"),
      col("v").as("pv"), col("nrm").as("pnrm"))
    pb.join(pcells, Seq("probe_id"))
      .join(idx,
        col("pcell") === col("cell") && col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("pv"), col("v")) / (col("pnrm") * col("nrm")), 6)
          .as("cos_r"))
  }

  /** [[quantizeInt8]]'s per-vector form: (vec_id, scale, q,
    * metadata…) with the codes kept as one array column — the storage
    * row of the SQ8 index layout. Same formula (scale = max|x|/127,
    * per-dim round-half-up, zero vector → all-zero codes), so the
    * per-dim gated query and this layout cannot diverge (spec-pinned
    * equal). Non-vector input columns ride beside the codes for
    * [[searchIvfSq8IndexWhere]]'s pushed predicate (metadata-less
    * inputs produce the previous schema exactly — existing layouts
    * unchanged). */
  private def sq8Rows(vecs: DataFrame): DataFrame = {
    val metaCols = vecs.columns.filterNot(c => c == "v" || c == "vec_id")
    vecs
      .select((Seq(col("vec_id"),
        (array_max(transform(col("v"), x => abs(x))) / 127.0).as("scale"),
        col("v")) ++ metaCols.map(col)): _*)
      .select((Seq(col("vec_id"), col("scale"),
        transform(col("v"), x =>
          when(col("scale") === 0.0, lit(0))
            .otherwise(round(x / col("scale"), 0)).cast("int")).as("q")) ++
        metaCols.map(col)): _*)
  }

  /** Persist the scalar-quantized (SQ8) IVF layout — the middle rung
    * of the compression ladder between [[writeIvfIndex]]'s full-
    * precision rows (1×) and [[writeIvfPqIndex]]'s PQ codes (~32×):
    * each vector stores as int8 codes plus ONE per-vector scale (4×
    * smaller than float64 rows, no codebook, no training beyond the
    * cell quantizer), cell-partitioned exactly like the flat layout.
    * Per-vector scale means quantization is a pure per-row map — no
    * global calibration pass — so the append leg needs only the
    * stored centroids, the same property that makes the flat append
    * exact. Serving scores maximum inner product ASYMMETRICALLY
    * (full-precision probe against dequantized codes; the scale
    * factors out of the code-side sum: ⟨p, s·q⟩ = s·⟨p, q⟩), the
    * standard SQ serve. */
  def writeIvfSq8Index(vecs: DataFrame, cents: DataFrame,
      dir: String): Unit =
    buildLayout(vecs.sparkSession, dir, IvfSq8Layout) {
      cents.write.mode("overwrite").parquet(s"$dir/centroids")
      // Inline assignment + metadata carry ([[withInlineCell]] under
      // [[sq8Rows]]' projection, round 20) — no re-attach join.
      sq8Rows(withInlineCell(vecs,
        vecs.sparkSession.read.parquet(s"$dir/centroids")))
    }

  /** APPEND a batch to a persisted [[writeIvfSq8Index]] layout — the
    * [[appendIvfIndex]] contract on the compressed rows: assignment
    * uses the STORED centroids and the scale is per-vector, so
    * write(A) then append(B) is row-for-row equal to write(A ∪ B)
    * under the same quantizer (spec-pinned bit-for-bit). Tombstones
    * for re-added ids reconcile after the data append commits. */
  def appendIvfSq8Index(spark: org.apache.spark.sql.SparkSession,
      vecs2: DataFrame, dir: String): Unit = {
    requireLayout(spark, dir, IvfSq8Layout)
    appendRows(spark, dir, IvfSq8Layout, vecs2,
      sq8Rows(withInlineCell(vecs2, spark.read.parquet(s"$dir/centroids"))),
      "appendIvfSq8Index")
  }

  /** Tombstone-DELETE from the SQ8 layout — the tombstone table is
    * layout-agnostic (ids only), so this IS [[deleteFromIvfIndex]]'s
    * contract applied to the SQ8 dir. */
  def deleteFromIvfSq8Index(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, dir: String): Unit =
    deleteFromIvfIndex(spark, ids, dir)

  /** Compaction for the SQ8 layout: the affected-cell rewrite of
    * [[compactLayout]] over the (vec_id, scale, q, cell) table. */
  def compactIvfSq8Index(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    compactLayout(spark, dir, IvfSq8Layout)

  /** Serve maximum-inner-product top-k from a persisted
    * [[writeIvfSq8Index]] layout: probes assign to their `nprobe`
    * nearest stored centroids (same rounded-L2²/cid contract as the
    * whole IVF family), the cell join prunes the scan to consulted
    * partitions (DPP, as [[searchIvfIndex]]), and each candidate
    * scores round(scale · ⟨p, q⟩, 6) — one codegen'd sequential dot
    * over the int codes widened to double, one multiply; the corpus-
    * side full-precision vectors are never read because the layout
    * does not store them. Rank: score desc, neighbor asc, top-k.
    * Deleted ids mask via the broadcast tombstone anti-join. */
  def searchIvfSq8Index(spark: org.apache.spark.sql.SparkSession,
      dir: String, probes: DataFrame, k: Int, nprobe: Int = 1): DataFrame =
    searchIvfSq8IndexImpl(spark, dir, probes, k, nprobe, None)

  /** [[searchIvfSq8Index]] with a metadata predicate pushed to the
    * stored index scan — the compressed rows carry the input's
    * non-vector columns, so the predicate filters candidates before
    * scoring ([[searchIvfIndexWhere]]'s contract on the SQ8 rows;
    * with this the SQ8 layout serves all three modes like the flat
    * and PQ families). */
  def searchIvfSq8IndexWhere(spark: org.apache.spark.sql.SparkSession,
      dir: String, probes: DataFrame, k: Int, nprobe: Int,
      pred: Column): DataFrame =
    searchIvfSq8IndexImpl(spark, dir, probes, k, nprobe, Some(pred))

  private def searchIvfSq8IndexImpl(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      probes: DataFrame, k: Int, nprobe: Int,
      pred: Option[Column]): DataFrame = {
    requireLayout(spark, dir, IvfSq8Layout)
    sq8TopKFrom(
      liveRows(spark, dir, IvfSq8Layout, readTombstones(spark, dir), pred),
      spark.read.parquet(s"$dir/centroids"), probes, k, nprobe)
  }

  /** IN-MEMORY SQ8 serve — [[searchIvfSq8Index]]'s exact scoring
    * frame over a just-quantized corpus, no persisted layout: the
    * ladder-comparison entry point ([[recallAtK]] across rungs wants
    * every rung buildable in one query). One shared private scoring
    * definition, so this and the persisted serve cannot diverge on
    * the determinism contract. */
  def ivfSq8TopK(vecs: DataFrame, probes: DataFrame, cents: DataFrame,
      k: Int, nprobe: Int = 1): DataFrame = {
    val cells = trainedAssign(vecs, cents, 1)
      .select(col("probe_id").as("vec_id"), col("cid").as("cell"))
    sq8TopKFrom(sq8Rows(vecs).join(cells, Seq("vec_id")), cents, probes,
      k, nprobe)
  }

  /** Shared SQ8 scoring stage (in-memory and persisted serves): probe
    * cell assignment, cell-equi candidate join, asymmetric MIPS over
    * the dequantized codes, rank (ip_r desc, neighbor asc, top-k). */
  private def sq8TopKFrom(idx: DataFrame, cents: DataFrame,
      probes: DataFrame, k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("ip_r").desc, col("neighbor_id").asc)
    sq8ScoredFrom(idx, cents, probes, nprobe)
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** The SQ8 serves' shared scored frame (probe → nprobe cells,
    * cell-equi join, round(scale·⟨p,q⟩, 6)) — one definition so the
    * top-k and range modes cannot diverge on the determinism or
    * deletion contracts (the [[ivfScoredFromIndex]] discipline on the
    * compressed rows). */
  private def sq8ScoredFrom(idx: DataFrame, cents: DataFrame,
      probes: DataFrame, nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val pcells = trainedAssign(probes, cents, nprobe)
      .select(col("probe_id"), col("cid").as("pcell"))
    val pb = probes.select(col("vec_id").as("probe_id"), col("v").as("pv"))
    pb.join(pcells, Seq("probe_id"))
      .join(idx,
        col("pcell") === col("cell") && col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        round(col("scale") *
          dot(col("pv"), transform(col("q"), _.cast("double"))), 6)
          .as("ip_r"))
  }

  /** RANGE serve from the persisted SQ8 layout: every neighbor in the
    * probed cells whose (6-dp rounded) asymmetric inner product
    * reaches `tau` — [[searchIvfIndexRange]]'s contract on the
    * compressed rows (threshold recall over the layout's OWN score:
    * "all items scoring at least τ", the recommender-side analog of
    * the cosine ball). No ranking window at all; recall is
    * nprobe-bounded like every IVF serve, and nprobe = kCells
    * degenerates to the full thresholded MIPS scan (spec-pinned).
    * Deleted ids mask via the broadcast tombstone anti-join. */
  def searchIvfSq8IndexRange(spark: org.apache.spark.sql.SparkSession,
      dir: String, probes: DataFrame, tau: Double,
      nprobe: Int = 1): DataFrame = {
    requireLayout(spark, dir, IvfSq8Layout)
    sq8ScoredFrom(liveRows(spark, dir, IvfSq8Layout, readTombstones(spark, dir)),
        spark.read.parquet(s"$dir/centroids"), probes, nprobe)
      .filter(col("ip_r") >= tau)
  }

  /** One Lloyd's-iteration update step over an embedding corpus:
    * assign every vector to its max-cosine centroid (deterministic
    * centroid-id tie-break), then recompute each centroid dimension as
    * the mean of its members.
    *
    * Scale shape: the K centroids broadcast (K·dim doubles); assignment
    * is a map-side scan with a bounded per-row argmax — no shuffle. The
    * update is one aggregation keyed by (centroid, dim) after
    * posexplode: dim fan-out × corpus rows, hash-partial-aggregated
    * map-side, so the shuffle carries ≤ K·dim·partitions rows. Means
    * come from exact decimal sums (order-independent) divided as
    * doubles — bit-stable at any parallelism.
    */
  def kmeansUpdateStep(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = broadcast(withNorm(centroids)
      .select(col("vec_id").as("cid"), col("v").as("cv"),
        col("nrm").as("cnrm")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("cid").asc)
    val assigned = withNorm(vecs)
      .crossJoin(cents)
      .select(col("vec_id"), col("v"), col("cid"),
        (dot(col("v"), col("cv")) / (col("nrm") * col("cnrm"))).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    assigned
      .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cid"), (col("pos") + 1).as("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,18)")).as("sx"))
      .select(col("cid"), col("dim"), col("n"),
        round(col("sx").cast("double") / col("n"), 6).as("mean_r"))
  }

  /** Embedding-distribution drift between two corpus slices — the
    * vector-space analog of the scalar PSI check (pipeline_drift_psi):
    * per-dimension means of the two halves plus the absolute shift.
    * A retrained embedder, a corrupted ingestion batch, or a topic
    * shift all show up as per-dimension mean displacement long before
    * they show in scalar metadata.
    *
    * Scale shape: ONE exploded aggregation keyed by (dim, half) — 2·d
    * output rows regardless of corpus size, full map-side partials, no
    * window. Means use the exact-decimal pattern shared with
    * [[kmeansUpdateStep]] (sum as DECIMAL(38,18), divide once, round
    * 6 dp) so the double-summation order can't drift between engines
    * or partitionings. `splitCol` must be a deterministic 0/1 derivation
    * (the gated query uses vec_id % 2; production uses an ingestion-date
    * or snapshot predicate). */
  def embedDrift(vecs: DataFrame, splitCol: Column): DataFrame = {
    val m = vecs
      .select(splitCol.cast("int").as("half"),
        posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy((col("pos") + 1).as("dim"), col("half"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,18)")).as("sx"))
      .select(col("dim"), col("half"),
        round(col("sx").cast("double") / col("n"), 6).as("mean_r"))
    m.groupBy(col("dim"))
      .agg(max(when(col("half") === 0, col("mean_r"))).as("mean_a"),
        max(when(col("half") === 1, col("mean_r"))).as("mean_b"))
      .select(col("dim"), col("mean_a"), col("mean_b"),
        round(abs(col("mean_a") - col("mean_b")), 6).as("shift"))
  }

  /** Per-dimension corpus mean as a ONE-ROW array column `mus` (6-dp
    * rounded exact-decimal means, positions ascending) — the broadcast
    * centering vector for [[pcaPower]]. The array assembles via
    * `array_sort(collect_list(struct(pos, mu)))`, so the collect's
    * partition-order nondeterminism is sorted away before the transform
    * strips the positions. */
  private[operators] def meanVector(vecs: DataFrame): DataFrame =
    vecs.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,18)")).as("sx"))
      .select(col("pos"), round(col("sx").cast("double") / col("n"), 6)
        .as("mu"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mu"))))
        .as("pm"))
      .select(transform(col("pm"), p => p.getField("mu")).as("mus"))

  /** One power-iteration step over the centered corpus: given the
    * current direction (one-row array `pv`), produce the next (one-row
    * array, unit-norm, 6-dp rounded). w = Σᵢ sᵢ·xcᵢ with
    * sᵢ = xcᵢ·v — i.e. (XᶜᵀXᶜ)v without ever materializing the
    * covariance matrix: one broadcast of v, one per-row sequential dot
    * (codegen'd, deterministic order), one (pos)-keyed exact-decimal
    * contraction. The 6-dp round of both w and the normalized v
    * re-syncs ulp drift every round, the same trick that hash-gates
    * [[kmeansTrain]]'s trajectory. */
  private def powerStep(centered: DataFrame, vrow: DataFrame): DataFrame = {
    val w = centered.crossJoin(broadcast(vrow))
      .withColumn("s", dot(col("xc"), col("pv")))
      .select(col("s"), posexplode(col("xc")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(sum((col("s") * col("x")).cast("decimal(38,18)")).as("sw"))
      .select(col("pos"), round(col("sw").cast("double"), 6).as("w"))
    val norm2 = w.agg(
      sum((col("w") * col("w")).cast("decimal(38,18)")).as("n2d"))
      .select(col("n2d").cast("double").as("n2"))
    w.crossJoin(broadcast(norm2))
      .select(col("pos"), round(col("w") / sqrt(col("n2")), 6).as("vj"))
      .agg(array_sort(collect_list(struct(col("pos"), col("vj"))))
        .as("pm"))
      .select(transform(col("pm"), p => p.getField("vj")).as("pv"))
  }

  /** Top principal component by power iteration (`iters` unrolled
    * rounds), the distributed classic: Xᶜ is never gathered, the d×d
    * covariance never built — each round is one broadcast of the
    * current d-vector, one map-side dot per row, and one d-row keyed
    * aggregation. Start direction is the exact uniform unit vector
    * (1/√d per coordinate, 6-dp rounded). Top-PC estimation is the
    * standard embedding post-process (Arora et al., ICLR 2017 "A
    * Simple but Tough-to-Beat Baseline for Sentence Embeddings" removes
    * it; Mu & Viswanath, ICLR 2018 generalize) — the dominant direction
    * is mostly corpus-common bias, not meaning.
    *
    * Determinism contract: means, contraction terms, and norms all sum
    * as DECIMAL(38,18) over exact double products; per-row dots are
    * sequential-order (codegen'd [[dot]]); every published vector
    * rounds to 6 dp. Output: (dim, loading), 1-based dims.
    *
    * At scale each round re-reads the centered corpus: identical
    * subplans dedup through ReuseExchange in one job, but a cluster
    * run with many rounds should persist (or checkpoint) the centered
    * frame once — the loop body itself stays as written. */
  def pcaPower(vecs: DataFrame, iters: Int = 2): DataFrame = {
    val centered = centeredVectors(vecs)
    val v0 = meanVector(vecs).select(
      transform(col("mus"),
        _ => round(lit(1.0) / sqrt(size(col("mus"))), 6)).as("pv"))
    val vFinal = (1 to iters).foldLeft(v0)((v, _) => powerStep(centered, v))
    vFinal.select(posexplode(col("pv")).as(Seq("pos", "loading")))
      .select((col("pos") + 1).as("dim"), col("loading"))
  }

  /** vecs with the centered array `xc` attached (x − μ, exact IEEE
    * subtraction of the 6-dp-rounded mean). */
  private def centeredVectors(vecs: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(meanVector(vecs)))
      .withColumn("xc", zip_with(col("v"), col("mus"), (a, b) => a - b))

  /** Top-PC removal: every vector's projection coefficient onto the
    * [[pcaPower]] direction and its residual norm after subtracting
    * that component — the per-vector side of the embedding
    * post-process. Pure per-row math once the (broadcast) direction is
    * trained: coeff = xc·v, residual = xc − coeff·v, both sequential
    * per-row dots — no additional shuffle beyond the training chain.
    * Output: (vec_id, coeff_r, resid_norm_r), 6-dp rounded. */
  def removeTopPc(vecs: DataFrame, iters: Int = 2): DataFrame = {
    val vrow = pcaPower(vecs, iters)
      .agg(array_sort(collect_list(struct(col("dim"), col("loading"))))
        .as("pm"))
      .select(transform(col("pm"), p => p.getField("loading")).as("pv"))
    centeredVectors(vecs).crossJoin(broadcast(vrow))
      .withColumn("coeff", dot(col("xc"), col("pv")))
      .withColumn("resid",
        zip_with(col("xc"), col("pv"),
          (a, b) => a - col("coeff") * b))
      .select(col("vec_id"), round(col("coeff"), 6).as("coeff_r"),
        round(sqrt(dot(col("resid"), col("resid"))), 6).as("resid_norm_r"))
  }

  /** Johnson–Lindenstrauss random projection to `dOut` dimensions with
    * a deterministic ±1 sign matrix (Achlioptas 2001: ±1 entries
    * preserve pairwise distances in expectation exactly like Gaussian
    * entries, and hash-derived signs make the matrix reproducible
    * across engines with no stored state). Entry sign(j,i) comes from
    * the md5 parity of "j:i", so any worker — or the DuckDB oracle —
    * regenerates the same matrix row on demand.
    *
    * Scale shape: explode to (vec_id, pos, x), broadcast the dOut-row
    * output-dimension table, aggregate by (vec_id, out_dim) — a narrow
    * keyed aggregation with full map-side partials; the projection
    * matrix itself is never materialized. The ±1 multiply is EXACT in
    * IEEE double, so each term casts straight to DECIMAL(38,18) (the
    * [[kmeansUpdateStep]] pattern) and the contraction sums
    * order-independently — no per-term round, whose half-way cases are
    * exactly the engine-drift class the 6-dp round would reintroduce;
    * the 1/√dOut scaling divides once at the end. */
  def randomProjection(vecs: DataFrame, dOut: Int): DataFrame = {
    val spark = vecs.sparkSession
    val outDims = broadcast(spark.range(1, dOut + 1).toDF("out_dim"))
    val scale = math.sqrt(dOut.toDouble)
    vecs
      .select(col("vec_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .withColumn("pos", col("pos") + 1)
      .crossJoin(outDims)
      .withColumn("sgn",
        when(conv(substring(md5(concat_ws(":",
              col("out_dim"), col("pos")).cast("binary")), 1, 3), 16, 10)
            .cast("int") % 2 === 0, 1.0)
          .otherwise(-1.0))
      .groupBy(col("vec_id"), col("out_dim"))
      .agg(sum((col("x") * col("sgn")).cast("decimal(38,18)")).as("s"))
      .select(col("vec_id"), col("out_dim"),
        round(col("s").cast("double") / lit(scale), 6).as("proj"))
  }
}
