package graft.operators

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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

  /** The per-probe top-k every ranked vector serve ends in: `score`
    * desc, `neighbor_id` asc (the family's determinism contract), the
    * 1-based rank kept as `rnk`. */
  private def topKPerProbe(scored: DataFrame, k: Int,
      score: String = "cos_r"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col(score).desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** The exact refine of a shortlist (probe_id, neighbor_id, `carry`…):
    * ONLY the shortlisted neighbors' floats are fetched from `vecs`
    * (a neighbor-id join, so the corpus floats never broadcast) and
    * scored against the probe floats as 6-dp cosine `cos_r`. The
    * probe floats and norms of a LOCAL probe frame ([[localProbes]])
    * are a literal map keyed by probe id; any other frame's are
    * broadcast. Callers broadcast `short` when it is probe-bounded. */
  private def refineExact(short: DataFrame, vecs: DataFrame,
      probes: DataFrame, carry: String*): DataFrame = {
    val cands = short.join(withNorm(vecs).select(col("vec_id")
      .as("neighbor_id"), col("v"), col("nrm")), Seq("neighbor_id"))
    // A local probe frame's floats and norms ride in as one literal
    // keyed by probe id; any other frame is broadcast.
    val scored = localProbes(withNorm(probes), col("v").as("pv"),
        col("nrm").as("pnrm")) match {
      case Some(lp) =>
        cands.withColumn("p", try_element_at(lp.byId, col("probe_id")))
          .filter(col("p").isNotNull)
          .select(col("*"), col("p.pv").as("pv"), col("p.pnrm").as("pnrm"))
      case None =>
        cands.join(broadcast(withNorm(probes).select(col("vec_id")
          .as("probe_id"), col("v").as("pv"), col("nrm").as("pnrm"))),
          Seq("probe_id"))
    }
    scored.select((Seq(col("probe_id"), col("neighbor_id")) ++
      carry.map(col) :+ round(dot(col("pv"), col("v")) /
        (col("pnrm") * col("nrm")), 6).as("cos_r")): _*)
  }

  /** A LOCAL probe frame's `cols`, evaluated on the driver: one row per
    * probe, its id (`probe_id`) first. */
  private final case class LocalProbes(rows: Seq[Row], schema: StructType) {
    /** The value fields as one literal `map<probe_id, struct<…>>`. */
    def byId: Column = typedLiteral(
      ListMap(rows.map(r => r.get(0) -> Row(r.toSeq.tail: _*)): _*),
      MapType(schema.head.dataType, StructType(schema.tail),
        valueContainsNull = false))
  }

  /** The probe-side values of a LOCAL probe frame, computed on the
    * driver by the same expressions a distributed plan evaluates:
    * Some when `probes` projected through `cols` optimizes to a local
    * relation (a `Seq.toDF`, filtered or not — Spark folds a projection
    * over a local relation while it optimizes, so the collect runs no
    * job) and the probe ids are distinct and non-null. The callers
    * then carry the values as literals: a plan-time `cell IN (…)`
    * filter on the stored scan, a distance-table or probe-vector map
    * keyed the way the join was. Any other frame gets None and keeps
    * the broadcast joins, and with them dynamic partition pruning;
    * repeated ids keep them too, since a literal keyed by id cannot
    * repeat a probe the way a join does. */
  private def localProbes(probes: DataFrame,
      cols: Column*): Option[LocalProbes] = {
    val p = probes.select(col("vec_id").as("probe_id") +: cols: _*)
    p.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        val rows = p.collect().toSeq
        val ids = rows.map(_.get(0))
        if (ids.contains(null) || ids.distinct.size != ids.size) None
        else Some(LocalProbes(rows, p.schema))
      case _ => None
    }
  }

  /** `rows` cut to the cells `probes` consult, when the probes are
    * LOCAL ([[localProbes]]): a literal `cell IN (…)` filter, so a
    * stored cell-partitioned scan lists and reads only those
    * partitions, decided at plan time. Other probe frames leave `rows`
    * as they are, and the cell join prunes them by DPP. */
  private def probedCellsOnly(rows: DataFrame, probes: DataFrame,
      cents: CentEntries, nprobe: Int): DataFrame =
    localProbes(probes, rankedCells(cents, nprobe).getField("cid"))
      .fold(rows)(lp => rows.filter(cellIn(lp.rows.flatMap(_.getSeq[Any](1)))))

  private def cellIn(cells: Seq[Any]): Column =
    col("cell").isin(cells.distinct: _*)

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
  def mipsTopK(vecs: DataFrame, probes: DataFrame, k: Int): DataFrame =
    topKPerProbe(broadcast(probes
        .select(col("vec_id").as("probe_id"), col("v").as("pv")))
      .join(vecs.select(col("vec_id").as("neighbor_id"), col("v")),
        col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(dot(col("pv"), col("v")), 6).as("ip_r")), k, "ip_r")

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
    // The packing width is fixed at 64 (two 32-bit halves; the log entry
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
    topKPerProbe(bqRefinedStage(bqHamFlat(bqCodes(vecs), probes), vecs,
      probes, shortlist), k)

  /** Persist the BQ layout: the (vec_id, code0, code1) code table
    * under `$dir/codes` — 16 bytes/vector, the artifact a BQ
    * deployment actually stores (floats stay in the corpus table and
    * are read only by the re-rank's shortlist join). Codes are
    * per-vector, so the layout appends bit-trivially; deletes use the
    * layout-agnostic tombstone table ([[deleteFromBqIndex]]) beside
    * the code table, the same lifecycle discipline as the flat/SQ8/PQ
    * rungs. A rebuild clears stale tombstones first. */
  def writeBqIndex(vecs: DataFrame, dir: String): Unit =
    buildLayout(vecs.sparkSession, dir, BqLayout)(_ => bqCodeRows(vecs))

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
    * shares the monolithic oracle. */
  def appendBqIndex(spark: org.apache.spark.sql.SparkSession,
      vecs: DataFrame, dir: String): Unit =
    appendRows(BqLayout.open(spark, dir), vecs, bqCodeRows(vecs),
      "appendBqIndex")

  /** Tombstone-DELETE from the BQ layout — the tombstone table is
    * layout-agnostic (ids only), so this IS [[deleteFromIvfIndex]]'s
    * contract applied to the BQ dir: ids land in `tombstones/`, the
    * code files are untouched, and the serve masks them BEFORE the
    * Hamming shortlist ranks (so the shortlist fills with survivors,
    * never with ghosts that the re-rank would then drop —
    * under-returning k). [[compactBqIndex]] reclaims the space. */
  def deleteFromBqIndex(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, dir: String): Unit =
    deleteRows(BqLayout.open(spark, dir), ids)

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
    bqRefinedFromIndex(spark, dir, vecs, probes, shortlist, None)
      .filter(col("cos_r") >= tau)
      .select(col("probe_id"), col("neighbor_id"), col("cos_r"))

  private def bqRerankFromIndexImpl(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      vecs: DataFrame, probes: DataFrame, shortlist: Int, k: Int,
      pred: Option[Column]): DataFrame =
    topKPerProbe(
      bqRefinedFromIndex(spark, dir, vecs, probes, shortlist, pred), k)

  /** The refined scored frame of the flat-BQ serves (top-k, filtered,
    * range): the opened layout's live code scan, Hamming gate, exact
    * refine — one read path for all modes. */
  private def bqRefinedFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecs: DataFrame, probes: DataFrame, shortlist: Int,
      pred: Option[Column]): DataFrame =
    bqRefinedStage(bqHamFlat(BqLayout.open(spark, dir).liveRows(pred),
      probes), vecs, probes, shortlist)

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

  /** The exact-refined scored frame under every BQ serve (flat and
    * cell-blocked; top-k, filtered, range): the Hamming shortlist
    * window (ham asc, neighbor asc, top `shortlist`), then
    * [[refineExact]] of the survivors — one definition so the serve
    * shapes and modes cannot diverge ([[imiPqRefined]]'s split at the
    * binary-code shape). */
  private def bqRefinedStage(ham: DataFrame, vecs: DataFrame,
      probes: DataFrame, shortlist: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wH = Window.partitionBy(col("probe_id"))
      .orderBy(col("ham").asc, col("neighbor_id").asc)
    val short = ham.withColumn("hrnk", row_number().over(wH))
      .filter(col("hrnk") <= shortlist)
      .select(col("probe_id"), col("neighbor_id"), col("ham"))
    refineExact(short, vecs, probes, "ham")
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
    * contracts are [[bqRerank]]'s, shared via [[bqRefinedStage]]. */
  def ivfBqTopK(vecs: DataFrame, probes: DataFrame, cents: DataFrame,
      shortlist: Int = 20, k: Int = 3, nprobe: Int = 2): DataFrame = {
    val cs = collectCents(cents, "dim")
    topKPerProbe(bqRefinedStage(ivfBqHam(bqCodes(withInlineCell(vecs, cs)),
      cs, probes, nprobe), vecs, probes, shortlist), k)
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
    buildLayout(vecs.sparkSession, dir, IvfBqLayout) { leg =>
      ivfBqCodeRows(vecs, storedCents(cents, leg))
    }

  /** The stored code-row frame of the IVF-BQ build/append legs:
    * (vec_id, code0, code1, metadata…, cell) — non-vector input
    * columns ride beside the 16-byte codes for
    * [[searchIvfBqIndexWhere]]'s pushed predicate; metadata-less
    * inputs produce the previous schema exactly. */
  private def ivfBqCodeRows(vecs: DataFrame, cents: CentEntries): DataFrame = {
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
    val open = IvfBqLayout.open(spark, dir)
    appendRows(open, vecs2, ivfBqCodeRows(vecs2, open.cents),
      "appendIvfBqIndex")
  }

  /** Tombstone-DELETE from the IVF-BQ layout (layout-agnostic id
    * table; the serve masks BEFORE the Hamming shortlist ranks). The
    * dir must hold an IVF-BQ layout. */
  def deleteFromIvfBqIndex(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, dir: String): Unit =
    deleteRows(IvfBqLayout.open(spark, dir), ids)

  /** Compaction for the IVF-BQ layout: the affected-cell rewrite of
    * [[compactLayout]] over the cell-partitioned code table. */
  def compactIvfBqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    compactLayout(spark, dir, IvfBqLayout)

  /** Serve [[ivfBqTopK]] from a persisted [[writeIvfBqIndex]] layout —
    * bit-identical to the in-memory path (BIGINT codes round-trip
    * parquet exactly); the code scan prunes to the probed cells
    * ([[searchIvfIndex]]'s rule: a literal filter for a local probe
    * frame, DPP otherwise) and deleted ids mask via the broadcast
    * tombstone anti-join before the shortlist window. */
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
      nprobe: Int, pred: Option[Column]): DataFrame =
    topKPerProbe(ivfBqRefinedFromIndex(spark, dir, vecs, probes, shortlist,
      nprobe, pred), k)

  /** The refined scored frame of the persisted IVF-BQ serves (top-k,
    * filtered, range): the opened layout's centroids and live code
    * scan (optional metadata predicate on the cell-partitioned codes),
    * Hamming gate, exact refine — one read path for all modes. */
  private def ivfBqRefinedFromIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      vecs: DataFrame, probes: DataFrame, shortlist: Int, nprobe: Int,
      pred: Option[Column]): DataFrame = {
    val open = IvfBqLayout.open(spark, dir)
    bqRefinedStage(ivfBqHam(open.liveRows(pred), open.cents, probes, nprobe),
      vecs, probes, shortlist)
  }

  /** The Hamming frame of the IVF-BQ serves (in-memory and persisted):
    * probes assigned to their `nprobe` nearest cells, broadcast probe
    * codes against the cell-pruned code scan, probe ≠ neighbor. */
  private def ivfBqHam(codes: DataFrame, cents: CentEntries,
      probes: DataFrame, nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val pcells = trainedAssign(probes, cents, nprobe)
      .select(col("probe_id"), col("cid").as("pcell"))
    val pcodes = broadcast(bqCodes(probes)
      .select(col("vec_id").as("probe_id"), col("code0").as("p0"),
        col("code1").as("p1"))
      .join(pcells, Seq("probe_id")))
    pcodes
      .join(probedCellsOnly(codes, probes, cents, nprobe)
        .select(col("vec_id").as("neighbor_id"), col("code0"),
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
    probeSrc.select(col("vec_id").as("probe_id"),
        posexplode(rankedCells(entries, nprobe)).as(Seq("i", "e")))
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
    * v − [cent0(c0); cent1(c1)] ([[pairResidual]]) at the corpus
    * rank-1 shape with assignment, centroid lookup, and subtraction
    * all on the src row (zero joins, zero aggregates). Non-vector
    * input columns RIDE THROUGH the projection (round 20), so a
    * metadata-carrying build never re-attaches them with a
    * corpus-sized join downstream. */
  private def inlinePairResiduals(src: DataFrame,
      halves: Seq[Seq[(Any, Seq[Double])]]): DataFrame = {
    val carry = src.columns
      .filterNot(c => c == "v" || c == "vec_id").map(col).toSeq
    withInlinePair(src, halves)
      .select(Seq(col("vec_id")) ++ carry ++ Seq(col("c0"), col("c1"),
        pairResidual(halves, col("c0"), col("c1")).as("rv")): _*)
  }

  /** v − [cent0(c0); cent1(c1)]: the row's residual against the
    * concatenated centroid of the pair (`c0`, `c1`), looked up in the
    * collected halves — the encode side ([[inlinePairResiduals]]) and
    * the probe side ([[imiPqAdcScores]]) share it. */
  private def pairResidual(halves: Seq[CentEntries], c0: Column,
      c1: Column): Column =
    zip_with(col("v"), concat(element_at(centMap(halves(0)), c0),
      element_at(centMap(halves(1)), c1)), (a, b) => a - b)

  /** Collected centroids as a literal `map<cid, cvec>`. */
  private def centMap(entries: CentEntries): Column =
    if (entries.isEmpty) expr("CAST(map() AS map<int,array<double>>)")
    else typedLiteral(ListMap(entries: _*), MapType(typeOf(entries.head._1),
      DoubleArray, valueContainsNull = false))

  /** Top-`nprobe` virtual-cell pairs computed INLINE on the probe row
    * — all k² (sum of rounded half-distances, l0, l1) structs built
    * in one expression, array_sorted ((r0+r1) asc, l0 asc, l1 asc —
    * [[imiProbePairsRanked]]'s window contract verbatim), exploded
    * with their position and cut to the first `nprobe`; no half
    * self-join, no row_number shuffle (round 19).
    *
    * The cut is a relational `Filter` on the position, NOT a `slice`
    * inside the generator: Spark's PartitionPruning rule inserts a
    * dynamic pruning filter into the pair-partitioned index scan only
    * when the filtering side of the join holds a selective `Filter`,
    * and a slice inside `posexplode` is not one: a probe frame without
    * a filter of its own (a local relation) would then leave the
    * persisted IMI serves scanning every pair partition. Rows and ranks
    * are the same as a slice's. */
  private def inlineProbePairsRanked(probeSrc: DataFrame,
      halves: Seq[Seq[(Any, Seq[Double])]], nprobe: Int): DataFrame = {
    val hd = halfDistStructs(halves)
    val pairs = flatten(transform(hd(0), a =>
      transform(hd(1), b => struct(
        (a.getField("d2r") + b.getField("d2r")).as("rsum"),
        a.getField("cid").as("l0"),
        b.getField("cid").as("l1")))))
    probeSrc.select(col("vec_id").as("probe_id"),
        posexplode(array_sort(pairs)).as(Seq("i", "e")))
      .filter(col("i") < nprobe)
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
      corpus: DataFrame, k: Int): DataFrame =
    topKPerProbe(imiScored(probes, assigned, corpus), k)

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
    * serve's (l0, l1) equi-join partition-prunes the scan: one dynamic
    * pruning filter per key (`c0 IN` the probed l0s, `c1 IN` the probed
    * l1s) reads the product {l0}×{l1}, a superset of the probed pairs
    * that is exact for one probe at nprobe 1. `cents` is passed
    * explicitly (an [[imiSubCentroids]] frame), the [[writeIvfIndex]]
    * trainer-separation contract: the quantizer may be trained on a
    * different corpus slice than the batch being indexed, which is
    * what makes the append leg exact.
    * Codebook means are doubles — parquet round-trips them exactly, so
    * the persisted serve is bit-identical to [[imiTopK]] under the
    * same codebooks (spec-pinned). */
  def writeImiIndex(vecs: DataFrame, cents: DataFrame,
      dir: String): Unit =
    buildLayout(vecs.sparkSession, dir, ImiLayout) { leg =>
      // All input columns persist (metadata like `label` rides beside
      // the vector), so [[searchImiIndexWhere]]'s predicate pushes to
      // the stored scan — the same filtered-serve contract as the flat
      // layout. The pair assignment is inline on the corpus row
      // ([[withInlinePair]]) — no aggregate, no re-attach join.
      withInlinePair(withNorm(vecs),
        collectHalves(storedQuantizer(cents, leg, "centroids")))
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
    val open = ImiLayout.open(spark, dir)
    appendRows(open, vecs2, withInlinePair(withNorm(vecs2), open.halves),
      "appendImiIndex")
  }

  /** Serve a persisted [[writeImiIndex]] layout: probes rank virtual-
    * cell pairs against the stored codebooks ([[imiProbePairs]]) and
    * the pair-partitioned index is joined on BOTH cell keys — the
    * probed-pair set drives dynamic partition pruning, one filter per
    * key, so the scan reads the pair partitions in {probed l0}×{probed
    * l1}: ~nprobe/k² of the corpus for a single probe, more when
    * several probes' pairs cross (see [[inlineProbePairsRanked]] for
    * why the nprobe cut must stay a `Filter`). Deleted ids
    * ([[deleteFromIvfIndex]] — the tombstone table is layout-agnostic)
    * mask via one broadcast anti-join before scoring. Same serve
    * frame as [[imiTopK]] ([[imiServe]]), so the contract cannot
    * diverge. */
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
      pred: Option[Column]): DataFrame =
    topKPerProbe(imiScoredFromIndex(spark, dir, probes, nprobe, pred), k)

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
    * range): probe pairs against the opened layout's codebooks,
    * pair-equi join into its live pair-partitioned index, rounded
    * cosine. The scan is DPP-pruned on each key separately (`c0 IN`
    * the probed l0s, `c1 IN` the probed l1s — a superset of the probed
    * pairs), which needs the `Filter`-form nprobe cut of
    * [[inlineProbePairsRanked]] on the probe side. */
  private def imiScoredFromIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      probes: DataFrame, nprobe: Int, pred: Option[Column]): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val open = ImiLayout.open(spark, dir)
    val assigned = inlineProbePairsRanked(probes, open.halves, nprobe)
      .select(col("probe_id"), col("l0"), col("l1"))
    imiScored(probes, assigned, open.liveRows(pred))
  }

  /** Physically COMPACT a persisted [[writeImiIndex]] layout:
    * [[compactLayout]] over the multi-index's TWO-LEVEL partitioning —
    * the replace unit is the leaf pair dir `c0=X/c1=Y`; the parent
    * level is only a directory shell. */
  def compactImiIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    compactLayout(spark, dir, ImiLayout)

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

  /** The exact-refined scored frame of every Multi-D-ADC serve
    * ([[imiPqTopK]], the persisted top-k, filtered and range modes):
    * probes residualize against each PROBED pair's concatenated
    * centroid, the per-(probe, pair) distance table builds against
    * the residual codebook, ADC nominates `rerankDepth` candidates per
    * probe from the probed pairs only, and ONLY those candidates' raw
    * vectors are fetched back for [[refineExact]] — [[pqrRefined]]'s
    * contract at the pair key. Each corpus vector lives in exactly one
    * virtual cell, so a (probe, vec) ADC group sums exactly m terms.
    * Determinism: exact-decimal ADC sums with vec-id tie-break for the
    * shortlist, 6-dp cosine downstream. Scale: dtab is probe-bounded
    * (|probes|·nprobe·m·codebookK rows) and broadcasts; the code scan
    * joins it within probed pairs only; the float fetch is
    * shortlist-bounded. The range mode thresholds this frame directly:
    * approximate distances GATE the shortlist, the exact refine
    * applies the radius — a true neighbor outside the
    * depth-`rerankDepth` ADC shortlist is not seen, the same recall
    * knob as the top-k mode (measured by the recall curve). */
  private def imiPqRefined(codes: DataFrame, codebook: CodebookEntries,
      halves: Seq[CentEntries], vecs: DataFrame, probes: DataFrame,
      assigned: DataFrame, m: Int, rerankDepth: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wS = Window.partitionBy(col("probe_id"))
      .orderBy(col("adist").asc, col("vec_id").asc)
    val short = broadcast(
      imiPqAdcScores(codes, codebook, halves, probes, assigned, m)
        .withColumn("srnk", row_number().over(wS))
        .filter(col("srnk") <= rerankDepth)
        .select(col("probe_id"), col("vec_id").as("neighbor_id")))
    refineExact(short, vecs, probes)
  }

  /** The ADC distance frame of the Multi-D-ADC serve — (probe_id,
    * vec_id, adist) over the probed pairs only, split out so the
    * recall curve can rank ONE scored frame per operating point
    * (each (probe, vec) row belongs to exactly one pair, so scoping
    * by pair rank downstream is a filter, not a re-score). The probe
    * residual v − [cent0(l0); cent1(l1)] and the distance table
    * ([[adcDistTableWith]]) are projections against the collected
    * quantizer, so no quantizer table is joined. */
  private def imiPqAdcScores(codes: DataFrame, codebook: CodebookEntries,
      halves: Seq[CentEntries], probes: DataFrame, assigned: DataFrame,
      m: Int): DataFrame = {
    val res = probes.select(col("vec_id").as("probe_id"), col("v"))
      .join(broadcast(assigned), Seq("probe_id"))
      .select(col("probe_id"), col("l0"), col("l1"),
        pairResidual(halves, col("l0"), col("l1")).as("rv"))
    val dtab = adcDistTableWith(res, Seq("l0", "l1"), codebook, m)
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
        "codebookK" -> codebookK.toString) { leg =>
      // Fused inline encode (round 19): assignment + residual in one
      // projection on the corpus row — no per-vector argmin aggregate,
      // no re-attach join.
      val halves = collectHalves(storedQuantizer(cents, leg, "centroids"))
      val rcorp = inlinePairResiduals(vecs, halves)
      // The default (quantizer = batch) REUSES the batch's own residual
      // frame for codebook training — computing the same assignment
      // twice measured ~1.5 s/row at sf0.1 for nothing.
      val qres = quantizer.map(qsrc => inlinePairResiduals(qsrc, halves))
        .getOrElse(rcorp)
      val codebook = collectCodebook(storedQuantizer(
        codebookOf(qres.select(col("vec_id"), col("rv").as("v")), m,
          codebookK), leg, "codebook"))
      pqCodeRows(codebook, rcorp, vecs, m, ImiPqLayout.partKeys)
    }
  }

  /** APPEND a corpus batch to a persisted [[writeImiPqIndex]] layout:
    * the batch assigns pairs against the STORED half codebooks and
    * encodes against the STORED residual codebook (both quantizer
    * levels fixed once trained — FAISS's `add` contract), so
    * write(A, quantizer = A ∪ B) then append(B) serves bit-identically
    * to the monolithic build (spec-pinned). Since fmt 2 the code rows
    * carry the input's metadata columns for the filtered serve, so the
    * batch gates on the stored column set ([[appendRows]]) like every
    * metadata-carrying append leg; the log entry still rejects a
    * mismatched `m` loudly. */
  def appendImiPqIndex(spark: org.apache.spark.sql.SparkSession,
      vecs2: DataFrame, dir: String, m: Int = 4): Unit = {
    val open = ImiPqLayout.open(spark, dir, "m" -> m.toString)
    appendRows(open, vecs2, pqCodeRows(open.codebook,
      inlinePairResiduals(vecs2, open.halves), vecs2, m,
      ImiPqLayout.partKeys), "appendImiPqIndex")
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
    * corpus floats ([[imiPqRefined]] — the same serve frame as
    * the in-memory [[imiPqTopK]], so the contracts cannot diverge;
    * parquet round-trips the doubles, so results are bit-identical at
    * the same parameters, spec-pinned). Tombstones mask the code
    * rows BEFORE the ADC shortlist, the fleet contract. */
  def searchImiPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecs: DataFrame, probes: DataFrame, k: Int,
      m: Int = 4, nprobe: Int = 2, rerankDepth: Int = 40): DataFrame =
    depthRanked(rerankDepth, k)(imiPqRefinedFromIndex(spark, dir, vecs,
      probes, m, nprobe, rerankDepth, None, k))

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
      rerankDepth: Int = 40): DataFrame =
    depthRanked(rerankDepth, k)(imiPqRefinedFromIndex(spark, dir, vecs,
      probes, m, nprobe, rerankDepth, Some(pred), k))

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
    * (top-k, filtered, range): the opened layout's quantizers and live
    * code scan (optional metadata predicate on the pair-partitioned
    * codes), then [[imiPqRefined]] — one read path so the three modes
    * cannot diverge on masking order or the scoring contract. */
  private def imiPqRefinedFromIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      vecs: DataFrame, probes: DataFrame, m: Int, nprobe: Int,
      rerankDepth: Int, pred: Option[Column], k: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val open = ImiPqLayout.open(spark, dir, "m" -> m.toString)
    val assigned = inlineProbePairsRanked(probes, open.halves, nprobe)
      .select(col("probe_id"), col("l0"), col("l1"))
    imiPqRefined(open.liveRows(pred), open.codebook, open.halves, vecs,
      probes, assigned, m, open.rerankDepth(rerankDepth, k, m))
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
    require(rerankDepth >= k, s"rerankDepth $rerankDepth must cover k=$k")
    val cents = imiSubCentroids(vecs)
    val halves = collectHalves(cents)
    val assigned = inlineProbePairsRanked(probes, halves, nprobe)
      .select(col("probe_id"), col("l0"), col("l1"))
    val (rcb, codes) = imiPqEncode(vecs, cents, m, codebookK)
    topKPerProbe(imiPqRefined(codes, collectCodebook(rcb), halves, vecs,
      probes, assigned, m, rerankDepth), k)
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
    topKPerProbe(scored, k)
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
    knnScored(vecs, assignCellsRanked(vecs, vecs, nprobe), k)
  }

  /** The scoring tail of the self-join k-NN serves
    * ([[knnJoinIndexed]], [[knnJoinFromIndex]]) over a ranked
    * assignment (probe_id, assigned_label, rn): rn = 1 rows block the
    * corpus side, every row expands the probe side, cell-equi join,
    * rounded cosine, per-probe top-k. */
  private def knnScored(vecs: DataFrame, ranked: DataFrame,
      k: Int): DataFrame = {
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
    topKPerProbe(scored, k)
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
      nprobe: Int = 1): Unit =
    buildLayout(vecs.sparkSession, dir, KnnAssignLayout,
      "nprobe" -> nprobe.toString)(_ => assignCellsRanked(vecs, vecs, nprobe))

  /** [[knnJoinIndexed]] served from a [[writeKnnAssignIndex]] table:
    * identical scoring/tie-break contract, but the assignment pass is
    * a parquet scan — rn=1 rows block the corpus side, rn ≤ nprobe
    * rows expand the probe side (`nprobe` may be LOWERED below the
    * built rank to trade recall for scan fraction without rebuilding;
    * asking for MORE than the index stored fails loudly via the
    * [[IndexMeta]] log entry — raising recall beyond the build requires
    * a rebuild, the same contract as re-training an IVF quantizer,
    * and serving reduced recall silently is exactly the failure a
    * recall-gated deployment must not absorb).
    * The quadratic work stays cell-bounded; the only corpus-sized
    * shuffles are the two id-keyed joins against the index table and
    * the cell-keyed scan join — same shape as the in-memory twin minus
    * the doubled distance aggregation. */
  def knnJoinFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecs: DataFrame, k: Int, nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    // The open requires the `nprobe` key: an entry WITHOUT it
    // (hand-copied from another layout, say) must fail loudly, not
    // silently serve at the reduced-recall default of 1 — exactly the
    // failure the log entry exists to prevent.
    val open = KnnAssignLayout.open(spark, dir)
    val builtNprobe = open.param("nprobe").toInt
    require(nprobe <= builtNprobe,
      s"index at $dir stores assignment ranks up to $builtNprobe but " +
        s"the serve requested nprobe=$nprobe — rebuild the index at " +
        "the higher rank (serving reduced recall silently is not an " +
        "option)")
    val ranked0 = open.table(KnnAssignLayout.table)
    // Tombstone mask, both roles at once: a deleted vector's rows key
    // on its own probe_id, so one anti-join removes it from the rn=1
    // corpus blocking AND the probe expansion — it neither probes nor
    // serves as a neighbor. Deletion under the ORIGINAL quantizer
    // (stored assignments unchanged), the same contract as the IVF
    // tombstones.
    val ranked = open.tombstones
      .map(t => ranked0.join(
        broadcast(t.withColumnRenamed("vec_id", "probe_id")),
        Seq("probe_id"), "left_anti"))
      .getOrElse(ranked0)
    knnScored(vecs, ranked.filter(col("rn") <= nprobe), k)
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
    else typedLiteral(
      ListMap(codebook.groupBy(_._1).toSeq.sortBy(_._1).map {
        case (sub, es) => sub -> es.map { case (_, cid, cv) => (cid, cv) }
      }: _*),
      MapType(IntegerType, ArrayType(StructType(Seq(
        StructField("cid", typeOf(codebook.head._2), nullable = false),
        StructField("cv", DoubleArray, nullable = false))),
        containsNull = false), valueContainsNull = false))

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

  /** The per-probe distance table of a BY-RESIDUAL ADC serve: probe
    * residual rows (probe_id, `keys`…, rv), one per probed cell or
    * pair, split into their m sub-vectors, each exploding its sub's
    * slice of the collected codebook ([[codebookBySub]]) — a
    * projection of the probe rows, so no codebook table is scanned or
    * broadcast per serve. The distance is [[adcDistTableFrom]]'s
    * expression: (probe_id, `keys`…, sub, cid, pd2). Shared by both PQ
    * layouts ([[pqrRefined]], [[imiPqAdcScores]]). */
  private def adcDistTableWith(res: DataFrame, keys: Seq[String],
      codebook: CodebookEntries, m: Int): DataFrame = {
    val kc = (Seq("probe_id") ++ keys).map(col)
    res.select(kc ++ Seq(explode(expr(s"sequence(0, ${m - 1})")).as("sub"),
        col("rv")): _*)
      .select(kc ++ Seq(col("sub"), subSlice(col("rv"), col("sub"), m)
        .as("sv")): _*)
      .select(kc ++ Seq(col("sub"), col("sv"),
        explode(element_at(codebookBySub(codebook), col("sub"))).as("e")): _*)
      .select(kc ++ Seq(col("sub"), col("e.cid").as("cid"),
        adcTerm(col("sv"), col("e.cv")).as("pd2")): _*)
  }

  /** Sub-vector `sub` (0-based) of `v` split into m equal slices. */
  private def subSlice(v: Column, sub: Column, m: Int): Column = {
    val w = call_function("div", size(v), lit(m))
    slice(v, sub * w + 1, w)
  }

  /** One ADC table term d²(sv, cv) by the dot-product identity
    * |a−b|² = a·a − 2a·b + b·b. */
  private def adcTerm(sv: Column, cv: Column): Column =
    dot(sv, sv) - lit(2.0) * dot(sv, cv) + dot(cv, cv)

  /** The ADC table of one residual `rv`: per sub (the array position),
    * the (cid, pd2) structs over that sub's codebook slice — the rows
    * [[adcDistTableWith]] explodes, as a projection of the probe row
    * for [[localProbes]]. A sub without codebook entries gives a null
    * array, where the exploding form gives no rows. */
  private def adcTableOf(rv: Column, codebook: CodebookEntries,
      m: Int): Column = {
    val cbs = codebookBySub(codebook)
    transform(sequence(lit(0), lit(m - 1)), s =>
      transform(try_element_at(cbs, s), e => struct(
        e.getField("cid").as("cid"),
        adcTerm(subSlice(rv, s, m), e.getField("cv")).as("pd2"))))
  }

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
    val cents = collectCents(kmeansTrain(vecs, kCells, iters), "dim")
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
    adcRanked(adcCellTerms(codes, dtab), k)
  }

  /** The (probe_id, vec_id, pd2) table terms shared by [[ivfPqTopK]]
    * and the distributed-probe [[pqrRefined]]: the cell-blocked code
    * table joined against the broadcast per-probe distance table, ONLY
    * within each probe's consulted cells. `codes` carries (vec_id, sub,
    * cid, cell); `dtab` (probe_id, sub, cid, pd2, pcell). */
  private def adcCellTerms(codes: DataFrame, dtab: DataFrame): DataFrame =
    codes.join(broadcast(dtab),
        codes("sub") === dtab("sub") && codes("cid") === dtab("cid") &&
          col("cell") === col("pcell") && col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"), col("pd2"))

  /** Roll (probe_id, vec_id, pd2) table terms up to ADC distances and
    * rank the top `k` per probe — one implementation so the in-memory
    * and persisted serves, and the joined and looked-up terms, cannot
    * diverge on the scoring or tie-break contract. */
  private def adcRanked(terms: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // One shuffle, by probe, serves both the (probe, vector) rollup and
    // the per-probe ranking; a rollup hashed on (probe, vector) would
    // make the ranking shuffle again. The price: candidate rows move
    // without a map-side partial sum (m terms each; exact decimals, so
    // the sums are unchanged).
    val scored = terms.repartition(col("probe_id"))
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
    val cvm = centMap(entries)
    // Non-vector input columns ride through (round 20) — the encode
    // side's metadata and any downstream key live beside the residual
    // with no re-attach join.
    val carry = src.columns
      .filterNot(c => c == "v" || c == "vec_id").map(col).toSeq
    src.select(Seq(col("vec_id")) ++ carry ++ Seq(col("v"),
        explode(rankedCells(entries, n)).as("e")): _*)
      .select(Seq(col("vec_id")) ++ carry ++ Seq(col("e.cid").as("cell"),
        cellResidual(cvm, col("e.cid")).as("rv")): _*)
  }

  /** v − centroid(`cell`), the centroid looked up in [[centMap]]'s
    * literal — plain double subtraction. */
  private def cellResidual(cvm: Column, cell: Column): Column =
    zip_with(col("v"), element_at(cvm, cell), (a, b) => a - b)

  /** Shared serve of the BY-RESIDUAL IVF-PQ composition (in-memory
    * [[ivfPqrTopK]] and persisted [[searchIvfPqIndex]] route here so
    * the two paths cannot diverge): probes residualize against each
    * of their `nprobe` cells, the per-(probe, cell) distance table
    * builds against the residual codebook, ADC nominates
    * `rerankDepth` candidates per probe, and ONLY those candidates'
    * raw vectors are fetched back for an exact-cosine re-rank — the
    * [[bqRefinedStage]] refinement contract applied to the PQ rung.
    * `codes` carries (vec_id, sub, cid, cell); output
    * (probe_id, neighbor_id, cos_r, rnk). */
  private def pqrServe(codes: DataFrame, cents: DataFrame,
      codebook: DataFrame, vecs: DataFrame, probes: DataFrame, k: Int,
      m: Int, nprobe: Int, rerankDepth: Int): DataFrame = {
    require(rerankDepth >= k, s"rerankDepth $rerankDepth must cover k=$k")
    topKPerProbe(pqrRefined(codes, collectCents(cents, "dim"),
      collectCodebook(codebook), vecs, probes, m, nprobe, rerankDepth), k)
  }

  /** The exact-refined scored frame under the by-residual IVF-PQ
    * serve modes (top-k, filtered, range) — [[imiPqRefined]]'s split
    * at the single-level cell key: ADC-shortlist the probed cells to
    * `rerankDepth` candidates, fetch ONLY those candidates' floats,
    * exact 6-dp cosine. One definition so the modes cannot diverge on
    * the determinism, shortlist, or deletion contracts.
    *
    * The probe side takes one of two forms with the same rows. A
    * LOCAL probe frame ([[localProbes]]) has its cell ranking,
    * residuals and distance tables computed on the driver: the code
    * scan gets a literal `cell IN (…)` filter, pruned at plan time,
    * and each code row looks its terms up in one literal map
    * ([[localAdcTerms]]), so no job builds or broadcasts the table.
    * Any other frame broadcasts the table, and the cell equi-join
    * prunes the stored scan by dynamic partition pruning. */
  private def pqrRefined(codes: DataFrame, cents: CentEntries,
      codebook: CodebookEntries, vecs: DataFrame, probes: DataFrame,
      m: Int, nprobe: Int, rerankDepth: Int): DataFrame = {
    // Per probed cell: the cell, then the probe residual's table as m
    // per-sub arrays ([[residualsWith]]'s and [[adcDistTableWith]]'s
    // expressions as one projection of the probe row).
    val cvm = centMap(cents)
    val tables = transform(transform(rankedCells(cents, nprobe), e =>
        struct(e.getField("cid").as("pcell"),
          cellResidual(cvm, e.getField("cid")).as("rv"))), c =>
      struct(c.getField("pcell").as("pcell"),
        adcTableOf(c.getField("rv"), codebook, m).as("t")))
    val terms = localProbes(probes, tables) match {
      case Some(lp) => localAdcTerms(codes, lp)
      case None =>
        val dtab = adcDistTableWith(residualsWith(probes, cents, nprobe)
          .select(col("vec_id").as("probe_id"), col("cell").as("pcell"),
            col("rv")), Seq("pcell"), codebook, m)
        adcCellTerms(codes, dtab)
    }
    // The shortlist is |probes|·rerankDepth rows — broadcast it so
    // the corpus-float fetch PROBES the corpus scan instead of
    // shuffling it (at 100 TB the floats never move; only shortlist
    // survivors flow out of the join).
    refineExact(broadcast(adcRanked(terms, rerankDepth)
      .select(col("probe_id"), col("neighbor_id"))), vecs, probes)
  }

  /** [[pqrRefined]]'s (probe_id, vec_id, pd2) table terms for LOCAL
    * probes: the code scan cut to the probed cells by a literal filter,
    * each code row looking up its (cell, sub, cid) in one literal map
    * of the probes' distance tables — the rows the broadcast join
    * matches, with no job to build or ship the table. Keys take the
    * code table's column types, the join's comparison. */
  private def localAdcTerms(codes: DataFrame,
      lp: LocalProbes): DataFrame = {
    val keyT = StructType(Seq("cell", "sub", "cid").map(n =>
      StructField(n, codes.schema(n).dataType, nullable = false)))
    val probeT = StructType(Seq(
      StructField("probe_id", lp.schema.head.dataType, nullable = false),
      StructField("pd2", DoubleType)))
    val terms = for {
      p <- lp.rows
      c <- p.getSeq[Row](1)
      (ts, s) <- c.getSeq[collection.Seq[Row]](1).zipWithIndex
      t <- Option(ts).getOrElse(Nil)
    } yield Row(Seq(c.get(0), s, t.get(0)).zip(keyT.map(_.dataType))
      .map { case (v, dt) => castTo(v, dt) }: _*) -> Row(p.get(0), t.get(1))
    val table = typedLiteral(terms.groupMap(_._1)(_._2),
      MapType(keyT, ArrayType(probeT, containsNull = false),
        valueContainsNull = false))
    codes.filter(cellIn(lp.rows.flatMap(_.getSeq[Row](1).map(_.get(0)))))
      .select(col("vec_id"), explode(try_element_at(table,
        struct(col("cell"), col("sub"), col("cid")))).as("e"))
      .filter(col("e.probe_id") =!= col("vec_id"))
      .select(col("e.probe_id").as("probe_id"), col("vec_id"),
        col("e.pd2").as("pd2"))
  }

  /** `v` as a value of type `dt` (a collected key converted to the
    * type of the column it is compared with). */
  private def castTo(v: Any, dt: DataType): Any = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    Cast(Literal(v), dt, Some("UTC")).eval()
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
    val cells = trainedAssign(vecs, collectCents(cents, "dim"), 1)
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
    require(rerankDepth >= k, s"rerankDepth $rerankDepth must cover k=$k")
    topKPerProbe(refineExact(adcTopK(vecs, probes, rerankDepth, m, codebookK)
      .select(col("probe_id"), col("neighbor_id")), vecs, probes), k)
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
        "codebookK" -> codebookK.toString, "kCells" -> kCells.toString) { leg =>
      val qsrc = quantizer.getOrElse(vecs)
      // Same build discipline as [[writeIvfIndex]]: persist the trained
      // centroids FIRST and assign against the re-read table, so the
      // Lloyd trajectory runs once instead of once per downstream
      // action (exact: parquet round-trips the means).
      val cents = storedCents(kmeansTrain(qsrc, kCells, iters), leg)
      // BY-RESIDUAL ([[ivfPqrTopK]]'s encoding): the codebook trains on
      // the quantizer corpus's residuals against the STORED centroids,
      // and every vector's code encodes v − centroid(cell).
      val qres = residualsWith(qsrc, cents, 1)
        .select(col("vec_id"), col("rv").as("v"))
      val codebook = collectCodebook(storedQuantizer(
        codebookOf(qres, m, codebookK), leg, "codebook"))
      pqCodeRows(codebook, residualsWith(vecs, cents, 1), vecs, m,
        IvfPqLayout.partKeys)
    }

  /** The stored code-row frame shared by the build and append legs of
    * both PQ layouts: (vec_id, sub, cid, metadata…, `keys`…) — the
    * m-byte residual codes, with every non-vector input column and the
    * layout's partition keys (`cell`, or the pair `c0`, `c1`) riding
    * through the code assignment from the residual frame `rcorp` (a
    * pure projection of the input row, so no re-attach join). Each
    * vector's m sub-rows carry identical metadata, so a filtered
    * serve's predicate keeps or drops whole vectors and the ADC group
    * still sums exactly m terms. Metadata-less inputs (vec_id, v)
    * produce the metadata-free schema. */
  private def pqCodeRows(codebook: CodebookEntries, rcorp: DataFrame,
      vecs: DataFrame, m: Int, keys: Seq[String]): DataFrame = {
    val carried = vecs.columns.filterNot(c => c == "v" || c == "vec_id") ++
      keys
    pqCodesWith(codebook, rcorp.select((Seq(col("vec_id")) ++
        carried.map(col) :+ col("rv").as("v")): _*), m)
      .select((Seq("vec_id", "sub", "cid") ++ carried).map(col): _*)
  }

  /** APPEND a corpus batch to a persisted [[writeIvfPqIndex]] layout —
    * the PQ analog of [[appendIvfIndex]], closing the lifecycle
    * matrix's last append cell: new vectors assign cells against the
    * STORED centroids and encode against the STORED codebook (the
    * quantizer is fixed once trained — FAISS's `add` contract; the
    * log entry makes a mismatched `m` a loud failure, since codes under
    * a different sub-vector split would silently score garbage).
    * Same tombstone reconciliation as the IVF append: a re-added id's
    * tombstone clears AFTER the data append commits. */
  def appendIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      vecs2: DataFrame, dir: String, m: Int = 4): Unit = {
    // Residual encode against the STORED quantizer state (both
    // levels: coarse centroids AND residual codebook are fixed once
    // trained), so the appended union is bit-identical to the
    // monolithic build — FAISS's `add` contract at by_residual=true.
    val open = IvfPqLayout.open(spark, dir, "m" -> m.toString)
    appendRows(open, vecs2, pqCodeRows(open.codebook,
      residualsWith(vecs2, open.cents, 1), vecs2, m, IvfPqLayout.partKeys),
      "appendIvfPqIndex")
  }

  /** Serve the BY-RESIDUAL refine composition from a persisted
    * [[writeIvfPqIndex]] layout: probes residualize against their
    * `nprobe` nearest stored centroids, the per-(probe, cell)
    * distance table builds against the stored residual codebook, the
    * cell-partitioned code scan is pruned to the consulted cells
    * ([[searchIvfIndex]]'s rule: a local probe frame prunes at plan
    * time by a literal cell filter and looks its distance table up in
    * a literal map; any other frame prunes by DPP off the broadcast
    * probe-cell side), and the ADC shortlist is
    * re-ranked with exact cosine over `vecs` — the corpus floats,
    * which the layout itself never stores ([[bqRerankFromIndex]]'s
    * contract: the shortlist fetch is probe-bounded). Results are
    * bit-identical to the in-memory [[ivfPqrTopK]] at the same build
    * parameters — parquet round-trips doubles and longs exactly
    * (PipelineSpec pins the parity; the gated twin shares
    * sim_ivfpqr_topk's oracle). */
  def searchIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, vecs: DataFrame, probes: DataFrame, k: Int,
      m: Int = 4, nprobe: Int = 2, rerankDepth: Int = 40): DataFrame =
    depthRanked(rerankDepth, k)(pqrRefinedFromIndex(spark, dir, vecs,
      probes, m, nprobe, rerankDepth, None, k))

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
      rerankDepth: Int = 40): DataFrame =
    depthRanked(rerankDepth, k)(pqrRefinedFromIndex(spark, dir, vecs,
      probes, m, nprobe, rerankDepth, Some(pred), k))

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
    * filtered, range): the opened layout's quantizers and live code
    * scan (optional metadata predicate on the cell-partitioned codes),
    * then [[pqrRefined]] — one read path so the modes cannot diverge
    * on masking order or the scoring contract. Serving at a different
    * sub-vector split than the build would slice probe vectors against
    * codes that mean something else — the log entry makes it a loud
    * failure instead of silent garbage, and fmt=2 rejects a
    * pre-residual (raw-code) dir the same way. */
  private def pqrRefinedFromIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      vecs: DataFrame, probes: DataFrame, m: Int, nprobe: Int,
      rerankDepth: Int, pred: Option[Column], k: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val open = IvfPqLayout.open(spark, dir, "m" -> m.toString)
    pqrRefined(open.liveRows(pred), open.cents, open.codebook, vecs, probes,
      m, nprobe, open.rerankDepth(rerankDepth, k, m))
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
    * job localCheckpoint does for frames; it serves the in-memory
    * compositions only.
    *
    * The persisted layouts never reach it with a frame worth keeping:
    * every serve, append and compaction of the seven vector layouts
    * goes through [[Layout.open]], whose [[IndexSnapshot]] holds the
    * collected centroids, IMI halves and PQ codebook beside the
    * stored table schemas, tombstone presence and occupancy — values
    * derived from the stored tables, never DataFrames or results, and
    * held only while the index's log entry is unchanged. That is no
    * cross-run result cache either: the query suite rebuilds each
    * index on every run, the rebuild draws a fresh build id, and
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
    else typedLiteral(entries, ArrayType(StructType(Seq(
      StructField("cid", typeOf(entries.head._1), nullable = false),
      StructField("cvec", DoubleArray, nullable = false))),
      containsNull = false))

  private val DoubleArray = ArrayType(DoubleType, containsNull = false)

  /** The Spark type of a collected key value (a cid or label). */
  private def typeOf(v: Any): DataType =
    org.apache.spark.sql.catalyst.expressions.Literal(v).dataType

  /** A local value (Seqs, Maps, Rows or tuples, nested as `dataType`
    * nests) as ONE typed literal node. A tree of per-element `lit`s
    * (hundreds of nodes for a codebook) would be re-analyzed by every
    * eager Dataset step that carries it; the values are the same. */
  private def typedLiteral(value: Any, dataType: DataType): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(dataType)(value), dataType))

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

  /** Trained-centroid cell assignment shared by [[ivfSearchTrained]]
    * and the persisted-index pair ([[writeIvfIndex]] /
    * [[searchIvfIndex]]) — one implementation so the determinism
    * contract (rounded L2² asc, cid asc) cannot diverge between the
    * in-memory and persisted paths. `cents` are collected (cid, cvec)
    * entries ([[collectCents]] of a (cid, dim, cmean) table, dims
    * 1-based). */
  private def trainedAssign(src: DataFrame, cents: CentEntries,
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
  private def withInlineCell(src: DataFrame,
      cents: CentEntries): DataFrame = {
    requireUnreserved(src, "cell assignment", "cell")
    src.withColumn("cell", nearestIn(csLiteralFrom(cents), col("v")))
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
  private def trainedAssignRanked(src: DataFrame, cents: CentEntries,
      n: Int): DataFrame =
    // Ranks over [[distStructs]] — ONE implementation of the
    // centroid-distance computation, so the ranked and unranked
    // consumers cannot diverge on the rounding contract. array_sort
    // on the (d2r, cid) structs IS the (rounded distance asc, cid
    // asc) ordering, computed inline on the src row against the
    // collected quantizer — no row_number window, no shuffle of the
    // src side at all (round-19 rewrite of the exploded join +
    // window form).
    src.select(col("vec_id").as("probe_id"),
        posexplode(rankedCells(cents, n)).as(Seq("i", "e")))
      .select(col("probe_id"), col("e.cid").as("cid"),
        (col("i") + 1).as("rn"))

  /** The row's `n` nearest trained cells as (d2r, cid) structs in
    * (rounded L2² asc, cid asc) order — the cell ranking every
    * assignment, residual encode and local-probe cell cut reads. */
  private def rankedCells(cents: CentEntries, n: Int): Column =
    slice(array_sort(distStructs(csLiteralFrom(cents), col("v"))), 1, n)

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
    * residual machinery ([[collectHalves]], [[pairResidual]])
    * serves both codebook trainings through one implementation.
    * Positions re-base to the half slice (kmeansTrain's 1-based dim
    * − 1) — an ordering key within a half only, so the concatenated
    * pair centroid aligns with the full vector exactly as the
    * absolute-position label shape does. */
  private def imiTrainedAsSubCents(cents: Seq[DataFrame]): DataFrame =
    Seq(0, 1).map(s => cents(s).select(lit(s).as("sub"),
      col("cid").as("clabel"), (col("dim") - 1).as("pos"), col("cmean")))
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
    val scoredRn = imiPqAdcScores(codes, collectCodebook(rcb),
        collectHalves(subCents), probes,
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
    val pqRungs = nps.map { np =>
      val short = scoredRn.filter(col("rn") <= np)
        .withColumn("srnk", row_number().over(wS))
        .filter(col("srnk") <= rerankDepth)
        .select(col("probe_id"), col("vec_id").as("neighbor_id"))
      recallAtK(bf, topKPerProbe(refineExact(broadcast(short), vecs, probes),
        k))
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
    val cs = collectCents(cents, "dim")
    val sizes = trainedAssign(vecs, cs, 1)
      .groupBy(col("cid")).agg(count(lit(1)).as("cell_n"))
    trainedAssignRanked(probes, cs, nprobe)
      .join(broadcast(sizes), Seq("cid"))
      .select(col("probe_id"), col("rn"), col("cell_n"))
  }

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
  def ivfSearchTrained(vecs: DataFrame, probes: DataFrame,
      cents: DataFrame, k: Int, nprobe: Int = 1): DataFrame = {
    val cs = collectCents(cents, "dim")
    // Inline rank-1 assignment on the corpus row ([[withInlineCell]],
    // round 20) — no assignment frame, no re-attach join.
    topKPerProbe(ivfScored(probes, cs, withInlineCell(withNorm(vecs), cs)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell")), nprobe), k)
  }

  /** Materialize the IVF index next to the corpus: every vector with
    * its own (rn = 1) trained cell, written CELL-PARTITIONED parquet,
    * plus the centroid table — the layout SCALING.md prescribes once an
    * index is consulted more often than it is rebuilt. Norms are
    * precomputed at index time (`nrm` column), so serving never
    * re-reduces the vectors. */
  def writeIvfIndex(vecs: DataFrame, cents: DataFrame, dir: String): Unit =
    buildLayout(vecs.sparkSession, dir, IvfFlatLayout) { leg =>
      // Inline rank-1 assignment on the row ([[withInlineCell]],
      // round 20) — the separate assignment frame + corpus-sized
      // re-attach join on vec_id are gone; same argmin, same rows.
      withInlineCell(withNorm(vecs), storedCents(cents, leg))
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
    * [[appendRows]] clears its tombstone in the same entry. */
  def appendIvfIndex(spark: org.apache.spark.sql.SparkSession,
      vecs2: DataFrame, dir: String): Unit = {
    val open = IvfFlatLayout.open(spark, dir)
    appendRows(open, vecs2, withInlineCell(withNorm(vecs2), open.cents),
      "appendIvfIndex")
  }

  // BQ fmt=2: the code table lives under `codes/` (fmt 1, pre-r14,
  // wrote code files at the dir root), so an old-layout dir is rejected
  // loudly instead of appending a `codes/` subdir the fmt-1 reader
  // ignores or serving half the corpus. IVF-PQ fmt=2 marks by-residual
  // codes (fmt 1 held raw-vector codes a fmt-2 serve would score as
  // garbage); IMI-PQ fmt=2 marks code rows that carry metadata. The
  // flat and SQ8 layouts both store an `index/` table, so the layout
  // key keeps an append or serve against the wrong one from merging
  // mismatched schemas. Each vector layout has one row table (`codes`,
  // `index` or `assign`), partitioned by none, the coarse `cell`, or
  // the IMI pair `c0`, `c1`; quantizer tables (`centroids`,
  // `codebook`) sit beside it, written by the layout's own build.
  private val TombstoneSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType)))

  private def vectorLayout(fields: Seq[(String, String)], table: String,
      partKeys: Seq[String], params: String*): Layout =
    Layout(fields, params, Seq(table -> partKeys), Some(TombstoneSchema))

  private val BqLayout = vectorLayout(
    Seq("layout" -> "bq", "bits" -> "64", "fmt" -> "2"), "codes", Nil)
  private val IvfBqLayout = vectorLayout(
    Seq("layout" -> "ivf_bq", "bits" -> "64", "fmt" -> "1"), "codes",
    Seq("cell"))
  private val IvfFlatLayout = vectorLayout(
    Seq("layout" -> "ivf_flat", "fmt" -> "1"), "index", Seq("cell"))
  private val IvfSq8Layout = vectorLayout(
    Seq("layout" -> "ivf_sq8", "bits" -> "8", "fmt" -> "1"), "index",
    Seq("cell"))
  private val IvfPqLayout = vectorLayout(
    Seq("layout" -> "ivf_pq", "fmt" -> "2"), "codes", Seq("cell"),
    "m", "codebookK", "kCells")
  private val ImiLayout = vectorLayout(
    Seq("layout" -> "imi", "fmt" -> "1"), "index", Seq("c0", "c1"))
  private val ImiPqLayout = vectorLayout(
    Seq("layout" -> "imi_pq", "fmt" -> "2"), "codes", Seq("c0", "c1"),
    "m", "codebookK")
  private val KnnAssignLayout = vectorLayout(
    Seq("layout" -> "knn_assign", "fmt" -> "1"), "assign", Nil, "nprobe")

  /** Layouts whose ids [[deleteFromIvfIndex]] may tombstone. */
  private val TombstonedLayouts = Seq(BqLayout, IvfBqLayout, IvfFlatLayout,
    IvfSq8Layout, IvfPqLayout, ImiLayout, ImiPqLayout, KnnAssignLayout)

  /** A vector layout's one row table and its partition keys. */
  private implicit final class RowTable(val layout: Layout) extends AnyVal {
    def table: String = layout.tables.head._1
    def partKeys: Seq[String] = layout.tables.head._2
  }

  /** The vector legs' view of an opened layout ([[OpenedLayout]] holds
    * the entry check, table schemas and tombstone presence): the
    * collected quantizer — cell centroids, IMI halves, PQ codebook —
    * so no leg past the build reads a quantizer table as a frame, the
    * masked row table, and the occupancy-derived re-rank depth. */
  private implicit final class OpenedVectors(val open: OpenedLayout)
      extends AnyVal {
    def cents: CentEntries =
      open.quantizer("centroids")(collectCents(open.table("centroids"), "dim"))

    def halves: Seq[CentEntries] =
      open.quantizer("halves")(collectHalvesUncached(open.table("centroids")))

    def codebook: CodebookEntries =
      open.quantizer("codebook")(collectCodebook(open.table("codebook")))

    /** The row table read with its held schema, the optional metadata
      * predicate, then one broadcast anti-join against the tombstones
      * when any exist. The predicate commutes with the mask (both row
      * filters). */
    def liveRows(pred: Option[Column] = None): DataFrame = {
      val rows = pred.foldLeft(open.table(open.layout.table))(_ filter _)
      open.tombstones.fold(rows)(t =>
        rows.join(broadcast(t), Seq("vec_id"), "left_anti"))
    }

    /** `rerankDepth`, or for [[AutoRerankDepth]] the
      * [[imiSuggestedRerankDepth]] rule (q = 1) over the live rows'
      * largest partition leaf: each vector stores m code rows, so
      * count div m per leaf is the exact [[imiPairStats]] /
      * [[ivfCellStats]] occupancy, read from the index itself (one
      * leaf-bounded aggregate per data generation, never the raw
      * corpus). Derived before any metadata predicate: the depth sizes
      * the grid, and filtered serves must not shrink their shortlist
      * just because few rows match. */
    def rerankDepth(requested: Int, k: Int, m: Int): Int =
      if (requested != AutoRerankDepth) requested
      else suggestedRerankDepth(open.data[java.lang.Long]("occupancy")(
        Long.box(maxOccupancy(liveRows()
          .groupBy(open.layout.partKeys.map(col): _*)
          .agg(expr(s"count(1) div $m").as("n_vectors"))))), k)
  }

  /** The `rerankDepth` precondition of the persisted PQ serves, then
    * the per-probe top-k of their `refined` frame. */
  private def depthRanked(rerankDepth: Int, k: Int)(
      refined: => DataFrame): DataFrame = {
    require(rerankDepth == AutoRerankDepth || rerankDepth >= k,
      s"rerankDepth $rerankDepth must cover k=$k (or AutoRerankDepth)")
    topKPerProbe(refined, k)
  }

  /** A build's quantizer table staged by its leg and read back, so the
    * build's rows encode against exactly the stored values (and `df`,
    * often a live training lineage, runs once). */
  private def storedQuantizer(df: DataFrame, leg: WriteLeg,
      table: String): DataFrame = {
    leg.write(table, df)
    leg.staged(table)
  }

  /** [[storedQuantizer]] for trained (cid, dim, cmean) cell centroids,
    * collected. Caching a live kmeansTrain lineage was measured slower
    * in-query (knnJoinIndexed's note), but a build is exactly the
    * "materialize outside the query" case; parquet round-trips the
    * means exactly, so the assignment is bit-identical either way. */
  private def storedCents(cents: DataFrame, leg: WriteLeg): CentEntries =
    collectCents(storedQuantizer(cents, leg, "centroids"), "dim")

  /** The build leg of every vector layout ([[Layout.build]]): `rows`
    * stages the layout's quantizer tables, if any, through the leg and
    * returns the row frame. */
  private def buildLayout(spark: org.apache.spark.sql.SparkSession,
      dir: String, layout: Layout, params: (String, String)*)(
      rows: WriteLeg => DataFrame): Unit =
    layout.build(spark, dir, params: _*)(leg =>
      Seq(layout.table -> rows(leg)))

  /** The append leg of every vector layout: gate `rows` on the opened
    * layout's stored column set (rows carry metadata for the filtered
    * serves, so a mismatched batch must fail at entry, not leave
    * mixed-schema files), add them partitioned by the layout's keys and
    * clear the tombstones of re-added `batch` ids — one entry, so a
    * serve sees both or neither.
    *
    * The tombstone reconciliation anti-joins the appended ids out of
    * the tombstone table, so a delete-then-re-add serves the re-added
    * rows and a later compaction cannot drop them. Caller contract
    * (FAISS's `add` has the same one — ids are not membership-checked):
    * re-adding an id whose deleted rows are still physically present
    * (deleted but not yet compacted) would leave duplicate rows once
    * unmasked; compact first (PipelineSpec's re-add pins exercise
    * exactly that flow). */
  private def appendRows(open: OpenedLayout, batch: DataFrame,
      rows: DataFrame, leg: String): Unit = open.commit { l =>
    l.append(open.layout.table, rows, leg)
    open.tombstones.foreach { t =>
      val appended = batch
        .select(col("vec_id").cast("long").as("vec_id")).distinct()
      l.replace("tombstones",
        t.join(broadcast(appended), Seq("vec_id"), "left_anti"))
    }
  }

  /** Tombstone-DELETE vectors from a persisted vector layout (any of
    * the seven, or a [[writeKnnAssignIndex]] table) — the removal half
    * of the index lifecycle (user deletion requests, retracted
    * documents) next to the append half. Ids land in a side table
    * (`tombstones/`), the index files are untouched, and every serve
    * masks them with one broadcast anti-join — O(|deletes|) serve
    * overhead, zero rewrite cost, exactly the tombstone contract every
    * LSM-shaped store uses. The dir's log is checked first: a delete
    * aimed at a mistyped path or another kind of index would otherwise
    * "succeed" and mask nothing. The layout's compaction reclaims the
    * space and drains the table. */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, dir: String): Unit =
    deleteRows(Layout.openAny(spark, dir, TombstonedLayouts), ids)

  /** Add `ids` to the tombstone table. */
  private def deleteRows(open: OpenedLayout, ids: DataFrame): Unit =
    open.commit(_.write("tombstones",
      ids.select(col("vec_id").cast("long").as("vec_id")).distinct()))

  /** Partition-dir segment for a value, escaped exactly as Spark's
    * partitioned writes escape it (ExternalCatalogUtils.escapePathName
    * — the writer-side codec), so the compaction's file-list cut
    * matches the stored dir names even for string labels needing URI
    * escaping (space, '/', '='). Int labels (the only ones today)
    * escape to themselves. */
  private def partSegment(colName: String, v: Any): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val s = Option(v).map(_.toString)
      .getOrElse(ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
    s"$colName=${ExternalCatalogUtils.escapePathName(s)}"
  }

  /** The compaction leg of every vector layout: open the layout (its
    * log entry and held row schema), drop the tombstoned rows from the
    * row table and drain the tombstone table, in one entry.
    * Reclamation never changes a result: the compacted serve equals the
    * masked serve it replaces (oracle-gated per layout).
    *
    * The unit of rewrite follows the partition keys. An unpartitioned
    * table (flat BQ, 16 B/vector) is rewritten whole. A partitioned
    * table rewrites only the leaves (`cell=N` or `c0=X/c1=Y`) that hold
    * tombstoned rows: their keys are collected (a metadata-sized list
    * bounded by the quantizer's cell count), their survivors are read
    * through a literal partition filter and written as new files, and
    * the entry swaps the leaves' old files for those — file-list
    * arithmetic; untouched leaves are never read or written. A leaf
    * whose rows all died gets no new file, so it simply leaves the
    * list, and a compaction that leaves no row at all commits an empty
    * table whose schema the entry keeps. */
  private def compactLayout(spark: org.apache.spark.sql.SparkSession,
      dir: String, layout: Layout): Unit = {
    val open = layout.open(spark, dir)
    open.tombstones.foreach { tombs =>
      val (name, keys) = (layout.table, layout.partKeys)
      val rows = open.table(name)
      open.commit { leg =>
        if (keys.isEmpty)
          leg.replace(name, rows.join(broadcast(tombs), Seq("vec_id"),
            "left_anti"))
        else {
          val affected = rows.join(broadcast(tombs), Seq("vec_id"))
            .select(keys.map(col): _*).distinct().collect()
          if (affected.nonEmpty) {
            leg.write(name, rows.filter(affected.map(r => keys.indices
                .map(i => col(keys(i)) <=> lit(r.get(i))).reduce(_ && _))
                .reduce(_ || _))
              .join(broadcast(tombs), Seq("vec_id"), "left_anti"))
            affected.foreach(r => leg.dropLeaf(name, keys.indices
              .map(i => partSegment(keys(i), r.get(i))).mkString("/")))
          }
        }
        leg.drop("tombstones")(_ => true)
      }
    }
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
    * cell-partitioned index on the cell key, so a serving query
    * physically reads only the consulted cells' partitions, not the
    * corpus. How the scan is pruned depends on the probe frame, the
    * rule every cell layout (flat, SQ8, IVF-BQ, IVF-PQ) follows. A
    * LOCAL frame (a `Seq.toDF`, filtered or not) has its cells ranked
    * on the driver and the scan gets a literal `cell IN (…)` filter,
    * pruned at plan time ([[probedCellsOnly]]). Any other frame keeps
    * Spark's dynamic partition pruning, driven from the (tiny)
    * probe-cell side of the join. PipelineSpec pins the bit-for-bit
    * parity with [[ivfSearchTrained]], the DPP filter in a
    * distributed-probe plan, and the partitions a local probe reads.
    * Exactly the contract of the in-memory path: rounded-cosine desc,
    * neighbor asc, top-k per probe. */
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
      pred: Option[Column]): DataFrame =
    topKPerProbe(ivfScoredFromIndex(spark, dir, probes, nprobe, pred), k)

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
    * filtered, range): [[ivfScored]] over the opened layout's
    * centroids and live index rows. */
  private def ivfScoredFromIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      probes: DataFrame, nprobe: Int, pred: Option[Column]): DataFrame = {
    val open = IvfFlatLayout.open(spark, dir)
    ivfScored(probes, open.cents, open.liveRows(pred), nprobe)
  }

  /** The scored frame of every flat-IVF serve (in-memory
    * [[ivfSearchTrained]] and the persisted modes): probe→cell
    * assignment against `cents`, cell-equi join into the `corpus`
    * rows (vec_id, v, nrm, cell — DPP-prunable when stored), rounded
    * cosine. One definition so the paths and modes cannot diverge on
    * the determinism or deletion contracts. */
  private def ivfScored(probes: DataFrame, cents: CentEntries,
      corpus: DataFrame, nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val pcells = trainedAssign(probes, cents, nprobe)
      .select(col("probe_id"), col("cid").as("pcell"))
    val pb = withNorm(probes).select(col("vec_id").as("probe_id"),
      col("v").as("pv"), col("nrm").as("pnrm"))
    pb.join(pcells, Seq("probe_id"))
      .join(probedCellsOnly(corpus, probes, cents, nprobe),
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
    buildLayout(vecs.sparkSession, dir, IvfSq8Layout) { leg =>
      // Inline assignment + metadata carry ([[withInlineCell]] under
      // [[sq8Rows]]' projection, round 20) — no re-attach join.
      sq8Rows(withInlineCell(vecs, storedCents(cents, leg)))
    }

  /** APPEND a batch to a persisted [[writeIvfSq8Index]] layout — the
    * [[appendIvfIndex]] contract on the compressed rows: assignment
    * uses the STORED centroids and the scale is per-vector, so
    * write(A) then append(B) is row-for-row equal to write(A ∪ B)
    * under the same quantizer (spec-pinned bit-for-bit). Tombstones
    * for re-added ids reconcile in the same entry. */
  def appendIvfSq8Index(spark: org.apache.spark.sql.SparkSession,
      vecs2: DataFrame, dir: String): Unit = {
    val open = IvfSq8Layout.open(spark, dir)
    appendRows(open, vecs2, sq8Rows(withInlineCell(vecs2, open.cents)),
      "appendIvfSq8Index")
  }

  /** Tombstone-DELETE from the SQ8 layout — the tombstone table is
    * layout-agnostic (ids only), so this IS [[deleteFromIvfIndex]]'s
    * contract applied to the SQ8 dir, which must hold an SQ8 layout. */
  def deleteFromIvfSq8Index(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, dir: String): Unit =
    deleteRows(IvfSq8Layout.open(spark, dir), ids)

  /** Compaction for the SQ8 layout: the affected-cell rewrite of
    * [[compactLayout]] over the (vec_id, scale, q, cell) table. */
  def compactIvfSq8Index(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    compactLayout(spark, dir, IvfSq8Layout)

  /** Serve maximum-inner-product top-k from a persisted
    * [[writeIvfSq8Index]] layout: probes assign to their `nprobe`
    * nearest stored centroids (same rounded-L2²/cid contract as the
    * whole IVF family), the scan is pruned to the consulted
    * partitions ([[searchIvfIndex]]'s rule), and each candidate
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
    val open = IvfSq8Layout.open(spark, dir)
    topKPerProbe(sq8ScoredFrom(open.liveRows(pred), open.cents, probes,
      nprobe), k, "ip_r")
  }

  /** IN-MEMORY SQ8 serve — [[searchIvfSq8Index]]'s exact scoring
    * frame over a just-quantized corpus, no persisted layout: the
    * ladder-comparison entry point ([[recallAtK]] across rungs wants
    * every rung buildable in one query). One shared private scoring
    * definition, so this and the persisted serve cannot diverge on
    * the determinism contract. */
  def ivfSq8TopK(vecs: DataFrame, probes: DataFrame, cents: DataFrame,
      k: Int, nprobe: Int = 1): DataFrame = {
    val cs = collectCents(cents, "dim")
    val cells = trainedAssign(vecs, cs, 1)
      .select(col("probe_id").as("vec_id"), col("cid").as("cell"))
    topKPerProbe(sq8ScoredFrom(sq8Rows(vecs).join(cells, Seq("vec_id")), cs,
      probes, nprobe), k, "ip_r")
  }

  /** The SQ8 serves' shared scored frame (in-memory and persisted,
    * top-k and range): probe → nprobe cells, cell-equi join,
    * round(scale·⟨p,q⟩, 6) — one definition so the paths and modes
    * cannot diverge on the determinism or deletion contracts (the
    * [[ivfScored]] discipline on the compressed rows). */
  private def sq8ScoredFrom(idx: DataFrame, cents: CentEntries,
      probes: DataFrame, nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val pcells = trainedAssign(probes, cents, nprobe)
      .select(col("probe_id"), col("cid").as("pcell"))
    val pb = probes.select(col("vec_id").as("probe_id"), col("v").as("pv"))
    pb.join(pcells, Seq("probe_id"))
      .join(probedCellsOnly(idx, probes, cents, nprobe),
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
    val open = IvfSq8Layout.open(spark, dir)
    sq8ScoredFrom(open.liveRows(), open.cents, probes, nprobe)
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
