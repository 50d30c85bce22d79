package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-depth graph traversal over edge lists — the Pregel frontier
  * shape expressed as DataFrame joins: each hop is one equi-join shuffle
  * of the current frontier against the (cached) edge table, and the
  * visited set grows monotonically. Complements
  * [[ConnectedComponents]] (unbounded label propagation) with the
  * bounded-radius queries a lineage/contamination analysis needs
  * ("everything within k steps of these seeds").
  */
object Graph {

  /** Minimum-hop distances from a seed set, breadth-first, up to
    * `maxHops`. `edges` is `(src, dst)` and is treated as undirected;
    * `seeds` is a single `node` column.
    *
    * Scale shape: the symmetrized edge table is cached once and every
    * hop is a frontier⋈edges equi-join (shuffle on node id) followed by
    * an anti-join against the visited set — no iteration ever touches
    * more than (frontier × avg-degree) rows, and the visited set stays
    * hash-partitioned on `node` so the anti-join and the final
    * presentation reuse one exchange. The driver loop is bounded by the
    * constant `maxHops` (no convergence probe), so the plan is a fixed
    * unrolled pipeline of depth `maxHops` — lineage cannot run away.
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0 && maxHops <= 10,
      s"maxHops must be in [0, 10] (unrolled join depth), got $maxHops")
    // Symmetrize via one explode (a union would evaluate the upstream
    // edge plan twice in the same job — see ConnectedComponents.sym).
    val sym = edges
      .select(explode(array(
        struct(col("src").as("u"), col("dst").as("v")),
        struct(col("dst").as("u"), col("src").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
      .persist()

    var visited = seeds.select(col("node").cast("long").as("node"),
      lit(0).as("hops")).distinct().persist()
    var frontier = visited
    var k = 0
    while (k < maxHops) {
      k += 1
      val next = frontier
        .join(sym, col("node") === col("u"))
        .select(col("v").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .withColumn("hops", lit(k))
        .persist()
      val grown = visited.union(next).persist()
      // Materialize the new visited set so the next round's anti-join
      // reads the cache instead of re-running every prior hop; then the
      // stale generations can go.
      grown.count()
      visited.unpersist()
      frontier.unpersist()
      visited = grown
      frontier = next
    }
    sym.unpersist()
    visited
  }

  /** Fixed-iteration PageRank (damping 0.85) over a directed edge list
    * `(src, dst)` — the canonical "importance" pass a data-curation
    * pipeline runs over its citation/link graph before sampling.
    * Dangling mass is not redistributed (nodes without out-edges simply
    * stop contributing), matching the unrolled oracle exactly.
    *
    * Determinism: ranks are FIXED-POINT — integer micro-ranks scaled by
    * 10^12. Every step is integer arithmetic (`div` for the per-edge
    * share and the ×0.85 damping, long addition for the per-node sum),
    * so there is no floating point anywhere, no rounding-mode question,
    * and the result is bit-identical across engines, partitionings and
    * retries. (A double formulation divides a 12-dp decimal by an
    * integer and re-rounds — which lands EXACTLY half-way whenever the
    * last digit is odd and the degree is 2, the known cross-engine
    * drift class.) Floor division leaks ≤1 micro-rank of mass per edge
    * per round — deterministic and ~10^-12 of total mass.
    *
    * Scale shape: the distinct edge set and node set appear once per
    * unrolled iteration but are the same canonical subtree each time,
    * so ReuseExchange materializes them once inside the single final
    * plan (no session-cached blocks to leak); every iteration is (a) a
    * rank⋈out-degree⋈edges equi-join pipeline keyed on the source node
    * and (b) one dst-keyed aggregation with map-side partial sums, then
    * a left join back to the node set — ~2 keyed shuffles per
    * iteration, nothing quadratic, no driver-side collect (the node
    * count rides in as a broadcast 1-row cross join). The iteration
    * count is a compile-time constant, so the plan is a fixed unrolled
    * pipeline like [[bfsHops]].
    */
  def pagerank(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 10,
      s"iterations must be in [1, 10] (unrolled join depth), got $iterations")
    // No persist and no checkpoint: the unrolled loop references the
    // edge and node subtrees once per iteration, but they are the SAME
    // canonical subtree every time, so ReuseExchange collapses the
    // repeats inside the single final plan — nothing recomputes, no
    // cached blocks can leak across the session, and nothing is
    // materialized at construction time. (A persist here must either
    // leak or force an eager checkpoint, both measured worse: the
    // checkpoint variant ran 2.78 s vs 1.65 s steady-state at sf0.1.)
    val (e, nodes, outd, ncnt, r0) = pagerankPrelude(edges)
    var ranks = r0
    for (_ <- 1 to iterations) {
      val contribs = ranks.join(outd, Seq("node"))
        .join(e, col("node") === col("src"))
        .select(col("dst").as("node"),
          expr("rank_micro div outd").as("contrib"))
      val sums = contribs.groupBy(col("node"))
        .agg(sum(col("contrib")).as("s"))
      // 0.15·scale = 15·10^10 exactly; ×0.85 = ·85 div 100 exactly.
      ranks = nodes.join(sums, Seq("node"), "left").crossJoin(ncnt)
        .select(col("node"),
          (expr(s"${15 * (Scale / 100)} div n") +
            expr("(85 * coalesce(s, 0L)) div 100")).as("rank_micro"))
    }
    ranks
  }

  /** Synchronous label propagation (community detection), `iterations`
    * unrolled rounds: every node starts labeled with its own id; each
    * round it adopts the most frequent label among its neighbors AND
    * itself (self-vote — the standard damping against the synchronous
    * flip on bipartite-ish structure), ties to the smallest label.
    * Raghavan et al. 2007 (arXiv:0709.2938) is the async original;
    * this is the deterministic synchronous variant a relational engine
    * can unroll — fixed rounds, bit-reproducible (integer counts,
    * total tie order), gated against an identically-unrolled oracle.
    * Synchronous LPA may oscillate rather than converge on structured
    * graphs; the contract here is "the label state after exactly N
    * rounds", which is also what makes it oracle-checkable.
    *
    * Scale shape: per round one co-keyed join of the label table
    * against the symmetrized edges (both sides keyed on the node id)
    * + two keyed aggregations with full map-side partials — the
    * pagerank shape; the unrolled subtrees dedup through
    * ReuseExchange, nothing is cached or collected. */
  def labelPropagation(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 5,
      s"iterations must be in [1, 5] (unrolled join depth), got $iterations")
    val sym = edges
      .select(explode(array(
        struct(col("src").cast("long").as("u"), col("dst").cast("long").as("v")),
        struct(col("dst").cast("long").as("u"), col("src").cast("long").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
    var labels = sym.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to iterations) {
      val votes = sym
        .join(labels.select(col("node").as("v"), col("label")), Seq("v"))
        .select(col("u").as("node"), col("label"))
        .unionByName(labels)
      labels = votes
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("node"))
        .agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("best"))
        .select(col("node"), (-col("best.neg")).as("label"))
    }
    labels
  }

  /** 10^12 micro-ranks = total mass 1.0 (shared by both variants). */
  private val Scale = 1000000000000L

  /** Shared PageRank setup — distinct edge set, node set, out-degrees,
    * broadcast node count, uniform initial micro-ranks. One definition
    * so the two variants (and their unrolled oracles) can never diverge
    * on normalization or the fixed-point scale. */
  private def pagerankPrelude(edges: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val outd = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outd"))
    val ncnt = broadcast(nodes.agg(count(lit(1)).as("n")))
    val r0 = nodes.crossJoin(ncnt)
      .select(col("node"), expr(s"$Scale div n").as("rank_micro"))
    (e, nodes, outd, ncnt, r0)
  }

  /** [[pagerank]] with DANGLING-MASS REDISTRIBUTION — the textbook
    * variant that conserves total rank mass: each iteration, the rank
    * held by nodes without out-edges is shared equally across ALL nodes
    * (inside the damping term) instead of evaporating. Choose this when
    * rank mass conservation matters (comparing ranks across graphs or
    * iterations on absolute scale); the plain [[pagerank]] ordering is
    * usually identical for curation use and costs one aggregate less
    * per round.
    *
    * Same fixed-point integer arithmetic as [[pagerank]] (micro-ranks
    * ×10^12, `div` everywhere — bit-identical across engines); the only
    * addition per iteration is the dangling-mass total: a one-row
    * aggregate over `ranks ⟕̸ outd` (anti-join keyed like the contrib
    * join), broadcast back as a scalar cross join — no extra keyed
    * shuffle of the rank table, so the per-iteration shuffle count is
    * unchanged at scale. `dm div n` floors ≤1 micro-rank per node per
    * round, same leak bound as the contribution division.
    */
  def pagerankDangling(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 10,
      s"iterations must be in [1, 10] (unrolled join depth), got $iterations")
    val (e, nodes, outd, ncnt, r0) = pagerankPrelude(edges)
    var ranks = r0
    for (_ <- 1 to iterations) {
      // ONE left join feeds both the contribution pipeline (matched
      // rows) and the dangling-mass scalar (unmatched rows), instead of
      // an inner join + a separate anti-join (two different canonical
      // subtrees over the rank lineage). Measured gain is modest
      // (3.23 → 3.07 s at sf0.1): AQE materializes the broadcast
      // dangling stage as its own query stage, so cross-stage reuse of
      // the deep unrolled lineage is only partial — the variant's ~2×
      // cost over plain pagerank is the price of the extra per-round
      // scalar, documented in SCALING.md.
      val withOutd = ranks.join(outd, Seq("node"), "left")
      val contribs = withOutd.filter(col("outd").isNotNull)
        .join(e, col("node") === col("src"))
        .select(col("dst").as("node"),
          expr("rank_micro div outd").as("contrib"))
      val sums = contribs.groupBy(col("node"))
        .agg(sum(col("contrib")).as("s"))
      val dangling = broadcast(withOutd.filter(col("outd").isNull)
        .agg(coalesce(sum(col("rank_micro")), lit(0L)).as("dm")))
      ranks = nodes.join(sums, Seq("node"), "left")
        .crossJoin(ncnt).crossJoin(dangling)
        .select(col("node"),
          (expr(s"${15 * (Scale / 100)} div n") +
            expr("(85 * (coalesce(s, 0L) + dm div n)) div 100"))
            .as("rank_micro"))
    }
    ranks
  }

  /** Bounded-round k-core peeling (Seidman 1983; the distributed
    * peel is the Pregel/"scan-and-peel" formulation — degrees
    * recount on the surviving subgraph, nodes under `k` drop, repeat):
    * after exactly `rounds` synchronous peels over the undirected
    * simple graph, emit each surviving node with its degree INSIDE the
    * surviving subgraph. The contract is "state after exactly N
    * rounds" (the [[labelPropagation]] discipline) — bit-reproducible
    * pure integer counts, no convergence dependence; the gated query
    * picks (k, rounds) where the corpus provably converges (a 4th
    * round is a fixpoint, spec-pinned), so the output IS the k-core
    * there.
    *
    * Scale shape: one degree aggregation + two semi-joins per round,
    * all keyed on the node id — the same shuffle budget per round as
    * a BFS hop; no pair enumeration anywhere. Peeling is the standard
    * dense-core extractor (spam/bot rings, boilerplate hubs) next to
    * pagerank's importance and label-prop's communities. */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    kCoreImpl(edges, k, rounds, salts = 1)

  /** [[kCore]] with SALTED two-phase degree aggregation — the 100 TB
    * skew adaptation for power-law hubs: every per-round degree count
    * (and the output degree agg) first partial-counts on
    * (u, xxhash64(v) mod salts), spreading a hub node's edge rows
    * across `salts` aggregation keys, then merges the partials on u.
    * Integer partial sums merge exactly, so the result is
    * BIT-IDENTICAL to the unsalted path (spec-pinned; the gated twin
    * shares graph_kcore's oracle) — the price is one extra exchange
    * per round over the |alive-nodes|·salts-bounded partial table.
    * Matters when a hub's per-key row group outgrows what map-side
    * partial aggregation absorbs (hash-agg spill on the skewed key);
    * the semi-join side's skew is AQE's skew-join territory and is
    * untouched here. */
  def kCoreSalted(edges: DataFrame, k: Int, rounds: Int,
      salts: Int = 8): DataFrame = {
    require(salts >= 2, s"salts must be >= 2 (use kCore for the " +
      s"unsalted plan), got $salts")
    kCoreImpl(edges, k, rounds, salts)
  }

  private def kCoreImpl(edges: DataFrame, k: Int, rounds: Int,
      salts: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 5,
      s"rounds must be in [1, 5] (unrolled join depth), got $rounds")
    var und = edges
      .select(explode(array(
        struct(col("src").cast("long").as("u"), col("dst").cast("long").as("v")),
        struct(col("dst").cast("long").as("u"), col("src").cast("long").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
    for (_ <- 1 to rounds) {
      val alive = saltedCount(und, "u", "v", salts, "d")
        .filter(col("d") >= k).select(col("u"))
      und = und.join(alive, Seq("u"), "left_semi")
        .join(alive.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
    }
    saltedCount(und, "u", "v", salts, "deg")
      .withColumnRenamed("u", "node")
  }

  /** Per-key row count, optionally SALTED two-phase (salts >= 2):
    * partial counts key on (key, xxhash64(other) mod salts), the
    * merge sums partials per key. salts = 1 is the plain one-phase
    * groupBy — same rows, same types, so the two paths are
    * interchangeable anywhere a degree table is consumed. */
  private def saltedCount(df: DataFrame, key: String, other: String,
      salts: Int, out: String): DataFrame =
    if (salts <= 1)
      df.groupBy(col(key)).agg(count(lit(1)).as(out))
    else
      df.groupBy(col(key),
          pmod(xxhash64(col(other)), lit(salts.toLong)).as("_salt"))
        .agg(count(lit(1)).as("_pc"))
        .groupBy(col(key)).agg(sum(col("_pc")).as(out))

  /** Common-neighbor link prediction over a bipartite edge list: for
    * every pair of left nodes sharing at least `minShared` right
    * neighbors, the shared count and Jaccard similarity of their
    * neighbor sets — "which suppliers are substitutable because they
    * stock the same parts", the same score family (neighbor-set
    * Jaccard) the dedup LSH path applies to shingle sets.
    *
    * Scale shape: the canonical friends-of-friends self-join, keyed on
    * the RIGHT node — one shuffle co-partitions both sides, and the
    * pair blow-up per right node is degree², so the whole cost is
    * Σ deg(r)². That sum is exactly what makes this operator explode
    * on power-law hubs, so right nodes with degree > `degreeCap` are
    * EXCLUDED from pair generation (the standard hub-drop: a part
    * stocked by every supplier carries no similarity signal, and at
    * 100 TB it alone would generate more pairs than the rest of the
    * graph). Degrees for the Jaccard union still count ALL edges —
    * the cap bounds work, not the denominator. Jaccard is emitted in
    * exact integer micro-units (`shared·10^6 div union`) — no doubles,
    * bit-identical across engines.
    *
    * Output: (a, b, shared, jac_micro) with a < b, one row per
    * qualifying pair.
    */
  def commonNeighbors(edges: DataFrame, degreeCap: Int = 1000,
      minShared: Long = 2L, salts: Int = 1): DataFrame = {
    val e = edges.select(col("src").as("l"), col("dst").as("r")).distinct()
    val rdeg = saltedCount(e, "r", "l", salts, "rdeg")
    val ldeg = saltedCount(e, "l", "r", salts, "ldeg")
    val kept = e.join(rdeg.filter(col("rdeg") <= degreeCap)
      .select(col("r")), Seq("r"))
    // The pair self-join is PINNED to shuffle-hash: sort-merge paid
    // two sorts of the capped edge table per run and its AQE skew
    // re-planning swung the measured steady-state 3.4-5.3 s at sf0.1
    // (SCALING.md round-14 adjudication); with SHJ the same runs land
    // 2.3-2.6 s (±6%). Hub skew stays bounded by construction — the
    // degreeCap caps any single r's rows at degreeCap, so a
    // partition's build side is partition-sized, not hub-sized, and
    // Spark 4's SHJ spills if it still outgrows memory. AQE's skew
    // split applies to SHJ as well when a partition is genuinely
    // oversized.
    val pairs = kept.as("x").hint("shuffle_hash")
      .join(kept.as("y"), col("x.r") === col("y.r") &&
        col("x.l") < col("y.l"))
      .groupBy(col("x.l").as("a"), col("y.l").as("b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    pairs
      .join(ldeg.select(col("l").as("a"), col("ldeg").as("da")), Seq("a"))
      .join(ldeg.select(col("l").as("b"), col("ldeg").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("shared"),
        expr("(shared * 1000000L) div (da + db - shared)").as("jac_micro"))
  }
}
