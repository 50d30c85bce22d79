package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable cardinality/frequency sketches, expressed relationally so
  * every stage map-side-combines and the sketch itself — not the data —
  * is what crosses the shuffle. These are the 100 TB profiling
  * primitives: a KMV synopsis answers "how many distinct urls per
  * crawl?" from k rows per group, and a count-min sketch answers "how
  * often does this key appear?" from a d×w table that is broadcast-
  * joinable against any candidate set, no matter how large the stream
  * that built it was.
  *
  * Determinism contract (same discipline as [[Dedup]]'s v2 family):
  * all hashing is md5-prefix → 48-bit integer, all estimates are exact
  * integer arithmetic (`div`), so results are bit-identical across
  * engines, partitionings, and retries — the property that lets the
  * DuckDB oracle gate them value-for-value.
  */
object Sketches {

  /** 48-bit uniform hash of a (stringified) column: the md5-prefix
    * idiom shared with pipeline_checksum / the v2 dedup family. */
  private[graft] def h48(c: Column): Column =
    conv(substring(md5(c.cast("string").cast("binary")), 1, 12), 16, 10)
      .cast("bigint")

  /** K-minimum-values distinct-count estimate per group.
    *
    * The KMV synopsis of a set is its k smallest (distinct) hash
    * values; with hashes uniform on [0, 2^48), the k-th smallest value
    * h_k estimates the cardinality as (k−1) · 2^48 / h_k. Groups with
    * fewer than k distinct values report exactly (the synopsis IS the
    * set). Estimates use integer `div` — no doubles anywhere.
    *
    * Scale shape: one distinct-aggregate on (group, hash) — map-side
    * partial distinct does the heavy lifting — then a per-group sort of
    * AT MOST the distinct-hash count, cut to k rows by rank. At 100 TB
    * the synopsis (k rows per group) is all that survives; synopses
    * from disjoint shards union and re-rank to merge, which is how the
    * sharded-bloom / sharded-BM25 paths in this repo already combine
    * per-shard state. The final per-group row is k integers wide,
    * independent of data volume.
    *
    * Output: (group, n_kept, est_distinct) — `n_kept` = min(k, true
    * distinct), `est_distinct` = exact count when the group fits in the
    * synopsis, else the KMV estimate.
    */
  def kmvDistinct(df: DataFrame, key: Column, group: Column,
      k: Int = 32): DataFrame =
    kmvEstimate(kmvSynopsis(df.select(group.as("grp"), h48(key).as("h")), k),
      k)

  /** The k smallest distinct hashes per `grp` — the KMV synopsis
    * itself, the unit that merges: the global synopsis of a union is
    * the re-rank of the per-shard synopses' union, because every
    * globally-k-smallest hash is k-smallest within its own shard too.
    * Input must be `(grp, h)`. The rank-filter idiom rewrites to the
    * spillable TopKPerKeyExec (plans/TopKRewrite), so per-group state
    * is a k-element heap, never the group's row count. */
  private[graft] def kmvSynopsis(hashed: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    hashed.distinct()
      .withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("grp")).orderBy(col("h"))))
      .filter(col("rnk") <= k)
      .select(col("grp"), col("h"))
  }

  /** Estimate from a synopsis: exact when the group fits (< k values
    * kept), else (k−1)·2^48 div h_k. */
  private[graft] def kmvEstimate(synopsis: DataFrame, k: Int): DataFrame =
    synopsis.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("hk"))
      .select(col("grp"), col("n_kept"),
        when(col("n_kept") < k, col("n_kept"))
          .otherwise(expr(s"(${k - 1}L * 281474976710656L) div hk"))
          .as("est_distinct"))

  /** Sharded KMV: per-shard synopses merged by re-rank — the path a
    * 100 TB profiler actually runs (each shard ships k rows, the
    * coordinator never sees data). Bit-identical to the monolithic
    * [[kmvDistinct]] by the synopsis-merge property, and gated against
    * the SAME oracle to prove it. `shard` only drives the partial
    * synopses; it must not correlate with the hash order for the
    * merge bound to hold — any disjoint split works. */
  def kmvDistinctSharded(df: DataFrame, key: Column, group: Column,
      shard: Column, k: Int = 32): DataFrame = {
    val hashed = df.select(group.as("grp"), shard.as("sh"),
      h48(key).as("h"))
    // Per-shard partial synopsis: same rank-filter shape, keyed on
    // (grp, shard) — in production each shard computes this locally.
    val partial = hashed.distinct()
      .withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("grp"), col("sh")).orderBy(col("h"))))
      .filter(col("rnk") <= k)
      .select(col("grp"), col("h"))
    // Merge = union + re-rank. Hashes are distinct within a shard but
    // a value seen by two shards appears twice; the synopsis re-rank
    // dedups via its own distinct().
    kmvEstimate(kmvSynopsis(partial, k), k)
  }

  /** KMV set-overlap estimate between two keyed corpora: one merged
    * synopsis of A ∪ B with per-hash membership flags; the k-smallest
    * window is a uniform sample of the union, so the flagged fraction
    * estimates Jaccard and scales to an intersection cardinality via
    * the union's own KMV estimate. The cross-crawl overlap question
    * ("how much of crawl B is already in A?") answered from 2k rows.
    *
    * Scale shape: two distinct-aggregates (map-side partial), a
    * full-outer hash join on the 8-byte hash, then a global
    * `orderBy(h).limit(k)` — TakeOrderedAndProject, bounded state on
    * every partial. All estimates integer (`div`); `n_kept < k` means
    * the union fit entirely and everything is exact.
    */
  def kmvJaccard(a: DataFrame, keyA: Column, b: DataFrame, keyB: Column,
      k: Int = 64): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val ha = a.select(h48(keyA).as("h")).distinct()
      .withColumn("in_a", lit(1L))
    val hb = b.select(h48(keyB).as("h")).distinct()
      .withColumn("in_b", lit(1L))
    val top = ha.join(hb, Seq("h"), "full_outer")
      .na.fill(0L, Seq("in_a", "in_b"))
      .orderBy(col("h")).limit(k)
    top.agg(count(lit(1)).as("n_kept"), max(col("h")).as("hk"),
        sum(col("in_a") * col("in_b")).as("n_both"))
      .select(col("n_kept"), col("n_both"),
        expr("(n_both * 1000000L) div n_kept").as("jac_micro"),
        when(col("n_kept") < k, col("n_kept"))
          .otherwise(expr(s"(${k - 1}L * 281474976710656L) div hk"))
          .as("est_union"))
      .withColumn("est_inter",
        expr("(n_both * est_union) div n_kept"))
  }

  /** Write per-group KMV synopses to parquet — the profile-store leg
    * of the KMV family: each group ships its k smallest 48-bit hashes
    * (BIGINTs, parquet-exact) and every later set question is answered
    * from the store without re-scanning data. The `k` used at build is
    * recorded in the [[IndexMeta]] log entry; [[kmvSetOps]] requires it
    * to match, because a serve-time k larger than the stored rank
    * would silently truncate every estimate's sample window. */
  def writeKmvSynopses(df: DataFrame, key: Column, group: Column,
      dir: String, k: Int = 64): Unit =
    Kmv.build(df.sparkSession, dir, "k" -> k.toString)(_ => Seq("synopses" ->
      kmvSynopsis(df.select(group.as("grp"), h48(key).as("h")), k)))

  // fmt 2 moved the synopsis rows from the dir root into `synopses/`.
  private val Kmv = Layout(Seq("layout" -> "kmv", "fmt" -> "2"), Seq("k"),
    Seq("synopses" -> Nil))

  /** Pairwise set algebra over STORED synopses — union, intersection,
    * and difference cardinalities plus Jaccard for every unordered
    * group pair, computed entirely from the [[writeKmvSynopses]] table
    * (k rows per group; the corpora are never re-read). This is the
    * KMV set-operation estimator (Beyer et al., SIGMOD 2007): the
    * bottom-k of SA ∪ SB IS the bottom-k synopsis of A ∪ B (every
    * globally-k-smallest hash of the union is k-smallest within its
    * own side), and within that window `h ∈ A ⟺ h ∈ SA`, so the
    * flagged fraction estimates Jaccard and scales to intersection /
    * difference sizes via each side's own KMV estimate. All
    * arithmetic integer (`div`); when the merged window holds fewer
    * than k hashes both sides fit and every figure is exact.
    *
    * Scale shape: the synopsis table is |groups|·k rows — the heavy
    * distinct-aggregate ran once at build — so the pair expansion
    * (|groups|²/2 · 2k rows at worst) is bounded by the PROFILE size,
    * not the data; the one window runs per-pair over ≤ 2k rows. The
    * cross-source contamination matrix for a 100 TB corpus collection
    * is answered from kilobytes. */
  def kmvSetOps(spark: org.apache.spark.sql.SparkSession, dir: String,
      k: Int = 64): DataFrame = {
    val syn = Kmv.open(spark, dir, "k" -> k.toString).table("synopses")
    val ests = kmvEstimate(syn, k)
    val grps = syn.select(col("grp")).distinct()
    val pairs = grps.select(col("grp").as("ga"))
      .join(broadcast(grps.select(col("grp").as("gb"))),
        col("ga") < col("gb"))
    val aRows = pairs.join(syn.withColumnRenamed("grp", "ga"), Seq("ga"))
      .select(col("ga"), col("gb"), col("h"),
        lit(1L).as("in_a"), lit(0L).as("in_b"))
    val bRows = pairs.join(syn.withColumnRenamed("grp", "gb"), Seq("gb"))
      .select(col("ga"), col("gb"), col("h"),
        lit(0L).as("in_a"), lit(1L).as("in_b"))
    val window = aRows.unionByName(bRows)
      .groupBy(col("ga"), col("gb"), col("h"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
      .withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("ga"), col("gb")).orderBy(col("h"))))
      .filter(col("rnk") <= k)
    window.groupBy(col("ga"), col("gb"))
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("hk"),
        sum(col("in_a") * col("in_b")).as("n_both"))
      .withColumn("est_union",
        when(col("n_kept") < k, col("n_kept"))
          .otherwise(expr(s"(${k - 1}L * 281474976710656L) div hk")))
      .withColumn("est_inter", expr("(n_both * est_union) div n_kept"))
      .withColumn("jac_micro", expr("(n_both * 1000000L) div n_kept"))
      .join(ests.select(col("grp").as("ga"),
        col("est_distinct").as("est_a")), Seq("ga"))
      .join(ests.select(col("grp").as("gb"),
        col("est_distinct").as("est_b")), Seq("gb"))
      .select(col("ga"), col("gb"), col("n_kept"), col("n_both"),
        col("est_a"), col("est_b"), col("est_union"), col("est_inter"),
        greatest(col("est_a") - col("est_inter"), lit(0L))
          .as("est_only_a"),
        col("jac_micro"))
  }

  /** HyperLogLog-style distinct estimate, registers and all, built
    * relationally: bucket = h mod m, register M_j = max ρ(h div m)
    * (ρ = leading-zero run in the remaining 42 bits, +1). One
    * max-aggregation per (grp, bucket) — m rows per group survive, and
    * registers merge across shards by the same max, which is the whole
    * point of HLL at fleet scale.
    *
    * Determinism discipline: the harmonic sum Σ 2^−M_j is kept EXACT by
    * scaling to integers (Σ 2^(50−M_j), every term a power of two, the
    * whole sum < 2^57 with a ≤50-bit span — representable), so the only
    * floating-point steps are one constant product and one division,
    * identical on any engine and partitioning. Small-range correction:
    * linear counting m·ln(m/V) when the raw estimate ≤ 2.5m and empty
    * buckets exist — also a single ln of an exact ratio.
    */
  def hllDistinct(df: DataFrame, key: Column, group: Column,
      m: Int = 64): DataFrame =
    hllEstimate(hllRegisters(df, key, group, m), m)

  /** The register table `(grp, bucket, mj)` — HLL's mergeable unit:
    * registers combine across shards, engines, or micro-batches by the
    * same `max`, so under Structured Streaming this single aggregation
    * (complete mode) IS the incremental sketch maintenance; no custom
    * state needed. */
  def hllRegisters(df: DataFrame, key: Column, group: Column,
      m: Int = 64): DataFrame = {
    require(m == 64, s"register count fixed at 64 (α and widths), got $m")
    registersBy(df.select(group.as("grp"), h48(key).as("h")), Seq("grp"), m)
  }

  /** The bucket/ρ pipeline keyed on arbitrary grouping columns —
    * shared by the monolithic ([[hllRegisters]]) and sharded register
    * builds so the hash-to-register derivation cannot diverge. Input
    * must carry the grouping columns plus the 48-bit hash `h`. */
  private def registersBy(hashed: DataFrame, keys: Seq[String],
      m: Int): DataFrame =
    hashed
      .select(keys.map(col) ++ Seq((col("h") % m).as("bucket"),
        expr(s"h div $m").as("rest")): _*)
      .select(keys.map(col) ++ Seq(col("bucket"),
        when(col("rest") === 0L, lit(43))
          .otherwise(lit(43) - length(bin(col("rest")))).as("rho")): _*)
      .groupBy((keys :+ "bucket").map(col): _*)
      .agg(max(col("rho")).as("mj"))

  /** Estimate from a register table (see [[hllDistinct]] for the
    * arithmetic discipline). */
  def hllEstimate(regs: DataFrame, m: Int = 64): DataFrame = {
    require(m == 64, s"register count fixed at 64 (α and widths), got $m")
    regs.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(expr("shiftleft(1L, cast(50 - mj as int))")).as("s_present"))
      .select(col("grp"), col("n_buckets"),
        (lit(m).cast("long") - col("n_buckets")).as("v"),
        (col("s_present") +
          (lit(m).cast("long") - col("n_buckets")) *
            lit(1125899906842624L)).as("s"))
      // α·m²·2^50 / S, with the linear-counting branch below 2.5m.
      .select(col("grp"), col("n_buckets"),
        round(
          when((lit(0.709) * lit(4096.0) * lit(1125899906842624.0) /
              col("s").cast("double")) <= 160.0 && col("v") > 0,
            lit(64.0) * log(lit(64.0) / col("v").cast("double")))
            .otherwise(lit(0.709) * lit(4096.0) * lit(1125899906842624.0) /
              col("s").cast("double")), 4).as("est_hll"))
  }

  /** Sharded HLL: per-shard register tables merged by the same `max`
    * that built them (registers are max-stable, the defining HLL
    * property), then estimated — bit-identical to the monolithic
    * [[hllDistinct]] and gated against the same oracle. Each shard
    * ships m rows per group; the merge is one more max-aggregation.
    * Shards are formed by GROUPING on the shard column, never by
    * filtering an index range, so every row lands in exactly one shard
    * sketch no matter what values the shard expression takes (a
    * negative `id % n` remainder cannot silently drop data — the
    * failure mode [[kmvDistinctSharded]] was always immune to). */
  def hllDistinctSharded(df: DataFrame, key: Column, group: Column,
      shard: Column, m: Int = 64): DataFrame = {
    require(m == 64, s"register count fixed at 64 (α and widths), got $m")
    val perShard = registersBy(
      df.select(group.as("grp"), shard.as("sh"), h48(key).as("h")),
      Seq("grp", "sh"), m)
    val merged = perShard.groupBy(col("grp"), col("bucket"))
      .agg(max(col("mj")).as("mj"))
    hllEstimate(merged, m)
  }

  /** Persist → serve for HLL: write the register table (all-integer —
    * parquet round-trips it exactly) and estimate from the re-read
    * table, completing the build→persist→serve triad next to
    * [[cmsBuild]]/[[cmsScore]] and the KMV synopsis round-trip. What
    * ships to the stats store is m rows per group, never the stream. */
  def hllPersistRoundTrip(df: DataFrame, key: Column, group: Column,
      dir: String, m: Int = 64): DataFrame = {
    hllRegisters(df, key, group, m).write.mode("overwrite").parquet(dir)
    hllEstimate(df.sparkSession.read.parquet(dir), m)
  }

  /** Mergeable QUANTILE sketch — the family's fourth member: a
    * bottom-k-by-hash row sample per group. With h = h48(rowKey)
    * uniform, the k rows with the smallest (h, v) ARE a uniform
    * k-sample of the group, and — exactly like the KMV synopsis — the
    * global sample of a union is the re-rank of per-shard samples'
    * union (every globally-bottom-k row is bottom-k in its own
    * shard), so shards ship k rows each and merge loss-free. Quantile
    * estimates read the sorted sample at rank ⌈q·n⌉: sampling error
    * ~1/√k on the rank, exact when the group fits (n ≤ k, the whole
    * group IS the sample). All arithmetic integer; the estimate for a
    * group is a VALUE THAT OCCURS in it, never an interpolation.
    *
    * Scale shape: one rank-filter per group (the spillable
    * TopKPerKeyExec — k-row heaps, never group size), then windows
    * over k-row groups. The per-group state that crosses any wire is
    * k (h, v) pairs, independent of data volume.
    */
  def quantileSketch(df: DataFrame, key: Column, value: Column,
      group: Column, k: Int = 64,
      pcts: Seq[Int] = Seq(25, 50, 75, 95)): DataFrame =
    quantileEstimate(
      quantileSample(df.select(group.as("grp"), h48(key).as("h"),
        value.as("v")), k), pcts)

  /** The bottom-k sample itself — the mergeable unit. Input `(grp, h,
    * v)`; total order (h, v) so shard merges re-rank identically. */
  private[graft] def quantileSample(keyed: DataFrame, k: Int): DataFrame =
    quantileSampleBy(keyed, Seq("grp"), k)

  /** The rank filter keyed on arbitrary partition columns — ONE
    * definition of the sample's total order (h, v), shared by the
    * monolithic sample and the per-shard partials so the merge
    * identity can never drift (the [[registersBy]] discipline). */
  private def quantileSampleBy(keyed: DataFrame, keys: Seq[String],
      k: Int): DataFrame = {
    require(k >= 2, s"quantile sample needs k >= 2, got $k")
    keyed
      .withColumn("rnk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(col("h"), col("v"))))
      .filter(col("rnk") <= k)
      .select(col("grp"), col("h"), col("v"))
  }

  /** Estimates from a sample: value at rank ⌈pct·n/100⌉ of the
    * (v, h)-sorted sample, one row per (group, pct). */
  private[graft] def quantileEstimate(sample: DataFrame,
      pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"pcts must be in [1, 100], got $pcts")
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v"), col("h"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
    sample
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n_kept", count(lit(1)).over(wAll))
      .select(col("grp"), col("rn"), col("n_kept"), col("v"),
        explode(array(pcts.map(lit(_)): _*)).as("pct"))
      .filter(col("rn") === expr("greatest(1, (pct * n_kept + 99) div 100)"))
      .select(col("grp"), col("pct"), col("n_kept"), col("v").as("est_v"))
  }

  /** Sharded quantile sketch: per-shard bottom-k samples merged by
    * re-rank — bit-identical to the monolithic [[quantileSketch]] by
    * the same argument as the KMV synopsis merge, and gated against
    * the same oracle. Shards come from GROUPING on the shard column
    * (the family discipline — no index-range filter can drop rows). */
  def quantileSketchSharded(df: DataFrame, key: Column, value: Column,
      group: Column, shard: Column, k: Int = 64,
      pcts: Seq[Int] = Seq(25, 50, 75, 95)): DataFrame = {
    val keyed = df.select(group.as("grp"), shard.as("sh"),
      h48(key).as("h"), value.as("v"))
    val partial = quantileSampleBy(keyed, Seq("grp", "sh"), k)
    quantileEstimate(quantileSample(partial, k), pcts)
  }

  /** Count-min sketch: build the d×w counter table in one pass.
    *
    * Each row increments d counters, one per hash family
    * (Kirsch–Mitzenmacher-style independent rows via a salted md5).
    * The sketch is `d·w` rows total — a constant — so it broadcasts;
    * building it is a single aggregation whose map-side partials are
    * already sketches (count-min is linear), which is exactly why the
    * structure survives any partitioning or shard-merge at 100 TB.
    */
  def cmsBuild(df: DataFrame, key: Column, depth: Int = 3,
      width: Int = 256): DataFrame =
    cmsCellsBy(df.select(key.cast("string").as("k")), Seq.empty,
      depth, width)

  /** The cell table keyed on optional extra grouping columns — ONE
    * definition of the (j, bucket) hash derivation shared by the
    * monolithic build, the sharded build, and (via the same salted
    * md5) the candidate scorer, so the cell coordinates can never
    * diverge (the [[registersBy]] discipline). Input must carry the
    * stringified key `k` plus the grouping columns. */
  private def cmsCellsBy(keyed: DataFrame, keys: Seq[String],
      depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 8 && width >= 16,
      s"unreasonable CMS shape d=$depth w=$width")
    keyed
      .select(keys.map(col) :+ explode(array((1 to depth).map(j =>
        struct(lit(j).as("j"),
          (h48(concat(lit(s"$j:"), col("k"))) % width).as("bucket"))): _*))
        .as("cell"): _*)
      .select(keys.map(col) ++ Seq(col("cell.j").as("j"),
        col("cell.bucket").as("bucket")): _*)
      .groupBy((keys ++ Seq("j", "bucket")).map(col): _*)
      .agg(count(lit(1)).as("c"))
  }

  /** Sum two (or more, via union) CMS cell tables — count-min is
    * linear, so per-shard sketches merge by cell-wise addition into
    * exactly the sketch a monolithic pass would have built. The
    * fleet-scale contract: each shard ships d×w longs, never rows. */
  def cmsMerge(sketches: DataFrame*): DataFrame =
    sketches.reduce(_ unionAll _)
      .groupBy(col("j"), col("bucket"))
      .agg(sum(col("c")).as("c"))

  /** SUBTRACT a CMS cell table from another — the deletion leg the
    * other sketch family members structurally cannot offer (HLL
    * registers are max-stable, a KMV synopsis forgets evicted keys;
    * count-min is the family's only TURNSTILE sketch: cells are plain
    * sums, so retracting a sub-stream is cell-wise subtraction and
    * `build(A) − build(B) = build(A∖B)` exactly when B ⊆ A — the
    * linearity that makes retention deletes (GDPR retractions, TTL'd
    * events) an O(d·w) sketch-side operation instead of a corpus
    * rebuild). Cells that reach zero DROP from the table, so the
    * result is bit-identical to a fresh build over the surviving
    * stream, one-sided error guarantee included. Subtracting counts
    * never added (B ⊄ A) would go negative — failed loudly row-wise
    * rather than clamped, since a clamp would silently break the
    * est ≥ true contract. */
  def cmsSubtract(a: DataFrame, b: DataFrame): DataFrame = {
    // FULL-outer join: a cell present only in `b` means the retracted
    // stream touched a cell the built sketch never did — with a left
    // join that row would silently vanish and a non-subset retraction
    // whose extra keys hash only into untouched cells would pass.
    // Treating the missing `c` as 0 sends the cell negative, which
    // hits the raise below — the documented loud failure.
    val diff = a
      .join(b.withColumnRenamed("c", "c_del"), Seq("j", "bucket"),
        "full_outer")
      .select(col("j"), col("bucket"),
        (coalesce(col("c"), lit(0L)) -
          coalesce(col("c_del"), lit(0L))).as("c"))
    diff.select(col("j"), col("bucket"),
      when(col("c") >= 0, col("c")).otherwise(raise_error(concat(
        lit("cmsSubtract: cell ("), col("j").cast("string"), lit(","),
        col("bucket").cast("string"),
        lit(") went negative — the subtracted stream was not a subset "
          + "of the built one")))).as("c"))
      .filter(col("c") > 0)
  }

  /** Heavy-hitter estimates: candidate keys scored against a broadcast
    * count-min sketch, with the true count alongside so the one-sided
    * error (est ≥ true, inflated only by collisions) is visible.
    *
    * Scale shape: the sketch is d×w rows (broadcast); each candidate
    * expands to its d cells and min-reduces after a broadcast equi-join
    * — candidates stream through map-side, nothing shuffles but the
    * candidate aggregate itself. At 100 TB the candidate set comes from
    * a cheap prior (a per-shard top-N, a previous day's heavy list);
    * here it is the keys at/above `minCount` so the oracle can rebuild
    * it exactly.
    */
  def cmsHeavyHitters(df: DataFrame, key: Column, depth: Int = 3,
      width: Int = 256, minCount: Long = 100L): DataFrame =
    cmsScore(cmsBuild(df, key, depth, width),
      df.select(key.cast("string").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("true_c"))
        .filter(col("true_c") >= minCount),
      depth, width)

  /** Score `candidates` (`(k, true_c)`) against a built sketch:
    * min-of-d broadcast lookups, the read side of the CMS contract.
    * A candidate cell ABSENT from the sketch counts as zero (left join
    * + coalesce), matching a true count-min lookup — an external key
    * the build stream never saw estimates 0, it does not inflate to
    * the min of its populated cells or vanish from the output. */
  private[graft] def cmsScore(sketch: DataFrame, candidates: DataFrame,
      depth: Int, width: Int): DataFrame =
    candidates
      .select(col("k"), col("true_c"), explode(array((1 to depth).map(j =>
        struct(lit(j).as("j"),
          (h48(concat(lit(s"$j:"), col("k"))) % width).as("bucket"))): _*))
        .as("cell"))
      .select(col("k"), col("true_c"), col("cell.j").as("j"),
        col("cell.bucket").as("bucket"))
      .join(broadcast(sketch), Seq("j", "bucket"), "left")
      .groupBy(col("k"), col("true_c"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est_c"))

  /** Sharded CMS heavy hitters: one cell table per shard, merged
    * cell-wise (count-min is linear), then scored — bit-identical to
    * the monolithic [[cmsHeavyHitters]] and gated against the same
    * oracle to prove it. Shards come from GROUPING on the shard column
    * (the [[kmvDistinctSharded]] discipline), never an index-range
    * filter, so a shard expression with unexpected values (negative
    * remainders, gaps) cannot drop rows from the sketch while the
    * candidate `true_c` still counts them — the asymmetry that would
    * break the one-sided est ≥ true guarantee. */
  def cmsHeavyHittersSharded(df: DataFrame, key: Column, shard: Column,
      depth: Int = 3, width: Int = 256,
      minCount: Long = 100L): DataFrame = {
    val tagged = df.select(key.cast("string").as("k"), shard.as("sh"))
    val perShard = cmsCellsBy(tagged, Seq("sh"), depth, width)
    val merged = perShard.groupBy(col("j"), col("bucket"))
      .agg(sum(col("c")).as("c"))
    cmsScore(merged,
      tagged.groupBy(col("k")).agg(count(lit(1)).as("true_c"))
        .filter(col("true_c") >= minCount),
      depth, width)
  }
}
