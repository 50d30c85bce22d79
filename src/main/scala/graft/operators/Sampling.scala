package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic hash-based sampling and dataset splitting for
  * training-data pipelines.
  *
  * `rand()`-based sampling is nondeterministic under retries and
  * repartitioning (a re-executed task re-draws), which silently changes
  * a training set between runs. Hash-bucketing on a stable key is the
  * standard fix: the bucket is a pure function of the row key, so the
  * split is reproducible across runs, engines, and cluster layouts, and
  * a row never migrates between train/valid/test when the corpus grows.
  * Everything here is a narrow codegen'd projection — no shuffle.
  */
object Sampling {

  /** Hash bucket in [0, buckets): the first 3 hex digits of md5(key) as
    * an integer (uniform in [0, 4096)) mod `buckets`. md5-hex digits are
    * engine-portable — any system with md5 reproduces the exact split.
    * Uniform to 1/4096 granularity: when `buckets` does not divide 4096
    * the low (4096 mod buckets) buckets receive one extra 1/4096 slice
    * (for buckets=100: 41/4096 vs 40/4096 per bucket, ≤ 2.5% relative) —
    * deterministic, and reproduced exactly by the oracle formula.
    */
  def hashBucket(key: Column, buckets: Int): Column = {
    require(buckets > 0 && buckets <= 4096, "buckets must be in (0, 4096]")
    val h3 = substring(md5(key.cast("string").cast("binary")), 1, 3)
    conv(h3, 16, 10).cast("int") % buckets
  }

  /** Driver-side replica of [[hashBucket]] for LITERAL keys: md5 of the
    * key's UTF-8 bytes, first 3 hex digits mod `buckets` — byte-for-byte
    * the expression's derivation (Spark's `md5(cast(str as binary))`
    * hashes the UTF-8 encoding). Lets a serving query compute its
    * partition set at PLAN time (a static `isin` partition filter, which
    * prunes before any job runs — stronger than DPP, which prunes at
    * runtime from a join). PipelinePropertySpec pins the parity
    * expression-vs-local over arbitrary strings. */
  def hashBucketLocal(key: String, buckets: Int): Int = {
    require(buckets > 0 && buckets <= 4096, "buckets must be in (0, 4096]")
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex3 = digest.take(2).map(b => f"$b%02x").mkString.substring(0, 3)
    Integer.parseInt(hex3, 16) % buckets
  }

  /** Train/valid/test assignment from percentage cut points over a
    * 100-way hash bucket: [0, trainPct) → train, [trainPct, validPct)
    * → valid, rest → test. */
  def split(df: DataFrame, key: Column, trainPct: Int = 80,
      validPct: Int = 90): DataFrame = {
    val bucket = hashBucket(key, 100)
    df.withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < validPct, "valid")
          .otherwise("test"))
  }

  /** LEAKAGE-SAFE train/valid/test split: bucket by the document's
    * near-duplicate COMPONENT, not its id, so an entire duplicate
    * cluster lands in one split. Splitting by doc id silently leaks —
    * an exact or near copy of a training document in the eval split
    * inflates every metric (the classic train/test contamination the
    * dedup pass exists to prevent); hashing the component's canonical
    * id instead makes cross-split leakage impossible BY CONSTRUCTION
    * for any pair the candidate generator connects. `edges` is any
    * (id_a, id_b) near-dup pair set (LSH candidates, knn-join pairs);
    * components come from the same pointer-jumping canonicalization
    * the dedup chain uses, so split stability inherits its
    * determinism. Singleton documents hash by their own id — identical
    * to the plain [[split]] for unduplicated corpora.
    *
    * Scale shape: the component pass is the dedup chain's (small
    * derived keys, no all-pairs anywhere); the split itself is a
    * narrow projection. One extra doc-keyed join over [[split]]. */
  def leakageSafeSplit(corpus: DataFrame, edges: DataFrame,
      trainPct: Int = 80, validPct: Int = 90): DataFrame = {
    val comp = ConnectedComponents.canonicalize(corpus, edges)
      .select(col("doc_id"), col("component"))
    split(comp, col("component"), trainPct, validPct)
  }

  /** Deterministic p-percent sample: keep rows whose bucket < pct. */
  def sample(df: DataFrame, key: Column, pct: Int): DataFrame =
    df.filter(hashBucket(key, 100) < pct)

  /** Deterministic stratified sample: per-stratum keep-percentages (the
    * `sampleBy` shape, but reproducible). A row is kept when its hash
    * bucket falls below its stratum's rate — a single codegen'd CASE
    * over the bucket, no shuffle, no per-stratum pass. Up-/down-weights
    * strata for training-mix curation (e.g. keep 100% of a rare
    * language, 10% of web crawl). */
  def stratifiedSample(df: DataFrame, key: Column, stratum: Column,
      rates: Map[String, Int], defaultPct: Int): DataFrame = {
    val rate = rates.foldLeft(lit(defaultPct)) { case (acc, (k, pct)) =>
      when(stratum === k, pct).otherwise(acc)
    }
    df.filter(hashBucket(key, 100) < rate)
  }

  /** Concatenate-and-split sequence packing: assign each document a
    * training-sequence id and byte offset as if the corpus were
    * concatenated in (shard, doc_id) order and cut every `capacity`
    * tokens — the standard packing layout for pretraining (documents
    * stream into fixed-length sequences; a doc can straddle a cut).
    *
    * Scale shape: one window (cumulative token sum) partitioned by
    * `shard` and ordered by doc_id — sequences are packed per shard, so
    * parallelism = shard count and no global sort exists. For a single
    * giant shard, pre-split it (e.g. by hashBucket) or replace the
    * window with the two-pass distributed prefix sum (per-partition
    * subtotals broadcast back); the per-shard layout here is what
    * pipelines actually materialize. All-integer arithmetic —
    * deterministic across engines, retries, and partitionings.
    */
  def packSequences(documents: DataFrame, shard: Column, nTokens: Column,
      capacity: Int): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(shard).orderBy(col("doc_id"))
    val cumEnd = sum(nTokens).over(w)
    documents
      .withColumn("n_tokens", nTokens.cast("long"))
      .withColumn("cum_end", cumEnd.cast("long"))
      .select(col("doc_id"), shard.as("shard"), col("n_tokens"),
        // `div`, not `/`: the Column `/` is double division, which loses
        // exactness once a shard's cumulative token count passes 2^53.
        expr(s"(cum_end - n_tokens) div $capacity").as("seq_id"),
        ((col("cum_end") - col("n_tokens")) % capacity).cast("long")
          .as("seq_offset"))
  }

  /** Capped round-robin source interleave — the training-mix schedule:
    * each source contributes its first `cap` documents in md5(text)
    * order, and documents are interleaved rank-by-rank across sources
    * (rank-1 docs of every source, then rank-2, ...), so no single
    * crawl dominates any window of the training stream.
    *
    * The global position is computed ARITHMETICALLY, not with a global
    * row_number (which would force every row through one partition):
    * the doc at in-source rank r of source s is preceded by
    * Σ_t min(n_t, r-1) docs of lower rank plus the rank-r docs of
    * sources ordered before s. The per-source capped counts are a tiny
    * aggregate joined back via broadcast, so the whole schedule is two
    * narrow shuffles (the per-source rank window, the count agg) at any
    * corpus size. The in-source rank window partitions by source —
    * for few-and-huge sources, pre-bucket each source by hash and rank
    * bucket-locally with the same offset trick one level down.
    */
  def interleaveSources(documents: DataFrame, cap: Int): DataFrame = {
    require(cap > 0, "cap must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(md5(col("text").cast("binary")), col("doc_id"))
    val ranked = documents
      .withColumn("r", row_number().over(w).cast("long"))
      .filter(col("r") <= cap)
      .select(col("doc_id"), col("source"), col("r"))
    val counts = ranked.groupBy(col("source").as("t"))
      .agg(count(lit(1)).as("n_t"))
    // Tiny-side broadcast nested-loop join: every ranked row sees every
    // source's capped count (|sources| rows), then one aggregation
    // folds them into the position. Deliberate and bounded — the
    // broadcast side is the source dimension, never the corpus.
    ranked.join(broadcast(counts))
      .groupBy(col("doc_id"), col("source"), col("r"))
      .agg(sum(
        least(col("n_t"), col("r") - 1) +
          when(col("t") < col("source") && col("n_t") >= col("r"), 1L)
            .otherwise(0L)).as("mix_pos"))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Consistent-hash shard assignment with virtual nodes — how a
    * 100 TB corpus maps onto N storage/serving shards so that adding a
    * shard relocates only ~1/(N+1) of the keys (and every relocated key
    * moves TO the new shard, never between old ones).
    *
    * Scale shape: the ring is CONFIG, not data — its `nShards`×`vnodes`
    * md5 positions are computed driver-side and embedded as an array
    * literal, so assignment is a pure codegen'd projection (higher-order
    * `filter` + first-element pick per row): no join, no shuffle, no
    * broadcast. Keys hash with the same md5 the ring uses; hex compare
    * is lexicographic in both engines. */
  def consistentShard(df: DataFrame, key: Column, nShards: Int,
      vnodes: Int = 16): DataFrame = {
    require(nShards > 0 && vnodes > 0, "nShards and vnodes must be positive")
    val ring = (for { s <- 0 until nShards; v <- 0 until vnodes }
      yield (md5Hex(s"shard-$s:vn-$v"), s)).sortBy(_._1)
    val ringArr = array(ring.map { case (pos, s) =>
      struct(lit(pos).as("pos"), lit(s).as("shard"))
    }: _*)
    df.withColumn("key_hash", md5(key.cast("string").cast("binary")))
      .withColumn("__ring", ringArr)
      .withColumn("shard", coalesce(
        // try_element_at: the filter result is EMPTY for keys hashing
        // past the last ring position (the wrap-around case); ANSI
        // element_at would throw there
        expr("try_element_at(filter(__ring, r -> r.pos >= key_hash), 1)")
          .getField("shard"),
        element_at(col("__ring"), 1).getField("shard")))
      .drop("__ring")
  }

  /** The ring positions (pos, shard) for tests/oracles — same values
    * the operator embeds. */
  def ringPositions(nShards: Int, vnodes: Int = 16): Seq[(String, Int)] =
    (for { s <- 0 until nShards; v <- 0 until vnodes }
      yield (md5Hex(s"shard-$s:vn-$v"), s)).sortBy(_._1)

  /** Greedy per-source token-budget cut — the materialization step of
    * a mixture recipe expressed in TOKENS (the unit training budgets
    * are written in), not documents: within each source, documents
    * accumulate in ascending-id order (deterministic, matches
    * ingestion order in this corpus) and the source's stream cuts
    * where the running token total would exceed `budget`. A document
    * is kept iff its cumulative total fits — the next-fit rule, same
    * window shape as the compaction planner. Output keeps the running
    * total so the consumer can see how full each source's budget ran.
    *
    * Scale shape: one window cumsum per source key + a map-side
    * filter; nothing else shuffles. At 100 TB the ordered window
    * within a giant source is the bottleneck — shard the budget first
    * (budget/n_shards per hash shard) for a parallel approximation, or
    * pre-aggregate per-file token counts and cut at file granularity
    * (the compaction planner's trick). */
  def tokenBudget(documents: DataFrame, source: Column, id: Column,
      nTokens: Column, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    documents
      .select(source.as("source"), id.as("doc_id"),
        nTokens.cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** Curriculum ordering — the quality-first training schedule: rank
    * each source's documents into quality deciles (best decile first),
    * then order within the schedule by decile, length, id. Two windows
    * per source shard (decile assignment, then the schedule rank);
    * parallelism = source count, state = one source's rows per
    * partition — the same shard-window shape as the length filter. The
    * quality score is the fixed IEEE chain of TextAnalysis.stats, so
    * decile boundaries are engine- and partitioning-stable (ties break
    * on doc_id).
    */
  def curriculumOrder(documents: DataFrame, deciles: Int = 10): DataFrame = {
    val wDecile = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("decile"), col("n_chars"), col("doc_id"))
    documents.select(col("doc_id"), col("source"), col("n_chars"))
      .join(TextAnalysis.stats(documents)
        .select(col("doc_id"), col("quality_score")), "doc_id")
      .withColumn("decile", ntile(deciles).over(wDecile).cast("long"))
      .withColumn("curriculum_rank", row_number().over(wRank).cast("long"))
      .select(col("doc_id"), col("source"), col("decile"),
        col("curriculum_rank"))
  }

  /** Deterministic per-epoch training-order shuffle: every epoch
    * re-permutes the corpus by md5(epoch ":" key), sharded so the sort
    * is SHARD-LOCAL — the (epoch, shard, pos) triple is the exact read
    * schedule a data loader replays, and a different epoch yields a
    * genuinely different order from the same pure function (no rand(),
    * so retries/re-runs reproduce the identical schedule).
    *
    * Scale shape: the epoch explode multiplies rows by `epochs`
    * (bounded, typically ≤4); the only wide op is a row_number window
    * partitioned by (epoch, shard) — parallelism = epochs × shards,
    * never a global sort. Shards map 1:1 onto output files, so the
    * loader reads each (epoch, shard) file sequentially. */
  def epochShuffle(df: DataFrame, key: Column, epochs: Int,
      shards: Int): DataFrame = {
    require(epochs >= 1 && epochs <= 16, s"epochs in [1,16], got $epochs")
    require(shards >= 1 && shards <= 4096,
      s"shards in [1,4096], got $shards")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("epoch"), col("shard")).orderBy(col("h"), key)
    df.withColumn("epoch",
        explode(array((0 until epochs).map(lit(_)): _*)))
      .withColumn("h", md5(concat(col("epoch").cast("string"), lit(":"),
        key.cast("string")).cast("binary")))
      .withColumn("shard",
        (conv(substring(col("h"), 1, 3), 16, 10).cast("int") % shards))
      .withColumn("pos", row_number().over(w))
      .drop("h")
  }

  /** Materialize [[mixtureWeights]] into the actual resampled training
    * corpus: each document replicates floor(epochs) times, plus one
    * extra copy when its 4096-way hash bucket falls below the
    * fractional part — deterministic Bernoulli thinning with NO
    * rand(), so retries, re-runs, and engines all produce the
    * identical sample, and per-source totals land within 1/4096 of
    * epochs × n_docs. Sources whose epochs round to zero copies drop
    * their unlucky documents (that IS the subsample).
    *
    * Scale shape: the per-source weights are a tiny aggregate joined
    * back broadcast on `source`; replication is a generator (explode
    * of 1..copies) — the only wide op is the weight aggregate itself.
    * Output (doc_id, source, copy) is what a loader shards next (see
    * [[epochShuffle]]). */
  def materializeMixture(documents: DataFrame, budgetTokens: Double,
      maxEpochs: Double = 4.0): DataFrame = {
    val w = mixtureWeights(documents, budgetTokens, maxEpochs)
      .select(col("source"), col("epochs"))
    documents.select(col("doc_id"), col("source"))
      .join(broadcast(w), "source")
      .withColumn("n_full", floor(col("epochs")).cast("long"))
      .withColumn("extra",
        when(hashBucket(col("doc_id"), 4096).cast("double") <
          (col("epochs") - floor(col("epochs"))) * 4096.0, 1L)
          .otherwise(0L))
      .withColumn("copies", (col("n_full") + col("extra")).cast("int"))
      .filter(col("copies") >= 1)
      .select(col("doc_id"), col("source"),
        explode(expr("sequence(1, copies)")).as("copy"))
  }

  /** Temperature-scaled source sampling weights — the multilingual
    * pre-training standard (sampling exponent α < 1 upweights
    * low-resource sources relative to their raw token share; α = 1 is
    * proportional sampling, α = 0 uniform): p_i ∝ tokens_i^α,
    * normalized over sources. Emits both the raw and temperature
    * shares plus the boost factor (temp/raw) a mixture scheduler
    * multiplies into per-source rates.
    *
    * Determinism: `pow` terms are quantized to fixed-point micro-units
    * via `floor(x·10⁶ + 0.5)` (the version-proof pattern — floor on a
    * double is exact IEEE everywhere, no round()/decimal half-way
    * semantics), the normalizer is their plain BIGINT sum, and every
    * emitted ratio is a raw IEEE division of deterministic inputs —
    * never rounded. Cross-libm margin, measured over the gated corpus
    * (every source at sf0.001/0.01/0.1, α = 0.3): the closest
    * `pow(tokens, α)·10⁶ + 0.5` term sits 3.1×10⁻³ from an integer
    * boundary, vs ulp(x) ≈ 4×10⁻⁹ — a 1-ulp Spark/DuckDB `pow`
    * divergence is six orders of magnitude short of flipping a
    * `term_micro`. Scale shape: one source-keyed counting aggregate
    * (map-side combined) + a one-row broadcast normalizer; output
    * cardinality is the source count. */
  def temperatureMixture(documents: DataFrame,
      alpha: Double = 0.3): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha in [0,1], got $alpha")
    val perSrc = documents
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(org.apache.spark.sql.functions.split(col("text"), " "))
          .cast("long")).as("tokens"))
      .withColumn("term_micro",
        floor(pow(col("tokens").cast("double"), lit(alpha)) * lit(1000000.0d)
          + lit(0.5d)))
    val tot = perSrc.agg(sum(col("term_micro")).as("z_micro"),
      sum(col("tokens")).as("tot_tokens"),
      count(lit(1)).as("n_sources"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("tokens"), col("term_micro"),
        (col("tokens").cast("double") / col("tot_tokens").cast("double"))
          .as("raw_share"),
        (col("term_micro").cast("double") / col("z_micro").cast("double"))
          .as("temp_share"),
        ((col("term_micro").cast("double") / col("z_micro").cast("double")) /
          (col("tokens").cast("double") / col("tot_tokens").cast("double")))
          .as("boost"))
  }

  /** Training-mixture schedule: per source, how many epochs of it a run
    * with `budgetTokens` total and an equal per-source target share can
    * afford, capped at `maxEpochs` (the standard guard against
    * over-repeating small high-quality sources). Emits each source's
    * document/token mass, its epoch multiplier, and the tokens it
    * contributes to the mix.
    *
    * Scale shape: one aggregation keyed by source, a 1-row source-count
    * aggregate broadcast back (no collect), and a pure projection — the
    * whole schedule is computed without ever touching a document twice.
    * All outputs are fixed IEEE chains over exact integer aggregates, so
    * any partial-aggregation order reproduces the same bits. */
  def mixtureWeights(documents: DataFrame, budgetTokens: Double,
      maxEpochs: Double = 4.0): DataFrame = {
    val perSrc = documents
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        // NB: functions.split is shadowed by Sampling.split (hash split)
        sum(size(org.apache.spark.sql.functions.split(col("text"), " "))
          .cast("long")).as("tokens"))
    val nSrc = perSrc.agg(count(lit(1)).as("n_sources"))
    perSrc.crossJoin(broadcast(nSrc))
      .select(col("source"), col("n_docs"), col("tokens"),
        least(lit(maxEpochs),
          lit(budgetTokens) /
            (col("n_sources").cast("double") * col("tokens").cast("double")))
          .as("epochs"),
        (least(lit(maxEpochs),
          lit(budgetTokens) /
            (col("n_sources").cast("double") * col("tokens").cast("double"))) *
          col("tokens").cast("double")).as("sampled_tokens"))
  }

  /** Deterministic weighted sampling WITHOUT replacement, k per group —
    * Efraimidis–Spirakis exponential-jump keys (IPL 2006): each row
    * draws a uniform u ∈ (0,1) and exposes the key −ln(u)/w; the k
    * smallest keys per group are exactly a weight-proportional sample
    * without replacement. The uniform comes from the row key's md5
    * prefix ((h + 0.5)/2³², never exactly 0 or 1), so the "draw" — and
    * therefore the whole sample — is reproducible across engines, runs,
    * and partitionings, the property a training-mix curation step needs
    * for audit replay.
    *
    * Scale shape: the key is a per-row projection (no shuffle); the
    * per-group top-k is a ranking window whose pushed WindowGroupLimit
    * keeps bounded per-partition heaps — the same plan family as every
    * other top-k in the library. Keys round to 9 dp before ranking
    * (magnitudes ~1e-4..1e-1 for realistic weights) with the row key as
    * the final tie-break, so ulp-level libm differences in ln cannot
    * reorder the sample. */
  def weightedReservoir(df: DataFrame, group: Column, key: Column,
      weight: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(key.cast("string").cast("binary")), 1, 8),
      16, 10).cast("long")
    val u = (h.cast("double") + 0.5) / lit(4294967296.0)
    val esKey = round(-log(u) / weight.cast("double"), 9)
    val w = Window.partitionBy(group).orderBy(col("es_key").asc, key.asc)
    df.withColumn("es_key", esKey)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Deterministic negative sampling for contrastive training: `kNeg`
    * pseudo-random negatives per anchor, drawn WITHOUT any global
    * index or shuffle of the corpus. The corpus collapses to a
    * `buckets`-row representative table (min id per [[hashBucket]]
    * bucket — one aggregation, broadcastable at any corpus size);
    * each (anchor, j) then hashes to a target bucket and takes its
    * representative. Every draw is md5-determined, so the sample is
    * reproducible across engines, retries, and partitionings — the
    * property in-batch random negatives never have.
    *
    * Bias note: a bucket's representative stands in for ~n/buckets
    * candidates, so the draw is uniform over REPRESENTATIVES, not
    * documents — acceptable for negatives (they only need to be
    * unrelated and well-spread); raise `buckets` toward the corpus
    * size to tighten. Draws index the OCCUPIED buckets (densely ranked
    * by bucket id, draw = 12-bit hash mod the occupied count), so a
    * draw can never land on an empty bucket and silently vanish — the
    * ONLY draw loss is the self-collision drop (anchor drawing its own
    * representative = itself, dropped not re-drawn): per-anchor count
    * = kNeg − ~kNeg/n_occupied in expectation, i.e. kNeg or kNeg−1 for
    * any corpus meaningfully larger than `buckets`, degrading
    * gracefully (never to silence) on toy corpora with a handful of
    * representatives. Deterministic — PipelinePropertySpec replays the
    * whole derivation locally and pins set equality. The rank window
    * is global but runs over ≤ `buckets` rows — driver-bounded state,
    * same class as the scalar-aggregate broadcasts.
    */
  def negativeSample(docs: DataFrame, id: Column, kNeg: Int = 4,
      buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(kNeg >= 1 && kNeg <= 64, s"kNeg out of range: $kNeg")
    val keyed = docs.select(id.as("doc_id"))
    val reps = keyed
      .select(col("doc_id"),
        hashBucket(col("doc_id").cast("string"), buckets).as("bucket"))
      .groupBy(col("bucket")).agg(min(col("doc_id")).as("neg_id"))
      .withColumn("slot",
        row_number().over(Window.orderBy(col("bucket"))) - 1)
    val nOcc = reps.agg(count(lit(1)).cast("int").as("n_occ"))
    keyed
      .select(col("doc_id"),
        explode(array((1 to kNeg).map(lit(_)): _*)).as("j"))
      .crossJoin(broadcast(nOcc))
      .withColumn("slot",
        conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
          col("j").cast("string")).cast("binary")), 1, 3), 16, 10)
          .cast("int") % col("n_occ"))
      .join(broadcast(reps.select(col("slot"), col("neg_id"))), Seq("slot"))
      .filter(col("neg_id") =!= col("doc_id"))
      .select(col("doc_id"), col("j"), col("neg_id"))
  }
}
