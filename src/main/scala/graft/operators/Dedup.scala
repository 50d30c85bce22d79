package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators for large-scale training-data
  * pipelines: exact (hash group-by), MinHash+LSH (shingle → signature →
  * banded buckets → candidate join), n-gram Jaccard verification, and
  * SimHash fingerprinting.
  *
  * Scale design: every stage is a shuffle on a *small* derived key
  * (text hash, band bucket, shingle) — never a cross join. The LSH
  * candidate join is an equi-join on bucket, so at 100 TB it hash-
  * partitions by bucket and only near-duplicate groups co-locate. Exact
  * Jaccard runs only on LSH survivors.
  */
object Dedup {

  /** Test-corpus augmentation: injects exact duplicates (doc_id+100000,
    * every 10th doc) and near-duplicates with three appended tokens
    * (doc_id+200000, every 10th from 5), so dedup queries have known
    * positives to find. Mirrored by the `corpus` CTE in the oracle SQL.
    */
  def augmentCorpus(documents: DataFrame): DataFrame = {
    // NB: measured at sf0.1, repartitioning this (small) corpus before
    // the shingle explode made the chain slower — task/shuffle overhead
    // outweighs parallelism below ~10^5 source rows. At real corpus
    // scale the source arrives as many splittable files.
    val base = documents.select(col("doc_id"), col("text"))
    base
      .unionByName(base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      .unionByName(base.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zq extra token")).as("text")))
  }

  /** Per-document duplication mass — the substring-dedup decision
    * metric of Lee et al. 2022 (arXiv:2107.06499, "Deduplicating
    * Training Data Makes Language Models Better") approximated at
    * n-gram granularity: for each document, the fraction of its
    * distinct word n-grams that also occur in at least one OTHER
    * document. Exact-duplicate docs score 1.0; mostly-original docs
    * score near 0; a pipeline drops or trims above a threshold.
    *
    * Scale shape: documents explode to (doc, gram_md5) once
    * ([[TextAnalysis.ngramHashes]]); the cross-corpus frequency is a
    * gram-keyed aggregate with map-side combine, and the per-doc rollup
    * re-joins on the same fixed-width hash key — two high-cardinality
    * keyed shuffles, linear in total gram count, never doc×doc. The
    * dup fraction is one raw IEEE int-ratio division (bit-identical
    * across engines; rounding could land half-way). */
  def duplicationMass(corpus: DataFrame, n: Int = 5): DataFrame = {
    val grams = TextAnalysis.ngramHashes(corpus, n)
    // df counts DOCUMENTS per gram (grams are distinct per doc), so
    // df >= 2 means "appears outside this document".
    val df = grams.groupBy(col("gram_hash")).agg(count(lit(1)).as("df"))
    grams.join(df, "gram_hash")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_grams").cast("double"))
          .as("dup_frac"))
  }

  /** SEGMENT-level corpus dedup — the REWRITE transform (C4's
    * "discard duplicated spans" cleanup, Raffel et al. 2020, arXiv:
    * 1910.10683 §2.2, adapted to fixed word windows): each document
    * splits into consecutive `segWords`-word segments, any segment
    * occurring in `minDf`-or-more DISTINCT documents is dropped
    * corpus-wide, and each document reassembles from its surviving
    * segments in original order. Unlike [[duplicationMass]] (which
    * MEASURES per-doc duplication), this emits the cleaned corpus a
    * training pipeline actually feeds downstream, plus the per-doc
    * audit counts.
    *
    * Scale shape: docs explode to (doc, j, segment) once — linear in
    * corpus bytes; the corpus frequency is an aggregate KEYED ON THE
    * 64-BIT xxhash OF THE SEGMENT, not the segment string — the
    * distinct-doc count and the df join back both shuffle 8-byte
    * longs (with map-side combine), and the segment text itself never
    * enters a shuffle key: it rides only the doc-side rows that carry
    * it to reassembly anyway. At 100 TB that is the difference
    * between shuffling the corpus ~2× as strings and shuffling ids.
    * A 64-bit collision is DETECTED, not tolerated: alongside the
    * doc-frequency the aggregate carries min/max of an independent
    * WITNESS hash (xxhash64 over (seg, salt)); two different segments
    * colliding on segk disagree on the witness with probability
    * 1 − 2⁻⁶⁴, and the df column then evaluates `raise_error` instead
    * of a count — the job fails loudly naming the colliding key
    * rather than silently merging two segments' frequencies (at
    * ~10¹⁰ distinct segments the birthday bound makes a 64-bit
    * collision plausible, and a merge could drop a unique segment
    * corpus-wide). The witness rides the same 8-byte-key shuffle —
    * two extra longs per partial row, no text in any shuffle key.
    * The reassembly is one doc-keyed aggregate
    * whose collect is bounded by the DOCUMENT's own segment count,
    * never the corpus. Three keyed shuffles, no pair join anywhere.
    * The collect_list's partition-order nondeterminism is sorted away
    * on the (unique per-doc) segment index before the join back to
    * text. */
  def segmentDedup(corpus: DataFrame, segWords: Int = 10,
      minDf: Long = 2, wideKey: Boolean = false): DataFrame =
    if (wideKey)
      // The remediation the collision raise prescribes: pair the hash
      // with length(seg) in a struct key — a collision now needs the
      // 64-bit hashes AND the segment lengths to agree, pushing the
      // birthday bound far past any corpus. 12 bytes per shuffle key
      // instead of 8; semantics identical (spec-pinned equal to the
      // narrow key on the gated corpus).
      segmentDedupKeyed(corpus, segWords, minDf,
        seg => struct(xxhash64(seg).as("h"), length(seg).as("len")))
    else
      segmentDedupKeyed(corpus, segWords, minDf, xxhash64(_))

  /** [[segmentDedup]] with the 64-bit segment key INJECTABLE — the
    * production path always keys on xxhash64; the hook exists so the
    * collision-guard raise path is testable (a real xxhash64 collision
    * cannot be constructed, a degenerate key can). */
  private[graft] def segmentDedupKeyed(corpus: DataFrame, segWords: Int,
      minDf: Long, keyOf: Column => Column): DataFrame = {
    val segs = corpus
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"),
        explode(expr(s"sequence(0, cast((size(w) - 1) / $segWords as int))"))
          .as("j"))
      .select(col("doc_id"), col("j"),
        concat_ws(" ", slice(col("w"), col("j") * segWords + 1,
          lit(segWords))).as("seg"))
      .withColumn("segk", keyOf(col("seg")))
      // Witness hash with the salt FIRST. Spark's multi-arg xxhash64
      // folds children left-to-right with the running hash as seed, so
      // xxhash64(seg, salt) would be XXH64(salt, seed = XXH64(seg, 42))
      // — a deterministic function of segk: two segments colliding on
      // segk would ALWAYS share a witness and the guard below could
      // never fire. Salt-first re-seeds instead:
      // segw = XXH64(seg, seed = XXH64(salt, 42)), a differently-seeded
      // direct hash of the segment, independent of segk's seed-42 hash
      // (pinned algebraically in TrainingOpsSpec).
      .withColumn("segw", xxhash64(lit(0x9e3779b97f4a7c15L), col("seg")))
    val segDf = segs.groupBy(col("segk"))
      .agg(countDistinct(col("doc_id")).as("_df"),
        min(col("segw")).as("_wlo"), max(col("segw")).as("_whi"))
      // The guard is folded INTO df (not a side column) so column
      // pruning can never drop it: every consumer of df evaluates it.
      .select(col("segk"),
        when(col("_wlo") =!= col("_whi"), raise_error(concat(
          lit("segmentDedup: 64-bit segment-key collision on segk="),
          col("segk").cast("string"),
          lit(" — two distinct segments share a key; their merged " +
            "doc-frequency could drop a unique segment corpus-wide. " +
            "Rerun with segmentDedup(..., wideKey = true) to pair " +
            "the hash with length(seg)."))))
          .otherwise(col("_df")).as("df"))
    segs.join(segDf, Seq("segk"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_seg"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(when(col("df") < minDf,
              struct(col("j"), col("seg"))))),
            p => p.getField("seg")), " ").as("text_clean"))
      .select(col("doc_id"), col("n_seg"), col("n_dropped"),
        col("text_clean"))
  }

  /** Exact dedup: group on full text, keep the minimum doc_id. */
  def exactDuplicates(corpus: DataFrame): DataFrame =
    corpus.groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"),
        md5(col("text").cast("binary")).as("text_hash"))

  /** Distinct word 3-shingles per document (1-based element_at to match
    * the oracle's 1-based list indexing). */
  def shingles(corpus: DataFrame): DataFrame =
    corpus
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(expr("sequence(1, size(w) - 2)")).as("i"), col("w"))
      .select(col("doc_id"),
        concat_ws(" ", element_at(col("w"), col("i")),
          element_at(col("w"), col("i") + 1),
          element_at(col("w"), col("i") + 2)).as("shingle"))
      .distinct()

  /** Oracle-gated default signature width: 6 hashes = 3 bands × 2 rows.
    * Production corpora want 64-128 hashes — pass `numHashes` /
    * `bands` / `rowsPerBand` explicitly to tune the S-curve
    * P(candidate) = 1 − (1 − J^r)^b (see DedupScurveSpec). */
  val NumHashes = 6
  val DefaultBands = 3
  val DefaultRowsPerBand = 2

  /** MinHash signature: h_k = min over shingles of md5(k ':' shingle).
    * md5-hex min is a uniform order statistic — good enough for LSH and
    * exactly reproducible in any engine with md5.
    */
  def minhashSignatures(sh: DataFrame,
      numHashes: Int = NumHashes): DataFrame = {
    require(numHashes >= 1 && numHashes <= 256,
      s"numHashes in [1,256], got $numHashes")
    val aggs = (1 to numHashes).map(k =>
      min(md5(concat(lit(s"$k:"), col("shingle")).cast("binary")))
        .as(s"h$k"))
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-row (shuffle-free) MinHash signatures: the same h_k =
    * min md5(k ':' shingle) as [[minhashSignatures]], but computed in
    * ONE pass per document by the codegen'd
    * [[graft.functions.MinHashSigs]] expression instead of exploding
    * to (doc, shingle) rows and aggregating. Identical output by
    * construction (min over duplicates = min over distinct; the
    * expression nulls out <3-word docs exactly like the shingle
    * filter).
    *
    * This form earns its keep where an aggregation is structurally
    * unavailable — it is the signature step of
    * [[graft.streaming.StreamingDedup]] (a streaming frame cannot run
    * an intermediate groupBy before the stateful operator). History:
    * the first fused formulation stacked `numHashes` interpreted
    * `array_min(transform(...))` projections and measured 2.0 s vs the
    * aggregate path's 1.3 s at sf0.1/6 hashes — the expression closes
    * that interpreter penalty (see DedupSpec timing note), and at the
    * production 64-hash width it replaces 64 interpreted array
    * traversals per row with one fused loop. */
  def minhashSignaturesFused(corpus: DataFrame,
      numHashes: Int = NumHashes): DataFrame = {
    require(numHashes >= 1 && numHashes <= 256,
      s"numHashes in [1,256], got $numHashes")
    corpus
      .withColumn("sig",
        graft.functions.functions.minhash_sigs(col("text"), numHashes))
      .filter(col("sig").isNotNull)
      .select(col("doc_id") +:
        (1 to numHashes).map(k => element_at(col("sig"), k).as(s"h$k")): _*)
  }

  /** One-digest MinHash signatures (v2 family): same `doc_id, h1..hK`
    * shape as [[minhashSignaturesFused]] but via
    * [[graft.functions.MinHashSigsV2]] — ONE md5 per shingle, k-th
    * signature = unsigned min of `h1 + k·h2` over shingles in 64-bit
    * wraparound (Kirsch–Mitzenmacher double hashing). ~numHashes×
    * cheaper digest work than the v1 `md5('k:'||shingle)` family;
    * its own DuckDB oracle (hex-parse + HUGEINT mod 2⁶⁴). Columns are
    * BIGINT (signed reinterpretation), so banding over them must use a
    * separator — see `lshCandidatePairs(sep = "|")`. */
  def minhashSignaturesV2(corpus: DataFrame,
      numHashes: Int = NumHashes): DataFrame = {
    require(numHashes >= 1 && numHashes <= 256,
      s"numHashes in [1,256], got $numHashes")
    corpus
      .withColumn("sig",
        graft.functions.functions.minhash_sigs_v2(col("text"), numHashes))
      .filter(col("sig").isNotNull)
      .select(col("doc_id") +:
        (1 to numHashes).map(k => element_at(col("sig"), k).as(s"h$k")): _*)
  }

  /** Band-bucket id per (band, doc): band i concatenates signature rows
    * h_{(i−1)r+1} … h_{ir}. Shared by the self-, incremental, and
    * streaming LSH. `sep` must be non-empty for variable-width row
    * renderings (v2's decimal BIGINTs — "12"+"34" and "123"+"4" would
    * otherwise collide); the v1 32-char md5 hex is fixed-width and
    * keeps the historical "" (oracle contract). */
  private[graft] def bandBuckets(bands: Int, rowsPerBand: Int,
      sep: String = ""): Column = {
    require(bands >= 1 && rowsPerBand >= 1,
      s"bands/rowsPerBand must be >= 1, got $bands/$rowsPerBand")
    explode(array((1 to bands).map { b =>
      val rows = ((b - 1) * rowsPerBand + 1 to b * rowsPerBand)
        .map(k => col(s"h$k").cast("string"))
      concat_ws(sep, lit(s"b$b:") +: rows: _*)
    }: _*))
  }

  /** LSH banding (default 3 bands of 2 hashes); docs sharing any band
    * bucket are candidate pairs. `bands × rowsPerBand` must not exceed
    * the signature width `minhashSignatures` produced. Pass
    * `sep = "|"` for [[minhashSignaturesV2]]'s BIGINT signatures
    * (variable-width rendering — see [[bandBuckets]]). */
  def lshCandidatePairs(sigs: DataFrame, bands: Int = DefaultBands,
      rowsPerBand: Int = DefaultRowsPerBand, sep: String = ""): DataFrame = {
    // The band buckets are generated by ONE explode over a bands-element
    // array — a union of projections would re-evaluate the whole
    // shingle→minhash chain per branch. Persisting `sigs` instead was
    // measured SLOWER (caching forces full-column materialization and
    // defeats pruning) — explode keeps the plan pure.
    val buckets = sigs.select(col("doc_id"),
      bandBuckets(bands, rowsPerBand, sep).as("bucket"))
    // Pairs come from ONE groupBy-bucket + in-bucket pair expansion, not
    // a bucket self-join: the join would evaluate (and shuffle) the
    // whole upstream chain twice. Output cardinality is identical —
    // every unordered pair within a bucket — and the per-bucket member
    // list is only 8 bytes/doc, so even a degenerate million-doc bucket
    // holds in a task (the quadratic pair *stream* exists in either
    // formulation; the explode generates it lazily row by row).
    buckets
      .groupBy(col("bucket"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(ids, (a, i) ->
          |  transform(slice(ids, i + 2, size(ids)), b ->
          |    struct(a AS id_a, b AS id_b))))""".stripMargin)).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  /** Skew-hardened [[lshCandidatePairs]]: identical output, but no agg
    * buffer ever holds more than ~`maxBucket` member ids. The plain
    * expansion keeps a whole bucket's member list in one `collect_set`
    * buffer — 8 bytes/doc is fine until a degenerate corpus (template
    * families, boilerplate floods) concentrates millions of docs into
    * one band bucket and that single buffer becomes task-sized. Guard:
    *
    *  1. A window count sizes every bucket in the SAME shuffle the
    *     expansion groups on (hash-partitioned by bucket; the groupBys
    *     and the join below all reuse that partitioning — no extra
    *     exchange).
    *  2. Buckets ≤ `maxBucket` take the unchanged in-bucket expansion.
    *  3. Oversized buckets split into `ceil(size/maxBucket)` salt
    *     sub-groups by `xxhash64(doc_id)` (deterministic — retries and
    *     both join sides agree). Within-sub-group pairs use the same
    *     expansion with a ~`maxBucket`-bounded buffer; across-sub-group
    *     pairs come from a bucket equi-join on `salt_a < salt_b`, whose
    *     per-key buffering is Spark's SPILLABLE join row array — the
    *     quadratic pair set still streams, it just never sits in one
    *     in-memory array. NB the `~maxBucket` sub-group bound is
    *     probabilistic (multinomial balance of the hash salt): an
    *     adversarial doc_id set can still concentrate one salt group.
    *     If a HARD cap is ever required, salt by
    *     `pmod(row_number() over (partition by bucket order by doc_id),
    *     n_salts)` in the same window that computes `bsize` — exact
    *     equal-sized groups for one extra in-bucket sort.
    *
    * Every unordered in-bucket pair appears exactly once per bucket
    * (same-salt via 2, cross-salt via 3), so after `.distinct()` the
    * result equals [[lshCandidatePairs]] bit-for-bit (equality is
    * driver-gated: `dedup_lsh_skew_guarded` runs with `maxBucket = 2`
    * against the UNguarded oracle SQL). Default `maxBucket` keeps the
    * guard dormant below ~1M-doc buckets — at 8 B/id that is the point
    * where a single buffer starts to matter in a few-hundred-MiB task. */
  def lshCandidatePairsSkewGuarded(sigs: DataFrame,
      bands: Int = DefaultBands, rowsPerBand: Int = DefaultRowsPerBand,
      maxBucket: Int = 1 << 20, sep: String = ""): DataFrame =
    saltedBucketPairs(
      sigs.select(col("doc_id"),
        bandBuckets(bands, rowsPerBand, sep).as("bucket")),
      maxBucket)

  /** The skew-guarded in-bucket pair expansion, factored over ANY
    * (doc_id, bucket) blocking — LSH band buckets, embedding cluster
    * labels ([[Similarity.cosineDupPairsGuarded]]), or any other
    * blocking key. Buckets up to `maxBucket` expand through a bounded
    * collect_set buffer; oversized buckets split into
    * ceil(bsize/maxBucket) hash salts, with within-salt expansion plus
    * a salt-ordered self-join for cross-salt pairs — the complete pair
    * set, spread over salt² tasks instead of one. Output is the
    * DISTINCT (id_a < id_b) pair set, bit-identical to the unguarded
    * expansion at any maxBucket. */
  private[graft] def saltedBucketPairs(bucketed: DataFrame,
      maxBucket: Int): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val pairExpand =
      """flatten(transform(ids, (a, i) ->
        |  transform(slice(ids, i + 2, size(ids)), b ->
        |    struct(a AS id_a, b AS id_b))))""".stripMargin
    def expand(grouped: org.apache.spark.sql.RelationalGroupedDataset) =
      grouped
        .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) > 1)
        .select(explode(expr(pairExpand)).as("p"))
        .select(col("p.id_a"), col("p.id_b"))
    val sized = bucketed
      .withColumn("bsize", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("bucket"))))
    val normalPairs = expand(
      sized.filter(col("bsize") <= maxBucket).groupBy(col("bucket")))
    // Integer ceil-divide (no double round-trip): n_salts >= 2 here.
    val big = sized.filter(col("bsize") > maxBucket)
      .withColumn("salt",
        pmod(xxhash64(col("doc_id")),
          expr(s"(bsize + ${maxBucket - 1}) div $maxBucket")))
    val withinPairs = expand(big.groupBy(col("bucket"), col("salt")))
    val crossPairs = big.as("a")
      .join(big.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.salt") < col("b.salt"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
    normalPairs.unionByName(withinPairs).unionByName(crossPairs).distinct()
  }

  /** Skew-guarded TWO-SIDED bucket cross — the [[saltedBucketPairs]]
    * analog for an A×B blocking key join (cross-corpus fingerprint
    * matching, where within-side pairs are never wanted so the
    * one-sided expansion would CREATE quadratic waste on a side-hot
    * key): every (a, b) member pair sharing a bucket, exactly once.
    * Keys where both sides fit `maxBucket` take a plain equi-join
    * (spillable, bounded per-key work). A hot key 2-D salts: the A
    * side splits into ceil(|A_key|/maxBucket) hash salts and
    * replicates across the B side's salt count (and vice versa), so
    * the |A_key|·|B_key| pair stream spreads over saltA×saltB tasks
    * instead of concentrating in one — each pair meets in exactly one
    * (saltA, saltB) cell, so the output is bit-identical to the plain
    * join at any `maxBucket` (driver-gated like the LSH precedent).
    * Joining the per-bucket counts first also PRUNES each side to
    * buckets present in the other — on a benchmark-sized reference
    * the corpus fingerprint stream shrinks before it ever shuffles.
    * Input frames carry (m, bucket); output is (m_a, m_b). */
  private[graft] def saltedKeyedCross(a: DataFrame, b: DataFrame,
      maxBucket: Int): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    // Integer ceil-divide (no double round-trip), as saltedBucketPairs.
    def salts(n: String) =
      expr(s"cast(($n + ${maxBucket - 1}) div $maxBucket as int)")
    val keys = a.groupBy(col("bucket")).agg(count(lit(1)).as("na"))
      .join(b.groupBy(col("bucket")).agg(count(lit(1)).as("nb")),
        Seq("bucket"))
      .select(col("bucket"), salts("na").as("nsa"), salts("nb").as("nsb"))
    val aK = a.join(keys, Seq("bucket"))
    val bK = b.join(keys, Seq("bucket"))
    val coldCond = col("nsa") === 1 && col("nsb") === 1
    val coldPairs = aK.filter(coldCond)
      .select(col("bucket"), col("m").as("m_a"))
      .join(bK.filter(coldCond).select(col("bucket"), col("m").as("m_b")),
        Seq("bucket"))
      .select(col("m_a"), col("m_b"))
    val hotA = aK.filter(!coldCond)
      .select(col("bucket"), col("m").as("m_a"),
        pmod(xxhash64(col("m")), col("nsa").cast("long")).cast("int")
          .as("sa"),
        explode(expr("sequence(0, nsb - 1)")).as("sb"))
    val hotB = bK.filter(!coldCond)
      .select(col("bucket"), col("m").as("m_b"),
        explode(expr("sequence(0, nsa - 1)")).as("sa"),
        pmod(xxhash64(col("m")), col("nsb").cast("long")).cast("int")
          .as("sb"))
    val hotPairs = hotA.join(hotB, Seq("bucket", "sa", "sb"))
      .select(col("m_a"), col("m_b"))
    coldPairs.unionByName(hotPairs)
  }

  /** Bloom-prefiltered cross-run exact dedup — "drop incoming docs whose
    * text already exists in the history corpus" without shuffling the
    * whole incoming shard against history. A Bloom filter over
    * xxhash64(history.text) is built distributed (partial filters merged
    * on the driver by `stat.bloomFilter`) and carried into a codegen'd
    * membership probe ([[graft.functions.BloomMightContain]]):
    * bloom-negative rows are *definitely* new (no false negatives) and
    * bypass the join entirely; only the small bloom-positive slice
    * (true duplicates + ~fpp of the rest) anti-joins against history
    * text to kill false positives. The result is EXACTLY the plain
    * anti-join, but at 100 TB only ~(dup_rate + fpp) of the shard
    * reaches the shuffle — the history side never re-shuffles at all
    * once its filter is persisted alongside the corpus. A 10^9-doc
    * history at 1% fpp is a ~1.1 GiB filter (fine as a task reference).
    * Size `expectedItems` >= |history|: an undersized filter
    * stays CORRECT (the anti-join kills every false positive) but its
    * false-positive rate rises, eroding the prefilter's shuffle
    * savings. Past ~10⁹ history docs the merged filter itself is the
    * bottleneck — use [[bloomPrefilterShardedNew]], which never
    * materializes it.
    */
  def bloomPrefilterNew(history: DataFrame, incoming: DataFrame,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    val bloom = history.stat.bloomFilter(
      xxhash64(col("text")), expectedItems, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val flagged = incoming.withColumn("maybe_dup",
      graft.functions.functions.bloom_might_contain(
        xxhash64(col("text")), bytes))
    val definitelyNew = flagged.filter(!col("maybe_dup"))
    val survivors = flagged.filter(col("maybe_dup"))
      .join(history.select(col("text")).distinct(), Seq("text"), "left_anti")
    definitelyNew.unionByName(survivors)
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("text_hash"))
  }

  /** Hash-range-sharded variant of [[bloomPrefilterNew]] for histories
    * past the single-filter regime (~10⁹ docs ≈ 1.1 GiB at 1% fpp):
    * the filter is split into `shards` by hash range and NO full-size
    * filter ever exists anywhere — not merged on the driver, not
    * broadcast, not even transiently in a map task:
    *
    *  1. Build: history hashes shuffle by `pmod(xxhash64(text), shards)`
    *     (8-byte keys, not text) and each REDUCE task builds only the
    *     filters of the shards it owns, each sized expectedItems/shards
    *     — per-task filter memory is 1/shards of the whole, and the
    *     driver never sees filter bytes at all (contrast
    *     `df.stat.bloomFilter`, which tree-merges FULL-SIZE partials on
    *     the driver).
    *  2. Probe: incoming co-groups with the filter table on the shard
    *     key — one shuffle of the incoming shard, one filter
    *     deserialized per task, probed row-by-row in place. A shard
    *     with no history rows short-circuits to "definitely new".
    *  3. The bloom-positive slice anti-joins history text to kill
    *     false positives, exactly like the unsharded path.
    *
    * Trade-off vs the unsharded prefilter: this shuffles the incoming
    * shard once (by a derived 8-byte-keyed hash, never text×text),
    * where the broadcast filter shuffles nothing — so below the memory
    * ceiling prefer [[bloomPrefilterNew]]; past it this is the shape
    * that still runs. Results are identical to the plain anti-join
    * either way.
    *
    * Contract difference vs [[bloomPrefilterNew]]: the typed cogroup
    * carries `doc_id` as LONG, so this variant requires an integral
    * `doc_id` (enforced below — a string id would otherwise come back
    * null under non-ANSI cast); the unsharded variant preserves any
    * input id type. */
  def bloomPrefilterShardedNew(history: DataFrame, incoming: DataFrame,
      shards: Int = 32, expectedItems: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    require(shards >= 1 && shards <= 4096, s"shards in [1,4096], got $shards")
    val idType = incoming.schema("doc_id").dataType
    require({
      import org.apache.spark.sql.types._
      idType == ByteType || idType == ShortType ||
        idType == IntegerType || idType == LongType
    }, s"bloomPrefilterShardedNew needs an integral doc_id (the cogroup " +
      s"carries it as long); got $idType — " +
      s"use bloomPrefilterNew for non-numeric ids")
    bloomProbeSharded(
      shardedBloomFilters(history, shards, expectedItems, fpp),
      incoming, history, shards)
  }

  /** The probe half all sharded-bloom paths share (in-memory build,
    * persisted table, appended batches): incoming co-groups with the
    * filter table on the shard key; a shard holding MULTIPLE filter
    * rows (append batches) OR-merges them in the task before probing —
    * bloom insertion is deterministic bit-setting, so the merged
    * filter is bit-identical to one built over the union (the append
    * leg's whole correctness argument; mergeInPlace fails loudly on
    * incompatible sizes, which the log gate already prevents).
    * The bloom-positive slice anti-joins history text to kill false
    * positives — output is EXACT regardless of fpp. */
  private def bloomProbeSharded(
      filters: org.apache.spark.sql.Dataset[(Int, Array[Byte])],
      incoming: DataFrame, history: DataFrame, shards: Int): DataFrame = {
    val spark = history.sparkSession
    import spark.implicits._
    val inKeyed = incoming
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        pmod(xxhash64(col("text")), lit(shards)).cast("int").as("shard"),
        xxhash64(col("text")).as("h"))
      .as[(Long, String, Int, Long)].groupByKey(_._3)
    val flagged = inKeyed.cogroup(filters.groupByKey(_._1)) {
      (_, rows, fs) =>
        val merged = fs.map { case (_, bytes) =>
          org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(bytes))
        }.reduceOption { (a, b) => a.mergeInPlace(b); a }
        merged match {
          case None => rows.map(r => (r._1, r._2, false))
          case Some(bf) =>
            rows.map(r => (r._1, r._2, bf.mightContainLong(r._4)))
        }
    }.toDF("doc_id", "text", "maybe_dup")
    val definitelyNew = flagged.filter(!col("maybe_dup"))
    val survivors = flagged.filter(col("maybe_dup"))
      .join(history.select(col("text")).distinct(), Seq("text"), "left_anti")
    definitelyNew.unionByName(survivors)
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("text_hash"))
  }

  /** Persist the sharded Bloom membership layout: the (shard,
    * filter_bytes) table — the sketch family's membership member
    * getting the same lifecycle as HLL/KMV/CMS/quantile synopses. In a
    * standing pipeline this table lives next to the corpus and each
    * arriving shard probes it without re-reading history; the log entry
    * pins (shards, expectedItems, fpp) so appended batches build
    * merge-compatible filters and a mis-parameterized serve fails
    * loudly instead of probing disjoint hash spaces. */
  def writeBloomIndex(history: DataFrame, dir: String, shards: Int = 8,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): Unit =
    Bloom.build(history.sparkSession, dir, "shards" -> shards.toString,
        "expectedItems" -> expectedItems.toString, "fpp" -> fpp.toString)(_ =>
      Seq("filters" -> shardedBloomFilters(history, shards, expectedItems,
        fpp).toDF("shard", "filter")))

  // fmt 2 moved the filter rows from the dir root into `filters/`.
  private val Bloom = Layout(Seq("layout" -> "bloom", "fmt" -> "2"),
    Seq("shards", "expectedItems", "fpp"), Seq("filters" -> Nil))

  /** APPEND a history batch to a stored [[writeBloomIndex]] layout:
    * the batch's per-shard filters land beside the old rows
    * (log-gated parameters ⇒ merge-compatible sizes), and the
    * serve OR-merges rows per shard — bit-identical to a filter built
    * over the union, so the gated query shares the monolithic oracle.
    * No tombstones exist for this layout by construction: a Bloom
    * filter cannot unlearn (bits are shared), so deletion means
    * rebuild — documented, like HLL's max-stability. Appending a
    * batch twice (an at-least-once redelivery) is safe: a duplicated
    * batch's filter rows OR-merge idempotently (x | x = x), so the
    * served filter is unchanged. */
  def appendBloomIndex(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, dir: String): Unit = {
    val open = Bloom.open(spark, dir)
    open.append("filters", shardedBloomFilters(batch,
      open.param("shards").toInt, open.param("expectedItems").toLong,
      open.param("fpp").toDouble).toDF("shard", "filter"),
      "appendBloomIndex")
  }

  /** Serve the cross-run exact dedup from a stored [[writeBloomIndex]]
    * layout — [[bloomPrefilterShardedNew]]'s contract with the build
    * half read from parquet. History is still consulted, but ONLY by
    * the bloom-positive slice's false-positive anti-join. */
  def bloomPrefilterFromIndex(spark: org.apache.spark.sql.SparkSession,
      incoming: DataFrame, history: DataFrame, dir: String): DataFrame = {
    import spark.implicits._
    val open = Bloom.open(spark, dir)
    bloomProbeSharded(
      open.table("filters")
        .select(col("shard").cast("int"), col("filter"))
        .as[(Int, Array[Byte])],
      incoming, history, open.param("shards").toInt)
  }

  /** The distributed per-shard filter table behind
    * [[bloomPrefilterShardedNew]]: `(shard, filter_bytes)`, one row per
    * non-empty hash-range shard, each filter sized
    * `expectedItems / shards`. History hashes (8 bytes, never text)
    * shuffle by shard and each reduce task builds only the filters it
    * owns — the build is a pure Dataset pipeline with no collect, so
    * the driver handles plan, not filter bytes. In a standing pipeline
    * this table persists next to the corpus and incoming shards probe
    * it without re-reading history. */
  def shardedBloomFilters(history: DataFrame, shards: Int,
      expectedItems: Long, fpp: Double)
      : org.apache.spark.sql.Dataset[(Int, Array[Byte])] = {
    val spark = history.sparkSession
    import spark.implicits._
    val perShard = math.max(64L, expectedItems / shards)
    history
      .select(pmod(xxhash64(col("text")), lit(shards)).cast("int").as("shard"),
        xxhash64(col("text")).as("h"))
      .as[(Int, Long)].groupByKey(_._1)
      .mapGroups { (shard, rows) =>
        val bf = org.apache.spark.util.sketch.BloomFilter.create(perShard, fpp)
        rows.foreach(r => bf.putLong(r._2))
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        (shard, bos.toByteArray)
      }
  }

  /** Incremental LSH dedup — the production shape when a new shard
    * arrives and must be deduplicated AGAINST the existing corpus, not
    * within itself: candidate (new, base) pairs are docs sharing any
    * band bucket across the two sides. Same single-evaluation
    * groupBy-bucket expansion as [[lshCandidatePairs]], with the two
    * sides split by the `isNew` predicate inside the aggregation
    * (collect_set ignores the nulls the `when` produces). In a standing
    * pipeline the base side's signatures come precomputed from storage —
    * then this is an equi-join of new-shard buckets against the
    * signature table, same shuffle shape, no recompute of the corpus. */
  def lshIncrementalPairs(sigs: DataFrame, isNew: Column,
      bands: Int = DefaultBands,
      rowsPerBand: Int = DefaultRowsPerBand, sep: String = ""): DataFrame = {
    val buckets = sigs.select(col("doc_id"), isNew.as("is_new"),
      bandBuckets(bands, rowsPerBand, sep).as("bucket"))
    buckets
      .groupBy(col("bucket"))
      .agg(
        sort_array(collect_set(when(col("is_new"), col("doc_id"))))
          .as("new_ids"),
        sort_array(collect_set(when(!col("is_new"), col("doc_id"))))
          .as("base_ids"))
      .filter(size(col("new_ids")) > 0 && size(col("base_ids")) > 0)
      .select(explode(expr(
        """flatten(transform(new_ids, n ->
          |  transform(base_ids, b ->
          |    struct(n AS new_id, b AS base_id))))""".stripMargin)).as("p"))
      .select(col("p.new_id"), col("p.base_id"))
      .distinct()
  }

  /** Materialize the LSH band-bucket index of a (base) corpus:
    * `(doc_id, bucket)` rows written to parquet — the dedup analog of
    * the IVF / BM25 / kNN-assignment index writes. At 100 TB the base
    * corpus's shingle→minhash→band chain is the expensive leg and the
    * corpus is mostly frozen between runs: persisting its buckets once
    * means every incoming shard dedups against the STORED index
    * ([[lshIncrementalFromIndex]]) without ever re-reading base text.
    * Buckets are strings and ids BIGINT, so parquet is exact and the
    * served pairs are bit-identical to the live
    * [[lshIncrementalPairs]] over the same split. */
  def writeLshIndex(sigs: DataFrame, dir: String,
      bands: Int = DefaultBands, rowsPerBand: Int = DefaultRowsPerBand,
      sep: String = ""): Unit =
    Lsh.build(sigs.sparkSession, dir, banding(bands, rowsPerBand, sep): _*)(_ =>
      Seq("buckets" -> lshRows(sigs, bands, rowsPerBand, sep)))

  // fmt 2 moved the bucket rows from the dir root into `buckets/` and
  // added the `layout` key.
  private val Lsh = Layout(Seq("layout" -> "lsh", "fmt" -> "2"),
    Seq("bands", "rowsPerBand", "sep"), Seq("buckets" -> Nil))

  private def banding(bands: Int, rowsPerBand: Int,
      sep: String): Seq[(String, String)] =
    Seq("bands" -> bands.toString, "rowsPerBand" -> rowsPerBand.toString,
      "sep" -> sep)

  /** The (doc_id, bucket) index rows of `sigs`. */
  private def lshRows(sigs: DataFrame, bands: Int, rowsPerBand: Int,
      sep: String): DataFrame =
    sigs.select(col("doc_id"),
      bandBuckets(bands, rowsPerBand, sep).as("bucket"))

  /** APPEND a batch of base documents to a stored [[writeLshIndex]]
    * layout — the add half of the dedup index lifecycle (the base
    * corpus grows between runs; re-banding history would defeat the
    * point of persisting it). Index rows are per-doc independent (a
    * doc's buckets derive from its signature alone), so an append is
    * bit-for-bit equivalent to having built the index over the union
    * up front (spec-pinned) — no merge step, no rewrite, just new
    * `(doc_id, bucket)` rows landing beside the old files. The
    * banding parameters MUST match the stored build (log-gated):
    * mismatched buckets would silently never collide. No tombstone
    * reconciliation is needed here — [[deleteFromLshIndex]] removes
    * rows PHYSICALLY, so a deleted-then-re-added doc has exactly one
    * live copy after the append. */
  def appendLshIndex(spark: org.apache.spark.sql.SparkSession,
      newSigs: DataFrame, dir: String, bands: Int = DefaultBands,
      rowsPerBand: Int = DefaultRowsPerBand, sep: String = ""): Unit =
    Lsh.open(spark, dir, banding(bands, rowsPerBand, sep): _*)
      .append("buckets", lshRows(newSigs, bands, rowsPerBand, sep),
        "appendLshIndex")

  /** DELETE documents from a stored [[writeLshIndex]] base — retracted
    * or GC'd base docs must stop producing candidate pairs against
    * future shards. Index rows are per-doc independent (a doc's
    * buckets derive from its signature alone), so dropping its rows
    * is EXACTLY equivalent to having built the index without it
    * (spec-pinned bit-for-bit); the rewrite replaces the `buckets/`
    * table's files in one entry ([[OpenedLayout.replace]]). The
    * deletion batch broadcasts; one linear pass over the index. */
  def deleteFromLshIndex(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, dir: String): Unit = {
    val open = Lsh.open(spark, dir)
    val del = ids.select(col("doc_id").cast("long").as("doc_id"))
      .distinct()
    open.replace("buckets" -> open.table("buckets")
      .join(broadcast(del), Seq("doc_id"), "left_anti"))
  }

  /** Cross-side LSH candidates of a NEW shard against a stored
    * [[writeLshIndex]] base: the shard's buckets (computed live — the
    * shard is the small, fresh side) equi-join the index on the bucket
    * key; within-shard pairs never form by construction, matching the
    * [[lshIncrementalPairs]] contract. The banding parameters MUST
    * match the ones the index was built with — bucket ids embed the
    * band number and signature rows, so a mismatched serve would join
    * disjoint keyspaces and return nothing; the [[IndexMeta]] log entry
    * written at build makes that a LOUD `require` failure here instead
    * of a silent empty result. One bucket-keyed shuffle of
    * |shard|·bands + |base index| rows; base text and signatures are
    * never touched. Skew note: a degenerate bucket streams through
    * Spark's spillable join buffer here (pair-set size is the same as
    * the live path's; only the buffering differs). */
  def lshIncrementalFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, newSigs: DataFrame, bands: Int = DefaultBands,
      rowsPerBand: Int = DefaultRowsPerBand, sep: String = ""): DataFrame = {
    val base = Lsh.open(spark, dir, banding(bands, rowsPerBand, sep): _*)
      .table("buckets").select(col("doc_id").as("base_id"), col("bucket"))
    lshRows(newSigs, bands, rowsPerBand, sep)
      .select(col("doc_id").as("new_id"), col("bucket"))
      .join(base, Seq("bucket"))
      .select(col("new_id"), col("base_id"))
      .distinct()
  }

  /** Exact n-gram Jaccard over LSH candidate pairs only. */
  def jaccardPairs(sh: DataFrame, candidates: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = candidates
      .join(sh.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("id_b") === col("sb.doc_id") &&
          col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.as("za"), col("id_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("id_b") === col("zb.doc_id"))
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          (col("za.n_sh") + col("zb.n_sh") - col("n_inter")).cast("double"))
          .as("jaccard"))
  }

  /** Asymmetric shingle containment |A∩B|/|A| (and /|B|) over LSH
    * candidate pairs — the doc-inside-doc signal symmetric Jaccard
    * misses: a short document fully embedded in a long one scores low
    * Jaccard but containment 1.0, and a curation pipeline drops the
    * contained copy. Same scale shape as [[jaccardPairs]]: candidates
    * only (never all pairs), intersection via a shingle equi-join,
    * sizes re-joined on doc_id; both ratios are raw IEEE int-ratio
    * divisions (unrounded — rounding can land exactly half-way). */
  def containmentPairs(sh: DataFrame, candidates: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = candidates
      .join(sh.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("id_b") === col("sb.doc_id") &&
          col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.as("za"), col("id_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("id_b") === col("zb.doc_id"))
      .select(col("id_a"), col("id_b"), col("n_inter"),
        (col("n_inter").cast("double") / col("za.n_sh").cast("double"))
          .as("containment_a"),
        (col("n_inter").cast("double") / col("zb.n_sh").cast("double"))
          .as("containment_b"))
  }

  /** 16-bit SimHash over distinct words: bit i is the sign of the vote
    * sum where a word votes +1 if hex digit i of its md5 has the high
    * nibble bit set, else -1. */
  def simhash(corpus: DataFrame): DataFrame = {
    val wordHashes = corpus
      .select(col("doc_id"),
        explode(split(col("text"), " ")).as("word"))
      .distinct()
      .select(col("doc_id"), md5(col("word").cast("binary")).as("h"))
    val voteAggs = (1 to 16).map(i =>
      sum(when(expr(s"instr('89abcdef', substring(h, $i, 1))") > 0, 1)
        .otherwise(-1)).as(s"s$i"))
    val votes = wordHashes.groupBy(col("doc_id"))
      .agg(voteAggs.head, voteAggs.tail: _*)
    votes.select(col("doc_id"),
      concat((1 to 16).map(i =>
        when(col(s"s$i") > 0, "1").otherwise("0")): _*).as("simhash"))
  }

  /** SimHash near-duplicate pairs with Hamming distance ≤ `maxDist`.
    * Pigeonhole banding: split the 16-bit fingerprint into `bands`
    * equal slices — a pair within distance `bands − 1` differs in at
    * most `bands − 1` slices, so it agrees EXACTLY on at least one, and
    * the candidate join is an equi-join on band-buckets (same shuffle
    * shape as MinHash-LSH: shuffle on a small derived key, never a
    * cross join), then the exact Hamming distance verifies candidates.
    * Recall is guaranteed only for `maxDist ≤ bands − 1` (enforced);
    * more bands → higher tolerated distance but bigger buckets.
    *
    * Caveat for degenerate corpora: if the vocabulary is tiny, simhashes
    * over-cluster and the pair set grows quadratically — widen the
    * fingerprint (more bits per band) before running on such data. */
  def simhashPairs(sims: DataFrame, maxDist: Int = 1,
      bands: Int = 2): DataFrame = {
    require(bands >= 1 && bands <= 16 && 16 % bands == 0,
      s"bands must divide the 16-bit fingerprint evenly, got $bands")
    require(maxDist >= 0 && maxDist <= bands - 1,
      s"$bands bands only guarantee recall for maxDist <= ${bands - 1}, " +
        s"got $maxDist")
    val bits = 16 / bands
    val banded = sims.select(col("doc_id"), col("simhash"),
      explode(array((1 to bands).map(b =>
        concat(lit(s"h$b:"),
          substring(col("simhash"), (b - 1) * bits + 1, bits))): _*))
        .as("bucket"))
    val dist = (1 to 16).map(i =>
      when(substring(col("a.simhash"), i, 1) =!=
        substring(col("b.simhash"), i, 1), 1).otherwise(0))
      .reduce(_ + _)
    banded.as("a")
      .join(banded.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        dist.as("dist"))
      // Filter BEFORE the dedup shuffle: dist is deterministic per pair,
      // so distinct over survivors is equivalent and the shuffle carries
      // only surviving pairs (matters on degenerate corpora where most
      // candidates fail the distance check).
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** Cross-document EXACT-SUBSTRING span dedup — the operator a
    * curation run applies after MinHash near-dup: for every document
    * pair sharing a verbatim substring of ≥ `minSpan` bytes, the
    * maximal shared spans with their byte offsets in BOTH documents
    * (Lee et al. 2022, arXiv:2107.06499 §4's exact-substring dedup,
    * re-expressed at the winnowing shape — never suffix arrays, never
    * all-pairs).
    *
    * Mechanics: each document emits its winnowing-selected rolling-
    * hash fingerprints with positions ([[graft.functions.WinnowKernel]],
    * one codegen'd O(n) pass); fingerprints BUCKET-JOIN across
    * documents on (hash, window bytes) — the window bytes ride in the
    * join key, so every match is an exact 16-byte substring match by
    * construction, collision-proof without a second verify pass; and
    * matches at the same offset delta (pos_a − pos_b) merge into
    * maximal spans wherever consecutive matched windows overlap or
    * adjoin (gap ≤ window).
    *
    * Exactness + completeness + MAXIMALITY: merged windows at one
    * delta overlap, so every emitted span is a verbatim shared
    * substring (exact); winnowing guarantees any shared substring of
    * length ≥ window + winnowW − 1 selects identical fingerprints in
    * both documents at most winnowW (≤ window, enforced) apart, so the
    * fingerprint-selected extent undershoots the true shared extent by
    * at most winnowW − 1 bytes per side — and the merge byte-EXTENDS
    * each span to that true boundary (compare the ≤ winnowW − 1 bytes
    * left/right of the selected extent at the same delta) BEFORE the
    * minSpan filter. Emitted spans are therefore the MAXIMAL shared
    * spans, and the result is complete for true spans ≥ minSpan
    * whenever minSpan ≥ window + winnowW − 1 (the shipped 40 ≥ 23;
    * spec-pinned as a property — a true 40-byte span detected at
    * length 26 extends back to 40 and is reported, not dropped).
    *
    * Scale shape: the fingerprint explode is linear in corpus bytes
    * (density ≈ 2/(winnowW+1)); the (hash, window-bytes) bucket
    * expansion routes through the SKEW-GUARDED salted expansion
    * ([[saltedBucketPairs]], the LSH precedent) — candidate volume is
    * bounded by TRUE content duplication, and a single ultra-common
    * window (license boilerplate shared by 10⁶ docs) spreads its
    * quadratic pair stream over salt² tasks with a ~`maxBucket`-bounded
    * buffer instead of concentrating in one task; the span merge
    * windows on (id_a, id_b, delta), never corpus-wide; the byte
    * extension joins the (small) span frame back to the two documents
    * on doc_id. Output offsets are 0-based bytes. */
  def substringSpans(corpus: DataFrame, window: Int = 16,
      winnowW: Int = 8, minSpan: Int = 40,
      maxBucket: Int = 1 << 20): DataFrame = {
    requireSpanBound(window, winnowW, minSpan)
    mergeSpans(
      matchedFps(corpus, window, winnowW, maxBucket,
        crossDoc = true, selfDoc = false),
      window, winnowW, minSpan, corpusBin(corpus), corpusBin(corpus))
  }

  /** WITHIN-document repeated-span detection — the same-doc case
    * [[substringSpans]]'s id_a < id_b filter excludes (Lee et al.
    * 2022 §4 removes within-document duplicates too: boilerplate
    * runs and template spam are a large share of web-corpus
    * duplication): for every document, the maximal spans ≥ `minSpan`
    * that occur VERBATIM at least twice inside it, as
    * (doc_id, start_first, start_second, span_len) per occurrence
    * pair at offset gap ≥ `window` (smaller gaps are
    * self-overlapping periodicity, excluded so a matched pair is two
    * distinct window occurrences). Same guarded expansion, merge,
    * byte-extension, and completeness bound as the cross-document
    * operator; [[substringDedupCorpus]]'s `withinDoc = true` mode
    * cuts the later occurrence keep-first style. */
  def substringSelfSpans(corpus: DataFrame, window: Int = 16,
      winnowW: Int = 8, minSpan: Int = 40,
      maxBucket: Int = 1 << 20): DataFrame = {
    requireSpanBound(window, winnowW, minSpan)
    mergeSpans(
      matchedFps(corpus, window, winnowW, maxBucket,
        crossDoc = false, selfDoc = true),
      window, winnowW, minSpan, corpusBin(corpus), corpusBin(corpus))
      .select(col("id_a").as("doc_id"), col("start_a").as("start_first"),
        col("start_b").as("start_second"), col("span_len"))
  }

  /** The matched-fingerprint frame shared by the same-corpus span
    * operators: winnowed positioned fingerprints bucket on
    * (hash, verbatim window bytes) and expand through the
    * skew-guarded salted expansion ([[saltedBucketPairs]], factored
    * over ANY blocking key — the member here is the (doc_id, pos)
    * struct, so a hot window's pair stream spreads across salts and
    * no agg buffer holds more than ~`maxBucket` members). Cross-doc
    * pairs order id_a < id_b (struct ordering sorts by doc_id first);
    * same-doc pairs keep pos_a < pos_b at gap ≥ `window`. */
  private def matchedFps(corpus: DataFrame, window: Int, winnowW: Int,
      maxBucket: Int, crossDoc: Boolean, selfDoc: Boolean): DataFrame = {
    val bucketed = winnowFps(corpus, window, winnowW)
      .select(struct(col("doc_id"), col("pos")).as("doc_id"),
        struct(col("h"), col("win")).as("bucket"))
    val cross = col("id_a.doc_id") < col("id_b.doc_id")
    val self = col("id_a.doc_id") === col("id_b.doc_id") &&
      col("id_b.pos") - col("id_a.pos") >= window
    val cond =
      if (crossDoc && selfDoc) cross || self
      else if (crossDoc) cross
      else self
    saltedBucketPairs(bucketed, maxBucket)
      .filter(cond)
      .select(col("id_a.doc_id").as("id_a"), col("id_b.doc_id").as("id_b"),
        (col("id_a.pos") - col("id_b.pos")).as("delta"),
        col("id_a.pos").as("pos_a"))
  }

  /** (doc_id, text-as-binary) projection the byte-extension and
    * interval surgery share — offsets from the fingerprint kernel are
    * byte offsets, so every byte comparison happens on the binary
    * form. */
  private def corpusBin(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text").cast("binary").as("bin"))

  /** Cross-CORPUS exact-substring spans — [[substringSpans]] between
    * two DIFFERENT datasets: every (corpus doc, reference doc) pair
    * sharing a verbatim substring ≥ `minSpan` bytes, with offsets in
    * both. This is benchmark DECONTAMINATION at span granularity
    * (Lee et al. 2022 §6.2's contamination check generalized from
    * [[graft.operators.TextAnalysis]]'s fixed 8-gram
    * text_decontaminate row: spans tell HOW MUCH of a benchmark doc
    * leaked, not just that one n-gram hit). Ids are independent
    * namespaces (no id_a < id_b canonicalization, no same-id
    * exclusion — a corpus doc that IS a reference doc is exactly the
    * leak being hunted). The drop/trim policy composes downstream:
    * anti-join the corpus on `doc_id`, feed the spans to the interval
    * surgery, or run [[substringScrub]] which composes both. Same
    * completeness/exactness/maximality bounds as [[substringSpans]].
    * Scale shape: the fingerprint match routes through the TWO-SIDED
    * skew guard ([[saltedKeyedCross]]) — a corpus-hot window 2-D
    * salts instead of concentrating one task, and joining the
    * per-bucket counts first prunes the corpus fingerprint stream to
    * buckets the (typically benchmark-sized) reference actually
    * contains, before anything big shuffles. */
  def substringSpansAgainst(corpus: DataFrame, reference: DataFrame,
      window: Int = 16, winnowW: Int = 8, minSpan: Int = 40,
      maxBucket: Int = 1 << 20): DataFrame = {
    requireSpanBound(window, winnowW, minSpan)
    def side(docs: DataFrame) = winnowFps(docs, window, winnowW)
      .select(struct(col("doc_id"), col("pos")).as("m"),
        struct(col("h"), col("win")).as("bucket"))
    val matched = saltedKeyedCross(side(corpus), side(reference),
        maxBucket)
      .select(col("m_a.doc_id").as("id_a"), col("m_b.doc_id").as("id_b"),
        (col("m_a.pos") - col("m_b.pos")).as("delta"),
        col("m_a.pos").as("pos_a"))
    mergeSpans(matched, window, winnowW, minSpan, corpusBin(corpus),
        corpusBin(reference))
      .select(col("id_a").as("doc_id"), col("id_b").as("ref_id"),
        col("start_a").as("start"), col("start_b").as("ref_start"),
        col("span_len"))
  }

  private def requireSpanBound(window: Int, winnowW: Int,
      minSpan: Int): Unit = {
    require(winnowW >= 1 && winnowW <= window,
      s"winnowW $winnowW must be in [1, window=$window]: consecutive " +
        "winnowing selections are guaranteed <= winnowW apart, and the " +
        "span merge joins matches at gap <= window — winnowW > window " +
        "would fragment every long shared region into sub-window " +
        "pieces and silently return nothing")
    require(minSpan >= window + winnowW - 1,
      s"minSpan $minSpan below the winnowing completeness bound " +
        s"${window + winnowW - 1} — shorter spans can be missed, so " +
        "emitting them would be a silently partial result")
  }

  /** Positioned winnowing fingerprints with their verbatim window
    * bytes — the per-document half shared by the self-join and
    * cross-corpus span operators. */
  private def winnowFps(docs: DataFrame, window: Int,
      winnowW: Int): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        explode(graft.functions.functions.winnow_fingerprints(
          col("text"), window, winnowW)).as("fp"))
      .select(col("doc_id"), col("fp.pos").as("pos"), col("fp.h").as("h"),
        expr(s"substring(cast(text as binary), fp.pos + 1, $window)")
          .as("win"))

  /** Bounded first-mismatch fold shared by the span byte-extension
    * and the UTF-8 codepoint snap: `acc` = number of consecutive
    * PASSING steps so far, and step j extends only while every prior
    * step passed (`acc = j - 1`) — the invariant both correctness
    * arguments rest on (extension stops at the first mismatching
    * byte; the snap stops at the first non-continuation byte), kept
    * in ONE place so the subtle `acc = j - 1` gate cannot drift
    * between the two walks. Returns 0 when `steps < 1`. */
  private def boundedWalk(steps: Int, cond: String): Column =
    if (steps < 1) lit(0)
    else expr(s"aggregate(sequence(1, $steps), 0, (acc, j) -> " +
      s"IF(acc = j - 1 AND $cond, j, acc))")

  /** Same-delta gap-split merge of matched fingerprints into MAXIMAL
    * shared spans ≥ `minSpan` — shared by every span operator so the
    * exactness argument holds once. Two halves:
    *
    *  1. Merge: matches at one (id_a, id_b, delta) whose windows
    *     overlap or adjoin (gap ≤ window) fuse into one span — every
    *     emitted extent is verbatim-shared by construction.
    *  2. Byte-EXTENSION to the true boundary: the fingerprint-selected
    *     extent can undershoot the maximal shared extent by up to
    *     winnowW − 1 bytes per side (the first winnowing window fully
    *     inside a shared region selects within its first winnowW
    *     positions — same argmin in both documents — so margins beyond
    *     that are impossible). Each merged span joins back to both
    *     documents' bytes and extends left/right while bytes at the
    *     same delta match, a ≤ winnowW − 1-step bounded fold per side
    *     (never an unbounded scan). The minSpan filter runs on the
    *     EXTENDED length, so a true ≥ minSpan span detected short is
    *     recovered, not dropped — emitted spans are maximal. */
  private def mergeSpans(matched: DataFrame, window: Int, winnowW: Int,
      minSpan: Int, docsA: DataFrame, docsB: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("id_a"), col("id_b"), col("delta"))
      .orderBy(col("pos_a"))
    val merged = matched
      .withColumn("prev", lag(col("pos_a"), 1).over(wOrd))
      .withColumn("brk", when(col("prev").isNull ||
        col("pos_a") - col("prev") > window, 1).otherwise(0))
      .withColumn("span_id", sum(col("brk")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id_a"), col("id_b"), col("delta"), col("span_id"))
      .agg(min(col("pos_a")).as("start_a"),
        (max(col("pos_a")) + window).as("end_a"))
    // Byte-extension walk ([[boundedWalk]]): acc = consecutive
    // matching bytes so far.
    val w = winnowW - 1
    def ext(cond: String): Column = boundedWalk(w, cond)
    merged
      .join(docsA.select(col("doc_id").as("id_a"), col("bin").as("bin_a")),
        Seq("id_a"))
      // LEFT + loud guard, not inner: on the index-serve paths docsB
      // is a CALLER-supplied frame ("history"/"reference" bytes for
      // the extension refine) while the matches come from the stored
      // fingerprints — a frame that under-covers the index (e.g. only
      // the latest batch) must fail at execution, not silently DROP
      // every span against the missing documents (the scrub would
      // then emit contaminated text as clean with n_cut = 0). On the
      // in-memory paths the fps and bytes come from one frame, so the
      // guard can never fire (a doc absent from docsB has no fps and
      // therefore no matches). The guard triggers through the
      // extension walks' access to bin_b; the only shapes whose walks
      // never touch it are spans pinned at a document boundary on
      // every side a walk would probe — left walk skipped iff the
      // span starts at byte 0 of EITHER document, right walk skipped
      // iff it ends at the incoming doc's last byte — and in exactly
      // those shapes the skipped extension is geometrically
      // impossible anyway, so every emitted row is correct either
      // way: correct span or loud error, never a silent drop.
      .join(docsB.select(col("doc_id").as("id_b"), col("bin").as("bin_b")),
        Seq("id_b"), "left")
      .withColumn("bin_b", when(col("bin_b").isNull,
        expr("raise_error(concat('substring-span serve: document ', " +
          "cast(id_b as string), ' was matched by the stored " +
          "fingerprint index but is missing from the caller-supplied " +
          "reference frame — the byte-extension refine needs its " +
          "bytes; pass the full history/reference corpus, not the " +
          "latest batch'))").cast("binary"))
        .otherwise(col("bin_b")))
      .withColumn("ext_l", ext(
        "start_a - j >= 0 AND start_a - delta - j >= 0 " +
          "AND substring(bin_a, cast(start_a - j + 1 as int), 1) " +
          "= substring(bin_b, cast(start_a - delta - j + 1 as int), 1)"))
      .withColumn("ext_r", ext(
        "end_a + j <= length(bin_a) AND end_a - delta + j <= length(bin_b) " +
          "AND substring(bin_a, cast(end_a + j as int), 1) " +
          "= substring(bin_b, cast(end_a - delta + j as int), 1)"))
      .select(col("id_a"), col("id_b"),
        (col("start_a") - col("ext_l")).as("start_a"),
        (col("start_a") - col("ext_l") - col("delta")).as("start_b"),
        (col("end_a") + col("ext_r") - col("start_a") + col("ext_l"))
          .as("span_len"))
      .filter(col("span_len") >= minSpan)
  }

  /** Exact-substring corpus REWRITE — the transform half next to
    * [[substringSpans]]'s measure half (the [[segmentDedup]] pairing
    * at span granularity, and Lee et al. 2022 §4's actual dedup step):
    * every qualifying shared span keeps its FIRST occurrence (the
    * lower doc_id) and is CUT from the higher doc_id; each document
    * reassembles from the byte-interval complement of its merged
    * removals. Output: (doc_id, clean_text, n_cut) for EVERY input
    * document (untouched docs pass through with n_cut 0; a
    * fully-covered doc rebuilds to the empty string).
    *
    * Semantics notes: removals are computed on the ORIGINAL corpus in
    * one pass (the published formulation — cutting does not cascade
    * into re-fingerprinting); for an occurrence cluster {A, B, C} the
    * pairwise spans (A,B), (A,C), (B,C) cut B and C and keep A, and
    * the duplicate (B,C)-removal inside C merges away in the interval
    * union. Byte surgery happens on the BINARY form (offsets are byte
    * offsets from the fingerprint kernel), cast back to string at the
    * end.
    *
    * Within-document repeats: `withinDoc = true` additionally cuts
    * every LATER occurrence of a document's own repeated spans
    * ([[substringSelfSpans]]'s pairs — Lee et al. 2022 §4 removes
    * within-doc duplicates too); the default `false` keeps the
    * cross-document-only contract.
    *
    * Scale shape: [[substringSpans]]'s guarded expansion bounds the
    * pair work; the interval merge and complement are windows keyed
    * by doc_id (never corpus-wide), and the rebuild touches only
    * documents that lost bytes — the untouched corpus passes through
    * a broadcast-free left join on doc_id. */
  def substringDedupCorpus(corpus: DataFrame, window: Int = 16,
      winnowW: Int = 8, minSpan: Int = 40, withinDoc: Boolean = false,
      maxBucket: Int = 1 << 20): DataFrame = {
    requireSpanBound(window, winnowW, minSpan)
    // One matched frame serves cross-doc AND (optionally) within-doc
    // removals: in both cases the cut side is (id_b, start_b) — for a
    // same-doc pair id_b IS the doc and start_b its LATER occurrence
    // (pos_a < pos_b by the expansion's struct ordering), so keep-first
    // falls out of the same projection.
    val spans = mergeSpans(
      matchedFps(corpus, window, winnowW, maxBucket,
        crossDoc = true, selfDoc = withinDoc),
      window, winnowW, minSpan, corpusBin(corpus), corpusBin(corpus))
    cutIntervals(corpus,
      spans.select(col("id_b").as("doc_id"), col("start_b").as("rs"),
        (col("start_b") + col("span_len")).as("re")))
  }

  /** Decontamination SCRUB — the composition of
    * [[substringSpansAgainst]]'s measure half with
    * [[substringDedupCorpus]]'s interval surgery: every corpus span
    * that matches a reference (benchmark) document ≥ `minSpan` bytes
    * is CUT from the corpus document; untouched documents pass
    * through; a fully-leaked document rebuilds to the empty string.
    * Output: (doc_id, clean_text, n_cut) for EVERY corpus document —
    * the executable form of the drop/trim policy the span operator
    * documents. The reference corpus itself is never modified. */
  def substringScrub(corpus: DataFrame, reference: DataFrame,
      window: Int = 16, winnowW: Int = 8, minSpan: Int = 40,
      maxBucket: Int = 1 << 20): DataFrame =
    cutIntervals(corpus,
      substringSpansAgainst(corpus, reference, window, winnowW, minSpan,
          maxBucket)
        .select(col("doc_id"), col("start").as("rs"),
          (col("start") + col("span_len")).as("re")))

  /** Persist the winnowed-fingerprint frame of a HISTORY corpus — the
    * incremental half of substring-span dedup: a standing curation
    * pipeline fingerprints each corpus batch ONCE
    * ([[appendSubstringFpIndex]]), and every later batch measures its
    * spans against ALL of history ([[substringSpansAgainstIndex]])
    * without re-running the fingerprint kernel over the world. The
    * stored rows are the exact `(doc_id, pos, h, win)` frame the
    * in-memory operators explode — ~2/(winnowW+1) rows per history
    * byte, each 16 + window bytes — written flat (no partition key: a
    * full-corpus matcher shuffles by fingerprint anyway, so a
    * directory key would prune nothing and only fragment files). The
    * log entry pins (window, winnowW) so an appended batch fingerprints
    * in the same space and a mis-parameterized serve fails loudly. No
    * tombstones: dedup history only grows; removing a doc from
    * history means rebuild (the [[writeBloomIndex]] contract). */
  def writeSubstringFpIndex(history: DataFrame, dir: String,
      window: Int = 16, winnowW: Int = 8): Unit = {
    require(winnowW >= 1 && winnowW <= window,
      s"winnowW $winnowW must be in [1, window=$window]")
    SubstringFp.build(history.sparkSession, dir, "window" -> window.toString,
      "winnowW" -> winnowW.toString)(_ =>
      Seq("fps" -> winnowFps(history, window, winnowW)))
  }

  private val SubstringFp = Layout(
    Seq("layout" -> "substring_fp", "fmt" -> "1"), Seq("window", "winnowW"),
    Seq("fps" -> Nil))

  /** APPEND a history batch to a stored [[writeSubstringFpIndex]]
    * layout: the batch fingerprints under the SIDECAR's (window,
    * winnowW) — never a caller-supplied pair, so appended rows are in
    * the stored fingerprint space by construction — and gates through
    * the fleet's name+type append contract. Winnowing is
    * per-document, so append(B) after write(A) is bit-identical to
    * write(A ∪ B) (the gated row's oracle is the monolithic replay).
    * Appending a batch twice (an at-least-once redelivery) duplicates
    * fps rows; matches and merged spans are unchanged (duplicate
    * matches land in the same span_id), so the serve is idempotent
    * under redelivery. */
  def appendSubstringFpIndex(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, dir: String): Unit = {
    val open = SubstringFp.open(spark, dir)
    open.append("fps", winnowFps(batch, open.param("window").toInt,
      open.param("winnowW").toInt), "appendSubstringFpIndex")
  }

  /** [[substringSpansAgainst]] served from a stored
    * [[writeSubstringFpIndex]] layout: the history side's fingerprints
    * READ from the index (the expensive half — kernel pass + explode
    * over all of history — never recomputed), the incoming side
    * fingerprints fresh, and the same guarded cross, merge, and byte
    * extension run downstream. `history` supplies only the reference
    * documents' BYTES for the extension refine — the
    * [[Similarity.searchImiPqIndex]] pattern, where the caller-owned
    * corpus serves the exact-refine fetch while the index stores the
    * compact form. Output = `substringSpansAgainst(incoming, history)`
    * bit-for-bit (winnowing is per-document; the gated append row
    * shares the monolithic oracle). A `history` frame that
    * under-covers the index — a matched reference document whose
    * bytes are absent — fails LOUDLY at execution (`raise_error` in
    * the extension refine), never silently drops the span
    * (spec-pinned): the loud-mismatch rule, a mis-parameterized serve
    * must not return partial results. */
  def substringSpansAgainstIndex(
      spark: org.apache.spark.sql.SparkSession, incoming: DataFrame,
      history: DataFrame, dir: String, minSpan: Int = 40,
      maxBucket: Int = 1 << 20): DataFrame = {
    val open = SubstringFp.open(spark, dir)
    val window = open.param("window").toInt
    val winnowW = open.param("winnowW").toInt
    requireSpanBound(window, winnowW, minSpan)
    def bucketed(fps: DataFrame) =
      fps.select(struct(col("doc_id"), col("pos")).as("m"),
        struct(col("h"), col("win")).as("bucket"))
    val matched = saltedKeyedCross(
        bucketed(winnowFps(incoming, window, winnowW)),
        bucketed(open.table("fps")), maxBucket)
      .select(col("m_a.doc_id").as("id_a"), col("m_b.doc_id").as("id_b"),
        (col("m_a.pos") - col("m_b.pos")).as("delta"),
        col("m_a.pos").as("pos_a"))
    mergeSpans(matched, window, winnowW, minSpan, corpusBin(incoming),
        corpusBin(history))
      .select(col("id_a").as("doc_id"), col("id_b").as("ref_id"),
        col("start_a").as("start"), col("start_b").as("ref_start"),
        col("span_len"))
  }

  /** [[substringScrub]] served from a stored
    * [[writeSubstringFpIndex]] layout — the continuous-curation
    * composition: each incoming batch is scrubbed of every span
    * matching the PERSISTED reference corpus (benchmark suites,
    * known-contaminated sources) without ever re-fingerprinting the
    * reference; `reference` supplies only the extension refine's
    * bytes, like every index serve. Output =
    * `substringScrub(incoming, reference)` bit-for-bit. A `reference`
    * frame that under-covers the index fails loudly
    * ([[substringSpansAgainstIndex]]'s guard) — the alternative would
    * emit contaminated text as clean with `n_cut = 0`. */
  def substringScrubFromIndex(
      spark: org.apache.spark.sql.SparkSession, incoming: DataFrame,
      reference: DataFrame, dir: String, minSpan: Int = 40,
      maxBucket: Int = 1 << 20): DataFrame =
    cutIntervals(incoming,
      substringSpansAgainstIndex(spark, incoming, reference, dir,
          minSpan, maxBucket)
        .select(col("doc_id"), col("start").as("rs"),
          (col("start") + col("span_len")).as("re")))

  /** The byte-interval surgery shared by [[substringDedupCorpus]] and
    * [[substringScrub]]: removal intervals snap outward to UTF-8
    * codepoint boundaries, merge per document (gaps-and-islands), and
    * each document reassembles from the interval complement of its
    * merged removals on the BINARY form.
    *
    * UTF-8 note: span offsets are BYTE offsets (the fingerprint
    * kernel's contract), so on a multibyte corpus a removal edge can
    * land mid-codepoint; cutting there would leave orphan
    * continuation bytes (mojibake) in clean_text. Each edge therefore
    * snaps OUTWARD — the start walks left past continuation bytes to
    * its codepoint's lead byte, the end walks right past continuation
    * bytes to the next codepoint start — a ≤ 3-step bounded fold per
    * edge (UTF-8 codepoints are ≤ 4 bytes), removing at most the one
    * partially-cut codepoint on each side. On ASCII input every snap
    * is 0 steps and the surgery is byte-exact (the oracle corpus is
    * ASCII, so the DuckDB replay needs no snap CTE; spec-pinned on a
    * multibyte fixture). */
  private def cutIntervals(corpus: DataFrame, rem0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = corpusBin(corpus)
    // Codepoint snap ([[boundedWalk]], ≤ 3 steps — UTF-8 codepoints
    // are ≤ 4 bytes): acc = consecutive continuation bytes stepped
    // over so far.
    def snap(cond: String): Column = boundedWalk(3, cond)
    def contByte(pos1: String): String =
      s"(cast(conv(hex(substring(bin, cast($pos1 as int), 1)), 16, 10) " +
        s"as int) & 192) = 128"
    // DISTINCT is load-bearing, not just hygiene: the same interval
    // can arrive once per earlier partner (exact duplicates of one
    // source doc), and identical (rs, re) rows are indistinguishable
    // under the merge windows' sort — a cross-window tie-order flip
    // would split one island into two (observed as a nondeterministic
    // double-cut in the DuckDB replay before this dedup). With
    // distinct intervals the (rs, re) order is total and every window
    // below is deterministic in both engines. Runs AFTER the snap so
    // intervals distinct only in their mid-codepoint edge collapse too.
    val rem = rem0.join(docs, Seq("doc_id"))
      .withColumn("sl", snap(
        s"rs - j + 1 >= 1 AND ${contByte("rs - j + 2")}"))
      .withColumn("sr", snap(
        s"re + j <= length(bin) AND ${contByte("re + j")}"))
      .select(col("doc_id"), (col("rs") - col("sl")).as("rs"),
        (col("re") + col("sr")).as("re"))
      .distinct()
    val wOrd = Window.partitionBy(col("doc_id"))
      .orderBy(col("rs"), col("re"))
    val prevMax = max(col("re"))
      .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val merged = rem
      .withColumn("brk",
        when(prevMax.isNull || col("rs") > prevMax, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("rs")).as("mrs"), max(col("re")).as("mre"))
    val wI = Window.partitionBy(col("doc_id")).orderBy(col("mrs"))
    // Complement pieces: before each merged removal (head pieces) and
    // after the last one (tail piece). Empty pieces contribute empty
    // bytes — a fully-covered doc rebuilds to '' instead of silently
    // falling back to its original text.
    val heads = merged.select(col("doc_id"),
      coalesce(lag(col("mre"), 1).over(wI), lit(0)).as("pstart"),
      col("mrs").as("pend"))
    val tails = merged.groupBy(col("doc_id"))
      .agg(max(col("mre")).as("pstart"))
      .join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("pstart"),
        length(col("bin")).as("pend"))
    val rebuilt = heads.unionByName(tails)
      .join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("pstart"),
        expr("substring(bin, pstart + 1, pend - pstart)").as("piece"))
      .groupBy(col("doc_id"))
      .agg(expr(
        """aggregate(
          |  transform(array_sort(collect_list(struct(pstart, piece))),
          |    x -> x.piece),
          |  cast('' as binary), (acc, x) -> concat(acc, x))""".stripMargin)
        .cast("string").as("clean_text"))
    val cuts = merged.groupBy(col("doc_id"))
      .agg(sum(col("mre") - col("mrs")).as("n_cut"))
    corpus.select(col("doc_id"), col("text"))
      .join(rebuilt, Seq("doc_id"), "left")
      .join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), col("text")).as("clean_text"),
        coalesce(col("n_cut"), lit(0L)).cast("long").as("n_cut"))
  }
}
