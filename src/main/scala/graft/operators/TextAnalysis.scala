package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: quality stats,
  * token counting, stopword-based language ID, and content
  * fingerprinting. All pure codegen'd column expressions — a single
  * narrow pass over the corpus, no shuffle.
  */
object TextAnalysis {

  val WordRx = """\S+"""
  val TokenRx = """\w+|[^\w\s]"""
  val PunctRx = """[^\w\s]"""

  val Stopwords: Map[String, String] = Map(
    "en" -> """\b(the|a|and|of|to|in|is|it)\b""",
    "de" -> """\b(der|die|das|und|ist|ein|zu|den)\b""",
    "fr" -> """\b(le|la|les|et|est|un|une|des)\b""")

  private def rxCount(c: Column, rx: String): Column =
    size(regexp_extract_all(c, lit(rx), lit(0)))

  /** Per-document stats: char/word/token/punct counts, ratios, and a
    * simple [0,1] quality score. */
  def stats(documents: DataFrame): DataFrame = {
    val nChars = length(col("text"))
    val nWords = rxCount(col("text"), WordRx)
    val nTokens = rxCount(col("text"), TokenRx)
    val nPunct = rxCount(col("text"), PunctRx)
    val nStop = rxCount(col("text"), Stopwords("en"))
    val punctRatio = nPunct.cast("double") / nChars.cast("double")
    val stopRatio = nStop.cast("double") / nWords.cast("double")
    documents.select(col("doc_id"),
      nChars.cast("long").as("n_chars"),
      nWords.cast("long").as("n_words"),
      nTokens.cast("long").as("n_tokens"),
      nPunct.cast("long").as("n_punct"),
      punctRatio.as("punct_ratio"),
      stopRatio.as("stop_ratio"),
      // raw: a fixed chain of IEEE ops over exact int ratios — the
      // oracle spells out the identical expression, so both engines
      // produce the same bits; rounding an int-ratio chain can land
      // exactly half-way (the q_tpch_q2 drift class)
      (least(lit(1.0), nWords.cast("double") / 100.0) * 0.5 +
        least(lit(1.0), stopRatio * 4.0) * 0.5).as("quality_score"))
  }

  /** Stopword-vote language ID with a deterministic argmax tie-break
    * (en ≥ de ≥ fr). */
  def languageId(documents: DataFrame): DataFrame = {
    val en = rxCount(col("text"), Stopwords("en")).cast("long")
    val de = rxCount(col("text"), Stopwords("de")).cast("long")
    val fr = rxCount(col("text"), Stopwords("fr")).cast("long")
    documents.select(col("doc_id"),
      en.as("en_hits"), de.as("de_hits"), fr.as("fr_hits"),
      when(en >= de && en >= fr, "en")
        .when(de >= fr, "de").otherwise("fr").as("predicted_lang"))
  }

  /** Content fingerprint: md5 of the normalized text (lowercase, strip
    * non-alphanumerics, collapse whitespace). */
  def fingerprint(documents: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    documents.select(col("doc_id"), md5(norm.cast("binary")).as("fingerprint"))
  }

  /** Smoothed-IDF vocabulary: one row per distinct whitespace token with
    * its document frequency and idf = ln((1+N)/(1+df)) + 1 (sklearn's
    * smooth idf). The corpus size N rides in via a broadcast cross join
    * of the 1-row count aggregate — no driver-side collect, so the same
    * plan runs unmodified on a 100 TB corpus. */
  def idfVocabulary(documents: DataFrame): DataFrame = {
    val docTerms = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct()
    val termDf = docTerms.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val total = documents.agg(count(lit(1)).as("n_docs"))
    termDf.crossJoin(broadcast(total))
      .select(col("term"), col("df"), col("n_docs"),
        round(log((col("n_docs") + 1).cast("double") /
          (col("df") + 1).cast("double")) + 1.0, 6).as("idf_r"))
  }

  /** Per-document keyword extraction: the top `k` terms by tf·idf —
    * the cheap summarization/indexing pass a curation pipeline runs
    * for faceting and topic spot-checks. Scores work in the fixed-
    * point micro discipline ([[dsirWeights]]'s lesson): idf quantizes
    * to `floor((ln((n+1)/(df+1)) + 1)·10⁶ + 0.5)` — exact IEEE floor,
    * one semantics everywhere — and the score is the BIGINT product
    * tf·idf_micro, so the per-doc ranking (score desc, term asc) is a
    * total integer order no engine pair can disagree on.
    *
    * Scale shape: one (doc, term) counting aggregate (tf), one
    * term-keyed df aggregate of the distinct pairs, a broadcast
    * one-row corpus count, then the per-doc top-k rank window (the
    * TopKPerKey rewrite) — token-linear, no doc×vocab blowup. */
  def topKeywords(documents: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = toks.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val total = documents.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("term").asc)
    tf.join(df, Seq("term")).crossJoin(broadcast(total))
      .withColumn("score_micro",
        col("tf") * expr(
          """cast(floor((ln(cast(n_docs + 1 as double) /
            |cast(df + 1 as double)) + 1.0) * 1000000.0 + 0.5) as bigint)"""
            .stripMargin))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("term"), col("score_micro"))
  }

  /** Unigram language-model quality score: each document's mean
    * per-token log-probability under an add-one-smoothed unigram LM
    * trained on the corpus itself — the classic cheap perplexity proxy
    * for training-data quality filtering (gibberish, boilerplate, and
    * OCR noise score far below fluent text because their tokens are
    * corpus-rare). logp(tok) = ln((c+1)/(N+V)) with c the corpus count,
    * N total tokens, V vocabulary size.
    *
    * Scale shape: token counts are a token-keyed aggregate with
    * map-side combine; the (N, V) pair rides in as a broadcast 1-row
    * cross join (no collect); scoring re-joins tokens to counts on the
    * token key and rolls up per doc — three shuffles, all on
    * high-cardinality keys, no corpus×corpus anything. Determinism:
    * per-token terms quantize to fixed-point MICRO-UNITS via
    * `floor(ln·10⁶ + 0.5)` and sum as plain BIGINT (the same
    * version-proof pattern as [[dsirWeights]] — round()/decimal
    * half-way and widening semantics vary across engine versions), and
    * the mean is one raw IEEE int-ratio division. */
  def unigramLogprob(documents: DataFrame): DataFrame = {
    val toks = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum(col("c")).as("n_total"),
      count(lit(1)).as("vocab"))
    toks.join(counts, "tok")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        floor(log((col("c") + 1).cast("double") /
          (col("n_total") + col("vocab")).cast("double")) * lit(1000000.0d)
          + lit(0.5d)).as("lp_micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("lp_micro")).as("s_micro"))
      .select(col("doc_id"), col("n_tok"),
        (col("s_micro").cast("double") / col("n_tok").cast("double"))
          .as("avg_logprob_micro"))
  }

  /** Bigram-LM fluency score: per document, the mean log P(w_i | w_{i-1})
    * under a Laplace-smoothed bigram model fit on the corpus itself —
    * one step up the n-gram ladder from [[unigramLogprob]], and the
    * standard cheap fluency filter (word-salad and boilerplate-mangled
    * text scores far below prose because its CONDITIONAL transitions
    * are rare even when its words are common).
    *
    * Smoothing: P(b|a) = (c(a,b)+1) / (c(a,·)+V) with V the corpus
    * unigram vocabulary, so unseen transitions get nonzero mass from
    * the same budget everywhere. Determinism and shape follow
    * [[unigramLogprob]] exactly: bigram counts are a (a,b)-keyed
    * aggregate with map-side combine; the context counts c(a,·) and
    * the vocab scalar broadcast (|vocab| rows / 1 row); per-transition
    * terms quantize to micro-units via `floor(ln·10⁶ + 0.5)`, sum as
    * BIGINT, and the mean is one raw IEEE division. Documents under
    * two tokens have no transitions and drop out, as in any n-gram LM.
    */
  def bigramLogprob(documents: DataFrame): DataFrame = {
    val words = documents
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
    val bg = words
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2)," +
          " i -> struct(w[i] as a, w[i+1] as b))")).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val cab = bg.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    val ca = bg.groupBy(col("a")).agg(count(lit(1)).as("c_a"))
    val vocab = documents
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    bg.join(cab, Seq("a", "b"))
      .join(broadcast(ca), Seq("a"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        floor(log((col("c_ab") + 1).cast("double") /
          (col("c_a") + col("v")).cast("double")) * lit(1000000.0d)
          + lit(0.5d)).as("lp_micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_micro")).as("s_micro"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("s_micro").cast("double") / col("n_bigrams").cast("double"))
          .as("avg_logprob_micro"))
  }

  /** Multinomial Naive Bayes classification — the cheap linear
    * document classifier a curation pipeline runs corpus-wide when a
    * neural scorer is too expensive (fastText-class quality/domain
    * routing; McCallum & Nigam 1998's multinomial event model): train
    * per-label add-one-smoothed token log-likelihoods and log-priors
    * on the labeled input, then score every document under every
    * label and emit the argmax. Trained and applied in ONE dataflow
    * (resubstitution — the gated row's shape); to classify a separate
    * corpus, union it in with its own ids and ignore its ground
    * labels downstream.
    *
    * score(d, ℓ) = ln P(ℓ) + Σ_{tok ∈ d} ln((c_{ℓ,tok}+1)/(c_ℓ+V)),
    * tokens split on single spaces; unseen (label, token) pairs take
    * the smoothing floor through the left join's coalesce.
    *
    * Scale shape: the model tables are label- and vocab-bounded
    * (c_{ℓ,tok} is a (label, token)-keyed aggregate with map-side
    * combine, never corpus-sized state); scoring fans each document's
    * token stream out by the |labels|-row broadcast dimension (the
    * audited tiny-enumeration cross, [[graft.queries]]'
    * pipeline_source_mix class) and hash-joins the model on
    * (label, token) — no corpus×corpus anything, and per-doc rollups
    * key on (doc_id, label). Determinism: per-token terms quantize to
    * micro-units via `floor(ln·10⁶ + 0.5)` (the [[unigramLogprob]]
    * discipline), sums are BIGINT, and the argmax tie-breaks on label
    * ascending — bit-stable across engines and parallelism. */
  def naiveBayesClassify(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), col("label"),
      explode(split(col("text"), " ")).as("tok"))
    nbScore(docs.select(col("doc_id"), col("text")),
      toks.groupBy(col("label"), col("tok"))
        .agg(count(lit(1)).as("c_lt")),
      docs.groupBy(col("label")).agg(count(lit(1)).as("n_docs")))
  }

  /** The NB scoring frame shared by the in-memory classifier and the
    * persisted-model serve: derives per-label token totals, the
    * corpus vocabulary scalar, and log-priors from the COUNT tables
    * (additive under append — the whole reason the stored form is raw
    * counts, the BM25-shards df-reaggregation discipline), fans each
    * incoming document's tokens across the |labels|-row broadcast
    * dimension, left-joins the model on (label, token) — unseen
    * tokens take the smoothing floor — and emits the per-doc argmax.
    */
  private def nbScore(incoming: DataFrame, cwc: DataFrame,
      docstats: DataFrame): DataFrame = {
    val ct = cwc.groupBy(col("label")).agg(sum(col("c_lt")).as("c_l"))
    val vocab = cwc.agg(countDistinct(col("tok")).as("v"))
    val pri = docstats
      .crossJoin(broadcast(docstats.agg(sum(col("n_docs")).as("n"))))
      .select(col("label"),
        floor(log(col("n_docs").cast("double") / col("n").cast("double")) *
          lit(1000000.0d) + lit(0.5d)).cast("long").as("prior_micro"))
    val toks = incoming.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    // The model side BROADCASTS (labels × vocab, never corpus-sized —
    // guide §3.1's "broadcast the side that fits"): the token stream
    // is the data-sized side and must not shuffle before its per-doc
    // partial aggregation. Round 19 — this was a shuffle join of
    // corpus-tokens × labels against the count table.
    val terms = toks
      .crossJoin(broadcast(docstats.select(col("label"))))
      .join(broadcast(cwc), Seq("label", "tok"), "left")
      .join(broadcast(ct), Seq("label"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("label"),
        floor(log((coalesce(col("c_lt"), lit(0L)) + 1).cast("double") /
          (col("c_l") + col("v")).cast("double")) * lit(1000000.0d) +
          lit(0.5d)).cast("long").as("lp"))
    // Argmax as a combine-friendly min(struct(−score, label)) — the
    // (score desc, label asc) contract verbatim, without the
    // row_number window's doc_id re-shuffle + sort (round 19; the
    // second aggregate map-side-combines on the (doc, label) rows the
    // first one emits).
    terms.groupBy(col("doc_id"), col("label"))
      .agg(sum(col("lp")).as("s"))
      .join(broadcast(pri), Seq("label"))
      .select(col("doc_id"), col("label"),
        (col("s") + col("prior_micro")).as("score_micro"))
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("score_micro")).as("neg"), col("label")))
        .as("m"))
      .select(col("doc_id"), col("m.label").as("pred"),
        (-col("m.neg")).as("score_micro"))
  }

  /** Persist the NB model as RAW COUNT tables — `counts/`
    * (label, tok, c_lt) and `docstats/` (label, n_docs) — not
    * log-space likelihoods: counts are ADDITIVE, so an appended batch
    * is just more rows and the serve re-aggregates per key (the BM25
    * sharded-df precedent); storing logs would bake in totals that an
    * append invalidates. Model size is labels × vocab, never corpus.
    *
    * Both tables are PARTITIONED by an integer `batch` id (the base
    * build is batch 0) — the whole point of the layout: an append is
    * a dynamic OVERWRITE of its own batch partition, so the
    * at-least-once redelivery that `foreachBatch` ingest implies
    * replaces the batch's rows instead of stacking a second copy.
    * A plain `mode("append")` here would double-count every replayed
    * token — sums are not duplicate-insensitive, unlike the
    * fingerprint and bloom layouts where duplicate rows are harmless
    * by construction. */
  def nbWriteModel(docs: DataFrame, dir: String): Unit = {
    val toks = docs.select(col("label"),
      explode(split(col("text"), " ")).as("tok"))
    toks.groupBy(col("label"), col("tok")).agg(count(lit(1)).as("c_lt"))
      .withColumn("batch", lit(0))
      .write.partitionBy("batch").mode("overwrite")
      .parquet(s"$dir/counts")
    docs.groupBy(col("label")).agg(count(lit(1)).as("n_docs"))
      .withColumn("batch", lit(0))
      .write.partitionBy("batch").mode("overwrite")
      .parquet(s"$dir/docstats")
    IndexMeta.write(docs.sparkSession, dir,
      "layout" -> "nb_model", "fmt" -> "2")
  }

  /** APPEND a labeled batch to a stored [[nbWriteModel]] layout under
    * an explicit `batchId` (> 0; the base build owns batch 0): the
    * batch's count rows land in their own `batch=<id>` partition and
    * the serve's per-key re-aggregation makes write(A)+append(B) ≡
    * write(A ∪ B) exactly (integer count addition is order-free).
    * New labels just appear; gates through the fleet's name+type
    * append contract.
    *
    * IDEMPOTENT under redelivery: the write is a dynamic partition
    * OVERWRITE of exactly `batch=<id>`, so a streaming micro-batch
    * replayed after a crash — including a crash BETWEEN the counts
    * and docstats writes, which transiently leaves likelihoods and
    * priors trained on different corpora — converges to one copy of
    * the batch in both tables once the replay lands (spec-pinned).
    * The one discipline the caller owes: never reuse a batchId for
    * DIFFERENT data, and only run [[nbCompactModel]] (which folds all
    * partitions into batch 0) from a quiesced maintenance window — a
    * replay of a pre-compaction batchId would re-add rows the fold
    * already absorbed.
    *
    * `batchId` is Int, not Long, because Hive-style partition values
    * round-trip through directory names as int (a Long column would
    * fail the append-schema gate against the reread layout); a
    * streaming micro-batch id casts at the ingest glue — 2³¹ batches
    * is 68 years at one per second; use `Math.toIntExact` there if
    * the stream could outlive that (a bare `.toInt` wrap could land
    * on a colliding positive id). */
  def nbAppendModel(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, dir: String, batchId: Int): Unit = {
    IndexMeta.requireMatch(spark, dir, "layout" -> "nb_model",
      "fmt" -> "2")
    require(batchId > 0,
      s"nbAppendModel: batchId must be > 0 (got $batchId) — batch 0 " +
        "belongs to the base build and compaction's folded form")
    val toks = batch.select(col("label"),
      explode(split(col("text"), " ")).as("tok"))
    val counts = toks.groupBy(col("label"), col("tok"))
      .agg(count(lit(1)).as("c_lt"))
      .withColumn("batch", lit(batchId))
    val stats = batch.groupBy(col("label"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("batch", lit(batchId))
    FsOps.requireAppendColumns(spark,
      s"$dir/counts", counts, "nbAppendModel")
    FsOps.requireAppendColumns(spark,
      s"$dir/docstats", stats, "nbAppendModel")
    counts.write.partitionBy("batch")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$dir/counts")
    stats.write.partitionBy("batch")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$dir/docstats")
  }

  /** Classify a corpus against a STORED [[nbWriteModel]] layout — the
    * continuous-curation serve: the frozen (or incrementally appended)
    * model routes every arriving shard without retraining; unseen
    * tokens take the smoothing floor through the scoring frame's left
    * join, so genuinely new vocabulary degrades gracefully instead of
    * erroring. Identical scoring contract to [[naiveBayesClassify]]
    * by construction (one shared frame). */
  def nbClassifyFromModel(spark: org.apache.spark.sql.SparkSession,
      incoming: DataFrame, dir: String): DataFrame = {
    IndexMeta.requireMatch(spark, dir, "layout" -> "nb_model",
      "fmt" -> "2")
    nbScore(incoming,
      spark.read.parquet(s"$dir/counts")
        .groupBy(col("label"), col("tok"))
        .agg(sum(col("c_lt")).as("c_lt")),
      spark.read.parquet(s"$dir/docstats")
        .groupBy(col("label")).agg(sum(col("n_docs")).as("n_docs")))
  }

  /** DELETE an appended batch from a stored [[nbWriteModel]] layout —
    * source retraction (a shard found contaminated, a takedown
    * request): the batch-partitioned layout makes unlearning EXACT
    * and O(model), never O(corpus) — dropping the batch's two
    * partitions removes precisely that batch's additive contribution,
    * so the served model equals a retrain without the batch
    * bit-for-bit (spec-pinned). Contrast the tombstoned ANN layouts
    * (per-row masks compacted later) and the bloom contract (no
    * removal without rebuild): here the partition IS the retraction
    * unit. Batch 0 is refused (the base build retracts by rebuild),
    * as is an id [[nbCompactModel]] has already folded away — the
    * compaction trade is retraction granularity for serve-side
    * re-agg width, and losing provenance silently honoring a retract
    * would be a lie. A crash between the two partition deletes heals
    * on replay (either remaining dir satisfies the presence gate);
    * only a replay of an already-COMPLETE delete throws, visibly. */
  def nbDeleteBatch(spark: org.apache.spark.sql.SparkSession,
      dir: String, batchId: Int): Unit = {
    import org.apache.hadoop.fs.Path
    IndexMeta.requireMatch(spark, dir, "layout" -> "nb_model",
      "fmt" -> "2")
    require(batchId > 0,
      s"nbDeleteBatch: batchId must be > 0 (got $batchId) — batch 0 " +
        "is the base build; retract it by rebuilding the model")
    val fs = FsOps.fsOf(spark, dir)
    val c = new Path(s"$dir/counts/batch=$batchId")
    val d = new Path(s"$dir/docstats/batch=$batchId")
    require(fs.exists(c) || fs.exists(d),
      s"nbDeleteBatch: batch $batchId is not present in the layout — " +
        "either it was never appended, it was already deleted, or a " +
        "compaction folded it into batch 0 (per-batch provenance is " +
        "gone after nbCompactModel; retract by rebuild)")
    FsOps.deleteIfExists(fs, c)
    FsOps.deleteIfExists(fs, d)
  }

  /** Compact a stored [[nbWriteModel]] layout: fold the rows that
    * [[nbAppendModel]] batches have stacked beside each other into
    * ONE row per (label, tok) / per label — the serve's per-key
    * re-aggregation is the identity on the compacted form, so serve
    * parity is exact by construction (spec-pinned bit-identical).
    * Worth running when append counts grow: the serve re-aggregates
    * the counts table on every classify, and k appends make that
    * shuffle k× wider than the model it encodes.
    *
    * Staged whole-table swaps ([[FsOps.swapInto]], the flat-layout
    * compaction convention — the model is labels × vocab, never
    * corpus-sized, so a full rewrite is cheap). Unlike the tombstoned
    * ANN layouts there is NO crash-window ordering hazard here: both
    * tables are pure additive counts and the serve re-aggregates, so
    * a crash between the two swaps leaves a mixed compacted/raw model
    * that still serves exactly. The one ordering constraint lives on
    * the INGEST side, not here: compaction folds every batch
    * partition into batch 0, so it must run from a quiesced window —
    * a streaming replay of a pre-compaction batchId afterwards would
    * re-add rows the fold already absorbed (see [[nbAppendModel]]). */
  def nbCompactModel(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    IndexMeta.requireMatch(spark, dir, "layout" -> "nb_model",
      "fmt" -> "2")
    val fs = FsOps.fsOf(spark, dir)
    FsOps.clearStaging(fs, dir)
    val countsStaging = s"$dir/counts_compacting"
    spark.read.parquet(s"$dir/counts")
      .groupBy(col("label"), col("tok"))
      .agg(sum(col("c_lt")).as("c_lt"))
      .withColumn("batch", lit(0))
      .write.partitionBy("batch").mode("overwrite")
      .parquet(countsStaging)
    FsOps.swapInto(fs, countsStaging, s"$dir/counts")
    val statsStaging = s"$dir/docstats_compacting"
    spark.read.parquet(s"$dir/docstats")
      .groupBy(col("label"))
      .agg(sum(col("n_docs")).as("n_docs"))
      .withColumn("batch", lit(0))
      .write.partitionBy("batch").mode("overwrite")
      .parquet(statsStaging)
    FsOps.swapInto(fs, statsStaging, s"$dir/docstats")
  }

  /** BPE merge-rule TRAINING (Sennrich et al. 2016, arXiv:1508.07909):
    * learn the first `merges` byte-pair merges from the corpus itself —
    * the other half of the tokenizer story next to [[tokenizeBpe]]'s
    * apply-side. Each round counts adjacent symbol pairs over the WORD
    * VOCABULARY (distinct words weighted by frequency — the classic
    * trick that makes BPE training corpus-size-independent: merges
    * touch |vocab| rows, never |corpus|), picks the most frequent pair
    * under a total order (count desc, then pair lexicographically),
    * and rewrites every vocabulary word's symbol sequence by merging
    * all leftmost-first non-overlapping occurrences.
    *
    * The rewrite is one `aggregate()` fold per word: append each
    * symbol, or replace the accumulator's tail when (tail, next) is
    * the chosen pair. The fold IS leftmost-first non-overlapping
    * because a merged token (strictly longer string) can never equal
    * the pair's left element again within the same round — equivalent
    * to the positional even-offset-in-run rule the oracle implements
    * relationally, including the a==b run case ("aaaa" → [aa][aa]).
    *
    * Scale shape: the driver loop is a CONSTANT `merges` rounds (an
    * unrolled plan, like the pagerank family); each round is one pair
    * aggregation with map-side combine over vocab rows + a one-row
    * broadcast of the winning pair (crossJoin(limit(1)) — no collect).
    * Output: (round, a, b, cnt), one row per learned merge.
    */
  def bpeTrain(documents: DataFrame, merges: Int = 3): DataFrame =
    bpeTrainLoop(documents, merges)._1.reduce(_ union _)

  /** Leftmost-first non-overlapping single-pair merge of the `syms`
    * array against the `ma`/`mb` columns — shared by the train loop
    * and [[bpeApply]], and property-pinned against an independent
    * positional-scan reference in PipelinePropertySpec. */
  private[graft] def bpeMergeFold: Column = expr(
    """aggregate(syms, array_repeat('', 0),
      |  (acc, x) -> CASE
      |    WHEN size(acc) > 0 AND element_at(acc, -1) = ma AND x = mb
      |    THEN concat(slice(acc, 1, size(acc) - 1),
      |                array(concat(ma, mb)))
      |    ELSE concat(acc, array(x)) END)""".stripMargin)

  /** The shared train loop: per-round winning pairs AND the final
    * merged vocabulary `(word, wc, syms)` — the apply side needs the
    * latter (the word→tokens map IS the training byproduct). */
  private def bpeTrainLoop(documents: DataFrame,
      merges: Int): (Seq[DataFrame], DataFrame) = {
    require(merges >= 1 && merges <= 8,
      s"merges must be in [1, 8] (unrolled plan depth), got $merges")
    var vocab = documents
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .withColumn("syms", split(col("word"), ""))
    val rules = (1 to merges).map { r =>
      val pairs = vocab
        // single-symbol words carry no pairs — and sequence(0, -1)
        // DESCENDS in Spark, so without the guard a 1-char word
        // produces i=0 over a 1-element array and syms[i+1] throws
        .filter(size(col("syms")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(0, size(syms) - 2)," +
            " i -> struct(syms[i] as a, syms[i+1] as b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wc")).as("cnt"))
      val best = pairs.orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
      vocab = vocab
        .crossJoin(broadcast(
          best.select(col("a").as("ma"), col("b").as("mb"))))
        .withColumn("syms", bpeMergeFold)
        .drop("ma", "mb")
      best.select(lit(r).as("round"), col("a"), col("b"), col("cnt"))
    }
    (rules, vocab)
  }

  /** Tokenize the corpus with the merges [[bpeTrain]] just learned —
    * the train→apply composition (the tokenizer analog of
    * sim_ivf_kmeans's train→index→search). The word→tokens map is the
    * training loop's OWN final vocabulary, so application is one
    * co-keyed join of the corpus's (doc, pos, word) explode against
    * |vocab| rows, then an ordered per-doc reassembly
    * (sort-by-position flatten — deterministic, no window). At 100 TB
    * the vocab side is the small one; the corpus never re-tokenizes
    * per round because the rounds already ran on the vocab. */
  def bpeApply(documents: DataFrame, merges: Int = 3): DataFrame =
    bpeTokenize(documents, bpeTrainLoop(documents, merges)._2,
      oovFallback = false)

  /** The tokenize join shared by [[bpeApply]] (live vocab lineage) and
    * [[bpeApplyFromVocab]] (stored vocab) — one implementation so the
    * two paths cannot diverge on the reassembly contract. With
    * `oovFallback` a word ABSENT from the vocabulary (possible only
    * when tokenizing a corpus the vocab wasn't trained on, e.g. a
    * stream of new documents) falls back to its character symbols —
    * the untrained base tokens, the standard OOV floor. The
    * train-corpus apply skips the fallback (every word is in its own
    * vocabulary by construction) and keeps the cheaper inner join —
    * the two modes are value-identical whenever no word is OOV. */
  private def bpeTokenize(documents: DataFrame, vocab: DataFrame,
      oovFallback: Boolean): DataFrame = {
    val joined = documents
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
      .join(vocab.select(col("word"), col("syms")), Seq("word"),
        if (oovFallback) "left" else "inner")
    (if (oovFallback)
       joined.withColumn("syms",
         coalesce(col("syms"), split(col("word"), "")))
     else joined)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("pos"), col("syms"))).as("ws"))
      .select(col("doc_id"),
        expr("flatten(transform(array_sort(ws), x -> x.syms))").as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        array_join(col("toks"), " ").as("tokens"))
  }

  /** Persist the trained word→tokens vocabulary — the BPE analog of
    * the IVF/BM25 index write: training (the `merges` unrolled rounds)
    * runs ONCE here, and every downstream tokenization — batch or a
    * `foreachBatch` micro-batch — is one join against the stored
    * table. Strings and string-arrays round-trip parquet exactly, so
    * [[bpeApplyFromVocab]] is bit-identical to [[bpeApply]] at the
    * same build (StreamingSpec pins the streaming parity). */
  def bpeWriteVocab(documents: DataFrame, dir: String,
      merges: Int = 3): Unit =
    bpeTrainLoop(documents, merges)._2
      .select(col("word"), col("syms"))
      .write.mode("overwrite").parquet(dir)

  /** Tokenize against a [[bpeWriteVocab]] table — the serve leg a
    * training-data pipeline runs continuously: the vocab is the small
    * broadcastable side, the incoming documents (a micro-batch, a new
    * crawl shard) never re-trigger training. */
  def bpeApplyFromVocab(spark: org.apache.spark.sql.SparkSession,
      dir: String, documents: DataFrame): DataFrame =
    bpeTokenize(documents, spark.read.parquet(dir), oovFallback = true)

  /** DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169,
    * "Data Selection for Language Models via Importance Resampling"):
    * per document, log w(x) = Σ_tokens [ln p_target(tok) − ln p_raw(tok)]
    * under Laplace-smoothed unigram LMs — the target LM fit on the
    * `targetSource` slice, the raw LM on the whole corpus, both
    * smoothed over the CORPUS vocabulary so every token has nonzero
    * mass in both. A resampler then keeps documents with probability
    * ∝ exp(log w) to shift the raw corpus toward the target domain
    * (compose with [[graft.operators.Sampling]]'s deterministic
    * Bernoulli thinning for the materialization step).
    *
    * Determinism: the two LMs collapse to one per-TYPE term table
    * (vocab rows), each term quantized to FIXED-POINT MICRO-UNITS as
    * `floor(ln(ratio)·10⁶ + 0.5)` — floor on a double is an exact IEEE
    * operation with one semantics everywhere, unlike `round(x, 6)` /
    * decimal-cast whose half-way and widening rules vary across engine
    * VERSIONS (this column was the one driver-red row of round 7 while
    * bit-exact locally; integers remove that rounding/widening surface
    * — the residual exposure is a libm `ln` landing within ~1 ulp of a
    * micro half-way boundary, ruled out here by measurement: the
    * closest term sits 3×10⁻⁸ away, eight orders past ulp). The
    * per-doc score is then a plain BIGINT sum — identical under any
    * partitioning, retry, or engine — and the per-token mean is one
    * raw IEEE int-ratio division (never rounded — the half-way drift
    * class).
    *
    * Scale shape: two token-keyed counting aggregates (map-side
    * combined) + a one-row totals broadcast; the corpus token stream
    * then joins the vocab-sized term table on the token and rolls up
    * per doc — two high-cardinality keyed shuffles, linear in token
    * count, no doc×vocab blowup anywhere. */
  def dsirWeights(documents: DataFrame, targetSource: String): DataFrame = {
    val toks = documents
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(
      count(lit(1)).as("cs"),
      sum(when(col("source") === targetSource, 1L).otherwise(0L)).as("ct"))
    val totals = counts.agg(
      sum(col("cs")).as("ns"), sum(col("ct")).as("nt"),
      count(lit(1)).as("vocab"))
    val terms = counts.crossJoin(broadcast(totals))
      .select(col("tok"),
        floor(log(((col("ct") + 1).cast("double") /
            (col("nt") + col("vocab")).cast("double")) /
          ((col("cs") + 1).cast("double") /
            (col("ns") + col("vocab")).cast("double"))) * lit(1000000.0d)
          + lit(0.5d)).as("term_micro"))
    toks.join(terms, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(col("term_micro")).as("log_weight_micro"))
      .select(col("doc_id"), col("n_tok"), col("log_weight_micro"),
        (col("log_weight_micro").cast("double") / col("n_tok").cast("double"))
          .as("avg_term_micro"))
  }

  /** Token counting two ways — whitespace splitting and a BPE-ish
    * pre-tokenization regex (letter runs, digit runs, single
    * non-alphanumeric marks: the GPT-2 pre-tokenizer's shape without
    * the contraction special cases) — plus their ratio, the "fertility"
    * a budget estimator uses to convert word counts into token counts.
    *
    * Determinism: both counts are integers and the fertility is one raw
    * IEEE division of them (never rounded — an int-ratio can land
    * exactly half-way and drift across engines). Scale shape: a single
    * codegen'd projection, no shuffle, no UDF — the regex runs inside
    * whole-stage codegen via regexp_extract_all. */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws"),
        // Explicit whitespace class, NOT \s: Java's \s includes \x0B
        // but DuckDB's RE2 \s does not — spelling the class out keeps
        // both engines counting identical marks on any input.
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f\\x0B]"), lit(0)))
          .cast("long").as("n_bpeish"))
      .withColumn("fertility",
        col("n_bpeish").cast("double") / col("n_ws").cast("double"))

  /** Distinct word n-grams per document, keyed by their md5 so the
    * downstream join shuffles a fixed-width hash, not the raw text. */
  def ngramHashes(documents: DataFrame, n: Int): DataFrame =
    documents
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"),
        explode(expr(s"sequence(1, size(w) - ${n - 1})")).as("i"), col("w"))
      .select(col("doc_id"),
        md5(concat_ws(" ",
          (0 until n).map(k => element_at(col("w"), col("i") + k)): _*)
          .cast("binary")).as("gram_hash"))
      .distinct()

  /** Benchmark decontamination: for each training document, how many
    * distinct word n-grams it shares with any benchmark document, and
    * with how many benchmark documents it collides. A training doc with
    * n_shared > 0 is contaminated and dropped before training.
    *
    * Scale shape: both sides explode to (doc, gram_hash) and the overlap
    * is an equi-join on the hash — partitioned by gram, never a cross
    * join. The benchmark side is small in practice, so Catalyst/AQE
    * broadcasts it; at equal sizes it degrades to a hash-partitioned
    * shuffle join, still linear in total gram count. */
  def contamination(train: DataFrame, benchmark: DataFrame,
      n: Int = 8): DataFrame = {
    val tg = ngramHashes(train, n)
    val bg = ngramHashes(benchmark, n)
      .select(col("gram_hash"), col("doc_id").as("bench_id"))
    tg.join(bg, "gram_hash")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram_hash")).as("n_shared"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** Repetition-based quality signals (the Gopher/MassiveText family of
    * filters): per document, the fraction of word occurrences taken by
    * the single most frequent word and the fraction of word-bigram
    * occurrences that belong to a repeated bigram, plus the composite
    * keep/drop flag a pretraining pipeline would filter on.
    *
    * Scale shape: both signals are per-document word/bigram histograms —
    * explode to (doc_id, term), aggregate twice keyed by doc_id. The
    * shuffle key is doc_id (never the term), so the fan-out is bounded
    * by document length and partial aggregation collapses each doc's
    * histogram map-side; no cross-document state exists at all, making
    * this embarrassingly parallel at any corpus size.
    */
  def repetitionStats(documents: DataFrame,
      maxTopWordFrac: Double = 0.20,
      maxDupBigramFrac: Double = 0.40): DataFrame = {
    val base = documents.select(col("doc_id"), split(col("text"), " ").as("w"))
    val wordStats = base
      .select(col("doc_id"), explode(col("w")).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"),
        // raw int-ratios throughout (see stats): bit-identical across
        // engines, no half-way rounding hazard
        (max(col("c")).cast("double") / sum(col("c")).cast("double"))
          .as("top_word_frac"))
    val bigramStats = base
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(
        expr("transform(sequence(1, size(w) - 1), " +
          "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
        .as("bigram"))
      .groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg((
        sum(when(col("c") > 1, col("c")).otherwise(lit(0))).cast("double") /
          sum(col("c")).cast("double")).as("dup_bigram_frac"))
    wordStats.join(bigramStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("top_word_frac"),
        coalesce(col("dup_bigram_frac"), lit(0.0)).as("dup_bigram_frac"),
        (col("top_word_frac") <= maxTopWordFrac &&
          coalesce(col("dup_bigram_frac"), lit(0.0)) <= maxDupBigramFrac)
          .as("keep"))
  }

  /** Corpus-level top-k word n-grams with occurrence and document
    * frequencies — the contamination/quality analysis view ("what
    * boilerplate dominates this crawl?"). One explode + one aggregation
    * keyed by gram (partial agg map-side); top-k rides the sort-limit
    * (per-partition bounded heaps, no global sort materialization).
    * Ties break on the gram text so the k-cut is deterministic. */
  def topNgrams(documents: DataFrame, n: Int = 2, k: Int = 50): DataFrame = {
    require(n >= 1 && k >= 1, "n and k must be positive")
    val gramExpr = (0 until n).map(j => s"element_at(w, i + $j)")
      .mkString("concat_ws(' ', ", ", ", ")")
    documents
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(
        expr(s"transform(sequence(1, size(w) - ${n - 1}), i -> $gramExpr)"))
        .as("gram"))
      // (gram, doc) pre-aggregation instead of count+countDistinct in
      // one pass: the mixed-distinct Expand would double the exploded
      // stream before its shuffle, while per-doc gram repeats collapse
      // map-side here (measured ~2× at sf0.1).
      .groupBy(col("gram"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("gram"))
      .agg(sum(col("c")).as("n_occurrences"), count(lit(1)).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("gram"))
      .limit(k)
  }

  /** Per-shard length-percentile filter: a document is kept when its
    * word count clears the `minPercentile` rank within its source — the
    * data-curation pass that drops each crawl's shortest tail without a
    * global threshold penalizing naturally-short sources. percent_rank
    * is exact rational arithmetic ((rank-1)/(n-1)), so the keep decision
    * is engine- and partitioning-stable; one window per source shard,
    * parallelism = shard count. */
  def lengthPercentileFilter(documents: DataFrame,
      minPercentile: Double = 0.1): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n_words"))
    documents
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
      .withColumn("pr", percent_rank().over(w))
      .select(col("doc_id"), col("source"), col("n_words"),
        // raw: percent_rank is one division of exact rank/count ints
        col("pr").as("pr_r"),
        (col("pr") >= minPercentile).as("keep"))
  }

  /** Sliding-window token chunking with overlap — the RAG/context-
    * window preparation pass: each document becomes ceil(n/stride)
    * chunks of up to `chunkSize` whitespace tokens, consecutive chunks
    * sharing `chunkSize - stride` tokens. A generator expression
    * (`explode(sequence(...))`) over a per-row token array: narrow,
    * codegen'd, no shuffle — output row count is the only cost, at any
    * corpus size. Tail chunks shorter than `chunkSize` are kept (their
    * real token count is emitted), so chunk boundaries never drop text.
    */
  def chunkByTokens(documents: DataFrame, chunkSize: Int,
      stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      "need 0 < stride <= chunkSize")
    documents
      // null-safe: sequence(1, -1) (size of a null array) is a runtime
      // error, not an empty generator — a null document must yield its
      // one empty chunk, not fail the task
      .select(col("doc_id"),
        split(coalesce(col("text"), lit("")), " ").as("w"),
        // split("", " ") is [""]: one token of length 0. Flag it so the
        // empty/null doc's single chunk reports n_tok = 0, not 1
        (length(coalesce(col("text"), lit(""))) === 0).as("empty"))
      .select(col("doc_id"), col("w"), col("empty"),
        explode(expr(s"sequence(1, size(w), $stride)")).as("start"))
      .select(col("doc_id"),
        expr(s"(start - 1) div $stride").cast("long").as("chunk_id"),
        col("start").cast("long").as("start_tok"),
        when(col("empty"), lit(0L))
          .otherwise(least(size(col("w")) - col("start") + 1, lit(chunkSize))
            .cast("long")).as("n_tok"),
        concat_ws(" ", slice(col("w"), col("start"), lit(chunkSize)))
          .as("chunk_text"))
  }

  /** Okapi BM25 relevance scores for the corpus against a bag of query
    * terms — the search-side analytic the reference's Elasticsearch sink
    * exists to serve (README.md:3: flow documents land in ES precisely
    * to be searched/ranked). Per (doc, term):
    * idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) with the
    * non-negative idf ln(1 + (N - df + 0.5)/(df + 0.5)), summed per doc.
    *
    * Scale shape: tf is a (doc_id, term) aggregate over the exploded
    * corpus (partial agg map-side); df and the corpus stats are tiny
    * aggregates broadcast back; the scoring join is doc-keyed. No global
    * sort, no collect — the same plan ranks a 100 TB corpus.
    *
    * Determinism: per-term weights are rounded to 6 dp and summed as
    * DECIMAL(18,6) — summing raw doubles is addition-order-dependent
    * and would drift between engines (the repo's standing oracle rule).
    */
  def bm25(documents: DataFrame, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val words = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val dl = words.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
    val tf = words.filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val avgdl = col("tot_dl").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val weight = idf * (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
    tf.join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(round(weight, 6).cast("decimal(18,6)")).cast("double").as("score"))
  }

  /** Materialize the BM25 INVERTED INDEX next to the corpus — the text
    * analog of [[graft.operators.Similarity.writeIvfIndex]], and the
    * structure the reference's Elasticsearch sink maintains internally
    * (ES is an inverted-index store; `decorator/index.js:222` serializes
    * documents precisely so ES can index their terms). Postings are
    * (term, doc_id, tf, dl) rows written PARTITIONED BY the term's
    * md5 hash bucket ([[Sampling.hashBucket]]), so a query touching a
    * handful of terms physically reads only those terms' partitions.
    * Document length rides on every posting (denormalized) and the
    * corpus stats (N, Σdl) are a one-row side table — serving never
    * re-scans the corpus for lengths. Term-hash partitioning beats
    * per-term files (term cardinality is unbounded; buckets are fixed)
    * and beats doc-partitioning (a query would touch every partition).
    */
  def writeInvertedIndex(documents: DataFrame, dir: String,
      nBuckets: Int = 64): Unit = {
    // A rebuild supersedes any prior deletions: stale tombstones left
    // under the target dir would wrongly mask (and double-subtract)
    // docs present in the NEW index. Checked delete — a false return
    // with the path still present must fail loudly, not leave the
    // stale mask in place (FsOps's discipline).
    val tp = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    FsOps.deleteIfExists(
      FsOps.fsOf(documents.sparkSession, dir), tp)
    val words = documents
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
    val dl = words.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    // Positions ride on every posting (sorted — collect_list order is
    // partition-nondeterministic), making the SAME index serve both
    // ranked (BM25, tf only) and positional (phrase) queries; tf is
    // derivable as size(positions) but stays materialized so ranked
    // serving never touches the arrays.
    words.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .join(dl, "doc_id")
      .withColumn("tbucket", Sampling.hashBucket(col("term"), nBuckets))
      .write.mode("overwrite").partitionBy("tbucket")
      .parquet(s"$dir/postings")
    dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"),
        lit(nBuckets).as("n_buckets"))
      .write.mode("overwrite").parquet(s"$dir/stats")
    // Sidecar: serving at a different bucketing than the build would
    // prune to the WRONG partitions and silently return partial
    // results; a future postings reshape bumps fmt so stale dirs are
    // rejected loudly instead of mis-served.
    IndexMeta.write(documents.sparkSession, dir, Seq(
      "layout" -> "inverted", "nBuckets" -> nBuckets.toString,
      "fmt" -> "1") ++ IndexSnapshot.buildTokens(): _*)
  }

  /** DELETE documents from a persisted [[writeInvertedIndex]] layout —
    * the tombstone path: the deleted docs' `(doc_id, dl)` land in a
    * side table (dl rides on every posting row, so ONE postings scan
    * at delete time captures it — needed because a doc with no
    * query-term postings still counts in the corpus stats), the
    * postings files are untouched, and the serves mask them. df is
    * computed from the MASKED postings and the stats subtract the
    * tombstoned docs' contribution, so a post-delete serve is
    * bit-identical to an index rebuilt without those docs
    * (spec-pinned — integer adjustments are exact). Serve overhead is
    * one broadcast anti-join, bounded by the deletion volume. */
  def deleteFromInvertedIndex(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    IndexMeta.requireMatch(spark, dir, "layout" -> "inverted",
      "fmt" -> "1")
    val del = ids.select(col("doc_id").cast("long").as("doc_id"))
      .distinct()
    val batch = spark.read.parquet(s"$dir/postings")
      .join(broadcast(del), Seq("doc_id"))
      .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
    // Merge-on-write: the stored table stays CANONICAL (one row per
    // deleted doc) so the serve-side stats aggregate needs no dedup
    // shuffle — a repeated delete collapses here, at delete time,
    // where a tiny rewrite is free. Staged sibling + rename, never
    // overwrite a table being read.
    val merged = shardTombstones(spark, dir)
      .map(_.unionByName(batch)).getOrElse(batch)
      .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
    FsOps.clearStaging(FsOps.fsOf(spark, dir), dir)
    val staging = s"$dir/tombstones_next"
    merged.write.mode("overwrite").parquet(staging)
    FsOps.swapInto(FsOps.fsOf(spark, dir), staging,
      s"$dir/tombstones")
    IndexSnapshot.bumpData(spark, dir)
  }

  /** Drain the tombstones of a [[deleteFromInvertedIndex]]'d layout by
    * rewriting postings and stats without the deleted docs — the
    * segment-merge analog: serve overhead returns to zero and the
    * space reclaims. This is a FULL postings rewrite (staged, whole-
    * dir swap after all Spark actions complete): a deleted doc's terms
    * hash across most buckets, so an affected-bucket-only rewrite
    * rarely skips anything — unlike the ANN cell layout where
    * deletions cluster. Stats subtract the tombstoned docs' exact
    * (count, Σdl), bit-identical to the serve-time adjustment, so a
    * compacted serve equals the masked serve equals a rebuild
    * (spec-pinned). Whole-dir swap also retires empty buckets, so
    * there is no retention corner here. */
  def compactInvertedIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    IndexMeta.requireMatch(spark, dir, "layout" -> "inverted",
      "fmt" -> "1")
    val fs = FsOps.fsOf(spark, dir)
    FsOps.clearStaging(fs, dir)
    shardTombstones(spark, dir).foreach { tombs =>
      val kept = spark.read.parquet(s"$dir/postings")
        .join(broadcast(tombs.select(col("doc_id"))), Seq("doc_id"),
          "left_anti")
      val newStats = spark.read.parquet(s"$dir/stats")
        .crossJoin(broadcast(tombs.agg(
          count(lit(1)).as("del_docs"),
          coalesce(sum(col("dl")), lit(0L)).as("del_dl"))))
        .select((col("n_docs") - col("del_docs")).as("n_docs"),
          (col("tot_dl") - col("del_dl")).as("tot_dl"),
          col("n_buckets"))
      kept.write.mode("overwrite").partitionBy("tbucket")
        .parquet(s"$dir/postings_next")
      newStats.write.mode("overwrite").parquet(s"$dir/stats_next")
      Seq("postings", "stats").foreach { t =>
        FsOps.swapInto(fs, s"$dir/${t}_next", s"$dir/$t")
      }
      FsOps.deleteIfExists(fs, new Path(s"$dir/tombstones"))
    }
    IndexSnapshot.bumpData(spark, dir)
  }

  private val TombSchema = "doc_id LONG, dl BIGINT"

  /** A shard's tombstone table if present — explicit schema so a
    * zero-part-file table reads cleanly (the
    * [[graft.operators.Similarity]] readTombstones discipline). */
  private def shardTombstones(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.schema(TombSchema).parquet(p.toString))
    else None
  }

  /** Union of the shards' tombstones, or None when no shard ever
    * deleted (plans unchanged for delete-free layouts). Each shard's
    * table is canonical — [[deleteFromInvertedIndex]] merges on write
    * — and a doc lives wholly in one shard, so the union needs no
    * dedup shuffle before the stats aggregate. */
  private def unionTombstones(spark: org.apache.spark.sql.SparkSession,
      dirs: Seq[String]): Option[DataFrame] = {
    val ts = dirs.flatMap(shardTombstones(spark, _))
    if (ts.isEmpty) None else Some(ts.reduce(_.unionByName(_)))
  }

  /** One opened [[writeInvertedIndex]] shard: its directory and the
    * [[IndexSnapshot]] of its current generation, checked against the
    * serve's bucketing (serving at a different bucketing than the
    * build would prune to the wrong partitions). */
  private final case class Shard(dir: String, snap: IndexSnapshot.Snapshot)

  private def openShards(spark: org.apache.spark.sql.SparkSession,
      dirs: Seq[String], nBuckets: Int): Seq[Shard] =
    dirs.map(d => Shard(d, IndexSnapshot.open(spark, d,
      "layout" -> "inverted", "nBuckets" -> nBuckets.toString,
      "fmt" -> "1")))

  /** A shard's sub-table read with the schema its build stored (a
    * delete or compaction rewrites rows, never columns) — no
    * schema-inference job per request. */
  private def shardTable(spark: org.apache.spark.sql.SparkSession,
      sh: Shard, table: String): DataFrame = {
    val path = s"${sh.dir}/$table"
    spark.read.schema(sh.snap.quantizer(s"$table.schema")(
      spark.read.parquet(path).schema)).parquet(path)
  }

  /** Whether a shard has a tombstone table — part of its generation. */
  private def tombstoned(spark: org.apache.spark.sql.SparkSession,
      sh: Shard): Boolean =
    sh.snap.data[java.lang.Boolean]("tombstones")(
      Boolean.box(shardTombstones(spark, sh.dir).isDefined))

  /** [[unionTombstones]] over opened shards. */
  private def openTombstones(spark: org.apache.spark.sql.SparkSession,
      shards: Seq[Shard]): Option[DataFrame] = {
    val ts = shards.filter(tombstoned(spark, _))
      .map(sh => spark.read.schema(TombSchema)
        .parquet(s"${sh.dir}/tombstones"))
    if (ts.isEmpty) None else Some(ts.reduce(_.unionByName(_)))
  }

  /** One shard's corpus-stat sums and, when it has tombstones, its
    * deleted docs' (count, Σdl) — each sum None where SQL's sum is
    * NULL, so shards combine exactly as the old serve-time union
    * aggregate did. */
  private final case class ShardStats(nDocs: Option[Long],
      totDl: Option[Long], deleted: Option[(Long, Long)])

  private def shardStats(spark: org.apache.spark.sql.SparkSession,
      sh: Shard): ShardStats =
    sh.snap.data("stats") {
      // The stats table is one row per build: collected and summed
      // here, with SQL's sum rules (NULLs skipped; all NULL is NULL).
      val raw = shardTable(spark, sh, "stats")
        .select(col("n_docs"), col("tot_dl")).collect()
      def total(i: Int) = {
        val xs = raw.filterNot(_.isNullAt(i)).map(_.getLong(i))
        if (xs.isEmpty) None else Some(xs.sum)
      }
      val del = if (!tombstoned(spark, sh)) None else {
        val r = spark.read.schema(TombSchema)
          .parquet(s"${sh.dir}/tombstones")
          .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head
        Some((r.getLong(0), r.getLong(1)))
      }
      ShardStats(total(0), total(1), del)
    }

  /** The masked (doc_id, term) posting pairs of a stored layout — the
    * lexical-overlap view serving COMPOSITIONS (hybrid RRF from
    * indexes) read: one row per (doc, term) by construction, with
    * tombstoned docs anti-joined out exactly as in the BM25 serve, so
    * a composition can never resurrect a deleted document. */
  private[operators] def maskedPostingPairs(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val post = spark.read.parquet(s"$dir/postings")
      .select(col("doc_id"), col("term"))
    unionTombstones(spark, Seq(dir))
      .map(t => post.join(
        broadcast(t.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_anti"))
      .getOrElse(post)
  }

  /** Serve a PHRASE query from persisted [[writeInvertedIndex]]
    * shard(s): each phrase term's postings load from its statically-
    * pruned bucket (same plan-time `isin` trick as the BM25 serve),
    * positions explode into the (doc_id, pos − offset) legs, and the
    * legs intersect exactly as in the corpus-side [[phraseMatch]] —
    * bit-identical output (PipelineSpec pins it; the gated twin shares
    * text_phrase_search's oracle). A document lives wholly in one
    * shard, so its position lists are intact and sharding is invisible
    * to the intersection. One Lucene-style index, two query classes:
    * ranked from tf, positional from the arrays. */
  def searchPhraseIndexShards(spark: org.apache.spark.sql.SparkSession,
      dirs: Seq[String], phrase: Seq[String],
      nBuckets: Int = 64): DataFrame = {
    require(dirs.nonEmpty, "at least one index shard required")
    require(phrase.nonEmpty, "phrase must have at least one term")
    val shards = openShards(spark, dirs, nBuckets)
    val tombs = openTombstones(spark, shards)
    val legs = phrase.zipWithIndex.map { case (t, i) =>
      val postings = shards.map(sh => shardTable(spark, sh, "postings")
          .filter(col("tbucket") === lit(Sampling.hashBucketLocal(t,
            nBuckets)) && col("term") === t)
          .select(col("doc_id"), col("positions")))
        .reduce(_.unionByName(_))
      tombs.map(tb => postings.join(broadcast(tb.select(col("doc_id"))),
          Seq("doc_id"), "left_anti"))
        .getOrElse(postings)
        .select(col("doc_id"), explode(col("positions")).as("pos"))
        .select(col("doc_id"), (col("pos") - i).as("start"))
    }
    legs.reduce(_.join(_, Seq("doc_id", "start")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
  }

  /** Single-shard [[searchPhraseIndexShards]]. */
  def searchPhraseIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, phrase: Seq[String], nBuckets: Int = 64): DataFrame =
    searchPhraseIndexShards(spark, Seq(dir), phrase, nBuckets)

  /** Serve a BM25 query from a persisted [[writeInvertedIndex]] layout:
    * the query terms' buckets are computed at PLAN time
    * ([[Sampling.hashBucketLocal]] — the terms are literals, so this is
    * pure driver arithmetic, not an action), giving a STATIC `isin`
    * partition filter: the postings scan lists and reads only the
    * consulted buckets' directories before any job runs. df comes from
    * the pruned postings themselves (a term's postings live wholly in
    * its bucket, so the count is exact); scores are bit-identical to
    * the corpus-scan [[bm25]] — same weight expression, same 6-dp
    * round, same exact-decimal sum (PipelineSpec pins the parity, and
    * the gated twin shares text_bm25's oracle). `nBuckets` must match
    * the write (it is also recorded in the stats table for audit).
    *
    * Scale shape: at 100 TB the index is built once (one corpus scan)
    * and every query reads |terms| buckets ≈ terms/nBuckets of the
    * postings — the whole point of serving from an index instead of
    * the corpus. */
  def searchInvertedIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, terms: Seq[String], nBuckets: Int = 64,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    searchInvertedIndexShards(spark, Seq(dir), terms, nBuckets, k1, b)

  /** [[searchInvertedIndex]] over SHARDED indexes — the incremental-
    * ingestion shape: each corpus batch writes its own
    * [[writeInvertedIndex]] layout (a document lives wholly in one
    * shard, so its tf/dl are exact there), and a query serves from the
    * union with NO rebuild. df and the corpus stats re-aggregate
    * across shards at serve time — integer sums, so a sharded serve is
    * bit-identical to one index over the union corpus (PipelineSpec
    * pins it; the gated twin shares text_bm25's oracle). Every shard's
    * postings scan keeps its own static bucket pruning; the union adds
    * no shuffle before the per-term df aggregate. At 100 TB this is
    * the difference between re-indexing the corpus per ingest batch
    * and indexing only the new batch. */
  def searchInvertedIndexShards(spark: org.apache.spark.sql.SparkSession,
      dirs: Seq[String], terms: Seq[String], nBuckets: Int = 64,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(dirs.nonEmpty, "at least one index shard required")
    val shards = openShards(spark, dirs, nBuckets)
    val buckets = terms.map(t => Sampling.hashBucketLocal(t, nBuckets))
      .distinct
    val tombs = openTombstones(spark, shards)
    // Corpus stats are scalars of the opened generations: the shards'
    // (n_docs, Σdl) sums, minus — when any shard deleted — the deleted
    // docs' exact (count, Σdl), so idf and avgdl equal an index
    // rebuilt without them. Integer sums, combined with SQL's NULL
    // rules, so the literals equal the one-row aggregate the serve
    // used to cross-join per request.
    val st = shards.map(shardStats(spark, _))
    val deleted = st.flatMap(_.deleted)
    def total(raw: Seq[Option[Long]], del: Seq[Long]) =
      (if (raw.forall(_.isEmpty)) None else Some(raw.flatten.sum - del.sum))
        .map(lit(_)).getOrElse(lit(null).cast("long"))
    val nDocs = total(st.map(_.nDocs), deleted.map(_._1))
    val totDl = total(st.map(_.totDl), deleted.map(_._2))
    val tf0 = shards.map(sh => shardTable(spark, sh, "postings")
        .filter(col("tbucket").isin(buckets: _*) &&
          col("term").isin(terms: _*))
        .select(col("term"), col("doc_id"), col("tf"), col("dl")))
      .reduce(_.unionByName(_))
    val tf = tombs.map(tb => tf0.join(broadcast(tb.select(col("doc_id"))),
        Seq("doc_id"), "left_anti"))
      .getOrElse(tf0)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val avgdl = totDl.cast("double") / nDocs.cast("double")
    val idf = log(lit(1.0) +
      (nDocs.cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val weight = idf * (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
    tf.join(broadcast(df), "term")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(round(weight, 6).cast("decimal(18,6)")).cast("double").as("score"))
  }

  /** Positional PHRASE search — the query class a positionless index
    * (tf-only postings, [[writeInvertedIndex]]) cannot answer: find
    * every document containing the words of `phrase` ADJACENT and in
    * order, with the match count. Classic positional-posting
    * intersection: each phrase term contributes a (doc_id, pos − i) leg
    * — its occurrences shifted back by the term's offset in the phrase
    * — and an exact phrase occurrence is precisely a (doc_id, start)
    * key on which ALL legs agree, so the intersection is a chain of
    * equi-joins on that composite key.
    *
    * Scale shape: each leg is a term-selective filter over the exploded
    * corpus (term dictionary pruning at 100 TB — rare terms make tiny
    * legs), and the legs co-partition on (doc_id, start); the final
    * rollup is doc-keyed. Nothing is quadratic in document length or
    * corpus size. */
  def phraseMatch(documents: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val words = documents.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
    val legs = phrase.zipWithIndex.map { case (t, i) =>
      words.filter(col("term") === t)
        .select(col("doc_id"), (col("pos") - i).as("start"))
    }
    legs.reduce(_.join(_, Seq("doc_id", "start")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
  }

  /** C4-style boilerplate filter: a word n-gram is boilerplate when it
    * appears in more than `maxDocFrac` of the corpus' documents; each
    * document reports how much of its gram mass is boilerplate and the
    * keep/drop decision a crawl-cleaning pass would apply.
    *
    * Scale shape: per-doc distinct grams explode once; document
    * frequency is a gram-keyed aggregate (partial agg map-side); the
    * corpus size rides in as a broadcast 1-row aggregate and the
    * boilerplate verdict joins back on the gram hash — fixed-width
    * shuffle keys throughout, never doc×doc. The per-doc rollup is
    * doc_id-keyed, so fan-out is bounded by document length. */
  def boilerplateNgramStats(documents: DataFrame, n: Int = 3,
      maxDocFrac: Double = 0.3): DataFrame = {
    val grams = ngramHashes(documents, n) // distinct (doc_id, gram_hash)
    val df = grams.groupBy(col("gram_hash")).agg(count(lit(1)).as("df"))
    val total = documents.agg(count(lit(1)).as("n_docs"))
    val flagged = df.crossJoin(broadcast(total))
      .select(col("gram_hash"),
        (col("df").cast("double") >
          col("n_docs").cast("double") * maxDocFrac).as("is_boiler"))
    grams.join(flagged, "gram_hash")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_boiler"))
      .select(col("doc_id"), col("n_grams"), col("n_boiler"),
        // raw int-ratio: bit-identical across engines (q_tpch_q2 rule)
        (col("n_boiler").cast("double") / col("n_grams").cast("double"))
          .as("boiler_frac"),
        (col("n_boiler").cast("double") <
          col("n_grams").cast("double") * 0.5).as("keep"))
  }

  /** Character-trigram Shannon entropy per document — the cheap
    * gibberish/low-diversity quality signal (low entropy = repeated
    * machine text, high = natural language). Trigrams explode via a
    * `sequence` generator (no UDF); via the identity
    * H = log2(n) - (Σ c·log2(c)) / n the whole computation is two
    * doc_id-keyed aggregations with NO join back (the naive p·log2(p)
    * form needs the total n per gram row, costing an extra shuffle) —
    * embarrassingly parallel at any corpus size.
    *
    * Determinism: each c·log2(c) term rounds to 6 dp and sums as exact
    * decimal (double summation is addition-order-dependent — the repo's
    * standing oracle rule); log2 is spelled ln(x)/ln(2) in BOTH engines
    * so the raw doubles agree bit-for-bit. The final H is one fixed
    * chain of IEEE ops over those exact inputs (can dip ~1ulp below
    * zero for uniform docs — callers clamp if they need H ≥ 0). */
  def trigramEntropy(documents: DataFrame): DataFrame = {
    val grams = documents
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"))
          .as("gram"))
    val hist = grams.groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("c"))
    val cd = col("c").cast("double")
    val term = cd * (log(cd) / log(lit(2.0)))
    hist.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"), count(lit(1)).as("n_distinct"),
        sum(round(term, 6).cast("decimal(18,6)")).as("s"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        (log(col("n_grams").cast("double")) / log(lit(2.0)) -
          col("s").cast("double") / col("n_grams").cast("double"))
          .as("entropy_bits"))
  }

  /** Same result as [[trigramEntropy]] through the codegen'd
    * `trigram_entropy` expression: one pass per row, zero shuffles
    * (the declarative form shuffles twice and materializes a
    * corpus×(len−2)-row gram table first). Bit-identical output —
    * TrainingOpsSpec pins exact row equality between the two on the
    * real corpus. Prefer this at scale; the declarative twin remains
    * as the engine-parity reference.
    */
  def trigramEntropyFast(documents: DataFrame): DataFrame =
    documents
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"),
        graft.functions.functions.trigram_entropy(col("text")).as("te"))
      .select(col("doc_id"),
        col("te.n_grams").as("n_grams"),
        col("te.n_distinct").as("n_distinct"),
        col("te.entropy_bits").as("entropy_bits"))

  /** Fuzzy near-duplicate pairs by edit distance, with prefix blocking:
    * candidates share their first `prefixLen` chars (an equi-join on a
    * tiny derived key — the classic blocking trick that keeps fuzzy
    * matching out of O(n²)), then the exact Levenshtein distance over
    * the last `window` chars filters them. Catches append-edited
    * near-dups that exact hashing misses. */
  def fuzzyPairs(corpus: DataFrame, prefixLen: Int = 16, window: Int = 40,
      maxDist: Int = 20): DataFrame = {
    val keyed = corpus.select(col("doc_id"),
      expr(s"left(text, $prefixLen)").as("blk"),
      expr(s"right(text, $window)").as("tail"))
    keyed.as("a")
      .join(keyed.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        levenshtein(col("a.tail"), col("b.tail")).as("lev"))
      .filter(col("lev") <= maxDist)
  }

  /** PII patterns for redaction: (name, regex, replacement tag). The
    * regexes stay inside the dialect-portable subset (literal char
    * classes + bounded quantifiers, no lookaround or backrefs) so
    * RE2-based engines reproduce the exact same match set as Java's
    * `java.util.regex` — the property the oracle depends on. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", """[a-z0-9._]+@[a-z0-9]+\.[a-z]+""", "<EMAIL>"),
    ("phone", """[0-9]{3}-[0-9]{4}""", "<PHONE>"))

  /** PII redaction — the compliance pass every crawl corpus takes
    * before training. Counts each pattern's matches on the original
    * text and rewrites every occurrence to its tag (Spark's
    * `regexp_replace` is global). One codegen'd projection, no shuffle;
    * the redacted body is emitted as its md5 so the result stays
    * narrow. */
  def redactPii(documents: DataFrame,
      patterns: Seq[(String, String, String)] = PiiPatterns): DataFrame = {
    val redacted = patterns.foldLeft(col("text")) {
      case (c, (_, rx, tag)) => regexp_replace(c, rx, tag)
    }
    val counts = patterns.map { case (name, rx, _) =>
      rxCount(col("text"), rx).cast("long").as(s"n_$name")
    }
    documents.select(
      col("doc_id") +: counts :+ md5(redacted.cast("binary")).as("redacted_md5"): _*)
  }

  /** Pointwise mutual information over the top-`vocabSize` vocabulary —
    * the word-association miner (Church & Hanks, CL 1990):
    * pmi(a,b) = ln(P(a,b) / (P(a)·P(b))) with document-level
    * probabilities, i.e. ln(n_ab·N / (n_a·n_b)) over distinct-doc
    * counts. High-PMI pairs surface templated boilerplate and topic
    * collocations; near-zero pairs are independent.
    *
    * Scale shape: the vocabulary (top-`vocabSize` terms by document
    * frequency, ties by term) is a tiny broadcast, so the corpus-side
    * postings SEMI-join against it prunes to ≤ vocabSize distinct terms
    * per document BEFORE any pairing. The pair expansion itself never
    * joins: each doc's surviving terms collect into one sorted array
    * (`collect_set` bounded by vocabSize — the dedup rides inside the
    * aggregation, so the postings shuffle ONCE, on doc_id) and the i<j
    * pairs explode in-task from array HOFs — a postings⋈postings
    * self-join on doc_id would shuffle the corpus-side postings twice
    * and sort-merge them, the shape that dies first at 100 TB. Measured
    * tradeoff (sf0.1, local[32]): the self-join variant is ~1.5 s
    * steady vs ~2.0 s here — the HOF pair expansion runs interpreted —
    * but it pays two shuffles + two sorts of the pruned postings where
    * this pays one shuffle and none; the crossover favors the array
    * form as soon as the shuffle is network-bound. The pair aggregation
    * then keys on (term_a, term_b) with full map-side partials. `minPairDocs` cuts the noise tail (PMI is notoriously
    * unstable at tiny counts). The PMI itself is one ln over exact
    * integer ratios, rounded to 6 dp — no summation order anywhere. */
  def cooccurrencePmi(documents: DataFrame, vocabSize: Int = 30,
      minPairDocs: Int = 5): DataFrame = {
    val postings = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    // orderBy+limit → TakeOrderedAndProject: distributed per-partition
    // top-k heaps, not a single-task global window over the vocabulary.
    val vocab = broadcast(
      postings.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .orderBy(col("df").desc, col("term").asc)
        .limit(vocabSize))
    val perDoc = postings
      .join(vocab.select(col("term")), Seq("term"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("term"))).as("ts"))
    val pairCol = flatten(transform(col("ts"), (a, i) =>
      transform(
        slice(col("ts"), i + lit(2), size(col("ts")) - i - lit(1)),
        b => struct(a.as("ta"), b.as("tb")))))
    val pairs = perDoc
      .select(explode(pairCol).as("p"))
      .groupBy(col("p.ta").as("term_a"), col("p.tb").as("term_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairDocs)
    val total = documents.agg(count(lit(1)).as("n_docs"))
    pairs
      .join(vocab.select(col("term").as("term_a"), col("df").as("n_a")),
        Seq("term_a"))
      .join(vocab.select(col("term").as("term_b"), col("df").as("n_b")),
        Seq("term_b"))
      .crossJoin(broadcast(total))
      .select(col("term_a"), col("term_b"), col("n_a"), col("n_b"),
        col("n_ab"),
        round(log(col("n_ab").cast("double") * col("n_docs").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double"))), 6)
          .as("pmi"))
  }
  /** Gopher-style quality-rule bundle (Rae et al. 2021, arXiv:
    * 2112.11446 §A1.1 — the MassiveText heuristics), re-thresholded
    * for this corpus's profile: each document gets the raw counters
    * plus one 0/1 verdict per rule and the bundle rollup. Every rule
    * that is a RATIO in the paper is expressed here as an INTEGER
    * cross-multiplication (mean word length in [4.4, 4.7] becomes
    * 44·n_words ≤ 10·len_nospace ≤ 47·n_words, and so on) — there is
    * no float anywhere, so the oracle comparison has no rounding
    * surface at all. One narrow projection over the corpus (per-row
    * array math, no explode, no shuffle before the output sort):
    * lineage-scan shaped at 100 TB.
    *
    * Rules: r_wc word count in [20, 80]; r_mean mean word length in
    * [4.4, 4.7]; r_rep top-word occupancy ≤ 1/10 (the repetition
    * guard); r_short short-word (≤ 2 chars) fraction ≤ 1/12;
    * r_stop ≥ 2 distinct stopwords present (the {the, a} subset that
    * exists in this vocabulary). */
  def gopherQualityRules(documents: DataFrame): DataFrame = {
    val ws = split(col("text"), " ")
    val withCounters = documents.select(
      col("doc_id"),
      size(ws).cast("long").as("n_words"),
      length(regexp_replace(col("text"), " ", "")).cast("long")
        .as("len_nospace"),
      // Top-word occupancy without a vocabulary shuffle: fold the
      // doc's own distinct words, counting each one's occurrences.
      array_max(transform(array_distinct(ws), w =>
        size(filter(ws, x => x === w)))).cast("long").as("max_wc"),
      size(filter(ws, w => length(w) <= 2)).cast("long").as("n_short"),
      (array_contains(ws, "the").cast("int") +
        array_contains(ws, "a").cast("int")).cast("long").as("n_stop"))
    withCounters.select(
      col("doc_id"), col("n_words"), col("len_nospace"), col("max_wc"),
      col("n_short"), col("n_stop"),
      (col("n_words") >= 20 && col("n_words") <= 80).cast("int")
        .as("r_wc"),
      (lit(44) * col("n_words") <= lit(10) * col("len_nospace") &&
        lit(10) * col("len_nospace") <= lit(47) * col("n_words"))
        .cast("int").as("r_mean"),
      (lit(10) * col("max_wc") <= col("n_words")).cast("int")
        .as("r_rep"),
      (lit(12) * col("n_short") <= col("n_words")).cast("int")
        .as("r_short"),
      (col("n_stop") >= 2).cast("int").as("r_stop"))
      .withColumn("n_pass",
        (col("r_wc") + col("r_mean") + col("r_rep") + col("r_short") +
          col("r_stop")).cast("long"))
      .withColumn("pass_all", (col("n_pass") === 5).cast("int"))
  }

  // ---------------------------------------------------------------
  // SymSpell deletion-neighborhood spell index
  // ---------------------------------------------------------------

  /** All length−1 deletion variants of a term, plus the term itself —
    * the SymSpell key set (Garbe's symmetric-delete algorithm, public
    * since 2012): two terms are within edit distance 1 iff their key
    * sets intersect at one of {w, del1(w)} × {p, del1(p)} in the
    * w = p / p ∈ del1(w) / w ∈ del1(p) configurations. Distinct keys
    * per term (duplicate letters collapse: del1("zoo") has "zo"
    * once). */
  private[graft] def spellKeys(term: Column): Column =
    array_distinct(concat(array(term),
      transform(sequence(lit(1), length(term)), i =>
        concat(term.substr(lit(1), i - lit(1)),
          term.substr(i + lit(1), length(term))))))

  /** Corpus vocabulary with frequencies — the spell index's payload
    * (candidates rank by corpus frequency, the SymSpell serving
    * contract). */
  private def spellVocab(documents: DataFrame): DataFrame =
    documents
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** The deterministic probe set the gated queries share: the 8
    * lexicographically-first distinct corpus words of length ≥ 5,
    * each with its 3rd character deleted (an edit-distance-1 typo
    * the corpus itself defines), plus the 2 first words of length 4
    * verbatim (the exact-hit path). Derived purely from the corpus
    * so the oracle reproduces it without a fixture exchange. */
  private def spellProbes(documents: DataFrame): DataFrame = {
    val words = documents
      .select(explode(split(col("text"), " ")).as("w")).distinct()
    val typos = words.filter(length(col("w")) >= 5)
      .orderBy(col("w")).limit(8)
      .select(concat(substring(col("w"), 1, 2),
        expr("substring(w, 4, length(w))")).as("probe_term"))
    val exact = words.filter(length(col("w")) === 4)
      .orderBy(col("w")).limit(2)
      .select(col("w").as("probe_term"))
    typos.unionByName(exact).distinct()
  }

  /** Spell-correction candidates for the shared probe set: expand
    * probe and vocabulary to their SymSpell key sets, join on key
    * equality, then verify with the exact edit distance (the
    * symmetric-delete join admits distance-2 false positives when
    * both sides deleted different characters — the verify filter is
    * part of the algorithm, not a safety net). Top 3 candidates per
    * probe by (freq desc, word asc).
    *
    * Scale shape: the index side is |vocab|·(avg_len+1) rows — a
    * hash-partitioned equi-join on the variant key, never a pair
    * scan over the vocabulary; probes broadcast. The verify
    * levenshtein runs on the POST-JOIN candidate set only (bounded
    * by key-bucket fan-out, not |vocab|²). */
  def spellCandidates(documents: DataFrame, k: Int = 3): DataFrame = {
    val vocab = spellVocab(documents)
    spellServe(spellProbes(documents),
      vocab.select(col("word"),
        explode(spellKeys(col("word"))).as("variant")),
      vocab.select(col("word"), col("freq")), k)
  }

  /** The serve frame all spell paths share. `keys` is the
    * (variant, word) SymSpell key table — duplicates across append
    * batches are legal, the candidate set is DISTINCT (probe, word);
    * `stats` is the additive (word, freq) table — freq SUMS across
    * rows, so an appended batch's partial counts reconstruct the
    * corpus totals exactly. This keys/stats split is what makes the
    * persisted layout appendable (the single-table spelling would
    * split a word's frequency across batch rows and double-count
    * whenever a probe's key set intersects a word's at more than one
    * variant — e.g. every exact hit). */
  private def spellServe(probes: DataFrame, keys: DataFrame,
      stats: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val expanded = broadcast(probes.select(col("probe_term"),
      explode(spellKeys(col("probe_term"))).as("variant")))
    val matched = expanded.join(keys, Seq("variant"))
      .select(col("probe_term"), col("word")).distinct()
      .filter(levenshtein(col("probe_term"), col("word")) <= 1)
    val freqs = stats.groupBy(col("word"))
      .agg(sum(col("freq")).as("freq"))
    val w = Window.partitionBy(col("probe_term"))
      .orderBy(col("freq").desc, col("word").asc)
    matched.join(freqs, Seq("word"))
      .withColumn("lev",
        levenshtein(col("probe_term"), col("word")).cast("int"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_term"), col("word"), col("freq"), col("lev"),
        col("rnk"))
  }

  private def spellKeysDir(dir: String) =
    s"${dir.stripSuffix("/")}/keys"
  private def spellStatsDir(dir: String) =
    s"${dir.stripSuffix("/")}/stats"

  /** Persist the SymSpell layout as TWO tables under `dir` — the
    * inverted-index discipline applied to spell serving:
    * `keys/` (variant, word), per-word independent and
    * dedup-at-serve, and `stats/` (word, freq), additive. The
    * sidecar pins the edit radius the keys were generated for — a
    * serve at a different radius would silently miss candidates. */
  def writeSpellIndex(documents: DataFrame, dir: String): Unit = {
    val vocab = spellVocab(documents)
    vocab.select(col("word"),
        explode(spellKeys(col("word"))).as("variant"))
      .write.mode("overwrite").parquet(spellKeysDir(dir))
    vocab.select(col("word"), col("freq"))
      .write.mode("overwrite").parquet(spellStatsDir(dir))
    IndexMeta.write(documents.sparkSession, dir,
      "layout" -> "symspell", "edits" -> "1", "fmt" -> "1")
  }

  /** APPEND a document batch to a stored [[writeSpellIndex]] layout.
    * Key rows are per-word independent (duplicates collapse in the
    * serve's DISTINCT) and freq rows are additive (the serve SUMS
    * per word), so build-half + append-half serves bit-identically
    * to the monolithic build — spec-pinned, and the gated query
    * shares the monolithic oracle. Sidecar-gated edit radius.
    *
    * Crash-window contract (keys WRITE FIRST, deliberately): a crash
    * between the two writes leaves appended keys without their stats
    * rows — existing words' duplicate keys vanish in the serve's
    * DISTINCT and a new word without a stats row drops at the freq
    * inner join, so the serve is exactly the PRE-append state; the
    * retry is then safe. The reverse order would serve inflated
    * frequencies for existing words in the window — a state NO
    * build/append sequence can produce. */
  def appendSpellIndex(spark: org.apache.spark.sql.SparkSession,
      documents: DataFrame, dir: String): Unit = {
    IndexMeta.requireMatch(spark, dir,
      "layout" -> "symspell", "edits" -> "1", "fmt" -> "1")
    val vocab = spellVocab(documents)
    vocab.select(col("word"),
        explode(spellKeys(col("word"))).as("variant"))
      .write.mode("append").parquet(spellKeysDir(dir))
    vocab.select(col("word"), col("freq"))
      .write.mode("append").parquet(spellStatsDir(dir))
  }

  /** DELETE words from a stored [[writeSpellIndex]] layout — the
    * vocabulary-curation path (a word is retracted, its keys must
    * stop producing candidates). Both tables rewrite without the
    * tombstoned words and swap via [[FsOps.swapInto]] (the
    * compaction commit discipline; deletion batch broadcasts, one
    * linear pass per table). Physically removed, so a later re-add
    * via [[appendSpellIndex]] needs no tombstone reconciliation —
    * exactly equivalent to a rebuild without the words
    * (spec-pinned bit-for-bit). Crash window: the keys table swaps
    * first, so a crash before the stats swap leaves orphaned stats
    * rows for the deleted words — harmless, the serve is keys-driven
    * and already returns the post-delete answer; the retry drains
    * them. */
  def deleteFromSpellIndex(spark: org.apache.spark.sql.SparkSession,
      words: DataFrame, dir: String): Unit = {
    IndexMeta.requireMatch(spark, dir,
      "layout" -> "symspell", "edits" -> "1", "fmt" -> "1")
    val del = words.select(col("word")).distinct()
    val fs = FsOps.fsOf(spark, dir)
    FsOps.clearStaging(fs, dir)
    Seq(spellKeysDir(dir), spellStatsDir(dir)).foreach { table =>
      val staging = s"${table}_next"
      spark.read.parquet(table)
        .join(broadcast(del), Seq("word"), "left_anti")
        .write.mode("overwrite").parquet(staging)
      FsOps.swapInto(fs, staging, table)
    }
  }

  /** Serve spell candidates from a stored [[writeSpellIndex]] layout —
    * bit-identical to [[spellCandidates]] (BIGINT freq and the
    * variant strings round-trip parquet exactly; spec-pinned). */
  def searchSpellIndex(spark: org.apache.spark.sql.SparkSession,
      documents: DataFrame, dir: String, k: Int = 3): DataFrame = {
    IndexMeta.requireMatch(spark, dir,
      "layout" -> "symspell", "edits" -> "1", "fmt" -> "1")
    spellServe(spellProbes(documents),
      spark.read.parquet(spellKeysDir(dir)),
      spark.read.parquet(spellStatsDir(dir)), k)
  }
}
