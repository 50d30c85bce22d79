package graft

import org.apache.spark.sql.functions._
import graft.operators.{ConnectedComponents, Dedup, Profiling, Sampling,
  TextAnalysis}

/** Training-pipeline operators added in round 3: connected-components
  * canonicalization, deterministic hash splits, IDF vocabulary,
  * benchmark decontamination, and edit-distance fuzzy pairing. */
class TrainingOpsSpec extends SparkSpec {
  import spark.implicits._

  test("components: transitive closure over disjoint clusters") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = ConnectedComponents.components(edges)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("components: a long chain converges to the minimum label") {
    // Worst-case diameter for min-propagation: a path graph. 12 vertices
    // need ~11 rounds — exercises the iteration/convergence loop.
    val edges = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = ConnectedComponents.components(edges)
      .as[(Long, Long)].collect().toMap
    assert(got.size === 12)
    assert(got.values.toSet === Set(1L))
  }

  test("keySkew: uniform keys profile flat, a hot key shows its ratio") {
    // 4 keys × 10 rows + one key with 60 rows: mean = 100/5 = 20,
    // so the hot key's ratio is exactly 3.0 and the cold keys' 0.5.
    val rows = (0 until 40).map(i => i % 4) ++ Seq.fill(60)(9)
    val got = Profiling.keySkew(rows.toDF("k"), $"k", topN = 5)
      .as[(Int, Long, Double)].collect()
    assert(got.head === ((9, 60L, 3.0)))
    assert(got.tail.forall { case (_, c, r) => c === 10L && r === 0.5 })
    // ratios are count-weighted to mean 1 by construction
    val weighted = got.map { case (_, c, r) => c * r }.sum / 100
    assert(math.abs(weighted - (60 * 3.0 + 40 * 0.5) / 100) < 1e-12)
  }

  test("groupedPercentiles equals percentile() on skewed integer data") {
    val rnd = new scala.util.Random(7)
    // duplicate-heavy + singleton groups, a 1-row group, and nulls
    // (percentile() ignores nulls; the distribution method must too)
    val rows: Seq[(String, java.lang.Long)] = Seq.tabulate(3000) { i =>
      val v: java.lang.Long = if (i % 211 == 0) null
        else java.lang.Long.valueOf((rnd.nextInt(40) * rnd.nextInt(40)).toLong)
      ("g" + (i % 7), v)
    } :+ (("lonely", java.lang.Long.valueOf(42L)))
    val df = rows.toDF("source", "x")
    val got = graft.operators.Profiling
      .groupedPercentiles(df, $"source", $"x",
        Seq(0.5 -> "p50", 0.9 -> "p90", 0.0 -> "p0", 1.0 -> "p100"))
      .collect().map(r => r.getAs[String]("k") ->
        (r.getAs[Double]("p50"), r.getAs[Double]("p90"),
          r.getAs[Double]("p0"), r.getAs[Double]("p100"))).toMap
    val want = df.groupBy($"source")
      .agg(percentile($"x", lit(0.5)), percentile($"x", lit(0.9)),
        percentile($"x", lit(0.0)), percentile($"x", lit(1.0)))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got.keySet === want.keySet)
    for (k <- want.keys) {
      val (g, w) = (got(k), want(k))
      assert(math.abs(g._1 - w._1) < 1e-9 && math.abs(g._2 - w._2) < 1e-9
        && g._3 === w._3 && g._4 === w._4, s"$k: $g vs $w")
    }
  }

  test("datasetCard: totals reconcile with the corpus, shares in [0,1]") {
    val docs = Tables.documents(spark, sfDir)
    val card = Profiling.datasetCard(docs).collect()
    assert(card.map(_.getAs[Long]("n_docs")).sum === docs.count())
    card.foreach { r =>
      val share = r.getAs[Double]("en_share")
      assert(share >= 0.0 && share <= 1.0)
      assert(r.getAs[Long]("n_en") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Double]("p50_chars") <= r.getAs[Double]("p90_chars"))
      assert(r.getAs[Double]("p90_chars") <= r.getAs[Long]("max_chars").toDouble)
      assert(r.getAs[Long]("n_tokens") > r.getAs[Long]("n_docs"))
    }
  }

  test("datasetCard keeps a source whose n_chars are all NULL") {
    import spark.implicits._
    val docs = Seq(
      ("web", "a b c", "en", 5L),
      ("web", "d e", "en", 3L),
      ("scan", "x y", "en", -1L))
      .toDF("source", "text", "lang", "n_chars")
      .withColumn("n_chars",
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("n_chars") < 0, null)
          .otherwise(org.apache.spark.sql.functions.col("n_chars")))
    val card = Profiling.datasetCard(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    // the all-NULL source must stay on the card with NULL percentiles,
    // not vanish through an inner join against the percentile side
    assert(card.keySet === Set("web", "scan"))
    assert(card("scan").isNullAt(card("scan").fieldIndex("p50_chars")))
    assert(card("web").getAs[Double]("p50_chars") > 0.0)
  }

  test("pointer jumping converges a long chain in O(log diameter) rounds") {
    // 40-vertex path: diameter 39 would blow plain propagation's default
    // budget; pointer jumping needs ~log2(39) ≈ 6 rounds.
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = ConnectedComponents.componentsPointerJump(edges, maxIter = 10)
      .as[(Long, Long)].collect().toMap
    assert(got.size === 40)
    assert(got.values.toSet === Set(1L))
  }

  test("components: refuses to return partial labels when maxIter is too low") {
    val edges = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      ConnectedComponents.components(edges, maxIter = 3).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("canonicalize: singletons are their own canonical doc") {
    val corpus = Seq(1L, 2L, 3L, 99L).toDF("doc_id")
    val edges = Seq((1L, 2L)).toDF("id_a", "id_b")
    val got = ConnectedComponents.canonicalize(corpus, edges)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, 1L, true), (2L, 1L, false),
      (3L, 3L, true), (99L, 99L, true)))
  }

  test("hashBucket is deterministic, in-range, and roughly uniform") {
    val df = (0L until 1000L).toDF("id")
    val buckets = df.select(Sampling.hashBucket(col("id"), 100).as("b"))
      .as[Int].collect()
    assert(buckets.forall(b => b >= 0 && b < 100))
    // Same input → same bucket on a re-run (pure function of the key).
    val again = df.select(Sampling.hashBucket(col("id"), 100).as("b"))
      .as[Int].collect()
    assert(buckets.toSeq === again.toSeq)
    // Roughly uniform: no bucket an order of magnitude off 10/bucket.
    val counts = buckets.groupBy(identity).view.mapValues(_.length)
    assert(counts.values.max < 30)
  }

  test("split: every row lands in exactly one named split at the cut points") {
    val df = (0L until 500L).toDF("doc_id")
    val got = Sampling.split(df, col("doc_id"))
      .select(col("bucket"), col("split")).as[(Int, String)].collect()
    assert(got.forall { case (b, s) =>
      s == (if (b < 80) "train" else if (b < 90) "valid" else "test")
    })
    assert(got.map(_._2).toSet === Set("train", "valid", "test"))
  }

  test("stratifiedSample keeps whole strata at 100% and is deterministic") {
    val df = (0L until 300L).map(i => (i, if (i % 3 == 0) "de" else if (i % 3 == 1) "en" else "zz"))
      .toDF("doc_id", "lang")
    val got = Sampling.stratifiedSample(df, col("doc_id"), col("lang"),
      Map("de" -> 100, "en" -> 40), 0)
      .select(col("doc_id"), col("lang")).as[(Long, String)].collect()
    // 100% stratum fully present; 0% default stratum fully absent.
    assert(got.count(_._2 == "de") === 100)
    assert(got.count(_._2 == "zz") === 0)
    val en = got.count(_._2 == "en")
    assert(en > 10 && en < 70)  // ~40% of 100, loose bound
    val again = Sampling.stratifiedSample(df, col("doc_id"), col("lang"),
      Map("de" -> 100, "en" -> 40), 0)
      .select(col("doc_id"), col("lang")).as[(Long, String)].collect()
    assert(got.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("idfVocabulary: document frequency and smoothed idf") {
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "a b b")).toDF("doc_id", "text")
    val got = TextAnalysis.idfVocabulary(docs)
      .select(col("term"), col("df"), col("idf_r"))
      .as[(String, Long, Double)].collect().sortBy(_._1)
    assert(got.map(t => t._1 -> t._2).toSeq === Seq("a" -> 3L, "b" -> 2L, "c" -> 1L))
    val idfC = got.find(_._1 == "c").get._3
    assert(math.abs(idfC - (math.log(4.0 / 2.0) + 1.0)) < 1e-5)
  }

  test("contamination finds train docs sharing an n-gram with the benchmark") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated text with no shared grams at all")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "xx the quick brown fox jumps over the lazy dog yy")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.contamination(train, bench, 8)
      .as[(Long, Long, Long)].collect()
    assert(got.length === 1)
    assert(got(0)._1 === 1L)     // doc 1 is contaminated
    assert(got(0)._2 >= 1L)      // shares at least one 8-gram
    assert(got(0)._3 === 1L)     // with exactly one benchmark doc
  }

  test("fuzzyPairs: prefix blocking + edit distance threshold") {
    val corpus = Seq(
      (1L, "shared prefix here with a common tail ending"),
      (2L, "shared prefix here with a common tail endinX"),     // lev 1
      (3L, "shared prefix here but a totally different story about ducks"),
      (4L, "other prefix entirely with a common tail ending")   // different block
    ).toDF("doc_id", "text")
    val got = TextAnalysis.fuzzyPairs(corpus, 16, 40, 5)
      .select(col("id_a"), col("id_b"), col("lev"))
      .as[(Long, Long, Int)].collect().sortBy(p => (p._1, p._2))
    assert(got.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L)))
    assert(got(0)._3 === 1)
  }

  test("repetitionStats: top-word and duplicate-bigram fractions") {
    val corpus = Seq(
      (1L, "a a a a b"),          // top word 4/5; bigrams: "a a"×3, "a b" → dup 3/4
      (2L, "one two three four five"), // all unique: top word 1/5 = 0.2
      (3L, "x")                   // single word: no bigrams at all
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(corpus)
      .as[(Long, Long, Double, Double, Boolean)].collect()
      .sortBy(_._1)
    assert(got(0) === ((1L, 5L, 0.8, 0.75, false)))
    assert(got(1) === ((2L, 5L, 0.2, 0.0, true)))
    assert(got(2) === ((3L, 1L, 1.0, 0.0, false)))
  }

  test("repetitionStats keep flag respects both thresholds independently") {
    // "t t u v w x y z p q" — top word 2/10 = 0.2 (at the boundary,
    // kept); all bigrams unique.
    val corpus = Seq((1L, "t t u v w x y z p q")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(corpus)
      .as[(Long, Long, Double, Double, Boolean)].collect()
    assert(got(0)._3 === 0.2)
    assert(got(0)._5 === true)
  }

  test("bm25: rarer terms weigh more, higher tf scores higher, misses absent") {
    val corpus = Seq(
      (1L, "cat cat cat dog bird bird bird bird"), // cat tf=3
      (2L, "cat dog fish fish fish fish fish fish"), // cat tf=1, same dl
      (3L, "dog bird fish fish fish fish fish fish"), // no query term
      (4L, "rare dog fish fish fish fish fish fish")  // df(rare)=1 < df(cat)=2
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25(corpus, Seq("cat", "rare"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // doc 3 has no query term at all → no output row
    assert(got.keySet === Set(1L, 2L, 4L))
    // equal document lengths: tf=3 must beat tf=1 for the same term
    assert(got(1L)._3 > got(2L)._3)
    // df(rare)=1 < df(cat)=2 → at tf=1 and equal dl, rare outweighs cat
    assert(got(4L)._3 > got(2L)._3)
    assert(got.values.forall(_._3 > 0.0))
  }

  test("topNgrams: counts, doc frequencies, deterministic k-cut") {
    val corpus = Seq(
      (1L, "a b a b c"),   // "a b"×2, "b a"×1, "b c"×1
      (2L, "a b x"),       // "a b"×1, "b x"×1
      (3L, "z")            // no bigrams
    ).toDF("doc_id", "text")
    val got = TextAnalysis.topNgrams(corpus, n = 2, k = 3)
      .as[(String, Long, Long)].collect()
    assert(got.head === (("a b", 3L, 2L))) // 3 occurrences across 2 docs
    assert(got.length === 3)
    // ties (all 1-occurrence) broken by gram text ascending
    assert(got(1)._1 < got(2)._1)
  }

  test("lengthPercentileFilter drops each source's shortest tail only") {
    val docs = (1 to 10).map(i => (i.toLong, "s1", Seq.fill(i)("w").mkString(" "))) ++
      Seq((100L, "s2", "w"), (101L, "s2", "w w w"))
    val got = TextAnalysis.lengthPercentileFilter(
        docs.toDF("doc_id", "source", "text"), 0.1)
      .as[(Long, String, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // s1: ranks 0/9 .. 9/9 — only the 1-word doc sits below the 0.1 cut
    assert(!got(1L)._5 && got(2L)._5 && got(10L)._5)
    assert(got(2L)._4 === 1.0 / 9.0) // raw percent_rank, bit-exact
    // s2 percentiles are computed within s2, not against s1's lengths
    assert(!got(100L)._5 && got(101L)._5)
  }

  test("lshIncrementalPairs: cross-side candidates only, finds injected dups") {
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different text about query engines and columnar scans"))
    val nw = Seq(
      (100001L, "the quick brown fox jumps over the lazy dog again and again"), // dup of 1
      (100002L, "the quick brown fox jumps over the lazy dog again and again"), // dup of 1 AND of 100001
      (100003L, "unrelated fresh content nothing shared with any base document"))
    val sigs = Dedup.minhashSignatures(Dedup.shingles(
      (base ++ nw).toDF("doc_id", "text")))
    val got = Dedup.lshIncrementalPairs(sigs, col("doc_id") >= 100000L)
      .as[(Long, Long)].collect().toSet
    // both injected copies pair with base doc 1...
    assert(got.contains((100001L, 1L)) && got.contains((100002L, 1L)))
    // ...but never with each other (within-shard pair) or reversed
    assert(got.forall { case (n, b) => n >= 100000L && b < 100000L })
    assert(!got.exists(_._1 === 100003L)) // fresh content pairs with nothing
  }

  test("packSequences: concat-and-split invariants per shard") {
    val docs = Seq(
      (1L, "a", 60L), (2L, "a", 50L), (3L, "a", 10L), (4L, "a", 200L),
      (10L, "b", 100L), (11L, "b", 100L), (12L, "b", 1L)
    ).map { case (id, src, n) => (id, src, Seq.fill(n.toInt)("w").mkString(" ")) }
      .toDF("doc_id", "source", "text")
    val got = Sampling.packSequences(docs, col("source"),
        size(split(col("text"), " ")), capacity = 100)
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // shard a: starts 0,60,110,120 → seq 0@0, 0@60, 1@10, 1@20
    assert(got(1L) === ((1L, "a", 60L, 0L, 0L)))
    assert(got(2L) === ((2L, "a", 50L, 0L, 60L)))
    assert(got(3L) === ((3L, "a", 10L, 1L, 10L)))
    assert(got(4L) === ((4L, "a", 200L, 1L, 20L)))
    // shard b packs independently from offset 0
    assert(got(10L) === ((10L, "b", 100L, 0L, 0L)))
    assert(got(11L) === ((11L, "b", 100L, 1L, 0L)))
    assert(got(12L) === ((12L, "b", 1L, 2L, 0L)))
    // global invariant: start position == seq_id * capacity + seq_offset
    // and offsets stay inside the capacity
    for ((_, _, _, seqId, off) <- got.values) assert(off >= 0 && off < 100)
  }

  test("consistentShard: adding a shard moves keys ONLY to the new shard") {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"))
    val before = Sampling.consistentShard(docs, col("doc_id"), nShards = 4)
      .select(col("doc_id"), col("shard")).as[(Long, Int)].collect().toMap
    val after = Sampling.consistentShard(docs, col("doc_id"), nShards = 5)
      .select(col("doc_id"), col("shard")).as[(Long, Int)].collect().toMap
    assert(before.keySet === after.keySet)
    // every shard is actually used
    assert(before.values.toSet === (0 until 4).toSet)
    val moved = before.keys.filter(k => before(k) != after(k)).toSeq
    // the consistent-hashing contract: relocated keys all land on the
    // NEW shard (no old→old movement), and the moved fraction is near
    // 1/5 (vnodes smooth it; allow a wide band)
    assert(moved.nonEmpty)
    for (k <- moved) assert(after(k) === 4, s"key $k moved to old shard")
    val frac = moved.size.toDouble / before.size
    assert(frac > 0.05 && frac < 0.45, s"moved fraction $frac")
  }

  test("boilerplateNgramStats flags corpus-dominating grams, spares rare ones") {
    // "x y z" appears in 3/4 docs (df 0.75 > 0.3 → boilerplate);
    // each doc's other grams are unique to it.
    val docs = Seq(
      (1L, "x y z a b c"), (2L, "x y z d e f"), (3L, "x y z g h i"),
      (4L, "j k l m n o")).toDF("doc_id", "text")
    val got = TextAnalysis.boilerplateNgramStats(docs, n = 3, maxDocFrac = 0.3)
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // docs 1-3: 4 grams each ("x y z", "y z a", "z a b", "a b c"), one
    // of which ("x y z") is boilerplate
    for (id <- Seq(1L, 2L, 3L)) {
      val (_, nGrams, nBoiler, frac, keep) = got(id)
      assert(nGrams === 4L && nBoiler === 1L && frac === 0.25 && keep)
    }
    val (_, n4, b4, _, k4) = got(4L)
    assert(n4 === 4L && b4 === 0L && k4)
  }

  test("trigramEntropy: uniform text maximizes, repeated text minimizes") {
    val docs = Seq(
      (1L, "aaaaaaaaaa"),          // 8 identical trigrams → entropy 0
      (2L, "abcdefghij")           // 8 distinct trigrams → entropy 3 bits
    ).toDF("doc_id", "text")
    val got = TextAnalysis.trigramEntropy(docs)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 === 8L && got(1L)._3 === 1L && got(1L)._4 === 0.0)
    assert(got(2L)._2 === 8L && got(2L)._3 === 8L &&
      math.abs(got(2L)._4 - 3.0) < 1e-4)
    // invariant on real data: 0 <= entropy <= log2(n_distinct); the
    // log-identity form can dip ~1ulp below zero on uniform docs
    val real = TextAnalysis.trigramEntropy(Tables.documents(spark, sfDir))
    val bad = real.filter(col("entropy_bits") < -1e-9 ||
      col("entropy_bits") >
        log(col("n_distinct").cast("double")) / log(lit(2.0)) + 1e-3).count()
    assert(bad === 0)
  }

  test("materializeMixture: copies = floor(epochs) + hash-Bernoulli extra") {
    // Two sources, each 10 docs × 10 tokens → tokens=100/source,
    // n_sources=2, budget 500 → epochs = min(4, 500/200) = 2.5 for
    // both: every doc gets 2 copies + 1 more iff bucket < 2048.
    val docs = (0L until 20L).map(i =>
      (i, if (i < 10) "s1" else "s2", Seq.fill(10)("w").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val got = Sampling.materializeMixture(docs, budgetTokens = 500.0)
      .as[(Long, String, Int)].collect()
    val perDoc = got.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    assert(perDoc.keySet === (0L until 20L).toSet)   // nothing dropped
    (0L until 20L).foreach { id =>
      val copies = perDoc(id)
      assert(copies === (1 to copies.length), s"doc $id copy numbering")
      assert(copies.length == 2 || copies.length == 3, s"doc $id: $copies")
    }
    // determinism: a second run is identical
    val again = Sampling.materializeMixture(docs, budgetTokens = 500.0)
      .as[(Long, String, Int)].collect()
    assert(got.sortBy(r => (r._1, r._3)).toSeq ===
      again.sortBy(r => (r._1, r._3)).toSeq)
    // aggregate lands near epochs × n_docs (within the 1/4096 granularity)
    assert(got.length >= 40 && got.length <= 60)
  }

  test("temperatureMixture: alpha endpoints and low-resource boost ordering") {
    // Three sources with 10/100/1000 docs of 10 tokens each.
    val docs = ((0L until 10L).map(i => (i, "small", "a b c d e f g h i j")) ++
      (100L until 200L).map(i => (i, "mid", "a b c d e f g h i j")) ++
      (1000L until 2000L).map(i => (i, "big", "a b c d e f g h i j")))
      .toDF("doc_id", "source", "text")
    // alpha = 1: proportional sampling — boost 1 for every source
    // (within the 1e-6 fixed-point quantization of the pow terms).
    val prop = Sampling.temperatureMixture(docs, alpha = 1.0)
      .select($"source", $"boost").as[(String, Double)].collect().toMap
    assert(prop.values.forall(b => math.abs(b - 1.0) < 1e-4), prop.toString)
    // alpha = 0: uniform — every source gets share 1/3 regardless of size.
    val unif = Sampling.temperatureMixture(docs, alpha = 0.0)
      .select($"source", $"temp_share").as[(String, Double)].collect().toMap
    assert(unif.values.forall(s => math.abs(s - 1.0 / 3) < 1e-4), unif.toString)
    // alpha = 0.3: boost strictly decreasing in source size, >1 only
    // for the under-represented sources, and shares still sum to 1.
    val t = Sampling.temperatureMixture(docs, alpha = 0.3)
      .select($"source", $"temp_share", $"boost")
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(t("small")._2 > t("mid")._2 && t("mid")._2 > t("big")._2)
    assert(t("small")._2 > 1.0 && t("big")._2 < 1.0)
    assert(math.abs(t.values.map(_._1).sum - 1.0) < 1e-9)
  }

  test("driftPsi: identical sources score near 0, a shifted source scores high") {
    // A and B draw the same lengths (stable); C sits 1400 chars higher
    // (drifted). PSI is smoothing-small for A/B, large for C.
    val docs = ((1 to 50).map(i => ("a", 100L + (i % 5) * 200)) ++
      (1 to 50).map(i => ("b", 100L + (i % 5) * 200)) ++
      (1 to 50).map(i => ("c", 1500L + (i % 2) * 200)))
      .zipWithIndex.map { case ((s, n), i) => (i.toLong, s, n) }
      .toDF("doc_id", "source", "n_chars")
    val got = Profiling.driftPsi(docs)
      .select("source", "n_docs", "psi")
      .as[(String, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet === Set("a", "b", "c"))
    assert(got.values.forall(_._2 === 50L))
    assert(got("a")._3 === got("b")._3)         // identical dists, same PSI
    // C is 2/3 of a corpus away from the pooled reference, A/B only 1/3
    assert(got("c")._3 > got("a")._3 + 0.3)
    assert(got.values.forall(_._3 >= 0.0))      // PSI is non-negative
  }

  test("containmentPairs: embedded doc scores 1.0 one way, Jaccard-low both") {
    // Doc 2 = doc 1 plus a long suffix: every shingle of 1 is in 2.
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e f g h i j k l")).toDF("doc_id", "text")
    val sh = Dedup.shingles(docs)
    val cand = Seq((1L, 2L)).toDF("id_a", "id_b")
    val got = Dedup.containmentPairs(sh, cand)
      .as[(Long, Long, Long, Double, Double)].collect()
    // 1 has 3 shingles, all shared; 2 has 10 shingles.
    assert(got.toSeq === Seq((1L, 2L, 3L, 1.0, 0.3)))
  }

  test("epochShuffle: deterministic, epochs differ, positions contiguous") {
    val docs = (1L to 40L).toDF("doc_id")
    val a = Sampling.epochShuffle(docs, $"doc_id", epochs = 2, shards = 4)
      .as[(Long, Int, Int, Int)].collect().sortBy(r => (r._2, r._3, r._4))
    val b = Sampling.epochShuffle(docs, $"doc_id", epochs = 2, shards = 4)
      .as[(Long, Int, Int, Int)].collect().sortBy(r => (r._2, r._3, r._4))
    assert(a.toSeq === b.toSeq)                      // pure function of key
    // every (epoch, shard) numbers its rows 1..n with no gaps
    a.groupBy(r => (r._2, r._3)).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted.toSeq === (1 to rows.length).toSeq)
    }
    // the two epochs produce genuinely different schedules
    val ord0 = a.filter(_._2 == 0).sortBy(r => (r._3, r._4)).map(_._1).toSeq
    val ord1 = a.filter(_._2 == 1).sortBy(r => (r._3, r._4)).map(_._1).toSeq
    assert(ord0 !== ord1)
    assert(ord0.sorted === ord1.sorted)              // same corpus each epoch
  }

  test("rangeSearch: returns exactly the neighbors within the radius") {
    val vecs = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(1.0, 1.0)), (4L, Seq(-1.0, 0.0)))
      .toDF("vec_id", "v")
    val probes = vecs.filter($"vec_id" === 1)
    val got = graft.operators.Similarity.rangeSearch(vecs, probes, 0.5)
      .select("probe_id", "neighbor_id", "cos_r")
      .as[(Long, Long, Double)].collect()
    // cos(v1,v3) = 1/sqrt(2) ≈ 0.707107; v2 (0.0) and v4 (-1.0) are out.
    assert(got.toSeq === Seq((1L, 3L, 0.707107)))
  }

  test("tokenCounts: BPE-ish regex splits words, digits, and marks") {
    val docs = Seq(
      (1L, "hello world"),                  // 2 ws, 2 bpeish
      (2L, "it's a2b ready--set, go!"),     // 4 ws; it/'/s/a/2/b/ready/-/-/set/,/go/! = 13
      (3L, "one")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenCounts(docs)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 2L, 2L, 1.0)))
    assert(got(2L) === ((2L, 4L, 13L, 13.0 / 4)))
    assert(got(3L) === ((3L, 1L, 1L, 1.0)))
  }

  test("duplicationMass: exact dups score 1.0, originals 0.0") {
    // Docs 1 and 2 are identical (every 5-gram shared); doc 3 is
    // disjoint; doc 4 shares its first 5 tokens with doc 3 only.
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "a b c d e f g"),
      (3L, "p q r s t u v"),
      (4L, "p q r s t x y")).toDF("doc_id", "text")
    val got = Dedup.duplicationMass(docs, n = 5)
      .select("doc_id", "n_grams", "dup_frac")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 3L, 1.0)) && got(2L) === ((2L, 3L, 1.0)))
    assert(got(3L) === ((3L, 3L, 1.0 / 3)))   // only "p q r s t" shared
    assert(got(4L) === ((4L, 3L, 1.0 / 3)))
  }

  test("segmentDedup: corpus-shared segments drop, docs reassemble in order") {
    // Docs 1 and 4 are exact duplicates (every segment shared); doc 2
    // shares only its first full segment with them; doc 3 is disjoint
    // and shorter than one segment (partial-segment path).
    val t1 = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 tail1 only"
    val t2 = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 tail2 different words"
    val docs = Seq((1L, t1), (2L, t2), (3L, "z1 z2 z3"), (4L, t1))
      .toDF("doc_id", "text")
    val got = Dedup.segmentDedup(docs)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 2L, 2L, "")))
    assert(got(4L) === ((4L, 2L, 2L, "")))
    assert(got(2L) === ((2L, 2L, 1L, "tail2 different words")))
    assert(got(3L) === ((3L, 1L, 0L, "z1 z2 z3")))
  }

  test("segmentDedup: a dropped middle segment splices survivors in order") {
    val pre = (1 to 10).map(i => s"a$i")
    val shared = (1 to 10).map(i => s"s$i")
    val post = (1 to 10).map(i => s"c$i")
    val docs = Seq(
      (1L, (pre ++ shared ++ post).mkString(" ")),
      (2L, shared.mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.segmentDedup(docs)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // Doc 1's middle segment drops; the clean text is pre+post spliced
    // back in original order (the j-sorted reassembly contract).
    assert(got(1L) === ((1L, 3L, 1L, (pre ++ post).mkString(" "))))
    assert(got(2L) === ((2L, 1L, 1L, "")))
  }

  test("segmentDedup: the 64-bit shuffle key is collision-free on the " +
      "gated corpus, so hash-keyed semantics equal string semantics") {
    // segmentDedup aggregates and re-joins on xxhash64(seg), not the
    // segment string (the 100 TB shuffle-bytes adaptation). A
    // collision would merge two distinct segments' doc-frequencies —
    // conservative for the cleanup, but a divergence from the gated
    // oracle's string semantics. Pin: on the corpus the key is
    // injective, so the two semantics coincide and the string-keyed
    // oracle stays exact.
    val docs = Tables.documents(spark, sfDir)
    val segs = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        explode(expr("sequence(0, cast((size(w) - 1) / 10 as int))"))
          .as("j"), col("w"))
      .select(concat_ws(" ",
        slice(col("w"), col("j") * 10 + 1, lit(10))).as("seg"))
    val counts = segs
      .agg(countDistinct(col("seg")).as("n_seg"),
        countDistinct(xxhash64(col("seg"))).as("n_key"))
      .as[(Long, Long)].head()
    assert(counts._1 > 0 && counts._1 === counts._2,
      s"xxhash64 collided on the corpus segments: ${counts._1} " +
        s"distinct segments -> ${counts._2} distinct keys")
  }

  test("segmentDedup: a key collision RAISES instead of silently " +
      "merging two segments' doc-frequencies") {
    // A real xxhash64 collision can't be constructed, so the raise
    // path is pinned through the injectable key hook with a degenerate
    // key that collides everything. Two distinct segments under one
    // key → the witness-hash min/max disagree → df evaluates
    // raise_error, failing the job loudly instead of merging counts.
    val docs = Seq((1L, "aa bb"), (2L, "cc dd")).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.segmentDedupKeyed(docs, segWords = 10, minDf = 2,
        keyOf = _ => lit(0L)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("segment-key collision")),
      s"expected the collision raise, got: $ex")
    // And the guard does NOT false-positive when the colliding rows
    // really are the same segment: one distinct segment, same
    // degenerate key, runs clean.
    val same = Seq((1L, "aa bb"), (2L, "aa bb")).toDF("doc_id", "text")
    val got = Dedup.segmentDedupKeyed(same, segWords = 10, minDf = 2,
      keyOf = _ => lit(0L))
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 1L, 1L, "")) && got(2L) === ((2L, 1L, 1L, "")))
  }

  test("segmentDedup: the collision witness is a RE-SEEDED hash of the " +
      "segment, not a function of segk") {
    // Spark's multi-arg xxhash64 folds children left-to-right with the
    // running hash as seed: xxhash64(a, b) = XXH64(b, seed=XXH64(a, 42)).
    // So the salt-LAST form xxhash64(seg, salt) is XXH64(salt, seed=segk)
    // — a deterministic function of segk, and two segments colliding on
    // segk would ALWAYS share that witness (the guard could never fire).
    // The production salt-FIRST form is XXH64(seg, seed=XXH64(salt, 42)):
    // a differently-seeded direct hash of the segment, whose collision
    // event is independent of the seed-42 hash segk. Pin both algebraic
    // identities with explicitly-seeded XxHash64 expressions.
    import org.apache.spark.sql.{Column, GraftColumnBridge}
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val salt = 0x9e3779b97f4a7c15L
    val segs = Seq("aa bb cc", "totally different segment", "x")
    for (s <- segs) {
      val df = Seq(s).toDF("seg")
      def one(c: Column): Long = df.select(c).as[Long].head()
      def seeded(child: Column, seed: Long): Column =
        GraftColumnBridge.column(
          new XxHash64(Seq(GraftColumnBridge.expression(child)), seed))
      val segk = one(xxhash64(col("seg")))
      // The BROKEN (salt-last) form is exactly a fixed hash of the SALT
      // seeded by segk — i.e. determined by segk alone.
      assert(one(xxhash64(col("seg"), lit(salt))) ===
        one(seeded(lit(salt), segk)),
        "salt-last witness was not XXH64(salt, seed=segk) — the fold " +
          "semantics this pin documents changed")
      // The PRODUCTION (salt-first) form is the segment hashed under a
      // different fixed seed — independent of segk's seed-42 hash.
      val saltSeed = one(xxhash64(lit(salt)))
      assert(one(xxhash64(lit(salt), col("seg"))) ===
        one(seeded(col("seg"), saltSeed)),
        "production witness is not the re-seeded segment hash")
      assert(saltSeed !== 42L)
    }
  }

  test("segmentDedup: wideKey pairs the hash with length(seg) and " +
      "matches the narrow-key result exactly") {
    val docs = Tables.documents(spark, sfDir)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    val narrow = canon(Dedup.segmentDedup(docs))
    val wide = canon(Dedup.segmentDedup(docs, wideKey = true))
    assert(narrow.nonEmpty && wide === narrow,
      "wide-key segmentDedup diverged from the narrow-key result")
    // The guard still raises (and its struct-keyed message renders)
    // under a degenerate struct key that collides everything.
    val two = Seq((1L, "aa bb"), (2L, "cc dd")).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.segmentDedupKeyed(two, segWords = 10, minDf = 2,
        keyOf = _ => struct(lit(0L).as("h"), lit(0).as("len"))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("segment-key collision")),
      s"expected the collision raise under a struct key, got: $ex")
  }

  test("unigramLogprob: common-token docs outscore rare-token docs") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"),
      (3L, "zyx qwv jkp bnm ghf dwt"))   // singleton tokens only
      .toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogprob(docs)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet === Set(1L, 2L, 3L))
    // token counts are right (6 whitespace tokens each)
    assert(got.values.forall(_._2 === 6L))
    // log-probabilities are negative, and the all-rare doc scores lowest
    assert(got.values.forall(_._3 < 0.0))
    assert(got(3L)._3 < got(1L)._3 && got(3L)._3 < got(2L)._3)
    // hand-check one doc: N = 18 tokens, V = 13 distinct; doc 3's
    // tokens are all singletons → every term is the micro-unit
    // quantization floor(ln(2/31)*1e6 + 0.5), and the mean of six
    // identical terms is the term itself.
    val expect3 =
      math.floor(math.log(2.0 / 31.0) * 1e6 + 0.5) * 6 / 6
    assert(math.abs(got(3L)._3 - expect3) < 1e-9, s"${got(3L)._3} vs $expect3")
  }

  test("trigramEntropyFast is bit-identical to the declarative form, shuffle-free") {
    val docs = Tables.documents(spark, sfDir)
    val want = TextAnalysis.trigramEntropy(docs)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    val fast = TextAnalysis.trigramEntropyFast(docs)
    val got = fast.as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    // exact (bitwise double) equality — the expression repeats the
    // declarative arithmetic, it does not approximate it
    assert(got.length === want.length)
    for ((g, w) <- got.zip(want)) assert(g === w, s"fast $g vs declarative $w")
    // the whole point: no exchange anywhere in the fast plan
    assert(!fast.queryExecution.executedPlan.toString.contains("Exchange"),
      fast.queryExecution.executedPlan.toString)
  }

  test("negativeSample: deterministic draws, self-excluded, well spread") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = (0L until 500L).toDF("doc_id")
    val neg = graft.operators.Sampling
      .negativeSample(docs, col("doc_id"), kNeg = 4, buckets = 64)
      .cache()
    try {
      val rows = neg.as[(Long, Int, Long)].collect()
      // j in range, no self-pairs, per-anchor count in [kNeg-1, kNeg]
      // (a self-collision drops, never redraws).
      assert(rows.forall { case (_, j, _) => j >= 1 && j <= 4 })
      assert(rows.forall { case (d, _, n) => d != n }, "self-negative")
      val perAnchor = rows.groupBy(_._1).map(_._2.length)
      assert(perAnchor.forall(c => c == 3 || c == 4))
      // spread: negatives must cover a large share of the 64
      // representatives, not collapse onto a few
      val distinctNegs = rows.map(_._3).distinct.length
      assert(distinctNegs > 32, s"only $distinctNegs representatives hit")
      // determinism: a second evaluation is bit-identical
      val again = graft.operators.Sampling
        .negativeSample(docs, col("doc_id"), kNeg = 4, buckets = 64)
        .as[(Long, Int, Long)].collect()
      assert(rows.toSet === again.toSet)
    } finally neg.unpersist()
  }

  test("negativeSample: sparse corpus (most buckets empty) still yields " +
      "kNeg or kNeg-1 per anchor") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 10 docs in 64 buckets: ~54 buckets are empty. Draws index the
    // OCCUPIED-bucket ranking, so none can land on an empty bucket and
    // vanish — the failure mode of joining draws on the raw bucket id,
    // where "raise buckets to tighten" would DROP most draws.
    val docs = (0L until 10L).toDF("doc_id")
    val rows = graft.operators.Sampling
      .negativeSample(docs, col("doc_id"), kNeg = 4, buckets = 64)
      .as[(Long, Int, Long)].collect()
    val perAnchor = rows.groupBy(_._1).map(_._2.length)
    assert(perAnchor.size == 10, "every anchor must appear")
    assert(perAnchor.forall(c => c == 3 || c == 4),
      s"per-anchor counts must be kNeg or kNeg-1, got ${perAnchor.toSeq}")
    assert(rows.forall { case (d, _, n) => d != n }, "self-negative")
  }

  test("bpeTrain: frequency-weighted merges, leftmost-first on runs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // "ab" dominates round 1 (weight 3+2=5 via 'abab' twice per doc A
    // docs + 'xab'). After merging, 'abab' becomes [ab][ab], so round 2
    // must see pair (ab, ab) with weight 3 — proving merged tokens
    // re-enter pair counting as single symbols.
    val docs = Seq(
      (1L, "abab abab abab"), // 'abab' wc=3
      (2L, "xab xab"),        // 'xab' wc=2
      (3L, "aaaa"))           // run case: one 'aaaa'
      .toDF("doc_id", "text")
    val rules = graft.operators.TextAnalysis.bpeTrain(docs, merges = 2)
      .orderBy("round").collect()
    assert(rules.length == 2)
    val r1 = rules(0)
    // round 1 pairs: (a,b) from abab x2 x3 + xab x2 = 8; (b,a) 3;
    // (x,a) 2; (a,a) from aaaa leftmost-chain = 3 occurrences, 1 doc.
    assert(r1.getAs[String]("a") == "a" && r1.getAs[String]("b") == "b"
      && r1.getAs[Long]("cnt") == 8L, r1.toString)
    val r2 = rules(1)
    // after merge: abab=[ab,ab] (pair (ab,ab) wc 3), xab=[x,ab] (pair
    // (x,ab) wc 2), aaaa untouched (pair (a,a) count 3 BY OCCURRENCE
    // within the single word, weight 1x3). (ab,ab) wins at 3 over
    // (a,a)'s 3 by the lexicographic tie-break ('a' < 'ab'...
    // actually 'a' < 'ab', so (a,a) would win a tie) — hence weights:
    // (a,a) appears 3 times in 'aaaa' -> cnt 3; (ab,ab) cnt 3; tie ->
    // a='a' sorts first -> (a,a) wins round 2.
    assert(r2.getAs[String]("a") == "a" && r2.getAs[String]("b") == "a"
      && r2.getAs[Long]("cnt") == 3L, r2.toString)

    // and the run semantics directly: merging (a,a) on 'aaaa' must
    // yield [aa][aa], i.e. a third round sees pair (aa, aa) weight 1.
    val rules3 = graft.operators.TextAnalysis.bpeTrain(
      Seq((1L, "aaaa")).toDF("doc_id", "text"), merges = 2)
      .orderBy("round").collect()
    assert(rules3(0).getAs[String]("a") == "a" &&
      rules3(0).getAs[Long]("cnt") == 3L)
    assert(rules3(1).getAs[String]("a") == "aa" &&
      rules3(1).getAs[String]("b") == "aa" &&
      rules3(1).getAs[Long]("cnt") == 1L,
      s"leftmost-first run merge broken: ${rules3(1)}")
  }

  test("tokenBudget: next-fit cut per source, running totals exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Source a: 900+900 fit in 2000, the 900 at doc 3 would overflow
    // (2700 > 2000) and is dropped along with everything after the
    // budget line; source b: all fit.
    val docs = Seq(
      (1L, "a", 900L), (2L, "a", 900L), (3L, "a", 900L), (4L, "a", 100L),
      (10L, "b", 500L), (11L, "b", 500L))
      .toDF("doc_id", "source", "nt")
    val kept = graft.operators.Sampling
      .tokenBudget(docs, col("source"), col("doc_id"), col("nt"), 2000L)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(kept == Set(("a", 1L, 900L, 900L), ("a", 2L, 900L, 1800L),
      ("b", 10L, 500L, 500L), ("b", 11L, 500L, 1000L)),
      s"next-fit cut wrong: $kept")
  }

  test("bpeApplyFromVocab: stored-vocab tokenize matches self-apply; " +
      "OOV words fall back to character symbols") {
    import spark.implicits._
    val train = Seq((1L, "abab abab"), (2L, "xab xab"))
      .toDF("doc_id", "text")
    val dir = tempDir("graft_bpe_oov")
    graft.operators.TextAnalysis.bpeWriteVocab(train, dir, merges = 2)
    // In-vocab corpus: serve equals the live train→apply composition.
    val want = graft.operators.TextAnalysis.bpeApply(train, merges = 2)
      .as[(Long, Int, String)].collect().toSet
    val got = graft.operators.TextAnalysis
      .bpeApplyFromVocab(spark, dir, train)
      .as[(Long, Int, String)].collect().toSet
    assert(want.nonEmpty && got === want)
    // OOV word 'zq' never appeared in training: it must tokenize as
    // its character symbols (the untrained base floor), not vanish
    // from the document the way an inner vocab join would drop it.
    val served = graft.operators.TextAnalysis
      .bpeApplyFromVocab(spark, dir, Seq((9L, "abab zq")).toDF("doc_id", "text"))
      .as[(Long, Int, String)].collect()
    assert(served.length == 1)
    val (_, n, toks) = served.head
    assert(toks.endsWith("z q") && n > 2,
      s"OOV fallback must emit character symbols, got '$toks'")
  }

  // ---- gopherQualityRules ----

  test("gopherQualityRules: handcrafted doc yields exact counters and " +
      "integer cross-multiplication verdicts") {
    // 24 words, 'zz' repeated 3x (max_wc=3, 10*3>24 fails r_rep), one
    // 1-char 'a' + the three 'zz' (n_short=4, 12*4>24 fails r_short),
    // contains both stopwords. len_nospace = counted by hand below.
    val text = ("the a zz zz zz customer " +
      "window window2 batch merge stream filter " +
      "column vector value table query scan " +
      "group order hash join sort part").trim
    val doc = Seq((7L, text)).toDF("doc_id", "text")
    val out = TextAnalysis.gopherQualityRules(doc)
      .as[(Long, Long, Long, Long, Long, Long, Int, Int, Int, Int, Int,
        Long, Int)].collect()
    val lenNoSpace = text.replace(" ", "").length.toLong
    val nWords = text.split(" ").length.toLong
    assert(nWords === 24L)
    assert(out === Array((7L, 24L, lenNoSpace, 3L, 4L, 2L,
      1,                                       // r_wc: 20 <= 24 <= 80
      if (44 * 24 <= 10 * lenNoSpace && 10 * lenNoSpace <= 47 * 24) 1
      else 0,                                  // r_mean by the same ints
      0,                                       // r_rep: 30 > 24
      0,                                       // r_short: 36 > 24
      1,                                       // r_stop: both present
      (2 + (if (44 * 24 <= 10 * lenNoSpace &&
        10 * lenNoSpace <= 47 * 24) 1 else 0)).toLong,
      0)))
  }

  test("gopherQualityRules: every rule both fires and fails on the " +
      "corpus (the fixture keeps all five thresholds live)") {
    val out = TextAnalysis.gopherQualityRules(
      Tables.documents(spark, sfDir))
      .select(col("r_wc"), col("r_mean"), col("r_rep"), col("r_short"),
        col("r_stop"), col("pass_all"))
      .as[(Int, Int, Int, Int, Int, Int)].collect()
    val cols = Seq[((Int, Int, Int, Int, Int, Int)) => Int](
      _._1, _._2, _._3, _._4, _._5, _._6)
    cols.zipWithIndex.foreach { case (c, i) =>
      assert(out.exists(c(_) == 1) && out.exists(c(_) == 0),
        s"rule column $i is constant on the corpus — threshold dead")
    }
  }

  // ---- SymSpell spell index ----

  test("spellKeys: duplicate-letter deletions collapse; symmetric-" +
      "delete join finds lev<=1 and the verify filter kills the " +
      "lev-2 key collision") {
    val keys = Seq(("zoo")).toDF("w")
      .select(TextAnalysis.spellKeys(col("w")).as("ks"))
      .as[Seq[String]].collect().head
    assert(keys.toSet === Set("zoo", "oo", "zo"))

    // 'xa' vs 'ay': key sets share "a" but levenshtein = 2 — the
    // symmetric-delete collision the exact-verify filter must reject;
    // 'bach' vs 'batch' (deletion) and 'data' vs itself must survive.
    val docs = Seq((1L, "batch data ay ay ay")).toDF("doc_id", "text")
    val probes = Seq("bach", "data", "xa").toDF("probe_term")
    val idx = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        explode(TextAnalysis.spellKeys(col("word"))).as("variant"))
    val expanded = probes.select(col("probe_term"),
      explode(TextAnalysis.spellKeys(col("probe_term"))).as("variant"))
    val joined = expanded.join(idx, Seq("variant"))
      .select(col("probe_term"), col("word")).distinct()
      .as[(String, String)].collect().toSet
    assert(joined.contains(("xa", "ay")),
      "key collision fixture broke: xa/ay no longer share a key")
    val verified = joined.filter { case (p, w) =>
      org.apache.commons.text.similarity.LevenshteinDistance
        .getDefaultInstance.apply(p, w) <= 1
    }
    assert(verified === Set(("bach", "batch"), ("data", "data")),
      s"verify filter let a lev-2 collision through: $verified")
  }

  test("searchSpellIndex serves bit-identically to the corpus-scan " +
      "spellCandidates; the sidecar gates the edit radius") {
    val docs = Tables.documents(spark, sfDir)
    val dir = tempDir("graft_spell_spec")
    TextAnalysis.writeSpellIndex(docs, dir)
    val direct = TextAnalysis.spellCandidates(docs)
      .as[(String, String, Long, Int, Int)].collect().sortBy(r => (r._1, r._5))
    val served = TextAnalysis.searchSpellIndex(spark, docs, dir)
      .as[(String, String, Long, Int, Int)].collect().sortBy(r => (r._1, r._5))
    assert(served === direct)
    assert(direct.nonEmpty)
    assert(direct.exists(_._4 == 0) && direct.exists(_._4 == 1),
      "fixture must exercise both the exact-hit and the typo path")
    // A layout written for a different edit radius must fail loudly.
    operators.IndexMeta.write(spark, dir,
      "layout" -> "symspell", "edits" -> "2")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.searchSpellIndex(spark, docs, dir)
    }
    assert(e.getMessage.contains("edits"))
  }

  test("spell index lifecycle: append equals the monolithic build; " +
      "delete equals a rebuild without the tombstoned words") {
    val docs = Tables.documents(spark, sfDir)
    def collectServe(dir: String) =
      TextAnalysis.searchSpellIndex(spark, docs, dir)
        .as[(String, String, Long, Int, Int)].collect()
        .sortBy(r => (r._1, r._5))

    // Append: keys dedup at serve, freqs sum at serve, so the two
    // half-batches must serve bit-identically to one full build.
    val dirM = tempDir("graft_spell_mono")
    val dirA = tempDir("graft_spell_app")
    TextAnalysis.writeSpellIndex(docs, dirM)
    TextAnalysis.writeSpellIndex(docs.filter(col("doc_id") % 2 === 0),
      dirA)
    TextAnalysis.appendSpellIndex(spark,
      docs.filter(col("doc_id") % 2 =!= 0), dirA)
    assert(collectServe(dirA) === collectServe(dirM))

    // Delete: physically rewriting the length-8+ words out of both
    // tables must serve bit-identically to an index built over the
    // corpus with those words removed from every document (same
    // surviving vocabulary, same frequencies). Probes still derive
    // from the full corpus on both sides.
    val tombstones = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 8).distinct()
    assert(tombstones.count() > 0,
      "fixture needs at least one length-8+ vocabulary word")
    val dirD = tempDir("graft_spell_del")
    TextAnalysis.writeSpellIndex(docs, dirD)
    TextAnalysis.deleteFromSpellIndex(spark, tombstones, dirD)
    val dirR = tempDir("graft_spell_reb")
    val cleaned = docs.select(col("doc_id"),
      array_join(filter(split(col("text"), " "),
        w => length(w) < 8), " ").as("text"))
    TextAnalysis.writeSpellIndex(cleaned, dirR)
    val afterDelete = collectServe(dirD)
    assert(afterDelete === collectServe(dirR))
    // The tombstones must actually retract a candidate somewhere.
    val before = collectServe(dirM)
    assert(afterDelete.length < before.length,
      "delete fixture never bound: no served candidate was retracted")
  }
}
