package graft

import org.apache.spark.sql.functions._
import graft.operators.{ConnectedComponents, Retrieval, Sampling,
  Similarity, TextAnalysis}

/** Round-11 retrieval & analytics operators: hybrid RRF fusion,
  * embedding drift, JL random projection, weighted reservoir sampling,
  * quality-aware canonicalization, and PMI co-occurrence. */
class RetrievalOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sfDir)
  private def vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
    .select(col("vec_id"), col("v"))

  // ---- hybridRrf ----

  test("hybridRrf: fused score is exactly the sum of the legs' RRF terms") {
    val lex = Retrieval.lexicalOverlapTopK(docs, col("doc_id") < 5, 20)
      .select(col("probe_id"), col("doc_id"), col("rank_lex"))
      .as[(Long, Long, Int)].collect()
      .map { case (p, d, r) => (p, d) -> r }.toMap
    val vec = Retrieval.vectorTopK(vecs, col("vec_id") < 5, 20)
      .as[(Long, Long, Int)].collect()
      .map { case (p, d, r) => (p, d) -> r }.toMap
    val fused = Retrieval.hybridRrf(docs, vecs,
      col("doc_id") < 5, col("vec_id") < 5)
      .select(col("probe_id"), col("doc_id"), col("rrf"))
      .as[(Long, Long, Double)].collect()
    assert(fused.nonEmpty)
    fused.foreach { case (p, d, rrf) =>
      val expect =
        lex.get((p, d)).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
          vec.get((p, d)).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      // rrf is rounded to 6 dp in the operator — compare at half-ulp.
      assert(math.abs(rrf - expect) <= 5e-7,
        s"probe $p doc $d: rrf $rrf != $expect")
    }
  }

  test("hybridRrf: k rows per probe, rrf non-increasing, both-leg docs first") {
    val out = Retrieval.hybridRrf(docs, vecs,
      col("doc_id") < 5, col("vec_id") < 5, depth = 20, k = 10)
      .select(col("probe_id"), col("rrf"), col("rnk"))
      .as[(Long, Double, Int)].collect()
      .groupBy(_._1)
    assert(out.keySet === (0L until 5L).toSet)
    out.foreach { case (_, rows) =>
      assert(rows.length === 10)
      val byRank = rows.sortBy(_._3).map(_._2)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        "rrf must be non-increasing in rank")
    }
    // A doc in BOTH legs at rank r_max=depth each still beats any
    // one-leg doc at rank 1: 2/(60+20) = 0.025 > 1/61 ≈ 0.0164.
    assert(2.0 / 80 > 1.0 / 61)
  }

  test("diversifiedRrf: per-source cap binds and survivors keep fused order") {
    // maxPerSource = 1: on this corpus several probes' uncapped top-5
    // carries a doubled source (verified against the oracle chain), so
    // the cap provably BINDS — the capped list must both be all-distinct
    // in source and differ from plain hybridRrf for at least one probe.
    val out = Retrieval.diversifiedRrf(docs, vecs,
      col("doc_id") < 10, col("vec_id") < 10, depth = 20, k = 5,
      maxPerSource = 1)
      .select(col("probe_id"), col("doc_id"), col("source"), col("rrf"),
        col("rnk"))
      .as[(Long, Long, String, Double, Int)].collect()
    val byProbe = out.groupBy(_._1)
    assert(byProbe.keySet === (0L until 10L).toSet)
    byProbe.foreach { case (p, rows) =>
      assert(rows.length === 5)
      assert(rows.map(_._3).distinct.length === 5,
        s"probe $p: a source appears twice under maxPerSource=1")
      // Survivors stay in fused order.
      val byRank = rows.sortBy(_._5).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    val uncapped = Retrieval.hybridRrf(docs, vecs,
      col("doc_id") < 10, col("vec_id") < 10, depth = 20, k = 5)
      .select(col("probe_id"), col("doc_id"))
      .as[(Long, Long)].collect().groupBy(_._1)
    val capped = out.groupBy(_._1)
    val differs = capped.exists { case (p, rows) =>
      rows.map(_._2).toSet != uncapped(p).map(_._2).toSet
    }
    assert(differs, "cap never bound: capped top-5 equals uncapped " +
      "top-5 for every probe — the fixture no longer exercises the cap")
  }

  // ---- hybridRrfFromIndexes ----

  test("hybridRrfFromIndexes: lexical ranks equal the corpus-scan " +
      "leg, vector ranks equal the IVF serve; deleting a doc from " +
      "BOTH indexes removes it from the fused list") {
    import graft.operators.TextAnalysis
    val documents = docs
    val invDir = tempDir("graft_hyb_inv_spec")
    val ivfDir = tempDir("graft_hyb_ivf_spec")
    val cents = Similarity.kmeansTrain(vecs, 8, 2)
    TextAnalysis.writeInvertedIndex(documents, invDir)
    Similarity.writeIvfIndex(vecs, cents, ivfDir)
    val probeDocs = documents.filter(col("doc_id") < 10)
    val probeVecs = vecs.filter(col("vec_id") < 10)
    val fused = Retrieval.hybridRrfFromIndexes(spark, probeDocs,
      probeVecs, invDir, ivfDir)
      .select(col("probe_id"), col("doc_id"), col("rank_lex"),
        col("rank_vec"), col("rnk"))
      .as[(Long, Long, Option[Int], Option[Int], Int)].collect()
    assert(fused.nonEmpty)
    // Leg parity: every non-null lexical rank equals the corpus-scan
    // leg's; every non-null vector rank equals the IVF serve's.
    val lexWant = Retrieval.lexicalOverlapTopK(documents,
        col("doc_id") < 10, 20)
      .select(col("probe_id"), col("doc_id"), col("rank_lex"))
      .as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val vecWant = Similarity.searchIvfIndex(spark, ivfDir, probeVecs,
        20, nprobe = 2)
      .select(col("probe_id"), col("neighbor_id"), col("rnk"))
      .as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    fused.foreach { case (p, d, rl, rv, _) =>
      rl.foreach(r => assert(lexWant((p, d)) === r,
        s"lex rank drifted for ($p, $d)"))
      rv.foreach(r => assert(vecWant((p, d)) === r,
        s"vec rank drifted for ($p, $d)"))
    }
    // Retire a doc that currently appears in some fused list from
    // BOTH layouts: it must vanish from the composition.
    val victim = fused.map(_._2).find(_ >= 10).get
    val ids = Seq(victim).toDF("doc_id")
    TextAnalysis.deleteFromInvertedIndex(spark, ids, invDir)
    Similarity.deleteFromIvfIndex(spark,
      ids.select(col("doc_id").as("vec_id")), ivfDir)
    val after = Retrieval.hybridRrfFromIndexes(spark, probeDocs,
      probeVecs, invDir, ivfDir)
      .select(col("doc_id")).as[Long].collect()
    assert(!after.contains(victim),
      s"doc $victim deleted from both layouts still served")
  }

  // ---- mmrRerank ----

  test("mmrRerank: matches an independent local greedy replay and the " +
      "diversity term provably binds") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val out = Similarity.mmrRerank(vecs, vecs.filter(col("vec_id") < 10))
      .select(col("probe_id"), col("neighbor_id"), col("mmr_r"),
        col("rnk"))
      .as[(Long, Long, Double, Int)].collect()
      .sortBy(r => (r._1, r._4))

    // Full local replay from raw vectors: same fold order for the dot,
    // round-6 via the exact HALF_UP contract, the λ blend in the same
    // DECIMAL(18,6) arithmetic the operator uses.
    val vv = vecs.as[(Long, Seq[Double])].collect()
      .map { case (id, v) => id -> v.toArray }.toMap
    def dotL(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cosL(a: Array[Double], b: Array[Double]): Double =
      dotL(a, b) / (math.sqrt(dotL(a, a)) * math.sqrt(dotL(b, b)))
    def r6(x: Double): Double =
      JBD.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue()
    def d6(x: Double): JBD =
      JBD.valueOf(x).setScale(6, RoundingMode.HALF_UP)
    val lam = new JBD("0.7")
    val oneMinus = new JBD("1.0").subtract(lam)
    val expected = (0L until 10L).flatMap { p =>
      val pool = vv.keys.filter(_ != p).toSeq
        .map(n => (n, r6(cosL(vv(p), vv(n)))))
        .sortBy { case (n, rel) => (-rel, n) }.take(8)
      var sel = Vector(pool.head._1)
      var rows = Vector((p, pool.head._1, pool.head._2, 1))
      for (r <- 2 to 3) {
        val scored = pool.filterNot(c => sel.contains(c._1))
          .map { case (n, rel) =>
            val maxSim = sel.map(s => r6(cosL(vv(n), vv(s)))).max
            val mmr = lam.multiply(d6(rel))
              .subtract(oneMinus.multiply(d6(maxSim)))
              .setScale(6, RoundingMode.HALF_UP).doubleValue()
            (n, mmr)
          }
        val (pn, pm) = scored.sortBy { case (n, m) => (-m, n) }.head
        sel :+= pn
        rows :+= ((p, pn, pm, r))
      }
      rows
    }.toArray
    assert(out === expected)

    // The redundancy term must BIND on this corpus: for at least one
    // probe the MMR top-3 differs from the pure-relevance top-3 —
    // otherwise the fixture stopped exercising diversification.
    val relTop3 = (0L until 10L).map { p =>
      p -> vv.keys.filter(_ != p).toSeq
        .map(n => (n, r6(cosL(vv(p), vv(n)))))
        .sortBy { case (n, rel) => (-rel, n) }.take(3).map(_._1).toSet
    }.toMap
    val mmrSets = out.groupBy(_._1).map { case (p, rs) =>
      p -> rs.map(_._2).toSet
    }
    assert(mmrSets.exists { case (p, s) => s != relTop3(p) },
      "MMR selection equals pure-relevance top-3 for every probe — " +
        "the diversity term never bound")
  }

  // ---- embedDrift ----

  test("embedDrift: identical halves have zero shift on every dimension") {
    val base = Seq(
      (0L, Seq(1.0, 2.5, -3.25)), (2L, Seq(0.5, -0.125, 4.0)),
      (1L, Seq(1.0, 2.5, -3.25)), (3L, Seq(0.5, -0.125, 4.0)))
      .toDF("vec_id", "v")
    val out = Similarity.embedDrift(base, col("vec_id") % 2)
      .as[(Int, Double, Double, Double)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(1, 2, 3))
    out.foreach { case (_, a, b, shift) =>
      assert(a === b); assert(shift === 0.0)
    }
  }

  test("embedDrift: a displaced half reports the exact per-dim shift") {
    val base = Seq(
      (0L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)),  // half 0: mean (1, 0)
      (1L, Seq(2.0, 0.5)), (3L, Seq(2.0, 0.5)))  // half 1: mean (2, 0.5)
      .toDF("vec_id", "v")
    val out = Similarity.embedDrift(base, col("vec_id") % 2)
      .as[(Int, Double, Double, Double)].collect().sortBy(_._1)
    assert(out === Seq((1, 1.0, 2.0, 1.0), (2, 0.0, 0.5, 0.5)))
  }

  // ---- randomProjection ----

  test("randomProjection: basis vector e_p projects to sgn(j,p)/sqrt(dOut)") {
    // With a single 1.0 at position p, each output dim is exactly the
    // sign-matrix entry scaled by 1/2 (dOut=4) — pins both the hash
    // parity derivation and the scaling.
    val e3 = Seq((7L, Seq(0.0, 0.0, 1.0, 0.0))).toDF("vec_id", "v")
    val out = Similarity.randomProjection(e3, 4)
      .as[(Long, Long, Double)].collect().sortBy(_._2)
    assert(out.length === 4)
    assert(out.forall { case (_, _, p) => p === 0.5 || p === -0.5 })
    // Deterministic: a second run is bit-identical.
    val again = Similarity.randomProjection(e3, 4)
      .as[(Long, Long, Double)].collect().sortBy(_._2)
    assert(out.toSeq === again.toSeq)
  }

  test("randomProjection: linear — proj(a+b) = proj(a) + proj(b)") {
    val a = Seq(1.0, -2.0, 3.0, 0.25)
    val b = Seq(0.5, 4.0, -1.5, 2.0)
    val sum = a.zip(b).map { case (x, y) => x + y }
    val in = Seq((1L, a), (2L, b), (3L, sum)).toDF("vec_id", "v")
    val out = Similarity.randomProjection(in, 4)
      .as[(Long, Long, Double)].collect()
      .map { case (id, j, p) => (id, j) -> p }.toMap
    (1L to 4L).foreach { j =>
      assert(math.abs(out((3L, j)) - (out((1L, j)) + out((2L, j)))) < 1e-6)
    }
  }

  // ---- pcaPower / removeTopPc ----

  test("pcaPower: a one-dimensional corpus yields its axis as the top PC") {
    // All variance on dim 1 (values symmetric, mean 0): the loading
    // must concentrate there (±1) and every residual must vanish.
    val in = (1 to 10).map(i =>
      (i.toLong, Seq((2 * i - 11).toDouble, 0.0, 0.0, 0.0)))
      .toDF("vec_id", "v")
    val pc = Similarity.pcaPower(in)
      .as[(Int, Double)].collect().sortBy(_._1).map(_._2)
    assert(math.abs(math.abs(pc(0)) - 1.0) < 1e-6, pc.mkString(","))
    assert(pc.drop(1).forall(x => math.abs(x) < 1e-6))
    val resid = Similarity.removeTopPc(in)
      .as[(Long, Double, Double)].collect()
    assert(resid.length === 10)
    assert(resid.forall { case (_, _, rn) => rn < 1e-5 },
      s"residuals should vanish on a rank-1 corpus: ${resid.take(3).mkString(",")}")
  }

  test("pcaPower on the corpus: unit norm, and top-PC removal removes variance") {
    val pc = Similarity.pcaPower(vecs)
      .as[(Int, Double)].collect()
    assert(pc.length === 64)
    val norm2 = pc.map(p => p._2 * p._2).sum
    assert(math.abs(norm2 - 1.0) < 1e-4, s"||v||^2 = $norm2")
    val out = Similarity.removeTopPc(vecs)
      .as[(Long, Double, Double)].collect()
    assert(out.length === 500)
    // Pythagoras per vector: resid² + coeff² must reconstruct the
    // centered norm² (within rounding); aggregate removed variance > 0.
    val removed = out.map(r => r._2 * r._2).sum
    assert(removed > 0.0, "top PC carries no variance?")
    assert(out.forall { case (_, c, rn) => rn >= 0 && !rn.isNaN && !c.isNaN })
  }

  // ---- weightedReservoir ----

  test("weightedReservoir: exactly min(k, |group|) rows, keys ascending") {
    val out = Sampling.weightedReservoir(
      docs.select(col("doc_id"), col("source"), col("n_chars")),
      col("source"), col("doc_id"), col("n_chars"), 5)
      .select(col("source"), col("es_key"), col("rnk"))
      .as[(String, Double, Int)].collect().groupBy(_._1)
    val sizes = docs.groupBy(col("source")).count()
      .as[(String, Long)].collect().toMap
    assert(out.keySet === sizes.keySet)
    out.foreach { case (src, rows) =>
      assert(rows.length === math.min(5L, sizes(src)))
      val keys = rows.sortBy(_._3).map(_._2)
      assert(keys.zip(keys.tail).forall { case (a, b) => a <= b },
        s"$src: es_key must ascend with rank")
    }
  }

  test("weightedReservoir: partition-merge property (sample of union = merge of samples)") {
    // The property that makes E-S keys distributed-safe: because the
    // key is a pure per-row function, the k smallest keys of A ∪ B are
    // exactly the k smallest of (top-k of A) ∪ (top-k of B) — partial
    // per-partition samples merge losslessly, so any partitioning (or
    // any incremental shard-by-shard run) yields the identical sample.
    val all = docs.select(col("doc_id"), col("source"), col("n_chars"))
    val a = all.filter(col("doc_id") % 3 =!= 0)
    val b = all.filter(col("doc_id") % 3 === 0)
    val whole = Sampling.weightedReservoir(all, col("source"),
      col("doc_id"), col("n_chars"), 5)
      .select(col("source"), col("doc_id")).as[(String, Long)]
      .collect().toSet
    val merged = Sampling.weightedReservoir(
      Sampling.weightedReservoir(a, col("source"), col("doc_id"),
          col("n_chars"), 5)
        .unionByName(Sampling.weightedReservoir(b, col("source"),
          col("doc_id"), col("n_chars"), 5))
        .select(col("doc_id"), col("source"), col("n_chars")),
      col("source"), col("doc_id"), col("n_chars"), 5)
      .select(col("source"), col("doc_id")).as[(String, Long)]
      .collect().toSet
    assert(whole === merged)
  }

  test("weightedReservoir: an overwhelming weight is always sampled") {
    // One row with weight 10^9 vs 99 rows with weight 1: its key is
    // ~10^9 smaller than any competitor's, so it must appear in any
    // k>=1 sample — the property that makes the sample ∝ weight.
    val rows = (1L to 100L).map(i =>
      (i, "g", if (i == 42L) 1000000000L else 1L))
      .toDF("doc_id", "source", "n_chars")
    val kept = Sampling.weightedReservoir(rows, col("source"),
      col("doc_id"), col("n_chars"), 3)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(kept.contains(42L))
    assert(kept.size === 3)
  }

  // ---- canonicalizeByQuality ----

  test("canonicalizeByQuality: longest member wins, one keep per cluster") {
    val corpus = Seq(
      (1L, "short"), (2L, "the much longer rendition"), (3L, "mid text"),
      (9L, "a lone singleton"))
      .toDF("doc_id", "text")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = ConnectedComponents.canonicalizeByQuality(
      corpus, edges, length(col("text")))
      .select(col("doc_id"), col("component"), col("keep"))
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out === Seq((1L, 1L, false), (2L, 1L, true), (3L, 1L, false),
      (9L, 9L, true)))
  }

  test("canonicalizeByQuality: quality ties break to the smaller doc_id") {
    val corpus = Seq((5L, "same"), (7L, "same"), (6L, "same"))
      .toDF("doc_id", "text")
    val edges = Seq((5L, 6L), (6L, 7L)).toDF("id_a", "id_b")
    val keep = ConnectedComponents.canonicalizeByQuality(
      corpus, edges, length(col("text")))
      .filter(col("keep")).select(col("doc_id")).as[Long].collect()
    assert(keep.toSeq === Seq(5L))
  }

  // ---- cooccurrencePmi ----

  test("cooccurrencePmi: perfectly coupled terms score ln(N/n_ab)") {
    // aa and bb co-occur in 6 of 12 docs and never apart:
    // pmi = ln(n_ab·N/(n_a·n_b)) = ln(6·12/36) = ln 2. Fillers keep the
    // vocabulary ranking stable without adding qualifying pairs.
    val rows = (0 until 12).map { i =>
      if (i < 6) (i.toLong, s"aa bb x$i")
      else (i.toLong, s"cc x$i")
    }.toDF("doc_id", "text")
    val out = TextAnalysis.cooccurrencePmi(rows, vocabSize = 5,
      minPairDocs = 5)
      .select(col("term_a"), col("term_b"), col("n_ab"), col("pmi"))
      .as[(String, String, Long, Double)].collect()
    assert(out.length === 1)
    val (ta, tb, nab, pmi) = out.head
    assert((ta, tb, nab) === ("aa", "bb", 6L))
    assert(math.abs(pmi - math.log(2.0)) < 1e-6)
  }

  test("cooccurrencePmi: near-independent corpus words stay near zero") {
    val out = TextAnalysis.cooccurrencePmi(docs, vocabSize = 30,
      minPairDocs = 5)
      .select(col("term_a"), col("term_b"), col("pmi"))
      .as[(String, String, Double)].collect()
    // The fixture corpus draws its vocabulary near-independently, and
    // every top-30 pair co-occurs ≥ 5 times: all C(30,2) pairs qualify,
    // and their PMI sits in a tight band just above zero (doc-length
    // variance induces a small positive correlation).
    assert(out.length === 435)
    assert(out.forall { case (_, _, p) => p > -0.2 && p < 0.5 },
      s"PMI outside the near-independence band: ${out.filterNot {
        case (_, _, p) => p > -0.2 && p < 0.5 }.take(3).mkString(",")}")
  }
}
