package perfbench

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Similarity, TextAnalysis}

/** index_serve: closed loop, one client, against a persisted IVF-PQ
  * index over a seeded clustered embedding corpus, a persisted BM25 /
  * phrase index over a seeded text corpus, and the stored flow table and
  * upsert log of [[Panels]], all built in set-up. About 90% of requests
  * read (ANN top-10 for one probe, BM25, phrase, dashboard panels) and
  * 10% write (vector appends, vector and document tombstone deletes, and
  * periodic compactions), so writes land beside reads on one index.
  * Per-request planning and stage overhead dominate.
  */
final class IndexServe(ctx: Ctx) extends Workload {
  import IndexServe._

  private def spark: SparkSession = ctx.spark
  private val out = ctx.out

  val panels = new Panels(ctx)

  final class State(val vecsDir: String, val annDir: String, val docsDir: String,
      val textDir: String, val vgen: Gen.Vectors, val texts: Gen.Texts,
      val flows: panels.Data) {
    var nextVec: Long = Vectors
    val liveVecs = mutable.LinkedHashSet.empty[Long] ++ (0L until Vectors)
    val liveDocs = mutable.LinkedHashSet.empty[Long] ++ (0L until Docs)
    val deadVecs = mutable.HashSet.empty[Long]
    val deadDocs = mutable.HashSet.empty[Long]
    var writes = 0
    def vecs: DataFrame = spark.read.parquet(vecsDir)
  }

  private def vecFrame(rows: Seq[(Long, Array[Double])]): DataFrame = {
    val ss = spark
    import ss.implicits._
    rows.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "v")
  }

  private def build(rep: Int): State = {
    val ss = spark
    import ss.implicits._
    val parts = mutable.ArrayBuffer.empty[String]
    def part[A](name: String)(f: => A): A = {
      val (r, ms) = Sys.timed(f)
      parts += f"$name ${ms / 1000}%.2f"
      r
    }
    val vgen = Gen.vectors(ctx.args.seed, Dim, Clusters, SubClusters)
    val texts = new Gen.Texts(ctx.args.seed, Vocab)
    val flows = part("flows")(panels.build(rep))
    val s = new State(s"${ctx.work}/vecs$rep", s"${ctx.work}/ann$rep",
      s"${ctx.work}/docs$rep", s"${ctx.work}/text$rep", vgen, texts, flows)
    part("vectors")(vecFrame(vgen.take(Vectors).zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .repartition(4).write.mode("overwrite").parquet(s.vecsDir))
    part("ivfpq")(Similarity.writeIvfPqIndex(s.vecs, s.annDir, m = M, codebookK = CodebookK,
      kCells = Cells, iters = 1))
    part("docs")((0 until Docs).map(i => (i.toLong, texts.doc())).toDF("doc_id", "text")
      .repartition(4).write.mode("overwrite").parquet(s.docsDir))
    part("bm25")(TextAnalysis.writeInvertedIndex(spark.read.parquet(s.docsDir), s.textDir, Buckets))
    out.note(parts.mkString(s"set-up $rep: ", ", ", " s"))
    s
  }

  // ---- requests -------------------------------------------------------

  private def probe(s: State, rng: Random): DataFrame =
    vecFrame(Seq((-1L - rng.nextInt(1000000), s.vgen.next())))

  private def ann(s: State, probes: DataFrame, nprobe: Int = NProbe,
      depth: Int = RerankDepth): DataFrame =
    Similarity.searchIvfPqIndex(spark, s.annDir, s.vecs, probes, K, m = M,
      nprobe = nprobe, rerankDepth = depth)

  private def bm25(s: State, terms: Seq[String]): DataFrame =
    TextAnalysis.searchInvertedIndex(spark, s.textDir, terms, Buckets)

  private def phrase(s: State, p: Seq[String]): DataFrame =
    TextAnalysis.searchPhraseIndex(spark, s.textDir, p, Buckets)

  /** A read's result must hold no deleted document. */
  private def checkRead(s: State, kind: String, rows: Array[Row], idCol: String,
      dead: collection.Set[Long], maxRows: Int): Unit =
    out.check(rows.length <= maxRows &&
      rows.forall(r => !dead(r.getAs[Long](idCol))),
      s"$kind returned ${rows.length} rows or a deleted id")

  private def pick(live: mutable.LinkedHashSet[Long], rng: Random, n: Int): Seq[Long] = {
    val arr = live.toIndexedSeq
    Seq.fill(n)(arr(rng.nextInt(arr.size))).distinct
  }

  private val answers = mutable.ArrayBuffer.empty[(Panels.Query, Array[Row])]
  private var panelVisits = 0
  private var facts: Option[panels.ReadFacts] = None

  /** Runs one request of the given kind. Panel answers are kept and
    * checked after the measured window. */
  private def request(s: State, rng: Random, kind: String, t: Tracer, op: String,
      panel: Option[Panels.Query] = None): Unit = {
    val ss = spark
    import ss.implicits._
    kind match {
      case "panel" =>
        val q = panel.getOrElse { panelVisits += 1; panels.next(panelVisits - 1, rng) }
        val df = panels.frame(s.flows, q)
        answers += q -> t.span("sinks", q.shape, op)(df.collect())
        facts.foreach(_.add(q, df))
      case "ann" =>
        val df = ann(s, probe(s, rng))
        val rows = t.span("similarity", "searchIvfPqIndex", op)(df.collect())
        checkRead(s, kind, rows, "neighbor_id", s.deadVecs, K)
        scanned(df, "ann")
      case "bm25" =>
        val df = bm25(s, s.texts.query(rng)).orderBy(col("score").desc, col("doc_id")).limit(K)
        val rows = t.span("textanalysis", "searchInvertedIndex", op)(df.collect())
        checkRead(s, kind, rows, "doc_id", s.deadDocs, K)
        scanned(df, "text")
      case "phrase" =>
        val df = phrase(s, s.texts.phrases(rng.nextInt(s.texts.phrases.size)))
        val rows = t.span("textanalysis", "searchPhraseIndex", op)(df.collect())
        checkRead(s, kind, rows, "doc_id", s.deadDocs, Docs)
        scanned(df, "text")
      case "append" =>
        val rows = (0 until AppendBatch).map(_ => { s.nextVec += 1; (s.nextVec - 1, s.vgen.next()) })
        t.span("similarity", "appendIvfPqIndex", op) {
          val df = vecFrame(rows)
          df.write.mode("append").parquet(s.vecsDir)
          Similarity.appendIvfPqIndex(spark, df, s.annDir, m = M)
        }
        s.liveVecs ++= rows.map(_._1)
      case "delete_vecs" =>
        val ids = pick(s.liveVecs, rng, DeleteBatch)
        t.span("similarity", "deleteFromIvfIndex", op)(
          Similarity.deleteFromIvfIndex(spark, ids.toDF("vec_id"), s.annDir))
        s.liveVecs --= ids; s.deadVecs ++= ids
      case "delete_docs" =>
        val ids = pick(s.liveDocs, rng, DeleteBatch)
        t.span("textanalysis", "deleteFromInvertedIndex", op)(
          TextAnalysis.deleteFromInvertedIndex(spark, ids.toDF("doc_id"), s.textDir))
        s.liveDocs --= ids; s.deadDocs ++= ids
      case "compact_ann" =>
        t.span("similarity", "compactIvfPqIndex", op)(Similarity.compactIvfPqIndex(spark, s.annDir))
      case "compact_text" =>
        t.span("textanalysis", "compactInvertedIndex", op)(TextAnalysis.compactInvertedIndex(spark, s.textDir))
    }
  }

  /** The writes in the order they come. A window holds about a dozen
    * requests, so its one write is the first: an append to the ANN index.
    * The traced run's request list covers the rest. */
  private val WriteCycle = IndexedSeq("append", "delete_docs", "delete_vecs",
    "append", "delete_docs", "delete_vecs", "compact_ann", "compact_text")

  /** Nine reads in a fixed order with the next write of [[WriteCycle]]
    * after the fourth: 90% reads. The order is fixed so that every window
    * holds the same mix; the seed picks probes, terms, phrases, panel days
    * and victims. */
  private val ReadCycle = IndexedSeq("ann", "bm25", "panel", "ann", "phrase",
    "panel", "ann", "bm25", "panel")

  private def mix(s: State): Iterator[String] =
    Iterator.from(0).map { i =>
      val p = i % 10
      if (p != WriteAt) ReadCycle(if (p < WriteAt) p else p - 1)
      else { s.writes += 1; WriteCycle((s.writes - 1) % WriteCycle.size) }
    }

  private val scans = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
  private var countScans = false

  /** Rows read from the code table (ANN) or postings (text) by a read. */
  private def scanned(df: DataFrame, kind: String): Unit = if (countScans) {
    val table = if (kind == "ann") "/codes" else "/postings"
    val rows = Panels.Plans.scans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.endsWith(table)))
      .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
    scans.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += rows
  }

  /** ANN recall@10 of the served index against exact brute force, over
    * a fixed probe sample of the freshly built index. */
  private def recall(s: State): Double = {
    val probes = vecFrame((0 until RecallProbes).map(i => (-1L - i, s.vgen.next())))
    val got = ann(s, probes).select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.bruteForceTopK(s.vecs, probes, K).select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got.intersect(exact).size.toDouble / exact.size
  }

  /** Builds (see [[Ctx.setup]]), then runs every panel shape over all
    * days and over one day and each other read kind once, untimed, so the
    * window does not pay the first compile of any query plan and starts
    * at the beginning of the panel rotation. */
  private def setUp(): State = {
    val s = ctx.setup(build)
    val rng = new Random(ctx.args.seed * 31)
    val warm = Sys.timed((Seq.fill(2 * Panels.Shapes.size)("panel") ++ Seq("ann", "bm25", "phrase"))
      .foreach(k => request(s, rng, k, ctx.off, "warm")))._2
    out.note(f"warm-up ${warm / 1000}%.2f s")
    answers.clear()
    s
  }

  /** Sampled exactness checks of the final index state: ANN at full
    * probe against brute force over the live corpus, and BM25 against
    * its corpus-scan twin over the live documents; then every panel
    * answer against the replay. */
  private def checkSample(s: State): Unit = {
    val ss = spark
    import ss.implicits._
    val rng = new Random(ctx.args.seed * 37 + 1)
    val probes = vecFrame(Seq((-7L, s.vgen.next())))
    val liveVecs = s.vecs.join(s.deadVecs.toSeq.toDF("vec_id"), Seq("vec_id"), "left_anti")
    val n = s.liveVecs.size
    val got = ann(s, probes, nprobe = Cells, depth = n).orderBy("rnk").select("neighbor_id").as[Long].collect().toSeq
    val exact = Similarity.bruteForceTopK(liveVecs, probes, K).orderBy("rank")
      .select("neighbor_id").as[Long].collect().toSeq
    out.check(got == exact, s"ANN at full probe $got, brute force $exact")
    val docs = spark.read.parquet(s.docsDir)
      .join(s.deadDocs.toSeq.toDF("doc_id"), Seq("doc_id"), "left_anti")
    val terms = s.texts.query(rng)
    def scores(df: DataFrame) = df.select("doc_id", "score").as[(Long, Double)].collect().toMap
    out.check(scores(bm25(s, terms)) == scores(TextAnalysis.bm25(docs, terms)),
      s"BM25 index serve differs from the corpus scan for $terms")
    answers.foreach { case (q, rows) => panels.verify(s.flows, q, rows) }
  }

  /** Each read kind's share of [[ReadCycle]]. */
  private val ReadShare: Map[String, Double] =
    ReadCycle.groupBy(identity).map { case (k, ks) => k -> ks.size.toDouble / ReadCycle.size }

  def measure(): Unit = {
    val s = setUp()
    val rng = new Random(ctx.args.seed * 41 + 3)
    val reqs = mix(s)
    val byKind = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val t0 = Sys.nowMs
    var last = t0
    Sys.noteSteal(out) {
      while (last - t0 < ctx.args.seconds * 1000.0) {
        val k = reqs.next()
        byKind.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += Sys.timed(request(s, rng, k, ctx.off, k))._2
        last = Sys.nowMs
      }
    }
    val done = byKind.values.map(_.size).sum
    val (reads, writes) = byKind.partition(kv => ReadShare.contains(kv._1))
    out.attempted += writes.values.map(_.size).sum
    out.note(f"checks ${Sys.timed(checkSample(s))._2 / 1000}%.2f s")
    // The window holds few reads of several kinds with distinct costs, so
    // a pooled median would jump between kinds as the window's end moves.
    // Each kind is summarised alone and weighted by its share of the mix.
    def mixOf(f: Seq[Double] => Double) =
      reads.map { case (k, xs) => ReadShare(k) * f(xs.toSeq) }.sum / reads.keys.toSeq.map(ReadShare).sum
    val p50 = mixOf(Stats.median)
    // Requests of both halves of the mix, reads and writes, completed
    // per second of the window (which ends as its last request does).
    out.put("throughput_per_s", done / ((last - t0) / 1000.0), "1/s")
    out.put("latency_p50_ms", p50, "ms")
    byKind.foreach { case (k, xs) => out.note(f"$k: ${xs.size} requests, p50 " +
      f"${Stats.median(xs.toSeq)}%.1f ms (${xs.map(x => f"$x%.0f").mkString(" ")})") }
    val pooled = reads.values.flatten.toSeq
    val (tail, p) = Stats.tail(pooled)
    out.note(f"serve_read_latency_p50_ms: $p50%.1f ms (kind medians weighted by the mix), " +
      f"serve_read_latency_tail_ms: $tail%.1f ms (p$p%.0f of ${pooled.size} reads)")
    val ws = writes.values.flatten.toSeq
    out.note(f"serve_write_latency_p50_ms: ${if (ws.isEmpty) 0.0 else Stats.median(ws)}%.1f ms " +
      f"(${ws.size} writes)")
  }

  def traced(): Unit = {
    val s = setUp()
    val rec = recall(s)
    val t = ctx.startTracing()
    countScans = true
    val rf = new panels.ReadFacts(s.flows)
    facts = Some(rf)
    val rng = new Random(ctx.args.seed * 41 + 3)
    // A fixed request list that covers every kind at least twice and
    // every panel shape over all days and over one day.
    val kinds = Seq("ann", "bm25", "phrase", "ann", "bm25", "ann") ++ WriteCycle ++
      Seq("ann", "bm25", "phrase")
    kinds.zipWithIndex.foreach { case (k, i) => t.span("op", k, s"req$i")(request(s, rng, k, t, s"req$i")) }
    panels.fixed.zipWithIndex.foreach { case (q, i) =>
      t.span("op", "panel", s"panel$i")(request(s, rng, "panel", t, s"panel$i", Some(q))) }
    checkSample(s)
    rf.report()
    val sp = t.allSpans
    def p50(name: String) = {
      val xs = sp.filter(_.name == name).map(_.ms)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def per(kind: String) = scans.get(kind).filter(_.nonEmpty)
      .map(xs => xs.sum.toDouble / xs.size).getOrElse(0.0)
    Layers.put(out, "similarity.search_ms_p50", p50("searchIvfPqIndex"))
    Layers.put(out, "similarity.rows_scanned_per_probe", per("ann"))
    Layers.put(out, "similarity.append_ms_p50", p50("appendIvfPqIndex"))
    Layers.put(out, "similarity.delete_ms_p50", p50("deleteFromIvfIndex"))
    Layers.put(out, "similarity.compact_s", sp.filter(_.name == "compactIvfPqIndex").map(_.ms).sum / 1000)
    Layers.put(out, "similarity.index_bytes", Sys.bytesUnder(s.annDir).toDouble)
    Layers.put(out, "similarity.recall_at_10", rec)
    out.note(f"ann_recall_at_10: $rec%.4f ratio ($RecallProbes probes, nprobe $NProbe of $Cells cells)")
    val text = sp.filter(x => x.name == "searchInvertedIndex" || x.name == "searchPhraseIndex").map(_.ms)
    Layers.put(out, "textanalysis.search_ms_p50", Stats.median(text))
    Layers.put(out, "textanalysis.postings_scanned_per_query", per("text"))
    Layers.put(out, "textanalysis.delete_ms_p50", p50("deleteFromInvertedIndex"))
    val ops = sp.filter(_.layer == "op")
    ops.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (k, ss) =>
      out.note(Layers.describe(k, t.engine(ss, Main.Cores))) }
    val eng = t.engine(ops, Main.Cores)
    val (overhead, speedup) = ctx.overheadAndSpeedup(t, _ =>
      request(s, new Random(5), "ann", ctx.off, "ref"))
    Layers.engine(out, eng, speedup, overhead)
    // The write half of the sink layer is not called while serving.
    Seq("sinks.write_s", "sinks.files_written", "sinks.bytes_written",
      "sinks.bytes_per_input_byte", "sinks.batch_commit_ms_p50")
      .foreach(n => Layers.put(out, n, 0))
    Layers.idle(out, Set("similarity", "textanalysis", "sinks", "plans", "engine"))
  }
}

/** Corpus and index shapes. The corpora are sized from the repository's
  * sf0.1 test data, which the engine's own query suite serves: its
  * embeddings are 2,000 vectors of 64 dimensions, and its documents
  * 5,000 texts of about 54 words. */
object IndexServe {
  /** Twice the test data's 2,000 embeddings, at their 64 dimensions. */
  val Vectors = 4000
  val Dim = 64
  val Clusters = 8
  val SubClusters = 50
  /** The index parameters are the engine's own defaults for
    * `writeIvfPqIndex` and `searchIvfPqIndex`: 8 cells, of which a probe
    * reads 2, and 4 sub-quantizers (of 16 dimensions here) with 8
    * centroids each; the coarse quantizer gets one Lloyd iteration in
    * place of the default two, to bound set-up time. The re-rank depth is
    * the engine's automatic one, sized from the stored cell occupancy: on
    * this clustered corpus the fixed default of 40 holds recall@10 near
    * 0.3. */
  val M = 4
  val CodebookK = 8
  val Cells = 8
  val NProbe = 2
  val RerankDepth: Int = Similarity.AutoRerankDepth
  val K = 10
  /** The test data's 5,000 documents (lengths in [[Gen.Texts]]). */
  val Docs = 5000
  /** The test data's texts draw on 31 words, so every posting list would
    * hold nearly every document; a Zipf vocabulary of 3,000 words keeps
    * BM25 selective. */
  val Vocab = 3000
  val Buckets = 8
  val AppendBatch = 16
  val DeleteBatch = 8
  val RecallProbes = 16
  /** Position of the write in each cycle of ten requests. */
  val WriteAt = 4
}
