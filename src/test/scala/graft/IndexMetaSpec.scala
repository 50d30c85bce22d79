package graft

import graft.operators.{FsOps, IndexMeta}
import org.apache.hadoop.fs.Path

/** The generation-log contract: build parameters round-trip EXACTLY
  * (including JSON metacharacters — an LSH `sep` of `"` or `\` must
  * not mangle an entry, or requireMatch silently compares against
  * garbage), presence failures are loud, a lost entry serves the
  * previous generation, racing writers fail loudly, and superseded
  * files go only after the grace. */
class IndexMetaSpec extends SparkSpec {

  test("meta sidecar round-trips quotes, backslashes and unicode exactly") {
    withTempDir("graft_meta_esc") { dir =>
      val hairy = Seq(
        "sep" -> "\"",
        "sep2" -> "\\",
        "sep3" -> "a\\\"b",
        "plain" -> "bands=8",
        "uni" -> "π∈\"quoted\"")
      IndexMeta.write(spark, dir, hairy: _*)
      val got = IndexMeta.read(spark, dir)
      hairy.foreach { case (k, v) =>
        assert(got.get(k).contains(v),
          s"key $k: wrote ${v} but read back ${got.get(k)}")
      }
      // And requireMatch accepts the original values (the loud-
      // mismatch contract survives the escaping round-trip).
      IndexMeta.requireMatch(spark, dir, hairy: _*)
    }
  }

  test("requireMatch still fails loudly on a genuine mismatch") {
    withTempDir("graft_meta_mm") { dir =>
      IndexMeta.write(spark, dir, "bands" -> "8")
      val e = intercept[IllegalArgumentException] {
        IndexMeta.requireMatch(spark, dir, "bands" -> "16")
      }
      assert(e.getMessage.contains("bands"))
    }
  }

  test("deleteFromIvfIndex refuses a dir that is not a tombstoned vector layout") {
    // The delete is layout-agnostic, so the sidecar is its only guard:
    // a mistyped path or an index of another kind must fail before any
    // tombstone is written, not "succeed" and mask nothing. A
    // layout-named delete must refuse every other layout's dir too.
    import spark.implicits._
    import graft.operators.{Similarity, TextAnalysis}
    withTempDir("graft_del_checked") { root =>
      val Seq(empty, text, pq, flat) =
        Seq("empty", "text", "ivf_pq", "ivf_flat").map(n => s"$root/$n")
      val fs = FsOps.fsOf(spark, root)
      fs.mkdirs(new Path(empty))
      TextAnalysis.writeInvertedIndex(Tables.documents(spark, sfDir), text, 8)
      Similarity.writeIvfPqIndex(annVecs, pq)
      Similarity.writeIvfIndex(annVecs, Similarity.kmeansTrain(annVecs, 8, 2),
        flat)
      val ids = Seq(1L, 2L).toDF("vec_id")
      val refused = Seq[(String, () => Unit)](
        empty -> (() => Similarity.deleteFromIvfIndex(spark, ids, empty)),
        text -> (() => Similarity.deleteFromIvfIndex(spark, ids, text)),
        pq -> (() => Similarity.deleteFromIvfSq8Index(spark, ids, pq)),
        flat -> (() => Similarity.deleteFromIvfBqIndex(spark, ids, flat)))
      for ((dir, delete) <- refused) {
        intercept[IllegalArgumentException](delete())
        assert(!fs.exists(new Path(s"$dir/tombstones")),
          s"a refused delete left a tombstone table under $dir")
      }
    }
  }

  test("knnJoinFromIndex fails loudly when the sidecar lacks the nprobe key") {
    import spark.implicits._
    import graft.operators.Similarity
    withTempDir("graft_meta_np") { dir =>
      val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      Similarity.writeKnnAssignIndex(vecs, dir, nprobe = 2)
      // Simulate a sidecar copied from another layout: same file
      // name, no nprobe key.
      IndexMeta.write(spark, dir, "bands" -> "8")
      val e = intercept[IllegalArgumentException] {
        Similarity.knnJoinFromIndex(spark, dir, vecs, 3, nprobe = 1)
      }
      assert(e.getMessage.contains("nprobe"))
    }
  }

  test("every LSH leg refuses a substring_fp dir naming `layout` and leaves it untouched") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sfDir)
    val sigs = Dedup.minhashSignaturesV2(docs)
    withTempDir("graft_lsh_wrong") { dir =>
      Dedup.writeSubstringFpIndex(docs.filter($"doc_id" < 50), dir)
      def listing(): Set[String] = {
        val root = java.nio.file.Paths.get(dir)
        val walk = java.nio.file.Files.walk(root)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.map(root.relativize(_).toString).toSet
        } finally walk.close()
      }
      val before = (listing(), IndexMeta.read(spark, dir))
      val legs = Seq[(String, () => Unit)](
        "append" -> (() => Dedup.appendLshIndex(spark, sigs, dir)),
        "delete" -> (() => Dedup.deleteFromLshIndex(spark,
          Seq(1L).toDF("doc_id"), dir)),
        "serve" -> (() => Dedup.lshIncrementalFromIndex(spark, dir, sigs)
          .collect()))
      for ((leg, run) <- legs) {
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains("layout"),
          s"LSH $leg on a substring_fp dir failed without naming layout: " +
            e.getMessage)
        assert((listing(), IndexMeta.read(spark, dir)) === before,
          s"a refused LSH $leg changed the substring_fp dir")
      }
    }
  }

  test("chunk-store build and append stage where Spark does not hide the files") {
    // A staging child Spark's file source treats as hidden (a leading
    // `_`) logs "All paths were ignored" on every re-read of it.
    import spark.implicits._
    import graft.operators.Multimodal
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-hidden-paths", null, null,
        true, org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("All paths were ignored")) warnings.add(m)
      }
    }
    appender.start()
    val ctx = LoggerContext.getContext(false)
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, null, null)
    try {
      val docs = Tables.documents(spark, sfDir)
      withTempDir("graft_chunk_scratch") { dir =>
        Multimodal.writeChunkStore(docs.filter($"doc_id" < 50), dir)
        Multimodal.appendChunkStore(spark,
          docs.filter($"doc_id" >= 50 && $"doc_id" < 60), dir)
        assert(new java.io.File(dir).list().toSet
            .filterNot(_.contains(IndexMeta.Name)) === Set("manifest", "store"),
          "the chunk-store legs left a staging child behind")
      }
    } finally root.removeAppender("graft-hidden-paths")
    assert(warnings.isEmpty, s"hidden staging paths: ${warnings.peek}")
  }

  test("every persisted layout records a fmt key and every lifecycle " +
      "leg rejects a mismatched one loudly") {
    // The BQ layout learned this the hard way (r14: a layout reshape
    // could silently serve garbage from a stale dir); the contract is
    // now fleet-wide: every IndexMeta.write records fmt, every
    // append/serve/compact/delete leg checks it, and a bumped fmt is
    // a LOUD rejection naming the key — never a silent mis-serve.
    import graft.operators.{Dedup, Multimodal, Similarity, Sketches,
      TextAnalysis}
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode, expr, length}
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 5)
    val cents = Similarity.kmeansTrain(vecs, 8, 2)
    val docs = Tables.documents(spark, sfDir)
    val sigs = Dedup.minhashSignaturesV2(docs)
    val shingles = docs.filter(length(col("text")) >= 8)
      .select(col("source"), explode(expr(
        "transform(sequence(1, length(text) - 7), " +
          "i -> substring(text, i, 8))")).as("sh"))
    def breakFmt(dir: String): Unit = {
      val meta = IndexMeta.read(spark, dir)
      assert(meta.contains("fmt"),
        s"layout at $dir wrote no fmt key — the versioning contract " +
          "is fleet-wide")
      IndexMeta.write(spark, dir,
        (meta + ("fmt" -> "99")).toSeq.sortBy(_._1): _*)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    val cases: Seq[(String, String => Unit, String => Unit)] = Seq(
      ("ivf_flat",
        d => Similarity.writeIvfIndex(vecs, cents, d),
        d => Similarity.searchIvfIndex(spark, d, probes, 3).collect()),
      ("ivf_sq8",
        d => Similarity.writeIvfSq8Index(vecs, cents, d),
        d => Similarity.searchIvfSq8Index(spark, d, probes, 3).collect()),
      ("ivf_bq",
        d => Similarity.writeIvfBqIndex(vecs, cents, d),
        d => Similarity.searchIvfBqIndex(spark, d, vecs, probes)
          .collect()),
      ("ivf_pq",
        d => Similarity.writeIvfPqIndex(vecs, d),
        d => Similarity.searchIvfPqIndex(spark, d, vecs, probes, 3)
          .collect()),
      ("bq",
        d => Similarity.writeBqIndex(vecs, d),
        d => Similarity.bqRerankFromIndex(spark, d, vecs, probes)
          .collect()),
      ("imi",
        d => Similarity.writeImiIndex(
          Similarity.vectors(Tables.embeddings(spark, sfDir)),
          Similarity.imiSubCentroids(
            Similarity.vectors(Tables.embeddings(spark, sfDir))), d),
        d => Similarity.searchImiIndex(spark, d, probes, 3).collect()),
      ("imi_pq",
        d => {
          val v = Similarity.vectors(Tables.embeddings(spark, sfDir))
          Similarity.writeImiPqIndex(v, Similarity.imiSubCentroids(v), d)
        },
        d => Similarity.searchImiPqIndex(spark, d,
          Similarity.vectors(Tables.embeddings(spark, sfDir)), probes, 3)
          .collect()),
      ("knn_assign",
        d => Similarity.writeKnnAssignIndex(
          Similarity.vectors(Tables.embeddings(spark, sfDir)), d,
          nprobe = 2),
        d => Similarity.knnJoinFromIndex(spark, d,
          Similarity.vectors(Tables.embeddings(spark, sfDir)), 3,
          nprobe = 1).collect()),
      ("symspell",
        d => TextAnalysis.writeSpellIndex(docs, d),
        d => TextAnalysis.searchSpellIndex(spark, docs, d).collect()),
      ("inverted",
        d => TextAnalysis.writeInvertedIndex(docs, d),
        d => TextAnalysis.searchInvertedIndex(spark, d, Seq("the"))
          .collect()),
      ("bloom",
        d => Dedup.writeBloomIndex(docs, d, shards = 4),
        d => Dedup.bloomPrefilterFromIndex(spark,
          docs.filter($"doc_id" < 20), docs, d).collect()),
      ("lsh",
        d => Dedup.writeLshIndex(sigs.filter($"doc_id" < 100), d,
          sep = "|"),
        d => Dedup.lshIncrementalFromIndex(spark, d,
          sigs.filter($"doc_id" >= 100), sep = "|").collect()),
      ("kmv",
        d => Sketches.writeKmvSynopses(shingles, col("sh"),
          col("source"), d, k = 16),
        d => Sketches.kmvSetOps(spark, d, k = 16).collect()),
      ("chunk_store",
        d => Multimodal.writeChunkStore(docs.filter($"doc_id" < 50), d),
        d => Multimodal.appendChunkStore(spark,
          docs.filter($"doc_id" >= 50 && $"doc_id" < 60), d)),
      ("substring_fp",
        d => Dedup.writeSubstringFpIndex(docs.filter($"doc_id" < 50), d),
        d => Dedup.substringSpansAgainstIndex(spark,
          docs.filter($"doc_id" < 20), docs.filter($"doc_id" < 50), d)
          .collect()),
      ("nb_model",
        d => TextAnalysis.nbWriteModel(
          docs.select($"doc_id", $"source".as("label"), $"text"), d),
        d => TextAnalysis.nbClassifyFromModel(spark,
          docs.select($"doc_id", $"text"), d).collect()))
    for ((name, build, serve) <- cases) {
      withTempDir(s"graft_fmt_$name") { dir =>
        build(dir)
        serve(dir) // green before the break — the serve itself works
        breakFmt(dir)
        val e = intercept[Exception] { serve(dir) }
        assert(messages(e).exists(m => m.contains("fmt")),
          s"layout $name served from a fmt=99 dir without naming fmt " +
            s"in its failure: $e")
      }
    }
  }

  test("FsOps.checkedRename throws instead of silently returning false") {
    withTempDir("graft_fsops_r") { root =>
      val fs = FsOps.fsOf(spark, root)
      // Rename onto an existing destination FILE: the local FS
      // reports this as `false` (not an exception) — exactly the
      // silent failure mode the helper exists to surface.
      fs.create(new Path(s"$root/src"), true).close()
      fs.create(new Path(s"$root/dst"), true).close()
      val e = intercept[RuntimeException] {
        FsOps.checkedRename(fs, new Path(s"$root/src"),
          new Path(s"$root/dst"))
      }
      assert(e.getMessage.contains("rename"))
    }
  }

  // ---- generation-keyed serve snapshots -----------------------------

  private lazy val annVecs = {
    import spark.implicits._
    graft.operators.Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
  }
  private lazy val annProbes = {
    import spark.implicits._
    annVecs.filter($"vec_id" < 4)
  }
  private val Terms = Seq("hash", "join", "spark")
  private val Phrase = Seq("slow", "hash", "batch")

  private def annServe(dir: String): Set[org.apache.spark.sql.Row] =
    graft.operators.Similarity.searchIvfPqIndex(spark, dir, annVecs,
      annProbes, 5, rerankDepth = graft.operators.Similarity.AutoRerankDepth)
      .collect().toSet
  private def bm25Serve(dir: String): Set[org.apache.spark.sql.Row] =
    graft.operators.TextAnalysis.searchInvertedIndex(spark, dir, Terms, 8)
      .collect().toSet
  private def phraseServe(dir: String): Set[org.apache.spark.sql.Row] =
    graft.operators.TextAnalysis.searchPhraseIndex(spark, dir, Phrase, 8)
      .collect().toSet

  /** The serve through whatever the cache holds, then again from an
    * emptied cache: they must agree after every write leg. */
  private def warmEqualsCold[A](step: String)(serve: => A): A = {
    val warm = serve
    graft.operators.IndexSnapshot.clear()
    val cold = serve
    assert(warm == cold,
      s"after $step the serve through the open snapshot differs from a " +
        "cold-cache serve — a write did not retire its generation")
    warm
  }

  private def ids(rows: Set[org.apache.spark.sql.Row], col: String) =
    rows.map(_.getAs[Long](col))

  /** One persisted vector layout's lifecycle legs over a corpus slice
    * (`build` trains its quantizer on the whole corpus, so an append
    * encodes under it) and a top-5 serve of [[annProbes]]. */
  private case class VectorCase(name: String,
      build: (org.apache.spark.sql.DataFrame, String) => Unit,
      append: (org.apache.spark.sql.DataFrame, String) => Unit,
      delete: (org.apache.spark.sql.DataFrame, String) => Unit,
      compact: String => Unit,
      serve: String => Set[org.apache.spark.sql.Row])

  /** The seven tombstoned vector layouts. The IMI layouts index the
    * labeled corpus (their codebooks train on labels); the rest index
    * (vec_id, v). */
  private lazy val vectorCases: Seq[VectorCase] = {
    import graft.operators.Similarity
    val labeled = Similarity.vectors(Tables.embeddings(spark, sfDir))
    val cents = Similarity.kmeansTrain(annVecs, 8, 2)
    val imiCents = Similarity.imiSubCentroids(labeled)
    def plain(df: org.apache.spark.sql.DataFrame) = df.select("vec_id", "v")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSet
    Seq(
      VectorCase("bq", (v, d) => Similarity.writeBqIndex(plain(v), d),
        (v, d) => Similarity.appendBqIndex(spark, plain(v), d),
        (i, d) => Similarity.deleteFromBqIndex(spark, i, d),
        d => Similarity.compactBqIndex(spark, d),
        d => rows(Similarity.bqRerankFromIndex(spark, d, annVecs, annProbes,
          k = 5))),
      VectorCase("ivf_bq",
        (v, d) => Similarity.writeIvfBqIndex(plain(v), cents, d),
        (v, d) => Similarity.appendIvfBqIndex(spark, plain(v), d),
        (i, d) => Similarity.deleteFromIvfBqIndex(spark, i, d),
        d => Similarity.compactIvfBqIndex(spark, d),
        d => rows(Similarity.searchIvfBqIndex(spark, d, annVecs, annProbes,
          k = 5))),
      VectorCase("ivf_flat",
        (v, d) => Similarity.writeIvfIndex(plain(v), cents, d),
        (v, d) => Similarity.appendIvfIndex(spark, plain(v), d),
        (i, d) => Similarity.deleteFromIvfIndex(spark, i, d),
        d => Similarity.compactIvfIndex(spark, d),
        d => rows(Similarity.searchIvfIndex(spark, d, annProbes, 5))),
      VectorCase("ivf_sq8",
        (v, d) => Similarity.writeIvfSq8Index(plain(v), cents, d),
        (v, d) => Similarity.appendIvfSq8Index(spark, plain(v), d),
        (i, d) => Similarity.deleteFromIvfSq8Index(spark, i, d),
        d => Similarity.compactIvfSq8Index(spark, d),
        d => rows(Similarity.searchIvfSq8Index(spark, d, annProbes, 5))),
      VectorCase("ivf_pq",
        (v, d) => Similarity.writeIvfPqIndex(plain(v), d,
          quantizer = Some(annVecs)),
        (v, d) => Similarity.appendIvfPqIndex(spark, plain(v), d),
        (i, d) => Similarity.deleteFromIvfIndex(spark, i, d),
        d => Similarity.compactIvfPqIndex(spark, d), annServe),
      VectorCase("imi", (v, d) => Similarity.writeImiIndex(v, imiCents, d),
        (v, d) => Similarity.appendImiIndex(spark, v, d),
        (i, d) => Similarity.deleteFromIvfIndex(spark, i, d),
        d => Similarity.compactImiIndex(spark, d),
        d => rows(Similarity.searchImiIndex(spark, d, annProbes, 5))),
      VectorCase("imi_pq",
        (v, d) => Similarity.writeImiPqIndex(v, imiCents, d,
          quantizer = Some(labeled)),
        (v, d) => Similarity.appendImiPqIndex(spark, v, d),
        (i, d) => Similarity.deleteFromIvfIndex(spark, i, d),
        d => Similarity.compactImiPqIndex(spark, d),
        d => rows(Similarity.searchImiPqIndex(spark, d, labeled, annProbes, 5,
          rerankDepth = Similarity.AutoRerankDepth))))
  }

  test("seven vector layouts: warm serves equal cold-cache serves after every write") {
    import spark.implicits._
    import graft.operators.Similarity
    val labeled = Similarity.vectors(Tables.embeddings(spark, sfDir))
    for (c <- vectorCases) withTempDir(s"graft_snap_${c.name}") { dir =>
      def step(leg: String) = s"${c.name} $leg"
      c.build(labeled.filter($"vec_id" % 2 === 0), dir)
      val built = warmEqualsCold(step("build"))(c.serve(dir))
      assert(ids(built, "neighbor_id").forall(_ % 2 == 0), step("build"))
      c.append(labeled.filter($"vec_id" % 2 =!= 0), dir)
      val appended = warmEqualsCold(step("append"))(c.serve(dir))
      assert(ids(appended, "neighbor_id").exists(_ % 2 != 0),
        s"${c.name}: the appended vectors must be served")
      val victims = ids(appended, "neighbor_id").toSeq.sorted.take(3)
      c.delete(victims.toDF("vec_id"), dir)
      val deleted = warmEqualsCold(step("delete"))(c.serve(dir))
      assert(ids(deleted, "neighbor_id").intersect(victims.toSet).isEmpty,
        s"${c.name}: deleted vectors must not be served")
      c.compact(dir)
      assert(warmEqualsCold(step("compact"))(c.serve(dir)) === deleted,
        step("compact"))
      // Same parameters, same directory, a different corpus.
      c.build(labeled.filter($"vec_id" % 3 =!= 0), dir)
      val rebuilt = warmEqualsCold(step("rebuild"))(c.serve(dir))
      assert(rebuilt.nonEmpty &&
        ids(rebuilt, "neighbor_id").forall(_ % 3 != 0), step("rebuild"))
    }
  }

  test("BM25 and phrase serves after delete, compact and rebuild equal cold-cache serves") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sfDir)
    withTempDir("graft_snap_text") { dir =>
      TextAnalysis.writeInvertedIndex(docs, dir, 8)
      val built = warmEqualsCold("build")((bm25Serve(dir), phraseServe(dir)))
      val victims = ids(built._1, "doc_id").toSeq.sorted.take(5) ++
        ids(built._2, "doc_id").toSeq.sorted.take(2)
      TextAnalysis.deleteFromInvertedIndex(spark, victims.toDF("doc_id"), dir)
      val deleted = warmEqualsCold("delete")((bm25Serve(dir), phraseServe(dir)))
      assert((ids(deleted._1, "doc_id") ++ ids(deleted._2, "doc_id"))
        .intersect(victims.toSet).isEmpty, "deleted docs must not be served")
      TextAnalysis.compactInvertedIndex(spark, dir)
      assert(warmEqualsCold("compact")((bm25Serve(dir), phraseServe(dir))) ===
        deleted)
      TextAnalysis.writeInvertedIndex(docs.filter($"doc_id" % 2 === 0), dir, 8)
      val rebuilt = warmEqualsCold("rebuild")((bm25Serve(dir), phraseServe(dir)))
      assert(ids(rebuilt._1, "doc_id").forall(_ % 2 == 0))
    }
  }

  /** One write leg of a [[LayoutCase]] and whether the serve after it
    * must differ from the serve before it. */
  private case class Leg(name: String, write: String => Unit,
      changes: Boolean = true)

  /** A persisted layout's write legs, in order (the first builds), and
    * one serve of it. */
  private case class LayoutCase(name: String,
      serve: String => Set[org.apache.spark.sql.Row], legs: Seq[Leg])

  /** The text, dedup, sketch and chunk layouts, each with every write
    * leg it has. */
  private lazy val layoutCases: Seq[LayoutCase] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode, expr, length}
    import graft.operators.{Dedup, Multimodal, Sketches, TextAnalysis}
    val docs = Tables.documents(spark, sfDir)
    val labeled = docs.select($"doc_id", $"source".as("label"), $"text")
    val corpus = Dedup.augmentCorpus(docs)
    val sigs = Dedup.minhashSignaturesV2(corpus)
    val (base, shard) =
      (sigs.filter($"doc_id" < 100000), sigs.filter($"doc_id" >= 100000))
    def shingles(d: org.apache.spark.sql.DataFrame) =
      d.filter(length(col("text")) >= 8).select(col("source"),
        explode(expr("transform(sequence(1, length(text) - 7), " +
          "i -> substring(text, i, 8))")).as("sh"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSet
    def spellServe(d: String) =
      rows(TextAnalysis.searchSpellIndex(spark, docs, d))
    Seq(
      LayoutCase("symspell", spellServe, Seq(
        Leg("build", TextAnalysis.writeSpellIndex(docs.filter($"doc_id" % 2 === 0), _)),
        Leg("append", TextAnalysis.appendSpellIndex(spark,
          docs.filter($"doc_id" % 2 =!= 0), _)),
        Leg("delete", d => TextAnalysis.deleteFromSpellIndex(spark,
          spellServe(d).map(_.getAs[String]("word")).toSeq.sorted.take(3)
            .toDF("word"), d)),
        Leg("rebuild", TextAnalysis.writeSpellIndex(
          docs.filter($"doc_id" % 3 =!= 0), _)))),
      LayoutCase("nb_model",
        d => rows(TextAnalysis.nbClassifyFromModel(spark,
          docs.select($"doc_id", $"text"), d)), Seq(
        Leg("build", TextAnalysis.nbWriteModel(labeled.filter($"doc_id" % 2 === 0), _)),
        Leg("append", TextAnalysis.nbAppendModel(spark,
          labeled.filter($"doc_id" % 2 =!= 0), _, 1)),
        Leg("delete", TextAnalysis.nbDeleteBatch(spark, _, 1)),
        Leg("append again", TextAnalysis.nbAppendModel(spark,
          labeled.filter($"doc_id" % 4 === 1), _, 2)),
        Leg("compact", TextAnalysis.nbCompactModel(spark, _),
          changes = false),
        Leg("rebuild", TextAnalysis.nbWriteModel(
          labeled.filter($"doc_id" % 3 =!= 0), _)))),
      LayoutCase("substring_fp",
        d => rows(Dedup.substringSpansAgainstIndex(spark,
          docs.filter($"doc_id" % 10 === 0), docs, d)), Seq(
        Leg("build", Dedup.writeSubstringFpIndex(
          docs.filter($"doc_id" % 10 === 1), _)),
        Leg("append", Dedup.appendSubstringFpIndex(spark,
          docs.filter($"doc_id" % 10 === 2), _)),
        Leg("rebuild", Dedup.writeSubstringFpIndex(
          docs.filter($"doc_id" % 10 === 3), _)))),
      LayoutCase("chunk_store",
        d => rows(Multimodal.reconstructFromStore(spark, d)), Seq(
        Leg("build", Multimodal.writeChunkStore(docs.filter($"doc_id" < 50), _)),
        Leg("append", Multimodal.appendChunkStore(spark,
          docs.filter($"doc_id" >= 50 && $"doc_id" < 60), _)),
        Leg("delete", Multimodal.deleteDocsFromChunkStore(spark,
          docs.filter($"doc_id" % 5 === 0).select($"doc_id"), _)),
        Leg("rebuild", Multimodal.writeChunkStore(
          docs.filter($"doc_id" >= 60 && $"doc_id" < 90), _)))),
      LayoutCase("bloom",
        d => rows(Dedup.bloomPrefilterFromIndex(spark,
          docs.filter($"doc_id" < 100), docs, d)), Seq(
        Leg("build", Dedup.writeBloomIndex(docs.filter($"doc_id" % 2 === 0), _,
          shards = 4)),
        Leg("append", Dedup.appendBloomIndex(spark,
          docs.filter($"doc_id" % 4 === 1), _)),
        Leg("rebuild", Dedup.writeBloomIndex(docs.filter($"doc_id" % 3 === 0), _,
          shards = 4)))),
      LayoutCase("lsh",
        d => rows(Dedup.lshIncrementalFromIndex(spark, d, shard, sep = "|")),
        Seq(
        Leg("build", Dedup.writeLshIndex(base.filter($"doc_id" % 2 === 0), _,
          sep = "|")),
        Leg("append", Dedup.appendLshIndex(spark,
          base.filter($"doc_id" % 2 =!= 0), _, sep = "|")),
        Leg("delete", Dedup.deleteFromLshIndex(spark,
          base.filter($"doc_id" % 5 === 0).select($"doc_id"), _)),
        Leg("rebuild", Dedup.writeLshIndex(base.filter($"doc_id" % 3 === 0), _,
          sep = "|")))),
      LayoutCase("kmv", d => rows(Sketches.kmvSetOps(spark, d, k = 16)), Seq(
        Leg("build", Sketches.writeKmvSynopses(
          shingles(docs.filter($"doc_id" % 2 === 0)), col("sh"),
          col("source"), _, k = 16)),
        Leg("rebuild", Sketches.writeKmvSynopses(
          shingles(docs.filter($"doc_id" % 3 === 0)), col("sh"),
          col("source"), _, k = 16)))))
  }

  test("text, dedup, sketch and chunk layouts: warm serves equal cold-cache serves after every write") {
    for (c <- layoutCases) withTempDir(s"graft_snap_${c.name}") { dir =>
      c.legs.foldLeft(Option.empty[Set[org.apache.spark.sql.Row]]) {
        (before, leg) =>
          leg.write(dir)
          val step = s"${c.name} ${leg.name}"
          val after = warmEqualsCold(step)(c.serve(dir))
          before.foreach(b => assert((after != b) == leg.changes,
            s"$step: the serve ${if (leg.changes) "did not change" else "changed"}"))
          Some(after)
      }
    }
  }

  test("a rebuild written from a second SparkSession retires the first session's snapshot") {
    import graft.operators.{Similarity, TextAnalysis}
    val other = spark.newSession()
    import other.implicits._
    withTempDir("graft_snap_sess") { root =>
      val (ann, text) = (s"$root/ann", s"$root/text")
      Similarity.writeIvfPqIndex(annVecs, ann)
      TextAnalysis.writeInvertedIndex(Tables.documents(spark, sfDir), text, 8)
      val before = (annServe(ann), bm25Serve(text))
      Similarity.writeIvfPqIndex(
        Similarity.vectors(Tables.embeddings(other, sfDir))
          .select($"vec_id", $"v").filter($"vec_id" % 2 === 0), ann)
      TextAnalysis.writeInvertedIndex(
        Tables.documents(other, sfDir).filter($"doc_id" % 2 === 0), text, 8)
      val after = warmEqualsCold("the other session's rebuild")(
        (annServe(ann), bm25Serve(text)))
      assert(after != before && ids(after._1, "neighbor_id").forall(_ % 2 == 0) &&
        ids(after._2, "doc_id").forall(_ % 2 == 0))
    }
  }

  test("four threads serving one index at once get identical results") {
    import graft.operators.{IndexSnapshot, Similarity, TextAnalysis}
    withTempDir("graft_snap_threads") { root =>
      val (ann, text) = (s"$root/ann", s"$root/text")
      Similarity.writeIvfPqIndex(annVecs, ann)
      TextAnalysis.writeInvertedIndex(Tables.documents(spark, sfDir), text, 8)
      val want = (annServe(ann), bm25Serve(text), phraseServe(text))
      IndexSnapshot.clear()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val start = new java.util.concurrent.CountDownLatch(1)
        val got = (1 to 4).map(_ => pool.submit(
          new java.util.concurrent.Callable[AnyRef] {
            def call(): AnyRef = {
              start.await()
              (annServe(ann), bm25Serve(text), phraseServe(text))
            }
          }))
        start.countDown()
        got.foreach(f => assert(
          f.get(10, java.util.concurrent.TimeUnit.MINUTES) == want))
      } finally pool.shutdownNow()
    }
  }

  // ---- the generation log: lost commits, racing writers, GC ----------

  private def ivfFlat: VectorCase = vectorCases.find(_.name == "ivf_flat").get

  /** Every path under `dir`, relative to it, without checksum files. */
  private def listing(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.map(root.relativize(_).toString)
        .filterNot(p => p.isEmpty || p.endsWith(".crc")).toSet
    } finally walk.close()
  }

  /** Each table's live files in the latest entry of `dir`'s log. */
  private def liveFileSets(dir: String): Map[String, Set[String]] =
    IndexMeta.latest(spark, dir).tables.map { case (t, lt) =>
      t -> lt.files.map(_.path).toSet }

  /** The file of the newest entry of `dir`'s log. */
  private def newestEntry(dir: String): java.io.File =
    new java.io.File(dir, IndexMeta.Name).listFiles()
      .filter(_.getName.matches("""\d+\.json"""))
      .maxBy(_.getName.stripSuffix(".json").toLong)

  /** One write leg over a prepared dir, and a serve of the dir. */
  private case class CrashCase(name: String, setup: String => Unit,
      leg: String => Unit, serve: String => Set[org.apache.spark.sql.Row])

  test("a leg whose log entry is lost serves the old generation; re-running commits") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val flat = ivfFlat
    val docs = Tables.documents(spark, sfDir)
    val labeled = docs.select($"doc_id", $"source".as("label"), $"text")
    val (even, odd) =
      (annVecs.filter($"vec_id" % 2 === 0), annVecs.filter($"vec_id" % 2 =!= 0))
    val victims = annVecs.filter($"vec_id" % 5 === 0).select($"vec_id")
    val docVictims = docs.filter($"doc_id" % 3 === 0).select($"doc_id")
    def nbServe(d: String) = TextAnalysis.nbClassifyFromModel(spark,
      docs.select($"doc_id", $"text"), d).collect().toSet
    def spellServe(d: String) =
      TextAnalysis.searchSpellIndex(spark, docs, d).collect().toSet
    def nbBase(d: String): Unit = {
      TextAnalysis.nbWriteModel(labeled.filter($"doc_id" % 2 === 0), d)
      TextAnalysis.nbAppendModel(spark, labeled.filter($"doc_id" % 4 === 1),
        d, 1)
    }
    val cases = Seq(
      CrashCase("rebuild", flat.build(even, _), flat.build(odd, _), flat.serve),
      CrashCase("vector append",
        d => { flat.build(even, d); flat.delete(odd.select($"vec_id"), d) },
        flat.append(odd, _), flat.serve),
      CrashCase("vector delete", flat.build(annVecs, _), flat.delete(victims, _),
        flat.serve),
      CrashCase("leaf compaction",
        d => { flat.build(annVecs, d); flat.delete(victims, d) }, flat.compact,
        flat.serve),
      CrashCase("inverted delete", TextAnalysis.writeInvertedIndex(docs, _, 8),
        TextAnalysis.deleteFromInvertedIndex(spark, docVictims, _), bm25Serve),
      CrashCase("inverted compaction", d => {
          TextAnalysis.writeInvertedIndex(docs, d, 8)
          TextAnalysis.deleteFromInvertedIndex(spark, docVictims, d)
        }, TextAnalysis.compactInvertedIndex(spark, _), bm25Serve),
      CrashCase("NB batch overwrite", nbBase, TextAnalysis.nbAppendModel(spark,
        labeled.filter($"doc_id" % 4 === 3), _, 1), nbServe),
      CrashCase("NB batch delete", nbBase, TextAnalysis.nbDeleteBatch(spark, _, 1),
        nbServe),
      CrashCase("symspell delete", TextAnalysis.writeSpellIndex(docs, _),
        TextAnalysis.deleteFromSpellIndex(spark, Seq("the", "of").toDF("word"), _),
        spellServe))
    for (c <- cases) withTempDir(s"graft_crash_${c.name.replace(' ', '_')}") {
      dir =>
        c.setup(dir)
        val (before, filesBefore) = (c.serve(dir), liveFileSets(dir))
        c.leg(dir)
        val (after, filesAfter) = (c.serve(dir), liveFileSets(dir))
        assert(filesAfter != filesBefore, s"${c.name}: the leg listed no new file")
        // The state a crash between the leg's file moves and its commit
        // leaves: every new file on disk, no entry naming them.
        assert(newestEntry(dir).delete())
        assert(c.serve(dir) === before,
          s"${c.name}: a leg without its entry changed the serve")
        assert(liveFileSets(dir) === filesBefore, c.name)
        c.leg(dir)
        assert(c.serve(dir) === after,
          s"${c.name}: re-running the leg did not commit its generation")
    }
  }

  test("a dir holding only a pre-log sidecar fails every leg naming rebuild, untouched") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val flat = ivfFlat
    val docs = Tables.documents(spark, sfDir)
    withTempDir("graft_prelog") { dir =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_graft_meta.json"),
        """{"layout":"ivf_flat","fmt":"1"}""".getBytes("UTF-8"))
      val before = listing(dir)
      val ids = Seq(1L, 2L)
      val legs = Seq[(String, () => Unit)](
        "build" -> (() => flat.build(annVecs, dir)),
        "append" -> (() => flat.append(annVecs, dir)),
        "delete" -> (() => flat.delete(ids.toDF("vec_id"), dir)),
        "compact" -> (() => flat.compact(dir)),
        "serve" -> (() => flat.serve(dir)),
        "inverted build" -> (() => TextAnalysis.writeInvertedIndex(docs, dir, 8)),
        "inverted delete" -> (() =>
          TextAnalysis.deleteFromInvertedIndex(spark, ids.toDF("doc_id"), dir)),
        "inverted compaction" -> (() =>
          TextAnalysis.compactInvertedIndex(spark, dir)),
        "NB append" -> (() => TextAnalysis.nbAppendModel(spark,
          docs.select($"doc_id", $"source".as("label"), $"text"), dir, 1)),
        "NB delete" -> (() => TextAnalysis.nbDeleteBatch(spark, dir, 1)),
        "spell delete" -> (() => TextAnalysis.deleteFromSpellIndex(spark,
          Seq("the").toDF("word"), dir)),
        "fields" -> (() => IndexMeta.read(spark, dir)))
      for ((leg, run) <- legs) {
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains("rebuild"),
          s"$leg on a pre-log dir failed without naming rebuild: ${e.getMessage}")
        assert(listing(dir) === before, s"$leg changed a pre-log dir")
      }
    }
    // A first build that crashed leaves only its staging child: the next
    // build goes ahead.
    withTempDir("graft_first_crash") { dir =>
      val junk = new java.io.File(dir, "_graft_stage-crashed/1/index/part-0.parquet")
      junk.getParentFile.mkdirs()
      java.nio.file.Files.write(junk.toPath, Array[Byte](1, 2, 3))
      flat.build(annVecs, dir)
      assert(flat.serve(dir).nonEmpty)
    }
  }

  test("racing appends each commit or name the entry they lost; no committed row is lost") {
    import spark.implicits._
    val flat = ivfFlat
    withTempDir("graft_race_append") { dir =>
      flat.build(annVecs.filter($"vec_id" % 7 === 0), dir)
      val results = (1 to 3).flatMap { round =>
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        try {
          val start = new java.util.concurrent.CountDownLatch(1)
          val legs = Seq(2 * round - 1, 2 * round).map { slice =>
            val batch = annVecs.filter($"vec_id" % 7 === slice)
            val ids = batch.select($"vec_id").as[Long].collect().toSet
            ids -> pool.submit(new java.util.concurrent.Callable[Option[String]] {
              def call(): Option[String] = {
                start.await()
                try { flat.append(batch, dir); None }
                catch { case e: java.util.ConcurrentModificationException =>
                  Some(e.getMessage) }
              }
            })
          }
          start.countDown()
          legs.map { case (ids, f) =>
            ids -> f.get(10, java.util.concurrent.TimeUnit.MINUTES) }
        } finally pool.shutdownNow()
      }
      val stored = liveTable(dir, "index")
        .select($"vec_id").as[Long].collect().toSet
      results.foreach {
        case (ids, None) =>
          assert(ids.subsetOf(stored), "a committed append's rows are missing")
        case (ids, Some(msg)) =>
          assert("""entry \d+""".r.findFirstIn(msg).isDefined,
            s"a losing append did not name the entry it lost: $msg")
          assert(ids.intersect(stored).isEmpty,
            "a losing append's rows were served")
      }
      assert(results.count(_._2.isEmpty) >= 3, "a round committed nothing")
      info(s"${results.count(_._2.isDefined)} of 6 appends lost their race")
    }
  }

  test("a write past the grace drops dead entries, unlisted files and emptied dirs") {
    import spark.implicits._
    val flat = ivfFlat
    withTempDir("graft_gc") { dir =>
      flat.build(annVecs, dir)
      val victims = annVecs.filter($"vec_id" % 5 === 0).select($"vec_id")
      flat.delete(victims, dir)
      flat.compact(dir)
      def plant(rel: String): java.io.File = {
        val f = new java.io.File(dir, rel)
        f.getParentFile.mkdirs()
        java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
        f
      }
      // What a crashed leg leaves: its staging child, and a moved file
      // no entry lists.
      val leftovers = Seq(plant("_graft_stage-crashed/1/index/part-0.parquet"),
        plant("index/cell=0/part-uncommitted.parquet"))
      val fs = FsOps.fsOf(spark, dir)
      val aged = System.currentTimeMillis() - 2 * IndexMeta.GraceMillis
      listing(dir).foreach(p => fs.setTimes(new Path(dir, p), aged, -1))
      val young = plant("index/part-young.parquet")
      val live = IndexMeta.latest(spark, dir)
      val liveFiles = live.tables.values.flatMap(_.files).toSeq.map(f =>
        f -> fs.getFileStatus(new Path(dir, f.path)).getModificationTime)
      assert(liveFiles.nonEmpty && listing(dir).contains("tombstones"))
      flat.append(annVecs.filter($"vec_id" % 5 === 0), dir)
      val entries = new java.io.File(dir, IndexMeta.Name).list().toSet
      assert(entries === Set(s"${live.n}.json", s"${live.n + 1}.json"),
        "entries superseded before the grace must go; the one the write " +
          "superseded stays for its own grace")
      leftovers.foreach(f => assert(!f.exists(), s"$f outlived the grace"))
      assert(young.exists(), "an unlisted file younger than the grace was deleted")
      assert(!listing(dir).contains("tombstones") &&
        !listing(dir).exists(_.startsWith("_graft_stage")),
        "an emptied dir survived the sweep")
      val listed = (IndexMeta.latest(spark, dir).tables.values ++
        live.tables.values).flatMap(_.files.map(_.path)).toSet
      val files = listing(dir).filter(p => new java.io.File(dir, p).isFile &&
        !p.startsWith(IndexMeta.Name))
      assert(files -- listed === Set("index/part-young.parquet"),
        "files no live entry lists outlived the grace")
      liveFiles.foreach { case (f, mtime) =>
        val st = fs.getFileStatus(new Path(dir, f.path))
        assert(st.getLen == f.length && st.getModificationTime == mtime,
          s"the live file ${f.path} was touched")
      }
      assert(listing(dir).forall(p => !new java.io.File(dir, p).isDirectory ||
        new java.io.File(dir, p).list().nonEmpty), "an empty dir survived")
    }
  }
}
