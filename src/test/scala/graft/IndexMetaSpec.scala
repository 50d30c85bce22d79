package graft

import graft.operators.{FsOps, IndexMeta}
import org.apache.hadoop.fs.Path

/** The index-sidecar contract: build parameters round-trip EXACTLY
  * (including JSON metacharacters — an LSH `sep` of `"` or `\` must
  * not mangle the sidecar, or requireMatch silently compares against
  * garbage), presence failures are loud, and the checked-filesystem
  * helpers every swap site routes through actually check. */
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

  test("FsOps.swapInto promotes staging and clears a leftover _old dir") {
    withTempDir("graft_fsops") { root =>
      val fs = FsOps.fsOf(spark, root)
      val live = s"$root/table"
      val staging = s"$root/table_next"
      fs.mkdirs(new Path(live))
      fs.create(new Path(live, "a.txt"), true).close()
      fs.mkdirs(new Path(staging))
      fs.create(new Path(staging, "b.txt"), true).close()
      // Leftover from a "crashed" earlier swap must not block.
      fs.mkdirs(new Path(s"${live}_old"))
      FsOps.swapInto(fs, staging, live)
      assert(fs.exists(new Path(live, "b.txt")),
        "staging contents must be live after the swap")
      assert(!fs.exists(new Path(live, "a.txt")),
        "old live contents must be gone after the swap")
      assert(!fs.exists(new Path(s"${live}_old")),
        "the aside dir must be cleaned up")
      assert(!fs.exists(new Path(staging)),
        "the staging dir must be consumed")
    }
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

  test("FsOps.clearStaging spares the _old recovery copy and refuses " +
      "to sweep a staging child whose live base is missing") {
    withTempDir("graft_fsops_cs") { root =>
      val fs = FsOps.fsOf(spark, root)
      def mk(name: String): Path = {
        val p = new Path(s"$root/$name")
        fs.mkdirs(p)
        fs.create(new Path(p, "x.txt"), true).close()
        p
      }
      // Normal crash-left staging: base table present → swept.
      val base = mk("codes")
      val next = mk("codes_next")
      val comp = mk("codes_compacting")
      val scratch = mk("_staging")
      // The rename-aside recovery copy: must NEVER be swept here.
      val old = mk("codes_old")
      FsOps.clearStaging(fs, root)
      assert(fs.exists(base) && fs.exists(old),
        "clearStaging must not touch the live table or its _old copy")
      assert(!fs.exists(next) && !fs.exists(comp) && !fs.exists(scratch),
        "staging children beside a live base must be swept")
      // Mid-swap crash signature: staging present, live base ABSENT —
      // the staging (or _old) may be the only full copy. Refuse loudly.
      val orphan = mk("tombstones_next")
      val e = intercept[RuntimeException] { FsOps.clearStaging(fs, root) }
      assert(e.getMessage.contains("no live base") &&
        e.getMessage.contains("tombstones"),
        s"expected the manual-recovery refusal, got: ${e.getMessage}")
      assert(fs.exists(orphan),
        "the orphaned staging child must survive the refusal")
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

  test("a sidecar without generation tokens memoizes nothing") {
    import spark.implicits._
    import graft.operators.IndexSnapshot
    val labeled = graft.operators.Similarity.vectors(
      Tables.embeddings(spark, sfDir))
    for (c <- vectorCases.filter(c => Set("ivf_pq", "ivf_flat")(c.name)))
      withTempDir(s"graft_snap_legacy_${c.name}") { dir =>
        c.build(labeled, dir)
        // A sidecar as an older build wrote it: no generation tokens.
        IndexMeta.write(spark, dir, (IndexMeta.read(spark, dir) --
          Seq(IndexSnapshot.QuantizerGen, IndexSnapshot.DataGen)).toSeq: _*)
        val first = c.serve(dir)
        val victims = ids(first, "neighbor_id").toSeq.sorted.take(3)
        c.delete(victims.toDF("vec_id"), dir)
        assert(!IndexMeta.read(spark, dir).contains(IndexSnapshot.DataGen),
          s"${c.name}: a write leg must not add tokens to a token-less sidecar")
        val after = c.serve(dir)
        assert(ids(after, "neighbor_id").intersect(victims.toSet).isEmpty,
          s"${c.name}: a token-less index must re-derive its state on " +
            "every serve")
      }
  }
}
