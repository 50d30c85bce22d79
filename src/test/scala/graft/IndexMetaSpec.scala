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
    // tombstone is written, not "succeed" and mask nothing.
    import spark.implicits._
    import graft.operators.{Similarity, TextAnalysis}
    withTempDir("graft_del_checked") { root =>
      val (empty, text) = (s"$root/empty", s"$root/text")
      val fs = FsOps.fsOf(spark, root)
      fs.mkdirs(new Path(empty))
      TextAnalysis.writeInvertedIndex(Tables.documents(spark, sfDir), text, 8)
      for (dir <- Seq(empty, text)) {
        intercept[IllegalArgumentException] {
          Similarity.deleteFromIvfIndex(spark, Seq(1L, 2L).toDF("vec_id"), dir)
        }
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

  test("IVF-PQ serves after append, delete, compact and rebuild equal cold-cache serves") {
    import spark.implicits._
    import graft.operators.Similarity
    withTempDir("graft_snap_ann") { dir =>
      Similarity.writeIvfPqIndex(annVecs.filter($"vec_id" % 2 === 0), dir,
        quantizer = Some(annVecs))
      val built = warmEqualsCold("build")(annServe(dir))
      assert(ids(built, "neighbor_id").forall(_ % 2 == 0))
      Similarity.appendIvfPqIndex(spark,
        annVecs.filter($"vec_id" % 2 =!= 0), dir)
      val appended = warmEqualsCold("append")(annServe(dir))
      assert(ids(appended, "neighbor_id").exists(_ % 2 != 0),
        "the appended vectors must be served")
      val victims = ids(appended, "neighbor_id").toSeq.sorted.take(3)
      Similarity.deleteFromIvfIndex(spark, victims.toDF("vec_id"), dir)
      val deleted = warmEqualsCold("delete")(annServe(dir))
      assert(ids(deleted, "neighbor_id").intersect(victims.toSet).isEmpty,
        "deleted vectors must not be served")
      Similarity.compactIvfPqIndex(spark, dir)
      assert(warmEqualsCold("compact")(annServe(dir)) === deleted)
      // Same parameters, same directory, a different corpus.
      Similarity.writeIvfPqIndex(annVecs.filter($"vec_id" % 3 =!= 0), dir)
      val rebuilt = warmEqualsCold("rebuild")(annServe(dir))
      assert(rebuilt.nonEmpty && ids(rebuilt, "neighbor_id").forall(_ % 3 != 0))
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
    import graft.operators.{IndexSnapshot, Similarity}
    withTempDir("graft_snap_legacy") { dir =>
      Similarity.writeIvfPqIndex(annVecs, dir)
      // A sidecar as an older build wrote it: no generation tokens.
      IndexMeta.write(spark, dir, (IndexMeta.read(spark, dir) --
        Seq(IndexSnapshot.QuantizerGen, IndexSnapshot.DataGen)).toSeq: _*)
      val first = annServe(dir)
      val victims = ids(first, "neighbor_id").toSeq.sorted.take(3)
      Similarity.deleteFromIvfIndex(spark, victims.toDF("vec_id"), dir)
      assert(!IndexMeta.read(spark, dir).contains(IndexSnapshot.DataGen),
        "a write leg must not add tokens to a token-less sidecar")
      val after = annServe(dir)
      assert(ids(after, "neighbor_id").intersect(victims.toSet).isEmpty,
        "a token-less index must re-derive its state on every serve")
    }
  }
}
