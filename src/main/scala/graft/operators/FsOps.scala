package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Checked filesystem mutations for the persisted-index commit paths.
  *
  * Every index rewrite in this engine stages to a sibling directory
  * and promotes it by rename, but the Hadoop `FileSystem` API reports
  * failure as a `false` RETURN VALUE, not an exception — an unchecked
  * `fs.rename` that fails leaves the index absent or half-swapped
  * with no signal, defeating the repo's loud-failure discipline. All
  * swap sites route through here so the result of every delete/rename
  * is checked, and the promote uses the rename-aside order
  * (live → live_old, staging → live, drop live_old): the
  * no-live-index window shrinks to the single staging→live rename,
  * and a crash inside it leaves `live_old` on disk for manual
  * recovery instead of nothing. */
private[graft] object FsOps {

  def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Delete `p` recursively if present; throw if the delete reports
    * failure (false with the path still present). */
  def deleteIfExists(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p) && !fs.delete(p, true) && fs.exists(p))
      sys.error(s"delete of $p failed — index directory left in an " +
        "inconsistent state; remove it manually before serving")

  def checkedRename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      sys.error(s"rename $src -> $dst failed — staged index rewrite " +
        "not committed; the staging directory is intact, retry the " +
        "operation")

  /** Sweep crash-left STAGING children out of an index layout dir.
    * Every staged rewrite in this engine writes to a child named
    * `_staging`, `*_next`, `*_compacting`, or `*_empty` before its
    * commit rename — a crash between the staging write and the swap
    * leaves that child behind. Such leftovers are correctness-inert
    * (serves read named live subpaths) but leak storage and make the
    * layout dir non-canonical for anything inventorying it, so every
    * op that stages calls this at ENTRY, before its own staging
    * write. Single-writer discipline is assumed (as everywhere in the
    * commit paths): sweeping while another writer is mid-stage would
    * delete its staging.
    *
    * Two children are deliberately NOT swept:
    *   - `*_old` — [[swapInto]]'s rename-aside, and the documented
    *     manual-recovery copy when a crash lands between its two
    *     renames (live absent, `X_old` + staging the only full
    *     copies). [[swapInto]] itself clears a leftover `_old` at its
    *     next successful run; sweeping it here would destroy the
    *     recovery copy exactly when it is needed.
    *   - an `X_<suffix>` child whose live base `X` is ABSENT — that is
    *     the signature of the mid-swap crash window (or of a first
    *     write whose commit rename crashed, where the staging may hold
    *     the only copy of pending state). Deleting it would convert a
    *     recoverable crash into data loss, so the sweep fails loudly
    *     and asks for manual recovery instead.
    * `_staging` (the exact name) is always safe: it is a scratch
    * materialization feeding append-mode writes into live tables,
    * never a swap source, so it is never the sole copy of anything.
    * No live table ever matches these names — they are reserved
    * staging suffixes. */
  def clearStaging(fs: FileSystem, dir: String): Unit = {
    val d = new Path(dir)
    if (fs.exists(d)) {
      val children = fs.listStatus(d)
      val names = children.map(_.getPath.getName).toSet
      children.foreach { st =>
        val n = st.getPath.getName
        if (n == "_staging") deleteIfExists(fs, st.getPath)
        else Seq("_next", "_compacting", "_empty")
          .find(n.endsWith).foreach { suf =>
            val base = n.stripSuffix(suf)
            if (base.nonEmpty && names.contains(base))
              deleteIfExists(fs, st.getPath)
            else
              sys.error(s"clearStaging: staging child $dir/$n has no " +
                s"live base table '$base' beside it — this marks a " +
                "crash inside a commit rename, and the staging (or " +
                s"the sibling ${base}_old, if present) may hold the " +
                "only copy of that table's state. Refusing to sweep; " +
                "recover manually: rename the most recent full copy " +
                s"to $dir/$base, then delete the leftovers.")
          }
      }
    }
  }

  /** Promote `staging` to `live`: move the current live dir aside,
    * rename staging into place, then drop the old copy. A leftover
    * `_old` dir from a previously crashed swap is cleared first. */
  def swapInto(fs: FileSystem, staging: String, live: String): Unit = {
    val livePath = new Path(live)
    val stagingPath = new Path(staging)
    val old = new Path(live.stripSuffix("/") + "_old")
    deleteIfExists(fs, old)
    if (fs.exists(livePath)) checkedRename(fs, livePath, old)
    checkedRename(fs, stagingPath, livePath)
    deleteIfExists(fs, old)
  }
  /** Loud schema contract on the metadata-carrying append legs
    * ([[Similarity.appendIvfIndex]], [[Similarity.appendImiIndex]],
    * the NB model, the substring-fp layout — every layout that
    * persist ALL input columns so metadata rides beside the vector
    * for the filtered serves): the frame about to be appended must
    * carry exactly the stored table's column set. A parquet append
    * with a different set would not fail — it would leave
    * mixed-schema files behind, and the filtered serve would read
    * nulls (or miss the predicate column entirely) on half the index.
    * Checked BEFORE the drained-placeholder sweep so a fully-drained
    * table's schema (preserved by the zero-row placeholder) still
    * gates the batch. Skipped only when the table does not exist at
    * all (nothing to diverge from). */
  def requireAppendColumns(
      spark: org.apache.spark.sql.SparkSession, tableDir: String,
      batch: DataFrame, leg: String): Unit = {
    val fs = fsOf(spark, tableDir)
    if (fs.exists(new org.apache.hadoop.fs.Path(tableDir)))
      requireColumns(spark.read.parquet(tableDir).schema, batch, leg)
  }

  /** [[requireAppendColumns]] against an already-known stored schema
    * (an opened [[IndexSnapshot]] holds it), so the gate runs no
    * schema-inference job. */
  def requireColumns(storedSchema: org.apache.spark.sql.types.StructType,
      batch: DataFrame, leg: String): Unit = {
    // Name AND type, order-insensitive: a batch with matching names
    // but a different type (label INT vs stored STRING) would also
    // append cleanly and leave mixed-type files that fail — or
    // silently coerce — on the next read, the exact corruption class
    // this guard exists to reject. Nullability is excluded AT EVERY
    // DEPTH (simpleString erases it, including array containsNull —
    // parquet round-trips flip it freely and the union is harmless).
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType.simpleString))
        .sortBy(_._1).toSeq
    val stored = shape(storedSchema)
    val incoming = shape(batch.schema)
    require(incoming == stored,
      s"$leg: appended batch schema " +
        s"[${incoming.map(f => s"${f._1}: ${f._2}").mkString(", ")}]" +
        " does not match the stored index schema " +
        s"[${stored.map(f => s"${f._1}: ${f._2}").mkString(", ")}]" +
        " — metadata columns persist beside the vector for the " +
        "filtered serve, so every batch must carry the same column " +
        "set AND types the index was built with (a raw parquet " +
        "append would leave mixed-schema files behind instead of " +
        "failing)")
  }
}
