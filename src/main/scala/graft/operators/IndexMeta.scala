package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.Path

/** One-row JSON sidecar for persisted index layouts (`_graft_meta
  * .json` — underscore-prefixed, so parquet directory listings ignore
  * it like `_SUCCESS`): records the build parameters an index's serve
  * leg must match, and lets the serve FAIL LOUDLY on a mismatched
  * config instead of silently joining disjoint keyspaces (the repo's
  * non-convergence discipline, applied to build/serve coupling).
  * Written through the Hadoop FileSystem API so the sidecar lands on
  * whatever filesystem the index does. */
private[graft] object IndexMeta {
  val Name = "_graft_meta.json"

  // JSON string escaping, both directions: a parameter value holding
  // a quote or backslash (a custom LSH `sep`, say) must round-trip
  // exactly — an unescaped write would produce a sidecar whose regex
  // parse silently drops or mangles fields, and requireMatch would
  // then compare against garbage, defeating the loud-mismatch
  // contract it exists for.
  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
  private def unesc(s: String): String =
    """\\(.)""".r.replaceAllIn(s,
      m => java.util.regex.Matcher.quoteReplacement(m.group(1)))

  def write(spark: SparkSession, dir: String,
      fields: (String, String)*): Unit = {
    val path = new Path(dir, Name)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try out.write(fields
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def read(spark: SparkSession, dir: String): Map[String, String] = {
    val path = new Path(dir, Name)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(path),
      s"no $Name under $dir — not a graft index layout (or an index " +
        "built before meta sidecars; rebuild it)")
    // Write legs rewrite the sidecar in place to bump its generation
    // token, so a serve can catch it mid-write: a torn read (cut short,
    // or failing its checksum) is retried briefly, never parsed.
    def load(): Option[String] = {
      val in = fs.open(path)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        .filter(t => t.startsWith("{") && t.endsWith("}"))
      catch { case _: org.apache.hadoop.fs.ChecksumException => None }
      finally in.close()
    }
    val txt = Iterator.iterate(load())(_ => { Thread.sleep(20); load() })
      .take(50).collectFirst { case Some(t) => t }
      .getOrElse(sys.error(s"$Name under $dir is not a complete JSON " +
        "object — a torn or corrupt sidecar; rebuild the index"))
    // Token = any run of non-quote chars or escaped chars, so an
    // escaped quote stays inside its field instead of ending it.
    """"((?:[^"\\]|\\.)+)":"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(txt)
      .map(m => unesc(m.group(1)) -> unesc(m.group(2))).toMap
  }

  /** Fail unless every `expected` key matches the stored value. */
  def requireMatch(spark: SparkSession, dir: String,
      expected: (String, String)*): Unit =
    check(dir, read(spark, dir), expected)

  /** [[requireMatch]] against an already-read sidecar; `hint` names
    * what a sidecar of the expected kind records. */
  def check(dir: String, got: Map[String, String],
      expected: Seq[(String, String)], hint: String = ""): Unit =
    expected.foreach { case (k, v) =>
      require(got.get(k).contains(v),
        s"index at $dir was built with $k=" +
          s"${got.getOrElse(k, "<absent>")} but the serve requested " +
          s"$k=$v$hint — serve with the build config or rebuild the index")
    }
}

/** Serve-side state of a persisted index that only a write can change,
  * opened once per index GENERATION and reused by every serve until the
  * next write — the way a search engine reuses one opened searcher
  * between refreshes instead of re-reading its segments per query.
  *
  * Every write leg stores fresh random tokens in the [[IndexMeta]]
  * sidecar after its data commits: a (re)build writes a new
  * QUANTIZER token and a new DATA token ([[buildTokens]]); an append,
  * delete or compaction writes a new data token only ([[bumpData]]),
  * since the quantizer is fixed once trained. A serve reads the
  * sidecar (the read [[IndexMeta.requireMatch]] already makes) and
  * reuses a memoized value only under the token it was derived under,
  * so a write by any session or JVM retires it at the next serve.
  *
  * Memoized values are plain local values — sub-table schemas,
  * collected quantizer entries, occupancy and corpus-stat scalars,
  * tombstone presence — never DataFrames or results, and each is
  * derived on first use. Quantizer-keyed values survive data writes;
  * data-keyed values are re-derived after each. A sidecar without
  * tokens (written by an older build) memoizes nothing: every value is
  * derived afresh per serve, exactly as before tokens existed. The
  * cache holds at most [[Bound]] index directories, least recently
  * opened evicted first; concurrent serves may derive one value twice
  * (identical either way) but never see a half-built entry.
  *
  * A write leg that dies between its data commit and its token write
  * leaves the old tokens in place, so serves in a JVM that had already
  * opened the index keep the old derived values until the next write;
  * re-running the failed leg (the documented recovery for every leg)
  * writes the token. */
private[graft] object IndexSnapshot {
  val QuantizerGen = "quantizer_gen"
  val DataGen = "data_gen"
  private val Bound = 16

  private def token(): String = java.util.UUID.randomUUID().toString

  /** Values derived under one token. */
  private final class Memo(val token: String) {
    private val values =
      new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
    def apply[T <: AnyRef](key: String)(f: => T): T =
      Option(values.get(key)).getOrElse {
        values.putIfAbsent(key, f)
        values.get(key)
      }.asInstanceOf[T]
  }

  private final class Entry(val quantizer: Memo, val data: Memo)

  private val cache = new java.util.LinkedHashMap[String, Entry](
      Bound, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, Entry]): Boolean = size() > Bound
  }

  /** One opened generation of an index: its sidecar fields and the
    * memoized values derived from its quantizer or data. */
  final class Snapshot private[IndexSnapshot] (
      val meta: Map[String, String], q: Option[Memo], d: Option[Memo]) {
    /** A value that changes only when the index is rebuilt. */
    def quantizer[T <: AnyRef](key: String)(f: => T): T =
      q.fold(f)(_(key)(f))
    /** A value that changes with any write to the index. */
    def data[T <: AnyRef](key: String)(f: => T): T = d.fold(f)(_(key)(f))
  }

  /** The memoized state of the generation `meta`, the sidecar just
    * read from `dir`, names. */
  def open(spark: SparkSession, dir: String,
      meta: Map[String, String]): Snapshot =
    (meta.get(QuantizerGen), meta.get(DataGen)) match {
      case (Some(qt), Some(dt)) =>
        val p = new Path(dir)
        val key = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .makeQualified(p).toString
        val e = cache.synchronized {
          val old = Option(cache.get(key))
          val q = old.map(_.quantizer).filter(_.token == qt)
          val d = old.filter(_ => q.isDefined).map(_.data)
            .filter(_.token == dt)
          val e = new Entry(q.getOrElse(new Memo(qt)),
            d.getOrElse(new Memo(dt)))
          cache.put(key, e)
          e
        }
        new Snapshot(meta, Some(e.quantizer), Some(e.data))
      case _ => new Snapshot(meta, None, None)
    }

  /** Drops every memoized generation; the next serve of each index
    * derives its values afresh (the cold-cache baseline in tests). */
  def clear(): Unit = cache.synchronized(cache.clear())

  /** Fresh tokens for the sidecar a (re)build writes. */
  def buildTokens(): Seq[(String, String)] =
    Seq(QuantizerGen -> token(), DataGen -> token())

  /** A fresh data token for `dir`'s sidecar, called after a data write
    * commits. Sidecars without tokens, and dirs without a sidecar,
    * are left as they are. */
  def bumpData(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir, IndexMeta.Name)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) {
      val meta = IndexMeta.read(spark, dir)
      if (meta.contains(DataGen))
        IndexMeta.write(spark, dir,
          (meta + (DataGen -> token())).toSeq.sortBy(_._1): _*)
    }
  }
}

/** One persisted index layout: the fixed fields its sidecar records
  * and every leg checks (`layout` first, then `fmt` and any fixed
  * shape such as BQ's `bits`), the build parameters its sidecar must
  * also record, its tables with their partition keys, and the schema
  * of its tombstone table when it has one. Every table sits in a
  * subdir: a layout's root holds only its sidecar and tombstones, which
  * must not sit inside a parquet table's own listing.
  *
  * The three shared write legs — [[build]], [[OpenedLayout.append]]
  * and [[OpenedLayout.replace]] — and the one open are all that reads
  * or writes a sidecar; a leg only one layout has composes them inside
  * [[OpenedLayout.commit]]. */
private[graft] final case class Layout(sidecar: Seq[(String, String)],
    params: Seq[String], tables: Seq[(String, Seq[String])],
    tombstones: Option[StructType] = None) {
  def name: String = sidecar.head._2

  /** The partition keys of `table`; none for a table not listed. */
  def keys(table: String): Seq[String] =
    tables.collectFirst { case (`table`, k) => k }.getOrElse(Nil)

  /** Open `dir`'s current generation as this layout, failing loudly
    * unless its sidecar records the fixed fields, the given build
    * parameters and every declared parameter key. */
  def open(spark: SparkSession, dir: String,
      params: (String, String)*): OpenedLayout =
    openRead(spark, dir, IndexMeta.read(spark, dir), params)

  private[operators] def openRead(spark: SparkSession, dir: String,
      meta: Map[String, String],
      params: Seq[(String, String)]): OpenedLayout = {
    val records = (sidecar.map(_._1) ++ this.params).mkString(", ")
    IndexMeta.check(dir, meta, sidecar ++ params,
      s" (a $name sidecar records $records)")
    this.params.foreach(k => require(meta.contains(k),
      s"index at $dir has no `$k` key in its sidecar — not a $name " +
        "layout (or a sidecar copied from another layout); rebuild it"))
    new OpenedLayout(spark, dir, this, IndexSnapshot.open(spark, dir, meta))
  }

  /** The build leg: sweep crash-left staging and the previous
    * generation's tombstones (a rebuild supersedes prior deletions),
    * run `tables` (which may first write quantizer tables of its own),
    * write each returned table partitioned by its keys, then the
    * sidecar with fresh generation tokens ([[IndexSnapshot]]). */
  def build(spark: SparkSession, dir: String, params: (String, String)*)(
      tables: => Seq[(String, DataFrame)]): Unit = {
    require(this.params.forall(k => params.exists(_._1 == k)),
      s"a $name build must record ${this.params.mkString(", ")}")
    val fs = FsOps.fsOf(spark, dir)
    FsOps.clearStaging(fs, dir)
    FsOps.deleteIfExists(fs, new Path(dir, "tombstones"))
    tables.foreach { case (t, rows) =>
      rows.write.mode("overwrite").partitionBy(keys(t): _*)
        .parquet(s"$dir/$t")
    }
    IndexMeta.write(spark, dir,
      sidecar ++ params ++ IndexSnapshot.buildTokens(): _*)
  }
}

private[graft] object Layout {
  /** Open `dir` as whichever of `layouts` its sidecar names. */
  def openAny(spark: SparkSession, dir: String,
      layouts: Seq[Layout]): OpenedLayout = {
    val meta = IndexMeta.read(spark, dir)
    val name = meta.getOrElse("layout", "<absent>")
    val layout = layouts.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"index at $dir has " +
        s"layout=$name; this leg applies to " +
        layouts.map(_.name).sorted.mkString(", ")))
    layout.openRead(spark, dir, meta, Nil)
  }
}

/** One opened generation of a persisted [[Layout]]: `dir`'s sidecar,
  * checked at open, and the values every leg derives from the stored
  * tables, held by the index's [[IndexSnapshot]] so each is derived
  * once per generation:
  *  - each table's schema (quantizer-keyed: a write rewrites rows,
  *    never columns), so a table reads with no schema-inference job
  *    and an append gates on it;
  *  - tombstone presence (data-keyed), read from the tombstone
  *    table's parquet footers, so it costs no job either.
  * On an index already opened since its last write, building a serve
  * frame therefore runs no Spark job.
  *
  * Write legs run inside [[commit]]: crash-left staging is swept at
  * entry and a fresh data token is written after the leg's last data
  * write, so a leg made of several writes (an append that also
  * reconciles tombstones, a compaction) writes its token once, last. */
private[graft] final class OpenedLayout private[operators] (
    val spark: SparkSession, val dir: String, val layout: Layout,
    snap: IndexSnapshot.Snapshot) {
  private var depth = 0
  private def fs = FsOps.fsOf(spark, dir)

  def path(table: String): String = s"$dir/$table"

  /** A build parameter the sidecar records. */
  def param(key: String): String = snap.meta(key)

  /** A value that changes only when the index is rebuilt. */
  def quantizer[T <: AnyRef](key: String)(f: => T): T =
    snap.quantizer(key)(f)

  /** A value that changes with any write to the index. */
  def data[T <: AnyRef](key: String)(f: => T): T = snap.data(key)(f)

  def schema(table: String): StructType =
    snap.quantizer(s"$table.schema")(spark.read.parquet(path(table)).schema)

  /** `table` read with its held schema. */
  def table(table: String): DataFrame =
    spark.read.schema(schema(table)).parquet(path(table))

  /** The tombstone table when it holds any row: never deleted, or
    * drained, plans no mask. */
  def tombstones: Option[DataFrame] =
    layout.tombstones.filter(_ => data[java.lang.Boolean]("tombstones")(
      Boolean.box(FsOps.hasRows(spark, path("tombstones")))))
      .map(spark.read.schema(_).parquet(path("tombstones")))

  /** Run the write leg `body`: sweep staging at entry, write a new data
    * token after it. Nested commits write one token, at the end of the
    * outermost. */
  def commit[T](body: => T): T = {
    if (depth == 0) FsOps.clearStaging(fs, dir)
    depth += 1
    val r = try body finally depth -= 1
    if (depth == 0) IndexSnapshot.bumpData(spark, dir)
    r
  }

  /** Fail unless `rows` carries exactly `table`'s stored column set
    * and types ([[FsOps.requireColumns]]). */
  def gate(table: String, rows: DataFrame, leg: String): Unit =
    FsOps.requireColumns(schema(table), rows, leg)

  /** The append leg: gate `rows` on the held schema, append them
    * partitioned by the table's keys, then write a new data token. */
  def append(table: String, rows: DataFrame, leg: String): Unit = commit {
    gate(table, rows, leg)
    rows.write.mode("append").partitionBy(layout.keys(table): _*)
      .parquet(path(table))
  }

  /** The staged replace leg: write each table's new rows to
    * `<table>_next`, then — every Spark action done — swap them in, in
    * the given order, then write a new data token. */
  def replace(tables: (String, DataFrame)*): Unit = commit {
    tables.foreach { case (t, rows) =>
      rows.write.mode("overwrite").partitionBy(layout.keys(t): _*)
        .parquet(path(s"${t}_next"))
    }
    tables.foreach { case (t, _) => swap(s"${t}_next", t) }
  }

  /** Promote the staged child `staging` to `table` ([[FsOps.swapInto]]). */
  def swap(staging: String, table: String): Unit =
    FsOps.swapInto(fs, path(staging), path(table))
}
