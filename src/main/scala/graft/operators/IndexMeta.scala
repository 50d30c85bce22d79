package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** One file of a live table: its path relative to the index dir, and
  * the length and modification time it had when its leg committed. */
private[graft] final case class LiveFile(path: String, length: Long,
    mtime: Long)

/** One table of a generation: its schema (as JSON), its partition keys
  * and the files it is made of. An empty table is an empty file list. */
private[graft] final case class LiveTable(schemaJson: String,
    keys: Seq[String], files: Seq[LiveFile]) {
  @com.fasterxml.jackson.annotation.JsonIgnore def schema: StructType =
    DataType.fromJson(schemaJson).asInstanceOf[StructType]
}

/** One entry of an index's generation log: entry `n` names the layout's
  * fields (layout, fmt, shape and build parameters), the entry number
  * `build` of the last (re)build and the id that build drew, and every
  * table with its live files, tombstones included. */
private[graft] final case class LogEntry(n: Long,
    fields: Map[String, String], build: Long, buildId: String,
    tables: Map[String, LiveTable])

/** The generation log of a persisted index layout: `<dir>/_graft_log/
  * <n>.json`, one write-once entry per committed write leg.
  *
  * THE LOG ENTRY IS THE COMMIT. A write leg only ever adds files: it
  * writes them to a private staging child of the dir, moves them into
  * the table tree under fresh names, and then creates entry n+1 with
  * overwrite off, complete or absent ([[publish]]). Until that entry
  * exists no reader lists the new files; once it exists every reader
  * that opens the index reads exactly the files it lists. No listed
  * file is renamed, overwritten or deleted by a leg, so a serve reads
  * the one generation it opened even while the next one commits. A
  * crash anywhere before the entry leaves the previous generation
  * served, bit for bit; re-running the leg is the recovery. Two legs
  * that opened the same generation race for the same entry number, and
  * the one that loses throws, naming it.
  *
  * Superseded files stay on disk for [[GraceMillis]], the grace a serve
  * that opened an older generation has to finish reading it (Spark's
  * file-sink log cleanup delay is the same ten minutes). An entry is
  * live while it is the latest and for the grace after its successor
  * was written; each commit then deletes every entry that is no longer
  * live and every file under the dir that no live entry lists and that
  * is older than the grace ([[collectGarbage]]). Crash leftovers — a
  * staging child, moved but never committed files, a scratch table —
  * go the same way.
  *
  * Entries are written and read through the Hadoop FileSystem API, so
  * the log lands on whatever filesystem the index does. */
private[graft] object IndexMeta {
  /** The log dir, a child of every index dir. */
  val Name = "_graft_log"
  /** How long a superseded generation, and any unlisted file, survives. */
  val GraceMillis: Long = 10 * 60 * 1000L
  private[operators] val StagePrefix = "_graft_stage-"
  private val EntryFile = """(\d+)\.json""".r
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()

  private def logDir(dir: String) = new Path(dir, Name)

  /** The committed entries of `dir`'s log, oldest first. */
  private def entries(fs: FileSystem, dir: String): Seq[(Long, FileStatus)] =
    if (!fs.exists(logDir(dir))) Nil
    else fs.listStatus(logDir(dir)).toSeq.flatMap(st =>
      st.getPath.getName match {
        case EntryFile(n) => Some(n.toLong -> st)
        case _ => None
      }).sortBy(_._1)

  private def load(fs: FileSystem, dir: String, n: Long): LogEntry = {
    val in = fs.open(new Path(logDir(dir), s"$n.json"))
    try mapper.readValue(in.readAllBytes(), classOf[LogEntry]) finally in.close()
  }

  /** The latest entry of `dir`'s log, if it has one. */
  private[operators] def latestOption(fs: FileSystem,
      dir: String): Option[LogEntry] =
    entries(fs, dir).lastOption.flatMap { case (n, _) =>
      try Some(load(fs, dir, n))
      // GC drops an entry only once a newer one exists: read that one.
      catch { case _: java.io.FileNotFoundException => latestOption(fs, dir) }
    }

  /** The latest entry of `dir`'s log; fails loudly naming rebuild when
    * the dir has no log. */
  def latest(spark: SparkSession, dir: String): LogEntry =
    latestOption(FsOps.fsOf(spark, dir), dir).getOrElse(
      throw new IllegalArgumentException(s"no generation log ($Name) " +
        s"under $dir — not a graft index layout, or one written before " +
        "the log; rebuild it"))

  /** Create entry `e.n` of `dir`'s log, complete or absent: the bytes go
    * to a hidden temp file first, which is then published under the
    * entry's name only if no entry of that number exists (a hard link
    * on the local filesystem, a non-overwriting rename elsewhere).
    * False when another leg committed that number first. */
  private def publish(fs: FileSystem, dir: String, e: LogEntry): Boolean = {
    val raw = fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }
    val dst = new Path(logDir(dir), s"${e.n}.json")
    val tmp = new Path(logDir(dir), s".${e.n}.json.${java.util.UUID.randomUUID}.tmp")
    raw.mkdirs(logDir(dir))
    val out = raw.create(tmp, false)
    try out.write(mapper.writeValueAsBytes(e)) finally out.close()
    try raw match {
      case local: org.apache.hadoop.fs.RawLocalFileSystem =>
        try {
          java.nio.file.Files.createLink(local.pathToFile(dst).toPath,
            local.pathToFile(tmp).toPath)
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      case other => !other.exists(dst) && other.rename(tmp, dst)
    } finally FsOps.deleteIfExists(raw, tmp)
  }

  /** Commit `e` as the next entry of `dir`'s log, then collect garbage;
    * throws when another leg committed entry `e.n` first. */
  private[operators] def commit(fs: FileSystem, dir: String,
      e: LogEntry): Unit = {
    if (!publish(fs, dir, e))
      throw new java.util.ConcurrentModificationException(
        s"another write committed entry ${e.n} of $dir's log first; this " +
          "leg committed nothing — re-run it against the new generation")
    collectGarbage(fs, dir, e)
  }

  /** Delete every entry of `dir`'s log that is no longer live (neither
    * `latest` nor superseded less than [[GraceMillis]] ago), and every
    * file under `dir` that no live entry lists and that is older than
    * the grace, then the dirs that leaves empty. */
  private def collectGarbage(fs: FileSystem, dir: String,
      latest: LogEntry): Unit = {
    val cutoff = System.currentTimeMillis() - GraceMillis
    val log = entries(fs, dir).filter(_._1 < latest.n)
    val superseded = log.zip(log.drop(1).map(_._2.getModificationTime) :+
      Long.MaxValue)
    val (live, dead) = superseded.partition(_._2 > cutoff)
    val listed = (latest +: live.flatMap { case ((n, _), _) =>
      try Some(load(fs, dir, n))
      catch { case _: java.io.FileNotFoundException => None }
    }).flatMap(_.tables.values.flatMap(_.files.map(_.path))).toSet
    dead.foreach { case ((_, st), _) => FsOps.deleteIfExists(fs, st.getPath) }
    // Sweeps the dir `p` (at `rel` under `dir`) and returns whether it
    // removed anything there and whether `p` is now empty. A dir left
    // empty goes if this sweep emptied it or it is older than the grace.
    def sweep(p: Path, rel: String): (Boolean, Boolean) = {
      val children =
        try fs.listStatus(p).toSeq
        catch { case _: java.io.FileNotFoundException => Nil }
      val gone = children.map { st =>
        val r = if (rel.isEmpty) st.getPath.getName
          else s"$rel/${st.getPath.getName}"
        if (st.isDirectory) r != Name && {
          val (removed, empty) = sweep(st.getPath, r)
          empty && (removed || st.getModificationTime < cutoff) &&
            (try fs.delete(st.getPath, false)
            catch { case _: java.io.IOException => false })
        } else !listed(r) && st.getModificationTime < cutoff && {
          FsOps.deleteIfExists(fs, st.getPath)
          true
        }
      }
      (gone.contains(true), gone.forall(identity))
    }
    sweep(new Path(dir), "")
    // Temp entries a crash left behind.
    if (fs.exists(logDir(dir))) fs.listStatus(logDir(dir)).foreach { st =>
      if (st.getPath.getName.startsWith(".") &&
          st.getModificationTime < cutoff)
        FsOps.deleteIfExists(fs, st.getPath)
    }
  }

  /** The latest entry's fields. */
  def read(spark: SparkSession, dir: String): Map[String, String] =
    latest(spark, dir).fields

  /** Commit an entry whose fields are `fields` and whose tables are the
    * latest entry's, unchanged (a first entry, with no table, in a dir
    * without a log). */
  def write(spark: SparkSession, dir: String,
      fields: (String, String)*): Unit = {
    val fs = FsOps.fsOf(spark, dir)
    val e = latestOption(fs, dir).fold(LogEntry(0, fields.toMap, 0,
      java.util.UUID.randomUUID.toString, Map.empty))(l =>
      l.copy(n = l.n + 1, fields = fields.toMap))
    commit(fs, dir, e)
  }

  /** Fail unless every `expected` key matches the stored value. */
  def requireMatch(spark: SparkSession, dir: String,
      expected: (String, String)*): Unit =
    check(dir, read(spark, dir), expected)

  /** [[requireMatch]] against already-read fields; `hint` names what a
    * layout of the expected kind records. */
  def check(dir: String, got: Map[String, String],
      expected: Seq[(String, String)], hint: String = ""): Unit =
    expected.foreach { case (k, v) =>
      require(got.get(k).contains(v),
        s"index at $dir was built with $k=" +
          s"${got.getOrElse(k, "<absent>")} but the serve requested " +
          s"$k=$v$hint — serve with the build config or rebuild the index")
    }

  private[operators] def statuses(fs: FileSystem, dir: String,
      files: Seq[LiveFile]): Seq[FileStatus] = {
    val root = fs.makeQualified(new Path(dir))
    files.map(f => new FileStatus(f.length, false, 1, 32L << 20, f.mtime,
      new Path(root, f.path)))
  }

  /** A frame over exactly `t`'s files, read with its held schema. */
  private[graft] def frame(spark: SparkSession, dir: String,
      name: String, t: LiveTable): DataFrame = {
    val fs = FsOps.fsOf(spark, dir)
    frameOf(spark, fs.makeQualified(new Path(dir, name)),
      statuses(fs, dir, t.files), t.schema, t.keys)
  }

  /** A parquet frame over exactly `files` under the qualified `root`
    * ([[LogFileIndex]]) with `schema`: no listing and no schema
    * inference, so building it runs no job. */
  private[operators] def frameOf(spark: SparkSession, root: Path,
      files: Seq[FileStatus], schema: StructType,
      keys: Seq[String]): DataFrame = {
    val index = new LogFileIndex(spark, root, files, Some(schema), keys)
    val part = index.partitionSchema
    spark.baseRelationToDataFrame(HadoopFsRelation(index, part,
      StructType(schema.filterNot(f => part.fieldNames.contains(f.name))),
      None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** `t` with every field, at any depth, nullable — the schema a parquet
    * read of rows written from `t` reports. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      true)
    case o => o
  }

  /** A new write leg of `layout` on `dir` over the generation `base`; a
    * `rebuild` leg carries none of `base`'s tables. */
  private[operators] def leg(spark: SparkSession, dir: String,
      layout: Layout, base: Option[LogEntry], rebuild: Boolean): WriteLeg =
    new WriteLeg(spark, dir, layout, base, rebuild,
      new Path(dir, StagePrefix + java.util.UUID.randomUUID))

  /** The schema a parquet read of `rows`, written partitioned by `keys`
    * to the `staged` files under `root`, reports: the data columns, all
    * nullable, then the partition columns with the types Spark infers
    * from the files' dirs (the frame's own type when no file was
    * written). Deriving it from the write costs no job. */
  private[operators] def derivedSchema(spark: SparkSession, rows: DataFrame,
      keys: Seq[String], root: Path, staged: Seq[FileStatus]): StructType = {
    val inferred =
      if (keys.isEmpty || staged.isEmpty) new StructType()
      else new LogFileIndex(spark, root, staged, None, Nil).partitionSchema
    val byName = rows.schema.fields.map(f => f.name -> f).toMap
    nullable(StructType(rows.schema.filterNot(f => keys.contains(f.name)) ++
      keys.map(k => inferred.find(_.name == k).getOrElse(byName(k)))))
      .asInstanceOf[StructType]
  }
}

/** A file index over a fixed list of file statuses, the way Spark's
  * `MetadataLogFileIndex` serves a file sink's log: nothing is listed,
  * partition values come from the files' `key=value` dirs under `root`,
  * and a table with no file still has its partition columns. */
private[graft] final class LogFileIndex(spark: SparkSession, val root: Path,
    files: Seq[FileStatus], schema: Option[StructType], keys: Seq[String])
    extends PartitioningAwareFileIndex(spark, Map.empty, schema) {
  override val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(files.map(f => f.getPath -> f): _*)
  override val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    files.toArray.groupBy(_.getPath.getParent)
  override def rootPaths: Seq[Path] = Seq(root)
  override def refresh(): Unit = ()
  private lazy val spec = {
    val inferred = inferPartitioning()
    if (inferred.partitionColumns.nonEmpty || keys.isEmpty) inferred
    else PartitionSpec(StructType(keys.map(k => schema.get(k))), Nil)
  }
  override def partitionSpec(): PartitionSpec = spec
  private lazy val paths = files.map(_.getPath).toSet
  override def equals(o: Any): Boolean = o match {
    case l: LogFileIndex => l.root == root && l.paths == paths
    case _ => false
  }
  override def hashCode: Int = root.hashCode
}

/** Serve-side state of a persisted index that only a write can change,
  * opened once per index GENERATION and reused by every serve until the
  * next write — the way a search engine reuses one opened searcher
  * between refreshes instead of re-reading its segments per query.
  *
  * A generation is (build id, entry number) of the log entry a serve
  * opened ([[IndexMeta]]): values derived from the quantizer live as
  * long as the build id, values derived from the data as long as the
  * entry. Entries are write-once, so a write by any session or JVM
  * retires them at the next open.
  *
  * Memoized values are plain local values — collected quantizer
  * entries, occupancy and corpus-stat scalars, tombstone presence —
  * never DataFrames or results, and each is derived on first use. The
  * cache holds at most [[Bound]] index directories, least recently
  * opened evicted first; concurrent serves may derive one value twice
  * (identical either way) but never see a half-built entry. */
private[graft] object IndexSnapshot {
  private val Bound = 16

  /** Values derived under one generation. */
  private final class Memo {
    private val values =
      new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
    def apply[T <: AnyRef](key: String)(f: => T): T =
      Option(values.get(key)).getOrElse {
        values.putIfAbsent(key, f)
        values.get(key)
      }.asInstanceOf[T]
  }

  private final class Gen(val buildId: String, val quantizer: Memo,
      val n: Long, val data: Memo)

  private val cache = new java.util.LinkedHashMap[String, Gen](
      Bound, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, Gen]): Boolean = size() > Bound
  }

  /** The memoized values of one opened generation. */
  final class Snapshot private[IndexSnapshot] (q: Memo, d: Memo) {
    /** A value that changes only when the index is rebuilt. */
    def quantizer[T <: AnyRef](key: String)(f: => T): T = q(key)(f)
    /** A value that changes with any write to the index. */
    def data[T <: AnyRef](key: String)(f: => T): T = d(key)(f)
  }

  /** The memoized state of the generation `e` of the index at `dir` (a
    * qualified path). */
  def open(dir: String, e: LogEntry): Snapshot = cache.synchronized {
    val old = Option(cache.get(dir)).filter(_.buildId == e.buildId)
    val q = old.fold(new Memo)(_.quantizer)
    val d = old.filter(_.n == e.n).fold(new Memo)(_.data)
    cache.put(dir, new Gen(e.buildId, q, e.n, d))
    new Snapshot(q, d)
  }

  /** Drops every memoized generation; the next serve of each index
    * derives its values afresh (the cold-cache baseline in tests). */
  def clear(): Unit = cache.synchronized(cache.clear())
}

/** One persisted index layout: the fixed fields its log entries record
  * and every leg checks (`layout` first, then `fmt` and any fixed shape
  * such as BQ's `bits`), the build parameters its entries must also
  * record, its tables with their partition keys, and the schema of its
  * tombstone table when it has one.
  *
  * [[build]] and [[OpenedLayout.commit]] are the only write legs: every
  * leg stages new files through a [[WriteLeg]] and commits one log
  * entry ([[IndexMeta]]). */
private[graft] final case class Layout(fields: Seq[(String, String)],
    params: Seq[String], tables: Seq[(String, Seq[String])],
    tombstones: Option[StructType] = None) {
  def name: String = fields.head._2

  /** The partition keys of `table`; none for a table not listed. */
  def keys(table: String): Seq[String] =
    tables.collectFirst { case (`table`, k) => k }.getOrElse(Nil)

  /** Open `dir`'s latest generation as this layout, failing loudly
    * unless its entry records the fixed fields, the given build
    * parameters and every declared parameter key. */
  def open(spark: SparkSession, dir: String,
      params: (String, String)*): OpenedLayout =
    openEntry(spark, dir, IndexMeta.latest(spark, dir), params)

  private[operators] def openEntry(spark: SparkSession, dir: String,
      e: LogEntry, params: Seq[(String, String)]): OpenedLayout = {
    val records = (fields.map(_._1) ++ this.params).mkString(", ")
    IndexMeta.check(dir, e.fields, fields ++ params,
      s" (a $name layout records $records)")
    this.params.foreach(k => require(e.fields.contains(k),
      s"index at $dir has no `$k` key in its log entry — not a $name " +
        "layout (or fields copied from another layout); rebuild it"))
    val fs = FsOps.fsOf(spark, dir)
    new OpenedLayout(spark, dir, this, e,
      IndexSnapshot.open(fs.makeQualified(new Path(dir)).toString, e))
  }

  /** The build leg: run `tables` (which may first write quantizer tables
    * of its own through the leg), write each returned table partitioned
    * by its keys, then commit an entry that holds only what this leg
    * wrote — an empty tombstone table too, since a rebuild supersedes
    * prior deletions — under a fresh build id. A dir that holds files
    * but no log is refused, untouched; one that holds only the staging
    * child of a first build that crashed is built over. */
  def build(spark: SparkSession, dir: String, params: (String, String)*)(
      tables: WriteLeg => Seq[(String, DataFrame)]): Unit = {
    require(this.params.forall(k => params.exists(_._1 == k)),
      s"a $name build must record ${this.params.mkString(", ")}")
    val fs = FsOps.fsOf(spark, dir)
    val base = IndexMeta.latestOption(fs, dir)
    val d = new Path(dir)
    require(base.isDefined || !fs.exists(d) || fs.listStatus(d)
        .forall(_.getPath.getName.startsWith(IndexMeta.StagePrefix)),
      s"$dir holds files but no generation log (${IndexMeta.Name}) — an " +
        "index written before the log, or not an index; remove it and " +
        "rebuild")
    val leg = IndexMeta.leg(spark, dir, this, base, rebuild = true)
    leg.run {
      tables(leg).foreach { case (t, rows) => leg.write(t, rows) }
      leg.commit((fields ++ params).toMap)
    }
  }
}

private[graft] object Layout {
  /** Open `dir` as whichever of `layouts` its latest entry names. */
  def openAny(spark: SparkSession, dir: String,
      layouts: Seq[Layout]): OpenedLayout = {
    val e = IndexMeta.latest(spark, dir)
    val name = e.fields.getOrElse("layout", "<absent>")
    val layout = layouts.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"index at $dir has " +
        s"layout=$name; this leg applies to " +
        layouts.map(_.name).sorted.mkString(", ")))
    layout.openEntry(spark, dir, e, Nil)
  }
}

/** One opened generation of a persisted [[Layout]]: the log entry `entry`
  * of `dir`, checked at open, and the values every leg derives from its
  * tables, held by the index's [[IndexSnapshot]] so each is derived
  * once per generation. Tables read exactly the files the entry lists,
  * with the schema it records, and tombstone presence is read from the
  * listed tombstone files' parquet footers; on an index already opened
  * since its last write, building a serve frame therefore runs no Spark
  * job.
  *
  * Every write leg runs inside [[commit]], which commits one entry on
  * top of this generation. */
private[graft] final class OpenedLayout private[operators] (
    val spark: SparkSession, val dir: String, val layout: Layout,
    val entry: LogEntry, snap: IndexSnapshot.Snapshot) {

  /** A build parameter the entry records. */
  def param(key: String): String = entry.fields(key)

  /** A value that changes only when the index is rebuilt. */
  def quantizer[T <: AnyRef](key: String)(f: => T): T =
    snap.quantizer(key)(f)

  /** A value that changes with any write to the index. */
  def data[T <: AnyRef](key: String)(f: => T): T = snap.data(key)(f)

  private def live(table: String): LiveTable =
    entry.tables.getOrElse(table, throw new IllegalArgumentException(
      s"index at $dir has no table $table in entry ${entry.n}"))

  /** `table` read with its held schema. */
  def table(table: String): DataFrame =
    IndexMeta.frame(spark, dir, table, live(table))

  /** The tombstone table when it holds any row: never deleted, or
    * drained, plans no mask. */
  def tombstones: Option[DataFrame] =
    layout.tombstones.filter(_ => data[java.lang.Boolean]("tombstones")(
      Boolean.box(FsOps.hasRows(spark, IndexMeta.statuses(
        FsOps.fsOf(spark, dir), dir, live("tombstones").files)))))
      .map(_ => table("tombstones"))

  /** Run the write leg `body` on top of this generation and commit its
    * files as the next entry; the fields stay as they are. */
  def commit[T](body: WriteLeg => T): T = {
    val leg = IndexMeta.leg(spark, dir, layout, Some(entry), rebuild = false)
    leg.run {
      val r = body(leg)
      leg.commit(entry.fields)
      r
    }
  }

  /** The append leg: gate `rows` on the held schema and add them,
    * partitioned by the table's keys. */
  def append(table: String, rows: DataFrame, leg: String): Unit =
    commit(_.append(table, rows, leg))

  /** The replace leg: each table's files become its new rows'. */
  def replace(tables: (String, DataFrame)*): Unit =
    commit(l => tables.foreach { case (t, rows) => l.replace(t, rows) })
}

/** The files one write leg adds and drops. Each [[write]] stages rows
  * under the leg's private child of the dir; [[commit]] moves the staged
  * files into the table tree, then commits an entry listing the base
  * generation's files minus the dropped ones plus the added ones. A leg
  * records exactly its own files, never a racing writer's. */
private[graft] final class WriteLeg private[operators] (
    spark: SparkSession, dir: String, layout: Layout,
    base: Option[LogEntry], rebuild: Boolean, stage: Path) {
  private val fs = FsOps.fsOf(spark, dir)
  private var writes = 0
  // table -> (schema, keys, staged files with their path under the table)
  private val added =
    mutable.LinkedHashMap.empty[String, (StructType, Seq[String],
      mutable.Buffer[(FileStatus, String)])]
  private val dropped = mutable.Map.empty[String, String => Boolean]
  // table -> the root and files of its last write
  private val lastStaged = mutable.Map.empty[String, (Path, Seq[FileStatus])]

  private def staging(name: String): Path = {
    writes += 1
    new Path(stage, s"$writes/$name")
  }

  /** The data files under the qualified `root`, each with its path
    * relative to it. */
  private def listed(root: Path): Seq[(FileStatus, String)] = {
    val prefix = root.toUri.getPath.length + 1
    def walk(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq.flatMap(st =>
      if (st.getPath.getName.startsWith("_") ||
          st.getPath.getName.startsWith(".")) Nil
      else if (st.isDirectory) walk(st.getPath) else Seq(st))
    if (!fs.exists(root)) Nil
    else walk(root).map(st => st -> st.getPath.toUri.getPath.substring(prefix))
  }

  private def baseTable(table: String): Option[LiveTable] =
    base.filterNot(_ => rebuild).flatMap(_.tables.get(table))

  /** Add `rows` to `table`, partitioned by its keys. */
  def write(table: String, rows: DataFrame): Unit = {
    val keys = baseTable(table).fold(layout.keys(table))(_.keys)
    val out = fs.makeQualified(staging(table))
    rows.write.mode("overwrite").partitionBy(keys: _*).parquet(out.toString)
    val files = listed(out)
    val (_, _, buf) = added.getOrElseUpdate(table,
      (baseTable(table).fold(IndexMeta.derivedSchema(spark, rows, keys, out,
        files.map(_._1)))(_.schema), keys, mutable.Buffer.empty))
    buf ++= files
    lastStaged(table) = out -> files.map(_._1)
  }

  /** [[write]] after gating `rows` on the base generation's schema. */
  def append(table: String, rows: DataFrame, leg: String): Unit = {
    baseTable(table).foreach(t => FsOps.requireColumns(t.schema, rows, leg))
    write(table, rows)
  }

  /** Drop the base generation's files of `table` whose path under the
    * table root `p` accepts. */
  def drop(table: String)(p: String => Boolean): Unit =
    dropped(table) = dropped.get(table).fold(p)(q => f => q(f) || p(f))

  /** [[drop]] every file under the partition dir `leaf` (`batch=3`,
    * `c0=1/c1=2`). */
  def dropLeaf(table: String, leaf: String): Unit =
    drop(table)(_.startsWith(s"$leaf/"))

  /** `table`'s files become `rows`'. */
  def replace(table: String, rows: DataFrame): Unit = {
    drop(table)(_ => true)
    write(table, rows)
  }

  /** The rows this leg last staged for `table`, read back (a build's
    * quantizer tables, encoded against exactly the stored values). */
  def staged(table: String): DataFrame = {
    val (schema, keys, _) = added(table)
    val (root, files) = lastStaged(table)
    IndexMeta.frameOf(spark, root, files, schema, keys)
  }

  /** `rows` written once to a scratch table of this leg and read back,
    * so several writes derive from one computation; never committed. */
  def scratch(name: String, rows: DataFrame): DataFrame = {
    val out = fs.makeQualified(staging(name))
    rows.write.mode("overwrite").parquet(out.toString)
    IndexMeta.frameOf(spark, out, listed(out).map(_._1),
      IndexMeta.derivedSchema(spark, rows, Nil, out, Nil), Nil)
  }

  /** Run `body`, then drop the staging child, whatever happened. */
  private[operators] def run[T](body: => T): T =
    try body finally FsOps.deleteIfExists(fs, stage)

  /** Move the staged files into the table tree and commit the next
    * entry with `fields`: a rebuild's entry holds only this leg's
    * tables, any other entry the base generation's with this leg's
    * drops and additions. */
  private[operators] def commit(fields: Map[String, String]): Unit = {
    val parents = mutable.Set.empty[Path]
    val moved = added.map { case (t, (schema, keys, files)) =>
      t -> LiveTable(schema.json, keys, files.map { case (st, rel) =>
        val dst = new Path(dir, s"$t/$rel")
        if (parents.add(dst.getParent)) fs.mkdirs(dst.getParent)
        FsOps.checkedRename(fs, st.getPath, dst)
        LiveFile(s"$t/$rel", st.getLen, st.getModificationTime)
      }.toSeq)
    }
    // Every Spark action of the leg is done: its scratch goes before the
    // commit sweeps the dir.
    FsOps.deleteIfExists(fs, stage)
    val kept = base.filterNot(_ => rebuild).fold(Map.empty[String, LiveTable])(
      _.tables.map { case (t, lt) => t -> lt.copy(files = lt.files.filterNot(
        f => dropped.get(t).exists(_(f.path.stripPrefix(s"$t/"))))) })
    val drained = if (!rebuild) Map.empty[String, LiveTable]
      else layout.tombstones.map(s => "tombstones" -> LiveTable(s.json, Nil, Nil)).toMap
    val n = base.fold(0L)(_.n + 1)
    val (build, buildId) = base.filterNot(_ => rebuild).fold(
      (n, java.util.UUID.randomUUID.toString))(b => (b.build, b.buildId))
    val e = LogEntry(n, fields, build, buildId, drained ++ kept ++
      moved.map { case (t, lt) =>
        t -> kept.get(t).fold(lt)(k => k.copy(files = k.files ++ lt.files)) })
    try IndexMeta.commit(fs, dir, e)
    catch { case lost: java.util.ConcurrentModificationException =>
      moved.values.foreach(_.files.foreach(f =>
        FsOps.deleteIfExists(fs, new Path(dir, f.path))))
      throw lost
    }
  }
}
