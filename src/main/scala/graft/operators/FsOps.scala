package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Checked filesystem operations for the persisted-index write legs.
  * The Hadoop `FileSystem` API reports a failed delete or rename as a
  * `false` RETURN VALUE, not an exception; an unchecked one would leave
  * a staged file out of its table with no signal. Every delete and
  * rename of the commit path ([[IndexMeta]], [[WriteLeg]]) checks its
  * result here. */
private[graft] object FsOps {

  def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Delete `p` recursively if present; throw if the delete reports
    * failure (false with the path still present). */
  def deleteIfExists(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p) && !fs.delete(p, true) && fs.exists(p))
      sys.error(s"delete of $p failed")

  def checkedRename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      sys.error(s"rename $src -> $dst failed — the write leg committed " +
        "nothing; retry it")

  /** Whether any of the parquet `files` holds a row, read from their
    * footers on the driver (no Spark job). */
  def hasRows(spark: SparkSession, files: Seq[FileStatus]): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.exists { st =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try r.getRecordCount > 0 finally r.close()
    }
  }

  /** Loud schema contract on every append leg ([[WriteLeg.append]]
    * gates through it against the schema the base generation holds):
    * the frame about to be appended
    * must carry exactly the stored table's column set. Layouts persist
    * ALL input columns so metadata rides beside the row for the
    * filtered serves, and a parquet append with a different set would
    * not fail — it would leave mixed-schema files behind, and the
    * filtered serve would read nulls (or miss the predicate column
    * entirely) on half the index. A fully drained table keeps its
    * schema in the log, so it still gates the batch. */
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
