package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sink-side layout helpers (the write half of OP-21, the Firehose →
  * Elasticsearch delivery at decorator/index.js:254-257, re-expressed as
  * columnar-lake writes).
  *
  * At 100 TB the dominant sink decision is LAYOUT: a flow-log table
  * partitioned by coarse query dimensions (action, date) lets every
  * downstream scan prune whole directories (`PartitionFilters` in the
  * plan), and `maxRecordsPerFile` bounds file sizes so a 1000-executor
  * write neither creates millions of tiny files nor few unsplittable
  * giants. Bucketing (graft.operators.Bucketing) is the complementary
  * layout for join keys.
  */
object Sinks {

  /** Write a hive-style partitioned columnar dataset (parquet by
    * default; "orc" is the other splittable columnar format Spark
    * ships — same pruning and predicate-pushdown story, preferred by
    * Hive-centric consumers). `partitionCols` should be low-cardinality
    * query dimensions — each distinct tuple becomes a directory, so
    * partitioning by a high-cardinality key (e.g. interface_id) would
    * shatter the table. */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String], maxRecordsPerFile: Long = 5000000L,
      format: String = "parquet"): Unit =
    df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .format(format)
      .save(path)

  /** Exactly-once `foreachBatch` sink: each micro-batch lands in its
    * own `batch_id=` partition, written with DYNAMIC partition
    * overwrite — a retried batch (at-least-once delivery after a
    * failure) REPLACES its partition instead of appending duplicates,
    * and never touches other batches' partitions. This is the
    * idempotence contract Structured Streaming requires of a sink for
    * end-to-end exactly-once; the reference's Firehose retry semantics
    * (whole-batch redelivery, ingestor/index.js:45-60) get the same
    * treatment. Use as `.writeStream.foreachBatch(idempotentBatchWriter(path))`.
    */
  def idempotentBatchWriter(path: String)(
      batch: DataFrame, batchId: Long): Unit = {
    // A writer option, not the session conf: setting the conf would
    // turn every later overwrite in the session dynamic.
    batch
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)
  }

  /** Elasticsearch-style idempotent upsert — what OP-21's Firehose → ES
    * delivery (decorator/index.js:254-257) actually is: each record is
    * keyed by a document id, and a redelivered record OVERWRITES the
    * existing document instead of duplicating it. On a columnar lake the
    * same contract is an append-only delivery log resolved by
    * last-write-wins on read ([[latestById]]), folded periodically by
    * [[compactUpserts]]. Appends never rewrite existing data, so
    * at-least-once upstreams (Firehose whole-batch retries,
    * ingestor/index.js:45-60) cost only log growth — never duplicates in
    * what readers see. Use as
    * `.writeStream.foreachBatch(upsertAppendWriter(path, "doc_id"))`.
    */
  def upsertAppendWriter(path: String, idCol: String)(
      batch: DataFrame, batchId: Long): Unit =
    batch
      .withColumn("_delivery", lit(batchId))
      .write.mode("append").parquet(path)

  /** Dedup-on-read view of the upsert log: exactly one row per id — the
    * latest delivery (ES last-write-wins). The window shuffles by id
    * once; at scale, readers pay that or read a [[compactUpserts]]
    * output instead. Duplicate rows within one delivery (a doubled
    * record inside a retried batch) collapse too: ties on `_delivery`
    * are broken arbitrarily among identical rows.
    */
  def latestById(spark: SparkSession, path: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("_delivery").desc)
    spark.read.parquet(path)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_delivery")
  }

  /** Fold the append log into one resolved row per id at `destPath`
    * (run periodically to bound read amplification; equivalent to an ES
    * segment merge). Writes elsewhere rather than in place — replacing
    * the live log atomically is the metastore/table-format layer's job,
    * not a file sink's. */
  def compactUpserts(spark: SparkSession, path: String, idCol: String,
      destPath: String): Unit =
    latestById(spark, path, idCol).write.mode("overwrite").parquet(destPath)
}
