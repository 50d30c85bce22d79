package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Fixture-generation drift guard for the events loaders.
  *
  * The `events.parquet` physical type has drifted across driver
  * generations — TIMESTAMP(NANOS)-read-as-Long, then TIMESTAMP(MICROS,
  * NTZ) — and round 9 lost six queries to exactly that drift. The
  * loaders (`Tables.events` → nanos-Long contract, `Tables.eventsTs` →
  * native NTZ, `Tables.eventsRaw` → untouched) branch on the physical
  * type; on any given fixture only ONE branch runs, so this spec
  * synthesizes BOTH generations from the same rows and pins that every
  * loader — and the type-adaptive `q_time_slice` — produces identical
  * results on either. If a third generation ever appears, the loader
  * throws (pinned here) instead of silently mis-reading.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** Writes the sf fixture's events rows as both generations; returns
    * (ntzDir, legacyDir) each laid out like a testdata sf dir. */
  private lazy val (ntzDir, legacyDir): (String, String) = {
    val ntz = tempDir("graft_ev_ntz")
    val legacy = tempDir("graft_ev_legacy")
    val src = Tables.eventsRaw(spark, sfDir)
    src.write.mode("overwrite").parquet(s"$ntz/events.parquet")
    src.withColumn("ts",
        (unix_micros(col("ts").cast("timestamp")) * 1000L).as("ts"))
      .write.mode("overwrite").parquet(s"$legacy/events.parquet")
    (ntz, legacy)
  }

  private def collected(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("event_id").collect().map(_.toString).toSeq

  test("synthesized generations really are distinct physical types") {
    assert(Tables.eventsRaw(spark, legacyDir).schema("ts").dataType ===
      LongType)
    assert(Tables.eventsRaw(spark, ntzDir).schema("ts").dataType !==
      LongType)
  }

  test("Tables.events yields the identical nanos-Long contract on both generations") {
    val a = collected(Tables.events(spark, ntzDir))
    val b = collected(Tables.events(spark, legacyDir))
    assert(a.nonEmpty && a === b)
    assert(Tables.events(spark, legacyDir).schema("ts").dataType === LongType)
    assert(Tables.events(spark, ntzDir).schema("ts").dataType === LongType)
  }

  test("Tables.eventsTs yields the identical NTZ column on both generations") {
    val a = collected(Tables.eventsTs(spark, ntzDir))
    val b = collected(Tables.eventsTs(spark, legacyDir))
    assert(a.nonEmpty && a === b)
  }

  test("eventsTs legacy branch FLOORS pre-epoch nanos (DuckDB epoch_us parity)") {
    // -1500 ns is between -2 µs and -1 µs; flooring (DuckDB's
    // epoch_us/TIMESTAMP_NS semantics) gives -2 µs — truncation toward
    // zero would give -1 µs. Positive sub-micro remainders floor down.
    val dir = tempDir("graft_ev_preepoch")
    Seq((1L, -1500L), (2L, -1000L), (3L, 1500L), (4L, 0L))
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Tables.eventsTs(spark, dir)
      .select(col("event_id"), unix_micros(col("ts").cast("timestamp")))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> -2L, 2L -> -1L, 3L -> 1L, 4L -> 0L))
  }

  test("q_time_slice's type-adaptive filter selects the same rows on both generations") {
    // Aggregated output — already ordered by event_type, no event_id.
    val a = SparkEntry.queries("q_time_slice")(spark, ntzDir)
      .collect().map(_.toString).toSeq
    val b = SparkEntry.queries("q_time_slice")(spark, legacyDir)
      .collect().map(_.toString).toSeq
    assert(a.nonEmpty && a === b)
  }

  test("an unrecognized ts physical type fails loudly, not silently") {
    val dir = tempDir("graft_ev_bad")
    Seq((1L, "not-a-time")).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    intercept[IllegalStateException](Tables.events(spark, dir))
    intercept[IllegalStateException](Tables.eventsTs(spark, dir))
  }
}
