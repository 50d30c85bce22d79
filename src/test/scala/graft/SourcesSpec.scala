package graft

import java.nio.file.Files

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import graft.operators.FlowLog
import graft.sources.FlowLogSource
import graft.streaming.FlowLogStream

/** File sources + observe counters: raw lines land on disk, are read
  * back through the text source, parsed, and counted. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("text source round-trips synthesized flow-log lines") {
    val dir = Files.createTempDirectory("graft_lines").toString
    val lines = FlowLog.synthesizeLines(Tables.lineitem(spark, sfDir))
    lines.select("line").write.mode("overwrite").text(dir)
    val parsed = FlowLogSource.readParsed(spark, dir)
    assert(parsed.count() === lines.count())
    // same number of dead-letter rows as the in-memory path
    assert(parsed.filter($"error").count() ===
      FlowLog.parseFlowLines(lines).filter($"error").count())
  }

  test("JSON envelope source decodes the CloudWatch wire format") {
    val dir = Files.createTempDirectory("graft_env").toString
    val payload =
      """{"messageType":"DATA_MESSAGE","owner":"1","logGroup":"g","logStream":"s","logEvents":[{"id":"0","timestamp":1,"message":"m1"},{"id":"1","timestamp":2,"message":"m2"}]}"""
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(payload.getBytes("UTF-8")); gz.close()
    val b64 = java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    Files.writeString(java.nio.file.Paths.get(dir, "env.json"),
      s"""{"awslogs":{"data":"$b64"}}\n""")
    val out = FlowLogSource.readEnvelopes(spark, dir).as[String].collect().sorted
    assert(out.toSeq === Seq("m1\n", "m2\n"))
  }

  test("CSV schema-on-read types the 14 fields and corrupt lines keep the payload") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val good =
      "2 123456789010 eni-1854f949 72.21.196.65 172.31.16.21 20641 22 6 20 4249 1418530010 1418530070 ACCEPT OK"
    Files.writeString(java.nio.file.Paths.get(dir, "flow.log"),
      s"$good\nutter junk\n")
    val out = FlowLogSource.readCsv(spark, dir)
    val rows = out.orderBy(col("_corrupt").asc_nulls_first).collect()
    assert(rows.length === 2)
    val ok = rows(0)
    assert(ok.getAs[Int]("version") === 2)
    assert(ok.getAs[String]("interface_id") === "eni-1854f949")
    assert(ok.getAs[Long]("bytes") === 4249L)
    assert(ok.getAs[String]("log_status") === "OK")
    val bad = rows(1)
    assert(bad.getAs[String]("_corrupt") === "utter junk")
    assert(bad.isNullAt(bad.fieldIndex("srcport")))
  }

  test("streaming file source drives the decorator end-to-end") {
    val dir = Files.createTempDirectory("graft_stream").toString
    FlowLog.synthesizeLines(Tables.lineitem(spark, sfDir)).limit(200)
      .select("line").write.mode("overwrite").text(dir)
    val eni = FlowLog.eniDimension(Tables.supplier(spark, sfDir))
    val geo = FlowLog.geoDimension(Tables.nation(spark, sfDir),
      Tables.region(spark, sfDir))
    val q = FlowLogStream.startToMemory(
      FlowLogSource.streamLines(spark, dir), eni, geo, "stream_src_out")
    try {
      q.processAllAvailable()
      val out = spark.table("stream_src_out")
      assert(out.count() > 0)
      assert(out.select("result").distinct().as[String].collect().toSet
        .subsetOf(Set("Ok", "ProcessingFailed")))
    } finally q.stop()
  }

  test("idempotentBatchWriter: a retried batch replaces, never duplicates") {
    import graft.sources.Sinks
    val dir = Files.createTempDirectory("graft-idem").toFile.getAbsolutePath
    val write = Sinks.idempotentBatchWriter(dir) _
    // The writer must not change the session's overwrite mode: a
    // static conf stays static for every later overwrite.
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(modeKey)
    spark.conf.set(modeKey, "static")
    write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    write(Seq((3L, "c")).toDF("id", "v"), 1L)
    // Batch 1 redelivered (failure retry) with the same content: the
    // dynamic overwrite must replace batch_id=1, leaving batch 0 alone.
    write(Seq((3L, "c")).toDF("id", "v"), 1L)
    val got = spark.read.parquet(dir)
    assert(got.count() === 3)
    assert(got.filter(col("batch_id") === 1).count() === 1)
    // A changed retry payload (reprocessed input) still yields exactly
    // the latest write of that batch, not an append.
    write(Seq((3L, "c2"), (4L, "d")).toDF("id", "v"), 1L)
    val after = spark.read.parquet(dir)
    assert(after.count() === 4)
    assert(after.filter(col("batch_id") === 0).count() === 2)
    assert(after.filter(col("batch_id") === 1).as[(Long, String, Int)]
      .collect().map(_._2).sorted.toSeq === Seq("c2", "d"))
    assert(spark.conf.get(modeKey) === "static",
      "idempotentBatchWriter changed the session's partitionOverwriteMode")
    modeBefore.fold(spark.conf.unset(modeKey))(spark.conf.set(modeKey, _))
  }

  test("observe counters report total and failed records (OP-22)") {
    val parsed = FlowLog.parseFlowLines(
      Seq((1L, "junk"), (2L, "more junk"),
        (3L, "2 123456789010 eni-1 10.0.0.1 10.0.0.2 1 2 6 1 1 1 2 ACCEPT OK"))
        .toDF("id", "line"))
    val eni = Seq.empty[(String, Seq[String], String)]
      .toDF("interface_id", "security_group_ids", "ip_address")
    val geo = Seq.empty[(String, String, String, String, String, String, Double, Double)]
      .toDF("ip", "country_code", "country_name", "region_code",
        "region_name", "city", "latitude", "longitude")
    val packaged = FlowLog.packageRecords(FlowLog.enrich(parsed, eni, geo))
    val obs = Observation("flow_counters_test")
    val observed = packaged.observe(obs,
      count(lit(1)).as("n_records"),
      sum(when($"result" === "ProcessingFailed", 1L).otherwise(0L)).as("n_failed"))
    observed.count()
    val m = obs.get
    assert(m("n_records") === 3L)
    assert(m("n_failed") === 2L)
  }

  test("partitioned sink layout enables partition pruning at read time") {
    val dir = Files.createTempDirectory("graft_part").toString
    val parsed = FlowLog.parseFlowLines(
      FlowLog.synthesizeLines(Tables.lineitem(spark, sfDir)))
      .filter(!$"error")
    graft.sources.Sinks.writePartitioned(
      parsed.select($"id", $"srcaddr", $"action", $"log_status"),
      dir, Seq("action"))
    val back = spark.read.parquet(dir).filter($"action" === "ACCEPT")
    // pruning: the physical scan must carry a partition filter on action,
    // and the result must equal the unpartitioned filter.
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("action"), plan.take(800))
    assert(back.count() === parsed.filter($"action" === "ACCEPT").count())
  }

  test("ORC sink round-trips with partition pruning and pushed filters") {
    val dir = Files.createTempDirectory("graft_orc").toString
    val parsed = FlowLog.parseFlowLines(
      FlowLog.synthesizeLines(Tables.lineitem(spark, sfDir)))
      .filter(!$"error")
      .select($"id", $"srcaddr", $"dstport", $"action")
    graft.sources.Sinks.writePartitioned(parsed, dir, Seq("action"),
      format = "orc")
    val back = spark.read.orc(dir)
      .filter($"action" === "ACCEPT" && $"dstport" === 22)
    val plan = back.queryExecution.executedPlan.toString
    // same layout guarantees as the parquet path: directory pruning on
    // the partition column AND data filters pushed into the ORC scan
    assert(plan.contains("PartitionFilters") && plan.contains("action"),
      plan.take(800))
    assert(plan.contains("PushedFilters") && plan.contains("dstport"),
      plan.take(800))
    assert(back.count() ===
      parsed.filter($"action" === "ACCEPT" && $"dstport" === 22).count())
    // values survive the format round-trip bit-exactly
    val a = back.select($"id", $"srcaddr").as[(Long, String)].collect().toSet
    val b = parsed.filter($"action" === "ACCEPT" && $"dstport" === 22)
      .select($"id", $"srcaddr").as[(Long, String)].collect().toSet
    assert(a === b)
  }

  test("Catalog.registerViews exposes the engine through spark.sql") {
    Catalog.registerViews(spark, sfDir)
    val viaSql = spark.sql(
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      .collect()
    val viaApi = Tables.lineitem(spark, sfDir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast("decimal(18,4)")).cast("double").as("sum_qty"))
      .orderBy("l_returnflag").collect()
    assert(viaSql.toSeq === viaApi.toSeq)
    // custom expressions are SQL-callable through the same registration
    assert(spark.sql("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) d")
      .head.getDouble(0) === 11.0)
  }
}
