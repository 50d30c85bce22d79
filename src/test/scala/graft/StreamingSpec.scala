package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.FlowLog
import graft.streaming.FlowLogStream
import graft.streaming.FlowLogStream.Ev

/** Structured Streaming: the decorator under micro-batch, watermarked
  * window aggregation, and stateful sessionization. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  val publicLine =
    "2 123456789010 eni-1854f949 72.21.196.65 172.31.16.21 20641 22 6 20 4249 1418530010 1418530070 ACCEPT OK"

  test("decorator runs under structured streaming with stream-static joins") {
    val input = MemoryStream[(Long, String)](spark)
    val lines = input.toDF().toDF("id", "line")
    val eni = Seq(("eni-1854f949", Seq("sg-a"), "172.31.16.21"))
      .toDF("interface_id", "security_group_ids", "ip_address")
    val geo = Seq(("72.21.196.65", "US", "UNITED STATES", "WA", "WASHINGTON",
      "SEATTLE", 47.6, -122.3))
      .toDF("ip", "country_code", "country_name", "region_code",
        "region_name", "city", "latitude", "longitude")
    val q = FlowLogStream.startToMemory(lines, eni, geo, "flow_stream_out")
    try {
      input.addData((1L, publicLine), (2L, "malformed junk"))
      q.processAllAvailable()
      input.addData((3L, publicLine))
      q.processAllAvailable()
      val out = spark.table("flow_stream_out")
        .select($"id", $"result").as[(Long, String)].collect().toMap
      assert(out === Map(1L -> "Ok", 2L -> "ProcessingFailed", 3L -> "Ok"))
    } finally q.stop()
  }

  test("watermarked sliding-window aggregation over an event stream") {
    val input = MemoryStream[(Timestamp, String, Double)](spark)
    val agg = FlowLogStream.windowedCounts(
      input.toDF().toDF("ts", "event_type", "value"),
      "10 minutes", "5 minutes", "5 minutes")
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    try {
      def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      input.addData(
        (ts(1), "click", 1.0), (ts(2), "click", 2.0),
        (ts(6), "click", 4.0), (ts(7), "view", 8.0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select($"event_type", $"n", $"sum_value")
        .as[(String, Long, Double)].collect().toSet
      assert(rows === Set(("click", 2L, 3.0), ("click", 1L, 4.0), ("view", 1L, 8.0)))
    } finally q.stop()
  }

  test("stream-stream join matches right events within the time bound only") {
    val left = MemoryStream[(Long, Timestamp)](spark)
    val right = MemoryStream[(Long, Timestamp, Double)](spark)
    val joined = FlowLogStream.streamStreamJoin(
      left.toDF().toDF("user_id", "l_ts"),
      right.toDF().toDF("r_user_id", "r_ts", "r_value"),
      "10 minutes", boundSeconds = 60)
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      def ts(sec: Int) = Timestamp.valueOf(f"2024-01-01 10:${sec / 60}%02d:${sec % 60}%02d")
      right.addData((7L, ts(10), 1.0), (7L, ts(100), 2.0), (8L, ts(110), 3.0))
      left.addData((7L, ts(120)))
      q.processAllAvailable()
      val out = spark.table("ssj_out")
        .select($"user_id", $"r_value").as[(Long, Double)].collect().toSet
      // user 7 at t=120s: r at 100s is inside the 60s bound, r at 10s is
      // not; user 8's event belongs to a different key.
      assert(out === Set((7L, 2.0)))
    } finally q.stop()
  }

  test("streaming dedup drops redelivered event ids within the watermark") {
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    val deduped = FlowLogStream.dedupStream(
      input.toDF().toDF("event_id", "ts", "event_type"), "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
      input.addData((1L, t0, "click"), (2L, t0, "view"), (1L, t0, "click"))
      q.processAllAvailable()
      input.addData((2L, t0, "view"), (3L, t0, "click")) // redelivery + new
      q.processAllAvailable()
      val out = spark.table("dedup_out")
        .select($"event_id").as[Long].collect().sorted
      assert(out.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("dedup state survives a checkpointed restart") {
    val ckpt = tempDir("graft_ckpt")
    val outDir = tempDir("graft_dd_out")
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    // file sink: fault-tolerant, so the query can recover from the
    // checkpoint (the memory sink cannot)
    def start() = FlowLogStream.dedupStream(
      input.toDF().toDF("event_id", "ts", "event_type"), "10 minutes")
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val q1 = start()
    try {
      input.addData((1L, t0, "a"), (2L, t0, "b"))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      input.addData((1L, t0, "a"), (3L, t0, "c")) // redelivery + new
      q2.processAllAvailable()
      val out = spark.read.parquet(outDir)
        .select($"event_id").as[Long].collect().sorted
      // id 1 exactly once: the restored state drops the redelivery
      assert(out.toSeq === Seq(1L, 2L, 3L),
        "redelivered id 1 must be dropped by state restored from checkpoint")
    } finally q2.stop()
  }

  test("tick envelopes are deterministic and decode through the ingestor") {
    import graft.sources.FlowLogSource
    import graft.operators.Ingestor
    val ticks = spark.range(0, 10).select($"id".as("value"))
    val env = FlowLogSource.envelopesFromTicks(ticks, eventsPerEnvelope = 5)
    // byte-identical on re-evaluation: the redelivery contract
    val a = env.orderBy("tick").select($"data").as[String].collect()
    val b = env.orderBy("tick").select($"data").as[String].collect()
    assert(a.toSeq === b.toSeq)
    // tick 0 is a CONTROL_MESSAGE → dropped; 9 data envelopes × 5 events
    val lines = Ingestor.decodeEnvelopes(env, "data")
    assert(lines.count() === 45)
    // and the synthesized lines parse clean through the flow-log regex
    val parsed = FlowLog.parseFlowLines(
      lines.select(xxhash64($"Data").as("id"),
        regexp_replace($"Data", "\n$", "").as("line")))
    assert(parsed.filter($"error").count() === 0)
  }

  test("rate-limited source streams envelopes into the decode pipeline") {
    import graft.sources.FlowLogSource
    import graft.operators.Ingestor
    val env = FlowLogSource.rateEnvelopes(spark, rowsPerSecond = 200)
    val q = Ingestor.decodeEnvelopes(env, "data")
      .writeStream.format("memory").queryName("rate_out")
      .outputMode("append").start()
    try {
      // rate is unbounded; poll until data lands (throttled by the source)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var n = 0L
      while (n == 0 && System.nanoTime() < deadline) {
        q.processAllAvailable()
        n = spark.table("rate_out").count()
        if (n == 0) Thread.sleep(100)
      }
      assert(n > 0, "no envelopes delivered within the deadline")
    } finally q.stop()
  }

  test("redelivered batches resolve to no duplicates via the upsert sink") {
    import graft.sources.{FlowLogSource, Sinks}
    import graft.operators.Ingestor
    val path = new java.io.File(
      new java.io.File(tempDir("upsert")), "log")
      .getAbsolutePath
    val input = MemoryStream[Long](spark)
    val docs = Ingestor.decodeEnvelopes(
      FlowLogSource.envelopesFromTicks(input.toDF().toDF("value")), "data")
      .select(xxhash64($"Data").as("doc_id"), $"Data")
    val q = docs.writeStream
      .foreachBatch(Sinks.upsertAppendWriter(path, "doc_id") _)
      .outputMode("append").start()
    try {
      input.addData(1L, 2L, 3L)
      q.processAllAvailable()
      // at-least-once upstream: the SAME ticks redelivered in a later
      // batch (deterministic synthesis → identical documents)
      input.addData(2L, 3L)
      q.processAllAvailable()
      val log = spark.read.parquet(path)
      assert(log.count() === 25) // 3×5 + 2×5 appended deliveries
      val resolved = Sinks.latestById(spark, path, "doc_id")
      assert(resolved.count() === 15) // one row per document
      assert(resolved.select($"doc_id").distinct().count() === 15)
      // last write wins: survivors of redelivered docs carry delivery 1
      val latest = spark.read.parquet(path)
        .groupBy($"doc_id").agg(max($"_delivery").as("d"))
      assert(latest.filter($"d" === 1L).count() === 10)
    } finally q.stop()
  }

  test("end-to-end: envelope source → ingest decode → decorate → upsert sink is exactly-once across kill+restart") {
    // The reference's whole topology in one chain — CloudWatch→Kinesis
    // envelopes (ingestor/index.js:124-141) → decode/explode → the
    // Firehose decorator (decorator/index.js:243-262) → the idempotent
    // ES-style delivery sink (decorator/index.js:254-257) — driven
    // through a checkpointed streaming query that is KILLED mid-stream
    // and restarted while the upstream redelivers (at-least-once). The
    // user-visible resolved state must hold each document exactly once,
    // byte-identical to the batch decorator on the same ticks.
    import graft.sources.{FlowLogSource, Sinks}
    import graft.operators.Ingestor
    val ckpt = tempDir("graft_e2e_ckpt")
    val path = new java.io.File(
      new java.io.File(tempDir("graft_e2e")), "log")
      .getAbsolutePath
    val eni = Seq(("eni-1", Seq("sg-a"), "172.31.16.1"))
      .toDF("interface_id", "security_group_ids", "ip_address")
    val geo = Seq(("72.21.196.65", "US", "UNITED STATES", "WA", "WASHINGTON",
      "SEATTLE", 47.6, -122.3))
      .toDF("ip", "country_code", "country_name", "region_code",
        "region_name", "city", "latitude", "longitude")
    def toLines(env: org.apache.spark.sql.DataFrame) =
      Ingestor.decodeEnvelopes(env, "data")
        .select(xxhash64($"Data").as("id"),
          regexp_replace($"Data", "\n$", "").as("line"))
    val input = MemoryStream[Long](spark)
    def start() = FlowLogStream.decorate(
        toLines(FlowLogSource.envelopesFromTicks(input.toDF().toDF("value"))),
        eni, geo)
      .drop("@timestamp") // OP-11 processing-time stamp: nondeterministic
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(Sinks.upsertAppendWriter(path, "id") _)
      .outputMode("append").start()
    val q1 = start()
    try {
      input.addData(1L, 2L, 3L)
      q1.processAllAvailable()
    } finally q1.stop() // kill
    val q2 = start() // restart from the checkpoint
    try {
      input.addData(2L, 3L, 4L) // ticks 2,3 redelivered + one new
      q2.processAllAvailable()
    } finally q2.stop()
    // Exactly-once VISIBLE state: ticks 1-4 × 5 events, one row per
    // document despite redelivery spanning the restart.
    val resolved = Sinks.latestById(spark, path, "id")
    assert(resolved.count() === 20)
    assert(resolved.select($"id").distinct().count() === 20)
    assert(resolved.filter($"result" =!= "Ok").count() === 0)
    // Content: byte-equal to the batch decorator over the same ticks
    // (streaming and batch share one logical plan).
    val want = FlowLogStream.decorate(
        toLines(FlowLogSource.envelopesFromTicks(
          spark.range(1, 5).select($"id".as("value")))), eni, geo)
      .drop("@timestamp")
      .select($"id", $"result", $"data")
      .as[(Long, String, String)].collect().toSet
    val got = resolved.select($"id", $"result", $"data")
      .as[(Long, String, String)].collect().toSet
    assert(got === want)
  }

  test("transformWithState accumulates per-source totals across batches") {
    // The Spark 4 arbitrary-state API requires the RocksDB state store;
    // set it on an ISOLATED session (own SQLConf, shared context) so
    // concurrently-running suites' streaming queries keep the default
    // provider.
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    val input = MemoryStream[(String, Long)](s)
    val q = FlowLogStream.runningTotals(
      input.toDF().toDF("srcaddr", "bytes"))
      .writeStream.format("memory").queryName("tws_out")
      .outputMode("update").start()
    try {
      input.addData(("10.0.0.1", 100L), ("10.0.0.1", 50L), ("10.0.0.2", 7L))
      q.processAllAvailable()
      input.addData(("10.0.0.1", 1L)) // state must carry 150 forward
      q.processAllAvailable()
      val rows = s.table("tws_out")
        .as[FlowLogStream.SrcTotals].collect()
      val batch1 = rows.filter(r => r.srcaddr == "10.0.0.1" && r.n_flows == 2)
      val batch2 = rows.filter(r => r.srcaddr == "10.0.0.2")
      val carried = rows.filter(r => r.srcaddr == "10.0.0.1" && r.n_flows == 3)
      assert(batch1.map(_.total_bytes).toSeq === Seq(150L))
      assert(batch2.map(_.total_bytes).toSeq === Seq(7L))
      assert(carried.map(_.total_bytes).toSeq === Seq(151L),
        "ValueState must accumulate across micro-batches")
    } finally q.stop()
  }

  test("streaming LSH candidates equal the batch operator over the union of batches") {
    // Online dedup parity: feeding the corpus through the streaming
    // bucket-history processor in two micro-batches must produce exactly
    // the batch lshCandidatePairs set — same hash family per row
    // (array_min replaces the batch min() aggregate), same buckets,
    // in-batch AND cross-batch pairs both recovered.
    import graft.operators.Dedup
    import graft.streaming.StreamingDedup
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    val corpus = Dedup.augmentCorpus(Tables.documents(s, sfDir))
      .select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect()
    val (b1, b2) = corpus.partition(_._1 % 2 == 0)
    val input = MemoryStream[(Long, String)](s)
    // family = "v1" pins the historical md5-per-hash chain; the v2
    // default is pinned by the 64/16/4 test below.
    val q = StreamingDedup.candidatePairs(
        input.toDF().toDF("doc_id", "text"), family = "v1")
      .writeStream.format("memory").queryName("sdedup_out")
      .outputMode("append").start()
    try {
      input.addData(b1.toSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toSeq: _*)
      q.processAllAvailable()
      val got = s.table("sdedup_out").as[(Long, Long)].collect().toSet
      val want = Dedup.lshCandidatePairs(Dedup.minhashSignatures(
          Dedup.shingles(Dedup.augmentCorpus(Tables.documents(s, sfDir)))))
        .as[(Long, Long)].collect().toSet
      assert(want.nonEmpty && got === want,
        s"streaming candidate set (${got.size}) must equal batch (${want.size})")
    } finally q.stop()
  }

  test("streaming LSH survives an all-redelivered micro-batch (at-least-once)") {
    // At-least-once sources redeliver: a batch whose every doc_id was
    // already seen makes `fresh` empty in every touched bucket, and
    // Spark 4.1's ListState rejects empty appends — the processor must
    // skip the append, emit nothing new, and keep the query alive.
    import graft.operators.Dedup
    import graft.streaming.StreamingDedup
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    val corpus = Dedup.augmentCorpus(Tables.documents(s, sfDir))
      .select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)](s)
    val q = StreamingDedup.candidatePairs(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("sdedup_redeliver_out")
      .outputMode("append").start()
    try {
      input.addData(corpus.toSeq: _*)
      q.processAllAvailable()
      val afterFirst = s.table("sdedup_redeliver_out")
        .as[(Long, Long)].collect().toSet
      // Redeliver a slice of already-seen documents verbatim.
      input.addData(corpus.take(math.max(5, corpus.length / 4)).toSeq: _*)
      q.processAllAvailable()
      assert(q.exception.isEmpty,
        s"redelivered batch must not kill the query: ${q.exception}")
      val afterRedeliver = s.table("sdedup_redeliver_out")
        .as[(Long, Long)].collect().toSet
      assert(afterFirst.nonEmpty && afterRedeliver === afterFirst,
        "redelivered docs are already in state and must emit no new pairs")
    } finally q.stop()
  }

  test("streaming LSH parity and bounded state at production banding 64/16/4") {
    // The parameterization exists for 64-hash production signatures;
    // pin parity there too, so a per-row cost blowup in the 64-column
    // fused signature fold or unbounded bucket-history growth surfaces
    // here rather than in production. State is keyed by band bucket with
    // one list element per (doc, band): total elements ≤ docs × bands.
    import graft.operators.Dedup
    import graft.streaming.StreamingDedup
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    val (nh, nb, rpb) = (64, 16, 4)
    val corpus = Dedup.augmentCorpus(Tables.documents(s, sfDir))
      .select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect()
    val (b1, b2) = corpus.partition(_._1 % 2 == 0)
    val input = MemoryStream[(Long, String)](s)
    val q = StreamingDedup.candidatePairs(
        input.toDF().toDF("doc_id", "text"), nh, nb, rpb)
      .writeStream.format("memory").queryName("sdedup64_out")
      .outputMode("append").start()
    try {
      input.addData(b1.toSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toSeq: _*)
      q.processAllAvailable()
      val got = s.table("sdedup64_out").as[(Long, Long)].collect().toSet
      // Default family is v2 — the batch side must band the same
      // one-digest signatures with the same separator.
      val want = Dedup.lshCandidatePairs(
          Dedup.minhashSignaturesV2(
            Dedup.augmentCorpus(Tables.documents(s, sfDir)), nh),
          nb, rpb, sep = "|")
        .as[(Long, Long)].collect().toSet
      assert(want.nonEmpty && got === want,
        s"streaming candidates at 64/16/4 (${got.size}) must equal batch (${want.size})")
      val docsWithShingles = corpus.count(_._2.split(" ").length >= 3)
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows > 0 && stateRows <= docsWithShingles.toLong * nb,
        s"bucket-history state ($stateRows rows) must stay within docs×bands " +
          s"(${docsWithShingles.toLong * nb})")
    } finally q.stop()
  }

  test("streaming embedding candidates equal the batch sign-bucket expansion") {
    // The vector-modality analog of the text parity pin: vectors fed in
    // two micro-batches through the sign-LSH bucket history must emit
    // exactly the batch in-bucket pair set over the full corpus —
    // in-batch and cross-batch pairs both, candidates only (cosine
    // scoring happens downstream of the state, vectors never enter it).
    import graft.operators.{Dedup, Similarity}
    import graft.streaming.StreamingDedup
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    val bits = 4
    val corpus = Similarity.augmentVectors(Tables.embeddings(s, sfDir))
      .select($"vec_id", $"v").as[(Long, Seq[Double])].collect()
    val (b1, b2) = corpus.partition(_._1 % 2 == 0)
    val input = MemoryStream[(Long, Seq[Double])](s)
    val q = StreamingDedup.embedCandidatePairs(
        input.toDF().toDF("vec_id", "v"), bits)
      .writeStream.format("memory").queryName("sembed_out")
      .outputMode("append").start()
    try {
      input.addData(b1.toSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toSeq: _*)
      q.processAllAvailable()
      val got = s.table("sembed_out").as[(Long, Long)].collect().toSet
      val want = Dedup.saltedBucketPairs(
          corpus.toSeq.toDF("vec_id", "v")
            .select($"vec_id".as("doc_id"),
              Similarity.signBucket($"v", bits).as("bucket")),
          maxBucket = 1 << 20)
        .as[(Long, Long)].collect().toSet
      assert(want.nonEmpty && got === want,
        s"streaming embed candidates (${got.size}) must equal batch (${want.size})")
    } finally q.stop()
  }

  test("streaming LSH state families are isolated: v1 checkpoint + v2 restart ≡ v2 cold start") {
    // The failure mode being pinned away: v1 and v2 generate bucket
    // strings from different digest chains, so a v2 run restarted on a
    // v1-keyed RocksDB checkpoint must NOT read v1's bucket history as
    // its own. With the family tag in the state key the keyspaces are
    // disjoint by construction, so the v2 run behaves exactly like a
    // cold start: it emits precisely the v2 pair set over its OWN input
    // and never a pair against a v1-era document (the cold-start rule
    // documented in SCALING.md "Streaming dedup state families").
    import graft.operators.Dedup
    import graft.streaming.StreamingDedup
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    val ckpt = tempDir("graft_fam_ckpt")
    val outDir = tempDir("graft_fam_out")
    val corpus = Dedup.augmentCorpus(Tables.documents(s, sfDir))
      .select($"doc_id".cast("long"), $"text")
      .as[(Long, String)].collect()
    // Even ids through the v1 run, odd through the v2 run: any
    // cross-family pair would be mixed-parity — instantly detectable.
    val (b1, b2) = corpus.partition(_._1 % 2 == 0)
    val input = MemoryStream[(Long, String)](s)
    def start(family: String) = StreamingDedup.candidatePairs(
        input.toDF().toDF("doc_id", "text"), family = family)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start("v1")
    try {
      input.addData(b1.toSeq: _*)
      q1.processAllAvailable()
    } finally q1.stop()
    val afterV1 = s.read.parquet(outDir).as[(Long, Long)].collect().toSet
    val q2 = start("v2") // SAME checkpoint, switched family
    try {
      input.addData(b2.toSeq: _*)
      q2.processAllAvailable()
      assert(q2.exception.isEmpty,
        s"family switch over an old checkpoint must not kill the query: ${q2.exception}")
    } finally q2.stop()
    val all = s.read.parquet(outDir).as[(Long, Long)].collect().toSet
    val v2Run = all -- afterV1
    // No pair may span the two runs' populations.
    assert(all.forall { case (a, b) => a % 2 == b % 2 },
      "cross-family pair emitted: v2 run read v1-era state")
    // The v2 run's emissions are exactly a v2 COLD START over its input.
    val want = Dedup.lshCandidatePairs(
        Dedup.minhashSignaturesV2(b2.toSeq.toDF("doc_id", "text")),
        sep = "|")
      .as[(Long, Long)].collect().toSet
    assert(want.nonEmpty && v2Run === want,
      s"v1-state + v2-run (${v2Run.size}) must equal v2 cold start (${want.size})")
  }

  test("watermark dedup drops in-horizon redeliveries across micro-batches") {
    // Same event_id redelivered in the same batch AND in a later batch
    // while still inside the watermark horizon: exactly one row per id
    // survives. A fresh id in the later batch passes through.
    val input = MemoryStream[(Timestamp, Long, String)](spark)
    val events = FlowLogStream.dedupStream(
      input.toDF().toDF("ts", "event_id", "payload"), "10 minutes")
    val q = events.writeStream.format("memory").queryName("wmdedup_out")
      .outputMode("append").start()
    try {
      def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      input.addData((ts(1), 1L, "a"), (ts(1), 1L, "a"), (ts(2), 2L, "b"))
      q.processAllAvailable()
      input.addData((ts(3), 1L, "a"), (ts(4), 3L, "c"))  // 1 redelivered
      q.processAllAvailable()
      val ids = spark.table("wmdedup_out")
        .select($"event_id").as[Long].collect().sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L),
        "each id must appear exactly once within the watermark horizon")
    } finally q.stop()
  }

  test("native session_window() under readStream matches the batch twin") {
    // q_session_window_ts's session_window() aggregation, run as a
    // watermarked streaming query over the same fixture rows fed in two
    // time-ordered micro-batches, must emit exactly the batch result —
    // the parity pin the integer q_session_window form has via
    // sessionize(). Time-ordered split + 10min watermark delay is
    // merge-safe: a session is only finalized once the watermark passes
    // its end, and any batch-2 event that could have extended it would
    // have to be OLDER than the watermark (contradiction with the
    // ordered split), so no session closes early.
    val rows = Tables.eventsTs(spark, sfDir)
      .filter($"user_id" < 10)
      .select($"user_id".cast("long"), $"ts".cast("timestamp"))
      .as[(Long, Timestamp)].collect().sortBy(_._2.getTime)
    assert(rows.length > 20, "fixture slice too small to exercise sessions")
    val (b1, b2) = rows.splitAt(rows.length / 2)
    // Far-future sentinel advances the watermark past every real
    // session's end so append mode flushes them all; its own (open)
    // session is excluded from the comparison.
    val sentinel = (999999L,
      new Timestamp(rows.last._2.getTime + 3L * 3600 * 1000))
    def sessionize(df: org.apache.spark.sql.DataFrame) = df
      .groupBy($"user_id", session_window($"ts", "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id",
        unix_micros($"session_window.start").as("start_us"),
        unix_micros($"session_window.end").as("end_us"), $"n_events")
    val input = MemoryStream[(Long, Timestamp)](spark)
    val q = sessionize(
        input.toDF().toDF("user_id", "ts").withWatermark("ts", "10 minutes"))
      .writeStream.format("memory").queryName("sess_ts_out")
      .outputMode("append").start()
    try {
      input.addData(b1.toSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toSeq :+ sentinel: _*)
      q.processAllAvailable()
      val got = spark.table("sess_ts_out")
        .filter($"user_id" =!= 999999L)
        .as[(Long, Long, Long, Long)].collect().toSet
      val want = sessionize(
          rows.toSeq.toDF("user_id", "ts"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(want.size > 1, "fixture must produce multiple sessions")
      assert(got === want,
        s"streamed session set (${got.size}) must equal batch (${want.size})")
    } finally q.stop()
  }

  test("streaming ANN serving: probe stream through foreachBatch equals batch search") {
    // Online similarity serving: probes arrive as a stream and search a
    // STATIC corpus indexed under trained k-means cells. Per-probe
    // top-k needs a ranking window, which streams can't run in append
    // mode — foreachBatch is the serving shape: each micro-batch is a
    // batch frame, so the exact ivfSearchTrained plan (and its
    // determinism contract) runs unchanged. Two micro-batches of
    // probes must produce precisely the batch search's rows for the
    // union — proving the SAME operator serves offline and online.
    import graft.operators.Similarity
    val s = spark.newSession()
    import s.implicits._
    val vecs = Similarity.vectors(Tables.embeddings(s, sfDir))
      .select($"vec_id", $"v")
    val cents = Similarity.kmeansTrain(vecs, 8, 1)
      .persist() // static index: train once, serve every batch
    val probeRows = vecs.filter($"vec_id" < 12)
      .as[(Long, Seq[Double])].collect()
    val (p1, p2) = probeRows.partition(_._1 % 2 == 0)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long, Double, Int)]()
    val input = MemoryStream[(Long, Seq[Double])](s)
    val q = input.toDF().toDF("vec_id", "v")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Similarity.ivfSearchTrained(vecs, batch, cents, 3, nprobe = 2)
          .collect().foreach(r => results.add((r.getLong(0), r.getLong(1),
            r.getDouble(2), r.getInt(3))))
      }
      .start()
    try {
      input.addData(p1.toSeq: _*)
      q.processAllAvailable()
      input.addData(p2.toSeq: _*)
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = results.asScala.toSet
      val want = Similarity.ivfSearchTrained(vecs,
          vecs.filter($"vec_id" < 12), cents, 3, nprobe = 2)
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(want.nonEmpty && got === want,
        s"served results (${got.size}) must equal batch search (${want.size})")
    } finally { q.stop(); cents.unpersist() }
  }

  test("streaming ingest builds servable index shards: sharded serve equals corpus scan") {
    // The ingest side of the serving story: documents ARRIVE as a
    // stream, each micro-batch writes its own inverted-index shard
    // (writeInvertedIndex — a batch frame under foreachBatch, so the
    // exact batch build runs unchanged), and a BM25 query served from
    // the accumulated shards must equal the corpus-scan bm25 over
    // everything ingested — the incremental contract end-to-end from
    // stream to index to query, with no corpus re-index at any batch.
    import graft.operators.TextAnalysis
    val s = spark.newSession()
    import s.implicits._
    val terms = Seq("hash", "join", "spark")
    val allDocs = Tables.documents(s, sfDir)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val (b1, b2) = allDocs.partition(_._1 % 2 == 0)
    val base = tempDir("graft_stream_idx")
    val shardDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val input = MemoryStream[(Long, String)](s)
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          val dir = s"$base/shard_$id"
          TextAnalysis.writeInvertedIndex(batch, dir)
          shardDirs.add(dir)
        }
        ()
      }
      .start()
    try {
      input.addData(b1.toSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toSeq: _*)
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val dirs = shardDirs.asScala.toSeq
      assert(dirs.size === 2, s"expected 2 shards, got ${dirs.size}")
      val ingested = allDocs.toSeq.toDF("doc_id", "text")
      val want = TextAnalysis.bm25(ingested, terms).collect().toSet
      val served = TextAnalysis
        .searchInvertedIndexShards(s, dirs, terms).collect().toSet
      assert(want.nonEmpty && served === want,
        "stream-built shards must serve exactly like a corpus scan")
    } finally q.stop()
  }

  test("streaming PQ serving: probe stream over the persisted codes-only index") {
    // The production online-ANN shape end-to-end: the corpus exists
    // ONLY as a file-backed IVF-PQ index (codes + codebook +
    // centroids, written once); probes arrive as a stream and each
    // micro-batch runs the exact searchIvfPqIndex plan against the
    // files. Two micro-batches must union to precisely the batch
    // serve's rows — same operator offline and online, no raw
    // embedding anywhere in the serving path.
    import graft.operators.Similarity
    val s = spark.newSession()
    import s.implicits._
    val vecs = Similarity.vectors(Tables.embeddings(s, sfDir))
      .select($"vec_id", $"v")
    val dir = tempDir("graft_ivfpq_stream")
    val results = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long, Double, Int)]()
    val input = MemoryStream[(Long, Seq[Double])](s)
    Similarity.writeIvfPqIndex(vecs, dir)
    val probeRows = vecs.filter($"vec_id" < 10)
      .as[(Long, Seq[Double])].collect()
    val (p1, p2) = probeRows.partition(_._1 % 2 == 0)
    val q = input.toDF().toDF("vec_id", "v")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Similarity.searchIvfPqIndex(s, dir, vecs, batch, 5)
          .collect().foreach(r => results.add((r.getLong(0), r.getLong(1),
            r.getDouble(2), r.getInt(3))))
      }
      .start()
    try {
      input.addData(p1.toSeq: _*)
      q.processAllAvailable()
      input.addData(p2.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val got = results.asScala.toSet
    val want = Similarity.searchIvfPqIndex(s, dir, vecs,
        vecs.filter($"vec_id" < 10), 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(want.nonEmpty && got === want,
      s"served results (${got.size}) must equal batch serve (${want.size})")
  }

  test("stateful sessionization closes a session on inactivity gap") {
    val input = MemoryStream[Ev](spark)
    // two bursts for user 7, separated by > gap in event time: the second
    // burst closes the first session within the same batch
    input.addData(
      Ev(7, 1000, 1.0), Ev(7, 2000, 2.0), Ev(7, 3000, 3.0),
      Ev(7, 200000, 4.0), Ev(7, 201000, 5.0))
    val sessions = FlowLogStream.sessionize(input.toDS(), gapMs = 60000)
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("sess_out")
        .as[FlowLogStream.Session].collect()
      assert(out.length === 1)
      assert(out(0) === FlowLogStream.Session(7, 1000, 3000, 3, 6.0))
    } finally q.stop()
  }

  test("streaming hybrid-retrieval serving: probe stream equals batch fusion") {
    // Online hybrid search: query docs arrive as a stream carrying both
    // text and embedding; each micro-batch runs the exact
    // hybridRrfServe plan (lexical overlap ⊕ cosine, RRF-fused) against
    // the STATIC corpus. Two micro-batches must reproduce precisely the
    // batch hybridRrf rows for the same probe set — the offline/online
    // parity contract of the serving-mode entry point.
    import graft.operators.{Retrieval, Similarity}
    val s = spark.newSession()
    import s.implicits._
    val docs = Tables.documents(s, sfDir)
    val vecs = Similarity.vectors(Tables.embeddings(s, sfDir))
      .select($"vec_id", $"v")
    val probeRows = docs.join(vecs, $"doc_id" === $"vec_id")
      .filter($"doc_id" < 8)
      .select($"doc_id", $"text", $"v")
      .as[(Long, String, Seq[Double])].collect()
    val (p1, p2) = probeRows.partition(_._1 % 2 == 0)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long, Double, Int)]()
    val input = MemoryStream[(Long, String, Seq[Double])](s)
    val q = input.toDF().toDF("doc_id", "text", "v")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val pd = batch.select($"doc_id", $"text")
        val pv = batch.select($"doc_id".as("vec_id"), $"v")
        Retrieval.hybridRrfServe(docs, vecs, pd, pv)
          .select($"probe_id", $"doc_id", $"rrf", $"rnk")
          .collect().foreach(r => results.add((r.getLong(0), r.getLong(1),
            r.getDouble(2), r.getInt(3))))
      }
      .start()
    try {
      input.addData(p1.toSeq: _*)
      q.processAllAvailable()
      input.addData(p2.toSeq: _*)
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = results.asScala.toSet
      val want = Retrieval.hybridRrf(docs, vecs,
          $"doc_id" < 8, $"vec_id" < 8)
        .select($"probe_id", $"doc_id", $"rrf", $"rnk")
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(want.nonEmpty && got === want,
        s"served fusion (${got.size}) must equal batch fusion (${want.size})")
    } finally q.stop()
  }

  test("streaming hybrid serving FROM PERSISTED INDEXES: per-batch " +
      "fusion equals the batch serve, including across a mid-stream " +
      "per-leg delete") {
    // The standing-deployment shape online: both layouts (inverted
    // index + IVF) are persisted ONCE; probe docs arrive per
    // micro-batch and each batch serves hybridRrfFromIndexes against
    // the files — no corpus table read at serve. Between the two
    // batches a document retires from the deployment (deleted from
    // BOTH indexes, the per-leg tombstone contract), so batch 2 must
    // equal the post-delete batch serve and the retired doc must not
    // surface through either leg.
    import graft.operators.{Retrieval, Similarity, TextAnalysis}
    val s = spark.newSession()
    import s.implicits._
    val docs = Tables.documents(s, sfDir)
    val vecs = Similarity.vectors(Tables.embeddings(s, sfDir))
      .select($"vec_id", $"v")
    val invDir = tempDir("graft_hyb_inv_stream")
    val ivfDir = tempDir("graft_hyb_ivf_stream")
    TextAnalysis.writeInvertedIndex(docs, invDir)
    Similarity.writeIvfIndex(vecs, Similarity.kmeansTrain(vecs, 8, 2),
      ivfDir)
    val probeRows = docs.join(vecs, $"doc_id" === $"vec_id")
      .filter($"doc_id" < 8)
      .select($"doc_id", $"text", $"v")
      .as[(Long, String, Seq[Double])].collect()
    val (p1, p2) = probeRows.partition(_._1 % 2 == 0)
    // Retire a doc that actually appears in batch-1's fused lists, so
    // the delete provably bites.
    val want1 = Retrieval.hybridRrfFromIndexes(s,
        docs.filter($"doc_id" % 2 === 0 && $"doc_id" < 8),
        vecs.filter($"vec_id" % 2 === 0 && $"vec_id" < 8),
        invDir, ivfDir)
      .select($"probe_id", $"doc_id", $"rrf", $"rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    val victim = want1.map(_._2).filter(d => !want1.exists(_._1 == d))
      .headOption.getOrElse(want1.head._2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, (Long, Long, Double, Int))]()
    val input = MemoryStream[(Long, String, Seq[Double])](s)
    val q = input.toDF().toDF("doc_id", "text", "v")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val pd = batch.select($"doc_id", $"text")
        val pv = batch.select($"doc_id".as("vec_id"), $"v")
        Retrieval.hybridRrfFromIndexes(s, pd, pv, invDir, ivfDir)
          .select($"probe_id", $"doc_id", $"rrf", $"rnk")
          .collect().foreach(r => results.add((id, (r.getLong(0),
            r.getLong(1), r.getDouble(2), r.getInt(3)))))
      }
      .start()
    try {
      input.addData(p1.toSeq: _*)
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got1 = results.asScala.filter(_._1 == 0L).map(_._2).toSet
      assert(want1.nonEmpty && got1 === want1,
        "batch-1 served fusion diverged from the batch serve")
      // Mid-stream retirement: per-leg deletes on the live layouts.
      val ids = Seq(victim).toDF("doc_id")
      TextAnalysis.deleteFromInvertedIndex(s, ids, invDir)
      Similarity.deleteFromIvfIndex(s,
        ids.select($"doc_id".as("vec_id")), ivfDir)
      input.addData(p2.toSeq: _*)
      q.processAllAvailable()
      val got2 = results.asScala.filter(_._1 == 1L).map(_._2).toSet
      val want2 = Retrieval.hybridRrfFromIndexes(s,
          docs.filter($"doc_id" % 2 === 1 && $"doc_id" < 8),
          vecs.filter($"vec_id" % 2 === 1 && $"vec_id" < 8),
          invDir, ivfDir)
        .select($"probe_id", $"doc_id", $"rrf", $"rnk")
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(want2.nonEmpty && got2 === want2,
        "post-delete served fusion diverged from the batch serve")
      assert(!got2.exists(_._2 == victim),
        s"retired doc $victim resurfaced in the fused results")
    } finally q.stop()
  }

  test("streaming multimodal kernels: per-micro-batch image pipeline " +
      "and audio window stats equal the batch transforms") {
    // The raster/audio kernels are pure per-row transforms, so batch
    // boundaries must be invisible: the union of per-micro-batch
    // outputs over a partitioned corpus equals one batch run over the
    // whole corpus — the foreachBatch ingest shape for multimodal
    // curation.
    import graft.operators.Multimodal
    val s = spark.newSession()
    import s.implicits._
    val docs = Tables.documents(s, sfDir).filter($"doc_id" < 40)
    val rows = docs.select($"doc_id", $"text")
      .as[(Long, String)].collect()
    val (b1, b2) = rows.partition(_._1 % 2 == 0)
    val wantImg = Multimodal.imagePipeline(docs)
      .as[(Long, Int, Long)].collect().toSet
    // The PNG-composed chain must be batch-boundary-invisible too —
    // and equal to the raster-direct pipeline (decode∘encode = id).
    val wantPng = Multimodal.pngPipeline(docs)
      .as[(Long, Int, Long)].collect().toSet
    assert(wantPng === wantImg,
      "PNG-composed pipeline diverged from the raster-direct one")
    val wantAud = Multimodal.audioWindowStats(
        Multimodal.synthesizeAudioPayloads(docs))
      .as[(Long, Int, Long, Long)].collect().toSet
    val gotImg = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Int, Long)]()
    val gotAud = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Int, Long, Long)]()
    val input = MemoryStream[(Long, String)](s)
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Multimodal.pngPipeline(batch).collect().foreach(r =>
          gotImg.add((r.getLong(0), r.getInt(1), r.getLong(2))))
        Multimodal.audioWindowStats(
            Multimodal.synthesizeAudioPayloads(batch))
          .collect().foreach(r => gotAud.add((r.getLong(0), r.getInt(1),
            r.getLong(2), r.getLong(3))))
      }
      .start()
    try {
      input.addData(b1.toSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toSeq: _*)
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(wantImg.nonEmpty &&
        gotImg.asScala.toSet === wantImg,
        "streamed PNG image-pipeline output diverged from the batch run")
      assert(wantAud.nonEmpty &&
        gotAud.asScala.toSet === wantAud,
        "streamed audio window stats diverged from the batch run")
    } finally q.stop()
  }

  test("streaming hybrid serving with the IVF-BQ vector leg: per-batch " +
      "fusion equals the batch serve, including across a mid-stream " +
      "per-leg delete") {
    // The round-14 harness with the COMPRESSED vector leg: candidates
    // from the cell-blocked IVF-BQ layout (16-byte codes, floats read
    // for shortlist survivors only) — the 100 TB-preferred serve.
    // Same contract: per-micro-batch fusion ≡ batch serve, and a doc
    // retired from both layouts mid-stream vanishes from the fused
    // lists.
    import graft.operators.{Retrieval, Similarity, TextAnalysis}
    val s = spark.newSession()
    import s.implicits._
    val docs = Tables.documents(s, sfDir)
    val vecs = Similarity.vectors(Tables.embeddings(s, sfDir))
      .select($"vec_id", $"v")
    val invDir = tempDir("graft_hybbq_inv_stream")
    val bqDir = tempDir("graft_hybbq_idx_stream")
    TextAnalysis.writeInvertedIndex(docs, invDir)
    Similarity.writeIvfBqIndex(vecs, Similarity.kmeansTrain(vecs, 8, 2),
      bqDir)
    val probeRows = docs.join(vecs, $"doc_id" === $"vec_id")
      .filter($"doc_id" < 8)
      .select($"doc_id", $"text", $"v")
      .as[(Long, String, Seq[Double])].collect()
    val (p1, p2) = probeRows.partition(_._1 % 2 == 0)
    val want1 = Retrieval.hybridRrfFromIndexesBq(s,
        docs.filter($"doc_id" % 2 === 0 && $"doc_id" < 8),
        vecs.filter($"vec_id" % 2 === 0 && $"vec_id" < 8),
        invDir, bqDir, vecs)
      .select($"probe_id", $"doc_id", $"rrf", $"rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    val victim = want1.map(_._2).filter(d => !want1.exists(_._1 == d))
      .headOption.getOrElse(want1.head._2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, (Long, Long, Double, Int))]()
    val input = MemoryStream[(Long, String, Seq[Double])](s)
    val q = input.toDF().toDF("doc_id", "text", "v")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val pd = batch.select($"doc_id", $"text")
        val pv = batch.select($"doc_id".as("vec_id"), $"v")
        Retrieval.hybridRrfFromIndexesBq(s, pd, pv, invDir, bqDir, vecs)
          .select($"probe_id", $"doc_id", $"rrf", $"rnk")
          .collect().foreach(r => results.add((id, (r.getLong(0),
            r.getLong(1), r.getDouble(2), r.getInt(3)))))
      }
      .start()
    try {
      input.addData(p1.toSeq: _*)
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got1 = results.asScala.filter(_._1 == 0L).map(_._2).toSet
      assert(want1.nonEmpty && got1 === want1,
        "batch-1 served BQ-leg fusion diverged from the batch serve")
      val ids = Seq(victim).toDF("doc_id")
      TextAnalysis.deleteFromInvertedIndex(s, ids, invDir)
      Similarity.deleteFromIvfBqIndex(s,
        ids.select($"doc_id".as("vec_id")), bqDir)
      input.addData(p2.toSeq: _*)
      q.processAllAvailable()
      val got2 = results.asScala.filter(_._1 == 1L).map(_._2).toSet
      val want2 = Retrieval.hybridRrfFromIndexesBq(s,
          docs.filter($"doc_id" % 2 === 1 && $"doc_id" < 8),
          vecs.filter($"vec_id" % 2 === 1 && $"vec_id" < 8),
          invDir, bqDir, vecs)
        .select($"probe_id", $"doc_id", $"rrf", $"rnk")
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(want2.nonEmpty && got2 === want2,
        "post-delete served BQ-leg fusion diverged from the batch serve")
      assert(!got2.exists(_._2 == victim),
        s"retired doc $victim resurfaced in the BQ-leg fused results")
    } finally q.stop()
  }

  test("serve interleaved with compaction: every micro-batch either " +
      "reads a consistent table (the pinned serve result) or fails " +
      "loudly — never a half-swapped result") {
    // The reader contract of the generation log under concurrency: a
    // serve reads the files of the entry it opened, which no write leg
    // moves or deletes, so it sees the old generation or the new one
    // (identical by the compaction-parity pin) and never fails. Driven
    // end-to-end: a background thread loops delete+compact on a live
    // BQ layout (each iteration rewrites the whole table) while
    // micro-batches serve; every batch must complete and equal the
    // pinned masked serve.
    import graft.operators.Similarity
    val s = spark.newSession()
    import s.implicits._
    val vecs = Similarity.vectors(Tables.embeddings(s, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 6)
    val dir = tempDir("graft_bq_compact_race")
    Similarity.writeBqIndex(vecs, dir)
    val ids = vecs.filter($"vec_id" % 7 === 0).select($"vec_id")
    Similarity.deleteFromBqIndex(s, ids, dir)
    val want = Similarity.bqRerankFromIndex(s, dir, vecs, probes)
      .select($"probe_id", $"neighbor_id", $"rnk")
      .as[(Long, Long, Int)].collect().toSet
    @volatile var compacting = true
    val compactor = new Thread(() => {
      try {
        for (_ <- 1 to 4) {
          // Re-tombstoning already-absent ids is a no-op for the
          // result; each compact still rewrites the table and
          // commits a new generation per iteration.
          Similarity.deleteFromBqIndex(s, ids, dir)
          Similarity.compactBqIndex(s, dir)
        }
      } finally compacting = false
    })
    def serveOnce(): Either[String, Boolean] =
      try Right(Similarity.bqRerankFromIndex(s, dir, vecs, probes)
        .select($"probe_id", $"neighbor_id", $"rnk")
        .as[(Long, Long, Int)].collect().toSet == want)
      catch { case e: Exception => Left(e.getClass.getSimpleName) }
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[
      Either[String, Boolean]]()
    // Serve per MICRO-BATCH (foreachBatch catches + records so a loud
    // contention failure doesn't kill the stream; the retry is simply
    // the next batch).
    val input = MemoryStream[Long](s)
    val q = input.toDF().writeStream
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        outcomes.add(serveOnce()); ()
      }
      .start()
    compactor.start()
    try {
      var tick = 0L
      while (compacting) {
        input.addData(tick)
        q.processAllAvailable()
        tick += 1
      }
    } finally { compactor.join(); q.stop() }
    // After the dust settles the serve must be exact again.
    assert(serveOnce() === Right(true),
      "post-compaction serve diverged from the pinned result")
    import scala.jdk.CollectionConverters._
    val recorded = outcomes.asScala.toSeq
    assert(outcomes.asScala.count(_.isLeft) === 0,
      s"a micro-batch serve failed while compaction ran (outcomes: " +
        s"${recorded.filter(_.isLeft).take(20)})")
    val wrong = recorded.count(_ == Right(false))
    assert(wrong === 0,
      s"$wrong interleaved micro-batch serve(s) returned a " +
        s"HALF-SWAPPED result (outcomes: ${recorded.take(20)})")
    assert(recorded.exists(_.isRight),
      "no micro-batch serve completed while compaction ran — the race " +
        "never ran")
  }

  test("serve interleaved with CELL-partitioned compaction (IVF): the " +
      "per-cell delete+rename windows never yield a half-swapped result") {
    // The cell-table compaction path has a DIFFERENT race shape than
    // the BQ whole-table rewrite: only the affected cells' files are
    // replaced in the next entry. Contract is the same: masked serve ≡
    // compacted serve (parity pin), so every serve must complete and
    // equal the pinned result. Repeated
    // delete+compact of the same ids keeps the expected result
    // constant while still opening real tombstone-swap windows each
    // iteration.
    import graft.operators.Similarity
    val s = spark.newSession()
    import s.implicits._
    val vecs = Similarity.vectors(Tables.embeddings(s, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 6)
    val dir = tempDir("graft_ivf_compact_race")
    Similarity.writeIvfIndex(vecs, Similarity.kmeansTrain(vecs, 8, 2),
      dir)
    val ids = vecs.filter($"vec_id" % 7 === 0).select($"vec_id")
    Similarity.deleteFromIvfIndex(s, ids, dir)
    val want = Similarity.searchIvfIndex(s, dir, probes, 3, nprobe = 2)
      .select($"probe_id", $"neighbor_id", $"rnk")
      .as[(Long, Long, Int)].collect().toSet
    @volatile var compacting = true
    val compactor = new Thread(() => {
      try {
        for (_ <- 1 to 3) {
          Similarity.deleteFromIvfIndex(s, ids, dir)
          Similarity.compactIvfIndex(s, dir)
        }
      } finally compacting = false
    })
    def serveOnce(): Either[String, Boolean] =
      try Right(Similarity.searchIvfIndex(s, dir, probes, 3, nprobe = 2)
        .select($"probe_id", $"neighbor_id", $"rnk")
        .as[(Long, Long, Int)].collect().toSet == want)
      catch { case e: Exception => Left(e.getClass.getSimpleName) }
    val outcomes =
      scala.collection.mutable.ArrayBuffer[Either[String, Boolean]]()
    compactor.start()
    try {
      while (compacting) outcomes += serveOnce()
    } finally compactor.join()
    assert(serveOnce() === Right(true),
      "post-compaction IVF serve diverged from the pinned result")
    assert(outcomes.count(_.isLeft) === 0,
      s"a serve failed while the writer ran (outcomes: " +
        s"${outcomes.filter(_.isLeft).take(20)})")
    val wrong = outcomes.count(_ == Right(false))
    assert(wrong === 0,
      s"$wrong interleaved serve(s) returned a HALF-SWAPPED result " +
        s"over the cell-partitioned layout (outcomes: " +
        s"${outcomes.take(20)})")
    assert(outcomes.nonEmpty,
      "no serve ran while the cell compaction loop was live")
  }

  test("serve interleaved with PAIR-partitioned compaction (IMI): the " +
      "two-level leaf replace windows never yield a half-swapped result") {
    // Third rewrite shape in the reader contract: the multi-index
    // compaction replaces the files of NESTED leaves (`c0=X/c1=Y`),
    // up to k² virtual cells per compaction. Same contract: every
    // serve completes and equals the pinned masked result.
    import graft.operators.Similarity
    val s = spark.newSession()
    import s.implicits._
    val labeled = Similarity.vectors(Tables.embeddings(s, sfDir))
    val vecs = labeled.select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 6)
    val dir = tempDir("graft_imi_compact_race")
    Similarity.writeImiIndex(vecs, Similarity.imiSubCentroids(labeled),
      dir)
    val ids = vecs.filter($"vec_id" % 7 === 0).select($"vec_id")
    Similarity.deleteFromIvfIndex(s, ids, dir)
    val want = Similarity.searchImiIndex(s, dir, probes, 3, nprobe = 2)
      .select($"probe_id", $"neighbor_id", $"rnk")
      .as[(Long, Long, Int)].collect().toSet
    @volatile var compacting = true
    val compactor = new Thread(() => {
      try {
        for (_ <- 1 to 3) {
          Similarity.deleteFromIvfIndex(s, ids, dir)
          Similarity.compactImiIndex(s, dir)
        }
      } finally compacting = false
    })
    def serveOnce(): Either[String, Boolean] =
      try Right(Similarity.searchImiIndex(s, dir, probes, 3, nprobe = 2)
        .select($"probe_id", $"neighbor_id", $"rnk")
        .as[(Long, Long, Int)].collect().toSet == want)
      catch { case e: Exception => Left(e.getClass.getSimpleName) }
    val outcomes =
      scala.collection.mutable.ArrayBuffer[Either[String, Boolean]]()
    compactor.start()
    try {
      while (compacting) outcomes += serveOnce()
    } finally compactor.join()
    assert(serveOnce() === Right(true),
      "post-compaction IMI serve diverged from the pinned result")
    assert(outcomes.count(_.isLeft) === 0,
      s"a serve failed while the writer ran (outcomes: " +
        s"${outcomes.filter(_.isLeft).take(20)})")
    val wrong = outcomes.count(_ == Right(false))
    assert(wrong === 0,
      s"$wrong interleaved serve(s) returned a HALF-SWAPPED result " +
        s"over the pair-partitioned layout (outcomes: " +
        s"${outcomes.take(20)})")
    assert(outcomes.nonEmpty,
      "no serve ran while the pair compaction loop was live")
  }

  test("serve interleaved with PAIR-partitioned compaction (Multi-D-ADC): " +
      "the code-table leaf replace windows never yield a half-swapped " +
      "result") {
    // The imipq twin of the IMI pair interleave: same nested-leaf
    // (`c0=X/c1=Y`) replace unit, but over the CODE table — the serve
    // reads codes for the ADC shortlist and fetches floats only for
    // the shortlist, so a half-swapped window would surface as a
    // wrong shortlist (wrong top-k), not a missing column. Contract
    // unchanged: every serve completes and equals the pinned masked
    // result.
    import graft.operators.Similarity
    val s = spark.newSession()
    import s.implicits._
    val labeled = Similarity.vectors(Tables.embeddings(s, sfDir))
    val probes = labeled.filter($"vec_id" < 6)
    val dir = tempDir("graft_imipq_compact_race")
    Similarity.writeImiPqIndex(labeled,
      Similarity.imiSubCentroids(labeled), dir)
    val ids = labeled.filter($"vec_id" % 7 === 0).select($"vec_id")
    Similarity.deleteFromIvfIndex(s, ids, dir)
    val want = Similarity.searchImiPqIndex(s, dir, labeled, probes, 3)
      .select($"probe_id", $"neighbor_id", $"rnk")
      .as[(Long, Long, Int)].collect().toSet
    @volatile var compacting = true
    val compactor = new Thread(() => {
      try {
        for (_ <- 1 to 3) {
          Similarity.deleteFromIvfIndex(s, ids, dir)
          Similarity.compactImiPqIndex(s, dir)
        }
      } finally compacting = false
    })
    def serveOnce(): Either[String, Boolean] =
      try Right(Similarity.searchImiPqIndex(s, dir, labeled, probes, 3)
        .select($"probe_id", $"neighbor_id", $"rnk")
        .as[(Long, Long, Int)].collect().toSet == want)
      catch { case e: Exception => Left(e.getClass.getSimpleName) }
    val outcomes =
      scala.collection.mutable.ArrayBuffer[Either[String, Boolean]]()
    compactor.start()
    try {
      while (compacting) outcomes += serveOnce()
    } finally compactor.join()
    assert(serveOnce() === Right(true),
      "post-compaction Multi-D-ADC serve diverged from the pinned result")
    assert(outcomes.count(_.isLeft) === 0,
      s"a serve failed while the writer ran (outcomes: " +
        s"${outcomes.filter(_.isLeft).take(20)})")
    val wrong = outcomes.count(_ == Right(false))
    assert(wrong === 0,
      s"$wrong interleaved serve(s) returned a HALF-SWAPPED result " +
        s"over the pair-partitioned code table (outcomes: " +
        s"${outcomes.take(20)})")
    assert(outcomes.nonEmpty,
      "no serve ran while the code-table compaction loop was live")
  }

  test("serve interleaved with SPELL-index delete rewrites: the " +
      "two-table staged swaps never yield a half-swapped result") {
    // The text-family swap shape: deleteFromSpellIndex rewrites BOTH
    // the keys and stats tables in one entry per delete, and the
    // serve's inner join of keys⋈stats makes any cross-table tear
    // VISIBLE if one were possible: a serve reading old keys with new
    // stats (or vice versa) for the deleted words would change the
    // candidate set. Contract as everywhere: every serve completes and
    // equals the pinned post-delete result. Repeating the same delete
    // keeps the expected result constant while committing real
    // generations.
    import graft.operators.TextAnalysis
    val s = spark.newSession()
    import s.implicits._
    val docs = Tables.documents(s, sfDir)
    val dir = tempDir("graft_spell_race")
    TextAnalysis.writeSpellIndex(docs, dir)
    val victims = Seq("the", "of").toDF("word")
    TextAnalysis.deleteFromSpellIndex(s, victims, dir)
    val want = TextAnalysis.searchSpellIndex(s, docs, dir)
      .collect().map(_.toString).toSet
    @volatile var rewriting = true
    val rewriter = new Thread(() => {
      try for (_ <- 1 to 3)
        TextAnalysis.deleteFromSpellIndex(s, victims, dir)
      finally rewriting = false
    })
    def serveOnce(): Either[String, Boolean] =
      try Right(TextAnalysis.searchSpellIndex(s, docs, dir)
        .collect().map(_.toString).toSet == want)
      catch { case e: Exception => Left(e.getClass.getSimpleName) }
    val outcomes =
      scala.collection.mutable.ArrayBuffer[Either[String, Boolean]]()
    rewriter.start()
    try {
      while (rewriting) outcomes += serveOnce()
    } finally rewriter.join()
    assert(serveOnce() === Right(true),
      "post-rewrite spell serve diverged from the pinned result")
    assert(outcomes.count(_.isLeft) === 0,
      s"a serve failed while the writer ran (outcomes: " +
        s"${outcomes.filter(_.isLeft).take(20)})")
    val wrong = outcomes.count(_ == Right(false))
    assert(wrong === 0,
      s"$wrong interleaved spell serve(s) returned a HALF-SWAPPED " +
        s"result (outcomes: ${outcomes.take(20)})")
    assert(outcomes.nonEmpty,
      "no serve ran while the spell rewrite loop was live")
  }

  test("serve interleaved with INVERTED-index delete+compaction: the " +
      "postings/stats staged swaps never yield a half-swapped result") {
    // The BM25 layout's swap shape: compactInvertedIndex swaps
    // postings THEN stats (tombstone-drain last), and the serve
    // derives df from the masked postings while the corpus stats come
    // from the stats table + tombstone adjustment — the delete-parity
    // pin (masked ≡ rebuilt-without) makes every consistent snapshot
    // serve the SAME scores, so any completed serve that diverges
    // means a reader saw a half-swapped pair.
    import graft.operators.TextAnalysis
    val s = spark.newSession()
    import s.implicits._
    val docs = Tables.documents(s, sfDir)
    val dir = tempDir("graft_inv_race")
    TextAnalysis.writeInvertedIndex(docs, dir)
    val ids = docs.filter($"doc_id" % 7 === 0).select($"doc_id")
    TextAnalysis.deleteFromInvertedIndex(s, ids, dir)
    val terms = Seq("the", "slow", "hash")
    val want = TextAnalysis.searchInvertedIndex(s, dir, terms)
      .collect().map(_.toString).toSet
    @volatile var rewriting = true
    val rewriter = new Thread(() => {
      try for (_ <- 1 to 3) {
        TextAnalysis.deleteFromInvertedIndex(s, ids, dir)
        TextAnalysis.compactInvertedIndex(s, dir)
      } finally rewriting = false
    })
    def serveOnce(): Either[String, Boolean] =
      try Right(TextAnalysis.searchInvertedIndex(s, dir, terms)
        .collect().map(_.toString).toSet == want)
      catch { case e: Exception => Left(e.getClass.getSimpleName) }
    val outcomes =
      scala.collection.mutable.ArrayBuffer[Either[String, Boolean]]()
    rewriter.start()
    try {
      while (rewriting) outcomes += serveOnce()
    } finally rewriter.join()
    assert(serveOnce() === Right(true),
      "post-compaction BM25 serve diverged from the pinned result")
    assert(outcomes.count(_.isLeft) === 0,
      s"a serve failed while the writer ran (outcomes: " +
        s"${outcomes.filter(_.isLeft).take(20)})")
    val wrong = outcomes.count(_ == Right(false))
    assert(wrong === 0,
      s"$wrong interleaved BM25 serve(s) returned a HALF-SWAPPED " +
        s"result (outcomes: ${outcomes.take(20)})")
    assert(outcomes.nonEmpty,
      "no serve ran while the inverted rewrite loop was live")
  }

  test("streaming serve over the persisted CMS: streamed candidates score as in batch") {
    // The serve side of the sketch triad: the d*w cell table persists
    // to parquet, candidate keys arrive as a stream, and each
    // micro-batch scores via foreachBatch against the STORED sketch —
    // the same pattern as ANN serving over the persisted IVF index.
    // Estimates must be bit-identical to the batch cmsScore.
    val ev = Tables.events(spark, sfDir)
    val dir = tempDir("graft_cms_serve")
    operators.Sketches.cmsBuild(ev, col("user_id"), 3, 64)
      .write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val cand = ev.select($"user_id".cast("string").as("k"))
      .groupBy($"k").agg(count(lit(1)).as("true_c"))
    val want = operators.Sketches.cmsScore(stored, cand, 3, 64)
      .as[(String, Long, Long)].collect().toSet

    val in = MemoryStream[(String, Long)](spark)
    val got = scala.collection.mutable.Set.empty[(String, Long, Long)]
    val q = in.toDF().toDF("k", "true_c").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= operators.Sketches.cmsScore(stored, batch, 3, 64)
          .as[(String, Long, Long)].collect()
        ()
      }.start()
    try {
      val rows = cand.as[(String, Long)].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toSeq: _*); q.processAllAvailable()
      in.addData(b2.toSeq: _*); q.processAllAvailable()
      assert(want.nonEmpty && got.toSet === want,
        s"served estimates (${got.size}) must equal batch (${want.size})")
    } finally q.stop()
  }

  test("streaming quantile-sketch maintenance: versioned sample merge converges to the batch sample") {
    // The quantile sample is mergeable (bottom-k re-rank), so its
    // streaming maintenance is read-merge-write: each micro-batch
    // samples itself, merges with the stored synopsis, and writes the
    // next VERSION (atomic-swap layout — never overwrite a table being
    // read). After any prefix of batches the store holds exactly the
    // sample of the data seen so far; after all batches the estimates
    // equal the batch-built sketch bit-for-bit.
    import operators.Sketches
    val ev = Tables.events(spark, sfDir)
      .select($"event_type".as("grp"),
        Sketches.h48($"event_id").as("h"),
        $"user_id".as("v"))
    val want = Sketches.quantileEstimate(
      Sketches.quantileSample(ev, 32), Seq(25, 50, 75, 95))
      .as[(String, Int, Long, Long)].collect().toSet

    val base = tempDir("graft_qsk_serve")
    @volatile var version = -1
    val in = MemoryStream[(String, Long, Long)](spark)
    val q = in.toDF().toDF("grp", "h", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val incoming = Sketches.quantileSample(batch, 32)
        val merged =
          if (version < 0) incoming
          else Sketches.quantileSample(
            spark.read.parquet(s"$base/v$version").unionByName(incoming),
            32)
        merged.write.mode("overwrite").parquet(s"$base/v${version + 1}")
        version += 1
        ()
      }.start()
    try {
      val rows = ev.as[(String, Long, Long)].collect()
      val (b1, b2) = rows.splitAt(rows.length / 3)
      in.addData(b1.toSeq: _*); q.processAllAvailable()
      in.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = Sketches.quantileEstimate(
        spark.read.parquet(s"$base/v$version"), Seq(25, 50, 75, 95))
        .as[(String, Int, Long, Long)].collect().toSet
      assert(want.nonEmpty && got === want,
        s"maintained sample estimates (${got.size}) must equal batch " +
          s"(${want.size})")
    } finally q.stop()
  }

  test("streaming dedup serve over the persisted LSH index: streamed shards match as in batch") {
    // The incremental-dedup serve: the base corpus's band-bucket index
    // persists once (writeLshIndex), incoming doc shards arrive as
    // micro-batches, and each batch's cross-side candidates come from
    // one join against the STORED index — no base text, no re-hash of
    // history. Union of per-batch pairs must equal the batch serve
    // (batches are independent against a frozen base, so the split
    // cannot create or lose pairs).
    val corpus = operators.Dedup.augmentCorpus(
      Tables.documents(spark, sfDir))
    val sigs = operators.Dedup.minhashSignaturesV2(corpus)
    val dir = tempDir("graft_lsh_serve")
    operators.Dedup.writeLshIndex(sigs.filter($"doc_id" < 100000), dir,
      sep = "|")
    val want = operators.Dedup.lshIncrementalFromIndex(spark, dir,
        sigs.filter($"doc_id" >= 100000), sep = "|")
      .as[(Long, Long)].collect().toSet

    val in = MemoryStream[(Long, String)](spark)
    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= operators.Dedup.lshIncrementalFromIndex(spark, dir,
            operators.Dedup.minhashSignaturesV2(batch), sep = "|")
          .as[(Long, Long)].collect()
        ()
      }.start()
    try {
      val rows = corpus.filter($"doc_id" >= 100000)
        .select($"doc_id", $"text").as[(Long, String)].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toSeq: _*); q.processAllAvailable()
      in.addData(b2.toSeq: _*); q.processAllAvailable()
      assert(want.nonEmpty && got.toSet === want,
        s"served candidates (${got.size}) must equal batch (${want.size})")
    } finally q.stop()
  }

  test("streaming ANN ingest: micro-batch appendIvfIndex equals the " +
      "monolithic build, with a mid-stream serve over the partial index") {
    // The ANN ingestion path under micro-batch delivery: the quantizer
    // trains once (centroids fixed — FAISS add), the index builds on
    // an initial corpus slice, and each arriving embedding batch
    // appends via foreachBatch. Appends are per-vector against the
    // stored centroids, so batch boundaries cannot move any
    // assignment: the final serve must be bit-identical to the
    // monolithic build, and a MID-stream serve must equal an index
    // built over exactly the rows delivered so far.
    import graft.operators.Similarity
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 10)
    val cents = Similarity.kmeansTrain(vecs, 8, 2)
    val dir = tempDir("graft_ivf_stream")
    val dirMono = tempDir("graft_ivf_stream_mono")
    Similarity.writeIvfIndex(vecs, cents, dirMono)
    val want = Similarity.searchIvfIndex(spark, dirMono, probes, 3,
      nprobe = 2).collect().toSet

    Similarity.writeIvfIndex(vecs.filter($"vec_id" % 3 === 0), cents, dir)
    val in = MemoryStream[(Long, Seq[Double])](spark)
    val q = in.toDF().toDF("vec_id", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) Similarity.appendIvfIndex(spark, batch, dir)
        ()
      }.start()
    try {
      val rows = vecs.filter($"vec_id" % 3 =!= 0)
        .as[(Long, Seq[Double])].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toSeq: _*); q.processAllAvailable()
      // Mid-stream: the partial index must serve exactly like a build
      // over the delivered subset — no torn batch, no stale cell.
      val midWant = {
        val d = tempDir("graft_ivf_stream_mid")
        val delivered = vecs.filter($"vec_id" % 3 === 0)
          .unionByName(b1.toSeq.toDF("vec_id", "v"))
        Similarity.writeIvfIndex(delivered, cents, d)
        Similarity.searchIvfIndex(spark, d, probes, 3, nprobe = 2)
          .collect().toSet
      }
      val mid = Similarity.searchIvfIndex(spark, dir, probes, 3,
        nprobe = 2).collect().toSet
      assert(midWant.nonEmpty && mid === midWant,
        "mid-stream serve must equal a build over the delivered rows")
      in.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = Similarity.searchIvfIndex(spark, dir, probes, 3,
        nprobe = 2).collect().toSet
      assert(want.nonEmpty && got === want,
        "streamed appends must converge to the monolithic build's serve")
    } finally q.stop()
  }

  test("streaming IMI ingest: micro-batch appendImiIndex converges to " +
      "the monolithic build") {
    // The multi-index under micro-batch delivery: codebooks train once
    // (fixed — FAISS add), each arriving batch assigns to its rank-1
    // pair against the STORED codebooks via foreachBatch, so batch
    // boundaries cannot move any assignment and the final serve must
    // be bit-identical to the monolithic build.
    import graft.operators.Similarity
    val labeled = Similarity.vectors(Tables.embeddings(spark, sfDir))
    val vecs = labeled.select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 10)
    val cents = Similarity.imiSubCentroids(labeled)
    val dir = tempDir("graft_imi_stream")
    val dirMono = tempDir("graft_imi_stream_mono")
    Similarity.writeImiIndex(vecs, cents, dirMono)
    val want = Similarity.searchImiIndex(spark, dirMono, probes, 3,
      nprobe = 2).collect().toSet
    Similarity.writeImiIndex(vecs.filter($"vec_id" % 3 === 0), cents, dir)
    val in = MemoryStream[(Long, Seq[Double])](spark)
    val q = in.toDF().toDF("vec_id", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) Similarity.appendImiIndex(spark, batch, dir)
        ()
      }.start()
    try {
      val rows = vecs.filter($"vec_id" % 3 =!= 0)
        .as[(Long, Seq[Double])].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toSeq: _*); q.processAllAvailable()
      in.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = Similarity.searchImiIndex(spark, dir, probes, 3,
        nprobe = 2).collect().toSet
      assert(want.nonEmpty && got === want,
        "streamed IMI appends must converge to the monolithic build")
    } finally q.stop()
  }

  test("streaming Multi-D-ADC ingest: micro-batch appendImiPqIndex " +
      "converges to the monolithic build") {
    // The code-only pair layout under micro-batch delivery: BOTH
    // quantizer levels (half codebooks + residual codebook) are fixed
    // at write time, each arriving batch assigns AND encodes against
    // the stored state via foreachBatch, so batch boundaries cannot
    // move any code and the final serve must be bit-identical to the
    // monolithic build (the trainer-separation `quantizer` parameter
    // is exactly what makes this true — it trains the residual
    // codebook on the full corpus before any batch lands).
    import graft.operators.Similarity
    val labeled = Similarity.vectors(Tables.embeddings(spark, sfDir))
    val vecs = labeled.select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 10)
    val cents = Similarity.imiSubCentroids(labeled)
    val dir = tempDir("graft_imipq_stream")
    val dirMono = tempDir("graft_imipq_stream_mono")
    Similarity.writeImiPqIndex(vecs, cents, dirMono)
    val want = Similarity.searchImiPqIndex(spark, dirMono, vecs, probes,
      3).collect().toSet
    Similarity.writeImiPqIndex(vecs.filter($"vec_id" % 3 === 0), cents,
      dir, quantizer = Some(vecs))
    val in = MemoryStream[(Long, Seq[Double])](spark)
    val q = in.toDF().toDF("vec_id", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) Similarity.appendImiPqIndex(spark, batch, dir)
        ()
      }.start()
    try {
      val rows = vecs.filter($"vec_id" % 3 =!= 0)
        .as[(Long, Seq[Double])].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toSeq: _*); q.processAllAvailable()
      in.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = Similarity.searchImiPqIndex(spark, dir, vecs, probes, 3)
        .collect().toSet
      assert(want.nonEmpty && got === want,
        "streamed Multi-D-ADC appends must converge to the monolithic build")
    } finally q.stop()
  }

  test("streaming METADATA-carrying ingest: labeled micro-batches pass " +
      "the append schema contract and the filtered serve converges") {
    // Round-18 layouts persist the input's metadata beside the codes
    // for the filtered serves, and appends gate through the column-set
    // + type contract — this pins that a streamed labeled batch (a)
    // passes that gate and (b) leaves the FILTERED serve bit-identical
    // to the monolithic labeled build (flat BQ, the cheapest
    // metadata-carrying layout).
    import graft.operators.Similarity
    val labeled = Similarity.vectors(Tables.embeddings(spark, sfDir))
    val probes = labeled.filter($"vec_id" < 10)
    val dir = tempDir("graft_bq_meta_stream")
    val dirMono = tempDir("graft_bq_meta_stream_mono")
    Similarity.writeBqIndex(labeled, dirMono)
    val want = Similarity.bqRerankFromIndexWhere(spark, dirMono,
      labeled, probes, $"label" % 2 === 0).collect().toSet
    Similarity.writeBqIndex(labeled.filter($"vec_id" % 3 === 0), dir)
    val in = MemoryStream[(Long, Int, Seq[Double])](spark)
    val q = in.toDF().toDF("vec_id", "label", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) Similarity.appendBqIndex(spark, batch, dir)
        ()
      }.start()
    try {
      val rows = labeled.filter($"vec_id" % 3 =!= 0)
        .as[(Long, Int, Seq[Double])].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toSeq: _*); q.processAllAvailable()
      in.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = Similarity.bqRerankFromIndexWhere(spark, dir, labeled,
        probes, $"label" % 2 === 0).collect().toSet
      assert(want.nonEmpty && got === want,
        "streamed labeled appends must leave the filtered serve " +
          "identical to the monolithic labeled build")
      // A batch that DROPS the metadata column is rejected loudly,
      // and the rejection leaves the streamed index serving.
      val e = intercept[IllegalArgumentException] {
        Similarity.appendBqIndex(spark,
          labeled.select($"vec_id", $"v").limit(5), dir)
      }
      assert(e.getMessage.contains("does not match the stored index schema"))
      assert(Similarity.bqRerankFromIndexWhere(spark, dir, labeled,
        probes, $"label" % 2 === 0).collect().toSet === want)
    } finally q.stop()
  }

  test("streaming IVF-BQ ingest: micro-batch appends converge to the " +
      "monolithic build, and a delete racing ahead of its vector's " +
      "arrival reconciles instead of masking it forever") {
    // The cell-blocked BQ layout under micro-batch delivery — same
    // FAISS-add convergence contract as the flat-IVF streaming case,
    // plus the out-of-order corner a real ingestion hits: a deletion
    // request arrives BEFORE the vector it names (the tombstone lands
    // first, the row second). The append leg's tombstone
    // reconciliation must clear the early tombstone when the id
    // finally arrives, so the final serve equals the monolithic build
    // — an unreconciled tombstone would mask the late row forever.
    import graft.operators.Similarity
    val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
      .select($"vec_id", $"v")
    val probes = vecs.filter($"vec_id" < 10)
    val cents = Similarity.kmeansTrain(vecs, 8, 2)
    val dir = tempDir("graft_ivfbq_stream")
    val dirMono = tempDir("graft_ivfbq_stream_mono")
    Similarity.writeIvfBqIndex(vecs, cents, dirMono)
    val want = Similarity.searchIvfBqIndex(spark, dirMono, vecs, probes)
      .collect().toSet

    Similarity.writeIvfBqIndex(vecs.filter($"vec_id" % 3 === 0), cents,
      dir)
    val in = MemoryStream[(Long, Seq[Double])](spark)
    val q = in.toDF().toDF("vec_id", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) Similarity.appendIvfBqIndex(spark, batch, dir)
        ()
      }.start()
    try {
      val rows = vecs.filter($"vec_id" % 3 =!= 0)
        .as[(Long, Seq[Double])].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toSeq: _*); q.processAllAvailable()
      // Mid-stream: serve equals a build over exactly the delivered rows.
      val midWant = {
        val d = tempDir("graft_ivfbq_stream_mid")
        val delivered = vecs.filter($"vec_id" % 3 === 0)
          .unionByName(b1.toSeq.toDF("vec_id", "v"))
        Similarity.writeIvfBqIndex(delivered, cents, d)
        Similarity.searchIvfBqIndex(spark, d, vecs, probes)
          .collect().toSet
      }
      val mid = Similarity.searchIvfBqIndex(spark, dir, vecs, probes)
        .collect().toSet
      assert(midWant.nonEmpty && mid === midWant,
        "mid-stream IVF-BQ serve must equal a build over delivered rows")
      // The race: tombstone ids that live in the NOT-yet-delivered
      // half, then deliver that half. The append must reconcile.
      Similarity.deleteFromIvfBqIndex(spark,
        b2.toSeq.toDF("vec_id", "v").select($"vec_id"), dir)
      in.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = Similarity.searchIvfBqIndex(spark, dir, vecs, probes)
        .collect().toSet
      assert(want.nonEmpty && got === want,
        "a delete racing its vector's arrival must reconcile on append " +
          "— the streamed index diverged from the monolithic build")
    } finally q.stop()
  }

  test("streaming deletes over the persisted inverted index: tombstones " +
      "landed between micro-batches serve like a batch rebuild") {
    // The delete half of the lifecycle, streaming-shaped — the last
    // batch-only cell of the lifecycle matrix: retraction requests
    // arrive as micro-batches, foreachBatch lands each batch's
    // tombstones with deleteFromInvertedIndex (merge-on-write keeps
    // the table canonical across batches), and a serve BETWEEN the
    // batches reflects exactly the deletions so far — bit-identical to
    // an index REBUILT without those docs (df from masked postings,
    // integer stats adjustments exact — the batch spec's argument,
    // here proven under micro-batch delivery with a mid-stream read).
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val terms = Seq("hash", "join", "spark")
    val dir = tempDir("graft_inv_stream")
    operators.TextAnalysis.writeInvertedIndex(docs, dir)
    def rebuiltServe(keep: org.apache.spark.sql.Column) = {
      val d = tempDir("graft_inv_rebuild")
      operators.TextAnalysis.writeInvertedIndex(docs.filter(keep), d)
      operators.TextAnalysis.searchInvertedIndex(spark, d, terms)
        .collect().toSet
    }
    val want1 = rebuiltServe($"doc_id" % 5 =!= 0)
    val want2 = rebuiltServe($"doc_id" % 5 =!= 0 && $"doc_id" % 7 =!= 0)

    val in = MemoryStream[Long](spark)
    val q = in.toDF().toDF("doc_id").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        operators.TextAnalysis.deleteFromInvertedIndex(spark, batch, dir)
        ()
      }.start()
    try {
      val ids1 = docs.filter($"doc_id" % 5 === 0)
        .select($"doc_id").as[Long].collect()
      val ids2 = docs.filter($"doc_id" % 5 =!= 0 && $"doc_id" % 7 === 0)
        .select($"doc_id").as[Long].collect()
      in.addData(ids1.toSeq: _*); q.processAllAvailable()
      val got1 = operators.TextAnalysis
        .searchInvertedIndex(spark, dir, terms).collect().toSet
      assert(want1.nonEmpty && got1 === want1,
        "mid-stream serve must equal the rebuild without batch-1 docs")
      in.addData(ids2.toSeq: _*); q.processAllAvailable()
      val got2 = operators.TextAnalysis
        .searchInvertedIndex(spark, dir, terms).collect().toSet
      assert(want2.nonEmpty && got2 === want2,
        "post-stream serve must equal the rebuild without all deleted docs")
    } finally q.stop()
  }

  test("streaming tokenizer serve over the persisted BPE vocab: streamed docs tokenize as in batch") {
    // The tokenizer is the op a training-data pipeline runs
    // continuously: train once (bpeWriteVocab — the merge rounds run
    // over the word vocabulary), then every micro-batch tokenizes via
    // one join against the STORED word→tokens table. Same pattern as
    // the CMS / ANN serves above; the result must be bit-identical to
    // the batch bpeApply over the same corpus (strings and string
    // arrays round-trip parquet exactly).
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val dir = tempDir("graft_bpe_vocab")
    operators.TextAnalysis.bpeWriteVocab(docs, dir, merges = 3)
    val want = operators.TextAnalysis.bpeApply(docs, merges = 3)
      .as[(Long, Int, String)].collect().toSet

    val in = MemoryStream[(Long, String)](spark)
    val got = scala.collection.mutable.Set.empty[(Long, Int, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= operators.TextAnalysis.bpeApplyFromVocab(spark, dir, batch)
          .as[(Long, Int, String)].collect()
        ()
      }.start()
    try {
      val rows = docs.as[(Long, String)].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toSeq: _*); q.processAllAvailable()
      in.addData(b2.toSeq: _*); q.processAllAvailable()
      assert(want.nonEmpty && got.toSet === want,
        s"served tokenization (${got.size}) must equal batch (${want.size})")
    } finally q.stop()
  }

  test("sketch maintenance is streaming-native: CMS cells and HLL registers converge to the batch sketch") {
    // Count-min and HLL are mergeable, which makes their build
    // aggregations streaming-compatible AS-IS: the CMS cell count and
    // the HLL register max, run in complete mode over micro-batches,
    // must land on exactly the sketch a batch pass builds — no custom
    // state, no merge code, the aggregation IS the maintenance. Keys
    // are split across two micro-batches with overlap so both the
    // accumulate-within-batch and combine-across-batch paths run.
    val keys = Tables.events(spark, sfDir)
      .select($"user_id").as[Long].collect().toSeq
    val (b1, b2) = keys.splitAt(keys.length / 3)

    val in = MemoryStream[Long](spark)
    val streamed = in.toDF().toDF("user_id")
    val cmsQ = operators.Sketches
      .cmsBuild(streamed, col("user_id"), depth = 3, width = 64)
      .writeStream.format("memory").queryName("cms_cells")
      .outputMode("complete").start()
    val hllQ = operators.Sketches
      .hllRegisters(streamed.withColumn("g", lit("all")),
        col("user_id"), col("g"))
      .writeStream.format("memory").queryName("hll_regs")
      .outputMode("complete").start()
    try {
      in.addData(b1: _*)
      cmsQ.processAllAvailable(); hllQ.processAllAvailable()
      in.addData(b2: _*)
      cmsQ.processAllAvailable(); hllQ.processAllAvailable()

      val batch = keys.toDF("user_id")
      val wantCms = operators.Sketches
        .cmsBuild(batch, col("user_id"), depth = 3, width = 64)
        .as[(Int, Long, Long)].collect().toSet
      val gotCms = spark.table("cms_cells")
        .as[(Int, Long, Long)].collect().toSet
      assert(wantCms.nonEmpty && gotCms === wantCms,
        "streamed CMS cells must equal the batch build exactly")

      val wantRegs = operators.Sketches
        .hllRegisters(batch.withColumn("g", lit("all")),
          col("user_id"), col("g"))
        .as[(String, Long, Int)].collect().toSet
      val gotRegs = spark.table("hll_regs")
        .as[(String, Long, Int)].collect().toSet
      assert(wantRegs.nonEmpty && gotRegs === wantRegs,
        "streamed HLL registers must equal the batch registers exactly")

      // And the estimate computed FROM the streamed registers equals
      // the one-shot hllDistinct — the serve-from-state contract.
      val gotEst = operators.Sketches
        .hllEstimate(spark.table("hll_regs"))
        .as[(String, Long, Double)].collect().toSet
      val wantEst = operators.Sketches
        .hllDistinct(batch.withColumn("g", lit("all")),
          col("user_id"), col("g"))
        .as[(String, Long, Double)].collect().toSet
      assert(gotEst === wantEst,
        "estimate from streamed registers must equal the batch estimate")
    } finally { cmsQ.stop(); hllQ.stop() }
  }

  test("streaming KMV maintenance: versioned synopsis merge converges to the batch estimate") {
    // The KMV synopsis merges by re-rank (every globally-k-smallest
    // hash is k-smallest within its shard), so its streaming
    // maintenance is the same read-merge-write versioned layout as the
    // quantile sample: each micro-batch's partial synopsis merges with
    // the stored one, and after all batches the distinct-count
    // estimates equal the batch build bit-for-bit — the last sketch
    // family member's streaming leg, next to the CMS cell sum, the
    // HLL register max, and the quantile re-rank.
    import operators.Sketches
    val ev = Tables.events(spark, sfDir)
      .select($"event_type".as("grp"), Sketches.h48($"user_id").as("h"))
    val want = Sketches.kmvEstimate(Sketches.kmvSynopsis(ev, 16), 16)
      .as[(String, Long, Long)].collect().toSet

    val base = tempDir("graft_kmv_serve")
    @volatile var version = -1
    val in = MemoryStream[(String, Long)](spark)
    val q = in.toDF().toDF("grp", "h").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val incoming = Sketches.kmvSynopsis(batch, 16)
        val merged =
          if (version < 0) incoming
          else Sketches.kmvSynopsis(
            spark.read.parquet(s"$base/v$version").unionByName(incoming),
            16)
        merged.write.mode("overwrite").parquet(s"$base/v${version + 1}")
        version += 1
        ()
      }.start()
    try {
      val rows = ev.as[(String, Long)].collect()
      val (b1, b2) = rows.splitAt(rows.length / 3)
      in.addData(b1.toSeq: _*); q.processAllAvailable()
      in.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = Sketches.kmvEstimate(
        spark.read.parquet(s"$base/v$version"), 16)
        .as[(String, Long, Long)].collect().toSet
      assert(want.nonEmpty && got === want,
        s"maintained synopsis estimates (${got.size}) must equal batch " +
          s"(${want.size})")
    } finally q.stop()
  }

  test("streaming chunk-store ingestion: micro-batch appends converge to the batch layout") {
    // The content-addressed store's incremental append is the natural
    // streaming ingest: doc micro-batches appendChunkStore against the
    // frozen base layout, each batch's anti-join deduping against
    // everything stored so far (including earlier batches). The final
    // layout must reassemble every document byte-identically to a
    // batch build+append, and hold the same distinct-chunk count —
    // cross-batch dedup must not double-store a shared chunk.
    val base = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
    val extras = operators.Dedup.augmentCorpus(
      Tables.documents(spark, sfDir)).filter($"doc_id" >= 100000)
    val sDir = tempDir("graft_store_stream")
    val bDir = tempDir("graft_store_batch")
    operators.Multimodal.writeChunkStore(base, sDir)
    operators.Multimodal.writeChunkStore(base, bDir)
    operators.Multimodal.appendChunkStore(spark, extras, bDir)
    val want = operators.Multimodal.reconstructFromStore(spark, bDir)
      .as[(Long, Long, Long, String)].collect().toSet

    val in = MemoryStream[(Long, String)](spark)
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        operators.Multimodal.appendChunkStore(spark, batch, sDir)
        ()
      }.start()
    try {
      val rows = extras.select($"doc_id", $"text")
        .as[(Long, String)].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toSeq: _*); q.processAllAvailable()
      in.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = operators.Multimodal.reconstructFromStore(spark, sDir)
        .as[(Long, Long, Long, String)].collect().toSet
      assert(want.nonEmpty && got === want,
        "streamed store must reassemble identically to the batch layout")
      val gotStored = liveTable(sDir, "store").count()
      val wantStored = liveTable(bDir, "store").count()
      assert(gotStored === wantStored,
        s"cross-batch dedup drifted: streamed store $gotStored chunks " +
          s"vs batch $wantStored")
    } finally q.stop()
  }

  test("streaming spell-index ingest: micro-batch appendSpellIndex " +
      "equals the monolithic build, with a mid-stream serve over the " +
      "delivered rows") {
    // The keys/stats split under micro-batch delivery: key rows dedup
    // at serve and freq rows SUM at serve, so batch boundaries cannot
    // change any candidate or any frequency total — the final serve is
    // bit-identical to the monolithic build, and a mid-stream serve
    // equals an index built over exactly the delivered documents.
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text")
    val dirMono = tempDir("graft_spell_stream_mono")
    TextAnalysis.writeSpellIndex(docs, dirMono)
    def serve(dir: String) =
      TextAnalysis.searchSpellIndex(spark, docs, dir).collect().toSet
    val want = serve(dirMono)

    val dir = tempDir("graft_spell_stream")
    TextAnalysis.writeSpellIndex(docs.filter($"doc_id" % 3 === 0), dir)
    val in = MemoryStream[(Long, String)](spark)
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) TextAnalysis.appendSpellIndex(spark, batch, dir)
        ()
      }.start()
    try {
      val rows = docs.filter($"doc_id" % 3 =!= 0)
        .as[(Long, String)].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toSeq: _*); q.processAllAvailable()
      val midWant = {
        val d = tempDir("graft_spell_stream_mid")
        TextAnalysis.writeSpellIndex(
          docs.filter($"doc_id" % 3 === 0)
            .unionByName(b1.toSeq.toDF("doc_id", "text")), d)
        serve(d)
      }
      assert(midWant.nonEmpty && serve(dir) === midWant,
        "mid-stream serve must equal a build over the delivered docs " +
          "(partial frequencies must sum, not overwrite)")
      in.addData(b2.toSeq: _*); q.processAllAvailable()
      assert(want.nonEmpty && serve(dir) === want,
        "streamed appends must converge to the monolithic build's serve")
    } finally q.stop()
  }

  test("streaming bloom-index ingest: micro-batch appendBloomIndex " +
      "converges to the monolithic filter's serve") {
    // History arrives in micro-batches; each batch's per-shard filters
    // land beside the old rows and the serve OR-merges per shard —
    // bit-identical to one filter built over the union, so the final
    // probe must match both the monolithic persisted layout and the
    // in-memory sharded operator.
    import graft.operators.Dedup
    val base = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    val incoming = Dedup.augmentCorpus(Tables.documents(spark, sfDir))
      .filter($"doc_id" >= 100000)
    val dir = tempDir("graft_bloom_stream")
    Dedup.writeBloomIndex(base.filter($"doc_id" % 3 === 0), dir, shards = 8)
    val in = MemoryStream[(Long, String)](spark)
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) Dedup.appendBloomIndex(spark, batch, dir)
        ()
      }.start()
    try {
      val rows = base.filter($"doc_id" % 3 =!= 0)
        .as[(Long, String)].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toSeq: _*); q.processAllAvailable()
      in.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = Dedup.bloomPrefilterFromIndex(spark, incoming, base, dir)
        .as[(Long, String)].collect().toSet
      val want = Dedup.bloomPrefilterShardedNew(base, incoming, shards = 8)
        .as[(Long, String)].collect().toSet
      assert(want.nonEmpty && got === want,
        "streamed bloom appends must serve like the monolithic filter")
    } finally q.stop()
  }

  test("streaming substring-fp ingest: micro-batch appended " +
      "fingerprint index serves spans like the monolithic matcher") {
    // The continuous-curation shape for exact-substring dedup: history
    // documents arrive as micro-batches, each batch fingerprints ONCE
    // into the persisted layout (first batch writes, later batches
    // append against the sidecar-pinned fingerprint space), and a
    // later incoming shard measures its spans against ALL of history
    // from the files. Winnowing is per-document, so the streamed index
    // must serve bit-identically to the in-memory cross-corpus
    // matcher over the full history.
    import graft.operators.Dedup
    val history = Tables.documents(spark, sfDir)
      .filter($"doc_id" % 5 === 0).select($"doc_id", $"text")
    val incoming = Tables.documents(spark, sfDir)
      .filter($"doc_id" % 7 === 0).select($"doc_id", $"text")
    withTempDir("graft_subfp_stream") { dir =>
      val in = MemoryStream[(Long, String)](spark)
      val q = in.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            if (new java.io.File(s"$dir/fps").exists())
              Dedup.appendSubstringFpIndex(spark, batch, dir)
            else Dedup.writeSubstringFpIndex(batch, dir)
          }
          ()
        }.start()
      try {
        val rows = history.as[(Long, String)].collect()
        val (b1, b2) = rows.partition(_._1 % 2 == 0)
        in.addData(b1.toSeq: _*); q.processAllAvailable()
        in.addData(b2.toSeq: _*); q.processAllAvailable()
      } finally q.stop()
      val got = Dedup.substringSpansAgainstIndex(spark, incoming,
        history, dir).collect().map(_.toSeq).toSet
      val want = Dedup.substringSpansAgainst(incoming, history)
        .collect().map(_.toSeq).toSet
      // doc_id % 35 == 0 docs sit on BOTH sides, so whole-doc leaks
      // provably exist and the parity check is non-vacuous
      assert(want.nonEmpty && got === want,
        "streamed fingerprint index must serve like the in-memory matcher")
    }
  }

  test("streaming NB-model ingest: labeled micro-batch appends converge " +
      "to the monolithic train, surviving a mid-stream compaction") {
    // The continuous-curation shape for the NB classifier: labeled
    // shards arrive as micro-batches, each batch's count rows land
    // beside the stored model (raw counts are ADDITIVE, so batch
    // boundaries cannot change any per-key total), and a compaction
    // fired BETWEEN batches — the durable form of the serve's own
    // per-key fold — must be invisible to both the later appends and
    // the final classify.
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"source".as("label"), $"text")
    val incoming = docs.select($"doc_id", $"text")
    val dirMono = tempDir("graft_nb_stream_mono")
    TextAnalysis.nbWriteModel(docs, dirMono)
    def serve(dir: String) =
      TextAnalysis.nbClassifyFromModel(spark, incoming, dir)
        .collect().map(_.toSeq).toSet
    val want = serve(dirMono)

    val dir = tempDir("graft_nb_stream")
    TextAnalysis.nbWriteModel(docs.filter($"doc_id" % 3 === 0), dir)
    val in = MemoryStream[(Long, String, String)](spark)
    val q = in.toDF().toDF("doc_id", "label", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        // the engine-assigned micro-batch id IS the idempotence key:
        // a redelivered batch overwrites its own partition (+1 keeps
        // clear of the base build's batch 0; toIntExact per the
        // nbAppendModel width note)
        if (!batch.isEmpty)
          TextAnalysis.nbAppendModel(spark, batch, dir,
            Math.toIntExact(bid) + 1)
        ()
      }.start()
    try {
      val rows = docs.filter($"doc_id" % 3 =!= 0)
        .as[(Long, String, String)].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toSeq: _*); q.processAllAvailable()
      TextAnalysis.nbCompactModel(spark, dir)
      in.addData(b2.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(want.nonEmpty && serve(dir) === want,
      "streamed labeled appends (with a mid-stream compaction) must " +
        "converge to the monolithic train's classify")
  }
}
