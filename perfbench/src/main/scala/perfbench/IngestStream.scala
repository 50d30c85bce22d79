package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{FlowLog, Ingestor}
import graft.sources.{FlowLogSource, Sinks}
import graft.streaming.FlowLogStream

/** ingest_stream: the paper's topology, open loop. One generator thread
  * lands CloudWatch envelope files (base64(gzip(JSON))) in a directory by
  * atomic rename, on a fixed ascending schedule of [[Layers.Steps]] rate
  * steps that does not slow when the stream does. The stream reads them
  * as JSON, decodes with the Ingestor, decorates, and appends each
  * micro-batch to an upsert log. Each file is timed from its due time to
  * the commit of the micro-batch that read it. After the schedule, the
  * generator lands backlogs of [[BacklogFiles]] files at once, and the
  * events committed per second of their drain measure the stream's own
  * capacity.
  */
final class IngestStream(ctx: Ctx) extends Workload {
  import IngestStream._

  private def spark: SparkSession = ctx.spark
  private val out = ctx.out

  final class Run(val landing: String, val staging: String, val sink: String,
      val checkpoint: String, val envelopes: IndexedSeq[Gen.Envelope],
      val world: Gen.World, val eni: DataFrame, val geo: DataFrame) {
    val commits = new ConcurrentHashMap[Long, java.lang.Long]()
    /** The id of the micro-batch whose sink write last began. */
    @volatile var started: Long = -1L
    val landed = new ConcurrentHashMap[Int, java.lang.Long]()
    var query: StreamingQuery = _
  }

  private def dims(s: SparkSession, w: Gen.World): (DataFrame, DataFrame) = {
    import s.implicits._
    val eni = w.enis.filter(_.inDim).map(e => (e.id, e.groups, e.ip))
      .toDF("interface_id", "security_group_ids", "ip_address")
    val geo = w.geo.values.toSeq.sortBy(_.ip).map(g =>
        (g.ip, g.cc, g.country, g.region, g.region, g.city, g.lat, g.lon))
      .toDF("ip", "country_code", "country_name", "region_code",
        "region_name", "city", "latitude", "longitude")
    (eni, geo)
  }

  /** Start of step `k` (of `Steps + 1` boundaries), in milliseconds from
    * the start of the window. */
  private def stepStartMs(k: Int): Double =
    ctx.args.seconds * 1000.0 * StepShare.take(k).sum

  /** Envelope files due in each step: `rate` files a second for the
    * step's share of the window. Offsets are milliseconds from the start. */
  private def schedule(seconds: Int): IndexedSeq[(Int, Double)] =
    Rates.zipWithIndex.flatMap { case (rate, k) =>
      val n = math.round(rate * (stepStartMs(k + 1) - stepStartMs(k)) / 1000.0).toInt
      (0 until n).map(i => (k, stepStartMs(k) + i * 1000.0 / rate))
    }

  /** The envelope stream into the ingest → decorate → upsert topology. */
  private def lines(raw: DataFrame): DataFrame =
    glue(Ingestor.decodeEnvelopes(raw.select(col("awslogs.data").as("data")), "data"))

  /** decodeEnvelopes keeps the reference's trailing newline and carries
    * no id: the content hash of the delivered line is the id (so a
    * redelivered line resolves to one document), and the newline is
    * stripped before the end-anchored parser sees it. */
  private def glue(decoded: DataFrame): DataFrame =
    decoded.select(xxhash64(col("Data")).as("id"),
      regexp_replace(col("Data"), "\n$", "").as("line"))

  private def run(r: Run, t: Tracer): Unit = {
    val raw = spark.readStream.schema(EnvelopeSchema).json(r.landing)
    r.query = FlowLogStream.decorate(lines(raw), r.eni, r.geo)
      .writeStream
      .option("checkpointLocation", r.checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        r.started = id
        t.span("op", "micro_batch", s"b$id") {
          t.span("sinks", "upsertAppendWriter", s"b$id") {
            Sinks.upsertAppendWriter(r.sink, "id")(batch, id)
          }
        }
        r.commits.put(id, System.currentTimeMillis())
        ()
      }
      .start()
  }

  private def land(r: Run, e: Gen.Envelope): Unit = { stage(r, e); publish(r, e) }

  private def stage(r: Run, e: Gen.Envelope): Unit =
    Files.write(new File(r.staging, s"env-${e.seq}.json").toPath,
      (e.json + "\n").getBytes("UTF-8"))

  private def publish(r: Run, e: Gen.Envelope): Unit = {
    Files.move(new File(r.staging, s"env-${e.seq}.json").toPath,
      new File(r.landing, s"env-${e.seq}.json").toPath, StandardCopyOption.ATOMIC_MOVE)
    r.landed.put(e.seq, System.currentTimeMillis())
  }

  /** Waits until the stream has committed `files` files. The source log
    * is read again only after a new commit, so that waiting takes little
    * of the CPU the stream runs on. */
  private def awaitCommitted(r: Run, files: Int, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var seen = -1
    var done = 0
    while (done < files && System.currentTimeMillis() < deadline) {
      if (r.query.exception.isDefined) throw r.query.exception.get
      if (r.commits.size != seen) { seen = r.commits.size; done = committedFiles(r) }
      else Thread.sleep(5)
    }
    require(done >= files, s"stream committed $done of $files files")
  }

  private def committedFiles(r: Run): Int = {
    val done = r.commits.keySet().asScala.toSet
    sourceLog(r).count { case (_, b) => done(b) }
  }

  /** File name → micro-batch id, from the file source's own log in the
    * checkpoint (one JSON entry per file, compacted every few batches). */
  private def sourceLog(r: Run): Map[String, Long] = {
    val dir = new File(r.checkpoint, "sources/0")
    val files = Option(dir.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
    val Path = "\"path\":\"([^\"]+)\"".r
    val Batch = "\"batchId\":(\\d+)".r
    files.flatMap { f =>
      try scala.io.Source.fromFile(f, "UTF-8").getLines().toList
      catch { case _: java.io.IOException => Nil }
    }.flatMap { l =>
      for (p <- Path.findFirstMatchIn(l); b <- Batch.findFirstMatchIn(l))
        yield new File(p.group(1)).getName -> b.group(1).toLong
    }.toMap
  }

  /** Generates the envelopes and starts the stream (see [[Ctx.setup]];
    * a start counts until the first file is committed), then warms the
    * last stream up: [[Warmup]] files at the first step's rate, then one
    * backlog of [[BacklogFiles]] files at once, so that the per-file path
    * of a large micro-batch is compiled before anything is timed. */
  private def setUp(t: Tracer): Run = {
    val r = ctx.setup(rep => start(rep, t))
    r.envelopes.slice(1, Warmup).foreach { e => land(r, e); Thread.sleep((1000 / Rates(0)).toLong) }
    awaitCommitted(r, Warmup, 60000)
    r.envelopes.slice(Warmup, ScheduleStart).foreach(land(r, _))
    awaitCommitted(r, ScheduleStart, 60000)
    r
  }

  private def start(rep: Int, t: Tracer): Run = {
    val w = Gen.world(ctx.args.seed)
    val sched = schedule(ctx.args.seconds)
    val envs = Gen.envelopes(w, ctx.args.seed, ScheduleStart + sched.size + Backlogs * (1 + BacklogFiles),
      EventsPerEnvelope)
    val (eni, geo) = dims(spark, w)
    val r = new Run(ctx.dir(s"landing$rep"), ctx.dir(s"staging$rep"),
      s"${ctx.work}/sink$rep", s"${ctx.work}/checkpoint$rep", envs, w, eni, geo)
    run(r, t)
    land(r, envs.head)
    awaitCommitted(r, 1, 60000)
    if (rep < ctx.setupReps - 1) r.query.stop()
    r
  }

  /** Lands the scheduled files on time from one generator thread, then
    * waits for the stream to commit them; returns per-file latencies, the
    * generator's lag behind the schedule and the backlog over time. */
  private def drive(r: Run): (Seq[FileLat], Double, Seq[(Double, Double)]) = {
    val sched = schedule(ctx.args.seconds)
    val t0 = System.currentTimeMillis() + 200.0
    var lag = 0.0
    val gen = new Thread(() => {
      sched.zipWithIndex.foreach { case ((_, off), i) =>
        val wait = (t0 + off - System.currentTimeMillis()).toLong
        if (wait > 0) Thread.sleep(wait)
        land(r, r.envelopes(ScheduleStart + i))
        lag = math.max(lag, r.landed.get(ScheduleStart + i) - (t0 + off))
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    awaitCommitted(r, ScheduleStart + sched.size, 60000)
    val log = sourceLog(r)
    val lats = sched.zipWithIndex.map { case ((step, off), i) =>
      val seq = ScheduleStart + i
      val b = log(s"env-$seq.json")
      FileLat(seq, step, r.commits.get(b) - (t0 + off))
    }
    // Backlog: files landed but not yet committed, sampled at each commit.
    val byBatch = log.groupBy(_._2).map { case (b, fs) => b -> fs.size }
    val landedAt = r.landed.asScala.toSeq.map { case (s, at) => (s, at.toDouble) }
    val backlog = r.commits.asScala.toSeq.sortBy(_._1).map { case (b, at) =>
      val landedBy = landedAt.count(_._2 <= at)
      val committedBy = byBatch.filter(_._1 <= b).values.sum
      ((at - t0) / 1000.0, (landedBy - committedBy).toDouble)
    }.filter(_._1 >= 0)
    (lats, lag, backlog)
  }

  /** Lands [[Backlogs]] backlogs after the schedule and returns each one's
    * drain rate: its events over the time from its landing to the commit
    * of the micro-batch holding its last file. Each backlog lands just
    * after a one-file micro-batch has begun its sink write, so the next
    * micro-batch finds the whole backlog waiting, as after a stall. */
  private def drain(r: Run): Seq[Double] = {
    val first = ScheduleStart + schedule(ctx.args.seconds).size
    (0 until Backlogs).map { b =>
      val lead = first + b * (1 + BacklogFiles)
      val es = r.envelopes.slice(lead + 1, lead + 1 + BacklogFiles)
      es.foreach(stage(r, _))
      val before = r.started
      land(r, r.envelopes(lead))
      val deadline = System.currentTimeMillis() + 60000
      while (r.started == before && System.currentTimeMillis() < deadline) Thread.sleep(1)
      val t0 = System.currentTimeMillis()
      es.foreach(publish(r, _))
      awaitCommitted(r, lead + 1 + BacklogFiles, 60000)
      val log = sourceLog(r)
      val batches = es.map(e => log(s"env-${e.seq}.json")).distinct
      val end = batches.map(r.commits.get(_).toLong).max
      val rate = es.map(_.lines.size).sum / ((end - t0) / 1000.0)
      out.note(f"backlog ${b + 1}: ${es.map(_.lines.size).sum} events in $BacklogFiles files, " +
        f"drained in ${end - t0} ms over ${batches.size} micro-batch(es): $rate%.1f events/s")
      rate
    }
  }

  /** Exactly-once and dead-letter checks against the generator. */
  private def check(r: Run): Map[String, Long] = {
    val ss = spark
    import ss.implicits._
    val envs = r.envelopes
    val data = envs.filter(_.isData)
    val lines = data.flatMap(_.lines)
    val expectIds = lines.toDF("line")
      .select(xxhash64(concat(col("line"), lit("\n")))).as[Long].collect().toSet
    val resolved = Sinks.latestById(spark, r.sink, "id")
      .select(col("id")).as[Long].collect()
    out.check(resolved.length == resolved.toSet.size && resolved.toSet == expectIds,
      s"latestById resolved ${resolved.length} rows (${resolved.toSet.size} ids), " +
        s"expected ${expectIds.size} ids each exactly once")
    val raw = spark.read.parquet(r.sink).count()
    out.check(raw == lines.size, s"upsert log holds $raw rows, expected ${lines.size} deliveries")
    val landed = spark.read.schema(EnvelopeSchema).json(r.landing)
      .select(col("awslogs.data").as("data"))
    val dead = Ingestor.deadLetterEnvelopes(landed, "data")
      .groupBy(col("reason")).count().as[(String, Long)].collect().toMap
    val corrupt = envs.count(_.kind == "corrupt")
    out.check(dead == Map("CORRUPT_GZIP" -> corrupt.toLong) || (corrupt == 0 && dead.isEmpty),
      s"dead letters $dead, expected $corrupt CORRUPT_GZIP")
    Map("envelopes" -> envs.size.toLong, "events" -> lines.size.toLong,
      "dead" -> corrupt.toLong, "control" -> envs.count(_.kind == "control").toLong,
      "ids" -> expectIds.size.toLong)
  }

  /** Per-step results and the sustained rate: the event rate the
    * generator delivered (events over the span of the step's landing
    * times plus one interval) in the highest step that, with every step
    * below it, meets [[LimitMs]] at its tail and keeps its backlog flat;
    * 0 when the first step fails. */
  private def steps(r: Run, lats: Seq[FileLat],
      backlog: Seq[(Double, Double)]): (Double, Seq[String]) = {
    var sustained = 0.0
    var failedBelow = false
    val notes = (0 until Layers.Steps).map { k =>
      val ls = lats.filter(_.step == k)
      val (tail, p) = Stats.tail(ls.map(_.latMs))
      val inStep = backlog.filter(b => b._1 * 1000 >= stepStartMs(k) && b._1 * 1000 < stepStartMs(k + 1))
      // Flat: across the step the backlog grows by less than one
      // second of offered files.
      val growth = if (inStep.size < 2) 0.0 else inStep.last._2 - inStep.head._2
      val landedAt = ls.map(l => r.landed.get(l.seq).toDouble)
      val span = landedAt.max - landedAt.min + 1000.0 / Rates(k)
      val offered = ls.map(l => r.envelopes(l.seq).lines.size).sum / (span / 1000.0)
      val pass = tail <= LimitMs && growth < Rates(k)
      if (pass && !failedBelow) sustained = offered
      if (!pass) failedBelow = true
      f"step${k + 1}: $offered%.1f events/s delivered, latency p50 ${Stats.median(ls.map(_.latMs))}%.1f ms, " +
        f"tail p$p%.0f $tail%.1f ms (${ls.size} files), backlog growth $growth%.0f files, " +
        (if (pass) "sustained" else "NOT sustained")
    }
    (sustained, notes)
  }

  def measure(): Unit = {
    val r = setUp(ctx.off)
    val ((lats, lag, backlog), rates) = Sys.noteSteal(out) {
      val d = drive(r)
      (d, drain(r))
    }
    r.query.stop()
    check(r)
    outcomes(r)
    out.attempted += lats.size + Backlogs
    val (sustained, notes) = steps(r, lats, backlog)
    // The latency figures are those of the first step, the longest and
    // the one furthest below the knee.
    val first = lats.filter(_.step == 0).map(_.latMs)
    val (tail, p) = Stats.tail(first)
    out.put("throughput_per_s", Stats.median(rates), "1/s")
    out.put("latency_p50_ms", Stats.median(first), "ms")
    notes.foreach(out.note)
    out.note(f"stream capacity: ${Stats.median(rates)}%.1f events/s (median drain rate of $Backlogs backlogs)")
    out.note(f"stream_sustained_eps: $sustained%.1f events/s (latency limit $LimitMs%.0f ms)")
    out.note(f"stream_latency_p50_ms: ${Stats.median(first)}%.1f ms, stream_latency_tail_ms: " +
      f"$tail%.1f ms (p$p%.0f of ${first.size} files, first step)")
    out.note(f"generator lag max ${lag}%.1f ms")
  }

  def traced(): Unit = {
    val t = ctx.startTracing()
    val r = setUp(t)
    val (lats, lag, backlog) = drive(r)
    drain(r)
    r.query.stop()
    val facts = check(r)
    val (_, notes) = steps(r, lats, backlog)
    notes.foreach(out.note)
    val prog = t.progressList.filter(_.rows > 0)
    def p50(f: Tracer.Progress => Double) =
      if (prog.isEmpty) 0.0 else Stats.median(prog.map(f))
    Layers.put(out, "streaming.batches", prog.size)
    Layers.put(out, "streaming.rows_per_batch_p50", p50(_.rows.toDouble))
    Layers.put(out, "streaming.trigger_ms_p50", p50(_.triggerMs))
    Layers.put(out, "streaming.planning_ms_p50", p50(_.planningMs))
    Layers.put(out, "streaming.add_batch_ms_p50", p50(_.addBatchMs))
    Layers.put(out, "streaming.wal_commit_ms_p50", p50(_.walCommitMs))
    Layers.put(out, "streaming.backlog_files_max", backlog.map(_._2).maxOption.getOrElse(0.0))
    Layers.put(out, "streaming.backlog_slope",
      Stats.slope(backlog.filter(_._1 * 1000 >= stepStartMs(Layers.Steps - 1))))
    Layers.put(out, "streaming.generator_lag_ms_max", lag)
    (0 until Layers.Steps).foreach { k =>
      Layers.put(out, s"streaming.latency_p50_ms.step${k + 1}",
        Stats.median(lats.filter(_.step == k).map(_.latMs)))
    }
    val batches = t.allSpans.filter(_.name == "micro_batch")
    val writes = t.allSpans.filter(_.name == "upsertAppendWriter")
    Layers.put(out, "sinks.batch_commit_ms_p50", Stats.median(writes.map(_.ms)))
    Layers.put(out, "sinks.files_scanned_per_query", 0)
    Layers.put(out, "sinks.partitions_pruned_ratio", 0)
    Layers.put(out, "sinks.read_amplification", facts("events").toDouble / facts("ids"))
    Layers.put(out, "ingestor.envelopes_in", facts("envelopes"))
    Layers.put(out, "ingestor.events_out", facts("events"))
    Layers.put(out, "ingestor.deadletter_envelopes", facts("dead"))
    Layers.put(out, "ingestor.control_dropped", facts("control"))
    val eng = t.engine(batches, Main.Cores)
    out.note(Layers.describe("micro_batch", eng))

    // Layer self times from prefix cuts over a seeded batch of envelopes
    // in a few larger files, so per-record work rather than per-file
    // overhead sets them: each prefix of the pipeline runs to a `noop`
    // sink (the last one to the upsert log) and a layer's self time is
    // its prefix's median minus the previous prefix's.
    val bulk = writeBulk(r)
    val inBytes = Sys.dataFilesUnder(bulk).map(_.length).sum
    val names = Seq("sources", "ingestor", "flowlog.parse", "flowlog.enrich",
      "flowlog.package", "sinks")
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    // Round 0 compiles every prefix's plan and is not counted.
    for (round <- 0 to 4; (n, i) <- names.zipWithIndex) {
      val ms = Sys.timed(
        t.span("op", s"prefix:$n", s"r$round")(prefix(spark, r, bulk, i, s"$round")))._2
      if (round > 0) times.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += ms
    }
    val med = names.map(n => n -> Stats.median(times(n).toSeq)).toMap
    def self(i: Int) = math.max(0.0, med(names(i)) - (if (i == 0) 0.0 else med(names(i - 1))))
    val read = t.stagesUnder(t.allSpans.filter(s => s.name == "prefix:sources" && s.op == "r1"))
    Layers.put(out, "sources.read_s", self(0) / 1000)
    Layers.put(out, "sources.records_read", read.flatMap(_.tasks).map(_.inputRecords).sum.toDouble)
    Layers.put(out, "sources.input_bytes", inBytes.toDouble)
    Layers.put(out, "sources.scan_tasks", read.map(_.tasks.size).sum.toDouble)
    Layers.put(out, "ingestor.decode_s", self(1) / 1000)
    Layers.put(out, "flowlog.parse_s", self(2) / 1000)
    Layers.put(out, "flowlog.enrich_s", self(3) / 1000)
    Layers.put(out, "flowlog.package_s", self(4) / 1000)
    Layers.put(out, "sinks.write_s", self(5) / 1000)
    val sinkFiles = Sys.dataFilesUnder(s"${ctx.work}/bulk-sink0").filter(_.getName.endsWith(".parquet"))
    val sinkBytes = sinkFiles.map(_.length).sum.toDouble
    Layers.put(out, "sinks.files_written", sinkFiles.size)
    Layers.put(out, "sinks.bytes_written", sinkBytes)
    Layers.put(out, "sinks.bytes_per_input_byte", sinkBytes / inBytes)
    checkBulk(r, s"${ctx.work}/bulk-sink0")
    out.note(names.indices.map(i => f"${names(i)} ${self(i) / 1000}%.3f")
      .mkString("batch self times: ", ", ", f" s; sum ${names.indices.map(self).sum / 1000}%.3f s, " +
        f"whole pipeline ${med(names.last) / 1000}%.3f s, over $BulkEnvelopes envelopes, $inBytes bytes"))
    outcomes(r)
    var refs = 0
    val (overhead, speedup) = ctx.overheadAndSpeedup(t, s => {
      refs += 1
      prefix(s, r, bulk, names.size - 1, s"ref$refs")
    })
    Layers.engine(out, eng, speedup, overhead)
    Layers.idle(out, Set("sources", "ingestor", "streaming", "flowlog", "sinks", "engine"))
  }

  /** Lands [[BulkEnvelopes]] seeded envelopes, one JSON object a line,
    * in [[BulkFiles]] files; returns the directory. */
  private def writeBulk(r: Run): String = {
    val dir = ctx.dir("bulk")
    bulkEnvelopes(r).grouped(BulkEnvelopes / BulkFiles).zipWithIndex.foreach { case (es, i) =>
      Files.write(new File(dir, s"bulk-$i.json").toPath,
        es.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    dir
  }

  private def bulkEnvelopes(r: Run): IndexedSeq[Gen.Envelope] =
    Gen.envelopes(r.world, ctx.args.seed * 101 + 7, BulkEnvelopes, EventsPerEnvelope)

  /** Runs the `i`-th prefix of the batch pipeline over `bulk`: the raw
    * JSON read, then the Ingestor decode and glue, parse, enrich and
    * package, each to a `noop` sink, and last the upsert-log write into
    * `bulk-sink<tag>`. */
  private def prefix(s: SparkSession, r: Run, bulk: String, i: Int, tag: String): Unit = {
    val raw = s.read.json(bulk)
    val ls = glue(FlowLogSource.readEnvelopes(s, bulk))
    val parsed = FlowLog.parseFlowLines(ls)
    val (eni, geo) = dims(s, r.world)
    val enriched = FlowLog.enrich(parsed, eni, geo)
    val packaged = FlowLog.packageRecords(enriched)
    if (i < 5) Seq(raw, ls, parsed, enriched, packaged)(i).write.format("noop").mode("overwrite").save()
    else Sinks.upsertAppendWriter(s"${ctx.work}/bulk-sink$tag", "id")(packaged, 0L)
  }

  /** The batch write holds one row per delivered event, with the Ok
    * count the generator expects. */
  private def checkBulk(r: Run, sink: String): Unit = {
    val flows = bulkEnvelopes(r).filter(_.isData).flatMap(_.flows)
    val row = spark.read.parquet(sink)
      .agg(count(lit(1)), sum(when(col("result") === "Ok", 1L).otherwise(0L))).head()
    out.check(row.getLong(0) == flows.size && row.getLong(1) == flows.count(_.ok),
      s"batch sink holds ${row.getLong(0)} rows (${row.getLong(1)} Ok), expected " +
        s"${flows.size} (${flows.count(_.ok)} Ok)")
  }

  /** Parse, ENI and geo outcomes of the resolved records, as ratios of
    * useful outcomes to attempts, each count checked against the
    * generator's ground truth. */
  private def outcomes(r: Run): Unit = {
    val js = from_json(unbase64(col("data")).cast("string"),
      "security_group_ids array<string>, country_code string", Map.empty[String, String])
    val ok = col("result") === "Ok"
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    val row = Sinks.latestById(spark, r.sink, "id")
      .select(col("result"), js.as("j"), length(col("data")).as("len"))
      .agg(count(lit(1)), cnt(ok), cnt(ok && col("j.security_group_ids").isNotNull),
        cnt(ok && col("j.country_code") =!= ""), sum(col("len")))
      .head()
    val (n, oks, eni, geo) = (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    val truth = r.envelopes.flatMap(_.flows).distinctBy(_.line).filter(_.ok)
    out.check(oks == truth.size, s"resolved Ok records $oks, expected ${truth.size}")
    out.check(eni == truth.count(_.eniHit), s"ENI hits $eni, expected ${truth.count(_.eniHit)}")
    out.check(geo == truth.count(_.geoHit), s"geo hits $geo, expected ${truth.count(_.geoHit)}")
    Layers.put(out, "flowlog.package_bytes_per_record", row.getLong(4).toDouble / n)
    Layers.put(out, "flowlog.parse_ok_ratio", oks.toDouble / n)
    Layers.put(out, "flowlog.eni_hit_ratio", eni.toDouble / oks)
    Layers.put(out, "flowlog.geo_hit_ratio",
      geo.toDouble / math.max(1, truth.count(f => !Gen.isPrivate(f.src))))
  }
}

object IngestStream {
  final case class FileLat(seq: Int, step: Int, latMs: Double)

  /** Flow-log events per envelope: the default of the engine's own
    * envelope synthesizer (`FlowLogSource.envelopesFromTicks`), which its
    * streaming tests deliver. */
  val EventsPerEnvelope = 5
  /** Envelope files per second at each step, ascending: one to four times
    * the reference's documented test load of 50 records/s (its README's
    * Kinesis Data Generator set-up), at [[EventsPerEnvelope]] a file. */
  val Rates: IndexedSeq[Double] = (1 to 4).map(k => k * 50.0 / EventsPerEnvelope)
  /** Share of the window each step lasts: half for the first. */
  val StepShare: IndexedSeq[Double] = IndexedSeq(3.0, 1.0, 1.0, 1.0).map(_ / 6)
  val Warmup = 20
  /** Backlogs landed after the schedule, and files in each: about 1,000
    * events, 20 s of the documented load. */
  val Backlogs = 3
  val BacklogFiles = 200
  /** Sequence number of the first scheduled file, after the warm-up. */
  val ScheduleStart: Int = Warmup + BacklogFiles
  /** The batch the traced run cuts into layers: 60,000 events. */
  val BulkEnvelopes = 12000
  val BulkFiles = 4
  /** Tail latency a step must meet to count as sustained. */
  val LimitMs = 6000.0
  val EnvelopeSchema = "awslogs STRUCT<data: STRING>"
}
