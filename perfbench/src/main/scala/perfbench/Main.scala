package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** Benchmark entry point: one workload, one seed, one measured window.
  *
  * {{{ perfbench.Main --workload <name> --seed <n> --seconds <s>
  *       --trace <0|1> --work-dir <dir> }}}
  *
  * With `--trace 0` the last stdout line carries the end-to-end metrics,
  * measured with no listener attached; with `--trace 1` it carries the
  * per-layer metrics of a separate traced run. Lines before it print the
  * workload's own named metrics with their units. Exit code 1 when any
  * output check failed or an operation threw.
  */
object Main {
  val Cores = 4

  /** Every end-to-end metric, printed by every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s",
    "latency_p50_ms" -> "ms", "peak_rss_mb" -> "MB")

  def session(master: String, work: String): SparkSession = {
    val cores = master.stripPrefix("local[").stripSuffix("]")
    val s = GraftSession.builder(master, cores, "perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = try Args.parse(argv) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    val work = Sys.fresh(new File(args.workDir).getAbsolutePath)
    Sys.watchHeapAfterGc()
    val out = new Outcome
    var spark = session(s"local[$Cores]", work)
    val ctx = new Ctx(args, work, out, () => spark, m => {
      spark.stop(); spark = session(m, work); spark })
    val ok = try {
      val w: Workload = args.workload match {
        case "ingest_stream" => new IngestStream(ctx)
        case "index_serve" => new IndexServe(ctx)
      }
      if (args.trace) w.traced() else w.measure()
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: ${args.workload} aborted: $e")
        e.printStackTrace()
        false
    } finally {
      ctx.tracer.foreach(_.write(new File(new File(work).getParentFile,
        s"traces/${args.workload}-seed${args.seed}.jsonl")))
      try spark.stop() catch { case _: Throwable => () }
      Sys.deleteTree(work)
    }
    if (!ok) sys.exit(1)
    out.put("peak_rss_mb", Sys.peakRssMb, "MB")
    Layers.put(out, "engine.heap_after_gc_peak_mb", Sys.heapAfterGcPeakMb)
    out.note(f"peak heap after GC: ${Sys.heapAfterGcPeakMb}%.1f MB, peak RSS: ${Sys.peakRssMb}%.1f MB")
    out.info.foreach(println)
    out.problems.take(20).foreach(p => System.err.println(s"CHECK FAILED: $p"))
    val keep = if (args.trace) out.metrics.filterNot(m => EndToEnd.exists(_._1 == m._1))
      else out.metrics.filter(m => EndToEnd.exists(_._1 == m._1))
    val missing = (if (args.trace) Layers.names else EndToEnd.map(_._1))
      .filterNot(keep.contains)
    if (missing.nonEmpty) {
      System.err.println(s"perfbench: metrics not produced: ${missing.mkString(", ")}")
      sys.exit(1)
    }
    val correct = out.failed == 0 && out.attempted > 0
    println(Json.result(correct, math.max(out.attempted, 1), out.failed, keep))
    if (!correct) sys.exit(1)
  }
}

/** What a workload needs from the run: arguments, a working directory
  * inside the checkout, the session (which the traced run may restart
  * at another parallelism), and the outcome it fills in. */
final class Ctx(val args: Args, val work: String, val out: Outcome,
    sparkRef: () => SparkSession, restart: String => SparkSession) {
  var tracer: Option[Tracer] = None
  def spark: SparkSession = sparkRef()
  def restartAt(master: String): SparkSession = {
    tracer.foreach(_.stop())
    restart(master)
  }
  def dir(name: String): String = Sys.fresh(s"$work/$name")

  /** Set-ups in this run: three when `setup_s` is measured, so that the
    * median leaves out the first repetition's one-off JVM warm-up; one in
    * a traced run, which does not report it. */
  val setupReps: Int = if (args.trace) 1 else 3

  /** Runs `rep` [[setupReps]] times and reports the median as `setup_s`.
    * The last repetition's result is what the run uses. */
  def setup[A](rep: Int => A): A = {
    val runs = (0 until setupReps).map(i => Sys.timed(rep(i)))
    out.put("setup_s", Stats.median(runs.map(_._2)) / 1000.0, "s")
    out.note(runs.map(r => f"${r._2 / 1000}%.2f").mkString("setup repetitions: ", ", ", " s"))
    runs.last._1
  }

  /** Starts tracing; spans recorded before this call are not traced. */
  def startTracing(): Tracer = {
    val t = new Tracer(spark, enabled = true)
    tracer = Some(t)
    t
  }
  val off = new Tracer(null, enabled = false)

  /** The tracing overhead and single-thread baseline of one
    * representative operation: `op` runs twice with the listeners
    * detached and twice traced, interleaved, then the session restarts
    * at local[1] and `op` runs once more.
    * Returns (traced ÷ untraced median, local[1] ÷ untraced median).
    * Restarts the session, so it is the last step of a traced run. */
  def overheadAndSpeedup(t: Tracer, op: SparkSession => Unit): (Double, Double) = {
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    for (i <- 0 until 2) {
      plain += Sys.timed(t.detached(op(spark)))._2
      traced += Sys.timed(t.span("op", "reference", s"ref$i")(op(spark)))._2
    }
    val one = restartAt("local[1]")
    val single = Sys.timed(op(one))._2
    out.note(f"reference op: untraced ${Stats.median(plain.toSeq)}%.1f ms, traced " +
      f"${Stats.median(traced.toSeq)}%.1f ms, local[1] $single%.1f ms")
    (Stats.median(traced.toSeq) / Stats.median(plain.toSeq),
      single / Stats.median(plain.toSeq))
  }
}

/** One benchmark workload: [[measure]] fills the end-to-end metrics,
  * [[traced]] the per-layer ones. */
trait Workload {
  def measure(): Unit
  def traced(): Unit
}
