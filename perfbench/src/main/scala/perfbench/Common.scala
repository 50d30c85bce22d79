package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, workDir: String)

object Args {
  val Workloads: Seq[String] =
    Seq("ingest_stream", "index_serve")

  def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val w = need("--workload")
    require(Workloads.contains(w), s"unknown workload $w")
    val trace = need("--trace")
    require(trace == "0" || trace == "1", "--trace must be 0 or 1")
    val seconds = need("--seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Args(w, need("--seed").toLong, seconds, trace == "1", need("--work-dir"))
  }
}

/** One metric as printed: value with its unit. */
final case class Metric(value: Double, unit: String)

/** What a workload run hands back to [[Main]]: the operations it tried,
  * those that threw or failed their output check, and its metrics. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  /** Lines printed before the result: the workload's own named metrics
    * and per-operation breakdowns, for people rather than for the result line. */
  val info = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = Metric(value, unit)

  def note(line: String): Unit = info += line

  /** Record one output check; a mismatch counts as a failed operation. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; problems += what }
  }
}

object Stats {
  /** Nearest-rank percentile of a sample, `p` in (0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "empty sample")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest percentile with at least ten samples above it, never
    * below the median: returns (value, percentile). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    val i = math.max(n - 11, (n - 1) / 2)
    (s(i), 100.0 * (i + 1) / n)
  }

  /** Least-squares slope of y over x. */
  def slope(pts: Seq[(Double, Double)]): Double =
    if (pts.size < 2) 0.0
    else {
      val mx = pts.map(_._1).sum / pts.size
      val my = pts.map(_._2).sum / pts.size
      val den = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
      if (den == 0) 0.0
      else pts.map { case (x, y) => (x - mx) * (y - my) }.sum / den
    }
}

object Sys {
  def nowMs: Double = System.nanoTime() / 1e6

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  @volatile private var heapAfterGcPeak = 0L

  /** Records the heap left in use after every collection. The largest of
    * these follows how much data the run keeps, which peak RSS over a
    * fixed heap does not show. */
  def watchHeapAfterGc(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case gc: NotificationEmitter =>
        gc.addNotificationListener((n: Notification, _: AnyRef) => {
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            synchronized { heapAfterGcPeak = math.max(heapAfterGcPeak, used) }
          }
        }, null, null)
      case _ => ()
    }

  def heapAfterGcPeakMb: Double = heapAfterGcPeak / 1048576.0

  /** CPU ticks of the whole machine since boot: (stolen by the host, all). */
  def cpuTicks: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (f(7), f.sum)
    } finally src.close()
  }

  /** Runs `f` and notes the share of CPU time the host stole meanwhile:
    * on a shared machine this is what most of the run-to-run spread of
    * the timings follows. */
  def noteSteal[A](out: Outcome)(f: => A): A = {
    val (s0, t0) = cpuTicks
    val r = f
    val (s1, t1) = cpuTicks
    out.note(f"host CPU steal during the window: ${100.0 * (s1 - s0) / math.max(1L, t1 - t0)}%.1f%% of CPU time")
    r
  }

  def bytesUnder(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(g => bytesUnder(g.getPath)).sum
  }

  /** Data files (not checksums or markers) under a directory tree. */
  def dataFilesUnder(path: String): Seq[File] = {
    val f = new File(path)
    if (!f.exists()) Nil
    else if (f.isFile) {
      val n = f.getName
      if (n.startsWith(".") || n.startsWith("_")) Nil else Seq(f)
    } else Option(f.listFiles()).toSeq.flatten.flatMap(g => dataFilesUnder(g.getPath))
  }

  def deleteTree(path: String): Unit = {
    val p = new File(path).toPath
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(q => Files.deleteIfExists(q))
      finally s.close()
    }
  }

  def fresh(path: String): String = {
    deleteTree(path)
    Files.createDirectories(new File(path).toPath)
    path
  }
}

object Json {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Iterable[(String, Metric)]): String = {
    val ms = metrics.map { case (k, m) =>
      s"${str(k)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}"
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  def obj(fields: (String, Any)*): String = fields.map { case (k, v) =>
    val js = v match {
      case d: Double => num(d)
      case l: Long => l.toString
      case i: Int => i.toString
      case s: String => str(s)
      case b: Boolean => b.toString
      case other => str(String.valueOf(other))
    }
    s"${str(k)}: $js"
  }.mkString("{", ", ", "}")
}
