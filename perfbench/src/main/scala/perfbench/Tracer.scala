package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans recorded around the benchmark's calls into each layer, plus the
  * task metrics of the Spark jobs each span started. Everything stays
  * in memory until [[write]] at the end of the run. When disabled, spans
  * cost one closure call and no listener is registered, so untraced runs
  * measure the program alone.
  *
  * A job belongs to the innermost span open on the thread that submitted
  * it: the span id rides as a Spark local property, which Spark copies
  * into the job's properties.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageRecs = mutable.HashMap.empty[Int, StageRec]
  private val progress = mutable.ArrayBuffer.empty[Progress]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
      Tracer.this.synchronized {
        jobSpan(e.jobId) = sid
        e.stageIds.foreach(s => if (!stageSpan.contains(s)) stageSpan(s) = sid)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Tracer.this.synchronized {
        val r = stageRecs.getOrElseUpdate(i.stageId, new StageRec(i.stageId))
        r.span = stageSpan.getOrElse(i.stageId, -1)
        r.wallMs = (for (a <- i.submissionTime; b <- i.completionTime)
          yield (b - a).toDouble).getOrElse(0.0)
        r.completed = true
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        val r = stageRecs.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
        r.tasks += TaskRec(e.taskInfo.duration.toDouble,
          m.executorRunTime.toDouble, m.jvmGCTime.toDouble,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.recordsRead)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      Tracer.this.synchronized {
        progress += Progress(p.batchId, p.numInputRows, d("triggerExecution"),
          d("queryPlanning"), d("addBatch"), d("walCommit"))
      }
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Run `f` with the listeners detached, as an untraced run would. */
  def detached[A](f: => A): A = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    try f finally spark.sparkContext.addSparkListener(listener)
  }

  /** Run `f` as a span named `name` of `layer`, for operation `op`. */
  def span[A](layer: String, name: String, op: String)(f: => A): A =
    if (!enabled) f
    else {
      val sc = spark.sparkContext
      val stack = open.get
      val s = Span(ids.incrementAndGet(), name, layer, op,
        stack.headOption.map(_.id).getOrElse(0), System.nanoTime())
      val prev = sc.getLocalProperty(SpanKey)
      open.set(s :: stack)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        open.set(stack)
        sc.setLocalProperty(SpanKey, prev)
        synchronized { spans += s }
      }
    }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit =
    if (enabled && !spark.sparkContext.isStopped)
      org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Query progress of every micro-batch so far. */
  def progressList: Seq[Progress] = synchronized(progress.toList)

  /** The root operation span each span descends from. */
  private def rootOf(byId: Map[Int, Span], id: Int): Option[Span] =
    byId.get(id).flatMap(s => if (s.parent == 0) Some(s) else rootOf(byId, s.parent))

  /** Engine-level figures over the stages of the given root spans, as
    * seen by the scheduler: see [[EngineSummary]]. */
  def engine(roots: Seq[Span], cores: Int): EngineSummary = {
    drain()
    val byId = allSpans.map(s => s.id -> s).toMap
    val rootIds = roots.map(_.id).toSet
    val (jobs, stages) = synchronized {
      val js = jobSpan.count { case (_, sid) =>
        rootOf(byId, sid).exists(r => rootIds(r.id)) }
      val st = stageRecs.values.filter(r => r.completed &&
        rootOf(byId, r.span).exists(x => rootIds(x.id))).toList
      (js, st)
    }
    EngineSummary.of(roots.size, roots.map(_.ms).sum, jobs, stages, cores)
  }

  /** Tasks of all completed stages under the given spans. */
  def stagesUnder(roots: Seq[Span]): Seq[StageRec] = {
    drain()
    val byId = allSpans.map(s => s.id -> s).toMap
    val ids = roots.map(_.id).toSet
    def under(sid: Int): Boolean =
      ids(sid) || byId.get(sid).exists(s => s.parent != 0 && under(s.parent))
    synchronized(stageRecs.values.filter(r => r.completed && under(r.span)).toList)
  }

  def write(file: File): Unit = if (enabled) {
    drain()
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try {
      val t0 = allSpans.map(_.startNs).minOption.getOrElse(0L)
      allSpans.sortBy(_.startNs).foreach { s =>
        val st = stagesUnder(Seq(s)).filter(_.span == s.id)
        w.println(Json.obj("type" -> "span", "id" -> s.id, "name" -> s.name,
          "layer" -> s.layer, "op" -> s.op, "parent" -> s.parent,
          "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
          "stages" -> st.size, "tasks" -> st.map(_.tasks.size).sum,
          "task_ms" -> st.flatMap(_.tasks).map(_.durMs).sum,
          "gc_ms" -> st.flatMap(_.tasks).map(_.gcMs).sum,
          "shuffle_write_bytes" -> st.flatMap(_.tasks).map(_.shuffleBytes).sum,
          "spill_bytes" -> st.flatMap(_.tasks).map(_.spillBytes).sum))
      }
      synchronized(progress.toList).foreach { p =>
        w.println(Json.obj("type" -> "progress", "batch" -> p.batchId,
          "rows" -> p.rows, "trigger_ms" -> p.triggerMs,
          "planning_ms" -> p.planningMs, "add_batch_ms" -> p.addBatchMs,
          "wal_commit_ms" -> p.walCommitMs))
      }
    } finally w.close()
  }

  def stop(): Unit = if (enabled && !spark.sparkContext.isStopped) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, name: String, layer: String, op: String,
      parent: Int, startNs: Long) {
    @volatile var endNs: Long = startNs
    def ms: Double = (endNs - startNs) / 1e6
  }

  final case class TaskRec(durMs: Double, runMs: Double, gcMs: Double,
      shuffleBytes: Long, spillBytes: Long, inputRecords: Long)

  final class StageRec(val stageId: Int) {
    var span: Int = -1
    var wallMs: Double = 0.0
    var completed = false
    val tasks = mutable.ArrayBuffer.empty[TaskRec]
  }

  final case class Progress(batchId: Long, rows: Long, triggerMs: Double,
      planningMs: Double, addBatchMs: Double, walCommitMs: Double)
}

/** Scheduler-level figures of a set of operations. */
final case class EngineSummary(ops: Int, jobsPerOp: Double,
    stagesPerOp: Double, tasksPerOp: Double, fixedOverheadMsPerStage: Double,
    taskBusyShare: Double, taskSkew: Double, shuffleBytesPerOp: Double,
    spillBytesPerOp: Double, gcShare: Double)

object EngineSummary {
  def of(ops: Int, opWallMs: Double, jobs: Int, stages: Seq[Tracer.StageRec],
      cores: Int): EngineSummary = {
    val n = math.max(ops, 1).toDouble
    val tasks = stages.flatMap(_.tasks)
    // A stage's fixed overhead is the part of its wall time not covered
    // by its longest task: scheduling, task launch, result handling.
    val overhead = stages.map(s =>
      math.max(0.0, s.wallMs - s.tasks.map(_.durMs).maxOption.getOrElse(0.0)))
    val skews = stages.filter(_.tasks.size >= 2).map { s =>
      val m = Stats.median(s.tasks.map(_.durMs).toSeq)
      if (m <= 0) 1.0 else s.tasks.map(_.durMs).max / m
    }
    val run = tasks.map(_.runMs).sum
    EngineSummary(ops, jobs / n, stages.size / n, tasks.size / n,
      if (overhead.isEmpty) 0.0 else overhead.sum / overhead.size,
      if (opWallMs <= 0) 0.0 else tasks.map(_.durMs).sum / (opWallMs * cores),
      if (skews.isEmpty) 1.0 else Stats.median(skews),
      tasks.map(_.shuffleBytes).sum / n, tasks.map(_.spillBytes).sum / n,
      if (run <= 0) 0.0 else tasks.map(_.gcMs).sum / run)
  }
}
