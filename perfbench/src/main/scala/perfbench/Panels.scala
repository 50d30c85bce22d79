package perfbench

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.TopKPerKeyNode
import graft.sources.Sinks

/** Flow-dashboard panels served beside the index requests: the read
  * side of the sink layout. Flows are stored in set-up by
  * `Sinks.writePartitioned` (partitioned by action and date) beside an
  * upsert log with redeliveries, read through `Sinks.latestById`. The
  * panels are top talkers, top-5 destinations per ENI (the
  * `row_number <= k` idiom the TopK rewrite replaces) and a resolved
  * count; half of them read one day, half scan everything. Every answer
  * is compared with a replay over the generator's own records.
  */
final class Panels(ctx: Ctx) {
  import Panels._

  private def spark: SparkSession = ctx.spark
  private val out = ctx.out

  private val days = (0 until Gen.Days).map(d =>
    java.time.LocalDate.ofEpochDay(Gen.BaseEpoch / 86400 + d).toString)

  final class Data(val flowsDir: String, val logDir: String,
      flows: IndexedSeq[Gen.Flow], val logRows: Long) {
    private val answers = mutable.Map.empty[Query, Seq[Seq[Any]]]
    /** The replayed answer, computed when first needed and outside any
      * timed section. */
    def expected(q: Query): Seq[Seq[Any]] = answers.getOrElseUpdate(q, replay(q, flows))
  }

  def build(rep: Int): Data = {
    val ss = spark
    import ss.implicits._
    val flowsDir = ctx.dir(s"flows$rep")
    val logDir = s"${ctx.work}/log$rep"
    val w = Gen.world(ctx.args.seed)
    val flows = new Gen.FlowGen(w, ctx.args.seed * 3 + 1).take(Flows).filter(_.ok)
    Sinks.writePartitioned(ss.sparkContext.parallelize(flows.map(f => (f.eni, f.src,
        f.dst, f.dstport, f.packets, f.bytes, f.start, f.action, f.date)), Main.Cores)
      .toDF("interface_id", "srcaddr", "destaddr", "dstport", "packets",
        "bytes", "start", "action", "date"),
      flowsDir, Seq("action", "date"))
    // The upsert log: deliveries of flow documents keyed by id, where
    // about 5% of each later delivery re-sends documents already sent.
    val rng = new Random(ctx.args.seed * 5 + 2)
    var logRows = 0L
    flows.indices.grouped(flows.size / Deliveries + 1).zipWithIndex.foreach { case (part, b) =>
      val redo = if (b == 0) Nil else Seq.fill(part.size / 20)(rng.nextInt(part.head))
      val rows = (part ++ redo).map(i => (i.toLong, flows(i).action, flows(i).date))
      logRows += rows.size
      Sinks.upsertAppendWriter(logDir, "id")(rows.toDF("id", "action", "date"), b.toLong)
    }
    new Data(flowsDir, logDir, flows, logRows)
  }

  /** The answer to `q`, computed from the generator's records. */
  private def replay(q: Query, all: Seq[Gen.Flow]): Seq[Seq[Any]] = {
    val fs = q.day.fold(all)(d => all.filter(_.date == d))
    q.shape match {
      case "top_talkers" =>
        fs.groupBy(_.dst).toSeq.map { case (d, g) => Seq(d, g.map(_.bytes).sum, g.size.toLong) }
          .sortBy(r => (-r(1).asInstanceOf[Long], r(0).asInstanceOf[String])).take(10)
      case "top5_dst_per_eni" =>
        fs.groupBy(f => (f.eni, f.dst)).toSeq.map { case ((e, d), g) => (e, d, g.map(_.bytes).sum) }
          .groupBy(_._1).toSeq.flatMap { case (_, g) => g.sortBy(r => (-r._3, r._2)).take(5) }
          .map(r => Seq(r._1, r._2, r._3))
          .sortBy(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[String]))
      case "resolved_count" =>
        // Document ids index the record list, so a day slice resolves
        // to the documents of that day.
        Seq(Seq(fs.size.toLong, fs.count(_.action == "REJECT").toLong))
    }
  }

  /** The panel's query as the dashboard sends it to the engine. */
  def frame(d: Data, q: Query): DataFrame = {
    val flows = spark.read.parquet(d.flowsDir)
    val f = q.day.fold(flows)(day => flows.filter(col("date") === lit(day)))
    q.shape match {
      case "top_talkers" =>
        f.groupBy(col("destaddr")).agg(sum(col("bytes")).as("b"), count(lit(1)).as("n"))
          .orderBy(col("b").desc, col("destaddr")).limit(10)
      case "top5_dst_per_eni" =>
        val w = Window.partitionBy(col("interface_id")).orderBy(col("b").desc, col("destaddr"))
        f.groupBy(col("interface_id"), col("destaddr")).agg(sum(col("bytes")).as("b"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .drop("rn")
          .orderBy("interface_id", "destaddr")
      case "resolved_count" =>
        val log = Sinks.latestById(spark, d.logDir, "id")
        q.day.fold(log)(day => log.filter(col("date") === lit(day)))
          .agg(count(lit(1)), sum(when(col("action") === "REJECT", 1L).otherwise(0L)))
    }
  }

  /** Compares a panel's rows with the replay. */
  def verify(d: Data, q: Query, rows: Array[Row]): Unit = {
    val got = rows.toSeq.map(_.toSeq.map { case i: Int => i.toLong; case v => v })
    val want = d.expected(q)
    out.check(got == want, s"${q.name}: ${got.size} rows differ from the replay (${want.size} rows)" +
      got.zip(want).find(p => p._1 != p._2).fold("")(p => s", first ${p._1} vs ${p._2}"))
  }

  /** The `i`-th panel request: the shapes in turn, the first round over
    * every day and the next over one seeded day, so that half of the
    * requests are time-sliced and every window sees the same shapes. */
  def next(i: Int, rng: Random): Query =
    Query(Shapes(i % Shapes.size),
      if (i / Shapes.size % 2 == 0) None else Some(days(rng.nextInt(days.size))))

  /** Every shape, over all days and over the first day. */
  def fixed: Seq[Query] = for (s <- Shapes; d <- Seq(None, Some(days.head))) yield Query(s, d)

  /** Read-side figures of executed panels, for the traced run. */
  final class ReadFacts(d: Data) {
    private val partitions = spark.read.parquet(d.flowsDir).select("action", "date")
      .distinct().count()
    var files, parts, partsTotal, flowScans, logRead, logOut = 0L
    var rewrites = 0

    def add(q: Query, df: DataFrame): Unit = {
      rewrites += df.queryExecution.optimizedPlan.collect { case n: TopKPerKeyNode => n }.size
      Plans.scans(df.queryExecution.executedPlan).foreach { s =>
        def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
        if (s.relation.location.rootPaths.exists(_.toString.contains(d.flowsDir))) {
          flowScans += 1
          files += m("numFiles")
          parts += m("numPartitions")
          partsTotal += partitions
        } else logRead += m("numOutputRows")
      }
      if (q.shape == "resolved_count") logOut += d.expected(q).head.head.asInstanceOf[Long]
    }

    def report(): Unit = {
      Layers.put(out, "sinks.files_scanned_per_query", files.toDouble / math.max(1L, flowScans))
      Layers.put(out, "sinks.partitions_pruned_ratio", 1.0 - parts.toDouble / math.max(1L, partsTotal))
      Layers.put(out, "sinks.read_amplification", logRead.toDouble / math.max(1L, logOut))
      Layers.put(out, "plans.topk_rewrites", rewrites)
      out.note(f"flow partitions $partitions, upsert log rows ${d.logRows}")
    }
  }
}

object Panels {
  val Flows = 20000
  val Deliveries = 2
  val Shapes: IndexedSeq[String] = IndexedSeq("top_talkers", "top5_dst_per_eni", "resolved_count")

  final case class Query(shape: String, day: Option[String]) {
    def name: String = s"$shape:${day.getOrElse("all")}"
  }

  object Plans extends AdaptiveSparkPlanHelper {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = collectWithSubqueries(p) {
      case s: FileSourceScanExec => s
    }
  }
}
