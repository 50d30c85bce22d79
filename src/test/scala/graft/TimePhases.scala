package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.queries.FlowLogQueries

/** Dev micro-bench: break one persisted-ANN lifecycle row into its
  * phases (train+write, serve) so optimization effort lands where the
  * time actually goes. Usage:
  *
  *   sbt> Test/runMain graft.TimePhases sf0.1
  */
object TimePhases {
  def main(args: Array[String]): Unit = {
    val sfName = args.headOption.getOrElse("sf0.1")
    val sfDir = s"/root/testdata/$sfName"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus, "graft-phases")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("GRAFT_EXTRA_CONF").foreach(_.split(';').foreach { kv =>
      val Array(k, v) = kv.split('=')
      spark.conf.set(k, v)
      println(s"CONF $k=$v")
    })
    SparkEntry.entry(spark).count()

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(s.stageInfo.numTasks)
        }
      })

    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val (j0, s0, k0) = (jobs.get, stages.get, tasks.get)
      val r = f
      println(f"PHASE $name%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s" +
        f"  jobs=${jobs.get - j0} stages=${stages.get - s0} tasks=${tasks.get - k0}")
      r
    }
    t("calibrate: vecs.count") {
      Similarity.vectors(Tables.embeddings(spark, sfDir)).count()
    }

    for (round <- 1 to 2) SparkSpec.withTempDir("graft_phases") { root =>
      println(s"--- round $round ---")
      val vecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
        .select(col("vec_id"), col("v"))
      val dir = s"$root/ivfpq"
      t("kmeansTrain(8,2).count") {
        Similarity.kmeansTrain(vecs, 8, 2).write.format("noop")
          .mode("overwrite").save()
      }
      t("writeIvfPqIndex") { Similarity.writeIvfPqIndex(vecs, dir) }
      t("searchIvfPqIndex.count") {
        Similarity.searchIvfPqIndex(spark, dir, vecs,
          vecs.filter(col("vec_id") < 10), 5)
          .orderBy("probe_id", "rnk").count()
      }
      val vecsL = Similarity.vectors(Tables.embeddings(spark, sfDir))
      val dir2 = s"$root/imipq"
      val cents = Similarity.imiSubCentroids(vecsL)
      t("imi indexCells.noop") {
        Similarity.imiIndexCells(
          Similarity.imiSubDistancesAgainst(cents, vecsL))
          .write.format("noop").mode("overwrite").save()
      }
      t("writeImiPqIndex") {
        Similarity.writeImiPqIndex(vecsL, cents, dir2)
      }
      t("searchImiPqIndex.count") {
        Similarity.searchImiPqIndex(spark, dir2, vecsL,
          vecsL.filter(col("vec_id") < 10), 5)
          .orderBy("probe_id", "rnk").count()
      }
      val vecsL2 = Similarity.vectors(Tables.embeddings(spark, sfDir))
      val dir3 = s"$root/imi"
      t("writeImiIndex") {
        Similarity.writeImiIndex(vecsL2,
          Similarity.imiSubCentroids(vecsL2), dir3)
      }
      t("imi delete") {
        Similarity.deleteFromIvfIndex(spark,
          vecsL2.filter(col("vec_id") % 7 === 0).select(col("vec_id")),
          dir3)
      }
      t("compactImiIndex") { Similarity.compactImiIndex(spark, dir3) }
      t("searchImiIndex.count") {
        Similarity.searchImiIndex(spark, dir3,
          vecsL2.filter(col("vec_id") < 10), 5).count()
      }
      val cvecs = Similarity.vectors(Tables.embeddings(spark, sfDir))
        .selectExpr("vec_id",
          "transform(v, (x, i) -> (CASE WHEN ((label % 8) DIV " +
            "CAST(pow(2, i % 3) AS INT)) % 2 = 1 THEN 1.0D ELSE -1.0D " +
            "END) + 0.1D * x) AS v")
      val cprobes = cvecs.filter(col("vec_id") < 10)
      t("clustered trainedCents") {
        Similarity.imiTrainedCents(cvecs, 8, 2).foreach(_.count())
      }
      t("clustered bruteforce.noop") {
        Similarity.bruteForceTopK(cvecs, cprobes, 3)
          .write.format("noop").mode("overwrite").save()
      }
      t("clustered curve.count") {
        Similarity.imiRecallCurve(cvecs, cprobes, 3).count()
      }
    }
    spark.stop()
  }
}
