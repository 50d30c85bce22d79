package graft.queries

import org.apache.spark.sql.functions._

/** Dev probe: split flow_orc_roundtrip's cost into its write and read
  * legs (the gated query times both together, so an I/O-bound
  * oscillation can't be attributed from the total alone).
  *
  * sbt> Test/runMain graft.queries.TimeOrcSplit sf0.1
  *
  * Prints per-iteration `SPLIT write=Xs read=Ys` — the read leg runs
  * the same projection + orderBy + full materialization (count over
  * the sorted frame) as the gated query's consumer.
  */
object TimeOrcSplit {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("sf0.1")
    val spark = graft.GraftSession
      .builder("local[32]", "32", "graft-orc-split").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = s"/root/testdata/$sf"
    val cols = Seq("id", "version", "account_id", "interface_id",
      "srcaddr", "destaddr", "srcport", "dstport", "protocol", "packets",
      "bytes", "start", "end", "action", "log_status").map(col)
    for (_ <- 1 to 4) graft.SparkSpec.withTempDir("graft_orc_split") { path =>
      val src = FlowLogQueries.parsed(spark, d)
        .filter(!col("error") && expr("(id div 8) % 8") === 0)
        .select(cols: _*)
      val t0 = System.nanoTime()
      graft.sources.Sinks.writePartitioned(src, path, Seq("action"),
        format = "orc")
      val t1 = System.nanoTime()
      val n = spark.read.orc(path).select(cols: _*).orderBy("id").count()
      val t2 = System.nanoTime()
      println(f"SPLIT write=${(t1 - t0) / 1e9}%.2fs " +
        f"read=${(t2 - t1) / 1e9}%.2fs rows=$n")
    }
    spark.stop()
  }
}
