package graft

/** Scratch: time one named query (or a comma-separated sequence, timed
 * in order within ONE JVM — for cross-query interference probes) N times
 * at a given SF dir. */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val n = if (args.length > 2) args(2).toInt else 3
    val spark = SparkEntry.harnessSession(defaultCpus = 16)
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").agg(count(md5(concat_ws("", col("l_orderkey"))))).count()
    for (i <- 1 to n; name <- names) {
      // match Bench's cold-cache, warm-JVM protocol
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      println(f"TIMED $name run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
