package graft

import org.apache.spark.sql.functions._

/** The KMV distinct-count sketch: the aggregator buffer and its streaming
 * merge across micro-batches. */
class KmvDistinctSpec extends TestBase {
  import spark.implicits._

  test("kmvDistinctStream merges KMV state across micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L - (1700000000000L % 3600000L)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long)]
    val ev = in.toDF().toDF("user_id", "event_type", "ms")
      .withColumn("ts_utc", timestamp_millis(col("ms")))
    val out = streaming.EventStreams.kmvDistinctStream(ev, k = 16,
      complete = true)
    val sink = s"kmv_sink_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("complete").start()
    try {
      // 10 distinct users in batch 1, 5 overlapping + 5 new in batch 2:
      // 15 distinct < k = 16, so the estimate is the EXACT distinct count
      in.addData((1L to 10L).map(u => (u, "click", t0 + u)))
      q.processAllAvailable()
      in.addData((6L to 15L).map(u => (u, "click", t0 + 100 + u)))
      q.processAllAvailable()
      val est = spark.table(sink)
        .select("event_type", "approx_distinct")
        .as[(String, Double)].collect().toMap
      assert(est == Map("click" -> 15.0), est.toString)
    } finally q.stop()
  }

  test("distinctLong KMV buffer is duplicate-insensitive") {
    val kmin = expressions.KMinSampling.distinctLong(4)
    val dups = (1 to 50).flatMap(_ => Seq(10L, 20L, 30L)).toDF("v")
      .agg(kmin(col("v"))).as[Seq[Long]].head()
    assert(dups == Seq(10L, 20L, 30L), dups.toString)
    val many = (1L to 100L).flatMap(x => Seq(x, x)).toDF("v")
      .agg(kmin(col("v"))).as[Seq[Long]].head()
    assert(many == Seq(1L, 2L, 3L, 4L), many.toString)
  }
}
