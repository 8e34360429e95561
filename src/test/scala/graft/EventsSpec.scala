package graft

import org.apache.spark.sql.functions._

/** Event-log operators of pipeline.Events: session transition matrices
 * and the bucketed range join. */
class EventsSpec extends TestBase {
  import spark.implicits._

  test("transitionMatrix counts within-session transitions only") {
    val h = 3600L * 1000000000L // ns per hour
    val ev = Seq(
      // user 1, one session: a -> b -> a
      (1L, 1L * h, 1L, "a"), (2L, 1L * h + 1, 1L, "b"), (3L, 1L * h + 2, 1L, "a"),
      // user 1, second session (2h gap): b -> b
      (4L, 3L * h, 1L, "b"), (5L, 3L * h + 1, 1L, "b"),
      // user 2: a -> b
      (6L, 1L * h, 2L, "a"), (7L, 1L * h + 1, 2L, "b"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = pipeline.Events.transitionMatrix(ev, gapMinutes = 30)
      .select(col("src_type"), col("dst_type"), col("n"), col("n_src"), col("p"))
      .as[(String, String, Long, Long, Double)].collect().toSet
    // a->b twice, b->a once, b->b once; NO b->b from session boundary of user 1
    assert(got == Set(
      ("a", "b", 2L, 2L, 1.0),
      ("b", "a", 1L, 2L, 0.5),
      ("b", "b", 1L, 2L, 0.5)), got.toString)
  }

  test("rangeJoin: inclusive start, exclusive end, keys, bucket spans") {
    val pts = Seq((1L, 1000L * 1000000, 10L), (1L, 5000L * 1000000, 11L),
      (2L, 1000L * 1000000, 12L)).toDF("user_id", "ts", "event_id")
    // nanos Longs (the testdata convention under nanosAsLong)
    val iv = Seq((1L, 1000L * 1000000, 5000L * 1000000, 100L),
      (2L, 2000L * 1000000, 1000L * 1000000, 200L)) // empty interval
      .toDF("user_id", "s", "e", "iv_id")
    val got = pipeline.Events.rangeJoin(pts, iv, Seq("user_id"), "ts",
        "s", "e", Seq("iv_id"), bucketMs = 700L)
      .select(col("event_id"), col("r_iv_id"))
      .as[(Long, Long)].collect().toSet
    // pt 10 at 1000ms: 1000 <= 1000 < 5000 -> match; pt 11 at 5000ms:
    // exclusive end -> no; pt 12: its user's interval is empty -> no
    assert(got == Set((10L, 100L)), got.toString)
  }

  test("rangeJoin fails loudly on an interval spanning too many buckets") {
    val pts = Seq((1L, 0L, 1L)).toDF("user_id", "ts", "event_id")
    val iv = Seq((1L, 0L, 3600L * 1000000000L, 9L)).toDF("user_id", "s", "e", "iv_id")
    val ex = intercept[Exception] {
      pipeline.Events.rangeJoin(pts, iv, Seq("user_id"), "ts", "s", "e",
        Seq("iv_id"), bucketMs = 10L, maxBucketsPerInterval = 4).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("rangeJoin"),
      String.valueOf(ex.getMessage))
  }
}
