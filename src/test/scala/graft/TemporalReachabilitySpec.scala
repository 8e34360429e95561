package graft

import org.apache.spark.sql.functions._

/** Earliest-arrival temporal reachability (lib.TemporalReachability):
 * semantics, driver tail == distributed rounds, and hop batching. */
class TemporalReachabilitySpec extends TestBase {
  import spark.implicits._

  test("temporal reachability respects non-decreasing edge times") {
    val v = (0L to 3L).toDF("id")
    val e = Seq((0L, 1L, 5.0), (1L, 2L, 3.0), (1L, 2L, 7.0), (0L, 3L, 1.0))
      .toDF("src", "dst", "time")
    val got = new lib.TemporalReachability(GraphFrame(v, e))
      .source(0L).startTime(0.0).timeCol("time").run()
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1.0 else r.getDouble(1))).toMap
    // arrive at 1 at t=5; the t=3 edge to 2 already departed -> t=7 wins
    assert(got == Map(0L -> 0.0, 1L -> 5.0, 2L -> 7.0, 3L -> 1.0), got.toString)
  }

  test("temporal reachability: driver tail equals the distributed rounds") {
    val v = (0L to 5L).toDF("id")
    val e = Seq((0L, 1L, 2.0), (1L, 2L, 1.0), (1L, 3L, 4.0), (3L, 4L, 4.0),
      (4L, 5L, 3.0), (0L, 4L, 9.0)).toDF("src", "dst", "time")
    def arr(threshold: Long) = new lib.TemporalReachability(GraphFrame(v, e))
      .source(0L).startTime(0.0).timeCol("time")
      .setSmallGraphThreshold(threshold).run()
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1.0 else r.getDouble(1))).toMap
    assert(arr(0) == arr(1000000), s"${arr(0)} vs ${arr(1000000)}")
    assert(arr(0) == Map(0L -> 0.0, 1L -> 2.0, 2L -> -1.0, 3L -> 4.0,
      4L -> 4.0, 5L -> -1.0), arr(0).toString)
  }

  test("temporal reachability: durations shift arrivals; late start strands") {
    val v = (0L to 2L).toDF("id")
    val e = Seq((0L, 1L, 5.0, 2.0), (1L, 2L, 6.0, 1.0))
      .toDF("src", "dst", "time", "dur")
    val got = new lib.TemporalReachability(GraphFrame(v, e))
      .source(0L).startTime(0.0).timeCol("time").durationCol("dur").run()
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1.0 else r.getDouble(1))).toMap
    // arrive 1 at 5+2=7 > 6, so the onward edge already departed
    assert(got == Map(0L -> 0.0, 1L -> 7.0, 2L -> -1.0), got.toString)
    val late = new lib.TemporalReachability(GraphFrame(v, e))
      .source(0L).startTime(9.0).timeCol("time").durationCol("dur").run()
      .filter(col("arrival").isNotNull).count()
    assert(late == 1) // only the source itself
  }

  test("temporal tail matches distributed rounds when maxIter binds") {
    // chain 0 -(t1)-> 1 -(t2)-> 2 -(t3)-> 3, edge list ordered so an
    // in-place sweep would propagate ALL hops in one pass; at maxIter=1
    // only the 1-hop arrival exists on BOTH paths
    val v = (0L to 3L).toDF("id")
    val e = Seq((0L, 1L, 1.0), (1L, 2L, 2.0), (2L, 3L, 3.0))
      .toDF("src", "dst", "time")
    def arr(threshold: Long, iters: Int) =
      new lib.TemporalReachability(GraphFrame(v, e))
        .source(0L).startTime(0.0).timeCol("time").maxIter(iters)
        .setSmallGraphThreshold(threshold).run()
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) -1.0 else r.getDouble(1))).toMap
    val tail1 = arr(1000000, 1)
    val dist1 = arr(0, 1)
    assert(tail1 == dist1, s"$tail1 vs $dist1")
    assert(tail1 == Map(0L -> 0.0, 1L -> 1.0, 2L -> -1.0, 3L -> -1.0),
      tail1.toString)
    val tail2 = arr(1000000, 2)
    assert(tail2 == arr(0, 2), s"maxIter=2 parity")
    assert(tail2(2L) == 2.0 && tail2(3L) == -1.0, tail2.toString)
  }

  test("temporal reachability: chained distributed fixpoint equals the tail") {
    val v = (0L until 25L).toDF(GraphFrame.ID)
    val e = v.select(col(GraphFrame.ID).as(GraphFrame.SRC),
        pmod(col(GraphFrame.ID) + 7, lit(25)).as(GraphFrame.DST))
      .withColumn("time",
        (pmod(col(GraphFrame.SRC) * 2 + col(GraphFrame.DST), lit(7)) + 1)
          .cast("double"))
    val runs = Seq(0L, 1000000L).map { t =>
      new lib.TemporalReachability(GraphFrame(v, e)).source(0L)
        .timeCol("time").setSmallGraphThreshold(t).run()
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    }
    assert(runs.distinct.size == 1, runs.toString)
  }

  test("temporal reachability: binding maxIter = exactly maxIter sweeps under batching") {
    val v = (0L until 6L).toDF(GraphFrame.ID)
    // chain 0 -> 1 -> ... -> 5, all times 1: arrival 1 everywhere reachable
    val e = v.filter(col(GraphFrame.ID) < 5)
      .select(col(GraphFrame.ID).as(GraphFrame.SRC),
        (col(GraphFrame.ID) + 1).as(GraphFrame.DST))
      .withColumn("time", lit(1.0))
    def reached(maxIter: Int) =
      new lib.TemporalReachability(GraphFrame(v, e)).source(0L)
        .timeCol("time").maxIter(maxIter).setSmallGraphThreshold(0).run()
        .filter(col("arrival").isNotNull).count()
    // n sweeps reach exactly vertices 0..n, whether the last chunk of
    // chained hops is full (2, 4) or a single hop (1, 3)
    assert((1 to 4).map(reached) == Seq(2, 3, 4, 5))
  }
}
