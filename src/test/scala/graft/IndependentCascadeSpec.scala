package graft

import org.apache.spark.sql.functions._

/** Independent-cascade influence spread (lib.IndependentCascade):
 * semantics and driver tail == distributed rounds. */
class IndependentCascadeSpec extends TestBase {
  import spark.implicits._

  test("independent cascade: p=1 is plain BFS; tail equals distributed") {
    val g = chain(5)
    def run(threshold: Long) = new lib.IndependentCascade(g)
      .p(1.0).hashSeed(3L).setSmallGraphThreshold(threshold).run(Seq(0L))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    val tail = run(1000000)
    assert(tail == Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3, 4L -> 4), tail.toString)
    assert(tail == run(0))
  }

  test("independent cascade: coins gate edges deterministically") {
    val g = star(6)
    val a = new lib.IndependentCascade(g).p(0.5).hashSeed(7L).run(Seq(0L))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    val b = new lib.IndependentCascade(g).p(0.5).hashSeed(7L).run(Seq(0L))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(a == b) // same hash seed -> same cascade
    val reached = a.count(_._2 >= 1)
    assert(reached >= 1 && reached < 6, a.toString) // p=.5 gates SOME leaves
    intercept[IllegalArgumentException] {
      new lib.IndependentCascade(g).run(Nil)
    }
  }

  test("independent cascade: chained distributed levels equal the tail") {
    val v = (0L until 25L).toDF(GraphFrame.ID)
    val e = v.select(col(GraphFrame.ID).as(GraphFrame.SRC),
      pmod(col(GraphFrame.ID) + 7, lit(25)).as(GraphFrame.DST))
    val runs = Seq(0L, 1000000L).map { t =>
      new lib.IndependentCascade(GraphFrame(v, e)).p(0.5).hashSeed(9L)
        .setSmallGraphThreshold(t).run(Seq(0L))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    }
    assert(runs.distinct.size == 1, runs.toString)
  }
}
