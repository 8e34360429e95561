package graft

import org.apache.spark.sql.functions._

/** The chained-round loop (IterationManager.chained, RoundsPerCut rounds
 * chained lazily per lineage cut) must never change the trajectory: the
 * distributed paths of its six users match their local tails. */
class RoundsPerCycleSpec extends TestBase {
  import spark.implicits._

  // 25-vertex circulant with chords, forced DISTRIBUTED (threshold 0) so
  // the batched superstep loop itself is under test, not the local tail
  private def fixture: GraphFrame = {
    val v = (0L until 25L).toDF(GraphFrame.ID)
    val e = v.select(col(GraphFrame.ID).as(GraphFrame.SRC),
        pmod(col(GraphFrame.ID) + 7, lit(25)).as(GraphFrame.DST))
      .unionByName(v.filter(col(GraphFrame.ID) % 3 === 0)
        .select(col(GraphFrame.ID).as(GraphFrame.SRC),
          pmod(col(GraphFrame.ID) * 3 + 1, lit(25)).as(GraphFrame.DST)))
      .filter(col(GraphFrame.SRC) =!= col(GraphFrame.DST))
    GraphFrame(v, e)
  }

  private def assertSame(runs: Seq[Map[Long, Seq[Double]]], tag: String): Unit = {
    val base = runs.head
    for (m <- runs.tail; (k, xs) <- base) {
      val ys = m(k)
      xs.zip(ys).foreach { case (x, y) =>
        // sums are re-associated across plans, so exact bit equality is
        // not the contract — agreement far below the oracle's 6-decimal
        // rounding is
        assert(math.abs(x - y) <= 1e-12 * math.max(1.0, math.abs(x)),
          s"$tag vertex $k: $xs vs $ys")
      }
    }
  }

  // maxIter values span several cuts, end on an odd round (a one-round
  // last chunk) and, for Katz and Eigenvector, cross the round-8 guard
  test("batched distributed path still matches the local tail") {
    val g = fixture
    def scores(df: org.apache.spark.sql.DataFrame, n: Int): Map[Long, Seq[Double]] =
      df.collect().map(r => r.getLong(0) -> (1 to n).map(r.getDouble)).toMap
    def pair(tag: String, run: Long => Map[Long, Seq[Double]]): Unit =
      assertSame(Seq(run(0L), run(100000L)), tag)
    pair("eigenvector", t => scores(
      g.eigenvector.maxIter(10).setSmallGraphThreshold(t).run(), 1))
    pair("katz", t => scores(
      g.katz.alpha(0.05).beta(1.0).maxIter(9).setSmallGraphThreshold(t).run(), 1))
    pair("hits", t => scores(g.hits.maxIter(5).setSmallGraphThreshold(t).run(), 2))
    pair("salsa", t => scores(g.salsa.maxIter(5).setSmallGraphThreshold(t).run(), 2))

    val timed = GraphFrame(g.vertices, g.edges.withColumn("time",
      (pmod(col(GraphFrame.SRC) * 2 + col(GraphFrame.DST), lit(7)) + 1).cast("double")))
    def arrivals(maxIter: Int, t: Long): Map[Long, Option[Double]] =
      new lib.TemporalReachability(timed).source(0L).timeCol("time")
        .maxIter(maxIter).setSmallGraphThreshold(t).run().collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    // 3 hops bind before the fixpoint: fewer vertices than 50 hops reach
    val bound = arrivals(3, 0L)
    assert(bound.values.count(_.isDefined) < arrivals(50, 0L).values.count(_.isDefined),
      "maxIter 3 should bind before the fixpoint")
    assert(bound == arrivals(3, 100000L), "temporalReachability")

    // p = 1 makes the cascade a plain BFS, several cuts deep: maxIter 5
    // binds on an odd level, the default stops at the first empty one
    def levels(maxIter: Int, t: Long): Map[Long, Option[Int]] =
      new lib.IndependentCascade(g).p(1.0).maxIter(maxIter).setSmallGraphThreshold(t)
        .run(Seq(0L)).collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Int])).toMap
    for (maxIter <- Seq(5, 50)) {
      val dist = levels(maxIter, 0L)
      assert(dist.values.flatten.max >= 3, s"the cascade should span several cuts: $dist")
      assert(dist == levels(maxIter, 100000L), s"independentCascade maxIter $maxIter")
    }
  }

  test("hits maxIter=0 still normalizes the all-ones init (no loop, no observation)") {
    val m = fixture.hits.maxIter(0).setSmallGraphThreshold(0).run().collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // 25 vertices, all-ones both columns → each value 1/sqrt(25) = 0.2
    assert(m.size == 25 && m.values.forall { case (h, a) =>
      math.abs(h - 0.2) < 1e-15 && math.abs(a - 0.2) < 1e-15 }, m.toString)
  }
}
