package graft

import org.apache.spark.sql.functions._

/** roundsPerCycle batching of the fixed-round power-iteration family
 * (Eigenvector/Hits/Katz/Salsa) — k rounds chained lazily per lineage
 * cut must never change the trajectory. */
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

  test("eigenvector: roundsPerCycle never changes the trajectory") {
    val g = fixture
    val runs = Seq(1, 3, 8).map { k =>
      g.eigenvector.maxIter(10).setSmallGraphThreshold(0).roundsPerCycle(k)
        .run().collect()
        .map(r => r.getLong(0) -> Seq(r.getDouble(1))).toMap
    }
    assertSame(runs, "eigenvector")
  }

  test("katz: roundsPerCycle never changes the trajectory") {
    val g = fixture
    val runs = Seq(1, 3, 8).map { k =>
      g.katz.alpha(0.05).beta(1.0).maxIter(9).setSmallGraphThreshold(0)
        .roundsPerCycle(k).run().collect()
        .map(r => r.getLong(0) -> Seq(r.getDouble(1))).toMap
    }
    assertSame(runs, "katz")
  }

  test("hits: roundsPerCycle never changes the trajectory (odd maxIter)") {
    val g = fixture
    val runs = Seq(1, 3, 8).map { k =>
      g.hits.maxIter(5).setSmallGraphThreshold(0).roundsPerCycle(k)
        .run().collect()
        .map(r => r.getLong(0) -> Seq(r.getDouble(1), r.getDouble(2))).toMap
    }
    assertSame(runs, "hits")
  }

  test("salsa: roundsPerCycle never changes the trajectory") {
    val g = fixture
    val runs = Seq(1, 3, 8).map { k =>
      g.salsa.maxIter(5).setSmallGraphThreshold(0).roundsPerCycle(k)
        .run().collect()
        .map(r => r.getLong(0) -> Seq(r.getDouble(1), r.getDouble(2))).toMap
    }
    assertSame(runs, "salsa")
  }

  test("batched distributed path still matches the local tail") {
    val g = fixture
    def pair(tag: String, dist: => Map[Long, Seq[Double]],
        local: => Map[Long, Seq[Double]]): Unit =
      assertSame(Seq(dist, local), tag)
    pair("eigenvector",
      g.eigenvector.maxIter(10).setSmallGraphThreshold(0).run().collect()
        .map(r => r.getLong(0) -> Seq(r.getDouble(1))).toMap,
      g.eigenvector.maxIter(10).run().collect()
        .map(r => r.getLong(0) -> Seq(r.getDouble(1))).toMap)
    pair("hits",
      g.hits.maxIter(5).setSmallGraphThreshold(0).run().collect()
        .map(r => r.getLong(0) -> Seq(r.getDouble(1), r.getDouble(2))).toMap,
      g.hits.maxIter(5).run().collect()
        .map(r => r.getLong(0) -> Seq(r.getDouble(1), r.getDouble(2))).toMap)
  }

  test("roundsPerCycle rejects out-of-range k") {
    val g = fixture
    intercept[IllegalArgumentException] { g.eigenvector.roundsPerCycle(0) }
    intercept[IllegalArgumentException] { g.katz.roundsPerCycle(9) }
    intercept[IllegalArgumentException] { g.hits.roundsPerCycle(0) }
    intercept[IllegalArgumentException] { g.salsa.roundsPerCycle(9) }
  }

  test("hits maxIter=0 still normalizes the all-ones init (no loop, no observation)") {
    val m = fixture.hits.maxIter(0).setSmallGraphThreshold(0).run().collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // 25 vertices, all-ones both columns → each value 1/sqrt(25) = 0.2
    assert(m.size == 25 && m.values.forall { case (h, a) =>
      math.abs(h - 0.2) < 1e-15 && math.abs(a - 0.2) < 1e-15 }, m.toString)
  }
}
