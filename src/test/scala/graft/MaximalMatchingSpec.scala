package graft

import org.apache.spark.sql.functions._

/** Maximal matching (lib.MaximalMatching): matching invariants, weights,
 * and driver tail == distributed rounds. */
class MaximalMatchingSpec extends TestBase {
  import spark.implicits._

  test("maximalMatching: matching, maximal, and tail == distributed") {
    // two triangles joined by a bridge — a matching has <= 3 edges
    val v = (0L to 5L).toDF("id")
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L),
      (4L, 5L), (5L, 3L)).toDF("src", "dst")
    val g = GraphFrame(v, e)
    def run(threshold: Long) = g.maximalMatching.seed(7L)
      .setSmallGraphThreshold(threshold).run()
      .as[(Long, Long, Int)].collect().toSet
    val tail = run(1000000)
    val dist = run(0)
    assert(tail == dist, s"$tail vs $dist")
    // matching: no two edges share a vertex
    val verts = tail.toSeq.flatMap(t => Seq(t._1, t._2))
    assert(verts.distinct.size == verts.size, tail.toString)
    // maximal: every graph edge touches a matched vertex
    val matched = verts.toSet
    Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 3L))
      .foreach { case (a, b) =>
        assert(matched(a) || matched(b), s"edge ($a,$b) escaped the matching")
      }
  }

  test("weighted maximalMatching picks locally dominant edges") {
    val v = (0L to 2L).toDF("id")
    val e = Seq((0L, 1L, 1.0), (1L, 2L, 5.0), (0L, 2L, 1.0))
      .toDF("src", "dst", "w")
    val g = GraphFrame(v, e)
    def run(th: Long) = g.maximalMatching.weightCol("w")
      .setSmallGraphThreshold(th).run()
      .as[(Long, Long, Double, Int)].collect().toSet
    // the heaviest edge (1,2) dominates both its endpoints in round 0 and
    // blocks the rest of the triangle — the Preis greedy pick
    val tail = run(1000000)
    assert(tail == Set((1L, 2L, 5.0, 0)), tail.toString)
    assert(run(0) == tail, "weighted tail != distributed")
  }

  test("maximalMatching on a single edge matches it in round 0") {
    val g = GraphFrame((0L to 1L).toDF("id"), Seq((0L, 1L)).toDF("src", "dst"))
    val got = g.maximalMatching.run().as[(Long, Long, Int)].collect().toSeq
    assert(got == Seq((0L, 1L, 0)), got.toString)
  }

  test("maximal matching: NaN weights rejected, -0.0 equals 0.0") {
    val v = (0L until 4L).toDF(GraphFrame.ID)
    val bad = Seq((0L, 1L, Double.NaN)).toDF(
      GraphFrame.SRC, GraphFrame.DST, "w")
    val err = intercept[IllegalArgumentException] {
      GraphFrame(v, bad).maximalMatching.weightCol("w").run()
    }
    assert(err.getMessage.contains("NaN"))
    // -0.0 vs 0.0 must not flip the tail/distributed agreement
    val mixed = Seq((0L, 1L, -0.0), (1L, 2L, 0.0), (2L, 3L, -0.0)).toDF(
      GraphFrame.SRC, GraphFrame.DST, "w")
    def pairs(g: org.apache.spark.sql.DataFrame) =
      g.select(GraphFrame.SRC, GraphFrame.DST).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val tail = pairs(GraphFrame(v, mixed).maximalMatching.seed(7L)
      .weightCol("w").run())
    val dist = pairs(GraphFrame(v, mixed).maximalMatching.seed(7L)
      .weightCol("w").setSmallGraphThreshold(0).run())
    assert(tail == dist && tail.nonEmpty, s"tail=$tail dist=$dist")
  }
}
