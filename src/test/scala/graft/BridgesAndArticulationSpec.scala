package graft

import org.apache.spark.sql.functions._

/** The shared bridges + articulation-points pipeline of TwoConnectivity. */
class BridgesAndArticulationSpec extends TestBase {
  import spark.implicits._

  test("bridgesAndArticulationPoints equals the separate runs (local tail)") {
    val g = friends
    val (b, a) = g.twoConnectivity.bridgesAndArticulationPoints()
    val b1 = g.twoConnectivity.bridges()
      .as[(String, String, Boolean)].collect().toSet
    val a1 = g.twoConnectivity.articulationPoints()
      .as[(String, Boolean)].collect().toSet
    assert(b.as[(String, String, Boolean)].collect().toSet == b1)
    assert(a.as[(String, Boolean)].collect().toSet == a1)
  }

  test("bridgesAndArticulationPoints: ONE forced-distributed pipeline " +
      "matches the driver-tail invariants") {
    // tree 0-1, 0-2, 1-3, 1-4 plus chord 3-4: bridges = 0-1? no — the
    // chord closes the 1-3-4 cycle, so bridges are 0-1 and 0-2; cut
    // vertices are 0 (root, two subtrees) and 1 (3,4 escape only to 1)
    val v = (0L to 4L).toDF("id")
    val e = Seq((0L, 1L), (0L, 2L), (1L, 3L), (1L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val g = GraphFrame(v, e)
    val (bd, ad) = g.twoConnectivity.setSmallGraphThreshold(0)
      .bridgesAndArticulationPoints()
    val bridges = bd.filter(col("is_bridge"))
      .as[(Long, Long, Boolean)].collect().map(t => (t._1, t._2)).toSet
    assert(bridges == Set((0L, 1L), (0L, 2L)), bridges.toString)
    val arts = ad.filter(col("is_articulation")).as[(Long, Boolean)]
      .collect().map(_._1).toSet
    assert(arts == Set(0L, 1L), arts.toString)
    // and the local tail agrees on the same graph
    val (bl, al) = g.twoConnectivity.bridgesAndArticulationPoints()
    assert(bl.as[(Long, Long, Boolean)].collect().toSet ==
      bd.as[(Long, Long, Boolean)].collect().toSet)
    assert(al.as[(Long, Boolean)].collect().toSet ==
      ad.as[(Long, Boolean)].collect().toSet)
  }
}
