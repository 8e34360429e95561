package graft

import org.apache.spark.sql.functions._

/** Graph Voronoi cells (GraphFrame.voronoi). */
class VoronoiSpec extends TestBase {
  import spark.implicits._

  test("voronoi assigns closest seed, ties to smaller seed, null unreachable") {
    // chain 0->1->2->3->4 with seeds {0, 4}: distance is measured FROM the
    // vertex TO the seed along directed edges, so only 4 is reachable
    // (everyone reaches 4 downstream; nobody reaches 0 except itself)
    val g = chain(5)
    val got = g.voronoi(Seq(0L, 4L)).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toMap
    assert(got == Map(0L -> (0L, 0), 1L -> (4L, 3), 2L -> (4L, 2),
      3L -> (4L, 1), 4L -> (4L, 0)), got.toString)
  }
}
