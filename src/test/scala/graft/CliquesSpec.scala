package graft

import org.apache.spark.sql.functions._

/** Triangle and 4-clique listing (lib.Cliques). */
class CliquesSpec extends TestBase {
  import spark.implicits._

  test("triangles and cliques4 on two bridged K4s") {
    val g = twoBlobs(4)
    val tri = lib.Cliques.triangles(g)
      .as[(Long, Long, Long)].collect().toSet
    val expectTri = (for {
      base <- Seq(0L, 4L)
      c <- Seq(0L, 1L, 2L, 3L).combinations(3)
    } yield (c(0) + base, c(1) + base, c(2) + base)).toSet
    assert(tri == expectTri, tri.toString)
    val quads = lib.Cliques.cliques4(g)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(quads == Set((0L, 1L, 2L, 3L), (4L, 5L, 6L, 7L)), quads.toString)
  }

  test("cliques4 finds nothing on a triangle-free graph") {
    assert(lib.Cliques.cliques4(chain(6)).count() == 0)
    assert(lib.Cliques.triangles(star(5)).count() == 0)
  }
}
