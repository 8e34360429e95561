package graft

import org.apache.spark.sql.functions._

/** Per-community conductance (GraphFrame.conductance). */
class ConductanceSpec extends TestBase {
  import spark.implicits._

  test("conductance: cut / min(vol, 2m - vol) per community") {
    // two triangles bridged by 2-3; communities = the triangles
    val v = Seq((0L, "A"), (1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"), (5L, "B"))
      .toDF("id", "com")
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L), (5L, 3L),
      (2L, 3L)).toDF("src", "dst")
    val got = GraphFrame(v, e).conductance("com")
      .as[(String, Long, Long, Long, Double)].collect().toSet
    // each side: vol 7, cut 1, internal 3; 2m = 14 -> 1/7
    assert(got == Set(("A", 7L, 1L, 3L, 0.142857), ("B", 7L, 1L, 3L, 0.142857)),
      got.toString)
    // one community holding everything: cut 0 but min(vol, 2m-vol) = 0
    val all = GraphFrame(v.withColumn("com", lit("X")), e).conductance("com")
      .collect()
    assert(all.length == 1 && all(0).isNullAt(4))
  }
}
