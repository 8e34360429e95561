package graft

import org.apache.spark.sql.functions._

/** Count-Min Sketch operators of pipeline.Sketches. */
class SketchesSpec extends TestBase {
  import spark.implicits._

  test("cmsTopK: wide sketch is exact; narrow sketch only overestimates") {
    val data = (Seq.fill(5)("x") ++ Seq.fill(3)("y") ++ Seq.fill(2)("z") ++
      Seq("w")).zipWithIndex.map { case (k, i) => (i.toLong, k) }
      .toDF("id", "key")
    val top = pipeline.Sketches.cmsTopK(data, "key", k = 3, depth = 4,
        width = 4096)
      .select(col("key"), col("est"), col("rank"))
      .as[(String, Long, Long)].collect().toSeq
    assert(top == Seq(("x", 5L, 1L), ("y", 3L, 2L), ("z", 2L, 3L)), top.toString)
    val exact = Map("x" -> 5L, "y" -> 3L, "z" -> 2L, "w" -> 1L)
    val narrow = pipeline.Sketches
      .cmsEstimate(pipeline.Sketches.cmsCounters(data, "key", 2, 2),
        data.select("key"), "key", 2, 2)
      .as[(String, Long)].collect()
    narrow.foreach { case (k, est) =>
      assert(est >= exact(k), s"CMS underestimated $k: $est < ${exact(k)}")
    }
  }

  test("cms counter table is bounded by depth x width") {
    val data = (1 to 500).map(i => (i.toLong, s"k$i")).toDF("id", "key")
    val n = pipeline.Sketches.cmsCounters(data, "key", depth = 3, width = 8).count()
    assert(n <= 24, s"counter table has $n rows")
  }

  test("cmsEstimate drops null candidate keys like cmsCounters") {
    val data = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "key")
    val counters = pipeline.Sketches.cmsCounters(data, "key", 4, 64)
    val keys = Seq(Some("x"), None, Some("y")).toDF("key")
    val est = pipeline.Sketches.cmsEstimate(counters, keys, "key", 4, 64)
      .collect()
    assert(!est.exists(_.isNullAt(0)), "null key row leaked into estimates")
    assert(est.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("x" -> 2L, "y" -> 1L))
  }

  test("cmsTopK single-pass spelling equals the counter-build + estimate reference") {
    val toks = spark.createDataFrame(
      (0 until 300).map(i => Tuple1(s"tok${i % 17}"))).toDF("term")
    val got = pipeline.Sketches.cmsTopK(toks, "term", k = 5, depth = 3, width = 16)
    val counters = pipeline.Sketches.cmsCounters(toks, "term", depth = 3, width = 16)
    val est = pipeline.Sketches.cmsEstimate(counters, toks.select(col("term")),
      "term", depth = 3, width = 16)
    val ref = est.orderBy(col("est").desc, col("key").asc).limit(5)
      .select(col("key"), col("est"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("est").desc, col("key").asc)).cast("long").as("rank"))
    assert(rows(got) == rows(ref))
  }
}
