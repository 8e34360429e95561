package graft

import org.apache.spark.sql.functions._

/** The pipeline.releaseShared hook for operator-internal persists. */
class ReleaseSharedSpec extends TestBase {
  import spark.implicits._

  test("releaseShared frees operator-internal persists after consumption") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val rows = Seq((1L, "aa", "k"), (2L, "ab", "k"), (3L, "ba", "j"))
      .toDF("id", "name", "blk")
    val result = pipeline.Dedup.fuzzyPairs(rows, "id", "name", col("blk"),
      maxDist = 1, maxBlock = 10)
    result.count() // materializes; pins the internal block-filtered frame
    val pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(pinned.nonEmpty, "expected fuzzyPairs to pin its shared frame")
    pipeline.releaseShared(result)
    val after = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(after.isEmpty, s"still pinned after releaseShared: $after")
  }

  test("releaseShared on a plan with no cached subtrees is a no-op") {
    val df = Seq(1, 2, 3).toDF("x").filter(col("x") > 1)
    df.count()
    pipeline.releaseShared(df) // must not throw
    assert(df.count() == 2)
  }
}
