package graft

import org.apache.spark.sql.functions._

/** The `graft.rmat` DSv2 R-MAT edge source. */
class RmatSourceSpec extends TestBase {
  import spark.implicits._

  test("graft.rmat pushes edge_id range filters into generation") {
    val src = spark.read.format("graft.rmat")
      .option("scale", 4).option("numEdges", 1000000)
      .option("numPartitions", 4).load()
    val pruned = src.filter(col("edge_id") >= 10 && col("edge_id") < 20)
    assert(pruned.count() == 10)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("range=[10,20)"), plan) // generation itself pruned
    assert(src.filter(col("edge_id") === 5).count() == 1)
  }

  test("graft.rmat DSv2 source matches GraphGenerators.rmat row for row") {
    val viaSource = spark.read.format("graft.rmat")
      .option("scale", 6).option("numEdges", 200).option("seed", 7)
      .option("numPartitions", 5).load()
    val viaExpr = sources.GraphGenerators.rmat(spark, scale = 6,
      numEdges = 200, seed = 7)
    assert(viaSource.schema == viaExpr.schema)
    val a = viaSource.as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val b = viaExpr.as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(a == b)
    assert(viaSource.rdd.getNumPartitions == 5)
  }

  test("graft.rmat prunes columns and validates options") {
    val src = spark.read.format("graft.rmat")
      .option("scale", 4).option("numEdges", 10).load()
    assert(src.count() == 10)
    assert(src.select("edge_id").as[Long].collect().sorted.toSeq == (0L until 10L))
    val plan = src.select("edge_id").queryExecution.executedPlan.toString
    assert(plan.contains("cols=edge_id"), plan)
    intercept[Exception] {
      spark.read.format("graft.rmat").option("scale", 99).load().collect()
    }
  }
}
