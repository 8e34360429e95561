package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.gate.{GateFixtures, GateTable}

/** Spark-job budgets per call: each call runs in its own job group, a
 * SparkListener counts the group's jobs, and the call's result is
 * consumed (collected), so lazy work is counted too. Job counts repeat
 * run to run within one job, so each budget is the count measured when it
 * was set plus 2. A call that needs more has gained per-job overhead: find
 * the new jobs before raising its budget. */
class JobBudgetSpec extends TestBase with SparkEvents {
  import spark.implicits._

  /** A 25-nation table: the vertex set of the circulant ANF fixture. */
  private lazy val nationDir: String = {
    val dir = Files.createTempDirectory("job-budget-spec").toString
    (0 until 25).map(n => (n, s"NATION_$n")).toDF("n_nationkey", "n_name")
      .write.parquet(s"$dir/nation.parquet")
    dir
  }

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    try rm(new java.io.File(nationDir)) finally super.afterAll()
  }

  private def gateRow(name: String): Seq[DataFrame] =
    Seq(GateTable.rows.find(_.name == name).get.run(spark, nationDir))

  /** (call, budget, the frames the call returns). */
  private val budgets: Seq[(String, Int, () => Seq[DataFrame])] = Seq(
    ("g_neighborhood", 11, () => gateRow("g_neighborhood")),
    ("g_avg_distance", 12, () => gateRow("g_avg_distance")),
    ("g_effective_diameter", 15, () => gateRow("g_effective_diameter")),
    // the distributed ANF rounds, which the gate rows no longer reach
    ("neighborhoodFunction", 62, () => Seq(GateFixtures.circulantGraph(spark, nationDir)
      .neighborhoodFunction.setSmallGraphThreshold(0).run())),
    ("pageRank", 9, () => {
      val pr = friends.pageRank.maxIter(10).run()
      Seq(pr.vertices, pr.edges)
    }),
    ("labelPropagation", 6, () => Seq(friends.labelPropagation.maxIter(5).run())),
    ("kCore", 6, () => Seq(friends.kCore.run())),
    ("louvain", 6, () => Seq(friends.louvain.run())),
    ("articulationPoints", 2, () => Seq(friends.twoConnectivity.articulationPoints())),
    // string ids from the edges alone: each tail's join-back is its local
    // relation, whose consumption runs no Spark job
    ("articulationPoints fromEdges", 2, () =>
      Seq(GraphFrame.fromEdges(friends.edges).twoConnectivity.articulationPoints())),
    ("pageRank fromEdges", 5, () => {
      val pr = GraphFrame.fromEdges(friends.edges).pageRank.maxIter(10).run()
      Seq(pr.vertices, pr.edges)
    }),
    // (src, dst) edges: the tail's weighted edges are its local relation too
    ("pageRank fromEdges (src, dst)", 2, () => {
      val pr = GraphFrame.fromEdges(friends.edges.select("src", "dst")).pageRank.maxIter(10).run()
      Seq(pr.vertices, pr.edges)
    }),
    ("labelPropagation fromEdges", 2, () =>
      Seq(GraphFrame.fromEdges(friends.edges).labelPropagation.maxIter(5).run())),
    ("kCore fromEdges", 2, () => Seq(GraphFrame.fromEdges(friends.edges).kCore.run())),
    ("louvain fromEdges", 2, () => Seq(GraphFrame.fromEdges(friends.edges).louvain.run())),
    ("connectedComponents", 4, () => Seq(friends.connectedComponents.run())),
    // string ids from the edges alone: the vertex ids are the collected
    // endpoints, so the tail reads no vertex table
    ("connectedComponents fromEdges", 2, () =>
      Seq(GraphFrame.fromEdges(friends.edges).connectedComponents.run())),
    // the star-contraction rounds, which the tail above skips
    ("connectedComponents rounds", 39, () =>
      Seq(friends.connectedComponents.setSmallGraphThreshold(0).run())),
    // distributed bodies whose round results are kept cuts
    ("maximalIndependentSet rounds", 20, () =>
      Seq(friends.maximalIndependentSet.setHashMode("md5").setSmallGraphThreshold(0).run())),
    ("greedyColoring rounds", 56, () =>
      Seq(friends.greedyColoring.setHashMode("md5").setSmallGraphThreshold(0).run())),
    ("stronglyConnectedComponents rounds", 91, () =>
      Seq(friends.stronglyConnectedComponents.maxIter(3).setSmallGraphThreshold(0).run())))

  for ((call, budget, run) <- budgets)
    test(s"$call runs at most $budget Spark jobs") {
      spark.catalog.clearCache()
      val jobs = observed(run().foreach(_.collect())).jobs
      info(s"$call: $jobs Spark jobs")
      assert(jobs <= budget, s"$call ran $jobs Spark jobs, budget $budget")
    }
}
