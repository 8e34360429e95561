package graft

import org.apache.spark.sql.functions._

/**
 * Randomized differential over the round-9 driver tails: on pseudo-random
 * small graphs (fixed seeds — deterministic suite), every operator with a
 * small-graph tail must produce IDENTICAL results through both execution
 * paths (threshold high = local tail, threshold 0 = distributed
 * supersteps). This is the guard for the tails' core claim: not "same
 * answer at convergence" but same answer, period — including mid-
 * convergence caps exercised by the per-operator specs. The last test
 * runs every builder of [[TailCases]] through both paths.
 */
class TailParitySpec extends TestBase with TailCases {
  import spark.implicits._

  /** xorshift-ish deterministic edge list: no RNG state in the suite. */
  private def randomGraph(seed: Long, n: Int, m: Int): GraphFrame = {
    var x = seed
    def next(): Long = { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; math.abs(x) }
    val edges = (1 to m).map(_ => (next() % n, next() % n))
    val v = (0L until n.toLong).toDF("id")
    GraphFrame(v, edges.toDF("src", "dst"))
  }

  private val graphs = Seq(
    randomGraph(0xA5F3L, 9, 14),
    randomGraph(0x1234L, 12, 25),
    randomGraph(0xBEEFL, 7, 7)) // sparse: isolates + tails

  private def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => f"$d%.9f" // float-noise-tolerant canonical form
      case x => String.valueOf(x)
    }.mkString("|")).toSet

  test("pagerank fixed + tol: local == distributed on random graphs") {
    for ((g, i) <- graphs.zipWithIndex) {
      val l = canon(g.pageRank.maxIter(6).setSmallGraphThreshold(100000).run()
        .vertices.select(col("id"), round(col("pagerank"), 7)))
      val d = canon(g.pageRank.maxIter(6).setSmallGraphThreshold(0).run()
        .vertices.select(col("id"), round(col("pagerank"), 7)))
      assert(l == d, s"graph $i fixed")
      val lt = canon(g.pageRank.tol(0.01).setSmallGraphThreshold(100000).run()
        .vertices.select(col("id"), round(col("pagerank"), 7)))
      val dt = canon(g.pageRank.tol(0.01).setSmallGraphThreshold(0).run()
        .vertices.select(col("id"), round(col("pagerank"), 7)))
      assert(lt == dt, s"graph $i tol")
    }
  }

  test("label propagation: local == distributed on random graphs") {
    for ((g, i) <- graphs.zipWithIndex) {
      val l = canon(g.labelPropagation.maxIter(3).setSmallGraphThreshold(100000).run()
        .select("id", "label"))
      val d = canon(g.labelPropagation.maxIter(3).setSmallGraphThreshold(0).run()
        .select("id", "label"))
      assert(l == d, s"graph $i")
    }
  }

  test("scc: local == distributed on random graphs") {
    for ((g, i) <- graphs.zipWithIndex) {
      val l = canon(g.stronglyConnectedComponents.setSmallGraphThreshold(100000).run()
        .select("id", "component"))
      val d = canon(g.stronglyConnectedComponents.setSmallGraphThreshold(0).run()
        .select("id", "component"))
      assert(l == d, s"graph $i")
    }
  }

  test("cycles: local == distributed on random graphs") {
    for ((g, i) <- graphs.zipWithIndex) {
      val l = canon(g.detectingCycles.maxIter(8).setSmallGraphThreshold(100000).run())
      val d = canon(g.detectingCycles.maxIter(8).setSmallGraphThreshold(0).run())
      assert(l == d, s"graph $i")
    }
  }

  test("kcore: local == distributed on random graphs") {
    for ((g, i) <- graphs.zipWithIndex) {
      val l = canon(g.kCore.setSmallGraphThreshold(100000).run().select("id", "kcore"))
      val d = canon(g.kCore.setSmallGraphThreshold(0).run().select("id", "kcore"))
      assert(l == d, s"graph $i")
    }
  }

  test("mis (md5): local == distributed on random graphs") {
    for ((g, i) <- graphs.zipWithIndex) {
      val l = canon(g.maximalIndependentSet.setHashMode("md5")
        .setSmallGraphThreshold(100000).run().select("id"))
      val d = canon(g.maximalIndependentSet.setHashMode("md5")
        .setSmallGraphThreshold(0).run().select("id"))
      assert(l == d, s"graph $i")
    }
  }

  test("every driver tail == its distributed path on the weighted friends graph") {
    val mismatched = tailCases.filter { c =>
      val g = GraphFrame(friends.vertices, tailEdges(c.edgeCols))
      canon(c.run(g, 100000L)) != canon(c.run(g, 0L))
    }
    assert(mismatched.isEmpty, s"tail != distributed: ${mismatched.map(_.name)}")
  }
}
