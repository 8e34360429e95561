package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Every builder with a bounded driver tail, as a run over a graph at a
 * given small-graph threshold (100000 takes the tail on the friends graph,
 * 0 the distributed path). Shared by CacheHygieneSpec, which checks the
 * gate's pin hygiene on both paths, and TailParitySpec, which checks that
 * both paths give the same result. */
trait TailCases { self: TestBase =>

  /** `edgeCols` names the extra edge columns the builder reads. */
  case class TailCase(name: String, edgeCols: Seq[String], run: (GraphFrame, Long) => DataFrame)

  val tailCases: Seq[TailCase] = Seq(
    TailCase("connectedComponents", Nil,
      (g, t) => g.connectedComponents.setSmallGraphThreshold(t).run()),
    TailCase("stronglyConnectedComponents", Nil,
      (g, t) => g.stronglyConnectedComponents.maxIter(3).setSmallGraphThreshold(t).run()),
    TailCase("labelPropagation", Nil,
      (g, t) => g.labelPropagation.maxIter(2).setSmallGraphThreshold(t).run()),
    TailCase("pageRank", Nil,
      (g, t) => g.pageRank.maxIter(2).setSmallGraphThreshold(t).run().vertices),
    TailCase("pageRank edges", Nil,
      (g, t) => g.pageRank.maxIter(2).setSmallGraphThreshold(t).run().edges),
    TailCase("parallelPersonalizedPageRank", Nil,
      (g, t) => g.parallelPersonalizedPageRank.sourceIds(Seq("a")).maxIter(2)
        .setSmallGraphThreshold(t).run().vertices),
    TailCase("kCore", Nil, (g, t) => g.kCore.setSmallGraphThreshold(t).run()),
    TailCase("hits", Nil, (g, t) => g.hits.maxIter(2).setSmallGraphThreshold(t).run()),
    TailCase("katz", Nil, (g, t) => g.katz.maxIter(2).setSmallGraphThreshold(t).run()),
    TailCase("eigenvector", Nil,
      (g, t) => g.eigenvector.maxIter(2).setSmallGraphThreshold(t).run()),
    TailCase("salsa", Nil, (g, t) => g.salsa.maxIter(2).setSmallGraphThreshold(t).run()),
    TailCase("simRank", Nil,
      (g, t) => g.simRank.maxIter(1).setSmallGraphThreshold(t).run()),
    TailCase("twoConnectivity", Nil,
      (g, t) => g.twoConnectivity.setSmallGraphThreshold(t).bridges()),
    TailCase("twoConnectivity articulation", Nil,
      (g, t) => g.twoConnectivity.setSmallGraphThreshold(t).articulationPoints()),
    TailCase("minimumSpanningForest", Seq("w"),
      (g, t) => g.minimumSpanningForest.weightCol("w").setSmallGraphThreshold(t).run()),
    TailCase("betweenness", Nil, (g, t) => g.betweenness.setSmallGraphThreshold(t).run()),
    TailCase("betweenness edges", Nil,
      (g, t) => g.betweenness.setSmallGraphThreshold(t).runEdges()),
    TailCase("betweenness weighted", Seq("w"),
      (g, t) => g.betweenness.weightCol("w").setSmallGraphThreshold(t).run()),
    TailCase("closeness", Nil, (g, t) => g.closeness.setSmallGraphThreshold(t).run()),
    TailCase("closeness weighted", Seq("w"),
      (g, t) => g.closeness.weightCol("w").setSmallGraphThreshold(t).run()),
    TailCase("eccentricity", Nil, (g, t) => g.eccentricity.setSmallGraphThreshold(t).run()),
    TailCase("eccentricity weighted", Seq("w"),
      (g, t) => g.eccentricity.weightCol("w").setSmallGraphThreshold(t).run()),
    TailCase("detectingCycles", Nil,
      (g, t) => g.detectingCycles.maxIter(3).setSmallGraphThreshold(t).run()),
    TailCase("maximalIndependentSet", Nil,
      (g, t) => g.maximalIndependentSet.setHashMode("md5").setSmallGraphThreshold(t).run()),
    TailCase("maximalMatching", Nil,
      (g, t) => g.maximalMatching.setSmallGraphThreshold(t).run()),
    TailCase("greedyColoring", Nil,
      (g, t) => g.greedyColoring.setHashMode("md5").setSmallGraphThreshold(t).run()),
    TailCase("louvain", Nil, (g, t) => g.louvain.maxIter(2).setSmallGraphThreshold(t).run()),
    TailCase("independentCascade", Nil,
      (g, t) => new lib.IndependentCascade(g).p(1.0).maxIter(2)
        .setSmallGraphThreshold(t).run(Seq("a"))),
    TailCase("temporalReachability", Seq("time"),
      (g, t) => new lib.TemporalReachability(g).source("a").maxIter(2)
        .setSmallGraphThreshold(t).run()),
    TailCase("neighborhoodFunction", Nil,
      (g, t) => g.neighborhoodFunction.setSmallGraphThreshold(t).run()))

  /** The friends graph's edges narrowed to (src, dst) plus `extra`
   * columns, each an integer weight in 1..3 that is not the same on every
   * edge; `src` and `dst` are wrapped in `wrapSrc` and `wrapDst` (the
   * weights read the unwrapped ids). Built over an RDD, not a local
   * relation, so the optimizer cannot evaluate a wrapper while planning:
   * it runs in the first job that reads the wrapped column. */
  def tailEdges(extra: Seq[String], wrapSrc: Column => Column = c => c,
      wrapDst: Column => Column = c => c): DataFrame = {
    val base = spark.createDataFrame(friends.edges.rdd, friends.edges.schema)
    val weight = ((ascii(col("src")) + ascii(col("dst"))) % 3 + 1).cast("double")
    base.select(Seq(wrapSrc(col("src")).as("src"), wrapDst(col("dst")).as("dst")) ++
      extra.map(weight.as(_)): _*)
  }
}
