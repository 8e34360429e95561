package graft.lib

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.GraphFrame

/**
 * Katz centrality (beyond the reference's library): fixed-iteration
 * power series `x ← β + α · Aᵀ x` — every vertex earns β per round plus
 * α times the centrality of its in-neighbors, counting walks of all
 * lengths with geometric damping (PageRank without the out-degree
 * normalization; convergent for α below the reciprocal spectral radius,
 * and always well-defined at fixed maxIter).
 *
 * Scale: one hash-aggregated edge join per round — the same shuffle
 * shape as a PageRank round — with rounds through the
 * [[IterationManager]].
 */
class Katz(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var alphaV: Double = 0.1
  private var betaV: Double = 1.0
  private var maxIterV: Int = 10

  def alpha(a: Double): this.type = { alphaV = a; this }
  def beta(b: Double): this.type = { betaV = b; this }
  def maxIter(n: Int): this.type = { maxIterV = n; this }
  /** Returns vertices + `katz: double`. Driver tail cost: see [[Hits.run]]. */
  def run(): DataFrame =
    // pinned on both paths: re-joined every round, and possibly an
    // expensive upstream query
    gate(g.edges.select(col(SRC), col(DST)), pinForDistributed = true)(
      runLocal)(runDistributed)

  private def runDistributed(e: DataFrame): DataFrame =
    // no convergence probe, no overflow guard — the series is
    // geometrically damped for sensible α
    IterationManager.chained(
      g.vertices.select(col(ID), lit(betaV).as("katz")), maxIterV,
      result = g.vertices.join(_, Seq(ID), "left_outer")) { (cur, _) =>
      val in = e.join(cur.select(col(ID).as(SRC), col("katz")), SRC)
        .groupBy(col(DST).as(ID)).agg(sum("katz").as("_k"))
      cur.select(col(ID))
        .join(in, Seq(ID), "left_outer")
        .select(col(ID),
          (lit(betaV) + lit(alphaV) * coalesce(col("_k"), lit(0.0))).as("katz"))
    }

  /** Driver-side tail: identical recurrence, sorted-edge accumulation
   * order. A vertex touching no edge earns exactly β every round — filled
   * in closed form by the join-back. */
  private def runLocal(e: DataFrame): DataFrame = {
    import scala.collection.mutable
    val (edges, eps) = LocalTail.collectGraph(e, g)
    val vids = eps.vids
    val valid = vids.toSet
    var x = mutable.HashMap.empty[Any, Double]
    vids.foreach(v => x(v) = betaV)
    for (_ <- 1 to maxIterV) {
      val in = mutable.HashMap.empty[Any, Double]
      vids.foreach(v => in(v) = 0.0)
      edges.foreach { case (s, d) =>
        if (valid(s) && valid(d)) in(d) += x(s)
      }
      val nx = mutable.HashMap.empty[Any, Double]
      vids.foreach(v => nx(v) = betaV + alphaV * in(v))
      x = nx
    }
    LocalTail.joinBack(g, vids.map(v => Row(v, x(v))), Seq(LocalTail.score("katz", betaV)))(
      vertexIdsFor(g, Some(eps)))
  }
}
