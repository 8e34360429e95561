package graft.lib

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraphFrame
import graft.expressions.SortedArrayIntersect

/**
 * K-truss decomposition (engine extension; the edge-centric companion of
 * [[TriangleCount]]/[[KCore]]): the maximal subgraph in which every edge
 * closes at least k-2 triangles WITHIN the subgraph. Standard iterative
 * peeling (Cohen 2008): compute per-edge support, drop under-supported
 * edges, repeat until a fixpoint — dropping an edge can undercut its
 * neighbors, so the cascade, not one pass, is the algorithm.
 *
 * Execution per round (same shapes as [[TriangleCount]]'s sub-threshold
 * path): canonicalize once to an undirected simple graph; build
 * value-sorted adjacency arrays (one hash agg); per-edge support is ONE
 * merge-walk intersect ([[SortedArrayIntersect]]) per edge — no
 * per-triangle row ever materializes, so triangle-dense graphs cost
 * O(edges x avg-degree) comparisons, not O(triangles) rows. Rounds run
 * through [[IterationManager]] lineage cuts; the loop exits at the
 * fixpoint, whose support values are by definition computed on the final
 * edge set (the round that drops nothing). Hub caveat as TriangleCount's:
 * a >~10^4-degree hub makes the adjacency array the bottleneck — at that
 * shape route through `spark.graft.triangleCount.hubthreshold`-style
 * orientation first (deliberately not done here: oriented credit needs
 * per-triangle explosion, the wrong trade below the hub regime).
 *
 * Returns the truss edges `(src, dst, support)` (canonical src < dst,
 * support >= k-2 within the truss).
 */
class KTruss(g: GraphFrame) {
  import GraphFrame.{SRC, DST}

  private var kV: Int = 3
  private var maxIterV: Int = 100

  /** Truss order k >= 2 (k = 2 keeps every edge of the simple graph). */
  def setK(k: Int): this.type = {
    require(k >= 2, s"k-truss needs k >= 2, got $k"); kV = k; this
  }
  /** Peeling-round cap (a cascade longer than this returns the cap's
   * intermediate state; default 100 covers any non-adversarial graph). */
  def maxIter(n: Int): this.type = {
    require(n > 0, "maxIter should be positive."); maxIterV = n; this
  }

  def run(): DataFrame = IterationManager.scoped(g.spark) { mgr =>
    var edges = mgr.cycle(g.edges
      .filter(col(SRC) =!= col(DST))
      .select(least(col(SRC), col(DST)).as(SRC), greatest(col(SRC), col(DST)).as(DST))
      .distinct(), 0)
    var n = edges.count()
    var round = 0
    var result: Option[DataFrame] = None
    while (result.isEmpty && round < maxIterV) {
      round += 1
      val kept = support(edges).filter(col("support") >= kV - 2)
      val cut = mgr.cycle(kept, round)
      val n2 = cut.count()
      // nothing dropped: these supports were computed on exactly the
      // surviving edge set — the fixpoint, valid to hand out as-is
      if (n2 == n) result = Some(cut) else { edges = cut.select(col(SRC), col(DST)); n = n2 }
    }
    mgr.finish(result.getOrElse(support(edges).filter(col("support") >= kV - 2)))
  }

  /** Per-edge triangle support of a canonical undirected edge set. */
  private def support(canon: DataFrame): DataFrame = {
    val nbrs = canon.select(col(SRC).as("_kt_id"), col(DST).as("nb"))
      .unionAll(canon.select(col(DST).as("_kt_id"), col(SRC).as("nb")))
      .groupBy("_kt_id").agg(sort_array(collect_set(col("nb"))).as("_kt_nbrs"))
    canon
      .join(nbrs.select(col("_kt_id").as(SRC), col("_kt_nbrs").as("_kt_sn")), SRC)
      .join(nbrs.select(col("_kt_id").as(DST), col("_kt_nbrs").as("_kt_dn")), DST)
      .select(col(SRC), col(DST),
        SortedArrayIntersect.sortedIntersectSize(col("_kt_sn"), col("_kt_dn"))
          .cast("long").as("support"))
  }
}
