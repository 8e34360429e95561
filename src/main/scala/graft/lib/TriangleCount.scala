package graft.lib

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraphFrame
import graft.expressions.SortedArrayIntersect

/**
 * Exact per-vertex triangle counting (semantics: reference
 * lib/TriangleCount.scala:158-200), with a skew-adaptive physical strategy.
 *
 * Both paths canonicalize to an undirected simple graph, build value-sorted
 * adjacency arrays, and count common neighbors per edge with a merge-walk
 * intersect kernel ([[graft.expressions.SortedArrayIntersectSize]]) — one
 * primitive pass per edge instead of `array_intersect`'s per-row boxed hash
 * set (measured ~20x on a dense 350k-edge graph).
 *
 * Path selection on a one-row max-degree probe of the canonical graph:
 *
 *  - max degree <= `spark.graft.triangleCount.hubthreshold` (default 8192):
 *    FULL neighbor sets, per-edge count c = |N(u) ∩ N(v)|, per-vertex count
 *    = sum of incident c / 2. No per-triangle row ever materializes — on
 *    triangle-dense graphs (10^7+ triangles at 350k edges in the bench's
 *    skew fixture) that explode is otherwise the dominant cost.
 *
 *  - above the threshold: degree-ORIENTED adjacency (Suri & Vassilvitskii,
 *    "Counting Triangles and the Curse of the Last Reducer", WWW'11; also
 *    GraphX's strategy). Each edge points from its lower-(degree, id)
 *    endpoint to the higher, capping EVERY out-list — hub or not — at
 *    O(sqrt(2m)): a 10^7-degree hub's full neighbor set would both OOM the
 *    `collect_set` row and ride every incident edge through the join
 *    shuffle (the "last reducer"). A triangle with rank order a < b < c is
 *    found exactly once, on edge (a, b), as common out-neighbor c; the
 *    apexes are exploded from the intersection members for their +1 credit
 *    (the endpoint credits reuse the same persisted per-edge frame).
 *
 * The result is handed out lineage-cut ([[IterationManager.finish]]), so
 * internal caches are freed at return and no CacheManager bookkeeping can
 * invalidate it.
 */
class TriangleCount(g: GraphFrame) {
  import GraphFrame.{ID, SRC, DST}

  private var algorithmV: String = "exact"
  private var lgNomEntriesV: Int = 12

  /** "exact" (default) or "approx" (theta sketches) — reference
   * lib/TriangleCount.scala:63-72 builder parity; [[run]] routes. */
  def setAlgorithm(a: String): this.type = {
    require(a == "exact" || a == "approx",
      s"unsupported algorithm '$a'; supported algorithms: exact, approx")
    algorithmV = a; this
  }

  /** log2 nominal entries of the theta sketch (approx mode only). */
  def setLgNomEntries(n: Int): this.type = { lgNomEntriesV = n; this }

  /** Approximate variant using Spark 4.1 theta sketches (reference
   * lib/TriangleCount.scala:99-156): neighbor sets become theta sketches,
   * per-edge common-neighbor counts become intersection estimates. Trades
   * exactness for bounded sketch size on hub vertices — at web scale even
   * the oriented exact path pays O(sqrt(m)) rows; sketches bound it by
   * constant. */
  def runApprox(lgNomEntries: Int = 12): DataFrame = {
    val canon = canonical
    val nbrSk = canon.select(col(SRC).as(ID), col(DST).as("nb"))
      .unionAll(canon.select(col(DST).as(ID), col(SRC).as("nb")))
      .groupBy(ID).agg(expr(s"theta_sketch_agg(nb, $lgNomEntries)").as("sk"))
    val perEdge = canon
      .join(nbrSk.select(col(ID).as(SRC), col("sk").as("_tc_ss")), SRC)
      .join(nbrSk.select(col(ID).as(DST), col("sk").as("_tc_ds")), DST)
      .select(col(SRC), col(DST),
        expr("theta_sketch_estimate(theta_intersection(_tc_ss, _tc_ds))").as("_tc_c"))
    val perVertex = perEdge
      .select(explode(array(col(SRC), col(DST))).as(ID), col("_tc_c"))
      .groupBy(ID).agg(floor(sum(col("_tc_c")) / 2).cast("long").as("count"))
    g.vertices.join(perVertex, Seq(ID), "left_outer")
      .na.fill(0, Seq("count"))
  }

  private def canonical: DataFrame =
    g.edges
      .filter(col(SRC) =!= col(DST))
      .select(least(col(SRC), col(DST)).as(SRC), greatest(col(SRC), col(DST)).as(DST))
      .distinct()

  /** Full neighbor sets: c(u,v) = |N(u) ∩ N(v)|, vertex count = Σ c / 2.
   * Two credit rows per edge, zero per-triangle materialization. */
  private def intersectPlan(canon: DataFrame): DataFrame = {
    val nbrs = canon.select(col(SRC).as(ID), col(DST).as("nb"))
      .unionAll(canon.select(col(DST).as(ID), col(SRC).as("nb")))
      .groupBy(ID).agg(sort_array(collect_set(col("nb"))).as("_tc_nbrs"))

    canon
      .join(nbrs.select(col(ID).as(SRC), col("_tc_nbrs").as("_tc_sn")), SRC)
      .join(nbrs.select(col(ID).as(DST), col("_tc_nbrs").as("_tc_dn")), DST)
      .select(col(SRC), col(DST),
        SortedArrayIntersect.sortedIntersectSize(col("_tc_sn"), col("_tc_dn")).as("_tc_c"))
      .select(explode(array(col(SRC), col(DST))).as(ID), col("_tc_c"))
      .groupBy(ID).agg((sum(col("_tc_c")) / 2).cast("long").as("count"))
  }

  /** Degree-oriented adjacency: out-lists capped at O(sqrt(2m)) so a hub's
   * neighbor set neither OOMs its aggregation row nor rides every incident
   * edge through the shuffle. Pays one row per triangle for apex credits. */
  private def orientedPlan(canon: DataFrame, deg: DataFrame,
      mgr: IterationManager): DataFrame = {
    // rank = (degree, id); ties break on id (canon already has src < dst)
    val srcLower = col("_tc_ds") < col("_tc_dd") ||
      (col("_tc_ds") === col("_tc_dd") && col(SRC) < col(DST))
    val oriented = canon
      .join(deg.select(col(ID).as(SRC), col("_tc_deg").as("_tc_ds")), SRC)
      .join(deg.select(col(ID).as(DST), col("_tc_deg").as("_tc_dd")), DST)
      .select(
        when(srcLower, col(SRC)).otherwise(col(DST)).as("_tc_lo"),
        when(srcLower, col(DST)).otherwise(col(SRC)).as("_tc_hi"))

    val adj = oriented.groupBy(col("_tc_lo").as("_tc_v"))
      .agg(sort_array(collect_set(col("_tc_hi"))).as("_tc_nbrs"))

    // inner joins are lossless: an endpoint with no out-list closes no
    // triangle on this edge, and empty intersections are filtered anyway
    val perEdge = mgr.persistOnly(oriented
      .join(adj.select(col("_tc_v").as("_tc_lo"), col("_tc_nbrs").as("_tc_ln")),
        Seq("_tc_lo"))
      .join(adj.select(col("_tc_v").as("_tc_hi"), col("_tc_nbrs").as("_tc_hn")),
        Seq("_tc_hi"))
      .select(col("_tc_lo"), col("_tc_hi"),
        SortedArrayIntersect.sortedIntersect(col("_tc_ln"), col("_tc_hn"))
          .as("_tc_common"))
      .select(col("_tc_lo"), col("_tc_hi"), col("_tc_common"),
        size(col("_tc_common")).as("_tc_c"))
      .filter(col("_tc_c") > 0))

    // two passes over the PERSISTED per-edge frame: endpoint credits from
    // skinny columns, apex credits from one raw-element explode
    val endpoints = perEdge
      .select(explode(array(col("_tc_lo"), col("_tc_hi"))).as(ID),
        col("_tc_c").cast("long").as("_tc_n"))
      .groupBy(ID).agg(sum(col("_tc_n")).as("_tc_e"))
    val apexes = perEdge
      .select(explode(col("_tc_common")).as(ID))
      .groupBy(ID).agg(count(lit(1)).as("_tc_a"))

    endpoints.join(apexes, Seq(ID), "full_outer")
      .select(col(ID),
        (coalesce(col("_tc_e"), lit(0L)) + coalesce(col("_tc_a"), lit(0L)))
          .cast("long").as("count"))
  }

  def run(): DataFrame = {
    if (algorithmV == "approx") runApprox(lgNomEntriesV) else runExact()
  }

  private def runExact(): DataFrame = IterationManager.scoped(g.spark) { mgr =>
    val canon = mgr.persistOnly(canonical)
    val deg = canon.select(explode(array(col(SRC), col(DST))).as(ID))
      .groupBy(ID).agg(count(lit(1)).as("_tc_deg"))

    // one-row skew probe (also materializes the canonical-edge cache)
    val maxDeg = deg.agg(max(col("_tc_deg"))).collect()(0) match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    val hubThreshold = graft.GraftConf.triangleHubThreshold.getOrElse(8192L)

    val perVertex =
      if (maxDeg <= hubThreshold) intersectPlan(canon)
      else orientedPlan(canon, deg, mgr)

    mgr.finish(
      g.vertices.join(perVertex, Seq(ID), "left_outer")
        .na.fill(0, Seq("count")))
  }
}
