package graft.lib

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.GraphFrame

/**
 * K-core decomposition (semantics: reference lib/KCore.scala:37-108):
 * every vertex's coreness — the largest k such that the vertex belongs to
 * a subgraph where all degrees are >= k.
 *
 * Pregel fixpoint: core starts at (undirected) degree; each round a vertex
 * recomputes core = capped h-index of its neighbors' cores — combined
 * incrementally by [[graft.expressions.HIndexAgg]] over sender-clamped
 * messages (equivalent to the [[graft.expressions.KCoreMerge]] list
 * kernel, without materializing a hub's inbox) — and the loop halts
 * when no core changed (voting-to-halt). Isolated vertices get core 0.
 *
 * Output: `id, kcore: int` (+ original vertex attributes).
 */
class KCore(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var maxIterV: Int = Int.MaxValue

  def maxIter(n: Int): this.type = { maxIterV = n; this }

  /** The driver tail (docs/THRESHOLDS.md row 2) runs identical
   * synchronous capped-h-index rounds with the same all-changed stop and
   * maxIter cap, so even a cap-truncated mid-convergence state matches
   * the distributed one. */
  def run(): DataFrame =
    gate(g, g.edges.select(col(SRC), col(DST)), edgeRows = true)(runLocal)(e => runDistributed(
      // undirected simple graph
      e.filter(col(SRC) =!= col(DST))
        .select(least(col(SRC), col(DST)).as(SRC), greatest(col(SRC), col(DST)).as(DST))
        .distinct()))

  private def runDistributed(canon: DataFrame): DataFrame = {
    val gU = GraphFrame(g.vertices, canon)
    val deg = gU.degrees
    val v = g.vertices.join(deg, Seq(ID), "left_outer").na.fill(0, Seq("degree"))
    val g2 = GraphFrame(v, canon)

    // The sender clamps its core to the receiver's current core: the capped
    // h-index only compares neighbor cores against ranks <= own core, so
    // min(nbr, own) preserves the result exactly while letting the message
    // combine run as a value->count histogram (<= core+1 entries) instead
    // of a collect_list inbox that grows with a hub's degree. The
    // [[KCoreMerge]] list kernel remains the user-facing/SQL form.
    val clamped = least(Pregel.src("kcore"), Pregel.dst("kcore"))
    val newCore = when(Pregel.msg.isNull, col("kcore"))
      .otherwise(least(Pregel.msg, col("kcore")))

    g2.pregel
      .withVertexColumn("kcore", col("degree"), newCore)
      .sendMsgToSrc(clamped)
      .sendMsgToDst(clamped)
      .aggMsgs(graft.expressions.IterAggregates.hIndex(Pregel.msg))
      .setMaxIter(maxIterV)
      .setInitialActiveVertexExpression(lit(true))
      .setUpdateActiveVertexExpression(newCore =!= col("kcore"))
      .setStopIfAllNonActiveVertices(true)
      .run()
      .drop("degree")
  }

  /** Driver tail: the same synchronous rounds — new core = min(own,
   * h-index of neighbors' sender-clamped cores), computed from the OLD
   * cores, until a round changes nothing or maxIter. Vertices touching
   * no edge stay at core 0 via the join-back fill. The undirected simple
   * graph is built here from the collected edges: self-loops dropped,
   * each neighbor once. */
  private def runLocal(lg: LocalGraph): DataFrame = {
    import scala.collection.mutable
    val (edges, vids) = (lg.edges, lg.vids)
    val valid = vids.toSet
    val adj = mutable.HashMap.empty[Any, mutable.LinkedHashSet[Any]]
    edges.iterator.filter { case (s, d) => s != d && valid(s) && valid(d) }.foreach {
      case (s, d) =>
        adj.getOrElseUpdate(s, mutable.LinkedHashSet.empty) += d
        adj.getOrElseUpdate(d, mutable.LinkedHashSet.empty) += s
    }
    def hIndex(values: Seq[Int]): Int = {
      val sorted = values.sorted(Ordering.Int.reverse)
      var h = 0
      while (h < sorted.length && sorted(h) >= h + 1) h += 1
      h
    }
    var core = mutable.HashMap.empty[Any, Int]
    vids.foreach(v => core(v) = adj.get(v).map(_.size).getOrElse(0))
    var round = 0
    var changed = true
    while (changed && round < maxIterV) {
      changed = false
      val next = mutable.HashMap.empty[Any, Int]
      vids.foreach { v =>
        val c = core(v)
        val nc = adj.get(v) match {
          case Some(ns) if ns.nonEmpty =>
            math.min(c, hIndex(ns.toSeq.map(n => math.min(core(n), c))))
          case _ => c
        }
        if (nc != c) changed = true
        next(v) = nc
      }
      core = next
      round += 1
    }
    lg.joinBack(vids.map(v => Row(v, core(v))), Seq(LocalTail.Out("kcore", IntegerType, lit(0))))
  }
}
