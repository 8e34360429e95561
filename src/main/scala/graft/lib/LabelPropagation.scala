package graft.lib

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.GraphFrame

/**
 * Synchronous community detection by label propagation (CDLP; semantics:
 * reference lib/LabelPropagation.scala:49-146 / LDBC Graphalytics CDLP).
 *
 * Each round every vertex adopts the most frequent label among its
 * incoming neighbors, ties broken toward the smallest label (the LDBC
 * rule). Aggregation is `mode(msg, deterministic = true)` — a
 * `TypedImperativeAggregate` whose buffer is a (label → count) hash map
 * merged map-side, so a 10⁷-degree hub holds one entry per DISTINCT
 * incoming label instead of materializing every message in a
 * `collect_list` buffer (the reference's histogram shape,
 * reference lib/LabelPropagation.scala:132-140, does the latter).
 * Deterministic mode returns the smallest among equally-frequent values —
 * exactly the LDBC tie-break.
 */
class LabelPropagation(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var maxIterV: Int = 5
  private var directed: Boolean = true

  def maxIter(n: Int): this.type = { maxIterV = n; this }
  /** Undirected mode sends labels across edges in both directions. */
  def setDirected(d: Boolean): this.type = { directed = d; this }

  /** "graphframes" (the only backend) — reference
   * lib/LabelPropagation.scala:58-70 parity; "graphx" is rejected like
   * ConnectedComponents' (this engine has no RDD path, SURVEY §7). */
  def setAlgorithm(a: String): this.type = {
    a match {
      case "graphframes" => this
      case "graphx" => throw new IllegalArgumentException(
        "labelPropagation algorithm 'graphx' is not available: this engine is " +
          "DataFrame-only (no vendored GraphX backend); use 'graphframes'")
      case other => throw new IllegalArgumentException(
        s"unknown labelPropagation algorithm '$other' (supported: graphframes)")
    }
  }

  /** The driver tail (docs/THRESHOLDS.md row 2) replays mode's
   * deterministic smallest-tie-break with the id type's Spark ordering. */
  def run(): DataFrame =
    gateOrdered(g.edges.select(col(SRC), col(DST)), g.vertices.schema(ID).dataType)(
      runLocal)(_ => runDistributed())

  private def runDistributed(): DataFrame = {
    // mode() ignores nulls and returns null on an empty group; a vertex
    // with no mail sees a null msg and keeps its label
    val newLabel = when(Pregel.msg.isNull, col("label")).otherwise(Pregel.msg)

    val pregel = g.pregel
      .withVertexColumn("label", col(ID), newLabel)
      .sendMsgToDst(Pregel.src("label"))
      .aggMsgs(mode(Pregel.msg, deterministic = true))
      .setMaxIter(maxIterV)
    if (!directed) pregel.sendMsgToSrc(Pregel.dst("label"))
    pregel.run()
  }

  /** Driver tail: identical synchronous histogram rounds. Multi-edge
   * rows each contribute a vote (matching the per-edge-row message
   * send); edges with an endpoint absent from the vertex table drop
   * (the Pregel state join drops them); a vertex with no mail keeps its
   * label; ties break to the smallest label under the id type's Spark
   * ordering — exactly mode(deterministic = true). */
  private def runLocal(e: DataFrame, ord: Ordering[Any]): DataFrame = {
    import scala.collection.mutable
    val (edges, eps) = LocalTail.collectGraph(e, g)
    val vids = eps.vids
    val valid = vids.toSet
    // per-edge-row votes: directed sends src→dst; undirected both ways
    val sends: Array[(Any, Any)] = {
      val fwd = edges.filter { case (s, d) => valid(s) && valid(d) }
      if (directed) fwd else fwd ++ fwd.map { case (s, d) => (d, s) }
    }
    var label = mutable.HashMap.empty[Any, Any]
    vids.foreach(v => label(v) = v)
    for (_ <- 1 to maxIterV) {
      val hist = mutable.HashMap.empty[Any, mutable.HashMap[Any, Long]]
      sends.foreach { case (from, to) =>
        val h = hist.getOrElseUpdate(to, mutable.HashMap.empty)
        val l = label(from)
        h(l) = h.getOrElse(l, 0L) + 1L
      }
      val next = mutable.HashMap.empty[Any, Any]
      vids.foreach { v =>
        next(v) = hist.get(v) match {
          case Some(h) =>
            val top = h.values.max
            h.collect { case (l, c) if c == top => l }.min(ord)
          case None => label(v) // no mail: keep
        }
      }
      label = next
    }
    // vertices touching no edge never receive mail: label = own id
    LocalTail.joinBack(g, vids.map(v => Row(v, label(v))),
      Seq(LocalTail.Out("label", g.vertices.schema(ID).dataType, col(ID))))(
      vertexIdsFor(g, Some(eps)))
  }
}
