package graft.lib

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.GraphFrame

/**
 * Breadth-first search from a vertex set matching `fromExpr` to the first
 * hop at which some vertex matching `toExpr` is reached (semantics:
 * reference lib/BFS.scala:126-230).
 *
 * Returns one row per shortest path: struct columns
 * `from, e0, v1, e1, ..., to`. Zero-length paths (a vertex matching both
 * predicates) return `(from, to)` with identical structs. Empty result ⇒
 * no path within `maxPathLength`.
 */
class BFS(g: GraphFrame) {
  import GraphFrame.{ID, SRC, DST, EDGE}

  private var fromExprV: Option[Column] = None
  private var toExprV: Option[Column] = None
  private var maxPathLengthV: Int = 10
  private var edgeFilterV: Option[Column] = None

  def fromExpr(c: Column): this.type = { fromExprV = Some(c); this }
  def fromExpr(s: String): this.type = fromExpr(expr(s))
  def toExpr(c: Column): this.type = { toExprV = Some(c); this }
  def toExpr(s: String): this.type = toExpr(expr(s))
  def maxPathLength(n: Int): this.type = { maxPathLengthV = n; this }
  def edgeFilter(c: Column): this.type = { edgeFilterV = Some(c); this }

  def run(): DataFrame = {
    val from = fromExprV.getOrElse(throw new IllegalArgumentException("bfs: fromExpr required"))
    val to = toExprV.getOrElse(throw new IllegalArgumentException("bfs: toExpr required"))

    val vStruct = GraphFrame.nestAsCol(g.vertices, "_bfs_v")

    // zero-length paths: a vertex matching both predicates
    val zero = g.vertices.filter(from).filter(to)
      .select(vStruct.as("from"))
      .withColumn("to", col("from"))
    if (zero.take(1).nonEmpty) return zero

    val filteredEdges = edgeFilterV.map(g.edges.filter).getOrElse(g.edges)
    // one-hop table: (a: src-vertex struct, e: edge struct, b: dst-vertex struct)
    val a2b = filteredEdges.select(GraphFrame.nestAsCol(filteredEdges, "_bfs_e"))
      .join(g.vertices.select(vStruct.as("_bfs_a")),
        col(s"_bfs_e.$SRC") === col(s"_bfs_a.$ID"))
      .join(g.vertices.select(vStruct.as("_bfs_b")),
        col(s"_bfs_e.$DST") === col(s"_bfs_b.$ID"))
    val toIds = g.vertices.filter(to).select(col(ID))

    val sources = g.vertices.filter(from).select(vStruct.as("from"))
    if (sources.isEmpty) zero // empty frame with (from,to) schema
    else search(sources, a2b, toIds, zero)
  }

  /** The hop-by-hop search from the non-empty `sources` over the one-hop
   * table `a2b`; `zero` is the empty result. */
  private def search(sources: DataFrame, a2b: DataFrame, toIds: DataFrame,
      zero: DataFrame): DataFrame = IterationManager.scoped(g.spark) { mgr =>
    var paths = mgr.persistOnly(sources)
    var result: Option[DataFrame] = None
    var hop = 1
    while (result.isEmpty && hop <= maxPathLengthV) {
      val lastV = if (hop == 1) "from" else s"v${hop - 1}"
      val priorVs = "from" +: (1 until hop).map(i => s"v$i")
      var grown = paths.join(a2b, col(s"$lastV.$ID") === col(s"_bfs_a.$ID"))
      // no revisiting: the new endpoint must differ from every prior vertex
      val noBacktrack = priorVs.map(v => col(s"_bfs_b.$ID") =!= col(s"$v.$ID"))
        .reduce(_ && _)
      grown = grown.filter(noBacktrack)
        .select((paths.columns.map(c => col(GraphFrame.quoteName(c))) ++
          Seq(col("_bfs_e").as(s"e${hop - 1}"), col("_bfs_b").as(s"v$hop"))).toIndexedSeq: _*)

      val hits = grown.join(toIds, col(s"v$hop.$ID") === toIds(ID), "left_semi")
      if (hits.take(1).nonEmpty) {
        result = Some(hits.withColumnRenamed(s"v$hop", "to"))
      } else {
        paths = mgr.cycle(grown, hop)
        if (paths.isEmpty) result = Some(zero) // dead end: empty frame
      }
      hop += 1
    }
    // finish(): the winning hop's frame reads the cycled frontier, whose
    // lineage-cut blocks close() frees — make it self-contained first
    mgr.finish(result.getOrElse(zero))
  }
}
