package graft.lib

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraphFrame

/**
 * Directed-cycle enumeration, Rocha–Thatte style (semantics: reference
 * lib/DetectingCycles.scala:14-105).
 *
 * Vertex state is the frontier of simple paths ending at the vertex.
 * A path only propagates to vertices with id >= the path's head, so each
 * cycle is detected exactly once — at its minimum vertex. A path closing
 * on its head is recorded as a found cycle.
 *
 * Output: one row per cycle, `found_cycles: array<idType>` listing the
 * cycle's vertices starting at its minimum.
 */
class DetectingCycles(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var maxIterV: Int = 50

  def maxIter(n: Int): this.type = { maxIterV = n; this }

  /** The driver tail (docs/THRESHOLDS.md row 2) is sound because the
   * enumerated SET is schedule-independent: exactly the simple directed
   * cycles with ≤ maxIter vertices, each reported once as the rotation
   * starting at its minimum vertex — the head-vertex propagation guard
   * makes every non-head vertex strictly greater than the head, which the
   * local DFS replays with the id type's Spark ordering. */
  def run(): DataFrame =
    gateOrdered(g.edges.select(col(SRC), col(DST)), g.vertices.schema(ID).dataType)(
      runLocal)(_ => runDistributed())

  private def runDistributed(): DataFrame = {
    // empty array<array<idType>> literal, valid for any id type
    val emptyPaths = slice(array(array(col(ID))), 1, 0)

    // send each path onward unless extending it below its head would make
    // the cycle discoverable at a smaller vertex too (canonicalization)
    val sendable = filter(Pregel.src("paths"),
      p => element_at(p, 1) <= Pregel.dst(ID))
    val msg = when(size(sendable) > 0, sendable).otherwise(lit(null))

    val incoming = coalesce(Pregel.msg, emptyPaths)
    val closed = filter(incoming, p => element_at(p, 1) === col(ID))
    val continuing = transform(
      filter(incoming, p => element_at(p, 1) =!= col(ID) && !array_contains(p, col(ID))),
      p => array_append(p, col(ID)))

    val res = g.pregel
      .withVertexColumn("paths", array(array(col(ID))), continuing)
      .withVertexColumn("found", emptyPaths, array_union(col("found"), closed))
      .sendMsgToDst(msg)
      .aggMsgs(flatten(collect_list(Pregel.msg)))
      .setMaxIter(maxIterV)
      .setEarlyStopping(true)
      .run()

    res.select(explode(col("found")).as("found_cycles")).distinct()
  }

  /** Driver tail: bounded DFS from every head in ascending order —
   * extensions only to strictly-greater unvisited vertices (the
   * distributed head guard), closures only back to the head, cycle size
   * capped at maxIter. Parallel edges dedup through the result set,
   * matching the distributed array_union + distinct. */
  private def runLocal(e: DataFrame, ord: Ordering[Any]): DataFrame = {
    import scala.collection.mutable
    val (edges, eps) = LocalTail.collectGraph(e, g)
    val vids = eps.vids
    val valid = vids.toSet
    val adj = edges.iterator
      .filter { case (s, d) => valid(s) && valid(d) }
      .toArray.distinct
      .groupBy(_._1).map { case (s, es) =>
        (s, es.map(_._2).sortBy(String.valueOf(_)))
      }
    val cycles = mutable.LinkedHashSet.empty[Seq[Any]]
    val path = mutable.ArrayBuffer.empty[Any]
    val onPath = mutable.HashSet.empty[Any]
    def dfs(head: Any): Unit = {
      val last = path.last
      for (nxt <- adj.getOrElse(last, Array.empty[Any])) {
        if (nxt == head && path.size <= maxIterV) cycles += path.toSeq
        else if (ord.gt(nxt, head) && !onPath(nxt) && path.size < maxIterV) {
          path += nxt; onPath += nxt
          dfs(head)
          path.remove(path.size - 1); onPath -= nxt
        }
      }
    }
    for (head <- vids.sortBy(String.valueOf(_))) {
      path.clear(); onPath.clear()
      path += head; onPath += head
      dfs(head)
    }
    val idField = g.vertices.schema(ID)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("found_cycles",
        org.apache.spark.sql.types.ArrayType(idField.dataType, containsNull = true))))
    val rel: java.util.List[org.apache.spark.sql.Row] = java.util.Arrays.asList(
      cycles.toSeq.sortBy(_.map(String.valueOf(_)).mkString("\u0000"))
        .map(c => org.apache.spark.sql.Row(c)): _*)
    g.spark.createDataFrame(rel, schema)
  }
}
