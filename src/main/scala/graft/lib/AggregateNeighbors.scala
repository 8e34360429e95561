package graft.lib

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.GraphFrame

/**
 * Multi-hop neighborhood traversal with two modes (role of reference
 * lib/AggregateNeighbors.scala:43-459):
 *
 * '''Path-accumulator mode''' (the reference's primary surface): BFS from
 * `setStartingVertices` seeds, carrying named accumulators per PATH;
 * every hop evaluates each accumulator's update expression over the
 * traversed triplet (`srcAttr`/`dstAttr`/`edgeAttr` accessors), and a
 * path leaves the frontier when the stopping or target condition fires.
 * Returns `(<accumulators...>, id, hop)` — one row per finished path.
 * As in the reference, conditions see the PRE-update accumulator values
 * and the current triplet (both are evaluated in one projection over the
 * joined frontier).
 *
 * '''Per-hop aggregation mode''' (`agg(...)`): for every origin vertex,
 * aggregate expressions over the hop-h neighbor rows
 * ([[AggregateNeighbors.nbr]]); returns `(id, hop, <one column per
 * aggregate>)`.
 *
 * `setRemoveLoops` semantics differ per mode, mirroring each mode's
 * origin: path mode drops self-loop edges pre-traversal (reference
 * default false, AggregateNeighbors.scala:292-296); agg mode drops
 * frontier entries returning to the ORIGIN (default true).
 *
 * Scale: the triplet table is shaped once as (src, dst, edge/dst attr
 * structs), pre-partitioned on the join key and cached; each hop is one
 * join (plus, in agg mode, a hash aggregation on origin). Frontier and
 * per-round results run through [[IterationManager]] lineage cuts, so
 * plans stay constant-depth regardless of maxHops. Path mode enumerates
 * PATHS — on graphs with high fan-out, bound it with stopping conditions
 * (the reference carries the same contract).
 */
class AggregateNeighbors(g: GraphFrame) {
  import GraphFrame.{ID, SRC, DST}
  import AggregateNeighbors._

  private val aggs = ArrayBuffer.empty[Column]
  private var maxHops: Int = -1 // default per mode: agg 1, path 3
  private var edgeFilterV: Option[Column] = None
  private var targetConditionV: Option[Column] = None
  private var dedupNeighbors: Boolean = false
  private var removeLoopsV: Option[Boolean] = None

  private var startingVerticesV: Column = lit(true)
  private var stoppingConditionV: Option[Column] = None
  private val accNames = ArrayBuffer.empty[String]
  private val accInits = ArrayBuffer.empty[Column]
  private val accUpdates = ArrayBuffer.empty[Column]
  private var requiredVertexAttributesV: Seq[String] = Nil
  private var requiredEdgeAttributesV: Seq[String] = Nil

  /** Aggregates computed per (origin, hop) over neighbor rows (per-hop
   * aggregation mode; mutually exclusive with accumulators). */
  def agg(cols: Column*): this.type = { aggs ++= cols; this }
  def setMaxHops(n: Int): this.type = {
    require(n > 0, "maxHops should be positive."); maxHops = n; this
  }
  /** Pre-filter applied before traversal. In agg mode it sees raw edge
   * columns; in path mode it is applied per traversed triplet and may
   * reference `srcAttr`/`dstAttr`/`edgeAttr` and accumulators. */
  def setEdgeFilter(cond: Column): this.type = { edgeFilterV = Some(cond); this }
  /** Path mode: marks a triplet's destination as a target — the path's
   * accumulators are saved and the path stops. Agg mode: keep only
   * neighbors whose row satisfies `cond` (applied per hop). */
  def setTargetCondition(cond: Column): this.type = { targetConditionV = Some(cond); this }
  /** Agg mode only: count each distinct vertex once per (origin, hop)
   * instead of once per path. */
  def setDedupNeighbors(b: Boolean): this.type = { dedupNeighbors = b; this }
  def setRemoveLoops(b: Boolean): this.type = { removeLoopsV = Some(b); this }

  /** Path mode: seed predicate over vertex rows (default: all). */
  def setStartingVertices(cond: Column): this.type = { startingVerticesV = cond; this }
  /** Path mode: when true for a traversed triplet, stop extending the
   * path (saved to the output unless a target condition is also set, in
   * which case only target hits are saved). */
  def setStoppingCondition(cond: Column): this.type = { stoppingConditionV = Some(cond); this }
  /** Path mode: define all accumulators at once (names/inits/updates
   * aligned by index). */
  def setAccumulators(names: Seq[String], inits: Seq[Column],
      updates: Seq[Column]): this.type = {
    require(names.size == inits.size && inits.size == updates.size,
      "Inits, updates and names must have the same size.")
    accNames.clear(); accInits.clear(); accUpdates.clear()
    accNames ++= names; accInits ++= inits; accUpdates ++= updates; this
  }
  /** Path mode: add one accumulator; `init` is evaluated on seed vertex
   * rows, `update` per traversed triplet (may reference the accumulator's
   * own previous value by name). */
  def addAccumulator(name: String, init: Column, update: Column): this.type = {
    accNames += name; accInits += init; accUpdates += update; this
  }
  /** Path mode: carry only these vertex columns through the traversal
   * (default: all) — narrows the shuffled structs. */
  def setRequiredVertexAttributes(vs: Seq[String]): this.type = {
    requiredVertexAttributesV = vs; this
  }
  /** Path mode: carry only these edge columns (default: all). */
  def setRequiredEdgeAttributes(vs: Seq[String]): this.type = {
    requiredEdgeAttributesV = vs; this
  }

  def run(): DataFrame = {
    require(aggs.isEmpty || accNames.isEmpty,
      "aggregateNeighbors: agg(...) and addAccumulator(...) are mutually exclusive modes")
    if (accNames.nonEmpty) runPaths() else runAgg()
  }

  // -------------------------------------------------------------------
  // Path-accumulator mode (reference semantics)
  // -------------------------------------------------------------------

  private def runPaths(): DataFrame = IterationManager.scoped(g.spark) { mgr =>
    val hops = if (maxHops == -1) 3 else maxHops
    require(stoppingConditionV.orElse(targetConditionV).isDefined,
      "Any of target or stopping conditions should be provided")
    val removeLoops = removeLoopsV.getOrElse(false)

    val reqV = if (requiredVertexAttributesV.isEmpty) g.vertices.columns.toSeq
      else requiredVertexAttributesV
    val reqE = if (requiredEdgeAttributesV.isEmpty) g.edges.columns.toSeq
      else requiredEdgeAttributesV
    def vAttr = struct(reqV.map(c => col(GraphFrame.quoteName(c))).toIndexedSeq: _*)
    val eAttr = struct(reqE.map(c => col(GraphFrame.quoteName(c))).toIndexedSeq: _*)

    val edges0 = if (removeLoops) g.edges.filter(col(SRC) =!= col(DST)) else g.edges
    // (src, dst, edge_attributes, dst_attributes), co-partitioned by src;
    // left join tolerates dangling endpoints exactly like the reference
    val semiTriplets = mgr.persistOnly(edges0
      .select(col(SRC).as("_an_src"), col(DST).as("_an_dst"), eAttr.as(EDGE_ATTRS))
      .join(g.vertices.select(col(ID).as("_an_dst"), vAttr.as(DST_ATTRS)),
        Seq("_an_dst"), "left")
      .repartition(col("_an_src")))

    val stateCols = (accNames.toSeq ++ Seq(SRC_ATTRS, "_an_sid", "hop")).map(col)
    val finishedCols = (accNames.toSeq.map(col) :+ col("_an_sid").as(ID) :+ col("hop"))

    var states: DataFrame = g.vertices
      .filter(startingVerticesV)
      .withColumns(accNames.zip(accInits).toMap)
      .withColumn(SRC_ATTRS, vAttr)
      .withColumnRenamed(ID, "_an_sid")
      .withColumn("hop", lit(0))
      .select(stateCols: _*)
    val finishedParts = ArrayBuffer.empty[DataFrame]

    val isTarget = targetConditionV.getOrElse(lit(false))
    val shouldStop = stoppingConditionV.getOrElse(lit(false)) || isTarget
    val saved = if (targetConditionV.isDefined) isTarget else shouldStop

    var iter = 0
    var converged = states.isEmpty
    while (!converged && iter < hops) {
      iter += 1
      var trip = states.join(semiTriplets, col("_an_sid") === col("_an_src"))
      trip = edgeFilterV.map(trip.filter).getOrElse(trip)
      // one projection: updates AND conditions see the pre-update
      // accumulators plus the current triplet (reference contract)
      val updated = trip.select(
        (accUpdates.zip(accNames).map { case (u, n) => u.as(n) }.toSeq ++ Seq(
          shouldStop.as("_an_stop"), saved.as("_an_save"),
          lit(iter).as("hop"), col("_an_dst").as("_an_sid"),
          col(DST_ATTRS).as(SRC_ATTRS))).toIndexedSeq: _*)
      val persisted = mgr.cycle(updated, iter)
      finishedParts += persisted.filter(col("_an_save")).select(finishedCols: _*)
      states = persisted.filter(!col("_an_stop")).select(stateCols: _*)
      converged = states.isEmpty
    }

    val empty = g.vertices.filter(startingVerticesV)
      .withColumns(accNames.zip(accInits).toMap)
      .withColumn("hop", lit(0))
      .withColumnRenamed(ID, "_an_sid")
      .select(finishedCols: _*).filter(lit(false))
    mgr.finish(finishedParts.foldLeft(empty)(_ unionByName _))
  }

  // -------------------------------------------------------------------
  // Per-hop aggregation mode
  // -------------------------------------------------------------------

  private def runAgg(): DataFrame = IterationManager.scoped(g.spark) { mgr =>
    require(aggs.nonEmpty, "aggregateNeighbors: at least one aggregate required")
    val hops = if (maxHops == -1) 1 else maxHops
    val removeLoops = removeLoopsV.getOrElse(true)
    val edges0 = edgeFilterV.map(g.edges.filter).getOrElse(g.edges)
    // (src, neighbor-id, neighbor-struct), co-partitioned by src for reuse
    val nbrTable = mgr.persistLazy(
      edges0.select(col(SRC).as("_an_src"), col(DST).as("_an_dst"))
        .join(g.vertices.select(col(ID).as("_an_dst"), GraphFrame.nestAsCol(g.vertices, NBR)),
          "_an_dst")
        .repartition(col("_an_src")))

    // frontier: (origin, current)
    var frontier = g.vertices.select(col(ID).as("_an_origin"), col(ID).as("_an_cur"))
    val results = ArrayBuffer.empty[DataFrame]
    var hop = 1
    var exhausted = false
    while (hop <= hops && !exhausted) {
      var stepped = frontier.join(nbrTable, col("_an_cur") === col("_an_src"))
        .select(col("_an_origin"), col("_an_dst"), col(NBR))
      if (removeLoops) stepped = stepped.filter(col("_an_origin") =!= col("_an_dst"))
      if (dedupNeighbors)
        stepped = stepped.dropDuplicates("_an_origin", "_an_dst")
      val kept = targetConditionV.map(stepped.filter).getOrElse(stepped)
      val agged = kept.groupBy(col("_an_origin").as(ID))
        .agg(aggs.head, aggs.tail.toSeq: _*)
      val accCols = agged.columns.filter(_ != ID)
      results += agged.select(
        (col(ID) +: lit(hop).as("hop") +: accCols.map(col).toSeq).toIndexedSeq: _*)
      frontier = mgr.cycle(
        stepped.select(col("_an_origin"), col("_an_dst").as("_an_cur")), hop)
      exhausted = frontier.isEmpty
      hop += 1
    }
    mgr.finish(results.reduce(_ unionByName _))
  }
}

object AggregateNeighbors {
  private[graft] val NBR = "nbr"
  private[graft] val SRC_ATTRS = "src_attributes"
  private[graft] val DST_ATTRS = "dst_attributes"
  private[graft] val EDGE_ATTRS = "edge_attributes"

  /** Field of the neighbor's vertex row inside agg-mode expressions. */
  def nbr(field: String): Column = col(s"$NBR.$field")
  /** Path mode: the path head's vertex attribute (pre-traversal side). */
  def srcAttr(field: String): Column = col(SRC_ATTRS).getField(field)
  /** Path mode: the traversed edge's destination vertex attribute. */
  def dstAttr(field: String): Column = col(DST_ATTRS).getField(field)
  /** Path mode: the traversed edge's attribute. */
  def edgeAttr(field: String): Column = col(EDGE_ATTRS).getField(field)
}
