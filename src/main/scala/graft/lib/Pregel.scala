package graft.lib

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedExtractValue}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GetStructField, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.GraphFrame

/**
 * Bulk-synchronous message-passing on DataFrames (the engine's iterative
 * workhorse; semantics follow reference lib/Pregel.scala:86-617).
 *
 * Each superstep:
 *   1. triplets = vertex-state structs joined to the (pre-partitioned,
 *      cached) edge table — the dst-side join is elided when no message
 *      expression needs dst attributes beyond `dst.id`;
 *   2. message generation: one `explode` pass emits (targetId, msg) pairs,
 *      null messages dropped;
 *   3. `groupBy(id).agg(aggMsgs)` — hash aggregate with map-side partials;
 *   4. vertex update: left_outer join of state ← messages, re-projection
 *      with the user's update expressions (vertices without mail see a
 *      null [[Pregel.msg]]);
 *   5. lineage truncation + persist queue via [[IterationManager]].
 *
 * Scale notes: the edge table is shaped `(src, dst, struct)` once,
 * repartitioned by `src`, and cached, so the per-iteration src join
 * reuses co-partitioning instead of reshuffling 100 TB of edges every
 * superstep. Vertex state is the only frame that moves per round.
 */
class Pregel(g: GraphFrame) {
  import GraphFrame.{ID, SRC, DST, EDGE}
  import Pregel.{MSG_COL, ACTIVE_COL}

  private case class VertexCol(name: String, init: Column, update: Column)
  private val vertexCols = ArrayBuffer.empty[VertexCol]
  private val msgsToSrc = ArrayBuffer.empty[Column]
  private val msgsToDst = ArrayBuffer.empty[Column]
  private var aggMsgsCol: Option[Column] = None
  private var maxIter: Int = 10
  private var checkpointInterval: Int = 2
  private var earlyStopping: Boolean = false
  private var initialActiveExpr: Column = lit(true)
  private var updateActiveExpr: Option[Column] = None
  private var stopIfAllNonActive: Boolean = false
  private var skipMessagesFromNonActive: Boolean = false
  private var storageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK
  private var reliableCheckpointDir: Option[String] = None

  /** Add (or replace the init/update of) a stateful vertex column.
   * `initExpr` sees the original vertex columns; `updateExpr` sees the
   * previous round's state plus [[Pregel.msg]]. */
  def withVertexColumn(name: String, initExpr: Column, updateExpr: Column): this.type = {
    vertexCols += VertexCol(name, initExpr, updateExpr); this
  }
  /** Message sent to each edge's source; reference triplet fields with
   * [[Pregel.src]]/[[Pregel.dst]]/[[Pregel.edge]]. Null messages dropped. */
  def sendMsgToSrc(msg: Column): this.type = { msgsToSrc += msg; this }
  /** Message sent to each edge's destination. */
  def sendMsgToDst(msg: Column): this.type = { msgsToDst += msg; this }
  /** How arriving messages combine; the expression references [[Pregel.msg]]. */
  def aggMsgs(agg: Column): this.type = { aggMsgsCol = Some(agg); this }

  def setMaxIter(n: Int): this.type = { maxIter = n; this }
  /** Lineage-truncation cadence; 0 disables. Default 2 — larger values let
   * the iterative plan snowball and hang the driver on big graphs. */
  def setCheckpointInterval(n: Int): this.type = { checkpointInterval = n; this }
  /** Stop as soon as a round produces no messages (costs one extra action
   * per round). */
  def setEarlyStopping(b: Boolean): this.type = { earlyStopping = b; this }
  /** Voting-to-halt: initial active flag (evaluated on the input vertices). */
  def setInitialActiveVertexExpression(c: Column): this.type = { initialActiveExpr = c; this }
  /** Voting-to-halt: new active flag per round (sees state + [[Pregel.msg]]). */
  def setUpdateActiveVertexExpression(c: Column): this.type = { updateActiveExpr = Some(c); this }
  def setStopIfAllNonActiveVertices(b: Boolean): this.type = { stopIfAllNonActive = b; this }
  /** Drop messages whose *sending* endpoint is inactive. */
  def setSkipMessagesFromNonActiveVertices(b: Boolean): this.type = { skipMessagesFromNonActive = b; this }

  /** MANUAL triplet-pruning hint (reference lib/Pregel.scala:317-352):
   * restrict the src-side vertex fields shipped into each round's triplet
   * structs to exactly these (plus `id` and any voting column). This
   * engine already prunes automatically by analyzing the message
   * expressions; an explicit list OVERRIDES that analysis — parity for
   * callers porting reference code, and an escape hatch if an expression
   * shape ever defeats the analyzer. Fields a message references but the
   * list omits will fail resolution loudly, same as the reference. */
  def requiredSrcColumns(colName: String, colNames: String*): this.type = {
    requiredSrcList = Some(colName +: colNames); this
  }
  /** Dst-side counterpart of [[requiredSrcColumns]]. Setting it also
   * forces the dst-side vertex join on (the reference ships dst state
   * whenever a list is given; automatic dst-join elision resumes when no
   * list is set). */
  def requiredDstColumns(colName: String, colNames: String*): this.type = {
    requiredDstList = Some(colName +: colNames); this
  }
  private var requiredSrcList: Option[Seq[String]] = None
  private var requiredDstList: Option[Seq[String]] = None
  def setIntermediateStorageLevel(l: StorageLevel): this.type = { storageLevel = l; this }
  /** Cut lineage through reliable `checkpoint()` files under `dir` instead
   * of `localCheckpoint` — iteration state survives executor loss (resumes
   * from the last cut rather than restarting), at the cost of writing each
   * cut to the cluster filesystem (reference mixins.scala:28-63
   * `useLocalCheckpoints` toggle). */
  def setUseReliableCheckpoint(dir: String): this.type = {
    reliableCheckpointDir = Some(dir); this
  }

  /** True when any message expression references a `dst.<field>` other than
   * `dst.id` — only then is the dst-side vertex join required. */
  private def needsDstJoin: Boolean = {
    import org.apache.spark.sql.graftshim.GraftShims
    val exprs = (msgsToSrc ++ msgsToDst).map(GraftShims.catalystExpression)
    val voting = skipMessagesFromNonActive && msgsToSrc.nonEmpty
    voting || exprs.exists { e =>
      e.exists {
        case UnresolvedAttribute(parts) =>
          parts.headOption.contains(DST) && parts.tail != Seq(ID)
        case UnresolvedExtractValue(child, Literal(f, _)) =>
          child.exists {
            case UnresolvedAttribute(parts) => parts.headOption.contains(DST)
            case _ => false
          } && f.toString != ID
        case GetStructField(child, _, Some(name)) =>
          name != ID && child.exists {
            case a: AttributeReference => a.name == DST
            case _ => false
          }
        case _ => false
      }
    }
  }

  /** Fields of `<prefix>.*` referenced by any message expression, or None
   * when a whole-struct reference makes pruning unsafe. Struct-packing
   * hides columns from Catalyst's pruning (SURVEY §4), so shipping only
   * the referenced fields through the per-round joins is on us. */
  private def referencedFields(prefix: String): Option[Set[String]] = {
    import org.apache.spark.sql.graftshim.GraftShims
    import org.apache.spark.sql.catalyst.analysis.UnresolvedStar
    val fields = scala.collection.mutable.Set.empty[String]
    var wildcard = false
    (msgsToSrc ++ msgsToDst).map(GraftShims.catalystExpression).foreach { e =>
      e.foreach {
        case UnresolvedAttribute(parts) if parts.headOption.contains(prefix) =>
          if (parts.length >= 2) fields += parts(1) else wildcard = true
        case UnresolvedStar(Some(target)) if target.headOption.contains(prefix) =>
          wildcard = true
        case _ =>
      }
    }
    if (wildcard) None else Some(fields.toSet)
  }

  def run(): DataFrame = {
    require(vertexCols.nonEmpty, "pregel: withVertexColumn required")
    require(msgsToSrc.nonEmpty || msgsToDst.nonEmpty, "pregel: no message expressions")
    require(aggMsgsCol.nonEmpty, "pregel: aggMsgs required")
    runDistributed()
  }

  private def runDistributed(): DataFrame = IterationManager.scoped(g.spark,
      reliableCheckpointDir, checkpointInterval, storageLevel) { mgr =>

    val origCols = g.vertices.columns.toSeq
    val stateCols = origCols ++ vertexCols.map(_.name) ++
      (if (updateActiveExpr.isDefined) Seq(ACTIVE_COL) else Nil)
    val gate = skipMessagesFromNonActive && updateActiveExpr.isDefined

    // triplet pruning: only referenced fields ride in the per-round structs
    def pruned(prefix: String, all: Seq[String], mandatory: Seq[String]): Seq[String] =
      referencedFields(prefix) match {
        case Some(fs) => all.filter(c => fs.contains(c) || mandatory.contains(c))
        case None => all
      }
    def manual(list: Seq[String], mandatory: Seq[String]): Seq[String] = {
      val keep = (list ++ mandatory).toSet
      val unknown = keep -- stateCols
      require(unknown.isEmpty,
        s"pregel required columns not in vertex state: ${unknown.mkString(", ")}")
      stateCols.filter(keep.contains)
    }
    val srcMandatory = Seq(ID) ++ (if (gate && msgsToDst.nonEmpty) Seq(ACTIVE_COL) else Nil)
    val dstMandatory = Seq(ID) ++ (if (gate && msgsToSrc.nonEmpty) Seq(ACTIVE_COL) else Nil)
    val srcStructCols = requiredSrcList
      .map(manual(_, srcMandatory)).getOrElse(pruned(SRC, stateCols, srcMandatory))
    val dstStructCols = requiredDstList
      .map(manual(_, dstMandatory)).getOrElse(pruned(DST, stateCols, dstMandatory))
    val edgeFields = referencedFields(EDGE)
      .map(fs => g.edges.columns.filter(fs.contains).toSeq)
      .getOrElse(g.edges.columns.toSeq)

    // Edges shaped once: (edge_src, edge_dst[, edge-struct of referenced
    // fields]), co-partitioned by the per-round join key and cached.
    val edgeStruct = mgr.persistLazy(g.edges.select(
      (Seq(col(SRC).as("_p_esrc"), col(DST).as("_p_edst")) ++
        (if (edgeFields.nonEmpty)
          Seq(struct(edgeFields.map(c => col(graft.GraphFrame.quoteName(c))).toIndexedSeq: _*).as(EDGE)) else Nil)
      ).toIndexedSeq: _*)
      .repartition(col("_p_esrc")))

    val useDstJoin = requiredDstList.isDefined || needsDstJoin

    var state = g.vertices.select(
      (origCols.map(c => col(graft.GraphFrame.quoteName(c))) ++
        vertexCols.map(vc => vc.init.as(vc.name)) ++
        (if (updateActiveExpr.isDefined) Seq(initialActiveExpr.as(ACTIVE_COL)) else Nil)
      ).toIndexedSeq: _*)

    state = mgr.cycle(state, 0)

    var iter = 1
    var done = false
    while (iter <= maxIter && !done) {
      val srcSide = state.select(col(ID).as("_p_vsid"),
        struct(srcStructCols.map(c => col(graft.GraphFrame.quoteName(c))).toIndexedSeq: _*).as(SRC))
      var triplets = edgeStruct.join(srcSide, col("_p_esrc") === col("_p_vsid"))
      triplets =
        if (useDstJoin) {
          val dstSide = state.select(col(ID).as("_p_vdid"),
            struct(dstStructCols.map(c => col(graft.GraphFrame.quoteName(c))).toIndexedSeq: _*).as(DST))
          triplets.join(dstSide, col("_p_edst") === col("_p_vdid"))
        } else {
          // Cheap dst stub: only `dst.id` is referenced, so materialize just
          // that field from the edge itself — no second shuffle join.
          triplets.withColumn(DST, struct(col("_p_edst").as(ID)))
        }

      // Gate each message by its SENDER's active flag (to-dst messages are
      // sent by src, to-src messages by dst) — gating whole triplets would
      // wrongly require both endpoints active.
      val gate = skipMessagesFromNonActive && updateActiveExpr.isDefined
      def gated(m: Column, senderActive: Column): Column =
        if (gate) when(senderActive, m).otherwise(lit(null)) else m
      val pairs =
        msgsToSrc.map(m => struct(col(s"$SRC.$ID").as(ID),
          gated(m, col(s"$DST.$ACTIVE_COL")).as(MSG_COL))) ++
        msgsToDst.map(m => struct(col("_p_edst").as(ID),
          gated(m, col(s"$SRC.$ACTIVE_COL")).as(MSG_COL)))
      val sent = triplets
        .select(explode(array(pairs.toIndexedSeq: _*)).as("_p_pair"))
        .select(col(s"_p_pair.$ID").as(ID), col(s"_p_pair.$MSG_COL").as(MSG_COL))
        .filter(col(MSG_COL).isNotNull)

      val agged0 = sent.groupBy(ID).agg(aggMsgsCol.get.as(MSG_COL))
      // early stopping needs an emptiness probe BEFORE the state update;
      // persist the aggregated messages across the probe and the update
      // join, or the whole triplet+aggregate pipeline executes twice per
      // round (probe once, update once)
      val agged = if (earlyStopping) mgr.persistLazy(agged0) else agged0

      if (earlyStopping && agged.isEmpty) {
        agged.unpersist(false)
        done = true
      } else {
        val joined = state.join(agged, Seq(ID), "left_outer")
        val newState = joined.select(
          (origCols.map(c => col(graft.GraphFrame.quoteName(c))) ++
            vertexCols.map(vc => vc.update.as(vc.name)) ++
            updateActiveExpr.map(_.as(ACTIVE_COL)).toSeq
          ).toIndexedSeq: _*)
        state = mgr.cycle(newState, iter)
        // cycle() materialized newState — the message cache is consumed
        if (earlyStopping) agged.unpersist(false)
        if (stopIfAllNonActive && updateActiveExpr.isDefined &&
            state.filter(col(ACTIVE_COL)).isEmpty) {
          done = true
        }
      }
      iter += 1
    }

    // finish(): the result is often a no-op projection of the final state
    // (fixed-iteration algorithms drop no voting column) — persist+close
    // would let close() uncache it via sameResult; see IterationManager
    mgr.finish(state.select(
      (origCols.map(c => col(graft.GraphFrame.quoteName(c))) ++ vertexCols.map(vc => col(vc.name))).toIndexedSeq: _*))
  }
}

object Pregel {
  private[graft] val MSG_COL = "_pregel_msg_"
  private[graft] val ACTIVE_COL = "_pregel_is_active"

  /** The aggregated incoming message (null when a vertex got no mail). */
  def msg: Column = col(MSG_COL)
  /** Field of the source-vertex state inside a message expression. */
  def src(field: String): Column = col(s"${GraphFrame.SRC}.$field")
  def dst(field: String): Column = col(s"${GraphFrame.DST}.$field")
  def edge(field: String): Column = col(s"${GraphFrame.EDGE}.$field")
}
