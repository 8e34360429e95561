package graft.lib

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField}
import graft.GraphFrame

/**
 * PageRank on the DataFrame Pregel (un-normalized, matching reference
 * semantics — lib/PageRank.scala:58-66 documents that ranks are NOT
 * normalized to sum 1; scores sum to ~V for the standard formulation).
 *
 * update: rank = resetProb + (1 - resetProb) * Σ incoming (rank/outDeg).
 * Dangling vertices (outDeg 0) just leak mass, as in GraphX static PR.
 *
 * Returns a GraphFrame: vertices + `pagerank: double`,
 * edges + `weight: double` (1/outDegree of src).
 */
class PageRank(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var resetProb: Double = 0.15
  private var maxIterV: Int = 10
  private var tolV: Option[Double] = None
  private var srcIdV: Option[Any] = None

  def resetProbability(p: Double): this.type = { resetProb = p; this }
  def maxIter(n: Int): this.type = { maxIterV = n; this }
  /** Tolerance mode: run until every vertex's rank moves < tol. */
  def tol(t: Double): this.type = { tolV = Some(t); this }
  /** Personalized PageRank from a single source vertex. */
  def sourceId(id: Any): this.type = { srcIdV = Some(id); this }

  private var weightColV: Option[String] = None
  /** Weighted PageRank (engine extension): each vertex distributes its
   * rank proportionally to this edge column instead of uniformly —
   * rank += (1-α)·Σ rank_u·w_uv/W_u with W_u the source's out-weight
   * sum. Null or negative weights fail eagerly (a null would silently
   * become a zero-mass edge); zero weights are legal (the edge carries
   * no mass). Same shuffle shape as the uniform plan — the weight rides
   * the existing edge struct. */
  def weightCol(c: String): this.type = { weightColV = Some(c); this }

  private var reliableDirV: Option[String] = None
  /** Reliable checkpointing under `dir` (see Pregel.setUseReliableCheckpoint). */
  def setUseReliableCheckpoint(dir: String): this.type = {
    reliableDirV = Some(dir); this
  }

  /** The driver tail (docs/THRESHOLDS.md row 2) follows the identical
   * trajectory by construction: same init/teleport/weighted contribution
   * expressions, same 100-round cap and all-vertices |Δ| < tol stop probe
   * in tolerance mode (tol mode does NOT gate messages on activity, so it
   * IS plain power iteration plus the stop probe — including the isolated
   * vertices, whose one-round 1.0 → resetProb move participates in the
   * probe). */
  def run(): GraphFrame = {
    weightColV.foreach { w =>
      val wc = col(GraphFrame.quoteName(w))
      require(g.edges.filter(wc.isNull || wc < 0).isEmpty,
        s"pageRank weightCol '$w' must be non-null and >= 0 on every edge")
    }
    val eNarrow = weightColV match {
      case Some(w) => g.edges.select(col(SRC), col(DST),
        col(GraphFrame.quoteName(w)).cast("double").as("_w"))
      case None => g.edges.select(col(SRC), col(DST), lit(1.0).as("_w"))
    }
    // maxIter 0 reports the init ranks via the Pregel path's zero-round
    // contract — the tail assumes at least one round
    gate(eNarrow, eligible = tolV.isDefined || maxIterV >= 1)(runLocal)(
      _ => runDistributed())
  }

  /** (id, outDegree): per-vertex out-degree, or out-weight sum when
   * weighted. */
  private def outDegrees: DataFrame = weightColV match {
    case Some(w) => g.edges
      .groupBy(col(SRC).as(ID))
      .agg(sum(col(GraphFrame.quoteName(w)).cast("double")).as("outDegree"))
    case None => g.outDegrees
  }

  private def runDistributed(): GraphFrame = {
    val outDeg = outDegrees
    val v = g.vertices.join(outDeg, Seq(ID), "left_outer")
      .na.fill(0, Seq("outDegree"))
      .withColumnRenamed("outDegree", "_pr_outdeg")
    val g2 = GraphFrame(v, g.edges)

    val isSource = srcIdV match {
      case Some(s) => col(ID) === lit(s)
      case None => lit(true)
    }
    val initRank = srcIdV match {
      case Some(_) => when(isSource, lit(1.0)).otherwise(lit(0.0))
      case None => lit(1.0)
    }
    val teleport = srcIdV match {
      // personalized: teleport mass only lands on the source vertex
      case Some(s) => when(col(ID) === lit(s), lit(resetProb)).otherwise(lit(0.0))
      case None => lit(resetProb)
    }
    val newRank = teleport +
      lit(1.0 - resetProb) * coalesce(Pregel.msg, lit(0.0))

    val contribution = weightColV match {
      // W_u = 0 means every out-weight is 0: no mass leaves (0/0 guarded)
      case Some(w) => when(Pregel.src("_pr_outdeg") > 0,
        Pregel.src("pagerank") * Pregel.edge(w) / Pregel.src("_pr_outdeg"))
        .otherwise(lit(0.0))
      case None => Pregel.src("pagerank") / Pregel.src("_pr_outdeg")
    }
    val pregel = g2.pregel
      .withVertexColumn("pagerank", initRank, newRank)
      .sendMsgToDst(contribution)
      .aggMsgs(sum(Pregel.msg))
      .setMaxIter(if (tolV.isDefined) 100 else maxIterV)
    reliableDirV.foreach(pregel.setUseReliableCheckpoint)

    tolV.foreach { t =>
      pregel
        .setInitialActiveVertexExpression(lit(true))
        .setUpdateActiveVertexExpression(abs(newRank - col("pagerank")) >= lit(t))
        .setStopIfAllNonActiveVertices(true)
    }

    val ranks = pregel.run()
      .drop("_pr_outdeg")

    GraphFrame(ranks, weightedEdges(outDeg))
  }

  /** Edges + `weight` (per-edge share of the source's out-mass) — the
   * distributed path's, and the tail's unless it holds the whole edge
   * table; lazy, evaluated only if the caller reads `.edges`. */
  private def weightedEdges(outDeg: DataFrame): DataFrame =
    g.edges
      .join(outDeg.select(col(ID).as(SRC), col("outDegree").as("_pr_od")), Seq(SRC), "left_outer")
      .withColumn(GraphFrame.WEIGHT, weightColV match {
        case Some(w) => when(col("_pr_od") > 0,
          col(GraphFrame.quoteName(w)).cast("double") / col("_pr_od"))
          .otherwise(lit(0.0))
        case None => lit(1.0) / col("_pr_od")
      })
      .drop("_pr_od")

  /** Driver-side tail: identical recurrence (see setSmallGraphThreshold).
   * Sorted-edge accumulation so the result is a pure function of the
   * graph value; vertices touching no edge get their closed-form rank
   * from the join-back fill (uniform: resetProb after round 1;
   * personalized: 0, the source itself always rides the local loop). */
  private def runLocal(e: DataFrame): GraphFrame = {
    import scala.collection.mutable
    // (src, dst, w) triples; null src never joins rank state and null dst
    // receives nothing, but a null-dst edge still counts toward its
    // source's out-mass (matching the distributed outDeg groupBy)
    val raw = e.collect()
    val rows = raw.iterator
      .filter(r => !r.isNullAt(0))
      .map(r => (r.get(0), if (r.isNullAt(1)) null else r.get(1), r.getDouble(2)))
      .toArray
      .sortBy { case (s, d, _) => (String.valueOf(s), String.valueOf(d)) }
    val eps = LocalTail.endpointIds(e, g, raw)
    val validArr = eps.vids
    val valid = validArr.toSet
    // resolve the personalized source with SQL equality (numeric
    // coercion!) so the local identity test uses the STORED value; an
    // isolated source still rides the loop
    val sourceVals: Set[Any] = srcIdV match {
      case Some(s) => g.vertices.filter(col(ID) === lit(s)).select(col(ID))
        .collect().map(_.get(0)).toSet
      case None => Set.empty
    }
    val ids: Array[Any] =
      (validArr ++ sourceVals.filterNot(valid)).distinct.sortBy(String.valueOf(_))
    val alpha = resetProb
    val personalized = srcIdV.isDefined
    def isSrc(v: Any): Boolean = sourceVals.contains(v)
    def tele(v: Any): Double =
      if (!personalized) alpha else if (isSrc(v)) alpha else 0.0

    val outW = mutable.HashMap.empty[Any, Double]
    rows.foreach { case (s, _, w) => outW(s) = outW.getOrElse(s, 0.0) + w }
    val msgs = rows.filter { case (s, d, _) => d != null && valid(s) && valid(d) }

    var rank = mutable.HashMap.empty[Any, Double]
    ids.foreach(v => rank(v) = if (!personalized || isSrc(v)) 1.0 else 0.0)
    // uniform tol mode: isolated vertices move 1.0 → resetProb in round 1
    // and then freeze — they keep the stop probe alive through round 1
    // exactly as the distributed all-vertices voting does
    lazy val nIsolated = g.vertices.count() - validArr.length -
      sourceVals.filterNot(valid).size
    val maxRounds = if (tolV.isDefined) 100 else maxIterV
    var round = 0
    var stop = false
    while (round < maxRounds && !stop) {
      round += 1
      val inbox = mutable.HashMap.empty[Any, Double]
      msgs.foreach { case (s, d, w) =>
        val wu = outW(s)
        val c =
          if (weightColV.isDefined) { if (wu > 0) rank(s) * w / wu else 0.0 }
          else rank(s) / wu
        inbox(d) = inbox.getOrElse(d, 0.0) + c
      }
      val next = mutable.HashMap.empty[Any, Double]
      var anyActive = false
      ids.foreach { v =>
        val nr = tele(v) + (1.0 - alpha) * inbox.getOrElse(v, 0.0)
        tolV.foreach { t => if (math.abs(nr - rank(v)) >= t) anyActive = true }
        next(v) = nr
      }
      tolV.foreach { t =>
        if (round == 1 && !personalized && nIsolated > 0 &&
            math.abs(alpha - 1.0) >= t) anyActive = true
        if (!anyActive) stop = true
      }
      rank = next
    }

    val fill = if (personalized) 0.0 else alpha
    val ranks = LocalTail.joinBack(g, ids.map(v => Row(v, rank(v))),
      Seq(LocalTail.score("pagerank", fill)))(vertexIdsFor(g, Some(eps)))
    // unweighted (src, dst) edges: the probe rows are the whole edge table,
    // and weight = 1/outdeg(src) from the out-weights above; a null src
    // gets a null weight, as weightedEdges' left-outer join gives it
    val weighted =
      if (weightColV.isEmpty && g.edges.columns.sameElements(Array(SRC, DST))) {
        val rs = raw.map(r => Row(r.get(0), r.get(1),
          if (r.isNullAt(0)) null else 1.0 / outW(r.get(0))))
        g.spark.createDataFrame(java.util.Arrays.asList(rs.toSeq: _*),
          g.edges.schema.add(StructField(GraphFrame.WEIGHT, DoubleType, nullable = true)))
      } else weightedEdges(outDegrees)
    GraphFrame(ranks, weighted)
  }
}
