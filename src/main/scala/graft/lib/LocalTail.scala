package graft.lib

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.storage.StorageLevel
import graft.{GraftConf, GraphFrame}

/**
 * The bounded driver-side tail shared by every builder that can finish a
 * small graph on the driver (docs/THRESHOLDS.md rows 1, 2, 2b, 11,
 * 12b-12e, 13, 22). Below a conf-settable EDGE threshold (0 disables),
 * per-round distributed supersteps are pure fixed scheduling overhead, so
 * the algorithm collects the graph once, iterates locally and hands its
 * per-vertex result back through [[LocalGraph.joinBack]]: on a `fromEdges`
 * graph the local relation itself, otherwise a broadcast join onto the
 * vertex table. The round-8 cadence experiment (see IterationManager)
 * showed this is the ONLY safe way to cut small-graph latency: skipping
 * lineage cuts instead blows up the analyzer.
 *
 * Mixing this trait in gives a builder its `setSmallGraphThreshold` knob
 * and the one tail/distributed decision, [[gate]]: one bounded collect
 * both decides and feeds the tail, which gets the collected rows as one
 * [[LocalGraph]].
 */
trait LocalTail {
  /** Default of [[setSmallGraphThreshold]]: the link-analysis conf key,
   * else 100k edges. Connected components overrides it with its own key
   * and 1M-edge default. */
  protected def defaultSmallGraphThreshold: Long =
    GraftConf.linkAnalysisSmallGraphThreshold.getOrElse(100000L)

  private var smallGraphThresholdV: Long = defaultSmallGraphThreshold

  /** EDGE-count threshold at or below which the algorithm runs its bounded
   * driver-side tail instead of distributed supersteps; 0 disables the
   * tail. Negative values are rejected. The tails replay the distributed
   * result exactly; per-algorithm driver cost: docs/THRESHOLDS.md. */
  def setSmallGraphThreshold(n: Long): this.type = {
    require(n >= 0, s"smallGraphThreshold must be >= 0 (0 disables the driver tail), got $n")
    smallGraphThresholdV = n; this
  }

  /** The threshold t. */
  protected def smallGraphThreshold: Long = smallGraphThresholdV

  /** Whether the tail is enabled at all: `t > 0`. */
  protected def tailEnabled: Boolean = smallGraphThresholdV > 0

  /** Whether an edge count `n` fits the tail: `t > 0 && n <= t`. */
  protected def tailFits(n: Long): Boolean = tailEnabled && n <= smallGraphThresholdV

  /** The one tail/distributed decision: `tail(local(rows))` when
   * `eligible`, the probe has at most t rows and `andIf` holds for the
   * local value (evaluated after the collect), else `distributed(probe)`.
   *
   * One bounded job decides and collects: `collect(probe.limit(t + 1))`
   * reads at most t + 1 rows, so the driver never holds more than that,
   * and at ≤ t rows they are the tail's input (Rows for [[gate]]; typed
   * Long edges for connected components with integral ids, ~32 bytes per
   * edge instead of a Row of boxed values). There is no count job. Each probe
   * posts a [[TailDecision]].
   *
   * Without `pinForDistributed` nothing is pinned. With it the
   * distributed path reads the probe too, so the probe is persisted
   * before the collect, even when the tail cannot apply, and unpersisted
   * in a `finally` after `tail` or `distributed` returns or throws. It is
   * persisted only if `Dataset.storageLevel` shows it is not cached yet: a
   * plan that canonicalizes equal to a caller's cached frame (e.g.
   * `edges.select(src, dst)` over cached `(src, dst)` edges) already reads
   * that cache, and unpersisting it would evict the caller's entry. */
  protected def gateCollect[A, L, T](probe: DataFrame, eligible: Boolean = true,
      pinForDistributed: Boolean = false)(collect: DataFrame => Array[A])(local: Array[A] => L)(
      andIf: L => Boolean)(tail: L => T)(distributed: DataFrame => T): T = {
    val t = smallGraphThresholdV
    def decide(p: DataFrame): T =
      if (!eligible || !tailEnabled) distributed(p)
      else {
        val rows = collect(p.limit(math.min(t, Int.MaxValue - 1L).toInt + 1))
        val fit = Some(rows).filter(_.length <= t).map(local).filter(andIf)
        GraftShims.postEvent(p.sparkSession,
          TailDecision(getClass.getSimpleName, t, rows.length, fit.isDefined))
        fit.fold(distributed(p))(tail)
      }
    if (!pinForDistributed || probe.storageLevel != StorageLevel.NONE) decide(probe)
    else {
      probe.persist()
      try decide(probe) finally probe.unpersist(false)
    }
  }

  /** [[gateCollect]] of the probe's Rows as the [[LocalGraph]] of `g`
   * that `andIf` and the tail read. `edgeRows` says that the probe's first
   * two columns are the `(src, dst)` of every edge row, so that on a
   * `fromEdges` graph their endpoints are the vertex ids. */
  protected def gate[T](g: GraphFrame, probe: DataFrame, eligible: Boolean = true,
      pinForDistributed: Boolean = false, edgeRows: Boolean = false,
      andIf: LocalGraph => Boolean = _ => true)(tail: LocalGraph => T)(
      distributed: DataFrame => T): T =
    gateCollect(probe, eligible, pinForDistributed)(_.collect())(
      new LocalGraph(g, smallGraphThresholdV, probe.schema, _, edgeRows))(andIf)(tail)(distributed)

  /** [[gate]] for tails that replay Spark's ordering of `idType` on the
   * driver: id types without a faithful driver ordering
   * ([[UnionFind.sparkOrdering]]) always run distributed. */
  protected def gateOrdered[T](g: GraphFrame, probe: DataFrame, idType: DataType,
      eligible: Boolean = true, pinForDistributed: Boolean = false, edgeRows: Boolean = false,
      andIf: LocalGraph => Boolean = _ => true)(tail: (LocalGraph, Ordering[Any]) => T)(
      distributed: DataFrame => T): T = {
    val ord = UnionFind.sparkOrdering(idType).filter(_ => eligible)
    gate(g, probe, ord.isDefined, pinForDistributed, edgeRows, andIf)(tail(_, ord.get))(
      distributed)
  }

  /** [[gateOrdered]] over the raw `(src, dst)` edges of `g`, for tails that
   * read the canonical undirected edge set ([[LocalGraph.undirected]]):
   * `src` and `dst` must carry the id type itself. The distributed path
   * gets the probe and builds (and pins) its own canonical frame. */
  protected def gateUndirected[T](g: GraphFrame, eligible: Boolean = true,
      andIf: LocalGraph => Boolean = _ => true)(tail: (LocalGraph, Ordering[Any]) => T)(
      distributed: DataFrame => T): T = {
    import GraphFrame.{ID, SRC, DST}
    val idType = g.vertices.schema(ID).dataType
    val probe = g.edges.select(col(SRC), col(DST))
    gateOrdered(g, probe, idType, eligible && probe.schema.forall(_.dataType == idType),
      edgeRows = true, andIf = andIf)(tail)(distributed)
  }
}

/** Posted on the listener bus (`SparkListener.onOtherEvent`) by every
 * [[LocalTail]] gate that probes: the builder's class name, its
 * threshold t, the probe rows its bounded collect read (at most t + 1)
 * and whether the driver tail ran. */
case class TailDecision(builder: String, threshold: Long, rowsRead: Int, tail: Boolean)
  extends SparkListenerEvent

/**
 * A driver tail's local copy of the graph `g`: the at most t probe `rows`
 * the gate collected, and what the tails derive from them, each computed
 * at most once, on first use — the sorted edges, the weighted edges, the
 * canonical undirected pairs, the vertex ids among the endpoints, every
 * vertex id up to a bound, and the join-back of a per-vertex result.
 *
 * Semantics parity with the distributed joins is exact by construction:
 *  - in the vertex-state algorithms, edges whose endpoint is absent from
 *    the vertex table contribute nothing (the distributed state join drops
 *    them; the tails keep only [[vids]]); path searches (Centrality)
 *    traverse such an endpoint like their frontier joins do;
 *  - null endpoints contribute nothing (join keys never match null);
 *  - multi-edges are kept (the distributed sum counts duplicates);
 *  - accumulation runs in sorted-edge order, so the result is a pure
 *    function of the graph VALUE — partition-count invariant.
 */
private[lib] class LocalGraph(g: GraphFrame, t: Long, schema: StructType,
    val rows: Array[Row], edgeRows: Boolean) {
  import GraphFrame.ID

  private val idType = g.vertices.schema(ID).dataType
  private def frame: DataFrame = g.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  private val Seq(srcCol, dstCol) = schema.take(2).map(f => col(GraphFrame.quoteName(f.name)))

  /** `(src, dst)` pairs from the first two columns, null-free and sorted
   * by their string forms. */
  lazy val edges: Array[(Any, Any)] =
    rows.iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.get(0), r.get(1))).toArray
      .sortBy { case (s, d) => (String.valueOf(s), String.valueOf(d)) }

  /** `(src, dst, w)` triples from the first three columns: null endpoints
   * dropped, a null weight read as 0.0, sorted by `(src, dst, w)` so
   * parallel edges with distinct weights accumulate in a fixed order. */
  lazy val weighted: Array[(Any, Any, Double)] =
    rows.iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.get(0), r.get(1), if (r.isNullAt(2)) 0.0 else r.getDouble(2)))
      .toArray
      .sortBy { case (s, d, w) => (String.valueOf(s), String.valueOf(d), w) }

  /** The canonical undirected edge set of the `(src, dst)` rows, as the
   * distributed paths build it with `filter(src =!= dst)`,
   * `least`/`greatest` and `distinct`: rows with a null endpoint and
   * self-loops dropped, each pair oriented (least, greatest) under `ord`
   * and kept once, sorted by `ord`. Ids compare with `ord.equiv`, never
   * `==` on boxed values, so the self-loop and duplicate tests are
   * Spark's. */
  def undirected(ord: Ordering[Any]): Array[(Any, Any)] = {
    val sorted = rows.iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1) && !ord.equiv(r.get(0), r.get(1)))
      .map(r => if (ord.lt(r.get(0), r.get(1))) (r.get(0), r.get(1)) else (r.get(1), r.get(0)))
      .toArray.sorted(Ordering.Tuple2(ord, ord))
    val out = Array.newBuilder[(Any, Any)]
    var last: Option[(Any, Any)] = None
    sorted.foreach { p =>
      if (!last.exists(l => ord.equiv(l._1, p._1) && ord.equiv(l._2, p._2))) out += p
      last = Some(p)
    }
    out.result()
  }

  /** Every distinct `src`/`dst` value, null included, in the vertex id
   * type: read from the rows when both columns have that type, else from
   * one cast projection of their local relation (no Spark job). */
  protected lazy val endpoints: Array[Any] =
    (if (schema.take(2).forall(_.dataType == idType)) rows.iterator
      else frame.select(srcCol.cast(idType), dstCol.cast(idType)).collect().iterator)
      .flatMap(r => Iterator(r.get(0), r.get(1))).toArray.distinct

  /** The vertex-table ids among the endpoints, sorted by string form. On
   * a graph whose endpoints are all vertices (`fromEdges`, `validated()`)
   * they are the non-null endpoints and no Spark job runs; otherwise one
   * semi-join of the vertex ids against a broadcast of the endpoints,
   * compared in the type Spark coerces them to. */
  lazy val vids: Array[Any] = {
    val ids =
      if (g.edgeEndpointsComplete) endpoints.filter(_ != null)
      else {
        val e = frame
        g.vertices.select(col(ID)).join(broadcast(e.select(srcCol.as(ID))
          .union(e.select(dstCol.as(ID)))), Seq(ID), "left_semi").collect().map(_.get(0))
      }
    ids.sortBy(String.valueOf(_))
  }

  /** Whether the endpoints are the vertex ids: the probe holds every edge
   * row's `(src, dst)` and the vertex table is their distinct values
   * ([[GraphFrame.verticesAreEndpoints]]). */
  private def endpointsAreVertices: Boolean = edgeRows && g.verticesAreEndpoints

  private val idsRead = mutable.HashMap.empty[Long, Array[Any]]

  /** Every vertex row's id, if there are at most `bound` vertex rows. When
   * the endpoints are the vertex ids no Spark job runs; otherwise one
   * bounded `limit(bound + 1)` collect of `vertices.select(id)` reads
   * them, once per bound. */
  def vertexIds(bound: Long = t): Option[Array[Any]] =
    Some(if (endpointsAreVertices) endpoints
      else idsRead.getOrElseUpdate(bound, g.vertices.select(col(ID))
        .limit(math.min(bound, Int.MaxValue - 1L).toInt + 1).collect().map(_.get(0))))
      .filter(_.length <= bound)

  /** The one way a driver tail's per-vertex result goes back onto the
   * vertex table. `values` are `Row(id, value per out...)` in the graph's
   * id type, at most one per id except where the tail replays duplicate
   * vertex rows (connected components); every value column becomes
   * `coalesce(value, fill)`.
   *
   * With every vertex row's id known — the endpoints when they are the
   * vertex ids, whatever their number, else [[vertexIds]] — on a graph
   * whose vertex table is the `fromEdges` endpoint set, or on any graph
   * when the result keeps only the vertex `id` column (`idOnly`), the
   * result is the local relation itself: one row per vertex id, its values
   * looked up in `values` (none for a null id, which a join never
   * matches). Consuming it runs no Spark job. Otherwise the local relation
   * is broadcast-joined (`left_outer`) onto the vertex table (its `id`
   * column alone with `idOnly`). Both give the same schema and rows. */
  def joinBack(values: Iterable[Row], outs: Seq[LocalTail.Out],
      idOnly: Boolean = false): DataFrame = {
    val schema = StructType(g.vertices.schema(ID) +:
      outs.map(o => StructField(o.name, o.dataType, nullable = true)))
    def local(rs: Iterable[Row]): DataFrame =
      g.spark.createDataFrame(java.util.Arrays.asList(rs.toSeq: _*), schema)
    val known =
      if (endpointsAreVertices) Some(endpoints)
      else if (idOnly || g.verticesAreEndpoints) vertexIds()
      else None
    known match {
      case Some(ids) =>
        val byId = values.iterator.filter(!_.isNullAt(0)).map(r => r.get(0) -> r.toSeq.tail).toMap
        val none = outs.map(_ => null)
        local(ids.map(v => Row.fromSeq(v +: byId.getOrElse(v, none))))
          .select(col(ID) +: outs.map(o => coalesce(col(o.name), o.fill).as(o.name)): _*)
      case None =>
        val vertices = if (idOnly) g.vertices.select(col(ID)) else g.vertices
        outs.foldLeft(vertices.join(broadcast(local(values)), Seq(ID), "left_outer"))(
          (df, o) => df.withColumn(o.name, coalesce(col(o.name), o.fill)))
    }
  }
}

private[lib] object LocalGraph {
  /** The neighbor lists of undirected `pairs` ([[LocalGraph.undirected]]):
   * each pair listed under both ends, in pair order. */
  def neighbors(pairs: Array[(Any, Any)]): mutable.HashMap[Any, mutable.ArrayBuffer[Any]] = {
    val adj = mutable.HashMap.empty[Any, mutable.ArrayBuffer[Any]]
    pairs.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
      adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
    }
    adj
  }

  /** The local graph of a probe collected as typed edges rather than Rows
   * (connected components' Long edges): no rows, and `ends`, the edges'
   * distinct endpoints in the vertex id type, null included, as its
   * endpoints. Only its vertex members apply. */
  def ofEndpoints(g: GraphFrame, t: Long, schema: StructType)(
      ends: => Array[Any]): LocalGraph =
    new LocalGraph(g, t, schema, Array.empty, edgeRows = true) {
      override protected lazy val endpoints: Array[Any] = ends
    }
}

private[lib] object LocalTail {
  /** One per-vertex column a driver tail hands back through
   * [[LocalGraph.joinBack]]: its name, its type, and the fill of every
   * vertex row without a value (a vertex the tail did not score, a null
   * id): `lit(0.0)` for a closed form, `col(ID)` for a label that
   * defaults to the vertex itself, `lit(null)` for none. */
  case class Out(name: String, dataType: DataType, fill: Column)

  /** A double score column with a constant fill. */
  def score(name: String, fill: Double): Out = Out(name, DoubleType, lit(fill))
}
