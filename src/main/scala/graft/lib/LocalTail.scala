package graft.lib

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
 * per-vertex result back through [[LocalTail.joinBack]]: on a `fromEdges`
 * graph the local relation itself, otherwise a broadcast join onto the
 * vertex table. The round-8 cadence experiment (see IterationManager)
 * showed this is the ONLY safe way to cut small-graph latency: skipping
 * lineage cuts instead blows up the analyzer.
 *
 * Mixing this trait in gives a builder its `setSmallGraphThreshold` knob
 * and the one tail/distributed decision, [[gate]]: one bounded collect
 * both decides and feeds the tail. The companion holds the collect /
 * join-back helpers the tails share.
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

  /** The one tail/distributed decision: `tail(rows)` when `eligible`, the
   * probe has at most t rows and `andIf` holds (evaluated after the
   * collect), else `distributed(probe)`.
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
  protected def gateCollect[A, T](probe: DataFrame, eligible: Boolean = true,
      pinForDistributed: Boolean = false, andIf: => Boolean = true)(
      collect: DataFrame => Array[A])(tail: Array[A] => T)(distributed: DataFrame => T): T = {
    val t = smallGraphThresholdV
    def decide(p: DataFrame): T =
      if (!eligible || !tailEnabled) distributed(p)
      else {
        val rows = collect(p.limit(math.min(t, Int.MaxValue - 1L).toInt + 1))
        val fits = rows.length <= t && andIf
        GraftShims.postEvent(p.sparkSession,
          TailDecision(getClass.getSimpleName, t, rows.length, fits))
        if (fits) tail(rows) else distributed(p)
      }
    if (!pinForDistributed || probe.storageLevel != StorageLevel.NONE) decide(probe)
    else {
      probe.persist()
      try decide(probe) finally probe.unpersist(false)
    }
  }

  /** [[gateCollect]] of the probe's Rows: the tail gets them back as a
   * local frame with the probe's schema, so its own `collect()` calls run
   * no Spark job. */
  protected def gate[T](probe: DataFrame, eligible: Boolean = true,
      pinForDistributed: Boolean = false, andIf: => Boolean = true)(
      tail: DataFrame => T)(distributed: DataFrame => T): T =
    gateCollect(probe, eligible, pinForDistributed, andIf)(_.collect())(rows =>
      tail(probe.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
        probe.schema)))(distributed)

  /** [[gate]] for tails that replay Spark's ordering of the id type on the
   * driver: id types without a faithful driver ordering
   * ([[UnionFind.sparkOrdering]]) always run distributed. */
  protected def gateOrdered[T](probe: DataFrame, idType: DataType,
      pinForDistributed: Boolean = false, andIf: => Boolean = true)(
      tail: (DataFrame, Ordering[Any]) => T)(distributed: DataFrame => T): T = {
    val ord = UnionFind.sparkOrdering(idType)
    gate(probe, ord.isDefined, pinForDistributed, andIf)(tail(_, ord.get))(distributed)
  }

  /** Every vertex id for [[LocalTail.joinBack]]'s local relation on a
   * `fromEdges` graph. `rawProbe` is the tail's collected probe when it
   * holds every edge row's `(src, dst)`: its endpoints, null included, are
   * then the vertex ids and no Spark job runs. Otherwise one bounded
   * collect reads at most t ids (None above t). */
  protected def vertexIdsFor(g: GraphFrame, rawProbe: Option[DataFrame] = None)
      : Option[Array[Any]] = {
    val t = g.vertices.schema(GraphFrame.ID).dataType
    LocalTail.vertexIdsUpTo(g, t, if (rawProbe.isDefined) Long.MaxValue else smallGraphThresholdV,
      rawProbe.isDefined)(LocalTail.endpointsOf(rawProbe.get, t))
  }
}

/** Posted on the listener bus (`SparkListener.onOtherEvent`) by every
 * [[LocalTail]] gate that probes: the builder's class name, its
 * threshold t, the probe rows its bounded collect read (at most t + 1)
 * and whether the driver tail ran. */
case class TailDecision(builder: String, threshold: Long, rowsRead: Int, tail: Boolean)
  extends SparkListenerEvent

/**
 * Semantics parity of the collect / join-back helpers with the
 * distributed joins is exact by construction:
 *  - in the vertex-state algorithms, edges whose endpoint is absent from
 *    the vertex table contribute nothing (the distributed state join drops
 *    them; the tails keep only [[endpointIds]]); path searches
 *    (Centrality) traverse such an endpoint like their frontier joins do;
 *  - null endpoints contribute nothing (join keys never match null);
 *  - multi-edges are kept (the distributed sum counts duplicates);
 *  - accumulation runs in sorted-edge order, so the result is a pure
 *    function of the graph VALUE — partition-count invariant.
 */
private[lib] object LocalTail {
  /** `(src, dst)` pairs from the first two columns of `e`, null-free and
   * sorted by their string forms. */
  def collectEdges(e: DataFrame): Array[(Any, Any)] =
    e.collect().iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.get(0), r.get(1))).toArray
      .sortBy { case (s, d) => (String.valueOf(s), String.valueOf(d)) }

  /** `(src, dst, w)` triples from the first three columns of `e`: null
   * endpoints dropped, a null weight read as 0.0, sorted by `(src, dst, w)`
   * so parallel edges with distinct weights accumulate in a fixed order. */
  def collectWeightedEdges(e: DataFrame): Array[(Any, Any, Double)] =
    e.collect().iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.get(0), r.get(1), if (r.isNullAt(2)) 0.0 else r.getDouble(2)))
      .toArray
      .sortBy { case (s, d, w) => (String.valueOf(s), String.valueOf(d), w) }

  /** The vertex-table ids that are endpoints of `e`, sorted: the distinct
   * non-null `src`/`dst` values of the collected edges. On a graph whose
   * edge endpoints are all vertices (`fromEdges`, `validated()`) those are
   * the answer, cast to the vertex id type, and no Spark job runs;
   * otherwise one broadcast semi-join of the vertex ids against them. */
  def endpointIds(e: DataFrame, g: GraphFrame): Array[Any] = {
    import GraphFrame.{ID, SRC, DST}
    val complete = g.edgeEndpointsComplete
    // the type the semi-join compares in: the union type of src and dst
    val t = if (complete) g.vertices.schema(ID).dataType
      else e.select(col(SRC).as(ID)).union(e.select(col(DST).as(ID))).schema(ID).dataType
    val eps = endpointsOf(e, t).filter(_ != null)
    val ids =
      if (complete) eps
      else g.vertices.select(col(ID)).join(broadcast(g.spark.createDataFrame(
          java.util.Arrays.asList(eps.map(Row(_)): _*),
          StructType(Seq(StructField(ID, t))))), Seq(ID), "left_semi")
        .collect().map(_.get(0))
    ids.sortBy(String.valueOf(_))
  }

  /** The distinct `src`/`dst` values of the collected edges `e` in type
   * `t`, null included: a `fromEdges` graph's vertex ids when `e` holds
   * every edge row. */
  def endpointsOf(e: DataFrame, t: DataType): Array[Any] = {
    import GraphFrame.{SRC, DST}
    e.select(col(SRC).cast(t), col(DST).cast(t)).collect().iterator
      .flatMap(_.toSeq).toArray.distinct
  }

  /** Whether the vertex table's plan is the distinct endpoints of the edge
   * table's, as [[GraphFrame.fromEdges]] builds it: then the collected
   * edges hold every vertex id, one per vertex row. `edgeEndpointsComplete`
   * alone is not enough — `filterEdges` and `validated()` keep it on graphs
   * with isolated vertices. */
  def verticesAreEndpoints(g: GraphFrame): Boolean =
    g.edgeEndpointsComplete && g.vertices.queryExecution.analyzed.sameResult(
      GraphFrame.fromEdges(g.edges).vertices.queryExecution.analyzed)

  /** Every vertex row's id, in type `t`, if there are at most `bound`
   * rows. With `fromEndpoints` ([[verticesAreEndpoints]]) they are
   * `endpoints`, the distinct endpoints of the collected edges, and no
   * Spark job runs; otherwise one bounded `limit(bound + 1)` collect of
   * `vertices.select(id)` reads them. */
  def vertexIdsUpTo(g: GraphFrame, t: DataType, bound: Long, fromEndpoints: Boolean)(
      endpoints: => Array[Any]): Option[Array[Any]] = {
    val ids =
      if (fromEndpoints) endpoints
      else g.vertices.select(col(GraphFrame.ID).cast(t))
        .limit(math.min(bound, Int.MaxValue - 1L).toInt + 1).collect().map(_.get(0))
    Some(ids).filter(_.length <= bound)
  }

  /** Every vertex id, sorted by string form. */
  def vertexIds(g: GraphFrame): Array[Any] =
    g.vertices.select(col(GraphFrame.ID)).collect().map(_.get(0)).sortBy(String.valueOf(_))

  /** [[collectEdges]] plus [[endpointIds]], for the tails that need both. */
  def collectGraph(e: DataFrame, g: GraphFrame): (Array[(Any, Any)], Array[Any]) =
    (collectEdges(e), endpointIds(e, g))

  /** One per-vertex column a driver tail hands back through [[joinBack]]:
   * its name, its type, and the fill of every vertex row without a value
   * (a vertex the tail did not score, a null id): `lit(0.0)` for a closed
   * form, `col(ID)` for a label that defaults to the vertex itself,
   * `lit(null)` for none. */
  case class Out(name: String, dataType: DataType, fill: Column)

  /** A double score column with a constant fill. */
  def score(name: String, fill: Double): Out = Out(name, DoubleType, lit(fill))

  /** The one way a driver tail's per-vertex result goes back onto the
   * vertex table. `rows` are `Row(id, value per out...)` in the graph's id
   * type, at most one per id except where the tail replays duplicate
   * vertex rows (connected components); every value column becomes
   * `coalesce(value, fill)`.
   *
   * On a graph whose vertex table is the `fromEdges` endpoint set
   * ([[verticesAreEndpoints]]) with every vertex id known (`vertexIds`,
   * evaluated only then), the result is the local relation itself: one
   * row per vertex id, its values looked up in `rows` (none for a null
   * id, which a join never matches). Consuming it runs no Spark job.
   * Otherwise the local relation is broadcast-joined (`left_outer`) onto
   * the full vertex table. Both give the same schema and rows. */
  def joinBack(g: GraphFrame, rows: Iterable[Row], outs: Seq[Out])(
      vertexIds: => Option[Array[Any]]): DataFrame = {
    import GraphFrame.ID
    val schema = StructType(g.vertices.schema(ID) +:
      outs.map(o => StructField(o.name, o.dataType, nullable = true)))
    def local(rs: Iterable[Row]): DataFrame =
      g.spark.createDataFrame(java.util.Arrays.asList(rs.toSeq: _*), schema)
    (if (verticesAreEndpoints(g)) vertexIds else None) match {
      case Some(ids) =>
        val byId = rows.iterator.filter(!_.isNullAt(0)).map(r => r.get(0) -> r.toSeq.tail).toMap
        val none = outs.map(_ => null)
        local(ids.map(v => Row.fromSeq(v +: byId.getOrElse(v, none))))
          .select(col(ID) +: outs.map(o => coalesce(col(o.name), o.fill).as(o.name)): _*)
      case None =>
        outs.foldLeft(g.vertices.join(broadcast(local(rows)), Seq(ID), "left_outer"))(
          (df, o) => df.withColumn(o.name, coalesce(col(o.name), o.fill)))
    }
  }
}
