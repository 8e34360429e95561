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

  /** [[gate]] over the raw `(src, dst)` edges of `g`, for tails that build
   * the canonical undirected edge set on the driver
   * ([[LocalTail.undirectedPairs]]). The tail applies only when the id
   * type has a Spark-faithful driver ordering ([[UnionFind.sparkOrdering]])
   * and `src` and `dst` carry the id type itself; the distributed path
   * gets the probe and builds (and pins) its own canonical frame. */
  protected def gateUndirected[T](g: GraphFrame)(tail: (DataFrame, Ordering[Any]) => T)(
      distributed: DataFrame => T): T = {
    import GraphFrame.{ID, SRC, DST}
    val idType = g.vertices.schema(ID).dataType
    val ord = UnionFind.sparkOrdering(idType).filter(_ =>
      g.edges.schema(SRC).dataType == idType && g.edges.schema(DST).dataType == idType)
    gate(g.edges.select(col(SRC), col(DST)), ord.isDefined)(tail(_, ord.get))(distributed)
  }

  /** Every vertex id, for [[LocalTail.joinBack]]'s local relation or a tail
   * that needs them all. `endpoints` are those of the tail's collected
   * probe when it holds every edge row's `(src, dst)`: on a `fromEdges`
   * graph ([[GraphFrame.verticesAreEndpoints]]) they are the vertex ids and
   * no Spark job runs. Otherwise one bounded collect reads at most t ids
   * (None above t). */
  protected def vertexIdsFor(g: GraphFrame, endpoints: Option[LocalTail.Endpoints] = None)
      : Option[Array[Any]] = {
    val fromEndpoints = endpoints.isDefined && g.verticesAreEndpoints
    LocalTail.vertexIdsUpTo(g, g.vertices.schema(GraphFrame.ID).dataType,
      if (fromEndpoints) Long.MaxValue else smallGraphThresholdV, fromEndpoints)(
      endpoints.get.all)
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
  def collectEdges(e: DataFrame): Array[(Any, Any)] = edgesOf(e.collect())

  private def edgesOf(rows: Array[Row]): Array[(Any, Any)] =
    rows.iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.get(0), r.get(1))).toArray
      .sortBy { case (s, d) => (String.valueOf(s), String.valueOf(d)) }

  /** `(src, dst, w)` triples from the first three columns of `e`: null
   * endpoints dropped, a null weight read as 0.0, sorted by `(src, dst, w)`
   * so parallel edges with distinct weights accumulate in a fixed order. */
  def collectWeightedEdges(e: DataFrame): Array[(Any, Any, Double)] =
    weightedEdgesOf(e.collect())

  /** [[collectWeightedEdges]] of `e`'s collected rows. */
  def weightedEdgesOf(rows: Array[Row]): Array[(Any, Any, Double)] =
    rows.iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.get(0), r.get(1), if (r.isNullAt(2)) 0.0 else r.getDouble(2)))
      .toArray
      .sortBy { case (s, d, w) => (String.valueOf(s), String.valueOf(d), w) }

  /** The endpoints of a tail's collected edges, read once: `vids`, the
   * vertex-table ids among them, sorted (computed on first use), and `all`,
   * every distinct `src`/`dst` value, null included, in the vertex id type
   * when the graph is `edgeEndpointsComplete` — then, on a `fromEdges`
   * graph whose edge rows were all collected, the vertex ids
   * ([[LocalTail.vertexIdsFor]]). */
  final class Endpoints(vidsOf: => Array[Any], val all: Array[Any]) {
    lazy val vids: Array[Any] = vidsOf
  }

  /** [[Endpoints]] of the collected edges `e`. On a graph whose edge
   * endpoints are all vertices (`fromEdges`, `validated()`) the non-null
   * endpoints, cast to the vertex id type, are the `vids` and no Spark job
   * runs; otherwise the first read of `vids` runs one broadcast semi-join
   * of the vertex ids against them. `rows` are `e`'s collected rows, read
   * instead of a cast projection when `src` and `dst` already have the type
   * compared in. */
  def endpointIds(e: DataFrame, g: GraphFrame, rows: Array[Row]): Endpoints = {
    import GraphFrame.{ID, SRC, DST}
    val complete = g.edgeEndpointsComplete
    // the type the semi-join compares in: the union type of src and dst
    val t = if (complete) g.vertices.schema(ID).dataType
      else e.select(col(SRC).as(ID)).union(e.select(col(DST).as(ID))).schema(ID).dataType
    val all = endpointsOf(e, t, rows)
    val eps = all.filter(_ != null)
    def ids =
      if (complete) eps
      else g.vertices.select(col(ID)).join(broadcast(g.spark.createDataFrame(
          java.util.Arrays.asList(eps.map(Row(_)): _*),
          StructType(Seq(StructField(ID, t))))), Seq(ID), "left_semi")
        .collect().map(_.get(0))
    new Endpoints(ids.sortBy(String.valueOf(_)), all)
  }

  /** The distinct `src`/`dst` values of the collected edges `e` in type
   * `t`, null included: read from `rows`, `e`'s collected rows, when both
   * columns have type `t`, else from one cast projection of `e`. */
  def endpointsOf(e: DataFrame, t: DataType, rows: Array[Row]): Array[Any] = {
    import GraphFrame.{SRC, DST}
    val (s, d) = (e.schema.fieldIndex(SRC), e.schema.fieldIndex(DST))
    val pairs =
      if (e.schema(s).dataType == t && e.schema(d).dataType == t)
        rows.iterator.map(r => (r.get(s), r.get(d)))
      else e.select(col(SRC).cast(t), col(DST).cast(t)).collect().iterator
        .map(r => (r.get(0), r.get(1)))
    pairs.flatMap { case (a, b) => Iterator(a, b) }.toArray.distinct
  }

  /** The canonical undirected edge set of collected `(src, dst)` rows (the
   * first two columns), as the distributed paths build it with
   * `filter(src =!= dst)`, `least`/`greatest` and `distinct`: rows with a
   * null endpoint and self-loops dropped, each pair oriented (least,
   * greatest) under `ord` and kept once, sorted by `ord`. Ids compare with
   * `ord.equiv`, never `==` on boxed values, so the self-loop and duplicate
   * tests are Spark's. */
  def undirectedPairs(rows: Array[Row], ord: Ordering[Any]): Array[(Any, Any)] = {
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

  /** Every vertex row's id, in type `t`, if there are at most `bound`
   * rows. With `fromEndpoints` ([[GraphFrame.verticesAreEndpoints]]) they
   * are `endpoints`, the distinct endpoints of the collected edges, and no
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

  /** [[collectEdges]] plus [[endpointIds]] from one collect of `e`, for
   * the tails that need both. */
  def collectGraph(e: DataFrame, g: GraphFrame): (Array[(Any, Any)], Endpoints) = {
    val rows = e.collect()
    (edgesOf(rows), endpointIds(e, g, rows))
  }

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
   * With every vertex row's id known (`vertexIds`, evaluated only then)
   * on a graph whose vertex table is the `fromEdges` endpoint set
   * ([[GraphFrame.verticesAreEndpoints]]), or on any graph when the result
   * keeps only the vertex `id` column (`idOnly`), the result is the local
   * relation itself: one row per vertex id, its values looked up in `rows`
   * (none for a null id, which a join never matches). Consuming it runs no
   * Spark job. Otherwise the local relation is broadcast-joined
   * (`left_outer`) onto the vertex table (its `id` column alone with
   * `idOnly`). Both give the same schema and rows. */
  def joinBack(g: GraphFrame, rows: Iterable[Row], outs: Seq[Out], idOnly: Boolean = false)(
      vertexIds: => Option[Array[Any]]): DataFrame = {
    import GraphFrame.ID
    val schema = StructType(g.vertices.schema(ID) +:
      outs.map(o => StructField(o.name, o.dataType, nullable = true)))
    def local(rs: Iterable[Row]): DataFrame =
      g.spark.createDataFrame(java.util.Arrays.asList(rs.toSeq: _*), schema)
    (if (idOnly || g.verticesAreEndpoints) vertexIds else None) match {
      case Some(ids) =>
        val byId = rows.iterator.filter(!_.isNullAt(0)).map(r => r.get(0) -> r.toSeq.tail).toMap
        val none = outs.map(_ => null)
        local(ids.map(v => Row.fromSeq(v +: byId.getOrElse(v, none))))
          .select(col(ID) +: outs.map(o => coalesce(col(o.name), o.fill).as(o.name)): _*)
      case None =>
        val vertices = if (idOnly) g.vertices.select(col(ID)) else g.vertices
        outs.foldLeft(vertices.join(broadcast(local(rows)), Seq(ID), "left_outer"))(
          (df, o) => df.withColumn(o.name, coalesce(col(o.name), o.fill)))
    }
  }
}
