package graft.lib

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.{GraftConf, GraphFrame}

/**
 * The bounded driver-side tail shared by every builder that can finish a
 * small graph on the driver (docs/THRESHOLDS.md rows 1, 2, 2b, 11,
 * 12b-12e, 22). Below a conf-settable EDGE threshold (0 disables),
 * per-round distributed supersteps are pure fixed scheduling overhead, so
 * the algorithm collects the graph once, iterates locally and
 * broadcast-joins the result back. The round-8 cadence experiment (see
 * IterationManager) showed this is the ONLY safe way to cut small-graph
 * latency: skipping lineage cuts instead blows up the analyzer.
 *
 * Mixing this trait in gives a builder its `setSmallGraphThreshold` knob
 * and the one tail/distributed decision, [[gate]]. The companion holds
 * the pin rule and the collect / join-back helpers the tails share.
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

  /** Whether the tail is enabled at all: `t > 0`. */
  protected def tailEnabled: Boolean = smallGraphThresholdV > 0

  /** Whether an edge count `n` fits the tail: `t > 0 && n <= t`. */
  protected def tailFits(n: Long): Boolean = tailEnabled && n <= smallGraphThresholdV

  /** The one tail/distributed decision: `tail(probe)` when `eligible`, the
   * probe's row count fits the threshold and `andIf` holds (evaluated
   * after the count), else `distributed(probe)`.
   *
   * The probe is pinned for the count and the tail's collect by
   * [[LocalTail.pinned]] (a frame the caller already cached is read, never
   * evicted), and the pin is released on every path, exceptions included.
   * With `pinForDistributed` the distributed path reads the pinned frame
   * too, so it is pinned even when the tail cannot apply and released
   * only after `distributed` returns; otherwise it is pinned only to
   * probe, and released before `distributed` starts. */
  protected def gate[T](probe: DataFrame, eligible: Boolean = true,
      pinForDistributed: Boolean = false, andIf: => Boolean = true)(
      tail: DataFrame => T)(distributed: DataFrame => T): T = {
    val probing = eligible && tailEnabled
    def fits(p: DataFrame): Boolean = probing && tailFits(p.count()) && andIf
    if (pinForDistributed)
      LocalTail.pinned(probe)(p => if (fits(p)) tail(p) else distributed(p))
    else if (!probing) distributed(probe)
    else LocalTail.pinned(probe)(p => if (fits(p)) Some(tail(p)) else None)
      .getOrElse(distributed(probe))
  }

  /** [[gate]] for tails that replay Spark's ordering of the id type on the
   * driver: id types without a faithful driver ordering
   * ([[UnionFind.sparkOrdering]]) always run distributed. */
  protected def gateOrdered[T](probe: DataFrame, idType: DataType,
      pinForDistributed: Boolean = false, andIf: => Boolean = true)(
      tail: (DataFrame, Ordering[Any]) => T)(distributed: DataFrame => T): T = {
    val ord = UnionFind.sparkOrdering(idType)
    gate(probe, ord.isDefined, pinForDistributed, andIf)(tail(_, ord.get))(distributed)
  }
}

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
  /** Runs `body(df)` with `df` pinned. The frame is persisted here only if
   * `Dataset.storageLevel` shows it is not cached yet: a plan that
   * canonicalizes equal to a caller's cached frame (e.g.
   * `edges.select(src, dst)` over cached `(src, dst)` edges) already reads
   * that cache, and unpersisting it would evict the caller's entry. What
   * was pinned here is unpersisted in a `finally`, on success and error
   * alike; nothing else is. */
  def pinned[T](df: DataFrame)(body: DataFrame => T): T = {
    val pin = df.storageLevel == StorageLevel.NONE
    if (pin) df.persist()
    try body(df) finally if (pin) df.unpersist(false)
  }

  /** `(src, dst)` pairs from the first two columns of `e`, null-free and
   * sorted by their string forms: one bounded collect of the pinned probe. */
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

  /** The vertex-table ids that are endpoints of `e`, sorted: a semi-join
   * of the (huge) vertex table against the (small) endpoint set. */
  def endpointIds(e: DataFrame, g: GraphFrame): Array[Any] = {
    import GraphFrame.{ID, SRC, DST}
    val epDF = e.select(col(SRC).as(ID)).union(e.select(col(DST).as(ID))).distinct()
    g.vertices.select(col(ID)).join(epDF, Seq(ID), "left_semi")
      .collect().map(_.get(0)).sortBy(String.valueOf(_))
  }

  /** Every vertex id, sorted by string form. */
  def vertexIds(g: GraphFrame): Array[Any] =
    g.vertices.select(col(GraphFrame.ID)).collect().map(_.get(0)).sortBy(String.valueOf(_))

  /** [[collectEdges]] plus [[endpointIds]], for the tails that need both. */
  def collectGraph(e: DataFrame, g: GraphFrame): (Array[(Any, Any)], Array[Any]) =
    (collectEdges(e), endpointIds(e, g))

  /** Local relation `(id, <scores...>)` with the graph's own id type,
   * broadcast-joined back onto the full vertex table; `fill` supplies the
   * closed-form score of vertices that touch no edge. */
  def joinBack(g: GraphFrame, ids: Array[Any], scores: Seq[(String, Any => Double, Double)])
      : DataFrame = {
    import GraphFrame.ID
    val spark: SparkSession = g.vertices.sparkSession
    val idField = g.vertices.schema(ID)
    val schema = StructType(StructField(ID, idField.dataType, nullable = true) +:
      scores.map { case (n, _, _) => StructField(n, DoubleType, nullable = false) })
    val rows: java.util.List[Row] = java.util.Arrays.asList(
      ids.map(v => Row.fromSeq(v +: scores.map(_._2(v)))): _*)
    var out = g.vertices.join(broadcast(spark.createDataFrame(rows, schema)),
      Seq(ID), "left_outer")
    for ((n, _, fill) <- scores)
      out = out.withColumn(n, coalesce(col(n), lit(fill)))
    out
  }
}
