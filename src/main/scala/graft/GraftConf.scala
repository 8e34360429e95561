package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** Session-conf surface mirroring the reference's `spark.graphframes.*`
 * knobs (reference GraphFramesConf.scala:9-127): a cluster operator tunes
 * algorithm defaults via `spark-defaults.conf` / `spark.conf.set` without
 * touching call sites, and per-run builder setters always win over the
 * conf. Key names keep the reference's spelling under the `spark.graft.`
 * prefix so a switching user renames the prefix and keeps the values.
 *
 * Divergences from the reference, both documented where they bite:
 *  - `useLocalCheckpoints` defaults to TRUE here (the reference defaults
 *    to reliable checkpoints and throws unless a checkpoint dir is set);
 *    setting it to `false` requires `SparkContext.setCheckpointDir`.
 *  - `connectedComponents.broadcastthreshold` does not exist: the manual
 *    hub-broadcast join it tuned is replaced by AQE skew handling (the
 *    reference's own benchmarks found pure AQE ~5x faster,
 *    mixins.scala:76-79). The analog knob for our driver-side fast path
 *    is `connectedComponents.smallgraphthreshold`.
 */
object GraftConf {
  val UseLocalCheckpointsKey = "spark.graft.useLocalCheckpoints"
  val UseLabelsAsComponentsKey = "spark.graft.useLabelsAsComponents"
  val CcAlgorithmKey = "spark.graft.connectedComponents.algorithm"
  val CcCheckpointIntervalKey = "spark.graft.connectedComponents.checkpointinterval"
  val CcStorageLevelKey = "spark.graft.connectedComponents.intermediatestoragelevel"
  val CcSmallGraphThresholdKey = "spark.graft.connectedComponents.smallgraphthreshold"
  val TriangleHubThresholdKey = "spark.graft.triangleCount.hubthreshold"
  val LinkAnalysisSmallGraphThresholdKey = "spark.graft.linkAnalysis.smallgraphthreshold"
  val CentralityRequireSampledAboveKey = "spark.graft.centrality.requiresampledabove"
  val SimRankMaxPairsKey = "spark.graft.simrank.maxpairs"
  val DupSpansMaxDocTokensKey = "spark.graft.dupspans.maxdoctokens"

  private def get(key: String): Option[String] =
    SparkSession.getActiveSession.flatMap(s => Option(s.conf.get(key, null)))

  /** A Long conf value; a malformed one fails naming the key. */
  private def long(key: String): Option[Long] = get(key).map { s =>
    try s.toLong catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"$key must be an integer, got '$s'")
    }
  }

  /** A driver-tail edge threshold: 0 disables the tail, negatives fail. */
  private def threshold(key: String): Option[Long] = long(key).map { n =>
    require(n >= 0, s"$key must be >= 0 (0 disables the driver tail), got $n")
    n
  }

  /** `false` routes every iterative algorithm's lineage cut through a
   * reliable `checkpoint()` into `SparkContext.getCheckpointDir` (set it
   * first) instead of executor-local blocks. */
  def useLocalCheckpoints: Option[Boolean] = get(UseLocalCheckpointsKey).map(_.toBoolean)

  /** `true` labels each component with its minimum ORIGINAL vertex id in
   * the id's own type instead of a surrogate Long. */
  def useLabelsAsComponents: Option[Boolean] =
    get(UseLabelsAsComponentsKey).map(_.toBoolean)

  /** "two_phase" | "randomized_contraction" | "graphframes" (deprecated
   * reference alias for two_phase). "graphx" is rejected at run(): this
   * engine has no RDD path (SURVEY §7 divergence). */
  def ccAlgorithm: Option[String] = get(CcAlgorithmKey).map(_.toLowerCase)

  def ccCheckpointInterval: Option[Int] = get(CcCheckpointIntervalKey).map(_.toInt)

  /** Storage level name for intermediate per-round state, e.g.
   * "MEMORY_AND_DISK_SER" (parsed by `StorageLevel.fromString` — invalid
   * names throw immediately, not mid-run). */
  def ccStorageLevel: Option[StorageLevel] =
    get(CcStorageLevelKey).map(s => StorageLevel.fromString(s.toUpperCase))

  def ccSmallGraphThreshold: Option[Long] = threshold(CcSmallGraphThresholdKey)

  /** Max degree of the canonical (undirected, simple) graph above which
   * triangleCount switches from full-neighbor-set intersection to the
   * degree-oriented skew-safe path (see lib/TriangleCount.scala). */
  def triangleHubThreshold: Option[Long] = long(TriangleHubThresholdKey)

  /** Edge count at or below which every link-analysis builder mixing in
   * [[graft.lib.LocalTail]] finishes on the driver instead of per-round
   * distributed supersteps (same pattern and rationale as the
   * connected-components union-find tail; 0 disables; full bounded-path
   * matrix: docs/THRESHOLDS.md). */
  def linkAnalysisSmallGraphThreshold: Option[Long] =
    threshold(LinkAnalysisSmallGraphThresholdKey)

  /** Source count above which an EXACT (unsampled) distributed
   * Betweenness/Closeness/Eccentricity run fails loudly instead of
   * silently scheduling O(V×S) = O(V²) level state — the caller must
   * either `sampleSources(k)` (O(V·k)) or disable the guard (`0`) to
   * force the exact run. Default 100,000 sources
   * (docs/THRESHOLDS.md row 2). */
  def centralityRequireSampledAbove: Option[Long] =
    long(CentralityRequireSampledAboveKey)

  /** Fail-loud budget on SimRank's sparse pair state per round — all-pairs
   * similarity can approach O(V²) rows on dense structure; the guard
   * names the fix (minSim pruning or top-k similarity) instead of
   * melting the cluster. 0 disables (docs/THRESHOLDS.md). */
  def simRankMaxPairs: Option[Long] = long(SimRankMaxPairsKey)

  /** Fail-loud cap on per-document token count for the exact LCE span
   * dedup ([[graft.pipeline.Text.dupSpansMaximal]]): per-pair extension
   * cost is bounded by document length, so one 10⁸-token document inside
   * an otherwise bounded corpus would melt single tasks; the guard names
   * the fixes (split the document, or the shelved prefix-doubling
   * construction). 0 disables (docs/THRESHOLDS.md). */
  def dupSpansMaxDocTokens: Option[Long] =
    long(DupSpansMaxDocTokensKey)
}
