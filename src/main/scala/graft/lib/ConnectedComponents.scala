package graft.lib

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.GraphFrame

/**
 * Connected components via alternating large-star / small-star contraction
 * (Kiveris et al., "Connected Components in MapReduce and Beyond";
 * reference default algorithm, lib/TwoPhase.scala:178-443).
 *
 * AQE-first stance: the reference's own benchmarks found pure-AQE skew
 * handling ~5x faster than its manual hub-broadcast path
 * (reference mixins.scala:76-79), so we implement only the AQE shape —
 * every round is two hash aggregations + two shuffled joins whose skew AQE
 * splits at runtime. Rounds converge in O(log diameter); per-round state
 * is the contracted edge list only (never the full input), and lineage is
 * cut through [[IterationManager]] so the plan stays flat at any scale.
 *
 * Output: original vertices + `component: long` (surrogate Long ids are
 * mapped back for non-integral id types).
 */
class ConnectedComponents(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST, LONG_ID, LONG_SRC, LONG_DST}
  import graft.GraftConf

  // defaults come from the session conf (spark.graft.connectedComponents.*,
  // parity with reference GraphFramesConf.scala:31-83); builder setters win
  private var maxIterV: Int = 100
  private var checkpointIntervalV: Int = GraftConf.ccCheckpointInterval.getOrElse(2)
  private var algorithmV: String =
    GraftConf.ccAlgorithm.map(ConnectedComponents.resolveAlgorithm).getOrElse("two_phase")
  private var storageLevelV: org.apache.spark.storage.StorageLevel =
    GraftConf.ccStorageLevel.getOrElse(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private var reliableDirV: Option[String] = None

  def maxIter(n: Int): this.type = { maxIterV = n; this }
  def setCheckpointInterval(n: Int): this.type = { checkpointIntervalV = n; this }
  /** "two_phase" (default) or "randomized_contraction"; "graphframes" is
   * accepted as the reference's deprecated alias for two_phase, "graphx"
   * is rejected — no RDD path in this engine (reference
   * lib/ConnectedComponents.scala:43-56 dispatch). */
  def setAlgorithm(a: String): this.type = {
    algorithmV = ConnectedComponents.resolveAlgorithm(a); this
  }
  /** Storage level for per-round intermediate state (conf:
   * `spark.graft.connectedComponents.intermediatestoragelevel`). */
  def setIntermediateStorageLevel(l: org.apache.spark.storage.StorageLevel): this.type = {
    storageLevelV = l; this
  }
  /** Reliable checkpointing under `dir`: per-round state survives executor
   * loss (local checkpoints — the default — do not; on a real cluster a
   * long contraction would restart from round 0). */
  def setUseReliableCheckpoint(dir: String): this.type = {
    reliableDirV = Some(dir); this
  }

  private var labelsAsComponents: Boolean =
    GraftConf.useLabelsAsComponents.getOrElse(false)
  /** Label each component with its minimum ORIGINAL vertex id (in the id's
   * own type) instead of a surrogate Long (reference
   * lib/ConnectedComponents.scala:40-42 `useLabelsAsComponents`). */
  def setUseLabelsAsComponents(b: Boolean): this.type = { labelsAsComponents = b; this }

  /** The union-find tail's threshold is compared against the remaining
   * parent-pointer edge frame's count. Driver cost at the 1M default:
   * ~32 bytes/edge for the typed collect (~32 MB) plus the per-vertex
   * label hash map and the toSeq.toDF local relation shipped back —
   * bounded by #distinct endpoints ≤ 2×edges, so order ~100 MB transient
   * worst case, far under the driver heap. The winners are tiny LSH pair
   * graphs and, above all, the TAIL of star contraction: after one round
   * the remainder is at most one parent pointer per non-root vertex, so a
   * remainder under 1M EDGES finishes in one driver job instead of ~5-8
   * more supersteps of fixed scheduling overhead (measured 2.1x on the
   * 1.19M-edge baseline trade graph). At 100 TB the distributed rounds
   * still do all contraction work until the remainder fits. */
  override protected def defaultSmallGraphThreshold: Long =
    GraftConf.ccSmallGraphThreshold.getOrElse(1000000L)

  def run(): DataFrame = {
    val raw =
      if (algorithmV == "randomized_contraction") {
        val rc = new RandomizedContraction(g).maxIter(maxIterV)
        reliableDirV.foreach(rc.setUseReliableCheckpoint)
        rc.run()
      } else runTwoPhase()
    if (!labelsAsComponents) raw
    else {
      import org.apache.spark.sql.expressions.Window
      raw.withColumn("component",
        min(col(ID)).over(Window.partitionBy("component")))
    }
  }

  private def runTwoPhase(): DataFrame = {
    val mgr = IterationManager.withReliableDir(g.spark, reliableDirV,
      checkpointIntervalV, storageLevelV)
    // a failed run releases what it pinned so far (surrogate-id table, cuts)
    try twoPhase(mgr) catch { case e: Throwable => mgr.close(); throw e }
  }

  private def twoPhase(mgr: IterationManager): DataFrame = {
    // surrogate-id table feeds both the edge translation and the final
    // label join — for non-integral ids it costs a shuffle+sort (the
    // row_number mint), so it must be evaluated exactly ONCE. Translating
    // edges through `g.indexedEdges` would re-plan `indexedVertices` and
    // only dodge the recompute if CacheManager canonicalization happens to
    // match the aliased projection; joining against the SAME cached frame
    // makes single evaluation structural. Lazy persist: the round-0 probe
    // job below is the first consumer, so an eager count here would be a
    // whole extra job just to warm the cache.
    val iv0 = g.indexedVertices.select(col(LONG_ID).as("vid"), col(ID))
    val (iv, rawEdges) =
      if (g.hasIntegralIdType)
        (iv0, g.indexedEdges.select(col(LONG_SRC).as("s"), col(LONG_DST).as("d")))
      else {
        val p = mgr.persistLazy(iv0)
        val e = g.edges.select(col(SRC), col(DST))
          .join(p.select(col("vid").as("s"), col(ID).as(SRC)), SRC)
          .join(p.select(col("vid").as("d"), col(ID).as(DST)), DST)
          .select(col("s"), col("d"))
        (p, e)
      }

    // canonical undirected edge list on surrogate longs: src > dst, no loops
    val canon = rawEdges
      .filter(col("s") =!= col("d"))
      .select(greatest(col("s"), col("d")).as("src"), least(col("s"), col("d")).as("dst"))
      .distinct()

    // one bounded job finishes any graph already under the union-find
    // threshold (e.g. LSH dedup pair graphs: dozens of edges, full label
    // fidelity). Pinned BEFORE the round-0 lineage cut: the distributed
    // path then cycles the already-cached frame at no extra cost (the pin
    // is released right after that cut). With the tail disabled there is
    // no probe, and the cut reads the frame unpinned.
    gateCollect[(Long, Long), Either[DataFrame, DataFrame]](canon,
      pinForDistributed = tailEnabled)(longEdges)(
      edges => Left(finishWithUnionFind(edges, iv, mgr)))(p => Right(mgr.cycle(p, 0))) match {
      case Left(labeled) => labeled
      case Right(cut) => runRounds(cut, iv, mgr)
    }
  }

  /** The `(src, dst)` surrogate pairs of `ee` as a typed collect: Tuple2
   * is @specialized on Long, so the transient driver footprint is ~32
   * bytes/edge instead of ~120 for Rows of boxed values — what makes the
   * 1M-edge default threshold cheap. */
  private def longEdges(ee: DataFrame): Array[(Long, Long)] = {
    val session = ee.sparkSession
    import session.implicits._
    ee.select(col("src").cast("long"), col("dst").cast("long")).as[(Long, Long)].collect()
  }

  /** Large-star / small-star supersteps from the round-0 cut `ee0`, with
   * the union-find tail once the remainder fits the threshold. */
  private def runRounds(ee0: DataFrame, iv: DataFrame, mgr: IterationManager): DataFrame = {
    var ee = ee0
    var prevChecksum: Option[Row] = None
    var converged = false
    var iter = 1
    while (!converged && iter <= maxIterV) {
      // ---- large-star: connect every bigger neighbor to the minimum ----
      val nbr = ee.unionAll(ee.select(col("dst").as("src"), col("src").as("dst")))
      val minNbrs = nbr.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      // no distinct here: duplicates don't change the small-star minima and
      // the round's final distinct dedups — saves one shuffle per round
      val large = nbr.filter(col("dst") > col("src"))
        .join(minNbrs, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))

      // ---- small-star: hang each node and its smaller neighbors off the min ----
      val mins2 = large.groupBy("src").agg(min("dst").as("m"))
      val small = large.join(mins2, "src")
        .select(explode(array(
          struct(col("dst").as("a"), col("m").as("b")),
          struct(col("src").as("a"), col("m").as("b")))).as("p"))
        .select(col("p.a").as("src"), col("p.b").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()

      ee = mgr.cycle(small, iter)

      // convergence: stable (sum of parent pointers, edge count) checksum
      val cs = ee.agg(
        sum(col("dst").cast(DecimalType(38, 0))).as("s"),
        count(lit(1)).as("c")).head()
      converged = prevChecksum.contains(cs)
      prevChecksum = Some(cs)
      iter += 1
      // tail rounds: once contraction shrinks the remainder under the
      // threshold, one union-find job beats O(log diameter) more supersteps
      // (the star-contracted remainder has the same components)
      if (!converged && tailFits(cs.getLong(1)))
        return finishWithUnionFind(longEdges(ee), iv, mgr)
    }

    // at fixpoint every non-root points straight at its component minimum
    val comp = ee.select(col("src").as("vid"), col("dst").as("comp"))
    val labeled = iv.join(comp, Seq("vid"), "left_outer")
      .select(col(ID), coalesce(col("comp"), col("vid")).as("component"))
    // finish(): self-contained result before close frees the lineage-cut
    // blocks it was computed from (see IterationManager.finish)
    mgr.finish(g.vertices.join(labeled, Seq(ID), "left_outer"))
  }

  /** Union-find over the collected (bounded) edge list with min-id roots —
   * the same min-surrogate labels the distributed fixpoint produces — and
   * join the labels back. One job instead of one per superstep. */
  private def finishWithUnionFind(edges: Array[(Long, Long)], iv: DataFrame,
      mgr: IterationManager): DataFrame = {
    val session = iv.sparkSession
    import session.implicits._
    val labels = UnionFind.minLabels(edges.iterator,
      Ordering.Long.on[Any](_.asInstanceOf[Long]))
    val compDF = labels.map { case (v, c) => (v.asInstanceOf[Long], c.asInstanceOf[Long]) }
      .toSeq.toDF("vid", "comp")
    val labeled = iv.join(broadcast(compDF), Seq("vid"), "left_outer")
      .select(col(ID), coalesce(col("comp"), col("vid")).as("component"))
    mgr.finish(g.vertices.join(labeled, Seq(ID), "left_outer"))
  }
}

object ConnectedComponents {
  /** Canonical algorithm name: "graphframes" is the reference's deprecated
   * alias for two_phase; "graphx" names its RDD backend, which this engine
   * deliberately lacks (SURVEY §7) — rejected with the supported set. */
  private[lib] def resolveAlgorithm(a: String): String = a.toLowerCase match {
    case "two_phase" | "graphframes" => "two_phase"
    case "randomized_contraction" => "randomized_contraction"
    case other => throw new IllegalArgumentException(
      s"unknown connected-components algorithm '$other'; supported: " +
        "two_phase (alias graphframes), randomized_contraction " +
        "(no graphx backend in this engine)")
  }
}
