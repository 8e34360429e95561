package graft.lib

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, IntegerType, LongType,
  ShortType}
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
 * Small graphs finish on the driver ([[LocalTail]], docs/THRESHOLDS.md
 * row 1): at most `setSmallGraphThreshold` raw edge rows and at most as
 * many vertex rows, for integral or string ids (string ids need src and
 * dst of the id's type). One bounded collect reads the caller's edges,
 * plus one bounded vertex-id collect unless the vertex table is the
 * `fromEdges` endpoint set. The tail mints each vertex row's surrogate as
 * [[GraphFrame.indexedVertices]] does, unions the edges' surrogates with
 * the rounds' rules (see `runTwoPhase`) and labels each component with its
 * minimum surrogate, so it returns the rounds' exact rows, through
 * [[LocalGraph.joinBack]] (on the `fromEdges` endpoint set a local relation
 * that reads no input).
 * The rounds finish on the driver too once their remainder fits.
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

  /** The union-find tail's threshold is compared against the input's raw
   * edge rows and vertex rows, and then against each round's remaining
   * parent-pointer edge count. Driver cost at the 1M default: ~32
   * bytes/edge for the typed collect of integral ids (~32 MB), Rows of
   * ~150 bytes/edge for string ids (~150 MB) plus the vertex ids, the
   * per-vertex label hash map and the local relation shipped back —
   * order ~100-300 MB transient worst case, far under the driver heap.
   * The winners are tiny LSH pair
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
    val probe = g.edges.select(col(SRC), col(DST))
    val idType = g.vertices.schema(ID).dataType
    // every vertex row's id must fit t too: from the collected endpoints
    // on the fromEdges endpoint set, else one bounded collect
    val idsFit = (lg: LocalGraph) => lg.vertexIds().isDefined
    if (g.hasIntegralIdType) {
      // the surrogate is the id as a Long, and the rounds translate no edge:
      // an edge to a dangling endpoint still joins its component
      gateCollect(probe)(longEdges)(edges => (edges, LocalGraph.ofEndpoints(g,
          smallGraphThreshold, probe.schema)(ConnectedComponents.endpoints(edges, idType))))(
          el => idsFit(el._2)) { case (edges, lg) =>
        val ids = lg.vertexIds().get
        labelLocally(lg, ids, ids.map { case n: Number => n.longValue; case _ => 0L },
          edges.iterator.filter(e => e.nulls == 0 && e.src != e.dst).map(e => (e.src, e.dst)))
      }(_ => runDistributed())
    } else {
      // string ids whose edges have their type: the rounds join the edges
      // to the minted surrogates, so an edge counts only when both
      // endpoints are vertex ids, once per surrogate of each
      val eligible = UnionFind.sparkOrdering(idType).isDefined &&
        probe.schema.forall(_.dataType == idType)
      gate(g, probe, eligible, edgeRows = true, andIf = idsFit) { lg =>
        val v = lg.vertexIds().get
        val sur = ConnectedComponents.mintSurrogates(v, idType)
        val sursOf = v.indices.filter(v(_) != null).groupMap(v(_))(sur(_))
        def of(id: Any) = sursOf.getOrElse(id, Nil)
        labelLocally(lg, v, sur, for (r <- lg.rows.iterator; s <- of(r.get(0)); d <- of(r.get(1))
          if s != d) yield (s, d))
      }(_ => runDistributed())
    }
  }

  /** Driver tail: union-find over the surrogate `pairs` with min-surrogate
   * roots, the labels the distributed fixpoint produces; a vertex row no
   * edge touches keeps its own surrogate `sur(i)` and a null id gets a
   * null component. The `(id, component)` rows of every vertex row go back
   * through [[LocalGraph.joinBack]]. */
  private def labelLocally(lg: LocalGraph, ids: Array[Any], sur: Array[Long],
      pairs: Iterator[(Long, Long)]): DataFrame = {
    val labels = UnionFind.minLabels(pairs, Ordering.Long.on[Any](_.asInstanceOf[Long])).toMap
    lg.joinBack(ids.indices.map { i =>
      Row(ids(i), if (ids(i) == null) null else labels.getOrElse(sur(i), sur(i)))
    }, Seq(LocalTail.Out("component", LongType, lit(null))))
  }

  /** The star-contraction rounds from the canonical edge list. */
  private def runDistributed(): DataFrame = IterationManager.scoped(g.spark, reliableDirV,
      checkpointIntervalV, storageLevelV) { mgr =>
    // surrogate-id table feeds both the edge translation and the final
    // label join — for non-integral ids it costs a shuffle+sort (the
    // row_number mint), so it must be evaluated exactly ONCE. Translating
    // edges through `g.indexedEdges` would re-plan `indexedVertices` and
    // only dodge the recompute if CacheManager canonicalization happens to
    // match the aliased projection; joining against the SAME cached frame
    // makes single evaluation structural. Lazy persist: the round-0 cut
    // below is the first consumer, so an eager count here would be a
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
    runRounds(mgr.cycle(canon, 0), iv, mgr)
  }

  /** The `(src, dst)` pairs of `ee` cast to Long, as a typed collect: an
   * object of two primitive longs and a byte, ~32 bytes per edge on the
   * driver where a Row of boxed values takes ~120 — what makes the
   * 1M-edge default threshold cheap. */
  private def longEdges(ee: DataFrame): Array[ConnectedComponents.LongEdge] = {
    val session = ee.sparkSession
    import session.implicits._
    val (s, d) = (col(SRC).cast("long"), col(DST).cast("long"))
    ee.select(coalesce(s, lit(0L)).as("src"), coalesce(d, lit(0L)).as("dst"),
      (when(s.isNull, 1).otherwise(0) + when(d.isNull, 2).otherwise(0)).cast("byte").as("nulls"))
      .as[ConnectedComponents.LongEdge].collect()
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
  private def finishWithUnionFind(edges: Array[ConnectedComponents.LongEdge], iv: DataFrame,
      mgr: IterationManager): DataFrame = {
    val session = iv.sparkSession
    import session.implicits._
    val labels = UnionFind.minLabels(edges.iterator.map(e => (e.src, e.dst)),
      Ordering.Long.on[Any](_.asInstanceOf[Long]))
    val compDF = labels.map { case (v, c) => (v.asInstanceOf[Long], c.asInstanceOf[Long]) }
      .toSeq.toDF("vid", "comp")
    val labeled = iv.join(broadcast(compDF), Seq("vid"), "left_outer")
      .select(col(ID), coalesce(col("comp"), col("vid")).as("component"))
    mgr.finish(g.vertices.join(labeled, Seq(ID), "left_outer"))
  }
}

object ConnectedComponents {
  /** One collected edge with its endpoints cast to Long: bit 0 of `nulls`
   * marks a null src and bit 1 a null dst, whose field then holds 0. */
  private[lib] case class LongEdge(src: Long, dst: Long, nulls: Byte)

  /** The distinct endpoints of `edges` as values of the integral vertex id
   * type `idType`, with null when an endpoint is null: the vertex ids of a
   * `fromEdges` graph. */
  private[lib] def endpoints(edges: Array[LongEdge], idType: DataType): Array[Any] = {
    val narrow: Long => Any = idType match {
      case IntegerType => _.toInt
      case ShortType => _.toShort
      case ByteType => _.toByte
      case _ => identity
    }
    val ends = edges.iterator.flatMap { e =>
      (if ((e.nulls & 1) == 0) Iterator(e.src) else Iterator.empty) ++
        (if ((e.nulls & 2) == 0) Iterator(e.dst) else Iterator.empty)
    }.distinct.map(narrow).toArray
    if (edges.exists(_.nulls != 0)) ends :+ null else ends
  }

  /** Every id's surrogate as [[GraphFrame.indexedVertices]] mints it for a
   * non-integral id type: rn * B + bucket, with bucket = pmod(xxhash64(id),
   * B) and rn the row number within the bucket in Spark's ascending order
   * of the id, nulls first, so a duplicate id gets one surrogate per row.
   * The bucket and the order are Catalyst's own expressions, evaluated on
   * the driver over the id in its own type. */
  private[graft] def mintSurrogates(ids: Array[Any], idType: DataType): Array[Long] = {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
      GenericInternalRow, InterpretedOrdering, Literal, Pmod, SortOrder, XxHash64}
    val buckets = GraphFrame.SURROGATE_BUCKETS
    val id = BoundReference(0, idType, nullable = true)
    val bucketOf = Pmod(new XxHash64(Seq(id)), Literal(buckets))
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    val rows = ids.map { v =>
      val r = new GenericInternalRow(Array[Any](toCatalyst(v), null))
      r.setLong(1, bucketOf.eval(r).asInstanceOf[Long])
      r
    }
    // the window's sort: by bucket, then by id
    val order = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(1, LongType, nullable = false), Ascending), SortOrder(id, Ascending)))
    val sur = new Array[Long](ids.length)
    var (rn, prev) = (0L, -1L)
    for (i <- ids.indices.sortBy[InternalRow](rows(_))(order)) {
      val b = rows(i).getLong(1)
      rn = if (b == prev) rn + 1 else 1
      prev = b
      sur(i) = rn * buckets + b
    }
    sur
  }

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
