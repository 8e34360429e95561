package graft.lib

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.GraphFrame

/**
 * Shortest-path centralities (engine extensions; no reference counterpart
 * — the natural companions of the reference's ShortestPaths/PageRank
 * surface): Brandes betweenness, closeness/harmonic centrality and
 * eccentricity, all over one shared multi-source search.
 *
 * '''Forward phase''' (shared): a multi-source BFS carrying per-(source,
 * vertex) shortest-path counts. The frontier is rows `(s, id, sigma)`;
 * each level is ONE join against the pinned edge table plus a hash
 * aggregation on `(s, id)` (map-side combinable sigma sum) and an
 * anti-join against the settled set. Level frames are lineage-cut and
 * retained — the backward phase consumes them by level. Weighted mode
 * swaps the BFS for a multi-source Bellman-Ford with the same state shape.
 *
 * '''Backward phase''' (betweenness only): Brandes' dependency
 * accumulation processed by strictly descending level, so each round is
 * again one join + one aggregation and the round count is the diameter —
 * never per-path work. sigma/delta arithmetic stays inside whole-stage
 * codegen.
 *
 * Scale: state is O(V x S) rows of fixed width where S is the source
 * count — bound S with `sampleSources(k)` on ALL of [[Betweenness]]
 * (deterministic md5-ordered sample, scaled by n/k into the standard
 * Brandes estimator), [[Closeness]] (Eppstein–Wang landmark estimate
 * over reversed edges) and [[Eccentricity]] (landmark lower bound).
 * The edge table is deduplicated, narrowed to (src, dst[, _bw]) and
 * persisted once; every level reuses it. Below
 * `spark.graft.linkAnalysis.smallgraphthreshold` edges (default 100k, 0
 * disables) the whole computation finishes in one bounded driver loop —
 * the same tail pattern as [[Hits]]/[[Katz]]/ConnectedComponents; full
 * threshold matrix in docs/THRESHOLDS.md.
 *
 * Semantics (both paths, identical — CentralitySpec and TailParitySpec
 * run each entry point through both): directed edges, parallel edges
 * collapsed, self-loops naturally ignored by the shortest-path DAG
 * restriction; sources are the vertex-table ids; an edge endpoint absent
 * from the vertex table is still traversed as an intermediate, and only
 * its own score is dropped by the join-back; unreachable pairs
 * contribute nothing; vertices touching no edge score 0.
 */
private[graft] object MultiSourceBFS {
  import GraphFrame.{SRC, DST}

  /** md5 hex of a value's string form — the deterministic sampling key
   * of the driver-side landmark pick (the distributed pick orders by
   * Spark's `md5` of the same string, so both pick IDENTICAL sets). */
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Loud guard for the EXACT all-source distributed paths: above
   * `spark.graft.centrality.requiresampledabove` sources (default
   * 100,000; `0` disables), an exact run must be an explicit decision —
   * its level frames hold O(V×S) = O(V²) rows, which no cluster absorbs
   * silently at the engine's target scale. The driver tails never reach
   * here (they are bounded by the edge-count threshold), and sampled
   * runs (O(V·k)) pass untouched. docs/THRESHOLDS.md row 2. */
  def guardExactSources(op: String, nSources: Long): Unit = {
    val limit = graft.GraftConf.centralityRequireSampledAbove.getOrElse(100000L)
    require(limit <= 0 || nSources <= limit,
      s"$op: exact all-source run over $nSources sources would build O(V*S) " +
        s"level state (> $limit); call sampleSources(k) for the O(V*k) " +
        s"estimator, or set ${graft.GraftConf.CentralityRequireSampledAboveKey} " +
        "to 0 (or above your source count) to force the exact run")
  }

  /** Multi-source Bellman-Ford over `(src, dst, _bw)` edges: the FINAL
   * `(s, id, d)` frame for every reached pair (sources at d 0). Each
   * round is one join + one min-aggregation on the improved frontier;
   * rounds = shortest-path hop diameter. Every loop-carried frame goes
   * through `cut`. */
  def weightedDistances(e: DataFrame, sources: DataFrame,
      cut: DataFrame => DataFrame): DataFrame = {
    var dist = cut(sources.select(col("s"), col("s").as("id"), lit(0.0).as("d")))
    var frontier = dist
    var active = true
    while (active) {
      val cand = frontier.join(e, frontier("id") === e(SRC))
        .groupBy(col("s"), col(DST).as("id"))
        .agg(min(col("d") + col("_bw")).as("d"))
      val improved = cut(cand
        .join(dist.select(col("s"), col("id"), col("d").as("_old")),
          Seq("s", "id"), "left_outer")
        .filter(col("_old").isNull || col("d") < col("_old"))
        .select("s", "id", "d"))
      active = improved.take(1).nonEmpty
      if (active) {
        dist = cut(dist.join(improved.select("s", "id"), Seq("s", "id"), "left_anti")
          .unionByName(improved))
        frontier = improved
      }
    }
    dist
  }

  /** One frame per BFS level: `(s, id, sigma: double)` where `id` is at
   * distance `level` from source `s` and `sigma` counts the distinct
   * shortest s→id paths. Level 0 is the sources themselves (sigma 1).
   * Every frame goes through `cut`. */
  def levels(edges: DataFrame, sources: DataFrame,
      cut: DataFrame => DataFrame): ArrayBuffer[DataFrame] = {
    val out = ArrayBuffer(cut(sources.select(col("s"), col("s").as("id"), lit(1.0).as("sigma"))))
    var frontier = out.head
    // one emptiness probe per level, carried into the loop condition
    var reached = !frontier.isEmpty
    while (reached) {
      // candidates at this level: extend the frontier one hop, merge path
      // counts per (s, id), then drop (s, id) pairs settled at a shorter
      // distance. Aggregate BEFORE the anti-join: the agg shrinks the
      // frame the anti-join has to shuffle.
      val settled = out.map(_.select(col("s"), col("id"))).reduce(_ union _)
      frontier = cut(frontier.join(edges, frontier("id") === edges(SRC))
        .groupBy(col("s"), col(DST).as("id"))
        .agg(sum("sigma").as("sigma"))
        .join(settled, Seq("s", "id"), "left_anti"))
      reached = !frontier.isEmpty
      if (reached) out += frontier
    }
    out
  }

  /** The driver twin of the forward phase from one source over an
   * adjacency of `(neighbor, weight)` lists: the settled order, distances
   * and shortest-path counts. Hop mode is a BFS (every weight counts 1);
   * weighted mode is Dijkstra with ties broken by the id's string form. */
  def localPaths(adj: Map[Any, Array[(Any, Double)]], s: Any, weighted: Boolean)
      : (ArrayBuffer[Any], mutable.HashMap[Any, Double], mutable.HashMap[Any, Double]) = {
    val order = ArrayBuffer.empty[Any]
    val dist = mutable.HashMap[Any, Double](s -> 0.0)
    val sigma = mutable.HashMap[Any, Double](s -> 1.0)
    def out(v: Any) = adj.getOrElse(v, Array.empty[(Any, Double)])
    if (!weighted) {
      order += s
      val queue = mutable.Queue[Any](s)
      while (queue.nonEmpty) {
        val v = queue.dequeue()
        for ((w, _) <- out(v)) {
          if (!dist.contains(w)) {
            dist(w) = dist(v) + 1; sigma(w) = 0.0
            order += w; queue.enqueue(w)
          }
          if (dist(w) == dist(v) + 1) sigma(w) = sigma(w) + sigma(v)
        }
      }
    } else {
      val settled = mutable.HashSet.empty[Any]
      implicit val ord: Ordering[(Double, String)] =
        Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.String.reverse)
      val byKey = mutable.HashMap(String.valueOf(s) -> s)
      val pq = mutable.PriorityQueue((0.0, String.valueOf(s)))
      while (pq.nonEmpty) {
        val (dv, key) = pq.dequeue()
        val v = byKey(key)
        if (!settled(v) && dist(v) == dv) {
          settled += v; order += v
          for ((nb, w) <- out(v)) {
            val nd = dv + w
            if (!dist.contains(nb) || nd < dist(nb)) {
              dist(nb) = nd; sigma(nb) = sigma(v)
              byKey(String.valueOf(nb)) = nb
              pq.enqueue((nd, String.valueOf(nb)))
            } else if (nd == dist(nb) && !settled(nb)) {
              sigma(nb) = sigma(nb) + sigma(v)
            }
          }
        }
      }
    }
    (order, dist, sigma)
  }
}

/** Builder state and the steps [[Betweenness]], [[Closeness]] and
 * [[Eccentricity]] share: the edge table, the md5 landmark pick, the one
 * tail/distributed run, the distance rows closeness and eccentricity
 * aggregate, and the per-vertex score join. */
private[lib] sealed abstract class PathCentrality(g: GraphFrame, op: String)
    extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var sampleKV: Int = 0 // 0 = exact (every vertex a source)
  private var weightColV: Option[String] = None

  /** Run from k deterministic md5-ordered sources (replayable, no RNG
   * state) instead of every vertex: O(V·k) state instead of O(V²). Each
   * centrality's doc states its estimator; k >= n runs exact. 0 = exact. */
  def sampleSources(k: Int): this.type = {
    require(k >= 0, "sampleSources k must be >= 0 (0 = exact)")
    sampleKV = k; this
  }

  /** Weighted shortest paths (engine extension): minimize the SUM of this
   * edge column instead of the hop count. Weights must be STRICTLY
   * positive (a zero weight would put cycles in the shortest-path DAG and
   * make harmonic's 1/d blow up) — validated eagerly. Parallel edges
   * collapse to their MINIMUM weight (only a minimum-weight copy can lie
   * on a shortest path; σ counts it once, matching the unweighted
   * distinct()). Composes with [[sampleSources]]. Shortest-path tests are
   * STRICT double equality `d(u) + w == d(v)` — exact for integer-valued
   * (or dyadic) weights, the same exactness contract as the weighted-walk
   * prefix sums; arbitrary float weights can drop DAG edges to
   * summation-order noise and are the caller's risk. */
  def weightCol(c: String): this.type = { weightColV = Some(c); this }

  protected def weighted: Boolean = weightColV.isDefined
  protected def sampled(n: Long): Boolean = sampleKV > 0 && sampleKV < n
  /** The n/k scale-up of the sampled estimators (1 when exact). */
  protected def scale(n: Long): Double = if (sampled(n)) n.toDouble / sampleKV else 1.0

  /** The one run of every entry point: the edge table (weights checked
   * first; null endpoints dropped, as the tails' collects drop them), the
   * vertex count, then the one [[gate]] — `tail(edges, n)`
   * over the sorted driver edge collect (hop mode reads every weight as
   * 1), else `distributed(e, n, cut)` past the exact-source guard: `cut`
   * is a [[IterationManager.keep]], and the result is handed out through
   * [[IterationManager.finish]], so every frame cut is released on return
   * and on error alike. */
  protected def runPaths(tail: (Array[(Any, Any, Double)], Long) => DataFrame)(
      distributed: (DataFrame, Long, DataFrame => DataFrame) => DataFrame): DataFrame = {
    val linked = g.edges.filter(col(SRC).isNotNull && col(DST).isNotNull)
    val e = weightColV match {
      case None => linked.select(col(SRC), col(DST)).distinct()
      case Some(w) =>
        val wc = col(GraphFrame.quoteName(w))
        require(g.edges.filter(wc.isNull || wc <= 0).isEmpty,
          s"$op weightCol '$w' must be non-null and > 0 on every edge")
        linked.groupBy(col(SRC), col(DST)).agg(min(wc.cast("double")).as("_bw"))
    }
    val n = g.vertices.count()
    gate(e, pinForDistributed = true)(p => tail(
      if (weighted) LocalTail.collectWeightedEdges(p)
      else LocalTail.collectEdges(p).map { case (s, d) => (s, d, 1.0) }, n)) { p =>
      if (!sampled(n)) MultiSourceBFS.guardExactSources(op, n)
      IterationManager.scoped(g.spark)(mgr => mgr.finish(distributed(p, n, mgr.keep)))
    }
  }

  /** The sources as an `(s)` frame: every vertex, or the k smallest by
   * md5 of the id's string form. */
  protected def sourceFrame(n: Long): DataFrame = {
    val all = g.vertices.select(col(ID).as("s"))
    if (sampled(n)) all.orderBy(md5(col("s").cast("string")), col("s")).limit(sampleKV)
    else all
  }

  /** The driver twin of [[sourceFrame]], in the order the tails visit
   * them. */
  protected def localSources(n: Long): Array[Any] = {
    val ids = LocalTail.vertexIds(g)
    if (sampled(n))
      ids.sortBy(v => (MultiSourceBFS.md5Hex(String.valueOf(v)), String.valueOf(v)))
        .take(sampleKV)
    else ids
  }

  /** Out-neighbors with edge weights, in the collect's sorted order. */
  protected def adjacency(edges: Array[(Any, Any, Double)]): Map[Any, Array[(Any, Double)]] =
    edges.groupBy(_._1).map { case (v, es) => (v, es.map(x => (x._2, x._3))) }

  /** The `(_k, d)` distance rows closeness and eccentricity aggregate.
   * Exact: a forward search from every vertex, each pair keyed by its
   * source. Sampled: a search from the landmarks over the REVERSED edges
   * (so d is d(v, landmark) in the original direction), keyed by the
   * reached vertex. Hop mode reads the BFS level frames, weighted mode the
   * Bellman-Ford distances. */
  protected def distanceFrame(e: DataFrame, n: Long, cut: DataFrame => DataFrame): DataFrame = {
    val edges =
      if (sampled(n))
        e.select(col(DST).as(SRC) +: col(SRC).as(DST) +: e.columns.drop(2).map(col): _*)
      else e
    val dists =
      if (weighted) MultiSourceBFS.weightedDistances(edges, sourceFrame(n), cut)
      else MultiSourceBFS.levels(edges, sourceFrame(n), cut).zipWithIndex
        .map { case (lf, d) => lf.withColumn("d", lit(d)) }.reduce(_ union _)
    dists.select(col(if (sampled(n)) "id" else "s").as("_k"), col("d"))
  }

  /** The driver twin of [[distanceFrame]]: `(key, d)` per reached pair,
   * source by source, each source's pairs by ascending distance (a fixed
   * summation order for the per-source sums). */
  protected def localDistances(edges: Array[(Any, Any, Double)], n: Long)
      : Iterator[(Any, Double)] = {
    val adj = adjacency(if (sampled(n)) edges.map { case (s, d, w) => (d, s, w) } else edges)
    localSources(n).iterator.flatMap { s =>
      MultiSourceBFS.localPaths(adj, s, weighted)._2.toSeq.sortBy(_._2)
        .map { case (v, d) => (if (sampled(n)) v else s, d) }
    }
  }

  /** Every vertex-table column plus `scores` over the `_k`-keyed
   * aggregate `agg`. */
  protected def joinScores(agg: DataFrame, scores: Column*): DataFrame =
    g.vertices.join(agg, col(ID) === col("_k"), "left_outer")
      .select(g.vertices.columns.map(c => g.vertices(GraphFrame.quoteName(c))) ++ scores: _*)

  /** The driver tails' join-back of their score maps: a vertex absent
   * from a map scores 0 there. */
  protected def joinLocal(scores: (String, collection.Map[Any, Double])*): DataFrame =
    LocalTail.joinBack(g, scores.flatMap(_._2.keys).distinct.map(v =>
        Row.fromSeq(v +: scores.map(_._2.getOrElse(v, 0.0)))),
      scores.map(s => LocalTail.score(s._1, 0.0)))(vertexIdsFor(g))
}

/** Brandes betweenness centrality — see [[MultiSourceBFS]] for the
 * execution design. Returns vertices + `betweenness: double`.
 * `sampleSources(k)` scales the k-source sum by n/k (the standard Brandes
 * estimator). Weighted mode runs three fixpoint phases distributed and a
 * Dijkstra-based Brandes on the driver. */
class Betweenness(g: GraphFrame) extends PathCentrality(g, "betweenness") {
  import GraphFrame.{SRC, DST}

  private var normalizedV: Boolean = false

  /** Divide by (n-1)(n-2) — the directed-graph pair count. */
  def normalized(b: Boolean): this.type = { normalizedV = b; this }

  def run(): DataFrame = runPaths({ (edges, n) =>
    val btw = localBrandes(edges, n)._1
    joinLocal(("betweenness", btw.map { case (v, b) => (v, b * factor(n)) }))
  }) { (e, n, cut) =>
    val delta =
      if (weighted) weightedDeltas(e, n, cut)
      else backward(e, n, cut, edgeCredit = false)._1
        .map(_.select("s", "id", "delta")).reduce(_ union _)
    // a source's own row carries no credit
    joinScores(delta.filter(col("id") =!= col("s"))
      .groupBy(col("id").as("_k")).agg(sum("delta").as("_b")),
      (coalesce(col("_b"), lit(0.0)) * lit(factor(n))).as("betweenness"))
  }

  private def factor(n: Long): Double =
    scale(n) * (if (normalizedV && n > 2) 1.0 / ((n - 1.0) * (n - 2.0)) else 1.0)

  /** Edge betweenness (the Girvan–Newman primitive): each DISTINCT edge's
   * summed pair dependency Σ_{s,t} σ_st(e)/σ_st, via Brandes' edge rule
   * δ_s((u,v)) = σ_su/σ_sv · (1 + δ_s(v)) on the shortest-path DAG — ONE
   * extra level-l join per backward level on top of [[run]]'s vertex
   * phases (the σ_su factor is exactly the level frame). Unlike vertex
   * betweenness, endpoint pairs count (an s→t path's first and last edges
   * carry it). `sampleSources` composes with the same n/k scaling;
   * unweighted only — the weighted fixpoint would need the same edge join
   * on ITS δ phase, which is not built (fails loudly). Returns one row
   * per distinct edge: (src, dst, edge_betweenness), 0.0 for edges on no
   * shortest path (self-loops included). */
  def runEdges(): DataFrame = {
    require(!weighted, "edge betweenness is unweighted-only (weightCol is not supported)")
    runPaths({ (edges, n) =>
      val ebt = localBrandes(edges, n)._2
      val schema = StructType(Seq(StructField(SRC, g.edges.schema(SRC).dataType),
        StructField(DST, g.edges.schema(DST).dataType),
        StructField("edge_betweenness", DoubleType)))
      val rows: java.util.List[Row] = java.util.Arrays.asList(edges.map { case (u, v, _) =>
        Row(u, v, ebt.getOrElse((u, v), 0.0) * scale(n)) }: _*)
      g.edges.sparkSession.createDataFrame(rows, schema)
    }) { (e, n, cut) =>
      val parts = backward(e, n, cut, edgeCredit = true)._2
      if (parts.isEmpty) e.withColumn("edge_betweenness", lit(0.0))
      else {
        val agg = parts.reduce(_ unionByName _)
          .groupBy(col("_u"), col("_v")).agg(sum("_c").as("_b"))
        e.join(agg, e(SRC) === agg("_u") && e(DST) === agg("_v"), "left_outer")
          .select(e(SRC), e(DST),
            (coalesce(col("_b"), lit(0.0)) * lit(scale(n))).as("edge_betweenness"))
      }
    }
  }

  /** Brandes' backward phase over the [[MultiSourceBFS.levels]] frames,
   * by strictly descending level: delta(s,v) = sigma_v * SUM_{w in
   * DAG-succ(v)} (1+delta_w)/sigma_w, where the inner join with the
   * level-l frame enforces dist(s,v) = l, i.e. only shortest-path-DAG
   * predecessors collect. Returns every level's `(s, id, sigma, delta)` frame and, with
   * `edgeCredit`, each level's `(_u, _v, _c)` edge credit σ_su·(1+δ_v)/σ_v. */
  private def backward(e: DataFrame, n: Long, cut: DataFrame => DataFrame,
      edgeCredit: Boolean): (ArrayBuffer[DataFrame], ArrayBuffer[DataFrame]) = {
    val levels = MultiSourceBFS.levels(e, sourceFrame(n), cut)
    val deltas = ArrayBuffer(levels.last.withColumn("delta", lit(0.0)))
    val parts = ArrayBuffer.empty[DataFrame]
    for (l <- levels.size - 2 to 0 by -1) {
      val next = deltas.last
      val partRows = next.join(e, next("id") === e(DST))
        .select(col("s"), e(SRC).as("_u"), next("id").as("_v"),
          ((lit(1.0) + col("delta")) / col("sigma")).as("part"))
      if (edgeCredit)
        parts += cut(partRows.join(levels(l).select(col("s"), col("id").as("_u"),
            col("sigma").as("_su")), Seq("s", "_u"))
          .groupBy(col("_u"), col("_v"))
          .agg(sum(col("_su") * col("part")).as("_c")))
      val contrib = partRows.groupBy(col("s"), col("_u").as("id"))
        .agg(sum("part").as("part"))
      deltas += cut(levels(l).join(contrib, Seq("s", "id"), "left")
        .select(col("s"), col("id"), col("sigma"),
          (col("sigma") * coalesce(col("part"), lit(0.0))).as("delta")))
    }
    (deltas, parts)
  }

  /** Weighted Brandes, three fixpoint phases (each round ONE join + one
   * aggregation over (s, v)-keyed state): multi-source Bellman-Ford
   * distances; σ path counts by DAG hop level; δ dependency fixpoint
   * (correct for every vertex of DAG height ≤ k after k rounds, stable
   * after longest-DAG-path rounds). Returns the `(s, id, delta)` frame. */
  private def weightedDeltas(e: DataFrame, n: Long,
      cut: DataFrame => DataFrame): DataFrame = {
    // Phase A: distances (shared multi-source Bellman-Ford)
    val dist = MultiSourceBFS.weightedDistances(e, sourceFrame(n), cut)

    // shortest-path DAG per source
    val dagR = cut(e
      .join(dist.select(col("s"), col("id").as(SRC), col("d").as("_du")), Seq(SRC))
      .join(dist.select(col("s"), col("id").as(DST), col("d").as("_dv")),
        Seq("s", DST))
      .filter(col("_du") + col("_bw") === col("_dv"))
      .select(col("s"), col(SRC).as("_u"), col(DST).as("_v")))

    // Phase B: σ = Σ over hop levels of per-level path counts (a second
    // source frame: one shared with phase A would make the DAG join an
    // ambiguous self-join)
    val pLevels = ArrayBuffer.empty[DataFrame]
    var p = cut(sourceFrame(n).select(col("s"), col("s").as("id"), lit(1.0).as("p")))
    pLevels += p
    var reached = !p.isEmpty
    while (reached) {
      p = cut(p.join(dagR, p("s") === dagR("s") && p("id") === dagR("_u"))
        .groupBy(dagR("s").as("s"), col("_v").as("id"))
        .agg(sum("p").as("p")))
      reached = !p.isEmpty
      if (reached) pLevels += p
    }
    val sig = cut(pLevels.reduce(_ unionByName _)
      .groupBy("s", "id").agg(sum("p").as("sigma")))

    // Phase C: δ fixpoint
    var delta = cut(sig.select(col("s"), col("id"), lit(0.0).as("delta")))
    var stable = false
    while (!stable) {
      val dw = delta.select(col("s"), col("id").as("_v"), col("delta").as("_dw"))
        .join(sig.select(col("s"), col("id").as("_v"), col("sigma").as("_sw")),
          Seq("s", "_v"))
      val contrib = dagR.join(dw, Seq("s", "_v"))
        .groupBy("s", "_u")
        .agg(sum((lit(1.0) + col("_dw")) / col("_sw")).as("part"))
        .select(col("s"), col("_u").as("id"), col("part"))
      val nd = cut(sig.join(contrib, Seq("s", "id"), "left_outer")
        .select(col("s"), col("id"),
          (col("sigma") * coalesce(col("part"), lit(0.0))).as("delta")))
      stable = nd
        .join(delta.select(col("s"), col("id"), col("delta").as("_od")), Seq("s", "id"))
        .filter(col("delta") =!= col("_od")).take(1).isEmpty
      delta = nd
    }
    delta
  }

  /** Brandes on the driver (exact at convergence, so local == distributed
   * up to float summation noise; exact for integer weights): per source
   * the forward phase of [[MultiSourceBFS.localPaths]], then one sweep in
   * reverse settled order that credits every shortest-path DAG edge (v, w)
   * with σ_v/σ_w·(1+δ_w). Returns (vertex credit, edge credit). */
  private def localBrandes(edges: Array[(Any, Any, Double)], n: Long)
      : (mutable.HashMap[Any, Double], mutable.HashMap[(Any, Any), Double]) = {
    val adj = adjacency(edges)
    val btw = mutable.HashMap.empty[Any, Double]
    val ebt = mutable.HashMap.empty[(Any, Any), Double]
    for (s <- localSources(n)) {
      val (order, dist, sigma) = MultiSourceBFS.localPaths(adj, s, weighted)
      val delta = mutable.HashMap.empty[Any, Double]
      for (v <- order.reverseIterator) {
        for ((w, wE) <- adj.getOrElse(v, Array.empty[(Any, Double)])
             if dist.get(w).contains(dist(v) + wE)) {
          val c = sigma(v) / sigma(w) * (1.0 + delta.getOrElse(w, 0.0))
          ebt((v, w)) = ebt.getOrElse((v, w), 0.0) + c
          delta(v) = delta.getOrElse(v, 0.0) + c
        }
        if (v != s) btw(v) = btw.getOrElse(v, 0.0) + delta.getOrElse(v, 0.0)
      }
    }
    (btw, ebt)
  }
}

/** Per-vertex eccentricity over outgoing distances (engine extension) —
 * max distance to any REACHABLE vertex (0 when nothing is reachable; on
 * disconnected graphs true eccentricity is infinite, so the reachable
 * restriction is stated, not hidden). Graph radius/diameter are the
 * min/max of the non-isolated rows. Returns vertices + `eccentricity`:
 * int in hop mode, double in weighted mode. `sampleSources(k)`: ecc(v)
 * becomes `max over sampled landmarks l of d(v, l)` — a LOWER BOUND on the
 * true reachable eccentricity (max is not an average, so no n/k scale-up
 * applies). */
class Eccentricity(g: GraphFrame) extends PathCentrality(g, "eccentricity") {
  def run(): DataFrame = {
    val eccType = if (weighted) "double" else "int"
    runPaths({ (edges, n) =>
      val ecc = mutable.HashMap.empty[Any, Double]
      for ((k, d) <- localDistances(edges, n)) ecc(k) = math.max(ecc.getOrElse(k, 0.0), d)
      joinLocal(("eccentricity", ecc)).withColumn("eccentricity", col("eccentricity").cast(eccType))
    }) { (e, n, cut) =>
      joinScores(distanceFrame(e, n, cut).groupBy("_k").agg(max("d").as("_ec")),
        coalesce(col("_ec"), lit(0)).cast(eccType).as("eccentricity"))
    }
  }
}

/** Closeness centrality (Wasserman–Faust reachability-corrected) plus
 * harmonic centrality, over outgoing distances — see [[MultiSourceBFS]].
 * Returns vertices + `closeness: double`, `harmonic: double`;
 * zero-out-reach vertices score 0 on both. `sampleSources(k)` is the
 * standard landmark (Eppstein–Wang) estimate: the per-vertex reachable
 * count, distance sum and harmonic sum over the k sampled targets are
 * scaled by n/k, i.e. closeness(v) ≈ ((n/k)·r̂/(n-1)) · (r̂/total̂) and
 * harmonic(v) ≈ (n/k)·Σ 1/d(v, lᵢ). Unbiased for harmonic; the
 * Wasserman–Faust closeness is a ratio estimate (consistent, slight
 * small-k bias). */
class Closeness(g: GraphFrame) extends PathCentrality(g, "closeness") {
  def run(): DataFrame = runPaths({ (edges, n) =>
    // per scored vertex: reachable count r, distance sum, harmonic sum
    val r = mutable.HashMap.empty[Any, Double]
    val total = mutable.HashMap.empty[Any, Double]
    val h = mutable.HashMap.empty[Any, Double]
    for ((k, d) <- localDistances(edges, n) if d > 0) {
      r(k) = r.getOrElse(k, 0.0) + 1.0
      total(k) = total.getOrElse(k, 0.0) + d
      h(k) = h.getOrElse(k, 0.0) + 1.0 / d
    }
    joinLocal(
      ("closeness", r.map { case (v, rv) =>
        (v, scale(n) * rv / math.max(n - 1.0, 1.0) * rv / total(v)) }),
      ("harmonic", h.map { case (v, hv) => (v, scale(n) * hv) }))
  }) { (e, n, cut) =>
    val agg = distanceFrame(e, n, cut).filter(col("d") > 0).groupBy("_k").agg(
      count(lit(1)).as("r"), sum("d").as("total"), sum(lit(1.0) / col("d")).as("h"))
    joinScores(agg,
      coalesce(lit(scale(n)) * col("r") / lit(math.max(n - 1.0, 1.0)) * col("r") / col("total"),
        lit(0.0)).as("closeness"),
      coalesce(lit(scale(n)) * col("h"), lit(0.0)).as("harmonic"))
  }
}
