package graft.lib

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraphFrame

/**
 * Shortest-path centralities (engine extensions; no reference counterpart
 * — the natural companions of the reference's ShortestPaths/PageRank
 * surface): Brandes betweenness and closeness/harmonic centrality, both
 * over one shared multi-source BFS.
 *
 * '''Forward phase''' (shared): a multi-source BFS carrying per-(source,
 * vertex) shortest-path counts. The frontier is rows `(s, id, sigma)`;
 * each level is ONE join against the pinned edge table plus a hash
 * aggregation on `(s, id)` (map-side combinable sigma sum) and an
 * anti-join against the settled set. Level frames are lineage-cut and
 * retained — the backward phase consumes them by level.
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
 * The edge table is deduplicated, narrowed to (src, dst) and persisted
 * once; every level reuses it. Below
 * `spark.graft.linkAnalysis.smallgraphthreshold` edges (default 100k, 0
 * disables) the whole computation finishes in one bounded driver loop —
 * the same tail pattern as [[Hits]]/[[Katz]]/ConnectedComponents; full
 * threshold matrix in docs/THRESHOLDS.md.
 *
 * Semantics (both paths, identical by AlgorithmsSpec's local==distributed
 * property): directed edges, parallel edges collapsed, self-loops
 * naturally ignored by the shortest-path DAG restriction; sources are the
 * vertex-table ids; unreachable pairs contribute nothing; vertices
 * touching no edge score 0 / are filled in closed form by the join-back.
 */
private[graft] object MultiSourceBFS {
  import GraphFrame.{SRC, DST}

  /** md5 hex of a value's string form — the deterministic sampling key
   * shared by every `sampleSources` implementation (local and
   * distributed pick IDENTICAL landmark sets by construction). */
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
   * `(s, id, dist)` frame for every reached pair (sources at dist 0).
   * Each round is one join + one min-aggregation on the improved
   * frontier; rounds = shortest-path hop diameter. Every loop-carried
   * frame goes through `cut` (lineage-cut + retained; the caller
   * releases). Shared by the weighted centralities. */
  def weightedDistances(e: DataFrame, sources: DataFrame,
      cut: DataFrame => DataFrame): DataFrame = {
    var dist = cut(sources
      .select(col("s"), col("s").as("id"), lit(0.0).as("dist")))
    var frontier = dist
    var active = true
    while (active) {
      val cand = frontier.join(e, frontier("id") === e(SRC))
        .groupBy(col("s"), col(DST).as("id"))
        .agg(min(col("dist") + col("_bw")).as("dist"))
      val improved = cut(cand
        .join(dist.select(col("s"), col("id"), col("dist").as("_old")),
          Seq("s", "id"), "left_outer")
        .filter(col("_old").isNull || col("dist") < col("_old"))
        .select("s", "id", "dist"))
      active = improved.take(1).nonEmpty
      if (active) {
        dist = cut(dist.join(improved.select("s", "id"), Seq("s", "id"), "left_anti")
          .unionByName(improved))
        frontier = improved
      }
    }
    dist
  }

  /** Driver-side Dijkstra distances from every `sources` vertex over a
   * weighted adjacency map — the local twin of [[weightedDistances]]. */
  def localDijkstra(adj: Map[Any, Array[(Any, Double)]], source: Any)
      : scala.collection.mutable.HashMap[Any, Double] = {
    import scala.collection.mutable
    val dist = mutable.HashMap[Any, Double](source -> 0.0)
    val settled = mutable.HashSet.empty[Any]
    implicit val ord: Ordering[(Double, String)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.String.reverse)
    val byKey = mutable.HashMap(String.valueOf(source) -> source)
    val pq = mutable.PriorityQueue((0.0, String.valueOf(source)))
    while (pq.nonEmpty) {
      val (dv, key) = pq.dequeue()
      val v = byKey(key)
      if (!settled(v) && dist(v) == dv) {
        settled += v
        for ((nb, w) <- adj.getOrElse(v, Array.empty[(Any, Double)])) {
          val nd = dv + w
          if (!dist.contains(nb) || nd < dist(nb)) {
            dist(nb) = nd
            byKey(String.valueOf(nb)) = nb
            pq.enqueue((nd, String.valueOf(nb)))
          }
        }
      }
    }
    dist
  }

  /** One frame per BFS level: `(s, id, sigma: double)` where `id` is at
   * distance `level` from source `s` and `sigma` counts the distinct
   * shortest s→id paths. Level 0 is the sources themselves (sigma 1).
   * Every frame is eagerly lineage-cut (localCheckpoint) — callers free
   * them via [[IterationManager.release]] once consumed. */
  def levels(edges: DataFrame, sources: DataFrame): ArrayBuffer[DataFrame] = {
    val out = ArrayBuffer.empty[DataFrame]
    out += sources.select(col("s"), col("s").as("id"), lit(1.0).as("sigma"))
      .localCheckpoint(true)
    var level = 0
    var frontier = out.head
    while (!frontier.isEmpty) {
      level += 1
      // candidates at this level: extend the frontier one hop, merge path
      // counts per (s, id), then drop (s, id) pairs settled at a shorter
      // distance. Aggregate BEFORE the anti-join: the agg shrinks the
      // frame the anti-join has to shuffle.
      val settled = out.map(_.select(col("s"), col("id"))).reduce(_ union _)
      frontier = frontier.join(edges, frontier("id") === edges(SRC))
        .groupBy(col("s"), col(DST).as("id"))
        .agg(sum("sigma").as("sigma"))
        .join(settled, Seq("s", "id"), "left_anti")
        .localCheckpoint(true)
      if (!frontier.isEmpty) out += frontier
    }
    out
  }
}

/** Brandes betweenness centrality — see [[MultiSourceBFS]] for the
 * execution design. Returns vertices + `betweenness: double`. */
class Betweenness(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var sampleKV: Int = 0 // 0 = exact (every vertex a source)
  private var normalizedV: Boolean = false
  private var weightColV: Option[String] = None

  /** Estimate from k deterministic sources (md5-ordered — replayable, no
   * RNG state) with the standard Brandes n/k scale-up; 0 = exact. */
  def sampleSources(k: Int): this.type = {
    require(k >= 0, "sampleSources k must be >= 0 (0 = exact)")
    sampleKV = k; this
  }
  /** Divide by (n-1)(n-2) — the directed-graph pair count. */
  def normalized(b: Boolean): this.type = { normalizedV = b; this }
  /** Weighted Brandes (engine extension): shortest paths minimize the SUM
   * of this edge column instead of hop count. Weights must be STRICTLY
   * positive (a zero weight would put cycles in the shortest-path DAG and
   * break the dependency recursion) — validated eagerly. Parallel edges
   * collapse to their MINIMUM weight (only a minimum-weight copy can lie
   * on a shortest path; σ counts it once, matching the unweighted
   * distinct()). Composes with [[sampleSources]]. */
  def weightCol(c: String): this.type = { weightColV = Some(c); this }

  def run(): DataFrame = {
    weightColV.foreach { w =>
      val wc = col(GraphFrame.quoteName(w))
      require(g.edges.filter(wc.isNull || wc <= 0).isEmpty,
        s"betweenness weightCol '$w' must be non-null and > 0 on every edge")
      return runWeighted(w)
    }
    val e = g.edges.select(col(SRC), col(DST)).distinct()
    val n = g.vertices.count()
    val scale = if (sampleKV > 0 && sampleKV < n) n.toDouble / sampleKV else 1.0
    val norm = if (normalizedV && n > 2) 1.0 / ((n - 1.0) * (n - 2.0)) else 1.0
    gate(e, pinForDistributed = true)(runLocal(_, scale * norm))(
      runDistributed(_, n, scale * norm))
  }

  private def runDistributed(e: DataFrame, n: Long, factor: Double): DataFrame = {
    if (!(sampleKV > 0 && sampleKV < n))
      MultiSourceBFS.guardExactSources("betweenness", n)

    val sources = sampledSources()
    val levels = MultiSourceBFS.levels(e, sources)
    val maxLevel = levels.size - 1

    // Backward: delta(s,v) = sigma_v * SUM_{w in DAG-succ(v)} (1+delta_w)/sigma_w,
    // descending by level; the inner join with the level-l frame enforces
    // dist(s,v) = l, i.e. only shortest-path-DAG predecessors collect.
    val cut = ArrayBuffer.empty[DataFrame] // checkpointed delta frames to free
    val deltas = ArrayBuffer.empty[DataFrame]
    var deltaNext = levels(maxLevel).withColumn("delta", lit(0.0))
    for (l <- (maxLevel - 1) to 0 by -1) {
      val contrib = deltaNext
        .join(e, deltaNext("id") === e(DST))
        .select(col("s"), col(SRC).as("id"),
          ((lit(1.0) + col("delta")) / col("sigma")).as("part"))
        .groupBy("s", "id").agg(sum("part").as("part"))
      deltaNext = levels(l).join(contrib, Seq("s", "id"), "left")
        .select(col("s"), col("id"), col("sigma"),
          (col("sigma") * coalesce(col("part"), lit(0.0))).as("delta"))
        .localCheckpoint(true)
      cut += deltaNext
      if (l > 0) deltas += deltaNext // level 0 is the source itself: no credit
    }

    val result =
      if (deltas.isEmpty)
        g.vertices.withColumn("betweenness", lit(0.0)).localCheckpoint(true)
      else {
        val btw = deltas.map(_.select(col("id"), col("delta"))).reduce(_ union _)
          .groupBy(col("id")).agg(sum("delta").as("_b"))
          .withColumnRenamed("id", "_c_id")
        g.vertices.join(btw, col(ID) === col("_c_id"), "left_outer")
          .select(g.vertices.columns.map(c => g.vertices(GraphFrame.quoteName(c))) :+
            (coalesce(col("_b"), lit(0.0)) * lit(factor)).as("betweenness"): _*)
          .localCheckpoint(true)
      }
    (levels ++ cut).foreach(IterationManager.release)
    result
  }

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
    require(weightColV.isEmpty,
      "edge betweenness is unweighted-only (weightCol is not supported)")
    val e = g.edges.select(col(SRC), col(DST)).distinct()
    val n = g.vertices.count()
    val scale = if (sampleKV > 0 && sampleKV < n) n.toDouble / sampleKV else 1.0
    gate(e, pinForDistributed = true)(runLocalEdges(_, scale))(
      runEdgesDistributed(_, scale))
  }

  private def runEdgesDistributed(e: DataFrame, scale: Double): DataFrame = {
    val sources = sampledSources()
    val levels = MultiSourceBFS.levels(e, sources)
    val maxLevel = levels.size - 1
    val cut = ArrayBuffer.empty[DataFrame]
    val parts = ArrayBuffer.empty[DataFrame]
    var deltaNext = levels(maxLevel).withColumn("delta", lit(0.0))
    for (l <- (maxLevel - 1) to 0 by -1) {
      // per DAG edge (u, v) with dist(s,u) = l: (1+δ_v)/σ_v, later scaled
      // by σ_su from the level-l frame (which also enforces the DAG test)
      val partRows = deltaNext.join(e, deltaNext("id") === e(DST))
        .select(col("s"), e(SRC).as("_u"), deltaNext("id").as("_v"),
          ((lit(1.0) + col("delta")) / col("sigma")).as("part"))
      val ec = partRows.join(levels(l).select(col("s"), col("id").as("_u"),
          col("sigma").as("_su")), Seq("s", "_u"))
        .groupBy(col("_u"), col("_v"))
        .agg(sum(col("_su") * col("part")).as("_c"))
        .localCheckpoint(true)
      parts += ec; cut += ec
      val contrib = partRows.groupBy(col("s"), col("_u").as("id"))
        .agg(sum("part").as("part"))
      deltaNext = levels(l).join(contrib, Seq("s", "id"), "left")
        .select(col("s"), col("id"), col("sigma"),
          (col("sigma") * coalesce(col("part"), lit(0.0))).as("delta"))
        .localCheckpoint(true)
      cut += deltaNext
    }
    val result = {
      val agg =
        if (parts.isEmpty) null
        else parts.reduce(_ unionByName _)
          .groupBy(col("_u"), col("_v")).agg(sum("_c").as("_b"))
      val joined =
        if (agg == null) e.withColumn("edge_betweenness", lit(0.0))
        else e.join(agg, e(SRC) === agg("_u") && e(DST) === agg("_v"), "left_outer")
          .select(e(SRC), e(DST),
            (coalesce(col("_b"), lit(0.0)) * lit(scale)).as("edge_betweenness"))
      joined.localCheckpoint(true)
    }
    (levels ++ cut).foreach(IterationManager.release)
    result
  }

  /** Driver-side tail for [[runEdges]]: the same Brandes loop as
   * [[runLocal]] with the edge-dependency credit accumulated inside the
   * backward sweep. */
  private def runLocalEdges(e: DataFrame, factor: Double): DataFrame = {
    val (edges, _) = LocalTail.collectGraph(e, g)
    val allSources = g.vertices.select(col(ID)).collect().map(_.get(0))
      .sortBy(String.valueOf(_))
    val sources: Array[Any] =
      if (sampleKV > 0 && sampleKV < allSources.length)
        allSources.sortBy(v => (md5Hex(String.valueOf(v)), String.valueOf(v)))
          .take(sampleKV)
      else allSources
    val adj = edges.groupBy(_._1).map { case (s, es) =>
      (s, es.map(_._2).distinct.sortBy(String.valueOf(_)))
    }
    val ebt = mutable.HashMap.empty[(Any, Any), Double]
    for (s <- sources) {
      val dist = mutable.HashMap[Any, Int](s -> 0)
      val sigma = mutable.HashMap[Any, Double](s -> 1.0)
      val order = ArrayBuffer[Any](s)
      val queue = mutable.Queue[Any](s)
      while (queue.nonEmpty) {
        val v = queue.dequeue()
        for (w <- adj.getOrElse(v, Array.empty[Any])) {
          if (!dist.contains(w)) {
            dist(w) = dist(v) + 1; sigma(w) = 0.0
            order += w; queue.enqueue(w)
          }
          if (dist(w) == dist(v) + 1) sigma(w) = sigma(w) + sigma(v)
        }
      }
      val delta = mutable.HashMap.empty[Any, Double]
      for (v <- order.reverseIterator) {
        for (w <- adj.getOrElse(v, Array.empty[Any]) if dist.get(w).contains(dist(v) + 1)) {
          val c = sigma(v) / sigma(w) * (1.0 + delta.getOrElse(w, 0.0))
          ebt((v, w)) = ebt.getOrElse((v, w), 0.0) + c
          delta(v) = delta.getOrElse(v, 0.0) + c
        }
      }
    }
    val idType = g.edges.schema(SRC).dataType
    val distinctEdges = edges.distinct.sortBy { case (a, b) =>
      (String.valueOf(a), String.valueOf(b)) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(SRC, idType),
      org.apache.spark.sql.types.StructField(DST, idType),
      org.apache.spark.sql.types.StructField("edge_betweenness",
        org.apache.spark.sql.types.DoubleType)))
    val rows: java.util.List[org.apache.spark.sql.Row] = java.util.Arrays.asList(
      distinctEdges.map { case (u, v) =>
        org.apache.spark.sql.Row(u, v, ebt.getOrElse((u, v), 0.0) * factor) }: _*)
    g.edges.sparkSession.createDataFrame(rows, schema)
  }

  /** md5-ordered deterministic source sample as a `(s)` frame. */
  private def sampledSources(): DataFrame = {
    val all = g.vertices.select(col(ID).as("s"))
    if (sampleKV <= 0) all
    else all.orderBy(md5(col("s").cast("string")), col("s")).limit(sampleKV)
  }

  /** Weighted Brandes, three fixpoint phases (each round ONE join + one
   * aggregation over (s, v)-keyed state): multi-source Bellman-Ford
   * distances; σ path counts by DAG hop level; δ dependency fixpoint
   * (correct for every vertex of DAG height ≤ k after k rounds, stable
   * after longest-DAG-path rounds). The shortest-path DAG membership
   * test is STRICT double equality `dist(u) + w == dist(v)` — exact for
   * integer-valued (or dyadic) weights, the same exactness contract as
   * the weighted-walk prefix sums; arbitrary float weights can drop DAG
   * edges to summation-order noise and are the caller's risk. */
  private def runWeighted(w: String): DataFrame = {
    val e = g.edges
      .groupBy(col(SRC), col(DST))
      .agg(min(col(GraphFrame.quoteName(w)).cast("double")).as("_bw"))
    val n = g.vertices.count()
    val scale = if (sampleKV > 0 && sampleKV < n) n.toDouble / sampleKV else 1.0
    val norm = if (normalizedV && n > 2) 1.0 / ((n - 1.0) * (n - 2.0)) else 1.0
    gate(e, pinForDistributed = true)(runLocalWeighted(_, scale * norm))(
      runWeightedDistributed(_, n, scale * norm))
  }

  private def runWeightedDistributed(e: DataFrame, n: Long, factor: Double): DataFrame = {
    if (!(sampleKV > 0 && sampleKV < n))
      MultiSourceBFS.guardExactSources("betweenness", n)
    val cuts = ArrayBuffer.empty[DataFrame]
    def cut(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true); cuts += c; c
    }

    // Phase A: distances (shared multi-source Bellman-Ford)
    val dist = MultiSourceBFS.weightedDistances(e, sampledSources(), cut)

    // shortest-path DAG per source
    val dagR = cut(e
      .join(dist.select(col("s"), col("id").as(SRC), col("dist").as("_du")), Seq(SRC))
      .join(dist.select(col("s"), col("id").as(DST), col("dist").as("_dv")),
        Seq("s", DST))
      .filter(col("_du") + col("_bw") === col("_dv"))
      .select(col("s"), col(SRC).as("_u"), col(DST).as("_v")))

    // Phase B: σ = Σ over hop levels of per-level path counts
    val pLevels = ArrayBuffer.empty[DataFrame]
    var p = cut(sampledSources()
      .select(col("s"), col("s").as("id"), lit(1.0).as("p")))
    pLevels += p
    while (!p.isEmpty) {
      p = cut(p.join(dagR, p("s") === dagR("s") && p("id") === dagR("_u"))
        .groupBy(dagR("s").as("s"), col("_v").as("id"))
        .agg(sum("p").as("p")))
      if (!p.isEmpty) pLevels += p
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

    val btw = delta.filter(col("id") =!= col("s"))
      .groupBy(col("id")).agg(sum("delta").as("_b"))
      .withColumnRenamed("id", "_c_id")
    val result = g.vertices.join(btw, col(ID) === col("_c_id"), "left_outer")
      .select(g.vertices.columns.map(c => g.vertices(GraphFrame.quoteName(c))) :+
        (coalesce(col("_b"), lit(0.0)) * lit(factor)).as("betweenness"): _*)
      .localCheckpoint(true)
    cuts.foreach(IterationManager.release)
    result
  }

  /** Driver tail for the weighted mode: textbook Dijkstra-based Brandes
   * per (sampled) source — exact at convergence, and betweenness is a
   * pure function of the graph, so local == distributed up to float
   * summation noise (exact for integer weights). */
  private def runLocalWeighted(e: DataFrame, factor: Double): DataFrame = {
    import scala.collection.mutable
    val rows = e.collect().iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.get(0), r.get(1), r.getDouble(2))).toArray
      .sortBy { case (s, d, _) => (String.valueOf(s), String.valueOf(d)) }
    val epDF = e.select(col(SRC).as(ID)).union(e.select(col(DST).as(ID))).distinct()
    val vids = g.vertices.select(col(ID)).join(epDF, Seq(ID), "left_semi")
      .collect().map(_.get(0)).sortBy(String.valueOf(_))
    val valid = vids.toSet
    val allSources = g.vertices.select(col(ID)).collect().map(_.get(0))
      .sortBy(String.valueOf(_))
    val sources: Array[Any] =
      if (sampleKV > 0 && sampleKV < allSources.length)
        allSources.sortBy(v => (md5Hex(String.valueOf(v)), String.valueOf(v)))
          .take(sampleKV)
      else allSources
    val adj = rows.filter { case (s, d, _) => valid(s) && valid(d) }
      .groupBy(_._1).map { case (s, es) =>
        (s, es.map(x => (x._2, x._3)).sortBy(x => String.valueOf(x._1)))
      }
    val btw = mutable.HashMap.empty[Any, Double]
    for (s <- sources) {
      val dist = mutable.HashMap.empty[Any, Double]
      val sigma = mutable.HashMap.empty[Any, Double]
      val settledOrder = ArrayBuffer.empty[Any]
      val settled = mutable.HashSet.empty[Any]
      implicit val ord: Ordering[(Double, String)] =
        Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.String.reverse)
      val pq = mutable.PriorityQueue((0.0, String.valueOf(s)))
      val byKey = mutable.HashMap(String.valueOf(s) -> s)
      dist(s) = 0.0; sigma(s) = 1.0
      while (pq.nonEmpty) {
        val (dv, key) = pq.dequeue()
        val v = byKey(key)
        if (!settled(v) && dist(v) == dv) {
          settled += v; settledOrder += v
          for ((nb, wE) <- adj.getOrElse(v, Array.empty[(Any, Double)])) {
            val nd = dv + wE
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
      val delta = mutable.HashMap.empty[Any, Double]
      for (v <- settledOrder.reverseIterator) {
        for ((nb, wE) <- adj.getOrElse(v, Array.empty[(Any, Double)])
             if dist.get(nb).contains(dist(v) + wE))
          delta(v) = delta.getOrElse(v, 0.0) +
            sigma(v) / sigma(nb) * (1.0 + delta.getOrElse(nb, 0.0))
        if (v != s) btw(v) = btw.getOrElse(v, 0.0) + delta.getOrElse(v, 0.0)
      }
    }
    LocalTail.joinBack(g, btw.keys.toArray.sortBy(String.valueOf(_)),
      Seq(("betweenness", (v: Any) => btw(v) * factor, 0.0)))
  }

  private def runLocal(e: DataFrame, factor: Double): DataFrame = {
    val (edges, _) = LocalTail.collectGraph(e, g)
    val allSources = g.vertices.select(col(ID)).collect().map(_.get(0))
      .sortBy(String.valueOf(_))
    val sources: Array[Any] =
      if (sampleKV > 0 && sampleKV < allSources.length)
        allSources.sortBy(v => (md5Hex(String.valueOf(v)), String.valueOf(v)))
          .take(sampleKV)
      else allSources
    val adj = edges.groupBy(_._1).map { case (s, es) =>
      (s, es.map(_._2).distinct.sortBy(String.valueOf(_)))
    }
    val btw = mutable.HashMap.empty[Any, Double]
    for (s <- sources) {
      // Brandes 2001: forward BFS stack + sigma, backward accumulation
      val dist = mutable.HashMap[Any, Int](s -> 0)
      val sigma = mutable.HashMap[Any, Double](s -> 1.0)
      val order = ArrayBuffer[Any](s)
      val queue = mutable.Queue[Any](s)
      while (queue.nonEmpty) {
        val v = queue.dequeue()
        for (w <- adj.getOrElse(v, Array.empty[Any])) {
          if (!dist.contains(w)) {
            dist(w) = dist(v) + 1; sigma(w) = 0.0
            order += w; queue.enqueue(w)
          }
          if (dist(w) == dist(v) + 1) sigma(w) = sigma(w) + sigma(v)
        }
      }
      val delta = mutable.HashMap.empty[Any, Double]
      for (v <- order.reverseIterator) {
        for (w <- adj.getOrElse(v, Array.empty[Any]) if dist.get(w).contains(dist(v) + 1))
          delta(v) = delta.getOrElse(v, 0.0) +
            sigma(v) / sigma(w) * (1.0 + delta.getOrElse(w, 0.0))
        if (v != s) btw(v) = btw.getOrElse(v, 0.0) + delta.getOrElse(v, 0.0)
      }
    }
    LocalTail.joinBack(g, btw.keys.toArray.sortBy(String.valueOf(_)),
      Seq(("betweenness", (v: Any) => btw(v) * factor, 0.0)))
  }

  private def md5Hex(s: String): String = MultiSourceBFS.md5Hex(s)
}

/** Per-vertex eccentricity over outgoing distances (engine extension) —
 * max distance to any REACHABLE vertex (0 when nothing is reachable; on
 * disconnected graphs true eccentricity is infinite, so the reachable
 * restriction is stated, not hidden). Graph radius/diameter are the
 * min/max of the non-isolated rows. Same [[MultiSourceBFS]] forward
 * phase and bounded driver tail as [[Closeness]]. */
class Eccentricity(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var sampleKV: Int = 0 // 0 = exact (every vertex a BFS source)

  /** Landmark estimate from k deterministic md5-ordered landmarks:
   * ecc(v) becomes `max over sampled landmarks l of d(v, l)` — a LOWER
   * BOUND on the true reachable eccentricity (max is not an average, so
   * no n/k scale-up applies). State drops from O(V²) rows to O(V·k): one
   * multi-source BFS from the landmarks over the REVERSED edges, scored
   * at the reached vertex. 0 = exact. */
  def sampleSources(k: Int): this.type = {
    require(k >= 0, "sampleSources k must be >= 0 (0 = exact)")
    sampleKV = k; this
  }
  private var weightColV: Option[String] = None
  /** Weighted eccentricity (engine extension): max shortest WEIGHTED
   * out-distance to any reachable vertex — the output column becomes
   * `eccentricity: double` (hop mode stays int). Strictly positive
   * weights; parallel edges collapse to their minimum copy; composes
   * with [[sampleSources]] (landmark lower bound). Exactness contract
   * as [[Betweenness.weightCol]]. */
  def weightCol(c: String): this.type = { weightColV = Some(c); this }

  def run(): DataFrame = {
    weightColV.foreach { w =>
      val wc = col(GraphFrame.quoteName(w))
      require(g.edges.filter(wc.isNull || wc <= 0).isEmpty,
        s"eccentricity weightCol '$w' must be non-null and > 0 on every edge")
      return runWeighted(w)
    }
    val e = g.edges.select(col(SRC), col(DST)).distinct()
    val n = g.vertices.count()
    val sampled = sampleKV > 0 && sampleKV < n
    gate(e, pinForDistributed = true)(runLocal(_, sampled))(
      runDistributed(_, n, sampled))
  }

  private def runDistributed(e: DataFrame, n: Long, sampled: Boolean): DataFrame = {
    if (!sampled) MultiSourceBFS.guardExactSources("eccentricity", n)
    // exact: forward BFS from every vertex, scored at the source.
    // sampled: BFS from the landmarks over reversed edges (so the level
    // distance IS d(v, landmark) in the original direction), scored at
    // the reached vertex.
    val (bfsEdges, sources) =
      if (sampled)
        (e.select(col(DST).as(SRC), col(SRC).as(DST)), sampledLandmarks())
      else (e, g.vertices.select(col(ID).as("s")))
    val levels = MultiSourceBFS.levels(bfsEdges, sources)
    val keyCol = if (sampled) "id" else "s"
    val agg = levels.zipWithIndex.map { case (lf, d) =>
      lf.select(col(keyCol).as("_k"), lit(d).as("d"))
    }.reduce(_ union _).groupBy("_k").agg(max("d").as("_ec"))
    val result = g.vertices.join(agg, col(ID) === col("_k"), "left_outer")
      .select(g.vertices.columns.map(c => g.vertices(GraphFrame.quoteName(c))) :+
        coalesce(col("_ec"), lit(0)).cast("int").as("eccentricity"): _*)
      .localCheckpoint(true)
    levels.foreach(IterationManager.release)
    result
  }

  private def sampledLandmarks(): DataFrame =
    g.vertices.select(col(ID).as("s"))
      .orderBy(md5(col("s").cast("string")), col("s")).limit(sampleKV)

  private def runLocal(e: DataFrame, sampled: Boolean): DataFrame = {
    import scala.collection.mutable
    val (edges, _) = LocalTail.collectGraph(e, g)
    val ids = g.vertices.select(col(ID)).collect().map(_.get(0))
      .sortBy(String.valueOf(_))
    val sources: Array[Any] =
      if (sampled)
        ids.sortBy(v => (MultiSourceBFS.md5Hex(String.valueOf(v)), String.valueOf(v)))
          .take(sampleKV)
      else ids
    val adjPairs = if (sampled) edges.map { case (s, d) => (d, s) } else edges
    val adj = adjPairs.groupBy(_._1).map { case (s, es) =>
      (s, es.map(_._2).distinct.sortBy(String.valueOf(_)))
    }
    val ecc = mutable.HashMap.empty[Any, Double]
    for (s <- sources) {
      val dist = mutable.HashMap[Any, Int](s -> 0)
      val queue = mutable.Queue[Any](s)
      while (queue.nonEmpty) {
        val v = queue.dequeue()
        for (w <- adj.getOrElse(v, Array.empty[Any]) if !dist.contains(w)) {
          dist(w) = dist(v) + 1; queue.enqueue(w)
        }
      }
      if (sampled) // reversed BFS: dist(s→v) here is d(v, landmark s)
        for ((v, d) <- dist)
          ecc(v) = math.max(ecc.getOrElse(v, 0.0), d.toDouble)
      else ecc(s) = dist.values.max.toDouble
    }
    LocalTail.joinBack(g, ecc.keys.toArray.sortBy(String.valueOf(_)),
      Seq(("eccD", (v: Any) => ecc(v), 0.0)))
      .withColumn("eccentricity", col("eccD").cast("int")).drop("eccD")
  }

  /** Weighted mode over the shared multi-source Bellman-Ford; the
   * eccentricity column is a DOUBLE here (weighted distances). */
  private def runWeighted(w: String): DataFrame = {
    val e = g.edges
      .groupBy(col(SRC), col(DST))
      .agg(min(col(GraphFrame.quoteName(w)).cast("double")).as("_bw"))
    val n = g.vertices.count()
    val sampled = sampleKV > 0 && sampleKV < n
    gate(e, pinForDistributed = true)(runLocalWeighted(_, sampled))(
      runWeightedDistributed(_, n, sampled))
  }

  private def runWeightedDistributed(e: DataFrame, n: Long, sampled: Boolean): DataFrame = {
    if (!sampled) MultiSourceBFS.guardExactSources("eccentricity", n)
    val cuts = ArrayBuffer.empty[DataFrame]
    def cut(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true); cuts += c; c
    }
    val (bfsEdges, sources) =
      if (sampled)
        (e.select(col(DST).as(SRC), col(SRC).as(DST), col("_bw")),
          sampledLandmarks())
      else (e, g.vertices.select(col(ID).as("s")))
    val dist = MultiSourceBFS.weightedDistances(bfsEdges, sources, cut)
    val keyCol = if (sampled) "id" else "s"
    val agg = dist.groupBy(col(keyCol).as("_k")).agg(max("dist").as("_ec"))
    val result = g.vertices.join(agg, col(ID) === col("_k"), "left_outer")
      .select(g.vertices.columns.map(c => g.vertices(GraphFrame.quoteName(c))) :+
        coalesce(col("_ec"), lit(0.0)).as("eccentricity"): _*)
      .localCheckpoint(true)
    cuts.foreach(IterationManager.release)
    result
  }

  private def runLocalWeighted(e: DataFrame, sampled: Boolean): DataFrame = {
    import scala.collection.mutable
    val rows = e.collect().iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.get(0), r.get(1), r.getDouble(2))).toArray
      .sortBy { case (s, d, _) => (String.valueOf(s), String.valueOf(d)) }
    val epDF = e.select(col(SRC).as(ID)).union(e.select(col(DST).as(ID))).distinct()
    val valid = g.vertices.select(col(ID)).join(epDF, Seq(ID), "left_semi")
      .collect().map(_.get(0)).toSet
    val ids = g.vertices.select(col(ID)).collect().map(_.get(0))
      .sortBy(String.valueOf(_))
    val sources: Array[Any] =
      if (sampled)
        ids.sortBy(v => (MultiSourceBFS.md5Hex(String.valueOf(v)), String.valueOf(v)))
          .take(sampleKV)
      else ids
    val pairs = rows.filter { case (s, d, _) => valid(s) && valid(d) }
    val adjPairs = if (sampled) pairs.map { case (s, d, w2) => (d, s, w2) } else pairs
    val adj: Map[Any, Array[(Any, Double)]] = adjPairs.groupBy(_._1).map {
      case (s, es) => (s, es.map(x => (x._2, x._3)).sortBy(x => String.valueOf(x._1)))
    }
    val ecc = mutable.HashMap.empty[Any, Double]
    for (s <- sources) {
      val dist = MultiSourceBFS.localDijkstra(adj, s)
      if (sampled)
        for ((v, d) <- dist) ecc(v) = math.max(ecc.getOrElse(v, 0.0), d)
      else ecc(s) = dist.values.max
    }
    LocalTail.joinBack(g, ecc.keys.toArray.sortBy(String.valueOf(_)),
      Seq(("eccentricity", (v: Any) => ecc(v), 0.0)))
  }
}

/** Closeness centrality (Wasserman–Faust reachability-corrected) plus
 * harmonic centrality, over outgoing distances — see [[MultiSourceBFS]].
 * Returns vertices + `closeness: double`, `harmonic: double`;
 * zero-out-reach vertices score 0 on both. */
class Closeness(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var sampleKV: Int = 0 // 0 = exact (every vertex a BFS source)

  /** Standard landmark (Eppstein–Wang) estimate from k deterministic
   * md5-ordered landmarks: the per-vertex reachable count, distance sum
   * and harmonic sum over the k sampled targets are scaled by n/k, i.e.
   * closeness(v) ≈ ((n/k)·r̂/(n-1)) · (r̂/total̂) and
   * harmonic(v) ≈ (n/k)·Σ 1/d(v, lᵢ). State drops from O(V²) rows to
   * O(V·k): one multi-source BFS from the landmarks over the REVERSED
   * edges, scored at the reached vertex. Unbiased for harmonic; the
   * Wasserman–Faust closeness is a ratio estimate (consistent, slight
   * small-k bias). 0 = exact. */
  def sampleSources(k: Int): this.type = {
    require(k >= 0, "sampleSources k must be >= 0 (0 = exact)")
    sampleKV = k; this
  }
  private var weightColV: Option[String] = None
  /** Weighted distances (engine extension): same Wasserman–Faust /
   * harmonic formulas over shortest WEIGHTED distances (strictly
   * positive weights — a zero weight would make harmonic's 1/d blow up;
   * parallel edges collapse to their minimum copy). Composes with
   * [[sampleSources]] (the landmark Bellman-Ford runs over reversed
   * edges). Exactness contract as [[Betweenness.weightCol]]. */
  def weightCol(c: String): this.type = { weightColV = Some(c); this }

  def run(): DataFrame = {
    weightColV.foreach { w =>
      val wc = col(GraphFrame.quoteName(w))
      require(g.edges.filter(wc.isNull || wc <= 0).isEmpty,
        s"closeness weightCol '$w' must be non-null and > 0 on every edge")
      return runWeighted(w)
    }
    val e = g.edges.select(col(SRC), col(DST)).distinct()
    val n = g.vertices.count()
    val sampled = sampleKV > 0 && sampleKV < n
    val scale = if (sampled) n.toDouble / sampleKV else 1.0
    gate(e, pinForDistributed = true)(runLocal(_, n, sampled, scale))(
      runDistributed(_, n, sampled, scale))
  }

  private def runDistributed(e: DataFrame, n: Long, sampled: Boolean, scale: Double): DataFrame = {
    if (!sampled) MultiSourceBFS.guardExactSources("closeness", n)
    // exact: forward BFS from every vertex, scored at the source.
    // sampled: BFS from the landmarks over reversed edges (level distance
    // = d(v, landmark) in the original direction), scored at the reached
    // vertex with the n/k estimator.
    val (bfsEdges, sources) =
      if (sampled)
        (e.select(col(DST).as(SRC), col(SRC).as(DST)),
          g.vertices.select(col(ID).as("s"))
            .orderBy(md5(col("s").cast("string")), col("s")).limit(sampleKV))
      else (e, g.vertices.select(col(ID).as("s")))
    val levels = MultiSourceBFS.levels(bfsEdges, sources)
    // per scored vertex: reachable count r (d > 0), total distance,
    // harmonic sum — one union + one aggregation over the level frames
    val keyCol = if (sampled) "id" else "s"
    val settled = levels.zipWithIndex.map { case (lf, d) =>
      lf.select(col(keyCol).as("_k"), lit(d).as("d"))
    }.reduce(_ union _).filter(col("d") > 0)
    val agg = settled.groupBy("_k").agg(
      count(lit(1)).as("r"), sum("d").as("total"), sum(lit(1.0) / col("d")).as("h"))
    val result = g.vertices.join(agg, col(ID) === col("_k"), "left_outer")
      .select(g.vertices.columns.map(c => g.vertices(GraphFrame.quoteName(c))) :+
        coalesce(lit(scale) * col("r") / lit(math.max(n - 1.0, 1.0)) * col("r") / col("total"),
          lit(0.0)).as("closeness") :+
        coalesce(lit(scale) * col("h"), lit(0.0)).as("harmonic"): _*)
      .localCheckpoint(true)
    levels.foreach(IterationManager.release)
    result
  }

  private def runLocal(e: DataFrame, n: Long, sampled: Boolean, scale: Double): DataFrame = {
    val (edges, _) = LocalTail.collectGraph(e, g)
    val ids = g.vertices.select(col(ID)).collect().map(_.get(0))
      .sortBy(String.valueOf(_))
    val sources: Array[Any] =
      if (sampled)
        ids.sortBy(v => (MultiSourceBFS.md5Hex(String.valueOf(v)), String.valueOf(v)))
          .take(sampleKV)
      else ids
    val adjPairs = if (sampled) edges.map { case (s, d) => (d, s) } else edges
    val adj = adjPairs.groupBy(_._1).map { case (s, es) =>
      (s, es.map(_._2).distinct.sortBy(String.valueOf(_)))
    }
    val rAcc = mutable.HashMap.empty[Any, Double]
    val tAcc = mutable.HashMap.empty[Any, Double]
    val hAcc = mutable.HashMap.empty[Any, Double]
    for (s <- sources) {
      val dist = mutable.HashMap[Any, Int](s -> 0)
      val queue = mutable.Queue[Any](s)
      while (queue.nonEmpty) {
        val v = queue.dequeue()
        for (w <- adj.getOrElse(v, Array.empty[Any]) if !dist.contains(w)) {
          dist(w) = dist(v) + 1; queue.enqueue(w)
        }
      }
      if (sampled) {
        // reversed BFS: dist(s→v) here is d(v, landmark s); accumulate at
        // the reached vertex, in sorted order for float determinism
        for ((v, d) <- dist.toSeq.sortBy(p => String.valueOf(p._1)) if d > 0) {
          rAcc(v) = rAcc.getOrElse(v, 0.0) + 1.0
          tAcc(v) = tAcc.getOrElse(v, 0.0) + d
          hAcc(v) = hAcc.getOrElse(v, 0.0) + 1.0 / d
        }
      } else {
        val ds = dist.collect { case (v, d) if v != s => d }
        if (ds.nonEmpty) {
          rAcc(s) = ds.size.toDouble
          tAcc(s) = ds.sum.toDouble
          hAcc(s) = ds.toSeq.sorted.map(1.0 / _).sum
        }
      }
    }
    def clo(v: Any): Double =
      if (rAcc.contains(v))
        scale * rAcc(v) / math.max(n - 1.0, 1.0) * rAcc(v) / tAcc(v)
      else 0.0
    LocalTail.joinBack(g, rAcc.keys.toArray.sortBy(String.valueOf(_)),
      Seq(("closeness", clo, 0.0),
        ("harmonic", (v: Any) => scale * hAcc.getOrElse(v, 0.0), 0.0)))
  }

  /** Weighted mode: same aggregation over the shared multi-source
   * Bellman-Ford distances (exact: forward from every vertex, scored at
   * the source; sampled: from the landmarks over reversed edges, scored
   * at the reached vertex with the n/k estimator). */
  private def runWeighted(w: String): DataFrame = {
    val e = g.edges
      .groupBy(col(SRC), col(DST))
      .agg(min(col(GraphFrame.quoteName(w)).cast("double")).as("_bw"))
    val n = g.vertices.count()
    val sampled = sampleKV > 0 && sampleKV < n
    val scale = if (sampled) n.toDouble / sampleKV else 1.0
    gate(e, pinForDistributed = true)(runLocalWeighted(_, n, sampled, scale))(
      runWeightedDistributed(_, n, sampled, scale))
  }

  private def runWeightedDistributed(e: DataFrame, n: Long, sampled: Boolean, scale: Double): DataFrame = {
    if (!sampled) MultiSourceBFS.guardExactSources("closeness", n)
    val cuts = ArrayBuffer.empty[DataFrame]
    def cut(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true); cuts += c; c
    }
    val (bfsEdges, sources) =
      if (sampled)
        (e.select(col(DST).as(SRC), col(SRC).as(DST), col("_bw")),
          g.vertices.select(col(ID).as("s"))
            .orderBy(md5(col("s").cast("string")), col("s")).limit(sampleKV))
      else (e, g.vertices.select(col(ID).as("s")))
    val dist = MultiSourceBFS.weightedDistances(bfsEdges, sources, cut)
    val keyCol = if (sampled) "id" else "s"
    val agg = dist.filter(col("dist") > 0)
      .groupBy(col(keyCol).as("_k"))
      .agg(count(lit(1)).as("r"), sum("dist").as("total"),
        sum(lit(1.0) / col("dist")).as("h"))
    val result = g.vertices.join(agg, col(ID) === col("_k"), "left_outer")
      .select(g.vertices.columns.map(c => g.vertices(GraphFrame.quoteName(c))) :+
        coalesce(lit(scale) * col("r") / lit(math.max(n - 1.0, 1.0)) * col("r") / col("total"),
          lit(0.0)).as("closeness") :+
        coalesce(lit(scale) * col("h"), lit(0.0)).as("harmonic"): _*)
      .localCheckpoint(true)
    cuts.foreach(IterationManager.release)
    result
  }

  private def runLocalWeighted(e: DataFrame, n: Long, sampled: Boolean,
      scale: Double): DataFrame = {
    val rows = e.collect().iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.get(0), r.get(1), r.getDouble(2))).toArray
      .sortBy { case (s, d, _) => (String.valueOf(s), String.valueOf(d)) }
    val epDF = e.select(col(SRC).as(ID)).union(e.select(col(DST).as(ID))).distinct()
    val valid = g.vertices.select(col(ID)).join(epDF, Seq(ID), "left_semi")
      .collect().map(_.get(0)).toSet
    val ids = g.vertices.select(col(ID)).collect().map(_.get(0))
      .sortBy(String.valueOf(_))
    val sources: Array[Any] =
      if (sampled)
        ids.sortBy(v => (MultiSourceBFS.md5Hex(String.valueOf(v)), String.valueOf(v)))
          .take(sampleKV)
      else ids
    val pairs = rows.filter { case (s, d, _) => valid(s) && valid(d) }
    val adjPairs = if (sampled) pairs.map { case (s, d, w) => (d, s, w) } else pairs
    val adj: Map[Any, Array[(Any, Double)]] = adjPairs.groupBy(_._1).map {
      case (s, es) => (s, es.map(x => (x._2, x._3)).sortBy(x => String.valueOf(x._1)))
    }
    val rAcc = mutable.HashMap.empty[Any, Double]
    val tAcc = mutable.HashMap.empty[Any, Double]
    val hAcc = mutable.HashMap.empty[Any, Double]
    for (s <- sources) {
      val dist = MultiSourceBFS.localDijkstra(adj, s)
      if (sampled) {
        for ((v, d) <- dist.toSeq.sortBy(p => String.valueOf(p._1)) if d > 0) {
          rAcc(v) = rAcc.getOrElse(v, 0.0) + 1.0
          tAcc(v) = tAcc.getOrElse(v, 0.0) + d
          hAcc(v) = hAcc.getOrElse(v, 0.0) + 1.0 / d
        }
      } else {
        val ds = dist.toSeq.collect { case (v, d) if v != s => d }.sorted
        if (ds.nonEmpty) {
          rAcc(s) = ds.size.toDouble
          tAcc(s) = ds.sum
          hAcc(s) = ds.map(1.0 / _).sum
        }
      }
    }
    def clo(v: Any): Double =
      if (rAcc.contains(v))
        scale * rAcc(v) / math.max(n - 1.0, 1.0) * rAcc(v) / tAcc(v)
      else 0.0
    LocalTail.joinBack(g, rAcc.keys.toArray.sortBy(String.valueOf(_)),
      Seq(("closeness", clo, 0.0),
        ("harmonic", (v: Any) => scale * hAcc.getOrElse(v, 0.0), 0.0)))
  }
}
