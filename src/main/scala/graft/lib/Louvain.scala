package graft.lib

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.GraphFrame

/**
 * Community detection by synchronous modularity local moving — the
 * phase-1 "local moving" heuristic of Louvain (Blondel, Guillaume,
 * Lambiotte, Lefebvre, "Fast unfolding of communities in large
 * networks", J. Stat. Mech. 2008, P10008), run as a fixed number of
 * SYNCHRONOUS rounds so the result is deterministic and replayable
 * (the classic sequential sweep is order-dependent; a synchronous
 * sweep is not), plus the classic phase-2 COARSENING: [[setLevels]]
 * aggregates communities into super-vertices (intra-community edges
 * become super-loops, inter-community edges sum into weighted
 * super-edges), re-runs local moving on the weighted super-graph, and
 * composes the labels back down. Beyond the reference's library (no
 * community-detection operator other than CDLP exists there).
 *
 * Semantics: the graph is canonicalized to SIMPLE UNDIRECTED edges
 * (self-loops dropped, parallel/reciprocal edges collapsed, unit
 * weight). Every vertex starts in its own community. Each round, each
 * vertex i considers the communities of its neighbors plus its own and
 * adopts the candidate c maximizing the modularity gain of placing i
 * in c with everything else fixed — restricted by the ALTERNATING
 * DIRECTION rule: odd rounds admit only communities ordering at or
 * below i's current one, even rounds only at or above. Unrestricted
 * synchronous moves oscillate (two vertices can swap into each other's
 * community forever — a period-2 cycle this operator's spec reproduces
 * by hand); one-direction-per-round makes a swap impossible since it
 * would need a down-move and an up-move in the same round. The same
 * oscillation-breaking idea appears in distributed Louvain
 * implementations (e.g. Sotera's Giraph DGA). With integer weights the
 * argmax of ΔQ = e(i,c)/m − deg(i)·Σtot(c∖i)/(2m²) is the argmax of
 * the INTEGER
 *
 *   gain(i,c) = 2m·e(i,c) − deg(i)·(Σtot(c) − [c = own]·deg(i))
 *
 * so the winner rule (max gain, ties to the smallest community id
 * under Spark's ordering) involves no floating point at all — the
 * distributed path, the driver tail, and a SQL oracle replay
 * bit-identically. Coarse levels keep every quantity an integer too:
 * super-edge weights are original-edge counts, m is conserved, a
 * super-loop of weight w contributes 2w to its vertex's degree and
 * nothing to any e(i,c) (it moves with the vertex, constant across
 * candidates).
 *
 * Gain arithmetic ([[setGainMode]]): Long bounds |gain| ≤ (2m)² —
 * exact up to m ≈ 1.5e9 undirected edges; above that `auto` switches
 * the scoring to DECIMAL(38,0) (two DECIMAL(19,0) products; values ≤
 * (2m)² ≤ 8.6e37 < 10³⁸ for any m ≤ 2^62, so the decimal compare is
 * still EXACT integer arithmetic and the winner rule unchanged —
 * measured, not assumed, by the `g_louvain_decimal` oracle row which
 * forces decimal scoring on the same graph as `g_louvain`).
 *
 * Scale: per round one edge→state hash join + one (vertex, community)
 * weight-sum aggregation + one per-community degree sum (broadcast-
 * sized: ≤ one row per community) + one row_number window partitioned
 * by vertex — all key-partitioned shuffles, no cartesian, state one
 * row per vertex. Each coarsening is one assignment join + one
 * (community, community) sum — after it the graph SHRINKS (one vertex
 * per community), so later levels cost strictly less than level 1.
 * Rounds run through the [[IterationManager]]; below the shared
 * small-graph threshold a bounded driver tail replays the identical
 * trajectory (docs/THRESHOLDS.md row 2b).
 */
class Louvain(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var maxIterV: Int = 4
  private var levelsV: Int = 1
  private var gainModeV: String = "auto"

  def maxIter(n: Int): this.type = { maxIterV = n; this }
  /** Number of coarsening levels (local-moving passes), ≥ 1. Level 1 is
   * plain local moving; each further level aggregates the previous
   * level's communities into a weighted super-graph and re-runs the
   * same synchronous rounds there, then composes labels back down. */
  def setLevels(n: Int): this.type = {
    require(n >= 1 && n <= 16, s"louvain: levels must be in [1, 16], got $n")
    levelsV = n; this
  }
  /** "auto" (default): Long gains up to 2m ≤ 1.5e9, DECIMAL(38,0) above;
   * "long": always Long, FAILING LOUDLY past the exactness bound;
   * "decimal": always decimal (for differential testing — bit-identical
   * winners, since both modes are exact integer arithmetic). */
  def setGainMode(m: String): this.type = {
    require(Set("auto", "long", "decimal")(m),
      s"louvain: gainMode must be auto|long|decimal, got '$m'")
    gainModeV = m; this
  }
  /** Returns vertices + `community` (typed like `id`). The driver tail
   * (docs/THRESHOLDS.md row 2b) replays the exact distributed trajectory
   * (same integer gains, same smallest-community tie rule via the id
   * type's Spark ordering) including every coarse level. */
  def run(): DataFrame =
    // the tail holds at most the threshold's edges, far below 1.5e9, so
    // its Long gains are exact whatever the gain mode (decimal and Long
    // agree bit-for-bit on exact integers, proven by the decimal/long spec)
    gateUndirected(g)(runLocal)(runDistributed)

  /** One level's synchronous rounds over weighted bidirectional edges
   * `u(s, d, w)` from initial `state(id, deg, community)`; `cut` is the
   * caller's lineage-cut hook (IterationManager cadence). */
  private def roundsDistributed(u: DataFrame, init: DataFrame, m: Long,
      decimalGains: Boolean, cut: DataFrame => DataFrame): DataFrame = {
    var state = cut(init)
    val dec = DecimalType(19, 0)
    for (round <- 1 to maxIterV) {
      // Σtot per community: ≤ one row per community, broadcast-sized
      val tot = state.groupBy(col("community").as("nc")).agg(sum("deg").as("tot"))
      // e(i, c): edge weight from i into community c, plus a zero row for
      // i's own community so "stay" is always a candidate (and isolated
      // vertices keep a candidate at all). Super-loops never enter u, so
      // they contribute to deg only — constant across candidates.
      val nbr = u.join(state.select(col(ID).as("d"), col("community").as("nc")), Seq("d"))
        .select(col("s"), col("nc"), col("w").as("cnt"))
      val own = state.select(col(ID).as("s"), col("community").as("nc"), lit(0L).as("cnt"))
      val cand = nbr.unionByName(own).groupBy(col("s"), col("nc"))
        .agg(sum("cnt").as("e_ic"))
      val ownDeg = when(col("nc") === col("own"), col("deg")).otherwise(lit(0L))
      val gain: Column =
        if (decimalGains)
          lit(2 * m).cast(dec) * col("e_ic").cast(dec) -
            col("deg").cast(dec) * (col("tot").cast(dec) - ownDeg.cast(dec))
        else
          lit(2 * m) * col("e_ic") - col("deg") * (col("tot") - ownDeg)
      val scored = cand
        .join(tot, Seq("nc"))
        .join(state.select(col(ID).as("s"), col("community").as("own"), col("deg")), Seq("s"))
        // alternating direction: odd rounds move down (or stay), even up
        .filter(if (round % 2 == 1) col("nc") <= col("own") else col("nc") >= col("own"))
        .withColumn("gain", gain)
      val w = Window.partitionBy(col("s")).orderBy(col("gain").desc, col("nc").asc)
      state = cut(
        scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
          .select(col("s").as(ID), col("deg"), col("nc").as("community")))
    }
    state
  }

  /** The distributed rounds over the canonical undirected edges of the
   * raw `(src, dst)` probe `e`, pinned here: the rounds re-read them, and
   * their count `m` also picks the gain mode. */
  private def runDistributed(e: DataFrame): DataFrame =
      IterationManager.scoped(g.spark) { mgr =>
    val und = mgr.persistLazy(e
      .filter(col(SRC).isNotNull && col(DST).isNotNull && col(SRC) =!= col(DST))
      .select(least(col(SRC), col(DST)).as("a"), greatest(col(SRC), col(DST)).as("b"))
      .distinct()
      // endpoints absent from the vertex table carry no state: drop the edge
      .join(g.vertices.select(col(ID).as("a")), Seq("a"), "left_semi")
      .join(g.vertices.select(col(ID).as("b")), Seq("b"), "left_semi"))
    val m = und.count()
    if (m == 0) g.vertices.withColumn("community", col(ID))
    else levelsDistributed(mgr, und, m)
  }

  /** Every level's rounds over the `m` > 0 canonical edges `und`. */
  private def levelsDistributed(mgr: IterationManager, und: DataFrame, m: Long): DataFrame = {
    val decimalGains = gainModeV match {
      case "decimal" => true
      case "long" =>
        require(2 * m <= 1500000000L,
          s"louvain: $m undirected edges exceeds the exact-Long gain bound " +
            "(|gain| <= (2m)^2 must fit a 64-bit integer, m <= 1.5e9); " +
            "use gainMode \"auto\" or \"decimal\" for exact DECIMAL(38,0) scoring")
        false
      case _ => 2 * m > 1500000000L
    }
    var rc = -1
    def cut(df: DataFrame): DataFrame = { rc += 1; mgr.cycle(df, rc) }
    // per-level vertex→community snapshots, kept: the labels are composed
    // back down only after the last level
    val maps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // canonical weighted level edges (a ≤ b; a = b are super-loops)
    var ce = und.select(col("a"), col("b"), lit(1L).as("w"))
    for (lvl <- 1 to levelsV) {
      val inter = ce.filter(col("a") =!= col("b"))
      val u = inter.select(col("a").as("s"), col("b").as("d"), col("w"))
        .unionByName(inter.select(col("b").as("s"), col("a").as("d"), col("w")))
      val loops = ce.filter(col("a") === col("b"))
        .select(col("a").as(ID), col("w").as("loopw"))
      val verts =
        if (lvl == 1) g.vertices.select(col(ID))
        else maps.last.select(col("community").as(ID)).distinct()
      val wdeg = u.groupBy(col("s").as(ID)).agg(sum("w").as("wd"))
      val init = verts
        .join(wdeg, Seq(ID), "left_outer")
        .join(loops, Seq(ID), "left_outer")
        .select(col(ID),
          (coalesce(col("wd"), lit(0L)) + lit(2L) * coalesce(col("loopw"), lit(0L))).as("deg"),
          col(ID).as("community"))
      val state = roundsDistributed(u, init, m, decimalGains, cut)
      maps += mgr.keep(state.select(col(ID), col("community")))
      if (lvl < levelsV) {
        // coarsen: map both endpoints through this level's assignment;
        // intra edges land on the diagonal as super-loops
        val sm = maps.last
        ce = cut(ce
          .join(sm.select(col(ID).as("a"), col("community").as("_ca")), Seq("a"))
          .join(sm.select(col(ID).as("b"), col("community").as("_cb")), Seq("b"))
          .select(least(col("_ca"), col("_cb")).as("a"),
            greatest(col("_ca"), col("_cb")).as("b"), col("w"))
          .groupBy(col("a"), col("b")).agg(sum("w").as("w")))
      }
    }
    // compose labels back down: lvl-1 vertex → lvl-2 community → …
    var comp = maps.head
    for (sm <- maps.tail)
      comp = comp
        .join(sm.select(col(ID).as("_c"), col("community").as("_nc")),
          comp("community") === col("_c"), "left_outer")
        .select(comp(ID), coalesce(col("_nc"), comp("community")).as("community"))
    mgr.finish(g.vertices.join(comp, Seq(ID), "left_outer")
      .withColumn("community", coalesce(col("community"), col(ID))))
  }

  /** Driver tail: the identical synchronous integer-gain rounds and
   * coarse levels, over the canonical undirected pairs of the collected
   * raw edges whose endpoints are both vertices. */
  private def runLocal(e: DataFrame, ord: Ordering[Any]): DataFrame = {
    import scala.collection.mutable
    val rows = e.collect()
    val eps = LocalTail.endpointIds(e, g, rows)
    val valid = eps.vids.toSet
    val baseEdges: Array[(Any, Any)] = LocalTail.undirectedPairs(rows, ord)
      .filter { case (a, b) => valid(a) && valid(b) }
    val baseVids: Array[Any] = baseEdges.iterator.flatMap(p => Iterator(p._1, p._2))
      .toArray.distinct
    val m = baseEdges.length.toLong

    /** One level of synchronous weighted rounds. `edges` are canonical
     * inter-community pairs with weight; `loop(v)` super-loop weight. */
    def levelRounds(vids: Array[Any], edges: Array[(Any, Any, Long)],
        loop: collection.Map[Any, Long]): mutable.HashMap[Any, Any] = {
      val deg = mutable.HashMap.empty[Any, Long]
      vids.foreach(v => deg(v) = 2L * loop.getOrElse(v, 0L))
      edges.foreach { case (a, b, w) => deg(a) += w; deg(b) += w }
      val adj = mutable.HashMap.empty[Any, mutable.ArrayBuffer[(Any, Long)]]
      edges.foreach { case (a, b, w) =>
        adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += ((b, w))
        adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += ((a, w))
      }
      var com = mutable.HashMap.empty[Any, Any]
      vids.foreach(v => com(v) = v)
      for (round <- 1 to maxIterV) {
        val down = round % 2 == 1
        val tot = mutable.HashMap.empty[Any, Long]
        vids.foreach(v => tot(com(v)) = tot.getOrElse(com(v), 0L) + deg(v))
        val next = mutable.HashMap.empty[Any, Any]
        vids.foreach { v =>
          val e = mutable.HashMap.empty[Any, Long]
          e(com(v)) = 0L
          adj.getOrElse(v, mutable.ArrayBuffer.empty).foreach { case (n, w) =>
            val c = com(n); e(c) = e.getOrElse(c, 0L) + w
          }
          var bestC: Any = null
          var bestG = Long.MinValue
          e.foreach { case (c, eic) =>
            // alternating direction, mirroring the distributed filter
            val admissible =
              if (down) ord.lteq(c, com(v)) else ord.gteq(c, com(v))
            if (admissible) {
              val gain = 2L * m * eic -
                deg(v) * (tot(c) - (if (c == com(v)) deg(v) else 0L))
              if (gain > bestG || (gain == bestG && ord.lt(c, bestC)))
                { bestC = c; bestG = gain }
            }
          }
          next(v) = bestC
        }
        com = next
      }
      com
    }

    var vids = baseVids
    var edges: Array[(Any, Any, Long)] = baseEdges.map { case (a, b) => (a, b, 1L) }
    var loop: collection.Map[Any, Long] = Map.empty[Any, Long]
    // composed assignment for the BASE vertices across levels
    val assign = mutable.HashMap.empty[Any, Any]
    baseVids.foreach(v => assign(v) = v)
    for (lvl <- 1 to levelsV) {
      val com = levelRounds(vids, edges, loop)
      baseVids.foreach(v => assign(v) = com(assign(v)))
      if (lvl < levelsV) {
        // coarsen locally: canonical (min, max) community pairs, summed w
        val agg = mutable.HashMap.empty[(Any, Any), Long]
        val lagg = mutable.HashMap.empty[Any, Long]
        loop.foreach { case (v, w) =>
          val c = com(v); lagg(c) = lagg.getOrElse(c, 0L) + w
        }
        edges.foreach { case (a, b, w) =>
          val ca = com(a); val cb = com(b)
          if (ca == cb) lagg(ca) = lagg.getOrElse(ca, 0L) + w
          else {
            val k = if (ord.lteq(ca, cb)) (ca, cb) else (cb, ca)
            agg(k) = agg.getOrElse(k, 0L) + w
          }
        }
        vids = com.values.toArray.distinct
        edges = agg.iterator.map { case ((a, b), w) => (a, b, w) }.toArray
        loop = lagg
      }
    }
    // vertices touching no edge stay in their own community
    LocalTail.joinBack(g, baseVids.map(v => Row(v, assign(v))),
      Seq(LocalTail.Out("community", g.vertices.schema(ID).dataType, col(ID))))(
      vertexIdsFor(g, Some(eps)))
  }
}
