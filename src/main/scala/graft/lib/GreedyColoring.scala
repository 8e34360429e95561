package graft.lib

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.GraphFrame

/**
 * Distributed greedy graph coloring (engine extension) by iterated Luby
 * MIS — the classic parallel scheme (Luby'86 / Jones-Plassmann family):
 * color c is a maximal independent set of the still-uncolored residual
 * graph, so adjacent vertices never share a color and the color count is
 * at most Δ+1 on any graph the greedy order covers.
 *
 * Priorities are hash-derived from `(id, seed, color, round)` — like
 * [[MaximalIndependentSet]], deterministic under task retries and AQE,
 * and (md5 mode) replayable by an external SQL engine: the hash does not
 * depend on which rounds the engine actually ran, so the engine's
 * early-exit inner loop and an oracle's fixed unrolling pick identical
 * winners (a round whose pool is empty yields no winners either way).
 *
 * Per Luby round: one semi-join of the pinned undirected edge list
 * against the pool (both endpoints), one neighbor-min hash aggregation,
 * one anti-join pair — the [[MaximalIndependentSet]] shapes, iterated
 * per color. Below `spark.graft.linkAnalysis.smallgraphthreshold` edges
 * (md5 mode only — the local loop replays md5 hex ordering exactly; the
 * xxhash64 chain is a Tungsten internal) the whole coloring runs in one
 * bounded driver loop, same tail pattern as [[Hits]]/[[Betweenness]]
 * (docs/THRESHOLDS.md).
 *
 * Returns vertices + `color: int` (isolated vertices take color 0).
 */
class GreedyColoring(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var maxColorsV: Int = 100
  private var maxIterV: Int = 100
  private var seedV: Long = 42L
  private var hashModeV: String = "xxhash64"

  /** Color cap; vertices still uncolored when it is reached get color -1
   * (loud in the output rather than an endless loop on a bug). */
  def maxColors(n: Int): this.type = {
    require(n > 0, "maxColors should be positive."); maxColorsV = n; this
  }
  /** Luby-round cap per color. */
  def maxIter(n: Int): this.type = {
    require(n > 0, "maxIter should be positive."); maxIterV = n; this
  }
  def seed(s: Long): this.type = { seedV = s; this }
  /** "xxhash64" (default) or "md5" (SQL-replayable; enables the driver
   * tail). */
  def setHashMode(m: String): this.type = {
    require(m == "xxhash64" || m == "md5", s"unknown hash mode $m")
    hashModeV = m; this
  }

  /** The driver tail (docs/THRESHOLDS.md row 11) runs in md5 mode only. */
  def run(): DataFrame = {
    val und = g.edges
      .filter(col(SRC) =!= col(DST))
      .select(least(col(SRC), col(DST)).as(SRC), greatest(col(SRC), col(DST)).as(DST))
      .distinct()
    gate(und, eligible = hashModeV == "md5", pinForDistributed = true)(
      runLocal)(runDistributed)
  }

  private def runDistributed(und: DataFrame): DataFrame = IterationManager.scoped(g.spark) { mgr =>
    // every loop-carried frame is kept, not cycled: color boundaries
    // re-read frames from many rounds back (uncolored, per-round winners).
    // Pools and uncolored sets are kept with their row count observed on
    // the cut's own job: no separate emptiness probe
    def keep(df: DataFrame): (DataFrame, Long) = {
      val (c, Seq(n)) = mgr.keepObserved(df, Seq(count(lit(1))))
      (c, n.asInstanceOf[Long])
    }
    var (uncolored, left) = keep(g.vertices.select(ID))
    val colorFrames = mutable.ArrayBuffer.empty[DataFrame]

    // hash-only priority, deliberately WITHOUT an id tie-break: a winner
    // must be STRICTLY below every pool neighbor, so on a hash collision
    // neither endpoint wins and both retry next round (whose hash input
    // differs) — exactly what the local tail and the SQL oracle compute.
    // An id tie-break here would silently diverge from both on collision.
    def prio(c: Column, color: Int, round: Int): Column =
      if (hashModeV == "md5")
        md5(concat_ws("|", c.cast("string"), lit(seedV), lit(color), lit(round)))
      else xxhash64(c, lit(seedV), lit(color), lit(round))

    var color = 0
    while (color < maxColorsV && left > 0) {
      var (pool, inPool) = (uncolored, left)
      val winners = mutable.ArrayBuffer.empty[DataFrame]
      var round = 0
      while (round < maxIterV && inPool > 0) {
        val er = und
          .join(pool.select(col(ID).as(SRC)), Seq(SRC), "left_semi")
          .join(pool.select(col(ID).as(DST)), Seq(DST), "left_semi")
        val nbrMin = er.select(col(SRC).as(ID), prio(col(DST), color, round).as("p"))
          .unionAll(er.select(col(DST).as(ID), prio(col(SRC), color, round).as("p")))
          .groupBy(ID).agg(min(col("p")).as("nbrMin"))
        val w = mgr.keep(pool.join(nbrMin, Seq(ID), "left_outer")
          .filter(col("nbrMin").isNull || prio(col(ID), color, round) < col("nbrMin"))
          .select(ID))
        winners += w
        val nbrOfW = er.join(w.select(col(ID).as(SRC)), Seq(SRC), "left_semi")
          .select(col(DST).as(ID))
          .unionAll(er.join(w.select(col(ID).as(DST)), Seq(DST), "left_semi")
            .select(col(SRC).as(ID)))
          .distinct()
        val (p, n) = keep(
          pool.join(w, Seq(ID), "left_anti").join(nbrOfW, Seq(ID), "left_anti"))
        pool = p; inPool = n
        round += 1
      }
      val colored = winners.reduce(_ unionAll _).withColumn("color", lit(color))
      colorFrames += colored
      val (u, n) = keep(uncolored.join(colored.select(ID), Seq(ID), "left_anti"))
      uncolored = u; left = n
      color += 1
    }
    if (left > 0)
      colorFrames += uncolored.withColumn("color", lit(-1))
    mgr.finish(g.vertices.join(colorFrames.reduce(_ unionAll _), Seq(ID), "left_outer"))
  }

  /** Driver tail (md5 mode): identical priorities — md5 hex strings order
   * the same way Spark's string min orders them, and the strict
   * hash-only winner rule (no id tie-break) is the same in both paths
   * and the SQL oracle — over sorted adjacency, so the coloring is a
   * pure function of the graph value. */
  private def runLocal(und: DataFrame): DataFrame = {
    val edges = LocalTail.collectEdges(und)
    val ids = LocalTail.vertexIds(g)
    val adj = mutable.HashMap.empty[Any, mutable.ArrayBuffer[Any]]
    for ((s, d) <- edges) {
      adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d
      adj.getOrElseUpdate(d, mutable.ArrayBuffer.empty) += s
    }
    def h(v: Any, color: Int, round: Int): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"${String.valueOf(v)}|$seedV|$color|$round".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val colorOf = mutable.HashMap.empty[Any, Int]
    var uncolored = ids.toBuffer
    var color = 0
    while (color < maxColorsV && uncolored.nonEmpty) {
      val inPool = mutable.HashSet(uncolored.toSeq: _*)
      var round = 0
      while (round < maxIterV && inPool.nonEmpty) {
        val hs = inPool.iterator.map(v => (v, h(v, color, round))).toMap
        val w = inPool.toSeq.sortBy(String.valueOf(_)).filter { v =>
          adj.getOrElse(v, Nil).filter(inPool).forall(n => hs(v) < hs(n))
        }
        for (v <- w) colorOf(v) = color
        val drop = w.toSet ++ w.flatMap(v => adj.getOrElse(v, Nil).filter(inPool))
        inPool --= drop
        round += 1
      }
      uncolored = uncolored.filterNot(colorOf.contains)
      color += 1
    }
    for (v <- uncolored) colorOf(v) = -1
    LocalTail.joinBack(g, ids.map(v => Row(v, colorOf(v))),
      Seq(LocalTail.Out("color", IntegerType, lit(0))))(Some(ids))
  }
}
