package graft.lib

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType
import graft.GraphFrame

/**
 * Maximal independent set via Luby's algorithm (role of reference
 * lib/MaximalIndependentSet.scala:36-225).
 *
 * Per round every remaining vertex draws a priority; a vertex joins the
 * MIS when its priority is a strict minimum among its remaining
 * neighbors; winners and their neighbors leave the graph. Expected
 * O(log n) rounds.
 *
 * Deliberate divergence from the reference: priorities are
 * `xxhash64(id, seed, round)` instead of `rand()` — deterministic under
 * task retries and safe with AQE (the reference must disable AQE around
 * its `rand()`-dependent logic; hash-randomness sidesteps the hazard,
 * cf. reference RandomWalkBase.scala:322-325).
 */
class MaximalIndependentSet(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var maxIterV: Int = 100
  private var seedV: Long = 42L
  private var hashModeV: String = "xxhash64"

  def maxIter(n: Int): this.type = { maxIterV = n; this }
  def seed(s: Long): this.type = { seedV = s; this }
  /** "xxhash64" (default, fastest) or "md5" — md5 priorities reproduce in
   * engines without xxhash64 (e.g. DuckDB), enabling exact cross-engine
   * oracles; same determinism guarantees either way. */
  def setHashMode(m: String): this.type = {
    require(m == "xxhash64" || m == "md5", s"unknown hash mode $m")
    hashModeV = m; this
  }

  /** The driver tail (same as [[GreedyColoring]]'s; docs/THRESHOLDS.md
   * row 11) runs in md5 mode only: the local loop replays md5 hex
   * ordering, and xxhash64 is a Tungsten internal. It probes the raw
   * edges and needs every vertex row's id within the threshold too. */
  def run(): DataFrame =
    gateUndirected(g, eligible = hashModeV == "md5", andIf = _.vertexIds().isDefined)(
      runLocal)(_ => runDistributed())

  private def runDistributed(): DataFrame = IterationManager.scoped(g.spark) { mgr =>
    // each remaining set is cut with its row count observed on the cut's
    // own job: no separate emptiness probe per round
    def cut(df: DataFrame, round: Int): (DataFrame, Long) = {
      val (c, Seq(n)) = mgr.cycleObserved(df, round, Seq(count(lit(1))))
      (c, n.asInstanceOf[Long])
    }
    // a null id joins no edge and no anti-join retires it: it never
    // enters the pool (the final semi-join drops it anyway)
    var (remaining, left) = cut(g.vertices.select(ID).filter(col(ID).isNotNull), 0)
    val undP = mgr.persistOnly(g.edges
      .filter(col(SRC) =!= col(DST))
      .select(least(col(SRC), col(DST)).as(SRC), greatest(col(SRC), col(DST)).as(DST))
      .distinct())
    var mis: Option[DataFrame] = None

    var round = 0
    while (round < maxIterV && left > 0) {
      // hash-only priority, deliberately WITHOUT an id tie-break (same
      // rule as GreedyColoring): on a collision neither endpoint wins and
      // both retry next round with a different hash — what the local tail
      // and the SQL oracle compute
      def prio(c: Column): Column =
        if (hashModeV == "md5")
          md5(concat_ws("|", c.cast("string"), lit(seedV), lit(round)))
        else xxhash64(c, lit(seedV), lit(round))
      val er = undP
        .join(remaining.select(col(ID).as(SRC)), Seq(SRC), "left_semi")
        .join(remaining.select(col(ID).as(DST)), Seq(DST), "left_semi")
      // per remaining vertex: the minimum neighbor priority
      val nbrMin = er.select(col(SRC).as(ID), prio(col(DST)).as("p"))
        .unionAll(er.select(col(DST).as(ID), prio(col(SRC)).as("p")))
        .groupBy(ID).agg(min(col("p")).as("nbrMin"))
      val cand = remaining.join(nbrMin, Seq(ID), "left_outer")
        .filter(col("nbrMin").isNull || prio(col(ID)) < col("nbrMin"))
        .select(ID)
      val candP = mgr.keep(cand)
      mis = Some(mis.map(_.unionAll(candP)).getOrElse(candP))
      val nbrOfCand = er.join(candP.select(col(ID).as(SRC)), Seq(SRC), "left_semi")
        .select(col(DST).as(ID))
        .unionAll(er.join(candP.select(col(ID).as(DST)), Seq(DST), "left_semi")
          .select(col(SRC).as(ID)))
        .distinct()
      val (r, n) = cut(
        remaining.join(candP, Seq(ID), "left_anti").join(nbrOfCand, Seq(ID), "left_anti"),
        round)
      remaining = r; left = n
      round += 1
    }
    mgr.finish(mis.map(m => g.vertices.join(m, Seq(ID), "left_semi"))
      .getOrElse(g.vertices.limit(0)))
  }

  /** Driver tail (md5 mode): identical Luby rounds — md5 hex strings
   * order the same way Spark's string min orders them, and the strict
   * hash-only winner rule matches the distributed path and the SQL
   * oracle. Pure function of the graph value (sorted adjacency). */
  private def runLocal(lg: LocalGraph, ord: Ordering[Any]): DataFrame = {
    import scala.collection.mutable
    val ids = lg.vertexIds().get
    val adj = LocalGraph.neighbors(lg.undirected(ord))
    def h(v: Any, round: Int): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"${String.valueOf(v)}|$seedV|$round".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val mis = mutable.LinkedHashSet.empty[Any]
    val remaining = mutable.HashSet(ids.toSeq: _*)
    var round = 0
    while (round < maxIterV && remaining.nonEmpty) {
      val hs = remaining.iterator.map(v => (v, h(v, round))).toMap
      val winners = remaining.toSeq.sortBy(String.valueOf(_)).filter { v =>
        adj.getOrElse(v, Nil).filter(remaining).forall(n => hs(v) < hs(n))
      }
      winners.foreach(mis += _)
      val drop = winners.toSet ++
        winners.flatMap(v => adj.getOrElse(v, Nil).filter(remaining))
      remaining --= drop
      round += 1
    }
    // the vertex rows of the winners, with every vertex column
    lg.joinBack(mis.map(Row(_, true)), Seq(LocalTail.Out("_mis", BooleanType, lit(false))))
      .filter(col("_mis")).drop("_mis")
  }
}
