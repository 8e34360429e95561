package graft.lib

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.GraphFrame

/**
 * SALSA — Lempel & Moran's Stochastic Approach for Link-Structure
 * Analysis (engine extension; the random-walk-normalized cousin of
 * [[Hits]], the scoring behind production who-to-follow systems à la
 * Twitter's GraphJet). Per round, over the directed edge set:
 *
 *   authority(j) = Σ_{u→j} hub(u) / outdeg(u)
 *   hub(u)       = Σ_{u→j} authority(j) / indeg(j)   (the NEW authority)
 *
 * i.e. HITS with each endpoint's contribution split evenly among its
 * links — a two-step random walk on the hub/authority bipartition. The
 * normalization makes scores stochastic (mass-preserving on link-
 * complete subgraphs), so hubs with huge fan-out don't dominate the way
 * raw-sum HITS lets them; no overflow guard is needed (values never grow
 * round over round). Output is L1-normalized per column (probability
 * semantics); vertices touching no edge score 0.
 *
 * Float determinism: the per-edge weights 1/outdeg and 1/indeg are
 * computed ONCE and reused each round, and every contribution is the
 * product hub·w — the identical multiset of IEEE operations a SQL replay
 * performs. Multi-edges are collapsed first (degrees count DISTINCT
 * links, the SALSA contract).
 *
 * Scale: identical shuffle shape to [[Hits]] — two hash-aggregated
 * equi-joins per round against a pinned weighted edge frame (one extra
 * degree aggregation up front); rounds through the [[IterationManager]];
 * below the link-analysis threshold a bounded driver tail runs the same
 * recurrence in sorted-edge order (docs/THRESHOLDS.md row 2 family).
 */
class Salsa(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var maxIterV: Int = 5

  def maxIter(n: Int): this.type = {
    require(n >= 1, s"SALSA needs maxIter >= 1, got $n")
    maxIterV = n; this
  }
  /** Returns vertices + `hub: double`, `authority: double` (each column
   * L1-normalized over all vertices; 0 when the column sums to 0). */
  def run(): DataFrame = {
    val e0 = g.edges.select(col(SRC), col(DST))
      .filter(col(SRC).isNotNull && col(DST).isNotNull)
      .distinct()
      .join(g.vertices.select(col(ID).as(SRC)), Seq(SRC), "left_semi")
      .join(g.vertices.select(col(ID).as(DST)), Seq(DST), "left_semi")
    val od = e0.groupBy(SRC).agg(count(lit(1)).as("_od"))
    val idg = e0.groupBy(DST).agg(count(lit(1)).as("_id"))
    // weights once: each round reuses the same floats
    val e = e0.join(od, SRC).join(idg, DST)
      .select(col(SRC), col(DST),
        (lit(1.0) / col("_od")).as("_wout"), (lit(1.0) / col("_id")).as("_win"))
    gate(g, e, pinForDistributed = true)(runLocal)(runDistributed)
  }

  private def runDistributed(e: DataFrame): DataFrame = {
    // the final L1 sums ride the last chunk's cut
    var sums = Seq(0.0, 0.0)
    IterationManager.chained(
      g.vertices.select(col(ID), lit(1.0).as("hub"), lit(0.0).as("authority")),
      maxIterV,
      observe = round => if (round >= maxIterV) Seq(sum("hub"), sum("authority")) else Nil,
      after = (next, _, obs) => { if (obs.nonEmpty) sums = obs; Some(next) },
      result = state => {
        val Seq(sh, sa) = sums
        g.vertices.join(
          state.select(col(ID),
            (if (sh > 0) col("hub") / sh else lit(0.0)).as("hub"),
            (if (sa > 0) col("authority") / sa else lit(0.0)).as("authority")),
          Seq(ID), "left_outer")
      }) { (cur, _) =>
      val aRaw = e.join(cur.select(col(ID).as(SRC), col("hub")), SRC)
        .groupBy(col(DST).as(ID)).agg(sum(col("hub") * col("_wout")).as("_a"))
      val authed = cur.select(col(ID), col("hub"))
        .join(aRaw, Seq(ID), "left_outer")
        .select(col(ID), col("hub"), coalesce(col("_a"), lit(0.0)).as("authority"))
      val hRaw = e.join(authed.select(col(ID).as(DST), col("authority")), DST)
        .groupBy(col(SRC).as(ID)).agg(sum(col("authority") * col("_win")).as("_h"))
      authed.select(col(ID), col("authority"))
        .join(hRaw, Seq(ID), "left_outer")
        .select(col(ID), coalesce(col("_h"), lit(0.0)).as("hub"),
          col("authority"))
    }
  }

  /** Driver tail: identical recurrence and weight products, sorted-edge
   * accumulation order — a pure function of the graph value. */
  private def runLocal(lg: LocalGraph): DataFrame = {
    import scala.collection.mutable
    val rows = lg.rows.iterator
      .map(r => (r.get(0), r.get(1), r.getDouble(2), r.getDouble(3))).toArray
      .sortBy { case (s, d, _, _) => (String.valueOf(s), String.valueOf(d)) }
    val vids = lg.vids
    var hub = mutable.HashMap.empty[Any, Double]
    var auth = mutable.HashMap.empty[Any, Double]
    vids.foreach { v => hub(v) = 1.0; auth(v) = 0.0 }
    for (_ <- 1 to maxIterV) {
      val a = mutable.HashMap.empty[Any, Double]
      vids.foreach(v => a(v) = 0.0)
      rows.foreach { case (s, d, wout, _) => a(d) += hub(s) * wout }
      val h = mutable.HashMap.empty[Any, Double]
      vids.foreach(v => h(v) = 0.0)
      rows.foreach { case (s, d, _, win) => h(s) += a(d) * win }
      hub = h; auth = a
    }
    val sh = vids.iterator.map(hub).sum
    val sa = vids.iterator.map(auth).sum
    lg.joinBack(vids.map(v => Row(v, if (sh > 0) hub(v) / sh else 0.0,
        if (sa > 0) auth(v) / sa else 0.0)),
      Seq(LocalTail.score("hub", 0.0), LocalTail.score("authority", 0.0)))
  }
}
