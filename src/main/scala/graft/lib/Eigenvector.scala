package graft.lib

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.GraphFrame

/**
 * Eigenvector centrality (beyond the reference's library): raw power
 * iteration `x ← Aᵀ x` from the all-ones vector, normalized ONCE at the
 * end to sup-norm 1 (the top vertex scores exactly 1.0). A vertex's
 * score is the sum of its in-neighbors' scores — the undamped,
 * un-normalized sibling of PageRank ([[PageRank]] divides by out-degree
 * and damps; [[Katz]] adds a per-round β) — converging to the principal
 * eigenvector of Aᵀ on aperiodic strongly-connected graphs, and always
 * well-defined at fixed `maxIter`.
 *
 * Per-round normalization is skipped deliberately: it only rescales the
 * direction, and skipping keeps each round a single join+agg job (no
 * per-round max action). The same 1e100 overflow guard as [[Hits]]
 * protects user-settable maxIter, on the identical every-8th-round
 * cadence in BOTH paths so local==distributed parity holds even on
 * graphs whose raw sums cross the guard.
 *
 * Scale: one hash-aggregated edge join per round — the same shuffle
 * shape as a PageRank round — with rounds through the
 * [[IterationManager]].
 */
class Eigenvector(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var maxIterV: Int = 10
  private var weightColV: Option[String] = None

  /** Numeric edge column: the recurrence becomes x ← Aᵀ W x (each
   * in-neighbor's score scaled by the edge weight; parallel edges each
   * contribute). Principal-eigenvector semantics need non-negative
   * weights — not enforced, since the fixed-round sum is well-defined
   * either way; the final normalization divides by max |x|. */
  def weightCol(c: String): this.type = { weightColV = Some(c); this }

  /** At least 1: with zero rounds the sup-normalized all-ones vector is
   * not a centrality and the isolated-vertex closed form (0 after any
   * round that sums in-links) would not hold. */
  def maxIter(n: Int): this.type = {
    require(n >= 1, s"eigenvector maxIter must be >= 1, got $n")
    maxIterV = n; this
  }
  /** Returns vertices + `eigenvector: double` (sup-norm 1; all-zero —
   * e.g. a vertex with no in-links on a DAG's source layer after enough
   * rounds — stays 0). Driver tail cost: see [[Hits.run]]. */
  def run(): DataFrame = {
    // pinned on both paths: re-joined every round, and possibly an
    // expensive upstream query. The unweighted path rides the same x·w
    // plan with w = 1.0 — float-identical to a bare sum (x·1.0 == x
    // bit-exactly).
    val wCol = weightColV.map(w => col(graft.GraphFrame.quoteName(w))
      .cast("double")).getOrElse(lit(1.0))
    gate(g.edges.select(col(SRC), col(DST), wCol.as("_w")),
      pinForDistributed = true)(runLocal)(runDistributed)
  }

  private def runDistributed(e: DataFrame): DataFrame = {
    // the recurrence is a fixed linear map, so rounds chain lazily per
    // cut with no convergence probe; the guard max / final sup-norm ride
    // the cut's own job — zero separate driver actions in the loop
    var norm = 0.0
    IterationManager.chained(
      g.vertices.select(col(ID), lit(1.0).as("x")), maxIterV,
      observe = _ => Seq(max(abs(col("x")))),
      // the every-8th-round guard (same bound, cadence and rescale rule
      // as Hits) reads a cut's frame: rescale timing changes float rounding
      after = (next, round, obs) =>
        if (round >= maxIterV) { norm = obs(0); Some(next) }
        else if (round % 8 == 0 && obs(0) > 1e100)
          Some(next.select(col(ID), (col("x") / lit(math.max(obs(0), 1.0))).as("x")))
        else Some(next),
      result = state => g.vertices.join(
        state.select(col(ID),
          (if (norm > 0) col("x") / norm else lit(0.0)).as("eigenvector")),
        Seq(ID), "left_outer")) { (cur, _) =>
      val in = e.join(cur.select(col(ID).as(SRC), col("x")), SRC)
        .groupBy(col(DST).as(ID)).agg(sum(col("x") * col("_w")).as("_x"))
      cur.select(col(ID))
        .join(in, Seq(ID), "left_outer")
        .select(col(ID), coalesce(col("_x"), lit(0.0)).as("x"))
    }
  }

  /** Driver-side tail: identical recurrence (raw sums, one final sup-norm
   * normalization), sorted-edge accumulation order so the result is a
   * pure function of the graph value. Vertices touching no edge score 0
   * from round 1 on — filled in closed form by the join-back. */
  private def runLocal(e: DataFrame): DataFrame = {
    import scala.collection.mutable
    val rows = e.collect()
    val edges = LocalTail.weightedEdgesOf(rows)
    val eps = LocalTail.endpointIds(e, g, rows)
    val vids = eps.vids
    val valid = vids.toSet
    var x = mutable.HashMap.empty[Any, Double]
    vids.foreach(v => x(v) = 1.0)
    for (round <- 1 to maxIterV) {
      val nx = mutable.HashMap.empty[Any, Double]
      vids.foreach(v => nx(v) = 0.0)
      edges.foreach { case (s, d, w) =>
        if (valid(s) && valid(d)) nx(d) += x(s) * w
      }
      x = nx
      // same overflow guard, SAME CADENCE (every 8th round, never the
      // last) — rescale timing changes float rounding, and parity holds
      // only if both paths follow an identical numeric trajectory
      if (round % 8 == 0 && round < maxIterV) {
        val m = vids.iterator.map(v => math.abs(x(v))).foldLeft(0.0)(math.max)
        if (m > 1e100) { val s = math.max(m, 1.0); vids.foreach(v => x(v) /= s) }
      }
    }
    val norm = vids.iterator.map(v => math.abs(x(v))).foldLeft(0.0)(math.max)
    LocalTail.joinBack(g, vids.map(v => Row(v, if (norm > 0) x(v) / norm else 0.0)),
      Seq(LocalTail.score("eigenvector", 0.0)))(vertexIdsFor(g, Some(eps)))
  }
}
