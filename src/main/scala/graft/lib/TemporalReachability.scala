package graft.lib

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.GraphFrame

/**
 * Time-respecting reachability / earliest-arrival over a TEMPORAL graph
 * (edges carry an availability time; a path is valid only if edge times
 * are non-decreasing along it) — the foremost-journey semantics of
 * temporal-network analysis (Xuan–Ferreira–Jarry IJFCS'03; Wu et al.
 * VLDB'14 one-pass earliest-arrival): an edge (u → v, t) is traversable
 * only when t ≥ arrival(u), and taking it puts you at v at time
 * t + duration. Plain BFS over the same edges OVERSTATES reachability —
 * a morning flight cannot follow an evening one.
 *
 * Spark-first plan: label-correcting rounds on a (vertex, arrival)
 * state frame — candidates = one edges ⋈ state equi-join with the
 * time-window predicate riding it, min-agg per destination, least-merge
 * into the state (all hash joins/aggs, no windows). Earliest arrival is
 * MONOTONE (a smaller arrival at u never disables an edge a larger one
 * allowed, since the constraint is t ≥ arrival), so keeping only the
 * per-vertex minimum is exact, and rounds are bounded by the longest
 * foremost journey's hop count. Rounds run through the shared
 * [[IterationManager.chained]] loop, which fuses the improved count into
 * each lineage cut's own job.
 *
 * Returns (id, arrival): earliest arrival time per vertex, null when
 * unreachable within `maxIter` hops; the source arrives at `startTime`.
 */
class TemporalReachability(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var sourceV: Any = _
  private var startTimeV: Double = 0.0
  private var timeColV: String = "time"
  private var durationColV: Option[String] = None
  private var maxIterV: Int = 50

  /** Source vertex id (required). */
  def source(id: Any): this.type = { sourceV = id; this }
  /** Departure time at the source (default 0). */
  def startTime(t: Double): this.type = { startTimeV = t; this }
  /** Edge column holding the availability time (default "time"). */
  def timeCol(c: String): this.type = { timeColV = c; this }
  /** Optional edge column holding a traversal duration (arrival =
   * time + duration); absent = instantaneous edges. */
  def durationCol(c: String): this.type = { durationColV = Some(c); this }
  def maxIter(n: Int): this.type = {
    require(n >= 1, s"maxIter must be >= 1: $n"); maxIterV = n; this
  }
  /** The driver tail runs the label-correcting loop as one bounded pass.
   * It is LEVEL-SYNCHRONOUS (each sweep reads only the previous sweep's
   * arrivals), so it agrees with the distributed rounds exactly even when
   * `maxIter` binds before the fixpoint — round k holds the best ≤ k-hop
   * journey on both paths. (At the fixpoint any relaxation order agrees
   * anyway: earliest arrival is the unique monotone fixpoint.) */
  def run(): DataFrame = {
    require(sourceV != null, "temporalReachability requires source(id)")
    require(g.edges.columns.contains(timeColV),
      s"edges have no time column '$timeColV' — set timeCol(...)")
    val dur = durationColV.map(c => col(c).cast("double")).getOrElse(lit(0.0))
    val e = g.edges.select(col(SRC), col(DST),
        col(timeColV).cast("double").as("_t"),
        (col(timeColV).cast("double") + dur).as("_arr"))
      .filter(col("_t").isNotNull)
    gate(e, pinForDistributed = true)(runLocal)(runDistributed)
  }

  private def runDistributed(e: DataFrame): DataFrame =
    // earliest arrival is a monotone fixpoint, so hops chain lazily per
    // cut with the per-vertex min-merge between them (no path explosion);
    // the improved count rides the cut's own job. A binding maxIter means
    // exactly maxIter level-synchronous sweeps — same as the tail
    IterationManager.chained(
      g.vertices.select(col(ID),
        when(col(ID) === lit(sourceV), lit(startTimeV))
          .otherwise(lit(null).cast("double")).as("arrival")),
      maxIterV,
      // only the LAST hop's improvement flag decides convergence: the
      // sweep is a deterministic monotone map, so one application with
      // zero change IS the fixpoint, whatever earlier hops did
      observe = _ => Seq(count(when(col("_improved"), lit(1)))),
      after = (next, _, obs) => if (obs(0) > 0) Some(next) else None,
      result = _.select(col(ID), col("arrival"))) { (cur, _) =>
      // edges usable this hop: departure no earlier than the current
      // arrival at src — the predicate rides the equi-join
      val cand = e.join(
          cur.filter(col("arrival").isNotNull)
            .select(col(ID).as(SRC), col("arrival").as("_a")), SRC)
        .filter(col("_t") >= col("_a"))
        .groupBy(col(DST).as(ID)).agg(min(col("_arr")).as("_new"))
      cur.join(cand, Seq(ID), "left_outer")
        .select(col(ID),
          when(col("arrival").isNull, col("_new"))
            .when(col("_new").isNull, col("arrival"))
            .otherwise(least(col("arrival"), col("_new"))).as("arrival"),
          (col("_new").isNotNull &&
            (col("arrival").isNull || col("_new") < col("arrival")))
            .as("_improved"))
    }

  /** Driver tail: LEVEL-SYNCHRONOUS relaxation over the collected edge
   * list — each sweep reads arrivals only from the PREVIOUS sweep's map
   * (double buffer), exactly one hop per sweep, like one distributed
   * round. A single in-place sweep can propagate many hops depending on
   * edge order, which would diverge from the distributed path whenever
   * `maxIter` binds before the fixpoint. */
  private def runLocal(e: DataFrame): DataFrame = {
    val rows = e.collect().map(r => (r.get(0), r.get(1), r.getDouble(3), r.getDouble(2)))
    var arrival = scala.collection.mutable.HashMap[Any, Double](sourceV -> startTimeV)
    var changed = true
    var rounds = 0
    while (changed && rounds < maxIterV) {
      changed = false
      rounds += 1
      val next = arrival.clone()
      rows.foreach { case (u, v, arr, t) =>
        arrival.get(u) match {
          case Some(au) if t >= au &&
              next.get(v).forall(arr < _) =>
            next(v) = arr; changed = true
          case _ => ()
        }
      }
      arrival = next
    }
    LocalTail.joinBack(g, arrival.map { case (v, a) => Row(v, a) },
      Seq(LocalTail.Out("arrival", DoubleType, lit(null))))(vertexIdsFor(g)).select(ID, "arrival")
  }
}
