package graft.lib

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.GraphFrame

/**
 * HITS — Kleinberg's hubs-and-authorities power iteration (beyond the
 * reference's library; the natural companion of PageRank for directed
 * link analysis). Per round: authority = Σ of in-neighbor hub scores,
 * then hub = Σ of out-neighbor NEW authority scores.
 *
 * Per-round L2 normalization only rescales the vectors (the direction is
 * unchanged — each round is a positive-scalar multiple of the normalized
 * recurrence), so this implementation iterates RAW sums lazily and
 * normalizes ONCE at the end: the whole loop runs one materializing job
 * per lineage-cut window instead of two norm-collect jobs per round.
 * Raw magnitudes grow like (spectral radius)^rounds; an in-loop guard
 * rescales both columns by their max whenever they pass 1e100 (checked
 * every 8 rounds — see the inline math), so unbounded user maxIter
 * cannot overflow into all-NaN output.
 *
 * Scale: each round is two hash-aggregated joins over the (pinned) edge
 * table — the same shuffle shape as a PageRank round, twice; vertex
 * state is (id, hub, authority) with rounds through the
 * [[IterationManager]].
 */
class Hits(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var maxIterV: Int = 10

  def maxIter(n: Int): this.type = { maxIterV = n; this }
  /** Returns vertices + `hub: double`, `authority: double` (L2-unit each).
   * Driver tail cost at the 100k-edge default: one ~2x32-byte-per-edge
   * collect plus O(maxIter x edges) float adds — microseconds where the
   * superstep path pays ~0.4 s of scheduling per lineage-cut job
   * (measured 3.2 s → 1.5 s on the 25-vertex nations graph). At scale
   * the probe count doubles as the cache warm the distributed rounds
   * need anyway. */
  def run(): DataFrame =
    // pinned on both paths: re-joined every half-round, and possibly an
    // expensive upstream query (e.g. a multi-join edge derivation).
    // maxIter=0 normalizes the all-ones init over ALL vertices, which the
    // endpoints-only local loop cannot see — distributed handles it
    gate(g, g.edges.select(col(SRC), col(DST)), eligible = maxIterV >= 1,
      pinForDistributed = true, edgeRows = true)(runLocal)(runDistributed)

  private def runDistributed(e: DataFrame): DataFrame = {
    // The guard maxes and the final L2 norms ride the chunk cuts' own
    // jobs — zero separate loop actions.
    // Overflow guard: raw sums grow like (spectral radius)^round, and
    // maxIter is user-settable (Connect/Python) with no bound — e.g. a
    // 1e8-degree hub at maxIter 40 would hit Infinity and turn the final
    // normalization into all-NaN. Every 8 rounds (a chunk end, see
    // IterationManager.RoundsPerCut), if magnitudes left the comfortable
    // range, divide both columns by their max — a pure projection the
    // next chunk builds on, direction-preserving, so the final
    // normalization is unchanged. Between checks a jump from 1e100 to
    // 1e308 would need a per-round growth factor above 1e26 ~ degree^2,
    // i.e. a 1e13-degree vertex — beyond any real edge count. Its timing
    // is part of the float contract.
    var finalNorms: Option[(Double, Double)] = None
    IterationManager.chained(
      g.vertices.select(col(ID), lit(1.0).as("hub"), lit(1.0).as("authority")),
      maxIterV,
      observe = round =>
        if (round >= maxIterV)
          Seq(sum(col("hub") * col("hub")), sum(col("authority") * col("authority")))
        else if (round % 8 == 0) Seq(max(abs(col("hub"))), max(abs(col("authority"))))
        else Nil,
      after = (next, round, obs) =>
        if (round >= maxIterV) {
          finalNorms = Some((math.sqrt(obs(0)), math.sqrt(obs(1)))); Some(next)
        } else if (obs.nonEmpty && (obs(0) > 1e100 || obs(1) > 1e100))
          Some(next.select(col(ID),
            (col("hub") / lit(math.max(obs(0), 1.0))).as("hub"),
            (col("authority") / lit(math.max(obs(1), 1.0))).as("authority")))
        else Some(next),
      result = state => {
        // maxIter = 0 skips the loop: normalize the all-ones init directly
        val (hNorm, aNorm) = finalNorms.getOrElse {
          val norms = state.agg(
            sum(col("hub") * col("hub")).as("h2"),
            sum(col("authority") * col("authority")).as("a2")).head()
          (math.sqrt(norms.getDouble(0)), math.sqrt(norms.getDouble(1)))
        }
        g.vertices.join(
          state.select(col(ID),
            (if (hNorm > 0) col("hub") / hNorm else lit(0.0)).as("hub"),
            (if (aNorm > 0) col("authority") / aNorm else lit(0.0)).as("authority")),
          Seq(ID), "left_outer")
      }) { (cur, _) =>
      // authority(v) = Σ hub(u) over edges u→v (0 for no inlinks)
      val authRaw = e.join(cur.select(col(ID).as(SRC), col("hub")), SRC)
        .groupBy(col(DST).as(ID)).agg(sum("hub").as("_a"))
      val authed = cur.select(col(ID), col("hub"))
        .join(authRaw, Seq(ID), "left_outer")
        .select(col(ID), col("hub"),
          coalesce(col("_a"), lit(0.0)).as("authority"))
      // hub(u) = Σ authority(v) over edges u→v, against the NEW authority
      val hubRaw = e.join(authed.select(col(ID).as(DST), col("authority")), DST)
        .groupBy(col(SRC).as(ID)).agg(sum("authority").as("_h"))
      authed.select(col(ID), col("authority"))
        .join(hubRaw, Seq(ID), "left_outer")
        .select(col(ID), coalesce(col("_h"), lit(0.0)).as("hub"),
          col("authority"))
    }
  }

  /** Driver-side tail: identical recurrence (raw sums, one final L2
   * normalization), sorted-edge accumulation order so the result is a pure
   * function of the graph value. Vertices touching no edge score 0 from
   * round 1 on — filled in closed form by the join-back. */
  private def runLocal(lg: LocalGraph): DataFrame = {
    import scala.collection.mutable
    val (edges, vids) = (lg.edges, lg.vids)
    val valid = vids.toSet
    var hub = mutable.HashMap.empty[Any, Double]
    var auth = mutable.HashMap.empty[Any, Double]
    vids.foreach { v => hub(v) = 1.0; auth(v) = 1.0 }
    for (round <- 1 to maxIterV) {
      val a = mutable.HashMap.empty[Any, Double]
      vids.foreach(v => a(v) = 0.0)
      edges.foreach { case (s, d) =>
        if (valid(s) && valid(d)) a(d) += hub(s)
      }
      val h = mutable.HashMap.empty[Any, Double]
      vids.foreach(v => h(v) = 0.0)
      edges.foreach { case (s, d) =>
        if (valid(s) && valid(d)) h(s) += a(d)
      }
      hub = h; auth = a
      // same overflow guard as the distributed path — SAME CADENCE too
      // (every 8th round, never the last): rescale timing changes float
      // rounding, and local==distributed parity holds only if both paths
      // follow an identical numeric trajectory on graphs whose raw sums
      // cross 1e100
      if (round % 8 == 0 && round < maxIterV) {
        val mh = vids.iterator.map(v => math.abs(hub(v))).foldLeft(0.0)(math.max)
        val ma = vids.iterator.map(v => math.abs(auth(v))).foldLeft(0.0)(math.max)
        if (mh > 1e100 || ma > 1e100) {
          val (sh, sa) = (math.max(mh, 1.0), math.max(ma, 1.0))
          vids.foreach { v => hub(v) /= sh; auth(v) /= sa }
        }
      }
    }
    val hNorm = math.sqrt(vids.iterator.map(v => hub(v) * hub(v)).sum)
    val aNorm = math.sqrt(vids.iterator.map(v => auth(v) * auth(v)).sum)
    lg.joinBack(vids.map(v => Row(v, if (hNorm > 0) hub(v) / hNorm else 0.0,
        if (aNorm > 0) auth(v) / aNorm else 0.0)),
      Seq(LocalTail.score("hub", 0.0), LocalTail.score("authority", 0.0)))
  }
}
