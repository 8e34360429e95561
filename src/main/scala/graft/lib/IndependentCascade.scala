package graft.lib

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.GraphFrame

/**
 * Independent-Cascade spread simulation (Kempe–Kleinberg–Tardos KDD'03)
 * under the LIVE-EDGE formulation: each edge flips ONE coin — it is
 * "live" with probability `p` — and the cascade from a seed set equals
 * directed reachability over the live subgraph (KKT §4's equivalence).
 * The coin is an md5 draw keyed (seed, src, dst), so the SAME cascade
 * materializes on any cluster, any retry, and a SQL engine replays it
 * bit-identically — this is the evaluation counterpart to
 * [[InfluenceMax]]: pick seeds with the optimizer, MEASURE their spread
 * here (one simulation per hash seed; average over seeds for a
 * Monte-Carlo estimate, each run deterministic).
 *
 * Plan: one codegen filter derives the live subgraph (no
 * materialization — the coin rides the edge scan), then BFS-style
 * frontier rounds: frontier ⋈ live-edges, anti-join vs activated,
 * min-agg per new vertex. Rounds ≤ the live subgraph's diameter,
 * chained per lineage cut by [[IterationManager.chained]]. Returns
 * (id, round): activation round (0 = seed), null = never activated.
 *
 * Dyadic `p` (0.5, 0.25, 0.375 …) makes the threshold p·2⁶⁰ exact —
 * non-dyadic p works but pins the cascade to this engine's nearest
 * double (stated; the oracle embeds the same Long literal either way).
 */
class IndependentCascade(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var pV: Double = 0.1
  private var hashSeedV: Long = 42L
  private var maxIterV: Int = 50

  /** Per-edge activation probability (default 0.1). */
  def p(x: Double): this.type = {
    require(x > 0 && x <= 1, s"p out of (0, 1]: $x"); pV = x; this
  }
  /** Hash seed for the edge coins — vary it for Monte-Carlo repeats. */
  def hashSeed(s: Long): this.type = { hashSeedV = s; this }
  def maxIter(n: Int): this.type = {
    require(n >= 1, s"maxIter must be >= 1: $n"); maxIterV = n; this
  }
  /** 60-bit threshold: coin fires iff draw < p·2⁶⁰ (exact for dyadic p). */
  private def threshold: Long = (pV * (1L << 60).toDouble).toLong

  /** Activation round is the unique live-edge BFS level, so the driver
   * tail and the distributed rounds agree exactly. */
  def run(seeds: Seq[Any]): DataFrame = {
    require(seeds.nonEmpty, "independentCascade requires a non-empty seed set")
    val coin = conv(substring(md5(concat_ws("|", lit(hashSeedV),
      col(SRC).cast("string"), col(DST).cast("string"))), 1, 15), 16, 10)
      .cast("long")
    val live = g.edges.select(col(SRC), col(DST))
      .filter(col(SRC) =!= col(DST))
      .filter(coin < threshold)
      .distinct()
    gate(g, live, pinForDistributed = true)(runLocal(_, seeds))(runDistributed(_, seeds))
  }

  private def runDistributed(live: DataFrame, seeds: Seq[Any]): DataFrame =
    // the activation round is the unique live-edge BFS level, so levels
    // chain lazily per cut; the last level's growth count rides the cut's
    // own job — no separate limit/count action
    IterationManager.chained(
      g.vertices.select(col(ID),
        when(col(ID).isInCollection(seeds), lit(0))
          .otherwise(lit(null).cast("int")).as("round")),
      maxIterV,
      observe = round => Seq(count(when(col("round") === round, lit(1)))),
      // an empty LAST level means every later frontier is empty too —
      // intermediate levels of the chunk may still have grown
      after = (next, _, obs) => if (obs(0) > 0) Some(next) else None) { (cur, round) =>
      val frontier = cur.filter(col("round") === (round - 1))
        .select(col(ID).as(SRC))
      val reached = live.join(frontier, SRC)
        .select(col(DST).as(ID)).distinct()
      cur.join(reached.withColumn("_hit", lit(true)), Seq(ID), "left_outer")
        .select(col(ID),
          when(col("round").isNotNull, col("round"))
            .when(col("_hit"), lit(round))
            .otherwise(lit(null).cast("int")).as("round"))
    }

  /** Driver tail: plain BFS over the collected live edges — the level
   * assignment is unique, so no ordering requirement. */
  private def runLocal(lg: LocalGraph, seeds: Seq[Any]): DataFrame = {
    val adj = lg.edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSeq }
    val round = scala.collection.mutable.HashMap.empty[Any, Int]
    seeds.foreach(s => round(s) = 0)
    var frontier: Seq[Any] = seeds.distinct
    var r = 0
    while (frontier.nonEmpty && r < maxIterV) {
      r += 1
      frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
        .distinct.filterNot(round.contains)
      frontier.foreach(v => round(v) = r)
    }
    lg.joinBack(round.map { case (v, r) => Row(v, r) },
      Seq(LocalTail.Out("round", IntegerType, lit(null)))).select(ID, "round")
  }
}
