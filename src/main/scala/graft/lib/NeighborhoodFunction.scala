package graft.lib

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
import graft.GraphFrame

/**
 * Neighborhood function + effective diameter (engine extension), the
 * HyperANF / ANF algorithm (Palmer et al. KDD'02; Boldi-Rosa-Vigna
 * WWW'11) on DataFrames with Spark's Datasketches theta sketches instead
 * of HyperLogLog counters: each vertex carries a sketch of its
 * distance-<=d reachability ball, and one superstep unions every vertex's
 * sketch with its out-neighbors' — `N(d) = Σ_v |ball_d(v)|` counts the
 * ordered pairs within distance d without ever materializing a pair.
 *
 * Why sketches: the exact per-vertex ball is O(V) per vertex — O(V²)
 * state that dies at scale; a theta sketch is a fixed <=2^lgNomEntries
 * bound per vertex, and below its nominal entry count it retains every
 * hash, so estimates are EXACT on small graphs (the same contract
 * [[TriangleCount.runApprox]] relies on — and why the driver query can be
 * hash-oracled against exact recursive-CTE pair counts).
 *
 * Scale: state is (id, sketch) — one row of bounded width per vertex;
 * each round is one edge join + one `theta_union_agg` hash aggregation
 * (map-side combinable: unions are associative), round count = graph
 * diameter. Every round is one observed lineage cut
 * ([[IterationManager.cycleObserved]]): N(d) is summed on the cut's own
 * job, and that sum doubles as the saturation (convergence) test, so a
 * round costs one job and no separate total query. A round that throws
 * releases every cut and the pinned edge frame before the error
 * propagates.
 *
 * Small graphs finish on the driver ([[LocalTail]], docs/THRESHOLDS.md
 * row 13): at most `setSmallGraphThreshold` edges AND at most
 * min(2^lgNomEntries, 4096) vertex rows. Below 2^lgNomEntries vertices
 * every ball's sketch is exact, so the tail replays the same rounds with
 * one exact bitset per ball and returns the same table from one bounded
 * edge collect (plus one bounded vertex-id collect unless the vertex
 * table is the edges' own endpoint set).
 *
 * `run()` returns one row per distance: `(d: int, n_pairs: long)` for
 * d = 0 until N(d) stops growing (or `maxIter`). `effectiveDiameter`
 * post-processes that table.
 */
class NeighborhoodFunction(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var maxIterV: Int = 64
  private var lgNomEntriesV: Int = 12

  /** Distance cap (safety on adversarially deep graphs; the loop
   * normally exits at saturation = the graph's maximum eccentricity). */
  def maxIter(n: Int): this.type = {
    require(n > 0, "maxIter should be positive."); maxIterV = n; this
  }
  /** log2 nominal sketch entries: balls below 2^n count exactly; above,
   * within the theta sketch's relative-error envelope (~1/sqrt(2^n)). */
  def setLgNomEntries(n: Int): this.type = {
    require(n >= 4 && n <= 26, s"lgNomEntries out of [4, 26]: $n")
    lgNomEntriesV = n; this
  }

  def run(): DataFrame = {
    val lg = lgNomEntriesV
    // built before the gate so both paths reject an id type the sketches
    // cannot hash, at analysis time
    val ball0 = g.vertices.select(col(ID))
      .groupBy(col(ID))
      .agg(expr(s"theta_sketch_agg($ID, $lg)").as("_nf_sk"))
    val probe = g.edges.select(col(SRC), col(DST))
    // the type the distributed joins and unions compare ids in
    val keyType = g.vertices.select(col(ID))
      .union(probe.select(col(SRC).as(ID))).union(probe.select(col(DST).as(ID)))
      .schema(ID).dataType
    val bound = math.min(1L << lg, 4096L)
    // the gate's collect fills `edges`; `fits` then reads the vertex ids
    var edges = Array.empty[(Any, Any)]
    var ids = Option.empty[Array[Any]]
    // isolated vertices count 1 each in N(d), so the endpoints are the ids
    // only on the `fromEdges` endpoint set
    def fits: Boolean = {
      ids = LocalTail.vertexIdsUpTo(g, keyType, bound, g.verticesAreEndpoints)(
        edges.flatMap { case (s, d) => Seq(s, d) }.distinct)
      ids.isDefined
    }
    // byte arrays compare by reference on the driver
    gateCollect(probe, eligible = keyType != BinaryType, andIf = fits) { p =>
      edges = p.select(col(SRC).cast(keyType), col(DST).cast(keyType)).collect()
        .map(r => (r.get(0), r.get(1)))
      edges
    }(_ => runLocal(edges, ids.get))(_ => runDistributed(ball0))
  }

  /** The `(d, n_pairs)` table: N(d) = `observe(d)` for d = 0, 1, ...
   * until N(d) stops growing or d > maxIter. `observe(d)` first advances
   * the balls from distance d - 1 to d (d > 0). */
  private def rounds(observe: Int => Long): DataFrame = {
    val counts = ArrayBuffer.empty[(Int, Long)]
    var d = 0
    var saturated = false
    while (!saturated && d <= maxIterV) {
      val n = observe(d)
      if (counts.lastOption.exists(_._2 == n)) saturated = true
      else { counts += ((d, n)); d += 1 }
    }
    val spark = g.spark
    import spark.implicits._
    counts.toSeq.toDF("d", "n_pairs")
  }

  /** The rounds' counts are a driver-local frame: the scope's close frees
   * every round cut once they are collected. */
  private def runDistributed(ball0: DataFrame): DataFrame =
      IterationManager.scoped(g.spark) { mgr =>
    val lg = lgNomEntriesV
    // N(d) rides the cut job of ball_d. theta_sketch_estimate returns LONG
    // (Spark rounds the raw estimate); sum() over zero rows is NULL —
    // coalesce so an empty vertex table yields a clean (0, 0) row
    val total = Seq(coalesce(sum(expr("theta_sketch_estimate(_nf_sk)")), lit(0L)))
    val edges = mgr.persistLazy(
      g.edges.select(col(SRC), col(DST)).distinct().repartition(col(DST)))
    var state = ball0
    rounds { d =>
      val ball = if (d == 0) ball0 else {
        // ball_d(v) = ball_{d-1}(v) ∪ ⋃_{v→w} ball_{d-1}(w): ship each
        // vertex's sketch to its in-edges' sources, union per vertex
        val msgs = edges.join(state.withColumnRenamed(ID, DST), DST)
          .select(col(SRC).as(ID), col("_nf_sk"))
        state.unionByName(msgs)
          .groupBy(col(ID)).agg(expr(s"theta_union_agg(_nf_sk, $lg)").as("_nf_sk"))
      }
      val (cut, Seq(n: java.lang.Long)) = mgr.cycleObserved(ball, d, total)
      state = cut
      n.longValue
    }
  }

  /** Driver tail: the distributed rounds replayed with one exact bitset
   * per ball over the ≤ 2^lgNomEntries distinct non-null vertex ids. Keys
   * follow the distributed `groupBy(id)`: a duplicate id is one key, and
   * a null id or src is a key whose ball starts empty. A key that is no
   * vertex (a dangling src) holds state only once one of its out-edges
   * brings it a ball, and until then its ball is empty; so an edge whose
   * dst holds no state sends nothing, as in the join, and every ball can
   * be summed. A null dst matches nothing. */
  private def runLocal(collected: Array[(Any, Any)], vertexIds: Array[Any]): DataFrame = {
    val key = new java.util.HashMap[Any, Int]() // holds null
    def index(k: Any): Int = { if (!key.containsKey(k)) key.put(k, key.size); key.get(k) }
    // the non-null vertex ids first: key i < bits is bit i
    vertexIds.filter(_ != null).foreach(index)
    val bits = key.size
    val msgs = collected.filter(_._2 != null).distinct
      .map { case (s, d) => (index(s), index(d)) }
    val words = (bits + 63) / 64
    var ball = Array.tabulate(key.size) { i =>
      val b = new Array[Long](words)
      if (i < bits) b(i >> 6) = 1L << i
      b
    }
    rounds { d =>
      if (d > 0) {
        val next = ball.map(_.clone)
        for ((i, j) <- msgs) {
          val (to, from) = (next(i), ball(j))
          var w = 0
          while (w < words) { to(w) |= from(w); w += 1 }
        }
        ball = next
      }
      ball.iterator.map(_.iterator.map(java.lang.Long.bitCount).sum.toLong).sum
    }
  }

  /** Smallest d with N(d) >= alpha * N(max) — the standard (integer)
   * effective-diameter readout of the neighborhood function. */
  def effectiveDiameter(alpha: Double = 0.9): Double = {
    require(alpha > 0 && alpha <= 1, s"alpha out of (0, 1]: $alpha")
    val rows: Array[Row] = run().orderBy("d").collect()
    // run() always emits the d=0 row, but guard anyway: an empty graph's
    // neighborhood function is all-zero — report diameter 0, not a crash
    if (rows.isEmpty || rows.last.getLong(1) == 0L) return 0.0
    val nMax = rows.last.getLong(1)
    rows.find(_.getLong(1) >= alpha * nMax).map(_.getInt(0).toDouble).get
  }

  /** One-row effective-diameter report with the classic ANF linear
   * interpolation (Palmer–Gibbons–Faloutsos): at the smallest d₀ with
   * N(d₀) ≥ α·N(∞), `effective_diameter` = (d₀−1) + (α·N(∞) − N(d₀−1)) /
   * (N(d₀) − N(d₀−1)); plus the integer readout, the hop diameter, and
   * N(∞). Declarative finisher over the diameter-row [[run]] output (the
   * global window orders ≤ diameter+1 rows by construction), so a SQL
   * engine replays the identical float path. */
  def effectiveDiameterReport(alpha: Double = 0.9): DataFrame =
    effectiveDiameterReport(run(), alpha)

  /** Same readout over a PRECOMPUTED [[run]] table, so composed callers
   * (e.g. a neighborhood query plus a diameter readout in one report)
   * pay the HyperANF superstep loop once, not per readout. The
   * interpolated value is clamped at 0: when the d=0 row already
   * satisfies N(0) ≥ α·N(∞) (edgeless graph), the raw formula yields
   * (0−1)+α — negative — where the classic ANF readout floors at 0. */
  def effectiveDiameterReport(nf: DataFrame, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha out of (0, 1]: $alpha")
    val tot = nf.agg(max(col("n_pairs")).as("_tot"), max(col("d")).as("_diam"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("d"))
    nf.crossJoin(tot)
      .withColumn("_prev", coalesce(lag(col("n_pairs"), 1).over(w), lit(0L)))
      .filter(col("n_pairs") >= col("_tot") * alpha)
      .orderBy(col("d")).limit(1)
      .select(
        greatest(lit(0.0), (col("d") - 1) + (col("_tot") * alpha - col("_prev")) /
          (col("n_pairs") - col("_prev"))).as("effective_diameter"),
        col("d").as("effective_diameter_int"),
        col("_diam").as("diameter"),
        col("_tot").as("n_pairs_total"))
  }
}
