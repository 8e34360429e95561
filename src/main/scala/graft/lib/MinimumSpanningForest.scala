package graft.lib

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}
import graft.GraphFrame

/**
 * Minimum spanning forest (beyond the reference's library): distributed
 * Borůvka over the undirected weighted view of the graph.
 *
 * Edges are canonicalized to `(a, b) = (least, greatest)` with the
 * cheapest parallel edge kept, and every comparison uses the TOTAL order
 * `(w, a, b)` — weight ties broken by endpoints — so the forest is the
 * UNIQUE minimum spanning forest of that keyed edge set. Uniqueness is
 * what makes the three faces of this operator provably identical rather
 * than parity-by-replay: the distributed path runs Borůvka (each
 * component hooks its minimum incident key, mutual-minimum pairs root the
 * contraction), the bounded driver tail runs Kruskal over the same key
 * order, and the DuckDB oracle uses the cycle rule (an edge is in the MSF
 * iff its endpoints are NOT connected by strictly smaller-keyed edges) —
 * three different algorithm families, one theorem, one answer.
 *
 * Scale: each Borůvka round is one edge×component join plus one
 * min-by-key hash aggregation (map-side combinable); component count at
 * least halves per round, so rounds ≤ log₂ V. Contraction resolves the
 * hooking forest by pointer doubling on the COMPONENT table (≤ active
 * components rows, shrinking geometrically), never on vertices. Weights
 * are compared as doubles: integral weights above 2^53 would collide —
 * use pre-scaled weights if you have them.
 */
class MinimumSpanningForest(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var weightColV: String = ""

  /** REQUIRED: numeric edge column to minimize. Null-weighted edges are
   * ignored (an edge with no cost is an edge you cannot rank). */
  def weightCol(c: String): this.type = { weightColV = c; this }

  /** Returns the forest's edges: `(src, dst, weight: double)` with
   * `src < dst` (canonical order). Exactly V − C rows for V edge-touching
   * vertices in C components; isolated vertices contribute nothing. The
   * driver-side Kruskal tail collects ≤ threshold (a, b, w) triples. */
  def run(): DataFrame = {
    require(weightColV.nonEmpty, "minimumSpanningForest requires weightCol(...)")
    val e = g.edges
      .filter(col(SRC).isNotNull && col(DST).isNotNull &&
        col(weightColV).isNotNull && !col(weightColV).cast("double").isNaN &&
        col(SRC) =!= col(DST))
      .select(least(col(SRC), col(DST)).as("a"),
        greatest(col(SRC), col(DST)).as("b"),
        col(weightColV).cast("double").as("w"))
      .groupBy("a", "b").agg(min("w").as("w"))
    // least/greatest widen mixed src/dst types: order by the probe's type
    val idType = e.schema("a").dataType
    gateOrdered(g, e, idType, pinForDistributed = true)(runLocal(_, _, idType))(
      runDistributed(_, idType))
  }

  // checkpointInterval 1: comp appears TWICE in every round's candidate
  // join and the hooking table self-joins on top — without a lineage cut
  // per round the analyzed plan tree multiplies ~16× per round and the
  // pointer-doubling loop squares it again (the 4^rounds analyzer
  // explosion measured in lib/IterationManager.scala's cadence note).
  // Every cut is eager, so each frame below reads LogicalRDD state.
  private def runDistributed(e: DataFrame, idType: DataType): DataFrame =
      IterationManager.scoped(g.spark, checkpointInterval = 1) { mgr =>
    var comp = mgr.cycle(
      e.select(col("a").as(ID)).union(e.select(col("b"))).distinct()
        .select(col(ID), col(ID).as("comp")), 0)
    var forest = Vector.empty[DataFrame]
    var round = 1
    var active = true
    while (active) {
      require(round <= 64, "Borůvka exceeded 64 rounds — impossible for < 2^64 components")
      val cand = mgr.persistOnly(e
        .join(comp.select(col(ID).as("a"), col("comp").as("ca")), "a")
        .join(comp.select(col(ID).as("b"), col("comp").as("cb")), "b")
        .filter(col("ca") =!= col("cb")))
      // NOTE: side frames are freed with plain Dataset.unpersist — NOT
      // IterationManager.release, which unpins every LogicalRDD id in a
      // frame's PLAN and would free the live comp checkpoint these
      // frames' lineage still references (re-learned here the hard way:
      // instant CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on round 2).
      if (cand.isEmpty) {
        cand.unpersist(false)
        active = false
      } else {
        // each active component hooks its minimum incident (w, a, b) key;
        // ca/cb ride AFTER the key fields, so they never affect the min
        val k = struct(col("w"), col("a"), col("b"), col("ca"), col("cb"))
        val chosen = mgr.persistOnly(
          cand.select(col("ca").as("c"), k.as("k"))
            .union(cand.select(col("cb").as("c"), k.as("k")))
            .groupBy("c").agg(min("k").as("k")))
        cand.unpersist(false)
        forest = forest :+ mgr.keep(chosen.select(col("k.a").as(SRC),
          col("k.b").as(DST), col("k.w").as("weight")).distinct())
        // hooking graph c → partner(c); the minimum-keyed edge inside any
        // hooking component is chosen by BOTH its endpoint components, so
        // every pointer cycle is a mutual pair — root it at the smaller id
        val parent0 = chosen.select(col("c"),
          when(col("k.ca") === col("c"), col("k.cb"))
            .otherwise(col("k.ca")).as("p"))
        // pointer doubling self-joins p every step — own per-round manager,
        // cut per step, closed only after the new comp is cut (the cut job
        // is the last reader of the final p's blocks)
        val pm = mgr.sub()
        var p = pm.cycle(parent0.as("x")
          .join(parent0.as("y"), col("x.p") === col("y.c"))
          .select(col("x.c").as("c"),
            when(col("y.p") === col("x.c") && col("x.c") <= col("x.p"),
              col("x.c")).otherwise(col("x.p")).as("p")), 0)
        chosen.unpersist(false)
        var jumping = true
        var step = 1
        while (jumping) {
          val nxt = pm.cycle(p.as("x").join(p.as("y"),
              col("x.p") === col("y.c"))
            .select(col("x.c").as("c"), col("y.p").as("p"),
              (col("y.p") =!= col("x.p")).as("_moved")), step)
          jumping = !nxt.filter(col("_moved")).isEmpty
          p = nxt.select(col("c"), col("p"))
          step += 1
        }
        comp = mgr.cycle(comp.join(p.withColumnRenamed("c", "comp"),
            Seq("comp"), "left_outer")
          .select(col(ID), coalesce(col("p"), col("comp")).as("comp")), round)
        pm.close()
        round += 1
      }
    }
    val result =
      if (forest.isEmpty)
        g.edges.sparkSession.createDataFrame(
          java.util.Collections.emptyList[Row](),
          StructType(Seq(StructField(SRC, idType), StructField(DST, idType),
            StructField("weight", DoubleType))))
      else forest.reduce(_ unionByName _)
    mgr.finish(result)
  }

  /** Driver-side Kruskal tail: same `(w, a, b)` key order via the
   * Spark-faithful id ordering, plain union-find connectivity. Produces
   * the identical unique MSF by the uniqueness theorem, not by replay. */
  private def runLocal(lg: LocalGraph, ord: Ordering[Any], idType: DataType): DataFrame = {
    val rows = lg.rows.map(r => (r.get(0), r.get(1), r.getDouble(2)))
      .sortWith { case ((a1, b1, w1), (a2, b2, w2)) =>
        if (w1 != w2) w1 < w2
        else if (ord.compare(a1, a2) != 0) ord.lt(a1, a2)
        else ord.lt(b1, b2)
      }
    val uf = new UnionFind(ord)
    val kept = rows.filter { case (a, b, _) => uf.union(a, b) }
    val schema = StructType(Seq(StructField(SRC, idType), StructField(DST, idType),
      StructField("weight", DoubleType)))
    val list: java.util.List[Row] = java.util.Arrays.asList(
      kept.map { case (a, b, w) => Row(a, b, w) }: _*)
    g.edges.sparkSession.createDataFrame(list, schema)
  }
}
