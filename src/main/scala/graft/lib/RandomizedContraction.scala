package graft.lib

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraphFrame
import graft.expressions.FiniteAXPlusB.finiteAxpb

/**
 * Connected components by randomized star contraction (Bögeholz et al.,
 * "In-Database Connected Component Analysis"; role of reference
 * lib/RandomizedContraction.scala:33-273).
 *
 * Each round re-keys every vertex with a fresh affine map a·x+b over
 * GF(2^64) (the [[graft.expressions.FiniteAXPlusB]] native expression),
 * hangs each vertex off its hash-minimal closed neighbor, contracts, and
 * records the round's (vertex → representative) table; after the edge set
 * is empty, a backward pass composes the per-round tables into the final
 * component labels.
 *
 * O(log n) expected rounds; per-round state is the contracted edge list
 * plus an O(V_round) rep table. Hash-based (a,b) draws are derived from
 * the seed — deterministic under task retries, no AQE hazard.
 */
class RandomizedContraction(g: GraphFrame) {
  import GraphFrame.{ID, LONG_ID, LONG_SRC, LONG_DST}

  private var maxIterV: Int = 50
  private var seedV: Long = 42L
  private var reliableDirV: Option[String] = None

  def maxIter(n: Int): this.type = { maxIterV = n; this }
  def seed(s: Long): this.type = { seedV = s; this }
  /** Reliable checkpointing under `dir` (see ConnectedComponents). */
  def setUseReliableCheckpoint(dir: String): this.type = {
    reliableDirV = Some(dir); this
  }

  def run(): DataFrame = IterationManager.scoped(g.spark, reliableDirV) { mgr =>
    val iv = g.indexedVertices.select(col(LONG_ID).as("vid"), col(ID))
    var ee = g.indexedEdges
      .select(col(LONG_SRC).as("src"), col(LONG_DST).as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"), greatest(col("src"), col("dst")).as("dst"))
      .distinct()

    ee = mgr.cycle(ee, 0)
    val repTables = ArrayBuffer.empty[DataFrame]
    val rnd = new scala.util.Random(seedV)

    var round = 1
    while (!ee.isEmpty && round <= maxIterV) {
      val a = rnd.nextLong() | 1L // invertible: odd constant
      val b = rnd.nextLong()
      def h(c: org.apache.spark.sql.Column) = finiteAxpb(lit(a), c, lit(b))

      val nbr = ee.unionAll(ee.select(col("dst").as("src"), col("src").as("dst")))
      // representative = hash-minimal vertex of the closed neighborhood
      val rep = nbr.groupBy(col("src").as("v"))
        .agg(min(struct(h(col("dst")).as("h"), col("dst").as("c"))).as("mn"))
        .select(col("v"),
          when(struct(h(col("v")).as("h"), col("v").as("c")) < col("mn"),
            col("v")).otherwise(col("mn.c")).as("rep"))
      val repP = mgr.persistOnly(rep)
      repTables += repP

      val contracted = ee
        .join(repP.select(col("v").as("src"), col("rep").as("rs")), "src")
        .join(repP.select(col("v").as("dst"), col("rep").as("rd")), "dst")
        .filter(col("rs") =!= col("rd"))
        .select(least(col("rs"), col("rd")).as("src"), greatest(col("rs"), col("rd")).as("dst"))
        .distinct()
      ee = mgr.cycle(contracted, round)
      round += 1
    }

    // backward pass: compose rep tables newest → oldest so every vertex
    // reaches its root label. A representative whose component went
    // edge-free before the final round never appears in later tables, so
    // the join must be left_outer with the rep itself as the root fallback
    // (an inner join would silently split such components into singletons).
    var comp = repTables.lastOption
      .map(_.select(col("rep").as("v")).distinct().select(col("v"), col("v").as("comp")))
      .getOrElse(iv.select(col("vid").as("v"), col("vid").as("comp")))
    for (t <- repTables.reverseIterator) {
      comp = mgr.persistOnly(
        t.join(comp.select(col("v").as("rep"), col("comp")), Seq("rep"), "left_outer")
          .select(col("v"), coalesce(col("comp"), col("rep")).as("comp")))
    }

    val labeled = iv.join(comp.select(col("v").as("vid"), col("comp")), Seq("vid"), "left_outer")
      .select(col(ID), coalesce(col("comp"), col("vid")).as("component"))
    mgr.finish(g.vertices.join(labeled, Seq(ID), "left_outer"))
  }
}
