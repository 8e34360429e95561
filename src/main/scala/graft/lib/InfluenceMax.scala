package graft.lib

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraphFrame

/**
 * Influence-maximization seed selection by degree discount (engine
 * extension; Chen–Wang–Yang, KDD'09): pick `k` spread seeds one at a
 * time, discounting each candidate's score by its links to already-
 * selected seeds — the standard scalable stand-in for greedy
 * independent-cascade simulation (which needs Monte-Carlo spread
 * estimates; this heuristic matches its seed sets closely at a tiny
 * fraction of the cost — the published result, not a claim invented
 * here).
 *
 * Two published scoring modes over the undirected simple degree d and
 * the selected-neighbor count t:
 *  - `single` (SingleDiscount): score = d − t. Exact integers end to
 *    end — bit-replayable anywhere.
 *  - `degree` (DegreeDiscountIC, propagation probability `p`):
 *    score = d − 2t − (d − t)·t·p. One float product per candidate per
 *    round, evaluated in the same IEEE order a SQL replay uses.
 * Ties break on vertex id ascending — a total order, so the seed
 * sequence is deterministic under any partitioning.
 *
 * Shape: selection is INHERENTLY sequential (each pick changes the
 * scores), so the loop runs k rounds of: one distributed argmax (a
 * 1-row TakeOrdered action — the BPE-merge pattern, THRESHOLDS row 7)
 * + one broadcast-sized update of the picked seed's neighbors (join on
 * the adjacency, t += 1). State is (id, d, t) cycled through the
 * [[IterationManager]]; k bounds the driver actions, never the data.
 * Returns (id, round, score) — the seeds in selection order with the
 * score at selection time.
 */
class InfluenceMax(g: GraphFrame) {
  import GraphFrame.{ID, SRC, DST}

  private var kV: Int = 5
  private var modeV: String = "degree"
  private var pV: Double = 0.1

  def k(n: Int): this.type = {
    require(n >= 1, s"influenceMax needs k >= 1, got $n"); kV = n; this }
  /** "single" (exact-integer SingleDiscount) or "degree"
   * (DegreeDiscountIC with probability [[p]]). */
  def mode(m: String): this.type = {
    require(m == "single" || m == "degree", s"unknown mode: $m")
    modeV = m; this
  }
  def p(x: Double): this.type = {
    require(x >= 0 && x <= 1, s"propagation probability out of [0,1]: $x")
    pV = x; this
  }

  def run(): DataFrame = IterationManager.scoped(g.spark) { mgr =>
    val und = g.edges.filter(col(SRC) =!= col(DST))
      .select(least(col(SRC), col(DST)).as("a"), greatest(col(SRC), col(DST)).as("b"))
      .distinct()
      .join(g.vertices.select(col(ID).as("a")), Seq("a"), "left_semi")
      .join(g.vertices.select(col(ID).as("b")), Seq("b"), "left_semi")
    val adj = mgr.persistLazy(und.select(col("a").as("u"), col("b").as("v"))
      .unionByName(und.select(col("b").as("u"), col("a").as("v"))))
    val deg = adj.groupBy(col("u").as(ID)).agg(count(lit(1)).as("d"))
    var state = mgr.cycle(
      g.vertices.select(col(ID)).join(deg, Seq(ID), "left_outer")
        .select(col(ID), coalesce(col("d"), lit(0L)).as("d"), lit(0L).as("t"),
          lit(false).as("picked")), 0)
    val score =
      if (modeV == "single") (col("d") - col("t")).cast("double")
      else col("d") - lit(2) * col("t") - (col("d") - col("t")) * col("t") * lit(pV)
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Any, Int, Double)]
    for (round <- 1 to kV) {
      val top = state.filter(!col("picked"))
        .select(col(ID), score.as("_s"))
        .orderBy(col("_s").desc, col(ID).asc).limit(1).collect()
      if (top.nonEmpty) {
        val seed = top(0).get(0)
        picks += ((seed, round, top(0).getDouble(1)))
        val nbrs = adj.filter(col("u") === lit(seed)).select(col("v").as(ID))
        state = mgr.cycle(state
          .join(nbrs.withColumn("_hit", lit(1L)), Seq(ID), "left_outer")
          .select(col(ID), col("d"),
            (col("t") + coalesce(col("_hit"), lit(0L))).as("t"),
            (col("picked") || col(ID) === lit(seed)).as("picked")), round)
      }
    }
    val idField = g.vertices.schema(ID)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      idField.copy(name = ID),
      org.apache.spark.sql.types.StructField("round",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    val rows = picks.map { case (id, r, s) => org.apache.spark.sql.Row(id, r, s) }
    g.spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), schema)
  }
}
