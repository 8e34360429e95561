package graft.lib

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.GraphFrame

/**
 * SimRank structural similarity (engine extension; Jeh & Widom, KDD'02):
 * two vertices are similar when their in-neighbors are similar —
 * `s(a,b) = c/(|I(a)|·|I(b)|) · Σ_{i∈I(a), j∈I(b)} s(i,j)`, `s(v,v) = 1`,
 * run for a fixed number of synchronous iterations (the classic "random
 * surfer-pairs meet" measure; complements the one-hop wedge scores of
 * [[LinkPrediction]] with multi-hop structural similarity).
 *
 * Representation: the pair state is stored SPARSE and canonical (a < b,
 * no diagonal) — a pair appears only once it has a nonzero score, and the
 * diagonal is the implicit constant 1, so the state never materializes
 * the V² zero/one cells. Each round expands the canonical state to both
 * orders plus the diagonal, joins each side against the out-edge list
 * (two equi-joins), and hash-aggregates ordered in-neighbor pair
 * contributions per canonical output pair; the per-group finisher
 * `(c · Σ) / (|I(a)|·|I(b)|)` is the only float arithmetic, in the exact
 * association a SQL replay states. Multi-edges collapse first (SimRank is
 * defined on the simple digraph); endpoints missing from the vertex
 * table drop.
 *
 * Scale: the honest cost is SimRank's own — pair state can approach
 * O(V²) on dense similarity structure and each round costs
 * Σ_{(i,j)} outdeg(i)·outdeg(j). Both are bounded here: `setMinSim`
 * prunes below-threshold pairs between rounds (the standard truncation;
 * 0 keeps exact sparsity — absent pairs are exactly zero, every stored
 * score exact), and `setMaxPairs` (conf `spark.graft.simrank.maxpairs`,
 * 0 disables) fail-louds the round when the state outgrows the declared
 * budget instead of silently melting the cluster — at web scale use
 * sampled/top-k similarity (the kNN family), not all-pairs SimRank.
 * Below the link-analysis small-graph threshold (AND ≤ 2000 vertices)
 * the rounds finish in a bounded driver tail — same contribution
 * multiset, sorted accumulation order (docs/THRESHOLDS.md).
 */
class SimRank(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var cV: Double = 0.8
  private var maxIterV: Int = 3
  private var minSimV: Double = 0.0
  private var maxPairsV: Long =
    graft.GraftConf.simRankMaxPairs.getOrElse(100000000L)
  private val tailVertexBound = 2000L

  def setC(c: Double): this.type = {
    require(c > 0 && c < 1, s"SimRank decay must be in (0,1): $c"); cV = c; this }
  def maxIter(n: Int): this.type = {
    require(n >= 1, s"SimRank needs maxIter >= 1: $n"); maxIterV = n; this }
  /** Prune pairs with score <= t between rounds. 0 (default) keeps the
   * exact sparse state: absent pairs are exactly zero. */
  def setMinSim(t: Double): this.type = {
    require(t >= 0, s"minSim must be >= 0: $t"); minSimV = t; this }
  /** Fail-loud pair-state budget per round (0 disables). */
  def setMaxPairs(n: Long): this.type = { maxPairsV = n; this }

  /** Returns canonical vertex pairs `(a, b, simrank)` with a < b and
   * simrank > minSim after `maxIter` rounds (the diagonal, identically
   * 1, is omitted). Besides the edge threshold, the driver tail requires
   * ≤ 2000 vertices so the local pair map stays bounded. */
  def run(): DataFrame = {
    gateOrdered(g, g.edges.select(col(SRC), col(DST)), g.vertices.schema(ID).dataType,
      edgeRows = true, andIf = _.vertexIds(tailVertexBound).isDefined)(runLocal)(
      _ => runDistributed())
  }

  private def runDistributed(): DataFrame =
      IterationManager.scoped(g.spark, checkpointInterval = 1) { mgr =>
    // the simple edges between vertices, pinned: every round re-reads them
    val e = mgr.persistLazy(g.edges.select(col(SRC), col(DST))
      .filter(col(SRC).isNotNull && col(DST).isNotNull)
      .distinct()
      .join(g.vertices.select(col(ID).as(SRC)), Seq(SRC), "left_semi")
      .join(g.vertices.select(col(ID).as(DST)), Seq(DST), "left_semi"))
    val ind = mgr.persistLazy(e.groupBy(col(DST).as("_v")).agg(count(lit(1)).as("_d")))
    val vv = g.vertices.select(col(ID))
    var state = mgr.cycle(
      vv.select(col(ID).as("a"), col(ID).as("b"), lit(0.0).as("s")).limit(0), 0)
    for (round <- 1 to maxIterV) {
      val fullS = state.select(col("a").as("i"), col("b").as("j"), col("s"))
        .unionByName(state.select(col("b").as("i"), col("a").as("j"), col("s")))
        .unionByName(vv.select(col(ID).as("i"), col(ID).as("j"), lit(1.0).as("s")))
      val nxt = fullS
        .join(e.select(col(SRC).as("i"), col(DST).as("na")), Seq("i"))
        .join(e.select(col(SRC).as("j"), col(DST).as("nb")), Seq("j"))
        .filter(col("na") < col("nb"))
        .groupBy("na", "nb").agg(sum("s").as("_sum"))
        .join(ind.select(col("_v").as("na"), col("_d").as("da")), Seq("na"))
        .join(ind.select(col("_v").as("nb"), col("_d").as("db")), Seq("nb"))
        .select(col("na").as("a"), col("nb").as("b"),
          ((lit(cV) * col("_sum")) / (col("da") * col("db"))).as("s"))
        .filter(col("s") > minSimV)
      state = mgr.cycle(nxt, round)
      if (maxPairsV > 0) {
        val n = state.count()
        require(n <= maxPairsV,
          s"SimRank pair state hit $n rows in round $round (budget $maxPairsV) — " +
            "raise setMaxPairs/spark.graft.simrank.maxpairs, prune with setMinSim, " +
            "or switch to top-k similarity (kNN family) at this scale")
      }
    }
    mgr.finish(state.select(col("a"), col("b"), col("s").as("simrank")))
  }

  /** Driver tail: identical contribution multiset, accumulated in sorted
   * (pair, out-edge) order — a pure function of the graph value. The
   * canonical pair member is chosen by [[UnionFind.sparkOrdering]], the
   * same total order the distributed `na < nb` comparison uses. */
  private def runLocal(lg: LocalGraph, ord: Ordering[Any]): DataFrame = {
    import scala.collection.mutable
    val vids = lg.vids
    val valid = vids.toSet
    // the simple edges between vertices: the distributed distinct and semi-joins
    val kept = lg.edges.filter { case (s, d) => valid(s) && valid(d) }.distinct
    val out = mutable.HashMap.empty[Any, mutable.ArrayBuffer[Any]]
    val indeg = mutable.HashMap.empty[Any, Long].withDefaultValue(0L)
    kept.foreach { case (s, d) =>
      out.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d
      indeg(d) += 1
    }
    val pairOrd = Ordering.Tuple2(ord, ord)
    // canonical sparse state, diag implicit
    var state = mutable.HashMap.empty[(Any, Any), Double]
    for (_ <- 1 to maxIterV) {
      val acc = mutable.HashMap.empty[(Any, Any), Double].withDefaultValue(0.0)
      // mirror the distributed `na < nb` filter EXACTLY: an ordered source
      // pair (i, j) contributes only to (na, nb) with na < nb — the
      // mirrored (j, i) pass supplies the other orientation, so
      // redirecting na > nb here would double-count
      def contribute(i: Any, j: Any, s: Double): Unit =
        for (na <- out.getOrElse(i, mutable.ArrayBuffer.empty);
             nb <- out.getOrElse(j, mutable.ArrayBuffer.empty)
             if ord.compare(na, nb) < 0)
          acc((na, nb)) += s
      vids.foreach(v => contribute(v, v, 1.0)) // diagonal
      state.toSeq.sortBy(_._1)(pairOrd)
        .foreach { case ((a, b), s) => contribute(a, b, s); contribute(b, a, s) }
      state = acc.collect { case ((a, b), sum0) =>
        val s = (cV * sum0) / (indeg(a) * indeg(b))
        ((a, b), s)
      }.filter(_._2 > minSimV).to(mutable.HashMap)
    }
    val spark = g.vertices.sparkSession
    val idType = g.vertices.schema(ID).dataType
    val schema = StructType(Seq(
      StructField("a", idType), StructField("b", idType),
      StructField("simrank", DoubleType)))
    val rows: java.util.List[Row] = java.util.Arrays.asList(
      state.toSeq.sortBy(_._1)(pairOrd)
        .map { case ((a, b), s) => Row(a, b, s) }: _*)
    spark.createDataFrame(rows, schema)
  }
}
