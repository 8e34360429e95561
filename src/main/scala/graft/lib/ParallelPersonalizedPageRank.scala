package graft.lib

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraphFrame

/**
 * Personalized PageRank from many sources at once (role of reference
 * lib/ParallelPersonalizedPageRank.scala:56-129, GraphX-only there;
 * re-expressed on the DataFrame Pregel per SURVEY §7).
 *
 * Vertex state is `pageranks: array<double>` — one lane per source — so
 * all personalizations share every join/shuffle of a superstep; the only
 * growth is the payload width. Teleport mass for lane i lands exclusively
 * on source i.
 *
 * Returns a GraphFrame like the reference (:76): vertices +
 * `pageranks: array<double>` (the reference uses an ml SparseVector —
 * documented divergence), edges + `weight: double` = 1/outDegree(src).
 */
class ParallelPersonalizedPageRank(g: GraphFrame) extends LocalTail {
  import GraphFrame.ID

  private var resetProb: Double = 0.15
  private var maxIterV: Option[Int] = None
  private var sourcesV: Seq[Any] = Nil

  def resetProbability(p: Double): this.type = { resetProb = p; this }
  def maxIter(n: Int): this.type = { maxIterV = Some(n); this }
  def sourceIds(ids: Seq[Any]): this.type = { sourcesV = ids; this }

  /** The driver tail (same as [[PageRank]]'s; docs/THRESHOLDS.md row 2)
   * follows the identical per-lane trajectory, with the lane membership
   * of each vertex resolved by ONE SQL job so numeric coercion in
   * `id === lit(source)` matches the distributed init. */
  def run(): GraphFrame = {
    // both knobs are mandatory, like the reference's builder
    // (ParallelPersonalizedPageRank.scala:69-77 check() requires maxIter
    // and a non-empty sourceIds before running)
    require(maxIterV.nonEmpty, "parallelPersonalizedPageRank: maxIter required")
    require(sourcesV.nonEmpty, "parallelPersonalizedPageRank: sourceIds required")
    gate(g, g.edges.select(col(GraphFrame.SRC), col(GraphFrame.DST)),
      eligible = maxIterV.get >= 1, edgeRows = true)(runLocal)(_ => runDistributed())
  }

  private def runDistributed(): GraphFrame = {
    val outDeg = g.outDegrees
    val v = g.vertices.join(outDeg, Seq(ID), "left_outer")
      .na.fill(0, Seq("outDegree"))
      .withColumnRenamed("outDegree", "_pr_outdeg")
    val g2 = GraphFrame(v, g.edges)

    val lanes = sourcesV.map(s => when(col(ID) === lit(s), lit(1.0)).otherwise(lit(0.0)))
    val initRanks = array(lanes: _*)
    val teleport = array(sourcesV.map(s =>
      when(col(ID) === lit(s), lit(resetProb)).otherwise(lit(0.0))): _*)
    val zeros = array(sourcesV.map(_ => lit(0.0)): _*)

    val incoming = coalesce(Pregel.msg, zeros)
    val newRanks = zip_with(teleport, incoming, (t, m) => t + lit(1.0 - resetProb) * m)

    val ranks = g2.pregel
      .withVertexColumn("pageranks", initRanks, newRanks)
      .sendMsgToDst(transform(Pregel.src("pageranks"),
        r => r / Pregel.src("_pr_outdeg")))
      // constant-size combine buffer (one lane per source) — a hub's inbox
      // never materializes, unlike aggregate(collect_list(...), zip_with)
      .aggMsgs(graft.expressions.IterAggregates.arraySum(Pregel.msg))
      .setMaxIter(maxIterV.get)
      .run()
      .drop("_pr_outdeg")

    val weights = g.edges
      .join(outDeg.select(col(ID).as(GraphFrame.SRC), col("outDegree").as("_pr_od")),
        Seq(GraphFrame.SRC), "left_outer")
      .withColumn(GraphFrame.WEIGHT, lit(1.0) / col("_pr_od"))
      .drop("_pr_od")
    GraphFrame(ranks, weights)
  }

  /** Driver-side tail: identical per-lane recurrence, sorted-edge
   * accumulation. Vertices touching no edge and matching no source get
   * the closed-form all-zero lane vector from the join-back fill. */
  private def runLocal(lg: LocalGraph): GraphFrame = {
    import scala.collection.mutable
    import org.apache.spark.sql.{Row, types => T}
    val k = sourcesV.size
    val rows = lg.rows.iterator
      .filter(r => !r.isNullAt(0))
      .map(r => (r.get(0), if (r.isNullAt(1)) null else r.get(1)))
      .toArray
      .sortBy { case (s, d) => (String.valueOf(s), String.valueOf(d)) }
    val validArr = lg.vids
    val valid = validArr.toSet
    // one SQL job resolves every vertex's lane membership with the exact
    // `id === lit(source)` coercion of the distributed init
    val laneFlags: Map[Any, Array[Boolean]] = g.vertices
      .select(col(ID), array(sourcesV.map(s => (col(ID) === lit(s))): _*).as("_m"))
      .filter(exists(col("_m"), x => x))
      .collect()
      .map(r => (r.get(0), r.getSeq[Boolean](1).toArray)).toMap
    val ids: Array[Any] =
      (validArr ++ laneFlags.keys.filterNot(valid)).distinct.sortBy(String.valueOf(_))
    val alpha = resetProb
    def lanesOf(v: Any): Array[Boolean] =
      laneFlags.getOrElse(v, Array.fill(k)(false))

    // out-degree over ALL edge rows (null dst still counts), matching
    // the distributed outDegrees groupBy
    val outDeg = mutable.HashMap.empty[Any, Double]
    rows.foreach { case (s, _) => outDeg(s) = outDeg.getOrElse(s, 0.0) + 1.0 }
    val msgs = rows.filter { case (s, d) => d != null && valid(s) && valid(d) }

    val rank = mutable.HashMap.empty[Any, Array[Double]]
    ids.foreach { v =>
      rank(v) = lanesOf(v).map(b => if (b) 1.0 else 0.0)
    }
    for (_ <- 1 to maxIterV.get) {
      val inbox = mutable.HashMap.empty[Any, Array[Double]]
      msgs.foreach { case (s, d) =>
        val r = rank(s); val od = outDeg(s)
        val acc = inbox.getOrElseUpdate(d, Array.fill(k)(0.0))
        var i = 0
        while (i < k) { acc(i) += r(i) / od; i += 1 }
      }
      ids.foreach { v =>
        val in = inbox.getOrElse(v, Array.fill(k)(0.0))
        val fl = lanesOf(v)
        rank(v) = Array.tabulate(k)(i =>
          (if (fl(i)) alpha else 0.0) + (1.0 - alpha) * in(i))
      }
    }

    val ranks = lg.joinBack(ids.map(v => Row(v, rank(v).toSeq)),
      Seq(LocalTail.Out("pageranks", T.ArrayType(T.DoubleType, containsNull = true),
        array(Seq.fill(k)(lit(0.0)): _*))))

    val outDegDF = g.outDegrees
    val weights = g.edges
      .join(outDegDF.select(col(ID).as(GraphFrame.SRC), col("outDegree").as("_pr_od")),
        Seq(GraphFrame.SRC), "left_outer")
      .withColumn(GraphFrame.WEIGHT, lit(1.0) / col("_pr_od"))
      .drop("_pr_od")
    GraphFrame(ranks, weights)
  }
}
