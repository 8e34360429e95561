package graft.lib

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.GraphFrame

/**
 * Maximal matching via locally-minimum edges (the edge-centric sibling of
 * [[MaximalIndependentSet]]; engine extension — the reference ships MIS
 * but no matching, cf. reference lib/MaximalIndependentSet.scala:36).
 *
 * Per round every remaining edge draws a deterministic priority
 * `md5(a|b|seed|round)`; an edge joins the matching when its priority is
 * the minimum among remaining edges at BOTH endpoints (md5 strings over
 * distinct canonical pairs are distinct, so the per-vertex minimum is a
 * strict winner); matched vertices leave the graph with every incident
 * edge. The globally minimum remaining edge always wins, so rounds make
 * progress; expected O(log m) rounds to empty (Israeli–Itai-style
 * symmetry breaking with hash coins instead of coin flips — deterministic
 * under task retries and safe with AQE, same rationale as MIS).
 *
 * Spark shape per round: one union + hash agg for the per-vertex minima,
 * two equi-joins to test the winner rule, two anti-joins to drop matched
 * endpoints — all shuffle-partitioned on vertex id, no driver state.
 * Lineage is cut per round by the shared [[IterationManager]].
 *
 * Returns the matched edges `(src, dst, round)` with src < dst under the
 * canonical ordering and `round` the 0-based round the edge won. With
 * enough rounds to reach the fixpoint the result is a maximal matching:
 * every unmatched edge has a matched endpoint.
 *
 * With [[weightCol]] the winner rule becomes LOCALLY DOMINANT instead of
 * locally minimum: an edge wins when it is the heaviest remaining edge at
 * both endpoints (weight desc, md5 asc tie-break — a total order, so the
 * per-vertex best is unique). That is the Preis / Manne–Bisseling greedy
 * scheme: the result is maximal AND a 1/2-approximation of the maximum
 * weight matching (every dominant edge outweighs each edge it blocks).
 * Parallel/antiparallel duplicates collapse to the canonical pair with
 * their MAX weight; `(src, dst, weight, round)` is returned.
 */
class MaximalMatching(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var maxIterV: Int = 100
  private var seedV: Long = 42L
  private var weightColV: Option[String] = None

  def maxIter(n: Int): this.type = {
    require(n >= 1, s"maxIter must be >= 1: $n"); maxIterV = n; this
  }
  def seed(s: Long): this.type = { seedV = s; this }
  /** Edge weight column → locally-dominant (maximum-weight greedy)
   * matching, the Preis 1/2-approximation. Weights must be non-null. */
  def weightCol(c: String): this.type = {
    require(g.edges.columns.contains(c), s"edges have no column '$c'")
    weightColV = Some(c); this
  }

  /** The driver tail replays the identical md5 rounds, so the paths agree
   * exactly. */
  def run(): DataFrame = {
    // canonical simple undirected edges; parallel/antiparallel duplicates
    // collapse with their MAX weight (deterministic, favors the dominant
    // rule); unweighted mode rides the same shape at constant weight 0
    val wExpr = weightColV.map(c =>
      col(GraphFrame.quoteName(c)).cast("double")).getOrElse(lit(0.0))
    weightColV.foreach { c =>
      val wc = col(GraphFrame.quoteName(c))
      require(g.edges.filter(wc.isNull || isnan(wc.cast("double"))).isEmpty,
        s"maximalMatching: null or NaN weights in '$c' — the dominant-edge " +
          "rule needs a total order on weights")
    }
    // `+ 0.0` collapses -0.0 to 0.0 BEFORE any ordering: Spark SQL struct
    // comparison treats -0.0 == 0.0 while the driver tail's TotalOrdering
    // puts -0.0 < 0.0 — normalizing once at the source keeps the
    // distributed rounds, the tail replay and the SQL oracle byte-equal
    // on weight columns that mix the two zeros
    val und = g.edges.filter(col(SRC) =!= col(DST))
      .select(least(col(SRC), col(DST)).as("ea"),
        greatest(col(SRC), col(DST)).as("eb"), (wExpr + lit(0.0)).as("_w"))
      .groupBy("ea", "eb").agg(max(col("_w")).as("_w"))
    gate(und, pinForDistributed = true)(runLocal)(runDistributed)
  }

  private def runDistributed(und: DataFrame): DataFrame = IterationManager.scoped(g.spark) { mgr =>
    var er = mgr.cycle(und, 0)
    var matched: Option[DataFrame] = None
    var round = 0
    var done = false
    while (round < maxIterV && !done) {
      val pri = md5(concat_ws("|", col("ea").cast("string"),
        col("eb").cast("string"), lit(seedV), lit(round)))
      // composite priority (weight desc, md5 asc) as an orderable struct —
      // md5 strings over distinct pairs are distinct, so the per-vertex
      // minimum is a strict winner; unweighted mode degenerates to md5
      val ep = er.select(col("ea"), col("eb"), col("_w"),
        struct((-col("_w")).as("_nw"), pri.as("_p")).as("s"))
      val vmin = ep.select(col("ea").as("v"), col("s"))
        .unionAll(ep.select(col("eb").as("v"), col("s")))
        .groupBy(col("v")).agg(min(col("s")).as("m"))
      val winners = mgr.keep(
        ep.join(vmin.select(col("v").as("ea"), col("m").as("ma")), "ea")
          .join(vmin.select(col("v").as("eb"), col("m").as("mb")), "eb")
          .filter(col("s") === col("ma") && col("s") === col("mb"))
          .select(col("ea"), col("eb"), col("_w"), lit(round).as("round")))
      matched = Some(matched.map(_.unionAll(winners)).getOrElse(winners))
      val mv = winners.select(col("ea").as("v"))
        .unionAll(winners.select(col("eb").as("v"))).distinct()
      // the remaining-edge count is FUSED into the cut's own job
      // (cycleObserved), so the round pays two jobs — winners cut +
      // remainder cut — with no separate isEmpty action
      val (erNext, remaining) = mgr.cycleObserved(
        er.join(mv.select(col("v").as("ea")), Seq("ea"), "left_anti")
          .join(mv.select(col("v").as("eb")), Seq("eb"), "left_anti"),
        round + 1, Seq(count(lit(1))))
      er = erNext
      done = remaining.head.asInstanceOf[Number].longValue() == 0L
      round += 1
    }
    val cols = Seq(col("ea").as(SRC), col("eb").as(DST)) ++
      (if (weightColV.isDefined) Seq(col("_w").as("weight")) else Nil) ++
      Seq(col("round").cast("int").as("round"))
    mgr.finish(matched.map(_.select(cols: _*))
      .getOrElse(und.limit(0).withColumn("round", lit(0)).select(cols: _*)))
  }

  /** Driver tail: identical level-synchronous rounds — md5 hex strings
   * order the same way Spark's string min orders them and the composite
   * (-weight, md5) mirrors the distributed struct min, so the tail, the
   * distributed rounds and the SQL oracle agree exactly. */
  private def runLocal(und: DataFrame): DataFrame = {
    import scala.collection.mutable
    val edges = und.collect().iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.get(0), r.get(1), r.getDouble(2))).toArray
      .sortBy { case (a, b, _) => (String.valueOf(a), String.valueOf(b)) }
    def h(a: Any, b: Any, round: Int): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"${String.valueOf(a)}|${String.valueOf(b)}|$seedV|$round"
          .getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val remaining = mutable.LinkedHashSet(edges.toSeq: _*)
    val won = mutable.ArrayBuffer.empty[(Any, Any, Double, Int)]
    var round = 0
    while (round < maxIterV && remaining.nonEmpty) {
      val hs = remaining.iterator
        .map(e => e -> ((-e._3, h(e._1, e._2, round)))).toMap
      implicit val ord: Ordering[(Double, String)] =
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String)
      val vmin = mutable.HashMap.empty[Any, (Double, String)]
      remaining.foreach { case e @ (a, b, _) =>
        val p = hs(e)
        Seq(a, b).foreach { v =>
          if (!vmin.get(v).exists(m => ord.lteq(m, p))) vmin(v) = p
        }
      }
      val winners = remaining.toSeq.filter { case e @ (a, b, _) =>
        hs(e) == vmin(a) && hs(e) == vmin(b)
      }
      winners.foreach { case (a, b, w) => won += ((a, b, w, round)) }
      val mv = winners.iterator.flatMap { case (a, b, _) => Seq(a, b) }.toSet
      remaining.filterInPlace { case (a, b, _) => !mv(a) && !mv(b) }
      round += 1
    }
    val idType = g.vertices.schema(ID).dataType
    def f(name: String) = org.apache.spark.sql.types.StructField(name, idType,
      nullable = true)
    val weighted = weightColV.isDefined
    val schema = org.apache.spark.sql.types.StructType(
      Seq(f(SRC), f(DST)) ++
      (if (weighted) Seq(org.apache.spark.sql.types.StructField("weight",
        org.apache.spark.sql.types.DoubleType, nullable = true)) else Nil) ++
      Seq(org.apache.spark.sql.types.StructField("round",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    g.spark.createDataFrame(
      java.util.Arrays.asList(won.sortBy(t =>
        (String.valueOf(t._1), String.valueOf(t._2)))
        .map(t => if (weighted) org.apache.spark.sql.Row(t._1, t._2, t._3, t._4)
          else org.apache.spark.sql.Row(t._1, t._2, t._4)).toSeq: _*),
      schema)
  }
}
