package graft.lib

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraphFrame

/**
 * Strongly connected components via the coloring algorithm (role of
 * reference lib/StronglyConnectedComponents.scala — GraphX-only there;
 * re-expressed here on DataFrames, per SURVEY §7 step 9).
 *
 * Outer rounds until every vertex is assigned:
 *   1. color propagation: color = max(own id, colors arriving along
 *      forward edges), iterated to fixpoint → each vertex's color is the
 *      max vertex id that can reach it;
 *   2. backward sweep from each color root (vertex whose id == its color)
 *      along reversed edges, restricted to same-color vertices → exactly
 *      the SCC of the root;
 *   3. assign, peel off, repeat on the remainder.
 *
 * Output: original vertices + `component: long`.
 */
class StronglyConnectedComponents(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, LONG_ID, LONG_SRC, LONG_DST}

  private var maxIterV: Int = 100
  private var reliableDirV: Option[String] = None

  def maxIter(n: Int): this.type = { maxIterV = n; this }
  /** Reliable checkpointing under `dir` (see ConnectedComponents). */
  def setUseReliableCheckpoint(dir: String): this.type = {
    reliableDirV = Some(dir); this
  }

  /** The driver tail (docs/THRESHOLDS.md row 2) SIMULATES the
   * distributed algorithm (trim fixpoint → max-color fixpoint → root
   * sweeps → peel, capped at maxIter outer rounds) rather than
   * substituting Tarjan — both fixpoints are schedule-independent, so the
   * labels are identical even when the outer-round cap truncates
   * assignment. */
  def run(): DataFrame = {
    val iv = g.indexedVertices.select(col(LONG_ID).as("vid"), col(ID))
    val e0 = g.indexedEdges
      .select(col(LONG_SRC).as("src"), col(LONG_DST).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    gate(e0)(runLocal(iv, _))(runDistributed(iv, _))
  }

  private def runDistributed(iv: DataFrame, e0: DataFrame): DataFrame =
      IterationManager.scoped(g.spark, reliableDirV) { remMgr =>
    val reMgr = remMgr.sub()
    var rem = remMgr.persistOnly(iv.select(col("vid")))
    var re = reMgr.persistOnly(e0)
    val assignedParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var remRound = 0; var reRound = 0

    var outer = 0
    while (outer < maxIterV && rem.take(1).nonEmpty) {
      // -- trim pre-pass: a vertex with no incoming or no outgoing edge in
      // the remaining graph is its own (singleton) SCC — drop it before
      // coloring. Iterated to fixpoint, because each peel can expose the
      // next layer (a chain of singleton SCCs peels one layer per step,
      // each a cheap distinct+semi-join round instead of a full color
      // fixpoint + backward sweep outer round — the coloring algorithm's
      // chain-degeneracy). Trimmed vertices simply leave `rem`; the final
      // left-outer coalesce labels them with their own id, which IS their
      // SCC label.
      // One probe job decides whether the round trims at all: a vertex on
      // only ONE side of the remaining edge set (source-only or sink-only)
      // appears once in the union of the two distinct endpoint sets. On
      // graphs with nothing to peel (e.g. one dense SCC) the pre-pass
      // costs exactly this probe — no edge-frame rebuild.
      def trimmable(): Boolean = re.select(col("src").as("vid")).distinct()
        .unionAll(re.select(col("dst").as("vid")).distinct())
        .groupBy("vid").agg(count(lit(1)).as("n")).filter(col("n") === 1)
        .take(1).nonEmpty
      val didTrim = trimmable()
      if (didTrim) {
        var trimming = true
        while (trimming) {
          reRound += 1
          val keepV = re.select(col("src").as("vid")).distinct()
            .join(re.select(col("dst").as("vid")).distinct(), Seq("vid"))
          re = reMgr.cycle(
            re.join(keepV.select(col("vid").as("src")), Seq("src"), "left_semi")
              .join(keepV.select(col("vid").as("dst")), Seq("dst"), "left_semi")
              .select("src", "dst"), reRound)
          trimming = trimmable()
        }
        remRound += 1
        rem = remMgr.cycle(rem.join(
          re.select(col("src").as("vid")).unionAll(re.select(col("dst").as("vid")))
            .distinct(), Seq("vid"), "left_semi"), remRound)
      }
      if (didTrim && rem.take(1).isEmpty) { outer = maxIterV } // all singletons
      else {
      // -- forward max-color fixpoint, frontier-gated: only vertices whose
      // color changed last round send (every vertex sends once in round 1,
      // so each edge's initial color propagates; thereafter any increase
      // re-propagates — standard delta iteration for a monotone max).
      // Empty frontier == fixpoint, so the loop needs ONE frontier-sized
      // probe per round instead of a full-table checksum, and each round
      // joins only frontier-adjacent edges rather than the whole edge set.
      val cmgr = remMgr.sub()
      var colors = cmgr.cycle(
        rem.select(col("vid"), col("vid").as("color"), lit(true).as("_chg")), 0)
      var it = 1
      while (colors.filter(col("_chg")).take(1).nonEmpty) {
        val frontier = colors.filter(col("_chg"))
          .select(col("vid").as("src"), col("color"))
        val msgs = re.join(frontier, Seq("src"))
          .groupBy(col("dst").as("vid")).agg(max("color").as("inMax"))
        val next = colors.select("vid", "color").join(msgs, Seq("vid"), "left_outer")
          .select(col("vid"),
            greatest(col("color"), coalesce(col("inMax"), col("color"))).as("color"),
            (col("inMax").isNotNull && col("inMax") > col("color")).as("_chg"))
        colors = cmgr.cycle(next, it)
        it += 1
      }
      // -- backward reachability from color roots within same color --
      val colorsP = colors.select("vid", "color")
      // same-color edges, reversed (walk from dst back to src)
      val sameColorRev = re
        .join(colorsP.select(col("vid").as("src"), col("color").as("_c1")), Seq("src"))
        .join(colorsP.select(col("vid").as("dst"), col("color").as("_c2")), Seq("dst"))
        .filter(col("_c1") === col("_c2"))
        .select(col("dst").as("from"), col("src").as("to"))
      // Both sweep frames go through lineage-cutting managers: `nxt`
      // references BOTH the previous frontier and the whole reached set
      // (anti-join), so plain persist-without-truncation doubles the
      // analyzed plan per hop — exponential analysis time/heap on any
      // SCC with diameter over ~10 (a 12-cycle OOM'd an 8g driver on
      // plan strings before this; dense test graphs never hit it).
      val bmgr = remMgr.sub()
      val sameColorRevP = bmgr.persistOnly(sameColorRev)
      // interval 6: sweep plans only double per hop, so 2^6 plan nodes
      // between cuts stays trivial while short sweeps (dense graphs
      // converge in 2-3 hops) pay zero mid-loop checkpoint jobs
      val fmgr = remMgr.sub(interval = 6)
      val rmgr = remMgr.sub(interval = 6)
      var reached = rmgr.cycle(
        colorsP.filter(col("vid") === col("color")).select(col("vid"), col("color")), 0)
      var frontier = reached
      var bIt = 1
      var growing = true
      while (growing) {
        val nxt = sameColorRevP.join(
            frontier.select(col("vid").as("from"), col("color")), Seq("from"))
          .select(col("to").as("vid"), col("color"))
          .distinct()
          .join(reached.select("vid"), Seq("vid"), "left_anti")
        val nxtP = fmgr.cycle(nxt, bIt)
        growing = nxtP.take(1).nonEmpty
        if (growing) {
          reached = rmgr.cycle(reached.unionAll(nxtP), bIt)
          frontier = nxtP
        }
        bIt += 1
      }
      // kept, not persisted: `part` is a rename-only projection of
      // `reached`, so rmgr's close would uncache it via sameResult (see
      // IterationManager.finish); the cut also detaches it from the
      // sweep frames closed below
      val part = remMgr.keep(
        reached.select(col("vid"), col("color").as("component")))
      assignedParts += part
      remRound += 1; reRound += 1
      rem = remMgr.cycle(rem.join(part.select("vid"), Seq("vid"), "left_anti"), remRound)
      re = reMgr.cycle(
        re.join(part.select(col("vid").as("src")), Seq("src"), "left_anti")
          .join(part.select(col("vid").as("dst")), Seq("dst"), "left_anti")
          .select("src", "dst"),
        reRound)
      cmgr.close(); bmgr.close(); fmgr.close(); rmgr.close()
      outer += 1
      }
    }

    val assigned = assignedParts.reduceOption(_ unionAll _)
      .getOrElse(iv.limit(0).select(col("vid"), col("vid").as("component")))
    remMgr.finish(g.vertices.join(
      iv.join(assigned, Seq("vid"), "left_outer")
        .select(col(ID), coalesce(col("component"), col("vid")).as("component")),
      Seq(ID), "left_outer"))
  }

  /** Driver tail: simulates the exact distributed schedule on the
   * collected long-id edge set (see [[run]]). Vertices
   * the loop never assigns — trimmed singletons, isolates beyond the
   * peel, anything past the outer cap — are labeled with their own vid
   * by the same coalesce the distributed path uses. */
  private def runLocal(iv: DataFrame, e: DataFrame): DataFrame = {
    import scala.collection.mutable
    val edges0 = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(identity)
    val endpoints = edges0.iterator.flatMap(p => Iterator(p._1, p._2))
      .toArray.distinct.sorted
    val comp = mutable.HashMap.empty[Long, Long]
    // rem mirrors the distributed remainder; isolates never join an edge,
    // so tracking endpoint vids suffices (isolates are assigned own-vid by
    // the coloring round they participate in — which equals the coalesce)
    var rem: Set[Long] = endpoints.toSet
    var es = edges0
    var outer = 0
    def oneSided(ed: Array[(Long, Long)]): Boolean = {
      val s = ed.iterator.map(_._1).toSet
      val d = ed.iterator.map(_._2).toSet
      (s diff d).nonEmpty || (d diff s).nonEmpty
    }
    while (outer < maxIterV && rem.nonEmpty) {
      val didTrim = oneSided(es)
      if (didTrim) {
        while (oneSided(es)) {
          val s = es.iterator.map(_._1).toSet
          val d = es.iterator.map(_._2).toSet
          val keep = s intersect d
          es = es.filter(p => keep(p._1) && keep(p._2))
        }
        rem = rem intersect es.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
      }
      if (didTrim && rem.isEmpty) { outer = maxIterV }
      else {
        // max-color fixpoint (schedule-independent monotone max)
        val color = mutable.HashMap.empty[Long, Long]
        rem.foreach(v => color(v) = v)
        var changed = true
        while (changed) {
          changed = false
          es.foreach { case (s, d) =>
            if (color(s) > color(d)) { color(d) = color(s); changed = true }
          }
        }
        // backward reachability from every root within its color
        val radj = es.groupBy(_._2).map { case (d, b) => (d, b.map(_._1)) }
        val queue = mutable.Queue.empty[Long]
        rem.iterator.filter(v => color(v) == v).foreach { r =>
          comp(r) = r; queue.enqueue(r)
        }
        while (queue.nonEmpty) {
          val v = queue.dequeue()
          val c = comp(v)
          for (u <- radj.getOrElse(v, Array.empty[Long])
               if !comp.contains(u) && color(u) == c) {
            comp(u) = c; queue.enqueue(u)
          }
        }
        rem = rem.filterNot(comp.contains)
        es = es.filter(p => !comp.contains(p._1) && !comp.contains(p._2))
        outer += 1
      }
    }
    val spark = g.spark
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vid", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("component", org.apache.spark.sql.types.LongType)))
    val rel: java.util.List[org.apache.spark.sql.Row] = java.util.Arrays.asList(
      comp.toSeq.sortBy(_._1)
        .map { case (v, c) => org.apache.spark.sql.Row(v, c) }: _*)
    g.vertices.join(
      iv.join(broadcast(spark.createDataFrame(rel, schema)), Seq("vid"), "left_outer")
        .select(col(ID), coalesce(col("component"), col("vid")).as("component")),
      Seq(ID), "left_outer")
  }
}
