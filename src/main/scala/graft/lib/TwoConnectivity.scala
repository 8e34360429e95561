package graft.lib

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}
import graft.GraphFrame

/**
 * 2-connectivity family (engine extension): bridges (cut edges),
 * articulation points (cut vertices) and 2-edge-connected components of
 * the UNDERLYING SIMPLE UNDIRECTED graph — multi-edges and directions
 * collapse first, self-loops drop (a parallel pair u⇄v is ONE undirected
 * edge here, and a self-loop can never be a bridge).
 *
 * Distributed path (no DFS — DFS does not parallelize): a BFS spanning
 * forest plus non-tree-edge cover analysis, all equi-joins and hash
 * aggregations:
 *
 *  1. components via [[ConnectedComponents]]; each component's minimum id
 *     is its BFS root; depths by multi-source BFS over the undirected
 *     adjacency (diameter rounds); `parent(v)` = the minimum neighbor one
 *     level up — a deterministic rooted forest.
 *  2. ancestor sets by pointer doubling on `parent` (log₂(depth) rounds,
 *     each one self-join of the jump table + one jump⋈ancestor join;
 *     O(Σ depth(v)) rows — see the budget guard below).
 *  3. every NON-TREE edge (u,w) finds its LCA (max-depth common ancestor
 *     — one join of the two ancestor sets + one max), and COVERS the tree
 *     edges on the u→lca and w→lca paths (the ancestor rows strictly
 *     below the LCA). A tree edge (p,c) is covered iff some non-tree edge
 *     crosses the subtree(c) cut — so bridges = UNCOVERED TREE EDGES, and
 *     non-tree edges are never bridges (they close a cycle through the
 *     tree path by construction). This holds for BFS cross edges, not
 *     just back edges: a mark on child c is emitted exactly when one
 *     endpoint is inside subtree(c) and the LCA (hence the other
 *     endpoint's branch) is strictly above it.
 *  4. articulation (the BFS-tree subtlety the DFS lowpoint rule ignores —
 *     cross edges can connect SIBLING subtrees, which escape together or
 *     not at all): children of each vertex v are grouped by the aux
 *     edges {(c_u, c_w) : non-tree edge with lca v, branch children
 *     c_u ≠ c_w} (one more [[ConnectedComponents]] run over (parent,
 *     child) pairs), a child c ESCAPES iff some non-tree edge takes
 *     subtree(c) to an LCA strictly above v (min marked LCA depth <
 *     depth(v)); non-root v is an articulation point iff some child
 *     group has no escaping member, the root iff it has ≥ 2 child groups.
 *  5. 2-edge-connected components = connected components of the graph
 *     minus its bridges (labels = component-minimum original ids).
 *
 * Scale honesty: ancestor state is O(Σ depth(v)) = O(V·diam) worst case —
 * the same small-diameter envelope as the HyperANF / multi-source-BFS
 * family (web/social graphs: diam ≲ 30; a path graph is the adversarial
 * case). The guard computes Σ(depth+1) exactly after the BFS (one 1-row
 * action) and fails loudly above `setMaxAncestorRows` (0 disables;
 * docs/THRESHOLDS.md) instead of melting the shuffle. Below
 * `setSmallGraphThreshold` edges (default: the link-analysis threshold),
 * a bounded driver tail runs iterative Tarjan lowpoints — bridges,
 * articulation points and min-id 2ECC labels are graph INVARIANTS, so
 * the two paths agree exactly (no float, no tie ambiguity).
 */
class TwoConnectivity(g: GraphFrame) extends LocalTail {
  import GraphFrame.{ID, SRC, DST}

  private var maxAncestorRowsV: Long = 2000000000L

  /** Fail-loud budget on Σ(depth(v)+1) ancestor rows (0 disables). */
  def setMaxAncestorRows(n: Long): this.type = {
    require(n >= 0, s"maxAncestorRows must be >= 0: $n")
    maxAncestorRowsV = n; this
  }

  /** (ea, eb, is_bridge) over the canonical simple undirected edges. */
  def bridges(): DataFrame = runFor(Mode.Bridges)

  /** Every vertex + `is_articulation: boolean`. */
  def articulationPoints(): DataFrame = runFor(Mode.Articulation)

  /** Every vertex + `component` = min original id of its 2-edge-connected
   * component (bridge endpoints are in different 2ECCs; isolated vertices
   * are their own). */
  def twoEdgeComponents(): DataFrame = runFor(Mode.TwoEcc)

  /** Both readouts from ONE pipeline — for callers that need the bridges
   * AND the articulation points of the same graph. The expensive shared
   * state (components, BFS forest, ancestor sets, non-tree cover marks)
   * is computed once; the two readouts are cheap projections of it. A
   * separate `bridges()` + `articulationPoints()` pair pays the whole
   * superstep loop twice for identical intermediate frames. */
  def bridgesAndArticulationPoints(): (DataFrame, DataFrame) = {
    val r = runModes(Set(Mode.Bridges, Mode.Articulation))
    (r(Mode.Bridges), r(Mode.Articulation))
  }

  private object Mode extends Enumeration { val Bridges, Articulation, TwoEcc = Value }

  private def runFor(mode: Mode.Value): DataFrame = runModes(Set(mode))(mode)

  private def runModes(modes: Set[Mode.Value]): Map[Mode.Value, DataFrame] = {
    val results = gateUndirected(g)(runLocal(_, _, modes))(runDistributed(_, modes))
    results.map { case (m, result) =>
      m -> (if (m == Mode.Bridges)
        result.select(col("ea").as(SRC), col("eb").as(DST), col("is_bridge"))
      else result)
    }
  }

  // ---------------------------------------------------------------- local

  /** Iterative Tarjan (explicit stack — recursion would blow on long
   * chains): disc/low over the DFS forest of the canonical undirected
   * pairs of the collected raw edges ([[LocalTail.undirectedPairs]]),
   * rooted at vertex-table ids only (as the BFS forest is rooted at
   * vertices); bridge (p,c) iff low(c) > disc(p); articulation = root with
   * ≥2 DFS children or non-root with a child where low(c) ≥ disc(v); 2ECC =
   * union-find over non-bridge edges with min-id labels under the Spark
   * total order `ord`. Vertices touching no edge get their closed form
   * (not an articulation point, their own 2ECC) from the join-back fill.
   * Bounded by the edge-count threshold. */
  private def runLocal(e: DataFrame, ord: Ordering[Any],
      modes: Set[Mode.Value]): Map[Mode.Value, DataFrame] = {
    import scala.collection.mutable
    val idType = g.vertices.schema(ID).dataType
    val rows = e.collect()
    val edges = LocalTail.undirectedPairs(rows, ord)
    val eps = LocalTail.endpointIds(e, g, rows)
    // every vertex row's id (no job on a fromEdges graph, else one bounded
    // collect); above t vertex rows, the vertex-table endpoints
    val allIds = vertexIdsFor(g, Some(eps))
    val roots = allIds.getOrElse(eps.vids)
    val adj = mutable.HashMap.empty[Any, mutable.ArrayBuffer[Any]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
      adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
    }
    val disc = mutable.HashMap.empty[Any, Int]
    val low = mutable.HashMap.empty[Any, Int]
    val parent = mutable.HashMap.empty[Any, Any]
    val isArt = mutable.HashSet.empty[Any]
    val bridgeSet = mutable.HashSet.empty[(Any, Any)] // (child, parent)
    var time = 0
    val empty = mutable.ArrayBuffer.empty[Any]
    roots.foreach { root =>
      if (!disc.contains(root)) {
        var rootChildren = 0
        disc(root) = time; low(root) = time; time += 1
        val stack = mutable.Stack[(Any, Iterator[Any])](
          (root, adj.getOrElse(root, empty).iterator))
        while (stack.nonEmpty) {
          val (v, it) = stack.top
          if (it.hasNext) {
            val w = it.next()
            if (!disc.contains(w)) {
              parent(w) = v
              if (v.equals(root)) rootChildren += 1
              disc(w) = time; low(w) = time; time += 1
              stack.push((w, adj.getOrElse(w, empty).iterator))
            } else if (!parent.get(v).exists(_.equals(w))) {
              if (disc(w) < low(v)) low(v) = disc(w)
            }
          } else {
            stack.pop()
            parent.get(v).foreach { p =>
              if (low(v) < low(p)) low(p) = low(v)
              if (low(v) > disc(p)) bridgeSet += ((v, p))
              // non-root articulation rule; the root uses the child count
              if (!p.equals(root) && low(v) >= disc(p)) isArt += p
            }
          }
        }
        if (rootChildren >= 2) isArt += root
      }
    }
    def isBridge(a: Any, b: Any): Boolean = bridgeSet.contains((a, b)) || bridgeSet.contains((b, a))
    def perVertex(out: LocalTail.Out)(value: Any => Any): DataFrame =
      LocalTail.joinBack(g, roots.map(v => Row(v, value(v))), Seq(out), idOnly = true)(allIds)
    modes.iterator.map {
      case Mode.Bridges =>
        def idf(name: String) = StructField(name, idType, nullable = true)
        Mode.Bridges -> g.spark.createDataFrame(
          java.util.Arrays.asList(edges.map { case (a, b) => Row(a, b, isBridge(a, b)) }: _*),
          StructType(Seq(idf("ea"), idf("eb"),
            StructField("is_bridge", BooleanType, nullable = false))))
      case Mode.Articulation => Mode.Articulation ->
        perVertex(LocalTail.Out("is_articulation", BooleanType, lit(false)))(isArt.contains)
      case Mode.TwoEcc =>
        val uf = new UnionFind(ord)
        edges.foreach { case (a, b) => if (!isBridge(a, b)) uf.union(a, b) }
        Mode.TwoEcc -> perVertex(LocalTail.Out("component", idType, col(ID)))(uf.find)
    }.toMap
  }

  // ---------------------------------------------------------- distributed

  /** The distributed pipeline over the canonical simple undirected edges
   * (ea < eb) of the raw `(src, dst)` probe `e`, pinned here: every phase
   * re-reads them. */
  private def runDistributed(e: DataFrame, modes: Set[Mode.Value]): Map[Mode.Value, DataFrame] =
      IterationManager.scoped(g.spark) { mgr =>
    val und = mgr.persistLazy(e.filter(col(SRC) =!= col(DST))
      .select(least(col(SRC), col(DST)).as("ea"), greatest(col(SRC), col(DST)).as("eb"))
      .distinct())
    // one queue PER evolving frame: a cycle() frees the queue's older
    // frames, so dist and anc cycling through one queue would free each
    // other's live state (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    val mgrD = mgr.sub()
    val adj = mgr.persistLazy(
      und.select(col("ea").as("u"), col("eb").as("v"))
        .unionByName(und.select(col("eb").as("u"), col("ea").as("v"))))

    // 1. roots = per-component min id; multi-source BFS depths
    val cc = new ConnectedComponents(GraphFrame(g.vertices.select(col(ID)),
        und.select(col("ea").as(SRC), col("eb").as(DST))))
      .setUseLabelsAsComponents(true).run()
      .select(col(ID), col("component"))
    var dist = mgrD.cycle(cc.filter(col(ID) === col("component"))
      .select(col(ID).as("bv"), lit(0).as("bd")), 0)
    var round = 0
    var frontierEmpty = false
    var maxDepth = 0
    var ancRows = 0L
    while (!frontierEmpty) {
      round += 1
      // frontier expand + distinct + anti-join + union: a one-shuffle
      // min-agg spelling (fold cand into dist, groupBy min) was BUILT AND
      // MEASURED WORSE (+2-3 s on both forced-dist rows) — it re-shuffles
      // the whole settled set every round, where this spelling only
      // shuffles the small frontier and AQE broadcasts the anti-join
      val cand = dist.filter(col("bd") === round - 1)
        .join(adj, col("bv") === col("u"))
        .select(col("v").as("bv")).distinct()
        .join(dist, Seq("bv"), "left_anti")
        .select(col("bv"), lit(round).as("bd"))
      // frontier growth, max depth and the ancestor-row budget all FUSED
      // into the cut's own materializing job (r15, cycleObserved): the old
      // spelling paid a separate isEmpty action per round plus a one-row
      // stats job after the loop — half the BFS phase's driver jobs
      val (next, obs) = mgrD.cycleObserved(dist.unionByName(cand), round, Seq(
        count(when(col("bd") === round, 1)),
        coalesce(max(col("bd")), lit(0)),
        coalesce(sum(col("bd").cast("long")), lit(0L)) + count(lit(1))))
      frontierEmpty = obs(0).asInstanceOf[Number].longValue() == 0L
      maxDepth = obs(1).asInstanceOf[Number].intValue()
      ancRows = obs(2).asInstanceOf[Number].longValue()
      dist = next
    }

    // 2. deterministic parent forest + tree/non-tree split
    val parent = mgr.persistLazy(
      adj.join(dist.select(col("bv").as("u"), col("bd").as("du")), "u")
        .join(dist.select(col("bv").as("v"), col("bd").as("dv")), "v")
        .filter(col("du") === col("dv") - 1)
        .groupBy(col("v")).agg(min(col("u")).as("p")))
    val treeEdges = mgr.persistLazy(parent.select(
      least(col("p"), col("v")).as("ea"), greatest(col("p"), col("v")).as("eb"),
      col("v").as("child"), col("p").as("par")))
    val nt = und.join(treeEdges.select("ea", "eb"), Seq("ea", "eb"), "left_anti")

    // ancestor-row budget: Σ(depth+1), exact — observed on the last BFS
    // cut above, no separate action
    require(maxAncestorRowsV == 0L || ancRows <= maxAncestorRowsV,
      s"TwoConnectivity ancestor state needs $ancRows rows (Σ depth+1) — above the " +
        s"$maxAncestorRowsV budget. The BFS-forest construction is sized for " +
        "small-diameter graphs; raise setMaxAncestorRows if the cluster has the " +
        "shuffle headroom, or decompose the graph first (docs/THRESHOLDS.md).")

    // 3. ancestor sets by pointer doubling: anc_k = ancestors within
    // 2^k - 1 hops (self included), jump_k = the 2^k-th ancestor; the
    // unioned distance ranges are disjoint, so no dedup is needed
    var anc = mgr.cycle(dist.select(col("bv").as("av"), col("bv").as("aa")), 0)
    var jump = mgr.persistLazy(parent.select(col("v").as("jv"), col("p").as("jj")))
    val rounds = if (maxDepth <= 0) 0 else
      (64 - java.lang.Long.numberOfLeadingZeros(maxDepth.toLong)).toInt
    for (k <- 1 to rounds) {
      val grown = anc.unionByName(
        jump.join(anc, col("jj") === col("av"))
          .select(col("jv").as("av"), col("aa")))
      anc = mgr.cycle(grown, k)
      if (k < rounds) {
        jump = mgr.persistLazy(
          jump.as("x").join(jump.select(col("jv").as("yv"), col("jj").as("yj")),
            col("x.jj") === col("yv"))
          .select(col("x.jv").as("jv"), col("yj").as("jj")))
      }
    }
    val ancD = anc.join(dist.select(col("bv").as("aa"), col("bd").as("da")), "aa")

    // 4. per-non-tree-edge LCA + covered marks.
    // LINEAGE CUT on the unioned per-side ancestor rows (r15): downstream,
    // this frame is referenced by the LCA join (both sides), the covered
    // marks, the aux CC's probe/collects and the readout cuts — left lazy,
    // every one of those actions re-ANALYZED a tree holding multiple
    // copies of the whole ancestor pipeline even with the data cached
    // (CacheManager substitutes plans only after analysis). Measured:
    // 15-18 s of pure planning on the forced-distributed articulation row
    // collapsed to <1 s once the tree became one LogicalRDD leaf. Cycling
    // through mgr also frees the anc cut, whose only consumer this is.
    val sideU = nt.join(ancD, col("av") === col("ea"))
      .select(col("ea"), col("eb"), col("aa"), col("da"), lit("u").as("side"))
    val sideW = nt.join(ancD, col("av") === col("eb"))
      .select(col("ea"), col("eb"), col("aa"), col("da"), lit("w").as("side"))
    val sides = mgr.cycle(sideU.unionByName(sideW),
      // even round number => cycleAt's interval-2 cadence ALWAYS cuts here
      2 * (rounds + 1))
    // LCA from the CUT sides: common ancestors of the two endpoints carry
    // the same depth on both sides (da is a function of aa), so joining
    // the u-rows to the w-rows on (ea, eb, aa) and maxing da over the
    // matches is exactly the old sideU⋈sideW spelling
    val lca = sides.filter(col("side") === "u").select("ea", "eb", "aa", "da")
      .join(sides.filter(col("side") === "w").select(col("ea"), col("eb"), col("aa")),
        Seq("ea", "eb", "aa"))
      .groupBy("ea", "eb").agg(max(col("da")).as("ld"))
    val marked = mgr.persistLazy(
      sides.join(lca, Seq("ea", "eb")).filter(col("da") > col("ld")))
    val covered = marked.select(col("aa").as("child")).distinct()
    val bridgeEdges = treeEdges.join(covered, Seq("child"), "left_anti")
      .select(col("ea"), col("eb"), lit(true).as("is_bridge"))

    val readouts: Map[Mode.Value, DataFrame] = modes.iterator.map {
      case Mode.Bridges => Mode.Bridges ->
        und.join(bridgeEdges, Seq("ea", "eb"), "left_outer")
          .select(col("ea"), col("eb"),
            coalesce(col("is_bridge"), lit(false)).as("is_bridge"))

      case Mode.TwoEcc =>
        val nonBridge = und.join(bridgeEdges.select("ea", "eb"),
          Seq("ea", "eb"), "left_anti")
        Mode.TwoEcc -> new ConnectedComponents(GraphFrame(g.vertices.select(col(ID)),
            nonBridge.select(col("ea").as(SRC), col("eb").as(DST))))
          .setUseLabelsAsComponents(true).run()
          .select(col(ID), col("component"))

      case Mode.Articulation =>
        // child c escapes above its parent iff some crossing non-tree
        // edge reaches an LCA strictly above the parent
        val minEsc = marked.groupBy(col("aa").as("child")).agg(min(col("ld")).as("esc"))
        // branch children at depth ld+1 on each side; distinct guards the
        // (impossible on a tree, cheap to assert away) duplicate row
        val bu = marked.filter(col("side") === "u" && col("da") === col("ld") + 1)
          .select(col("ea"), col("eb"), col("aa").as("cu")).distinct()
        val bw = marked.filter(col("side") === "w" && col("da") === col("ld") + 1)
          .select(col("ea"), col("eb"), col("aa").as("cw")).distinct()
        val auxE = bu.join(bw, Seq("ea", "eb"))
        // group children of each parent by sibling-connecting aux edges.
        // Aux vertex identity = the CHILD id itself (r15): a child has
        // exactly ONE parent in the BFS forest, so (parent, child) ≡
        // child, and an aux edge only ever connects two branch children
        // of the SAME LCA — groups cannot leak across parents. Keying by
        // the original id replaces the old md5(parent)·md5(child) string
        // key, which forced CC through its non-integral surrogate-mint
        // path (a global row_number window + two edge-translation joins,
        // re-planned per CC-internal action — measured ~10 s of the
        // forced-distributed articulation row's 17 s). persistLazy: the
        // aux CC runs several actions (threshold probe, union-find
        // collects) over this ≤V-row frame.
        val auxV = treeEdges.select(col("child").as(ID),
          col("par"), col("child"))
        val auxEdges = mgr.persistLazy(
          auxE.select(col("cu").as(SRC), col("cw").as(DST)))
        val gid = new ConnectedComponents(GraphFrame(auxV.select(col(ID)), auxEdges))
          .setUseLabelsAsComponents(false).run()
          .join(auxV, Seq(ID))
          .select(col("par").as("p"), col("child"), col("component").as("gid"))
        val nodes = gid
          .join(minEsc, Seq("child"), "left_outer")
          .join(dist.select(col("bv").as("p"), col("bd").as("dp")), "p")
          .withColumn("escapes",
            coalesce(col("esc") < col("dp"), lit(false)))
        val perParent = nodes.groupBy(col("p"), col("gid"))
          .agg(max(col("escapes")).as("ge"), first(col("dp")).as("dp"))
          .groupBy(col("p"))
          .agg(sum(when(!col("ge"), 1L).otherwise(0L)).as("n_trapped"),
            count(lit(1)).as("n_groups"), first(col("dp")).as("dp"))
          .select(col("p").as(ID),
            when(col("dp") > 0, col("n_trapped") > 0)
              .otherwise(col("n_groups") >= 2).as("art"))
        Mode.Articulation -> g.vertices.select(col(ID))
          .join(perParent, Seq(ID), "left_outer")
          .select(col(ID), coalesce(col("art"), lit(false)).as("is_articulation"))
    }.toMap

    // every readout is cut/materialized self-contained BEFORE the shared
    // state is freed — finishAll closes mgr (and mgrD) after the last cut
    val keys = readouts.keys.toSeq
    keys.zip(mgr.finishAll(keys.map(readouts))).toMap
  }
}
