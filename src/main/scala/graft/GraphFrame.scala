package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * A graph represented as a pair of DataFrames: `vertices` (requires column
 * `id`) and `edges` (requires columns `src`, `dst`). Directed multigraph;
 * duplicate edges allowed. All other columns are user attributes.
 *
 * Data model follows the reference semantics
 * (reference: core/src/main/scala/org/graphframes/GraphFrame.scala:55-59)
 * but the implementation is written Spark-first for DataFrame execution:
 * every operator lowers to Catalyst logical plans (joins, aggregates,
 * generators) so predicate pushdown / column pruning / AQE apply.
 */
class GraphFrame private (
    @transient val vertices: DataFrame,
    @transient val edges: DataFrame,
    /** Referential-integrity contract: every edge endpoint is known to
     * exist in `vertices`. True by construction for [[GraphFrame.fromEdges]]
     * graphs, after a successful [[validated]], or asserted via
     * [[assumeEdgesReferenceVertices]]. When set, vertex-binding joins
     * whose only contribution is the `id` field (motif endpoint binding,
     * `triplets` on attribute-less vertices) are elided — the reference
     * left this optimization commented out as blocked on engine-side
     * indexing (reference PatternMatchSuite.scala:851-874); on Spark a
     * compile-time contract is all that's needed. */
    private[graft] val edgeEndpointsComplete: Boolean = false) extends Serializable {
  import GraphFrame._

  require(vertices.columns.contains(ID),
    s"Vertex DataFrame must have a column named '$ID'. Found: ${vertices.columns.mkString(",")}")
  require(edges.columns.contains(SRC) && edges.columns.contains(DST),
    s"Edge DataFrame must have columns '$SRC' and '$DST'. Found: ${edges.columns.mkString(",")}")

  def spark: SparkSession = vertices.sparkSession

  /** Column names of the vertex attribute table. */
  def vertexColumns: Array[String] = vertices.columns
  /** Column name → position map (reference GraphFrame.scala:388). */
  def vertexColumnMap: Map[String, Int] = vertexColumns.zipWithIndex.toMap
  /** Column names of the edge attribute table. */
  def edgeColumns: Array[String] = edges.columns
  /** Column name → position map (reference GraphFrame.scala:406). */
  def edgeColumnMap: Map[String, Int] = edgeColumns.zipWithIndex.toMap

  /** True when the id type is one of Byte/Short/Int/Long (fast path: no
   * surrogate ids needed for algorithms that emit Long components). */
  lazy val hasIntegralIdType: Boolean = {
    import org.apache.spark.sql.types._
    vertices.schema(ID).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
  }

  // ---------------------------------------------------------------------
  // Persistence
  // ---------------------------------------------------------------------

  def persist(level: StorageLevel = StorageLevel.MEMORY_AND_DISK): this.type = {
    vertices.persist(level); edges.persist(level); this
  }
  def cache(): this.type = persist()
  def unpersist(blocking: Boolean = false): this.type = {
    vertices.unpersist(blocking); edges.unpersist(blocking); this
  }

  // ---------------------------------------------------------------------
  // Validation
  // ---------------------------------------------------------------------

  /** Checks that ids are unique and that every edge endpoint exists in
   * `vertices`. Runs two Spark jobs; call explicitly (construction stays
   * lazy so huge graphs don't pay for it).
   */
  def validate(): Unit = {
    val cnts = vertices.agg(count(col(ID)).as("n"), countDistinct(col(ID)).as("d"))
      .head()
    require(cnts.getLong(0) == cnts.getLong(1),
      s"Vertex ids must be unique: ${cnts.getLong(0)} rows, ${cnts.getLong(1)} distinct ids")
    val dangling = edges.select(col(SRC).as(ID))
      .unionAll(edges.select(col(DST).as(ID)))
      .distinct()
      .join(vertices.select(ID), Seq(ID), "left_anti")
    val bad = dangling.take(1)
    require(bad.isEmpty, s"Edges reference missing vertex id: ${bad.mkString(",")}")
  }

  /** [[validate]], then return a graph carrying the verified
   * referential-integrity contract — motif endpoint binding on it can
   * elide vertex joins (see [[assumeEdgesReferenceVertices]]). */
  def validated(): GraphFrame = { validate(); assumeEdgesReferenceVertices }

  /** Assert (without checking) that every edge endpoint exists in
   * `vertices`. Operators may then skip inner joins against the vertex
   * table whose only semantic effect would be filtering dangling edges:
   * motif vertex binding and `triplets` synthesize `id`-only vertex
   * structs straight from the edge columns. If the assertion is false,
   * motifs can return rows whose endpoint vertices do not exist — use
   * [[validated]] to check first, or rely on `fromEdges` graphs where the
   * contract holds by construction. */
  def assumeEdgesReferenceVertices: GraphFrame =
    if (edgeEndpointsComplete) this else new GraphFrame(vertices, edges, true)

  /** True when the vertex table carries no attributes beyond `id` — a
   * vertex join then contributes nothing a bound endpoint column doesn't
   * already hold. */
  private[graft] lazy val idOnlyVertices: Boolean =
    vertices.columns.sameElements(Array(ID))

  /** Whether the vertex table's plan is the distinct endpoints of the edge
   * table's, as [[GraphFrame.fromEdges]] builds it: then edges collected
   * whole hold every vertex id, one per vertex row. `edgeEndpointsComplete`
   * alone is not enough — `filterEdges` and `validated()` keep it on graphs
   * with isolated vertices. Both analyzed plans are immutable, so the
   * `sameResult` comparison runs once per graph. */
  private[graft] lazy val verticesAreEndpoints: Boolean =
    edgeEndpointsComplete && vertices.queryExecution.analyzed.sameResult(
      fromEdges(edges).vertices.queryExecution.analyzed)

  // ---------------------------------------------------------------------
  // Structure operators
  // ---------------------------------------------------------------------

  /** One row per edge with struct columns (src, edge, dst) holding the full
   * source-vertex row, edge row, and destination-vertex row. */
  lazy val triplets: DataFrame = {
    if (edgeEndpointsComplete && idOnlyVertices) {
      // the endpoint structs hold only `id`, which the edge row already
      // carries — synthesize them instead of two joins (zero-join triplets)
      val t = vertices.schema(ID).dataType
      edges.select(
        struct(col(SRC).cast(t).as(ID)).as(SRC),
        nestAsCol(edges, EDGE),
        struct(col(DST).cast(t).as(ID)).as(DST))
    } else {
      val e = edges.select(nestAsCol(edges, EDGE))
      val s = vertices.select(nestAsCol(vertices, SRC))
      val d = vertices.select(nestAsCol(vertices, DST))
      e.join(s, col(s"$EDGE.$SRC") === col(s"$SRC.$ID"))
        .join(d, col(s"$EDGE.$DST") === col(s"$DST.$ID"))
        .select(SRC, EDGE, DST)
    }
  }

  /** Filter vertices by `cond`; edges incident to removed vertices are
   * dropped (two left_semi joins keep pushdown-friendly plans). */
  def filterVertices(cond: Column): GraphFrame = {
    val v2 = vertices.filter(cond)
    val vIds = v2.select(ID)
    val e2 = edges
      .join(vIds.withColumnRenamed(ID, SRC), Seq(SRC), "left_semi")
      .join(vIds.withColumnRenamed(ID, DST), Seq(DST), "left_semi")
      .select(edges.columns.map(c => col(GraphFrame.quoteName(c))).toIndexedSeq: _*)
    // both endpoints semi-joined against the surviving vertices, so the
    // referential-integrity contract is preserved (re-established, even)
    new GraphFrame(v2, e2, edgeEndpointsComplete)
  }
  def filterVertices(cond: String): GraphFrame = filterVertices(expr(cond))

  /** Filter edges by `cond`; all vertices kept. */
  def filterEdges(cond: Column): GraphFrame =
    new GraphFrame(vertices, edges.filter(cond), edgeEndpointsComplete)
  def filterEdges(cond: String): GraphFrame = filterEdges(expr(cond))

  /** Drop vertices that appear in no edge. */
  def dropIsolatedVertices(): GraphFrame = {
    val used = edges.select(explode(array(col(SRC), col(DST))).as(ID))
    new GraphFrame(vertices.join(used, Seq(ID), "left_semi"), edges,
      edgeEndpointsComplete)
  }

  /** Add the reversed copy of every edge (emulates an undirected graph). */
  def asUndirected(): GraphFrame = {
    val attrs = edges.columns.filter(c => c != SRC && c != DST)
      .map(c => col(GraphFrame.quoteName(c)))
    val fwd = edges.select((Seq(col(SRC), col(DST)) ++ attrs).toIndexedSeq: _*)
    val rev = edges.select(
      (Seq(col(DST).as(SRC), col(SRC).as(DST)) ++ attrs).toIndexedSeq: _*)
    new GraphFrame(vertices, fwd.unionAll(rev), edgeEndpointsComplete)
  }

  /** Flip the direction of every edge. */
  def asReversed(): GraphFrame = {
    val attrs = edges.columns.filter(c => c != SRC && c != DST)
      .map(c => col(GraphFrame.quoteName(c)))
    new GraphFrame(vertices, edges.select(
      (Seq(col(DST).as(SRC), col(SRC).as(DST)) ++ attrs).toIndexedSeq: _*),
      edgeEndpointsComplete)
  }

  // ---------------------------------------------------------------------
  // Degrees
  // ---------------------------------------------------------------------

  /** (id, outDegree) — map-side-combinable hash aggregation on src. */
  def outDegrees: DataFrame =
    edges.groupBy(col(SRC).as(ID)).agg(count(lit(1)).cast("int").as("outDegree"))

  /** (id, inDegree). */
  def inDegrees: DataFrame =
    edges.groupBy(col(DST).as(ID)).agg(count(lit(1)).cast("int").as("inDegree"))

  /** (id, degree) counting both endpoints of every edge. */
  def degrees: DataFrame =
    edges.select(explode(array(col(SRC), col(DST))).as(ID))
      .groupBy(ID).agg(count(lit(1)).cast("int").as("degree"))

  private def typedDegree(endpoints: Column, typeCol: String, outName: String,
      values: Seq[String]): DataFrame = {
    val exploded = edges.select(explode(endpoints).as(ID), col(typeCol))
    val piv = exploded.groupBy(ID)
    val pivoted =
      (if (values.nonEmpty) piv.pivot(typeCol, values) else piv.pivot(typeCol))
        .agg(count(lit(1)).cast("int"))
    // pivot column names come from DATA values — quote them literally, or
    // an edge-type value containing a dot breaks the struct packing
    val typeCols = pivoted.columns.filter(_ != ID)
    // na.fill resolves the names it is given with the parser too
    pivoted.na.fill(0, typeCols.map(GraphFrame.quoteName).toIndexedSeq)
      .select(col(ID), struct(
        typeCols.map(c => col(GraphFrame.quoteName(c))).toIndexedSeq: _*).as(outName))
  }

  /** Per-edge-type out-degree as one struct column `outDegrees`. Pass
   * `values` to skip the distinct-scan the pivot otherwise needs. */
  def typeOutDegree(typeCol: String, values: Seq[String] = Nil): DataFrame =
    typedDegree(array(col(SRC)), typeCol, "outDegrees", values)
  def typeInDegree(typeCol: String, values: Seq[String] = Nil): DataFrame =
    typedDegree(array(col(DST)), typeCol, "inDegrees", values)
  def typeDegree(typeCol: String, values: Seq[String] = Nil): DataFrame =
    typedDegree(array(col(SRC), col(DST)), typeCol, "degrees", values)

  // ---------------------------------------------------------------------
  // Surrogate integral ids (for algorithms that emit Long labels)
  // ---------------------------------------------------------------------

  /** Vertices with a surrogate Long id column [[GraphFrame.LONG_ID]].
   * Integral ids pass through (cast to Long); otherwise the surrogate is a
   * pure function of the id VALUE: `row_number` over a FIXED number of
   * hash buckets, interleaved as `rank * B + bucket`. Purity matters —
   * `monotonically_increasing_id` after a hash repartition (the previous
   * shape) depends on the runtime partition count, which AQE varies
   * across evaluations; `indexedEdges` re-evaluates this plan, and a
   * drifted second evaluation silently mismatched every surrogate,
   * splitting all components into singletons (the round-6
   * g_connected_components hash mismatch). The window shuffles by bucket
   * and sorts by id within each — the same cost class as the old
   * repartition+sort, with no global-sort bottleneck. Overflows only
   * past 2^47 vertices per bucket set (≈1.4e14 ids). The connected-
   * components driver tail mints the same surrogates on the driver
   * (`lib.ConnectedComponents.mintSurrogates`). */
  lazy val indexedVertices: DataFrame = {
    if (hasIntegralIdType) {
      vertices.select(col(ID).cast("long").as(LONG_ID), col(ID),
        nestAsCol(vertices, ATTR))
    } else {
      import org.apache.spark.sql.expressions.Window
      val buckets = SURROGATE_BUCKETS
      val b = pmod(xxhash64(col(ID)), lit(buckets))
      val rn = row_number().over(Window.partitionBy(b).orderBy(ID))
      vertices.select((rn.cast("long") * buckets + b).as(LONG_ID), col(ID),
        nestAsCol(vertices, ATTR))
    }
  }

  /** Edges with [[GraphFrame.LONG_SRC]] / [[GraphFrame.LONG_DST]] columns. */
  lazy val indexedEdges: DataFrame = {
    if (hasIntegralIdType) {
      edges.select(col(SRC).cast("long").as(LONG_SRC),
        col(DST).cast("long").as(LONG_DST), nestAsCol(edges, ATTR))
    } else {
      val idx = indexedVertices.select(col(LONG_ID), col(ID))
      edges.select(nestAsCol(edges, ATTR), col(SRC), col(DST))
        .join(idx.select(col(LONG_ID).as(LONG_SRC), col(ID).as(SRC)), SRC)
        .join(idx.select(col(LONG_ID).as(LONG_DST), col(ID).as(DST)), DST)
        .select(LONG_SRC, LONG_DST, ATTR)
    }
  }

  // ---------------------------------------------------------------------
  // Message passing + algorithms (builder entry points)
  // ---------------------------------------------------------------------

  def aggregateMessages: lib.AggregateMessages = new lib.AggregateMessages(this)
  def aggregateNeighbors: lib.AggregateNeighbors = new lib.AggregateNeighbors(this)
  def pregel: lib.Pregel = new lib.Pregel(this)

  def find(motif: String): DataFrame = pattern.MotifCompiler.find(this, motif)

  /** Motif search keeping only the named elements in `keep` (a subset of
   * the pattern's vertex/edge names; `_hop`/`_direction` are always
   * retained when the pattern produces them). Beyond a post-hoc
   * `.select`, the compiler uses `keep` for join elimination: on a graph
   * with the referential-integrity contract
   * ([[assumeEdgesReferenceVertices]], [[validated]], or any `fromEdges`
   * graph) a vertex name absent from `keep` never joins the vertex table
   * at all — `find("(u)-[e]->(v)", Seq("e"))` compiles to a bare edge
   * scan. The reference left exactly this commented out as future work
   * (reference PatternMatchSuite.scala:851-874). */
  def find(motif: String, keep: Seq[String]): DataFrame =
    pattern.MotifCompiler.find(this, motif, Some(keep))

  /** Reference-named entry point (reference GraphFrame.scala:659-674):
   * motif search with vertices that appear only in negated terms
   * augmented as positive standalone terms. This engine's [[find]] always
   * performs that augmentation, so this is the same compiled path. */
  def findAugmentedPatterns(motif: String): DataFrame = find(motif)

  /** Reference-named var-length expansion (reference
   * GraphFrame.scala:625-657): one motif per hop in [min, max], stacked
   * with `_hop`/`_pattern`/`_direction` metadata columns and ordered by
   * hop. An empty `direction` also stacks the reversed orientation
   * (`_direction = "in"`), the reference's undirected var-length form. */
  def findVarLengthPattern(src: String, name: String, min: Int, max: Int,
      direction: String, dst: String): DataFrame = {
    require(min >= 1 && max >= min,
      s"findVarLengthPattern: need 1 <= min <= max, got $min..$max")
    val out = (min to max).map { hop =>
      val p = s"($src)-[$name*$hop]->($dst)"
      find(p).withColumn("_hop", lit(hop))
        .withColumn("_pattern", lit(p)).withColumn("_direction", lit("out"))
    }
    val in =
      if (direction.isEmpty) (min to max).map { hop =>
        val p = s"($src)<-[$name*$hop]-($dst)"
        find(p).withColumn("_hop", lit(hop))
          .withColumn("_pattern", lit(p)).withColumn("_direction", lit("in"))
      } else Seq.empty
    (out ++ in).reduce(_.unionByName(_, allowMissingColumns = true))
      .orderBy("_hop", "_direction")
  }

  def bfs: lib.BFS = new lib.BFS(this)
  def connectedComponents: lib.ConnectedComponents = new lib.ConnectedComponents(this)
  def stronglyConnectedComponents: lib.StronglyConnectedComponents =
    new lib.StronglyConnectedComponents(this)
  def labelPropagation: lib.LabelPropagation = new lib.LabelPropagation(this)
  def pageRank: lib.PageRank = new lib.PageRank(this)
  def parallelPersonalizedPageRank: lib.ParallelPersonalizedPageRank =
    new lib.ParallelPersonalizedPageRank(this)
  def svdPlusPlus: lib.SVDPlusPlus = new lib.SVDPlusPlus(this)
  def shortestPaths: lib.ShortestPaths = new lib.ShortestPaths(this)

  /** Closest-seed (Voronoi) partition of the graph (engine extension):
   * every vertex is assigned to the seed with the minimum hop distance
   * along directed edges, ties to the smaller seed id. One multi-source
   * BFS ([[shortestPaths]] — all seeds propagate in the same superstep
   * loop, not one BFS per seed) plus a struct-min argmin aggregation;
   * vertices reaching no seed keep (null, null). Returns
   * (id, seed, dist). */
  def voronoi(seeds: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.functions._
    val sp = shortestPaths.landmarks(seeds).run()
    sp.select(col(GraphFrame.ID),
        explode_outer(col("distances")).as(Seq("_seed", "_d")))
      .groupBy(col(GraphFrame.ID))
      .agg(min(when(col("_d").isNotNull,
        struct(col("_d"), col("_seed")))).as("_m"))
      .select(col(GraphFrame.ID), col("_m._seed").as("seed"),
        col("_m._d").as("dist"))
  }

  def triangleCount: lib.TriangleCount = new lib.TriangleCount(this)
  def kCore: lib.KCore = new lib.KCore(this)
  /** K-truss decomposition (engine extension). */
  def kTruss: lib.KTruss = new lib.KTruss(this)
  /** Local clustering coefficient (engine extension). */
  def clusteringCoefficient: lib.ClusteringCoefficient =
    new lib.ClusteringCoefficient(this)
  /** ANF/HyperANF neighborhood function + effective diameter (engine
   * extension). */
  def neighborhoodFunction: lib.NeighborhoodFunction =
    new lib.NeighborhoodFunction(this)
  /** Link-prediction scores: CN / Jaccard / Adamic-Adar / preferential
   * attachment (engine extension). */
  def linkPrediction: lib.LinkPrediction = new lib.LinkPrediction(this)
  /** HITS hubs/authorities (this engine's extension; no reference
   * counterpart). */
  def hits: lib.Hits = new lib.Hits(this)
  /** Katz centrality (engine extension). */
  def katz: lib.Katz = new lib.Katz(this)

  def simRank: lib.SimRank = new lib.SimRank(this)

  /** SALSA stochastic hubs/authorities (engine extension). */
  def salsa: lib.Salsa = new lib.Salsa(this)

  /** Degree-discount influence-maximization seed selection (engine
   * extension). */
  def influenceMax: lib.InfluenceMax = new lib.InfluenceMax(this)

  def pprSweep: lib.PPRSweep = new lib.PPRSweep(this)

  def triadCensus: lib.TriadCensus = new lib.TriadCensus(this)

  /** Bridges / articulation points / 2-edge-connected components of the
   * underlying simple undirected graph (engine extension). */
  def twoConnectivity: lib.TwoConnectivity = new lib.TwoConnectivity(this)
  /** Eigenvector centrality (engine extension). */
  def eigenvector: lib.Eigenvector = new lib.Eigenvector(this)
  /** Minimum spanning forest — Borůvka on the undirected weighted view
   * (engine extension). */
  def minimumSpanningForest: lib.MinimumSpanningForest =
    new lib.MinimumSpanningForest(this)
  /** Brandes betweenness centrality (engine extension). */
  def betweenness: lib.Betweenness = new lib.Betweenness(this)
  /** Closeness + harmonic centrality (engine extension). */
  def closeness: lib.Closeness = new lib.Closeness(this)
  /** Per-vertex eccentricity over reachable out-distances (engine
   * extension). */
  def eccentricity: lib.Eccentricity = new lib.Eccentricity(this)
  def detectingCycles: lib.DetectingCycles = new lib.DetectingCycles(this)
  def maximalIndependentSet: lib.MaximalIndependentSet = new lib.MaximalIndependentSet(this)

  /** Maximal matching by locally-minimum md5 edge priorities (the
   * edge-centric Luby sibling of [[maximalIndependentSet]]). */
  def maximalMatching: lib.MaximalMatching = new lib.MaximalMatching(this)
  /** Greedy graph coloring by iterated Luby MIS (engine extension). */
  def greedyColoring: lib.GreedyColoring = new lib.GreedyColoring(this)
  /** Synchronous Louvain-style modularity local moving (engine
   * extension; deterministic integer-gain variant). */
  def louvain: lib.Louvain = new lib.Louvain(this)

  /** Newman modularity Q of a vertex partition, over the SIMPLE
   * UNDIRECTED canonicalization of this graph (self-loops dropped,
   * parallel/reciprocal edges collapsed, unit weight) — the same
   * canonicalization [[louvain]] optimizes. `communities` must map
   * every edge-endpoint `id` to a community value. With integer
   * degrees Q = (4m·Σ_c intra_c − Σ_c tot_c²) / (4m²): both sums are
   * exact Long integers (one inner join + two aggregations; exact up
   * to m ≈ 1.5e9 like [[lib.Louvain]]), so the only float operation is
   * the final division. Returns one row: (modularity, n_communities,
   * m_edges); `n_communities` counts communities holding at least one
   * edge endpoint (all mapped communities when the graph is edgeless). */
  def modularity(communities: DataFrame, labelCol: String = "community"): DataFrame = {
    val und = edges.select(col(SRC), col(DST))
      .filter(col(SRC).isNotNull && col(DST).isNotNull && col(SRC) =!= col(DST))
      .select(least(col(SRC), col(DST)).as("a"), greatest(col(SRC), col(DST)).as("b"))
      .distinct()
      .join(vertices.select(col(ID).as("a")), Seq("a"), "left_semi")
      .join(vertices.select(col(ID).as("b")), Seq("b"), "left_semi")
      .persist()
    val m = und.count()
    val lab = communities.select(col(ID), col(labelCol).as("_c"))
    if (m == 0) {
      und.unpersist(false)
      return lab.sparkSession.range(1).select(
        lit(0.0).as("modularity"),
        lit(lab.select("_c").distinct().count()).as("n_communities"),
        lit(0L).as("m_edges"))
    }
    val both = und
      .join(lab.select(col(ID).as("a"), col("_c").as("_ca")), Seq("a"))
      .join(lab.select(col(ID).as("b"), col("_c").as("_cb")), Seq("b"))
    val intra = both.filter(col("_ca") === col("_cb")).count()
    val u = und.select(col("a").as("s")).unionByName(und.select(col("b").as("s")))
    val tot2 = u.join(lab.select(col(ID).as("s"), col("_c")), Seq("s"))
      .groupBy("_c").agg(count(lit(1)).as("tot"))
      .agg(sum(col("tot") * col("tot")).as("t2"), count(lit(1)).as("nc"))
      .head()
    und.unpersist(false)
    val q = (4.0 * m * intra - tot2.getLong(0)) / (4.0 * m * m)
    lab.sparkSession.range(1).select(
      lit(q).as("modularity"),
      lit(tot2.getLong(1)).as("n_communities"),
      lit(m).as("m_edges"))
  }
  def randomWalks: rw.RandomWalks = new rw.RandomWalks(this)
  def randomWalkEmbeddings: embeddings.RandomWalkEmbeddings =
    new embeddings.RandomWalkEmbeddings(this)
  /** Reference-named alias (reference GraphFrame.scala:976). */
  def randomWalksBasedEmbedding: embeddings.RandomWalkEmbeddings =
    randomWalkEmbeddings

  /** Power iteration clustering, delegated to Spark ML (role of reference
   * GraphFrame.scala:894-930): returns (id, cluster) for every vertex that
   * appears in an edge. Weights default to 1.0 unless `weightCol` names an
   * edge column. `initMode` is Spark ML's: "random" (default, matches the
   * reference) or "degree" — degree init makes the whole run deterministic
   * (Spark ML's internal k-means seed is a class-name constant), which is
   * what makes a replayable oracle possible on separable fixtures. */
  def powerIterationClustering(k: Int, maxIter: Int = 20,
      weightCol: Option[String] = None,
      initMode: String = "random"): DataFrame = {
    val e = indexedEdges.select(col(LONG_SRC).as("src"), col(LONG_DST).as("dst"),
      weightCol.map(w => col(s"$ATTR.$w").cast("double")).getOrElse(lit(1.0)).as("weight"))
    val pic = new org.apache.spark.ml.clustering.PowerIterationClustering()
      .setK(k).setMaxIter(maxIter).setWeightCol("weight").setInitMode(initMode)
    val assignments = pic.assignClusters(e)
    indexedVertices
      .join(assignments, indexedVertices(LONG_ID) === assignments("id"))
      .select(indexedVertices(ID), col("cluster"))
  }

  /** Convert to a stock Spark GraphX `Graph[Row, Row]` over the surrogate
   * Long ids (interop path; reference vendors its own GraphX fork —
   * GraphFrame.scala:338-370 — while ours bridges to the public one). */
  def toGraphX: org.apache.spark.graphx.Graph[Row, Row] = {
    // null endpoints would otherwise silently mint surrogate 0 / NPE deep
    // inside GraphX — fail with the reference's exact contract instead
    // (reference GraphFrame.scala:338-355: SparkException wrapping an
    // IllegalArgumentException at materialization)
    val vs = indexedVertices.select(col(LONG_ID), col(ATTR), col(ID))
      .rdd.map { r =>
        if (r.isNullAt(2)) throw new IllegalArgumentException(
          s"Vertex ID cannot be null. Found null in column '$ID'.")
        (r.getLong(0), r.getStruct(1).asInstanceOf[Row])
      }
    val es = indexedEdges.select(col(LONG_SRC), col(LONG_DST), col(ATTR),
        col(s"$ATTR.$SRC"), col(s"$ATTR.$DST"))
      .rdd.map { r =>
        if (r.isNullAt(3) || r.isNullAt(4)) throw new IllegalArgumentException(
          s"Edge '$SRC' and '$DST' cannot be null.")
        org.apache.spark.graphx.Edge(
          r.getLong(0), r.getLong(1), r.getStruct(2).asInstanceOf[Row])
      }
    org.apache.spark.graphx.Graph(vs, es)
  }

  /** Deterministic vertex sample + induced subgraph (engine extension):
   * a vertex survives iff the leading 16 md5 bits of `seed|id` fall under
   * `fraction`·2^16 (the same draw as the pipeline's hashSample — no RNG
   * state, stable under retries/AQE, replayable by an external engine);
   * edges keep only endpoints that both survived. The standard dev-scale
   * subsample of a production graph: one narrow filter per table, no
   * shuffle, no collected state. */
  def sampleVertices(fraction: Double, seed: Long = 42L): GraphFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction must be in [0,1]: $fraction")
    val t = math.round(fraction * 65536.0).toInt
    def keep(c: Column): Column =
      conv(substring(md5(concat_ws("|", lit(seed), c.cast("string"))), 1, 4), 16, 10)
        .cast("int") < lit(t)
    GraphFrame(vertices.filter(keep(col(ID))),
      edges.filter(keep(col(SRC)) && keep(col(DST))))
  }

  /** Deterministic edge sample (same draw, keyed `seed|src|dst`); the
   * vertex table is unchanged. */
  def sampleEdges(fraction: Double, seed: Long = 42L): GraphFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction must be in [0,1]: $fraction")
    val t = math.round(fraction * 65536.0).toInt
    GraphFrame(vertices, edges.filter(
      conv(substring(md5(concat_ws("|", lit(seed), col(SRC).cast("string"),
        col(DST).cast("string"))), 1, 4), 16, 10).cast("int") < lit(t)))
  }

  /** Degree assortativity coefficient (Newman, "Assortative mixing in
   * networks", PRL 89.208701, 2002) over the SIMPLE UNDIRECTED
   * canonicalization (same as [[modularity]]). With integer degree
   * sums over the M edges — S1 = Σ(dᵢ+dⱼ), S2 = Σ(dᵢ²+dⱼ²),
   * SP = Σ dᵢdⱼ — the coefficient is the single float division
   * r = (4M·SP − S1²) / (2M·S2 − S1²); the sums run in DECIMAL(38,0)
   * so hub degrees up to ~10⁹ cannot silently overflow. Returns one
   * row (assortativity, m_edges); a degree-regular graph (zero
   * denominator) yields null. One degree aggregation + one edge→degree
   * join + one global aggregate — no driver state. */
  /** One-row edge reciprocity (engine extension): over the simple
   * directed graph (distinct src≠dst edges whose endpoints exist), the
   * fraction whose reverse edge is also present — the classic directed
   * mutuality metric. Both operands are exact counts; the division is
   * the single float op (same nearest-double path as a SQL replay).
   * Returns (reciprocity, m_mutual, m_edges); the empty graph yields a
   * null coefficient. One distinct + one self-semi-join — no driver
   * state beyond the two counts. */
  def reciprocity: DataFrame = {
    val e = edges.select(col(SRC), col(DST))
      .filter(col(SRC).isNotNull && col(DST).isNotNull && col(SRC) =!= col(DST))
      .distinct()
      .join(vertices.select(col(ID).as(SRC)), Seq(SRC), "left_semi")
      .join(vertices.select(col(ID).as(DST)), Seq(DST), "left_semi")
      .persist()
    val m = e.count()
    val mutual = e.as("x").join(e.as("y"),
      col(s"x.$SRC") === col(s"y.$DST") && col(s"x.$DST") === col(s"y.$SRC"),
      "left_semi").count()
    e.unpersist(false)
    val spark = vertices.sparkSession
    val r = if (m == 0) null
      else java.lang.Double.valueOf(mutual.toDouble / m.toDouble)
    spark.range(1).select(lit(r).cast("double").as("reciprocity"),
      lit(mutual).as("m_mutual"), lit(m).as("m_edges"))
  }

  /** One-row global transitivity (engine extension): 3·triangles /
   * wedges on the canonical undirected simple graph — equivalently
   * Σᵥ tri(v) / Σᵥ C(d(v), 2), since each triangle is counted at its
   * three corners. Triangle counts come from [[lib.TriangleCount]]
   * (inheriting the skew-adaptive path choice); wedge sums run in
   * DECIMAL(38,0) so hub degrees cannot silently overflow. Both
   * operands exact; one float division. Returns (transitivity,
   * n_triangles, n_wedges); a wedge-free graph yields null. */
  def transitivity: DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val triSum = new lib.TriangleCount(this).run()
      .agg(coalesce(sum(col("count")), lit(0L))).head().getLong(0)
    val canon = edges.filter(col(SRC).isNotNull && col(DST).isNotNull &&
        col(SRC) =!= col(DST))
      .select(least(col(SRC), col(DST)).as("a"), greatest(col(SRC), col(DST)).as("b"))
      .distinct()
      .join(vertices.select(col(ID).as("a")), Seq("a"), "left_semi")
      .join(vertices.select(col(ID).as("b")), Seq("b"), "left_semi")
    // sum d·(d−1) (always even) and halve exactly in BigDecimal — decimal
    // DIVISION inside the agg would widen the scale and invite rounding
    val wRow = canon.select(col("a").as("s")).unionByName(canon.select(col("b").as("s")))
      .groupBy("s").agg(count(lit(1)).cast(dec).as("d"))
      .agg(coalesce(sum(col("d") * (col("d") - 1)), lit(0).cast(dec))).head()
    val wedges = BigDecimal(wRow.getDecimal(0)) / 2
    val spark = vertices.sparkSession
    val t = if (wedges == 0) null
      else java.lang.Double.valueOf(triSum.toDouble / wedges.toDouble)
    spark.range(1).select(lit(t).cast("double").as("transitivity"),
      lit(triSum / 3).as("n_triangles"),
      lit(wedges.toLong).as("n_wedges"))
  }

  def assortativity: DataFrame = {
    val und = edges.select(col(SRC), col(DST))
      .filter(col(SRC).isNotNull && col(DST).isNotNull && col(SRC) =!= col(DST))
      .select(least(col(SRC), col(DST)).as("a"), greatest(col(SRC), col(DST)).as("b"))
      .distinct()
      .join(vertices.select(col(ID).as("a")), Seq("a"), "left_semi")
      .join(vertices.select(col(ID).as("b")), Seq("b"), "left_semi")
      .persist()
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val u = und.select(col("a").as("s")).unionByName(und.select(col("b").as("s")))
    val deg = u.groupBy("s").agg(count(lit(1)).cast(dec).as("d"))
    val spark = vertices.sparkSession
    val row = und
      .join(deg.select(col("s").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("s").as("b"), col("d").as("db")), Seq("b"))
      .agg(count(lit(1)).as("m"),
        sum(col("da") * col("db")).as("sp"),
        sum(col("da") + col("db")).as("s1"),
        sum(col("da") * col("da") + col("db") * col("db")).as("s2"))
      .head()
    und.unpersist(false)
    val m = row.getLong(0)
    if (m == 0)
      return spark.range(1).select(
        lit(null).cast("double").as("assortativity"), lit(0L).as("m_edges"))
    val bm = BigDecimal(m)
    val sp = row.getDecimal(1); val s1 = row.getDecimal(2); val s2 = row.getDecimal(3)
    val num = 4 * bm * sp - BigDecimal(s1) * BigDecimal(s1)
    val den = 2 * bm * s2 - BigDecimal(s1) * BigDecimal(s1)
    // num.toDouble / den.toDouble — two nearest-double conversions of
    // exact integers then one IEEE division, the same float path an
    // independent SQL engine takes (bit-identical replay)
    val r = if (den == 0) null
      else java.lang.Double.valueOf(num.toDouble / den.toDouble)
    spark.range(1).select(
      lit(r).cast("double").as("assortativity"), lit(m).as("m_edges"))
  }

  /** Categorical attribute assortativity (engine extension; Newman 2003's
   * mixing-by-discrete-characteristics coefficient) — homophily of a
   * vertex attribute over the canonical undirected simple graph:
   * r = (Σᵢeᵢᵢ − Σᵢaᵢ²)/(1 − Σᵢaᵢ²), where e is the category mixing
   * matrix and aᵢ its marginals. 1 = perfectly assortative, 0 = random
   * mixing, negative = disassortative (bipartite-like). Edges with a
   * null attribute on either endpoint drop.
   *
   * Exact-integer form (both-orientation counts Dᵢⱼ, total 2m; category
   * mass Sᵢ = ΣⱼDᵢⱼ): r = (2m·ΣDᵢᵢ − ΣSᵢ²)/((2m)² − ΣSᵢ²) — DECIMAL(38,0)
   * sums, one nearest-double division at the end, so a SQL replay is
   * bit-identical. Shape: two endpoint-attribute joins + one |categories|-
   * keyed aggregation; nothing scales with more than the edge count.
   * Returns (assortativity, m_edges, n_categories). */
  def attributeAssortativity(attrCol: String): DataFrame = {
    val attr = vertices
      .select(col(ID), col(GraphFrame.quoteName(attrCol)).as("_cat"))
      .filter(col("_cat").isNotNull)
    val und = edges.select(col(SRC), col(DST))
      .filter(col(SRC).isNotNull && col(DST).isNotNull && col(SRC) =!= col(DST))
      .select(least(col(SRC), col(DST)).as("a"), greatest(col(SRC), col(DST)).as("b"))
      .distinct()
      .join(attr.select(col(ID).as("a"), col("_cat").as("ca")), Seq("a"))
      .join(attr.select(col(ID).as("b"), col("_cat").as("cb")), Seq("b"))
      .persist()
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // both orientations: Dᵢⱼ symmetric with Σ = 2m
    val orient = und.select(col("ca").as("ci"), col("cb").as("cj"))
      .unionByName(und.select(col("cb").as("ci"), col("ca").as("cj")))
    val row = orient.groupBy("ci")
      .agg(count(lit(1)).cast(dec).as("s"),
        sum(when(col("ci") === col("cj"), 1L).otherwise(0L)).cast(dec).as("dii"))
      .agg(sum(col("s")).as("m2"), sum(col("dii")).as("diag"),
        sum(col("s") * col("s")).as("ss"), count(lit(1)).as("ncat"))
      .head()
    und.unpersist(false)
    val spark = vertices.sparkSession
    if (row.isNullAt(0))
      return spark.range(1).select(
        lit(null).cast("double").as("assortativity"),
        lit(0L).as("m_edges"), lit(0L).as("n_categories"))
    val m2 = BigDecimal(row.getDecimal(0))
    val diag = BigDecimal(row.getDecimal(1))
    val ss = BigDecimal(row.getDecimal(2))
    val num = m2 * diag - ss
    val den = m2 * m2 - ss
    val r = if (den == 0) null
      else java.lang.Double.valueOf(num.toDouble / den.toDouble)
    spark.range(1).select(
      lit(r).cast("double").as("assortativity"),
      lit((m2 / 2).toLongExact).as("m_edges"),
      lit(row.getLong(3)).as("n_categories"))
  }

  /** Community conductance (engine extension; the standard community-
   * quality score, Shi–Malik / Kannan–Vempala–Vetta): for each value of
   * a vertex attribute (a community assignment — Louvain labels, CC
   * components, a region column), over the canonical undirected simple
   * graph: φ(c) = cut(c) / min(vol(c), 2m − vol(c)), where cut counts
   * edges with exactly one endpoint in c and vol sums member degrees.
   * Low φ = well-separated community. Edges touching a null-attribute
   * vertex drop (same contract as [[attributeAssortativity]]).
   *
   * Shape: two endpoint-attribute joins, then ONE per-community
   * aggregation over both edge orientations (volume = row count, cut =
   * cross-community rows, internal = same-community rows / 2 — all
   * exact integers); the corpus total 2m rides a broadcast one-row
   * frame, and the single float division per community makes a SQL
   * replay bit-identical. Returns (community, volume, cut_edges,
   * internal_edges, conductance) — null φ when min(vol, 2m−vol) = 0. */
  def conductance(attrCol: String): DataFrame = {
    val attr = vertices
      .select(col(ID), col(GraphFrame.quoteName(attrCol)).as("_cat"))
      .filter(col("_cat").isNotNull)
    val und = edges.select(col(SRC), col(DST))
      .filter(col(SRC).isNotNull && col(DST).isNotNull && col(SRC) =!= col(DST))
      .select(least(col(SRC), col(DST)).as("a"), greatest(col(SRC), col(DST)).as("b"))
      .distinct()
      .join(attr.select(col(ID).as("a"), col("_cat").as("ca")), Seq("a"))
      .join(attr.select(col(ID).as("b"), col("_cat").as("cb")), Seq("b"))
    // both orientations via one explode (one pass over the joined edges,
    // not a self-union that recomputes the joins)
    val orient = und.select(explode(array(
        struct(col("ca").as("ci"), col("cb").as("cj")),
        struct(col("cb").as("ci"), col("ca").as("cj")))).as("_o"))
      .select(col("_o.ci").as("ci"), col("_o.cj").as("cj"))
      .persist() // feeds the per-community agg AND (via it) the 2m total
    val per = orient.groupBy(col("ci").as("community"))
      .agg(count(lit(1)).as("volume"),
        sum(when(col("ci") =!= col("cj"), 1L).otherwise(0L)).as("cut_edges"),
        (sum(when(col("ci") === col("cj"), 1L).otherwise(0L)) / 2)
          .cast("long").as("internal_edges"))
    val total = per.agg(sum(col("volume")).as("_m2"))
    per.crossJoin(broadcast(total))
      .select(col("community"), col("volume"), col("cut_edges"),
        col("internal_edges"),
        when(least(col("volume"), col("_m2") - col("volume")) === 0,
          lit(null).cast("double"))
          .otherwise(round(col("cut_edges") /
            least(col("volume"), col("_m2") - col("volume")), 6))
          .as("conductance"))
  }

  /** Rich-club coefficient sweep (engine extension): for each degree
   * threshold k in `ks`, the density of the subgraph induced by the
   * "club" of vertices with undirected simple degree > k —
   * φ(k) = 2·E_k / (N_k·(N_k−1)). A rising φ(k) means hubs
   * preferentially attach to each other (the rich-club effect).
   *
   * Shape: one degree aggregation over the canonical undirected simple
   * graph, then ONE constant fan-out of |ks| rows per vertex / edge
   * (explode of a literal array — no per-k rescans of the edge list)
   * into two grouped counts. Every operand is an exact integer; the
   * single float division happens once per output row, so a SQL engine
   * replays φ bit-identically. Clubs with fewer than two members yield
   * a null φ. Scale: two shuffles on (k, …) keys, both |ks|-bounded
   * multiples of the input — no driver state, no all-pairs anywhere. */
  def richClub(ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty, "richClub: need at least one degree threshold")
    val canon = edges.filter(col(SRC).isNotNull && col(DST).isNotNull &&
        col(SRC) =!= col(DST))
      .select(least(col(SRC), col(DST)).as("a"), greatest(col(SRC), col(DST)).as("b"))
      .distinct()
      .join(vertices.select(col(ID).as("a")), Seq("a"), "left_semi")
      .join(vertices.select(col(ID).as("b")), Seq("b"), "left_semi")
      .persist()
    val deg = canon.select(col("a").as("s")).unionByName(canon.select(col("b").as("s")))
      .groupBy("s").agg(count(lit(1)).as("d"))
    val kArr = array(ks.distinct.sorted.map(k => lit(k)): _*)
    val nk = deg.select(col("d"), explode(kArr).as("k"))
      .filter(col("d") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_k"))
    val ek = canon
      .join(deg.select(col("s").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("s").as("b"), col("d").as("db")), Seq("b"))
      .select(explode(kArr).as("k"), col("da"), col("db"))
      .filter(col("da") > col("k") && col("db") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("e_k"))
    // the grouped counts are |ks| rows — collect them (bounded by the
    // literal argument, cf. reciprocity's two counts), then emit the
    // φ rows from the driver so canon can be unpersisted eagerly
    val got = nk.join(ek, Seq("k"), "full")
      .select(col("k"), coalesce(col("n_k"), lit(0L)).as("n_k"),
        coalesce(col("e_k"), lit(0L)).as("e_k"))
      .collect()
      .map(r => r.getAs[Int]("k") -> (r.getAs[Long]("n_k"), r.getAs[Long]("e_k")))
      .toMap
    canon.unpersist(false)
    val spark = vertices.sparkSession
    import spark.implicits._
    ks.distinct.sorted.map { k =>
      val (n, e) = got.getOrElse(k, (0L, 0L))
      // 2E/(N(N−1)) in one IEEE division over exact integer operands —
      // the identical float path a SQL replay takes (callers round)
      val phi = if (n >= 2)
        Some(2.0 * e.toDouble / (n.toDouble * (n - 1).toDouble))
      else None
      (k, n, e, phi)
    }.toDF("k", "n_k", "e_k", "phi")
  }

  /** One-row graph profile (engine extension): vertex/edge counts,
   * distinct-edge and self-loop counts, in/out-degree extremes, mean
   * out-degree, and the isolated-vertex count — two aggregation passes
   * (one over edges, one semi-join for isolation), no collected state.
   * The first thing to run against an unfamiliar 100 TB graph. */
  def stats: DataFrame = {
    val eAgg = edges.agg(
      count(lit(1)).as("n_edges"),
      count_distinct(col(SRC), col(DST)).as("n_distinct_edges"),
      sum(when(col(SRC) === col(DST), 1L).otherwise(0L)).as("n_self_loops"))
    val maxOut = edges.groupBy(SRC).count()
      .agg(coalesce(max("count"), lit(0L)).as("max_out_degree"))
    val maxIn = edges.groupBy(DST).count()
      .agg(coalesce(max("count"), lit(0L)).as("max_in_degree"))
    val nV = vertices.agg(count(lit(1)).as("n_vertices"))
    val nIso = vertices.select(col(ID))
      .join(edges.select(col(SRC).as(ID)).unionAll(edges.select(col(DST).as(ID))),
        Seq(ID), "left_anti")
      .agg(count(lit(1)).as("n_isolated"))
    nV.crossJoin(eAgg).crossJoin(maxOut).crossJoin(maxIn).crossJoin(nIso)
      .withColumn("avg_out_degree",
        round(col("n_edges") / col("n_vertices"), 5))
  }

  /** Skew-aware join helper (reference GraphFrame.scala:1106-1126): keys of
   * `big` with frequency above `threshold` are joined via an explicit
   * broadcast of `small`, the long tail via a regular shuffle join, and the
   * two halves unioned. Prefer plain AQE skew handling; this is the manual
   * escape hatch. Full bounded-path matrix: docs/THRESHOLDS.md. */
  def skewedJoin(big: DataFrame, small: DataFrame, key: String,
      threshold: Long): DataFrame = {
    val hot = big.groupBy(key).count().filter(col("count") > threshold)
      .select(key).collect().map(_.get(0)).toSeq
    if (hot.isEmpty) big.join(small, key)
    else {
      val hotBig = big.filter(col(key).isInCollection(hot))
      val tailBig = big.filter(!col(key).isInCollection(hot))
      hotBig.join(broadcast(small), key).unionByName(tailBig.join(small, key))
    }
  }

  override def toString: String =
    s"GraphFrame(v:[${vertices.columns.mkString(",")}], e:[${edges.columns.mkString(",")}])"
}

object GraphFrame {
  /** Reserved column names. */
  val ID = "id"
  val SRC = "src"
  val DST = "dst"
  val EDGE = "edge"
  val WEIGHT = "weight"
  // internal
  private[graft] val ATTR = "attr"
  private[graft] val LONG_ID = "new_id"
  private[graft] val LONG_SRC = "new_src"
  private[graft] val LONG_DST = "new_dst"
  /** Hash buckets of the [[GraphFrame.indexedVertices]] surrogate mint. */
  private[graft] val SURROGATE_BUCKETS = 65536L

  def apply(vertices: DataFrame, edges: DataFrame): GraphFrame =
    new GraphFrame(vertices, edges)

  /** Eagerly free the executor storage behind an algorithm result (or any
   * frame derived from one). Results of the iterative algorithms are
   * lineage-cut into block-manager storage — self-contained, so no
   * CacheManager bookkeeping can invalidate them mid-query — which also
   * means `Dataset.unpersist` cannot free them. Left alone, the blocks
   * are reclaimed when the frame is garbage-collected (ContextCleaner);
   * long-lived drivers that loop over many algorithm calls can release
   * each result deterministically with this. The frame cannot be
   * recomputed afterwards. */
  def release(result: DataFrame): Unit = lib.IterationManager.release(result)

  /** Build a graph from edges only: the vertex set is derived as the
   * distinct union of endpoints. The derived set is NOT persisted here
   * (divergence from the reference's always-persist :1213-1240 — a
   * transient graph in a query sweep should not pin executor storage);
   * pass a [[StorageLevel]] to get the reference behavior when the graph
   * is reused across several algorithm calls. */
  def fromEdges(edges: DataFrame): GraphFrame = {
    val v = edges.select(col(SRC).as(ID))
      .unionAll(edges.select(col(DST).as(ID)))
      .distinct()
    // the vertex set IS the endpoint set — referential integrity holds by
    // construction, so motifs/triplets on this graph need no vertex joins
    new GraphFrame(v, edges, true)
  }

  /** [[fromEdges]] with the derived vertex set persisted at
   * `storageLevel` (reference GraphFrame.scala:1233-1240) — otherwise
   * every use of `vertices` re-runs the distinct-endpoints scan; callers
   * own the unpersist. */
  def fromEdges(edges: DataFrame, storageLevel: StorageLevel): GraphFrame = {
    val g = fromEdges(edges)
    g.vertices.persist(storageLevel)
    g
  }

  /** Pack all columns of `df` into a single struct column named `name`. */
  /** Backtick-quote a column name so `col()` resolves it LITERALLY —
   * unquoted, a vertex attribute named "a.b" parses as struct-field
   * access and either breaks analysis or grabs the wrong column
   * (reference guards the same via quoting, GraphFrame.scala:1363-1365 /
   * its dots-in-column-names suite rows). Embedded backticks escape by
   * doubling, per Spark's identifier rules. */
  private[graft] def quoteName(name: String): String =
    "`" + name.replace("`", "``") + "`"

  private[graft] def nestAsCol(df: DataFrame, name: String): Column =
    struct(df.columns.map(c => col(quoteName(c))).toIndexedSeq: _*).as(name)

  /** Build a GraphFrame from a stock GraphX graph with Long vertex ids
   * (inverse of [[GraphFrame.toGraphX]] for primitive-attribute graphs). */
  def fromGraphX[VD, ED](spark: SparkSession,
      graph: org.apache.spark.graphx.Graph[VD, ED])(
      implicit vdEnc: org.apache.spark.sql.Encoder[VD],
      edEnc: org.apache.spark.sql.Encoder[ED]): GraphFrame = {
    import org.apache.spark.sql.Encoders
    val v = spark.createDataset(graph.vertices.map { case (id, attr) => (id, attr) })(
      Encoders.tuple(Encoders.scalaLong, vdEnc)).toDF(ID, ATTR)
    val e = spark.createDataset(graph.edges.map(e => (e.srcId, e.dstId, e.attr)))(
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, edEnc)).toDF(SRC, DST, ATTR)
    new GraphFrame(v, e)
  }
}
