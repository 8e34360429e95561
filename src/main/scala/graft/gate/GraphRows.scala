package graft
package gate

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraphFrame.{ID, SRC, DST}
import GateFixtures._

/** Graph-operator gate rows (`g_`): the reference API, the algorithm library
 * and the graph examples, over the fixtures in [[GateFixtures]]. */
object GraphRows {

  // Rows whose oracle a twin reuses: a forced-distributed path, an
  // alternate source or a streaming replay of the same operator.
  private val gMotifMutual = GateRow("g_motif_mutual", ((s, dir) =>
      graphB(s, dir).find("(a)-[e]->(b); (b)-[e2]->(a)")
        .select(col(s"a.$ID").as("a_id"), col(s"b.$ID").as("b_id"))),
      s"""WITH e AS ($NE)
         |SELECT e1.src AS a_id, e1.dst AS b_id
         |FROM e e1 JOIN e e2 ON e2.src = e1.dst AND e2.dst = e1.src""".stripMargin)

  private val gCcNations = GateRow("g_cc_nations", ((s, dir) =>
      graphB(s, dir).connectedComponents.run().select(col(ID), col("component"))),
      s"""WITH RECURSIVE e AS ($NE),
         |u AS (SELECT src AS s, dst AS d FROM e UNION SELECT dst, src FROM e),
         |r AS (SELECT n_nationkey AS id, CAST(n_nationkey AS BIGINT) AS comp FROM nation
         |      UNION SELECT u.d, r.comp FROM r JOIN u ON u.s = r.id)
         |SELECT id, MIN(comp) AS component FROM r GROUP BY id""".stripMargin)

  private val gHashEmbeddings = GateRow("g_hash_embeddings", ((s, dir) =>
      // oracle: coverage + width only
      embeddings.HashEmbeddings.forGraph(graphB(s, dir), dim = 8, walkLength = 3)
        .select(col(ID), size(col("embedding")).as("dim"))),
      "SELECT CAST(n_nationkey AS VARCHAR) AS id, CAST(8 AS INT) AS dim FROM nation")

  private val gRmat = GateRow("g_rmat", ((s, dir) => // deterministic R-MAT generator: md5 draws
      // keyed (seed, edge, level), exact 60-bit integer thresholds —
      // the oracle replays every quadrant decision
      sources.GraphGenerators.rmat(s, scale = 6, numEdges = 200, seed = 7)),
      rmatSql)

  private val gIcSpread = GateRow("g_ic_spread", ((s, dir) => // deterministic Independent-Cascade
      // spread: md5 live-edge coins (dyadic p = exact threshold), BFS
      // levels over the live subgraph; the oracle replays every coin
      new lib.IndependentCascade(circulantGraph(s, dir))
        .p(0.5).hashSeed(9L).run(Seq(0, 12))),
      // live-edge replay: coin < p·2^60 per edge, then BFS min level from
      // the seed set over the surviving edges; the _dist row forces the
      // distributed rounds on the same replay
      icSpreadSql)

  private val gTemporalBfs = GateRow("g_temporal_bfs", ((s, dir) => {
      // earliest-arrival over temporal
      // edges (t >= arrival to traverse): plain BFS would overstate
      // reachability; the oracle walks the (vertex, time) state space.
      // Time formula (2·src + dst) % 7 + 1 (r13): leaves 15 of the 25
      // BFS-reachable vertices temporally UNREACHABLE — the old
      // (7·src + 3·dst) % 5 + 1 fixture reached everything, proving
      // nothing plain BFS wouldn't — and converges in 6 sweeps, not 25
      val g0 = circulantGraph(s, dir)
      val e = g0.edges.withColumn("time",
        (pmod(col(SRC) * 2 + col(DST), lit(7)) + 1).cast("double"))
      new lib.TemporalReachability(GraphFrame(g0.vertices, e))
        .source(0).startTime(0.0).timeCol("time").run()
    }),
      // (vertex, time) state walk — UNION dedups, edge times are 1..5 so
      // the recursion is finite; arrival = min over time-respecting paths;
      // the _dist row forces the label-correcting rounds on the same oracle
      temporalBfsSql)

  private val gSimrank = GateRow("g_simrank", ((s, dir) => // Jeh–Widom structural similarity, 3
      // synchronous rounds on the cycle+chords graph; sparse canonical
      // pair state, diagonal implicit — the oracle unrolls every round
      circulantGraph(s, dir).simRank.setC(0.8).maxIter(3).run()
        .select(col("a"), col("b"), round(col("simrank"), 5).as("simrank"))),
      simRankSql(3))

  private val gLouvain = GateRow("g_louvain", ((s, dir) =>
      // oracle: 4 unrolled synchronous rounds of
      // the exact-integer modularity-gain argmax (no floats anywhere in
      // the winner rule, so the replay is bit-exact)
      communityGraph(s, dir).louvain.run()
        .select(col(ID), col("community"))),
      s"""${louvainCtes(4)}
         |SELECT id, community FROM l4""".stripMargin)

  private val gBridges = GateRow("g_bridges", ((s, dir) => // cut edges of the tree+chords graph
      // (driver-tail Tarjan); oracle: per-edge removal reachability
      treeChordGraph(s, dir).twoConnectivity.bridges()),
      // removal-based connectivity oracles — deliberately NOT the engine's
      // BFS-forest/Tarjan constructions: a bridge is an edge whose removal
      // disconnects its endpoints, an articulation point a vertex whose
      // removal strands part of its (connected) component, 2ECC labels the
      // min id reachable over non-bridge edges
      bridgesSql("t.a AS src, t.b AS dst, (x.v IS NULL) AS is_bridge"))

  private val gArticulation = GateRow("g_articulation", ((s, dir) =>
      // cut vertices; oracle: per-vertex
      // removal reachability (connected fixture)
      treeChordGraph(s, dir).twoConnectivity.articulationPoints()),
      articulationSql)

  private val gTriangleCount = GateRow("g_triangle_count", ((s, dir) =>
      graphB(s, dir).triangleCount.run()
        .select(col(ID), col("count").as("tri_count"))),
      s"""WITH e0 AS ($NE),
         |canon AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e0),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |        FROM canon e1 JOIN canon e2 ON e2.a = e1.b
         |        JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b),
         |pv AS (SELECT v, count(*) AS c FROM (
         |   SELECT x AS v FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
         |   GROUP BY v)
         |SELECT n_nationkey AS id, COALESCE(c, 0) AS tri_count
         |FROM nation LEFT JOIN pv ON v = n_nationkey""".stripMargin)

  private val gMatching = GateRow("g_matching", ((s, dir) =>
      // maximal matching by locally-minimum md5
      // edge priorities (edge-centric Luby); the oracle replays each round
      graphB(s, dir).maximalMatching.seed(42L).run()),
      // 14 rounds ≥ the 25-vertex fixture's max matching size (12), and
      // post-fixpoint rounds are empty no-ops — never undershoots
      matchingSql(14, 42L))

  val rows: Seq[GateRow] = Seq(
    // --- graph structure / degrees ---
    GateRow("g_out_degrees", ((s, dir) =>
      graphA(s, dir).outDegrees
        .select(col(ID), col("outDegree").cast("long").as("out_degree"))),
      """SELECT 'c' || CAST(o_custkey AS VARCHAR) AS id, count(*) AS out_degree
        |FROM orders GROUP BY 1""".stripMargin),
    GateRow("g_in_degrees", ((s, dir) => {
      val li = load(s, dir, "lineitem")
      GraphFrame.fromEdges(li.select(
          concat(lit("s"), col("l_suppkey")).as(SRC),
          concat(lit("p"), col("l_partkey")).as(DST)))
        .inDegrees
        .select(col(ID), col("inDegree").cast("long").as("in_degree"))
    }),
      """SELECT 'p' || CAST(l_partkey AS VARCHAR) AS id, count(*) AS in_degree
        |FROM lineitem GROUP BY 1""".stripMargin),
    GateRow("g_degrees", ((s, dir) =>
      graphA(s, dir).degrees
        .select(col(ID), col("degree").cast("long").as("degree"))),
      """WITH e AS (SELECT 'c' || CAST(o_custkey AS VARCHAR) AS s,
        |                  'o' || CAST(o_orderkey AS VARCHAR) AS d FROM orders),
        |b AS (SELECT s AS id FROM e UNION ALL SELECT d FROM e)
        |SELECT id, count(*) AS degree FROM b GROUP BY 1""".stripMargin),
    GateRow("g_triplets", ((s, dir) =>
      graphB(s, dir).triplets
        .select(col(s"$SRC.$ID").as("src_id"), col(s"$SRC.n_name").as("src_name"),
          col(s"$DST.$ID").as("dst_id"))),
      s"""WITH e AS ($NE)
         |SELECT e.src AS src_id, n.n_name AS src_name, e.dst AS dst_id
         |FROM e JOIN nation n ON n.n_nationkey = e.src""".stripMargin),
    GateRow("g_filter_vertices", ((s, dir) =>
      // high-balance subgraph of graph A: customers with acctbal > 5000
      // (every order vertex survives the filter; edges to dropped customers go)
      graphA(s, dir).filterVertices(col("val") > 5000 || substring(col(ID), 1, 1) === "o")
        .edges.select(col(SRC), col(DST))),
      """SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |       'o' || CAST(o_orderkey AS VARCHAR) AS dst
        |FROM orders JOIN customer ON c_custkey = o_custkey
        |WHERE c_acctbal > 5000""".stripMargin),

    GateRow("g_graph_io", ((s, dir) => {
      // driver-gate coverage for the §2.1 source/sink surface: parquet
      // graph save/load round-trip, LDBC .e (space-delimited CSV) reader,
      // and the edge-list text loader — degrees from all three load paths
      // must coincide with the SQL oracle's degree count
      val g = graphB(s, dir)
      val tmp = s"/tmp/graft_io_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      sources.GraphLoader.saveParquetGraph(g, s"$tmp/pq")
      val gPq = sources.GraphLoader.parquetGraph(s, s"$tmp/pq")
      g.edges.select(concat_ws(" ", col(SRC), col(DST)).as("value"))
        .write.mode("overwrite").text(s"$tmp/graph.e")
      val eLdbc = sources.GraphLoader.ldbcEdges(s, s"$tmp/graph.e")
      val gTxt = sources.GraphLoader.edgeListFile(s, s"$tmp/graph.e")
      gPq.degrees.select(col(ID), col("degree").cast("long").as("deg_pq"))
        .join(GraphFrame.fromEdges(eLdbc).degrees
          .select(col(ID).cast("int").as(ID), col("degree").cast("long").as("deg_ldbc")), ID)
        .join(gTxt.degrees
          .select(col(ID).cast("int").as(ID), col("degree").cast("long").as("deg_txt")), ID)
    }),
      s"""WITH e AS ($NE),
         |d AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |   SELECT src AS id FROM e UNION ALL SELECT dst FROM e) GROUP BY id)
         |SELECT id, deg AS deg_pq, deg AS deg_ldbc, deg AS deg_txt FROM d""".stripMargin),

    // --- motifs ---
    GateRow("g_motif_undirected", ((s, dir) =>
      graphB(s, dir).find("(a)-[e]-(b)")
        .select(col(s"a.$ID").as("a_id"), col(s"b.$ID").as("b_id"), col("_direction"))),
      s"""WITH e AS ($NE)
         |SELECT src AS a_id, dst AS b_id, 'fwd' AS _direction FROM e
         |UNION ALL
         |SELECT dst, src, 'rev' FROM e""".stripMargin),
    GateRow("g_motif_varlen", ((s, dir) =>
      graphB(s, dir).find("(a)-[e*1..2]->(b)")
        .select(col(s"a.$ID").as("a_id"), col(s"b.$ID").as("b_id"), col("_hop"))),
      s"""WITH e AS ($NE)
         |SELECT src AS a_id, dst AS b_id, 1 AS _hop FROM e
         |UNION ALL
         |SELECT e1.src, e2.dst, 2 FROM e e1 JOIN e e2 ON e2.src = e1.dst""".stripMargin),
    gMotifMutual,
    GateRow("g_motif_bidi", ((s, dir) =>
      graphB(s, dir).find("(a)<-[e]->(b)")
        .select(col(s"a.$ID").as("a_id"), col(s"b.$ID").as("b_id"))),
      gMotifMutual.oracle),
    GateRow("g_motif_open_triangle", ((s, dir) =>
      graphB(s, dir).find("(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)")
        .select(col(s"a.$ID").as("a_id"), col(s"b.$ID").as("b_id"), col(s"c.$ID").as("c_id"))),
      s"""WITH e AS ($NE)
         |SELECT e1.src AS a_id, e1.dst AS b_id, e2.dst AS c_id
         |FROM e e1 JOIN e e2 ON e2.src = e1.dst
         |WHERE NOT EXISTS (SELECT 1 FROM e e3 WHERE e3.src = e1.src AND e3.dst = e2.dst)""".stripMargin),
    GateRow("g_motif_fixed2", ((s, dir) => // fixed-length chain expansion (a)-[e*2]->(b)
      graphB(s, dir).find("(a)-[e*2]->(b)")
        .select(col(s"a.$ID").as("a_id"), col(s"b.$ID").as("b_id"))),
      s"""WITH e AS ($NE)
         |SELECT e1.src AS a_id, e2.dst AS b_id
         |FROM e e1 JOIN e e2 ON e2.src = e1.dst""".stripMargin),
    GateRow("g_motif_undirected_fixed", ((s, dir) => // starred UNDIRECTED chain:
      // each hop matches either orientation, per-hop tags ';'-joined
      graphB(s, dir).find("(a)-[e*2]-(b)")
        .select(col(s"a.$ID").as("a_id"), col(s"_ab1.$ID").as("mid_id"),
          col(s"b.$ID").as("b_id"), col("_direction"))),
      s"""WITH e AS ($NE),
         |u AS (SELECT src AS x, dst AS y, 'fwd' AS d FROM e
         |      UNION ALL SELECT dst, src, 'rev' FROM e)
         |SELECT u1.x AS a_id, u1.y AS mid_id, u2.y AS b_id,
         |       u1.d || ';' || u2.d AS _direction
         |FROM u u1 JOIN u u2 ON u2.x = u1.y""".stripMargin),
    GateRow("g_type_degrees", ((s, dir) => {
      // per-edge-type pivot degrees on the customer→order graph typed by
      // order status (struct flattened for the driver canonicalizer)
      val ord = load(s, dir, "orders")
      val e = ord.select(concat(lit("c"), col("o_custkey")).as(SRC),
        concat(lit("o"), col("o_orderkey")).as(DST), col("o_orderstatus").as("status"))
      GraphFrame.fromEdges(e).typeOutDegree("status", Seq("F", "O", "P"))
        .select(col(ID), col("outDegrees.F").as("deg_f"),
          col("outDegrees.O").as("deg_o"), col("outDegrees.P").as("deg_p"))
    }),
      """SELECT 'c' || CAST(o_custkey AS VARCHAR) AS id,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS INT) AS deg_f,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS INT) AS deg_o,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS INT) AS deg_p
        |FROM orders GROUP BY 1""".stripMargin),
    GateRow("g_sampling_convolution", ((s, dir) => {
      // 1-hop mean-aggregation GNN layer over a deterministic 2-out-regular
      // chain graph on the embeddings table; sampleSize exceeds the fan-out
      // so the k-min sample keeps every neighbor and values are exact.
      // Edges come from id arithmetic (vec_ids are contiguous) semi-joined
      // back to existing ids — a narrow equi-join, not the single-partition
      // global-sort window an unpartitioned lead() would need at scale.
      import graft.expressions.ArrayDotProduct.dotProduct
      val emb = load(s, dir, "embeddings")
        .select(col("vec_id").as(ID), col("embedding").cast("array<double>").as("embedding"))
      val ids = emb.select(col(ID).as(DST))
      def shifted(k: Int) = emb.select(col(ID).as(SRC), (col(ID) + k).as(DST))
        .join(ids, Seq(DST), "left_semi")
      val e = shifted(1).unionAll(shifted(2)).select(col(SRC), col(DST))
      val g = GraphFrame(emb.select(ID), e)
      embeddings.Embeddings.samplingConvolution(g, emb, sampleSize = 16)
        .select(col(ID).as("vec_id"),
          size(col("conv_embedding")).as("conv_dim"),
          round(sqrt(dotProduct(col("conv_embedding"), col("conv_embedding"))), 4)
            .as("conv_norm"))
    }),
      """WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |e0 AS (SELECT ev.vec_id, ev.v,
        |    (SELECT x.vec_id FROM ev x WHERE x.vec_id = ev.vec_id + 1) AS n1,
        |    (SELECT x.vec_id FROM ev x WHERE x.vec_id = ev.vec_id + 2) AS n2
        |  FROM ev),
        |nb AS (SELECT e0.vec_id, e0.v, a.v AS v1, b.v AS v2
        |  FROM e0 LEFT JOIN e0 a ON a.vec_id = e0.n1
        |  LEFT JOIN e0 b ON b.vec_id = e0.n2),
        |m AS (SELECT vec_id, v,
        |  CASE WHEN v1 IS NULL AND v2 IS NULL THEN NULL
        |       WHEN v2 IS NULL THEN v1
        |       ELSE list_transform(range(1, 65), i -> (v1[i] + v2[i]) / 2.0)
        |  END AS mean FROM nb)
        |SELECT vec_id, CAST(128 AS INT) AS conv_dim,
        |  ROUND(sqrt(list_dot_product(v, v) +
        |    COALESCE(list_dot_product(mean, mean), 0.0)), 4) AS conv_norm
        |FROM m""".stripMargin),

    // --- message passing ---
    GateRow("g_aggregate_messages", ((s, dir) => {
      import graft.lib.AggregateMessages
      graphA(s, dir).aggregateMessages
        .sendToSrc(AggregateMessages.dst("val"))
        .sendToDst(AggregateMessages.src("val"))
        .agg(round(sum(AggregateMessages.msg), 2).as("total"))
    }),
      """WITH m AS (
        |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS id, o_totalprice AS v FROM orders
        |  UNION ALL
        |  SELECT 'o' || CAST(o_orderkey AS VARCHAR), c_acctbal
        |  FROM orders JOIN customer ON c_custkey = o_custkey)
        |SELECT id, ROUND(SUM(v), 2) AS total FROM m GROUP BY id""".stripMargin),

    // --- algorithms ---
    GateRow("g_connected_components", ((s, dir) => {
      val cc = graphA(s, dir).connectedComponents.run()
      cc.select(col(ID), min(ID).over(Window.partitionBy("component")).as("rep"))
    }),
      """SELECT 'c' || CAST(c_custkey AS VARCHAR) AS id,
        |       'c' || CAST(c_custkey AS VARCHAR) AS rep FROM customer
        |UNION ALL
        |SELECT 'o' || CAST(o_orderkey AS VARCHAR),
        |       'c' || CAST(o_custkey AS VARCHAR) FROM orders""".stripMargin),
    gCcNations,
    GateRow("g_cc_rc", ((s, dir) => {
      // randomized-contraction variant; labels canonicalized to the
      // component minimum so the recursive-CTE oracle applies
      val cc = graphB(s, dir).connectedComponents
        .setAlgorithm("randomized_contraction").run()
      cc.select(col(ID),
        min(col(ID).cast("long")).over(Window.partitionBy("component")).as("component"))
    }),
      gCcNations.oracle),
    gHashEmbeddings,
    GateRow("g_hash2vec", ((s, dir) => {
      // faithful Hash2Vec (context windows + signed hash lanes,
      // arXiv:1608.08940) over document token sequences; constant decay +
      // md5 lanes → integer lane sums the SQL oracle replays exactly
      val seqs = load(s, dir, "documents")
        .select(pipeline.Text.tokens(col("text")).as("seq"))
      embeddings.Hash2Vec.embedSequences(seqs, "seq", dim = 8, contextSize = 2,
          decay = "constant", doNorm = false, hashMode = "md5", seed = 42L)
        .select(col("id"),
          array_join(transform(col("vector"), x => x.cast("long").cast("string")), ",")
            .as("vec"))
    }),
      // replays embedSequences in md5 mode: lane = first 16 md5 bits of
      // 'i|tok|42' mod 8, sign = first-nibble parity of 's|tok|42';
      // constant decay, window ±2, plus the per-center zero sentinel
      s"""WITH t AS (SELECT $W AS w FROM documents),
         |pr AS (SELECT unnest(flatten([
         |    [{'cid': w[i], 'ln': 0, 'v': 0.0}] ||
         |    [{'cid': w[i],
         |      'ln': (${duckHex4("md5('i|' || w[j] || '|42')")}) % 8,
         |      'v': CASE WHEN (strpos('0123456789abcdef', substr(md5('s|' || w[j] || '|42'), 1, 1)) - 1) % 2 = 0
         |                THEN 1.0 ELSE -1.0 END}
         |     for j in range(greatest(i - 2, 1), least(i + 2, len(w)) + 1) if j != i]
         |    for i in range(1, len(w) + 1)])) AS p FROM t),
         |agg AS (SELECT p.cid AS id, p.ln AS ln, SUM(p.v) AS s FROM pr GROUP BY 1, 2),
         |m AS (SELECT id, map(list(ln ORDER BY ln), list(s ORDER BY ln)) AS mp FROM agg GROUP BY id)
         |SELECT id, array_to_string(list_transform(range(0, 8),
         |  x -> CAST(CAST(coalesce(element_at(mp, x)[1], 0) AS BIGINT) AS VARCHAR)), ',') AS vec
         |FROM m""".stripMargin),
    GateRow("g_scc_nations", ((s, dir) =>
      graphB(s, dir).stronglyConnectedComponents.run().select(col(ID), col("component"))),
      s"""WITH RECURSIVE e AS ($NE),
         |r AS (SELECT src AS s, dst AS d FROM e
         |      UNION SELECT r.s, e.dst FROM r JOIN e ON e.src = r.d)
         |SELECT n.n_nationkey AS id,
         |  CAST(COALESCE(MAX(CASE WHEN r2.s IS NOT NULL THEN r.d END), n.n_nationkey) AS BIGINT) AS component
         |FROM nation n
         |LEFT JOIN r ON r.s = n.n_nationkey
         |LEFT JOIN r r2 ON r2.s = r.d AND r2.d = n.n_nationkey
         |GROUP BY n.n_nationkey""".stripMargin),
    GateRow("g_shortest_paths", ((s, dir) =>
      graphB(s, dir).shortestPaths.landmarks(Seq(0)).run()
        .select(col(ID), element_at(col("distances"), lit(0)).as("dist"))),
      s"""WITH RECURSIVE e AS ($NE),
         |b AS (SELECT 0 AS id, 0 AS d
         |      UNION SELECT e.src, b.d + 1 FROM b JOIN e ON e.dst = b.id WHERE b.d < 50)
         |SELECT n_nationkey AS id, CAST(MIN(b.d) AS INT) AS dist
         |FROM nation LEFT JOIN b ON b.id = n_nationkey GROUP BY 1""".stripMargin),
    GateRow("g_voronoi", ((s, dir) => // closest-seed (Voronoi) partition: ONE
      // multi-source BFS for all seeds + struct-min argmin, ties to the
      // smaller seed id; unreachable vertices keep (null, null)
      graphB(s, dir).voronoi(Seq(0, 12))),
      // closest seed by (hop distance, seed id): the walk follows the same
      // direction convention as g_shortest_paths (dist from v TO the seed)
      s"""WITH RECURSIVE e AS ($NE),
         |sd AS (SELECT unnest([0, 12]) AS s),
         |b AS (SELECT s, s AS id, 0 AS d FROM sd
         |  UNION SELECT b.s, e.src, b.d + 1 FROM b
         |    JOIN e ON e.dst = b.id WHERE b.d < 50),
         |m AS (SELECT id, s, MIN(d) AS d FROM b GROUP BY 1, 2),
         |a AS (SELECT id, s, d,
         |  ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, s) AS rn FROM m)
         |SELECT n.n_nationkey AS id, a.s AS seed, CAST(a.d AS INT) AS dist
         |FROM nation n LEFT JOIN a ON a.id = n.n_nationkey AND a.rn = 1""".stripMargin),
    GateRow("g_katz", ((s, dir) => // damped all-walks centrality, 8 rounds
      graphB(s, dir).katz.alpha(0.05).beta(1.0).maxIter(8).run()
        .select(col(ID), round(col("katz"), 6).as("katz"))),
      katzSql(8, 0.05, 1.0)),
    GateRow("g_eigenvector", ((s, dir) => // raw power iteration, 10 rounds, one
      // final sup-norm division (top vertex exactly 1.0); the near-complete
      // trade graph has spectral gap, so 10 rounds are already stable
      graphB(s, dir).eigenvector.maxIter(10).run()
        .select(col(ID), round(col("eigenvector"), 6).as("eigenvector"))),
      eigenvectorSql(10)),
    GateRow("g_eigenvector_weighted", ((s, dir) => { // x ← AᵀWx with the same
      // deterministic integer weights as g_shortest_paths_weighted
      val g0 = graphB(s, dir)
      val we = g0.edges.withColumn("w",
        pmod(col(SRC) * 7 + col(DST) * 3, lit(5)) + lit(1))
      GraphFrame(g0.vertices, we).eigenvector.weightCol("w").maxIter(10).run()
        .select(col(ID), round(col("eigenvector"), 6).as("eigenvector"))
    }),
      eigenvectorSql(10, weighted = true)),
    GateRow("g_mst", ((s, dir) => { // unique MSF of the trade-count-weighted
      // nation graph: engine runs Borůvka (distributed) / Kruskal (tail)
      // over the (w, a, b) total key order; the oracle uses the CYCLE RULE
      // (edge in MSF iff endpoints not connected by strictly lighter-keyed
      // edges) — three algorithm families, one uniqueness theorem
      val base = load(s, dir, "lineitem")
        .join(load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(load(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("c_nationkey").as(SRC), col("s_nationkey").as(DST))
        .filter(col(SRC) =!= col(DST))
      val e = base.groupBy(least(col(SRC), col(DST)).as(SRC),
          greatest(col(SRC), col(DST)).as(DST))
        .agg(count(lit(1)).cast("double").as("w"))
      GraphFrame(load(s, dir, "nation").select(col("n_nationkey").as(ID)), e)
        .minimumSpanningForest.weightCol("w").run()
        .select(col(SRC), col(DST), col("weight"))
    }),
      // Cycle-rule MSF: an edge joins the unique MSF iff its endpoints are
      // NOT connected using only strictly smaller-keyed edges; k is the
      // rank of the engine's (w, a, b) total key order, so "k smaller"
      // IS "key smaller". Deliberately a different algorithm family from
      // both engine paths (Borůvka distributed, Kruskal tail).
      """WITH RECURSIVE base AS (
        |  SELECT LEAST(c.c_nationkey, s.s_nationkey) AS a,
        |         GREATEST(c.c_nationkey, s.s_nationkey) AS b
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  WHERE c.c_nationkey <> s.s_nationkey),
        |ek AS (SELECT a, b, CAST(COUNT(*) AS DOUBLE) AS w,
        |    ROW_NUMBER() OVER (ORDER BY COUNT(*), a, b) AS k
        |  FROM base GROUP BY a, b),
        |reach AS (
        |  SELECT k AS qk, a AS v FROM ek
        |  UNION
        |  SELECT r.qk, CASE WHEN x.a = r.v THEN x.b ELSE x.a END AS v
        |  FROM reach r JOIN ek x ON (x.a = r.v OR x.b = r.v) AND x.k < r.qk)
        |SELECT e.a AS src, e.b AS dst, e.w AS weight FROM ek e
        |WHERE NOT EXISTS (SELECT 1 FROM reach r WHERE r.qk = e.k AND r.v = e.b)""".stripMargin),
    GateRow("g_hits", ((s, dir) => // hubs/authorities, 5 L2-normalized rounds
      graphB(s, dir).hits.maxIter(5).run()
        .select(col(ID), round(col("hub"), 6).as("hub"),
          round(col("authority"), 6).as("authority"))),
      hitsSql(5)),
    GateRow("g_salsa", ((s, dir) => // SALSA: walk-normalized HITS (per-edge
      // 1/outdeg, 1/indeg weights fixed once), 5 rounds, L1 output
      graphB(s, dir).salsa.maxIter(5).run()
        .select(col(ID), round(col("hub"), 6).as("hub"),
          round(col("authority"), 6).as("authority"))),
      salsaSql(5)),
    GateRow("g_influence_seeds", ((s, dir) => // degree-discount influence max:
      // 5 sequential argmax picks (raw-score order, id tie-break) with
      // neighbor discounting; oracle unrolls every round
      communityGraph(s, dir).influenceMax.k(5).mode("degree").p(0.1).run()
        .select(col(ID), col("round"), round(col("score"), 6).as("score"))),
      influenceSql(5, 0.1)),
    GateRow("g_shortest_paths_weighted", ((s, dir) => { // Bellman-Ford extension:
      // deterministic integer weights derived from the endpoint keys
      val g0 = graphB(s, dir)
      val ge = GraphFrame(g0.vertices, g0.edges.withColumn("w",
        (col(SRC) * 7 + col(DST) * 3) % 5 + 1))
      ge.shortestPaths.landmarks(Seq(0)).weightCol("w").run()
        .select(col(ID), element_at(col("distances"), lit(0)).as("dist"))
    }),
      s"""WITH RECURSIVE e0 AS ($NE),
         |e AS (SELECT src, dst, (src * 7 + dst * 3) % 5 + 1 AS w FROM e0),
         |b AS (SELECT 0 AS id, 0 AS d
         |      UNION SELECT e.src, b.d + e.w FROM b JOIN e ON e.dst = b.id WHERE b.d < 150)
         |SELECT n_nationkey AS id, CAST(MIN(b.d) AS DOUBLE) AS dist
         |FROM nation LEFT JOIN b ON b.id = n_nationkey GROUP BY 1""".stripMargin),
    GateRow("g_pagerank", ((s, dir) =>
      graphB(s, dir).pageRank.resetProbability(0.15).maxIter(10).run()
        .vertices.select(col(ID), round(col("pagerank"), 5).as("pagerank"))),
      pagerankSql(10)),
    GateRow("g_pagerank_tol", ((s, dir) =>
      // tolerance mode: vertices vote to halt when their rank moves < tol;
      // the trade graph is near-regular (converges in 1 round), so the
      // harness builds an irregular cycle+chords graph over the 25 nations
      // (out-degrees 1-2, converges at round 25 for tol=1e-3). The oracle
      // unrolls the rounds AND replays the stop rule itself.
      circulantGraph(s, dir).pageRank.resetProbability(0.15).tol(0.001).run()
        .vertices.select(col(ID), round(col("pagerank"), 5).as("pagerank"))),
      pagerankTolSql(0.001, 40)),
    GateRow("g_sample_subgraph", ((s, dir) => {
      // deterministic md5 vertex sample + induced degrees (the dev-scale
      // subsample path; the oracle replays the 16-bit draw)
      val sg = graphB(s, dir).sampleVertices(0.5, 7L)
      sg.vertices.select(col(ID))
        .join(sg.degrees, Seq(ID), "left_outer")
        .select(col(ID), coalesce(col("degree"), lit(0L)).as("degree"))
    }),
      {
        val h = duckHex4("md5('7|' || CAST(n_nationkey AS VARCHAR))")
        s"""WITH e AS ($NE),
           |keep AS (SELECT n_nationkey AS id FROM nation WHERE ($h) < 32768),
           |se AS (SELECT e.src, e.dst FROM e
           |  JOIN keep a ON a.id = e.src JOIN keep b ON b.id = e.dst),
           |d AS (SELECT id, count(*) AS deg FROM (
           |  SELECT src AS id FROM se UNION ALL SELECT dst FROM se) GROUP BY id)
           |SELECT keep.id, COALESCE(deg, 0) AS degree
           |FROM keep LEFT JOIN d ON d.id = keep.id""".stripMargin
      }),
    GateRow("g_graph_stats", ((s, dir) => graphA(s, dir).stats),
      """WITH v AS (SELECT 'c' || CAST(c_custkey AS VARCHAR) AS id FROM customer
        |  UNION ALL SELECT 'o' || CAST(o_orderkey AS VARCHAR) FROM orders),
        |e AS (SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |  'o' || CAST(o_orderkey AS VARCHAR) AS dst FROM orders)
        |SELECT (SELECT count(*) FROM v) AS n_vertices,
        |  (SELECT count(*) FROM e) AS n_edges,
        |  (SELECT count(*) FROM (SELECT DISTINCT src, dst FROM e)) AS n_distinct_edges,
        |  (SELECT count(*) FROM e WHERE src = dst) AS n_self_loops,
        |  (SELECT MAX(c) FROM (SELECT count(*) AS c FROM e GROUP BY src)) AS max_out_degree,
        |  (SELECT MAX(c) FROM (SELECT count(*) AS c FROM e GROUP BY dst)) AS max_in_degree,
        |  (SELECT count(*) FROM v WHERE id NOT IN (SELECT src FROM e)
        |     AND id NOT IN (SELECT dst FROM e)) AS n_isolated,
        |  ROUND((SELECT count(*) FROM e) * 1.0 /
        |    (SELECT count(*) FROM v), 5) AS avg_out_degree""".stripMargin),
    GateRow("g_graph_dot", ((s, dir) => // Graphviz DOT export as line rows —
      // pure projections; the oracle rebuilds every line string
      sources.GraphLoader.toDotLines(graphB(s, dir), "trade")),
      s"""WITH e AS ($NE)
         |SELECT 0 AS section, '' AS sort_key, 'digraph trade {' AS line
         |UNION ALL
         |SELECT 1, CAST(n_nationkey AS VARCHAR),
         |  '  "' || n_nationkey || '";' FROM nation
         |UNION ALL
         |SELECT 2, src || ' ' || dst,
         |  '  "' || src || '" -> "' || dst || '";' FROM e
         |UNION ALL
         |SELECT 3, '', '}'""".stripMargin),
    GateRow("g_graphml", ((s, dir) => // GraphML export, same line-row contract
      // as DOT — XML-escaped ids, header/nodes/edges/footer sections
      sources.GraphLoader.toGraphMLLines(graphB(s, dir))),
      s"""WITH e AS ($NE)
         |SELECT 0 AS section, '0' AS sort_key,
         |  '<?xml version="1.0" encoding="UTF-8"?>' AS line
         |UNION ALL
         |SELECT 0, '1', '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">'
         |UNION ALL
         |SELECT 0, '2', '  <graph id="G" edgedefault="directed">'
         |UNION ALL
         |SELECT 1, CAST(n_nationkey AS VARCHAR),
         |  '    <node id="' || n_nationkey || '"/>' FROM nation
         |UNION ALL
         |SELECT 2, src || ' ' || dst,
         |  '    <edge source="' || src || '" target="' || dst || '"/>' FROM e
         |UNION ALL
         |SELECT 3, '0', '  </graph>'
         |UNION ALL
         |SELECT 3, '1', '</graphml>'""".stripMargin),
    GateRow("g_neg_sampling", ((s, dir) => // uniform non-edge draws for
      // embedding training: md5-keyed rank probes against the dense-rank
      // vertex table, anti-joined vs both edge directions; the oracle
      // replays every draw and the keep-first-k cut
      new embeddings.NegativeSampling(circulantGraph(s, dir))
        .setK(3).setSeed(42L).run()),
      {
        val h = duckHex15("md5('42|' || CAST(r.id AS VARCHAR) || '|' || CAST(j.i AS VARCHAR))")
        s"""WITH cv AS (SELECT n_nationkey AS id FROM nation),
           |ce AS (SELECT DISTINCT src, dst FROM (
           |    SELECT id AS src, (id + 7) % 25 AS dst FROM cv
           |    UNION ALL
           |    SELECT id, (3 * id + 1) % 25 FROM cv WHERE id % 3 = 0)
           |  WHERE src <> dst),
           |r AS (SELECT id, ROW_NUMBER() OVER (ORDER BY id) - 1 AS rnk FROM cv),
           |tot AS (SELECT COUNT(*) AS n FROM cv),
           |probes AS (SELECT r.id AS src, j.i AS draw,
           |    ($h) % tot.n AS cr
           |  FROM r CROSS JOIN tot CROSS JOIN range(1, 11) j(i)),
           |cand AS (SELECT p.src, p.draw, r2.id AS dst
           |  FROM probes p JOIN r r2 ON r2.rnk = p.cr WHERE r2.id <> p.src),
           |rej AS (SELECT src, dst FROM ce UNION SELECT dst, src FROM ce),
           |ne AS (SELECT c.src, c.dst, MIN(c.draw) AS draw FROM cand c
           |  LEFT JOIN rej ON rej.src = c.src AND rej.dst = c.dst
           |  WHERE rej.src IS NULL GROUP BY 1, 2)
           |SELECT src, dst, CAST(draw AS INT) AS draw FROM (
           |  SELECT src, dst, draw,
           |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY draw, dst) AS rn FROM ne)
           |WHERE rn <= 3""".stripMargin
      }),
    gRmat,
    GateRow("g_rmat_source", ((s, dir) => // the SAME graph through the DSv2
      // table provider (range-sliced planInputPartitions, JVM-side md5
      // replay) — one oracle pins both generation paths to each other
      s.read.format("graft.rmat").option("scale", 6).option("numEdges", 200)
        .option("seed", 7).option("numPartitions", 4).load()),
      // same oracle: the DSv2 provider must produce the identical graph
      gRmat.oracle),
    GateRow("g_triangle_list", ((s, dir) => // every triangle ONCE via
      // (degree, id)-ordered edge orientation — listing, not counting
      lib.Cliques.triangles(graphB(s, dir))),
      // naive id-ordered enumeration over the canonical undirected trade
      // edges — deliberately NOT the engine's degree-ordered orientation
      s"""WITH e AS ($NE),
         |ue AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         |  FROM e WHERE src <> dst)
         |SELECT e1.a AS v1, e1.b AS v2, e2.b AS v3
         |FROM ue e1
         |JOIN ue e2 ON e2.a = e1.a AND e2.b > e1.b
         |JOIN ue e12 ON e12.a = e1.b AND e12.b = e2.b""".stripMargin),
    GateRow("g_cliques4", ((s, dir) => // 4-clique listing by ordered extension
      // of the oriented triangles; output id-sorted tuples
      lib.Cliques.cliques4(graphB(s, dir))),
      s"""WITH e AS ($NE),
         |ue AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         |  FROM e WHERE src <> dst)
         |SELECT e1.a AS v1, e1.b AS v2, e2.b AS v3, e3.b AS v4
         |FROM ue e1
         |JOIN ue e2 ON e2.a = e1.a AND e2.b > e1.b
         |JOIN ue e12 ON e12.a = e1.b AND e12.b = e2.b
         |JOIN ue e3 ON e3.a = e1.a AND e3.b > e2.b
         |JOIN ue e13 ON e13.a = e1.b AND e13.b = e3.b
         |JOIN ue e23 ON e23.a = e2.b AND e23.b = e3.b""".stripMargin),
    gIcSpread,
    GateRow("g_ic_spread_dist", ((s, dir) => // the DISTRIBUTED live-edge BFS
      // rounds forced (threshold 0) on the SAME coin-replay oracle — the
      // spread is a deterministic function of the coins, so the driver
      // tail and the distributed path must agree exactly
      new lib.IndependentCascade(circulantGraph(s, dir))
        .p(0.5).hashSeed(9L).setSmallGraphThreshold(0)
        .run(Seq(0, 12))),
      gIcSpread.oracle, isolated = true),
    gTemporalBfs,
    GateRow("g_temporal_bfs_dist", ((s, dir) => { // the label-correcting
      // DISTRIBUTED rounds forced (threshold 0) on the SAME oracle —
      // earliest arrival is the unique monotone fixpoint, and the tail is
      // level-synchronous, so the paths agree even under a maxIter bound
      val g0 = circulantGraph(s, dir)
      val e = g0.edges.withColumn("time",
        (pmod(col(SRC) * 2 + col(DST), lit(7)) + 1).cast("double"))
      new lib.TemporalReachability(GraphFrame(g0.vertices, e))
        .source(0).startTime(0.0).timeCol("time")
        .setSmallGraphThreshold(0).run()
    }),
      gTemporalBfs.oracle, isolated = true),
    GateRow("g_pagerank_weighted", ((s, dir) => {
      // mass distributed proportionally to a deterministic edge weight
      // (same synthesized weights as g_shortest_paths_weighted)
      val g0 = circulantGraph(s, dir)
      val e = g0.edges.withColumn("w",
        (pmod(col(SRC) * 7 + col(DST) * 3, lit(5)) + 1).cast("double"))
      GraphFrame(g0.vertices, e).pageRank
        .resetProbability(0.15).maxIter(10).weightCol("w").run()
        .vertices.select(col(ID), round(col("pagerank"), 5).as("pagerank"))
    }),
      pagerankWeightedSql(10)),
    GateRow("g_edge_betweenness", ((s, dir) => // Girvan–Newman edge credit; the
      // oracle uses the PAIR-COUNTING identity (σ_su·σ_vt/σ_st summed over
      // pairs with d(s,u)+1+d(v,t) = d(s,t)) — a different formulation
      // from the engine's Brandes edge-dependency accumulation
      circulantGraph(s, dir).betweenness.runEdges()
        .select(col(SRC), col(DST),
          round(col("edge_betweenness"), 5).as("edge_betweenness"))),
      // Pair-counting edge betweenness: edge (u,v) lies on an s→t shortest
      // path iff d(s,u)+1+d(v,t) = d(s,t), contributing σ_su·σ_vt/σ_st —
      // deliberately NOT the engine's Brandes dependency recursion
      s"""WITH RECURSIVE $CIRC_DIST_SIGMA,
         |eb AS (SELECT x.src, x.dst, SUM(su.sig * vt.sig / st.sig) AS b
         |  FROM ce x
         |  JOIN cdist dsu ON dsu.v = x.src
         |  JOIN csig su ON su.s = dsu.s AND su.v = x.src
         |  JOIN cdist dvt ON dvt.s = x.dst
         |  JOIN csig vt ON vt.s = x.dst AND vt.v = dvt.v
         |  JOIN cdist dst2 ON dst2.s = dsu.s AND dst2.v = dvt.v
         |  JOIN csig st ON st.s = dsu.s AND st.v = dvt.v
         |  WHERE dsu.d + 1 + dvt.d = dst2.d
         |  GROUP BY x.src, x.dst)
         |SELECT e.src, e.dst, ROUND(COALESCE(eb.b, 0.0), 5) AS edge_betweenness
         |FROM ce e LEFT JOIN eb ON eb.src = e.src AND eb.dst = e.dst""".stripMargin),
    GateRow("g_betweenness", ((s, dir) =>
      // exact Brandes on the cycle+chords graph (real path structure — the
      // trade graph is near-complete and would score ~flat); oracle
      // enumerates the shortest-path DAG with recursive CTEs
      circulantGraph(s, dir).betweenness.run()
        .select(col(ID), round(col("betweenness"), 5).as("betweenness"))),
      betweennessSql),
    GateRow("g_closeness", ((s, dir) =>
      circulantGraph(s, dir).closeness.run()
        .select(col(ID), round(col("closeness"), 5).as("closeness"),
          round(col("harmonic"), 5).as("harmonic"))),
      closenessSql),
    GateRow("g_eccentricity", ((s, dir) =>
      circulantGraph(s, dir).eccentricity.run()
        .select(col(ID), col("eccentricity"))),
      s"""WITH RECURSIVE $CIRC_DIST_SIGMA,
         |ec AS (SELECT s, MAX(d) AS m FROM cdist GROUP BY s)
         |SELECT n_nationkey AS id, CAST(COALESCE(m, 0) AS INT) AS eccentricity
         |FROM nation LEFT JOIN ec ON ec.s = n_nationkey""".stripMargin),
    GateRow("g_betweenness_weighted", ((s, dir) => { // Dijkstra-Brandes: integer
      // weights keep the strict dist(u)+w = dist(v) DAG test and every
      // CTE sum exact in double
      val g0 = circulantGraph(s, dir)
      val ge = GraphFrame(g0.vertices, g0.edges.withColumn("w",
        ((col(SRC) * 7 + col(DST) * 3) % 5 + 1).cast("double")))
      ge.betweenness.weightCol("w").run()
        .select(col(ID), round(col("betweenness"), 5).as("betweenness"))
    }),
      // weighted Brandes identity over the weighted circulant: cwalk dedups
      // (s, v, d) triples (weights 1..5 bound d <= 130 so the recursion is
      // finite without a hop column); cspw enumerates DAG paths exactly
      s"""WITH RECURSIVE $CIRC_DIST_W,
        |cspw AS (SELECT id AS s, id AS v, CAST(0 AS DOUBLE) AS d FROM cv
        |  UNION ALL SELECT p.s, ce.dst, p.d + ce.w FROM cspw p
        |    JOIN ce ON ce.src = p.v
        |    JOIN cdistw dd ON dd.s = p.s AND dd.v = ce.dst AND dd.d = p.d + ce.w),
        |csigw AS (SELECT s, v, CAST(COUNT(*) AS DOUBLE) AS sig
        |  FROM cspw GROUP BY s, v),
        |btw AS (SELECT sv.v AS id, SUM(sv.sig * vt.sig / st.sig) AS b
        |  FROM csigw sv
        |  JOIN csigw vt ON vt.s = sv.v
        |  JOIN csigw st ON st.s = sv.s AND st.v = vt.v
        |  JOIN cdistw d1 ON d1.s = sv.s AND d1.v = sv.v
        |  JOIN cdistw d2 ON d2.s = vt.s AND d2.v = vt.v
        |  JOIN cdistw d3 ON d3.s = st.s AND d3.v = st.v
        |  WHERE sv.v <> sv.s AND sv.v <> vt.v AND sv.s <> vt.v
        |    AND d1.d + d2.d = d3.d
        |  GROUP BY 1)
        |SELECT n_nationkey AS id, ROUND(COALESCE(b, 0), 5) AS betweenness
        |FROM nation LEFT JOIN btw ON btw.id = n_nationkey""".stripMargin),
    GateRow("g_betweenness_sampled", ((s, dir) =>
      // Brandes estimator from 9 md5-ordered sources with the n/k
      // scale-up; the oracle restricts the shortest-path-DAG triple join
      // to the same landmark set and applies the same 25/9 factor
      circulantGraph(s, dir).betweenness.sampleSources(9).run()
        .select(col(ID), round(col("betweenness"), 5).as("betweenness"))),
      s"""WITH RECURSIVE $CIRC_DIST_SIGMA,
         |lm AS (SELECT id FROM cv ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 9),
         |btw AS (SELECT sv.v AS id, SUM(sv.sig * vt.sig / st.sig) AS b
         |  FROM csig sv
         |  JOIN lm ON lm.id = sv.s
         |  JOIN csig vt ON vt.s = sv.v
         |  JOIN csig st ON st.s = sv.s AND st.v = vt.v
         |  JOIN cdist d1 ON d1.s = sv.s AND d1.v = sv.v
         |  JOIN cdist d2 ON d2.s = vt.s AND d2.v = vt.v
         |  JOIN cdist d3 ON d3.s = st.s AND d3.v = st.v
         |  WHERE sv.v <> sv.s AND sv.v <> vt.v AND sv.s <> vt.v
         |    AND d1.d + d2.d = d3.d
         |  GROUP BY 1)
         |SELECT n_nationkey AS id,
         |  ROUND(COALESCE(b, 0) * 25.0 / 9.0, 5) AS betweenness
         |FROM nation LEFT JOIN btw ON btw.id = n_nationkey""".stripMargin),
    GateRow("g_closeness_sampled", ((s, dir) =>
      // landmark (Eppstein–Wang) estimator: 9 md5-ordered landmarks,
      // reversed-edge multi-source BFS, n/k scale-up — the O(V·k) path
      // the exact O(V²) all-sources BFS can't take at 100x scale; the
      // oracle replays the same md5 draw and the same estimator
      circulantGraph(s, dir).closeness.sampleSources(9).run()
        .select(col(ID), round(col("closeness"), 5).as("closeness"),
          round(col("harmonic"), 5).as("harmonic"))),
      // landmark estimator: same md5-ordered draw as the engine, distances
      // TO the landmarks (cdist.s = scored vertex, cdist.v = landmark),
      // n/k = 25/9 scale-up on the reachable count and both sums
      s"""WITH RECURSIVE $CIRC_DIST_SIGMA,
         |lm AS (SELECT id FROM cv ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 9),
         |agg AS (SELECT c.s AS id, COUNT(*) AS r, SUM(d) AS total, SUM(1.0 / d) AS h
         |  FROM cdist c JOIN lm ON lm.id = c.v WHERE c.d > 0 GROUP BY 1)
         |SELECT n_nationkey AS id,
         |  ROUND(COALESCE((25.0 / 9.0) * r / 24.0 * r / total, 0), 5) AS closeness,
         |  ROUND(COALESCE((25.0 / 9.0) * h, 0), 5) AS harmonic
         |FROM nation LEFT JOIN agg ON agg.id = n_nationkey""".stripMargin),
    GateRow("g_eccentricity_sampled", ((s, dir) =>
      // sampled eccentricity = max distance to the 9 landmarks — a
      // documented LOWER bound (no scale-up: max is not an average)
      circulantGraph(s, dir).eccentricity.sampleSources(9).run()
        .select(col(ID), col("eccentricity"))),
      s"""WITH RECURSIVE $CIRC_DIST_SIGMA,
         |lm AS (SELECT id FROM cv ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 9),
         |ec AS (SELECT c.s AS id, MAX(d) AS m FROM cdist c JOIN lm ON lm.id = c.v GROUP BY 1)
         |SELECT n_nationkey AS id, CAST(COALESCE(m, 0) AS INT) AS eccentricity
         |FROM nation LEFT JOIN ec ON ec.id = n_nationkey""".stripMargin),
    GateRow("g_closeness_weighted", ((s, dir) => { // Wasserman–Faust + harmonic
      // over shortest WEIGHTED distances (integer weights = exact sums)
      val g0 = circulantGraph(s, dir)
      val ge = GraphFrame(g0.vertices, g0.edges.withColumn("w",
        ((col(SRC) * 7 + col(DST) * 3) % 5 + 1).cast("double")))
      ge.closeness.weightCol("w").run()
        .select(col(ID), round(col("closeness"), 5).as("closeness"),
          round(col("harmonic"), 5).as("harmonic"))
    }),
      s"""WITH RECURSIVE $CIRC_DIST_W,
         |agg AS (SELECT s, COUNT(*) AS r, SUM(d) AS total, SUM(1.0 / d) AS h
         |  FROM cdistw WHERE d > 0 GROUP BY s)
         |SELECT n_nationkey AS id,
         |  ROUND(COALESCE((r * 1.0 / 24.0) * r / total, 0), 5) AS closeness,
         |  ROUND(COALESCE(h, 0), 5) AS harmonic
         |FROM nation LEFT JOIN agg ON agg.s = n_nationkey""".stripMargin),
    GateRow("g_eccentricity_weighted", ((s, dir) => { // max weighted out-distance
      // (double in weighted mode)
      val g0 = circulantGraph(s, dir)
      val ge = GraphFrame(g0.vertices, g0.edges.withColumn("w",
        ((col(SRC) * 7 + col(DST) * 3) % 5 + 1).cast("double")))
      ge.eccentricity.weightCol("w").run()
        .select(col(ID), round(col("eccentricity"), 5).as("eccentricity"))
    }),
      s"""WITH RECURSIVE $CIRC_DIST_W,
         |ec AS (SELECT s, MAX(d) AS m FROM cdistw GROUP BY s)
         |SELECT n_nationkey AS id,
         |  ROUND(COALESCE(m, 0), 5) AS eccentricity
         |FROM nation LEFT JOIN ec ON ec.s = n_nationkey""".stripMargin),
    GateRow("g_ktruss", ((s, dir) =>
      // k=12 exercises the full cascade at sf0.001 (support-9 shell drops,
      // undercutting the 10-clique -> empty) and the stable complete-graph
      // truss at sf0.01; the oracle unrolls the peeling rounds
      graphB(s, dir).kTruss.setK(12).run()),
      ktrussSql(12, 6)),
    GateRow("g_neighborhood", ((s, dir) =>
      // ANF: 25-vertex balls stay far below the 2^12 nominal entries, so
      // the sketch estimates are exact and the recursive-CTE pair counts
      // oracle applies (same contract as g_triangle_approx)
      circulantNf(s, dir)),
      s"""WITH RECURSIVE $CIRC_DIST_SIGMA,
         |ds AS (SELECT DISTINCT d FROM cdist),
         |nf AS (SELECT ds.d, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |  FROM ds JOIN cdist c ON c.d <= ds.d GROUP BY ds.d)
         |SELECT CAST(d AS INT) AS d, n_pairs FROM nf""".stripMargin, isolated = true),
    GateRow("g_avg_distance", ((s, dir) => { // mean shortest-path length over
      // connected ordered pairs (self-pairs excluded) — a readout of its
      // own ANF run: Σ d·Δnf(d) / (nf_max − nf(0)), computed on
      // the diameter-row driver table (exact at this sketch width)
      val nf = circulantNf(s, dir)
      val w = Window.orderBy(col("d"))
      nf.withColumn("delta",
          col("n_pairs") - coalesce(lag(col("n_pairs"), 1).over(w), lit(0L)))
        .agg(sum(col("d") * col("delta")).as("num"),
          (max(col("n_pairs")) -
            sum(when(col("d") === 0, col("n_pairs")).otherwise(lit(0L)))).as("den"))
        .select(round(col("num").cast("double") / col("den").cast("double"), 6)
            .as("avg_distance"),
          col("den").cast("long").as("n_pairs_connected"))
    }),
      // mean distance over connected ordered pairs, straight off the
      // pair-distance table (Σd·Δnf/den == ΣD over pairs, identically)
      s"""WITH RECURSIVE $CIRC_DIST_SIGMA
         |SELECT ROUND(CAST(SUM(d) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         |    AS avg_distance,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs_connected
         |FROM cdist WHERE d >= 1""".stripMargin, isolated = true),
    GateRow("g_effective_diameter", ((s, dir) => // 0.9-quantile interpolated
      // ANF readout over the exact-at-this-size neighborhood function
      circulantGraph(s, dir).neighborhoodFunction
        .effectiveDiameterReport(circulantNf(s, dir), 0.9)
        .select(round(col("effective_diameter"), 6).as("effective_diameter"),
          col("effective_diameter_int").cast("long").as("effective_diameter_int"),
          col("diameter").cast("long").as("diameter"), col("n_pairs_total"))),
      // same pair counts, then the interpolated ANF readout — identical
      // float ops: tot*0.9 compare, one subtraction-ratio interpolation
      s"""WITH RECURSIVE $CIRC_DIST_SIGMA,
         |ds AS (SELECT DISTINCT d FROM cdist),
         |nf AS (SELECT ds.d, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |  FROM ds JOIN cdist c ON c.d <= ds.d GROUP BY ds.d),
         |t AS (SELECT MAX(n_pairs) AS tot, MAX(d) AS diam FROM nf),
         |x AS (SELECT d, n_pairs,
         |    COALESCE(LAG(n_pairs) OVER (ORDER BY d), 0) AS prev
         |  FROM nf),
         |c0 AS (SELECT x.d, x.n_pairs, x.prev, t.tot, t.diam FROM x, t
         |  WHERE x.n_pairs >= t.tot * 0.9 ORDER BY x.d LIMIT 1)
         |SELECT ROUND((d - 1) + (tot * 0.9 - prev) / (n_pairs - prev), 6)
         |    AS effective_diameter,
         |  CAST(d AS BIGINT) AS effective_diameter_int,
         |  CAST(diam AS BIGINT) AS diameter, tot AS n_pairs_total
         |FROM c0""".stripMargin, isolated = true),
    GateRow("g_link_prediction", ((s, dir) =>
      circulantGraph(s, dir).linkPrediction.run()
        .select(col(SRC), col(DST), col("cn"),
          round(col("jaccard"), 5).as("jaccard"),
          round(col("adamic_adar"), 5).as("adamic_adar"),
          col("pref_attach"))),
      """WITH cv AS (SELECT n_nationkey AS id FROM nation),
        |ce AS (SELECT DISTINCT src, dst FROM (
        |    SELECT id AS src, (id + 7) % 25 AS dst FROM cv
        |    UNION ALL SELECT id, (3 * id + 1) % 25 FROM cv WHERE id % 3 = 0)
        |  WHERE src <> dst),
        |canon AS (SELECT DISTINCT LEAST(src, dst) AS src,
        |  GREATEST(src, dst) AS dst FROM ce),
        |u AS (SELECT src AS w, dst AS n FROM canon
        |  UNION ALL SELECT dst, src FROM canon),
        |deg AS (SELECT w, COUNT(*) AS d FROM u GROUP BY w),
        |cand AS (SELECT x.n AS u, y.n AS v, COUNT(*) AS cn,
        |    SUM(1.0 / LN(dg.d)) AS aa
        |  FROM u x JOIN u y ON x.w = y.w AND x.n < y.n
        |  JOIN deg dg ON dg.w = x.w
        |  GROUP BY 1, 2),
        |nc AS (SELECT c.* FROM cand c LEFT JOIN canon e
        |  ON e.src = c.u AND e.dst = c.v WHERE e.src IS NULL)
        |SELECT nc.u AS src, nc.v AS dst, cn,
        |  ROUND(cn * 1.0 / (du.d + dv.d - cn), 5) AS jaccard,
        |  ROUND(aa, 5) AS adamic_adar,
        |  du.d * dv.d AS pref_attach
        |FROM nc JOIN deg du ON du.w = nc.u JOIN deg dv ON dv.w = nc.v""".stripMargin),
    gSimrank,
    GateRow("g_simrank_dist", ((s, dir) => // the DISTRIBUTED pair-join path
      // forced (threshold 0) must reproduce the driver tail bit-for-bit
      // at the oracle's rounding — same replay verbatim
      circulantGraph(s, dir).simRank.setC(0.8).maxIter(3)
        .setSmallGraphThreshold(0).run()
        .select(col("a"), col("b"), round(col("simrank"), 5).as("simrank"))),
      gSimrank.oracle, isolated = true),
    GateRow("g_coloring", ((s, dir) => // md5 priorities => Luby color rounds
      // replay exactly in SQL (oracle unrolls colors x rounds; hashes are
      // keyed by (color, round) so the engine's early exits don't matter)
      circulantGraph(s, dir).greedyColoring.setHashMode("md5").run()
        .select(col(ID), col("color"))),
      coloringSql(6, 6, 42L)),
    gLouvain,
    GateRow("g_louvain_coarse", ((s, dir) => // phase-2 coarsening: the level-1
      // communities aggregate into a weighted super-graph (intra edges →
      // super-loops) and the same rounds re-run there; oracle unrolls
      // BOTH levels including the coarsen step — still all-integer
      communityGraph(s, dir).louvain.setLevels(2).run()
        .select(col(ID), col("community"))),
      louvainCoarseSql(4)),
    GateRow("g_louvain_decimal", ((s, dir) => // the >1.5e9-edge scale mode forced
      // on the DISTRIBUTED path (threshold 0): DECIMAL(38,0) gain scoring
      // must pick bit-identical winners to the Long fast path, so the
      // oracle is g_louvain's replay verbatim
      communityGraph(s, dir).louvain.setGainMode("decimal")
        .setSmallGraphThreshold(0).run()
        .select(col(ID), col("community"))),
      gLouvain.oracle, isolated = true),
    GateRow("g_ppr_sweep", ((s, dir) => // PageRank-Nibble local community: PPR
      // from nation 0 on the undirected community graph, degree-normalized
      // sweep order, exact integer cut/vol per prefix (one max-rank edge
      // histogram — no per-prefix rescans); the oracle replays the 10 PPR
      // rounds and the whole sweep
      communityGraph(s, dir).pprSweep.source(0).maxIter(10).sweepK(15).run()
        .select(col("rank"), col(ID), round(col("ppr"), 5).as("ppr"),
          col("vol"), col("cut"),
          round(col("conductance"), 6).as("conductance"), col("best"))),
      pprSweepSql(10, 0, 15)),
    GateRow("g_modularity", ((s, dir) => { // one-row Q of the louvain partition;
      // integer numerator (4m·intra − Σtot²), the division is the only
      // float op — oracle computes the identical expression
      val g = communityGraph(s, dir)
      g.modularity(g.louvain.run().select(col(ID), col("community")))
        .select(round(col("modularity"), 6).as("modularity"),
          col("n_communities"), col("m_edges"))
    }),
      s"""${louvainCtes(4)},
         |intra AS MATERIALIZED (SELECT COUNT(*) AS x FROM c
         |  JOIN l4 p ON p.id = c.a JOIN l4 q ON q.id = c.b
         |  WHERE p.community = q.community),
         |tt AS MATERIALIZED (SELECT SUM(tot * tot) AS t2, COUNT(*) AS nc FROM (
         |  SELECT community, SUM(deg) AS tot FROM l4 WHERE deg > 0 GROUP BY 1))
         |SELECT ROUND((4.0 * (SELECT m FROM mm) * (SELECT x FROM intra) - (SELECT t2 FROM tt))
         |    / (4.0 * (SELECT m FROM mm) * (SELECT m FROM mm)), 6) AS modularity,
         |  (SELECT nc FROM tt) AS n_communities,
         |  (SELECT m FROM mm) AS m_edges""".stripMargin),
    GateRow("g_assortativity", ((s, dir) => // exact integer degree sums; the
      // only float op is one division both engines take identically
      graphB(s, dir).assortativity
        .select(round(col("assortativity"), 6).as("assortativity"),
          col("m_edges"))),
      s"""WITH e AS MATERIALIZED ($NE),
         |c AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         |  FROM e WHERE src <> dst),
         |u AS MATERIALIZED (SELECT a AS s FROM c UNION ALL SELECT b FROM c),
         |dg AS MATERIALIZED (SELECT s, COUNT(*) AS d FROM u GROUP BY 1),
         |t AS MATERIALIZED (SELECT COUNT(*) AS m, SUM(x.d * y.d) AS sp,
         |    SUM(x.d + y.d) AS s1, SUM(x.d * x.d + y.d * y.d) AS s2
         |  FROM c JOIN dg x ON x.s = c.a JOIN dg y ON y.s = c.b)
         |SELECT CASE WHEN 2 * m * s2 - s1 * s1 = 0 THEN NULL
         |    ELSE ROUND(CAST(4 * m * sp - s1 * s1 AS DOUBLE)
         |      / CAST(2 * m * s2 - s1 * s1 AS DOUBLE), 6) END AS assortativity,
         |  CAST(m AS BIGINT) AS m_edges FROM t""".stripMargin),
    GateRow("g_conductance", ((s, dir) => { // community quality of the region
      // partition of the trade graph: cut / min(vol, 2m - vol), exact
      // integer cut/volume counts, one division per community
      val v = load(s, dir, "nation")
        .select(col("n_nationkey").as(ID), col("n_regionkey"))
      GraphFrame(v, nationEdges(s, dir)).conductance("n_regionkey")
    }),
      // categorical mixing: both-orientation counts (sum 2m), category
      // masses squared in exact HUGEINT, the same single double division
      s"""WITH e0 AS ($NE),
         |c AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         |  FROM e0 WHERE src <> dst),
         |lab AS (SELECT r1.n_regionkey AS ca, r2.n_regionkey AS cb FROM c
         |  JOIN nation r1 ON r1.n_nationkey = c.a
         |  JOIN nation r2 ON r2.n_nationkey = c.b),
         |o AS (SELECT ca AS ci, cb AS cj FROM lab UNION ALL SELECT cb, ca FROM lab),
         |g AS (SELECT ci AS community, COUNT(*) AS volume,
         |    CAST(SUM(CASE WHEN ci <> cj THEN 1 ELSE 0 END) AS BIGINT) AS cut_edges,
         |    CAST(SUM(CASE WHEN ci = cj THEN 1 ELSE 0 END) // 2 AS BIGINT)
         |      AS internal_edges
         |  FROM o GROUP BY 1),
         |t AS (SELECT CAST(SUM(volume) AS BIGINT) AS m2 FROM g)
         |SELECT community, volume, cut_edges, internal_edges,
         |  CASE WHEN LEAST(volume, t.m2 - volume) = 0 THEN NULL
         |    ELSE ROUND(cut_edges / LEAST(volume, t.m2 - volume), 6) END
         |    AS conductance
         |FROM g CROSS JOIN t""".stripMargin),
    GateRow("g_attr_assortativity", ((s, dir) => { // region homophily of the
      // trade graph: Newman's categorical mixing coefficient, exact
      // integer mixing counts, one double division
      val v = load(s, dir, "nation")
        .select(col("n_nationkey").as(ID), col("n_regionkey"))
      GraphFrame(v, nationEdges(s, dir))
        .attributeAssortativity("n_regionkey")
        .select(round(col("assortativity"), 6).as("assortativity"),
          col("m_edges"), col("n_categories"))
    }),
      s"""WITH e0 AS ($NE),
         |c AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         |  FROM e0 WHERE src <> dst),
         |lab AS (SELECT r1.n_regionkey AS ca, r2.n_regionkey AS cb FROM c
         |  JOIN nation r1 ON r1.n_nationkey = c.a
         |  JOIN nation r2 ON r2.n_nationkey = c.b),
         |o AS (SELECT ca AS ci, cb AS cj FROM lab UNION ALL SELECT cb, ca FROM lab),
         |g AS (SELECT ci, CAST(COUNT(*) AS HUGEINT) AS s,
         |    CAST(SUM(CASE WHEN ci = cj THEN 1 ELSE 0 END) AS HUGEINT) AS dii
         |  FROM o GROUP BY 1),
         |t AS (SELECT SUM(s) AS m2, SUM(dii) AS diag, SUM(s * s) AS ss,
         |  COUNT(*) AS ncat FROM g)
         |SELECT CASE WHEN m2 * m2 - ss = 0 THEN NULL
         |    ELSE ROUND(CAST(m2 * diag - ss AS DOUBLE)
         |      / CAST(m2 * m2 - ss AS DOUBLE), 6) END AS assortativity,
         |  CAST(m2 // 2 AS BIGINT) AS m_edges,
         |  CAST(ncat AS BIGINT) AS n_categories FROM t""".stripMargin),
    GateRow("g_reciprocity", ((s, dir) => // exact mutual/total counts; the
      // division is the only float op, identical in the oracle
      graphB(s, dir).reciprocity
        .select(round(col("reciprocity"), 6).as("reciprocity"),
          col("m_mutual"), col("m_edges"))),
      s"""WITH e AS ($NE),
         |m AS (SELECT count(*) AS m_edges FROM e),
         |mu AS (SELECT count(*) AS m_mutual FROM e x
         |  WHERE EXISTS (SELECT 1 FROM e y WHERE y.src = x.dst AND y.dst = x.src))
         |SELECT ROUND(CAST(m_mutual AS DOUBLE) / CAST(m_edges AS DOUBLE), 6)
         |  AS reciprocity, CAST(m_mutual AS BIGINT) AS m_mutual,
         |  CAST(m_edges AS BIGINT) AS m_edges FROM m, mu""".stripMargin),
    GateRow("g_transitivity", ((s, dir) => // 3T/W with exact integer operands;
      // triangle counts via the skew-adaptive kernel, one float division
      graphB(s, dir).transitivity
        .select(round(col("transitivity"), 6).as("transitivity"),
          col("n_triangles"), col("n_wedges"))),
      s"""WITH e0 AS ($NE),
         |canon AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e0),
         |tri AS (SELECT count(*) AS t FROM canon e1
         |  JOIN canon e2 ON e2.a = e1.b
         |  JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b),
         |w AS (SELECT SUM(d * (d - 1)) / 2 AS wedges FROM (
         |  SELECT v, count(*) AS d FROM (
         |    SELECT a AS v FROM canon UNION ALL SELECT b FROM canon) GROUP BY v))
         |SELECT ROUND(CAST(3 * t AS DOUBLE) / CAST(wedges AS DOUBLE), 6)
         |  AS transitivity, CAST(t AS BIGINT) AS n_triangles,
         |  CAST(wedges AS BIGINT) AS n_wedges FROM tri, w""".stripMargin),
    GateRow("g_triad_census", ((s, dir) => { // 16-class Holland–Leinhardt triad
      // census on a mixed motif graph (asym ring + chords + mutual dyads
      // + planted 030/120/210/300 motifs — every class nonzero); the
      // engine enumerates only triples with >=2 connected pairs (wedge
      // joins + exact BigInt subtraction for 012/102/003), the oracle
      // brute-forces ALL C(25,3) triples with an independent CASE
      // classifier
      val n = load(s, dir, "nation")
      val key = col("n_nationkey").cast("long")
      val base = n.select(key.as(SRC), pmod(key + 1, lit(25)).as(DST))
        .unionByName(n.filter(key % 2 === 0)
          .select(key.as(SRC), pmod(key + 7, lit(25)).as(DST)))
        .unionByName(n.filter(key % 5 < 2 && key < 20)
          .select(key.as(SRC), (key + 5).as(DST)))
        .unionByName(n.filter(key % 5 < 2 && key < 20)
          .select((key + 5).as(SRC), key.as(DST)))
      import s.implicits._
      val extra = Seq((2L, 9L), (9L, 16L), (16L, 2L), (3L, 10L), (3L, 17L),
        (10L, 17L), (4L, 11L), (11L, 4L), (4L, 18L), (18L, 4L), (11L, 18L),
        (18L, 11L), (6L, 13L), (13L, 6L), (13L, 20L), (20L, 13L), (6L, 20L),
        (8L, 21L), (21L, 8L), (14L, 8L), (14L, 21L), (1L, 12L), (12L, 1L),
        (1L, 19L), (12L, 19L), (7L, 22L), (22L, 7L), (7L, 24L), (24L, 22L))
        .toDF(SRC, DST)
      val e = base.unionByName(extra).filter(col(SRC) =!= col(DST)).distinct()
      GraphFrame(n.select(key.as(ID)), e).triadCensus.run()
        .select(col("triad"), col("count").cast("long").as("count"))
    }),
      // independent formulation: classify EVERY a<b<c triple directly
      // from its six direction bits (the engine never enumerates 0/1-pair
      // triples — it derives them by subtraction)
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |    SELECT n_nationkey AS src, (n_nationkey + 1) % 25 AS dst FROM nation
         |    UNION ALL SELECT n_nationkey, (n_nationkey + 7) % 25 FROM nation
         |      WHERE n_nationkey % 2 = 0
         |    UNION ALL SELECT n_nationkey, n_nationkey + 5 FROM nation
         |      WHERE n_nationkey % 5 < 2 AND n_nationkey < 20
         |    UNION ALL SELECT n_nationkey + 5, n_nationkey FROM nation
         |      WHERE n_nationkey % 5 < 2 AND n_nationkey < 20
         |    UNION ALL SELECT * FROM (VALUES (2,9),(9,16),(16,2),(3,10),(3,17),
         |      (10,17),(4,11),(11,4),(4,18),(18,4),(11,18),(18,11),(6,13),
         |      (13,6),(13,20),(20,13),(6,20),(8,21),(21,8),(14,8),(14,21),
         |      (1,12),(12,1),(1,19),(12,19),(7,22),(22,7),(7,24),(24,22))
         |      t(src, dst)
         |  ) WHERE src <> dst),
         |v AS (SELECT n_nationkey AS id FROM nation),
         |bits AS MATERIALIZED (SELECT
         |    CAST(EXISTS(SELECT 1 FROM e WHERE src = x.id AND dst = y.id) AS INT) AS ab,
         |    CAST(EXISTS(SELECT 1 FROM e WHERE src = y.id AND dst = x.id) AS INT) AS ba,
         |    CAST(EXISTS(SELECT 1 FROM e WHERE src = x.id AND dst = z.id) AS INT) AS ac,
         |    CAST(EXISTS(SELECT 1 FROM e WHERE src = z.id AND dst = x.id) AS INT) AS ca,
         |    CAST(EXISTS(SELECT 1 FROM e WHERE src = y.id AND dst = z.id) AS INT) AS bc,
         |    CAST(EXISTS(SELECT 1 FROM e WHERE src = z.id AND dst = y.id) AS INT) AS cb
         |  FROM v x JOIN v y ON x.id < y.id JOIN v z ON y.id < z.id),
         |st AS (SELECT *,
         |    (CASE WHEN ab + ba = 2 THEN 1 ELSE 0 END)
         |      + (CASE WHEN ac + ca = 2 THEN 1 ELSE 0 END)
         |      + (CASE WHEN bc + cb = 2 THEN 1 ELSE 0 END) AS m,
         |    (CASE WHEN ab + ba = 1 THEN 1 ELSE 0 END)
         |      + (CASE WHEN ac + ca = 1 THEN 1 ELSE 0 END)
         |      + (CASE WHEN bc + cb = 1 THEN 1 ELSE 0 END) AS a
         |  FROM bits),
         |cls AS (SELECT CASE
         |    WHEN m = 0 AND a = 0 THEN '003'
         |    WHEN m = 0 AND a = 1 THEN '012'
         |    WHEN m = 1 AND a = 0 THEN '102'
         |    WHEN m = 0 AND a = 2 THEN
         |      CASE WHEN GREATEST(ab + ac, ba + bc, ca + cb) = 2 THEN '021D'
         |           WHEN GREATEST(ba + ca, ab + cb, ac + bc) = 2 THEN '021U'
         |           ELSE '021C' END
         |    WHEN m = 1 AND a = 1 THEN
         |      CASE WHEN ab + ba = 2 THEN CASE WHEN ca + cb = 1 THEN '111D' ELSE '111U' END
         |           WHEN ac + ca = 2 THEN CASE WHEN ba + bc = 1 THEN '111D' ELSE '111U' END
         |           ELSE CASE WHEN ab + ac = 1 THEN '111D' ELSE '111U' END END
         |    WHEN m = 0 AND a = 3 THEN
         |      CASE WHEN GREATEST(ab + ac, ba + bc, ca + cb) = 2 THEN '030T' ELSE '030C' END
         |    WHEN m = 2 AND a = 0 THEN '201'
         |    WHEN m = 1 AND a = 2 THEN
         |      CASE WHEN ab + ba = 2 THEN
         |             CASE ca + cb WHEN 2 THEN '120D' WHEN 0 THEN '120U' ELSE '120C' END
         |           WHEN ac + ca = 2 THEN
         |             CASE ba + bc WHEN 2 THEN '120D' WHEN 0 THEN '120U' ELSE '120C' END
         |           ELSE
         |             CASE ab + ac WHEN 2 THEN '120D' WHEN 0 THEN '120U' ELSE '120C' END END
         |    WHEN m = 2 AND a = 1 THEN '210'
         |    ELSE '300' END AS triad
         |  FROM st),
         |cnt AS (SELECT triad, COUNT(*) AS c FROM cls GROUP BY 1),
         |names(triad) AS (VALUES ('003'),('012'),('102'),('021D'),('021U'),
         |  ('021C'),('111D'),('111U'),('030T'),('030C'),('201'),('120D'),
         |  ('120U'),('120C'),('210'),('300'))
         |SELECT names.triad, CAST(COALESCE(c, 0) AS BIGINT) AS count
         |FROM names LEFT JOIN cnt ON cnt.triad = names.triad""".stripMargin),
    GateRow("g_rich_club", ((s, dir) => // exact N_k/E_k club counts per degree
      // threshold; the one float division per row is the identical
      // nearest-double path the oracle takes
      graphB(s, dir).richClub(Seq(2, 8, 14, 20))
        .select(col("k"), col("n_k"), col("e_k"),
          round(col("phi"), 6).as("phi"))),
      s"""WITH e0 AS ($NE),
         |canon AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a,
         |  GREATEST(src, dst) AS b FROM e0 WHERE src <> dst),
         |deg AS MATERIALIZED (SELECT s, COUNT(*) AS d FROM (
         |  SELECT a AS s FROM canon UNION ALL SELECT b FROM canon) GROUP BY 1),
         |ks AS (SELECT unnest([2, 8, 14, 20]) AS k),
         |nk AS (SELECT k, COUNT(*) AS n_k FROM ks JOIN deg ON d > k GROUP BY 1),
         |ek AS (SELECT k, COUNT(*) AS e_k FROM ks
         |  JOIN canon ON TRUE
         |  JOIN deg x ON x.s = canon.a JOIN deg y ON y.s = canon.b
         |  WHERE x.d > k AND y.d > k GROUP BY 1)
         |SELECT ks.k AS k, CAST(COALESCE(n_k, 0) AS BIGINT) AS n_k,
         |  CAST(COALESCE(e_k, 0) AS BIGINT) AS e_k,
         |  CASE WHEN COALESCE(n_k, 0) >= 2
         |    THEN ROUND(2.0 * COALESCE(e_k, 0) / (n_k * (n_k - 1)), 6) END AS phi
         |FROM ks LEFT JOIN nk ON nk.k = ks.k LEFT JOIN ek ON ek.k = ks.k""".stripMargin),
    GateRow("g_butterfly", ((s, dir) => // bipartite 4-cycle (2x2 biclique)
      // global count over the supplier-part incidence: B = sum C(c,2)
      // over co-neighbor pairs — wedge join on the part pivot, no
      // 4-cycle enumeration; all-Long arithmetic
      lib.Butterflies.globalCounts(load(s, dir, "lineitem"),
        "l_suppkey", "l_partkey")),
      // butterfly identity B = sum C(c,2) over left co-neighbor pair
      // overlaps c — the oracle recomputes the pair overlaps from scratch
      """WITH e AS (SELECT DISTINCT l_suppkey AS l, l_partkey AS r FROM lineitem),
        |p AS (SELECT x.l AS a, y.l AS b, COUNT(*) AS c
        |  FROM e x JOIN e y ON x.r = y.r AND x.l < y.l GROUP BY 1, 2)
        |SELECT CAST(COALESCE(SUM(c * (c - 1) // 2), 0) AS BIGINT) AS n_butterflies,
        |  CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_wedges,
        |  CAST(COALESCE(MAX(c), 0) AS BIGINT) AS max_copair
        |FROM p""".stripMargin),
    GateRow("g_butterfly_vertex", ((s, dir) => // per-supplier butterfly support
      // b(v) = sum_{pairs containing v} C(c,2), zero-filled
      lib.Butterflies.perVertex(load(s, dir, "lineitem"),
        "l_suppkey", "l_partkey")),
      """WITH e AS (SELECT DISTINCT l_suppkey AS l, l_partkey AS r FROM lineitem),
        |p AS (SELECT x.l AS a, y.l AS b, COUNT(*) AS c
        |  FROM e x JOIN e y ON x.r = y.r AND x.l < y.l GROUP BY 1, 2),
        |bf AS (SELECT id, SUM(c * (c - 1) // 2) AS b FROM (
        |  SELECT a AS id, c FROM p UNION ALL SELECT b, c FROM p) GROUP BY 1)
        |SELECT u.id, CAST(COALESCE(bf.b, 0) AS BIGINT) AS butterflies
        |FROM (SELECT DISTINCT l AS id FROM e) u
        |LEFT JOIN bf ON bf.id = u.id""".stripMargin),
    gBridges,
    GateRow("g_bridges_dist", ((s, dir) => // the DISTRIBUTED BFS-forest +
      // cover-marking path forced (threshold 0) on the SAME oracle —
      // bridges are graph invariants, so the paths must agree exactly
      treeChordGraph(s, dir).twoConnectivity
        .setSmallGraphThreshold(0).bridges()),
      gBridges.oracle, isolated = true),
    gArticulation,
    GateRow("g_articulation_dist", ((s, dir) => // forced distributed: child
      // grouping over sibling cross edges, not DFS lowpoints
      treeChordGraph(s, dir).twoConnectivity
        .setSmallGraphThreshold(0).articulationPoints()),
      gArticulation.oracle, isolated = true),
    GateRow("g_2ecc", ((s, dir) => // 2-edge-connected components = CC minus
      // bridges, min-id labels
      treeChordGraph(s, dir).twoConnectivity.twoEdgeComponents()),
      s"""WITH RECURSIVE $TREE_CHORD,
         |reach AS (SELECT a AS ra, b AS rb, a AS v FROM tce
         |  UNION
         |  SELECT r.ra, r.rb, t.v FROM reach r JOIN tadj t ON t.u = r.v
         |  WHERE NOT (LEAST(t.u, t.v) = r.ra AND GREATEST(t.u, t.v) = r.rb)),
         |br AS (SELECT t.a, t.b FROM tce t
         |  LEFT JOIN reach x ON x.ra = t.a AND x.rb = t.b AND x.v = t.b
         |  WHERE x.v IS NULL),
         |nb AS (SELECT a, b FROM tce WHERE NOT EXISTS (
         |  SELECT 1 FROM br WHERE br.a = tce.a AND br.b = tce.b)),
         |nadj AS (SELECT a AS u, b AS v FROM nb UNION ALL SELECT b, a FROM nb),
         |crel AS (SELECT id AS s, id AS v FROM tv
         |  UNION SELECT c.s, n.v FROM crel c JOIN nadj n ON n.u = c.v)
         |SELECT s AS id, MIN(v) AS component FROM crel GROUP BY 1""".stripMargin),
    gTriangleCount,
    GateRow("g_clustering_coeff", ((s, dir) =>
      graphB(s, dir).clusteringCoefficient.run()
        .select(col(ID), col("tri_count"),
          round(col("clustering_coeff"), 5).as("clustering_coeff"))),
      s"""WITH e0 AS ($NE),
         |canon AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e0),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |        FROM canon e1 JOIN canon e2 ON e2.a = e1.b
         |        JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b),
         |pv AS (SELECT v, count(*) AS c FROM (
         |   SELECT x AS v FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
         |   GROUP BY v),
         |deg AS (SELECT v, COUNT(*) AS d FROM (
         |   SELECT a AS v FROM canon UNION ALL SELECT b FROM canon) GROUP BY v)
         |SELECT n_nationkey AS id, COALESCE(c, 0) AS tri_count,
         |  ROUND(CASE WHEN COALESCE(d, 0) < 2 THEN 0
         |    ELSE 2.0 * COALESCE(c, 0) / (d * (d - 1)) END, 5) AS clustering_coeff
         |FROM nation LEFT JOIN pv ON pv.v = n_nationkey
         |LEFT JOIN deg ON deg.v = n_nationkey""".stripMargin),
    GateRow("g_bfs", ((s, dir) =>
      graphB(s, dir).bfs
        .fromExpr(col(ID) === 0)
        .toExpr(col("n_name").isin("NATION_7", "NATION_13"))
        .run()
        .select(col(s"from.$ID").as("from_id"), col(s"to.$ID").as("to_id"))
        .distinct()),
      s"""WITH RECURSIVE e AS ($NE),
         |f AS (SELECT 0 AS id, 0 AS d
         |      UNION SELECT e.dst, f.d + 1 FROM f JOIN e ON e.src = f.id WHERE f.d < 50),
         |dmin AS (SELECT id, MIN(d) AS d FROM f GROUP BY id),
         |t AS (SELECT n_nationkey AS tid FROM nation WHERE n_name IN ('NATION_7', 'NATION_13')),
         |md AS (SELECT MIN(d) AS m FROM dmin JOIN t ON dmin.id = t.tid)
         |SELECT 0 AS from_id, dmin.id AS to_id
         |FROM dmin JOIN t ON dmin.id = t.tid CROSS JOIN md WHERE dmin.d = md.m""".stripMargin),
    GateRow("g_label_propagation", ((s, dir) => // oracle: 5 unrolled CDLP rounds
      graphB(s, dir).labelPropagation.maxIter(5).run().select(col(ID), col("label"))),
      lpaSql(5)),
    GateRow("g_kcore", ((s, dir) => // oracle: unrolled capped-h-index Jacobi fixpoint
      graphB(s, dir).kCore.run().select(col(ID), col("kcore"))),
      kcoreSql(12)),
    GateRow("g_mis", ((s, dir) => // md5 priorities => Luby rounds replay exactly in SQL
      graphB(s, dir).maximalIndependentSet.setHashMode("md5").run().select(col(ID))),
      misSql(8, 42L)),
    gMatching,
    GateRow("g_matching_dist", ((s, dir) => // the distributed per-round
      // agg/join rounds forced (threshold 0) on the SAME replay oracle
      graphB(s, dir).maximalMatching.seed(42L)
        .setSmallGraphThreshold(0).run()),
      gMatching.oracle, isolated = true),
    GateRow("g_matching_weighted", ((s, dir) => { // locally-DOMINANT edges
      // (weight desc, md5 asc): Preis greedy 1/2-approx max-weight
      // matching; canonical pairs take the MAX over directed duplicates
      val e = nationEdges(s, dir).withColumn("w",
        (pmod(col(SRC) * 7 + col(DST) * 3, lit(5)) + 1).cast("double"))
      GraphFrame(load(s, dir, "nation").select(col("n_nationkey").as(ID)), e)
        .maximalMatching.seed(42L).weightCol("w").run()
    }),
      weightedMatchingSql(14, 42L)),
    GateRow("g_cycles", ((s, dir) =>
      // array columns break the driver's pandas canonicalizer: ship the
      // cycle as a joined string (oracle uses array_to_string likewise)
      eventTypeGraph(s, dir).detectingCycles.run()
        .select(array_join(col("found_cycles").cast("array<string>"), ",")
          .as("found_cycles"))),
      """WITH RECURSIVE ev AS (
        |  SELECT event_type AS src,
        |         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM events),
        |e AS (SELECT DISTINCT src, dst FROM ev WHERE dst IS NOT NULL),
        |p(start, curr, path) AS (
        |  SELECT src, dst, [src, dst] FROM e WHERE dst > src
        |  UNION ALL
        |  SELECT p.start, e.dst, list_append(p.path, e.dst)
        |  FROM p JOIN e ON e.src = p.curr
        |  WHERE e.dst > p.start AND NOT list_contains(p.path, e.dst)),
        |cyc AS (
        |  SELECT DISTINCT p.path FROM p JOIN e ON e.src = p.curr AND e.dst = p.start
        |  UNION SELECT [src] FROM e WHERE src = dst)
        |SELECT array_to_string(path, ',') AS found_cycles FROM cyc""".stripMargin),

    GateRow("g_graph_ops", ((s, dir) => {
      // §2.2 composition through the driver gate: filterEdges keeps only
      // high-value order edges, dropIsolatedVertices sheds customers left
      // with no qualifying orders, and the surviving edges reach their
      // nation through the manual skewedJoin escape hatch (customers with
      // > 8 qualifying orders ride the broadcast leg, the tail shuffles —
      // both legs union to exactly the plain-join result the oracle states).
      val cust = load(s, dir, "customer")
      val ord = load(s, dir, "orders")
      val v = cust.select(concat(lit("c"), col("c_custkey")).as(ID))
        .unionByName(ord.select(concat(lit("o"), col("o_orderkey")).as(ID)))
      val e = ord.select(concat(lit("c"), col("o_custkey")).as(SRC),
        concat(lit("o"), col("o_orderkey")).as(DST), col("o_totalprice"))
      val g2 = GraphFrame(v, e)
        .filterEdges(col("o_totalprice") > 150000.0)
        .dropIsolatedVertices()
      val custDim = cust.select(concat(lit("c"), col("c_custkey")).as(SRC),
        col("c_nationkey"))
      val perNation = g2.skewedJoin(g2.edges, custDim, SRC, threshold = 8L)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total_val"))
      val survivors = g2.vertices.filter(col(ID).startsWith("c"))
        .join(custDim.withColumnRenamed(SRC, ID), Seq(ID))
        .groupBy("c_nationkey").agg(count(lit(1)).as("n_cust"))
      perNation.join(survivors, Seq("c_nationkey"))
        .select(col("c_nationkey").as("nation_key"), col("n_cust"),
          col("n_orders"), col("total_val"))
    }),
      """WITH he AS (SELECT o_custkey, o_totalprice FROM orders
        |            WHERE o_totalprice > 150000.0),
        |a AS (SELECT c_nationkey, COUNT(*) AS n_orders,
        |        ROUND(SUM(o_totalprice), 2) AS total_val
        |      FROM he JOIN customer ON c_custkey = o_custkey GROUP BY 1),
        |b AS (SELECT c_nationkey, COUNT(*) AS n_cust
        |      FROM (SELECT DISTINCT o_custkey FROM he) h
        |      JOIN customer ON c_custkey = h.o_custkey GROUP BY 1)
        |SELECT a.c_nationkey AS nation_key, b.n_cust, a.n_orders, a.total_val
        |FROM a JOIN b ON a.c_nationkey = b.c_nationkey""".stripMargin),
    GateRow("g_reversed_undirected", ((s, dir) => {
      // the last unit-only §2.2 rows through the gate, pinned by degree
      // identities: in-degrees of the REVERSED graph equal original
      // out-degrees, and out-degrees of the UNDIRECTED graph equal total
      // degrees — both checkable by the oracle from the edge list alone
      val g = graphB(s, dir)
      val rev = g.asReversed().inDegrees
        .withColumnRenamed("inDegree", "rev_in")
      val und = g.asUndirected().outDegrees
        .withColumnRenamed("outDegree", "und_out")
      rev.join(und, Seq(ID))
    }),
      s"""WITH e AS ($NE),
         |a AS (SELECT src AS id, count(*) AS c FROM e GROUP BY 1),
         |b AS (SELECT dst AS id, count(*) AS c FROM e GROUP BY 1),
         |j AS (SELECT COALESCE(a.id, b.id) AS id, COALESCE(a.c, 0) AS o,
         |        COALESCE(b.c, 0) AS i
         |      FROM a FULL OUTER JOIN b ON a.id = b.id)
         |SELECT id, CAST(o AS INT) AS rev_in, CAST(o + i AS INT) AS und_out
         |FROM j WHERE o > 0""".stripMargin),
    GateRow("g_agg_neighbors", ((s, dir) => {
      import graft.lib.AggregateNeighbors
      graphB(s, dir).aggregateNeighbors
        .agg(count(lit(1)).as("n"), sum(AggregateNeighbors.nbr(ID)).as("sum_nbr"))
        .setMaxHops(2)
        .run()
    }),
      s"""WITH e AS ($NE)
         |SELECT src AS id, 1 AS hop, count(*) AS n, CAST(SUM(dst) AS BIGINT) AS sum_nbr
         |FROM e GROUP BY src
         |UNION ALL
         |SELECT e1.src, 2, count(*), CAST(SUM(e2.dst) AS BIGINT)
         |FROM e e1 JOIN e e2 ON e2.src = e1.dst
         |WHERE e2.dst <> e1.src
         |GROUP BY e1.src""".stripMargin),
    GateRow("g_agg_paths", ((s, dir) => {
      // path-accumulator mode (reference AggregateNeighbors' primary
      // surface): every trade path nation 0 → … → nation 3 within 2 hops,
      // carrying the id path and the nation-name path. Target semantics:
      // a path reaching 3 is saved AND stops — so no 2-hop path may pass
      // THROUGH 3 (the oracle encodes the same exclusion). Arrays ship as
      // joined strings (driver canonicalizer contract, cf. g_cycles).
      import graft.lib.AggregateNeighbors
      graphB(s, dir).aggregateNeighbors
        .setStartingVertices(col(ID) === 0)
        .setMaxHops(2)
        .setTargetCondition(AggregateNeighbors.dstAttr(ID) === 3)
        .addAccumulator("path", array(col(ID)),
          array_append(col("path"), AggregateNeighbors.dstAttr(ID)))
        .addAccumulator("names", array(col("n_name")),
          array_append(col("names"), AggregateNeighbors.dstAttr("n_name")))
        .run()
        .select(array_join(col("path").cast("array<string>"), ",").as("path"),
          array_join(col("names"), ",").as("names"),
          col(ID).cast("int").as(ID), col("hop"))
    }),
      s"""WITH e AS ($NE),
         |n AS (SELECT n_nationkey AS k, n_name AS nm FROM nation)
         |SELECT CAST(e.src AS VARCHAR) || ',' || CAST(e.dst AS VARCHAR) AS path,
         |       n0.nm || ',' || n1.nm AS names, CAST(e.dst AS INT) AS id, 1 AS hop
         |FROM e JOIN n n0 ON n0.k = e.src JOIN n n1 ON n1.k = e.dst
         |WHERE e.src = 0 AND e.dst = 3
         |UNION ALL
         |SELECT CAST(e1.src AS VARCHAR) || ',' || CAST(e1.dst AS VARCHAR)
         |         || ',' || CAST(e2.dst AS VARCHAR),
         |       n0.nm || ',' || n1.nm || ',' || n2.nm, CAST(e2.dst AS INT), 2
         |FROM e e1 JOIN e e2 ON e2.src = e1.dst
         |JOIN n n0 ON n0.k = e1.src JOIN n n1 ON n1.k = e1.dst
         |JOIN n n2 ON n2.k = e2.dst
         |WHERE e1.src = 0 AND e1.dst <> 3 AND e2.dst = 3""".stripMargin),
    GateRow("g_triangle_approx", ((s, dir) =>
      // theta sketches are exact below nominal entries, so the exact-count
      // oracle applies at this scale
      graphB(s, dir).triangleCount.runApprox(lgNomEntries = 12)
        .select(col(ID), col("count").as("tri_count"))),
      gTriangleCount.oracle),
    GateRow("g_pic", ((s, dir) => {
      // label values are arbitrary, so the ORACLED output is the label-
      // invariant CO-MEMBERSHIP relation on a separable fixture: two
      // nation cliques (0..11 | 12..24) with no cross edges. Degree init
      // makes Spark ML's PIC fully deterministic (its internal k-means
      // seed is a class-name constant), and any correct 2-clustering of
      // two disconnected cliques is the block partition — so all 300
      // ordered pairs, positive AND negative co-membership, are exact.
      val n = load(s, dir, "nation")
      val key = col("n_nationkey").cast("int")
      val v = n.select(key.as(ID), col("n_name"))
      val e = n.select(key.as("a")).join(n.select(key.as("b")), col("a") < col("b"))
        .filter((col("a") < 12 && col("b") < 12) ||
          (col("a") >= 12 && col("b") >= 12))
        .select(col("a").as(SRC), col("b").as(DST))
      val labels = GraphFrame(v, e)
        .powerIterationClustering(k = 2, maxIter = 20, initMode = "degree")
      labels.select(col(ID).as("a"), col("cluster").as("ca"))
        .join(labels.select(col(ID).as("b"), col("cluster").as("cb")),
          col("a") < col("b"))
        .select(col("a"), col("b"),
          (col("ca") === col("cb")).cast("int").as("same_cluster"))
    }),
      // co-membership on the two-clique fixture: any correct 2-clustering
      // of two disconnected cliques is the block partition (0..11 | 12..24)
      """SELECT x.n_nationkey AS a, y.n_nationkey AS b,
        |  CAST((x.n_nationkey < 12) = (y.n_nationkey < 12) AS INT) AS same_cluster
        |FROM nation x JOIN nation y ON x.n_nationkey < y.n_nationkey""".stripMargin),
    GateRow("g_skew_hub", ((s, dir) => skewStats(s, dir, hub = true)),
      skewStatsSql(hub = true)),
    GateRow("g_skew_flat", ((s, dir) => skewStats(s, dir, hub = false)),
      skewStatsSql(hub = false)),
    GateRow("g_belief_prop", ((s, dir) => { // sum-product BP (log-odds messages,
      // checkerboard schedule) on a 5x5 Ising grid keyed by nation, with
      // deterministic a/b fields; the oracle unrolls the same 2 sweeps ×
      // 2 colors of message updates as chained CTEs
      import graft.examples.BeliefPropagation
      val n = load(s, dir, "nation")
      val key = col("n_nationkey").cast("int")
      val v = n.select(key.as("id"),
        ((key * 37 % 21 - 10) / lit(10.0)).as("a"),
        pmod((key / lit(5)).cast("int") + pmod(key, lit(5)), lit(2)).as("color"))
      val right = n.filter(pmod(key, lit(5)) < 4)
        .select(key.as("src"), (key + 1).as("dst"))
      val down = n.filter((key / lit(5)).cast("int") < 4)
        .select(key.as("src"), (key + 5).as("dst"))
      val e = right.unionByName(down)
        .withColumn("b", ((col("src") * 31 + col("dst") * 17) % 19 - 9) / lit(10.0))
      BeliefPropagation.sumProduct(GraphFrame(v, e), sweeps = 2)
        .select(col("id"), round(col("belief"), 6).as("belief"))
    }),
      beliefPropSql(2)),
    GateRow("g_pppr", ((s, dir) =>
      graphB(s, dir).parallelPersonalizedPageRank
        .sourceIds(Seq(0, 5)).maxIter(10).run().vertices
        .select(col(ID), round(element_at(col("pageranks"), 1), 5).as("r0"),
          round(element_at(col("pageranks"), 2), 5).as("r1"))),
      ppprSql(10, 0, 5)),
    GateRow("g_svdpp", ((s, dir) => { // deterministic variant: md5 factor init +
      // synchronous epochs — the DuckDB oracle replays both epochs exactly
      val li = load(s, dir, "lineitem")
      val e = li.select(concat(lit("s"), col("l_suppkey")).as(SRC),
        concat(lit("p"), col("l_partkey")).as(DST),
        col("l_quantity").as(GraphFrame.WEIGHT))
      GraphFrame.fromEdges(e).svdPlusPlus.setRank(2).maxIter(2)
        .setMinValue(1.0).setMaxValue(50.0).runDeterministic()
        .select(col(ID), round(col("bias"), 5).as("bias"))
    }),
      svdppSql(2)),
    GateRow("g_rw_embeddings", ((s, dir) => // oracle: coverage + width only
      // (Word2Vec factor values are randomly initialized — unoracleable)
      embeddings.Embeddings.randomWalkEmbeddings(graphB(s, dir), dim = 8,
        walkLength = 3, walksPerVertex = 2)
        .select(col(ID), size(col("embedding")).as("dim"))),
      gHashEmbeddings.oracle),
    GateRow("g_random_walks", ((s, dir) => // md5 draws => walks replay exactly in SQL;
      // string-joined path (pandas-canon-safe)
      graphB(s, dir).randomWalks.setWalkLength(4).setWalksPerVertex(2)
        .setHashMode("md5").run()
        .select(col("walk_id"),
          array_join(col("random_walk").cast("array<string>"), ",")
            .as("random_walk"))),
      randomWalksSql(4, 2, 42L)),
    GateRow("g_node2vec", ((s, dir) => // biased second-order walks; power-of-two
      // p/q make the threshold-scan prefix sums dyadic-exact in SQL
      graphB(s, dir).randomWalks.setWalkLength(3).setWalksPerVertex(2)
        .setHashMode("md5").setReturnParam(0.5).setInOutParam(4.0).run()
        .select(col("walk_id"),
          array_join(col("random_walk").cast("array<string>"), ",")
            .as("random_walk"))),
      node2vecSql(3, 2, 42L, 0.5, 4.0)),
    GateRow("g_random_walks_weighted", ((s, dir) => { // edge-weight-biased picks:
      // integer weights + md5 draws keep every threshold-scan prefix sum
      // exact in double, so the SQL replay is bit-exact
      val g0 = graphB(s, dir)
      val ge = GraphFrame(g0.vertices, g0.edges.withColumn("w",
        ((col(SRC) * 7 + col(DST) * 3) % 5 + 1).cast("double")))
      ge.randomWalks.setWalkLength(3).setWalksPerVertex(2)
        .setHashMode("md5").setWeightCol("w").run()
        .select(col("walk_id"),
          array_join(col("random_walk").cast("array<string>"), ",")
            .as("random_walk"))
    }),
      weightedWalksSql(3, 2, 42L))
  )
}
