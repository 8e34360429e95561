package graft

import java.util.Optional

import org.apache.spark.connect.proto
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.connect.planner.SparkConnectPlanner
import org.apache.spark.sql.connect.service.SessionHolder
import org.apache.spark.sql.graftshim.GraftShims
import org.sparkproject.connect.protobuf.{Any => ProtoAny, ByteString}

import graft.connect.{GraftConnectDispatch, GraftRelation, GraftRelationPlugin, WireFormat}

/**
 * End-to-end Spark Connect plugin tests WITHOUT a gRPC server: a real
 * SparkConnectPlanner (over the shared session) transforms real
 * `spark.connect.Relation` payloads built with the bundled proto
 * builders, exactly as the Connect service would, and the plugin's raw
 * `Any` bytes come from our own wire encoder — the same bytes a remote
 * client produces.
 */
class ConnectPluginSpec extends TestBase with SparkEvents {

  private lazy val planner =
    new SparkConnectPlanner(
      SessionHolder("test-user", "test-session", spark.asInstanceOf[ClassicSession]),
      scala.None)

  private def sqlRelation(query: String): Array[Byte] =
    proto.Relation.newBuilder()
      .setSql(proto.SQL.newBuilder().setQuery(query))
      .build().toByteArray

  private def callPlugin(msg: GraftRelation): DataFrame = {
    val anyBytes = ProtoAny.newBuilder()
      .setTypeUrl("type.googleapis.com/" + GraftRelationPlugin.TypeName)
      .setValue(ByteString.copyFrom(WireFormat.encode(msg)))
      .build().toByteArray
    val plan = new GraftRelationPlugin().transform(anyBytes, planner)
    assert(plan.isPresent, "plugin returned empty for its own type_url")
    GraftShims.ofRows(spark.asInstanceOf[ClassicSession], plan.get())
  }

  private val vSql =
    "SELECT * FROM VALUES ('a'),('b'),('c'),('d'),('g') AS t(id)"
  private val eSql =
    "SELECT * FROM VALUES ('a','b'),('b','c'),('c','b'),('c','d') AS t(src, dst)"

  test("degrees through the full plugin path equals the Scala API") {
    val out = callPlugin(GraftRelation("degrees",
      Some(sqlRelation(vSql)), Some(sqlRelation(eSql)), ""))
    val direct = GraphFrame(spark.sql(vSql), spark.sql(eSql)).degrees
    assert(rows(out) == rows(direct))
  }

  test("connected_components through the plugin: 2 components (g isolated)") {
    val out = callPlugin(GraftRelation("connected_components",
      Some(sqlRelation(vSql)), Some(sqlRelation(eSql)), ""))
    val comps = out.select("component").distinct().count()
    assert(comps == 2)
    assert(out.count() == 5)
  }

  test("page_rank with JSON params through the plugin equals the Scala API") {
    val out = callPlugin(GraftRelation("page_rank",
      Some(sqlRelation(vSql)), Some(sqlRelation(eSql)),
      """{"resetProb": 0.15, "maxIter": 5}"""))
    val direct = GraphFrame(spark.sql(vSql), spark.sql(eSql))
      .pageRank.resetProbability(0.15).maxIter(5).run().vertices
    assert(rows(out.select("id", "pagerank")) == rows(direct.select("id", "pagerank")))
  }

  test("find (motif) through the plugin") {
    val out = callPlugin(GraftRelation("find",
      Some(sqlRelation(vSql)), Some(sqlRelation(eSql)),
      """{"pattern": "(x)-[]->(y); (y)-[]->(x)"}"""))
    // mutual pair: b <-> c, both orientations
    assert(out.count() == 2)
  }

  test("foreign type_url yields empty so other plugins get a turn") {
    val anyBytes = ProtoAny.newBuilder()
      .setTypeUrl("type.googleapis.com/someone.Else")
      .setValue(ByteString.copyFrom(Array[Byte](1, 2, 3)))
      .build().toByteArray
    assert(new GraftRelationPlugin().transform(anyBytes, planner) == Optional.empty())
  }

  test("mistyped parameters fail loudly instead of silently using defaults") {
    val v = spark.sql("SELECT * FROM VALUES (0L),(1L) AS t(id)")
    val e = spark.sql("SELECT * FROM VALUES (0L,1L) AS t(src, dst)")
    val err = intercept[IllegalArgumentException] {
      GraftConnectDispatch.run(Some(v), e, "page_rank", """{"maxIter": "five"}""")
    }
    assert(err.getMessage.contains("maxIter") && err.getMessage.contains("integer"))
  }

  test("unknown parameter keys fail loudly instead of being silently ignored") {
    val v = spark.sql("SELECT * FROM VALUES (0L),(1L) AS t(id)")
    val e = spark.sql("SELECT * FROM VALUES (0L,1L) AS t(src, dst)")
    val err = intercept[IllegalArgumentException] {
      GraftConnectDispatch.run(Some(v), e, "page_rank", """{"maxIters": 5}""")
    }
    assert(err.getMessage.contains("maxIters") && err.getMessage.contains("accepted"))
  }

  test("hits rejects the removed roundsPerCycle key as unknown") {
    val v = spark.sql("SELECT * FROM VALUES (0L),(1L) AS t(id)")
    val e = spark.sql("SELECT * FROM VALUES (0L,1L) AS t(src, dst)")
    val err = intercept[IllegalArgumentException] {
      GraftConnectDispatch.run(Some(v), e, "hits", """{"maxIter": 5, "roundsPerCycle": 2}""")
    }
    assert(err.getMessage.contains("unknown params_json key(s) 'roundsPerCycle' for hits; " +
      "accepted: maxIter"), err.getMessage)
  }

  test("unknown algorithm fails with the supported list") {
    val err = intercept[IllegalArgumentException] {
      callPlugin(GraftRelation("frobnicate",
        Some(sqlRelation(vSql)), Some(sqlRelation(eSql)), ""))
    }
    assert(err.getMessage.contains("page_rank"))
  }

  test("dispatch covers shortest_paths landmarks and filter_edges") {
    val v = spark.sql("SELECT * FROM VALUES (0L),(1L),(2L),(3L) AS t(id)")
    val e = spark.sql(
      "SELECT * FROM VALUES (0L,1L,1.0),(1L,2L,5.0),(2L,3L,1.0) AS t(src, dst, w)")
    val sp = GraftConnectDispatch.run(Some(v), e, "shortest_paths",
      """{"landmarks": [0]}""")
    assert(sp.columns.contains("distances") && sp.count() == 4)
    val fe = GraftConnectDispatch.run(Some(v), e, "filter_edges",
      """{"condition": "w < 2.0"}""")
    assert(fe.count() == 2)
  }

  test("dispatch covers betweenness and closeness") {
    // path 0->1->2->3: interior betweenness 2; closeness(0) = 0.5
    val v = spark.sql("SELECT * FROM VALUES (0L),(1L),(2L),(3L) AS t(id)")
    val e = spark.sql("SELECT * FROM VALUES (0L,1L),(1L,2L),(2L,3L) AS t(src, dst)")
    val b = GraftConnectDispatch.run(Some(v), e, "betweenness",
      """{"normalized": false}""")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(b(1L) == 2.0 && b(0L) == 0.0)
    val c = GraftConnectDispatch.run(Some(v), e, "closeness", "{}")
    assert(c.columns.toSet == Set("id", "closeness", "harmonic"))
    assert(c.filter("id = 0").head().getDouble(1) == 0.5)
  }

  test("dispatch covers ktruss and neighborhood_function") {
    // K4: every edge closes 2 triangles -> 4-truss keeps all 6 edges
    val v = spark.sql("SELECT * FROM VALUES (0L),(1L),(2L),(3L) AS t(id)")
    val e = spark.sql("""SELECT * FROM VALUES (0L,1L),(0L,2L),(0L,3L),
      (1L,2L),(1L,3L),(2L,3L) AS t(src, dst)""")
    val t = GraftConnectDispatch.run(Some(v), e, "ktruss", """{"k": 4}""")
    assert(t.count() == 6 && t.columns.contains("support"))
    val n = GraftConnectDispatch.run(Some(v), e, "neighborhood_function",
      """{"lgNomEntries": 10}""")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(n == Map(0 -> 4L, 1 -> 10L)) // transitive tournament: d=1 saturates
  }

  test("dispatch covers link_prediction, clustering_coefficient, weighted page_rank") {
    val v = spark.sql("SELECT * FROM VALUES (0L),(1L),(2L) AS t(id)")
    val e = spark.sql("SELECT * FROM VALUES (0L,1L,3.0),(1L,2L,1.0) AS t(src, dst, w)")
    val lp = GraftConnectDispatch.run(Some(v), e, "link_prediction", "{}")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(lp == Map((0L, 2L) -> 1L)) // the single distance-2 pair
    val cc = GraftConnectDispatch.run(Some(v), e, "clustering_coefficient", "{}")
    assert(cc.columns.contains("clustering_coeff") && cc.count() == 3)
    val pr = GraftConnectDispatch.run(Some(v), e, "page_rank",
      """{"maxIter": 1, "weightCol": "w"}""")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(math.abs(pr(1L) - (0.15 + 0.85 * 1.0)) < 1e-12) // all of 0's mass
  }

  test("dispatch covers louvain and modularity") {
    // two triangles bridged by 2 -> 3 resolve to one community each
    val v = spark.sql("SELECT * FROM VALUES (0L),(1L),(2L),(3L),(4L),(5L) AS t(id)")
    val e = spark.sql("""SELECT * FROM VALUES (0L,1L),(0L,2L),(1L,2L),
      (2L,3L),(3L,4L),(3L,5L),(4L,5L) AS t(src, dst)""")
    val c = GraftConnectDispatch.run(Some(v), e, "louvain", """{"maxIter": 4}""")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(Set(c(0L), c(1L), c(2L)).size == 1 && Set(c(3L), c(4L), c(5L)).size == 1)
    assert(c(0L) != c(3L))
    val q = GraftConnectDispatch.run(Some(v), e, "modularity", """{"maxIter": 4}""").head()
    assert(math.abs(q.getAs[Double]("modularity") - 70.0 / 196.0) < 1e-12)
    assert(q.getAs[Long]("n_communities") == 2L && q.getAs[Long]("m_edges") == 7L)
    // r10 params: coarse levels are a no-op on the optimal partition;
    // decimal gain scoring is bit-identical to the Long default
    val c2 = GraftConnectDispatch.run(Some(v), e, "louvain",
        """{"maxIter": 4, "levels": 2, "gainMode": "decimal"}""")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(c2 == c)
    // unknown params still fail loudly
    val err = intercept[IllegalArgumentException] {
      GraftConnectDispatch.run(Some(v), e, "louvain", """{"bogus": 1}""")
    }
    assert(err.getMessage.contains("bogus"))
    val as = GraftConnectDispatch.run(Some(v), e, "assortativity", "{}").head()
    assert(as.getAs[Long]("m_edges") == 7L)
  }

  test("dispatch covers rich_club, simrank, ppr_sweep, pipe_weighted_sample, pipe_rate_spikes") {
    // K4 {1..4} + K4 {5..8} + bridge 4-5 (the PPRSweepSpec fixture)
    val v = spark.sql(
      "SELECT * FROM VALUES (1L),(2L),(3L),(4L),(5L),(6L),(7L),(8L) AS t(id)")
    val cliqueEdges = (for (base <- Seq(1L, 5L); a <- base to base + 3;
        b <- base to base + 3 if a < b) yield s"(${a}L, ${b}L)")
    val e = spark.sql("SELECT * FROM VALUES " +
      (cliqueEdges :+ "(4L,5L)").mkString(",") + " AS t(src, dst)")
    val rc = GraftConnectDispatch.run(Some(v), e, "rich_club",
        """{"ks": [2, 3]}""")
      .collect().map(r => r.getAs[Int]("k") ->
        (r.getAs[Long]("n_k"), r.getAs[Long]("e_k"))).toMap
    assert(rc(2) == ((8L, 13L)) && rc(3) == ((2L, 1L))) // deg>3: {4,5}, bridge only
    val sr = GraftConnectDispatch.run(Some(v), e, "simrank",
        """{"maxIter": 2, "c": 0.8}""")
    assert(sr.columns.toSeq == Seq("a", "b", "simrank") && sr.count() > 0)
    val tc = GraftConnectDispatch.run(Some(v), e, "triad_census", "{}")
      .collect().map(r => r.getString(0) -> r.getDecimal(1).longValueExact()).toMap
    // two K4 cliques (undirected = asym here? no — VALUES arcs are single
    // direction, so cliques are 030T-saturated) + bridge; just pin totals
    assert(tc.values.sum == 56L && tc("030T") == 8L) // C(8,3); 4 per K4
    val sw = GraftConnectDispatch.run(Some(v), e, "ppr_sweep",
        """{"source": 1, "maxIter": 8, "sweepK": 8}""")
      .orderBy(org.apache.spark.sql.functions.col("rank")).collect()
    assert(sw.take(4).map(_.getAs[Long]("id")).toSet == Set(1L, 2L, 3L, 4L))
    assert(sw.filter(_.getAs[Boolean]("best")).map(_.getAs[Int]("rank")).toSeq == Seq(4))
    val missingSrc = intercept[IllegalArgumentException] {
      GraftConnectDispatch.run(Some(v), e, "ppr_sweep", "{}")
    }
    assert(missingSrc.getMessage.contains("source"))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50).withColumn("w",
        org.apache.spark.sql.functions.greatest(
          org.apache.spark.sql.functions.lit(1L),
          org.apache.spark.sql.functions.floor(
            org.apache.spark.sql.functions.col("n_chars") / 64)))
    val ws = GraftConnectDispatch.run(scala.None, docs, "pipe_weighted_sample",
      """{"idCol": "doc_id", "weightCol": "w", "k": 7}""")
    assert(ws.count() == 7 && ws.columns.contains("sample_rank"))
    val ev0 = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val sp = GraftConnectDispatch.run(scala.None, ev0, "pipe_rate_spikes",
      """{"lookback": 3}""")
    assert(sp.columns.contains("spike") && sp.count() > 0)
    // two-table decontamination: train = edges slot, bench = vertices
    val allDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cut = GraftConnectDispatch.run(
      Some(allDocs.filter("doc_id % 10 = 0")),
      allDocs.filter("doc_id % 10 <> 0"),
      "pipe_cut_contaminated",
      """{"idCol": "doc_id", "textCol": "text", "seedTokens": 4}""")
    assert(cut.columns.toSeq == Seq("doc_id", "clean_text", "n_removed_tokens"))
    assert(cut.filter("n_removed_tokens > 0").count() > 0)
  }

  test("dispatch covers bridges, articulation_points, two_edge_components, butterfly, pipe_containment, pipe_top_paths") {
    // triangles {0,1,2} and {3,4,5} joined by the bridge 2-3
    val v = spark.sql("SELECT * FROM VALUES (0L),(1L),(2L),(3L),(4L),(5L) AS t(id)")
    val e = spark.sql("""SELECT * FROM VALUES (0L,1L),(1L,2L),(0L,2L),
      (3L,4L),(4L,5L),(3L,5L),(2L,3L) AS t(src, dst)""")
    val br = GraftConnectDispatch.run(Some(v), e, "bridges", "{}")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getBoolean(2)).toMap
    assert(br((2L, 3L)) && br.count(_._2) == 1)
    val ap = GraftConnectDispatch.run(Some(v), e, "articulation_points",
        """{"smallGraphThreshold": 0}""") // forced distributed path
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(ap.filter(_._2).keySet == Set(2L, 3L))
    val tec = GraftConnectDispatch.run(Some(v), e, "two_edge_components", "{}")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tec == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L, 5L -> 3L))
    // butterfly reads (src=left, dst=pivot): K(2,2) = one butterfly
    val be = spark.sql("""SELECT * FROM VALUES (1L,10L),(1L,11L),
      (2L,10L),(2L,11L) AS t(src, dst)""")
    val bf = GraftConnectDispatch.run(Some(v), be, "butterfly", "{}").head()
    assert(bf.getAs[Long]("n_butterflies") == 1L)
    val bfv = GraftConnectDispatch.run(Some(v), be, "butterfly",
      """{"part": "vertex"}""")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("butterflies")).toMap
    assert(bfv == Map(1L -> 1L, 2L -> 1L))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cp = GraftConnectDispatch.run(scala.None, docs, "pipe_containment",
      """{"idCol": "doc_id", "textCol": "text", "threshold": 0.4, "maxDocFreq": 1000}""")
    assert(cp.columns.toSeq == Seq("a", "b", "shared", "containment") && cp.count() > 0)
    val ev1 = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val tp = GraftConnectDispatch.run(scala.None, ev1, "pipe_top_paths",
      """{"maxSteps": 3, "k": 5}""")
    assert(tp.columns.toSeq == Seq("path", "n_sessions") && tp.count() == 5)
  }

  test("dispatch covers eigenvector, minimum_spanning_forest, pipe_knn_graph") {
    val v = spark.sql("SELECT * FROM VALUES (0L),(1L),(2L),(3L) AS t(id)")
    val e = spark.sql("""SELECT * FROM VALUES (0L,1L,1.0),(1L,2L,2.0),
      (2L,0L,3.0),(2L,3L,4.0) AS t(src, dst, w)""")
    val ev = GraftConnectDispatch.run(Some(v), e, "eigenvector",
      """{"maxIter": 6}""").collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(math.abs(ev.values.max - 1.0) < 1e-15 && ev.size == 4)
    val msf = GraftConnectDispatch.run(Some(v), e, "minimum_spanning_forest",
      """{"weightCol": "w"}""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(msf == Set((0L, 1L, 1.0), (1L, 2L, 2.0), (2L, 3L, 4.0)))
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(30)
    val kg = GraftConnectDispatch.run(scala.None, emb, "pipe_knn_graph",
      """{"idCol": "vec_id", "vecCol": "embedding", "k": 3}""")
    assert(kg.columns.toSeq == Seq("src", "dst"))
    val kgd = GraftConnectDispatch.run(scala.None, emb, "pipe_knn_graph",
      """{"idCol": "vec_id", "vecCol": "embedding", "k": 3, "mutual": false}""")
    assert(kgd.columns.toSeq == Seq("src", "dst", "rnk") && kgd.count() == 90)
    val ebt = GraftConnectDispatch.run(Some(v), e, "edge_betweenness", "{}")
    assert(ebt.columns.toSeq == Seq("src", "dst", "edge_betweenness")
      && ebt.count() == 4)
    // one-row metrics: triangle 0->1->2->0 plus the pendant 2->3 edge
    val rc = GraftConnectDispatch.run(Some(v), e, "reciprocity", "{}").head()
    assert(rc.getAs[Long]("m_edges") == 4L && rc.getAs[Long]("m_mutual") == 0L)
    val tr = GraftConnectDispatch.run(Some(v), e, "transitivity", "{}").head()
    assert(tr.getAs[Long]("n_triangles") == 1L && tr.getAs[Long]("n_wedges") == 5L)
    // label spreading over the embedding fixture needs a label column
    val embL = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(40)
    val ls = GraftConnectDispatch.run(scala.None, embL, "pipe_label_spread",
      """{"idCol": "vec_id", "vecCol": "embedding", "labelCol": "label",
        |"k": 3, "rounds": 2, "seedFraction": 0.5}""".stripMargin)
    assert(ls.columns.toSeq == Seq("vec_id", "label", "is_seed") && ls.count() == 40)
    val missingLab = intercept[IllegalArgumentException] {
      GraftConnectDispatch.run(scala.None, embL, "pipe_label_spread",
        """{"idCol": "vec_id", "vecCol": "embedding"}""")
    }
    assert(missingLab.getMessage.contains("labelCol"))
    val rp = GraftConnectDispatch.run(scala.None, embL, "pipe_random_projection",
      """{"idCol": "vec_id", "vecCol": "embedding", "dOut": 8}""")
    assert(rp.columns.toSeq == Seq("vec_id", "reduced") && rp.count() == 40)
    assert(rp.head().getSeq[Double](1).length == 8)
    // events-shaped ops through the pipe surface
    val evs = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val fn = GraftConnectDispatch.run(scala.None, evs, "pipe_funnel",
      """{"steps": ["view", "click", "purchase"], "windowMinutes": 10080}""")
      .collect().map(r => (r.getInt(0), r.getLong(2))).toMap
    assert(fn.size == 3 && fn(1) >= fn(2) && fn(2) >= fn(3))
    val co = GraftConnectDispatch.run(scala.None, evs, "pipe_cohort", "{}")
    assert(co.columns.toSeq == Seq("cohort_week", "week_offset", "n_users")
      && co.count() > 0)
    val badSteps = intercept[IllegalArgumentException] {
      GraftConnectDispatch.run(scala.None, evs, "pipe_funnel", "{}")
    }
    assert(badSteps.getMessage.contains("steps"))
    val ad = GraftConnectDispatch.run(scala.None, evs, "pipe_approx_distinct",
      """{"groupCol": "event_type", "valueCol": "user_id", "k": 8}""")
    assert(ad.columns.toSeq == Seq("event_type", "approx_distinct")
      && ad.count() == 5)
    val gs = GraftConnectDispatch.run(scala.None, evs, "pipe_group_sample",
      """{"groupCol": "event_type", "idCol": "event_id", "k": 3}""")
    assert(gs.count() == 15 && gs.columns.sameElements(evs.columns))
    val docs2 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    val pmi = GraftConnectDispatch.run(scala.None, docs2, "pipe_pmi_bigrams",
      """{"idCol": "doc_id", "textCol": "text", "minCount": 2, "topK": 5}""")
    assert(pmi.columns.toSeq == Seq("w1", "w2", "pair_count", "pmi")
      && pmi.count() <= 5)
  }

  test("dispatch covers aggregate_neighbors path mode (accumulators over the wire)") {
    // diamond 0 -> {1,2} -> 3: two paths, costs 2.0 and 6.0
    val v = spark.sql("SELECT * FROM VALUES (0L),(1L),(2L),(3L) AS t(id)")
    val e = spark.sql(
      "SELECT * FROM VALUES (0L,1L,1.0),(0L,2L,5.0),(1L,3L,1.0),(2L,3L,1.0) AS t(src, dst, w)")
    val res = GraftConnectDispatch.run(Some(v), e, "aggregate_neighbors",
      """{"startingVertices": "id = 0", "maxHops": 3,
        |"targetCondition": "dst_attributes.id = 3",
        |"accNames": ["cost"], "accInits": ["CAST(0.0 AS DOUBLE)"],
        |"accUpdates": ["cost + edge_attributes.w"]}""".stripMargin)
    assert(res.columns.toSeq == Seq("cost", "id", "hop"))
    val got = res.collect().map(r => (r.getDouble(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((2.0, 3L, 2), (6.0, 3L, 2)))
    // aggCol and accumulators are exclusive modes — mixing fails loudly
    val err = intercept[IllegalArgumentException] {
      GraftConnectDispatch.run(Some(v), e, "aggregate_neighbors",
        """{"aggCol": "count(1) AS n", "accNames": ["x"],
          |"accInits": ["0"], "accUpdates": ["x"],
          |"stoppingCondition": "true"}""".stripMargin)
    }
    assert(err.getMessage.contains("mutually exclusive"))
  }

  /** Runs the Python package's encoder (python/graft/wire.py — the exact
   * code client.py ships on the wire) over real relation payloads and
   * returns the Any bytes a remote client would send; None if python3 is
   * unavailable. */
  private def pythonWrap(algorithm: String, params: String,
      v: Option[Array[Byte]], e: Array[Byte]): Option[Array[Byte]] =
    try {
      val p = new ProcessBuilder("python3", "python/graft/wire.py", "--wrap",
        algorithm, if (params.isEmpty) "-" else params,
        v.map(_.map("%02x".format(_)).mkString).getOrElse("-"),
        e.map("%02x".format(_)).mkString)
        .redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toSeq
      if (p.waitFor() == 0) Some(out.last.trim.grouped(2)
        .map(Integer.parseInt(_, 16).toByte).toArray)
      else None
    } catch { case _: java.io.IOException => None }

  test("python client encoding drives the plugin end to end (hash-matched)") {
    // The full client path minus the gRPC socket (no grpcio in this
    // environment): REAL spark.connect.Relation payloads drive the
    // plugin through a real SparkConnectPlanner; results must equal the
    // Scala API row-for-row.
    val cases = Seq(
      ("page_rank", """{"resetProb": 0.15, "maxIter": 5}""",
        (g: GraphFrame) => g.pageRank.resetProbability(0.15).maxIter(5)
          .run().vertices.select("id", "pagerank")),
      ("connected_components", "",
        (g: GraphFrame) => g.connectedComponents.run()),
      ("find", """{"pattern": "(x)-[]->(y); (y)-[]->(x)"}""",
        (g: GraphFrame) => g.find("(x)-[]->(y); (y)-[]->(x)")))
    cases.foreach { case (alg, params, direct) =>
      pythonWrap(alg, params, Some(sqlRelation(vSql)), sqlRelation(eSql)) match {
        case None => cancel("python3 not available")
        case Some(anyBytes) =>
          val plan = new GraftRelationPlugin().transform(anyBytes, planner)
          assert(plan.isPresent, s"plugin returned empty for $alg")
          val out = GraftShims.ofRows(spark.asInstanceOf[ClassicSession], plan.get())
          val expect = direct(GraphFrame(spark.sql(vSql), spark.sql(eSql)))
          val cols = expect.columns.toSeq
          assert(rows(out.select(cols.map(out(_)): _*)) == rows(expect),
            s"python-encoded $alg result diverged from the Scala API")
      }
    }
  }

  private val docSql =
    """SELECT * FROM VALUES
      |  (0, 'the quick brown fox jumps over the lazy dog'),
      |  (1, 'the quick brown fox jumps over the lazy dog'),
      |  (2, 'pack my box with five dozen liquor jugs'),
      |  (3, 'sphinx of black quartz judge my vow')
      |AS t(doc_id, text)""".stripMargin

  test("pipeline op through the full plugin path equals the Scala API") {
    // single-table contract: input rides in the edges slot, no vertices
    val out = callPlugin(GraftRelation("pipe_token_count",
      None, Some(sqlRelation(docSql)),
      """{"idCol": "doc_id", "textCol": "text"}"""))
    val direct = pipeline.Text.tokenCount(spark.sql(docSql), "doc_id", "text")
    assert(rows(out) == rows(direct))
  }

  test("python client encoding drives a pipeline op end to end") {
    pythonWrap("pipe_near_dup_clusters",
      """{"idCol": "doc_id", "textCol": "text"}""",
      None, sqlRelation(docSql)) match {
      case None => cancel("python3 not available")
      case Some(anyBytes) =>
        val plan = new GraftRelationPlugin().transform(anyBytes, planner)
        assert(plan.isPresent)
        val out = GraftShims.ofRows(spark.asInstanceOf[ClassicSession], plan.get())
        val direct = pipeline.Dedup.nearDupClusters(spark.sql(docSql), "doc_id", "text")
        assert(rows(out) == rows(direct))
        // the exact-duplicate pair 0/1 must share keep_id 0
        assert(out.filter("doc_id = 1 AND keep_id = 0").count() == 1)
    }
  }

  test("dispatch covers every pipeline operator") {
    val docs = spark.sql(docSql)
    def run(alg: String, params: String) =
      GraftConnectDispatch.run(scala.None, docs, alg, params)
    assert(run("pipe_exact_dedup",
      """{"idCol": "doc_id", "contentCols": ["text"]}""").count() == 4)
    assert(run("pipe_minhash_lsh",
      """{"idCol": "doc_id", "textCol": "text"}""").count() >= 1) // the 0/1 dup pair
    assert(run("pipe_simhash",
      """{"idCol": "doc_id", "textCol": "text", "bits": 16}""").count() == 4)
    assert(run("pipe_segment_dedup",
      """{"idCol": "doc_id", "textCol": "text", "windowWords": 3,
         |"maxDupCount": 1, "lowercase": true}""".stripMargin).count() == 4)
    assert(run("pipe_language_id",
      """{"idCol": "doc_id", "textCol": "text"}""").count() == 4)
    assert(run("pipe_quality",
      """{"idCol": "doc_id", "textCol": "text"}""").count() == 4)
    assert(run("pipe_char_entropy",
      """{"idCol": "doc_id", "textCol": "text"}""").count() == 4)
    assert(run("pipe_redact_pii",
      """{"idCol": "doc_id", "textCol": "text"}""").count() == 4)
    assert(run("pipe_hash_sample",
      """{"idCol": "doc_id", "fraction": 1.0}""").count() == 4)
    assert(run("pipe_importance_sample",
      """{"idCol": "doc_id", "weightCol": "doc_id", "targetFraction": 1.0}""")
      .count() >= 3) // near-total target keeps (almost) everything
    // the one two-table pipe op: left in the vertices slot
    val asofL = spark.sql("SELECT 1 AS k, 10 AS ts UNION ALL SELECT 1, 30")
    val asofR = spark.sql("SELECT 1 AS k, 5 AS ts, 100 AS rid UNION ALL SELECT 1, 20, 200")
    val asof = GraftConnectDispatch.run(Some(asofL), asofR, "pipe_asof_join",
      """{"on": ["k"], "leftTs": "ts", "rightTs": "ts", "rightCols": ["rid"]}""")
      .collect().map(r => r.getInt(1) -> r.get(2)).toMap
    assert(asof === Map(10 -> 100, 30 -> 200))
    intercept[IllegalArgumentException] {
      GraftConnectDispatch.run(scala.None, asofR, "pipe_asof_join",
        """{"on": ["k"], "leftTs": "ts", "rightTs": "ts", "rightCols": ["rid"]}""")
    }
    assert(run("pipe_bigram_lm",
      """{"idCol": "doc_id", "textCol": "text"}""").count() == 4)
    // r10 span ops: the 0/1 near-dup pair shares a run >= 4 tokens
    assert(run("pipe_dup_spans_maximal",
      """{"idCol": "doc_id", "textCol": "text", "seedTokens": 4}""").count() >= 2)
    assert(run("pipe_cut_dup_spans",
      """{"idCol": "doc_id", "textCol": "text", "seedTokens": 4}""").count() == 4)
    assert(run("pipe_bpe_train",
      """{"textCol": "text", "numMerges": 2}""").count() == 2)
    assert(run("pipe_bpe_encode",
      """{"idCol": "doc_id", "textCol": "text", "numMerges": 2}""").count() == 4)
    assert(run("pipe_vocab_oov",
      """{"idCol": "doc_id", "textCol": "text", "vocabSize": 5}""").count() == 4)
    // mixture sampling through the JSON object parameter; an empty
    // fraction map is a loud client error, not an empty result
    assert(run("pipe_mixture_sample",
      """{"idCol": "doc_id", "strataCol": "text",
         |"fractions": {"the quick brown fox jumps over the lazy dog": 1.0}}"""
        .stripMargin).count() >= 1)
    intercept[IllegalArgumentException](run("pipe_mixture_sample",
      """{"idCol": "doc_id", "strataCol": "text", "fractions": {}}"""))
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    def runEmb(alg: String, params: String) =
      GraftConnectDispatch.run(scala.None, emb, alg, params)
    assert(runEmb("pipe_ann_topk",
      """{"idCol": "vec_id", "vecCol": "embedding", "k": 2}""").count() > 0)
    assert(runEmb("pipe_ann_ivf_hier",
      """{"idCol": "vec_id", "vecCol": "embedding", "k": 2,
         |"nsuper": 2, "nlistPer": 2, "wprobe": 2, "nprobe": 4}""".stripMargin).count() > 0)
    assert(runEmb("pipe_semantic_dedup",
      """{"idCol": "vec_id", "vecCol": "embedding", "threshold": 0.95,
         |"nlist": 4}""".stripMargin).count() == 50)
    // multimodal ops: one real PNG through decode/resize/histogram, and
    // WAV audio through decode — all via the dispatch surface
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, 0x336699)
    val ibos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", ibos)
    import spark.implicits._
    val media = Seq((1L, ibos.toByteArray)).toDF("id", "payload")
    def runMedia(alg: String, params: String) =
      GraftConnectDispatch.run(scala.None, media, alg, params)
    val dec = runMedia("pipe_image_decode",
      """{"idCol": "id", "binCol": "payload"}""").collect().head
    assert(dec.getAs[Int]("width") == 4 && dec.getAs[Long]("sum_b") == 16L * 0x99)
    assert(runMedia("pipe_image_resize",
      """{"idCol": "id", "binCol": "payload", "width": 2, "height": 2}""").count() == 1)
    assert(runMedia("pipe_image_histogram",
      """{"idCol": "id", "binCol": "payload", "bins": 4}""").count() == 1)
    val pcm = Array[Byte](0x10, 0x00, 0x20, 0x00)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val abos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 2L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, abos)
    val audio = Seq((1L, abos.toByteArray)).toDF("id", "payload")
    val adec = GraftConnectDispatch.run(scala.None, audio, "pipe_audio_decode",
      """{"idCol": "id", "binCol": "payload"}""").collect().head
    assert(adec.getAs[Int]("sample_rate") == 8000 &&
      adec.getAs[Long]("sum_abs") == 0x10L + 0x20L)
  }

  test("dispatch covers round-11 ops: cliques, negative_samples, graphml, " +
      "cms, fuzzy pairs, co-occurrence, transitions") {
    val v = spark.sql("SELECT * FROM VALUES (0L),(1L),(2L),(3L) AS t(id)")
    val e = spark.sql("""SELECT * FROM VALUES (0L,1L),(1L,2L),(2L,0L),
      (0L,2L),(2L,3L) AS t(src, dst)""")
    val tri = GraftConnectDispatch.run(Some(v), e, "triangles", "{}")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(tri == Set((0L, 1L, 2L)))
    assert(GraftConnectDispatch.run(Some(v), e, "cliques4", "{}").count() == 0)
    val gml = GraftConnectDispatch.run(Some(v), e, "to_graphml",
      """{"directed": true}""").collect().map(_.getString(2))
    assert(gml.exists(_.contains("<graphml")) &&
      gml.count(_.contains("<node")) == 4 && gml.count(_.contains("<edge")) == 5)
    val neg = GraftConnectDispatch.run(Some(v), e, "negative_samples",
      """{"k": 2, "seed": 3}""")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val eset = Set((0L, 1L), (1L, 2L), (2L, 0L), (0L, 2L), (2L, 3L))
    assert(neg.nonEmpty && neg.forall(p =>
      !eset.contains(p) && !eset.contains(p.swap)))
    val docs = spark.sql(docSql)
    val cms = GraftConnectDispatch.run(scala.None, docs, "pipe_cms_topk",
      """{"keyCol": "text", "k": 1, "width": 4096}""").head()
    assert(cms.getAs[Long]("est") == 2L) // the duplicated document text
    val fz = GraftConnectDispatch.run(scala.None, docs, "pipe_fuzzy_pairs",
      """{"idCol": "doc_id", "textCol": "text",
         |"blockExpr": "substr(text, 1, 3)", "maxDist": 0}""".stripMargin)
    assert(fz.columns.toSeq == Seq("id_a", "id_b", "dist") && fz.count() >= 1)
    val basket = spark.sql(
      "SELECT * FROM VALUES (1, 'a'), (1, 'b'), (2, 'a'), (2, 'b') AS t(o, i)")
    val co = GraftConnectDispatch.run(scala.None, basket, "pipe_co_occurrence",
      """{"basketCol": "o", "itemCol": "i"}""").head()
    assert(co.getString(0) == "a" && co.getString(1) == "b" && co.getLong(2) == 2L)
    assert(GraftConnectDispatch.run(scala.None, basket, "pipe_also_bought",
      """{"basketCol": "o", "itemCol": "i", "k": 1}""").count() == 2)
    val ev2 = spark.sql(
      """SELECT * FROM VALUES (1L, TIMESTAMP '2024-01-01 00:00:00', 7L, 'a', 0.0, ''),
        |(2L, TIMESTAMP '2024-01-01 00:01:00', 7L, 'b', 0.0, '')
        |AS t(event_id, ts, user_id, event_type, value, props)""".stripMargin)
    val tm = GraftConnectDispatch.run(scala.None, ev2, "pipe_transition_matrix",
      """{"gapMinutes": 30}""").head()
    assert(tm.getString(0) == "a" && tm.getString(1) == "b" &&
      tm.getAs[Double]("p") == 1.0)
  }

  test("dispatch covers round-12 ops: maximal_matching, voronoi, " +
      "multi-key fuzzy pairs, dsir, budget_select") {
    val v = spark.sql("SELECT * FROM VALUES (0L),(1L),(2L),(3L) AS t(id)")
    val e = spark.sql("""SELECT * FROM VALUES (0L,1L),(1L,2L),(2L,3L)
      AS t(src, dst)""")
    val mm = GraftConnectDispatch.run(Some(v), e, "maximal_matching",
      """{"seed": 5}""").collect()
    val mv = mm.flatMap(r => Seq(r.getLong(0), r.getLong(1)))
    assert(mv.distinct.length == mv.length && mm.nonEmpty)
    val vor = GraftConnectDispatch.run(Some(v), e, "voronoi",
      """{"seeds": [3]}""").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) -1 else r.getInt(2))).toMap
    assert(vor == Map(0L -> 3, 1L -> 2, 2L -> 1, 3L -> 0), vor.toString)
    val docs = spark.sql(docSql)
    val fzm = GraftConnectDispatch.run(scala.None, docs, "pipe_fuzzy_pairs",
      """{"idCol": "doc_id", "textCol": "text",
         |"blockExprs": ["substr(text, 1, 3)", "length(text)"],
         |"maxDist": 0}""".stripMargin)
    assert(fzm.columns.toSeq == Seq("id_a", "id_b", "dist") && fzm.count() >= 1)
    val ds = GraftConnectDispatch.run(scala.None, docs, "pipe_dsir",
      """{"idCol": "doc_id", "textCol": "text",
         |"targetExpr": "doc_id < 2", "buckets": 64}""".stripMargin)
    assert(ds.columns.toSeq == Seq("doc_id", "n_bigrams", "log_weight") &&
      ds.count() == docs.count())
    val docsN = docs.selectExpr("doc_id", "text", "length(text) AS n")
    val bs = GraftConnectDispatch.run(scala.None, docsN, "pipe_budget_select",
      """{"idCol": "doc_id", "groupCol": "text", "tokenCol": "n",
         |"budget": 1000000}""".stripMargin)
    assert(bs.columns.toSeq ==
      Seq("doc_id", "text", "n", "rank", "cum_tokens") &&
      bs.count() == docs.count())
    val web = docs.selectExpr("doc_id",
      "concat('<p>', text, '</p><!-- c -->') AS html",
      "concat('HTTPS://A.B:443/x/?utm_source=s&k=', doc_id) AS url")
    val sm = GraftConnectDispatch.run(scala.None, web, "pipe_strip_markup",
      """{"idCol": "doc_id", "htmlCol": "html"}""")
    assert(sm.columns.toSeq == Seq("doc_id", "text", "n_tags") &&
      sm.filter("n_tags != 3").isEmpty) // <p>, </p>, and the comment
    val uc = GraftConnectDispatch.run(scala.None, web, "pipe_url_canonical",
      """{"idCol": "doc_id", "urlCol": "url"}""")
    assert(uc.columns.toSeq == Seq("doc_id", "url_canon", "host", "url_key") &&
      uc.filter("url_canon NOT LIKE 'https://a.b/x?k=%'").isEmpty)
    val hs = GraftConnectDispatch.run(scala.None, web, "pipe_host_stats",
      """{"idCol": "doc_id", "urlCol": "url"}""").collect()
    assert(hs.length == 1 && hs.head.getString(0) == "a.b" &&
      hs.head.getLong(1) == docs.count(), hs.mkString(","))
    val oldSnap = docs.limit(2)
    val cd = GraftConnectDispatch.run(Some(oldSnap), docs, "pipe_corpus_diff",
      """{"idCol": "doc_id", "textCol": "text"}""")
    assert(cd.filter("status = 'unchanged'").count() == 2 &&
      cd.filter("status = 'added'").count() == docs.count() - 2)
    intercept[IllegalArgumentException] {
      GraftConnectDispatch.run(scala.None, docs, "pipe_corpus_diff",
        """{"idCol": "doc_id", "textCol": "text"}""")
    }
    val gq = GraftConnectDispatch.run(scala.None,
      docs.selectExpr("doc_id % 2 AS grp", "length(text) AS v"),
      "pipe_group_quantiles", """{"groupCol": "grp", "valueCol": "v",
        |"qs": [0.5, 1.0]}""".stripMargin)
    assert(gq.columns.toSeq == Seq("grp", "q", "value", "n") &&
      gq.count() == 4) // 2 groups x 2 quantiles
    val kb = GraftConnectDispatch.run(scala.None,
      docs.selectExpr("doc_id % 2 AS cl", "doc_id", "length(text) AS sc"),
      "pipe_keep_best",
      """{"clusterCol": "cl", "idCol": "doc_id", "scoreCol": "sc"}""")
    assert(kb.columns.toSeq == Seq("cl", "doc_id", "sc", "n_members") &&
      kb.count() == 2)
    val qc = GraftConnectDispatch.run(scala.None,
      docs.selectExpr("doc_id % 2 AS grp", "doc_id",
        "CAST(doc_id AS DOUBLE) AS sc"),
      "pipe_quantile_cut",
      """{"groupCol": "grp", "scoreCol": "sc", "q": 1.0}""")
    // q=1 gates at each group's max — exactly one (distinct-score) keep
    // per group, schema unchanged
    assert(qc.columns.toSeq == Seq("grp", "doc_id", "sc") &&
      qc.count() == 2, qc.count().toString)
    val pages = docs.selectExpr("doc_id",
      "concat('http://h', doc_id % 2, '.com/p') AS url",
      "concat('<a href=\"http://T.com/', doc_id, '\">t</a>" +
        "<a href=\"/rel\">r</a>') AS html")
    val el = GraftConnectDispatch.run(scala.None, pages, "pipe_extract_links",
      """{"idCol": "doc_id", "htmlCol": "html"}""")
    assert(el.columns.toSeq == Seq("doc_id", "link") &&
      el.count() == docs.count() * 2)
    val lg = GraftConnectDispatch.run(scala.None, pages, "pipe_link_graph",
      """{"idCol": "doc_id", "urlCol": "url", "htmlCol": "html"}""")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // each of the two source hosts links to t.com and (via /rel) itself
    assert(lg.size == 4 && lg.keys.count(_._2 == "t.com") == 2 &&
      lg.contains(("h0.com", "h0.com")), lg.toString)
    val uv = GraftConnectDispatch.run(scala.None, docs, "pipe_unigram_train",
      """{"textCol": "text", "vocabSize": 5, "maxPieceLen": 3,
        |"iterations": 1}""".stripMargin)
    assert(uv.columns.toSeq == Seq("piece", "count", "cost_micro_nats") &&
      uv.count() >= 5, uv.count().toString)
    val ue = GraftConnectDispatch.run(Some(uv), docs, "pipe_unigram_encode",
      """{"idCol": "doc_id", "textCol": "text", "maxPieceLen": 3}""")
    assert(ue.columns.toSeq == Seq("doc_id", "n_words", "n_tokens_unigram",
      "cost_micro_nats", "n_words_skipped") && ue.count() == 4 &&
      ue.filter("n_words_skipped > 0").count() == 0, ue.count().toString)
    val hr = GraftConnectDispatch.run(scala.None, pages, "pipe_host_rank",
      """{"idCol": "doc_id", "urlCol": "url", "htmlCol": "html",
        |"maxIter": 5}""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // t.com is a pure sink fed by both source hosts: it must outrank them
    assert(hr.size == 3 && hr("t.com") > hr("h0.com") &&
      hr("t.com") > hr("h1.com"), hr.toString)
    val wv = GraftConnectDispatch.run(scala.None, docs, "pipe_wordpiece_vocab",
      """{"textCol": "text", "vocabSize": 5, "maxPieceLen": 3}""")
    assert(wv.columns.toSeq == Seq("piece", "count") && wv.count() >= 5,
      wv.count().toString)
    val we = GraftConnectDispatch.run(Some(wv), docs, "pipe_wordpiece_encode",
      """{"idCol": "doc_id", "textCol": "text", "maxPieceLen": 3}""")
    // all single chars are in the vocab → every word segments, zero UNK
    assert(we.columns.toSeq == Seq("doc_id", "n_words", "n_tokens_wordpiece",
      "n_words_unk") && we.count() == 4 &&
      we.filter("n_words_unk > 0").count() == 0, we.count().toString)
    val gr = GraftConnectDispatch.run(scala.None, docs, "pipe_gopher_rules",
      """{"idCol": "doc_id", "textCol": "text", "minWords": 1,
        |"minStopwords": 0, "stopwords": ["the"]}""".stripMargin)
    assert(gr.columns.contains("keep") && gr.count() == 4 &&
      gr.filter("n_words >= 1").count() == 4, gr.count().toString)
  }

  test("pipe_hash_sample seed: typed, range-checked, and honored") {
    val docs = spark.sql(docSql)
    def run(params: String) =
      GraftConnectDispatch.run(scala.None, docs, "pipe_hash_sample", params)
    val viaConnect = run("""{"idCol": "doc_id", "fraction": 0.5, "seed": 7}""")
    val direct = pipeline.Sampling.hashSample(docs, "doc_id", 0.5, seed = 7L)
    assert(rows(viaConnect) == rows(direct))
    assert(rows(run("""{"idCol": "doc_id", "fraction": 0.5, "seed": 7.0}""")) == rows(direct))
    for (bad <- Seq("\"7\"", "7.5", "18446744073709551616")) {
      val err = intercept[IllegalArgumentException] {
        run(s"""{"idCol": "doc_id", "fraction": 0.5, "seed": $bad}""")
      }
      assert(err.getMessage.contains("'seed'") && err.getMessage.contains("64-bit"),
        s"seed $bad: ${err.getMessage}")
    }
  }

  test("rw_embeddings and random_walks seeds: typed and range-checked") {
    val v = spark.sql("SELECT * FROM VALUES (0L),(1L),(2L) AS t(id)")
    val e = spark.sql("SELECT * FROM VALUES (0L,1L),(1L,2L),(2L,0L) AS t(src, dst)")
    def run(alg: String, params: String) =
      GraftConnectDispatch.run(Some(v), e, alg, params)
    val emb = """"dim": 4, "walkLength": 2, "walksPerVertex": 1"""
    assert(run("rw_embeddings", s"""{$emb, "seed": 9223372036854775807}""").count() == 3)
    for ((alg, base) <- Seq("rw_embeddings" -> emb,
        "random_walks" -> """"walkLength": 2, "walksPerVertex": 1""");
        bad <- Seq("\"7\"", "-9223372036854775809")) {
      val err = intercept[IllegalArgumentException] {
        run(alg, s"""{$base, "seed": $bad}""")
      }
      assert(err.getMessage.contains("'seed'") && err.getMessage.contains("64-bit"),
        s"$alg seed $bad: ${err.getMessage}")
    }
  }

  test("Long-typed keys take 64-bit values; ids out of 64-bit range fail naming the key") {
    val v = spark.sql("SELECT * FROM VALUES (0L),(1L),(2L) AS t(id)")
    val e = spark.sql(
      "SELECT * FROM VALUES (0L,1L,1.0),(1L,2L,2.0) AS t(src, dst, time)")
    def run(alg: String, params: String) = GraftConnectDispatch.run(Some(v), e, alg, params)
    // 2^32 is a valid hash seed; the 32-bit reader used to reject it
    val ic = run("independent_cascade", """{"seeds": [0], "hashSeed": 4294967296}""")
    assert(ic.columns.toSeq == Seq("id", "round") && ic.count() >= 1)
    // 2^64 + 1 used to wrap to id 1 and run silently
    for ((alg, params, key) <- Seq(
        ("shortest_paths", """{"landmarks": [18446744073709551617]}""", "'landmarks'"),
        ("temporal_reachability", """{"source": 18446744073709551617}""", "'source'"))) {
      val err = intercept[IllegalArgumentException](run(alg, params))
      assert(err.getMessage.contains(key) && err.getMessage.contains("64-bit"),
        s"$alg: ${err.getMessage}")
    }
  }

  test("part accepts only its one recognised value on butterfly and sampling") {
    val v = spark.sql("SELECT * FROM VALUES (1L),(2L),(10L),(11L) AS t(id)")
    val e = spark.sql("SELECT * FROM VALUES (1L,10L),(1L,11L),(2L,10L),(2L,11L) AS t(src, dst)")
    def run(alg: String, params: String) = GraftConnectDispatch.run(Some(v), e, alg, params)
    for ((alg, bad, accepted) <- Seq(("butterfly", "vertices", "vertex"),
        ("sample_vertices", "vertex", "vertices"), ("sample_edges", "vertex", "vertices"))) {
      val err = intercept[IllegalArgumentException](run(alg, s"""{"part": "$bad"}"""))
      assert(err.getMessage.contains("'part'") && err.getMessage.contains(s""""$accepted""""),
        s"$alg: ${err.getMessage}")
    }
  }

  test("an unknown key is rejected before any Spark job runs") {
    val docs = spark.sql(docSql)
    def jobsOf(params: String): Int = observed(scala.util.Try(
      GraftConnectDispatch.run(scala.None, docs, "pipe_bpe_train", params))).jobs
    assert(jobsOf("""{"textCol": "text", "numMerge": 1}""") == 0)
    // pipe_bpe_train is eager: spelled right it runs jobs inside run(),
    // so the probe can see them
    assert(jobsOf("""{"textCol": "text", "numMerges": 1}""") > 0)
    val err = intercept[IllegalArgumentException] {
      GraftConnectDispatch.run(scala.None, docs, "pipe_bpe_train",
        """{"textCol": "text", "numMerge": 1}""")
    }
    assert(err.getMessage.contains("numMerge") && err.getMessage.contains("accepted"))
  }

  test("pipeline op with a vertices relation fails loudly") {
    val docs = spark.sql(docSql)
    val err = intercept[IllegalArgumentException] {
      GraftConnectDispatch.run(Some(docs), docs, "pipe_token_count",
        """{"idCol": "doc_id", "textCol": "text"}""")
    }
    assert(err.getMessage.contains("single-table"))
  }

  test("pipeline op with unknown parameter keys fails loudly") {
    val docs = spark.sql(docSql)
    val err = intercept[IllegalArgumentException] {
      GraftConnectDispatch.run(scala.None, docs, "pipe_simhash",
        """{"idCol": "doc_id", "textCol": "text", "bitz": 8}""")
    }
    assert(err.getMessage.contains("bitz") && err.getMessage.contains("accepted"))
  }

  test("dispatch covers the ops no other case names (output columns)") {
    val v = spark.sql(
      "SELECT * FROM VALUES (0L, 0),(1L, 0),(2L, 1),(3L, 1) AS t(id, comm)")
    val e = spark.sql("""SELECT * FROM VALUES (0L,1L,2.0,1.0),(1L,2L,3.0,2.0),
      (2L,0L,4.0,3.0),(2L,3L,1.0,4.0) AS t(src, dst, weight, time)""")
    val docs = spark.sql(docSql)
    val events = spark.sql(
      """SELECT * FROM VALUES (1L, TIMESTAMP '2024-01-01 00:00:00', 7L, 'view', 0.0, ''),
        |(2L, TIMESTAMP '2024-01-01 00:05:00', 7L, 'purchase', 9.5, '')
        |AS t(event_id, ts, user_id, event_type, value, props)""".stripMargin)
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val ibos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", ibos)
    import spark.implicits._
    val media = Seq((1L, ibos.toByteArray)).toDF("id", "payload")
    val points = spark.sql("SELECT 1 AS k, TIMESTAMP '2024-01-01 00:30:00' AS ts")
    val intervals = spark.sql("SELECT 1 AS k, TIMESTAMP '2024-01-01 00:00:00' AS s, " +
      "TIMESTAMP '2024-01-01 01:00:00' AS e, 7 AS rid")
    val textIds = """"idCol": "doc_id", "textCol": "text""""
    // (op, vertices slot, edges slot, params_json, expected output columns)
    val cases: Seq[(String, Option[DataFrame], DataFrame, String, Seq[String])] = Seq(
      ("conductance", Some(v), e, """{"attrCol": "comm"}""",
        Seq("community", "volume", "cut_edges", "internal_edges", "conductance")),
      ("graph_stats", Some(v), e, "{}",
        Seq("n_vertices", "n_edges", "n_distinct_edges", "n_self_loops",
          "max_out_degree", "max_in_degree", "n_isolated", "avg_out_degree")),
      ("greedy_coloring", Some(v), e, "{}", Seq("id", "comm", "color")),
      ("hits", Some(v), e, """{"maxIter": 3}""", Seq("id", "comm", "hub", "authority")),
      ("independent_cascade", Some(v), e, """{"seeds": [0], "p": 0.5}""",
        Seq("id", "round")),
      ("influence_max", Some(v), e, """{"k": 1}""", Seq("id", "round", "score")),
      ("salsa", Some(v), e, """{"maxIter": 3}""", Seq("id", "comm", "hub", "authority")),
      ("sample_edges", Some(v), e, """{"fraction": 1.0}""",
        Seq("src", "dst", "weight", "time")),
      ("sample_vertices", Some(v), e, """{"fraction": 1.0}""",
        Seq("src", "dst", "weight", "time")),
      ("sample_vertices", Some(v), e, """{"fraction": 1.0, "part": "vertices"}""",
        Seq("id", "comm")),
      ("temporal_reachability", Some(v), e, """{"source": 0}""", Seq("id", "arrival")),
      ("to_dot", Some(v), e, "{}", Seq("section", "sort_key", "line")),
      ("pipe_attribution_linear", scala.None, events, "{}",
        Seq("event_id", "user_id", "n_conversions", "credit")),
      ("pipe_chunk", scala.None, docs,
        s"""{$textIds, "chunkWords": 4, "overlapWords": 1}""",
        Seq("doc_id", "chunk_idx", "chunk_text", "n_words")),
      ("pipe_contaminated_spans", Some(docs.filter("doc_id = 0")),
        docs.filter("doc_id <> 0"), s"""{$textIds, "seedTokens": 4}""",
        Seq("doc_id", "pos", "len", "span")),
      ("pipe_dedup_quality", scala.None, docs, s"{$textIds}",
        Seq("n_true", "n_cand", "n_hit", "recall", "precision")),
      ("pipe_hash_split", scala.None, docs,
        """{"idCol": "doc_id", "fractions": {"train": 0.5, "test": 0.5}}""",
        Seq("doc_id", "text", "split")),
      ("pipe_image_ahash", scala.None, media,
        """{"idCol": "id", "binCol": "payload", "grid": 2}""",
        Seq("id", "ahash", "decoded")),
      ("pipe_nb_classifier", scala.None,
        docs.selectExpr("doc_id", "text", "CAST(doc_id % 2 AS STRING) AS label"),
        s"""{$textIds, "labelCol": "label"}""", Seq("doc_id", "predicted", "score")),
      ("pipe_normalize", scala.None, docs, s"{$textIds}",
        Seq("doc_id", "norm_text", "n_chars", "n_chars_norm")),
      ("pipe_range_join", Some(points), intervals,
        """{"on": ["k"], "leftTs": "ts", "rightStart": "s", "rightEnd": "e",
          |"rightCols": ["rid"]}""".stripMargin, Seq("k", "ts", "r_rid")),
      ("pipe_rfm", scala.None, events, "{}",
        Seq("user_id", "recency_day", "frequency", "monetary_cents", "r", "f", "m")),
      ("pipe_shuffle_shards", scala.None, docs,
        """{"idCol": "doc_id", "numShards": 2}""", Seq("doc_id", "shard", "pos")),
      ("pipe_video_demux", scala.None, media,
        """{"idCol": "id", "binCol": "payload"}""",
        Seq("id", "stream", "kind", "frame_idx", "frame")))
    val wrong = cases.flatMap { case (op, vs, es, params, want) =>
      val got = GraftConnectDispatch.run(vs, es, op, params).columns.toSeq
      if (got == want) scala.None else Some(s"$op: got ${got.mkString(", ")}")
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("dispatch covers every method of the reference proto surface") {
    // graphframes.proto:19-42 oneof arms, minus the two exercised above
    // and the heavier ones covered by their own tests
    val v = spark.sql("SELECT * FROM VALUES (0L),(1L),(2L),(3L) AS t(id)")
    val e = spark.sql(
      "SELECT * FROM VALUES (0L,1L,2.0),(1L,2L,3.0),(2L,0L,4.0),(2L,3L,1.0) AS t(src, dst, weight)")
    def run(alg: String, params: String = "") =
      GraftConnectDispatch.run(Some(v), e, alg, params)
    assert(run("triplets").count() == 4)
    assert(run("in_degrees").count() == 4)
    assert(run("out_degrees").count() == 3)
    assert(run("drop_isolated_vertices").count() == 4)
    assert(run("filter_vertices", """{"condition": "id < 2"}""").count() == 2)
    assert(run("bfs", """{"fromExpr": "id = 0", "toExpr": "id = 3"}""").count() >= 1)
    assert(run("aggregate_messages",
      """{"sendToDst": "src.id", "aggCol": "count(MSG) AS n"}""").count() == 4)
    // only vertices with out-neighbors get a row: 0, 1, 2 (3 is a sink)
    assert(run("aggregate_neighbors",
      """{"aggCol": "count(1) AS n", "maxHops": 1}""").count() == 3)
    assert(run("strongly_connected_components").count() == 4)
    assert(run("parallel_personalized_page_rank",
      """{"sourceIds": [0, 1], "maxIter": 3}""").count() == 4)
    assert(run("label_propagation", """{"maxIter": 2}""").count() == 4)
    assert(run("triangle_count").count() == 4)
    assert(run("kcore").count() == 4)
    assert(run("maximal_independent_set").count() >= 1)
    assert(run("detecting_cycles").count() >= 1) // the 0->1->2->0 cycle
    assert(run("random_walks",
      """{"walkLength": 2, "walksPerVertex": 1, "hashMode": "md5"}""").count() == 4)
    assert(run("pregel",
      """{"vertexColName": "x", "initExpr": "CAST(1 AS BIGINT)",
         |"updateExpr": "coalesce(_pregel_msg_, CAST(0 AS BIGINT))",
         |"sendToDst": "src.x", "aggMsgs": "sum(_pregel_msg_)",
         |"maxIter": 2}""".stripMargin).count() == 4)
    assert(run("power_iteration_clustering",
      """{"k": 2, "maxIter": 5, "weightCol": "weight"}""").count() == 4)
    assert(run("svd_plus_plus", """{"rank": 2, "maxIter": 2}""").count() >= 1)
    assert(run("rw_embeddings",
      """{"dim": 4, "walkLength": 2, "walksPerVertex": 1}""").count() >= 1)
  }
}
