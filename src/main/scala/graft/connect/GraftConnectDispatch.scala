package graft.connect

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.GraphFrame
import graft.lib.{Butterflies, Cliques, IndependentCascade, TemporalReachability, TwoConnectivity}
import graft.multimodal.Multimodal
import graft.pipeline.{Classify, Dedup, Events, Recommend, Sampling, Similarity, Sketches,
  Text, Tokenizer, Web}

/**
 * Maps a (vertices, edges, algorithm, params) quadruple from a decoded
 * [[GraftRelation]] onto the Scala API — the Connect server's method
 * table, equivalent in role to the reference's per-message dispatch
 * (reference connect/.../GraphFramesConnect.scala maps each proto oneof
 * arm to a GraphFrame call). Pure DataFrame-in/DataFrame-out, so it is
 * unit-testable without a Connect server.
 *
 * Every op is ONE [[OpSpec]] entry in [[ops]]: the params_json keys it
 * accepts, the wire slots it reads, and the call it makes. The key
 * lists ([[acceptedParams]], [[pipelineParams]]), the algorithm list,
 * the unknown-key error and the slot errors all derive from that map,
 * and `ConnectPythonDriftSpec` checks python/graft/api.py against it.
 *
 * Parameters arrive as one JSON object (the proto carries it as
 * `params_json`) and are read through [[Params]], which owns every JSON
 * coercion; column-valued parameters are SQL expression strings parsed
 * with `expr()` — the same contract the reference's ColumnOrExpression
 * `expr` arm uses.
 */
object GraftConnectDispatch {

  /** The wire slots an op reads. */
  sealed trait Slots
  object Slots {
    /** A graph: the vertices slot, or vertices inferred from the edges. */
    case object Graph extends Slots
    /** One table in the edges slot (LLM-pipeline operators beyond the
     * reference's proto surface); a vertices relation is an error, since
     * it would be silently ignored. */
    case object OneTable extends Slots
    /** Two tables; `layout` says what rides in each slot. */
    final case class TwoTables(layout: String) extends Slots
  }

  /** One op: its accepted params_json keys, its slots, and its call,
   * given (vertices slot, edges slot, params). */
  final case class OpSpec(keys: Set[String], slots: Slots,
      run: (Option[DataFrame], DataFrame, Params) => DataFrame)

  /**
   * The params_json reader of one call. Every JSON coercion lives here.
   * A present-but-mistyped value is an error, not a silent fallback to
   * the default: remote clients get no other signal. Reading a key the
   * op's [[OpSpec]] does not declare is a bug in the table and throws
   * `IllegalStateException`.
   */
  final class Params private[GraftConnectDispatch] (op: String,
      declared: Set[String], fields: Map[String, JValue]) {

    private def get(k: String): Option[JValue] = {
      if (!declared(k)) throw new IllegalStateException(
        s"$op reads params_json key '$k', which its OpSpec does not declare")
      fields.get(k)
    }

    private def typed[T](k: String, what: String)(pf: PartialFunction[JValue, T]): Option[T] =
      get(k).map(v => pf.applyOrElse(v, (bad: JValue) => throw new IllegalArgumentException(
        s"params_json key '$k' must be $what, got: $bad")))

    private def each[T](k: String, what: String)(pf: PartialFunction[JValue, T]): Option[Seq[T]] =
      typed(k, s"an array of $what") { case JArray(vs) =>
        vs.map(v => pf.applyOrElse(v, (bad: JValue) => throw new IllegalArgumentException(
          s"params_json key '$k' entries must be $what, got: $bad")))
      }

    private val asStr: PartialFunction[JValue, String] = { case JString(s) => s }
    // range-check before narrowing: BigInt.toInt/toLong silently wrap, and
    // maxIter=2^32 running as maxIter=0 is the silent-wrong-parameter
    // failure this reader exists to prevent
    private val asInt: PartialFunction[JValue, Int] = {
      case JInt(i) if i.isValidInt => i.toInt
      case JLong(l) if l.isValidInt => l.toInt
      case JDouble(d) if d.isWhole && d >= Int.MinValue && d <= Int.MaxValue => d.toInt
    }
    private val asLong: PartialFunction[JValue, Long] = {
      case JInt(i) if i.isValidLong => i.toLong
      case JLong(l) => l
      // every whole double in [-2^63, 2^63) converts exactly
      case JDouble(d) if d.isWhole && d >= -9.223372036854775808e18 &&
          d < 9.223372036854775808e18 => d.toLong
    }
    private val asDbl: PartialFunction[JValue, Double] = {
      case JDouble(d) => d
      case JInt(i) => i.toDouble
      case JLong(l) => l.toDouble
    }
    private val asId: PartialFunction[JValue, Any] = asStr.orElse(asLong)

    def str(k: String): Option[String] = typed(k, "a string")(asStr)
    def int(k: String): Option[Int] = typed(k, "a 32-bit integer")(asInt)
    def long(k: String): Option[Long] = typed(k, "a 64-bit integer")(asLong)
    def dbl(k: String): Option[Double] = typed(k, "a number")(asDbl)
    def bool(k: String): Option[Boolean] = typed(k, "a boolean") { case JBool(b) => b }
    /** A vertex id: a string or a 64-bit integer. */
    def id(k: String): Option[Any] = typed(k, "a string or 64-bit integer id")(asId)
    def strs(k: String): Option[Seq[String]] = each(k, "strings")(asStr)
    def ints(k: String): Option[Seq[Int]] = each(k, "32-bit integers")(asInt)
    def nums(k: String): Option[Seq[Double]] = each(k, "numbers")(asDbl)
    def ids(k: String): Option[Seq[Any]] = each(k, "string or 64-bit integer ids")(asId)
    /** An object of name -> number. */
    def numMap(k: String): Option[Map[String, Double]] =
      typed(k, "an object of numbers") { case JObject(kvs) =>
        kvs.map { case (name, v) => name -> asDbl.applyOrElse(v, (bad: JValue) =>
          throw new IllegalArgumentException(
            s"params_json key '$k' entry '$name' must be a number, got: $bad"))
        }.toMap
      }

    /** True when `k` is `value`, false when `k` is absent; any other value
     * is an error (a one-valued enum, never a silent fallback). */
    def is(k: String, value: String): Boolean = str(k).exists { s =>
      if (s != value) throw new IllegalArgumentException(
        s"params_json key '$k' accepts only \"$value\" (or omit it), got: \"$s\"")
      true
    }

    private def req[T](k: String, v: Option[T]): T = v.getOrElse(
      throw new IllegalArgumentException(s"$op requires params_json key '$k'"))
    def reqStr(k: String): String = req(k, str(k))
    def reqInt(k: String): Int = req(k, int(k))
    def reqLong(k: String): Long = req(k, long(k))
    def reqDbl(k: String): Double = req(k, dbl(k))
    def reqId(k: String): Any = req(k, id(k))
    def reqStrs(k: String): Seq[String] = req(k, strs(k))
    def reqInts(k: String): Seq[Int] = req(k, ints(k))
    def reqNums(k: String): Seq[Double] = req(k, nums(k))
    def reqIds(k: String): Seq[Any] = req(k, ids(k))
    def reqNumMap(k: String): Map[String, Double] = req(k, numMap(k))
  }

  private def graph(keys: String*)(f: (GraphFrame, Params) => DataFrame): OpSpec =
    OpSpec(keys.toSet, Slots.Graph, (v, e, p) =>
      f(v.fold(GraphFrame.fromEdges(e))(GraphFrame(_, e)), p))

  private def table(keys: String*)(f: (DataFrame, Params) => DataFrame): OpSpec =
    OpSpec(keys.toSet, Slots.OneTable, (_, e, p) => f(e, p))

  /** `f` gets (vertices slot, edges slot, params). */
  private def twoTables(layout: String, keys: String*)(
      f: (DataFrame, DataFrame, Params) => DataFrame): OpSpec =
    OpSpec(keys.toSet, Slots.TwoTables(layout), (v, e, p) => f(v.get, e, p))

  private def twoConnectivity(f: TwoConnectivity => DataFrame): OpSpec =
    graph("smallGraphThreshold", "maxAncestorRows") { (g, p) =>
      val tc = g.twoConnectivity
      p.long("smallGraphThreshold").foreach(tc.setSmallGraphThreshold)
      p.long("maxAncestorRows").foreach(tc.setMaxAncestorRows)
      f(tc)
    }

  private def sample(f: (GraphFrame, Double, Long) => GraphFrame): OpSpec =
    // ONE table per call: the induced edges by default, or the sampled
    // vertex rows (with their attributes) when part=vertices — a remote
    // client fetches both with two calls
    graph("fraction", "seed", "part") { (g, p) =>
      val sg = f(g, p.dbl("fraction").getOrElse(0.1), p.long("seed").getOrElse(42L))
      if (p.is("part", "vertices")) sg.vertices else sg.edges
    }

  private def contamination(f: (DataFrame, DataFrame, String, String, Int, Int) => DataFrame) =
    twoTables("the TRAIN corpus in the edges slot, the BENCHMARK corpus in the vertices slot",
        "idCol", "textCol", "seedTokens", "maxBucket") {
      (bench, train, p) => f(train, bench, p.reqStr("idCol"), p.reqStr("textCol"),
        p.int("seedTokens").getOrElse(8), p.int("maxBucket").getOrElse(256))
    }

  private def dupSpans(f: (DataFrame, String, String, Int, Int) => DataFrame) =
    table("idCol", "textCol", "seedTokens", "maxBucket") { (t, p) =>
      f(t, p.reqStr("idCol"), p.reqStr("textCol"),
        p.int("seedTokens").getOrElse(8), p.int("maxBucket").getOrElse(256))
    }

  private def lsh(f: (DataFrame, String, String, Int, Int, Int) => DataFrame) =
    table("idCol", "textCol", "shingle", "bands", "rowsPerBand") { (t, p) =>
      f(t, p.reqStr("idCol"), p.reqStr("textCol"), p.int("shingle").getOrElse(3),
        p.int("bands").getOrElse(8), p.int("rowsPerBand").getOrElse(2))
    }

  /** An op that takes only (table, idCol, textCol). */
  private def textOp(f: (DataFrame, String, String) => DataFrame) =
    table("idCol", "textCol")((t, p) => f(t, p.reqStr("idCol"), p.reqStr("textCol")))

  /** The op table: every op the dispatch runs. */
  val ops: Map[String, OpSpec] = Map(
    "triplets" -> graph()((g, _) => g.triplets),
    "degrees" -> graph()((g, _) => g.degrees),
    "in_degrees" -> graph()((g, _) => g.inDegrees),
    "out_degrees" -> graph()((g, _) => g.outDegrees),
    "filter_vertices" -> graph("condition")((g, p) =>
      g.filterVertices(p.reqStr("condition")).vertices),
    "filter_edges" -> graph("condition")((g, p) => g.filterEdges(p.reqStr("condition")).edges),
    "drop_isolated_vertices" -> graph()((g, _) => g.dropIsolatedVertices().vertices),
    "find" -> graph("pattern")((g, p) => g.find(p.reqStr("pattern"))),
    "bfs" -> graph("fromExpr", "toExpr", "maxPathLength") { (g, p) =>
      val b = g.bfs.fromExpr(p.reqStr("fromExpr")).toExpr(p.reqStr("toExpr"))
      p.int("maxPathLength").foreach(b.maxPathLength)
      b.run()
    },
    "pregel" -> graph("vertexColName", "initExpr", "updateExpr", "sendToDst", "sendToSrc",
        "aggMsgs", "maxIter", "checkpointInterval", "requiredSrcColumns",
        "requiredDstColumns") { (g, p) =>
      // expression strings see the same frame the Scala API does:
      // previous state columns plus the aggregated message _pregel_msg_
      val pr = g.pregel.withVertexColumn(p.reqStr("vertexColName"),
        expr(p.reqStr("initExpr")), expr(p.reqStr("updateExpr")))
      p.str("sendToDst").foreach(s => pr.sendMsgToDst(expr(s)))
      p.str("sendToSrc").foreach(s => pr.sendMsgToSrc(expr(s)))
      pr.aggMsgs(expr(p.reqStr("aggMsgs")))
      p.int("maxIter").foreach(pr.setMaxIter)
      p.int("checkpointInterval").foreach(pr.setCheckpointInterval)
      // comma-joined, matching the reference proto's string fields
      // (graphframes.proto required_src_columns / required_dst_columns)
      p.str("requiredSrcColumns").map(_.split(',').map(_.trim).toSeq)
        .filter(_.nonEmpty).foreach(cs => pr.requiredSrcColumns(cs.head, cs.tail: _*))
      p.str("requiredDstColumns").map(_.split(',').map(_.trim).toSeq)
        .filter(_.nonEmpty).foreach(cs => pr.requiredDstColumns(cs.head, cs.tail: _*))
      pr.run()
    },
    "aggregate_messages" -> graph("sendToDst", "sendToSrc", "aggCol") { (g, p) =>
      val a = g.aggregateMessages
      p.str("sendToDst").foreach(s => a.sendToDst(expr(s)))
      p.str("sendToSrc").foreach(s => a.sendToSrc(expr(s)))
      a.agg(expr(p.reqStr("aggCol")))
    },
    "aggregate_neighbors" -> graph("aggCol", "maxHops", "startingVertices",
        "stoppingCondition", "targetCondition", "edgeFilter", "removeLoops", "accNames",
        "accInits", "accUpdates", "requiredVertexAttributes",
        "requiredEdgeAttributes") { (g, p) =>
      // two modes, mirroring the Scala builder: aggCol → per-hop
      // aggregation; accNames/accInits/accUpdates → the reference's
      // path-accumulator surface (proto message AggregateNeighbors,
      // reference graphframes.proto:214-244)
      val an = g.aggregateNeighbors
      p.strs("accNames").foreach(names => an.setAccumulators(names,
        p.reqStrs("accInits").map(expr), p.reqStrs("accUpdates").map(expr)))
      p.str("aggCol").foreach(a => an.agg(expr(a)))
      p.int("maxHops").foreach(an.setMaxHops)
      p.str("startingVertices").map(expr).foreach(an.setStartingVertices)
      p.str("stoppingCondition").map(expr).foreach(an.setStoppingCondition)
      p.str("targetCondition").map(expr).foreach(an.setTargetCondition)
      p.str("edgeFilter").map(expr).foreach(an.setEdgeFilter)
      p.bool("removeLoops").foreach(an.setRemoveLoops)
      p.strs("requiredVertexAttributes").foreach(an.setRequiredVertexAttributes)
      p.strs("requiredEdgeAttributes").foreach(an.setRequiredEdgeAttributes)
      an.run()
    },
    "connected_components" -> graph("algorithm") { (g, p) =>
      val cc = g.connectedComponents
      p.str("algorithm").foreach(cc.setAlgorithm)
      cc.run()
    },
    "strongly_connected_components" -> graph("maxIter") { (g, p) =>
      val scc = g.stronglyConnectedComponents
      p.int("maxIter").foreach(scc.maxIter)
      scc.run()
    },
    "page_rank" -> graph("resetProb", "maxIter", "tol", "sourceId", "weightCol") { (g, p) =>
      val pr = g.pageRank
      p.dbl("resetProb").foreach(pr.resetProbability)
      p.int("maxIter").foreach(pr.maxIter)
      p.dbl("tol").foreach(pr.tol)
      p.id("sourceId").foreach(pr.sourceId)
      p.str("weightCol").foreach(pr.weightCol)
      pr.run().vertices
    },
    "parallel_personalized_page_rank" -> graph("sourceIds", "resetProb", "maxIter") {
      (g, p) =>
        val pp = g.parallelPersonalizedPageRank.sourceIds(p.reqIds("sourceIds"))
        p.dbl("resetProb").foreach(pp.resetProbability)
        p.int("maxIter").foreach(pp.maxIter)
        pp.run().vertices
    },
    "shortest_paths" -> graph("landmarks", "maxIter", "isDirected", "weightCol") { (g, p) =>
      val sp = g.shortestPaths.landmarks(p.reqIds("landmarks"))
      p.int("maxIter").foreach(sp.maxIter)
      p.bool("isDirected").foreach(sp.setDirected)
      p.str("weightCol").foreach(sp.weightCol)
      sp.run()
    },
    "label_propagation" -> graph("maxIter", "algorithm", "isDirected") { (g, p) =>
      val lp = g.labelPropagation
      p.int("maxIter").foreach(lp.maxIter)
      p.str("algorithm").foreach(lp.setAlgorithm)
      p.bool("isDirected").foreach(lp.setDirected)
      lp.run()
    },
    "triangle_count" -> graph("algorithm", "lgNomEntries") { (g, p) =>
      val tc = g.triangleCount
      p.str("algorithm").foreach(tc.setAlgorithm)
      p.int("lgNomEntries").foreach(tc.setLgNomEntries)
      tc.run()
    },
    "kcore" -> graph("maxIter") { (g, p) =>
      val kc = g.kCore
      p.int("maxIter").foreach(kc.maxIter)
      kc.run()
    },
    "hits" -> graph("maxIter") { (g, p) =>
      val h = g.hits
      p.int("maxIter").foreach(h.maxIter)
      h.run()
    },
    "salsa" -> graph("maxIter") { (g, p) =>
      val sl = g.salsa
      p.int("maxIter").foreach(sl.maxIter)
      sl.run()
    },
    "influence_max" -> graph("k", "mode", "p") { (g, p) =>
      val im = g.influenceMax
      p.int("k").foreach(im.k)
      p.str("mode").foreach(im.mode)
      p.dbl("p").foreach(im.p)
      im.run()
    },
    "independent_cascade" -> graph("seeds", "p", "hashSeed", "maxIter",
        "smallGraphThreshold") { (g, p) =>
      val ic = new IndependentCascade(g)
      p.dbl("p").foreach(ic.p)
      p.long("hashSeed").foreach(ic.hashSeed)
      p.int("maxIter").foreach(ic.maxIter)
      p.long("smallGraphThreshold").foreach(ic.setSmallGraphThreshold)
      ic.run(p.reqIds("seeds"))
    },
    "to_dot" -> graph("name")((g, p) =>
      graft.sources.GraphLoader.toDotLines(g, p.str("name").getOrElse("g"))),
    "to_graphml" -> graph("directed")((g, p) =>
      graft.sources.GraphLoader.toGraphMLLines(g, directed = p.bool("directed").getOrElse(true))),
    "triangles" -> graph()((g, _) => Cliques.triangles(g)),
    "cliques4" -> graph()((g, _) => Cliques.cliques4(g)),
    "negative_samples" -> graph("k", "candidates", "seed", "undirected") { (g, p) =>
      val ns = new graft.embeddings.NegativeSampling(g)
      p.int("k").foreach(ns.setK)
      p.int("candidates").foreach(ns.setCandidates)
      p.long("seed").foreach(ns.setSeed)
      p.bool("undirected").foreach(ns.setUndirected)
      ns.run()
    },
    "temporal_reachability" -> graph("source", "startTime", "timeCol", "durationCol",
        "maxIter", "smallGraphThreshold") { (g, p) =>
      val tr = new TemporalReachability(g)
      p.id("source").foreach(tr.source)
      p.dbl("startTime").foreach(tr.startTime)
      p.str("timeCol").foreach(tr.timeCol)
      p.str("durationCol").foreach(tr.durationCol)
      p.int("maxIter").foreach(tr.maxIter)
      p.long("smallGraphThreshold").foreach(tr.setSmallGraphThreshold)
      tr.run()
    },
    "katz" -> graph("maxIter", "alpha", "beta") { (g, p) =>
      val kz = g.katz
      p.int("maxIter").foreach(kz.maxIter)
      p.dbl("alpha").foreach(kz.alpha)
      p.dbl("beta").foreach(kz.beta)
      kz.run()
    },
    "eigenvector" -> graph("maxIter", "weightCol") { (g, p) =>
      val ev = g.eigenvector
      p.int("maxIter").foreach(ev.maxIter)
      p.str("weightCol").foreach(ev.weightCol)
      ev.run()
    },
    "minimum_spanning_forest" -> graph("weightCol") { (g, p) =>
      val msf = g.minimumSpanningForest
      p.str("weightCol").foreach(msf.weightCol)
      msf.run()
    },
    "betweenness" -> graph("sampleK", "normalized", "weightCol") { (g, p) =>
      val bc = g.betweenness
      p.int("sampleK").foreach(bc.sampleSources)
      p.str("weightCol").foreach(bc.weightCol)
      p.bool("normalized").foreach(bc.normalized)
      bc.run()
    },
    "closeness" -> graph("sampleK", "weightCol") { (g, p) =>
      val cl = g.closeness
      p.int("sampleK").foreach(cl.sampleSources)
      p.str("weightCol").foreach(cl.weightCol)
      cl.run()
    },
    "eccentricity" -> graph("sampleK", "weightCol") { (g, p) =>
      val ec = g.eccentricity
      p.int("sampleK").foreach(ec.sampleSources)
      p.str("weightCol").foreach(ec.weightCol)
      ec.run()
    },
    "ktruss" -> graph("k", "maxIter") { (g, p) =>
      val kt = g.kTruss
      p.int("k").foreach(kt.setK)
      p.int("maxIter").foreach(kt.maxIter)
      kt.run()
    },
    "neighborhood_function" -> graph("maxIter", "lgNomEntries") { (g, p) =>
      val nfn = g.neighborhoodFunction
      p.int("maxIter").foreach(nfn.maxIter)
      p.int("lgNomEntries").foreach(nfn.setLgNomEntries)
      nfn.run()
    },
    "link_prediction" -> graph("maxHubDegree") { (g, p) =>
      val lp = g.linkPrediction
      p.long("maxHubDegree").foreach(lp.setMaxHubDegree)
      lp.run()
    },
    "greedy_coloring" -> graph("maxColors", "maxIter", "seed", "hashMode") { (g, p) =>
      val gc = g.greedyColoring
      p.int("maxColors").foreach(gc.maxColors)
      p.int("maxIter").foreach(gc.maxIter)
      p.long("seed").foreach(gc.seed)
      p.str("hashMode").foreach(gc.setHashMode)
      gc.run()
    },
    "louvain" -> graph("maxIter", "levels", "gainMode") { (g, p) =>
      val lv = g.louvain
      p.int("maxIter").foreach(lv.maxIter)
      p.int("levels").foreach(lv.setLevels)
      p.str("gainMode").foreach(lv.setGainMode)
      lv.run()
    },
    // single-relation contract: Q of the louvain(maxIter) partition (an
    // arbitrary client-side partition would need a second input
    // relation, which the proto's one-graph shape doesn't carry)
    "modularity" -> graph("maxIter") { (g, p) =>
      val lv = g.louvain
      p.int("maxIter").foreach(lv.maxIter)
      g.modularity(lv.run().select(col(GraphFrame.ID), col("community")))
    },
    "rich_club" -> graph("ks")((g, p) => g.richClub(p.reqInts("ks"))),
    "triad_census" -> graph()((g, _) => g.triadCensus.run()),
    "simrank" -> graph("maxIter", "c", "minSim", "maxPairs") { (g, p) =>
      val sr = g.simRank
      p.int("maxIter").foreach(sr.maxIter)
      p.dbl("c").foreach(sr.setC)
      p.dbl("minSim").foreach(sr.setMinSim)
      p.long("maxPairs").foreach(sr.setMaxPairs)
      sr.run()
    },
    "ppr_sweep" -> graph("source", "resetProb", "maxIter", "sweepK") { (g, p) =>
      val sw = g.pprSweep
      sw.source(p.reqId("source"))
      p.dbl("resetProb").foreach(sw.resetProbability)
      p.int("maxIter").foreach(sw.maxIter)
      p.int("sweepK").foreach(sw.sweepK)
      sw.run()
    },
    "bridges" -> twoConnectivity(_.bridges()),
    "articulation_points" -> twoConnectivity(_.articulationPoints()),
    "two_edge_components" -> twoConnectivity(_.twoEdgeComponents()),
    // bipartite butterfly counts read the edge relation as the
    // (left, right) incidence table — src = left, dst = pivot side
    "butterfly" -> graph("part", "maxPivotDegree") { (g, p) =>
      val cap = p.int("maxPivotDegree").getOrElse(Int.MaxValue)
      if (p.is("part", "vertex"))
        Butterflies.perVertex(g.edges, GraphFrame.SRC, GraphFrame.DST, cap)
      else Butterflies.globalCounts(g.edges, GraphFrame.SRC, GraphFrame.DST, cap)
    },
    "clustering_coefficient" -> graph()((g, _) => g.clusteringCoefficient.run()),
    "assortativity" -> graph()((g, _) => g.assortativity),
    "conductance" -> graph("attrCol")((g, p) => g.conductance(p.reqStr("attrCol"))),
    "reciprocity" -> graph()((g, _) => g.reciprocity),
    "edge_betweenness" -> graph("sampleK") { (g, p) =>
      val ebc = g.betweenness
      p.int("sampleK").foreach(ebc.sampleSources)
      ebc.runEdges()
    },
    "transitivity" -> graph()((g, _) => g.transitivity),
    "graph_stats" -> graph()((g, _) => g.stats),
    "sample_vertices" -> sample(_.sampleVertices(_, _)),
    "sample_edges" -> sample(_.sampleEdges(_, _)),
    "maximal_independent_set" -> graph("maxIter", "hashMode") { (g, p) =>
      val mis = g.maximalIndependentSet
      p.int("maxIter").foreach(mis.maxIter)
      p.str("hashMode").foreach(mis.setHashMode)
      mis.run()
    },
    "maximal_matching" -> graph("maxIter", "seed", "weightCol", "smallGraphThreshold") {
      (g, p) =>
        val mm = g.maximalMatching
        p.int("maxIter").foreach(mm.maxIter)
        p.long("seed").foreach(mm.seed)
        p.str("weightCol").foreach(mm.weightCol)
        p.long("smallGraphThreshold").foreach(mm.setSmallGraphThreshold)
        mm.run()
    },
    "voronoi" -> graph("seeds")((g, p) => g.voronoi(p.reqIds("seeds"))),
    "detecting_cycles" -> graph("maxIter") { (g, p) =>
      val dc = g.detectingCycles
      p.int("maxIter").foreach(dc.maxIter)
      dc.run()
    },
    "random_walks" -> graph("walkLength", "walksPerVertex", "restartProb", "seed",
        "hashMode", "returnParam", "inOutParam", "weightCol") { (g, p) =>
      val rw = g.randomWalks
      p.int("walkLength").foreach(rw.setWalkLength)
      p.int("walksPerVertex").foreach(rw.setWalksPerVertex)
      p.dbl("restartProb").foreach(rw.setRestartProbability)
      p.dbl("returnParam").foreach(rw.setReturnParam)
      p.dbl("inOutParam").foreach(rw.setInOutParam)
      p.str("weightCol").foreach(rw.setWeightCol)
      p.long("seed").foreach(rw.setSeed)
      p.str("hashMode").foreach(rw.setHashMode)
      rw.run()
    },
    "power_iteration_clustering" -> graph("k", "maxIter", "weightCol", "initMode") {
      (g, p) =>
        g.powerIterationClustering(k = p.reqInt("k"),
          maxIter = p.int("maxIter").getOrElse(20), weightCol = p.str("weightCol"),
          initMode = p.str("initMode").getOrElse("random"))
    },
    "svd_plus_plus" -> graph("rank", "maxIter", "minValue", "maxValue") { (g, p) =>
      val svd = g.svdPlusPlus
      p.int("rank").foreach(svd.setRank)
      p.int("maxIter").foreach(svd.maxIter)
      p.dbl("minValue").foreach(svd.setMinValue)
      p.dbl("maxValue").foreach(svd.setMaxValue)
      svd.run()
    },
    // composite builder surface mirroring the reference proto's
    // RandomWalkEmbeddings message (sequence_model, word2vec_*/hash2vec_*
    // knobs, use_edge_direction, aggregate_neighbors)
    "rw_embeddings" -> graph("dim", "walkLength", "walksPerVertex", "seed",
        "sequenceModel", "restartProbability", "rwMaxNbrs", "useEdgeDirection",
        "aggregateNeighbors", "aggregateNeighborsMaxNbrs", "word2vecMaxIter",
        "word2vecWindowSize", "word2vecMinCount", "word2vecStepSize",
        "hash2vecContextSize", "hash2vecDecayFunction", "hash2vecGaussianSigma",
        "hash2vecDoL2Norm", "hash2vecSafeL2") { (g, p) =>
      val rwe = g.randomWalkEmbeddings
        .setDim(p.int("dim").getOrElse(32))
        .setWalkLength(p.int("walkLength").getOrElse(5))
        .setNumWalksPerNode(p.int("walksPerVertex").getOrElse(4))
        .setSeed(p.long("seed").getOrElse(42L))
      p.str("sequenceModel").foreach(rwe.setSequenceModel)
      p.dbl("restartProbability").foreach(rwe.setRestartProbability)
      p.int("rwMaxNbrs").foreach(rwe.setRwMaxNbrs)
      p.bool("useEdgeDirection").foreach(rwe.setUseEdgeDirections)
      p.bool("aggregateNeighbors").foreach(rwe.setAggregateNeighbors)
      p.int("aggregateNeighborsMaxNbrs").foreach(rwe.setMaxNbrs)
      p.int("word2vecMaxIter").foreach(rwe.setWord2VecMaxIter)
      p.int("word2vecWindowSize").foreach(rwe.setWord2VecWindowSize)
      p.int("word2vecMinCount").foreach(rwe.setWord2VecMinCount)
      p.dbl("word2vecStepSize").foreach(rwe.setWord2VecStepSize)
      p.int("hash2vecContextSize").foreach(rwe.setHash2VecContextSize)
      p.str("hash2vecDecayFunction").foreach(rwe.setHash2VecDecayFunction)
      p.dbl("hash2vecGaussianSigma").foreach(rwe.setHash2VecGaussianSigma)
      p.bool("hash2vecDoL2Norm").foreach(rwe.setHash2VecDoL2Norm)
      p.bool("hash2vecSafeL2").foreach(rwe.setHash2VecSafeL2)
      rwe.run()
    },

    // --- pipeline ops: the input table rides in the edges slot --------
    "pipe_exact_dedup" -> table("idCol", "contentCols")((t, p) =>
      Dedup.exact(t, p.reqStr("idCol"), p.reqStrs("contentCols"))),
    "pipe_minhash_lsh" -> lsh((t, id, text, n, bands, rows) =>
      Dedup.minhashLsh(t, id, text, n = n, bands = bands, rowsPerBand = rows)),
    "pipe_near_dup_clusters" -> lsh((t, id, text, n, bands, rows) =>
      Dedup.nearDupClusters(t, id, text, n = n, bands = bands, rowsPerBand = rows)),
    "pipe_dedup_quality" -> table("idCol", "textCol", "threshold", "shingle", "bands",
        "rowsPerBand") { (t, p) =>
      Dedup.lshDedupQuality(t, p.reqStr("idCol"), p.reqStr("textCol"),
        threshold = p.dbl("threshold").getOrElse(0.5), n = p.int("shingle").getOrElse(3),
        bands = p.int("bands").getOrElse(8), rowsPerBand = p.int("rowsPerBand").getOrElse(2))
    },
    "pipe_simhash" -> table("idCol", "textCol", "bits")((t, p) =>
      Dedup.simhash(t, p.reqStr("idCol"), p.reqStr("textCol"),
        bits = p.int("bits").getOrElse(16))),
    "pipe_dup_spans_maximal" -> dupSpans(Text.dupSpansMaximal(_, _, _, _, _)),
    "pipe_cut_dup_spans" -> dupSpans(Text.cutDupSpans(_, _, _, _, _)),
    "pipe_segment_dedup" -> table("idCol", "textCol", "sep", "windowWords", "maxDupCount",
        "lowercase") { (t, p) =>
      Dedup.segmentDedup(t, p.reqStr("idCol"), p.reqStr("textCol"),
        sep = p.str("sep").getOrElse("\n"), windowWords = p.int("windowWords").getOrElse(0),
        maxDupCount = p.long("maxDupCount").getOrElse(1L),
        lowercase = p.bool("lowercase").getOrElse(false))
    },
    "pipe_semantic_dedup" -> table("idCol", "vecCol", "threshold", "nlist", "lloydIters") {
      (t, p) =>
        Dedup.semanticDedup(t, p.reqStr("idCol"), p.reqStr("vecCol"),
          threshold = p.reqDbl("threshold"), nlist = p.int("nlist").getOrElse(16),
          lloydIters = p.int("lloydIters").getOrElse(0))
    },
    "pipe_token_count" -> textOp(Text.tokenCount(_, _, _)),
    "pipe_chunk" -> table("idCol", "textCol", "chunkWords", "overlapWords")((t, p) =>
      Text.chunk(t, p.reqStr("idCol"), p.reqStr("textCol"),
        chunkWords = p.int("chunkWords").getOrElse(64),
        overlapWords = p.int("overlapWords").getOrElse(16))),
    "pipe_language_id" -> textOp(Text.languageId(_, _, _)),
    "pipe_quality" -> textOp(Text.quality(_, _, _)),
    "pipe_char_entropy" -> textOp(Text.charEntropy(_, _, _)),
    "pipe_redact_pii" -> textOp(Text.redactPii(_, _, _)),
    "pipe_hash_sample" -> table("idCol", "fraction", "seed")((t, p) =>
      Sampling.hashSample(t, p.reqStr("idCol"), fraction = p.reqDbl("fraction"),
        seed = p.long("seed").getOrElse(42L))),
    "pipe_mixture_sample" -> table("idCol", "strataCol", "fractions", "seed")((t, p) =>
      Sampling.mixtureSample(t, p.reqStr("idCol"), p.reqStr("strataCol"),
        p.reqNumMap("fractions"), seed = p.long("seed").getOrElse(42L))),
    "pipe_hash_split" -> table("idCol", "fractions", "seed")((t, p) =>
      Sampling.hashSplit(t, p.reqStr("idCol"), p.reqNumMap("fractions"),
        seed = p.long("seed").getOrElse(42L))),
    "pipe_shuffle_shards" -> table("idCol", "numShards", "seed")((t, p) =>
      Sampling.shuffleShards(t, p.reqStr("idCol"), numShards = p.reqInt("numShards"),
        seed = p.long("seed").getOrElse(42L))),
    "pipe_importance_sample" -> table("idCol", "weightCol", "targetFraction", "seed")(
      (t, p) => Sampling.importanceSample(t, p.reqStr("idCol"), p.reqStr("weightCol"),
        targetFraction = p.reqDbl("targetFraction"), seed = p.long("seed").getOrElse(42L))),
    "pipe_bigram_lm" -> table("idCol", "textCol", "alpha")((t, p) =>
      Text.bigramLmScore(t, p.reqStr("idCol"), p.reqStr("textCol"),
        alpha = p.dbl("alpha").getOrElse(0.5))),
    "pipe_nb_classifier" -> table("idCol", "textCol", "labelCol", "trainFraction", "seed")(
      (t, p) => Classify.naiveBayesTrainPredict(t, p.reqStr("idCol"), p.reqStr("textCol"),
        p.reqStr("labelCol"), trainFraction = p.dbl("trainFraction").getOrElse(0.75),
        seed = p.long("seed").getOrElse(42L))),
    "pipe_bpe_train" -> table("textCol", "numMerges")((t, p) =>
      Tokenizer.bpeTrain(t, p.reqStr("textCol"), numMerges = p.int("numMerges").getOrElse(10))),
    "pipe_bpe_encode" -> table("idCol", "textCol", "numMerges")((t, p) =>
      Tokenizer.bpeTrainEncode(t, p.reqStr("idCol"), p.reqStr("textCol"),
        numMerges = p.int("numMerges").getOrElse(10))._2),
    "pipe_vocab_oov" -> table("idCol", "textCol", "vocabSize")((t, p) =>
      Text.vocabOovRate(t, p.reqStr("idCol"), p.reqStr("textCol"),
        vocabSize = p.int("vocabSize").getOrElse(1000))),
    "pipe_ann_topk" -> table("idCol", "vecCol", "k")((t, p) =>
      Similarity.topK(t, p.reqStr("idCol"), p.reqStr("vecCol"), k = p.int("k").getOrElse(10))),
    "pipe_knn_graph" -> table("idCol", "vecCol", "k", "mutual")((t, p) =>
      Similarity.knnGraph(t, p.reqStr("idCol"), p.reqStr("vecCol"),
        k = p.int("k").getOrElse(10), mutual = p.bool("mutual").getOrElse(true))),
    "pipe_label_spread" -> table("idCol", "vecCol", "labelCol", "k", "rounds",
        "seedFraction", "seed") { (t, p) =>
      Similarity.labelSpread(t, p.reqStr("idCol"), p.reqStr("vecCol"),
        labelCol = p.reqStr("labelCol"), k = p.int("k").getOrElse(5),
        rounds = p.int("rounds").getOrElse(3),
        seedFraction = p.dbl("seedFraction").getOrElse(0.5),
        seed = p.long("seed").getOrElse(42L))
    },
    "pipe_random_projection" -> table("idCol", "vecCol", "dOut", "dim")((t, p) =>
      Similarity.randomProjection(t, p.reqStr("idCol"), p.reqStr("vecCol"),
        dOut = p.reqInt("dOut"), dim = p.int("dim").getOrElse(-1))),
    "pipe_funnel" -> table("steps", "windowMinutes")((t, p) =>
      Events.funnel(t, p.reqStrs("steps"),
        windowMinutes = p.int("windowMinutes").getOrElse(60 * 24))),
    "pipe_approx_distinct" -> table("groupCol", "valueCol", "k")((t, p) =>
      Sampling.approxDistinct(t, groupCol = p.reqStr("groupCol"),
        valueCol = p.reqStr("valueCol"), k = p.int("k").getOrElse(64))),
    "pipe_group_sample" -> table("groupCol", "idCol", "k", "seed")((t, p) =>
      Sampling.groupSample(t, groupCol = p.reqStr("groupCol"), idCol = p.reqStr("idCol"),
        k = p.reqInt("k"), seed = p.long("seed").getOrElse(42L))),
    "pipe_weighted_sample" -> table("idCol", "weightCol", "k", "seed", "maxWeight")(
      (t, p) => Sampling.weightedSample(t, p.reqStr("idCol"), p.reqStr("weightCol"),
        k = p.reqInt("k"), seed = p.long("seed").getOrElse(42L),
        maxWeight = p.int("maxWeight").getOrElse(4096))),
    // batch twin of the streaming spike detector: hourly per-type counts
    // + the exact-integer lag finisher
    "pipe_rate_spikes" -> table("lookback", "num", "den")((t, p) =>
      graft.streaming.EventStreams.rateSpikes(Events.hourlyAgg(t)
          .select(col("window_start"), col("event_type"), col("n_events")),
        lookback = p.int("lookback").getOrElse(3), num = p.long("num").getOrElse(3L),
        den = p.long("den").getOrElse(2L))),
    "pipe_pmi_bigrams" -> table("idCol", "textCol", "minCount", "topK")((t, p) =>
      Text.pmiBigrams(t, p.reqStr("idCol"), p.reqStr("textCol"),
        minCount = p.int("minCount").getOrElse(3), topK = p.int("topK").getOrElse(20))),
    "pipe_cohort" -> table()((t, _) => Events.cohortRetention(t)),
    "pipe_containment" -> table("idCol", "textCol", "shingle", "minShared", "threshold",
        "maxDocFreq") { (t, p) =>
      Dedup.containmentPairs(t, p.str("idCol").getOrElse("doc_id"),
        p.str("textCol").getOrElse("text"), n = p.int("shingle").getOrElse(3),
        minShared = p.int("minShared").getOrElse(2),
        threshold = p.dbl("threshold").getOrElse(0.5),
        maxDocFreq = p.int("maxDocFreq").getOrElse(Int.MaxValue))
    },
    "pipe_top_paths" -> table("gapMinutes", "maxSteps", "k")((t, p) =>
      Events.topPaths(t, gapMinutes = p.int("gapMinutes").getOrElse(30),
        maxSteps = p.int("maxSteps").getOrElse(5), k = p.int("k").getOrElse(20))),
    "pipe_rfm" -> table("buckets")((t, p) =>
      Events.rfm(t, buckets = p.int("buckets").getOrElse(5))),
    "pipe_normalize" -> table("idCol", "textCol")((t, p) =>
      Text.normalize(t, p.str("idCol").getOrElse("doc_id"), p.str("textCol").getOrElse("text"))),
    "pipe_attribution_linear" -> table("touchType", "convType", "windowMinutes")((t, p) =>
      Events.linearAttribution(t, touchType = p.str("touchType").getOrElse("view"),
        convType = p.str("convType").getOrElse("purchase"),
        windowMinutes = p.int("windowMinutes").getOrElse(1440))),
    "pipe_ann_ivf_hier" -> table("idCol", "vecCol", "k", "nsuper", "nlistPer", "wprobe",
        "nprobe") { (t, p) =>
      Similarity.ivfTopKHier(t, p.reqStr("idCol"), p.reqStr("vecCol"),
        k = p.int("k").getOrElse(10), nsuper = p.int("nsuper").getOrElse(16),
        nlistPer = p.int("nlistPer").getOrElse(16), wprobe = p.int("wprobe").getOrElse(2),
        nprobe = p.int("nprobe").getOrElse(4))
    },
    "pipe_image_decode" -> table("idCol", "binCol")((t, p) =>
      Multimodal.decodeImageStats(t, p.reqStr("idCol"), p.reqStr("binCol")).toDF()),
    "pipe_image_ahash" -> table("idCol", "binCol", "grid")((t, p) =>
      Multimodal.imageAHash(t, p.reqStr("idCol"), p.reqStr("binCol"),
        grid = p.int("grid").getOrElse(8))),
    "pipe_image_resize" -> table("idCol", "binCol", "width", "height")((t, p) =>
      Multimodal.resizeImage(t, p.reqStr("idCol"), p.reqStr("binCol"),
        targetW = p.reqInt("width"), targetH = p.reqInt("height"))),
    "pipe_image_histogram" -> table("idCol", "binCol", "bins")((t, p) =>
      Multimodal.imageHistogram(t, p.reqStr("idCol"), p.reqStr("binCol"),
        bins = p.int("bins").getOrElse(16)).toDF()),
    "pipe_audio_decode" -> table("idCol", "binCol")((t, p) =>
      Multimodal.decodeAudioStats(t, p.reqStr("idCol"), p.reqStr("binCol")).toDF()),
    "pipe_video_demux" -> table("idCol", "binCol")((t, p) =>
      Multimodal.demuxRiffFrames(t, p.reqStr("idCol"), p.reqStr("binCol")).toDF()),
    "pipe_cms_topk" -> table("keyCol", "k", "depth", "width", "seed")((t, p) =>
      Sketches.cmsTopK(t, p.reqStr("keyCol"), k = p.reqInt("k"),
        depth = p.int("depth").getOrElse(4), width = p.int("width").getOrElse(1024),
        seed = p.long("seed").getOrElse(42L))),
    // 'blockExprs' (array) takes the multi-pass blocking overload;
    // 'blockExpr' (one SQL expression, e.g. "substr(name, 1, 4)") keeps
    // the single-key path
    "pipe_fuzzy_pairs" -> table("idCol", "textCol", "blockExpr", "blockExprs", "maxDist",
        "maxBlock") { (t, p) =>
      val (id, text) = (p.reqStr("idCol"), p.reqStr("textCol"))
      val maxDist = p.int("maxDist").getOrElse(1)
      val maxBlock = p.int("maxBlock").getOrElse(10000)
      p.strs("blockExprs") match {
        case Some(es) => Dedup.fuzzyPairs(t, id, text, es.map(expr), maxDist, maxBlock)
        case None => Dedup.fuzzyPairs(t, id, text, blockKey = expr(p.reqStr("blockExpr")),
          maxDist = maxDist, maxBlock = maxBlock)
      }
    },
    // targetExpr: a boolean SQL expression marking the target rows,
    // e.g. "lang = 'en'"
    "pipe_dsir" -> table("idCol", "textCol", "targetExpr", "buckets", "alpha")((t, p) =>
      Text.dsirWeights(t, p.reqStr("idCol"), p.reqStr("textCol"),
        targetPred = expr(p.reqStr("targetExpr")), buckets = p.int("buckets").getOrElse(1024),
        alpha = p.dbl("alpha").getOrElse(0.5))),
    // budget: tokens per group
    "pipe_budget_select" -> table("idCol", "groupCol", "tokenCol", "scoreCol", "budget") {
      (t, p) =>
        val tokenCol = p.reqStr("tokenCol")
        Sampling.budgetSelect(t, p.reqStr("idCol"), p.reqStr("groupCol"), tokenCol,
          p.str("scoreCol").getOrElse(tokenCol), budgetPerGroup = p.reqLong("budget"))
    },
    "pipe_strip_markup" -> table("idCol", "htmlCol")((t, p) =>
      Web.stripMarkup(t, p.str("idCol").getOrElse("doc_id"), p.str("htmlCol").getOrElse("html"))),
    "pipe_url_canonical" -> table("idCol", "urlCol")((t, p) =>
      Web.urlCanonical(t, p.str("idCol").getOrElse("doc_id"), p.str("urlCol").getOrElse("url"))),
    "pipe_host_stats" -> table("idCol", "urlCol")((t, p) =>
      Web.hostStats(t, p.str("idCol").getOrElse("doc_id"), p.str("urlCol").getOrElse("url"))),
    "pipe_extract_links" -> table("idCol", "htmlCol", "maxLinksPerPage")((t, p) =>
      Web.extractLinks(t, p.str("idCol").getOrElse("doc_id"),
        p.str("htmlCol").getOrElse("html"),
        maxLinksPerPage = p.int("maxLinksPerPage").getOrElse(0))),
    "pipe_link_graph" -> table("idCol", "urlCol", "htmlCol", "maxLinksPerPage")((t, p) =>
      Web.linkGraph(t, p.str("idCol").getOrElse("doc_id"), p.str("urlCol").getOrElse("url"),
        p.str("htmlCol").getOrElse("html"),
        maxLinksPerPage = p.int("maxLinksPerPage").getOrElse(0))),
    "pipe_host_rank" -> table("idCol", "urlCol", "htmlCol", "maxIter", "resetProbability",
        "maxLinksPerPage") { (t, p) =>
      Web.hostRank(t, p.str("idCol").getOrElse("doc_id"), p.str("urlCol").getOrElse("url"),
        p.str("htmlCol").getOrElse("html"), maxIter = p.int("maxIter").getOrElse(10),
        resetProbability = p.dbl("resetProbability").getOrElse(0.15),
        maxLinksPerPage = p.int("maxLinksPerPage").getOrElse(0))
    },
    // qs: quantiles in [0,1]
    "pipe_group_quantiles" -> table("groupCol", "valueCol", "qs")((t, p) =>
      Sampling.groupQuantiles(t, p.reqStr("groupCol"), p.reqStr("valueCol"),
        p.reqNums("qs"))),
    "pipe_quantile_cut" -> table("groupCol", "scoreCol", "q")((t, p) =>
      Sampling.quantileCut(t, p.reqStr("groupCol"), p.reqStr("scoreCol"), p.reqDbl("q"))),
    "pipe_unigram_train" -> table("textCol", "vocabSize", "maxPieceLen", "iterations",
        "maxWordLen") { (t, p) =>
      Tokenizer.unigramTrain(t, p.str("textCol").getOrElse("text"),
        vocabSize = p.int("vocabSize").getOrElse(200),
        maxPieceLen = p.int("maxPieceLen").getOrElse(4),
        iterations = p.int("iterations").getOrElse(2),
        maxWordLen = p.int("maxWordLen").getOrElse(32))
    },
    "pipe_wordpiece_vocab" -> table("textCol", "vocabSize", "maxPieceLen", "maxWordLen")(
      (t, p) => Tokenizer.wordpieceVocab(t, p.str("textCol").getOrElse("text"),
        vocabSize = p.int("vocabSize").getOrElse(200),
        maxPieceLen = p.int("maxPieceLen").getOrElse(4),
        maxWordLen = p.int("maxWordLen").getOrElse(32))),
    "pipe_gopher_rules" -> table("idCol", "textCol", "minWords", "maxWords",
        "minAvgWordLen", "maxAvgWordLen", "maxSymbolPct", "maxBulletPct", "maxEllipsisPct",
        "minAlphaPct", "minStopwords", "stopwords") { (t, p) =>
      Text.gopherRules(t, p.reqStr("idCol"), p.reqStr("textCol"),
        minWords = p.int("minWords").getOrElse(50),
        maxWords = p.int("maxWords").getOrElse(100000),
        minAvgWordLen = p.int("minAvgWordLen").getOrElse(3),
        maxAvgWordLen = p.int("maxAvgWordLen").getOrElse(10),
        maxSymbolPct = p.int("maxSymbolPct").getOrElse(10),
        maxBulletPct = p.int("maxBulletPct").getOrElse(90),
        maxEllipsisPct = p.int("maxEllipsisPct").getOrElse(30),
        minAlphaPct = p.int("minAlphaPct").getOrElse(80),
        minStopwords = p.int("minStopwords").getOrElse(2),
        stopwords = p.strs("stopwords").getOrElse(
          Seq("the", "be", "to", "of", "and", "that", "have", "with")))
    },
    "pipe_keep_best" -> table("clusterCol", "idCol", "scoreCol")((t, p) =>
      Dedup.keepBest(t, p.reqStr("clusterCol"), p.reqStr("idCol"), p.reqStr("scoreCol"))),
    "pipe_co_occurrence" -> table("basketCol", "itemCol", "maxBasket")((t, p) =>
      Recommend.coOccurrence(t, p.reqStr("basketCol"), p.reqStr("itemCol"),
        maxBasket = p.int("maxBasket").getOrElse(1000))),
    "pipe_also_bought" -> table("basketCol", "itemCol", "maxBasket", "k")((t, p) =>
      Recommend.alsoBought(Recommend.coOccurrence(t, p.reqStr("basketCol"),
        p.reqStr("itemCol"), maxBasket = p.int("maxBasket").getOrElse(1000)),
        k = p.int("k").getOrElse(10))),
    "pipe_transition_matrix" -> table("gapMinutes")((t, p) =>
      Events.transitionMatrix(t, gapMinutes = p.int("gapMinutes").getOrElse(30))),

    // --- two-table pipeline ops: the own table rides the edges slot ----
    "pipe_asof_join" -> twoTables("left in the vertices slot, right in the edges slot",
        "on", "leftTs", "rightTs", "rightCols", "prefix", "strict", "direction") {
      (left, right, p) =>
        Events.asofJoin(left, right, on = p.reqStrs("on"), leftTs = p.reqStr("leftTs"),
          rightTs = p.reqStr("rightTs"), rightCols = p.reqStrs("rightCols"),
          prefix = p.str("prefix").getOrElse("asof_"),
          strict = p.bool("strict").getOrElse(false),
          direction = p.str("direction").getOrElse("backward"))
    },
    "pipe_range_join" -> twoTables(
        "points in the vertices slot, intervals in the edges slot",
        "on", "leftTs", "rightStart", "rightEnd", "rightCols", "prefix", "bucketMs",
        "maxBucketsPerInterval") { (points, intervals, p) =>
      Events.rangeJoin(points, intervals, on = p.reqStrs("on"), leftTs = p.reqStr("leftTs"),
        rightStart = p.reqStr("rightStart"), rightEnd = p.reqStr("rightEnd"),
        rightCols = p.reqStrs("rightCols"), prefix = p.str("prefix").getOrElse("r_"),
        bucketMs = p.long("bucketMs").getOrElse(3600000L),
        maxBucketsPerInterval = p.int("maxBucketsPerInterval").getOrElse(1024))
    },
    "pipe_corpus_diff" -> twoTables(
        "the OLD snapshot in the vertices slot, the NEW snapshot in the edges slot",
        "idCol", "textCol") { (oldSnap, newSnap, p) =>
      Dedup.corpusDiff(oldSnap, newSnap, p.str("idCol").getOrElse("doc_id"),
        p.str("textCol").getOrElse("text"))
    },
    "pipe_unigram_encode" -> twoTables("the trained vocab (piece, cost_micro_nats) in " +
        "the vertices slot, the documents in the edges slot",
        "idCol", "textCol", "maxPieceLen", "maxWordLen") { (vocab, docs, p) =>
      Tokenizer.unigramEncode(docs, p.str("idCol").getOrElse("doc_id"),
        p.str("textCol").getOrElse("text"), vocab,
        maxPieceLen = p.int("maxPieceLen").getOrElse(4),
        maxWordLen = p.int("maxWordLen").getOrElse(32))
    },
    "pipe_wordpiece_encode" -> twoTables(
        "the vocab (piece) in the vertices slot, the documents in the edges slot",
        "idCol", "textCol", "maxPieceLen", "maxWordLen") { (vocab, docs, p) =>
      Tokenizer.wordpieceEncode(docs, p.str("idCol").getOrElse("doc_id"),
        p.str("textCol").getOrElse("text"), vocab,
        maxPieceLen = p.int("maxPieceLen").getOrElse(4),
        maxWordLen = p.int("maxWordLen").getOrElse(32))
    },
    "pipe_contaminated_spans" -> contamination(Text.contaminatedSpans(_, _, _, _, _, _)),
    "pipe_cut_contaminated" -> contamination(Text.cutContaminated(_, _, _, _, _, _)))

  /** Accepted params_json keys per graph op. An UNKNOWN key is an error,
   * not a silent no-op: a remote client that typos "maxIters" gets told,
   * instead of running 10 iterations and wondering why its parameter
   * changed nothing. */
  val acceptedParams: Map[String, Set[String]] =
    ops.collect { case (name, s) if s.slots == Slots.Graph => name -> s.keys }

  /** Accepted params_json keys per pipeline (table-input) op. */
  val pipelineParams: Map[String, Set[String]] =
    ops.collect { case (name, s) if s.slots != Slots.Graph => name -> s.keys }

  /** Algorithm names accepted by [[run]], for error messages and clients. */
  val algorithms: Seq[String] = ops.keys.toSeq.sorted

  def run(vertices: Option[DataFrame], edges: DataFrame,
      algorithm: String, paramsJson: String): DataFrame = {
    val fields: Map[String, JValue] = paramsJson.trim match {
      case "" => Map.empty
      case s => JsonMethods.parse(s) match {
        case JObject(fs) => fs.toMap
        case other => throw new IllegalArgumentException(
          s"params_json must be a JSON object, got: $other")
      }
    }
    val spec = ops.getOrElse(algorithm, throw new IllegalArgumentException(
      s"unknown graft algorithm '$algorithm'; supported: ${algorithms.mkString(", ")}"))
    // checked before the op runs, so a typo never costs a Spark job
    val unknown = fields.keySet -- spec.keys
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown params_json key(s) ${unknown.mkString("'", "', '", "'")} for $algorithm; " +
        s"accepted: ${if (spec.keys.isEmpty) "(none)" else spec.keys.toSeq.sorted.mkString(", ")}")
    spec.slots match {
      case Slots.OneTable if vertices.nonEmpty => throw new IllegalArgumentException(
        s"$algorithm is a single-table pipeline operator: send the input table in the " +
          "edges slot and omit vertices")
      case Slots.TwoTables(layout) if vertices.isEmpty => throw new IllegalArgumentException(
        s"$algorithm needs TWO tables: $layout")
      case _ =>
    }
    spec.run(vertices, edges, new Params(algorithm, spec.keys, fields))
  }
}
