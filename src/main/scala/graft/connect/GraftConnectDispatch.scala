package graft.connect

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.GraphFrame

/**
 * Maps a (vertices, edges, algorithm, params) quadruple from a decoded
 * [[GraftRelation]] onto the Scala API — the Connect server's method
 * table, equivalent in role to the reference's per-message dispatch
 * (reference connect/.../GraphFramesConnect.scala maps each proto oneof
 * arm to a GraphFrame call). Pure DataFrame-in/DataFrame-out, so it is
 * unit-testable without a Connect server.
 *
 * Parameters arrive as one JSON object (the proto carries it as
 * `params_json`); column-valued parameters are SQL expression strings
 * parsed with `expr()` — the same contract the reference's
 * ColumnOrExpression `expr` arm uses.
 */
object GraftConnectDispatch {

  /** Accepted params_json keys per algorithm — doubles as the algorithm
   * list. An UNKNOWN key is an error, not a silent no-op: a remote client
   * that typos "maxIters" gets told, instead of running 10 iterations and
   * wondering why its parameter changed nothing. */
  val acceptedParams: Map[String, Set[String]] = Map(
    "triplets" -> Set.empty,
    "degrees" -> Set.empty,
    "in_degrees" -> Set.empty,
    "out_degrees" -> Set.empty,
    "filter_vertices" -> Set("condition"),
    "filter_edges" -> Set("condition"),
    "drop_isolated_vertices" -> Set.empty,
    "find" -> Set("pattern"),
    "bfs" -> Set("fromExpr", "toExpr", "maxPathLength"),
    "pregel" -> Set("vertexColName", "initExpr", "updateExpr", "sendToDst",
      "sendToSrc", "aggMsgs", "maxIter", "checkpointInterval",
      "requiredSrcColumns", "requiredDstColumns"),
    "aggregate_messages" -> Set("sendToDst", "sendToSrc", "aggCol"),
    "aggregate_neighbors" -> Set("aggCol", "maxHops", "startingVertices",
      "stoppingCondition", "targetCondition", "edgeFilter", "removeLoops",
      "accNames", "accInits", "accUpdates", "requiredVertexAttributes",
      "requiredEdgeAttributes"),
    "connected_components" -> Set("algorithm"),
    "strongly_connected_components" -> Set("maxIter"),
    "page_rank" -> Set("resetProb", "maxIter", "tol", "sourceId", "weightCol"),
    "parallel_personalized_page_rank" -> Set("sourceIds", "resetProb", "maxIter"),
    "shortest_paths" -> Set("landmarks", "maxIter", "isDirected", "weightCol"),
    "label_propagation" -> Set("maxIter", "algorithm", "isDirected"),
    "triangle_count" -> Set("algorithm", "lgNomEntries"),
    "kcore" -> Set("maxIter"),
    "hits" -> Set("maxIter", "roundsPerCycle"),
    "salsa" -> Set("maxIter", "roundsPerCycle"),
    "influence_max" -> Set("k", "mode", "p"),
    "independent_cascade" -> Set("seeds", "p", "hashSeed", "maxIter",
      "smallGraphThreshold"),
    "to_dot" -> Set("name"),
    "to_graphml" -> Set("directed"),
    "triangles" -> Set.empty[String],
    "cliques4" -> Set.empty[String],
    "negative_samples" -> Set("k", "candidates", "seed", "undirected"),
    "temporal_reachability" -> Set("source", "startTime", "timeCol",
      "durationCol", "maxIter", "smallGraphThreshold"),
    "katz" -> Set("maxIter", "alpha", "beta", "roundsPerCycle"),
    "eigenvector" -> Set("maxIter", "weightCol", "roundsPerCycle"),
    "minimum_spanning_forest" -> Set("weightCol"),
    "betweenness" -> Set("sampleK", "normalized", "weightCol"),
    "closeness" -> Set("sampleK", "weightCol"),
    "eccentricity" -> Set("sampleK", "weightCol"),
    "ktruss" -> Set("k", "maxIter"),
    "neighborhood_function" -> Set("maxIter", "lgNomEntries"),
    "link_prediction" -> Set("maxHubDegree"),
    "greedy_coloring" -> Set("maxColors", "maxIter", "seed", "hashMode"),
    "louvain" -> Set("maxIter", "levels", "gainMode"),
    "modularity" -> Set("maxIter"),
    "rich_club" -> Set("ks"),
    "triad_census" -> Set.empty[String],
    "simrank" -> Set("maxIter", "c", "minSim", "maxPairs"),
    "ppr_sweep" -> Set("source", "resetProb", "maxIter", "sweepK"),
    "bridges" -> Set("smallGraphThreshold", "maxAncestorRows"),
    "articulation_points" -> Set("smallGraphThreshold", "maxAncestorRows"),
    "two_edge_components" -> Set("smallGraphThreshold", "maxAncestorRows"),
    "butterfly" -> Set("part", "maxPivotDegree"),
    "clustering_coefficient" -> Set.empty[String],
    "assortativity" -> Set.empty[String],
    "conductance" -> Set("attrCol"),
    "reciprocity" -> Set.empty[String],
    "edge_betweenness" -> Set("sampleK"),
    "transitivity" -> Set.empty[String],
    "graph_stats" -> Set.empty[String],
    "sample_vertices" -> Set("fraction", "seed", "part"),
    "sample_edges" -> Set("fraction", "seed", "part"),
    "maximal_independent_set" -> Set("maxIter", "hashMode"),
    "maximal_matching" -> Set("maxIter", "seed", "weightCol",
      "smallGraphThreshold"),
    "voronoi" -> Set("seeds"),
    "detecting_cycles" -> Set("maxIter"),
    "random_walks" -> Set("walkLength", "walksPerVertex", "restartProb",
      "seed", "hashMode", "returnParam", "inOutParam", "weightCol"),
    "power_iteration_clustering" -> Set("k", "maxIter", "weightCol", "initMode"),
    "svd_plus_plus" -> Set("rank", "maxIter", "minValue", "maxValue"),
    "rw_embeddings" -> Set("dim", "walkLength", "walksPerVertex", "seed",
      "sequenceModel", "restartProbability", "rwMaxNbrs", "useEdgeDirection",
      "aggregateNeighbors", "aggregateNeighborsMaxNbrs",
      "word2vecMaxIter", "word2vecWindowSize", "word2vecMinCount",
      "word2vecStepSize", "hash2vecContextSize", "hash2vecDecayFunction",
      "hash2vecGaussianSigma", "hash2vecDoL2Norm", "hash2vecSafeL2"))

  /** Single-table LLM-pipeline operators (beyond the reference's proto
   * surface): the wire `edges` slot carries the ONE input table — a
   * documents or embeddings DataFrame — and no GraphFrame is built.
   * Sending `vertices` alongside a pipeline op is an error: the second
   * relation would be silently ignored, and a remote client that packed
   * its corpus into the wrong slot should hear about it. */
  val pipelineParams: Map[String, Set[String]] = Map(
    "pipe_exact_dedup" -> Set("idCol", "contentCols"),
    "pipe_minhash_lsh" -> Set("idCol", "textCol", "shingle", "bands", "rowsPerBand"),
    "pipe_near_dup_clusters" -> Set("idCol", "textCol", "shingle", "bands", "rowsPerBand"),
    "pipe_dedup_quality" -> Set("idCol", "textCol", "threshold", "shingle", "bands", "rowsPerBand"),
    "pipe_simhash" -> Set("idCol", "textCol", "bits"),
    "pipe_dup_spans_maximal" -> Set("idCol", "textCol", "seedTokens", "maxBucket"),
    "pipe_cut_dup_spans" -> Set("idCol", "textCol", "seedTokens", "maxBucket"),
    "pipe_segment_dedup" -> Set("idCol", "textCol", "sep", "windowWords",
      "maxDupCount", "lowercase"),
    "pipe_semantic_dedup" -> Set("idCol", "vecCol", "threshold", "nlist", "lloydIters"),
    "pipe_token_count" -> Set("idCol", "textCol"),
    "pipe_chunk" -> Set("idCol", "textCol", "chunkWords", "overlapWords"),
    "pipe_language_id" -> Set("idCol", "textCol"),
    "pipe_quality" -> Set("idCol", "textCol"),
    "pipe_char_entropy" -> Set("idCol", "textCol"),
    "pipe_redact_pii" -> Set("idCol", "textCol"),
    "pipe_hash_sample" -> Set("idCol", "fraction", "seed"),
    "pipe_mixture_sample" -> Set("idCol", "strataCol", "fractions", "seed"),
    "pipe_hash_split" -> Set("idCol", "fractions", "seed"),
    "pipe_shuffle_shards" -> Set("idCol", "numShards", "seed"),
    "pipe_importance_sample" -> Set("idCol", "weightCol", "targetFraction", "seed"),
    "pipe_bigram_lm" -> Set("idCol", "textCol", "alpha"),
    "pipe_nb_classifier" -> Set("idCol", "textCol", "labelCol",
      "trainFraction", "seed"),
    "pipe_bpe_train" -> Set("textCol", "numMerges"),
    "pipe_bpe_encode" -> Set("idCol", "textCol", "numMerges"),
    "pipe_vocab_oov" -> Set("idCol", "textCol", "vocabSize"),
    "pipe_ann_topk" -> Set("idCol", "vecCol", "k"),
    "pipe_knn_graph" -> Set("idCol", "vecCol", "k", "mutual"),
    "pipe_label_spread" -> Set("idCol", "vecCol", "labelCol", "k", "rounds",
      "seedFraction", "seed"),
    "pipe_random_projection" -> Set("idCol", "vecCol", "dOut", "dim"),
    "pipe_funnel" -> Set("steps", "windowMinutes"),
    "pipe_approx_distinct" -> Set("groupCol", "valueCol", "k"),
    "pipe_group_sample" -> Set("groupCol", "idCol", "k", "seed"),
    "pipe_weighted_sample" -> Set("idCol", "weightCol", "k", "seed", "maxWeight"),
    "pipe_rate_spikes" -> Set("lookback", "num", "den"),
    "pipe_pmi_bigrams" -> Set("idCol", "textCol", "minCount", "topK"),
    "pipe_cohort" -> Set.empty[String],
    "pipe_containment" -> Set("idCol", "textCol", "shingle", "minShared",
      "threshold", "maxDocFreq"),
    "pipe_top_paths" -> Set("gapMinutes", "maxSteps", "k"),
    "pipe_rfm" -> Set("buckets"),
    "pipe_normalize" -> Set("idCol", "textCol"),
    "pipe_attribution_linear" -> Set("touchType", "convType", "windowMinutes"),
    "pipe_ann_ivf_hier" -> Set("idCol", "vecCol", "k", "nsuper", "nlistPer",
      "wprobe", "nprobe"),
    "pipe_image_decode" -> Set("idCol", "binCol"),
    "pipe_image_ahash" -> Set("idCol", "binCol", "grid"),
    "pipe_image_resize" -> Set("idCol", "binCol", "width", "height"),
    "pipe_image_histogram" -> Set("idCol", "binCol", "bins"),
    "pipe_audio_decode" -> Set("idCol", "binCol"),
    "pipe_video_demux" -> Set("idCol", "binCol"),
    // two-table pipeline ops: left/train rides the vertices slot,
    // right/bench the edges slot
    "pipe_asof_join" -> Set("on", "leftTs", "rightTs", "rightCols",
      "prefix", "strict", "direction"),
    "pipe_contaminated_spans" -> Set("idCol", "textCol", "seedTokens", "maxBucket"),
    "pipe_cut_contaminated" -> Set("idCol", "textCol", "seedTokens", "maxBucket"),
    "pipe_cms_topk" -> Set("keyCol", "k", "depth", "width", "seed"),
    "pipe_fuzzy_pairs" -> Set("idCol", "textCol", "blockExpr", "blockExprs",
      "maxDist", "maxBlock"),
    "pipe_dsir" -> Set("idCol", "textCol", "targetExpr", "buckets", "alpha"),
    "pipe_budget_select" -> Set("idCol", "groupCol", "tokenCol", "scoreCol",
      "budget"),
    "pipe_strip_markup" -> Set("idCol", "htmlCol"),
    "pipe_url_canonical" -> Set("idCol", "urlCol"),
    "pipe_host_stats" -> Set("idCol", "urlCol"),
    "pipe_extract_links" -> Set("idCol", "htmlCol", "maxLinksPerPage"),
    "pipe_link_graph" -> Set("idCol", "urlCol", "htmlCol", "maxLinksPerPage"),
    "pipe_host_rank" -> Set("idCol", "urlCol", "htmlCol", "maxIter",
      "resetProbability", "maxLinksPerPage"),
    "pipe_group_quantiles" -> Set("groupCol", "valueCol", "qs"),
    "pipe_quantile_cut" -> Set("groupCol", "scoreCol", "q"),
    "pipe_unigram_train" -> Set("textCol", "vocabSize", "maxPieceLen",
      "iterations", "maxWordLen"),
    // two-table: the trained vocab (piece, cost_micro_nats) rides the
    // vertices slot, the documents the edges slot
    "pipe_unigram_encode" -> Set("idCol", "textCol", "maxPieceLen",
      "maxWordLen"),
    "pipe_wordpiece_vocab" -> Set("textCol", "vocabSize", "maxPieceLen",
      "maxWordLen"),
    // two-table: the vocab (piece, ...) rides the vertices slot, the
    // documents the edges slot
    "pipe_wordpiece_encode" -> Set("idCol", "textCol", "maxPieceLen",
      "maxWordLen"),
    "pipe_gopher_rules" -> Set("idCol", "textCol", "minWords", "maxWords",
      "minAvgWordLen", "maxAvgWordLen", "maxSymbolPct", "maxBulletPct",
      "maxEllipsisPct", "minAlphaPct", "minStopwords", "stopwords"),
    "pipe_keep_best" -> Set("clusterCol", "idCol", "scoreCol"),
    // two-table: OLD snapshot rides the vertices slot, NEW the edges slot
    "pipe_corpus_diff" -> Set("idCol", "textCol"),
    "pipe_co_occurrence" -> Set("basketCol", "itemCol", "maxBasket"),
    "pipe_also_bought" -> Set("basketCol", "itemCol", "maxBasket", "k"),
    "pipe_transition_matrix" -> Set("gapMinutes"),
    // two-table: points ride the vertices slot, intervals the edges slot
    "pipe_range_join" -> Set("on", "leftTs", "rightStart", "rightEnd",
      "rightCols", "prefix", "bucketMs", "maxBucketsPerInterval"))

  /** Algorithm names accepted by [[run]], for error messages and clients. */
  val algorithms: Seq[String] = (acceptedParams.keys ++ pipelineParams.keys).toSeq.sorted

  def run(vertices: Option[DataFrame], edges: DataFrame,
      algorithm: String, paramsJson: String): DataFrame = {
    val params: Map[String, JValue] = paramsJson.trim match {
      case "" => Map.empty
      case s => JsonMethods.parse(s) match {
        case JObject(fields) => fields.toMap
        case other => throw new IllegalArgumentException(
          s"params_json must be a JSON object, got: $other")
      }
    }
    // a present-but-mistyped parameter is an ERROR, not a silent fallback
    // to the default — remote clients get no other signal
    def typed[T](k: String, what: String)(pf: PartialFunction[JValue, T]): Option[T] =
      params.get(k).map { v =>
        pf.applyOrElse(v, (bad: JValue) => throw new IllegalArgumentException(
          s"params_json key '$k' must be $what, got: $bad"))
      }
    def str(k: String): Option[String] =
      typed(k, "a string") { case JString(s) => s }
    def int(k: String): Option[Int] = typed(k, "a 32-bit integer") {
      // range-check before narrowing: BigInt.toInt/Long.toInt silently
      // wrap, and maxIter=2^32 running as maxIter=0 is the silent-wrong-
      // parameter failure the typed() guard exists to prevent
      case JInt(i) if i.isValidInt => i.toInt
      case JLong(l) if l.isValidInt => l.toInt
      case JDouble(d) if d.isWhole && d >= Int.MinValue && d <= Int.MaxValue => d.toInt
    }
    def long(k: String): Option[Long] = typed(k, "a 64-bit integer") {
      case JInt(i) if i.isValidLong => i.toLong
      case JLong(l) => l
      // every whole double in [-2^63, 2^63) converts exactly
      case JDouble(d) if d.isWhole && d >= -9.223372036854775808e18 &&
          d < 9.223372036854775808e18 => d.toLong
    }
    def bool(k: String): Option[Boolean] = typed(k, "a boolean") { case JBool(b) => b }
    def dbl(k: String): Option[Double] = typed(k, "a number") {
      case JDouble(d) => d
      case JInt(i) => i.toDouble
      case JLong(l) => l.toDouble
    }
    def idValue(v: JValue): Any = v match {
      case JString(s) => s
      case JInt(i) => i.toLong
      case JLong(l) => l
      case other => throw new IllegalArgumentException(s"unsupported id value: $other")
    }
    def required(k: String): String = str(k).getOrElse(
      throw new IllegalArgumentException(s"$algorithm requires params_json key '$k'"))

    (acceptedParams.get(algorithm) orElse pipelineParams.get(algorithm)).foreach { accepted =>
      val unknown = params.keySet -- accepted
      if (unknown.nonEmpty) {
        throw new IllegalArgumentException(
          s"unknown params_json key(s) ${unknown.mkString("'", "', '", "'")} for " +
            s"$algorithm; accepted: ${
              if (accepted.isEmpty) "(none)" else accepted.toSeq.sorted.mkString(", ")}")
      }
    }

    if (pipelineParams.contains(algorithm)) {
      if (algorithm == "pipe_asof_join") {
        val leftT = vertices.getOrElse(throw new IllegalArgumentException(
          "pipe_asof_join needs TWO tables: left in the vertices slot, " +
            "right in the edges slot"))
        def strList(k: String): Seq[String] = params.get(k) match {
          case Some(JArray(vs)) => vs.map {
            case JString(x) => x
            case other => throw new IllegalArgumentException(
              s"$k entries must be strings, got: $other")
          }
          case _ => throw new IllegalArgumentException(
            s"pipe_asof_join requires params_json key '$k' (array of column names)")
        }
        return graft.pipeline.Events.asofJoin(leftT, edges,
          on = strList("on"), leftTs = required("leftTs"),
          rightTs = required("rightTs"), rightCols = strList("rightCols"),
          prefix = str("prefix").getOrElse("asof_"),
          strict = bool("strict").getOrElse(false),
          direction = str("direction").getOrElse("backward"))
      }
      if (algorithm == "pipe_range_join") {
        val leftT = vertices.getOrElse(throw new IllegalArgumentException(
          "pipe_range_join needs TWO tables: points in the vertices slot, " +
            "intervals in the edges slot"))
        def strList(k: String): Seq[String] = params.get(k) match {
          case Some(JArray(vs)) => vs.map {
            case JString(x) => x
            case other => throw new IllegalArgumentException(
              s"$k entries must be strings, got: $other")
          }
          case _ => throw new IllegalArgumentException(
            s"pipe_range_join requires params_json key '$k' (array of column names)")
        }
        return graft.pipeline.Events.rangeJoin(leftT, edges,
          on = strList("on"), leftTs = required("leftTs"),
          rightStart = required("rightStart"), rightEnd = required("rightEnd"),
          rightCols = strList("rightCols"),
          prefix = str("prefix").getOrElse("r_"),
          bucketMs = int("bucketMs").map(_.toLong).getOrElse(3600000L),
          maxBucketsPerInterval = int("maxBucketsPerInterval").getOrElse(1024))
      }
      if (algorithm == "pipe_corpus_diff") {
        // own-table-in-edges convention: the NEW snapshot is the edges
        // slot (the Pipeline's table), the OLD snapshot the vertices slot
        val oldSnap = vertices.getOrElse(throw new IllegalArgumentException(
          "pipe_corpus_diff needs TWO tables: the OLD snapshot in the " +
            "vertices slot, the NEW snapshot in the edges slot"))
        return graft.pipeline.Dedup.corpusDiff(oldSnap, edges,
          str("idCol").getOrElse("doc_id"), str("textCol").getOrElse("text"))
      }
      if (algorithm == "pipe_unigram_encode") {
        // own-table-in-edges convention: the documents are the edges
        // slot, the trained vocab (piece, cost_micro_nats) the vertices
        val vocab = vertices.getOrElse(throw new IllegalArgumentException(
          "pipe_unigram_encode needs TWO tables: the trained vocab " +
            "(piece, cost_micro_nats) in the vertices slot, the " +
            "documents in the edges slot"))
        return graft.pipeline.Tokenizer.unigramEncode(edges,
          str("idCol").getOrElse("doc_id"), str("textCol").getOrElse("text"),
          vocab, maxPieceLen = int("maxPieceLen").getOrElse(4),
          maxWordLen = int("maxWordLen").getOrElse(32))
      }
      if (algorithm == "pipe_wordpiece_encode") {
        // own-table-in-edges convention: the documents are the edges
        // slot, the WordPiece vocab (piece) the vertices slot
        val vocab = vertices.getOrElse(throw new IllegalArgumentException(
          "pipe_wordpiece_encode needs TWO tables: the vocab (piece) in " +
            "the vertices slot, the documents in the edges slot"))
        return graft.pipeline.Tokenizer.wordpieceEncode(edges,
          str("idCol").getOrElse("doc_id"), str("textCol").getOrElse("text"),
          vocab, maxPieceLen = int("maxPieceLen").getOrElse(4),
          maxWordLen = int("maxWordLen").getOrElse(32))
      }
      if (algorithm == "pipe_contaminated_spans" || algorithm == "pipe_cut_contaminated") {
        // own-table-in-edges convention (same as pipe_asof_join): the
        // TRAIN corpus rides the edges slot, the BENCHMARK corpus the
        // vertices slot
        val bench = vertices.getOrElse(throw new IllegalArgumentException(
          s"$algorithm needs TWO tables: the TRAIN corpus in the edges " +
            "slot, the BENCHMARK corpus in the vertices slot"))
        val f = if (algorithm == "pipe_contaminated_spans")
          graft.pipeline.Text.contaminatedSpans _
        else graft.pipeline.Text.cutContaminated _
        return f(edges, bench, required("idCol"), required("textCol"),
          int("seedTokens").getOrElse(8), int("maxBucket").getOrElse(256))
      }
      if (vertices.nonEmpty) throw new IllegalArgumentException(
        s"$algorithm is a single-table pipeline operator: send the input " +
          "table in the edges slot and omit vertices")
      val t = edges
      def id = required("idCol")
      def text = required("textCol")
      def vec = required("vecCol")
      import graft.pipeline.{Classify, Dedup, Sampling, Similarity, Text, Tokenizer}
      return algorithm match {
        case "pipe_exact_dedup" =>
          val cols = params.get("contentCols") match {
            case Some(JArray(vs)) => vs.map {
              case JString(s) => s
              case other => throw new IllegalArgumentException(
                s"contentCols entries must be strings, got: $other")
            }
            case _ => throw new IllegalArgumentException(
              "pipe_exact_dedup requires params_json key 'contentCols' (array of column names)")
          }
          Dedup.exact(t, id, cols)
        case "pipe_minhash_lsh" =>
          Dedup.minhashLsh(t, id, text, n = int("shingle").getOrElse(3),
            bands = int("bands").getOrElse(8),
            rowsPerBand = int("rowsPerBand").getOrElse(2))
        case "pipe_near_dup_clusters" =>
          Dedup.nearDupClusters(t, id, text, n = int("shingle").getOrElse(3),
            bands = int("bands").getOrElse(8),
            rowsPerBand = int("rowsPerBand").getOrElse(2))
        case "pipe_dedup_quality" =>
          Dedup.lshDedupQuality(t, id, text,
            threshold = dbl("threshold").getOrElse(0.5),
            n = int("shingle").getOrElse(3),
            bands = int("bands").getOrElse(8),
            rowsPerBand = int("rowsPerBand").getOrElse(2))
        case "pipe_simhash" =>
          Dedup.simhash(t, id, text, bits = int("bits").getOrElse(16))
        case "pipe_dup_spans_maximal" =>
          Text.dupSpansMaximal(t, id, text,
            seedTokens = int("seedTokens").getOrElse(8),
            maxBucket = int("maxBucket").getOrElse(256))
        case "pipe_cut_dup_spans" =>
          Text.cutDupSpans(t, id, text,
            seedTokens = int("seedTokens").getOrElse(8),
            maxBucket = int("maxBucket").getOrElse(256))
        case "pipe_segment_dedup" =>
          Dedup.segmentDedup(t, id, text,
            sep = str("sep").getOrElse("\n"),
            windowWords = int("windowWords").getOrElse(0),
            maxDupCount = int("maxDupCount").getOrElse(1).toLong,
            lowercase = bool("lowercase").getOrElse(false))
        case "pipe_semantic_dedup" =>
          Dedup.semanticDedup(t, id, vec,
            threshold = dbl("threshold").getOrElse(throw new IllegalArgumentException(
              "pipe_semantic_dedup requires params_json key 'threshold'")),
            nlist = int("nlist").getOrElse(16),
            lloydIters = int("lloydIters").getOrElse(0))
        case "pipe_token_count" => Text.tokenCount(t, id, text)
        case "pipe_chunk" =>
          Text.chunk(t, id, text,
            chunkWords = int("chunkWords").getOrElse(64),
            overlapWords = int("overlapWords").getOrElse(16))
        case "pipe_language_id" => Text.languageId(t, id, text)
        case "pipe_quality" => Text.quality(t, id, text)
        case "pipe_char_entropy" => Text.charEntropy(t, id, text)
        case "pipe_redact_pii" => Text.redactPii(t, id, text)
        case "pipe_hash_sample" =>
          Sampling.hashSample(t, id,
            fraction = dbl("fraction").getOrElse(throw new IllegalArgumentException(
              "pipe_hash_sample requires params_json key 'fraction'")),
            seed = long("seed").getOrElse(42L))
        case "pipe_importance_sample" =>
          Sampling.importanceSample(t, id, required("weightCol"),
            targetFraction = dbl("targetFraction").getOrElse(
              throw new IllegalArgumentException(
                "pipe_importance_sample requires params_json key 'targetFraction'")),
            seed = long("seed").getOrElse(42L))
        case "pipe_mixture_sample" =>
          val fractions = params.get("fractions") match {
            case Some(JObject(kvs)) => kvs.map {
              case (k, JDouble(d)) => k -> d
              case (k, JInt(i)) => k -> i.toDouble
              case (k, other) => throw new IllegalArgumentException(
                s"fractions['$k'] must be numeric, got: $other")
            }.toMap
            case _ => throw new IllegalArgumentException(
              "pipe_mixture_sample requires params_json key 'fractions' " +
                "(object of stratum -> fraction)")
          }
          Sampling.mixtureSample(t, id, required("strataCol"), fractions,
            seed = long("seed").getOrElse(42L))
        case "pipe_hash_split" =>
          val fractions = params.get("fractions") match {
            case Some(JObject(kvs)) => kvs.map {
              case (k, JDouble(d)) => k -> d
              case (k, JInt(i)) => k -> i.toDouble
              case (k, other) => throw new IllegalArgumentException(
                s"fractions['$k'] must be numeric, got: $other")
            }.toMap
            case _ => throw new IllegalArgumentException(
              "pipe_hash_split requires params_json key 'fractions' " +
                "(object of split -> fraction, summing to 1)")
          }
          Sampling.hashSplit(t, id, fractions,
            seed = long("seed").getOrElse(42L))
        case "pipe_shuffle_shards" =>
          Sampling.shuffleShards(t, id,
            numShards = int("numShards").getOrElse(throw
              new IllegalArgumentException(
                "pipe_shuffle_shards requires params_json key 'numShards'")),
            seed = long("seed").getOrElse(42L))
        case "pipe_bigram_lm" =>
          Text.bigramLmScore(t, id, text, alpha = dbl("alpha").getOrElse(0.5))
        case "pipe_nb_classifier" =>
          Classify.naiveBayesTrainPredict(t, id, text,
            str("labelCol").getOrElse(throw new IllegalArgumentException(
              "pipe_nb_classifier requires params_json key 'labelCol'")),
            trainFraction = dbl("trainFraction").getOrElse(0.75),
            seed = long("seed").getOrElse(42L))
        case "pipe_bpe_train" =>
          Tokenizer.bpeTrain(t, text, numMerges = int("numMerges").getOrElse(10))
        case "pipe_bpe_encode" =>
          Tokenizer.bpeTrainEncode(t, id, text,
            numMerges = int("numMerges").getOrElse(10))._2
        case "pipe_vocab_oov" =>
          Text.vocabOovRate(t, id, text, vocabSize = int("vocabSize").getOrElse(1000))
        case "pipe_ann_topk" =>
          Similarity.topK(t, id, vec, k = int("k").getOrElse(10))
        case "pipe_knn_graph" =>
          Similarity.knnGraph(t, id, vec, k = int("k").getOrElse(10),
            mutual = bool("mutual").getOrElse(true))
        case "pipe_funnel" =>
          val steps = params.get("steps") match {
            case Some(JArray(vs)) => vs.map {
              case JString(x) => x
              case other => throw new IllegalArgumentException(
                s"steps entries must be strings, got: $other")
            }
            case _ => throw new IllegalArgumentException(
              "pipe_funnel requires params_json key 'steps' (array of event types)")
          }
          graft.pipeline.Events.funnel(t, steps,
            windowMinutes = int("windowMinutes").getOrElse(60 * 24))
        case "pipe_cohort" =>
          graft.pipeline.Events.cohortRetention(t)
        case "pipe_containment" =>
          graft.pipeline.Dedup.containmentPairs(t,
            str("idCol").getOrElse("doc_id"), str("textCol").getOrElse("text"),
            n = int("shingle").getOrElse(3),
            minShared = int("minShared").getOrElse(2),
            threshold = dbl("threshold").getOrElse(0.5),
            maxDocFreq = int("maxDocFreq").getOrElse(Int.MaxValue))
        case "pipe_top_paths" =>
          graft.pipeline.Events.topPaths(t,
            gapMinutes = int("gapMinutes").getOrElse(30),
            maxSteps = int("maxSteps").getOrElse(5),
            k = int("k").getOrElse(20))
        case "pipe_rfm" =>
          graft.pipeline.Events.rfm(t, buckets = int("buckets").getOrElse(5))
        case "pipe_transition_matrix" =>
          graft.pipeline.Events.transitionMatrix(t,
            gapMinutes = int("gapMinutes").getOrElse(30))
        case "pipe_cms_topk" =>
          graft.pipeline.Sketches.cmsTopK(t, required("keyCol"),
            k = int("k").getOrElse(throw new IllegalArgumentException(
              "pipe_cms_topk requires params_json key 'k'")),
            depth = int("depth").getOrElse(4),
            width = int("width").getOrElse(1024),
            seed = long("seed").getOrElse(42L))
        case "pipe_fuzzy_pairs" =>
          // 'blockExprs' (array) takes the multi-pass blocking overload;
          // 'blockExpr' keeps the single-key path
          params.get("blockExprs") match {
            case Some(JArray(es)) =>
              val keys = es.map {
                case JString(e) => org.apache.spark.sql.functions.expr(e)
                case other => throw new IllegalArgumentException(
                  s"blockExprs entries must be SQL expression strings, got: $other")
              }
              Dedup.fuzzyPairs(t, id, text, keys,
                maxDist = int("maxDist").getOrElse(1),
                maxBlock = int("maxBlock").getOrElse(10000))
            case _ =>
              Dedup.fuzzyPairs(t, id, text,
                blockKey = org.apache.spark.sql.functions.expr(
                  str("blockExpr").getOrElse(throw new IllegalArgumentException(
                    "pipe_fuzzy_pairs requires params_json key 'blockExpr' " +
                      "(a SQL expression over the input columns, e.g. " +
                      "\"substr(name, 1, 4)\") or 'blockExprs' (array of them)"))),
                maxDist = int("maxDist").getOrElse(1),
                maxBlock = int("maxBlock").getOrElse(10000))
          }
        case "pipe_dsir" =>
          Text.dsirWeights(t, id, text,
            targetPred = org.apache.spark.sql.functions.expr(
              str("targetExpr").getOrElse(throw new IllegalArgumentException(
                "pipe_dsir requires params_json key 'targetExpr' (a boolean " +
                  "SQL expression marking the target rows, e.g. \"lang = 'en'\")")),
            ),
            buckets = int("buckets").getOrElse(1024),
            alpha = dbl("alpha").getOrElse(0.5))
        case "pipe_budget_select" =>
          val budget = long("budget").getOrElse(throw new IllegalArgumentException(
            "pipe_budget_select requires params_json key 'budget' (tokens per group)"))
          val tokenCol = required("tokenCol")
          Sampling.budgetSelect(t, id, required("groupCol"), tokenCol,
            str("scoreCol").getOrElse(tokenCol), budgetPerGroup = budget)
        case "pipe_co_occurrence" =>
          graft.pipeline.Recommend.coOccurrence(t, required("basketCol"),
            required("itemCol"), maxBasket = int("maxBasket").getOrElse(1000))
        case "pipe_also_bought" =>
          graft.pipeline.Recommend.alsoBought(
            graft.pipeline.Recommend.coOccurrence(t, required("basketCol"),
              required("itemCol"), maxBasket = int("maxBasket").getOrElse(1000)),
            k = int("k").getOrElse(10))
        case "pipe_normalize" =>
          graft.pipeline.Text.normalize(t,
            str("idCol").getOrElse("doc_id"), str("textCol").getOrElse("text"))
        case "pipe_strip_markup" =>
          graft.pipeline.Web.stripMarkup(t,
            str("idCol").getOrElse("doc_id"), str("htmlCol").getOrElse("html"))
        case "pipe_url_canonical" =>
          graft.pipeline.Web.urlCanonical(t,
            str("idCol").getOrElse("doc_id"), str("urlCol").getOrElse("url"))
        case "pipe_host_stats" =>
          graft.pipeline.Web.hostStats(t,
            str("idCol").getOrElse("doc_id"), str("urlCol").getOrElse("url"))
        case "pipe_extract_links" =>
          graft.pipeline.Web.extractLinks(t,
            str("idCol").getOrElse("doc_id"), str("htmlCol").getOrElse("html"),
            maxLinksPerPage = int("maxLinksPerPage").getOrElse(0))
        case "pipe_link_graph" =>
          graft.pipeline.Web.linkGraph(t,
            str("idCol").getOrElse("doc_id"), str("urlCol").getOrElse("url"),
            str("htmlCol").getOrElse("html"),
            maxLinksPerPage = int("maxLinksPerPage").getOrElse(0))
        case "pipe_host_rank" =>
          graft.pipeline.Web.hostRank(t,
            str("idCol").getOrElse("doc_id"), str("urlCol").getOrElse("url"),
            str("htmlCol").getOrElse("html"),
            maxIter = int("maxIter").getOrElse(10),
            resetProbability = dbl("resetProbability").getOrElse(0.15),
            maxLinksPerPage = int("maxLinksPerPage").getOrElse(0))
        case "pipe_group_quantiles" =>
          val qs = params.get("qs") match {
            case Some(JArray(vs)) => vs.map {
              case JDouble(d) => d
              case JInt(i) => i.toDouble
              case JLong(l) => l.toDouble
              case other => throw new IllegalArgumentException(
                s"qs entries must be numbers, got: $other")
            }
            case _ => throw new IllegalArgumentException(
              "pipe_group_quantiles requires params_json key 'qs' " +
                "(array of quantiles in [0,1])")
          }
          Sampling.groupQuantiles(t, required("groupCol"),
            required("valueCol"), qs)
        case "pipe_keep_best" =>
          Dedup.keepBest(t, required("clusterCol"), required("idCol"),
            required("scoreCol"))
        case "pipe_quantile_cut" =>
          Sampling.quantileCut(t, required("groupCol"), required("scoreCol"),
            dbl("q").getOrElse(throw new IllegalArgumentException(
              "pipe_quantile_cut requires params_json key 'q' (in [0,1])")))
        case "pipe_unigram_train" =>
          Tokenizer.unigramTrain(t, str("textCol").getOrElse("text"),
            vocabSize = int("vocabSize").getOrElse(200),
            maxPieceLen = int("maxPieceLen").getOrElse(4),
            iterations = int("iterations").getOrElse(2),
            maxWordLen = int("maxWordLen").getOrElse(32))
        case "pipe_wordpiece_vocab" =>
          Tokenizer.wordpieceVocab(t, str("textCol").getOrElse("text"),
            vocabSize = int("vocabSize").getOrElse(200),
            maxPieceLen = int("maxPieceLen").getOrElse(4),
            maxWordLen = int("maxWordLen").getOrElse(32))
        case "pipe_gopher_rules" =>
          val sw = params.get("stopwords") match {
            case Some(JArray(vs)) => vs.map {
              case JString(x) => x
              case other => throw new IllegalArgumentException(
                s"stopwords entries must be strings, got: $other")
            }
            case Some(other) => throw new IllegalArgumentException(
              s"stopwords must be an array of strings, got: $other")
            case None => Seq("the", "be", "to", "of", "and", "that",
              "have", "with")
          }
          Text.gopherRules(t, id, text,
            minWords = int("minWords").getOrElse(50),
            maxWords = int("maxWords").getOrElse(100000),
            minAvgWordLen = int("minAvgWordLen").getOrElse(3),
            maxAvgWordLen = int("maxAvgWordLen").getOrElse(10),
            maxSymbolPct = int("maxSymbolPct").getOrElse(10),
            maxBulletPct = int("maxBulletPct").getOrElse(90),
            maxEllipsisPct = int("maxEllipsisPct").getOrElse(30),
            minAlphaPct = int("minAlphaPct").getOrElse(80),
            minStopwords = int("minStopwords").getOrElse(2),
            stopwords = sw)
        case "pipe_attribution_linear" =>
          graft.pipeline.Events.linearAttribution(t,
            touchType = str("touchType").getOrElse("view"),
            convType = str("convType").getOrElse("purchase"),
            windowMinutes = int("windowMinutes").getOrElse(1440))
        case "pipe_approx_distinct" =>
          graft.pipeline.Sampling.approxDistinct(t,
            groupCol = required("groupCol"), valueCol = required("valueCol"),
            k = int("k").getOrElse(64))
        case "pipe_pmi_bigrams" =>
          Text.pmiBigrams(t, id, text,
            minCount = int("minCount").getOrElse(3),
            topK = int("topK").getOrElse(20))
        case "pipe_group_sample" =>
          graft.pipeline.Sampling.groupSample(t,
            groupCol = required("groupCol"), idCol = required("idCol"),
            k = int("k").getOrElse(throw new IllegalArgumentException(
              "pipe_group_sample requires params_json key 'k'")),
            seed = long("seed").getOrElse(42L))
        case "pipe_weighted_sample" =>
          Sampling.weightedSample(t, id, required("weightCol"),
            k = int("k").getOrElse(throw new IllegalArgumentException(
              "pipe_weighted_sample requires params_json key 'k'")),
            seed = long("seed").getOrElse(42L),
            maxWeight = int("maxWeight").getOrElse(4096))
        case "pipe_rate_spikes" =>
          // batch twin of the streaming spike detector: hourly per-type
          // counts + the exact-integer lag finisher
          graft.streaming.EventStreams.rateSpikes(
            graft.pipeline.Events.hourlyAgg(t)
              .select(col("window_start"), col("event_type"), col("n_events")),
            lookback = int("lookback").getOrElse(3),
            num = int("num").map(_.toLong).getOrElse(3L),
            den = int("den").map(_.toLong).getOrElse(2L))
        case "pipe_random_projection" =>
          Similarity.randomProjection(t, id, vec,
            dOut = int("dOut").getOrElse(throw new IllegalArgumentException(
              "pipe_random_projection requires params_json key 'dOut'")),
            dim = int("dim").getOrElse(-1))
        case "pipe_label_spread" =>
          Similarity.labelSpread(t, id, vec,
            labelCol = str("labelCol").getOrElse(throw new IllegalArgumentException(
              "pipe_label_spread requires params_json key 'labelCol'")),
            k = int("k").getOrElse(5), rounds = int("rounds").getOrElse(3),
            seedFraction = dbl("seedFraction").getOrElse(0.5),
            seed = long("seed").getOrElse(42L))
        case "pipe_ann_ivf_hier" =>
          Similarity.ivfTopKHier(t, id, vec, k = int("k").getOrElse(10),
            nsuper = int("nsuper").getOrElse(16),
            nlistPer = int("nlistPer").getOrElse(16),
            wprobe = int("wprobe").getOrElse(2),
            nprobe = int("nprobe").getOrElse(4))
        case "pipe_image_decode" =>
          graft.multimodal.Multimodal.decodeImageStats(t, id, required("binCol")).toDF()
        case "pipe_image_ahash" =>
          graft.multimodal.Multimodal.imageAHash(t, id, required("binCol"),
            grid = int("grid").getOrElse(8))
        case "pipe_image_resize" =>
          graft.multimodal.Multimodal.resizeImage(t, id, required("binCol"),
            targetW = int("width").getOrElse(throw new IllegalArgumentException(
              "pipe_image_resize requires params_json key 'width'")),
            targetH = int("height").getOrElse(throw new IllegalArgumentException(
              "pipe_image_resize requires params_json key 'height'")))
        case "pipe_image_histogram" =>
          graft.multimodal.Multimodal.imageHistogram(t, id, required("binCol"),
            bins = int("bins").getOrElse(16)).toDF()
        case "pipe_audio_decode" =>
          graft.multimodal.Multimodal.decodeAudioStats(t, id, required("binCol")).toDF()
        case "pipe_video_demux" =>
          graft.multimodal.Multimodal.demuxRiffFrames(t, id, required("binCol")).toDF()
        case other => throw new IllegalStateException(s"unhandled pipeline op $other")
      }
    }

    val g = vertices match {
      case Some(v) => GraphFrame(v, edges)
      case None => GraphFrame.fromEdges(edges)
    }

    algorithm match {
      case "triplets" => g.triplets
      case "degrees" => g.degrees
      case "in_degrees" => g.inDegrees
      case "out_degrees" => g.outDegrees
      case "filter_vertices" => g.filterVertices(required("condition")).vertices
      case "filter_edges" => g.filterEdges(required("condition")).edges
      case "drop_isolated_vertices" => g.dropIsolatedVertices().vertices
      case "find" => g.find(required("pattern"))
      case "bfs" =>
        val b = g.bfs.fromExpr(required("fromExpr")).toExpr(required("toExpr"))
        int("maxPathLength").foreach(b.maxPathLength)
        b.run()
      case "pregel" =>
        // expression strings see the same frame the Scala API does:
        // previous state columns plus the aggregated message _pregel_msg_
        val p = g.pregel.withVertexColumn(required("vertexColName"),
          expr(required("initExpr")), expr(required("updateExpr")))
        str("sendToDst").foreach(s => p.sendMsgToDst(expr(s)))
        str("sendToSrc").foreach(s => p.sendMsgToSrc(expr(s)))
        p.aggMsgs(expr(required("aggMsgs")))
        int("maxIter").foreach(p.setMaxIter)
        int("checkpointInterval").foreach(p.setCheckpointInterval)
        // comma-joined, matching the reference proto's string fields
        // (graphframes.proto required_src_columns / required_dst_columns)
        str("requiredSrcColumns").map(_.split(',').map(_.trim).toSeq)
          .filter(_.nonEmpty).foreach(cs => p.requiredSrcColumns(cs.head, cs.tail: _*))
        str("requiredDstColumns").map(_.split(',').map(_.trim).toSeq)
          .filter(_.nonEmpty).foreach(cs => p.requiredDstColumns(cs.head, cs.tail: _*))
        p.run()
      case "aggregate_messages" =>
        val a = g.aggregateMessages
        str("sendToDst").foreach(s => a.sendToDst(expr(s)))
        str("sendToSrc").foreach(s => a.sendToSrc(expr(s)))
        a.agg(expr(required("aggCol")))
      case "aggregate_neighbors" =>
        // two modes, mirroring the Scala builder: aggCol → per-hop
        // aggregation; accNames/accInits/accUpdates → the reference's
        // path-accumulator surface (proto message AggregateNeighbors,
        // reference graphframes.proto:214-244)
        def strList(k: String): Option[Seq[String]] = typed(k, "an array of strings") {
          case JArray(vs) => vs.map {
            case JString(s) => s
            case other => throw new IllegalArgumentException(
              s"params_json key '$k' entries must be strings, got: $other")
          }
        }
        val an = g.aggregateNeighbors
        strList("accNames").foreach { names =>
          val inits = strList("accInits").getOrElse(throw new IllegalArgumentException(
            "aggregate_neighbors with accNames requires accInits"))
          val updates = strList("accUpdates").getOrElse(throw new IllegalArgumentException(
            "aggregate_neighbors with accNames requires accUpdates"))
          an.setAccumulators(names, inits.map(expr), updates.map(expr))
        }
        str("aggCol").foreach(a => an.agg(expr(a)))
        int("maxHops").foreach(an.setMaxHops)
        str("startingVertices").map(expr).foreach(an.setStartingVertices)
        str("stoppingCondition").map(expr).foreach(an.setStoppingCondition)
        str("targetCondition").map(expr).foreach(an.setTargetCondition)
        str("edgeFilter").map(expr).foreach(an.setEdgeFilter)
        bool("removeLoops").foreach(an.setRemoveLoops)
        strList("requiredVertexAttributes").foreach(an.setRequiredVertexAttributes)
        strList("requiredEdgeAttributes").foreach(an.setRequiredEdgeAttributes)
        an.run()
      case "connected_components" =>
        val cc = g.connectedComponents
        str("algorithm").foreach(cc.setAlgorithm)
        cc.run()
      case "strongly_connected_components" =>
        val scc = g.stronglyConnectedComponents
        int("maxIter").foreach(scc.maxIter)
        scc.run()
      case "page_rank" =>
        val pr = g.pageRank
        dbl("resetProb").foreach(pr.resetProbability)
        int("maxIter").foreach(pr.maxIter)
        dbl("tol").foreach(pr.tol)
        params.get("sourceId").foreach(v => pr.sourceId(idValue(v)))
        str("weightCol").foreach(pr.weightCol)
        pr.run().vertices
      case "parallel_personalized_page_rank" =>
        val srcs = params.get("sourceIds") match {
          case Some(JArray(vs)) => vs.map(idValue)
          case _ => throw new IllegalArgumentException(
            "parallel_personalized_page_rank requires params_json key 'sourceIds' (array of ids)")
        }
        val pp = g.parallelPersonalizedPageRank.sourceIds(srcs)
        dbl("resetProb").foreach(pp.resetProbability)
        int("maxIter").foreach(pp.maxIter)
        pp.run().vertices
      case "shortest_paths" =>
        val ls = params.get("landmarks") match {
          case Some(JArray(vs)) => vs.map(idValue)
          case _ => throw new IllegalArgumentException(
            "shortest_paths requires params_json key 'landmarks' (array of ids)")
        }
        val sp = g.shortestPaths.landmarks(ls)
        int("maxIter").foreach(sp.maxIter)
        bool("isDirected").foreach(sp.setDirected)
        str("weightCol").foreach(sp.weightCol)
        sp.run()
      case "label_propagation" =>
        val lp = g.labelPropagation
        int("maxIter").foreach(lp.maxIter)
        str("algorithm").foreach(lp.setAlgorithm)
        bool("isDirected").foreach(lp.setDirected)
        lp.run()
      case "triangle_count" =>
        val tc = g.triangleCount
        str("algorithm").foreach(tc.setAlgorithm)
        int("lgNomEntries").foreach(tc.setLgNomEntries)
        tc.run()
      case "hits" =>
        val h = g.hits
        int("maxIter").foreach(h.maxIter)
        int("roundsPerCycle").foreach(h.roundsPerCycle)
        h.run()
      case "salsa" =>
        val sl = g.salsa
        int("maxIter").foreach(sl.maxIter)
        int("roundsPerCycle").foreach(sl.roundsPerCycle)
        sl.run()
      case "influence_max" =>
        val im = g.influenceMax
        int("k").foreach(im.k)
        str("mode").foreach(im.mode)
        dbl("p").foreach(im.p)
        im.run()
      case "independent_cascade" =>
        val ic = new graft.lib.IndependentCascade(g)
        dbl("p").foreach(ic.p)
        int("hashSeed").foreach(s => ic.hashSeed(s.toLong))
        int("maxIter").foreach(ic.maxIter)
        long("smallGraphThreshold").foreach(ic.setSmallGraphThreshold)
        val icSeeds = params.get("seeds") match {
          case Some(JArray(vs)) => vs.map(idValue)
          case _ => throw new IllegalArgumentException(
            "independent_cascade requires params_json key 'seeds' (array of ids)")
        }
        ic.run(icSeeds)
      case "to_dot" =>
        graft.sources.GraphLoader.toDotLines(g, str("name").getOrElse("g"))
      case "to_graphml" =>
        graft.sources.GraphLoader.toGraphMLLines(g,
          directed = bool("directed").getOrElse(true))
      case "temporal_reachability" =>
        val tr = new graft.lib.TemporalReachability(g)
        params.get("source").foreach {
          case JString(s) => tr.source(s)
          case JInt(i) => tr.source(i.toLong)
          case JLong(l) => tr.source(l)
          case other => throw new IllegalArgumentException(
            s"source must be a string or integer id, got: $other")
        }
        dbl("startTime").foreach(tr.startTime)
        str("timeCol").foreach(tr.timeCol)
        str("durationCol").foreach(tr.durationCol)
        int("maxIter").foreach(tr.maxIter)
        long("smallGraphThreshold").foreach(tr.setSmallGraphThreshold)
        tr.run()
      case "triangles" => graft.lib.Cliques.triangles(g)
      case "cliques4" => graft.lib.Cliques.cliques4(g)
      case "maximal_matching" =>
        val mm = g.maximalMatching
        int("maxIter").foreach(mm.maxIter)
        long("seed").foreach(mm.seed)
        str("weightCol").foreach(mm.weightCol)
        long("smallGraphThreshold").foreach(mm.setSmallGraphThreshold)
        mm.run()
      case "voronoi" =>
        val vseeds = params.get("seeds") match {
          case Some(JArray(vs)) => vs.map(idValue)
          case _ => throw new IllegalArgumentException(
            "voronoi requires params_json key 'seeds' (array of ids)")
        }
        g.voronoi(vseeds)
      case "negative_samples" =>
        val ns = new graft.embeddings.NegativeSampling(g)
        int("k").foreach(ns.setK)
        int("candidates").foreach(ns.setCandidates)
        long("seed").foreach(ns.setSeed)
        bool("undirected").foreach(ns.setUndirected)
        ns.run()
      case "katz" =>
        val kz = g.katz
        int("maxIter").foreach(kz.maxIter)
        dbl("alpha").foreach(kz.alpha)
        dbl("beta").foreach(kz.beta)
        int("roundsPerCycle").foreach(kz.roundsPerCycle)
        kz.run()
      case "eigenvector" =>
        val ev = g.eigenvector
        int("maxIter").foreach(ev.maxIter)
        str("weightCol").foreach(ev.weightCol)
        int("roundsPerCycle").foreach(ev.roundsPerCycle)
        ev.run()
      case "minimum_spanning_forest" =>
        val msf = g.minimumSpanningForest
        str("weightCol").foreach(msf.weightCol)
        msf.run()
      case "betweenness" =>
        val bc = g.betweenness
        int("sampleK").foreach(bc.sampleSources)
        str("weightCol").foreach(bc.weightCol)
        bool("normalized").foreach(bc.normalized)
        bc.run()
      case "closeness" =>
        val cl = g.closeness
        int("sampleK").foreach(cl.sampleSources)
        str("weightCol").foreach(cl.weightCol)
        cl.run()
      case "eccentricity" =>
        val ec = g.eccentricity
        int("sampleK").foreach(ec.sampleSources)
        str("weightCol").foreach(ec.weightCol)
        ec.run()
      case "louvain" =>
        val lv = g.louvain
        int("maxIter").foreach(lv.maxIter)
        int("levels").foreach(lv.setLevels)
        str("gainMode").foreach(lv.setGainMode)
        lv.run()
      // single-relation contract: Q of the louvain(maxIter) partition
      // (an arbitrary client-side partition would need a second input
      // relation, which the proto's one-graph shape doesn't carry)
      case "modularity" =>
        val lv = g.louvain
        int("maxIter").foreach(lv.maxIter)
        g.modularity(lv.run().select(col(graft.GraphFrame.ID), col("community")))
      case "rich_club" =>
        val ks = params.get("ks") match {
          case Some(JArray(vs)) => vs.map {
            case JInt(i) if i.isValidInt => i.toInt
            case other => throw new IllegalArgumentException(
              s"ks entries must be 32-bit integers, got: $other")
          }
          case _ => throw new IllegalArgumentException(
            "rich_club requires params_json key 'ks' (array of degree thresholds)")
        }
        g.richClub(ks)
      case "triad_census" => g.triadCensus.run()
      case "simrank" =>
        val sr = g.simRank
        int("maxIter").foreach(sr.maxIter)
        dbl("c").foreach(sr.setC)
        dbl("minSim").foreach(sr.setMinSim)
        int("maxPairs").foreach(n => sr.setMaxPairs(n.toLong))
        sr.run()
      case "ppr_sweep" =>
        val sw = g.pprSweep
        sw.source(idValue(params.getOrElse("source",
          throw new IllegalArgumentException(
            "ppr_sweep requires params_json key 'source' (seed vertex id)"))))
        dbl("resetProb").foreach(sw.resetProbability)
        int("maxIter").foreach(sw.maxIter)
        int("sweepK").foreach(sw.sweepK)
        sw.run()
      case "bridges" | "articulation_points" | "two_edge_components" =>
        val tc = g.twoConnectivity
        long("smallGraphThreshold").foreach(tc.setSmallGraphThreshold)
        int("maxAncestorRows").foreach(n => tc.setMaxAncestorRows(n.toLong))
        algorithm match {
          case "bridges" => tc.bridges()
          case "articulation_points" => tc.articulationPoints()
          case _ => tc.twoEdgeComponents()
        }
      // bipartite butterfly counts read the edge relation as the
      // (left, right) incidence table — src = left, dst = pivot side
      case "butterfly" =>
        val cap = int("maxPivotDegree").getOrElse(Int.MaxValue)
        if (str("part").contains("vertex"))
          graft.lib.Butterflies.perVertex(g.edges, GraphFrame.SRC, GraphFrame.DST, cap)
        else
          graft.lib.Butterflies.globalCounts(g.edges, GraphFrame.SRC, GraphFrame.DST, cap)
      case "clustering_coefficient" => g.clusteringCoefficient.run()
      case "assortativity" => g.assortativity
      case "conductance" =>
        g.conductance(str("attrCol").getOrElse(throw new IllegalArgumentException(
          "conductance requires params_json key 'attrCol' (the community column)")))
      case "reciprocity" => g.reciprocity
      case "edge_betweenness" =>
        val ebc = g.betweenness
        int("sampleK").foreach(ebc.sampleSources)
        ebc.runEdges()
      case "transitivity" => g.transitivity
      case "graph_stats" => g.stats
      // sampling returns ONE table per call: the induced edges by default,
      // or the sampled vertex rows (with their attributes) when
      // part=vertices — a remote client fetches both with two calls
      case "sample_vertices" =>
        val sg = g.sampleVertices(dbl("fraction").getOrElse(0.1),
          long("seed").getOrElse(42L))
        if (str("part").contains("vertices")) sg.vertices else sg.edges
      case "sample_edges" =>
        val sg = g.sampleEdges(dbl("fraction").getOrElse(0.1),
          long("seed").getOrElse(42L))
        if (str("part").contains("vertices")) sg.vertices else sg.edges
      case "ktruss" =>
        val kt = g.kTruss
        int("k").foreach(kt.setK)
        int("maxIter").foreach(kt.maxIter)
        kt.run()
      case "neighborhood_function" =>
        val nfn = g.neighborhoodFunction
        int("maxIter").foreach(nfn.maxIter)
        int("lgNomEntries").foreach(nfn.setLgNomEntries)
        nfn.run()
      case "link_prediction" =>
        val lp = g.linkPrediction
        int("maxHubDegree").foreach(n => lp.setMaxHubDegree(n.toLong))
        lp.run()
      case "greedy_coloring" =>
        val gc = g.greedyColoring
        int("maxColors").foreach(gc.maxColors)
        int("maxIter").foreach(gc.maxIter)
        long("seed").foreach(gc.seed)
        str("hashMode").foreach(gc.setHashMode)
        gc.run()
      case "kcore" =>
        val kc = g.kCore
        int("maxIter").foreach(kc.maxIter)
        kc.run()
      case "maximal_independent_set" =>
        val mis = g.maximalIndependentSet
        int("maxIter").foreach(mis.maxIter)
        str("hashMode").foreach(mis.setHashMode)
        mis.run()
      case "detecting_cycles" =>
        val dc = g.detectingCycles
        int("maxIter").foreach(dc.maxIter)
        dc.run()
      case "random_walks" =>
        val rw = g.randomWalks
        int("walkLength").foreach(rw.setWalkLength)
        int("walksPerVertex").foreach(rw.setWalksPerVertex)
        dbl("restartProb").foreach(rw.setRestartProbability)
        dbl("returnParam").foreach(rw.setReturnParam)
        dbl("inOutParam").foreach(rw.setInOutParam)
        str("weightCol").foreach(rw.setWeightCol)
        long("seed").foreach(rw.setSeed)
        str("hashMode").foreach(rw.setHashMode)
        rw.run()
      case "power_iteration_clustering" =>
        g.powerIterationClustering(
          k = int("k").getOrElse(throw new IllegalArgumentException(
            "power_iteration_clustering requires params_json key 'k'")),
          maxIter = int("maxIter").getOrElse(20),
          weightCol = str("weightCol"),
          initMode = str("initMode").getOrElse("random"))
      case "svd_plus_plus" =>
        val svd = g.svdPlusPlus
        int("rank").foreach(svd.setRank)
        int("maxIter").foreach(svd.maxIter)
        dbl("minValue").foreach(svd.setMinValue)
        dbl("maxValue").foreach(svd.setMaxValue)
        svd.run()
      case "rw_embeddings" =>
        // composite builder surface mirroring the reference proto's
        // RandomWalkEmbeddings message (sequence_model, word2vec_*/
        // hash2vec_* knobs, use_edge_direction, aggregate_neighbors)
        val rwe = g.randomWalkEmbeddings
          .setDim(int("dim").getOrElse(32))
          .setWalkLength(int("walkLength").getOrElse(5))
          .setNumWalksPerNode(int("walksPerVertex").getOrElse(4))
          .setSeed(long("seed").getOrElse(42L))
        str("sequenceModel").foreach(rwe.setSequenceModel)
        dbl("restartProbability").foreach(rwe.setRestartProbability)
        int("rwMaxNbrs").foreach(rwe.setRwMaxNbrs)
        bool("useEdgeDirection").foreach(rwe.setUseEdgeDirections)
        bool("aggregateNeighbors").foreach(rwe.setAggregateNeighbors)
        int("aggregateNeighborsMaxNbrs").foreach(rwe.setMaxNbrs)
        int("word2vecMaxIter").foreach(rwe.setWord2VecMaxIter)
        int("word2vecWindowSize").foreach(rwe.setWord2VecWindowSize)
        int("word2vecMinCount").foreach(rwe.setWord2VecMinCount)
        dbl("word2vecStepSize").foreach(rwe.setWord2VecStepSize)
        int("hash2vecContextSize").foreach(rwe.setHash2VecContextSize)
        str("hash2vecDecayFunction").foreach(rwe.setHash2VecDecayFunction)
        dbl("hash2vecGaussianSigma").foreach(rwe.setHash2VecGaussianSigma)
        bool("hash2vecDoL2Norm").foreach(rwe.setHash2VecDoL2Norm)
        bool("hash2vecSafeL2").foreach(rwe.setHash2VecSafeL2)
        rwe.run()
      case other =>
        throw new IllegalArgumentException(
          s"unknown graft algorithm '$other'; supported: ${algorithms.mkString(", ")}")
    }
  }
}
