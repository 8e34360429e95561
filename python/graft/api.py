"""Transport-neutral method tables shared by the two graft Python clients.

``GraphFrameMethods`` / ``PipelineMethods`` hold the full user-facing
algorithm surface ONCE; a concrete client supplies only ``_call(algorithm,
**params)`` — the Connect client (:mod:`graft.client`) ships a
GraftRelation plan over the wire, the classic client (:mod:`graft.classic`)
invokes ``graft.GraftPythonAPI`` through the py4j gateway. Parameter names
match the server's ``GraftConnectDispatch`` table verbatim; ``None``
parameters are dropped by the transports, so server defaults apply.

This module is dependency-free (no pyspark import): return annotations are
intentionally loose so it imports under either client's environment.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional


class GraphFrameMethods:
    """Graph algorithm surface; mix into a class providing ``_call``."""

    def _call(self, _algorithm: str, **params: Any):
        raise NotImplementedError

    # --- structure -----------------------------------------------------
    def triplets(self):
        return self._call("triplets")

    def degrees(self):
        return self._call("degrees")

    def inDegrees(self):
        return self._call("in_degrees")

    def outDegrees(self):
        return self._call("out_degrees")

    def filterVertices(self, condition: str):
        return self._call("filter_vertices", condition=condition)

    def filterEdges(self, condition: str):
        return self._call("filter_edges", condition=condition)

    def dropIsolatedVertices(self):
        return self._call("drop_isolated_vertices")

    # --- patterns ------------------------------------------------------
    def find(self, pattern: str):
        return self._call("find", pattern=pattern)

    def bfs(self, fromExpr: str, toExpr: str,
            maxPathLength: Optional[int] = None):
        return self._call("bfs", fromExpr=fromExpr, toExpr=toExpr,
                          maxPathLength=maxPathLength)

    # --- message passing ----------------------------------------------
    def pregel(self, vertexColName: str, initExpr: str, updateExpr: str,
               aggMsgs: str, sendToDst: Optional[str] = None,
               sendToSrc: Optional[str] = None, maxIter: Optional[int] = None,
               checkpointInterval: Optional[int] = None,
               requiredSrcColumns: Optional[str] = None,
               requiredDstColumns: Optional[str] = None):
        """``requiredSrcColumns``/``requiredDstColumns``: comma-joined
        vertex columns the messages read, as in the reference proto."""
        return self._call(
            "pregel", vertexColName=vertexColName, initExpr=initExpr,
            updateExpr=updateExpr, aggMsgs=aggMsgs, sendToDst=sendToDst,
            sendToSrc=sendToSrc, maxIter=maxIter,
            checkpointInterval=checkpointInterval,
            requiredSrcColumns=requiredSrcColumns,
            requiredDstColumns=requiredDstColumns)

    def aggregateMessages(self, aggCol: str, sendToDst: Optional[str] = None,
                          sendToSrc: Optional[str] = None):
        return self._call("aggregate_messages", aggCol=aggCol,
                          sendToDst=sendToDst, sendToSrc=sendToSrc)

    def aggregateNeighbors(self, aggCol: Optional[str] = None,
                           maxHops: Optional[int] = None,
                           startingVertices: Optional[str] = None,
                           stoppingCondition: Optional[str] = None,
                           targetCondition: Optional[str] = None,
                           edgeFilter: Optional[str] = None,
                           removeLoops: Optional[bool] = None,
                           accNames: Optional[list] = None,
                           accInits: Optional[list] = None,
                           accUpdates: Optional[list] = None,
                           requiredVertexAttributes: Optional[list] = None,
                           requiredEdgeAttributes: Optional[list] = None):
        """Two modes: ``aggCol`` runs per-hop neighbor aggregation;
        ``accNames``/``accInits``/``accUpdates`` (parallel lists of SQL
        expression strings) run the reference's path-accumulator traversal
        with optional starting/stopping/target conditions."""
        return self._call(
            "aggregate_neighbors", aggCol=aggCol, maxHops=maxHops,
            startingVertices=startingVertices,
            stoppingCondition=stoppingCondition,
            targetCondition=targetCondition, edgeFilter=edgeFilter,
            removeLoops=removeLoops, accNames=accNames, accInits=accInits,
            accUpdates=accUpdates,
            requiredVertexAttributes=requiredVertexAttributes,
            requiredEdgeAttributes=requiredEdgeAttributes)

    # --- algorithms ----------------------------------------------------
    def connectedComponents(self, algorithm: Optional[str] = None):
        return self._call("connected_components", algorithm=algorithm)

    def stronglyConnectedComponents(self, maxIter: Optional[int] = None):
        return self._call("strongly_connected_components", maxIter=maxIter)

    def pageRank(self, resetProb: Optional[float] = None,
                 maxIter: Optional[int] = None, tol: Optional[float] = None,
                 sourceId: Optional[Any] = None,
                 weightCol: Optional[str] = None):
        return self._call("page_rank", resetProb=resetProb, maxIter=maxIter,
                          tol=tol, sourceId=sourceId, weightCol=weightCol)

    def parallelPersonalizedPageRank(
            self, sourceIds: list, resetProb: Optional[float] = None,
            maxIter: Optional[int] = None):
        return self._call("parallel_personalized_page_rank",
                          sourceIds=sourceIds, resetProb=resetProb,
                          maxIter=maxIter)

    def shortestPaths(self, landmarks: list,
                      maxIter: Optional[int] = None,
                      isDirected: Optional[bool] = None,
                      weightCol: Optional[str] = None):
        return self._call("shortest_paths", landmarks=landmarks,
                          maxIter=maxIter, isDirected=isDirected,
                          weightCol=weightCol)

    def labelPropagation(self, maxIter: Optional[int] = None,
                         algorithm: Optional[str] = None,
                         isDirected: Optional[bool] = None):
        return self._call("label_propagation", maxIter=maxIter,
                          algorithm=algorithm, isDirected=isDirected)

    def triangleCount(self, algorithm: Optional[str] = None,
                      lgNomEntries: Optional[int] = None):
        return self._call("triangle_count", algorithm=algorithm,
                          lgNomEntries=lgNomEntries)

    def hits(self, maxIter: Optional[int] = None):
        """HITS hubs/authorities (engine extension)."""
        return self._call("hits", maxIter=maxIter)

    def salsa(self, maxIter: Optional[int] = None):
        """SALSA stochastic hubs/authorities: HITS with per-edge
        1/outdeg, 1/indeg weights (walk-normalized; L1 output)."""
        return self._call("salsa", maxIter=maxIter)

    def influenceMax(self, k: Optional[int] = None,
                     mode: Optional[str] = None, p: Optional[float] = None):
        """Degree-discount influence-maximization seeds: k sequential
        argmax picks with selected-neighbor discounting (mode "degree" =
        DegreeDiscountIC with probability p; "single" = exact-integer
        SingleDiscount). Returns (id, round, score)."""
        return self._call("influence_max", k=k, mode=mode, p=p)

    def toDot(self, name: Optional[str] = None):
        """Graphviz DOT export as line rows (section, sort_key, line):
        order by (section, sort_key) and write as text for a valid
        digraph; ids are quote/backslash-escaped."""
        return self._call("to_dot", name=name)

    def toGraphML(self, directed: Optional[bool] = None):
        """GraphML export as line rows (section, sort_key, line), same
        contract as ``toDot``: order by (section, sort_key) and write as
        text for a valid GraphML document; ids are XML-escaped."""
        return self._call("to_graphml", directed=directed)

    def triangles(self):
        """Every triangle listed exactly once via (degree, id)-ordered
        edge orientation: rows (v1, v2, v3) ascending by id."""
        return self._call("triangles")

    def cliques4(self):
        """Every 4-clique listed exactly once (ordered extension of the
        oriented triangles): rows (v1, v2, v3, v4) ascending by id."""
        return self._call("cliques4")

    def maximalMatching(self, maxIter: Optional[int] = None,
                        seed: Optional[int] = None,
                        weightCol: Optional[str] = None,
                        smallGraphThreshold: Optional[int] = None):
        """Maximal matching by locally-minimum md5 edge priorities (the
        edge-centric Luby sibling of maximalIndependentSet): rows
        (src, dst, round) with src < dst; deterministic per seed.
        ``weightCol`` switches to locally-DOMINANT edges (weight desc,
        md5 tie-break) — the Preis greedy 1/2-approximation of maximum
        weight matching; rows gain a ``weight`` column."""
        return self._call("maximal_matching", maxIter=maxIter, seed=seed,
                          weightCol=weightCol,
                          smallGraphThreshold=smallGraphThreshold)

    def voronoi(self, seeds: list):
        """Closest-seed (Voronoi) partition: every vertex assigned to the
        seed with minimum hop distance along directed edges, ties to the
        smaller seed; rows (id, seed, dist), nulls when no seed is
        reachable."""
        return self._call("voronoi", seeds=seeds)

    def negativeSamples(self, k: Optional[int] = None,
                        candidates: Optional[int] = None,
                        seed: Optional[int] = None,
                        undirected: Optional[bool] = None):
        """Uniform NON-edge samples per vertex for embedding training
        (md5-keyed rank probes, anti-joined against the edge set):
        rows (src, dst, draw). Requires numeric vertex ids."""
        return self._call("negative_samples", k=k, candidates=candidates,
                          seed=seed, undirected=undirected)

    def independentCascade(self, seeds: list, p: Optional[float] = None,
                           hashSeed: Optional[int] = None,
                           maxIter: Optional[int] = None,
                           smallGraphThreshold: Optional[int] = None):
        """Deterministic Independent-Cascade spread (live-edge
        formulation, one md5 coin per edge): rows (id, round) —
        activation round, 0 = seed, null = never. Vary hashSeed for
        Monte-Carlo repeats; each run replays bit-identically."""
        return self._call("independent_cascade", seeds=seeds, p=p,
                          hashSeed=hashSeed, maxIter=maxIter,
                          smallGraphThreshold=smallGraphThreshold)

    def temporalReachability(self, source, startTime: Optional[float] = None,
                             timeCol: Optional[str] = None,
                             durationCol: Optional[str] = None,
                             maxIter: Optional[int] = None,
                             smallGraphThreshold: Optional[int] = None):
        """Earliest-arrival over a temporal graph (edge traversable only
        when its time >= arrival at its source): rows (id, arrival),
        null arrival = not time-respecting-reachable."""
        return self._call("temporal_reachability", source=source,
                          startTime=startTime, timeCol=timeCol,
                          durationCol=durationCol, maxIter=maxIter,
                          smallGraphThreshold=smallGraphThreshold)

    def katz(self, maxIter: Optional[int] = None,
             alpha: Optional[float] = None, beta: Optional[float] = None):
        """Katz centrality (engine extension)."""
        return self._call("katz", maxIter=maxIter, alpha=alpha, beta=beta)

    def eigenvector(self, maxIter: Optional[int] = None,
                    weightCol: Optional[str] = None):
        """Eigenvector centrality (engine extension): fixed-round power
        iteration x <- A^T x, sup-normalized once at the end (top vertex
        scores exactly 1.0); weightCol scales each in-neighbor's score by
        the edge weight."""
        return self._call("eigenvector", maxIter=maxIter, weightCol=weightCol)

    def minimumSpanningForest(self, weightCol: str):
        """Minimum spanning forest (engine extension): distributed
        Boruvka over the undirected weighted view; (weight, src, dst)
        total key order makes the forest unique. Returns the forest's
        edges (src, dst, weight) with src < dst."""
        return self._call("minimum_spanning_forest", weightCol=weightCol)

    def betweenness(self, sampleK: Optional[int] = None,
                    normalized: Optional[bool] = None,
                    weightCol: Optional[str] = None):
        """Brandes betweenness centrality (engine extension); weightCol
        switches to Dijkstra-based weighted shortest paths (weights must
        be strictly positive)."""
        return self._call("betweenness", sampleK=sampleK,
                          normalized=normalized, weightCol=weightCol)

    def closeness(self, sampleK: Optional[int] = None,
                  weightCol: Optional[str] = None):
        """Closeness + harmonic centrality (engine extension). sampleK > 0
        switches to the Eppstein-Wang landmark estimate (n/k scaled) from
        k deterministic md5-ordered landmarks; weightCol switches to
        shortest weighted distances (strictly positive weights)."""
        return self._call("closeness", sampleK=sampleK, weightCol=weightCol)

    def eccentricity(self, sampleK: Optional[int] = None,
                     weightCol: Optional[str] = None):
        """Per-vertex eccentricity over reachable out-distances (engine
        extension). sampleK > 0 reports max distance to k deterministic
        landmarks — a lower bound on the exact value; weightCol switches
        to weighted distances (the column becomes double)."""
        return self._call("eccentricity", sampleK=sampleK, weightCol=weightCol)

    def kCore(self, maxIter: Optional[int] = None):
        return self._call("kcore", maxIter=maxIter)

    def kTruss(self, k: Optional[int] = None, maxIter: Optional[int] = None):
        """K-truss decomposition (engine extension)."""
        return self._call("ktruss", k=k, maxIter=maxIter)

    def neighborhoodFunction(self, maxIter: Optional[int] = None,
                             lgNomEntries: Optional[int] = None):
        """ANF/HyperANF neighborhood function (engine extension)."""
        return self._call("neighborhood_function", maxIter=maxIter,
                          lgNomEntries=lgNomEntries)

    def linkPrediction(self, maxHubDegree: Optional[int] = None):
        """CN/Jaccard/Adamic-Adar/PA link-prediction scores (engine
        extension)."""
        return self._call("link_prediction", maxHubDegree=maxHubDegree)

    def louvain(self, maxIter: Optional[int] = None,
                levels: Optional[int] = None,
                gainMode: Optional[str] = None):
        """Synchronous Louvain-style modularity local moving (engine
        extension): deterministic integer-gain variant with an
        alternating-direction anti-oscillation rule. ``levels`` > 1 adds
        classic community-coarsening passes; ``gainMode`` in
        ``{"auto", "long", "decimal"}`` controls the exact-integer gain
        arithmetic (auto switches to DECIMAL(38,0) past 1.5e9 edges).
        Returns vertices + ``community``."""
        return self._call("louvain", maxIter=maxIter, levels=levels,
                          gainMode=gainMode)

    def modularity(self, maxIter: Optional[int] = None):
        """One-row Newman modularity Q of the ``louvain(maxIter)``
        partition (single-relation remote contract — scoring an
        arbitrary client partition needs the Scala API, which accepts a
        communities DataFrame)."""
        return self._call("modularity", maxIter=maxIter)

    def clusteringCoefficient(self):
        """Local clustering coefficient (engine extension)."""
        return self._call("clustering_coefficient")

    def graphStats(self):
        """One-row graph profile (engine extension)."""
        return self._call("graph_stats")

    def conductance(self, attrCol: str):
        """Per-community conductance cut/min(vol, 2m-vol) over a vertex
        community column: (community, volume, cut_edges, internal_edges,
        conductance) — low = well-separated."""
        return self._call("conductance", attrCol=attrCol)

    def assortativity(self):
        """One-row degree assortativity coefficient (Newman 2002) over
        the simple undirected canonicalization; null for degree-regular
        graphs."""
        return self._call("assortativity")

    def edgeBetweenness(self, sampleK: Optional[int] = None):
        """Edge betweenness (Girvan-Newman primitive): per distinct edge,
        the summed pair dependency over shortest paths; sampleK composes
        with n/k scaling. Unweighted only."""
        return self._call("edge_betweenness", sampleK=sampleK)

    def reciprocity(self):
        """One-row edge reciprocity: fraction of simple directed edges
        whose reverse edge also exists; null on the empty graph."""
        return self._call("reciprocity")

    def transitivity(self):
        """One-row global transitivity: 3*triangles / wedges on the
        canonical undirected simple graph; null when wedge-free."""
        return self._call("transitivity")

    def richClub(self, ks: List[int]):
        """Rich-club coefficient sweep: per degree threshold k, the club
        of vertices with undirected degree > k and its density
        phi(k) = 2*E_k / (N_k*(N_k-1)); null phi below two members."""
        return self._call("rich_club", ks=ks)

    def triadCensus(self):
        """Holland-Leinhardt triad census: 16 rows ``(triad, count)``
        covering every directed-triad isomorphism class, counts as
        DECIMAL(38,0) exact integers."""
        return self._call("triad_census")

    def simRank(self, maxIter: Optional[int] = None,
                c: Optional[float] = None,
                minSim: Optional[float] = None,
                maxPairs: Optional[int] = None):
        """SimRank structural similarity (Jeh-Widom): canonical vertex
        pairs ``(a, b, simrank)`` after fixed synchronous rounds over a
        sparse pair state. ``minSim`` prunes between rounds; ``maxPairs``
        fail-louds when the state outgrows its budget."""
        return self._call("simrank", maxIter=maxIter, c=c, minSim=minSim,
                          maxPairs=maxPairs)

    def pprSweep(self, source: Any, resetProb: Optional[float] = None,
                 maxIter: Optional[int] = None,
                 sweepK: Optional[int] = None):
        """Local community detection by personalized-PageRank sweep cut
        (PageRank-Nibble): one row per prefix rank with exact integer
        vol/cut, per-row conductance, and ``best`` marking the argmin —
        the seed's community is the ids with rank <= the best rank."""
        return self._call("ppr_sweep", source=source, resetProb=resetProb,
                          maxIter=maxIter, sweepK=sweepK)

    def bridges(self, smallGraphThreshold: Optional[int] = None,
                maxAncestorRows: Optional[int] = None):
        """Cut edges of the underlying simple undirected graph: one row
        per canonical edge ``(src, dst, is_bridge)``. Driver-tail Tarjan
        below the threshold, BFS-forest + cover marking distributed."""
        return self._call("bridges", smallGraphThreshold=smallGraphThreshold,
                          maxAncestorRows=maxAncestorRows)

    def articulationPoints(self, smallGraphThreshold: Optional[int] = None,
                           maxAncestorRows: Optional[int] = None):
        """Cut vertices: every vertex + ``is_articulation`` (removal
        splits its component)."""
        return self._call("articulation_points",
                          smallGraphThreshold=smallGraphThreshold,
                          maxAncestorRows=maxAncestorRows)

    def twoEdgeComponents(self, smallGraphThreshold: Optional[int] = None,
                          maxAncestorRows: Optional[int] = None):
        """2-edge-connected component labels (min member id): connectivity
        surviving any single edge failure."""
        return self._call("two_edge_components",
                          smallGraphThreshold=smallGraphThreshold,
                          maxAncestorRows=maxAncestorRows)

    def butterfly(self, part: Optional[str] = None,
                  maxPivotDegree: Optional[int] = None):
        """Bipartite butterfly (4-cycle) counts reading the edge relation
        as a (left=src, pivot=dst) incidence table: one global row by
        default, per-left-vertex support when part="vertex"."""
        return self._call("butterfly", part=part,
                          maxPivotDegree=maxPivotDegree)

    def sampleVertices(self, fraction: Optional[float] = None,
                       seed: Optional[int] = None,
                       part: Optional[str] = None):
        """Deterministic md5 vertex sample. One table per call: the
        induced edges by default, or the sampled vertex rows (with their
        attributes) when part="vertices" — call twice for both halves of
        the sampled subgraph."""
        return self._call("sample_vertices", fraction=fraction, seed=seed,
                          part=part)

    def sampleEdges(self, fraction: Optional[float] = None,
                    seed: Optional[int] = None,
                    part: Optional[str] = None):
        """Deterministic md5 edge sample. One table per call: the kept
        edges by default, or the endpoint-restricted vertex rows when
        part="vertices"."""
        return self._call("sample_edges", fraction=fraction, seed=seed,
                          part=part)

    def greedyColoring(self, maxColors: Optional[int] = None,
                       maxIter: Optional[int] = None,
                       seed: Optional[int] = None,
                       hashMode: Optional[str] = None):
        """Greedy graph coloring by iterated Luby MIS (engine extension)."""
        return self._call("greedy_coloring", maxColors=maxColors,
                          maxIter=maxIter, seed=seed, hashMode=hashMode)

    def maximalIndependentSet(self, maxIter: Optional[int] = None,
                              hashMode: Optional[str] = None):
        return self._call("maximal_independent_set", maxIter=maxIter,
                          hashMode=hashMode)

    def detectingCycles(self, maxIter: Optional[int] = None):
        return self._call("detecting_cycles", maxIter=maxIter)

    def randomWalks(self, walkLength: Optional[int] = None,
                    walksPerVertex: Optional[int] = None,
                    restartProb: Optional[float] = None,
                    seed: Optional[int] = None,
                    hashMode: Optional[str] = None,
                    returnParam: Optional[float] = None,
                    inOutParam: Optional[float] = None,
                    weightCol: Optional[str] = None):
        """Random walks; set returnParam/inOutParam (node2vec p/q) for
        second-order biased walks, weightCol for edge-weight-biased
        transitions (parallel edges sum; composes with p/q)."""
        return self._call("random_walks", walkLength=walkLength,
                          walksPerVertex=walksPerVertex,
                          restartProb=restartProb, seed=seed, hashMode=hashMode,
                          returnParam=returnParam, inOutParam=inOutParam,
                          weightCol=weightCol)

    def powerIterationClustering(self, k: int, maxIter: Optional[int] = None,
                                 weightCol: Optional[str] = None,
                                 initMode: Optional[str] = None):
        return self._call("power_iteration_clustering", k=k, maxIter=maxIter,
                          weightCol=weightCol, initMode=initMode)

    def svdPlusPlus(self, rank: Optional[int] = None,
                    maxIter: Optional[int] = None,
                    minValue: Optional[float] = None,
                    maxValue: Optional[float] = None):
        return self._call("svd_plus_plus", rank=rank, maxIter=maxIter,
                          minValue=minValue, maxValue=maxValue)

    def rwEmbeddings(self, dim: Optional[int] = None,
                     walkLength: Optional[int] = None,
                     walksPerVertex: Optional[int] = None,
                     seed: Optional[int] = None,
                     sequenceModel: Optional[str] = None,
                     restartProbability: Optional[float] = None,
                     rwMaxNbrs: Optional[int] = None,
                     useEdgeDirection: Optional[bool] = None,
                     aggregateNeighbors: Optional[bool] = None,
                     aggregateNeighborsMaxNbrs: Optional[int] = None,
                     word2vecMaxIter: Optional[int] = None,
                     word2vecWindowSize: Optional[int] = None,
                     word2vecMinCount: Optional[int] = None,
                     word2vecStepSize: Optional[float] = None,
                     hash2vecContextSize: Optional[int] = None,
                     hash2vecDecayFunction: Optional[str] = None,
                     hash2vecGaussianSigma: Optional[float] = None,
                     hash2vecDoL2Norm: Optional[bool] = None,
                     hash2vecSafeL2: Optional[bool] = None):
        """Composite random-walk embeddings: sequenceModel is "word2vec"
        (default) or "hash2vec"; aggregateNeighbors concatenates the
        sampled 1-hop neighbor mean (width doubles)."""
        return self._call("rw_embeddings", dim=dim, walkLength=walkLength,
                          walksPerVertex=walksPerVertex, seed=seed,
                          sequenceModel=sequenceModel,
                          restartProbability=restartProbability,
                          rwMaxNbrs=rwMaxNbrs,
                          useEdgeDirection=useEdgeDirection,
                          aggregateNeighbors=aggregateNeighbors,
                          aggregateNeighborsMaxNbrs=aggregateNeighborsMaxNbrs,
                          word2vecMaxIter=word2vecMaxIter,
                          word2vecWindowSize=word2vecWindowSize,
                          word2vecMinCount=word2vecMinCount,
                          word2vecStepSize=word2vecStepSize,
                          hash2vecContextSize=hash2vecContextSize,
                          hash2vecDecayFunction=hash2vecDecayFunction,
                          hash2vecGaussianSigma=hash2vecGaussianSigma,
                          hash2vecDoL2Norm=hash2vecDoL2Norm,
                          hash2vecSafeL2=hash2vecSafeL2)


class PipelineMethods:
    """Single-table LLM-pipeline surface; mix into a class providing
    ``_call``. The input table rides in the wire message's edges slot /
    the py4j call's edges argument; no graph is built."""

    def _call(self, _algorithm: str, **params: Any):
        raise NotImplementedError

    def _call2(self, _left, _algorithm: str, **params: Any):
        raise NotImplementedError

    # --- dedup ---------------------------------------------------------
    def exactDedup(self, idCol: str, contentCols: list):
        return self._call("pipe_exact_dedup", idCol=idCol, contentCols=contentCols)

    def minhashLsh(self, idCol: str, textCol: str,
                   shingle: Optional[int] = None, bands: Optional[int] = None,
                   rowsPerBand: Optional[int] = None):
        return self._call("pipe_minhash_lsh", idCol=idCol, textCol=textCol,
                          shingle=shingle, bands=bands, rowsPerBand=rowsPerBand)

    def nearDupClusters(self, idCol: str, textCol: str,
                        shingle: Optional[int] = None,
                        bands: Optional[int] = None,
                        rowsPerBand: Optional[int] = None):
        return self._call("pipe_near_dup_clusters", idCol=idCol, textCol=textCol,
                          shingle=shingle, bands=bands, rowsPerBand=rowsPerBand)

    def dedupQuality(self, idCol: str, textCol: str,
                     threshold: Optional[float] = None,
                     shingle: Optional[int] = None,
                     bands: Optional[int] = None,
                     rowsPerBand: Optional[int] = None):
        """One-row measured LSH dedup quality (n_true, n_cand, n_hit,
        recall, precision) vs complete exact-Jaccard ground truth —
        run on a hash-sample at scale."""
        return self._call("pipe_dedup_quality", idCol=idCol, textCol=textCol,
                          threshold=threshold, shingle=shingle, bands=bands,
                          rowsPerBand=rowsPerBand)

    def simhash(self, idCol: str, textCol: str,
                bits: Optional[int] = None):
        return self._call("pipe_simhash", idCol=idCol, textCol=textCol, bits=bits)

    def dupSpansMaximal(self, idCol: str, textCol: str,
                        seedTokens: Optional[int] = None,
                        maxBucket: Optional[int] = None):
        """EXACT maximal cross-document duplicated spans (capped seed
        buckets + longest-common-extension): one row per maximal span
        occurrence ``(idCol, pos, len, span)``, len >= seedTokens."""
        return self._call("pipe_dup_spans_maximal", idCol=idCol,
                          textCol=textCol, seedTokens=seedTokens,
                          maxBucket=maxBucket)

    def cutDupSpans(self, idCol: str, textCol: str,
                    seedTokens: Optional[int] = None,
                    maxBucket: Optional[int] = None):
        """Corpus rebuilt with every maximal duplicated span occurrence
        removed except the globally first: ``(idCol, clean_text,
        n_removed_tokens)``."""
        return self._call("pipe_cut_dup_spans", idCol=idCol,
                          textCol=textCol, seedTokens=seedTokens,
                          maxBucket=maxBucket)

    def segmentDedup(self, idCol: str, textCol: str,
                     sep: Optional[str] = None,
                     windowWords: Optional[int] = None,
                     maxDupCount: Optional[int] = None,
                     lowercase: Optional[bool] = None):
        """CCNet-style segment-level dedup: drop segments whose corpus
        frequency exceeds ``maxDupCount`` and reassemble each document."""
        return self._call("pipe_segment_dedup", idCol=idCol, textCol=textCol,
                          sep=sep, windowWords=windowWords,
                          maxDupCount=maxDupCount, lowercase=lowercase)

    def semanticDedup(self, idCol: str, vecCol: str, threshold: float,
                      nlist: Optional[int] = None,
                      lloydIters: Optional[int] = None):
        return self._call("pipe_semantic_dedup", idCol=idCol, vecCol=vecCol,
                          threshold=threshold, nlist=nlist, lloydIters=lloydIters)

    # --- text ----------------------------------------------------------
    def chunk(self, idCol: str, textCol: str,
              chunkWords: Optional[int] = None,
              overlapWords: Optional[int] = None):
        """RAG-style overlapping word-window chunking."""
        return self._call("pipe_chunk", idCol=idCol, textCol=textCol,
                          chunkWords=chunkWords, overlapWords=overlapWords)

    def tokenCount(self, idCol: str, textCol: str):
        return self._call("pipe_token_count", idCol=idCol, textCol=textCol)

    def languageId(self, idCol: str, textCol: str):
        return self._call("pipe_language_id", idCol=idCol, textCol=textCol)

    def quality(self, idCol: str, textCol: str):
        return self._call("pipe_quality", idCol=idCol, textCol=textCol)

    def charEntropy(self, idCol: str, textCol: str):
        return self._call("pipe_char_entropy", idCol=idCol, textCol=textCol)

    def redactPii(self, idCol: str, textCol: str):
        return self._call("pipe_redact_pii", idCol=idCol, textCol=textCol)

    def bpeTrain(self, textCol: str, numMerges: Optional[int] = None):
        """Word-level BPE training: the numMerges most frequent adjacent
        word-pair merges, (rank, left, right, pair_count)."""
        return self._call("pipe_bpe_train", textCol=textCol, numMerges=numMerges)

    def bpeEncode(self, idCol: str, textCol: str,
                  numMerges: Optional[int] = None):
        """Train numMerges merges, then report per-document token counts
        before/after applying them."""
        return self._call("pipe_bpe_encode", idCol=idCol, textCol=textCol,
                          numMerges=numMerges)

    def hashSample(self, idCol: str, fraction: float,
                   seed: Optional[int] = None):
        return self._call("pipe_hash_sample", idCol=idCol, fraction=fraction,
                          seed=seed)

    def asofJoin(self, left, on: list, leftTs: str, rightTs: str,
                 rightCols: list, prefix: Optional[str] = None,
                 strict: Optional[bool] = None,
                 direction: Optional[str] = None):
        """As-of join: this Pipeline's table is the RIGHT side; ``left``
        (a DataFrame) rides the vertices slot. direction="forward" flips
        to the earliest right row at-or-after each left row."""
        return self._call2(left, "pipe_asof_join", on=on, leftTs=leftTs,
                           rightTs=rightTs, rightCols=rightCols,
                           prefix=prefix, strict=strict, direction=direction)

    def rangeJoin(self, points, on: list, leftTs: str, rightStart: str,
                  rightEnd: str, rightCols: list,
                  prefix: Optional[str] = None,
                  bucketMs: Optional[int] = None,
                  maxBucketsPerInterval: Optional[int] = None):
        """Bucketized point-in-interval join: this Pipeline's table is the
        INTERVAL side; ``points`` (a DataFrame) rides the vertices slot.
        Matches rightStart <= pointTs < rightEnd sharing the ``on`` keys —
        an equi-join on (keys, time bucket), never a nested loop."""
        return self._call2(points, "pipe_range_join", on=on, leftTs=leftTs,
                           rightStart=rightStart, rightEnd=rightEnd,
                           rightCols=rightCols, prefix=prefix,
                           bucketMs=bucketMs,
                           maxBucketsPerInterval=maxBucketsPerInterval)

    def funnel(self, steps: list, windowMinutes: Optional[int] = None):
        """Ordered conversion funnel over an events-shaped table
        (user_id, event_type, ts): step k matches at the earliest event
        at-or-after step k-1's match, all within windowMinutes of the
        step-1 match. One row per step with exact counts."""
        return self._call("pipe_funnel", steps=steps,
                          windowMinutes=windowMinutes)

    def pmiBigrams(self, idCol: str, textCol: str,
                   minCount: Optional[int] = None,
                   topK: Optional[int] = None):
        """Collocation mining: top-k adjacent-token bigrams by pointwise
        mutual information over exact corpus counts."""
        return self._call("pipe_pmi_bigrams", idCol=idCol, textCol=textCol,
                          minCount=minCount, topK=topK)

    def groupSample(self, groupCol: str, idCol: str, k: int,
                    seed: Optional[int] = None):
        """Deterministic per-group sample: the k rows per group with the
        smallest md5(seed|id) draws — stable under re-runs and any
        partitioning."""
        return self._call("pipe_group_sample", groupCol=groupCol,
                          idCol=idCol, k=k, seed=seed)

    def approxDistinct(self, groupCol: str, valueCol: str,
                       k: Optional[int] = None):
        """Per-group approximate distinct count via a KMV md5 sketch
        ((k-1)/h_k over the k smallest hash fractions; exact below k
        distinct values). Deterministic, no RNG state."""
        return self._call("pipe_approx_distinct", groupCol=groupCol,
                          valueCol=valueCol, k=k)

    def contaminatedSpans(self, bench, idCol: str, textCol: str,
                          seedTokens: Optional[int] = None,
                          maxBucket: Optional[int] = None):
        """Decontamination detection: exact maximal TRAIN spans (this
        table) appearing verbatim in the BENCHMARK corpus ``bench`` —
        rows ``(idCol, pos, len, span)``."""
        return self._call2(bench, "pipe_contaminated_spans", idCol=idCol,
                           textCol=textCol, seedTokens=seedTokens,
                           maxBucket=maxBucket)

    def cutContaminated(self, bench, idCol: str, textCol: str,
                        seedTokens: Optional[int] = None,
                        maxBucket: Optional[int] = None):
        """Decontamination cut: the TRAIN corpus rebuilt with EVERY
        benchmark-contaminated span occurrence removed (no keep-first
        winner) — ``(idCol, clean_text, n_removed_tokens)``."""
        return self._call2(bench, "pipe_cut_contaminated", idCol=idCol,
                           textCol=textCol, seedTokens=seedTokens,
                           maxBucket=maxBucket)

    def weightedSample(self, idCol: str, weightCol: str, k: int,
                       seed: Optional[int] = None,
                       maxWeight: Optional[int] = None):
        """Weighted sampling WITHOUT replacement, inclusion odds exactly
        proportional to an integer weight column (min-of-md5-draws ticket
        race — no pow/ln, replays bit-identically). Returns the winning
        rows plus ``sample_rank``; weights must stay <= maxWeight."""
        return self._call("pipe_weighted_sample", idCol=idCol,
                          weightCol=weightCol, k=k, seed=seed,
                          maxWeight=maxWeight)

    def rateSpikes(self, lookback: Optional[int] = None,
                   num: Optional[int] = None, den: Optional[int] = None):
        """Rate-spike anomaly detection over an events-shaped table:
        hourly per-type counts flagged when count > num/den x the mean of
        the type's previous ``lookback`` observed windows — evaluated as
        the exact integer cross-multiplication (no floats)."""
        return self._call("pipe_rate_spikes", lookback=lookback, num=num,
                          den=den)

    def cohortRetention(self):
        """Weekly cohort retention over an events-shaped table: users
        bucketed by the epoch week of their first event; one row per
        (cohort_week, week_offset) with distinct active users."""
        return self._call("pipe_cohort")

    def containmentPairs(self, idCol: str, textCol: str,
                         shingle: Optional[int] = None,
                         minShared: Optional[int] = None,
                         threshold: Optional[float] = None,
                         maxDocFreq: Optional[int] = None):
        """Asymmetric shingle containment |S(a) n S(b)| / |S(a)| — the
        small-in-large near-dup detector whole-doc Jaccard misses. Both
        orientations ``(a, b, shared, containment)`` at-or-above the
        threshold."""
        return self._call("pipe_containment", idCol=idCol, textCol=textCol,
                          shingle=shingle, minShared=minShared,
                          threshold=threshold, maxDocFreq=maxDocFreq)

    def topPaths(self, gapMinutes: Optional[int] = None,
                 maxSteps: Optional[int] = None, k: Optional[int] = None):
        """Top-k session paths over an events-shaped table: the first
        ``maxSteps`` event types per gap-session, '>'-joined, counted,
        cut by (count desc, path asc)."""
        return self._call("pipe_top_paths", gapMinutes=gapMinutes,
                          maxSteps=maxSteps, k=k)

    def normalize(self, idCol: str, textCol: str):
        """ASCII-safe text normalization: lowercase, control chars to
        spaces, whitespace runs collapsed, ends trimmed. Returns
        (id, norm_text, n_chars, n_chars_norm)."""
        return self._call("pipe_normalize", idCol=idCol, textCol=textCol)

    def transitionMatrix(self, gapMinutes: Optional[int] = None):
        """First-order Markov transition matrix over gap-session event
        sequences: (src_type, dst_type, n, n_src, p) with exact integer
        counts and p = n / n_src."""
        return self._call("pipe_transition_matrix", gapMinutes=gapMinutes)

    def cmsTopK(self, keyCol: str, k: int, depth: Optional[int] = None,
                width: Optional[int] = None, seed: Optional[int] = None):
        """Count-Min Sketch heavy hitters: depth x width md5-keyed
        counters built in one aggregation, top-k keys by estimate
        (est >= true count; deterministic)."""
        return self._call("pipe_cms_topk", keyCol=keyCol, k=k, depth=depth,
                          width=width, seed=seed)

    def fuzzyPairs(self, idCol: str, textCol: str, blockExpr=None,
                   maxDist: Optional[int] = None,
                   maxBlock: Optional[int] = None,
                   blockExprs: Optional[list] = None):
        """Blocked fuzzy entity resolution: rows sharing ``blockExpr``
        (a SQL expression, e.g. ``"substr(name, 1, 4)"``) are verified
        with exact Levenshtein <= maxDist; blocks wider than maxBlock
        are dropped loudly. Rows (id_a, id_b, dist), id_a < id_b.
        ``blockExprs`` (a list of SQL expressions) switches to multi-PASS
        blocking: a pair is a candidate when ANY key matches, deduped
        before the single verify per pair."""
        return self._call("pipe_fuzzy_pairs", idCol=idCol, textCol=textCol,
                          blockExpr=blockExpr, blockExprs=blockExprs,
                          maxDist=maxDist, maxBlock=maxBlock)

    def hashSplit(self, idCol: str, fractions: dict,
                  seed: Optional[int] = None):
        """Deterministic train/val/test split: 16-bit md5 fraction of
        (seed, id) against cumulative name-order thresholds; fractions
        must sum to 1. Adds a ``split`` column; stable under corpus
        growth."""
        return self._call("pipe_hash_split", idCol=idCol,
                          fractions=fractions, seed=seed)

    def shuffleShards(self, idCol: str, numShards: int,
                      seed: Optional[int] = None):
        """Deterministic pre-training corpus shuffle: shard = 60-bit md5
        draw mod numShards, pos = (draw, id) rank within the shard — no
        global sort, no RNG state. Rows (id, shard, pos)."""
        return self._call("pipe_shuffle_shards", idCol=idCol,
                          numShards=numShards, seed=seed)

    def dsirWeights(self, idCol: str, textCol: str, targetExpr: str,
                    buckets: Optional[int] = None,
                    alpha: Optional[float] = None):
        """DSIR importance weights (hashed-bigram target-vs-raw
        log-likelihood ratio; Xie et al. 2023): rows (id, n_bigrams,
        log_weight). ``targetExpr`` is a boolean SQL expression marking
        the in-domain rows, e.g. ``"lang = 'en'"``."""
        return self._call("pipe_dsir", idCol=idCol, textCol=textCol,
                          targetExpr=targetExpr, buckets=buckets, alpha=alpha)

    def budgetSelect(self, idCol: str, groupCol: str, tokenCol: str,
                     budget: int, scoreCol: Optional[str] = None):
        """Per-group token-budget prefix selection: rank by
        (score desc, id asc) within each group and keep rows while the
        running token sum stays within ``budget``. Rows
        (id, group, tokens, rank, cum_tokens)."""
        return self._call("pipe_budget_select", idCol=idCol,
                          groupCol=groupCol, tokenCol=tokenCol,
                          scoreCol=scoreCol, budget=budget)

    def stripMarkup(self, idCol: str = "doc_id", htmlCol: str = "html"):
        """HTML/markup boilerplate strip to visible text: script/style
        bodies, comments and tags removed, common entities decoded,
        whitespace collapsed. Rows (id, text, n_tags)."""
        return self._call("pipe_strip_markup", idCol=idCol, htmlCol=htmlCol)

    def urlCanonical(self, idCol: str = "doc_id", urlCol: str = "url"):
        """URL canonicalization + dedup keys: scheme/host lowercased,
        default ports/fragment/tracking params dropped, remaining query
        params sorted, trailing slash trimmed. Rows
        (id, url_canon, host, url_key); non-URLs get null outputs."""
        return self._call("pipe_url_canonical", idCol=idCol, urlCol=urlCol)

    def hostStats(self, idCol: str = "doc_id", urlCol: str = "url"):
        """Domain-level crawl stats over canonical hosts: rows, distinct
        canonical pages, within-host exact-dup ratio. Rows
        (host, n_docs, n_pages, dup_ratio); unparseable URLs drop."""
        return self._call("pipe_host_stats", idCol=idCol, urlCol=urlCol)

    def corpusDiff(self, old, idCol: str = "doc_id", textCol: str = "text"):
        """Snapshot diff: this Pipeline's table is the NEW snapshot;
        ``old`` (a DataFrame) rides the vertices slot. Rows (id, status)
        with status in added/removed/changed/unchanged (md5 content
        compare)."""
        return self._call2(old, "pipe_corpus_diff", idCol=idCol,
                           textCol=textCol)

    def extractLinks(self, idCol: str = "doc_id", htmlCol: str = "html",
                     maxLinksPerPage: Optional[int] = None):
        """Raw href extraction (double-/single-quoted, case-insensitive),
        one row per link occurrence: (id, link). With maxLinksPerPage set
        (crawler-trap guard) only each page's first n non-empty links
        survive and the rows gain n_links_dropped."""
        return self._call("pipe_extract_links", idCol=idCol, htmlCol=htmlCol,
                          maxLinksPerPage=maxLinksPerPage)

    def linkGraph(self, idCol: str = "doc_id", urlCol: str = "url",
                  htmlCol: str = "html",
                  maxLinksPerPage: Optional[int] = None):
        """Host-level web graph from a crawl: absolute links by canonical
        host key, site-relative links to the source host, fragments
        dropped. Rows (src_host, dst_host, n_links) — feed into
        GraphFrame.fromEdges after renaming. maxLinksPerPage bounds the
        per-page fan-out (crawler-trap guard)."""
        return self._call("pipe_link_graph", idCol=idCol, urlCol=urlCol,
                          htmlCol=htmlCol, maxLinksPerPage=maxLinksPerPage)

    def hostRank(self, idCol: str = "doc_id", urlCol: str = "url",
                 htmlCol: str = "html", maxIter: Optional[int] = None,
                 resetProbability: Optional[float] = None,
                 maxLinksPerPage: Optional[int] = None):
        """Crawl -> rank in one call: linkGraph edges through
        GraphFrame.fromEdges into n_links-weighted PageRank. Rows
        (host, pagerank)."""
        return self._call("pipe_host_rank", idCol=idCol, urlCol=urlCol,
                          htmlCol=htmlCol, maxIter=maxIter,
                          resetProbability=resetProbability,
                          maxLinksPerPage=maxLinksPerPage)

    def groupQuantiles(self, groupCol: str, valueCol: str, qs: list):
        """Exact per-group quantiles (value at rank ceil(q*n), ascending;
        always a value that occurs — replayable, unlike approx sketches).
        Rows (group, q, value, n)."""
        return self._call("pipe_group_quantiles", groupCol=groupCol,
                          valueCol=valueCol, qs=qs)

    def unigramTrain(self, textCol: str = "text",
                     vocabSize: Optional[int] = None,
                     maxPieceLen: Optional[int] = None,
                     iterations: Optional[int] = None,
                     maxWordLen: Optional[int] = None):
        """SentencePiece-style unigram LM, deterministic hard-EM: seed
        vocab (all chars + top-K substrings), Viterbi-count/re-estimate
        rounds with fixed-point micro-nat costs. Rows
        (piece, count, cost_micro_nats)."""
        return self._call("pipe_unigram_train", textCol=textCol,
                          vocabSize=vocabSize, maxPieceLen=maxPieceLen,
                          iterations=iterations, maxWordLen=maxWordLen)

    def unigramEncode(self, vocab, idCol: str = "doc_id",
                      textCol: str = "text",
                      maxPieceLen: Optional[int] = None,
                      maxWordLen: Optional[int] = None):
        """Viterbi-encode documents against a trained unigram vocab
        (a DataFrame with piece, cost_micro_nats — rides the vertices
        slot). Rows (id, n_words, n_tokens_unigram, cost_micro_nats,
        n_words_skipped)."""
        return self._call2(vocab, "pipe_unigram_encode", idCol=idCol,
                           textCol=textCol, maxPieceLen=maxPieceLen,
                           maxWordLen=maxWordLen)

    def wordpieceVocab(self, textCol: str = "text",
                       vocabSize: Optional[int] = None,
                       maxPieceLen: Optional[int] = None,
                       maxWordLen: Optional[int] = None):
        """BERT-style WordPiece vocabulary by frequency: all single
        characters (word-initial and ## continuation forms) plus the
        top-vocabSize longer pieces. Rows (piece, count)."""
        return self._call("pipe_wordpiece_vocab", textCol=textCol,
                          vocabSize=vocabSize, maxPieceLen=maxPieceLen,
                          maxWordLen=maxWordLen)

    def wordpieceEncode(self, vocab, idCol: str = "doc_id",
                        textCol: str = "text",
                        maxPieceLen: Optional[int] = None,
                        maxWordLen: Optional[int] = None):
        """Greedy longest-match-first WordPiece segmentation against a
        vocab DataFrame (piece column — rides the vertices slot). Rows
        (id, n_words, n_tokens_wordpiece, n_words_unk) — [UNK] words are
        counted, never silently costed."""
        return self._call2(vocab, "pipe_wordpiece_encode", idCol=idCol,
                           textCol=textCol, maxPieceLen=maxPieceLen,
                           maxWordLen=maxWordLen)

    def gopherRules(self, idCol: str = "doc_id", textCol: str = "text",
                    minWords: Optional[int] = None,
                    maxWords: Optional[int] = None,
                    minAvgWordLen: Optional[int] = None,
                    maxAvgWordLen: Optional[int] = None,
                    maxSymbolPct: Optional[int] = None,
                    maxBulletPct: Optional[int] = None,
                    maxEllipsisPct: Optional[int] = None,
                    minAlphaPct: Optional[int] = None,
                    minStopwords: Optional[int] = None,
                    stopwords: Optional[list] = None):
        """Gopher-style composite quality rules: raw counts, the seven
        flags and keep = AND of all; every ratio test is an exact
        integer cross-multiplication (thresholds are percentages)."""
        return self._call("pipe_gopher_rules", idCol=idCol, textCol=textCol,
                          minWords=minWords, maxWords=maxWords,
                          minAvgWordLen=minAvgWordLen,
                          maxAvgWordLen=maxAvgWordLen,
                          maxSymbolPct=maxSymbolPct,
                          maxBulletPct=maxBulletPct,
                          maxEllipsisPct=maxEllipsisPct,
                          minAlphaPct=minAlphaPct,
                          minStopwords=minStopwords, stopwords=stopwords)

    def quantileCut(self, groupCol: str, scoreCol: str, q: float):
        """Quantile-gated cut: keep rows with score >= the group's exact
        q-quantile (groupQuantiles threshold table, broadcast join).
        Null scores/groups drop. Returns the surviving input rows."""
        return self._call("pipe_quantile_cut", groupCol=groupCol,
                          scoreCol=scoreCol, q=q)

    def keepBest(self, clusterCol: str, idCol: str, scoreCol: str):
        """Best-of-cluster dedup keep: one row per cluster by
        (score desc nulls-last, id asc). Rows
        (cluster, id, score, n_members)."""
        return self._call("pipe_keep_best", clusterCol=clusterCol,
                          idCol=idCol, scoreCol=scoreCol)

    def coOccurrence(self, basketCol: str, itemCol: str,
                     maxBasket: Optional[int] = None):
        """Basket co-occurrence pair counts (canonical item_a < item_b;
        per-basket dedup; baskets wider than maxBasket dropped):
        (item_a, item_b, n_baskets)."""
        return self._call("pipe_co_occurrence", basketCol=basketCol,
                          itemCol=itemCol, maxBasket=maxBasket)

    def alsoBought(self, basketCol: str, itemCol: str, k: Optional[int] = None,
                   maxBasket: Optional[int] = None):
        """Top-k "also bought" neighbors per item from basket
        co-occurrence: (item, also_bought, n_baskets, rank), ranked
        (count desc, item asc)."""
        return self._call("pipe_also_bought", basketCol=basketCol,
                          itemCol=itemCol, k=k, maxBasket=maxBasket)

    def rfm(self, buckets: Optional[int] = None):
        """RFM user segmentation over an events-shaped table: exact
        integer Recency/Frequency/Monetary metrics + deterministic
        quantile scores (bucket 1 best, user_id tie-break)."""
        return self._call("pipe_rfm", buckets=buckets)

    def linearAttribution(self, touchType: Optional[str] = None,
                          convType: Optional[str] = None,
                          windowMinutes: Optional[int] = None):
        """Equal-split multi-touch attribution: each conversion spreads
        one unit of credit over the user's in-window touches (boundary
        inclusive). Returns credited touches with summed credit."""
        return self._call("pipe_attribution_linear", touchType=touchType,
                          convType=convType, windowMinutes=windowMinutes)

    def importanceSample(self, idCol: str, weightCol: str,
                         targetFraction: float,
                         seed: Optional[int] = None):
        """DSIR-style importance resampling: keep each row with probability
        min(1, k*w), with k waterfilled so expected kept mass is
        targetFraction * N."""
        return self._call("pipe_importance_sample", idCol=idCol,
                          weightCol=weightCol, targetFraction=targetFraction,
                          seed=seed)

    def mixtureSample(self, idCol: str, strataCol: str,
                      fractions: Dict[str, float],
                      seed: Optional[int] = None):
        """Per-stratum keep fractions (data mixing); unlisted strata are
        dropped. Same deterministic draw as hashSample."""
        return self._call("pipe_mixture_sample", idCol=idCol,
                          strataCol=strataCol, fractions=fractions, seed=seed)

    def bigramLm(self, idCol: str, textCol: str, alpha: Optional[float] = None):
        """Corpus-trained bigram LM quality score per document."""
        return self._call("pipe_bigram_lm", idCol=idCol, textCol=textCol,
                          alpha=alpha)

    def vocabOov(self, idCol: str, textCol: str,
                 vocabSize: Optional[int] = None):
        """Top-K corpus vocabulary + per-document OOV rate."""
        return self._call("pipe_vocab_oov", idCol=idCol, textCol=textCol,
                          vocabSize=vocabSize)

    def nbClassifier(self, idCol: str, textCol: str, labelCol: str,
                     trainFraction: Optional[float] = None,
                     seed: Optional[int] = None):
        """Multinomial Naive Bayes curation classifier: trains on the
        md5-split train fraction, returns (idCol, predicted, score) for
        the held-out rows; scores are exact fixed-point micro-nat
        integers (deterministic under any plan)."""
        return self._call("pipe_nb_classifier", idCol=idCol, textCol=textCol,
                          labelCol=labelCol, trainFraction=trainFraction,
                          seed=seed)

    # --- multimodal (JDK-codec image/audio kernels) --------------------
    def imageDecode(self, idCol: str, binCol: str):
        return self._call("pipe_image_decode", idCol=idCol, binCol=binCol)

    def imageAHash(self, idCol: str, binCol: str, grid: Optional[int] = None):
        """Perceptual average-hash fingerprint of the decoded pixels:
        grid x grid block-luma bits by exact integer cross-multiplication
        (bit-exact; equal hashes = structural near-dups)."""
        return self._call("pipe_image_ahash", idCol=idCol, binCol=binCol,
                          grid=grid)

    def imageResize(self, idCol: str, binCol: str, width: int,
                    height: int):
        return self._call("pipe_image_resize", idCol=idCol, binCol=binCol,
                          width=width, height=height)

    def imageHistogram(self, idCol: str, binCol: str,
                       bins: Optional[int] = None):
        return self._call("pipe_image_histogram", idCol=idCol, binCol=binCol,
                          bins=bins)

    def audioDecode(self, idCol: str, binCol: str):
        return self._call("pipe_audio_decode", idCol=idCol, binCol=binCol)

    def videoDemux(self, idCol: str, binCol: str):
        return self._call("pipe_video_demux", idCol=idCol, binCol=binCol)

    # --- ANN -----------------------------------------------------------
    def annTopK(self, idCol: str, vecCol: str, k: int):
        return self._call("pipe_ann_topk", idCol=idCol, vecCol=vecCol, k=k)

    def knnGraph(self, idCol: str, vecCol: str, k: int,
                 mutual: Optional[bool] = None):
        """kNN graph over an embedding table: mutual=True (default) keeps
        canonical (src < dst) edges only when each endpoint is in the
        other's exact top-k (the mutual-kNN semantic-cluster substrate);
        mutual=False returns the directed graph with ranks."""
        return self._call("pipe_knn_graph", idCol=idCol, vecCol=vecCol, k=k,
                          mutual=mutual)

    def labelSpread(self, idCol: str, vecCol: str, labelCol: str,
                    k: Optional[int] = None, rounds: Optional[int] = None,
                    seedFraction: Optional[float] = None,
                    seed: Optional[int] = None):
        """Semi-supervised label spreading over the mutual-kNN graph:
        an md5 draw clamps seedFraction of rows as seeds; non-seeds take
        the mode of their neighbors' labels each synchronous round
        (ties to the smaller label). Returns (idCol, label, is_seed)."""
        return self._call("pipe_label_spread", idCol=idCol, vecCol=vecCol,
                          labelCol=labelCol, k=k, rounds=rounds,
                          seedFraction=seedFraction, seed=seed)

    def randomProjection(self, idCol: str, vecCol: str, dOut: int,
                         dim: Optional[int] = None):
        """Johnson-Lindenstrauss random projection to dOut dims via the
        deterministic md5-parity +/-1 weights (no RNG state); returns
        (idCol, reduced: array<double>)."""
        return self._call("pipe_random_projection", idCol=idCol,
                          vecCol=vecCol, dOut=dOut, dim=dim)

    def annIvfHier(self, idCol: str, vecCol: str, k: int,
                   nsuper: Optional[int] = None, nlistPer: Optional[int] = None,
                   wprobe: Optional[int] = None,
                   nprobe: Optional[int] = None):
        return self._call("pipe_ann_ivf_hier", idCol=idCol, vecCol=vecCol, k=k,
                          nsuper=nsuper, nlistPer=nlistPer, wprobe=wprobe,
                          nprobe=nprobe)
