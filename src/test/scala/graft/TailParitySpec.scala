package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Randomized differential over the round-9 driver tails: on pseudo-random
 * small graphs (fixed seeds — deterministic suite), every operator with a
 * small-graph tail must produce IDENTICAL results through both execution
 * paths (threshold high = local tail, threshold 0 = distributed
 * supersteps). This is the guard for the tails' core claim: not "same
 * answer at convergence" but same answer, period — including mid-
 * convergence caps exercised by the per-operator specs. The last tests
 * run every builder of [[TailCases]] through both paths, at the
 * threshold boundary and on a graph with mixed integral id types.
 */
class TailParitySpec extends TestBase with TailCases with SparkEvents {
  import spark.implicits._

  /** xorshift-ish deterministic edge list: no RNG state in the suite. */
  private def randomGraph(seed: Long, n: Int, m: Int): GraphFrame = {
    var x = seed
    def next(): Long = { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; math.abs(x) }
    val edges = (1 to m).map(_ => (next() % n, next() % n))
    val v = (0L until n.toLong).toDF("id")
    GraphFrame(v, edges.toDF("src", "dst"))
  }

  private val graphs = Seq(
    randomGraph(0xA5F3L, 9, 14),
    randomGraph(0x1234L, 12, 25),
    randomGraph(0xBEEFL, 7, 7)) // sparse: isolates + tails

  private def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => f"$d%.9f" // float-noise-tolerant canonical form
      case x => String.valueOf(x)
    }.mkString("|")).toSet

  test("pagerank fixed + tol: local == distributed on random graphs") {
    for ((g, i) <- graphs.zipWithIndex) {
      val l = canon(g.pageRank.maxIter(6).setSmallGraphThreshold(100000).run()
        .vertices.select(col("id"), round(col("pagerank"), 7)))
      val d = canon(g.pageRank.maxIter(6).setSmallGraphThreshold(0).run()
        .vertices.select(col("id"), round(col("pagerank"), 7)))
      assert(l == d, s"graph $i fixed")
      val lt = canon(g.pageRank.tol(0.01).setSmallGraphThreshold(100000).run()
        .vertices.select(col("id"), round(col("pagerank"), 7)))
      val dt = canon(g.pageRank.tol(0.01).setSmallGraphThreshold(0).run()
        .vertices.select(col("id"), round(col("pagerank"), 7)))
      assert(lt == dt, s"graph $i tol")
    }
  }

  test("label propagation: local == distributed on random graphs") {
    for ((g, i) <- graphs.zipWithIndex) {
      val l = canon(g.labelPropagation.maxIter(3).setSmallGraphThreshold(100000).run()
        .select("id", "label"))
      val d = canon(g.labelPropagation.maxIter(3).setSmallGraphThreshold(0).run()
        .select("id", "label"))
      assert(l == d, s"graph $i")
    }
  }

  test("scc: local == distributed on random graphs") {
    for ((g, i) <- graphs.zipWithIndex) {
      val l = canon(g.stronglyConnectedComponents.setSmallGraphThreshold(100000).run()
        .select("id", "component"))
      val d = canon(g.stronglyConnectedComponents.setSmallGraphThreshold(0).run()
        .select("id", "component"))
      assert(l == d, s"graph $i")
    }
  }

  test("cycles: local == distributed on random graphs") {
    for ((g, i) <- graphs.zipWithIndex) {
      val l = canon(g.detectingCycles.maxIter(8).setSmallGraphThreshold(100000).run())
      val d = canon(g.detectingCycles.maxIter(8).setSmallGraphThreshold(0).run())
      assert(l == d, s"graph $i")
    }
  }

  test("kcore: local == distributed on random graphs") {
    for ((g, i) <- graphs.zipWithIndex) {
      val l = canon(g.kCore.setSmallGraphThreshold(100000).run().select("id", "kcore"))
      val d = canon(g.kCore.setSmallGraphThreshold(0).run().select("id", "kcore"))
      assert(l == d, s"graph $i")
    }
  }

  test("mis (md5): local == distributed on random graphs") {
    for ((g, i) <- graphs.zipWithIndex) {
      val l = canon(g.maximalIndependentSet.setHashMode("md5")
        .setSmallGraphThreshold(100000).run().select("id"))
      val d = canon(g.maximalIndependentSet.setHashMode("md5")
        .setSmallGraphThreshold(0).run().select("id"))
      assert(l == d, s"graph $i")
    }
  }

  test("every driver tail == its distributed path on the weighted friends graph") {
    val mismatched = tailCases.filter { c =>
      val g = GraphFrame(friends.vertices, tailEdges(c.edgeCols))
      canon(c.run(g, 100000L)) != canon(c.run(g, 0L))
    }
    assert(mismatched.isEmpty, s"tail != distributed: ${mismatched.map(_.name)}")
  }

  // Louvain, 2-connectivity, MIS and greedy coloring probe the raw
  // (src, dst) rows and build the canonical undirected edge set on the
  // driver: self-loops, reciprocal and parallel pairs, null endpoints and
  // (Louvain) endpoints outside the vertex table must drop exactly as the
  // distributed filter, least/greatest, distinct and semi-joins drop them.
  private val undirectedRuns: Seq[(String, (GraphFrame, Long) => DataFrame)] = Seq(
    "louvain" -> ((g, t) => g.louvain.setSmallGraphThreshold(t).run()),
    "louvain levels 2" -> ((g, t) => g.louvain.setLevels(2).setSmallGraphThreshold(t).run()),
    "bridges" -> ((g, t) => g.twoConnectivity.setSmallGraphThreshold(t).bridges()),
    "articulationPoints" ->
      ((g, t) => g.twoConnectivity.setSmallGraphThreshold(t).articulationPoints()),
    "twoEdgeComponents" ->
      ((g, t) => g.twoConnectivity.setSmallGraphThreshold(t).twoEdgeComponents()),
    "maximalIndependentSet" ->
      ((g, t) => g.maximalIndependentSet.setHashMode("md5").setSmallGraphThreshold(t).run()),
    "greedyColoring" ->
      ((g, t) => g.greedyColoring.setHashMode("md5").setSmallGraphThreshold(t).run()))
  private val undirectedBuilders =
    Set("Louvain", "TwoConnectivity", "MaximalIndependentSet", "GreedyColoring")
  // The Luby tails need every vertex id, so above t vertex rows they go
  // distributed.
  private val luby = Set("maximalIndependentSet", "greedyColoring")

  /** Each run's tail (threshold t) against threshold 0 on `g`, and
   * whether its own gate took the tail (`tail(name)`: Some(taken), None
   * for an ineligible gate, which posts no decision; 2-connectivity's
   * distributed body runs CC's gate). */
  private def undirectedMismatches(g: GraphFrame, tail: String => Option[Boolean],
      t: Long = 100000L): Seq[String] =
    undirectedRuns.flatMap { case (name, run) =>
      val o = observed(canon(run(g, t)))
      val own = o.decisions.filter(d => undirectedBuilders(d.builder))
      if (own.map(_.tail) != tail(name).toSeq)
        Some(s"$name: decisions ${o.decisions}, expected tail = ${tail(name)}")
      else if (o.result != canon(run(g, 0L))) Some(s"$name: tail != distributed")
      else None
    }

  test("louvain and 2-connectivity tails canonicalize the raw edges as the distributed path") {
    val v = Seq("a", "b", "c", "d", "e", "f").toDF("id") // f isolated
    val e = Seq[(String, String)](("a", "a"), ("a", "b"), ("b", "a"), ("b", "c"), ("b", "c"),
      ("c", "a"), ("c", "c"), ("c", "d"), ("d", "e"), ("e", "z"), ("z", "d"), ("x", "y"),
      (null, "c"), ("d", null)).toDF("src", "dst")
    // more vertex rows than t = the 14 edge rows: 2-connectivity's tail
    // then roots at the vertex-table endpoints and joins its readouts back
    val isolated = v.union((1 to 20).map(i => s"i$i").toDF("id"))
    val failures =
      undirectedMismatches(GraphFrame(v, e), tail = _ => Some(true)).map(m => s"joined $m") ++
      undirectedMismatches(GraphFrame.fromEdges(e), tail = _ => Some(true))
        .map(m => s"fromEdges $m") ++
      undirectedMismatches(GraphFrame(isolated, e), tail = n => Some(!luby(n)), t = 14L)
        .map(m => s"isolated $m")
    assert(failures.isEmpty, failures.mkString("; "))
  }

  // Spark compares doubles with -0.0 = 0.0 and NaN = NaN, unlike boxed
  // equals or ==: Double ids have no driver ordering and run distributed.
  test("louvain and 2-connectivity with Double ids run distributed and agree") {
    val nan = Double.NaN
    val v = Seq(0.0, 1.0, 2.0, 3.0, nan).toDF("id")
    val e = Seq((-0.0, 0.0), (nan, nan), (-0.0, 1.0), (0.0, 1.0), (1.0, 2.0), (2.0, 0.0),
      (2.0, 3.0)).toDF("src", "dst")
    val failures = Seq("joined" -> GraphFrame(v, e), "fromEdges" -> GraphFrame.fromEdges(e))
      .flatMap { case (name, g) =>
        undirectedMismatches(g, tail = _ => None).map(m => s"$name $m")
      }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  // The gate reads at most t + 1 probe rows: at t = the probe's exact row
  // count n the tail must run, at n - 1 the run must go distributed, and
  // both must give the threshold-0 output. n is what the gate read at a
  // threshold far above it.
  test("every driver tail runs at threshold = its probe's row count and not one below") {
    val failures = tailCases.flatMap { c =>
      val g = GraphFrame(friends.vertices, tailEdges(c.edgeCols))
      val expected = canon(c.run(g, 0L))
      val (builder, n) = observed(canon(c.run(g, 100000L))).decisions match {
        case Seq(d) if d.tail => (d.builder, d.rowsRead.toLong)
        case ds => fail(s"${c.name}: expected one tail decision at 100000, got $ds")
      }
      // a distributed body may run other builders (2-connectivity runs CC)
      def check(t: Long, tail: Boolean): Option[String] = {
        val o = observed(canon(c.run(g, t)))
        if (o.decisions.filter(_.builder == builder).map(_.tail) != Seq(tail))
          Some(s"${c.name} at $t (n = $n): decisions ${o.decisions}")
        else if (o.result != expected) Some(s"${c.name} at $t (n = $n): output differs")
        else None
      }
      check(n, tail = true) ++ check(n - 1, tail = false)
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  // A tail that needs every vertex id reads at most t of them. With more
  // vertex rows than t = the edge row count, the tails of MIS, greedy
  // coloring and the path centralities go distributed, and every tail
  // still gives its distributed result.
  test("every driver tail with more vertex rows than its threshold == distributed") {
    val v = friends.vertices.unionByName(
      (1 to 5).map(i => (s"i$i", s"Isolated $i", i)).toDF("id", "name", "age"))
    // the builders whose tails need every vertex id, by case-name prefix
    val needAllIds = Map("maximalIndependentSet" -> "MaximalIndependentSet",
      "greedyColoring" -> "GreedyColoring", "betweenness" -> "Betweenness",
      "closeness" -> "Closeness", "eccentricity" -> "Eccentricity")
    val failures = tailCases.flatMap { c =>
      val e = tailEdges(c.edgeCols)
      val g = GraphFrame(v, e)
      val t = e.count()
      assert(v.count() > t)
      val o = observed(canon(c.run(g, t)))
      val builder = needAllIds.collectFirst { case (p, b) if c.name.startsWith(p) => b }
      val own = o.decisions.filter(d => builder.contains(d.builder))
      if (builder.isDefined && own.map(d => (d.tail, d.rowsRead <= t)) != Seq((false, true)))
        Some(s"${c.name} at $t: decisions ${o.decisions}, expected one distributed decision")
      else if (o.result != canon(c.run(g, 0L))) Some(s"${c.name} at $t: tail != distributed")
      else None
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  // On a fromEdges graph a tail's join-back returns its local relation
  // itself; over the same vertex rows behind a lineage cut it broadcast-
  // joins that relation onto them. Both must give the same schema and the
  // same rows, one per vertex, including the null id of a null endpoint.
  test("every driver tail's fromEdges local result == its join onto the same vertex rows") {
    val failures = tailCases.flatMap { c =>
      val friendsE = tailEdges(c.edgeCols)
      val e = friendsE.unionAll(spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row.fromSeq(Seq(null, "a") ++ c.edgeCols.map(_ => 1.0))),
        friendsE.schema))
      val local = c.run(GraphFrame.fromEdges(e), 100000L)
      val joined = c.run(GraphFrame(GraphFrame.fromEdges(e).vertices.localCheckpoint(), e), 100000L)
      def sorted(df: org.apache.spark.sql.DataFrame) = df.collect().sortBy(_.toString).toSeq
      if (local.schema != joined.schema)
        Some(s"${c.name}: schema ${local.schema.simpleString} != ${joined.schema.simpleString}")
      else if (sorted(local) != sorted(joined))
        Some(s"${c.name}: rows ${sorted(local)} != ${sorted(joined)}")
      else None
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  // fromEdges types its vertex ids as the union type of src and dst, so
  // the tails' endpoint ids, taken from the collected edges without a
  // Spark job, must come back in that type: Int src values as Long ids.
  test("driver tails on a fromEdges graph with Int src and Long dst == distributed") {
    val ints = (c: org.apache.spark.sql.Column) => ascii(c) - 96
    // these runs name the string vertex "a" as their source
    val stringSources = Set("parallelPersonalizedPageRank", "independentCascade",
      "temporalReachability")
    val failures = tailCases.filterNot(c => stringSources(c.name)).flatMap { c =>
      val e = tailEdges(c.edgeCols)
        .withColumn("src", ints(col("src")))
        .withColumn("dst", ints(col("dst")).cast("long"))
      val g = GraphFrame.fromEdges(e)
      assert(g.vertices.schema("id").dataType == org.apache.spark.sql.types.LongType)
      scala.util.Try(canon(c.run(g, 100000L)) == canon(c.run(g, 0L))) match {
        case scala.util.Success(true) => None
        case scala.util.Success(false) => Some(s"${c.name}: tail != distributed")
        case scala.util.Failure(t) => Some(s"${c.name}: $t")
      }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }
}
