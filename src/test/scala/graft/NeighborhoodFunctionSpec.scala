package graft

import org.apache.spark.sql.functions._

class NeighborhoodFunctionSpec extends TestBase with SparkEvents {
  import spark.implicits._

  private def nf(g: GraphFrame): Map[Int, Long] =
    g.neighborhoodFunction.run().as[(Int, Long)].collect().toMap

  /** `run()` at `threshold` (100000 takes the driver tail, 0 the
   * distributed rounds), with the tail decisions it posted. */
  private def nfAt(g: GraphFrame, threshold: Long,
      conf: lib.NeighborhoodFunction => lib.NeighborhoodFunction = identity)
      : Observed[Map[Int, Long]] =
    observed(conf(g.neighborhoodFunction).setSmallGraphThreshold(threshold).run()
      .as[(Int, Long)].collect().toMap)

  /** Asserts that the tail ran at 100000 and gave the distributed result;
   * returns that result. */
  private def tailMatchesDistributed(g: GraphFrame,
      conf: lib.NeighborhoodFunction => lib.NeighborhoodFunction = identity)
      : Map[Int, Long] = {
    val tail = nfAt(g, 100000L, conf)
    assert(tail.decisions.map(_.tail) == Seq(true), s"decisions ${tail.decisions}")
    val dist = nfAt(g, 0L, conf)
    assert(dist.decisions.isEmpty)
    assert(tail.result == dist.result)
    tail.result
  }

  test("directed chain: N(d) grows by the remaining suffix sizes") {
    // 0->1->2->3: N(0)=4, N(1)=7, N(2)=9, N(3)=10, then saturates
    assert(nf(chain(4)) == Map(0 -> 4L, 1 -> 7L, 2 -> 9L, 3 -> 10L))
  }

  test("star saturates at distance 1; leaves reach nothing") {
    assert(nf(star(3)) == Map(0 -> 4L, 1 -> 7L))
  }

  test("friends graph matches brute-force BFS pair counts per distance") {
    val edges = friends.edges.select("src", "dst").as[(String, String)]
      .collect().toSeq
    val ids = friends.vertices.select("id").as[String].collect().toSeq
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // brute-force N(d): BFS from every vertex
    val dists = for (s <- ids) yield {
      val dist = scala.collection.mutable.HashMap(s -> 0)
      val q = scala.collection.mutable.Queue(s)
      while (q.nonEmpty) {
        val v = q.dequeue()
        for (w <- adj.getOrElse(v, Nil) if !dist.contains(w)) {
          dist(w) = dist(v) + 1; q.enqueue(w)
        }
      }
      dist.values.toSeq
    }
    val flat = dists.flatten
    val maxd = flat.max
    val expected = (0 to maxd).map(d => d -> flat.count(_ <= d).toLong).toMap
    assert(nf(friends) == expected)
  }

  test("effective diameter: chain alpha interpolation points") {
    // N = (4, 7, 9, 10); N(max)=10: alpha 0.9 -> first d with N >= 9 is 2
    assert(chain(4).neighborhoodFunction.effectiveDiameter(0.9) == 2.0)
    assert(chain(4).neighborhoodFunction.effectiveDiameter(1.0) == 3.0)
    assert(chain(4).neighborhoodFunction.effectiveDiameter(0.4) == 0.0)
  }

  test("maxIter caps the expansion depth") {
    val m = chain(6).neighborhoodFunction.maxIter(2).run()
      .as[(Int, Long)].collect().toMap
    assert(m.keySet == Set(0, 1, 2))
  }

  test("invalid parameters rejected") {
    intercept[IllegalArgumentException](
      chain(3).neighborhoodFunction.setLgNomEntries(30))
    intercept[IllegalArgumentException](
      chain(3).neighborhoodFunction.effectiveDiameter(0.0))
  }

  test("interpolated effective diameter on the 5-chain, hand-computed") {
    // directed chain 0->..->4: N(0)=5, N(1)=9, N(2)=12, N(3)=14, N(4)=15
    // thr = 13.5 -> d0 = 3, eff = 2 + (13.5-12)/(14-12) = 2.75
    val r = chain(5).neighborhoodFunction.effectiveDiameterReport(0.9).head()
    assert(math.abs(r.getAs[Double]("effective_diameter") - 2.75) < 1e-12)
    assert(r.getAs[Int]("effective_diameter_int") == 3)
    assert(r.getAs[Int]("diameter") == 4)
    assert(r.getAs[Long]("n_pairs_total") == 15L)
  }

  test("edgeless graph: interpolated readout clamps at 0, never negative") {
    // d=0 already satisfies N(0) >= alpha*N(inf); the raw interpolation
    // formula would yield (0-1) + alpha = -0.1 — the classic ANF readout
    // floors at 0
    val v = Seq("a", "b", "c").toDF("id")
    val e = Seq.empty[(String, String)].toDF("src", "dst")
    val r = GraphFrame(v, e).neighborhoodFunction
      .effectiveDiameterReport(0.9).head()
    assert(r.getAs[Double]("effective_diameter") == 0.0)
    assert(r.getAs[Int]("effective_diameter_int") == 0)
  }

  test("precomputed-nf overload matches the self-running readout") {
    val anf = chain(5).neighborhoodFunction
    val nfTable = anf.run()
    val a = anf.effectiveDiameterReport(0.9).head()
    val b = anf.effectiveDiameterReport(nfTable, 0.9).head()
    assert(a == b)
  }

  // vertices a, b, c, d (twice) and isolated "iso"; x and z are dangling
  // srcs; y is a dangling dst that is itself a dangling src, so it holds
  // state from round 1 and sends from round 2; a -> b twice, b -> b, a
  // null src and a null dst. Hand replay of the distributed rounds:
  // N = 5, 11, 18, 22, 24.
  private def awkward: GraphFrame = {
    val v = Seq("a", "b", "c", "d", "d", "iso").toDF("id")
    val e = Seq[(String, String)](("a", "b"), ("a", "b"), ("b", "b"), ("b", "c"),
      ("c", "d"), ("x", "a"), ("d", "y"), ("y", "c"), ("z", "y"), (null, "a"),
      ("c", null)).toDF("src", "dst")
    GraphFrame(v, e)
  }

  test("driver tail == distributed rounds on an awkward graph") {
    assert(tailMatchesDistributed(awkward) ==
      Map(0 -> 5L, 1 -> 11L, 2 -> 18L, 3 -> 22L, 4 -> 24L))
    assert(tailMatchesDistributed(awkward, _.maxIter(2)) ==
      Map(0 -> 5L, 1 -> 11L, 2 -> 18L))
  }

  // fromEdges: the vertex ids come from the collected edges. filterEdges
  // keeps edgeEndpointsComplete but leaves vertices without edges, which
  // still count 1 each, so their ids come from the vertex table.
  test("driver tail == distributed rounds on fromEdges and filtered graphs") {
    val g = GraphFrame.fromEdges(Seq((1, 2L), (2, 3L), (3, 1L), (4, 5L), (5, 6L))
      .toDF("src", "dst"))
    assert(tailMatchesDistributed(g) ==
      Map(0 -> 6L, 1 -> 11L, 2 -> 15L))
    assert(tailMatchesDistributed(g.filterEdges("src <= 3")) ==
      Map(0 -> 6L, 1 -> 9L, 2 -> 12L))
  }

  // below 2^lgNomEntries vertices every sketch is exact; one more vertex
  // and the run must stay on the sketches
  test("the driver tail runs up to 2^lgNomEntries vertices and not one more") {
    val lg4 = (n: lib.NeighborhoodFunction) => n.setLgNomEntries(4)
    assert(tailMatchesDistributed(chain(16), lg4)(15) == 136L)
    val over = nfAt(chain(17), 100000L, lg4)
    assert(over.decisions.map(_.tail) == Seq(false), s"decisions ${over.decisions}")
  }

  // byte-array ids compare by reference on the driver
  test("binary ids run the distributed rounds") {
    val e = Seq((Array[Byte](1), Array[Byte](2)), (Array[Byte](2), Array[Byte](1)))
      .toDF("src", "dst")
    val run = nfAt(GraphFrame.fromEdges(e), 100000L)
    assert(run.decisions.isEmpty)
    assert(run.result == Map(0 -> 2L, 1 -> 4L))
  }
}
