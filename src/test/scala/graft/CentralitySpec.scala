package graft

import org.apache.spark.sql.functions._

class CentralitySpec extends TestBase {
  import spark.implicits._

  /** a->b, a->c, b->d, c->d — two equal shortest a~>d paths (sigma = 2). */
  private def diamond: GraphFrame = {
    val v = Seq("a", "b", "c", "d").toDF("id")
    val e = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")).toDF("src", "dst")
    GraphFrame(v, e)
  }

  private def btwMap(g: GraphFrame, threshold: Long): Map[Any, Double] =
    g.betweenness.setSmallGraphThreshold(threshold).run()
      .select("id", "betweenness").collect()
      .map(r => (r.get(0), r.getDouble(1))).toMap

  private def ebtMap(g: GraphFrame, threshold: Long): Map[(Any, Any), Double] =
    g.betweenness.setSmallGraphThreshold(threshold).runEdges()
      .collect().map(r => ((r.get(0), r.get(1)), r.getDouble(2))).toMap

  test("edge betweenness: directed path — each edge carries its crossing pairs") {
    // 0->1->2->3: edge (0,1) carries pairs (0,1),(0,2),(0,3) = 3;
    // (1,2) carries (0,2),(0,3),(1,2),(1,3) = 4; (2,3) carries 3
    val m = ebtMap(chain(4), threshold = 100)
    assert(m((0L, 1L)) == 3.0 && m((1L, 2L)) == 4.0 && m((2L, 3L)) == 3.0)
  }

  test("edge betweenness: diamond splits across the two equal paths") {
    // a->{b,c}->d: pair (a,d) has sigma 2, each branch edge gets 0.5 of it
    // plus its own endpoint pairs (a,b)/(b,d): 1 + 0.5 = 1.5 per edge
    val m = ebtMap(diamond, threshold = 100)
    assert(m.values.sum == 6.0) // 5 reachable pairs, path lengths 1+1+1+2(x... )
    for (e <- Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")))
      assert(math.abs(m((e._1, e._2)) - 1.5) < 1e-12, m.toString)
  }

  test("edge betweenness: local tail == distributed; sampled draw composes") {
    val g = friends
    val local = ebtMap(g, threshold = 100000)
    val dist = ebtMap(g, threshold = 0)
    assert(local.keySet == dist.keySet)
    for ((k, v) <- local) assert(math.abs(v - dist(k)) < 1e-9, s"edge $k")
    val sl = g.betweenness.sampleSources(3).setSmallGraphThreshold(100000)
      .runEdges().collect().map(r => ((r.get(0), r.get(1)), r.getDouble(2))).toMap
    val sd = g.betweenness.sampleSources(3).setSmallGraphThreshold(0)
      .runEdges().collect().map(r => ((r.get(0), r.get(1)), r.getDouble(2))).toMap
    for ((k, v) <- sl) assert(math.abs(v - sd(k)) < 1e-9, s"sampled edge $k")
  }

  test("edge betweenness rejects weightCol loudly") {
    val g = chain(3)
    intercept[IllegalArgumentException] {
      g.betweenness.weightCol("w").runEdges()
    }
  }

  test("betweenness: directed path — interior vertices carry the pairs") {
    // 0->1->2->3: b(1) counts (0,2),(0,3) = 2; b(2) counts (0,3),(1,3) = 2
    val m = btwMap(chain(4), threshold = 100)
    assert(m(0L) == 0.0 && m(3L) == 0.0)
    assert(m(1L) == 2.0 && m(2L) == 2.0)
  }

  test("betweenness: diamond splits credit across equal shortest paths") {
    val m = btwMap(diamond, threshold = 100)
    assert(m("a") == 0.0 && m("d") == 0.0)
    assert(math.abs(m("b") - 0.5) < 1e-12 && math.abs(m("c") - 0.5) < 1e-12)
  }

  test("betweenness: local tail == distributed supersteps (and isolated score 0)") {
    val g = friends // string ids, isolated vertex g, a 4-cycle a->e->d->a
    val local = btwMap(g, threshold = 100000)
    val dist = btwMap(g, threshold = 0)
    assert(local.keySet == dist.keySet)
    for ((k, v) <- local) assert(math.abs(v - dist(k)) < 1e-9, s"vertex $k")
    assert(local("g") == 0.0)
  }

  test("betweenness: normalization and star graph") {
    // star 0->1,2,3: no vertex is interior; normalized stays all-zero
    val m = btwMap(star(3), 100)
    assert(m.values.forall(_ == 0.0))
    val norm = chain(3).betweenness.normalized(true).run()
      .select("id", "betweenness").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    // raw b(1)=1 (pair 0~>2), n=3 => normalized 1/((3-1)(3-2)) = 0.5
    assert(math.abs(norm(1L) - 0.5) < 1e-12)
  }

  test("betweenness: sampled sources are deterministic and scaled") {
    val g = chain(5)
    val s1 = g.betweenness.sampleSources(2).setSmallGraphThreshold(100).run()
      .select("id", "betweenness").collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val s2 = g.betweenness.sampleSources(2).setSmallGraphThreshold(100).run()
      .select("id", "betweenness").collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(s1 == s2) // md5-ordered sample: replayable, no RNG state
    // sampled estimator == local exact when the sample covers all sources
    val exact = btwMap(g, 100)
    val all = g.betweenness.sampleSources(5).setSmallGraphThreshold(100).run()
      .select("id", "betweenness").collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    for ((k, v) <- exact) assert(math.abs(v - all(k.asInstanceOf[Long])) < 1e-9)
  }

  test("betweenness: sampled sources — local tail == distributed supersteps") {
    def sampled(t: Long): Map[Long, Double] =
      chain(5).betweenness.sampleSources(3).setSmallGraphThreshold(t).run()
        .select("id", "betweenness").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val local = sampled(100000)
    val dist = sampled(0)
    assert(local.keySet == dist.keySet)
    for ((k, v) <- local) assert(math.abs(v - dist(k)) < 1e-9, s"vertex $k")
  }

  test("closeness: path graph Wasserman-Faust + harmonic, hand-checked") {
    // 0->1->2->3 out-distances from 0: 1,2,3 => WF (3/3)*(3/6)=0.5;
    // harmonic 1 + 1/2 + 1/3
    val m = chain(4).closeness.setSmallGraphThreshold(100).run()
      .select("id", "closeness", "harmonic").collect()
      .map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2)))).toMap
    assert(math.abs(m(0L)._1 - 0.5) < 1e-12)
    assert(math.abs(m(0L)._2 - (1.0 + 0.5 + 1.0 / 3)) < 1e-12)
    // 3 reaches nothing: both scores 0 (not NaN/null)
    assert(m(3L) == ((0.0, 0.0)))
    // 2 reaches only 3: WF (1/3)*(1/1) = 1/3
    assert(math.abs(m(2L)._1 - 1.0 / 3) < 1e-12)
  }

  test("closeness: local tail == distributed supersteps") {
    val local = friends.closeness.setSmallGraphThreshold(100000).run()
      .select("id", "closeness", "harmonic").collect()
      .map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2)))).toMap
    val dist = friends.closeness.setSmallGraphThreshold(0).run()
      .select("id", "closeness", "harmonic").collect()
      .map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2)))).toMap
    assert(local.keySet == dist.keySet)
    for ((k, (c, h)) <- local) {
      assert(math.abs(c - dist(k)._1) < 1e-9, s"closeness $k")
      assert(math.abs(h - dist(k)._2) < 1e-9, s"harmonic $k")
    }
    assert(local("g") == ((0.0, 0.0))) // isolated
  }

  test("eccentricity: chain distances, sink zero, local == distributed") {
    def ecc(g: GraphFrame, t: Long): Map[Any, Int] =
      g.eccentricity.setSmallGraphThreshold(t).run()
        .select("id", "eccentricity").collect()
        .map(r => (r.get(0), r.getInt(1))).toMap
    val m = ecc(chain(4), 100)
    assert(m == Map(0L -> 3, 1L -> 2, 2L -> 1, 3L -> 0)) // sink reaches nothing
    val local = ecc(friends, 100000)
    val dist = ecc(friends, 0)
    assert(local == dist)
    assert(local("g") == 0) // isolated
  }

  test("betweenness weighted: weights reroute shortest paths (hand-checked)") {
    // 0->1->3 costs 1+1=2; 0->2->3 costs 5+5=10; direct 0->3 costs 4.
    // Unweighted: two 2-hop paths tie and the direct edge wins (1 hop) =>
    // b(1)=b(2)=0. Weighted: THE shortest 0~>3 path is 0->1->3 => b(1)=1.
    val v = Seq(0L, 1L, 2L, 3L).toDF("id")
    val e = Seq((0L, 1L, 1.0), (1L, 3L, 1.0), (0L, 2L, 5.0), (2L, 3L, 5.0),
      (0L, 3L, 4.0)).toDF("src", "dst", "w")
    val g = GraphFrame(v, e)
    for (t <- Seq(0L, 100000L)) { // distributed AND local tail
      val m = g.betweenness.weightCol("w").setSmallGraphThreshold(t).run()
        .select("id", "betweenness").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(math.abs(m(1L) - 1.0) < 1e-9, s"threshold $t: $m")
      assert(m(2L) == 0.0 && m(0L) == 0.0 && m(3L) == 0.0, s"threshold $t: $m")
    }
    // equal-weight split: 0->1->3 and 0->2->3 both cost 2, no direct edge
    val e2 = Seq((0L, 1L, 1.0), (1L, 3L, 1.0), (0L, 2L, 1.0), (2L, 3L, 1.0))
      .toDF("src", "dst", "w")
    val m2 = GraphFrame(v, e2).betweenness.weightCol("w")
      .setSmallGraphThreshold(100L).run()
      .select("id", "betweenness").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(math.abs(m2(1L) - 0.5) < 1e-9 && math.abs(m2(2L) - 0.5) < 1e-9, m2)
  }

  test("betweenness weighted: local tail == distributed; sampled; validation") {
    // string-id graph with integer weights and an isolated vertex
    val gw = GraphFrame(friends.vertices,
      friends.edges.withColumn("w",
        (length(col("src")) + length(col("dst")) * 2).cast("double")))
    def btw(t: Long, k: Int = 0): Map[String, Double] = {
      val b = gw.betweenness.weightCol("w").setSmallGraphThreshold(t)
      if (k > 0) b.sampleSources(k)
      b.run().select("id", "betweenness").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toMap
    }
    val local = btw(100000)
    val dist = btw(0)
    assert(local.keySet == dist.keySet)
    for ((k, x) <- local) assert(math.abs(x - dist(k)) < 1e-9, s"vertex $k")
    assert(local("g") == 0.0)
    // sampled + weighted compose through both paths
    val sl = btw(100000, k = 3)
    val sd = btw(0, k = 3)
    for ((k, x) <- sl) assert(math.abs(x - sd(k)) < 1e-9, s"sampled vertex $k")
    // nonpositive weights rejected eagerly
    val bad = GraphFrame(friends.vertices,
      friends.edges.withColumn("w", lit(0.0)))
    intercept[IllegalArgumentException](bad.betweenness.weightCol("w").run())
  }

  test("closeness: sampled landmarks — hand-checked estimator on K3") {
    // bidirectional triangle: all pairwise distances 1. With k=2 landmarks
    // (scale 3/2): a landmark v sees one other landmark (r=1, total=1) =>
    // closeness (3/2)*1/2*1/1 = 0.75, harmonic 1.5; the non-landmark sees
    // both (r=2, total=2) => closeness (3/2)*2/2*2/2 = 1.5, harmonic 3.0.
    val v = Seq(0L, 1L, 2L).toDF("id")
    val e = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (0L, 2L), (2L, 0L))
      .toDF("src", "dst")
    val g = GraphFrame(v, e)
    for (t <- Seq(0L, 100000L)) { // distributed AND local tail
      val m = g.closeness.sampleSources(2).setSmallGraphThreshold(t).run()
        .select("id", "closeness", "harmonic").collect()
        .map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2)))).toMap
      val scores = m.values.toSeq.sortBy(_._1)
      assert(scores.count(s => math.abs(s._1 - 0.75) < 1e-9 &&
        math.abs(s._2 - 1.5) < 1e-9) == 2, s"threshold $t: $m")
      assert(scores.count(s => math.abs(s._1 - 1.5) < 1e-9 &&
        math.abs(s._2 - 3.0) < 1e-9) == 1, s"threshold $t: $m")
    }
  }

  test("closeness: sampled — local tail == distributed, deterministic") {
    def run(t: Long): Map[String, (Double, Double)] =
      friends.closeness.sampleSources(3).setSmallGraphThreshold(t).run()
        .select("id", "closeness", "harmonic").collect()
        .map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2)))).toMap
    val local = run(100000)
    val dist = run(0)
    assert(local.keySet == dist.keySet)
    for ((k, (c, h)) <- local) {
      assert(math.abs(c - dist(k)._1) < 1e-9, s"closeness $k")
      assert(math.abs(h - dist(k)._2) < 1e-9, s"harmonic $k")
    }
    assert(run(0) == dist) // md5 draw: replayable, no RNG state
    assert(local("g")._2 == 0.0) // isolated vertex reaches no landmark
  }

  test("eccentricity: sampled is a lower bound; local == distributed") {
    def ecc(t: Long, k: Int): Map[Long, Int] =
      chain(5).eccentricity.sampleSources(k).setSmallGraphThreshold(t).run()
        .select("id", "eccentricity").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
    val exact = ecc(100000, 0)
    val local = ecc(100000, 2)
    val dist = ecc(0, 2)
    assert(local == dist)
    for ((v, s) <- local) assert(s <= exact(v), s"vertex $v: $s > ${exact(v)}")
    // k >= n degrades to exact
    assert(ecc(100000, 5) == exact)
  }

  test("closeness/eccentricity weighted: hand-checked chain + parity + sampled") {
    // 0 -> 1 (w=2) -> 2 (w=3): from 0 dists are 2, 5 => WF (2/2)*(2/7);
    // harmonic 1/2 + 1/5; ecc(0) = 5.0 (double in weighted mode)
    val v = Seq(0L, 1L, 2L).toDF("id")
    val e = Seq((0L, 1L, 2.0), (1L, 2L, 3.0)).toDF("src", "dst", "w")
    val g = GraphFrame(v, e)
    for (t <- Seq(0L, 100000L)) {
      val m = g.closeness.weightCol("w").setSmallGraphThreshold(t).run()
        .select("id", "closeness", "harmonic").collect()
        .map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2)))).toMap
      assert(math.abs(m(0L)._1 - 2.0 / 7.0) < 1e-12, s"threshold $t: $m")
      assert(math.abs(m(0L)._2 - (0.5 + 0.2)) < 1e-12, s"threshold $t")
      assert(m(2L) == ((0.0, 0.0)))
      val ec = g.eccentricity.weightCol("w").setSmallGraphThreshold(t).run()
        .select("id", "eccentricity").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(ec == Map(0L -> 5.0, 1L -> 3.0, 2L -> 0.0), s"threshold $t: $ec")
    }
    // sampled + weighted: local == distributed on a string-id graph
    val gw = GraphFrame(friends.vertices, friends.edges.withColumn("w",
      (length(col("src")) + length(col("dst"))).cast("double")))
    def cls(t: Long): Map[String, (Double, Double)] =
      gw.closeness.weightCol("w").sampleSources(3).setSmallGraphThreshold(t).run()
        .select("id", "closeness", "harmonic").collect()
        .map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2)))).toMap
    val cl = cls(100000); val cd = cls(0)
    for ((k, (c, h)) <- cl) {
      assert(math.abs(c - cd(k)._1) < 1e-9, s"closeness $k")
      assert(math.abs(h - cd(k)._2) < 1e-9, s"harmonic $k")
    }
    def ecs(t: Long): Map[String, Double] =
      gw.eccentricity.weightCol("w").sampleSources(3).setSmallGraphThreshold(t).run()
        .select("id", "eccentricity").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(ecs(100000) == ecs(0))
    // nonpositive weights rejected
    intercept[IllegalArgumentException](
      GraphFrame(v, e.withColumn("w", lit(0.0))).closeness.weightCol("w").run())
  }

  test("weighted centralities traverse an endpoint missing from the vertex table") {
    // vertices {a, b}, edges a->x->b: x is no vertex, but the distributed
    // search still reaches b through it, and so must the driver tail
    val g = GraphFrame(Seq("a", "b").toDF("id"),
      Seq(("a", "x", 1.0), ("x", "b", 2.0)).toDF("src", "dst", "w"))
    def scores(t: Long): Seq[Set[Seq[Any]]] = Seq(
      rows(g.closeness.weightCol("w").setSmallGraphThreshold(t).run()),
      rows(g.eccentricity.weightCol("w").setSmallGraphThreshold(t).run()),
      rows(g.betweenness.weightCol("w").setSmallGraphThreshold(t).run()))
    val local = scores(100000)
    assert(local == scores(0))
    assert(local(1) == Set(Seq("a", 3.0), Seq("b", 0.0)), local(1))
  }

  test("distributed centralities drop an edge with a null endpoint, like the tails") {
    // vertices {a, b}, edges a->b and a->null: a reaches b and nothing
    // else, so closeness(a) and harmonic(a) are 1 on both paths
    val g = GraphFrame(Seq("a", "b").toDF("id"),
      Seq(("a", "b", 1.0), ("a", null, 1.0)).toDF("src", "dst", "w"))
    def scores(t: Long): Seq[Set[Seq[Any]]] = Seq(
      rows(g.closeness.setSmallGraphThreshold(t).run()),
      rows(g.closeness.weightCol("w").setSmallGraphThreshold(t).run()),
      rows(g.eccentricity.setSmallGraphThreshold(t).run()),
      rows(g.betweenness.setSmallGraphThreshold(t).run()))
    val local = scores(100000)
    assert(local(0) == Set(Seq("a", 1.0, 1.0), Seq("b", 0.0, 0.0)), local(0))
    assert(scores(0) == local)
  }

  test("centrality: parallel edges collapse, self-loops are inert") {
    val v = Seq(0L, 1L, 2L).toDF("id")
    val e = Seq((0L, 1L), (0L, 1L), (1L, 1L), (1L, 2L)).toDF("src", "dst")
    val g = GraphFrame(v, e)
    for (t <- Seq(0L, 100L)) {
      val m = btwMap(g, t)
      assert(m(1L) == 1.0, s"threshold $t") // only pair (0,2); sigma stays 1
    }
  }

  test("exact all-source guard: unsampled distributed runs above the conf fail loudly") {
    // 4 vertices, guard at 3 sources: every exact DISTRIBUTED run (tail
    // disabled) must refuse with the sampleSources remedy; sampled runs
    // and guard-disabled (0) runs pass; driver tails are never guarded
    val g = diamond
    val key = GraftConf.CentralityRequireSampledAboveKey
    spark.conf.set(key, "3")
    try {
      val wg = GraphFrame(g.vertices,
        g.edges.withColumn("w", lit(1.0)))
      val exact = Seq(
        () => g.betweenness.setSmallGraphThreshold(0).run(),
        () => wg.betweenness.weightCol("w").setSmallGraphThreshold(0).run(),
        () => g.closeness.setSmallGraphThreshold(0).run(),
        () => wg.closeness.weightCol("w").setSmallGraphThreshold(0).run(),
        () => g.eccentricity.setSmallGraphThreshold(0).run(),
        () => wg.eccentricity.weightCol("w").setSmallGraphThreshold(0).run(),
        () => g.betweenness.setSmallGraphThreshold(0).runEdges())
      for (f <- exact) {
        val ex = intercept[IllegalArgumentException](f().collect())
        assert(ex.getMessage.contains("sampleSources"), ex.getMessage)
      }
      // sampled: passes under the same conf
      assert(g.betweenness.sampleSources(2).setSmallGraphThreshold(0)
        .run().count() == 4)
      // driver tail: never guarded
      assert(g.betweenness.setSmallGraphThreshold(100).run().count() == 4)
      // 0 disables: exact distributed run proceeds
      spark.conf.set(key, "0")
      assert(g.betweenness.setSmallGraphThreshold(0).run().count() == 4)
    } finally spark.conf.unset(key)
  }
}
