package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Connected-components corner cases ported from the reference suite
 * (ConnectedComponentsSuite.scala:93-258), run against BOTH execution
 * paths (union-find fast path / distributed supersteps), plus a
 * determinism regression for the surrogate-id mint and exact-row parity
 * of the driver tail, whose component values are the surrogates. */
class CCCornerSpec extends TestBase with SparkEvents {
  import spark.implicits._

  private def bothPaths(g: GraphFrame): Seq[org.apache.spark.sql.DataFrame] =
    Seq(g.connectedComponents.run(),
      g.connectedComponents.setSmallGraphThreshold(0).run())

  private def partition(df: org.apache.spark.sql.DataFrame): Set[Set[String]] =
    df.select(col("id").cast("string"), col("component").cast("string"))
      .as[(String, String)].collect()
      .groupBy(_._2).values.map(_.map(_._1).toSet).toSet

  test("empty graph: zero components for int, long and string ids") {
    for (ids <- Seq(
        spark.createDataFrame(Seq.empty[Tuple1[Int]]).toDF("id"),
        spark.createDataFrame(Seq.empty[Tuple1[Long]]).toDF("id"),
        spark.createDataFrame(Seq.empty[Tuple1[String]]).toDF("id"))) {
      val e = ids.select(col("id").as("src"), col("id").as("dst"))
      for (cc <- bothPaths(GraphFrame(ids, e)))
        assert(cc.count() == 0L)
    }
  }

  test("single vertex keeps its attributes and gets a Long component") {
    val v = Seq((0L, "a", "b")).toDF("id", "vattr", "gender")
    val e = Seq((0L, 0L, 1L)).toDF("src", "dst", "test").filter("src > 10")
    for (cc <- bothPaths(GraphFrame(v, e))) {
      assert(cc.schema("component").dataType ==
        org.apache.spark.sql.types.LongType)
      assert(cc.select("id", "component", "vattr", "gender").collect().toSeq ==
        Seq(Row(0L, 0L, "a", "b")))
    }
  }

  test("disconnected vertices are all singletons") {
    val g = GraphFrame(spark.range(5).toDF("id"),
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    for (cc <- bothPaths(g))
      assert(partition(cc) == (0L until 5L).map(i => Set(i.toString)).toSet)
  }

  test("one component regardless of edge directions") {
    // reference: chain with alternating directions is still one component
    val v = (0L until 6L).toDF("id")
    val e = Seq((0L, 1L), (2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L)).toDF("src", "dst")
    for (cc <- bothPaths(GraphFrame(v, e)))
      assert(partition(cc).size == 1)
  }

  test("two components and two dangling vertices") {
    val v = (0L until 8L).toDF("id")
    val e = Seq((0L, 1L), (1L, 2L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    for (cc <- bothPaths(GraphFrame(v, e)))
      assert(partition(cc) == Set(
        Set("0", "1", "2"), Set("3", "4", "5"), Set("6"), Set("7")))
  }

  test("really large long ids near Long.MaxValue") {
    val max = Long.MaxValue
    val g0 = chain(10)
    val v = g0.vertices.select((lit(max) - col("id")).as("id"))
    val e = g0.edges.select((lit(max) - col("src")).as("src"),
      (lit(max) - col("dst")).as("dst"))
    for (cc <- bothPaths(GraphFrame(v, e))) {
      assert(cc.count() == 10L)
      assert(cc.select("component").distinct().count() == 1L)
    }
  }

  test("self loops and duplicate edges do not split or merge components") {
    val v = (0L until 4L).toDF("id")
    val e = Seq((0L, 0L), (0L, 1L), (0L, 1L), (1L, 0L), (2L, 2L)).toDF("src", "dst")
    for (cc <- bothPaths(GraphFrame(v, e)))
      assert(partition(cc) == Set(Set("0", "1"), Set("2"), Set("3")))
  }

  // Round-6 regression: the surrogate mint must be a pure function of the
  // id VALUE. monotonically_increasing_id after a hash repartition varied
  // with AQE's runtime partition count, so indexedEdges' re-evaluation of
  // the indexedVertices plan could disagree with the cached label table —
  // silently splitting every component into singletons.
  test("surrogate ids are identical across independent evaluations") {
    val v = (0 until 500).map(i => Tuple1(s"node_$i")).toDF("id")
    val g = GraphFrame(v, v.select(col("id").as("src"), col("id").as("dst")))
    def mapping(): Map[String, Long] =
      g.indexedVertices.select(col("id"), col(GraphFrame.LONG_ID))
        .as[(String, Long)].collect().toMap
    val a = mapping()
    // second, independent evaluation of the same plan (no cache involved)
    val b = mapping()
    assert(a == b)
    assert(a.values.toSet.size == 500, "surrogates must be distinct")
  }

  test("string-id chain: fast path and distributed agree on the partition") {
    val n = 12
    val v = (0 until n).map(i => Tuple1(f"v$i%02d")).toDF("id")
    val e = (0 until n - 1).map(i => (f"v$i%02d", f"v${i + 1}%02d")).toDF("src", "dst")
    val g = GraphFrame(v, e)
    val fast = partition(g.connectedComponents.run())
    val dist = partition(g.connectedComponents.setSmallGraphThreshold(0).run())
    assert(fast == dist)
    assert(fast.size == 1)
  }

  /** Every row of `df`, all columns, as sorted strings: equal for equal
   * multisets of rows. */
  private def allRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Asserts that `run` at threshold 100000 took the driver tail and
   * returned exactly the rows of the rounds at threshold 0. */
  private def tailMatchesRounds(g: GraphFrame,
      conf: lib.ConnectedComponents => lib.ConnectedComponents = identity): Seq[String] = {
    def at(t: Long) = observed(allRows(conf(g.connectedComponents).setSmallGraphThreshold(t).run()))
    val tail = at(100000L)
    assert(tail.decisions.map(_.tail) == Seq(true), s"decisions ${tail.decisions}")
    val rounds = at(0L)
    assert(rounds.decisions.isEmpty)
    assert(tail.result == rounds.result)
    tail.result
  }

  /** Bucket of the surrogate mint, `pmod(xxhash64(id), 65536)`, per string. */
  private def buckets(ids: Seq[String]): Map[String, Long] =
    ids.toDF("s").select(col("s"), pmod(xxhash64(col("s")), lit(GraphFrame.SURROGATE_BUCKETS)))
      .as[(String, Long)].collect().toMap

  /** Two of `ids` in one bucket: the first pair the search meets. */
  private def sameBucket(ids: Seq[String]): (String, String) = {
    val b = buckets(ids)
    ids.combinations(2).collectFirst { case Seq(x, y) if b(x) == b(y) => (x, y) }.get
  }

  /** A string graph with every rule of the surrogate edges in it. */
  private lazy val cornerGraph: GraphFrame = {
    val (k1, k2) = sameBucket((0 until 2000).map(i => s"k$i"))
    // U+FF5E sorts before U+1F600 in UTF-8 and after it in UTF-16
    val bmp = (0 until 1000).map("\uFF5E" + _)
    val supp = (0 until 1000).map("\uD83D\uDE00" + _)
    val bs = buckets(bmp ++ supp)
    val (u1, u2) = (for (x <- bmp.iterator; y <- supp if bs(x) == bs(y)) yield (x, y)).next()
    // a string in the null id's bucket, which the null precedes
    val nullBucket = spark.range(1).select(pmod(xxhash64(lit(null).cast("string")),
      lit(GraphFrame.SURROGATE_BUCKETS))).as[Long].head()
    val n1 = spark.range(1000000).select(concat(lit("n"), col("id").cast("string")).as("s"))
      .filter(pmod(xxhash64(col("s")), lit(GraphFrame.SURROGATE_BUCKETS)) === nullBucket)
      .as[String].head()
    val v = Seq[(String, String)](
      ("a", "va"), ("b", "vb"), ("c", "vc"),
      ("d", "vd1"), ("d", "vd2"), // duplicate id, connected
      ("iso", "vi1"), ("iso", "vi2"), // duplicate id, isolated
      ("e", "ve1"), ("e", "ve2"), // duplicate id, only a self-loop
      (null, "vnull"), ("z", "vz"), ("p", "vp"),
      (k1, "vk1"), (k2, "vk2"), (u1, "vu1"), (u2, "vu2"), (n1, "vn1")).toDF("id", "attr")
    val e = Seq[(String, String)](
      ("a", "b"), ("a", "b"), ("b", "a"), ("b", "c"), ("c", "c"), ("d", "a"), ("e", "e"),
      (null, "a"), ("b", null), ("c", "ghost"), ("ghost", "p"),
      (k1, "p"), (u2, "p"), (n1, k2)).toDF("src", "dst")
    GraphFrame(v, e)
  }

  test("driver tail returns the rounds' exact rows on a string graph") {
    tailMatchesRounds(cornerGraph)
  }

  test("driver tail returns the rounds' exact rows with labels as components") {
    tailMatchesRounds(cornerGraph, _.setUseLabelsAsComponents(true))
  }

  test("driver tail returns the rounds' exact rows on an Int-src/Long-dst fromEdges graph") {
    val e = Seq[(Option[Int], Option[Long])](
      (Some(1), Some(2L)), (Some(2), Some(3L)), (Some(2), Some(3L)), (Some(4), Some(4L)),
      (Some(5), Some(6L)), (None, Some(7L)), (Some(8), None), (None, None),
      (Some(-3), Some(Long.MaxValue)), (Some(Int.MaxValue), Some(1L))).toDF("src", "dst")
    tailMatchesRounds(GraphFrame.fromEdges(e))
  }

  test("driver tail reads the vertex ids of a filterEdges graph") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("y", "x")).toDF("src", "dst")
    val g = GraphFrame.fromEdges(e).filterEdges(col("src") =!= "b")
    // c and d keep their vertex rows, though no remaining edge names c
    assert(tailMatchesRounds(g).size == 6)
  }

  test("a driver-tail result on a fromEdges graph reads no input") {
    // Dedup.clusterReps unpersists its pair frame once this result exists
    val e = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst")
    val cc = GraphFrame.fromEdges(e).connectedComponents.run()
    val leaves = cc.queryExecution.analyzed.collectLeaves()
    assert(leaves.map(_.getClass.getSimpleName) == Seq("LocalRelation"), s"leaves $leaves")
  }

  test("driver surrogate mint equals indexedVertices") {
    val rnd = new scala.util.Random(7)
    val ids = (0 until 1000).map(_ => s"s${rnd.nextInt(700)}") :+ null
    val g = GraphFrame(ids.toDF("id"), Seq.empty[(String, String)].toDF("src", "dst"))
    def bySurrogate(pairs: Seq[(String, Long)]): Map[String, Seq[Long]] =
      pairs.groupMap(_._1)(_._2).view.mapValues(_.sorted).toMap
    val minted = lib.ConnectedComponents.mintSurrogates(ids.toArray[Any],
      org.apache.spark.sql.types.StringType)
    val indexed = bySurrogate(g.indexedVertices.select(col("id"), col(GraphFrame.LONG_ID))
      .as[(String, Long)].collect().toSeq)
    assert(ids.distinct.size < 1000, "the ids hold duplicates")
    assert(bySurrogate(ids.zip(minted)) == indexed)
  }
}
