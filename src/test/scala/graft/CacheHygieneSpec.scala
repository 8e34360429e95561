package graft

import org.apache.spark.sql.functions._

/** Port of the reference's cache-hygiene checks
 * (ConnectedComponentsSuite.scala:311-321 "not leaking cached data"):
 * after an algorithm's result is materialized and released, the
 * session must hold no leftover persisted RDDs — localCheckpoint cuts
 * are persisted at the RDD level, where `Dataset.unpersist` is a
 * CacheManager no-op, so the IterationManager must free them itself.
 * Results themselves are lineage-cut (IterationManager.finish), so the
 * caller-side cleanup is `GraphFrame.release` (Dataset.unpersist kept
 * for any CacheManager-backed frames a result may still carry). */
class CacheHygieneSpec extends TestBase with TailCases {
  import spark.implicits._

  private def leftoverIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def assertNoLeak(run: => org.apache.spark.sql.DataFrame): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val before = leftoverIds()
    val result = run
    result.count()
    result.unpersist(true)
    GraphFrame.release(result)
    val after = leftoverIds() -- before
    assert(after.isEmpty,
      s"leaked persistent RDDs after unpersist+release: ${after.toSeq.sorted}")
  }

  test("connectedComponents does not leak cached data") {
    // force the distributed superstep path (threshold 0) so localCheckpoint
    // cuts actually happen — the union-find fast path barely persists
    assertNoLeak(friends.connectedComponents.setSmallGraphThreshold(0).run())
  }

  test("connectedComponents union-find fast path does not leak cached data") {
    assertNoLeak(friends.connectedComponents.run())
  }

  test("pageRank does not leak cached data") {
    assertNoLeak(friends.pageRank.maxIter(6).run().vertices)
  }

  test("shortestPaths does not leak cached data") {
    assertNoLeak(friends.shortestPaths.landmarks(Seq("a", "d")).run())
  }

  test("kCore does not leak cached data") {
    assertNoLeak(friends.kCore.run())
  }

  // Round-6 regression: a result that is a no-op (or rename-only)
  // projection of the final round's state canonicalizes `sameResult` with
  // it, so the old persist+count+close pattern let close() uncache the
  // result and free the checkpoint blocks its recompute needed
  // (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND across every fixed-iteration
  // algorithm). finish() must survive both tail shapes: last round a
  // lineage cut (even) and last round a lazy persist (odd).
  private def finishSurvives(rounds: Int): Unit = {
    import org.apache.spark.sql.functions._
    val mgr = new lib.IterationManager(2)
    var state = (0L until 20L).toDF("id").withColumn("x", lit(0.0))
    state = mgr.cycle(state, 0)
    for (i <- 1 to rounds)
      state = mgr.cycle(state.withColumn("x", col("x") + 1.0), i)
    val result = mgr.finish(state.select(col("id"), col("x")))
    val total = result.select(sum("x")).as[Double].head()
    assert(total == 20.0 * rounds, s"rounds=$rounds: got $total")
    GraphFrame.release(result)
  }

  test("finish: no-op-projection result survives close (last round = cut)") {
    finishSurvives(4)
  }

  test("finish: no-op-projection result survives close (last round = lazy persist)") {
    finishSurvives(5)
  }

  // Round-13 (verdict ask): EVERY shared-frame pipeline op must leave
  // zero residual persistent RDDs after compute + releaseShared — a user
  // session looping these ops otherwise accretes one pinned frame per
  // call until LRU eviction (the scaladoc contract, now asserted per op).
  private def assertReleaseShared(name: String)(
      run: => org.apache.spark.sql.DataFrame): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
    val before = leftoverIds()
    val result = run
    result.count()
    pipeline.releaseShared(result)
    val after = leftoverIds() -- before
    assert(after.isEmpty,
      s"$name leaked pinned frames after releaseShared: ${after.toSeq.sorted}")
  }

  private lazy val hygieneDocs = {
    val rows = (0 until 40).map(i =>
      (i.toLong, s"alpha beta gamma delta token$i epsilon zeta " * 3))
    spark.createDataFrame(rows).toDF("doc_id", "text")
  }

  test("fuzzyPairs (single key) releases its shared block frame") {
    assertReleaseShared("fuzzyPairs") {
      pipeline.Dedup.fuzzyPairs(hygieneDocs, "doc_id", "text",
        substring(col("text"), 1, 10), maxDist = 2, maxBlock = 100)
    }
  }

  test("fuzzyPairs (multi key) releases its shared block frame") {
    assertReleaseShared("fuzzyPairs-multi") {
      pipeline.Dedup.fuzzyPairs(hygieneDocs, "doc_id", "text",
        Seq(substring(col("text"), 1, 10), length(col("text")).cast("string")),
        maxDist = 2, maxBlock = 100)
    }
  }

  test("ngramJaccard releases its shared shingle frame") {
    assertReleaseShared("ngramJaccard") {
      pipeline.Dedup.ngramJaccard(hygieneDocs, "doc_id", "text",
        n = 3, minShared = 2)
    }
  }

  test("containmentPairs releases its shared shingle frame") {
    assertReleaseShared("containmentPairs") {
      pipeline.Dedup.containmentPairs(hygieneDocs, "doc_id", "text",
        n = 3, minShared = 2, threshold = 0.1)
    }
  }

  test("tfCosinePairs releases its shared term frame") {
    assertReleaseShared("tfCosinePairs") {
      pipeline.Text.tfCosinePairs(hygieneDocs, "doc_id", "text",
        minCosine = 0.5, maxDocFreq = 100)
    }
  }

  test("dsirWeights releases its shared (doc,bucket,n) frame") {
    assertReleaseShared("dsirWeights") {
      pipeline.Text.dsirWeights(hygieneDocs, "doc_id", "text",
        col("doc_id") < 10, buckets = 64)
    }
  }

  test("coOccurrence releases its shared basket frame") {
    assertReleaseShared("coOccurrence") {
      pipeline.Recommend.coOccurrence(
        hygieneDocs.selectExpr("doc_id % 5 AS basket", "doc_id AS item"),
        "basket", "item", maxBasket = 100)
    }
  }

  test("cliques4 releases its shared oriented-edge frames") {
    assertReleaseShared("cliques4") {
      lib.Cliques.cliques4(friends)
    }
  }

  // Every builder with a bounded driver tail goes through the one
  // LocalTail gate. (a) Its probe of a caller-cached edge frame reads that
  // cache and never evicts it — `edges.select(src, dst)` canonicalizes
  // `sameResult` with cached (src, dst) edges, so unpersisting the probe
  // used to uncache the caller's frame — on the tail (threshold high) and
  // the distributed (threshold 0) path alike. (b) When the probe's count
  // throws, whatever the gate pinned is released again: no persisted RDD
  // and no CacheManager entry is left behind. The table of builders is
  // [[TailCases]].
  test("driver-tail gate keeps a caller-cached edge frame cached on both paths") {
    val evicted = for (c <- tailCases; t <- Seq(100000L, 0L)) yield {
      spark.catalog.clearCache()
      val edges = tailEdges(c.edgeCols).persist()
      edges.count()
      c.run(GraphFrame(friends.vertices, edges), t).count()
      val kept = edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE
      edges.unpersist(true)
      if (kept) None else Some(s"${c.name} (threshold $t)")
    }
    assert(evicted.flatten.isEmpty, "evicted the caller's cached edges")
  }

  test("driver-tail gate releases its pin when the probe count throws") {
    val leaks = tailCases.flatMap { c =>
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      val edges = tailEdges(c.edgeCols,
        s => when(s === "a", raise_error(lit("probe failure"))).otherwise(s))
      val before = leftoverIds()
      val err = intercept[Exception] {
        c.run(GraphFrame(friends.vertices, edges), 100000L).count()
      }
      assert(String.valueOf(err.getMessage).contains("probe failure"),
        s"${c.name} failed elsewhere: $err")
      val rdds = leftoverIds() -- before
      // a frame persisted but never materialized holds no RDD yet: its
      // CacheManager entry must be gone too
      val entries = !org.apache.spark.sql.graftshim.CacheProbe.isEmpty(spark)
      if (rdds.isEmpty && !entries) None
      else Some(s"${c.name}: RDDs ${rdds.toSeq.sorted}, cache entries left: $entries")
    }
    assert(leaks.isEmpty, "left pinned frames after a failed probe")
  }

  /** Runs `c` over friends edges whose dst "b" raises `message` when a
   * job reads it, at threshold 0 (distributed), and reports whatever
   * persisted RDD or CacheManager entry outlives the exception. */
  private def leftAfterDstError(c: TailCase, message: String): Option[String] = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val edges = tailEdges(c.edgeCols,
      wrapDst = d => when(d === "b", raise_error(lit(message))).otherwise(d))
    val before = leftoverIds()
    val err = intercept[Exception] {
      c.run(GraphFrame(friends.vertices, edges), 0L).count()
    }
    assert(String.valueOf(err.getMessage).contains(message),
      s"${c.name} failed elsewhere: $err")
    val rdds = leftoverIds() -- before
    val entries = !org.apache.spark.sql.graftshim.CacheProbe.isEmpty(spark)
    if (rdds.isEmpty && !entries) None
    else Some(s"${c.name}: RDDs ${rdds.toSeq.sorted}, cache entries left: $entries")
  }

  /** Iterative calls without a driver tail, in the shape of a tail case:
   * only randomized contraction reads the threshold. */
  private val iterativeCases: Seq[TailCase] = Seq(
    TailCase("shortestPaths", Nil, (g, _) => g.shortestPaths.landmarks(Seq("a")).run()),
    TailCase("bfs", Nil,
      (g, _) => g.bfs.fromExpr(col("id") === "a").toExpr(col("id") === "zz").run()),
    TailCase("triangleCount", Nil, (g, _) => g.triangleCount.run()),
    TailCase("kTruss", Nil, (g, _) => g.kTruss.run()),
    TailCase("randomized contraction", Nil,
      (g, t) => g.connectedComponents.setAlgorithm("randomized_contraction")
        .setSmallGraphThreshold(t).run()),
    TailCase("pregel", Nil,
      (g, _) => g.pregel
        .withVertexColumn("hops", lit(0L), coalesce(lib.Pregel.msg, col("hops")))
        .sendMsgToDst(lib.Pregel.src("hops") + 1L)
        .aggMsgs(max(lib.Pregel.msg))
        .setMaxIter(3)
        .run()))

  // Every distributed iterative body releases everything it pinned when a
  // job fails mid-iteration: round cuts, kept results of earlier rounds
  // and side frames, not only the gate's pin. The failure sits in one
  // edge's dst, so it fires in the first job that reads that edge, after
  // the body has cut or pinned its first frames.
  for (c <- tailCases ++ iterativeCases)
    test(s"${c.name} releases its iteration frames when a round throws") {
      val leak = leftAfterDstError(c, "round failure")
      assert(leak.isEmpty, s"left frames pinned after a failed round: $leak")
    }

  // r15 (ADVICE item): hostRank's host-edge pin is operator-internal —
  // the result must be self-contained on BOTH PageRank paths (the local
  // tail's join-back used to reference the cached edges, pinning a
  // crawl-sized frame until session cache clear)
  test("hostRank does not leak its internal edge pin") {
    val pages = spark.createDataFrame((0 until 30).map { i =>
      (i.toLong, s"http://h${i % 3}.com/p$i",
        s"""<a href="http://h${(i + 1) % 3}.com/x">a</a>""")
    }).toDF("id", "url", "html")
    assertNoLeak(pipeline.Web.hostRank(pages, "id", "url", "html", maxIter = 3))
  }
}
