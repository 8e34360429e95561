package graft

import org.apache.spark.sql.functions._

/** Session-conf surface (spark.graft.*): defaults flow into builders,
 * explicit setters win, and the reliable-checkpoint opt-in is honored by
 * every algorithm routed through IterationManager. */
class GraftConfSpec extends TestBase {
  import spark.implicits._

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally pairs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("ccAlgorithm conf: graphframes alias resolves, graphx is rejected") {
    withConf(GraftConf.CcAlgorithmKey -> "graphframes") {
      val cc = friends.connectedComponents.run()
      assert(cc.select(countDistinct("component")).as[Long].head() == 2)
    }
    withConf(GraftConf.CcAlgorithmKey -> "graphx") {
      val e = intercept[IllegalArgumentException] { friends.connectedComponents }
      assert(e.getMessage.contains("graphx"))
    }
  }

  test("useLabelsAsComponents conf labels components with original ids") {
    withConf(GraftConf.UseLabelsAsComponentsKey -> "true") {
      val cc = friends.connectedComponents.run()
      val comps = cc.select("component").as[String].collect().toSet
      assert(comps == Set("a", "g")) // min original id per component
    }
  }

  test("explicit setter beats conf") {
    withConf(GraftConf.UseLabelsAsComponentsKey -> "true") {
      val cc = friends.connectedComponents.setUseLabelsAsComponents(false).run()
      assert(cc.schema("component").dataType.typeName == "long")
    }
  }

  test("useLocalCheckpoints=false without a checkpoint dir throws; with one, checkpoints land there") {
    // algorithms that never set an explicit dir must honor the session conf
    withConf(GraftConf.UseLocalCheckpointsKey -> "false") {
      spark.sparkContext.setCheckpointDir(null.asInstanceOf[String]) // clear
      // the rounds checkpoint; the union-find tail returns a local result
      intercept[java.io.IOException] {
        chain(6).connectedComponents.setSmallGraphThreshold(0).run()
      }
      val dir = java.nio.file.Files.createTempDirectory("graft-conf-ckpt").toString
      spark.sparkContext.setCheckpointDir(dir)
      try {
        // force past the union-find fast path so rounds actually checkpoint
        val cc = chain(6).connectedComponents.setSmallGraphThreshold(0).run()
        assert(cc.select(countDistinct("component")).as[Long].head() == 1)
        val wrote = new java.io.File(spark.sparkContext.getCheckpointDir.get
          .stripPrefix("file:")).listFiles()
        assert(wrote != null && wrote.nonEmpty, "no reliable checkpoint files written")
      } finally spark.sparkContext.setCheckpointDir(null.asInstanceOf[String])
    }
  }

  test("useLocalCheckpoints=false reaches the chained loops: hits without a checkpoint dir throws") {
    withConf(GraftConf.UseLocalCheckpointsKey -> "false") {
      spark.sparkContext.setCheckpointDir(null.asInstanceOf[String]) // clear
      intercept[java.io.IOException] {
        friends.hits.maxIter(2).setSmallGraphThreshold(0).run()
      }
    }
  }

  test("cc storage level conf: invalid name fails fast, valid name runs") {
    withConf(GraftConf.CcStorageLevelKey -> "NOT_A_LEVEL") {
      intercept[IllegalArgumentException] { friends.connectedComponents }
    }
    withConf(GraftConf.CcStorageLevelKey -> "MEMORY_AND_DISK_SER") {
      val cc = friends.connectedComponents.run()
      assert(cc.count() == 7)
    }
  }

  test("a negative small-graph threshold is rejected, not read as 'disabled'") {
    val builders: Seq[Long => Any] = Seq(
      friends.connectedComponents.setSmallGraphThreshold(_),
      friends.hits.setSmallGraphThreshold(_),
      friends.louvain.setSmallGraphThreshold(_))
    for (set <- builders) {
      val e = intercept[IllegalArgumentException] { set(-1L) }
      assert(e.getMessage.contains("-1"))
      set(0L) // 0 still disables the tail
    }
  }

  test("malformed or negative small-graph threshold confs name their key") {
    val readers: Seq[(String, () => Any)] = Seq(
      GraftConf.CcSmallGraphThresholdKey -> (() => friends.connectedComponents),
      GraftConf.LinkAnalysisSmallGraphThresholdKey -> (() => friends.pageRank))
    for ((key, build) <- readers; bad <- Seq("lots", "1e5", "-1")) {
      withConf(key -> bad) {
        val e = intercept[IllegalArgumentException] { build() }
        assert(!e.isInstanceOf[NumberFormatException], s"$key=$bad: bare $e")
        assert(e.getMessage.contains(key) && e.getMessage.contains(bad.stripPrefix("-")),
          s"$key=$bad: ${e.getMessage}")
      }
    }
  }

  test("cc checkpoint interval + small-graph threshold confs parse and run") {
    withConf(GraftConf.CcCheckpointIntervalKey -> "3",
        GraftConf.CcSmallGraphThresholdKey -> "0") {
      val cc = twoBlobs(3).connectedComponents.run()
      assert(cc.select(countDistinct("component")).as[Long].head() == 1)
    }
  }
}
