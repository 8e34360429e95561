package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Cross-partitioning determinism: the same inputs must produce
 * bit-identical results under different shuffle-partition counts and AQE
 * settings. This is the failure class behind the round-6 outage
 * (surrogate ids derived from `monotonically_increasing_id` drifted with
 * AQE's runtime partition coalescing) — each algorithm here is run under
 * three session shapes and compared exactly. */
class DeterminismSpec extends AnyFunSuite with BeforeAndAfterAll {

  private def withSession[T](partitions: Int, aqe: Boolean)(f: SparkSession => T): T = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"graft-determinism-$partitions-$aqe")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try f(spark) finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  override def afterAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  // fixed pseudo-random graph over STRING ids (the surrogate-id path the
  // round-6 regression hit) — built deterministically per session
  private def results(spark: SparkSession): Map[String, Any] = {
    import spark.implicits._
    val rng = new scala.util.Random(19)
    val n = 60
    val edges = (1 to 150).map { _ =>
      (s"v${rng.nextInt(n)}", s"v${rng.nextInt(n)}")
    }.distinct
    val v = (0 until n).map(i => s"v$i").toDF("id").repartition(5)
    val e = edges.toDF("src", "dst").repartition(7)
    val g = GraphFrame(v, e)

    val cc = g.connectedComponents.run()
      .select("id", "component").as[(String, Long)].collect().toMap
    val pr = g.pageRank.maxIter(5).run().vertices
      .select(col("id"), round(col("pagerank"), 9)).as[(String, Double)]
      .collect().toMap
    val sp = g.shortestPaths.landmarks(Seq[Any]("v0", "v1")).run()
      .select(col("id"), element_at(col("distances"), "v0"),
        element_at(col("distances"), "v1"))
      .collect().map(r => r.getString(0) ->
        ((Option(r.get(1)), Option(r.get(2))))).toMap
    val kc = g.kCore.run().select("id", "kcore")
      .as[(String, Int)].collect().toMap

    val docs = (1L to 80L).map(i =>
      (i, (0 until 12).map(_ => s"w${rng.nextInt(9)}").mkString(" ")))
      .toDF("doc_id", "text").repartition(6)
    val lsh = pipeline.Dedup.minhashLsh(docs, "doc_id", "text")
      .select("a", "b").as[(Long, Long)].collect().toSet
    val seg = pipeline.Dedup.segmentDedup(docs, "doc_id", "text",
        windowWords = 3, maxDupCount = 2)
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap

    // round-9 surfaces: weighted walks (md5 draws + aligned weight
    // arrays) and the sampled landmark estimators over the surrogate path
    val gw = GraphFrame(v, e.withColumn("w",
      (length(col("src")) * 3 + length(col("dst")) * 7).cast("double")))
    val ww = gw.randomWalks.setWalkLength(4).setWalksPerVertex(1)
      .setHashMode("md5").setSeed(5L).setWeightCol("w").run()
      .select(col("walk_id"), concat_ws(",", col("random_walk")))
      .as[(String, String)].collect().toMap
    val cls = g.closeness.sampleSources(7).run()
      .select(col("id"), round(col("closeness"), 9), round(col("harmonic"), 9))
      .collect().map(r => r.getString(0) -> ((r.get(1), r.get(2)))).toMap

    // third-session surfaces: MSF (distributed Borůvka — threshold 0
    // forces it; the key order must make the same unique forest under any
    // partitioning), eigenvector (distributed fixed-round sums, rounded),
    // edge betweenness (DAG joins), mutual-kNN edges + label spreading
    // (md5 seed draw + mode ties), funnel/cohort (exact integer
    // analytics)
    val msf = gw.minimumSpanningForest.weightCol("w")
      .setSmallGraphThreshold(0).run()
      .select("src", "dst", "weight").as[(String, String, Double)]
      .collect().toSet
    val ev = g.eigenvector.maxIter(6).setSmallGraphThreshold(0).run()
      .select(col("id"), round(col("eigenvector"), 9))
      .as[(String, Double)].collect().toMap
    val ebt = g.betweenness.setSmallGraphThreshold(0).runEdges()
      .select(col("src"), col("dst"), round(col("edge_betweenness"), 9))
      .as[(String, String, Double)].collect().toSet
    val emb = (0L until 40L).map(i =>
      (i, Seq.tabulate(6)(d => ((i * 13 + d * 5) % 17).toFloat), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label").repartition(5)
    val kg = pipeline.Similarity.knnGraph(emb, "vec_id", "embedding", k = 3)
      .as[(Long, Long)].collect().toSet
    val ls = pipeline.Similarity.labelSpread(emb, "vec_id", "embedding",
        "label", k = 3, rounds = 2, seedFraction = 0.5)
      .collect().map(r => (r.getLong(0), (String.valueOf(r.get(1)), r.getBoolean(2)))).toMap
    val evts = (1L to 300L).map { i =>
      (i % 20, Seq("view", "click", "purchase")((i % 7 % 3).toInt),
        1700000000000L + i * 977000L)
    }.toDF("user_id", "event_type", "ms")
      .select(col("user_id"), col("event_type"),
        timestamp_millis(col("ms")).as("ts")).repartition(6)
    val fn = pipeline.Events.funnel(evts, Seq("view", "click", "purchase"), 600)
      .select("step", "n_users").as[(Int, Long)].collect().toMap
    val co = pipeline.Events.cohortRetention(evts)
      .as[(Long, Long, Long)].collect().toSet

    // round-10 third-wave surfaces: the forced-distributed 2-connectivity
    // paths (BFS forest + doubling + cover marking on STRING ids — the
    // min-parent and least/greatest choices must not depend on partition
    // order), butterfly counts, containment pairs, session paths, RFM
    // ntiles, distributed SALSA (fixed per-edge weights), influence-max
    // (p = 0.25 makes every float product EXACT in binary, so the argmax
    // sequence is bit-determined), MIPS ranks and attribute assortativity
    val br = g.twoConnectivity.setSmallGraphThreshold(0).bridges()
      .as[(String, String, Boolean)].collect().toSet
    val art = g.twoConnectivity.setSmallGraphThreshold(0).articulationPoints()
      .as[(String, Boolean)].collect().toMap
    val bf = lib.Butterflies.perVertex(e, "src", "dst")
      .as[(String, Long)].collect().toMap
    val cnt = pipeline.Dedup.containmentPairs(docs, "doc_id", "text",
        n = 2, minShared = 1, threshold = 0.3)
      .select("a", "b", "shared").as[(Long, Long, Long)].collect().toSet
    val evts2 = evts.withColumn("event_id", col("user_id") * 1000 +
        (unix_millis(col("ts")) % 100000))
      .withColumn("value", (col("user_id") % 7).cast("double") * 1.5)
    val tp = pipeline.Events.topPaths(evts2, gapMinutes = 60, maxSteps = 4, k = 8)
      .as[(String, Long)].collect().toSeq
    val rf = pipeline.Events.rfm(evts2, buckets = 4)
      .select("user_id", "r", "f", "m").as[(Long, Int, Int, Int)]
      .collect().toSet
    val sal = g.salsa.maxIter(4).setSmallGraphThreshold(0).run()
      .select(col("id"), round(col("hub"), 9), round(col("authority"), 9))
      .collect().map(r => r.getString(0) -> ((r.get(1), r.get(2)))).toMap
    val inf = g.influenceMax.k(4).mode("degree").p(0.25).run()
      .select("id", "round").as[(String, Int)].collect().toSeq
    val mip = pipeline.Similarity.mipsTopK(emb, "vec_id", "embedding", k = 2)
      .as[(Long, Long, Int)].collect().toSet
    val asr = {
      val vcat = v.withColumn("cat", length(col("id")) % 3)
      GraphFrame(vcat, e).attributeAssortativity("cat")
        .select(round(col("assortativity"), 9), col("m_edges"))
        .collect().map(r => (r.get(0), r.getLong(1))).head
    }

    // round-11 surfaces: md5 negative sampling over the distributed
    // prefix sum (numeric-id graph), degree-tie clique orientation, CMS
    // counters (md5 buckets), basket top-k ties, Levenshtein block pairs,
    // Markov windows, temporal label-correcting rounds, bucketized range
    // join, exact-integer TF cosine, unique-shingle novelty, conductance
    val gNum = GraphFrame(
      v.select(expr("CAST(substr(id, 2) AS LONG)").as("id")),
      e.select(expr("CAST(substr(src, 2) AS LONG)").as("src"),
        expr("CAST(substr(dst, 2) AS LONG)").as("dst")))
    val neg = new embeddings.NegativeSampling(gNum).setK(2).setSeed(13L).run()
      .as[(Long, Long, Int)].collect().toSet
    val clq = lib.Cliques.triangles(g)
      .as[(String, String, String)].collect().toSet
    val cms = pipeline.Sketches.cmsTopK(
        docs.select(explode(pipeline.Text.tokens(col("text"))).as("t")),
        "t", k = 6, depth = 3, width = 32)
      .as[(String, Long, Long)].collect().toSeq
    val ab = pipeline.Recommend.alsoBought(
        pipeline.Recommend.coOccurrence(
          evts2.select(col("user_id"), col("event_type")), "user_id",
          "event_type", maxBasket = 10), k = 2)
      .as[(String, String, Long, Long)].collect().toSet
    val fzp = pipeline.Dedup.fuzzyPairs(docs, "doc_id", "text",
        substring(col("text"), 1, 6), maxDist = 2, maxBlock = 100)
      .as[(Long, Long, Int)].collect().toSet
    val tmx = pipeline.Events.transitionMatrix(evts2, gapMinutes = 60)
      .as[(String, String, Long, Long, Double)].collect().toSet
    val tmpArr = {
      val et = gNum.edges.withColumn("t",
        (pmod(col("src") * 3 + col("dst"), lit(4)) + 1).cast("double"))
      new lib.TemporalReachability(GraphFrame(gNum.vertices, et))
        .source(0L).timeCol("t").maxIter(20)
        .setSmallGraphThreshold(0).run() // force the distributed rounds
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) -1.0 else r.getDouble(1))).toMap
    }
    val rj = pipeline.Events.rangeJoin(
        evts2.select(col("user_id"), col("ts"), col("event_id")),
        evts2.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("iv_id"),
            col("ts").as("s"),
            timestamp_millis(unix_millis(col("ts")) + 120000).as("en")),
        Seq("user_id"), "ts", "s", "en", Seq("iv_id"), bucketMs = 60000L)
      .select(col("event_id"), col("r_iv_id"))
      .as[(Long, Long)].collect().toSet
    val tfc = pipeline.Text.tfCosinePairs(docs, "doc_id", "text",
        minCosine = 0.3, maxDocFreq = 100)
      .as[(Long, Long, Long, Double)].collect().toSet
    val nov = pipeline.Text.ngramNovelty(docs, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    val cdt = {
      val vcat = v.withColumn("cat", length(col("id")) % 3)
      GraphFrame(vcat, e).conductance("cat")
        .as[(Int, Long, Long, Long, Double)].collect().toSet
    }

    // round-12 surfaces: forced-distributed matching rounds (md5 minima
    // and weighted struct minima must not depend on partition order),
    // voronoi struct-min argmin, multi-key blocked ER dedup, DSIR
    // hashed-bigram sums, budget-select window cut, hash split + shard
    // shuffle draws
    val mmd = g.maximalMatching.seed(3L).setSmallGraphThreshold(0).run()
      .as[(String, String, Int)].collect().toSet
    val mmw = gw.maximalMatching.weightCol("w").setSmallGraphThreshold(0).run()
      .as[(String, String, Double, Int)].collect().toSet
    val vor = g.voronoi(Seq[Any]("v0", "v3"))
      .collect().map(r => r.getString(0) ->
        ((Option(r.get(1)), Option(r.get(2))))).toMap
    val fzm = pipeline.Dedup.fuzzyPairs(docs, "doc_id", "text",
        Seq(substring(col("text"), 1, 6), length(col("text")).cast("string")),
        maxDist = 2, maxBlock = 100)
      .as[(Long, Long, Int)].collect().toSet
    val dsw = pipeline.Text.dsirWeights(docs, "doc_id", "text",
        col("doc_id") % 3 === 0, buckets = 64)
      .as[(Long, Long, Double)].collect().toSet
    val bsel = pipeline.Sampling.budgetSelect(
        docs.withColumn("grpx", (length(col("text")) % 3).cast("int"))
          .withColumn("n", length(col("text"))),
        "doc_id", "grpx", "n", "n", budgetPerGroup = 200L)
      .as[(Long, Int, Int, Long, Long)].collect().toSet
    val hsp = pipeline.Sampling.hashSplit(docs, "doc_id",
        Map("a" -> 0.5, "b" -> 0.5), seed = 9L)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val shs = pipeline.Sampling.shuffleShards(docs, "doc_id", 4, seed = 9L)
      .as[(Long, Int, Long)].collect().toSet
    // forced-distributed MIS (md5 mode) — the same accumulate-winners
    // round shape as matching, pinned here after the matching cascade fix
    val misd = g.maximalIndependentSet.setHashMode("md5")
      .setSmallGraphThreshold(0).run()
      .select("id").as[String].collect().toSet
    // round-13 surfaces: the HOP-BATCHED distributed paths (fused
    // observe-counts + lazily-chained sweeps per cut) must agree with
    // themselves across partitionings, and the `tmp` pin above with the
    // driver tail (`tmp3`); IC forced-dist was previously only pinned via
    // the gate
    val tmp3 = {
      val et = gNum.edges.withColumn("t",
        (pmod(col("src") * 3 + col("dst"), lit(4)) + 1).cast("double"))
      new lib.TemporalReachability(GraphFrame(gNum.vertices, et))
        .source(0L).timeCol("t").maxIter(20).run()
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) -1.0 else r.getDouble(1))).toMap
    }
    val icd = new lib.IndependentCascade(gNum).p(0.5).hashSeed(7L)
      .setSmallGraphThreshold(0).run(Seq(0L))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap

    Map("cc" -> cc, "pr" -> pr, "sp" -> sp, "kc" -> kc,
      "lsh" -> lsh, "seg" -> seg, "ww" -> ww, "cls" -> cls,
      "msf" -> msf, "ev" -> ev, "ebt" -> ebt, "kg" -> kg, "ls" -> ls,
      "fn" -> fn, "co" -> co,
      "br" -> br, "art" -> art, "bf" -> bf, "cnt" -> cnt, "tp" -> tp,
      "rf" -> rf, "sal" -> sal, "inf" -> inf, "mip" -> mip, "asr" -> asr,
      "neg" -> neg, "clq" -> clq, "cms" -> cms, "ab" -> ab, "fzp" -> fzp,
      "tmx" -> tmx, "tmp" -> tmpArr, "rj" -> rj, "tfc" -> tfc,
      "nov" -> nov, "cdt" -> cdt,
      "mmd" -> mmd, "mmw" -> mmw, "vor" -> vor, "fzm" -> fzm,
      "dsw" -> dsw, "bsel" -> bsel, "hsp" -> hsp, "shs" -> shs,
      "misd" -> misd, "tmp3" -> tmp3, "icd" -> icd)
  }

  test("cc/pagerank/shortest-paths/kcore/lsh/segment-dedup identical across partitionings") {
    val base = withSession(4, aqe = true)(results)
    val alt1 = withSession(11, aqe = true)(results)
    val alt2 = withSession(3, aqe = false)(results)
    for (k <- base.keys) {
      assert(base(k) === alt1(k), s"$k drifted between 4-partition and 11-partition runs")
      assert(base(k) === alt2(k), s"$k drifted between AQE-on and AQE-off runs")
    }
    // hop batching must be output-invariant: the chained distributed
    // sweeps == the level-synchronous driver tail on the same fixture
    assert(base("tmp") === base("tmp3"),
      "hop-batched temporal rounds diverged from the driver tail")
  }
}
