package graft.lib

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.GraphFrame

/**
 * SVD++ collaborative filtering on a bipartite user→item rating graph
 * (role of reference lib/SVDPlusPlus.scala:95-257). Delegates the gradient
 * loop to the public Spark GraphX implementation over the surrogate Long
 * ids (the reference runs its vendored fork; ours bridges to stock
 * GraphX — SURVEY §7 divergence note), then joins the learned factors
 * back onto the original vertices.
 *
 * Returns vertices + `q, p: array<double>` (latent factors), `bias,
 * norm_deviation: double`; the training loss is exposed via [[lastLoss]].
 */
class SVDPlusPlus(g: GraphFrame) {
  import GraphFrame.{ID, LONG_ID, LONG_SRC, LONG_DST, ATTR, WEIGHT}

  private var rank: Int = 10
  private var maxIterV: Int = 5
  private var minValue: Double = 0.0
  private var maxValue: Double = 5.0
  private var gamma1 = 0.007; private var gamma2 = 0.007
  private var gamma6 = 0.005; private var gamma7 = 0.015

  def setRank(r: Int): this.type = { rank = r; this }
  def maxIter(n: Int): this.type = { maxIterV = n; this }
  def setMinValue(v: Double): this.type = { minValue = v; this }
  def setMaxValue(v: Double): this.type = { maxValue = v; this }

  /** Training loss (final-state Σ err²). After [[runDeterministic]] the
   * value is computed LAZILY on first access — the extra full edge pass is
   * ~1/(maxIter+1) of total runtime and most callers never read it. Access
   * it before releasing the result frame. */
  def lastLoss: Double = {
    if (lossCache.isEmpty) lossCache = Some(lossEval())
    lossCache.get
  }
  @volatile private var lossCache: Option[Double] = Some(Double.NaN)
  @volatile private var lossEval: () => Double = () => Double.NaN

  /** Deterministic DataFrame SVD++ on a BIPARTITE user→item rating graph —
   * same model as [[run]] (Koren's SVD++: `pred = μ + b_u + b_i +
   * q_i · (p_u + |N(u)|^-½ Σ_{j∈N(u)} y_j)`, clamped to [min,max]) with
   * two deliberate differences that make it oracle-replayable where the
   * stock-GraphX delegate is not (reference lib/SVDPlusPlus.scala:95-257
   * inherits GraphX's unseeded `Random.nextDouble` factor init):
   *
   *  - factor init is an md5 hash of (tag, original id, k) — deterministic
   *    under retries, AQE, and re-runs, and replayable in ANSI SQL;
   *    biases start at (vertex mean rating − μ), norms at deg^-½;
   *  - updates are synchronous whole-epoch gradient steps (per-vertex sums
   *    of per-edge gradients, regularization applied once per incident
   *    edge): b += γ1(Σerr − deg·γ6·b); p_u += γ2(Σ err·q_i − deg·γ7·p_u);
   *    q_i += γ2(Σ err·z_u − deg·γ7·q_i); y_i += γ2(Σ err·norm_u·q_i −
   *    deg·γ7·y_i), where z_u = p_u + norm_u·s_u.
   *
   * Scale: per epoch, one fixed-width (id, k, v) shuffle per aggregated
   * vector — edges carry rank doubles, never text; vertex state frames are
   * one row per vertex and persist across epochs. Returns one row per
   * vertex: (id, q, p, y, bias, norm_deviation) — q/y null for users,
   * p/norm null for items. Training loss (final-state Σerr²) in [[lastLoss]].
   */
  def runDeterministic(): DataFrame = IterationManager.scoped(g.spark) { mgr =>
    import GraphFrame.{SRC, DST}
    require(g.edges.columns.contains(WEIGHT), "svdPlusPlus: edges need a 'weight' column")
    // ids keep their original type end-to-end; only the md5 init hashes
    // their string form (concat_ws casts)
    val e = mgr.persistLazy(g.edges.select(col(SRC).as("u"), col(DST).as("i"),
        col(WEIGHT).cast("double").as("r")))
    val mu = e.agg(avg("r")).head().getDouble(0)
    val g1 = gamma1; val g2 = gamma2; val g6 = gamma6; val g7 = gamma7
    // hash init in [0, 0.1): first 16 md5 bits of "tag|id|k" / 65536 * 0.1
    def hinit(tag: String, id: Column, k: Column): Column =
      conv(substring(md5(concat_ws("|", lit(tag), id, k.cast("string"))), 1, 4), 16, 10)
        .cast("double") / 65536.0 * 0.1
    def hvec(tag: String, id: Column): Column =
      transform(sequence(lit(0), lit(rank - 1)), k => hinit(tag, id, k))
    // elementwise array-sum aggregation: rank is statically known, so one
    // hash aggregate with `rank` sum columns (map-side partials, a single
    // shuffle) replaces the posexplode → (key,k) agg → re-pack double
    // shuffle; rows stay fixed-width (rank doubles per key)
    def vecSum(df: DataFrame, key: String, arr: String): DataFrame = {
      val sums = (0 until rank).map(k => sum(col(arr).getItem(k)).as(s"_s$k"))
      df.groupBy(key).agg(sums.head, sums.tail: _*)
        .select(col(key), array((0 until rank).map(k => col(s"_s$k")): _*).as(arr))
    }
    var users = mgr.persistLazy(e.groupBy("u").agg(count(lit(1)).as("du"), avg("r").as("ar"))
      .select(col("u"), col("du"), (col("ar") - mu).as("bu"),
        (lit(1.0) / sqrt(col("du"))).as("nu"), hvec("p", col("u")).as("p")))
    var items = mgr.persistLazy(e.groupBy("i").agg(count(lit(1)).as("di"), avg("r").as("ar"))
      .select(col("i"), col("di"), (col("ar") - mu).as("bi"),
        hvec("q", col("i")).as("q"), hvec("y", col("i")).as("y")))
    def edgeErr(us: DataFrame, it: DataFrame): DataFrame = {
      // r14 join restructure: the edge frame is the only corpus-sized
      // side, so shuffle IT as few times as possible. ONE e⋈items
      // subtree feeds both the s_u aggregation and the error rows (the
      // two occurrences are plan-identical, so the by-i exchange is
      // REUSED), and users⋈su pre-joins the two per-user frames (tiny,
      // one row per user each) before meeting the edges — the edge frame
      // crosses an exchange twice (by i, by u) where the old
      // e⋈users⋈items⋈su spelling paid three (by u, by i, by u again).
      // Pure inner-join reordering: every per-row operand is unchanged.
      val ei = e.join(it, "i")
      val su = vecSum(ei, "u", "y").withColumnRenamed("y", "su")
      ei.join(us.join(su, "u"), "u")
        .withColumn("z", zip_with(col("p"), col("su"), (p, s) => p + col("nu") * s))
        .withColumn("pred", least(greatest(
          lit(mu) + col("bu") + col("bi") +
            aggregate(zip_with(col("q"), col("z"), (a, b) => a * b),
              lit(0.0), (acc, x) => acc + x),
          lit(minValue)), lit(maxValue)))
        .withColumn("err", col("r") - col("pred"))
    }
    for (_ <- 1 to maxIterV) {
      // r14: persist only the columns the two gradient aggregations read
      // (u, i, err, q, z, nu) — the full edgeErr row also carries r, p,
      // su, pred and both bias columns, which doubled the cached bytes
      // and the scan feeding each epoch's two shuffles for no consumer
      val t = mgr.persistLazy(edgeErr(users, items)
        .select(col("u"), col("i"), col("err"), col("q"), col("z"), col("nu")))
      // ONE hash aggregation per vertex side: the scalar Σerr and every
      // per-lane vector sum ride the same shuffle as sibling sum columns
      // (this replaces one scalar agg + one/two vecSum aggs per side — five
      // shuffles and five scans of t down to two)
      val uSums = sum(col("err")).as("se") +:
        (0 until rank).map(k => sum(col("q").getItem(k) * col("err")).as(s"_eq$k"))
      val uAgg = t.groupBy("u").agg(uSums.head, uSums.tail: _*)
        .select(col("u"), col("se"),
          array((0 until rank).map(k => col(s"_eq$k")): _*).as("eq"))
      val newUsers = users.join(uAgg, "u")
        .select(col("u"), col("du"),
          (col("bu") + (col("se") - col("du") * g6 * col("bu")) * g1).as("bu"),
          col("nu"),
          zip_with(col("p"), col("eq"),
            (p, s) => p + (s - col("du") * g7 * p) * g2).as("p"))
      val iSums = sum(col("err")).as("se") +:
        ((0 until rank).map(k => sum(col("z").getItem(k) * col("err")).as(s"_ez$k")) ++
          (0 until rank).map(k => sum(col("q").getItem(k) * col("err") * col("nu")).as(s"_ey$k")))
      val iAgg = t.groupBy("i").agg(iSums.head, iSums.tail: _*)
        .select(col("i"), col("se"),
          array((0 until rank).map(k => col(s"_ez$k")): _*).as("ez"),
          array((0 until rank).map(k => col(s"_ey$k")): _*).as("ey"))
      val newItems = items.join(iAgg, "i")
        .select(col("i"), col("di"),
          (col("bi") + (col("se") - col("di") * g6 * col("bi")) * g1).as("bi"),
          zip_with(col("q"), col("ez"),
            (q, s) => q + (s - col("di") * g7 * q) * g2).as("q"),
          zip_with(col("y"), col("ey"),
            (y, s) => y + (s - col("di") * g7 * y) * g2).as("y"))
      // a kept cut BOTH truncates the lineage (the epoch plan tree
      // otherwise compounds ~10x per epoch — a 5-epoch run OOMs the driver
      // on plan nodes alone) and materializes, so the epoch inputs can be
      // dropped immediately. r14: the two cuts are INDEPENDENT given the
      // persisted t — materialize them as two concurrent jobs (guide-§2.6
      // overlap: the item job back-fills the user job's straggler tail
      // instead of waiting it out; results are value-deterministic, so
      // overlap cannot change them)
      val (cu, ci) = {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val fu = Future(mgr.keep(newUsers))
        val fi = Future(mgr.keep(newItems))
        // await BOTH before propagating the first failure: a sibling job
        // still running could keep a cut after the scope has closed
        val ru = scala.util.Try(Await.result(fu, Duration.Inf))
        val ri = scala.util.Try(Await.result(fi, Duration.Inf))
        (ru.get, ri.get)
      }
      users.unpersist(false); items.unpersist(false); t.unpersist(false)
      // superseded epochs' checkpoint BLOCKS live outside the CacheManager
      // (Dataset.unpersist can't free them) — release them eagerly or the
      // loop holds two vertex-sized frames per epoch until the scope ends
      IterationManager.release(users); IterationManager.release(items)
      users = cu; items = ci
    }
    // the final cuts are handed out as they are (finishing a kept frame
    // makes no new cut)
    val Seq(fu, fi) = mgr.finishAll(Seq(users, items))
    // loss = one more full edge pass over the FINAL state — deferred to
    // first lastLoss access (the final users/items are lineage-cut and
    // self-contained; e recomputes from the source edges once released)
    lossCache = None
    lossEval = () => edgeErr(fu, fi)
      .agg(sum(col("err") * col("err"))).head().getDouble(0)
    fu.select(col("u").as(ID), lit(null).cast("array<double>").as("q"),
        col("p"), lit(null).cast("array<double>").as("y"),
        col("bu").as("bias"), col("nu").as("norm_deviation"))
      .unionByName(fi.select(col("i").as(ID), col("q"),
        lit(null).cast("array<double>").as("p"), col("y"),
        col("bi").as("bias"), lit(null).cast("double").as("norm_deviation")))
  }

  def run(): DataFrame = {
    require(g.edges.columns.contains(WEIGHT), "svdPlusPlus: edges need a 'weight' column")
    val conf = new org.apache.spark.graphx.lib.SVDPlusPlus.Conf(
      rank, maxIterV, minValue, maxValue, gamma1, gamma2, gamma6, gamma7)
    val edgeRdd = g.indexedEdges
      .select(col(LONG_SRC), col(LONG_DST), col(s"$ATTR.$WEIGHT").cast("double"))
      .rdd.map(r => org.apache.spark.graphx.Edge(r.getLong(0), r.getLong(1), r.getDouble(2)))
    val (model, loss) = org.apache.spark.graphx.lib.SVDPlusPlus.run(edgeRdd, conf)
    lossCache = Some(loss)
    val spark = g.spark
    import spark.implicits._
    val factors = model.vertices
      .map { case (vid, (q, p, bias, norm)) => (vid, q.toSeq, p.toSeq, bias, norm) }
      .toDF(LONG_ID, "q", "p", "bias", "norm_deviation")
    g.indexedVertices.select(col(LONG_ID), col(ID))
      .join(factors, LONG_ID)
      .drop(LONG_ID)
      .join(g.vertices, Seq(ID), "right_outer")
  }
}
