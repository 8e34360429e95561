package graft.rw

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.GraphFrame
import graft.expressions.KMinSampling
import graft.lib.IterationManager

/**
 * Batched random walks with restart (role of reference
 * rw/RandomWalkWithRestart.scala:18-86 + rw/RandomWalkBase.scala:28-417).
 *
 * Deliberate divergence from the reference: every random choice is
 * `xxhash64(...)`-derived instead of `rand()` — walks are deterministic
 * for a (seed, walk, step) triple, safe under task retries and AQE
 * re-planning (the reference documents that hazard at
 * RandomWalkBase.scala:322-325).
 *
 * Scale: neighbor lists are pre-sampled to at most `maxNeighbors` per
 * vertex with the O(k)-memory [[KMinSampling]] aggregator (hub vertices
 * never materialize their full adjacency), cached once, and each step is
 * one join frontier↔samples.
 */
class RandomWalks(g: GraphFrame) {
  import GraphFrame.{ID, SRC, DST}

  private var walkLength: Int = 5
  private var walksPerVertex: Int = 1
  private var restartProb: Double = 0.0
  private var maxNeighbors: Int = 64
  private var seedV: Long = 42L
  private var hashModeV: String = "xxhash64"
  private var batchSizeV: Option[Int] = None
  private var numBatchesV: Option[Int] = None
  private var tmpPrefixV: Option[String] = None
  private var runIdV: String = java.util.UUID.randomUUID().toString
  private var startBatchV: Int = 1

  private var returnParamV: Double = 1.0
  private var inOutParamV: Double = 1.0

  def setWalkLength(n: Int): this.type = { walkLength = n; this }
  def setWalksPerVertex(n: Int): this.type = { walksPerVertex = n; this }
  def setRestartProbability(p: Double): this.type = { restartProb = p; this }
  def setMaxNeighborsPerVertex(n: Int): this.type = { maxNeighbors = n; this }
  def setSeed(s: Long): this.type = { seedV = s; this }

  // --- node2vec bias (Grover & Leskovec, KDD'16 §3.2) -----------------
  /** node2vec return parameter p: candidate == previous vertex weighs
   * 1/p. Defaults 1.0 (with `q`) = exactly the unbiased walk — the
   * unbiased path (single join per step) is kept when both are 1. Picks
   * stay deterministic: the threshold draw is hash-derived, and with
   * power-of-two p/q every prefix sum is a dyadic rational, so an
   * external SQL replay is bit-exact. */
  def setReturnParam(p: Double): this.type = {
    require(p > 0, s"returnParam must be > 0: $p"); returnParamV = p; this
  }
  /** node2vec in-out parameter q: candidates NOT adjacent to the previous
   * vertex weigh 1/q (adjacent ones weigh 1). See [[setReturnParam]]. */
  def setInOutParam(q: Double): this.type = {
    require(q > 0, s"inOutParam must be > 0: $q"); inOutParamV = q; this
  }

  private var weightColV: Option[String] = None
  /** Edge-weight-biased transitions (engine extension): each step picks
   * the next neighbor with probability proportional to this edge column
   * (parallel edges SUM their weights). Composes multiplicatively with
   * the node2vec p/q bias. Null or negative weights fail eagerly; an
   * all-zero-weight neighborhood deterministically picks the last
   * sampled neighbor (the cumulative scan's clamp — stated, not
   * hidden). With integer weights and the md5 hash mode, every prefix
   * sum is exact in double, so an external SQL replay is bit-exact —
   * the same dyadic-exactness contract as the p/q bias. */
  def setWeightCol(c: String): this.type = { weightColV = Some(c); this }

  // --- batched, resumable execution (reference RandomWalkBase.scala:28-417:
  // per-batch state persisted as parquet under a run-scoped prefix, so a
  // multi-day walk over a 100 TB graph survives driver loss and resumes
  // from the last completed batch instead of restarting) ----------------
  /** Steps advanced per persisted batch (with [[setNumBatches]]; total
   * walk length becomes batchSize * numBatches). */
  def setBatchSize(n: Int): this.type = {
    require(n >= 1, s"batchSize must be >= 1: $n"); batchSizeV = Some(n); this
  }
  def setNumBatches(n: Int): this.type = {
    require(n >= 1, s"numBatches must be >= 1: $n"); numBatchesV = Some(n); this
  }
  /** Directory (any Hadoop-visible FS) under which per-batch state is
   * written as `<prefix>/<runId>_batch_<i>`; enables resume + cleanUp. */
  def setTemporaryPrefix(p: String): this.type = { tmpPrefixV = Some(p); this }
  /** This run's id — pass a previous run's id (with
   * [[setStartingFromBatch]]) to resume its persisted batches. */
  def getRunId: String = runIdV
  def setRunId(id: String): this.type = { runIdV = id; this }
  /** First batch to EXECUTE; batches before it are read back from the
   * persisted state of `startingFromBatch - 1`. Because every draw is
   * hash-derived from (walk, step, seed), a resumed run reproduces the
   * uninterrupted run bit-for-bit — stronger than the reference's rand()
   * batches, which only match in distribution. */
  def setStartingFromBatch(b: Int): this.type = {
    require(b >= 1, s"startingFromBatch must be >= 1: $b"); startBatchV = b; this
  }

  private def batchPath(b: Int): String = s"${tmpPrefixV.get}/${runIdV}_batch_$b"

  /** Delete every persisted batch of this run. */
  def cleanUp(): Unit = tmpPrefixV.foreach { _ =>
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    (1 to numBatchesV.getOrElse(1)).foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(batchPath(b)), true)
    }
  }
  /** "xxhash64" (default, fastest) or "md5" — md5-derived draws reproduce
   * in engines without xxhash64 (e.g. DuckDB), enabling exact cross-engine
   * oracles; same determinism guarantees either way. */
  def setHashMode(m: String): this.type = {
    require(m == "xxhash64" || m == "md5", s"unknown hash mode $m")
    hashModeV = m; this
  }

  /** 60-bit positive long from the leading 15 hex chars of md5. */
  private def md5Long(cols: Column*): Column =
    conv(substring(md5(concat_ws("|", cols: _*)), 1, 15), 16, 10).cast("long")

  /** One row per walk: (walk_id: string, random_walk: array<idType>). */
  def run(): DataFrame = IterationManager.scoped(g.spark) { mgr =>
    val idIsLong = g.vertices.schema(ID).dataType ==
      org.apache.spark.sql.types.LongType
    val sampler =
      if (idIsLong) KMinSampling.sampleLong(maxNeighbors)
      else KMinSampling.sampleString(maxNeighbors)

    // bounded, deterministic neighbor sample per vertex
    val edgeW =
      if (hashModeV == "md5")
        md5Long(col(SRC).cast("string"), col(DST).cast("string"), lit(seedV))
      else xxhash64(col(SRC), col(DST), lit(seedV))
    val nbrsBase = g.edges
      .select(col(SRC), col(DST), edgeW.as("_w"))
      .groupBy(col(SRC).as("_rw_v"))
      .agg(sampler(col("_w"), if (idIsLong) col(DST) else col(DST).cast("string"))
        .as("_rw_nbrs"))
    // weighted mode: align a weights array to the sampled neighbor order
    // (posexplode → per-(v, nbr) summed edge weight → re-sort by position)
    val nbrs = mgr.persistLazy((weightColV match {
      case None => nbrsBase
      case Some(wc) =>
        val wcol = col(graft.GraphFrame.quoteName(wc)).cast("double")
        require(g.edges.filter(wcol.isNull || wcol < 0).isEmpty,
          s"randomWalks weightCol '$wc' must be non-null and >= 0 on every edge")
        val ew = g.edges
          .groupBy(col(SRC).as("_rw_v"),
            (if (idIsLong) col(DST) else col(DST).cast("string")).as("_nb"))
          .agg(sum(wcol).as("_ew"))
        nbrsBase
          .select(col("_rw_v"), posexplode(col("_rw_nbrs")).as(Seq("_pos", "_nb")))
          .join(ew, Seq("_rw_v", "_nb"), "left")
          .groupBy("_rw_v")
          .agg(array_sort(collect_list(struct(col("_pos"), col("_nb"), col("_ew"))))
            .as("_ps"))
          .select(col("_rw_v"),
            transform(col("_ps"), x => x.getField("_nb")).as("_rw_nbrs"),
            transform(col("_ps"), x => coalesce(x.getField("_ew"), lit(0.0)))
              .as("_rw_wts"))
    })
      .repartition(col("_rw_v")))

    val (numBatches, batchSize) = (numBatchesV, batchSizeV) match {
      case (Some(n), Some(b)) => (n, b)
      case (None, None) => (1, walkLength)
      case _ => throw new IllegalArgumentException(
        "setBatchSize and setNumBatches must be set together")
    }
    require(startBatchV == 1 || tmpPrefixV.nonEmpty,
      "setStartingFromBatch needs setTemporaryPrefix (state is read from its batches)")

    // n2v needs the PREVIOUS vertex in state (one extra neighbor join per
    // step); pure weighted bias reads the aligned weights array off the
    // already-joined neighbor frame — no prev tracking, no second join
    val n2v = returnParamV != 1.0 || inOutParamV != 1.0
    val biased = n2v || weightColV.isDefined
    val idType = g.vertices.schema(ID).dataType
    // state: (walk_id, origin, cur, path[, prev — node2vec mode only])
    var state =
      if (startBatchV > 1) spark.read.parquet(batchPath(startBatchV - 1))
      else {
        val base = g.vertices.select(col(ID)).crossJoin(
            spark.range(walksPerVertex).select(col("id").as("_rw_k")))
          .select(
            concat(col(ID).cast("string"), lit("#"), col("_rw_k")).as("walk_id"),
            col(ID).as("_rw_origin"), col(ID).as("_rw_cur"),
            array(col(ID)).as("random_walk"))
        if (n2v) base.withColumn("_rw_prev", lit(null).cast(idType)) else base
      }
    state = mgr.cycle(state, 0)

    def advanceStep(step: Int): Unit = {
      val joined0 = state.join(nbrs, col("_rw_cur") === col("_rw_v"), "left_outer")
      val h =
        if (hashModeV == "md5")
          pmod(md5Long(col("walk_id"), lit(step), lit(seedV)), lit(1000000L))
        else pmod(xxhash64(col("walk_id"), lit(step), lit(seedV)), lit(1000000L))
      val restart = h < lit((restartProb * 1000000L).toLong)
      val nbrCount = size(col("_rw_nbrs"))
      // 16 bits of md5 (parity with the strpos-nibble arithmetic an
      // external SQL oracle can compute) or xxhash64, as a draw in
      // [0, 65536) — modded for the uniform pick, /65536 for the biased
      // threshold scan
      val draw16 =
        if (hashModeV == "md5")
          conv(substring(md5(concat_ws("|",
            col("walk_id"), lit(step), lit(seedV + 1))), 1, 4), 16, 10).cast("long")
        else pmod(xxhash64(col("walk_id"), lit(step), lit(seedV + 1)), lit(65536L))
      if (!biased) {
        val pickIdx = pmod(draw16, nbrCount.cast("long"))
        val pick = element_at(col("_rw_nbrs"), (pickIdx + 1).cast("int"))
        val next = when(restart, col("_rw_origin"))
          .when(col("_rw_nbrs").isNull || nbrCount === 0, lit(null))
          .otherwise(pick)
        val stepped = joined0.select(
          col("walk_id"), col("_rw_origin"),
          next.as("_rw_cur"),
          when(next.isNull, col("random_walk"))
            .otherwise(array_append(col("random_walk"), next)).as("random_walk"))
        state = mgr.cycle(stepped, step)
      } else {
        // node2vec: weight each sampled candidate by its distance from the
        // PREVIOUS vertex — 1/p for returning, 1 for prev-adjacent, 1/q
        // otherwise (adjacency relative to prev's own bounded sample, the
        // contract an external replay can state). Two O(fanout) HOF
        // passes, both whole-stage-codegen: total weight, then a
        // cumulative threshold scan for the pick.
        val pn = nbrs.select(col("_rw_v").as("_rw_pv"), col("_rw_nbrs").as("_rw_pnbrs"))
        val joined =
          if (n2v) joined0.join(pn, col("_rw_prev") === col("_rw_pv"), "left_outer")
          else joined0
        def n2vBias(x: Column): Column =
          when(col("_rw_prev").isNull, lit(1.0))
            .when(x === col("_rw_prev"), lit(1.0 / returnParamV))
            .when(array_contains(col("_rw_pnbrs"), x), lit(1.0))
            .otherwise(lit(1.0 / inOutParamV))
        val weights = (weightColV, n2v) match {
          case (None, _) => transform(col("_rw_nbrs"), n2vBias(_))
          case (Some(_), false) => col("_rw_wts")
          case (Some(_), true) =>
            zip_with(col("_rw_nbrs"), col("_rw_wts"), (x, w) => n2vBias(x) * w)
        }
        val total = aggregate(weights, lit(0.0), (acc, x) => acc + x)
        val target = (draw16.cast("double") / lit(65536.0)) * total
        val zero = struct(lit(0.0).as("cum"), lit(0).as("idx"), lit(-1).as("pick"))
        val folded = aggregate(weights, zero, (acc, x) => struct(
          (acc.getField("cum") + x).as("cum"),
          (acc.getField("idx") + 1).as("idx"),
          when(acc.getField("pick") >= 1, acc.getField("pick"))
            .when(acc.getField("cum") + x > target, acc.getField("idx") + 1)
            .otherwise(-1).as("pick")))
        // u < 1 keeps the scan inside the array; the clamp only guards
        // float round-up at the very last prefix
        val pickPos = least(when(folded.getField("pick") >= 1,
          folded.getField("pick")).otherwise(nbrCount), nbrCount)
        val pick = element_at(col("_rw_nbrs"), pickPos.cast("int"))
        val next = when(restart, col("_rw_origin"))
          .when(col("_rw_nbrs").isNull || nbrCount === 0, lit(null))
          .otherwise(pick)
        val outCols = Seq(
          col("walk_id"), col("_rw_origin"),
          next.as("_rw_cur"),
          when(next.isNull, col("random_walk"))
            .otherwise(array_append(col("random_walk"), next)).as("random_walk")) ++
          (if (n2v) Seq(when(restart || next.isNull, lit(null).cast(idType))
            .otherwise(col("_rw_cur")).as("_rw_prev")) else Nil)
        val stepped = joined.select(outCols: _*)
        state = mgr.cycle(stepped, step)
      }
    }

    for (batch <- startBatchV to numBatches) {
      for (stepInBatch <- 1 to batchSize)
        advanceStep((batch - 1) * batchSize + stepInBatch)
      // batch boundary: state goes to the FS and the plan restarts from the
      // parquet — the durability cut that makes the run resumable
      if (tmpPrefixV.nonEmpty) {
        state.write.mode("overwrite").parquet(batchPath(batch))
        state = spark.read.parquet(batchPath(batch))
      }
    }
    mgr.finish(state.select(col("walk_id"), col("random_walk")))
  }

  private def spark = g.spark
}
