package graft.lib

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.storage.StorageLevel

/**
 * Driver-side memory/lineage manager for iterative DataFrame algorithms.
 *
 * Every iterative operator has the same three problems (reference
 * re-implements this queue five times, e.g. lib/Pregel.scala:392-545,
 * lib/AggregateNeighbors.scala:307-412):
 *  1. the logical plan grows per iteration and eventually hangs the driver
 *     → cut lineage with `localCheckpoint`/`checkpoint` every
 *     `checkpointInterval` rounds;
 *  2. each round re-reads the previous round's frame → persist it;
 *  3. persisted frames from two rounds ago leak memory → unpersist once a
 *     newer round has been materialized.
 *
 * Usage: a distributed body runs inside
 * `IterationManager.scoped(spark, dir, interval, level) { mgr => ... }`,
 * which releases every frame the manager tracks when the body returns or
 * throws. Per round, `df = mgr.cycle(df, round)` persists the frame (and
 * cuts its lineage every `interval` rounds); the frame from the previous
 * cycle is unpersisted only after the new one is materialized, so
 * recomputation never cascades. A frame that later rounds or the result
 * re-read after the queue has moved on goes through `mgr.keep`; side
 * frames through `mgr.persistOnly` / `mgr.persistLazy`; a second
 * loop-carried frame gets its own queue from `mgr.sub`. The body hands
 * its result out through `mgr.finish`, which cuts it self-contained and
 * then frees everything else. Fixed-step loops hand the whole loop to
 * [[IterationManager.chained]].
 */
private[graft] object IterationManager {
  /** Rounds [[IterationManager.chained]] chains lazily per lineage cut.
   * Each cut then pays ONE job + plan compile for this many rounds. The
   * state frame is referenced up to twice per round, so the logical tree
   * holds up to 2^k copies of the previous cut's constant-size leaf:
   * bounded per cut, unlike the round-8 lazy-persist experiment (the
   * NOTE on cadence in the class), and k = 4 measured WORSE than 2 on the
   * 25-vertex gate fixtures (AQE schedules extra stage-jobs and plan
   * compile grows with the tree; bench notes r13 §1). */
  val RoundsPerCut = 2
  // Hits and Eigenvector check their overflow guard every 8th round on
  // the frame of a cut, so every 8th round must end a chunk
  require(8 % RoundsPerCut == 0, "RoundsPerCut must divide the 8-round guard cadence")

  /** (scheme, normalized path) of a dir given as a plain path or a URI;
   * plain paths get scheme "file" so `/x` and `file:/x` compare equal. */
  private def uriParts(s: String): (String, String) =
    try {
      val u = new java.net.URI(s)
      val path = Option(u.getPath).filter(_.nonEmpty).getOrElse(s)
      (Option(u.getScheme).getOrElse("file"), path.stripSuffix("/"))
    } catch { case _: Exception => ("file", s.stripSuffix("/")) }

  /** Build a manager honoring an optional reliable-checkpoint directory:
   * when set, lineage cuts go through `df.checkpoint()` into the cluster
   * filesystem (surviving executor loss — a 100-round iteration resumes
   * from the last cut instead of restarting), at the cost of FS writes;
   * when unset, the default `localCheckpoint` keeps blocks in executor
   * storage (fastest, but executor loss restarts the iteration).
   * NOTE: Spark's checkpoint directory is session-global — the last
   * algorithm to set one wins for concurrent runs (set only when it
   * actually differs to avoid churn). Checkpoint files are NOT deleted on
   * [[IterationManager.close]]: `ReliableRDDCheckpointData` cleanup only
   * runs when `spark.cleaner.referenceTracking.cleanCheckpoints=true` is
   * set at context creation; otherwise callers own the directory and
   * should prune it between runs. */
  def withReliableDir(spark: org.apache.spark.sql.SparkSession,
      dir: Option[String], checkpointInterval: Int = 2,
      storageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK): IterationManager = {
    // session-wide opt-in to reliable cuts (spark.graft.useLocalCheckpoints
    // = false, parity with reference GraphFramesConf.scala:9-19): algorithms
    // without an explicit dir checkpoint into the context's checkpoint dir
    val effective = dir.orElse {
      if (graft.GraftConf.useLocalCheckpoints.contains(false))
        Some(spark.sparkContext.getCheckpointDir.getOrElse(throw new java.io.IOException(
          s"${graft.GraftConf.UseLocalCheckpointsKey}=false requires " +
            "SparkContext.setCheckpointDir (reliable checkpoints need a cluster-visible dir)")))
      else None
    }
    effective match {
      case Some(d) =>
        // Spark appends a /<uuid> component under the requested dir and
        // reports it back as a URI (file:/..., hdfs://...), so "already
        // set here" = same scheme AND exact path match or a direct
        // path-component child ("/ckpt/a" must NOT match "/ckpt/ab-uuid")
        val (dScheme, dPath) = uriParts(d)
        val alreadySet = spark.sparkContext.getCheckpointDir.exists { p =>
          val (pScheme, pPath) = uriParts(p)
          pScheme == dScheme && (pPath == dPath || pPath.startsWith(dPath + "/"))
        }
        if (!alreadySet) spark.sparkContext.setCheckpointDir(d)
        new IterationManager(checkpointInterval, storageLevel, useLocalCheckpoint = false)
      case None => new IterationManager(checkpointInterval, storageLevel)
    }
  }

  /** Runs `body` with a manager built as [[withReliableDir]] builds one
   * and closes the manager when the body returns or throws, so every
   * frame it tracks is released on the error path too. A body hands a
   * frame that reads tracked state out through [[finish]] (or
   * [[finishAll]]), which has closed the manager already. */
  def scoped[T](spark: org.apache.spark.sql.SparkSession, dir: Option[String] = None,
      checkpointInterval: Int = 2,
      storageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK)(
      body: IterationManager => T): T = {
    val mgr = withReliableDir(spark, dir, checkpointInterval, storageLevel)
    try body(mgr) finally mgr.close()
  }

  /** The chained-round loop of the fixed-step iterative operators, run
   * inside [[scoped]] (so it honors `spark.graft.useLocalCheckpoints`):
   * cut `init`, then apply `step(state, r)` for rounds r = 1 to
   * `maxRounds`, chaining [[RoundsPerCut]] rounds lazily per lineage cut
   * (the last chunk is clamped to `maxRounds`). Each cut observes
   * `observe(r)` on its own job (a plain cut when empty), where r is the
   * round the chunk ended on; `after(cut, r, values)` then returns the
   * state to continue from (the cut, or a rescaled projection of it) or
   * None to stop at the cut. Returns `finish(result(state))`; when any
   * round, cut or the result throws, every tracked frame is released
   * before the exception propagates. Observed values arrive as doubles,
   * 0.0 for a null (an empty frame's aggregate). */
  def chained(init: DataFrame, maxRounds: Int,
      observe: Int => Seq[Column] = _ => Nil,
      after: (DataFrame, Int, Seq[Double]) => Option[DataFrame] = (s, _, _) => Some(s),
      result: DataFrame => DataFrame = identity)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    scoped(init.sparkSession) { mgr =>
      var state = mgr.cycleAt(init, 0, force = true)
      var round = 0
      var cut = 0
      var going = true
      while (going && round < maxRounds) {
        val last = math.min(round + RoundsPerCut, maxRounds)
        var cur = state
        for (r <- round + 1 to last) cur = step(cur, r)
        round = last
        cut += 1
        val metrics = observe(round)
        val (next, values) =
          if (metrics.isEmpty) (mgr.cycleAt(cur, cut, force = true), Nil)
          else mgr.cycleObserved(cur, cut, metrics)
        after(next, round, values.map {
          case n: java.lang.Number => n.doubleValue()
          case _ => 0.0
        }) match {
          case Some(s) => state = s
          case None => state = next; going = false
        }
      }
      mgr.finish(result(state))
    }

  /** Eagerly free the block-manager storage behind a frame returned from
   * [[IterationManager.finish]] (its `LogicalRDD` blocks). Call only when
   * the frame's data is no longer needed — it cannot be recomputed. */
  def release(df: DataFrame): Unit = {
    val live = df.sparkSession.sparkContext.getPersistentRDDs
    org.apache.spark.sql.graftshim.GraftShims.logicalRddIds(df)
      .foreach(id => live.get(id).foreach(_.unpersist(false)))
  }
}

private[graft] class IterationManager(
    checkpointInterval: Int = 2,
    storageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK,
    useLocalCheckpoint: Boolean = true) {

  /** A tracked round frame plus the ids of any RDDs its lineage cut
   * persisted at the RDD level. `Dataset.unpersist` only talks to the
   * CacheManager, and a localCheckpoint'ed frame is persisted by the
   * block manager directly (never registered there) — so without the id
   * list every cut would leak one RDD of full iteration state until the
   * ContextCleaner's GC-driven sweep got around to it (the reference
   * guards this with ConnectedComponentsSuite.scala:311 "not leaking
   * cached data").
   *
   * `viaDatasetPersist` records HOW the frame was pinned. A cut frame was
   * never `Dataset.persist`ed — calling `df.unpersist` on it anyway is not
   * a harmless no-op: `uncacheQuery` drops every cache entry whose plan is
   * `sameResult` with the cut's `LogicalRDD`, and a caller's final result
   * that happens to be a no-op projection of the last round's state (e.g.
   * fixed-iteration PageRank, where no voting column is dropped)
   * canonicalizes to exactly that plan. Freeing the cut then silently
   * uncached the caller's materialized result AND deleted the checkpoint
   * blocks it would recompute from — CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on
   * the next action (the round-6 g_pagerank/g_cycles/g_lpa/g_scc outage). */
  private case class Entry(df: DataFrame, rddIds: Seq[Int], viaDatasetPersist: Boolean)
  private val persisted = mutable.Queue.empty[Entry]
  private val sideFrames = mutable.ArrayBuffer.empty[DataFrame]
  private val kept = mutable.ArrayBuffer.empty[DataFrame]
  private val subs = mutable.ArrayBuffer.empty[IterationManager]

  // NOTE on cadence (round-8 experiment, kept for the record): stretching
  // the cut interval when the state frame is tiny — "skip eager cuts,
  // persist lazily, let the next action compute through" — was built and
  // MEASURED WORSE, badly: 5-round HITS went 3.2 s → 73 s at an 8x
  // stretch and 9.3 s at 2x. An iterative round references the previous
  // state more than once (self-joins), so every lazy (un-materialized)
  // round DOUBLES the logical tree the analyzer walks — 4^rounds subplan
  // copies for HITS's two-self-join rounds. Eager cuts are precisely what
  // keep analysis linear; the per-cut job (~0.4 s at local[16] scheduler
  // floor) is the cheap part. Small-graph latency is instead handled
  // where it belongs: bounded driver-side tails in the algorithms
  // themselves, all behind the one LocalTail gate, measured 2-6x on the
  // nations graphs.

  private def free(e: Entry): Unit = {
    if (e.viaDatasetPersist) e.df.unpersist(false)
    if (e.rddIds.nonEmpty) {
      val live = e.df.sparkSession.sparkContext.getPersistentRDDs
      e.rddIds.foreach(id => live.get(id).foreach(_.unpersist(false)))
    }
  }

  /** [[cycle]] with convergence or normalization metrics FUSED into the
   * materializing job: observes each aggregate (e.g.
   * `count(when(improved, 1))`, an L2 norm, a sup-norm) via
   * `Dataset.observe` so the cut's own action reports it, and returns
   * their values in order (null where the frame was empty). The caller's
   * follow-up `count()`/`isEmpty` job, historically HALF the per-round
   * job count of the small iterative operators, disappears. Always cuts
   * (the metrics must be backed by a completed action or
   * `Observation.get` blocks). Eager `localCheckpoint`/`checkpoint` run
   * through `Dataset.withAction`, which fires the SQL-execution events
   * observations listen on — probed on Spark 4.1 before relying on it
   * here. */
  def cycleObserved(df: DataFrame, round: Int,
      metrics: Seq[Column]): (DataFrame, Seq[Any]) =
    observed(df, metrics)(cycleAt(_, round, force = true))

  /** [[keep]] with metrics observed on the cut's own job, as
   * [[cycleObserved]] does for [[cycle]]. */
  def keepObserved(df: DataFrame, metrics: Seq[Column]): (DataFrame, Seq[Any]) =
    observed(df, metrics)(keep)

  private def observed(df: DataFrame, metrics: Seq[Column])(
      materialize: DataFrame => DataFrame): (DataFrame, Seq[Any]) = {
    require(metrics.nonEmpty, "an observed cut needs at least one metric")
    val obs = org.apache.spark.sql.Observation("graft_cut_" + java.util.UUID.randomUUID())
    val named = metrics.zipWithIndex.map { case (m, i) => m.as(s"_m$i") }
    val c = materialize(df.observe(obs, named.head, named.tail: _*))
    val got = obs.get
    (c, metrics.indices.map(i => got(s"_m$i")))
  }

  /** Persist + (on checkpoint rounds) truncate lineage and materialize.
   * Non-checkpoint rounds persist lazily — the next materializing action
   * computes through (and caches) them, so each `checkpointInterval`
   * window costs ONE job instead of one per round. Older caches are only
   * dropped once a newer frame has actually been materialized. */
  def cycle(df: DataFrame, round: Int): DataFrame =
    cycleAt(df, round, force = false)

  private def cycleAt(df: DataFrame, round: Int, force: Boolean): DataFrame = {
    val doCheckpoint = force ||
      (checkpointInterval > 0 && round % checkpointInterval == 0)
    if (doCheckpoint) {
      // localCheckpoint(eager=true) truncates lineage into executor block
      // storage; `reliable` checkpoint needs a checkpoint dir and spills
      // to the cluster FS — slower but survives executor loss. The
      // pre-checkpoint cache only exists so the checkpoint job computes
      // the frame once; drop it as soon as the files are written or every
      // cut leaks one cached copy of the full iteration state.
      val sc = df.sparkSession.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val c = cut(df)
      // RDDs persisted by this cut (and any lazy prior-round caches the
      // cut's job happened to materialize — double-freeing those later is
      // a no-op); ids, not references, so dropped entries don't pin
      // lineage objects
      val added = (sc.getPersistentRDDs.keySet -- before).toSeq
      persisted.enqueue(Entry(c, added, viaDatasetPersist = false))
      // everything older than this materialized frame is now safe to drop
      while (persisted.size > 1) free(persisted.dequeue())
      c
    } else {
      val p = df.persist(storageLevel)
      persisted.enqueue(Entry(p, Nil, viaDatasetPersist = true))
      if (checkpointInterval <= 0) {
        // checkpointing disabled: materialize every round (plan keeps
        // growing — caller opted out of lineage cuts)
        p.count()
        while (persisted.size > 1) free(persisted.dequeue())
      }
      p
    }
  }

  /** Cut `df` self-contained now (an eager `localCheckpoint`, or a
   * reliable checkpoint under a reliable dir) and keep its blocks until
   * [[finish]] or [[close]], which free them with
   * [[IterationManager.release]] only after the result has been cut. For
   * frames that later rounds or the result re-read after the [[cycle]]
   * queue has moved past them: per-round winners, color classes, levels.
   *
   * Why a cut and not a persist: such a frame's plan reads the evolving
   * round state, and a later cycle's `Dataset.unpersist` of a lazy round
   * entry re-compiles every dependent CacheManager entry. A persisted
   * frame would drop its built data there and rebuild at [[finish]]
   * through cut blocks the queue had already freed
   * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND: the round-6 and round-12 crash
   * class, seen on ≥ 3-round graphs). A cut lives outside the
   * CacheManager and reads only its own blocks. */
  def keep(df: DataFrame): DataFrame = {
    val c = cut(df)
    // two concurrent jobs may keep their cuts at once
    kept.synchronized(kept += c)
    c
  }

  /** A manager for a second loop-carried frame (its own [[cycle]] queue),
   * built like this one and closed with it at the latest. A body may
   * close it earlier, e.g. at the end of the outer round it served. */
  def sub(interval: Int = checkpointInterval): IterationManager = {
    val m = new IterationManager(interval, storageLevel, useLocalCheckpoint)
    subs += m
    m
  }

  /** Materialize + persist without lineage truncation (for side frames);
   * tracked and released by [[close]]. */
  def persistOnly(df: DataFrame): DataFrame = {
    val p = persistLazy(df)
    p.count()
    p
  }

  /** Persist WITHOUT materializing: the side frame's first consumer job
   * computes and caches it (one job saved vs [[persistOnly]] — the right
   * call when the first consumer runs immediately anyway); tracked and
   * released by [[close]]. */
  def persistLazy(df: DataFrame): DataFrame = {
    val p = df.persist(storageLevel)
    sideFrames += p
    p
  }

  /** Materialize a final result SELF-CONTAINED, then drop every tracked
   * cache — the only safe way to hand a frame out of an iteration.
   *
   * Why `persist + count + close` is NOT safe: the result is usually a
   * projection (often a no-op or rename-only one) of the last round's
   * state, and such plans canonicalize `sameResult` with the state frame
   * itself — so [[close]]'s `Dataset.unpersist` on the state entry
   * silently removes the RESULT's cache entry too, and the later
   * recompute dies on the checkpoint blocks [[close]] freed
   * (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND; the round-6 outage across every
   * fixed-iteration algorithm). A lineage cut has no such alias: the
   * returned frame reads only its own blocks, immune to any CacheManager
   * bookkeeping, and [[close]] can then free the whole queue.
   *
   * The result's blocks live outside the CacheManager; `Dataset.unpersist`
   * on it is a no-op. They are reclaimed when the frame is GC'd
   * (ContextCleaner), or eagerly via [[IterationManager.release]]. */
  def finish(df: DataFrame): DataFrame = finishAll(Seq(df)).head

  /** [[finish]] for callers with SEVERAL results over the same iteration
   * state (e.g. bridges + articulation points from one BFS forest): every
   * frame is cut/materialized BEFORE the single close, so no result's
   * lineage can reach into blocks the close frees. A frame from [[keep]]
   * is a cut already and is handed out as it is, no longer tracked. */
  def finishAll(dfs: Seq[DataFrame]): Seq[DataFrame] = {
    // a kept frame is a cut already: it is handed out as it is
    val rs = dfs.map(df => kept.indexWhere(_ eq df) match {
      case -1 => cut(df)
      case i => kept.remove(i)
    })
    close()
    rs
  }

  /** An eager lineage cut: `localCheckpoint`, or a reliable `checkpoint`
   * when the manager has a reliable dir. */
  private def cut(df: DataFrame): DataFrame =
    if (useLocalCheckpoint) df.localCheckpoint(true)
    else {
      val p = df.persist(storageLevel)
      try p.checkpoint(true) finally p.unpersist(false)
    }

  /** Drop every cache still held, including the RDD blocks behind lineage
   * cuts and [[keep]]s. A result must be cut BEFORE closing (see
   * [[finish]]): a frame whose lineage reaches into the freed blocks
   * cannot be recomputed after. Kept cuts are freed with
   * [[IterationManager.release]], side frames with `Dataset.unpersist`:
   * `release` on a side frame would unpin every `LogicalRDD` its plan
   * reads, live round cuts included. */
  def close(): Unit = {
    persisted.dequeueAll(_ => true).foreach(free)
    sideFrames.foreach(_.unpersist(false))
    sideFrames.clear()
    kept.foreach(IterationManager.release)
    kept.clear()
    subs.foreach(_.close())
    subs.clear()
  }
}
