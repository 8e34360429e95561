package graft

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
 * prints one JSON line. Protocol mirrors the reference's JMH setup
 * (reference benchmarks/.../LDBCBenchmarkBase.scala:26-36): one warmup
 * action to absorb JVM/codegen startup, timing excludes output I/O
 * (count() sink). Each query reports its best of an ADAPTIVE number of
 * attempts: at least SPARK_GRAFT_BENCH_REPS (default 2, raised to 3 for
 * any row above the scheduling floor), extended while the latest rep
 * still improves >10% on the prior best or the two fastest reps disagree
 * >1.3x, up to SPARK_GRAFT_BENCH_MAX_REPS (default 6). A co-tenant CPU
 * spike during one attempt then shows up as a one-off, not as a fake
 * regression (round-3 recorded 3-28x phantom slowdowns from exactly
 * that), and — the round-13 lesson — a heavyweight-codegen row whose
 * first TWO reps both ran before C2 drained the compile queue keeps
 * earning reps until the timing plateaus, so the committed artifact is
 * row-readable instead of swinging 2.5-4x between quiet sweeps. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt)
    val spark = SparkEntry.harnessSession(defaultCpus = 32)

    // hypervisor steal bookkeeping: co-tenant load inflated whole sweeps
    // 2-7x in rounds 11-12 — recording (steal jiffies / wall) makes a
    // noisy artifact self-describing instead of a mystery regression
    def stealJiffies(): Long =
      scala.util.Using(scala.io.Source.fromFile("/proc/stat")) { src =>
        val cpu = src.getLines().find(_.startsWith("cpu ")).get
          .trim.split("\\s+")
        cpu(8).toLong // field 8 = steal (USER_HZ jiffies; 100 Hz on linux)
      }.getOrElse(-1L)
    val steal0 = stealJiffies()
    val wall0 = System.nanoTime()

    // warmup: one cheap scan+shuffle+codegen pass so the first timed query
    // doesn't absorb JVM startup
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").agg(count(md5(concat_ws("", col("l_orderkey")))))
      .count()

    // a failed query must not silently inflate `total` with its elapsed
    // time — report it as failed and exclude it from the sum
    val maxReps = math.max(reps,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_REPS", "6").toInt)
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // measure plans, not residue: cached frames and leftover persisted
      // RDDs from earlier queries in the 88-query sweep contend for the
      // storage pool and skew later rows (the round-5 artifact recorded a
      // 4.5x phantom regression on p_ngram_jaccard from exactly this kind
      // of accumulated session state). Cleared before EVERY attempt, not
      // just every query, so best-of-N can't be inflated by rep 2 reading
      // rep 1's internal persists — each attempt is cold-cache, warm-JVM.
      val attempts = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
      def runOnce(): Unit = {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"BENCH FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
            false
        }
        attempts += (((System.nanoTime() - t0) / 1e9, ok))
      }
      (1 to reps).foreach(_ => runOnce())
      // Cold-JIT convergence (round-13 swing fix): in a 225-query sweep
      // the C2 compile queue is often saturated, so BOTH initial reps of
      // a codegen-heavy row can run interpreted/C1 and AGREE while slow —
      // min-of-2 then swings 2.5-4x between otherwise-quiet sweeps
      // (p_entity_resolution_multi 1.69<->6.42 s with identical code and
      // steal 0.02/0.04). Keep earning reps until the timing PLATEAUS:
      // another rep whenever the latest successful rep improved >10% on
      // the prior best (JIT still warming) or the two fastest disagree
      // >1.3x (one-off noise), with a floor of 3 reps for any row above
      // the 0.4 s scheduling floor — tiny rows can't meaningfully swing
      // and stay at `reps` so the sweep doesn't pay 100+ extra noops.
      def needMore: Boolean = {
        val ok = attempts.filter(_._2).map(_._1).sorted
        if (ok.isEmpty || attempts.size >= maxReps) false
        else if (ok.head < 0.4 && (ok.size < 2 || ok(1) <= ok.head * 1.3)) false
        else if (attempts.size < 3) true
        else {
          val improving = attempts.last match {
            case (t, true) =>
              val prior = attempts.init.filter(_._2).map(_._1)
              prior.nonEmpty && t < prior.min * 0.9
            case _ => false
          }
          improving || (ok.size >= 2 && ok(1) > ok.head * 1.3)
        }
      }
      while (needMore) runOnce()
      val okTimes = attempts.filter(_._2).map(_._1)
      // best-of must not also mask intermittent failures: a query that
      // failed SOME attempts is reported separately as flaky
      val flaky = okTimes.nonEmpty && okTimes.size < attempts.size
      (name, if (okTimes.nonEmpty) okTimes.min else -1.0, okTimes.nonEmpty, flaky)
    }
    def round(v: Double, dp: Int): String = {
      val b = BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP)
        .underlying.stripTrailingZeros
      // stripTrailingZeros can flip to scientific notation (10.000 → 1E+1)
      b.toPlainString
    }
    val failed = results.filterNot(_._3).map(_._1)
    val flaky = results.filter(_._4).map(_._1)
    val total = results.filter(_._3).map(_._2).sum
    // average co-tenant steal during the sweep, in CPU-cores (jiffies are
    // 10 ms): 0 on a quiet host; >0.5 means the totals are inflated
    val steal1 = stealJiffies()
    val stealCores =
      if (steal0 < 0 || steal1 < 0) -1.0
      else (steal1 - steal0) * 0.01 / ((System.nanoTime() - wall0) / 1e9)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val flakyJson = flaky.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Side-by-side vs the reference engine, BOTH halves re-measured in
    // round 9 (2026-08-14, FOUR interleaved fresh-JVM session pairs,
    // after the CC single-evaluation fix) with the committed harness
    // (graft.BaselineBench vs the reference core compiled from
    // /root/reference, identical JMH-style protocol — 1 warmup + 3 avg,
    // noop sink, Kryo, MEMORY_AND_DISK_SER inputs — on the same
    // 1.19M-edge long-id trade graph at sf0.1, local[16]): median-based
    // CC 0.44, SP 0.87, LPA 0.83. Recipe + per-pair raw numbers +
    // outlier discussion: tools/baseline_sidebyside.md.
    // `recorded_baseline_ratio` is that static 0.68 geomean — NOT
    // recomputed per run (refresh with graft.BaselineBench).
    //
    // subDp/supDp = decimals below/above 1 s.
    def line(subDp: Int, supDp: Int, withRatio: Boolean, compact: Boolean): String = {
      val qs = results.map { case (k, v, ok, _) =>
        "\"" + k + "\":" + (if (!ok) "-1" else round(v, if (v < 1) subDp else supDp))
      }.mkString("{", ",", "}")
      // compact variants omit an empty flaky list (absence = none) and
      // shorten sf to its basename — the driver records sf itself anyway
      val flakyPart = if (flaky.nonEmpty || !compact) s""","flaky":$flakyJson""" else ""
      val sf = if (compact) sfDir.split('/').last else sfDir
      s"""{"metric":"total","value":${round(total, 1)},"unit":"sec","queries":$qs,"failed":$failedJson$flakyPart""" +
        (if (withRatio) ""","recorded_baseline_ratio":0.68""" else "") +
        s""","steal_cores":${round(stealCores, 2)},"sf":"$sf"}"""
    }
    // The driver keeps only a ~2000-char TAIL of stdout and parses the
    // LITERAL last line as JSON. With 118+ queries even a 1-decimal
    // per-query map is ~2600 chars, so any map-bearing line loses its
    // head to the tail window (BENCH_r05..r08 all landed parsed:null).
    // Print the full map once for humans/logs, then a SHORT summary as
    // the final line — the per-query map lives in
    // tools/bench_last_run.json at full precision.
    println(line(3, 3, true, compact = false))
    val summary =
      s"""{"metric":"total","value":${round(total, 1)},"unit":"sec","n_queries":${results.size},""" +
        s""""failed":$failedJson,"flaky":$flakyJson,"recorded_baseline_ratio":0.68,""" +
        s""""steal_cores":${round(stealCores, 2)},""" +
        s""""queries_file":"tools/bench_scratch.json","sf":"${sfDir.split('/').last}"}"""
    println(summary)
    // full-precision artifact, immune to the stdout tail bound. SCRATCH
    // path on purpose: the committed artifact tools/bench_last_run.json
    // is owned exclusively by tools/runbench.sh's steal gate — a raw
    // Bench invocation (e.g. the driver's own closing run, which clobbered
    // the round-13 quiet artifact with a steal-0.14 sweep) can no longer
    // dirty it. Only a gate-clearing sweep gets promoted.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("tools/bench_scratch.json"),
      line(3, 3, true, compact = false) + "\n")
    catch { case _: Exception => () }
    spark.stop()
  }
}
