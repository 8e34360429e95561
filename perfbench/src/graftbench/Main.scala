package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.GraphFrame

/** Benchmark entry point:
 * `graftbench.Main --workload W --seed N --seconds S --trace 0|1 --out DIR`.
 *
 * One warm local Spark session per run: set the workload up several times
 * (median reported), run one cold pass, then warm passes until `seconds`
 * have been measured. Every call's result is consumed through a
 * [[Checksum]] of all its columns and released. Prints one JSON line on
 * stdout: the end-to-end metrics untraced, the per-layer metrics traced.
 * Writes run.json (and, traced, spans.jsonl and rollup.json) into DIR. */
object Main {
  val SetupReps = 3
  val MinWarmPasses = 1

  final case class Opts(workload: String, seed: Int, seconds: Int, trace: Boolean, out: File)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toInt, need("seconds").toInt,
      need("trace") == "1", new File(need("out")))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(local: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(local, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(local, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Driver heap in use after forced full collections. The pauses let
   * Spark's ContextCleaner free what the previous collection released. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workloads.byName(o.workload).getOrElse(sys.error(s"unknown workload ${o.workload}"))
    o.out.mkdirs()
    val host0 = HostStamp.read()
    val t0 = System.nanoTime()
    val spark = session(o.out)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val runId = s"${o.workload}-${o.seed}-${if (o.trace) "traced" else "untraced"}-${System.currentTimeMillis()}"
    val tracer = if (o.trace) Some(new SpanTracer(spark)) else None
    val t: Tracer = tracer.getOrElse(NoTrace)
    tracer.foreach(_.enable(true))

    // set-up: generate, persist and materialize the inputs; repeated so the
    // reported figure is a median, the last set-up is kept
    var prepared: Prepared = null
    val setupTimes = (1 to SetupReps).map { _ =>
      if (prepared != null) prepared.unpersist()
      val s0 = System.nanoTime()
      prepared = t.span("bench", "setup") { w.prepare(spark, o.seed, t) }
      (System.nanoTime() - s0) / 1e9
    }
    val calls = prepared.calls

    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    val reference = mutable.Map.empty[Int, Seq[Checksum]]
    val stillCached = mutable.Map(prepared.cached.map(_._1 -> true): _*)
    val evictions = mutable.ArrayBuffer.empty[String]
    var pinnedAfter = 0

    def fail(msg: String): Unit = {
      failed += 1
      if (errors.size < 20) errors += msg
      System.err.println(s"perfbench: FAILED $msg")
    }

    /** One pass through the call list; returns its timed seconds. */
    def runPass(p: Int): Double = {
      tracer.foreach(_.pass = p)
      var timedNs = 0L
      t.span("bench", "pass") {
        calls.zipWithIndex.foreach { case (call, i) =>
          attempted += 1
          val c0 = System.nanoTime()
          val out =
            try Right(t.span(call.layer, call.name) {
              val res = call.run()
              (res, t.span("spark", "checksum") { res.map(Checksum.of) })
            })
            catch { case e: Throwable => Left(e) }
          timedNs += System.nanoTime() - c0
          out match {
            case Left(e) => fail(s"pass $p ${call.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
            case Right((res, sums)) =>
              reference.get(i) match {
                case None => reference(i) = sums
                case Some(ref) =>
                  if (ref.size != sums.size || !ref.zip(sums).forall { case (a, b) => a.matches(b) })
                    fail(s"pass $p ${call.name}: checksum ${sums.mkString(";")} != first pass ${ref.mkString(";")}")
              }
              if (p == 0) {
                val verdict = try call.check(res) catch {
                  case e: Throwable => Some(s"oracle threw ${e.getClass.getSimpleName}: ${e.getMessage}")
                }
                verdict.foreach(m => fail(s"pass $p $m"))
              }
              val r0 = System.nanoTime()
              res.foreach(GraphFrame.release)
              timedNs += System.nanoTime() - r0
          }
          // eviction detection: is the caller's persisted input still cached?
          prepared.cached.foreach { case (name, df) =>
            if (stillCached(name) && df.storageLevel == StorageLevel.NONE) {
              stillCached(name) = false
              evictions += s"$name by ${call.name} (pass $p)"
            }
          }
          pinnedAfter = sc.getPersistentRDDs.size
        }
      }
      timedNs / 1e9
    }

    val cold = runPass(0)
    // traced runs alternate traced and untraced warm passes, so tracing
    // overhead is measured in the same run
    val warm = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val warmStart = System.nanoTime()
    def elapsed = (System.nanoTime() - warmStart) / 1e9
    // a traced run needs a traced and an untraced warm pass
    val minWarm = if (o.trace) 2 else MinWarmPasses
    while (warm.size < minWarm ||
        elapsed + 0.5 * median(warm.map(_._1).toSeq) <= o.seconds) {
      val traced = o.trace && warm.size % 2 == 0
      tracer.foreach(_.enable(traced))
      warm += ((runPass(warm.size + 1), traced))
    }
    tracer.foreach(_.enable(false))
    val host1 = HostStamp.read()
    val heapMb = retainedHeapMb()

    // the end-to-end figures come from untraced passes only
    val warmTimes = warm.filterNot(_._2).map(_._1).toSeq
    val setupS = sessionS + median(setupTimes)
    val contention = HostStamp.describe(host0, host1)
    val correct = failed == 0
    System.err.println(f"perfbench: ${o.workload} seed ${o.seed}: setup $setupS%.2f s, " +
      f"cold pass $cold%.2f s, ${warm.size} warm passes, median ${median(warmTimes)}%.2f s; " +
      s"$contention; evictions: ${if (evictions.isEmpty) "none" else evictions.mkString(", ")}")

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("cold_pass_s", cold, "s"),
        ("pass_p50_s", median(warmTimes), "s"),
        ("items_per_s", prepared.items * warmTimes.size / warmTimes.sum, "1/s"),
        ("heap_retained_mb", heapMb, "MB"),
        ("call_ok_ratio", (attempted - failed).toDouble / attempted, "ratio"))
      else Report.perLayer(tracer.get.spans.toSeq, evictions.size, pinnedAfter)
    val metricsJson = Json.obj(metrics.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }: _*)

    val runInfo = Json.obj(
      "run_id" -> runId, "workload" -> o.workload, "seed" -> o.seed, "traced" -> o.trace,
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "items" -> prepared.items, "session_s" -> sessionS, "setup_s" -> setupTimes,
      "cold_pass_s" -> cold, "warm_passes" -> warm.map(p => Json.obj("s" -> p._1, "traced" -> p._2)).toSeq,
      "evictions" -> evictions.toSeq, "pinned_rdds_after" -> pinnedAfter,
      "host" -> contention, "contended" -> HostStamp.contended(host0, host1),
      "checksums" -> reference.toSeq.sortBy(_._1).map { case (i, s) =>
        Json.obj("call" -> calls(i).name, "frames" -> s.map(_.json)) },
      "metrics" -> metricsJson)
    write(new File(o.out, "run.json"), runInfo.s)
    tracer.foreach { tr =>
      val spans = tr.spans.toSeq
      write(new File(o.out, "spans.jsonl"), spans.map(Report.spanJson(runId, _)).mkString("\n"))
      val tracedWarm = warm.filter(_._2).map(_._1).toSeq
      write(new File(o.out, "rollup.json"), Report.rollupJson(runId, spans,
        (median(tracedWarm) - median(warmTimes)) * 1000))
    }

    prepared.unpersist()
    spark.stop()
    println(Json.obj("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metricsJson))
    System.out.flush()
  }

  def write(f: File, s: String): Unit = Files.write(f.toPath, (s + "\n").getBytes(UTF_8))
}
