package graftbench

import scala.io.Source
import scala.util.Using

/** Minimal JSON writer for the result line and the run artifacts. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case r: Raw => r.s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(String.valueOf(other))
  }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))
}

/** Host steal time and load average from /proc, read at the start and the
 * end of a run. A run on a contended host is marked, not dropped. */
final case class HostStamp(nanos: Long, stealJiffies: Long, load1: Double)

object HostStamp {
  def read(): HostStamp = {
    val steal = Using(Source.fromFile("/proc/stat")) { src =>
      // fields: cpu user nice system idle iowait irq softirq steal
      src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+")(8).toLong
    }.getOrElse(-1L)
    val load = Using(Source.fromFile("/proc/loadavg")) { src =>
      src.getLines().next().split("\\s+")(0).toDouble
    }.getOrElse(-1.0)
    HostStamp(System.nanoTime(), steal, load)
  }

  /** Average steal over the run in cores (jiffies are 1/100 s). */
  def stealCores(a: HostStamp, b: HostStamp): Double =
    if (a.stealJiffies < 0 || b.stealJiffies < 0) -1.0
    else (b.stealJiffies - a.stealJiffies) * 0.01 / ((b.nanos - a.nanos) / 1e9)

  /** Steal above a fifth of a core, or a load average above the run's own
   * cores plus two, means other work shared the host. */
  def contended(a: HostStamp, b: HostStamp): Boolean =
    stealCores(a, b) > 0.2 || b.load1 > Runtime.getRuntime.availableProcessors() + 2

  def describe(a: HostStamp, b: HostStamp): String =
    f"host steal ${stealCores(a, b)}%.2f cores, load ${a.load1}%.2f -> ${b.load1}%.2f" +
      (if (contended(a, b)) " CONTENDED" else "")
}

/** Per-layer metrics of a traced run, named `<layer>.<call>.<metric>`. */
object Report {
  /** Every call any workload makes; a workload reports 0 for the others. */
  val Calls: Seq[String] = Seq(
    "sources.rmat", "graphframe.fromEdges",
    "lib.connectedComponents", "lib.pageRank", "lib.labelPropagation",
    "lib.kCore", "lib.louvain", "lib.articulationPoints",
    "lib.neighborhoodFunction", "pattern.find",
    "pipeline.minhashLsh", "pipeline.nearDupClusters", "pipeline.ngramJaccard",
    "pipeline.simhash", "pipeline.minhashIndex", "pipeline.incrementalNearDups",
    "expressions.minhashSignature")

  val CallMetrics: Seq[(String, String, Span => Double)] = Seq(
    ("wall_ms", "ms", _.wallMs),
    ("jobs", "count", _.delta.jobs.toDouble),
    ("driver_ms", "ms", _.driverMs),
    ("task_cpu_ms", "ms", _.delta.cpuNs / 1e6),
    ("shuffle_write_mb", "MB", _.delta.shuffleWriteBytes / 1048576.0))

  /** Call metrics are summed over a pass (or a set-up) and reported as the
   * median over the traced warm passes (over the set-ups for set-up calls). */
  def perLayer(spans: Seq[Span], evictions: Int, pinnedAfter: Int): Seq[(String, Double, String)] = {
    val tracedWarm = spans.filter(_.pass >= 1)
    val setups = spans.filter(s => s.layer == "bench" && s.call == "setup").map(_.id).toSet
    // a set-up call belongs to the set-up span that encloses it
    val byId = spans.map(s => s.id -> s).toMap
    def setupOf(s: Span): Int = {
      var p = byId.get(s.parent)
      while (p.isDefined && !setups(p.get.id)) p = byId.get(p.get.parent)
      p.map(_.id).getOrElse(-1)
    }
    def groups(name: String): Seq[Seq[Span]] = {
      val own = spans.filter(_.name == name)
      val inSetup = own.filter(_.pass < 0)
      if (inSetup.nonEmpty) inSetup.groupBy(setupOf).values.toSeq
      else {
        val passes = tracedWarm.map(_.pass).distinct
        passes.map(p => own.filter(_.pass == p))
      }
    }
    val perCall = Calls.flatMap { name =>
      val gs = groups(name).filter(_.nonEmpty)
      CallMetrics.map { case (m, u, f) =>
        val v = if (gs.isEmpty) 0.0 else Main.median(gs.map(_.map(f).sum))
        (s"$name.$m", v, u)
      }
    }
    val passSpans = tracedWarm.filter(s => s.layer == "bench" && s.call == "pass")
    def passMedian(f: Span => Double) = Main.median(passSpans.map(f))
    perCall ++ Seq(
      ("spark.jobs", passMedian(_.delta.jobs.toDouble), "count"),
      ("spark.tasks", passMedian(_.delta.tasks.toDouble), "count"),
      ("spark.gc_ms", passMedian(_.delta.gcMs.toDouble), "ms"),
      ("spark.pinned_rdds_after", pinnedAfter.toDouble, "count"),
      ("lib.input_evictions", evictions.toDouble, "count"))
  }

  def spanJson(runId: String, s: Span): String = Json.obj(
    "run_id" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "pass" -> s.pass,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_ms" -> s.wallMs,
    "jobs" -> s.delta.jobs, "tasks" -> s.delta.tasks, "driver_ms" -> s.driverMs,
    "task_cpu_ms" -> s.delta.cpuNs / 1e6, "shuffle_write_mb" -> s.delta.shuffleWriteBytes / 1048576.0,
    "gc_ms" -> s.delta.gcMs).s

  def rollupJson(runId: String, spans: Seq[Span], overheadMs: Double): String = {
    val layers = Rollup.byLayer(spans).toSeq.sortBy(-_._2._3).map { case (l, (n, incl, self)) =>
      Json.obj("layer" -> l, "spans" -> n, "inclusive_ms" -> incl / 1e6, "self_ms" -> self / 1e6)
    }
    Json.obj("run_id" -> runId, "tracing_overhead_ms" -> overheadMs, "layers" -> layers).s
  }
}
