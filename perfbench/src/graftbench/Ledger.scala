package graftbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Cumulative Spark counters; spans store the difference across their
 * boundaries. */
final case class Counters(jobs: Long, tasks: Long, cpuNs: Long,
    shuffleWriteBytes: Long, gcMs: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    cpuNs - o.cpuNs, shuffleWriteBytes - o.shuffleWriteBytes, gcMs - o.gcMs)
}

object Counters {
  val Zero: Counters = Counters(0, 0, 0, 0, 0)
}

object Intervals {
  /** Length of the union of half-open intervals. */
  def covered(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.filter { case (s, e) => s < e }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** SparkListener that counts jobs, tasks and task metrics, and keeps each
 * job's [start, end] so a span can tell how long no job was running. */
final class Ledger extends SparkListener {
  private var c = Counters.Zero
  private val running = mutable.Map.empty[Int, Long]
  private val finished = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
    running(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running.remove(e.jobId).foreach(s => finished += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1)
      else Counters(c.jobs, c.tasks + 1, c.cpuNs + m.executorCpuTime,
        c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten, c.gcMs + m.jvmGCTime)
  }

  def counters: Counters = synchronized(c)

  /** Milliseconds of [from, to] (epoch ms) during which a job was active. */
  def busyMs(from: Long, to: Long): Long = synchronized {
    val all = finished.toSeq ++ running.values.map(s => (s, to))
    Intervals.covered(all.map { case (s, e) => (math.max(s, from), math.min(e, to)) })
  }
}

/** One timed region: a harness step (layer `bench`), a public call into a
 * layer of the library, or the `spark` action that consumes its result. */
final case class Span(id: Int, parent: Int, layer: String, call: String, pass: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long,
    delta: Counters, busyMs: Long) {
  def name: String = s"$layer.$call"
  def wallMs: Double = (endNs - startNs) / 1e6
  def driverMs: Double = math.max(0.0, wallMs - busyMs)
}

/** Wraps calls in spans. The no-op tracer adds nothing to the timed path. */
trait Tracer {
  def span[T](layer: String, call: String)(body: => T): T
}

object NoTrace extends Tracer {
  def span[T](layer: String, call: String)(body: => T): T = body
}

/** Records spans while switched on; the listener is attached only then, so
 * passes with tracing off run exactly as untraced runs do. */
final class SpanTracer(spark: SparkSession) extends Tracer {
  private val sc = spark.sparkContext
  private val ledger = new Ledger
  private var on = false
  private var stack = List(-1)
  private var nextId = 0
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  var pass: Int = -1

  def enable(b: Boolean): Unit = if (b != on) {
    if (b) sc.addSparkListener(ledger) else { PerfbenchBus.drain(sc); sc.removeSparkListener(ledger) }
    on = b
  }

  def span[T](layer: String, call: String)(body: => T): T =
    if (!on) body
    else {
      PerfbenchBus.drain(sc)
      val c0 = ledger.counters
      val id = nextId
      nextId += 1
      val parent = stack.head
      stack = id :: stack
      val ms0 = System.currentTimeMillis()
      val ns0 = System.nanoTime()
      try body
      finally {
        val ns1 = System.nanoTime()
        val ms1 = System.currentTimeMillis()
        PerfbenchBus.drain(sc)
        stack = stack.tail
        spans += Span(id, parent, layer, call, pass, ns0, ns1, ms0, ms1,
          ledger.counters - c0, ledger.busyMs(ms0, ms1))
      }
    }
}

/** Per-layer roll-up of a span tree. */
object Rollup {
  /** Each span's duration minus the part of it that its children cover. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val inner = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      s.id -> (s.endNs - s.startNs - Intervals.covered(inner))
    }.toMap
  }

  /** layer -> (spans, inclusive ns, self ns). Inclusive time counts only
   * outermost spans of a layer, so nested spans are not counted twice. */
  def byLayer(spans: Seq[Span]): Map[String, (Int, Long, Long)] = {
    val self = selfNs(spans)
    val byId = spans.map(s => s.id -> s).toMap
    def nestedInSameLayer(s: Span): Boolean = {
      var p = byId.get(s.parent)
      while (p.isDefined) {
        if (p.get.layer == s.layer) return true
        p = byId.get(p.get.parent)
      }
      false
    }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      val incl = ss.filterNot(nestedInSameLayer).map(s => s.endNs - s.startNs).sum
      layer -> ((ss.size, incl, ss.map(s => self(s.id)).sum))
    }
  }
}
