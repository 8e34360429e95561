package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}

/** What a body did on the SparkContext, seen by a SparkListener: the Spark
 * jobs it ran (counted by job group) and the driver-tail decisions its
 * gates posted. */
trait SparkEvents { self: TestBase =>

  case class Observed[T](result: T, jobs: Int, decisions: Seq[lib.TailDecision])

  /** Runs `body` in a fresh job group, then one marker job in another:
   * listener events arrive in order, so once the marker is seen every
   * earlier job and decision has been recorded. The body must consume its
   * result, or lazy frames run no job. */
  def observed[T](body: => T): Observed[T] = {
    val sc = spark.sparkContext
    val group = s"spark-events-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val decisions = new ConcurrentLinkedQueue[lib.TailDecision]()
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case g if g == group + "-marker" => marker.countDown()
          case _ =>
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case d: lib.TailDecision => decisions.add(d)
        case _ =>
      }
    }
    def inGroup[A](g: String)(a: => A): A = {
      sc.setJobGroup(g, g)
      try a finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      val result = inGroup(group)(body)
      inGroup(group + "-marker")(spark.range(1).count())
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      Observed(result, jobs.get(), decisions.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
