package graftbench

import java.io.File

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Self-tests of the benchmark itself:
 * `graftbench.SelfTest --out DIR`, exit code 0 when all pass.
 *  - the same seed gives identical inputs, another seed different ones;
 *  - the checksum ignores row order and partitioning, and sees a change;
 *  - interval, busy-time and self-time arithmetic. */
object SelfTest {
  private var failures = 0

  private def expect(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val out = new File(args.sliding(2).collectFirst { case Array("--out", d) => d }.getOrElse("."))
    out.mkdirs()
    arithmetic()
    val spark = Main.session(out)
    import spark.implicits._

    // checksum: order- and partitioning-independent, sensitive to a change
    val rows = (0 until 500).map(i => (i.toLong, s"s$i", i * 0.1, Map(i -> s"m$i"), Seq(i, -i)))
    val df = rows.toDF("a", "b", "c", "d", "e")
    val base = Checksum.of(df)
    val shuffled = Checksum.of(df.repartition(7).orderBy(rand(3)))
    expect(base.matches(shuffled), s"checksum ignores order and partitioning ($base)")
    expect(!base.matches(Checksum.of(df.withColumn("b", when(col("a") === 7, "x").otherwise(col("b"))))),
      "checksum sees one changed string")
    expect(!base.matches(Checksum.of(df.withColumn("c", when(col("a") === 7, 99.0).otherwise(col("c"))))),
      "checksum sees one changed double")
    expect(!base.matches(Checksum.of(df.limit(499))), "checksum sees a missing row")

    // inputs: a pure function of the seed
    Workloads.all.foreach { w =>
      def digest(seed: Int): Seq[Checksum] = {
        val p = w.prepare(spark, seed, NoTrace)
        try p.cached.map { case (_, d) => Checksum.of(d) } finally p.unpersist()
      }
      val (a, b, c) = (digest(11), digest(11), digest(12))
      expect(a.zip(b).forall { case (x, y) => x.matches(y) }, s"${w.name}: seed 11 twice gives identical inputs")
      expect(!a.zip(c).forall { case (x, y) => x.matches(y) }, s"${w.name}: seeds 11 and 12 give different inputs")
    }
    spark.stop()
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  def arithmetic(): Unit = {
    expect(Intervals.covered(Seq((10L, 30L), (20L, 50L), (60L, 70L), (65L, 66L), (80L, 80L))) == 50,
      "interval union")
    // root [0,100] with children [10,30], [30,50], [60,70]; grandchild [62,68]
    def span(id: Int, parent: Int, layer: String, s: Long, e: Long) =
      Span(id, parent, layer, "x", 1, s, e, s, e, Counters.Zero, 0)
    val spans = Seq(span(0, -1, "bench", 0, 100), span(1, 0, "lib", 10, 30),
      span(2, 0, "lib", 30, 50), span(3, 0, "pipeline", 60, 70), span(4, 3, "lib", 62, 68))
    val self = Rollup.selfNs(spans)
    expect(self == Map(0 -> 50L, 1 -> 20L, 2 -> 20L, 3 -> 4L, 4 -> 6L), s"self time per span $self")
    val layers = Rollup.byLayer(spans)
    expect(layers("lib") == ((3, 46L, 46L)) && layers("bench") == ((1, 100L, 50L)) &&
      layers("pipeline") == ((1, 10L, 4L)), s"self time per layer $layers")
    expect(layers.values.map(_._3).sum == 100, "self times add up to the root span")

    val ledger = new Ledger
    ledger.onJobStart(SparkListenerJobStart(1, 100, Nil))
    ledger.onJobStart(SparkListenerJobStart(2, 150, Nil))
    ledger.onJobEnd(SparkListenerJobEnd(1, 200, JobSucceeded))
    ledger.onJobEnd(SparkListenerJobEnd(2, 250, JobSucceeded))
    ledger.onJobStart(SparkListenerJobStart(3, 300, Nil))
    expect(ledger.busyMs(0, 400) == 250 && ledger.busyMs(120, 320) == 150 && ledger.counters.jobs == 3,
      "busy time from job intervals")
  }
}
