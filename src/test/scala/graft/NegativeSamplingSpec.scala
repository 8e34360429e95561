package graft

import org.apache.spark.sql.functions._

/** Negative sampling of non-edges for embedding training (embeddings.NegativeSampling). */
class NegativeSamplingSpec extends TestBase {
  import spark.implicits._

  test("negativeSamples returns only non-edges, k per vertex, deterministic") {
    val g = chain(8) // 0->1->...->7
    val out = new embeddings.NegativeSampling(g).setK(2).setSeed(7L).run()
      .select(col("src").cast("long"), col("dst").cast("long"), col("draw"))
      .as[(Long, Long, Int)].collect()
    val edges = (0L until 7L).flatMap(i => Seq((i, i + 1), (i + 1, i))).toSet
    assert(out.nonEmpty)
    out.foreach { case (s, d, _) =>
      assert(s != d)
      assert(!edges.contains((s, d)), s"sampled a true edge: $s -> $d")
    }
    assert(out.groupBy(_._1).values.forall(_.length <= 2))
    val again = new embeddings.NegativeSampling(g).setK(2).setSeed(7L).run()
      .select(col("src").cast("long"), col("dst").cast("long"), col("draw"))
      .as[(Long, Long, Int)].collect()
    assert(out.sorted.toSeq == again.sorted.toSeq)
  }

  test("negativeSamples directed mode rejects only the existing direction") {
    val g = chain(3) // edges 0->1, 1->2
    val out = new embeddings.NegativeSampling(g).setK(5).setCandidates(40)
      .setUndirected(false).setSeed(1L).run()
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(!out.contains((0L, 1L)) && !out.contains((1L, 2L)))
    // reverse directions are legal negatives in directed mode
    assert(out.contains((1L, 0L)) || out.contains((2L, 1L)) || out.contains((2L, 0L)))
  }

  test("negativeSamples requires numeric ids") {
    intercept[IllegalArgumentException] {
      new embeddings.NegativeSampling(friends).run()
    }
  }
}
