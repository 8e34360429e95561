package graft

import org.apache.spark.sql.functions._

/** Sampling and splitting operators of pipeline.Sampling: budget prefixes,
 * hash splits, shard shuffles, group quantiles and quantile cuts. */
class SamplingSpec extends TestBase {
  import spark.implicits._

  test("budgetSelect keeps the in-budget prefix per group") {
    val rows = Seq((1L, "a", 5L), (2L, "a", 4L), (3L, "a", 3L),
      (4L, "b", 100L), (5L, "b", 1L)).toDF("id", "grp", "toks")
    val got = pipeline.Sampling.budgetSelect(rows, "id", "grp", "toks",
        "toks", budgetPerGroup = 9L)
      .as[(Long, String, Long, Long, Long)].collect().toSet
    // group a: 5 (cum 5), 4 (cum 9) kept; 3 (cum 12) cut.
    // group b: 100 over budget at rank 1 -> prefix empty (1L never
    // reconsidered: prefix-cut, not skip-and-continue)
    assert(got == Set((1L, "a", 5L, 1L, 5L), (2L, "a", 4L, 2L, 9L)),
      got.toString)
  }

  test("hashSplit covers every row and is stable under corpus growth") {
    val fr = Map("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val s1 = pipeline.Sampling.hashSplit((1L to 200L).toDF("id"), "id", fr)
      .as[(Long, String)].collect().toMap
    assert(s1.size == 200 &&
      s1.values.toSet.subsetOf(Set("train", "val", "test")))
    val s2 = pipeline.Sampling.hashSplit((1L to 400L).toDF("id"), "id", fr)
      .as[(Long, String)].collect().toMap
    // doubling the corpus must not move any existing row between splits
    assert((1L to 200L).forall(i => s2(i) == s1(i)), "growth moved rows")
    val train = s2.values.count(_ == "train")
    assert(train > 400 * 0.7 && train < 400 * 0.9, s"train=$train")
    intercept[IllegalArgumentException] {
      pipeline.Sampling.hashSplit((1L to 5L).toDF("id"), "id", Map("a" -> 0.5))
    }
  }

  test("shuffleShards is a complete, deterministic permutation per shard") {
    val ids = (1L to 100L).toDF("id")
    val s1 = pipeline.Sampling.shuffleShards(ids, "id", numShards = 4)
      .as[(Long, Int, Long)].collect()
    assert(s1.length == 100 && s1.map(_._1).distinct.length == 100)
    // per shard: positions are exactly 0..size-1
    s1.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length).toSeq,
        s"shard $shard positions not contiguous")
    }
    // deterministic across runs; different seed permutes differently
    val s2 = pipeline.Sampling.shuffleShards(ids, "id", numShards = 4)
      .as[(Long, Int, Long)].collect()
    assert(s1.sortBy(_._1).toSeq == s2.sortBy(_._1).toSeq)
    val s3 = pipeline.Sampling.shuffleShards(ids, "id", numShards = 4, seed = 7L)
      .as[(Long, Int, Long)].collect()
    assert(s3.sortBy(_._1).toSeq != s1.sortBy(_._1).toSeq)
  }

  test("groupQuantiles: exact rank arithmetic, ties, q=0/1, null values") {
    val rows = Seq(("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(2.0)),
      ("a", Some(10.0)), ("b", Some(5.0)), ("b", Option.empty[Double]))
      .toDF("grp", "v")
    val got = pipeline.Sampling.groupQuantiles(rows, "grp", "v",
        Seq(0.0, 0.5, 0.75, 1.0)).collect()
      .map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    // a: sorted [1,2,2,10], n=4 — q0 -> rank1=1, q.5 -> rank2=2,
    // q.75 -> rank3=2 (the tie value), q1 -> rank4=10
    assert(got(("a", 0.0)) == ((1.0, 4L)) && got(("a", 0.5)) == ((2.0, 4L)) &&
      got(("a", 0.75)) == ((2.0, 4L)) && got(("a", 1.0)) == ((10.0, 4L)))
    // b: null excluded, n=1, every q lands on the single value
    assert(got(("b", 0.5)) == ((5.0, 1L)) && got(("b", 1.0)) == ((5.0, 1L)))
  }

  test("quantileCut keeps score >= the group's exact q-threshold; nulls drop") {
    val rows = Seq((1, "en", 1.0), (2, "en", 2.0), (3, "en", 3.0),
      (4, "en", 4.0), (5, "de", 10.0))
      .toDF("id", "lang", "sc")
      .unionByName(Seq((6, "en")).toDF("id", "lang")
        .withColumn("sc", lit(null).cast("double")))
    val kept = pipeline.Sampling.quantileCut(rows, "lang", "sc", 0.5)
      .collect().map(_.getInt(0)).sorted.toSeq
    // en: n=4, rank ceil(0.5*4)=2 → threshold 2.0 → keep 2,3,4; de: its
    // only value is its own threshold → keep 5; the null-score row drops
    assert(kept == Seq(2, 3, 4, 5), kept.toString)
    // schema preserved
    assert(pipeline.Sampling.quantileCut(rows, "lang", "sc", 0.5)
      .columns.toSeq == Seq("id", "lang", "sc"))
  }
}
