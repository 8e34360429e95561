package graft

import org.apache.spark.sql.functions._

/** Vector similarity operators of pipeline.Similarity: kNN graphs, label
 * spreading and the streaming ANN index ingest. */
class SimilaritySpec extends TestBase {
  import spark.implicits._

  test("streaming ANN ingest: grown index equals the from-scratch index (re-ingest idempotent)") {
    val dim = 8
    def vec(id: Long): Seq[Float] =
      (0 until dim).map(j => ((id * 31 + j * 7) % 13).toFloat - 6f)
    val all = (0L until 30L).map(id => (id, vec(id)))
    val df = all.toDF("vec_id", "embedding")
    val model = pipeline.Similarity.ivfPqModel(df, "vec_id", "embedding",
      nlist = 4, m = 4, ksub = 4)
    val corpusIdx = pipeline.Similarity.ivfPqIndex(
      all.filter(_._1 < 14).toDF("vec_id", "embedding"),
      "vec_id", "embedding", model).localCheckpoint(true)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    var live: org.apache.spark.sql.DataFrame = null
    val q = streaming.EventStreams.annIngestStream(
        in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        model, corpusIdx, (idx, _) => live = idx)
      .queryName("r14_ann_ingest").start()
    // batch 1 re-ingests 10-13 over the corpus index; batch 2 is novel
    in.addData(all.filter(x => x._1 >= 10 && x._1 < 20)); q.processAllAvailable()
    in.addData(all.filter(_._1 >= 20)); q.processAllAvailable()
    q.stop()
    val scratch = pipeline.Similarity.ivfPqIndex(df, "vec_id", "embedding", model)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Any](2).toList))
    val (l, s0) = (rows(live), rows(scratch))
    assert(l.length == s0.length && l.toSet == s0.toSet,
      s"live ${l.length} vs scratch ${s0.length}")
  }

  private lazy val vecs = {
    // 12 deterministic 4-dim embeddings with some mutual-neighbor
    // structure (three tight groups of four)
    val rows = (0 until 12).map { i =>
      val g = i / 4
      val j = i % 4
      (i.toLong, Seq(1.0f + g, 0.5f * j, if (g == 1) 2f else 0f, 0.1f * i))
    }
    spark.createDataFrame(rows).toDF("vec_id", "embedding")
  }

  test("knnGraph mutual: unordered-pair aggregation equals the reversed-pair self-join") {
    val got = pipeline.Similarity.knnGraph(vecs, "vec_id", "embedding", k = 3)
    // reference: the r14 spelling — directed top-k joined to its reverse
    val t = pipeline.Similarity.knnGraph(vecs, "vec_id", "embedding", k = 3,
      mutual = false)
    val ref = t.as("f").join(t.as("r"),
        col("f.src") === col("r.dst") && col("f.dst") === col("r.src"))
      .filter(col("f.src") < col("f.dst"))
      .select(col("f.src").as("src"), col("f.dst").as("dst"))
    assert(rows(got) == rows(ref))
    assert(got.count() > 0, "fixture must exercise at least one mutual edge")
  }

  test("labelSpread base-join restructure equals the state-join spelling") {
    val labeled = vecs.withColumn("label",
      concat(lit("L"), pmod(col("vec_id"), lit(3))))
    val got = pipeline.Similarity.labelSpread(labeled, "vec_id", "embedding",
      "label", k = 3, rounds = 3, seedFraction = 0.5)
    // reference: the r14 per-round spelling (state joined back to ITSELF),
    // run inline — seeds keep their initial label under both spellings
    // because when(is_seed, _lab) never overwrites a seed
    val t = math.round(0.5 * 65536.0).toInt
    val e = pipeline.Similarity.knnGraph(labeled, "vec_id", "embedding", 3)
    val und = e.select(col("src").as("_u"), col("dst").as("_v"))
      .unionByName(e.select(col("dst").as("_u"), col("src").as("_v")))
      .persist()
    val isSeed = conv(substring(md5(concat_ws("|", lit(42L),
      col("vec_id").cast("string"))), 1, 4), 16, 10).cast("int") < lit(t)
    var state = labeled.select(col("vec_id").as("_id"),
      when(isSeed, col("label")).otherwise(lit(null)).as("_lab"),
      isSeed.as("is_seed")).localCheckpoint(true)
    for (_ <- 1 to 3) {
      val votes = und.join(state.select(col("_id").as("_u"), col("_lab")), "_u")
        .filter(col("_lab").isNotNull)
        .groupBy(col("_v").as("_id"), col("_lab")).agg(count(lit(1)).as("_n"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("_id")
        .orderBy(col("_n").desc, col("_lab").asc)
      val win = votes.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1).select(col("_id"), col("_lab").as("_new"))
      state = state.join(win, Seq("_id"), "left_outer")
        .select(col("_id"),
          when(col("is_seed"), col("_lab")).otherwise(col("_new")).as("_lab"),
          col("is_seed")).localCheckpoint(true)
    }
    val ref = state.select(col("_id").as("vec_id"), col("_lab").as("label"),
      col("is_seed"))
    assert(rows(got) == rows(ref))
    und.unpersist(true)
  }
}
