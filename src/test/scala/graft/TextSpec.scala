package graft

import org.apache.spark.sql.functions._

/** Corpus text statistics and filters of pipeline.Text: n-gram novelty,
 * TF cosine pairs, DSIR importance weights and the Gopher quality rules. */
class TextSpec extends TestBase {
  import spark.implicits._

  test("ngramNovelty: unique-shingle share, short docs get null novelty") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c x"), (3L, "q"))
      .toDF("doc_id", "text")
    val got = pipeline.Text.ngramNovelty(docs, "doc_id", "text", n = 3)
      .select(col("doc_id"), col("n_shingles"), col("n_unique"), col("novelty"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
    // "a b c" is shared; "b c d" / "b c x" are unique to their docs
    assert(got == Set((1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5),
      (3L, 0L, 0L, -1.0)), got.toString)
  }

  test("tfCosinePairs: exact integer dot/norms, stop-term cap") {
    val docs = Seq((1L, "a a b"), (2L, "a a b"), (3L, "z z z"))
      .toDF("doc_id", "text")
    val got = pipeline.Text.tfCosinePairs(docs, "doc_id", "text",
        minCosine = 0.9, maxDocFreq = 1000)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 5L, 1.0)), got.toString) // dot 2·2+1·1, cos 1
    // df("a") = df("b") = 2 > maxDocFreq=1 -> cut as stop terms, no pairs
    assert(pipeline.Text.tfCosinePairs(docs, "doc_id", "text",
      minCosine = 0.1, maxDocFreq = 1).count() == 0)
  }

  test("dsirWeights scores target-like docs above off-target docs") {
    // long docs so the add-α·B smoothing mass (0.5·64 = 32) stays minor
    // next to the real bigram counts
    val docs = Seq(
      (1L, ("alpha beta " * 30).trim, true),
      (2L, ("alpha beta " * 20).trim, true),
      (3L, ("alpha beta " * 10).trim, false), // target-like raw doc
      (4L, ("gamma delta " * 30).trim, false),
      (5L, "x", false) // < 2 tokens -> weight 0
    ).toDF("id", "text", "is_tgt")
    val got = pipeline.Text.dsirWeights(docs, "id", "text", col("is_tgt"),
        buckets = 64, alpha = 0.5)
      .as[(Long, Long, Double)].collect().map(t => t._1 -> t._3).toMap
    assert(got(3L) > got(4L),
      s"target-like doc should outweigh off-target: $got")
    assert(got(5L) == 0.0, got.toString)
    assert(got(1L) > 0.0 && got(4L) < 0.0, got.toString)
  }

  test("gopher rules: each flag fires on its own hand-built document") {
    val docs = Seq(
      (1, "the cat sat with the mat here now yes we"), // clean → keep
      (2, "a b"),                                      // too short, avg len 1
      (3, "x\n• one\n• two\n• three\n• four"),         // 4/5 bullet lines
      (4, "see more here ok fine stuff...\nand more too..."), // ellipsis + symbols
      (5, null.asInstanceOf[String]))                  // null text → empty
      .toDF("id", "text")
    val got = pipeline.Text.gopherRules(docs, "id", "text",
      minWords = 5, maxWords = 100, maxBulletPct = 50, minStopwords = 2)
      .collect().map(r => r.getInt(0) -> r).toMap
    def flag(id: Int, name: String): Boolean =
      got(id).getBoolean(got(id).fieldIndex(name))
    assert(flag(1, "keep"), got(1).toString)
    assert(!flag(2, "ok_word_count") && !flag(2, "ok_word_length") &&
      !flag(2, "keep"), got(2).toString)
    assert(!flag(3, "ok_bullets"), got(3).toString)
    assert(!flag(4, "ok_ellipsis") && !flag(4, "ok_symbol_ratio"),
      got(4).toString)
    assert(got(5).getLong(got(5).fieldIndex("n_words")) == 0L &&
      !flag(5, "keep"), got(5).toString)
    // exact count audit on the clean doc: 10 words, 31 chars, 2 stopwords
    assert(got(1).getLong(got(1).fieldIndex("n_words")) == 10L &&
      got(1).getLong(got(1).fieldIndex("n_word_chars")) == 31L &&
      got(1).getLong(got(1).fieldIndex("n_stopwords_found")) == 2L,
      got(1).toString)
  }
}
