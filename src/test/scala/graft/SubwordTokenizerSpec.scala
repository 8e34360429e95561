package graft

import org.apache.spark.sql.functions._

/** Subword tokenizers of pipeline.Tokenizer: unigram LM and WordPiece
 * training and encoding, and the BPE trainer across lineage cuts. */
class SubwordTokenizerSpec extends TestBase {
  import spark.implicits._

  test("unigram hard-EM train + viterbi encode on a hand-computed fixture") {
    val docs = Seq((1, "ab ab b")).toDF("id", "text")
    val (v, e) = pipeline.Tokenizer.unigramTrainEncode(docs, "id", "text",
      vocabSize = 2, maxPieceLen = 2, iterations = 2)
    val vm = v.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // seed: ab=2, a=2, b=3 (C=7, V=3). EM segments "ab"->[ab], "b"->[b]
    // both rounds -> counts ab=2, b=1, a=0; final smoothed costs over
    // denom 3+3=6: ab -round(ln(3/6)e6)=693147, a ln(1/6)->1791759,
    // b ln(2/6)->1098612
    assert(vm == Map("ab" -> ((2L, 693147L)), "a" -> ((0L, 1791759L)),
      "b" -> ((1L, 1098612L))), vm.toString)
    val em = e.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // 3 words -> 3 tokens, cost 2*693147 + 1098612
    assert(em.toSeq == Seq((1, 3L, 3L, 2484906L, 0L)), em.mkString(", "))
  }

  test("unigram viterbi tie-break: equal (cost, ntok) prefers the smaller backpointer") {
    val docs = Seq((1, "abc")).toDF("id", "text")
    val v = pipeline.Tokenizer.unigramTrain(docs, "text",
      vocabSize = 4, maxPieceLen = 2, iterations = 1)
    val counts = v.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // all seed pieces count 1 -> equal costs; [a,bc] and [ab,c] tie on
    // (cost, ntok); bp at pos 3 takes the smaller start (1, piece "bc")
    assert(counts == Map("a" -> 1L, "bc" -> 1L, "ab" -> 0L, "b" -> 0L,
      "c" -> 0L), counts.toString)
  }

  test("unigram encode reports unsegmentable and over-long words, never costs them") {
    val docs = Seq((1, "ab xy"), (2, "toolong ab")).toDF("id", "text")
    import spark.implicits._
    val vocab = Seq(("ab", 100L)).toDF("piece", "cost_micro_nats")
    val got = pipeline.Tokenizer.unigramEncode(docs, "id", "text", vocab,
      maxPieceLen = 2, maxWordLen = 4).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // doc 1: "xy" shares no vocab piece -> skipped; doc 2: "toolong" is
    // over maxWordLen -> skipped; "ab" encodes in both
    assert(got == Map(1 -> ((2L, 1L, 100L, 1L)), 2 -> ((2L, 1L, 100L, 1L))),
      got.toString)
  }

  test("wordpiece vocab + greedy longest-match encode on a hand-computed fixture") {
    val docs = Seq((1, "abab ab cd")).toDF("id", "text")
    val (v, e) = pipeline.Tokenizer.wordpieceVocabEncode(docs, "id", "text",
      vocabSize = 2, maxPieceLen = 2, maxWordLen = 8)
    val vm = v.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // multi-char counts: ab=2, ##ba=1, ##ab=1, cd=1 → top-2 = ab, ##ab
    // ('#' < 'c'); singles: a=2, c=1, ##a=1, ##b=3, ##d=1
    assert(vm == Map("ab" -> 2L, "##ab" -> 1L, "a" -> 2L, "c" -> 1L,
      "##a" -> 1L, "##b" -> 3L, "##d" -> 1L), vm.toString)
    val em = e.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // abab → [ab, ##ab] (longest-first, NOT a+##b+...); ab → [ab];
    // cd → [c, ##d] (cd lost the top-2 race) → 5 tokens, 0 UNK
    assert(em.toSeq == Seq((1, 3L, 5L, 0L)), em.mkString(", "))
  }

  test("wordpiece encode reports stuck and over-long words as UNK, never costs them") {
    val docs = Seq((1, "ab aq abq toolong")).toDF("id", "text")
    val vocab = Seq("ab", "##b", "x").toDF("piece")
    val got = pipeline.Tokenizer.wordpieceEncode(docs, "id", "text", vocab,
      maxPieceLen = 2, maxWordLen = 4).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // "aq" stuck at pos 0, "abq" stuck at pos 2 (no ##q), "toolong" over
    // maxWordLen → 3 UNK; only "ab" encodes (1 token)
    assert(got.toSeq == Seq((1, 4L, 1L, 3L)), got.mkString(", "))
  }

  test("bpeTrain lazy merge chain is exact across the lineage-cut boundary") {
    // 5 identical docs of 12 zero-padded words: every adjacent pair counts
    // 5, so ties resolve lexicographically and the first symbol grows one
    // word per merge — 10 merges crosses the internal cutEvery=8 re-root
    val words = (1 to 12).map(i => f"w$i%02d")
    val docs = spark.createDataFrame(
      (0 until 5).map(i => (i.toLong, words.mkString(" ")))).toDF("id", "text")
    val got = pipeline.Tokenizer.bpeTrain(docs, "text", numMerges = 10)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val expected = (1 to 10).map { r =>
      (r, words.take(r).mkString(" "), words(r), 5L)
    }
    assert(got.toSeq == expected)
  }

  test("unigramTrain observed denominator matches the returned counts") {
    val docs = spark.createDataFrame(
      (0 until 20).map(i => (i.toLong, "abc abd bc bc ab"))).toDF("id", "text")
    val v = pipeline.Tokenizer.unigramTrain(docs, "text", vocabSize = 6,
      maxPieceLen = 3, iterations = 2).collect()
    val denom = v.map(_.getLong(1)).sum + v.length
    v.foreach { r =>
      // Spark's round() is HALF_UP away from zero — mirror it exactly
      val expect = -BigDecimal(
        math.log((r.getLong(1) + 1).toDouble / denom) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      assert(r.getLong(2) == expect,
        s"piece ${r.getString(0)}: cost ${r.getLong(2)} != $expect")
    }
  }
}
