package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distributed BPE-style tokenizer training (word-level merges — "phrase
 * BPE": the symbol alphabet starts as whitespace words and each merge
 * joins the corpus's most frequent adjacent symbol pair, exactly the BPE
 * training loop of Sennrich et al., arXiv:1508.07909, lifted from
 * characters-within-words to words-within-documents).
 *
 * Scale design: each merge round is ONE hash aggregation over adjacent
 * symbol pairs (map-side partials; the heaviest key's combine state is a
 * single count), one driver-side argmax of a k-row-ish frequency table
 * top (via sort-limit 1, not a collect of the table), and one
 * codegen'd literal `replace` over the corpus — the same
 * scan-count-rewrite shape a single-node BPE trainer runs, with the
 * count and rewrite distributed. Corpus state is localCheckpointed per
 * round so the plan does not snowball with `numMerges`.
 *
 * Symbols ride in an unambiguous boundary encoding `⟨sym⟩⟨sym⟩…` so a
 * merge is a plain non-overlapping left-to-right string replace — the
 * exact greedy semantics single-node BPE uses, and replayable verbatim
 * by any SQL engine's `replace()`. Tokens must not contain `⟨` or `⟩`
 * (guarded).
 */
object Tokenizer {

  private val L = "⟨" // ⟨
  private val R = "⟩" // ⟩

  /** `⟨t1⟩⟨t2⟩…` encoding of the whitespace tokens of `text`; null for
   * texts with no tokens. */
  private def encoded(text: Column): Column = {
    val toks = filter(split(text, "\\s+"), t => length(t) > 0)
    when(size(toks) > 0, concat(lit(L), array_join(toks, s"$R$L"), lit(R)))
  }

  /** Adjacent symbol pairs of one encoded doc as (left, right) structs. */
  private def pairsOf(enc: Column): Column = {
    val toks = split(regexp_replace(enc, s"^$L|$R$$", ""), s"$R$L")
    Dedup.bindOnce(toks, ts =>
      when(size(ts) >= 2,
        transform(sequence(lit(0), size(ts) - 2),
          i => struct(element_at(ts, i + 1).as("l"), element_at(ts, i + 2).as("r")))))
  }

  /** Learn `numMerges` merges: returns (rank, left, right, pair_count),
   * rank 1 = first (most frequent) merge. Ties break lexicographically on
   * (left, right) — deterministic under any partitioning. Stops early if
   * no adjacent pair remains. */
  def bpeTrain(df0: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    require(numMerges >= 1, "bpeTrain: numMerges must be >= 1")
    val spark = df0.sparkSession
    import spark.implicits._
    require(df0.filter(col(textCol).contains(L) || col(textCol).contains(R)).isEmpty,
      s"bpeTrain: text must not contain the boundary characters $L $R")

    // r15: ONE driver job per merge instead of two. The corpus is
    // checkpointed once (repartitioned first — a one-row-group parquet
    // scan otherwise leaves every per-merge aggregation on a single
    // core), and each round's merges are chained as LAZY literal
    // `replace`s onto it: the argmax job re-applies the ≤cutEvery cheap
    // per-row replaces instead of paying a separate materializing
    // localCheckpoint per merge. The chain is re-rooted every `cutEvery`
    // merges so the plan depth stays bounded for production-sized merge
    // counts. Same merges by construction: replace is deterministic, so
    // the lazily-rewritten corpus equals the old eagerly-written one.
    val cutEvery = 8
    var corpus = ensureParallelism(
        df0.select(encoded(col(textCol)).as("s")).filter(col("s").isNotNull))
      .localCheckpoint(true)
    var pendingSinceCut = 0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val top = corpus
        .select(explode(pairsOf(col("s"))).as("p"))
        .groupBy(col("p.l"), col("p.r")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("l"), asc("r"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val row = top.head
        val (l, r, n) = (row.getString(0), row.getString(1), row.getLong(2))
        merges += ((rank, l, r, n))
        corpus = corpus.select(
          replace(col("s"), lit(s"$L$l$R$L$r$R"), lit(s"$L$l $r$R")).as("s"))
        pendingSinceCut += 1
        if (pendingSinceCut >= cutEvery && rank < numMerges) {
          val next = corpus.localCheckpoint(true)
          graft.lib.IterationManager.release(corpus)
          corpus = next
          pendingSinceCut = 0
        }
        rank += 1
      }
    }
    graft.lib.IterationManager.release(corpus)
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
  }

  /** Apply an ordered merge list (as produced by [[bpeTrain]]) to every
   * document: returns (idCol, n_tokens_raw, n_tokens_bpe) — the token
   * counts before and after the merges (each applied merge reduces a
   * doc's count by the number of replacements). */
  def bpeEncode(df0: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val enc0 = encoded(col(textCol))
    val encN = merges.foldLeft(enc0) { case (acc, (l, r)) =>
      replace(acc, lit(s"$L$l$R$L$r$R"), lit(s"$L$l $r$R"))
    }
    def nTokens(enc: Column): Column = coalesce(
      size(split(regexp_replace(enc, s"^$L|$R$$", ""), s"$R$L")), lit(0))
      .cast("long")
    df0.select(col(idCol),
      nTokens(enc0).as("n_tokens_raw"),
      nTokens(encN).as("n_tokens_bpe"))
  }

  /** Train-then-encode convenience used by the driver query: learns
   * `numMerges` merges and reports per-document raw/BPE token counts. */
  def bpeTrainEncode(df0: DataFrame, idCol: String, textCol: String,
      numMerges: Int): (DataFrame, DataFrame) = {
    val m = bpeTrain(df0, textCol, numMerges)
    val list = m.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    (m, bpeEncode(df0, idCol, textCol, list))
  }

  // ------------------------------------------------------------------
  // Unigram LM (SentencePiece-style), deterministic hard-EM variant
  // ------------------------------------------------------------------
  //
  // Kudo 2018 (arXiv:1804.10959) trains a unigram language model over
  // subword pieces with EM and segments by Viterbi. This implementation
  // keeps the model and the segmentation but makes every number exactly
  // replayable by an independent engine:
  //  * piece costs are FIXED-POINT micro-nats (the Classify.fpLog rule:
  //    round(ln(p)·1e6) as a 64-bit integer), so per-word path costs are
  //    exact integer sums — order-independent under any shuffle plan;
  //  * the E-step is HARD (Viterbi counts, not forward-backward
  //    expectations): the optimal segmentation under integer costs is a
  //    pure function of (word, vocab), so usage counts replay exactly;
  //  * ties break lexicographically on (cost, token count, backpointer
  //    start) — a total order, stated here because the oracle replays it.
  //
  // Scale shape: the seed and every E-step are ONE hash aggregation over
  // DISTINCT words (the corpus's word frequency table — Zipf makes this
  // tiny relative to the corpus) plus one broadcast join of candidate
  // substrings against the ≤ vocabSize+alphabet vocab; the Viterbi DP
  // runs inside a single `aggregate` higher-order expression per word —
  // no per-position joins, no driver loops over words. The M-step
  // re-estimate is a 1-row aggregate + a projection.

  /** Sentinel: any real path costs far less (≤ maxWordLen · ~35e6). */
  private val UNSEG = Long.MaxValue / 4

  /** Fixed-point micro-nats of ln(p) — same rule as Classify.fpLog. */
  private def fpLog(p: Column): Column =
    round(log(p) * lit(1e6), 0).cast("long")

  /** Distinct words + occurrence counts; words longer than `maxWordLen`
   * are dropped (crawler garbage — a 1 MB "word" would make the DP
   * array that long; the encode path REPORTS such words per doc). */
  private def wordTable(df: DataFrame, textCol: String,
      maxWordLen: Int): DataFrame =
    // ensureParallelism: a one-row-group parquet scan otherwise runs the
    // regex tokenize + explode feeding the aggregation on a single core
    ensureParallelism(df)
      .select(explode(Text.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) <= maxWordLen)
      .groupBy("word").agg(count(lit(1)).cast("long").as("freq"))

  /** All (start, end, piece) substrings of `word` with 1 ≤ len ≤ cap —
   * the Viterbi lattice edges before the vocab join. 0-based positions,
   * end exclusive. */
  private def pieceCands(maxPieceLen: Int): Column = {
    val w = col("word")
    flatten(transform(sequence(lit(0), length(w) - 1), s =>
      transform(sequence(lit(1), least(lit(maxPieceLen), length(w) - s)),
        l => struct((s + l).as("e"), s.as("s"),
          w.substr(s + 1, l).as("piece")))))
  }

  /** Seed vocabulary: ALL single characters plus the `vocabSize` most
   * frequent multi-character substrings (length ≤ maxPieceLen) by
   * occurrence count weighted by word frequency; ties on count break to
   * the lexicographically smaller piece. Returns (piece, count). */
  def unigramSeedVocab(df: DataFrame, textCol: String, vocabSize: Int = 200,
      maxPieceLen: Int = 4, maxWordLen: Int = 32): DataFrame =
    seedFromWords(wordTable(df, textCol, maxWordLen), vocabSize, maxPieceLen)

  /** [[unigramSeedVocab]] over an already-computed word table — the train
   * loop shares ONE word-frequency aggregation between the seed and the
   * E-steps instead of re-tokenizing the corpus for each (r15). */
  private def seedFromWords(words: DataFrame, vocabSize: Int,
      maxPieceLen: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    val sp = words
      .select(explode(pieceCands(maxPieceLen)).as("c"), col("freq"))
      .groupBy(col("c.piece").as("piece"))
      .agg(sum("freq").as("count"))
    sp.filter(length(col("piece")) > 1)
      .orderBy(desc("count"), asc("piece")).limit(vocabSize)
      .unionByName(sp.filter(length(col("piece")) === 1))
  }

  /** Laplace-smoothed fixed-point costs over a (piece, count) vocab:
   * cost(t) = −round(ln((c_t+1)/(C+|V|))·1e6). The +1 keeps pieces the
   * last E-step never used alive (EM may re-activate them), and makes
   * iteration 0 (raw substring counts) and every later iteration share
   * one formula. ONE 1-row action for (C, |V|). */
  private def withCosts(vocab: DataFrame, denom: Long): DataFrame = {
    require(denom > 0, "unigram vocabulary is empty")
    vocab.select(col("piece"), col("count"),
      (-fpLog((col("count") + lit(1)).cast("double") /
        lit(denom.toDouble))).as("cost"))
  }

  /** Eager lineage cut of a (piece, count) vocab with the Laplace
   * denominator (ΣC + |V|) OBSERVED on the cut's own materializing job
   * (the [[graft.lib.IterationManager.cycleObserved]] pattern) — each EM
   * round pays one driver job instead of a cut plus a separate 1-row
   * aggregate action (r15). */
  private def cutVocabWithDenom(vocab: DataFrame): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation(
      "graft_unigram_" + java.util.UUID.randomUUID().toString)
    val cut = vocab
      .observe(obs, sum(col("count")).as("_s"), count(lit(1)).as("_c"))
      .localCheckpoint(true)
    def asLong(v: Any): Long = v match {
      case null => 0L
      case n: java.lang.Number => n.longValue()
      case other => throw new IllegalStateException(
        s"unigram denominator metric must be numeric, got $other")
    }
    val got = obs.get
    (cut, asLong(got("_s")) + asLong(got("_c")))
  }

  /** Viterbi segmentation of every word in `words` (word, freq) against
   * `vocab` (piece, cost): returns (word, freq, n_tokens, cost, pieces),
   * nulls when the word cannot be segmented from the vocab. The DP is
   * one `aggregate` over the word's vocab-joined lattice edges sorted by
   * (end, start): best[end] = min (cost, ntok, start) over edges, each
   * extending the already-final best[start] — exactly the textbook DAG
   * relaxation, in one codegen-able expression. */
  private def viterbi(words: DataFrame, vocab: DataFrame,
      maxPieceLen: Int): DataFrame = {
    val cand = words
      .select(col("word"), col("freq"), explode(pieceCands(maxPieceLen)).as("c"))
      .select(col("word"), col("freq"), col("c.e").as("e"), col("c.s").as("s"),
        col("c.piece").as("piece"))
      .join(broadcast(vocab.select(col("piece"), col("cost"))), Seq("piece"))
    val edged = cand.groupBy(col("word"), col("freq"))
      .agg(sort_array(collect_list(
        struct(col("e"), col("s"), col("cost")))).as("edges"))
    val wlen = length(col("word"))
    val init = transform(sequence(lit(0), wlen), i =>
      struct(when(i === 0, lit(0L)).otherwise(lit(UNSEG)).as("cost"),
        lit(0).as("ntok"), lit(-1).as("bp")))
    val dpExpr = aggregate(col("edges"), init, (acc, ed) => {
      val pre = element_at(acc, ed("s") + 1)
      val cCost = pre("cost") + ed("cost")
      val cNtok = pre("ntok") + 1
      transform(acc, (v, i) =>
        when(i === ed("e") && pre("cost") < lit(UNSEG) &&
          (cCost < v("cost") ||
            (cCost === v("cost") && (cNtok < v("ntok") ||
              (cNtok === v("ntok") && ed("s") < v("bp"))))),
          struct(cCost.as("cost"), cNtok.as("ntok"), ed("s").as("bp")))
          .otherwise(v))
    })
    val withDp = words.join(edged, Seq("word", "freq"), "left_outer")
      .withColumn("_dp", dpExpr)
    val best = element_at(col("_dp"), wlen + 1)
    val ok = col("_dp").isNotNull && best("cost") < lit(UNSEG)
    // backpointer walk: ≤ len steps, prepending the piece each step —
    // yields the exact segmentation the DP chose (unused when the caller
    // only reads counts; Catalyst prunes it)
    val walk = aggregate(sequence(lit(1), wlen),
      struct(wlen.cast("int").as("pos"), array().cast("array<string>").as("ps")),
      (acc, _) => {
        val bp = element_at(col("_dp"), acc("pos") + 1)("bp")
        when(acc("pos") > 0,
          struct(bp.as("pos"),
            concat(array(col("word").substr(bp + 1, acc("pos") - bp)),
              acc("ps")).as("ps")))
          .otherwise(acc)
      })
    withDp.select(col("word"), col("freq"),
      when(ok, best("ntok").cast("long")).as("n_tokens"),
      when(ok, best("cost")).as("cost"),
      when(ok, walk("ps")).as("pieces"))
  }

  /** Train the unigram LM: seed vocabulary ([[unigramSeedVocab]]), then
   * `iterations` hard-EM rounds — Viterbi-segment every distinct word
   * under the current smoothed costs, recount piece usage weighted by
   * word frequency, re-estimate. The vocab SET is fixed at the seed
   * (+1 smoothing keeps unused pieces re-activatable); counts move.
   * Returns (piece, count, cost_micro_nats) — count from the final
   * E-step (the seed substring counts when iterations = 0). */
  def unigramTrain(df: DataFrame, textCol: String, vocabSize: Int = 200,
      maxPieceLen: Int = 4, iterations: Int = 2,
      maxWordLen: Int = 32): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val words = wordTable(df, textCol, maxWordLen).localCheckpoint(true)
    // seed from the SAME word table the E-steps read (one corpus
    // tokenize), and observe each cut's Laplace denominator on the cut's
    // own job — iterations+1 separate 1-row actions disappear (r15)
    var (vocab, denom) = cutVocabWithDenom(
      seedFromWords(words, vocabSize, maxPieceLen))
    for (_ <- 1 to iterations) {
      val used = viterbi(words, withCosts(vocab, denom), maxPieceLen)
        .filter(col("pieces").isNotNull)
        .select(explode(col("pieces")).as("piece"), col("freq"))
        .groupBy("piece").agg(sum("freq").as("used"))
      val next = vocab.select("piece")
        .join(used, Seq("piece"), "left_outer")
        .select(col("piece"), coalesce(col("used"), lit(0L)).as("count"))
      val (nextCut, nextDenom) = cutVocabWithDenom(next)
      graft.lib.IterationManager.release(vocab)
      vocab = nextCut
      denom = nextDenom
    }
    val out = withCosts(vocab, denom)
      .select(col("piece"), col("count"), col("cost").as("cost_micro_nats"))
      .localCheckpoint(true)
    graft.lib.IterationManager.release(words)
    graft.lib.IterationManager.release(vocab)
    out
  }

  /** Viterbi-encode every document against a trained vocab
   * (piece, cost_micro_nats): per document, the word count, the total
   * optimal token count, the exact integer path cost, and the number of
   * words that could NOT be encoded (longer than `maxWordLen`, or not
   * segmentable from the vocab) — skipped words are REPORTED, never
   * silently costed. Documents with no words are absent (nothing to
   * encode). Segmentation runs once per DISTINCT word and joins back. */
  def unigramEncode(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, maxPieceLen: Int = 4,
      maxWordLen: Int = 32): DataFrame = {
    val docW = ensureParallelism(df)
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("word"))
    val words = docW.filter(length(col("word")) <= maxWordLen)
      .groupBy("word").agg(lit(1L).as("freq"))
    val res = viterbi(words,
      vocab.select(col("piece"), col("cost_micro_nats").as("cost")),
      maxPieceLen)
      .select(col("word"), col("n_tokens"), col("cost"))
    docW.join(res, Seq("word"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        coalesce(sum("n_tokens"), lit(0L)).as("n_tokens_unigram"),
        coalesce(sum("cost"), lit(0L)).as("cost_micro_nats"),
        count(when(col("n_tokens").isNull, 1)).as("n_words_skipped"))
  }

  /** Train-then-encode convenience used by the driver queries. */
  def unigramTrainEncode(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 200, maxPieceLen: Int = 4, iterations: Int = 2,
      maxWordLen: Int = 32): (DataFrame, DataFrame) = {
    val v = unigramTrain(df, textCol, vocabSize, maxPieceLen, iterations,
      maxWordLen)
    (v, unigramEncode(df, idCol, textCol, v, maxPieceLen, maxWordLen))
  }

  // ------------------------------------------------------------------
  // WordPiece (BERT-style) greedy longest-match-first encoder
  // ------------------------------------------------------------------
  //
  // Wu et al. 2016 (arXiv:1609.08144) / Devlin et al. 2018: a word is
  // segmented left-to-right, each step taking the LONGEST vocabulary
  // piece that prefixes the remainder; non-initial pieces carry the
  // `##` continuation marker; a word with no match at any position is
  // unknown ([UNK]) as a whole. The segmentation is a pure function of
  // (word, vocab) — no model numbers at all — so every count replays
  // exactly in any engine.
  //
  // Scale shape (the unigram template): segmentation runs once per
  // DISTINCT word — candidate (start, end, piece) lattice edges joined
  // against the broadcast vocab, then the greedy walk runs inside ONE
  // `aggregate` higher-order expression per word (≤ len steps, each a
  // filter + array_max over that word's edges) — no per-position joins,
  // no driver loops.

  /** Candidate lattice edges of `word` with the WordPiece continuation
   * convention: position-0 pieces raw, later pieces `##`-prefixed.
   * 0-based (s, e), e exclusive. A literal `##` in the data can collide
   * with the marker (exactly as in BERT vocabularies). */
  private def wpCands(maxPieceLen: Int): Column = {
    val w = col("word")
    flatten(transform(sequence(lit(0), length(w) - 1), s =>
      transform(sequence(lit(1), least(lit(maxPieceLen), length(w) - s)),
        l => struct(s.as("s"), (s + l).as("e"),
          when(s === 0, w.substr(lit(1), l))
            .otherwise(concat(lit("##"), w.substr(s + 1, l))).as("piece")))))
  }

  /** WordPiece vocabulary by frequency: ALL content-length-1 pieces (both
   * the word-initial `c` and continuation `##c` form of every character —
   * the closure that keeps any short word segmentable) plus the
   * `vocabSize` most frequent longer pieces, counts weighted by word
   * frequency; ties break to the lexicographically smaller piece.
   * Returns (piece, count). */
  def wordpieceVocab(df: DataFrame, textCol: String, vocabSize: Int = 200,
      maxPieceLen: Int = 4, maxWordLen: Int = 32): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    val sp = wordTable(df, textCol, maxWordLen)
      .select(explode(wpCands(maxPieceLen)).as("c"), col("freq"))
      .groupBy(col("c.piece").as("piece"))
      .agg(sum("freq").as("count"))
    def contentLen = when(col("piece").startsWith("##"),
      length(col("piece")) - 2).otherwise(length(col("piece")))
    sp.filter(contentLen > 1)
      .orderBy(desc("count"), asc("piece")).limit(vocabSize)
      .unionByName(sp.filter(contentLen === 1))
  }

  /** Greedy-encode every document against a WordPiece vocab (piece —
   * further columns ignored; pieces must be unique): per document the
   * word count, total WordPiece token count over encodable words, and
   * the number of [UNK] words (longer than `maxWordLen`, or stuck at a
   * position no vocab piece prefixes) — [UNK]s are REPORTED, never
   * silently counted as one token. Documents with no words are absent.
   * Segmentation runs once per DISTINCT word and joins back. */
  def wordpieceEncode(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, maxPieceLen: Int = 4,
      maxWordLen: Int = 32): DataFrame = {
    val docW = ensureParallelism(df)
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("word"))
    val words = docW.filter(length(col("word")) <= maxWordLen)
      .select("word").distinct()
    val cand = words.select(col("word"), explode(wpCands(maxPieceLen)).as("c"))
      .select(col("word"), col("c.s").as("s"), col("c.e").as("e"),
        col("c.piece").as("piece"))
      .join(broadcast(vocab.select("piece")), Seq("piece"))
    val edged = cand.groupBy("word")
      .agg(collect_list(struct(col("s"), col("e"))).as("edges"))
    val wlen = length(col("word"))
    // greedy walk: ≤ len steps (every step consumes ≥ 1 char); pos −1
    // marks a stuck word; longest match = array_max over this word's
    // edges starting at pos (filter + max over a tiny array — the edge
    // list is bounded by len·maxPieceLen)
    val walk = aggregate(sequence(lit(1), wlen),
      struct(lit(0).as("pos"), lit(0L).as("ntok")),
      (acc, _) => {
        val maxe = array_max(transform(
          filter(col("edges"), ed => ed("s") === acc("pos")), ed => ed("e")))
        when(acc("pos") < 0 || acc("pos") >= wlen, acc)
          .otherwise(when(maxe.isNull,
            struct(lit(-1).as("pos"), acc("ntok").as("ntok")))
            .otherwise(struct(maxe.as("pos"), (acc("ntok") + 1).as("ntok"))))
      })
    val res = words.join(edged, Seq("word"), "left_outer")
      .withColumn("_g", walk)
      .select(col("word"),
        when(col("_g")("pos") === wlen, col("_g")("ntok")).as("n_tokens"))
    docW.join(res, Seq("word"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        coalesce(sum("n_tokens"), lit(0L)).as("n_tokens_wordpiece"),
        count(when(col("n_tokens").isNull, 1)).as("n_words_unk"))
  }

  /** Vocab-then-encode convenience used by the driver query. */
  def wordpieceVocabEncode(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 200, maxPieceLen: Int = 4,
      maxWordLen: Int = 32): (DataFrame, DataFrame) = {
    val v = wordpieceVocab(df, textCol, vocabSize, maxPieceLen, maxWordLen)
    (v, wordpieceEncode(df, idCol, textCol, v, maxPieceLen, maxWordLen))
  }
}
