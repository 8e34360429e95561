package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines:
 * tokenization, language id, quality scoring, fingerprinting.
 *
 * All operators are pure narrow projections (per-row expressions, no
 * shuffle, full whole-stage codegen) — at 100 TB they run at scan speed
 * and columns not referenced are pruned at the parquet reader.
 */
object Text {

  /** Whitespace tokens with empties dropped. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  /** Fail-loud in-plan guard on per-document token count for the exact
   * LCE span operators: their per-pair extension cost (and the
   * single-task shingle fan-out) is bounded by document LENGTH, so one
   * 10⁸-token document melts an executor while the rest of the corpus is
   * fine. The guard rides the existing scan as a codegen `when(...,
   * raise_error)` — no extra pass, no driver action — and names the
   * fixes. `spark.graft.dupspans.maxdoctokens` tunes it; 0 disables
   * (docs/THRESHOLDS.md). */
  private def guardDocTokens(df: DataFrame, idCol: String, textCol: String,
      op: String): DataFrame = {
    val cap = graft.GraftConf.dupSpansMaxDocTokens.getOrElse(1L << 22)
    if (cap <= 0) df
    else df.withColumn(textCol,
      when(size(tokens(col(textCol))) > cap,
        raise_error(concat(
          lit(s"$op: document "), col(idCol).cast("string"),
          lit(s" exceeds $cap tokens — per-pair LCE cost is bounded by " +
            "document length, so a giant document melts single tasks. " +
            "Split the document, or raise/disable " +
            s"${graft.GraftConf.DupSpansMaxDocTokensKey} (0 disables) " +
            "if your executors are sized for it."))))
        .otherwise(col(textCol)))
  }

  /** Per-document n-gram novelty — the share of a document's distinct
   * n-gram shingles that appear in NO other document. A classic
   * training-data quality cut: boilerplate-heavy or templated documents
   * score near 0, original text near 1 (complements the duplication
   * family, which finds the COPIES; this scores the remainder).
   * Returns (idCol, n_shingles, n_unique, novelty) — novelty is null
   * for documents too short to shingle. Exact integer counts (one
   * distinct-explode + one document-frequency aggregation + one join
   * back); the only float is one division per document. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    val sh = df.select(col(idCol).as("_id"),
        explode(wordShingles(col(textCol), n)).as("_sh"))
      .distinct()
    val dfreq = sh.groupBy("_sh").agg(count(lit(1)).as("_df"))
    val per = sh.join(dfreq, "_sh")
      .groupBy("_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("_df") === 1, 1L).otherwise(0L)).as("n_unique"))
    df.select(col(idCol))
      .join(per.withColumnRenamed("_id", idCol), Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        round(col("n_unique") / col("n_shingles"), 6).as("novelty"))
  }

  /** Sparse TF-cosine document similarity pairs — the classic
   * bag-of-words near-neighbor join, built so EVERY aggregate is an
   * exact integer (bit-identical under any partitioning, unlike a
   * float-weighted TF-IDF dot whose partial-sum order varies):
   * dot(a,b) = Σ_t tf_a(t)·tf_b(t) and the squared norms Σ_t tf(t)²
   * are integer sums; cosine = dot / (√na·√nb) is computed ONCE per
   * surviving pair. Terms in more than `maxDocFreq` documents are cut
   * first — stop terms carry ~0 cosine signal and are exactly the
   * inverted-index hot keys, so the cap bounds the self-join fan-out
   * (the ngramJaccard/containment stop-shingle discipline). Returns
   * (id_a, id_b, dot, cosine) with id_a < id_b and cosine ≥ minCosine,
   * cosine over the capped vocabulary (stated contract). */
  def tfCosinePairs(df: DataFrame, idCol: String, textCol: String,
      minCosine: Double = 0.5, maxDocFreq: Int = 1000): DataFrame = {
    require(minCosine > 0.0, // = 0 would emit every co-term pair
      s"minCosine must be > 0: $minCosine")
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1: $maxDocFreq")
    val tf = df.select(col(idCol).as("_id"),
        explode(tokens(col(textCol))).as("_t"))
      .groupBy("_id", "_t").agg(count(lit(1)).as("_tf"))
    val hot = tf.groupBy("_t").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDocFreq).select("_t")
    // the capped TF frame feeds the norms and BOTH self-join sides —
    // persist (same shared-frame discipline as ngramJaccard's shingles);
    // the pin outlives this call — release it after consuming the result
    // via [[graft.pipeline.releaseShared]]
    val kept = tf.join(broadcast(hot), Seq("_t"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val norms = kept.groupBy("_id").agg(sum(col("_tf") * col("_tf")).as("_n2"))
    val dots = kept.as("a").join(kept.as("b"), "_t")
      .filter(col("a._id") < col("b._id"))
      .groupBy(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .agg(sum(col("a._tf") * col("b._tf")).as("dot"))
    dots
      .join(norms.select(col("_id").as("id_a"), col("_n2").as("_na")), "id_a")
      .join(norms.select(col("_id").as("id_b"), col("_n2").as("_nb")), "id_b")
      // √na·√nb, NOT √(na·nb): the product of two ~corpus-scale integer
      // norms can exceed Long range; two sqrts cannot
      .withColumn("cosine", col("dot") / (sqrt(col("_na")) * sqrt(col("_nb"))))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("dot"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** n-word shingles of the [[tokens]], joined by one space: an empty
   * array for null text or fewer than `n` tokens. One codegen kernel
   * ([[graft.expressions.WordShingles]]) scans the UTF-8 bytes in place. */
  def wordShingles(text: Column, n: Int): Column =
    graft.expressions.TextHash.wordShingles(text, n)

  /** (id, n_tokens). */
  def tokenCount(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), size(tokens(col(textCol))).cast("long").as("n_tokens"))

  /** ASCII-safe text normalization — the standard pre-dedup cleanup pass:
   * lowercase, ASCII control chars (0x00-0x1f, 0x7f) to spaces,
   * whitespace runs collapsed to one space, ends trimmed. Returns
   * (id, norm_text, n_chars, n_chars_norm). Deliberately NOT Unicode
   * NFC/case-folding: JVM and SQL engines ship different Unicode tables,
   * so full folding is not portably replayable — ASCII rules are, and
   * they cover the dominant web-corpus cleanup (stray controls, tab/NL
   * soup, double spaces). Pure per-row codegen projections. */
  def normalize(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cleaned = trim(regexp_replace(regexp_replace(
      lower(col(textCol)), "[\\x00-\\x1f\\x7f]", " "), "\\s+", " "))
    df.select(col(idCol), cleaned.as("norm_text"),
      length(col(textCol)).cast("long").as("n_chars"),
      length(cleaned).cast("long").as("n_chars_norm"))
  }

  /** BPE-ish subword token count: runs of letters, runs of digits, and
   * individual other non-space characters each count as one token (the
   * class-based approximation of byte-pair pretokenization; regex is
   * dialect-neutral so SQL oracles reproduce it). */
  def regexTokenCount(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      size(regexp_extract_all(col(textCol), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0)))
        .cast("long").as("n_bpe_tokens"))

  /** Occurrences of `kw` in `text` by length arithmetic (exactly
   * reproducible in any SQL engine: (len(t)-len(replace(t,kw)))/len(kw)). */
  def countOccurrences(text: Column, kw: String): Column =
    ((length(text) - length(replace(text, lit(kw), lit("")))) / kw.length).cast("int")

  /** Stopword-marker language id: per language, score = total occurrences
   * of its marker words; predict the max-scoring language, ties to the
   * lexicographically smallest. Returns (id, pred_lang). */
  def languageId(df: DataFrame, idCol: String, textCol: String,
      markers: Map[String, Seq[String]] = defaultMarkers): DataFrame = {
    val t = concat(lit(" "), col(textCol), lit(" "))
    val scoreCols = markers.toSeq.sortBy(_._1).map { case (lang, kws) =>
      struct(
        (-kws.map(k => countOccurrences(t, s" $k ")).reduce(_ + _)).as("negScore"),
        lit(lang).as("lang"))
    }
    df.select(col(idCol),
      array_min(array(scoreCols: _*)).getField("lang").as("pred_lang"))
  }

  val defaultMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "die"),
    "fr" -> Seq("le", "et", "les"),
    "es" -> Seq("el", "y", "los"),
    "zh" -> Seq("de", "shi", "le"))

  /** Quality metrics: (id, n_tokens, n_chars, avg_token_len, stop_ratio). */
  def quality(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "is")): DataFrame = {
    val toks = tokens(col(textCol))
    val nTok = size(toks)
    val nStop = stopwords.map(w =>
      size(filter(toks, t => t === w))).reduce(_ + _)
    df.select(
      col(idCol),
      nTok.cast("long").as("n_tokens"),
      length(col(textCol)).cast("long").as("n_chars"),
      round(aggregate(toks, lit(0L), (acc, t) => acc + length(t)) /
        greatest(nTok, lit(1)).cast("double"), 4).as("avg_token_len"),
      round(nStop / greatest(nTok, lit(1)).cast("double"), 4).as("stop_ratio"))
  }

  /** Within-document repetition: the fraction of duplicate `n`-word
   * shingles (the Gopher-style repetition quality rule — high values mean
   * boilerplate or degenerate generation loops). (id, rep_ratio 4dp);
   * 0.0 for documents too short to shingle. Pure narrow projection. */
  def repetitionRatio(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2): DataFrame = {
    val sh = wordShingles(col(textCol), n)
    df.select(col(idCol),
      round(when(size(sh) > 0,
          lit(1.0) - size(array_distinct(sh)) / size(sh).cast("double"))
        .otherwise(lit(0.0)), 4).as("rep_ratio"))
  }

  /** Smoothed TF-IDF top terms per document:
   * `weight = tf * (ln((N+1)/(df+1)) + 1)` (sklearn-style smoothing, so
   * unseen-term idf stays finite), top `topN` terms per doc by
   * (weight desc, term asc). Returns (id, term, tfidf 4dp, rnk).
   *
   * Scale shape: ONE corpus scan — explode, tf hash aggregation, then
   * document frequency as a partition-only window over term (no second
   * scan/explode branch, no vocabulary broadcast), then the per-doc
   * top-N window (Spark plans it as WindowGroupLimit — rank pushdown,
   * no full per-doc sort materialization). Pass `corpusSize` when N is
   * already known to skip the extra count job. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      topN: Int = 5, corpusSize: Long = -1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = if (corpusSize >= 0) corpusSize else df.count()
    val terms = ensureParallelism(df)
      .select(col(idCol).as("_d_id"), explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy("_d_id", "term").agg(count(lit(1)).as("tf"))
    val weighted = tf
      .withColumn("_df", count(lit(1)).over(Window.partitionBy("term")))
      .select(col("_d_id").as(idCol), col("term"),
        (col("tf") * (log(lit(n + 1.0) / (col("_df") + lit(1))) + lit(1.0))).as("_w"))
    val w = Window.partitionBy(idCol).orderBy(col("_w").desc, col("term").asc)
    weighted.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topN)
      .select(col(idCol), col("term"), round(col("_w"), 4).as("tfidf"), col("rnk"))
  }

  /** Benchmark-contamination check: documents of `corpus` sharing at least
   * one distinct `n`-word shingle with any document of `bench` (an eval /
   * benchmark set). Returns one row per contaminated (corpus doc, bench
   * doc) pair: (idCol, bench_id, n_shared).
   *
   * Scale shape: the benchmark side is tiny relative to a 100 TB corpus,
   * so its shingle index is broadcast — the corpus is a single scan +
   * shingle explode + broadcast hash join, with only the matching
   * (doc, bench) pairs reaching the final aggregation shuffle. */
  def contamination(corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      n: Int = 8): DataFrame = {
    val cs = ensureParallelism(corpus)
      .select(col(idCol).as("_t_id"), explode(wordShingles(col(textCol), n)).as("s"))
      .distinct()
    val bs = bench
      .select(col(benchIdCol).as("bench_id"), explode(wordShingles(col(benchTextCol), n)).as("s"))
      .distinct()
    cs.join(broadcast(bs), "s")
      .groupBy(col("_t_id").as(idCol), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Dialect-neutral PII patterns (no lookaround, RE2- and Java-regex
   * compatible): email addresses, NN-NNN-NNN-NNNN phone numbers, IPv4. */
  val defaultPiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone" -> "\\b[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}\\b",
    "ip" -> "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b")

  /** PII scrubbing: replace every match of each pattern with its
   * `<NAME>` token. Returns (id, clean_text, n_redactions) where
   * n_redactions counts matches against the ORIGINAL text per pattern
   * (applied in order — overlapping pattern families should be ordered
   * most-specific first). Pure narrow projection, scan-speed at 100 TB. */
  def redactPii(df: DataFrame, idCol: String, textCol: String,
      patterns: Seq[(String, String)] = defaultPiiPatterns): DataFrame = {
    val cleaned = patterns.foldLeft(col(textCol)) { case (acc, (name, p)) =>
      regexp_replace(acc, lit(p), lit(s"<${name.toUpperCase}>"))
    }
    val nRed = patterns.map { case (_, p) =>
      size(regexp_extract_all(col(textCol), lit(p), lit(0)))
    }.reduce(_ + _)
    // null text stays null, but counts as zero redactions
    df.select(col(idCol), cleaned.as("clean_text"),
      coalesce(nRed.cast("long"), lit(0L)).as("n_redactions"))
  }

  /** Per-document character-distribution Shannon entropy in bits
   * (low entropy flags degenerate/repetitive text; ~4.1 for English
   * prose). O(len × distinct-chars) per row but a pure codegen
   * projection — no shuffle, no UDF. Summation runs over the SORTED
   * distinct characters so any engine replays the exact IEEE sum.
   * (id, char_entropy 4dp); 0.0 for empty text. */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val chars = filter(split(col(textCol), ""), c => length(c) > 0)
    val nC = size(chars).cast("double")
    val uniq = array_sort(array_distinct(chars))
    val negEnt = aggregate(uniq, lit(0.0), (acc, ch) => {
      val k = size(filter(chars, x => x === ch)).cast("double")
      acc + (k / nC) * log2(k / nC)
    })
    // when() on a null size falls through to otherwise → null/empty text = 0.0
    df.select(col(idCol),
      when(size(chars) > 0, round(-negEnt, 4)).otherwise(lit(0.0)).as("char_entropy"))
  }

  /** Per-group corpus length statistics: count, mean, exact median and
   * exact p95 of token counts (linear-interpolated continuous quantiles —
   * the cross-engine-standard definition). Returns
   * (group, n_docs, mean_tokens, median_tokens, p95_tokens), 4dp.
   * Exact percentiles sort within each group; for groups too large to
   * sort at 100 TB swap in `approx_percentile` (same call shape). */
  def lengthStats(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val nTok = size(tokens(col(textCol))).cast("double")
    df.select(col(groupCol), nTok.as("_n"))
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("_n")), 4).as("mean_tokens"),
        round(percentile(col("_n"), lit(0.5)), 4).as("median_tokens"),
        round(percentile(col("_n"), lit(0.95)), 4).as("p95_tokens"))
  }

  /** Cross-document duplicated `n`-token spans — the reporting half of
   * exact substring dedup ("Deduplicating Training Data Makes Language
   * Models Better", Lee et al. 2022, scaled down from suffix arrays to
   * rolling shingle hashes): every n-word shingle appearing in at least
   * `minDocs` distinct documents, as (span_h, n_docs, n_occ, first_doc).
   * Only (id, 32-char hash) pairs shuffle — never the text — and the
   * group-by runs with map-side partial aggregation, so at 100 TB this is
   * one scan plus one hash agg over ~tokens-per-doc rows. Feed the
   * surviving hashes to a semi-join against the same shingling to locate
   * (or cut) the spans per document. */
  def dupSpans(df0: DataFrame, idCol: String, textCol: String, n: Int = 8,
      minDocs: Int = 2): DataFrame = {
    val df = ensureParallelism(df0)
    df.select(col(idCol).as("_d_id"),
        explode(wordShingles(col(textCol), n)).as("_s"))
      .select(col("_d_id"), md5(col("_s")).as("span_h"))
      .groupBy("span_h")
      .agg(countDistinct(col("_d_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("_d_id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
  }

  /** EXACT maximal cross-document duplicated spans — the precise half of
   * exact substring dedup that [[dupSpans]] only approximates with
   * fixed-width windows ("Deduplicating Training Data Makes Language
   * Models Better", Lee et al. 2022; their suffix array is replaced by
   * capped shingle-bucket seeding + per-pair longest-common-extension,
   * so no suffix structure ever sits in driver memory).
   *
   * For every document position, the LONGEST token span starting there
   * that also appears verbatim in at least one OTHER document, reported
   * only when maximal (not contained in a longer duplicated span — a
   * span survives iff its predecessor position cannot be extended over
   * it: pos = 0 or len(pos−1) < len(pos)+1, which is sufficient because
   * any containing span's suffix starting at pos−1 would itself be a
   * duplicated span). Returns (doc_id-typed idCol, pos, len, span),
   * len ≥ `seedTokens` (shorter duplicates are below the operator's
   * minimum-span contract, mirroring Lee et al.'s length threshold).
   *
   * Construction, every stage an equi-join or hash aggregation:
   *  1. seeding: positions whose `seedTokens`-token window appears in
   *     ≥2 docs form cross-doc candidate pairs via ONE bucket
   *     self-join — buckets wider than `maxBucket` positions are
   *     boilerplate (mine them with [[topNgrams]]) and are dropped, the
   *     cap that keeps the pair fan-out linear-ish at corpus scale
   *     (deterministic bucket-level rule, replayed by the oracle);
   *  2. exact match length per pair by longest-common-extension: join
   *     each pair to its two token arrays and compare aligned slices in
   *     one codegen pass (`zip_with` + first-mismatch) — O(matched
   *     length) work per pair, i.e. proportional to the output being
   *     reported, with NO length quantization or cap (a prior
   *     prefix-doubling variant was measured 3-10x slower here: 10
   *     sequential probe joins against corpus-sized key frames, vs two
   *     joins against the doc-array frame);
   *  3. per-position max over partners, predecessor maximality filter,
   *     span text rebuilt by one slice against the source.
   *
   * The heavy shuffles carry ids, positions, and 32-char window hashes;
   * token ARRAYS move only in the two pair→doc joins of stage 2, whose
   * row count is the capped pair count, never the corpus. Per-pair work
   * is bounded by document length — multi-gigabyte single documents
   * would need the doubling construction instead; for corpora of
   * bounded-length documents (the training-data shape) this is the
   * faster exact path. */
  def dupSpansMaximal(df0: DataFrame, idCol: String, textCol: String,
      seedTokens: Int = 8, maxBucket: Int = 256): DataFrame = {
    require(seedTokens >= 1, s"seedTokens must be >= 1, got $seedTokens")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val df = guardDocTokens(ensureParallelism(df0), idCol, textCol,
      "dupSpansMaximal")
    val seed = df.select(col(idCol).as("_d"),
        posexplode(wordShingles(col(textCol), seedTokens)).as(Seq("pos", "_sh")))
      .select(col("_d"), col("pos"), md5(col("_sh")).as("k"))
      .persist()
    val okBuckets = seed.groupBy("k")
      .agg(countDistinct(col("_d")).as("_nd"), count(lit(1)).as("_n"))
      .filter(col("_nd") >= 2 && col("_n") <= maxBucket)
      .select(col("k"))
    val cand = seed.join(okBuckets, "k")
    val pairs = cand.as("x").join(cand.as("y"),
        col("x.k") === col("y.k") && col("x._d") < col("y._d"))
      .select(col("x._d").as("d1"), col("x.pos").as("p1"),
        col("y._d").as("d2"), col("y.pos").as("p2"))
    // longest common extension: L = min remaining lengths; first aligned
    // mismatch bounds the exact match length (array_position is 0 when
    // the slices agree end-to-end)
    // persisted (r14): consumed THREE times (both sides of the pair→doc
    // join and the final span-text slice) — unpersisted, the corpus was
    // re-scanned and re-tokenized per consumer
    val docArr = df.select(col(idCol).as("_d"), tokens(col(textCol)).as("_w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lCol = least(size(col("_w1")) - col("p1"), size(col("_w2")) - col("p2"))
    val firstMismatch = array_position(
      zip_with(slice(col("_w1"), col("p1") + 1, col("_L")),
        slice(col("_w2"), col("p2") + 1, col("_L")),
        (a, b) => a === b),
      false)
    val matched = pairs
      .join(docArr.select(col("_d").as("d1"), col("_w").as("_w1")), Seq("d1"))
      .join(docArr.select(col("_d").as("d2"), col("_w").as("_w2")), Seq("d2"))
      .withColumn("_L", lCol)
      .withColumn("_fm", firstMismatch)
      .select(col("d1"), col("p1"), col("d2"), col("p2"),
        when(col("_fm") === 0, col("_L"))
          .otherwise(col("_fm") - 1).cast("int").as("len"))
    val perPos = matched.select(col("d1").as("_d"), col("p1").as("pos"), col("len"))
      .unionByName(matched.select(col("d2").as("_d"), col("p2").as("pos"), col("len")))
      .groupBy(col("_d"), col("pos")).agg(max(col("len")).as("len"))
      .persist() // self-joined below; without the pin the whole pair stage runs twice
    // maximality: drop spans the predecessor position extends over
    val maximal = perPos.as("c").join(perPos.as("l"),
        col("c._d") === col("l._d") && col("l.pos") === col("c.pos") - 1, "left_outer")
      .filter(col("l.len").isNull || col("l.len") < col("c.len") + 1)
      .select(col("c._d").as("_d"), col("c.pos").as("pos"), col("c.len").as("len"))
    val out = maximal.join(docArr, Seq("_d"))
      .select(col("_d").as(idCol), col("pos"), col("len"),
        concat_ws(" ", slice(col("_w"), col("pos") + 1, col("len"))).as("span"))
    out.cache() // materialize before releasing the stage pins below
    out.count()
    seed.unpersist(false); perPos.unpersist(false); docArr.unpersist(false)
    out
  }

  /** The CUT half of exact substring dedup (Lee et al. 2022): rebuild the
   * corpus with every maximal duplicated span occurrence REMOVED except
   * the globally first one. Composes [[dupSpansMaximal]]:
   *
   *  1. occurrences group by span text (keyed by md5(span) so the group
   *     shuffle carries 32-char hashes, not span text); the winner is the
   *     smallest (doc, pos) — deterministic, replayable;
   *  2. every losing occurrence explodes into its token positions; a doc
   *     token is dropped when covered by ANY losing range (overlapping
   *     ranges union naturally — a kept winner span can still lose
   *     tokens to a DIFFERENT overlapping removed range, the standard
   *     union-of-cuts semantics, stated rather than hidden);
   *  3. text rebuilds from the kept tokens in position order (one
   *     order-preserving aggregation per doc).
   *
   * Returns one row per input document: (idCol, clean_text — "" when
   * everything was cut, n_removed_tokens). Work beyond the span
   * detection is proportional to the REMOVED token count plus one
   * corpus re-tokenization — the rebuild never shuffles more than the
   * corpus' own token rows. */
  def cutDupSpans(df0: DataFrame, idCol: String, textCol: String,
      seedTokens: Int = 8, maxBucket: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = ensureParallelism(df0)
    val spans = dupSpansMaximal(df, idCol, textCol, seedTokens, maxBucket)
    val w = Window.partitionBy(md5(col("span"))).orderBy(col(idCol), col("pos"))
    // removed token positions collapse to ONE array row per touched doc
    // (collect_set dedups overlapping ranges), so the rebuild is a
    // doc-keyed join + a codegen'd indexed filter over each token array —
    // no corpus-wide position explode, anti-join, or struct re-sort
    val remArr = spans.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") > 1)
      .select(col(idCol).as("_d"),
        explode(sequence(col("pos"), col("pos") + col("len") - 1)).as("_tp"))
      .groupBy(col("_d")).agg(collect_set(col("_tp")).as("_rm"))
    val out = df.select(col(idCol).as("_d"), tokens(col(textCol)).as("_w"))
      .join(remArr, Seq("_d"), "left_outer")
      .select(col("_d").as(idCol),
        when(col("_rm").isNull, concat_ws(" ", col("_w")))
          .otherwise(concat_ws(" ",
            filter(col("_w"), (t, i) => !array_contains(col("_rm"), i))))
          .as("clean_text"),
        coalesce(size(col("_rm")).cast("long"), lit(0L)).as("n_removed_tokens"))
    // size() of a NULL array is -1 under legacy conf and null otherwise;
    // the when-guard above makes the coalesce the only consumer
    out.select(col(idCol), col("clean_text"),
      when(col("n_removed_tokens") < 0, lit(0L))
        .otherwise(col("n_removed_tokens")).as("n_removed_tokens"))
  }

  /** Cross-corpus exact span detection — the DECONTAMINATION primitive:
   * for every position of a TRAIN document, the longest token span
   * starting there that appears verbatim in any BENCHMARK document,
   * reported when maximal (same predecessor rule as [[dupSpansMaximal]])
   * and ≥ `seedTokens` long. The construction is the cross-corpus form
   * of [[dupSpansMaximal]]: seed windows hash on BOTH sides, a bucket
   * qualifies when it holds ≥1 train AND ≥1 bench position (total
   * occupancy ≤ `maxBucket` — an over-wide bucket is boilerplate, not
   * contamination), candidate pairs are train×bench within a bucket,
   * and the exact match length comes from one codegen
   * longest-common-extension pass against the two token arrays.
   * Returns (idCol, pos, len, span) over TRAIN documents only. */
  def contaminatedSpans(train0: DataFrame, bench0: DataFrame, idCol: String,
      textCol: String, seedTokens: Int = 8, maxBucket: Int = 256): DataFrame = {
    require(seedTokens >= 1, s"seedTokens must be >= 1, got $seedTokens")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val train = guardDocTokens(ensureParallelism(train0), idCol, textCol,
      "contaminatedSpans")
    val bench = guardDocTokens(ensureParallelism(bench0), idCol, textCol,
      "contaminatedSpans")
    def seeds(df: DataFrame) = df.select(col(idCol).as("_d"),
        posexplode(wordShingles(col(textCol), seedTokens)).as(Seq("pos", "_sh")))
      .select(col("_d"), col("pos"), md5(col("_sh")).as("k"))
    val st = seeds(train).persist()
    val sb = seeds(bench).persist()
    val okBuckets = st.select(col("k"), lit(1L).as("_t"), lit(0L).as("_b"))
      .unionByName(sb.select(col("k"), lit(0L).as("_t"), lit(1L).as("_b")))
      .groupBy("k")
      .agg(sum(col("_t")).as("_nt"), sum(col("_b")).as("_nb"))
      .filter(col("_nt") >= 1 && col("_nb") >= 1 &&
        col("_nt") + col("_nb") <= maxBucket)
      .select(col("k"))
    val pairs = st.join(okBuckets, "k").as("x")
      .join(sb.join(okBuckets, "k").as("y"), col("x.k") === col("y.k"))
      .select(col("x._d").as("d1"), col("x.pos").as("p1"),
        col("y._d").as("d2"), col("y.pos").as("p2"))
    // trainArr persisted (r14): consumed twice (pair→doc join + final
    // span-text slice); benchArr has a single consumer and stays lazy
    val trainArr = train.select(col(idCol).as("_d"), tokens(col(textCol)).as("_w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val benchArr = bench.select(col(idCol).as("_d"), tokens(col(textCol)).as("_w"))
    val lCol = least(size(col("_w1")) - col("p1"), size(col("_w2")) - col("p2"))
    val firstMismatch = array_position(
      zip_with(slice(col("_w1"), col("p1") + 1, col("_L")),
        slice(col("_w2"), col("p2") + 1, col("_L")),
        (a, b) => a === b),
      false)
    val matched = pairs
      .join(trainArr.select(col("_d").as("d1"), col("_w").as("_w1")), Seq("d1"))
      .join(benchArr.select(col("_d").as("d2"), col("_w").as("_w2")), Seq("d2"))
      .withColumn("_L", lCol)
      .withColumn("_fm", firstMismatch)
      .select(col("d1"), col("p1"),
        when(col("_fm") === 0, col("_L"))
          .otherwise(col("_fm") - 1).cast("int").as("len"))
    // per-TRAIN-position max over bench partners + predecessor maximality
    val perPos = matched.groupBy(col("d1").as("_d"), col("p1").as("pos"))
      .agg(max(col("len")).as("len"))
      .persist()
    val maximal = perPos.as("c").join(perPos.as("l"),
        col("c._d") === col("l._d") && col("l.pos") === col("c.pos") - 1, "left_outer")
      .filter(col("l.len").isNull || col("l.len") < col("c.len") + 1)
      .select(col("c._d").as("_d"), col("c.pos").as("pos"), col("c.len").as("len"))
    val out = maximal.join(trainArr, Seq("_d"))
      .select(col("_d").as(idCol), col("pos"), col("len"),
        concat_ws(" ", slice(col("_w"), col("pos") + 1, col("len"))).as("span"))
    out.cache()
    out.count() // materialize before releasing the stage pins
    st.unpersist(false); sb.unpersist(false); perPos.unpersist(false)
    trainArr.unpersist(false)
    out
  }

  /** Decontamination cut: rebuild the TRAIN corpus with every
   * benchmark-contaminated span occurrence removed — unlike
   * [[cutDupSpans]] there is no keep-first winner: contamination all
   * goes (Lee et al. / GPT-3-style span decontamination rather than
   * dedup). Returns one row per train document:
   * (idCol, clean_text — "" when everything was cut, n_removed_tokens).
   * Overlapping removed ranges union naturally; work beyond detection is
   * proportional to the removed token count plus one re-tokenization. */
  def cutContaminated(train0: DataFrame, bench0: DataFrame, idCol: String,
      textCol: String, seedTokens: Int = 8, maxBucket: Int = 256): DataFrame = {
    val train = ensureParallelism(train0)
    val spans = contaminatedSpans(train, bench0, idCol, textCol, seedTokens, maxBucket)
    val remArr = spans
      .select(col(idCol).as("_d"),
        explode(sequence(col("pos"), col("pos") + col("len") - 1)).as("_tp"))
      .groupBy(col("_d")).agg(collect_set(col("_tp")).as("_rm"))
    val out = train.select(col(idCol).as("_d"), tokens(col(textCol)).as("_w"))
      .join(remArr, Seq("_d"), "left_outer")
      .select(col("_d").as(idCol),
        when(col("_rm").isNull, concat_ws(" ", col("_w")))
          .otherwise(concat_ws(" ",
            filter(col("_w"), (t, i) => !array_contains(col("_rm"), i))))
          .as("clean_text"),
        coalesce(size(col("_rm")).cast("long"), lit(0L)).as("n_removed_tokens"))
    out.select(col(idCol), col("clean_text"),
      when(col("n_removed_tokens") < 0, lit(0L))
        .otherwise(col("n_removed_tokens")).as("n_removed_tokens"))
  }

  /** Corpus-wide top-`k` `n`-grams by occurrence (boilerplate mining):
   * (ngram, n_occ, n_docs, rank), rank 1 = most frequent, ties broken by
   * ngram ascending so the cut is deterministic. The heavy stage is one
   * hash aggregation with map-side partials keyed by n-gram; the top-k is
   * a TakeOrdered (per-partition heaps + driver merge of k rows), never a
   * global sort — at 100 TB nothing but the k winners leaves the
   * aggregation. Mined phrases feed stop-shingle caps ([[Dedup.ngramJaccard]]
   * `maxDocFreq`) or boilerplate strip lists. */
  def topNgrams(df0: DataFrame, idCol: String, textCol: String, n: Int = 2,
      k: Int = 20): DataFrame = {
    val df = ensureParallelism(df0)
    import org.apache.spark.sql.expressions.Window
    val counted = df.select(col(idCol).as("_d_id"),
        explode(wordShingles(col(textCol), n)).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("_d_id")).as("n_docs"))
      .orderBy(col("n_occ").desc, col("ngram").asc)
      .limit(k)
    // the window ranks only the k surviving rows — single tiny partition
    counted.withColumn("rank",
      row_number().over(Window.orderBy(col("n_occ").desc, col("ngram").asc)))
  }

  /** Winnowing-style document fingerprint: hash all `n`-word shingles,
   * keep the deterministic 1/8 sample (hash suffix in {0,1}), and hash the
   * sorted selection. Near-identical documents collide with high
   * probability; any engine with md5 reproduces it bit-for-bit. */
  def fingerprint(df0: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val df = ensureParallelism(df0)
    val hashes = graft.expressions.TextHash.md5Each(wordShingles(col(textCol), n))
    val selected = filter(hashes, h => substring(h, 32, 1).isin("0", "1"))
    df.select(col(idCol),
      md5(concat_ws("", array_sort(selected))).as("fingerprint"))
  }

  /** Corpus-trained bigram language-model score per document — the
   * perplexity-style quality filter of CCNet/Wenzek et al. without an
   * external model: documents whose word transitions are improbable under
   * the corpus's own bigram statistics (gibberish, boilerplate soup,
   * wrong-language fragments) score low and can be threshold-filtered.
   *
   * score(d) = mean over d's bigrams (w1,w2) of
   *   ln (C(w1,w2) + α) / (C(w1·) + α·V)
   * with add-α smoothing over the bigram CONTEXT vocabulary V (#distinct
   * w1). Documents with fewer than 2 tokens score 0. Returns
   * (idCol, n_bigrams, lm_score 4dp).
   *
   * Scale shape: ONE corpus scan explodes bigrams; C(w1,w2) is a hash
   * aggregation keyed by the joined shingle string, C(w1·) derives from
   * it by a second re-aggregation of the SAME counted frame, and the
   * context-vocabulary size V rides as a broadcast single-row aggregate —
   * fully lazy (no plan-build-time job) and the shared count subtree
   * deduplicates via exchange reuse instead of re-scanning the corpus.
   * Per-doc scoring joins doc bigrams against the count tables on their
   * natural keys — fixed-width rows, no vocabulary broadcast required,
   * AQE splits hot-token partitions. */
  def bigramLmScore(df0: DataFrame, idCol: String, textCol: String,
      alpha: Double = 0.5): DataFrame = {
    val df = ensureParallelism(df0)
    // (doc, "w1 w2") occurrences — every doc bigram, duplicates kept
    val docBigrams = df.select(col(idCol).as("_d_id"),
      explode(wordShingles(col(textCol), 2)).as("_bg"))
    val bgCounts = docBigrams.groupBy("_bg").agg(count(lit(1)).as("_c2"))
    // context counts and vocab from the COUNTED frame: Σ C(w1,w2) over w2
    val w1Counts = bgCounts
      .select(substring_index(col("_bg"), " ", 1).as("_w1"), col("_c2"))
      .groupBy("_w1").agg(sum(col("_c2")).as("_c1"))
    val vRow = w1Counts.agg(count(lit(1)).cast("double").as("_v"))
    val scored = docBigrams
      .join(bgCounts, Seq("_bg"))
      .join(w1Counts.withColumnRenamed("_w1", "_bg_w1"),
        substring_index(col("_bg"), " ", 1) === col("_bg_w1"))
      .crossJoin(broadcast(vRow))
      .select(col("_d_id"),
        log((col("_c2") + lit(alpha)) / (col("_c1") + lit(alpha) * col("_v"))).as("_lp"))
      .groupBy("_d_id")
      .agg(count(lit(1)).as("n_bigrams"), avg(col("_lp")).as("_s"))
    // left join restores docs with < 2 tokens at score 0
    df.select(col(idCol)).join(scored.withColumnRenamed("_d_id", idCol), Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(coalesce(col("_s"), lit(0.0)), 4).as("lm_score"))
  }

  /** DSIR-style importance weights (Xie et al., "Data Selection for
   * Language Models via Importance Resampling", NeurIPS 2023): score each
   * document by how target-like its HASHED BIGRAM distribution is. Every
   * bigram hashes to one of `buckets` cells (60-bit md5 fraction mod B,
   * replayable in any engine); the per-doc log importance weight is
   * Σ_b n_d(b) · (log p̂_tgt(b) − log p̂_raw(b)) with add-`alpha` smoothed
   * bucket unigram estimates — p̂(b) = (c(b) + α) / (N + α·B). `targetPred`
   * marks the in-domain rows (the target sample); the raw distribution is
   * the whole input. Returns (idCol, n_bigrams, log_weight 6dp); docs
   * with < 2 tokens weigh 0. Rank/resample on log_weight downstream.
   *
   * Scale shape: the two histograms are GLOBAL B-cell aggregates (B ≤ 2^20
   * — a fixed-size side table at any corpus size) joined back to the
   * per-doc bucket counts via broadcast; one corpus scan feeds both
   * histograms and the doc counts, and nothing ever shuffles the raw
   * token stream — only (doc, bucket, n) rows. The (doc, bucket, n)
   * frame stays persisted after the call (both histograms and the scores
   * read it): call [[graft.pipeline.releaseShared]] on the result when
   * done, or repeated calls in a long-lived session pin one frame each
   * until LRU eviction — same contract as [[tfCosinePairs]] and the
   * Dedup/Recommend shared-frame ops. */
  def dsirWeights(df0: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int = 1024, alpha: Double = 0.5): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets out of [2, ${1 << 20}]: $buckets — the histograms are broadcast")
    require(alpha > 0, s"alpha must be > 0: $alpha")
    val df = ensureParallelism(df0)
    val b = pmod(conv(substring(md5(col("_bg")), 1, 15), 16, 10).cast("long"),
      lit(buckets.toLong))
    val docB = df.select(col(idCol).as("_d_id"), targetPred.as("_tgt"),
        explode(wordShingles(col(textCol), 2)).as("_bg"))
      .select(col("_d_id"), col("_tgt"), b.as("_b"))
      .groupBy("_d_id", "_tgt", "_b").agg(count(lit(1)).as("_n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // both histograms fold the already-aggregated (doc, bucket, n) frame —
    // the raw token stream is aggregated exactly once
    val hist = docB.groupBy("_b").agg(
      sum(when(col("_tgt"), col("_n")).otherwise(lit(0L))).as("_ct"),
      sum(col("_n")).as("_cr"))
    val totals = hist.agg(sum(col("_ct")).cast("double").as("_nt"),
      sum(col("_cr")).cast("double").as("_nr"))
    val aB = lit(alpha * buckets)
    val scored = docB
      .join(broadcast(hist), Seq("_b"))
      .crossJoin(broadcast(totals))
      .select(col("_d_id"), col("_n"),
        (col("_n") * (log((col("_ct") + lit(alpha)) / (col("_nt") + aB)) -
          log((col("_cr") + lit(alpha)) / (col("_nr") + aB)))).as("_lw"))
      .groupBy("_d_id")
      .agg(sum(col("_n")).as("n_bigrams"), sum(col("_lw")).as("_s"))
    df.select(col(idCol)).join(scored.withColumnRenamed("_d_id", idCol),
        Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(coalesce(col("_s"), lit(0.0)), 6).as("log_weight"))
  }

  /** Frequency vocabulary + out-of-vocabulary rate — the tokenizer-prep
   * diagnostic: build the top-`vocabSize` corpus tokens (by occurrence
   * count desc, token asc on ties) and report, per document, the fraction
   * of token occurrences outside that vocabulary. Returns
   * (idCol, n_tokens, oov_rate 4dp); empty documents rate 0.
   *
   * Scale shape: one corpus scan + token hash aggregation; the vocabulary
   * itself is top-K of the aggregate (TakeOrdered — no global sort) and is
   * small by construction, so the per-doc membership probe is a BROADCAST
   * join of the exploded tokens — the corpus shuffles only its per-doc
   * aggregation, never the token stream. */
  def vocabOovRate(df0: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 1000): DataFrame = {
    val df = ensureParallelism(df0)
    val docTokens = df.select(col(idCol).as("_d_id"),
      explode(tokens(col(textCol))).as("_tok"))
    val vocab = docTokens.groupBy("_tok").agg(count(lit(1)).as("_tc"))
      .orderBy(col("_tc").desc, col("_tok").asc).limit(vocabSize)
      .select(col("_tok"), lit(1).as("_in_v"))
    val rates = docTokens
      .join(broadcast(vocab), Seq("_tok"), "left_outer")
      .groupBy("_d_id")
      .agg(count(lit(1)).as("n_tokens"),
        avg(when(col("_in_v").isNull, 1.0).otherwise(0.0)).as("_r"))
    df.select(col(idCol)).join(rates.withColumnRenamed("_d_id", idCol), Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round(coalesce(col("_r"), lit(0.0)), 4).as("oov_rate"))
  }

  /**
   * RAG-style document chunking: split `textCol` into overlapping
   * word-window chunks of `chunkWords` words with `overlapWords` words
   * of context carried between consecutive chunks (stride = chunk −
   * overlap). Returns one row per chunk: (idCol, chunk_idx, chunk_text,
   * n_words) — the retrieval-corpus preparation step feeding the
   * embedding + ANN operators. Narrow generate (scan-speed, no shuffle);
   * chunk boundaries are a pure function of the text, stable under
   * retries and repartitioning.
   */
  def chunk(df0: DataFrame, idCol: String, textCol: String,
      chunkWords: Int = 64, overlapWords: Int = 16): DataFrame = {
    require(chunkWords > 0, s"chunkWords must be positive: $chunkWords")
    require(overlapWords >= 0 && overlapWords < chunkWords,
      s"need 0 <= overlapWords < chunkWords, got $overlapWords/$chunkWords")
    val stride = chunkWords - overlapWords
    val ws = filter(split(col(textCol), "\\s+"), t => length(t) > 0)
    // last start: the first position whose chunk reaches the text end —
    // no trailing chunk that is a pure suffix of its predecessor
    val chunks = Dedup.bindOnce(ws, w =>
      transform(sequence(lit(0),
          greatest(floor((size(w) - 1 - overlapWords) / stride), lit(0)).cast("int")),
        i => struct(
          array_join(slice(w, i * stride + 1, lit(chunkWords)), " ").as("t"),
          least(size(w) - i * stride, lit(chunkWords)).as("n"))))
    df0.select(col(idCol), posexplode(chunks).as(Seq("chunk_idx", "_c")))
      .select(col(idCol), col("chunk_idx"),
        col("_c.t").as("chunk_text"), col("_c.n").cast("long").as("n_words"))
  }

  /** Collocation mining by pointwise mutual information: adjacent-token
   * bigrams scored PMI = ln((c₁₂/M) / ((c₁/N)(c₂/N))) over exact corpus
   * counts (N tokens, M bigrams), the association statistic behind
   * collocation extraction and tokenizer-merge seeding — a frequent pair
   * of frequent words ("of the") scores LOW where a bound phrase scores
   * high, the opposite cut from [[topNgrams]]' raw frequency. The top-k
   * cut is a distributed `ORDER BY (pmi desc, w1, w2) LIMIT k` — total
   * order, no single-partition window; two one-row count probes feed the
   * N/M literals. Float ops: one division chain + one `ln` per surviving
   * pair; exact-count ties score bit-equal and break on (w1, w2).
   * Returns (w1, w2, pair_count, pmi). */
  def pmiBigrams(df: DataFrame, idCol: String, textCol: String,
      minCount: Int = 3, topK: Int = 20): DataFrame = {
    val toks = df.select(tokens(col(textCol)).as("_ws")).filter(size(col("_ws")) > 0)
    val bg = toks.filter(size(col("_ws")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("_ws")) - 1),
        i => struct(element_at(col("_ws"), i).as("w1"),
          element_at(col("_ws"), i + 1).as("w2")))).as("_p"))
      .select(col("_p.w1"), col("_p.w2"))
      .persist()
    val uni = toks.select(explode(col("_ws")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c")).persist()
    val n = uni.agg(sum("c")).head().getLong(0)
    val m = bg.count()
    val pair = bg.groupBy("w1", "w2").agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= minCount)
    val out = pair
      .join(uni.select(col("tok").as("w1"), col("c").as("_c1")), "w1")
      .join(uni.select(col("tok").as("w2"), col("c").as("_c2")), "w2")
      .select(col("w1"), col("w2"), col("pair_count"),
        log((col("pair_count").cast("double") / lit(m.toDouble)) /
          ((col("_c1").cast("double") / lit(n.toDouble)) *
            (col("_c2").cast("double") / lit(n.toDouble)))).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
    val materialized = out.localCheckpoint(true)
    bg.unpersist(false); uni.unpersist(false)
    materialized
  }

  /** Gopher-style composite document quality rules (Rae et al. 2021,
   * arXiv:2112.11446 §A1.1): word-count bounds, mean-word-length bounds,
   * symbol-to-word ratio (`#` and `...`), bullet-line and ellipsis-line
   * fractions, alphabetic-word fraction, required-stopword presence.
   * Every ratio test is an exact integer CROSS-MULTIPLICATION (e.g.
   * `100·n_bullet ≤ maxBulletPct·n_lines`) — no division anywhere, so
   * every flag replays bit-identically in any engine, and the thresholds
   * are honest percentages, not floats. Returns one row per document:
   * the raw counts (auditable — a cut gated on `keep` can be explained
   * from the same row), the seven flags, and `keep` = AND of all.
   * Null text scores as empty (keep = false via the word-count rule).
   *
   * Scale: ONE codegen Project over the corpus scan — no shuffle, no
   * joins; the stopword list fans out as `array_contains` literals
   * (keep it a word list, not a dictionary). */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minAvgWordLen: Int = 3, maxAvgWordLen: Int = 10,
      maxSymbolPct: Int = 10, maxBulletPct: Int = 90,
      maxEllipsisPct: Int = 30, minAlphaPct: Int = 80,
      minStopwords: Int = 2,
      stopwords: Seq[String] = Seq("the", "be", "to", "of", "and",
        "that", "have", "with")): DataFrame = {
    require(minWords >= 0 && maxWords >= minWords,
      s"need 0 <= minWords <= maxWords, got $minWords..$maxWords")
    require(minAvgWordLen >= 0 && maxAvgWordLen >= minAvgWordLen,
      s"need 0 <= minAvgWordLen <= maxAvgWordLen, got $minAvgWordLen..$maxAvgWordLen")
    require(stopwords.nonEmpty, "stopwords must be non-empty")
    val t = coalesce(col(textCol), lit(""))
    val base = df.select(col(idCol), t.as("_t"),
      tokens(t).as("_w"), split(t, "\n").as("_ln"))
    val nW = size(col("_w")).cast("long")
    val nChars = aggregate(col("_w"), lit(0L), (acc, w) => acc + length(w))
    val nAlpha = size(filter(col("_w"), w => w.rlike("[A-Za-z]"))).cast("long")
    val nSym = (countOccurrences(col("_t"), "#") +
      countOccurrences(col("_t"), "...")).cast("long")
    val nLines = size(col("_ln")).cast("long")
    val bullets = Seq("•", "- ", "* ")
    val nBullet = size(filter(col("_ln"), l =>
      bullets.map(b => ltrim(l).startsWith(b)).reduce(_ || _))).cast("long")
    val nEll = size(filter(col("_ln"), l =>
      rtrim(l).endsWith("...") || rtrim(l).endsWith("…"))).cast("long")
    val nStop = stopwords.map(w =>
      when(array_contains(col("_w"), w), 1L).otherwise(0L)).reduce(_ + _)
    val counted = base.select(col(idCol),
      nW.as("n_words"), nChars.as("n_word_chars"), nAlpha.as("n_alpha_words"),
      nSym.as("n_symbols"), nLines.as("n_lines"),
      nBullet.as("n_bullet_lines"), nEll.as("n_ellipsis_lines"),
      nStop.as("n_stopwords_found"))
    val okWords = col("n_words") >= minWords && col("n_words") <= maxWords
    val okLen = col("n_word_chars") >= lit(minAvgWordLen.toLong) * col("n_words") &&
      col("n_word_chars") <= lit(maxAvgWordLen.toLong) * col("n_words")
    val okSym = lit(100L) * col("n_symbols") <= lit(maxSymbolPct.toLong) * col("n_words")
    val okBul = lit(100L) * col("n_bullet_lines") <= lit(maxBulletPct.toLong) * col("n_lines")
    val okEll = lit(100L) * col("n_ellipsis_lines") <= lit(maxEllipsisPct.toLong) * col("n_lines")
    val okAlpha = lit(100L) * col("n_alpha_words") >= lit(minAlphaPct.toLong) * col("n_words")
    val okStop = col("n_stopwords_found") >= minStopwords
    counted.select(col(idCol), col("n_words"), col("n_word_chars"),
      col("n_alpha_words"), col("n_symbols"), col("n_lines"),
      col("n_bullet_lines"), col("n_ellipsis_lines"), col("n_stopwords_found"),
      okWords.as("ok_word_count"), okLen.as("ok_word_length"),
      okSym.as("ok_symbol_ratio"), okBul.as("ok_bullets"),
      okEll.as("ok_ellipsis"), okAlpha.as("ok_alpha_words"),
      okStop.as("ok_stopwords"),
      (okWords && okLen && okSym && okBul && okEll && okAlpha && okStop)
        .as("keep"))
  }
}
