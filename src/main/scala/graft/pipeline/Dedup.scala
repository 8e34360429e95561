package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.
 *
 * Scale design:
 *  - exact dedup is a single hash aggregation on the content hash (map-side
 *    partial agg; no row ever carries the full text through the shuffle);
 *  - minhash signatures are computed per-row over the in-row shingle array
 *    (no explode); shingling, the minhash lanes and simhash are fused
 *    codegen kernels ([[graft.expressions.TextHash]]) that hash each key
 *    once with a reused digest. Only the tiny (id, band, hash) table
 *    shuffles, and candidate pairs come from a bucket self-join whose
 *    fan-out is bounded by bucket size (AQE splits skewed buckets);
 *  - all hashing is md5-based → deterministic, retry-safe, and exactly
 *    reproducible by any SQL oracle.
 */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Doc-frequency above which an uncapped [[ngramJaccard]] warns: a
   * shingle in 10⁴ docs already fans the pair join out 10⁸. */
  private[graft] val hotShingleThreshold = 10000L

  /** Fraction of documents the hot-shingle probe samples. A shingle over
   * [[hotShingleThreshold]] appears ≥ 50 expected times in a 0.5% sample
   * (Poisson-concentrated — detection is statistically certain), while
   * the probe scan shrinks 200×; corpora too small for the sample to be
   * meaningful are also too small to cross the 10⁴-doc threshold. */
  private[graft] val hotShingleProbeFraction = 0.005

  /** The warning an uncapped [[ngramJaccard]] emits when the probe finds a
   * shingle hotter than `threshold`; None below it. `estimated` marks a
   * sampled probe (doc frequency scaled up from the sample). Pure —
   * unit-testable without capturing log output. */
  private[graft] def hotShingleWarning(maxDf: Long, threshold: Long,
      estimated: Boolean = false): Option[String] =
    if (maxDf > threshold)
      Some(s"ngramJaccard: hottest shingle appears in ${
        if (estimated) "an estimated " else ""}$maxDf documents " +
        s"(> $threshold) and maxDocFreq is unset — the pair join fans out " +
        s"~${maxDf}² on it. Set maxDocFreq to cap stop-shingles (exact " +
        "Jaccard denominators are preserved) or probeHotShingles=false to " +
        "silence this probe.")
    else None

  /** Exact dedup by content hash: (id, fp, keep_id) where keep_id is the
   * minimum id sharing the same fingerprint. */
  def exact(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame = {
    val fp = md5(concat_ws("", contentCols.map(col): _*))
    df.select(col(idCol), fp.as("fp"))
      .withColumn("keep_id", min(col(idCol)).over(Window.partitionBy("fp")))
  }

  /** Blocked fuzzy duplicate pairs — the classic record-linkage /
   * entity-resolution shape (Fellegi–Sunter blocking + exact verify):
   * rows sharing a `blockKey` value become candidate pairs; candidates
   * are verified with an exact Levenshtein edit distance ≤ `maxDist`
   * over `textCol` (Spark's codegen'd `levenshtein`, replayed
   * identically by any SQL engine). Blocking is what makes this scale:
   * the quadratic verify is confined to within-block pairs, and blocks
   * wider than `maxBlock` rows are dropped entirely — an over-coarse
   * block key (everything in one bucket) fails VISIBLY as dropped
   * blocks instead of melting an executor with an accidental
   * cross-join. Returns (id_a, id_b, dist) with id_a < id_b. */
  def fuzzyPairs(df: DataFrame, idCol: String, textCol: String,
      blockKey: Column, maxDist: Int, maxBlock: Int = 10000): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0: $maxDist")
    require(maxBlock >= 2, s"maxBlock must be >= 2: $maxBlock")
    val t = df.select(col(idCol).as("_id"), col(textCol).as("_t"),
      blockKey.as("_blk"))
    val keptBlocks = t.groupBy("_blk").agg(count(lit(1)).as("_w"))
      .filter(col("_w") <= maxBlock).select("_blk")
    // both self-join sides read the block-filtered frame — persist it
    // (the ngramJaccard shared-frame discipline); release after consuming
    // via [[graft.pipeline.releaseShared]]
    val kept = t.join(keptBlocks, "_blk")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the verify runs ONCE per candidate pair: the distance is
    // computed inside a single explode(filter(array(...))) expression
    // whose empty array drops rejected pairs — a `withColumn` + Filter
    // spelling evaluates levenshtein TWICE, because predicate pushdown
    // inlines the alias into the filter condition and Filter/Project are
    // separate operators (codegen CSE never spans them; see [[bindOnce]]).
    // r14: the THRESHOLDED levenshtein (Spark 3.5+) runs the banded DP —
    // O(len·maxDist) per pair instead of O(len²) — returning the EXACT
    // distance when ≤ maxDist and -1 past the band, so `d >= 0` keeps
    // precisely the rows the full distance kept (identical output, the
    // per-pair verify cost drops ~len/maxDist-fold)
    kept.as("a").join(kept.as("b"), "_blk")
      .filter(col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        explode(filter(array(
          levenshtein(col("a._t"), col("b._t"), maxDist).cast("int")),
          d => d >= 0)).as("dist"))
  }

  /** Multi-key blocking overload — the standard multi-PASS blocking of
   * record linkage: a pair becomes a candidate when the two rows share
   * the value of ANY of the `blockKeys` (union of per-key blocks), which
   * rescues recall when a single key is brittle (a typo in the prefix
   * hides a dup the phonetic key still catches). Null key values never
   * block. Scale shape: candidates are DEDUPED across keys BEFORE the
   * verify, so the O(len²) distance runs once per distinct pair however
   * many keys propose it; each key's blocks respect `maxBlock`
   * independently (over-wide blocks drop loudly, as in the single-key
   * path). Returns (id_a, id_b, dist) with id_a < id_b. */
  def fuzzyPairs(df: DataFrame, idCol: String, textCol: String,
      blockKeys: Seq[Column], maxDist: Int, maxBlock: Int): DataFrame = {
    require(blockKeys.nonEmpty, "blockKeys must be non-empty")
    require(maxDist >= 0, s"maxDist must be >= 0: $maxDist")
    require(maxBlock >= 2, s"maxBlock must be >= 2: $maxBlock")
    val base = df.select(col(idCol).as("_id"), col(textCol).as("_t"))
    // (key-index, key-value) pairs: the index keeps key spaces disjoint,
    // so identical values under DIFFERENT keys never merge into one block
    val keyed = df.select(col(idCol).as("_id"),
        posexplode(array(blockKeys.map(_.cast("string")): _*))
          .as(Seq("_ki", "_blk")))
      .filter(col("_blk").isNotNull)
    val keptBlocks = keyed.groupBy("_ki", "_blk").agg(count(lit(1)).as("_w"))
      .filter(col("_w") <= maxBlock).select("_ki", "_blk")
    val kept = keyed.join(keptBlocks, Seq("_ki", "_blk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = kept.as("a").join(kept.as("b"), Seq("_ki", "_blk"))
      .filter(col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
    cand
      .join(base.select(col("_id").as("id_a"), col("_t").as("_ta")), "id_a")
      .join(base.select(col("_id").as("id_b"), col("_t").as("_tb")), "id_b")
      .select(col("id_a"), col("id_b"),
        // banded thresholded levenshtein — see the single-key overload
        explode(filter(array(
          levenshtein(col("_ta"), col("_tb"), maxDist).cast("int")),
          d => d >= 0)).as("dist"))
  }

  /** Let-binding for Column expressions: evaluates `value` exactly once
   * per row and hands it to `body` as a higher-order-function lambda
   * variable. An aliased intermediate column is NOT a safe way to share an
   * expensive expression — project collapsing can inline the alias into
   * every consumer, and codegen subexpression elimination looks neither
   * inside conditional branches nor across operators, so each copy would
   * be another shingle scan or another set of minhash lanes per row. A
   * lambda variable is bound once by construction and no rewrite
   * duplicates it. */
  private[pipeline] def bindOnce(value: Column, body: Column => Column): Column =
    element_at(transform(array(value), body), 1)

  /** Minhash signature (array<string> of `numHashes` md5-minima; lane h
   * is the smallest md5("h|" + shingle), null when no shingle) over a
   * shingle-array column. One codegen kernel
   * ([[graft.expressions.MinhashLanes]]) hashes every shingle once per
   * lane into a reused digest and hex-encodes only each lane's winner. */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    graft.expressions.TextHash.minhashLanes(shingles, numHashes)

  /** Persistable MinHash index: ONE compact row per document —
   * (idCol, sig: array<string>, buckets: array<struct<band:int,bh:string>>).
   * Save it as parquet next to the deduplicated corpus and every future
   * batch joins against `buckets` without ever re-reading corpus text —
   * the index is ~(numHashes·32 + bands·36) bytes/doc regardless of
   * document size. Documents with no shingles are excluded.
   *
   * The whole row is computed by ONE expression: the shingle array
   * ([[Text.wordShingles]]) and the 16-lane signature
   * ([[minhashSignature]]) are codegen kernels, lambda-bound
   * ([[bindOnce]]) so each evaluates once per row, and the result passes
   * through an `explode` Generate barrier so downstream project collapsing
   * cannot re-inline the signature into the 8 band hashes (measured 18×
   * per-row re-evaluation without it). */
  def minhashIndex(df0: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val df = ensureParallelism(df0)
    val numHashes = bands * rowsPerBand
    def bandStructs(sig: Column) = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|", slice(sig, b * rowsPerBand + 1, rowsPerBand))).as("bh"))
    }: _*)
    val packed = bindOnce(Text.wordShingles(col(textCol), n), sh =>
      when(size(sh) > 0,
        bindOnce(minhashSignature(sh, numHashes), sig =>
          struct(sig.as("sig"), bandStructs(sig).as("buckets")))))
    df.select(col(idCol), explode(array(packed)).as("_p"))
      .filter(col("_p").isNotNull)
      .select(col(idCol), col("_p.sig").as("sig"), col("_p.buckets").as("buckets"))
  }

  /** (id, band, bh) rows of an index — only ids and small band keys, so
   * this is the frame that shuffles in every bucket join. */
  private def indexBuckets(index: DataFrame, idCol: String, idAs: String): DataFrame =
    index.select(col(idCol).as(idAs), explode(col("buckets")).as("_bb"))
      .select(col(idAs), col("_bb.band").as("_band"), col("_bb.bh").as("_bh"))

  /** MinHash+LSH candidate pairs: signatures banded into `bands` groups of
   * `rowsPerBand`; docs sharing any band bucket become a pair (a < b).
   * Returns (a, b) distinct. Documents with no shingles are excluded. */
  def minhashLsh(df0: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val idx = minhashIndex(df0, idCol, textCol, n, bands, rowsPerBand)
    val buckets = indexBuckets(idx, idCol, "_d_id")
    buckets.as("x").join(buckets.as("y"),
        col("x._band") === col("y._band") && col("x._bh") === col("y._bh") &&
        col("x._d_id") < col("y._d_id"))
      .select(col("x._d_id").as("a"), col("y._d_id").as("b"))
      .distinct()
  }

  /** Incremental near-dup detection: match a NEW batch against an indexed
   * corpus ([[minhashIndex]] output, typically loaded from parquet) and —
   * when `matchNewPairs` — against itself, WITHOUT re-reading any corpus
   * text. Returns one row per candidate pair: (idCol = the new doc,
   * match_id = the matched corpus doc, or an earlier new doc,
   * est_jaccard = fraction of agreeing minhash lanes, the standard
   * unbiased Jaccard estimate, 4dp), filtered to >= `minEstJaccard`.
   *
   * This is the steady-state 100 TB dedup shape: the per-batch cost is
   * O(batch) signature computation plus bucket equi-joins against an
   * index whose rows are a few hundred bytes — the corpus participates
   * only through its index. Requires corpus and batch id spaces to be
   * disjoint, and `n`/`bands`/`rowsPerBand` equal to the index's build
   * parameters — a narrower/wider index would silently under-count
   * agreeing lanes. Two guards enforce that: `validateIndexWidth` scans
   * min/max(size(sig)) over the whole index before any join (fail-fast,
   * but a full index-column scan — at steady state validate once and pass
   * `false` on subsequent batches), and an always-on per-row check inside
   * the estimate raises on any participating row whose width drifted, so
   * even with the eager scan off a mixed index can never silently
   * mis-count. */
  def incrementalNearDups(newDf: DataFrame, idCol: String, textCol: String,
      index: DataFrame, matchNewPairs: Boolean = true,
      n: Int = 3, bands: Int = 8, rowsPerBand: Int = 2,
      minEstJaccard: Double = 0.0, validateIndexWidth: Boolean = true): DataFrame = {
    // eager: validate EVERY row's width in one probe job (a single-row
    // check would pass an index accidentally built with mixed parameters)
    if (validateIndexWidth) validateIndexWidths(index, bands * rowsPerBand)
    // computed-once discipline, matching the streaming path (r15): the
    // match consumes the batch's fingerprints in four places (corpus
    // bucket join, self-join both sides, estimate signatures) — without a
    // pin every consumer legally re-shingles and re-hashes the new batch
    // (the plan showed 14 scans of the corpus for the gate row). Released
    // via [[graft.pipeline.releaseShared]] / session cache clear.
    val newIdx = minhashIndex(newDf, idCol, textCol, n, bands, rowsPerBand)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    incrementalNearDupsIndexed(
      newIdx, idCol, index, matchNewPairs, bands * rowsPerBand, minEstJaccard)
  }

  private[graft] def validateIndexWidths(index: DataFrame, numHashes: Int): Unit =
    index.agg(min(size(col("sig"))).as("_lo"), max(size(col("sig"))).as("_hi"))
      .collect().foreach { r =>
        if (!r.isNullAt(0)) {
          require(r.getInt(0) == numHashes && r.getInt(1) == numHashes,
            s"index signature widths [${r.getInt(0)}, ${r.getInt(1)}] != " +
              s"bands*rowsPerBand = $numHashes — index built with different parameters?")
        }
      }

  /** [[incrementalNearDups]] over an ALREADY-COMPUTED new-batch index
   * ([[minhashIndex]] output) — the streaming grow path computes the
   * batch's fingerprints once, matches here, then appends the same rows
   * to its live index (streaming/EventStreams.incrementalNearDupStream). */
  private[graft] def incrementalNearDupsIndexed(newIdx: DataFrame, idCol: String,
      index: DataFrame, matchNewPairs: Boolean, numHashes: Int,
      minEstJaccard: Double): DataFrame = {
    val nb = indexBuckets(newIdx, idCol, "_n_id")
    val cb = indexBuckets(index, idCol, "_c_id")
    val corpusPairs = nb.join(cb,
        nb("_band") === cb("_band") && nb("_bh") === cb("_bh") &&
        col("_n_id") =!= col("_c_id"))
      .select(col("_n_id"), col("_c_id").as("_m_id"))
    // within-batch pairs point the LATER doc at the earlier one — the
    // "arrived first" doc plays the corpus role
    val pairs0 =
      if (matchNewPairs)
        corpusPairs.unionByName(nb.as("x").join(nb.as("y"),
            col("x._band") === col("y._band") && col("x._bh") === col("y._bh") &&
            col("x._n_id") > col("y._n_id"))
          .select(col("x._n_id").as("_n_id"), col("y._n_id").as("_m_id")))
      else corpusPairs
    val pairs = pairs0.distinct()
    val newSigs = newIdx.select(col(idCol).as("_n_id"), col("sig").as("_n_sig"))
    val matchSigs = index.select(col(idCol).as("_m_id"), col("sig").as("_m_sig"))
      .unionByName(newIdx.select(col(idCol).as("_m_id"), col("sig").as("_m_sig")))
    val agreeing = aggregate(
      zip_with(col("_n_sig"), col("_m_sig"),
        (x, y) => when(x === y, lit(1)).otherwise(lit(0))),
      lit(0), (acc, v) => acc + v)
    // lazy: any PARTICIPATING row with a drifted width raises instead of
    // letting zip_with pad with nulls and silently under-count — costs one
    // size() comparison per pair, no extra scan
    val guarded = when(
      size(col("_n_sig")) === numHashes && size(col("_m_sig")) === numHashes,
      agreeing.cast("double") / numHashes)
      .otherwise(raise_error(concat(
        lit(s"incrementalNearDups: signature width drift (expected $numHashes, got "),
        lit("new="), size(col("_n_sig")).cast("string"),
        lit(", index="), size(col("_m_sig")).cast("string"),
        lit(") — index built with different parameters?"))))
    pairs.join(newSigs, "_n_id").join(matchSigs, "_m_id")
      .select(col("_n_id").as(idCol), col("_m_id").as("match_id"),
        round(guarded, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** Per-document SimHash over word tokens ([[Text.tokens]]), `bits` wide
   * (a positive multiple of 4, max 32): bit b is set when most tokens have
   * bit `b % 4` of hex nibble `b / 4` of their md5 set. One codegen kernel
   * ([[graft.expressions.SimHash]]) hashes each token once for all bits.
   * Returns (id, simhash: long); null text gives 0. */
  def simhash(df0: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame = {
    val fp = graft.expressions.TextHash.simhash(col(textCol), bits) // checks `bits`
    ensureParallelism(df0).select(col(idCol), fp.as("simhash"))
  }

  /** Cluster similarity pairs into components and map every row of `df`
   * to its component's minimum id (`keep_id`, itself for singletons).
   * Small pair sets (the overwhelmingly common case after LSH banding —
   * dozens to thousands of edges out of millions of documents) are
   * union-found on the driver: one bounded `limit(smallThreshold + 1)`
   * collect both decides and feeds the union-find, so the driver never
   * holds more than smallThreshold + 1 pairs. Anything bigger runs the
   * distributed GraphFrame CC, which is the 100 TB path. Both label with
   * the natural-ordering minimum id, so results are identical.
   * Full bounded-path matrix: docs/THRESHOLDS.md. */
  private[graft] def clusterReps(df: DataFrame, idCol: String, pairs0: DataFrame,
      smallThreshold: Long = 100000L): DataFrame = {
    // id types without a Spark-faithful driver ordering route to the
    // distributed path (same labels, just without the driver shortcut)
    val ordOpt = graft.lib.UnionFind.sparkOrdering(df.schema(idCol).dataType)
    // the pair frame is the output of the whole LSH chain: pinned before
    // the collect, so a run that goes distributed computes it once (a
    // caller-cached frame is read, not pinned again)
    val pin = pairs0.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val pairs = if (pin) pairs0.persist() else pairs0
    val reps = try {
      val small = ordOpt.map(_ => pairs.limit(
        math.min(smallThreshold, Int.MaxValue - 1L).toInt + 1).collect())
        .filter(_.length <= smallThreshold)
      small match {
        case Some(rows) =>
          val labels = graft.lib.UnionFind.minLabels(
            rows.iterator.map(r => (r.get(0), r.get(1))), ordOpt.get)
          val session = df.sparkSession
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(idCol, df.schema(idCol).dataType),
            org.apache.spark.sql.types.StructField("_rep", df.schema(idCol).dataType)))
          val repRows = labels.map { case (v, r) => org.apache.spark.sql.Row(v, r) }.toSeq
          broadcast(session.createDataFrame(
            session.sparkContext.parallelize(repRows, 1), schema))
        case None =>
          val g = graft.GraphFrame.fromEdges(
            pairs.select(col("a").as(graft.GraphFrame.SRC), col("b").as(graft.GraphFrame.DST)))
          // self-contained: a driver-tail result on this fromEdges graph is a
          // local relation and a rounds result is lineage-cut, so neither
          // recomputes the pairs unpersisted below
          val cc = g.connectedComponents.run()
          cc.select(col(graft.GraphFrame.ID).as(idCol),
            min(graft.GraphFrame.ID).over(Window.partitionBy("component")).as("_rep"))
      }
    } finally if (pin) pairs.unpersist(false)
    df.select(col(idCol))
      .join(reps, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("_rep"), col(idCol)).as("keep_id"))
  }

  /** End-to-end near-duplicate clustering: LSH candidate pairs become an
   * undirected similarity graph whose connected components are the dup
   * clusters; every document maps to its cluster's minimum id
   * (`keep_id` — itself for singletons). This is the full
   * dedup-at-100TB shape: shingle → minhash → band-bucket join →
   * CC (driver union-find when the pair graph is tiny) → canonical
   * representative. */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 8, rowsPerBand: Int = 2): DataFrame =
    clusterReps(df, idCol, minhashLsh(df, idCol, textCol, n, bands, rowsPerBand))

  /** Embedding-space near-duplicate clustering: cosine-similar pairs above
   * `threshold` form the similarity graph; connected components give the
   * clusters; each row maps to its cluster minimum (`keep_id`). The pair
   * stage is banded hyperplane-LSH candidates with exact cosine inside
   * buckets ([[Similarity.lshSimilarPairs]]) — the 100 TB shape: an
   * equi-join on (band, bucket), never an O(n²) cross join. Recall is
   * governed by (bands, planesPerBand); for exact (small-data) semantics
   * use [[Similarity.bruteForcePairs]] and cluster those. `dim` must
   * equal the embedding width — mismatches throw (strict dot product)
   * rather than silently truncating; the default (`dim <= 0`) probes the
   * first row's vector length so any width works out of the box. */
  def embeddingDupClusters(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int = 8, planesPerBand: Int = 4,
      dim: Int = 0): DataFrame =
    clusterReps(df, idCol,
      Similarity.lshSimilarPairs(df, idCol, vecCol, threshold,
        bands, planesPerBand, dim).select("a", "b"))

  /** SemDeDup-style semantic dedup (cluster-then-compare, after Abbas et
   * al. 2023): embeddings are assigned to `nlist` deterministic IVF cells
   * (md5-sampled seeds, optionally `lloydIters` k-means steps), cosine
   * pairs above `threshold` are computed ONLY within a cell, and each
   * connected duplicate group keeps its minimum id (`keep_id`, itself for
   * singletons — same contract as [[embeddingDupClusters]]). Cross-cell
   * duplicates are missed by construction — the published recipe's recall
   * trade for dropping the pair cost from n² to ~n²/nlist. Prefer this
   * over the LSH variant when a clustering of the corpus is wanted as a
   * side product, or when cell-local comparison matches how shards are
   * laid out. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16, lloydIters: Int = 0): DataFrame =
    clusterReps(df, idCol,
      Similarity.ivfCellPairs(df, idCol, vecCol, threshold, nlist, lloydIters)
        .select("a", "b"))

  /** n-gram Jaccard near-dup pairs: docs sharing >= `minShared` distinct
   * `n`-word shingles. Returns (a, b, shared, jaccard). The shingle
   * inverted index bounds the join fan-out to co-occurring shingles.
   * `maxDocFreq` is an OPT-IN stop-shingle cap (default: no cap — exact
   * Jaccard): shingles in more than `maxDocFreq` documents are excluded
   * from the numerator (`shared`), making `jaccard` a lower bound and
   * possibly dropping pairs whose overlap is all boilerplate — set it on
   * web-scale corpora where one common phrase would go quadratic. */
  def ngramJaccard(df0: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minShared: Int = 3, maxDocFreq: Int = Int.MaxValue,
      probeHotShingles: Boolean = true): DataFrame = {
    val df = ensureParallelism(df0)
    // The shingle frame feeds three consumers (per-doc sizes, the stop
    // set, the anti-join) and — via shJ — BOTH sides of the pair
    // self-join. Exchange reuse across the aliases is not guaranteed, so
    // without a persist the explode+distinct (the heaviest pipeline in
    // the query) can legally execute up to five times. MEMORY_AND_DISK:
    // at 100 TB the shingle frame spills rather than OOMs; eviction is
    // the session's LRU (the frame is narrow — id + one shingle string).
    val sh = df.select(col(idCol).as("_d_id"),
        explode(Text.wordShingles(col(textCol), n)).as("s"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // guardrail: with maxDocFreq unset, one boilerplate shingle shared by d
    // documents fans the self-join out d² with ~no Jaccard signal — the
    // likeliest operator error at 100 TB. Probe a deterministic 0.5%
    // hash-sample of the DOCUMENTS for their hottest shingle and warn
    // loudly before running anyway: a threshold-crossing shingle is
    // statistically certain to surface in the sample, and the probe costs
    // a 200×-smaller scan instead of re-shingling the full corpus (the
    // round-4 shape recomputed the whole explode+distinct for the probe —
    // at 100 TB that is a full extra pass to maybe print a warning).
    // `probeHotShingles = false` opts out for pre-validated corpora.
    if (maxDocFreq == Int.MaxValue && probeHotShingles) {
      val probeDocs = Sampling.hashSample(df, idCol, hotShingleProbeFraction)
      val maxDfSampled = probeDocs
        .select(col(idCol).as("_d_id"),
          explode(Text.wordShingles(col(textCol), n)).as("s"))
        .distinct()
        .groupBy("s").agg(count(lit(1)).as("_df"))
        .agg(max(col("_df"))).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
      val estimate = math.round(maxDfSampled / hotShingleProbeFraction)
      hotShingleWarning(estimate, hotShingleThreshold, estimated = true)
        .foreach(log.warn)
    }
    val sizes = sh.groupBy("_d_id").agg(count(lit(1)).as("n_sh"))
    // stop-shingle guard (opt-in): a shingle shared by d documents fans the
    // self-join out d² — cap document frequency so one boilerplate phrase
    // can't go quadratic (its pairs carry ~no Jaccard signal anyway).
    // NOTE: exact Jaccard denominators still use the uncapped sizes.
    // The doc-freq count is a hash aggregate (map-side partials — the hot
    // shingle never materializes in one task, unlike a window partitioned
    // by the shingle), and over-cap stop shingles come back as an
    // anti-join. No broadcast hint: the stop set is usually small (AQE
    // then picks a broadcast anti-join on its own), but a low cap over a
    // boilerplate-heavy corpus can make it arbitrarily large, and a forced
    // broadcast would collect all of it to the driver.
    // persisted: both self-join sides below read this frame — uncached,
    // the whole capped-shingle subtree would execute twice (the round-5
    // bench's slowest row traced to exactly that double execution risk)
    val shJ = if (maxDocFreq == Int.MaxValue) sh else {
      val stop = sh.groupBy("s").agg(count(lit(1)).as("_df"))
        .filter(col("_df") > maxDocFreq)
        .select("s")
      sh.join(stop, Seq("s"), "left_anti")
        .select("_d_id", "s")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val shared = shJ.as("x").join(shJ.as("y"),
        col("x.s") === col("y.s") && col("x._d_id") < col("y._d_id"))
      .groupBy(col("x._d_id").as("a"), col("y._d_id").as("b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    shared
      .join(sizes.select(col("_d_id").as("a"), col("n_sh").as("na")), "a")
      .join(sizes.select(col("_d_id").as("b"), col("n_sh").as("nb")), "b")
      .select(col("a"), col("b"), col("shared"),
        round(col("shared") / (col("na") + col("nb") - col("shared")).cast("double"), 4)
          .as("jaccard"))
  }

  /**
   * Shingle-containment near-dup pairs: C(a → b) = |S(a) ∩ S(b)| / |S(a)|
   * over distinct `n`-word shingles — the ASYMMETRIC companion to
   * [[ngramJaccard]] (after Broder 1997's containment measure). Jaccard
   * misses small-in-large duplication by construction (a page quoted
   * inside a 100× larger page has Jaccard ≈ 1%, containment ≈ 100%), and
   * quote/snippet inclusion is the dominant residual duplication in web
   * training corpora after whole-doc dedup. Returns BOTH directions:
   * (a, b, shared, containment) where `containment` is C(a → b) rounded
   * to 4dp, emitted when ≥ `threshold` and `shared` ≥ `minShared`.
   *
   * Same plan shape as [[ngramJaccard]] — one shingle explode+distinct
   * (persisted; it feeds sizes and both self-join sides), one inverted-
   * index self-join bounded to co-occurring shingles, one hash-agg pair
   * count, then a cheap two-orientation projection of the SAME pair frame
   * (no second join pass). `maxDocFreq` is the identical stop-shingle cap
   * (numerator-only → containment becomes a lower bound when set).
   */
  def containmentPairs(df0: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minShared: Int = 2, threshold: Double = 0.5,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val df = ensureParallelism(df0)
    val sh = df.select(col(idCol).as("_d_id"),
        explode(Text.wordShingles(col(textCol), n)).as("s"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy("_d_id").agg(count(lit(1)).as("n_sh"))
    val shJ = if (maxDocFreq == Int.MaxValue) sh else {
      val stop = sh.groupBy("s").agg(count(lit(1)).as("_df"))
        .filter(col("_df") > maxDocFreq)
        .select("s")
      sh.join(stop, Seq("s"), "left_anti")
        .select("_d_id", "s")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val shared = shJ.as("x").join(shJ.as("y"),
        col("x.s") === col("y.s") && col("x._d_id") < col("y._d_id"))
      .groupBy(col("x._d_id").as("u"), col("y._d_id").as("v"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .join(sizes.select(col("_d_id").as("u"), col("n_sh").as("nu")), "u")
      .join(sizes.select(col("_d_id").as("v"), col("n_sh").as("nv")), "v")
      // persisted (r14): BOTH orientations below read this frame, which
      // embeds the quadratic bucket self-join — unpersisted, the whole
      // pair pipeline legally executed twice (released with the other
      // pins via [[graft.pipeline.releaseShared]] / session cache clear)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // both orientations from the one canonical pair frame; the division
    // is the single float op and happens after the exact integer filter
    shared.select(col("u").as("a"), col("v").as("b"), col("shared"),
        col("nu").as("na"))
      .unionByName(shared.select(col("v").as("a"), col("u").as("b"),
        col("shared"), col("nv").as("na")))
      .filter(col("shared") >= col("na") * threshold)
      .select(col("a"), col("b"), col("shared"),
        round(col("shared") / col("na").cast("double"), 4).as("containment"))
  }

  /**
   * CCNet-style segment-level dedup (Wenzek et al., arXiv:1911.00359 §3.1
   * deduplicates *paragraphs* across the corpus rather than whole
   * documents — the dominant cleanup for boilerplate lines like cookie
   * banners and navigation text). Documents are segmented, each segment's
   * corpus-wide frequency is counted, segments appearing in more than
   * `maxDupCount` places are dropped, and every document is reassembled
   * from its surviving segments in original order.
   *
   * Segmentation: `windowWords > 0` chops on whitespace into consecutive
   * `windowWords`-word windows (for corpora without line structure);
   * otherwise the literal separator `sep` splits (newline by default, the
   * CCNet behavior) and also re-joins.
   *
   * Scale: three shuffles, all on bounded rows — (1) segment frequency is
   * one hash aggregation keyed by the segment text (map-side partials;
   * the heaviest key is the hottest boilerplate line, and its combine
   * state is ONE count, not a buffered inbox), (2) the segment→frequency
   * equi-join (AQE splits skewed buckets), (3) regroup by document id to
   * reassemble. No self-joins; memory per task is bounded by the longest
   * single document, same as the scan itself.
   *
   * Returns (idCol, clean_text, kept, dropped).
   */
  /** Segment array of a text column: consecutive `windowWords`-word
   * windows when `windowWords > 0`, else a literal split on `sep`.
   * Shared by [[segmentDedup]] and the streaming form
   * ([[graft.streaming.EventStreams.segmentDedupStream]]). */
  private[graft] def segments(text: Column, sep: String, windowWords: Int): Column =
    if (windowWords > 0) {
      bindOnce(split(text, " "), w =>
        transform(sequence(lit(0), floor((size(w) - 1) / windowWords).cast("int")),
          i => array_join(slice(w, i * windowWords + 1, lit(windowWords)), " ")))
    } else {
      split(text, java.util.regex.Pattern.quote(sep))
    }

  def segmentDedup(df0: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", windowWords: Int = 0,
      maxDupCount: Long = 1, lowercase: Boolean = false): DataFrame = {
    require(maxDupCount >= 1, "segmentDedup: maxDupCount must be >= 1")
    val df = df0.select(col(idCol), col(textCol))
    val joiner = if (windowWords > 0) " " else sep
    val segsExpr = segments(col(textCol), sep, windowWords)
    val segs = df
      .select(col(idCol), posexplode(segsExpr).as(Seq("_sd_pos", "_sd_seg")))
    val key = if (lowercase) lower(col("_sd_seg")) else col("_sd_seg")
    val keyed = segs.withColumn("_sd_key", key)
    val freq = keyed.groupBy("_sd_key").agg(count(lit(1)).as("_sd_n"))
    val kept = keyed.join(freq, "_sd_key")
      .withColumn("_sd_keep", col("_sd_n") <= maxDupCount)
    val rebuilt = kept.groupBy(idCol)
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("_sd_keep"),
            struct(col("_sd_pos"), col("_sd_seg"))))),
          s => s("_sd_seg")), joiner).as("clean_text"),
        sum(when(col("_sd_keep"), 1L).otherwise(0L)).as("kept"),
        sum(when(col("_sd_keep"), 0L).otherwise(1L)).as("dropped"))
    // documents whose every segment was dropped must still surface
    df.select(col(idCol)).distinct()
      .join(rebuilt, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("kept"), lit(0L)).as("kept"),
        coalesce(col("dropped"), lit(0L)).as("dropped"))
  }

  /**
   * Measured LSH dedup quality — the dedup analog of the ANN recall
   * queries: ONE row `(n_true, n_cand, n_hit, recall, precision)`
   * comparing the MinHash+LSH candidate pairs against EXACT ground
   * truth.
   *
   * Ground truth is COMPLETE, not sampled: pairs with distinct-shingle
   * Jaccard >= `threshold` found via the shared-shingle self-join — any
   * pair with J >= t > 0 shares at least one shingle, so the equi-join
   * surfaces every true pair (minShared = 1, no doc-frequency cap).
   * `recall` = hit fraction of true pairs (1.0 when there are none);
   * `precision` = true fraction of LSH candidates — candidates are
   * PRE-verification, so low precision costs exact-verify work
   * downstream rather than wrong output.
   *
   * Scale: the uncapped shared-shingle join is quadratic in the hottest
   * shingle's document frequency — at 100 TB this is a MEASUREMENT to
   * run on a hash-sample of the corpus ([[Sampling.hashSample]]), not on
   * the corpus itself; the LSH side is the production-shaped banded
   * join. The (bands, rowsPerBand) S-curve this measures is what
   * justifies the production parameters.
   */
  def lshDedupQuality(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, n: Int = 3, bands: Int = 8,
      rowsPerBand: Int = 2): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"lshDedupQuality threshold out of (0, 1]: $threshold")
    val truth = ngramJaccard(df, idCol, textCol, n, minShared = 1,
        probeHotShingles = false)
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), lit(1).as("_t"))
    val cand = minhashLsh(df, idCol, textCol, n, bands, rowsPerBand)
      .select(col("a"), col("b"), lit(1).as("_c"))
    truth.join(cand, Seq("a", "b"), "full_outer")
      .agg(count(col("_t")).as("n_true"), count(col("_c")).as("n_cand"),
        count(when(col("_t").isNotNull && col("_c").isNotNull, 1)).as("n_hit"))
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        when(col("n_true") === 0, lit(1.0))
          .otherwise(round(col("n_hit") / col("n_true").cast("double"), 4))
          .as("recall"),
        when(col("n_cand") === 0, lit(1.0))
          .otherwise(round(col("n_hit") / col("n_cand").cast("double"), 4))
          .as("precision"))
  }

  /** Best-of-cluster representative selection — the finisher AFTER
   * near-dup clustering (exact hashes, [[minhashLsh]] + connected
   * components, SemDeDup buckets…): keep, per cluster, the single member
   * with the best quality score (score desc, id asc — a total order, so
   * the keep is deterministic and any SQL engine replays it; `max_by`
   * style argmax breaks ties arbitrarily and is avoided for exactly that
   * reason). Singleton clusters keep their only member. Returns one row
   * per cluster: (clusterCol, idCol, scoreCol, n_members).
   *
   * NaN policy: a NaN quality score sorts WITH THE NULLS (last), never
   * as the greatest value — both Spark and DuckDB order NaN above every
   * real number under `DESC`, which would silently crown a failed
   * quality computation the cluster representative. The ordering key
   * maps NaN → null before the sort; the returned scoreCol keeps the
   * raw value so the caller can still see the NaN on the (rare) kept
   * row of an all-NaN/null cluster.
   *
   * Scale shape: one window pass partitioned by cluster — near-dup
   * clusters are small by construction (they are sets of mutual
   * near-duplicates), so per-partition sorts are tiny however large the
   * corpus. */
  def keepBest(df: DataFrame, clusterCol: String, idCol: String,
      scoreCol: String): DataFrame = {
    // desc_nulls_last EXPLICITLY: Spark's desc defaults to nulls-last but
    // DuckDB's DESC defaults to nulls-FIRST — a null score must never
    // become the keep; NaN is demoted to null in the KEY ONLY (see
    // scaladoc). isNaN only applies to fractional types — integer scores
    // can't be NaN and skip the guard.
    val scoreT = df.select(col(scoreCol)).schema.head.dataType
    val isFrac = scoreT == org.apache.spark.sql.types.DoubleType ||
      scoreT == org.apache.spark.sql.types.FloatType
    val orderKey =
      if (isFrac) when(col(scoreCol).isNaN, lit(null)).otherwise(col(scoreCol))
      else col(scoreCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(clusterCol))
      .orderBy(orderKey.desc_nulls_last, col(idCol).asc)
    df.select(col(clusterCol), col(idCol), col(scoreCol))
      .withColumn("_rk", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(clusterCol))))
      .filter(col("_rk") === 1)
      .select(col(clusterCol), col(idCol), col(scoreCol), col("n_members"))
  }

  /** Corpus snapshot diff — the incremental-crawl bookkeeping step:
   * classify every document id across two snapshots as `added` (new
   * only), `removed` (old only), `changed` (both, content hash differs)
   * or `unchanged`. Content is compared by md5 so the join ships one
   * 32-char hash per row, never the documents; null text hashes equal
   * null text (null-safe compare), and presence is tracked by explicit
   * flags so a null-text document is never misread as absent. Expects
   * one row per id per snapshot (duplicate ids diff per-pair and the
   * result then has one row per pair — dedup upstream if ids repeat).
   * Returns (idCol, status).
   *
   * Scale shape: one full-outer hash join keyed on the id — both sides
   * pre-projected to (id, hash), so the shuffle is two narrow columns
   * however wide the corpus rows are. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol), md5(col(textCol)).as("_ho"),
      lit(true).as("_po"))
    val n = newDf.select(col(idCol), md5(col(textCol)).as("_hn"),
      lit(true).as("_pn"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("_po").isNull, lit("added"))
          .when(col("_pn").isNull, lit("removed"))
          .when(col("_ho") <=> col("_hn"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }
}
