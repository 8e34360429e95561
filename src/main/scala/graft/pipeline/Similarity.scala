package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Embedding similarity search over an `array<float>` column.
 *
 * Brute-force cosine is the correctness baseline (O(n²) self-join — fine
 * for a broadcastable side); the LSH-bucketed variant is the scale path:
 * deterministic random-hyperplane signatures shrink the candidate set so
 * the quadratic join only runs inside buckets, with banded
 * OR-amplification (any shared band bucket makes a candidate) controlling
 * the recall/fan-out trade. Hyperplane weights are md5-derived (±1 per
 * (plane, dim)) — reproducible with no RNG state, safe under task
 * retries, and inlineable as literal weight tables by any SQL oracle.
 */
object Similarity {
  import graft.expressions.ArrayDotProduct.dotProduct

  /** dot / (n1·n2), NULL when either norm is zero. Every cosine in this
   * file routes through here: under Spark 4's default ANSI mode a literal
   * division throws DIVIDE_BY_ZERO the first time a zero-norm vector
   * appears in the corpus — at 100 TB that is one bad embedding killing
   * the whole job. NULL cosines then drop out of threshold filters and
   * sort below real scores. */
  private def cosineOf(dot: Column, n1: Column, n2: Column): Column = {
    val d = n1 * n2
    when(d > 0, dot / d)
  }

  /** Cosine similarity of two array<double> columns via the native
   * [[graft.expressions.ArrayDotProduct]] kernel — no UDF, no
   * intermediate arrays, codegen'd primitive loops. NULL if either
   * vector has zero norm. */
  def cosine(a: Column, b: Column): Column =
    cosineOf(dotProduct(a, b), sqrt(dotProduct(a, a)), sqrt(dotProduct(b, b)))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** (_s_id, _s_v, _s_n): vectors with their norm precomputed once, so the
   * pair stage runs exactly one dot product per pair. */
  private def withNorm(df0: DataFrame, idCol: String, vecCol: String): DataFrame =
    ensureParallelism(df0).select(col(idCol).as("_s_id"), asDouble(col(vecCol)).as("_s_v"))
      .withColumn("_s_n", sqrt(dotProduct(col("_s_v"), col("_s_v"))))

  /** All pairs (a < b) with cosine >= threshold: (a, b, cos rounded 4dp).
   * Declared-exact O(n²) baseline — an oracle anchor, not the scale path. */
  def bruteForcePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val v = withNorm(df, idCol, vecCol)
    v.as("x").join(v.as("y"), col("x._s_id") < col("y._s_id"))
      .select(col("x._s_id").as("a"), col("y._s_id").as("b"),
        round(cosineOf(dotProduct(col("x._s_v"), col("y._s_v")),
          col("x._s_n"), col("y._s_n")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Exact top-k neighbors for each query row (optionally restricted by
   * `queryFilter`): (query_id, neighbor_id, rnk), ordered by
   * (cosine desc, neighbor id asc) for determinism. */
  def topK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      queryFilter: Column = lit(true)): DataFrame = {
    val v = withNorm(df, idCol, vecCol)
    val q = withNorm(df.filter(queryFilter), idCol, vecCol)
      .select(col("_s_id").as("_q_id"), col("_s_v").as("_q_v"), col("_s_n").as("_q_n"))
    val scored = q.join(v, col("_q_id") =!= col("_s_id"))
      .select(col("_q_id").as("query_id"), col("_s_id").as("neighbor_id"),
        cosineOf(dotProduct(col("_q_v"), col("_s_v")), col("_q_n"), col("_s_n")).as("_cos"))
    val w = Window.partitionBy("query_id").orderBy(col("_cos").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** Exact maximum-inner-product top-k (MIPS): like [[topK]] but ranked
   * by the RAW dot product — the retrieval scoring for embeddings whose
   * norm carries signal (e.g. popularity-weighted item vectors, where
   * cosine's normalization throws the signal away). (query_id,
   * neighbor_id, rnk), (dot desc, neighbor id asc) for determinism.
   *
   * Scale path: MIPS reduces to cosine by the norm-augmentation trick
   * (append √(M² − ‖x‖²) to each candidate, 0 to each query, M = max
   * norm), after which every cosine index here (LSH/IVF/IVF-PQ) applies
   * unchanged — this exact form is the oracle anchor. */
  def mipsTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      queryFilter: Column = lit(true)): DataFrame = {
    val v = withNorm(df, idCol, vecCol)
    val q = withNorm(df.filter(queryFilter), idCol, vecCol)
      .select(col("_s_id").as("_q_id"), col("_s_v").as("_q_v"))
    val scored = q.join(v, col("_q_id") =!= col("_s_id"))
      .select(col("_q_id").as("query_id"), col("_s_id").as("neighbor_id"),
        dotProduct(col("_q_v"), col("_s_v")).as("_dot"))
    val w = Window.partitionBy("query_id").orderBy(col("_dot").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** kNN graph over an embedding table: each row's exact top-k cosine
   * neighbors become edges. `mutual = true` (the default) keeps the
   * canonical undirected edge `(src < dst)` only when EACH endpoint is in
   * the other's top-k — the mutual-kNN graph, the standard semantic-
   * cluster substrate (a hub vector cannot glue unrelated docs together,
   * because the hub is in everyone's top-k but they are not in its).
   * `mutual = false` returns the directed graph with the rank kept.
   *
   * Scale: this exact form scores all pairs — the measurement baseline.
   * Past ~10⁵ rows, generate candidates with [[ivfTopK]]/[[lshTopK]] and
   * feed them through the same mutual self-join finisher (one equi-join
   * on the reversed pair, no extra scan of the corpus). */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, k: Int,
      mutual: Boolean = true): DataFrame = {
    val t = topK(df, idCol, vecCol, k)
    if (!mutual)
      t.select(col("query_id").as("src"), col("neighbor_id").as("dst"), col("rnk"))
    else
      // mutuality via ONE aggregation on the unordered pair instead of a
      // self-join on the reversed pair (r15): the directed top-k rows are
      // distinct per (query, neighbor), so the canonical pair (a < b)
      // appears once or twice, and twice ⇔ both directions exist ⇔ the
      // old join's output. The self-join spelling exchanged two
      // DIFFERENTLY-KEYED copies of the whole O(n²) scoring subtree
      // (hashpartitioning(query,neighbor) vs (neighbor,query) — no
      // exchange reuse), so the scan+dot-product+window pipeline ran
      // twice; this runs it once and shuffles only the id pairs.
      t.groupBy(least(col("query_id"), col("neighbor_id")).as("src"),
          greatest(col("query_id"), col("neighbor_id")).as("dst"))
        .agg(count(lit(1)).as("_n"))
        .filter(col("_n") === 2)
        .select(col("src"), col("dst"))
  }

  /** Johnson–Lindenstrauss random projection (engine extension): output
   * dim p = (w_p · v) / √dOut with w_p the same md5-parity ±1 weight
   * vectors as [[hyperplaneSignature]] — deterministic everywhere, no RNG
   * state, pairwise distances preserved in expectation (JL lemma with
   * Achlioptas ±1 entries). One codegen'd [[graft.expressions
   * .ArrayDotProduct]] call per output dim against a LITERAL weight
   * array: a pure per-row projection, nothing shuffles, so it composes
   * in front of any of this file's pair/top-k stages as the standard
   * dimensionality cut (e.g. 4096 → 64 before brute-force scoring).
   * Returns (idCol, reduced: array<double>). */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
      dOut: Int, dim: Int = -1): DataFrame = {
    require(dOut > 0, s"dOut must be positive: $dOut")
    val v = df.select(col(idCol), asDouble(col(vecCol)).as("_s_v"))
    val d = resolveDim(v, dim)
    val scale = math.sqrt(dOut.toDouble)
    val dims = (0 until dOut).map { p =>
      dotProduct(col("_s_v"), typedlit(planeWeights(p, d))) / lit(scale)
    }
    v.select(col(idCol), array(dims: _*).as("reduced"))
  }

  /** Semi-supervised label spreading over the mutual-kNN graph (engine
   * extension): a deterministic 16-bit md5 draw (the [[graft.GraphFrame
   * .sampleVertices]] idiom) clamps `seedFraction` of rows as SEEDS
   * keeping their `labelCol` value; for `rounds` synchronous rounds every
   * non-seed takes the MODE of its neighbors' current labels (count desc,
   * label asc tie-break; no labeled neighbor → unlabeled that round —
   * recomputed each round, not sticky, so the state is a pure function of
   * the round number). Returns (idCol, label, is_seed).
   *
   * Scale: building the kNN edges dominates; each round is one edge join
   * + one (id, label) count aggregation + one argmax window over at most
   * V×L rows, with a lineage cut per round. */
  def labelSpread(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int = 5, rounds: Int = 3,
      seedFraction: Double = 0.5, seed: Long = 42L): DataFrame =
      graft.lib.IterationManager.scoped(df.sparkSession) { mgr =>
    require(seedFraction >= 0 && seedFraction <= 1,
      s"seedFraction must be in [0,1]: $seedFraction")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val t = math.round(seedFraction * 65536.0).toInt
    val und = {
      val e = knnGraph(df, idCol, vecCol, k)
      e.select(col("src").as("_u"), col("dst").as("_v"))
        .unionByName(e.select(col("dst").as("_u"), col("src").as("_v")))
    }
    val isSeed = conv(substring(md5(concat_ws("|", lit(seed),
      col(idCol).cast("string"))), 1, 4), 16, 10).cast("int") < lit(t)
    val undP = mgr.persistOnly(und)
    // r15 round restructure: seeds keep their INITIAL label and non-seeds
    // are recomputed from scratch each round (not sticky), so the new
    // state joins the votes back to the fixed `base` frame — the previous
    // round's state is referenced exactly ONCE per round (the vote join).
    // That makes lazy round-chaining linear in plan size (the old
    // state.join(win) spelling referenced state twice, doubling the tree
    // per un-cut round — the round-8 HITS counter-experiment), so the
    // IterationManager can run its normal interval-2 cadence (one
    // materializing job per two rounds) instead of the old force-cut
    // every round. Output is identical by construction: base._lab equals
    // the old state._lab on seeds (never overwritten) and is unread on
    // non-seeds.
    val base = mgr.persistLazy(df.select(col(idCol).as("_id"),
      when(isSeed, col(labelCol)).otherwise(lit(null)).as("_lab"),
      isSeed.as("is_seed")))
    var state = base
    for (r <- 1 to rounds) {
      val votes = undP.join(state.select(col("_id").as("_u"), col("_lab")), "_u")
        .filter(col("_lab").isNotNull)
        .groupBy(col("_v").as("_id"), col("_lab")).agg(count(lit(1)).as("_n"))
      val w = Window.partitionBy("_id")
        .orderBy(col("_n").desc, col("_lab").asc)
      val win = votes.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1).select(col("_id"), col("_lab").as("_new"))
      state = mgr.cycle(base.join(win, Seq("_id"), "left_outer")
        .select(col("_id"),
          when(col("is_seed"), col("_lab")).otherwise(col("_new")).as("_lab"),
          col("is_seed")), r)
    }
    mgr.finish(state.select(col("_id").as(idCol), col("_lab").as("label"),
      col("is_seed")))
  }

  /** ±1 weight of hyperplane `p` at dimension `i`, from the parity of the
   * first md5 byte of "p|i" — deterministic everywhere, no RNG state. */
  def planeSign(p: Int, i: Int): Double = {
    val b = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p|$i".getBytes("UTF-8"))
    if ((b(0) & 0xff) % 2 == 0) 1.0 else -1.0
  }

  private def planeWeights(p: Int, dim: Int): Seq[Double] =
    (0 until dim).map(planeSign(p, _))

  /** Resolve a caller-supplied width: `dim <= 0` probes the first row's
   * vector length (one tiny job on an already-pruned single column) so
   * LSH entry points work on any embedding width without configuration.
   * The strict [[graft.expressions.ArrayDotProduct]] still throws on
   * ragged widths downstream rather than silently truncating. */
  private def resolveDim(v: DataFrame, dim: Int): Int =
    if (dim > 0) dim
    else v.select(size(col("_s_v"))).head().getInt(0)

  /** Deterministic random-hyperplane signature: bit p is the sign of
   * w_p · v with w_p the ±1 md5-derived weight vector. Each plane is ONE
   * [[graft.expressions.ArrayDotProduct]] call against a literal weight
   * array — `planes` kernel calls per row, never a (planes × dim)-term
   * expression tree, so the stage stays inside whole-stage codegen at any
   * width. `planeOffset` selects the plane family (bands use disjoint
   * plane ranges). */
  def hyperplaneSignature(vec: Column, planes: Int, dim: Int,
      planeOffset: Int = 0): Column = {
    val bits = (0 until planes).map { p =>
      val w = typedlit(planeWeights(planeOffset + p, dim))
      when(dotProduct(vec, w) > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** (_s_id, _band, _bucket): one row per (vector, band); band b's bucket
   * is the `planesPerBand`-bit signature of plane family b. Only the id
   * and two small ints shuffle — vectors are re-joined by id later, so the
   * band explosion never multiplies vector payloads. */
  private def bandBuckets(v: DataFrame, bands: Int, planesPerBand: Int,
      dim: Int): DataFrame = {
    val bandCols = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        hyperplaneSignature(col("_s_v"), planesPerBand, dim, b * planesPerBand)
          .as("bucket"))
    }: _*)
    v.select(col("_s_id"), explode(bandCols).as("bb"))
      .select(col("_s_id"), col("bb.band").as("_band"), col("bb.bucket").as("_bucket"))
  }

  /** Distinct candidate pairs (qid, nid), qid != nid, sharing at least one
   * band bucket. The self-join is an equi-join on (band, bucket) — AQE
   * splits skewed buckets; no cartesian anywhere. */
  private def lshCandidates(v: DataFrame, bands: Int, planesPerBand: Int,
      dim: Int): DataFrame = {
    val bk = bandBuckets(v, bands, planesPerBand, dim)
    bk.as("x").join(bk.as("y"),
        col("x._band") === col("y._band") && col("x._bucket") === col("y._bucket") &&
        col("x._s_id") =!= col("y._s_id"))
      .select(col("x._s_id").as("_qid"), col("y._s_id").as("_nid"))
      .distinct()
  }

  /** LSH near-duplicate pairs (a < b, cosine >= threshold, 4dp): exact
   * cosine evaluated only on band-bucket candidates. Approximate by
   * construction — recall is governed by (bands, planesPerBand); the
   * output contract matches [[bruteForcePairs]] restricted to candidates. */
  def lshSimilarPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int = 8, planesPerBand: Int = 4,
      dim: Int = 0): DataFrame = {
    val v = withNorm(df, idCol, vecCol)
    val cand = lshCandidates(v, bands, planesPerBand, resolveDim(v, dim))
      .filter(col("_qid") < col("_nid"))
    cand
      .join(v.select(col("_s_id").as("_qid"), col("_s_v").as("_q_v"), col("_s_n").as("_q_n")), "_qid")
      .join(v.select(col("_s_id").as("_nid"), col("_s_v").as("_n_v"), col("_s_n").as("_n_n")), "_nid")
      .select(col("_qid").as("a"), col("_nid").as("b"),
        round(cosineOf(dotProduct(col("_q_v"), col("_n_v")), col("_q_n"), col("_n_n")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Scale path: ANN top-k searched only within banded LSH buckets
   * (OR-amplified: any shared band bucket makes a candidate). Recall < 1
   * by construction; fan-out is bounded by bucket sizes instead of n². */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      bands: Int = 2, planesPerBand: Int = 4, dim: Int = 0): DataFrame = {
    val v = withNorm(df, idCol, vecCol)
    val scored = lshCandidates(v, bands, planesPerBand, resolveDim(v, dim))
      .join(v.select(col("_s_id").as("_qid"), col("_s_v").as("_q_v"), col("_s_n").as("_q_n")), "_qid")
      .join(v.select(col("_s_id").as("_nid"), col("_s_v").as("_n_v"), col("_s_n").as("_n_n")), "_nid")
      .select(col("_qid").as("query_id"), col("_nid").as("neighbor_id"),
        cosineOf(dotProduct(col("_q_v"), col("_n_v")), col("_q_n"), col("_n_n")).as("_cos"))
    val w = Window.partitionBy("query_id").orderBy(col("_cos").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** Per-query recall of an approximate ANN result against the exact one:
   * (query_id, n_exact, n_hit, recall 4dp). Both inputs follow the top-k
   * contract (query_id, neighbor_id, ...). Queries present in `exact` but
   * absent from `approx` score 0 — silent misses count. The join is equi
   * on (query_id, neighbor_id) over two n·k-row frames, so the evaluation
   * itself stays cheap even when the exact side was expensive to build. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val hit = approx.select(col("query_id"), col("neighbor_id"), lit(1L).as("_hit"))
    exact.select(col("query_id"), col("neighbor_id"))
      .join(hit, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_hit"))
      .withColumn("recall", round(col("n_hit") / col("n_exact"), 4))
  }

  /** P[one band collides] for two vectors at cosine `cos`: each hyperplane
   * separates them with probability acos(cos)/π (Goemans–Williamson), and
   * a band collides only if all `planesPerBand` planes agree. */
  def bandCollisionProb(cos: Double, planesPerBand: Int): Double = {
    val theta = math.acos(math.max(-1.0, math.min(1.0, cos)))
    math.pow(1.0 - theta / math.Pi, planesPerBand)
  }

  /** Smallest band count whose OR-amplified collision probability
   * `1-(1-p)^L` reaches `targetRecall` for neighbors at cosine >= `atCos`
   * — the knob that turns "recall is a side effect of (bands, planes)"
   * into "recall is a declared input". */
  def bandsForRecall(targetRecall: Double, atCos: Double, planesPerBand: Int): Int = {
    require(targetRecall > 0 && targetRecall < 1,
      s"targetRecall must be in (0,1): $targetRecall")
    val p = bandCollisionProb(atCos, planesPerBand)
    if (p >= 1.0) 1
    else {
      require(p > 0, s"collision probability is 0 at cos=$atCos — no band count reaches recall $targetRecall")
      math.max(1, math.ceil(math.log1p(-targetRecall) / math.log1p(-p)).toInt)
    }
  }

  /** [[lshTopK]] with the band count derived from a recall target: recall
   * >= `targetRecall` (in expectation) for any true neighbor at cosine >=
   * `atCos`. More bands = more candidate fan-out — the cost of the
   * guarantee is explicit and linear. */
  def lshTopKForRecall(df: DataFrame, idCol: String, vecCol: String, k: Int,
      targetRecall: Double, atCos: Double, planesPerBand: Int = 4,
      dim: Int = 0): DataFrame =
    lshTopK(df, idCol, vecCol, k,
      bandsForRecall(targetRecall, atCos, planesPerBand), planesPerBand, dim)

  /** IVF (inverted-file) ANN. The coarse quantizer seeds cells with a
   * deterministic uniform random sample of `nlist` vectors (md5 order over
   * ids — equivalent to sampling without an RNG), optionally refined with
   * `lloydIters` Lloyd (k-means) steps; every vector lands in its nearest
   * cell, and queries probe their `nprobe` nearest cells only. Candidate
   * count drops from n to ~n·nprobe/nlist per query, the classic IVF trade
   * of recall for fan-out. Centroids are broadcast — assignment is a
   * narrow map stage, no shuffle of the vector table. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, lloydIters: Int = 0): DataFrame = {
    val v = withNorm(df, idCol, vecCol)
    val ranked = ivfRanked(v, nlist, lloydIters, math.max(nprobe, 1))
    val data = ranked.filter(col("_r") === 1)
      .select(col("_s_id"), col("_s_v"), col("_s_n"), col("_c_id").as("_cell"))
    val queries = ranked.filter(col("_r") <= nprobe)
      .select(col("_s_id").as("_q_id"), col("_s_v").as("_q_v"),
        col("_s_n").as("_q_n"), col("_c_id").as("_cell"))
    val scored = queries.join(data, "_cell")
      .filter(col("_q_id") =!= col("_s_id"))
      .select(col("_q_id").as("query_id"), col("_s_id").as("neighbor_id"),
        cosineOf(dotProduct(col("_q_v"), col("_s_v")), col("_q_n"), col("_s_n")).as("_cos"))
    val w = Window.partitionBy("query_id").orderBy(col("_cos").desc, col("neighbor_id").asc)
    val out = scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
    out
  }

  /** Per-vector top-`topR` IVF cells by (cosine desc, cell id asc):
   * (_s_id, _s_v, _s_n, _c_id, _sim, _r). Cells seed from a deterministic
   * md5-ordered sample of `nlist` vectors and optionally take `lloydIters`
   * k-means steps (cell ids stay the seed ids, so the loop is stable).
   *
   * The ranking happens entirely inside one per-row expression: the
   * `nlist` centroids are packed into a single broadcast array row, each
   * vector scores them with a `transform`, orders them with an
   * `array_sort` comparator, and keeps the first `topR` — no shuffle of
   * the vector table at all (the previous shape ran `row_number` over a
   * window, a sort-shuffle of n×nlist scored rows). Shared by [[ivfTopK]]
   * and [[ivfCellPairs]]. */
  /** (sim, cell id) per centroid of the packed `_carr` column, best-first;
   * ties broken by cell id asc — the exact order row_number produced, so
   * oracles are unchanged. Evaluated per row against `_s_v`/`_s_n`. */
  private def rankedCells(take: Int): Column = rankedCellsIn(col("_carr"), take)

  /** Top-1 cell id by (cosine desc, id asc) via the native
   * [[graft.expressions.BestCell]] argmax kernel — replaces the
   * score-all + interpreted-TimSort + slice(1) pipeline on every cell
   * ASSIGNMENT path (Lloyd reassignment, hierarchical routing, PQ index
   * cell selection). Bit-identical similarities and tie order, so oracle
   * hashes are unchanged; top-R probing (R > 1) keeps the sort. */
  private def bestCellOf(arr: Column): Column =
    element_at(arr,
      graft.expressions.BestCell.bestCellIndex(col("_s_v"), col("_s_n"), arr) + 1)
      .getField("_c_id")

  /** [[rankedCells]] against an arbitrary packed centroid-array column
   * (same (_c_id, _c_v, _c_n) struct elements) — the hierarchical path
   * ranks per-branch sub-codebooks that arrive via a join instead of the
   * single broadcast `_carr` row. */
  private def rankedCellsIn(arr: Column, take: Int): Column = {
    // coalesce to a sentinel below any cosine: a null sim (zero-norm vector
    // or centroid) would make the comparator intransitive — null-vs-real
    // falls through to the id tiebreak while real-vs-real compares by sim —
    // so cell order could depend on collect_list order and TimSort may
    // throw. With the sentinel the comparator is total and zero-norm
    // entries deterministically rank last.
    val scored = transform(arr, c => struct(
      coalesce(cosineOf(dotProduct(col("_s_v"), c.getField("_c_v")),
        col("_s_n"), c.getField("_c_n")), lit(-2.0)).as("_sim"),
      c.getField("_c_id").as("_c_id")))
    val sorted = array_sort(scored, (a, b) =>
      when(a.getField("_sim") > b.getField("_sim"), lit(-1))
        .when(a.getField("_sim") < b.getField("_sim"), lit(1))
        .when(a.getField("_c_id") < b.getField("_c_id"), lit(-1))
        .when(a.getField("_c_id") > b.getField("_c_id"), lit(1))
        .otherwise(lit(0)))
    slice(sorted, 1, take)
  }

  /** IVF coarse quantizer as ONE packed row (`_carr`: array of
   * (_c_id, _c_v, _c_n) structs) — broadcastable, persistable, never a
   * driver collect. Cells seed from a deterministic md5-ordered sample of
   * `nlist` vectors, optionally refined with `lloydIters` k-means steps
   * (cell ids stay the seed ids, so the loop is stable). */
  private[pipeline] def ivfCentroidsPacked(v: DataFrame, nlist: Int,
      lloydIters: Int): DataFrame = {
    // the packed-row broadcast carries nlist×dim doubles to every task:
    // ~2 GB at nlist=4096×dim=64k or nlist=65536×dim=4096. Beyond that a
    // FAISS-style deployment ranks against a small super-cell codebook
    // first — that is [[ivfTopKHier]]; here, fail loudly instead of
    // OOMing the executors.
    require(nlist <= 65536,
      s"nlist=$nlist: the packed centroid broadcast is sized for nlist <= 65536; " +
        "use the hierarchical coarse quantizer (ivfTopKHier) for larger inverted files")
    var cents = v
      .orderBy(md5(col("_s_id").cast("string")), col("_s_id"))
      .limit(nlist)
      .select(col("_s_id").as("_c_id"), col("_s_v").as("_c_v"), col("_s_n").as("_c_n"))

    def packed(c: DataFrame): DataFrame =
      c.agg(collect_list(struct(col("_c_id"), col("_c_v"), col("_c_n"))).as("_carr"))

    // Lloyd refinement: reassign, recompute per-cell mean vectors
    for (_ <- 0 until lloydIters) {
      val assigned = v.crossJoin(broadcast(packed(cents)))
        .select(bestCellOf(col("_carr")).as("_cell"), col("_s_v"))
      val means = assigned
        .select(col("_cell"), posexplode(col("_s_v")).as(Seq("_pos", "_x")))
        .groupBy("_cell", "_pos").agg(avg(col("_x")).as("_m"))
        .groupBy("_cell")
        .agg(transform(array_sort(collect_list(struct(col("_pos"), col("_m")))),
          e => e.getField("_m")).as("_c_v"))
      cents = means.select(col("_cell").as("_c_id"), col("_c_v"),
        sqrt(dotProduct(col("_c_v"), col("_c_v"))).as("_c_n"))
    }
    packed(cents)
  }

  private[pipeline] def ivfRanked(v: DataFrame, nlist: Int,
      lloydIters: Int, topR: Int): DataFrame =
    v.crossJoin(broadcast(ivfCentroidsPacked(v, nlist, lloydIters)))
      .select(col("_s_id"), col("_s_v"), col("_s_n"),
        posexplode(rankedCells(topR)).as(Seq("_p", "_sc")))
      .select(col("_s_id"), col("_s_v"), col("_s_n"),
        col("_sc._c_id").as("_c_id"), col("_sc._sim").as("_sim"),
        (col("_p") + 1).cast("int").as("_r"))

  /** Hierarchical (two-level) IVF ANN — the scale path past the flat
   * quantizer's `nlist <= 65536` packed-broadcast bound
   * ([[ivfCentroidsPacked]]): `nsuper` md5-seeded super-cells route to
   * per-branch sub-codebooks of ~`nlistPer` cells each, so the total cell
   * count scales to nsuper × nlistPer (up to 65536² ≈ 4.3B cells) while
   * no single broadcast row ever holds more than `nsuper` centroids.
   *
   * Construction (deterministic, RNG-free, SQL-replayable):
   *  - super-centroids = first `nsuper` vectors in md5(id) order (the
   *    same sampling as the flat path);
   *  - sub-centroids = first `nsuper*nlistPer` vectors in the same md5
   *    order, each assigned to its top-1 super-branch — except the super
   *    seeds themselves, which anchor their own branch, so every branch
   *    is non-empty and the data-side join below never drops a vector;
   *  - data vectors route top-1 super then top-1 sub-cell (the classic
   *    hierarchical-quantizer approximation: a vector near a branch
   *    boundary may land in a different cell than flat IVF would pick —
   *    queries probe `wprobe` branches to compensate);
   *  - queries take the globally best `nprobe` cells across their
   *    `wprobe` branches by (cosine desc, cell id asc).
   *
   * Scale shape: the level-1 ranking is a narrow map stage against one
   * `nsuper`-centroid broadcast row; the level-2 sub-codebook arrives by
   * a join on the branch id — broadcast while the full codebook fits
   * (same envelope as flat IVF), a plain shuffle join beyond it, which is
   * the honest trade once the inverted file outgrows executor memory:
   * the vector table shuffles ONCE by branch id instead of OOMing. The
   * per-query probe shuffle carries only (id, cell, sim) rows — vectors
   * re-join by id after the window so no vector payload rides through
   * the rank shuffles. */
  def ivfTopKHier(df: DataFrame, idCol: String, vecCol: String, k: Int,
      nsuper: Int = 16, nlistPer: Int = 16, wprobe: Int = 2,
      nprobe: Int = 4): DataFrame = {
    require(nsuper >= 1 && nlistPer >= 1 && wprobe >= 1 && nprobe >= 1 && k >= 1,
      s"ivfTopKHier: nsuper=$nsuper nlistPer=$nlistPer wprobe=$wprobe nprobe=$nprobe k=$k must all be >= 1")
    val v = withNorm(df, idCol, vecCol)
    val superPacked = ivfCentroidsPacked(v, nsuper, 0)
    val mdOrder = Seq(md5(col("_s_id").cast("string")), col("_s_id"))

    // sub-seeds: the md5-order prefix of size nsuper*nlistPer (a superset
    // of the super seeds — the first nsuper of the same ordering)
    val seeds = v.orderBy(mdOrder: _*).limit(nsuper * nlistPer)
    // the super seeds are the first nsuper of the SAME md5 prefix — sort
    // the (tiny) seed frame again rather than the whole vector table
    val supIds = seeds.orderBy(mdOrder: _*).limit(nsuper)
      .select(col("_s_id").as("_sup_id"))
    val seedAsg = seeds.crossJoin(broadcast(superPacked))
      .select(col("_s_id"), col("_s_v"), col("_s_n"),
        bestCellOf(col("_carr")).as("_top1"))
      .join(broadcast(supIds), col("_s_id") === col("_sup_id"), "left")
      .select(col("_s_id").as("_c_id"), col("_s_v").as("_c_v"),
        col("_s_n").as("_c_n"), coalesce(col("_sup_id"), col("_top1")).as("_bid"))
    // one packed sub-codebook row per branch; broadcast only while the
    // whole codebook fits the flat envelope, else let it shuffle-join
    val subcb0 = seedAsg.groupBy("_bid")
      .agg(collect_list(struct(col("_c_id"), col("_c_v"), col("_c_n"))).as("_subarr"))
    val subcb = if (nsuper.toLong * nlistPer <= 65536L) broadcast(subcb0) else subcb0

    // every vector's super ranking (shared by data assignment and probing)
    val vSuper = v.crossJoin(broadcast(superPacked))
      .select(col("_s_id"), col("_s_v"), col("_s_n"),
        posexplode(rankedCells(wprobe)).as(Seq("_p", "_sc")))
      .select(col("_s_id"), col("_s_v"), col("_s_n"),
        col("_sc._c_id").as("_bid"), (col("_p") + 1).cast("int").as("_r"))

    val data = vSuper.filter(col("_r") === 1).join(subcb, "_bid")
      .select(col("_s_id"), col("_s_v"), col("_s_n"),
        bestCellOf(col("_subarr")).as("_cell"))

    // probe: per-branch top-nprobe (a superset of the global answer),
    // then the global top-nprobe across wprobe branches — narrow rows
    val qScored = vSuper.join(subcb, "_bid")
      .select(col("_s_id").as("_q_id"),
        explode(rankedCellsIn(col("_subarr"), nprobe)).as("_sc"))
      .select(col("_q_id"), col("_sc._c_id").as("_cell"), col("_sc._sim").as("_sim"))
    val wq = Window.partitionBy("_q_id").orderBy(col("_sim").desc, col("_cell").asc)
    val qCells = qScored.withColumn("_qr", row_number().over(wq))
      .filter(col("_qr") <= nprobe).select("_q_id", "_cell")
      .join(v.select(col("_s_id").as("_q_id"), col("_s_v").as("_q_v"),
        col("_s_n").as("_q_n")), "_q_id")

    val scored = qCells.join(data, "_cell")
      .filter(col("_q_id") =!= col("_s_id"))
      .select(col("_q_id").as("query_id"), col("_s_id").as("neighbor_id"),
        cosineOf(dotProduct(col("_q_v"), col("_s_v")), col("_q_n"), col("_s_n")).as("_cos"))
    val w = Window.partitionBy("query_id").orderBy(col("_cos").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** Product-quantization codebook packed as ONE broadcastable row
   * (`_cb: array<array<array<double>>>`, indexed `[subspace][code][dim]`,
   * m × ksub × dim/m). Codebook entry `c` of subspace `j` is the `j`-th
   * subvector of the `c`-th seed, where seeds are a deterministic uniform
   * sample of `ksub` vectors (md5 order over ids — sampling without RNG
   * state, and replayable by any SQL engine). Training on a sample is the
   * standard PQ recipe; k-means refinement of the codebooks trades oracle
   * replayability for quantization error and is deliberately left out of
   * the deterministic path. */
  private[pipeline] def pqCodebookPacked(v: DataFrame, m: Int, ksub: Int,
      dim: Int): DataFrame = {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m subspaces")
    val dsub = dim / m
    val seeds = v
      .orderBy(md5(col("_s_id").cast("string")), col("_s_id"))
      .limit(ksub)
      .select(md5(col("_s_id").cast("string")).as("_h"), col("_s_id"), col("_s_v"))
    // array_sort on the struct orders by (_h, _s_id) — the same sample
    // order — so code c refers to the same seed on every engine
    seeds
      .agg(array_sort(collect_list(struct(col("_h"), col("_s_id"), col("_s_v")))).as("_sv"))
      .select(transform(sequence(lit(0), lit(m - 1)), j =>
        transform(col("_sv"), s =>
          slice(s.getField("_s_v"), j * lit(dsub) + 1, lit(dsub)))).as("_cb"))
  }

  /** Unit-normalize `_s_v` (zero-norm vectors pass through unchanged, their
   * norm stays 0 so downstream cosines are null rather than wrong). PQ
   * coding and ADC tables run on normalized vectors so squared-L2 ADC
   * (= 2 - 2·cos on unit vectors) ranks identically to the cosine used by
   * [[topK]]/[[lshTopK]]/[[ivfTopK]] — without it the two metrics diverge
   * on unnormalized corpora and recall comparisons are meaningless. */
  private def normalized(v: DataFrame): DataFrame =
    v.withColumn("_s_v",
        when(col("_s_n") > 0, transform(col("_s_v"), x => x / col("_s_n")))
          .otherwise(col("_s_v")))
      .withColumn("_s_n", when(col("_s_n") > 0, lit(1.0)).otherwise(col("_s_n")))

  /** Squared-L2 distances from subvector `j` of `vec` to every codebook
   * entry of subspace `j`, in code order. */
  private def pqSubDists(vec: Column, cb: Column, j: Column, dsub: Int): Column = {
    val sub = slice(vec, j * lit(dsub) + 1, lit(dsub))
    transform(element_at(cb, j + lit(1)), cent =>
      aggregate(zip_with(sub, cent, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
  }

  /** PQ code of a vector: per subspace, the index (0-based) of the nearest
   * codebook entry, ties to the lowest code. `array<int>` of length m —
   * the m-byte compressed representation that replaces the dim×8-byte
   * vector in every candidate scan. Runs through the native
   * [[graft.expressions.PqNearestCode]] codegen kernel (the per-row cost
   * of every index build); summation order matches the previous HOF
   * argmin bit-for-bit, so codes — and oracle hashes — are unchanged. */
  private[pipeline] def pqCode(vec: Column, cb: Column, m: Int, dsub: Int): Column =
    graft.expressions.PqNearestCode.pqNearestCode(vec, cb)

  /** Asymmetric-distance table of a query: `_qtab[j][c]` = squared L2 from
   * the query's subvector j to codebook entry c. m × ksub doubles per
   * query — the only full-precision work a query does; every candidate
   * after that costs m array lookups. */
  private def pqAdcTable(vec: Column, cb: Column, m: Int, dsub: Int): Column =
    transform(sequence(lit(0), lit(m - 1)), j => pqSubDists(vec, cb, j, dsub))

  /** ADC distance: sum over subspaces of the query's table entry at the
   * candidate's code. Summation runs j = 0..m-1 in order (replayable).
   * Runs through the native [[graft.expressions.AdcDistance]] kernel —
   * this is the per-candidate cost of the whole PQ scan, and the HOF form
   * allocated a zipped array per (query, candidate) pair. */
  private def pqAdcDistance(codes: Column, qtab: Column): Column =
    graft.expressions.AdcDistance.adcDistance(codes, qtab)

  /** Persistable PQ index: (idCol, codes array<int>) — m small ints per
   * vector regardless of dimension (64-dim float → 8 codes is 32× smaller,
   * and at ksub <= 256 each code fits a byte on disk). Save next to the
   * corpus; [[ivfPqTopK]] recomputes codes inline, but a stored index
   * serves any engine that can sum m table lookups. */
  def pqCodes(df: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16, dim: Int = 0): DataFrame = {
    val v = normalized(withNorm(df, idCol, vecCol))
    val d = resolveDim(v, dim)
    val cb = pqCodebookPacked(v, m, ksub, d)
    v.crossJoin(broadcast(cb))
      .select(col("_s_id").as(idCol), pqCode(col("_s_v"), col("_cb"), m, d / m).as("codes"))
  }

  /** IVF-PQ ANN top-k (the FAISS-style 100 TB architecture): vectors live
   * in IVF cells and are represented by m-byte PQ codes; a query probes
   * its `nprobe` nearest cells and scores candidates by asymmetric
   * distance (one m×ksub lookup table per query, m array reads per
   * candidate) — the candidate scan never touches a full vector, so the
   * shuffled candidate payload is (id, cell, m ints) regardless of
   * embedding width. Vectors are unit-normalized before coding, so the
   * squared-L2 ADC ranking (= 2 - 2·cos on unit vectors) is cosine
   * descending like every other ANN entry point here; ties to the lower id.
   * Both quantizers are deterministic (md5-sampled seeds; `lloydIters`
   * k-means steps on the coarse one), so results are exactly replayable.
   * Recall < 1 by construction: cell misses (nprobe) and quantization
   * error (m, ksub) — measure with [[recallAtK]]. `queryFilter` restricts
   * the query side (every vector still indexes as a candidate).
   *
   * `refine > 0` adds the FAISS IndexRefine step: the ADC scan keeps a
   * per-query shortlist of `refine` candidates, which is re-ranked by
   * exact cosine before taking the top k. The shortlist equi-joins the
   * vector table by id — `refine` full vectors per query instead of a
   * whole probed cell — so it buys back the PQ quantization error at a
   * bounded, explicit cost (cell misses remain). */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      dim: Int = 0, lloydIters: Int = 0, refine: Int = 0,
      queryFilter: Column = lit(true)): DataFrame = {
    val v = normalized(withNorm(df, idCol, vecCol))
    val d = resolveDim(v, dim)
    val dsub = d / m
    val cb = pqCodebookPacked(v, m, ksub, d)
    val ranked = ivfRanked(v, nlist, lloydIters, math.max(nprobe, 1))
    val data = ranked.filter(col("_r") === 1)
      .crossJoin(broadcast(cb))
      .select(col("_s_id"), col("_c_id").as("_cell"),
        pqCode(col("_s_v"), col("_cb"), m, dsub).as("_codes"))
    val qIds = df.filter(queryFilter).select(col(idCol).as("_s_id"))
    val queries = ranked.filter(col("_r") <= nprobe)
      .join(qIds, Seq("_s_id"), "left_semi")
      .crossJoin(broadcast(cb))
      .select(col("_s_id").as("_q_id"), col("_c_id").as("_cell"),
        pqAdcTable(col("_s_v"), col("_cb"), m, dsub).as("_qtab"))
    val scored = queries.join(data, "_cell")
      .filter(col("_q_id") =!= col("_s_id"))
      .select(col("_q_id").as("query_id"), col("_s_id").as("neighbor_id"),
        pqAdcDistance(col("_codes"), col("_qtab")).as("_adc"))
    val w = Window.partitionBy("query_id").orderBy(col("_adc").asc, col("neighbor_id").asc)
    if (refine <= 0) {
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("query_id"), col("neighbor_id"), col("rnk"))
    } else {
      val short = scored.withColumn("_arnk", row_number().over(w))
        .filter(col("_arnk") <= math.max(refine, k))
        .select(col("query_id"), col("neighbor_id"))
      val qv = v.select(col("_s_id").as("query_id"), col("_s_v").as("_q_v"),
        col("_s_n").as("_q_n"))
      val nv = v.select(col("_s_id").as("neighbor_id"), col("_s_v").as("_n_v"),
        col("_s_n").as("_n_n"))
      val rescored = short.join(qv, "query_id").join(nv, "neighbor_id")
        .select(col("query_id"), col("neighbor_id"),
          cosineOf(dotProduct(col("_q_v"), col("_n_v")), col("_q_n"), col("_n_n")).as("_cos"))
      val w2 = Window.partitionBy("query_id").orderBy(col("_cos").desc, col("neighbor_id").asc)
      rescored.withColumn("rnk", row_number().over(w2))
        .filter(col("rnk") <= k)
        .select(col("query_id"), col("neighbor_id"), col("rnk"))
    }
  }

  /** Persistable IVF-PQ MODEL: ONE row carrying the coarse quantizer
   * (`_carr`: nlist packed centroids), the PQ codebook (`_cb`:
   * m × ksub × dim/m), and the build parameters for validation
   * (nlist, m, ksub, dim). Save as parquet next to the [[ivfPqIndex]];
   * together they serve queries forever without touching corpus text —
   * the ANN analog of the persisted MinHash index
   * ([[Dedup.incrementalNearDups]]'s steady-state contract). */
  def ivfPqModel(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, m: Int = 8, ksub: Int = 16, dim: Int = 0,
      lloydIters: Int = 0): DataFrame = {
    val v = normalized(withNorm(df, idCol, vecCol))
    val d = resolveDim(v, dim)
    ivfCentroidsPacked(v, nlist, lloydIters)
      .crossJoin(pqCodebookPacked(v, m, ksub, d))
      .select(col("_carr"), col("_cb"), lit(nlist).as("nlist"),
        lit(m).as("m"), lit(ksub).as("ksub"), lit(d).as("dim"))
  }

  /** Persistable IVF-PQ INDEX against a [[ivfPqModel]]: one compact row
   * per corpus vector — (idCol, cell, codes array<int> of length m). The
   * full-precision vector never needs to be read again for candidate
   * scans; at ksub <= 256 each code fits a byte on disk. */
  def ivfPqIndex(df: DataFrame, idCol: String, vecCol: String,
      model: DataFrame): DataFrame = {
    val (m, _, d) = modelParams(model)
    val v = requireDim(normalized(withNorm(df, idCol, vecCol)), d, "ivfPqIndex")
    v.crossJoin(broadcast(model))
      .select(col("_s_id").as(idCol),
        bestCellOf(col("_carr")).as("cell"),
        pqCode(col("_s_v"), col("_cb"), m, d / m).as("codes"))
  }

  /** Append a NEW batch to a persisted [[ivfPqIndex]] — the incremental
   * path of steady-state ANN and the analog of
   * [[Dedup.incrementalNearDups]]: the batch alone is width-validated and
   * coded against the persisted model (cell assignment + PQ codes, one
   * broadcast-model map stage), then unioned in; already-indexed corpus
   * vectors are never re-read or re-coded. Re-ingested ids (present in
   * both) keep the NEW batch's row, so replaying a batch is idempotent.
   * Because coding is per-row against the same frozen model,
   * `ivfPqIndexAppend(batch, model, ivfPqIndex(corpus, model))` equals
   * `ivfPqIndex(corpus ∪ batch, model)` exactly — append never degrades
   * search results vs a from-scratch rebuild. */
  def ivfPqIndexAppend(newBatch: DataFrame, idCol: String, vecCol: String,
      model: DataFrame, index: DataFrame): DataFrame = {
    val newIdx = ivfPqIndex(newBatch, idCol, vecCol, model)
    index.join(newIdx.select(col(idCol)), Seq(idCol), "left_anti")
      .unionByName(newIdx)
  }

  private def modelParams(model: DataFrame): (Int, Int, Int) = {
    val r = model.select(col("m"), col("ksub"), col("dim")).head()
    (r.getInt(0), r.getInt(1), r.getInt(2))
  }

  /** Fail-loudly per-row width guard: a vector whose width drifted from the
   * model's persisted `dim` would make `slice`+`zip_with` pad with nulls
   * and flow NULL sub-distances into codes/tables silently — raise instead,
   * mirroring [[Dedup.incrementalNearDups]]'s signature-width validation.
   * Costs one `size` comparison per row, no extra scan. */
  private def requireDim(v: DataFrame, d: Int, context: String): DataFrame =
    v.withColumn("_s_v",
      when(size(col("_s_v")) === d, col("_s_v"))
        .otherwise(raise_error(concat(
          lit(s"$context: vector width "), size(col("_s_v")).cast("string"),
          lit(s" != model dim $d — model built with different parameters?")))))

  /** Steady-state ANN: score a NEW query batch against a persisted
   * [[ivfPqModel]] + [[ivfPqIndex]] — the corpus vector table is never
   * scanned (unless `refineWith` asks for the exact re-rank, which joins
   * only the shortlist ids against it). Per query: one broadcast-model
   * ADC table, `nprobe` probed cells, candidates = (id, cell, m ints)
   * rows from the index. Ranking and tie-breaks are identical to
   * [[ivfPqTopK]], which is this operator applied to (corpus = queries,
   * inline index). */
  def ivfPqSearchIndexed(queries: DataFrame, idCol: String, vecCol: String,
      model: DataFrame, index: DataFrame, k: Int, nprobe: Int = 4,
      refineWith: Option[DataFrame] = None, refine: Int = 0): DataFrame = {
    val (m, _, d) = modelParams(model)
    val q = requireDim(normalized(withNorm(queries, idCol, vecCol)), d,
      "ivfPqSearchIndexed")
    val dsub = d / m
    val probed = q.crossJoin(broadcast(model))
      .select(col("_s_id").as("_q_id"),
        pqAdcTable(col("_s_v"), col("_cb"), m, dsub).as("_qtab"),
        posexplode(rankedCells(math.max(nprobe, 1))).as(Seq("_p", "_sc")))
      .select(col("_q_id"), col("_qtab"), col("_sc._c_id").as("cell"))
    val data = index.select(col(idCol).as("_n_id"), col("cell"), col("codes"))
    val scored = probed.join(data, "cell")
      .filter(col("_q_id") =!= col("_n_id"))
      .select(col("_q_id").as("query_id"), col("_n_id").as("neighbor_id"),
        pqAdcDistance(col("codes"), col("_qtab")).as("_adc"))
    val w = Window.partitionBy("query_id").orderBy(col("_adc").asc, col("neighbor_id").asc)
    (refineWith, refine) match {
      case (Some(corpus), r) if r > 0 =>
        val short = scored.withColumn("_arnk", row_number().over(w))
          .filter(col("_arnk") <= math.max(r, k))
          .select(col("query_id"), col("neighbor_id"))
        val cv = normalized(withNorm(corpus, idCol, vecCol))
          .select(col("_s_id").as("neighbor_id"), col("_s_v").as("_n_v"),
            col("_s_n").as("_n_n"))
        val qv = q.select(col("_s_id").as("query_id"), col("_s_v").as("_q_v"),
          col("_s_n").as("_q_n"))
        val rescored = short.join(qv, "query_id").join(cv, "neighbor_id")
          .select(col("query_id"), col("neighbor_id"),
            cosineOf(dotProduct(col("_q_v"), col("_n_v")), col("_q_n"), col("_n_n")).as("_cos"))
        val w2 = Window.partitionBy("query_id")
          .orderBy(col("_cos").desc, col("neighbor_id").asc)
        rescored.withColumn("rnk", row_number().over(w2))
          .filter(col("rnk") <= k)
          .select(col("query_id"), col("neighbor_id"), col("rnk"))
      case _ =>
        scored.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= k)
          .select(col("query_id"), col("neighbor_id"), col("rnk"))
    }
  }

  /** Within-cell similar pairs (a < b, cosine >= `threshold`, 4dp): each
   * vector is compared ONLY against vectors in its own IVF cell — the
   * SemDeDup cluster-then-compare shape. The pair join is an equi-join on
   * the cell id, so fan-out is bounded by cell sizes (~(n/nlist)² per
   * cell instead of n² — pick nlist so cells fit the executor); pairs
   * split across cells are missed by construction, the published recipe's
   * recall trade. */
  def ivfCellPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16, lloydIters: Int = 0): DataFrame = {
    val v = withNorm(df, idCol, vecCol)
    val data = ivfRanked(v, nlist, lloydIters, topR = 1)
      .select(col("_s_id"), col("_s_v"), col("_s_n"), col("_c_id").as("_cell"))
    data.as("x").join(data.as("y"),
        col("x._cell") === col("y._cell") && col("x._s_id") < col("y._s_id"))
      .select(col("x._s_id").as("a"), col("y._s_id").as("b"),
        round(cosineOf(dotProduct(col("x._s_v"), col("y._s_v")),
          col("x._s_n"), col("y._s_n")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
