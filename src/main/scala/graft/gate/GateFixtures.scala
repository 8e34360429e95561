package graft
package gate

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraphFrame.{ID, SRC, DST}

/**
 * Shared fixtures and DuckDB SQL helpers of the correctness gate. Graphs
 * are built from the TPC-H-ish driver testdata:
 *
 *  - graph A (string ids, exercises surrogate indexing): customers and
 *    orders as vertices ("c<key>" / "o<key>"), one edge per order;
 *  - graph B (int ids): nation co-occurrence — an edge src→dst when a
 *    customer of nation src bought from a supplier of nation dst;
 *  - event-type transition graph: consecutive events per user.
 */
object GateFixtures {
  private[gate] def load(s: SparkSession, dir: String, t: String): DataFrame =
    s.read.parquet(s"$dir/$t.parquet")

  /** customer→order bipartite graph with namespaced string ids and a `val`
   * payload (acctbal for customers, totalprice for orders). */
  private[gate] def graphA(s: SparkSession, dir: String): GraphFrame = {
    val cust = load(s, dir, "customer")
    val ord = load(s, dir, "orders")
    val v = cust.select(concat(lit("c"), col("c_custkey")).as(ID), col("c_acctbal").as("val"))
      .unionByName(ord.select(concat(lit("o"), col("o_orderkey")).as(ID),
        col("o_totalprice").as("val")))
    val e = ord.select(concat(lit("c"), col("o_custkey")).as(SRC),
      concat(lit("o"), col("o_orderkey")).as(DST))
    GraphFrame(v, e)
  }

  /** Distinct nation→nation trade edges (customer nation → supplier nation).
   * PERSISTED (r14 optimization): ~50 graph queries build on this edge
   * list, and the iterative/local-tail algorithms they feed run SEVERAL
   * actions over it (threshold probes, edge collects, vertex joins, the
   * final readout) — unpersisted, every action re-paid the 4-table
   * lineitem join (~0.3-0.5 s at sf0.1, × 2-6 actions per query). The
   * post-distinct frame is ≤ n_nations² rows, so the cache is a few KB;
   * the first action in each query still pays the join once (nothing is
   * precomputed across bench reps — Bench clears the cache per attempt). */
  private[gate] def nationEdges(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .join(load(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(load(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(load(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").as(SRC), col("s_nationkey").as(DST))
      .filter(col(SRC) =!= col(DST))
      .distinct()
      .persist()

  private[gate] def graphB(s: SparkSession, dir: String): GraphFrame =
    GraphFrame(
      load(s, dir, "nation").select(col("n_nationkey").as(ID), col("n_name")),
      nationEdges(s, dir))

  /** Irregular cycle+chords graph over the 25 nations: id → (id+7) % 25,
   * plus id → (3·id+1) % 25 for id % 3 = 0 (out-degrees 1-2, diameter ~8
   * — real path structure where the trade graph is near-complete). */
  private[graft] def circulantGraph(s: SparkSession, dir: String): GraphFrame = {
    val v = load(s, dir, "nation").select(col("n_nationkey").as(ID))
    val e = v.select(col(ID).as(SRC), pmod(col(ID) + 7, lit(25)).as(DST))
      .unionByName(v.filter(col(ID) % 3 === 0)
        .select(col(ID).as(SRC), pmod(col(ID) * 3 + 1, lit(25)).as(DST)))
      .filter(col(SRC) =!= col(DST))
      .distinct()
    GraphFrame(v, e)
  }

  /** Circulant-graph ANF table, computed FRESH per call (r15: the old
   * module-level memo keyed on `dir` survived across bench ATTEMPTS —
   * best-of-N reps of g_neighborhood / g_avg_distance /
   * g_effective_diameter were timing a driver-Seq replay instead of the
   * superstep loop, which is exactly the cross-run result caching the
   * bench contract forbids; removed). run() collects the ≤ diameter+1
   * (d, n_pairs) rows, so the per-row cost is the honest HyperANF run. */
  private[gate] def circulantNf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    circulantGraph(s, dir).neighborhoodFunction.run()
      .orderBy("d").collect()
      .map(x => (x.getInt(0), x.getLong(1))).toSeq
      .toDF("d", "n_pairs")
  }

  /** Run a streaming frame to completion through the memory sink `name`
   * and read the sink's table back. A one-file replay is one micro-batch,
   * so the table holds the finite stream's whole output. */
  private[gate] def drainToMemory(stream: Dataset[_], name: String, mode: String): DataFrame = {
    val q = stream.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable(); q.stop()
    stream.sparkSession.table(name)
  }

  /** Deterministic URL fixture over `documents` (no table carries URLs):
   * doc_id % 3 picks http-with-www-port-tracking-fragment, https-with-
   * userinfo-and-unsorted-params, or a schemeless non-URL (null-output
   * case). Shared by p_url_canonical and p_host_stats; the oracle
   * replays the same CASE. */
  private[gate] def urlFixture(s: SparkSession, dir: String): DataFrame = {
    val m = pmod(col("doc_id"), lit(3))
    val url = when(m === 0, concat(
        lit("HTTP://WWW.Site"), pmod(col("doc_id"), lit(7)),
        lit(".COM:80/Dir/Page/?utm_source=feed&b="),
        pmod(col("doc_id"), lit(5)), lit("&a=1&gclid=g#frag")))
      .when(m === 1, concat(
        lit("https://user:pw@Sub.site"), pmod(col("doc_id"), lit(7)),
        lit(".com:443/p"), pmod(col("doc_id"), lit(11)), lit("?z=2&a=3")))
      .otherwise(concat(lit("doc "), col("doc_id").cast("string")))
    load(s, dir, "documents").select(col("doc_id"), url.as("url"))
  }

  /** Deterministic crawl-page fixture over `documents`: each page links
   * to the next two hosts on the 5-host ring (one double-quoted
   * uppercase-host href, one single-quoted www+default-port href), plus
   * a site-relative link and a fragment link; the page's own URL is
   * http://h{doc_id%5}.com/p{doc_id}. Shared by p_extract_links and
   * p_host_graph; the oracles replay the same construction. */
  private[gate] def pageFixtureCols(docs: DataFrame): DataFrame = {
    val page = concat(
      lit("<p><a href=\"http://H"), pmod(col("doc_id") + 1, lit(5)),
      lit(".com/a\">x</a> <A HREF='https://www.h"),
      pmod(col("doc_id") + 2, lit(5)),
      lit(".com:443/b'>y</A> <a href=\"/local/page\">z</a> " +
        "<a href=\"#s\">w</a></p>"))
    val url = concat(lit("http://h"), pmod(col("doc_id"), lit(5)),
      lit(".com/p"), col("doc_id"))
    docs.select(col("doc_id"), url.as("url"), page.as("html"))
  }

  private[gate] def pageFixture(s: SparkSession, dir: String): DataFrame =
    pageFixtureCols(load(s, dir, "documents"))

  /** Binary-tree-plus-chords graph over the 25 nations: tree edges
   * id → id div 2 (so every edge is a bridge a priori) plus chord edges
   * id → (5·id + 2) % 25 for id % 7 = 3 — the chords close cycles through
   * tree paths AND create BFS cross edges, the shape that distinguishes
   * bridges/articulation logic from a naive DFS-lowpoint port. Connected
   * (the tree spans all 25), which the articulation oracle relies on. */
  private[gate] def treeChordGraph(s: SparkSession, dir: String): GraphFrame = {
    val v = load(s, dir, "nation").select(col("n_nationkey").cast("long").as(ID))
    val tree = v.filter(col(ID) >= 1)
      .select(col(ID).as(SRC), expr(s"$ID div 2").as(DST))
    val chord = v.filter(pmod(col(ID), lit(7)) === 3)
      .select(col(ID).as(SRC), pmod(col(ID) * 5 + 2, lit(25)).as(DST))
    GraphFrame(v, tree.unionByName(chord))
  }

  // r15: the old treeChordTwoConnDist helper memoized BOTH forced-
  // distributed 2-connectivity readouts in a module-level cache keyed on
  // `dir`, which survived across bench ATTEMPTS — best-of-N reps of
  // g_bridges_dist / g_articulation_dist timed a driver-Seq replay
  // instead of the superstep pipeline, the cross-run result caching the
  // bench contract forbids. Each row now runs its own single-mode
  // readout fresh (runModes computes only the requested projections;
  // callers needing both in ONE program should use
  // twoConnectivity.bridgesAndArticulationPoints()).

  /** Planted-community graph over the 25 nations: the five regions form
   * 5-cliques (dense intra-community structure), plus the sparse
   * id → (id+7) % 25 chord ring crossing them — the shape community
   * detection should mostly undo. */
  private[gate] def communityGraph(s: SparkSession, dir: String): GraphFrame = {
    val n = load(s, dir, "nation")
      .select(col("n_nationkey").as(ID), col("n_regionkey"))
    val same = n.as("x").join(n.as("y"),
        col("x.n_regionkey") === col("y.n_regionkey") &&
          col(s"x.$ID") < col(s"y.$ID"))
      .select(col(s"x.$ID").as(SRC), col(s"y.$ID").as(DST))
    val chord = n.select(col(ID).as(SRC), pmod(col(ID) + 7, lit(25)).as(DST))
    // persisted for the same reason as nationEdges: community algorithms
    // run multiple actions (round loops, modularity readouts) over these
    // ≤ 25·24 edges, each otherwise re-paying the region self-join
    GraphFrame(n.select(col(ID)),
      same.unionByName(chord).filter(col(SRC) =!= col(DST)).distinct()
        .persist())
  }

  /** Event-type transition graph: edge t1→t2 when some user's consecutive
   * events are typed t1 then t2. */
  private[gate] def eventTypeGraph(s: SparkSession, dir: String): GraphFrame = {
    val ev = load(s, dir, "events")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val e = ev.select(col("event_type").as(SRC),
        lead(col("event_type"), 1).over(w).as(DST))
      .filter(col(DST).isNotNull)
      .distinct()
      // persisted: fromEdges re-derives vertices from edges, so even a
      // single-pass consumer pays the events window twice unpersisted
      .persist()
    GraphFrame.fromEdges(e)
  }

  /** supplier—part property graph over lineitem for the bipartite
   * projection queries. */
  private[gate] def suppliesGraph(s: SparkSession, dir: String): propertygraph.PropertyGraphFrame = {
    import graft.propertygraph._
    val supplier = VertexPropertyGroup("supplier", load(s, dir, "supplier"), "s_suppkey")
    val part = VertexPropertyGroup("part", load(s, dir, "part"), "p_partkey")
    PropertyGraphFrame(Seq(supplier, part),
      Seq(EdgePropertyGroup("supplies", load(s, dir, "lineitem"), supplier, part,
        isDirected = true, "l_suppkey", "l_partkey", lit(1.0))))
  }

  /** Skew-stress composite (CC component stats + exact triangle total) on
   * a synthetic supplier graph from lineitem. With `hub = true` every 7th
   * edge row is redirected to vertex 0 — one vertex receives ~14% of all
   * edge rows, so the first shuffle (distinct), the CC message exchange
   * and the neighbor-set aggregation all see a hot key. The de-skewed
   * twin (`hub = false`) differs only in that redirect; comparing their
   * bench rows measures what the AQE-first skew stance actually costs. */
  private[gate] def skewStats(s: SparkSession, dir: String, hub: Boolean): DataFrame = {
    val li = load(s, dir, "lineitem")
    val base = pmod(col("l_suppkey") * 7 + col("l_partkey"), lit(997))
    val dstCol = if (hub) when(col("l_orderkey") % 7 === 0, lit(0)).otherwise(base)
      else base
    val e0 = li.select(col("l_suppkey").cast("long").as(SRC),
      dstCol.cast("long").as(DST))
    // vertices from ALL endpoints (pre-self-loop-filter) so a vertex seen
    // only in self-loops still counts as a singleton component
    val v = e0.select(explode(array(col(SRC), col(DST))).as(ID)).distinct()
    val g = GraphFrame(v, e0.filter(col(SRC) =!= col(DST)))
    // CC and triangle count both consume the same derived graph — persist
    // it once so the lineitem scan + hash projection + distinct don't run
    // twice (the r6 cold-cache bench protocol stopped hiding that)
    g.persist()
    val cc = g.connectedComponents.run()
    val cs = cc.groupBy("component").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).cast("long").as("_nc"), max("sz").cast("long").as("_mx"))
    val tri = g.triangleCount.run().agg((sum("count") / 3).cast("long").as("_t"))
    // materialize each single-row aggregate under its OWN adaptive plan
    // before combining: inside a crossJoin the non-probe side compiles as a
    // broadcast subtree where AQE cannot re-plan, and static size estimates
    // picked an array-shuffling SortMergeJoin for the triangle pipeline
    // (measured 20s vs 0.3s for the identical subtree planned adaptively)
    val csm = cs.localCheckpoint()
    val trim = tri.localCheckpoint()
    // stack() emits the three metric rows from the two 1-row checkpoints
    csm.crossJoin(trim).selectExpr(
      "stack(3, 'n_components', _nc, 'max_component', _mx, 'triangles', _t) " +
        "as (metric, value)")
  }

  /** nation trade-edge CTE body reused across graph-B oracles. */
  private[gate] val NE =
    """SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |WHERE c.c_nationkey <> s.s_nationkey""".stripMargin

  /** DuckDB word-token list (mirrors graft.pipeline.Text.tokens). */
  private[gate] val W = "list_filter(string_split(text, ' '), x -> len(x) > 0)"

  /** DuckDB replay of the unigram-LM tokenizer
   * (pipeline/Tokenizer.scala unigram family): seed vocab = all single
   * chars + top-K multi-char substrings; per hard-EM iteration, the
   * Viterbi DP is UNROLLED BY TOKEN COUNT (f_t(pos) = min cost to reach
   * pos with t pieces — words are bounded, so maxTok CTEs cover every
   * path), best(pos) = lexicographic min (cost, t), backpointers via the
   * same (cost+edge, t+1, start) argmin, and the segmentation walk is
   * unrolled too (one CTE per step). Counts re-estimate with the same
   * +1-smoothed fixed-point micro-nat costs. `train` emits the final
   * vocab; `!train` adds one more DP block under the final costs and
   * aggregates per document. */
  private[gate] def unigramSql(train: Boolean, vocabSize: Int = 40,
      maxPieceLen: Int = 4, iterations: Int = 2, maxWordLen: Int = 32,
      maxTok: Int = 12): String = {
    val cost = (cnt: String, si: String) =>
      s"CAST(-round(ln(CAST($cnt + 1 AS DOUBLE) / $si.den) * 1e6, 0) AS BIGINT)"
    // one DP block under costs c$i: candidates, token-count-unrolled
    // minima, per-position best, backpointers
    def dp(i: Int): String = {
      val fs = (1 to maxTok).map { t =>
        s"""f${i}_$t AS MATERIALIZED (SELECT f.word, c.en AS pos, MIN(f.cost + c.cost) AS cost
           |  FROM f${i}_${t - 1} f JOIN cd$i c ON c.word = f.word AND c.st = f.pos
           |  GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      val af = (0 to maxTok).map(t =>
        s"SELECT word, pos, cost, $t AS nt FROM f${i}_$t").mkString("\n  UNION ALL ")
      s"""cd$i AS MATERIALIZED (SELECT w.word, s - 1 AS st, s - 1 + l AS en, c.cost
         |  FROM w, range(1, ${maxWordLen + 1}) rs(s), range(1, ${maxPieceLen + 1}) rl(l), c$i c
         |  WHERE s + l - 1 <= len(w.word) AND substr(w.word, s, l) = c.piece),
         |f${i}_0 AS MATERIALIZED (SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS cost FROM w),
         |$fs,
         |af$i AS MATERIALIZED ($af),
         |b$i AS MATERIALIZED (SELECT word, pos, cost, nt FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY word, pos ORDER BY cost, nt) AS rn
         |  FROM af$i) WHERE rn = 1),
         |bp$i AS MATERIALIZED (SELECT word, pos, st FROM (SELECT b.word, c.en AS pos, c.st,
         |    ROW_NUMBER() OVER (PARTITION BY b.word, c.en
         |      ORDER BY b.cost + c.cost, b.nt + 1, c.st) AS rn
         |  FROM b$i b JOIN cd$i c ON c.word = b.word AND c.st = b.pos)
         |  WHERE rn = 1)""".stripMargin
    }
    // the unrolled backpointer walk + piece counting of one E-step
    def walk(i: Int): String = {
      val wks = (2 to maxTok).map { j =>
        s"""wk${i}_$j AS MATERIALIZED (SELECT p.word, p.startp AS endp, bp.st AS startp
           |  FROM wk${i}_${j - 1} p JOIN bp$i bp
           |    ON bp.word = p.word AND bp.pos = p.startp WHERE p.startp > 0)""".stripMargin
      }.mkString(",\n")
      val pc = (1 to maxTok).map(j =>
        s"SELECT word, substr(word, startp + 1, endp - startp) AS piece FROM wk${i}_$j")
        .mkString("\n  UNION ALL ")
      s"""wk${i}_1 AS MATERIALIZED (SELECT b.word, b.pos AS endp, bp.st AS startp
         |  FROM b$i b JOIN bp$i bp ON bp.word = b.word AND bp.pos = b.pos
         |  JOIN w ON w.word = b.word AND b.pos = len(w.word)),
         |$wks,
         |pc$i AS MATERIALIZED ($pc),
         |u$i AS MATERIALIZED (SELECT piece, CAST(SUM(freq) AS BIGINT) AS used
         |  FROM pc$i JOIN w USING (word) GROUP BY piece),
         |v$i AS MATERIALIZED (SELECT v.piece, CAST(COALESCE(u.used, 0) AS BIGINT) AS cnt
         |  FROM v${i - 1} v LEFT JOIN u$i u ON u.piece = v.piece)""".stripMargin
    }
    def costs(i: Int): String =
      s"""s$i AS MATERIALIZED (SELECT CAST(SUM(cnt) + COUNT(*) AS DOUBLE) AS den FROM v${i - 1}),
         |c$i AS MATERIALIZED (SELECT piece, ${cost("cnt", s"s$i")} AS cost FROM v${i - 1}, s$i)""".stripMargin
    val emBlocks = (1 to iterations)
      .map(i => s"${costs(i)},\n${dp(i)},\n${walk(i)}").mkString(",\n")
    val fin = iterations + 1
    val prefix =
      s"""WITH w AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest($W) AS word FROM documents)
         |  WHERE len(word) <= $maxWordLen GROUP BY word),
         |sp AS MATERIALIZED (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT substr(word, s, l) AS piece, freq
         |    FROM w, range(1, ${maxWordLen + 1}) rs(s), range(1, ${maxPieceLen + 1}) rl(l)
         |    WHERE s + l - 1 <= len(word)) GROUP BY piece),
         |v0 AS MATERIALIZED (SELECT piece, cnt FROM (SELECT piece, cnt FROM sp
         |    WHERE len(piece) > 1 ORDER BY cnt DESC, piece LIMIT $vocabSize)
         |  UNION ALL SELECT piece, cnt FROM sp WHERE len(piece) = 1),
         |$emBlocks""".stripMargin
    if (train)
      s"""$prefix,
         |s$fin AS MATERIALIZED (SELECT CAST(SUM(cnt) + COUNT(*) AS DOUBLE) AS den FROM v$iterations)
         |SELECT piece, cnt AS count, ${cost("cnt", s"s$fin")} AS cost_micro_nats
         |FROM v$iterations, s$fin""".stripMargin
    else
      s"""$prefix,
         |${costs(fin)},
         |${dp(fin)},
         |bb AS MATERIALIZED (SELECT b.word, b.cost, b.nt FROM b$fin b
         |  JOIN w ON w.word = b.word AND b.pos = len(w.word)),
         |dw AS MATERIALIZED (SELECT doc_id, unnest($W) AS word FROM documents)
         |SELECT dw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(COALESCE(SUM(bb.nt), 0) AS BIGINT) AS n_tokens_unigram,
         |  CAST(COALESCE(SUM(bb.cost), 0) AS BIGINT) AS cost_micro_nats,
         |  CAST(COUNT(*) - COUNT(bb.nt) AS BIGINT) AS n_words_skipped
         |FROM dw LEFT JOIN bb ON bb.word = dw.word
         |GROUP BY dw.doc_id""".stripMargin
  }
  /** WordPiece replay: vocab = all content-length-1 pieces (initial +
   * `##` continuation forms) UNION the top-`vocabSize` longer pieces by
   * word-frequency-weighted substring counts; encode = the greedy
   * longest-match walk unrolled `maxWordLen` steps (each step consumes
   * ≥ 1 character, and a finished/stuck word drops out of the join). */
  private[gate] def wordpieceSql(encode: Boolean, vocabSize: Int = 30,
      maxPieceLen: Int = 3, maxWordLen: Int = 16): String = {
    val clen = "CASE WHEN piece LIKE '##%' THEN len(piece) - 2 ELSE len(piece) END"
    val gs = (1 to maxWordLen).map { j =>
      s"""g$j AS MATERIALIZED (SELECT g.word, be.en AS pos, g.nt + 1 AS nt
         |  FROM g${j - 1} g JOIN be ON be.word = g.word AND be.st = g.pos)""".stripMargin
    }.mkString(",\n")
    val gu = (1 to maxWordLen).map(j => s"SELECT * FROM g$j").mkString("\n  UNION ALL ")
    val prefix =
      s"""WITH wf AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest($W) AS word FROM documents)
         |  WHERE len(word) <= $maxWordLen GROUP BY word),
         |cand AS MATERIALIZED (SELECT word, freq, s - 1 AS st, s - 1 + l AS en,
         |    CASE WHEN s = 1 THEN substr(word, s, l)
         |         ELSE '##' || substr(word, s, l) END AS piece
         |  FROM wf, range(1, ${maxWordLen + 1}) rs(s), range(1, ${maxPieceLen + 1}) rl(l)
         |  WHERE s + l - 1 <= len(word)),
         |vc AS MATERIALIZED (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM cand GROUP BY piece),
         |v AS MATERIALIZED (
         |  SELECT piece, cnt FROM (SELECT piece, cnt FROM vc WHERE $clen > 1
         |    ORDER BY cnt DESC, piece LIMIT $vocabSize)
         |  UNION ALL SELECT piece, cnt FROM vc WHERE $clen = 1)""".stripMargin
    if (!encode) s"$prefix\nSELECT piece, cnt AS count FROM v"
    else
      s"""$prefix,
         |be AS MATERIALIZED (SELECT c.word, c.st, MAX(c.en) AS en
         |  FROM cand c JOIN v ON v.piece = c.piece GROUP BY 1, 2),
         |g0 AS (SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS nt FROM wf),
         |$gs,
         |fin AS MATERIALIZED (SELECT word, nt FROM ($gu) WHERE pos = len(word)),
         |dw AS (SELECT doc_id, unnest($W) AS word FROM documents)
         |SELECT dw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(COALESCE(SUM(f.nt), 0) AS BIGINT) AS n_tokens_wordpiece,
         |  CAST(COUNT(*) - COUNT(f.nt) AS BIGINT) AS n_words_unk
         |FROM dw LEFT JOIN fin f ON f.word = dw.word
         |GROUP BY dw.doc_id""".stripMargin
  }

  /** 3-word shingles over w (mirrors Text.wordShingles(n=3)). */
  private[gate] val SH3 = "[array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]"

  /** Incremental near-dup oracle (new batch doc_id >= 400 vs the
   * doc_id < 400 corpus index, plus within-batch pairs) — shared by the
   * batch query and its single-micro-batch streaming twin. */
  private[gate] lazy val incrementalDedupSql: String = incrementalDedupSqlTo(None)

  /** `hi` bounds the new-batch slice (the streaming gate row pins a
   * fixed-size ingest batch; None = the full ≥400 corpus). */
  private[gate] def incrementalDedupSqlTo(hi: Option[Long]): String = {
    val nbFilter = hi.map(h => s"doc_id >= 400 AND doc_id < $h")
      .getOrElse("doc_id >= 400")
    s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
       |s AS (SELECT doc_id, $SH3 AS sh FROM t WHERE len(w) >= 3),
       |sig AS MATERIALIZED (SELECT doc_id, list_transform(range(0, 16), h ->
       |   list_min(list_transform(sh, x -> md5(CAST(h AS VARCHAR) || '|' || x)))) AS mh
       |   FROM s),
       |bands AS MATERIALIZED (SELECT doc_id, r.b AS band,
       |   md5(array_to_string(mh[2 * r.b + 1:2 * r.b + 2], '|')) AS bh
       |   FROM sig, range(0, 8) r(b)),
       |nb AS (SELECT * FROM bands WHERE $nbFilter),
       |cb AS (SELECT * FROM bands WHERE doc_id < 400),
       |p AS (SELECT DISTINCT nb.doc_id AS id, cb.doc_id AS mid
       |   FROM nb JOIN cb ON nb.band = cb.band AND nb.bh = cb.bh
       |  UNION
       |  SELECT DISTINCT x.doc_id, y.doc_id
       |   FROM nb x JOIN nb y ON x.band = y.band AND x.bh = y.bh
       |   AND x.doc_id > y.doc_id)
       |SELECT p.id AS doc_id, p.mid AS match_id,
       |  ROUND(CAST(len(list_filter(range(1, 17), i -> a.mh[i] = b.mh[i])) AS DOUBLE) / 16,
       |    4) AS est_jaccard
       |FROM p JOIN sig a ON a.doc_id = p.id JOIN sig b ON b.doc_id = p.mid""".stripMargin
  }

  /** Exact maximal duplicated spans replay (mirrors Text.dupSpansMaximal):
   * md5'd `seedTokens`-token windows, capped cross-doc seed buckets,
   * per-pair longest-common-extension (first aligned mismatch), per-
   * position max, predecessor maximality filter, span rebuild. */
  private[gate] def dupSpansMaximalSql(seedTokens: Int, maxBucket: Int): String =
    s"""${dupSpansMaximalCtes(seedTokens, maxBucket)}
       |SELECT mx.d AS doc_id, CAST(mx.pos AS INT) AS pos, CAST(mx.len AS INT) AS len,
       |  array_to_string(t.w[mx.pos + 1 : mx.pos + mx.len], ' ') AS span
       |FROM mx JOIN t ON t.doc_id = mx.d""".stripMargin

  /** Cut replay (mirrors Text.cutDupSpans): group the maximal spans by
   * text, keep the smallest (doc, pos) occurrence, drop every token
   * covered by a losing occurrence, rebuild in position order. */
  private[gate] def cutDupSpansSql(seedTokens: Int, maxBucket: Int): String =
    s"""${dupSpansMaximalCtes(seedTokens, maxBucket)},
       |sp AS (SELECT mx.d, mx.pos, mx.len,
       |    array_to_string(t.w[mx.pos + 1 : mx.pos + mx.len], ' ') AS span
       |  FROM mx JOIN t ON t.doc_id = mx.d),
       |lose AS (SELECT d, pos, len FROM (
       |  SELECT sp.*, ROW_NUMBER() OVER (PARTITION BY md5(span) ORDER BY d, pos) AS rn
       |  FROM sp) WHERE rn > 1),
       |rem AS (SELECT DISTINCT d, unnest(range(pos, pos + len)) AS tp FROM lose),
       |tok AS (SELECT doc_id AS d, unnest(range(0, len(w))) AS pos, unnest(w) AS tk FROM t),
       |keep AS (SELECT tok.* FROM tok LEFT JOIN rem ON rem.d = tok.d AND rem.tp = tok.pos
       |  WHERE rem.tp IS NULL),
       |reb AS (SELECT d, string_agg(tk, ' ' ORDER BY pos) AS clean_text FROM keep GROUP BY d),
       |cnt AS (SELECT d, COUNT(*) AS n FROM rem GROUP BY d)
       |SELECT t.doc_id, COALESCE(reb.clean_text, '') AS clean_text,
       |  CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_removed_tokens
       |FROM t LEFT JOIN reb ON reb.d = t.doc_id LEFT JOIN cnt ON cnt.d = t.doc_id""".stripMargin

  /** Cross-corpus decontamination CTEs (mirrors Text.contaminatedSpans
   * with train = doc_id % 10 <> 0, bench = doc_id % 10 = 0): two-sided
   * seed windows, both-sides bucket rule, train×bench pairs, LCE,
   * per-TRAIN-position max, predecessor maximality. */
  private[gate] def contaminatedCtes(seedTokens: Int, maxBucket: Int): String = {
    val n = seedTokens
    s"""WITH tt AS MATERIALIZED (SELECT doc_id, $W AS w FROM documents
       |  WHERE doc_id % 10 <> 0),
       |tb AS MATERIALIZED (SELECT doc_id, $W AS w FROM documents
       |  WHERE doc_id % 10 = 0),
       |s0t AS (SELECT doc_id AS d, w, unnest(range(0, len(w) - ${n - 1})) AS pos
       |  FROM tt WHERE len(w) >= $n),
       |sdt AS MATERIALIZED (SELECT d, CAST(pos AS INT) AS pos,
       |  md5(array_to_string(w[pos + 1 : pos + $n], ' ')) AS k FROM s0t),
       |s0b AS (SELECT doc_id AS d, w, unnest(range(0, len(w) - ${n - 1})) AS pos
       |  FROM tb WHERE len(w) >= $n),
       |sdb AS MATERIALIZED (SELECT d, CAST(pos AS INT) AS pos,
       |  md5(array_to_string(w[pos + 1 : pos + $n], ' ')) AS k FROM s0b),
       |ok AS (SELECT k FROM (
       |  SELECT k, SUM(t) AS nt, SUM(b) AS nb FROM (
       |    SELECT k, 1 AS t, 0 AS b FROM sdt
       |    UNION ALL SELECT k, 0, 1 FROM sdb) GROUP BY k)
       |  WHERE nt >= 1 AND nb >= 1 AND nt + nb <= $maxBucket),
       |px AS MATERIALIZED (SELECT x.d AS d1, x.pos AS p1, y.d AS d2, y.pos AS p2
       |  FROM sdt x JOIN ok ON ok.k = x.k JOIN sdb y ON y.k = x.k),
       |pw AS (SELECT px.*, a.w AS w1, b.w AS w2,
       |    LEAST(len(a.w) - px.p1, len(b.w) - px.p2) AS lmax
       |  FROM px JOIN tt a ON a.doc_id = px.d1 JOIN tb b ON b.doc_id = px.d2),
       |pl AS MATERIALIZED (SELECT d1, p1,
       |    CAST(CASE WHEN fm IS NULL OR fm = 0 THEN lmax ELSE fm - 1 END AS INT) AS len FROM (
       |  SELECT *, list_position(list_transform(range(1, lmax + 1),
       |      i -> w1[p1 + i] = w2[p2 + i]), false) AS fm
       |  FROM pw)),
       |pp AS MATERIALIZED (SELECT d1 AS d, p1 AS pos, MAX(len) AS len
       |  FROM pl GROUP BY 1, 2),
       |mx AS (SELECT c.d, c.pos, c.len FROM pp c
       |  LEFT JOIN pp l ON l.d = c.d AND l.pos = c.pos - 1
       |  WHERE l.len IS NULL OR l.len < c.len + 1)""".stripMargin
  }

  private def dupSpansMaximalCtes(seedTokens: Int, maxBucket: Int): String = {
    val n = seedTokens
    s"""WITH t AS MATERIALIZED (SELECT doc_id, $W AS w FROM documents),
       |s0 AS (SELECT doc_id AS d, w, unnest(range(0, len(w) - ${n - 1})) AS pos
       |  FROM t WHERE len(w) >= $n),
       |sd AS MATERIALIZED (SELECT d, CAST(pos AS INT) AS pos,
       |  md5(array_to_string(w[pos + 1 : pos + $n], ' ')) AS k FROM s0),
       |ok AS (SELECT k FROM sd GROUP BY k
       |  HAVING COUNT(DISTINCT d) >= 2 AND COUNT(*) <= $maxBucket),
       |cand AS MATERIALIZED (SELECT sd.d, sd.pos, sd.k FROM sd JOIN ok ON ok.k = sd.k),
       |px AS MATERIALIZED (SELECT x.d AS d1, x.pos AS p1, y.d AS d2, y.pos AS p2
       |  FROM cand x JOIN cand y ON x.k = y.k AND x.d < y.d),
       |pw AS (SELECT px.*, a.w AS w1, b.w AS w2,
       |    LEAST(len(a.w) - px.p1, len(b.w) - px.p2) AS lmax
       |  FROM px JOIN t a ON a.doc_id = px.d1 JOIN t b ON b.doc_id = px.d2),
       |pl AS MATERIALIZED (SELECT d1, p1, d2, p2,
       |    CAST(CASE WHEN fm IS NULL OR fm = 0 THEN lmax ELSE fm - 1 END AS INT) AS len FROM (
       |  SELECT *, list_position(list_transform(range(1, lmax + 1),
       |      i -> w1[p1 + i] = w2[p2 + i]), false) AS fm
       |  FROM pw)),
       |pp AS MATERIALIZED (SELECT d, pos, MAX(len) AS len FROM (
       |  SELECT d1 AS d, p1 AS pos, len FROM pl
       |  UNION ALL SELECT d2, p2, len FROM pl) GROUP BY 1, 2),
       |mx AS (SELECT c.d, c.pos, c.len FROM pp c
       |  LEFT JOIN pp l ON l.d = c.d AND l.pos = c.pos - 1
       |  WHERE l.len IS NULL OR l.len < c.len + 1)""".stripMargin
  }

  /** Two-micro-batch GROW-mode replay (mirrors e_stream_incdedup_grow):
   * batch 1 = docs [400, 450) matches corpus (<400) + earlier-in-batch;
   * batch 2 = docs [450, 500) matches corpus + ALL of batch 1 (the live
   * index grew) + earlier-in-batch. */
  private[gate] lazy val incrementalDedupGrowSql: String =
    s"""WITH t AS (SELECT doc_id, $W AS w FROM documents WHERE doc_id < 500),
       |s AS (SELECT doc_id, $SH3 AS sh FROM t WHERE len(w) >= 3),
       |sig AS MATERIALIZED (SELECT doc_id, list_transform(range(0, 16), h ->
       |   list_min(list_transform(sh, x -> md5(CAST(h AS VARCHAR) || '|' || x)))) AS mh
       |   FROM s),
       |bands AS MATERIALIZED (SELECT doc_id, r.b AS band,
       |   md5(array_to_string(mh[2 * r.b + 1:2 * r.b + 2], '|')) AS bh
       |   FROM sig, range(0, 8) r(b)),
       |n1 AS (SELECT * FROM bands WHERE doc_id >= 400 AND doc_id < 450),
       |n2 AS (SELECT * FROM bands WHERE doc_id >= 450),
       |cb AS (SELECT * FROM bands WHERE doc_id < 400),
       |lb AS (SELECT * FROM bands WHERE doc_id < 450),
       |p AS (SELECT DISTINCT n1.doc_id AS id, cb.doc_id AS mid
       |   FROM n1 JOIN cb ON n1.band = cb.band AND n1.bh = cb.bh
       |  UNION
       |  SELECT DISTINCT x.doc_id, y.doc_id
       |   FROM n1 x JOIN n1 y ON x.band = y.band AND x.bh = y.bh
       |   AND x.doc_id > y.doc_id
       |  UNION
       |  SELECT DISTINCT n2.doc_id, lb.doc_id
       |   FROM n2 JOIN lb ON n2.band = lb.band AND n2.bh = lb.bh
       |  UNION
       |  SELECT DISTINCT x.doc_id, y.doc_id
       |   FROM n2 x JOIN n2 y ON x.band = y.band AND x.bh = y.bh
       |   AND x.doc_id > y.doc_id)
       |SELECT p.id AS doc_id, p.mid AS match_id,
       |  ROUND(CAST(len(list_filter(range(1, 17), i -> a.mh[i] = b.mh[i])) AS DOUBLE) / 16,
       |    4) AS est_jaccard
       |FROM p JOIN sig a ON a.doc_id = p.id JOIN sig b ON b.doc_id = p.mid""".stripMargin

  /** Unrolled Katz replay: x ← beta + alpha · (in-sum of x). */
  private[gate] def katzSql(iters: Int, alpha: Double, beta: Double): String = {
    val steps = (1 to iters).map { k =>
      s"""x${k}r AS MATERIALIZED (SELECT e.dst AS id, SUM(x${k - 1}.k) AS s
         |  FROM e JOIN x${k - 1} ON x${k - 1}.id = e.src GROUP BY 1),
         |x$k AS MATERIALIZED (SELECT v.id,
         |    CAST($beta AS DOUBLE) + CAST($alpha AS DOUBLE) * COALESCE(x${k}r.s, 0.0) AS k
         |  FROM v LEFT JOIN x${k}r ON x${k}r.id = v.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($NE),
       |v AS MATERIALIZED (SELECT n_nationkey AS id FROM nation),
       |x0 AS (SELECT id, CAST($beta AS DOUBLE) AS k FROM v),
       |$steps
       |SELECT id, round(k, 6) AS katz FROM x$iters""".stripMargin
  }

  /** Unrolled eigenvector-centrality replay: raw power iteration
   * x ← Aᵀx from all-ones, ONE sup-norm division at the end — the exact
   * trajectory graft.lib.Eigenvector computes (its 1e100 overflow guard
   * cannot trigger at 10 rounds on a 25-vertex graph). */
  private[gate] def eigenvectorSql(iters: Int, weighted: Boolean = false): String = {
    val term = if (weighted) "p.x * e.w" else "p.x"
    val eCte = if (weighted)
      s"(SELECT src, dst, CAST((src * 7 + dst * 3) % 5 + 1 AS DOUBLE) AS w FROM ($NE))"
    else s"($NE)"
    val steps = (1 to iters).map { k =>
      s"""ev$k AS MATERIALIZED (
         |  SELECT v.id, COALESCE(SUM($term), 0.0) AS x
         |  FROM v LEFT JOIN e ON e.dst = v.id
         |  LEFT JOIN ev${k - 1} p ON p.id = e.src
         |  GROUP BY v.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED $eCte,
       |v AS MATERIALIZED (SELECT n_nationkey AS id FROM nation),
       |ev0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS x FROM v),
       |$steps,
       |mx AS (SELECT MAX(ABS(x)) AS m FROM ev$iters)
       |SELECT id, ROUND(CASE WHEN m > 0 THEN x / m ELSE 0.0 END, 6)
       |  AS eigenvector FROM ev$iters, mx""".stripMargin
  }

  /** Unrolled HITS replay: raw power iteration (authority = in-sum of
   * hubs, hub = out-sum of NEW authorities) with one L2 normalization of
   * each score at the END — per-round normalization only rescales, and
   * graft.lib.Hits skips it for one-job-per-window lazy rounds. */
  private[gate] def hitsSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""a${k}r AS MATERIALIZED (SELECT e.dst AS id, SUM(h${k - 1}.hub) AS a
         |  FROM e JOIN h${k - 1} ON h${k - 1}.id = e.src GROUP BY 1),
         |a$k AS MATERIALIZED (SELECT v.id, h${k - 1}.hub,
         |    COALESCE(a${k}r.a, 0.0) AS auth
         |  FROM v JOIN h${k - 1} ON h${k - 1}.id = v.id
         |  LEFT JOIN a${k}r ON a${k}r.id = v.id),
         |b${k}r AS MATERIALIZED (SELECT e.src AS id, SUM(a$k.auth) AS h
         |  FROM e JOIN a$k ON a$k.id = e.dst GROUP BY 1),
         |h$k AS MATERIALIZED (SELECT v.id, COALESCE(b${k}r.h, 0.0) AS hub, a$k.auth
         |  FROM v JOIN a$k ON a$k.id = v.id
         |  LEFT JOIN b${k}r ON b${k}r.id = v.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($NE),
       |v AS MATERIALIZED (SELECT n_nationkey AS id FROM nation),
       |h0 AS (SELECT id, 1.0 AS hub FROM v),
       |$steps,
       |nz AS (SELECT sqrt(SUM(hub * hub)) AS hn, sqrt(SUM(auth * auth)) AS an
       |       FROM h$iters)
       |SELECT id,
       |  round(CASE WHEN hn > 0 THEN hub / hn ELSE 0.0 END, 6) AS hub,
       |  round(CASE WHEN an > 0 THEN auth / an ELSE 0.0 END, 6) AS authority
       |FROM h$iters, nz""".stripMargin
  }

  /** Unrolled SALSA replay: HITS with per-edge 1/outdeg / 1/indeg weights
   * computed once (the identical float products the engine reuses each
   * round), L1-normalized at the end. */
  private[gate] def salsaSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""a${k}r AS MATERIALIZED (SELECT ew.dst AS id, SUM(h${k - 1}.hub * ew.wout) AS a
         |  FROM ew JOIN h${k - 1} ON h${k - 1}.id = ew.src GROUP BY 1),
         |a$k AS MATERIALIZED (SELECT v.id, h${k - 1}.hub,
         |    COALESCE(a${k}r.a, 0.0) AS auth
         |  FROM v JOIN h${k - 1} ON h${k - 1}.id = v.id
         |  LEFT JOIN a${k}r ON a${k}r.id = v.id),
         |b${k}r AS MATERIALIZED (SELECT ew.src AS id, SUM(a$k.auth * ew.win) AS h
         |  FROM ew JOIN a$k ON a$k.id = ew.dst GROUP BY 1),
         |h$k AS MATERIALIZED (SELECT v.id, COALESCE(b${k}r.h, 0.0) AS hub, a$k.auth
         |  FROM v JOIN a$k ON a$k.id = v.id
         |  LEFT JOIN b${k}r ON b${k}r.id = v.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($NE),
       |v AS MATERIALIZED (SELECT n_nationkey AS id FROM nation),
       |od AS (SELECT src, COUNT(*) AS c FROM e GROUP BY 1),
       |ig AS (SELECT dst, COUNT(*) AS c FROM e GROUP BY 1),
       |ew AS MATERIALIZED (SELECT e.src, e.dst,
       |    1.0 / od.c AS wout, 1.0 / ig.c AS win
       |  FROM e JOIN od ON od.src = e.src JOIN ig ON ig.dst = e.dst),
       |h0 AS (SELECT id, 1.0 AS hub FROM v),
       |$steps,
       |nz AS (SELECT SUM(hub) AS hn, SUM(auth) AS an FROM h$iters)
       |SELECT id,
       |  round(CASE WHEN hn > 0 THEN hub / hn ELSE 0.0 END, 6) AS hub,
       |  round(CASE WHEN an > 0 THEN auth / an ELSE 0.0 END, 6) AS authority
       |FROM h$iters, nz""".stripMargin
  }

  /** Unrolled 3-merge word-level BPE replay (mirrors
   * graft.pipeline.Tokenizer: `⟨sym⟩` boundary encoding, greedy
   * left-to-right `replace`, count-desc/pair-asc tie-break). `finalSelect`
   * reads any of m1..m3 (the merge picks) or c3 (the final corpus). */
  private[gate] def bpeSql(finalSelect: String): String = {
    def pick(k: Int, field: String) = s"(SELECT $field FROM m$k)"
    val steps = (1 to 3).map { k =>
      s"""p$k AS (SELECT ts[i] AS l, ts[i+1] AS r
         |  FROM (SELECT string_split(s[2:-2], '⟩⟨') AS ts FROM c${k - 1}),
         |       range(1, 100000) t(i) WHERE i < len(ts)),
         |m$k AS (SELECT l, r, count(*) AS n FROM p$k GROUP BY 1, 2
         |  ORDER BY n DESC, l, r LIMIT 1),
         |c$k AS (SELECT doc_id, nraw,
         |  replace(s, '⟨' || ${pick(k, "l")} || '⟩⟨' || ${pick(k, "r")} || '⟩',
         |             '⟨' || ${pick(k, "l")} || ' ' || ${pick(k, "r")} || '⟩') AS s
         |  FROM c${k - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH c0 AS (
       |  SELECT doc_id, len(ws) AS nraw,
       |    '⟨' || array_to_string(ws, '⟩⟨') || '⟩' AS s
       |  FROM (SELECT doc_id, $W AS ws FROM documents) WHERE len(ws) > 0),
       |$steps
       |$finalSelect""".stripMargin
  }

  private[gate] def pagerankSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""pr$k AS (
         |  SELECT v.id, 0.15 + 0.85 * COALESCE(SUM(p.r / o.od), 0) AS r
         |  FROM v LEFT JOIN e ON e.dst = v.id
         |  LEFT JOIN pr${k - 1} p ON p.id = e.src
         |  LEFT JOIN od o ON o.src = e.src
         |  GROUP BY v.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($NE),
       |od AS (SELECT src, count(*) AS od FROM e GROUP BY src),
       |v AS (SELECT n_nationkey AS id FROM nation),
       |pr0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS r FROM v),
       |$steps
       |SELECT id, ROUND(r, 5) AS pagerank FROM pr$iters""".stripMargin
  }

  /** Tolerance-mode PageRank oracle over the cycle+chords nation graph:
   * unrolls `maxRounds` power-iteration rounds, then REPLAYS the voting
   * stop rule — the reported ranks are those of the first round whose
   * max |Δrank| over all vertices drops below `tol`, exactly when the
   * Pregel active-vertex loop stops. */
  /** Circulant cycle+chords CTEs shared by the centrality oracles: the
   * graph (cv/ce), all-pairs BFS distances (dist), and shortest-path
   * counts (csig — each `csp` row is one distinct shortest path, extended
   * only along DAG edges dist(s, next) = d+1, so COUNT(*) = sigma). */
  private[gate] val CIRC_DIST_SIGMA =
    """cv AS (SELECT n_nationkey AS id FROM nation),
      |ce AS (SELECT DISTINCT src, dst FROM (
      |    SELECT id AS src, (id + 7) % 25 AS dst FROM cv
      |    UNION ALL
      |    SELECT id, (3 * id + 1) % 25 FROM cv WHERE id % 3 = 0)
      |  WHERE src <> dst),
      |cwalk AS (SELECT id AS s, id AS v, 0 AS d FROM cv
      |  UNION SELECT w.s, ce.dst, w.d + 1 FROM cwalk w
      |    JOIN ce ON ce.src = w.v WHERE w.d < 25),
      |cdist AS (SELECT s, v, MIN(d) AS d FROM cwalk GROUP BY s, v),
      |csp AS (SELECT id AS s, id AS v, 0 AS d FROM cv
      |  UNION ALL SELECT p.s, ce.dst, p.d + 1 FROM csp p
      |    JOIN ce ON ce.src = p.v
      |    JOIN cdist dd ON dd.s = p.s AND dd.v = ce.dst AND dd.d = p.d + 1),
      |csig AS (SELECT s, v, CAST(COUNT(*) AS DOUBLE) AS sig
      |  FROM csp GROUP BY s, v)""".stripMargin

  /** Weighted circulant CTEs: the graph with integer weights
   * (src*7 + dst*3) % 5 + 1 and all-pairs weighted distances (cwalk
   * dedups (s, v, d) triples; weights 1..5 bound d <= 130 so the
   * recursion is finite without a hop column). */
  private[gate] val CIRC_DIST_W =
    """cv AS (SELECT n_nationkey AS id FROM nation),
      |ce AS (SELECT src, dst, CAST((src * 7 + dst * 3) % 5 + 1 AS DOUBLE) AS w
      |  FROM (SELECT DISTINCT src, dst FROM (
      |      SELECT id AS src, (id + 7) % 25 AS dst FROM cv
      |      UNION ALL
      |      SELECT id, (3 * id + 1) % 25 FROM cv WHERE id % 3 = 0)
      |    WHERE src <> dst)),
      |cwalk AS (SELECT id AS s, id AS v, CAST(0 AS DOUBLE) AS d FROM cv
      |  UNION SELECT w2.s, ce.dst, w2.d + ce.w FROM cwalk w2
      |    JOIN ce ON ce.src = w2.v WHERE w2.d < 130),
      |cdistw AS (SELECT s, v, MIN(d) AS d FROM cwalk GROUP BY s, v)""".stripMargin

  /** Two-tone vertical-split PNG per document, REAL-encoded with the
   * JDK's ImageIO: width = id%24+8, height = id·7%24+8, left ⌈w/2⌉
   * columns tone (id%256, id·3%256, id·7%256), right columns the
   * 255-complement. Lossless, so decoded stats / block hashes are
   * analytically predictable from doc_id alone. */
  private[gate] def twoTonePngs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // repartition BEFORE the codec mapPartitions (r14): the testdata
    // parquet is one row group → a 1-partition scan, so the real
    // ImageIO encode (and every decode downstream, which inherits this
    // partitioning narrowly) ran single-threaded however many cores the
    // session has. The JDK-codec seam is exactly the per-row work that
    // should spread; one tiny (id)-only shuffle buys codec parallelism.
    val ids = load(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
      .repartition(s.sparkContext.defaultParallelism)
    ids.mapPartitions { it =>
      it.map { id =>
        val w = (id % 24 + 8).toInt
        val h = (id * 7 % 24 + 8).toInt
        val wl = (w + 1) / 2
        val (ra, ga, ba) = ((id % 256).toInt, (id * 3 % 256).toInt, (id * 7 % 256).toInt)
        val (rb, gb, bb) = (255 - ra, 255 - ga, 255 - ba)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val (r, g, b) = if (x < wl) (ra, ga, ba) else (rb, gb, bb)
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (id, bos.toByteArray)
      }
    }.toDF("doc_id", "payload")
  }

  /** Analytic aHash replay of the two-tone PNG fixture: every row of the
   * image is identical, so block (by,bx) has luma sum
   * (nA·lumaA + (nx−nA)·lumaB)·ny with nA the overlap of the block's
   * x-range with the left tone region — the oracle evaluates the SAME
   * integer cross-multiplication bit rule over all 64 blocks. */
  private[gate] val AHASH_BITS =
    """p AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    doc_id % 24 + 8 AS w, (doc_id * 7) % 24 + 8 AS h,
      |    (doc_id % 24 + 9) // 2 AS wl,
      |    (doc_id % 256) + ((doc_id * 3) % 256) + ((doc_id * 7) % 256) AS la
      |  FROM documents),
      |blk AS (SELECT doc_id, w, h, wl, la, 765 - la AS lb,
      |    byy.i AS by, bxx.i AS bx,
      |    (bxx.i * w) // 8 AS x0, ((bxx.i + 1) * w) // 8 AS x1,
      |    (byy.i * h) // 8 AS y0, ((byy.i + 1) * h) // 8 AS y1
      |  FROM p, range(0, 8) byy(i), range(0, 8) bxx(i)),
      |bits AS (SELECT doc_id, by, bx,
      |    CASE WHEN
      |      ((GREATEST(0, LEAST(x1, wl) - x0) * la
      |        + (x1 - x0 - GREATEST(0, LEAST(x1, wl) - x0)) * lb)
      |       * (y1 - y0)) * (w * h)
      |      > ((wl * la + (w - wl) * lb) * h) * ((x1 - x0) * (y1 - y0))
      |    THEN '1' ELSE '0' END AS bit
      |  FROM blk),
      |hs AS (SELECT doc_id, string_agg(bit, '' ORDER BY by, bx) AS ahash
      |  FROM bits GROUP BY 1)""".stripMargin

  /** Analytic dHash replay of the same fixture: 8 rows × 9 columns of
   * blocks, bit (by,bx) = mean(block bx) > mean(block bx+1) by the exact
   * integer cross-multiplication the engine uses (rows are identical, so
   * each block's luma sum is closed-form). */
  private[gate] val DHASH_BITS =
    """p AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    doc_id % 24 + 8 AS w, (doc_id * 7) % 24 + 8 AS h,
      |    (doc_id % 24 + 9) // 2 AS wl,
      |    (doc_id % 256) + ((doc_id * 3) % 256) + ((doc_id * 7) % 256) AS la
      |  FROM documents),
      |dblk AS (SELECT doc_id, w, h, wl, la, 765 - la AS lb,
      |    byy.i AS by, bxx.i AS bx,
      |    (bxx.i * w) // 9 AS x0, ((bxx.i + 1) * w) // 9 AS x1,
      |    (byy.i * h) // 8 AS y0, ((byy.i + 1) * h) // 8 AS y1
      |  FROM p, range(0, 8) byy(i), range(0, 9) bxx(i)),
      |dsum AS (SELECT doc_id, by, bx,
      |    (GREATEST(0, LEAST(x1, wl) - x0) * la
      |      + (x1 - x0 - GREATEST(0, LEAST(x1, wl) - x0)) * lb) * (y1 - y0) AS sm,
      |    (x1 - x0) * (y1 - y0) AS np
      |  FROM dblk),
      |bits AS (SELECT a.doc_id, a.by, a.bx,
      |    CASE WHEN a.sm * b.np > b.sm * a.np THEN '1' ELSE '0' END AS bit
      |  FROM dsum a JOIN dsum b
      |    ON b.doc_id = a.doc_id AND b.by = a.by AND b.bx = a.bx + 1
      |  WHERE a.bx < 8),
      |hs AS (SELECT doc_id, string_agg(bit, '' ORDER BY by, bx) AS dhash
      |  FROM bits GROUP BY 1)""".stripMargin

  /** Tree+chords fixture CTEs shared by the 2-connectivity oracles:
   * vertices (tv), directed raw edges (te), canonical simple undirected
   * edges (tce) and the both-ways adjacency (tadj). */
  private[gate] val TREE_CHORD =
    """tv AS (SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation),
      |te AS (SELECT id AS src, id // 2 AS dst FROM tv WHERE id >= 1
      |  UNION ALL SELECT id, (id * 5 + 2) % 25 FROM tv WHERE id % 7 = 3),
      |tce AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      |  FROM te WHERE src <> dst),
      |tadj AS (SELECT a AS u, b AS v FROM tce UNION ALL SELECT b, a FROM tce)""".stripMargin

  /** Per-edge-removal reachability: for every canonical edge (a,b), walk
   * from a over every OTHER edge (the UNION dedups (edge, vertex) states,
   * so the recursion is finite); the edge is a bridge iff b is never
   * reached. `sel` renders the output row. */
  private[gate] def bridgesSql(sel: String): String =
    s"""WITH RECURSIVE $TREE_CHORD,
       |reach AS (SELECT a AS ra, b AS rb, a AS v FROM tce
       |  UNION
       |  SELECT r.ra, r.rb, t.v FROM reach r JOIN tadj t ON t.u = r.v
       |  WHERE NOT (LEAST(t.u, t.v) = r.ra AND GREATEST(t.u, t.v) = r.rb))
       |SELECT $sel
       |FROM tce t LEFT JOIN reach x
       |  ON x.ra = t.a AND x.rb = t.b AND x.v = t.b""".stripMargin

  /** Per-vertex-removal reachability on the CONNECTED fixture: walk from
   * the minimum remaining vertex avoiding the removed one; articulation
   * iff fewer than the other 24 vertices are reached. */
  private[gate] val articulationSql =
    s"""WITH RECURSIVE $TREE_CHORD,
       |seeds AS (SELECT rv.id AS rem, MIN(o.id) AS v
       |  FROM tv rv JOIN tv o ON o.id <> rv.id GROUP BY 1),
       |areach AS (SELECT rem, v FROM seeds
       |  UNION
       |  SELECT r.rem, t.v FROM areach r JOIN tadj t ON t.u = r.v
       |  WHERE t.v <> r.rem),
       |cnt AS (SELECT rem, COUNT(DISTINCT v) AS n FROM areach GROUP BY 1)
       |SELECT tv.id, (cnt.n < 24) AS is_articulation
       |FROM tv JOIN cnt ON cnt.rem = tv.id""".stripMargin

  /** SimRank replay on the circulant graph: `iters` unrolled synchronous
   * rounds of s_k(a,b) = (c·Σ s_{k-1}(i,j)) / (|I(a)|·|I(b)|) over ordered
   * in-neighbor pairs, each round's table carrying both pair orders plus
   * the constant-1 diagonal (the engine stores the canonical sparse half;
   * identical multiset of contributions per output group, same
   * (c·SUM)/(da·db) float association). */
  private[gate] def simRankSql(iters: Int, c: Double = 0.8): String = {
    val cv = """cv AS (SELECT n_nationkey AS id FROM nation),
      |ce AS (SELECT DISTINCT src, dst FROM (
      |    SELECT id AS src, (id + 7) % 25 AS dst FROM cv
      |    UNION ALL
      |    SELECT id, (3 * id + 1) % 25 FROM cv WHERE id % 3 = 0)
      |  WHERE src <> dst),
      |ind AS (SELECT dst AS v, COUNT(*) AS d FROM ce GROUP BY 1),
      |s0 AS (SELECT id AS a, id AS b, 1.0 AS s FROM cv)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s"""s$k AS (
         |  SELECT ea.dst AS a, eb.dst AS b,
         |    ($c * SUM(p.s)) / (da.d * db.d) AS s
         |  FROM s${k - 1} p
         |  JOIN ce ea ON ea.src = p.a
         |  JOIN ce eb ON eb.src = p.b
         |  JOIN ind da ON da.v = ea.dst
         |  JOIN ind db ON db.v = eb.dst
         |  WHERE ea.dst <> eb.dst
         |  GROUP BY ea.dst, eb.dst, da.d, db.d
         |  UNION ALL
         |  SELECT id, id, 1.0 FROM cv)""".stripMargin
    }.mkString(",\n")
    s"""WITH $cv,
       |$rounds
       |SELECT a, b, ROUND(s, 5) AS simrank FROM s$iters
       |WHERE a < b AND s > 0""".stripMargin
  }

  /** PPR-sweep replay on the undirected community graph: `iters` unrolled
   * single-lane personalized-PageRank rounds (same recurrence as
   * [[ppprSql]], on the symmetrized edge list), then the full sweep —
   * degree-normalized rank order, prefix degree sums, the
   * max(rank_a, rank_b) internal-edge histogram, and the one float
   * division per row in the engine's exact association. */
  private[gate] def pprSweepSql(iters: Int, src: Int, k: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""pr$i AS (
         |  SELECT v.id,
         |    (CASE WHEN v.id = $src THEN 0.15 ELSE 0 END) + 0.85 * COALESCE(SUM(p.r / o.od), 0) AS r
         |  FROM v LEFT JOIN sym e ON e.dst = v.id
         |  LEFT JOIN pr${i - 1} p ON p.id = e.src
         |  LEFT JOIN od o ON o.src = e.src
         |  GROUP BY v.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH eu AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a,
       |    GREATEST(src, dst) AS b
       |  FROM ($NE_COMM) WHERE src <> dst),
       |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM eu
       |  UNION ALL SELECT b, a FROM eu),
       |od AS (SELECT src, COUNT(*) AS od FROM sym GROUP BY 1),
       |v AS (SELECT n_nationkey AS id FROM nation),
       |mm AS (SELECT COUNT(*) AS m FROM eu),
       |pr0 AS (SELECT id, CAST(CASE WHEN id = $src THEN 1.0 ELSE 0.0 END AS DOUBLE) AS r FROM v),
       |$steps,
       |rk AS (SELECT * FROM (
       |    SELECT p.id, p.r, o.od AS d,
       |      ROW_NUMBER() OVER (ORDER BY ROUND(p.r / o.od, 12) DESC, p.id ASC) AS rank
       |    FROM pr$iters p JOIN od o ON o.src = p.id WHERE p.r > 0)
       |  WHERE rank <= $k),
       |einat AS (SELECT GREATEST(x.rank, y.rank) AS rank, COUNT(*) AS c
       |  FROM eu JOIN rk x ON x.id = eu.a JOIN rk y ON y.id = eu.b GROUP BY 1),
       |sw AS (SELECT r.rank, r.id, r.r,
       |    SUM(r.d) OVER (ORDER BY r.rank) AS vol,
       |    SUM(COALESCE(e.c, 0)) OVER (ORDER BY r.rank) AS ein
       |  FROM rk r LEFT JOIN einat e ON e.rank = r.rank),
       |fin AS (SELECT rank, id, r, vol, vol - 2 * ein AS cut,
       |    CASE WHEN LEAST(vol, 2 * (SELECT m FROM mm) - vol) > 0
       |      THEN CAST(vol - 2 * ein AS DOUBLE)
       |        / LEAST(vol, 2 * (SELECT m FROM mm) - vol) END AS cond
       |  FROM sw)
       |SELECT CAST(rank AS INT) AS rank, id, ROUND(r, 5) AS ppr,
       |  CAST(vol AS BIGINT) AS vol, CAST(cut AS BIGINT) AS cut,
       |  ROUND(cond, 6) AS conductance,
       |  COALESCE(cond = MIN(cond) OVER (), FALSE) AS best
       |FROM fin""".stripMargin
  }

  /** Brandes identity: btw(v) = Σ_{s≠v≠t} σ_sv · σ_vt / σ_st over pairs
   * with d(s,v) + d(v,t) = d(s,t). */
  private[gate] def betweennessSql: String =
    s"""WITH RECURSIVE $CIRC_DIST_SIGMA,
       |btw AS (SELECT sv.v AS id, SUM(sv.sig * vt.sig / st.sig) AS b
       |  FROM csig sv
       |  JOIN csig vt ON vt.s = sv.v
       |  JOIN csig st ON st.s = sv.s AND st.v = vt.v
       |  JOIN cdist d1 ON d1.s = sv.s AND d1.v = sv.v
       |  JOIN cdist d2 ON d2.s = vt.s AND d2.v = vt.v
       |  JOIN cdist d3 ON d3.s = st.s AND d3.v = st.v
       |  WHERE sv.v <> sv.s AND sv.v <> vt.v AND sv.s <> vt.v
       |    AND d1.d + d2.d = d3.d
       |  GROUP BY 1)
       |SELECT n_nationkey AS id, ROUND(COALESCE(b, 0), 5) AS betweenness
       |FROM nation LEFT JOIN btw ON btw.id = n_nationkey""".stripMargin

  private[gate] def closenessSql: String =
    s"""WITH RECURSIVE $CIRC_DIST_SIGMA,
       |agg AS (SELECT s, COUNT(*) AS r, SUM(d) AS total, SUM(1.0 / d) AS h
       |  FROM cdist WHERE v <> s GROUP BY s)
       |SELECT n_nationkey AS id,
       |  ROUND(COALESCE((r * 1.0 / 24.0) * r / total, 0), 5) AS closeness,
       |  ROUND(COALESCE(h, 0), 5) AS harmonic
       |FROM nation LEFT JOIN agg ON agg.s = n_nationkey""".stripMargin

  /** Greedy coloring by iterated Luby MIS, unrolled (md5 mode) on the
   * circulant graph: `colors` color blocks of `rounds` Luby rounds each;
   * priorities are keyed by (color, round) so rounds the engine never ran
   * (its inner loop exits on an empty pool) drop out as empty winner sets
   * here too. Both caps must cover the actual schedule. */
  private[gate] def coloringSql(colors: Int, rounds: Int, seed: Long): String = {
    def p(x: String, c: Int, r: Int) = s"md5(CAST($x AS VARCHAR) || '|$seed|$c|$r')"
    val blocks = (0 until colors).map { c =>
      val lubys = (0 until rounds).map { r =>
        s"""eu${c}_$r AS MATERIALIZED (SELECT u.s, u.d FROM u
           |  JOIN pool${c}_$r a ON a.id = u.s JOIN pool${c}_$r b ON b.id = u.d),
           |nm${c}_$r AS MATERIALIZED (SELECT s AS id, MIN(${p("d", c, r)}) AS m
           |  FROM eu${c}_$r GROUP BY s),
           |w${c}_$r AS MATERIALIZED (SELECT q.id FROM pool${c}_$r q
           |  LEFT JOIN nm${c}_$r n ON n.id = q.id
           |  WHERE n.m IS NULL OR ${p("q.id", c, r)} < n.m),
           |pool${c}_${r + 1} AS MATERIALIZED (SELECT id FROM pool${c}_$r
           |  WHERE id NOT IN (SELECT id FROM w${c}_$r)
           |  AND id NOT IN (SELECT DISTINCT x.d FROM eu${c}_$r x
           |    JOIN w${c}_$r w ON w.id = x.s))""".stripMargin
      }.mkString(",\n")
      val wins = (0 until rounds).map(r => s"SELECT id FROM w${c}_$r")
        .mkString(" UNION ALL ")
      s"""pool${c}_0 AS MATERIALIZED (SELECT id FROM un$c),
         |$lubys,
         |wc$c AS MATERIALIZED (SELECT id FROM ($wins)),
         |un${c + 1} AS MATERIALIZED (SELECT id FROM un$c
         |  WHERE id NOT IN (SELECT id FROM wc$c))""".stripMargin
    }.mkString(",\n")
    val out = (0 until colors).map(c => s"SELECT id, $c AS color FROM wc$c")
      .mkString(" UNION ALL ")
    s"""WITH cv AS (SELECT n_nationkey AS id FROM nation),
       |ce AS (SELECT DISTINCT src, dst FROM (
       |    SELECT id AS src, (id + 7) % 25 AS dst FROM cv
       |    UNION ALL SELECT id, (3 * id + 1) % 25 FROM cv WHERE id % 3 = 0)
       |  WHERE src <> dst),
       |canon AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a,
       |  GREATEST(src, dst) AS b FROM ce),
       |u AS MATERIALIZED (SELECT a AS s, b AS d FROM canon
       |  UNION ALL SELECT b, a FROM canon),
       |un0 AS MATERIALIZED (SELECT id FROM cv),
       |$blocks
       |SELECT CAST(id AS INTEGER) AS id, CAST(color AS INTEGER) AS color
       |FROM ($out)""".stripMargin
  }

  /** node2vec walks, unrolled (md5 mode, restart 0): the same md5-ordered
   * neighbor lists as [[randomWalksSql]], but the pick is a cumulative
   * threshold scan over prev-distance weights (1/p return, 1 adjacent,
   * 1/q otherwise, uniform when prev is NULL). p/q are powers of two so
   * every prefix sum is a dyadic rational — exact in both engines
   * regardless of summation order. */
  private[gate] def node2vecSql(steps: Int, walksPerVertex: Int, seed: Long,
      p: Double, q: Double): String = {
    val stepCtes = (1 to steps).map { k =>
      val h = duckHex4(s"md5(s.walk_id || '|$k|${seed + 1}')")
      s"""s$k AS MATERIALIZED (
         |  SELECT walk_id, nxt AS cur,
         |    CASE WHEN nxt IS NULL THEN path
         |         ELSE list_append(path, CAST(nxt AS VARCHAR)) END AS path,
         |    CASE WHEN nxt IS NULL THEN NULL ELSE oldcur END AS prev
         |  FROM (
         |    SELECT walk_id, path, oldcur,
         |      CASE WHEN nbrs IS NULL OR len(nbrs) = 0 THEN NULL
         |           ELSE nbrs[LEAST(len(list_filter(
         |             [list_sum(w[1:i]) for i in range(1, len(w) + 1)],
         |             y -> y <= (h16 / 65536.0) * list_sum(w))) + 1, len(nbrs))]
         |      END AS nxt
         |    FROM (
         |      SELECT s.walk_id, s.path, s.cur AS oldcur, nb.nbrs,
         |        ($h) AS h16,
         |        list_transform(nb.nbrs, x -> CASE
         |          WHEN s.prev IS NULL THEN 1.0
         |          WHEN x = s.prev THEN ${1.0 / p}
         |          WHEN list_contains(pnb.nbrs, x) THEN 1.0
         |          ELSE ${1.0 / q} END) AS w
         |      FROM s${k - 1} s
         |      LEFT JOIN nb ON nb.src = s.cur
         |      LEFT JOIN nb pnb ON pnb.src = s.prev)))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($NE),
       |nb AS MATERIALIZED (SELECT src, list(dst
       |    ORDER BY substr(md5(CAST(src AS VARCHAR) || '|' || CAST(dst AS VARCHAR) || '|$seed'), 1, 15), dst) AS nbrs
       |  FROM e GROUP BY src),
       |s0 AS MATERIALIZED (SELECT CAST(n_nationkey AS VARCHAR) || '#' || CAST(t.k AS VARCHAR) AS walk_id,
       |    n_nationkey AS cur, [CAST(n_nationkey AS VARCHAR)] AS path,
       |    CAST(NULL AS INTEGER) AS prev
       |  FROM nation, range(0, $walksPerVertex) t(k)),
       |$stepCtes
       |SELECT walk_id, array_to_string(path, ',') AS random_walk FROM s$steps""".stripMargin
  }

  /** Unrolled k-truss peeling: per round, per-edge triangle support via
   * the doubled edge list self-join, then drop edges under k-2;
   * `rounds` must cover the cascade depth (engine iterates to fixpoint). */
  private[gate] def ktrussSql(k: Int, rounds: Int): String = {
    val steps = (0 until rounds).map { i =>
      s"""u$i AS (SELECT src AS a, dst AS b FROM e$i
         |  UNION ALL SELECT dst, src FROM e$i),
         |s$i AS MATERIALIZED (
         |  SELECT e.src, e.dst, COUNT(*) AS sup FROM e$i e
         |  JOIN u$i x ON x.a = e.src
         |  JOIN u$i y ON y.a = e.dst AND y.b = x.b
         |  GROUP BY 1, 2),
         |e${i + 1} AS MATERIALIZED (
         |  SELECT src, dst FROM s$i WHERE sup >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH ne AS ($NE),
       |e0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS src,
       |  GREATEST(src, dst) AS dst FROM ne),
       |$steps
       |SELECT src, dst, sup AS support FROM s${rounds - 1}
       |WHERE sup >= ${k - 2}""".stripMargin
  }

  /** Weighted PageRank on the circulant graph, `iters` unrolled rounds:
   * r = α + (1-α)·Σ r_u·w/W_u with the g_shortest_paths_weighted weight
   * formula. */
  private[gate] def pagerankWeightedSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""pw$k AS MATERIALIZED (
         |  SELECT v.id, 0.15 + 0.85 * COALESCE(SUM(p.r * e.w / o.wsum), 0) AS r
         |  FROM v LEFT JOIN e ON e.dst = v.id
         |  LEFT JOIN pw${k - 1} p ON p.id = e.src
         |  LEFT JOIN ow o ON o.src = e.src
         |  GROUP BY v.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT n_nationkey AS id FROM nation),
       |e0 AS (SELECT DISTINCT src, dst FROM (
       |    SELECT id AS src, (id + 7) % 25 AS dst FROM v
       |    UNION ALL SELECT id, (3 * id + 1) % 25 FROM v WHERE id % 3 = 0)
       |  WHERE src <> dst),
       |e AS (SELECT src, dst, CAST((src * 7 + dst * 3) % 5 + 1 AS DOUBLE) AS w FROM e0),
       |ow AS (SELECT src, SUM(w) AS wsum FROM e GROUP BY src),
       |pw0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS r FROM v),
       |$steps
       |SELECT id, ROUND(r, 5) AS pagerank FROM pw$iters""".stripMargin
  }

  private[gate] def pagerankTolSql(tol: Double, maxRounds: Int): String = {
    // every pr$k is referenced three times (next round, delta check, final
    // select) — MATERIALIZED stops DuckDB's CTE inlining from expanding the
    // chain into a 3^maxRounds expression tree
    val steps = (1 to maxRounds).map { k =>
      s"""pr$k AS MATERIALIZED (
         |  SELECT v.id, 0.15 + 0.85 * COALESCE(SUM(p.r / o.od), 0) AS r
         |  FROM v LEFT JOIN e ON e.dst = v.id
         |  LEFT JOIN pr${k - 1} p ON p.id = e.src
         |  LEFT JOIN od o ON o.src = e.src
         |  GROUP BY v.id)""".stripMargin
    }.mkString(",\n")
    val deltas = (1 to maxRounds).map { k =>
      s"SELECT $k AS k, MAX(ABS(a.r - b.r)) AS md FROM pr$k a JOIN pr${k - 1} b USING (id)"
    }.mkString("\nUNION ALL\n")
    val rounds = (1 to maxRounds).map { k =>
      s"SELECT $k AS k, id, r FROM pr$k"
    }.mkString("\nUNION ALL\n")
    s"""WITH v AS (SELECT n_nationkey AS id FROM nation),
       |e AS (SELECT DISTINCT src, dst FROM (
       |    SELECT id AS src, (id + 7) % 25 AS dst FROM v
       |    UNION ALL
       |    SELECT id, (3 * id + 1) % 25 FROM v WHERE id % 3 = 0)
       |  WHERE src <> dst),
       |od AS (SELECT src, count(*) AS od FROM e GROUP BY src),
       |pr0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS r FROM v),
       |$steps,
       |d AS ($deltas),
       |ks AS (SELECT MIN(k) AS k FROM d WHERE md < $tol),
       |allr AS ($rounds)
       |SELECT id, ROUND(r, 5) AS pagerank FROM allr JOIN ks USING (k)""".stripMargin
  }

  private[gate] def simhashSql(bits: Int): String = {
    val terms = (0 until bits).map { b =>
      val nib = b / 4 + 1
      val m = 1 << (b % 4 + 1)
      val h = 1 << (b % 4)
      s"""(CASE WHEN list_sum(list_transform(w, t ->
         | CASE WHEN (strpos('0123456789abcdef', substr(md5(t), $nib, 1)) - 1) % $m >= $h
         | THEN 1 ELSE -1 END)) > 0 THEN ${1L << b} ELSE 0 END)""".stripMargin
    }.mkString(" + ")
    s"""WITH t AS (SELECT doc_id, $W AS w FROM documents)
       |SELECT doc_id, CAST($terms AS BIGINT) AS simhash FROM t""".stripMargin
  }

  private[gate] def langIdSql: String = {
    val langs = pipeline.Text.defaultMarkers.toSeq.sortBy(_._1)
    val scoreRows = langs.map { case (lang, kws) =>
      val cnt = kws.map { k =>
        val kw = s" $k "
        s"CAST((len(p) - len(replace(p, '$kw', ''))) / ${kw.length} AS INT)"
      }.mkString(" + ")
      s"SELECT doc_id, '$lang' AS lang, $cnt AS score FROM padded"
    }.mkString("\nUNION ALL\n")
    s"""WITH padded AS (SELECT doc_id, ' ' || text || ' ' AS p FROM documents),
       |s AS ($scoreRows)
       |SELECT doc_id, lang AS pred_lang FROM (
       |  SELECT doc_id, lang,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
       |  FROM s) WHERE rn = 1""".stripMargin
  }

  private[gate] def ppprSql(iters: Int, s0: Int, s1: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""pr$k AS (
         |  SELECT v.id,
         |    (CASE WHEN v.id = $s0 THEN 0.15 ELSE 0 END) + 0.85 * COALESCE(SUM(p.r0 / o.od), 0) AS r0,
         |    (CASE WHEN v.id = $s1 THEN 0.15 ELSE 0 END) + 0.85 * COALESCE(SUM(p.r1 / o.od), 0) AS r1
         |  FROM v LEFT JOIN e ON e.dst = v.id
         |  LEFT JOIN pr${k - 1} p ON p.id = e.src
         |  LEFT JOIN od o ON o.src = e.src
         |  GROUP BY v.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($NE),
       |od AS (SELECT src, count(*) AS od FROM e GROUP BY src),
       |v AS (SELECT n_nationkey AS id FROM nation),
       |pr0 AS (SELECT id,
       |  CAST(CASE WHEN id = $s0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS r0,
       |  CAST(CASE WHEN id = $s1 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS r1 FROM v),
       |$steps
       |SELECT id, ROUND(r0, 5) AS r0, ROUND(r1, 5) AS r1 FROM pr$iters""".stripMargin
  }

  private[gate] val cosExpr =
    "list_dot_product(x.v, y.v) / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v)))"

  /** Community-graph edge list (mirrors [[communityGraph]]: region
   * 5-cliques + the (id+7) % 25 chord ring). */
  private val NE_COMM =
    """SELECT x.n_nationkey AS src, y.n_nationkey AS dst
      |FROM nation x JOIN nation y
      |  ON x.n_regionkey = y.n_regionkey AND x.n_nationkey < y.n_nationkey
      |UNION
      |SELECT n_nationkey, (n_nationkey + 7) % 25 FROM nation""".stripMargin

  /** Unrolled degree-discount influence-max replay on the community
   * graph: per seed round, argmax of d − 2t − (d−t)·t·p over unpicked
   * vertices (RAW-score order, id tie-break), then t += 1 on the pick's
   * neighbors — the identical float expression the engine evaluates. */
  private[gate] def influenceSql(k: Int, p: Double): String = {
    val rounds = (1 to k).map { r =>
      s"""p$r AS (SELECT id, d - 2*t - (d - t)*t*$p AS s
         |  FROM s${r - 1} WHERE NOT picked
         |  ORDER BY d - 2*t - (d - t)*t*$p DESC, id LIMIT 1),
         |s$r AS (SELECT x.id, x.d,
         |    x.t + CASE WHEN n.v IS NOT NULL THEN 1 ELSE 0 END AS t,
         |    x.picked OR x.id = (SELECT id FROM p$r) AS picked
         |  FROM s${r - 1} x LEFT JOIN cadj n
         |    ON n.u = (SELECT id FROM p$r) AND n.v = x.id)""".stripMargin
    }.mkString(",\n")
    val out = (1 to k).map(r =>
      s"SELECT id, CAST($r AS INT) AS round, ROUND(s, 6) AS score FROM p$r")
      .mkString("\n UNION ALL ")
    s"""WITH cce AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a,
       |    GREATEST(src, dst) AS b FROM ($NE_COMM) WHERE src <> dst),
       |cadj AS MATERIALIZED (SELECT a AS u, b AS v FROM cce
       |  UNION ALL SELECT b, a FROM cce),
       |s0 AS (SELECT n_nationkey AS id, COALESCE(dg.c, 0) AS d, 0 AS t,
       |    FALSE AS picked
       |  FROM nation LEFT JOIN (SELECT u, COUNT(*) AS c FROM cadj GROUP BY 1) dg
       |    ON dg.u = n_nationkey),
       |$rounds
       |$out""".stripMargin
  }

  /** Synchronous Louvain local-moving on the community graph, `rounds`
   * unrolled rounds (mirrors lib/Louvain): canonical simple undirected
   * edges, every vertex starts in its own community, each round every
   * vertex adopts the candidate community (neighbors' plus its own)
   * maximizing the exact integer gain 2m·e(i,c) − deg(i)·(tot(c) −
   * [c=own]·deg(i)), ties to the smallest community id; odd rounds
   * admit only candidates ≤ own, even rounds ≥ own (the engine's
   * oscillation-breaking alternation). All-integer — the replay is
   * bit-exact. Ends at CTE `l<rounds>` (id, deg, community). */
  private[gate] def louvainCtes(rounds: Int): String = {
    s"""WITH e AS MATERIALIZED ($NE_COMM),
       |c AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e WHERE src <> dst),
       |u AS MATERIALIZED (SELECT a AS s, b AS d, 1 AS w FROM c UNION ALL SELECT b, a, 1 FROM c),
       |mm AS MATERIALIZED (SELECT COUNT(*) AS m FROM c),
       |l0 AS MATERIALIZED (SELECT n.n_nationkey AS id,
       |    CAST(COALESCE(dg.c, 0) AS BIGINT) AS deg, n.n_nationkey AS community
       |  FROM nation n LEFT JOIN (SELECT s, COUNT(*) AS c FROM u GROUP BY s) dg
       |    ON dg.s = n.n_nationkey),
       |${louvainRoundSteps(rounds, "u", "l", "")}""".stripMargin
  }

  /** `rounds` unrolled weighted local-moving rounds over edge CTE
   * `$u(s, d, w)` from state CTE `$st 0(id, deg, community)` (states
   * `$st k`, scratch CTEs prefixed `$p`) — weighted generalization of
   * the level-1 replay (e_ic sums edge WEIGHT; super-loops never enter
   * `$u`, so they shape deg only, mirroring lib/Louvain). */
  private def louvainRoundSteps(rounds: Int, u: String, st: String, p: String): String =
    (1 to rounds).map { k =>
      val dir = if (k % 2 == 1) "<=" else ">=" // alternating-direction rule
      s"""${p}t$k AS MATERIALIZED (SELECT community AS nc, SUM(deg) AS tot FROM $st${k - 1} GROUP BY 1),
         |${p}cd$k AS MATERIALIZED (SELECT s, nc, SUM(cnt) AS e_ic FROM (
         |  SELECT $u.s AS s, p.community AS nc, $u.w AS cnt FROM $u JOIN $st${k - 1} p ON p.id = $u.d
         |  UNION ALL SELECT id, community, 0 FROM $st${k - 1}) GROUP BY 1, 2),
         |${p}sc$k AS MATERIALIZED (SELECT cd.s, cd.nc, me.deg,
         |    2 * (SELECT m FROM mm) * cd.e_ic
         |      - me.deg * (t.tot - CASE WHEN cd.nc = me.community THEN me.deg ELSE 0 END) AS gain
         |  FROM ${p}cd$k cd JOIN ${p}t$k t ON t.nc = cd.nc JOIN $st${k - 1} me ON me.id = cd.s
         |  WHERE cd.nc $dir me.community),
         |$st$k AS MATERIALIZED (SELECT s AS id, deg, nc AS community FROM (
         |  SELECT s, deg, nc, ROW_NUMBER() OVER (PARTITION BY s ORDER BY gain DESC, nc ASC) AS rn
         |  FROM ${p}sc$k) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  /** Two-level Louvain replay (mirrors lib/Louvain setLevels(2)): after
   * the level-1 rounds, communities aggregate into super-vertices
   * (intra edges → super-loops contributing 2w to degree and nothing to
   * any e_ic; inter edges → weighted super-edges), the SAME weighted
   * rounds re-run on the super-graph with m conserved, and the labels
   * compose back down. All-integer — bit-exact. */
  private[gate] def louvainCoarseSql(rounds: Int): String =
    s"""${louvainCtes(rounds)},
       |a1 AS MATERIALIZED (SELECT id, community FROM l$rounds),
       |ce2 AS MATERIALIZED (SELECT LEAST(x.community, y.community) AS a,
       |    GREATEST(x.community, y.community) AS b, COUNT(*) AS w
       |  FROM c JOIN a1 x ON x.id = c.a JOIN a1 y ON y.id = c.b GROUP BY 1, 2),
       |u2 AS MATERIALIZED (SELECT a AS s, b AS d, w FROM ce2 WHERE a <> b
       |  UNION ALL SELECT b, a, w FROM ce2 WHERE a <> b),
       |lo2 AS MATERIALIZED (SELECT a AS id, w FROM ce2 WHERE a = b),
       |z0 AS MATERIALIZED (SELECT v.id,
       |    CAST(COALESCE(dw.wd, 0) + 2 * COALESCE(lo.w, 0) AS BIGINT) AS deg,
       |    v.id AS community
       |  FROM (SELECT DISTINCT community AS id FROM a1) v
       |  LEFT JOIN (SELECT s, SUM(w) AS wd FROM u2 GROUP BY 1) dw ON dw.s = v.id
       |  LEFT JOIN lo2 lo ON lo.id = v.id),
       |${louvainRoundSteps(rounds, "u2", "z", "z")}
       |SELECT a1.id, z.community FROM a1 JOIN z$rounds z ON z.id = a1.community""".stripMargin

  /** Synchronous CDLP, `iters` unrolled rounds: most frequent incoming
   * label, ties to the smallest label; no-inbox vertices keep their label
   * (mirrors lib/LabelPropagation). */
  private[gate] def lpaSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""c$k AS MATERIALIZED (SELECT e.dst AS id, p.label, count(*) AS cnt
         |  FROM e JOIN l${k - 1} p ON p.id = e.src GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT id, label FROM (
         |  SELECT id, label,
         |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY cnt DESC, label ASC) AS rn
         |  FROM c$k) WHERE rn = 1),
         |l$k AS MATERIALIZED (SELECT l.id, COALESCE(b.label, l.label) AS label
         |  FROM l${k - 1} l LEFT JOIN b$k b ON b.id = l.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($NE),
       |l0 AS MATERIALIZED (SELECT n_nationkey AS id, n_nationkey AS label FROM nation),
       |$steps
       |SELECT id, label FROM l$iters""".stripMargin
  }

  /** K-core via `rounds` unrolled Jacobi steps of the capped h-index
   * operator (mirrors expressions/KCoreMerge + lib/KCore); the fixpoint is
   * the coreness, and extra rounds past convergence are no-ops. */
  private[gate] def kcoreSql(rounds: Int): String = {
    val steps = (1 to rounds).map { k =>
      s"""h$k AS MATERIALIZED (
         |  SELECT id, MAX(CASE WHEN LEAST(nc, core) >= r THEN r ELSE 0 END) AS h FROM (
         |    SELECT u.s AS id, p0.core AS core, pn.core AS nc,
         |      ROW_NUMBER() OVER (PARTITION BY u.s ORDER BY pn.core DESC) AS r
         |    FROM u JOIN k${k - 1} p0 ON p0.id = u.s
         |    JOIN k${k - 1} pn ON pn.id = u.d) GROUP BY id),
         |k$k AS MATERIALIZED (SELECT p.id, CAST(COALESCE(h.h, p.core) AS INT) AS core
         |  FROM k${k - 1} p LEFT JOIN h$k h ON h.id = p.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($NE),
       |c AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e),
       |u AS MATERIALIZED (SELECT a AS s, b AS d FROM c UNION ALL SELECT b, a FROM c),
       |k0 AS MATERIALIZED (SELECT n_nationkey AS id, CAST(COALESCE(dg.c, 0) AS INT) AS core
       |  FROM nation LEFT JOIN (SELECT s, count(*) AS c FROM u GROUP BY s) dg
       |  ON dg.s = n_nationkey),
       |$steps
       |SELECT id, core AS kcore FROM k$rounds""".stripMargin
  }

  /** Luby MIS with md5 priorities, `rounds` unrolled rounds (mirrors
   * lib/MaximalIndependentSet in md5 hash mode, seed 42). */
  /** Maximal-matching replay (mirrors lib/MaximalMatching): per round,
   * edge priority md5(a|b|seed|k); an edge wins when its priority is the
   * per-vertex minimum at BOTH endpoints; matched vertices drop with all
   * incident edges. Extra unrolled rounds past the fixpoint are no-ops
   * over empty sets, so a generous round count is safe. */
  private[gate] def matchingSql(rounds: Int, seed: Long): String = {
    def p(k: Int) =
      s"md5(CAST(a AS VARCHAR) || '|' || CAST(b AS VARCHAR) || '|$seed|$k')"
    val steps = (0 until rounds).map { k =>
      s"""p$k AS MATERIALIZED (SELECT a, b, ${p(k)} AS p FROM e$k),
         |vm$k AS MATERIALIZED (SELECT v, MIN(p) AS m FROM (
         |    SELECT a AS v, p FROM p$k UNION ALL SELECT b, p FROM p$k)
         |  GROUP BY v),
         |w$k AS MATERIALIZED (SELECT q.a, q.b FROM p$k q
         |  JOIN vm$k x ON x.v = q.a AND x.m = q.p
         |  JOIN vm$k y ON y.v = q.b AND y.m = q.p),
         |mv$k AS MATERIALIZED (SELECT a AS v FROM w$k UNION SELECT b FROM w$k),
         |e${k + 1} AS MATERIALIZED (SELECT a, b FROM e$k
         |  WHERE a NOT IN (SELECT v FROM mv$k)
         |  AND b NOT IN (SELECT v FROM mv$k))""".stripMargin
    }.mkString(",\n")
    val wins = (0 until rounds)
      .map(k => s"SELECT a AS src, b AS dst, CAST($k AS INT) AS round FROM w$k")
      .mkString(" UNION ALL ")
    s"""WITH e AS MATERIALIZED ($NE),
       |e0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a,
       |  GREATEST(src, dst) AS b FROM e),
       |$steps
       |SELECT src, dst, round FROM ($wins)""".stripMargin
  }

  /** Weighted (locally-dominant) matching replay: winner rule
   * (weight desc, md5 asc) per endpoint via ROW_NUMBER; canonical pairs
   * take MAX weight over directed duplicates. */
  private[gate] def weightedMatchingSql(rounds: Int, seed: Long): String = {
    def p(k: Int) =
      s"md5(CAST(a AS VARCHAR) || '|' || CAST(b AS VARCHAR) || '|$seed|$k')"
    val steps = (0 until rounds).map { k =>
      s"""p$k AS MATERIALIZED (SELECT a, b, w, ${p(k)} AS p FROM e$k),
         |x$k AS MATERIALIZED (SELECT a AS v, a, b, w, p FROM p$k
         |  UNION ALL SELECT b, a, b, w, p FROM p$k),
         |r$k AS MATERIALIZED (SELECT *, ROW_NUMBER() OVER (PARTITION BY v
         |  ORDER BY w DESC, p ASC) AS rn FROM x$k),
         |w$k AS MATERIALIZED (SELECT r1.a, r1.b, r1.w FROM r$k r1
         |  JOIN r$k r2 ON r1.a = r2.a AND r1.b = r2.b
         |    AND r1.v = r1.a AND r2.v = r2.b
         |  WHERE r1.rn = 1 AND r2.rn = 1),
         |mv$k AS MATERIALIZED (SELECT a AS v FROM w$k UNION SELECT b FROM w$k),
         |e${k + 1} AS MATERIALIZED (SELECT a, b, w FROM e$k
         |  WHERE a NOT IN (SELECT v FROM mv$k)
         |  AND b NOT IN (SELECT v FROM mv$k))""".stripMargin
    }.mkString(",\n")
    val wins = (0 until rounds)
      .map(k => s"SELECT a AS src, b AS dst, w AS weight, " +
        s"CAST($k AS INT) AS round FROM w$k")
      .mkString(" UNION ALL ")
    s"""WITH e AS MATERIALIZED ($NE),
       |e0 AS MATERIALIZED (SELECT LEAST(src, dst) AS a,
       |  GREATEST(src, dst) AS b,
       |  MAX(CAST((src * 7 + dst * 3) % 5 + 1 AS DOUBLE)) AS w
       |  FROM e GROUP BY 1, 2),
       |$steps
       |SELECT src, dst, weight, round FROM ($wins)""".stripMargin
  }

  private[gate] def misSql(rounds: Int, seed: Long): String = {
    def p(x: String, r: Int) = s"md5(CAST($x AS VARCHAR) || '|$seed|$r')"
    val steps = (0 until rounds).map { k =>
      s"""eu$k AS MATERIALIZED (SELECT u.s, u.d FROM u
         |  JOIN r$k a ON a.id = u.s JOIN r$k b ON b.id = u.d),
         |nm$k AS MATERIALIZED (SELECT s AS id, MIN(${p("d", k)}) AS m FROM eu$k GROUP BY s),
         |w$k AS MATERIALIZED (SELECT r.id FROM r$k r LEFT JOIN nm$k n ON n.id = r.id
         |  WHERE n.m IS NULL OR ${p("r.id", k)} < n.m),
         |nb$k AS MATERIALIZED (SELECT DISTINCT x.d AS id FROM eu$k x JOIN w$k w ON w.id = x.s),
         |r${k + 1} AS MATERIALIZED (SELECT id FROM r$k WHERE id NOT IN (SELECT id FROM w$k)
         |  AND id NOT IN (SELECT id FROM nb$k))""".stripMargin
    }.mkString(",\n")
    val wins = (0 until rounds).map(k => s"SELECT id FROM w$k").mkString(" UNION ALL ")
    s"""WITH e AS MATERIALIZED ($NE),
       |c AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e),
       |u AS MATERIALIZED (SELECT a AS s, b AS d FROM c UNION ALL SELECT b, a FROM c),
       |r0 AS MATERIALIZED (SELECT n_nationkey AS id FROM nation),
       |$steps
       |SELECT id FROM ($wins)""".stripMargin
  }

  /** One SELECT per LSH band: bucket = planesPerBand-bit signature, each
   * bit the sign of a dot product against the ±1 md5-derived weight
   * literal (mirrors Similarity.hyperplaneSignature / planeSign). Expects
   * a CTE `e(vec_id, v)` with v already DOUBLE[]. */
  private[gate] def duckBandRows(bands: Int, planesPerBand: Int, dim: Int): String =
    (0 until bands).map { b =>
      val bits = (0 until planesPerBand).map { p =>
        val w = "[" + (0 until dim).map(i =>
          if (pipeline.Similarity.planeSign(b * planesPerBand + p, i) > 0) "1.0"
          else "-1.0").mkString(", ") + "]"
        s"(CASE WHEN list_dot_product(v, $w) > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $b AS band, $bits AS bucket FROM e"
    }.mkString("\nUNION ALL\n")

  /** Mutual-kNN-graph CTEs (k = 5, mirrors Similarity.knnGraph): exact
   * per-vector top-5 by cosine (ties → neighbor id asc), then the mutual
   * self-join keeps canonical (src < dst) edges. `tail` is appended after
   * the `mu` CTE — either the final SELECT, or ", more CTEs… SELECT". */
  private[gate] def knnGraphSql(tail: String): String =
    s"""WITH RECURSIVE e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sc AS (SELECT x.vec_id AS qid, y.vec_id AS nid,
       |    list_dot_product(x.v, y.v) /
       |      (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) AS c
       |  FROM e x JOIN e y ON y.vec_id <> x.vec_id),
       |tk AS MATERIALIZED (SELECT qid, nid FROM (
       |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, nid ASC) AS rnk
       |  FROM sc) WHERE rnk <= 5),
       |mu AS (SELECT f.qid AS src, f.nid AS dst FROM tk f
       |  JOIN tk r ON f.qid = r.nid AND f.nid = r.qid WHERE f.qid < f.nid)
       |$tail""".stripMargin

  /** Label-spreading tail for [[knnGraphSql]]: the md5 16-bit seed draw
   * (seed 42, fraction 0.5 → threshold 32768), then `rounds` unrolled
   * synchronous mode-of-neighbors rounds (count desc, label asc), seeds
   * clamped, non-seeds recomputed from scratch each round — the exact
   * trajectory of pipeline.Similarity.labelSpread. */
  private[gate] def labelSpreadTail(rounds: Int): String = {
    val h = duckHex4("md5('42|' || CAST(vec_id AS VARCHAR))")
    val steps = (1 to rounds).map { r =>
      s"""v$r AS (SELECT u.vv AS id, l.lab, count(*) AS n
         |  FROM u JOIN l${r - 1} l ON l.id = u.uu
         |  WHERE l.lab IS NOT NULL GROUP BY 1, 2),
         |w$r AS (SELECT id, lab FROM (
         |  SELECT id, lab, ROW_NUMBER() OVER (PARTITION BY id
         |    ORDER BY n DESC, lab ASC) AS rk FROM v$r) WHERE rk = 1),
         |l$r AS (SELECT p.id, CASE WHEN p.is_seed THEN p.lab ELSE w$r.lab END AS lab,
         |    p.is_seed
         |  FROM l${r - 1} p LEFT JOIN w$r ON w$r.id = p.id)""".stripMargin
    }.mkString(",\n")
    s""",
       |seeds AS (SELECT vec_id AS id, label, (($h) < 32768) AS is_seed FROM embeddings),
       |l0 AS (SELECT id, CASE WHEN is_seed THEN label END AS lab, is_seed FROM seeds),
       |u AS (SELECT src AS uu, dst AS vv FROM mu UNION ALL SELECT dst, src FROM mu),
       |$steps
       |SELECT id AS vec_id, lab AS label, is_seed FROM l$rounds""".stripMargin
  }

  private[gate] def annLshSql(k: Int, bands: Int, planesPerBand: Int, dim: Int): String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bk AS MATERIALIZED (${duckBandRows(bands, planesPerBand, dim)}),
       |cand AS MATERIALIZED (SELECT DISTINCT x.vec_id AS qid, y.vec_id AS nid
       |  FROM bk x JOIN bk y ON x.band = y.band AND x.bucket = y.bucket
       |  AND x.vec_id <> y.vec_id),
       |sc AS (SELECT cand.qid AS query_id, cand.nid AS neighbor_id,
       |    list_dot_product(q.v, n.v) /
       |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))) AS c
       |  FROM cand JOIN e q ON q.vec_id = cand.qid JOIN e n ON n.vec_id = cand.nid)
       |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk FROM (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rnk
       |  FROM sc) WHERE rnk <= $k""".stripMargin

  /** Shared IVF cell CTEs, ending in `asg` (every vector × centroid,
   * ranked) and `dat` (each vector's winning cell): md5-sampled seed
   * centroids, `lloydIters` Lloyd steps (assign to best cell by cosine,
   * recompute per-cell position means — mirrors Similarity.ivfRanked). */
  private def ivfCellCtes(nlist: Int, lloydIters: Int): String = {
    def assignCte(name: String, centTable: String) =
      s"""$name AS MATERIALIZED (SELECT vec_id, v, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS r
         |  FROM (SELECT e.vec_id, e.v, c.cid,
         |      list_dot_product(e.v, c.cv) /
         |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS sim
         |    FROM e CROSS JOIN $centTable c))""".stripMargin
    val lloyd = (1 to lloydIters).map { i =>
      s"""${assignCte(s"asg_l$i", s"cent${i - 1}")},
         |dat_l$i AS (SELECT vec_id, v, cid FROM asg_l$i WHERE r = 1),
         |mx$i AS (SELECT cid, p, AVG(v[p]) AS m
         |  FROM dat_l$i, range(1, 65) t(p) GROUP BY cid, p),
         |cent$i AS MATERIALIZED (SELECT cid, list(m ORDER BY p) AS cv FROM mx$i GROUP BY cid)""".stripMargin
    }.mkString(",\n")
    val lloydBlock = if (lloydIters == 0) "" else lloyd + ",\n"
    s"""e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cent0 AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM e
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $nlist),
       |$lloydBlock${assignCte("asg", s"cent$lloydIters")},
       |dat AS (SELECT vec_id, v, cid FROM asg WHERE r = 1)""".stripMargin
  }

  /** IVF oracle: cells via [[ivfCellCtes]], then probe-and-rank. */
  private[gate] def annIvfSql(k: Int, nlist: Int, nprobe: Int, lloydIters: Int = 0): String = {
    s"""WITH ${ivfCellCtes(nlist, lloydIters)},
       |q AS (SELECT vec_id AS qid, v AS qv, cid FROM asg WHERE r <= $nprobe),
       |sc AS (SELECT q.qid AS query_id, d.vec_id AS neighbor_id,
       |    list_dot_product(q.qv, d.v) /
       |      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(d.v, d.v))) AS c
       |  FROM q JOIN dat d ON d.cid = q.cid AND d.vec_id <> q.qid)
       |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk FROM (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rnk
       |  FROM sc) WHERE rnk <= $k""".stripMargin
  }

  /** Hierarchical-IVF oracle: exact replay of Similarity.ivfTopKHier —
   * md5-prefix super seeds and sub-seeds, sub-seed routing to the top-1
   * super branch (super seeds anchor their own branch), data top-1
   * super→sub assignment, and the global top-`nprobe` probe across
   * `wprobe` branches. */
  private[gate] def annIvfHierSql(k: Int, nsuper: Int, nlistPer: Int,
      wprobe: Int, nprobe: Int): String =
    s"""WITH ${annIvfHierCtes(k, nsuper, nlistPer, wprobe, nprobe)}
       |SELECT query_id, neighbor_id, rnk FROM hier_out""".stripMargin

  /** Measured recall@k of the hierarchical path vs the exact top-k — the
   * same contract as `p_ann_recall` / `p_ann_recall_pq`, composed from
   * the shared [[annIvfHierCtes]] block. */
  private[gate] def annRecallHierSql(k: Int, nsuper: Int, nlistPer: Int,
      wprobe: Int, nprobe: Int): String =
    s"""WITH ${annIvfHierCtes(k, nsuper, nlistPer, wprobe, nprobe)},
       |esc AS (SELECT q.vec_id AS query_id, y.vec_id AS neighbor_id,
       |    list_dot_product(q.v, y.v) /
       |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(y.v, y.v))) AS c
       |  FROM e q JOIN e y ON y.vec_id <> q.vec_id),
       |exact AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rnk
       |  FROM esc) WHERE rnk <= $k),
       |j AS (SELECT exact.query_id,
       |    CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM exact LEFT JOIN hier_out a
       |    ON a.query_id = exact.query_id AND a.neighbor_id = exact.neighbor_id)
       |SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |  CAST(SUM(hit) AS BIGINT) AS n_hit,
       |  ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 4) AS recall
       |FROM j GROUP BY query_id""".stripMargin

  /** The hierarchical-IVF replay as a reusable CTE block ending in
   * `hier_out` (query_id, neighbor_id, rnk) — shared by the result
   * oracle and the measured-recall oracle. */
  private def annIvfHierCtes(k: Int, nsuper: Int, nlistPer: Int,
      wprobe: Int, nprobe: Int): String = {
    val cos = (a: String, b: String) =>
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    s"""e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sup AS MATERIALIZED (SELECT vec_id AS sid, v AS sv FROM e
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $nsuper),
       |seeds AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM e
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${nsuper * nlistPer}),
       |seedrank AS MATERIALIZED (SELECT cid, cv, sid,
       |    ROW_NUMBER() OVER (PARTITION BY cid ORDER BY sim DESC, sid ASC) AS r
       |  FROM (SELECT s.cid, s.cv, p.sid, ${cos("s.cv", "p.sv")} AS sim
       |    FROM seeds s CROSS JOIN sup p)),
       |seedasg AS MATERIALIZED (
       |  SELECT sr.cid, sr.cv, COALESCE(self.sid, sr.sid) AS bid
       |  FROM seedrank sr LEFT JOIN sup self ON self.sid = sr.cid
       |  WHERE sr.r = 1),
       |vsup AS MATERIALIZED (SELECT vec_id, v, sid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, sid ASC) AS r
       |  FROM (SELECT e.vec_id, e.v, p.sid, ${cos("e.v", "p.sv")} AS sim
       |    FROM e CROSS JOIN sup p)),
       |dat AS MATERIALIZED (SELECT vec_id, v, cid FROM (
       |  SELECT w.vec_id, w.v, sa.cid,
       |    ROW_NUMBER() OVER (PARTITION BY w.vec_id
       |      ORDER BY ${cos("w.v", "sa.cv")} DESC, sa.cid ASC) AS r
       |  FROM (SELECT vec_id, v, sid FROM vsup WHERE r = 1) w
       |  JOIN seedasg sa ON sa.bid = w.sid) WHERE r = 1),
       |qcell AS MATERIALIZED (SELECT vec_id AS qid, cid FROM (
       |  SELECT w.vec_id, sa.cid,
       |    ROW_NUMBER() OVER (PARTITION BY w.vec_id
       |      ORDER BY ${cos("w.v", "sa.cv")} DESC, sa.cid ASC) AS r
       |  FROM (SELECT vec_id, v, sid FROM vsup WHERE r <= $wprobe) w
       |  JOIN seedasg sa ON sa.bid = w.sid) WHERE r <= $nprobe),
       |sc AS (SELECT q.qid AS query_id, d.vec_id AS neighbor_id,
       |    ${cos("qv.v", "d.v")} AS c
       |  FROM qcell q JOIN e qv ON qv.vec_id = q.qid
       |  JOIN dat d ON d.cid = q.cid AND d.vec_id <> q.qid),
       |hier_out AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rnk
       |    FROM sc) WHERE rnk <= $k)""".stripMargin
  }

  /** IVF-PQ oracle: IVF cells via [[ivfCellCtes]], then an exact replay of
   * Similarity.ivfPqTopK — unit-normalized vectors, md5-ordered codebook
   * seeds (code c = seed c's subvector, in (md5, id) order), per-subspace
   * argmin codes (ties to the lowest code), ADC = sum over subspaces of
   * the query's distance to the candidate's codebook entry, and the
   * `refine`-deep exact-cosine re-rank of the ADC shortlist. */
  private[gate] def annIvfPqSql(k: Int, nlist: Int, nprobe: Int, m: Int, ksub: Int,
      refine: Int, dim: Int = 64, queryWhere: String = ""): String =
    s"""WITH ${annIvfPqCtes(k, nlist, nprobe, m, ksub, refine, dim, queryWhere)}
       |SELECT query_id, neighbor_id, rnk FROM pq_out""".stripMargin

  /** The IVF-PQ replay as a reusable CTE block ending in `pq_out`
   * (query_id, neighbor_id, rnk) — shared by the result oracle and the
   * measured-recall oracle. */
  private def annIvfPqCtes(k: Int, nlist: Int, nprobe: Int, m: Int, ksub: Int,
      refine: Int, dim: Int = 64, queryWhere: String = ""): String = {
    val dsub = dim / m
    s"""${ivfCellCtes(nlist, 0)},
       |en AS MATERIALIZED (SELECT vec_id,
       |    CASE WHEN sqrt(list_dot_product(v, v)) > 0
       |         THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
       |         ELSE v END AS nv
       |  FROM e),
       |sd AS MATERIALIZED (
       |  SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS c, nv
       |  FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS h, en.vec_id, en.nv FROM en
       |        ORDER BY 1, 2 LIMIT $ksub)),
       |cb AS MATERIALIZED (
       |  SELECT j.j, sd.c, sd.nv[j.j*$dsub+1 : j.j*$dsub+$dsub] AS cv
       |  FROM sd, range(0, $m) j(j)),
       |vs AS MATERIALIZED (
       |  SELECT en.vec_id, j.j, en.nv[j.j*$dsub+1 : j.j*$dsub+$dsub] AS sv
       |  FROM en, range(0, $m) j(j)),
       |sdist AS MATERIALIZED (
       |  SELECT vs.vec_id, vs.j, cb.c,
       |    list_sum(list_transform(list_zip(vs.sv, cb.cv),
       |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
       |  FROM vs JOIN cb ON cb.j = vs.j),
       |codes AS MATERIALIZED (
       |  SELECT vec_id, j, c FROM (
       |    SELECT vec_id, j, c,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d ASC, c ASC) AS rn
       |    FROM sdist) WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, cid FROM asg WHERE r <= $nprobe$queryWhere),
       |cand AS MATERIALIZED (
       |  SELECT q.qid, d.vec_id AS nid
       |  FROM q JOIN dat d ON d.cid = q.cid AND d.vec_id <> q.qid),
       |adc AS MATERIALIZED (
       |  SELECT c.qid, c.nid, SUM(sq.d) AS adc
       |  FROM cand c JOIN codes k2 ON k2.vec_id = c.nid
       |    JOIN sdist sq ON sq.vec_id = c.qid AND sq.j = k2.j AND sq.c = k2.c
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc ASC, nid ASC) AS rn
       |    FROM adc) WHERE rn <= ${math.max(refine, k)}),
       |resc AS (
       |  SELECT s.qid AS query_id, s.nid AS neighbor_id,
       |    CASE WHEN list_dot_product(qe.nv, qe.nv) > 0
       |          AND list_dot_product(ne.nv, ne.nv) > 0
       |         THEN list_dot_product(qe.nv, ne.nv) END AS c
       |  FROM short s JOIN en qe ON qe.vec_id = s.qid JOIN en ne ON ne.vec_id = s.nid),
       |pq_out AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY c DESC NULLS LAST, neighbor_id ASC) AS rnk
       |    FROM resc) WHERE rnk <= $k)""".stripMargin
  }

  /** Measured recall@k of the IVF-PQ path vs the exact top-k — the same
   * contract as the LSH `p_ann_recall` row, composed from the shared
   * [[annIvfPqCtes]] block. */
  /** Replay of [[skewStats]]: distinct-edge recursive-CTE CC + ordered
   * triangle join over the same synthetic supplier graph. */
  private[gate] def skewStatsSql(hub: Boolean): String = {
    val dst = if (hub)
      "CASE WHEN l_orderkey % 7 = 0 THEN 0 ELSE (l_suppkey * 7 + l_partkey) % 997 END"
    else "(l_suppkey * 7 + l_partkey) % 997"
    s"""WITH RECURSIVE e0 AS (
       |  SELECT CAST(l_suppkey AS BIGINT) AS src, CAST($dst AS BIGINT) AS dst FROM lineitem),
       |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
       |ue AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e),
       |u AS (SELECT a AS s, b AS d FROM ue UNION SELECT b, a FROM ue),
       |verts AS (SELECT DISTINCT s AS id FROM u
       |          UNION SELECT DISTINCT src FROM e0 UNION SELECT DISTINCT dst FROM e0),
       |r AS (SELECT id, id AS comp FROM verts
       |      UNION SELECT u.d, r.comp FROM r JOIN u ON u.s = r.id),
       |lab AS (SELECT id, MIN(comp) AS comp FROM r GROUP BY id),
       |cs AS (SELECT comp, count(*) AS sz FROM lab GROUP BY comp),
       |cstat AS (SELECT CAST(count(*) AS BIGINT) AS n_components, CAST(max(sz) AS BIGINT) AS mx FROM cs),
       |tri AS (SELECT CAST(count(*) AS BIGINT) AS t FROM ue e1
       |        JOIN ue e2 ON e2.a = e1.b JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b)
       |SELECT 'n_components' AS metric, n_components AS value FROM cstat
       |UNION ALL SELECT 'max_component', mx FROM cstat
       |UNION ALL SELECT 'triangles', t FROM tri""".stripMargin
  }

  /** Unrolled replay of [[graft.lib.SVDPlusPlus.runDeterministic]] on the
   * supplier→part quantity graph: rank 2 as scalar columns (p1/p2, q1/q2,
   * y1/y2), one CTE block per synchronous epoch (s = Σy over rated items,
   * per-edge clamped prediction error, per-vertex gradient sums), md5
   * factor init identical to Spark's `conv(substr(md5,1,4),16,10)`.
   * Prototyped against a numpy replica that matched Spark bit-for-bit
   * (round-6, /tmp pattern per the oracle workflow). */
  private[gate] def svdppSql(epochs: Int): String = {
    def hcol(tag: String, idc: String, k: Int): String =
      s"(${duckHex4(s"md5('$tag|' || $idc || '|$k')")}) / 65536.0 * 0.1"
    def epoch(n: Int): String = {
      val p = n - 1
      s"""s$n AS MATERIALIZED (SELECT e.u, sum(t.y1) AS s1, sum(t.y2) AS s2
         |  FROM e JOIN it$p t USING (i) GROUP BY e.u),
         |t$n AS MATERIALIZED (
         |  SELECT e.u, e.i, us.nu, it.q1, it.q2,
         |    us.p1 + us.nu*s.s1 AS z1, us.p2 + us.nu*s.s2 AS z2,
         |    e.r - least(greatest((SELECT m FROM mu) + us.bu + it.bi
         |      + it.q1*(us.p1+us.nu*s.s1) + it.q2*(us.p2+us.nu*s.s2), 1.0), 50.0) AS err
         |  FROM e JOIN us$p us USING (u) JOIN it$p it USING (i) JOIN s$n s USING (u)),
         |us$n AS MATERIALIZED (
         |  SELECT us.u, us.du, us.nu,
         |    us.bu + 0.007*(a.se - us.du*0.005*us.bu) AS bu,
         |    us.p1 + 0.007*(a.eq1 - us.du*0.015*us.p1) AS p1,
         |    us.p2 + 0.007*(a.eq2 - us.du*0.015*us.p2) AS p2
         |  FROM us$p us JOIN (SELECT u, sum(err) AS se, sum(err*q1) AS eq1,
         |    sum(err*q2) AS eq2 FROM t$n GROUP BY u) a USING (u)),
         |it$n AS MATERIALIZED (
         |  SELECT it.i, it.di,
         |    it.bi + 0.007*(a.se - it.di*0.005*it.bi) AS bi,
         |    it.q1 + 0.007*(a.ez1 - it.di*0.015*it.q1) AS q1,
         |    it.q2 + 0.007*(a.ez2 - it.di*0.015*it.q2) AS q2,
         |    it.y1 + 0.007*(a.ey1 - it.di*0.015*it.y1) AS y1,
         |    it.y2 + 0.007*(a.ey2 - it.di*0.015*it.y2) AS y2
         |  FROM it$p it JOIN (SELECT i, sum(err) AS se, sum(err*z1) AS ez1,
         |    sum(err*z2) AS ez2, sum(err*nu*q1) AS ey1, sum(err*nu*q2) AS ey2
         |    FROM t$n GROUP BY i) a USING (i))""".stripMargin
    }
    s"""WITH e AS MATERIALIZED (
       |  SELECT 's' || l_suppkey AS u, 'p' || l_partkey AS i,
       |    CAST(l_quantity AS DOUBLE) AS r FROM lineitem),
       |mu AS MATERIALIZED (SELECT avg(r) AS m FROM e),
       |us0 AS MATERIALIZED (
       |  SELECT u, count(*) AS du, avg(r) - (SELECT m FROM mu) AS bu,
       |    1.0/sqrt(count(*)) AS nu,
       |    ${hcol("p", "u", 0)} AS p1, ${hcol("p", "u", 1)} AS p2
       |  FROM e GROUP BY u),
       |it0 AS MATERIALIZED (
       |  SELECT i, count(*) AS di, avg(r) - (SELECT m FROM mu) AS bi,
       |    ${hcol("q", "i", 0)} AS q1, ${hcol("q", "i", 1)} AS q2,
       |    ${hcol("y", "i", 0)} AS y1, ${hcol("y", "i", 1)} AS y2
       |  FROM e GROUP BY i),
       |${(1 to epochs).map(epoch).mkString(",\n")}
       |SELECT u AS id, round(bu, 5) AS bias FROM us$epochs
       |UNION ALL SELECT i AS id, round(bi, 5) AS bias FROM it$epochs""".stripMargin
  }

  /** Unrolled sum-product BP replay for [[graft.examples.BeliefPropagation]]
   * on the nation-keyed 5x5 Ising grid: one chained CTE per (sweep, color)
   * message update — λ' = atanh(tanh(b)·tanh(a_i + Σλ_in - λ_rev)) written
   * with the exp identity (this DuckDB lacks tanh/atanh) — then the belief
   * read-out σ(2·(a + Σλ)). 6-dp rounding on both sides absorbs the
   * last-ulp tanh-vs-exp difference. */
  private[gate] def beliefPropSql(sweeps: Int): String = {
    def upd(prev: String, nxt: String, c: Int): String =
      s"""$nxt AS (SELECT i, j, b,
         |  CASE WHEN colorj = $c
         |    THEN 0.5 * ln((1 + tb * tx) / (1 - tb * tx)) ELSE lam END AS lam
         |  FROM (SELECT m.i, m.j, m.b, m.lam, vj.color AS colorj,
         |      (exp(2 * m.b) - 1) / (exp(2 * m.b) + 1) AS tb,
         |      (exp(2 * (vi.a + coalesce(s.si, 0) - r.lam)) - 1) /
         |      (exp(2 * (vi.a + coalesce(s.si, 0) - r.lam)) + 1) AS tx
         |    FROM $prev m
         |    JOIN $prev r ON r.i = m.j AND r.j = m.i
         |    LEFT JOIN (SELECT j AS i, sum(lam) AS si FROM $prev GROUP BY 1) s ON s.i = m.i
         |    JOIN v vi ON vi.id = m.i
         |    JOIN v vj ON vj.id = m.j))""".stripMargin
    val steps = (0 until sweeps).flatMap(sw => Seq(0, 1).map(c =>
      (sw * 2 + c, c))).map { case (t, c) => upd(s"m$t", s"m${t + 1}", c) }
    val tFinal = sweeps * 2
    s"""WITH v AS (SELECT CAST(n_nationkey AS INT) AS id,
       |    ((n_nationkey * 37) % 21 - 10) / 10.0 AS a,
       |    CAST((n_nationkey // 5 + n_nationkey % 5) % 2 AS INT) AS color FROM nation),
       |e AS (SELECT src, dst, ((src * 31 + dst * 17) % 19 - 9) / 10.0 AS b FROM (
       |  SELECT CAST(n_nationkey AS INT) AS src, CAST(n_nationkey + 1 AS INT) AS dst
       |    FROM nation WHERE n_nationkey % 5 < 4
       |  UNION ALL SELECT CAST(n_nationkey AS INT), CAST(n_nationkey + 5 AS INT)
       |    FROM nation WHERE n_nationkey // 5 < 4)),
       |m0 AS (SELECT i, j, b, 0.0 AS lam FROM
       |  (SELECT src AS i, dst AS j, b FROM e UNION ALL SELECT dst, src, b FROM e)),
       |${steps.mkString(",\n")}
       |SELECT v.id, ROUND(1.0 / (1.0 + exp(-2 * (v.a + coalesce(sf.s, 0)))), 6) AS belief
       |FROM v LEFT JOIN (SELECT j, sum(lam) AS s FROM m$tFinal GROUP BY 1) sf ON sf.j = v.id""".stripMargin
  }

  private[gate] def annRecallPqSql(k: Int, nlist: Int, nprobe: Int, m: Int,
      ksub: Int, refine: Int): String =
    s"""WITH ${annIvfPqCtes(k, nlist, nprobe, m, ksub, refine)},
       |esc AS (SELECT q.vec_id AS query_id, y.vec_id AS neighbor_id,
       |    list_dot_product(q.v, y.v) /
       |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(y.v, y.v))) AS c
       |  FROM e q JOIN e y ON y.vec_id <> q.vec_id),
       |exact AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rnk
       |  FROM esc) WHERE rnk <= $k),
       |j AS (SELECT exact.query_id,
       |    CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM exact LEFT JOIN pq_out a
       |    ON a.query_id = exact.query_id AND a.neighbor_id = exact.neighbor_id)
       |SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |  CAST(SUM(hit) AS BIGINT) AS n_hit,
       |  ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 4) AS recall
       |FROM j GROUP BY query_id""".stripMargin

  /** SemDeDup oracle: IVF cells via [[ivfCellCtes]], within-cell cosine
   * pairs (4dp) above `threshold`, connected components by recursive
   * min-label, keep_id = component minimum (itself for singletons). */
  private[gate] def semanticDedupSql(threshold: Double, nlist: Int, lloydIters: Int): String =
    s"""WITH RECURSIVE ${ivfCellCtes(nlist, lloydIters)},
       |pairs AS MATERIALIZED (SELECT a, b FROM (
       |  SELECT x.vec_id AS a, y.vec_id AS b,
       |    ROUND(list_dot_product(x.v, y.v) /
       |      (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 4) AS cos
       |  FROM dat x JOIN dat y ON x.cid = y.cid AND x.vec_id < y.vec_id)
       |  WHERE cos >= $threshold),
       |u AS (SELECT a AS s1, b AS d1 FROM pairs UNION SELECT b, a FROM pairs),
       |r AS (SELECT DISTINCT s1 AS id, s1 AS comp FROM u
       |      UNION SELECT u.d1, r.comp FROM r JOIN u ON u.s1 = r.id),
       |m AS (SELECT id, MIN(comp) AS keep FROM r GROUP BY id)
       |SELECT vec_id, COALESCE(m.keep, vec_id) AS keep_id
       |FROM embeddings LEFT JOIN m ON m.id = vec_id""".stripMargin

  /** R-MAT replay shared by g_rmat (expression generator) and
   * g_rmat_source (DSv2 provider): every quadrant decision from its
   * md5 draw, exact 60-bit thresholds. */
  private[gate] lazy val rmatSql: String = {
    val (ta, tab, tabc) =
      sources.GraphGenerators.rmatThresholds(0.57, 0.19, 0.19)
    val h = duckHex15("md5('7|' || CAST(i AS VARCHAR) || '|' || CAST(l AS VARCHAR))")
    s"""WITH lv AS (SELECT e.i, lv.l FROM range(0, 200) e(i), range(0, 6) lv(l)),
       |d AS (SELECT i, l, CAST($h AS BIGINT) AS draw FROM lv)
       |SELECT i AS edge_id,
       |  CAST(SUM(CASE WHEN draw >= $tab THEN CAST(1 AS BIGINT) << (5 - l)
       |    ELSE 0 END) AS BIGINT) AS src,
       |  CAST(SUM(CASE WHEN (draw >= $ta AND draw < $tab) OR draw >= $tabc
       |    THEN CAST(1 AS BIGINT) << (5 - l) ELSE 0 END) AS BIGINT) AS dst
       |FROM d GROUP BY 1""".stripMargin
  }

  /** Point-in-interval replay shared by the batch range join and its
   * stateless stream-static twin: purchases inside each user's 30-min
   * error window, [start, end) bounds. */
  private[gate] val rangeJoinSql: String =
    """WITH p AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events
      |  WHERE event_type = 'purchase'),
      |er AS (SELECT user_id, event_id, epoch_ms(ts) AS s FROM events
      |  WHERE event_type = 'error')
      |SELECT p.user_id, p.event_id AS purchase_id, er.event_id AS error_id
      |FROM p JOIN er ON er.user_id = p.user_id
      |  AND p.ms >= er.s AND p.ms < er.s + 1800000""".stripMargin

  /** First 16 bits of an md5 hex string as an integer, nibble by nibble
   * (DuckDB has no hex→int conv; mirrors Spark `conv(substr(md5,1,4),16,10)`). */
  private[gate] def duckHex4(md5expr: String): String =
    (1 to 4).map(i =>
      s"(strpos('0123456789abcdef', substr($md5expr, $i, 1)) - 1) * ${1 << (4 * (4 - i))}")
      .mkString(" + ")

  /** First 60 bits (15 nibbles) of an md5 hex string as a BIGINT —
   * mirrors Spark `conv(substr(md5, 1, 15), 16, 10) :: long`. */
  private[gate] def duckHex15(md5expr: String): String =
    (1 to 15).map(i =>
      s"(strpos('0123456789abcdef', substr($md5expr, $i, 1)) - 1) * ${1L << (4 * (15 - i))}")
      .mkString(" + ")

  /** Independent-Cascade live-edge replay (shared by the driver-tail and
   * forced-distributed rows): coin < p·2^60 per edge, BFS min level from
   * the seed set over the surviving edges. */
  private[gate] lazy val icSpreadSql: String = {
    val h = duckHex15(
      "md5('9|' || CAST(src AS VARCHAR) || '|' || CAST(dst AS VARCHAR))")
    val thr = (0.5 * (1L << 60).toDouble).toLong
    s"""WITH RECURSIVE cv AS (SELECT n_nationkey AS id FROM nation),
       |ce AS (SELECT DISTINCT src, dst FROM (
       |    SELECT id AS src, (id + 7) % 25 AS dst FROM cv
       |    UNION ALL
       |    SELECT id, (3 * id + 1) % 25 FROM cv WHERE id % 3 = 0)
       |  WHERE src <> dst),
       |live AS (SELECT src, dst FROM ce WHERE ($h) < $thr),
       |walk AS (SELECT unnest([0, 12]) AS v, 0 AS r
       |  UNION SELECT live.dst, walk.r + 1 FROM walk
       |    JOIN live ON live.src = walk.v WHERE walk.r < 30),
       |m AS (SELECT v, MIN(r) AS r FROM walk GROUP BY v)
       |SELECT cv.id, CAST(m.r AS INT) AS round
       |FROM cv LEFT JOIN m ON m.v = cv.id""".stripMargin
  }

  /** Earliest-arrival (vertex, time) state walk (shared by the driver-tail
   * and forced-distributed rows). */
  /** Shared DuckDB CTE chain replaying [[pipeline.Web.urlCanonical]] over
   * the [[urlFixture]] URLs — p3 exposes (doc_id, scheme, host, ok, tail)
   * for the p_url_canonical and p_host_stats oracles. Plain (non-
   * interpolated) string: the regexes anchor with `$`. */
  private[gate] lazy val urlCanonCtes: String =
    """WITH u AS (SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'HTTP://WWW.Site' ||
      |      CAST(doc_id % 7 AS VARCHAR) ||
      |      '.COM:80/Dir/Page/?utm_source=feed&b=' ||
      |      CAST(doc_id % 5 AS VARCHAR) || '&a=1&gclid=g#frag'
      |    WHEN doc_id % 3 = 1 THEN 'https://user:pw@Sub.site' ||
      |      CAST(doc_id % 7 AS VARCHAR) || '.com:443/p' ||
      |      CAST(doc_id % 11 AS VARCHAR) || '?z=2&a=3'
      |    ELSE 'doc ' || CAST(doc_id AS VARCHAR) END AS url
      |  FROM documents),
      |p AS (SELECT doc_id,
      |  lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
      |    AS scheme,
      |  regexp_replace(lower(regexp_extract(url,
      |    '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)), '^[^@]*@', '')
      |    AS nouser,
      |  regexp_extract(url,
      |    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
      |  regexp_extract(url, '^[^#?]*\?([^#]*)', 1) AS q0 FROM u),
      |p2 AS (SELECT doc_id, scheme,
      |  CASE WHEN scheme = 'http' THEN regexp_replace(nouser, ':80$', '')
      |    WHEN scheme = 'https' THEN regexp_replace(nouser, ':443$', '')
      |    ELSE nouser END AS host,
      |  CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'
      |    ELSE regexp_replace(path0, '/+$', '') END AS path,
      |  array_to_string(list_sort(list_filter(string_split(q0, '&'),
      |    x -> len(x) > 0 AND NOT regexp_matches(x,
      |      '^(utm_[^=]*|gclid|fbclid|msclkid|mc_eid|igshid)(=.*)?$'))),
      |    '&') AS query
      |  FROM p),
      |p3 AS (SELECT doc_id, scheme, host,
      |  len(scheme) > 0 AND len(host) > 0 AS ok,
      |  path || CASE WHEN len(query) > 0 THEN '?' || query ELSE '' END
      |    AS tail FROM p2)""".stripMargin

  /** DuckDB replay of [[pageFixture]] as CTE `pg0(doc_id, url, html)`. */
  private[gate] lazy val pageFixtureCte: String =
    """WITH pg0 AS (SELECT doc_id,
      |  'http://h' || CAST(doc_id % 5 AS VARCHAR) || '.com/p' ||
      |    CAST(doc_id AS VARCHAR) AS url,
      |  '<p><a href="http://H' || CAST((doc_id + 1) % 5 AS VARCHAR) ||
      |  '.com/a">x</a> <A HREF=''https://www.h' ||
      |  CAST((doc_id + 2) % 5 AS VARCHAR) ||
      |  '.com:443/b''>y</A> <a href="/local/page">z</a> ' ||
      |  '<a href="#s">w</a></p>' AS html
      |  FROM documents)""".stripMargin

  /** DuckDB scalar replaying [[pipeline.Web.urlHostKey]] over column
   * `c`: lowercased host, userinfo/default-port dropped, www. stripped,
   * NULL when there is no scheme://host. */
  private[gate] def hostKeySql(c: String): String = {
    val scheme = s"lower(regexp_extract($c, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))"
    val noUser = s"regexp_replace(lower(regexp_extract($c, " +
      s"'^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)), '^[^@]*@', '')"
    val host = s"(CASE WHEN $scheme = 'http' " +
      s"THEN regexp_replace($noUser, ':80$$', '') " +
      s"WHEN $scheme = 'https' THEN regexp_replace($noUser, ':443$$', '') " +
      s"ELSE $noUser END)"
    s"(CASE WHEN len($scheme) > 0 AND len($host) > 0 " +
      s"THEN regexp_replace($host, '^www\\.', '') END)"
  }

  private[gate] lazy val temporalBfsSql: String =
    """WITH RECURSIVE cv AS (SELECT n_nationkey AS id FROM nation),
      |ce AS (SELECT src, dst, CAST((src * 2 + dst) % 7 + 1 AS DOUBLE) AS t
      |  FROM (SELECT DISTINCT src, dst FROM (
      |      SELECT id AS src, (id + 7) % 25 AS dst FROM cv
      |      UNION ALL
      |      SELECT id, (3 * id + 1) % 25 FROM cv WHERE id % 3 = 0)
      |    WHERE src <> dst)),
      |reach AS (SELECT 0 AS v, CAST(0 AS DOUBLE) AS t
      |  UNION SELECT ce.dst, ce.t FROM reach r
      |    JOIN ce ON ce.src = r.v AND ce.t >= r.t)
      |SELECT cv.id, m.t AS arrival
      |FROM cv LEFT JOIN (SELECT v, MIN(t) AS t FROM reach GROUP BY v) m
      |  ON m.v = cv.id""".stripMargin

  /** Deterministic random walks, `steps` unrolled steps (mirrors
   * rw/RandomWalks in md5 hash mode: neighbor lists ordered by
   * md5(src|dst|seed) — 15 fixed-width hex chars order identically to the
   * 60-bit numeric weight — and the step pick is 16 md5 bits mod fan-out). */
  /** Edge-weight-biased walk replay: same md5 draws and sampled-neighbor
   * order as [[randomWalksSql]], with the node2vec-style cumulative
   * threshold scan driven by per-edge integer weights (exact prefix
   * sums). Weight expr mirrors the query: (src*7 + dst*3) % 5 + 1. */
  private[gate] def weightedWalksSql(steps: Int, walksPerVertex: Int, seed: Long): String = {
    val ord = s"substr(md5(CAST(src AS VARCHAR) || '|' || CAST(dst AS VARCHAR) || '|$seed'), 1, 15), dst"
    val stepCtes = (1 to steps).map { k =>
      val h = duckHex4(s"md5(s.walk_id || '|$k|${seed + 1}')")
      s"""s$k AS MATERIALIZED (
         |  SELECT walk_id, nxt AS cur,
         |    CASE WHEN nxt IS NULL THEN path
         |         ELSE list_append(path, CAST(nxt AS VARCHAR)) END AS path
         |  FROM (
         |    SELECT walk_id, path,
         |      CASE WHEN nbrs IS NULL OR len(nbrs) = 0 THEN NULL
         |           ELSE nbrs[LEAST(len(list_filter(
         |             [list_sum(w[1:i]) for i in range(1, len(w) + 1)],
         |             y -> y <= (h16 / 65536.0) * list_sum(w))) + 1, len(nbrs))]
         |      END AS nxt
         |    FROM (
         |      SELECT s.walk_id, s.path, nb.nbrs, nb.wts AS w, ($h) AS h16
         |      FROM s${k - 1} s LEFT JOIN nb ON nb.src = s.cur)))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($NE),
       |ew AS MATERIALIZED (SELECT src, dst,
       |    CAST((src * 7 + dst * 3) % 5 + 1 AS DOUBLE) AS w FROM e),
       |nb AS MATERIALIZED (SELECT src,
       |    list(dst ORDER BY $ord) AS nbrs,
       |    list(w ORDER BY $ord) AS wts
       |  FROM ew GROUP BY src),
       |s0 AS MATERIALIZED (SELECT CAST(n_nationkey AS VARCHAR) || '#' || CAST(t.k AS VARCHAR) AS walk_id,
       |    n_nationkey AS cur, [CAST(n_nationkey AS VARCHAR)] AS path
       |  FROM nation, range(0, $walksPerVertex) t(k)),
       |$stepCtes
       |SELECT walk_id, array_to_string(path, ',') AS random_walk FROM s$steps""".stripMargin
  }

  private[gate] def randomWalksSql(steps: Int, walksPerVertex: Int, seed: Long): String = {
    val stepCtes = (1 to steps).map { k =>
      val h = duckHex4(s"md5(s.walk_id || '|$k|${seed + 1}')")
      s"""s$k AS MATERIALIZED (
         |  SELECT walk_id, nxt AS cur,
         |    CASE WHEN nxt IS NULL THEN path
         |         ELSE list_append(path, CAST(nxt AS VARCHAR)) END AS path
         |  FROM (
         |    SELECT s.walk_id, s.path,
         |      CASE WHEN nb.nbrs IS NULL OR len(nb.nbrs) = 0 THEN NULL
         |           ELSE nb.nbrs[(($h) % len(nb.nbrs)) + 1] END AS nxt
         |    FROM s${k - 1} s LEFT JOIN nb ON nb.src = s.cur))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($NE),
       |nb AS MATERIALIZED (SELECT src, list(dst
       |    ORDER BY substr(md5(CAST(src AS VARCHAR) || '|' || CAST(dst AS VARCHAR) || '|$seed'), 1, 15), dst) AS nbrs
       |  FROM e GROUP BY src),
       |s0 AS MATERIALIZED (SELECT CAST(n_nationkey AS VARCHAR) || '#' || CAST(t.k AS VARCHAR) AS walk_id,
       |    n_nationkey AS cur, [CAST(n_nationkey AS VARCHAR)] AS path
       |  FROM nation, range(0, $walksPerVertex) t(k)),
       |$stepCtes
       |SELECT walk_id, array_to_string(path, ',') AS random_walk FROM s$steps""".stripMargin
  }
}
