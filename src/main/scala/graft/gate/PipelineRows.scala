package graft
package gate

import org.apache.spark.sql.functions._
import graft.GraphFrame.ID
import GateFixtures._

/** Data-pipeline gate rows (`p_`): dedup, similarity, text analysis,
 * tokenizers, web crawl and ANN indexes. */
object PipelineRows {

  // Rows whose oracle a twin reuses: a forced-distributed path, an
  // alternate source or a streaming replay of the same operator.
  private[gate] val pHostGraph = GateRow("p_host_graph", ((s, dir) =>
      // host-level web graph: absolute
      // links by canonical host key (uppercase H, www., :443 all
      // normalize), site-relative links to the source host, fragments
      // dropped — (src_host, dst_host, n_links) ready for fromEdges
      pipeline.Web.linkGraph(pageFixture(s, dir), "doc_id", "url", "html")),
      // same host-key rules as p_url_canonical applied to source url and
      // each link; site-relative links resolve to the source host
      s"""$pageFixtureCte,
        |l AS (SELECT url, link FROM (SELECT url, unnest(list_concat(
        |    regexp_extract_all(html, '(?is)href\\s*=\\s*"([^"]*)"', 1),
        |    regexp_extract_all(html, '(?is)href\\s*=\\s*''([^'']*)''', 1)))
        |  AS link FROM pg0) WHERE len(link) > 0),
        |d AS (SELECT ${hostKeySql("url")} AS src_host,
        |  CASE WHEN link LIKE '/%' AND link NOT LIKE '//%'
        |    THEN ${hostKeySql("url")}
        |    ELSE ${hostKeySql("link")} END AS dst_host FROM l)
        |SELECT src_host, dst_host, CAST(COUNT(*) AS BIGINT) AS n_links
        |FROM d WHERE src_host IS NOT NULL AND dst_host IS NOT NULL
        |GROUP BY 1, 2""".stripMargin)

  private[gate] val pAnnIncremental = GateRow("p_ann_incremental", ((s, dir) => {
      // incremental indexing: index a
      // corpus slice, APPEND the rest as a new batch (overlapping ids
      // exercise the re-ingestion dedupe), search the appended index.
      // Append ≡ from-scratch against the same frozen model, so the
      // oracle is the full-index replay with this query filter — any
      // duplicate or dropped index row breaks the hash
      val emb = load(s, dir, "embeddings")
      // persisted 1-row model — see p_ann_pq_index (here it feeds FOUR
      // consumers: corpus index, append coding, modelParams, search)
      val model = pipeline.Similarity.ivfPqModel(emb, "vec_id", "embedding",
        nlist = 16, m = 8, ksub = 16).persist()
      val corpusIdx = pipeline.Similarity.ivfPqIndex(
        emb.filter(col("vec_id") < 420), "vec_id", "embedding", model)
      val appended = pipeline.Similarity.ivfPqIndexAppend(
        emb.filter(col("vec_id") >= 400), "vec_id", "embedding", model, corpusIdx)
      pipeline.Similarity.ivfPqSearchIndexed(
        emb.filter(col("vec_id") % 25 === 5), "vec_id", "embedding",
        model, appended, k = 3, nprobe = 4, refineWith = Some(emb), refine = 10)
    }),
      // append ≡ from-scratch (same frozen model): replay the full index
      annIvfPqSql(3, 16, 4, m = 8, ksub = 16, refine = 10,
        queryWhere = " AND vec_id % 25 = 5"))

  val rows: Seq[GateRow] = Seq(
    GateRow("p_bipartite_projection", ((s, dir) =>
      suppliesGraph(s, dir).bipartiteProjection("supplies")),
      """WITH d AS (SELECT DISTINCT l_suppkey AS a, l_partkey AS b FROM lineitem)
        |SELECT x.a AS src, y.a AS dst, count(*) AS weight
        |FROM d x JOIN d y ON x.b = y.b AND x.a < y.a
        |GROUP BY 1, 2""".stripMargin),
    GateRow("p_bipartite_capped", ((s, dir) =>
      // hub-capped projection: parts supplied by > 20 suppliers are
      // excluded before the self-join (the 100-TB-scale guard; weight
      // becomes a lower bound that ignores hub-mediated co-occurrence)
      suppliesGraph(s, dir).bipartiteProjection("supplies", maxDegree = 20)),
      """WITH d AS MATERIALIZED (
        |  SELECT DISTINCT l_suppkey AS a, l_partkey AS b FROM lineitem),
        |f AS MATERIALIZED (
        |  SELECT a, b FROM d
        |  WHERE b IN (SELECT b FROM d GROUP BY b HAVING count(*) <= 20))
        |SELECT x.a AS src, y.a AS dst, count(*) AS weight
        |FROM f x JOIN f y ON x.b = y.b AND x.a < y.a
        |GROUP BY 1, 2""".stripMargin),

    // --- pipeline: dedup ---
    GateRow("p_dedup_exact", ((s, dir) =>
      pipeline.Dedup.exact(load(s, dir, "documents"), "doc_id", Seq("text"))),
      """SELECT doc_id, md5(text) AS fp,
        |  MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id FROM documents""".stripMargin),
    GateRow("p_chunk", ((s, dir) => // RAG chunking: 32-word chunks, 8 overlap
      pipeline.Text.chunk(load(s, dir, "documents"), "doc_id", "text",
        chunkWords = 32, overlapWords = 8)),
      // stride 24 = 32 - 8; last start reaches the text end
      s"""WITH w AS (SELECT doc_id, $W AS ws FROM documents),
         |c AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |        array_to_string(ws[i*24+1:i*24+32], ' ') AS chunk_text,
         |        CAST(least(len(ws) - i*24, 32) AS BIGINT) AS n_words
         |      FROM w, range(0, 100000) r(i)
         |      WHERE i <= greatest((len(ws) - 1 - 8) // 24, 0))
         |SELECT doc_id, chunk_idx, chunk_text, n_words FROM c""".stripMargin),
    GateRow("p_normalize", ((s, dir) => // ASCII-safe cleanup: lower, controls
      // to spaces, whitespace collapsed, trimmed — pure projections
      pipeline.Text.normalize(load(s, dir, "documents"), "doc_id", "text")),
      // same ASCII normalization pipeline; RE2's \x and \s classes match
      // Java's on the ASCII fixture, 'g' for global
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text),
        |    '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(trim(regexp_replace(regexp_replace(lower(text),
        |    '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g'))) AS BIGINT)
        |    AS n_chars_norm
        |FROM documents""".stripMargin),
    GateRow("p_strip_markup", ((s, dir) => { // HTML boilerplate strip (CCNet/
      // RefinedWeb front step): the fixture wraps each document in a
      // page skeleton with script/style bodies, a comment, and the
      // seven decoded entities — everything the extractor must remove
      val page = concat(
        lit("<html><head><STYLE type=\"text/css\">p{color:red}</STYLE>" +
          "<script>var x = 1 < 2;</script></head>\n<body><h1>Title</h1><p>"),
        col("text"),
        lit("</p><!-- nav\nboilerplate --><p>tail &amp;amp; &lt;x&gt; " +
          "&quot;q&quot; &#39;a&#39;&nbsp;end</p></body></html>"))
      pipeline.Web.stripMarkup(load(s, dir, "documents")
        .select(col("doc_id"), page.as("html")), "doc_id", "html")
    }),
      // same extraction pipeline: spans, comments, tags, entities (amp
      // LAST), whitespace collapse; RE2 non-greedy + inline (?is) match
      // Java's here, 'g' for global; fixture newlines spelled chr(10)
      """WITH h AS (SELECT doc_id,
        |  '<html><head><STYLE type="text/css">p{color:red}</STYLE>' ||
        |  '<script>var x = 1 < 2;</script></head>' || chr(10) ||
        |  '<body><h1>Title</h1><p>' || text || '</p><!-- nav' || chr(10) ||
        |  'boilerplate --><p>tail &amp;amp; &lt;x&gt; &quot;q&quot; ' ||
        |  '&#39;a&#39;&nbsp;end</p></body></html>' AS html FROM documents),
        |s AS (SELECT doc_id, html,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |    '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |    '(?s)<!--.*?-->', ' ', 'g'),
        |    '(?s)<[^>]*>', ' ', 'g') AS t FROM h)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(replace(t,
        |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
        |    '[ \t\n\r]+', ' ', 'g')) AS text,
        |  CAST(len(regexp_extract_all(html, '(?s)<[^>]*>')) AS BIGINT)
        |    AS n_tags
        |FROM s""".stripMargin),
    GateRow("p_url_canonical", ((s, dir) => // URL canonicalization + dedup
      // keys: three deterministic URL shapes per corpus (http with www +
      // default port + tracking params + fragment; https with sorted-out
      // param order; a schemeless non-URL that must produce nulls)
      pipeline.Web.urlCanonical(urlFixture(s, dir), "doc_id", "url")),
      // same parse + rules: lowercase scheme/host, drop userinfo / default
      // port / fragment / tracking params, sort surviving params, trim
      // trailing slashes; non-URLs (no scheme://) produce null outputs
      s"""$urlCanonCtes
        |SELECT doc_id,
        |  CASE WHEN ok THEN scheme || '://' || host || tail END AS url_canon,
        |  CASE WHEN ok THEN regexp_replace(host, '^www\\.', '') END AS host,
        |  CASE WHEN ok THEN regexp_replace(host, '^www\\.', '') || tail END
        |    AS url_key
        |FROM p3""".stripMargin),
    GateRow("p_host_stats", ((s, dir) => // domain-level crawl stats over the
      // SAME URL fixture: per canonical host, rows vs distinct pages and
      // the within-host exact-dup ratio (the blocklist-prep table);
      // non-URL rows drop, the http shape dups heavily (5 query values
      // per host), the https shape is near-unique (11 paths x 2 params)
      pipeline.Web.hostStats(urlFixture(s, dir), "doc_id", "url")),
      // hosts aggregated over the same canonicalization CTEs
      s"""$urlCanonCtes
        |SELECT regexp_replace(host, '^www\\.', '') AS host,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT regexp_replace(host, '^www\\.', '') || tail)
        |    AS BIGINT) AS n_pages,
        |  ROUND(1.0 - COUNT(DISTINCT regexp_replace(host, '^www\\.', '')
        |    || tail) / CAST(COUNT(*) AS DOUBLE), 4) AS dup_ratio
        |FROM p3 WHERE ok GROUP BY 1""".stripMargin),
    GateRow("p_extract_links", ((s, dir) => // raw href extraction (double- AND
      // single-quoted, case-insensitive): absolute, site-relative and
      // fragment links all surface — resolution is linkGraph's job
      pipeline.Web.extractLinks(pageFixture(s, dir), "doc_id", "html")),
      // same two-pattern extraction (double- then single-quoted hrefs),
      // same empty-link filter; fixture replayed inline
      s"""$pageFixtureCte
        |SELECT doc_id, link FROM (SELECT doc_id, unnest(list_concat(
        |    regexp_extract_all(html, '(?is)href\\s*=\\s*"([^"]*)"', 1),
        |    regexp_extract_all(html, '(?is)href\\s*=\\s*''([^'']*)''', 1)))
        |  AS link FROM pg0)
        |WHERE len(link) > 0""".stripMargin),
    pHostGraph,
    GateRow("p_extract_links_capped", ((s, dir) => // crawler-trap guard: first
      // 2 non-empty links per page in document order, truncation COUNTED
      // in n_links_dropped (the fixture has 4 links/page → 2 dropped)
      pipeline.Web.extractLinks(pageFixture(s, dir), "doc_id", "html",
        maxLinksPerPage = 2)),
      // same list in document order, non-empties first-2 sliced; dropped =
      // count beyond the cap
      s"""$pageFixtureCte,
        |cl AS (SELECT doc_id, list_filter(list_concat(
        |    regexp_extract_all(html, '(?is)href\\s*=\\s*"([^"]*)"', 1),
        |    regexp_extract_all(html, '(?is)href\\s*=\\s*''([^'']*)''', 1)),
        |  x -> len(x) > 0) AS l FROM pg0)
        |SELECT doc_id, unnest(l[1:2]) AS link,
        |  CAST(greatest(len(l) - 2, 0) AS BIGINT) AS n_links_dropped
        |FROM cl""".stripMargin),
    GateRow("p_host_graph_capped", ((s, dir) => // the same cap bounding the
      // link-graph explode: only each page's first 2 links feed the
      // (src_host, dst_host) aggregation
      pipeline.Web.linkGraph(pageFixture(s, dir), "doc_id", "url", "html",
        maxLinksPerPage = 2)),
      s"""$pageFixtureCte,
        |cl AS (SELECT url, list_filter(list_concat(
        |    regexp_extract_all(html, '(?is)href\\s*=\\s*"([^"]*)"', 1),
        |    regexp_extract_all(html, '(?is)href\\s*=\\s*''([^'']*)''', 1)),
        |  x -> len(x) > 0) AS l FROM pg0),
        |ll AS (SELECT url, unnest(l[1:2]) AS link FROM cl),
        |dd AS (SELECT ${hostKeySql("url")} AS src_host,
        |  CASE WHEN link LIKE '/%' AND link NOT LIKE '//%'
        |    THEN ${hostKeySql("url")}
        |    ELSE ${hostKeySql("link")} END AS dst_host FROM ll)
        |SELECT src_host, dst_host, CAST(COUNT(*) AS BIGINT) AS n_links
        |FROM dd WHERE src_host IS NOT NULL AND dst_host IS NOT NULL
        |GROUP BY 1, 2""".stripMargin),
    GateRow("p_host_rank", ((s, dir) => // the crawl→rank composition gate:
      // linkGraph → fromEdges → n_links-weighted PageRank, the oracle
      // unrolls the full weighted trajectory over the replayed host graph
      pipeline.Web.hostRank(pageFixture(s, dir), "doc_id", "url", "html")
        .select(col("host"), round(col("pagerank"), 5).as("pagerank"))),
      // the crawl→rank composition: the p_host_graph edge replay feeds the
      // same unrolled weighted-PageRank trajectory as g_pagerank_weighted
      // (mass ∝ n_links/wsum, damping 0.15 + 0.85·Σ, 10 rounds from r=1)
      {
        val steps = (1 to 10).map { k =>
          s"""hw$k AS MATERIALIZED (
             |  SELECT hv.id, 0.15 + 0.85 * COALESCE(SUM(p.r * he.w / o.wsum), 0) AS r
             |  FROM hv LEFT JOIN he ON he.dst = hv.id
             |  LEFT JOIN hw${k - 1} p ON p.id = he.src
             |  LEFT JOIN how o ON o.src = he.src
             |  GROUP BY hv.id)""".stripMargin
        }.mkString(",\n")
        s"""$pageFixtureCte,
          |hl AS (SELECT url, link FROM (SELECT url, unnest(list_concat(
          |    regexp_extract_all(html, '(?is)href\\s*=\\s*"([^"]*)"', 1),
          |    regexp_extract_all(html, '(?is)href\\s*=\\s*''([^'']*)''', 1)))
          |  AS link FROM pg0) WHERE len(link) > 0),
          |hd AS (SELECT ${hostKeySql("url")} AS src_host,
          |  CASE WHEN link LIKE '/%' AND link NOT LIKE '//%'
          |    THEN ${hostKeySql("url")}
          |    ELSE ${hostKeySql("link")} END AS dst_host FROM hl),
          |he AS (SELECT src_host AS src, dst_host AS dst,
          |    CAST(COUNT(*) AS DOUBLE) AS w
          |  FROM hd WHERE src_host IS NOT NULL AND dst_host IS NOT NULL
          |  GROUP BY 1, 2),
          |hv AS (SELECT DISTINCT h AS id FROM
          |  (SELECT src AS h FROM he UNION ALL SELECT dst FROM he)),
          |how AS (SELECT src, SUM(w) AS wsum FROM he GROUP BY src),
          |hw0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS r FROM hv),
          |$steps
          |SELECT id AS host, ROUND(r, 5) AS pagerank FROM hw10""".stripMargin
      }),
    GateRow("p_quality_quantiles", ((s, dir) => // per-language EXACT quantile
      // thresholds (rank ceil(q*n), a value that occurs — approx sketches
      // are engine-specific and these thresholds gate permanent cuts)
      pipeline.Sampling.groupQuantiles(load(s, dir, "documents")
          .select(col("lang"), col("n_chars").cast("double").as("score")),
        "lang", "score", Seq(0.1, 0.5, 0.9))),
      // same rank arithmetic: value at ceil(q*n), 1-indexed ascending;
      // q literals cast to DOUBLE (a bare 0.1 is DECIMAL in DuckDB)
      """WITH r AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v,
        |  ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY CAST(n_chars AS DOUBLE) ASC) AS rk,
        |  COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM documents WHERE n_chars IS NOT NULL)
        |SELECT lang, q, v AS value, CAST(n AS BIGINT) AS n
        |FROM r, (SELECT unnest([CAST(0.1 AS DOUBLE), CAST(0.5 AS DOUBLE),
        |  CAST(0.9 AS DOUBLE)]) AS q) qs
        |WHERE rk = greatest(CAST(ceil(q * n) AS BIGINT), 1)""".stripMargin),
    GateRow("p_quality_cut", ((s, dir) => // the threshold-table workflow
      // end-to-end: per-language 0.8-quantile of the score, broadcast
      // the tiny threshold table, keep rows at or above — the permanent
      // cut p_quality_quantiles' thresholds exist to gate
      pipeline.Sampling.quantileCut(load(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            col("n_chars").cast("double").as("score")),
        "lang", "score", 0.8)),
      // same rank-⌈q·n⌉ threshold, then the gate: score >= threshold per
      // language (null scores/langs drop through the join on both sides)
      """WITH r AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v,
        |  ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY CAST(n_chars AS DOUBLE) ASC) AS rk,
        |  COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM documents WHERE n_chars IS NOT NULL),
        |t AS (SELECT lang, v AS thr FROM r
        |  WHERE rk = greatest(CAST(ceil(CAST(0.8 AS DOUBLE) * n) AS BIGINT), 1))
        |SELECT d.doc_id, d.lang, CAST(d.n_chars AS DOUBLE) AS score
        |FROM documents d JOIN t ON d.lang = t.lang
        |WHERE CAST(d.n_chars AS DOUBLE) >= t.thr""".stripMargin),
    GateRow("p_keep_best", ((s, dir) => // best-of-cluster dedup keep: one row
      // per cluster by (score desc, id asc) — the near-dup finisher that
      // keeps the best-quality member instead of an arbitrary one
      pipeline.Dedup.keepBest(load(s, dir, "documents")
          .select(pmod(col("doc_id"), lit(40)).as("cluster"), col("doc_id"),
            col("n_chars").cast("double").as("score")),
        "cluster", "doc_id", "score")),
      // same (score desc NULLS LAST, id asc) keep — DuckDB's DESC defaults
      // to nulls-first, so the order is spelled out on both sides
      """WITH c AS (SELECT doc_id % 40 AS cluster, doc_id,
        |    CAST(n_chars AS DOUBLE) AS score FROM documents),
        |r AS (SELECT cluster, doc_id, score,
        |  ROW_NUMBER() OVER (PARTITION BY cluster
        |    ORDER BY score DESC NULLS LAST, doc_id ASC) AS rk,
        |  COUNT(*) OVER (PARTITION BY cluster) AS n_members FROM c)
        |SELECT cluster, doc_id, score, CAST(n_members AS BIGINT) AS n_members
        |FROM r WHERE rk = 1""".stripMargin),
    GateRow("p_corpus_diff", ((s, dir) => { // incremental-crawl snapshot diff:
      // old = doc_id < 400, new = doc_id >= 100 with every doc_id%10==3
      // re-crawled (text + ' v2') — exercises all four statuses
      val docs = load(s, dir, "documents")
      val oldSnap = docs.filter(col("doc_id") < 400)
        .select(col("doc_id"), col("text"))
      val newSnap = docs.filter(col("doc_id") >= 100)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(10)) === 3,
            concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))
      pipeline.Dedup.corpusDiff(oldSnap, newSnap, "doc_id", "text")
    }),
      // same presence-flag full-outer diff; md5 hex matches Spark's
      """WITH o AS (SELECT doc_id, md5(text) AS h, TRUE AS p
        |  FROM documents WHERE doc_id < 400),
        |n AS (SELECT doc_id,
        |  md5(CASE WHEN doc_id % 10 = 3 THEN text || ' v2' ELSE text END)
        |    AS h, TRUE AS p
        |  FROM documents WHERE doc_id >= 100)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.p IS NULL THEN 'added'
        |    WHEN n.p IS NULL THEN 'removed'
        |    WHEN o.h IS NOT DISTINCT FROM n.h THEN 'unchanged'
        |    ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin),
    GateRow("p_segment_dedup", ((s, dir) => // CCNet-style paragraph dedup; the
      // word-soup fixture has no line structure, so segment = 4-word window
      pipeline.Dedup.segmentDedup(load(s, dir, "documents"), "doc_id", "text",
        windowWords = 4, maxDupCount = 2)),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |seg AS (SELECT doc_id, i, array_to_string(ws[(i-1)*4+1:i*4], ' ') AS s
        |        FROM w, range(1, 100000) r(i) WHERE (i-1)*4 < len(ws)),
        |f AS (SELECT s, count(*) AS n FROM seg GROUP BY 1),
        |k AS (SELECT seg.doc_id, seg.i, seg.s, f.n <= 2 AS keep FROM seg JOIN f USING (s))
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN keep THEN s END, ' ' ORDER BY i), '') AS clean_text,
        |  CAST(coalesce(sum(CASE WHEN keep THEN 1 ELSE 0 END), 0) AS BIGINT) AS kept,
        |  CAST(coalesce(sum(CASE WHEN keep THEN 0 ELSE 1 END), 0) AS BIGINT) AS dropped
        |FROM k GROUP BY doc_id""".stripMargin),
    GateRow("p_incremental_dedup", ((s, dir) => { // steady-state dedup: new batch
      // (doc_id >= 400) vs the corpus index (doc_id < 400) + within-batch
      val docs = load(s, dir, "documents")
      // persisted like the e_stream_incremental_dedup twin (r15): the
      // index is consumed by the width-validation scan, the bucket join
      // and the estimate signatures — unpersisted, each consumer re-ran
      // the corpus minhash (in production this frame is READ from parquet)
      val index = pipeline.Dedup.minhashIndex(
        docs.filter(col("doc_id") < 400), "doc_id", "text").persist()
      pipeline.Dedup.incrementalNearDups(
        docs.filter(col("doc_id") >= 400), "doc_id", "text", index)
    }),
      incrementalDedupSql),
    GateRow("p_minhash_lsh", ((s, dir) =>
      pipeline.Dedup.minhashLsh(load(s, dir, "documents"), "doc_id", "text",
        n = 3, bands = 8, rowsPerBand = 2)),
      s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
         |s AS (SELECT doc_id, $SH3 AS sh FROM t WHERE len(w) >= 3),
         |sig AS (SELECT doc_id, list_transform(range(0, 16), h ->
         |   list_min(list_transform(sh, x -> md5(CAST(h AS VARCHAR) || '|' || x)))) AS mh
         |   FROM s),
         |bands AS (SELECT doc_id, r.b AS band,
         |   md5(array_to_string(mh[2 * r.b + 1:2 * r.b + 2], '|')) AS bh
         |   FROM sig, range(0, 8) r(b))
         |SELECT x.doc_id AS a, y.doc_id AS b
         |FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
         |GROUP BY 1, 2""".stripMargin),
    GateRow("p_dedup_clusters", ((s, dir) =>
      pipeline.Dedup.nearDupClusters(load(s, dir, "documents"), "doc_id", "text")),
      s"""WITH RECURSIVE t AS (SELECT doc_id, $W AS w FROM documents),
         |s AS (SELECT doc_id, $SH3 AS sh FROM t WHERE len(w) >= 3),
         |sig AS (SELECT doc_id, list_transform(range(0, 16), h ->
         |   list_min(list_transform(sh, x -> md5(CAST(h AS VARCHAR) || '|' || x)))) AS mh
         |   FROM s),
         |bands AS (SELECT doc_id, r.b AS band,
         |   md5(array_to_string(mh[2 * r.b + 1:2 * r.b + 2], '|')) AS bh
         |   FROM sig, range(0, 8) r(b)),
         |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |   FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
         |u AS (SELECT a AS s1, b AS d1 FROM pairs UNION SELECT b, a FROM pairs),
         |r AS (SELECT DISTINCT s1 AS id, s1 AS comp FROM u
         |      UNION SELECT u.d1, r.comp FROM r JOIN u ON u.s1 = r.id),
         |m AS (SELECT id, MIN(comp) AS keep FROM r GROUP BY id)
         |SELECT doc_id, COALESCE(m.keep, doc_id) AS keep_id
         |FROM documents LEFT JOIN m ON m.id = doc_id""".stripMargin),
    GateRow("p_clean_corpus", ((s, dir) => {
      // composed training-data pipeline: quality gate + near-dup removal.
      // `documents` feeds three branches (quality scan, LSH shingling,
      // final join) — persist so the parquet scan + decode runs once.
      val docs = load(s, dir, "documents").persist()
      val quality = pipeline.Text.quality(docs, "doc_id", "text")
        .filter(col("n_tokens") >= 20 && col("stop_ratio") <= 0.2)
        .select("doc_id")
      val keep = pipeline.Dedup.nearDupClusters(docs, "doc_id", "text")
        .filter(col("keep_id") === col("doc_id"))
        .select("doc_id")
      docs.join(quality, "doc_id").join(keep, "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),
      s"""WITH RECURSIVE t AS (SELECT doc_id, $W AS w FROM documents),
         |q AS (SELECT doc_id FROM t WHERE len(w) >= 20 AND
         |  (len(list_filter(w, x -> x = 'the')) + len(list_filter(w, x -> x = 'a')) +
         |   len(list_filter(w, x -> x = 'of')) + len(list_filter(w, x -> x = 'and')) +
         |   len(list_filter(w, x -> x = 'is'))) /
         |  CAST(GREATEST(len(w), 1) AS DOUBLE) <= 0.2),
         |s AS (SELECT doc_id, $SH3 AS sh FROM t WHERE len(w) >= 3),
         |sig AS (SELECT doc_id, list_transform(range(0, 16), h ->
         |   list_min(list_transform(sh, x -> md5(CAST(h AS VARCHAR) || '|' || x)))) AS mh
         |   FROM s),
         |bands AS (SELECT doc_id, r.b AS band,
         |   md5(array_to_string(mh[2 * r.b + 1:2 * r.b + 2], '|')) AS bh
         |   FROM sig, range(0, 8) r(b)),
         |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |   FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
         |u AS (SELECT a AS s1, b AS d1 FROM pairs UNION SELECT b, a FROM pairs),
         |r AS (SELECT DISTINCT s1 AS id, s1 AS comp FROM u
         |      UNION SELECT u.d1, r.comp FROM r JOIN u ON u.s1 = r.id),
         |m AS (SELECT id, MIN(comp) AS keep FROM r GROUP BY id),
         |kept AS (SELECT doc_id FROM documents LEFT JOIN m ON m.id = doc_id
         |         WHERE COALESCE(m.keep, doc_id) = doc_id)
         |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
         |JOIN q ON q.doc_id = d.doc_id JOIN kept k ON k.doc_id = d.doc_id""".stripMargin),
    GateRow("p_dedup_recall", ((s, dir) =>
      // measured LSH quality vs COMPLETE exact-Jaccard ground truth
      // (threshold 0.3); the oracle recomputes both sides independently
      pipeline.Dedup.lshDedupQuality(load(s, dir, "documents"), "doc_id", "text",
        threshold = 0.3)),
      // truth: COMPLETE J >= 0.3 pairs via the shared-shingle join
      // (minShared 1, uncapped); candidates: the 8x2 minhash banding
      s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
         |s AS (SELECT doc_id, unnest($SH3) AS sh FROM t WHERE len(w) >= 3),
         |d AS (SELECT DISTINCT doc_id, sh FROM s),
         |sz AS (SELECT doc_id, count(*) AS n FROM d GROUP BY 1),
         |pr AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
         |       FROM d x JOIN d y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |       GROUP BY 1, 2),
         |truth AS (SELECT a, b FROM pr
         |  JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
         |  WHERE ROUND(shared / CAST(sa.n + sb.n - shared AS DOUBLE), 4) >= 0.3),
         |sg AS (SELECT doc_id, list_transform(range(0, 16), h ->
         |   list_min(list_transform(sh, x -> md5(CAST(h AS VARCHAR) || '|' || x)))) AS mh
         |   FROM (SELECT doc_id, $SH3 AS sh FROM t WHERE len(w) >= 3)),
         |bands AS (SELECT doc_id, r.b AS band,
         |   md5(array_to_string(mh[2 * r.b + 1:2 * r.b + 2], '|')) AS bh
         |   FROM sg, range(0, 8) r(b)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |   FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh
         |    AND x.doc_id < y.doc_id),
         |m AS (SELECT COALESCE(t2.a, c.a) AS a, COALESCE(t2.b, c.b) AS b,
         |   t2.a IS NOT NULL AS is_t, c.a IS NOT NULL AS is_c
         |   FROM truth t2 FULL OUTER JOIN cand c ON t2.a = c.a AND t2.b = c.b)
         |SELECT CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
         |  CAST(SUM(CASE WHEN is_c THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
         |  CAST(SUM(CASE WHEN is_t AND is_c THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  CASE WHEN SUM(CASE WHEN is_t THEN 1 ELSE 0 END) = 0 THEN 1.0
         |    ELSE ROUND(SUM(CASE WHEN is_t AND is_c THEN 1 ELSE 0 END) /
         |      CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS DOUBLE), 4) END AS recall,
         |  CASE WHEN SUM(CASE WHEN is_c THEN 1 ELSE 0 END) = 0 THEN 1.0
         |    ELSE ROUND(SUM(CASE WHEN is_t AND is_c THEN 1 ELSE 0 END) /
         |      CAST(SUM(CASE WHEN is_c THEN 1 ELSE 0 END) AS DOUBLE), 4) END AS precision
         |FROM m""".stripMargin),
    GateRow("p_simhash", ((s, dir) =>
      pipeline.Dedup.simhash(load(s, dir, "documents"), "doc_id", "text", bits = 16)),
      simhashSql(16)),
    GateRow("p_ngram_jaccard", ((s, dir) =>
      pipeline.Dedup.ngramJaccard(load(s, dir, "documents"), "doc_id", "text",
        n = 3, minShared = 3, maxDocFreq = 1000)),
      // mirrors the stop-shingle document-frequency cap (maxDocFreq=1000):
      // shared counts use only cap-surviving shingles; sizes stay uncapped
      s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
         |s AS (SELECT doc_id, unnest($SH3) AS sh FROM t WHERE len(w) >= 3),
         |d AS (SELECT DISTINCT doc_id, sh FROM s),
         |sz AS (SELECT doc_id, count(*) AS n FROM d GROUP BY 1),
         |rare AS (SELECT sh FROM d GROUP BY sh HAVING count(*) <= 1000),
         |dc AS (SELECT d.doc_id, d.sh FROM d JOIN rare USING (sh)),
         |pr AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
         |       FROM dc x JOIN dc y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |       GROUP BY 1, 2 HAVING count(*) >= 3)
         |SELECT a, b, shared,
         |  ROUND(shared / CAST(sa.n + sb.n - shared AS DOUBLE), 4) AS jaccard
         |FROM pr JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b""".stripMargin),
    GateRow("p_containment", ((s, dir) => // asymmetric small-in-large dedup:
      // C(a->b) = |S(a) n S(b)| / |S(a)| — catches quoted/embedded docs
      // whole-doc Jaccard misses; both orientations of each pair
      pipeline.Dedup.containmentPairs(load(s, dir, "documents"), "doc_id", "text",
        n = 3, minShared = 2, threshold = 0.4, maxDocFreq = 1000)),
      // containment is the same pair construction with the ASYMMETRIC
      // normalizer |S(a)|; the `shared >= n * 0.4` float boundary is the
      // identical IEEE compare the engine makes
      s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
         |s AS (SELECT doc_id, unnest($SH3) AS sh FROM t WHERE len(w) >= 3),
         |d AS (SELECT DISTINCT doc_id, sh FROM s),
         |sz AS (SELECT doc_id, count(*) AS n FROM d GROUP BY 1),
         |rare AS (SELECT sh FROM d GROUP BY sh HAVING count(*) <= 1000),
         |dc AS (SELECT d.doc_id, d.sh FROM d JOIN rare USING (sh)),
         |pr AS (SELECT x.doc_id AS u, y.doc_id AS v, count(*) AS shared
         |       FROM dc x JOIN dc y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |       GROUP BY 1, 2 HAVING count(*) >= 2),
         |bo AS (SELECT u AS a, v AS b, shared, su.n AS na FROM pr
         |         JOIN sz su ON su.doc_id = u
         |       UNION ALL
         |       SELECT v, u, shared, sv.n FROM pr
         |         JOIN sz sv ON sv.doc_id = v)
         |SELECT a, b, shared,
         |  ROUND(shared / CAST(na AS DOUBLE), 4) AS containment
         |FROM bo WHERE shared >= na * 0.4""".stripMargin),

    // --- pipeline: similarity ---
    GateRow("p_cosine_pairs", ((s, dir) =>
      pipeline.Similarity.bruteForcePairs(load(s, dir, "embeddings"), "vec_id", "embedding", 0.35)),
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT * FROM (
         |  SELECT x.vec_id AS a, y.vec_id AS b, ROUND($cosExpr, 4) AS cos
         |  FROM e x JOIN e y ON x.vec_id < y.vec_id)
         |WHERE cos >= 0.35""".stripMargin),
    GateRow("p_ann_topk", ((s, dir) =>
      pipeline.Similarity.topK(load(s, dir, "embeddings"), "vec_id", "embedding",
        k = 3, queryFilter = col("vec_id") < 20)),
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT * FROM e WHERE vec_id < 20),
         |sc AS (SELECT q.vec_id AS query_id, y.vec_id AS neighbor_id,
         |   list_dot_product(q.v, y.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(y.v, y.v))) AS c
         |   FROM q JOIN e y ON y.vec_id <> q.vec_id)
         |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk FROM (
         |  SELECT query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rnk
         |  FROM sc) WHERE rnk <= 3""".stripMargin),
    GateRow("p_ann_mips", ((s, dir) => // max-inner-product retrieval: rank by
      // RAW dot (norm carries signal); cosine indexes apply via the
      // norm-augmentation reduction at scale
      pipeline.Similarity.mipsTopK(load(s, dir, "embeddings"), "vec_id", "embedding",
        k = 3, queryFilter = col("vec_id") < 20)),
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT * FROM e WHERE vec_id < 20),
         |sc AS (SELECT q.vec_id AS query_id, y.vec_id AS neighbor_id,
         |   list_dot_product(q.v, y.v) AS d
         |   FROM q JOIN e y ON y.vec_id <> q.vec_id)
         |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk FROM (
         |  SELECT query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d DESC, neighbor_id ASC) AS rnk
         |  FROM sc) WHERE rnk <= 3""".stripMargin),
    GateRow("p_ann_lsh", ((s, dir) => // approximate by construction; oracle mirrors
      // the banded bucket candidates exactly (md5-derived plane weights)
      pipeline.Similarity.lshTopK(load(s, dir, "embeddings"), "vec_id", "embedding",
        k = 3, bands = 2, planesPerBand = 4, dim = 64)),
      annLshSql(3, 2, 4, 64)),
    GateRow("p_knn_graph", ((s, dir) => // mutual-kNN graph: canonical (src<dst)
      // edge iff each endpoint is in the other's exact top-5
      pipeline.Similarity.knnGraph(load(s, dir, "embeddings"), "vec_id",
        "embedding", k = 5)),
      knnGraphSql("SELECT src, dst FROM mu")),
    GateRow("p_pmi_bigrams", ((s, dir) => // collocations: top-20 adjacent pairs
      // by PMI over exact corpus counts; one ln per surviving pair
      pipeline.Text.pmiBigrams(load(s, dir, "documents"), "doc_id", "text",
          minCount = 3, topK = 20)
        .select(col("w1"), col("w2"), col("pair_count"),
          round(col("pmi"), 6).as("pmi"))),
      s"""WITH tk AS (SELECT $W AS ws FROM documents),
         |t2 AS (SELECT ws FROM tk WHERE len(ws) > 0),
         |bg AS (SELECT ws[i] AS w1, ws[i+1] AS w2
         |  FROM t2, range(1, 100000) t(i) WHERE i < len(ws)),
         |uni AS (SELECT tok, count(*) AS c
         |  FROM (SELECT unnest(ws) AS tok FROM t2) GROUP BY 1),
         |tot AS (SELECT (SELECT SUM(c) FROM uni) AS n, (SELECT count(*) FROM bg) AS m),
         |pair AS (SELECT w1, w2, count(*) AS pair_count FROM bg
         |  GROUP BY 1, 2 HAVING count(*) >= 3),
         |sc AS (SELECT p.w1, p.w2, p.pair_count,
         |    LN((CAST(p.pair_count AS DOUBLE) / m) /
         |      ((CAST(u1.c AS DOUBLE) / n) * (CAST(u2.c AS DOUBLE) / n))) AS pmi
         |  FROM pair p JOIN uni u1 ON u1.tok = p.w1
         |  JOIN uni u2 ON u2.tok = p.w2, tot)
         |SELECT w1, w2, pair_count, ROUND(pmi, 6) AS pmi FROM (
         |  SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS rk FROM sc)
         |WHERE rk <= 20""".stripMargin),
    GateRow("p_group_sample", ((s, dir) => // k docs per source, smallest
      // md5(seed|doc_id) draws — deterministic, replayed by the oracle
      pipeline.Sampling.groupSample(load(s, dir, "documents"),
          "source", "doc_id", k = 5)
        .select(col("doc_id"), col("source"))),
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents) WHERE rk <= 5""".stripMargin),
    GateRow("p_contaminated_spans", ((s, dir) => { // decontamination detection:
      // exact maximal TRAIN spans appearing verbatim in the BENCH split
      // (doc_id % 10 == 0); cross-corpus form of p_dup_spans_maximal
      val docs = load(s, dir, "documents")
      pipeline.Text.contaminatedSpans(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        seedTokens = 4)
    }),
      s"""${contaminatedCtes(4, 256)}
         |SELECT mx.d AS doc_id, CAST(mx.pos AS INT) AS pos,
         |  CAST(mx.len AS INT) AS len,
         |  array_to_string(t.w[mx.pos + 1 : mx.pos + mx.len], ' ') AS span
         |FROM mx JOIN tt t ON t.doc_id = mx.d""".stripMargin),
    GateRow("p_cut_contaminated", ((s, dir) => { // the cut: every contaminated
      // occurrence removed (no keep-first winner — contamination all
      // goes), train corpus rebuilt in position order
      val docs = load(s, dir, "documents")
      pipeline.Text.cutContaminated(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        seedTokens = 4)
    }),
      s"""${contaminatedCtes(4, 256)},
         |rem AS (SELECT DISTINCT d, unnest(range(pos, pos + len)) AS tp FROM mx),
         |tok AS (SELECT doc_id AS d, unnest(range(0, len(w))) AS pos,
         |  unnest(w) AS tk FROM tt),
         |keep AS (SELECT tok.* FROM tok LEFT JOIN rem
         |  ON rem.d = tok.d AND rem.tp = tok.pos WHERE rem.tp IS NULL),
         |reb AS (SELECT d, string_agg(tk, ' ' ORDER BY pos) AS clean_text
         |  FROM keep GROUP BY d),
         |cnt AS (SELECT d, COUNT(*) AS n FROM rem GROUP BY d)
         |SELECT tt.doc_id, COALESCE(reb.clean_text, '') AS clean_text,
         |  CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_removed_tokens
         |FROM tt LEFT JOIN reb ON reb.d = tt.doc_id
         |LEFT JOIN cnt ON cnt.d = tt.doc_id""".stripMargin),
    GateRow("p_weighted_sample", ((s, dir) => // 50 docs ∝ ⌊n_chars/16⌋ tickets,
      // min-of-draws race (no pow/ln anywhere) — the oracle replays every
      // ticket, the per-doc min and the (key, id) top-50
      pipeline.Sampling.weightedSample(
          load(s, dir, "documents")
            .withColumn("w", greatest(lit(1L), floor(col("n_chars") / 16).cast("long"))),
          "doc_id", "w", k = 50)
        .select(col("doc_id"), col("n_chars"), col("sample_rank"))),
      {
        val h = duckHex15(
          "md5('42|' || CAST(doc_id AS VARCHAR) || '|' || CAST(j AS VARCHAR))")
        s"""WITH t AS (SELECT doc_id, n_chars,
           |    GREATEST(1, CAST(FLOOR(n_chars / 16.0) AS BIGINT)) AS w
           |  FROM documents),
           |tick AS (SELECT doc_id, unnest(range(1, w + 1)) AS j FROM t),
           |keyd AS (SELECT doc_id, MIN($h) AS k FROM tick GROUP BY 1),
           |top AS (SELECT doc_id,
           |    CAST(ROW_NUMBER() OVER (ORDER BY k, doc_id) AS INT) AS sample_rank
           |  FROM keyd ORDER BY k, doc_id LIMIT 50)
           |SELECT t.doc_id, t.n_chars, top.sample_rank
           |FROM top JOIN t ON t.doc_id = top.doc_id""".stripMargin
      }),
    GateRow("p_approx_distinct", ((s, dir) => { // KMV sketch: per-language
      // approximate distinct token count, (k-1)/h_k over the 16 smallest
      // 60-bit md5 fractions — the estimate itself replays bit-identically
      val toks = load(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      pipeline.Sampling.approxDistinct(toks, "lang", "tok", k = 16)
        .select(col("lang"), round(col("approx_distinct"), 4).as("approx_distinct"))
    }),
      {
        val h = duckHex15("md5(tok)")
        s"""WITH t AS (SELECT lang, unnest($W) AS tok FROM documents),
           |d AS (SELECT DISTINCT lang, ($h) AS h FROM t WHERE lang IS NOT NULL),
           |r AS (SELECT lang, h,
           |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rk,
           |    COUNT(*) OVER (PARTITION BY lang) AS nd
           |  FROM d)
           |SELECT lang, ROUND(CASE WHEN nd < 16 THEN CAST(nd AS DOUBLE)
           |    ELSE 15.0 / (CAST(h AS DOUBLE) / 1152921504606846976.0) END, 4)
           |  AS approx_distinct
           |FROM r WHERE rk = CASE WHEN nd < 16 THEN 1 ELSE 16 END""".stripMargin
      }),
    GateRow("p_random_projection", ((s, dir) => // JL ±1 projection 64 → 16 dims;
      // rows (vec_id, d, val) so the float compare rounds per scalar
      pipeline.Similarity.randomProjection(load(s, dir, "embeddings"),
          "vec_id", "embedding", dOut = 16)
        .select(col("vec_id"), posexplode(col("reduced")).as(Seq("d", "val")))
        .select(col("vec_id"), col("d"), round(col("val"), 6).as("val"))),
      {
        // one UNION ALL arm per output dim, the ±1 weights as SQL literals
        // (identical md5 parity to the engine's planeWeights)
        val arms = (0 until 16).map { p =>
          val w = "[" + (0 until 64).map(i =>
            if (pipeline.Similarity.planeSign(p, i) > 0) "1.0" else "-1.0")
            .mkString(", ") + "]"
          s"SELECT vec_id, CAST($p AS INT) AS d, " +
            s"ROUND(list_dot_product(v, $w) / sqrt(16.0), 6) AS val FROM e"
        }.mkString("\nUNION ALL\n")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
           |$arms""".stripMargin
      }),
    GateRow("p_knn_label_spread", ((s, dir) => // semi-supervised: md5-clamped
      // 50% seeds, 3 synchronous mode-of-neighbors rounds over the
      // mutual-kNN graph; the oracle replays draw, graph and every round
      pipeline.Similarity.labelSpread(load(s, dir, "embeddings"), "vec_id",
        "embedding", "label", k = 5, rounds = 3, seedFraction = 0.5)),
      knnGraphSql(labelSpreadTail(3))),
    GateRow("p_knn_clusters", ((s, dir) => { // semantic clusters: CC over the
      // mutual-kNN graph — the pipeline→graph bridge (vectors that only a
      // hub connects stay apart; mutual cliques merge)
      val emb = load(s, dir, "embeddings")
      val edges = pipeline.Similarity.knnGraph(emb, "vec_id", "embedding", k = 5)
      GraphFrame(emb.select(col("vec_id").as(ID)), edges)
        .connectedComponents.run().select(col(ID), col("component"))
    }),
      knnGraphSql(
        """,
          |u AS (SELECT src AS s1, dst AS d1 FROM mu UNION SELECT dst, src FROM mu),
          |r AS (SELECT vec_id AS id, vec_id AS comp FROM embeddings
          |      UNION SELECT u.d1, r.comp FROM r JOIN u ON u.s1 = r.id)
          |SELECT id, MIN(comp) AS component FROM r GROUP BY id""".stripMargin)),
    GateRow("p_ann_ivf", ((s, dir) => // oracle mirrors the md5-sampled quantizer
      // AND its two Lloyd refinement steps (assignment + per-cell means)
      pipeline.Similarity.ivfTopK(load(s, dir, "embeddings"), "vec_id", "embedding",
        k = 3, nlist = 16, nprobe = 4, lloydIters = 2)),
      annIvfSql(3, 16, 4, lloydIters = 2)),
    GateRow("p_ann_ivfpq", ((s, dir) => // IVF-PQ with exact re-rank of the ADC
      // shortlist (FAISS IndexRefine shape); oracle replays the md5-seeded
      // codebooks, the per-subspace code argmin, the ADC sum and the refine
      pipeline.Similarity.ivfPqTopK(load(s, dir, "embeddings"), "vec_id", "embedding",
        k = 3, nlist = 16, nprobe = 4, m = 8, ksub = 16, refine = 10)),
      annIvfPqSql(3, 16, 4, m = 8, ksub = 16, refine = 10)),
    GateRow("p_ann_pq_index", ((s, dir) => { // steady-state ANN: a query batch
      // scored against the PERSISTED model+index — corpus vectors touched
      // only by the refine shortlist join; same oracle replay as ivfpq
      // restricted to the query batch
      val emb = load(s, dir, "embeddings")
      // persist the 1-row model (r14): it is consumed once by modelParams'
      // head(), once broadcast into the index build and once into the
      // search — unpersisted, each consumer re-ran the centroid+codebook
      // aggregations over the corpus (a production pipeline reads the
      // SAVED model parquet, which this stands in for)
      val model = pipeline.Similarity.ivfPqModel(emb, "vec_id", "embedding",
        nlist = 16, m = 8, ksub = 16).persist()
      val index = pipeline.Similarity.ivfPqIndex(emb, "vec_id", "embedding", model)
      pipeline.Similarity.ivfPqSearchIndexed(
        emb.filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
        model, index, k = 3, nprobe = 4, refineWith = Some(emb), refine = 10)
    }),
      annIvfPqSql(3, 16, 4, m = 8, ksub = 16, refine = 10,
        queryWhere = " AND vec_id % 25 = 0")),
    pAnnIncremental,
    GateRow("p_ann_ivf_hier", ((s, dir) => // two-level coarse quantizer (the
      // scale path past the flat nlist<=65536 broadcast bound): 4 md5-
      // seeded super-cells x 4 sub-cells, probe 2 branches / 4 cells;
      // oracle replays the seed routing (super seeds anchor their own
      // branch), data top-1 assignment and the global probe ranking
      pipeline.Similarity.ivfTopKHier(load(s, dir, "embeddings"), "vec_id",
        "embedding", k = 3, nsuper = 4, nlistPer = 4, wprobe = 2, nprobe = 4)),
      annIvfHierSql(3, 4, 4, 2, 4)),
    GateRow("p_ann_recall_hier", ((s, dir) => { // measured recall@k of the
      // hierarchical two-level path — the number the (wprobe, nprobe)
      // knobs control, against the exact top-k
      val e = load(s, dir, "embeddings")
      pipeline.Similarity.recallAtK(
        pipeline.Similarity.ivfTopKHier(e, "vec_id", "embedding", k = 3,
          nsuper = 4, nlistPer = 4, wprobe = 2, nprobe = 4),
        pipeline.Similarity.topK(e, "vec_id", "embedding", k = 3))
    }),
      annRecallHierSql(3, 4, 4, 2, 4)),
    GateRow("p_ann_recall_pq", ((s, dir) => { // measured recall@k of the IVF-PQ
      // path with the refine re-rank — the number (nprobe, m, ksub,
      // refine) control, against the exact top-k
      val e = load(s, dir, "embeddings")
      pipeline.Similarity.recallAtK(
        pipeline.Similarity.ivfPqTopK(e, "vec_id", "embedding", k = 3,
          nlist = 16, nprobe = 4, m = 8, ksub = 16, refine = 10),
        pipeline.Similarity.topK(e, "vec_id", "embedding", k = 3))
    }),
      annRecallPqSql(3, 16, 4, m = 8, ksub = 16, refine = 10)),
    GateRow("p_ann_recall", ((s, dir) => { // measured recall@k of the LSH path
      // against the exact top-k — the number the bands knob controls
      val e = load(s, dir, "embeddings")
      pipeline.Similarity.recallAtK(
        pipeline.Similarity.lshTopK(e, "vec_id", "embedding",
          k = 3, bands = 2, planesPerBand = 4, dim = 64),
        pipeline.Similarity.topK(e, "vec_id", "embedding", k = 3))
    }),
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bk AS MATERIALIZED (${duckBandRows(2, 4, 64)}),
         |cand AS MATERIALIZED (SELECT DISTINCT x.vec_id AS qid, y.vec_id AS nid
         |  FROM bk x JOIN bk y ON x.band = y.band AND x.bucket = y.bucket
         |  AND x.vec_id <> y.vec_id),
         |asc_ AS (SELECT cand.qid AS query_id, cand.nid AS neighbor_id,
         |    list_dot_product(q.v, n.v) /
         |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))) AS c
         |  FROM cand JOIN e q ON q.vec_id = cand.qid JOIN e n ON n.vec_id = cand.nid),
         |approx AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rnk
         |  FROM asc_) WHERE rnk <= 3),
         |esc AS (SELECT q.vec_id AS query_id, y.vec_id AS neighbor_id,
         |    list_dot_product(q.v, y.v) /
         |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(y.v, y.v))) AS c
         |  FROM e q JOIN e y ON y.vec_id <> q.vec_id),
         |exact AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id ASC) AS rnk
         |  FROM esc) WHERE rnk <= 3),
         |j AS (SELECT exact.query_id,
         |    CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
         |  FROM exact LEFT JOIN approx a
         |    ON a.query_id = exact.query_id AND a.neighbor_id = exact.neighbor_id)
         |SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST(SUM(hit) AS BIGINT) AS n_hit,
         |  ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 4) AS recall
         |FROM j GROUP BY query_id""".stripMargin),

    // --- pipeline: text analysis ---
    GateRow("p_token_count", ((s, dir) =>
      pipeline.Text.tokenCount(load(s, dir, "documents"), "doc_id", "text")),
      s"""SELECT doc_id, CAST(len($W) AS BIGINT) AS n_tokens FROM documents""".stripMargin),
    GateRow("p_bpe_tokens", ((s, dir) =>
      pipeline.Text.regexTokenCount(load(s, dir, "documents"), "doc_id", "text")),
      """SELECT doc_id, CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT)
        |  AS n_bpe_tokens FROM documents""".stripMargin),
    GateRow("p_bpe_train", ((s, dir) => // word-level BPE: 3 most-frequent-adjacent-
      // pair merges, deterministic (count desc, pair asc) tie-break
      pipeline.Tokenizer.bpeTrain(load(s, dir, "documents"), "text", 3)),
      bpeSql(
        """SELECT CAST(1 AS INT) AS rank, l AS "left", r AS "right", CAST(n AS BIGINT) AS pair_count FROM m1
          |UNION ALL SELECT 2, l, r, CAST(n AS BIGINT) FROM m2
          |UNION ALL SELECT 3, l, r, CAST(n AS BIGINT) FROM m3""".stripMargin)),
    GateRow("p_bpe_encode", ((s, dir) => // re-tokenize with the learned merges
      pipeline.Tokenizer.bpeTrainEncode(
        load(s, dir, "documents"), "doc_id", "text", 3)._2),
      bpeSql(
        """SELECT c3.doc_id, CAST(c3.nraw AS BIGINT) AS n_tokens_raw,
          |  CAST(len(string_split(c3.s[2:-2], '⟩⟨')) AS BIGINT) AS n_tokens_bpe
          |FROM c3""".stripMargin)),
    GateRow("p_unigram_train", ((s, dir) => // SentencePiece-style unigram LM,
      // deterministic hard-EM: seed = chars + top-40 substrings, 2
      // Viterbi-count/re-estimate rounds, fixed-point micro-nat costs
      pipeline.Tokenizer.unigramTrain(load(s, dir, "documents"), "text",
        vocabSize = 40, maxPieceLen = 4, iterations = 2)),
      unigramSql(train = true)),
    GateRow("p_unigram_encode", ((s, dir) => // Viterbi segmentation of every
      // doc under the trained vocab: exact integer path costs, skipped
      // (unsegmentable/over-long) words counted, never silently costed
      pipeline.Tokenizer.unigramTrainEncode(load(s, dir, "documents"),
        "doc_id", "text", vocabSize = 40, maxPieceLen = 4,
        iterations = 2)._2),
      unigramSql(train = false)),
    GateRow("p_wordpiece_vocab", ((s, dir) => // BERT-style WordPiece vocab by
      // frequency: all single chars (initial + ## continuation forms) +
      // top-30 longer pieces, ties to the smaller piece
      pipeline.Tokenizer.wordpieceVocab(load(s, dir, "documents"), "text",
        vocabSize = 30, maxPieceLen = 3, maxWordLen = 16)),
      wordpieceSql(encode = false)),
    GateRow("p_wordpiece_encode", ((s, dir) => // greedy longest-match-first
      // segmentation of every doc; [UNK] words counted, never silently
      // costed as one token
      pipeline.Tokenizer.wordpieceVocabEncode(load(s, dir, "documents"),
        "doc_id", "text", vocabSize = 30, maxPieceLen = 3,
        maxWordLen = 16)._2),
      wordpieceSql(encode = true)),
    GateRow("p_gopher_rules", ((s, dir) => { // Gopher-composite quality rules on
      // a fixture with injected bullet/ellipsis lines and symbol runs
      // (doc_id % 5 / % 7 / % 11) so every flag fires both ways; all
      // ratio tests are exact integer cross-multiplications
      val t2 = concat(col("text"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit(" \n• promo one \n• promo two \n• promo three"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          lit(" \nto be continued...")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          lit(" ## ## ## ## ## ## ##")).otherwise(lit("")))
      pipeline.Text.gopherRules(
        load(s, dir, "documents").select(col("doc_id"), t2.as("text")),
        "doc_id", "text", minWords = 40, maxWords = 80,
        maxBulletPct = 50, minStopwords = 1)
    }),
      // same injected fixture as the query (bullet block % 5, ellipsis
      // line % 7, symbol run % 11); every ratio flag is the identical
      // integer cross-multiplication
      """WITH d0 AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' ' || chr(10) || '• promo one ' ||
        |      chr(10) || '• promo two ' || chr(10) || '• promo three' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' ' || chr(10) || 'to be continued...' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' ## ## ## ## ## ## ##' ELSE '' END AS t
        |  FROM documents),
        |c AS (SELECT doc_id, t,
        |    list_filter(string_split(t, ' '), x -> len(x) > 0) AS w,
        |    string_split(t, chr(10)) AS ln FROM d0),
        |m AS (SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(COALESCE(list_sum(list_transform(w, x -> len(x))), 0) AS BIGINT) AS n_word_chars,
        |  CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
        |  CAST((len(t) - len(replace(t, '#', ''))) +
        |       ((len(t) - len(replace(t, '...', ''))) // 3) AS BIGINT) AS n_symbols,
        |  CAST(len(ln) AS BIGINT) AS n_lines,
        |  CAST(len(list_filter(ln, l -> starts_with(ltrim(l), '•') OR
        |    starts_with(ltrim(l), '- ') OR starts_with(ltrim(l), '* '))) AS BIGINT) AS n_bullet_lines,
        |  CAST(len(list_filter(ln, l -> ends_with(rtrim(l), '...') OR
        |    ends_with(rtrim(l), '…'))) AS BIGINT) AS n_ellipsis_lines,
        |  CAST((CASE WHEN list_contains(w, 'the') THEN 1 ELSE 0 END) +
        |       (CASE WHEN list_contains(w, 'be') THEN 1 ELSE 0 END) +
        |       (CASE WHEN list_contains(w, 'to') THEN 1 ELSE 0 END) +
        |       (CASE WHEN list_contains(w, 'of') THEN 1 ELSE 0 END) +
        |       (CASE WHEN list_contains(w, 'and') THEN 1 ELSE 0 END) +
        |       (CASE WHEN list_contains(w, 'that') THEN 1 ELSE 0 END) +
        |       (CASE WHEN list_contains(w, 'have') THEN 1 ELSE 0 END) +
        |       (CASE WHEN list_contains(w, 'with') THEN 1 ELSE 0 END) AS BIGINT) AS n_stopwords_found
        |FROM c)
        |SELECT doc_id, n_words, n_word_chars, n_alpha_words, n_symbols, n_lines,
        |  n_bullet_lines, n_ellipsis_lines, n_stopwords_found,
        |  (n_words >= 40 AND n_words <= 80) AS ok_word_count,
        |  (n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words) AS ok_word_length,
        |  (100 * n_symbols <= 10 * n_words) AS ok_symbol_ratio,
        |  (100 * n_bullet_lines <= 50 * n_lines) AS ok_bullets,
        |  (100 * n_ellipsis_lines <= 30 * n_lines) AS ok_ellipsis,
        |  (100 * n_alpha_words >= 80 * n_words) AS ok_alpha_words,
        |  (n_stopwords_found >= 1) AS ok_stopwords,
        |  ((n_words >= 40 AND n_words <= 80) AND
        |   (n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words) AND
        |   (100 * n_symbols <= 10 * n_words) AND
        |   (100 * n_bullet_lines <= 50 * n_lines) AND
        |   (100 * n_ellipsis_lines <= 30 * n_lines) AND
        |   (100 * n_alpha_words >= 80 * n_words) AND
        |   (n_stopwords_found >= 1)) AS keep
        |FROM m""".stripMargin),
    GateRow("p_embedding_dedup", ((s, dir) =>
      pipeline.Dedup.embeddingDupClusters(load(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.4)),
      s"""WITH RECURSIVE e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bk AS MATERIALIZED (${duckBandRows(8, 4, 64)}),
         |cand AS MATERIALIZED (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |  FROM bk x JOIN bk y ON x.band = y.band AND x.bucket = y.bucket
         |  AND x.vec_id < y.vec_id),
         |pairs AS MATERIALIZED (SELECT a, b FROM (
         |  SELECT cand.a, cand.b, ROUND(list_dot_product(q.v, n.v) /
         |    (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))), 4) AS cos
         |  FROM cand JOIN e q ON q.vec_id = cand.a JOIN e n ON n.vec_id = cand.b)
         |  WHERE cos >= 0.4),
         |u AS (SELECT a AS s1, b AS d1 FROM pairs UNION SELECT b, a FROM pairs),
         |r AS (SELECT DISTINCT s1 AS id, s1 AS comp FROM u
         |      UNION SELECT u.d1, r.comp FROM r JOIN u ON u.s1 = r.id),
         |m AS (SELECT id, MIN(comp) AS keep FROM r GROUP BY id)
         |SELECT vec_id, COALESCE(m.keep, vec_id) AS keep_id
         |FROM embeddings LEFT JOIN m ON m.id = vec_id""".stripMargin),
    GateRow("p_lang_id", ((s, dir) =>
      pipeline.Text.languageId(load(s, dir, "documents"), "doc_id", "text")),
      langIdSql),
    GateRow("p_quality", ((s, dir) =>
      pipeline.Text.quality(load(s, dir, "documents"), "doc_id", "text")),
      s"""WITH t AS (SELECT doc_id, text, $W AS w FROM documents)
         |SELECT doc_id,
         |  CAST(len(w) AS BIGINT) AS n_tokens,
         |  CAST(len(text) AS BIGINT) AS n_chars,
         |  ROUND(COALESCE(list_sum(list_transform(w, x -> len(x))), 0) /
         |        CAST(GREATEST(len(w), 1) AS DOUBLE), 4) AS avg_token_len,
         |  ROUND((len(list_filter(w, x -> x = 'the')) + len(list_filter(w, x -> x = 'a')) +
         |         len(list_filter(w, x -> x = 'of')) + len(list_filter(w, x -> x = 'and')) +
         |         len(list_filter(w, x -> x = 'is'))) /
         |        CAST(GREATEST(len(w), 1) AS DOUBLE), 4) AS stop_ratio
         |FROM t""".stripMargin),
    GateRow("p_fingerprint", ((s, dir) =>
      pipeline.Text.fingerprint(load(s, dir, "documents"), "doc_id", "text")),
      s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
         |s AS (SELECT doc_id, [md5(array_to_string(w[i:i+2], ' ')) for i in range(1, len(w) - 1)] AS hs FROM t)
         |SELECT doc_id, md5(COALESCE(array_to_string(
         |  list_sort(list_filter(hs, h -> substr(h, 32, 1) IN ('0', '1'))), ''), '')) AS fingerprint
         |FROM s""".stripMargin),
    GateRow("p_repetition", ((s, dir) =>
      pipeline.Text.repetitionRatio(load(s, dir, "documents"), "doc_id", "text", n = 2)),
      s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
         |s AS (SELECT doc_id, [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))] AS sh FROM t)
         |SELECT doc_id, ROUND(CASE WHEN len(sh) > 0
         |  THEN 1.0 - len(list_distinct(sh)) / CAST(len(sh) AS DOUBLE)
         |  ELSE 0.0 END, 4) AS rep_ratio
         |FROM s""".stripMargin),
    GateRow("p_contamination", ((s, dir) => {
      // eval-set contamination: every 50th doc plays the benchmark set;
      // n=3 shingles (the corpus has no long verbatim overlaps)
      val docs = load(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 50 === 0)
      pipeline.Text.contamination(docs, "doc_id", "text", bench, "doc_id", "text", n = 3)
        .filter(col("doc_id") =!= col("bench_id"))
    }),
      s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
         |s AS (SELECT doc_id, unnest($SH3) AS sh FROM t WHERE len(w) >= 3),
         |d AS (SELECT DISTINCT doc_id, sh FROM s),
         |b AS (SELECT doc_id AS bench_id, sh FROM d WHERE doc_id % 50 = 0)
         |SELECT d.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS n_shared
         |FROM d JOIN b USING (sh) WHERE d.doc_id <> b.bench_id
         |GROUP BY 1, 2""".stripMargin),
    GateRow("p_redact_pii", ((s, dir) => {
      // the driver's customer table carries no contact columns, so the
      // PII is synthesized deterministically from c_custkey (same
      // construction in the oracle) — the operator under test is the
      // redaction itself
      val k = col("c_custkey")
      val piiText = concat_ws(" ", col("c_name"), lit("reach me at"),
        concat(lit("c"), k, lit("@example.com")), lit("phone"),
        concat(lit("25-"), lpad(pmod(k, lit(1000)).cast("string"), 3, "0"),
          lit("-555-"), lpad(pmod(k, lit(10000)).cast("string"), 4, "0")),
        lit("ip"),
        concat(lit("10.0."), pmod(k, lit(256)), lit("."), pmod(k, lit(250))),
        col("c_mktsegment"))
      pipeline.Text.redactPii(
        load(s, dir, "customer").select(k, piiText.as("pii_text")),
        "c_custkey", "pii_text")
        .select(col("c_custkey").as("cust_id"), col("clean_text"), col("n_redactions"))
    }),
      {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "\\b[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
        val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
        s"""WITH t AS (SELECT c_custkey,
           |  c_name || ' reach me at c' || CAST(c_custkey AS VARCHAR) || '@example.com phone 25-'
           |  || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-555-'
           |  || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
           |  || ' ip 10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.' || CAST(c_custkey % 250 AS VARCHAR)
           |  || ' ' || c_mktsegment AS txt FROM customer)
           |SELECT c_custkey AS cust_id,
           |  regexp_replace(regexp_replace(regexp_replace(txt,
           |    '$email', '<EMAIL>', 'g'),
           |    '$phone', '<PHONE>', 'g'),
           |    '$ip', '<IP>', 'g') AS clean_text,
           |  CAST(len(regexp_extract_all(txt, '$email'))
           |     + len(regexp_extract_all(txt, '$phone'))
           |     + len(regexp_extract_all(txt, '$ip')) AS BIGINT) AS n_redactions
           |FROM t""".stripMargin
      }),
    GateRow("p_entropy", ((s, dir) =>
      pipeline.Text.charEntropy(load(s, dir, "documents"), "doc_id", "text")),
      // identical summation order to Text.charEntropy: fold over SORTED
      // distinct characters, so the IEEE double sum replays exactly
      """WITH c AS (SELECT doc_id, string_split(text, '') AS cs FROM documents),
        |u AS (SELECT doc_id, cs, CAST(len(cs) AS DOUBLE) AS n,
        |       list_sort(list_distinct(cs)) AS uq FROM c)
        |SELECT doc_id,
        |  CASE WHEN len(cs) > 0 THEN ROUND(-list_reduce(
        |    list_prepend(CAST(0.0 AS DOUBLE), list_transform(uq,
        |      ch -> (CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE) / n)
        |            * log2(CAST(len(list_filter(cs, x -> x = ch)) AS DOUBLE) / n))),
        |    (a, t) -> a + t), 4)
        |  ELSE 0.0 END AS char_entropy
        |FROM u""".stripMargin),
    GateRow("p_length_stats", ((s, dir) =>
      pipeline.Text.lengthStats(load(s, dir, "documents"), "lang", "text")),
      s"""WITH t AS (SELECT lang, CAST(len($W) AS DOUBLE) AS n FROM documents)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  ROUND(AVG(n), 4) AS mean_tokens,
         |  ROUND(quantile_cont(n, 0.5), 4) AS median_tokens,
         |  ROUND(quantile_cont(n, 0.95), 4) AS p95_tokens
         |FROM t GROUP BY lang""".stripMargin),
    GateRow("p_tfidf", ((s, dir) =>
      pipeline.Text.tfidfTopTerms(load(s, dir, "documents"), "doc_id", "text", topN = 5)),
      s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
         |tm AS (SELECT doc_id, unnest(w) AS term FROM t),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tm GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents),
         |wgt AS (SELECT tf.doc_id, tf.term,
         |    tf.tf * (ln((n.n + 1.0) / (dfq.dfc + 1)) + 1.0) AS wv
         |  FROM tf JOIN dfq ON dfq.term = tf.term CROSS JOIN n)
         |SELECT doc_id, term, ROUND(wv, 4) AS tfidf, CAST(rnk AS INT) AS rnk FROM (
         |  SELECT doc_id, term, wv,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY wv DESC, term ASC) AS rnk
         |  FROM wgt) WHERE rnk <= 5""".stripMargin),
    GateRow("p_pack_shards", ((s, dir) =>
      // token-budget shard packing via the distributed prefix sum;
      // output depends only on (data, budget), not partition count
      pipeline.Sampling.packShards(
        pipeline.Text.tokenCount(load(s, dir, "documents"), "doc_id", "text"),
        "doc_id", "n_tokens", budget = 2000L)),
      s"""WITH t AS (SELECT doc_id, CAST(len($W) AS BIGINT) AS n_tokens FROM documents)
         |SELECT doc_id, n_tokens,
         |  CAST(floor((COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 1.0) / 2000
         |    ) AS BIGINT) AS shard_id
         |FROM t""".stripMargin),
    GateRow("p_entity_resolution", ((s, dir) =>
      // blocked fuzzy matching: 16-char name-prefix blocks, exact
      // Levenshtein <= 1 verify inside each block
      pipeline.Dedup.fuzzyPairs(load(s, dir, "customer"), "c_custkey",
        "c_name", substring(col("c_name"), 1, 16), maxDist = 1,
        maxBlock = 1000)),
      """WITH t AS (SELECT c_custkey AS id, c_name AS nm,
        |    substr(c_name, 1, 16) AS blk FROM customer),
        |kept AS (SELECT blk FROM t GROUP BY blk HAVING COUNT(*) <= 1000)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
        |FROM t a JOIN t b ON a.blk = b.blk AND a.id < b.id
        |JOIN kept k ON k.blk = a.blk
        |WHERE levenshtein(a.nm, b.nm) <= 1""".stripMargin),
    GateRow("p_entity_resolution_multi", ((s, dir) =>
      // multi-PASS blocking: candidates from the name-prefix key UNION a
      // (nation, name-SUFFIX) key, deduped before ONE verify per pair.
      // The suffix key rescues pairs whose single edit falls inside the
      // 16-char prefix (verified: the same rescued-pair set as the
      // r12 (nation, length) key at every SF — names share one length,
      // so that key degenerated to nation-wide blocks and 6.6x the
      // verify fan-out for identical recall)
      pipeline.Dedup.fuzzyPairs(load(s, dir, "customer"), "c_custkey",
        "c_name", Seq(substring(col("c_name"), 1, 16),
          concat_ws("|", col("c_nationkey"), substring(col("c_name"), -2, 2))),
        maxDist = 1, maxBlock = 1000)),
      """WITH t AS (SELECT c_custkey AS id, c_name AS nm,
        |    substr(c_name, 1, 16) AS k0,
        |    CAST(c_nationkey AS VARCHAR) || '|' ||
        |      substr(c_name, length(c_name) - 1, 2) AS k1
        |  FROM customer),
        |e AS (SELECT id, 0 AS ki, k0 AS blk FROM t WHERE k0 IS NOT NULL
        |  UNION ALL SELECT id, 1, k1 FROM t WHERE k1 IS NOT NULL),
        |kept AS (SELECT ki, blk FROM e GROUP BY ki, blk
        |  HAVING COUNT(*) <= 1000),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM e a JOIN e b ON a.ki = b.ki AND a.blk = b.blk AND a.id < b.id
        |  JOIN kept k ON k.ki = a.ki AND k.blk = a.blk)
        |SELECT c.id_a, c.id_b, CAST(levenshtein(ta.nm, tb.nm) AS INT) AS dist
        |FROM cand c JOIN t ta ON ta.id = c.id_a JOIN t tb ON tb.id = c.id_b
        |WHERE levenshtein(ta.nm, tb.nm) <= 1""".stripMargin),
    GateRow("p_ngram_novelty", ((s, dir) =>
      // boilerplate-vs-original quality cut: share of each doc's distinct
      // 3-shingles appearing in no other document
      pipeline.Text.ngramNovelty(load(s, dir, "documents"), "doc_id", "text")),
      s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
         |s0 AS (SELECT doc_id, $SH3 AS sh FROM t WHERE len(w) >= 3),
         |shg AS (SELECT DISTINCT doc_id, unnest(sh) AS g FROM s0),
         |dfq AS (SELECT g, COUNT(*) AS dfc FROM shg GROUP BY 1),
         |per AS (SELECT shg.doc_id, COUNT(*) AS n_shingles,
         |    CAST(SUM(CASE WHEN dfq.dfc = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_unique
         |  FROM shg JOIN dfq ON dfq.g = shg.g GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(COALESCE(per.n_shingles, 0) AS BIGINT) AS n_shingles,
         |  CAST(COALESCE(per.n_unique, 0) AS BIGINT) AS n_unique,
         |  ROUND(per.n_unique / per.n_shingles, 6) AS novelty
         |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id""".stripMargin),
    GateRow("p_tf_cosine", ((s, dir) =>
      // sparse bag-of-words similarity join: exact-integer dot/norms,
      // one cosine per surviving pair, stop terms cut at df > 200
      pipeline.Text.tfCosinePairs(load(s, dir, "documents"), "doc_id", "text",
        minCosine = 0.8, maxDocFreq = 200)),
      s"""WITH tf AS (SELECT doc_id AS id, tok, COUNT(*) AS c
         |  FROM (SELECT doc_id, unnest($W) AS tok FROM documents)
         |  GROUP BY 1, 2),
         |hot AS (SELECT tok FROM tf GROUP BY tok HAVING COUNT(*) > 200),
         |kept AS (SELECT tf.* FROM tf LEFT JOIN hot ON hot.tok = tf.tok
         |  WHERE hot.tok IS NULL),
         |norms AS (SELECT id, CAST(SUM(c * c) AS BIGINT) AS n2 FROM kept
         |  GROUP BY 1),
         |dots AS (SELECT a.id AS id_a, b.id AS id_b,
         |    CAST(SUM(a.c * b.c) AS BIGINT) AS dot
         |  FROM kept a JOIN kept b ON a.tok = b.tok AND a.id < b.id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, dot, ROUND(cos, 6) AS cosine FROM (
         |  SELECT d.id_a, d.id_b, d.dot,
         |    d.dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cos
         |  FROM dots d JOIN norms na ON na.id = d.id_a
         |  JOIN norms nb ON nb.id = d.id_b)
         |WHERE cos >= 0.8""".stripMargin),
    GateRow("p_cms_topk", ((s, dir) =>
      // Count-Min heavy hitters over the corpus vocabulary: 4x512
      // sketch, top-20 terms by estimate (collisions overestimate
      // deterministically; the oracle replays every counter)
      pipeline.Sketches.cmsTopK(
        load(s, dir, "documents")
          .select(explode(pipeline.Text.tokens(col("text"))).as("term")),
        "term", k = 20, depth = 4, width = 512)),
      {
        def bucket(key: String, row: String) = "(" + duckHex15(
          s"md5('42|' || CAST($row AS VARCHAR) || '|' || $key)") + ") % 512"
        s"""WITH occ AS (SELECT unnest($W) AS k FROM documents),
           |cells AS (SELECT r.i AS row, ${bucket("k", "r.i")} AS bucket,
           |    COUNT(*) AS cnt
           |  FROM occ, range(0, 4) r(i) GROUP BY 1, 2),
           |keys AS (SELECT DISTINCT k FROM occ),
           |kc AS (SELECT keys.k, r.i AS row, ${bucket("keys.k", "r.i")} AS bucket
           |  FROM keys, range(0, 4) r(i)),
           |est AS (SELECT kc.k, MIN(COALESCE(cells.cnt, 0)) AS est
           |  FROM kc LEFT JOIN cells
           |    ON cells.row = kc.row AND cells.bucket = kc.bucket
           |  GROUP BY 1)
           |SELECT k AS key, CAST(est AS BIGINT) AS est, CAST(rn AS BIGINT) AS rank
           |FROM (SELECT k, est,
           |    ROW_NUMBER() OVER (ORDER BY est DESC, k ASC) AS rn FROM est)
           |WHERE rn <= 20""".stripMargin
      }),
    GateRow("p_pack_windows", ((s, dir) =>
      // GPT-style concat-and-chunk packing: documents split across fixed
      // 512-token training windows via the same distributed prefix sum
      pipeline.Sampling.packContextWindows(
        pipeline.Text.tokenCount(load(s, dir, "documents"), "doc_id", "text"),
        "doc_id", "n_tokens", window = 512L)),
      s"""WITH t AS (SELECT doc_id, CAST(len($W) AS BIGINT) AS n_tokens FROM documents),
         |o AS (SELECT doc_id, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
         |  FROM t WHERE n_tokens > 0),
         |x AS (SELECT doc_id, n_tokens, off,
         |    unnest(range(off // 512, (off + n_tokens - 1) // 512 + 1)) AS wid
         |  FROM o)
         |SELECT doc_id, n_tokens, CAST(wid AS BIGINT) AS window_id,
         |  CAST(GREATEST(wid * 512, off) - off AS BIGINT) AS start_tok,
         |  CAST(LEAST((wid + 1) * 512, off + n_tokens)
         |    - GREATEST(wid * 512, off) AS BIGINT) AS n_tok
         |FROM x""".stripMargin),
    GateRow("p_sample_stratified", ((s, dir) =>
      pipeline.Sampling.stratifiedHashSample(load(s, dir, "documents"), "doc_id", "lang",
        fraction = 0.5)
        .select(col("doc_id"), col("lang"))),
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${duckHex4("md5('42|' || lang || '|' || CAST(doc_id AS VARCHAR))")} < 32768""".stripMargin),
    GateRow("p_mixture_sample", ((s, dir) => // data-mixing: per-source fractions;
      // src2 unlisted -> excluded by contract
      pipeline.Sampling.mixtureSample(load(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 0.75, "src1" -> 0.25))
        .select(col("doc_id"), col("source"))),
      s"""SELECT doc_id, source FROM documents
         |WHERE ${duckHex4("md5('42|' || source || '|' || CAST(doc_id AS VARCHAR))")}
         |  < CASE source WHEN 'src0' THEN 49152 WHEN 'src1' THEN 16384 END""".stripMargin),
    GateRow("p_importance_sample", ((s, dir) => // DSIR-style: keep ∝ weight,
      // expected mass 0.3·N; n_chars as the importance weight
      pipeline.Sampling.importanceSample(load(s, dir, "documents"),
        "doc_id", "n_chars", targetFraction = 0.3)
        .select(col("doc_id"), col("n_chars"))),
      // waterfilling k replayed over 2 renorm rounds
      s"""WITH z AS (SELECT SUM(CAST(n_chars AS DOUBLE)) AS zsum,
         |                  COUNT(*) AS n FROM documents),
         |k0 AS (SELECT (0.3 * n) AS t, ((0.3 * n) / zsum) AS k FROM z),
         |r1 AS (SELECT SUM(CASE WHEN CAST(d.n_chars AS DOUBLE) * k0.k >= 1.0
         |                       THEN 1.0 ELSE 0.0 END) AS c,
         |              SUM(CASE WHEN CAST(d.n_chars AS DOUBLE) * k0.k >= 1.0
         |                       THEN 0.0 ELSE CAST(d.n_chars AS DOUBLE) END) AS zu
         |       FROM documents d, k0),
         |k1 AS (SELECT k0.t, CASE WHEN r1.zu > 0.0 AND k0.t > r1.c
         |                         THEN (k0.t - r1.c) / r1.zu ELSE k0.k END AS k
         |       FROM k0, r1),
         |r2 AS (SELECT SUM(CASE WHEN CAST(d.n_chars AS DOUBLE) * k1.k >= 1.0
         |                       THEN 1.0 ELSE 0.0 END) AS c,
         |              SUM(CASE WHEN CAST(d.n_chars AS DOUBLE) * k1.k >= 1.0
         |                       THEN 0.0 ELSE CAST(d.n_chars AS DOUBLE) END) AS zu
         |       FROM documents d, k1),
         |k2 AS (SELECT CASE WHEN r2.zu > 0.0 AND k1.t > r2.c
         |                   THEN (k1.t - r2.c) / r2.zu ELSE k1.k END AS k
         |       FROM k1, r2)
         |SELECT doc_id, n_chars FROM documents, k2
         |WHERE ${duckHex4("md5('42|' || CAST(doc_id AS VARCHAR))")}
         |  < least(1.0, k2.k * CAST(n_chars AS DOUBLE)) * 65536.0""".stripMargin),
    GateRow("p_bigram_lm", ((s, dir) => // corpus-trained bigram LM quality score
      pipeline.Text.bigramLmScore(load(s, dir, "documents"), "doc_id", "text",
        alpha = 0.5)),
      s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
         |b AS (SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]) AS bg FROM t),
         |c2 AS (SELECT bg, count(*) AS c2 FROM b GROUP BY 1),
         |c1 AS (SELECT string_split(bg, ' ')[1] AS w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
         |vv AS (SELECT count(*) AS v FROM c1),
         |s AS (SELECT b.doc_id, ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * vv.v)) AS lp
         |      FROM b JOIN c2 USING (bg)
         |      JOIN c1 ON string_split(b.bg, ' ')[1] = c1.w1 CROSS JOIN vv),
         |a AS (SELECT doc_id, count(*) AS n_bigrams, avg(lp) AS sc FROM s GROUP BY 1)
         |SELECT d.doc_id, CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  ROUND(COALESCE(a.sc, 0.0), 4) AS lm_score
         |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin),
    GateRow("p_dsir", ((s, dir) => // DSIR importance weights: hashed-bigram
      // target-vs-raw log-likelihood ratio (target = the 'en' slice);
      // rank/resample on log_weight downstream
      pipeline.Text.dsirWeights(load(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", buckets = 1024, alpha = 0.5)),
      // DSIR replay: hashed-bigram buckets (60-bit md5 fraction mod 1024),
      // add-0.5 smoothed target/raw bucket estimates, per-doc n·log-ratio sum
      {
        val hb = duckHex15("md5(bg)")
        s"""WITH t AS (SELECT doc_id, (lang = 'en') AS tgt, $W AS w FROM documents),
           |b AS (SELECT doc_id, tgt, unnest([array_to_string(w[i:i+1], ' ')
           |    for i in range(1, len(w))]) AS bg FROM t),
           |db AS (SELECT doc_id, tgt, ($hb) % 1024 AS bk, count(*) AS n
           |  FROM b GROUP BY 1, 2, 3),
           |hist AS (SELECT bk, SUM(CASE WHEN tgt THEN n ELSE 0 END) AS ct,
           |    SUM(n) AS cr FROM db GROUP BY 1),
           |tot AS (SELECT CAST(SUM(ct) AS DOUBLE) AS nt,
           |    CAST(SUM(cr) AS DOUBLE) AS nr FROM hist),
           |sc AS (SELECT db.doc_id, SUM(db.n) AS nb,
           |    SUM(db.n * (ln((hist.ct + 0.5) / (tot.nt + 512.0)) -
           |      ln((hist.cr + 0.5) / (tot.nr + 512.0)))) AS s
           |  FROM db JOIN hist ON hist.bk = db.bk CROSS JOIN tot GROUP BY 1)
           |SELECT d.doc_id, CAST(COALESCE(sc.nb, 0) AS BIGINT) AS n_bigrams,
           |  ROUND(COALESCE(sc.s, 0.0), 6) AS log_weight
           |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin
      }),
    GateRow("p_shuffle", ((s, dir) => // deterministic pre-training shuffle:
      // shard = 60-bit md5 draw mod 8, pos = (draw, id) rank in shard —
      // no global sort, no RNG state; the draw IS the shuffle order
      pipeline.Sampling.shuffleShards(load(s, dir, "documents"), "doc_id",
        numShards = 8)),
      // 60-bit md5 draw: shard = draw % 8, pos = (draw, id) rank per shard
      {
        val h = duckHex15("md5('42|' || CAST(doc_id AS VARCHAR))")
        s"""WITH h AS (SELECT doc_id, ($h) AS hv FROM documents)
           |SELECT doc_id, CAST(hv % 8 AS INT) AS shard,
           |  CAST(ROW_NUMBER() OVER (PARTITION BY hv % 8
           |    ORDER BY hv, doc_id) - 1 AS BIGINT) AS pos
           |FROM h""".stripMargin
      }),
    GateRow("p_hash_split", ((s, dir) => // deterministic train/val/test split:
      // 16-bit md5 fraction of (seed, id) against cumulative thresholds
      // (name order) — stable under corpus growth, unlike modulo splits
      pipeline.Sampling.hashSplit(load(s, dir, "documents"), "doc_id",
        Map("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))),
      // 16-bit md5 split draw vs cumulative name-order thresholds:
      // test 6554, train 6554+52429=58983, val absorbs the tail
      s"""SELECT doc_id, CASE
         |  WHEN (${duckHex4("md5('42|' || CAST(doc_id AS VARCHAR))")}) < 6554
         |    THEN 'test'
         |  WHEN (${duckHex4("md5('42|' || CAST(doc_id AS VARCHAR))")}) < 58983
         |    THEN 'train'
         |  ELSE 'val' END AS split
         |FROM documents""".stripMargin),
    GateRow("p_budget_select", ((s, dir) => // per-language token-budget prefix
      // cut: rank by (n_chars desc, doc_id), keep while the running sum
      // stays within 20k chars — the data-mixing selection step
      pipeline.Sampling.budgetSelect(load(s, dir, "documents"), "doc_id",
        "lang", "n_chars", "n_chars", budgetPerGroup = 20000L)),
      // prefix-cut budget selection: biggest docs first, running sum caps
      // each language at 20k chars
      """WITH r AS (SELECT doc_id, lang, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id ASC) AS rank,
        |    SUM(n_chars) OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, CAST(rank AS BIGINT) AS rank,
        |  CAST(cum AS BIGINT) AS cum_tokens
        |FROM r WHERE cum <= 20000""".stripMargin),
    GateRow("p_vocab_oov", ((s, dir) => // top-100 vocabulary, per-doc OOV rate
      pipeline.Text.vocabOovRate(load(s, dir, "documents"), "doc_id", "text",
        vocabSize = 100)),
      s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
         |tk AS (SELECT doc_id, unnest(w) AS tok FROM t),
         |cnt AS (SELECT tok, count(*) AS tc FROM tk GROUP BY 1),
         |voc AS (SELECT tok FROM cnt ORDER BY tc DESC, tok ASC LIMIT 100),
         |r AS (SELECT tk.doc_id, count(*) AS n_tokens,
         |        avg(CASE WHEN voc.tok IS NULL THEN 1.0 ELSE 0.0 END) AS orate
         |      FROM tk LEFT JOIN voc ON tk.tok = voc.tok GROUP BY 1)
         |SELECT d.doc_id, CAST(COALESCE(r.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  ROUND(COALESCE(r.orate, 0.0), 4) AS oov_rate
         |FROM documents d LEFT JOIN r USING (doc_id)""".stripMargin),
    GateRow("p_nb_classifier", ((s, dir) => // fastText-style curation gate as
      // closed-form multinomial NB: md5 75/25 split, fixed-point 1e-6
      // log-likelihoods so the per-doc sum is an exact integer — the
      // oracle retrains and rescores bit-identically in SQL. (The
      // synthetic corpus's langs share one vocabulary, so accuracy sits
      // near the class prior — the gate checks the exact train/score
      // pipeline, not model quality; ClassifySpec shows 100% on a
      // separable corpus.)
      pipeline.Classify.naiveBayesTrainPredict(load(s, dir, "documents"),
        "doc_id", "text", "lang", trainFraction = 0.75, seed = 42L)),
      // full NB retrain + rescore in SQL: md5 75/25
      // split, Laplace (n+1)/(tot+V), fixed-point micro-nat BIGINT sums
      s"""WITH tr AS (SELECT doc_id, lang, text FROM documents
         |  WHERE ${duckHex4("md5('42|' || CAST(doc_id AS VARCHAR))")} < 49152),
         |te AS (SELECT doc_id, text FROM documents
         |  WHERE NOT (${duckHex4("md5('42|' || CAST(doc_id AS VARCHAR))")} < 49152)),
         |tt AS (SELECT lang AS c, unnest($W) AS tok FROM tr),
         |tc AS (SELECT tok, c, COUNT(*) AS n FROM tt GROUP BY 1, 2),
         |ct AS (SELECT c, SUM(n) AS tot FROM tc GROUP BY 1),
         |vv AS (SELECT COUNT(DISTINCT tok) AS v FROM tc),
         |pr AS (SELECT dc.c,
         |    CAST(ROUND(LN(CAST(dc.n AS DOUBLE) / (SELECT COUNT(*) FROM tr)) * 1e6) AS BIGINT) AS fp_prior,
         |    CAST(ROUND(LN(1.0 / CAST(ct.tot + (SELECT v FROM vv) AS DOUBLE)) * 1e6) AS BIGINT) AS fp_unseen
         |  FROM (SELECT lang AS c, COUNT(*) AS n FROM tr GROUP BY 1) dc
         |  JOIN ct ON ct.c = dc.c),
         |md AS (SELECT tc.tok, tc.c,
         |    CAST(ROUND(LN(CAST(tc.n + 1 AS DOUBLE) / CAST(ct.tot + (SELECT v FROM vv) AS DOUBLE)) * 1e6) AS BIGINT) AS fp
         |  FROM tc JOIN ct ON ct.c = tc.c),
         |tk AS (SELECT doc_id AS d, unnest($W) AS tok FROM te),
         |pc AS (SELECT tk.d, pr.c, SUM(COALESCE(md.fp, pr.fp_unseen)) AS s
         |  FROM tk CROSS JOIN pr LEFT JOIN md ON md.tok = tk.tok AND md.c = pr.c
         |  GROUP BY 1, 2),
         |al AS (SELECT te.doc_id AS d, pr.c,
         |    CAST(COALESCE(pc.s, 0) + pr.fp_prior AS BIGINT) AS score
         |  FROM te CROSS JOIN pr LEFT JOIN pc ON pc.d = te.doc_id AND pc.c = pr.c)
         |SELECT d AS doc_id, c AS predicted, score FROM (
         |  SELECT d, c, score,
         |    ROW_NUMBER() OVER (PARTITION BY d ORDER BY score DESC, c ASC) AS rn
         |  FROM al) WHERE rn = 1""".stripMargin),
    GateRow("p_semantic_dedup", ((s, dir) => // SemDeDup: IVF cells + within-cell cosine
      pipeline.Dedup.semanticDedup(load(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.4, nlist = 8, lloydIters = 1)),
      semanticDedupSql(0.4, 8, 1)),
    GateRow("p_dup_spans", ((s, dir) => // cross-doc duplicated 3-token spans
      pipeline.Text.dupSpans(load(s, dir, "documents"), "doc_id", "text",
        n = 3, minDocs = 2)),
      s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
         |s AS (SELECT doc_id, unnest($SH3) AS sh FROM t WHERE len(w) >= 3)
         |SELECT md5(sh) AS span_h,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_occ,
         |  MIN(doc_id) AS first_doc
         |FROM s GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""".stripMargin),
    GateRow("p_dup_spans_maximal", ((s, dir) => // EXACT maximal repeats: capped
      // 4-token seed buckets + per-pair longest-common-extension; lengths
      // exact with no quantization, oracle replays every stage
      pipeline.Text.dupSpansMaximal(load(s, dir, "documents"), "doc_id",
        "text", seedTokens = 4, maxBucket = 256)),
      dupSpansMaximalSql(seedTokens = 4, maxBucket = 256)),
    GateRow("p_cut_dup_spans", ((s, dir) => // the cut half: corpus rebuilt with
      // every maximal-span occurrence removed except the globally first
      // (smallest (doc, pos) per span text) — oracle replays the winner
      // rule, the union-of-cuts removal, and the ordered rebuild
      pipeline.Text.cutDupSpans(load(s, dir, "documents"), "doc_id",
        "text", seedTokens = 4, maxBucket = 256)),
      cutDupSpansSql(seedTokens = 4, maxBucket = 256)),
    GateRow("p_top_ngrams", ((s, dir) => // corpus boilerplate mining: top bigrams
      pipeline.Text.topNgrams(load(s, dir, "documents"), "doc_id", "text",
        n = 2, k = 50)),
      s"""WITH t AS (SELECT doc_id, $W AS w FROM documents),
         |s AS (SELECT doc_id,
         |    unnest([array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]) AS ngram
         |  FROM t),
         |c AS (SELECT ngram, CAST(count(*) AS BIGINT) AS n_occ,
         |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |  FROM s GROUP BY 1),
         |top AS (SELECT * FROM c ORDER BY n_occ DESC, ngram ASC LIMIT 50)
         |SELECT ngram, n_occ, n_docs,
         |  CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, ngram ASC) AS INT) AS "rank"
         |FROM top""".stripMargin)
  )
}
