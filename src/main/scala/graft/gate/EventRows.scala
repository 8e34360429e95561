package graft
package gate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import GateFixtures._

/** Event-analytics gate rows (`e_`): batch event operators and their
 * streaming replays, which run to completion and share the batch oracle. */
object EventRows {

  // Rows whose oracle a twin reuses: a forced-distributed path, an
  // alternate source or a streaming replay of the same operator.
  private val eWindowAgg = GateRow("e_window_agg", ((s, dir) =>
      pipeline.Events.hourlyAgg(load(s, dir, "events"))),
      """SELECT event_type,
        |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS window_start,
        |  count(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin)

  private val eRangeJoin = GateRow("e_range_join", ((s, dir) => {
      // bucketized point-in-interval join:
      // purchases inside each user's 10-min error windows — an EQUI-join
      // on (user, hour-bucket) with the range predicate as residual,
      // never a nested loop
      val ev = load(s, dir, "events")
      val pts = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val startMs = pipeline.Events.tsMillis(ev)
      val iv = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id"),
          timestamp_millis(startMs).as("w_start"),
          timestamp_millis(startMs + 1800000L).as("w_end"))
      pipeline.Events.rangeJoin(pts, iv, Seq("user_id"), "ts",
          "w_start", "w_end", rightCols = Seq("event_id"), prefix = "err_")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("err_event_id").as("error_id"))
    }),
      rangeJoinSql)

  val rows: Seq[GateRow] = Seq(
    // --- pipeline: events ---
    eWindowAgg,
    GateRow("e_sessionize", ((s, dir) =>
      pipeline.Events.sessionize(load(s, dir, "events"), gapMinutes = 30)
        .select(col("user_id"), col("session_idx").cast("long").as("session_idx"),
          col("n_events"), col("duration_ms"))),
      """WITH x AS (SELECT user_id, event_id, ts, epoch_ms(ts) AS ms,
        |  CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) > 1800000 THEN 1 ELSE 0 END AS nsess
        |  FROM events),
        |y AS (SELECT user_id, ms, SUM(nsess) OVER
        |  (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM x)
        |SELECT user_id, CAST(sess AS BIGINT) AS session_idx, count(*) AS n_events,
        |  CAST(MAX(ms) - MIN(ms) AS BIGINT) AS duration_ms
        |FROM y GROUP BY 1, 2""".stripMargin),
    GateRow("e_asof_attribution", ((s, dir) => { // each purchase -> the user's
      // latest view at or before it (one union+window pass, no range join)
      val ev0 = load(s, dir, "events")
      val ev = ev0.withColumn("ts_ms", pipeline.Events.tsMillis(ev0))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id"), col("ts_ms"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_ms"))
      pipeline.Events.asofJoin(purchases, views, Seq("user_id"),
          "ts_ms", "ts_ms", Seq("event_id", "ts_ms"), prefix = "view_")
        .select(col("event_id"), col("user_id"), col("view_event_id"),
          (col("ts_ms") - col("view_ts_ms")).as("gap_ms"))
    }),
      """WITH u AS (
        |  SELECT user_id, epoch_ms(ts) AS t, 0 AS side,
        |         event_id AS pid, epoch_ms(ts) AS pts, NULL AS lid
        |  FROM events WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, epoch_ms(ts), 1, NULL, NULL, event_id
        |  FROM events WHERE event_type = 'purchase'),
        |w AS (SELECT user_id, t, side, lid,
        |    last_value(pid IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY t, side, pid
        |       ROWS UNBOUNDED PRECEDING) AS vid,
        |    last_value(pts IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY t, side, pid
        |       ROWS UNBOUNDED PRECEDING) AS vts
        |  FROM u)
        |SELECT CAST(lid AS BIGINT) AS event_id, user_id,
        |  CAST(vid AS BIGINT) AS view_event_id,
        |  CAST(t - vts AS BIGINT) AS gap_ms
        |FROM w WHERE side = 1""".stripMargin),

    GateRow("e_asof_forward", ((s, dir) => { // each view -> the user's NEXT
      // purchase at-or-after it (forward as-of: same one-pass scan in
      // descending time order)
      val ev0 = load(s, dir, "events")
      val ev = ev0.withColumn("ts_ms", pipeline.Events.tsMillis(ev0))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_ms"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id"), col("ts_ms"))
      pipeline.Events.asofJoin(views, purchases, Seq("user_id"),
          "ts_ms", "ts_ms", Seq("event_id", "ts_ms"), prefix = "next_",
          direction = "forward")
        .select(col("event_id"), col("user_id"), col("next_event_id"),
          (col("next_ts_ms") - col("ts_ms")).as("gap_ms"))
    }),
      // forward as-of: identical scan in DESCENDING time — the running
      // last-ignore-nulls then carries the nearest LATER purchase
      """WITH u AS (
        |  SELECT user_id, epoch_ms(ts) AS t, 0 AS side,
        |         event_id AS pid, epoch_ms(ts) AS pts, NULL AS lid
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, epoch_ms(ts), 1, NULL, NULL, event_id
        |  FROM events WHERE event_type = 'view'),
        |w AS (SELECT user_id, t, side, lid,
        |    last_value(pid IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY t DESC, side, pid
        |       ROWS UNBOUNDED PRECEDING) AS nid,
        |    last_value(pts IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY t DESC, side, pid
        |       ROWS UNBOUNDED PRECEDING) AS nts
        |  FROM u)
        |SELECT CAST(lid AS BIGINT) AS event_id, user_id,
        |  CAST(nid AS BIGINT) AS next_event_id,
        |  CAST(nts - t AS BIGINT) AS gap_ms
        |FROM w WHERE side = 1""".stripMargin),

    // --- streaming (run to completion through a memory sink: the driver
    // gate then hash-checks streaming output against the BATCH oracle,
    // turning the unit-level batch-parity claim into an oracled row) ---
    GateRow("e_stream_range_join", ((s, dir) => {
      // the SAME rangeJoin operator composed with a STREAMING points
      // side: stream-static inner equi-join on (user, bucket) — stateless
      // (no watermark, no join buffer), so the finite replay equals the
      // batch row and shares its oracle.
      val ev = load(s, dir, "events")
      val startMs = pipeline.Events.tsMillis(ev)
      val iv = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id"),
          timestamp_millis(startMs).as("w_start"),
          timestamp_millis(startMs + 1800000L).as("w_end"))
      val pts = streaming.EventStreams.readEvents(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val out = pipeline.Events.rangeJoin(pts, iv, Seq("user_id"), "ts",
          "w_start", "w_end", rightCols = Seq("event_id"), prefix = "err_")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("err_event_id").as("error_id"))
      drainToMemory(out, "graft_stream_rangejoin", "append")
    }),
      // stateless stream-static join: finite replay == the batch rangeJoin
      eRangeJoin.oracle, isolated = true),
    GateRow("e_stream_cms", ((s, dir) => {
      // streaming heavy hitters with BOUNDED state: the Count-Min counter
      // table is the streaming aggregate (state <= depth x width cells
      // FOREVER, however many distinct keys flow past — the sketch
      // contract), run to completion; the deterministic batch finisher
      // reads estimates for the observed key set
      val counters = pipeline.Sketches.cmsCounters(
        streaming.EventStreams.readEvents(s, dir).select(col("event_type")),
        "event_type", depth = 4, width = 64)
      val table = drainToMemory(counters, "graft_stream_cms", "complete")
      pipeline.Sketches.cmsEstimate(table,
        load(s, dir, "events").select(col("event_type")), "event_type",
        depth = 4, width = 64)
    }),
      {
        def bucket(key: String, row: String) = "(" + duckHex15(
          s"md5('42|' || CAST($row AS VARCHAR) || '|' || $key)") + ") % 64"
        s"""WITH occ AS (SELECT event_type AS k FROM events
           |  WHERE event_type IS NOT NULL),
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
           |SELECT k AS key, CAST(est AS BIGINT) AS est FROM est""".stripMargin
      }, isolated = true),
    GateRow("e_stream_window", ((s, dir) => {
      val stream = streaming.EventStreams.hourlyAggStream(
        streaming.EventStreams.readEvents(s, dir),
        watermark = "0 seconds", complete = true)
      drainToMemory(stream, "graft_stream_window", "complete")
        .select(col("event_type"), col("window_start"), col("n_events"), col("sum_value"))
    }),
      // the streaming forms are checked against the BATCH oracles — that IS
      // the parity claim (same results, incremental execution)
      eWindowAgg.oracle, isolated = true),
    GateRow("e_funnel", ((s, dir) => // view→click→purchase within one week of
      // the first view; per-step min-match chaining, exact counts, one
      // float division per row
      pipeline.Events.funnel(load(s, dir, "events"),
          Seq("view", "click", "purchase"), windowMinutes = 10080)
        .select(col("step"), col("event_type"), col("n_users"),
          round(col("conversion"), 6).as("conversion"))),
      """WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |s1 AS (SELECT user_id, MIN(ms) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ms) AS t2, MIN(s1.t1) AS t1
        |  FROM ev e JOIN s1 ON s1.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ms >= s1.t1
        |    AND e.ms <= s1.t1 + 604800000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ms) AS t3
        |  FROM ev e JOIN s2 ON s2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ms >= s2.t2
        |    AND e.ms <= s2.t1 + 604800000 GROUP BY 1),
        |n AS (SELECT (SELECT count(*) FROM s1) AS n1,
        |             (SELECT count(*) FROM s2) AS n2,
        |             (SELECT count(*) FROM s3) AS n3)
        |SELECT CAST(1 AS INT) AS step, 'view' AS event_type, n1 AS n_users,
        |  ROUND(CAST(n1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS conversion FROM n
        |UNION ALL SELECT 2, 'click', n2,
        |  ROUND(CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) FROM n
        |UNION ALL SELECT 3, 'purchase', n3,
        |  ROUND(CAST(n3 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) FROM n""".stripMargin),
    GateRow("e_cohort", ((s, dir) => // epoch-week cohort retention: exact
      // integer week math, no calendar dependency
      pipeline.Events.cohortRetention(load(s, dir, "events"))),
      """WITH ev AS (SELECT user_id, epoch_ms(ts) // 604800000 AS wk FROM events),
        |c AS (SELECT user_id, MIN(wk) AS cw FROM ev GROUP BY 1)
        |SELECT cw AS cohort_week, wk - cw AS week_offset,
        |  count(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin),
    GateRow("e_paths", ((s, dir) => // top-12 session paths: first 5 event types
      // per 30-min-gap session, '>'-joined; (count desc, path asc) cut
      pipeline.Events.topPaths(load(s, dir, "events"), gapMinutes = 30,
        maxSteps = 5, k = 12)),
      // same sessionize rule as e_sessionize, path assembled by
      // string_agg ORDER BY the in-session rank; (count desc, path asc)
      // is a total order so the LIMIT cut is unambiguous on both sides
      """WITH x AS (SELECT user_id, event_id, ts, event_type,
        |  CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) > 1800000 THEN 1 ELSE 0 END AS nsess
        |  FROM events),
        |y AS (SELECT user_id, event_type, ts, event_id, SUM(nsess) OVER
        |  (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM x),
        |z AS (SELECT user_id, sess, event_type, ROW_NUMBER() OVER
        |  (PARTITION BY user_id, sess ORDER BY ts, event_id) AS rn FROM y),
        |p AS (SELECT user_id, sess,
        |    string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM z WHERE rn <= 5 GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions FROM p
        |GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 12""".stripMargin),
    GateRow("e_attribution_linear", ((s, dir) => // equal-split multi-touch:
      // each purchase spreads 1 unit over the user's views in the prior
      // 12 h (inclusive bounds, ms floor); credit = sum of 1/n shares
      pipeline.Events.linearAttribution(load(s, dir, "events"),
        touchType = "view", convType = "purchase", windowMinutes = 720)),
      // equal-split attribution: same join + 1/n share sum, 4dp
      """WITH t AS (SELECT event_id, user_id, epoch_ms(ts) AS tms
        |  FROM events WHERE event_type = 'view'),
        |c AS (SELECT event_id AS cid, user_id, epoch_ms(ts) AS cms
        |  FROM events WHERE event_type = 'purchase'),
        |p AS (SELECT t.event_id, t.user_id, c.cid FROM t
        |  JOIN c ON c.user_id = t.user_id
        |  AND t.tms <= c.cms AND t.tms >= c.cms - 43200000),
        |n AS (SELECT cid, COUNT(*) AS n FROM p GROUP BY 1)
        |SELECT p.event_id, p.user_id,
        |  COUNT(*) AS n_conversions,
        |  ROUND(SUM(1.0 / n.n), 4) AS credit
        |FROM p JOIN n ON n.cid = p.cid
        |GROUP BY 1, 2""".stripMargin),
    GateRow("e_rfm", ((s, dir) => // RFM segmentation: exact integer metrics
      // (epoch-day recency, count, cent sum), quintile scores, user_id
      // tie-break — deterministic under any partitioning
      pipeline.Events.rfm(load(s, dir, "events"), buckets = 5)
        .select(col("user_id"), col("recency_day"), col("frequency"),
          col("monetary_cents"), col("r").cast("long").as("r"),
          col("f").cast("long").as("f"), col("m").cast("long").as("m"))),
      // integer RFM metrics (cent sums — no order-dependent float adds),
      // ntile over the identical (metric desc, user_id) total order
      """WITH a AS (SELECT user_id,
        |    MAX(epoch_ms(ts)) // 86400000 AS recency_day,
        |    COUNT(*) AS frequency,
        |    CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
        |  FROM events GROUP BY 1)
        |SELECT user_id, recency_day, frequency, monetary_cents,
        |  CAST(NTILE(5) OVER (ORDER BY recency_day DESC, user_id) AS BIGINT) AS r,
        |  CAST(NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS BIGINT) AS f,
        |  CAST(NTILE(5) OVER (ORDER BY monetary_cents DESC, user_id) AS BIGINT) AS m
        |FROM a""".stripMargin),
    GateRow("e_markov", ((s, dir) => // first-order Markov transition matrix over
      // 30-min gap sessions: exact integer counts, one division per row
      pipeline.Events.transitionMatrix(load(s, dir, "events"), gapMinutes = 30)),
      """WITH x AS (SELECT user_id, event_id, ts, event_type,
        |  CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
        |    THEN 1 ELSE 0 END AS nsess
        |  FROM events),
        |y AS (SELECT user_id, event_id, ts, event_type, SUM(nsess) OVER
        |  (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
        |  AS sess FROM x),
        |pr AS (SELECT event_type AS src_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id, sess
        |      ORDER BY ts, event_id) AS dst_type
        |  FROM y),
        |cnt AS (SELECT src_type, dst_type, COUNT(*) AS n FROM pr
        |  WHERE dst_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT src_type, CAST(SUM(n) AS BIGINT) AS n_src FROM cnt
        |  GROUP BY 1)
        |SELECT cnt.src_type, cnt.dst_type, cnt.n, tot.n_src,
        |  ROUND(cnt.n / tot.n_src, 6) AS p
        |FROM cnt JOIN tot ON tot.src_type = cnt.src_type""".stripMargin),
    GateRow("e_copurchase", ((s, dir) => // item-item collaborative filtering:
      // top-3 "also bought" per part from order-basket co-occurrence
      pipeline.Recommend.alsoBought(
        pipeline.Recommend.coOccurrence(load(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", maxBasket = 100), k = 3)),
      """WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |kept AS (SELECT b FROM it GROUP BY b HAVING COUNT(*) <= 100),
        |pr AS (SELECT x.i AS item_a, y.i AS item_b, COUNT(*) AS n
        |  FROM it x JOIN it y ON x.b = y.b AND x.i < y.i
        |  JOIN kept k ON k.b = x.b GROUP BY 1, 2),
        |bo AS (SELECT item_a AS item, item_b AS also_bought, n FROM pr
        |  UNION ALL SELECT item_b, item_a, n FROM pr)
        |SELECT item, also_bought, n AS n_baskets, CAST(rn AS BIGINT) AS rank
        |FROM (SELECT item, also_bought, n,
        |    ROW_NUMBER() OVER (PARTITION BY item
        |      ORDER BY n DESC, also_bought ASC) AS rn FROM bo)
        |WHERE rn <= 3""".stripMargin),
    eRangeJoin,
    GateRow("e_stream_funnel", ((s, dir) => {
      // conversion tracking in a stream: 3-long state per user, emits a
      // row the moment the final step matches; equals the batch funnel's
      // converted users under in-order arrival (one file = one in-order
      // batch here; the oracle is the batch s1→s2→s3 chain)
      val stream = streaming.EventStreams.funnelStream(
          streaming.EventStreams.readEvents(s, dir),
          Seq("view", "click", "purchase"), windowMinutes = 10080)
      drainToMemory(stream, "graft_stream_funnel", "append")
        .select(col("user_id"), col("anchor_ms"), col("converted_ms"),
          col("duration_ms"))
    }),
      """WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |s1 AS (SELECT user_id, MIN(ms) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ms) AS t2, MIN(s1.t1) AS t1
        |  FROM ev e JOIN s1 ON s1.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ms >= s1.t1
        |    AND e.ms <= s1.t1 + 604800000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ms) AS t3, MIN(s2.t1) AS t1
        |  FROM ev e JOIN s2 ON s2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ms >= s2.t2
        |    AND e.ms <= s2.t1 + 604800000 GROUP BY 1)
        |SELECT user_id, t1 AS anchor_ms, t3 AS converted_ms,
        |  t3 - t1 AS duration_ms FROM s3""".stripMargin, isolated = true),
    GateRow("e_stream_topk", ((s, dir) => {
      // windowed heavy hitters: streaming per-hour (type, user) counts run
      // to completion, then the deterministic batch finisher cuts top-3
      // per (window, type) — count desc, user_id asc tie-break.
      val stream = streaming.EventStreams.userCountsStream(
        streaming.EventStreams.readEvents(s, dir), complete = true)
      val counts = drainToMemory(stream, "graft_stream_topk", "complete")
      streaming.EventStreams.topK(counts, 3)
        .select(col("window_start"), col("event_type"), col("user_id"),
          col("n_events"), col("rank").cast("long").as("rank"))
    }),
      """WITH c AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS window_start,
        |    event_type, user_id, count(*) AS n_events
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT window_start, event_type, user_id, n_events, rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start, event_type
        |    ORDER BY n_events DESC, user_id ASC) AS rank FROM c)
        |WHERE rank <= 3""".stripMargin, isolated = true),
    GateRow("e_stream_kmv_distinct", ((s, dir) => {
      // approximate distinct users per (hour, type) as ONE streaming
      // aggregation: O(k) KMV state per group (duplicate-insensitive
      // k-min buffer), no second stateful distinct; the (k-1)/h_k
      // estimate replays bit-identically from the md5 hashes
      val stream = streaming.EventStreams.kmvDistinctStream(
        streaming.EventStreams.readEvents(s, dir), k = 16, complete = true)
      drainToMemory(stream, "graft_stream_kmv", "complete")
        .select(col("window_start"), col("event_type"),
          round(col("approx_distinct"), 4).as("approx_distinct"))
    }),
      // KMV replay: per (hour, type) the k-th smallest distinct 60-bit md5
      // fraction of user_id; estimate (k-1)/(h_k/2^60), exact count below k
      {
        val hv = duckHex15("md5(CAST(user_id AS VARCHAR))")
        s"""WITH h AS (
           |  SELECT DISTINCT strftime(date_trunc('hour', ts), '%Y-%m-%d %H')
           |      AS window_start,
           |    event_type, ($hv) AS hv
           |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
           |r AS (SELECT window_start, event_type, hv,
           |    ROW_NUMBER() OVER (PARTITION BY window_start, event_type
           |      ORDER BY hv) AS rn,
           |    COUNT(*) OVER (PARTITION BY window_start, event_type) AS nd
           |  FROM h)
           |SELECT window_start, event_type,
           |  ROUND(CASE WHEN nd < 16 THEN CAST(nd AS DOUBLE)
           |    ELSE 15.0 / (CAST(hv AS DOUBLE) / 1152921504606846976.0) END, 4)
           |    AS approx_distinct
           |FROM r WHERE rn = CASE WHEN nd < 16 THEN 1 ELSE 16 END""".stripMargin
      }, isolated = true),
    GateRow("e_stream_latest", ((s, dir) => {
      // CDC upsert view: keep-latest-per-user as one streaming
      // max(struct) aggregation, run to completion; oracle is the
      // batch argmax over (ts desc, event_id desc)
      val stream = streaming.EventStreams.latestPerKeyStream(
        streaming.EventStreams.readEvents(s, dir))
      drainToMemory(stream, "graft_stream_latest", "complete")
        .select(col("user_id"), col("last_ms"), col("last_event_id"),
          col("last_event_type"), col("last_value")) // raw parquet double:
          // both sides read the identical bits, no arithmetic — no rounding
    }),
      // keep-latest upsert view: batch argmax per user over the full-
      // precision (ts, event_id) order the stream's max(struct) follows
      """WITH r AS (SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type, value,
        |  ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |SELECT user_id, CAST(ms AS BIGINT) AS last_ms,
        |  event_id AS last_event_id, event_type AS last_event_type,
        |  value AS last_value
        |FROM r WHERE rn = 1""".stripMargin, isolated = true),
    GateRow("e_stream_anomaly", ((s, dir) => {
      // rate-spike detection: streaming hourly per-type counts run to
      // completion, then the exact-integer finisher flags windows whose
      // count beats 3/2 x the mean of the type's previous 3 observed
      // windows — n·3·2 > 3·Σprev, no float anywhere
      val stream = streaming.EventStreams.hourlyAggStream(
        streaming.EventStreams.readEvents(s, dir), complete = true)
      val counts = drainToMemory(stream, "graft_stream_anomaly", "complete")
      streaming.EventStreams.rateSpikes(counts, lookback = 3, num = 3L, den = 2L)
        .select(col("window_start"), col("event_type"), col("n_events"),
          col("prev_sum"), col("spike"))
    }),
      """WITH c AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS window_start,
        |    event_type, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT *,
        |    lag(n_events, 1) OVER w + lag(n_events, 2) OVER w
        |      + lag(n_events, 3) OVER w AS prev_sum
        |  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY window_start))
        |SELECT window_start, event_type, n_events, prev_sum,
        |  COALESCE(n_events * 6 > 3 * prev_sum, FALSE) AS spike
        |FROM l""".stripMargin, isolated = true),
    GateRow("e_stream_sessionize", ((s, dir) => {
      // stateful gap sessionization with NoTimeout: every session CLOSED
      // by a later event emits; each user's final session stays open in
      // state forever — so the deterministic output is the batch result
      // minus each user's last session, which the oracle states directly
      val stream = streaming.EventStreams.sessionizeStream(
          streaming.EventStreams.readEvents(s, dir), gapMinutes = 30,
          timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      drainToMemory(stream, "graft_stream_sessionize", "append")
        .select(col("user_id"), col("session_start_ms"),
          col("n_events"), col("duration_ms"))
    }),
      """WITH x AS (SELECT user_id, event_id, ts, epoch_ms(ts) AS ms,
        |  CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) > 1800000 THEN 1 ELSE 0 END AS nsess
        |  FROM events),
        |y AS (SELECT user_id, ms, SUM(nsess) OVER
        |  (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM x),
        |s AS (SELECT user_id, sess, CAST(MIN(ms) AS BIGINT) AS session_start_ms,
        |    count(*) AS n_events, CAST(MAX(ms) - MIN(ms) AS BIGINT) AS duration_ms
        |  FROM y GROUP BY 1, 2),
        |m AS (SELECT user_id, MAX(sess) AS last_sess FROM s GROUP BY 1)
        |SELECT s.user_id, s.session_start_ms, s.n_events, s.duration_ms
        |FROM s JOIN m ON m.user_id = s.user_id AND s.sess < m.last_sess""".stripMargin, isolated = true),
    GateRow("e_stream_dedup", ((s, dir) => {
      // dropDuplicatesWithinWatermark keeps an arbitrary first arrival, so
      // the oracle-safe output is the key columns themselves — the stream
      // must emit exactly the DISTINCT (user_id, event_type) pairs. The
      // watermark horizon must COVER the table's event-time span: a
      // 0-second watermark would match DISTINCT only while the file source
      // happens to deliver everything in one micro-batch — any future
      // multi-file/multi-batch read would re-emit batch-1 keys in batch 2
      val ev = streaming.EventStreams.readEvents(s, dir)
      val dd = streaming.EventStreams.dedupStream(ev,
        Seq("user_id", "event_type"), watermark = "365 days")
        .select(col("user_id"), col("event_type"))
      drainToMemory(dd, "graft_stream_dedup", "append")
    }),
      "SELECT DISTINCT user_id, event_type FROM events", isolated = true),
    GateRow("e_stream_segment_dedup", ((s, dir) => {
      // single-replay determinism: one micro-batch, so arrivals are the
      // (doc_id, pos)-sorted corpus and "first maxDupCount pass" is
      // exactly a row_number() predicate the oracle replays
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val schema = docs.schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val out = streaming.EventStreams.segmentDedupStream(
        stream, "doc_id", "text", windowWords = 4, maxDupCount = 2)
      drainToMemory(out, "graft_stream_segdedup", "append")
        .select(col("doc_id"), col("pos"), col("segment"), col("kept"))
    }),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |seg AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
        |          array_to_string(ws[(i-1)*4+1:i*4], ' ') AS segment
        |        FROM w, range(1, 100000) r(i) WHERE (i-1)*4 < len(ws))
        |SELECT doc_id, pos, segment,
        |  row_number() OVER (PARTITION BY segment ORDER BY doc_id, pos) <= 2 AS kept
        |FROM seg""".stripMargin, isolated = true),
    GateRow("e_stream_link_graph", ((s, dir) => {
      // the crawl→graph bridge on an UNBOUNDED page stream: linkGraph's
      // projection + explode are stateless, so the ONLY streaming state
      // is the running (src_host, dst_host) count table — bounded by
      // host-pair cardinality, never by pages crawled. Identical code to
      // the batch path (Web.linkGraph builds on a streaming frame
      // unchanged); a one-file replay is one micro-batch and complete
      // mode re-emits the table → equals p_host_graph row-for-row,
      // same oracle
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val out = pipeline.Web.linkGraph(pageFixtureCols(stream),
        "doc_id", "url", "html")
      drainToMemory(out, "graft_stream_linkgraph", "complete")
        .select(col("src_host"), col("dst_host"), col("n_links"))
    }),
      // same computation as p_host_graph — the streaming row replays the
      // one-file corpus as a single micro-batch, so complete-mode output
      // equals the batch host graph row-for-row
      PipelineRows.pHostGraph.oracle, isolated = true),
    GateRow("e_stream_incremental_dedup", ((s, dir) => {
      // steady-state streaming ingest: the corpus index (doc_id < 400) is
      // batch-built (in production: loaded from parquet); new docs
      // (doc_id >= 400) arrive as a stream and match via foreachBatch of
      // the BATCH incrementalNearDups. A single-file replay is one
      // micro-batch, so the streamed output equals p_incremental_dedup
      // row-for-row — same oracle SQL
      val docs = load(s, dir, "documents")
      val index = pipeline.Dedup.minhashIndex(
        docs.filter(col("doc_id") < 400), "doc_id", "text").persist()
      val schemaDocs = s.read.parquet(s"$dir/documents.parquet").schema
      // the gate row pins a FIXED-SIZE ingest batch (≤1000 docs, like
      // incdedup_grow's 100-doc staging) — a production stream sizes its
      // micro-batches the same way; the FULL ≥400 corpus path stays
      // covered by the batch twin p_incremental_dedup at every SF
      val stream = s.readStream.schema(schemaDocs)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .filter(col("doc_id") >= 400 && col("doc_id") < 1400)
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      var outSchema: org.apache.spark.sql.types.StructType = null
      val q = streaming.EventStreams.incrementalNearDupStream(
          stream, "doc_id", "text", index,
          (pairs, _) => { outSchema = pairs.schema; buf ++= pairs.collect() })
        .queryName("graft_stream_incdedup").start()
      q.processAllAvailable(); q.stop()
      index.unpersist(false)
      s.createDataFrame(s.sparkContext.parallelize(buf.toSeq, 1), outSchema)
    }),
      // single-file replay = one micro-batch, and the foreachBatch body IS
      // the batch operator — same oracle family, bounded to the gate row's
      // fixed-size ingest slice [400, 1400)
      incrementalDedupSqlTo(Some(1400L)), isolated = true),
    GateRow("e_stream_incdedup_grow", ((s, dir) => {
      // grow-mode streaming ingest: TWO deterministic micro-batches
      // (docs 400-449, then 450-499) against the corpus index (<400).
      // Batch 2 must also match batch 1's docs — the r9 cross-batch
      // blind window, now closed by appending each batch's fingerprints
      // to the live index after matching. The oracle replays both
      // batches: batch-1 rows match corpus + earlier-in-batch, batch-2
      // rows match corpus + ALL of batch 1 + earlier-in-batch.
      import s.implicits._
      val docs = load(s, dir, "documents")
      val index = pipeline.Dedup.minhashIndex(
        docs.filter(col("doc_id") < 400), "doc_id", "text").persist()
      // bounded driver staging: exactly the 100 docs with 400 <= id < 500
      // (fixed regardless of SF), fed as two MemoryStream batches
      val staged = docs.filter(col("doc_id") >= 400 && col("doc_id") < 500)
        .select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)].collect().sortBy(_._1)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
      var outSchema: org.apache.spark.sql.types.StructType = null
      val q = streaming.EventStreams.incrementalNearDupStream(
          in.toDF().toDF("doc_id", "text"), "doc_id", "text", index,
          (pairs, _) => { outSchema = pairs.schema; buf ++= pairs.collect() },
          growIndex = true)
        .queryName("graft_stream_incdedup_grow").start()
      val (b1, b2) = staged.partition(_._1 < 450)
      in.addData(b1.toSeq); q.processAllAvailable()
      in.addData(b2.toSeq); q.processAllAvailable()
      q.stop()
      index.unpersist(false)
      s.createDataFrame(s.sparkContext.parallelize(buf.toSeq, 1), outSchema)
    }),
      incrementalDedupGrowSql, isolated = true),
    GateRow("e_stream_ann_ingest", ((s, dir) => {
      // streaming ANN index ingest: two micro-batches of new vectors
      // (400-449, then 450-499; 400-419 re-ingests over the corpus
      // index) coded against the FROZEN model and appended to the live
      // index — newest row wins, so the grown index equals the
      // from-scratch index over corpus ∪ batches EXACTLY, and searching
      // it replays the p_ann_incremental oracle row-for-row
      import s.implicits._
      val emb = load(s, dir, "embeddings")
      // persisted 1-row model — see p_ann_pq_index (here it feeds the
      // corpus index, EVERY micro-batch's coding, modelParams and the
      // final search; unpersisted it re-ran the centroid+codebook aggs
      // per consumer)
      val model = pipeline.Similarity.ivfPqModel(emb, "vec_id", "embedding",
        nlist = 16, m = 8, ksub = 16).persist()
      val corpusIdx = pipeline.Similarity.ivfPqIndex(
        emb.filter(col("vec_id") < 420), "vec_id", "embedding", model)
        .localCheckpoint(true)
      // bounded driver staging: exactly the 100 vectors with id >= 400
      // (fixed regardless of SF), fed as two MemoryStream batches
      val staged = emb.filter(col("vec_id") >= 400)
        .select(col("vec_id").cast("long"), col("embedding"))
        .as[(Long, Seq[Float])].collect().sortBy(_._1)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
      var live: DataFrame = null
      val q = streaming.EventStreams.annIngestStream(
          in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
          model, corpusIdx, (idx, _) => live = idx)
        .queryName("graft_stream_ann_ingest").start()
      val (b1, b2) = staged.partition(_._1 < 450)
      in.addData(b1.toSeq); q.processAllAvailable()
      in.addData(b2.toSeq); q.processAllAvailable()
      q.stop()
      pipeline.Similarity.ivfPqSearchIndexed(
        emb.filter(col("vec_id") % 25 === 5), "vec_id", "embedding",
        model, live, k = 3, nprobe = 4, refineWith = Some(emb), refine = 10)
    }),
      // streaming ingest ≡ batch append ≡ from-scratch: the two-micro-batch
      // grown index serves identical results, so the oracle is the same
      // full-index replay
      PipelineRows.pAnnIncremental.oracle, isolated = true),
    GateRow("e_stream_enrich", ((s, dir) => {
      // stream-static broadcast enrichment (stateless — no watermark, no
      // join buffer) feeding a running per-nation aggregate in complete
      // mode; the finite replay equals the batch join+group the oracle
      // states
      val dim = load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val enriched = streaming.EventStreams.enrichStream(
        streaming.EventStreams.readEvents(s, dir), dim, "user_id", "c_custkey")
      val agg = enriched.groupBy(col("c_nationkey").as("nation_key"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      drainToMemory(agg, "graft_stream_enrich", "complete")
    }),
      """SELECT c.c_nationkey AS nation_key, count(*) AS n_events,
        |  ROUND(SUM(e.value), 4) AS sum_value
        |FROM events e JOIN customer c ON c.c_custkey = e.user_id
        |GROUP BY 1""".stripMargin, isolated = true),
    GateRow("e_stream_join", ((s, dir) => {
      // stream-stream interval join: purchases within 30 min of a click by
      // the same user; inner join output is watermark-independent, so the
      // finite replay equals the batch join the oracle states; the
      // partition count only shards (never changes) the inner-join output
      val stream = streaming.EventStreams.intervalJoinStream(
        streaming.EventStreams.readEvents(s, dir), "click", "purchase")
      drainToMemory(stream, "graft_stream_join", "append")
        .select(col("left_id").as("click_id"), col("right_id").as("purchase_id"),
          col("user_id"), col("lag_ms"))
    }),
      """SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id,
        |  epoch_ms(b.ts) - epoch_ms(a.ts) AS lag_ms
        |FROM events a JOIN events b ON b.user_id = a.user_id
        |WHERE a.event_type = 'click' AND b.event_type = 'purchase'
        |  AND epoch_ms(b.ts) - epoch_ms(a.ts) BETWEEN 0 AND 1800000""".stripMargin, isolated = true)
  )
}
