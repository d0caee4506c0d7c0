package graft
package queries

import graft.operators._
import org.apache.spark.sql.functions._
import Shared._

/** Query specs of the Analytics tier: event analytics and statistics:
  * sessions, funnels, retention, attribution, tests and intervals, and
  * sampling. */
private[graft] object AnalyticsQueries {
  def specs: Seq[QuerySpec] = Seq(
    // ── analytics: batch sessionization (gaps-and-islands) ───────────
    QuerySpec("q33_sessionize", (s, dir) => {
      val sess = Analytics.sessionize(T(s, dir, "events"), "user_id", "ts", 600L)
      Analytics.sessionStats(sess, "user_id", "ts")
        .select(col("user_id"), col("session_seq"),
          date_format(col("session_start"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").as("session_end"),
          col("events"))
        .orderBy("user_id", "session_seq")
    }, oracle = Some(
      """WITH marked AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    CASE WHEN date_diff('second',
        |        lag(CAST(ts AS TIMESTAMP)) OVER w, CAST(ts AS TIMESTAMP)) > 600
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM marked)
        |SELECT user_id, session_seq,
        |  strftime(min(ts), '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS session_start,
        |  strftime(max(ts), '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS session_end,
        |  count(*) AS events
        |FROM sessions GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin)),
    // ── analytics: tumbling event-time windows (batch) ───────────────
    QuerySpec("q34_windowed_counts", (s, dir) => {
      Analytics.windowedCounts(T(s, dir, "events"), "ts", "1 hour", Seq("event_type"))
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"))
        .orderBy("window_start", "event_type")
    }, oracle = Some(
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
        |    '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),
    // ── scale: salted two-phase aggregation (skew handling) ──────────
    QuerySpec("q35_salted_agg", (s, dir) => {
      Analytics.saltedCountSum(T(s, dir, "events"), Seq("event_type"), "value")
        .select(col("event_type"), col("n"), round(col("sum_value"), 2).as("sum_value"))
        .orderBy("event_type")
    }, oracle = Some(
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // ── scale: salted join equals plain join (skew fallback) ─────────
    QuerySpec("q42_salted_join", (s, dir) => {
      val li = T(s, dir, "lineitem").filter(col("l_orderkey") < 2000)
        .select("l_orderkey", "l_linenumber", "l_suppkey")
      val sup = T(s, dir, "supplier").select("s_suppkey", "s_name")
      Analytics.saltedJoin(li, sup.withColumnRenamed("s_suppkey", "l_suppkey"),
          Seq("l_suppkey"), saltBuckets = 8)
        .select("l_orderkey", "l_linenumber", "s_name")
        .orderBy("l_orderkey", "l_linenumber", "s_name")
    }, oracle = Some(
      """SELECT l_orderkey, l_linenumber, s_name
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE l_orderkey < 2000
        |ORDER BY l_orderkey, l_linenumber, s_name""".stripMargin)),
    // ── analytics: as-of join (point-in-time lookup) ─────────────────
    QuerySpec("q44_asof_join", (s, dir) => {
      val ev = T(s, dir, "events")
      // "profile updates": a sparse subset of events carries a new value
      val updates = ev.filter(col("event_id") % 37 === 0)
        .select(col("user_id"), col("ts").as("upd_ts"), col("value").as("upd_value"))
      val probes = ev.filter(col("event_id") % 5 === 0)
        .select("event_id", "user_id", "ts")
      Analytics.asofJoin(probes, updates, Seq("user_id"), "ts", "upd_ts", Seq("upd_value"))
        .select(col("event_id"), col("user_id"), col("upd_value"))
        .orderBy("event_id")
    }, oracle = Some(
      """WITH updates AS (
        |  SELECT user_id, ts AS upd_ts, value AS upd_value
        |  FROM events WHERE event_id % 37 = 0),
        |probes AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_id % 5 = 0)
        |SELECT p.event_id, p.user_id, u.upd_value
        |FROM probes p
        |ASOF LEFT JOIN updates u
        |  ON p.user_id = u.user_id AND p.ts >= u.upd_ts
        |ORDER BY p.event_id""".stripMargin)),
    // ── analytics: binned range join ─────────────────────────────────
    QuerySpec("q45_range_join", (s, dir) => {
      import s.implicits._
      val tiers = Seq(
        ("bronze", 0.0, 50000.0), ("silver", 50000.0, 150000.0),
        ("gold", 150000.0, 300000.0), ("platinum", 300000.0, 1000000.0))
        .toDF("tier", "lo", "hi")
      Analytics.rangeJoinBinned(
          T(s, dir, "orders").select("o_orderkey", "o_totalprice"),
          tiers, "o_totalprice", "lo", "hi", binWidth = 50000.0)
        .select("o_orderkey", "tier")
        .orderBy("o_orderkey")
    }, oracle = Some(
      """SELECT o_orderkey, t.tier
        |FROM orders JOIN (VALUES
        |  ('bronze', 0.0, 50000.0), ('silver', 50000.0, 150000.0),
        |  ('gold', 150000.0, 300000.0), ('platinum', 300000.0, 1000000.0))
        |  t(tier, lo, hi)
        |ON o_totalprice >= t.lo AND o_totalprice < t.hi
        |ORDER BY o_orderkey""".stripMargin)),
    // ── scale: deterministic stratified hash-sampling (oracle: the
    //    md5-prefix hash threshold replayed per stratum in SQL) ─────────
    QuerySpec("q47_hash_sample", (s, dir) => {
      Sampling.stratifiedHashSample(T(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
        .select("doc_id", "lang").orderBy("doc_id")
    }, oracle = Some(
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${h60Sql("doc_id::VARCHAR")} % 1000000 <
         |  CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000 ELSE 100000 END
         |ORDER BY doc_id""".stripMargin)),
    // ── scale: DSIR importance weights — hashed-bigram log-likelihood
    //    ratio of every doc against the src0 target sample (oracle: DuckDB
    //    replays bucket hashing, smoothing, and the bucket-sorted fold) ──
    QuerySpec("q91_importance_weights", (s, dir) => {
      val d = T(s, dir, "documents")
      // md5_60 here so the DuckDB oracle replays every bucket; production
      // default is xxhash64 (benchQueries measures that path, as q26/q36)
      Importance.importanceWeights(
          d.select("doc_id", "text"),
          d.filter(col("source") === "src0").select("text"),
          "doc_id", "text", buckets = 4096, alpha = 0.5, hashKind = "md5_60")
        .select(col("doc_id"), round(col("logw"), 6).as("logw"))
        .orderBy("doc_id")
    }, bench = Some((s, dir) => {
      // q91 benches the PRODUCTION xxhash64 feature hash (md5 is the
      // oracle-replay artifact — same convention as q26/q36 below)
      val d = T(s, dir, "documents")
      val raw = d.select("doc_id", "text")
      val target = d.filter(col("source") === "src0").select("text")
      () => Importance.importanceWeights(raw, target, "doc_id", "text",
          buckets = 4096, alpha = 0.5)
        .select(col("doc_id"), round(col("logw"), 6).as("logw"))
        .orderBy("doc_id")
    }), oracle = Some(
      """WITH toks AS (
        |  SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, source,
        |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS f
        |  FROM toks WHERE len(t) >= 2),
        |fb AS (SELECT doc_id, source,
        |    ('0x' || substr(md5(f), 1, 15))::UBIGINT % 4096 AS bucket FROM bg),
        |rc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr FROM fb GROUP BY 1),
        |tc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ct FROM fb
        |       WHERE source = 'src0' GROUP BY 1),
        |j AS (SELECT coalesce(rc.bucket, tc.bucket) AS bucket,
        |        coalesce(cr, 0) AS cr, coalesce(ct, 0) AS ct
        |      FROM rc FULL OUTER JOIN tc ON rc.bucket = tc.bucket),
        |tots AS (SELECT CAST(sum(ct) AS BIGINT) AS st, CAST(sum(cr) AS BIGINT) AS sr
        |         FROM j),
        |w AS (SELECT bucket,
        |        ln(ct + 0.5) - ln(st + 2048.0) - ln(cr + 0.5) + ln(sr + 2048.0) AS w
        |      FROM j, tots),
        |db AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
        |       FROM fb GROUP BY 1, 2),
        |sc AS (SELECT db.doc_id, db.bucket, db.cnt * w.w AS c
        |       FROM db JOIN w USING (bucket))
        |SELECT doc_id,
        |  round(list_reduce(list(c ORDER BY bucket), (a, b) -> a + b), 6) AS logw
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // ── scale: resample + forward-fill — per-user 6h grid over the event
    //    stream, last-in-bucket then ffill (oracle: DuckDB rebuilds the
    //    grid with generate_series-equivalent ranges and an
    //    ignore-nulls last_value window) ──────────────────────────────────
    QuerySpec("q95_resample_ffill", (s, dir) => {
      Analytics.resampleFfill(
          T(s, dir, "events").filter(col("user_id") < 40),
          Seq("user_id"), "ts", "value",
          stepMicros = 6L * 3600 * 1000000, orderCol = "event_id")
        .select(col("user_id"), col("bucket_ts"),
          round(col("value"), 6).as("value"), col("has_event"))
        .orderBy("user_id", "bucket_ts")
    }, oracle = Some(
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value, event_id
        |  FROM events WHERE user_id < 40),
        |b AS (SELECT user_id, us - us % 21600000000 AS b, us, value, event_id FROM e),
        |lst AS (
        |  SELECT user_id, b, value FROM (
        |    SELECT user_id, b, value, row_number()
        |      OVER (PARTITION BY user_id, b ORDER BY us DESC, event_id DESC) AS rn
        |    FROM b) WHERE rn = 1),
        |g AS (SELECT user_id, min(b) AS b0, max(b) AS b1 FROM b GROUP BY 1),
        |grid AS (SELECT user_id,
        |           unnest(range(b0, b1 + 21600000000, 21600000000)) AS b FROM g),
        |f AS (
        |  SELECT grid.user_id, grid.b, lst.value IS NOT NULL AS has_event,
        |    last_value(lst.value IGNORE NULLS)
        |      OVER (PARTITION BY grid.user_id ORDER BY grid.b
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
        |  FROM grid LEFT JOIN lst ON grid.user_id = lst.user_id AND grid.b = lst.b)
        |SELECT user_id, make_timestamp(b) AS bucket_ts, round(value, 6) AS value,
        |  has_event
        |FROM f ORDER BY user_id, bucket_ts""".stripMargin)),
    // ── scale: per-group percentile-rank normalization — score → its
    //    percentile within its source (oracle: DuckDB row_number + count
    //    windows, (pos−1)/(n−1)) ──────────────────────────────────────────
    // ── scale: ingest-volume anomaly monitor — daily counts vs trailing
    //    discrete median, full flagged report (oracle: DuckDB replays the
    //    count aggregate, the sorted window median, and the flags) ────────
    QuerySpec("q115_volume_anomalies", (s, dir) => {
      Analytics.volumeAnomalies(T(s, dir, "events"), "ts", "event_type",
          windowDays = 7)
        .orderBy("event_type", "day")
    }, oracle = Some(
      """WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |             event_type, count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |w AS (SELECT day, event_type, n,
        |        list_sort(list(n) OVER (PARTITION BY event_type ORDER BY day
        |                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
        |      FROM d),
        |m AS (SELECT day, event_type, n, arr[(len(arr) + 1) // 2] AS med FROM w)
        |SELECT day, event_type, CAST(n AS BIGINT) AS n,
        |  CAST(med AS BIGINT) AS med,
        |  round(CAST(n AS DOUBLE) / med, 6) AS ratio,
        |  (n > 2.0 * med OR n < 0.5 * med) AS is_anomaly
        |FROM m ORDER BY event_type, day""".stripMargin)),
    // ── scale: user-journey transition matrix — consecutive event-type
    //    pairs per user, row-normalized (oracle: DuckDB replays the keyed
    //    lag window and the normalization) ─────────────────────────────────
    QuerySpec("q114_transitions", (s, dir) => {
      Analytics.transitionMatrix(T(s, dir, "events"), "user_id", "ts",
          "event_type", "event_id")
        .orderBy("from_type", "to_type")
    }, oracle = Some(
      """WITH p AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT prev AS from_type, event_type AS to_type, count(*) AS n
        |      FROM p WHERE prev IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, CAST(n AS BIGINT) AS n,
        |  round(CAST(n AS DOUBLE) / tot, 6) AS p
        |FROM c JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin)),
    // ── scale: cohort retention matrix — first-touch weekly cohorts ×
    //    week offsets, integer-exact until one final division (oracle:
    //    DuckDB replays first-touch, distinct activity, and the matrix) ───
    QuerySpec("q112_cohort_retention", (s, dir) => {
      Analytics.cohortRetention(T(s, dir, "events"), "user_id", "ts")
        .orderBy("cohort_week", "week_offset")
    }, oracle = Some(
      """WITH fs AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
        |           FROM events GROUP BY 1),
        |act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events),
        |j AS (SELECT a.user_id, fs.cohort, a.week,
        |        CAST(date_diff('day', fs.cohort, a.week) // 7 AS BIGINT) AS off
        |      FROM act a JOIN fs USING (user_id)),
        |cnt AS (SELECT cohort, off, count(*) AS n_active FROM j GROUP BY 1, 2),
        |sz AS (SELECT cohort, count(*) AS n_cohort FROM fs GROUP BY 1)
        |SELECT CAST(cohort AS DATE) AS cohort_week, off AS week_offset,
        |  CAST(n_active AS BIGINT) AS n_active,
        |  CAST(n_cohort AS BIGINT) AS n_cohort,
        |  round(CAST(n_active AS DOUBLE) / n_cohort, 6) AS pct
        |FROM cnt JOIN sz USING (cohort)
        |ORDER BY cohort_week, week_offset""".stripMargin)),
    // ── scale: ordered funnel — users reaching each step strictly after
    //    their earliest prior-step completion (oracle: DuckDB replays the
    //    chained min-time semantics) ─────────────────────────────────────
    QuerySpec("q113_funnel", (s, dir) => {
      Analytics.funnel(T(s, dir, "events"), "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"))
        .orderBy("step_idx")
    }, oracle = Some(
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
        |SELECT * FROM (VALUES
        |  (0, 'view', (SELECT count(*) FROM s1)),
        |  (1, 'click', (SELECT count(*) FROM s2)),
        |  (2, 'purchase', (SELECT count(*) FROM s3))) AS t(step_idx, step, n_users)
        |ORDER BY step_idx""".stripMargin)),
    // ── scale: DAU/WAU stickiness — exact trailing-window distinct via
    //    the bounded day fan-out of the (day, user) frame (q111's rolling
    //    HLL is the sketch twin) (oracle: DuckDB replays days, fan-out,
    //    and both distincts) ───────────────────────────────────────────────
    QuerySpec("q165_stickiness", (s, dir) => {
      Analytics.stickiness(T(s, dir, "events"), "user_id", "ts",
          windowDays = 7)
        .select(col("day"), col("dau"), col("wau"),
          round(col("stickiness"), 6).as("stickiness"))
        .orderBy("day")
    }, oracle = Some(
      """WITH du AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day,
        |    user_id AS u FROM events),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
        |        FROM du GROUP BY 1),
        |f AS (SELECT DISTINCT day + i AS target, u FROM du
        |      CROSS JOIN (SELECT unnest(range(0, 7)) AS i)),
        |wau AS (SELECT target, CAST(count(*) AS BIGINT) AS wau
        |        FROM f GROUP BY 1)
        |SELECT dau.day AS day, dau.dau, wau.wau,
        |  round(CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE), 6)
        |    AS stickiness
        |FROM dau JOIN wau ON dau.day = wau.target ORDER BY day""".stripMargin)),
    // ── scale: per-key EWMA smoothing — the monitoring smoother over
    //    daily volumes, every step emitted from one deterministic fold
    //    (oracle: DuckDB replays the fold per prefix via list_reduce) ──────
    QuerySpec("q166_ewma", (s, dir) => {
      val daily = T(s, dir, "events")
        .select(col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("__us"))
        .withColumn("day", expr("__us DIV 86400000000"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      Analytics.ewmaPerKey(daily, "event_type", "day", "cnt", alpha = 0.3)
        .select(col("event_type"), col("day"), col("v"),
          round(col("ewma"), 6).as("ewma"))
        .orderBy("event_type", "day")
    }, oracle = Some(
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, list(day ORDER BY day) AS ds,
        |    list(CAST(cnt AS DOUBLE) ORDER BY day) AS xs FROM d GROUP BY 1)
        |SELECT event_type, unnest(ds) AS day, unnest(xs) AS v,
        |  unnest(list_transform(generate_series(1, len(xs)),
        |    i -> round(list_reduce(xs[1:i],
        |      (a, b) -> CAST(0.3 AS DOUBLE) * b + CAST(0.7 AS DOUBLE) * a),
        |      6))) AS ewma
        |FROM l ORDER BY event_type, day""".stripMargin)),
    // ── scale: CUSUM changepoint scores — integer-exact closed form
    //    (S = Y − min(0, running-min Y)), two window passes, no recursion
    //    (oracle: DuckDB replays both windows) ──────────────────────────────
    QuerySpec("q167_cusum", (s, dir) => {
      val daily = T(s, dir, "events")
        .select(col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("__us"))
        .withColumn("day", expr("__us DIV 86400000000"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      Analytics.cusum(daily, "event_type", "day", "cnt", k = 70L, h = 30L)
        .orderBy("event_type", "day")
    }, oracle = Some(
      """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
        |y AS (SELECT event_type, day, cnt,
        |    CAST(sum(cnt - 70) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS yy
        |  FROM d)
        |SELECT event_type, day, cnt,
        |  CAST(yy - least(min(yy) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
        |    AS BIGINT) AS cusum,
        |  (yy - least(min(yy) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)) > 30
        |    AS flagged
        |FROM y ORDER BY event_type, day""".stripMargin)),
    // ── scale: 2-D Pareto frontier — non-dominated rows via the
    //    distributed running-max sweep, never a one-task global window
    //    (oracle: DuckDB replays the preceding-max window) ─────────────────
    QuerySpec("q169_pareto_frontier", (s, dir) => {
      Analytics.paretoFrontier2D(
          T(s, dir, "part").select("p_partkey", "p_size", "p_retailprice"),
          "p_partkey", "p_size", "p_retailprice")
        .orderBy("p_partkey")
    }, oracle = Some(
      """WITH r AS (SELECT p_partkey, CAST(p_size AS DOUBLE) AS p_size,
        |    p_retailprice FROM part),
        |m AS (SELECT p_partkey, p_size, p_retailprice,
        |    max(p_retailprice) OVER (ORDER BY p_size DESC,
        |      p_retailprice DESC, p_partkey ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM r)
        |SELECT p_partkey, p_size, p_retailprice FROM m
        |WHERE pm IS NULL OR p_retailprice > pm ORDER BY p_partkey""".stripMargin)),
    // ── scale: Kish effective sample size per source — (Σw)²/Σw² on
    //    exact long token weights, the information-content readout behind
    //    weighted-mix decisions (oracle: DuckDB replays both sums and the
    //    divisions) ─────────────────────────────────────────────────────────
    QuerySpec("q171_effective_sample_size", (s, dir) => {
      val d = T(s, dir, "documents").select(col("source"),
        TextAnalysis.tokenCount(col("text")).as("w"))
      Sampling.effectiveSampleSize(d, "source", "w")
        .select(col("source"), col("n"), col("sum_w"), col("sum_w2"),
          round(col("ess"), 6).as("ess"),
          round(col("ess_ratio"), 6).as("ess_ratio"))
        .orderBy("source")
    }, oracle = Some(
      """WITH w AS (SELECT source,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
        |      AS w
        |  FROM documents),
        |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(w) AS BIGINT) AS sum_w,
        |    CAST(sum(w * w) AS BIGINT) AS sum_w2
        |  FROM w GROUP BY 1)
        |SELECT source, n, sum_w, sum_w2,
        |  round((CAST(sum_w AS DOUBLE) * CAST(sum_w AS DOUBLE))
        |    / CAST(sum_w2 AS DOUBLE), 6) AS ess,
        |  round(((CAST(sum_w AS DOUBLE) * CAST(sum_w AS DOUBLE))
        |    / CAST(sum_w2 AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS ess_ratio
        |FROM g ORDER BY source""".stripMargin)),
    // ── scale: exact tie-aware ROC-AUC — integer midrank machinery on the
    //    score-cardinality frame, distributed cumsum, one final division
    //    (oracle: DuckDB replays the q22 scorer, midranks, and the
    //    Mann-Whitney identity) ─────────────────────────────────────────────
    QuerySpec("q173_auc", (s, dir) => {
      val d = T(s, dir, "documents").select(
        round(TextAnalysis.qualityScore(col("text")), 6).as("score"),
        (col("lang") === "en").as("label"))
      Analytics.aucRoc(d, "score", "label")
        .select(col("n"), col("n_pos"), col("n_neg"),
          round(col("auc"), 6).as("auc"))
    }, oracle = Some(
      s"""WITH q AS (SELECT $qualitySql AS s, (lang = 'en') AS lbl
         |  FROM documents),
         |g AS (SELECT s, CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(sum(CASE WHEN lbl THEN 1 ELSE 0 END) AS BIGINT) AS pos
         |  FROM q GROUP BY 1),
         |c AS (SELECT s, cnt, pos,
         |    CAST(coalesce(sum(cnt) OVER (ORDER BY s ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cb
         |  FROM g),
         |t AS (SELECT CAST(sum(pos * (2 * cb + cnt + 1)) AS BIGINT) AS s2,
         |    CAST(sum(pos) AS BIGINT) AS np,
         |    CAST(sum(cnt - pos) AS BIGINT) AS nn
         |  FROM c)
         |SELECT np + nn AS n, np AS n_pos, nn AS n_neg,
         |  round(CASE WHEN np = 0 OR nn = 0 THEN NULL ELSE
         |    (CAST(s2 AS DOUBLE) - CAST(np * (np + 1) AS DOUBLE))
         |    / CAST(2 * np * nn AS DOUBLE) END, 6) AS auc
         |FROM t""".stripMargin)),
    // ── scale: calibration curve + ECE — per-confidence-bin predicted-vs-
    //    empirical rates with the n-weighted |gap| rollup (oracle: DuckDB
    //    replays the scorer, bins, sorted folds, and ECE) ──────────────────
    QuerySpec("q174_calibration", (s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("score"),
        (col("lang") === "en").as("label"))
      Analytics.calibrationCurve(d, "doc_id", "score", "label", bins = 10,
          deterministic = true)
        .select(col("bin"), col("n"), col("pos"),
          round(col("conf"), 6).as("conf"), round(col("acc"), 6).as("acc"),
          round(col("gap"), 6).as("gap"), round(col("ece"), 6).as("ece"))
        .orderBy("bin")
    }, oracle = Some(
      s"""WITH q AS (SELECT doc_id, $qualitySql AS s, (lang = 'en') AS lbl
         |  FROM documents),
         |b AS (SELECT doc_id, s, lbl,
         |    least(CAST(floor(s * CAST(10.0 AS DOUBLE)) AS BIGINT), 9) AS bin
         |  FROM q),
         |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN lbl THEN 1 ELSE 0 END) AS BIGINT) AS pos,
         |    list_reduce(list(s ORDER BY doc_id), (a, c) -> a + c) AS ssum
         |  FROM b GROUP BY 1),
         |nt AS (SELECT CAST(sum(n) AS BIGINT) AS ntot FROM g),
         |cur AS (SELECT bin, n, pos, ssum / CAST(n AS DOUBLE) AS conf,
         |    CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS acc FROM g),
         |e AS (SELECT list_reduce(
         |    list((CAST(n AS DOUBLE) / CAST(ntot AS DOUBLE)) * abs(acc - conf)
         |      ORDER BY bin), (a, c) -> a + c) AS ece
         |  FROM cur, nt)
         |SELECT bin, n, pos, round(conf, 6) AS conf, round(acc, 6) AS acc,
         |  round(abs(acc - conf), 6) AS gap, round(e.ece, 6) AS ece
         |FROM cur, e ORDER BY bin""".stripMargin)),
    // ── scale: per-group winsorization — clamp into exact order-statistic
    //    [p05, p95] bounds; comparisons only, no FP arithmetic (oracle:
    //    DuckDB replays the rank bounds and the clamp) ─────────────────────
    QuerySpec("q175_winsorize", (s, dir) => {
      Analytics.winsorizePerGroup(
          T(s, dir, "events").select(col("event_type"), col("event_id"),
            col("value")),
          "event_type", "event_id", "value", lo = 0.05, hi = 0.95)
        .orderBy("event_type", "event_id")
    }, oracle = Some(
      """WITH r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY value ASC, event_id ASC) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |b AS (SELECT event_type,
        |    min(CASE WHEN rk = greatest(1, CAST(ceil(
        |        CAST(0.05 AS DOUBLE) * n) AS BIGINT)) THEN value END) AS lo,
        |    min(CASE WHEN rk = greatest(1, CAST(ceil(
        |        CAST(0.95 AS DOUBLE) * n) AS BIGINT)) THEN value END) AS hi
        |  FROM r GROUP BY 1)
        |SELECT e.event_type, e.event_id, e.value,
        |  greatest(b.lo, least(b.hi, e.value)) AS winsorized
        |FROM events e JOIN b USING (event_type)
        |ORDER BY event_type, event_id""".stripMargin)),
    // ── scale: one-way ANOVA — does `value` genuinely differ across event
    //    types beyond within-group noise; sufficient statistics in one
    //    scan, sorted folds on the gate path (oracle: DuckDB replays both
    //    fold levels and the F chain) ──────────────────────────────────────
    QuerySpec("q179_anova", (s, dir) => {
      Analytics.anovaOneWay(
          T(s, dir, "events").select(col("event_type"), col("event_id"),
            col("value")),
          "event_type", "event_id", "value", deterministic = true)
        .select(col("k"), col("n"), round(col("ssb"), 6).as("ssb"),
          round(col("ssw"), 6).as("ssw"), col("df1"), col("df2"),
          round(col("f"), 6).as("f"))
    }, oracle = Some(
      """WITH b AS (SELECT CAST(event_type AS VARCHAR) AS g, event_id AS id,
        |    value AS v FROM events),
        |pg AS (SELECT g, CAST(count(*) AS BIGINT) AS ng,
        |    list_reduce(list(v ORDER BY id), (a, c) -> a + c) AS sx,
        |    list_reduce(list(v * v ORDER BY id), (a, c) -> a + c) AS sxx
        |  FROM b GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(ng) AS BIGINT) AS n,
        |    list_reduce(list(sx ORDER BY g), (a, c) -> a + c) AS s
        |  FROM pg),
        |gm AS (SELECT s / CAST(n AS DOUBLE) AS grand FROM tot),
        |terms AS (SELECT g,
        |    sxx - ((sx * sx) / CAST(ng AS DOUBLE)) AS sswg,
        |    CAST(ng AS DOUBLE) *
        |      ((sx / CAST(ng AS DOUBLE) - grand) *
        |       (sx / CAST(ng AS DOUBLE) - grand)) AS ssbg
        |  FROM pg, gm),
        |fs AS (SELECT
        |    list_reduce(list(sswg ORDER BY g), (a, c) -> a + c) AS ssw,
        |    list_reduce(list(ssbg ORDER BY g), (a, c) -> a + c) AS ssb
        |  FROM terms)
        |SELECT k, n, round(ssb, 6) AS ssb, round(ssw, 6) AS ssw,
        |  k - 1 AS df1, n - k AS df2,
        |  round(CASE WHEN k < 2 OR n <= k OR ssw = 0 THEN NULL
        |    ELSE (ssb / CAST(k - 1 AS DOUBLE)) /
        |         (ssw / CAST(n - k AS DOUBLE)) END, 6) AS f
        |FROM fs, tot""".stripMargin)),
    // ── scale: day-of-week seasonality index — the seasonal denominator a
    //    volume monitor divides by before alarming (q115's adjusted twin);
    //    integer epoch-day weekday, two-level sorted folds (oracle: DuckDB
    //    replays weekday arithmetic and both folds) ─────────────────────────
    QuerySpec("q182_dow_index", (s, dir) => {
      Analytics.dayOfWeekIndex(T(s, dir, "events"), "ts", "event_id",
          "value", deterministic = true)
        .select(col("dow"), col("n"), round(col("mean"), 6).as("mean"),
          round(col("idx"), 6).as("idx"))
        .orderBy("dow")
    }, bench = Some((s, dir) => {
      // q182/q184/q188/q189/q197/q198 bench the PRODUCTION path: plain
      // map-side-combined sums (the sorted folds exist so the SQL oracle
      // can replay the gate run bit-exactly)
      val ev = T(s, dir, "events")
      () => Analytics.dayOfWeekIndex(ev, "ts", "event_id", "value")
        .select(col("dow"), col("n"), round(col("mean"), 6).as("mean"),
          round(col("idx"), 6).as("idx"))
        .orderBy("dow")
    }), oracle = Some(
      """WITH b AS (SELECT
        |    CAST(((epoch_us(ts) // 86400000000 + 3) % 7 + 1) AS INT)
        |      AS dow,
        |    event_id AS id, value AS v FROM events),
        |pd AS (SELECT dow, CAST(count(*) AS BIGINT) AS n,
        |    list_reduce(list(v ORDER BY id), (a, c) -> a + c) AS s
        |  FROM b GROUP BY 1),
        |tot AS (SELECT list_reduce(list(s ORDER BY dow), (a, c) -> a + c)
        |      AS st,
        |    CAST(sum(n) AS BIGINT) AS nt FROM pd),
        |gm AS (SELECT st / CAST(nt AS DOUBLE) AS grand FROM tot)
        |SELECT dow, n, round(s / CAST(n AS DOUBLE), 6) AS mean,
        |  round((s / CAST(n AS DOUBLE)) / grand, 6) AS idx
        |FROM pd, gm ORDER BY dow""".stripMargin)),
    // ── scale: interval merge + coverage — per-user busy-time islands over
    //    [ts, ts + floor(value) minutes] spans; the gaps-and-islands sweep
    //    in the distributed-cumsum idiom (range exchange + per-(range, key)
    //    prefix-max/prefix-count offsets, never a corpus-wide per-key
    //    window). Integer micros end-to-end (oracle: DuckDB running-max
    //    window replay) ───────────────────────────────────────────────────
    QuerySpec("q183_interval_coverage", (s, dir) => {
      val ev = T(s, dir, "events")
      val sCol = unix_micros(col("ts").cast("timestamp"))
      val spans = ev.select(col("user_id"), sCol.as("s"),
        (sCol + greatest(lit(1.0), floor(col("value"))).cast("long") *
          lit(60000000L)).as("e"))
      Intervals.coverageReport(spans, "user_id", "s", "e")
        .orderBy("user_id")
    }, oracle = Some(
      """WITH b AS (SELECT user_id AS k, epoch_us(ts) AS s,
        |    epoch_us(ts) + CAST(greatest(CAST(1.0 AS DOUBLE), floor(value))
        |      AS BIGINT) * 60000000 AS e
        |  FROM events),
        |f AS (SELECT k, s, e,
        |    CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w
        |      THEN 1 ELSE 0 END AS f
        |  FROM b
        |  WINDOW w AS (PARTITION BY k ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |i AS (SELECT k, s, e,
        |    sum(f) OVER (PARTITION BY k ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid
        |  FROM f),
        |isl AS (SELECT k, iid, min(s) AS st, max(e) AS en,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM i GROUP BY 1, 2)
        |SELECT k AS user_id, CAST(sum(c) AS BIGINT) AS n_intervals,
        |  CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(sum(en - st) AS BIGINT) AS covered,
        |  CAST(max(en - st) AS BIGINT) AS max_island
        |FROM isl GROUP BY 1 ORDER BY 1""".stripMargin)),
    // ── scale: Poisson(1) bootstrap — B replicate means as ONE projection
    //    + ONE map-side-combined aggregate (never B resample shuffles);
    //    weights are integer comparisons of md5-60 hashes against
    //    floor(CDF·2^60) long thresholds, bit-reproducible on any engine
    //    (oracle: DuckDB replays hashes, thresholds, and the id-sorted
    //    fold) ─────────────────────────────────────────────────────────────
    QuerySpec("q184_bootstrap_means", (s, dir) => {
      Analytics.poissonBootstrapMeans(T(s, dir, "events"), "event_id",
          "value", reps = 16, deterministic = true)
        .select(col("rep"), col("n_eff"), round(col("wmean"), 6).as("wmean"))
        .orderBy("rep")
    }, bench = Some((s, dir) => {
      val ev = T(s, dir, "events")
      () => Analytics.poissonBootstrapMeans(ev, "event_id", "value",
          reps = 16)
        .select(col("rep"), col("n_eff"), round(col("wmean"), 6).as("wmean"))
        .orderBy("rep")
    }), oracle = Some(
      s"""WITH r AS (SELECT unnest(range(0, 16)) AS rep),
         |b AS (SELECT r.rep, CAST(e.event_id AS VARCHAR) AS id, e.value AS x,
         |    ('0x' || substr(md5(CAST(e.event_id AS VARCHAR) || ':' ||
         |      CAST(r.rep AS VARCHAR) || ':bs'), 1, 15))::UBIGINT AS h
         |  FROM events e, r),
         |w AS (SELECT rep, id, x,
         |    CAST(len(list_filter(
         |      ${graft.operators.Analytics.poissonThresholds60
                  .mkString("[", ", ", "]")},
         |      t -> t <= h)) AS BIGINT) AS w
         |  FROM b)
         |SELECT rep, CAST(sum(w) AS BIGINT) AS n_eff,
         |  round(list_reduce(list(CAST(w AS DOUBLE) * x ORDER BY id),
         |      (a, c) -> a + c)
         |    / CAST(CAST(sum(w) AS BIGINT) AS DOUBLE), 6) AS wmean
         |FROM w GROUP BY rep ORDER BY rep""".stripMargin)),
    // ── scale: seasonal-naive backtest — week-over-week forecast error
    //    (MAE/bias/MAPE/sMAPE) over daily volumes; the baseline every
    //    forecaster must beat and the number that calibrates q115's
    //    anomaly thresholds; ONE corpus scan to the days-sized frame
    //    (oracle: DuckDB lag-join + day-sorted fold replay) ────────────────
    QuerySpec("q186_seasonal_naive", (s, dir) => {
      Analytics.seasonalNaiveBacktest(T(s, dir, "events"), "ts", 7)
        .select(col("days"), round(col("mae"), 6).as("mae"),
          round(col("bias"), 6).as("bias"), round(col("mape"), 6).as("mape"),
          round(col("smape"), 6).as("smape"))
    }, oracle = Some(
      """WITH daily AS (SELECT
        |    (epoch_us(ts) - epoch_us(ts) % 86400000000) // 86400000000
        |      AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |s AS (SELECT c.day AS day, c.n AS a, p.n AS f, c.n - p.n AS err
        |  FROM daily c JOIN daily p ON c.day = p.day + 7),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS days,
        |    CAST(sum(abs(err)) AS BIGINT) AS sae,
        |    CAST(sum(err) AS BIGINT) AS se,
        |    list_reduce(list(CAST(abs(err) AS DOUBLE) / CAST(a AS DOUBLE)
        |      ORDER BY day), (x, y) -> x + y) AS sum_ape,
        |    list_reduce(list((CAST(2.0 AS DOUBLE) * CAST(abs(err) AS DOUBLE))
        |      / CAST(a + f AS DOUBLE) ORDER BY day), (x, y) -> x + y)
        |      AS sum_sape
        |  FROM s)
        |SELECT days,
        |  round(CAST(sae AS DOUBLE) / CAST(days AS DOUBLE), 6) AS mae,
        |  round(CAST(se AS DOUBLE) / CAST(days AS DOUBLE), 6) AS bias,
        |  round(sum_ape / CAST(days AS DOUBLE), 6) AS mape,
        |  round(sum_sape / CAST(days AS DOUBLE), 6) AS smape
        |FROM agg""".stripMargin)),
    // ── scale: Mann–Whitney U — nonparametric "is one group systematically
    //    larger" (the q141 z-test without normality; KS's location-focused
    //    complement); ranks never materialize per row — distinct-value
    //    frame + distributed-cumsum prefix gives exact average ranks under
    //    ties, tie-corrected σ² (oracle: DuckDB window-rank replay) ─────────
    QuerySpec("q188_mann_whitney", (s, dir) => {
      Analytics.mannWhitneyU(T(s, dir, "events"), "event_type", "value",
          "click", "view", deterministic = true)
        .select(col("n_a"), col("n_b"), round(col("u_a"), 6).as("u_a"),
          round(col("u_b"), 6).as("u_b"), round(col("z"), 6).as("z"))
    }, bench = Some((s, dir) => {
      val ev = T(s, dir, "events")
      () => Analytics.mannWhitneyU(ev, "event_type", "value",
          "click", "view")
        .select(col("n_a"), col("n_b"), round(col("u_a"), 6).as("u_a"),
          round(col("u_b"), 6).as("u_b"), round(col("z"), 6).as("z"))
    }), oracle = Some(
      """WITH x AS (SELECT event_type AS g, value AS v FROM events
        |  WHERE event_type IN ('click', 'view')),
        |vals AS (SELECT v, CAST(count(*) AS BIGINT) AS t,
        |    CAST(count(*) FILTER (g = 'click') AS BIGINT) AS a
        |  FROM x GROUP BY 1),
        |cum AS (SELECT v, t, a,
        |    CAST(coalesce(sum(t) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS c
        |  FROM vals),
        |r AS (SELECT v, t, a,
        |    CAST(a AS DOUBLE) * (CAST(c AS DOUBLE) +
        |      (CAST(t AS DOUBLE) + CAST(1.0 AS DOUBLE)) /
        |        CAST(2.0 AS DOUBLE)) AS ar
        |  FROM cum),
        |f AS (SELECT
        |    list_reduce(list(ar ORDER BY v), (x, y) -> x + y) AS ra,
        |    CAST(sum(t * t * t - t) AS BIGINT) AS tie,
        |    CAST(sum(a) AS BIGINT) AS n_a,
        |    CAST(sum(t - a) AS BIGINT) AS n_b
        |  FROM r),
        |g AS (SELECT n_a, n_b,
        |    CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
        |    CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nd,
        |    ra, CAST(tie AS DOUBLE) AS tied
        |  FROM f),
        |h AS (SELECT n_a, n_b, nad, nbd, nd, tied,
        |    ra - (nad * (nad + CAST(1.0 AS DOUBLE))) / CAST(2.0 AS DOUBLE)
        |      AS ua
        |  FROM g)
        |SELECT n_a, n_b, round(ua, 6) AS u_a,
        |  round((nad * nbd) - ua, 6) AS u_b,
        |  round((ua - (nad * nbd) / CAST(2.0 AS DOUBLE)) /
        |    sqrt(((nad * nbd) / CAST(12.0 AS DOUBLE)) *
        |      ((nd + CAST(1.0 AS DOUBLE)) -
        |        tied / (nd * (nd - CAST(1.0 AS DOUBLE))))), 6) AS z
        |FROM h""".stripMargin)),
    // ── scale: contrastive negative sampling — k non-positive, non-self
    //    corpus items per query as a pure function of (query, slot, salt):
    //    hash→dense-position draws with bounded over-draw, one equi-join
    //    to the key-only index, per-query windows over ≤ k·overDraw rows
    //    (oracle: DuckDB replays index, hashes, rejections, and ranks) ─────
    QuerySpec("q190_negative_samples", (s, dir) => {
      val docs = T(s, dir, "documents")
      val positives = docs
        .filter(pmod(col("doc_id"), lit(10L)) === 0L)
        .select(col("doc_id").as("q"), (col("doc_id") + lit(1L)).as("p"))
      Sampling.negativeSamples(docs, "doc_id", positives, "q", "p",
          k = 5, overDraw = 3)
        .orderBy("q", "rank")
    }, oracle = Some(
      """WITH ids AS (SELECT DISTINCT doc_id FROM documents),
        |idx AS (SELECT doc_id AS neg_id,
        |    CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS pos
        |  FROM ids),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
        |qs AS (SELECT DISTINCT doc_id AS q FROM documents
        |  WHERE doc_id % 10 = 0),
        |excl AS (SELECT doc_id AS q, doc_id + 1 AS e FROM documents
        |    WHERE doc_id % 10 = 0
        |  UNION SELECT doc_id, doc_id FROM documents WHERE doc_id % 10 = 0),
        |draws AS (SELECT q, unnest(range(0, 15)) AS slot FROM qs),
        |hpos AS (SELECT q, slot,
        |    CAST(('0x' || substr(md5(CAST(q AS VARCHAR) || ':' ||
        |      CAST(slot AS VARCHAR) || ':neg'), 1, 15))::UBIGINT AS BIGINT)
        |      % (SELECT n FROM nn) AS pos
        |  FROM draws),
        |cand AS (SELECT q, neg_id, CAST(min(slot) AS BIGINT) AS slot
        |  FROM hpos JOIN idx USING (pos) GROUP BY q, neg_id),
        |filt AS (SELECT c.q, c.neg_id, c.slot FROM cand c
        |  WHERE NOT EXISTS (SELECT 1 FROM excl x
        |    WHERE x.q = c.q AND x.e = c.neg_id)),
        |rk AS (SELECT q, neg_id, slot,
        |    CAST(row_number() OVER (PARTITION BY q
        |      ORDER BY slot, neg_id) AS BIGINT) AS rank
        |  FROM filt)
        |SELECT q, neg_id, slot, rank FROM rk
        |WHERE rank <= 5 ORDER BY q, rank""".stripMargin)),
    // ── scale: distribution-matching downsample — the LARGEST hash-
    //    deterministic subset hitting target language proportions (closed-
    //    form LP: binding stratum keeps all, others downsample); thresholds
    //    are floor(rate·1e6) longs with fixed parenthesization (oracle:
    //    DuckDB recomputes counts, c, thresholds, and the hash coin) ───────
    QuerySpec("q192_match_distribution", (s, dir) => {
      Sampling.matchDistribution(T(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.2))
        .groupBy("lang").agg(count(lit(1)).as("kept"))
        .orderBy("lang")
    }, oracle = Some(
      s"""WITH t(lang, ts) AS (VALUES
         |    ('de', CAST(0.2 AS DOUBLE)), ('en', CAST(0.4 AS DOUBLE)),
         |    ('es', CAST(0.2 AS DOUBLE)), ('fr', CAST(0.2 AS DOUBLE))),
         |n AS (SELECT lang, CAST(count(*) AS BIGINT) AS ns FROM documents
         |  WHERE lang IN (SELECT lang FROM t) GROUP BY 1),
         |nt AS (SELECT CAST(sum(ns) AS BIGINT) AS ntot FROM n),
         |c AS (SELECT min(CAST(ns AS DOUBLE) /
         |    (ts * CAST(ntot AS DOUBLE))) AS c
         |  FROM n JOIN t USING (lang), nt),
         |th AS (SELECT lang, CAST(floor((((c * ts) * CAST(ntot AS DOUBLE)) /
         |    CAST(ns AS DOUBLE)) * 1000000.0) AS BIGINT) AS thr
         |  FROM n JOIN t USING (lang), nt, c)
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS kept
         |FROM documents d JOIN th ON d.lang = th.lang
         |WHERE ${h60Sql("d.doc_id::VARCHAR")} % 1000000 < th.thr
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // ── scale: conversion-latency percentiles — first signup → first
    //    subsequent purchase, exact long-micros latencies, nearest-rank
    //    crossings via the weightedQuantiles machinery (q113's timing
    //    half) (oracle: DuckDB replays firsts, min-after, and crossings) ───
    QuerySpec("q193_conversion_latency", (s, dir) => {
      Analytics.conversionLatency(T(s, dir, "events"), "user_id", "ts",
          "event_type", "signup", "purchase", Seq(0.5, 0.9, 0.99))
        .orderBy("q")
    }, oracle = Some(
      """WITH ev AS (SELECT user_id AS u, epoch_us(ts) AS m, event_type
        |  FROM events),
        |f AS (SELECT u, min(m) AS f FROM ev WHERE event_type = 'signup'
        |  GROUP BY 1),
        |lat AS (SELECT e.u, min(e.m - f.f) AS lat
        |  FROM ev e JOIN f ON e.u = f.u
        |  WHERE e.event_type = 'purchase' AND e.m > f.f GROUP BY 1),
        |r AS (SELECT lat, u,
        |    CAST(row_number() OVER (ORDER BY lat, u) AS BIGINT) AS cum
        |  FROM lat),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS w FROM lat),
        |qs(q) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
        |  (CAST(0.99 AS DOUBLE))),
        |pick AS (SELECT q, lat AS latency_us FROM qs, tot, r
        |  WHERE cum >= q * CAST(w AS DOUBLE)
        |    AND cum - 1 < q * CAST(w AS DOUBLE)),
        |c AS (SELECT
        |    (SELECT CAST(count(*) AS BIGINT) FROM f) AS n_started,
        |    (SELECT CAST(count(*) AS BIGINT) FROM lat) AS n_converted)
        |SELECT q, latency_us, n_started, n_converted FROM pick, c
        |ORDER BY q""".stripMargin)),
    // ── scale: inter-arrival burstiness — Goh–Barabási B per user over
    //    consecutive-event gaps (heartbeat −1 / Poisson 0 / bursty +1),
    //    the per-entity refinement of q115; exact long Σgap, (ts, id)-
    //    sorted Σgap² fold (oracle: DuckDB lag + fold replay) ──────────────
    QuerySpec("q197_burstiness", (s, dir) => {
      Analytics.interArrivalStats(T(s, dir, "events"), "user_id", "ts",
          "event_id", deterministic = true)
        // mean in SECONDS: round(x, 6) at the raw-micros magnitude (~4e10)
        // is not engine-portable (scaling by 1e6 exceeds 2^53)
        .select(col("user_id"), col("n_gaps"),
          round(col("mean_us") / lit(1000000.0), 6).as("mean_s"),
          round(col("burstiness"), 6).as("burstiness"))
        .orderBy("user_id")
    }, bench = Some((s, dir) => {
      val ev = T(s, dir, "events")
      () => Analytics.interArrivalStats(ev, "user_id", "ts", "event_id")
        .select(col("user_id"), col("n_gaps"),
          round(col("mean_us") / lit(1000000.0), 6).as("mean_s"),
          round(col("burstiness"), 6).as("burstiness"))
        .orderBy("user_id")
    }), oracle = Some(
      """WITH b AS (SELECT user_id AS k, epoch_us(ts) AS m, event_id AS id
        |  FROM events),
        |g AS (SELECT k, m, id,
        |    m - lag(m) OVER (PARTITION BY k ORDER BY m, id) AS gp
        |  FROM b),
        |gg AS (SELECT k, m, id, gp FROM g WHERE gp IS NOT NULL),
        |a AS (SELECT k, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(gp) AS BIGINT) AS s,
        |    list_reduce(list(CAST(gp AS DOUBLE) * CAST(gp AS DOUBLE)
        |      ORDER BY m, id), (x, y) -> x + y) AS s2
        |  FROM gg GROUP BY 1),
        |d AS (SELECT k, n_gaps,
        |    CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu,
        |    sqrt(greatest(s2 / CAST(n_gaps AS DOUBLE) -
        |      (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)) *
        |      (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)),
        |      CAST(0.0 AS DOUBLE))) AS sd
        |  FROM a)
        |SELECT k AS user_id, n_gaps,
        |  round(mu / CAST(1000000.0 AS DOUBLE), 6) AS mean_s,
        |  round(CASE WHEN sd + mu > 0 THEN (sd - mu) / (sd + mu) END, 6)
        |    AS burstiness
        |FROM d ORDER BY user_id""".stripMargin)),
    // ── scale: per-group OLS trend lines — slope/intercept/R² of value
    //    over day for EVERY event type in one sufficient-stats pass (the
    //    grouped q96; "is the metric drifting per segment") (oracle:
    //    DuckDB replays the id-sorted folds and the closed form) ───────────
    QuerySpec("q198_group_trends", (s, dir) => {
      val m = unix_micros(col("ts").cast("timestamp"))
      val d = lit(86400000000L)
      val ev = T(s, dir, "events").withColumn("day",
        ((m - pmod(m, d)) / d).cast("long"))
      Analytics.groupTrends(ev, "event_type", "event_id", "day", "value",
          deterministic = true)
        .select(col("event_type"), col("n"),
          round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"),
          round(col("r2"), 6).as("r2"))
        .orderBy("event_type")
    }, bench = Some((s, dir) => {
      val m = unix_micros(col("ts").cast("timestamp"))
      val d = lit(86400000000L)
      val ev = T(s, dir, "events").withColumn("day",
        ((m - pmod(m, d)) / d).cast("long"))
      () => Analytics.groupTrends(ev, "event_type", "event_id", "day",
          "value")
        .select(col("event_type"), col("n"),
          round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"),
          round(col("r2"), 6).as("r2"))
        .orderBy("event_type")
    }), oracle = Some(
      """WITH b AS (SELECT event_type AS g, event_id AS id,
        |    CAST((epoch_us(ts) - epoch_us(ts) % 86400000000)
        |      // 86400000000 AS DOUBLE) AS x,
        |    value AS y
        |  FROM events),
        |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    list_reduce(list(x ORDER BY id), (p, q) -> p + q) AS sx,
        |    list_reduce(list(y ORDER BY id), (p, q) -> p + q) AS sy,
        |    list_reduce(list(x * y ORDER BY id), (p, q) -> p + q) AS sxy,
        |    list_reduce(list(x * x ORDER BY id), (p, q) -> p + q) AS sxx,
        |    list_reduce(list(y * y ORDER BY id), (p, q) -> p + q) AS syy
        |  FROM b GROUP BY 1),
        |d AS (SELECT g, n,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS dx,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS dy,
        |    CAST(n AS DOUBLE) * sxy - sx * sy AS num,
        |    sx, sy FROM a)
        |SELECT g AS event_type, n,
        |  round(CASE WHEN dx > 0 THEN num / dx END, 6) AS slope,
        |  round(CASE WHEN dx > 0
        |    THEN (sy - (num / dx) * sx) / CAST(n AS DOUBLE) END, 6)
        |    AS intercept,
        |  round(CASE WHEN dx > 0 AND dy > 0
        |    THEN (num * num) / (dx * dy) END, 6) AS r2
        |FROM d ORDER BY event_type""".stripMargin)),
    // ── scale: consecutive-day activity streaks — longest run / run count
    //    per user via the rank-anchor island identity over the pruned
    //    per-(range, key) rank core (the q181 idiom — never a corpus-wide
    //    per-key window) (oracle: DuckDB row_number islands replay) ────────
    QuerySpec("q201_activity_streaks", (s, dir) => {
      Analytics.activityStreaks(T(s, dir, "events"), "user_id", "ts")
        .orderBy("user_id")
    }, oracle = Some(
      """WITH days AS (SELECT DISTINCT user_id AS k,
        |    (epoch_us(ts) - epoch_us(ts) % 86400000000) // 86400000000
        |      AS day
        |  FROM events),
        |r AS (SELECT k, day,
        |    day - row_number() OVER (PARTITION BY k ORDER BY day) AS a
        |  FROM days),
        |i AS (SELECT k, a, CAST(count(*) AS BIGINT) AS len
        |  FROM r GROUP BY 1, 2)
        |SELECT k AS user_id, CAST(sum(len) AS BIGINT) AS n_days,
        |  CAST(count(*) AS BIGINT) AS n_streaks,
        |  CAST(max(len) AS BIGINT) AS max_streak
        |FROM i GROUP BY 1 ORDER BY 1""".stripMargin)),
    // ── scale: HHI concentration — Σ share² of the source mix per
    //    language (1/HHI = effective source count; the diversification
    //    twin of q138's Gini); cells-frame arithmetic, category-sorted
    //    fold at gate (oracle: DuckDB shares + fold replay) ────────────────
    QuerySpec("q202_concentration", (s, dir) => {
      Analytics.concentrationIndex(T(s, dir, "documents"), "lang", "source",
          deterministic = true)
        .select(col("lang"), col("n"), col("n_cats"),
          round(col("top_share"), 6).as("top_share"),
          round(col("hhi"), 6).as("hhi"))
        .orderBy("lang")
    }, oracle = Some(
      """WITH cells AS (SELECT lang AS g, source AS c,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT g, CAST(sum(n) AS BIGINT) AS t FROM cells GROUP BY 1),
        |s AS (SELECT g, c, n, t,
        |    CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS sh
        |  FROM cells JOIN t USING (g))
        |SELECT g AS lang, CAST(sum(n) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_cats,
        |  round(CAST(max(n) AS DOUBLE) / CAST(max(t) AS DOUBLE), 6)
        |    AS top_share,
        |  round(list_reduce(list(sh * sh ORDER BY c), (x, y) -> x + y), 6)
        |    AS hhi
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)),
    // ── scale: horizon conversion rates — fraction converting within
    //    1/7/30 days (q193's other axis: fix the time, read the rate);
    //    horizons-sized aggregate over the latency frame (oracle: DuckDB
    //    replays firsts, latencies, horizon sums) ───────────────────────────
    QuerySpec("q204_conversion_rates", (s, dir) => {
      Analytics.conversionRates(T(s, dir, "events"), "user_id", "ts",
          "event_type", "signup", "purchase",
          Seq(86400000000L, 604800000000L, 2592000000000L))
        .select(col("horizon_us"), col("converted_within"),
          col("n_started"), round(col("rate"), 6).as("rate"))
        .orderBy("horizon_us")
    }, oracle = Some(
      """WITH ev AS (SELECT user_id AS u, epoch_us(ts) AS m, event_type
        |  FROM events),
        |f AS (SELECT u, min(m) AS f FROM ev WHERE event_type = 'signup'
        |  GROUP BY 1),
        |lat AS (SELECT e.u, min(e.m - f.f) AS lat
        |  FROM ev e JOIN f ON e.u = f.u
        |  WHERE e.event_type = 'purchase' AND e.m > f.f GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_started FROM f),
        |h(hus) AS (VALUES (86400000000), (604800000000), (2592000000000))
        |SELECT h.hus AS horizon_us,
        |  CAST(sum(CASE WHEN l.lat <= h.hus THEN 1 ELSE 0 END) AS BIGINT)
        |    AS converted_within,
        |  (SELECT n_started FROM st) AS n_started,
        |  round(CAST(sum(CASE WHEN l.lat <= h.hus THEN 1 ELSE 0 END)
        |      AS DOUBLE) /
        |    CAST((SELECT n_started FROM st) AS DOUBLE), 6) AS rate
        |FROM h, lat l GROUP BY 1 ORDER BY 1""".stripMargin)),
    // ── scale: peak sliding-window rate — max events in any 1h window per
    //    user (what a rate limiter is sized against; q197 says bursts
    //    exist, this says how tall); RANGE window per key (oracle: DuckDB
    //    RANGE window replay) ──────────────────────────────────────────────
    QuerySpec("q207_peak_rate", (s, dir) => {
      Analytics.peakRate(T(s, dir, "events"), "user_id", "ts",
          3600000000L)
        .orderBy("user_id")
    }, oracle = Some(
      """WITH b AS (SELECT user_id AS k, epoch_us(ts) AS m FROM events),
        |c AS (SELECT k, count(*) OVER (PARTITION BY k ORDER BY m
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS c
        |  FROM b)
        |SELECT k AS user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(max(c) AS BIGINT) AS peak
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),
    // ── scale: exact-count stratified sample — exactly k rows per
    //    stratum by hash rank (an eval set wants 100 per language, not
    //    100 ± binomial noise); the pruned per-(range, group) rank core
    //    (oracle: DuckDB window-rank replay of the hash permutation) ───────
    QuerySpec("q208_exact_stratified", (s, dir) => {
      Sampling.exactStratifiedSample(T(s, dir, "documents"), "lang",
          "doc_id", k = 30L)
        .orderBy("lang", "rank")
    }, oracle = Some(
      s"""WITH h AS (SELECT lang, doc_id,
         |    ${h60Sql("doc_id::VARCHAR")} % 1000000 AS hb
         |  FROM documents),
         |r AS (SELECT lang, doc_id,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY hb DESC, doc_id) AS BIGINT) AS rank
         |  FROM h)
         |SELECT lang, doc_id, rank FROM r WHERE rank <= 30
         |ORDER BY lang, rank""".stripMargin)),
    // ── scale: top session paths — most common event-type sequences per
    //    session (order matters; q113's funnel can't see it); per-session
    //    bounded sorted collect, TakeOrderedAndProject top-k (oracle:
    //    DuckDB sessionize + ordered-list replay) ───────────────────────────
    QuerySpec("q210_top_paths", (s, dir) => {
      Analytics.topSessionPaths(T(s, dir, "events"), "user_id", "ts",
          "event_id", "event_type", gapSeconds = 600L, maxLen = 4, k = 20)
    }, oracle = Some(
      """WITH marked AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
        |    CASE WHEN date_diff('second',
        |        lag(CAST(ts AS TIMESTAMP)) OVER w, CAST(ts AS TIMESTAMP)) > 600
        |      THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS seq
        |  FROM marked),
        |paths AS (SELECT user_id, seq,
        |    array_to_string(list(event_type ORDER BY ts, event_id)[1:4], '>')
        |      AS path
        |  FROM sessions GROUP BY 1, 2)
        |SELECT path, CAST(count(*) AS BIGINT) AS sessions
        |FROM paths GROUP BY 1
        |ORDER BY sessions DESC, path LIMIT 20""".stripMargin)),
    // ── scale: offline changepoint — first binary-segmentation split per
    //    stream (WHEN did the level shift; q167 says THAT it drifted);
    //    key×days frame windows, exact counts (oracle: DuckDB replay) ──────
    QuerySpec("q213_changepoint", (s, dir) => {
      Analytics.changepointSplit(T(s, dir, "events"), "event_type", "ts")
        .select(col("event_type"), col("split_day"),
          round(col("deviation"), 6).as("deviation"),
          round(col("mean_before"), 6).as("mean_before"),
          round(col("mean_after"), 6).as("mean_after"))
        .orderBy("event_type")
    }, oracle = Some(
      """WITH daily AS (SELECT event_type AS k,
        |    (epoch_us(ts) - epoch_us(ts) % 86400000000) // 86400000000
        |      AS day,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT k, day, v,
        |    CAST(row_number() OVER (PARTITION BY k ORDER BY day)
        |      AS BIGINT) AS i,
        |    CAST(sum(v) OVER (PARTITION BY k ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n,
        |    CAST(sum(v) OVER (PARTITION BY k) AS BIGINT) AS tot
        |  FROM daily),
        |s AS (SELECT *, abs(CAST(cum AS DOUBLE) - CAST(tot AS DOUBLE) *
        |    (CAST(i AS DOUBLE) / CAST(n AS DOUBLE))) AS dev
        |  FROM c WHERE n >= 2 AND i < n),
        |b AS (SELECT *, row_number() OVER (PARTITION BY k
        |    ORDER BY dev DESC, day) AS r FROM s)
        |SELECT k AS event_type, day AS split_day,
        |  round(dev, 6) AS deviation,
        |  round(CAST(cum AS DOUBLE) / CAST(i AS DOUBLE), 6) AS mean_before,
        |  round(CAST(tot - cum AS DOUBLE) / CAST(n - i AS DOUBLE), 6)
        |    AS mean_after
        |FROM b WHERE r = 1 ORDER BY event_type""".stripMargin)),
    // ── scale: Simpson's-paradox audit — do within-group trends oppose
    //    the pooled trend (aggregation bias before acting on a rollup);
    //    rides q198's sufficient-stats passes (oracle: DuckDB sign replay) ─
    QuerySpec("q215_simpson_check", (s, dir) => {
      val m = unix_micros(col("ts").cast("timestamp"))
      val d = lit(86400000000L)
      val ev = T(s, dir, "events").withColumn("day",
        ((m - pmod(m, d)) / d).cast("long"))
      Analytics.simpsonCheck(ev, "event_type", "event_id", "day", "value",
          deterministic = true)
        .select(col("n_groups"), round(col("pooled_slope"), 6)
          .as("pooled_slope"), col("groups_opposing"),
          round(col("opposing_weight"), 6).as("opposing_weight"),
          col("paradox"))
    }, bench = Some((s, dir) => {
      val m = unix_micros(col("ts").cast("timestamp"))
      val d = lit(86400000000L)
      val ev = T(s, dir, "events").withColumn("day",
        ((m - pmod(m, d)) / d).cast("long"))
      () => Analytics.simpsonCheck(ev, "event_type", "event_id", "day",
          "value")
        .select(col("n_groups"), round(col("pooled_slope"), 6)
          .as("pooled_slope"), col("groups_opposing"),
          round(col("opposing_weight"), 6).as("opposing_weight"),
          col("paradox"))
    }), oracle = Some(
      """WITH b AS (SELECT event_type AS g, event_id AS id,
        |    CAST((epoch_us(ts) - epoch_us(ts) % 86400000000)
        |      // 86400000000 AS DOUBLE) AS x,
        |    value AS y
        |  FROM events),
        |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    list_reduce(list(x ORDER BY id), (p, q) -> p + q) AS sx,
        |    list_reduce(list(y ORDER BY id), (p, q) -> p + q) AS sy,
        |    list_reduce(list(x * y ORDER BY id), (p, q) -> p + q) AS sxy,
        |    list_reduce(list(x * x ORDER BY id), (p, q) -> p + q) AS sxx
        |  FROM b GROUP BY 1),
        |per AS (SELECT g, n,
        |    (CAST(n AS DOUBLE) * sxy - sx * sy) /
        |      (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope
        |  FROM a WHERE CAST(n AS DOUBLE) * sxx - sx * sx > 0),
        |ap AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    list_reduce(list(x ORDER BY id), (p, q) -> p + q) AS sx,
        |    list_reduce(list(y ORDER BY id), (p, q) -> p + q) AS sy,
        |    list_reduce(list(x * y ORDER BY id), (p, q) -> p + q) AS sxy,
        |    list_reduce(list(x * x ORDER BY id), (p, q) -> p + q) AS sxx
        |  FROM b),
        |pooled AS (SELECT
        |    (CAST(n AS DOUBLE) * sxy - sx * sy) /
        |      (CAST(n AS DOUBLE) * sxx - sx * sx) AS ps
        |  FROM ap)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |  round(max(ps), 6) AS pooled_slope,
        |  CAST(sum(CASE WHEN slope * ps < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS groups_opposing,
        |  round(CAST(sum(CASE WHEN slope * ps < 0 THEN n ELSE 0 END)
        |      AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6) AS opposing_weight,
        |  CAST(sum(CASE WHEN slope * ps < 0 THEN n ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(n) AS DOUBLE) > 0.5 AS paradox
        |FROM per, pooled""".stripMargin)),
    // ── scale: dataset-mixture plan — per-source token targets, epoch
    //    repeats, and repeat-budget caps for a target mixture (the
    //    books/web/code planning table, shortfalls caught BEFORE
    //    training); one token-count scan + source-frame arithmetic
    //    (oracle: DuckDB replays counts and the closed form) ───────────────
    QuerySpec("q220_mixture_plan", (s, dir) => {
      Sampling.mixturePlan(T(s, dir, "documents"), "source", "text",
          Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1),
          budgetTokens = 10000L, maxRepeat = 2.0)
        .select(col("source"), col("tokens_have"),
          round(col("weight"), 6).as("weight"),
          round(col("tokens_target"), 6).as("tokens_target"),
          round(col("repeats"), 6).as("repeats"), col("capped"),
          round(col("tokens_planned"), 6).as("tokens_planned"))
        .orderBy("source")
    }, oracle = Some(
      """WITH t(source, w) AS (VALUES
        |    ('src0', CAST(0.4 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)),
        |    ('src2', CAST(0.2 AS DOUBLE)), ('src3', CAST(0.1 AS DOUBLE))),
        |have AS (SELECT source,
        |    CAST(sum(CAST(len(string_split_regex(trim(lower(text)), '\s+'))
        |      AS BIGINT)) AS BIGINT) AS tokens_have
        |  FROM documents
        |  WHERE source IN (SELECT source FROM t)
        |    AND length(trim(text)) > 0
        |  GROUP BY 1),
        |p AS (SELECT h.source, h.tokens_have, t.w AS weight,
        |    t.w * CAST(10000 AS DOUBLE) AS tokens_target,
        |    (t.w * CAST(10000 AS DOUBLE)) /
        |      CAST(h.tokens_have AS DOUBLE) AS raw
        |  FROM have h JOIN t ON h.source = t.source)
        |SELECT source, tokens_have, round(weight, 6) AS weight,
        |  round(tokens_target, 6) AS tokens_target,
        |  round(CASE WHEN raw > 2.0 THEN CAST(2.0 AS DOUBLE) ELSE raw END,
        |    6) AS repeats,
        |  raw > 2.0 AS capped,
        |  round((CASE WHEN raw > 2.0 THEN CAST(2.0 AS DOUBLE) ELSE raw END)
        |    * CAST(tokens_have AS DOUBLE), 6) AS tokens_planned
        |FROM p ORDER BY source""".stripMargin)),
    // ── scale: seasonally-adjusted anomalies — daily volumes scored
    //    against their weekday's own mean (q115 flags raw outliers, q182
    //    measures the seasonality, this divides it out before alarming);
    //    days-sized frames throughout (oracle: DuckDB replay) ──────────────
    QuerySpec("q222_seasonal_anomalies", (s, dir) => {
      Analytics.seasonalAnomalies(T(s, dir, "events"), "ts", 2.0)
        .select(col("day"), col("dow"), col("n"),
          round(col("expected"), 6).as("expected"),
          round(col("z"), 6).as("z"))
        .orderBy("day")
    }, oracle = Some(
      """WITH daily AS (SELECT
        |    (epoch_us(ts) - epoch_us(ts) % 86400000000) // 86400000000
        |      AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |d2 AS (SELECT day, n, CAST((day + 3) % 7 + 1 AS INT) AS dow
        |  FROM daily),
        |dm AS (SELECT dow,
        |    list_reduce(list(CAST(n AS DOUBLE) ORDER BY day),
        |      (x, y) -> x + y) / CAST(count(*) AS DOUBLE) AS expected
        |  FROM d2 GROUP BY 1),
        |r AS (SELECT day, dow, n, expected,
        |    CAST(n AS DOUBLE) - expected AS res
        |  FROM d2 JOIN dm USING (dow)),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS c,
        |    list_reduce(list(res ORDER BY day), (x, y) -> x + y) AS s,
        |    list_reduce(list(res * res ORDER BY day), (x, y) -> x + y)
        |      AS s2
        |  FROM r),
        |g AS (SELECT day, dow, n, expected, res,
        |    s / CAST(c AS DOUBLE) AS mu,
        |    sqrt(greatest(s2 / CAST(c AS DOUBLE) -
        |      (s / CAST(c AS DOUBLE)) * (s / CAST(c AS DOUBLE)),
        |      CAST(0.0 AS DOUBLE))) AS sd
        |  FROM r, st)
        |SELECT day, dow, n, round(expected, 6) AS expected,
        |  round((res - mu) / sd, 6) AS z
        |FROM g WHERE sd > 0 AND abs((res - mu) / sd) > 2.0
        |ORDER BY day""".stripMargin)),
    // ── scale: monthly ship-lag percentiles — order→ship latency p50/p90
    //    per month via the per-group exact-crossing quantile machinery
    //    (operational BI on the TPC-H shape) (oracle: DuckDB rank
    //    crossings per month) ──────────────────────────────────────────────
    QuerySpec("q224_ship_lag", (s, dir) => {
      def dayOf(c: org.apache.spark.sql.Column) = {
        val m = unix_micros(c.cast("timestamp"))
        ((m - pmod(m, lit(86400000000L))) / lit(86400000000L)).cast("long")
      }
      val j = T(s, dir, "orders")
        .join(T(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          concat(col("l_orderkey").cast("string"), lit(":"),
            col("l_linenumber").cast("string")).as("rid"),
          (dayOf(col("l_shipdate")) - dayOf(col("o_orderdate")))
            .as("lag_days"))
        .withColumn("__w", lit(1L))
        .localCheckpoint(false)
      val stats = j.groupBy("month").agg(count(lit(1)).as("n"))
      Sampling.weightedQuantilesPerGroup(j, "month", "rid", "lag_days",
          "__w", Seq(0.5, 0.9))
        .join(stats, Seq("month"))
        .select(col("month"), col("q"), col("value").as("lag_days"),
          col("n"))
        .orderBy("month", "q")
    }, oracle = Some(
      """WITH j AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |    CAST(l_orderkey AS VARCHAR) || ':' ||
        |      CAST(l_linenumber AS VARCHAR) AS rid,
        |    ((epoch_us(l_shipdate) - epoch_us(l_shipdate) % 86400000000)
        |      // 86400000000) -
        |    ((epoch_us(o_orderdate) - epoch_us(o_orderdate) % 86400000000)
        |      // 86400000000) AS lag
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |r AS (SELECT month, lag, rid,
        |    CAST(row_number() OVER (PARTITION BY month ORDER BY lag, rid)
        |      AS BIGINT) AS cum
        |  FROM j),
        |w AS (SELECT month, CAST(count(*) AS BIGINT) AS wt
        |  FROM j GROUP BY 1),
        |qs(q) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)))
        |SELECT r.month, q, lag AS lag_days, wt AS n
        |FROM r JOIN w USING (month), qs
        |WHERE cum >= q * CAST(wt AS DOUBLE)
        |  AND cum - 1 < q * CAST(wt AS DOUBLE)
        |ORDER BY month, q""".stripMargin)),
    // ── scale: session association rules — market-basket over sessionized
    //    event types (support/confidence/lift); distinct (session, type)
    //    rows, type²-sized tail (oracle: DuckDB sessionize + pair replay) ──
    QuerySpec("q226_association_rules", (s, dir) => {
      Analytics.sessionAssociationRules(T(s, dir, "events"), "user_id",
          "ts", "event_type", gapSeconds = 600L)
        .select(col("antecedent"), col("consequent"), col("n_sessions"),
          col("n_both"), round(col("confidence"), 6).as("confidence"),
          round(col("lift"), 6).as("lift"))
        .orderBy("antecedent", "consequent")
    }, oracle = Some(
      """WITH marked AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    CASE WHEN date_diff('second',
        |        lag(CAST(ts AS TIMESTAMP)) OVER w, CAST(ts AS TIMESTAMP)) > 600
        |      THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, event_type,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS seq
        |  FROM marked),
        |st AS (SELECT DISTINCT user_id, seq, event_type FROM sessions),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT DISTINCT user_id, seq FROM st)),
        |singles AS (SELECT event_type AS t, CAST(count(*) AS BIGINT) AS c
        |  FROM st GROUP BY 1),
        |pairs AS (SELECT a.event_type AS antecedent,
        |    b.event_type AS consequent, CAST(count(*) AS BIGINT) AS n_both
        |  FROM st a JOIN st b
        |    ON a.user_id = b.user_id AND a.seq = b.seq
        |    AND a.event_type <> b.event_type
        |  GROUP BY 1, 2)
        |SELECT antecedent, consequent, (SELECT n FROM nn) AS n_sessions,
        |  n_both,
        |  round(CAST(n_both AS DOUBLE) / CAST(ca.c AS DOUBLE), 6)
        |    AS confidence,
        |  round((CAST(n_both AS DOUBLE) * CAST((SELECT n FROM nn) AS DOUBLE))
        |    / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)), 6) AS lift
        |FROM pairs
        |JOIN singles ca ON ca.t = antecedent
        |JOIN singles cb ON cb.t = consequent
        |ORDER BY antecedent, consequent""".stripMargin)),
    // ── scale: Markov next-event self-eval — the predictability baseline
    //    any sequence model must beat, per state (oracle: DuckDB lag +
    //    argmax replay) ────────────────────────────────────────────────────
    QuerySpec("q227_markov_eval", (s, dir) => {
      Analytics.markovSelfEval(T(s, dir, "events"), "user_id", "ts",
          "event_id", "event_type")
        .select(col("state"), col("n_transitions"), col("predicted"),
          col("hits"), round(col("accuracy"), 6).as("accuracy"))
        .orderBy("state")
    }, oracle = Some(
      """WITH seqd AS (SELECT user_id, epoch_us(ts) AS m, event_id,
        |    event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS nxt
        |  FROM events),
        |trans AS (SELECT event_type AS state, nxt,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM seqd WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |pred AS (SELECT state, nxt AS predicted FROM (
        |  SELECT state, nxt,
        |    row_number() OVER (PARTITION BY state ORDER BY c DESC, nxt)
        |      AS r
        |  FROM trans) WHERE r = 1)
        |SELECT t.state, CAST(sum(c) AS BIGINT) AS n_transitions,
        |  max(p.predicted) AS predicted,
        |  CAST(sum(CASE WHEN t.nxt = p.predicted THEN c ELSE 0 END)
        |    AS BIGINT) AS hits,
        |  round(CAST(sum(CASE WHEN t.nxt = p.predicted THEN c ELSE 0 END)
        |      AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS accuracy
        |FROM trans t JOIN pred p ON t.state = p.state
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // ── scale: leakage-free grouped split — every doc of a SOURCE lands
    //    in the same fold (row-keyed q122 can put near-identical docs from
    //    one domain on both sides of train/test; group-keyed assignment
    //    makes that structurally impossible); one pure-projection pass,
    //    exact per-fold report (oracle: DuckDB md5-bucket + CASE replay) ──
    QuerySpec("q242_grouped_split", (s, dir) => {
      Sampling.groupedSplitAssign(
          T(s, dir, "documents").select(col("source"), col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("w")),
          "source", Seq(0.8, 0.1, 0.1))
        .groupBy("fold")
        .agg(countDistinct(col("source")).as("n_sources"),
          count(lit(1)).as("n_docs"), sum("w").as("n_tokens"))
        .orderBy("fold")
    }, oracle = Some(
      """WITH a AS (SELECT source,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS w,
        |    ('0x' || substr(md5(source), 1, 15))::UBIGINT % 1000000 AS b
        |  FROM documents),
        |f AS (SELECT CASE WHEN b < 800000 THEN 0 WHEN b < 900000 THEN 1
        |    ELSE 2 END AS fold, source, w FROM a)
        |SELECT fold, CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(w) AS BIGINT) AS n_tokens
        |FROM f GROUP BY fold ORDER BY fold""".stripMargin)),
    // ── scale: watermark-lateness audit — events dropped per candidate
    //    withWatermark delay (the measured buffer-vs-loss trade); arrival
    //    modeled as event time + deterministic 0–10 min md5 jitter (the
    //    synthetic stream arrives perfectly ordered — zero lateness
    //    everywhere — so the jitter is the probe, the operator the
    //    artifact); running max in the distributed prefix-MAX idiom
    //    (oracle: DuckDB window + jitter replay) ──────────────────────────
    QuerySpec("q244_watermark_audit", (s, dir) => {
      val ev = T(s, dir, "events").select(col("event_id"), col("ts"),
        (unix_micros(col("ts").cast("timestamp")) +
          pmod(Dedup.md5Hash60(col("event_id")), lit(600000000L))).as("arr"))
      Analytics.watermarkAudit(ev, "ts", "arr", "event_id",
          Seq(0L, 60000000L, 300000000L, 480000000L, 600000000L))
        .select(col("delay_us"), col("n_dropped"),
          round(col("frac_dropped"), 6).as("frac_dropped"))
        .orderBy("delay_us")
    }, oracle = Some(
      """WITH a AS (SELECT event_id, epoch_us(ts) AS tsu,
        |    epoch_us(ts) + CAST(('0x' || substr(md5(event_id::VARCHAR), 1,
        |      15))::UBIGINT % 600000000 AS BIGINT) AS arr
        |  FROM events),
        |r AS (SELECT tsu, max(tsu) OVER (ORDER BY arr, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rm
        |  FROM a),
        |l AS (SELECT rm - tsu AS late FROM r),
        |d AS (SELECT unnest(CAST([0, 60000000, 300000000, 480000000,
        |    600000000] AS BIGINT[])) AS delay_us),
        |s AS (SELECT delay_us,
        |    CAST(sum(CASE WHEN late > delay_us THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dropped,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM l CROSS JOIN d GROUP BY delay_us)
        |SELECT delay_us, n_dropped,
        |  round(CAST(n_dropped AS DOUBLE) / CAST(n AS DOUBLE), 6)
        |    AS frac_dropped
        |FROM s ORDER BY delay_us""".stripMargin)),
    // ── scale: weighted per-group sampling — "5 docs per source ∝ token
    //    mass" with the DLT unbiased ŵ = max(w, τ_g) estimator (the last
    //    cell of the sampling matrix: q47 uniform global, q100 uniform
    //    per group, q99 weighted global); range-pruned per-group ranks,
    //    estimator on the (groups·(k+1))-bounded frame (oracle: DuckDB
    //    replays hash → priority → per-group rank → τ) ────────────────────
    QuerySpec("q250_group_weighted_sample", (s, dir) => {
      Sampling.weightedSamplePerGroup(
          T(s, dir, "documents").select(col("source"), col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("w0")),
          "source", "doc_id", "w0", k = 5, seed = 7L)
        .select(col("source"), col("doc_id"), col("w"), col("pick"),
          round(col("est_w"), 6).as("est_w"))
        .orderBy("source", "pick")
    }, oracle = Some(
      """WITH d AS (SELECT source, doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS DOUBLE)
        |      AS w
        |  FROM documents),
        |p AS (SELECT source, doc_id, w,
        |    w / ((('0x' || substr(md5(doc_id::VARCHAR || ':7'), 1, 15))
        |      ::UBIGINT + 1)::DOUBLE / 1152921504606846976.0) AS priority
        |  FROM d),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source
        |      ORDER BY priority DESC, doc_id ASC) AS rk
        |  FROM p),
        |tau AS (SELECT source,
        |    coalesce(max(CASE WHEN rk = 6 THEN priority END), 0.0) AS tau
        |  FROM r GROUP BY source)
        |SELECT r.source, doc_id, w, CAST(rk AS BIGINT) AS pick,
        |  round(greatest(w, tau), 6) AS est_w
        |FROM r JOIN tau USING (source)
        |WHERE rk <= 5 ORDER BY source, pick""".stripMargin)),
    // ── scale: burst collapse — retry storms / double-submits collapsed
    //    to one representative event per (user, type) burst before any
    //    count metric (islands semantics, explicit (ts, id) tie order);
    //    integer micros (oracle: DuckDB lag replay) ───────────────────────
    QuerySpec("q251_burst_collapse", (s, dir) => {
      Analytics.collapseBursts(T(s, dir, "events"),
          Seq("user_id", "event_type"), "ts", "event_id",
          gapUs = 600000000L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("is_first"), 1L).otherwise(0L)).as("n_bursts"))
        .withColumn("drop_frac",
          round((col("n_events") - col("n_bursts")).cast("double") /
            col("n_events").cast("double"), 6))
        .orderBy("event_type")
    }, oracle = Some(
      """WITH a AS (SELECT user_id, event_type, event_id,
        |    epoch_us(ts) AS us
        |  FROM events),
        |f AS (SELECT event_type,
        |    CASE WHEN lag(us) OVER (PARTITION BY user_id, event_type
        |        ORDER BY us, event_id) IS NULL
        |      OR us - lag(us) OVER (PARTITION BY user_id, event_type
        |        ORDER BY us, event_id) > 600000000
        |      THEN 1 ELSE 0 END AS first
        |  FROM a)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(first) AS BIGINT) AS n_bursts,
        |  round(CAST(count(*) - sum(first) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS drop_frac
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // ── scale: user growth curve — per-day actives, first-seen news, and
    //    the cumulative user count (q112's corpus-level trajectory);
    //    exact integers, cumsum over the DAYS-sized frame only (oracle:
    //    DuckDB replay) ────────────────────────────────────────────────────
    QuerySpec("q252_user_growth", (s, dir) => {
      Analytics.userGrowthCurve(T(s, dir, "events"), "ts", "user_id")
        .orderBy("day")
    }, oracle = Some(
      """WITH b AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    user_id AS u
        |  FROM events),
        |act AS (SELECT day, CAST(count(*) AS BIGINT) AS n_active
        |  FROM (SELECT DISTINCT day, u FROM b) GROUP BY day),
        |fs AS (SELECT u, min(day) AS day FROM b GROUP BY u),
        |nw AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new
        |  FROM fs GROUP BY day)
        |SELECT act.day, n_active, coalesce(n_new, 0) AS n_new,
        |  CAST(sum(coalesce(n_new, 0)) OVER (ORDER BY act.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM act LEFT JOIN nw USING (day)
        |ORDER BY act.day""".stripMargin)),
    // ── scale: transition dwell-time matrix — q114 gives the transition
    //    PROBABILITIES, this gives the DURATIONS (where a funnel
    //    intervention goes); exact micros totals (longs — no fold
    //    discipline), types²-sized output, the only doubles are the final
    //    divisions (oracle: DuckDB lag replay) ────────────────────────────
    QuerySpec("q254_dwell_matrix", (s, dir) => {
      Analytics.dwellMatrix(T(s, dir, "events"), "user_id", "ts",
          "event_id", "event_type")
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("mean_gap_s"), 6).as("mean_gap_s"),
          round(col("min_gap_s"), 6).as("min_gap_s"),
          round(col("max_gap_s"), 6).as("max_gap_s"))
        .orderBy("from_type", "to_type")
    }, oracle = Some(
      """WITH a AS (SELECT user_id, event_id, event_type AS to_type,
        |    epoch_us(ts) AS us
        |  FROM events),
        |t AS (SELECT
        |    lag(to_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      AS from_type,
        |    to_type,
        |    us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      AS gap
        |  FROM a),
        |g AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(gap) AS BIGINT) AS total,
        |    CAST(min(gap) AS BIGINT) AS mn, CAST(max(gap) AS BIGINT) AS mx
        |  FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round((CAST(total AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0, 6)
        |    AS mean_gap_s,
        |  round(CAST(mn AS DOUBLE) / 1000000.0, 6) AS min_gap_s,
        |  round(CAST(mx AS DOUBLE) / 1000000.0, 6) AS max_gap_s
        |FROM g ORDER BY from_type, to_type""".stripMargin)),
    // ── scale: coherent star-schema sample — sample by the JOIN KEY
    //    (hash of orderkey on BOTH tables), so the 10% slice keeps
    //    referential integrity (row-keyed sampling orphans ~90% of
    //    lineitems); the report proves zero orphans and shows the
    //    scaled-up revenue estimate against truth (oracle: DuckDB
    //    md5-bucket replay) ────────────────────────────────────────────────
    QuerySpec("q255_coherent_sample", (s, dir) => {
      val li = T(s, dir, "lineitem")
      val so = Sampling.hashSample(T(s, dir, "orders")
        .select("o_orderkey"), "o_orderkey", 0.1)
      val sl = Sampling.hashSample(li, "l_orderkey", 0.1)
      val cents = round(col("l_extendedprice") * lit(100.0)).cast("long")
      val sampled = sl.agg(count(lit(1)).as("n_items_sampled"),
        sum(cents).as("rev_sampled_cents"))
      val orphans = sl
        .join(so, col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      val totals = li.agg(count(lit(1)).as("n_items_total"),
        sum(cents).as("rev_total_cents"))
      val nOrders = so.agg(count(lit(1)).as("n_orders_sampled"))
      nOrders.crossJoin(sampled).crossJoin(orphans).crossJoin(totals)
        .withColumn("est_ratio",
          round((col("rev_sampled_cents").cast("double") * lit(10.0)) /
            col("rev_total_cents").cast("double"), 6))
    }, oracle = Some(
      """WITH so AS (SELECT o_orderkey FROM orders
        |  WHERE ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::UBIGINT
        |    % 1000000 < 100000),
        |sl AS (SELECT l_orderkey,
        |    CAST(round(l_extendedprice * 100.0) AS BIGINT) AS cents
        |  FROM lineitem
        |  WHERE ('0x' || substr(md5(l_orderkey::VARCHAR), 1, 15))::UBIGINT
        |    % 1000000 < 100000),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_items_sampled,
        |    CAST(sum(cents) AS BIGINT) AS rev_sampled_cents FROM sl),
        |orph AS (SELECT CAST(count(*) AS BIGINT) AS n_orphans FROM sl
        |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM so)),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_items_total,
        |    CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT))
        |      AS BIGINT) AS rev_total_cents
        |  FROM lineitem),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_orders_sampled FROM so)
        |SELECT n_orders_sampled, n_items_sampled, rev_sampled_cents,
        |  n_orphans, n_items_total, rev_total_cents,
        |  round((CAST(rev_sampled_cents AS DOUBLE) * 10.0)
        |    / CAST(rev_total_cents AS DOUBLE), 6) AS est_ratio
        |FROM n CROSS JOIN s CROSS JOIN orph CROSS JOIN t""".stripMargin)),
    // ── scale: decile lift curve — per score-decile positive rate vs the
    //    overall rate (q173's AUC says the ordering works; this says what
    //    acting on the top slice BUYS); exact ranks + integer-product
    //    lift, one division (oracle: DuckDB replays scorer, ranks, the
    //    integer-div buckets, and the products) ───────────────────────────
    QuerySpec("q266_lift_curve", (s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("score"),
        (col("lang") === "en").as("label"))
      Analytics.liftCurve(d, "doc_id", "score", "label", bins = 10)
        .select(col("bucket"), col("cnt"), col("n_pos"),
          round(col("rate"), 6).as("rate"), round(col("lift"), 6).as("lift"))
        .orderBy("bucket")
    }, oracle = Some(
      s"""WITH d AS (SELECT doc_id, $qualitySql AS score,
         |    (lang = 'en') AS label FROM documents),
         |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC)
         |      AS rk,
         |    count(*) OVER () AS n
         |  FROM d),
         |b AS (SELECT ((rk - 1) * 10) // n AS bucket,
         |    CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
         |  FROM r GROUP BY 1),
         |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS tn,
         |    CAST(sum(n_pos) AS BIGINT) AS tp FROM b)
         |SELECT CAST(bucket AS BIGINT) AS bucket, cnt, n_pos,
         |  round(CAST(n_pos AS DOUBLE) / CAST(cnt AS DOUBLE), 6) AS rate,
         |  round(CAST(n_pos * tn AS DOUBLE) / CAST(cnt * tp AS DOUBLE), 6)
         |    AS lift
         |FROM b CROSS JOIN t ORDER BY bucket""".stripMargin)),
    // ── scale: jackknife ratio variance — delete-one-bucket standard
    //    error for a ratio-of-sums metric (revenue per event): exact-cents
    //    per-bucket sufficient statistics, bucket-ORDERED deterministic
    //    fold over the H-row frame (oracle: DuckDB replays the hash
    //    bucketing, leave-one-out ratios, and both ordered folds) ─────────
    QuerySpec("q314_jackknife_ratio", (s, dir) => {
      val ev = T(s, dir, "events").select(col("user_id"),
        round(col("value") * lit(100.0)).cast("long").as("cents"),
        lit(1L).as("one"))
      Analytics.jackknifeRatio(ev, "user_id", "cents", "one", buckets = 32)
        .select(col("n_rows"), col("h"), round(col("ratio"), 6).as("ratio"),
          round(col("se"), 6).as("se"), round(col("ci_lo"), 6).as("ci_lo"),
          round(col("ci_hi"), 6).as("ci_hi"))
    }, oracle = Some(
      s"""WITH ev AS (SELECT user_id,
         |    CAST(round(value * 100.0) AS BIGINT) AS cents FROM events),
         |b AS (SELECT CAST((${h60Sql("user_id::VARCHAR")}) % 32 AS BIGINT)
         |      AS bk,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(cents) AS BIGINT) AS sy,
         |    CAST(count(*) AS BIGINT) AS sx
         |  FROM ev GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows,
         |    CAST(sum(sy) AS BIGINT) AS syt,
         |    CAST(sum(sx) AS BIGINT) AS sxt,
         |    CAST(count(*) AS BIGINT) AS h FROM b),
         |loo AS (SELECT bk,
         |    CAST(t.syt - b.sy AS DOUBLE) / CAST(t.sxt - b.sx AS DOUBLE)
         |      AS r
         |  FROM b CROSS JOIN tot t),
         |s1 AS (SELECT list_reduce(list(r ORDER BY bk), (a, v) -> a + v)
         |      AS sr FROM loo),
         |rb AS (SELECT sr / CAST(t.h AS DOUBLE) AS rbar FROM s1
         |  CROSS JOIN tot t),
         |s2 AS (SELECT list_reduce(
         |      list((r - rbar) * (r - rbar) ORDER BY bk), (a, v) -> a + v)
         |      AS ssq FROM loo CROSS JOIN rb),
         |f AS (SELECT t.n_rows, t.h,
         |    CAST(t.syt AS DOUBLE) / CAST(t.sxt AS DOUBLE) AS ratio,
         |    sqrt((CAST(t.h - 1 AS DOUBLE) / CAST(t.h AS DOUBLE)) * ssq)
         |      AS se
         |  FROM tot t CROSS JOIN s2)
         |SELECT n_rows, h, round(ratio, 6) AS ratio, round(se, 6) AS se,
         |  round(ratio - (1.96 * se), 6) AS ci_lo,
         |  round(ratio + (1.96 * se), 6) AS ci_hi FROM f""".stripMargin)),
    // ── scale: Chapman capture–recapture — estimate the population BOTH
    //    samples missed (two crawl seeds / two days' actives): exact
    //    distinct counts + one key-width semi-join, closed-form estimate
    //    (oracle: DuckDB replays counts and the arithmetic) ────────────────
    QuerySpec("q317_capture_recapture", (s, dir) => {
      val ev = T(s, dir, "events")
      Sampling.chapmanEstimate(
          ev.filter(pmod(col("event_id"), lit(3L)) === 0).select("user_id"),
          ev.filter(pmod(col("event_id"), lit(5L)) === 0).select("user_id"),
          "user_id")
        .select(col("n1"), col("n2"), col("m"),
          round(col("n_hat"), 6).as("n_hat"), round(col("se"), 6).as("se"),
          round(col("ci_lo"), 6).as("ci_lo"),
          round(col("ci_hi"), 6).as("ci_hi"))
    }, oracle = Some(
      """WITH a AS (SELECT DISTINCT user_id FROM events
        |    WHERE event_id % 3 = 0),
        |bq AS (SELECT DISTINCT user_id FROM events WHERE event_id % 5 = 0),
        |c AS (SELECT
        |    (SELECT CAST(count(*) AS BIGINT) FROM a) AS n1,
        |    (SELECT CAST(count(*) AS BIGINT) FROM bq) AS n2,
        |    (SELECT CAST(count(*) AS BIGINT) FROM a
        |     WHERE user_id IN (SELECT user_id FROM bq)) AS m),
        |e AS (SELECT n1, n2, m,
        |    CAST(n1 + 1 AS DOUBLE) AS n1d, CAST(n2 + 1 AS DOUBLE) AS n2d,
        |    CAST(m + 1 AS DOUBLE) AS md FROM c),
        |f AS (SELECT n1, n2, m,
        |    ((n1d * n2d) / md) - 1.0 AS n_hat,
        |    sqrt(((n1d * n2d)
        |        * (CAST(n1 - m AS DOUBLE) * CAST(n2 - m AS DOUBLE)))
        |      / ((md * md) * CAST(m + 2 AS DOUBLE))) AS se
        |  FROM e)
        |SELECT n1, n2, m, round(n_hat, 6) AS n_hat, round(se, 6) AS se,
        |  round(n_hat - (1.96 * se), 6) AS ci_lo,
        |  round(n_hat + (1.96 * se), 6) AS ci_hi FROM f""".stripMargin)),
    // ── scale: exact PR curve + average precision — the imbalanced-class
    //    companion to q173's AUC (scores binned to 3dp bound the det-gated
    //    AP fold; tp/fp ride the distributed-cumsum idiom on the
    //    score-cardinality frame; oracle: DuckDB replays the scorer, the
    //    desc cumulative windows, and the threshold-ordered AP fold) ──────
    QuerySpec("q318_pr_curve", (s, dir) => {
      // round(round(·,6),3) mirrors the oracle's round($qualitySql, 3)
      // exactly (qualitySql bakes in the 6dp round; single-rounding to 3
      // could disagree at 6dp-tie boundaries)
      val d = T(s, dir, "documents").select(
        round(round(TextAnalysis.qualityScore(col("text")), 6), 3).as("score"),
        (col("lang") === "en").as("label"))
      Analytics.prCurve(d, "score", "label", deterministic = true)
        .select(round(col("threshold"), 3).as("threshold"), col("tp"),
          col("fp"), round(col("precision"), 6).as("precision"),
          round(col("recall"), 6).as("recall"), round(col("ap"), 6).as("ap"))
        .orderBy(col("threshold").desc)
    }, oracle = Some(
      s"""WITH q AS (SELECT round($qualitySql, 3) AS s, (lang = 'en') AS lbl
         |  FROM documents),
         |g AS (SELECT s, CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(sum(CASE WHEN lbl THEN 1 ELSE 0 END) AS BIGINT) AS pos
         |  FROM q GROUP BY 1),
         |np AS (SELECT CAST(sum(pos) AS BIGINT) AS npos FROM g),
         |c AS (SELECT s, pos AS dp,
         |    CAST(sum(pos) OVER (ORDER BY s DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS tp,
         |    CAST(sum(cnt) OVER (ORDER BY s DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS seen
         |  FROM g),
         |pr AS (SELECT s, dp, tp, seen - tp AS fp,
         |    CAST(tp AS DOUBLE) / CAST(seen AS DOUBLE) AS prec,
         |    CAST(tp AS DOUBLE) / CAST(npos AS DOUBLE) AS rec
         |  FROM c, np),
         |ap AS (SELECT list_reduce(
         |    list((CAST(dp AS DOUBLE) * prec) / CAST(npos AS DOUBLE)
         |      ORDER BY s ASC), (a, v) -> a + v) AS ap FROM pr, np)
         |SELECT round(s, 3) AS threshold, tp, fp, round(prec, 6) AS precision,
         |  round(rec, 6) AS recall, round(ap.ap, 6) AS ap
         |FROM pr, ap ORDER BY threshold DESC""".stripMargin)),
    // ── scale: Welch two-sample t-test — exact micro-integer sufficient
    //    statistics (Σv long, Σv² DECIMAL(38,0) — the q229 convention);
    //    t and Welch–Satterthwaite df in fixed-parenthesization doubles on
    //    the 2-row frame (oracle: DuckDB replays via HUGEINT) ─────────────
    QuerySpec("q322_welch_ttest", (s, dir) => {
      Analytics.welchTTest(T(s, dir, "events"), "event_type", "value",
          "click", "view")
        .select(col("n_a"), col("n_b"), round(col("mean_a"), 6).as("mean_a"),
          round(col("mean_b"), 6).as("mean_b"),
          round(col("var_a"), 6).as("var_a"),
          round(col("var_b"), 6).as("var_b"),
          round(col("t"), 6).as("t"), round(col("df"), 6).as("df"))
    }, oracle = Some(
      """WITH m AS (SELECT event_type AS g,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS v
        |  FROM events WHERE event_type IN ('click', 'view')),
        |s AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS sv,
        |    sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS ss
        |  FROM m GROUP BY 1),
        |e AS (SELECT g, n, CAST(n AS DOUBLE) AS nd,
        |    (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0 AS mean,
        |    (CAST(CAST(n AS HUGEINT) * ss
        |        - CAST(sv AS HUGEINT) * CAST(sv AS HUGEINT) AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
        |      / (1000000.0 * 1000000.0) AS var FROM s),
        |a AS (SELECT n AS n_a, mean AS mean_a, var AS var_a, nd AS nda
        |  FROM e WHERE g = 'click'),
        |b AS (SELECT n AS n_b, mean AS mean_b, var AS var_b, nd AS ndb
        |  FROM e WHERE g = 'view'),
        |f AS (SELECT n_a, n_b, mean_a, mean_b, var_a, var_b,
        |    (var_a / nda) AS sa, (var_b / ndb) AS sb, nda, ndb FROM a, b)
        |SELECT n_a, n_b, round(mean_a, 6) AS mean_a,
        |  round(mean_b, 6) AS mean_b, round(var_a, 6) AS var_a,
        |  round(var_b, 6) AS var_b,
        |  round((mean_a - mean_b) / sqrt(sa + sb), 6) AS t,
        |  round(((sa + sb) * (sa + sb))
        |    / (((sa * sa) / (nda - 1.0)) + ((sb * sb) / (ndb - 1.0))), 6)
        |    AS df
        |FROM f""".stripMargin)),
    // ── scale: sample-ratio-mismatch check — χ² goodness-of-fit of a
    //    hash-assigned 4-arm split against the 25% design, with a planted
    //    off-design arm exercising the n_unexpected flag (oracle: DuckDB
    //    replays the md5 assignment, counts, and the arm-ordered fold) ────
    QuerySpec("q323_srm_check", (s, dir) => {
      val u = T(s, dir, "events").select("user_id").distinct()
      val arm = when(col("user_id") % 97 === 0, lit("zz"))
        .otherwise(element_at(
          typedLit(Map(0L -> "a", 1L -> "b", 2L -> "c", 3L -> "d")),
          pmod(Dedup.md5Hash60(col("user_id")), lit(4L))))
      Analytics.srmCheck(u.select(arm.as("arm")), "arm",
          Map("a" -> 0.25, "b" -> 0.25, "c" -> 0.25, "d" -> 0.25))
        .select(col("arm"), col("n_obs"),
          round(col("expected_n"), 6).as("expected_n"),
          round(col("contrib"), 6).as("contrib"), col("n"),
          col("n_unexpected"), round(col("chi2"), 6).as("chi2"), col("dof"))
        .orderBy("arm")
    }, oracle = Some(
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         |asg AS (SELECT CASE WHEN user_id % 97 = 0 THEN 'zz'
         |    ELSE CASE CAST((${h60Sql("user_id::VARCHAR")}) % 4 AS BIGINT)
         |      WHEN 0 THEN 'a' WHEN 1 THEN 'b' WHEN 2 THEN 'c'
         |      ELSE 'd' END END AS arm FROM u),
         |cnt AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_obs
         |  FROM asg GROUP BY 1),
         |des AS (SELECT unnest(['a', 'b', 'c', 'd']) AS arm,
         |    unnest(CAST([0.25, 0.25, 0.25, 0.25] AS DOUBLE[])) AS ratio),
         |tot AS (SELECT
         |    CAST(coalesce(sum(CASE WHEN arm IN ('a','b','c','d')
         |      THEN n_obs END), 0) AS BIGINT) AS n,
         |    CAST(coalesce(sum(CASE WHEN arm NOT IN ('a','b','c','d')
         |      THEN n_obs END), 0) AS BIGINT) AS n_unexpected FROM cnt),
         |rows_ AS (SELECT d.arm, CAST(coalesce(c.n_obs, 0) AS BIGINT)
         |      AS n_obs,
         |    CAST(t.n AS DOUBLE) * d.ratio AS expected_n, t.n, t.n_unexpected
         |  FROM des d LEFT JOIN cnt c ON d.arm = c.arm CROSS JOIN tot t),
         |ct AS (SELECT arm, n_obs, expected_n, n, n_unexpected,
         |    CASE WHEN expected_n > 0.0 THEN
         |      ((CAST(n_obs AS DOUBLE) - expected_n)
         |        * (CAST(n_obs AS DOUBLE) - expected_n)) / expected_n
         |    ELSE CAST(0.0 AS DOUBLE) END AS contrib FROM rows_),
         |x2 AS (SELECT list_reduce(list(contrib ORDER BY arm),
         |    (a, v) -> a + v) AS chi2 FROM ct)
         |SELECT arm, n_obs, round(expected_n, 6) AS expected_n,
         |  round(contrib, 6) AS contrib, n, n_unexpected,
         |  round(x2.chi2, 6) AS chi2, CAST(3 AS BIGINT) AS dof
         |FROM ct, x2 ORDER BY arm""".stripMargin)),
    // ── scale: log-rank test — censoring-aware A/B on the q152 KM
    //    subjects (time-to-first-error in hours) split by user-hash
    //    parity; exact long O₁, time-ascending E₁/V folds over the
    //    duration-cardinality frame (oracle: DuckDB replays the suffix
    //    sums and both folds) ─────────────────────────────────────────────
    QuerySpec("q324_log_rank", (s, dir) => {
      val ev = T(s, dir, "events")
      val subj = ev.groupBy("user_id").agg(
        min(unix_micros(col("ts"))).as("__first"),
        min(when(col("event_type") === "error", unix_micros(col("ts"))))
          .as("__ferr"))
      val g = ev.agg(max(unix_micros(col("ts"))).as("__gmx"))
      val d = subj.crossJoin(broadcast(g)).select(
        col("user_id"),
        expr("coalesce(__ferr - __first, __gmx - __first) div 3600000000")
          .as("t_hours"),
        col("__ferr").isNotNull.as("observed"))
        .withColumn("grp",
          when(pmod(Dedup.md5Hash60(col("user_id")), lit(2L)) === 0L,
            lit("g0")).otherwise(lit("g1")))
      Analytics.logRankTest(d, "t_hours", "observed", "grp", "g0", "g1")
        .select(col("n_times"), col("o1"), round(col("e1"), 6).as("e1"),
          round(col("v"), 6).as("v"), round(col("chi2"), 6).as("chi2"))
    }, oracle = Some(
      s"""WITH s AS (SELECT user_id,
         |    CAST(min(epoch_us(ts)) AS BIGINT) AS fst,
         |    CAST(min(CASE WHEN event_type = 'error' THEN epoch_us(ts) END)
         |      AS BIGINT) AS ferr
         |  FROM events GROUP BY 1),
         |g AS (SELECT CAST(max(epoch_us(ts)) AS BIGINT) AS gmx FROM events),
         |subj AS (SELECT
         |    coalesce(ferr - fst, (SELECT gmx FROM g) - fst) // 3600000000
         |      AS t,
         |    ferr IS NOT NULL AS e,
         |    (${h60Sql("user_id::VARCHAR")}) % 2 = 0 AS a
         |  FROM s),
         |byt AS (SELECT t,
         |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS w1,
         |    CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS w2,
         |    CAST(sum(CASE WHEN a AND e THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         |    CAST(sum(CASE WHEN (NOT a) AND e THEN 1 ELSE 0 END) AS BIGINT)
         |      AS d2
         |  FROM subj GROUP BY 1),
         |risk AS (SELECT t, d1, d2,
         |    CAST(sum(w1) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND CURRENT ROW) AS BIGINT) AS n1,
         |    CAST(sum(w2) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND CURRENT ROW) AS BIGINT) AS n2
         |  FROM byt),
         |ev AS (SELECT t, d1,
         |    (CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE))
         |      / CAST(n1 + n2 AS DOUBLE) AS e1t,
         |    CASE WHEN n1 + n2 > 1 THEN
         |      (((CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE))
         |          * CAST(n2 AS DOUBLE))
         |        * (CAST(n1 + n2 AS DOUBLE) - CAST(d1 + d2 AS DOUBLE)))
         |      / ((CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE))
         |        * (CAST(n1 + n2 AS DOUBLE) - 1.0))
         |    ELSE CAST(0.0 AS DOUBLE) END AS vt
         |  FROM risk WHERE d1 + d2 > 0),
         |f AS (SELECT CAST(count(*) AS BIGINT) AS n_times,
         |    CAST(sum(d1) AS BIGINT) AS o1,
         |    list_reduce(list(e1t ORDER BY t), (a, v) -> a + v) AS e1,
         |    list_reduce(list(vt ORDER BY t), (a, v) -> a + v) AS v
         |  FROM ev)
         |SELECT n_times, o1, round(e1, 6) AS e1, round(v, 6) AS v,
         |  round(CASE WHEN v > 0.0 THEN
         |    ((CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1)) / v
         |  END, 6) AS chi2
         |FROM f""".stripMargin)),
    // ── scale: Poisson spike bound — per (event_type, day) count vs the
    //    key's leave-one-out daily baseline, Chernoff tail bound in
    //    replayable closed form (the principled twin of q115's z-flag
    //    monitor) (oracle: DuckDB replays counts, λ, and the bound) ────────
    QuerySpec("q326_poisson_spike", (s, dir) => {
      Analytics.poissonSpikeBound(T(s, dir, "events"), "event_type", "ts",
          alpha = 0.001)
        .select(col("key"), col("day"), col("n"),
          round(col("lambda"), 6).as("lambda"),
          round(col("bound"), 6).as("bound"), col("flagged"))
        .orderBy("key", "day")
    }, oracle = Some(
      """WITH d AS (SELECT event_type AS key,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |t AS (SELECT key, CAST(sum(n) AS BIGINT) AS tot,
        |    CAST(count(*) AS BIGINT) AS days FROM d GROUP BY 1),
        |j AS (SELECT d.key, day, n,
        |    CASE WHEN days >= 2 THEN
        |      CAST(tot - n AS DOUBLE) / CAST(days - 1 AS DOUBLE) END
        |      AS lambda
        |  FROM d JOIN t ON d.key = t.key),
        |b AS (SELECT key, day, n, lambda,
        |    CASE WHEN lambda IS NULL THEN NULL
        |      WHEN CAST(n AS DOUBLE) <= lambda THEN CAST(1.0 AS DOUBLE)
        |      WHEN lambda = 0.0 THEN CAST(0.0 AS DOUBLE)
        |      ELSE exp((CAST(n AS DOUBLE) - lambda)
        |        + (CAST(n AS DOUBLE) * ln(lambda / CAST(n AS DOUBLE))))
        |    END AS bound
        |  FROM j)
        |SELECT key, day, n, round(lambda, 6) AS lambda,
        |  round(bound, 6) AS bound,
        |  CASE WHEN bound IS NULL THEN NULL
        |    ELSE bound <= 0.001 END AS flagged
        |FROM b ORDER BY key, day""".stripMargin)),
    // ── scale: Markov removal-effect attribution — the principled
    //    multi-touch credit model: per-user paths truncated at first
    //    purchase collapse to the channel-cardinality transition matrix;
    //    K absorption rounds per removal scenario run on the driver with
    //    to-sorted folds (oracle: DuckDB replays the paths, the matrix,
    //    and every round of every scenario) ────────────────────────────────
    QuerySpec("q339_markov_attribution", (s, dir) => {
      Analytics.markovAttribution(T(s, dir, "events"), "user_id", "ts",
          "event_type", "event_id", convType = "purchase", rounds = 6)
        .select(col("channel"), col("touches"),
          round(col("p_conv_full"), 6).as("p_conv_full"),
          round(col("p_conv_removed"), 6).as("p_conv_removed"),
          round(col("removal_effect"), 6).as("removal_effect"),
          round(col("share"), 6).as("share"))
        .orderBy("channel")
    }, oracle = Some(markovOracleSql(
      Seq("click", "error", "signup", "view"), "purchase", rounds = 6))),
    // ── scale: anytime-valid confidence sequence — the peeking-safe
    //    per-(arm, day) cumulative-mean monitor (Hoeffding + union bound
    //    over looks); exact micro-int cumulative sums, per-arm windows
    //    over the day frame, closed form after (oracle: DuckDB replays
    //    the md5 arms, the cumsum windows, and the boundary) ──────────────
    QuerySpec("q334_confidence_sequence", (s, dir) => {
      val ev = T(s, dir, "events").withColumn("arm",
        when(pmod(Dedup.md5Hash60(col("user_id")), lit(2L)) === 0L,
          lit("g0")).otherwise(lit("g1")))
      // hi = 1000: value's support bound across ALL test SFs (sf0.1 max is
      // 560.21 — the original 500 only held at sf0.01 and threw at bench
      // scale; the operator throws on out-of-range BY DESIGN)
      Analytics.confidenceSequence(ev, "arm", "ts", "value",
          lo = 0.0, hi = 1000.0, alpha = 0.05)
        .select(col("arm"), col("day"), col("n_cum"),
          round(col("mean_cum"), 6).as("mean_cum"),
          round(col("half"), 6).as("half"),
          round(col("ci_lo"), 6).as("ci_lo"),
          round(col("ci_hi"), 6).as("ci_hi"))
        .orderBy("arm", "day")
    }, oracle = Some(
      s"""WITH a AS (SELECT
         |    CASE WHEN (${h60Sql("user_id::VARCHAR")}) % 2 = 0
         |      THEN 'g0' ELSE 'g1' END AS arm,
         |    epoch_us(ts) // 86400000000 AS day,
         |    CAST(round(value * 1000000.0) AS BIGINT) AS v FROM events),
         |d AS (SELECT arm, day, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(v) AS BIGINT) AS s FROM a GROUP BY 1, 2),
         |c AS (SELECT arm, day,
         |    CAST(sum(n) OVER w AS BIGINT) AS t,
         |    CAST(sum(s) OVER w AS BIGINT) AS st
         |  FROM d WINDOW w AS (PARTITION BY arm ORDER BY day ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |f AS (SELECT arm, day, t,
         |    (CAST(st AS DOUBLE) / CAST(t AS DOUBLE)) / 1000000.0 AS mean,
         |    (1000.0 - 0.0) * sqrt(
         |      ln((((CAST(2.0 AS DOUBLE) * (pi() * pi()))
         |          * (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)))
         |        / (CAST(6.0 AS DOUBLE) * CAST(0.05 AS DOUBLE))))
         |      / (CAST(2.0 AS DOUBLE) * CAST(t AS DOUBLE))) AS half
         |  FROM c)
         |SELECT arm, day, t AS n_cum, round(mean, 6) AS mean_cum,
         |  round(half, 6) AS half, round(mean - half, 6) AS ci_lo,
         |  round(mean + half, 6) AS ci_hi
         |FROM f ORDER BY arm, day""".stripMargin)),
    // ── scale: post-stratified mean — reweight per-lang sample means to
    //    known population shares; exact micro-int sufficient statistics,
    //    stratum-sorted driver fold over the ≤|shares| frame (oracle:
    //    DuckDB replays the VALUES shares and both folds) ──────────────────
    QuerySpec("q335_post_stratified_mean", (s, dir) => {
      Sampling.postStratifiedMean(T(s, dir, "documents"), "lang",
          "n_chars", Map("en" -> 0.4, "zh" -> 0.2, "es" -> 0.15,
            "de" -> 0.15, "fr" -> 0.1))
        .select(col("n"), col("n_strata"), col("missing_strata"),
          col("n_excluded"), round(col("mean_ps"), 6).as("mean_ps"),
          round(col("se"), 6).as("se"))
    }, oracle = Some(
      """WITH sh AS (SELECT * FROM (VALUES ('de', 0.15), ('en', 0.4),
        |    ('es', 0.15), ('fr', 0.1), ('zh', 0.2)) AS t(h, w)),
        |mv AS (SELECT lang AS h,
        |    CAST(round(CAST(n_chars AS DOUBLE) * 1000000.0) AS BIGINT) AS v
        |  FROM documents),
        |st AS (SELECT h, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS BIGINT) AS sv,
        |    sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS ss
        |  FROM mv GROUP BY 1),
        |j AS (SELECT sh.h, CAST(sh.w AS DOUBLE) AS w, n, sv, ss
        |  FROM sh JOIN st USING (h)),
        |f AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot,
        |    CAST(count(*) AS BIGINT) AS n_strata,
        |    list_reduce(list(
        |      (w * ((CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0))
        |      ORDER BY h), (a, x) -> a + x) AS mean_ps,
        |    list_reduce(list(
        |      (((w * w) * ((CAST(CAST(n AS HUGEINT) * ss
        |            - CAST(sv AS HUGEINT) * CAST(sv AS HUGEINT) AS DOUBLE)
        |          / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
        |          / (1000000.0 * 1000000.0))) / CAST(n AS DOUBLE))
        |      ORDER BY h), (a, x) -> a + x) AS vs
        |  FROM j)
        |SELECT n_tot AS n, n_strata, CAST(0 AS BIGINT) AS missing_strata,
        |  CAST(0 AS BIGINT) AS n_excluded,
        |  round(mean_ps, 6) AS mean_ps, round(sqrt(vs), 6) AS se
        |FROM f""".stripMargin)),
    // ── scale: exact-matching ATT — treated-vs-control value gap within
    //    event_type strata holding both arms, treated-weighted; det-gated
    //    stratum-sorted fold on the gate path (oracle: DuckDB replays the
    //    pivot and the key-ordered fold) ───────────────────────────────────
    QuerySpec("q336_exact_matched_att", (s, dir) => {
      val ev = T(s, dir, "events").withColumn("treat",
        pmod(Dedup.md5Hash60(col("user_id")), lit(2L)) === 0L)
      Analytics.exactMatchedATT(ev, Seq("event_type"), "treat", "value",
          deterministic = true)
        .select(col("n_strata_matched"), col("n_treated_matched"),
          col("n_treated_unmatched"), round(col("att"), 6).as("att"))
    }, oracle = Some(
      s"""WITH e AS (SELECT event_type AS k,
         |    ((${h60Sql("user_id::VARCHAR")}) % 2 = 0) AS t,
         |    CAST(round(value * 1000000.0) AS BIGINT) AS v FROM events),
         |pa AS (SELECT k, t, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(v) AS BIGINT) AS s FROM e GROUP BY 1, 2),
         |st AS (SELECT k,
         |    CAST(sum(CASE WHEN t THEN n END) AS BIGINT) AS nt,
         |    CAST(sum(CASE WHEN t THEN s END) AS BIGINT) AS stt,
         |    CAST(sum(CASE WHEN NOT t THEN n END) AS BIGINT) AS nc,
         |    CAST(sum(CASE WHEN NOT t THEN s END) AS BIGINT) AS sc
         |  FROM pa GROUP BY 1),
         |ma AS (SELECT * FROM st WHERE nt IS NOT NULL AND nc IS NOT NULL),
         |f AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
         |    CAST(coalesce(sum(nt), 0) AS BIGINT) AS n_treated,
         |    coalesce(list_reduce(list((CAST(nt AS DOUBLE) *
         |      (((CAST(stt AS DOUBLE) / CAST(nt AS DOUBLE)) / 1000000.0)
         |       - ((CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)) / 1000000.0)))
         |      ORDER BY k), (a, x) -> a + x), CAST(0.0 AS DOUBLE)) AS num
         |  FROM ma),
         |u AS (SELECT CAST(coalesce(sum(nt), 0) AS BIGINT) AS unmatched
         |  FROM st WHERE nc IS NULL)
         |SELECT n_strata AS n_strata_matched, n_treated AS n_treated_matched,
         |  unmatched AS n_treated_unmatched,
         |  round(CASE WHEN n_treated = 0 THEN NULL
         |    ELSE num / CAST(n_treated AS DOUBLE) END, 6) AS att
         |FROM f, u""".stripMargin)),
    // ── scale: funnel step timings — exact p50/p90 of each hop's
    //    per-user transition delay on q113's min-time funnel path; no FP
    //    anywhere (oracle: DuckDB replays the step mins, delays, and the
    //    rank targets) ──────────────────────────────────────────────────────
    QuerySpec("q329_funnel_timings", (s, dir) => {
      Analytics.funnelTimings(T(s, dir, "events"), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"),
          qs = Seq(0.5, 0.9))
        .select(col("step_idx"), col("step"), col("n_users"),
          round(col("q"), 6).as("q"), col("delay_us"))
        .orderBy("step_idx", "q")
    }, oracle = Some(
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t, min(s1.t) AS p
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t, min(s2.t) AS p
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
        |d AS (SELECT 1 AS step_idx, 'click' AS step, user_id,
        |    CAST(epoch_us(t) - epoch_us(p) AS BIGINT) AS delay FROM s2
        |  UNION ALL SELECT 2, 'purchase', user_id,
        |    CAST(epoch_us(t) - epoch_us(p) AS BIGINT) FROM s3),
        |r AS (SELECT step_idx, step, user_id, delay,
        |    row_number() OVER (PARTITION BY step_idx
        |      ORDER BY delay ASC, user_id ASC) AS rk,
        |    CAST(count(*) OVER (PARTITION BY step_idx) AS BIGINT) AS n
        |  FROM d),
        |qs AS (SELECT unnest(CAST([0.5, 0.9] AS DOUBLE[])) AS q)
        |SELECT step_idx, step, n AS n_users, round(q, 6) AS q,
        |  delay AS delay_us
        |FROM r JOIN qs ON rk = greatest(1, CAST(ceil(q * n) AS BIGINT))
        |ORDER BY step_idx, q""".stripMargin)),
    // ── scale: Benjamini–Hochberg FDR — turn a frame of per-slice test
    //    p-values into q-values + an αFDR decision (the correction layer
    //    every multi-slice drift/test sweep needs before anyone acts on
    //    "significant"); globalRowNumber ranks + per-partition suffix-min
    //    with a driver suffix over the partitions-sized min table — no
    //    single-partition rank exchange (oracle: DuckDB replays the hash
    //    p-values, the rank window, and the reverse running min) ──────────
    QuerySpec("q308_bh_fdr", (s, dir) => {
      // deterministic pseudo p-values (md5-fraction per slice; slices with
      // nationkey < 5 get planted 1000× smaller p's so both decision
      // branches are exercised) — the operator under test is the
      // ADJUSTMENT, not the upstream test statistic
      val tests = T(s, dir, "customer")
        .select(concat(col("c_nationkey").cast("string"), lit("|"),
          col("c_mktsegment")).as("test_id"), col("c_nationkey").as("nk"))
        .distinct()
        .withColumn("__p0", Dedup.md5Hash60(col("test_id")).cast("double") /
          lit(1.152921504606846976e18))
        .withColumn("p", when(col("nk") < 5, col("__p0") / lit(1000.0))
          .otherwise(col("__p0")))
      Analytics.bhAdjust(tests, "test_id", "p", alpha = 0.25)
        .select(col("test_id"), round(col("p"), 9).as("p"), col("rank"),
          round(col("q_value"), 9).as("q_value"), col("reject"))
        .orderBy("rank")
    }, oracle = Some(
      s"""WITH t AS (SELECT DISTINCT c_nationkey::VARCHAR || '|' ||
         |    c_mktsegment AS test_id, c_nationkey AS nk FROM customer),
         |p0 AS (SELECT test_id,
         |    CAST(${h60Sql("test_id")} AS DOUBLE)
         |      / 1152921504606846976.0 AS p0, nk FROM t),
         |p1 AS (SELECT test_id,
         |    CASE WHEN nk < 5 THEN p0 / 1000.0 ELSE p0 END AS p FROM p0),
         |r AS (SELECT test_id, p,
         |    row_number() OVER (ORDER BY p ASC, test_id ASC) AS rank,
         |    count(*) OVER () AS n FROM p1),
         |q AS (SELECT test_id, p, rank,
         |    least(1.0, min((p * CAST(n AS DOUBLE)) / CAST(rank AS DOUBLE))
         |      OVER (ORDER BY rank DESC
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |      AS q_value
         |  FROM r)
         |SELECT test_id, round(p, 9) AS p, CAST(rank AS BIGINT) AS rank,
         |  round(q_value, 9) AS q_value, q_value <= 0.25 AS reject
         |FROM q ORDER BY rank""".stripMargin)),
    // ── scale: CUPED variance reduction — per-variant adjusted means
    //    Y − θ·(X − mean X) from pre-period covariates (the standard
    //    experimentation trick); θ from exact DECIMAL(38,0) sufficient
    //    statistics, doubles only at the end with fixed parenthesization
    //    (oracle: DuckDB HUGEINT sums + the same arithmetic tree) ─────────
    QuerySpec("q309_cuped", (s, dir) => {
      val ev = T(s, dir, "events")
      val units = ev.select(col("user_id"),
          round(col("value") * lit(100.0)).cast("long").as("__cents"),
          (col("ts") < lit("2024-01-16").cast("timestamp")).as("__pre"))
        .groupBy("user_id")
        .agg(sum(when(col("__pre"), col("__cents")).otherwise(0L)).as("x"),
          sum(when(!col("__pre"), col("__cents")).otherwise(0L)).as("y"))
        .withColumn("variant", pmod(col("user_id"), lit(2L)).cast("string"))
      Analytics.cupedAdjust(units, "user_id", "variant", "x", "y")
        .select(col("variant"), col("n_units"),
          round(col("mean_pre"), 6).as("mean_pre"),
          round(col("mean_post"), 6).as("mean_post"),
          round(col("mean_post_adj"), 6).as("mean_post_adj"),
          round(col("var_post"), 2).as("var_post"),
          round(col("var_post_adj"), 2).as("var_post_adj"),
          round(col("theta"), 6).as("theta"))
        .orderBy("variant")
    }, oracle = Some(
      """WITH u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |      THEN CAST(round(value * 100.0) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |      THEN CAST(round(value * 100.0) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |g AS (SELECT CAST(user_id % 2 AS VARCHAR) AS variant, x, y FROM u),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
        |    CAST(sum(x) AS DOUBLE) AS sxd, CAST(sum(y) AS DOUBLE) AS syd,
        |    CAST(sum(x*x) AS DOUBLE) AS sxxd,
        |    CAST(sum(x*y) AS DOUBLE) AS sxyd FROM g),
        |th AS (SELECT
        |    CASE WHEN ((nd*sxxd) - (sxd*sxd)) = 0.0 THEN 0.0
        |      ELSE ((nd*sxyd) - (sxd*syd)) / ((nd*sxxd) - (sxd*sxd))
        |    END AS theta, sxd / nd AS meanx FROM tot),
        |v AS (SELECT variant, count(*) AS n,
        |    CAST(count(*) AS DOUBLE) AS nd,
        |    CAST(sum(x) AS DOUBLE) AS sxd, CAST(sum(y) AS DOUBLE) AS syd,
        |    CAST(sum(x*x) AS DOUBLE) AS sxxd,
        |    CAST(sum(x*y) AS DOUBLE) AS sxyd,
        |    CAST(sum(y*y) AS DOUBLE) AS syyd FROM g GROUP BY 1),
        |e AS (SELECT variant, n, nd, sxd / nd AS mean_pre,
        |    syd / nd AS mean_post,
        |    CASE WHEN n > 1 THEN ((nd*syyd) - (syd*syd))
        |      / (nd * CAST(n - 1 AS DOUBLE)) ELSE 0.0 END AS var_post,
        |    CASE WHEN n > 1 THEN ((nd*sxxd) - (sxd*sxd))
        |      / (nd * CAST(n - 1 AS DOUBLE)) ELSE 0.0 END AS var_x,
        |    CASE WHEN n > 1 THEN ((nd*sxyd) - (sxd*syd))
        |      / (nd * CAST(n - 1 AS DOUBLE)) ELSE 0.0 END AS cov
        |  FROM v)
        |SELECT variant, CAST(n AS BIGINT) AS n_units,
        |  round(mean_pre, 6) AS mean_pre, round(mean_post, 6) AS mean_post,
        |  round(mean_post - ((SELECT theta FROM th)
        |    * (mean_pre - (SELECT meanx FROM th))), 6) AS mean_post_adj,
        |  round(var_post, 2) AS var_post,
        |  round((var_post - ((2.0 * (SELECT theta FROM th)) * cov))
        |    + (((SELECT theta FROM th) * (SELECT theta FROM th)) * var_x),
        |    2) AS var_post_adj,
        |  round((SELECT theta FROM th), 6) AS theta
        |FROM e ORDER BY variant""".stripMargin)),
    // ── scale: top movers — the keys whose REVENUE RANK moved most
    //    between two periods (rank deltas survive level shifts raw deltas
    //    can't); exact-cents per-(part, period) sums, distributed global
    //    ranks over the key-cardinality aggregate, TakeOrdered top-k
    //    (oracle: DuckDB replays sums, both rank windows, and the cut) ────
    QuerySpec("q307_top_movers", (s, dir) => {
      val li = T(s, dir, "lineitem").withColumn("period",
        when(col("l_shipdate") < lit("1998-01-01").cast("timestamp"),
          lit("a")).otherwise(lit("b")))
        .withColumn("cents",
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * lit(100.0)).cast("long"))
      Analytics.topMovers(li, "l_partkey", "cents", "period", "a", "b",
          k = 25)
        .orderBy(abs(col("delta")).desc, col("l_partkey"))
    }, oracle = Some(
      """WITH li AS (SELECT l_partkey AS k,
        |    CASE WHEN l_shipdate < TIMESTAMP '1998-01-01'
        |      THEN 'a' ELSE 'b' END AS p,
        |    CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0)
        |      AS BIGINT) AS cents
        |  FROM lineitem),
        |a AS (SELECT k, CAST(sum(cents) AS BIGINT) AS v_a FROM li
        |      WHERE p = 'a' GROUP BY 1),
        |b AS (SELECT k, CAST(sum(cents) AS BIGINT) AS v_b FROM li
        |      WHERE p = 'b' GROUP BY 1),
        |ra AS (SELECT k, v_a,
        |       row_number() OVER (ORDER BY v_a DESC, k ASC) AS rank_a
        |       FROM a),
        |rb AS (SELECT k, v_b,
        |       row_number() OVER (ORDER BY v_b DESC, k ASC) AS rank_b
        |       FROM b),
        |j AS (SELECT ra.k, v_a, v_b, rank_a, rank_b,
        |        rank_a - rank_b AS delta
        |      FROM ra JOIN rb ON ra.k = rb.k)
        |SELECT k AS l_partkey, v_a, v_b,
        |  CAST(rank_a AS BIGINT) AS rank_a,
        |  CAST(rank_b AS BIGINT) AS rank_b, CAST(delta AS BIGINT) AS delta
        |FROM j ORDER BY abs(delta) DESC, l_partkey LIMIT 25""".stripMargin)),
    // ── scale: Neyman allocation — per-stratum sample budget n_h ∝
    //    N_h·σ_h (the sampling-design report q100/q250's samplers
    //    consume); exact long/DECIMAL(38,0) sufficient statistics, double
    //    arithmetic only on the strata-sized frame (oracle: DuckDB
    //    HUGEINT sums + the same fixed parenthesization) ───────────────────
    QuerySpec("q301_neyman_alloc", (s, dir) => {
      Sampling.neymanAllocation(
          T(s, dir, "events").select("event_type", "value"),
          "event_type", "value", totalN = 1000L)
        .select(col("stratum"), col("n_rows"),
          round(col("std"), 6).as("std"),
          round(col("weight"), 4).as("weight"),
          round(col("alloc"), 6).as("alloc"))
        .orderBy("stratum")
    }, oracle = Some(
      """WITH b AS (SELECT event_type AS stratum,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS v FROM events),
        |s AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n_rows,
        |        CAST(sum(v) AS BIGINT) AS sv,
        |        sum(CAST(v AS HUGEINT) * v) AS ss
        |      FROM b GROUP BY 1),
        |d AS (SELECT stratum, n_rows,
        |        CASE WHEN n_rows > 1 THEN
        |          sqrt((CAST(n_rows AS DOUBLE) * CAST(ss AS DOUBLE)
        |            - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
        |            / (CAST(n_rows AS DOUBLE)
        |               * CAST(n_rows - 1 AS DOUBLE))) / 1000000.0
        |        ELSE 0.0 END AS std
        |      FROM s),
        |w AS (SELECT stratum, n_rows, std,
        |        CAST(n_rows AS DOUBLE) * std AS weight FROM d),
        |t AS (SELECT sum(weight) AS ws FROM w)
        |SELECT stratum, n_rows, round(std, 6) AS std,
        |  round(weight, 4) AS weight,
        |  round(CASE WHEN (SELECT ws FROM t) > 0.0
        |    THEN (1000.0 * weight) / (SELECT ws FROM t)
        |    ELSE 0.0 END, 6) AS alloc
        |FROM w ORDER BY stratum""".stripMargin)),
    // ── scale: robust per-group trend (sampled Theil–Sen) — the median
    //    slope a bad ingest day cannot drag (q198 OLS's outlier-proof
    //    sibling); deterministic md5 pairing, exact order-statistic
    //    medians, no fold-order surface anywhere (oracle: DuckDB replays
    //    hash, ranks, pairing, slopes, and both medians) ──────────────────
    QuerySpec("q299_robust_trend", (s, dir) => {
      val m = unix_micros(col("ts").cast("timestamp"))
      val d = lit(86400000000L)
      val ev = T(s, dir, "events").withColumn("day",
        ((m - pmod(m, d)) / d).cast("long"))
      Analytics.robustTrendPerGroup(ev, "event_type", "event_id", "day",
          "value")
        .select(col("event_type"), col("n_pairs"),
          round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"))
        .orderBy("event_type")
    }, oracle = Some(
      """WITH b AS (SELECT event_type AS g, event_id AS id,
        |    CAST((epoch_us(ts) - epoch_us(ts) % 86400000000)
        |      // 86400000000 AS DOUBLE) AS x,
        |    value AS y
        |  FROM events),
        |h AS (SELECT g, id, x, y,
        |    CAST(('0x' || substr(md5(g || ':' || CAST(id AS VARCHAR)
        |      || ':rt'), 1, 15)) AS BIGINT) AS hv
        |  FROM b),
        |r AS (SELECT g, id, x, y,
        |    row_number() OVER (PARTITION BY g ORDER BY hv DESC, id ASC)
        |      AS rk
        |  FROM h),
        |p AS (SELECT g, (rk - 1) // 2 AS pair, x, y, rk FROM r),
        |e AS (SELECT g, pair, count(*) AS n,
        |    arg_min(x, rk) AS x1, arg_min(y, rk) AS y1,
        |    arg_max(x, rk) AS x2, arg_max(y, rk) AS y2
        |  FROM p GROUP BY 1, 2 HAVING count(*) = 2),
        |s AS (SELECT g, pair, (y2 - y1) / (x2 - x1) AS sl
        |      FROM e WHERE x2 <> x1),
        |np AS (SELECT g, CAST(count(*) AS BIGINT) AS n_pairs
        |       FROM s GROUP BY 1),
        |rs AS (SELECT g, sl,
        |    row_number() OVER (PARTITION BY g ORDER BY sl ASC, pair ASC)
        |      AS rk,
        |    count(*) OVER (PARTITION BY g) AS n FROM s),
        |sm AS (SELECT g, sl AS slope FROM rs
        |       WHERE rk = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))),
        |res AS (SELECT b.g, b.id, b.y - (sm.slope * b.x) AS r
        |        FROM b JOIN sm ON b.g = sm.g),
        |rr AS (SELECT g, r,
        |    row_number() OVER (PARTITION BY g ORDER BY r ASC, id ASC)
        |      AS rk,
        |    count(*) OVER (PARTITION BY g) AS n FROM res),
        |im AS (SELECT g, r AS intercept FROM rr
        |       WHERE rk = greatest(1, CAST(ceil(0.5 * n) AS BIGINT)))
        |SELECT np.g AS event_type, n_pairs, round(sm.slope, 6) AS slope,
        |  round(im.intercept, 6) AS intercept
        |FROM np JOIN sm ON np.g = sm.g JOIN im ON np.g = im.g
        |ORDER BY event_type""".stripMargin)),
    // ── scale: Markov stationary distribution — where the user journey
    //    settles: 3 power-iteration rounds over q114's transition matrix
    //    (ONE corpus pass; every round is TYPE-cardinality arithmetic);
    //    dangling types self-loop so mass stays exactly 1 (oracle: DuckDB
    //    replays counts + 3 unrolled MATERIALIZED rounds, from-sorted
    //    folds) ────────────────────────────────────────────────────────────
    QuerySpec("q296_stationary_dist", (s, dir) => {
      Analytics.stationaryDistribution(T(s, dir, "events"), "user_id",
          "ts", "event_type", "event_id", rounds = 3, deterministic = true)
        .select(col("t"), round(col("pi"), 6).as("pi"))
        .orderBy("t")
    }, bench = Some((s, dir) => {
      // q296 benches the PRODUCTION path (plain sums over the types-sized
      // matrix; the from-sorted fold exists for the SQL replay)
      val ev = T(s, dir, "events")
      () => Analytics.stationaryDistribution(ev, "user_id", "ts",
          "event_type", "event_id", rounds = 3)
        .select(col("t"), round(col("pi"), 6).as("pi"))
        .orderBy("t")
    }), oracle = Some({
      def rnd(k: Int): String =
        s"""r$k AS MATERIALIZED (
           |  SELECT ty.t,
           |    coalesce(inf.v, 0.0) + coalesce(slf.v, 0.0) AS pi
           |  FROM ty
           |  LEFT JOIN (SELECT m.t2 AS t,
           |      list_reduce(
           |        list((p.pi * CAST(m.n AS DOUBLE)) / CAST(m.tot AS DOUBLE)
           |             ORDER BY m.f),
           |        (a, b) -> a + b) AS v
           |    FROM m JOIN r${k - 1} p ON p.t = m.f GROUP BY m.t2) inf
           |    ON inf.t = ty.t
           |  LEFT JOIN (SELECT p.t, p.pi AS v FROM r${k - 1} p
           |    WHERE p.t NOT IN (SELECT f FROM m)) slf
           |    ON slf.t = ty.t)""".stripMargin
      s"""WITH p0 AS (SELECT user_id, event_type,
         |    lag(event_type) OVER (PARTITION BY user_id
         |                          ORDER BY ts, event_id) AS prev
         |  FROM events),
         |c AS (SELECT prev AS f, event_type AS t2,
         |        CAST(count(*) AS BIGINT) AS n
         |      FROM p0 WHERE prev IS NOT NULL GROUP BY 1, 2),
         |tt AS (SELECT f, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1),
         |m AS MATERIALIZED (SELECT c.f, c.t2, c.n, tt.tot
         |     FROM c JOIN tt USING (f)),
         |ty AS MATERIALIZED (SELECT DISTINCT t FROM
         |     (SELECT f AS t FROM m UNION ALL SELECT t2 FROM m)),
         |nt AS (SELECT CAST(count(*) AS DOUBLE) AS nt FROM ty),
         |r0 AS MATERIALIZED (SELECT t, 1.0 / (SELECT nt FROM nt) AS pi
         |     FROM ty),
         |${rnd(1)},
         |${rnd(2)},
         |${rnd(3)}
         |SELECT t, round(pi, 6) AS pi FROM r3 ORDER BY t""".stripMargin
    })),
    // ── scale: dedup-aware token budget — the curation flow end-to-end:
    //    near-dup pairs → components → keep-best representative per
    //    cluster → THEN budget-select by quality, so a duplicated
    //    document charges the budget once (budgeting before dedup
    //    overfills the budget with copies of whatever scores well)
    //    (oracle: q70's closure + keep-best replay feeding q79's cumsum) ───
    QuerySpec("q289_dedup_budget", (s, dir) => {
      val u = lshInputQ46(s, dir)
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .withColumn("ntok", TextAnalysis.tokenCount(col("text")).cast("long"))
      val pairs = Dedup.minhashNearDupPairs(u, "doc_id", "text",
        shingleSize = 3, bands = 16, rowsPerBand = 2, threshold = 0.55)
      val winners = Dedup.dedupByComponentsKeepBest(u, "doc_id", pairs,
        "quality")
      Sampling.selectByTokenBudget(
          winners.select(col("doc_id"), round(col("quality"), 6).as("quality"),
            col("ntok")),
          "doc_id", "ntok", "quality", budget = 40000L)
        .orderBy("doc_id")
    }, oracle = Some(
      s"""WITH RECURSIVE u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
         |  FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id,
         |    text || ' extra token and more extra' AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |t AS (
         |  SELECT doc_id, $shingle3Sql AS sh
         |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)),
         |    '\\s+') AS toks FROM u)),
         |e0 AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |    >= 0.55),
         |edges AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
         |r(s, d) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.s, e.b FROM r JOIN edges e ON e.a = r.d),
         |comp AS (SELECT s AS id, least(s, min(d)) AS c FROM r GROUP BY s),
         |q AS (SELECT doc_id, ${qualitySql.replace("\n", "\n  ")} AS quality,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
         |      AS ntok
         |  FROM u),
         |win AS (SELECT comp.id, row_number() OVER (PARTITION BY comp.c
         |          ORDER BY q.quality DESC, comp.id) AS rk
         |        FROM comp JOIN q ON q.doc_id = comp.id),
         |keep AS (SELECT doc_id FROM u
         |  WHERE doc_id NOT IN (SELECT id FROM comp)
         |     OR doc_id IN (SELECT id FROM win WHERE rk = 1)),
         |c AS (SELECT q.doc_id, q.quality, q.ntok,
         |    sum(q.ntok) OVER (ORDER BY q.quality DESC, q.doc_id) AS cum_tok
         |  FROM q JOIN keep ON keep.doc_id = q.doc_id)
         |SELECT doc_id, quality, ntok, CAST(cum_tok AS BIGINT) AS cum_tok
         |FROM c WHERE cum_tok <= 40000 ORDER BY doc_id""".stripMargin)),
    // ── scale: per-group min-max scaling — the linear feature-scaling
    //    companion to q161's rank-based normalization (oracle: DuckDB
    //    replays stats and the fixed-paren projection) ─────────────────────
    QuerySpec("q162_minmax_scale", (s, dir) => {
      Analytics.minMaxScalePerGroup(
          T(s, dir, "orders").select("o_orderpriority", "o_orderkey",
            "o_totalprice"),
          "o_orderpriority", "o_orderkey", "o_totalprice")
        .select(col("o_orderpriority"), col("o_orderkey"),
          round(col("scaled"), 6).as("scaled"))
        .orderBy("o_orderkey")
    }, oracle = Some(
      """WITH s AS (SELECT o_orderpriority AS g, min(o_totalprice) AS mn,
        |    max(o_totalprice) AS mx FROM orders GROUP BY 1)
        |SELECT o.o_orderpriority, o.o_orderkey,
        |  round(CASE WHEN s.mx = s.mn THEN CAST(0.0 AS DOUBLE)
        |             ELSE (o.o_totalprice - s.mn) / (s.mx - s.mn) END, 6)
        |    AS scaled
        |FROM orders o JOIN s ON o.o_orderpriority = s.g
        |ORDER BY o.o_orderkey""".stripMargin)),
    // ── scale: cross-source quantile normalization — each row mapped to
    //    the POOLED value at its within-source percentile (batch-effect
    //    correction, exact order statistics) (oracle: DuckDB replays both
    //    rank machines and the target-rank arithmetic) ─────────────────────
    QuerySpec("q161_quantile_normalize", (s, dir) => {
      Analytics.quantileNormalize(
          T(s, dir, "orders").select("o_orderpriority", "o_orderkey",
            "o_totalprice"),
          "o_orderpriority", "o_orderkey", "o_totalprice")
        .select(col("o_orderpriority"), col("o_orderkey"),
          round(col("normalized"), 6).as("normalized"))
        .orderBy("o_orderkey")
    }, oracle = Some(
      """WITH d AS (SELECT o_orderpriority AS g, o_orderkey AS id,
        |    o_totalprice AS v FROM orders),
        |p AS (SELECT g, id,
        |        row_number() OVER (PARTITION BY g ORDER BY v ASC, id ASC)
        |          AS r,
        |        count(*) OVER (PARTITION BY g) AS ng
        |      FROM d),
        |pp AS (SELECT g, id,
        |         CASE WHEN ng = 1 THEN CAST(0.0 AS DOUBLE)
        |              ELSE CAST(r - 1 AS DOUBLE) / CAST(ng - 1 AS DOUBLE)
        |         END AS pct
        |       FROM p),
        |gl AS (SELECT v, row_number() OVER (ORDER BY v ASC, g ASC, id ASC)
        |         AS gr FROM d),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
        |SELECT pp.g AS o_orderpriority, pp.id AS o_orderkey,
        |  round(gl.v, 6) AS normalized
        |FROM pp JOIN gl ON gl.gr =
        |  CAST(floor((pct * CAST((SELECT n FROM n) - 1 AS DOUBLE)) +
        |    CAST(0.5 AS DOUBLE)) AS BIGINT) + 1
        |ORDER BY o_orderkey""".stripMargin)),
    // ── scale: linear multi-touch attribution — each purchase splits one
    //    credit unit across the trailing-window touches (Σ credit =
    //    conversions exactly; zero-touch → "(direct)") (oracle: DuckDB
    //    replays the window join, counts, and the sorted credit fold) ──────
    QuerySpec("q156_attribution", (s, dir) => {
      Analytics.linearAttribution(T(s, dir, "events"), "user_id", "ts",
          "event_id", "event_type", conversionType = "purchase",
          windowSeconds = 600L, deterministic = true)
        .select(col("channel"), col("touched_conversions"),
          round(col("credit"), 6).as("credit"))
        .orderBy("channel")
    }, oracle = Some(
      """WITH base AS (SELECT user_id AS u, CAST(epoch_us(ts) AS BIGINT)
        |    AS tsu, event_id AS id, event_type AS t FROM events),
        |conv AS (SELECT u, tsu AS cts, id AS cid FROM base
        |         WHERE t = 'purchase'),
        |touch AS (SELECT u, tsu AS tts, id AS tid, t AS channel FROM base
        |          WHERE t <> 'purchase'),
        |m AS MATERIALIZED (SELECT conv.cid, touch.channel, touch.tid
        |     FROM conv JOIN touch ON conv.u = touch.u
        |     WHERE touch.tts <= conv.cts
        |       AND touch.tts > conv.cts - 600000000),
        |cnt AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY 1),
        |att AS (SELECT m.channel AS channel, m.cid AS cid, m.tid AS tid,
        |          CAST(1.0 AS DOUBLE) / CAST(cnt.n AS DOUBLE) AS credit
        |        FROM m JOIN cnt USING (cid)
        |        UNION ALL
        |        SELECT '(direct)', conv.cid, -1, CAST(1.0 AS DOUBLE)
        |        FROM conv LEFT JOIN cnt ON conv.cid = cnt.cid
        |        WHERE cnt.cid IS NULL)
        |SELECT channel,
        |  CAST(count(DISTINCT cid) AS BIGINT) AS touched_conversions,
        |  round(list_reduce(list(credit ORDER BY cid, tid),
        |    (a, b) -> a + b), 6) AS credit
        |FROM att GROUP BY channel ORDER BY channel""".stripMargin)),
    // ── scale: Kaplan–Meier survival — time-to-first-error curve in
    //    hours (product-limit estimator with censoring support) (oracle:
    //    DuckDB replays at-risk suffix sums and the ascending product) ─────
    QuerySpec("q152_kaplan_meier", (s, dir) => {
      val ev = T(s, dir, "events")
      val subj = ev.groupBy("user_id").agg(
        min(unix_micros(col("ts"))).as("__first"),
        min(when(col("event_type") === "error", unix_micros(col("ts"))))
          .as("__ferr"))
      val g = ev.agg(max(unix_micros(col("ts"))).as("__gmx"))
      val d = subj.crossJoin(broadcast(g))
        .select(
          expr("coalesce(__ferr - __first, __gmx - __first) div 3600000000")
            .as("t_hours"),
          col("__ferr").isNotNull.as("ev"))
      Analytics.kaplanMeier(d, "t_hours", "ev")
        .select(col("t"), col("n_risk"), col("events"),
          round(col("survival"), 6).as("survival"))
        .orderBy("t")
    }, oracle = Some(
      """WITH s AS (SELECT user_id,
        |    CAST(min(epoch_us(ts)) AS BIGINT) AS fst,
        |    CAST(min(CASE WHEN event_type = 'error' THEN epoch_us(ts) END)
        |      AS BIGINT) AS ferr
        |  FROM events GROUP BY 1),
        |g AS (SELECT CAST(max(epoch_us(ts)) AS BIGINT) AS gmx FROM events),
        |subj AS (SELECT
        |    coalesce(ferr - fst, (SELECT gmx FROM g) - fst) // 3600000000
        |      AS t,
        |    ferr IS NOT NULL AS e
        |  FROM s),
        |byt AS (SELECT t, CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT)
        |          AS d, CAST(count(*) AS BIGINT) AS c
        |        FROM subj GROUP BY 1),
        |risk AS (SELECT t, d, c,
        |           CAST(sum(c) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED
        |             PRECEDING AND CURRENT ROW) AS BIGINT) AS n
        |         FROM byt),
        |ev AS (SELECT t, d, n,
        |         CAST(1.0 AS DOUBLE) - (CAST(d AS DOUBLE) / CAST(n AS DOUBLE))
        |           AS term
        |       FROM risk WHERE d > 0)
        |SELECT a.t AS t, min(a.n) AS n_risk, min(a.d) AS events,
        |  round(list_reduce(list(b.term ORDER BY b.t), (x, y) -> x * y), 6)
        |    AS survival
        |FROM ev a JOIN ev b ON b.t <= a.t
        |GROUP BY a.t ORDER BY t""".stripMargin)),
    // ── scale: weighted draws WITH replacement — multinomial corpus
    //    mixing as a pure function of (seed, draw): inverse-CDF crossing
    //    rows on the id-ordered cumulative weight (oracle: DuckDB replays
    //    hashes, cumsums, and crossings) ───────────────────────────────────
    QuerySpec("q149_weighted_draws", (s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("w"))
      Sampling.weightedDraws(d, "doc_id", "w", k = 20, seed = 7L)
        .select(col("draw"), col("id"), col("w"), round(col("u"), 6).as("u"))
        .orderBy("draw")
    }, oracle = Some(
      s"""WITH d AS (SELECT doc_id AS id,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS w
         |  FROM documents),
         |c AS (SELECT id, w, sum(w) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED
         |        PRECEDING AND CURRENT ROW) AS cum FROM d),
         |wt AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM d),
         |dr AS (SELECT CAST(i AS INT) AS draw,
         |         CAST((('0x' || substr(md5('7:' || i::VARCHAR), 1, 15))
         |           ::UBIGINT + 1) AS DOUBLE) /
         |           CAST(${math.pow(2.0, 60)} AS DOUBLE) AS u
         |       FROM (SELECT unnest(range(1, 21)) AS i))
         |SELECT draw, id, CAST(w AS BIGINT) AS w, round(u, 6) AS u
         |FROM c JOIN dr
         |  ON CAST(cum AS DOUBLE) >= u * CAST((SELECT wt FROM wt) AS DOUBLE)
         | AND CAST(cum - w AS DOUBLE) < u * CAST((SELECT wt FROM wt) AS DOUBLE)
         |ORDER BY draw""".stripMargin)),
    // ── scale: time-weighted average per key — duration-weighted mean for
    //    irregularly-sampled state; exact micros durations, ts-sorted fold
    //    on the gate path (oracle: DuckDB replays gaps and the fold) ───────
    QuerySpec("q150_twap", (s, dir) => {
      Analytics.timeWeightedAverage(T(s, dir, "events"), "user_id", "ts",
          "event_id", "value", deterministic = true)
        .select(col("user_id"), col("n_intervals"), col("total_micros"),
          round(col("twap"), 6).as("twap"))
        .orderBy("user_id")
    }, bench = Some((s, dir) => {
      // q150 benches the PRODUCTION fold (plain sums; ts-sorted folds are
      // the oracle-replay artifact)
      val ev = T(s, dir, "events")
      () => Analytics.timeWeightedAverage(ev, "user_id", "ts",
          "event_id", "value")
        .select(col("user_id"), col("n_intervals"), col("total_micros"),
          round(col("twap"), 6).as("twap"))
        .orderBy("user_id")
    }), oracle = Some(
      """WITH d AS (SELECT user_id, ts, event_id, value,
        |        epoch_us(lead(ts) OVER w) - epoch_us(ts) AS dt
        |      FROM events
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |f AS (SELECT user_id, ts, event_id, value, dt,
        |        value * CAST(dt AS DOUBLE) AS vd
        |      FROM d WHERE dt IS NOT NULL)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        |  CAST(sum(dt) AS BIGINT) AS total_micros,
        |  round(list_reduce(list(vd ORDER BY ts, event_id),
        |      (a, b) -> a + b) /
        |    CAST(CAST(sum(dt) AS BIGINT) AS DOUBLE), 6) AS twap
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin)),
    // ── scale: exact trimmed mean per group — robust central tendency on
    //    exact cents (kept-sum is an order-free long); ranks ride the
    //    pruned per-(range, group) machinery (oracle: DuckDB replays
    //    ranks, cuts, and the one division) ────────────────────────────────
    QuerySpec("q147_trimmed_mean", (s, dir) => {
      Analytics.trimmedMeanPerGroup(T(s, dir, "orders"),
          "o_orderpriority", "o_orderkey",
          round(col("o_totalprice") * 100), frac = 0.1)
        .select(col("group"), col("n_total"), col("n_kept"),
          round(col("mean"), 6).as("mean"))
        .orderBy("group")
    }, oracle = Some(
      """WITH d AS (SELECT o_orderpriority AS g, o_orderkey AS id,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |r AS (SELECT g, id, cents,
        |        row_number() OVER (PARTITION BY g
        |          ORDER BY CAST(cents AS DOUBLE) DESC, id) AS rank,
        |        count(*) OVER (PARTITION BY g) AS n
        |      FROM d),
        |k AS (SELECT g, n, cents FROM r
        |      WHERE rank > floor(CAST(n AS DOUBLE) * CAST(0.1 AS DOUBLE))
        |        AND rank <= n - floor(CAST(n AS DOUBLE) * CAST(0.1 AS DOUBLE)))
        |SELECT g AS "group", CAST(min(n) AS BIGINT) AS n_total,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  round(CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE), 6) AS mean
        |FROM k GROUP BY g ORDER BY "group"""".stripMargin)),
    // ── scale: two-proportion z-test — A/B experiment readout over
    //    per-user conversion; sufficient statistics are exact longs in one
    //    single-row aggregate (oracle: DuckDB replays counts and the
    //    fixed-paren z) ─────────────────────────────────────────────────────
    QuerySpec("q141_ab_test", (s, dir) => {
      // conversion = a heavy purchaser (>= 14 purchase events; nearly every
      // user has >= 1, which would make the test degenerate)
      val users = T(s, dir, "events").groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("np"))
      Analytics.proportionZTest(users,
          col("user_id") % 2 === 0, col("np") >= 14L)
        .select(col("n1"), col("x1"), col("n2"), col("x2"),
          round(col("p1"), 6).as("p1"), round(col("p2"), 6).as("p2"),
          round(col("z"), 6).as("z"))
    }, oracle = Some(
      """WITH u AS (SELECT user_id,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      >= 14 THEN 1 ELSE 0 END AS conv
        |  FROM events GROUP BY 1),
        |t AS (SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS a, conv
        |      FROM u),
        |s AS (SELECT CAST(sum(a) AS BIGINT) AS n1,
        |        CAST(sum(a * conv) AS BIGINT) AS x1,
        |        CAST(sum(1 - a) AS BIGINT) AS n2,
        |        CAST(sum((1 - a) * conv) AS BIGINT) AS x2
        |      FROM t)
        |SELECT n1, x1, n2, x2,
        |  round(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS p1,
        |  round(CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS p2,
        |  round((CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) -
        |         CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE)) /
        |    sqrt((((CAST(x1 AS DOUBLE) + CAST(x2 AS DOUBLE)) /
        |           (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) *
        |          (CAST(1.0 AS DOUBLE) -
        |           ((CAST(x1 AS DOUBLE) + CAST(x2 AS DOUBLE)) /
        |            (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))))) *
        |         ((CAST(1.0 AS DOUBLE) / CAST(n1 AS DOUBLE)) +
        |          (CAST(1.0 AS DOUBLE) / CAST(n2 AS DOUBLE)))), 6) AS z
        |FROM s""".stripMargin)),
    // ── scale: equal-frequency binning — every row's global-rank decile
    //    via integer div (equal-POPULATION buckets where q137's equal-
    //    width bins skew); per-bucket count + value edges (oracle: DuckDB
    //    replays ranks, buckets, and edges) ────────────────────────────────
    QuerySpec("q140_quantile_bins", (s, dir) => {
      val li = T(s, dir, "lineitem")
        .select(concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string")).as("rid"),
          col("l_extendedprice"))
      Sampling.quantileBins(li, "rid", "l_extendedprice", bins = 10)
        .select(col("bucket"), col("cnt"), round(col("lo"), 6).as("lo"),
          round(col("hi"), 6).as("hi"))
        .orderBy("bucket")
    }, oracle = Some(
      """WITH d AS (SELECT l_orderkey::VARCHAR || ':' ||
        |    l_linenumber::VARCHAR AS rid, l_extendedprice AS v
        |  FROM lineitem),
        |r AS (SELECT v, row_number() OVER (ORDER BY v, rid) AS rank FROM d),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |b AS (SELECT v, ((rank - 1) * 10) // (SELECT n FROM n) AS bucket
        |      FROM r)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS cnt,
        |  round(min(v), 6) AS lo, round(max(v), 6) AS hi
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),
    // ── scale: Lorenz curve + Gini — token-mass concentration across
    //    docs on the distributed-cumsum idiom; Σ rank·w is an exact long
    //    (oracle: DuckDB replays ranks, cumsums, targets, and the
    //    fixed-paren Gini) ─────────────────────────────────────────────────
    QuerySpec("q138_lorenz_gini", (s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("w"))
      Sampling.lorenzGini(d, "doc_id", "w", deciles = 10)
        .select(col("decile"), col("target_rank"),
          round(col("cum_share"), 6).as("cum_share"),
          round(col("gini"), 6).as("gini"))
        .orderBy("decile")
    }, oracle = Some(
      """WITH d AS (SELECT doc_id AS id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS w
        |  FROM documents),
        |r AS (SELECT id, w,
        |        row_number() OVER (ORDER BY w, id) AS rank,
        |        sum(w) OVER (ORDER BY w, id ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND CURRENT ROW) AS cumw
        |      FROM d),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(w) AS BIGINT) AS wt FROM d),
        |s AS (SELECT CAST(sum(rank * w) AS BIGINT) AS s FROM r),
        |t AS (SELECT unnest(range(1, 11)) AS decile)
        |SELECT t.decile AS decile,
        |  ((SELECT n FROM n) * t.decile) // 10 AS target_rank,
        |  round(CAST(r.cumw AS DOUBLE) /
        |    CAST((SELECT wt FROM n) AS DOUBLE), 6) AS cum_share,
        |  round(((CAST(2.0 AS DOUBLE) * CAST((SELECT s FROM s) AS DOUBLE)) /
        |    (CAST((SELECT n FROM n) AS DOUBLE) *
        |     CAST((SELECT wt FROM n) AS DOUBLE))) -
        |    ((CAST((SELECT n FROM n) AS DOUBLE) + CAST(1.0 AS DOUBLE)) /
        |     CAST((SELECT n FROM n) AS DOUBLE)), 6) AS gini
        |FROM t JOIN r ON r.rank = ((SELECT n FROM n) * t.decile) // 10
        |ORDER BY decile""".stripMargin)),
    // ── scale: co-occurrence mining — support/lift of parts sharing an
    //    order, pairs generated IN-ROW from each basket's sorted item
    //    array (no self-join); top-k by exact pair count (oracle: DuckDB
    //    replays via the relational self-join formulation) ────────────────
    QuerySpec("q135_co_occurrence", (s, dir) => {
      Analytics.coOccurrencePairs(T(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", topK = 20)
        .select(col("item_a"), col("item_b"), col("cnt"),
          round(col("support"), 6).as("support"),
          round(col("lift"), 6).as("lift"))
        .orderBy(col("cnt").desc, col("item_a"), col("item_b"))
    }, oracle = Some(
      """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |           FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS nb FROM b),
        |i AS (SELECT it, CAST(count(*) AS BIGINT) AS ci FROM b GROUP BY 1),
        |p AS (SELECT a.it AS item_a, b2.it AS item_b,
        |        CAST(count(*) AS BIGINT) AS cnt
        |      FROM b a JOIN b b2 ON a.bk = b2.bk AND a.it < b2.it
        |      GROUP BY 1, 2),
        |s AS (SELECT item_a, item_b, cnt,
        |        CAST(cnt AS DOUBLE) / CAST((SELECT nb FROM n) AS DOUBLE)
        |          AS support,
        |        (CAST(cnt AS DOUBLE) * CAST((SELECT nb FROM n) AS DOUBLE)) /
        |        (CAST(ia.ci AS DOUBLE) * CAST(ib.ci AS DOUBLE)) AS lift
        |      FROM p JOIN i ia ON p.item_a = ia.it
        |             JOIN i ib ON p.item_b = ib.it)
        |SELECT item_a, item_b, cnt, round(support, 6) AS support,
        |  round(lift, 6) AS lift
        |FROM s ORDER BY cnt DESC, item_a, item_b LIMIT 20""".stripMargin)),
    // ── scale: per-source keyness — Dunning log-likelihood G² picks the
    //    WORDS that make each source distinctive (divergence q106 says how
    //    far; this says why); top-k rides the pruned per-group rank core
    //    (oracle: DuckDB replays counts, expectations, ln terms, ranks) ───
    QuerySpec("q130_source_keyness", (s, dir) => {
      Importance.sourceKeyness(T(s, dir, "documents").select("source", "text"),
          "source", "text", topK = 5)
        .select(col("source"), col("term"), round(col("g2"), 6).as("g2"),
          col("rank"))
        .orderBy("source", "rank")
    }, oracle = Some(
      """WITH tok AS (SELECT source,
        |       unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |     FROM documents),
        |counts AS (SELECT source, w, count(*) AS c FROM tok
        |           WHERE w <> '' GROUP BY 1, 2),
        |gt AS (SELECT source, CAST(sum(c) AS BIGINT) AS cg
        |       FROM counts GROUP BY 1),
        |wt AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM counts GROUP BY 1),
        |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM counts),
        |s AS (SELECT source, w, c, cw,
        |        CAST(c AS DOUBLE) AS a,
        |        CAST(cw - c AS DOUBLE) AS b,
        |        CAST(cg AS DOUBLE) AS cc,
        |        CAST((SELECT n FROM nn) AS DOUBLE) AS nd
        |      FROM counts JOIN gt USING (source) JOIN wt USING (w)),
        |g AS (SELECT source, w AS term,
        |        CAST(2.0 AS DOUBLE) *
        |          ((a * ln(a / ((cc * (a + b)) / nd))) +
        |           CASE WHEN cw = c THEN CAST(0.0 AS DOUBLE)
        |                ELSE b * ln(b / (((nd - cc) * (a + b)) / nd)) END)
        |          AS g2
        |      FROM s WHERE (a * nd) > (cc * (a + b))),
        |r AS (SELECT source, term, g2,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY g2 DESC, term) AS rank
        |      FROM g QUALIFY rank <= 5)
        |SELECT source, term, round(g2, 6) AS g2, rank
        |FROM r ORDER BY source, rank""".stripMargin)),
    // ── scale: deterministic train/eval/test split — fold membership is a
    //    pure function of the key hash, disjoint and exhaustive (oracle:
    //    DuckDB replays the bucket thresholds) ─────────────────────────────
    QuerySpec("q122_hash_split", (s, dir) => {
      val d = T(s, dir, "documents").select("doc_id")
      Sampling.hashSplit(d, "doc_id", Seq(0.8, 0.1, 0.1)).zipWithIndex
        .map { case (f, i) => f.withColumn("fold", lit(i)) }
        .reduce(_ unionByName _)
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH h AS (SELECT doc_id,
        |  ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT % 1000000 AS b
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN b < 800000 THEN 0 WHEN b < 900000 THEN 1 ELSE 2 END AS fold
        |FROM h ORDER BY doc_id""".stripMargin)),
    // ── scale: per-source weighted quantiles — each source's own
    //    token-mass crossing rows (oracle: DuckDB replays the per-source
    //    cumsum windows and crossing conditions) ──────────────────────────
    QuerySpec("q121_group_weighted_quantiles", (s, dir) => {
      val d = T(s, dir, "documents").select(col("source"), col("doc_id"),
        col("n_chars").cast("double").as("score"),
        TextAnalysis.tokenCount(col("text")).as("w"))
      Sampling.weightedQuantilesPerGroup(d, "source", "doc_id", "score", "w",
          Seq(0.25, 0.5, 0.75))
        .orderBy("source", "q")
    }, oracle = Some(
      """WITH d AS (SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS score,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS w
        |  FROM documents),
        |c AS (SELECT source, doc_id, score, w,
        |        sum(w) OVER (PARTITION BY source ORDER BY score, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM d),
        |tot AS (SELECT source, CAST(sum(w) AS DOUBLE) AS tw FROM d GROUP BY 1),
        |qs AS (SELECT unnest(CAST([0.25, 0.5, 0.75] AS DOUBLE[])) AS q)
        |SELECT source, q, score AS value, CAST(cum AS BIGINT) AS cum_weight
        |FROM c JOIN tot USING (source) CROSS JOIN qs
        |WHERE cum >= q * tw AND (cum - w) < q * tw
        |ORDER BY source, q""".stripMargin)),
    // ── scale: exact weighted quantiles — "median document length BY
    //    TOKEN MASS": the crossing row of the cumulative weight, range-
    //    pruned (oracle: DuckDB replays the global cumsum and the
    //    crossing condition) ─────────────────────────────────────────────
    QuerySpec("q119_weighted_quantiles", (s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"),
        col("n_chars").cast("double").as("score"),
        TextAnalysis.tokenCount(col("text")).as("w"))
      Sampling.weightedQuantiles(d, "doc_id", "score", "w",
          Seq(0.1, 0.25, 0.5, 0.75, 0.9, 1.0))
        .orderBy("q")
    }, oracle = Some(
      """WITH d AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS score,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS w
        |  FROM documents),
        |c AS (SELECT doc_id, score, w,
        |        sum(w) OVER (ORDER BY score, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM d),
        |tot AS (SELECT CAST(sum(w) AS DOUBLE) AS tw FROM d),
        |qs AS (SELECT unnest(CAST([0.1, 0.25, 0.5, 0.75, 0.9, 1.0]
        |                          AS DOUBLE[])) AS q)
        |SELECT q, score AS value, CAST(cum AS BIGINT) AS cum_weight
        |FROM c CROSS JOIN tot CROSS JOIN qs
        |WHERE cum >= q * tw AND (cum - w) < q * tw
        |ORDER BY q""".stripMargin)),
    // ── scale: pairwise source divergence — smoothed Jensen–Shannon over
    //    unigram distributions, the "how different are my corpora" report
    //    (oracle: DuckDB replays counts, grid, smoothing, and the
    //    word-sorted fold bit-for-bit) ────────────────────────────────────
    QuerySpec("q106_source_divergence", (s, dir) => {
      Importance.sourceDivergence(
          T(s, dir, "documents").select("source", "text"),
          "source", "text", alpha = 0.5, deterministic = true)
        .select(col("source_a"), col("source_b"),
          round(col("js"), 6).as("js"))
        .orderBy("source_a", "source_b")
    }, bench = Some((s, dir) => {
      // q106 benches the PRODUCTION path: plain map-side-combined sums
      // (the word-sorted fold exists so the SQL oracle can replay it)
      val d = T(s, dir, "documents").select("source", "text")
      () => Importance.sourceDivergence(d, "source", "text", alpha = 0.5)
        .select(col("source_a"), col("source_b"),
          round(col("js"), 6).as("js"))
        .orderBy("source_a", "source_b")
    }), oracle = Some(
      """WITH toks AS (
        |  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |cnt AS (SELECT source, w, count(*) AS c FROM toks
        |        WHERE w <> '' GROUP BY 1, 2),
        |vocab AS (SELECT DISTINCT w FROM cnt),
        |vs AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM vocab),
        |tot AS (SELECT source, sum(c) AS n FROM cnt GROUP BY 1),
        |grid AS (SELECT t.source, vocab.w, coalesce(cnt.c, 0) AS c, t.n
        |         FROM vocab CROSS JOIN tot t
        |         LEFT JOIN cnt ON cnt.source = t.source AND cnt.w = vocab.w),
        |pr AS (SELECT source, w,
        |         (CAST(c AS DOUBLE) + 0.5) / (CAST(n AS DOUBLE) + 0.5 * vs.v) AS p
        |       FROM grid CROSS JOIN vs),
        |terms AS (SELECT a.source AS source_a, b.source AS source_b, a.w,
        |            0.5 * (a.p * ln(a.p / ((a.p + b.p) / 2.0)))
        |            + 0.5 * (b.p * ln(b.p / ((a.p + b.p) / 2.0))) AS t
        |          FROM pr a JOIN pr b ON a.w = b.w AND a.source < b.source)
        |SELECT source_a, source_b,
        |  round(list_reduce(list(t ORDER BY w), (x, y) -> x + y), 6) AS js
        |FROM terms GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin)),
    // ── scale: exact order-statistic quantiles per group — distributed
    //    rank machinery, no percentile_approx (oracle: DuckDB row_number
    //    windows pick the same values) ────────────────────────────────────
    QuerySpec("q103_group_quantiles", (s, dir) => {
      Analytics.discreteQuantilesPerGroup(
          T(s, dir, "events").select(col("event_type"), col("event_id"),
            col("value")),
          "event_type", "event_id", "value",
          Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99))
        .orderBy("event_type", "q")
    }, oracle = Some(
      """WITH r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY value ASC, event_id ASC) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |qs AS (SELECT unnest(CAST([0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
        |                          AS DOUBLE[])) AS q)
        |SELECT event_type, q, value
        |FROM r JOIN qs ON rk = greatest(1, CAST(ceil(q * n) AS BIGINT))
        |ORDER BY event_type, q""".stripMargin)),
    // ── scale: robust per-group outliers — modified z-score over discrete
    //    median/MAD (oracle: DuckDB replays both order statistics and the
    //    fixed-order z arithmetic) ────────────────────────────────────────
    QuerySpec("q104_robust_outliers", (s, dir) => {
      Analytics.robustOutliers(
          T(s, dir, "events").select(col("event_type"), col("event_id"),
            col("value")),
          "event_type", "event_id", "value", cutoff = 3.5)
        .select(col("event_type"), col("event_id"), col("value"),
          col("med"), col("mad"), round(col("z"), 6).as("z"))
        .orderBy("event_type", "event_id")
    }, oracle = Some(
      """WITH r AS (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY value ASC, event_id ASC) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |med AS (SELECT event_type, value AS med FROM r
        |        WHERE rk = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))),
        |d AS (SELECT r.event_type, event_id, value, med,
        |        abs(value - med) AS dev FROM r JOIN med USING (event_type)),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |                       ORDER BY dev ASC, event_id ASC) AS rk2,
        |        count(*) OVER (PARTITION BY event_type) AS n2 FROM d),
        |mad AS (SELECT event_type, dev AS mad FROM r2
        |        WHERE rk2 = greatest(1, CAST(ceil(0.5 * n2) AS BIGINT))),
        |f AS (SELECT d.event_type, event_id, value, med, mad,
        |        ((value - med) * 0.6745) / mad AS z
        |      FROM d JOIN mad USING (event_type) WHERE mad <> 0)
        |SELECT event_type, event_id, value, med, mad, round(z, 6) AS z
        |FROM f WHERE abs(z) > 3.5 ORDER BY event_type, event_id""".stripMargin)),
    // ── scale: weighted sample without replacement — priority sampling
    //    (Duffield–Lund–Thorup): u from the md5-60 hash, priority w/u,
    //    top-k via TakeOrderedAndProject, τ = (k+1)-th priority calibrates
    //    the unbiased estimator weight est_w = max(w, τ) (oracle: DuckDB
    //    replays the hash, the two divisions, the rank, and τ) ───────────
    QuerySpec("q99_priority_sample", (s, dir) => {
      Sampling.prioritySampleK(
          T(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", k = 50, seed = 11L)
        .orderBy(col("priority").desc, col("doc_id").asc)
    }, oracle = Some(
      """WITH pr AS (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
        |    CAST(n_chars AS DOUBLE) /
        |      ((('0x' || substr(md5(doc_id::VARCHAR || ':11'), 1, 15))::UBIGINT
        |        + 1)::DOUBLE / 1152921504606846976.0) AS priority
        |  FROM documents),
        |r AS (SELECT pr.*,
        |        row_number() OVER (ORDER BY priority DESC, doc_id ASC) AS rn
        |      FROM pr),
        |t AS (SELECT CASE WHEN (SELECT max(rn) FROM r) > 50
        |             THEN (SELECT priority FROM r WHERE rn = 51)
        |             ELSE 0.0 END AS tau)
        |SELECT doc_id, w, priority, greatest(w, t.tau) AS est_w
        |FROM r, t WHERE rn <= 50 ORDER BY priority DESC, doc_id ASC""".stripMargin)),
    // ── scale: exact-k uniform sample per source — hash-ranked draw, a
    //    pure function of (id, seed) (oracle: DuckDB replays the hash and
    //    the per-source rank window) ─────────────────────────────────────
    QuerySpec("q100_group_sample_k", (s, dir) => {
      Sampling.sampleKPerGroup(
          T(s, dir, "documents").select("source", "doc_id"),
          "source", "doc_id", k = 20L, seed = 5L)
        .orderBy("source", "pick")
    }, oracle = Some(
      """WITH h AS (
        |  SELECT source, doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':5'), 1, 15))::UBIGINT AS hv
        |  FROM documents),
        |r AS (SELECT source, doc_id,
        |        CAST(row_number() OVER (PARTITION BY source
        |                                ORDER BY hv ASC, doc_id ASC) AS BIGINT) AS pick
        |      FROM h)
        |SELECT source, doc_id, pick FROM r WHERE pick <= 20
        |ORDER BY source, pick""".stripMargin)),
    QuerySpec("q89_group_pct_rank", (s, dir) => {
      Sampling.percentRankPerGroup(
          T(s, dir, "documents").select(col("source"), col("doc_id"),
            col("n_chars").cast("double").as("score")),
          "source", "doc_id", "score")
        .select(col("source"), col("doc_id"), col("score"), col("rank"),
          round(col("pct"), 6).as("pct"))
        .orderBy("source", "rank")
    }, oracle = Some(
      """WITH r AS (
        |  SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS score,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id ASC) AS rank,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT source, doc_id, score, CAST(rank AS BIGINT) AS rank,
        |  CASE WHEN n = 1 THEN 0.0
        |       ELSE round((rank - 1) * 1.0 / (n - 1), 6) END AS pct
        |FROM r ORDER BY source, rank""".stripMargin)),
    // ── scale: deterministic training-order shuffle — position is a pure
    //    function of (key, seed) via the SQL-replayable md5-60 hash
    //    (oracle: DuckDB recomputes the hash and the global row_number) ──
    QuerySpec("q86_shuffle_order", (s, dir) => {
      Sampling.deterministicShuffle(
          T(s, dir, "documents").select("doc_id", "source"), "doc_id", seed = 7L)
        .select(col("doc_id"), col("source"), col("shuffle_idx"))
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH h AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':7'), 1, 15))::UBIGINT AS hv
        |  FROM documents)
        |SELECT doc_id, source,
        |  CAST(row_number() OVER (ORDER BY hv, doc_id) AS BIGINT) AS shuffle_idx
        |FROM h ORDER BY doc_id""".stripMargin)),
    // ── scale: per-group percentile filter — keep the best 30% of every
    //    source (oracle: DuckDB rank + count windows per source) ─────────
    QuerySpec("q85_group_top_fraction", (s, dir) => {
      Sampling.topFractionPerGroup(
          T(s, dir, "documents").select(col("source"), col("doc_id"),
            col("n_chars").cast("double").as("score")),
          "source", "doc_id", "score", frac = 0.3)
        .orderBy("source", "rank")
    }, oracle = Some(
      """WITH r AS (
        |  SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS score,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id ASC) AS rank,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT source, doc_id, score, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= ceil(n * 0.3)
        |ORDER BY source, rank""".stripMargin)))

  /** Unrolled Markov-attribution absorption rounds (q339): transitions
    * from the truncated per-user paths, then K to-sorted-fold rounds per
    * removal scenario (full + one per channel). `channels` must be the
    * sorted channel list present in the data. */
  private def markovOracleSql(channels: Seq[String], conv: String,
      rounds: Int): String = {
    val states = (channels :+ "(start)").sorted
    val stList = states.map(s => s"('$s')").mkString(", ")
    def scenario(tag: String, removed: Option[String]): String = {
      val st = removed.map(c => states.filterNot(_ == c)).getOrElse(states)
      val inList = st.map(s => s"'$s'").mkString(", ")
      val head =
        s""",
           |st$tag AS (SELECT * FROM (VALUES ${st.map(s => s"('$s')")
             .mkString(", ")}) AS s(st)),
           |pc$tag AS (SELECT s.st, coalesce(p.pr, CAST(0.0 AS DOUBLE))
           |      AS pc
           |  FROM st$tag s LEFT JOIN p ON p.f = s.st AND p.t2 = '(conv)'),
           |pt$tag AS (SELECT f, t2, pr FROM p
           |  WHERE f IN ($inList) AND t2 IN ($inList)),
           |a${tag}0 AS (SELECT st AS s, CAST(0.0 AS DOUBLE) AS a
           |  FROM st$tag)""".stripMargin
      val rs = (1 to rounds).map { t =>
        s""",
           |a$tag$t AS (SELECT pc.st AS s,
           |    pc.pc + coalesce(lr.v, CAST(0.0 AS DOUBLE)) AS a
           |  FROM pc$tag pc LEFT JOIN (
           |    SELECT p.f AS s,
           |      list_reduce(list((p.pr * a.a) ORDER BY p.t2),
           |        (x, y) -> x + y) AS v
           |    FROM pt$tag p JOIN a$tag${t - 1} a ON p.t2 = a.s
           |    GROUP BY p.f) lr ON pc.st = lr.s)""".stripMargin
      }.mkString
      head + rs
    }
    val scen = scenario("F", None) + channels.zipWithIndex.map {
      case (c, i) => scenario(s"C$i", Some(c)) }.mkString
    val rows = channels.zipWithIndex.map { case (c, i) =>
      s"""SELECT '$c' AS channel,
         |  (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM cnt
         |   WHERE t2 = '$c') AS touches,
         |  (SELECT a FROM aF$rounds WHERE s = '(start)') AS pf,
         |  (SELECT a FROM aC$i$rounds WHERE s = '(start)') AS pr2"""
        .stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH seqq AS (SELECT user_id AS u, ts, event_id AS o,
       |    event_type AS t,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS rn
       |  FROM events),
       |cr AS (SELECT u, min(rn) AS cr FROM seqq WHERE t = '$conv'
       |  GROUP BY 1),
       |tr AS (SELECT s.u, s.ts, s.o, s.t, s.rn FROM seqq s
       |  LEFT JOIN cr ON s.u = cr.u
       |  WHERE cr.cr IS NULL OR s.rn <= cr.cr),
       |steps AS (SELECT coalesce(lag(t) OVER (PARTITION BY u
       |      ORDER BY ts, o), '(start)') AS f,
       |    CASE WHEN t = '$conv' THEN '(conv)' ELSE t END AS t2
       |  FROM tr),
       |term AS (SELECT t AS f, '(null)' AS t2 FROM (
       |    SELECT t, rn, max(rn) OVER (PARTITION BY u) AS mx FROM tr) x
       |  WHERE rn = mx AND t <> '$conv'),
       |cnt AS (SELECT f, t2, CAST(count(*) AS BIGINT) AS n FROM
       |  (SELECT * FROM steps UNION ALL SELECT * FROM term) uu
       |  GROUP BY 1, 2),
       |tot AS (SELECT f, CAST(sum(n) AS BIGINT) AS tt FROM cnt
       |  GROUP BY 1),
       |p AS (SELECT cnt.f, cnt.t2,
       |    CAST(n AS DOUBLE) / CAST(tt AS DOUBLE) AS pr
       |  FROM cnt JOIN tot USING (f))$scen,
       |res AS ($rows),
       |es AS (SELECT list_reduce(list((pf - pr2) ORDER BY channel),
       |    (x, y) -> x + y) AS s FROM res)
       |SELECT channel, touches, round(pf, 6) AS p_conv_full,
       |  round(pr2, 6) AS p_conv_removed,
       |  round(pf - pr2, 6) AS removal_effect,
       |  round(CASE WHEN es.s > 0.0 THEN (pf - pr2) / es.s END, 6)
       |    AS share
       |FROM res, es ORDER BY channel""".stripMargin
  }
}
