package graft
package queries

import graft.operators._
import org.apache.spark.sql.functions._
import Shared._

/** Query specs of the Profiling tier: data profiling and sketches: column
  * profiles, quality checks, drift, dependency audits, HLL/KMV/CMS sketches. */
private[graft] object ProfilingQueries {
  def specs: Seq[QuerySpec] = Seq(
    // ── scale: Count-Min-sketch heavy hitters — bounded-memory term
    //    frequency estimation (d×w counter grid; est ≥ cnt always);
    //    threshold = 1/30 of total token mass (oracle: DuckDB replays
    //    every md5-bucketed cell and the min-over-rows estimate) ─────────
    QuerySpec("q90_cms_heavy_hitters", (s, dir) => {
      Sketches.cmsHeavyHittersByTotalFraction(
          T(s, dir, "documents").select("text"), "text",
          depth = 4, width = 1024, divisor = 30)
        .orderBy("term")
    }, oracle = Some(
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks
        |       WHERE term <> '' GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) // 30 AS mc FROM tf),
        |hrow AS (SELECT unnest(range(4)) AS r),
        |cells AS (
        |  SELECT r, ('0x' || substr(md5(r::VARCHAR || ':' || term), 1, 15))::UBIGINT
        |      % 1024 AS bucket,
        |    CAST(sum(cnt) AS BIGINT) AS c
        |  FROM tf CROSS JOIN hrow GROUP BY 1, 2),
        |est AS (
        |  SELECT tf.term, tf.cnt, min(c.c) AS est
        |  FROM tf CROSS JOIN hrow r
        |  JOIN cells c ON c.r = r.r
        |    AND c.bucket = ('0x' || substr(md5(r.r::VARCHAR || ':' || tf.term), 1, 15))::UBIGINT % 1024
        |  GROUP BY 1, 2)
        |SELECT term, cnt, CAST(est AS BIGINT) AS est
        |FROM est, tot WHERE est >= tot.mc ORDER BY term""".stripMargin)),
    // ── scale: HyperLogLog distinct shingles per source — deterministic
    //    md5-based registers, mergeable m-bounded state (oracle: DuckDB
    //    replays every register and the α·m²/Z estimate, small-range
    //    correction included) ───────────────────────────────────────────
    QuerySpec("q94_hll_distinct", (s, dir) => {
      // the exploded (source, shingle) frame feeds both the register build
      // and the exact-count verify column — checkpoint it once
      val sh = T(s, dir, "documents")
        .select(col("source"), explode(Dedup.shingles(col("text"), 3)).as("sh"))
        .localCheckpoint(true)
      val est = Sketches.hllEstimate(sh, Seq("source"), "sh", m = 256)
      sh.groupBy("source").agg(countDistinct(col("sh")).as("exact_distinct"))
        .join(est, Seq("source"))
        .select(col("source"), col("exact_distinct"), round(col("est"), 6).as("est"))
        .orderBy("source")
    }, oracle = Some(
      s"""WITH s AS (
         |  SELECT source, unnest($shingle3Sql) AS sh
         |  FROM (SELECT source, string_split_regex(trim(lower(text)), '\\s+') AS toks
         |        FROM documents)),
         |h AS (SELECT source, sh,
         |        ('0x' || substr(md5(sh), 1, 15))::UBIGINT AS hv FROM s),
         |hb AS (SELECT source, hv & 255 AS bucket, hv >> 8 AS v FROM h),
         |r AS (SELECT source, bucket, max(${hllRhoSql("v", 52)}) AS M
         |      FROM hb GROUP BY 1, 2),
         |e AS (SELECT source,
         |        list_reduce(list(power(2.0, -M) ORDER BY bucket), (a, b) -> a + b)
         |          + (256.0 - count(*)) AS z,
         |        256.0 - count(*) AS v0
         |      FROM r GROUP BY 1),
         |x AS (SELECT source,
         |        CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / z <= 640.0
         |               AND v0 > 0.0
         |          THEN 256.0 * ln(256.0 / v0)
         |          ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / z END AS est
         |      FROM e),
         |d AS (SELECT source, count(DISTINCT sh) AS exact_distinct FROM s GROUP BY 1)
         |SELECT d.source, CAST(exact_distinct AS BIGINT) AS exact_distinct,
         |  round(est, 6) AS est
         |FROM d JOIN x USING (source) ORDER BY source""".stripMargin)),
    // ── scale: rolling 7-day distinct users via HLL register MERGE —
    //    daily registers are the only state, window merge is max(M) per
    //    (day, bucket) (oracle: DuckDB replays registers, fan-out, merge,
    //    and the α·m²/Z estimate) ─────────────────────────────────────────
    QuerySpec("q111_hll_rolling", (s, dir) => {
      Sketches.hllRollingDistinct(T(s, dir, "events"), "ts", "user_id",
          m = 256, windowDays = 7)
        .select(col("day"), round(col("est"), 6).as("est"))
        .orderBy("day")
    }, oracle = Some(
      s"""WITH e AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
         |           FROM events),
         |h AS (SELECT day,
         |        ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT AS hv
         |      FROM e),
         |hb AS (SELECT day, hv & 255 AS bucket, hv >> 8 AS v FROM h),
         |r AS (SELECT day, bucket, max(${hllRhoSql("v", 52)}) AS M
         |      FROM hb GROUP BY 1, 2),
         |c AS (SELECT day + CAST(i AS INTEGER) AS day, bucket, M
         |      FROM r CROSS JOIN (SELECT unnest(range(0, 7)) AS i)),
         |mg AS (SELECT day, bucket, max(M) AS M FROM c GROUP BY 1, 2),
         |pd AS (SELECT DISTINCT day FROM r),
         |z AS (SELECT mg.day,
         |        list_reduce(list(power(2.0, -M) ORDER BY bucket), (a, b) -> a + b)
         |          + (256.0 - count(*)) AS z,
         |        256.0 - count(*) AS v0
         |      FROM mg JOIN pd ON mg.day = pd.day GROUP BY 1),
         |x AS (SELECT day,
         |        CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / z <= 640.0
         |               AND v0 > 0.0
         |          THEN 256.0 * ln(256.0 / v0)
         |          ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / z END AS est
         |      FROM z)
         |SELECT day, round(est, 6) AS est FROM x ORDER BY day""".stripMargin)),
    // ── scale: parent–child totals reconciliation — exact-cents audit of
    //    o_totalprice vs its line sums (orphans + deviation stats, all
    //    longs) (oracle: DuckDB replays cents, sums, and deviations) ───────
    QuerySpec("q164_reconcile_totals", (s, dir) => {
      Profiling.reconcileTotals(T(s, dir, "orders"), "o_orderkey",
        "o_totalprice", T(s, dir, "lineitem"), "l_orderkey",
        col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax")))
    }, oracle = Some(
      """WITH p AS (SELECT o_orderkey AS pk,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc FROM orders),
        |c AS (SELECT l_orderkey AS pk,
        |        CAST(sum(CAST(round(((l_extendedprice *
        |          (CAST(1.0 AS DOUBLE) - l_discount)) *
        |          (CAST(1.0 AS DOUBLE) + l_tax)) * 100) AS BIGINT))
        |          AS BIGINT) AS s
        |      FROM lineitem GROUP BY 1),
        |j AS (SELECT p.pk, c.s IS NULL AS orph,
        |        CASE WHEN c.s IS NULL THEN 0 ELSE abs(p.pc - c.s) END AS dev
        |      FROM p LEFT JOIN c USING (pk))
        |SELECT CAST(count(*) AS BIGINT) AS n_parents,
        |  CAST(sum(CASE WHEN orph THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_orphans,
        |  CAST(sum(CASE WHEN NOT orph AND dev > 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_mismatched,
        |  CAST(coalesce(max(dev), 0) AS BIGINT) AS max_dev_cents,
        |  CAST(coalesce(sum(dev), 0) AS BIGINT) AS total_dev_cents
        |FROM j""".stripMargin)),
    // ── scale: Cohen's kappa — chance-corrected rater agreement from the
    //    contingency cells, exact-long statistics + one fixed-paren
    //    division chain (oracle: DuckDB replays both raters, cells,
    //    marginals, and the sorted pe fold) ─────────────────────────────────
    QuerySpec("q170_cohens_kappa", (s, dir) => {
      val d = T(s, dir, "documents").select(
        (TextAnalysis.tokenCount(col("text")) >= 56).as("rater_a"),
        (size(array_distinct(split(trim(col("text")), "\\s+"))) >= 25)
          .as("rater_b"))
      Profiling.cohensKappa(d, "rater_a", "rater_b")
        .select(col("n"), round(col("po"), 6).as("po"),
          round(col("pe"), 6).as("pe"), round(col("kappa"), 6).as("kappa"))
    }, oracle = Some(
      """WITH r AS (SELECT
        |    ((CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END) >= 56)
        |      AS a,
        |    (len(list_distinct(string_split_regex(trim(text), '\s+'))) >= 25)
        |      AS b
        |  FROM documents),
        |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
        |          FROM r GROUP BY 1, 2),
        |ma AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM cells GROUP BY 1),
        |mb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM cells GROUP BY 1),
        |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
        |dg AS (SELECT coalesce(CAST(sum(c) AS BIGINT), 0) AS diag
        |       FROM cells WHERE a = b),
        |pe AS (SELECT list_reduce(
        |    list(CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)
        |      ORDER BY CAST(ma.a AS VARCHAR)), (x, y) -> x + y) AS pn
        |  FROM ma JOIN mb ON ma.a = mb.b)
        |SELECT n, round(CAST(diag AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
        |  round(pn / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
        |  round(CASE WHEN pn / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) = 1.0
        |    THEN NULL
        |    ELSE (CAST(diag AS DOUBLE) / CAST(n AS DOUBLE)
        |        - pn / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |      / (CAST(1.0 AS DOUBLE)
        |        - pn / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) END, 6)
        |    AS kappa
        |FROM nn, dg, pe""".stripMargin)),
    // ── scale: multi-class confusion matrix — per-class TP/FP/FN +
    //    precision/recall/F1 of the q23 language-ID against truth labels
    //    (oracle: DuckDB replays the predictor, cells, and the fixed-paren
    //    ratio chain) ───────────────────────────────────────────────────────
    QuerySpec("q172_confusion_matrix", (s, dir) => {
      val d = T(s, dir, "documents").select(col("lang"),
        TextAnalysis.langId(col("text")).as("pred"))
      Profiling.confusionMatrix(d, "lang", "pred")
        .select(col("class"), col("tp"), col("fp"), col("fn"),
          col("support"), round(col("precision"), 6).as("prec"),
          round(col("recall"), 6).as("rec"), round(col("f1"), 6).as("f1"))
        .orderBy("class")
    }, oracle = Some(
      s"""WITH $langPredSelectSql,
         |cells AS (SELECT l, p, CAST(count(*) AS BIGINT) AS c
         |          FROM pr GROUP BY 1, 2),
         |cls AS (SELECT l AS class FROM cells
         |        UNION SELECT p AS class FROM cells),
         |tpx AS (SELECT l AS class, CAST(sum(c) AS BIGINT) AS tp
         |        FROM cells WHERE l = p GROUP BY 1),
         |pt AS (SELECT p AS class, CAST(sum(c) AS BIGINT) AS pt
         |       FROM cells GROUP BY 1),
         |lt AS (SELECT l AS class, CAST(sum(c) AS BIGINT) AS lt
         |       FROM cells GROUP BY 1),
         |j AS (SELECT cls.class AS class, coalesce(tpx.tp, 0) AS tp,
         |        coalesce(pt.pt, 0) - coalesce(tpx.tp, 0) AS fp,
         |        coalesce(lt.lt, 0) - coalesce(tpx.tp, 0) AS fn
         |      FROM cls LEFT JOIN tpx USING (class)
         |        LEFT JOIN pt USING (class) LEFT JOIN lt USING (class)),
         |f AS (SELECT class, tp, fp, fn, tp + fn AS support,
         |    CASE WHEN tp + fp = 0 THEN NULL
         |      ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS p,
         |    CASE WHEN tp + fn = 0 THEN NULL
         |      ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS r
         |  FROM j)
         |SELECT class, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |  CAST(fn AS BIGINT) AS fn, CAST(support AS BIGINT) AS support,
         |  round(p, 6) AS prec, round(r, 6) AS rec,
         |  round(CASE WHEN p IS NULL OR r IS NULL OR p + r = 0 THEN NULL
         |    ELSE (CAST(2.0 AS DOUBLE) * p * r) / (p + r) END, 6) AS f1
         |FROM f ORDER BY class""".stripMargin)),
    // ── scale: chi-square independence + Cramér's V — the significance
    //    companion to q151's MI; zero cells in closed form, only observed
    //    cells enumerated (oracle: DuckDB replays cells, marginals, both
    //    sorted folds, and the closed-form correction) ─────────────────────
    QuerySpec("q176_chi_square", (s, dir) => {
      Profiling.chiSquareIndependence(
          T(s, dir, "orders").select("o_orderpriority", "o_orderstatus"),
          "o_orderpriority", "o_orderstatus", deterministic = true)
        .select(col("n"), col("r"), col("c"), col("dof"),
          round(col("chi2"), 6).as("chi2"),
          round(col("cramers_v"), 6).as("cramers_v"))
    }, oracle = Some(
      """WITH cells AS (
        |  SELECT CAST(o_orderpriority AS VARCHAR) AS x,
        |    CAST(o_orderstatus AS VARCHAR) AS y,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1, 2),
        |mx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY 1),
        |my AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY 1),
        |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
        |t AS (SELECT cells.x, cells.y,
        |    (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)) / CAST(n AS DOUBLE)
        |      AS e,
        |    ((CAST(c AS DOUBLE) -
        |      (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)) / CAST(n AS DOUBLE))
        |     * (CAST(c AS DOUBLE) -
        |      (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)) / CAST(n AS DOUBLE)))
        |    / ((CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)) / CAST(n AS DOUBLE))
        |      AS term
        |  FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN nn),
        |f AS (SELECT
        |    list_reduce(list(term ORDER BY x, y), (a, b) -> a + b) AS st,
        |    list_reduce(list(e ORDER BY x, y), (a, b) -> a + b) AS se
        |  FROM t),
        |dims AS (SELECT (SELECT count(*) FROM mx) AS r,
        |                (SELECT count(*) FROM my) AS c)
        |SELECT n, r, c, (r - 1) * (c - 1) AS dof,
        |  round(st + (CAST(n AS DOUBLE) - se), 6) AS chi2,
        |  round(CASE WHEN least(r - 1, c - 1) <= 0 THEN NULL
        |    ELSE sqrt((st + (CAST(n AS DOUBLE) - se)) /
        |      (CAST(n AS DOUBLE) * CAST(least(r - 1, c - 1) AS DOUBLE)))
        |    END, 6) AS cramers_v
        |FROM f, nn, dims""".stripMargin)),
    // ── scale: multiset table fingerprint — order-independent checksum
    //    for source/target reconciliation; (rowHash, multiplicity) pairs
    //    XOR'd so value AND count changes both move it (oracle: DuckDB
    //    replays hashes, multiplicities, and the XOR) ──────────────────────
    QuerySpec("q177_table_fingerprint", (s, dir) => {
      val d = T(s, dir, "orders").select(col("o_orderpriority"),
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
      Profiling.tableFingerprint(d, Seq("o_orderpriority"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "cents"))
        .orderBy("o_orderpriority")
    }, oracle = Some(
      """WITH rh AS (
        |  SELECT o_orderpriority AS g,
        |    ('0x' || substr(md5(
        |      CAST(o_orderkey AS VARCHAR) || chr(1) ||
        |      CAST(o_custkey AS VARCHAR) || chr(1) ||
        |      o_orderstatus || chr(1) ||
        |      CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
        |    ), 1, 15))::UBIGINT AS h
        |  FROM orders),
        |hc AS (SELECT g, h, CAST(count(*) AS BIGINT) AS c
        |       FROM rh GROUP BY 1, 2)
        |SELECT g AS o_orderpriority, CAST(sum(c) AS BIGINT) AS n_rows,
        |  count(*) AS n_distinct_rows,
        |  CAST(bit_xor(('0x' || substr(md5(
        |      CAST(h AS VARCHAR) || ':' || CAST(c AS VARCHAR)
        |    ), 1, 15))::UBIGINT) AS BIGINT) AS fingerprint
        |FROM hc GROUP BY g ORDER BY g""".stripMargin)),
    // ── scale: KMV bottom-k quantile sketch — the MERGEABLE quantile
    //    estimator completing the sketch triad (CMS=heavy hitters,
    //    HLL=distinct); sample is a pure function of (id, seed) (oracle:
    //    DuckDB replays priorities, the bottom-k cut, and sample ranks) ────
    QuerySpec("q178_kmv_quantiles", (s, dir) => {
      val sample = Sketches.kmvSample(
        T(s, dir, "events").select(col("event_id"), col("value")),
        "event_id", "value", k = 256, seed = 7L)
      Sketches.kmvQuantiles(sample, "value", Seq(0.1, 0.5, 0.9, 0.99))
        .select(col("q"), col("est"), col("sample_size"))
        .orderBy("q")
    }, oracle = Some(
      """WITH h AS (
        |  SELECT event_id, value,
        |    ('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':7'),
        |      1, 15))::UBIGINT AS priority
        |  FROM events),
        |s AS (SELECT * FROM h ORDER BY priority ASC, event_id ASC
        |      LIMIT 256),
        |r AS (SELECT value, priority,
        |    row_number() OVER (ORDER BY value ASC, priority ASC) AS rk,
        |    count(*) OVER () AS m
        |  FROM s),
        |qs AS (SELECT unnest(CAST([0.1, 0.5, 0.9, 0.99] AS DOUBLE[])) AS q)
        |SELECT q, value AS est, m AS sample_size
        |FROM r JOIN qs ON rk = greatest(1, CAST(ceil(q * m) AS BIGINT))
        |ORDER BY q""".stripMargin)),
    // ── scale: missing-id-range report — ingest-completeness audit via
    //    the id−rank islands trick on the pruned per-(range, group) rank
    //    core; the only window runs over the gaps-sized islands frame
    //    (oracle: DuckDB replays ranks, islands, and the lag) ──────────────
    QuerySpec("q181_id_gaps", (s, dir) => {
      // lineitem's order keys have real holes (the q164 orphan orders) —
      // the audit this report exists to surface
      Profiling.idGapReport(
          T(s, dir, "lineitem").select(lit("lineitem").as("tbl"),
            col("l_orderkey")),
          "tbl", "l_orderkey")
        .orderBy("gap_start")
    }, oracle = Some(
      """WITH ids AS (SELECT DISTINCT l_orderkey AS id FROM lineitem),
        |r AS (SELECT id, id - row_number() OVER (ORDER BY id) AS a
        |      FROM ids),
        |isl AS (SELECT a, min(id) AS s, max(id) AS e FROM r GROUP BY 1),
        |g AS (SELECT lag(e) OVER (ORDER BY s) AS pe, s FROM isl)
        |SELECT 'lineitem' AS tbl, pe + 1 AS gap_start, s - 1 AS gap_end,
        |  s - 1 - pe AS gap_len
        |FROM g WHERE pe IS NOT NULL ORDER BY gap_start""".stripMargin)),
    // ── scale: FK-candidate discovery — containment + parent-uniqueness
    //    over candidate column pairs (undocumented-lake joinability +
    //    referential-integrity decay); per pair two key-ONLY distincts +
    //    one broadcast semi-join, report is pairs-sized (oracle: DuckDB
    //    scalar-subquery replay per pair) ───────────────────────────────────
    QuerySpec("q185_fk_discovery", (s, dir) => {
      def t(n: String) = T(s, dir, n)
      Profiling.fkCandidates(fkPairs.map { case (cl, ct, cc, pl, pt, pc) =>
        (cl, t(ct), cc, pl, t(pt), pc)
      }).orderBy("child", "parent")
    }, oracle = Some({
      val blocks = fkPairs.map { case (cl, ct, cc, pl, pt, pc) =>
        s"""SELECT '$cl' AS child, '$pl' AS parent,
           |  cd AS child_distinct, pd AS parent_distinct,
           |  prows - pd AS parent_dup_rows, m AS matched,
           |  cd - m AS orphans,
           |  round(CAST(m AS DOUBLE) / CAST(cd AS DOUBLE), 6) AS containment
           |FROM (SELECT
           |  (SELECT count(DISTINCT $cc) FROM $ct WHERE $cc IS NOT NULL) AS cd,
           |  (SELECT count(DISTINCT $pc) FROM $pt WHERE $pc IS NOT NULL) AS pd,
           |  (SELECT count(*) FROM $pt WHERE $pc IS NOT NULL) AS prows,
           |  (SELECT count(*) FROM (SELECT DISTINCT $cc AS v FROM $ct
           |     WHERE $cc IS NOT NULL) x
           |   WHERE v IN (SELECT $pc FROM $pt)) AS m)""".stripMargin
      }
      blocks.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
        "\n) ORDER BY child, parent")
    })),
    // ── scale: k-anonymity / l-diversity audit — re-identification risk of
    //    quasi-identifier groups before a release (the indirect-identifier
    //    counterpart to q48's PII redaction); two-level aggregation keeps
    //    distinct-sensitive a plain count (oracle: DuckDB replay) ───────────
    QuerySpec("q194_k_anonymity", (s, dir) => {
      Profiling.kAnonymityReport(T(s, dir, "customer"),
          Seq("c_nationkey", "c_mktsegment"), "c_acctbal", k = 10L, l = 3L)
        .select(col("n_rows"), col("n_groups"), col("risky_groups"),
          col("risky_rows"), round(col("risky_frac"), 6).as("risky_frac"),
          col("min_ldiversity"), col("low_diversity_groups"))
    }, oracle = Some(
      """WITH pairs AS (SELECT c_nationkey, c_mktsegment, c_acctbal,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM customer GROUP BY 1, 2, 3),
        |g AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS l
        |  FROM pairs GROUP BY 1, 2),
        |s AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_groups,
        |    CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS risky_groups,
        |    CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
        |      AS risky_rows,
        |    CAST(min(l) AS BIGINT) AS min_ldiversity,
        |    CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS low_diversity_groups
        |  FROM g)
        |SELECT n_rows, n_groups, risky_groups, risky_rows,
        |  round(CAST(risky_rows AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
        |    AS risky_frac,
        |  min_ldiversity, low_diversity_groups
        |FROM s""".stripMargin)),
    // ── scale: ε-DP noisy count release — Laplace(1/ε) noise from the
    //    group key's hash (deterministic release-once semantics: reruns
    //    cannot average the noise away); true counts never emitted
    //    (oracle: DuckDB replays hash → uniform → inverse CDF) ─────────────
    QuerySpec("q195_dp_counts", (s, dir) => {
      Profiling.dpNoisyCounts(T(s, dir, "events"), Seq("user_id"),
          epsilon = 1.0)
        .select(col("user_id"),
          round(col("noisy_count"), 6).as("noisy_count"))
        .orderBy("user_id")
    }, oracle = Some(
      s"""WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1),
         |h AS (SELECT user_id, n,
         |    ((CAST(${h60Sql("user_id::VARCHAR || ':dp'")} AS DOUBLE)
         |      * CAST(2.0 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) /
         |      CAST(2305843009213693952 AS DOUBLE) AS u
         |  FROM c)
         |SELECT user_id, round(CAST(n AS DOUBLE) +
         |  CASE WHEN u < 0.5
         |    THEN CAST(1.0 AS DOUBLE) * ln(CAST(2.0 AS DOUBLE) * u)
         |    ELSE -(CAST(1.0 AS DOUBLE) * ln(CAST(2.0 AS DOUBLE) *
         |      (CAST(1.0 AS DOUBLE) - u)))
         |  END, 6) AS noisy_count
         |FROM h ORDER BY user_id""".stripMargin)),
    // ── scale: freshness report — per-segment last-write age vs the
    //    stream's own frontier + recent-volume counts (dead-upstream
    //    detection, deterministic: no wall clock) (oracle: DuckDB replay) ──
    QuerySpec("q206_freshness", (s, dir) => {
      Profiling.freshnessReport(T(s, dir, "events"), "event_type", "ts",
          Seq(7, 30))
        .orderBy("event_type")
    }, oracle = Some(
      """WITH b AS (SELECT event_type AS g, epoch_us(ts) AS m FROM events),
        |f AS (SELECT max(m) AS gmax FROM b)
        |SELECT g AS event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(max(m) AS BIGINT) AS last_ts_us,
        |  CAST((SELECT gmax FROM f) - max(m) AS BIGINT) AS age_us,
        |  CAST(sum(CASE WHEN m > (SELECT gmax FROM f) - 604800000000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS fresh_7d,
        |  CAST(sum(CASE WHEN m > (SELECT gmax FROM f) - 2592000000000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS fresh_30d
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),
    // ── scale: cast-quarantine audit — per column→type, non-null values a
    //    lossless cast would drop (the silent coerce-to-null made visible
    //    BEFORE the type flip); one scan, one multi-aggregate (oracle:
    //    DuckDB TRY_CAST replay incl. the deterministic mixed column) ──────
    QuerySpec("q212_cast_quarantine", (s, dir) => {
      val ev = T(s, dir, "events").withColumn("mixed",
        when(pmod(col("event_id"), lit(3L)) === 0L, col("event_type"))
          .otherwise(col("event_id").cast("string")))
      Profiling.castQuarantineReport(ev, Seq(
          "mixed" -> "BIGINT", "event_type" -> "BIGINT", "value" -> "INT"))
        .select(col("column_name"), col("target_type"), col("n_rows"),
          col("n_nonnull"), col("n_cast_fail"),
          round(col("fail_frac"), 6).as("fail_frac"))
        .orderBy("column_name")
    }, oracle = Some(
      """WITH ev AS (SELECT *, CASE WHEN event_id % 3 = 0 THEN event_type
        |    ELSE CAST(event_id AS VARCHAR) END AS mixed FROM events),
        |w AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN mixed IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn_m,
        |    CAST(sum(CASE WHEN mixed IS NOT NULL
        |      AND TRY_CAST(mixed AS BIGINT) IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS f_m,
        |    CAST(sum(CASE WHEN event_type IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn_e,
        |    CAST(sum(CASE WHEN event_type IS NOT NULL
        |      AND TRY_CAST(event_type AS BIGINT) IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS f_e,
        |    CAST(sum(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn_v,
        |    CAST(sum(CASE WHEN value IS NOT NULL
        |      AND TRY_CAST(value AS INT) IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS f_v
        |  FROM ev)
        |SELECT * FROM (
        |  SELECT 'event_type' AS column_name, 'BIGINT' AS target_type,
        |    n AS n_rows, nn_e AS n_nonnull, f_e AS n_cast_fail,
        |    round(CAST(f_e AS DOUBLE) / CAST(nn_e AS DOUBLE), 6) AS fail_frac
        |  FROM w
        |  UNION ALL
        |  SELECT 'mixed', 'BIGINT', n, nn_m, f_m,
        |    round(CAST(f_m AS DOUBLE) / CAST(nn_m AS DOUBLE), 6) FROM w
        |  UNION ALL
        |  SELECT 'value', 'INT', n, nn_v, f_v,
        |    round(CAST(f_v AS DOUBLE) / CAST(nn_v AS DOUBLE), 6) FROM w
        |) ORDER BY column_name""".stripMargin)),
    // ── scale: numeric mutual information — equal-frequency bins (the
    //    q140 integer formula) feeding the exact categorical MI: catches
    //    the nonlinear dependence q133's correlation reads as zero
    //    (oracle: DuckDB rank + bin replay into the shared MI tail) ────────
    QuerySpec("q223_numeric_mi", (s, dir) => {
      val m = unix_micros(col("ts").cast("timestamp"))
      val d = lit(86400000000L)
      val ev = T(s, dir, "events").withColumn("day",
        ((m - pmod(m, d)) / d).cast("long"))
      Profiling.numericMI(ev, "event_id", "value", "day", bins = 8,
          deterministic = true)
        .select(col("n"), round(col("mi"), 6).as("mi"),
          round(col("h_x"), 6).as("h_x"), round(col("h_y"), 6).as("h_y"),
          round(col("nmi"), 6).as("nmi"))
    }, oracle = Some(
      s"""WITH base AS (SELECT event_id AS id, value AS xv,
         |    (epoch_us(ts) - epoch_us(ts) % 86400000000) // 86400000000
         |      AS yv
         |  FROM events),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n0 FROM base),
         |rx AS (SELECT id, CAST(row_number() OVER (ORDER BY xv, id)
         |    AS BIGINT) AS r FROM base),
         |ry AS (SELECT id, CAST(row_number() OVER (ORDER BY yv, id)
         |    AS BIGINT) AS r FROM base),
         |lab AS (SELECT
         |    CAST(((rx.r - 1) * 8) // (SELECT n0 FROM nn) AS VARCHAR) AS x,
         |    CAST(((ry.r - 1) * 8) // (SELECT n0 FROM nn) AS VARCHAR) AS y
         |  FROM rx JOIN ry USING (id)),
         |cells AS (SELECT x, y, count(*) AS c FROM lab GROUP BY 1, 2),
         |$miOracleTail""".stripMargin)),
    // ── scale: Spearman rank-correlation matrix — tie-aware exact
    //    midranks via the distributed-cumsum idiom, DECIMAL(38,0) rank
    //    sums (≡ DuckDB HUGEINT), one fixed-paren double formula
    //    (oracle: DuckDB replays ranks, sums, and the formula) ───────────
    QuerySpec("q229_spearman", (s, dir) => {
      Profiling.spearmanMatrix(
          T(s, dir, "lineitem").select("l_quantity", "l_extendedprice",
            "l_discount", "l_tax"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .select(col("col_a"), col("col_b"), col("n"),
          round(col("spearman"), 6).as("spearman"))
        .orderBy("col_a", "col_b")
    }, oracle = Some(spearmanOracleSql)),
    // ── scale: functional-dependency audit — which within-table
    //    "X determines Y" contracts actually hold (q185's single-table
    //    sibling; an almost-holding FD is the classic dirty-data tell);
    //    one det-keyed exact aggregate per hypothesis over a shared
    //    projection, NULL dependents count as a value (oracle: DuckDB
    //    per-hypothesis replay) ───────────────────────────────────────────
    QuerySpec("q247_fd_audit", (s, dir) => {
      Profiling.fdAudit(T(s, dir, "orders"), Seq(
          "o_orderkey" -> "o_custkey",
          "o_orderkey" -> "o_totalprice",
          "o_custkey" -> "o_orderpriority",
          "o_orderstatus" -> "o_orderpriority"))
        .select(col("determinant"), col("dependent"), col("n_keys"),
          col("n_violating_keys"),
          round(col("violation_frac"), 6).as("violation_frac"), col("holds"))
        .orderBy("determinant", "dependent")
    }, oracle = Some(fdAuditOracleSql(Seq(
      "o_orderkey" -> "o_custkey",
      "o_orderkey" -> "o_totalprice",
      "o_custkey" -> "o_orderpriority",
      "o_orderstatus" -> "o_orderpriority")))),
    // ── scale: period-over-period growth — weekly counts per event type
    //    with previous-period deltas (the trend view next to q115's
    //    anomaly flags and q182's seasonality); timezone-free integer
    //    period arithmetic, lag over the periods-sized frame only, first
    //    period honestly NULL (oracle: DuckDB window replay) ──────────────
    QuerySpec("q248_period_growth", (s, dir) => {
      Profiling.periodGrowth(T(s, dir, "events"), "ts", "event_type",
          periodUs = 604800000000L)
        .select(col("grp"), col("period_start_us"), col("n"), col("prev_n"),
          round(col("growth"), 6).as("growth"))
        .orderBy("grp", "period_start_us")
    }, oracle = Some(
      """WITH c AS (SELECT event_type AS grp,
        |    CAST(epoch_us(ts) - epoch_us(ts) % 604800000000 AS BIGINT)
        |      AS period_start_us,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT grp, period_start_us, n,
        |    lag(n) OVER (PARTITION BY grp ORDER BY period_start_us)
        |      AS prev_n
        |  FROM c)
        |SELECT grp, period_start_us, n, prev_n,
        |  round(CAST(n - prev_n AS DOUBLE) / CAST(prev_n AS DOUBLE), 6)
        |    AS growth
        |FROM g ORDER BY grp, period_start_us""".stripMargin)),
    // ── scale: dataset card — the one-table corpus summary (size, source
    //    breadth, token mass, quality level, exact-dup rate, length
    //    percentiles) composed from individually-gated machinery
    //    (q20/q21/q22/q103); one checkpointed scan + one wide aggregate +
    //    the range-pruned rank pass (oracle: DuckDB replays every metric) ─
    QuerySpec("q249_dataset_card", (s, dir) => {
      Profiling.datasetCard(T(s, dir, "documents"), "doc_id", "text",
          "source")
        .select(col("metric"), round(col("value"), 6).as("value"))
        .orderBy("metric")
    }, oracle = Some(
      s"""WITH b AS (SELECT doc_id, text, source,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS w,
         |    $qualitySql AS q
         |  FROM documents),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(w) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |    CAST(count(DISTINCT text) AS BIGINT) AS n_texts,
         |    CAST(sum(CAST(round(q * 1000000.0) AS BIGINT)) AS DOUBLE)
         |      / 1000000.0 AS qsum
         |  FROM b),
         |r AS (SELECT w, row_number() OVER (ORDER BY w ASC, doc_id ASC)
         |      AS rk,
         |    count(*) OVER () AS n
         |  FROM b),
         |p AS (SELECT q, w FROM r
         |  JOIN (SELECT unnest(CAST([0.5, 0.9] AS DOUBLE[])) AS q) qs
         |    ON rk = greatest(1, CAST(ceil(q * n) AS BIGINT)))
         |SELECT 'exact_dup_frac' AS metric,
         |  round(1.0 - CAST(n_texts AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         |    AS value FROM s
         |UNION ALL SELECT 'mean_quality',
         |  round(qsum / CAST(n_docs AS DOUBLE), 6) FROM s
         |UNION ALL SELECT 'n_docs', CAST(n_docs AS DOUBLE) FROM s
         |UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM s
         |UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM s
         |UNION ALL SELECT 'token_p50',
         |  CAST((SELECT w FROM p WHERE q = 0.5) AS DOUBLE)
         |UNION ALL SELECT 'token_p90',
         |  CAST((SELECT w FROM p WHERE q = 0.9) AS DOUBLE)
         |ORDER BY metric""".stripMargin)),
    // ── scale: per-slice accuracy with Wilson intervals — the
    //    disaggregated-eval report (aggregate accuracy hides a small
    //    badly-served slice; Wilson says which gaps are signal at tiny
    //    per-slice n); langId vs true lang, sliced by source; one integer
    //    aggregate + fixed-paren formulas (oracle: DuckDB replays scorer,
    //    counts, and the shared z literals) ────────────────────────────────
    QuerySpec("q253_slice_accuracy", (s, dir) => {
      val d = T(s, dir, "documents").select(col("source"), col("lang"),
        TextAnalysis.langId(col("text")).as("pred"))
      Profiling.sliceAccuracy(d, "source", "lang", "pred")
        .select(col("slice"), col("n"), col("n_correct"),
          round(col("acc"), 6).as("acc"),
          round(col("wilson_lo"), 6).as("wilson_lo"),
          round(col("wilson_hi"), 6).as("wilson_hi"))
        .orderBy("slice")
    }, oracle = Some(sliceAccuracyOracleSql(z = 1.96))),
    // ── scale: Wilson score intervals — the per-slice proportion CI that
    //    stays inside [0,1] and honest at small n (report companion to the
    //    q286 quality rules / q302 match disposition); one group aggregate
    //    of exact longs (oracle: DuckDB replays the closed form) ──────────
    QuerySpec("q316_wilson_intervals", (s, dir) => {
      Profiling.wilsonIntervals(T(s, dir, "documents"), "source",
          col("n_chars") > 400, z = 1.96)
        .select(col("group"), col("n"), col("successes"),
          round(col("rate"), 6).as("rate"), round(col("lo"), 6).as("lo"),
          round(col("hi"), 6).as("hi"))
        .orderBy("group")
    }, oracle = Some(
      """WITH g AS (SELECT source AS "group",
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN n_chars > 400 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS successes
        |  FROM documents GROUP BY 1),
        |e AS (SELECT "group", n, successes,
        |    CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |    CAST(n AS DOUBLE) AS nd, (1.96 * 1.96) AS z2 FROM g)
        |SELECT "group", n, successes, round(p, 6) AS rate,
        |  round(((p + (z2 / (2.0 * nd))) / (1.0 + (z2 / nd)))
        |    - ((1.96 * sqrt(((p * (1.0 - p)) / nd)
        |        + (z2 / ((4.0 * nd) * nd)))) / (1.0 + (z2 / nd))), 6)
        |    AS lo,
        |  round(((p + (z2 / (2.0 * nd))) / (1.0 + (z2 / nd)))
        |    + ((1.96 * sqrt(((p * (1.0 - p)) / nd)
        |        + (z2 / ((4.0 * nd) * nd)))) / (1.0 + (z2 / nd))), 6)
        |    AS hi
        |FROM e ORDER BY "group"""".stripMargin)),
    // ── scale: Q–Q quantile pairs — WHERE two slices' distributions
    //    diverge (the drift tier's shape readout beside KS/PSI); exact
    //    order statistics at 20 probes over one pruned range exchange
    //    (oracle: DuckDB replays the rank targets per slice) ──────────────
    QuerySpec("q321_qq_pairs", (s, dir) => {
      Profiling.qqPairs(T(s, dir, "events"), "event_type", "event_id",
          "value", "click", "view", k = 20)
        .select(round(col("q"), 6).as("q"), round(col("v_a"), 6).as("v_a"),
          round(col("v_b"), 6).as("v_b"), round(col("diff"), 6).as("diff"))
        .orderBy("q")
    }, oracle = Some(
      s"""WITH r AS (SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY value ASC, event_id ASC) AS rk,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM events WHERE event_type IN ('click', 'view')),
         |qs AS (SELECT unnest(CAST([${(1 to 20).map(_ / 20.0).mkString(", ")}]
         |    AS DOUBLE[])) AS q),
         |a AS (SELECT q, value AS v_a FROM r JOIN qs
         |  ON event_type = 'click'
         |    AND rk = greatest(1, CAST(ceil(q * n) AS BIGINT))),
         |b AS (SELECT q, value AS v_b FROM r JOIN qs
         |  ON event_type = 'view'
         |    AND rk = greatest(1, CAST(ceil(q * n) AS BIGINT)))
         |SELECT round(q, 6) AS q, round(v_a, 6) AS v_a,
         |  round(v_b, 6) AS v_b, round(v_b - v_a, 6) AS diff
         |FROM a JOIN b USING (q) ORDER BY q""".stripMargin)),
    // ── scale: categorical value drift — per-category ref/cur counts,
    //    shares, log-ratio, new/vanished/shared status (planted 'qq' in
    //    ref and 'zz' in cur exercise both flags); two category-sized
    //    aggregates + one key-width full-outer join (oracle: trivial) ─────
    QuerySpec("q325_category_drift", (s, dir) => {
      val docs = T(s, dir, "documents")
      val ref = docs.filter(col("doc_id") % 2 === 0)
        .select(when(col("doc_id") % 41 === 0, lit("qq"))
          .otherwise(col("lang")).as("lang"))
      val cur = docs.filter(col("doc_id") % 2 === 1)
        .select(when(col("doc_id") % 31 === 0, lit("zz"))
          .otherwise(col("lang")).as("lang"))
      Profiling.categoryDrift(ref, cur, "lang")
        .select(col("category"), col("n_ref"), col("n_cur"),
          round(col("p_ref"), 6).as("p_ref"),
          round(col("p_cur"), 6).as("p_cur"),
          round(col("log_ratio"), 6).as("log_ratio"), col("status"))
        .orderBy("category")
    }, oracle = Some(
      """WITH ref AS (SELECT CASE WHEN doc_id % 41 = 0 THEN 'qq'
        |    ELSE lang END AS lang FROM documents WHERE doc_id % 2 = 0),
        |cur AS (SELECT CASE WHEN doc_id % 31 = 0 THEN 'zz'
        |    ELSE lang END AS lang FROM documents WHERE doc_id % 2 = 1),
        |rc AS (SELECT lang AS category, CAST(count(*) AS BIGINT) AS n_ref
        |  FROM ref GROUP BY 1),
        |cc AS (SELECT lang AS category, CAST(count(*) AS BIGINT) AS n_cur
        |  FROM cur GROUP BY 1),
        |nt AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ref) AS nr,
        |    (SELECT CAST(count(*) AS BIGINT) FROM cur) AS nc),
        |j AS (SELECT coalesce(rc.category, cc.category) AS category,
        |    CAST(coalesce(n_ref, 0) AS BIGINT) AS n_ref,
        |    CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur
        |  FROM rc FULL OUTER JOIN cc ON rc.category = cc.category)
        |SELECT category, n_ref, n_cur,
        |  round(CAST(n_ref AS DOUBLE) / CAST(nr AS DOUBLE), 6) AS p_ref,
        |  round(CAST(n_cur AS DOUBLE) / CAST(nc AS DOUBLE), 6) AS p_cur,
        |  round(CASE WHEN n_ref > 0 AND n_cur > 0 THEN
        |    ln((CAST(n_cur AS DOUBLE) / CAST(nc AS DOUBLE))
        |      / (CAST(n_ref AS DOUBLE) / CAST(nr AS DOUBLE))) END, 6)
        |    AS log_ratio,
        |  CASE WHEN n_ref = 0 THEN 'new' WHEN n_cur = 0 THEN 'vanished'
        |    ELSE 'shared' END AS status
        |FROM j, nt ORDER BY category""".stripMargin)),
    // ── scale: Fleiss' kappa — multi-rater chance-corrected agreement
    //    (3 "annotators" = the langs of 3 consecutive docs per item);
    //    exact long agreement sums, category-sorted P̄e fold (oracle:
    //    DuckDB replays cells, marginals, and the folds) ──────────────────
    QuerySpec("q328_fleiss_kappa", (s, dir) => {
      val docs = T(s, dir, "documents")
        .select((col("doc_id") - pmod(col("doc_id"), lit(3L))).as("item"),
          col("lang"))
      val complete = docs.groupBy("item").agg(count(lit(1)).as("__c"))
        .filter(col("__c") === 3L).select("item")
      Profiling.fleissKappa(docs.join(complete, Seq("item"), "left_semi"),
          "item", "lang")
        .select(col("n_items"), col("n_raters"),
          round(col("p_bar"), 6).as("p_bar"), round(col("p_e"), 6).as("p_e"),
          round(col("kappa"), 6).as("kappa"))
    }, oracle = Some(
      """WITH d AS (SELECT doc_id - (doc_id % 3) AS item, lang
        |  FROM documents),
        |comp AS (SELECT item FROM d GROUP BY item HAVING count(*) = 3),
        |dd AS (SELECT d.item, d.lang FROM d JOIN comp USING (item)),
        |cells AS (SELECT item, lang AS r, CAST(count(*) AS BIGINT) AS c
        |  FROM dd GROUP BY 1, 2),
        |pi AS (SELECT item, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(c * c) AS BIGINT) AS sq FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS items,
        |    CAST(min(n) AS BIGINT) AS raters,
        |    CAST(sum(sq) AS BIGINT) AS ssq FROM pi),
        |pb AS (SELECT items, raters,
        |    CAST(ssq - (items * raters) AS DOUBLE)
        |      / (CAST(items * raters AS DOUBLE)
        |        * CAST(raters - 1 AS DOUBLE)) AS p_bar FROM tot),
        |pe AS (SELECT list_reduce(list(
        |    (CAST(m AS DOUBLE)
        |      / CAST((SELECT items * raters FROM tot) AS DOUBLE))
        |    * (CAST(m AS DOUBLE)
        |      / CAST((SELECT items * raters FROM tot) AS DOUBLE))
        |    ORDER BY r), (a, v) -> a + v) AS p_e
        |  FROM (SELECT r, CAST(sum(c) AS BIGINT) AS m FROM cells
        |    GROUP BY 1))
        |SELECT items AS n_items, raters AS n_raters,
        |  round(p_bar, 6) AS p_bar, round(p_e, 6) AS p_e,
        |  round(CASE WHEN p_e = 1.0 THEN NULL
        |    ELSE (p_bar - p_e) / (1.0 - p_e) END, 6) AS kappa
        |FROM pb, pe""".stripMargin)),
    // ── scale: Misra–Gries exact heavy hitters — the two-pass MG:
    //    ≤ k candidates per partition (superset guarantee), then an exact
    //    recount of candidates only — the output is EXACTLY the true
    //    count > n/k set at bounded memory, never a vocab-wide shuffle
    //    (oracle: plain GROUP BY/HAVING — the exactness claim itself) ─────
    QuerySpec("q310_mg_heavy_hitters", (s, dir) => {
      val toks = T(s, dir, "documents")
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      Sketches.mgHeavyHitters(toks, "tok", k = 30)
        .orderBy(col("cnt").desc, col("item"))
    }, oracle = Some(
      """WITH tok AS (SELECT unnest(string_split_regex(trim(lower(text)),
        |    '\s+')) AS item FROM documents),
        |tot AS (SELECT count(*) AS n FROM tok)
        |SELECT item, CAST(count(*) AS BIGINT) AS cnt
        |FROM tok CROSS JOIN tot GROUP BY item, n
        |HAVING count(*) * 30 > n
        |ORDER BY cnt DESC, item""".stripMargin)),
    // ── scale: sketch-error audit — q304's HLL overlap NEXT TO the exact
    //    overlap (distinct frames + one key-width semi-join), with
    //    relative errors: the calibration run a domain does once before
    //    trusting sketch numbers everywhere (oracle: DuckDB computes the
    //    exact side and replays the q304 register arithmetic) ──────────────
    QuerySpec("q305_overlap_audit", (s, dir) => {
      val ev = T(s, dir, "events")
      Sketches.hllOverlapAudit(
          ev.filter(pmod(col("user_id"), lit(2L)) === 0).select("user_id"),
          ev.filter(pmod(col("user_id"), lit(3L)) === 0).select("user_id"),
          "user_id", m = 256)
        .select(col("exact_a"), col("exact_b"), col("exact_intersection"),
          round(col("est_a"), 6).as("est_a"),
          round(col("est_b"), 6).as("est_b"),
          round(col("est_intersection"), 6).as("est_intersection"),
          round(col("rel_err_a"), 6).as("rel_err_a"),
          round(col("rel_err_b"), 6).as("rel_err_b"))
    }, oracle = Some(
      s"""WITH au AS (SELECT DISTINCT user_id FROM events
         |    WHERE user_id % 2 = 0),
         |bu AS (SELECT DISTINCT user_id FROM events
         |    WHERE user_id % 3 = 0),
         |ex AS (SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM au) AS exact_a,
         |    (SELECT CAST(count(*) AS BIGINT) FROM bu) AS exact_b,
         |    (SELECT CAST(count(*) AS BIGINT) FROM au
         |     WHERE user_id IN (SELECT user_id FROM bu))
         |      AS exact_intersection),
         |ha AS (SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))
         |    ::UBIGINT AS hv FROM events WHERE user_id % 2 = 0),
         |hb AS (SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))
         |    ::UBIGINT AS hv FROM events WHERE user_id % 3 = 0),
         |ra AS (SELECT hv & 255 AS bucket, max(${hllRhoSql("hv >> 8", 52)})
         |       AS M FROM ha GROUP BY 1),
         |rb AS (SELECT hv & 255 AS bucket, max(${hllRhoSql("hv >> 8", 52)})
         |       AS M FROM hb GROUP BY 1),
         |ru AS (SELECT bucket, max(M) AS M FROM
         |       (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY 1),
         |regs AS (SELECT 'a' AS s, bucket, M FROM ra
         |  UNION ALL SELECT 'b', bucket, M FROM rb
         |  UNION ALL SELECT 'u', bucket, M FROM ru),
         |e AS (SELECT s,
         |        list_reduce(list(power(2.0, -M) ORDER BY bucket),
         |          (a, b) -> a + b) + (256.0 - count(*)) AS z,
         |        256.0 - count(*) AS v0
         |      FROM regs GROUP BY 1),
         |x AS (SELECT s,
         |        CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / z
         |               <= 640.0 AND v0 > 0.0
         |          THEN 256.0 * ln(256.0 / v0)
         |          ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / z
         |        END AS est
         |      FROM e),
         |f AS (SELECT
         |    (SELECT est FROM x WHERE s = 'a') AS ea,
         |    (SELECT est FROM x WHERE s = 'b') AS eb,
         |    (SELECT est FROM x WHERE s = 'u') AS eu)
         |SELECT exact_a, exact_b, exact_intersection,
         |  round(ea, 6) AS est_a, round(eb, 6) AS est_b,
         |  round(greatest(0.0, (ea + eb) - eu), 6) AS est_intersection,
         |  round((ea - CAST(exact_a AS DOUBLE)) / CAST(exact_a AS DOUBLE),
         |    6) AS rel_err_a,
         |  round((eb - CAST(exact_b AS DOUBLE)) / CAST(exact_b AS DOUBLE),
         |    6) AS rel_err_b
         |FROM ex CROSS JOIN f""".stripMargin)),
    // ── scale: HLL audience overlap — |A|, |B|, |A∪B| (register max-merge)
    //    and the inclusion–exclusion intersection + Jaccard, at sketch
    //    cost with NO join between the raw sets (the compounding-error
    //    caveat documented; negative reads clamp to 0) (oracle: DuckDB
    //    replays registers for a/b/union and the same arithmetic) ──────────
    QuerySpec("q304_hll_overlap", (s, dir) => {
      val ev = T(s, dir, "events")
      Sketches.hllOverlap(
          ev.filter(pmod(col("user_id"), lit(2L)) === 0).select("user_id"),
          ev.filter(pmod(col("user_id"), lit(3L)) === 0).select("user_id"),
          "user_id", m = 256)
        .select(round(col("est_a"), 6).as("est_a"),
          round(col("est_b"), 6).as("est_b"),
          round(col("est_union"), 6).as("est_union"),
          round(col("est_intersection"), 6).as("est_intersection"),
          round(col("jaccard"), 6).as("jaccard"))
    }, oracle = Some(
      s"""WITH ha AS (SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))
         |    ::UBIGINT AS hv FROM events WHERE user_id % 2 = 0),
         |hb AS (SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))
         |    ::UBIGINT AS hv FROM events WHERE user_id % 3 = 0),
         |ra AS (SELECT hv & 255 AS bucket, max(${hllRhoSql("hv >> 8", 52)})
         |       AS M FROM ha GROUP BY 1),
         |rb AS (SELECT hv & 255 AS bucket, max(${hllRhoSql("hv >> 8", 52)})
         |       AS M FROM hb GROUP BY 1),
         |ru AS (SELECT bucket, max(M) AS M FROM
         |       (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY 1),
         |regs AS (SELECT 'a' AS s, bucket, M FROM ra
         |  UNION ALL SELECT 'b', bucket, M FROM rb
         |  UNION ALL SELECT 'u', bucket, M FROM ru),
         |e AS (SELECT s,
         |        list_reduce(list(power(2.0, -M) ORDER BY bucket),
         |          (a, b) -> a + b) + (256.0 - count(*)) AS z,
         |        256.0 - count(*) AS v0
         |      FROM regs GROUP BY 1),
         |x AS (SELECT s,
         |        CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / z
         |               <= 640.0 AND v0 > 0.0
         |          THEN 256.0 * ln(256.0 / v0)
         |          ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / z
         |        END AS est
         |      FROM e),
         |f AS (SELECT
         |    (SELECT est FROM x WHERE s = 'a') AS ea,
         |    (SELECT est FROM x WHERE s = 'b') AS eb,
         |    (SELECT est FROM x WHERE s = 'u') AS eu)
         |SELECT round(ea, 6) AS est_a, round(eb, 6) AS est_b,
         |  round(eu, 6) AS est_union,
         |  round(greatest(0.0, (ea + eb) - eu), 6) AS est_intersection,
         |  round(CASE WHEN eu > 0.0
         |    THEN greatest(0.0, (ea + eb) - eu) / eu ELSE 0.0 END, 6)
         |    AS jaccard
         |FROM f""".stripMargin)),
    // ── scale: per-group KMV quantiles — k-row mergeable bottom-k sample
    //    of EVERY source in one pass (the per-group cell of the sketch
    //    matrix: q90 CMS counts, q94/q111 HLL distinct, q178 global KMV),
    //    then order-statistic estimates on the groups×k frame (oracle:
    //    DuckDB replays hash, per-group bottom-k, and the rank selection) ──
    QuerySpec("q303_group_kmv_quantiles", (s, dir) => {
      val d = T(s, dir, "documents").select(col("source"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("ntok"))
      val sample = Sketches.kmvSamplePerGroup(d, "source", "doc_id", "ntok",
        k = 64, seed = 7L)
      Sketches.kmvQuantilesPerGroup(sample, Seq(0.5, 0.9))
        .orderBy("group", "q")
    }, oracle = Some(
      """WITH b AS (SELECT source AS grp, doc_id AS id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS DOUBLE) AS value,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'),
        |      1, 15)) AS BIGINT) AS pr
        |  FROM documents),
        |r AS (SELECT grp, id, value,
        |    row_number() OVER (PARTITION BY grp ORDER BY pr ASC, id ASC)
        |      AS rk
        |  FROM b),
        |s AS (SELECT grp, id, value FROM r WHERE rk <= 64),
        |r2 AS (SELECT grp, id, value,
        |    row_number() OVER (PARTITION BY grp
        |                       ORDER BY value ASC, id ASC) AS rk,
        |    count(*) OVER (PARTITION BY grp) AS m
        |  FROM s),
        |qs AS (SELECT unnest(CAST([0.5, 0.9] AS DOUBLE[])) AS q)
        |SELECT grp AS "group", q, value AS est,
        |  CAST(m AS BIGINT) AS sample_size
        |FROM r2 JOIN qs ON rk = greatest(1, CAST(ceil(q * m) AS BIGINT))
        |ORDER BY "group", q""".stripMargin)),
    // ── scale: null co-missingness matrix — per column pair, the 2×2
    //    missing/present contingency + φ ("do these columns go missing
    //    TOGETHER?" — the upstream-join fingerprint per-column null
    //    counts can't see); one scan, one single-row aggregate of exact
    //    long cells, driver pivot; nulls planted deterministically (the
    //    q55 convention — the synthetic feed has none) (oracle: DuckDB
    //    replays indicators, cells, and φ) ─────────────────────────────────
    QuerySpec("q300_null_comiss", (s, dir) => {
      val ev = T(s, dir, "events").select(col("event_id"),
        when(pmod(col("event_id"), lit(7L)) === 0, lit(null).cast("string"))
          .otherwise(col("props")).as("props"),
        when(pmod(col("event_id"), lit(14L)) === 0 ||
            pmod(col("event_id"), lit(5L)) === 0, lit(null).cast("double"))
          .otherwise(col("value")).as("value"),
        when(pmod(col("event_id"), lit(11L)) === 0, lit(null).cast("string"))
          .otherwise(col("event_type")).as("event_type"))
      Profiling.nullCoMissingness(ev, Seq("props", "value", "event_type"))
        .orderBy("col_a", "col_b")
    }, oracle = Some(
      """WITH b AS (SELECT
        |    CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END AS np,
        |    CASE WHEN event_id % 14 = 0 OR event_id % 5 = 0
        |      THEN 1 ELSE 0 END AS nv,
        |    CASE WHEN event_id % 11 = 0 THEN 1 ELSE 0 END AS nt
        |  FROM events),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(np * nv) AS BIGINT) AS b1,
        |    CAST(sum(np * (1 - nv)) AS BIGINT) AS oa1,
        |    CAST(sum((1 - np) * nv) AS BIGINT) AS ob1,
        |    CAST(sum(np * nt) AS BIGINT) AS b2,
        |    CAST(sum(np * (1 - nt)) AS BIGINT) AS oa2,
        |    CAST(sum((1 - np) * nt) AS BIGINT) AS ob2,
        |    CAST(sum(nv * nt) AS BIGINT) AS b3,
        |    CAST(sum(nv * (1 - nt)) AS BIGINT) AS oa3,
        |    CAST(sum((1 - nv) * nt) AS BIGINT) AS ob3
        |  FROM b),
        |p AS (
        |  SELECT 'props' AS col_a, 'value' AS col_b, n,
        |    b1 AS bn, oa1 AS oa, ob1 AS ob FROM s
        |  UNION ALL SELECT 'props', 'event_type', n, b2, oa2, ob2 FROM s
        |  UNION ALL SELECT 'value', 'event_type', n, b3, oa3, ob3 FROM s),
        |f AS (SELECT col_a, col_b, n, bn, oa, ob,
        |        n - bn - oa - ob AS neither FROM p)
        |SELECT col_a, col_b, n, bn AS both_null, oa AS only_a,
        |  ob AS only_b, neither,
        |  CASE WHEN sqrt(CAST(bn + oa AS DOUBLE) * CAST(ob + neither AS
        |      DOUBLE) * CAST(bn + ob AS DOUBLE) * CAST(oa + neither AS
        |      DOUBLE)) = 0 THEN NULL
        |    ELSE round((CAST(bn AS DOUBLE) * CAST(neither AS DOUBLE)
        |      - CAST(oa AS DOUBLE) * CAST(ob AS DOUBLE))
        |      / sqrt(CAST(bn + oa AS DOUBLE) * CAST(ob + neither AS
        |        DOUBLE) * CAST(bn + ob AS DOUBLE) * CAST(oa + neither AS
        |        DOUBLE)), 6) END AS phi
        |FROM f ORDER BY col_a, col_b""".stripMargin)),
    // ── scale: PSI drift score — reference-decile binned
    //    (p_ref−p_cur)·ln(p_ref/p_cur), the model-monitoring standard;
    //    edges from distributed reference ranks as plan literals (oracle:
    //    DuckDB replays edges, bins, smoothing, and the fold) ──────────────
    QuerySpec("q153_psi", (s, dir) => {
      val o = T(s, dir, "orders")
      val cutoff = lit("1995-06-01").cast("timestamp")
      Profiling.psi(
          o.filter(col("o_orderdate") < cutoff),
          o.filter(col("o_orderdate") >= cutoff),
          "o_totalprice", bins = 10)
        .select(col("bin"), col("ref_cnt"), col("cur_cnt"),
          round(col("p_ref"), 6).as("p_ref"),
          round(col("p_cur"), 6).as("p_cur"),
          round(col("psi"), 6).as("psi"))
        .orderBy("bin")
    }, oracle = Some(
      """WITH ref AS (SELECT o_totalprice AS v FROM orders
        |     WHERE o_orderdate < TIMESTAMP '1995-06-01'
        |       AND o_totalprice IS NOT NULL),
        |cur AS (SELECT o_totalprice AS v FROM orders
        |        WHERE o_orderdate >= TIMESTAMP '1995-06-01'
        |          AND o_totalprice IS NOT NULL),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rank FROM ref),
        |nr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ref),
        |ed AS (SELECT t.j AS j, r.v AS e
        |       FROM (SELECT unnest(range(1, 10)) AS j) t
        |       JOIN r ON r.rank = ((SELECT n FROM nr) * t.j) // 10),
        |es AS (SELECT list(e ORDER BY j) AS es FROM ed),
        |ra AS (SELECT len(list_filter((SELECT es FROM es), x -> v > x))
        |         AS bin FROM ref),
        |rb AS (SELECT len(list_filter((SELECT es FROM es), x -> v > x))
        |         AS bin FROM cur),
        |ca AS (SELECT bin, CAST(count(*) AS BIGINT) AS ref_cnt
        |       FROM ra GROUP BY 1),
        |cb AS (SELECT bin, CAST(count(*) AS BIGINT) AS cur_cnt
        |       FROM rb GROUP BY 1),
        |spine AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS bin),
        |j0 AS (SELECT spine.bin AS bin, coalesce(ref_cnt, 0) AS ref_cnt,
        |         coalesce(cur_cnt, 0) AS cur_cnt
        |       FROM spine LEFT JOIN ca USING (bin) LEFT JOIN cb USING (bin)),
        |t0 AS (SELECT CAST(sum(ref_cnt) AS BIGINT) AS na,
        |         CAST(sum(cur_cnt) AS BIGINT) AS nb FROM j0),
        |tm AS (SELECT bin, ref_cnt, cur_cnt,
        |         (CAST(ref_cnt AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
        |           (CAST((SELECT na FROM t0) AS DOUBLE) +
        |            CAST(5.0 AS DOUBLE)) AS p_ref,
        |         (CAST(cur_cnt AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
        |           (CAST((SELECT nb FROM t0) AS DOUBLE) +
        |            CAST(5.0 AS DOUBLE)) AS p_cur
        |       FROM j0),
        |tt AS (SELECT bin, ref_cnt, cur_cnt, p_ref, p_cur,
        |         (p_ref - p_cur) * ln(p_ref / p_cur) AS term FROM tm),
        |ps AS (SELECT list_reduce(list(term ORDER BY bin), (a, b) -> a + b)
        |         AS psi FROM tt)
        |SELECT bin, ref_cnt, cur_cnt, round(p_ref, 6) AS p_ref,
        |  round(p_cur, 6) AS p_cur, round((SELECT psi FROM ps), 6) AS psi
        |FROM tt ORDER BY bin""".stripMargin)),
    // ── scale: categorical mutual information — MI/NMI + marginal
    //    entropies over the contingency cells ("is this column that one
    //    in disguise?") (oracle: DuckDB replays cells, marginals, and the
    //    key-sorted folds) ─────────────────────────────────────────────────
    QuerySpec("q151_mutual_information", (s, dir) => {
      Profiling.mutualInformation(T(s, dir, "lineitem"),
          "l_returnflag", "l_linestatus", deterministic = true)
        .select(col("n"), round(col("mi"), 6).as("mi"),
          round(col("h_x"), 6).as("h_x"), round(col("h_y"), 6).as("h_y"),
          round(col("nmi"), 6).as("nmi"))
    }, oracle = Some(
      s"""WITH cells AS (SELECT CAST(l_returnflag AS VARCHAR) AS x,
         |    CAST(l_linestatus AS VARCHAR) AS y, count(*) AS c
         |  FROM lineitem GROUP BY 1, 2),
         |$miOracleTail""".stripMargin)),
    // ── scale: join-cardinality forecast — exact Σ cA·cB over common
    //    keys BEFORE the join runs (self-join blowup detector; hot key →
    //    saltedJoin input) (oracle: DuckDB replays counts and products) ────
    QuerySpec("q148_join_cardinality", (s, dir) => {
      val li = T(s, dir, "lineitem")
      Profiling.joinCardinality(li, "l_partkey", li, "l_partkey")
    }, oracle = Some(
      """WITH ca AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
        |            FROM lineitem GROUP BY 1),
        |p AS (SELECT k, CAST(c * c AS BIGINT) AS pr FROM ca),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_common_keys,
        |        CAST(sum(pr) AS BIGINT) AS join_rows FROM p)
        |SELECT n_common_keys, join_rows, k AS hot_key, pr AS hot_rows
        |FROM p CROSS JOIN t ORDER BY pr DESC, k LIMIT 1""".stripMargin)),
    // ── scale: equi-width histogram — bins over broadcast min/max, bin id
    //    a pure fixed-paren projection, spine keeps empty bins (oracle:
    //    DuckDB replays stats, bins, edges, and counts) ────────────────────
    QuerySpec("q137_histogram", (s, dir) => {
      Profiling.histogram(T(s, dir, "lineitem"), "l_extendedprice", bins = 20)
        .select(col("bin"), round(col("lo"), 6).as("lo"),
          round(col("hi"), 6).as("hi"), col("cnt"))
        .orderBy("bin")
    }, oracle = Some(
      """WITH v AS (SELECT l_extendedprice AS x FROM lineitem
        |           WHERE l_extendedprice IS NOT NULL),
        |s AS (SELECT min(x) AS mn, max(x) AS mx FROM v),
        |c AS (SELECT CASE WHEN s.mx = s.mn THEN 0 ELSE
        |        LEAST(CAST(floor(((x - s.mn) * CAST(20.0 AS DOUBLE)) /
        |          (s.mx - s.mn)) AS INT), 19) END AS bin
        |      FROM v CROSS JOIN s),
        |k AS (SELECT bin, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1),
        |spine AS (SELECT CAST(unnest(range(0, 20)) AS INT) AS bin)
        |SELECT spine.bin AS bin,
        |  round(s.mn + ((CAST(spine.bin AS DOUBLE) * (s.mx - s.mn)) /
        |    CAST(20.0 AS DOUBLE)), 6) AS lo,
        |  round(s.mn + (((CAST(spine.bin AS DOUBLE) + CAST(1.0 AS DOUBLE)) *
        |    (s.mx - s.mn)) / CAST(20.0 AS DOUBLE)), 6) AS hi,
        |  coalesce(cnt, 0) AS cnt
        |FROM spine LEFT JOIN k USING (bin) CROSS JOIN s
        |ORDER BY bin""".stripMargin)),
    // ── scale: snapshot profile diff — full-outer join of two table
    //    profiles classifying every column added/removed/changed/
    //    unchanged: the silent-upstream-drift audit (oracle: DuckDB
    //    replays both profiles and the null-safe classification) ──────────
    QuerySpec("q136_profile_diff", (s, dir) => {
      val o = T(s, dir, "orders")
      val cutoff = lit("1995-06-01").cast("timestamp")
      Profiling.profileDiff(
          o.filter(col("o_orderdate") < cutoff),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
          o,
          Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
          exactDistinct = true)
    }, oracle = Some({
      val fromA = "(SELECT * FROM orders WHERE o_orderdate < " +
        "TIMESTAMP '1995-06-01')"
      val pa = Seq(
        profileNumColSql("o_orderkey", fromA, "_a"),
        profileNumColSql("o_custkey", fromA, "_a"),
        profileStrColSql("o_orderstatus", fromA, "_a"),
        profileNumColSql("o_totalprice", fromA, "_a")).mkString(" UNION ALL\n")
      val pb = Seq(
        profileNumColSql("o_orderkey", "orders", "_b"),
        profileNumColSql("o_custkey", "orders", "_b"),
        profileNumColSql("o_totalprice", "orders", "_b"),
        profileRenderColSql("o_orderdate", "orders", "_b"))
        .mkString(" UNION ALL\n")
      val eq = Seq("n_rows", "n_nulls", "n_distinct", "min_num", "max_num",
        "min_str", "max_str", "avg_len")
        .map(c => s"(${c}_a IS NOT DISTINCT FROM ${c}_b)").mkString(" AND ")
      s"""WITH pa AS (
         |$pa),
         |pb AS (
         |$pb)
         |SELECT coalesce("column_a", "column_b") AS "column",
         |  CASE WHEN "column_b" IS NULL THEN 'removed'
         |       WHEN "column_a" IS NULL THEN 'added'
         |       WHEN $eq THEN 'unchanged'
         |       ELSE 'changed' END AS status,
         |  n_rows_a, n_rows_b, n_nulls_a, n_nulls_b,
         |  n_distinct_a, n_distinct_b
         |FROM pa FULL OUTER JOIN pb ON "column_a" = "column_b"
         |ORDER BY "column"""".stripMargin
    })),
    // ── scale: Benford first-digit audit — leading-digit distribution vs
    //    log₁₀(1+1/d) with χ² drift score; digit extraction is integer-
    //    exact, expectations embed as shared literals (oracle: DuckDB
    //    replays digits, fractions, and the digit-sorted χ² fold) ─────────
    QuerySpec("q134_benford", (s, dir) => {
      Profiling.benfordCheck(T(s, dir, "orders"), "o_totalprice")
        .select(col("digit"), col("cnt"),
          round(col("obs_frac"), 6).as("obs_frac"),
          round(col("exp_frac"), 6).as("exp_frac"),
          round(col("chi2"), 6).as("chi2"))
        .orderBy("digit")
    }, oracle = Some(benfordOracleSql)),
    // ── scale: two-sample KS drift — exact sup|F̂₁−F̂₂| between column
    //    slices via per-distinct-value counts + distributed cumsum;
    //    argmax is TakeOrdered(1) (oracle: DuckDB replays counts,
    //    cumulative fractions, and the tie-broken argmax) ─────────────────
    QuerySpec("q132_ks_drift", (s, dir) => {
      val o = T(s, dir, "orders")
      val cutoff = lit("1995-06-01").cast("timestamp")
      Profiling.ksDrift(
          o.filter(col("o_orderdate") < cutoff),
          o.filter(col("o_orderdate") >= cutoff),
          "o_totalprice")
        .select(round(col("d_stat"), 6).as("d_stat"), col("at_value"),
          col("n1"), col("n2"))
    }, oracle = Some(
      """WITH s AS (SELECT o_totalprice AS v,
        |    CASE WHEN o_orderdate < TIMESTAMP '1995-06-01' THEN 1 ELSE 0 END
        |      AS a
        |  FROM orders),
        |n AS (SELECT CAST(sum(a) AS BIGINT) AS n1,
        |        CAST(sum(1 - a) AS BIGINT) AS n2 FROM s),
        |c AS (SELECT v, CAST(sum(a) AS BIGINT) AS c1,
        |        CAST(sum(1 - a) AS BIGINT) AS c2 FROM s GROUP BY 1),
        |cum AS (SELECT v,
        |          sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |            AND CURRENT ROW) AS k1,
        |          sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |            AND CURRENT ROW) AS k2
        |        FROM c),
        |d AS (SELECT v,
        |        abs(CAST(k1 AS DOUBLE) / CAST((SELECT n1 FROM n) AS DOUBLE) -
        |            CAST(k2 AS DOUBLE) / CAST((SELECT n2 FROM n) AS DOUBLE))
        |          AS diff
        |      FROM cum)
        |SELECT round(diff, 6) AS d_stat, v AS at_value,
        |  (SELECT n1 FROM n) AS n1, (SELECT n2 FROM n) AS n2
        |FROM d ORDER BY diff DESC, v LIMIT 1""".stripMargin)),
    // ── scale: exact Pearson correlation matrix — integer-unit inputs
    //    make all five sufficient statistics EXACT long sums (no fold
    //    order anywhere); one scan, one row, pivoted to pairs (oracle:
    //    DuckDB replays the sums and the fixed-paren r) ───────────────────
    QuerySpec("q133_corr_matrix", (s, dir) => {
      Profiling.integerCorrelationMatrix(T(s, dir, "lineitem"), Seq(
          "quantity" -> col("l_quantity").cast("long"),
          "discount_bp" -> round(col("l_discount") * 100).cast("long"),
          "price" -> round(col("l_extendedprice")).cast("long"),
          "tax_bp" -> round(col("l_tax") * 100).cast("long")))
        .select(col("col_a"), col("col_b"), round(col("corr"), 6).as("corr"))
        .orderBy("col_a", "col_b")
    }, oracle = Some(corrMatrixOracleSql)),
    // ── scale: per-column table profile — null/distinct/min/max/avg-len
    //    in ONE scan + single-row aggregate; exact distinct is the oracle
    //    path, production folds HLL++ into the same pass (oracle: DuckDB
    //    runs the per-column aggregates) ──────────────────────────────────
    QuerySpec("q124_profile", (s, dir) => {
      Profiling.profileTable(T(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"), exactDistinct = true)
        .orderBy("column")
    }, bench = Some((s, dir) => {
      // q124 benches the PRODUCTION profile (HLL++ distinct folded into
      // the single scan — no Expand; exact distinct is the oracle path)
      val o = T(s, dir, "orders")
      () => Profiling.profileTable(o,
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"), exactDistinct = false)
        .orderBy("column")
    }), oracle = Some(
      s"""${profileNumColSql("o_custkey")} UNION ALL
         |${profileRenderColSql("o_orderdate")} UNION ALL
         |${profileNumColSql("o_orderkey")} UNION ALL
         |${profileStrColSql("o_orderpriority")} UNION ALL
         |${profileStrColSql("o_orderstatus")} UNION ALL
         |${profileNumColSql("o_totalprice")}
         |ORDER BY "column"""".stripMargin)),
    // ── scale: data-contract constraint suite — pk uniqueness, fk
    //    coverage (key-only anti-joins, dim side broadcast), fused
    //    same-scan range checks (oracle: DuckDB replays each check) ───────
    QuerySpec("q125_quality_checks", (s, dir) => {
      val li = T(s, dir, "lineitem"); val o = T(s, dir, "orders")
      val ev = T(s, dir, "events")
      Profiling.checkConstraints(Seq(
        Profiling.pkUniqueCheck("pk_orders_unique", o, Seq("o_orderkey")),
        Profiling.pkUniqueCheck("pk_lineitem_unique", li,
          Seq("l_orderkey", "l_linenumber")),
        Profiling.fkCoveredCheck("fk_orders_custkey", o, "o_custkey",
          T(s, dir, "customer"), "c_custkey"),
        Profiling.fkCoveredCheck("fk_lineitem_orderkey", li, "l_orderkey",
          o, "o_orderkey"),
        Profiling.fkCoveredCheck("fk_lineitem_partkey", li, "l_partkey",
          T(s, dir, "part"), "p_partkey")) ++
        Profiling.predicateChecks(li, Seq(
          "range_lineitem_quantity" ->
            (col("l_quantity") >= 1.0 && col("l_quantity") <= 50.0),
          "range_lineitem_discount" ->
            (col("l_discount") >= 0.0 && col("l_discount") <= 0.1))) ++
        Profiling.predicateChecks(ev, Seq(
          // deliberately tight SLA bound — exercises a FAILING check
          "range_events_value" ->
            (col("value") >= 0.0 && col("value") <= 400.0))))
    }, oracle = Some(
      """WITH checks AS (
        |  SELECT 'pk_orders_unique' AS check_name,
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'pk_lineitem_unique',
        |    CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'fk_orders_custkey', CAST(count(*) AS BIGINT)
        |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_custkey IS NULL AND o.o_custkey IS NOT NULL
        |  UNION ALL
        |  SELECT 'fk_lineitem_orderkey', CAST(count(*) AS BIGINT)
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderkey IS NULL AND l.l_orderkey IS NOT NULL
        |  UNION ALL
        |  SELECT 'fk_lineitem_partkey', CAST(count(*) AS BIGINT)
        |  FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_partkey IS NULL AND l.l_partkey IS NOT NULL
        |  UNION ALL
        |  SELECT 'range_lineitem_quantity', CAST(sum(CASE WHEN coalesce(
        |    l_quantity >= 1.0 AND l_quantity <= 50.0, false) THEN 0 ELSE 1 END)
        |    AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'range_lineitem_discount', CAST(sum(CASE WHEN coalesce(
        |    l_discount >= 0.0 AND l_discount <= 0.1, false) THEN 0 ELSE 1 END)
        |    AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'range_events_value', CAST(sum(CASE WHEN coalesce(
        |    value >= 0.0 AND value <= 400.0, false) THEN 0 ELSE 1 END)
        |    AS BIGINT)
        |  FROM events)
        |SELECT check_name, violations, violations = 0 AS passed
        |FROM checks ORDER BY check_name""".stripMargin)),
    // ── scale: shuffle-key skew diagnostic — top-k heaviest keys +
    //    max/mean ratio, the input to the salt-or-broadcast decision
    //    (oracle: DuckDB replays counts, ranks, and ratios) ───────────────
    QuerySpec("q126_key_skew", (s, dir) => {
      Profiling.keySkewReport(T(s, dir, "lineitem"), "l_suppkey", k = 10)
    }, oracle = Some(
      """WITH c AS (SELECT l_suppkey AS key, count(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |s AS (SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
        |        max(cnt) AS max_cnt FROM c),
        |t AS (SELECT key, cnt,
        |        row_number() OVER (ORDER BY cnt DESC, key) AS rank
        |      FROM c QUALIFY rank <= 10)
        |SELECT rank, key, CAST(cnt AS BIGINT) AS cnt,
        |  round(CAST(cnt AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS share,
        |  n_keys,
        |  round(CAST(max_cnt AS DOUBLE) *
        |    (CAST(n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)), 6) AS skew
        |FROM t CROSS JOIN s ORDER BY rank""".stripMargin)))

  /** q185's FK hypotheses: (childLabel, childTable, childCol, parentLabel,
    * parentTable, parentCol) — the 7 true TPC-H FKs plus two negatives
    * (p_size→n_nationkey: partial containment; o_orderkey→l_orderkey:
    * full containment but non-unique parent). Shared by the query and the
    * generated oracle SQL so both sides test the same hypothesis list. */
  private val fkPairs: Seq[(String, String, String, String, String, String)] = Seq(
    ("lineitem.l_orderkey", "lineitem", "l_orderkey",
      "orders.o_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey",
      "part.p_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey",
      "supplier.s_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey", "orders", "o_custkey",
      "customer.c_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey", "customer", "c_nationkey",
      "nation.n_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey", "supplier", "s_nationkey",
      "nation.n_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey", "nation", "n_regionkey",
      "region.r_regionkey", "region", "r_regionkey"),
    ("part.p_size", "part", "p_size",
      "nation.n_nationkey", "nation", "n_nationkey"),
    ("orders.o_orderkey", "orders", "o_orderkey",
      "lineitem.l_orderkey", "lineitem", "l_orderkey"))

  /** Distinct 3-token shingles from a `toks` list column — the DuckDB twin
    * of Dedup.shinglesOf(tokens, 3) including the <3-token fallback. */
  /** The q101 PageRank loop unrolled in SQL (GraphX staticPageRank
    * semantics over the bidirected customer–supplier graph): per round, a
    * src-sorted contribution fold per node — the same order as the Scala
    * side's sort_array fold, so ranks are bit-identical round over round
    * ((1 − damping) embeds as the exact double the Scala side computes);
    * final ranks round to 6. */
  /** The q151/q223 MI replay tail: consumes a CTE `cells(x, y, c)` and
    * produces (n, mi, h_x, h_y, nmi) with (x, y)-sorted folds — shared
    * so the categorical and binned-numeric gates replay identical
    * arithmetic. */
  private lazy val miOracleTail: String =
    """mx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY 1),
      |my AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY 1),
      |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
      |j AS (SELECT cells.x AS x, cells.y AS y, c, cx, cy,
      |        CAST((SELECT n FROM n) AS DOUBLE) AS nd
      |      FROM cells JOIN mx USING (x) JOIN my USING (y)),
      |mi AS (SELECT list_reduce(list(
      |         (CAST(c AS DOUBLE) / nd) * ln((CAST(c AS DOUBLE) / nd) /
      |           ((CAST(cx AS DOUBLE) / nd) * (CAST(cy AS DOUBLE) / nd)))
      |         ORDER BY x, y), (a, b) -> a + b) AS mi FROM j),
      |hx AS (SELECT -list_reduce(list(
      |         (CAST(cx AS DOUBLE) / CAST((SELECT n FROM n) AS DOUBLE)) *
      |         ln(CAST(cx AS DOUBLE) / CAST((SELECT n FROM n) AS DOUBLE))
      |         ORDER BY x), (a, b) -> a + b) AS h FROM mx),
      |hy AS (SELECT -list_reduce(list(
      |         (CAST(cy AS DOUBLE) / CAST((SELECT n FROM n) AS DOUBLE)) *
      |         ln(CAST(cy AS DOUBLE) / CAST((SELECT n FROM n) AS DOUBLE))
      |         ORDER BY y), (a, b) -> a + b) AS h FROM my)
      |SELECT (SELECT n FROM n) AS n, round((SELECT mi FROM mi), 6) AS mi,
      |  round((SELECT h FROM hx), 6) AS h_x,
      |  round((SELECT h FROM hy), 6) AS h_y,
      |  round(CASE WHEN (SELECT h FROM hx) > 0 AND (SELECT h FROM hy) > 0
      |    THEN (SELECT mi FROM mi) /
      |      sqrt((SELECT h FROM hx) * (SELECT h FROM hy))
      |    ELSE CAST(0.0 AS DOUBLE) END, 6) AS nmi""".stripMargin

  /** The q23 language-ID prediction as a `scored` CTE + CASE chain,
    * shared by the q172 confusion-matrix oracle. */
  private def langPredSelectSql: String = {
    val langs = graft.operators.TextAnalysis.markerLexicon.keys.toSeq.sorted
    val scores = langs.map { l =>
      val pat = "(?i)\\b(" +
        graft.operators.TextAnalysis.markerLexicon(l).mkString("|") + ")\\b"
      s"len(regexp_extract_all(text, '$pat')) AS s_$l"
    }.mkString(", ")
    val greatest = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val caseChain = langs.map(l => s"WHEN s_$l = $greatest THEN '$l'")
      .mkString("CASE ", " ", " END")
    s"""scored AS (SELECT doc_id, lang, $scores FROM documents),
       |pr AS (SELECT lang AS l, $caseChain AS p FROM scored)""".stripMargin
  }

  /** q134 Benford oracle: integer-exact digit extraction, the SAME nine
    * Double literals as the operator (embedded via toString), digit-
    * sorted χ² fold. */
  private def benfordOracleSql: String = {
    val expCase = (1 to 9).map(d =>
      s"WHEN $d THEN CAST(${math.log10(1.0 + 1.0 / d)} AS DOUBLE)")
      .mkString("CASE digit ", " ", " END")
    s"""WITH c0 AS (SELECT CAST(substr(CAST(CAST(floor(v) AS BIGINT) AS VARCHAR),
       |              1, 1) AS INT) AS digit
       |            FROM (SELECT o_totalprice AS v FROM orders)
       |            WHERE v >= 1.0),
       |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS cnt FROM c0 GROUP BY 1),
       |spine AS (SELECT unnest(range(1, 10)) AS digit),
       |f AS (SELECT spine.digit AS digit, coalesce(cnt, 0) AS cnt
       |      FROM spine LEFT JOIN c USING (digit)),
       |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM f),
       |s AS (SELECT digit, cnt,
       |        CAST(cnt AS DOUBLE) / CAST((SELECT n FROM n) AS DOUBLE)
       |          AS obs_frac,
       |        $expCase AS exp_frac
       |      FROM f),
       |p AS (SELECT digit, cnt, obs_frac, exp_frac,
       |        ((CAST(cnt AS DOUBLE) -
       |          (CAST((SELECT n FROM n) AS DOUBLE) * exp_frac)) *
       |         (CAST(cnt AS DOUBLE) -
       |          (CAST((SELECT n FROM n) AS DOUBLE) * exp_frac))) /
       |        (CAST((SELECT n FROM n) AS DOUBLE) * exp_frac) AS part
       |      FROM s),
       |chi AS (SELECT list_reduce(list(part ORDER BY digit), (a, b) -> a + b)
       |          AS chi2 FROM p)
       |SELECT digit, cnt, round(obs_frac, 6) AS obs_frac,
       |  round(exp_frac, 6) AS exp_frac,
       |  round((SELECT chi2 FROM chi), 6) AS chi2
       |FROM p ORDER BY digit""".stripMargin
  }

  /** q133 correlation-matrix oracle: exact long sufficient statistics
    * over integer-unit projections, then r at the operator's exact
    * parenthesization — one row per column pair. */
  private def corrMatrixOracleSql: String = {
    val cols = Seq(
      "quantity" -> "CAST(l_quantity AS BIGINT)",
      "discount_bp" -> "CAST(round(l_discount * 100) AS BIGINT)",
      "price" -> "CAST(round(l_extendedprice) AS BIGINT)",
      "tax_bp" -> "CAST(round(l_tax * 100) AS BIGINT)")
    val proj = cols.map { case (n, e) => s"$e AS $n" }.mkString(", ")
    val stats = (Seq("CAST(count(*) AS BIGINT) AS n") ++
      cols.flatMap { case (n, _) =>
        Seq(s"CAST(sum($n) AS BIGINT) AS s_$n",
          s"CAST(sum($n * $n) AS BIGINT) AS q_$n")
      } ++
      cols.combinations(2).map { case Seq((na, _), (nb, _)) =>
        s"CAST(sum($na * $nb) AS BIGINT) AS p_${na}_$nb"
      }).mkString(",\n    ")
    val rows = cols.combinations(2).map { case Seq((na, _), (nb, _)) =>
      val r = s"((CAST(n AS DOUBLE) * CAST(p_${na}_$nb AS DOUBLE)) - " +
        s"(CAST(s_$na AS DOUBLE) * CAST(s_$nb AS DOUBLE))) / " +
        s"(sqrt((CAST(n AS DOUBLE) * CAST(q_$na AS DOUBLE)) - " +
        s"(CAST(s_$na AS DOUBLE) * CAST(s_$na AS DOUBLE))) * " +
        s"sqrt((CAST(n AS DOUBLE) * CAST(q_$nb AS DOUBLE)) - " +
        s"(CAST(s_$nb AS DOUBLE) * CAST(s_$nb AS DOUBLE))))"
      s"SELECT '$na' AS col_a, '$nb' AS col_b, round($r, 6) AS corr FROM a"
    }.mkString("\nUNION ALL\n")
    s"""WITH src AS (SELECT $proj FROM lineitem),
       |a AS (SELECT
       |    $stats
       |  FROM src)
       |$rows
       |ORDER BY col_a, col_b""".stripMargin
  }

  /** q229 Spearman oracle: per-column doubled midranks
    * (2·cntBelow + cnt + 1, exact integers) replayed over value-grouped
    * windows; HUGEINT sums ≡ the operator's DECIMAL(38,0) sums; the same
    * fixed-parenthesization double formula per pair. */
  private def spearmanOracleSql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val rankCtes = cols.map { c =>
      s"""g_$c AS (SELECT CAST($c AS DOUBLE) AS v,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM lineitem GROUP BY 1),
         |r_$c AS (SELECT v, 2 * COALESCE(CAST(sum(c) OVER (ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
         |      0) + c + 1 AS r
         |  FROM g_$c)""".stripMargin
    }.mkString(",\n")
    val joins = cols
      .map(c => s"JOIN r_$c ON CAST(lineitem.$c AS DOUBLE) = r_$c.v")
      .mkString("\n  ")
    val rankSel = cols.map(c => s"r_$c.r AS rk_$c").mkString(", ")
    val stats = (Seq("CAST(count(*) AS BIGINT) AS n") ++
      cols.flatMap(c => Seq(
        s"sum(rk_$c) AS s_$c",
        s"sum(rk_$c * rk_$c) AS q_$c")) ++
      cols.combinations(2).map { case Seq(a, b) =>
        s"sum(rk_$a * rk_$b) AS p_${a}_$b"
      }).mkString(",\n    ")
    val rows = cols.combinations(2).map { case Seq(a, b) =>
      val r = s"((CAST(n AS DOUBLE) * CAST(p_${a}_$b AS DOUBLE)) - " +
        s"(CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE))) / " +
        s"(sqrt((CAST(n AS DOUBLE) * CAST(q_$a AS DOUBLE)) - " +
        s"(CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE))) * " +
        s"sqrt((CAST(n AS DOUBLE) * CAST(q_$b AS DOUBLE)) - " +
        s"(CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE))))"
      s"SELECT '$a' AS col_a, '$b' AS col_b, n, round($r, 6) AS spearman" +
        " FROM s"
    }.mkString("\nUNION ALL\n")
    s"""WITH $rankCtes,
       |j AS MATERIALIZED (SELECT $rankSel
       |  FROM lineitem
       |  $joins),
       |s AS MATERIALIZED (SELECT
       |    $stats
       |  FROM j)
       |$rows
       |ORDER BY col_a, col_b""".stripMargin
  }

  /** q253 slice-accuracy oracle: the q172 lang scorer carried with its
    * source, one integer aggregate per slice, then the Wilson formulas
    * at the EXACT parenthesization `Profiling.sliceAccuracy` computes,
    * with z/z² as shared IEEE literals. */
  private def sliceAccuracyOracleSql(z: Double): String = {
    val langs = graft.operators.TextAnalysis.markerLexicon.keys.toSeq.sorted
    val scores = langs.map { l =>
      val pat = "(?i)\\b(" +
        graft.operators.TextAnalysis.markerLexicon(l).mkString("|") + ")\\b"
      s"len(regexp_extract_all(text, '$pat')) AS s_$l"
    }.mkString(", ")
    val greatest = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val caseChain = langs.map(l => s"WHEN s_$l = $greatest THEN '$l'")
      .mkString("CASE ", " ", " END")
    val zS = java.lang.Double.toString(z)
    val z2S = java.lang.Double.toString(z * z)
    val denom = s"(1.0 + ($z2S / nd))"
    val center = s"((ph + ($z2S / (2.0 * nd))) / $denom)"
    val half = s"(($zS * sqrt(((ph * (1.0 - ph)) / nd) + " +
      s"($z2S / ((4.0 * nd) * nd)))) / $denom)"
    s"""WITH scored AS (SELECT source, lang, $scores FROM documents),
       |pr AS (SELECT source AS slice, lang AS l, $caseChain AS p
       |  FROM scored),
       |a AS (SELECT slice, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN l = p THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_correct
       |  FROM pr GROUP BY slice),
       |b AS (SELECT slice, n, n_correct, CAST(n AS DOUBLE) AS nd,
       |    CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE) AS ph FROM a)
       |SELECT slice, n, n_correct, round(ph, 6) AS acc,
       |  round($center - $half, 6) AS wilson_lo,
       |  round($center + $half, 6) AS wilson_hi
       |FROM b ORDER BY slice""".stripMargin
  }

  /** q247 FD-audit oracle: per hypothesis, the determinant-keyed exact
    * distinct count (+1 if a NULL dependent exists — NULL counts as a
    * value, matching the operator) rolled up to violation counts. */
  private def fdAuditOracleSql(hs: Seq[(String, String)]): String =
    hs.map { case (det, dep) =>
      s"""SELECT '$det' AS determinant, '$dep' AS dependent,
         |  CAST(count(*) AS BIGINT) AS n_keys,
         |  CAST(sum(CASE WHEN vals > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_violating_keys,
         |  round(CAST(sum(CASE WHEN vals > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS violation_frac,
         |  (sum(CASE WHEN vals > 1 THEN 1 ELSE 0 END) = 0) AS holds
         |FROM (SELECT $det AS k,
         |    count(DISTINCT $dep) +
         |      max(CASE WHEN $dep IS NULL THEN 1 ELSE 0 END) AS vals
         |  FROM orders GROUP BY 1)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY determinant, dependent")

  // ── q124 profile oracle: one SELECT per column, UNION ALL'd.
  //    Shared columns every branch must emit (names drive the driver's
  //    sorted-column hash): column, n_rows, n_nulls, n_distinct,
  //    min_num, max_num, min_str, max_str, avg_len.
  private def profileNumColSql(c: String, from: String = "orders",
      suf: String = ""): String =
    s"""SELECT '$c' AS "column$suf", count(*) AS n_rows$suf,
       |  count(*) - count($c) AS n_nulls$suf,
       |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct$suf,
       |  round(CAST(min($c) AS DOUBLE), 6) AS min_num$suf,
       |  round(CAST(max($c) AS DOUBLE), 6) AS max_num$suf,
       |  CAST(NULL AS VARCHAR) AS min_str$suf, CAST(NULL AS VARCHAR) AS max_str$suf,
       |  CAST(NULL AS DOUBLE) AS avg_len$suf
       |FROM $from""".stripMargin

  private def profileStrColSql(c: String, from: String = "orders",
      suf: String = ""): String =
    s"""SELECT '$c' AS "column$suf", count(*) AS n_rows$suf,
       |  count(*) - count($c) AS n_nulls$suf,
       |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct$suf,
       |  CAST(NULL AS DOUBLE) AS min_num$suf, CAST(NULL AS DOUBLE) AS max_num$suf,
       |  CAST(min($c) AS VARCHAR) AS min_str$suf, CAST(max($c) AS VARCHAR) AS max_str$suf,
       |  round(CAST(CAST(sum(length($c)) AS BIGINT) AS DOUBLE) /
       |    CAST(count($c) AS DOUBLE), 6) AS avg_len$suf
       |FROM $from""".stripMargin

  /** Non-numeric, non-string columns (timestamps): min/max render to
    * string, no avg_len. */
  private def profileRenderColSql(c: String, from: String = "orders",
      suf: String = ""): String =
    s"""SELECT '$c' AS "column$suf", count(*) AS n_rows$suf,
       |  count(*) - count($c) AS n_nulls$suf,
       |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct$suf,
       |  CAST(NULL AS DOUBLE) AS min_num$suf, CAST(NULL AS DOUBLE) AS max_num$suf,
       |  CAST(min($c) AS VARCHAR) AS min_str$suf, CAST(max($c) AS VARCHAR) AS max_str$suf,
       |  CAST(NULL AS DOUBLE) AS avg_len$suf
       |FROM $from""".stripMargin
}
