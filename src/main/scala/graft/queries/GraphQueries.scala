package graft
package queries

import graft.operators._
import org.apache.spark.sql.functions._
import Shared._

/** Query specs of the Graph tier: graph operators: ranking, propagation,
  * triangles and cores, paths, centralities and their sketch variants. */
private[graft] object GraphQueries {
  def specs: Seq[QuerySpec] = Seq(
    // ── scale: TrustRank / personalized PageRank — trust propagation from
    //    a seed whitelist (nation-0 customers) over the same graph; rank =
    //    proximity to trusted nodes, unreachable components exactly 0
    //    (oracle: unrolled rounds with the seeded teleport vector) ────────
    QuerySpec("q110_trustrank", (s, dir) => {
      val el = T(s, dir, "orders")
        .join(T(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b"))
      val seeds = T(s, dir, "customer")
        .filter(col("c_nationkey") === 0)
        .select(concat(lit("c"), col("c_custkey")).as("n"))
      Graph.personalizedPageRank(Graph.bidirect(el, "a", "b"), "src", "dst",
          seeds, "n", rounds = 3, damping = 0.85, deterministic = true)
        .select(col("node"), round(col("rank"), 9).as("rank"))
        .orderBy("node")
    }, bench = Some((s, dir) => {
      // q110 benches the PRODUCTION path (plain sums, like q101) only above
      // the driver gate; under it the driver's src-sorted fold runs for
      // either flag
      val el = T(s, dir, "orders")
        .join(T(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b"))
      val seeds = T(s, dir, "customer")
        .filter(col("c_nationkey") === 0)
        .select(concat(lit("c"), col("c_custkey")).as("n"))
      () => Graph.personalizedPageRank(Graph.bidirect(el, "a", "b"),
          "src", "dst", seeds, "n", rounds = 3, damping = 0.85)
        .select(col("node"), round(col("rank"), 9).as("rank"))
        .orderBy("node")
    }), oracle = Some(pprOracleSql(rounds = 3, damping = 0.85))),
    // ── scale: HITS hubs/authorities — mutually-reinforcing scores on the
    //    buyer→seller bipartite graph (which customers concentrate buying
    //    power / which suppliers concentrate demand — what PageRank's one
    //    score conflates); two shuffles per round, lazy broadcast norms
    //    (oracle: rounds unrolled as MATERIALIZED CTEs) ─────────────────────
    QuerySpec("q189_hits", (s, dir) => {
      val el = T(s, dir, "orders")
        .join(T(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b"))
      Graph.hits(el, "a", "b", rounds = 3, deterministic = true)
        .select(col("node"), col("kind"), round(col("score"), 6).as("score"))
        .orderBy("kind", "node")
    }, bench = Some((s, dir) => {
      val el = T(s, dir, "orders")
        .join(T(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b"))
      () => Graph.hits(el, "a", "b", rounds = 3)
        .select(col("node"), col("kind"), round(col("score"), 6).as("score"))
        .orderBy("kind", "node")
    }), oracle = Some(hitsOracleSql(rounds = 3))),
    // ── scale: degree power-law fit — "is this graph scale-free": ln-ln
    //    OLS on the degree histogram (justifies the family's hub caps);
    //    key-only degree shuffles, histogram-sized fit (oracle: DuckDB
    //    degree + fold replay) ─────────────────────────────────────────────
    QuerySpec("q221_degree_powerlaw", (s, dir) => {
      val el = T(s, dir, "orders")
        .join(T(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b"))
      Graph.degreePowerLaw(el, "a", "b", deterministic = true)
        .select(col("n_nodes"), col("n_degrees"), col("max_degree"),
          round(col("slope"), 6).as("slope"), round(col("r2"), 6).as("r2"))
    }, oracle = Some(
      """WITH el AS (
        |  SELECT DISTINCT 'c' || o_custkey::VARCHAR AS a,
        |    's' || l_suppkey::VARCHAR AS b
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT DISTINCT src, dst FROM (
        |  SELECT a AS src, b AS dst FROM el
        |  UNION ALL SELECT b, a FROM el)),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
        |  FROM edges GROUP BY 1),
        |hist AS (SELECT d, CAST(count(*) AS BIGINT) AS cnt
        |  FROM deg GROUP BY 1),
        |b AS (SELECT d AS id, ln(CAST(d AS DOUBLE)) AS x,
        |    ln(CAST(cnt AS DOUBLE)) AS y
        |  FROM hist),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    list_reduce(list(x ORDER BY id), (p, q) -> p + q) AS sx,
        |    list_reduce(list(y ORDER BY id), (p, q) -> p + q) AS sy,
        |    list_reduce(list(x * y ORDER BY id), (p, q) -> p + q) AS sxy,
        |    list_reduce(list(x * x ORDER BY id), (p, q) -> p + q) AS sxx,
        |    list_reduce(list(y * y ORDER BY id), (p, q) -> p + q) AS syy
        |  FROM b),
        |d2 AS (SELECT n,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS dx,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS dy,
        |    CAST(n AS DOUBLE) * sxy - sx * sy AS num
        |  FROM a)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM hist) AS n_degrees,
        |  (SELECT CAST(max(d) AS BIGINT) FROM deg) AS max_degree,
        |  round(CASE WHEN dx > 0 THEN num / dx END, 6) AS slope,
        |  round(CASE WHEN dx > 0 AND dy > 0
        |    THEN (num * num) / (dx * dy) END, 6) AS r2
        |FROM d2""".stripMargin)),
    // ── scale: multi-source BFS hop levels — crawl depth from a trusted
    //    seed frontier over the bidirected customer–supplier graph;
    //    frontier-only joins, integer-exact (oracle: DuckDB replays the
    //    rounds as unrolled MATERIALIZED CTEs) ────────────────────────────
    QuerySpec("q230_bfs_levels", (s, dir) => {
      val el = T(s, dir, "orders")
        .join(T(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b"))
      val seeds = T(s, dir, "supplier")
        .filter(col("s_suppkey") % 10 === 0)
        .select(concat(lit("s"), col("s_suppkey")).as("node"))
      Graph.bfsLevels(Graph.bidirect(el, "a", "b"), "src", "dst",
          seeds, "node", maxHops = 3)
        .groupBy("dist")
        .agg(count(lit(1)).as("n_nodes"),
          sum(when(col("node").startsWith("c"), 1L).otherwise(0L))
            .as("n_cust"),
          sum(when(col("node").startsWith("s"), 1L).otherwise(0L))
            .as("n_supp"))
        .orderBy("dist")
    }, oracle = Some(bfsLevelsOracleSql(maxHops = 3))),
    // ── scale: bounded weighted shortest paths (Bellman–Ford rounds) —
    //    min ship-lag-days edge weights over the customer–supplier graph,
    //    cheapest reach from the seed suppliers within 3 relaxations;
    //    node-sized state, integer-exact (oracle: DuckDB unrolled
    //    MATERIALIZED min-plus CTEs) ───────────────────────────────────────
    QuerySpec("q238_shortest_paths", (s, dir) => {
      val el = T(s, dir, "orders")
        .join(T(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b"),
          datediff(col("l_shipdate").cast("date"),
            col("o_orderdate").cast("date")).cast("long").as("lag_days"))
      val edges = el.unionByName(el.select(col("b").as("a"),
        col("a").as("b"), col("lag_days")))
      val seeds = T(s, dir, "supplier")
        .filter(col("s_suppkey") % 10 === 0)
        .select(concat(lit("s"), col("s_suppkey")).as("node"))
      Graph.boundedShortestPaths(edges, "a", "b", "lag_days",
          seeds, "node", rounds = 3)
        .groupBy("dist")
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("dist")
    }, oracle = Some(shortestPathsOracleSql(rounds = 3))),
    // ── scale: CAPPED link prediction — the maxMiddleDegree=100
    //    bounded-recall path users actually run at scale (q144 gates the
    //    exact path; this gates the production lever: wedges only through
    //    middles of degree ≤ cap, jaccard denominators stay UNcapped)
    //    (oracle: DuckDB replays the same cap arithmetic) ─────────────────
    QuerySpec("q294_link_prediction_capped", (s, dir) => {
      val edges = Analytics.coOccurrenceEdges(T(s, dir, "lineitem"),
        "l_orderkey", "l_partkey")
      Graph.linkPrediction(edges, "item_a", "item_b", topK = 20,
          maxMiddleDegree = 100)
        .select(col("a").as("item_a"), col("b").as("item_b"), col("common"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("item_a", "item_b")
    }, oracle = Some(
      """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |           FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.it AS x, b2.it AS y
        |     FROM b a JOIN b b2 ON a.bk = b2.bk AND a.it < b2.it),
        |adj AS MATERIALIZED (SELECT x AS m, y AS n FROM e
        |      UNION ALL SELECT y AS m, x AS n FROM e),
        |deg AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) AS d
        |      FROM adj GROUP BY 1),
        |mids AS MATERIALIZED (SELECT adj.m, adj.n FROM adj
        |      JOIN deg dm ON adj.m = dm.n WHERE dm.d <= 100),
        |cm AS (SELECT a1.n AS a, a2.n AS b, CAST(count(*) AS BIGINT) AS common
        |       FROM mids a1 JOIN mids a2 ON a1.m = a2.m AND a1.n < a2.n
        |       GROUP BY 1, 2),
        |cand AS (SELECT cm.a, cm.b, cm.common FROM cm
        |         LEFT JOIN e ON cm.a = e.x AND cm.b = e.y
        |         WHERE e.x IS NULL),
        |sc AS (SELECT a, b, common,
        |         CAST(common AS DOUBLE) /
        |           CAST((da.d + db.d) - common AS DOUBLE) AS j
        |       FROM cand JOIN deg da ON cand.a = da.n
        |              JOIN deg db ON cand.b = db.n),
        |top AS (SELECT a, b, common, j FROM sc
        |        QUALIFY row_number() OVER (ORDER BY j DESC, a, b) <= 20)
        |SELECT a AS item_a, b AS item_b, common, round(j, 6) AS jaccard
        |FROM top ORDER BY item_a, item_b""".stripMargin)),
    // ── scale: CAPPED 2-hop harmonic centrality — same bounded-recall
    //    convention for q154's production path (N₂ reached only through
    //    degree-≤-cap middles; the degree term stays exact) ───────────────
    QuerySpec("q295_harmonic2_capped", (s, dir) => {
      val edges = Analytics.coOccurrenceEdges(T(s, dir, "lineitem"),
        "l_orderkey", "l_partkey")
      Graph.harmonicCentrality2(edges, "item_a", "item_b", topK = 20,
          maxMiddleDegree = 100)
        .select(col("rank"), col("node"), col("degree"), col("n2"),
          round(col("harmonic"), 6).as("harmonic"))
        .orderBy("rank")
    }, oracle = Some(
      """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |           FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.it AS x, b2.it AS y
        |     FROM b a JOIN b b2 ON a.bk = b2.bk AND a.it < b2.it),
        |adj AS MATERIALIZED (SELECT x AS m, y AS n FROM e
        |      UNION ALL SELECT y AS m, x AS n FROM e),
        |deg AS MATERIALIZED (SELECT n, CAST(count(*) AS BIGINT) AS d
        |      FROM adj GROUP BY 1),
        |mids AS MATERIALIZED (SELECT adj.m, adj.n FROM adj
        |      JOIN deg dm ON adj.m = dm.n WHERE dm.d <= 100),
        |th AS MATERIALIZED (SELECT DISTINCT a1.n AS a, a2.n AS z
        |      FROM mids a1 JOIN mids a2 ON a1.m = a2.m AND a1.n <> a2.n),
        |n2 AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS n2
        |       FROM th
        |       LEFT JOIN e e1 ON th.a = e1.x AND th.z = e1.y
        |       LEFT JOIN e e2 ON th.a = e2.y AND th.z = e2.x
        |       WHERE e1.x IS NULL AND e2.x IS NULL
        |       GROUP BY 1),
        |h AS (SELECT deg.n AS node, deg.d AS degree,
        |        coalesce(n2.n2, 0) AS n2,
        |        CAST(deg.d AS DOUBLE) + (CAST(0.5 AS DOUBLE) *
        |          CAST(coalesce(n2.n2, 0) AS DOUBLE)) AS harmonic
        |      FROM deg LEFT JOIN n2 ON deg.n = n2.node)
        |SELECT CAST(row_number() OVER (ORDER BY harmonic DESC, node) AS INT)
        |    AS rank,
        |  node, degree, n2, round(harmonic, 6) AS harmonic
        |FROM h QUALIFY rank <= 20 ORDER BY rank""".stripMargin)),
    // ── scale: HyperBall harmonic centrality — full-radius centrality on
    //    q154's co-occurrence graph via HLL ball sketches (O(|E|·m) per
    //    round vs the wedge family's Σ deg^d); md5 registers make every
    //    round SQL-replayable (oracle: DuckDB unrolls all 3 register-merge
    //    rounds + the HLL estimates + the harmonic accumulation) ──────────
    QuerySpec("q337_hyperball_harmonic", (s, dir) => {
      val edges = Analytics.coOccurrenceEdges(T(s, dir, "lineitem"),
        "l_orderkey", "l_partkey")
      Graph.harmonicCentralityHyperBall(edges, "item_a", "item_b",
          rounds = 3, m = 16, topK = 20)
        .select(col("rank"), col("node"),
          round(col("ball_est"), 6).as("ball_est"),
          round(col("harmonic"), 6).as("harmonic"))
        .orderBy("rank")
    }, oracle = Some(hyperballOracleSql(rounds = 3, m = 16,
      topK = 20))),
    // ── scale: HyperANF neighborhood function — N(d) pairs-within-d +
    //    effective-diameter readout on the same O(|E|·m) HyperBall loop;
    //    node-sorted Σ-est folds on the gate path (oracle: DuckDB replays
    //    the rounds and the node-ordered sums) ─────────────────────────────
    QuerySpec("q338_hyperanf", (s, dir) => {
      val edges = Analytics.coOccurrenceEdges(T(s, dir, "lineitem"),
        "l_orderkey", "l_partkey")
      Graph.neighborhoodFunction(edges, "item_a", "item_b",
          rounds = 3, m = 16, deterministic = true)
        .select(col("d"), col("n_nodes"),
          round(col("n_pairs_est"), 6).as("n_pairs_est"),
          round(col("frac_of_max"), 6).as("frac_of_max"))
        .orderBy("d")
    }, oracle = Some(hyperanfOracleSql(rounds = 3, m = 16))),
    // ── scale: modularity — is a community assignment real structure?
    //    Q-contribution per community of the nation partition over the
    //    customer–supplier co-purchase graph; exact DECIMAL(38,0) integer
    //    numerators, induced-subgraph semantics (m/degrees AFTER the
    //    assignment join) (oracle: DuckDB replays canonicalization,
    //    induced degrees, and the HUGEINT arithmetic) ─────────────────────
    QuerySpec("q311_modularity", (s, dir) => {
      val el = T(s, dir, "orders")
        .join(T(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b"))
      val cust = T(s, dir, "customer")
        .select(concat(lit("c"), col("c_custkey")).as("node"),
          concat(lit("n"), col("c_nationkey")).as("comm"))
      val supp = T(s, dir, "supplier")
        .select(concat(lit("s"), col("s_suppkey")).as("node"),
          concat(lit("n"), col("s_nationkey")).as("comm"))
      Graph.modularity(el, "a", "b", cust.unionByName(supp), "node", "comm")
        .select(col("community"), col("n_nodes"), col("in_edges"),
          col("deg_sum"), round(col("contrib"), 9).as("contrib"))
        .orderBy("community")
    }, oracle = Some(
      """WITH el AS (SELECT DISTINCT
        |    least('c' || o_custkey, 's' || l_suppkey) AS a,
        |    greatest('c' || o_custkey, 's' || l_suppkey) AS b
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE ('c' || o_custkey) <> ('s' || l_suppkey)),
        |asg AS (SELECT 'c' || c_custkey AS node, 'n' || c_nationkey AS comm
        |    FROM customer
        |  UNION ALL
        |  SELECT 's' || s_suppkey, 'n' || s_nationkey FROM supplier),
        |t AS (SELECT el.a, el.b, ca.comm AS ca, cb.comm AS cb
        |  FROM el JOIN asg ca ON el.a = ca.node
        |    JOIN asg cb ON el.b = cb.node),
        |mm AS (SELECT count(*) AS m FROM t),
        |deg AS (SELECT node, comm, count(*) AS d FROM
        |    (SELECT a AS node, ca AS comm FROM t
        |     UNION ALL SELECT b, cb FROM t) GROUP BY 1, 2),
        |pc AS (SELECT comm, CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum(d) AS BIGINT) AS deg_sum FROM deg GROUP BY 1),
        |ie AS (SELECT ca AS comm, CAST(count(*) AS BIGINT) AS in_edges
        |  FROM t WHERE ca = cb GROUP BY 1)
        |SELECT pc.comm AS community, n_nodes,
        |  coalesce(in_edges, CAST(0 AS BIGINT)) AS in_edges, deg_sum,
        |  round((CAST(4 * mm.m * coalesce(in_edges, 0) AS DOUBLE)
        |      - CAST(deg_sum * deg_sum AS DOUBLE))
        |    / (4.0 * (CAST(mm.m AS DOUBLE) * CAST(mm.m AS DOUBLE))), 9)
        |    AS contrib
        |FROM pc LEFT JOIN ie ON pc.comm = ie.comm CROSS JOIN mm
        |ORDER BY community""".stripMargin)),
    // ── scale: time-respecting reachability — earliest-arrival contagion
    //    over the customer↔supplier interaction graph (an edge is an order
    //    line dated o_orderdate; a hop is traversable only at ts ≥ the
    //    arrival time, which static reachability ignores). Delta-frontier
    //    rounds, node-sized state, integer epoch days (oracle: DuckDB
    //    replays 3 unrolled full-state rounds — provably round-identical
    //    to the delta form) ────────────────────────────────────────────────
    QuerySpec("q274_temporal_reach", (s, dir) => {
      val e0 = T(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        .join(T(s, dir, "orders").select("o_orderkey", "o_custkey",
          "o_orderdate"), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"),
          (col("l_suppkey") * 2 + 1).as("s"),
          datediff(col("o_orderdate"), lit("1970-01-01")).as("d"))
        .distinct()
      val edges = e0.select(col("c").as("src"), col("s").as("dst"), col("d"))
        .unionAll(e0.select(col("s").as("src"), col("c").as("dst"), col("d")))
      val seeds = T(s, dir, "supplier").filter(col("s_suppkey") <= 2)
        .select((col("s_suppkey") * 2 + 1).as("node"))
      Graph.temporalReachability(edges, "src", "dst", "d", seeds, "node",
          seedT = 0L, rounds = 3)
        .select(col("node").cast("long").as("node"),
          col("reach_t").as("reach_day"))
        .orderBy("node")
    }, oracle = Some({
      def round(k: Int): String =
        s"""r$k AS MATERIALIZED (
           |  SELECT node, min(t) AS t FROM (
           |    SELECT node, t FROM r${k - 1}
           |    UNION ALL
           |    SELECT ed.dst AS node, CAST(ed.d AS BIGINT) AS t
           |    FROM r${k - 1} JOIN ed ON ed.src = r${k - 1}.node
           |      AND ed.d >= r${k - 1}.t)
           |  GROUP BY node)""".stripMargin
      s"""WITH e AS (SELECT DISTINCT o_custkey * 2 AS c,
         |    l_suppkey * 2 + 1 AS s,
         |    date_diff('day', DATE '1970-01-01', o_orderdate::DATE) AS d
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |ed AS (SELECT c AS src, s AS dst, d FROM e
         |  UNION ALL SELECT s, c, d FROM e),
         |r0 AS (SELECT s_suppkey * 2 + 1 AS node, CAST(0 AS BIGINT) AS t
         |  FROM supplier WHERE s_suppkey <= 2),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT CAST(node AS BIGINT) AS node, t AS reach_day
         |FROM r3 ORDER BY node""".stripMargin
    })),
    // ── scale: 2-hop harmonic centrality — deg + ½·|N₂| via distinct
    //    wedge endpoints minus neighbors (the crawl-prior in its cheapest
    //    faithful form) (oracle: DuckDB replays wedges, anti-joins, and
    //    the ranking) ──────────────────────────────────────────────────────
    QuerySpec("q154_harmonic2", (s, dir) => {
      val edges = Analytics.coOccurrenceEdges(T(s, dir, "lineitem"),
        "l_orderkey", "l_partkey")
      Graph.harmonicCentrality2(edges, "item_a", "item_b", topK = 20)
        .select(col("rank"), col("node"), col("degree"), col("n2"),
          round(col("harmonic"), 6).as("harmonic"))
        .orderBy("rank")
    }, bench = Some((s, dir) => {
      // q154 benches the PRODUCTION capped path (middle-degree cap 100 —
      // the q144 convention; the exact 2-hop set is the oracle gate)
      val edges = Analytics.coOccurrenceEdges(T(s, dir, "lineitem"),
        "l_orderkey", "l_partkey")
      () => Graph.harmonicCentrality2(edges, "item_a", "item_b",
          topK = 20, maxMiddleDegree = 100)
        .select(col("rank"), col("node"), col("degree"), col("n2"),
          round(col("harmonic"), 6).as("harmonic"))
        .orderBy("rank")
    }), oracle = Some(
      """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |           FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.it AS x, b2.it AS y
        |     FROM b a JOIN b b2 ON a.bk = b2.bk AND a.it < b2.it),
        |adj AS MATERIALIZED (SELECT x AS m, y AS n FROM e
        |      UNION ALL SELECT y AS m, x AS n FROM e),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
        |th AS MATERIALIZED (SELECT DISTINCT a1.n AS a, a2.n AS z
        |      FROM adj a1 JOIN adj a2 ON a1.m = a2.m AND a1.n <> a2.n),
        |n2 AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS n2
        |       FROM th
        |       LEFT JOIN e e1 ON th.a = e1.x AND th.z = e1.y
        |       LEFT JOIN e e2 ON th.a = e2.y AND th.z = e2.x
        |       WHERE e1.x IS NULL AND e2.x IS NULL
        |       GROUP BY 1),
        |h AS (SELECT deg.n AS node, deg.d AS degree,
        |        coalesce(n2.n2, 0) AS n2,
        |        CAST(deg.d AS DOUBLE) + (CAST(0.5 AS DOUBLE) *
        |          CAST(coalesce(n2.n2, 0) AS DOUBLE)) AS harmonic
        |      FROM deg LEFT JOIN n2 ON deg.n = n2.node)
        |SELECT CAST(row_number() OVER (ORDER BY harmonic DESC, node) AS INT)
        |    AS rank,
        |  node, degree, n2, round(harmonic, 6) AS harmonic
        |FROM h QUALIFY rank <= 20 ORDER BY rank""".stripMargin)),
    // ── scale: local clustering coefficients — 2·tri/(d·(d−1)) per node
    //    on the shared degree-ordered triangle machinery (hubs vs tight
    //    communities) (oracle: DuckDB replays triangles, degrees, cc) ──────
    QuerySpec("q155_clustering_coeff", (s, dir) => {
      val edges = Analytics.coOccurrenceEdges(T(s, dir, "lineitem"),
        "l_orderkey", "l_partkey")
      Graph.clusteringCoefficients(edges, "item_a", "item_b", topK = 20)
        .select(col("rank"), col("node"), col("degree"), col("triangles"),
          round(col("cc"), 6).as("cc"))
        .orderBy("rank")
    }, oracle = Some(
      """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |           FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.it AS x, b2.it AS y
        |     FROM b a JOIN b b2 ON a.bk = b2.bk AND a.it < b2.it),
        |adj AS (SELECT x AS m, y AS n FROM e
        |        UNION ALL SELECT y AS m, x AS n FROM e),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
        |t AS (SELECT e1.x AS x, e1.y AS y, e2.y AS z
        |      FROM e e1 JOIN e e2 ON e1.y = e2.x
        |      JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
        |nodes AS (SELECT x AS node FROM t UNION ALL SELECT y FROM t
        |          UNION ALL SELECT z FROM t),
        |c AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles
        |      FROM nodes GROUP BY 1),
        |s AS (SELECT deg.n AS node, deg.d AS degree,
        |        coalesce(c.triangles, 0) AS triangles,
        |        CASE WHEN deg.d < 2 THEN CAST(0.0 AS DOUBLE)
        |             ELSE (CAST(2.0 AS DOUBLE) *
        |                   CAST(coalesce(c.triangles, 0) AS DOUBLE)) /
        |                  (CAST(deg.d AS DOUBLE) *
        |                   (CAST(deg.d AS DOUBLE) - CAST(1.0 AS DOUBLE)))
        |        END AS cc
        |      FROM deg LEFT JOIN c ON deg.n = c.node)
        |SELECT CAST(row_number() OVER (ORDER BY cc DESC, node) AS INT)
        |    AS rank,
        |  node, degree, triangles, round(cc, 6) AS cc
        |FROM s QUALIFY rank <= 20 ORDER BY rank""".stripMargin)),
    // ── scale: k-core peeling — fixed-round dense-kernel extraction
    //    (per-round semi-join vs the broadcast alive set; the fixed-round
    //    replay contract) (oracle: DuckDB unrolls the rounds) ──────────────
    QuerySpec("q143_kcore", (s, dir) => {
      val edges = Analytics.coOccurrenceEdges(T(s, dir, "lineitem"),
        "l_orderkey", "l_partkey")
      Graph.kCore(edges, "item_a", "item_b", k = 120, rounds = 6)
    }, oracle = Some(kCoreOracleSql(k = 120, rounds = 6))),
    // ── scale: neighborhood-overlap link prediction — Jaccard of
    //    neighbor sets for NOT-yet-connected pairs via the wedge join;
    //    exact-long ratio (oracle: DuckDB replays wedges, anti-join,
    //    degrees, and the top-k cut) ───────────────────────────────────────
    QuerySpec("q144_link_prediction", (s, dir) => {
      val edges = Analytics.coOccurrenceEdges(T(s, dir, "lineitem"),
        "l_orderkey", "l_partkey")
      Graph.linkPrediction(edges, "item_a", "item_b", topK = 20)
        .select(col("a").as("item_a"), col("b").as("item_b"), col("common"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("item_a", "item_b")
    }, bench = Some((s, dir) => {
      // q144 benches the PRODUCTION capped path (middle-degree cap 100 —
      // the bounded-recall scale lever; the exact path is the oracle gate)
      val edges = Analytics.coOccurrenceEdges(T(s, dir, "lineitem"),
        "l_orderkey", "l_partkey")
      () => Graph.linkPrediction(edges, "item_a", "item_b", topK = 20,
          maxMiddleDegree = 100)
        .select(col("a").as("item_a"), col("b").as("item_b"), col("common"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("item_a", "item_b")
    }), oracle = Some(
      """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |           FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.it AS x, b2.it AS y
        |     FROM b a JOIN b b2 ON a.bk = b2.bk AND a.it < b2.it),
        |adj AS MATERIALIZED (SELECT x AS m, y AS n FROM e
        |      UNION ALL SELECT y AS m, x AS n FROM e),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
        |cm AS (SELECT a1.n AS a, a2.n AS b, CAST(count(*) AS BIGINT) AS common
        |       FROM adj a1 JOIN adj a2 ON a1.m = a2.m AND a1.n < a2.n
        |       GROUP BY 1, 2),
        |cand AS (SELECT cm.a, cm.b, cm.common FROM cm
        |         LEFT JOIN e ON cm.a = e.x AND cm.b = e.y
        |         WHERE e.x IS NULL),
        |sc AS (SELECT a, b, common,
        |         CAST(common AS DOUBLE) /
        |           CAST((da.d + db.d) - common AS DOUBLE) AS j
        |       FROM cand JOIN deg da ON cand.a = da.n
        |              JOIN deg db ON cand.b = db.n),
        |top AS (SELECT a, b, common, j FROM sc
        |        QUALIFY row_number() OVER (ORDER BY j DESC, a, b) <= 20)
        |SELECT a AS item_a, b AS item_b, common, round(j, 6) AS jaccard
        |FROM top ORDER BY item_a, item_b""".stripMargin)),
    // ── scale: exact triangle counting — compact-forward x<y<z
    //    enumeration over the co-purchase projection (clustering signal:
    //    organic neighborhoods triangulate, link farms star) (oracle:
    //    DuckDB replays the triple join, corners, and Σ/3 total) ──────────
    QuerySpec("q142_triangles", (s, dir) => {
      val edges = Analytics.coOccurrenceEdges(T(s, dir, "lineitem"),
        "l_orderkey", "l_partkey")
      Graph.triangleCounts(edges, "item_a", "item_b", topK = 10)
    }, oracle = Some(
      """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |           FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.it AS x, b2.it AS y
        |     FROM b a JOIN b b2 ON a.bk = b2.bk AND a.it < b2.it),
        |t AS (SELECT e1.x AS x, e1.y AS y, e2.y AS z
        |      FROM e e1 JOIN e e2 ON e1.y = e2.x
        |      JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
        |nodes AS (SELECT x AS node FROM t UNION ALL SELECT y FROM t
        |          UNION ALL SELECT z FROM t),
        |c AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles
        |      FROM nodes GROUP BY 1),
        |tot AS (SELECT CAST(sum(triangles) // 3 AS BIGINT) AS total FROM c),
        |r AS (SELECT node, triangles,
        |        row_number() OVER (ORDER BY triangles DESC, node) AS rank
        |      FROM c QUALIFY rank <= 10)
        |SELECT rank, node, triangles, (SELECT total FROM tot) AS total
        |FROM r ORDER BY rank""".stripMargin)),
    // ── scale: label-propagation communities over the customer–supplier
    //    graph — deterministic LPA (most frequent neighbor label, ties
    //    smallest; integer/string-exact, oracle replays unrolled rounds) ──
    QuerySpec("q105_label_prop", (s, dir) => {
      val el = T(s, dir, "orders")
        .join(T(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b"))
      Graph.labelPropagation(Graph.bidirect(el, "a", "b"), "src", "dst",
          rounds = 4)
        .orderBy("node")
    }, oracle = Some(lpaOracleSql(rounds = 4))),
    // ── scale: PageRank centrality over the customer–supplier graph —
    //    the link-graph quality prior of web-corpus curation (bidirected
    //    orders⋈lineitem edges, 3 rounds, GraphX staticPageRank
    //    semantics; gate runs the deterministic src-sorted fold so the
    //    oracle replays every round as unrolled CTEs) ────────────────────
    QuerySpec("q101_pagerank", (s, dir) => {
      val el = T(s, dir, "orders")
        .join(T(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b"))
      Graph.pageRank(Graph.bidirect(el, "a", "b"), "src", "dst",
          rounds = 3, damping = 0.85, deterministic = true)
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    }, bench = Some((s, dir) => {
      // q101 benches the PRODUCTION path above the driver gate: plain
      // map-side-combined sums (the src-sorted fold exists so the SQL
      // oracle can replay rounds); under the gate the driver's src-sorted
      // fold runs for either flag
      val el = T(s, dir, "orders")
        .join(T(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b"))
      () => Graph.pageRank(Graph.bidirect(el, "a", "b"), "src", "dst",
          rounds = 3, damping = 0.85)
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy("node")
    }), oracle = Some(pageRankOracleSql(rounds = 3, damping = 0.85))))

  /** Unrolled HyperBall rounds over q154's item co-occurrence graph
    * (q337): r0 = own md5 HLL register, each round register-merges
    * neighbors (max), per-round estimates via the q111 replay shape,
    * harmonic = Σ_d clamp(est_d − est_{d−1}, 0)/d. */
  private def hyperballOracleSql(rounds: Int, m: Int, topK: Int): String = {
    val b = java.lang.Integer.numberOfTrailingZeros(m)
    val width = 60 - b
    val alpha = s"(0.7213 / (1.0 + 1.079 / $m.0))"
    val m2 = s"${m.toLong * m}.0"
    def est(i: Int): String =
      s""",
         |z$i AS (SELECT node,
         |    list_reduce(list(power(2.0, -M) ORDER BY bucket),
         |      (a, c) -> a + c) + ($m.0 - count(*)) AS z,
         |    $m.0 - count(*) AS v0
         |  FROM r$i GROUP BY 1),
         |x$i AS (SELECT node,
         |    CASE WHEN $alpha * $m2 / z <= ${2.5 * m} AND v0 > 0.0
         |      THEN $m.0 * ln($m.0 / v0)
         |      ELSE $alpha * $m2 / z END AS est
         |  FROM z$i)""".stripMargin
    val head =
      s"""WITH bkt AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
         |  FROM lineitem),
         |e AS MATERIALIZED (SELECT DISTINCT a.it AS x, b2.it AS y
         |  FROM bkt a JOIN bkt b2 ON a.bk = b2.bk AND a.it < b2.it),
         |adj AS MATERIALIZED (SELECT x AS src, y AS dst FROM e
         |  UNION ALL SELECT y AS src, x AS dst FROM e),
         |nd AS (SELECT DISTINCT src AS node FROM adj),
         |h0 AS (SELECT node,
         |    ('0x' || substr(md5(node::VARCHAR), 1, 15))::UBIGINT AS hv
         |  FROM nd),
         |r0 AS MATERIALIZED (SELECT node, CAST(hv & ${m - 1} AS BIGINT)
         |      AS bucket,
         |    max(${hllRhoSql(s"(hv >> $b)", width)}) AS M
         |  FROM h0 GROUP BY 1, 2)""".stripMargin + est(0)
    val body = (1 to rounds).map { d =>
      s""",
         |r$d AS MATERIALIZED (SELECT node, bucket, max(M) AS M FROM (
         |    SELECT a.src AS node, r.bucket, r.M
         |    FROM adj a JOIN r${d - 1} r ON a.dst = r.node
         |    UNION ALL SELECT node, bucket, M FROM r${d - 1}) u
         |  GROUP BY 1, 2)""".stripMargin + est(d)
    }.mkString
    val hTerms = (1 to rounds).map(d =>
      s"(greatest(0.0, x$d.est - x${d - 1}.est) / $d.0)").mkString(" + ")
    val joins = (1 to rounds).map(d => s"JOIN x$d USING (node)").mkString(" ")
    head + body +
      s"""
         |, hh AS (SELECT x0.node, $hTerms AS h, x$rounds.est AS ball
         |  FROM x0 $joins)
         |SELECT CAST(row_number() OVER (ORDER BY h DESC, node ASC)
         |    AS BIGINT) AS rank,
         |  node, round(ball, 6) AS ball_est, round(h, 6) AS harmonic
         |FROM hh ORDER BY h DESC, node ASC LIMIT $topK""".stripMargin
  }

  /** HyperANF twin of [[hyperballOracleSql]] (q338): per-round
    * node-summed ball estimates (node-ordered fold) + frac of the
    * final round's sum. */
  private def hyperanfOracleSql(rounds: Int, m: Int): String = {
    // identical head/body as hyperballOracleSql — rebuild them
    val full = hyperballOracleSql(rounds, m, topK = 1)
    val head = full.substring(0, full.indexOf("\n, hh AS"))
    val sCtes = (0 to rounds).map { d =>
      s""",
         |s$d AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    list_reduce(list(est ORDER BY node), (a, c) -> a + c) AS s
         |  FROM x$d)""".stripMargin
    }.mkString
    val rows = (0 to rounds).map { d =>
      s"""SELECT CAST($d AS BIGINT) AS d, s$d.n AS n_nodes,
         |  round(s$d.s, 6) AS n_pairs_est,
         |  round(s$d.s / sm.s, 6) AS frac_of_max FROM s$d, sm""".stripMargin
    }.mkString("\nUNION ALL ")
    head + sCtes +
      s""",
         |sm AS (SELECT s FROM s$rounds)
         |$rows
         |ORDER BY d""".stripMargin
  }

  /** The q189 HITS loop unrolled in SQL. Raw-score and normalized CTEs
    * are referenced twice each (norm + divide / two consumers), so they
    * are MATERIALIZED — DuckDB inlines CTEs by default and the reference
    * count would otherwise grow geometrically with rounds. Folds ORDER BY
    * the counterpart key exactly as the deterministic Spark path. */
  private def hitsOracleSql(rounds: Int): String = {
    val header =
      s"""WITH el AS (
         |  SELECT DISTINCT 'c' || o_custkey::VARCHAR AS src,
         |    's' || l_suppkey::VARCHAR AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |h0 AS (SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) AS h
         |  FROM el),""".stripMargin
    val roundCtes = (1 to rounds).map { k =>
      s"""ar$k AS MATERIALIZED (SELECT e.dst AS node,
         |    list_reduce(list(h.h ORDER BY e.src), (x, y) -> x + y) AS a
         |  FROM el e JOIN h${k - 1} h ON e.src = h.node GROUP BY e.dst),
         |an$k AS (SELECT sqrt(list_reduce(list(a * a ORDER BY node),
         |    (x, y) -> x + y)) AS nrm FROM ar$k),
         |a$k AS MATERIALIZED (SELECT node, a / nrm AS a FROM ar$k, an$k),
         |hr$k AS MATERIALIZED (SELECT e.src AS node,
         |    list_reduce(list(a.a ORDER BY e.dst), (x, y) -> x + y) AS h
         |  FROM el e JOIN a$k a ON e.dst = a.node GROUP BY e.src),
         |hn$k AS (SELECT sqrt(list_reduce(list(h * h ORDER BY node),
         |    (x, y) -> x + y)) AS nrm FROM hr$k),
         |h$k AS MATERIALIZED (SELECT node, h / nrm AS h FROM hr$k, hn$k),""".stripMargin
    }.mkString("\n").stripSuffix(",")
    s"""$header
       |$roundCtes
       |SELECT node, kind, score FROM (
       |  SELECT node, 'hub' AS kind, round(h, 6) AS score FROM h$rounds
       |  UNION ALL
       |  SELECT node, 'auth' AS kind, round(a, 6) AS score FROM a$rounds)
       |ORDER BY kind, node""".stripMargin
  }

  private def pageRankOracleSql(rounds: Int, damping: Double): String = {
    val base = (1.0 - damping).toString
    val header =
      s"""WITH el AS (
         |  SELECT DISTINCT 'c' || o_custkey::VARCHAR AS a,
         |    's' || l_suppkey::VARCHAR AS b
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (SELECT a AS src, b AS dst FROM el
         |          UNION ALL SELECT b, a FROM el),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |nodes AS (SELECT src AS node FROM edges
         |          UNION SELECT dst FROM edges),
         |r0 AS (SELECT node, 1.0 AS rank FROM nodes),""".stripMargin
    val roundCtes = (1 to rounds).map { k =>
      s"""c$k AS (SELECT e.dst AS node, e.src AS src, r.rank / d.deg AS c
         |  FROM edges e JOIN r${k - 1} r ON e.src = r.node
         |  JOIN deg d ON e.src = d.src),
         |s$k AS (SELECT node,
         |    list_reduce(list(c ORDER BY src), (a, b) -> a + b) AS s
         |  FROM c$k GROUP BY node),
         |r$k AS (SELECT n.node, $base + $damping * coalesce(s.s, 0.0) AS rank
         |  FROM nodes n LEFT JOIN s$k s ON n.node = s.node),""".stripMargin
    }.mkString("\n").stripSuffix(",")
    s"""$header
       |$roundCtes
       |SELECT node, round(rank, 6) AS rank FROM r$rounds ORDER BY node""".stripMargin
  }

  /** The q105 label-propagation loop unrolled in SQL: per round, neighbor
    * label counts and a (count DESC, label ASC) argmax per node — every
    * step integer/string-exact, so parity needs no fold-order care. */
  private def lpaOracleSql(rounds: Int): String = {
    val header =
      s"""WITH el AS (
         |  SELECT DISTINCT 'c' || o_custkey::VARCHAR AS a,
         |    's' || l_suppkey::VARCHAR AS b
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (SELECT a AS src, b AS dst FROM el
         |          UNION ALL SELECT b, a FROM el),
         |nodes AS (SELECT src AS node FROM edges
         |          UNION SELECT dst FROM edges),
         |l0 AS (SELECT node, node AS label FROM nodes),""".stripMargin
    val roundCtes = (1 to rounds).map { k =>
      s"""c$k AS (SELECT e.dst AS node, l.label, count(*) AS c
         |  FROM edges e JOIN l${k - 1} l ON e.src = l.node GROUP BY 1, 2),
         |w$k AS (SELECT node, label FROM (
         |  SELECT node, label,
         |    row_number() OVER (PARTITION BY node
         |                       ORDER BY c DESC, label ASC) AS rn
         |  FROM c$k) WHERE rn = 1),
         |l$k AS (SELECT p.node, coalesce(w.label, p.label) AS label
         |  FROM l${k - 1} p LEFT JOIN w$k w ON p.node = w.node),""".stripMargin
    }.mkString("\n").stripSuffix(",")
    s"$header\n$roundCtes\nSELECT node, label FROM l$rounds ORDER BY node"
  }

  /** The q110 TrustRank loop unrolled in SQL: the q101 round machinery
    * with the seeded teleport vector t (1/|S∩nodes| on seeds, else 0) —
    * same src-sorted folds, same exact-double (1 − damping) literal. */
  private def pprOracleSql(rounds: Int, damping: Double): String = {
    val base = (1.0 - damping).toString
    val header =
      s"""WITH el AS (
         |  SELECT DISTINCT 'c' || o_custkey::VARCHAR AS a,
         |    's' || l_suppkey::VARCHAR AS b
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (SELECT a AS src, b AS dst FROM el
         |          UNION ALL SELECT b, a FROM el),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |nodes AS (SELECT src AS node FROM edges
         |          UNION SELECT dst FROM edges),
         |sn AS (SELECT DISTINCT 'c' || c_custkey::VARCHAR AS node
         |       FROM customer WHERE c_nationkey = 0),
         |sng AS (SELECT sn.node FROM sn JOIN nodes USING (node)),
         |tv AS (SELECT CAST(1.0 AS DOUBLE) / count(*) AS t FROM sng),
         |based AS (SELECT n.node,
         |            CASE WHEN g.node IS NOT NULL THEN tv.t ELSE 0.0 END AS t
         |          FROM nodes n LEFT JOIN sng g ON n.node = g.node
         |          CROSS JOIN tv),
         |r0 AS (SELECT node, t AS rank FROM based),""".stripMargin
    val roundCtes = (1 to rounds).map { k =>
      s"""c$k AS (SELECT e.dst AS node, e.src AS src, r.rank / d.deg AS c
         |  FROM edges e JOIN r${k - 1} r ON e.src = r.node
         |  JOIN deg d ON e.src = d.src),
         |s$k AS (SELECT node,
         |    list_reduce(list(c ORDER BY src), (a, b) -> a + b) AS s
         |  FROM c$k GROUP BY node),
         |r$k AS (SELECT b.node, $base * b.t + $damping * coalesce(s.s, 0.0) AS rank
         |  FROM based b LEFT JOIN s$k s ON b.node = s.node),""".stripMargin
    }.mkString("\n").stripSuffix(",")
    s"""$header
       |$roundCtes
       |SELECT node, round(rank, 9) AS rank FROM r$rounds ORDER BY node""".stripMargin
  }

  /** q230 BFS oracle: the frontier rounds unrolled — f_h = distinct
    * neighbors of f_{h−1} not yet visited, v_h = v_{h−1} ∪ (f_h, h);
    * every CTE MATERIALIZED (multi-referenced, the q131 inlining
    * lesson). Integer-exact throughout. */
  private def bfsLevelsOracleSql(maxHops: Int): String = {
    val rounds = (1 to maxHops).map { h =>
      val p = h - 1
      s"""f$h AS MATERIALIZED (SELECT DISTINCT e.dst AS node
         |  FROM e JOIN f$p ON e.src = f$p.node
         |  WHERE e.dst NOT IN (SELECT node FROM v$p)),
         |v$h AS MATERIALIZED (SELECT node, dist FROM v$p
         |  UNION ALL SELECT node, $h AS dist FROM f$h)""".stripMargin
    }.mkString(",\n")
    s"""WITH el AS MATERIALIZED (SELECT DISTINCT
       |    'c' || CAST(o_custkey AS VARCHAR) AS a,
       |    's' || CAST(l_suppkey AS VARCHAR) AS b
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM el
       |  UNION SELECT b AS src, a AS dst FROM el),
       |f0 AS MATERIALIZED (SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR)
       |    AS node FROM supplier WHERE s_suppkey % 10 = 0),
       |v0 AS MATERIALIZED (SELECT node, 0 AS dist FROM f0),
       |$rounds
       |SELECT CAST(dist AS INTEGER) AS dist,
       |  CAST(count(*) AS BIGINT) AS n_nodes,
       |  CAST(sum(CASE WHEN node LIKE 'c%' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_cust,
       |  CAST(sum(CASE WHEN node LIKE 's%' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_supp
       |FROM v$maxHops GROUP BY 1 ORDER BY dist""".stripMargin
  }

  /** q238 bounded-shortest-path oracle: Bellman–Ford relaxations unrolled
    * — d_k = per-node min over (d_{k−1} ∪ edges⋈d_{k−1} min-plus);
    * parallel edges pre-collapsed to their min weight; every CTE
    * MATERIALIZED (multi-referenced, the q131 inlining lesson).
    * Integer-exact throughout. */
  private def shortestPathsOracleSql(rounds: Int): String = {
    val steps = (1 to rounds).map { k =>
      val p = k - 1
      s"""d$k AS MATERIALIZED (SELECT node, CAST(min(dist) AS BIGINT) AS dist
         |  FROM (SELECT node, dist FROM d$p
         |    UNION ALL
         |    SELECT e.dst AS node, d$p.dist + e.w AS dist
         |    FROM e JOIN d$p ON e.src = d$p.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH el AS MATERIALIZED (SELECT
       |    'c' || CAST(o_custkey AS VARCHAR) AS a,
       |    's' || CAST(l_suppkey AS VARCHAR) AS b,
       |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
       |      CAST(l_shipdate AS DATE)) AS BIGINT) AS w
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS MATERIALIZED (SELECT src, dst, CAST(min(w) AS BIGINT) AS w
       |  FROM (SELECT a AS src, b AS dst, w FROM el
       |    UNION ALL SELECT b AS src, a AS dst, w FROM el)
       |  GROUP BY 1, 2),
       |d0 AS MATERIALIZED (SELECT DISTINCT
       |    's' || CAST(s_suppkey AS VARCHAR) AS node, CAST(0 AS BIGINT)
       |      AS dist
       |  FROM supplier WHERE s_suppkey % 10 = 0),
       |$steps
       |SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes
       |FROM d$rounds GROUP BY 1 ORDER BY dist""".stripMargin
  }

  /** q143 k-core oracle: the peeling rounds unrolled — per round, edges
    * restricted to the previous alive set and a degree-≥-k filter; every
    * CTE MATERIALIZED (multi-referenced, the q131 inlining lesson). */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { t =>
      val p = t - 1
      s"""ae$t AS MATERIALIZED (SELECT x, y FROM e
         |      WHERE x IN (SELECT n FROM a$p) AND y IN (SELECT n FROM a$p)),
         |a$t AS MATERIALIZED (SELECT n FROM (
         |        SELECT n, count(*) AS d FROM
         |          (SELECT x AS n FROM ae$t UNION ALL SELECT y AS n FROM ae$t)
         |        GROUP BY 1)
         |      WHERE d >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
       |           FROM lineitem),
       |e AS MATERIALIZED (SELECT DISTINCT a.it AS x, b2.it AS y
       |     FROM b a JOIN b b2 ON a.bk = b2.bk AND a.it < b2.it),
       |a0 AS MATERIALIZED (SELECT DISTINCT n FROM
       |     (SELECT x AS n FROM e UNION ALL SELECT y AS n FROM e)),
       |$roundCtes,
       |fe AS (SELECT x, y FROM e
       |       WHERE x IN (SELECT n FROM a$rounds)
       |         AND y IN (SELECT n FROM a$rounds))
       |SELECT n AS node, CAST(count(*) AS BIGINT) AS degree
       |FROM (SELECT x AS n FROM fe UNION ALL SELECT y AS n FROM fe)
       |GROUP BY 1 ORDER BY node""".stripMargin
  }
}
