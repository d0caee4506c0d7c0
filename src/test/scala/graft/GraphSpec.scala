package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Naive reference PageRank (GraphX staticPageRank semantics),
    * contributions folded src-sorted to mirror the deterministic path. */
  private def refRank(edges: Seq[(String, String)], rounds: Int,
      d: Double): Map[String, Double] = {
    val e = edges.distinct
    val deg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toDouble }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var rank = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to rounds) {
      val in = e.groupBy(_._2)
      rank = nodes.map { n =>
        val s = in.getOrElse(n, Seq.empty).sortBy(_._1)
          .foldLeft(0.0)((acc, ed) => acc + rank(ed._1) / deg(ed._1))
        n -> ((1.0 - d) + d * s)
      }.toMap
    }
    rank
  }

  private val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("b", "d"))

  test("pageRank matches the hand reference bit-for-bit on a bidirected graph") {
    val e = Graph.bidirect(chain.toDF("s", "t"), "s", "t")
    val got = Graph.pageRank(e, "src", "dst", rounds = 3, deterministic = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val bidir = chain ++ chain.map(_.swap)
    val want = refRank(bidir, 3, 0.85)
    assert(got.keySet === want.keySet)
    got.foreach { case (n, r) => assert(r === want(n), s"node $n") }
  }

  test("pageRank dangling semantics: sinks receive but pass nothing (GraphX)") {
    // a -> b only: after 1 round rank_b = 0.15 + 0.85*1, rank_a = 0.15
    val got = Graph.pageRank(Seq(("a", "b")).toDF("s", "t"), "s", "t",
        rounds = 1, deterministic = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("a") === (1.0 - 0.85))
    assert(got("b") === (1.0 - 0.85) + 0.85 * 1.0)
  }

  // the repartitioning / production-sum tests below pin the DISTRIBUTED
  // rounds (maxDriverEdges = 0): their graphs fit the driver gate, where
  // the rounds would not see the partitioning at all
  test("pageRank deterministic mode is bit-identical under repartitioning") {
    val edges = (1 to 400).flatMap { i =>
      Seq((s"n${i % 37}", s"n${(i * 7) % 41 + 37}"),
        (s"n${(i * 13) % 41 + 37}", s"n${i % 37}"))
    }
    def run(parts: Int) = Graph.pageRankGated(
        Graph.bidirect(edges.toDF("s", "t").repartition(parts), "s", "t"),
        "src", "dst", rounds = 3, damping = 0.85, deterministic = true,
        checkpointInterval = 8, maxDriverEdges = 0L)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val a = run(2)
    assert(run(11) === a)
    assert(a === refRank((edges ++ edges.map(_.swap)).distinct, 3, 0.85))
  }

  test("production (plain-sum) path agrees with deterministic to 1e-9") {
    val edges = (1 to 300).map(i => (s"u${i % 23}", s"v${(i * 11) % 29}"))
    val e = Graph.bidirect(edges.toDF("s", "t"), "s", "t")
    def run(deterministic: Boolean) = Graph.pageRankGated(e, "src", "dst", 3,
        0.85, deterministic, checkpointInterval = 8, maxDriverEdges = 0L)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val det = run(deterministic = true)
    val plain = run(deterministic = false)
    assert(det.keySet === plain.keySet)
    det.foreach { case (n, r) => assert(math.abs(r - plain(n)) < 1e-9, s"node $n") }
  }

  /** Naive reference personalized PageRank (TrustRank), src-sorted folds. */
  private def refPpr(edges: Seq[(String, String)], seeds: Set[String],
      rounds: Int, d: Double): Map[String, Double] = {
    val e = edges.distinct
    val deg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toDouble }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val present = seeds & nodes.toSet
    val t = 1.0 / present.size
    def tOf(n: String) = if (present(n)) t else 0.0
    var rank = nodes.map(n => n -> tOf(n)).toMap
    for (_ <- 1 to rounds) {
      val in = e.groupBy(_._2)
      rank = nodes.map { n =>
        val s = in.getOrElse(n, Seq.empty).sortBy(_._1)
          .foldLeft(0.0)((acc, ed) => acc + rank(ed._1) / deg(ed._1))
        n -> ((1.0 - d) * tOf(n) + d * s)
      }.toMap
    }
    rank
  }

  test("personalizedPageRank matches the reference; unreachable nodes stay at 0") {
    // component 1: a–b–c chain; component 2: x–y, unreachable from seeds
    val ch = Seq(("a", "b"), ("b", "c"), ("x", "y"))
    val e = Graph.bidirect(ch.toDF("s", "t"), "s", "t")
    val seeds = Seq("a", "zzz-not-in-graph").toDF("n") // absent seeds drop
    val got = Graph.personalizedPageRank(e, "src", "dst", seeds, "n",
        rounds = 3, deterministic = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = refPpr(ch ++ ch.map(_.swap), Set("a"), 3, 0.85)
    assert(got.keySet === want.keySet)
    got.foreach { case (n, v) => assert(v === want(n), s"node $n") }
    assert(got("x") === 0.0 && got("y") === 0.0)
    // seed-component nodes all carry trust; the chain end is weakest
    assert(got("a") > 0.0 && got("b") > 0.0)
    assert(got("c") < got("b"))
  }

  test("personalizedPageRank deterministic mode is partition-invariant") {
    // the distributed rounds, as in the pageRank test above
    val edges = (1 to 400).map(i => (s"n${i % 31}", s"n${(i * 7) % 37}"))
    val seeds = Seq("n1", "n2", "n3").toDF("n")
    def run(parts: Int) = Graph.personalizedPageRankGated(
        Graph.bidirect(edges.toDF("s", "t").repartition(parts), "s", "t"),
        "src", "dst", seeds, "n", rounds = 3, damping = 0.85,
        deterministic = true, checkpointInterval = 8, maxDriverEdges = 0L)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val a = run(2)
    assert(run(11) === a)
    assert(a === refPpr((edges ++ edges.map(_.swap)).distinct,
      Set("n1", "n2", "n3"), 3, 0.85))
  }

  /** Naive reference LPA: most frequent in-neighbor label, ties smallest. */
  private def refLpa(edges: Seq[(String, String)], rounds: Int): Map[String, String] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var lab = nodes.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      val in = e.groupBy(_._2)
      lab = nodes.map { n =>
        val counts = in.getOrElse(n, Seq.empty).map(ed => lab(ed._1))
          .groupBy(identity).map { case (l, ls) => l -> ls.size }
        n -> (if (counts.isEmpty) lab(n)
              else counts.toSeq.minBy { case (l, c) => (-c, l) }._1)
      }.toMap
    }
    lab
  }

  test("labelPropagation matches the hand reference; two cliques separate") {
    // two triangles joined by one bridge edge: LPA should settle each
    // clique on its own smallest label
    val cliques = Seq(("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
      ("b1", "b2"), ("b2", "b3"), ("b1", "b3"), ("a3", "b1"))
    val e = Graph.bidirect(cliques.toDF("s", "t"), "s", "t")
    for (r <- 0 to 4) {
      val got = Graph.labelPropagation(e, "src", "dst", r)
        .collect().map(x => x.getString(0) -> x.getString(1)).toMap
      assert(got === refLpa(cliques ++ cliques.map(_.swap), r), s"rounds=$r")
    }
    val fin = Graph.labelPropagation(e, "src", "dst", 4)
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    assert(Set(fin("a1"), fin("a2")).size === 1) // a-clique agrees
    assert(Set(fin("b2"), fin("b3")).size === 1) // b-clique agrees
  }

  test("labelPropagation is deterministic under repartitioning") {
    val edges = (1 to 500).map(i => (s"n${i % 43}", s"n${(i * 17) % 47}"))
    def run(parts: Int) = Graph.labelPropagationGated(
        Graph.bidirect(edges.toDF("s", "t").repartition(parts), "s", "t"),
        "src", "dst", 3, checkpointInterval = 8, maxDriverEdges = 0L)
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    val a = run(2)
    assert(run(13) === a)
    assert(a === refLpa((edges ++ edges.map(_.swap)).distinct, 3))
  }

  test("duplicate edges collapse; rounds=0 returns all-ones") {
    val dup = Seq(("a", "b"), ("a", "b"), ("b", "a")).toDF("s", "t")
    val one = Graph.pageRank(dup, "s", "t", rounds = 1, deterministic = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // a->b collapsed: deg(a)=1, so b gets full rank_a
    assert(one("b") === (1.0 - 0.85) + 0.85 * 1.0)
    val zero = Graph.pageRank(dup, "s", "t", rounds = 0)
      .collect().map(r => r.getDouble(1)).toSet
    assert(zero === Set(1.0))
  }

  // ── triangle counting ──────────────────────────────────────────────────

  test("triangleCounts: hand graph, canonicalization, exact total") {
    // K4 on {1,2,3,4} (4 triangles, every node in 3) plus a pendant 5
    // and noise: a self-loop and reversed/duplicate edges that must
    // collapse in canonicalization
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 2L),            // reverse duplicate
      (2L, 2L),            // self-loop
      (4L, 5L)).toDF("s", "d")
    val out = Graph.triangleCounts(edges, "s", "d", topK = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length === 4)                  // pendant node 5 has none
    assert(out.forall(_._4 === 4L))           // exact K4 total
    assert(out.forall(_._3 === 3L))           // each K4 node in 3 triangles
    assert(out.map(_._2).toList === List(1L, 2L, 3L, 4L))  // ties -> node asc
  }

  test("triangleCounts: triangle-free graph reports an empty top list") {
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("s", "d")
    assert(Graph.triangleCounts(star, "s", "d").count() === 0L)
  }

  // ── k-core ─────────────────────────────────────────────────────────────

  test("kCore: K4 survives k=3, attached chain peels away round by round") {
    // K4 on {1,2,3,4}; chain 4-5-6 hangs off it
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("s", "d")
    val out = Graph.kCore(edges, "s", "d", k = 3, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // fixed point: extra rounds change nothing
    val more = Graph.kCore(edges, "s", "d", k = 3, rounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(more === out)
    // k above the max degree empties the core
    assert(Graph.kCore(edges, "s", "d", k = 5, rounds = 4).count() === 0L)
  }

  // ── link prediction ────────────────────────────────────────────────────

  test("linkPrediction: square diagonals score 1.0, existing edges excluded") {
    // 4-cycle 1-2-3-4-1: the two diagonals share both neighbors
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("s", "d")
    val out = Graph.linkPrediction(edges, "s", "d", topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet === Set((1L, 3L), (2L, 4L)))
    assert(out((1L, 3L)) === ((2L, 1.0)))
    assert(out((2L, 4L)) === ((2L, 1.0)))
    // a complete triangle has no unconnected distance-2 pairs
    val k3 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("s", "d")
    assert(Graph.linkPrediction(k3, "s", "d").count() === 0L)
  }

  test("linkPrediction: middle-degree cap drops only hub-mediated pairs") {
    // hub 100 touches 1,2,3; separately 1-10-2 is a low-degree path
    val edges = Seq((100L, 1L), (100L, 2L), (100L, 3L),
      (1L, 10L), (10L, 2L)).toDF("s", "d")
    val exact = Graph.linkPrediction(edges, "s", "d", topK = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((1L, 2L)) && exact.contains((1L, 3L)))
    // cap 2 removes the hub (deg 3) as a middle: (1,3)/(2,3) vanish, the
    // 10-mediated (1,2) pair survives
    val capped = Graph.linkPrediction(edges, "s", "d", topK = 100,
        maxMiddleDegree = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((1L, 2L)))
    assert(!capped.contains((1L, 3L)) && !capped.contains((2L, 3L)))
  }

  // ── clustering coefficient ─────────────────────────────────────────────

  test("clusteringCoefficients: K4 nodes cc 1, bridge node lower, pendant 0") {
    // K4 {1,2,3,4} + pendant 5 on node 4
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("s", "d")
    val out = Graph.clusteringCoefficients(edges, "s", "d", topK = 10)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(out(1L) === ((3L, 3L, 1.0)))        // fully clustered
    assert(out(4L)._1 === 4L && out(4L)._2 === 3L)
    assert(out(4L)._3 === 0.5)                 // 2*3/(4*3)
    assert(out(5L) === ((1L, 0L, 0.0)))        // degree-1 pendant
  }

  // ── 2-hop harmonic centrality ──────────────────────────────────────────

  test("harmonicCentrality2: path graph hand values and ranking") {
    // path 1-2-3-4-5: N2(3) = {1,5}, N2(1) = {3}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "d")
    val out = Graph.harmonicCentrality2(edges, "s", "d", topK = 10)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(out(3L) === ((2L, 2L, 3.0)))        // 2 + 0.5*2
    assert(out(1L) === ((1L, 1L, 1.5)))
    // 2's neighbors are {1,3}; two-hop via 3 reaches only {4} -> h = 2.5
    assert(out(2L) === ((2L, 1L, 2.5)))
  }

  test("harmonicCentrality2: middle-degree cap only removes hub-mediated reach") {
    val edges = Seq((100L, 1L), (100L, 2L), (100L, 3L),
      (1L, 10L), (10L, 2L)).toDF("s", "d")
    val exact = Graph.harmonicCentrality2(edges, "s", "d", topK = 10)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    val capped = Graph.harmonicCentrality2(edges, "s", "d", topK = 10,
        maxMiddleDegree = 2)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    // node 3 reaches 1 and 2 only through the hub: capped n2 drops to 0
    assert(exact(3L) === 2L)
    assert(capped(3L) === 0L)
    // node 1 still reaches 2 via the low-degree middle 10
    assert(capped(1L) >= 1L)
  }

  test("degreePowerLaw: star graph fits slope -1 exactly") {
    import spark.implicits._
    // star: a—{b,c,d} → degrees a:3, b/c/d:1 → hist {1:3, 3:1} →
    // ln-ln points (0, ln3), (ln3, 0): slope -1, r2 1
    val e = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("a", "b")).toDF("s", "d")
    val r = Graph.degreePowerLaw(e, "s", "d", deterministic = true).first()
    assert(r.getLong(0) === 4L && r.getLong(1) === 2L && r.getLong(2) === 3L)
    assert(math.abs(r.getDouble(3) - (-1.0)) < 1e-12)
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-12)
  }

  test("hits: one-round hand golden, duplicate edges collapse, det ≈ prod") {
    import spark.implicits._
    // h1→{a1,a2}, h2→{a1}: auth raw (2,1)/√5; hub raw (3,2)/√5 → /√13
    val e = Seq(("h1", "a1"), ("h1", "a2"), ("h2", "a1"), ("h1", "a1"))
      .toDF("s", "d")
    val r1 = Graph.hits(e, "s", "d", rounds = 1, deterministic = true)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(math.abs(r1(("a1", "auth")) - 2.0 / math.sqrt(5.0)) < 1e-12)
    assert(math.abs(r1(("a2", "auth")) - 1.0 / math.sqrt(5.0)) < 1e-12)
    assert(math.abs(r1(("h1", "hub")) - 3.0 / math.sqrt(13.0)) < 1e-12)
    assert(math.abs(r1(("h2", "hub")) - 2.0 / math.sqrt(13.0)) < 1e-12)
    // larger random-ish bipartite graph: det ≈ prod after 3 rounds
    val big = (1 to 400).map(i => (s"u${i % 37}", s"v${(i * 7) % 23}"))
      .toDF("s", "d")
    val det = Graph.hits(big, "s", "d", rounds = 3, deterministic = true)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    val prod = Graph.hits(big, "s", "d", rounds = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(det.size === prod.size)
    for ((k, v) <- det) assert(math.abs(v - prod(k)) < 1e-9)
    // L2 norms are 1 per side
    val hubNorm = det.collect { case ((_, "hub"), v) => v * v }.sum
    assert(math.abs(hubNorm - 1.0) < 1e-9)
  }

  test("bfsLevels: hop distances on a hand graph, early exit, isolated seed") {
    // a-b-c-d chain plus an off-chain e-f edge and an isolated seed z
    val el = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("e", "f"))
      .toDF("s", "t")
    val edges = Graph.bidirect(el, "s", "t")
    val seeds = Seq("a", "z").toDF("node")
    val got = Graph.bfsLevels(edges, "src", "dst", seeds, "node", maxHops = 5)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got === Map("a" -> 0, "z" -> 0, "b" -> 1, "c" -> 2, "d" -> 3))
    // maxHops truncation: same graph, one hop only
    val one = Graph.bfsLevels(edges, "src", "dst", seeds, "node", maxHops = 1)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(one === Map("a" -> 0, "z" -> 0, "b" -> 1))
    // maxHops = 0 returns just the seeds
    val zero = Graph.bfsLevels(edges, "src", "dst", seeds, "node", maxHops = 0)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(zero === Map("a" -> 0, "z" -> 0))
  }

  test("bfsLevels: a node reachable two ways reports the MINIMUM hop count") {
    // a->b->c and a->c directly: c must be dist 1, not 2
    val el = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("s", "t")
    val got = Graph.bfsLevels(el, "s", "t",
        Seq("a").toDF("node"), "node", maxHops = 3)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got === Map("a" -> 0, "b" -> 1, "c" -> 1))
  }

  test("boundedShortestPaths: cheaper 2-hop path beats direct edge; horizon truncates") {
    // a->c direct costs 10; a->b->c costs 3; d needs 3 hops (cost 4)
    val el = Seq(("a", "c", 10L), ("a", "b", 1L), ("b", "c", 2L),
      ("c", "d", 1L)).toDF("s", "t", "w")
    def run(rounds: Int) = Graph.boundedShortestPaths(el, "s", "t", "w",
        Seq("a").toDF("node"), "node", rounds)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(run(3) === Map("a" -> 0L, "b" -> 1L, "c" -> 3L, "d" -> 4L))
    // one round: only direct relaxations, so c keeps the 10-cost edge
    assert(run(1) === Map("a" -> 0L, "b" -> 1L, "c" -> 10L))
    assert(run(0) === Map("a" -> 0L))
  }

  test("boundedShortestPaths: parallel edges collapse to min; multi-seed takes the nearest") {
    val el = Seq(("a", "b", 5L), ("a", "b", 2L), ("z", "b", 1L))
      .toDF("s", "t", "w")
    val got = Graph.boundedShortestPaths(el, "s", "t", "w",
        Seq("a", "z").toDF("node"), "node", rounds = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 0L, "z" -> 0L, "b" -> 1L))
  }

  test("temporalReachability honors the ts >= arrival constraint") {
    // 1 reaches 2 at t=5; the 2→3 edge happened at t=3 < 5 → 3 stays
    // unreachable (static BFS would report it); 2→4 at t=9 is fine
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 3L), (2L, 4L, 9L))
      .toDF("src", "dst", "ts")
    val out = Graph.temporalReachability(edges, "src", "dst", "ts",
        Seq(1L).toDF("node"), "node", seedT = 0L, rounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 0L, 2L -> 5L, 4L -> 9L))
  }

  test("temporalReachability: an earlier parallel edge re-opens a path") {
    // parallel edges keep distinct timestamps: arriving at 2 via the t=2
    // copy makes the t=3 edge to 3 traversable
    val edges = Seq((1L, 2L, 5L), (1L, 2L, 2L), (2L, 3L, 3L))
      .toDF("src", "dst", "ts")
    val out = Graph.temporalReachability(edges, "src", "dst", "ts",
        Seq(1L).toDF("node"), "node", seedT = 0L, rounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 0L, 2L -> 2L, 3L -> 3L))
  }

  test("temporalReachability rounds is a hop horizon") {
    val edges = Seq((1L, 2L, 5L), (2L, 4L, 9L)).toDF("src", "dst", "ts")
    val out = Graph.temporalReachability(edges, "src", "dst", "ts",
        Seq(1L).toDF("node"), "node", seedT = 0L, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 0L, 2L -> 5L))
  }

  test("the wedge family counts its canonical edges in one pass") {
    // jobs of each build: the canonical edge count is two (the distinct's
    // exchange, run when its lazy checkpoint is planned, and the count); a
    // Dataset.count runs one more, its own aggregate's exchange.
    // clusteringCoefficients also plans the triangle frames, whose lazy
    // checkpoints run their exchanges (five jobs)
    val r = new scala.util.Random(7)
    val e = Seq.fill(200)((r.nextInt(40).toLong, r.nextInt(40).toLong)).toDF("s", "t")
    for ((name, budget, build) <- Seq[(String, Int, () => org.apache.spark.sql.DataFrame)](
        ("clusteringCoefficients", 7, () => Graph.clusteringCoefficients(e, "s", "t")),
        ("linkPrediction", 2, () => Graph.linkPrediction(e, "s", "t")),
        ("harmonicCentrality2", 2, () => Graph.harmonicCentrality2(e, "s", "t")))) {
      val jobs = jobsRun(build())
      assert(jobs <= budget, s"$name: $jobs jobs")
    }
  }

  /** Synchronous Bellman–Ford on the driver: `rounds` rounds from
    * `start`; each round every edge (src, dst, x) whose src has a value
    * offers dst `step(value, x)` (None: the edge is closed), and a node
    * keeps the least of its value and its offers. */
  private def refRelax(edges: Seq[(Long, Long, Long)], start: Map[Long, Long],
      rounds: Int)(step: (Long, Long) => Option[Long]): Map[Long, Long] = {
    var cur = start
    for (_ <- 1 to rounds) {
      val offers = edges.flatMap { case (u, v, x) => cur.get(u).flatMap(step(_, x)).map(v -> _) }
      cur = offers.foldLeft(cur) { case (m, (v, c)) =>
        if (m.get(v).forall(c < _)) m.updated(v, c) else m }
    }
    cur
  }

  test("boundedShortestPaths and temporalReachability match a driver Bellman–Ford") {
    for (seed <- 1 to 3) {
      val r = new scala.util.Random(seed)
      val base = Seq.fill(60)((r.nextInt(25).toLong, r.nextInt(25).toLong, r.nextInt(10).toLong))
      // parallel edges with other weights/timestamps, and exact duplicates
      val edges = base ++ base.take(15).map { case (u, v, _) => (u, v, r.nextInt(10).toLong) } ++
        base.take(5)
      val el = edges.toDF("s", "t", "x")
      // seed 99 is not in the graph: it still reports its start value
      val seedIds = Seq(0L, 1L, 99L)
      val seeds = seedIds.toDF("node")
      def asMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
      for (rounds <- Seq(0, 1, 2, 6)) {
        assert(asMap(Graph.boundedShortestPaths(el, "s", "t", "x", seeds, "node", rounds)) ===
          refRelax(edges, seedIds.map(_ -> 0L).toMap, rounds)((d, w) => Some(d + w)),
          s"boundedShortestPaths seed $seed rounds $rounds")
        assert(asMap(Graph.temporalReachability(el, "s", "t", "x", seeds, "node", 2L,
            rounds)) ===
          refRelax(edges, seedIds.map(_ -> 2L).toMap, rounds)((at, ts) =>
            if (ts >= at) Some(ts) else None),
          s"temporalReachability seed $seed rounds $rounds")
      }
    }
  }

  test("modularity: barbell hand golden; dups/direction/self-loops collapse") {
    // two triangles {a,b,c} and {d,e,f} joined by c–d: m = 7;
    // each triangle community: in = 3, deg_sum = 7 (2+2+3) →
    // contrib = (4·7·3 − 49)/(4·49) = 35/196; Q = 70/196 ≈ 0.35714
    val tri = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("d", "e"), ("e", "f"), ("f", "d"), ("c", "d"),
      // noise the canonicalization must collapse:
      ("b", "a"), ("a", "b"), ("e", "e"))
    val comm = Seq(("a", "t1"), ("b", "t1"), ("c", "t1"),
      ("d", "t2"), ("e", "t2"), ("f", "t2")).toDF("node", "comm")
    val got = Graph.modularity(tri.toDF("s", "d"), "s", "d",
        comm, "node", "comm")
      .orderBy("community").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.length === 2)
    got.foreach { case (_, nNodes, in, deg, contrib) =>
      assert(nNodes === 3L && in === 3L && deg === 7L)
      assert(math.abs(contrib - 35.0 / 196.0) < 1e-12)
    }
    assert(math.abs(got.map(_._5).sum - 70.0 / 196.0) < 1e-12)
  }

  test("modularity: induced-subgraph semantics drop unassigned endpoints") {
    // x is unassigned: the a–x edge must vanish from m AND from a's degree
    val edges = Seq(("a", "b"), ("a", "x")).toDF("s", "d")
    val comm = Seq(("a", "c1"), ("b", "c1")).toDF("node", "comm")
    val got = Graph.modularity(edges, "s", "d", comm, "node", "comm")
      .collect()
    assert(got.length === 1)
    val r = got.head
    // induced graph: one edge, both in c1 → in = 1, deg_sum = 2, m = 1:
    // contrib = (4·1·1 − 4)/(4·1) = 0
    assert(r.getLong(1) === 2L && r.getLong(2) === 1L && r.getLong(3) === 2L)
    assert(r.getDouble(4) === 0.0)
    // a fully-assigned random partition on an empty edge set is empty
    assert(Graph.modularity(edges.limit(0), "s", "d", comm, "node", "comm")
      .count() === 0L)
  }

  // ── harmonicCentralityHyperBall ────────────────────────────────────────

  test("hyperball: star graph — saturated balls agree, center dominates") {
    // star: center 0, leaves 1..200; diameter 2 → saturated at rounds=2
    val n = 200
    val edges = (1 to n).map(i => (0L, i.toLong)).toDF("s", "d")
    val out = Graph.harmonicCentralityHyperBall(edges, "s", "d",
        rounds = 3, m = 256, topK = n + 1)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.length === n + 1)
    // after saturation every node's registers cover the SAME value set →
    // identical ball estimates, within HLL error of the true 201
    val balls = out.map(_._2).distinct
    assert(balls.length === 1, s"saturated balls differ: ${balls.take(3)}")
    assert(math.abs(balls.head - (n + 1).toDouble) / (n + 1) < 0.15,
      s"ball estimate ${balls.head} too far from ${n + 1}")
    // the center reaches everyone at d=1; leaves split across d=1 and 2 →
    // center's harmonic strictly dominates, and it ranks first
    val byNode = out.map(t => t._1 -> t._3).toMap
    assert((1 to n).forall(i => byNode(0L) > byNode(i.toLong)))
  }

  test("neighborhoodFunction: monotone, saturates at 1.0, star goldens") {
    val n = 100
    val edges = (1 to n).map(i => (0L, i.toLong)).toDF("s", "d")
    val out = Graph.neighborhoodFunction(edges, "s", "d", rounds = 3,
        m = 256, deterministic = true)
      .orderBy("d").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(out.forall(_._2 === (n + 1).toLong))
    // balls only grow → N(d) nondecreasing; frac hits exactly 1 at the end
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 >= a._3 - 1e-9, s"N(d) fell: $a -> $b") }
    assert(out.last._4 === 1.0)
    // star saturates at d=2: N(2) == N(3), and ≈ (n+1)² pairs
    assert(math.abs(out(2)._3 - out(3)._3) < 1e-9)
    assert(math.abs(out(3)._3 - (n + 1.0) * (n + 1.0)) /
      ((n + 1.0) * (n + 1.0)) < 0.15)
    // N(0) ≈ one per node (singleton balls)
    assert(math.abs(out(0)._3 - (n + 1.0)) / (n + 1.0) < 0.1)
  }

  test("hyperball: balls never cross components; harmonic nonnegative") {
    // two disjoint triangles
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("s", "d")
    val out = Graph.harmonicCentralityHyperBall(edges, "s", "d",
        rounds = 3, m = 256, topK = 6)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.length === 6)
    out.foreach { case (_, ball, h) =>
      // saturated ball ≈ the 3-node component, NOT the 6-node union
      assert(ball < 4.5, s"ball $ball leaked across components")
      assert(h >= 0.0)
    }
  }
}
