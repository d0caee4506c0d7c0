package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Iterative graph centrality for corpus curation.
  *
  * Web-scale training corpora rank their domains/hosts by link-graph
  * centrality (a harmonic-centrality or PageRank score per host is a
  * standard quality prior for crawl data), and entity graphs inside a
  * corpus rank the same way. The reference engine has no graph surface;
  * this is the Spark-native take: the edge frame is the only corpus-sized
  * object, rounds are plain equi-joins + key-width aggregates, and the
  * per-round state (one rank per node) is node-sized.
  *
  * Scale shape:
  *  - edges pre-join their out-degree ONCE, hash-repartition by src, and
  *    persist — every round's join then reuses that partitioning, so only
  *    the node-sized rank frame shuffles per round;
  *  - contributions aggregate map-side per dst (combiner = the in-degree
  *    sum), shuffling key+double width only;
  *  - ranks localCheckpoint each round: lineage stays one round deep.
  *
  * `deterministic = true` folds each node's contributions src-sorted
  * (collect_list bounded by in-degree) so the whole run is bit-identical
  * under any partitioning and SQL-replayable — the gate path, same
  * convention as Training.trainLogistic/trainKMeans. Production keeps the
  * plain map-side-combined sum (hot nodes with huge in-degree never
  * materialize a list).
  */
object Graph {

  /** Make a directed edge list undirected by emitting both directions.
    * PageRank over the result has no dangling nodes (every node that
    * appears has at least one out-edge).
    *
    * One pass, not a self-union: `union(select(a,b), select(b,a))`
    * duplicates the ENTIRE upstream plan — when the edge list is itself a
    * join (q101/q105/q110 derive it from orders⋈lineitem), the join runs
    * twice. The 2-way explode emits both directions from a single scan of
    * the input; same output multiset (callers dedup downstream). */
  def bidirect(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(explode(array(
        struct(col(srcCol).as("src"), col(dstCol).as("dst")),
        struct(col(dstCol).as("src"), col(srcCol).as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))

  /** Deduped (src, dst) edge frame, persisted and counted: materialized
    * once — deg, nodes, and the degree join all read it (an unmaterialized
    * plan would re-run the caller's edge derivation up to four times) —
    * and the count is the driver gate's edge count. */
  private def dedupEdges(edges: DataFrame, srcCol: String, dstCol: String)
      : (DataFrame, Long) = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    (e, rowCount(e))
  }

  /** Rows of `df` as an RDD count: one job fewer than `Dataset.count`,
    * whose count aggregate runs its own exchange. */
  private def rowCount(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Shared prep over a [[dedupEdges]] frame: the degree-joined edge frame
    * (src-partitioned by the join, persisted for the rounds), and the
    * checkpointed node frame. */
  private def prepGraph(e: DataFrame): (DataFrame, DataFrame, Long) = {
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    val nNodes = nodes.count()
    // the degree frame is node-sized: broadcast-gate it on the DRIVER-known
    // node count instead of letting Catalyst guess (the aggregate's size
    // estimate routinely exceeds the auto-broadcast threshold, turning this
    // into a second full exchange + sort of the edge frame — measured 4.1 s
    // of q101's 9.5 s at sf0.1)
    // In the broadcast-state regime (nNodes under the maybeBroadcast gate)
    // every round's state join is map-side, so the ONLY per-round exchange
    // left is the contribution aggregate keyed by dst. Persist the edge
    // frame ALREADY dst-partitioned: hashpartitioning(dst) satisfies the
    // groupBy(node=dst[, ...]) clustering, so the rounds become
    // exchange-free — one setup exchange buys `rounds` of them. Above the
    // gate the state join is a shuffle join anyway; keep the plain shape
    // (the join and the aggregate each pick their own partitioning).
    val eDegRaw = e.join(maybeBroadcast(
        e.groupBy("src").agg(count(lit(1)).as("deg")), nNodes), "src")
    val eDeg = (if (nNodes <= (1L << 22)) eDegRaw.repartition(col("dst"))
                else eDegRaw)
      .persist(StorageLevel.MEMORY_AND_DISK)
    (eDeg, nodes, nNodes)
  }

  // ── size-gated driver rounds ──────────────────────────────────────────
  // pageRank, labelPropagation and triangleCounts take the driver path of
  // DriverGraph (shared with connected components): at or under its edge
  // budget they collect the deduplicated edge frame once, run the rounds
  // on primitive arrays, and return a local frame with the distributed
  // path's columns and types.

  /** The `node` column of the distributed output: both endpoint columns
    * unioned, so mixed id types widen as they do there (analysis only). */
  private def nodeField(e: DataFrame): StructField =
    e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
      .schema("node")

  /** [[pageRank]] rounds on the driver: each node folds its contributions
    * in src order — the `deterministic = true` fold, bit for bit. An edge
    * to a null dst still counts in its source's out-degree (its mass
    * leaks, as through the distributed joins). */
  private def driverPageRank(g: DriverGraph.LocalGraph, rounds: Int,
      damping: Double): DataFrame = {
    val n = g.nNodes
    val deg = new Array[Int](n)
    g.src.foreach(s => if (s >= 0) deg(s) += 1)
    val (off, in) = g.inEdges
    var rank = Array.fill(n)(1.0)
    for (_ <- 1 to rounds) {
      val next = new Array[Double](n)
      for (v <- 0 until n) {
        var acc = 0.0
        for (k <- off(v) until off(v + 1)) acc += rank(in(k)) / deg(in(k))
        next(v) = (1.0 - damping) + damping * acc
      }
      rank = next
    }
    val nullRank = if (rounds == 0) 1.0 else (1.0 - damping) + damping * 0.0
    g.frame(StructType(Seq(g.node, StructField("rank", DoubleType, false))),
      (0 until n).map(v => Row(g.id(v), rank(v))) ++
        (if (g.hasNull) Seq(Row(null, nullRank)) else Nil))
  }

  /** [[labelPropagation]] rounds on the driver: labels are node indices,
    * so the smallest-label tie-break is the smallest index. */
  private def driverLabelPropagation(g: DriverGraph.LocalGraph, rounds: Int): DataFrame = {
    val n = g.nNodes
    val (off, in) = g.inEdges
    val cnt = new Array[Int](n)
    var label = Array.range(0, n)
    for (_ <- 1 to rounds) {
      val next = new Array[Int](n)
      for (v <- 0 until n) {
        var best = v // no in-edges: keeps its own id
        var bestC = 0
        for (k <- off(v) until off(v + 1)) {
          val l = label(in(k))
          cnt(l) += 1
          if (cnt(l) > bestC || (cnt(l) == bestC && l < best)) {
            best = l; bestC = cnt(l)
          }
        }
        for (k <- off(v) until off(v + 1)) cnt(label(in(k))) = 0
        next(v) = best
      }
      label = next
    }
    g.frame(StructType(Seq(g.node, g.node.copy(name = "label"))),
      (0 until n).map(v => Row(g.id(v), g.id(label(v)))) ++
        (if (g.hasNull) Seq(Row(null, null)) else Nil))
  }

  /** [[triangleCounts]] on the driver over collected canonical edges
    * (x < y, deduplicated, no nulls): the same degree-ordered
    * compact-forward enumeration, every triangle found once at its
    * lowest-(degree, id) corner. */
  private def driverTriangleCounts(g: DriverGraph.LocalGraph, topK: Int): DataFrame = {
    val n = g.nNodes
    val deg = new Array[Int](n)
    g.src.foreach(deg(_) += 1)
    g.dst.foreach(deg(_) += 1)
    def before(a: Int, b: Int) = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    val off = new Array[Int](n + 1)
    for (i <- g.src.indices)
      off((if (before(g.src(i), g.dst(i))) g.src(i) else g.dst(i)) + 1) += 1
    for (v <- 0 until n) off(v + 1) += off(v)
    val fill = off.clone()
    val out = new Array[Int](g.src.length)
    for (i <- g.src.indices) {
      val (u, v) =
        if (before(g.src(i), g.dst(i))) (g.src(i), g.dst(i)) else (g.dst(i), g.src(i))
      out(fill(u)) = v; fill(u) += 1
    }
    val tri = new Array[Long](n)
    val mark = Array.fill(n)(-1)
    for (u <- 0 until n) {
      for (k <- off(u) until off(u + 1)) mark(out(k)) = u
      for (k <- off(u) until off(u + 1); v = out(k); j <- off(v) until off(v + 1)
           if mark(out(j)) == u) {
        tri(u) += 1; tri(v) += 1; tri(out(j)) += 1
      }
    }
    val total = tri.sum / 3
    val top = (0 until n).filter(tri(_) > 0)
      .sorted(Ordering.by((v: Int) => (-tri(v), v))).take(topK)
    g.frame(StructType(Seq(StructField("rank", IntegerType, false), g.node,
        StructField("triangles", LongType, false),
        StructField("total", LongType, true))),
      top.zipWithIndex.map { case (v, i) => Row(i + 1, g.id(v), tri(v), total) })
  }

  /** Size-gated broadcast of a per-node state frame: post-checkpoint
    * stats are unknown to Catalyst, so the gate is the DRIVER-known node
    * count (the IVF-centroid idiom) — broadcast keeps every round's edge
    * join shuffle-free while the state fits an executor; huge graphs fall
    * back to the shuffled join. */
  private def maybeBroadcast(state: DataFrame, nNodes: Long): DataFrame =
    if (nNodes <= (1L << 22)) broadcast(state) else state

  /** Size-gated broadcast of an EDGE-derived frame on the driver-known
    * edge count — a tighter cap than the node gate (the build side of a
    * wedge-mass join holds 2-3 long columns per edge and must fit every
    * executor). Below the gate, probing the broadcast from the wedge side
    * replaces an exchange (+sort) of the Σ deg² wedge mass; above it the
    * caller keeps the exchange-reusing sort-merge shape. */
  private def maybeBroadcastEdges(df: DataFrame, nEdges: Long): DataFrame =
    if (nEdges <= (1L << 21)) broadcast(df) else df

  /** PageRank, GraphX `staticPageRank` semantics: every node starts at
    * 1.0 and each round sets
    * `rank' = (1 − damping) + damping · Σ_{in-edges} rank_src / outdeg_src`.
    * Nodes with no out-edges keep receiving rank but pass none on (their
    * mass leaks, as in GraphX); use [[bidirect]] first for undirected
    * graphs, which have no such nodes. Duplicate edges are collapsed.
    * Returns (node, rank).
    *
    * A graph whose deduplicated edge count fits the driver budget
    * ([[DriverGraph.maxEdges]], shared with connected components)
    * runs its rounds on the driver with the src-sorted fold, whatever
    * `deterministic` says: the same bits as the deterministic path. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, damping: Double = 0.85,
      deterministic: Boolean = false,
      checkpointInterval: Int = 8): DataFrame =
    pageRankGated(edges, srcCol, dstCol, rounds, damping, deterministic,
      checkpointInterval, DriverGraph.maxEdges())

  /** [[pageRank]] with an explicit driver gate; `maxDriverEdges = 0` pins
    * the distributed rounds for any non-empty graph. */
  private[graft] def pageRankGated(edges: DataFrame, srcCol: String,
      dstCol: String, rounds: Int, damping: Double, deterministic: Boolean,
      checkpointInterval: Int, maxDriverEdges: Long): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    require(damping >= 0.0 && damping <= 1.0,
      s"damping must be in [0,1], got $damping")
    require(checkpointInterval >= 1, "checkpointInterval must be >= 1")
    val (e, nEdges) = dedupEdges(edges, srcCol, dstCol)
    val local = DriverGraph.collect(e, nodeField(e), nEdges, maxDriverEdges)
    if (local.nonEmpty) return driverPageRank(local.get, rounds, damping)
    val (eDeg, nodes, nNodes) = prepGraph(e)
    var ranks = nodes.withColumn("rank", lit(1.0))
    for (r <- 1 to rounds) {
      val contribs = eDeg
        .join(maybeBroadcast(ranks.withColumnRenamed("node", "src"), nNodes), "src")
        .select(col("dst").as("node"), col("src"),
          (col("rank") / col("deg")).as("c"))
      val summed = contribs.groupBy("node")
        .agg(Ops.foldSum(deterministic, col("c"), col("src")).as("s"))
      // summed is node-sized but Catalyst's aggregate estimate blocks the
      // auto-broadcast; gate on the driver-known node count (an upper
      // bound on |summed|) so the rank refresh joins broadcast-side
      ranks = nodes.join(maybeBroadcast(summed, nNodes), Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) +
            lit(damping) * coalesce(col("s"), lit(0.0))).as("rank"))
      // Checkpoint every `checkpointInterval` rounds, not every round:
      // an eager checkpoint is a full job, and short runs are faster as
      // ONE lazy plan; the interval bounds plan depth for long runs.
      if (r % checkpointInterval == 0 && r < rounds)
        ranks = ranks.localCheckpoint(true)
    }
    // the loop leaves the last round LAZY; materialize it before freeing
    // the inputs it reads (unpersisted caches would silently recompute
    // the whole edge derivation at first consumer action)
    if (rounds > 0) ranks = ranks.localCheckpoint(true)
    eDeg.unpersist(false)
    e.unpersist(false)
    ranks
  }

  /** Personalized PageRank / TrustRank (Gyöngyi et al., VLDB 2004):
    * teleportation goes ONLY to the seed set — rank' = (1 − d)·t +
    * d·Σ rank/deg with t = 1/|S| on seeds and 0 elsewhere, initialized at
    * t. Rank measures proximity to TRUSTED nodes: "score every domain by
    * its link distance from a hand-audited whitelist", the classic
    * seeded-quality prior for crawl corpora. Nodes unreachable from any
    * seed stay at exactly 0. Same scale shape, determinism convention,
    * and interval checkpointing as [[pageRank]]. Returns (node, rank). */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, rounds: Int, damping: Double = 0.85,
      deterministic: Boolean = false, checkpointInterval: Int = 8): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    require(damping >= 0.0 && damping <= 1.0,
      s"damping must be in [0,1], got $damping")
    require(checkpointInterval >= 1, "checkpointInterval must be >= 1")
    val (e, _) = dedupEdges(edges, srcCol, dstCol)
    val (eDeg, nodes, nNodes) = prepGraph(e)
    val seedNodes = seeds.select(col(seedCol).as("node")).distinct()
      .join(nodes, Seq("node"))
    val nSeeds = seedNodes.count()
    require(nSeeds > 0, "no seed nodes present in the graph")
    val t = 1.0 / nSeeds
    val based = nodes.join(seedNodes.withColumn("__t", lit(t)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__t"), lit(0.0)).as("__t"))
      .localCheckpoint(true)
    var ranks = based.select(col("node"), col("__t").as("rank"))
    for (r <- 1 to rounds) {
      val contribs = eDeg
        .join(maybeBroadcast(ranks.withColumnRenamed("node", "src"), nNodes), "src")
        .select(col("dst").as("node"), col("src"),
          (col("rank") / col("deg")).as("c"))
      val summed = contribs.groupBy("node")
        .agg(Ops.foldSum(deterministic, col("c"), col("src")).as("s"))
      // same node-count broadcast gate as pageRank's rank refresh
      ranks = based.join(maybeBroadcast(summed, nNodes), Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) * col("__t") +
            lit(damping) * coalesce(col("s"), lit(0.0))).as("rank"))
      if (r % checkpointInterval == 0 && r < rounds)
        ranks = ranks.localCheckpoint(true)
    }
    if (rounds > 0) ranks = ranks.localCheckpoint(true)
    eDeg.unpersist(false)
    e.unpersist(false)
    ranks
  }

  /** Synchronous label propagation (community detection): every node
    * starts labeled with itself; each round it adopts the most frequent
    * label among its in-neighbors, ties to the SMALLEST label — the
    * deterministic variant of LPA (random tie-breaks make runs
    * unreproducible; smallest-label is the standard fix). Nodes with no
    * in-edges keep their label. The label domain is node ids, so every
    * step is integer/string-exact — no floating point anywhere. Use
    * [[bidirect]] first for undirected community detection. Returns
    * (node, label) after `rounds` synchronous rounds.
    *
    * Scale shape mirrors [[pageRank]]: the edge frame persists
    * src-partitioned once; per round, one (dst, label)-keyed count
    * aggregate (map-side combined) and ONE argmax aggregate — implemented
    * as `min(struct(-cnt, label))`, so the winner needs no window and no
    * per-node list; labels localCheckpoint per round (node-sized). Under
    * [[pageRank]]'s driver gate the rounds run on the driver. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, checkpointInterval: Int = 8): DataFrame =
    labelPropagationGated(edges, srcCol, dstCol, rounds, checkpointInterval,
      DriverGraph.maxEdges())

  /** [[labelPropagation]] with an explicit driver gate; `maxDriverEdges =
    * 0` pins the distributed rounds for any non-empty graph. */
  private[graft] def labelPropagationGated(edges: DataFrame, srcCol: String,
      dstCol: String, rounds: Int, checkpointInterval: Int,
      maxDriverEdges: Long): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    require(checkpointInterval >= 1, "checkpointInterval must be >= 1")
    // same up-front materialization rationale as pageRank: nodes and the
    // round joins all read `e`
    val (e0, nEdges) = dedupEdges(edges, srcCol, dstCol)
    val local = DriverGraph.collect(e0, nodeField(e0), nEdges, maxDriverEdges)
    if (local.nonEmpty) return driverLabelPropagation(local.get, rounds)
    val nodes = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    val nNodes = nodes.count()
    // dst-partitioned in the broadcast-label regime so each round's
    // (dst, label) count aggregate reuses the persisted partitioning —
    // the prepGraph rationale; src-partitioned otherwise (the shuffled
    // label join then reuses it instead)
    val e = (if (nNodes <= (1L << 22)) e0.repartition(col("dst"))
             else e0.repartition(col("src")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    e0.unpersist(false)
    var labels = nodes.withColumn("label", col("node"))
    for (r <- 1 to rounds) {
      // broadcast-gate the node-sized label frame (the pageRank idiom):
      // the checkpointed labels have no Catalyst stats, so without the
      // hint every round pays an exchange + sort of the cached edge frame
      val winner = e
        .join(maybeBroadcast(
          labels.withColumnRenamed("node", "src"), nNodes), "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("__c"))
        .groupBy("node")
        .agg(min(struct((-col("__c")).as("__nc"), col("label")))
          .getField("label").as("__new"))
      // Fallback col("node"), NOT the previous label: a node absent from
      // `winner` has no in-edges, and such a node can never adopt any
      // label — its label is provably its own id in every round. Using
      // the previous frame here would reference `labels` TWICE per round
      // (left side + inside winner), doubling the lazy plan per round —
      // 2^rounds subtree evaluations without a checkpoint.
      // same node-count broadcast gate for the label refresh join
      labels = nodes.join(maybeBroadcast(winner, nNodes), Seq("node"), "left")
        .select(col("node"), coalesce(col("__new"), col("node")).as("label"))
      // interval checkpointing, same rationale as pageRank
      if (r % checkpointInterval == 0 && r < rounds)
        labels = labels.localCheckpoint(true)
    }
    // same final materialization rationale as pageRank
    if (rounds > 0) labels = labels.localCheckpoint(true)
    e.unpersist(false)
    labels
  }

  /** Canonicalized undirected edge frame (x < y, self-loops dropped,
    * multi-edges collapsed), lazily checkpointed — the shared input of
    * the triangle/clustering/harmonic family. */
  private def canonicalEdges(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"))
      .filter(col("x") < col("y"))
      .distinct()
      .localCheckpoint(false)

  /** Undirected degree per node over a canonical edge frame,
    * broadcast-gated. */
  private def nodeDegrees(e: DataFrame): DataFrame =
    Ops.broadcastIfSmall(
      e.select(col("x").as("n")).unionAll(e.select(col("y").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d")))

  /** Per-node triangle participation (node, triangles) over a canonical
    * edge frame — the degree-ordered compact-forward enumeration
    * documented on [[triangleCounts]]. Checkpointed (node-sized). */
  private[graft] def nodeTriangles(e: DataFrame, nE: Long): DataFrame = {
    // e is lazily checkpointed by the callers, and `nE` is its count: the
    // count materializes it (first consumer pays that anyway) and gates
    // the wedge-side broadcast
    val deg = nodeDegrees(e)
    // orient low-(degree, id) → high: (u, v) with (du, u) < (dv, v);
    // carry the dst order key for the wedge comparison
    val oriented = e
      .join(deg.select(col("n").as("x"), col("d").as("dx")), Seq("x"))
      .join(deg.select(col("n").as("y"), col("d").as("dy")), Seq("y"))
      .select(
        when(col("dx") < col("dy") ||
          (col("dx") === col("dy") && col("x") < col("y")), col("x"))
          .otherwise(col("y")).as("u"),
        when(col("dx") < col("dy") ||
          (col("dx") === col("dy") && col("x") < col("y")), col("y"))
          .otherwise(col("x")).as("v"),
        greatest(col("dx"), col("dy")).as("dv"))
      .localCheckpoint(false)
    val wedges = oriented.select(col("u"), col("v"), col("dv"))
      .join(oriented.select(col("u"), col("v").as("w"), col("dv").as("dw")),
        Seq("u"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
    // broadcast the |E|-row oriented frame into the closing join when it
    // fits: the LEFT side is the Σ deg_fwd² wedge mass, and the default
    // sort-merge shape exchanges + sorts ALL of it by (v, w) just to
    // probe |E| rows (measured ~17% of q142 end-to-end at sf0.1)
    val tris = wedges
      .join(maybeBroadcastEdges(
        oriented.select(col("u").as("v"), col("v").as("w")), nE),
        Seq("v", "w"))
      .select(col("u").as("x"), col("v").as("y"), col("w").as("z"))
    tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
      .localCheckpoint(false)
  }

  /** Exact triangle counting over an undirected edge list — the local
    * clustering signal (community density, spam-farm detection: organic
    * neighborhoods triangulate, link farms star). Returns the top-`k`
    * nodes by triangle participation plus the exact global triangle
    * total as a constant column.
    *
    * DEGREE-ordered compact-forward shape (the O(m^1.5) form): edges
    * canonicalize (self-loops dropped, multi-edges collapsed), then
    * orient from the lower-(degree, id) endpoint to the higher — every
    * node's OUT-degree is then O(√m)-bounded on any graph (the
    * degeneracy argument), so the wedge join Σ outdeg(v)² survives the
    * skewed co-occurrence graphs where id-ordering blows up on hubs.
    * Wedges join out-edge lists on their shared source, the closing
    * edge check is one more equi-join, and every triangle is found
    * EXACTLY once. The triangle SET is ordering-invariant, so per-node
    * counts and the total match any other enumeration (the SQL oracle
    * uses plain id-ordering). Per-node participation sums each triangle
    * into its three corners; the global total derives as Σ/3 from the
    * node-sized counts frame (no second pass over the triangle
    * stream). Under [[pageRank]]'s driver gate (on the canonical edge
    * count) the same enumeration runs on the driver. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String,
      topK: Int = 10): DataFrame =
    triangleCountsGated(edges, srcCol, dstCol, topK,
      DriverGraph.maxEdges())

  /** [[triangleCounts]] with an explicit driver gate on the canonical edge
    * count; `maxDriverEdges = 0` pins the distributed enumeration for any
    * graph with an edge. */
  private[graft] def triangleCountsGated(edges: DataFrame, srcCol: String,
      dstCol: String, topK: Int, maxDriverEdges: Long): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val e = canonicalEdges(edges, srcCol, dstCol)
    val nEdges = rowCount(e)
    val local = DriverGraph.collect(e, e.schema("x").copy(name = "node"), nEdges,
      maxDriverEdges)
    if (local.nonEmpty) return driverTriangleCounts(local.get, topK)
    val counts = nodeTriangles(e, nEdges)
    val total = counts.agg(
      (coalesce(sum("triangles"), lit(0L)) / lit(3)).cast("long").as("total"))
    counts
      .orderBy(col("triangles").desc, col("node").asc).limit(topK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("triangles").desc, col("node").asc)))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("node"), col("triangles"), col("total"))
      .orderBy("rank")
  }

  /** Fixed-round k-core peeling: repeatedly drop nodes whose degree in
    * the SURVIVING subgraph is below `k` — the dense-kernel extractor
    * (community cores, spam-ring kernels; the k-core is what remains
    * when every marginal node is gone). Runs EXACTLY `rounds` rounds —
    * the fixed-round contract that makes an external engine replay the
    * run verbatim (the PageRank/LPA convention); converged inputs are
    * a fixed point, extra rounds are no-ops. Returns the surviving
    * (node, degree) pairs, degree measured inside the final core.
    *
    * Scale shape: per round, ONE semi-join pass of the edge frame
    * against the node-sized alive set (broadcast-gated) + one
    * map-side-combined degree count; alive checkpoints per round
    * (node-sized — the multi-reference lazy-plan blowup is the q105
    * lesson). */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int = 6): DataFrame = {
    require(k >= 1 && rounds >= 1, s"k/rounds must be >= 1, got $k/$rounds")
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"))
      .filter(col("x") < col("y"))
      .distinct()
      .localCheckpoint(false)
    def degrees(ae: DataFrame): DataFrame =
      ae.select(col("x").as("n")).unionAll(ae.select(col("y").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
    var alive = e.select(col("x").as("n"))
      .unionAll(e.select(col("y").as("n"))).distinct()
      .localCheckpoint(true)
    // alive is checkpointed (no Catalyst stats), so Ops.broadcastIfSmall
    // never fired and every round paid TWO exchange+sorts of the edge
    // frame; gate on the DRIVER-known alive count instead (maybeBroadcast
    // idiom) — the count reads eagerly-checkpointed blocks only
    var nAlive = alive.count()
    def gated(keyed: DataFrame): DataFrame = maybeBroadcast(keyed, nAlive)
    for (_ <- 1 to rounds) {
      val ae = e
        .join(gated(alive.select(col("n").as("x"))), Seq("x"), "left_semi")
        .join(gated(alive.select(col("n").as("y"))), Seq("y"), "left_semi")
      alive = degrees(ae).filter(col("d") >= k).select("n")
        .localCheckpoint(true)
      nAlive = alive.count()
    }
    val core = e
      .join(gated(alive.select(col("n").as("x"))), Seq("x"), "left_semi")
      .join(gated(alive.select(col("n").as("y"))), Seq("y"), "left_semi")
    degrees(core).select(col("n").as("node"), col("d").as("degree"))
      .orderBy("node")
  }

  /** Neighborhood-overlap link prediction: for node pairs NOT yet
    * connected, the Jaccard overlap of their neighbor sets
    * |N(a)∩N(b)| / |N(a)∪N(b)| — the classic "you two share most of
    * your neighbors" recommendation/completion signal. Top-`k` by
    * (jaccard desc, pair asc).
    *
    * Shape: common-neighbor counts come from the wedge join (adjacency
    * self-joined on the shared middle node, pair ordered a < b — each
    * pair counted once per shared neighbor, work Σ C(deg(m), 2) — the
    * INHERENT size of the distance-2 pair set); existing edges drop by
    * anti-join BEFORE the degree joins; degrees are node-sized and
    * broadcast-gated; jaccard is one division over exact longs.
    *
    * `maxMiddleDegree > 0` is the production scale lever: middles above
    * the cap generate deg² wedges but carry the WEAKEST evidence (a hub
    * everyone touches says nothing about two of its spokes), so
    * dropping them bounds work per middle at C(cap, 2) — the
    * bounded-recall convention of `Dedup.capBuckets`. 0 = exact. */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
      topK: Int = 20, maxMiddleDegree: Int = 0): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(maxMiddleDegree >= 0, "maxMiddleDegree must be >= 0 (0 = exact)")
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"))
      .filter(col("x") < col("y"))
      .distinct()
      .localCheckpoint(false)
    val adj = e.select(col("x").as("m"), col("y").as("n"))
      .unionAll(e.select(col("y").as("m"), col("x").as("n")))
    val deg = Ops.broadcastIfSmall(
      adj.groupBy(col("n")).agg(count(lit(1)).as("d")))
    val mids =
      if (maxMiddleDegree == 0) adj
      else adj.join(deg.select(col("n").as("m"), col("d").as("__dm")), Seq("m"))
        .filter(col("__dm") <= maxMiddleDegree).drop("__dm")
    val wedgePairs = mids.select(col("m"), col("n").as("a"))
      .join(mids.select(col("m"), col("n").as("b")), Seq("m"))
      .filter(col("a") < col("b"))
    val eAB = e.select(col("x").as("a"), col("y").as("b"))
    // same pre-aggregation anti-join trade as harmonicCentrality2: with a
    // broadcastable edge frame, connected pairs (which never become
    // candidates) drop map-side BEFORE the (a,b) count exchange; above
    // the gate keep count-then-anti, which reuses the groupBy partitioning
    val candidates = e.count() match {
      case nE if nE <= (1L << 21) =>
        wedgePairs.join(broadcast(eAB), Seq("a", "b"), "left_anti")
          .groupBy("a", "b").agg(count(lit(1)).as("common"))
      case _ =>
        wedgePairs.groupBy("a", "b").agg(count(lit(1)).as("common"))
          .join(eAB, Seq("a", "b"), "left_anti")
    }
    candidates
      .join(deg.select(col("n").as("a"), col("d").as("__da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("__db")), Seq("b"))
      .select(col("a"), col("b"), col("common"),
        (col("common").cast("double") /
          ((col("__da") + col("__db")) - col("common")).cast("double"))
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("a").asc, col("b").asc)
      .limit(topK)
  }

  /** Local clustering coefficient: cc(v) = 2·triangles(v)/(d·(d−1)) —
    * how much of each node's neighborhood is itself connected
    * (cc ≈ 1: tight community; cc ≈ 0 at high degree: a hub or a link
    * farm — the per-node refinement of [[triangleCounts]]'s global
    * view). Nodes with degree < 2 have no possible triangles and report
    * cc = 0. Top-`k` by (cc desc, node asc); exact-long inputs, one
    * division. Rides the shared degree-ordered triangle machinery. */
  def clusteringCoefficients(edges: DataFrame, srcCol: String,
      dstCol: String, topK: Int = 20): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val e = canonicalEdges(edges, srcCol, dstCol)
    val deg = nodeDegrees(e)
    val tri = nodeTriangles(e, e.count())
    val scored = deg.select(col("n").as("node"), col("d"))
      .join(tri, Seq("node"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .withColumn("cc",
        when(col("d") < 2L, lit(0.0))
          .otherwise((lit(2.0) * col("triangles").cast("double")) /
            (col("d").cast("double") * (col("d").cast("double") - lit(1.0)))))
    scored.orderBy(col("cc").desc, col("node").asc).limit(topK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cc").desc, col("node").asc)))
      .select(col("rank"), col("node"), col("d").as("degree"),
        col("triangles"), col("cc"))
      .orderBy("rank")
  }

  /** Two-hop-truncated harmonic centrality: h₂(v) = deg(v) + ½·|N₂(v)|
    * (neighbors at distance 1 count 1, distance-2 nodes count ½ — the
    * exact harmonic sum truncated where a bounded computation is still
    * possible without full BFS). The standard crawl/host quality prior
    * in its cheapest faithful form: hubs of well-connected regions rank
    * above equally-sized hubs of leaf sprays.
    *
    * Shape: |N₂| comes from DISTINCT wedge endpoints (adjacency
    * self-joined on the middle, endpoints ≠, work Σ deg² — the q144
    * pair set) minus direct neighbors (anti-join) minus self; degrees
    * broadcast. `maxMiddleDegree` is the same bounded-recall production
    * lever as [[linkPrediction]] (a hub middle connects everything to
    * everything at distance 2 — dropping it undercounts |N₂| only
    * through that hub). Top-`k` by (h desc, node asc). */
  def harmonicCentrality2(edges: DataFrame, srcCol: String, dstCol: String,
      topK: Int = 20, maxMiddleDegree: Int = 0): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    require(maxMiddleDegree >= 0, "maxMiddleDegree must be >= 0 (0 = exact)")
    val e = canonicalEdges(edges, srcCol, dstCol)
    val deg = nodeDegrees(e)
    val adj = e.select(col("x").as("m"), col("y").as("n"))
      .unionAll(e.select(col("y").as("m"), col("x").as("n")))
    val mids =
      if (maxMiddleDegree == 0) adj
      else adj.join(deg.select(col("n").as("m"), col("d").as("__dm")), Seq("m"))
        .filter(col("__dm") <= maxMiddleDegree).drop("__dm")
    // the two-hop pair set is SYMMETRIC (a and z both range over the
    // middle's neighbors), so enumerate each unordered pair ONCE (a < z):
    // half the wedge rows through the distinct, ONE anti-join against the
    // canonical (x < y) edge frame instead of two, and each surviving
    // pair credits both endpoints via a 2-way explode — same n2 counts,
    // half the dominant shuffle
    val twoHopRaw = mids.select(col("m"), col("n").as("a"))
      .join(mids.select(col("m"), col("n").as("z")), Seq("m"))
      .filter(col("a") < col("z"))
      .select(col("a"), col("z"))
    val eAZ = e.select(col("x").as("a"), col("y").as("z"))
    // when the edge frame fits the broadcast gate, drop direct-edge pairs
    // BEFORE the distinct (a map-side probe of the broadcast): the wedge
    // mass entering the distinct exchange shrinks by the direct-edge
    // fraction and the anti-join costs no sort of the pair set. Above the
    // gate keep the old order — distinct first, whose (a,z) partitioning
    // the sort-merge anti-join then reuses (anti-join-first would add an
    // extra full sort of the undeduped wedge mass there).
    val twoHopNew = e.count() match {
      case nE if nE <= (1L << 21) =>
        twoHopRaw.join(broadcast(eAZ), Seq("a", "z"), "left_anti").distinct()
      case _ =>
        twoHopRaw.distinct().join(eAZ, Seq("a", "z"), "left_anti")
    }
    val n2 = twoHopNew
      .select(explode(array(col("a"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n2"))
    deg.select(col("n").as("node"), col("d"))
      .join(n2, Seq("node"), "left")
      .withColumn("n2", coalesce(col("n2"), lit(0L)))
      .withColumn("harmonic",
        col("d").cast("double") + (lit(0.5) * col("n2").cast("double")))
      .orderBy(col("harmonic").desc, col("node").asc).limit(topK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("harmonic").desc, col("node").asc)))
      .select(col("rank"), col("node"), col("d").as("degree"), col("n2"),
        col("harmonic"))
      .orderBy("rank")
  }

  /** HyperBall harmonic centrality (Boldi–Vigna): the FULL-radius
    * centrality the wedge family can't afford — [[harmonicCentrality2]]
    * truncates at distance 2 because exact |N_d| materializes Σ deg^d
    * pairs; HyperBall keeps ONE HLL sketch of each node's ball B_d(v)
    * and grows it by register-merging neighbors, so every round is
    * O(|E|·m) regardless of how the balls explode. harmonic(v) ≈
    * Σ_d (|B_d| − |B_{d−1}|)/d with |B_d| estimated from the registers
    * (≈1.04/√m relative error; negative HLL diffs clamp to 0 — the
    * standard HyperBall treatment of estimator jitter).
    *
    * Shape per round (driver-sequenced, the pageRank pattern): ONE
    * (node-keyed) join of the register frame against the bidirected
    * adjacency, union own registers, groupBy(node, bucket).max — a
    * plain mergeable-max shuffle of n·m + |E|·m key-width rows; the
    * estimate pass is the replayable md5 HLL
    * ([[Sketches.hllEstimateFromRegisters]], register fold bounded by
    * m). The registers are a pure function of md5, so an external SQL
    * engine replays every round bit-for-bit. Returns the top-`topK`
    * rows (rank, node, ball_est, harmonic). */
  def harmonicCentralityHyperBall(edges: DataFrame, srcCol: String,
      dstCol: String, rounds: Int = 4, m: Int = 64,
      topK: Int = 20): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    var state: DataFrame = null
    hyperBallRounds(edges, srcCol, dstCol, rounds, m) { (d, est) =>
      state =
        (if (d == 0) est.select(col("node"), lit(0.0).as("h"),
          col("est").as("__prev"))
        else state.join(est, Seq("node"))
          .select(col("node"),
            (col("h") + (greatest(lit(0.0), col("est") - col("__prev")) /
              lit(d.toDouble))).as("h"),
            col("est").as("__prev"))).localCheckpoint(true)
    }
    state.orderBy(col("h").desc, col("node").asc).limit(topK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("h").desc, col("node").asc)))
      .select(col("rank"), col("node"), col("__prev").as("ball_est"),
        col("h").as("harmonic"))
      .orderBy("rank")
  }

  /** Shared HyperBall loop: B_0 = own md5 HLL register; each round
    * register-merges neighbors. `onEst(d, estFrame)` fires with the
    * per-node ball estimate after round d (d = 0 is the singleton ball).
    *
    * WIDE register layout: the state frame is (node, __M0..__M{m-1}) —
    * one row per node, one COLUMN per register — instead of (node,
    * bucket, M) rows. A round is then one node-keyed join producing |E|
    * rows (not |E|·m) and ONE hash aggregate with m map-side-combined
    * `max` columns; the estimate pass reads the node-sized frame with no
    * groupBy at all. The join is broadcast-gated on the DRIVER-known node
    * count (the [[maybeBroadcast]] idiom — the checkpointed state frame
    * has no Catalyst stats, so without the hint every round pays a full
    * |E|-row exchange; measured 2.5–5 s/round shuffled vs ~1 s broadcast
    * at sf0.1). Estimates are BIT-IDENTICAL to the row form
    * ([[Sketches.hllEstimateFromWideRegisters]] pins the fold-order
    * argument; verified 0 mismatches over 3 live rounds), so the SQL
    * oracle replay is untouched.
    *
    * Init is a two-step projection: md5 + the 56-branch ρ when-chain
    * evaluate ONCE into (__bk, __rho), then the m-way register scatter
    * reads those plain columns — inlining the ρ chain into every register
    * column measured 7.5 s of codegen at m = 16. */
  private def hyperBallRounds(edges: DataFrame, srcCol: String,
      dstCol: String, rounds: Int, m: Int)(
      onEst: (Int, DataFrame) => Unit): Unit = {
    require(rounds >= 1 && rounds <= 10,
      s"rounds must be in [1, 10], got $rounds")
    require(m >= 16 && (m & (m - 1)) == 0,
      s"m must be a power of two >= 16, got $m")
    val mcols = (0 until m).map(j => s"__M$j")
    val adj = bidirect(edges, srcCol, dstCol).distinct()
      .localCheckpoint(true)
    val nodes = adj.select(col("src").as("node")).distinct()
    val b = java.lang.Integer.numberOfTrailingZeros(m)
    val h = graft.operators.Dedup.md5Hash60(col("node"))
    var regs = nodes
      .select(col("node"), h.bitwiseAND(lit((m - 1).toLong)).as("__bk"),
        Sketches.hllRho(shiftright(h, b), 60 - b).as("__rho"))
      .select(col("node") +: (0 until m).map(j =>
        when(col("__bk") === lit(j.toLong), col("__rho"))
          .otherwise(lit(0)).as(s"__M$j")): _*)
      .localCheckpoint(true)
    val nNodes = regs.count()
    def estOf(r: DataFrame): DataFrame =
      Sketches.hllEstimateFromWideRegisters(r, Seq("node"), m, "__M")
        .select(col("node"), col("est"))
    onEst(0, estOf(regs))
    (1 to rounds).foreach { d =>
      regs = maybeBroadcast(regs, nNodes)
        .join(adj.select(col("dst").as("node"), col("src").as("__to")),
          Seq("node"))
        .select(col("__to").as("node") +: mcols.map(col): _*)
        .unionByName(regs)
        .groupBy("node").agg(max(mcols.head).as(mcols.head),
          mcols.tail.map(c => max(c).as(c)): _*)
        .localCheckpoint(true)
      onEst(d, estOf(regs))
    }
  }

  /** HyperANF neighborhood function + effective diameter: N(d) = the
    * estimated number of node pairs within distance d (Σ over nodes of
    * the ball estimate), per round — "how far apart is this graph,
    * really?" without a single BFS. effective-diameter-style readout:
    * `frac_of_max` = N(d)/N(rounds); the smallest d with frac ≥ 0.9 is
    * the standard effective diameter (read it off the table). Same
    * O(|E|·m)-per-round HyperBall loop as
    * [[harmonicCentralityHyperBall]]; the per-round Σ est over the
    * node-cardinality frame folds node-sorted under
    * `deterministic = true` (the oracle path), plain sum in production.
    * Returns one row per d in 0..rounds:
    * (d, n_nodes, n_pairs_est, frac_of_max). */
  def neighborhoodFunction(edges: DataFrame, srcCol: String,
      dstCol: String, rounds: Int = 4, m: Int = 64,
      deterministic: Boolean = false): DataFrame = {
    val sums = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    hyperBallRounds(edges, srcCol, dstCol, rounds, m) { (d, est) =>
      val r = est.agg(count(lit(1)).as("n"),
        Ops.foldSum(deterministic, col("est"), col("node")).as("s")).first()
      sums += ((d, r.getLong(0), r.getDouble(1)))
    }
    val nMax = sums.last._3
    val spark = edges.sparkSession
    import spark.implicits._
    sums.toSeq.map { case (d, n, s) =>
      (d.toLong, n, s, if (nMax > 0.0) s / nMax else 0.0) }
      .toDF("d", "n_nodes", "n_pairs_est", "frac_of_max")
  }

  /** Degree power-law fit: ln(count) over ln(degree) OLS on the degree
    * HISTOGRAM — the one-number "is this graph scale-free" check behind
    * every hub-handling decision in this family (the q144/q154
    * middle-degree caps, q142's ordering choice: they pay off exactly
    * when this slope is steep and hubs are real; a near-uniform graph
    * reads a flat, ill-fit slope). Degrees come from the deduped
    * undirected edge frame (key-only shuffles); the histogram is
    * degrees-sized and the fit runs on it via [[Analytics.groupTrends]]'
    * sufficient statistics (deg-sorted folds at gate). Returns one row
    * (n_nodes, n_degrees, max_degree, slope, r2) — slope ≈ −α. */
  def degreePowerLaw(edges: DataFrame, srcCol: String, dstCol: String,
      deterministic: Boolean = false): DataFrame = {
    val e = bidirect(edges, srcCol, dstCol).distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("__d"))
      .localCheckpoint(false)
    val hist = deg.groupBy("__d").agg(count(lit(1)).as("__cnt"))
      .localCheckpoint(false)
    val fit = Analytics.groupTrends(
      hist.select(lit("g").as("__g"), col("__d").as("__id"),
        log(col("__d").cast("double")).as("__x"),
        log(col("__cnt").cast("double")).as("__y")),
      "__g", "__id", "__x", "__y", deterministic)
    val counts = deg.agg(count(lit(1)).as("n_nodes"),
      max("__d").as("max_degree"))
      .crossJoin(hist.agg(count(lit(1)).as("n_degrees")))
    counts.crossJoin(broadcast(fit.select(col("slope"), col("r2"))))
      .select("n_nodes", "n_degrees", "max_degree", "slope", "r2")
  }

  /** HITS (Kleinberg): mutually-reinforcing hub and authority scores on a
    * DIRECTED (typically bipartite) graph — "which customers concentrate
    * buying power, which suppliers concentrate demand" on a buyer→seller
    * edge list, the question PageRank's single score conflates. Per
    * round: auth(v) = Σ_{u→v} hub(u), then L2-normalize; hub(u) =
    * Σ_{u→v} auth(v), then L2-normalize (the textbook two-phase update —
    * hubs read the CURRENT round's authorities). Each phase is one
    * hash-join + key-width aggregate; normalization denominators are
    * one-row aggregate frames cross-joined back (lazy, broadcast — no
    * per-round driver action), so a round is two shuffles however large
    * the graph. Duplicate edges collapse. On the gate path every double
    * sum (contributions AND the squared-norm totals) folds sorted by the
    * counterpart/node key; production uses plain sums (spec ≈ 1e-9).
    * Returns (node, kind ∈ {hub, auth}, score) — nodes appear under the
    * kind(s) they have edges for. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String, rounds: Int,
      deterministic: Boolean = false,
      checkpointInterval: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(checkpointInterval >= 1, "checkpointInterval must be >= 1")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    // hub/auth state frames are node-sized and checkpointed (no Catalyst
    // stats), so gate each round's edge join on the DRIVER-known side
    // cardinalities (the maybeBroadcast idiom) — otherwise every phase
    // pays an exchange + sort of the persisted edge frame
    val nSrc = e.select("src").distinct().count()
    val nDst = e.select("dst").distinct().count()
    def l2normalize(df: DataFrame, score: String): DataFrame = {
      // lazy checkpoint BEFORE fan-out: the raw frame is read twice (norm
      // + divide) and the normalized result twice more (next phase +
      // output) — without a plan break each phase DOUBLES the upstream
      // work and the run goes exponential in rounds (measured: 103 s for
      // 3 rounds at sf0.1 unchecked vs ~2 s checkpointed)
      val dfc = df.localCheckpoint(false)
      val n = dfc.agg(sqrt(Ops.foldSum(deterministic,
        col(score) * col(score), col("node"))).as("__norm"))
      dfc.crossJoin(broadcast(n))
        .select(col("node"), (col(score) / col("__norm")).as(score))
    }
    var hub = e.select(col("src").as("node")).distinct()
      .withColumn("h", lit(1.0))
    var auth: DataFrame = null
    for (r <- 1 to rounds) {
      val araw = e.join(
          maybeBroadcast(hub.withColumnRenamed("node", "src"), nSrc), "src")
        .groupBy(col("dst").as("node"))
        .agg(Ops.foldSum(deterministic, col("h"), col("src")).as("a"))
      auth = l2normalize(araw, "a")
      val hraw = e.join(
          maybeBroadcast(auth.withColumnRenamed("node", "dst"), nDst), "dst")
        .groupBy(col("src").as("node"))
        .agg(Ops.foldSum(deterministic, col("a"), col("dst")).as("h"))
      hub = l2normalize(hraw, "h")
      if (r % checkpointInterval == 0 && r < rounds) {
        hub = hub.localCheckpoint(true)
        auth = auth.localCheckpoint(true)
      }
    }
    val out = hub.select(col("node"), lit("hub").as("kind"),
        col("h").as("score"))
      .unionByName(auth.select(col("node"), lit("auth").as("kind"),
        col("a").as("score")))
      .localCheckpoint(true)
    e.unpersist(false)
    out
  }

  /** Multi-source BFS hop levels: the hop distance of every node reachable
    * within `maxHops` edges of a seed set — the "crawl depth from the
    * trusted frontier" prior ([[personalizedPageRank]]'s discrete twin:
    * TrustRank scores proximity continuously, this reports the exact
    * minimum hop count), and the distance labeling behind "how far is
    * every customer from a flagged supplier" audits.
    *
    * Scale shape: state is (node, dist) — node-sized; each round joins the
    * persisted edge frame to the CURRENT FRONTIER only (the nodes first
    * reached last round, a shrinking set), distincts the neighbor keys,
    * and anti-joins the visited set — all key-width shuffles, no
    * corpus-sized state. Every frontier localCheckpoints (one round of
    * lineage) and the loop exits early when a frontier empties. Seeds that
    * never appear in the edge frame still report dist 0 (an isolated seed
    * is at distance zero from itself). Integer-exact, so the gate needs no
    * deterministic/production split and the oracle replays rounds as
    * unrolled CTEs. Returns (node, dist), dist ∈ [0, maxHops]. */
  def bfsLevels(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    var frontier = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0)).localCheckpoint(true)
    // frontier/visited frames are node-sized and checkpointed (no Catalyst
    // stats): gate each round's joins on DRIVER-known counts (the
    // maybeBroadcast idiom) — the counts double as the empty-frontier
    // exit test, so no extra jobs vs the old isEmpty probe
    var nFrontier = frontier.count()
    var state = frontier
    var nState = nFrontier
    var h = 1
    var done = maxHops == 0
    while (!done) {
      val next = e
        .join(maybeBroadcast(
          frontier.select(col("node").as("src")), nFrontier), "src")
        .select(col("dst").as("node")).distinct()
        .join(maybeBroadcast(state.select("node"), nState),
          Seq("node"), "left_anti")
        .withColumn("dist", lit(h))
        .localCheckpoint(true)
      val nNext = next.count()
      val exhausted = nNext == 0L
      if (exhausted || h == maxHops) done = true
      if (!exhausted) {
        state = state.unionByName(next)
        nState += nNext
        frontier = next
        nFrontier = nNext
      }
      h += 1
    }
    e.unpersist(false)
    state
  }

  /** Time-respecting earliest-arrival reachability within `rounds`
    * temporal hops of a seed set: an edge (src, dst, ts) is traversable
    * only when ts ≥ the arrival time at src — the defining temporal-path
    * constraint (contagion/information cannot ride an interaction that
    * happened before it arrived; static reachability over-reports by
    * ignoring edge ORDER). [[boundedShortestPaths]]'s temporal twin:
    * relaxation candidate = edge ts (arrival AT the interaction), per-node
    * min; the delta frontier is round-for-round identical to full
    * relaxation by the same argument (a non-improved src's ALLOWED edge
    * set is unchanged — its out-relaxations were all applied the round
    * after it last improved; an improvement strictly widens the ts ≥
    * arrival set, and the frontier carries exactly the improved nodes).
    * Parallel edges keep their distinct timestamps (they become available
    * at different arrival times — collapsing to a global min would break
    * the constraint). Integer timestamps end-to-end.
    * Returns (node, reach_t); seeds start at `seedT`. */
  def temporalReachability(edges: DataFrame, srcCol: String, dstCol: String,
      tsCol: String, seeds: DataFrame, seedCol: String, seedT: Long,
      rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(tsCol).cast("long").as("t"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    var reach = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("reach_t", lit(seedT)).localCheckpoint(true)
    // frontier/state frames are node-sized and checkpointed (no Catalyst
    // stats): gate every round join on DRIVER-known counts (maybeBroadcast
    // idiom); the improved count doubles as the convergence test, and the
    // merged state is eagerly checkpointed so its recount reads cached
    // blocks only
    var nReach = reach.count()
    var frontier = reach
    var nFrontier = nReach
    var r = 1
    var done = rounds == 0
    while (!done) {
      val candidates = e
        .join(maybeBroadcast(frontier.select(col("node").as("src"),
          col("reach_t").as("__t")), nFrontier), "src")
        .filter(col("t") >= col("__t"))
        .groupBy(col("dst").as("node")).agg(min("t").as("reach_t"))
      val improved = candidates
        .join(maybeBroadcast(
          reach.select(col("node"), col("reach_t").as("__cur")), nReach),
          Seq("node"), "left")
        .filter(col("__cur").isNull || col("reach_t") < col("__cur"))
        .select("node", "reach_t")
        .localCheckpoint(true)
      val nImproved = improved.count()
      val exhausted = nImproved == 0L
      if (exhausted || r == rounds) done = true
      if (!exhausted) {
        reach = reach.join(maybeBroadcast(improved.select("node"), nImproved),
            Seq("node"), "left_anti")
          .unionByName(improved)
          .localCheckpoint(true)
        nReach = reach.count()
        frontier = improved
        nFrontier = nImproved
      }
      r += 1
    }
    e.unpersist(false)
    reach
  }

  /** Bounded-round weighted shortest distances (Bellman–Ford over the
    * min-plus semiring): the cheapest-cost reach of every node within
    * `rounds` edge relaxations of a seed set — [[bfsLevels]]'s weighted
    * twin ("how FAST can an order route through the supply network",
    * where BFS only answers "how many hops").
    *
    * Scale shape: parallel edges collapse to their min weight once, the
    * edge frame persists, and each round relaxes ONLY the delta frontier
    * — the nodes whose distance improved last round. This is
    * round-for-round IDENTICAL to classic Bellman–Ford (a node that did
    * not improve already had all its out-relaxations applied the round
    * after it last improved, so re-relaxing it can never beat what its
    * neighbors hold) but the join shrinks with convergence instead of
    * touching every settled region every round — the 20× stress probe
    * read the full-state form superlinear (77 s) and this delta form
    * linear. Per round: edges ⋈ frontier (key-width), a per-node min,
    * one anti-join merge into the node-sized state; every frame
    * localCheckpoints (the HITS 2^rounds lesson) and the loop exits
    * early when no node improves. `rounds` is a horizon, not a
    * convergence knob: distances needing more than `rounds` relaxations
    * are honestly absent, matching the unrolled-CTE oracle round for
    * round. Integer weights end-to-end — no det/prod split.
    * Returns (node, dist), seeds at 0. */
  def boundedShortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: DataFrame, seedCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w"))
      .groupBy("src", "dst").agg(min("w").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint(true)
    // same driver-known broadcast gating as [[temporalReachability]]
    var nDist = dist.count()
    var frontier = dist
    var nFrontier = nDist
    var r = 1
    var done = rounds == 0
    while (!done) {
      val candidates = e
        .join(maybeBroadcast(frontier.select(col("node").as("src"),
          col("dist").as("__d")), nFrontier), "src")
        .select(col("dst").as("node"), (col("__d") + col("w")).as("dist"))
        .groupBy("node").agg(min("dist").as("dist"))
      val improved = candidates
        .join(maybeBroadcast(
          dist.select(col("node"), col("dist").as("__cur")), nDist),
          Seq("node"), "left")
        .filter(col("__cur").isNull || col("dist") < col("__cur"))
        .select("node", "dist")
        .localCheckpoint(true)
      val nImproved = improved.count()
      val exhausted = nImproved == 0L
      if (exhausted || r == rounds) done = true
      if (!exhausted) {
        dist = dist.join(maybeBroadcast(improved.select("node"), nImproved),
            Seq("node"), "left_anti")
          .unionByName(improved)
          .localCheckpoint(true)
        nDist = dist.count()
        frontier = improved
        nFrontier = nImproved
      }
      r += 1
    }
    e.unpersist(false)
    dist
  }

  /** Modularity of a node partition (Newman Q): "is this community
    * assignment real structure, or would a degree-preserving random
    * rewiring look the same?" — the acceptance test for q105 LPA output
    * (or ANY grouping used as a community claim, e.g. "nation" over the
    * co-purchase graph). Q = Σ_c [ in_c/m − (deg_c/2m)² ].
    *
    * Semantics: edges are UNDIRECTED — canonicalized to (min,max),
    * deduped, self-loops dropped; the graph is the subgraph INDUCED on
    * assigned nodes (m and degrees are computed AFTER the community
    * join, so an unassigned endpoint can't silently skew the null
    * model). Per-community contribution in EXACT integer arithmetic:
    * contrib_num = 4m·in_c − deg_c² over DECIMAL(38,0) (m up to ~1e12
    * edges keeps 4m·in_c ≤ ~1e25 — inside 38 digits), divided by 4m²
    * once, in doubles, at the end — a HUGEINT SQL oracle replays it
    * bit-for-bit.
    *
    * Shape: two key-width joins edge→community (node-keyed, no
    * broadcast assumption on the assignment), then community-cardinality
    * aggregates. No all-pairs anywhere. Returns one row per community:
    * (community, n_nodes, in_edges, deg_sum, contrib); Q = Σ contrib. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      communities: DataFrame, nodeCol: String,
      communityCol: String): DataFrame = {
    val asg = communities
      .select(col(nodeCol).as("__node"), col(communityCol).as("__comm"))
      .distinct()
    val canon = edges.select(
        least(col(srcCol), col(dstCol)).as("__a"),
        greatest(col(srcCol), col(dstCol)).as("__b"))
      .filter(col("__a") =!= col("__b"))
      .distinct()
    val tagged = canon
      .join(asg.select(col("__node").as("__a"), col("__comm").as("__ca")),
        "__a")
      .join(asg.select(col("__node").as("__b"), col("__comm").as("__cb")),
        "__b")
      .localCheckpoint(false) // read by m, degrees, and in-edges below
    val m = tagged.count()
    if (m == 0L)
      return tagged.select(col("__ca").as("community"),
        lit(0L).as("n_nodes"), lit(0L).as("in_edges"),
        lit(0L).as("deg_sum"), lit(0.0).as("contrib")).limit(0)
    // degree per assigned node, from the induced edge set
    val deg = tagged.select(col("__a").as("__node"), col("__ca").as("__comm"))
      .unionByName(tagged.select(col("__b").as("__node"),
        col("__cb").as("__comm")))
      .groupBy("__node", "__comm").agg(count(lit(1)).as("__deg"))
    val perComm = deg.groupBy("__comm").agg(
      count(lit(1)).as("n_nodes"), sum("__deg").as("deg_sum"))
    val inEdges = tagged.filter(col("__ca") === col("__cb"))
      .groupBy("__ca").agg(count(lit(1)).as("in_edges"))
      .withColumnRenamed("__ca", "__comm")
    val fourM = lit(4L).cast("decimal(19,0)") * lit(m).cast("decimal(19,0)")
    val denom = lit(4.0) * (lit(m.toDouble) * lit(m.toDouble))
    perComm
      .join(inEdges, Seq("__comm"), "left")
      .select(col("__comm").as("community"), col("n_nodes"),
        coalesce(col("in_edges"), lit(0L)).as("in_edges"), col("deg_sum"))
      .withColumn("contrib",
        ((fourM * col("in_edges").cast("decimal(19,0)")).cast("decimal(38,0)")
          .cast("double") -
          (col("deg_sum").cast("decimal(19,0)") *
            col("deg_sum").cast("decimal(19,0)")).cast("decimal(38,0)")
            .cast("double")) / denom)
  }
}
