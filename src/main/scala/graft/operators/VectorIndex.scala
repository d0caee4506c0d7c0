package graft.operators

import graft.functions.VectorOps.{vector_dot, vector_norm}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent IVF vector index over an embedding HISTORY, probed at
  * ingest/query time: "what are the nearest neighbors of these vectors
  * among everything we have ever embedded?" — without rescanning the
  * corpus. Completes the incremental-similarity matrix the other
  * persistent stores cover for their modalities: exact rows →
  * [[BucketedSnapshotStore]] Bloom sidecars, token near-dup →
  * [[NearDupIndex]] LSH postings, character fuzzy → [[FuzzyIndex]]
  * deletion variants, vectors → this.
  *
  * Layout (one [[PostingsIndex]]):
  *  - `centroids`: (centroid_id, centroid) — trained ONCE from the
  *    initialization batch ([[Similarity.ivfIndex]]'s deterministic seed +
  *    one Lloyd refinement) and then FROZEN: assignments must stay stable
  *    or history postings would be probed in the wrong cells. The honest
  *    drift contract: if the embedding distribution shifts far from the
  *    training batch, recall at fixed nProbe degrades — [[cellStats]] is
  *    the monitoring view (a ballooning hot cell is the tell), and the
  *    remedy is a rebuild, not in-place mutation.
  *  - `postings`: one row per (centroid_id, vec_id, embedding), bucketed
  *    on centroid_id — a probe reads ONLY its `nProbe` cells' buckets:
  *    probe I/O ∝ batch × nProbe cell sizes, never the history.
  *
  * Probe = assign each query its `nProbe` nearest cells (centroids are a
  * driver literal — a queries×cells projection, no shuffle), key-pruned
  * postings read, cosine against candidates, per-query top-k on the
  * candidate-bounded frame. `nProbe = numCentroids` is the exact path
  * (complete recall — what the oracle gates); smaller nProbe is the
  * standard recall/cost knob. Re-adding an existing vec_id replaces its
  * posting (pk upsert) — a stale posting in the OLD cell is removed by
  * the same upsert only if the cell matched; changed-cell re-adds leave a
  * stale row that [[compact]]-style rebuilds fold away, and probes can
  * report it only WITH its current vector (store carries the embedding),
  * so scores are never stale. */
class VectorIndex(
    spark: SparkSession,
    dir: String,
    numBuckets: Int = 64) {

  private val Centroids = "centroids"
  private val ix = new PostingsIndex(spark, dir, numBuckets, postings = "postings",
    keyCols = Seq("centroid_id"), idCol = "vec_id")
  private val store = ix.store

  def isInitialized: Boolean = store.exists(Centroids)

  /** Train and freeze the cell centroids from a representative batch
    * (does NOT index it — call [[add]] after). `seedHash` defaults to
    * xxhash64; pass `Dedup.md5Hash60(_)` when an external oracle must
    * reproduce the index. */
  def initialize(vectors: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int,
      seedHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        xxhash64(_)): Unit = {
    require(!isInitialized, s"index at $dir is already initialized")
    val (cens, _) = Similarity.ivfIndex(vectors, idCol, vecCol,
      numCentroids, seedHash)
    store.upsert(Centroids, cens, Seq("centroid_id"), assumeUniqueKeys = true)
  }

  private def centroidsDf: DataFrame = store.read(Centroids).getOrElse(
    sys.error(s"vector index at $dir is not initialized"))

  /** Index vectors: assign cells against the frozen centroids (a
    * shuffle-free plan-literal argmax) and upsert the postings — only the
    * touched cell buckets rewrite. Re-adding a vec_id replaces its
    * posting (see class contract). */
  def add(vectors: DataFrame, idCol: String, vecCol: String): Unit = {
    val assigned = Similarity.assign(vectors, centroidsDf, idCol, vecCol)
      .select(col("centroid_id"), col(idCol).as("vec_id"),
        col(vecCol).as("embedding"))
    ix.add(assigned)
  }

  /** Per-cell posting counts — the drift/skew monitoring view (and the
    * direct input to an nProbe/rebuild decision). */
  def cellStats(): DataFrame = {
    ix.read() match {
      case Some(p) => p.groupBy("centroid_id").agg(count(lit(1)).as("n"))
      case None =>
        import spark.implicits._
        Seq.empty[(Long, Long)].toDF("centroid_id", "n")
    }
  }

  /** Vector-gated ingest: index ONLY the batch vectors with no history
    * neighbor at cosine ≥ `threshold` (semantic-novelty gating — the
    * embedding analogue of [[NearDupIndex.ingest]]); returns the novel
    * rows, materialized. Idempotent under batch redelivery: re-adding an
    * unchanged (vec_id, vector) upserts the identical posting, and a
    * redelivered near-dup of an ALREADY-INDEXED other id is suppressed by
    * its history match. `threshold` is judged at the given `nProbe` —
    * the usual bounded-recall lever (gate-style full-probe for exact
    * gating, small nProbe for cheap gating at scale). */
  def ingest(batch: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nProbe: Int): DataFrame =
    ix.ingest(batch, idCol, eager = true)(b => ix.whenIndexed(
      probeImpl(b, idCol, vecCol, k = 1, nProbe, excludeSelf = false)
        .filter(col("cosine") >= threshold)
        .select(col("query_id").as("__hit"))))(add(_, idCol, vecCol))

  /** Top-`k` indexed neighbors of each query vector, probing the
    * `nProbe` nearest cells: (query_id, rank, neighbor_id, cosine).
    * Self-matches (same id) are excluded. */
  def probe(queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int): DataFrame =
    probeImpl(queries, idCol, vecCol, k, nProbe, excludeSelf = true)

  /** [[probe]] with self-matches kept — what [[ingest]]'s restart
    * contract needs (a redelivered id must match its own indexed copy at
    * cosine 1 and be suppressed). */
  private def probeImpl(queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int, excludeSelf: Boolean): DataFrame = {
    require(k >= 1 && nProbe >= 1, s"k/nProbe must be >= 1, got $k/$nProbe")
    val cens = Similarity.collectCentroids(centroidsDf)
    val censLit = array(cens.map { case (cid, vec, nrm) =>
      struct(lit(cid).as("cid"), typedLit(vec).as("cvec"),
        lit(nrm).as("cnorm"))
    }: _*)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        vector_norm(col(vecCol)).as("__qn"))
      .localCheckpoint(true) // batch-sized; feeds cell ranking + verify
    // queries × cells projection (cells are plan literals), top-nProbe
    // cells per query via one sorted bounded array — no shuffle, no window
    val cells = q
      .select(col("query_id"),
        explode(censLit).as("__c"), col("__qv"), col("__qn"))
      .select(col("query_id"),
        struct((lit(-1.0) * (vector_dot(col("__qv"), col("__c.cvec")) /
          (col("__qn") * col("__c.cnorm")))).as("negcos"),
          col("__c.cid").as("cid")).as("__sc"))
      .groupBy("query_id")
      .agg(slice(sort_array(collect_list(col("__sc"))), 1, nProbe)
        .as("__top"))
      .select(col("query_id"), explode(col("__top")).as("__sc"))
      .select(col("query_id"), col("__sc.cid").as("centroid_id"))
    val postings = ix.postingsFor(cells.select("centroid_id"))
    val scored0 = cells.join(postings, Seq("centroid_id"))
      .join(q, Seq("query_id"))
    val scored = (if (excludeSelf)
        scored0.filter(col("query_id") =!= col("vec_id"))
      else scored0)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (vector_dot(col("__qv"), col("embedding")) /
          (col("__qn") * vector_norm(col("embedding")))).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Right-to-be-forgotten: erase `ids`' vectors from the postings
    * (centroids hold no per-id data — they stay). Deletes by a
    * non-bucket column: one column-pruned discovery scan, rewrites only
    * the affected cells' buckets. A forgotten id probes as never-seen
    * and can re-ingest as new. Returns posting rows deleted. */
  def forget(ids: DataFrame, idCol: String): Long = ix.forget(ids, idCol)
}
