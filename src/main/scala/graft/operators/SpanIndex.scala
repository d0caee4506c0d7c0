package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent winnowing-fingerprint index over a document HISTORY, probed
  * at ingest time: "does this incoming document QUOTE (share a verbatim
  * span with) anything we have ever crawled?" — without rescanning the
  * corpus.
  *
  * Completes the incremental-similarity matrix with its sixth cell:
  * exact → Bloom ([[BucketedSnapshotStore]]), token near-dup → LSH
  * postings ([[NearDupIndex]]), character fuzzy → FastSS variants
  * ([[FuzzyIndex]]), vectors → IVF ([[VectorIndex]]), 64-bit signatures →
  * Hamming chunks ([[HammingIndex]]), verbatim SPANS → this. Whole-doc
  * Jaccard misses the 30-token quote of a long document entirely (the
  * q93 containment rationale); batch span dedup ([[Dedup.duplicateSpans]])
  * answers it within one frame — this answers it against history.
  *
  * Winnowing (Schleimer-Wilkerson-Aiken, the q43 operator) guarantees any
  * shared token run of ≥ k + window − 1 tokens contributes at least one
  * IDENTICAL fingerprint on both sides, so shared-fingerprint count is a
  * sound span-overlap signal — no second verification stage is needed
  * (the fingerprints are positional k-gram hashes; a match IS verbatim
  * k-gram evidence, up to hash collisions).
  *
  * Two tables in one [[PostingsIndex]]:
  *  - `fps`: one row per (fp, doc_id) — fingerprint postings, bucketed on
  *    fp.
  *  - `meta` (payload): one row per doc_id with its fingerprint count
  *    (what the containment fraction of a match needs without re-reading
  *    postings).
  *
  * Degenerate fingerprints (> `maxPostings` history postings —
  * boilerplate spans shared by everything) are dropped from candidate
  * generation: the capBuckets bounded-recall convention, reported by
  * [[oversizedFpStats]].
  *
  * Caveats, by design:
  *  - `minShared` gates matches: a quote shorter than ~k+window−1 tokens
  *    may contribute < minShared fingerprints and pass as novel.
  *  - a doc with ZERO fingerprints (shorter than k tokens) can never
  *    self-match, so a redelivered batch re-returns such docs as novel;
  *    the store itself stays consistent (same-pk upserts are idempotent).
  *  - within-batch quoting is not reported (batch probes history only).
  *
  * Reference provenance: the reference has no incremental surface at all
  * (its snapshot tier is exact-pk, gluestick/etl_utils.py:180-191); the
  * winnowing scheme is from the public MOSS paper (SIGMOD'03), as per
  * PAPERS.md. */
class SpanIndex(
    spark: SparkSession,
    dir: String,
    k: Int = 5,
    window: Int = 4,
    minShared: Int = 3,
    numBuckets: Int = 64,
    maxPostings: Int = 500,
    hashKind: String = "xxhash64") {
  require(k > 0 && window > 0, "k and window must be > 0")
  require(minShared >= 1, s"minShared must be >= 1, got $minShared")

  private val ix = new PostingsIndex(spark, dir, numBuckets, postings = "fps",
    keyCols = Seq("fp"), idCol = "doc_id", payload = Some("meta"),
    maxKeySize = maxPostings)

  /** (doc_id, fps): winnowed fingerprint array per doc — the fused
    * one-pass expression (hashKind "md5_60" for oracle-replayable runs). */
  private def fpArr(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      TextAnalysis.winnowedHashes(Dedup.tokensCol(col(textCol)), k, window,
        hashKind).as("fps"))

  private def postings(arr: DataFrame): DataFrame =
    arr.select(explode(col("fps")).as("fp"), col("doc_id"))

  /** Index `docs` (ids new to the index — the [[ingest]] path guarantees
    * it; re-adding an id with unchanged text is an idempotent same-pk
    * upsert). */
  def add(docs: DataFrame, idCol: String, textCol: String): Unit = {
    val arr = fpArr(docs, idCol, textCol).cache()
    try ix.add(postings(arr),
      payloadRows = Some(arr.select(col("doc_id"), size(col("fps")).as("n_fps"))))
    finally arr.unpersist(blocking = false)
  }

  /** Span matches of `docs` against the indexed history:
    * (inc_id, hist_id, n_shared, containment) with n_shared ≥ `minShared`;
    * containment = shared / incoming-fingerprint-count (1.0 = everything
    * the incoming doc says has been said before — the redelivery
    * self-match [[ingest]] relies on). Result is eagerly materialized
    * (match-sized), so the batch-shaped plans never re-run. */
  def probe(docs: DataFrame, idCol: String, textCol: String): DataFrame = ix.whenIndexed {
    val arr = fpArr(docs, idCol, textCol).localCheckpoint(true)
    val inc = postings(arr)
    val okHist = ix.postingsFor(inc.select("fp"))
      .select(col("fp"), col("doc_id").as("hist_id"))
    val shared = inc.join(okHist, "fp")
      .groupBy(col("doc_id").as("inc_id"), col("hist_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    shared
      .join(arr.select(col("doc_id").as("inc_id"), size(col("fps")).as("__n")),
        "inc_id")
      .select(col("inc_id"), col("hist_id"), col("n_shared"),
        round(col("n_shared").cast("double") / col("__n").cast("double"), 6)
          .as("containment"))
      .localCheckpoint(true)
  }.getOrElse(docs.select(col(idCol).cast("long").as("inc_id"),
    col(idCol).cast("long").as("hist_id"), lit(0L).as("n_shared"),
    lit(0.0).as("containment")).limit(0))

  /** Quote-gated ingest: index and return only the docs with NO history
    * span match. Re-running a batch is a no-op for every doc with ≥
    * minShared fingerprints (each matches its own indexed copy at
    * containment 1.0); zero-fingerprint docs re-admit idempotently (class
    * caveats). */
  def ingest(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    ix.ingest(docs, idCol, eager = false)(b => Some(probe(b, idCol, textCol)
      .select(col("inc_id").as("__hit"))))(add(_, idCol, textCol))

  /** Per-oversized-fingerprint postings counts a probe would skip
    * (observability for the `maxPostings` recall trade). */
  def oversizedFpStats(): DataFrame = ix.oversizedKeys()

  /** Fold each table's generations back to one (bounds read fan-out
    * after deep ingest history). */
  def compact(): Unit = ix.compact()

  /** Right-to-be-forgotten: erase `ids` — fingerprint postings, then the
    * per-doc meta ([[PostingsIndex.forget]]). Returns rows deleted across
    * both tables. */
  def forget(ids: DataFrame, idCol: String): Long = ix.forget(ids, idCol)
}
