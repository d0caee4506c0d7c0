package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent deletion-neighborhood index over a string HISTORY, probed at
  * ingest time: "is this incoming name/title/URL within `maxDist` edits of
  * anything we have ever seen?" — without rescanning the history.
  *
  * Completes the incremental tier: exact keys probe Bloom sidecars
  * ([[BucketedSnapshotStore.incrementalNew]]), token near-dups probe the
  * LSH postings ([[NearDupIndex]]), and character-level fuzzy matches
  * probe THIS — the [[Dedup.editDistancePairs]] candidate scheme
  * (FastSS deletion variants, complete recall) turned into a store.
  *
  * Two tables in one [[PostingsIndex]]:
  *  - `variants`: one row per (vkey, id) — the 64-bit hash of every
  *    ≤maxDist-deletion variant, bucketed on vkey.
  *  - `strings` (payload): one row per id with the original string,
  *    persisted for exact `levenshtein` verification.
  *
  * Degenerate variant keys (> `maxBucketSize` history postings — i.e. a
  * deletion variant shared by a huge true-duplicate cluster) are dropped
  * from candidate generation, the standard bounded-recall trade
  * ([[Dedup.capBuckets]] / [[NearDupIndex]] convention); collapse exact
  * duplicates upstream and the cap never fires.
  *
  * Same caveats as [[NearDupIndex]]: `add` assumes new ids (the
  * [[ingest]] path guarantees it); stale postings from re-added ids only
  * ever create extra candidates, which exact verification resolves;
  * within-batch matches are not reported (run [[Dedup.editDistancePairs]]
  * on the batch first if that matters). */
class FuzzyIndex(
    spark: SparkSession,
    dir: String,
    maxDist: Int = 1,
    numBuckets: Int = 64,
    maxBucketSize: Int = 1000) {
  require(maxDist >= 1 && maxDist <= 3, s"maxDist must be in [1,3], got $maxDist")

  private val ix = new PostingsIndex(spark, dir, numBuckets, postings = "variants",
    keyCols = Seq("vkey"), idCol = "id", payload = Some("strings"),
    maxKeySize = maxBucketSize)

  /** Index `docs` (id-unique, ids not yet indexed — see class caveats).
    * Two delta-proportional upserts; only the touched buckets rewrite. */
  def add(docs: DataFrame, idCol: String, strCol: String): Unit = {
    val keys = Dedup.deletionVariantKeys(docs, idCol, strCol, maxDist)
      .localCheckpoint(true)
    ix.add(keys.select(col("__k").as("vkey"), col("__id").as("id")).distinct(),
      payloadRows = Some(keys.select(col("__id").as("id"), col("__s").as("s")).distinct()))
  }

  /** Verified fuzzy matches of `docs` against the indexed history:
    * (inc_id, hist_id, dist) with dist ≤ `maxDist`. A string re-probed
    * under its indexed id reports itself at dist 0 — what [[ingest]]'s
    * idempotence relies on. Result is eagerly materialized (match-sized),
    * so the batch-sized key frame never outlives the call. */
  def probe(docs: DataFrame, idCol: String, strCol: String): DataFrame = ix.whenIndexed {
    val keys = Dedup.deletionVariantKeys(docs, idCol, strCol, maxDist)
      .localCheckpoint(true)
    val cand = keys.select(col("__k").as("vkey"), col("__id").as("inc_id"),
        col("__s").as("sa"))
      .join(ix.postingsFor(keys.select(col("__k").as("vkey"))), Seq("vkey"))
      .select(col("inc_id"), col("sa"), col("id").as("hist_id")).distinct()
      .localCheckpoint(true)
    val histStr = ix.payloadFor(cand.select(col("hist_id").as("id")))
      .select(col("id").as("hist_id"), col("s").as("sb"))
    cand.join(histStr, Seq("hist_id"))
      // threshold form: banded O(L·τ) DP, exact distance when ≤ maxDist
      // (−1 above) — same kept rows as the unbounded expression
      .withColumn("dist", levenshtein(col("sa"), col("sb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("inc_id"), col("hist_id"), col("dist"))
      .localCheckpoint(true)
  }.getOrElse(docs.select(col(idCol).as("inc_id"), col(idCol).as("hist_id"),
    lit(0).as("dist")).limit(0))

  /** Fuzzy-gated ingest: index and return only the docs with NO history
    * match within `maxDist`. Re-running the same batch is a no-op (each
    * string now matches its own indexed copy at dist 0). */
  def ingest(docs: DataFrame, idCol: String, strCol: String): DataFrame =
    ix.ingest(docs, idCol, eager = false)(b => Some(probe(b, idCol, strCol)
      .select(col("inc_id").as("__hit"))))(add(_, idCol, strCol))

  /** Fold each table's generations back to one. */
  def compact(): Unit = ix.compact()

  /** Right-to-be-forgotten: erase `ids` — deletion-variant postings, then
    * the stored strings ([[PostingsIndex.forget]]). After forget, the id
    * and its content probe as never-seen. Returns rows deleted across
    * both tables. */
  def forget(ids: DataFrame, idCol: String): Long = ix.forget(ids, idCol)
}
