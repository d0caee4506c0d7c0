package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent Hamming-distance index over 64-bit signature HISTORY,
  * probed at ingest time: "is this signature within `maxDist` bits of
  * anything we have ever seen?" — without rescanning the history. The
  * signature-source-agnostic cell of the incremental-similarity matrix
  * (exact rows → Bloom sidecars, token near-dup → [[NearDupIndex]],
  * character fuzzy → [[FuzzyIndex]], vectors → [[VectorIndex]]): text
  * SimHash ([[Dedup.simhash]]), image dHash ([[Multimodal]]), and audio
  * fingerprints all route here, so this is also the multimodal crawl
  * dedup front door.
  *
  * Blocking is the [[Dedup.hammingNearDupPairs]] pigeonhole: the 64-bit
  * signature splits into four 16-bit chunks, and any pair within
  * Hamming distance ≤ 3 must agree on at least one chunk — COMPLETE
  * recall at the default `maxDist = 3` (degenerate chunk values with
  * more than `maxBucketSize` history postings are dropped from candidate
  * generation, the standard bounded-recall cap).
  *
  * Layout (one [[PostingsIndex]]):
  *  - `sigs` (payload): (id, sig) — what exact verification reads,
  *    key-pruned to candidate ids only.
  *  - `chunks`: (chunk, chunk_val, id) postings bucketed on
  *    (chunk, chunk_val).
  *
  * A probe of an already-indexed id reports itself at hamming 0 —
  * exactly what [[ingest]]'s restart contract relies on. */
class HammingIndex(
    spark: SparkSession,
    dir: String,
    maxDist: Int = 3,
    numBuckets: Int = 64,
    maxBucketSize: Int = 1000) {
  require(maxDist >= 0 && maxDist <= 3,
    s"4-chunk pigeonhole blocking is complete only for maxDist <= 3, got $maxDist")

  private val ix = new PostingsIndex(spark, dir, numBuckets, postings = "chunks",
    keyCols = Seq("chunk", "chunk_val"), idCol = "id", payload = Some("sigs"),
    maxKeySize = maxBucketSize)

  private def norm(df: DataFrame, idCol: String, sigCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(sigCol).cast("long").as("sig"))

  private def chunked(sigs: DataFrame): DataFrame =
    sigs.select(col("id"), posexplode(
        transform(sequence(lit(0), lit(3)),
          c => call_function("shiftright", col("sig"), c * lit(16))
            .bitwiseAND(0xFFFFL)))
        .as(Seq("chunk", "chunk_val")))
      .select(col("chunk"), col("chunk_val"), col("id"))

  /** Index signatures (ids new to the index, or unchanged re-adds —
    * the [[ingest]] contract). Two delta-proportional upserts; only the
    * touched chunk/id buckets rewrite. */
  def add(sigs0: DataFrame, idCol: String, sigCol: String): Unit = {
    val s = norm(sigs0, idCol, sigCol).localCheckpoint(true)
    ix.add(chunked(s), payloadRows = Some(s))
  }

  /** History matches of the incoming signatures:
    * (inc_id, hist_id, hamming) with hamming ≤ `maxDist`. An id probed
    * under its indexed signature reports itself at 0. */
  def probe(in0: DataFrame, idCol: String, sigCol: String): DataFrame = ix.whenIndexed {
    val inc = norm(in0, idCol, sigCol).localCheckpoint(true)
    val incChunks = chunked(inc)
    val ok = ix.postingsFor(incChunks.select("chunk", "chunk_val"))
      .select(col("chunk"), col("chunk_val"), col("id").as("hist_id"))
    val cand = incChunks.join(ok, Seq("chunk", "chunk_val"))
      .select(col("id").as("inc_id"), col("hist_id")).distinct()
      .localCheckpoint(true)
    val histSigs = ix.payloadFor(cand.select(col("hist_id").as("id")))
      .select(col("id").as("hist_id"), col("sig").as("__hs"))
    cand
      .join(inc.select(col("id").as("inc_id"), col("sig").as("__is")),
        Seq("inc_id"))
      .join(histSigs, Seq("hist_id"))
      .select(col("inc_id"), col("hist_id"),
        bit_count(col("__is").bitwiseXOR(col("__hs"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .localCheckpoint(true)
  }.getOrElse(in0.select(col(idCol).as("inc_id"), col(idCol).as("hist_id"),
    lit(0).as("hamming")).limit(0))

  /** Hamming-gated ingest: index only signatures with NO history match
    * within `maxDist`; returns the novel rows. Restart-safe: a
    * redelivered id matches its own indexed copy at hamming 0. */
  def ingest(batch: DataFrame, idCol: String, sigCol: String): DataFrame =
    ix.ingest(batch, idCol, eager = true)(b => Some(probe(b, idCol, sigCol)
      .select(col("inc_id").as("__hit"))))(add(_, idCol, sigCol))

  /** Right-to-be-forgotten: erase `ids` — chunk postings, then the stored
    * signatures ([[PostingsIndex.forget]]). Returns rows deleted across
    * both tables. */
  def forget(ids: DataFrame, idCol: String): Long = ix.forget(ids, idCol)
}
