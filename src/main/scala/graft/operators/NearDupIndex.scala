package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent MinHash-LSH index over a document HISTORY, probed at ingest
  * time: "is this incoming document a near-duplicate of anything we have
  * ever crawled?" — without rescanning the corpus.
  *
  * The batch near-dup tier ([[Dedup.minhashNearDupPairs]]) answers
  * within-one-frame questions; a crawl pipeline's question is incremental,
  * against an ever-growing history. The reference engine has no
  * counterpart (its snapshot tier is exact-pk only, etl_utils.py:180-191);
  * this is the near-dup analogue of
  * [[BucketedSnapshotStore.incrementalNew]]'s exact tier.
  *
  * Two tables in one [[PostingsIndex]]:
  *
  *  - `bands`: one row per (band, band_hash, doc_id) — the LSH postings,
  *    bucketed on (band, band_hash).
  *  - `shingles` (payload): one row per doc_id with the xxhash64'd
  *    distinct shingle array — what exact-Jaccard verification needs,
  *    persisted so history
  *    text is never re-tokenized (8 bytes per distinct shingle, ~the size
  *    of a column-compressed copy of the text).
  *
  * Probe = signature → band keys → key-pruned postings read → candidate
  * (incoming, history) pairs → exact Jaccard ≥ `threshold` against the
  * stored shingle arrays. Hash-space Jaccard equals string-space Jaccard
  * up to 64-bit collisions (the [[Dedup.jaccardForPairs]] convention).
  * Degenerate band keys (> `maxBucketSize` HISTORY postings — boilerplate
  * clusters) are dropped from candidate generation, the standard bounded
  * recall trade; [[oversizedBandStats]] reports what a probe would skip.
  *
  * Caveats, by design:
  *  - `add` assumes doc ids are new to the index (the [[ingest]] path
  *    guarantees it). Re-adding a CHANGED doc id updates its shingle row
  *    but leaves the old band postings behind; stale postings only ever
  *    create extra candidates, which exact verification then scores
  *    against the CURRENT shingles — correctness is unaffected, and
  *    [[compact]] folds the garbage away.
  *  - within-batch near-dups are NOT reported (the batch is probed against
  *    history only); run the batch tier first if that matters.
  */
class NearDupIndex(
    spark: SparkSession,
    dir: String,
    shingleSize: Int = 3,
    bands: Int = 16,
    rowsPerBand: Int = 2,
    threshold: Double = 0.55,
    numBuckets: Int = 64,
    maxBucketSize: Int = 1000) {
  require(bands > 0 && rowsPerBand > 0, "bands and rowsPerBand must be > 0")
  require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")

  private val ix = new PostingsIndex(spark, dir, numBuckets, postings = "bands",
    keyCols = Seq("band", "band_hash"), idCol = "doc_id",
    payload = Some("shingles"), maxKeySize = maxBucketSize)

  /** (__id, __sharr): distinct word shingles per doc, the shared upstream
    * of both the signature and the verification arrays. */
  private def shingleArr(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("__id"),
      Dedup.shinglesOf(Dedup.tokensCol(col(textCol)), shingleSize).as("__sharr"))

  private def hashed(arr: DataFrame): DataFrame =
    arr.select(col("__id").as("doc_id"),
      transform(col("__sharr"), s => xxhash64(s)).as("sh_hashes"))

  /** Index `docs` (id-unique, ids not yet indexed — see class caveats).
    * Two delta-proportional upserts; only the touched band/id buckets of
    * the history are rewritten. */
  def add(docs: DataFrame, idCol: String, textCol: String): Unit = {
    val arr = shingleArr(docs, idCol, textCol).cache()
    try {
      val b = Dedup.bandsFromShingleArray(arr, "__id", bands, rowsPerBand)
        .select(col("band"), col("band_hash"), col("__id").as("doc_id"))
      ix.add(b, payloadRows = Some(hashed(arr)))
    } finally arr.unpersist(blocking = false)
  }

  /** Verified near-dup matches of `docs` against the indexed history:
    * (inc_id, hist_id, jaccard) with jaccard ≥ `threshold`. A doc re-probed
    * under its indexed id reports itself at jaccard 1.0 — exactly what
    * [[ingest]]'s idempotence relies on. Result is eagerly materialized
    * (pair-sized), so the batch-sized shingle cache never outlives the
    * call. */
  def probe(docs: DataFrame, idCol: String, textCol: String): DataFrame = ix.whenIndexed {
    val arr = shingleArr(docs, idCol, textCol).cache()
    try {
      // batch×bands rows, materialized EAGERLY: the signature pass (the
      // probe's one corpus-shaped computation) would otherwise re-run for
      // the postings-bucket collect, the candidate plan, and the verify
      // plan — three times per probe
      val incBands = Dedup.bandsFromShingleArray(arr, "__id", bands, rowsPerBand)
        .localCheckpoint(true)
      // pair-ids, materialized so the postings read + candidate join run
      // once (the history-shingle key read collects from it, then the
      // verify join consumes it)
      val cand = incBands
        .join(ix.postingsFor(incBands.select("band", "band_hash")), Seq("band", "band_hash"))
        .select(col("__id").as("inc_id"), col("doc_id").as("hist_id")).distinct()
        .localCheckpoint(true)
      // exact verify: incoming arrays from the cache, history arrays via a
      // key-pruned read of only the candidate ids
      val histArr = ix.payloadFor(cand.select(col("hist_id").as("doc_id")))
        .select(col("doc_id").as("hist_id"), col("sh_hashes").as("__shb"))
      val incArr = hashed(arr).select(col("doc_id").as("inc_id"),
        col("sh_hashes").as("__sha"))
      val inter = size(array_intersect(col("__sha"), col("__shb")))
      cand.join(incArr, "inc_id").join(histArr, "hist_id")
        .select(col("inc_id"), col("hist_id"),
          (inter / (size(col("__sha")) + size(col("__shb")) - inter)).as("jaccard"))
        .filter(col("jaccard") >= threshold)
        .localCheckpoint(true)
    } finally arr.unpersist(blocking = false)
  }.getOrElse(docs.select(col(idCol).as("inc_id"), col(idCol).as("hist_id"),
    lit(0.0).as("jaccard")).limit(0))

  /** Near-dup-gated ingest: index and return only the docs with NO
    * verified history match. Re-running the same batch is a no-op (each
    * doc now matches its own indexed copy at jaccard 1.0). */
  def ingest(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    ix.ingest(docs, idCol, eager = false)(b => Some(probe(b, idCol, textCol)
      .select(col("inc_id").as("__hit"))))(add(_, idCol, textCol))

  /** Per-oversized-band-key postings counts a probe would skip
    * (observability for the `maxBucketSize` recall trade). */
  def oversizedBandStats(): DataFrame = ix.oversizedKeys()

  /** Fold each table's generations back to one ([[PostingsIndex.compact]]). */
  def compact(): Unit = ix.compact()

  /** Right-to-be-forgotten: erase every trace of `ids` from the index —
    * band postings AND content-derived shingle hashes
    * ([[PostingsIndex.forget]]). Re-ingesting the same content is then
    * treated as brand new, which is the composition RTBF + incremental
    * dedup requires (the rewritten bucket bloom sidecars guarantee it).
    * Returns rows deleted across both tables. */
  def forget(ids: DataFrame, idCol: String): Long = ix.forget(ids, idCol)
}
