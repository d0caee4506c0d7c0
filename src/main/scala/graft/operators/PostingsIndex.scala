package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The lifecycle every persistent similarity index shares, held (not
  * inherited) by [[NearDupIndex]], [[FuzzyIndex]], [[HammingIndex]],
  * [[SpanIndex]], [[VectorIndex]] and [[ErIndex]]. Each of those keeps
  * only its strategy: how a batch becomes keys and payload rows, and how
  * candidates are verified.
  *
  * Layout, in one [[BucketedSnapshotStore]]:
  *  - `postings`: one row per (keys…, id), pk `keyCols :+ idCol`,
  *    bucketed on `keyCols` only (`bucketPrefixLen`), so a probe by key
  *    reads ONLY the buckets the incoming batch's keys hash into: probe
  *    I/O is proportional to the batch + its collisions, never to the
  *    history.
  *  - `payload` (optional): one row per id, pk `idCol` — what candidate
  *    verification reads, key-pruned to the candidate ids.
  *
  * Crash ordering, the one rule both tables obey (a rule about commits):
  *  - [[add]] commits the payload FIRST. It stages both tables' new
  *    generations at once, then commits payload, then postings. A failed
  *    payload stage commits nothing (the staged postings generation is an
  *    orphan the store's GC collects); a crash between the two commits
  *    leaves orphan payload rows, which no probe reaches (probes enter
  *    through postings), rather than postings whose verification rows do
  *    not exist yet. A retried add rewrites the same pks idempotently.
  *  - [[forget]] deletes the postings FIRST, the mirror image: the
  *    discoverable trace goes before the data it points at, and a retry
  *    removes any orphan payload rows.
  *
  * Degenerate keys (more than `maxKeySize` HISTORY postings —
  * boilerplate clusters) are dropped from candidate generation, the
  * standard bounded-recall trade ([[Dedup.capBuckets]]);
  * [[oversizedKeys]] reports what a probe would skip. `Int.MaxValue`
  * means uncapped. */
final class PostingsIndex(
    spark: SparkSession,
    dir: String,
    numBuckets: Int,
    postings: String,
    keyCols: Seq[String],
    idCol: String,
    payload: Option[String] = None,
    maxKeySize: Int = Int.MaxValue) {
  require(keyCols.nonEmpty, "keyCols must be non-empty")

  private[operators] val store = new BucketedSnapshotStore(spark, dir,
    numBuckets = numBuckets, bucketPrefixLen = keyCols.size)
  private val postingsPk = keyCols :+ idCol
  private val idKey = Seq(idCol)

  /** `probe` against the history, or None while nothing is indexed. */
  def whenIndexed[T](probe: => T): Option[T] =
    if (store.exists(postings)) Some(probe) else None

  /** History postings for ONLY the given keys (bucket-pruned read),
    * minus degenerate keys. The cap is a window, not groupBy+join: one
    * shuffle of the pruned postings, one scan. */
  def postingsFor(keys: DataFrame): DataFrame = {
    val hist = store.readForKeys(postings, keys, keyCols)
    if (maxKeySize == Int.MaxValue) hist
    else hist
      .withColumn("__m", count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*)))
      .filter(col("__m") <= maxKeySize).drop("__m")
  }

  /** Payload rows of the given ids (column `idCol`), bucket-pruned. */
  def payloadFor(ids: DataFrame): DataFrame =
    store.readForKeys(payload.get, ids, idKey)

  /** Every committed posting. */
  def read(): Option[DataFrame] = store.read(postings)

  /** Commit one batch (key-unique rows): both tables staged at once, then
    * payload committed first — see the class crash ordering. */
  def add(postingRows: DataFrame, payloadRows: Option[DataFrame] = None): Unit = {
    require(payloadRows.isDefined == payload.isDefined,
      s"payload rows must be given iff the index has a payload table ($payload)")
    payload.zip(payloadRows) match {
      case Some((t, rows)) =>
        val (commitPayload, commitPostings) = Ops.concurrently(
          store.stage(t, rows, idKey, assumeUniqueKeys = true),
          store.stage(postings, postingRows, postingsPk, assumeUniqueKeys = true))
        commitPayload.get.apply()
        commitPostings.get.apply()
      case None =>
        store.upsert(postings, postingRows, postingsPk, assumeUniqueKeys = true)
    }
  }

  /** The novelty gate: index and return only the `batch` rows whose
    * `batchIdCol` is not among `hits(batch)` (one column, `__hit`). `hits`
    * returns None when the batch needs no probe, and the whole batch is
    * novel. The returned frame is materialized, so it outlives `index`'s
    * internal caches: with `eager` the batch and the novel rows are
    * checkpointed at once, otherwise the novel rows on `index`'s first
    * job. */
  def ingest(batch: DataFrame, batchIdCol: String, eager: Boolean)(
      hits: DataFrame => Option[DataFrame])(index: DataFrame => Unit): DataFrame = {
    val b = if (eager) batch.localCheckpoint(true) else batch
    val novel = hits(b).fold(b)(h =>
      b.join(h, col(batchIdCol) === col("__hit"), "left_anti").localCheckpoint(eager))
    index(novel)
    novel
  }

  /** Fold each table's generations back to one, both tables at once
    * (bounds read fan-out after deep ingest history). Stale postings from
    * changed-id re-adds have distinct full pks and survive — they stay
    * harmless candidates. */
  def compact(): Unit = {
    val (p, v) = Ops.concurrently(store.compact(postings, postingsPk),
      payload.foreach(store.compact(_, idKey)))
    p.get
    v.get
  }

  /** Right-to-be-forgotten: erase every row of `ids` (column `byCol`)
    * from both tables, postings first (class crash ordering). The
    * postings delete goes by a non-bucket column: one column-pruned
    * discovery scan, affected-bucket rewrites; payload deletes prune
    * straight to the ids' buckets. After forget an id probes as a
    * complete stranger. Returns rows deleted across both tables. */
  def forget(ids: DataFrame, byCol: String): Long = {
    val k = ids.select(col(byCol).as(idCol))
    store.delete(postings, k, idKey, postingsPk) +
      payload.fold(0L)(store.delete(_, k, idKey, idKey))
  }

  /** Per-oversized-key postings counts a probe would skip (observability
    * for the `maxKeySize` recall trade). */
  def oversizedKeys(): DataFrame =
    read().map(
      _.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("members"))
        .filter(col("members") > maxKeySize))
      .getOrElse(spark.range(0).select((keyCols :+ "members").map(c => col("id").as(c)): _*))
}
