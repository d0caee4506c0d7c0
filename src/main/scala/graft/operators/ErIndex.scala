package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent entity-resolution index: incoming records probe a
  * golden-record HISTORY through blocking keys, score against their
  * candidates with the Fellegi–Sunter comparator ([[Linkage]]), and
  * attach to the best match's cluster — or found a new cluster — without
  * ever rescanning the history. The streaming master-data upsert.
  *
  * The seventh cell of the incremental-similarity matrix (exact → Bloom,
  * token → LSH, char → FastSS, vector → IVF, signature → Hamming, span →
  * winnowing, ENTITY → this): the others answer "have we seen this
  * content?", this answers "which real-world entity is this record?" and
  * hands back a stable cluster id.
  *
  * ONE table (`recs`, payload-free postings) in a [[PostingsIndex]]:
  * (pass, bkey, id, attrs…, cluster), pk (pass, bkey, id), bucketed on
  * (pass, bkey). The comparison attributes are DENORMALIZED onto the
  * blocking-key postings: a probe reads only the buckets the batch's
  * keys hash into and gets its candidates WITH their attributes and
  * cluster in that one read — no second per-id history read (the
  * two-table form re-read candidate attributes through an id-keyed
  * lookup whose wide key set touched every bucket: measured 2.5× probe
  * growth at 4× history; this form reads key-width postings once). The
  * cost is one attrs copy per blocking pass, and a single atomic commit
  * replaces the two-table ordering protocol.
  *
  * Assignment semantics, by design:
  *  - batch-vs-history only: two NEW records of the same entity arriving
  *    in ONE batch found separate clusters (the NearDupIndex within-batch
  *    caveat); run batch linkage ([[Linkage.blockedPairs]]) first when
  *    intra-batch duplicates matter.
  *  - best match = max score, ties to the smallest history id —
  *    deterministic and SQL-replayable.
  *  - redelivery is stable: an unchanged record's all-exact self-match
  *    outranks every other candidate, so it re-receives its own stored
  *    cluster and the same-pk upserts are no-ops.
  *  - re-ingesting an id with CHANGED attributes updates the rows its
  *    new keys hash to but leaves old-key postings behind as stale
  *    candidates (with the OLD attributes) until [[compact]] — the
  *    supported lifecycle is append + redelivery, the NearDupIndex.add
  *    contract.
  *  - hot blocking keys beyond `maxBlockSize` history postings are
  *    dropped from candidate generation (the capBuckets bounded-recall
  *    convention).
  *
  * `blockKeys` are expressions over the attribute columns (evaluated on
  * both the batch and the stored history), `scoreThresholdMicro` is the
  * accept bar in [[Linkage.fsWeightMicro]] micro-log2 units. */
class ErIndex(
    spark: SparkSession,
    dir: String,
    fields: Seq[Linkage.FieldSpec],
    blockKeys: Seq[Column],
    scoreThresholdMicro: Long,
    numBuckets: Int = 64,
    maxBlockSize: Int = 4096) {
  require(fields.nonEmpty && blockKeys.nonEmpty,
    "fields and blockKeys must be non-empty")

  private val attrCols: Seq[String] = fields.map(_.column).distinct
  private val ix = new PostingsIndex(spark, dir, numBuckets, postings = "recs",
    keyCols = Seq("pass", "bkey"), idCol = "id", maxKeySize = maxBlockSize)

  /** One row per (pass, blocking key) per record, attrs + extras riding. */
  private def keyed(df: DataFrame, idCol: String, extras: Seq[Column]): DataFrame =
    blockKeys.zipWithIndex.map { case (k, i) =>
      df.select((Seq(lit(i).as("pass"), k.cast("string").as("bkey"),
        col(idCol).cast("long").as("id")) ++ attrCols.map(col) ++ extras): _*)
        .filter(col("bkey").isNotNull)
    }.reduce(_ unionAll _)

  /** (inc_id, cluster, matched, score_micro): the assignment each batch
    * record WOULD receive against the current history (no writes).
    * Unmatched records report their own id as cluster, matched = false,
    * score NULL. */
  def resolve(batch: DataFrame, idCol: String): DataFrame = {
    val own = batch.select(col(idCol).cast("long").as("inc_id"))
      .select(col("inc_id"), col("inc_id").as("cluster"),
        lit(false).as("matched"), lit(null).cast("long").as("score_micro"))
    ix.whenIndexed {
      val bk = keyed(batch, idCol, Nil)
        .select("pass", "bkey", "id").localCheckpoint(true)
      // candidates arrive WITH the history attributes + cluster; a record
      // reached through both passes collapses (identical attr payload)
      val cand = bk.join(ix.postingsFor(bk.select("pass", "bkey"))
          .withColumnRenamed("id", "hist_id"), Seq("pass", "bkey"))
        .select((Seq(col("id").as("id_a"), col("hist_id").as("id_b")) ++
          attrCols.map(col) ++ Seq(col("cluster"))): _*)
        .distinct()
        .localCheckpoint(true)
      val histEnts = cand.select((col("id_b").as("id") +:
        (attrCols.map(col) :+ col("cluster"))): _*).distinct()
      val scored = Linkage.matchScoresAcross(
        batch.select((col(idCol).cast("long").as("id") +: attrCols.map(col)): _*),
        histEnts, "id", cand.select("id_a", "id_b"), fields,
        carryRight = Seq("cluster"))
      val best = scored.filter(col("score_micro") >= scoreThresholdMicro)
        .withColumn("__rn", row_number().over(Window.partitionBy("id_a")
          .orderBy(col("score_micro").desc, col("id_b").asc)))
        .filter(col("__rn") === 1)
        .select(col("id_a").as("inc_id"), col("b_cluster").as("cluster"),
          col("score_micro"))
      own.select("inc_id")
        .join(best, Seq("inc_id"), "left")
        .select(col("inc_id"),
          coalesce(col("cluster"), col("inc_id")).as("cluster"),
          col("cluster").isNotNull.as("matched"), col("score_micro"))
        .localCheckpoint(true)
    }.getOrElse(own.localCheckpoint(true))
  }

  /** Resolve the batch, persist every record with its assigned cluster
    * (ONE atomic upsert), and return the assignment. The batch is
    * deduplicated by id first (deterministic struct-min over the attr
    * payload — the q293 system-of-record rule): upsert runs with
    * assumeUniqueKeys = true, so an id appearing twice in one batch
    * would otherwise commit duplicate (pass, bkey, id) postings and
    * break the store's pk-unique invariant. */
  def ingest(batch: DataFrame, idCol: String): DataFrame = {
    val uniq = batch
      .groupBy(col(idCol).cast("long").as("__bid"))
      .agg(min(struct(attrCols.map(col): _*)).as("__a"))
      .select(col("__bid") +: attrCols.map(c => col(s"__a.$c").as(c)): _*)
      .localCheckpoint(false)
    val assign = resolve(uniq, "__bid")
    val withCluster = uniq
      .join(assign.select(col("inc_id").as("__bid"), col("cluster")), "__bid")
    ix.add(keyed(withCluster, "__bid", Seq(col("cluster"))))
    assign
  }

  /** Current golden-record table: (id, attrs…, cluster) — one row per
    * record (postings deduplicated). */
  def entities(): Option[DataFrame] =
    ix.read().map(
      _.select((col("id") +: (attrCols.map(col) :+ col("cluster"))): _*)
        .distinct())

  /** Fold generations (bounds read fan-out after deep ingest history;
    * also drops superseded duplicates of changed-attribute re-ingests
    * whose keys collide). */
  def compact(): Unit = ix.compact()

  /** Right-to-be-forgotten: erase `ids`' denormalized blocking rows (every
    * pass's copy — the id's attributes appear once per blocking pass, all
    * removed in one commit). The record's CLUSTER id may live on in other
    * members' rows — that's an assignment, not the forgotten record's
    * data. A forgotten id re-ingests as a brand-new record (it may found
    * a new cluster). Returns rows deleted. */
  def forget(ids: DataFrame, idCol: String): Long = ix.forget(ids, idCol)
}
