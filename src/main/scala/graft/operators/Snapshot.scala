package graft.operators

import graft.functions.PyStr
import graft.sources.ParquetMeta
import java.io.IOException
import java.util.ConcurrentModificationException
import scala.util.{Failure, Success}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cross-run state: snapshot parquet datasets with a crash-safe
  * lock-rename commit protocol.
  *
  * Reference: gluestick/etl_utils.py:152-191 + snapshot_lock.py. The
  * reference writes one whole file; at 100 TB a snapshot must be a
  * partitioned dataset, so here a snapshot is a *directory* of parquet,
  * committed by directory rename (write `.tmp`, swap via `.lock`).
  *
  * LOCK SEMANTICS DIFFER FROM THE REFERENCE — do not apply reference
  * cleanup rules to these files. gluestick writes NEW data at the
  * `.hg.partial_written.lock` path and renames it into place on success,
  * so a leftover reference lock is a discardable partial write. Here the
  * rename direction is inverted: the COMPLETE OLD snapshot is parked at
  * the lock path while the new directory swaps in, so a leftover lock is
  * the only surviving complete copy — `read` restores it, and an
  * orchestrator must NEVER delete it. (New data is always staged under a
  * `.tmp-<uuid>` path; those are the discardable ones.)
  */
class SnapshotStore(spark: SparkSession, dir: String) {
  private val fs: FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def path(name: String): Path = new Path(dir, s"$name.snapshot.parquet")
  def csvPath(name: String): Path = new Path(dir, s"$name.snapshot.csv")
  private def lockPath(p: Path): Path =
    new Path(p.getParent, s"${p.getName}.hg.partial_written.lock")

  def exists(name: String): Boolean =
    fs.exists(path(name)) || fs.exists(csvPath(name))

  /** Format markers make the parquet↔csv switch crash-safe: a write commits
    * its format by atomically creating `<name>.snapshot.format-<n>.<fmt>`
    * (create-no-overwrite of a zero-byte file) AFTER the data rename and
    * BEFORE the stale other-format dataset is deleted. Readers resolve the
    * max-`n` marker; without markers (stores written before this existed)
    * they fall back to the parquet-first probe. So a crash between the data
    * commit and the cleanup can no longer leave a stale parquet dataset
    * permanently shadowing a committed CSV one: either the marker landed
    * (new format wins) or it didn't (the write never committed — the old
    * complete snapshot stays current). */
  private val FormatMarker = """^(.+)\.snapshot\.format-(\d+)\.(csv|parquet)$""".r
  private def markerFiles(name: String): Seq[(Long, String, Path)] = {
    val d = new Path(dir)
    if (!fs.exists(d)) return Seq.empty
    fs.listStatus(d).toSeq.map(_.getPath).flatMap { p =>
      p.getName match {
        case FormatMarker(n, seq, fmt) if n == name => Some((seq.toLong, fmt, p))
        case _ => None
      }
    }
  }
  private def markedFormat(name: String): Option[String] =
    markerFiles(name).sortBy(_._1).lastOption.map(_._2)

  /** Renames `src` to `dst` if `dst` does not exist; false if it did, or
    * if the rename failed. A `dst` directory that appears between the
    * check and the rename would make the local file system move `src`
    * UNDER it (a hidden dir inside a live snapshot); that move is undone. */
  private def moveTo(src: Path, dst: Path): Boolean = {
    if (fs.exists(dst) || !fs.rename(src, dst)) return false
    val nested = new Path(dst, src.getName)
    if (!fs.exists(nested)) return true
    if (!fs.rename(nested, src)) throw new IOException(s"could not move $nested back to $src")
    false
  }

  /** Recover from a torn write: a lock with no live snapshot beside it is
    * the complete previous snapshot, parked by a writer that crashed (or
    * has not yet swapped) — move it back. True if `p` now exists. */
  private def restore(p: Path): Boolean = {
    if (!fs.exists(p) && fs.exists(lockPath(p)) && !moveTo(lockPath(p), p) && !fs.exists(p))
      throw new IOException(s"could not restore ${lockPath(p)} to $p")
    fs.exists(p)
  }

  /** Deletes the lock beside a live snapshot: a finished swap's previous
    * generation. A lock with no live snapshot is never deleted — it is the
    * only complete copy while a swap is under way. */
  private def dropFinishedLock(p: Path): Unit =
    if (fs.exists(p) && fs.exists(lockPath(p))) fs.delete(lockPath(p), true)

  def read(name: String): Option[DataFrame] = {
    def readCsv(): Option[DataFrame] =
      if (restore(csvPath(name)))
        Some(spark.read.option("header", "true").option("inferSchema", "true")
          .csv(csvPath(name).toString))
      else None
    // the committed footer's schema spares the reader its inference job
    def readParquet(): Option[DataFrame] =
      if (restore(path(name)))
        Some(SnapshotStore.footerSchema(fs, path(name)).fold(spark.read)(spark.read.schema)
          .parquet(path(name).toString))
      else None
    markedFormat(name) match {
      case Some("csv")     => readCsv().orElse(readParquet())
      case Some("parquet") => readParquet().orElse(readCsv())
      // No marker: parquet wins when both formats exist (the probe order
      // of etl_utils.py:152-178).
      case _ => readParquet().orElse(readCsv())
    }
  }

  /** Atomic replace: write tmp → rename current to lock → rename tmp to
    * current → drop lock. Readers never observe a partial dataset.
    * `useCsv` writes a `.snapshot.csv` dataset instead (reference
    * `use_csv=True`, etl_utils.py:186-189) — same commit protocol; note
    * CSV round-trips types through header+inference, like the reference's
    * pandas read_csv.
    *
    * Two writers racing on one snapshot: every rename is checked, and a
    * writer whose swap finds the current path taken (another writer, or a
    * reader's restore, swapped in between its two renames) deletes its
    * staged rows and throws `ConcurrentModificationException`; the other
    * writer's snapshot stays live. A check-then-delete window remains in
    * [[dropFinishedLock]]: it matters only if a third party crashes
    * between its two renames inside that window. */
  def write(name: String, df: DataFrame, partitions: Option[Int] = None,
      useCsv: Boolean = false): Unit =
    stage(name, df, partitions, useCsv).commit()

  /** The write half of [[write]]: stages `df` under a fresh `.tmp-<uuid>`
    * path and changes nothing a reader sees. The returned stage's `commit`
    * is the rest of [[write]] (park, swap, format marker, GC); `discard`
    * deletes the staged rows. A stage ends in exactly one of the two. */
  private[operators] def stage(name: String, df: DataFrame, partitions: Option[Int] = None,
      useCsv: Boolean = false): SnapshotStore.Stage = {
    fs.mkdirs(new Path(dir))
    val tmp = new Path(dir, s".${name}.snapshot.tmp-${java.util.UUID.randomUUID()}")
    val target = partitions.map(df.repartition(_)).getOrElse(df)
    try {
      if (useCsv)
        target.write.mode("overwrite").option("header", "true").csv(tmp.toString)
      else
        target.write.mode("overwrite")
          .option("compression", "zstd") // reference uses zstd for all parquet
          .parquet(tmp.toString)
    } catch { case e: Throwable => fs.delete(tmp, true); throw e }
    SnapshotStore.Stage(() => commit(name, tmp, useCsv), () => fs.delete(tmp, true): Unit)
  }

  private def commit(name: String, tmp: Path, useCsv: Boolean): Unit = {
    val cur = if (useCsv) csvPath(name) else path(name)
    val lock = lockPath(cur)
    try {
      restore(cur)
      dropFinishedLock(cur)
      if (fs.exists(cur) && !moveTo(cur, lock))
        throw new ConcurrentModificationException(
          s"snapshot $name: could not park $cur at $lock; a concurrent write holds it")
      if (!moveTo(tmp, cur))
        throw new ConcurrentModificationException(
          s"snapshot $name: a concurrent write replaced $cur; this write was not committed")
    } catch { case e: Throwable => fs.delete(tmp, true); throw e }
    afterDataCommit()
    // commit the format: readers resolve the highest-numbered marker, so a
    // crash anywhere past this line can no longer resurrect the other
    // format's stale dataset (previously the cleanup below raced the crash
    // and a leftover parquet dir would shadow a committed CSV write)
    val fmt = if (useCsv) "csv" else "parquet"
    val markers = markerFiles(name)
    val nextSeq = markers.map(_._1).maxOption.getOrElse(0L) + 1L
    fs.create(new Path(dir, s"$name.snapshot.format-$nextSeq.$fmt"), false).close()
    afterFormatCommit()
    dropFinishedLock(cur)
    // post-commit GC (idempotent; a crash here is repaired by the next
    // write): stale other-format dataset + its lock, superseded markers
    val other = if (useCsv) path(name) else csvPath(name)
    if (fs.exists(other)) fs.delete(other, true)
    if (fs.exists(lockPath(other))) fs.delete(lockPath(other), true)
    markers.foreach { case (_, _, p) => fs.delete(p, false) }
  }

  /** Crash-injection seams for specs — no-ops in production. */
  protected def afterDataCommit(): Unit = ()
  protected def afterFormatCommit(): Unit = ()
  /** Runs on [[Snapshot.dropRedundant]]'s delta side once the delta is
    * materialized, while the hash snapshot is still only staged. */
  protected[graft] def afterDeltaCheckpoint(): Unit = ()
}

object SnapshotStore {
  /** A staged write (see [[SnapshotStore.stage]]). */
  private[operators] final case class Stage(commit: () => Unit, discard: () => Unit)

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The schema of the parquet dataset at `p`, read on the driver with no
    * job: the Spark schema in the footer of its first data file by path,
    * the file Spark's own inference reads. Every file of a committed
    * snapshot or generation comes from one write, so the footer always
    * agrees with the files beside it. None when `p` holds no data file or
    * the footer carries no Spark schema (a non-Spark writer); the caller
    * then infers. */
  private[operators] def footerSchema(fs: FileSystem, p: Path): Option[StructType] = {
    val first = fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getPath).sortBy(_.toString).headOption
    first.flatMap(f => ParquetMeta.footerKeyValues(f, fs.getConf).get(SparkSchemaKey))
      .flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption.collect {
        case s: StructType => s
      })
  }
}

/** Incremental-state operators: snapshot upsert, row-hash CDC, id backfill.
  * Reference: gluestick/etl_utils.py:193-367, 855-922. */
object Snapshot {

  /** Ordering column giving "arrival order" within this batch — the
    * reference's keep="last" depends on frame row order (etl_utils.py:253);
    * Spark needs it explicit. */
  private val arrival = "__gs_arrival"

  /** Merge-by-PK upsert: rows in `incoming` replace snapshot rows with the
    * same key; within `incoming`, the last occurrence wins.
    *
    * Equivalent formulations in the reference: pandas concat +
    * drop_duplicates(keep="last") (etl_utils.py:236-253) and the Polars
    * anti-join + diagonal concat (pl_reader.py:145-152). We use the
    * window formulation over a priority column: one shuffle by pk, schema-
    * evolving via unionByName(allowMissingColumns) — the Spark analogue of
    * `diagonal_relaxed`. At scale the shuffle partitions by pk, so this is
    * the standard merge-on-read pattern (no driver materialization).
    */
  def upsert(snapshot: Option[DataFrame], incoming: DataFrame, pk: Seq[String],
      coerceStrict: Boolean = false): DataFrame = {
    snapshot match {
      case None => dedupKeepLast(incoming, pk)
      case Some(snap) if pk.isEmpty =>
        // empty pk = dedup on the FULL row (reference drop_duplicates with
        // no subset). The window formulation below would partition by
        // nothing and collapse the whole snapshot to one row.
        alignTypes(snap, incoming, coerceStrict)
          .unionByName(incoming, allowMissingColumns = true)
          .dropDuplicates()
      case Some(snap) =>
        val s = alignTypes(snap, incoming, coerceStrict)
          .withColumn("__gs_src", lit(0)).withColumn(arrival, lit(0L))
        val n = incoming
          .withColumn("__gs_src", lit(1))
          .withColumn(arrival, monotonically_increasing_id())
        val all = s.unionByName(n, allowMissingColumns = true)
        val w = Window.partitionBy(pk.map(col): _*)
          .orderBy(col("__gs_src").desc, col(arrival).desc)
        all.withColumn("__gs_rn", row_number().over(w))
          .filter(col("__gs_rn") === 1)
          .drop("__gs_src", arrival, "__gs_rn")
    }
  }

  /** keep="last" dedup within one frame (arrival order). Empty pk dedups on
    * the full row — duplicates are then identical, so keep-any is correct. */
  def dedupKeepLast(df: DataFrame, pk: Seq[String]): DataFrame = {
    if (pk.isEmpty) return df.dropDuplicates()
    val w = Window.partitionBy(pk.map(col): _*).orderBy(col(arrival).desc)
    df.withColumn(arrival, monotonically_increasing_id())
      .withColumn("__gs_rn", row_number().over(w))
      .filter(col("__gs_rn") === 1)
      .drop(arrival, "__gs_rn")
  }

  /** Coerce snapshot columns to incoming dtypes before union — the
    * reference casts the snapshot to the incoming frame's types and raises
    * naming the failing column (etl_utils.py:238-251). Default is total:
    * try_cast nulls bad cells. `strict=true` reproduces the reference's
    * raising behavior — one aggregate pass finds, per cast column, the
    * offender count and an example value, and the error names them. */
  private def alignTypes(snap: DataFrame, incoming: DataFrame, strict: Boolean = false): DataFrame = {
    val want = incoming.schema.map(f => f.name -> f.dataType).toMap
    val needCast = snap.schema.fields.toIndexedSeq
      .filter(f => want.get(f.name).exists(_ != f.dataType))
    if (strict && needCast.nonEmpty) {
      val aggs = needCast.flatMap { f =>
        val c = col(s"`${f.name}`")
        val bad = c.isNotNull && c.try_cast(want(f.name)).isNull
        Seq(sum(when(bad, 1).otherwise(0)),
          first(when(bad, c.cast(StringType)), ignoreNulls = true))
      }
      val r = snap.agg(aggs.head, aggs.tail: _*).first()
      needCast.zipWithIndex.foreach { case (f, i) =>
        val n = if (r.isNullAt(2 * i)) 0L else r.getLong(2 * i)
        if (n > 0) {
          val example = if (r.isNullAt(2 * i + 1)) "null" else r.getString(2 * i + 1)
          throw new IllegalStateException(
            s"Snapshot failed while trying to convert field ${f.name} from type " +
              s"${f.dataType.simpleString} to type ${want(f.name).simpleString}: " +
              s"$n value(s) not convertible, e.g. '$example'")
        }
      }
    }
    val cols = snap.columns.map { c =>
      want.get(c) match {
        case Some(dt) if dt != snap.schema(c).dataType => col(c).try_cast(dt).as(c)
        case _ => col(c)
      }
    }
    snap.select(cols.toIndexedSeq: _*)
  }

  /** Full snapshot_records lifecycle: read → merge → persist → return.
    * `justNew=true` returns only this batch's rows (but still persists the
    * merge); `overwrite=true` replaces the snapshot with `incoming`. */
  def snapshotRecords(
      store: SnapshotStore,
      name: String,
      incoming: DataFrame,
      pk: Seq[String],
      justNew: Boolean = false,
      overwrite: Boolean = false,
      coerceStrict: Boolean = false,
      useCsv: Boolean = false): DataFrame = {
    val merged =
      if (overwrite) dedupKeepLast(incoming, pk)
      else upsert(store.read(name), incoming, pk, coerceStrict)
    // write() stages to a tmp dir, so the prior snapshot files stay intact
    // while `merged` evaluates — no cache needed for the write itself. The
    // RETURNED frame re-reads the freshly committed snapshot: durable, no
    // recompute-after-replace hazard, and nothing stays pinned in storage
    // (the previous cache() here was never unpersisted and leaked).
    store.write(name, merged, useCsv = useCsv)
    if (justNew) incoming else store.read(name).getOrElse(merged)
  }

  /** Row-hash change-data-capture: keep only rows whose MD5 content hash is
    * absent from the hash snapshot; optionally flag rows whose pk existed
    * before (updates vs inserts). Persists the refreshed `pk+hash` snapshot.
    * Reference drop_redundant: etl_utils.py:299-367.
    *
    * Scale note: the comparison is a pk+hash left-anti join — shuffles only
    * (pk, hash) pairs, never full rows, so the CDC cost is bounded by key
    * width not row width.
    */
  def dropRedundant(
      store: SnapshotStore,
      name: String,
      df0: DataFrame,
      pk: Seq[String],
      updatedFlag: Boolean = false): DataFrame = {
    // reference: pk-dedup first, then hash over ALL sorted columns
    // including the pk (etl_utils.py:325-337) — hash-snapshot files stay
    // interchangeable with reference-written ones
    val df = if (pk.nonEmpty) df0.dropDuplicates(pk) else df0
    val hashed = df.withColumn("hash", rowHash(df, df.columns.toSeq))
    val hashName = s"$name.hash"
    val hashCols = (pk :+ "hash").map(col)
    val prior = store.read(hashName).map(_.select(hashCols: _*))
    val fresh = prior match {
      case None => hashed
      case Some(ph) => hashed.join(ph, pk :+ "hash", "left_anti")
    }
    // the flag needs a pk to associate state with — the reference only
    // applies it when pk is non-empty (`updated_flag and pk`,
    // etl_utils.py:352-365)
    val flagged = (prior, updatedFlag && pk.nonEmpty) match {
      case (Some(ph), true) =>
        val priorKeys = ph.select(pk.map(col): _*).distinct()
          .withColumn("__gs_existed", lit(true))
        fresh.join(priorKeys, pk, "left")
          .withColumn("_updated", coalesce(col("__gs_existed"), lit(false)))
          .drop("__gs_existed")
      case (None, true) => fresh.withColumn("_updated", lit(false))
      case _            => fresh
    }
    // Materialize the delta BEFORE the hash snapshot is replaced:
    // localCheckpoint truncates lineage, so the delta can never silently
    // recompute against the refreshed snapshot (which would make every row
    // look redundant). Blocks are MEMORY_AND_DISK, so memory pressure
    // spills rather than evicts — but checkpointed blocks have no recovery
    // path: losing an executor (crash, dynamic-allocation decommission)
    // fails the job outright. Fail-loud, never silently wrong. Unlike the
    // previous cache() — which pinned storage for the session — checkpoint
    // blocks are reclaimed by the ContextCleaner once the caller drops the
    // frame. The delta is changed-rows-only: batch-sized, not corpus-sized.
    //
    // The refreshed hash snapshot (this batch's hashes upserted by pk) is
    // staged at the same time: staging writes a tmp dir, so `prior`'s files
    // stay intact for the checkpoint, and the commit runs only once both
    // sides succeeded — the ordering above holds by construction. If
    // either side fails, nothing is committed and the staged rows go.
    val (delta, staged) = Ops.concurrently(
      { val out = flagged.localCheckpoint(true); store.afterDeltaCheckpoint(); out },
      store.stage(hashName, upsert(prior, hashed.select(hashCols: _*), pk)))
    (delta, staged) match {
      case (Success(out), Success(stage)) =>
        stage.commit()
        out.drop("hash")
      case _ =>
        staged.foreach(_.discard())
        val errors = Seq(delta, staged).collect { case Failure(e) => e }
        errors.tail.foreach(errors.head.addSuppressed)
        throw errors.head
    }
  }

  /** MD5 row hash with reference-parity string assembly (sorted column
    * order, Python str() forms, null/NaN skipped) — etl_utils.py:272-296. */
  def rowHash(df: DataFrame, cols: Seq[String]): Column = PyStr.rowHash(df, cols)

  /** Backfill remote ids: left join `ids` snapshot (keep-last per InputId)
    * on `externalIdCol == InputId`, adding `RemoteId` as `targetCol`.
    * Reference merge_id_from_snapshot: etl_utils.py:855-922.
    * The ids side is a deduped two-column frame → broadcast-able. */
  def mergeIdFromSnapshot(
      df: DataFrame,
      ids: DataFrame,
      externalIdCol: String = "externalId",
      inputIdCol: String = "InputId",
      remoteIdCol: String = "RemoteId",
      targetCol: String = "Id"): DataFrame = {
    val lookup = dedupKeepLast(
      ids.select(col(inputIdCol), col(remoteIdCol)), Seq(inputIdCol))
      .withColumnRenamed(remoteIdCol, targetCol)
    // two-column but unbounded (grows with the ids snapshot) — gate the hint
    df.join(Ops.broadcastIfSmall(lookup), df(externalIdCol) === lookup(inputIdCol), "left")
      .drop(lookup(inputIdCol))
  }

  /** SCD-Type-2 interval builder: collapse a per-key observation stream
    * into validity intervals — (key, value, valid_from, valid_to,
    * is_current), one row per RUN of consecutive identical values. The
    * dimension-history shape the snapshot/CDC family feeds ("what was
    * this account's status on March 3rd?" is a point-in-time join
    * against this table, and [[graft.operators.Analytics.asofJoin]] is
    * that join).
    *
    * Gaps-and-islands: per key, flag rows whose value differs from the
    * previous observation (lag), number the runs with a running sum of
    * flags, collapse each run to its first timestamp, then close every
    * interval with the next run's start (lead; NULL = still current).
    * ONE keyed window partition per key — never a global window; ties
    * within a timestamp break by `tieCol` so runs are deterministic. */
  def scd2Intervals(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val obs = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val flagged = df
      .select(col(keyCol), col(tsCol), col(tieCol), col(valueCol))
      .withColumn("__chg",
        when(lag(col(valueCol), 1).over(obs).isNull ||
          lag(col(valueCol), 1).over(obs) =!= col(valueCol), 1L)
          .otherwise(0L))
      .withColumn("__run", sum("__chg").over(
        obs.rowsBetween(Long.MinValue, 0)))
    val runs = flagged.groupBy(col(keyCol), col("__run"))
      .agg(min(col(tsCol)).as("valid_from"),
        min(col(valueCol)).as(valueCol)) // constant within a run
    val runW = Window.partitionBy(col(keyCol)).orderBy(col("valid_from").asc,
      col("__run").asc)
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(runW))
      .select(col(keyCol), col(valueCol), col("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** SCD2 MERGE: apply a batch of fresh observations to the dimension
    * table [[scd2Intervals]] produces — the incremental half of the
    * slowly-changing-dimension story (scd2Intervals derives history from
    * a full log; this maintains it load by load without re-deriving).
    *
    * Per key (batch deduplicated keep-last by (ts, tie) desc):
    *  - no current row → open a new current version at the batch ts;
    *  - current value unchanged (null-safe) → no-op;
    *  - current value differs AND the batch ts is strictly after the
    *    current version's valid_from → close the current row
    *    (valid_to = batch ts) and open the new version;
    *  - batch ts ≤ current valid_from → IGNORED: the monotone-load
    *    contract (standard SCD2); late data older than the open version
    *    cannot close it without inverting intervals — route genuine
    *    backfills through scd2Intervals on the full log instead.
    * Historic (closed) rows pass through untouched.
    *
    * Scale shape: one key-width keep-last over the batch, one key-keyed
    * full-outer join against ONLY the current rows (one per key), and
    * the closed history rides through as a union — never re-shuffled,
    * never rewritten. Returns the same (key, value, valid_from,
    * valid_to, is_current) schema it consumes. */
  def scd2Apply(current: DataFrame, batch: DataFrame, keyCol: String,
      valueCol: String, tsCol: String, tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__nt").desc, col("__tie").desc)
    val b = batch
      .select(col(keyCol), col(valueCol).as("__nv"), col(tsCol).as("__nt"),
        col(tieCol).as("__tie"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(keyCol), col("__nv"), col("__nt"))
    val outCols = Seq(col(keyCol), col(valueCol), col("valid_from"),
      col("valid_to"), col("is_current"))
    // Row existence on each side of the full-outer join is detected via
    // lit(true) marker columns, never via value/ts nullness: the tracked
    // value can legitimately be NULL (the <=> comparisons below are
    // null-safe for exactly that reason), so `valueCol IS NULL` would
    // silently drop a NULL-valued current row with no batch arrival and
    // leave it unclosed (duplicate open versions) when a change arrives.
    val cur = current.filter(col("is_current"))
      .withColumn("__hasCur", lit(true))
    val hist = current.filter(!col("is_current")).select(outCols: _*)
    val j = cur.join(b.withColumn("__hasNew", lit(true)),
      Seq(keyCol), "full_outer")
    val change = col("__hasNew").isNotNull && (col("__hasCur").isNull ||
      (!(col("__nv") <=> col(valueCol)) && col("__nt") > col("valid_from")))
    val keepCur = j
      .filter(col("__hasCur").isNotNull && (col("__hasNew").isNull ||
        (col("__nv") <=> col(valueCol)) || col("__nt") <= col("valid_from")))
      .select(outCols: _*)
    val closed = j.filter(change && col("__hasCur").isNotNull)
      .select(col(keyCol), col(valueCol), col("valid_from"),
        col("__nt").as("valid_to"), lit(false).as("is_current"))
    val tsType = current.schema("valid_to").dataType
    val opened = j.filter(change)
      .select(col(keyCol), col("__nv").as(valueCol),
        col("__nt").as("valid_from"),
        lit(null).cast(tsType).as("valid_to"), lit(true).as("is_current"))
    hist.unionByName(keepCur).unionByName(closed).unionByName(opened)
  }

  /** Snapshot diff report: added / removed / changed / unchanged row
    * counts between two pk-unique generations — the one-line answer to
    * "what did this load actually do", and the audit that catches a
    * full-reload masquerading as an increment (changed ≈ 0, removed ≈
    * n_old is the tell). Each side collapses to (pk, row-hash over the
    * data columns — the [[rowHash]] Python-str parity hash) so the
    * full-outer join ships key+hash width, never rows; the report is one
    * aggregate over it. Inputs must be pk-unique (dedup first — the
    * q07 keep-last convention). Data columns are the two schemas'
    * intersection minus the pk. Returns one row
    * (n_old, n_new, added, removed, changed, unchanged). */
  def diffReport(oldDf: DataFrame, newDf: DataFrame,
      pk: Seq[String]): DataFrame = {
    require(pk.nonEmpty, "need a primary key")
    val dataCols = oldDf.columns.filterNot(pk.contains)
      .intersect(newDf.columns).toSeq
    require(dataCols.nonEmpty, "no common non-pk columns to compare")
    val ha = oldDf.select(pk.map(col) :+
      rowHash(oldDf, dataCols).as("__ho"): _*)
    val hb = newDf.select(pk.map(col) :+
      rowHash(newDf, dataCols).as("__hn"): _*)
    ha.join(hb, pk, "full_outer").agg(
      sum(when(col("__ho").isNotNull, 1L).otherwise(0L)).as("n_old"),
      sum(when(col("__hn").isNotNull, 1L).otherwise(0L)).as("n_new"),
      sum(when(col("__ho").isNull, 1L).otherwise(0L)).as("added"),
      sum(when(col("__hn").isNull, 1L).otherwise(0L)).as("removed"),
      sum(when(col("__ho").isNotNull && col("__hn").isNotNull &&
        col("__ho") =!= col("__hn"), 1L).otherwise(0L)).as("changed"),
      sum(when(col("__ho").isNotNull && col("__hn").isNotNull &&
        col("__ho") === col("__hn"), 1L).otherwise(0L)).as("unchanged"))
  }
}
