package graft.streaming

import graft.operators.{Snapshot, SnapshotStore}
import graft.singer.SingerWriter
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface.
  *
  * The reference is batch-only (SURVEY §2.10): incrementality = snapshot
  * files per run. The streaming-native generalization keeps the same
  * operator semantics under a `readStream`:
  *
  *  - `streamingUpsert`: the snapshot-merge operator inside `foreachBatch`
  *    — each micro-batch merges into the persistent snapshot store exactly
  *    like a batch run, so batch and streaming share one code path (and
  *    one on-disk layout).
  *  - `streamingIngest`: any persistent similarity index's `ingest`
  *    inside `foreachBatch` — the same probe-then-index path per batch.
  *  - `windowedCounts` / `windowedAgg`: event-time windows + watermark for
  *    late data.
  *  - `dedupStream`: exact streaming dedup via `dropDuplicates` bounded by
  *    a watermark (state is evicted once events age out).
  *  - `sessionize`: custom per-key state with flatMapGroupsWithState
  *    (session windows with an inactivity gap).
  */
object Streaming {

  /** Micro-batch snapshot upsert: every batch merges by pk into the store
    * (keep-last wins within and across batches). The store stays readable
    * by batch jobs — one state layout for both modes. */
  def streamingUpsert(
      stream: DataFrame,
      store: SnapshotStore,
      name: String,
      pk: Seq[String]): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          Snapshot.snapshotRecords(store, name, batch, pk): Unit
      }

  /** Micro-batch ingest into a persistent similarity index: every
    * non-empty batch goes through `ingest` — e.g.
    * `idx.ingest(_, "doc_id", "text")` of a [[graft.operators.NearDupIndex]],
    * [[graft.operators.FuzzyIndex]], [[graft.operators.HammingIndex]],
    * [[graft.operators.SpanIndex]], [[graft.operators.VectorIndex]] or
    * [[graft.operators.ErIndex]] — which probes the batch against
    * EVERYTHING ever ingested and indexes it, and its result (the
    * verified-novel rows, or ErIndex's cluster assignment) goes to
    * `onOut`. Restart-safe because every index's ingest is: a reprocessed
    * batch matches its own indexed copy and yields no novel rows (see
    * each index's ingest caveats). A [[graft.operators.VectorIndex]] must
    * be initialized before the stream starts (frozen-centroid contract). */
  def streamingIngest(stream: DataFrame)(ingest: DataFrame => DataFrame)(
      onOut: DataFrame => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          onOut(ingest(batch))
      }

  /** Event-time tumbling-window counts with late-data watermark. */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      windowLen: String,
      watermark: String,
      keyCols: Seq[String] = Nil): DataFrame = {
    val keyed = events.withWatermark(tsCol, watermark)
      .groupBy((window(col(tsCol), windowLen) +: keyCols.map(col)): _*)
    keyed.agg(count(lit(1)).as("n"))
      .select((Seq(col("window.start").as("window_start"),
        col("window.end").as("window_end")) ++ keyCols.map(col) :+ col("n")): _*)
  }

  /** Stream–stream event-time INTERVAL join (attribution): every left
    * event pairs with the right events sharing its key whose timestamp
    * falls in [left.ts + lowerSec, left.ts + upperSec] — "clicks within
    * 10 minutes of the impression". Both sides carry watermarks, and the
    * time-range predicate bounds the join state Spark must hold (without
    * it a stream–stream inner join buffers forever). Columns from each
    * side are prefixed `l_`/`r_` (minus the join key). */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      lowerSec: Long,
      upperSec: Long,
      watermark: String): DataFrame = {
    require(lowerSec <= upperSec, s"need lowerSec <= upperSec, got [$lowerSec, $upperSec]")
    val l = left.columns.foldLeft(left)((d, c) => d.withColumnRenamed(c, s"l_$c"))
      .withWatermark(s"l_$tsCol", watermark)
    val r = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"r_$c"))
      .withWatermark(s"r_$tsCol", watermark)
    l.join(r,
      col(s"l_$keyCol") === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(s"l_$tsCol") + expr(s"INTERVAL $lowerSec SECONDS") &&
        col(s"r_$tsCol") <= col(s"l_$tsCol") + expr(s"INTERVAL $upperSec SECONDS"))
      .drop(s"r_$keyCol")
      .withColumnRenamed(s"l_$keyCol", keyCol)
  }

  /** Watermark-bounded exact dedup on a key (state evicted as time moves). */
  def dedupStream(events: DataFrame, tsCol: String, watermark: String, keys: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  case class SessionState(start: Long, lastSeen: Long, count: Long)
  case class SessionOut(key: Long, start: java.sql.Timestamp, end: java.sql.Timestamp, events: Long)

  /** Session windows via custom keyed state: a session closes once the
    * event-time watermark passes `lastSeen + gapMs` (event-time timeout —
    * deterministic under replay, unlike wall-clock timeouts). Demonstrates
    * the flatMapGroupsWithState escape hatch for semantics the built-in
    * window functions can't express. */
  def sessionize(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      gapMs: Long,
      watermark: String = "10 seconds"): org.apache.spark.sql.Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col(keyCol).cast("long").as("k"), col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, rows: Iterator[(Long, java.sql.Timestamp)], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(key, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.lastSeen), s.count))
          } else {
            val times = rows.map(_._2.getTime).toSeq
            val prev = state.getOption
            val start = prev.map(_.start).getOrElse(times.min)
            val last = math.max(prev.map(_.lastSeen).getOrElse(Long.MinValue), times.max)
            state.update(SessionState(start, last, prev.map(_.count).getOrElse(0L) + times.size))
            // a late event can put last+gap at or behind the watermark,
            // where setTimeoutTimestamp throws and kills the query — clamp
            // forward so the stale session times out on the next batch
            val wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(math.max(last + gapMs, wm + 1))
            Iterator.empty
          }
      }
  }

  /** Stream → Singer NDJSON: every micro-batch appends to one singer file
    * through the batch writer, so each batch gets its own SCHEMA header
    * (matching the reference's per-call write_schema — schema evolution
    * across batches stays self-describing), RECORD lines, and a STATE
    * bookmark marking the batch boundary.
    *
    * Replay guard: the last appended batchId is recorded in a
    * `<path>.batchid` sidecar, and a batch is skipped ONLY when its id
    * EQUALS the recorded one — the checkpoint-recovery case where the
    * in-flight batch is re-delivered. An equality (not `<=`) check means a
    * NEW query writing to the same path (fresh checkpoint, ids restarting
    * at 0) is never silently dropped; the worst case is duplication, never
    * loss. The append is not atomic with the sidecar update, so a crash
    * inside the append can still leave a torn batch — net semantics are
    * at-least-once with duplicates confined to one batch; dedupe
    * downstream by pk if exactly-once matters.
    *
    * The sidecar itself is written temp-file + ATOMIC_MOVE and parsed
    * tolerantly: a corrupt/empty marker (crash mid-write on a filesystem
    * without atomic rename) reads as "no marker" (-1), so the worst case
    * is one duplicated batch — consistent with the at-least-once contract
    * — never a permanently wedged stream throwing NumberFormatException
    * on every restart. */
  def streamingSinger(
      stream: DataFrame,
      streamName: String,
      path: String,
      keyProperties: Seq[String] = Nil,
      // reference-default nulls, matching Exporter.toSinger — a record
      // must serialize identically whether it arrived by batch or stream
      nullMode: SingerWriter.NullMode = SingerWriter.NullMode.DropTopLevel)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val marker = java.nio.file.Paths.get(path + ".batchid")
        val lastDone =
          if (java.nio.file.Files.exists(marker))
            scala.util.Try(
              new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim.toLong
            ).getOrElse(-1L)
          else -1L
        // an empty batch writes nothing (no emptiness probe: the writer
        // opens the file only once a record is in hand) and leaves the
        // marker as it was
        if (batchId != lastDone &&
            SingerWriter.writeNonEmpty(batch, streamName, path, keyProperties, nullMode)) {
          val tmp = java.nio.file.Paths.get(
            path + s".batchid.tmp-${java.util.UUID.randomUUID()}")
          java.nio.file.Files.write(tmp, batchId.toString.getBytes("UTF-8"))
          java.nio.file.Files.move(tmp, marker,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          ()
        }
      }

  /** Micro-batch Count-Min-sketch ingest: sketch each batch's term counts
    * and MERGE into the persisted sketch — the sketch is a counter grid,
    * so the merge is an exact cell-wise sum and the persisted state stays
    * ≤ depth·width rows FOREVER, regardless of how much text streams
    * through (the streaming heavy-hitter tracker: probe the store with
    * [[graft.operators.Sketches.cmsEstimate]] at any time).
    *
    * Committed through [[versionedIngest]], whose replay guard matters
    * most here: double-counting a batch would overestimate — the one CMS
    * failure mode with no self-correction; a fresh query restarting ids
    * at 0 is never silently dropped. */
  def streamingCmsIngest(
      stream: DataFrame,
      textCol: String,
      depth: Int,
      width: Int,
      dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    versionedIngest(stream, dir) { batch =>
      graft.operators.Sketches.cmsSketch(
        graft.operators.Sketches.termCounts(batch, textCol),
        "term", "cnt", depth, width)
    } { (prior, bs) =>
      prior.unionByName(bs).groupBy("row", "bucket").agg(sum("cnt").as("cnt"))
    }

  /** Micro-batch incremental bottom-k (KMV) sample: every batch's rows
    * enter the min-k lattice — keep the k smallest md5-priorities ever
    * seen — so the persisted frame is always a valid uniform sample of
    * EVERYTHING ingested (quantile estimates via
    * [[graft.operators.Sketches.kmvQuantiles]]; the streaming cell of
    * the sketch matrix: counts→CMS, distinct→HLL, column stats→profile,
    * quantiles→THIS). Priorities are a pure function of (id, seed), so
    * the merge is IDEMPOTENT by construction — a redelivered batch
    * re-offers the same priorities and changes nothing — but the replay
    * guard still skips duplicate batchIds (one write, not a no-op
    * rewrite). State is ≤ k rows forever; the merge is a ≤ (k + batch)
    * sort-limit. Same versioned-dir + atomic-pointer layout as the
    * other ingests. */
  def streamingKmvIngest(
      stream: DataFrame,
      idCol: String,
      valueCol: String,
      k: Int,
      seed: Long,
      dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    versionedIngest(stream, dir) { batch =>
      graft.operators.Sketches.kmvSample(
        batch.select(col(idCol).as("id"),
          col(valueCol).cast("double").as("value")),
        "id", "value", k, seed)
    } { (prior, bs) =>
      graft.operators.Sketches.kmvMergeSamples(Seq(prior, bs), "id", k)
    }

  /** Micro-batch incremental preference-pair counts: each batch's
    * (winner, loser) duel counts merge into a persisted
    * pair-cardinality frame — exactly the state
    * [[graft.operators.Training.bradleyTerryFromCounts]] refits from,
    * kept current without ever rescanning the duel history (pair counts
    * are a plain mergeable sum). Counter merges are NOT idempotent, so
    * the CMS replay guard applies: a redelivered batchId is skipped.
    * Self-pairs are dropped at ingest (they carry no information and
    * would only bloat the state). Same versioned-dir + atomic-pointer
    * layout as the other ingests. */
  def streamingPreferenceIngest(
      stream: DataFrame,
      winnerCol: String,
      loserCol: String,
      dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    versionedIngest(stream, dir) { batch =>
      batch
        .select(col(winnerCol).cast("string").as("w"),
          col(loserCol).cast("string").as("l"))
        .filter(col("w") =!= col("l"))
        .groupBy("w", "l").agg(count(lit(1)).as("c"))
    } { (prior, bs) =>
      prior.unionByName(bs).groupBy("w", "l").agg(sum("c").as("c"))
    }

  /** Micro-batch incremental table profile: each batch's MERGEABLE
    * per-column stats ([[graft.operators.Profiling.profileStats]] —
    * counts/nulls sum, mins/maxs fold, length sums add) merge into a
    * persisted column-count-sized frame — "live data-quality dashboard
    * over the ingest" without ever rescanning history. Distinct counts
    * are deliberately absent (not mergeable exactly; pair with
    * [[streamingHllIngest]]). Counter merges are NOT idempotent, so the
    * CMS replay guard applies: a redelivered batchId is skipped. Same
    * versioned-dir + atomic-pointer layout as the other ingests. */
  def streamingProfileIngest(
      stream: DataFrame,
      cols: Seq[String],
      dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    versionedIngest(stream, dir) { batch =>
      graft.operators.Profiling.profileStats(batch, cols)
    } { (prior, bs) =>
      graft.operators.Profiling.mergeProfileStats(Seq(prior, bs))
    }

  /** Micro-batch HyperLogLog ingest: batch registers MERGE into the
    * persisted register frame by cell-wise MAX — unlike the CMS counter
    * grid, max-merge is IDEMPOTENT, so a redelivered batch cannot corrupt
    * the sketch; the replay guard here only saves wasted work. State stays
    * ≤ m rows per group forever; estimate any time with
    * [[graft.operators.Sketches.hllEstimateFromRegisters]]. Same
    * versioned-dir + atomic-pointer layout as the CMS ingest. */
  def streamingHllIngest(
      stream: DataFrame,
      valueCol: String,
      m: Int,
      dir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    versionedIngest(stream, dir) { batch =>
      graft.operators.Sketches.hllRegisters(batch, Seq.empty, valueCol, m)
    } { (prior, bs) =>
      prior.unionByName(bs).groupBy("bucket").agg(max("M").as("M"))
    }

  /** The versioned-state commit behind the sketch ingests. Per micro-batch:
    * `summarize` the batch, `merge` it into the persisted state, write the
    * result to a fresh `v<batchId>` parquet dir, repoint `LATEST` by an
    * atomic create, temp file + rename (readers never observe a
    * half-written state; a crash before the repoint leaves the previous
    * version live), then
    * prune superseded versions best-effort. Replay guard as in
    * [[streamingSinger]]: a batch id EQUAL to the committed one is the
    * checkpoint-recovery redelivery and is skipped. The pointer, the
    * listing and the prune go through `dir`'s Hadoop file system (Spark's
    * checkpoint file manager, whose atomic create is its offset log's),
    * the same one Spark writes `v<batchId>` through. */
  private def versionedIngest(stream: DataFrame, dir: String)(
      summarize: DataFrame => DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val fm = fileManager(batch.sparkSession, dir)
        val (prior, lastId) = readVersioned(batch.sparkSession, dir)
        if (batchId != lastId && !batch.isEmpty) {
          val bs = summarize(batch)
          val merged = prior.fold(bs)(merge(_, bs))
          merged.coalesce(1).write.mode("overwrite").parquet(s"$dir/v$batchId")
          val out = fm.createAtomic(new Path(dir, "LATEST"), overwriteIfPossible = true)
          try out.write(batchId.toString.getBytes(UTF_8))
          catch { case e: Throwable => out.cancel(); throw e }
          out.close()
          fm.list(new Path(dir)).foreach { f =>
            val name = f.getPath.getName
            if (f.isDirectory && name.startsWith("v") && name != s"v$batchId")
              scala.util.Try(fm.delete(f.getPath)): Unit
          }
        }
      }

  private def fileManager(spark: SparkSession, dir: String): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir), spark.sparkContext.hadoopConfiguration)

  /** The persisted sketch behind [[streamingCmsIngest]] (None before the
    * first committed batch), plus the committed batch id. Reads through
    * the LATEST pointer; a corrupt/missing pointer reads as "no sketch"
    * (the ingest then treats the next batch as the first — consistent
    * with the at-least-once contract). */
  def readVersioned(spark: SparkSession, dir: String): (Option[DataFrame], Long) = {
    val fm = fileManager(spark, dir)
    val marker = new Path(dir, "LATEST")
    if (!fm.exists(marker)) (None, -1L)
    else scala.util.Try {
      val in = fm.open(marker)
      val id = try new String(in.readAllBytes(), UTF_8).trim.toLong finally in.close()
      (Some(spark.read.parquet(s"$dir/v$id")), id)
    }.getOrElse((None, -1L))
  }

  /** Read a directory of parquet as a stream (one file per micro-batch by
    * default) — the streaming analogue of the GsReader directory scan. */
  def readParquetStream(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Run a streaming query to completion of available data (test helper /
    * batch-catchup mode). */
  def runAvailableNow(w: DataStreamWriter[org.apache.spark.sql.Row], checkpoint: String): StreamingQuery = {
    val q = w.option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}
