package graft.operators

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Partitioned snapshot store: merge-on-write that only touches the
  * pk-hash buckets the delta lands in, with a crash-safe
  * generation + manifest commit protocol.
  *
  * The reference rewrites the whole snapshot file per run
  * (etl_utils.py:180-191) — fine at 50k rows, impossible at 100 TB. Here
  * the snapshot is a set of immutable parquet "generation" directories
  * hash-partitioned on `pmod(hash(pk), numBuckets)`, stitched together by
  * a versioned manifest:
  *
  * {{{
  * <dir>/<name>.snapshot.bucketed/
  *   manifest-000000000003        # bucket -> generation, one line each
  *   gen-<uuid-a>/__gs_bucket=0/  # immutable once a manifest names it
  *   gen-<uuid-b>/__gs_bucket=7/
  * }}}
  *
  *  - upsert reads ONLY the buckets present in the incoming batch
  *    (partition pruning on the bucket column within each generation —
  *    untouched buckets are never scanned, never rewritten);
  *  - the merge keeps the last arrival per pk (delta beats snapshot,
  *    batch-internal dups keep-last), computed as delta-side dedup + a
  *    size-gated broadcast ANTI-join — the touched rows stream through
  *    it; the only exchange they cross is the write's bucket repartition;
  *  - the merged touched buckets land in a NEW generation directory —
  *    existing data is never overwritten, so the read-your-own-input
  *    hazard of dynamic partition overwrite is gone;
  *  - the commit point is a single file create: `manifest-<n+1>` (staged
  *    to a dot-tmp, renamed into a path that does not yet exist — atomic
  *    on HDFS and POSIX). A crash before it leaves `manifest-<n>` intact
  *    and only unreferenced garbage behind; a crash after it leaves the
  *    new snapshot fully committed. Readers always resolve the
  *    highest-numbered manifest, so they never observe a partial commit;
  *  - every write is a stage, then a commit: the stage discovers the
  *    touched buckets (one job, no exchange) and writes the generation;
  *    the commit flips the manifest, collects garbage and, for an upsert,
  *    runs the auto-compact policy. A caller holding two stages (the two
  *    tables of a [[PostingsIndex]]) stages them at once and commits them
  *    in the order its crash rule needs. A generation carries no
  *    `_SUCCESS` marker: it becomes visible only through the manifest;
  *  - garbage (superseded manifests and generations) is deleted AFTER
  *    commit and re-collected opportunistically on the next write, so a
  *    crash mid-GC only wastes space, never data. Orphans no manifest
  *    names (a crashed or losing writer's staging) are collected only
  *    once older than `OrphanGraceMs`: younger ones may be a concurrent
  *    writer's generation in flight;
  *  - GC retains the last `keepManifests` manifests AND the generations
  *    they reference (grace window), so a concurrent reader that resolved
  *    the previous manifest survives a commit landing mid-scan; long scans
  *    pin explicitly via `manifestVersion` + `readAt`.
  *
  * Designed single-writer, like the reference's snapshot lock protocol
  * (snapshot_lock.py:13-47); concurrent readers never observe a torn
  * commit, and the retention window above closes the reader-vs-GC race.
  * Two racing writers are safe but not both served: the one whose
  * manifest rename lands second fails with an IllegalStateException and
  * commits nothing.
  *
  * With numBuckets sized so a bucket fits an executor (e.g. 65536 buckets
  * for a 100 TB snapshot → ~1.6 GB/bucket), a 0.1% delta touches ~0.1% of
  * the data.
  */
class BucketedSnapshotStore(
    spark: SparkSession,
    dir: String,
    numBuckets: Int = 64,
    keepManifests: Int = 2,
    autoCompactGenerations: Int = 0,
    keyBloomFpp: Double = 0.0,
    bucketPrefixLen: Int = 0) {
  require(keepManifests >= 1, s"keepManifests must be >= 1, got $keepManifests")
  require(autoCompactGenerations >= 0,
    s"autoCompactGenerations must be >= 0, got $autoCompactGenerations")
  require(keyBloomFpp >= 0 && keyBloomFpp < 1,
    s"keyBloomFpp must be in [0,1), got $keyBloomFpp")

  private val BucketCol = "__gs_bucket"
  /** Age after which a generation or staged manifest that no retained
    * manifest names is garbage rather than a concurrent writer's work in
    * flight — longer than any one generation write. */
  private val OrphanGraceMs = 60L * 60 * 1000

  def path(name: String): Path = new Path(dir, s"$name.snapshot.bucketed")
  private def fs: FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Crash-injection seams for the spec: overridden to throw, simulating a
    * failure just before / just after the manifest commit point. */
  protected def beforeCommitHook(): Unit = ()
  protected def afterCommitHook(): Unit = ()

  /** An EMPTY committed snapshot (zero buckets — e.g. `write` of an empty
    * frame) reports false, keeping the `exists → read.get` pairing total:
    * a zero-entry manifest has no data files to recover a schema from, so
    * read() would return None. Upsert treats such a store as fresh. */
  def exists(name: String): Boolean =
    readManifest(path(name)).exists(_._2.nonEmpty)

  /** Bucket routing. With `bucketPrefixLen = 0` (the default) the bucket is
    * hash(full pk). A positive value buckets on only the first N pk
    * columns, which lets SECONDARY-KEY probes prune buckets while the full
    * pk still defines row identity — e.g. an LSH band index keyed
    * (band, band_hash, doc_id) but bucketed (band, band_hash), so a probe
    * by band key reads only the colliding buckets ([[NearDupIndex]]). All
    * store invariants survive because equal pks imply equal prefixes: the
    * per-bucket upsert merge and compact's keep-last dedup still see every
    * row of a pk in one bucket. Callers of [[readForKeys]] on a
    * prefix-bucketed table may pass just the prefix columns as `pk`. Like
    * `numBuckets`, the value is part of the on-disk contract: reopen the
    * store with the same setting. */
  private def bucketOf(pk: Seq[String]) = {
    val cols = if (bucketPrefixLen <= 0) pk else pk.take(bucketPrefixLen)
    pmod(hash(cols.map(col): _*), lit(numBuckets))
  }

  // ---- manifest io -------------------------------------------------------

  private def allManifests(root: Path): IndexedSeq[(Long, Path)] =
    if (!fs.exists(root)) IndexedSeq.empty
    else fs.listStatus(root).toIndexedSeq.map(_.getPath)
      .filter(_.getName.startsWith("manifest-"))
      .flatMap(p => scala.util.Try(p.getName.stripPrefix("manifest-").toLong)
        .toOption.map(_ -> p))
      .sortBy(_._1)

  private def latestManifest(root: Path): Option[(Long, Path)] =
    allManifests(root).lastOption

  private def readManifestAt(p: Path): (Long, Map[Int, String]) = {
    val in = fs.open(p)
    val content =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val m = content.split("\n").iterator.filter(_.nonEmpty).map { line =>
      val i = line.indexOf('\t')
      line.take(i).toInt -> line.drop(i + 1)
    }.toMap
    (p.getName.stripPrefix("manifest-").toLong, m)
  }

  private def readManifest(root: Path): Option[(Long, Map[Int, String])] =
    latestManifest(root).map { case (_, p) => readManifestAt(p) }

  /** Stage to a dot-tmp, rename into a not-yet-existing versioned path —
    * the rename IS the commit point. */
  private def writeManifest(root: Path, version: Long, entries: Map[Int, String]): Unit = {
    val tmp = new Path(root, s".manifest-tmp-${UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(entries.toSeq.sortBy(_._1)
      .map { case (b, g) => s"$b\t$g" }.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val dest = new Path(root, f"manifest-$version%012d")
    if (!fs.rename(tmp, dest)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"manifest commit failed: $dest already exists")
    }
  }

  /** Delete superseded manifests and the generations only they reference,
    * RETAINING the latest `keepManifests` manifests and everything they
    * name — the GC grace window. A concurrent reader that resolved the
    * previous manifest just before a commit can finish its scan: the
    * generations it is reading stay on disk until `keepManifests - 1`
    * further commits land (readers needing longer pins call
    * `readAt`/`manifestVersion` and size `keepManifests` to their scan
    * time × write rate). Safe to crash anywhere in here: everything
    * deleted is unreferenced by the retained manifests, and leftovers are
    * orphans, collected once older than `OrphanGraceMs`. */
  private def gc(root: Path): Unit = {
    val manifests = allManifests(root)
    val (expired, retained) = manifests.splitAt(manifests.size - keepManifests)
    // a concurrent writer's GC may delete manifests under us: an expired
    // one gone is its work done; a retained one gone means it has a newer
    // view, so the collection is left to it
    def gens(ms: Seq[(Long, Path)]): Option[Set[String]] =
      scala.util.Try(ms.flatMap { case (_, p) => readManifestAt(p)._2.values }.toSet).toOption
    val live = gens(retained).getOrElse(return)
    val superseded = expired.flatMap(m => gens(Seq(m)).getOrElse(Set.empty[String])).toSet -- live
    val orphanedBefore = System.currentTimeMillis() - OrphanGraceMs
    expired.foreach { case (_, p) => fs.delete(p, false) }
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      val orphan = st.getModificationTime < orphanedBefore &&
        ((n.startsWith("gen-") && !live.contains(n)) || n.startsWith(".manifest-tmp-"))
      if (superseded.contains(n) || orphan) fs.delete(st.getPath, true)
    }
  }

  // ---- reads -------------------------------------------------------------

  /** Union of per-generation reads restricted to the given buckets (or all
    * manifest buckets when `buckets` is None). Partition pruning applies
    * within each generation; `unionByName(allowMissingColumns)` aligns
    * schema evolution across generations. */
  private def readBuckets(root: Path, m: Map[Int, String],
      buckets: Option[Seq[Int]]): Option[DataFrame] = {
    val wanted = buckets.getOrElse(m.keys.toSeq)
    val byGen = wanted.flatMap(b => m.get(b).map(_ -> b))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val parts = byGen.toSeq.sortBy(_._1).map { case (gen, bs) =>
      // pass the (cached) generation schema so the reader skips its
      // footer-inference pass; partition discovery appends BucketCol
      spark.read.schema(generationDataSchema(root, gen))
        .parquet(new Path(root, gen).toString)
        .filter(col(BucketCol).isin(bs.map(Integer.valueOf): _*))
    }
    parts.reduceOption(_.unionByName(_, allowMissingColumns = true))
  }

  /** Full snapshot (all buckets), bucket column dropped. */
  def read(name: String): Option[DataFrame] = {
    val root = path(name)
    readManifest(root).flatMap { case (_, m) =>
      readBuckets(root, m, None).map(_.drop(BucketCol))
    }
  }

  /** Number of distinct generations the current manifest references — the
    * per-read union fan-out (1 right after [[compact]]). Observability for
    * compaction policies. */
  def compactionFanout(name: String): Int =
    readManifest(path(name)).map(_._2.values.toSet.size).getOrElse(0)

  /** Version of the currently committed manifest — capture it, then scan
    * via `readAt` to pin a consistent view across concurrent commits (the
    * GC grace window retains the last `keepManifests` versions). */
  def manifestVersion(name: String): Option[Long] =
    latestManifest(path(name)).map(_._1)

  /** Read the snapshot as of a specific (retained) manifest version.
    * Throws if that version has aged out of the `keepManifests` window. */
  def readAt(name: String, version: Long): Option[DataFrame] = {
    val root = path(name)
    val p = new Path(root, f"manifest-$version%012d")
    if (!fs.exists(p))
      throw new IllegalStateException(
        s"manifest version $version of '$name' is gone (GC keeps the last " +
          s"$keepManifests); re-resolve with manifestVersion()")
    val (_, m) = readManifestAt(p)
    readBuckets(root, m, None).map(_.drop(BucketCol))
  }

  /** Data schema of one generation, resolved from a SINGLE bucket
    * subdirectory (one LIST of the generation dir + one footer read on the
    * driver, no job — NOT a full partition discovery over up to
    * `numBuckets` directories, which would cost seconds of object-store
    * LISTs per point lookup at the design scale). Generations are
    * immutable once a manifest names them, so the cache can never go
    * stale. */
  private val genSchemaCache =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.types.StructType]

  private def generationDataSchema(root: Path, gen: String) =
    genSchemaCache.getOrElseUpdate(s"$root/$gen", {
      val genPath = new Path(root, gen)
      val bucketDir = fs.listStatus(genPath).map(_.getPath)
        .filter(_.getName.startsWith(s"$BucketCol=")).sortBy(_.getName)
        .headOption.getOrElse(
          throw new IllegalStateException(s"generation $genPath has no bucket dirs"))
      SnapshotStore.footerSchema(fs, bucketDir)
        .getOrElse(spark.read.parquet(bucketDir.toString).schema)
    })

  /** `hash()` is type-sensitive (`hash(5L) != hash(5)`), so a pk column
    * whose dtype differs from the snapshot's prunes to the WRONG buckets
    * and silently drops rows. Enforce the contract against the committed
    * snapshot schema (cached single-footer read of the lowest-bucket
    * generation — deterministic under schema evolution across
    * generations): lossless numeric widenings are cast in place, anything
    * else throws. */
  private def alignPkTypes(df: DataFrame, pk: Seq[String], root: Path,
      m: Map[Int, String], what: String): DataFrame = {
    import org.apache.spark.sql.types._
    val snapSchema = m.toSeq.sortBy(_._1).headOption.map { case (_, gen) =>
      generationDataSchema(root, gen)
    }
    snapSchema.fold(df) { ss =>
      def widens(from: DataType, to: DataType): Boolean = (from, to) match {
        case (ByteType, ShortType | IntegerType | LongType) => true
        case (ShortType, IntegerType | LongType)            => true
        case (IntegerType, LongType)                        => true
        case (FloatType, DoubleType)                        => true
        case _                                              => false
      }
      pk.foldLeft(df) { (acc, c) =>
        val want = ss.find(_.name == c).map(_.dataType).getOrElse(
          throw new IllegalArgumentException(
            s"$what: pk column '$c' is absent from snapshot schema ${ss.simpleString}"))
        val have = acc.schema(c).dataType
        if (have == want) acc
        else if (widens(have, want)) acc.withColumn(c, col(c).cast(want))
        else throw new IllegalArgumentException(
          s"$what: pk column '$c' is ${have.simpleString} but the snapshot " +
            s"stores ${want.simpleString}; hash-bucketing is type-sensitive, " +
            s"so this probe would silently miss rows — cast the column first")
      }
    }
  }

  // ---- writes ------------------------------------------------------------

  private def writeGeneration(root: Path, df: DataFrame, pk: Seq[String],
      alreadyBucketed: Boolean): (String, Seq[Int]) = {
    val gen = s"gen-${UUID.randomUUID()}"
    val genPath = new Path(root, gen)
    val bucketed =
      if (alreadyBucketed) df else df.withColumn(BucketCol, bucketOf(pk))
    bucketed.repartition(col(BucketCol))
      .write.mode("errorifexists")
      .option("compression", "zstd")
      // level 1 ≈ half the encode CPU of the default 3 for ~2-4% larger
      // files — the right trade for a write-amplified merge-on-write
      // store (generations are rewritten on every touched-bucket upsert)
      .option("parquet.compression.codec.zstd.level", "1")
      // a generation is visible only through the manifest: no reader
      // looks for the committer's `_SUCCESS` marker
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .partitionBy(BucketCol)
      .parquet(genPath.toString)
    val written = fs.listStatus(genPath).toIndexedSeq.map(_.getPath.getName)
      .filter(_.startsWith(s"$BucketCol="))
      .map(_.stripPrefix(s"$BucketCol=").toInt)
    // prime the schema cache for the generation we just wrote: the data
    // files carry exactly these columns (partitionBy hoists BucketCol out
    // of the files), so the next alignPkTypes skips its footer-probe job
    genSchemaCache.put(s"$root/$gen", bucketed.drop(BucketCol).schema)
    if (keyBloomFpp > 0 && pk.nonEmpty) writeGenBlooms(root, gen, pk)
    (gen, written)
  }

  // ---- key-bloom sidecars (incremental-dedup fast path) ------------------

  /** Per-bucket Bloom sidecars for one generation, built from the files
    * just written (a read-back scan column-pruned to the pk — the delta's
    * upstream lineage is never recomputed) and stored under
    * `<gen>/_blooms/bucket-<i>.bloom`. The underscore prefix keeps the
    * dir invisible to parquet partition discovery, and living INSIDE the
    * generation dir gives the sidecars the generation's lifecycle for
    * free: immutable once the manifest commits, GC'd with it, and never
    * stale — an upsert merges a touched bucket's full history into the
    * new generation, so that generation's filter covers every committed
    * key of the bucket. Maintenance cost is therefore delta-proportional,
    * exactly like the data files.
    *
    * Filters collect through `toLocalIterator` (one bucket's bitmap at a
    * time), so driver memory is bounded by the largest single filter, not
    * the bank. Capacity is uniform per bucket (keys are murmur-bucketed
    * → near-uniform), sized 2× the mean with a floor; undersizing only
    * degrades the FP rate, never correctness. */
  private def writeGenBlooms(root: Path, gen: String, pk: Seq[String]): Unit = {
    import graft.functions.BloomAggregate
    import org.apache.spark.sql.graft.bridge
    val genPath = new Path(root, gen)
    val df = spark.read.schema(generationDataSchema(root, gen))
      .parquet(genPath.toString)
    val rows = df.count()
    if (rows == 0) return
    val bucketsTouched = math.max(1,
      fs.listStatus(genPath).count(_.getPath.getName.startsWith(s"$BucketCol=")))
    val cap = math.max(4096L, math.ceil(2.0 * rows / bucketsTouched).toLong)
    val hashed = df.select(col(BucketCol),
      xxhash64(pk.map(col): _*).as("__gs_h"))
    val agg = hashed.groupBy(col(BucketCol)).agg(bridge.column(
      BloomAggregate(bridge.expression(col("__gs_h")), cap, keyBloomFpp)
        .toAggregateExpression()).as("__gs_bloom"))
    val bloomDir = new Path(genPath, "_blooms")
    fs.mkdirs(bloomDir)
    val it = agg.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      val out = fs.create(new Path(bloomDir, s"bucket-${r.getInt(0)}.bloom"), true)
      try out.write(r.getAs[Array[Byte]](1)) finally out.close()
    }
  }

  /** bucket → sidecar path for every live manifest entry, or None if ANY
    * live bucket lacks one (e.g. generations written with blooms off, or
    * a `compact()` without pk) — the probe then falls back to the exact
    * path rather than risk a false "definitely new". One listing per
    * distinct generation, not per bucket. */
  private def bloomBank(root: Path, m: Map[Int, String]): Option[Map[Int, String]] = {
    val byGen = m.toSeq.groupBy(_._2)
    val acc = Map.newBuilder[Int, String]
    byGen.foreach { case (gen, entries) =>
      val bloomDir = new Path(new Path(root, gen), "_blooms")
      if (!fs.exists(bloomDir)) return None
      val present = fs.listStatus(bloomDir).map(_.getPath.getName).toSet
      entries.foreach { case (b, _) =>
        val f = s"bucket-$b.bloom"
        if (!present.contains(f)) return None
        acc += b -> new Path(bloomDir, f).toString
      }
    }
    Some(acc.result())
  }

  /** Initialize / replace the whole snapshot. Dedupes the input to one
    * row per pk (keep-last) so EVERY committed snapshot is pk-unique by
    * construction — the invariant the anti-join upsert merge relies on
    * (it removes overwritten keys but never collapses pre-existing
    * duplicates the way the old window merge incidentally did).
    * `assumeUniqueKeys = true` skips the dedup shuffle when the input is
    * known key-unique, same contract as [[upsert]]. */
  def write(name: String, df: DataFrame, pk: Seq[String],
      assumeUniqueKeys: Boolean = false): Unit =
    stageWrite(name, df, pk, assumeUniqueKeys)()

  private def stageWrite(name: String, df: DataFrame, pk: Seq[String],
      assumeUniqueKeys: Boolean): () => Long = {
    val root = path(name)
    fs.mkdirs(root)
    val ver = latestManifest(root).map(_._1).getOrElse(0L)
    val data = if (assumeUniqueKeys) df else Snapshot.dedupKeepLast(df, pk)
    val (gen, buckets) = writeGeneration(root, data, pk, alreadyBucketed = false)
    () => {
      commit(root, ver + 1, buckets.map(_ -> gen).toMap)
      buckets.length.toLong
    }
  }

  /** The commit point shared by every write: flip the manifest to
    * `version`, then collect garbage. */
  private def commit(root: Path, version: Long, entries: Map[Int, String]): Unit = {
    beforeCommitHook()
    writeManifest(root, version, entries)
    afterCommitHook()
    gc(root)
  }

  /** Merge-by-pk upsert touching only the delta's buckets. Returns the
    * count of rewritten buckets (for observability).
    *
    * `assumeUniqueKeys = true` skips the batch-internal keep-last dedup
    * (one delta-sized window shuffle) — pass it ONLY when the incoming
    * batch is known key-unique (the common CDC-extract case); with
    * duplicate pks it would commit duplicate rows, like
    * [[Dedup.exactDedup]]'s `assumeUniqueOrder` contract. */
  def upsert(name: String, incoming: DataFrame, pk: Seq[String],
      assumeUniqueKeys: Boolean = false): Long =
    stage(name, incoming, pk, assumeUniqueKeys)()

  /** The write half of [[upsert]]: discover the touched buckets and write
    * the merged generation, committing nothing. The returned thunk is the
    * commit half (manifest flip, GC, auto-compact) and returns the count
    * of rewritten buckets. A stage whose thunk never runs leaves an orphan
    * generation, collected once older than `OrphanGraceMs`. On a store
    * with no committed bucket the stage is that of [[write]]. */
  private[operators] def stage(name: String, incoming: DataFrame, pk: Seq[String],
      assumeUniqueKeys: Boolean): () => Long = {
    val root = path(name)
    val manifest = readManifest(root)
    if (manifest.forall(_._2.isEmpty))
      return stageWrite(name, incoming, pk, assumeUniqueKeys)
    val (ver, m) = manifest.get
    val aligned = alignPkTypes(incoming, pk, root, m, "upsert")
    // the delta drives THREE consumers (touched-bucket discovery, the
    // anti-join key set, the merge union) — dedupe it once (keep-last
    // within the batch) and pin it so the incoming lineage is not
    // recomputed per consumer. localCheckpoint rather than cache: it
    // also TRUNCATES the lineage, so the consumer plans analyze against
    // a short scan instead of re-optimizing the full incoming query per
    // consumer. LAZY (eager = false): the touched-bucket job right below
    // is the first action and materializes it — an eager checkpoint
    // would pay one extra full delta pass just to then run that job
    // against the blocks.
    val deduped = if (assumeUniqueKeys) aligned else Snapshot.dedupKeepLast(aligned, pk)
    val bucketed = deduped
      .withColumn(BucketCol, bucketOf(pk))
      .localCheckpoint(false)
    try {
      val (touched, rows) = touchedBuckets(bucketed, col(BucketCol))
      if (touched.isEmpty) return () => 0L
      // partition pruning: only the touched bucket directories are scanned
      val existing = readBuckets(root, m, Some(touched)).getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], bucketed.schema))
      // keep-last merge as an ANTI-JOIN: existing rows whose pk the delta
      // overwrites drop; the deduped delta wins. Value-identical to the
      // old (__src, __arr) window ranking GIVEN the store's pk-unique
      // invariant (write() establishes it, this merge preserves it —
      // unlike the old window, this never heals duplicates that bypassed
      // write(), so the invariant lives there, not here). The
      // touched-bucket rows STREAM through a (size-gated) broadcast
      // anti-join instead of paying a full shuffle + sort by pk — the
      // write's bucket repartition is then the only exchange the merged
      // data crosses. Null-safe equality preserves the window's null-pk
      // grouping. The delta is pk-unique, so its keys need no dedupe.
      val deltaKeys = bucketed.select(pk.map(col): _*)
      val cond = pk.map(c => existing(c) <=> deltaKeys(c)).reduce(_ && _)
      val winner = existing
        .join(Ops.broadcastIfSmall(deltaKeys, Some(rows)), cond, "left_anti")
        .unionByName(bucketed, allowMissingColumns = true)
      // stage the merged touched buckets into a fresh generation — the
      // generations being read stay untouched until the manifest flips
      val (gen, _) = writeGeneration(root, winner, pk, alreadyBucketed = true)
      () => {
        commit(root, ver + 1, m ++ touched.map(_ -> gen))
        // optional maintenance policy: once the manifest references more
        // than `autoCompactGenerations` generations, fold them back into
        // one — the amortized cost of keeping read fan-out bounded
        // without a scheduler
        if (autoCompactGenerations > 0 &&
            readManifest(root).exists(_._2.values.toSet.size > autoCompactGenerations))
          compact(name, pk) // pk → also heals legacy pre-invariant duplicates
        touched.length.toLong
      }
    } finally bucketed.unpersist(blocking = false)
  }

  /** Rewrite every live bucket into ONE fresh generation under the same
    * commit protocol (new generation → manifest flip → GC). Deep upsert
    * history leaves the manifest referencing up to `numBuckets` distinct
    * generations, and every read unions one pruned scan per referenced
    * generation — compaction collapses that fan-out back to a single
    * scan. O(snapshot) I/O like the reference's whole-file rewrite
    * (etl_utils.py:180-191), but only when invoked; upserts stay
    * delta-proportional. Returns the number of generations collapsed.
    *
    * Passing `pk` additionally heals LEGACY duplicate keys: snapshots
    * committed before write() enforced the pk-unique invariant can carry
    * duplicate pks that the old window merge silently collapsed on upsert
    * but the anti-join merge preserves forever — folding generations is
    * the natural point to dedup them once (keep-last). Same-pk rows share
    * a bucket by construction (bucket = hash(pk)), so the dedup never
    * moves rows across buckets. */
  def compact(name: String, pk: Seq[String] = Nil): Int = {
    val root = path(name)
    val manifest = readManifest(root)
    if (manifest.forall(_._2.isEmpty)) return 0
    val (ver, m) = manifest.get
    val liveGens = m.values.toSet.size
    if (liveGens <= 1 && pk.isEmpty) return liveGens
    // readBuckets keeps the bucket column, so rows land in their existing
    // buckets unchanged (alreadyBucketed) — no re-hash needed
    val full0 = readBuckets(root, m, None).get
    val full = if (pk.isEmpty) full0 else Snapshot.dedupKeepLast(full0, pk)
    // pk flows through so the folded generation regains its bloom sidecars
    // (a pk-less compact produces a bloomless generation → the
    // incrementalNew fast path falls back until the next pk-ed write)
    val (gen, buckets) = writeGeneration(root, full, pk, alreadyBucketed = true)
    commit(root, ver + 1, buckets.map(_ -> gen).toMap)
    liveGens
  }

  /** Targeted deletion (the right-to-be-forgotten primitive): remove every
    * committed row whose `keyCols` tuple appears in `keys0`, under the
    * same generation + manifest commit protocol as upsert — crash-safe,
    * delta-proportional, and readers never observe a torn state.
    *
    * `keyCols` need NOT be the pk: an RTBF request arrives as raw ids
    * (e.g. `doc_id`) while an index cell is keyed (band, band_hash,
    * doc_id). Bucket handling follows from what's in `keyCols`:
    *   - if the bucket-hash columns (pk, or the pk prefix under
    *     `bucketPrefixLen`) are all present, discovery prunes to the
    *     buckets the keys hash into (point-delete cost);
    *   - otherwise discovery scans all buckets (one column-pruned pass)
    *     but REWRITES only the buckets that actually contain matches —
    *     I/O stays proportional to the affected data, which is the bound
    *     that matters at 100 TB (the full scan is the unavoidable price
    *     of deleting by a non-bucketed column; route deletions through
    *     the bucketed key when the caller has it).
    *
    * A bucket whose rows are ALL deleted is dropped from the manifest
    * entirely (not pointed at an empty generation), so the bloom-sidecar
    * invariant and `exists` semantics survive. Sidecars for rewritten
    * buckets are rebuilt by the generation write itself — a re-ingested
    * forgotten key is genuinely "never seen" again, which is exactly what
    * RTBF + incremental-dedup composition requires.
    *
    * Null-safe matching (`<=>`), like the upsert merge. Returns the
    * number of rows deleted. */
  def delete(name: String, keys0: DataFrame, keyCols: Seq[String],
      pk: Seq[String]): Long = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val root = path(name)
    val manifest = readManifest(root)
    if (manifest.forall(_._2.isEmpty)) return 0L
    val (ver, m) = manifest.get
    // only semi and anti joins consume the keys: duplicates are harmless
    val keys = alignPkTypes(keys0.select(keyCols.map(col): _*), keyCols, root, m,
      "delete").localCheckpoint(false)
    val bucketCols = if (bucketPrefixLen <= 0) pk else pk.take(bucketPrefixLen)
    val prunable = bucketCols.nonEmpty && bucketCols.forall(keyCols.contains)
    // prunable: the discovery pass also yields the exact key count for
    // the broadcast gate; otherwise the gate falls back to the estimate
    val (candidate, rows) =
      if (prunable) {
        val (touched, n) = touchedBuckets(keys, bucketOf(pk))
        (Some(touched), Some(n))
      } else (None, None)
    val live = readBuckets(root, m, candidate).getOrElse(return 0L)
    def matchCond(l: DataFrame): Column =
      keyCols.map(c => l(c) <=> keys(c)).reduce(_ && _)
    // one discovery pass: per-bucket match counts → touched set + total
    val matches = live
      .join(Ops.broadcastIfSmall(keys, rows), matchCond(live), "left_semi")
      .groupBy(BucketCol).agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    if (matches.isEmpty) return 0L
    val touched = matches.map(_._1).sorted.toIndexedSeq
    val deleted = matches.map(_._2).sum
    val retained = readBuckets(root, m, Some(touched)).get
    val survivors = retained
      .join(Ops.broadcastIfSmall(keys, rows), matchCond(retained), "left_anti")
    val (gen, written) = writeGeneration(root, survivors, pk,
      alreadyBucketed = true)
    val emptied = touched.toSet -- written.toSet
    commit(root, ver + 1, (m -- emptied) ++ written.map(_ -> gen))
    deleted
  }

  /** Point lookup / key-subset read with bucket pruning: scans only the
    * buckets the requested keys hash into (merge-on-read companion).
    *
    * The probe's pk column types are ENFORCED against the snapshot schema
    * (`alignPkTypes`): a mismatched probe — e.g. int against a
    * bigint-keyed snapshot — is widened when lossless and rejected loudly
    * otherwise, never allowed to prune to the wrong buckets and silently
    * return missing rows. */
  def readForKeys(name: String, keys0: DataFrame, pk: Seq[String]): DataFrame = {
    val root = path(name)
    val (_, m) = readManifest(root).getOrElse(
      throw new IllegalStateException(s"no snapshot at $root"))
    val keys = alignPkTypes(keys0.select(pk.map(col): _*), pk, root, m, "readForKeys")
    val (touched, rows) = touchedBuckets(keys, bucketOf(pk))
    readBuckets(root, m, Some(touched))
      // no touched bucket exists yet → empty frame with snapshot schema
      .orElse(readBuckets(root, m, None).map(_.limit(0)))
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], keys.schema))
      .drop(BucketCol)
      // a semi join returns the same rows whatever duplicates the keys hold
      .join(Ops.broadcastIfSmall(keys, Some(rows)), pk, "left_semi")
  }

  /** Distinct bucket ids (sorted) and row count of `df` under `bucket`, in
    * ONE job with no exchange: each partition folds to its set of ids and
    * its row count, and the collected sets are unioned (a `distinct()`
    * here would be an exchange: two jobs under AQE). */
  private def touchedBuckets(df: DataFrame, bucket: Column): (IndexedSeq[Int], Long) = {
    import spark.implicits._
    val parts = df.select(bucket).as[Int]
      .mapPartitions(BucketedSnapshotStore.foldBuckets).collect()
    (parts.flatMap(_._1).distinct.sorted.toIndexedSeq, parts.map(_._2).sum)
  }

  // ---- incremental dedup (first-seen ingest) -----------------------------

  /** Spec seam: the resolved sidecar bank for direct probe-rate assertions.
    * Throws if any live bucket lacks a sidecar. */
  private[graft] def probeBankForTest(name: String): graft.functions.BloomBank = {
    val root = path(name)
    val (_, m) = readManifest(root).getOrElse(
      throw new IllegalStateException(s"no snapshot at $root"))
    graft.functions.BloomBank(
      bloomBank(root, m).getOrElse(
        throw new IllegalStateException(s"'$name' has incomplete bloom sidecars")),
      new graft.functions.SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
  }

  /** Rows of `incoming` whose pk has NEVER been committed to the snapshot
    * — the membership primitive of a dedup-on-ingest pipeline ("drop
    * everything we already crawled"). EXACT semantics, bloom-accelerated:
    *
    *  1. every row probes its bucket's Bloom sidecar
    *     ([[graft.functions.BloomBankMightContain]] over xxhash64(pk));
    *     "not in filter" is PROOF the key is new (no false negatives), so
    *     those rows pass through untouched — no join, no shuffle, no
    *     history I/O;
    *  2. only the maybe-dup survivors (true dups + the fpp tail) are
    *     confirmed by an exact anti-join, scanning ONLY the buckets they
    *     hash into (partition pruning, same as upsert).
    *
    * At 100 TB the difference is the whole game: a mostly-new batch never
    * touches the history — the exact join's input shrinks from the full
    * batch to (true dups + fpp·batch), and the history scan shrinks to
    * the candidate buckets. When any live generation lacks sidecars
    * (blooms disabled, legacy store, pk-less compact) the whole batch
    * takes the exact path — same answer, no sketch. The result is exact
    * either way, so the two paths are interchangeable (spec-asserted).
    *
    * `incoming` is scanned at most twice (the two probe branches) plus
    * once for candidate-bucket discovery on the (small) maybe side —
    * cheaper than materializing a batch-sized checkpoint. Batch-internal
    * duplicates are NOT collapsed here (both copies of a never-seen key
    * return); dedupe the batch first, or let [[ingestNew]]'s commit do it. */
  def incrementalNew(name: String, incoming: DataFrame, pk: Seq[String]): DataFrame = {
    require(pk.nonEmpty, "incrementalNew needs a non-empty pk")
    import graft.functions.{BloomBank, BloomBankMightContain, SerializableHadoopConf}
    import org.apache.spark.sql.graft.bridge
    val root = path(name)
    val manifest = readManifest(root)
    if (manifest.forall(_._2.isEmpty)) return incoming
    val (_, m) = manifest.get
    val aligned = alignPkTypes(incoming, pk, root, m, "incrementalNew")

    def exactNew(cand: DataFrame): DataFrame = {
      val touched = touchedBuckets(cand, bucketOf(pk))._1.filter(m.contains)
      readBuckets(root, m, Some(touched)).fold(cand) { hist =>
        val keys = hist.select(pk.map(col): _*)
        val cond = pk.map(c => cand(c) <=> keys(c)).reduce(_ && _)
        cand.join(keys, cond, "left_anti")
      }
    }

    bloomBank(root, m) match {
      case Some(files) if files.nonEmpty =>
        val bank = BloomBank(files,
          new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
        val maybe = org.apache.spark.sql.graft.bridge.column(BloomBankMightContain(
          bridge.expression(xxhash64(pk.map(col): _*)),
          bridge.expression(bucketOf(pk)), bank))
        aligned.filter(!maybe).unionByName(exactNew(aligned.filter(maybe)))
      case _ => exactNew(aligned)
    }
  }

  /** First-seen-wins ingest: commit (and return) only the never-seen rows
    * of `incoming`. Batch-internal duplicate pks collapse keep-last at
    * the commit (the store's pk-unique invariant); re-running the same
    * batch is a no-op. The returned frame re-reads the committed rows via
    * a key-pruned [[readForKeys]], so callers observe exactly what landed. */
  def ingestNew(name: String, incoming: DataFrame, pk: Seq[String]): DataFrame = {
    val fresh = incrementalNew(name, incoming, pk)
      .localCheckpoint(false) // upsert + the key-probe both consume it
    try {
      upsert(name, fresh, pk)
      readForKeys(name, fresh.select(pk.map(col): _*), pk)
    } finally fresh.unpersist(blocking = false)
  }
}

private object BucketedSnapshotStore {
  /** One partition's bucket ids and row count (see `touchedBuckets`). */
  def foldBuckets(rows: Iterator[Int]): Iterator[(Array[Int], Long)] = {
    val ids = scala.collection.mutable.BitSet.empty
    var n = 0L
    rows.foreach { b => ids += b; n += 1 }
    Iterator.single((ids.toArray, n))
  }
}
