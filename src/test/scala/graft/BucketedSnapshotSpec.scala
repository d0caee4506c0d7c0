package graft

import graft.operators.BucketedSnapshotStore
import org.apache.spark.sql.functions._

class BucketedSnapshotSpec extends SparkSpec {
  import spark.implicits._

  test("write establishes pk-uniqueness (keep-last) so the anti-join merge preserves it") {
    val store = new BucketedSnapshotStore(spark, tmpDir("bsnapu_"), numBuckets = 8)
    // duplicate pks at init: keep-last must survive, and later upserts
    // must never resurrect or multiply the duplicates
    val dup = Seq((1, "old1"), (2, "v2"), (1, "new1"), (3, "v3"), (1, "newest1"))
      .toDF("id", "v")
    store.write("t", dup, Seq("id"))
    val init = store.read("t").get.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(store.read("t").get.count() === 3)
    assert(init(1) === "newest1")
    store.upsert("t", Seq((2, "NEW2")).toDF("id", "v"), Seq("id"))
    val after = store.read("t").get.collect().map(r => r.getInt(0) -> r.getString(1))
    assert(after.length === 3, s"duplicates persisted: ${after.toSeq}")
    assert(after.toMap === Map(1 -> "newest1", 2 -> "NEW2", 3 -> "v3"))
  }

  test("bucketed upsert merges by pk and only touches delta buckets") {
    val store = new BucketedSnapshotStore(spark, tmpDir("bsnap_"), numBuckets = 16)
    val base = (1 to 1000).map(i => (i, s"v$i")).toDF("id", "v")
    store.write("t", base, Seq("id"))
    // delta hits a handful of keys → only their buckets rewrite
    val delta = Seq((5, "NEW5"), (700, "NEW700"), (1001, "NEW1001")).toDF("id", "v")
    val touched = store.upsert("t", delta, Seq("id"))
    assert(touched <= 3 && touched >= 1)
    val out = store.read("t").get
    assert(out.count() === 1001)
    val m = out.filter(col("id").isin(5, 700, 1001)).orderBy("id")
      .collect().map(_.getString(1))
    assert(m.toSeq === Seq("NEW5", "NEW700", "NEW1001"))
    assert(out.filter(col("id") === 6).first().getString(1) === "v6")
  }

  test("bucketed upsert matches flat upsert semantics") {
    val store = new BucketedSnapshotStore(spark, tmpDir("bsnap_"), numBuckets = 8)
    val snap = (1 to 500).map(i => (i, i * 10)).toDF("id", "x")
    val delta = (250 to 600).map(i => (i, -i)).toDF("id", "x")
    store.write("t", snap, Seq("id"))
    store.upsert("t", delta, Seq("id"))
    val bucketed = store.read("t").get.orderBy("id").collect().map(r => (r.getInt(0), r.getInt(1)))
    val flat = graft.operators.Snapshot.upsert(Some(snap), delta, Seq("id"))
      .orderBy("id").collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(bucketed.toSeq === flat.toSeq)
  }

  test("readForKeys prunes to the requested keys' buckets") {
    val store = new BucketedSnapshotStore(spark, tmpDir("bsnap_"), numBuckets = 16)
    store.write("t", (1 to 1000).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    val wanted = Seq(3, 500, 999).toDF("id")
    val got = store.readForKeys("t", wanted, Seq("id"))
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(got.toSeq === Seq((3, "v3"), (500, "v500"), (999, "v999")))
  }

  test("upsert into an empty store returns the buckets it wrote") {
    val dir = tmpDir("bsnap_seed_")
    val store = new BucketedSnapshotStore(spark, dir, numBuckets = 16)
    val written = store.upsert("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"), Seq("id"))
    val root = store.path("t")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = fs.listStatus(root).map(_.getPath).filter(_.getName.startsWith("manifest-"))
    assert(manifest.length === 1)
    val in = fs.open(manifest.head)
    val entries = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().count(_.nonEmpty)
      finally in.close()
    assert(written >= 1 && written <= 3)
    assert(written === entries)
  }

  test("touched-bucket discovery runs one job; generations carry no _SUCCESS marker") {
    val store = new BucketedSnapshotStore(spark, tmpDir("bsnap_disc_"), numBuckets = 16)
    store.write("t", (1 to 1000).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    val keys = (1 to 40).toDF("id").localCheckpoint(true)
    var got: org.apache.spark.sql.DataFrame = null
    // building the read runs discovery, its only job
    assert(jobsRun { got = store.readForKeys("t", keys, Seq("id")) } === 1)
    assert(got.count() === 40)
    // generations carry no `_SUCCESS` marker: only the manifest commits
    val root = store.path("t")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = fs.listStatus(root).map(_.getPath).filter(_.getName.startsWith("gen-"))
    assert(gens.nonEmpty)
    assert(gens.forall(g => !fs.exists(new org.apache.hadoop.fs.Path(g, "_SUCCESS"))))
  }

  test("readForKeys/upsert enforce pk types: lossless widen, loud reject") {
    val store = new BucketedSnapshotStore(spark, tmpDir("bsnap_types_"), numBuckets = 8)
    // bigint-keyed snapshot
    val base = (1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    store.write("t", base, Seq("id"))
    // int-typed probe: previously pruned to WRONG buckets (hash(5) !=
    // hash(5L)) and silently returned nothing — now widened to bigint
    val intProbe = Seq(3, 500).toDF("id")
    val got = store.readForKeys("t", intProbe, Seq("id"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((3L, "v3"), (500L, "v500")))
    // non-widenable probe (string) fails loudly instead of missing rows
    val e = intercept[IllegalArgumentException] {
      store.readForKeys("t", Seq("3").toDF("id"), Seq("id")).collect()
    }
    assert(e.getMessage.contains("type-sensitive"), e.getMessage)
    // same contract on the upsert path: an int-typed delta against the
    // bigint snapshot must merge by key, not duplicate into other buckets
    store.upsert("t", Seq((5, "NEW5")).toDF("id", "v"), Seq("id"))
    val merged = store.read("t").get
    assert(merged.count() === 500)
    assert(merged.filter(col("id") === 5L).first().getString(1) === "NEW5")
    intercept[IllegalArgumentException] {
      store.upsert("t", Seq(("7", "x")).toDF("id", "v"), Seq("id"))
    }
  }

  test("compact collapses a deep-generation manifest into one scan, same data") {
    val dir = tmpDir("bsnap_compact_")
    val store = new BucketedSnapshotStore(spark, dir, numBuckets = 8)
    store.write("t", (1 to 400).map(i => (i, i * 10)).toDF("id", "x"), Seq("id"))
    // 12 small upserts → the manifest references many generations
    for (k <- 1 to 12)
      store.upsert("t", Seq((k * 30, -k), (400 + k, -k)).toDF("id", "x"), Seq("id"))
    val before = store.read("t").get.orderBy("id").collect().map(r => (r.getInt(0), r.getInt(1)))
    val collapsed = store.compact("t")
    assert(collapsed > 1, s"expected a multi-generation manifest, saw $collapsed")
    // same rows, single live generation, point lookups still correct
    val after = store.read("t").get.orderBy("id").collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(after.toSeq === before.toSeq)
    assert(store.compact("t") === 1) // idempotent: already single-generation
    val got = store.readForKeys("t", Seq(30, 401).toDF("id"), Seq("id"))
      .orderBy("id").collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(got.toSeq === Seq((30, -1), (401, -1)))
    // upserts keep working on the compacted store
    store.upsert("t", Seq((1, 111)).toDF("id", "x"), Seq("id"))
    assert(store.read("t").get.filter(col("id") === 1).first().getInt(1) === 111)
  }

  test("compact with pk heals legacy duplicate keys the anti-join merge preserves") {
    val dir = tmpDir("bsnap_heal_")
    val store = new BucketedSnapshotStore(spark, dir, numBuckets = 8)
    // simulate a LEGACY store: assumeUniqueKeys bypasses write()'s dedup,
    // exactly like snapshots committed before the pk-unique invariant
    val dup = Seq((1, "old1a"), (1, "old1b"), (2, "old2"), (2, "old2"), (3, "v3"))
      .toDF("id", "v")
    store.write("t", dup, Seq("id"), assumeUniqueKeys = true)
    assert(store.read("t").get.count() === 5) // duplicates really committed
    // the anti-join upsert preserves untouched duplicates (id=2 stays dup)
    store.upsert("t", Seq((1, "new1")).toDF("id", "v"), Seq("id"))
    val afterUpsert = store.read("t").get.collect().map(r => (r.getInt(0), r.getString(1)))
    assert(afterUpsert.count(_._1 == 1) === 1)
    assert(afterUpsert.count(_._1 == 2) === 2)
    // compact(name, pk) heals: one row per pk, upserted value preserved
    store.compact("t", Seq("id"))
    val healed = store.read("t").get.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(healed.map(_._1).toSeq === Seq(1, 2, 3))
    assert(healed.toMap.apply(1) === "new1")
    // pk-less compact stays the pure generation fold (no heal, no rewrite
    // needed on the already-single-generation store)
    assert(store.compact("t") === 1)
  }

  test("autoCompactGenerations bounds manifest fan-out across many upserts") {
    val store = new BucketedSnapshotStore(spark, tmpDir("bsnap_auto_"),
      numBuckets = 8, autoCompactGenerations = 4)
    store.write("t", (1 to 300).map(i => (i, i)).toDF("id", "x"), Seq("id"))
    var maxLive = 0
    for (k <- 1 to 15) {
      store.upsert("t", Seq((k * 17, -k)).toDF("id", "x"), Seq("id"))
      // fan-out check via a readForKeys-visible invariant: the store keeps
      // serving correct data while the policy folds generations
      maxLive = math.max(maxLive, store.compactionFanout("t"))
    }
    assert(maxLive <= 5, s"auto-compact failed to bound live generations: $maxLive")
    assert(store.read("t").get.count() === 300)
    assert(store.read("t").get.filter(col("id") === 17).first().getInt(1) === -1)
  }

  test("GC grace window: previous manifest stays readable across a commit") {
    val dir = tmpDir("bsnap_pin_")
    val store = new BucketedSnapshotStore(spark, dir, numBuckets = 8, keepManifests = 2)
    store.write("t", (1 to 300).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    val pinned = store.manifestVersion("t").get
    // a reader pins `pinned`, then a commit + GC lands mid-scan
    store.upsert("t", Seq((5, "NEW5"), (301, "NEW301")).toDF("id", "v"), Seq("id"))
    // the pinned view still reads the OLD state, fully intact
    val old = store.readAt("t", pinned).get
    assert(old.count() === 300)
    assert(old.filter(col("id") === 5).first().getString(1) === "v5")
    // latest view sees the new state
    assert(store.read("t").get.count() === 301)
    // one more commit ages the pin out of the keep-2 window → loud failure
    store.upsert("t", Seq((6, "NEW6")).toDF("id", "v"), Seq("id"))
    val e = intercept[IllegalStateException](store.readAt("t", pinned))
    assert(e.getMessage.contains("GC keeps the last"), e.getMessage)
    // and the aged-out generation directories are actually collected:
    // only generations referenced by the retained 2 manifests remain
    assert(store.read("t").get.count() === 301)
  }

  test("crash before manifest commit leaves the old snapshot fully readable") {
    val dir = tmpDir("bsnap_crash_")
    val good = new BucketedSnapshotStore(spark, dir, numBuckets = 8)
    val base = (1 to 500).map(i => (i, s"v$i")).toDF("id", "v")
    good.write("t", base, Seq("id"))
    // crashes after staging the new generation, BEFORE the manifest flip
    val crashing = new BucketedSnapshotStore(spark, dir, numBuckets = 8) {
      override protected def beforeCommitHook(): Unit =
        throw new RuntimeException("injected crash pre-commit")
    }
    val delta = Seq((5, "NEW5"), (300, "NEW300")).toDF("id", "v")
    intercept[RuntimeException](crashing.upsert("t", delta, Seq("id")))
    // the old snapshot is still complete and consistent
    val out = good.read("t").get
    assert(out.count() === 500)
    assert(out.filter(col("id") === 5).first().getString(1) === "v5")
    // and a retry of the same upsert succeeds, GC-ing the orphaned gen
    good.upsert("t", delta, Seq("id"))
    val after = good.read("t").get
    assert(after.count() === 500)
    assert(after.filter(col("id") === 5).first().getString(1) === "NEW5")
  }

  test("crash after manifest commit (mid-GC) leaves the NEW snapshot readable") {
    val dir = tmpDir("bsnap_crash2_")
    val good = new BucketedSnapshotStore(spark, dir, numBuckets = 8)
    good.write("t", (1 to 500).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    val crashing = new BucketedSnapshotStore(spark, dir, numBuckets = 8) {
      override protected def afterCommitHook(): Unit =
        throw new RuntimeException("injected crash post-commit")
    }
    val delta = Seq((5, "NEW5"), (501, "NEW501")).toDF("id", "v")
    intercept[RuntimeException](crashing.upsert("t", delta, Seq("id")))
    // commit already happened → readers see the new state
    val out = good.read("t").get
    assert(out.count() === 501)
    assert(out.filter(col("id") === 5).first().getString(1) === "NEW5")
    // next write re-collects the garbage the crash left behind
    good.upsert("t", Seq((6, "NEW6")).toDF("id", "v"), Seq("id"))
    assert(good.read("t").get.count() === 501)
  }

  test("two writers racing on one store: both upserts land, or exactly one fails loudly") {
    import scala.util.{Failure, Success, Try}
    val dir = tmpDir("bsnap_race_")
    val writers = Seq.fill(2)(new BucketedSnapshotStore(spark, dir, numBuckets = 4))
    writers.head.write("t", Seq((0, "seed")).toDF("id", "v"), Seq("id"))
    var expected = Map(0 -> "seed")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try (1 to 8).foreach { round =>
      // disjoint keys per writer; both start at the same instant
      val deltas = Seq(0, 1).map(w => (1 to 3).map(i => (round * 100 + w * 10 + i, s"r$round.w$w")))
      val start = new java.util.concurrent.CyclicBarrier(2)
      val futures = writers.zip(deltas).map { case (store, rows) =>
        val df = rows.toDF("id", "v")
        pool.submit(() => { start.await(); Try(store.upsert("t", df, Seq("id"))) })
      }
      val results = futures.map(_.get())
      expected ++= (results.zip(deltas) match {
        case Seq((Success(_), a), (Success(_), b)) => a ++ b
        case Seq((Success(_), a), (Failure(_: IllegalStateException), _)) => a
        case Seq((Failure(_: IllegalStateException), _), (Success(_), b)) => b
        case other => fail(s"round $round: expected both to land or one manifest conflict, got $other")
      })
      val state = writers.head.read("t").get.as[(Int, String)].collect().toMap
      assert(state === expected, s"round $round: ${results.mkString(", ")}")
    } finally pool.shutdown()
  }

  test("empty write leaves a fresh-looking store (exists false, upsert seeds)") {
    val store = new BucketedSnapshotStore(spark, tmpDir("bsnap_empty_"), numBuckets = 8)
    store.write("t", Seq.empty[(Int, String)].toDF("id", "v"), Seq("id"))
    // zero-bucket manifest: no data files to recover a schema from, so
    // the store must not claim existence it cannot read back
    assert(!store.exists("t"))
    assert(store.read("t").isEmpty)
    // and the next upsert seeds the store instead of merging with nothing
    store.upsert("t", Seq((1, "a")).toDF("id", "v"), Seq("id"))
    assert(store.read("t").get.count() === 1)
  }

  test("multi-probe LSH recall beats single-probe on the same data") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 20)
    val brute = graft.operators.Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(multiProbe: Boolean): Double = {
      val got = graft.operators.Similarity
        .lshTopK(e, q, "vec_id", "embedding", 10, planes = 8, multiProbe = multiProbe)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      if (got.isEmpty) 0.0 else got.count(brute.contains).toDouble / brute.size
    }
    val single = recall(multiProbe = false)
    val multi = recall(multiProbe = true)
    assert(multi >= single, s"multi-probe ($multi) should not lose to single ($single)")
    // probing 9/256 buckets ≈ 3.5% chance baseline on structure-free
    // random vectors; require comfortably above it
    assert(multi > 0.05, s"multi-probe recall no better than chance: $multi")
  }
}
