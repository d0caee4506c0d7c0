package graft

import graft.operators.{Snapshot, SnapshotStore}
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.functions._

class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  test("upsert: incoming replaces snapshot rows by pk, keep-last within batch") {
    val snap = Seq((1, "old1"), (2, "old2"), (3, "old3")).toDF("id", "v")
    val incoming = Seq((2, "new2a"), (2, "new2b"), (4, "new4")).toDF("id", "v")
    val out = Snapshot.upsert(Some(snap), incoming, Seq("id"))
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(out.toSeq === Seq((1, "old1"), (2, "new2b"), (3, "old3"), (4, "new4")))
  }

  test("upsert: schema evolution (missing columns null-fill both ways)") {
    val snap = Seq((1, "a")).toDF("id", "v")
    val incoming = Seq((2, "b", 9L)).toDF("id", "v", "extra")
    val out = Snapshot.upsert(Some(snap), incoming, Seq("id"))
    assert(out.columns.toSet === Set("id", "v", "extra"))
    assert(out.filter($"id" === 1).select("extra").first().isNullAt(0))
  }

  test("upsert: snapshot columns coerce to incoming types") {
    val snap = Seq(("1", "a")).toDF("id", "v") // id was string last run
    val incoming = Seq((2, "b")).toDF("id", "v") // now int
    val out = Snapshot.upsert(Some(snap), incoming, Seq("id"))
    assert(out.schema("id").dataType.typeName === "integer")
    assert(out.count() === 2)
  }

  test("snapshotRecords persists merged state across runs") {
    val store = new SnapshotStore(spark, tmpDir("snap_"))
    val r1 = Snapshot.snapshotRecords(store, "t", Seq((1, "a"), (2, "b")).toDF("id", "v"), Seq("id"))
    assert(r1.count() === 2)
    val r2 = Snapshot.snapshotRecords(store, "t", Seq((2, "b2"), (3, "c")).toDF("id", "v"), Seq("id"))
    assert(r2.count() === 3)
    val persisted = store.read("t").get.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(persisted.toSeq === Seq((1, "a"), (2, "b2"), (3, "c")))
  }

  test("snapshot store write is atomic (old data readable until commit, lock cleaned)") {
    val dir = tmpDir("snap_")
    val store = new SnapshotStore(spark, dir)
    store.write("t", Seq((1, "a")).toDF("id", "v"))
    store.write("t", Seq((2, "b")).toDF("id", "v"))
    val files = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(files.exists(_.startsWith("t.snapshot.parquet")))
    assert(!files.exists(_.contains("partial_written")), s"lock left behind: $files")
    assert(!files.exists(_.startsWith(".t.snapshot.tmp")), s"tmp left behind: $files")
    assert(store.read("t").get.collect().map(_.getInt(0)).toSeq === Seq(2))
  }

  test("dropRedundant keeps only new/changed rows and flags updates") {
    val store = new SnapshotStore(spark, tmpDir("cdc_"))
    val v1 = Seq((1, "x"), (2, "y")).toDF("id", "v")
    val first = Snapshot.dropRedundant(store, "s", v1, Seq("id"), updatedFlag = true)
    assert(first.count() === 2)
    assert(first.filter($"_updated").count() === 0)
    // unchanged re-send → nothing comes through
    val second = Snapshot.dropRedundant(store, "s", v1, Seq("id"), updatedFlag = true)
    assert(second.count() === 0)
    // one changed, one new
    val v2 = Seq((1, "x2"), (3, "z")).toDF("id", "v")
    val third = Snapshot.dropRedundant(store, "s", v2, Seq("id"), updatedFlag = true)
      .orderBy("id").collect().map(r => (r.getInt(0), r.getBoolean(2)))
    assert(third.toSeq === Seq((1, true), (3, false)))
  }

  test("dropRedundant: a delta-side failure commits no hash snapshot and leaves no staged dir") {
    val dir = tmpDir("cdc_fail_")
    val store = new SnapshotStore(spark, dir)
    Snapshot.dropRedundant(store, "s", Seq((1, "x"), (2, "y")).toDF("id", "v"), Seq("id"))
    def hashes() = store.read("s.hash").get.orderBy("id").as[(Int, String)].collect().toSeq
    val before = hashes()
    // the failure lands once the delta is materialized, while the refreshed
    // hash snapshot is at most staged
    val failing = new SnapshotStore(spark, dir) {
      override protected[graft] def afterDeltaCheckpoint(): Unit =
        throw new IllegalStateException("injected delta failure")
    }
    val v2 = Seq((1, "x2"), (3, "z")).toDF("id", "v")
    val e = intercept[IllegalStateException] {
      Snapshot.dropRedundant(failing, "s", v2, Seq("id"))
    }
    assert(e.getMessage === "injected delta failure")
    assert(hashes() === before, "a failed dropRedundant replaced the hash snapshot")
    val staged = new java.io.File(dir).list().filter(_.contains(".snapshot.tmp-"))
    assert(staged.isEmpty, s"staged rows left behind: ${staged.mkString(", ")}")
    // nothing was recorded, so the retry still sees both rows as changes
    assert(Snapshot.dropRedundant(store, "s", v2, Seq("id")).count() === 2)
  }

  test("read takes the committed footer's schema, equal to inference, with no job") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("s", StructType(Seq(StructField("a", LongType),
        StructField("b", ArrayType(StringType))))),
      StructField("arr", ArrayType(IntegerType, containsNull = false)),
      StructField("m", MapType(StringType, DoubleType)),
      StructField("dec", DecimalType(12, 3)),
      StructField("d", DateType),
      StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType),
      StructField("bin", BinaryType)))
    val kinds = spark.createDataFrame(java.util.Arrays.asList(
      Row(1, Row(5L, Seq("x", null)), Seq(1, 2), Map("k" -> 1.5),
        new java.math.BigDecimal("1.250"), java.sql.Date.valueOf("2024-03-01"),
        java.sql.Timestamp.valueOf("2024-03-01 10:11:12.345678"),
        java.time.LocalDateTime.of(2024, 3, 1, 10, 11, 12), Array[Byte](1, 2)),
      Row(2, null, Seq(), null, null, null, null, null, null)), schema)
    val dir = tmpDir("snap_footer_")
    val store = new SnapshotStore(spark, dir)
    def check(what: String, want: DataFrame): Unit = {
      var got: StructType = null
      assert(jobsRun { got = store.read("t").get.schema } === 0, s"$what: read ran a job")
      assert(got === spark.read.parquet(store.path("t").toString).schema, what)
      assert(store.read("t").get.orderBy("id").collect().toSeq ===
        want.orderBy("id").collect().toSeq, what)
    }
    store.write("t", kinds)
    check("every column kind", kinds)
    // a schema-changing rewrite: columns dropped, retyped and added
    val changed = kinds.select($"id".cast(LongType).as("id"), $"m",
      $"ts".cast(StringType).as("ts"), lit(7.5).as("extra"))
    store.write("t", changed)
    check("schema-changing rewrite", changed)
    // a torn write: the complete snapshot parked at the lock path, no live
    // snapshot beside it; read restores it
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = store.path("t")
    assert(fs.rename(live, new Path(live.getParent, s"${live.getName}.hg.partial_written.lock")))
    var restored: StructType = null
    assert(jobsRun { restored = store.read("t").get.schema } === 0, "restore read ran a job")
    assert(restored === spark.read.parquet(live.toString).schema)
    check("torn-write restore", changed)
    // csv -> parquet switch
    store.write("t", kinds.select($"id", $"dec"), useCsv = true)
    store.write("t", kinds)
    check("csv -> parquet switch", kinds)
  }

  test("row hash matches the reference's canonical form") {
    // reference get_row_hash: md5 of sorted-column non-null str(v) concat
    val df = Seq((1, "a", true, 1.5), (2, null.asInstanceOf[String], false, 2.0))
      .toDF("id", "s", "b", "d")
    val got = df.select(Snapshot.rowHash(df, Seq("s", "b", "d")).as("h"))
      .collect().map(_.getString(0))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // sorted cols: b, d, s → "True" + "1.5" + "a" ; null s drops
    assert(got(0) === md5hex("True1.5a"))
    assert(got(1) === md5hex("False2.0"))
  }

  test("strict coercion raises naming the failing column and value") {
    val snap = Seq(("abc", "a"), ("2", "b")).toDF("id", "v") // "abc" won't cast
    val incoming = Seq((3, "c")).toDF("id", "v")
    val e = intercept[IllegalStateException] {
      Snapshot.upsert(Some(snap), incoming, Seq("id"), coerceStrict = true).count()
    }
    assert(e.getMessage.contains("field id"), e.getMessage)
    assert(e.getMessage.contains("'abc'"), e.getMessage)
    // the total default still nulls the bad cell instead
    assert(Snapshot.upsert(Some(snap), incoming, Seq("id")).count() === 3)
  }

  test("empty pk: upsert dedups on the full row, never collapses to one") {
    val snap = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val incoming = Seq((2, "b"), (3, "c")).toDF("id", "v")
    val out = Snapshot.upsert(Some(snap), incoming, Nil)
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(out.toSeq === Seq((1, "a"), (2, "b"), (3, "c")))
    assert(Snapshot.dedupKeepLast(Seq((1, "a"), (1, "a"), (2, "b")).toDF("id", "v"), Nil)
      .count() === 2)
  }

  test("empty pk dropRedundant: hash-only CDC accumulates, repeat rows dropped") {
    val store = new SnapshotStore(spark, tmpDir("cdc0_"))
    val v1 = Seq((1, "x"), (2, "y")).toDF("id", "v")
    assert(Snapshot.dropRedundant(store, "s", v1, Nil).count() === 2)
    // re-send: all hashes known → nothing; hash snapshot must NOT have
    // collapsed to a single row
    assert(Snapshot.dropRedundant(store, "s", v1, Nil).count() === 0)
    // one new row comes through; updatedFlag is a no-op without a pk
    val v2 = Seq((1, "x"), (3, "z")).toDF("id", "v")
    val out = Snapshot.dropRedundant(store, "s", v2, Nil, updatedFlag = true)
    assert(out.collect().map(_.getInt(0)).toSeq === Seq(3))
    assert(!out.columns.contains("_updated"))
  }

  test("use_csv parity: CSV snapshot round-trips through store and GsReader") {
    val dir = tmpDir("snap_csv_")
    val store = new SnapshotStore(spark, dir)
    val df = Seq((1, "a", 1.5), (2, "b", 2.5)).toDF("id", "v", "x")
    store.write("s", df, useCsv = true)
    assert(store.exists("s"))
    // store read (header + inferSchema, like the reference's read_csv)
    val back = store.read("s").get.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    assert(back.toSeq === Seq((1, "a", 1.5), (2, "b", 2.5)))
    // GsReader finds the same .snapshot.csv (reference-era orchestrator path)
    val reader = new graft.sources.GsReader(spark, tmpDir("gsr_in_"), snapshotDir = Some(dir))
    val viaReader = reader.readSnapshot("s").get.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    assert(viaReader.toSeq === back.toSeq)
    // the lifecycle writes CSV when asked, and a second run merges by pk
    Snapshot.snapshotRecords(store, "s", Seq((2, "B", 9.9), (3, "c", 3.5)).toDF("id", "v", "x"),
      Seq("id"), useCsv = true)
    val merged = store.read("s").get.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(merged.toSeq === Seq((1, "a"), (2, "B"), (3, "c")))
  }

  test("format switch: a CSV write supersedes an existing parquet snapshot") {
    val store = new SnapshotStore(spark, tmpDir("snap_switch_"))
    store.write("s", Seq((1, "old")).toDF("id", "v"))
    // switching to use_csv must not leave the stale parquet shadowing
    // reads (read() probes parquet first)
    store.write("s", Seq((1, "new"), (2, "x")).toDF("id", "v"), useCsv = true)
    val out = store.read("s").get.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(out.toSeq === Seq((1, "new"), (2, "x")))
    // and back again
    store.write("s", Seq((3, "pq")).toDF("id", "v"))
    assert(store.read("s").get.collect().map(_.getInt(0)).toSeq === Seq(3))
  }

  test("format switch is crash-safe on both sides of the marker commit") {
    import org.apache.hadoop.fs.Path
    // Crash BEFORE the format marker lands: the switch never committed, so
    // reads must keep resolving the old parquet state (not a half-visible
    // CSV), and the next successful write repairs the store.
    val dirA = tmpDir("snap_crashA_")
    val goodA = new SnapshotStore(spark, dirA)
    goodA.write("s", Seq((1, "old")).toDF("id", "v"))
    val crashA = new SnapshotStore(spark, dirA) {
      override protected def afterDataCommit(): Unit =
        throw new RuntimeException("injected crash pre-marker")
    }
    intercept[RuntimeException] {
      crashA.write("s", Seq((1, "new"), (2, "x")).toDF("id", "v"), useCsv = true)
    }
    val afterA = goodA.read("s").get.collect().map(r => (r.getInt(0), r.getString(1)))
    assert(afterA.toSeq === Seq((1, "old")), "uncommitted switch must stay invisible")
    goodA.write("s", Seq((9, "ok")).toDF("id", "v"), useCsv = true)
    assert(goodA.read("s").get.collect().map(_.getInt(0)).toSeq === Seq(9))

    // Crash AFTER the marker but BEFORE the stale-parquet cleanup: the
    // switch IS committed — reads must resolve the CSV even though the old
    // parquet dataset still exists on disk.
    val dirB = tmpDir("snap_crashB_")
    val goodB = new SnapshotStore(spark, dirB)
    goodB.write("s", Seq((1, "old")).toDF("id", "v"))
    val crashB = new SnapshotStore(spark, dirB) {
      override protected def afterFormatCommit(): Unit =
        throw new RuntimeException("injected crash post-marker")
    }
    intercept[RuntimeException] {
      crashB.write("s", Seq((1, "new"), (2, "x")).toDF("id", "v"), useCsv = true)
    }
    val fs = new Path(dirB).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(dirB, "s.snapshot.parquet")), "stale parquet still on disk")
    val afterB = goodB.read("s").get.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(afterB.toSeq === Seq((1, "new"), (2, "x")),
      "committed CSV must win over the stale parquet")
    // next write GCs the stale dataset
    goodB.write("s", Seq((3, "z")).toDF("id", "v"), useCsv = true)
    assert(!fs.exists(new Path(dirB, "s.snapshot.parquet")))
  }

  test("GsReader.readSnapshot restores a torn write's parked snapshot") {
    val dir = tmpDir("gsr_lock_")
    val store = new SnapshotStore(spark, dir)
    store.write("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    // only the lock is left: the complete snapshot a crashed writer parked
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = store.path("t")
    assert(fs.rename(live, new Path(live.getParent, s"${live.getName}.hg.partial_written.lock")))
    val reader = new graft.sources.GsReader(spark, tmpDir("gsr_in_"), snapshotDir = Some(dir))
    val got = reader.readSnapshot("t").map(_.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq)
    assert(got === Some(Seq((1, "a"), (2, "b"))))
  }

  test("GsReader.readSnapshot follows the committed format over a stale parquet dir") {
    val dir = tmpDir("gsr_switch_")
    val store = new SnapshotStore(spark, dir)
    store.write("s", Seq((1, "csv1")).toDF("id", "v"), useCsv = true)
    store.write("s", Seq((2, "pq")).toDF("id", "v"))
    // the last csv write commits its format marker, then crashes before
    // deleting the parquet dataset it superseded
    val crash = new SnapshotStore(spark, dir) {
      override protected def afterFormatCommit(): Unit =
        throw new RuntimeException("injected crash post-marker")
    }
    intercept[RuntimeException] {
      crash.write("s", Seq((3, "csv2"), (4, "csv2")).toDF("id", "v"), useCsv = true)
    }
    assert(store.path("s").getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(store.path("s")), "stale parquet still on disk")
    val reader = new graft.sources.GsReader(spark, tmpDir("gsr_in_"), snapshotDir = Some(dir))
    val got = reader.readSnapshot("s").get.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got === Seq((3, "csv2"), (4, "csv2")))
  }

  test("mergeIdFromSnapshot backfills remote ids, keep-last per InputId") {
    val df = Seq(("r1", "e1"), ("r2", "e2"), ("r3", "e9")).toDF("row", "externalId")
    val ids = Seq(("e1", 101L), ("e1", 111L), ("e2", 102L)).toDF("InputId", "RemoteId")
    val out = Snapshot.mergeIdFromSnapshot(df, ids, targetCol = "Id")
      .orderBy("row").collect()
    assert(out.map(r => if (r.isNullAt(2)) -1L else r.getLong(2)).toSeq === Seq(111L, 102L, -1L))
  }

  // ── SCD2 intervals ─────────────────────────────────────────────────────

  test("scd2Intervals: runs collapse, intervals chain, last is current") {
    import graft.operators.Snapshot
    import java.sql.Timestamp
    def t(sec: Int) = Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d")
    val obs = Seq(
      (1L, t(1), 1L, "A"), (1L, t(2), 2L, "A"),   // run A collapses
      (1L, t(3), 3L, "B"),                        // change
      (1L, t(4), 4L, "A"),                        // back to A: NEW run
      (2L, t(5), 5L, "X")).toDF("k", "ts", "id", "v")
    val out = Snapshot.scd2Intervals(obs, "k", "ts", "id", "v")
      .orderBy("k", "valid_from")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), Option(r.getTimestamp(3)), r.getBoolean(4)))
    assert(out.toList === List(
      (1L, "A", t(1), Some(t(3)), false),
      (1L, "B", t(3), Some(t(4)), false),
      (1L, "A", t(4), None, true),
      (2L, "X", t(5), None, true)))
  }

  test("scd2Intervals: same-timestamp ties order by the tie column") {
    import graft.operators.Snapshot
    import java.sql.Timestamp
    val ts = Timestamp.valueOf("2024-01-01 00:00:01")
    val obs = Seq((1L, ts, 2L, "B"), (1L, ts, 1L, "A"))
      .toDF("k", "ts", "id", "v")
    val out = Snapshot.scd2Intervals(obs, "k", "ts", "id", "v")
      .orderBy("valid_from", "v")
      .collect().map(r => (r.getString(1), r.getBoolean(4)))
    // id 1 (A) observed first, then B: A closed, B current
    assert(out.toSet === Set(("A", false), ("B", true)))
  }

  test("diffReport: added/removed/changed/unchanged between generations") {
    val oldGen = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0), (5L, "e", 50.0)).toDF("id", "s", "v")
    val newGen = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 99.0),
      (4L, "d", 40.0), (6L, "f", 60.0)).toDF("id", "s", "v")
    val r = Snapshot.diffReport(oldGen, newGen, Seq("id")).first()
    assert(r.getLong(0) === 5L && r.getLong(1) === 5L) // n_old, n_new
    assert(r.getLong(2) === 1L)  // added: 6
    assert(r.getLong(3) === 1L)  // removed: 5
    assert(r.getLong(4) === 1L)  // changed: 3
    assert(r.getLong(5) === 3L)  // unchanged
  }

  test("scd2Apply: close/open, no-op, new key, late batch ignored, history untouched") {
    import spark.implicits._
    // dim: A current x since 10 (with a closed v-run before it);
    // B current y since 20; C absent; D current d since 50
    val dim = Seq(
      ("A", "v", 1L, Some(10L), false),
      ("A", "x", 10L, None, true),
      ("B", "y", 20L, None, true),
      ("D", "d", 50L, None, true))
      .toDF("k", "value", "valid_from", "valid_to", "is_current")
      .select(col("k"), col("value"), col("valid_from"),
        col("valid_to").cast("long").as("valid_to"), col("is_current"))
    // batch: A same value (no-op); B changes twice in-batch (keep-last z);
    // C new key; D a LATE observation (ts 40 < valid_from 50) → ignored
    val batch = Seq(
      ("A", "x", 30L, 1L),
      ("B", "z1", 25L, 1L), ("B", "z", 26L, 2L),
      ("C", "c", 33L, 1L),
      ("D", "dd", 40L, 1L))
      .toDF("k", "value", "ts", "tie")
    val out = Snapshot.scd2Apply(dim, batch, "k", "value", "ts", "tie")
      .as[(String, String, Long, Option[Long], Boolean)].collect().toSet
    assert(out === Set(
      ("A", "v", 1L, Some(10L), false),   // history untouched
      ("A", "x", 10L, None, true),        // no-op
      ("B", "y", 20L, Some(26L), false),  // closed at the keep-last ts
      ("B", "z", 26L, None, true),        // opened (z, not z1)
      ("C", "c", 33L, None, true),        // new key
      ("D", "d", 50L, None, true)))       // late batch ignored
  }

  test("scd2Apply: NULL tracked values are real rows, not absence markers") {
    import spark.implicits._
    // A: current row whose VALUE is NULL, no batch arrival → must survive
    //    untouched (the old valueCol-isNull sentinel silently dropped it);
    // B: current NULL value, batch changes it → close the NULL row, open;
    // C: current "c", batch sets it to NULL (a real change to NULL).
    val dim = Seq[(String, Option[String], Long, Option[Long], Boolean)](
      ("A", None, 10L, None, true),
      ("B", None, 20L, None, true),
      ("C", Some("c"), 30L, None, true))
      .toDF("k", "value", "valid_from", "valid_to", "is_current")
      .select(col("k"), col("value"), col("valid_from"),
        col("valid_to").cast("long").as("valid_to"), col("is_current"))
    val batch = Seq[(String, Option[String], Long, Long)](
      ("B", Some("b2"), 25L, 1L),
      ("C", None, 35L, 1L))
      .toDF("k", "value", "ts", "tie")
    val out = Snapshot.scd2Apply(dim, batch, "k", "value", "ts", "tie")
      .as[(String, Option[String], Long, Option[Long], Boolean)]
      .collect().toSet
    assert(out === Set(
      ("A", None, 10L, None, true),          // untouched, not dropped
      ("B", None, 20L, Some(25L), false),    // NULL row closed, not dup'd
      ("B", Some("b2"), 25L, None, true),
      ("C", Some("c"), 30L, Some(35L), false),
      ("C", None, 35L, None, true)))         // change TO NULL opens
  }

  test("scd2Apply composes: apply(intervals(first), rest) = intervals(all) under monotone loads") {
    import spark.implicits._
    val log = Seq(
      (1L, 1L, 100L, "a"), (1L, 2L, 200L, "a"), (1L, 3L, 300L, "b"),
      (2L, 4L, 150L, "p"), (2L, 5L, 250L, "q"), (3L, 6L, 320L, "m"))
      .toDF("k", "tie", "ts", "value")
    val cut = 260L
    val dim = Snapshot.scd2Intervals(log.filter(col("ts") < cut),
      "k", "ts", "tie", "value")
    val applied = Snapshot
      .scd2Apply(dim, log.filter(col("ts") >= cut), "k", "value", "ts", "tie")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet
    val full = Snapshot.scd2Intervals(log, "k", "ts", "tie", "value")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet
    assert(applied === full)
  }

  test("two writers racing on one snapshot: the loser fails loudly, no rows go missing") {
    import java.util.concurrent.TimeUnit.SECONDS
    import scala.util.Try
    val dir = tmpDir("snap_race_")
    new SnapshotStore(spark, dir).write("t", Seq((0, "base")).toDF("id", "v"))
    val conf = spark.sparkContext.hadoopConfiguration
    // writer A pauses right after parking the current snapshot at the lock
    // path; writer B runs its whole write inside that window
    conf.set("fs.file.impl", classOf[ParkPausingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    val (ra, rb) =
      try {
        val (a, b) = (new SnapshotStore(spark, dir), new SnapshotStore(spark, dir))
        val rowsA = Seq((1, "a")).toDF("id", "v")
        val rowsB = Seq((2, "b")).toDF("id", "v")
        ParkPausingFs.arm()
        val fa = pool.submit(() => {
          ParkPausingFs.pausing.set(Thread.currentThread())
          Try(a.write("t", rowsA))
        })
        assert(ParkPausingFs.parked.await(120, SECONDS), "writer A never parked the snapshot")
        val rb = Try(b.write("t", rowsB))
        ParkPausingFs.resume.countDown()
        (fa.get(120, SECONDS), rb)
      } finally {
        ParkPausingFs.resume.countDown()
        pool.shutdown()
        conf.unset("fs.file.impl")
        conf.unset("fs.file.impl.disable.cache")
      }
    assert(Seq(ra, rb).count(_.isFailure) === 1, s"exactly one writer must fail: A=$ra, B=$rb")
    val store = new SnapshotStore(spark, dir)
    val live = store.read("t").get.as[(Int, String)].collect().toSeq
    assert(live === (if (ra.isSuccess) Seq((1, "a")) else Seq((2, "b"))))
    val hidden = new java.io.File(dir, "t.snapshot.parquet").list().filter(_.startsWith("."))
      .filterNot(_.endsWith(".crc"))
    assert(hidden.isEmpty, s"a writer's rows hide inside the live snapshot: ${hidden.mkString(", ")}")
    val leftover = new java.io.File(dir).list().filter(n => n.contains("tmp-") || n.contains("partial_written"))
    assert(leftover.isEmpty, s"left behind: ${leftover.mkString(", ")}")
    // the store stays writable
    store.write("t", Seq((3, "c")).toDF("id", "v"))
    assert(store.read("t").get.as[(Int, String)].collect().toSeq === Seq((3, "c")))
  }
}

/** The local file system, pausing the armed thread once, right after it
  * renames a snapshot to its lock path, until the test resumes it. */
class ParkPausingFs extends LocalFileSystem {
  override def rename(src: Path, dst: Path): Boolean = {
    val ok = super.rename(src, dst)
    if (ok && dst.getName.endsWith(".hg.partial_written.lock") &&
        ParkPausingFs.pausing.compareAndSet(Thread.currentThread(), null)) {
      ParkPausingFs.parked.countDown()
      ParkPausingFs.resume.await(120, java.util.concurrent.TimeUnit.SECONDS)
    }
    ok
  }
}

object ParkPausingFs {
  import java.util.concurrent.CountDownLatch
  val pausing = new java.util.concurrent.atomic.AtomicReference[Thread]()
  @volatile var parked = new CountDownLatch(1)
  @volatile var resume = new CountDownLatch(1)
  def arm(): Unit = {
    parked = new CountDownLatch(1)
    resume = new CountDownLatch(1)
  }
}
