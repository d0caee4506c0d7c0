package graft

import graft.operators.SnapshotStore
import graft.streaming.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streamingUpsert merges each micro-batch into the snapshot store") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, String)]
    val store = new SnapshotStore(spark, tmpDir("stream_snap_"))
    val stream = mem.toDF.toDF("id", "v")
    val writer = Streaming.streamingUpsert(stream, store, "t", Seq("id"))
      .option("checkpointLocation", tmpDir("ckpt_"))
      .trigger(Trigger.AvailableNow())

    mem.addData((1, "a"), (2, "b"))
    writer.start().awaitTermination()
    mem.addData((2, "b2"), (3, "c"))
    Streaming.streamingUpsert(mem.toDF.toDF("id", "v"), store, "t", Seq("id"))
      .option("checkpointLocation", tmpDir("ckpt2_"))
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

    val out = store.read("t").get.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(out.toSeq === Seq((1, "a"), (2, "b2"), (3, "c")))
  }

  test("streamingNearDupIngest admits only history-novel docs across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val idx = new graft.operators.NearDupIndex(spark, tmpDir("stream_ndix_"),
      shingleSize = 2, bands = 16, rowsPerBand = 2, threshold = 0.5, numBuckets = 8)
    val mem = MemoryStream[(Long, String)]
    val novel = scala.collection.mutable.ArrayBuffer[Long]()
    def run(): Unit =
      Streaming.streamingIngest(mem.toDF.toDF("doc_id", "text"))(
          idx.ingest(_, "doc_id", "text")) { nv =>
          novel ++= nv.select("doc_id").collect().map(_.getLong(0)): Unit
        }
        .option("checkpointLocation", tmpDir("ckpt_ndix_"))
        .trigger(Trigger.AvailableNow()).start().awaitTermination()

    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "entirely different content about spark structured streaming state"
    mem.addData((1L, a), (2L, b))
    run()
    assert(novel.sorted.toSeq === Seq(1L, 2L))
    // batch 2: a near-copy of doc 1 is rejected, fresh content admitted
    novel.clear()
    mem.addData((3L, a + " extra"), (4L, "completely unrelated third topic entirely new words"))
    run()
    assert(novel.sorted.toSeq === Seq(4L))
  }

  test("streamingFuzzyIngest admits only strings beyond maxDist of history") {
    implicit val sqlCtx = spark.sqlContext
    val idx = new graft.operators.FuzzyIndex(spark, tmpDir("stream_fzix_"),
      maxDist = 1, numBuckets = 8)
    val mem = MemoryStream[(Long, String)]
    val novel = scala.collection.mutable.ArrayBuffer[Long]()
    def run(): Unit =
      Streaming.streamingIngest(mem.toDF.toDF("id", "name"))(
          idx.ingest(_, "id", "name")) { nv =>
          novel ++= nv.select("id").collect().map(_.getLong(0)): Unit
        }
        .option("checkpointLocation", tmpDir("ckpt_fzix_"))
        .trigger(Trigger.AvailableNow()).start().awaitTermination()

    mem.addData((1L, "acme corporation"), (2L, "globex industries"))
    run()
    assert(novel.sorted.toSeq === Seq(1L, 2L))
    novel.clear()
    // one-typo copy rejected; a two-edit variant admitted at maxDist=1
    mem.addData((3L, "acme corporatian"), (4L, "acme corporatiXY"))
    run()
    assert(novel.sorted.toSeq === Seq(4L))
    // redelivered content matches its own copy at dist 0
    novel.clear()
    mem.addData((5L, "acme corporatiXY"))
    run()
    assert(novel.isEmpty)
  }

  test("streamingVectorIngest admits only semantically novel vectors") {
    implicit val sqlCtx = spark.sqlContext
    val idx = new graft.operators.VectorIndex(spark, tmpDir("stream_vix_"),
      numBuckets = 8)
    // frozen-centroid contract: initialize from a representative batch
    // BEFORE the stream starts
    val seed = Seq(
      (100L, Seq(1.0f, 0.0f, 0.0f)), (101L, Seq(0.0f, 1.0f, 0.0f)),
      (102L, Seq(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    idx.initialize(seed, "vec_id", "embedding", numCentroids = 2)
    val mem = MemoryStream[(Long, Seq[Float])]
    val novel = scala.collection.mutable.ArrayBuffer[Long]()
    def run(): Unit =
      Streaming.streamingIngest(mem.toDF.toDF("vec_id", "embedding"))(
          idx.ingest(_, "vec_id", "embedding", threshold = 0.99, nProbe = 2)) { nv =>
          novel ++= nv.select("vec_id").collect().map(_.getLong(0)): Unit
        }
        .option("checkpointLocation", tmpDir("ckpt_vix_"))
        .trigger(Trigger.AvailableNow()).start().awaitTermination()

    mem.addData((1L, Seq(1.0f, 0.0f, 0.0f)), (2L, Seq(0.0f, 1.0f, 0.0f)))
    run()
    assert(novel.sorted.toSeq === Seq(1L, 2L))
    novel.clear()
    // a near-copy of vector 1 (cosine ≈ 1) is rejected; an orthogonal
    // direction is admitted
    mem.addData((3L, Seq(0.999f, 0.001f, 0.0f)), (4L, Seq(0.0f, 0.0f, 1.0f)))
    run()
    assert(novel.sorted.toSeq === Seq(4L))
    // redelivered content is suppressed by its own indexed copy
    novel.clear()
    mem.addData((5L, Seq(0.0f, 0.0f, 1.0f)))
    run()
    assert(novel.isEmpty)
  }

  test("streamingHammingIngest admits only signatures beyond maxDist of history") {
    implicit val sqlCtx = spark.sqlContext
    val idx = new graft.operators.HammingIndex(spark, tmpDir("stream_hmix_"),
      maxDist = 1, numBuckets = 8)
    val mem = MemoryStream[(Long, Long)]
    val novel = scala.collection.mutable.ArrayBuffer[Long]()
    def run(): Unit =
      Streaming.streamingIngest(mem.toDF.toDF("id", "sig"))(
          idx.ingest(_, "id", "sig")) { nv =>
          novel ++= nv.select("id").collect().map(_.getLong(0)): Unit
        }
        .option("checkpointLocation", tmpDir("ckpt_hmix_"))
        .trigger(Trigger.AvailableNow()).start().awaitTermination()

    mem.addData((1L, 0x1111L), (2L, 0xFF00FF00L))
    run()
    assert(novel.sorted.toSeq === Seq(1L, 2L))
    novel.clear()
    // one-bit variant rejected; a far signature admitted
    mem.addData((3L, 0x1110L), (4L, 0xABC000DEFL))
    run()
    assert(novel.sorted.toSeq === Seq(4L))
    // redelivered content matches its own copy at hamming 0
    novel.clear()
    mem.addData((5L, 0xABC000DEFL))
    run()
    assert(novel.isEmpty)
  }

  test("streamingSpanIngest admits only docs with no history span match") {
    implicit val sqlCtx = spark.sqlContext
    val idx = new graft.operators.SpanIndex(spark, tmpDir("stream_spix_"),
      minShared = 2, numBuckets = 8)
    val mem = MemoryStream[(Long, String)]
    val novel = scala.collection.mutable.ArrayBuffer[Long]()
    def run(): Unit =
      Streaming.streamingIngest(mem.toDF.toDF("doc_id", "text"))(
          idx.ingest(_, "doc_id", "text")) { nv =>
          novel ++= nv.select("doc_id").collect().map(_.getLong(0)): Unit
        }
        .option("checkpointLocation", tmpDir("ckpt_spix_"))
        .trigger(Trigger.AvailableNow()).start().awaitTermination()

    def words(p: String, n: Int): String =
      (0 until n).map(i => s"$p$i").mkString(" ")
    mem.addData((1L, words("alpha", 40)), (2L, words("beta", 40)))
    run()
    assert(novel.sorted.toSeq === Seq(1L, 2L))
    novel.clear()
    // a doc quoting a 20-token run of doc 1 is gated; fresh text admits
    mem.addData(
      (3L, words("pre", 10) + " " + (10 until 30).map(i => s"alpha$i").mkString(" ")),
      (4L, words("gamma", 40)))
    run()
    assert(novel.sorted.toSeq === Seq(4L))
    // redelivery: 4 matches its own copy at containment 1.0
    novel.clear()
    mem.addData((5L, words("gamma", 40)))
    run()
    assert(novel.isEmpty)
  }

  test("streamingErIngest attaches to history clusters and is restart-stable") {
    implicit val sqlCtx = spark.sqlContext
    val fields = Seq(
      graft.operators.Linkage.FieldSpec("name", "name", Some(0.85),
        4000000L, 2500000L, -3000000L))
    val idx = new graft.operators.ErIndex(spark, tmpDir("stream_erix_"),
      fields, Seq(org.apache.spark.sql.functions.substring(
        org.apache.spark.sql.functions.col("name"), 1, 3)),
      scoreThresholdMicro = 2000000L, numBuckets = 8)
    val mem = MemoryStream[(Long, String)]
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long, Boolean)]()
    // stable checkpoint: each run consumes only NEW offsets
    val ckpt = tmpDir("ckpt_erix_")
    def run(): Unit =
      Streaming.streamingIngest(mem.toDF.toDF("id", "name"))(
          idx.ingest(_, "id")) { as =>
          seen ++= as.select("inc_id", "cluster", "matched").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()

    mem.addData((1L, "martha stone"), (2L, "alan turing"))
    run()
    assert(seen.sortBy(_._1).toSeq === Seq((1L, 1L, false), (2L, 2L, false)))
    seen.clear()
    // typo'd martha attaches to cluster 1
    mem.addData((10L, "marhta stone"))
    run()
    assert(seen.toSeq === Seq((10L, 1L, true)))
    seen.clear()
    // redelivered records re-receive their STORED clusters (the all-exact
    // self-match) and the same-pk upserts are no-ops
    mem.addData((10L, "marhta stone"), (1L, "martha stone"))
    run()
    assert(seen.sortBy(_._1).toSeq ===
      Seq((1L, 1L, true), (10L, 1L, true)))
  }

  test("windowedCounts aggregates into event-time tumbling windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData(
      (ts("2024-01-01 00:00:10"), "a"), (ts("2024-01-01 00:00:40"), "a"),
      (ts("2024-01-01 00:01:10"), "b"))
    val windowed = Streaming.windowedCounts(
      mem.toDF.toDF("ts", "k"), "ts", "1 minute", "10 seconds", Seq("k"))
    val q = windowed.writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", tmpDir("ckpt_wc_"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("wc").orderBy("window_start", "k").collect()
      .map(r => (r.getString(2), r.getLong(3)))
    assert(rows.toSeq === Seq(("a", 2L), ("b", 1L)))
  }

  test("dedupStream drops duplicate keys within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Int)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData((ts("2024-01-01 00:00:01"), 1), (ts("2024-01-01 00:00:02"), 1),
      (ts("2024-01-01 00:00:03"), 2))
    val deduped = Streaming.dedupStream(mem.toDF.toDF("ts", "id"), "ts", "1 minute", Seq("id"))
    val q = deduped.writeStream.format("memory").queryName("dd")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmpDir("ckpt_dd_"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("dd").select("id").collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2))
  }

  test("intervalJoin pairs right events inside the left event's window only") {
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val imps = MemoryStream[(Long, java.sql.Timestamp, String)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = Streaming.intervalJoin(
      imps.toDF.toDF("user", "ts", "imp"),
      clicks.toDF.toDF("user", "ts", "click"),
      "user", "ts", lowerSec = 0, upperSec = 60, watermark = "10 seconds")
    val q = joined.writeStream.format("memory").queryName("ivj")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmpDir("ckpt_ivj_"))
      .trigger(Trigger.AvailableNow())
    imps.addData((1L, ts(0), "i1"), (2L, ts(0), "i2"))
    clicks.addData(
      (1L, ts(30), "c-in"),     // inside [0, 60]
      (1L, ts(90), "c-late"),   // outside the window
      (2L, ts(60), "c-edge"),   // inclusive upper bound
      (3L, ts(10), "c-nokey"))  // no matching impression
    q.start().awaitTermination()
    val got = spark.table("ivj")
      .select("user", "l_imp", "r_click")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set((1L, "i1", "c-in"), (2L, "i2", "c-edge")))
  }

  test("streaming sessionize closes sessions once the watermark passes the gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val sessions = Streaming.sessionize(
      mem.toDF.toDF("user_id", "ts"), "user_id", "ts",
      gapMs = 60000, watermark = "10 seconds")
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", tmpDir("ckpt_sess_"))
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      mem.addData((7L, ts("2024-01-01 00:00:01")), (7L, ts("2024-01-01 00:00:02")))
      q.processAllAvailable()
      // advance event time far past user 7's gap; watermark moves, then
      // the following batch fires the timeout
      mem.addData((8L, ts("2024-01-01 00:10:00")))
      q.processAllAvailable()
      mem.addData((9L, ts("2024-01-01 00:20:00")))
      q.processAllAvailable()
      val out = spark.table("sess").collect()
        .map(r => (r.getLong(0), r.getLong(3)))
      assert(out.contains((7L, 2L)), s"expected user 7's closed 2-event session, got ${out.toSeq}")
    } finally q.stop()
  }

  test("streamingSinger appends schema + records + state per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, String)]
    val out = s"${tmpDir("stream_singer_")}/data.singer"
    val ckpt = tmpDir("ckpt_ss_")
    mem.addData((1, "a"), (2, "b"))
    Streaming.streamingSinger(mem.toDF.toDF("id", "v"), "t", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    // restart with the SAME checkpoint: only the new row arrives (batch 1)
    mem.addData((3, "c"))
    Streaming.streamingSinger(mem.toDF.toDF("id", "v"), "t", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def types() = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(out))
      .toArray.toSeq.map(l => mapper.readTree(l.toString).get("type").asText())
    assert(types() === Seq("SCHEMA", "RECORD", "RECORD", "STATE",
      "SCHEMA", "RECORD", "STATE"))
    // crash-replay simulation: a batch whose id EQUALS the sidecar marker
    // is skipped (no duplicate append)...
    val marker = java.nio.file.Paths.get(out + ".batchid")
    java.nio.file.Files.write(marker, "0".getBytes("UTF-8"))
    Streaming.streamingSinger(mem.toDF.toDF("id", "v"), "t", out)
      .option("checkpointLocation", tmpDir("ckpt_ss_replay_"))
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(types() === Seq("SCHEMA", "RECORD", "RECORD", "STATE",
      "SCHEMA", "RECORD", "STATE"))
    // ...but a NEW query whose ids differ from the marker always appends —
    // the guard can duplicate, never lose
    java.nio.file.Files.write(marker, "99".getBytes("UTF-8"))
    Streaming.streamingSinger(mem.toDF.toDF("id", "v"), "t", out)
      .option("checkpointLocation", tmpDir("ckpt_ss_fresh_"))
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(types().count(_ == "SCHEMA") === 3)
  }

  test("streamingSinger: an empty micro-batch appends no bytes and leaves the marker") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.{Files, Paths}
    val dir = tmpDir("stream_singer_empty_")
    def run(mem: MemoryStream[(Int, String)], out: String, ckpt: String): Long = {
      val q = Streaming.streamingSinger(mem.toDF.toDF("id", "v").filter($"id" > 0), "t", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.lastProgress.numInputRows
    }
    val mem = MemoryStream[(Int, String)]
    val out = s"$dir/data.singer"
    val ckpt = tmpDir("ckpt_ss_empty_")
    mem.addData((1, "a"))
    run(mem, out, ckpt)
    val bytes = Files.readAllBytes(Paths.get(out))
    def marker(p: String) = new String(Files.readAllBytes(Paths.get(p + ".batchid")), "UTF-8")
    assert(marker(out) === "0")
    // batch 1 reads one row and the filter leaves none
    mem.addData((-1, "filtered"))
    assert(run(mem, out, ckpt) === 1)
    assert(Files.readAllBytes(Paths.get(out)).sameElements(bytes), "an empty batch appended")
    assert(marker(out) === "0")
    // an empty first batch creates neither the file nor the marker
    val other = MemoryStream[(Int, String)]
    other.addData((-2, "filtered"))
    val fresh = s"$dir/fresh.singer"
    assert(run(other, fresh, tmpDir("ckpt_ss_empty_fresh_")) === 1)
    assert(!Files.exists(Paths.get(fresh)) && !Files.exists(Paths.get(fresh + ".batchid")))
  }

  test("streamingSinger survives a torn .batchid marker (at-least-once, never wedged)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, String)]
    val out = s"${tmpDir("stream_singer_torn_")}/data.singer"
    // a crash mid-write can leave an empty or garbage marker; the stream
    // must treat it as "no marker" and append (worst case one duplicate
    // batch), not throw NumberFormatException on every restart forever
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(out + ".batchid"),
      "garbage".getBytes("UTF-8"))
    mem.addData((1, "a"))
    Streaming.streamingSinger(mem.toDF.toDF("id", "v"), "t", out)
      .option("checkpointLocation", tmpDir("ckpt_ss_torn_"))
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(out))
      .toArray.toSeq.map(_.toString)
    assert(lines.map(l => mapper.readTree(l).get("type").asText()) ===
      Seq("SCHEMA", "RECORD", "STATE"))
    // and the marker healed to the last appended batch id
    val healed = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out + ".batchid")), "UTF-8").trim
    assert(healed === "0")
  }

  test("streamingCmsIngest: merged sketch equals the one-shot sketch of all batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val dir = tmpDir("stream_cms_")
    // ONE checkpoint across runs: a fresh checkpoint would redeliver all
    // data as batch 0, which the replay guard rightly skips
    val ckpt = tmpDir("ckpt_cms_")
    def ingest() = Streaming.streamingCmsIngest(
        mem.toDF.toDF("text"), "text", depth = 4, width = 512, dir = dir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

    mem.addData("cat cat dog", "mouse")
    ingest()
    mem.addData("dog dog dog owl", "cat")
    ingest()

    val (merged, lastId) = Streaming.readVersioned(spark, dir)
    assert(lastId >= 0)
    val got = merged.get.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val oneShot = graft.operators.Sketches.cmsSketch(
        graft.operators.Sketches.termCounts(
          Seq("cat cat dog", "mouse", "dog dog dog owl", "cat").toDF("text"), "text"),
        "term", "cnt", 4, 512)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === oneShot)
    // probing the persisted sketch reads exact counts in a wide sketch
    val est = graft.operators.Sketches.cmsEstimate(
        merged.get, Seq("cat", "dog", "zebra").toDF("term"), "term", 4, 512)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est === Map("cat" -> 3L, "dog" -> 4L, "zebra" -> 0L))
  }

  test("streamingHllIngest: merged registers equal the one-shot sketch; estimate works") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val dir = tmpDir("stream_hll_")
    val ckpt = tmpDir("ckpt_hll_")
    def ingest() = Streaming.streamingHllIngest(
        mem.toDF.toDF("v"), "v", m = 256, dir = dir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

    mem.addData((1 to 400).map(i => s"val$i"): _*)
    ingest()
    mem.addData((300 to 800).map(i => s"val$i"): _*) // overlap: union = 800 distinct
    ingest()

    val (regs, _) = Streaming.readVersioned(spark, dir)
    val oneShot = graft.operators.Sketches.hllRegisters(
        (1 to 800).map(i => s"val$i").toDF("v"), Seq.empty, "v", 256)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = regs.get.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === oneShot)
    val est = graft.operators.Sketches.hllEstimateFromRegisters(
      regs.get, Seq.empty, 256).collect()(0).getDouble(0)
    assert(math.abs(est - 800) / 800 < 0.195, s"est $est too far from 800")
  }

  test("sketch ingest survives a torn LATEST pointer (reads as no sketch, never crashes)") {
    val dir = tmpDir("stream_cms_torn_")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/LATEST"), "garbage ")
    val (sketch, id) = Streaming.readVersioned(spark, dir)
    assert(sketch.isEmpty && id === -1L)
  }

  test("sketch ingest keeps its state on the Hadoop file system of a file: URI dir") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val local = tmpDir("stream_cms_uri_")
    val dir = new java.io.File(local).toURI.toString.stripSuffix("/") // file:/tmp/…
    val ckpt = tmpDir("ckpt_cms_uri_")
    for (text <- Seq("a b", "b c", "c d")) {
      mem.addData(text)
      Streaming.runAvailableNow(
        Streaming.streamingCmsIngest(mem.toDF.toDF("text"), "text", 4, 512, dir), ckpt)
    }
    // the pointer and the pruner see the dir Spark wrote: one version is left
    val versions = new java.io.File(local).list().filter(_.matches("v\\d+")).toSeq
    val (sketch, id) = Streaming.readVersioned(spark, dir)
    assert(versions === Seq(s"v$id"), versions)
    // and nothing landed in a relative `file:` dir under the working dir
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    val est = graft.operators.Sketches.cmsEstimate(
        sketch.get, Seq("b", "d").toDF("term"), "term", 4, 512)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est === Map("b" -> 2L, "d" -> 1L))
  }

  test("streamingKmvIngest: merged bottom-k equals the one-shot sample of all batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val dir = tmpDir("stream_kmv_")
    val ckpt = tmpDir("ckpt_kmv_")
    def ingest() = Streaming.streamingKmvIngest(
        mem.toDF.toDF("id", "v"), "id", "v", k = 10, seed = 7L, dir = dir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

    mem.addData((1L to 40L).map(i => (i, i.toDouble)): _*)
    ingest()
    mem.addData((41L to 100L).map(i => (i, i.toDouble)): _*)
    ingest()

    val (merged, lastId) = Streaming.readVersioned(spark, dir)
    assert(lastId >= 0)
    val got = merged.get.orderBy("priority")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val oneShot = graft.operators.Sketches.kmvSample(
        (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "value"),
        "id", "value", k = 10, seed = 7L)
      .orderBy("priority")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === oneShot, "min-k lattice: merge must equal one-shot")
    // quantile estimates read straight off the persisted sample
    val q = graft.operators.Sketches.kmvQuantiles(merged.get, "value",
        Seq(0.5)).collect().head
    assert(q.getDouble(1) >= 1.0 && q.getDouble(1) <= 100.0)
    assert(q.getLong(2) === 10L)
  }

  test("streamingCmsIngest skips a redelivered batch id (no double count)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val dir = tmpDir("stream_cms_replay_")
    mem.addData("alpha alpha")
    // two runs with FRESH checkpoints → the second redelivers batch 0,
    // which must hit the equality guard and leave the sketch unchanged
    Streaming.streamingCmsIngest(mem.toDF.toDF("text"), "text", 4, 512, dir)
      .option("checkpointLocation", tmpDir("ckpt_r1_"))
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    Streaming.streamingCmsIngest(mem.toDF.toDF("text"), "text", 4, 512, dir)
      .option("checkpointLocation", tmpDir("ckpt_r2_"))
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val est = graft.operators.Sketches.cmsEstimate(
        Streaming.readVersioned(spark, dir)._1.get,
        Seq("alpha").toDF("term"), "term", 4, 512)
      .collect()(0).getLong(1)
    assert(est === 2L)
  }

  test("streamingProfileIngest: merged stats equal the one-shot profile; replay skipped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Double)]
    val dir = tmpDir("stream_prof_")
    // one SHARED checkpoint: batch ids advance across ingests (a fresh
    // checkpoint would restart at 0 and the replay guard would skip it)
    val ckpt = tmpDir("ckpt_p1_")
    def ingest() = Streaming.streamingProfileIngest(
        mem.toDF.toDF("id", "s", "x"), Seq("id", "s", "x"), dir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

    mem.addData((1L, "aa", 1.5), (2L, "bbbb", -2.0))
    ingest()
    mem.addData((3L, "c", 9.0))
    ingest()

    val (stats, _) = Streaming.readVersioned(spark, dir)
    val got = stats.get.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), Option(r.get(3)), Option(r.get(4)),
        r.getLong(7))).toMap
    val oneShot = graft.operators.Profiling.profileStats(
        Seq((1L, "aa", 1.5), (2L, "bbbb", -2.0), (3L, "c", 9.0))
          .toDF("id", "s", "x"), Seq("id", "s", "x"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)), Option(r.get(4)),
          r.getLong(7))).toMap
    assert(got === oneShot)
    assert(got("x")._3 === Some(-2.0) && got("x")._4 === Some(9.0))
    assert(got("s")._5 === 7L)   // "aa" + "bbbb" + "c"
    // redelivered batch id (checkpoint-recovery shape: single-batch
    // store, rerun with a fresh checkpoint redelivers batch 0) is
    // skipped by the equality guard - the CMS replay contract
    val mem2 = MemoryStream[(Long, String, Double)]
    val dir2 = tmpDir("stream_prof_replay_")
    mem2.addData((1L, "aa", 1.5))
    def replay(ck: String) = Streaming.streamingProfileIngest(
        mem2.toDF.toDF("id", "s", "x"), Seq("id", "s", "x"), dir2)
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    replay(tmpDir("ckpt_p2a_"))
    replay(tmpDir("ckpt_p2b_"))
    val (after, _) = Streaming.readVersioned(spark, dir2)
    assert(after.get.collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap.values.toSet === Set(1L))  // not double-counted
  }

  test("streamingPreferenceIngest: merged counts refit == one-shot BT fit") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val dir = tmpDir("stream_pref_")
    val ckpt = tmpDir("ckpt_pref_")
    def ingest() = Streaming.streamingPreferenceIngest(
        mem.toDF.toDF("w", "l"), "w", "l", dir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

    val batch1 = Seq.fill(3)(("A", "B")) ++ Seq(("B", "A"), ("C", "C"))
    val batch2 = Seq.fill(2)(("B", "C")) ++ Seq(("A", "C"))
    mem.addData(batch1: _*)
    ingest()
    mem.addData(batch2: _*)
    ingest()

    val (merged, _) = Streaming.readVersioned(spark, dir)
    // self-pairs dropped at ingest; counts are the exact duel totals
    val counts = merged.get.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts(("A", "B")) === 3L && counts(("B", "A")) === 1L)
    assert(counts(("B", "C")) === 2L && counts(("A", "C")) === 1L)
    assert(!counts.contains(("C", "C")))
    // refit from the persisted state == one-shot fit over all duels
    val refit = graft.operators.Training.bradleyTerryFromCounts(
        merged.get, "w", "l", "c", rounds = 5)
      .collect().map(r => (r.getString(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e9))).sortBy(_._1).toSeq
    val oneShot = graft.operators.Training.bradleyTerry(
        (batch1 ++ batch2).toDF("w", "l"), "w", "l", rounds = 5)
      .collect().map(r => (r.getString(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e9))).sortBy(_._1).toSeq
    assert(refit === oneShot)
  }
}
