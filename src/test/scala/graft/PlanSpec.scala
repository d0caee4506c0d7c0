package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan regression guards for the scale-critical operators: these
  * lock in the plan SHAPES that make the 100 TB story true, so a refactor
  * that quietly reintroduces a shuffle or un-gates a broadcast fails here
  * rather than in production. */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def vecs =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("IVF assignment has no Exchange between the corpus scan and centroid argmax") {
    val (_, assigned) = Similarity.ivfIndex(vecs, "vec_id", "embedding", 4)
    val plan = physical(assigned)
    // the assignment itself is a projection over the scan: one stage,
    // no Exchange, no Window, no Join
    assert(!plan.contains("Exchange"), s"assignment shuffles:\n$plan")
    assert(!plan.contains("Window"), s"assignment plans a window:\n$plan")
    assert(!plan.contains("Join"), s"assignment plans a join:\n$plan")
  }

  test("video synthesize → decode → frame-stats is one narrow stage (no Exchange)") {
    import graft.operators.Multimodal
    val vids = Multimodal.synthesizeVideos(spark.range(1, 50).toDF("id"), "id")
    val out = Multimodal.sampleFrameStats(
      Multimodal.decodeMeta(vids, codec = Multimodal.JdkAvCodec), everyMs = 80)
    val plan = physical(out)
    // three chained mapPartitions stages over the id scan: per-partition
    // work, no shuffle anywhere — the shape that scales to any corpus
    assert(!plan.contains("Exchange"), s"video chain shuffles:\n$plan")
    assert(!plan.contains("Join"), s"video chain plans a join:\n$plan")
  }

  test("ivfIndex builds + materializes the assignment in at most 3 jobs") {
    // the scale contract: seed top-K scan, refinement aggregate, and the
    // caller's final-assignment materialization — no separate count() or
    // dimension-probe jobs walking the corpus
    // AQE splits one query into per-stage jobs, which would double-count
    // single-pass queries — disable it so jobs == logical corpus passes
    val sc = spark.sparkContext
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // construct the reader outside the group: spark.read.parquet runs a
    // one-off schema-inference job that is not an ivfIndex corpus pass
    val corpus = vecs
    sc.setJobGroup("ivf-jobcount", "ivfIndex job budget")
    try {
      val (_, assigned) = Similarity.ivfIndex(corpus, "vec_id", "embedding", 8)
      assigned.count()
    } finally {
      sc.clearJobGroup()
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
    val jobIds = sc.statusTracker.getJobIdsForGroup("ivf-jobcount")
    val detail = jobIds.sorted.map { id =>
      val st = sc.statusTracker.getJobInfo(id).map(_.stageIds.toSeq).getOrElse(Nil)
      val names = st.flatMap(s => sc.statusTracker.getStageInfo(s).map(_.name()))
      s"job $id: ${names.mkString(" | ")}"
    }.mkString("\n")
    assert(jobIds.length <= 3, s"ivfIndex ran ${jobIds.length} jobs, expected ≤ 3\n$detail")
  }

  test("decontaminate broadcasts the benchmark; the corpus never sort-merge-joins") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val bench = docs.limit(20).select(col("text").as("bench_text"))
    val plan = physical(
      Dedup.decontaminate(docs, "doc_id", "text", bench, "bench_text", ngram = 3))
    // the scale contract: benchmark shingles and the contaminated id set
    // ride broadcasts; the corpus streams through broadcast joins with no
    // corpus-wide SortMergeJoin (exchanges exist only for the tiny
    // matched-subset aggregate and the benchmark-side distinct)
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus sort-merge-joins:\n$plan")
  }

  test("jaccardForPairs filters the corpus to the pair ids before shingling") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val plan = physical(Dedup.jaccardForPairs(docs, pairs, "doc_id", "text"))
    // the scale contract: a small pair list must not pay a corpus-wide
    // shingle shuffle — the corpus is semi-joined against the broadcast
    // pair-id set before any explode/aggregate
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"corpus not semi-join-filtered by pair ids:\n$plan")
    // the printed tree lists parents first: the semi-join must sit BELOW
    // the shingle explode (Generate), i.e. print after it — that is what
    // "filter before shingling" looks like physically
    val explodeIdx = plan.indexOf("Generate")
    assert(explodeIdx >= 0 && plan.indexOf("LeftSemi", explodeIdx) > explodeIdx,
      s"pair-id semi-join does not feed the shingle explode:\n$plan")
  }

  test("duplicateSpans aggregates grams map-side and never sort-merge-joins the gram stream") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val plan = physical(Dedup.duplicateSpans(docs, "doc_id", "text", minSpanTokens = 8))
    // scale contract: the duplicated-hash set rides a broadcast back over
    // the gram stream (no corpus-wide SortMergeJoin), and the min/max
    // dup detection partially aggregates before its exchange
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"gram stream sort-merge-joins:\n$plan")
    val i = plan.indexOf("Exchange")
    assert(i >= 0 && plan.indexOf("HashAggregate", i) >= 0,
      s"no map-side partial aggregate under the exchange:\n$plan")
  }

  test("duplicateChunkStats keeps the chunk stream off any sort-merge join") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val plan = physical(Dedup.duplicateChunkStats(docs, "doc_id", "text",
      avgChunkTokens = 8))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"chunk stream sort-merge-joins:\n$plan")
    val i = plan.indexOf("Exchange")
    assert(i >= 0 && plan.indexOf("HashAggregate", i) >= 0,
      s"no map-side partial aggregate under the exchange:\n$plan")
  }

  test("parquet scan prunes columns and pushes filters (documents projection)") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 100)
      .select("doc_id")
    val plan = physical(d)
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"),
      s"scan reads more than the projection:\n$plan")
  }

  test("exactDedup's winner aggregate exchanges only hash + order columns") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val plan = physical(Dedup.exactDedup(d, Seq("text"), "doc_id",
      assumeUniqueOrder = true))
    // the winners side aggregates (hash, order) before any exchange; the
    // full rows only cross the final semi-join. The pre-shuffle partial
    // aggregate must not carry the text column.
    val aggLines = plan.linesIterator.filter(_.contains("HashAggregate")).toSeq
    assert(aggLines.nonEmpty)
    assert(aggLines.forall(!_.contains("text#")),
      s"winner aggregate carries document text:\n${aggLines.mkString("\n")}")
    assert(plan.contains("LeftSemi"), s"expected a semi-join:\n$plan")
  }

  test("oversized mergeIdFromSnapshot lookup is not hint-broadcast") {
    val df = Seq(("r1", "e1")).toDF("row", "externalId")
    val ids = spark.range(100000)
      .select(concat(lit("e"), col("id")).as("InputId"), col("id").as("RemoteId"))
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      val out = graft.operators.Snapshot.mergeIdFromSnapshot(df, ids)
      assert(!out.queryExecution.logical.toString.contains("Hint"),
        "oversized ids snapshot still hint-broadcast")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("stripMarkup is a pure projection over a pruned scan") {
    import graft.operators.TextAnalysis
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), TextAnalysis.stripMarkup(col("text")).as("clean"))
    val plan = physical(d)
    // crawl-ingest front door: one narrow stage, scan reads only the two
    // columns the projection needs
    assert(!plan.contains("Exchange"), s"stripMarkup shuffles:\n$plan")
    assert(!plan.contains("Join"), s"stripMarkup plans a join:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan reads more than the projection:\n$plan")
  }

  test("knnJoin assigns inline on both sides and pushes the top-k limit into the window") {
    val plan = physical(
      Similarity.knnJoin(vecs, "vec_id", "embedding", k = 3, numCentroids = 4))
    // the quadratic term is blocked by the centroid_id equi-join; the only
    // hash exchange is the per-query top-k window, and the rank<=k filter
    // must reach the window operator as a group-limit (partial top-k before
    // the exchange), or the join output is materialized corpus-wide
    assert(plan.contains("WindowGroupLimit"),
      s"top-k not pushed into the window:\n$plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"expected exactly 1 hash exchange (the top-k window), got $hashExchanges:\n$plan")
    // centroid assignment is a projection over the scan on BOTH join sides —
    // no exchange, aggregate, or window below the join inputs
    assert(plan.contains("nearest_centroid"), s"assignment not inline:\n$plan")
  }

  test("incrementalNew: definitely-new rows cross no join; history scan is bucket-pruned") {
    import graft.operators.BucketedSnapshotStore
    val dir = java.nio.file.Files.createTempDirectory("gs_planbloom_").toString
    val store = new BucketedSnapshotStore(spark, dir, numBuckets = 8, keyBloomFpp = 0.01)
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "source")
    store.write("docs", d.filter(col("doc_id") % 3 === 0), Seq("doc_id"))
    val plan = physical(
      store.incrementalNew("docs", d.filter(col("doc_id") % 2 === 0), Seq("doc_id")))
    // the 100 TB contract: the bloom-cleared branch is a bare filtered scan
    // (one join TOTAL, on the maybe side only), and the history side reads
    // only the candidate buckets
    assert(plan.contains("bloom_bank_might_contain"), s"no bloom probe:\n$plan")
    val joins = "Join".r.findAllIn(plan).size
    assert(joins == 1, s"expected exactly 1 join (maybe-side anti), got $joins:\n$plan")
    assert(plan.contains("LeftAnti"), s"exact confirm is not an anti-join:\n$plan")
    assert(plan.contains("PartitionFilters: [__gs_bucket"),
      s"history scan not bucket-pruned:\n$plan")
  }

  test("readForKeys broadcasts a small key set to its semi join; no sort-merge join") {
    import graft.operators.BucketedSnapshotStore
    val store = new BucketedSnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("gs_planrfk_").toString, numBuckets = 16)
    store.write("t", (1 to 1000).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    // a checkpointed key frame built from an RDD: like the indexes' derived
    // key frames, it carries no usable size estimate, which alone plans a
    // sort-merge semi join
    val keys = spark.sparkContext.parallelize(1 to 40).toDF("id").localCheckpoint(true)
    val got = store.readForKeys("t", keys, Seq("id"))
    val plan = physical(got)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(got.count() === 40)
  }

  test("a warm NearDupIndex.ingest of a small batch stays within its job budget") {
    import graft.operators.NearDupIndex
    // 40 docs of 30 words, no word shared between two docs
    val docs = (0L until 40L)
      .map(i => (i, (0 until 30).map(j => s"d${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val idx = new NearDupIndex(spark,
      java.nio.file.Files.createTempDirectory("gs_planndix_").toString, numBuckets = 16)
    idx.add(docs.filter($"doc_id" < 20), "doc_id", "text")
    idx.ingest(docs.filter($"doc_id" >= 20 && $"doc_id" < 30), "doc_id", "text")
    // warm: both tables hold history; 10 novel docs plus 5 exact copies
    val batch = docs.filter($"doc_id" >= 30 && $"doc_id" < 40)
      .unionByName(docs.filter($"doc_id" < 5).select(($"doc_id" + 500).as("doc_id"), $"text"))
    var novel = 0L
    val jobs = jobsRun { novel = idx.ingest(batch, "doc_id", "text").count() }
    assert(novel === 10)
    // measured under AQE on local[4], the count included
    val budget = 26
    assert(jobs <= budget, s"ingest ran $jobs jobs, budget $budget")
  }

  test("a warm sync (dropRedundant, snapshotRecords, Singer export) stays within its job budget") {
    import graft.export.Exporter
    import graft.operators.{Snapshot, SnapshotStore}
    val root = java.nio.file.Files.createTempDirectory("gs_plansync_").toString
    val store = new SnapshotStore(spark, s"$root/snapshots")
    def batch(from: Int, to: Int, tag: String) = (from until to)
      .map(i => (i.toLong, s"c${i % 7}", s"$tag$i", i * 1.5)).toDF("id", "customer", "memo", "amount")
      .withColumn("unused", lit(null).cast("string"))
    def sync(df: DataFrame, out: String): Unit = {
      val changed = Snapshot.dropRedundant(store, "Invoice", df, Seq("id"))
      val snap = Snapshot.snapshotRecords(store, "Invoice", changed, Seq("id"))
      Exporter.export(snap, "Invoice", out, "singer", keyProperties = Seq("id"), env = Map.empty)
    }
    sync(batch(0, 40, "a"), s"$root/out0")
    // warm: both snapshots hold history; 20 updated, 10 new, 10 resent rows
    val jobs = jobsRun { sync(batch(20, 50, "b").unionByName(batch(10, 20, "a")), s"$root/out1") }
    val singer = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$root/out1/Invoice.singer"))
    assert(singer.linesIterator.count(_.startsWith("""{"type": "RECORD"""")) === 50)
    assert(!singer.contains("unused"), "the all-null column reached the Singer file")
    // measured under AQE on local[4]; 14 while the three store reads each
    // inferred their schema in a job and the all-null column scan crossed
    // an exchange
    val budget = 10
    assert(jobs <= budget, s"sync ran $jobs jobs, budget $budget")
  }

  test("cmsEstimate broadcasts the sketch; the probe side never sort-merge-joins") {
    import graft.operators.Sketches
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val tf = Sketches.termCounts(docs, "text")
    val sketch = Sketches.cmsSketch(tf, "term", "cnt", 4, 1024)
    val plan = physical(Sketches.cmsEstimate(sketch, tf, "term", 4, 1024))
    assert(plan.contains("BroadcastHashJoin"), s"sketch not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"probe sort-merge-joins:\n$plan")
  }

  test("hybridSearch: candidate pruning is TakeOrdered, never a global sort or cartesian") {
    import graft.operators.Ranking
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Ranking.hybridSearch(docs, "doc_id", "text", emb, "vec_id",
      "embedding", Seq("join"), Seq.fill(64)(0.1), candidates = 20, topK = 5)
    val plan = physical(out)
    assert(plan.contains("TakeOrderedAndProject"), s"no heap-based top-k:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"fusion goes cartesian:\n$plan")
    // the only Sort allowed feeds the bounded post-limit windows, never a
    // corpus-wide ordering: every Sort must sit above a limit
    assert(!plan.contains("Exchange rangepartitioning"),
      s"corpus-wide sort exchange:\n$plan")
  }

  test("importanceWeights scoring is a pure projection: no join, no exchange") {
    import graft.operators.Importance
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = physical(Importance.importanceWeights(
      docs.select("doc_id", "text"), docs.limit(20).select("text"),
      "doc_id", "text", buckets = 1024))
    // the weight table rides as a dense array literal inside the fold —
    // the scoring pass must be Project+Filter over the scan, nothing else
    assert(!plan.contains("Join"), s"scoring plans a join:\n$plan")
    assert(!plan.contains("Exchange"), s"scoring shuffles:\n$plan")
    assert(!plan.contains("HashAggregate"), s"scoring aggregates:\n$plan")
  }

  test("containmentPairs: no cartesian; the candidate join keys on the shingle hash") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val plan = physical(Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.9))
    assert(!plan.contains("CartesianProduct"), s"containment goes cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"containment nested-loops:\n$plan")
  }

  test("prioritySampleK: top-k is a heap (TakeOrderedAndProject), never a global sort") {
    import graft.operators.Sampling
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = physical(Sampling.prioritySampleK(docs, "doc_id", "n_chars", 50))
    assert(plan.contains("TakeOrderedAndProject"), s"no heap-based top-k:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"corpus-wide sort exchange:\n$plan")
  }

  test("kmvSample: bottom-k is a heap (TakeOrderedAndProject), never a global sort") {
    import graft.operators.Sketches
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = physical(Sketches.kmvSample(docs, "doc_id", "n_chars", 64, 3L))
    assert(plan.contains("TakeOrderedAndProject"), s"no heap-based bottom-k:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"corpus-wide sort exchange:\n$plan")
  }

  test("collocations: candidate cut joins the vocab frames, top-N is TakeOrdered") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = physical(TextAnalysis.collocations(docs, "text", 2L, 50))
    assert(plan.contains("TakeOrderedAndProject"), s"no heap-based top-N:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"collocations go cartesian:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"corpus-wide sort exchange:\n$plan")
  }

  test("discreteQuantilesPerGroup: quantile pick is a broadcast join, no cartesian") {
    import graft.operators.Analytics
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select("event_type", "event_id", "value")
    val plan = physical(Analytics.discreteQuantilesPerGroup(
      ev, "event_type", "event_id", "value", Seq(0.5, 0.9)))
    assert(plan.contains("BroadcastHashJoin"), s"target join not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"quantile pick goes cartesian:\n$plan")
  }

  test("cohortRetention: cohort-size join broadcasts, no cartesian") {
    import graft.operators.Analytics
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val plan = physical(Analytics.cohortRetention(ev, "user_id", "ts"))
    assert(plan.contains("BroadcastHashJoin"), s"sizes not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cohort goes cartesian:\n$plan")
  }

  test("transitionMatrix: one keyed window, totals broadcast") {
    import graft.operators.Analytics
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val plan = physical(Analytics.transitionMatrix(ev, "user_id", "ts",
      "event_type", "event_id"))
    assert(plan.contains("BroadcastHashJoin"), s"totals not broadcast:\n$plan")
    // the lag window must be keyed by user, never a global single partition
    assert(!plan.contains("Window [") ||
      plan.contains("windowspecdefinition(user_id"),
      s"window not keyed by user:\n$plan")
  }

  test("editDistancePairs: candidates equi-join on segment keys, never cartesian") {
    val parts = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      .select("p_partkey", "p_name")
    val plan = physical(Dedup.editDistancePairs(parts, "p_partkey", "p_name", 1))
    assert(!plan.contains("CartesianProduct"), s"edit-distance goes cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"edit-distance nested-loops:\n$plan")
  }

  test("TPC-H q1 aggregates map-side before the exchange (partial aggregation)") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val agg = li.filter(col("l_shipdate") <= "1998-09-02")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
    val plan = physical(agg)
    val i = plan.indexOf("Exchange")
    assert(i >= 0)
    // a partial HashAggregate must appear BELOW (after, in tree print) the exchange
    assert(plan.indexOf("HashAggregate", i) >= 0,
      s"no map-side partial aggregate under the exchange:\n$plan")
  }

  test("bloomPrunedJoin: the bloom filter sits below the join, on the big side") {
    val big = spark.range(10000).select(col("id").as("k"),
      (col("id") * 2).as("v"))
    val small = spark.range(50).select((col("id") * 100).as("k"))
    val plan = physical(
      graft.operators.Ops.bloomPrunedJoin(big, small, Seq("k")))
    val f = plan.indexOf("bloom_might_contain")
    val j = plan.indexOf("Join")
    assert(f >= 0, s"no bloom filter in plan:\n$plan")
    assert(j >= 0 && f > j,
      s"bloom filter not below the join (tree prints top-down):\n$plan")
  }

  test("substringSearch (indexable needles): no cartesian product") {
    val docs = spark.range(200).select(col("id").as("doc_id"),
      concat(lit("some text payload number "), col("id")).as("text"))
    val plan = physical(graft.operators.TextAnalysis.substringSearch(
      docs, "doc_id", "text", Seq("payload num", "text pay")))
    assert(!plan.contains("CartesianProduct"),
      s"substring search plans a cartesian:\n$plan")
  }

  test("sortedNeighborhoodPairs: no single-partition exchange (global rank is distributed)") {
    val ents = spark.range(5000).select(col("id"),
      concat(lit("k"), col("id") % 977).as("name"))
    val plan = physical(graft.operators.Linkage.sortedNeighborhoodPairs(
      ents, "id", col("name"), window = 5))
    assert(!plan.contains("Exchange SinglePartition"),
      s"global-rank path collapses to one partition:\n$plan")
  }

  test("datasetCard: no corpus-sized aggregation buffer (no collect_list anywhere)") {
    // the round-8 verdict's one real find: the card folded the WHOLE
    // corpus's (id, quality) structs into one aggregation buffer. The fix
    // (micro-integer long sum + sha2-hashed distinct) must keep every
    // collect_list out of the plan — this guard makes a reintroduction a
    // red diff. The card runs eagerly (driver-side pivot), so the guard
    // inspects the aggregate it builds from the same projection.
    val docs = spark.range(500).select(col("id").as("doc_id"),
      concat(lit("document text number "), col("id")).as("text"),
      concat(lit("s"), col("id") % 5).as("source"))
    val base = docs.select(col("doc_id"), col("text"), col("source"),
      graft.operators.TextAnalysis.tokenCount(col("text"))
        .cast("long").as("__w"),
      round(graft.operators.TextAnalysis.qualityScore(col("text")), 6)
        .as("__q"))
    val agg = base.agg(count(lit(1)), sum("__w"),
      countDistinct(sha2(col("text"), 256)),
      sum(round(col("__q") * lit(1000000.0)).cast("long")))
    val plan = physical(agg)
    assert(!plan.toLowerCase.contains("collect_list"),
      s"datasetCard aggregate grew a list buffer:\n$plan")
    // and the REAL operator end-to-end still produces the 7-metric card
    val card = graft.operators.Profiling.datasetCard(
      docs, "doc_id", "text", "source")
    assert(card.count() === 7L)
  }

  test("reciprocalBestMatch: id-keyed windows + semi-join, no cartesian") {
    val scored = spark.range(5000).select(
      (col("id") % 700).as("id_a"), (col("id") % 1100).as("id_b"),
      (col("id") % 97 * 100000L).as("score_micro"))
    val plan = physical(graft.operators.Linkage.reciprocalBestMatch(
      scored, minScoreMicro = 100000L))
    assert(!plan.contains("CartesianProduct"),
      s"reciprocal match goes cartesian:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"argmax collapses to one partition:\n$plan")
  }

  test("robustTrendPerGroup: no cartesian, no single-partition rank exchange") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_type"), col("event_id"),
        (col("event_id") % 30).cast("double").as("x"), col("value").as("y"))
    val plan = physical(graft.operators.Analytics.robustTrendPerGroup(
      ev, "event_type", "event_id", "x", "y"))
    assert(!plan.contains("CartesianProduct"),
      s"robust trend goes cartesian:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"per-group rank collapses to one partition:\n$plan")
  }

  test("pruningReport: stats join broadcasts the probes, no cartesian") {
    val grid = spark.range(2000).select(col("id"),
      pmod(col("id"), lit(32L)).as("x"), (col("id") / 32).cast("long").as("y"))
    val probes = Seq((0L, "x", 0L, 1L), (1L, "y", 0L, 1L))
      .toDF("probe_id", "col_name", "lo", "hi")
    val plan = physical(graft.operators.Layout.pruningReport(
      grid, "id", Seq("x", "y"), partitions = 8, probes = probes))
    assert(!plan.contains("CartesianProduct"),
      s"pruning report goes cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"probes not broadcast:\n$plan")
  }

  test("prCurve: cumulative pass is pid-partitioned, never one partition") {
    val df = (1 to 500).map(i => (((i * 7) % 50).toDouble / 50.0, i % 3 == 0))
      .toDF("s", "y")
    val plan = physical(graft.operators.Analytics.prCurve(df, "s", "y"))
    assert(!plan.contains("Exchange SinglePartition"),
      s"PR cumulative collapses to one partition:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"PR goes cartesian:\n$plan")
  }

  test("scalarQuantizeReport: error projection adds no shuffle over the scan") {
    val out = Similarity.scalarQuantizeReport(vecs, "vec_id", "embedding")
    val plan = physical(out)
    // scales ship as a plan literal; the round-trip error is a pure
    // projection — no Exchange, no Join after the scan
    assert(!plan.contains("Exchange"), s"quantize report shuffles:\n$plan")
    assert(!plan.contains("Join"), s"quantize report joins:\n$plan")
  }

  test("poissonSpikeBound: one aggregate + key-totals join, no cartesian") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp")) // NTZ -> TS (T() shape)
    val plan = physical(graft.operators.Analytics.poissonSpikeBound(
      ev, "event_type", "ts"))
    assert(!plan.contains("CartesianProduct"),
      s"spike bound goes cartesian:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"spike bound collapses to one partition:\n$plan")
  }

  test("funnelTimings: rank pass never collapses to a single partition") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp")) // NTZ -> TS (T() shape)
    val plan = physical(graft.operators.Analytics.funnelTimings(
      ev, "user_id", "ts", "event_type", Seq("view", "click", "purchase")))
    assert(!plan.contains("CartesianProduct"),
      s"funnel timings go cartesian:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"funnel rank collapses to one partition:\n$plan")
  }
}
