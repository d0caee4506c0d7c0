package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.language.implicitConversions

/** Scale stress harness: replicates the sf0.1 testdata by REPL_FACTOR and
  * drives the shuffle-heavy operators, printing per-stage timings. Not part
  * of the graded bench — this is the "would it survive 100×?" probe:
  * row counts grow, but every shuffle stays on derived keys, so timings
  * should scale ~linearly with input size.
  *
  * Run: REPL_FACTOR=20 sbt "runMain graft.Stress"
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val factor = sys.env.getOrElse("REPL_FACTOR", "20").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // STRESS_ONLY=substr,substr runs just the matching stages (fast
    // targeted scaling probes without the 20-minute full harness)
    val only = sys.env.get("STRESS_ONLY")
      .map(_.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSeq)
    def selected(name: String): Boolean =
      only.forall(_.exists(name.toLowerCase.contains))
    // time spent building setup tables inside a timed body, kept out of it
    var setupNs = 0L
    def time[A](name: String)(f: => A): Unit =
      if (selected(name)) {
        val s0 = setupNs
        val t0 = System.nanoTime(); f
        println(f"[stress] $name: ${(System.nanoTime() - t0 - (setupNs - s0)) / 1e9}%.2f s")
      }

    /** A setup table, built (cached, if `cached`) and counted when a
      * selected stage first uses it, so a STRESS_ONLY run pays only for
      * the tables its stages read. The count prints `[stress] <label>: N
      * rows` (nothing for an empty label). `unpersist` drops the cache; a
      * table first used after it is built uncached, as the stages after
      * it see it in a full run. */
    final class Table(label: String, cached: Boolean = true)(build: => DataFrame) {
      private var df: DataFrame = null
      private var released = false
      def apply(): DataFrame = {
        if (df == null) {
          val t0 = System.nanoTime()
          df = if (cached && !released) build.cache() else build
          val n = df.count()
          if (label.nonEmpty) println(s"[stress] $label: $n rows")
          setupNs += System.nanoTime() - t0
        }
        df
      }
      def unpersist(): Unit = {
        released = true
        if (df != null) df.unpersist(): Unit
      }
    }
    implicit def tableFrame(t: Table): DataFrame = t()

    /** Replicate a frame `factor`× with shifted ids (distinct keys). */
    def replicate(df: DataFrame, idCol: String, shift: Long): DataFrame =
      spark.range(factor).toDF("__rep").crossJoin(df)
        .withColumn(idCol, col(idCol) + col("__rep") * shift)
        .drop("__rep")

    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val docs = new Table("documents")(replicate(docs0, "doc_id", 1000000L))

    // production pipeline: exact dedup first (collapses the replica
    // clusters), then minhash LSH on survivors
    time(s"dedupPipeline ${factor}x") {
      println("[stress]   kept=" + Bench.force(Dedup.dedupPipeline(docs, "doc_id", "text")))
    }
    // doc_id is row-unique here → measure the declared-unique scale path
    // (the default adds an unconditional tie-collapse shuffle of survivors)
    time(s"exactDedup ${factor}x") {
      println("[stress]   kept=" + Bench.force(Dedup.exactDedup(docs, Seq("text"), "doc_id",
        assumeUniqueOrder = true)))
    }
    // benchmark decontamination: benchmark shingles broadcast, corpus
    // streams through the semi-join — time should track the corpus scan
    time(s"decontaminate ${factor}x vs 500-doc benchmark") {
      val bench = docs0.limit(500).select(col("text").as("bench_text"))
      println("[stress]   kept=" + Bench.force(Dedup.decontaminate(
        docs, "doc_id", "text", bench, "bench_text", ngram = 13, minMatches = 1)))
    }
    // fused vs grouped, both under honest row production (toRdd) — the old
    // count()-forced comparison column-pruned the fused projection, timing
    // a bare scan against a real aggregate
    time(s"simhash fused ${factor}x") {
      println("[stress]   sigs=" + Bench.force(Dedup.simhash(docs, "doc_id", "text")))
    }
    time(s"simhash grouped ${factor}x") {
      println("[stress]   sigs=" + Bench.force(
        Dedup.simhash(docs, "doc_id", "text", tokenHash = xxhash64(_))))
    }
    time(s"textAnalysis ${factor}x") {
      println("[stress]   rows=" + Bench.force(TextAnalysis.analyze(docs, "text")))
    }
    // bigram LM train + score e2e: the model stays vocabulary-sized no
    // matter the corpus factor (replication adds occurrences, not types),
    // so the broadcast path must hold and wall time must track the corpus
    // scans + the one doc-key shuffle
    time(s"lmPerplexity train+score ${factor}x") {
      val lm = TextAnalysis.trainBigramLm(docs, "text", "doc_id")
      println("[stress]   scored=" + Bench.force(
        TextAnalysis.perplexity(docs, lm, "text", "doc_id")))
    }
    time(s"vocabulary ${factor}x") {
      println("[stress]   vocab=" + Bench.force(TextAnalysis.vocabulary(docs, "text")))
    }
    // line dedup, worst case by construction: replicated docs make EVERY
    // eligible line cross-doc duplicated, so the dup set is the full
    // distinct-line table and every doc is affected (real corpora flag a
    // small fraction and strip rebuilds only those docs)
    time(s"duplicateLineStats ${factor}x (all-dup worst case)") {
      println("[stress]   rows=" + Bench.force(
        Dedup.duplicateLineStats(docs, "doc_id", "text")))
    }
    time(s"stripDuplicateLines ${factor}x (all-dup worst case)") {
      println("[stress]   rebuilt=" + Bench.force(
        Dedup.stripDuplicateLines(docs, "doc_id", "text")))
    }
    // substring-level dedup, WORST case by construction: replicated docs
    // make every position cross-doc duplicated, so the flagged stream is
    // the entire gram stream (~1 row/token) and the island merge sees it
    // all — real corpora flag a small fraction. Linear-at-worst is the
    // bar here.
    time(s"duplicateSpans ${factor}x (all-dup worst case)") {
      println("[stress]   spans=" + Bench.force(
        Dedup.duplicateSpans(docs, "doc_id", "text", minSpanTokens = 8)))
    }
    // real-BPE counting is a pure fused scan — should track textAnalysis
    time(s"bpeTokenCount ${factor}x") {
      println("[stress]   rows=" + Bench.force(docs.select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text"), graft.queries.TextQueries.bpeMerges).as("n"))))
    }
    // production vocab size: ~50k merges (synthetic but BPE-shaped — full
    // 2-char pair coverage, then 3-char and 4-char chains — loaded through
    // the real merges.txt parse path). The rank table is a hash map, so
    // per-pair lookup is O(1): wall time must track the 10-rule row times
    // the extra merge iterations the denser vocab triggers, NOT the vocab
    // size. This list is adversarially dense (every adjacent letter pair
    // merges), so it upper-bounds any real 50k vocabulary.
    time(s"bpeTokenCount 50k-merge vocab ${factor}x") {
      val letters = 'a' to 'z'
      val two = for (a <- letters; b <- letters) yield s"$a $b"
      val three = for (a <- letters; b <- letters; c <- letters) yield s"$a$b $c"
      val four = for (a <- letters; b <- letters; c <- letters; d <- letters)
        yield s"$a$b$c $d"
      val lines = ("#version: 0.2" +: (two ++ three ++ four)).take(50001)
      val f = java.nio.file.Files.createTempFile("merges_", ".txt")
      java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
      val src = scala.io.Source.fromFile(f.toFile, "UTF-8")
      val merges = try TextAnalysis.parseMerges(src.getLines().toSeq) finally src.close()
      java.nio.file.Files.delete(f)
      println("[stress]   vocab=" + merges.size)
      println("[stress]   rows=" + Bench.force(docs.select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text"), merges).as("n"))))
    }
    docs.unpersist()

    // connected components on adversarial shapes: long chains maximize
    // round count (the old min-label needed O(diameter) rounds; large-star/
    // small-star must stay logarithmic), the union with cliques checks the
    // mixed regime near-dup graphs actually produce
    val ccN = factor * 10000L
    val ccChain = spark.range(ccN - 1).select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val ccCliques = spark.range(1000).toDF("c").crossJoin(
      spark.range(10).toDF("i").crossJoin(spark.range(10).toDF("j"))
        .filter(col("i") < col("j")))
      .select((lit(ccN) + col("c") * 10 + col("i")).as("id_a"),
        (lit(ccN) + col("c") * 10 + col("j")).as("id_b"))
    val ccEdges = ccChain.unionByName(ccCliques)
    // the same graph with string ids: they take the same driver gate, and
    // above it the same RDD loop on order-preserving long codes
    val ccStringEdges = ccEdges.select(col("id_a").cast("string").as("id_a"),
      col("id_b").cast("string").as("id_b"))
    // each row prints the path that ran: the driver path unions the
    // union-find labels with the residual nodes, the distributed loop ends
    // in a join
    def ccRow(out: DataFrame): Unit = {
      val path = out.queryExecution.analyzed match {
        case _: org.apache.spark.sql.catalyst.plans.logical.Union => "driver"
        case _ => "distributed"
      }
      println("[stress]   components=" + out.select("component").distinct().count() +
        s" (expect 1001) path=$path")
    }
    for ((ids, edges) <- Seq("" -> ccEdges, ", string ids" -> ccStringEdges)) {
      // default path: the 200k+45k edge set is under the driver gate —
      // union-find closes it in milliseconds after one canonicalize+collect
      time(s"connectedComponents chain(${ccN}) + 1000 cliques(10)$ids [driver gate]") {
        ccRow(Dedup.connectedComponents(edges, maxIter = 40))
      }
      // forced distributed: the above-the-gate regime (a 10k·factor chain
      // needs ~log2(n) alternation rounds — the default maxIter=20 is
      // reached near factor 100, so give explicit headroom; maxIter caps
      // cost, not correctness margin)
      time(s"connectedComponents chain(${ccN}) + 1000 cliques(10)$ids [forced distributed]") {
        ccRow(Dedup.connectedComponentsGated(edges, "id_a", "id_b", maxIter = 40,
          maxDriverEdges = 0L))
      }
    }

    val orders0 = spark.read.parquet(s"$sfDir/orders.parquet")
    val orders = new Table("orders", cached = false)(
      replicate(orders0, "o_orderkey", 100000000L))
    time(s"snapshot upsert ${factor}x (${factor / 2}x delta)") {
      val snap = orders.filter(col("o_orderkey") % 3 =!= 0)
      val delta = orders.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1)
      println("[stress]   merged=" + Bench.force(Snapshot.upsert(Some(snap), delta, Seq("o_orderkey"))))
    }

    // bucketed store at DEPTH: 100 small upserts build deep generation
    // history. The invariant under test: disk usage and read cost stay
    // O(live buckets), not O(total upserts) — the manifest names at most
    // one generation per bucket, GC retains only the keepManifests grace
    // window, and a point lookup after 100 commits prunes exactly like a
    // fresh store's.
    time("bucketed store: 100-deep upsert history") {
      val dir = java.nio.file.Files.createTempDirectory("gs_deep_").toString
      val store = new BucketedSnapshotStore(spark, dir, numBuckets = 64)
      val base = orders0.select(col("o_orderkey"), col("o_totalprice"))
      val baseCount = base.count()
      store.write("orders", base, Seq("o_orderkey"))
      var i = 0
      while (i < 100) {
        // 5 scattered keys per commit → a handful of touched buckets each,
        // the shape that actually builds many-generation manifests
        val delta = base.filter(col("o_orderkey") % 30000 === (i * 7) % 30000)
          .withColumn("o_totalprice", lit(-1.0) - i)
        store.upsert("orders", delta, Seq("o_orderkey"))
        i += 1
      }
      val root = store.path("orders")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val entries = fs.listStatus(root).map(_.getPath.getName)
      val gens = entries.count(_.startsWith("gen-"))
      val manifests = entries.count(_.startsWith("manifest-"))
      println(s"[stress]   after 100 upserts: $gens generations, $manifests manifests on disk")
      assert(manifests == 2, s"GC must retain exactly keepManifests=2, saw $manifests")
      assert(gens <= 64 + 16,
        s"live generations must stay O(buckets)=64, not O(history)=100+: saw $gens")
      val keys = (1L to 2000L).toDF("o_orderkey")
      def lookup(tag: String): Long = {
        val t0 = System.nanoTime()
        val got = Bench.force(store.readForKeys("orders", keys, Seq("o_orderkey")))
        println(f"[stress]   $tag readForKeys(2000): $got rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
        got
      }
      lookup("deep-history")
      // compaction collapses the per-generation read fan-out back to one scan
      val collapsed = store.compact("orders")
      println(s"[stress]   compacted $collapsed generations into 1")
      lookup("post-compact")
      val fin = store.read("orders").get
      val negs = fin.filter(col("o_totalprice") < 0).count()
      assert(fin.count() == baseCount, "deep upsert history lost rows")
      assert(negs > 0 && negs <= 500, s"unexpected updated-row count $negs")
      fs.delete(root, true)
    }

    // same ts normalization as queries.Shared.T: long nanos (legacy config) OR
    // TIMESTAMP_NTZ (regenerated micros parquet) → TimestampType
    val eventsRaw = spark.read.parquet(s"$sfDir/events.parquet")
    val events0 = eventsRaw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        eventsRaw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        eventsRaw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => eventsRaw
    }
    val events = new Table("events", cached = false)(
      replicate(events0, "event_id", 1000000000L))
    time(s"sessionize ${factor}x") {
      println("[stress]   sessions=" + Bench.force(Analytics.sessionStats(
        Analytics.sessionize(events, "user_id", "ts", 600L), "user_id", "ts")))
    }
    time(s"windowedCounts ${factor}x") {
      println("[stress]   windows=" + Bench.force(Analytics.windowedCounts(
        events, "ts", "1 hour", Seq("event_type"))))
    }
    // round-8 additions — replicate USERS too (shifted user_id) so the
    // per-key idioms scale in key count, not just rows-per-key
    val eventsU = replicate(events0, "event_id", 1000000000L)
      .withColumn("user_id",
        col("user_id") + (col("event_id") / lit(1000000000L))
          .cast("long") * lit(100000L))
    time(s"intervalCoverage ${factor}x users") {
      val sCol = unix_micros(col("ts"))
      val spans = eventsU.select(col("user_id"), sCol.as("s"),
        (sCol + lit(60000000L)).as("e"))
      println("[stress]   keys=" + Bench.force(
        Intervals.coverageReport(spans, "user_id", "s", "e")))
    }
    time(s"poissonBootstrap 16 reps ${factor}x") {
      println("[stress]   reps=" + Bench.force(
        Analytics.poissonBootstrapMeans(events, "event_id", "value", 16)))
    }
    time(s"mannWhitneyU ${factor}x") {
      println("[stress]   rows=" + Bench.force(Analytics.mannWhitneyU(
        events, "event_type", "value", "click", "view")))
    }
    time(s"activityStreaks ${factor}x users") {
      println("[stress]   keys=" + Bench.force(
        Analytics.activityStreaks(eventsU, "user_id", "ts")))
    }
    time(s"peakRate ${factor}x users") {
      println("[stress]   keys=" + Bench.force(
        Analytics.peakRate(eventsU, "user_id", "ts", 3600000000L)))
    }
    time(s"topSessionPaths ${factor}x users") {
      println("[stress]   paths=" + Bench.force(Analytics.topSessionPaths(
        eventsU, "user_id", "ts", "event_id", "event_type", 600L, 4, 20)))
    }
    time(s"hits 3 rounds ${factor}x edges") {
      val el = replicate(
        spark.read.parquet(s"$sfDir/orders.parquet")
          .join(spark.read.parquet(s"$sfDir/lineitem.parquet"),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("a"), col("l_suppkey").as("b")),
        "a", 10000000L)
      println("[stress]   nodes=" + Bench.force(
        Graph.hits(el, "a", "b", rounds = 3)))
    }

    val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val emb = new Table("embeddings")(replicate(emb0, "vec_id", 1000000L))
    time(s"bruteForce ANN 100q x ${factor}x corpus") {
      println("[stress]   results=" + Bench.force(Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 100), "vec_id", "embedding", 10)))
    }
    time(s"ivf ANN 100q x ${factor}x corpus") {
      println("[stress]   results=" + Bench.force(Similarity.ivfTopK(
        emb, emb.filter(col("vec_id") < 100), "vec_id", "embedding", 10,
        numCentroids = 32, nProbe = 3)))
    }
    // SemDeDup at scale: centroid count scales with the corpus (the
    // cluster is the unit of quadratic work) — replicas make every base
    // vector a tau-duplicate group of size `factor`
    time(s"semanticDedup ${factor}x (numCentroids=256)") {
      println("[stress]   kept=" + Bench.force(Dedup.semanticDedup(
        emb, "vec_id", "embedding", numCentroids = 256, tau = 0.99)))
    }
    // DEFAULT path: numCentroids auto-resolves to ceil(n/4096) — verify
    // the per-cluster quadratic term stays bounded without caller tuning
    time(s"semanticDedup ${factor}x (auto centroids)") {
      val n = emb.count()
      val k = Dedup.semDedupAutoCentroids(n)
      println("[stress]   kept=" + Bench.force(Dedup.semanticDedup(
        emb, "vec_id", "embedding", tau = 0.99)))
      // cluster-size histogram at the SAME auto k: the max cluster bounds
      // the quadratic term (pairs ≈ max²/2, target ≈ 4096²/2 ≈ 8.4M)
      val (_, assigned) = Similarity.ivfIndex(
        emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding", k)
      val sizes = assigned.groupBy("centroid_id").count()
        .agg(max("count"), avg("count")).first()
      println(f"[stress]   auto k=$k for n=$n: max cluster=${sizes.getLong(0)}, " +
        f"avg=${sizes.getDouble(1)}%.0f, max pairs≈${sizes.getLong(0) * sizes.getLong(0) / 2}")
    }
    emb.unpersist()

    // ── incremental near-dup index: probe cost vs history size ─────────
    // The scaling claim under test: a FIXED batch's probe reads only the
    // postings buckets its band keys hash into, so probe wall time stays
    // ~flat while the indexed history grows factor× (index build is the
    // linear part and is timed separately).
    locally {
      val ndDir = java.nio.file.Files.createTempDirectory("stress_ndix_").toString
      val idx = new NearDupIndex(spark, ndDir, shingleSize = 3,
        bands = 16, rowsPerBand = 2, threshold = 0.55, numBuckets = 64)
      val history = replicate(docs0, "doc_id", 1000000L)
      time(s"nearDupIndex add ${factor}x history") {
        idx.add(history, "doc_id", "text")
      }
      val batch = docs0.limit(500)
        .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
      time(s"nearDupIndex probe 500-doc batch vs ${factor}x history") {
        println("[stress]   matches=" + Bench.force(
          idx.probe(batch, "doc_id", "text")))
      }
    }

    // docs was unpersisted above — re-cache for the remaining probes so
    // replication cost isn't re-timed inside each one
    val docsTail = new Table("")(replicate(docs0, "doc_id", 1000000L))

    // ── token-budget selection: global sort + budget-pruned cumsum ─────
    // Budget is FIXED while the corpus grows factor×: pass 1 (range
    // shuffle + per-range sums) is the linear part; pass 2 only touches
    // budget-proportional ranges, so its cost must NOT grow with factor.
    time(s"selectByTokenBudget ${factor}x corpus, fixed 100k-token budget") {
      val scored = docsTail.select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("quality"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("ntok"))
      println("[stress]   kept=" + Bench.force(Sampling.selectByTokenBudget(
        scored, "doc_id", "ntok", "quality", budget = 100000L)))
    }

    // ── chunking + canonicalization: pure projections, linear by shape ─
    time(s"chunkTokens ${factor}x (64/48 windows)") {
      println("[stress]   chunks=" + Bench.force(TextAnalysis.chunkTokens(
        docsTail, "doc_id", "text", window = 64, stride = 48)))
    }
    time(s"normalizeText + hashedLinearScore ${factor}x (fused scan)") {
      val w = (0 until 64).map(i => ((i * 37) % 21 - 10) / 10.0)
      println("[stress]   rows=" + Bench.force(docsTail.select(col("doc_id"),
        TextAnalysis.normalizeText(col("text")).as("clean"),
        TextAnalysis.hashedLinearScore(col("text"), w, bias = 0.25).as("score"))))
    }
    // ── ranking tier: vocabulary-bounded aggregates over the corpus ────
    // tf-idf keyword extraction: the (id, term) aggregate is the linear
    // part; document frequencies stay vocabulary-sized at any factor
    time(s"topKeywords ${factor}x (k=3)") {
      val d = docsTail.withColumn("source",
        concat(lit("s"), pmod(col("doc_id"), lit(7))))
      println("[stress]   rows=" + Bench.force(
        Ranking.topKeywords(d, "doc_id", "text", k = 3)))
    }
    // bm25: only query-term rows shuffle — cost must track the scan, not
    // the aggregate, as factor grows
    time(s"bm25 3-term query ${factor}x") {
      println("[stress]   scored=" + Bench.force(
        Ranking.bm25(docsTail, "doc_id", "text", Seq("join", "merge", "filter"))))
    }
    // per-group percentile: one range exchange; offsets frame is
    // (ranges × groups), driver-small at any factor
    time(s"topFractionPerGroup ${factor}x (7 groups, frac 0.3)") {
      val d = docsTail.select(
        concat(lit("s"), pmod(col("doc_id"), lit(7))).as("source"),
        col("doc_id"), length(col("text")).cast("double").as("score"))
      println("[stress]   kept=" + Bench.force(
        Sampling.topFractionPerGroup(d, "source", "doc_id", "score", 0.3)))
    }
    // deterministic shuffle: one range exchange + per-range counts
    time(s"deterministicShuffle ${factor}x") {
      println("[stress]   rows=" + Bench.force(
        Sampling.deterministicShuffle(docsTail.select("doc_id"), "doc_id", 7L)))
    }
    // BPE training: corpus collapses to the word table in one pass;
    // rounds are vocabulary-sized, so wall time must be ~flat in factor
    // beyond the initial scan
    time(s"trainBpeMerges ${factor}x (8 rounds, driver path)") {
      val m = TextAnalysis.trainBpeMerges(docsTail, "text", numMerges = 8)
      println("[stress]   merges=" + m.size)
    }
    time(s"trainBpeMerges ${factor}x (8 rounds, forced distributed)") {
      val m = TextAnalysis.trainBpeMerges(docsTail, "text", numMerges = 8,
        maxDriverVocab = 0L)
      println("[stress]   merges=" + m.size)
    }

    // ── round-8 curation tier ──────────────────────────────────────────
    // CMS heavy hitters: sketch state bounded at d×w per task regardless
    // of factor; cost must track the token scan
    time(s"cmsHeavyHitters ${factor}x (4x1024, total/30)") {
      println("[stress]   hh=" + Bench.force(Sketches.cmsHeavyHittersByTotalFraction(
        docsTail, "text", depth = 4, width = 1024, divisor = 30)))
    }
    // DSIR importance: weight table B-bounded; one corpus explode (lazy
    // checkpoint) + one broadcast join
    time(s"importanceWeights ${factor}x (B=4096)") {
      val target = docs0.filter(col("doc_id") % 7 === 0).select("text")
      println("[stress]   rows=" + Bench.force(Importance.importanceWeights(
        docsTail, target, "doc_id", "text", buckets = 4096)))
    }
    // containment: prefix-filtered set-overlap join. Replicas here share
    // every shingle with their base doc (df grows with factor), which is
    // the DEGENERATE boilerplate regime — true-pair count itself grows
    // quadratically, so this stage replicates with per-token rewrite
    // (disjoint shingle spaces, constant df: the realistic regime where
    // corpus growth adds diversity). The degenerate regime is the
    // near-dup-dedup-first pipeline's job (and maxShingleDf's).
    time(s"containmentPairs ${factor}x (disjoint-token regime, t=0.9)") {
      val disjoint = spark.range(factor).toDF("__rep").crossJoin(docs0)
        .withColumn("doc_id", col("doc_id") + col("__rep") * 1000000L)
        .withColumn("text", regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("$1r"), col("__rep"))))
        .drop("__rep")
      println("[stress]   pairs=" + Bench.force(
        Dedup.containmentPairs(disjoint, "doc_id", "text", 3, 0.9)))
    }
    // hybrid retrieval: each side prunes to its candidate budget via
    // TakeOrderedAndProject — fused frame stays 2·candidates at any factor
    time(s"hybridSearch ${factor}x (50 candidates, top 20)") {
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val emb = replicate(emb0, "vec_id", 1000000L)
      val qv = emb0.filter(col("vec_id") === 0).select("embedding")
        .first().getSeq[Float](0).map(_.toDouble).toSeq
      println("[stress]   rows=" + Bench.force(Ranking.hybridSearch(
        docsTail, "doc_id", "text", emb, "vec_id", "embedding",
        Seq("join", "merge", "filter"), qv, candidates = 50, topK = 20)))
    }
    // ── round-8 graph/sampling/statistics tier ─────────────────────────
    // graph rounds: edges persist src-partitioned once; replicated graphs
    // are `factor` disjoint copies, so per-round cost must scale with the
    // edge count and the rank/label state with the node count
    val graphEdges = {
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
      val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val el = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b"))
        .distinct()
      spark.range(factor).toDF("__rep").crossJoin(el)
        .select(concat(col("a"), lit("_"), col("__rep")).as("a"),
          concat(col("b"), lit("_"), col("__rep")).as("b"))
    }
    // each graph row prints its deduplicated edge count (counted before
    // the timed region) and the path that ran: at or under the driver gate
    // the result is a local frame
    def graphRow(name: String, dedupEdges: => DataFrame)(run: => DataFrame): Unit =
      if (selected(name)) {
        println(s"[stress] $name: edges=${dedupEdges.count()} " +
          s"gate=${DriverGraph.maxEdges()}")
        time(name) {
          val out = run
          val path = out.queryExecution.analyzed match {
            case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => "driver"
            case _ => "distributed"
          }
          println(s"[stress]   rows=${Bench.force(out)} path=$path")
        }
      }
    graphRow(s"pageRank ${factor}x disjoint graphs (3 rounds, production)",
        Graph.bidirect(graphEdges, "a", "b").distinct()) {
      Graph.pageRank(Graph.bidirect(graphEdges, "a", "b"), "src", "dst", rounds = 3)
    }
    // q110's seeds: the nation-0 customers of every copy
    graphRow(s"personalizedPageRank ${factor}x disjoint graphs (3 rounds, production)",
        Graph.bidirect(graphEdges, "a", "b").distinct()) {
      val seeds = spark.read.parquet(s"$sfDir/customer.parquet")
        .filter(col("c_nationkey") === 0)
        .crossJoin(spark.range(factor).toDF("__rep"))
        .select(concat(lit("c"), col("c_custkey"), lit("_"), col("__rep")).as("n"))
      Graph.personalizedPageRank(Graph.bidirect(graphEdges, "a", "b"), "src", "dst",
        seeds, "n", rounds = 3)
    }
    graphRow(s"labelPropagation ${factor}x disjoint graphs (4 rounds)",
        Graph.bidirect(graphEdges, "a", "b").distinct()) {
      Graph.labelPropagation(Graph.bidirect(graphEdges, "a", "b"), "src", "dst", rounds = 4)
    }
    // the q142 co-purchase graph, `factor` disjoint copies; its edge count
    // is the canonical (x < y) one the triangle gate reads
    val coPurchase = {
      val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
      Analytics.coOccurrenceEdges(spark.range(factor).toDF("__rep").crossJoin(l)
        .select((col("l_orderkey") + col("__rep") * 100000000L).as("o"),
          (col("l_partkey") + col("__rep") * 100000000L).as("p")), "o", "p")
    }
    graphRow(s"triangleCounts ${factor}x disjoint co-purchase graphs (top 10)",
        coPurchase.select(least(col("item_a"), col("item_b")).as("x"),
          greatest(col("item_a"), col("item_b")).as("y"))
          .filter(col("x") < col("y")).distinct()) {
      Graph.triangleCounts(coPurchase, "item_a", "item_b", topK = 10)
    }
    // priority sampling: a projection + TakeOrdered heap — must track the
    // bare scan at any factor
    time(s"prioritySampleK ${factor}x (k=1000)") {
      println("[stress]   rows=" + Bench.force(Sampling.prioritySampleK(
        docsTail.select(col("doc_id"), length(col("text")).as("w")),
        "doc_id", "w", k = 1000)))
    }
    // exact-k per group: ranges past every group's k are pruned, so the
    // second pass must stay k-proportional as the corpus grows
    time(s"sampleKPerGroup ${factor}x (7 groups, k=1000)") {
      val d = docsTail.select(
        concat(lit("s"), pmod(col("doc_id"), lit(7))).as("source"), col("doc_id"))
      println("[stress]   rows=" + Bench.force(
        Sampling.sampleKPerGroup(d, "source", "doc_id", k = 1000L)))
    }
    // collocations: replication multiplies counts, not vocabulary — both
    // count frames stay vocab-bounded, cost must track the two scans
    time(s"collocations ${factor}x (minCount=5, top 100)") {
      println("[stress]   rows=" + Bench.force(TextAnalysis.collocations(
        docsTail, "text", minCount = 5L, topN = 100)))
    }
    // discrete quantiles + robust outliers over replicated events: the
    // rank machinery is per-(range, group); group count stays 5
    val statEvents = {
      val e0 = spark.read.parquet(s"$sfDir/events.parquet")
        .select(col("event_type"), col("event_id"),
          col("value").cast("double").as("value"))
      spark.range(factor).toDF("__rep").crossJoin(e0)
        .withColumn("event_id", col("event_id") + col("__rep") * 10000000L)
        .drop("__rep")
    }
    time(s"discreteQuantilesPerGroup ${factor}x events (6 quantiles)") {
      println("[stress]   rows=" + Bench.force(Analytics.discreteQuantilesPerGroup(
        statEvents, "event_type", "event_id", "value",
        Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99))))
    }
    time(s"robustOutliers ${factor}x events (cutoff 3.5)") {
      println("[stress]   flagged=" + Bench.force(Analytics.robustOutliers(
        statEvents, "event_type", "event_id", "value", cutoff = 3.5)))
    }
    // edit-distance fuzzy pairs on DISTINCT template strings
    // ("item-00001234", sequential): the adversarial shared-prefix regime
    // that kills segment blocking; true pairs (one-digit neighbors) are
    // dense but linear in n. Duplicated strings are exact-dedup's job
    // first (quadratic dist-0 pairs are irreducible output).
    time(s"editDistancePairs ${factor}x distinct ids (maxDist=1)") {
      val n = 20000L * factor
      val strs = spark.range(n).select(col("id"),
        concat(lit("item-"), lpad(col("id"), 8, "0")).as("s"))
      println("[stress]   pairs=" + Bench.force(
        Dedup.editDistancePairs(strs, "id", "s", maxDist = 1)))
    }
    // ── profiling / layout / analytics tier ────────────────────────────
    // replicated lineitem: row count scales by factor; key cardinality is
    // fixed, so the profile/skew/histogram aggregates must stay flat per
    // input row and the correlation sums must not overflow (dollar units)
    val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val liBig = new Table("lineitem")(
      spark.range(factor).toDF("__rep").crossJoin(li0).drop("__rep"))
    time(s"profileTable ${factor}x (production HLL++ path)") {
      println("[stress]   rows=" + Bench.force(Profiling.profileTable(liBig,
        Seq("l_orderkey", "l_partkey", "l_quantity", "l_returnflag"),
        exactDistinct = false)))
    }
    time(s"keySkewReport ${factor}x (l_suppkey)") {
      println("[stress]   rows=" + Bench.force(
        Profiling.keySkewReport(liBig, "l_suppkey", k = 10)))
    }
    time(s"histogram ${factor}x (20 bins)") {
      println("[stress]   rows=" + Bench.force(
        Profiling.histogram(liBig, "l_extendedprice", bins = 20)))
    }
    time(s"integerCorrelationMatrix ${factor}x (4 cols, dollar units)") {
      println("[stress]   rows=" + Bench.force(
        Profiling.integerCorrelationMatrix(liBig, Seq(
          "quantity" -> col("l_quantity").cast("long"),
          "discount_bp" -> round(col("l_discount") * 100).cast("long"),
          "price" -> round(col("l_extendedprice")).cast("long"),
          "tax_bp" -> round(col("l_tax") * 100).cast("long")))))
    }
    time(s"zorderKey + layoutByZorder ${factor}x (16-bit, 64 parts)") {
      println("[stress]   rows=" + Bench.force(Layout.layoutByZorder(
        liBig.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        Seq("l_partkey", "l_suppkey"), partitions = 64)))
    }
    time(s"coOccurrencePairs ${factor}x (orders x parts)") {
      println("[stress]   rows=" + Bench.force(Analytics.coOccurrencePairs(
        liBig, "l_orderkey", "l_partkey", topK = 20)))
    }
    time(s"ksDrift ${factor}x (totalprice halves)") {
      val o0 = spark.read.parquet(s"$sfDir/orders.parquet")
      val oBig = spark.range(factor).toDF("__rep").crossJoin(o0).drop("__rep")
      val cutoff = lit("1995-06-01").cast("timestamp")
      println("[stress]   rows=" + Bench.force(Profiling.ksDrift(
        oBig.filter(col("o_orderdate") < cutoff),
        oBig.filter(col("o_orderdate") >= cutoff), "o_totalprice")))
    }
    liBig.unpersist()
    // embeddings tier: sf0.1 has 5k vectors; factor x replication drives
    // the covariance grid (n x d^2 products) and the quantization stats
    val e0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val eBig = new Table("embeddings")(spark.range(factor).toDF("__rep").crossJoin(e0)
      .withColumn("vec_id", col("vec_id") + col("__rep") * 1000000L)
      .drop("__rep"))
    // round-8 additions ──────────────────────────────────────────────────
    // spearman: per-replica value jitter grows the VALUE-cardinality rank
    // frames linearly with the corpus (replication without jitter would
    // leave them constant-size and stress nothing)
    val liJit = new Table("lineitem jittered")(spark.range(factor).toDF("__rep")
      .crossJoin(spark.read.parquet(s"$sfDir/lineitem.parquet"))
      .select(
        (col("l_quantity") + col("__rep") * lit(0.001)).as("q"),
        (col("l_extendedprice") + col("__rep") * lit(0.001)).as("p"),
        (col("l_discount") + col("__rep") * lit(0.001)).as("d"),
        (col("l_tax") + col("__rep") * lit(0.001)).as("t")))
    time(s"spearmanMatrix ${factor}x (4 cols, jittered value frames)") {
      println("[stress]   rows=" + Bench.force(
        Profiling.spearmanMatrix(liJit, Seq("q", "p", "d", "t"))))
    }
    liJit.unpersist()
    // sparse cosine: per-replica token prefix makes the sub-corpora
    // vocabulary-DISJOINT, so true pair counts (and the Σ df² ≤ maxDf·nnz
    // product bound) scale linearly; un-prefixed replication would be an
    // inherently quadratic near-dup corpus, which measures output size,
    // not the operator
    val docsPfx = new Table("documents prefixed")(spark.range(factor).toDF("__rep")
      .crossJoin(docs0)
      .select((col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
        array_join(transform(split(trim(lower(col("text"))), "\\s+"),
          t => concat(lit("r"), col("__rep"), lit("_"), t)), " ").as("text")))
    time(s"tfidfCosinePairs ${factor}x disjoint vocab (t=0.3, maxDf=50, production)") {
      println("[stress]   rows=" + Bench.force(Ranking.tfidfCosinePairs(
        docsPfx, "doc_id", "text", shingleSize = 3, threshold = 0.3,
        maxDf = 50L, deterministic = false)))
    }
    docsPfx.unpersist()
    // BFS / SSSP: shifted keys make factor disjoint graphs — node-sized
    // state and frontier joins must scale linearly in rounds x edges
    val oBig2 = spark.range(factor).toDF("__rep")
      .crossJoin(spark.read.parquet(s"$sfDir/orders.parquet"))
    val liBig2 = spark.range(factor).toDF("__rep")
      .crossJoin(spark.read.parquet(s"$sfDir/lineitem.parquet"))
    val elG = new Table("graph edges")(oBig2.alias("o")
      .join(liBig2.alias("l"),
        col("o.__rep") === col("l.__rep") &&
          col("o_orderkey") === col("l_orderkey"))
      .select(
        concat(lit("c"), col("o.__rep"), lit("_"), col("o_custkey")).as("a"),
        concat(lit("s"), col("o.__rep"), lit("_"), col("l_suppkey")).as("b"),
        datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")).cast("long").as("w")))
    val seedsG = spark.range(factor).toDF("__rep")
      .crossJoin(spark.read.parquet(s"$sfDir/supplier.parquet")
        .filter(col("s_suppkey") % 10 === 0))
      .select(concat(lit("s"), col("__rep"), lit("_"), col("s_suppkey"))
        .as("node"))
    time(s"bfsLevels ${factor}x disjoint graphs (3 hops)") {
      println("[stress]   rows=" + Bench.force(Graph.bfsLevels(
        Graph.bidirect(elG.select("a", "b"), "a", "b"), "src", "dst",
        seedsG, "node", maxHops = 3)))
    }
    time(s"boundedShortestPaths ${factor}x disjoint graphs (3 rounds)") {
      val bidir = elG.unionByName(
        elG.select(col("b").as("a"), col("a").as("b"), col("w")))
      println("[stress]   rows=" + Bench.force(Graph.boundedShortestPaths(
        bidir, "a", "b", "w", seedsG, "node", rounds = 3)))
    }
    elG.unpersist()
    time(s"quantizeInt8Report ${factor}x") {
      println("[stress]   rows=" + Bench.force(
        Similarity.quantizeInt8Report(eBig, "vec_id", "embedding")))
    }
    time(s"topPrincipalComponent ${factor}x (3 rounds, production)") {
      println("[stress]   rows=" + Bench.force(
        Training.topPrincipalComponent(eBig, "vec_id", "embedding", rounds = 3)))
    }
    // persistent IVF index: add is one assignment pass + bucketed upsert;
    // probe cost ∝ batch × cell size = batch × n/√n (sqrt-centroid
    // sizing) — SUBLINEAR in history, never a rescan
    time(s"vectorIndex init+add ${factor}x history (sqrt centroids)") {
      val dir = java.nio.file.Files.createTempDirectory("stress_vix").toString
      val idx = new VectorIndex(spark, dir, numBuckets = 32)
      val nc = Similarity.sqrtCentroids(eBig.count())
      idx.initialize(eBig, "vec_id", "embedding", nc)
      idx.add(eBig, "vec_id", "embedding")
      sys.props.put("stress.vix.dir", dir)
    }
    time(s"vectorIndex probe 100 queries vs ${factor}x history (nProbe=4)") {
      val idx = new VectorIndex(spark, sys.props("stress.vix.dir"),
        numBuckets = 32)
      println("[stress]   rows=" + Bench.force(idx.probe(
        eBig.filter(col("vec_id") % 997 === 0).limit(100),
        "vec_id", "embedding", k = 5, nProbe = 4)))
    }
    eBig.unpersist()
    // persistent Hamming index: probe I/O ∝ batch + chunk collisions —
    // history never rescanned (flat-ish probe as history grows)
    val sigBig = new Table("signatures")(spark.range(factor).toDF("__rep")
      .crossJoin(spark.range(50000).toDF("__i"))
      .select((col("__i") + col("__rep") * 1000000L).as("id"),
        xxhash64(col("__i") + col("__rep") * 1000000L).as("sig")))
    time(s"hammingIndex add ${factor}x history") {
      val dir = java.nio.file.Files.createTempDirectory("stress_hmix").toString
      val idx = new HammingIndex(spark, dir, maxDist = 3, numBuckets = 32)
      idx.add(sigBig, "id", "sig")
      sys.props.put("stress.hmix.dir", dir)
    }
    time(s"hammingIndex probe 1000 sigs vs ${factor}x history") {
      val idx = new HammingIndex(spark, sys.props("stress.hmix.dir"),
        maxDist = 3, numBuckets = 32)
      println("[stress]   rows=" + Bench.force(idx.probe(
        sigBig.filter(col("id") % 997 === 0).limit(1000), "id", "sig")))
    }
    sigBig.unpersist()
    // persistent span index: probe reads only the batch's fingerprint
    // buckets — history never rescanned. Replicas get a per-replica token
    // suffix so their k-gram vocabularies are DISJOINT: the history
    // genuinely grows instead of multiplying each probe match factor×
    // (the q236 vocabulary-disjoint replication lesson)
    val spanDocs = new Table("span docs")(spark.range(factor).toDF("__rep")
      .crossJoin(docs0)
      .select((col("doc_id") + col("__rep") * 1000000L).as("doc_id"),
        array_join(transform(split(lower(trim(col("text"))), "\\s+"),
          t => concat(t, lit("r"), col("__rep"))), " ").as("text")))
    time(s"spanIndex add ${factor}x history") {
      val dir = java.nio.file.Files.createTempDirectory("stress_spix").toString
      val idx = new SpanIndex(spark, dir, minShared = 3, numBuckets = 32,
        maxPostings = 500)
      idx.add(spanDocs, "doc_id", "text")
      sys.props.put("stress.spix.dir", dir)
    }
    time(s"spanIndex probe 500 docs vs ${factor}x history") {
      val idx = new SpanIndex(spark, sys.props("stress.spix.dir"),
        minShared = 3, numBuckets = 32, maxPostings = 500)
      println("[stress]   rows=" + Bench.force(idx.probe(
        spanDocs.filter(col("doc_id") < 1000000L && col("doc_id") % 97 === 0)
          .limit(500), "doc_id", "text")))
    }
    spanDocs.unpersist()
    // persistent ER index: probe reads only the batch's blocking-key
    // buckets + candidate attribute rows — history never rescanned.
    // Replicas get disjoint names/ids (per-replica suffix) so blocks stay
    // constant-size as history grows
    val erFields = Seq(
      graft.operators.Linkage.FieldSpec("name", "name", Some(0.85),
        4000000L, 2500000L, -3000000L),
      graft.operators.Linkage.FieldSpec("seg", "seg", None,
        2000000L, 0L, -1000000L))
    val erEnts = new Table("er entities")(spark.range(factor).toDF("__rep")
      .crossJoin(spark.read.parquet(s"$sfDir/customer.parquet")
        .select("c_custkey", "c_name", "c_mktsegment"))
      .select((col("c_custkey") + col("__rep") * 10000000L).as("id"),
        concat(col("c_name"), lit(" r"), col("__rep")).as("name"),
        col("c_mktsegment").as("seg")))
    time(s"erIndex ingest ${factor}x history") {
      val dir = java.nio.file.Files.createTempDirectory("stress_erix").toString
      val idx = new ErIndex(spark, dir, erFields,
        Seq(expr("substring(name, length(name) - 7, 8)")),
        scoreThresholdMicro = 3000000L, numBuckets = 32)
      idx.ingest(erEnts, "id")
      sys.props.put("stress.erix.dir", dir)
    }
    time(s"erIndex resolve 1000 records vs ${factor}x history") {
      val idx = new ErIndex(spark, sys.props("stress.erix.dir"), erFields,
        Seq(expr("substring(name, length(name) - 7, 8)")),
        scoreThresholdMicro = 3000000L, numBuckets = 32)
      println("[stress]   rows=" + Bench.force(idx.resolve(
        erEnts.filter(col("id") < 10000000L && col("id") % 97 === 0)
          .limit(1000), "id")))
    }
    erEnts.unpersist()
    // incremental CC: fold a chain-heavy edge set in 4 batches vs one
    // full recompute — the merge must stay batch-bounded (component-level
    // graph), not re-pay the full closure per fold
    val ccMergeEdges = new Table("cc edges")(spark.range(factor * 50000L)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      .filter(col("id_b") % 1000 =!= 0)) // break into 1000-node chains
    time(s"ccMerge 4 sequential folds ${factor}x") {
      var state = spark.range(0).select(col("id"), col("id").as("component"))
      var i = 0L
      while (i < 4) {
        state = Dedup.mergeComponents(state,
          ccMergeEdges.filter(pmod(col("id_a"), lit(4L)) === i))
        i += 1
      }
      println("[stress]   nodes=" + Bench.force(state))
    }
    time(s"ccFull one-shot recompute ${factor}x") {
      println("[stress]   nodes=" + Bench.force(
        Dedup.connectedComponents(ccMergeEdges)))
    }
    ccMergeEdges.unpersist()
    docsTail.unpersist()

    // ─────────────────────────────────────────────────────────────────────
    // END-TO-END curation pipeline at REPL_FACTOR× — the whole flow a
    // training-data run actually executes, composed in sequence with each
    // stage consuming the previous stage's materialized survivors:
    //   ingest/profile → quality rules → dedup cascade (exact→minhash) →
    //   decontaminate → importance weights → token budget → pack → shard.
    // Per-operator probes prove each stage's shape; THIS records the
    // composition: per-stage wall time + shuffle read/write bytes (from a
    // task-metrics listener), so a stage whose shuffle volume outgrows its
    // input shows up even when wall time hides inside ambient noise.
    // Stage name: "e2e" (STRESS_ONLY=e2e).
    // round-9 additions: each must stay linear-at-worst with corpus size
    time(s"robustTrendPerGroup ${factor}x") {
      val m = unix_micros(col("ts").cast("timestamp"))
      val d = lit(86400000000L)
      val ev = events.withColumn("day", ((m - pmod(m, d)) / d).cast("long"))
      println("[stress]   rows=" + Bench.force(Analytics.robustTrendPerGroup(
        ev, "event_type", "event_id", "day", "value")))
    }
    time(s"pruningReport ${factor}x") {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .withColumn("rid", col("l_orderkey") * 10 + col("l_linenumber"))
      val liRep = replicate(li, "rid", 100000000000L)
      val probes = Seq((0L, "l_partkey", 100L, 120L),
        (1L, "l_suppkey", 50L, 55L)).toDF("probe_id", "col_name", "lo", "hi")
      println("[stress]   rows=" + Bench.force(Layout.pruningReport(
        liRep, "rid", Seq("l_partkey", "l_suppkey"), 64, probes)))
    }
    time(s"kmvSamplePerGroup ${factor}x") {
      println("[stress]   rows=" + Bench.force(
        graft.operators.Sketches.kmvQuantilesPerGroup(
          graft.operators.Sketches.kmvSamplePerGroup(
            docs.withColumn("src", pmod(col("doc_id"), lit(20L))),
            "src", "doc_id", "doc_id", k = 256, seed = 7L),
          Seq(0.5, 0.9))))
    }

    // q249 fix probe: the card must be scan-bound (micro-integer sum +
    // sha2 distinct — no corpus-sized aggregation buffer anywhere)
    time(s"datasetCard ${factor}x") {
      println("[stress]   rows=" + Bench.force(Profiling.datasetCard(
        docs.withColumn("source", pmod(col("doc_id"), lit(20L)).cast("string")),
        "doc_id", "text", "source")))
    }

    // round-9 continuation probes ─────────────────────────────────────────
    // MG heavy hitters: two corpus scans, candidate-width shuffle only —
    // wall must track the token scan, never the vocab cardinality
    time(s"mgHeavyHitters tokens ${factor}x") {
      val toks = docs.select(
        explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      println("[stress]   hh=" + Bench.force(
        Sketches.mgHeavyHitters(toks, "tok", k = 50)))
    }
    // LSH recall audit: bounded BY CONSTRUCTION (md5-ranked ≤512-doc
    // sample) — wall must stay ~flat as the corpus grows, because the
    // only corpus-sized work is the sample's TakeOrdered scan
    time(s"lshRecallAudit (bounded sample) over ${factor}x corpus") {
      println("[stress]   bins=" + Bench.force(Dedup.lshRecallAudit(
        docs, "doc_id", "text", bands = 16, rowsPerBand = 2,
        maxSample = 512)))
    }
    // RTBF delete: by-pk wave prunes to the victims' buckets; the
    // by-value wave pays one column-pruned discovery scan + rewrites of
    // affected buckets only — both must stay delta-proportional
    time(s"store delete (RTBF) ${factor}x: build + 2 waves") {
      val dir = java.nio.file.Files.createTempDirectory("stress_rtbf_").toString
      val store = new BucketedSnapshotStore(spark, dir, numBuckets = 64,
        keyBloomFpp = 0.01)
      val base = docs.withColumn("n_chars", length(col("text")).cast("long"))
        .select("doc_id", "n_chars")
      val t0 = System.nanoTime()
      store.write("docs", base, Seq("doc_id"))
      println(f"[stress]   write: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      val t1 = System.nanoTime()
      val d1 = store.delete("docs",
        base.filter(col("doc_id") % 199 === 0).select("doc_id"),
        Seq("doc_id"), Seq("doc_id"))
      println(f"[stress]   delete-by-pk: ${(System.nanoTime() - t1) / 1e9}%.2f s, rows=$d1")
      val t2 = System.nanoTime()
      // real value keys: every row sharing one of ~1% of n_chars values
      val vkeys = base.filter(col("doc_id") % 101 === 0)
        .select("n_chars").distinct()
      val d2 = store.delete("docs", vkeys, Seq("n_chars"), Seq("doc_id"))
      println(f"[stress]   delete-by-value: ${(System.nanoTime() - t2) / 1e9}%.2f s, rows=$d2")
    }
    // modularity: two node-keyed joins + community-cardinality aggregates
    time(s"modularity ${factor}x") {
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val el0 = orders.join(li, col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b"))
      val el = spark.range(factor).toDF("__rep").crossJoin(el0)
        .select(concat(col("a"), lit("_"), col("__rep")).as("a"),
          concat(col("b"), lit("_"), col("__rep")).as("b"))
      val asg = el.select(col("a").as("node")).union(el.select(col("b")))
        .distinct().withColumn("comm",
          pmod(xxhash64(col("node")), lit(25L)))
      println("[stress]   comms=" + Bench.force(
        Graph.modularity(el, "a", "b", asg, "node", "comm")))
    }

    // round-9 continuation-2 probes ───────────────────────────────────────
    // PR curve: the corpus collapses to the (3dp-binned) score-cardinality
    // frame in ONE aggregate; wall must track the scan (AP work ≤ 1001 rows)
    time(s"prCurve ${factor}x") {
      val scored = docs.select(
        round(TextAnalysis.qualityScore(col("text")), 3).as("s"),
        (length(col("text")) > 400).as("y"))
      println("[stress]   points=" + Bench.force(
        Analytics.prCurve(scored, "s", "y")))
    }
    // jackknife ratio: one micro-int aggregate to H=64 buckets, driver
    // work on the H-row frame after — scan-bound
    time(s"jackknifeRatio ${factor}x") {
      val ev = events.select(col("user_id"),
        round(col("value") * lit(100.0)).cast("long").as("cents"),
        lit(1L).as("one"))
      println("[stress]   rows=" + Bench.force(
        Analytics.jackknifeRatio(ev, "user_id", "cents", "one",
          buckets = 64)))
    }
    // Bradley–Terry: the duel scan collapses to the item² pair frame
    // (items fixed at 5 types) — the 5 MM rounds must stay flat as the
    // corpus grows because they only touch pair/item-cardinality frames
    time(s"bradleyTerry ${factor}x duels, 5 rounds") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val duels = events
        .withColumn("__pt", lag(col("event_type"), 1).over(w))
        .withColumn("__pv", lag(col("value"), 1).over(w))
        .filter(col("__pt").isNotNull &&
          col("__pt") =!= col("event_type") && col("value") =!= col("__pv"))
        .select(when(col("value") > col("__pv"), col("event_type"))
            .otherwise(col("__pt")).as("w"),
          when(col("value") > col("__pv"), col("__pt"))
            .otherwise(col("event_type")).as("l"))
      println("[stress]   items=" + Bench.force(
        Training.bradleyTerry(duels, "w", "l", rounds = 5)))
    }
    // funnel timings: per-step user-keyed min aggregates + ONE pruned
    // rank pass over the union of delay frames — linear in events
    time(s"funnelTimings ${factor}x") {
      println("[stress]   rows=" + Bench.force(
        Analytics.funnelTimings(events, "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"))))
    }
    // Poisson spike bound: (key, day) count aggregate + key-totals join,
    // pure closed form after — scan-bound
    time(s"poissonSpikeBound ${factor}x") {
      println("[stress]   rows=" + Bench.force(
        Analytics.poissonSpikeBound(events, "event_type", "ts")))
    }
    // HyperBall harmonic: each round is O(|E|·m) register-merge rows —
    // radius-linear, degree-INDEPENDENT (the wedge family's Σ deg²
    // explodes on exactly these replicated bipartite hubs; HyperBall
    // must scale with edges only)
    time(s"hyperball harmonic ${factor}x (12M-edge graph, 3 rounds, m=16)") {
      val oB = spark.range(factor).toDF("__rep")
        .crossJoin(spark.read.parquet(s"$sfDir/orders.parquet"))
      val lB = spark.range(factor).toDF("__rep2")
        .crossJoin(spark.read.parquet(s"$sfDir/lineitem.parquet"))
      val el = oB.join(lB, col("__rep") === col("__rep2") &&
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("__rep"), lit("_"), col("o_custkey"))
            .as("a"),
          concat(lit("s"), col("__rep"), lit("_"), col("l_suppkey")).as("b"))
      println("[stress]   top=" + Bench.force(
        Graph.harmonicCentralityHyperBall(el, "a", "b", rounds = 3,
          m = 16, topK = 20)))
    }

    val meter = new E2eShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    def stage(name: String)(f: => Long): Unit = {
      val (r0, w0) = meter.snapshot()
      val s0 = setupNs
      val t0 = System.nanoTime()
      val n = f
      val secs = (System.nanoTime() - t0 - (setupNs - s0)) / 1e9
      val (r1, w1) = meter.snapshot()
      println(f"[stress] e2e/$name: $secs%.2f s, rows=$n, " +
        f"shuffleRead=${(r1 - r0) / 1e6}%.1f MB, shuffleWrite=${(w1 - w0) / 1e6}%.1f MB")
    }
    time(s"e2e pipeline ${factor}x") {
      import org.apache.spark.storage.StorageLevel
      def mat(df: DataFrame): DataFrame = {
        val p = df.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p
      }
      var ingested: DataFrame = null
      stage("1_ingest_profile") {
        ingested = mat(docs.select(col("doc_id"), col("text"),
          pmod(col("doc_id"), lit(20L)).as("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("ntok"),
          round(TextAnalysis.qualityScore(col("text")), 6).as("quality")))
        ingested.count()
      }
      var passed: DataFrame = null
      stage("2_quality_rules") {
        val chars = length(col("text")).cast("long")
        val letters = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
          .cast("long")
        val keep = col("ntok").between(5L, 100000L) &&
          (letters * 10L >= chars * 4L)
        passed = mat(ingested.filter(keep))
        passed.count()
      }
      var deduped: DataFrame = null
      stage("3_dedup_cascade") {
        val kept = Dedup.dedupPipeline(
          passed.select("doc_id", "text"), "doc_id", "text",
          assumeUniqueId = true)
        deduped = mat(passed.join(kept.select("doc_id"), Seq("doc_id"),
          "left_semi"))
        deduped.count()
      }
      var clean: DataFrame = null
      stage("4_decontaminate") {
        val bench = docs0.limit(500).select(col("text").as("bench_text"))
        val kept = Dedup.decontaminate(deduped.select("doc_id", "text"),
          "doc_id", "text", bench, "bench_text", ngram = 13, minMatches = 1)
        clean = mat(deduped.join(kept.select("doc_id"), Seq("doc_id"),
          "left_semi"))
        clean.count()
      }
      var weighted: DataFrame = null
      stage("5_importance_weights") {
        val target = docs0.limit(2000).select("doc_id", "text")
        val w = Importance.importanceWeights(clean.select("doc_id", "text"),
          target, "doc_id", "text")
        weighted = mat(clean.join(w, Seq("doc_id"), "left")
          .withColumn("logw", coalesce(col("logw"), lit(0.0))))
        weighted.count()
      }
      var budgeted: DataFrame = null
      stage("6_token_budget") {
        // fixed budget: the dedup stage collapses replicas, so the
        // survivor corpus is ~replication-invariant — a factor-scaled
        // budget would keep everything and prune nothing
        budgeted = mat(Sampling.selectByTokenBudget(
          weighted.select("doc_id", "ntok", "quality"),
          "doc_id", "ntok", "quality",
          budget = 1000000L))
        budgeted.count()
      }
      var packed: DataFrame = null
      stage("7_pack") {
        packed = mat(Analytics.packSequences(
          budgeted.withColumn("stratum", pmod(col("doc_id"), lit(64L))),
          "doc_id", "ntok", capacity = 2048L, strataCol = "stratum"))
        packed.count()
      }
      stage("8_shard") {
        val sharded = Sampling.assignTokenShards(
          packed.select("doc_id", "ntok"), "doc_id", "ntok",
          targetTokens = 100000L)
        Bench.force(sharded)
      }
      Seq(ingested, passed, deduped, clean, weighted, budgeted, packed)
        .foreach(df => if (df != null) df.unpersist(false))
    }
    spark.stop()
  }
}

/** Accumulates shuffle read/write bytes across all tasks (e2e stage
  * attribution: snapshot deltas around each stage). */
class E2eShuffleMeter extends org.apache.spark.scheduler.SparkListener {
  private val read = new java.util.concurrent.atomic.AtomicLong
  private val write = new java.util.concurrent.atomic.AtomicLong
  override def onTaskEnd(
      e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
  def snapshot(): (Long, Long) = (read.get(), write.get())
}
