package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DSIR-style importance weighting for targeted data selection (extension;
  * after Xie et al. 2023, "Data Selection for Language Models via
  * Importance Resampling"): score every raw document by how much more
  * likely its hashed n-gram features are under a TARGET distribution (a
  * trusted in-domain sample) than under the RAW distribution, then select
  * by weight (resampling composes with [[Sampling.topFractionByScore]] /
  * [[Sampling.hashSample]]).
  *
  * log w(doc) = Σ_b cnt(doc, b) · [ ln p̂_t(b) − ln p̂_r(b) ]  with
  * additive-α smoothing over B hashed feature buckets.
  *
  * Spark shape: both distributions are B-bounded (bucket, count)
  * aggregates — map-side combined — and the per-doc SCORE is a pure
  * projection: the fused [[graft.functions.BigramBucketCounts]] expression
  * builds each doc's sorted sparse feature vector inside the scan, and the
  * score folds it against a dense B-double weight-array literal (no
  * (doc, bucket) shuffle, no join, no collect_list — measured 2.6× at 50×
  * stress over the relational join shape). No UDFs; the md5-prefix bucket
  * hash keeps every weight replayable in an external SQL engine; the
  * bucket-ascending fold keeps the double invariant under repartitioning. */
object Importance {

  /** Hashed feature bucket in [0, B). `hashKind` as in the dedup family:
    * `xxhash64` is the production default (codegen'd; md5+conv was ~a
    * third of the 20×-stress feature-scan cost); `md5_60` exists so an
    * external SQL oracle can replay every bucket bit-for-bit (the
    * verification artifact, not the shipped default — same convention as
    * the minhash/simhash signatures). */
  def featureBucket(feature: Column, buckets: Int,
      hashKind: String = "xxhash64"): Column = {
    val h = if (hashKind == "md5_60") Dedup.md5Hash60(feature) else xxhash64(feature)
    pmod(h, lit(buckets.toLong))
  }

  /** Word-bigram features of a text column: "w1 w2" strings over the
    * shared whitespace tokenizer (DSIR's hashed-ngram convention; bigrams
    * carry word-order signal unigram bags miss). Empty/1-token docs have
    * no features and receive no weight row.
    *
    * This is the SEMANTIC DEFINITION (bigrams = 2-shingles minus the
    * short-doc pseudo-shingle, which has no space) — the hot paths use
    * [[featureVector]], whose fused expression is spec-asserted equal to
    * hashing exactly these strings. */
  def bigramsCol(text: Column): Column =
    filter(Dedup.shinglesOfAll(Dedup.tokensCol(text), 2), p => p.contains(" "))

  /** Per-doc sparse feature vector: sorted (bucket, cnt) pairs built
    * inside the scan by the fused [[graft.functions.BigramBucketCounts]]
    * expression — no bigram string column, no per-row hash projection,
    * and consumers that fold it (scoring, training) need NO (doc, bucket)
    * shuffle at all. */
  def featureVector(text: Column, buckets: Int,
      hashKind: String = "xxhash64"): Column =
    graft.functions.FeatureHash.bigram_bucket_counts(
      Dedup.tokensCol(text), buckets, hashKind)

  /** (doc, bucket, cnt) hashed-bigram counts — the per-document feature
    * vector exploded to rows (already per-doc-aggregated by the fused
    * expression: one row per distinct (doc, bucket)). */
  def docBucketCounts(df: DataFrame, idCol: String, textCol: String,
      buckets: Int, hashKind: String = "xxhash64"): DataFrame =
    df.select(col(idCol),
        explode(featureVector(col(textCol), buckets, hashKind)).as("__bc"))
      .select(col(idCol), col("__bc.bucket").as("bucket"), col("__bc.cnt").as("cnt"))

  /** (bucket, cnt) corpus feature counts — B-bounded output, map-side
    * combined to ≤ B rows per task. */
  def bucketCounts(df: DataFrame, textCol: String, buckets: Int,
      hashKind: String = "xxhash64"): DataFrame =
    df.select(explode(featureVector(col(textCol), buckets, hashKind)).as("__bc"))
      .groupBy(col("__bc.bucket").as("bucket")).agg(sum("__bc.cnt").as("cnt"))

  /** Fold a feature vector against a dense weight-array literal (index =
    * bucket, element_at is O(1)) — bucket-ascending by construction, so
    * the double is deterministic under any partitioning and matches the
    * SQL oracle's ORDER BY bucket fold. */
  private[operators] def dotWeights(vec: Column, wArr: Array[Double],
      init: Column): Column =
    aggregate(vec, init, (acc, x) => acc +
      x.getField("cnt").cast("double") *
        element_at(lit(wArr), x.getField("bucket").cast("int") + 1))

  /** Per-bucket log-likelihood ratios ln p̂_target(b) − ln p̂_raw(b) with
    * additive-α smoothing: (bucket, w), ≤ B rows. Written in the exact
    * operation order the SQL oracle replays:
    * ln(t+α) − ln(T+αB) − ln(r+α) + ln(R+αB). */
  def bucketLogRatios(raw: DataFrame, target: DataFrame, textCol: String,
      buckets: Int, alpha: Double, hashKind: String = "xxhash64"): DataFrame =
    logRatiosFromCounts(bucketCounts(raw, textCol, buckets, hashKind),
      bucketCounts(target, textCol, buckets, hashKind), buckets, alpha)

  /** Core of [[bucketLogRatios]] over pre-aggregated (bucket, cnt)
    * frames — lets callers that already hold a finer-grained count frame
    * (e.g. [[importanceWeights]]'s per-doc counts) derive the raw side by
    * re-aggregation instead of a second corpus scan. */
  private[graft] def logRatiosFromCounts(rawCounts: DataFrame,
      targetCounts: DataFrame, buckets: Int, alpha: Double): DataFrame = {
    require(alpha > 0.0, s"alpha must be > 0 (unsmoothed ratios diverge), got $alpha")
    val r = rawCounts.withColumnRenamed("cnt", "__r")
    val t = targetCounts.withColumnRenamed("cnt", "__t")
    val joined = r.join(t, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("__r"), lit(0L)).as("__r"),
        coalesce(col("__t"), lit(0L)).as("__t"))
    // totals (T, R) as an unpartitioned window over the ≤ B-row frame —
    // single-pass (no self-join / recomputed corpus scan), and the
    // one-task window is bounded at B rows by construction
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val aB = lit(alpha * buckets)
    // totals named distinctly from __t/__r — Spark resolution is
    // case-insensitive, so "__T" would silently REPLACE "__t"
    joined
      .withColumn("__tsum", sum("__t").over(w))
      .withColumn("__rsum", sum("__r").over(w))
      .select(col("bucket"),
        (log(col("__t") + lit(alpha)) - log(col("__tsum") + aB)
          - (log(col("__r") + lit(alpha))) + log(col("__rsum") + aB)).as("w"))
  }

  /** Per-document importance log-weight of every raw document against the
    * target sample: (id, logw). Docs with no bigram features (≤ 1 token)
    * are absent — they carry no evidence either way. */
  def importanceWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 1 << 13, alpha: Double = 0.5,
      hashKind: String = "xxhash64"): DataFrame = {
    // Two corpus scans: the weight pass aggregates straight to B buckets
    // (partial aggregation collapses it to <= B rows per task, its shuffle
    // is ~free); the SCORING pass is then a pure projection — the weight
    // table collects to a dense B-double array (32 KB at the default B,
    // bounded by design, the IVF-centroid pattern) and each doc folds its
    // in-scan feature vector against it. No (doc, bucket) shuffle, no
    // join, no collect_list aggregate anywhere.
    val w = bucketLogRatios(raw, target, textCol, buckets, alpha, hashKind)
    val wArr = new Array[Double](buckets)
    w.collect().foreach(r => wArr(r.getLong(0).toInt) = r.getDouble(1))
    val vec = featureVector(col(textCol), buckets, hashKind)
    raw.select(col(idCol), vec.as("__bc"))
      .filter(size(col("__bc")) > 0)
      .select(col(idCol), dotWeights(col("__bc"), wArr, lit(0.0)).as("logw"))
  }

  /** Pairwise Jensen–Shannon divergence between the unigram distributions
    * of every pair of sources — "how different are my corpora", the
    * report behind mixing-weight decisions (JS is symmetric, bounded by
    * ln 2, and defined for disjoint supports, which raw KL is not).
    * Distributions use additive-α smoothing over the GLOBAL vocabulary,
    * so a word absent from one source still contributes mass:
    * p_s(w) = (c_{s,w} + α) / (n_s + α·|V|). Per-term arithmetic is a
    * fixed parenthesization (0.5·(p·ln(p/m)) + 0.5·(q·ln(q/m)),
    * m = (p+q)/2) — the ln-on-equal-inputs convention q66/q83 already
    * proved replayable across engines.
    *
    * Scale shape: the corpus collapses to the (source, word) count frame
    * in one map-side-combined scan (checkpointed — grid and totals both
    * read it); the complete vocab×sources grid and the word-keyed pair
    * join are vocabulary-sized, never corpus-sized; totals broadcast.
    * `deterministic` folds each pair's terms word-sorted (the gate path,
    * vocab-bounded collect per pair); production keeps the plain
    * map-side-combined sum. Returns (source_a, source_b, js) for every
    * unordered pair. */
  def sourceDivergence(df: DataFrame, groupCol: String, textCol: String,
      alpha: Double = 0.5, deterministic: Boolean = false): DataFrame = {
    require(alpha > 0.0, s"alpha must be > 0, got $alpha")
    val counts = df
      .select(col(groupCol).as("__g"),
        explode(Dedup.tokensCol(col(textCol))).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy("__g", "__w").agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val vocab = counts.select("__w").distinct()
    val vSize = vocab.count()
    val totals = counts.groupBy("__g").agg(sum("__c").as("__n"))
    val grid = vocab.crossJoin(Ops.broadcastIfSmall(totals))
      .join(counts, Seq("__g", "__w"), "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
    val aV = lit(alpha) * vSize // exact for integral 2α·|V|
    def prob(c: Column, n: Column): Column = (c + lit(alpha)) / (n + aV)
    val a = grid.select(col("__w"), col("__g").as("source_a"),
      col("__c").as("__ca"), col("__n").as("__na"))
    val b = grid.select(col("__w"), col("__g").as("source_b"),
      col("__c").as("__cb"), col("__n").as("__nb"))
    val p = prob(col("__ca"), col("__na"))
    val q = prob(col("__cb"), col("__nb"))
    val m = (p + q) / lit(2.0)
    val term = lit(0.5) * (p * log(p / m)) + lit(0.5) * (q * log(q / m))
    val terms = a.join(b, Seq("__w"))
      .filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), col("__w"), term.as("__t"))
    terms.groupBy("source_a", "source_b")
      .agg(Ops.foldSum(deterministic, col("__t"), col("__w")).as("js"))
  }

  /** Distinctive vocabulary per source: Dunning log-likelihood keyness
    * (G² = 2·(a·ln(a/E₁) + b·ln(b/E₂)) over the word's in-source count
    * `a` vs its rest-of-corpus count `b`, expectations proportional to
    * token mass) — [[sourceDivergence]] says HOW FAR two sources are,
    * this says WHICH WORDS carry the difference. Only OVERREPRESENTED
    * terms rank (observed > expected; G² is also large for conspicuously
    * absent words, which is the wrong list for "what is this source
    * about").
    *
    * Scale shape: one corpus scan to (source, word) counts
    * (map-side-combined, checkpointed); source totals broadcast; word
    * totals join word-keyed (vocab-sized both sides); the per-source
    * top-k rides [[Sampling.topKPerGroup]]'s pruned range machinery —
    * never a one-task-per-source window. All arithmetic is fixed-
    * parenthesization doubles over exact counts; `ln` parity across
    * engines is the q66/q83/q106 precedent. b = 0 terms contribute 0
    * (the 0·ln 0 convention). */
  def sourceKeyness(df: DataFrame, groupCol: String, textCol: String,
      topK: Int = 10): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val counts = df
      .select(col(groupCol).as("__g"),
        explode(Dedup.tokensCol(col(textCol))).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy("__g", "__w").agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val srcTotals = counts.groupBy("__g").agg(sum("__c").as("__cg"))
    val wordTotals = counts.groupBy("__w").agg(sum("__c").as("__cw"))
    val n = counts.agg(sum("__c")).first().getLong(0)
    val nD = lit(n.toDouble)
    val a = col("__c").cast("double")
    val b = (col("__cw") - col("__c")).cast("double")
    val cc = col("__cg").cast("double")
    val d = nD - cc
    val ab = a + b
    val e1 = (cc * ab) / nD
    val e2 = (d * ab) / nD
    val t1 = a * log(a / e1)
    val t2 = when(col("__cw") === col("__c"), lit(0.0))
      .otherwise(b * log(b / e2))
    val scored = counts
      .join(Ops.broadcastIfSmall(srcTotals), Seq("__g"))
      .join(wordTotals, Seq("__w"))
      .filter((a * nD) > (cc * ab)) // overrepresented only
      .select(col("__g").as("source"), col("__w").as("term"),
        (lit(2.0) * (t1 + t2)).as("g2"))
    Sampling.topKPerGroup(scored, "source", "term", "g2", topK)
  }
}
