package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Large-scale deduplication operators for training-data pipelines.
  *
  * These go beyond the reference's pk-dedup (SURVEY §2.7): content-exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard near-duplicate detection, all
  * expressed as shuffles on *small derived keys* (hashes, signatures) rather
  * than full rows, so they hold at 100 TB:
  *   - exact: one shuffle on a 128-bit content hash.
  *   - MinHash LSH: doc → shingle → k hash lanes → per-lane min (partial
  *     aggregation map-side) → band keys → self-join only within buckets.
  *   - pair verification shuffles (id_a, id_b) pairs, never documents.
  * Everything is built-in codegen'd functions — no UDFs on the hot path.
  */
object Dedup {

  /** Exact dedup by content hash: first row (lowest `orderCol`) per distinct
    * content survives. The hash covers a JSON rendering of the content
    * struct: field names delimit values and nulls stay distinguishable, so
    * ("x", null) never collides with (null, "x") the way a separator-joined
    * concat would.
    *
    * Winners are derived over (hash, orderCol) ONLY — a key-width shuffle
    * with map-side partial min — then semi-joined back on those same two
    * columns. The previous window formulation shuffled AND sorted full
    * document rows by hash; here document text crosses at most the final
    * semi-join exchange (no sort), and when the winner set is small AQE
    * turns that into a broadcast semi-join with no corpus shuffle at all.
    *
    * One-survivor is unconditional: rows tied on BOTH content hash and
    * `orderCol` (a non-unique order column, e.g. a timestamp) are collapsed
    * to an arbitrary single row by a final hash-keyed dropDuplicates. That
    * collapse costs one survivor-width shuffle; when `orderCol` is known
    * row-unique (the common doc-id case) pass `assumeUniqueOrder = true`
    * to skip it — ties are then impossible and the plan stays the
    * key-only-shuffle one described above. */
  def exactDedup(df: DataFrame, contentCols: Seq[String], orderCol: String,
      assumeUniqueOrder: Boolean = false): DataFrame = {
    val h = sha2(to_json(struct(contentCols.map(c => col(c)): _*)), 256)
    val keyed = df.withColumn("__gs_h", h)
    // alias the winner-side columns to fresh names — a self-derived join on
    // the same attribute would resolve both sides to one reference and
    // silently drop the hash condition
    val winners = keyed.select(col("__gs_h").as("__gs_wh"), col(orderCol).as("__gs_o"))
      .groupBy("__gs_wh").agg(min("__gs_o").as("__gs_o"))
    // null-safe compare on the order column: a group whose ids are ALL null
    // has min(__gs_o) = null, and a plain === would match nothing — the
    // whole group would silently vanish instead of surviving
    val survivors = keyed.join(winners,
        col("__gs_h") === col("__gs_wh") && col(orderCol) <=> col("__gs_o"),
        "left_semi")
    (if (assumeUniqueOrder) survivors else survivors.dropDuplicates("__gs_h"))
      .drop("__gs_h")
  }

  /** Word-level shingles over an ALREADY-SPLIT token array column —
    * distinct, first-occurrence order. One fused pass via the native
    * [[graft.functions.WordShingles]] expression; the previous HOF
    * formulation (`transform` over positions, n `element_at`s +
    * `concat_ws` per shingle, interpreted per element) is preserved
    * output-identical — spec-asserted — but was the second-largest
    * interpreted cost in the minhash family after the signature lanes. */
  def shinglesOf(tokens: Column, n: Int): Column =
    graft.functions.Shingles.word_shingles(tokens, n, distinct = true)

  def tokensCol(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Portable 60-bit hash: decimal value of the first 15 hex chars of md5.
    * Reproducible in DuckDB as `('0x' || substr(md5(x::VARCHAR), 1, 15))::
    * UBIGINT`, which lets an oracle recompute hash-dependent operators
    * (simhash, winnowing, IVF seeding) exactly. The input is cast to string
    * first — Spark's md5 would otherwise implicit-cast numerics to their
    * BINARY encoding, which no SQL engine's md5(x::VARCHAR) reproduces.
    * xxhash64 stays the default on hot paths — md5 is ~5× slower — this is
    * the cross-engine-verifiable alternative. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c.cast(StringType)), 1, 15), 16, 10).cast(LongType)

  /** Pass THIS exact reference as a `tokenHash` argument to select
    * [[simhash]]'s FUSED single-expression md5 path (bit-identical to the
    * generic explode → md5Hash60 → groupBy formulation, spec-asserted; no
    * token explode, no 64-column vote shuffle). Any other non-null
    * function takes the generic grouped path — identity is the marker,
    * so a fresh `Dedup.md5Hash60 _` eta-expansion still runs (correctly,
    * just slower) through the grouped form. */
  val Md5TokenHash: Column => Column = md5Hash60(_)

  /** Positional (non-distinct) shingles — winnowing needs every k-gram
    * occurrence in document order; `shinglesOf` dedups for set-similarity. */
  def shinglesOfAll(tokens: Column, n: Int): Column =
    graft.functions.Shingles.word_shingles(tokens, n, distinct = false)

  /** (doc_id, shingle) rows — one row per distinct shingle per doc. */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), tokensCol(col(textCol)).as("__toks"))
      .select(col(idCol), explode(shinglesOf(col("__toks"), n)).as("__sh"))

  /** Word-level shingles of `n` tokens as an array column (convenience;
    * prefer shingleRows/shinglesOf in operator pipelines). */
  def shingles(text: Column, n: Int): Column = shinglesOf(tokensCol(text), n)

  /** (doc_id, signature band) keys for MinHash LSH.
    *
    * `numHashes = bands * rowsPerBand` hash lanes; per-doc signature =
    * element-wise min of per-shingle hashes; docs sharing any band key are
    * candidates. Deterministic (seeded murmur3 lanes, no RNG). */
  def minhashBands(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4): DataFrame =
    bandsFromShingles(shingleRows(df, idCol, textCol, shingleSize), idCol, bands, rowsPerBand)

  /** Signature + band keys from (id, shingle) rows: one pass — a
    * conditional-free min-aggregate per hash lane (partial-aggregated
    * map-side; no (doc × shingle × lane) row explosion). */
  private[graft] def bandsFromShingles(
      sh: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    val laneAggs = (0 until numHashes).map(i =>
      min(xxhash64(col("__sh"), lit(i))).as(s"__h$i"))
    val sig = sh.groupBy(col(idCol)).agg(laneAggs.head, laneAggs.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"__h$i")): _*).as("__sig"))
    bandKeys(sig, idCol, bands, rowsPerBand)
  }

  /** Signature + band keys straight from a MATERIALIZED shingle-ARRAY
    * column (`__sharr`): each lane is an `array_min(transform(...))` over
    * the array — the per-doc min-hash computed with NO shuffle at all (the
    * exploded-rows formulation pays a groupBy exchange). Hash functions are
    * identical to bandsFromShingles, so signatures match exactly. */
  private[graft] def bandsFromShingleArray(
      shArr: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    // fused one-pass signature (bit-identical to the per-lane
    // array_min(transform(...)) HOF form, ~10× cheaper — see
    // MinHashSignature's scaladoc)
    val sig = shArr.select(col(idCol),
      graft.functions.MinHashSig.minhash_signature(col("__sharr"), numHashes).as("__sig"))
    bandKeys(sig, idCol, bands, rowsPerBand)
  }

  /** (id, __sig) → one (id, band, band_hash) row per band. */
  private def bandKeys(sig: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame =
    sig.select(col(idCol), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws(",",
            slice(col("__sig"), b * rowsPerBand + 1, lit(rowsPerBand))), b)))
      .as(Seq("band", "band_hash")))

  /** Exact jaccard for candidate pairs straight from shingle ARRAYS: join
    * the (small) pair list against the per-doc arrays twice and intersect
    * per pair — no exploded-row distinct, no (id, hash) shuffles; only docs
    * that appear in a candidate pair ever move. The right shape whenever
    * pairs ≪ corpus (always, after exact-dedup-first). */
  private[graft] def jaccardFromShingleArrays(
      shArr: DataFrame, pairs: DataFrame): DataFrame = {
    val a = shArr.toDF("id_a", "__sha")
    val b = shArr.toDF("id_b", "__shb")
    val inter = size(array_intersect(col("__sha"), col("__shb")))
    pairs.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        (inter / (size(col("__sha")) + size(col("__shb")) - inter)).as("jaccard"))
  }

  /** Exact jaccard for candidate pairs from hashed shingle rows. */
  private[graft] def jaccardFromShingleHashes(
      hashed: DataFrame, pairs: DataFrame): DataFrame =
    pairOverlapCounts(hashed, pairs)
      .select(col("id_a"), col("id_b"),
        (col("inter") / (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))

  /** Shared-shingle counts with both set sizes for candidate pairs:
    * (id_a, id_b, inter, n_a, n_b) from hashed shingle rows — the common
    * core of Jaccard and containment scoring. */
  private def pairOverlapCounts(hashed: DataFrame, pairs: DataFrame): DataFrame = {
    val sizes = hashed.groupBy(col(hashed.columns.head)).agg(count("*").as("__n"))
    val shA = hashed.toDF("id_a", "sh")
    val shB = hashed.toDF("id_b", "sh")
    pairs.join(shA, "id_a").join(shB, Seq("id_b", "sh"))
      .groupBy("id_a", "id_b").agg(count("*").as("inter"))
      .join(sizes.toDF("id_a", "n_a"), "id_a")
      .join(sizes.toDF("id_b", "n_b"), "id_b")
  }

  /** Near-containment pairs by overlap coefficient |A∩B| / min(|A|,|B|) —
    * the quote/subset-extraction dedup case Jaccard-gated near-dup MISSES:
    * a 25-token quote lifted verbatim from a 500-token document has
    * containment 1.0 but Jaccard ≈ 0.05, far below any near-dup threshold.
    *
    * Shape: a PREFIX-FILTERED set-overlap join (the PPJoin family's filter
    * adapted to the overlap coefficient; minhash bands estimate Jaccard,
    * not containment, so LSH would re-introduce exactly the miss this
    * operator exists to close):
    *  1. index (id, shingle-hash), stop-shingles above `maxShingleDf`
    *     dropped (sizes recomputed AFTER the drop, so numerator and
    *     denominator stay consistent: exact containment over the
    *     non-ubiquitous shingle space — ≡ brute force whenever no shingle
    *     is hot, deliberately blind to boilerplate-only overlap beyond);
    *  2. PIGEONHOLE PREFIX: a pair at overlap ≥ t·n_small must share at
    *     least one of the smaller set's p = n − ⌈t·n⌉ + 1 shingles — ANY
    *     p-subset works, so pick the p RAREST (global df asc), which
    *     minimizes the candidate join mass. Only prefix rows of the
    *     potential-contained side join the full index: candidate mass is
    *     Σ_sh df_prefix·df_full, not Σ_sh df² — the naive any-shared
    *     self-join aggregates one group per pair sharing ANY shingle
    *     (measured 2.6× slower end-to-end at 20×, and that aggregate is
    *     the scale killer: ~n·avg_neighbors groups);
    *  3. exact verify per candidate from per-doc shingle ARRAYS
    *     (array_intersect — pair-sized work, no second index-mass join).
    * The ⌈t·n⌉ is computed as ceil(t·n − 1e-9): float error then only ever
    * ENLARGES the prefix (extra candidates), never shrinks it (missed true
    * pairs).
    *
    * Output (id_a = contained/smaller set, id_b = container): pairs with
    * |A| < |B|, or id_a < id_b when sizes tie; `containment` ≥ threshold.
    * Docs shorter than `shingleSize` tokens carry the family's single
    * whole-doc pseudo-shingle ([[graft.functions.WordShingles]]), so two
    * identical short docs still pair; a short doc never "contains" a
    * longer one (a full n-gram can't equal a shorter join). */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.9,
      maxShingleDf: Int = 1000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    import org.apache.spark.sql.expressions.Window
    // the index feeds df-counts, both candidate-join sides, and the verify
    // arrays — WITHOUT materialization every branch re-runs the shingle
    // explode+distinct (measured 2× end-to-end at 20×). Two eager
    // checkpoints, each (id, hash[, small ints])-narrow.
    // no distinct: shinglesOf dedups within each doc, so (id, shingle)
    // rows are already unique — a distinct here would pay a full extra
    // exchange over the index for nothing
    val hashed = shingleRows(df, idCol, textCol, shingleSize)
      .select(col(idCol), xxhash64(col("__sh")).as("__sh"))
      .localCheckpoint(true)
    val dfc = hashed.groupBy("__sh").agg(count(lit(1)).as("__df"))
    // stop-shingle drop: the hot list is tiny (usually empty) → broadcast
    // anti-join, never a full df-count join against the index
    val kept = hashed.join(
      Ops.broadcastIfSmall(dfc.filter(col("__df") > maxShingleDf).select("__sh")),
      Seq("__sh"), "left_anti")
    // rarity-ranked index: df rides along (shingle-keyed join), then one
    // id-keyed exchange ranks each doc's shingles rarest-first
    val w = Window.partitionBy(col(idCol))
    val ranked = kept.join(dfc, Seq("__sh"))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__rk",
        row_number().over(w.orderBy(col("__df").asc, col("__sh").asc)))
      .localCheckpoint(true)
    val prefix = ranked.filter(
      col("__rk") <= col("__n") - ceil(col("__n") * lit(threshold) - lit(1e-9)) + lit(1))
    val cand = prefix.select(col("__sh"), col(idCol).as("id_a"), col("__n").as("n_a"))
      .join(ranked.select(col("__sh"), col(idCol).as("id_b"), col("__n").as("n_b")),
        "__sh")
      // only the smaller side's prefix must hit; equal sizes hit via
      // either side's prefix
      .filter(col("n_a") < col("n_b") ||
        (col("n_a") === col("n_b") && col("id_a") =!= col("id_b")))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
    // exact verify: per-doc shingle arrays of the capped space, pair-sized
    // intersect work
    val arrs = ranked.groupBy(col(idCol)).agg(collect_list(col("__sh")).as("__arr"))
    val inter = size(array_intersect(col("__sha"), col("__shb")))
    cand
      .join(arrs.select(col(idCol).as("id_a"), col("__arr").as("__sha")), "id_a")
      .join(arrs.select(col(idCol).as("id_b"), col("__arr").as("__shb")), "id_b")
      .select(col("id_a"), col("id_b"), size(col("__sha")).as("n_a"),
        size(col("__shb")).as("n_b"), inter.as("inter"))
      .select(
        when(col("n_a") < col("n_b"), col("id_a"))
          .when(col("n_b") < col("n_a"), col("id_b"))
          .otherwise(least(col("id_a"), col("id_b"))).as("id_small"),
        when(col("n_a") < col("n_b"), col("id_b"))
          .when(col("n_b") < col("n_a"), col("id_a"))
          .otherwise(greatest(col("id_a"), col("id_b"))).as("id_large"),
        (col("inter") / least(col("n_a"), col("n_b"))).as("containment"))
      .filter(col("containment") >= threshold)
      .select(col("id_small").as("id_a"), col("id_large").as("id_b"),
        col("containment"))
  }

  /** Hot-bucket cap for LSH candidate generation: a degenerate bucket with
    * m members yields m(m−1)/2 pairs — near-identical boilerplate clusters
    * (the common web-crawl case) blow up quadratically without a cap.
    * Buckets above `maxBucketSize` are split into ceil(m/maxBucketSize)
    * sub-buckets by a secondary id hash, bounding per-bucket work at
    * O(m·maxBucketSize); cross-sub-bucket pairs are dropped (bounded recall
    * loss on degenerate clusters — the standard production trade; exact
    * replicas should be removed by exactDedup first). The member counts are
    * a key-only aggregate; the count join broadcasts under AQE. */
  private[operators] def capBuckets(
      df: DataFrame, bucketCols: Seq[String], idCol: String, maxBucketSize: Int): DataFrame = {
    val counts = df.groupBy(bucketCols.map(col): _*).agg(count(lit(1)).as("__m"))
    df.join(counts, bucketCols)
      .withColumn("__sub",
        when(col("__m") <= maxBucketSize, lit(0L))
          .otherwise(pmod(xxhash64(col(idCol)),
            ceil(col("__m") / lit(maxBucketSize.toDouble)).cast("long"))))
      .drop("__m")
  }

  /** Observability for the cap: per-oversize-bucket member count and the
    * (upper-bound) number of candidate pairs the split drops — callers can
    * aggregate/log this before running a capped dedup. */
  def oversizedBucketStats(
      df: DataFrame, bucketCols: Seq[String], maxBucketSize: Int): DataFrame = {
    val k = ceil(col("__m") / lit(maxBucketSize.toDouble))
    df.groupBy(bucketCols.map(col): _*).agg(count(lit(1)).as("__m"))
      .filter(col("__m") > maxBucketSize)
      .select((bucketCols.map(col) :+ col("__m").as("members") :+
        // total pairs minus ~within-sub pairs: m(m-1)/2 · (1 - 1/k)
        (col("__m") * (col("__m") - 1) / 2 * (lit(1.0) - lit(1.0) / k))
          .cast("long").as("dropped_pairs_approx")): _*)
  }

  /** Candidate near-dup pairs (id_a < id_b) from shared LSH buckets.
    * `maxBucketSize` bounds degenerate buckets (see capBuckets /
    * [[graft.functions.BucketPairs]]).
    *
    * Long ids (every internal gated path) take the fused shape — ONE
    * bucket-keyed exchange into member arrays, singleton buckets (the
    * vast majority) dropped before any pair work, pairs + the hot-bucket
    * cap generated in-expression — instead of the relational count-join +
    * self-join, which pays four exchanges over the full band frame
    * (−38% on q25's candidate stage, PLANS.md round-8). Non-long ids
    * keep the relational form (same output, spec-asserted). */
  def minhashCandidates(bandsDf: DataFrame, idCol: String, maxBucketSize: Int = 1000): DataFrame =
    bucketCandidatePairs(bandsDf, Seq("band", "band_hash"), idCol, maxBucketSize)

  /** Shared candidate generator for every bucket-keyed LSH family
    * (minhash bands, simhash/hamming chunks, IVF cells). */
  private[operators] def bucketCandidatePairs(
      df: DataFrame, bucketCols: Seq[String], idCol: String, maxBucketSize: Int): DataFrame = {
    if (df.schema(idCol).dataType == LongType) {
      df.groupBy(bucketCols.map(col): _*)
        .agg(collect_list(col(idCol)).as("__members"))
        .filter(size(col("__members")) >= 2)
        // streaming generator, not an array expression: a dense bucket's
        // ~m²/2 pairs must never materialize as one value
        .select(graft.functions.BucketPairs
          .bucket_pairs(col("__members"), maxBucketSize).as(Seq("id_a", "id_b")))
        .distinct()
    } else relationalCandidatePairs(df, bucketCols, idCol, maxBucketSize)
  }

  /** The pre-round-8 relational candidate plan (count join + self-join).
    * Kept as the non-long-id fallback and as the equivalence reference
    * the fused path is spec-asserted against. */
  private[graft] def relationalCandidatePairs(
      df: DataFrame, bucketCols: Seq[String], idCol: String, maxBucketSize: Int): DataFrame = {
    val capped = capBuckets(df, bucketCols, idCol, maxBucketSize)
    val keys = bucketCols :+ "__sub"
    val a = capped.select((keys.map(col) :+ col(idCol).as("id_a")): _*)
    val b = capped.select((keys.map(col) :+ col(idCol).as("id_b")): _*)
    a.join(b, keys)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard similarity over word shingles for given candidate pairs —
    * computed from shingle sets via a (pair → shingle) join, shuffling only
    * (id, shingle-hash) pairs. The corpus is first semi-joined against the
    * broadcast set of ids the pairs actually reference, so the shingle
    * scan+shuffle costs O(|pair ids|), not O(|corpus|): a 51-pair score on
    * a 100 TB corpus touches ~102 documents, not the whole table. (Inside
    * `minhashNearDupPairs` no such filter applies — signatures need every
    * doc — this is the standalone pair-scoring entry point only.) */
  def jaccardForPairs(
      df: DataFrame,
      pairs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3): DataFrame = {
    val pairIds = pairs.select(col("id_a").as(idCol))
      .union(pairs.select(col("id_b").as(idCol))).distinct()
    // size-gated: a tiny pair list broadcasts (the common case this API
    // exists for); a huge one falls back to a shuffle semi-join instead
    // of OOMing the driver
    val needed = df.join(Ops.broadcastIfSmall(pairIds), Seq(idCol), "left_semi")
    val hashed = shingleRows(needed, idCol, textCol, shingleSize)
      .select(col(idCol), xxhash64(col("__sh")).as("__sh"))
      .distinct()
    jaccardFromShingleHashes(hashed, pairs)
  }

  /** Pair forensics: EVERY detector's verdict for the given pairs in one
    * row — "why did (or didn't) the dedup merge these two?": shingle
    * counts, shared shingles, exact Jaccard, containment (the quote
    * metric), SimHash Hamming distance, and exact-text equality. The
    * debugging table behind every dedup-threshold argument; q272 answers
    * it corpus-wide, this answers it for the pairs on the table.
    *
    * Scale shape: the corpus is semi-joined to the pair ids first (the
    * [[jaccardForPairs]] contract — scoring 50 pairs on a 100 TB corpus
    * touches ~100 documents), per-doc features (shingle array, text md5,
    * simhash) compute once, and every metric is in-row arithmetic over
    * the joined pair — per-row arrays bounded by single-document size.
    * Degenerate sides (empty shingle sets) report NULL similarity, not a
    * divide-by-zero (the q141 ANSI lesson). Returns (id_a, id_b, n_sh_a,
    * n_sh_b, n_shared, jaccard, containment, hamming, exact). */
  def pairForensics(df: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3,
      tokenHash: Column => Column = null): DataFrame = {
    val pairIds = pairs.select(col("id_a").as(idCol))
      .union(pairs.select(col("id_b").as(idCol))).distinct()
    val needed = df.join(Ops.broadcastIfSmall(pairIds), Seq(idCol),
      "left_semi").localCheckpoint(false)
    val arr = needed.select(col(idCol).as("__id"),
      shinglesOf(tokensCol(col(textCol)), shingleSize).as("__sh"),
      md5(col(textCol)).as("__th"))
    val sig = simhash(needed, idCol, textCol, tokenHash)
      .select(col(idCol).as("__id"), col("simhash").as("__sig"))
    val f = arr.join(sig, Seq("__id"))
    def side(p: String) = f.select(col("__id").as(p + "id"),
      col("__sh").as(p + "sh"), col("__th").as(p + "th"),
      col("__sig").as(p + "sig"))
    val j = pairs.select("id_a", "id_b")
      .join(side("a"), col("id_a") === col("aid"))
      .join(side("b"), col("id_b") === col("bid"))
    val na = size(col("ash")).cast("long")
    val nb = size(col("bsh")).cast("long")
    val shared = size(array_intersect(col("ash"), col("bsh"))).cast("long")
    val union = (na + nb) - shared
    j.select(col("id_a"), col("id_b"),
      na.as("n_sh_a"), nb.as("n_sh_b"), shared.as("n_shared"),
      when(union > 0,
        round(shared.cast("double") / union.cast("double"), 6))
        .as("jaccard"),
      when(least(na, nb) > 0,
        round(shared.cast("double") / least(na, nb).cast("double"), 6))
        .as("containment"),
      bit_count(col("asig").bitwiseXOR(col("bsig"))).cast("long")
        .as("hamming"),
      (col("ath") === col("bth")).as("exact"))
  }

  /** Full MinHash near-dup pipeline: LSH candidates → exact-Jaccard verify.
    * Returns (id_a, id_b, jaccard) with jaccard ≥ threshold. */
  def minhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000): DataFrame = {
    // shingling is the expensive narrow stage and feeds both the signature
    // build and the exact-jaccard verify — compute it ONCE as a per-doc
    // ARRAY (one cached row per doc, not one per shingle): the signature
    // path then needs no shuffle (bandsFromShingleArray), and the verify
    // path explodes the cached arrays on demand. Tokens materialize in
    // their own projection first — referencing the split inside the
    // shingle lambda would inline it per element (no CSE).
    //
    // Cache lifecycle: the verified pairs are tiny (≪ corpus), so
    // materialize them EAGERLY via localCheckpoint and release the
    // corpus-sized shingle cache before returning — a long-lived session
    // running many operators would otherwise accumulate pinned storage
    // until eviction/recompute thrash. The checkpoint blocks (pair-sized)
    // are reclaimed by the ContextCleaner once the caller drops the frame.
    val shArr = df.select(col(idCol), tokensCol(col(textCol)).as("__toks"))
      .select(col(idCol), shinglesOf(col("__toks"), shingleSize).as("__sharr"))
      .cache()
    try {
      val cand = minhashCandidates(
        bandsFromShingleArray(shArr, idCol, bands, rowsPerBand), idCol, maxBucketSize)
      jaccardFromShingleArrays(shArr, cand).filter(col("jaccard") >= threshold)
        .localCheckpoint(true)
    } finally shArr.unpersist()
  }

  /** Recall-margin probe for LSH-gated oracle checks (VERIFY-time data
    * quality, not an operator): brute-force jaccard over ALL doc pairs —
    * no banding — reporting how close the data comes to the banding design
    * point. An oracle that verifies at `threshold` while the `bands`-band
    * signature targets a lower S-curve midpoint is only safe while no true
    * pair hugs the midpoint: a pair at jaccard s is missed by every band
    * with probability (1−s^rows)^bands, so the check aggregates that miss
    * mass over all pairs ≥ threshold (`expected_misses`) and counts pairs
    * in the hazard window [hazardFloor, threshold) that the margin
    * excludes. O(n²) pairs by construction — call on verify-scale data
    * only (it deliberately does what the banding exists to avoid). */
  def lshMarginStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 2,
      threshold: Double = 0.55,
      hazardFloor: Double = 0.5): DataFrame = {
    val shArr = df.select(col(idCol), tokensCol(col(textCol)).as("__toks"))
      .select(col(idCol).as("__id"), shinglesOf(col("__toks"), shingleSize).as("__sharr"))
    val a = shArr.toDF("id_a", "__sha")
    val b = shArr.toDF("id_b", "__shb")
    val inter = size(array_intersect(col("__sha"), col("__shb")))
    val j = inter / (size(col("__sha")) + size(col("__shb")) - inter)
    a.join(b, col("id_a") < col("id_b"))
      .select(j.as("j")).filter(col("j") >= hazardFloor)
      .agg(
        count(when(col("j") >= threshold, true)).as("oracle_pairs"),
        count(when(col("j") < threshold, true)).as("hazard_pairs"),
        round(min(when(col("j") >= threshold, col("j"))), 4).as("min_jaccard"),
        sum(when(col("j") >= threshold,
          pow(lit(1.0) - pow(col("j"), rowsPerBand), bands))).as("expected_misses"))
  }

  /** Drop every doc that has a near-duplicate with a smaller id (single
    * LSH + verify pass; no connected components needed for dedup-keep-first). */
  def minhashDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000): DataFrame = {
    val dupIds = minhashNearDupPairs(df, idCol, textCol, shingleSize, bands, rowsPerBand,
        threshold, maxBucketSize)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Per-document benchmark-contamination counts: how many DISTINCT
    * `ngram`-token shingles each corpus document shares with ANY benchmark
    * document (GPT-3 appendix-C style train/test decontamination).
    *
    * 100 TB shape: the benchmark shingle set is tiny by nature (eval sets
    * are MBs), so it broadcasts (size-gated) and the corpus side streams
    * its shingle rows through a broadcast semi-join — NO corpus-wide
    * shuffle. Only MATCHED (doc, shingle) rows — bounded by
    * |benchmark shingles| × collisions — reach the distinct + per-doc
    * count. Matching is on the shingle STRINGS themselves (not hashes):
    * exactness matters for a contamination audit, the strings never ride
    * a shuffle except for the tiny matched subset, and the DuckDB oracle
    * replays the semantics verbatim. */
  def contaminationCounts(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame,
      benchTextCol: String,
      ngram: Int = 13): DataFrame = {
    val benchShingles = benchmark
      .select(explode(shinglesOf(tokensCol(col(benchTextCol)), ngram)).as("__sh"))
      .distinct()
    val corpusShingles = shingleRows(corpus, idCol, textCol, ngram)
    corpusShingles
      .join(Ops.broadcastIfSmall(benchShingles), Seq("__sh"), "left_semi")
      .groupBy(col(idCol))
      .agg(count("*").as("matched_ngrams")) // shingleRows is already distinct per doc
  }

  /** Drop corpus documents sharing at least `minMatches` distinct `ngram`-
    * token shingles with the benchmark set (see [[contaminationCounts]]).
    * The contaminated id set is tiny → broadcast anti-join back. */
  def decontaminate(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame,
      benchTextCol: String,
      ngram: Int = 13,
      minMatches: Int = 1): DataFrame = {
    require(minMatches >= 1, s"minMatches must be >= 1, got $minMatches")
    val contaminated = contaminationCounts(corpus, idCol, textCol, benchmark,
        benchTextCol, ngram)
      .filter(col("matched_ngrams") >= minMatches)
      .select(col(idCol))
    corpus.join(Ops.broadcastIfSmall(contaminated), Seq(idCol), "left_anti")
  }

  /** Corpus-level MinHash similarity matrix: the estimated Jaccard of
    * every source pair's SHINGLE VOCABULARIES from lane-wise minimum
    * agreement — the sketch twin of [[Importance.sourceDivergence]]
    * (divergence weighs frequencies; this estimates set overlap, and the
    * per-(group, lane) mins are mergeable state a streaming ingest could
    * keep). est_jaccard = matching lanes / lanes, the classic unbiased
    * MinHash estimator. All integer mins (md5-60, lane-salted) — exact
    * replay. Returns (source_a, source_b, lane_matches, est_jaccard).
    *
    * Scale shape: the corpus collapses to the DISTINCT (group, shingle)
    * frame first (one shuffle); the lane fan-out runs on that
    * vocabulary-sized frame, and the min aggregate is map-side combined
    * down to groups×lanes rows — the pairwise join is tiny. */
  def sourceMinhashSimilarity(df: DataFrame, groupCol: String,
      textCol: String, shingleSize: Int = 3, lanes: Int = 64,
      hashKind: String = "xxhash64"): DataFrame = {
    require(lanes >= 1, s"lanes must be >= 1, got $lanes")
    val sh = df.select(col(groupCol).as("__g"),
        explode(shinglesOf(tokensCol(col(textCol)), shingleSize)).as("__sh"))
      .distinct()
    val mins = sh
      .select(col("__g"), explode(sequence(lit(0), lit(lanes - 1))).as("__lane"),
        col("__sh"))
      .select(col("__g"), col("__lane"), {
        // production lanes hash with codegen'd xxhash64; md5_60 exists so
        // the SQL oracle replays every min (the family convention)
        val salted = concat(col("__lane").cast("string"), lit(":"), col("__sh"))
        (if (hashKind == "md5_60") md5Hash60(salted) else xxhash64(salted))
          .as("__h")
      })
      .groupBy("__g", "__lane").agg(min(col("__h")).as("__m"))
    val a = mins.select(col("__g").as("source_a"), col("__lane"),
      col("__m").as("__ma"))
    val b = mins.select(col("__g").as("source_b"), col("__lane"),
      col("__m").as("__mb"))
    a.join(b, Seq("__lane")).filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(sum(when(col("__ma") === col("__mb"), 1L).otherwise(0L))
        .as("lane_matches"))
      .select(col("source_a"), col("source_b"), col("lane_matches"),
        round(col("lane_matches").cast("double") / lanes, 6).as("est_jaccard"))
  }

  /** Per-document NOVELTY score against a reference corpus: the fraction
    * of a doc's distinct n-gram shingles ABSENT from the reference —
    * [[decontaminate]]'s scoring twin (curation FAVORS novel content
    * where decontamination DROPS overlapping content; same machinery,
    * opposite sign). novelty = 1 − |sh(doc) ∩ SH(ref)| / |sh(doc)| as
    * one exact integer ratio. Returns (id, n_shingles, n_known, novelty).
    *
    * Plan: reference shingles collapse to a distinct vocabulary-like set
    * (size-gated broadcast); the corpus shingle stream left-joins it and
    * aggregates per doc map-side — one corpus-scale shuffle on the doc
    * key. */
  def noveltyScore(df: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refTextCol: String, ngram: Int = 3): DataFrame = {
    val refSh = ref
      .select(explode(shinglesOf(tokensCol(col(refTextCol)), ngram)).as("__sh"))
      .distinct()
      .withColumn("__known", lit(1L))
    shingleRows(df, idCol, textCol, ngram)
      .join(Ops.broadcastIfSmall(refSh), Seq("__sh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__known"), lit(0L))).as("n_known"))
      .select(col(idCol), col("n_shingles"), col("n_known"),
        round(lit(1.0) - col("n_known").cast("double") / col("n_shingles"), 6)
          .as("novelty"))
  }

  /** Substring-level exact dedup: maximal token spans (≥ `minSpanTokens`)
    * duplicated ACROSS documents — the capability document-level dedup
    * misses (shared boilerplate/template spans inside otherwise-distinct
    * pages, which dominate web corpora; cf. Lee et al. 2021, CCS'd in
    * PAPERS.md). Returns (idCol, span_start, span_end, span_tokens) with
    * token positions 0-based inclusive; every token in a span is covered
    * by some k-gram (k = `minSpanTokens`) that also occurs in at least
    * one OTHER document.
    *
    * Plan shape at 100 TB:
    *  1. one fused [[graft.functions.KgramHashes]] scan emits (id, pos,
    *     hash) — ~20 B per token position; only these derived keys ever
    *     shuffle, never text. This linear-in-tokens probe volume is the
    *     price of EXACT substring dedup (the suffix-array formulation
    *     pays the same order in index bytes);
    *  2. duplicated hashes come from groupBy(hash).agg(min(id), max(id))
    *     — min ≠ max ⟺ ≥ 2 distinct docs — with MAP-SIDE partial
    *     aggregation, so a boilerplate k-gram shared by millions of docs
    *     combines before the exchange (skew-robust where a window over
    *     the hash would sort the hot key in one task);
    *  3. the (usually tiny) duplicated-hash set broadcasts back against
    *     the gram stream (size-gated — falls back to a shuffle join that
    *     AQE skew-splits);
    *  4. flagged positions (≪ corpus) shuffle once on id for the
    *     interval merge (overlapping-or-adjacent k-gram intervals union
    *     into maximal spans via running-max islands).
    *
    * Docs with fewer than `minSpanTokens` tokens are excluded up front —
    * they cannot contain a qualifying span (whole-document duplicates
    * are [[exactDedup]]'s domain). Within-document repetition is
    * [[graft.operators.TextAnalysis.repetitionStats]]'s domain; a hash
    * occurring many times in ONE doc only does not flag.
    *
    * `hashKind` as in [[minhashNearDupPairs]]: `xxhash64` production,
    * `md5_60` for an external SQL oracle to replay gram equality. */
  /** Shared front half of the span family: token arrays (docs ≥ k
    * tokens) and the flagged k-gram START positions — (idCol, __pos)
    * where the k-gram at __pos occurs in ≥ 2 distinct docs. Same plan
    * shape notes as [[duplicateSpans]]. */
  private def flaggedGramStarts(df: DataFrame, idCol: String, textCol: String,
      k: Int, hashKind: String): (DataFrame, DataFrame) = {
    require(k >= 2, s"minSpanTokens must be >= 2, got $k")
    val toks = df
      .select(col(idCol), tokensCol(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= k)
    val grams = toks
      .select(col(idCol), posexplode(
          graft.functions.TextStats.kgram_hashes(col("__toks"), k, hashKind))
        .as(Seq("__pos", "__h")))
    val dupHashes = grams.groupBy("__h")
      .agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select("__h")
    val flagged = grams.join(Ops.broadcastIfSmall(dupHashes), Seq("__h"))
      .select(col(idCol), col("__pos"))
    (toks, flagged)
  }

  /** Island merge: flagged k-gram starts → maximal [start, end] spans.
    * Merges overlapping/adjacent [pos, pos+k-1] intervals — an island
    * breaks where a position clears the running max end. */
  private def spansFromFlagged(flagged: DataFrame, idCol: String, k: Int): DataFrame = {
    val wD = Window.partitionBy(idCol).orderBy("__pos")
    val prevEnd = max(col("__pos") + lit(k - 1))
      .over(wD.rowsBetween(Window.unboundedPreceding, -1))
    flagged
      .withColumn("__new",
        when(prevEnd.isNull || col("__pos") > prevEnd + 1, 1).otherwise(0))
      .withColumn("__island",
        sum(col("__new")).over(wD.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__island"))
      .agg(min("__pos").as("span_start"),
        (max("__pos") + lit(k - 1)).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  def duplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minSpanTokens: Int = 10,
      hashKind: String = "xxhash64"): DataFrame = {
    val k = minSpanTokens
    val (_, flagged) = flaggedGramStarts(df, idCol, textCol, k, hashKind)
    spansFromFlagged(flagged, idCol, k)
  }

  /** Content-defined chunk rows: one row per chunk — (idCol, chunk_idx,
    * chunk_hash, n_tokens). The SCALE path for substring-level dedup:
    * [[duplicateSpans]] is exact but emits one probe per token position;
    * CDC emits ~1 per `avgChunkTokens`, with boundaries that depend only
    * on local content (an insertion re-chunks its neighborhood, nothing
    * downstream — unlike fixed-stride chunks). Detection guarantee:
    * a duplicated span is flagged when it wholly contains a chunk —
    * spans ≥ ~2× `avgChunkTokens` in expectation. */
  def cdcChunkRows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      avgChunkTokens: Int = 16,
      hashKind: String = "xxhash64"): DataFrame =
    df.select(col(idCol), posexplode(
        graft.functions.TextStats.cdc_chunk_hashes(
          tokensCol(col(textCol)), avgChunkTokens, hashKind))
      .as(Seq("chunk_idx", "__c")))
      .select(col(idCol), col("chunk_idx"),
        col("__c.hash").as("chunk_hash"), col("__c.n_tokens").as("n_tokens"))

  /** Per-document cross-doc duplicated-chunk budget over [[cdcChunkRows]]:
    * (idCol, dup_chunks, dup_tokens) for docs with at least one chunk
    * whose hash occurs in ≥ 2 distinct documents. Same plan shape as
    * [[duplicateSpans]]' detection: map-side-partial min/max per chunk
    * hash, duplicated set broadcast back over the chunk stream. */
  def duplicateChunkStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      avgChunkTokens: Int = 16,
      hashKind: String = "xxhash64"): DataFrame = {
    val chunks = cdcChunkRows(df, idCol, textCol, avgChunkTokens, hashKind)
    val dup = chunks.groupBy("chunk_hash")
      .agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select("chunk_hash")
    chunks.join(Ops.broadcastIfSmall(dup), Seq("chunk_hash"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("dup_chunks"), sum("n_tokens").as("dup_tokens"))
  }

  /** Per-document duplicated-token budget from [[duplicateSpans]]: every
    * doc (spans or not) with its duplicated-token count and fraction —
    * the filter signal a pipeline thresholds on (e.g. drop docs that are
    * mostly boilerplate). Fraction denominators use the same token
    * convention as the spans. */
  private def statsFromSpans(df: DataFrame, spans: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val perDoc = spans.groupBy(idCol).agg(sum("span_tokens").as("__dup"))
    df.select(col(idCol),
        coalesce(size(tokensCol(col(textCol))), lit(0)).as("tok_len"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__dup"), lit(0L)).as("dup_tokens"),
        col("tok_len"),
        round(coalesce(col("__dup"), lit(0L)) /
          greatest(col("tok_len"), lit(1)), 6).as("dup_frac"))
  }

  def duplicateSpanStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minSpanTokens: Int = 10,
      hashKind: String = "xxhash64"): DataFrame =
    statsFromSpans(df,
      duplicateSpans(df, idCol, textCol, minSpanTokens, hashKind), idCol, textCol)

  /** 64-bit SimHash per document: per-token 64-bit hashes vote ±1 on each
    * bit; the sign of each bit's sum forms the fingerprint.
    *
    * With the default hash (`tokenHash = null` → xxhash64) the signature
    * is the fused [[graft.functions.SimHashBits]] expression over the
    * token array — a pure PROJECTION, no shuffle at all (value-identical
    * to the grouped formulation, spec-asserted). A custom `tokenHash`
    * (e.g. [[md5Hash60]] for an external oracle replay) takes the generic
    * path: explode tokens → per-(doc, bit) vote sums → fold bits back —
    * one (id, hash) key-width shuffle. */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      tokenHash: Column => Column = null): DataFrame = {
    if (tokenHash == null)
      return df.select(col(idCol), tokensCol(col(textCol)).as("__toks"))
        // null text → null token array: the generic path emits no rows for
        // such a doc (explode of null), so drop it here too
        .filter(col("__toks").isNotNull)
        .select(col(idCol),
          graft.functions.MinHashSig.simhash_bits(col("__toks")).as("simhash"))
    // the portable md5-60 hash has its own fused expression (selected by
    // reference identity — see [[Md5TokenHash]]): same pure-projection
    // shape as the xxhash64 default instead of the grouped vote shuffle
    if (tokenHash eq Md5TokenHash)
      return df.select(col(idCol), tokensCol(col(textCol)).as("__toks"))
        .filter(col("__toks").isNotNull)
        .select(col(idCol),
          graft.functions.MinHashSig.simhash_bits_md5(col("__toks")).as("simhash"))
    val tok = df.select(col(idCol),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("__t"))
      .withColumn("__h", tokenHash(col("__t")))
    // single pass: 64 bit-vote sum-aggregates (no doc × token × bit
    // explosion); fold the per-bit signs back into one long
    val bitAggs = (0 until 64).map(i =>
      sum(when(shiftright(col("__h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"__b$i"))
    tok.groupBy(col(idCol)).agg(bitAggs.head, bitAggs.tail: _*)
      .select(col(idCol),
        (0 until 64).map(i => when(col(s"__b$i") > 0, lit(1L << i)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ `maxDist`, blocked on
    * 16-bit chunks (pigeonhole: dist ≤ 3 ⇒ some chunk equal). */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String, maxDist: Int = 3,
      maxBucketSize: Int = 1000, tokenHash: Column => Column = null): DataFrame =
    hammingNearDupPairs(simhash(df, idCol, textCol, tokenHash), idCol, "simhash",
      maxDist, maxBucketSize)

  /** Near-dup pairs among arbitrary 64-bit signatures by Hamming distance
    * ≤ `maxDist`, blocked on 16-bit chunks (pigeonhole: dist ≤ 3 ⇒ some
    * chunk equal — complete recall at the default). Signature-source
    * agnostic: text simhash and image dHash both route here. */
  def hammingNearDupPairs(sig0: DataFrame, idCol: String, sigCol: String,
      maxDist: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    // sig is key-width (id, long) but corpus-cardinality; same lifecycle as
    // minhashNearDupPairs — eager small result, deterministic release.
    val sig = sig0.select(col(idCol), col(sigCol).as("__sig")).cache()
    try {
    val chunked0 = sig.select(col(idCol), col("__sig"), posexplode(
      transform(sequence(lit(0), lit(3)),
        c => call_function("shiftright", col("__sig"), c * lit(16)).bitwiseAND(0xFFFFL)))
      .as(Seq("chunk", "chunk_val")))
    val fused =
      if (sig0.schema(idCol).dataType == LongType) {
        // fused candidate shape (see bucketCandidatePairs): ONE chunk-keyed
        // exchange into (id, sig) member arrays; pairs, the hot-bucket cap,
        // AND the hamming≤maxDist test all evaluate in-expression, so
        // shared-chunk pairs that fail the distance test never become rows
        chunked0.groupBy(col("chunk"), col("chunk_val"))
          .agg(collect_list(struct(col(idCol), col("__sig"))).as("__members"))
          .filter(size(col("__members")) >= 2)
          .select(graft.functions.BucketPairs.hamming_bucket_pairs(
            col("__members"), maxBucketSize, maxDist)
            .as(Seq("id_a", "id_b", "hamming")))
          .distinct()
      } else {
        val chunked = capBuckets(chunked0, Seq("chunk", "chunk_val"), idCol, maxBucketSize)
        val a = chunked.select(col("chunk"), col("chunk_val"), col("__sub"),
          col(idCol).as("id_a"), col("__sig").as("sig_a"))
        val b = chunked.select(col("chunk"), col("chunk_val"), col("__sub"),
          col(idCol).as("id_b"), col("__sig").as("sig_b"))
        a.join(b, Seq("chunk", "chunk_val", "__sub")).filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
          .distinct()
          .filter(col("hamming") <= maxDist)
      }
    fused.localCheckpoint(true)
    } finally sig.unpersist()
  }

  /** Embedding near-dup: pairs with cosine ≥ threshold via sign-random-
    * projection LSH buckets (see Similarity.signBuckets) + exact rerank. */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      planes: Int = 16,
      maxBucketSize: Int = 1000): DataFrame = {
    val dim = Similarity.dimOf(df, vecCol)
    // fused candidate shape (see bucketCandidatePairs): the bucket exchange
    // carries ONLY (bucket, id) — the old a×b self-join exchanged the full
    // vectors twice; vectors are now looked up just for the docs that
    // actually appear in a candidate pair
    val buckets = df.select(col(idCol),
      Similarity.signSignature(col(vecCol), planes, dim).as("__bucket"))
    val pairs = bucketCandidatePairs(buckets, Seq("__bucket"), idCol, maxBucketSize)
    cosineForPairs(df, pairs, idCol, vecCol)
      .filter(col("cosine") >= threshold)
  }

  /** Exact cosine for (id_a, id_b) candidate pairs: the corpus is pruned
    * to the docs the pairs reference (size-gated broadcast semi-join, same
    * shape as [[jaccardForPairs]]) before vectors are joined in — scoring
    * P pairs on an N-doc corpus touches ≤ 2P vectors, never N. For the
    * SPARSE-pair regime only (pairs ≪ corpus — LSH candidates on deduped
    * data); dense within-cluster scoring belongs in a streamed self-join
    * (see semanticDupPairs). The pairs frame is checkpointed first so the
    * broadcast size gates below see REAL sizes — optimizer estimates
    * downstream of a pair generator are meaningless, and a false-positive
    * broadcast of a huge pair list is a driver OOM (20× stress lesson). */
  def cosineForPairs(
      df: DataFrame, pairs0: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import graft.functions.VectorOps.{vector_dot, vector_norm}
    val pairs = pairs0.localCheckpoint(true)
    // no distinct: a left-semi probe tolerates duplicate build keys, and
    // the dedup would cost an exchange of its own
    val pairIds = pairs.select(col("id_a").as(idCol))
      .union(pairs.select(col("id_b").as(idCol)))
    // pruned-vector frame is pair-sized (≤ 2P rows) — checkpoint it eagerly
    // so (a) the corpus semi-join scan runs ONCE, not once per join side,
    // and (b) both lookups below become broadcast joins over known-small
    // data (no exchange at all when P is broadcastable; size-gated
    // fallback to shuffle joins otherwise)
    val vecs = df.join(Ops.broadcastIfSmall(pairIds), Seq(idCol), "left_semi")
      .select(col(idCol), col(vecCol).as("__v"), vector_norm(col(vecCol)).as("__n"))
      .localCheckpoint(true)
    val a = Ops.broadcastIfSmall(vecs.toDF("id_a", "__va", "__na"))
    val b = Ops.broadcastIfSmall(vecs.toDF("id_b", "__vb", "__nb"))
    pairs.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        (vector_dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))).as("cosine"))
  }

  /** Remove every cross-document duplicated span occurrence (Lee et al.
    * 2021 remove ALL occurrences and note models never regress for it;
    * whole-document duplicates should be collapsed by [[exactDedup]]
    * first so shared text that IS the document survives as one copy).
    * Returns (idCol, clean_text, removed_tokens) for the AFFECTED
    * documents only — callers union the untouched remainder back in,
    * which is the scale-correct shape (the rewrite stage touches only
    * flagged docs; everyone else never leaves the scan).
    *
    * `clean_text` is rebuilt token-level and joined with single spaces —
    * original whitespace is canonicalized, the same convention as the
    * family's tokenizer. A fully-duplicated doc yields an empty string
    * (removed_tokens = its token count). */
  def stripDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minSpanTokens: Int = 10,
      hashKind: String = "xxhash64"): DataFrame = {
    val (toks, flagged) = flaggedGramStarts(df, idCol, textCol, minSpanTokens, hashKind)
    stripFromFlagged(toks, flagged, idCol, minSpanTokens)
  }

  private def stripFromFlagged(toks: DataFrame, flagged: DataFrame,
      idCol: String, k: Int): DataFrame = {
    // flagged k-gram starts → the covered token positions (union of
    // [p, p+k-1] — k-fold expansion of an already-small frame). Eagerly
    // checkpointed: three consumers (affected-id set, the anti-join, and
    // the semi-join's broadcast) would otherwise each re-run the whole
    // corpus gram pipeline behind it.
    val covered = flagged
      .select(col(idCol), explode(sequence(col("__pos"), col("__pos") + lit(k - 1))).as("__cov"))
      .distinct()
      .localCheckpoint(true)
    val affected = covered.select(idCol).distinct()
    // only affected docs explode to token rows; kept tokens rebuild the text
    val tokenRows = toks.join(Ops.broadcastIfSmall(affected), Seq(idCol), "left_semi")
      .select(col(idCol), size(col("__toks")).as("__len"),
        posexplode(col("__toks")).as(Seq("__pos", "__tok")))
    val kept = tokenRows.join(covered,
        tokenRows(idCol) === covered(idCol) && col("__pos") === col("__cov"), "left_anti")
    val rebuilt = kept.groupBy(idCol)
      .agg(
        concat_ws(" ", transform(array_sort(collect_list(struct(col("__pos"), col("__tok")))),
          x => x.getField("__tok"))).as("__clean"),
        count(lit(1)).as("__kept"), first(col("__len")).as("__len"))
    // fully-covered docs vanish from `rebuilt` — restore them as empty
    toks.join(Ops.broadcastIfSmall(affected), Seq(idCol), "left_semi")
      .select(col(idCol), size(col("__toks")).as("__alllen"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__clean"), lit("")).as("clean_text"),
        (col("__alllen") - coalesce(col("__kept"), lit(0L))).as("removed_tokens"))
  }

  /** The span family's three outputs over ONE shared scan. */
  case class SpanDedupReport(spans: DataFrame, stats: DataFrame, stripped: DataFrame)

  /** Combined entry point for pipelines that consume more than one of
    * [[duplicateSpans]] / [[duplicateSpanStats]] / [[stripDuplicateSpans]]:
    * the corpus-wide flagged-gram computation (fused k-gram scan →
    * map-side-partial min/max per hash → broadcast-back) runs ONCE and is
    * eagerly checkpointed — calling the three single-output operators
    * separately re-runs it per call, which is the dominant cost (the
    * flagged frame itself is ≪ corpus: (id, pos) of cross-doc duplicated
    * gram starts only). Use the single-output operators when only one
    * output is consumed — the eager checkpoint here pays one extra
    * materialization that is only worth it shared. */
  def spanDedupReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minSpanTokens: Int = 10,
      hashKind: String = "xxhash64"): SpanDedupReport = {
    val k = minSpanTokens
    val (toks, flagged0) = flaggedGramStarts(df, idCol, textCol, k, hashKind)
    val flagged = flagged0.localCheckpoint(true)
    SpanDedupReport(
      spans = spansFromFlagged(flagged, idCol, k),
      stats = statsFromSpans(df, spansFromFlagged(flagged, idCol, k), idCol, textCol),
      stripped = stripFromFlagged(toks, flagged, idCol, k))
  }

  // ── Line-level exact dedup (Dolma-style cross-doc line removal) ────

  /** One row per raw '\n' line: (idCol, __pos, __line, __lh). __lh is
    * the hash of the TRIMMED line for eligible lines (trimmed length ≥
    * `minLineChars`), null otherwise — ineligible (blank/short) lines
    * can never flag and always survive stripping, but still count in
    * line totals. Pure projection + generator, no shuffle. */
  private def lineRows(df: DataFrame, idCol: String, textCol: String,
      minLineChars: Int, hashKind: String): DataFrame = {
    require(minLineChars >= 1, s"minLineChars must be >= 1, got $minLineChars")
    val lineHash: Column => Column =
      if (hashKind == "md5_60") md5Hash60(_) else xxhash64(_)
    df.select(col(idCol),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("__pos", "__line")))
      .withColumn("__lh",
        when(length(trim(col("__line"))) >= minLineChars,
          lineHash(trim(col("__line")))))
  }

  /** Line hashes occurring in ≥ 2 DISTINCT docs — the same
    * map-side-partial min/max trick as the span family (within-doc
    * repetition alone does not flag; that is [[graft.operators.TextAnalysis.repetitionStats]]'
    * signal). */
  private def dupLineHashes(lines: DataFrame, idCol: String): DataFrame =
    lines.filter(col("__lh").isNotNull)
      .groupBy("__lh")
      .agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select("__lh")

  /** Per-document cross-doc duplicated-LINE stats (the Dolma line-dedup
    * signal): (idCol, n_lines, dup_lines, dup_line_frac) for every doc.
    * A line is duplicated when its trimmed content appears in ≥ 2
    * distinct documents; `minLineChars` keeps trivially-short lines from
    * flagging. Plan shape as [[duplicateChunkStats]]: only
    * (id, pos, hash) rows shuffle, the duplicated-hash set is
    * map-side-partial min/max and broadcast back; line totals are a pure
    * projection off the original scan, never shuffled. */
  def duplicateLineStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLineChars: Int = 1,
      hashKind: String = "xxhash64"): DataFrame = {
    val lines = lineRows(df, idCol, textCol, minLineChars, hashKind)
    val dup = dupLineHashes(lines, idCol)
    val perDoc = lines.join(Ops.broadcastIfSmall(dup), Seq("__lh"))
      .groupBy(idCol).agg(count(lit(1)).as("__dup"))
    df.select(col(idCol), size(split(col(textCol), "\n", -1)).as("n_lines"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("__dup"), lit(0L)).as("dup_lines"),
        round(coalesce(col("__dup"), lit(0L)) / col("n_lines"), 6)
          .as("dup_line_frac"))
  }

  /** Remove every cross-doc duplicated line (all occurrences — choosing
    * a canonical keeper would need a global owner election; stripping
    * symmetrically is the Dolma convention and what [[stripDuplicateSpans]]
    * does for spans). Returns ONLY affected docs —
    * (idCol, clean_text, removed_lines) — untouched docs never leave the
    * scan; fully-flagged docs come back with clean_text = "". Kept lines
    * rebuild in original order with original (untrimmed) content. */
  def stripDuplicateLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLineChars: Int = 1,
      hashKind: String = "xxhash64"): DataFrame = {
    val lines = lineRows(df, idCol, textCol, minLineChars, hashKind)
    // eagerly checkpointed: consumed by the affected-doc set AND the
    // anti-join; each re-run would replay the corpus line scan + groupBy
    val dup = dupLineHashes(lines, idCol).localCheckpoint(true)
    val dupB = Ops.broadcastIfSmall(dup)
    val affected = lines.join(dupB, Seq("__lh")).select(idCol).distinct()
    val affB = Ops.broadcastIfSmall(affected)
    val kept = lines.join(affB, Seq(idCol), "left_semi")
      .join(dupB, Seq("__lh"), "left_anti")
    val rebuilt = kept.groupBy(idCol)
      .agg(
        concat_ws("\n",
          transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
            x => x.getField("__line"))).as("__clean"),
        count(lit(1)).as("__kept"))
    df.join(affB, Seq(idCol), "left_semi")
      .select(col(idCol), size(split(col(textCol), "\n", -1)).as("__alllen"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__clean"), lit("")).as("clean_text"),
        (col("__alllen") - coalesce(col("__kept"), lit(0L))).as("removed_lines"))
  }

  /** SemDeDup-style semantic duplicate pairs (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): cluster embeddings with [[Similarity.ivfIndex]]'s
    * 3-pass k-means build, then compare pairs WITHIN each cluster only —
    * the clusters bound the quadratic term, which is the whole point of
    * the method (global pairwise is intractable; sign-LSH near-dup
    * ([[embeddingNearDupPairs]]) only finds near-identical vectors, while
    * cluster-local cosine at moderate `tau` also catches semantically
    * equivalent rewrites). Returns (id_a, id_b, cosine) with id_a < id_b
    * and cosine ≥ `tau`.
    *
    * Scale shape: the pairwise stage shuffles vectors once on
    * (centroid_id) — cluster size is the unit of quadratic work.
    * `numCentroids` defaults to [[Similarity.AutoCentroids]], resolved as
    * ⌈n / 4096⌉ from one count() job ([[semDedupAutoCentroids]]): a FIXED
    * target cluster size bounds per-cluster work at ~target²/2 pairs and
    * keeps TOTAL pair work linear in n (≈ n·target/2) — no caller tuning
    * at any corpus size (SemDeDup itself uses n/cluster ≈ thousands).
    * `maxClusterSize` hard-caps degenerate clusters via [[capBuckets]]
    * (cross-sub pairs are forfeited, same documented approximation as
    * [[minhashCandidates]]).
    * `seedHash` as in [[Similarity.ivfIndex]]: default xxhash64; pass
    * [[md5Hash60]] for an external SQL oracle replay. */
  def semanticDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int = Similarity.AutoCentroids,
      tau: Double = 0.95,
      maxClusterSize: Int = 100000,
      seedHash: Column => Column = xxhash64(_)): DataFrame = {
    import graft.functions.VectorOps.{vector_dot, vector_norm}
    val nc = if (numCentroids == Similarity.AutoCentroids)
      semDedupAutoCentroids(df.count()) else numCentroids
    val (_, assigned) = Similarity.ivfIndex(
      df.select(col(idCol), col(vecCol)), idCol, vecCol, nc, seedHash)
    // DENSE-pair regime — deliberately NOT the key-width candidate shape
    // used by embeddingNearDupPairs: SemDeDup's contract is ~(n/k)² cosine
    // comparisons per cluster (the paper's accepted quadratic term), so
    // "pairs ≪ corpus" does not hold and a materialized pair list +
    // vector lookup regresses to corpus-scale state (the 20× stress
    // proved it). The within-cluster self-join STREAMS the quadratic
    // work: one cluster-keyed exchange carrying vectors, cosine computed
    // and filtered inline, only surviving pairs ever become rows.
    val sig = capBuckets(assigned.withColumn("__n", vector_norm(col(vecCol))),
      Seq("centroid_id"), idCol, maxClusterSize)
    val a = sig.select(col("centroid_id"), col("__sub"), col(idCol).as("id_a"),
      col(vecCol).as("__va"), col("__n").as("__na"))
    val b = sig.select(col("centroid_id"), col("__sub"), col(idCol).as("id_b"),
      col(vecCol).as("__vb"), col("__n").as("__nb"))
    a.join(b, Seq("centroid_id", "__sub")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (vector_dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))).as("cosine"))
      .filter(col("cosine") >= tau)
  }

  /** SemDeDup survivors: drop every row with a SMALLER-id τ-neighbor in
    * its cluster (single-pass keep-the-min policy, the same documented
    * approximation as [[minhashDedup]] — a chain a~b, b~c with a≁c drops
    * both b and c; pipe [[semanticDupPairs]] into
    * [[connectedComponents]] + [[dedupByComponents]] when principled
    * chain handling matters). */
  /** SemDeDup auto-sizing: centroid count from a FIXED target cluster
    * size, so the within-cluster quadratic term is bounded by construction
    * (~4096²/2 ≈ 8.4M cheap dot products per cluster) and total pair work
    * grows linearly with the corpus. Clamped so the centroid matrix stays
    * driver-small. */
  private[graft] def semDedupAutoCentroids(n: Long, targetClusterSize: Int = 4096): Int =
    math.min(65536L, math.max(1L, (n + targetClusterSize - 1) / targetClusterSize)).toInt

  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int = Similarity.AutoCentroids,
      tau: Double = 0.95,
      maxClusterSize: Int = 100000,
      seedHash: Column => Column = xxhash64(_)): DataFrame = {
    val drop = semanticDupPairs(df, idCol, vecCol, numCentroids, tau,
        maxClusterSize, seedHash)
      .select(col("id_b").as(idCol)).distinct()
    df.join(Ops.broadcastIfSmall(drop), Seq(idCol), "left_anti")
  }

  /** Transitive-closure clustering of near-dup pairs by alternating
    * large-star / small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Returns (id, component)
    * where component = the cluster's minimum id.
    *
    * Each round rewires the edge set toward star graphs rooted at the
    * component minimum:
    *  - large-star: every node links its STRICTLY LARGER neighbors to the
    *    minimum of its closed neighborhood;
    *  - small-star: every node links its smaller neighbors (and itself) to
    *    the smallest of them.
    * The edge set is a fixpoint exactly when every component is a star on
    * its minimum — convergence in O(log n) rounds, NOT O(diameter) like
    * min-label propagation (a 100-chain converges in ~5 rounds instead of
    * 100). Only (id, id) pairs ever shuffle — never documents.
    *
    * SIZE-GATED EXECUTION (like Spark's broadcast-join threshold): the
    * edge set an LSH near-dup stage emits is almost always tiny relative
    * to the corpus — capped band buckets bound it explicitly — so when the
    * canonical distinct edge count fits [[DriverGraph.maxEdges]] (the
    * driver budget the graph rounds share) and the ids are integral or
    * default-collation strings, the closure is a driver-side union-find
    * over the collected [[DriverGraph.LocalGraph]], in milliseconds: a
    * distributed star-contraction round costs ~1 s of fixed scheduling at
    * ANY size, and a 1M-edge graph can need 15+ of them.
    *
    * Above the gate, or for an id type the driver has no order for, the
    * closure is the distributed RDD loop (the one place in this library
    * where RDDs beat DataFrames: an iterative fixpoint re-enters Catalyst
    * analysis + AQE planning every round; the RDD rounds are plain
    * shuffles anchored at the previous round's persisted blocks, exactly
    * GraphX's regime). Non-integral ids run it on dense, order-preserving
    * long codes, decoded by a join.
    *
    * The convergence probe compares edge counts and only runs the exact
    * set-difference check when counts match (i.e. on the final round).
    * If `maxIter` is hit a warning is logged and partial labels return —
    * components may be split finer than the true closure (never merged
    * wrongly). `minhashDedup`'s single-pass drop-the-larger-id is the
    * cheap approximation; this is the principled version when chains
    * matter (a~b, b~c with a≁c must collapse to one representative). */
  def connectedComponents(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20): DataFrame =
    connectedComponentsGated(pairs, idA, idB, maxIter, DriverGraph.maxEdges())

  /** [[connectedComponents]] with an explicit driver gate;
    * `maxDriverEdges = 0` pins the distributed loop for any graph with an
    * edge. */
  private[graft] def connectedComponentsGated(pairs: DataFrame, idA: String,
      idB: String, maxIter: Int, maxDriverEdges: Long): DataFrame = {
    // lazy checkpoint: the pair frame is read up to THREE times (the
    // canonical distinct, then twice more in the residual/allNodes union
    // of both id columns) — without a plan break every read re-runs the
    // caller's ENTIRE pair-generation pipeline (measured: 2 of q293's
    // ~2.7 s cc stage were upstream re-evaluation). Key-width rows only;
    // blocks fall to the ContextCleaner (the residual branch is still
    // lazy when this function returns, so no explicit unpersist).
    val raw = pairs.select(col(idA).as("a"), col(idB).as("b"))
      .localCheckpoint(false)
    // union type-widens, so this is the common id type the result carries
    val allNodes = raw.select(col("a").as("id"))
      .union(raw.select(col("b").as("id"))).distinct()
    val idType = allNodes.schema("id").dataType
    val integral = DriverGraph.integral(idType)
    val edgeType = if (integral) LongType else idType
    // canonicalize + count once, then route by size. The canonical
    // distinct runs as a Tungsten hash aggregate (codegen, UnsafeRow).
    // Nulls cannot reach greatest/least: the null-rejecting a ≠ b filter
    // runs first.
    val canonical = raw.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).cast(edgeType).as("src"),
        least(col("a"), col("b")).cast(edgeType).as("dst"))
      .distinct()
      // lazy checkpoint, materialized by the count: pins the distinct
      // result as raw UnsafeRow blocks (no columnar re-encode) for the
      // collect/round consumers and truncates lineage
      .localCheckpoint(false)
    val edgeCount = canonical.count()
    try DriverGraph.collect(canonical, StructField("id", idType), edgeCount,
        maxDriverEdges) match {
      case Some(g) =>
        // the union-find labels every edge-touched node exactly once —
        // component minima included — so it labels directly, skipping the
        // corpus-width allNodes distinct, the groupBy and the join the
        // distributed multiset contract needs. The residual (nodes seen
        // only in self-pairs or alongside a null partner) streams through
        // an anti-join and is tiny by construction. The id side is
        // size-GATED, not unconditionally hinted: the gate admits up to
        // 16M edges (~32M nodes).
        val labeled = g.components()
        val residual = raw.select(col("a").as("id"))
          .union(raw.select(col("b").as("id")))
          .join(Ops.broadcastIfSmall(labeled.select("id")), Seq("id"), "left_anti")
          .distinct()
          .select(col("id"), col("id").as("component"))
        labeled.unionByName(residual)
      case None =>
        // converged stars: every non-min node points at its component min
        // (min over dsts is belt-and-braces for the maxIter-partial case);
        // minima and isolated/self-paired nodes label themselves
        val codes = if (integral) None else Some(idCodes(canonical))
        val edges = codes.fold(canonical)(recode(canonical, _, "id", "code"))
          .queryExecution.toRdd.map(r => (r.getLong(0), r.getLong(1)))
        val stars = ccStarsRdd(raw.sparkSession, edges, edgeCount,
          math.max(edges.getNumPartitions, 2), maxIter, if (integral) idType else LongType)
        val nonMin = codes.fold(stars)(recode(stars, _, "code", "id"))
          .groupBy(col("src").as("id")).agg(min("dst").as("__comp"))
        allNodes.join(nonMin, Seq("id"), "left")
          .select(col("id"), coalesce(col("__comp"), col("id")).as("component"))
    } finally canonical.unpersist(blocking = false) // checkpoint blocks fall to the ContextCleaner
  }

  /** Dense long codes for the endpoints of a (src, dst) edge frame, in
    * Spark's order for the id type, so the smallest code is the smallest
    * id: (id, code), materialized. */
  private def idCodes(edges: DataFrame): DataFrame = {
    val ids = edges.select(col("src").as("id")).union(edges.select(col("dst").as("id")))
      .distinct().orderBy("id")
    edges.sparkSession.createDataFrame(
      ids.rdd.zipWithIndex().map { case (r, i) => org.apache.spark.sql.Row(r.get(0), i) },
      ids.schema.add("code", LongType, nullable = false)).localCheckpoint(true)
  }

  /** `edges`' src and dst mapped through `codes`' `from` -> `to` columns. */
  private def recode(edges: DataFrame, codes: DataFrame, from: String, to: String): DataFrame =
    edges.join(codes.select(col(from).as("src"), col(to).as("__s")), "src")
      .join(codes.select(col(from).as("dst"), col(to).as("__d")), "dst")
      .select(col("__s").as("src"), col("__d").as("dst"))

  private def ccWarnMaxIter(maxIter: Int): Unit =
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"connectedComponents hit maxIter=$maxIter before converging — " +
        "components may be split finer than the true transitive closure; " +
        "raise maxIter (rounds are logarithmic, so this indicates a " +
        "pathological graph or maxIter set very low)")

  /** RDD star-contraction loop over long ids above the driver gate,
    * returning the converged star edge set as a (src, dst) DataFrame cast
    * back to `idType`.
    *
    * RETURNED-FRAME CONTRACT: a MULTISET — convergence is detected by
    * count equality + empty symmetric SET difference, which a final
    * multiset carrying duplicate rows can still satisfy (e.g. edges =
    * {e1,e1,e2}, next = {e1,e2,e2}). Callers must aggregate (the
    * `connectedComponents` consumer does `groupBy(src).min(dst)`) or
    * distinct before treating rows as unique.
    *
    * Each round is one TWO-shuffle job (large-star
    * groupByKey, small-star groupByKey) + a count on the persisted
    * result — no Catalyst re-analysis, no checkpoint job, and NO
    * round-final distinct: both stars dedupe their neighborhoods
    * group-side, so a cross-group duplicate emission survives exactly one
    * round (bounded ≤ 2× volume) instead of paying a third shuffle every
    * round to remove it. Consequences handled below: the edge multiset
    * can differ from its set pre-fixpoint, so the count-equality trigger
    * verifies with the SYMMETRIC set difference (at the fixpoint the
    * star set emits no duplicates at all, so counts stabilize and
    * termination is unaffected). Round shuffles run on a partition count
    * sized to the CURRENT edge count (the set shrinks toward star edges
    * as rounds proceed — task scheduling would otherwise dominate the
    * endgame rounds). Neighborhoods are materialized per key like the
    * paper's reducers; the component-min's neighborhood grows toward
    * component size, the known memory bound of this algorithm. */
  private def ccStarsRdd(spark: SparkSession,
      edges0: org.apache.spark.rdd.RDD[(Long, Long)], count0: Long, np: Int,
      maxIter: Int, idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    def roundPartitions(n: Long): Int =
      math.max(4, math.min(np.toLong, n / 250000L + 1L)).toInt
    var edges = edges0
    var edgeCount = count0
    var iter = 0
    var converged = edgeCount == 0L
    while (iter < maxIter && !converged) {
      val np = roundPartitions(edgeCount)
      // ── large-star ──────────────────────────────────────────────────
      // symmetric view so every node sees its full neighborhood; m(u) =
      // min(Γ(u) ∪ {u}); emit (v, m) for every DISTINCT neighbor v > u
      // (each undirected edge once, from its smaller endpoint; v > u ≥ m
      // keeps the canonical orientation; the HashSet absorbs duplicate
      // edges carried over from the previous round).
      val sym = edges.flatMap { case (s, d) => Iterator((s, d), (d, s)) }
      val ls = sym.groupByKey(np).flatMap { case (u, nbrs) =>
        val arr = nbrs.toArray
        var m = u
        var i = 0
        while (i < arr.length) { if (arr(i) < m) m = arr(i); i += 1 }
        val mn = m
        val seen = new java.util.HashSet[Long]()
        arr.iterator.filter(v => v > u && v != mn && seen.add(v)).map(v => (v, mn))
      }
      // ── small-star ──────────────────────────────────────────────────
      // group = a node's smaller-neighbor list; m = its min (< u); emit
      // (u, m) and (v, m) for the others (in-group HashSet dedupes the
      // replica floods star hubs produce; cross-group dups survive one
      // round and die in the next round's group HashSets).
      val next = ls.groupByKey(np).flatMap { case (u, ms) =>
        val arr = ms.toArray
        var mn = Long.MaxValue
        var i = 0
        while (i < arr.length) { if (arr(i) < mn) mn = arr(i); i += 1 }
        val seen = new java.util.HashSet[Long]()
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]((u, mn))
        i = 0
        while (i < arr.length) {
          val v = arr(i)
          if (v != mn && seen.add(v)) out += ((v, mn))
          i += 1
        }
        out.iterator
      }.persist(StorageLevel.MEMORY_AND_DISK)
      val nextCount = next.count()
      // fixpoint ⇔ identical edge SET; the multiset count only triggers
      // the exact check (both difference directions — without the
      // round-final distinct, equal counts alone could mask a dup-vs-
      // extra-edge coincidence), which runs once on the final round
      converged = nextCount == edgeCount &&
        next.subtract(edges, np).isEmpty() && edges.subtract(next, np).isEmpty()
      edges.unpersist(blocking = false)
      edges = next
      edgeCount = nextCount
      iter += 1
    }
    if (!converged) ccWarnMaxIter(maxIter)
    val out = spark.createDataFrame(
      edges.map { case (s, d) => org.apache.spark.sql.Row(s, d) },
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType))))
      .select(col("src").cast(idType).as("src"), col("dst").cast(idType).as("dst"))
      // the converged star set is node-count-small: materialize it eagerly
      // (truncating lineage off the round RDDs) so the final round's
      // persisted RDD can be released HERE — otherwise one MEMORY_AND_DISK
      // edge RDD leaks per call for the lifetime of the context (the
      // checkpoint blocks are reclaimed by the ContextCleaner once the
      // caller drops the frame)
      .localCheckpoint(true)
    edges.unpersist(blocking = false)
    out
  }

  /** Cluster-aware dedup: keep exactly one row (the minimum id) per
    * connected component of `pairs`, plus every row with no near-dup. */
  def dedupByComponents(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(pairs).withColumnRenamed("id", idCol)
    df.join(comp, Seq(idCol), "left")
      .filter(col("component").isNull || col("component") === col(idCol))
      .drop("component")
  }

  /** Quality-aware canonical selection: like [[dedupByComponents]], but
    * each near-dup component keeps its BEST-scoring member (`scoreCol`
    * descending, ties to the smallest id) instead of the smallest id —
    * the production curation policy when duplicates differ in quality
    * (e.g. keep the highest [[graft.operators.TextAnalysis.qualityScore]]
    * copy of a boilerplate cluster).
    *
    * Scale shape: the component frame covers only ids that appear in
    * `pairs` (≪ corpus), joins back size-gated, and the argmax window
    * partitions by component — per-partition work is component size.
    * Non-members pass through with no extra shuffle beyond the join. */
  def dedupByComponentsKeepBest(df: DataFrame, idCol: String, pairs: DataFrame,
      scoreCol: String): DataFrame = {
    val comp = connectedComponents(pairs).withColumnRenamed("id", idCol)
    // losers = every member except its component's best: computed on a
    // 2-column projection of df (column-pruned scan) joined against the
    // member-sized component frame — the argmax window shuffles only
    // (id, score, component), never row width. The corpus then crosses a
    // single anti-join against the loser ids (≤ members − components,
    // size-gated broadcast), one full-width scan total.
    val losers = df.select(col(idCol), col(scoreCol))
      .join(Ops.broadcastIfSmall(comp), Seq(idCol))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("component").orderBy(col(scoreCol).desc, col(idCol))))
      .filter(col("__rk") > 1).select(col(idCol))
    df.join(Ops.broadcastIfSmall(losers), Seq(idCol), "left_anti")
  }

  /** The production near-dup pipeline: exact dedup FIRST (collapses
    * identical-content clusters with one cheap hash shuffle), then MinHash
    * LSH on the survivors. Exact replicas otherwise flood the LSH buckets
    * — a cluster of m identical docs generates m·(m−1)/2 candidate pairs
    * that all verify at jaccard 1.0, pure waste at scale. */
  def dedupPipeline(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000,
      assumeUniqueId: Boolean = false): DataFrame = {
    // The exact survivors are walked exactly twice: once feeding the
    // (cached-within-the-call) shingle-array build in minhashNearDupPairs,
    // once in the final anti-join. Recomputing one cheap hash-dedup pass
    // beats pinning a corpus-sized cache for the session's lifetime — at
    // 100 TB caching the survivor corpus is not an option anyway.
    val exact = exactDedup(df, Seq(textCol), idCol, assumeUniqueId)
    minhashDedup(exact, idCol, textCol, shingleSize, bands, rowsPerBand, threshold, maxBucketSize)
  }

  /** Edit-distance (fuzzy) pair matching for SHORT strings — the entity-
    * resolution counterpart to the token-set families: near-identical
    * names/titles/URLs ("Customer#001" vs "Customer#O01") that token
    * Jaccard cannot see. Returns every unordered pair with
    * `levenshtein ≤ maxDist` as (id_a, id_b, dist) — COMPLETE recall, no
    * probabilistic blocking.
    *
    * Candidate generation is DELETION-NEIGHBORHOOD blocking (the
    * FastSS/SymSpell family): every string emits all variants reachable
    * by deleting ≤ τ characters (canonical ascending original
    * positions), and two strings within τ edits ALWAYS share a variant —
    * from an optimal alignment, delete the substituted+deleted chars
    * from one side (≤ τ) and the substituted+inserted chars from the
    * other (≤ τ) and both reach the same subsequence. Candidates are an
    * equi-join on the 64-bit hash of the variant (8-byte shuffle keys;
    * hash collisions only ever ADD candidates, and exact `levenshtein`
    * verifies every distinct pair — a codegen'd projection).
    *
    * Why not segment (PassJoin-style) blocking: segment keys carry only
    * ~L/(τ+1) characters, so template data with a shared prefix
    * ("item-00001234"…) degenerates into one giant block — measured
    * quadratic on 400k sequential ids. Deletion variants keep ≥ L−τ
    * characters of the ORIGINAL string, so blocks stay true-neighborhood
    * sized under any shared template. The trade is key volume:
    * Σ_{d≤τ} C(L,d) keys per string — linear in rows, fine for τ ≤ 3 on
    * short strings, which is the operator\u2019s contract (REQUIREd).
    * Exact-duplicate strings should be collapsed first (dedupPipeline
    * convention): m copies of one string are m·(m−1)/2 irreducible
    * dist-0 pairs. */
  /** (__id, __s, __k) rows: the 64-bit hash of every ≤`tau`-deletion
    * variant of each string (canonical ascending original positions; the
    * string itself is its own 0-deletion variant). Shared candidate-key
    * generator for [[editDistancePairs]] and the incremental
    * [[FuzzyIndex]]. */
  private[operators] def deletionVariantKeys(df: DataFrame, idCol: String,
      strCol: String, tau: Int): DataFrame = {
    require(tau >= 1 && tau <= 3,
      s"maxDist must be in [1,3] (deletion-neighborhood keys grow C(L,d)), got $tau")
    val base = df.select(col(idCol).as("__id"), col(strCol).as("__s"))
      .filter(col("__s").isNotNull)
    val sL = length(col("__s"))
    // drop one character at original position p (1-based)
    def drop1(s: Column, p: Column): Column =
      concat(s.substr(lit(1), p - 1), s.substr(p + 1, length(s) - p))
    def drop2(s: Column, p1: Column, p2: Column): Column =
      concat(s.substr(lit(1), p1 - 1), s.substr(p1 + 1, p2 - p1 - 1),
        s.substr(p2 + 1, length(s) - p2))
    def drop3(s: Column, p1: Column, p2: Column, p3: Column): Column =
      concat(s.substr(lit(1), p1 - 1), s.substr(p1 + 1, p2 - p1 - 1),
        s.substr(p2 + 1, p3 - p2 - 1), s.substr(p3 + 1, length(s) - p3))
    val v0 = base.select(col("__id"), col("__s"), col("__s").as("__v"))
    val v1 = base.filter(sL >= 1)
      .select(col("__id"), col("__s"), explode(sequence(lit(1), sL)).as("__p1"))
      .select(col("__id"), col("__s"), drop1(col("__s"), col("__p1")).as("__v"))
    val variants = Seq(
      Some(v0), Some(v1),
      if (tau >= 2) Some(base.filter(sL >= 2)
        .select(col("__id"), col("__s"),
          explode(sequence(lit(1), sL - 1)).as("__p1"))
        .select(col("__id"), col("__s"), col("__p1"),
          explode(sequence(col("__p1") + 1, length(col("__s")))).as("__p2"))
        .select(col("__id"), col("__s"),
          drop2(col("__s"), col("__p1"), col("__p2")).as("__v")))
      else None,
      if (tau >= 3) Some(base.filter(sL >= 3)
        .select(col("__id"), col("__s"),
          explode(sequence(lit(1), sL - 2)).as("__p1"))
        .select(col("__id"), col("__s"), col("__p1"),
          explode(sequence(col("__p1") + 1, length(col("__s")) - 1)).as("__p2"))
        .select(col("__id"), col("__s"), col("__p1"), col("__p2"),
          explode(sequence(col("__p2") + 1, length(col("__s")))).as("__p3"))
        .select(col("__id"), col("__s"),
          drop3(col("__s"), col("__p1"), col("__p2"), col("__p3")).as("__v")))
      else None).flatten
    variants.reduce(_ unionByName _)
      .select(col("__id"), col("__s"), xxhash64(col("__v")).as("__k"))
  }

  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int): DataFrame = {
    val tau = maxDist
    // dropDuplicates: a deletion inside a repeated-character run yields the
    // SAME variant for every position in the run (template ids are full of
    // zero runs), so raw keys carry duplicate (id, key) rows that multiply
    // the self-join quadratically per block — measured 285k→223k key rows
    // and 1.46M→0.98M join rows on sf0.1 customer names. The eager
    // checkpoint keeps the variant explosion from running once per join
    // side (self-join duplicates the upstream plan).
    val keys = deletionVariantKeys(df, idCol, strCol, tau)
      .dropDuplicates("__id", "__k")
      .localCheckpoint(true)

    val a = keys.select(col("__id").as("id_a"), col("__s").as("sa"), col("__k"))
    val b = keys.select(col("__id").as("id_b"), col("__s").as("sb"), col("__k"))
    a.join(b, Seq("__k"))
      .filter(col("id_a") < col("id_b") &&
        abs(length(col("sa")) - length(col("sb"))) <= tau)
      .select(col("id_a"), col("id_b"), col("sa"), col("sb"))
      .distinct()
      // threshold form: banded O(L·τ) DP with early exit instead of the
      // full O(L²) table; returns the EXACT distance when ≤ τ (−1 above),
      // so the kept rows are bit-identical to the unbounded form
      .withColumn("dist", levenshtein(col("sa"), col("sb"), tau))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Duplicate-cluster size report: the distribution "how big are the
    * near-dup clusters?" — (size, n_clusters) including size-1
    * singletons — the report a dedup run is judged by (a long tail of
    * giant clusters means boilerplate; mass at size 2 means true
    * near-dups; the singleton row is the clean fraction).
    *
    * Components come from [[connectedComponents]] over the candidate
    * pairs (components are ≥ 2 nodes by construction); the singleton
    * count derives from two driver-small counts (corpus minus paired).
    * Output is at most max-cluster-size rows. */
  def dupClusterSizeReport(df: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val comp = connectedComponents(pairs).localCheckpoint(false)
    val sizes = comp.groupBy("component").agg(count(lit(1)).as("size"))
    val hist = sizes.groupBy("size").agg(count(lit(1)).as("n_clusters"))
    val totalDocs = df.select(col(idCol)).distinct().count()
    val pairedDocs = comp.count()
    import spark.implicits._
    val singletons = Seq((1L, totalDocs - pairedDocs))
      .toDF("size", "n_clusters")
    hist.unionByName(singletons)
      .groupBy("size").agg(sum("n_clusters").as("n_clusters"))
      .orderBy("size")
  }

  /** Dedup provenance map: for every row a near-dup component DROPS,
    * the (loser, winner, score_loser, score_winner) record of WHICH
    * surviving row replaced it — the audit trail behind
    * [[dedupByComponentsKeepBest]] ("why is my document gone, and who
    * won?"), and the redirect table downstream references need when
    * ids they point at were deduped away.
    *
    * Same shape as keep-best: components over paired ids only, the
    * argmax window on the (id, score, component) projection; winners
    * join back per component (component-sized both sides). */
  def dedupProvenance(df: DataFrame, idCol: String, pairs: DataFrame,
      scoreCol: String): DataFrame = {
    val comp = connectedComponents(pairs).withColumnRenamed("id", idCol)
    val scored = df.select(col(idCol), col(scoreCol))
      .join(Ops.broadcastIfSmall(comp), Seq(idCol))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("component").orderBy(col(scoreCol).desc, col(idCol))))
      .localCheckpoint(false)
    val winners = scored.filter(col("__rk") === 1)
      .select(col("component"), col(idCol).as("winner"),
        col(scoreCol).as("winner_score"))
    scored.filter(col("__rk") > 1)
      .select(col("component"), col(idCol).as("loser"),
        col(scoreCol).as("loser_score"))
      .join(Ops.broadcastIfSmall(winners), Seq("component"))
      .select(col("loser"), col("winner"), col("loser_score"),
        col("winner_score"))
  }

  /** Dedup threshold-calibration curve: histogram of VERIFIED Jaccard
    * over the candidate pairs found at a deliberately-low probe
    * threshold, with the cumulative "pairs surviving at ≥ t" column —
    * the curve that answers "where should the production threshold
    * sit?" before a corpus-wide dedup commits to one (q53's margin probe
    * guards one chosen threshold; this maps the whole landscape).
    *
    * Buckets are 1/`bins`-wide on [0, 1] (index = min(⌊j·bins⌋,
    * bins−1) — fixed-paren, engine-exact); the cumulative column is a
    * suffix sum over the bins-sized frame. Only candidate pairs above
    * the probe threshold appear — the curve is exact ABOVE the probe
    * and unobserved below it, which is the honest contract (counting
    * all O(n²) pairs is what banding exists to avoid). */
  def thresholdCurve(df: DataFrame, idCol: String, textCol: String,
      probeThreshold: Double = 0.3, bins: Int = 20,
      shingleSize: Int = 3, bands: Int = 16,
      rowsPerBand: Int = 2): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val pairs = minhashNearDupPairs(df, idCol, textCol, shingleSize,
      bands, rowsPerBand, probeThreshold)
    val counts = pairs
      .select(least(floor(col("jaccard") * bins).cast("int"),
        lit(bins - 1)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
    val spark = df.sparkSession
    import spark.implicits._
    val spine = (0 until bins).toDF("bucket")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket").desc)
      .rowsBetween(Long.MinValue, 0)
    spine.join(counts, Seq("bucket"), "left")
      .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
      .withColumn("n_at_or_above", sum("n_pairs").over(w))
      .select(col("bucket"),
        (col("bucket").cast("double") / lit(bins.toDouble)).as("t_lo"),
        col("n_pairs"), col("n_at_or_above"))
      .orderBy("bucket")
  }

  /** LSH parameter-planner curve: detection probability
    * p(s) = 1 − (1 − s^r)^b at each similarity s for each candidate
    * (bands, rowsPerBand) config — the table that justifies q25's
    * (16, 2) before anyone runs a byte of data, and the first thing to
    * recompute when a threshold moves. Pure closed-form math over an
    * s-grid (i/gridSteps for i = 1..gridSteps−1); powers expand as
    * LEFT-ASSOCIATIVE multiplication chains so the doubles are
    * bit-identical on any engine (no pow()). Returns one row per s with
    * one probability column per config (p_b<bands>_r<rows>). */
  def lshDetectionCurve(spark: org.apache.spark.sql.SparkSession,
      configs: Seq[(Int, Int)], gridSteps: Int = 20): DataFrame = {
    require(configs.nonEmpty && configs.forall { case (b, r) => b >= 1 && r >= 1 },
      "configs must be non-empty positive (bands, rowsPerBand)")
    require(gridSteps >= 2, "gridSteps must be >= 2")
    val s = col("id").cast("double") / lit(gridSteps.toDouble)
    val cols = configs.map { case (b, r) =>
      val sr = Seq.fill(r)(s).reduce(_ * _)
      val base = lit(1.0) - sr
      val pb = Seq.fill(b)(base).reduce(_ * _)
      (lit(1.0) - pb).as(s"p_b${b}_r$r")
    }
    spark.range(1, gridSteps.toLong)
      .select((Seq(s.as("s")) ++ cols): _*)
  }

  /** MEASURED LSH recall calibration: per exact-Jaccard bin over a
    * deterministic corpus sample, the fraction of pairs the production
    * banding actually surfaced as candidates, beside the theoretical
    * S-curve 1 − (1 − s^r)^b at the bin midpoint ([[lshDetectionCurve]]
    * says what the parameters SHOULD do; this says what they DID on this
    * corpus — shingle-set size effects, token distribution, and hash
    * collisions included). The calibration run a domain does once before
    * trusting a (bands, rowsPerBand) choice corpus-wide.
    *
    * Exact Jaccard over pairs is inherently quadratic, so the audit runs
    * on an md5-ranked sample of ≤ `maxSample` docs (≤ ~2M pairs at the
    * 2048 cap — bounded by construction, never corpus²; the sample is
    * deterministic, so reruns are comparable). The candidate set is the
    * SAME signature + banding path production uses
    * ([[bandsFromShingleArray]] — the fused xxhash64 MinHash), which is
    * also why this operator is spec-gated rather than SQL-oracle-gated:
    * xxhash64 has no DuckDB twin (the q25 lesson), and auditing a
    * replayable lookalike hash would measure the wrong banding.
    *
    * Returns one row per bin: (bin, bin_lo, n_pairs, n_candidates,
    * recall, theory_recall); recall is NULL for empty bins. */
  def lshRecallAudit(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      maxSample: Int = 512, bins: Int = 10): DataFrame = {
    require(maxSample >= 2 && maxSample <= 2048,
      s"maxSample must be in [2, 2048] (the audit is quadratic in it), got $maxSample")
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val spark = df.sparkSession
    val sample = df.select(col(idCol).as("__id"), col(textCol).as("__text"))
      .orderBy(md5Hash60(col("__id")).asc, col("__id").asc)
      .limit(maxSample)
    val shArr = sample
      .select(col("__id"), tokensCol(col("__text")).as("__toks"))
      .select(col("__id"), shinglesOf(col("__toks"), shingleSize).as("__sharr"))
      .localCheckpoint(true) // sample-sized; pairs + banding both read it
    val a = shArr.select(col("__id").as("id_a"), col("__sharr").as("__sa"))
    val b = shArr.select(col("__id").as("id_b"), col("__sharr").as("__sb"))
    val inter = size(array_intersect(col("__sa"), col("__sb")))
    val uni = size(col("__sa")) + size(col("__sb")) - inter
    val pairs = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        when(uni > 0, inter.cast("double") / uni.cast("double"))
          .otherwise(lit(0.0)).as("__j"))
    val bk = bandsFromShingleArray(shArr, "__id", bands, rowsPerBand)
    val candPairs = bk.as("x").join(bk.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
      .distinct()
    val binCol = least(floor(col("__j") * lit(bins.toDouble)).cast("long"),
      lit((bins - 1).toLong))
    val perBin = pairs
      .join(candPairs.withColumn("__c", lit(1L)), Seq("id_a", "id_b"), "left")
      .select(binCol.as("bin"), coalesce(col("__c"), lit(0L)).as("__c"))
      .groupBy("bin").agg(count(lit(1)).as("n_pairs"),
        sum(col("__c")).as("n_candidates"))
    import spark.implicits._
    val theory = (0 until bins).map { i =>
      val s = (i + 0.5) / bins
      (i.toLong, 1.0 - math.pow(1.0 - math.pow(s, rowsPerBand), bands))
    }.toDF("bin", "theory_recall")
    perBin.join(broadcast(theory), Seq("bin"), "right")
      .select(col("bin"),
        (col("bin").cast("double") / lit(bins.toDouble)).as("bin_lo"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        when(coalesce(col("n_pairs"), lit(0L)) > 0L,
          coalesce(col("n_candidates"), lit(0L)).cast("double") /
            col("n_pairs").cast("double")).as("recall"),
        col("theory_recall"))
  }

  /** Incremental connected-components maintenance: fold a batch of NEW
    * pairs into an existing (id, component) map without recomputing
    * components over the full edge history. Each batch endpoint maps to
    * its current component (itself if unseen); the batch then induces a
    * COMPONENT-level graph — pairs of current labels — whose connected
    * components (a frame bounded by the batch's distinct labels, not the
    * corpus) decide which old components merge; one key-width relabel
    * join updates the node-sized state. Labels stay canonical min-ids
    * (every stored label is the min id of its nodes, and a merge takes
    * the min of merged labels), so the result is IDENTICAL to a full
    * recompute over all edges ever seen — spec-asserted, including
    * chains that only connect through several batches. The edge history
    * itself is never stored or rescanned. */
  def mergeComponents(
      state: DataFrame,
      newPairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b"): DataFrame = {
    val st = state.select(col("id"), col("component")).localCheckpoint(true)
    val nodes = newPairs.select(col(idA).as("id"))
      .union(newPairs.select(col(idB).as("id"))).distinct()
    val mapped = nodes.join(st, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("__c0"))
      .localCheckpoint(true)
    val compEdges = newPairs
      .join(mapped.select(col("id").as(idA), col("__c0").as("__ca")), Seq(idA))
      .join(mapped.select(col("id").as(idB), col("__c0").as("__cb")), Seq(idB))
      .select(col("__ca").as("id_a"), col("__cb").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val relabel = connectedComponents(compEdges)
      .select(col("id").as("__old"), col("component").as("__new"))
    val full = st.unionByName(
      mapped.join(st.select("id"), Seq("id"), "left_anti")
        .select(col("id"), col("__c0").as("component")))
    full.join(relabel, full("component") === relabel("__old"), "left")
      .select(col("id"),
        coalesce(col("__new"), col("component")).as("component"))
  }

  /** Cost-ordered dedup CASCADE report: gate an incoming batch against a
    * history through the three detector tiers in ascending cost — exact
    * (one text-hash semi-join), then Hamming/SimHash (chunk-pigeonhole
    * blocking), then verified MinHash-Jaccard (banded LSH) — each stage
    * seeing only the previous stage's survivors. This is the production
    * stack's SHAPE (the cheap detector kills the bulk before the
    * expensive one runs); the incremental stores ([[BucketedSnapshotStore.
    * incrementalNew]], [[graft.operators.HammingIndex]],
    * [[NearDupIndex]]) are its persistent counterparts, this is the
    * batch-vs-batch form with the full report.
    *
    * Requires batch ids disjoint from history ids — VALIDATED (one
    * key-width semi-join isEmpty probe against the already-checkpointed
    * id frame): an overlapping id would silently mis-attribute drops (a
    * batch row can be "dropped" by a pair linking a history row that
    * shares its id), producing a wrong report with no error. Returns one
    * row per stage: (stage, n_in, n_dropped, n_out) — counts are
    * report-sized driver aggregates (the collocations-totals
    * convention). */
  def cascadeNoveltyReport(
      history: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3,
      threshold: Double = 0.55,
      bands: Int = 16,
      rowsPerBand: Int = 2,
      tokenHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column = null): DataFrame = {
    val spark = history.sparkSession
    import spark.implicits._
    val hIds = history.select(col(idCol).cast("long").as("__hid")).distinct()
      .localCheckpoint(true)
    val overlap = batch.select(col(idCol).cast("long").as("__hid"))
      .join(hIds, Seq("__hid"), "left_semi")
    require(overlap.isEmpty,
      "cascadeNoveltyReport requires batch ids disjoint from history ids; " +
        s"overlapping example: ${overlap.head.get(0)}")
    val u = history.select(col(idCol), col(textCol))
      .unionByName(batch.select(col(idCol), col(textCol)))
      .localCheckpoint(true)
    // stage 1: exact text match against history (hash-width semi-join)
    val histHashes = history.select(md5(col(textCol)).as("__h")).distinct()
    val s0 = batch.select(col(idCol), col(textCol))
    val s1 = s0.join(histHashes, md5(s0(textCol)) === histHashes("__h"),
      "left_anti").localCheckpoint(true)
    // a batch id survives a pair-based stage unless some pair links it to
    // a HISTORY id
    def dropByPairs(survivors: DataFrame, pairs: DataFrame): DataFrame = {
      val und = pairs.select(col("id_a").as("__x"), col("id_b").as("__y"))
        .unionAll(pairs.select(col("id_b").as("__x"), col("id_a").as("__y")))
      val dropIds = und
        .join(hIds.withColumnRenamed("__hid", "__y"), Seq("__y"), "left_semi")
        .select(col("__x").cast("long").as("__d")).distinct()
      survivors.join(dropIds,
        survivors(idCol).cast("long") === dropIds("__d"), "left_anti")
        .localCheckpoint(true)
    }
    // stage 2: Hamming ≤ maxDist (computed over history ∪ stage-1
    // survivors only — earlier drops never reach the signature pass)
    val u2 = history.select(col(idCol), col(textCol))
      .unionByName(s1).localCheckpoint(true)
    val s2 = dropByPairs(s1,
      simhashNearDupPairs(u2, idCol, textCol, maxDist, tokenHash = tokenHash))
    // stage 3: verified Jaccard ≥ threshold over history ∪ survivors
    val u3 = history.select(col(idCol), col(textCol))
      .unionByName(s2).localCheckpoint(true)
    val s3 = dropByPairs(s2,
      minhashNearDupPairs(u3, idCol, textCol, shingleSize = 3, bands = bands,
        rowsPerBand = rowsPerBand, threshold = threshold))
    val (n0, n1, n2, n3) = (s0.count(), s1.count(), s2.count(), s3.count())
    Seq(
      ("1_exact", n0, n0 - n1, n1),
      ("2_hamming", n1, n1 - n2, n2),
      ("3_minhash", n2, n2 - n3, n3))
      .toDF("stage", "n_in", "n_dropped", "n_out")
  }
}
