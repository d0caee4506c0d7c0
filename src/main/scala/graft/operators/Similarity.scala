package graft.operators

import graft.functions.VectorOps.{nearest_centroid, vector_dot, vector_norm}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Scoring uses the native fused-loop `vector_dot` expression
  * (graft.functions.VectorDot — whole-stage codegen, no boxing), and every
  * pipeline precomputes per-row norms ONCE before the pair join, so each
  * candidate pair costs exactly one dot product. Three tiers:
  *  - `bruteForceTopK`: exact; broadcast the (small) query set against the
  *    corpus — the correctness baseline and the right plan whenever
  *    |queries| is small, at any corpus scale.
  *  - `lshTopK`: sign-random-projection buckets; corpus shuffles once by a
  *    compact bucket id; queries probe only their bucket.
  *  - `ivfTopK`: inverted-file index — k centroids (deterministic sample +
  *    one Lloyd refinement), corpus partitioned by nearest centroid,
  *    queries probe `nProbe` nearest centroids. The 100 TB path: scan cost
  *    drops by ~nProbe/k.
  */
object Similarity {

  /** dot(a, b) in double precision (native fused loop). */
  def dot(a: Column, b: Column): Column = vector_dot(a, b)

  def norm(a: Column): Column = vector_norm(a)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Deterministic pseudo-random hyperplane matrix (planes × dim), built
    * once on the driver and shipped as a literal — each projection is then
    * one native dot product instead of per-element hashing. */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(planes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** `planes`-bit sign signature: packed sign bits of the hyperplane
    * projections. `dim` is the embedding width (planes × dim weight
    * literal; native vector_dot per plane). */
  def signSignature(vec: Column, planes: Int, dim: Int): Column = {
    val w = hyperplanes(planes, dim)
    val projections = (0 until planes).map { p =>
      vector_dot(vec, typedLit(w(p)))
    }
    projections.zipWithIndex.map { case (proj, p) =>
      when(proj >= 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** Embedding width (reads one row). */
  def dimOf(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).first().getInt(0)

  /** (id, vec, norm) projection — norms computed once, before any join. */
  private def withNorm(df: DataFrame, idCol: String, vecCol: String,
      idAs: String, vecAs: String, normAs: String): DataFrame =
    df.select(col(idCol).as(idAs), col(vecCol).as(vecAs),
      vector_norm(col(vecCol)).as(normAs))

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Exact top-k cosine neighbors for each query row.
    * `queries` must be small enough to broadcast (the common case: probe
    * set ≪ corpus). Excludes self-matches on id equality. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val q = withNorm(queries, idCol, vecCol, "query_id", "__qv", "__qn")
    val c = withNorm(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (vector_dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))).as("cosine"))
    rankTopK(scored, k)
  }

  /** LSH-bucketed ANN: candidates from the query's sign bucket, then exact
    * rerank. `multiProbe` additionally probes every bucket at Hamming
    * distance 1 from the query's signature (planes extra buckets per
    * query) — the standard recall/compute knob: corpus cost is unchanged
    * (it is hashed once); only the broadcast probe set grows. */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      planes: Int = 12,
      multiProbe: Boolean = true): DataFrame = {
    val dim = dimOf(corpus, vecCol)
    val c = withNorm(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn")
      .withColumn("__bucket", signSignature(col("__cv"), planes, dim))
    val q0 = withNorm(queries, idCol, vecCol, "query_id", "__qv", "__qn")
      .withColumn("__sig", signSignature(col("__qv"), planes, dim))
    val q =
      if (!multiProbe) q0.withColumnRenamed("__sig", "__bucket")
      else q0.withColumn("__bucket",
          explode(array((col("__sig") +:
            (0 until planes).map(p => col("__sig").bitwiseXOR(lit(1L << p)))): _*)))
        .drop("__sig")
    val scored = c.join(broadcast(q), Seq("__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (vector_dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))).as("cosine"))
      .distinct() // a pair can match via several probed buckets
    rankTopK(scored, k)
  }

  /** Sentinel: resolve the centroid count from the corpus size at the
    * entry point ([[ivfTopK]], [[Dedup.semanticDupPairs]]) — costs one
    * count() job; pass an explicit count to skip it. */
  val AutoCentroids: Int = -1

  /** Classic IVF sizing: k ≈ √n (per-probe candidate list and centroid
    * scan balance at √n each), clamped so the centroid set stays
    * driver-small whatever the corpus. */
  private[graft] def sqrtCentroids(n: Long): Int =
    math.min(65536L, math.max(1L, math.round(math.sqrt(n.toDouble)))).toInt

  /** IVF index: deterministic centroid seeding + one Lloyd refinement
    * step, then corpus assignment. Returns (centroid_id, centroid) and the
    * assigned corpus.
    *
    * Seeding is FULLY deterministic and needs NO corpus count: the
    * `numCentroids` rows with the smallest `(seedHash(id), id)` — a
    * hash-order top-K is a uniform pseudo-random sample, and orderBy+limit
    * plans as TakeOrderedAndProject (K rows on the driver, never a global
    * sort). centroid_id = rank by id among the selected seeds. `seedHash`
    * defaults to xxhash64; pass Dedup.md5Hash60 when an external oracle
    * must reproduce the index.
    *
    * The corpus is touched by exactly 3 jobs: (1) the seed top-K scan,
    * (2) the refinement aggregate (seed-assignment is a shuffle-free
    * projection fused into the same scan), (3) the caller materializing
    * the returned final assignment. The vector dimension comes from the
    * collected seed vectors — no probe job — and the previous separate
    * count() pass is gone (PlanSpec asserts the job count). */
  def ivfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCentroids: Int,
      seedHash: Column => Column = xxhash64(_)): (DataFrame, DataFrame) = {
    // top-K by hash order picks the sample (TakeOrderedAndProject — one
    // job, no global sort); the K survivors re-rank by id DRIVER-side so
    // centroid ids are stable without a second Spark sort job
    val picked = corpus
      .orderBy(seedHash(col(idCol)).asc, col(idCol).asc)
      .limit(numCentroids)
      .select(col(idCol), col(vecCol)).collect()
    require(picked.nonEmpty, "ivfIndex requires a non-empty corpus")
    val seedRows = picked.sortWith((a, b) =>
      a.get(0).asInstanceOf[Comparable[Any]].compareTo(b.get(0)) < 0)
    val seedCens: Seq[(Long, Seq[Float], Double)] = seedRows.toSeq.zipWithIndex.map {
      case (r, i) =>
        val vec = r.getSeq[Float](1)
        // identical to vector_norm: forward double accumulation of float²
        var acc = 0.0
        vec.foreach(f => acc += f.toDouble * f.toDouble)
        (i.toLong, vec, math.sqrt(acc))
    }
    // one refinement: assign to nearest seed, recompute means element-wise.
    // The mean is computed per (centroid, dimension) via posexplode + one
    // grouped avg — NOT as `dim` separate avg(element_at(...)) aggregate
    // functions: those fuse with the unrolled argmax projection into one
    // enormous whole-stage-codegen method that blows the JIT method limit
    // and runs interpreted (~10× slower, measured 9.3 s → 0.8 s on a 40k ×
    // 64-dim corpus). The exploded rows combine map-side to
    // numCentroids × dim groups, so the shuffle stays tiny at any corpus
    // size and the refinement remains ONE corpus pass.
    val assigned0 = assignSeq(corpus, seedCens, vecCol)
    val perDim = assigned0
      .select(col("centroid_id"), posexplode(col(vecCol)).as(Seq("__pos", "__val")))
      .groupBy("centroid_id", "__pos")
      .agg(avg(col("__val").cast(DoubleType)).as("__avg"))
      .collect()
    // Centroids are driver-small by construction (numCentroids × dim
    // cells): rebuild them as a LocalRelation so assign() and callers like
    // ivfTopK that collect them again hit a LocalTableScan — nothing stays
    // pinned in executor storage.
    val spark = corpus.sparkSession
    val centroidRows: java.util.List[Row] = java.util.Arrays.asList(
      perDim.groupBy(_.getLong(0)).toSeq.map { case (cid, cells) =>
        val vec = cells.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat)
        Row(cid, vec)
      }: _*)
    val refinedSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("centroid_id", LongType),
      org.apache.spark.sql.types.StructField("centroid", ArrayType(FloatType))))
    val refined = spark.createDataFrame(centroidRows, refinedSchema)
    (refined, assign(corpus, refined, idCol, vecCol))
  }

  /** Centroids materialized driver-side: (centroid_id, vector, norm),
    * sorted by centroid_id so argmin tie-breaking is deterministic
    * (lowest id wins, matching the old (distance, centroid_id) ordering). */
  private[operators] def collectCentroids(centroids: DataFrame): Seq[(Long, Seq[Float], Double)] =
    centroids.select(col("centroid_id").cast(LongType), col("centroid"),
        vector_norm(col("centroid")).as("__n"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
      .sortBy(_._1)
      .toSeq

  /** Literal array<struct<cid,cvec,cnorm>> shipped inside the plan. */
  private def centroidArrayLit(cens: Seq[(Long, Seq[Float], Double)]): Column =
    array(cens.map { case (id, vec, nrm) =>
      struct(lit(id).as("cid"), typedLit(vec).as("cvec"), lit(nrm).as("cnorm"))
    }: _*)

  /** Nearest-centroid assignment with NO shuffle: the centroid set is
    * driver-small by construction (numCentroids rows), so it ships inside
    * the plan and the argmax-cosine happens per row — no Exchange between
    * the corpus scan and the assignment. (The round-1 formulation
    * crossJoined corpus × centroids and took row_number() over a per-id
    * window, shuffling the corpus replicated ×numCentroids — fatal at
    * 100 TB.)
    *
    * The argmax itself is the fused [[graft.functions.NearestCentroid]]
    * expression over a flat pre-scaled matrix — constant generated-code
    * size at ANY k. The round-2/3 k-unrolled score array was abandoned
    * after the collapsed projection crossed HotSpot's huge-method limit
    * when composed with downstream operators (join + norm), silently
    * deoptimizing whole stages to the bytecode interpreter at ~10× cost —
    * see NearestCentroid's scaladoc for the mechanism. */
  private[operators] def assign(corpus: DataFrame, centroids: DataFrame, idCol: String, vecCol: String): DataFrame =
    assignSeq(corpus, collectCentroids(centroids), vecCol)

  private def assignSeq(corpus: DataFrame, cens: Seq[(Long, Seq[Float], Double)],
      vecCol: String): DataFrame = {
    // Nearest-by-cosine via the fused NearestCentroid expression: the
    // centroid matrix is pre-scaled by 1/‖c‖ driver-side (argmax is
    // invariant to the per-row 1/‖v‖ factor, so the row norm is never
    // computed), ties take the lowest index, NaN scores never win, and a
    // NULL embedding coalesces to the first centroid — so no row ever
    // disappears from the refinement's collect. A degenerate zero-norm
    // centroid contributes a zero row (score 0) instead of ±Inf noise.
    val dim = cens.head._2.length
    val matrix = new Array[Double](cens.size * dim)
    cens.zipWithIndex.foreach { case ((_, vec, nrm), c) =>
      val inv = if (nrm > 0.0 && !nrm.isNaN) 1.0 / nrm else 0.0
      var i = 0
      while (i < dim && i < vec.length) {
        matrix(c * dim + i) = vec(i).toDouble * inv
        i += 1
      }
    }
    // index → centroid_id via a small literal lookup (single reference)
    val cidArr = array(cens.map(c => lit(c._1)): _*)
    corpus.withColumn("centroid_id",
      element_at(cidArr,
        coalesce(nearest_centroid(col(vecCol), matrix, cens.size, dim), lit(0)) + 1))
  }

  /** IVF ANN: probe the `nProbe` nearest centroids per query, exact rerank
    * inside the probed partitions. `numCentroids` defaults to
    * [[AutoCentroids]]: resolved as √n from one corpus count, so callers
    * need no tuning for the quadratic term to stay bounded at any scale. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numCentroids: Int = AutoCentroids,
      nProbe: Int = 2,
      seedHash: Column => Column = xxhash64(_)): DataFrame = {
    val nc = if (numCentroids == AutoCentroids) sqrtCentroids(corpus.count())
             else numCentroids
    val (centroids, assigned) = ivfIndex(corpus, idCol, vecCol, nc, seedHash)
    // nProbe nearest centroids per query — same literal-array trick as
    // assign(): score all centroids in one projection, array_sort by
    // (-cosine, centroid_id), slice the top nProbe, explode. No shuffle.
    val cens = collectCentroids(centroids)
    // nanvl: a zero-norm query or centroid sorts last instead of NaN
    // poisoning the struct sort
    val ranked = array_sort(transform(centroidArrayLit(cens), c =>
      struct(nanvl(-(vector_dot(col("__qv"), c.getField("cvec")) /
        (col("__qn") * c.getField("cnorm"))), lit(Double.PositiveInfinity)).as("negScore"),
        c.getField("cid").as("cid"))))
    val probes = withNorm(queries, idCol, vecCol, "query_id", "__qv", "__qn")
      .withColumn("centroid_id",
        explode(transform(slice(ranked, 1, nProbe), p => p.getField("cid"))))
      .select(col("query_id"), col("__qv"), col("__qn"), col("centroid_id"))
    val cand = assigned.select(col("centroid_id"), col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), vector_norm(col(vecCol)).as("__cn"))
    val scored = cand.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (vector_dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))).as("cosine"))
    rankTopK(scored, k)
  }

  /** Self-KNN: the top-k cosine neighbors of EVERY corpus row — the
    * all-pairs companion to [[ivfTopK]]'s probe-set search, used for
    * corpus-wide curation reports (duplicate triage, local-density
    * estimates, diversity sampling).
    *
    * Brute force is n² and dead at scale; here the IVF assignment blocks
    * the quadratic term: rows join only within their cluster, so pair
    * work is Σ|cluster|² — with the default ⌈n/targetClusterSize⌉
    * centroids that is ≤ n × targetClusterSize, LINEAR in n by
    * construction (same bound [[Dedup.semanticDupPairs]] rides). Both
    * join sides are the same assigned frame, so the cluster-key exchange
    * is computed once and reused; the only other shuffle is the per-query
    * top-k window. Neighbors in foreign clusters are unseen — the usual
    * IVF recall trade, which the oracle replays rather than papers over.
    * Rows short of k in-cluster neighbors return what exists (a
    * singleton-cluster row returns none), ranks 1..k deterministic with
    * ties broken by neighbor id. */
  def knnJoin(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numCentroids: Int = AutoCentroids,
      targetClusterSize: Int = 4096,
      seedHash: Column => Column = xxhash64(_)): DataFrame = {
    val nc = if (numCentroids == AutoCentroids)
      math.max(1, math.ceil(corpus.count().toDouble / targetClusterSize).toInt)
    else numCentroids
    val (_, assigned0) = ivfIndex(corpus, idCol, vecCol, nc, seedHash)
    val assigned = assigned0.select(col("centroid_id"), col(idCol).as("__id"),
      col(vecCol).as("__v"), vector_norm(col(vecCol)).as("__n"))
    val a = assigned.select(col("centroid_id"), col("__id").as("query_id"),
      col("__v").as("__qv"), col("__n").as("__qn"))
    val b = assigned.select(col("centroid_id"), col("__id").as("neighbor_id"),
      col("__v").as("__cv"), col("__n").as("__cn"))
    val scored = a.join(b, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (vector_dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))).as("cosine"))
    rankTopK(scored, k)
  }

  /** Embedding-isolation outliers: score every vector by its cosine to
    * its k-th nearest neighbor — a LOW k-th-neighbor similarity means
    * nothing lives nearby: mislabeled content, encoding noise, or
    * contamination candidates (the curation complement of SemDeDup,
    * which hunts the over-DENSE regions). Returns the `topK` most
    * isolated rows (rank, id, kth_cosine).
    *
    * Rides [[knnJoin]] (IVF-blocked at scale; `numCentroids = 1` is the
    * exact small-corpus path) — the k-th-neighbor score is then one
    * key-width min aggregate and a TakeOrdered. */
  def embeddingOutliers(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 5, topK: Int = 20,
      numCentroids: Int = AutoCentroids): DataFrame = {
    require(k >= 1 && topK >= 1, s"k/topK must be >= 1, got $k/$topK")
    val knn = knnJoin(df, idCol, vecCol, k, numCentroids)
    knn.groupBy(col("query_id").as("id"))
      .agg(min("cosine").as("kth_cosine"))
      .orderBy(col("kth_cosine").asc, col("id").asc).limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("kth_cosine").asc, col("id").asc)))
      .select(col("rank"), col("id"), col("kth_cosine"))
      .orderBy("rank")
  }

  // ── int8 scalar quantization ──────────────────────────────────────────

  /** Per-dimension min/max of the corpus, collected to the driver —
    * dim-count rows (64 for this data), the same driver-small-by-
    * construction contract as the IVF centroids. Returned dim-sorted. */
  private def dimStats(df: DataFrame, vecCol: String): Seq[(Double, Double)] =
    df.select(posexplode(col(vecCol)).as(Seq("__d", "__v")))
      .groupBy("__d")
      .agg(min(col("__v").cast(DoubleType)).as("__mn"),
        max(col("__v").cast(DoubleType)).as("__mx"))
      .collect()
      .map(r => (r.getInt(0), (r.getDouble(1), r.getDouble(2))))
      .sortBy(_._1).map(_._2).toSeq

  /** Min-max int8 scalar quantization of an embedding column: each
    * dimension maps to a uint8 code via
    * `floor(((v − min_d) · 255) / (max_d − min_d))` (clamped to [0, 255];
    * constant dimensions code to 0). Memory: 64-dim float vectors shrink
    * 4× (256 B → 64 B) — the difference between an ANN index that fits
    * executor memory at 100 TB and one that doesn't.
    *
    * Shape: ONE stats pass (per-dim min/max — dim-count rows to the
    * driver, shipped back as plan literals), then quantization is a pure
    * per-row projection — no join, no shuffle. Every arithmetic step is
    * an IEEE-correctly-rounded double op with fixed parenthesization, so
    * external engines replay codes bit-for-bit. Returns
    * (idCol, `codes` array<int>). */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val stats = dimStats(df, vecCol)
    val mnLit = typedLit(stats.map(_._1))
    val rgLit = typedLit(stats.map { case (mn, mx) => mx - mn })
    df.select(col(idCol), transform(col(vecCol), (v, i) => {
      val mn = element_at(mnLit, i + 1)
      val rg = element_at(rgLit, i + 1)
      when(rg === 0.0, lit(0)).otherwise(
        least(greatest(
          floor(((v.cast(DoubleType) - mn) * lit(255.0)) / rg).cast(IntegerType),
          lit(0)), lit(255)))
    }).as("codes"))
  }

  /** Quantization audit: per-vector code checksum (exact long) and the
    * reconstruction MSE against the original floats, with the
    * dequantized value `min_d + (code · range_d) / 255`. The MSE folds
    * the per-dim squared errors IN ARRAY ORDER (`aggregate` is a left
    * fold), so the double sum is deterministic and SQL-replayable with
    * no sort. */
  def quantizeInt8Report(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val stats = dimStats(df, vecCol)
    val mnLit = typedLit(stats.map(_._1))
    val rgLit = typedLit(stats.map { case (mn, mx) => mx - mn })
    val codes = transform(col(vecCol), (v, i) => {
      val mn = element_at(mnLit, i + 1)
      val rg = element_at(rgLit, i + 1)
      when(rg === 0.0, lit(0)).otherwise(
        least(greatest(
          floor(((v.cast(DoubleType) - mn) * lit(255.0)) / rg).cast(IntegerType),
          lit(0)), lit(255)))
    })
    val dim = dimOf(df, vecCol)
    df.select(col(idCol), col(vecCol).as("__v"), codes.as("__codes"))
      .select(col(idCol),
        aggregate(col("__codes"), lit(0L), (acc, c) => acc + c.cast(LongType))
          .as("code_sum"),
        round(
          aggregate(
            zip_with(col("__v"),
              transform(col("__codes"), (c, i) => {
                val mn = element_at(mnLit, i + 1)
                val rg = element_at(rgLit, i + 1)
                mn + (c.cast(DoubleType) * rg) / lit(255.0)
              }),
              (v, dq) => (v.cast(DoubleType) - dq) * (v.cast(DoubleType) - dq)),
            lit(0.0), (acc, e) => acc + e) / lit(dim.toDouble), 6).as("mse"))
  }

  /** Nearest-centroid classifier confusion: train one centroid per label
    * (per-dim means, float-rounded — the q72 parity convention), assign
    * every vector to its nearest centroid by cosine, and report the
    * label×predicted confusion cells — the 30-second "are these labels
    * even linearly separable in embedding space" answer that decides
    * whether a classifier project is worth starting, and the diagonal's
    * complement names the confusable label pairs. ONE posexplode pass to
    * label×dim centroid cells (driver-small), assignment via the fused
    * [[graft.functions.NearestCentroid]] expression (constant codegen
    * size at any label count, ties to the lowest label), cells are
    * labels²-sized. Returns (label, predicted, n). */
  def labelCentroidConfusion(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val base = df.select(col(idCol), col(vecCol),
        col(labelCol).cast(LongType).as("__lbl"))
      .localCheckpoint(false)
    val perDim = base
      .select(col("__lbl"), posexplode(col(vecCol)).as(Seq("__pos", "__val")))
      .groupBy("__lbl", "__pos")
      .agg(avg(col("__val").cast(DoubleType)).as("__avg"))
      .collect()
    val cens: Seq[(Long, Seq[Float], Double)] =
      perDim.groupBy(_.getLong(0)).toSeq.map { case (l, cells) =>
        val vec = cells.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq
        var nrm = 0.0
        vec.foreach(v => nrm += v.toDouble * v.toDouble)
        (l, vec, math.sqrt(nrm))
      }.sortBy(_._1)
    assignSeq(base, cens, vecCol)
      .groupBy(col("__lbl").as("label"), col("centroid_id").as("predicted"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-dimension embedding statistics: mean and std of every
    * coordinate — the anisotropy health check run before trusting cosine
    * at all (a dominant dimension or a shifted mean makes cosine measure
    * the artifact, not the content; the cure is exactly the per-dim
    * center/scale this reports). One posexplode to the (id, dim, value)
    * frame, per-dim sufficient stats (Σv exact-ordered at gate, Σv² the
    * same; production plain sums, spec ≈ 1e-9), std from the clamped
    * variance. Dims are 1-based (the SQL ordinality convention).
    * Returns (dim, n, mean, std). */
  def dimensionStats(df: DataFrame, idCol: String, vecCol: String,
      deterministic: Boolean = false): DataFrame = {
    val base = df.select(col(idCol).as("__id"),
        posexplode(col(vecCol)).as(Seq("__d0", "__v")))
      .select(col("__id"), (col("__d0") + 1).as("dim"),
        col("__v").cast(DoubleType).as("__v"))
    val agg = base.groupBy("dim").agg(count(lit(1)).as("n"),
      Ops.foldSum(deterministic, col("__v"), col("__id")).as("__s"),
      Ops.foldSum(deterministic, col("__v") * col("__v"), col("__id"))
        .as("__s2"))
    val nD = col("n").cast(DoubleType)
    val mean = col("__s") / nD
    agg.select(col("dim"), col("n"), mean.as("mean"),
      sqrt(greatest(col("__s2") / nD - mean * mean, lit(0.0))).as("std"))
  }

  /** Matryoshka truncation quality: how much cosine structure survives
    * when embeddings are cut to their first d dimensions — the
    * measurement behind "can we serve the 8-dim prefix and re-rank with
    * the full vector" (MRL-style embeddings make the prefix meaningful;
    * this op tells you whether YOURS do). Pairs are ALL consecutive
    * id-ordered rows (deterministic, corpus-linear — n−1 pairs of
    * 64-dim dots, never quadratic) via the [[Sampling.globalRowNumber]]
    * dense index; per probe dim: mean/max |cos_full − cos_d|, the mean
    * folding pair-id-sorted on the gate path (production plain sums,
    * spec ≈ 1e-9). Degenerate zero-norm truncations drop the pair for
    * that dim (filtered identically by the oracle). Returns one row per
    * dim: (dim, n_pairs, mean_abs_err, max_abs_err). */
  def truncationQuality(df: DataFrame, idCol: String, vecCol: String,
      dims: Seq[Int], deterministic: Boolean = false): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1), "dims must be positive")
    import graft.functions.VectorOps.vector_dot
    val idx = Sampling.globalRowNumber(
        df.select(col(idCol).as("__id"), col(vecCol).as("__v")),
        "__rn", col("__id").asc)
      .localCheckpoint(false)
    val pairs = idx.select(col("__id").as("__ida"), col("__v").as("__va"),
        (col("__rn") + lit(1L)).as("__rn"))
      .join(idx.select(col("__v").as("__vb"), col("__rn")), Seq("__rn"))
      .localCheckpoint(false)
    def cosAt(d: Option[Int]): Column = {
      def cut(c: Column) = d.map(dd => slice(c, 1, dd)).getOrElse(c)
      val (a, b) = (cut(col("__va")), cut(col("__vb")))
      vector_dot(a, b) /
        (sqrt(vector_dot(a, a)) * sqrt(vector_dot(b, b)))
    }
    dims.map { d =>
      def cut(c: Column) = slice(c, 1, d)
      val ok = vector_dot(cut(col("__va")), cut(col("__va"))) > 0.0 &&
        vector_dot(cut(col("__vb")), cut(col("__vb"))) > 0.0
      val err = abs(cosAt(None) - cosAt(Some(d)))
      val base = pairs.filter(ok).select(col("__ida"), err.as("__e"))
      base.agg(count(lit(1)).as("n_pairs"),
          Ops.foldSum(deterministic, col("__e"), col("__ida")).as("__s"),
          max("__e").as("max_abs_err"))
        .select(lit(d).as("dim"), col("n_pairs"),
        (col("__s") / col("n_pairs").cast(DoubleType)).as("mean_abs_err"),
        col("max_abs_err"))
    }.reduce(_ unionByName _)
  }

  /** kNN label-noise detection (Confident-Learning-style neighborhood
    * vote): rows whose k nearest neighbors in embedding space mostly
    * carry a DIFFERENT label are mislabel candidates — the audit a
    * classifier-training pipeline runs before trusting its labels, and
    * the cheapest high-precision mislabel finder that needs no model
    * (Northcutt et al.'s cleanlab reports the same signal from
    * neighborhood agreement). Neighborhoods come from [[knnJoin]] — the
    * IVF-blocked path, never an all-pairs scan — and labels join back as
    * a key-ONLY (id, label) frame on each side of the pair list (pairs
    * are corpus×k rows, the only frame this ever aggregates). Flags rows
    * with disagreement ≥ `threshold` (an exact rational disagree/n
    * compared identically on any engine). Returns
    * (vec_id, label, n_neighbors, disagree, disagree_frac). */
  def labelNoiseReport(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int, numCentroids: Int = AutoCentroids,
      targetClusterSize: Int = 4096,
      seedHash: Column => Column = xxhash64(_),
      threshold: Double = 0.5): DataFrame = {
    require(threshold >= 0.0 && threshold <= 1.0,
      s"threshold must be in [0,1], got $threshold")
    val knn = knnJoin(df.select(col(idCol), col(vecCol)), idCol, vecCol,
      k, numCentroids, targetClusterSize, seedHash)
    val labels = df.select(col(idCol), col(labelCol)).localCheckpoint(false)
    val ql = labels.select(col(idCol).as("query_id"),
      col(labelCol).as("__ql"))
    val nl = labels.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__nl"))
    val frac = col("disagree").cast(DoubleType) /
      col("n_neighbors").cast(DoubleType)
    knn.join(graft.operators.Ops.broadcastIfSmall(ql), "query_id")
      .join(graft.operators.Ops.broadcastIfSmall(nl), "neighbor_id")
      .groupBy(col("query_id"), col("__ql"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("__nl") =!= col("__ql"), 1L).otherwise(0L))
          .as("disagree"))
      .filter(frac >= threshold)
      .select(col("query_id").as(idCol), col("__ql").as(labelCol),
        col("n_neighbors"), col("disagree"), frac.as("disagree_frac"))
  }

  /** Embedding-space source divergence: pairwise cosine + L2 distance
    * between per-group mean-embedding centroids — the embedding twin of
    * the token-level Jensen–Shannon report (q106): two crawls can share a
    * vocabulary yet sit in different semantic regions, and this is the
    * 30-second "which corpora drifted" matrix that says so.
    *
    * ONE posexplode pass to (group, dim) centroid cells — a groups×dims
    * frame, driver-small at any corpus size; centroids round to FLOAT
    * (the q72/q228 parity convention: float rounding absorbs the
    * fold-order ulps of the distributed avg) and all pairwise math runs
    * in the driver as fixed dim-ascending folds over exact
    * float→double values, so a SQL replay is bit-identical. Returns
    * (source_a, source_b, cosine, l2), groups²/2 rows, a < b. */
  def centroidDivergence(df: DataFrame, vecCol: String,
      groupCol: String): DataFrame = {
    val spark = df.sparkSession
    val perDim = df
      .select(col(groupCol).cast(StringType).as("__g"),
        posexplode(col(vecCol)).as(Seq("__pos", "__val")))
      .groupBy("__g", "__pos")
      .agg(avg(col("__val").cast(DoubleType)).as("__avg"))
      .collect()
    val cens: Seq[(String, Array[Float])] = perDim.groupBy(_.getString(0))
      .toSeq.map { case (g, cells) =>
        g -> cells.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toArray
      }.sortBy(_._1)
    def fold(a: Array[Float], b: Array[Float])(f: (Double, Double) => Double): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += f(a(i).toDouble, b(i).toDouble); i += 1 }
      s
    }
    val rows = for {
      i <- cens.indices
      j <- (i + 1) until cens.size
    } yield {
      val (ga, va) = cens(i)
      val (gb, vb) = cens(j)
      val dot = fold(va, vb)(_ * _)
      val na = math.sqrt(fold(va, va)(_ * _))
      val nb = math.sqrt(fold(vb, vb)(_ * _))
      val l2 = math.sqrt(fold(va, vb)((x, y) => (x - y) * (x - y)))
      (ga, gb, dot / (na * nb), l2)
    }
    import spark.implicits._
    rows.toDF("source_a", "source_b", "cosine", "l2")
  }

  /** MEASURED IVF recall calibration — the vector-tier twin of
    * Dedup.lshRecallAudit (q313): for a deterministic bounded query
    * sample, recall@k of the PRODUCTION [[ivfTopK]] path at each
    * `nProbe` against exact [[bruteForceTopK]] ground truth. nProbe is
    * THE recall/compute knob; this measures what each setting buys on
    * THIS corpus before anyone commits a fleet to it.
    *
    * Bounded by construction: ≤ maxQueries (require ≤ 1024) md5-ranked
    * query rows (TakeOrdered — no global sort), so the ground-truth
    * brute force is a corpus scan × a broadcast probe set, never n².
    * Counts are exact longs; recall divides once. Probing every
    * centroid (nProbe ≥ numCentroids) scans every cluster, so recall
    * is exactly 1.0 there — the spec pins that equality. Returns one
    * row per nProbe: (n_probe, n_queries, n_truth_pairs, n_hit,
    * recall). */
  def ivfRecallAudit(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, numCentroids: Int, nProbes: Seq[Int],
      maxQueries: Int = 64): DataFrame = {
    require(nProbes.nonEmpty && nProbes.forall(_ >= 1),
      "nProbes must be non-empty positive")
    require(maxQueries >= 1 && maxQueries <= 1024,
      s"maxQueries must be in [1, 1024], got $maxQueries")
    val queries = corpus
      .orderBy(Dedup.md5Hash60(col(idCol).cast(StringType)).asc,
        col(idCol).asc)
      .limit(maxQueries)
      .localCheckpoint(true)
    val nQ = queries.count()
    val truth = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(true)
    val nTruth = truth.count()
    val rows = nProbes.map { np =>
      val got = ivfTopK(corpus, queries, idCol, vecCol, k, numCentroids, np)
        .select(col("query_id"), col("neighbor_id"))
      val hits = truth.join(got, Seq("query_id", "neighbor_id"), "left_semi")
        .count()
      (np.toLong, nQ, nTruth, hits,
        if (nTruth == 0L) 0.0 else hits.toDouble / nTruth.toDouble)
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    rows.toDF("n_probe", "n_queries", "n_truth_pairs", "n_hit", "recall")
  }

  /** Int8 scalar quantization report: per-dimension max-abs symmetric
    * quantization (q_d = round(v_d/s_d·127), s_d = corpus max |v_d|) and
    * each vector's reconstruction error — the decision table for "can we
    * store the 100 TB embedding tier at 1/4 width?" (at 4× fewer bytes
    * the scan, shuffle, and cache all shrink 4×; this report says what
    * that costs in fidelity, per vector, before anyone flips the
    * format).
    *
    * Shape: ONE posexplode aggregate to the dim-cardinality scale frame
    * (map-side combined — the ivfIndex refinement idiom), scales ship as
    * a plan literal, then a pure per-row projection computes the
    * round-trip error — no second shuffle, no fold across rows (MSE is
    * per-vector, fixed parenthesization, SQL-replayable). Zero-scale
    * dimensions (constant 0 across the corpus) quantize to 0 exactly.
    * Returns (id, mse, max_abs_err, cosine_self) where cosine_self is
    * the cosine between the vector and its dequantized round-trip. */
  def scalarQuantizeReport(df: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val scales = df
      .select(posexplode(col(vecCol)).as(Seq("__pos", "__v")))
      .groupBy("__pos").agg(max(abs(col("__v").cast(DoubleType))).as("__s"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
      .map(_._2).toSeq
    require(scales.nonEmpty, "empty corpus")
    val sLit = typedLit(scales)
    // dequantized round-trip per element: rt = round(v/s·127)/127·s
    val rt = zip_with(transform(col(vecCol), v => v.cast(DoubleType)), sLit,
      (v, s) => when(s === 0.0, lit(0.0))
        .otherwise((round((v / s) * lit(127.0)) / lit(127.0)) * s))
    val vD = transform(col(vecCol), v => v.cast(DoubleType))
    df.select(col(idCol).as("id"), vD.as("__v"), rt.as("__r"))
      .select(col("id"),
        (aggregate(zip_with(col("__v"), col("__r"),
          (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x) /
          size(col("__v")).cast(DoubleType)).as("mse"),
        array_max(zip_with(col("__v"), col("__r"),
          (a, b) => abs(a - b))).as("max_abs_err"),
        (aggregate(zip_with(col("__v"), col("__r"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x) /
          (sqrt(aggregate(transform(col("__v"), a => a * a), lit(0.0),
            (acc, x) => acc + x)) *
           sqrt(aggregate(transform(col("__r"), a => a * a), lit(0.0),
             (acc, x) => acc + x)))).as("cosine_self"))
  }

  /** MEASURED quantization recall audit — [[ivfRecallAudit]]'s sibling
    * for the int8 storage question: recall@k of brute-force search OVER
    * THE DEQUANTIZED vectors vs full-precision ground truth, on the same
    * deterministic bounded query sample. Bounded by construction
    * (≤ maxQueries md5-ranked queries, corpus scan × broadcast probes).
    * Returns one row: (n_queries, n_truth_pairs, n_hit, recall). */
  def quantizationRecallAudit(corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, maxQueries: Int = 64): DataFrame = {
    require(maxQueries >= 1 && maxQueries <= 1024,
      s"maxQueries must be in [1, 1024], got $maxQueries")
    val scales = corpus
      .select(posexplode(col(vecCol)).as(Seq("__pos", "__v")))
      .groupBy("__pos").agg(max(abs(col("__v").cast(DoubleType))).as("__s"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
      .map(_._2).toSeq
    val sLit = typedLit(scales)
    val rt = zip_with(transform(col(vecCol), v => v.cast(DoubleType)), sLit,
      (v, s) => when(s === 0.0, lit(0.0))
        .otherwise(((round((v / s) * lit(127.0)) / lit(127.0)) * s)
          .cast(FloatType).cast(DoubleType)))
    val deq = corpus.select(col(idCol), rt.cast(ArrayType(FloatType))
      .as(vecCol))
    val queries = corpus
      .orderBy(Dedup.md5Hash60(col(idCol).cast(StringType)).asc,
        col(idCol).asc)
      .limit(maxQueries).localCheckpoint(true)
    val nQ = queries.count()
    val truth = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
    val nTruth = truth.count()
    val qDeq = deq.join(queries.select(col(idCol)), Seq(idCol), "left_semi")
    val got = bruteForceTopK(deq, qDeq, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = truth.join(got, Seq("query_id", "neighbor_id"), "left_semi")
      .count()
    val spark = corpus.sparkSession
    import spark.implicits._
    Seq((nQ, nTruth, hits,
      if (nTruth == 0L) 0.0 else hits.toDouble / nTruth.toDouble))
      .toDF("n_queries", "n_truth_pairs", "n_hit", "recall")
  }

  /** Hard-negative mining: per query, the top-k most-similar corpus rows
    * whose cosine falls in [lo, hi) — the embedding-training staple
    * (negatives just below the positive band are the ones that teach the
    * model; random negatives are trivially easy, near-duplicates above
    * `hi` are false negatives). Same broadcast-probe shape as
    * [[bruteForceTopK]]: corpus scan × bounded query set, band filter
    * BEFORE the per-query top-k window (rows outside the band never
    * shuffle). Excludes self-matches. Returns
    * (query_id, rank, neighbor_id, cosine). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, lo: Double, hi: Double): DataFrame = {
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    require(k >= 1, s"k must be >= 1, got $k")
    val q = withNorm(queries, idCol, vecCol, "query_id", "__qv", "__qn")
    val c = withNorm(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (vector_dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
          .as("cosine"))
      .filter(col("cosine") >= lo && col("cosine") < hi)
    rankTopK(scored, k)
  }
}
