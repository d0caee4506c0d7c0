package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed training of the quality-classifier tier (extension): binary
  * logistic regression over hashed bigram features by full-batch gradient
  * descent — the "train the filter ON the cluster, on the corpus it will
  * filter" counterpart to [[TextAnalysis.hashedLinearScore]] (which only
  * APPLIES given weights, q76).
  *
  * Shape per round (rounds are driver-sequenced, weights are a ≤(B+1)-row
  * table):
  *  1. score: the materialized (doc, bucket, cnt, y) feature frame joins
  *     the weight literal map, per-doc z folds bucket-sorted (the family's
  *     determinism idiom) → p = σ(z) → residual p−y, doc-sized frame;
  *  2. gradient: residuals join back id-keyed; per-bucket aggregate is
  *     B-bounded and map-side combined;
  *  3. update: the ≤(B+1)-row gradient collects; w ← w − η·g on the
  *     driver (exactly the k-means/IVF round pattern).
  * The feature frame is eagerly checkpointed ONCE — every round re-reads
  * the materialized blocks, never the corpus.
  *
  * Bias handling: a synthetic bucket −1 with cnt 1 on every doc — the
  * bias is then just another weight row and every fold/update treats it
  * uniformly (it sorts first in the z fold).
  *
  * `deterministic = true` folds the gradient doc-sorted so the whole
  * training run is bit-identical under any partitioning AND replayable by
  * an external SQL engine (the correctness-gate path); production leaves
  * the plain sum (last-ulp nondeterminism, ~zero cost). `hashKind` as in
  * [[Importance.featureBucket]]. */
object Training {

  /** (id, bucket, cnt) hashed-bigram features plus the synthetic bias
    * bucket −1 on every row of `df`. */
  def lrFeatures(df: DataFrame, idCol: String, textCol: String,
      buckets: Int, hashKind: String = "xxhash64"): DataFrame =
    Importance.docBucketCounts(df, idCol, textCol, buckets, hashKind)
      .unionByName(df.select(col(idCol), lit(-1L).as("bucket"), lit(1L).as("cnt")))

  /** Train; returns the final weight table (bucket, w) — bucket −1 is the
    * bias. `labelCol` must be 0/1-valued (cast to double). */
  def trainLogistic(
      df: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      buckets: Int = 256,
      rounds: Int = 3,
      learningRate: Double = 0.5,
      hashKind: String = "xxhash64",
      deterministic: Boolean = false): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = df.sparkSession
    // (id, sorted sparse feature vector, y) — checkpointed ONCE; every
    // round is a projection + one B-bounded aggregate over this frame
    val ff = df.select(col(idCol),
        Importance.featureVector(col(textCol), buckets, hashKind).as("__bc"),
        col(labelCol).cast("double").as("__y"))
      .localCheckpoint(true)
    val n = df.count().toDouble
    // gradient rows carry the bias as the family's synthetic bucket −1
    val withBias = explode(concat(col("__bc"),
      array(struct(lit(-1L).as("bucket"), lit(1L).as("cnt"))))).as("__e")
    var weights = Map.empty[Long, Double] // absent = 0.0 (bias at key −1)
    for (_ <- 1 to rounds) {
      val wArr = new Array[Double](buckets)
      weights.foreach { case (b, v) => if (b >= 0) wArr(b.toInt) = v }
      val bias = weights.getOrElse(-1L, 0.0)
      // z = ((0 + bias·1) + Σ cnt·w) in bucket order (−1 sorts first) —
      // bit-identical to the oracle's ORDER BY bucket fold, and a PURE
      // projection: no per-doc aggregate, no residual join
      val resid = ff.select(col(idCol),
        (lit(1.0) / (lit(1.0) +
          exp(-Importance.dotWeights(col("__bc"), wArr,
            lit(0.0) + lit(bias)))) - col("__y")).as("__r"),
        col("__bc"))
      val joined = resid
        .select(col(idCol).as("__id"), withBias, col("__r"))
        .select(col("__e.bucket").as("bucket"), col("__id"),
          (col("__e.cnt").cast("double") * col("__r")).as("__c"))
      val grad = joined.groupBy("bucket").agg(
        (Ops.foldSum(deterministic, col("__c"), col("__id")) / lit(n)).as("__g"))
      val g = grad.collect().map(r => r.getLong(0) -> r.getDouble(1))
      weights = g.foldLeft(weights) { case (w, (b, gb)) =>
        w + (b -> (w.getOrElse(b, 0.0) - learningRate * gb))
      }
    }
    import spark.implicits._
    weights.toSeq.sortBy(_._1).toDF("bucket", "w")
  }

  /** Distributed k-means training over an embedding column — the third
    * on-cluster trainer (tokenizer q87, classifier q96, clustering here),
    * and the standalone form of the centroid fitting [[Similarity.ivfIndex]]
    * does internally.
    *
    * Round shape: assignment is ONE projection via the fused
    * [[graft.functions.NearestCentroid]] loop — Euclidean argmin runs as
    * argmax-dot on AUGMENTED vectors (x ⊕ 1 against c ⊕ −‖c‖²/2; the
    * −‖x‖² term is cluster-independent), so k never unrolls into the
    * generated code; means are a (cluster, dim)-keyed aggregate (≤ k·d
    * groups) and the k·d-row update collects to the driver (the
    * IVF/logistic round pattern). The input projects to (id, double[])
    * ONCE, eagerly checkpointed.
    *
    * Init: the k lowest-id vectors (deterministic from data, replayable).
    * Empty clusters keep their previous centroid. `deterministic = true`
    * folds each mean id-sorted — the whole training run is then
    * bit-identical under any partitioning and an external SQL engine
    * replays every round (the q96 contract); production keeps plain avg.
    *
    * Returns (cluster, dim, value): k·d rows, dim 1-based. */
  def trainKMeans(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int = 3,
      deterministic: Boolean = false): DataFrame = {
    require(k >= 1 && rounds >= 1, s"k/rounds must be >= 1, got $k/$rounds")
    val spark = df.sparkSession
    val e = df.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__x"))
      .localCheckpoint(true)
    val dims = e.select(size(col("__x"))).first().getInt(0)
    var cens: Array[Array[Double]] = e.orderBy("__id").limit(k).collect()
      .map(_.getSeq[Double](1).toArray)
    require(cens.length == k, s"need at least $k vectors, got ${cens.length}")
    for (_ <- 1 to rounds) {
      // augmented row-major matrix: [c_1..c_d, −‖c‖²/2] per cluster —
      // bias accumulated in index order, exactly as the SQL replay folds
      val aug = new Array[Double](k * (dims + 1))
      for (c <- 0 until k) {
        var s = 0.0
        var i = 0
        while (i < dims) {
          aug(c * (dims + 1) + i) = cens(c)(i)
          s += cens(c)(i) * cens(c)(i)
          i += 1
        }
        aug(c * (dims + 1) + dims) = -(s / 2.0)
      }
      val assigned = e.select(col("__id"),
        graft.functions.VectorOps.nearest_centroid(
          concat(col("__x"), array(lit(1.0))), aug, k, dims + 1).as("__c"),
        col("__x"))
      val uns = assigned.select(col("__c"), col("__id"),
        posexplode(col("__x")).as(Seq("__d", "__v")))
      val means =
        // production takes `avg`, not a Σ, so this split is not a foldSum
        if (deterministic)
          uns.groupBy("__c", "__d").agg(
            (Ops.orderedSum(col("__v"), col("__id")) / count(lit(1))).as("__m"))
        else
          uns.groupBy("__c", "__d").agg(avg(col("__v")).as("__m"))
      val next = cens.map(_.clone())
      means.collect().foreach(r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      cens = next
    }
    import spark.implicits._
    cens.zipWithIndex.flatMap { case (c, ci) =>
      c.zipWithIndex.map { case (v, d) => (ci, d + 1, v) }
    }.toSeq.toDF("cluster", "dim", "value")
  }

  /** Top principal component of an embedding column by power iteration —
    * the direction of maximum corpus variance: the first step of
    * embedding whitening/debiasing ("all-but-the-top"), drift detection
    * between corpus snapshots, and a 1-D curriculum/diversity axis.
    *
    * Scale shape: the corpus-sized work is two aggregates — per-dim
    * means (d rows) and the covariance outer-product grid (d² rows,
    * built by CHAINED generators over each row's centered vector: no
    * self-join, no slanted shuffle; the (i,j) aggregate map-side
    * combines d² partials per task). Both collect to the driver under
    * the d ≤ 512 driver-small contract (64-dim data → 4096 rows — the
    * k-means/IVF round pattern), and the 3-round d×d eigen-iteration is
    * driver arithmetic in fixed index order, bit-replayable by an
    * external SQL engine.
    *
    * `deterministic = true` folds means and covariance id-sorted (the
    * q96/q98 gate convention); production keeps plain sums. Returns
    * (dim 1-based, pc1, eigenvalue) where eigenvalue is the final-round
    * Rayleigh estimate ‖C·v‖. */
  def topPrincipalComponent(df: DataFrame, idCol: String, vecCol: String,
      rounds: Int = 3, deterministic: Boolean = false): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = df.sparkSession
    val e = df.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__x"))
      .localCheckpoint(true)
    val n = e.count()
    require(n >= 2, s"need >= 2 vectors for a covariance, got $n")
    val dims = e.select(size(col("__x"))).first().getInt(0)
    require(dims <= 512,
      s"d=$dims: the d^2 covariance collect is driver-small only to d=512")
    val uns = e.select(col("__id"), posexplode(col("__x")).as(Seq("__d", "__v")))
    val meanAgg = uns.groupBy("__d").agg((Ops.foldSum(deterministic,
      col("__v"), col("__id")) / lit(n.toDouble)).as("__m"))
    val mu = meanAgg.collect().map(r => (r.getInt(0), r.getDouble(1)))
      .sortBy(_._1).map(_._2)
    val muLit = typedLit(mu.toSeq)
    val centered = e.select(col("__id"),
      transform(col("__x"), (v, i) => v - element_at(muLit, i + 1)).as("__c"))
    // outer-product grid by chained generators — d² rows per input row,
    // no join anywhere
    val prods = centered
      .select(col("__id"), col("__c"),
        posexplode(col("__c")).as(Seq("__i", "__ci")))
      .select(col("__id"), col("__i"), col("__ci"),
        posexplode(col("__c")).as(Seq("__j", "__cj")))
      .select(col("__id"), col("__i"), col("__j"),
        (col("__ci") * col("__cj")).as("__p"))
    val covAgg = prods.groupBy("__i", "__j").agg((Ops.foldSum(deterministic,
      col("__p"), col("__id")) / lit((n - 1).toDouble)).as("__cv"))
    val cm = Array.ofDim[Double](dims, dims)
    covAgg.collect().foreach(r => cm(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    // power iteration on the driver — d×d, fixed index order (ascending
    // j then ascending i), each step one IEEE op: SQL-replayable
    val v = Array.fill(dims)(1.0)
    var lambda = 0.0
    for (_ <- 1 to rounds) {
      val w = new Array[Double](dims)
      var i = 0
      while (i < dims) {
        var s = 0.0
        var j = 0
        while (j < dims) { s += cm(i)(j) * v(j); j += 1 }
        w(i) = s
        i += 1
      }
      var ss = 0.0
      i = 0
      while (i < dims) { ss += w(i) * w(i); i += 1 }
      lambda = math.sqrt(ss)
      require(lambda > 0.0, "zero covariance matrix — no principal direction")
      i = 0
      while (i < dims) { v(i) = w(i) / lambda; i += 1 }
    }
    import spark.implicits._
    v.zipWithIndex.map { case (x, d) => (d + 1, x, lambda) }.toSeq
      .toDF("dim", "pc1", "eigenvalue")
  }

  /** Score `df` with a trained weight table: per-doc σ(z) as a pure
    * projection — the ≤(B+1)-row weight frame collects to a dense array +
    * bias (bounded by design), and each doc folds its in-scan feature
    * vector against it. The application path for [[trainLogistic]]. */
  def scoreLogistic(df: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, buckets: Int,
      hashKind: String = "xxhash64"): DataFrame = {
    val wArr = new Array[Double](buckets)
    var bias = 0.0
    weights.select(col("bucket").cast("long"), col("w").cast("double"))
      .collect().foreach { r =>
        val b = r.getLong(0)
        if (b >= 0) wArr(b.toInt) = r.getDouble(1) else bias = r.getDouble(1)
      }
    df.select(col(idCol),
      (lit(1.0) / (lit(1.0) + exp(-Importance.dotWeights(
        Importance.featureVector(col(textCol), buckets, hashKind),
        wArr, lit(0.0) + lit(bias))))).as("score"))
  }

  /** Clustering-quality report: simplified silhouette per cluster over a
    * fresh [[trainKMeans]] run — the EVALUATION half of the clustering
    * tier (q98 trains; this says whether the clusters mean anything
    * before anyone routes curation decisions through them). Simplified
    * silhouette (Hruschka et al.): a = distance to OWN centroid, b =
    * distance to the nearest OTHER centroid, s = (b−a)/max(a,b) — the
    * centroid form of the classic score, computable without any
    * point-to-point pair work (full silhouette is inherently quadratic;
    * this is the standard corpus-scale substitute).
    *
    * Shape: centroids are a k×dims driver literal; distances come from
    * ONE posexplode join against the broadcast centroid-cell frame —
    * (corpus·k) rows keyed (id, cluster), never point×point; per-id the
    * k distances collapse via one sorted k-array (own = smallest,
    * nearest-other = second — ties to the lowest cluster, the SQL
    * (d2, cluster) order). `deterministic` folds dim-sorted /
    * id-sorted for the oracle replay; production uses plain sums.
    * Returns (cluster, n, mean_dist, mean_silhouette). */
  def clusteringQualityReport(df: DataFrame, idCol: String, vecCol: String,
      k: Int, rounds: Int = 3, deterministic: Boolean = false): DataFrame = {
    require(k >= 2, s"silhouette needs k >= 2, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val cens = trainKMeans(df, idCol, vecCol, k, rounds, deterministic)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSeq
    val cells = broadcast(cens.toDF("__c", "__dim", "__cv"))
    val e = df.select(col(idCol).as("__id"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("__d0", "__v")))
      .select(col("__id"), (col("__d0") + 1).as("__dim"), col("__v"))
    val terms = e.join(cells, Seq("__dim"))
      .select(col("__id"), col("__c"), col("__dim"),
        ((col("__v") - col("__cv")) * (col("__v") - col("__cv"))).as("__t"))
    val d2 = terms.groupBy("__id", "__c").agg(
      Ops.foldSum(deterministic, col("__t"), col("__dim")).as("__d2"))
    val perId = d2.groupBy("__id")
      .agg(sort_array(collect_list(struct(col("__d2"), col("__c"))))
        .as("__arr"))
      .select(col("__id"),
        col("__arr").getItem(0).getField("__c").as("cluster"),
        sqrt(col("__arr").getItem(0).getField("__d2")).as("__a"),
        sqrt(col("__arr").getItem(1).getField("__d2")).as("__b"))
      .withColumn("__s",
        when(greatest(col("__a"), col("__b")) === 0.0, lit(0.0))
          .otherwise((col("__b") - col("__a")) /
            greatest(col("__a"), col("__b"))))
    val nD = count(lit(1)).cast("double")
    perId.groupBy("cluster").agg(count(lit(1)).as("n"),
      (Ops.foldSum(deterministic, col("__a"), col("__id")) / nD).as("mean_dist"),
      (Ops.foldSum(deterministic, col("__s"), col("__id")) / nD)
        .as("mean_silhouette"))
  }

  /** Isotonic calibration (pool-adjacent-violators) of a score against a
    * binary outcome, on SCORE BINS: the monotone-regression companion to
    * [[Analytics.calibrationCurve]] (which reports raw per-bin rates —
    * including the non-monotone wiggles a downstream threshold picker
    * then trips over). PAV pools adjacent bins whose empirical rate
    * violates monotonicity into weighted blocks; the result is the
    * L2-optimal monotone fit to the binned rates, the standard way to
    * turn a ranking score into a usable probability.
    *
    * Shape: ONE bin-cardinality aggregate of exact longs (bin =
    * min(floor(score·bins), bins−1), scores clamped to [0,1]); PAV runs
    * on the DRIVER over ≤ `bins` rows (the stack algorithm is inherently
    * sequential and the frame is bins-bounded — the same driver-bounded
    * contract as the weight/centroid tables, Training.scala:93). Pooling
    * arithmetic is exact (block sums stay longs; the rate is one division
    * per block). Empty bins are absent from the output (no rows — not
    * fabricated zeros). Spec-gated, not SQL-oracle-gated: PAV's
    * data-dependent pooling-pass count has no fixed-depth SQL unrolling
    * (the q313 rationale); exactness is pinned by hand goldens and the
    * pooled-block invariants in the spec.
    * Returns (bin, bin_lo, n, positives, raw_rate, calibrated_rate). */
  def isotonicCalibration(df: DataFrame, scoreCol: String,
      labelCol: org.apache.spark.sql.Column, bins: Int = 20): DataFrame = {
    require(bins >= 1 && bins <= 4096,
      s"bins must be in [1, 4096], got $bins")
    val s = least(greatest(col(scoreCol).cast("double"), lit(0.0)), lit(1.0))
    val bin = least(floor(s * lit(bins.toDouble)).cast("long"),
      lit((bins - 1).toLong))
    val perBin = df.select(bin.as("bin"),
        when(labelCol, 1L).otherwise(0L).as("__y"))
      .groupBy("bin").agg(count(lit(1)).as("n"), sum("__y").as("positives"))
      .orderBy("bin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // PAV: maintain a stack of blocks (binLo, binHi, n, pos); merge while
    // the top two violate monotone nondecreasing rate (exact long compare:
    // posA·nB > posB·nA ⇔ rateA > rateB — no double thresholds)
    val stack = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long)]
    perBin.foreach { case (b, n, pos) =>
      stack += ((b, b, n, pos))
      var merging = true
      while (merging && stack.length >= 2) {
        val (l2, h2, n2, p2) = stack(stack.length - 1)
        val (l1, h1, n1, p1) = stack(stack.length - 2)
        if (p1 * n2 > p2 * n1) { // rate1 > rate2 → pool
          stack.remove(stack.length - 1)
          stack(stack.length - 1) = (l1, h2, n1 + n2, p1 + p2)
        } else merging = false
      }
    }
    val calibrated = stack.flatMap { case (lo, hi, n, pos) =>
      val rate = pos.toDouble / n.toDouble
      perBin.filter(t => t._1 >= lo && t._1 <= hi)
        .map { case (b, bn, bp) => (b, bn, bp, rate) }
    }.toSeq
    val spark = df.sparkSession
    import spark.implicits._
    calibrated.toDF("bin", "n", "positives", "calibrated_rate")
      .select(col("bin"),
        (col("bin").cast("double") / lit(bins.toDouble)).as("bin_lo"),
        col("n"), col("positives"),
        (col("positives").cast("double") / col("n").cast("double"))
          .as("raw_rate"),
        col("calibrated_rate"))
  }

  /** Brier score + Murphy decomposition: the proper-scoring-rule audit
    * for a probability scorer — raw Brier = mean (s−y)², split over
    * score bins into reliability (calibration error, lower better),
    * resolution (discrimination, higher better), and uncertainty
    * (label-base-rate entropy, fixed by the data):
    * Brier = REL − RES + UNC + within-bin score variance. REL tracks
    * [[Analytics.calibrationCurve]]'s ECE but squared/decomposable; the
    * within-bin remainder is reported as its own column so the identity
    * is checkable in the output.
    *
    * Exactness: scores clamp to [0,1] and micro-scale to longs
    * (round(s·1e6)); per-row (sᵢ−yᵢ)² fits a long, corpus sums ride
    * DECIMAL(38,0) (the q229 convention) — the raw Brier is exact
    * integer arithmetic until ONE division and fully order-independent.
    * Per-bin score sums are the same exact integers, so conf_b is
    * exact-rational; REL/RES fold bin-ascending over the ≤bins frame on
    * the DRIVER (bins ≤ 4096 — the driver-bounded contract). Returns
    * per-bin rows (bin, n, positives, conf, acc) + constants
    * (brier, reliability, resolution, uncertainty, within_bin_var). */
  def brierDecomposition(df: DataFrame, scoreCol: String,
      labelCol: org.apache.spark.sql.Column, bins: Int = 10): DataFrame = {
    require(bins >= 1 && bins <= 4096,
      s"bins must be in [1, 4096], got $bins")
    val M = 1000000L
    val s = least(greatest(col(scoreCol).cast("double"), lit(0.0)), lit(1.0))
    val si = round(s * lit(M.toDouble)).cast("long")
    val yi = when(labelCol, lit(M)).otherwise(lit(0L))
    val bin = least(floor(s * lit(bins.toDouble)).cast("long"),
      lit((bins - 1).toLong))
    val perBin = df
      .select(bin.as("bin"), si.as("__si"), yi.as("__yi"))
      .withColumn("__d", col("__si") - col("__yi"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__yi") === M, 1L).otherwise(0L)).as("positives"),
        sum(col("__si").cast("decimal(38,0)")).as("__ssum"),
        sum((col("__d").cast("decimal(19,0)") *
          col("__d").cast("decimal(19,0)")).cast("decimal(38,0)"))
          .as("__sqe"))
      .orderBy("bin")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        BigDecimal(r.getDecimal(3)), BigDecimal(r.getDecimal(4))))
    require(perBin.nonEmpty, "no rows")
    val nTot = perBin.map(_._2).sum
    val posTot = perBin.map(_._3).sum
    val mD = M.toDouble
    val nD = nTot.toDouble
    // raw Brier: exact integer sum, ONE division
    val brier = perBin.map(_._5).sum.toDouble / ((mD * mD) * nD)
    val ybar = posTot.toDouble / nD
    // bin-ascending folds over the ≤bins frame, fixed parenthesization
    var rel = 0.0; var res = 0.0
    val rows = perBin.map { case (b, n, pos, ssum, _) =>
      val nb = n.toDouble
      val conf = ssum.toDouble / (mD * nb)
      val acc = pos.toDouble / nb
      rel += (nb / nD) * ((conf - acc) * (conf - acc))
      res += (nb / nD) * ((acc - ybar) * (acc - ybar))
      (b, n, pos, conf, acc)
    }
    val unc = ybar * (1.0 - ybar)
    val spark = df.sparkSession
    import spark.implicits._
    rows.toSeq.toDF("bin", "n", "positives", "conf", "acc")
      .select(col("*"), lit(brier).as("brier"), lit(rel).as("reliability"),
        lit(res).as("resolution"), lit(unc).as("uncertainty"),
        lit(brier - ((rel - res) + unc)).as("within_bin_var"))
  }

  /** Split-conformal prediction interval: from a CALIBRATION split's
    * absolute residuals |actual − pred|, the half-width q̂ such that
    * pred ± q̂ covers a fresh point with probability ≥ 1−α —
    * distribution-free, model-agnostic, finite-sample (the guarantee is
    * the rank, not any fit). q̂ is the ⌈(n+1)(1−α)⌉-th smallest
    * nonconformity — an EXACT order statistic (a data element, no
    * interpolation) via [[Analytics.discreteQuantilesPerGroup]]'s pruned
    * rank machinery (the target rank k maps to probe q = (k−½)/n, whose
    * ⌈q·n⌉ = k with a 0.5 fp margin). The empirical coverage of q̂ on a
    * disjoint TEST split rides one exact-count aggregate beside it.
    * The residual is |·| of a double difference — comparisons only
    * thereafter, so the order statistic is engine-exact. Requires
    * n_cal ≥ 1; k clamps to n (α below 1/(n+1) saturates at the max).
    * Returns one row (n_cal, alpha, k, qhat, n_test, covered, coverage). */
  def conformalInterval(cal: DataFrame, test: DataFrame, idCol: String,
      predCol: String, actualCol: String, alpha: Double = 0.1): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    def resid(d: DataFrame) = d.select(col(idCol),
      abs(col(actualCol).cast("double") - col(predCol).cast("double"))
        .as("__r"))
    val calR = resid(cal).localCheckpoint(false)
    val n = calR.count()
    require(n > 0L, "conformalInterval needs a non-empty calibration split")
    val k = math.min(n,
      math.ceil((n + 1).toDouble * (1.0 - alpha)).toLong)
    val q = (k.toDouble - 0.5) / n.toDouble
    // NB: "__g" is reserved inside discreteQuantilesPerGroup's target join
    val qhat = Analytics.discreteQuantilesPerGroup(
        calR.withColumn("__grp", lit("all")), "__grp", idCol, "__r", Seq(q))
      .select("value").first().getDouble(0)
    val t = resid(test).agg(count(lit(1)).as("n_test"),
      sum(when(col("__r") <= qhat, 1L).otherwise(0L)).as("covered")).first()
    val (nTest, covered) = (t.getLong(0), t.getLong(1))
    val spark = cal.sparkSession
    import spark.implicits._
    Seq((n, alpha, k, qhat, nTest, covered)).toDF(
        "n_cal", "alpha", "k", "qhat", "n_test", "covered")
      .select(col("*"),
        when(lit(nTest) === 0L, lit(null).cast("double"))
          .otherwise(lit(covered.toDouble / nTest.toDouble)).as("coverage"))
  }

  /** Bradley–Terry strengths from pairwise preferences — the standard
    * model for "which response/source/variant wins head-to-head" data
    * (RLHF preference pairs, interleaving experiments, model arenas):
    * P(i beats j) = θᵢ/(θᵢ+θⱼ), fit by the MM algorithm
    * θᵢ ← Wᵢ / Σⱼ nᵢⱼ/(θᵢ+θⱼ), normalized each round to Σθ = n_items.
    *
    * Shape per round (driver-sequenced, the pageRank/k-means pattern):
    * the symmetric pair-count frame (i, j, nᵢⱼ) — built ONCE from one
    * aggregate over the duel stream — joins the item-cardinality θ frame
    * twice (broadcast-gated); the per-item denominator folds
    * opponent-sorted on the gate path (`deterministic = true`; bounded
    * by the item cardinality), plain map-side sum in production; the
    * normalizer folds item-sorted the same way. Wᵢ and nᵢⱼ are exact
    * longs. Self-matches are dropped (no information). Items with zero
    * wins converge to θ = 0 — their zero-zero pair terms divide to
    * ±∞/0-safe zeros (wins 0 forces raw 0 regardless). Returns
    * (item, wins, theta). */
  def bradleyTerry(df: DataFrame, winnerCol: String, loserCol: String,
      rounds: Int = 5, deterministic: Boolean = false): DataFrame =
    bradleyTerryFromCounts(
      df.select(col(winnerCol).cast("string").as("__w"),
          col(loserCol).cast("string").as("__l"))
        .filter(col("__w") =!= col("__l"))
        .groupBy("__w", "__l").agg(count(lit(1)).as("__c")),
      "__w", "__l", "__c", rounds, deterministic)

  /** [[bradleyTerry]] from PRE-AGGREGATED (winner, loser, count) rows —
    * the refit entry point for incrementally-maintained duel counts
    * (the [[graft.streaming.Streaming.streamingPreferenceIngest]] cell:
    * pair counts are a plain mergeable sum, so the persisted state is
    * exactly this frame and history is never rescanned). Same MM shape,
    * exactness, and determinism contract as [[bradleyTerry]];
    * self-pairs are dropped here too. */
  def bradleyTerryFromCounts(counts: DataFrame, winnerCol: String,
      loserCol: String, countCol: String, rounds: Int = 5,
      deterministic: Boolean = false): DataFrame = {
    require(rounds >= 1 && rounds <= 20,
      s"rounds must be in [1, 20], got $rounds")
    val wins = counts
      .select(col(winnerCol).cast("string").as("__w"),
        col(loserCol).cast("string").as("__l"),
        col(countCol).cast("long").as("__c0"))
      .filter(col("__w") =!= col("__l"))
      .groupBy("__w", "__l").agg(sum("__c0").as("__c"))
      .localCheckpoint(true)
    val pairs = wins.select(col("__w").as("__i"), col("__l").as("__j"),
        col("__c"))
      .unionByName(wins.select(col("__l").as("__i"), col("__w").as("__j"),
        col("__c")))
      .groupBy("__i", "__j").agg(sum("__c").as("__n"))
      .localCheckpoint(true)
    val w = wins.groupBy(col("__w").as("__i")).agg(sum("__c").as("__wins"))
    val items = pairs.select(col("__i")).distinct()
      .join(w, Seq("__i"), "left")
      .select(col("__i"), coalesce(col("__wins"), lit(0L)).as("__wins"))
      .localCheckpoint(true)
    val nItems = items.count()
    require(nItems >= 2, s"need >= 2 items with matches, got $nItems")
    var theta = items.select(col("__i"), lit(1.0).as("__th"))
      .localCheckpoint(true)
    (1 to rounds).foreach { _ =>
      val termed = pairs
        .join(graft.operators.Ops.broadcastIfSmall(theta), Seq("__i"))
        .join(graft.operators.Ops.broadcastIfSmall(
          theta.select(col("__i").as("__j"), col("__th").as("__thj"))),
          Seq("__j"))
        .select(col("__i"), col("__j"),
          (col("__n").cast("double") / (col("__th") + col("__thj")))
            .as("__t"))
      val d = termed.groupBy("__i")
        .agg(Ops.foldSum(deterministic, col("__t"), col("__j")).as("__d"))
      val raw = items.join(d, Seq("__i"), "left")
        .select(col("__i"),
          when(col("__d").isNull || col("__d") === 0.0, lit(0.0))
            .otherwise(col("__wins").cast("double") / col("__d"))
            .as("__raw"))
        .localCheckpoint(true)
      val tot = raw.agg(Ops.foldSum(deterministic, col("__raw"), col("__i")))
        .first().getDouble(0)
      theta = raw.select(col("__i"),
        ((col("__raw") * lit(nItems.toDouble)) / lit(tot)).as("__th"))
        .localCheckpoint(true)
    }
    items.join(theta, Seq("__i"))
      .select(col("__i").as("item"), col("__wins").as("wins"),
        col("__th").as("theta"))
  }
}
