package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bounded-memory frequency sketches for corpus-scale term statistics
  * (extension — the reference has no sketch surface; this is the standard
  * companion to the heavy-hitter / vocabulary tier of a training-data
  * pipeline, where an exact (term, count) aggregate over n-gram keys is
  * itself a multi-TB shuffle).
  *
  * Count-Min sketch (Cormode & Muthukrishnan 2005): a depth×width grid of
  * counters; every occurrence of a term increments one counter per hash
  * row; a point estimate is the MIN over the term's cells — always an
  * over-estimate (collisions only add), with ε ≈ e/width of the total
  * mass at δ ≈ exp(−depth) failure probability.
  *
  * Spark shape: the grid IS a `groupBy(row, bucket).sum` — partial
  * aggregation bounds per-task state at depth·width counters (the sketch's
  * bounded-memory property falls out of map-side combine), and the final
  * sketch is a ≤ depth·width-row frame that BROADCASTS to any probe join.
  * The md5-prefix bucket hash keeps every cell value replayable in an
  * external SQL engine (same idiom as [[Dedup.md5Hash60]] elsewhere).
  */
object Sketches {

  /** Bucket of `term` under hash row `row`: md5-60 of "row:term" mod
    * `width` — deterministic, SQL-replayable, independent across rows. */
  def cmsBucket(term: Column, row: Int, width: Int): Column =
    pmod(Dedup.md5Hash60(concat_ws(":", lit(row), term)), lit(width.toLong))

  private def cellsFor(term: Column, depth: Int, width: Int): Column =
    explode(array((0 until depth).map(i =>
      struct(lit(i).as("row"), cmsBucket(term, i, width).as("bucket"))): _*))

  /** Build the sketch from a pre-aggregated (term, count) frame — the
    * depth-fold expansion then runs over the vocabulary-sized frame, not
    * the raw token stream. Output: (row, bucket, cnt), ≤ depth·width rows
    * (cells no term hashed into are absent ⇒ implicitly zero). */
  def cmsSketch(tf: DataFrame, termCol: String, cntCol: String,
      depth: Int, width: Int): DataFrame = {
    require(depth > 0 && width > 0, s"depth/width must be positive, got $depth x $width")
    tf.select(col(cntCol).as("__c"), cellsFor(col(termCol), depth, width).as("rb"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(sum("__c").as("cnt"))
  }

  /** Point estimates for probe terms: min over the term's `depth` cells;
    * absent cells read 0 (a term the sketch never saw estimates 0, not
    * null). The sketch side is explicitly broadcast — it is ≤ depth·width
    * rows by construction, so the probe side never shuffles. */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, termCol: String,
      depth: Int, width: Int): DataFrame =
    probes.select(col(termCol), cellsFor(col(termCol), depth, width).as("rb"))
      .select(col(termCol), col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .join(broadcast(sketch), Seq("row", "bucket"), "left")
      .groupBy(col(termCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))

  /** Whitespace-token frequencies of a text column — the shared tokenizer
    * of the dedup/ranking family; (term, cnt), vocabulary-sized. */
  def termCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(Dedup.tokensCol(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("cnt"))

  /** Heavy-hitter candidates over a text column: every term whose sketch
    * estimate reaches `minCount`, with its exact count alongside.
    * Guarantees: est ≥ cnt always (CMS never under-counts), so the output
    * is a SUPERSET of the true heavy hitters — the standard
    * sketch-then-verify contract (the exact column here is the verify).
    * Output: (term, cnt, est), est ≥ minCount.
    *
    * The term-count frame feeds three plan branches (sketch build, probe
    * set, exact-count join) — it is vocabulary-sized, so one eager
    * localCheckpoint pins it and the corpus is scanned exactly ONCE. */
  def cmsHeavyHitters(df: DataFrame, textCol: String,
      depth: Int, width: Int, minCount: Long): DataFrame =
    hhFromCounts(termCounts(df, textCol).localCheckpoint(true),
      depth, width, minCount)

  /** [[cmsHeavyHitters]] with the threshold as a fraction of total token
    * mass: minCount = total / divisor (integer division — replayable).
    * The total reads off the checkpointed term counts, not a second
    * corpus scan. */
  def cmsHeavyHittersByTotalFraction(df: DataFrame, textCol: String,
      depth: Int, width: Int, divisor: Long): DataFrame = {
    require(divisor > 0, s"divisor must be positive, got $divisor")
    val tf = termCounts(df, textCol).localCheckpoint(true)
    val totRow = tf.agg(sum("cnt")).first()
    val total = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
    hhFromCounts(tf, depth, width, total / divisor)
  }

  private def hhFromCounts(tf: DataFrame, depth: Int, width: Int,
      minCount: Long): DataFrame = {
    val sketch = cmsSketch(tf, "term", "cnt", depth, width)
    tf.join(cmsEstimate(sketch, tf, "term", depth, width), Seq("term"))
      .filter(col("est") >= minCount)
      .select(col("term"), col("cnt"), col("est"))
  }

  // ── HyperLogLog (Flajolet et al. 2007) ────────────────────────────────
  //
  // Deterministic md5-based variant: the register grid is a
  // groupBy(group, bucket).max(rho) — m-bounded per group, map-side
  // combined, MERGEABLE by construction (max of maxes) — and every
  // register value is a pure integer function of the md5-60 hash, so an
  // external SQL engine replays the whole sketch bit-for-bit (unlike
  // engine-native approx_count_distinct, whose hash is private).

  /** Position of the leftmost 1-bit counted over a `width`-bit field,
    * plus 1; an all-zero field reads width+1 (standard HLL ρ). Built as a
    * descending threshold CASE — exact integer comparisons, no log2 (JVM
    * Math.log-based log2 is off-by-ulp AT powers of two, which is every
    * boundary this function cares about). */
  private[graft] def hllRho(v: Column, width: Int): Column = {
    val first = when(v >= lit(1L << (width - 1)), lit(1))
    (2 to width).foldLeft(first) { (acc, k) =>
      acc.when(v >= lit(1L << (width - k)), lit(k))
    }.otherwise(lit(width + 1))
  }

  private def log2i(m: Int): Int = {
    require(m >= 16 && (m & (m - 1)) == 0, s"m must be a power of two >= 16, got $m")
    java.lang.Integer.numberOfTrailingZeros(m)
  }

  /** HLL registers of `valueCol` per group: (group…, bucket, M) with
    * M = max ρ — at most m rows per group. Low hash bits pick the bucket,
    * the remaining 60−log2(m) bits feed ρ (bit ops only: the 60-bit hash
    * does not survive a double cast). */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], valueCol: String,
      m: Int): DataFrame = {
    val b = log2i(m)
    val h = Dedup.md5Hash60(col(valueCol))
    df.select((groupCols.map(col) :+
        (h.bitwiseAND(lit((m - 1).toLong))).as("bucket") :+
        hllRho(shiftright(h, b), 60 - b).as("rho")): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("rho")).as("M"))
  }

  /** HLL distinct-count estimate per group: (group…, est).
    * E = α_m·m²/Z with Z = Σ_j 2^−M_j (absent registers contribute 2⁰),
    * and the standard small-range correction E ≤ 2.5m ∧ V>0 →
    * m·ln(m/V). The Z fold is register-sorted (the family idiom), so the
    * double is bit-identical under any partitioning — and replayable. */
  def hllEstimate(df: DataFrame, groupCols: Seq[String], valueCol: String,
      m: Int = 256): DataFrame =
    hllEstimateFromRegisters(hllRegisters(df, groupCols, valueCol, m),
      groupCols, m)

  /** Estimate from a pre-built register frame (group…, bucket, M) — the
    * entry point for merged/persisted registers (e.g. the streaming
    * ingest), where the raw values are long gone. */
  def hllEstimateFromRegisters(regs: DataFrame, groupCols: Seq[String],
      m: Int): DataFrame = {
    log2i(m) // validates m
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    val z = col("__z") + (lit(m.toDouble) - col("__cnt"))
    val rawE = alpha * lit((m.toLong * m).toDouble) / z
    val v0 = lit(m.toDouble) - col("__cnt")
    regs
      .groupBy(groupCols.map(col): _*)
      .agg(Ops.orderedSum(pow(lit(2.0), -col("M").cast("double")), col("bucket"))
          .as("__z"),
        count(lit(1)).as("__cnt"))
      .select((groupCols.map(col) :+
        when(rawE <= lit(2.5 * m) && v0 > lit(0.0),
          lit(m.toDouble) * log(lit(m.toDouble) / v0))
          .otherwise(rawE).as("est")): _*)
  }

  /** Estimate from a WIDE register frame (group…, <prefix>0..<prefix>{m−1})
    * where value 0 encodes an ABSENT register (ρ ≥ 1 for every present
    * value by [[hllRho]]'s construction, so 0 is unambiguous).
    * BIT-IDENTICAL to [[hllEstimateFromRegisters]] on the equivalent row
    * frame: the Z fold there adds the present buckets' 2^−M terms in
    * bucket-ascending order starting from 0.0, then one (m − cnt) tail
    * term for the absent registers. This fold walks ALL m columns in the
    * same ascending order adding literal 0.0 for absent ones — and
    * x + 0.0 == x bitwise for every non-negative IEEE double, so the
    * partial sums match term for term; the tail term and the small-range
    * correction are verbatim. (Spec: SketchesSpec "wide-register estimate
    * is bit-identical"; also verified live over 3 HyperBall rounds.)
    * No groupBy: the frame is already one row per group. */
  def hllEstimateFromWideRegisters(regs: DataFrame, groupCols: Seq[String],
      m: Int, prefix: String): DataFrame = {
    log2i(m) // validates m
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    val acc = (0 until m).foldLeft(lit(0.0)) { (a, j) =>
      a + when(col(s"$prefix$j") > lit(0),
        pow(lit(2.0), -col(s"$prefix$j").cast("double"))).otherwise(lit(0.0))
    }
    val cnt = (0 until m).map(j =>
      when(col(s"$prefix$j") > lit(0), lit(1L)).otherwise(lit(0L)))
      .reduce(_ + _)
    val v0 = lit(m.toDouble) - cnt.cast("double")
    val z = acc + v0
    val rawE = alpha * lit((m.toLong * m).toDouble) / z
    regs.select((groupCols.map(col) :+
      when(rawE <= lit(2.5 * m) && v0 > lit(0.0),
        lit(m.toDouble) * log(lit(m.toDouble) / v0))
        .otherwise(rawE).as("est")): _*)
  }

  /** Rolling-window distinct counts — "distinct users over the trailing
    * `windowDays` days, every day" — via HLL register MERGE: daily
    * registers build once (m rows per day, the only state the raw stream
    * leaves behind), each day's registers fan out to the `windowDays`
    * output days they cover, and the window merge is a plain
    * `max(M)` per (day, bucket) — mergeability is the whole point: no
    * day is ever re-scanned, and the same daily registers serve ANY
    * window length. Only days that actually have events report.
    * Returns (day, est). */
  def hllRollingDistinct(df: DataFrame, tsCol: String, valueCol: String,
      m: Int = 256, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val daily = hllRegisters(
      df.select(date_trunc("day", col(tsCol)).cast("date").as("__day"),
        col(valueCol)),
      Seq("__day"), valueCol, m)
      .localCheckpoint(true) // days×m rows; read by contrib AND presentDays
    val contrib = daily.select(
      explode(sequence(col("__day"),
        date_add(col("__day"), windowDays - 1))).as("day"),
      col("bucket"), col("M"))
    val merged = contrib.groupBy("day", "bucket").agg(max(col("M")).as("M"))
    val present = daily.select(col("__day").as("day")).distinct()
    hllEstimateFromRegisters(merged.join(present, Seq("day")), Seq("day"), m)
  }

  /** Audience overlap via HLL inclusion–exclusion: distinct counts of
    * two sets, their union (register MERGE — max per bucket, the
    * mergeability that makes this free), the implied intersection
    * |A| + |B| − |A∪B|, and the Jaccard estimate — "how much do these
    * two audiences/corpora overlap?" at sketch cost, no join between
    * the raw sets ever happens. Intersection error compounds (the
    * standard HLL-overlap caveat: three ±1.04/√m estimates subtract),
    * so small true overlaps can read slightly negative — clamped at 0,
    * the convention every sketch-overlap system uses. Returns one row
    * (est_a, est_b, est_union, est_intersection, jaccard). */
  def hllOverlap(a: DataFrame, b: DataFrame, valueCol: String,
      m: Int = 256): DataFrame = {
    val ra = hllRegisters(a.select(lit("a").as("__s"), col(valueCol)),
      Seq("__s"), valueCol, m)
    val rb = hllRegisters(b.select(lit("b").as("__s"), col(valueCol)),
      Seq("__s"), valueCol, m)
    val ru = ra.unionByName(rb)
      .groupBy("bucket").agg(max(col("M")).as("M"))
      .withColumn("__s", lit("u"))
    val ests = hllEstimateFromRegisters(
        ra.unionByName(rb).unionByName(ru.select("__s", "bucket", "M")),
        Seq("__s"), m)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val (ea, eb, eu) = (ests("a"), ests("b"), ests("u"))
    val inter = math.max(0.0, (ea + eb) - eu)
    val spark = a.sparkSession
    import spark.implicits._
    Seq((ea, eb, eu, inter, if (eu > 0.0) inter / eu else 0.0))
      .toDF("est_a", "est_b", "est_union", "est_intersection", "jaccard")
  }

  /** [[hllOverlap]] next to the EXACT overlap, in one report — the
    * sketch-error audit run once per domain before trusting the sketch
    * numbers everywhere: exact |A|, |B|, |A∩B| (distinct frames + one
    * key-width semi-join — the thing the sketch exists to avoid at
    * 100 TB, affordable as a calibration run) beside the register
    * estimates and their relative errors. Returns one row
    * (exact_a, exact_b, exact_intersection, est_a, est_b,
    * est_intersection, rel_err_a, rel_err_b). */
  def hllOverlapAudit(a: DataFrame, b: DataFrame, valueCol: String,
      m: Int = 256): DataFrame = {
    val da = a.select(col(valueCol)).distinct().localCheckpoint(false)
    val db = b.select(col(valueCol)).distinct().localCheckpoint(false)
    val (ea, eb) = (da.count(), db.count())
    val ei = da.join(db, Seq(valueCol), "left_semi").count()
    val est = hllOverlap(a, b, valueCol, m).first()
    val (ha, hb, hi) = (est.getDouble(0), est.getDouble(1), est.getDouble(3))
    val spark = a.sparkSession
    import spark.implicits._
    Seq((ea, eb, ei, ha, hb, hi,
        if (ea > 0) (ha - ea.toDouble) / ea.toDouble else 0.0,
        if (eb > 0) (hb - eb.toDouble) / eb.toDouble else 0.0))
      .toDF("exact_a", "exact_b", "exact_intersection", "est_a", "est_b",
        "est_intersection", "rel_err_a", "rel_err_b")
  }

  // ── KMV quantile sketch ────────────────────────────────────────────────

  /** Bottom-k (KMV) sample: the `k` rows with the SMALLEST deterministic
    * priority h60(id:seed) — a uniform random sample that is a pure
    * function of (id, seed) and, crucially, MERGEABLE: bottom-k of a
    * union ≡ bottom-k of the concatenated per-part bottom-k's (the min-k
    * lattice), so shards/days/batches each keep k rows and any subset of
    * them re-merges into a valid sample of their union. Completes the
    * sketch triad: CMS = heavy hitters, HLL = distinct, KMV = quantiles.
    * Plan: TakeOrderedAndProject (sort+limit), never a global sort.
    * Returns (id, value, priority). */
  def kmvSample(df: DataFrame, idCol: String, valueCol: String,
      k: Int, seed: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.select(col(idCol), col(valueCol),
      Dedup.md5Hash60(concat(col(idCol).cast("string"), lit(":"),
        lit(seed.toString))).as("priority"))
      .orderBy(col("priority").asc, col(idCol).asc)
      .limit(k)
  }

  /** Per-group bottom-k (KMV) sample: [[kmvSample]] for EVERY group in
    * one pass — k-row uniform samples of each source/segment, mergeable
    * per group under the same min-k lattice. Rides the range-pruned
    * per-(range, group) rank core (never a corpus-wide per-key window);
    * the hash priority is a pure function of (id, seed).
    * Returns (group, id, value, priority). */
  def kmvSamplePerGroup(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, k: Int, seed: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val base = df.select(col(groupCol).as("group"), col(idCol).as("id"),
        col(valueCol).cast("double").as("value"))
      .withColumn("priority", Dedup.md5Hash60(concat(
        col("id").cast("string"), lit(":"), lit(seed.toString))))
      .localCheckpoint(false)
    val picked = Sampling.topKPerGroup(
      base.withColumn("__negp", -col("priority")),
      "group", "id", "__negp", k)
    base.join(picked.select("group", "id"), Seq("group", "id"), "left_semi")
  }

  /** Per-group quantile ESTIMATES from [[kmvSamplePerGroup]]'s output:
    * for each (group, q), the group's sample value at ascending rank
    * max(1, ceil(q·m)) — the discrete order-statistic convention on the
    * groups×k-bounded sample frame (the in-sample window is bounded by
    * construction). Returns (group, q, est, sample_size). */
  def kmvQuantilesPerGroup(sample: DataFrame, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      "qs must be quantiles in [0,1]")
    import org.apache.spark.sql.expressions.Window
    val ranked = sample.select(col("group"), col("id"), col("value"))
      .withColumn("__rk", row_number().over(Window.partitionBy("group")
        .orderBy(col("value").asc, col("id").asc)))
      .withColumn("__m", count(lit(1)).over(Window.partitionBy("group")))
    val spark = sample.sparkSession
    import spark.implicits._
    ranked.join(broadcast(qs.toDF("q")),
        col("__rk") === greatest(lit(1L),
          ceil(col("q") * col("__m")).cast("long")))
      .select(col("group"), col("q"), col("value").as("est"),
        col("__m").as("sample_size"))
  }

  /** Misra–Gries candidate pass: one scan, O(k) state PER PARTITION,
    * ≤ k candidate rows emitted per partition (plus one null-item row
    * carrying the partition's element count, so the caller gets n from
    * the same scan). Genuine per-partition imperative state — the one
    * shape the declarative API can't express without shuffling the full
    * item cardinality, which is exactly what MG exists to avoid.
    *
    * Superset guarantee (why the recount in [[mgHeavyHitters]] is exact):
    * within a partition, MG with k counters retains every item whose
    * partition count exceeds n_p/k. If an item's GLOBAL count exceeds
    * n/k = Σ_p n_p/k, some partition has count_p > n_p/k (else the sum
    * is ≤ n/k) — so every global heavy hitter survives in ≥ 1 partition's
    * candidate set. Nulls are dropped (no identity to report). */
  private[operators] def mgCandidates(items: DataFrame, k: Int): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._
    items.as[String].mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      var np = 0L
      while (it.hasNext) {
        val x = it.next()
        np += 1L
        m.get(x) match {
          case Some(c) => m.update(x, c + 1L)
          case None =>
            if (m.size < k) m.update(x, 1L)
            else {
              // decrement-all; O(k) amortized over the k arrivals it absorbs
              val dead = List.newBuilder[String]
              m.foreachEntry { (key, c) =>
                if (c == 1L) dead += key else m.update(key, c - 1L)
              }
              dead.result().foreach(m.remove)
            }
        }
      }
      m.keysIterator.map(key => (key, 0L)) ++ Iterator((null: String, np))
    }.toDF("item", "__np")
  }

  /** EXACT heavy hitters (items with global count > n/k) at bounded
    * memory and bounded shuffle — the classic two-pass Misra–Gries:
    * pass 1 emits ≤ k candidates per partition (superset proof on
    * [[mgCandidates]]); pass 2 recounts ONLY the candidates (broadcast
    * semi-join — candidate-cardinality shuffle, never vocab-cardinality)
    * and keeps `cnt·k > n` (integer compare, no double threshold).
    * Output is therefore EXACTLY the true heavy-hitter set with exact
    * counts, independent of partitioning and candidate-set noise — a
    * plain GROUP BY/HAVING oracle replays it, while the engine never
    * shuffles the full item cardinality the way that oracle would.
    * Complements [[cmsHeavyHitters]] (approximate counts, one pass,
    * no second scan) when exactness is worth the extra scan.
    * Returns (item, cnt), null items dropped. */
  def mgHeavyHitters(df: DataFrame, itemCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val items = df.select(col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)
    // small frame (≤ (k+1)·partitions rows) — eager checkpoint so the
    // candidate scan runs ONCE (n and candidates both read it)
    val cand = mgCandidates(items, k).localCheckpoint(true)
    val n = cand.agg(coalesce(sum("__np"), lit(0L))).first().getLong(0)
    val candidates = cand.filter(col("item").isNotNull)
      .select("item").distinct()
    items.join(broadcast(candidates), Seq("item"), "left_semi")
      .groupBy("item").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(k.toLong) > lit(n))
  }

  /** Merge bottom-k samples (outputs of [[kmvSample]] under the SAME
    * seed): union, keep the k smallest priorities. The union is
    * parts×k rows — driver-bounded however many parts merge. */
  def kmvMergeSamples(parts: Seq[DataFrame], idCol: String,
      k: Int): DataFrame = {
    require(parts.nonEmpty, "need at least one part")
    parts.reduce(_ unionByName _)
      .dropDuplicates("priority", idCol) // re-merged overlapping shards
      .orderBy(col("priority").asc, col(idCol).asc)
      .limit(k)
  }

  /** Quantile ESTIMATES from a bottom-k sample: for each q, the sample
    * value at ascending rank max(1, ceil(q·m)) (m = sample size) — the
    * same discrete order-statistic convention as the exact
    * `Analytics.discreteQuantilesPerGroup`, evaluated on k rows instead
    * of the corpus. Error is the standard KMV/bottom-k sampling bound
    * (≈ 1/√k on ranks); the estimate is DETERMINISTIC given (seed, k).
    * Returns (q, est, sample_size). */
  def kmvQuantiles(sample: DataFrame, valueCol: String,
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      "qs must be quantiles in [0,1]")
    import org.apache.spark.sql.expressions.Window
    // the sample is ≤ k rows — a single-partition window over it is the
    // intended shape (coalesce(1) makes that explicit, not accidental)
    val ranked = sample.coalesce(1).select(col(valueCol),
        row_number().over(Window.orderBy(col(valueCol).asc,
          col("priority").asc)).as("__rk"),
        count(lit(1)).over(Window.partitionBy()).as("__m"))
    val spark = sample.sparkSession
    import spark.implicits._
    val qf = qs.toDF("q")
    ranked.join(broadcast(qf),
        col("__rk") === greatest(lit(1L),
          ceil(col("q") * col("__m")).cast("long")))
      .select(col("q"), col(valueCol).as("est"), col("__m").as("sample_size"))
  }
}
