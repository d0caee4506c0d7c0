package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-profiling and data-quality diagnostics — the "look before you
  * load" tier of a large-scale pipeline. Before 100 TB of parquet is
  * joined, deduped, or trained on, three questions decide every
  * downstream plan choice: what is IN each column (profile), does the
  * data satisfy its contract (constraint checks), and how skewed are the
  * keys about to be shuffled (skew report — the input to the
  * salt-or-broadcast decision `Analytics.saltedJoin` implements).
  *
  * The reference pipeline (gluestick) has no profiling surface; its
  * implicit contract checks live inside readers (catalog dtype coercion,
  * reference/gluestick/reader.py:60-118) and snapshot key handling. Here
  * they are first-class, scan-shaped operators:
  *
  *  - [[profileTable]]: ONE full scan, no shuffle except the final
  *    single-row aggregate. Exact distinct counts expand the scan k-fold
  *    (Spark's multi-count-distinct Expand) — that is the ORACLE path;
  *    production passes `exactDistinct = false` and gets
  *    approx_count_distinct (HLL++) folded into the same single pass.
  *  - [[checkConstraints]]: each check is an aggregate or a key-only
  *    anti-join; same-table range/null checks fuse into one scan.
  *  - [[keySkewReport]]: groupBy count (map-side combined) +
  *    TakeOrderedAndProject for the top-k — never a global sort.
  */
object Profiling {

  /** Per-column profile of `cols`: row count, null count, distinct count,
    * typed min/max (numeric → `min_num`/`max_num` rounded to 6, everything
    * else rendered to string → `min_str`/`max_str`), and mean string
    * length for string columns.
    *
    * One scan, one single-row aggregate, then a driver-side pivot of that
    * row to long format (one output row per column — the pivot costs
    * nothing at any scale). `exactDistinct = true` is the SQL-replayable
    * gate path (COUNT(DISTINCT) per column — Spark plans one Expand over
    * the scan, fine for an audit query); production uses HLL++
    * approx_count_distinct, which keeps the whole profile a single
    * map-side-combinable pass. */
  def profileTable(df: DataFrame, cols: Seq[String],
      exactDistinct: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "profileTable needs at least one column")
    val schema = df.schema
    def isNumeric(dt: DataType): Boolean = dt match {
      case _: NumericType => true
      case _ => false
    }
    val aggs: Seq[Column] = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
      val dt = schema(c).dataType
      val base = Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
        (if (exactDistinct) countDistinct(col(c))
         else approx_count_distinct(col(c))).as(s"__dist_$c"))
      val minmax =
        if (isNumeric(dt)) Seq(
          round(min(col(c)).cast("double"), 6).as(s"__min_$c"),
          round(max(col(c)).cast("double"), 6).as(s"__max_$c"))
        else Seq(
          min(col(c)).cast("string").as(s"__mins_$c"),
          max(col(c)).cast("string").as(s"__maxs_$c"))
      // mean length only where it means something (string columns);
      // explicit sum/count division — both engines round the two casts and
      // the one divide identically (IEEE, fixed parenthesization)
      val len =
        if (dt == StringType) Seq(
          sum(length(col(c)).cast("long")).as(s"__lensum_$c"))
        else Seq.empty
      base ++ minmax ++ len
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val perCol = cols.map { c =>
      val dt = schema(c).dataType
      val (minNum, maxNum, minStr, maxStr) =
        if (isNumeric(dt))
          (col(s"__min_$c"), col(s"__max_$c"),
            lit(null).cast("string"), lit(null).cast("string"))
        else
          (lit(null).cast("double"), lit(null).cast("double"),
            col(s"__mins_$c"), col(s"__maxs_$c"))
      val avgLen =
        if (dt == StringType)
          round(col(s"__lensum_$c").cast("double") /
            (col("__n") - col(s"__nulls_$c")).cast("double"), 6)
        else lit(null).cast("double")
      struct(
        lit(c).as("column"),
        col("__n").as("n_rows"),
        col(s"__nulls_$c").as("n_nulls"),
        col(s"__dist_$c").cast("long").as("n_distinct"),
        minNum.as("min_num"), maxNum.as("max_num"),
        minStr.as("min_str"), maxStr.as("max_str"),
        avgLen.as("avg_len"))
    }
    row.select(explode(array(perCol: _*)).as("p")).select("p.*")
  }

  /** Schema-and-distribution drift report between two snapshots of a
    * table: full-outer-joins the two [[profileTable]] outputs on column
    * name and classifies every column `added` / `removed` / `changed` /
    * `unchanged` (null-safe equality across ALL profile stats — row
    * count, nulls, distinct, typed min/max, avg length). The "what moved
    * between yesterday's load and today's" audit that catches silent
    * upstream schema changes before a 100 TB job does. Costs exactly the
    * two single-scan profiles plus a column-count-sized join. */
  def profileDiff(a: DataFrame, colsA: Seq[String],
      b: DataFrame, colsB: Seq[String],
      exactDistinct: Boolean = true): DataFrame = {
    def side(df: DataFrame, cols: Seq[String], suf: String) =
      profileTable(df, cols, exactDistinct).select(
        col("column"),
        col("n_rows").as(s"n_rows$suf"), col("n_nulls").as(s"n_nulls$suf"),
        col("n_distinct").as(s"n_distinct$suf"),
        col("min_num").as(s"__mn$suf"), col("max_num").as(s"__mx$suf"),
        col("min_str").as(s"__ms$suf"), col("max_str").as(s"__mxs$suf"),
        col("avg_len").as(s"__al$suf"))
    val pa = side(a, colsA, "_a")
    val pb = side(b, colsB, "_b")
    val statsEqual = Seq("n_rows", "n_nulls", "n_distinct")
      .map(c => col(s"${c}_a") <=> col(s"${c}_b"))
      .++(Seq("__mn", "__mx", "__ms", "__mxs", "__al")
        .map(c => col(s"${c}_a") <=> col(s"${c}_b")))
      .reduce(_ && _)
    pa.join(pb, Seq("column"), "full_outer")
      .select(col("column"),
        when(col("n_rows_b").isNull, lit("removed"))
          .when(col("n_rows_a").isNull, lit("added"))
          .when(statsEqual, lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("n_rows_a"), col("n_rows_b"),
        col("n_nulls_a"), col("n_nulls_b"),
        col("n_distinct_a"), col("n_distinct_b"))
      .orderBy("column")
  }

  /** One data-quality check: a human-readable name plus a violation
    * count already reduced to a single-row, single-`violations`-column
    * frame. Compose with [[checkConstraints]]. */
  final case class Check(name: String, violations: DataFrame)

  /** Primary-key uniqueness: violations = surplus rows beyond one per
    * distinct key tuple (0 ⇔ the key is unique). One aggregate, no join:
    * count(*) − count(distinct key). */
  def pkUniqueCheck(name: String, df: DataFrame, keyCols: Seq[String]): Check = {
    require(keyCols.nonEmpty, "pkUniqueCheck needs at least one key column")
    Check(name, df.agg(
      (count(lit(1)) - countDistinct(col(keyCols.head), keyCols.tail.map(col): _*))
        .as("violations")))
  }

  /** Referential integrity: child rows whose foreign key has no match in
    * the parent's key column (NULL fks are not violations — SQL FK
    * semantics). Key-only projections on both sides; the parent side
    * dedupes to its key set, so a dimension parent broadcasts. */
  def fkCoveredCheck(name: String, child: DataFrame, fkCol: String,
      parent: DataFrame, pkCol: String): Check = {
    val violations = child.select(col(fkCol)).filter(col(fkCol).isNotNull)
      .join(Ops.broadcastIfSmall(parent.select(col(pkCol).as(fkCol)).distinct),
        Seq(fkCol), "left_anti")
      .agg(count(lit(1)).as("violations"))
    Check(name, violations)
  }

  /** Fused same-scan predicate checks: each (name, mustHold) pair counts
    * rows where the predicate is NOT satisfied (null predicate = failed —
    * a range check over a NULL value is a violation, matching SQL CHECK
    * semantics only loosely but making audits conservative). All checks
    * ride ONE scan of `df` as conditional sums. */
  def predicateChecks(df: DataFrame, checks: Seq[(String, Column)]): Seq[Check] = {
    require(checks.nonEmpty, "predicateChecks needs at least one predicate")
    val aggs = checks.zipWithIndex.map { case ((_, p), i) =>
      sum(when(coalesce(p, lit(false)), 0L).otherwise(1L)).as(s"__v_$i")
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    checks.zipWithIndex.map { case ((n, _), i) =>
      Check(n, row.select(col(s"__v_$i").as("violations")))
    }
  }

  /** Run a constraint suite: one output row per check —
    * (check_name, violations, passed), ordered by check name. Each
    * check's frame is single-row by construction, so the union is free. */
  def checkConstraints(checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "checkConstraints needs at least one check")
    checks.map { c =>
      c.violations.select(lit(c.name).as("check_name"),
        col("violations").cast("long").as("violations"),
        (col("violations") === 0L).as("passed"))
    }.reduce(_ unionByName _).orderBy("check_name")
  }

  /** Equi-width histogram of a numeric column: `bins` buckets over
    * [min, max], every bin present (zero counts included), with exact
    * double bin edges. The distribution-shape primitive the single
    * min/max of [[profileTable]] can't show.
    *
    * Shape: one stats aggregate broadcast as a single row, then the bin
    * id is a pure projection (`floor(((v−min)·bins)/(max−min))` clamped
    * to the last bin — fixed parenthesization, IEEE-exact in any
    * engine); counts map-side combine to ≤bins rows; the spine join
    * makes empty bins explicit. Constant columns (min = max) land in
    * bin 0. NULLs are excluded (they belong to the profile, not the
    * histogram). */
  def histogram(df: DataFrame, valueCol: String, bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val spark = df.sparkSession
    val v = col(valueCol).cast("double")
    val vals = df.select(v.as("__v")).filter(col("__v").isNotNull)
    val stats = vals.agg(min("__v").as("__mn"), max("__v").as("__mx"))
    val nbD = lit(bins.toDouble)
    val bin = when(col("__mx") === col("__mn"), lit(0))
      .otherwise(least(
        floor(((col("__v") - col("__mn")) * nbD) / (col("__mx") - col("__mn")))
          .cast("int"),
        lit(bins - 1)))
    val counts = vals.crossJoin(broadcast(stats))
      .select(bin.as("bin")).groupBy("bin").agg(count(lit(1)).as("cnt"))
    val spine = spark.range(bins).select(col("id").cast("int").as("bin"))
    val binD = col("bin").cast("double")
    spine.join(counts, Seq("bin"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .crossJoin(broadcast(stats))
      .select(col("bin"),
        (col("__mn") + ((binD * (col("__mx") - col("__mn"))) / nbD)).as("lo"),
        (col("__mn") + (((binD + lit(1.0)) * (col("__mx") - col("__mn"))) / nbD))
          .as("hi"),
        col("cnt"))
      .orderBy("bin")
  }

  /** Benford's-law first-digit audit of a positive numeric column
    * (values ≥ 1): observed leading-digit fractions vs the Benford
    * expectation log₁₀(1 + 1/d), with the χ² distance as the drift
    * score — the classic fabricated-or-truncated-data tell for amounts
    * and counts.
    *
    * The leading digit extracts INTEGER-exactly (floor → long → string →
    * first char; BIGINT-to-string never goes scientific, unlike double
    * formatting, so both engines agree on every value). The nine Benford
    * expectations embed as the same Double literals on both sides, and
    * the 9-term χ² folds digit-sorted. One corpus scan; everything after
    * is a 9-row frame. */
  def benfordCheck(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.select(col(valueCol).cast("double").as("__v"))
      .filter(col("__v") >= 1.0)
      .select(substring(floor(col("__v")).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val spine = (1 to 9).toDF("digit")
    val full = spine.join(counts, Seq("digit"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .localCheckpoint(false)
    val expLit = typedLit((1 to 9).map(d => math.log10(1.0 + 1.0 / d)))
    val withN = full.crossJoin(broadcast(full.agg(sum("cnt").as("__n"))))
    val cD = col("cnt").cast("double")
    val nD = col("__n").cast("double")
    val e = element_at(expLit, col("digit"))
    val scored = withN.select(col("digit"), col("cnt"),
      (cD / nD).as("obs_frac"), e.as("exp_frac"),
      (((cD - (nD * e)) * (cD - (nD * e))) / (nD * e)).as("__part"))
      .localCheckpoint(false)
    val chi = scored.agg(
      Ops.orderedSum(col("__part"), col("digit")).as("chi2"))
    scored.crossJoin(broadcast(chi))
      .select(col("digit"), col("cnt"), col("obs_frac"), col("exp_frac"),
        col("chi2"))
      .orderBy("digit")
  }

  /** Two-sample Kolmogorov–Smirnov statistic: D = max over observed
    * values of |F̂_a(v) − F̂_b(v)| — distribution drift between two
    * slices of the same column ("did this week's ingest change shape?").
    * Exact, not a sketch: drift alarms page people.
    *
    * Scale shape: the corpus collapses to per-DISTINCT-VALUE counts in
    * one map-side-combined aggregate; the cumulative pass runs on that
    * value-cardinality-sized frame via range partitioning + per-range
    * driver offsets (the distributed-cumsum idiom — never a single-task
    * global window); the argmax is TakeOrdered(1). Ties on D break to
    * the smallest value. Returns one row:
    * (d_stat, at_value, n1, n2). */
  def ksDrift(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    val spark = a.sparkSession
    val tagged = a.select(col(valueCol).cast("double").as("__v"), lit(1L).as("__a"),
        lit(0L).as("__b"))
      .unionByName(b.select(col(valueCol).cast("double").as("__v"),
        lit(0L).as("__a"), lit(1L).as("__b")))
    val counts = tagged.groupBy("__v")
      .agg(sum("__a").as("__c1"), sum("__b").as("__c2"))
    val p = spark.sessionState.conf.numShufflePartitions
    val parted = counts.repartitionByRange(p, col("__v").asc)
      .sortWithinPartitions("__v")
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)
    val partials = parted.groupBy("__pid")
      .agg(sum("__c1").as("__s1"), sum("__c2").as("__s2"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val n1 = partials.map(_._2).sum
    val n2 = partials.map(_._3).sum
    require(n1 > 0 && n2 > 0, s"both samples must be non-empty, got $n1/$n2")
    val off1 = partials.map(_._1).zip(partials.scanLeft(0L)(_ + _._2).dropRight(1))
    val off2 = partials.map(_._1).zip(partials.scanLeft(0L)(_ + _._3).dropRight(1))
    import spark.implicits._
    val offs = off1.zip(off2)
      .map { case ((pid, o1), (_, o2)) => (pid, o1, o2) }.toSeq
      .toDF("__opid", "__o1", "__o2")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy("__v")
      .rowsBetween(Long.MinValue, 0)
    parted.join(broadcast(offs), col("__pid") === col("__opid"))
      .select(col("__v"),
        (sum("__c1").over(w) + col("__o1")).as("__k1"),
        (sum("__c2").over(w) + col("__o2")).as("__k2"))
      .select(col("__v"),
        abs(col("__k1").cast("double") / lit(n1.toDouble) -
          col("__k2").cast("double") / lit(n2.toDouble)).as("__d"))
      .orderBy(col("__d").desc, col("__v").asc).limit(1)
      .select(col("__d").as("d_stat"), col("__v").as("at_value"),
        lit(n1).as("n1"), lit(n2).as("n2"))
  }

  /** Exact Pearson correlation matrix over EXACT-INTEGER-valued column
    * expressions (quantities, cents, basis points): all five sufficient
    * statistics (Σx, Σy, Σxy, Σx², Σy²) are LONG sums — order-independent
    * and engine-exact, so the correlation needs no sorted folds and no
    * deterministic/production split; the final r computes in doubles at
    * fixed parenthesization. One scan, one single-row aggregate, pivoted
    * to (col_a, col_b) pairs. Contract: per-row |x| and the corpus sums
    * must fit signed longs — at 100 TB row counts, scale the integer
    * units (cents → dollars) or shard the sum. */
  def integerCorrelationMatrix(df: DataFrame,
      cols: Seq[(String, Column)]): DataFrame = {
    require(cols.size >= 2, "need at least two columns to correlate")
    val aggs = Seq(count(lit(1)).as("__n")) ++
      cols.flatMap { case (n, e) =>
        Seq(sum(e).as(s"__s_$n"), sum(e * e).as(s"__q_$n"))
      } ++
      cols.combinations(2).map { case Seq((na, ea), (nb, eb)) =>
        sum(ea * eb).as(s"__p_${na}_$nb")
      }.toSeq
    val row = df.agg(aggs.head, aggs.tail: _*)
    val pairs = cols.combinations(2).map { case Seq((na, _), (nb, _)) =>
      val nD = col("__n").cast("double")
      val sx = col(s"__s_$na").cast("double")
      val sy = col(s"__s_$nb").cast("double")
      val sxx = col(s"__q_$na").cast("double")
      val syy = col(s"__q_$nb").cast("double")
      val sxy = col(s"__p_${na}_$nb").cast("double")
      val r = ((nD * sxy) - (sx * sy)) /
        (sqrt((nD * sxx) - (sx * sx)) * sqrt((nD * syy) - (sy * sy)))
      struct(lit(na).as("col_a"), lit(nb).as("col_b"), r.as("corr"))
    }.toSeq
    row.select(explode(array(pairs: _*)).as("p")).select("p.*")
  }

  /** Exact tie-aware Spearman rank-correlation matrix: Pearson over
    * average ranks (midranks), the monotone-association complement to
    * [[integerCorrelationMatrix]]'s linear Pearson — the profiling answer
    * to "are these columns related at all, linearly or not?" that is also
    * robust to the heavy-tailed magnitudes Pearson is dominated by.
    *
    * Exactness without a global sort: each column collapses to its
    * value-cardinality frame (v, cnt) in one map-side-combined aggregate;
    * cumulative counts-below run in the distributed-cumsum idiom (range
    * exchange over the VALUE frame + driver prefix offsets — never a
    * one-task window); the DOUBLED midrank 2·cntBelow + cnt + 1 is an
    * exact integer shared by every row with that value (doubling both
    * rank vectors leaves Pearson unchanged), and rows get their ranks
    * back through a key-width value join. All sufficient statistics
    * (Σr, Σr², Σr·r') are DECIMAL(38,0) sums of exact long terms —
    * order-independent and engine-exact at any row count (a 128-bit sum
    * matches DuckDB's HUGEINT) — and the final correlation computes in
    * doubles at one fixed parenthesization. Per-term contract: the long
    * product (2n+1)² must fit a signed long, i.e. n < ~1.5e9 rows; shard
    * beyond that. Returns (col_a, col_b, n, spearman). */
  def spearmanMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns to correlate")
    val spark = df.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    // complete-case convention: a row with ANY null drops before ranking
    // (ranks must come from the same row set the sums fold over, or the
    // value-join silently mis-offsets every rank above the null)
    val base = df
      .select(cols.map(c => col(c).cast("double").as(s"__v_$c")): _*)
      .na.drop()
      .localCheckpoint(false) // one corpus scan feeds k rank passes + join
    // (value -> doubled midrank) frame for one column, plus its
    // driver-known distinct count (free: the per-partition totals are
    // already collected for the offsets)
    def ranks(cName: String): (DataFrame, Long) = {
      val byV = base.select(col(s"__v_$cName").as("__v"))
        .groupBy("__v").agg(count(lit(1)).as("__cnt"))
        .repartitionByRange(p, col("__v").asc)
        .withColumn("__pid", spark_partition_id())
        .localCheckpoint(false) // freeze range boundaries (q79 lesson)
      val sums = byV.groupBy("__pid").agg(sum("__cnt").as("__t"),
          count(lit(1)).as("__d"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      val nDistinct = sums.map(_._3).sum
      val offsets: Map[Int, Long] = sums.map(_._1)
        .zip(sums.scanLeft(0L)(_ + _._2).dropRight(1)).toMap
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("__pid").orderBy(col("__v").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      (byV.withColumn("__cb",
          coalesce(sum(col("__cnt")).over(w), lit(0L)) +
            element_at(typedLit(offsets), col("__pid")))
        .select(col("__v").as(s"__v_$cName"),
          (lit(2L) * col("__cb") + col("__cnt") + lit(1L)).as(s"__r_$cName")),
        nDistinct)
    }
    // broadcast-gate each (value → rank) frame on its DRIVER-known
    // cardinality: the checkpointed rank frames have no Catalyst stats, so
    // without the hint every per-column join pays a full exchange + sort of
    // the corpus-sized row frame — k columns, k exchanges (measured: the
    // dominant cost of q229 at sf0.1; low-cardinality measures like
    // quantity/discount broadcast a few hundred rows instead)
    var rows = base
    for (c <- cols) {
      val (rk, nd) = ranks(c)
      rows = rows.join(
        if (nd <= (1L << 22)) broadcast(rk) else rk, Seq(s"__v_$c"))
    }
    val dec = DecimalType(38, 0)
    val aggs = Seq(count(lit(1)).as("__n")) ++
      cols.flatMap { c =>
        val r = col(s"__r_$c")
        Seq(sum(r.cast(dec)).as(s"__s_$c"),
          sum((r * r).cast(dec)).as(s"__q_$c"))
      } ++
      cols.combinations(2).map { case Seq(a, b) =>
        sum((col(s"__r_$a") * col(s"__r_$b")).cast(dec)).as(s"__p_${a}_$b")
      }.toSeq
    val row = rows.agg(aggs.head, aggs.tail: _*)
    val pairs = cols.combinations(2).map { case Seq(a, b) =>
      val nD = col("__n").cast("double")
      val sx = col(s"__s_$a").cast("double")
      val sy = col(s"__s_$b").cast("double")
      val sxx = col(s"__q_$a").cast("double")
      val syy = col(s"__q_$b").cast("double")
      val sxy = col(s"__p_${a}_$b").cast("double")
      val r = ((nD * sxy) - (sx * sy)) /
        (sqrt((nD * sxx) - (sx * sx)) * sqrt((nD * syy) - (sy * sy)))
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        col("__n").as("n"), r.as("spearman"))
    }.toSeq
    row.select(explode(array(pairs: _*)).as("p")).select("p.*")
  }

  /** Shuffle-key skew diagnostic: the top-`k` heaviest values of
    * `keyCol` with their row share, plus corpus-level constants — number
    * of distinct keys, mean rows per key, and `skew` = max/mean ratio
    * (1.0 = perfectly uniform; the salt-or-broadcast decision threshold).
    *
    * Shape: one groupBy count (map-side combined to one row per key),
    * then a single-row stats aggregate over the counts frame and a
    * TakeOrderedAndProject for the top-k — the counts frame is
    * key-cardinality-sized and never globally sorted. All derived ratios
    * are single-divide doubles over exact longs (cross-engine exact). */
  def keySkewReport(df: DataFrame, keyCol: String, k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // the counts frame feeds BOTH the top-k and the stats aggregate —
    // checkpoint it so the corpus is scanned once, not per consumer
    // (lazy: materializes inside the single action that runs the report)
    val counts = df.groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val stats = counts.agg(
      count(lit(1)).as("n_keys"),
      sum("cnt").as("n_rows"),
      max("cnt").as("max_cnt"))
    val top = counts.orderBy(col("cnt").desc, col("key").asc).limit(k)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("key").asc)))
    top.crossJoin(broadcast(stats))
      .select(col("rank"), col("key"), col("cnt"),
        round(col("cnt").cast("double") / col("n_rows").cast("double"), 6)
          .as("share"),
        col("n_keys"),
        round(col("max_cnt").cast("double") *
          (col("n_keys").cast("double") / col("n_rows").cast("double")), 6)
          .as("skew"))
      .orderBy("rank")
  }

  /** Join-cardinality forecast: the EXACT row count `a ⋈ b` on an
    * equi-key would produce — Σ over common keys of cntA(k)·cntB(k) —
    * plus the hottest key and its contribution. The "will this join
    * explode?" pre-flight: run it on the key frames (key-cardinality-
    * sized, a tiny fraction of the join itself) BEFORE committing a
    * 100 TB shuffle; a hot key here is the direct input to
    * [[graft.operators.Analytics.saltedJoin]]. All counts and products
    * are exact longs. Returns one row
    * (n_common_keys, join_rows, hot_key, hot_rows). */
  def joinCardinality(a: DataFrame, aKey: String,
      b: DataFrame, bKey: String): DataFrame = {
    val ca = a.groupBy(col(aKey).as("k")).agg(count(lit(1)).as("__ca"))
    val cb = b.groupBy(col(bKey).as("k")).agg(count(lit(1)).as("__cb"))
    val prods = ca.join(cb, Seq("k"))
      .select(col("k"), (col("__ca") * col("__cb")).as("__p"))
      .localCheckpoint(false)
    val totals = prods.agg(count(lit(1)).as("n_common_keys"),
      coalesce(sum("__p"), lit(0L)).as("join_rows"))
    prods.orderBy(col("__p").desc, col("k").asc).limit(1)
      .crossJoin(broadcast(totals))
      .select(col("n_common_keys"), col("join_rows"),
        col("k").as("hot_key"), col("__p").as("hot_rows"))
  }

  /** Mutual information between two categorical columns — the
    * feature-association measure for discrete pairs, where
    * [[integerCorrelationMatrix]] covers numeric pairs: MI =
    * Σ p(x,y)·ln(p(x,y)/(p(x)·p(y))), plus both marginal entropies and
    * the √(H(X)·H(Y))-normalized NMI in [0,1]. "Is l_returnflag just
    * l_linestatus in disguise?" before a model double-counts them.
    *
    * One scan to the (x, y) contingency counts (map-side combined,
    * cell-cardinality-sized); marginals derive from the cells; all
    * probabilities are exact-long ratios; the three Σ terms fold
    * key-sorted when `deterministic` (gate), plain in production.
    * Returns one row (n, mi, h_x, h_y, nmi). */
  def mutualInformation(df: DataFrame, xCol: String, yCol: String,
      deterministic: Boolean = false): DataFrame = {
    val cells = df
      .select(col(xCol).cast("string").as("__x"),
        col(yCol).cast("string").as("__y"))
      .groupBy("__x", "__y").agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val mx = cells.groupBy("__x").agg(sum("__c").as("__cx"))
    val my = cells.groupBy("__y").agg(sum("__c").as("__cy"))
    val n = cells.agg(sum("__c")).first().getLong(0)
    require(n > 0, "no rows")
    val nD = lit(n.toDouble)
    val pxy = col("__c").cast("double") / nD
    val px = col("__cx").cast("double") / nD
    val py = col("__cy").cast("double") / nD
    val miTerms = cells
      .join(Ops.broadcastIfSmall(mx), Seq("__x"))
      .join(Ops.broadcastIfSmall(my), Seq("__y"))
      .select(col("__x"), col("__y"),
        (pxy * log(pxy / (px * py))).as("__t"))
    val mi = miTerms.agg(Ops.foldSum(deterministic, col("__t"), col("__x"),
      col("__y"))).first().getDouble(0)
    val hx = -mx.agg(Ops.foldSum(deterministic, px * log(px), col("__x")))
      .first().getDouble(0)
    val hy = -my.agg(Ops.foldSum(deterministic, py * log(py), col("__y")))
      .first().getDouble(0)
    val nmi = if (hx > 0.0 && hy > 0.0)
      mi / math.sqrt(hx * hy) else 0.0
    import df.sparkSession.implicits._
    Seq((n, mi, hx, hy, nmi)).toDF("n", "mi", "h_x", "h_y", "nmi")
  }

  /** Population Stability Index: the industry-standard binned drift
    * score between a REFERENCE distribution and a CURRENT one — bin the
    * reference into `bins` equal-population buckets, score
    * PSI = Σ (p_ref − p_cur)·ln(p_ref/p_cur) over those fixed edges
    * (rule of thumb: < 0.1 stable, > 0.25 act). [[ksDrift]] is the
    * exact sup-distance; PSI is what model-monitoring dashboards
    * actually alarm on, and its per-bin terms SAY WHERE the shift is.
    *
    * Edges come from the reference's distributed value ranks (the
    * range-exchange + driver-offset pass; the value at a target rank is
    * tie-invariant) and ship as plan literals; bin assignment is a pure
    * projection (Σ v > e_j); per-bin counts map-side combine; both
    * proportions are Laplace-smoothed ((c + 0.5)/(n + bins/2) — empty
    * CURRENT bins otherwise put ±∞ in the log). Returns one row per bin
    * (bin, ref_cnt, cur_cnt, p_ref, p_cur) with the constant `psi`
    * (bin-sorted fold). */
  def psi(reference: DataFrame, current: DataFrame, valueCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    import org.apache.spark.sql.expressions.Window
    val spark = reference.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    val parted = reference
      .select(col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .repartitionByRange(p, col("__v").asc)
      .sortWithinPartitions("__v")
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)
    val partials = parted.groupBy("__pid").agg(count(lit(1)).as("__c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val n = partials.map(_._2).sum
    require(n >= bins, s"reference needs >= $bins rows, got $n")
    val offR = partials.map(_._1)
      .zip(partials.scanLeft(0L)(_ + _._2).dropRight(1)).toMap
    val win = Window.partitionBy("__pid").orderBy(col("__v").asc)
    val ranked = parted.select(col("__v"),
      (row_number().over(win).cast("long") +
        element_at(typedLit(offR), col("__pid"))).as("__rank"))
    val targets = (1 until bins).map(j => (n * j) / bins)
    val edges = ranked.filter(col("__rank").isInCollection(targets))
      .collect().map(r => (r.getLong(1), r.getDouble(0)))
      .sortBy(_._1).map(_._2).toSeq
    def binOf(v: Column): Column =
      edges.foldLeft(lit(0))((acc, e) =>
        acc + when(v > lit(e), 1).otherwise(0))
    def binCounts(df: DataFrame, cName: String): DataFrame =
      df.select(col(valueCol).cast("double").as("__v"))
        .filter(col("__v").isNotNull)
        .select(binOf(col("__v")).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as(cName))
    import spark.implicits._
    val spine = (0 until bins).toDF("bin")
    val joined = spine
      .join(binCounts(reference, "ref_cnt"), Seq("bin"), "left")
      .join(binCounts(current, "cur_cnt"), Seq("bin"), "left")
      .na.fill(0L, Seq("ref_cnt", "cur_cnt"))
      .localCheckpoint(false)
    val totals = joined.agg(sum("ref_cnt").as("__na"),
      sum("cur_cnt").as("__nb"))
    val half = lit(bins * 0.5)
    val pa = (col("ref_cnt").cast("double") + lit(0.5)) /
      (col("__na").cast("double") + half)
    val pb = (col("cur_cnt").cast("double") + lit(0.5)) /
      (col("__nb").cast("double") + half)
    val scored = joined.crossJoin(broadcast(totals))
      .select(col("bin"), col("ref_cnt"), col("cur_cnt"),
        pa.as("p_ref"), pb.as("p_cur"),
        ((pa - pb) * log(pa / pb)).as("__term"))
      .localCheckpoint(false)
    val psiRow = scored.agg(
      Ops.orderedSum(col("__term"), col("bin")).as("psi"))
    scored.crossJoin(broadcast(psiRow))
      .select(col("bin"), col("ref_cnt"), col("cur_cnt"),
        col("p_ref"), col("p_cur"), col("psi"))
      .orderBy("bin")
  }

  /** The MERGEABLE subset of [[profileTable]] — (column, n_rows,
    * n_nulls, min_num, max_num, min_str, max_str, len_sum), every field
    * combinable by sum/min/max: the incremental-profile state
    * [[graft.streaming.Streaming.streamingProfileIngest]] maintains
    * across micro-batches. Distinct counts are deliberately absent
    * (not mergeable exactly — `streamingHllIngest` is the incremental
    * distinct story); derive avg_len as len_sum/(n_rows−n_nulls) at
    * read time. */
  def profileStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileStats needs at least one column")
    val schema = df.schema
    def isNumeric(dt: DataType): Boolean = dt match {
      case _: NumericType => true
      case _ => false
    }
    val aggs: Seq[Column] = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
      val dt = schema(c).dataType
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c")) ++
        (if (isNumeric(dt)) Seq(
          min(col(c)).cast("double").as(s"__min_$c"),
          max(col(c)).cast("double").as(s"__max_$c"))
        else Seq(
          min(col(c)).cast("string").as(s"__mins_$c"),
          max(col(c)).cast("string").as(s"__maxs_$c"))) ++
        (if (dt == StringType)
          Seq(coalesce(sum(length(col(c)).cast("long")), lit(0L))
            .as(s"__len_$c"))
        else Seq.empty)
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val perCol = cols.map { c =>
      val dt = schema(c).dataType
      val (mn, mx, ms, mxs) =
        if (isNumeric(dt))
          (col(s"__min_$c"), col(s"__max_$c"),
            lit(null).cast("string"), lit(null).cast("string"))
        else (lit(null).cast("double"), lit(null).cast("double"),
          col(s"__mins_$c"), col(s"__maxs_$c"))
      val lenSum = if (dt == StringType) col(s"__len_$c") else lit(0L)
      struct(lit(c).as("column"), col("__n").as("n_rows"),
        col(s"__nulls_$c").as("n_nulls"),
        mn.as("min_num"), mx.as("max_num"),
        ms.as("min_str"), mxs.as("max_str"), lenSum.as("len_sum"))
    }
    row.select(explode(array(perCol: _*)).as("p")).select("p.*")
  }

  /** Combine profile-stats frames column-wise: sums add, mins/maxs
    * fold — the merge [[profileStats]] is designed around. */
  def mergeProfileStats(frames: Seq[DataFrame]): DataFrame = {
    require(frames.nonEmpty, "nothing to merge")
    frames.reduce(_ unionByName _)
      .groupBy("column")
      .agg(sum("n_rows").as("n_rows"), sum("n_nulls").as("n_nulls"),
        min("min_num").as("min_num"), max("max_num").as("max_num"),
        min("min_str").as("min_str"), max("max_str").as("max_str"),
        sum("len_sum").as("len_sum"))
  }

  /** Parent–child totals reconciliation: does every parent's stored
    * total equal the sum of its child amounts? The classic warehouse
    * audit ("does o_totalprice actually equal its line items?") that
    * catches partial loads, double-applied discounts, and silent
    * upstream recalculations. EXACT integer cents end-to-end: per-child
    * amounts round to cents once, sums are order-free longs, deviations
    * are absolute long differences — nothing to fold, nothing
    * engine-dependent. Returns one row (n_parents, n_orphans,
    * n_mismatched, max_dev_cents, total_dev_cents); `toleranceCents`
    * exempts sub-tolerance rounding dust from the mismatch count. */
  def reconcileTotals(parent: DataFrame, pkCol: String, totalCol: String,
      child: DataFrame, fkCol: String, childAmount: Column,
      toleranceCents: Long = 1L): DataFrame = {
    val p = parent.select(col(pkCol).as("__pk"),
      round(col(totalCol) * 100).cast("long").as("__pc"))
    val c = child.select(col(fkCol).as("__pk"),
      round(childAmount * 100).cast("long").as("__cc"))
      .groupBy("__pk").agg(sum("__cc").as("__sum"))
    p.join(c, Seq("__pk"), "left")
      .select(col("__pk"), col("__sum").isNull.as("__orphan"),
        when(col("__sum").isNull, lit(0L))
          .otherwise(abs(col("__pc") - col("__sum"))).as("__dev"))
      .agg(count(lit(1)).as("n_parents"),
        sum(when(col("__orphan"), 1L).otherwise(0L)).as("n_orphans"),
        sum(when(!col("__orphan") && col("__dev") > toleranceCents, 1L)
          .otherwise(0L)).as("n_mismatched"),
        coalesce(max("__dev"), lit(0L)).as("max_dev_cents"),
        coalesce(sum("__dev"), lit(0L)).as("total_dev_cents"))
  }

  /** Cohen's kappa: chance-corrected agreement between two categorical
    * columns — the labeling-pipeline QA standard ("do my two annotators
    * / heuristic raters actually agree beyond luck?"; ±1 perfect
    * agreement/disagreement, 0 chance-level). One scan to the
    * cell-cardinality contingency counts (the [[mutualInformation]]
    * shape); marginals derive from cells; observed agreement p_o and
    * expected-by-chance p_e are exact-long ratios divided ONCE at fixed
    * parenthesization (the pe product terms fold category-sorted — at
    * gate scale they are exact in a double; engine-identical either
    * way). Degenerate designs (p_e = 1: both raters constant) report
    * NULL kappa instead of the ANSI divide-by-zero (the q141 lesson).
    * Returns one row (n, po, pe, kappa). */
  def cohensKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df
      .select(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .groupBy("__a", "__b").agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val ma = cells.groupBy("__a").agg(sum("__c").as("__ca"))
    val mb = cells.groupBy("__b").agg(sum("__c").as("__cb"))
    val n = cells.agg(sum("__c")).first().getLong(0)
    require(n > 0, "no rows")
    val diag = cells.filter(col("__a") === col("__b"))
      .agg(coalesce(sum("__c"), lit(0L))).first().getLong(0)
    // pe numerator: Σ_k rowTot_k · colTot_k over categories both rate —
    // category-sorted fold of the category-cardinality-sized terms frame
    val peNum = ma.join(mb, col("__a") === col("__b"))
      .select(col("__a").as("__k"),
        (col("__ca").cast("double") * col("__cb").cast("double")).as("__t"))
      .agg(coalesce(Ops.orderedSum(col("__t"), col("__k")), lit(0.0)))
      .first().getDouble(0)
    val nD = n.toDouble
    val po = diag.toDouble / nD
    val pe = peNum / (nD * nD)
    val kappa: java.lang.Double =
      if (pe == 1.0) null else (po - pe) / (1.0 - pe)
    import df.sparkSession.implicits._
    Seq((n, po, pe, Option(kappa).map(_.doubleValue())))
      .toDF("n", "po", "pe", "kappa")
  }

  /** Fleiss' kappa: chance-corrected agreement for MANY raters per item —
    * the multi-annotator generalization of [[cohensKappa]] (3 labelers, 5
    * heuristic judges, an LLM-judge ensemble). Input is one row per
    * (item, rating); every item must carry the SAME number of ratings n
    * (validated — Fleiss' formula assumes it; filter incomplete items
    * upstream).
    *
    * All integer until the final divisions: per-item agreement sums
    * S = Σᵢ Σ_c nᵢ_c² are exact longs (P̄ = (S − N·n)/(N·n·(n−1)) divides
    * once); category shares p_c come from exact long marginals, and the
    * P̄e = Σ p_c² fold runs category-sorted over the
    * category-cardinality frame. Degenerate designs (P̄e = 1: every
    * rating identical) report NULL kappa. Returns one row
    * (n_items, n_raters, p_bar, p_e, kappa). */
  def fleissKappa(df: DataFrame, itemCol: String,
      ratingCol: String): DataFrame = {
    val cells = df
      .select(col(itemCol).as("__i"), col(ratingCol).cast("string").as("__r"))
      .groupBy("__i", "__r").agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val perItem = cells.groupBy("__i")
      .agg(sum("__c").as("__n"),
        sum(col("__c") * col("__c")).as("__sq"))
      .localCheckpoint(false)
    val tot = perItem.agg(count(lit(1)).as("items"),
      countDistinct(col("__n")).as("nn"), min("__n").as("raters"),
      sum("__sq").as("ssq")).first()
    val (nItems, raters) = (tot.getLong(0), tot.getLong(2))
    require(nItems > 0, "no items")
    require(tot.getLong(1) == 1L,
      "fleissKappa requires the same rating count per item " +
        "(filter incomplete items upstream)")
    require(raters >= 2L, s"need >= 2 ratings per item, got $raters")
    val s = tot.getLong(3)
    val nTot = nItems * raters
    val pBar = (s - nTot).toDouble / (nTot.toDouble * (raters - 1).toDouble)
    // P̄e = Σ_c (m_c / (N·n))² — category-sorted fold
    val pe = cells.groupBy("__r").agg(sum("__c").as("__m"))
      .select(col("__r"),
        ((col("__m").cast("double") / lit(nTot.toDouble)) *
          (col("__m").cast("double") / lit(nTot.toDouble))).as("__t"))
      .agg(Ops.orderedSum(col("__t"), col("__r")))
      .first().getDouble(0)
    val kappa: java.lang.Double =
      if (pe == 1.0) null else (pBar - pe) / (1.0 - pe)
    import df.sparkSession.implicits._
    Seq((nItems, raters, pBar, pe, Option(kappa).map(_.doubleValue())))
      .toDF("n_items", "n_raters", "p_bar", "p_e", "kappa")
  }

  /** Order-independent MULTISET table fingerprint: "are these two copies
    * of the table identical, without sorting either?" — the migration /
    * replication / backfill reconciliation primitive (compare a 100 TB
    * source and target with one checksum per side, no co-located sort,
    * no row-by-row diff shuffle). Naive XOR-of-row-hashes cancels
    * even-multiplicity duplicates ({R,R,S} ≡ {S}); this one first
    * collapses rows to the dedup-sized (rowHash, multiplicity) frame,
    * then XORs h60(rowHash:count) — any difference in any row's VALUE or
    * MULTIPLICITY changes the fingerprint. Both aggregates map-side
    * combine (count, then the commutative XOR); the only shuffle is
    * key-width (group, rowHash). Row text: columns cast to string,
    * null -> \u0000 sentinel BEFORE the \u0001-joined concat (concat_ws
    * silently SKIPS nulls — null and empty would collide). Doubles
    * should be pre-rounded to exact units by the caller (the q107 cents
    * convention). Returns (group…, n_rows, n_distinct_rows,
    * fingerprint). */
  def tableFingerprint(df: DataFrame, groupCols: Seq[String],
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val rowStr = concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val hc = df
      .select(groupCols.map(col) :+ Dedup.md5Hash60(rowStr).as("__h"): _*)
      .groupBy(groupCols.map(col) :+ col("__h"): _*)
      .agg(count(lit(1)).as("__c"))
      .withColumn("__ph", Dedup.md5Hash60(concat(col("__h").cast("string"),
        lit(":"), col("__c").cast("string"))))
    hc.groupBy(groupCols.map(col): _*)
      .agg(sum("__c").as("n_rows"), count(lit(1)).as("n_distinct_rows"),
        bit_xor(col("__ph")).as("fingerprint"))
  }

  /** Missing-id-range report ("which chunks of the sequence never
    * arrived?") — the ingest-completeness audit for supposedly-dense
    * keys: partial loads, dropped files, and upstream filters show up as
    * contiguous holes long before a row-count check moves. Per group,
    * every maximal missing range strictly INSIDE [min(id), max(id)]
    * (absence outside the observed span is indistinguishable from the
    * sequence just ending). Shape: ids dedup to the distinct (group, id)
    * frame, ascending per-group positions come from the pruned
    * per-(range, group) rank machinery (one range exchange — NEVER a
    * corpus-wide per-group window), and the gaps-and-islands step is
    * pure arithmetic: id − rank is CONSTANT within a present-run, so
    * islands are one key-width aggregate and the only window runs over
    * the islands frame (gaps-sized, not corpus-sized). Returns
    * (group, gap_start, gap_end, gap_len). */
  def idGapReport(df: DataFrame, groupCol: String,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ids = df.select(col(groupCol), col(idCol).cast("long").as("__id"))
      .distinct()
    val ranked = Sampling.topKPerGroup(
      ids.withColumn("__neg", -col("__id")),
      groupCol, "__id", "__neg", Long.MaxValue)
    val islands = ranked
      .select(col(groupCol), col("__id"),
        (col("__id") - col("rank")).as("__a"))
      .groupBy(col(groupCol), col("__a"))
      .agg(min("__id").as("__start"), max("__id").as("__end"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__start").asc)
    islands.withColumn("__prev_end", lag(col("__end"), 1).over(w))
      .filter(col("__prev_end").isNotNull)
      .select(col(groupCol),
        (col("__prev_end") + lit(1L)).as("gap_start"),
        (col("__start") - lit(1L)).as("gap_end"),
        (col("__start") - lit(1L) - col("__prev_end")).as("gap_len"))
  }

  /** Pearson chi-square test of independence + Cramér's V between two
    * categorical columns — the significance companion to
    * [[mutualInformation]] (MI says how MUCH the columns share, χ²/V say
    * whether the association is real and how strong on a [0, 1] scale
    * comparable across tables). One scan to the cell-cardinality
    * contingency counts; marginals derive from cells. Zero-observed
    * cells are handled in CLOSED FORM: their (0−E)²/E collapses to E,
    * and Σ_missing E = n − Σ_observed E — so only observed cells are
    * ever enumerated (never the R×C cross product, which at corpus
    * scale is mostly empty). Expected counts compute as
    * (cx·cy as doubles)/n (a long product would overflow at 100 TB
    * counts). Fixed parenthesization; on the gate path both folds run
    * (x, y)-sorted, production uses plain sums (spec ≈ 1e-9). Cramér's
    * V = √(χ²/(n·min(R−1, C−1))); a single-category axis reports NULL
    * (the q141 degenerate-design convention). Returns one row
    * (n, r, c, dof, chi2, cramers_v). */
  def chiSquareIndependence(df: DataFrame, xCol: String, yCol: String,
      deterministic: Boolean = false): DataFrame = {
    val cells = df
      .select(col(xCol).cast("string").as("__x"),
        col(yCol).cast("string").as("__y"))
      .groupBy("__x", "__y").agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val mx = cells.groupBy("__x").agg(sum("__c").as("__cx"))
    val my = cells.groupBy("__y").agg(sum("__c").as("__cy"))
    val n = cells.agg(sum("__c")).first().getLong(0)
    require(n > 0, "no rows")
    val r = mx.count()
    val c = my.count()
    val nD = n.toDouble
    val e = (col("__cx").cast("double") * col("__cy").cast("double")) /
      lit(nD)
    val terms = cells
      .join(Ops.broadcastIfSmall(mx), Seq("__x"))
      .join(Ops.broadcastIfSmall(my), Seq("__y"))
      .select(col("__x"), col("__y"), e.as("__e"),
        (((col("__c").cast("double") - e) *
          (col("__c").cast("double") - e)) / e).as("__t"))
    val sums = terms.agg(
      Ops.foldSum(deterministic, col("__t"), col("__x"), col("__y")),
      Ops.foldSum(deterministic, col("__e"), col("__x"), col("__y"))).first()
    val chi2 = sums.getDouble(0) + (nD - sums.getDouble(1))
    val minDim = math.min(r - 1, c - 1)
    val v: Option[Double] =
      if (minDim <= 0) None
      else Some(math.sqrt(chi2 / (nD * minDim.toDouble)))
    val dof = (r - 1) * (c - 1)
    import df.sparkSession.implicits._
    Seq((n, r, c, dof, chi2, v)).toDF("n", "r", "c", "dof", "chi2",
      "cramers_v")
  }

  /** Multi-class confusion-matrix report: per class, TP/FP/FN/support
    * and precision/recall/F1 — the classifier-evaluation readout (which
    * languages does the language-ID confuse? which classes does the
    * quality filter over-fire on?). One scan to the class²-bounded
    * contingency cells; every count derives from cells (TP = diagonal,
    * FP = predicted-total − TP, FN = actual-total − TP); classes are the
    * UNION of observed truths and predictions, so a class the model
    * never predicts (or invents) still reports. Exact longs; the three
    * ratios are fixed-paren divisions with 0-denominator → NULL (the
    * q141 convention). Returns (class, tp, fp, fn, support,
    * precision, recall, f1). */
  def confusionMatrix(df: DataFrame, labelCol: String,
      predCol: String): DataFrame = {
    val cells = df
      .select(col(labelCol).cast("string").as("__l"),
        col(predCol).cast("string").as("__p"))
      .groupBy("__l", "__p").agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val classes = cells.select(col("__l").as("class"))
      .union(cells.select(col("__p").as("class"))).distinct()
    val tp = cells.filter(col("__l") === col("__p"))
      .select(col("__l").as("class"), col("__c").as("tp"))
    val predTot = cells.groupBy(col("__p").as("class"))
      .agg(sum("__c").as("__pt"))
    val lblTot = cells.groupBy(col("__l").as("class"))
      .agg(sum("__c").as("__lt"))
    val p = col("tp").cast("double") / (col("tp") + col("fp")).cast("double")
    val r = col("tp").cast("double") / (col("tp") + col("fn")).cast("double")
    classes
      .join(tp, Seq("class"), "left")
      .join(predTot, Seq("class"), "left")
      .join(lblTot, Seq("class"), "left")
      .select(col("class"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        (coalesce(col("__pt"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fp"),
        (coalesce(col("__lt"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fn"))
      .withColumn("support", col("tp") + col("fn"))
      .withColumn("precision",
        when(col("tp") + col("fp") === 0L, lit(null).cast("double"))
          .otherwise(p))
      .withColumn("recall",
        when(col("tp") + col("fn") === 0L, lit(null).cast("double"))
          .otherwise(r))
      .withColumn("f1",
        when(col("precision").isNull || col("recall").isNull ||
            (col("precision") + col("recall")) === 0.0,
          lit(null).cast("double"))
          .otherwise((lit(2.0) * col("precision") * col("recall")) /
            (col("precision") + col("recall"))))
  }

  /** Cast-quarantine report: per (column → target type), how many
    * non-null raw values would fail a lossless cast — the row-level
    * error-channel audit an ingest pipeline runs BEFORE flipping a
    * column's type (the reader family's coerce-to-null made the failures
    * silent; this counts them and tells you whether the type change is a
    * schema fix or a data loss). One scan, all columns audited in a
    * single multi-aggregate (try_cast is a pure projection); fail counts
    * are exact integers, fail_frac an exact rational. Returns one row
    * per audited column: (column, target_type, n_rows, n_nonnull,
    * n_cast_fail, fail_frac). */
  def castQuarantineReport(df: DataFrame,
      targetTypes: Seq[(String, String)]): DataFrame = {
    require(targetTypes.nonEmpty, "no columns to audit")
    val aggs = Seq(count(lit(1)).as("__n")) ++ targetTypes.flatMap {
      case (c, t) =>
        val raw = col(c)
        val casted = expr(s"try_cast(`$c` AS $t)")
        Seq(
          sum(when(raw.isNotNull, 1L).otherwise(0L)).as(s"__nn_$c"),
          sum(when(raw.isNotNull && casted.isNull, 1L).otherwise(0L))
            .as(s"__f_$c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    targetTypes.map { case (c, t) =>
      wide.select(lit(c).as("column_name"), lit(t).as("target_type"),
        col("__n").as("n_rows"), col(s"__nn_$c").as("n_nonnull"),
        col(s"__f_$c").as("n_cast_fail"),
        when(col(s"__nn_$c") > 0L,
          col(s"__f_$c").cast(DoubleType) / col(s"__nn_$c").cast(DoubleType))
          .as("fail_frac"))
    }.reduce(_ unionByName _)
  }

  /** Mutual information between two NUMERIC columns via equal-frequency
    * binning: the dependence detector that catches what q133's Pearson
    * correlation cannot — nonlinear and non-monotone relationships
    * (a U-shaped value-vs-time pattern reads corr ≈ 0 but MI ≫ 0).
    * Each column ranks globally ((value, id) order — deterministic under
    * ties) through [[Sampling.globalRowNumber]]'s one-range-exchange
    * idiom and buckets by the q140 integer formula ((rank−1)·bins) div n
    * (equal-population, no double-boundary parity risk); the bucket
    * labels then feed the exact categorical [[mutualInformation]]. Two
    * range exchanges + one id join; everything after is bins²-sized.
    * Returns (n, mi, h_x, h_y, nmi). */
  def numericMI(df: DataFrame, idCol: String, xCol: String, yCol: String,
      bins: Int, deterministic: Boolean = false): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val base = df.select(col(idCol).as("__id"),
        col(xCol).cast(DoubleType).as("__x"),
        col(yCol).cast(DoubleType).as("__y"))
      .localCheckpoint(false)
    val n = base.count()
    require(n > 0, "no rows")
    def labels(vCol: String, out: String): DataFrame =
      Sampling.globalRowNumber(base.select(col("__id"), col(vCol)),
          "__r", col(vCol).asc, col("__id").asc)
        .select(col("__id"),
          expr(s"((__r - 1L) * ${bins}L) div ${n}L").cast(StringType)
            .as(out))
    labels("__x", "__bx").join(labels("__y", "__by"), Seq("__id"))
      .transform(d => mutualInformation(d, "__bx", "__by", deterministic))
  }

  /** Data-freshness report per group: when did each segment last write,
    * how stale is it against the stream's own frontier, and how much of
    * its volume is recent — the "is src_14 stuck since Tuesday" check
    * that catches a dead upstream long before a row count drifts
    * (staleness is measured against the GLOBAL max ts, not wall clock,
    * so the report is deterministic and replayable). One corpus scan
    * with the frontier cross-joined in as a lazy broadcast one-row
    * frame; all integers (micros). Returns (group, n_rows, last_ts_us,
    * age_us, fresh_<d>d… one count column per horizon). */
  def freshnessReport(df: DataFrame, groupCol: String, tsCol: String,
      horizonsDays: Seq[Int]): DataFrame = {
    require(horizonsDays.nonEmpty && horizonsDays.forall(_ >= 1),
      "horizons must be positive days")
    val m = unix_micros(col(tsCol).cast("timestamp"))
    val base = df.select(col(groupCol).as("__grp"), m.as("__m"))
      .localCheckpoint(false)
    val frontier = base.agg(max("__m").as("__gmax"))
    val aggs =
      Seq(count(lit(1)).as("n_rows"), max("__m").as("last_ts_us")) ++
      horizonsDays.map(d =>
        sum(when(col("__m") > col("__gmax") - lit(d.toLong * 86400000000L),
          1L).otherwise(0L)).as(s"fresh_${d}d"))
    base.crossJoin(broadcast(frontier))
      .groupBy("__grp")
      .agg(aggs.head, aggs.tail: _*)
      .crossJoin(broadcast(frontier))
      .withColumn("age_us", col("__gmax") - col("last_ts_us"))
      .select(Seq(col("__grp").as(groupCol), col("n_rows"),
        col("last_ts_us"), col("age_us")) ++
        horizonsDays.map(d => col(s"fresh_${d}d")): _*)
  }

  /** ε-differentially-private count release: per-group counts + Laplace
    * (sensitivity 1 / ε) noise — the mechanism that lets per-user or
    * per-segment statistics about a private table ship outside the trust
    * boundary with a provable guarantee (Dwork et al.), and the release
    * path that complements [[kAnonymityReport]]'s audit. The noise is
    * DETERMINISTIC: the uniform draw is (2h + 1)/2^61 from the group
    * key's md5-60 hash (never exactly 0 or 1, so the log never sees 0),
    * pushed through the Laplace inverse CDF — the release is
    * reproducible and engine-replayable while remaining a fixed sample
    * of the mechanism's distribution across keys. (Determinism trades
    * the classic fresh-randomness-per-query guarantee for release-once
    * semantics: re-running CANNOT average the noise away — the property
    * a data-release pipeline actually wants.) One map-side-combined
    * count scan; noise is a pure projection. True counts are NOT in the
    * output. Returns (groupCols…, noisy_count). */
  def dpNoisyCounts(df: DataFrame, groupCols: Seq[String], epsilon: Double,
      salt: String = "dp"): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(epsilon > 0.0, s"epsilon must be > 0, got $epsilon")
    val b = 1.0 / epsilon
    val counts = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    val keyStr = concat_ws(":",
      groupCols.map(c => col(c).cast(StringType)) :+ lit(salt): _*)
    val h = Dedup.md5Hash60(keyStr)
    val u = ((h.cast(DoubleType) * lit(2.0)) + lit(1.0)) /
      lit(2305843009213693952.0) // 2^61, exact
    val noise = when(u < 0.5, lit(b) * log(lit(2.0) * u))
      .otherwise(-(lit(b) * log(lit(2.0) * (lit(1.0) - u))))
    counts.select(groupCols.map(col) :+
      (col("__n").cast(DoubleType) + noise).as("noisy_count"): _*)
  }

  /** k-anonymity / l-diversity audit: before a table ships outside the
    * trust boundary, how many rows sit in a quasi-identifier group
    * smaller than k (re-identifiable by joining public attributes —
    * Sweeney's k-anonymity), and do any groups carry fewer than l
    * distinct sensitive values (attribute disclosure even at size ≥ k —
    * Machanavajjhala's l-diversity)? The privacy counterpart to q48's
    * PII redaction: redaction hides direct identifiers, this audits the
    * INDIRECT ones. Two-level aggregation — (QI, sensitive) pair counts,
    * then per-QI-group (n, distinct-sensitive) — so the distinct count
    * is a plain second-level count, never a per-group set materialization;
    * everything after the first map-side-combined scan is groups-sized.
    * NULL quasi-identifier values form their own group (they bucket
    * together on release, so they re-identify together). Returns one row
    * (n_rows, n_groups, risky_groups, risky_rows, risky_frac,
    * min_ldiversity, low_diversity_groups). */
  def kAnonymityReport(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, k: Long, l: Long = 2L): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 1L && l >= 1L, s"k and l must be >= 1, got k=$k l=$l")
    val qi = quasiCols.map(col)
    val pairs = df.groupBy((qi :+ col(sensitiveCol)): _*)
      .agg(count(lit(1)).as("__c"))
    val groups = pairs.groupBy(qi: _*)
      .agg(sum("__c").as("__n"), count(lit(1)).as("__l"))
    groups.agg(
        sum("__n").as("n_rows"), count(lit(1)).as("n_groups"),
        sum(when(col("__n") < k, 1L).otherwise(0L)).as("risky_groups"),
        sum(when(col("__n") < k, col("__n")).otherwise(0L)).as("risky_rows"),
        min("__l").as("min_ldiversity"),
        sum(when(col("__l") < l, 1L).otherwise(0L))
          .as("low_diversity_groups"))
      .withColumn("risky_frac",
        col("risky_rows").cast(DoubleType) / col("n_rows").cast(DoubleType))
      .select("n_rows", "n_groups", "risky_groups", "risky_rows",
        "risky_frac", "min_ldiversity", "low_diversity_groups")
  }

  /** Foreign-key candidate discovery: for each (child column → parent
    * column) hypothesis, measure whether the data actually supports the
    * relationship — the profiling step that turns an undocumented data
    * lake into a joinable schema (and catches referential-integrity decay
    * on every load). Per pair: distinct child values, distinct parent
    * values, parent duplicate rows (a true FK target must be unique —
    * containment 1.0 with parent_dup_rows > 0 means "joinable but
    * fan-out"), matched = |child ∩ parent| via a semi-join of the two
    * DISTINCT frames, orphans, and containment = matched/child_distinct.
    * NULL child values are excluded (SQL FK semantics: NULL references
    * nothing and violates nothing). Scale shape: per pair the work is two
    * key-ONLY distincts + one semi-join with the parent side broadcast
    * when small ([[Ops.broadcastIfSmall]]) — never a row-width shuffle;
    * the report is pairs-sized. The plan stays lazy (one-row aggregates
    * cross-joined), so all pairs evaluate in one job; the only eager step
    * per pair is materializing the checkpointed parent key set, whose
    * count gates the semi-join broadcast. */
  def fkCandidates(
      pairs: Seq[(String, DataFrame, String, String, DataFrame, String)])
      : DataFrame = {
    require(pairs.nonEmpty, "no candidate pairs")
    // the per-hypothesis parent-key materialization (pd.count) is an
    // INDEPENDENT job per pair: submit them from a small driver thread
    // pool so the next pair's count back-fills executors freed by the
    // current one's tail (Spark's scheduler runs concurrent jobs FIFO;
    // plan construction and job submission are thread-safe). Result
    // order — and so the output union — stays the caller's pair order.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, pairs.size))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val frames = try {
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(pairs.map { p =>
          scala.concurrent.Future(fkCandidateFrame(p))
        }),
        scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
    frames.reduce(_ unionByName _)
  }

  private def fkCandidateFrame(
      pair: (String, DataFrame, String, String, DataFrame, String))
      : DataFrame = {
    val (childLabel, child, cc, parentLabel, parent, pc) = pair
      val cd = child.select(col(cc).cast("string").as("__v"))
        .filter(col("__v").isNotNull).distinct()
        .localCheckpoint(false)
      val pv = parent.select(col(pc).cast("string").as("__v"))
        .filter(col("__v").isNotNull)
      val pd = pv.distinct().localCheckpoint(false)
      // parent_distinct must be DRIVER-known to gate the semi-join
      // broadcast: Ops.broadcastIfSmall reads Catalyst stats and the
      // checkpointed pd has none, so the key-set join was a full
      // exchange + sort of both distinct frames per hypothesis. pd.count()
      // materializes the checkpoint ONCE (the semi-join reuses the
      // blocks) and doubles as the parent_distinct output. Everything
      // else stays a lazy one-row aggregate so all pairs still evaluate
      // concurrently in the single final job (eager-collecting all three
      // counts per pair serialized 3·|pairs| jobs and regressed, measured).
      val parentDistinct = pd.count()
      val childStats = cd.agg(count(lit(1)).as("child_distinct"))
      val parentStats = pv.agg(count(lit(1)).as("__prows"))
      val matched = cd.join(
          if (parentDistinct <= (1L << 22)) broadcast(pd) else pd,
          Seq("__v"), "left_semi")
        .agg(count(lit(1)).as("matched"))
      childStats.crossJoin(parentStats).crossJoin(matched)
        .select(lit(childLabel).as("child"), lit(parentLabel).as("parent"),
          col("child_distinct"),
          lit(parentDistinct).as("parent_distinct"),
          (col("__prows") - lit(parentDistinct)).as("parent_dup_rows"),
          col("matched"),
          (col("child_distinct") - col("matched")).as("orphans"),
          when(col("child_distinct") > 0L,
            round(col("matched").cast(DoubleType) /
              col("child_distinct").cast(DoubleType), 6))
            .as("containment"))
  }

  /** Functional-dependency audit: for each hypothesis determinant →
    * dependent, how many determinant values map to MORE than one
    * dependent value — the single-table sibling of [[fkCandidates]]
    * (q185 discovers cross-table references; this verifies within-table
    * contracts like "order key determines customer" before a pipeline
    * quietly relies on them in a dedup key, a pick-first merge, or a
    * dimension model). An FD that "almost holds" (violation_frac just
    * above 0) is the classic dirty-data tell worth a quarantine rule.
    *
    * Per hypothesis: ONE aggregate keyed on the determinant (exact
    * countDistinct of the dependent per key — key-width shuffle), then a
    * hypotheses-sized rollup; the input projects to just the referenced
    * columns. NULL dependents count as a value of their own (a key
    * mapping to {x, NULL} is a real violation); NULL determinants group
    * together like any other key. Integer-exact.
    * Returns (determinant, dependent, n_keys, n_violating_keys,
    * violation_frac, holds). */
  def fdAudit(df: DataFrame,
      hypotheses: Seq[(String, String)]): DataFrame = {
    require(hypotheses.nonEmpty, "no FD hypotheses")
    val cols0 = hypotheses.flatMap(h => Seq(h._1, h._2)).distinct
    val base = df.select(cols0.map(col): _*).localCheckpoint(false)
    hypotheses.map { case (det, dep) =>
      base.groupBy(col(det).as("__k"))
        .agg(countDistinct(col(dep)).as("__nd"),
          max(when(col(dep).isNull, 1L).otherwise(0L)).as("__hasNull"))
        .select(col("__k"), (col("__nd") + col("__hasNull")).as("__vals"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("__vals") > 1L, 1L).otherwise(0L))
            .as("n_violating_keys"))
        .select(lit(det).as("determinant"), lit(dep).as("dependent"),
          col("n_keys"), col("n_violating_keys"),
          (col("n_violating_keys").cast(DoubleType) /
            col("n_keys").cast(DoubleType)).as("violation_frac"),
          (col("n_violating_keys") === 0L).as("holds"))
    }.reduce(_ unionByName _)
  }

  /** Disaggregated evaluation: accuracy per slice with a Wilson score
    * interval — the "is the model only good on the dominant slice"
    * report (an aggregate accuracy hides a slice that is both small and
    * badly served; the Wilson interval says which slice gaps are signal
    * and which are small-n noise — it stays inside [0,1] and behaves at
    * the tiny per-slice counts where the normal interval breaks).
    *
    * One slice-keyed integer aggregate; every double after it is a
    * fixed-parenthesization formula over (n, n_correct), so a SQL replay
    * is bit-identical with shared z/z² literals. NULL label or pred
    * counts as incorrect (CASE-ELSE semantics, both engines). Returns
    * (slice, n, n_correct, acc, wilson_lo, wilson_hi). */
  def sliceAccuracy(df: DataFrame, sliceCol: String, labelCol: String,
      predCol: String, z: Double = 1.96): DataFrame = {
    require(z > 0.0, s"z must be > 0, got $z")
    val z2 = z * z
    val agg = df.groupBy(col(sliceCol).as("slice"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(labelCol) === col(predCol), 1L).otherwise(0L))
          .as("n_correct"))
    val nd = col("n").cast(DoubleType)
    val ph = col("n_correct").cast(DoubleType) / nd
    val denom = lit(1.0) + (lit(z2) / nd)
    val center = (ph + (lit(z2) / (lit(2.0) * nd))) / denom
    val half = (lit(z) * sqrt(((ph * (lit(1.0) - ph)) / nd) +
      (lit(z2) / ((lit(4.0) * nd) * nd)))) / denom
    agg.select(col("slice"), col("n"), col("n_correct"), ph.as("acc"),
      (center - half).as("wilson_lo"), (center + half).as("wilson_hi"))
  }

  /** Null co-missingness matrix: for every column pair, the 2×2
    * missing/present contingency (both null / only A / only B / neither)
    * and its φ coefficient — "do these columns go missing TOGETHER?"
    * (a high φ is the fingerprint of an upstream join or source that
    * drops whole blocks; per-column null COUNTS — q124 — can't see it).
    *
    * Scale shape: ONE scan projects k null-indicator ints, one
    * single-row aggregate computes all k·(k−1)/2 cells as plain long
    * sums (k is a column list — driver-bounded), and the driver pivots
    * the row to pair format. φ is computed in doubles from the exact
    * long cells with fixed parenthesization (the cross products overflow
    * longs at petabyte row counts — the COUNTS stay exact, only the
    * coefficient is floating); degenerate margins (a column always or
    * never null) report NULL φ, not a divide-by-zero (the q141 ANSI
    * lesson). Returns (col_a, col_b, n, both_null, only_a, only_b,
    * neither, phi) for pairs in column-list order. */
  def nullCoMissingness(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need >= 2 columns, got ${cols.size}")
    val spark = df.sparkSession
    import spark.implicits._
    val ind = df.select(cols.map(c =>
      when(col(c).isNull, 1L).otherwise(0L).as("__n_" + c)): _*)
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = Seq(count(lit(1)).as("__n")) ++ pairs.flatMap { case (a, b) =>
      val (na, nb) = (col("__n_" + a), col("__n_" + b))
      Seq(sum(na * nb).as(s"__b_${a}_$b"),
        sum(na * (lit(1L) - nb)).as(s"__oa_${a}_$b"),
        sum((lit(1L) - na) * nb).as(s"__ob_${a}_$b"))
    }
    val row = ind.agg(aggs.head, aggs.tail: _*).first()
    val n = row.getLong(0)
    val out = pairs.zipWithIndex.map { case ((a, b), i) =>
      val (b11, oa, ob) =
        (row.getLong(1 + i * 3), row.getLong(2 + i * 3), row.getLong(3 + i * 3))
      val neither = n - b11 - oa - ob
      // φ = (n11·n00 − n10·n01) / √(r1·r0·c1·c0), margins of the 2×2
      val (r1, r0, c1, c0) =
        ((b11 + oa).toDouble, (ob + neither).toDouble,
          (b11 + ob).toDouble, (oa + neither).toDouble)
      val denom = math.sqrt(r1 * r0 * c1 * c0)
      val phi =
        if (denom == 0.0) None
        else Some(math.rint(((b11.toDouble * neither.toDouble) -
          (oa.toDouble * ob.toDouble)) / denom * 1e6) / 1e6)
      (a, b, n, b11, oa, ob, neither, phi)
    }
    out.toDF("col_a", "col_b", "n", "both_null", "only_a", "only_b",
      "neither", "phi")
  }

  /** Dataset card: the one-table corpus summary a training run's
    * documentation starts from — size, source breadth, token mass,
    * quality level, exact-duplicate rate, and length percentiles, in one
    * (metric, value) frame. Every number rides machinery that is
    * individually gated elsewhere (tokenCount q21, qualityScore q22,
    * exact-dup counting q20, order-statistic quantiles q103), composed
    * into a single report: one checkpointed projection scan feeds one
    * wide aggregate plus the range-pruned rank pass for the token
    * percentiles. Scale shape: the quality sum is an exact micro-integer
    * long sum (`__q` is rounded to 6 dp, so `round(q·1e6)` is lossless
    * and the plain sum is order-independent — no corpus-sized fold
    * buffer), and the exact-dup distinct counts sha2-256 digests, never
    * raw document text (the exactDedup convention — hash-width shuffle).
    * Returns (metric, value), metrics sorted. */
  def datasetCard(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).as("__id"), col(textCol).as("__text"),
        col(sourceCol).as("__src"),
        TextAnalysis.tokenCount(col(textCol)).cast(LongType).as("__w"),
        round(TextAnalysis.qualityScore(col(textCol)), 6).as("__q"))
      .localCheckpoint(false)
    val s = base.agg(count(lit(1)).as("n_docs"), sum("__w").as("n_tokens"),
        countDistinct(col("__src")).as("n_sources"),
        countDistinct(sha2(col("__text"), 256)).as("n_texts"),
        sum(round(col("__q") * lit(1000000.0)).cast(LongType))
          .as("__qsum_micro"))
      .first()
    val (nDocs, nTokens, nSources, nTexts, qsumMicro) =
      (s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3), s.getLong(4))
    val qsum = qsumMicro.toDouble / 1000000.0
    val qvals = Analytics.discreteQuantilesPerGroup(
        base.withColumn("__all", lit("all")), "__all", "__id", "__w",
        Seq(0.5, 0.9))
      .collect().map(r => r.getDouble(1) -> r.getLong(2)).toMap
    Seq(
      ("exact_dup_frac", 1.0 - nTexts.toDouble / nDocs.toDouble),
      ("mean_quality", qsum / nDocs.toDouble),
      ("n_docs", nDocs.toDouble),
      ("n_sources", nSources.toDouble),
      ("n_tokens", nTokens.toDouble),
      ("token_p50", qvals(0.5).toDouble),
      ("token_p90", qvals(0.9).toDouble))
      .toDF("metric", "value")
  }

  /** Period-over-period growth report: counts per (period, group) with
    * the previous period's count and the relative change — the
    * month-over-month table every ingest/ops review starts from (q115
    * flags single anomalous days; q182 isolates weekday seasonality;
    * this is the trend view). Periods truncate from integer epoch-micros
    * arithmetic when `periodUs` is given (timezone-free, the q182
    * convention). The lag window runs per GROUP over the periods-sized
    * aggregate — never over raw rows. First period reports NULL growth
    * (no fabricated 0%); a prev of 0 cannot occur (count ≥ 1 rows).
    * Integer counts; the only double is the final ratio.
    * Returns (group, period_start_us, n, prev_n, growth). */
  def periodGrowth(df: DataFrame, tsCol: String, groupCol: String,
      periodUs: Long): DataFrame = {
    require(periodUs > 0, s"periodUs must be > 0, got $periodUs")
    val m = unix_micros(col(tsCol).cast("timestamp"))
    val counts = df
      .select(col(groupCol).as("grp"),
        (m - pmod(m, lit(periodUs))).as("period_start_us"))
      .groupBy("grp", "period_start_us")
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("period_start_us").asc)
    counts
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .withColumn("growth",
        (col("n") - col("prev_n")).cast(DoubleType) /
          col("prev_n").cast(DoubleType))
  }

  /** Wilson score interval per group: the honest CI for a proportion
    * (pass rate of a quality rule, match rate of a linkage pass) that a
    * plain normal approximation botches exactly where it matters — small
    * groups and extreme rates (p̂ near 0/1 never produces an interval
    * outside [0,1] here, and n=3 groups don't pretend ±0 certainty).
    * The per-slice report companion: run after q286 quality rules or
    * q302 match disposition, BEFORE anyone compares two slices' rates.
    *
    * center = (p̂ + z²/2n) / (1 + z²/n);
    * half   = z·√(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n).
    * One group-cardinality aggregate of exact longs; doubles only in the
    * closed form, fixed parenthesization (SQL-oracle replayable).
    * Empty groups cannot occur (groupBy); successCol is a boolean
    * condition column. Returns (group, n, successes, rate, lo, hi). */
  def wilsonIntervals(df: DataFrame, groupCol: String, successCol: Column,
      z: Double = 1.96): DataFrame = {
    require(z > 0.0, s"z must be > 0, got $z")
    val agg = df.groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"),
        sum(when(successCol, 1L).otherwise(0L)).as("successes"))
    val nD = col("n").cast("double")
    val p = col("successes").cast("double") / nD
    val z2 = lit(z * z)
    val denom = lit(1.0) + (z2 / nD)
    val center = (p + (z2 / (lit(2.0) * nD))) / denom
    val half = (lit(z) * sqrt(((p * (lit(1.0) - p)) / nD) +
      (z2 / ((lit(4.0) * nD) * nD)))) / denom
    agg.select(col("group"), col("n"), col("successes"), p.as("rate"),
      (center - half).as("lo"), (center + half).as("hi"))
  }

  /** Q–Q quantile pairs between two slices: the SHAPE companion to the
    * drift tier — KS (q132) says "the distributions differ", PSI (q153)
    * says "by this much overall"; the Q–Q table says WHERE (a heavy
    * right tail reads as diff exploding at high q; a location shift as
    * near-constant diff). k probe quantiles per slice, each an EXACT
    * order statistic (a data element at ascending rank max(1, ⌈q·n⌉) —
    * no interpolation, engine-replayable) via
    * [[Analytics.discreteQuantilesPerGroup]]'s pruned rank machinery:
    * ONE range exchange over both slices together, window work bounded
    * by 2·k partitions however large the corpus. The probe join is on
    * the identical literal q doubles (bit-equal by construction).
    * `diff` is the only FP arithmetic (one subtraction). Returns
    * (q, v_a, v_b, diff) ordered by q. */
  def qqPairs(df: DataFrame, sliceCol: String, idCol: String,
      valueCol: String, sliceA: String, sliceB: String,
      k: Int = 20): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000], got $k")
    require(sliceA != sliceB, "slices must differ")
    val probes = (1 to k).map(i => i.toDouble / k.toDouble)
    val qs = Analytics.discreteQuantilesPerGroup(
      df.filter(col(sliceCol).isin(sliceA, sliceB))
        .select(col(sliceCol).cast("string").as("__slice"), col(idCol),
          col(valueCol)),
      "__slice", idCol, valueCol, probes)
    val a = qs.filter(col("__slice") === sliceA)
      .select(col("q"), col("value").as("v_a"))
    val b = qs.filter(col("__slice") === sliceB)
      .select(col("q"), col("value").as("v_b"))
    a.join(b, Seq("q"))
      .select(col("q"), col("v_a"), col("v_b"),
        (col("v_b").cast("double") - col("v_a").cast("double")).as("diff"))
      .orderBy("q")
  }

  /** Categorical value drift: the per-CATEGORY companion to the numeric
    * drift tier (KS/PSI bin values; this names the categories) — for
    * each value of a categorical column, its reference vs current counts
    * and shares, the log share-ratio, and a status flag: `new`
    * (appeared — an upstream enum grew, or garbage arrived), `vanished`
    * (a source went dark), `shared`. The first question after a PSI
    * alarm on a categorical column is "WHICH category?" — this is that
    * answer.
    *
    * Shape: two category-cardinality count aggregates, one key-width
    * full-outer join — the corpus never shuffles. Shares divide exact
    * longs by the side's total; log_ratio is NULL unless both sides are
    * present (never ±∞). NULL category values count under a NULL key
    * like any other category. Returns
    * (category, n_ref, n_cur, p_ref, p_cur, log_ratio, status). */
  def categoryDrift(reference: DataFrame, current: DataFrame,
      valueCol: String): DataFrame = {
    val r = reference.groupBy(col(valueCol).cast("string").as("category"))
      .agg(count(lit(1)).as("n_ref"))
    val c = current.groupBy(col(valueCol).cast("string").as("category"))
      .agg(count(lit(1)).as("n_cur"))
    val nRef = reference.count()
    val nCur = current.count()
    require(nRef > 0L && nCur > 0L,
      s"both frames must be non-empty, got $nRef/$nCur")
    val pRef = col("n_ref").cast("double") / lit(nRef.toDouble)
    val pCur = col("n_cur").cast("double") / lit(nCur.toDouble)
    r.join(c, Seq("category"), "full_outer")
      .select(col("category"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      .select(col("category"), col("n_ref"), col("n_cur"),
        pRef.as("p_ref"), pCur.as("p_cur"),
        when(col("n_ref") > 0L && col("n_cur") > 0L, log(pCur / pRef))
          .as("log_ratio"),
        when(col("n_ref") === 0L, lit("new"))
          .when(col("n_cur") === 0L, lit("vanished"))
          .otherwise(lit("shared")).as("status"))
  }
}
