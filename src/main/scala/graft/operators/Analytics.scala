package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-analytics + skew-handling operators (extensions beyond the
  * reference, which has no window/sort surface at all — SURVEY §2.8). */
object Analytics {

  /** Batch sessionization (gaps-and-islands): a new session starts after
    * `gapSeconds` of inactivity per key. Pure window functions — one
    * shuffle by key; the streaming twin is Streaming.sessionize. */
  def sessionize(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      gapSeconds: Long): DataFrame = {
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
    // Cast via timestamp first: TIMESTAMP_NTZ → BIGINT is an illegal direct
    // cast in Spark 4, but NTZ → TIMESTAMP → BIGINT is legal and
    // value-preserving under a UTC session timezone.
    val secs = col(tsCol).cast("timestamp").cast("long")
    val newSession = when(
      secs - lag(secs, 1).over(byKey) > gapSeconds, 1
    ).otherwise(0)
    // ROWS frame (not the default RANGE): with duplicate (key, ts) pairs a
    // RANGE running sum would assign peers the same value while the oracle's
    // ROWS formulation counts them in order — keep the two side-by-side.
    val runningFrame = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__new", newSession)
      .withColumn("session_seq", sum(col("__new")).over(runningFrame))
      .drop("__new")
  }

  /** Top session paths: the most common event-type sequences per session
    * (first `maxLen` events), ranked by frequency — the "how do users
    * actually reach purchase" view that per-event funnels (q113) can't
    * show because order matters. Builds on [[sessionize]]; each
    * session's path assembles from ONE sorted collect over the session's
    * own rows ((ts, id)-ordered for tie determinism, bounded by session
    * size), the path table aggregates session-count-sized, and the final
    * top-k is a TakeOrderedAndProject, never a global sort. Returns
    * (path, sessions) — top k by (count desc, path asc). */
  def topSessionPaths(df: DataFrame, keyCol: String, tsCol: String,
      idCol: String, typeCol: String, gapSeconds: Long, maxLen: Int,
      k: Int): DataFrame = {
    require(maxLen >= 1 && k >= 1, "maxLen and k must be >= 1")
    val sess = sessionize(df, keyCol, tsCol, gapSeconds)
    val ordered = sort_array(collect_list(struct(col(tsCol), col(idCol),
      col(typeCol).cast("string").as("__ty"))))
    sess.groupBy(col(keyCol), col("session_seq"))
      .agg(concat_ws(">",
        slice(transform(ordered, x => x.getField("__ty")), 1, maxLen))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("sessions"))
      .orderBy(col("sessions").desc, col("path").asc)
      .limit(k)
  }

  /** Offline changepoint (first binary-segmentation split) per key over
    * the daily series: the day where the cumulative sum deviates most
    * from the even-trend line — "WHEN did this stream's level shift",
    * the follow-up question to q167's CUSUM alarm (which says THAT it
    * drifted) and q115's anomaly flags (which say single days). Per key:
    * daily counts (ONE map-side-combined corpus scan to the key×days
    * frame), cumulative + deviation |cum_d − total·(i/D)| via windows
    * over that bounded frame, argmax with earliest-day tie-break, and
    * the before/after means that quantify the shift. Exact integer
    * counts; the deviation/means are fixed-parenthesization rationals.
    * Keys with < 2 days emit nothing (no interior split exists).
    * Returns (key, split_day, deviation, mean_before, mean_after) —
    * split_day is the LAST day of the left segment. */
  def changepointSplit(df: DataFrame, keyCol: String,
      tsCol: String): DataFrame = {
    val m = unix_micros(col(tsCol).cast("timestamp"))
    val d = lit(86400000000L)
    val daily = df.select(col(keyCol).as("__k"),
        ((m - pmod(m, d)) / d).cast("long").as("__day"))
      .groupBy("__k", "__day").agg(count(lit(1)).as("__v"))
    val wOrd = Window.partitionBy("__k").orderBy(col("__day").asc)
    val wAll = Window.partitionBy("__k")
    val cum = daily
      .withColumn("__i", row_number().over(wOrd).cast("long"))
      .withColumn("__cum", sum("__v").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__tot", sum("__v").over(wAll))
    val dev = abs(col("__cum").cast("double") -
      col("__tot").cast("double") *
        (col("__i").cast("double") / col("__n").cast("double")))
    val scored = cum.filter(col("__n") >= 2L && col("__i") < col("__n"))
      .withColumn("__dev", dev)
    val best = scored
      .withColumn("__r", row_number().over(
        Window.partitionBy("__k")
          .orderBy(col("__dev").desc, col("__day").asc)))
      .filter(col("__r") === 1)
    best.select(col("__k").as(keyCol), col("__day").as("split_day"),
      col("__dev").as("deviation"),
      (col("__cum").cast("double") / col("__i").cast("double"))
        .as("mean_before"),
      ((col("__tot") - col("__cum")).cast("double") /
        (col("__n") - col("__i")).cast("double")).as("mean_after"))
  }

  /** Seasonally-adjusted volume anomalies: daily counts scored against
    * their WEEKDAY's own mean — the adjustment that stops every Monday
    * from alarming (q115 flags raw outliers; [[dayOfWeekIndex]] measures
    * the seasonality; this op closes the loop by dividing it out before
    * flagging). Per day: expected = weekday mean, residual = n −
    * expected, z = (residual − mean_residual)/σ_residual over all days;
    * |z| > threshold flags. All frames are days-sized after ONE
    * map-side daily-count scan; the double folds run day-sorted (always
    * deterministic at this size). Returns flagged days only:
    * (day, dow, n, expected, z). */
  def seasonalAnomalies(df: DataFrame, tsCol: String,
      zThreshold: Double = 2.0): DataFrame = {
    require(zThreshold > 0.0, "threshold must be positive")
    val m = unix_micros(col(tsCol).cast("timestamp"))
    val dUs = lit(86400000000L)
    val day = ((m - pmod(m, dUs)) / dUs).cast("long")
    val dow = (pmod(col("day") + lit(3L), lit(7L)) + lit(1L)).cast("int")
    val daily = df.select(day.as("day"))
      .groupBy("day").agg(count(lit(1)).as("n"))
      .withColumn("dow", dow)
      .localCheckpoint(false)
    val dowMeans = daily.groupBy("dow")
      .agg((Ops.orderedSum(col("n").cast("double"), col("day")) /
        count(lit(1)).cast("double")).as("expected"))
    val resid = daily.join(broadcast(dowMeans), Seq("dow"))
      .withColumn("__r", col("n").cast("double") - col("expected"))
      .localCheckpoint(false)
    val stats = resid.agg(count(lit(1)).as("__c"),
      Ops.orderedSum(col("__r"), col("day")).as("__s"),
      Ops.orderedSum(col("__r") * col("__r"), col("day")).as("__s2"))
    val cD = col("__c").cast("double")
    val mu = col("__s") / cD
    val sd = sqrt(greatest(col("__s2") / cD - mu * mu, lit(0.0)))
    resid.crossJoin(broadcast(stats))
      .withColumn("z", when(sd > 0.0, (col("__r") - mu) / sd))
      .filter(col("z").isNotNull && abs(col("z")) > zThreshold)
      .select(col("day"), col("dow"), col("n"), col("expected"), col("z"))
  }

  /** Simpson's-paradox audit: does the pooled x→y trend point the OTHER
    * way from the within-group trends — the aggregation-bias check every
    * metric rollup should pass before anyone acts on the pooled number
    * (Simpson 1951; the classic Berkeley-admissions failure). Reuses
    * [[groupTrends]]' sufficient-statistics pass per group plus one
    * pooled pass; the comparison is slope SIGNS on the groups-sized
    * frame. Returns one row: (n_groups, pooled_slope, groups_opposing,
    * opposing_weight — the row fraction living in opposing groups,
    * paradox — true when a weighted majority opposes the pooled sign).
    * Zero-x-variance groups are excluded from the vote. */
  def simpsonCheck(df: DataFrame, groupCol: String, idCol: String,
      xCol: String, yCol: String,
      deterministic: Boolean = false): DataFrame = {
    val per = groupTrends(df, groupCol, idCol, xCol, yCol, deterministic)
      .filter(col("slope").isNotNull).localCheckpoint(false)
    val pooled = groupTrends(
      df.select(lit("__all").as("__g"), col(idCol), col(xCol), col(yCol)),
      "__g", idCol, xCol, yCol, deterministic)
      .select(col("slope").as("__ps"))
    val opposing = when(col("slope") * col("__ps") < 0.0, 1L).otherwise(0L)
    per.crossJoin(broadcast(pooled))
      .agg(count(lit(1)).as("n_groups"), max("__ps").as("pooled_slope"),
        sum(opposing).as("groups_opposing"),
        sum(when(col("slope") * col("__ps") < 0.0, col("n"))
          .otherwise(0L)).as("__opp_n"),
        sum("n").as("__tot_n"))
      .select(col("n_groups"), col("pooled_slope"), col("groups_opposing"),
        (col("__opp_n").cast("double") / col("__tot_n").cast("double"))
          .as("opposing_weight"),
        (col("__opp_n").cast("double") / col("__tot_n").cast("double") >
          lit(0.5)).as("paradox"))
  }

  /** Session-level association rules: for every ordered event-type pair
    * A→B, the support (sessions containing both), confidence
    * P(B ∈ session | A ∈ session), and lift — market-basket analysis
    * where the basket is a [[sessionize]] session ("users who hit
    * errors in a session also purchase 0.6× as often as baseline").
    * Scale shape: sessions collapse to DISTINCT (session, type) rows
    * (bounded by types-per-session, not events), the pair join is
    * session-keyed with type-domain fan-out, and everything after is
    * type²-sized. Exact rationals; lift = (n_ab·N)/(n_a·n_b) in fixed
    * parenthesization. Returns (antecedent, consequent, n_sessions,
    * n_both, confidence, lift). */
  def sessionAssociationRules(df: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, gapSeconds: Long): DataFrame = {
    val st = sessionize(df, keyCol, tsCol, gapSeconds)
      .select(col(keyCol).as("__k"), col("session_seq").as("__q"),
        col(typeCol).cast("string").as("__t"))
      .distinct().localCheckpoint(false)
    val nFrame = st.select("__k", "__q").distinct()
      .agg(count(lit(1)).as("__n"))
    val singles = st.groupBy("__t").agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val pairs = st.join(
        st.select(col("__k"), col("__q"), col("__t").as("__t2")),
        Seq("__k", "__q"))
      .filter(col("__t") =!= col("__t2"))
      .groupBy(col("__t").as("antecedent"), col("__t2").as("consequent"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(Ops.broadcastIfSmall(singles
        .select(col("__t").as("antecedent"), col("__c").as("__ca"))),
        Seq("antecedent"))
      .join(Ops.broadcastIfSmall(singles
        .select(col("__t").as("consequent"), col("__c").as("__cb"))),
        Seq("consequent"))
      .crossJoin(broadcast(nFrame))
      .select(col("antecedent"), col("consequent"),
        col("__n").as("n_sessions"), col("n_both"),
        (col("n_both").cast("double") / col("__ca").cast("double"))
          .as("confidence"),
        ((col("n_both").cast("double") * col("__n").cast("double")) /
          (col("__ca").cast("double") * col("__cb").cast("double")))
          .as("lift"))
  }

  /** Markov next-event model self-evaluation: train the first-order
    * "most likely next event type" table on the corpus and measure its
    * hit rate on the same transitions — the baseline any sequence model
    * must beat, and per-state the answer to "how predictable is what
    * users do after X". Transitions come from one lag window per key
    * ordered (ts, id) (the established per-key precedent); counts,
    * argmax (max count, ties lexicographic — deterministic), and the
    * accuracy join are all type-domain-sized after the one transition
    * scan. Returns per state: (state, n_transitions, predicted, hits,
    * accuracy). */
  def markovSelfEval(df: DataFrame, keyCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = unix_micros(col(tsCol).cast("timestamp"))
    val w = Window.partitionBy("__k").orderBy(col("__m").asc, col("__id").asc)
    val trans = df.select(col(keyCol).as("__k"), m.as("__m"),
        col(idCol).as("__id"), col(typeCol).cast("string").as("__t"))
      .withColumn("__next", lead(col("__t"), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col("__t").as("state"), col("__next"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val predicted = trans.groupBy("state")
      .agg(min(struct((-col("__c")).as("nc"), col("__next").as("t")))
        .as("__b"))
      .select(col("state"), col("__b").getField("t").as("predicted"))
    trans.join(Ops.broadcastIfSmall(predicted), Seq("state"))
      .groupBy("state")
      .agg(sum("__c").as("n_transitions"),
        max("predicted").as("predicted"),
        sum(when(col("__next") === col("predicted"), col("__c"))
          .otherwise(0L)).as("hits"))
      .withColumn("accuracy",
        col("hits").cast("double") / col("n_transitions").cast("double"))
  }

  /** Per-session rollup on a sessionized frame. */
  def sessionStats(sessionized: DataFrame, keyCol: String, tsCol: String): DataFrame =
    sessionized.groupBy(col(keyCol), col("session_seq"))
      .agg(min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("events"))

  /** Tumbling event-time windows in batch (matches streaming windowedCounts
    * semantics on at-rest data). */
  def windowedCounts(df: DataFrame, tsCol: String, windowLen: String, keyCols: Seq[String]): DataFrame =
    df.groupBy((window(col(tsCol), windowLen) +: keyCols.map(col)): _*)
      .agg(count(lit(1)).as("n"))
      .select((Seq(col("window.start").as("window_start"),
        col("window.end").as("window_end")) ++ keyCols.map(col) :+ col("n")): _*)

  /** Two-phase salted aggregation for skewed keys: aggregate on
    * (key, salt) first — spreading one hot key over `saltBuckets`
    * reducers — then combine per key. Correct for any algebraic
    * aggregate expressed as (partial, merge) pairs; this helper does
    * count + sum, the common skew case. */
  def saltedCountSum(
      df: DataFrame,
      keyCols: Seq[String],
      sumCol: String,
      saltBuckets: Int = 16): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(hash(keyCols.map(col) :+ monotonically_increasing_id(): _*), lit(saltBuckets)))
    val partial = salted
      .groupBy((keyCols.map(col) :+ col("__salt")): _*)
      .agg(count(lit(1)).as("__cnt"), sum(col(sumCol)).as("__sum"))
    partial.groupBy(keyCols.map(col): _*)
      .agg(sum("__cnt").as("n"), sum("__sum").as(s"sum_$sumCol"))
  }

  /** Salt the build side of a skewed equi-join: replicate the small side
    * `saltBuckets` times and salt the big side's key, so one hot key
    * spreads across `saltBuckets` tasks. AQE's skew-join handles most
    * cases; this is the explicit fallback for extreme keys. */
  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      keys: Seq[String],
      saltBuckets: Int = 16,
      joinType: String = "inner"): DataFrame = {
    // right/full outer would emit each unmatched small-side row once per
    // salt replica — only shapes where the replicated side never surfaces
    // unmatched rows are sound
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi")
      .contains(joinType.toLowerCase),
      s"saltedJoin supports inner/left/left_semi, not $joinType")
    val saltedBig = big.withColumn("__salt",
      pmod(hash(keys.map(col) :+ monotonically_increasing_id(): _*), lit(saltBuckets)))
    val replicatedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    saltedBig.join(replicatedSmall, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Co-partition two frames on the join keys ahead of repeated joins —
    * both sides shuffle once, every later join on the same keys is
    * shuffle-free (the DataFrame analogue of bucketed tables). */
  def coPartition(a: DataFrame, b: DataFrame, keys: Seq[String], partitions: Int): (DataFrame, DataFrame) =
    (a.repartition(partitions, keys.map(col): _*),
     b.repartition(partitions, keys.map(col): _*))

  /** As-of join: for each left row, attach the latest right row with
    * `rightTs <= leftTs` for the same key (point-in-time lookup — the
    * canonical operator Spark lacks natively).
    *
    * Composed, not a custom SparkPlan: union the two sides tagged, one
    * window per key ordered by (ts, side) carrying the right side's values
    * forward via last_value(ignoreNulls). ONE shuffle on the key — the
    * same cost as the sort-merge join a native implementation would do;
    * no range-condition explosion, no broadcast requirement on either
    * side. Ties (rightTs == leftTs) match, like DuckDB/kdb asof. */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String]): DataFrame = {
    val l = left.withColumn("__side", lit(1))
      .withColumn("__ts", col(leftTs))
    val lAligned = valueCols.foldLeft(l)((d, c) =>
      d.withColumn(s"__v_$c", lit(null).cast(right.schema(c).dataType)))
    val r0 = right.select((keyCols.map(col) :+ col(rightTs).as("__ts")) ++
      valueCols.map(c => col(c).as(s"__v_$c")): _*)
    val rAligned = left.columns.foldLeft(r0.withColumn("__side", lit(0)))((d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast(left.schema(c).dataType)))
    val unioned = lAligned.unionByName(rAligned, allowMissingColumns = true)
    // Carry the matched right ROW as one struct (null only on left rows):
    // per-column carry with ignoreNulls would skip a matched row whose
    // value is genuinely NULL and mix values from different right rows.
    val rightRow = when(col("__side") === 0,
      struct(valueCols.map(c => col(s"__v_$c").as(c)): _*))
    // right rows sort before left rows at equal ts → ties match
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__ts").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned
      .withColumn("__match", last(rightRow, ignoreNulls = true).over(w))
    val extracted = valueCols.foldLeft(carried)((d, c) =>
      d.withColumn(c, col(s"__match.`$c`")))
    extracted.filter(col("__side") === 1)
      .drop(("__side" +: "__ts" +: "__match" +: valueCols.map(c => s"__v_$c")): _*)
  }

  /** Range join: match each point row to interval rows with
    * `lo <= point < hi`, by binning — intervals explode into the fixed-
    * width bins they overlap, points hash to their bin, and the match is
    * an EQUI-join on the bin plus a residual filter. One hash shuffle
    * instead of the O(points × intervals) broadcast-nested-loop Spark
    * plans for a bare inequality join. `binWidth` should be on the order
    * of the typical interval length. */
  def rangeJoinBinned(
      points: DataFrame,
      intervals: DataFrame,
      pointCol: String,
      loCol: String,
      hiCol: String,
      binWidth: Double): DataFrame = {
    val binnedIntervals = intervals.withColumn("__bin",
      explode(sequence(
        floor(col(loCol) / binWidth).cast("long"),
        // hi is exclusive: the bin containing hi itself is only needed
        // when the interval extends into it
        floor((col(hiCol) - lit(1e-9)) / binWidth).cast("long"))))
    val binnedPoints = points.withColumn("__bin",
      floor(col(pointCol) / binWidth).cast("long"))
    binnedPoints.join(binnedIntervals, Seq("__bin"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))
      .drop("__bin")
  }

  /** Sequence-packing offsets for pretraining batch prep: documents
    * concatenate in deterministic (stratum, id) order; each gets its
    * start `offset` within the stratum's token stream and the
    * `pack_id = offset div capacity` of the context window its FIRST
    * token lands in (the standard concat-then-cut-at-context-boundaries
    * packing — a document may span into the next window, exactly like
    * packed pretraining with cross-document truncation). Lengths must be
    * non-negative — enforced per row (fail-loud raise_error, not a
    * silent nonsense offset; a negative length would also make `div`
    * truncation diverge from floor semantics).
    *
    * 100 TB shape: one window per STRATUM (shard key, e.g. a hash of the
    * id) — packing is inherently sequential within a stream, so the
    * stratum column is the unit of parallelism; a single global stream
    * would serialize the cumsum into one partition. One shuffle on the
    * stratum key. */
  def packSequences(
      df: DataFrame,
      idCol: String,
      lenCol: String,
      capacity: Long,
      strataCol: String): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    val len = when(col(lenCol) < 0, raise_error(concat(
        lit(s"packSequences: negative $lenCol: "), col(lenCol).cast("string"))))
      .otherwise(col(lenCol))
    val w = Window.partitionBy(col(strataCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offset = (sum(len).over(w) - col(lenCol)).cast("long")
    df.withColumn("offset", offset)
      // integer division (not double-divide-then-truncate): exact at any
      // stream length; offsets are non-negative by the guard above, so
      // div == floor
      .withColumn("pack_id", expr(s"offset div ${capacity}L"))
  }

  /** Top-k rows per group by `orderBy` (deterministic: pass tiebreakers). */
  /** Resample an event series to a fixed `stepMicros` grid with
    * forward-fill (pandas `resample().last().ffill()` semantics): per key,
    * one bucket row for every step between the key's first and last
    * event; a bucket's value is the LAST event in [b, b+step) — ties at
    * equal ts broken by `orderCol` desc — or the previous bucket's fill
    * when the bucket is empty. Leading value is never null (the first
    * bucket contains the key's first event).
    *
    * Scale shape: bucket grids generate per KEY via `sequence()` (no
    * driver-side range, no cross join); per-bucket last and the fill
    * window are both key-partitioned — work is (events + buckets) per
    * key, parallel across keys. All grid arithmetic is integer micros
    * (exact, SQL-replayable).
    *
    * Output: (key…, bucket_ts timestamp, value, has_event). */
  def resampleFfill(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      valueCol: String,
      stepMicros: Long,
      orderCol: String): DataFrame = {
    require(stepMicros > 0, s"stepMicros must be positive, got $stepMicros")
    val keyC = keyCols.map(col)
    val us = unix_micros(col(tsCol).cast("timestamp"))
    val bucketed = events.select((keyC :+
      (us - pmod(us, lit(stepMicros))).as("__b") :+
      col(valueCol).as("__v") :+ col(orderCol).as("__o")): _*)
    // last event per (key, bucket): order inside the bucket is
    // (ts desc, orderCol desc) — ts varies within a bucket, orderCol
    // breaks exact-ts ties deterministically
    val lastInBucket = events.select((keyC :+
        (us - pmod(us, lit(stepMicros))).as("__b") :+ us.as("__us") :+
        col(valueCol).as("__v") :+ col(orderCol).as("__o")): _*)
      .withColumn("__rn", row_number().over(
        Window.partitionBy((keyC :+ col("__b")): _*)
          .orderBy(col("__us").desc, col("__o").desc)))
      .filter(col("__rn") === 1)
      .select((keyC :+ col("__b") :+ col("__v")): _*)
    // per-key grid: sequence(first bucket, last bucket, step) — array
    // length is the key's span / step, generated distributed
    val grid = bucketed.groupBy(keyC: _*)
      .agg(min(col("__b")).as("__b0"), max(col("__b")).as("__b1"))
      .select((keyC :+ explode(sequence(col("__b0"), col("__b1"),
        lit(stepMicros))).as("__b")): _*)
    val filled = grid.join(lastInBucket, keyCols :+ "__b", "left")
      .withColumn("has_event", col("__v").isNotNull)
      .withColumn("value", last(col("__v"), ignoreNulls = true).over(
        Window.partitionBy(keyC: _*).orderBy(col("__b").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    filled.select((keyC :+
      timestamp_micros(col("__b")).as("bucket_ts") :+
      col("value") :+ col("has_event")): _*)
  }

  def topKPerGroup(df: DataFrame, groupCols: Seq[String], orderBy: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Ingest-volume anomaly monitor: daily event counts per group against
    * the DISCRETE median of their trailing `windowDays` observed days —
    * the pipeline-health check behind "did a source silently halve
    * overnight?". Flags n > highRatio·med or n < lowRatio·med; emits the
    * FULL report (day, group, n, med, ratio, is_anomaly) so quiet
    * periods are auditable too. The median is the lower order statistic
    * of the window (exact integers, replayable); ratio is one division.
    *
    * Plan: the corpus-scale work is ONE (day, group) count aggregate
    * (map-side combined); the rolling window then runs over the
    * days×groups frame, which is tiny at any corpus size. */
  def volumeAnomalies(df: DataFrame, tsCol: String, groupCol: String,
      windowDays: Int = 7, highRatio: Double = 2.0,
      lowRatio: Double = 0.5): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val daily = df.groupBy(
        date_trunc("day", col(tsCol)).cast("date").as("day"),
        col(groupCol))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("day"))
      .rowsBetween(-(windowDays - 1), 0)
    daily
      .withColumn("__arr", sort_array(collect_list(col("n")).over(w)))
      .withColumn("med",
        element_at(col("__arr"), expr("(size(__arr) + 1) div 2").cast("int")))
      .withColumn("ratio", round(col("n").cast("double") / col("med"), 6))
      .withColumn("is_anomaly",
        col("n") > lit(highRatio) * col("med") ||
          col("n") < lit(lowRatio) * col("med"))
      .select(col("day"), col(groupCol), col("n"), col("med"),
        col("ratio"), col("is_anomaly"))
  }

  /** User-journey transition matrix: consecutive event-type pairs per key
    * (ordered by ts, ties by `orderCol` — deterministic), counted and
    * row-normalized — the Markov-chain view of behavior streams. Returns
    * (from_type, to_type, n, p) with p = n / Σ_from rounded to 6.
    *
    * Plan: one keyed window (partitioned by the high-cardinality user
    * key, never global), a (from, to) aggregate map-side combined, and a
    * type-cardinality-small totals broadcast. */
  def transitionMatrix(df: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, orderCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(orderCol))
    val counts = df.select(col(keyCol), col(tsCol), col(typeCol), col(orderCol))
      .withColumn("__prev", lag(col(typeCol), 1).over(w))
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("from_type").agg(sum("n").as("__tot"))
    counts.join(Ops.broadcastIfSmall(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("__tot"), 6).as("p"))
  }

  /** Markov removal-effect attribution: the principled multi-touch model
    * ("which channel actually DRIVES conversions?") that last-touch and
    * [[linearAttribution]] only approximate. Each user's event stream
    * (truncated at their FIRST conversion) becomes a first-order Markov
    * path (start) → touches → (conv)/(null); a channel's credit is its
    * REMOVAL EFFECT — how much the K-step absorption probability
    * P(conv | start) drops when every edge into that channel is deleted
    * (paths through it fail) — normalized to shares.
    *
    * Shape: ONE keyed window builds the truncated paths (user-keyed,
    * never global), one (from, to) exact-long aggregate — the corpus
    * collapses to the (channels+3)²-cardinality transition matrix
    * (require ≤ 1000 channels), and every absorption iteration runs on
    * the DRIVER over that matrix with to-sorted folds, so an external
    * SQL engine replays all K rounds of every removal scenario
    * bit-for-bit. K truncates the absorption series (longer paths than
    * K contribute nothing — documented, same-K across scenarios keeps
    * effects ≥ 0 and comparable). Returns one row per channel
    * (channel, touches, p_conv_full, p_conv_removed, removal_effect,
    * share); share is NULL when no channel has any effect. */
  def markovAttribution(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, orderCol: String, convType: String,
      rounds: Int = 6): DataFrame = {
    require(rounds >= 1 && rounds <= 20,
      s"rounds must be in [1, 20], got $rounds")
    val START = "(start)"; val CONV = "(conv)"; val NUL = "(null)"
    val w = Window.partitionBy(col("__u"))
      .orderBy(col("__ts"), col("__o"))
    val seq0 = df.select(col(userCol).as("__u"), col(tsCol).as("__ts"),
        col(orderCol).as("__o"), col(typeCol).cast("string").as("__t"))
      .withColumn("__rn", row_number().over(w))
    val convRank = seq0.filter(col("__t") === convType)
      .groupBy("__u").agg(min("__rn").as("__cr"))
    val trunc = seq0.join(convRank, Seq("__u"), "left")
      .filter(col("__cr").isNull || col("__rn") <= col("__cr"))
      .localCheckpoint(false)
    val w2 = Window.partitionBy(col("__u"))
      .orderBy(col("__ts"), col("__o"))
    val steps = trunc
      .withColumn("__prev", lag(col("__t"), 1).over(w2))
      .select(coalesce(col("__prev"), lit(START)).as("__f"),
        when(col("__t") === convType, lit(CONV)).otherwise(col("__t"))
          .as("__to"))
    val terminal = trunc
      .withColumn("__mx", max(col("__rn")).over(Window.partitionBy("__u")))
      .filter(col("__rn") === col("__mx") && col("__t") =!= convType)
      .select(col("__t").as("__f"), lit(NUL).as("__to"))
    val trans = steps.unionByName(terminal)
      .groupBy("__f", "__to").agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    require(trans.nonEmpty, "no events")
    val channels = (trans.map(_._1) ++ trans.map(_._2)).distinct
      .filterNot(Set(START, CONV, NUL)).sorted.toSeq
    require(channels.size <= 1000,
      s"markovAttribution requires ≤ 1000 channels, got ${channels.size}")
    require(channels.forall(c => c != START && c != CONV && c != NUL),
      "channel names collide with the (start)/(conv)/(null) sentinels")
    val outTot = trans.groupBy(_._1).map { case (f, rs) =>
      f -> rs.map(_._3).sum }
    // p as the SAME double the SQL oracle computes: n / rowTotal
    val p = trans.map { case (f, t, n) =>
      (f, t) -> (n.toDouble / outTot(f).toDouble) }.toMap
    val states = (channels :+ START).sorted
    /** K absorption rounds excluding channel `removed` (None = full). */
    def absorb(removed: Option[String]): Map[String, Double] = {
      val st = states.filterNot(removed.contains)
      var a = st.map(_ -> 0.0).toMap
      (1 to rounds).foreach { _ =>
        a = st.map { s =>
          var acc = 0.0
          st.foreach { to => // to-sorted fold, matching the oracle
            p.get((s, to)).foreach(pr => acc += pr * a(to))
          }
          s -> (p.getOrElse((s, CONV), 0.0) + acc)
        }.toMap
      }
      a
    }
    val pFull = absorb(None)(START)
    val touches = trans.filter(t => channels.contains(t._2))
      .groupBy(_._2).map { case (c, rs) => c -> rs.map(_._3).sum }
    val effects = channels.map { c =>
      val pc = absorb(Some(c))(START)
      (c, touches.getOrElse(c, 0L), pc, pFull - pc)
    }
    var effSum = 0.0
    effects.foreach(e => effSum += e._4) // channel-sorted fold
    val spark = df.sparkSession
    import spark.implicits._
    effects.map { case (c, n, pc, eff) =>
      (c, n, pFull, pc, eff,
        if (effSum > 0.0) Some(eff / effSum) else None)
    }.toDF("channel", "touches", "p_conv_full", "p_conv_removed",
      "removal_effect", "share")
  }

  /** Top movers: the keys whose RANK moved most between two periods —
    * "which parts/sources/segments surged or collapsed this month"
    * (rank deltas survive level shifts that make raw-value deltas
    * unreadable; the period-over-period staple next to q248's growth
    * table). Values aggregate to exact longs per (key, period); ranks
    * are dense positions by (value desc, key asc) computed with the
    * distributed global-rank idiom over the KEY-CARDINALITY aggregate —
    * never a single-partition window over it; the final top-k by
    * |rank delta| is a TakeOrdered. Keys absent from either period are
    * excluded (a rank against nothing is not a move — the
    * appeared/vanished lists are one anti-join away and a different
    * question). Returns (key, v_a, v_b, rank_a, rank_b, delta) with
    * delta = rank_a − rank_b (positive = climbed). */
  def topMovers(df: DataFrame, keyCol: String, valueCol: String,
      periodCol: String, periodA: String, periodB: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def ranked(period: String, vName: String, rName: String): DataFrame = {
      val agg = df.filter(col(periodCol) === period)
        .groupBy(col(keyCol).as("__k"))
        .agg(sum(col(valueCol).cast("long")).as(vName))
      Sampling.globalRowNumber(agg, rName,
        col(vName).desc, col("__k").asc)
    }
    val a = ranked(periodA, "v_a", "rank_a")
    val b = ranked(periodB, "v_b", "rank_b")
    a.join(b, Seq("__k"))
      .select(col("__k").as(keyCol), col("v_a"), col("v_b"),
        col("rank_a"), col("rank_b"),
        (col("rank_a") - col("rank_b")).as("delta"))
      .orderBy(abs(col("delta")).desc, col(keyCol).asc)
      .limit(k)
  }

  /** Robust per-group trend — sampled Theil–Sen: the slope a few extreme
    * days cannot drag (OLS q198's outlier-proof sibling; one bad ingest
    * day flips an OLS slope sign, a median slope shrugs). Exact Theil–Sen
    * medians ALL C(n,2) pair slopes — inherently quadratic — so the scale
    * path pairs each row with exactly one partner under a deterministic
    * md5 shuffle (a pure function of (group, id, salt): reproducible,
    * engine-replayable, re-seedable) and takes the EXACT median of the
    * n/2 pair slopes, then the exact median residual as the intercept.
    * No `deterministic` flag needed: slopes are per-pair projections and
    * both medians are order statistics — nothing is fold-order-sensitive.
    *
    * Scale shape: the per-group shuffle rank rides the range-pruned
    * per-(range, group) rank core (never a corpus-wide per-key window);
    * pair endpoints collapse via min/max-struct aggregates (no lists);
    * both medians are [[discreteQuantilesPerGroup]] (range-pruned, the
    * q103 machinery). Pairs with equal x are skipped (vertical slope);
    * odd rows leave one unpaired singleton per group, also skipped.
    * Returns (group, n_pairs, slope, intercept). */
  def robustTrendPerGroup(df: DataFrame, groupCol: String, idCol: String,
      xCol: String, yCol: String, salt: String = "rt",
      partitions: Int = 0): DataFrame = {
    val base = df.select(col(groupCol).as("__rtg"), col(idCol).as("__rtid"),
        col(xCol).cast("double").as("__x"), col(yCol).cast("double").as("__y"))
      .withColumn("__h", Dedup.md5Hash60(
        concat_ws(":", col("__rtg"), col("__rtid"), lit(salt))))
      .localCheckpoint(false)
    val ranked = Sampling.topFractionPerGroup(base, "__rtg", "__rtid", "__h",
      frac = 1.0, partitions = partitions)
    val withPair = base
      .join(ranked.select(col("__rtg"), col("__rtid"), col("rank")),
        Seq("__rtg", "__rtid"))
      .withColumn("__pair", expr("(rank - 1) div 2"))
    val ends = withPair.groupBy("__rtg", "__pair").agg(
        count(lit(1)).as("__n"),
        min(struct(col("rank"), col("__x"), col("__y"))).as("__a"),
        max(struct(col("rank"), col("__x"), col("__y"))).as("__b"))
      .filter(col("__n") === 2)
    val slopes = ends
      .filter(col("__b.__x") =!= col("__a.__x"))
      .select(col("__rtg"), col("__pair"),
        ((col("__b.__y") - col("__a.__y")) /
          (col("__b.__x") - col("__a.__x"))).as("__s"))
      .localCheckpoint(false)
    val nPairs = slopes.groupBy("__rtg").agg(count(lit(1)).as("n_pairs"))
    val slopeMed = discreteQuantilesPerGroup(slopes, "__rtg", "__pair", "__s",
        Seq(0.5), partitions)
      .select(col("__rtg"), col("value").as("slope"))
    val resid = base
      .join(Ops.broadcastIfSmall(slopeMed), Seq("__rtg"))
      .select(col("__rtg"), col("__rtid"),
        (col("__y") - (col("slope") * col("__x"))).as("__r"))
    val interceptMed = discreteQuantilesPerGroup(resid, "__rtg", "__rtid", "__r",
        Seq(0.5), partitions)
      .select(col("__rtg"), col("value").as("intercept"))
    nPairs
      .join(slopeMed, Seq("__rtg"))
      .join(interceptMed, Seq("__rtg"))
      .select(col("__rtg").as(groupCol), col("n_pairs"), col("slope"),
        col("intercept"))
  }

  /** Stationary distribution of the [[transitionMatrix]] Markov chain:
    * where the user journey settles — π·P = π approximated by `rounds`
    * power-iteration steps from the uniform start (the long-run share of
    * attention per event type, the one-vector summary behind "which state
    * dominates the funnel"). Dangling types (no outgoing transitions)
    * keep their own mass (self-loop convention — total mass stays exactly
    * 1; documented, spec-pinned on a synthetic absorbing chain).
    *
    * Scale shape: ONE corpus pass builds the (from, to, n, tot) matrix
    * (the q114 keyed-lag window + a map-side-combined aggregate); every
    * round after that is arithmetic over the TYPE-cardinality-sized
    * matrix and the types-sized π — corpus size never re-enters. Each
    * term is the fixed parenthesization ((π·n)/tot); the `deterministic`
    * gate folds inflow from-type-sorted so the whole run is replayable as
    * unrolled SQL CTEs; production takes plain sums over the types-sized
    * frame. Returns (t, pi), one row per observed type. */
  def stationaryDistribution(df: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, orderCol: String, rounds: Int,
      deterministic: Boolean = false): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(orderCol))
    val counts = df.select(col(keyCol), col(tsCol), col(typeCol), col(orderCol))
      .withColumn("__prev", lag(col(typeCol), 1).over(w))
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = counts.groupBy("from_type").agg(sum("n").as("tot"))
    val m = counts.join(tot, Seq("from_type")).localCheckpoint(true)
    val types = m.select(col("from_type").as("t"))
      .unionAll(m.select(col("to_type").as("t")))
      .distinct().localCheckpoint(true)
    val nTypes = types.count()
    val outTypes = m.select(col("from_type").as("t")).distinct()
      .localCheckpoint(true)
    var pi = types.withColumn("pi", lit(1.0 / nTypes)).localCheckpoint(true)
    var r = 0
    while (r < rounds) {
      val flowing = m
        .join(pi.select(col("t").as("from_type"), col("pi")), Seq("from_type"))
        .select(col("to_type").as("t"), col("from_type"),
          ((col("pi") * col("n").cast("double")) / col("tot").cast("double"))
            .as("__c"))
      val inflow = flowing.groupBy("t").agg(
        Ops.foldSum(deterministic, col("__c"), col("from_type")).as("__in"))
      val selfMass = pi.join(outTypes, Seq("t"), "left_anti")
        .select(col("t"), col("pi").as("__s"))
      pi = types
        .join(inflow, Seq("t"), "left")
        .join(selfMass, Seq("t"), "left")
        .select(col("t"),
          (coalesce(col("__in"), lit(0.0)) + coalesce(col("__s"), lit(0.0)))
            .as("pi"))
        .localCheckpoint(true)
      r += 1
    }
    pi
  }

  /** Cohort retention matrix: users grouped by their FIRST-seen ISO week
    * (the cohort), then for each later week offset k, the fraction of the
    * cohort active in week cohort+k — the canonical product-analytics
    * retention table, all integer arithmetic until one final division
    * (deterministic, replayable). Returns
    * (cohort_week, week_offset, n_active, n_cohort, pct).
    *
    * Plan: one user-keyed min aggregate (first touch), one distinct over
    * (user, week) — both map-side combined — a user-keyed join, and a
    * (cohort, offset) aggregate; cohort sizes are week-cardinality-small
    * and join back size-gated. */
  def cohortRetention(df: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val firstSeen = df.groupBy(col(userCol).as("__u"))
      .agg(date_trunc("week", min(col(tsCol))).as("__cohort"))
    val active = df.select(col(userCol).as("__u"),
        date_trunc("week", col(tsCol)).as("__week"))
      .distinct()
    val joined = active.join(firstSeen, Seq("__u"))
      .withColumn("__off",
        (datediff(col("__week"), col("__cohort")) / 7).cast("long"))
    val counts = joined.groupBy(col("__cohort"), col("__off"))
      .agg(count(lit(1)).as("n_active")) // (user, week) is distinct upstream
    val sizes = firstSeen.groupBy("__cohort").agg(count(lit(1)).as("n_cohort"))
    counts.join(Ops.broadcastIfSmall(sizes), Seq("__cohort"))
      .select(col("__cohort").cast("date").as("cohort_week"),
        col("__off").as("week_offset"), col("n_active"), col("n_cohort"),
        round(col("n_active").cast("double") / col("n_cohort"), 6).as("pct"))
  }

  /** Ordered funnel: how many users reach each step IN ORDER — step k
    * counts users with an event of type `steps(k)` STRICTLY after their
    * earliest completion time of step k−1 (min-time semantics, the
    * standard open-window funnel). All integer/timestamp-exact. Returns
    * (step_idx, step, n_users).
    *
    * Plan: one user-keyed min aggregate per step, each over the
    * step-filtered stream (filters push to the scan); k user-keyed
    * joins of user-cardinality frames. */
  def funnel(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "steps must be non-empty")
    val spark = df.sparkSession
    var reached: DataFrame = null
    val counts = steps.zipWithIndex.map { case (st, i) =>
      val ev = df.filter(col(typeCol) === st)
        .select(col(userCol).as("__u"), col(tsCol).as("__ts"))
      reached = (
        if (i == 0) ev.groupBy("__u").agg(min(col("__ts")).as("__t"))
        else ev.join(reached.select(col("__u"), col("__t").as("__prev")), Seq("__u"))
          .filter(col("__ts") > col("__prev"))
          .groupBy("__u").agg(min(col("__ts")).as("__t"))
        // user-sized, read twice (this count + the next step's join)
        ).localCheckpoint(true)
      val n = reached.count()
      (i.toLong, st, n)
    }
    import spark.implicits._
    counts.toDF("step_idx", "step", "n_users")
  }

  /** Funnel step timings: for each adjacent step pair of [[funnel]]'s
    * min-time path, EXACT order-statistic quantiles of the per-user
    * transition delay (micros) — "users convert, but HOW LONG does each
    * hop take, and is the p90 tail the step to fix?". Same open-window
    * semantics as funnel (step k's time is the earliest event strictly
    * after the user's step-k−1 time), so n_users per step matches
    * funnel's counts exactly.
    *
    * Shape: funnel's per-step user-keyed min aggregates (filters push to
    * the scan), delays as exact long micros, then ONE
    * [[discreteQuantilesPerGroup]] pass over the union (groups = steps —
    * trivially within the rank family's contract). No FP arithmetic
    * anywhere. Returns (step_idx, step, n_users, q, delay_us) for steps
    * 1.., one row per (step, q). */
  def funnelTimings(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String],
      qs: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    require(steps.size >= 2, "funnelTimings needs at least two steps")
    var reached: DataFrame = null
    val delayFrames = steps.zipWithIndex.flatMap { case (st, i) =>
      val ev = df.filter(col(typeCol) === st)
        .select(col(userCol).as("__u"), unix_micros(col(tsCol)).as("__ts"))
      if (i == 0) {
        reached = ev.groupBy("__u").agg(min(col("__ts")).as("__t"))
          .localCheckpoint(true)
        Nil
      } else {
        val next = ev
          .join(reached.select(col("__u"), col("__t").as("__prev")),
            Seq("__u"))
          .filter(col("__ts") > col("__prev"))
          .groupBy("__u").agg(min(col("__ts")).as("__t"),
            min(col("__prev")).as("__p")) // __prev is constant per user
          .localCheckpoint(true)
        reached = next
        Seq(next.select(lit(i.toLong).as("__step"), col("__u"),
          (col("__t") - col("__p")).as("__d")))
      }
    }
    val delays = delayFrames.reduce(_ unionByName _)
    val counts = delays.groupBy("__step").agg(count(lit(1)).as("n_users"))
    val quants = discreteQuantilesPerGroup(delays, "__step", "__u", "__d", qs)
    val spark = df.sparkSession
    import spark.implicits._
    val names = steps.zipWithIndex.map { case (st, i) => (i.toLong, st) }
      .toDF("__step", "step")
    quants.join(Ops.broadcastIfSmall(counts), Seq("__step"))
      .join(Ops.broadcastIfSmall(names), Seq("__step"))
      .select(col("__step").as("step_idx"), col("step"), col("n_users"),
        col("q"), col("value").as("delay_us"))
      .orderBy("step_idx", "q")
  }

  /** EXACT order-statistic quantiles per group — the q-quantile is the
    * VALUE at ascending rank max(1, ⌈q·n_g⌉), no interpolation (an
    * element of the data, deterministic and replayable where
    * `percentile_approx` is neither). ⌈⌉ applies to the double product
    * q·n exactly as both engines compute it, so a float artifact like
    * 0.3·500 = 150.000…003 → rank 151 is CONSISTENT by construction.
    * Returns (group, q, value).
    *
    * Scale shape: never a one-task-per-group sort — ONE range exchange
    * by (group, score desc, id), per-(range, group) counts to the
    * driver, then every range that holds NO target rank for any
    * (group, q) is PRUNED: the window pass touches at most groups×qs
    * partitions however large the corpus (the ascending rank maps to
    * desc rank n_g − t + 1, which selects the same VALUE for any tie
    * order). Same ≤100k-group contract as the Sampling rank family. */
  def discreteQuantilesPerGroup(df: DataFrame, groupCol: String,
      idCol: String, scoreCol: String, qs: Seq[Double],
      partitions: Int = 0): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      "qs must be non-empty quantiles in [0,1]")
    val spark = df.sparkSession
    val p = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    // one range exchange (the same boundary-freezing lazy checkpoint as
    // the Sampling cumsum family); per-(range, group) counts drive the
    // driver-side rank targeting
    val ranked = df.select(col(groupCol), col(idCol), col(scoreCol))
      .repartitionByRange(p, col(groupCol).asc, col(scoreCol).desc, col(idCol).asc)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)
    val counts = ranked.groupBy("__pid", groupCol).agg(count(lit(1)).as("__c"))
      .collect().map(r => (r.getInt(0), r.get(1), r.getLong(2)))
    require(counts.map(_._2).distinct.size <= 100000,
      "discreteQuantilesPerGroup requires source/domain-like group " +
        "cardinality (<= 100k groups)")
    if (counts.isEmpty) return ranked
      .select(col(groupCol), lit(0.0).as("q"), col(scoreCol).as("value")).limit(0)
    // per (group, q): the ascending target rank max(1, ceil(q·n)) — the
    // SAME IEEE double product/ceil the SQL oracle computes — maps to a
    // descending rank n−t+1, which lands in exactly ONE range; every
    // range holding no target for any (group, q) is PRUNED, so the
    // window pass touches at most groups×qs partitions however large
    // the corpus.
    val targetRows = counts.groupBy(_._2).iterator.flatMap { case (g, cs) =>
      val sorted = cs.sortBy(_._1)
      val n = sorted.map(_._3).sum
      val offsets = sorted.map(_._1).zip(sorted.scanLeft(0L)(_ + _._3).dropRight(1))
      qs.map { q =>
        val tAsc = math.max(1L, math.ceil(q * n).toLong)
        val tDesc = n - tAsc + 1
        val (pid, off) = offsets.zip(sorted.map(_._3))
          .collectFirst { case ((pd, o), c) if tDesc > o && tDesc <= o + c => (pd, o) }
          .get
        (pid, g, q, tDesc - off)
      }
    }.toSeq
    val keepPids = targetRows.map(_._1).toSet
    val targets = spark.createDataFrame(
      spark.sparkContext.parallelize(targetRows.map(r =>
        org.apache.spark.sql.Row(r._1, r._2, r._3, r._4)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__tpid",
          org.apache.spark.sql.types.IntegerType),
        ranked.schema(groupCol).copy(name = "__g"),
        org.apache.spark.sql.types.StructField("q",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("__local",
          org.apache.spark.sql.types.LongType))))
    import org.apache.spark.sql.expressions.Window
    // rank BEFORE the target join — the join duplicates each row once per
    // (group, q) target in its range, which would corrupt a post-join
    // row_number
    ranked.filter(col("__pid").isInCollection(keepPids))
      .withColumn("__rank",
        row_number().over(Window.partitionBy(col("__pid"), col(groupCol))
          .orderBy(col(scoreCol).desc, col(idCol).asc)).cast("long"))
      .join(broadcast(targets),
        col("__pid") === col("__tpid") && col(groupCol) === col("__g") &&
          col("__rank") === col("__local"))
      .select(col(groupCol), col("q"), col(scoreCol).as("value"))
  }

  /** Robust per-group outliers by the modified z-score (Iglewicz–Hoaglin):
    * z = 0.6745·(x − median) / MAD, flag |z| > cutoff — the
    * quality-score anomaly sweep of a curation pipeline, where mean/σ
    * would let the outliers move their own threshold. Median and MAD are
    * the DISCRETE order statistics of [[discreteQuantilesPerGroup]]
    * (exact, replayable); groups whose MAD is 0 (over half the mass on
    * one value) flag nothing — z is undefined there, the standard
    * treatment. z's arithmetic is the fixed parenthesization
    * ((x − med)·0.6745)/MAD, IEEE-identical in external engines.
    *
    * Three corpus passes (scores → deviations → flags) and two
    * distributed rank machines; the per-group stats frames are
    * group-cardinality-small and broadcast. Returns
    * (group, id, score, med, mad, z) for flagged rows only. */
  def robustOutliers(df: DataFrame, groupCol: String, idCol: String,
      scoreCol: String, cutoff: Double = 3.5,
      partitions: Int = 0): DataFrame = {
    require(cutoff > 0.0, s"cutoff must be > 0, got $cutoff")
    val med = discreteQuantilesPerGroup(df, groupCol, idCol, scoreCol,
        Seq(0.5), partitions)
      .select(col(groupCol), col("value").as("med"))
    val withMed = df.select(col(groupCol), col(idCol), col(scoreCol))
      .join(Ops.broadcastIfSmall(med), Seq(groupCol))
    val mad = discreteQuantilesPerGroup(
        withMed.withColumn("__dev", abs(col(scoreCol) - col("med"))),
        groupCol, idCol, "__dev", Seq(0.5), partitions)
      .select(col(groupCol), col("value").as("mad"))
    withMed.join(Ops.broadcastIfSmall(mad), Seq(groupCol))
      .withColumn("z",
        when(col("mad") =!= 0.0,
          ((col(scoreCol) - col("med")) * lit(0.6745)) / col("mad")))
      .filter(col("z").isNotNull && abs(col("z")) > cutoff)
      .select(col(groupCol), col(idCol), col(scoreCol),
        col("med"), col("mad"), col("z"))
  }

  /** Two-proportion z-test: is the success rate of group A different
    * from group B? The experiment-readout primitive (A/B conversion,
    * filter-pass-rate drift between pipeline versions). Input is one
    * row per UNIT (user, doc) with boolean group/success columns; the
    * sufficient statistics (n₁, x₁, n₂, x₂) are exact long sums in ONE
    * single-row aggregate, and z = (p₁−p₂)/√(p̄(1−p̄)(1/n₁+1/n₂))
    * computes in doubles at fixed parenthesization — engine-exact.
    * Returns one row (n1, x1, n2, x2, p1, p2, z). */
  def proportionZTest(df: DataFrame, groupACol: Column,
      successCol: Column): DataFrame = {
    val a = when(groupACol, 1L).otherwise(0L)
    val s = when(successCol, 1L).otherwise(0L)
    val row = df.agg(
      sum(a).as("n1"), sum(a * s).as("x1"),
      sum(lit(1L) - a).as("n2"), sum((lit(1L) - a) * s).as("x2"))
    val n1 = col("n1").cast("double"); val x1 = col("x1").cast("double")
    val n2 = col("n2").cast("double"); val x2 = col("x2").cast("double")
    val p1 = x1 / n1
    val p2 = x2 / n2
    val pp = (x1 + x2) / (n1 + n2)
    val se = sqrt((pp * (lit(1.0) - pp)) * ((lit(1.0) / n1) + (lit(1.0) / n2)))
    // degenerate designs have no defined z: an empty arm, or zero pooled
    // variance (all units converted, or none did) — report NULL, never a
    // division by zero (Spark 4 ANSI throws on 0/0)
    val z = when(col("n1") === 0L || col("n2") === 0L, lit(null))
      .when(col("x1") + col("x2") === 0L ||
        col("x1") + col("x2") === col("n1") + col("n2"), lit(null))
      .otherwise((p1 - p2) / se)
    row.select(col("n1"), col("x1"), col("n2"), col("x2"),
      when(col("n1") === 0L, lit(null)).otherwise(p1).as("p1"),
      when(col("n2") === 0L, lit(null)).otherwise(p2).as("p2"),
      z.as("z"))
  }

  /** One-way ANOVA F statistic: does a numeric measure genuinely differ
    * ACROSS groups, beyond within-group noise? ("do quality scores differ
    * by source", "does latency differ by region" — the k-group
    * generalization of the two-arm [[proportionZTest]], and the
    * significance companion to per-group means.) One map-side-combined
    * scan to per-group sufficient statistics (n, Σx, Σx²), then all
    * arithmetic runs on the groups-sized frame: SSW_g = Σx²_g −
    * (Σx_g·Σx_g)/n_g, SSB_g = n_g·(mean_g − grand)², F =
    * (SSB/(k−1))/(SSW/(n−k)). On the gate path the per-group sums fold
    * id-sorted and the cross-group reductions fold group-sorted
    * (bit-identical under any partitioning and replayable in SQL);
    * production uses plain sums. Degenerate designs — k < 2, n ≤ k, or
    * zero within-group variance — report NULL F (the q141 ANSI
    * convention). Returns one row (k, n, ssb, ssw, df1, df2, f). */
  def anovaOneWay(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, deterministic: Boolean = false): DataFrame = {
    val v = col(valueCol).cast("double")
    val base = df.select(col(groupCol).cast("string").as("__g"),
      col(idCol).as("__id"), v.as("__v"))
    val g = base.groupBy("__g").agg(count(lit(1)).as("__n"),
        Ops.foldSum(deterministic, col("__v"), col("__id")).as("__sx"),
        Ops.foldSum(deterministic, col("__v") * col("__v"), col("__id"))
          .as("__sxx"))
      .localCheckpoint(false)
    val totals = g.agg(count(lit(1)).as("k"), sum("__n").as("n"),
      Ops.foldSum(deterministic, col("__sx"), col("__g")).as("__s")).first()
    val k = totals.getLong(0)
    val n = totals.getLong(1)
    val grand = totals.getDouble(2) / n.toDouble
    val nD = col("__n").cast("double")
    val meanG = col("__sx") / nD
    val sswG = col("__sxx") - ((col("__sx") * col("__sx")) / nD)
    val ssbG = nD * ((meanG - lit(grand)) * (meanG - lit(grand)))
    val sums = g.agg(Ops.foldSum(deterministic, sswG, col("__g")).as("ssw"),
      Ops.foldSum(deterministic, ssbG, col("__g")).as("ssb")).first()
    val ssw = sums.getDouble(0)
    val ssb = sums.getDouble(1)
    val f: Option[Double] =
      if (k < 2 || n <= k || ssw == 0.0) None
      else Some((ssb / (k - 1).toDouble) / (ssw / (n - k).toDouble))
    import df.sparkSession.implicits._
    Seq((k, n, ssb, ssw, k - 1, n - k, f))
      .toDF("k", "n", "ssb", "ssw", "df1", "df2", "f")
  }

  /** Item co-occurrence mining ("parts ordered together"): support and
    * lift of every item pair that shares a basket, top-k by pair count.
    * The association-rule primitive behind related-content joins and
    * template detection in event streams.
    *
    * Scale shape: NO self-join — each basket aggregates once to its
    * sorted distinct item array (map-side combined), and pairs generate
    * in-row from that array (baskets are small by nature; the pair count
    * per basket is C(|basket|, 2), bounded by the basket-size contract,
    * so output stays linear in baskets). Pair counts map-side combine;
    * item supports join back item-keyed (item-cardinality-sized,
    * broadcast-gated); top-k is TakeOrderedAndProject. Counts are exact
    * longs; support = cnt/n_baskets and lift = (cnt·n)/(c_a·c_b) are
    * single-expression doubles at fixed parenthesization. */
  /** The basket frame behind [[coOccurrencePairs]]: one map-side-combined
    * aggregate to (basket, sorted distinct item array). */
  private def basketArrays(df: DataFrame, basketCol: String,
      itemCol: String): DataFrame =
    df.select(col(basketCol).as("__b"), col(itemCol).as("__it"))
      .groupBy("__b").agg(sort_array(collect_set(col("__it"))).as("__items"))

  /** In-row pair generation from a sorted item array: for item i, pair
    * with every later item (slice is 1-based; i is 0-based → start
    * i + 2). One row per (basket, pair), columns (__pa, __pb).
    * Two chained Generate nodes (posexplode, then explode of the tail
    * slice) instead of nested `transform` lambdas: higher-order functions
    * build every pair STRUCT through the interpreted lambda path, which
    * measured 10× slower than the generator form on the same 1.2M-pair
    * input (0.66 s vs 0.06 s at sf0.1) — and the generator form never
    * materializes the per-basket pair array at all. */
  private def basketPairs(baskets: DataFrame): DataFrame =
    baskets
      .select(posexplode(col("__items")).as(Seq("__i", "__pa")),
        col("__items"))
      .select(col("__pa"),
        explode(slice(col("__items"), col("__i") + lit(2),
          size(col("__items")) - col("__i") - lit(1))).as("__pb"))

  /** Distinct co-occurrence edges (item_a < item_b by the array sort
    * order): the graph projection of the basket table — input to
    * [[graft.operators.Graph.triangleCounts]] and friends. */
  def coOccurrenceEdges(df: DataFrame, basketCol: String,
      itemCol: String): DataFrame =
    basketPairs(basketArrays(df, basketCol, itemCol))
      .select(col("__pa").as("item_a"), col("__pb").as("item_b"))
      .distinct()

  def coOccurrencePairs(df: DataFrame, basketCol: String, itemCol: String,
      topK: Int = 20, minCount: Long = 1L): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val baskets = basketArrays(df, basketCol, itemCol).localCheckpoint(false)
    val nb = baskets.count()
    require(nb > 0, "no baskets")
    val itemCounts = baskets
      .select(explode(col("__items")).as("__it"))
      .groupBy("__it").agg(count(lit(1)).as("__ci"))
    val pairs = basketPairs(baskets)
      .groupBy(col("__pa").as("item_a"), col("__pb").as("item_b"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val nbD = lit(nb.toDouble)
    pairs
      .join(Ops.broadcastIfSmall(
        itemCounts.select(col("__it").as("item_a"), col("__ci").as("__ca"))),
        Seq("item_a"))
      .join(Ops.broadcastIfSmall(
        itemCounts.select(col("__it").as("item_b"), col("__ci").as("__cb"))),
        Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("cnt"),
        (col("cnt").cast("double") / nbD).as("support"),
        ((col("cnt").cast("double") * nbD) /
          (col("__ca").cast("double") * col("__cb").cast("double"))).as("lift"))
      .orderBy(col("cnt").desc, col("item_a").asc, col("item_b").asc)
      .limit(topK)
  }

  /** Exact trimmed mean per group: drop the top and bottom
    * `floor(n_g · frac)` rows of each group by value rank and average
    * the middle — the robust central tendency that, unlike the median,
    * still uses most of the data ("average order value per priority,
    * immune to the whales and the refunds"). Values are EXACT INTEGER
    * units (cents), so the kept-sum is an order-free long and the mean
    * is one division — no deterministic/production split exists to
    * diverge.
    *
    * Ranks ride [[Sampling.topFractionPerGroup]]'s pruned per-(range,
    * group) machinery at frac = 1 (distributed row_number semantics,
    * ties by id — never a one-task-per-group window); group sizes are
    * group-cardinality-small and broadcast. Returns
    * (group, n_total, n_kept, mean). */
  def trimmedMeanPerGroup(df: DataFrame, groupCol: String, idCol: String,
      valueCents: Column, frac: Double): DataFrame = {
    require(frac >= 0.0 && frac < 0.5, s"frac must be in [0, 0.5), got $frac")
    val prep = df.select(col(groupCol), col(idCol),
        valueCents.cast("long").as("__cents"))
      .withColumn("__score", col("__cents").cast("double"))
    val ranked = Sampling.topFractionPerGroup(prep.drop("__cents"),
        groupCol, idCol, "__score", frac = 1.0)
      .join(prep.select(col(groupCol), col(idCol), col("__cents")),
        Seq(groupCol, idCol))
    val sizes = ranked.groupBy(groupCol).agg(count(lit(1)).as("__n"))
    val cut = floor(col("__n").cast("double") * lit(frac))
    ranked.join(Ops.broadcastIfSmall(sizes), Seq(groupCol))
      .filter(col("rank") > cut && col("rank") <= col("__n") - cut)
      .groupBy(col(groupCol).as("group"), col("__n").as("n_total"))
      .agg(count(lit(1)).as("n_kept"), sum("__cents").as("__sum"))
      .select(col("group"), col("n_total"), col("n_kept"),
        (col("__sum").cast("double") / col("n_kept").cast("double"))
          .as("mean"))
  }

  /** Time-weighted average per key (TWAP): each observation's value is
    * weighted by how long it REMAINED current (the gap to the next
    * observation) — the correct mean for irregularly-sampled state
    * ("average queue depth", "average price held") where the plain mean
    * over-weights busy periods. The last observation per key carries no
    * duration and is excluded. Durations are exact integer microseconds;
    * the Σ value·dt fold is ts-sorted when `deterministic` (gate), plain
    * in production. ONE keyed window. Returns
    * (key, n_intervals, total_micros, twap). */
  def timeWeightedAverage(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCol: String,
      deterministic: Boolean = false): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val micros = unix_micros(col(tsCol).cast("timestamp"))
    val withDt = df
      .select(col(keyCol), col(tsCol), col(tieCol),
        col(valueCol).cast("double").as("__v"))
      .withColumn("__dt", lead(micros, 1).over(w) - micros)
      .filter(col("__dt").isNotNull)
      .select(col(keyCol), col(tsCol), col(tieCol), col("__v"), col("__dt"),
        (col("__v") * col("__dt").cast("double")).as("__vd"))
    val agg = withDt.groupBy(keyCol).agg(
      count(lit(1)).as("n_intervals"),
      sum("__dt").as("total_micros"),
      Ops.foldSum(deterministic, col("__vd"), col(tsCol), col(tieCol))
        .as("__s"))
    agg.select(col(keyCol), col("n_intervals"), col("total_micros"),
      (col("__s") / col("total_micros").cast("double")).as("twap"))
  }

  /** Kaplan–Meier survival curve (product-limit estimator): given one
    * row per subject with a duration and an observed-event flag
    * (false = censored — the subject left observation with no event),
    * S(t) = Π over event times t′ ≤ t of (1 − d(t′)/n(t′)), the
    * standard answer to "how long until users churn / jobs fail /
    * documents go stale" under censoring, where a naive mean of
    * observed durations is biased low.
    *
    * Shape: ONE map-side-combined aggregate to per-duration (events,
    * subjects) counts; everything after runs on that curve frame, whose
    * size is the distinct-duration count — the GRANULARITY CONTRACT
    * (day/hour-bucket durations keep it thousands at any corpus size;
    * the at-risk suffix sum and prefix product are windows/folds over
    * that frame only). The survival product folds event-time-ascending
    * with a 1.0 init (exact identity) — SQL-replayable. Returns
    * (t, n_risk, events, survival) at event times only. */
  def kaplanMeier(df: DataFrame, durationCol: String,
      eventCol: String): DataFrame = {
    val subj = df.select(col(durationCol).cast("long").as("__t"),
      col(eventCol).cast("boolean").as("__e"))
    val byT = subj.groupBy("__t").agg(
      sum(when(col("__e"), 1L).otherwise(0L)).as("__d"),
      count(lit(1)).as("__c"))
      .localCheckpoint(false)
    val w = Window.orderBy(col("__t").desc)
      .rowsBetween(Long.MinValue, 0)
    val risk = byT.withColumn("__n", sum("__c").over(w))
    val ev = risk.filter(col("__d") > 0)
      .select(col("__t"), col("__d"), col("__n"),
        (lit(1.0) - (col("__d").cast("double") / col("__n").cast("double")))
          .as("__term"))
      .localCheckpoint(false)
    ev.select(col("__t"), col("__d"), col("__n"))
      .join(ev.select(col("__t").as("__t2"), col("__term")),
        col("__t2") <= col("__t"))
      .groupBy("__t", "__d", "__n")
      .agg(aggregate(sort_array(collect_list(struct(col("__t2"), col("__term")))),
        lit(1.0), (acc, x) => acc * x.getField("__term")).as("survival"))
      .select(col("__t").as("t"), col("__n").as("n_risk"),
        col("__d").as("events"), col("survival"))
      .orderBy("t")
  }

  /** Log-rank test: are two groups' [[kaplanMeier]] survival curves
    * genuinely different? At each distinct event time, group A's observed
    * deaths are compared to the expectation under "no difference"
    * (deaths split ∝ at-risk counts): O₁ = Σ d₁(t),
    * E₁ = Σ d(t)·n₁(t)/n(t),
    * V = Σ d(t)·n₁(t)·n₂(t)·(n(t)−d(t)) / (n(t)²·(n(t)−1)),
    * χ² = (O₁−E₁)²/V on 1 dof — the standard censoring-aware A/B test
    * for time-to-event ("did the fix actually change time-to-failure?").
    *
    * Shape: ONE map-side-combined aggregate to per-duration per-group
    * (leaving, deaths) counts; at-risk counts are suffix sums and the
    * E₁/V folds run time-ascending over that frame ONLY — the same
    * GRANULARITY CONTRACT as [[kaplanMeier]] (day/hour-bucket durations
    * keep the frame thousands at any corpus size). O₁ and every count
    * are exact longs; E₁/V terms are fixed-parenthesization doubles,
    * folded in deterministic time order (SQL-replayable). Times where
    * n(t) ≤ 1 contribute 0 to V. Degenerate designs (V = 0) report NULL
    * χ². Returns one row (n_times, o1, e1, v, chi2). */
  def logRankTest(df: DataFrame, durationCol: String, eventCol: String,
      groupCol: String, groupA: String, groupB: String): DataFrame = {
    val subj = df.filter(col(groupCol).isin(groupA, groupB))
      .select(col(durationCol).cast("long").as("__t"),
        col(eventCol).cast("boolean").as("__e"),
        (col(groupCol).cast("string") === groupA).as("__a"))
    val byT = subj.groupBy("__t").agg(
      sum(when(col("__a"), 1L).otherwise(0L)).as("__w1"),
      sum(when(!col("__a"), 1L).otherwise(0L)).as("__w2"),
      sum(when(col("__a") && col("__e"), 1L).otherwise(0L)).as("__d1"),
      sum(when(!col("__a") && col("__e"), 1L).otherwise(0L)).as("__d2"))
      .localCheckpoint(false)
    val w = Window.orderBy(col("__t").desc).rowsBetween(Long.MinValue, 0)
    val risk = byT
      .withColumn("__n1", sum("__w1").over(w))
      .withColumn("__n2", sum("__w2").over(w))
      .filter((col("__d1") + col("__d2")) > 0L)
    val dtD = (col("__d1") + col("__d2")).cast("double")
    val ntD = (col("__n1") + col("__n2")).cast("double")
    val n1D = col("__n1").cast("double")
    val n2D = col("__n2").cast("double")
    val terms = risk.select(col("__t"), col("__d1"),
      ((dtD * n1D) / ntD).as("__e1"),
      when((col("__n1") + col("__n2")) > 1L,
        (((dtD * n1D) * n2D) * (ntD - dtD)) /
          ((ntD * ntD) * (ntD - lit(1.0))))
        .otherwise(lit(0.0)).as("__v"))
    terms.agg(count(lit(1)).as("n_times"), sum("__d1").as("o1"),
        Ops.orderedSum(col("__e1"), col("__t")).as("e1"),
        Ops.orderedSum(col("__v"), col("__t")).as("v"))
      .select(col("n_times"), col("o1"), col("e1"), col("v"),
        when(col("v") > 0.0,
          ((col("o1").cast("double") - col("e1")) *
            (col("o1").cast("double") - col("e1"))) / col("v"))
          .otherwise(lit(null).cast("double")).as("chi2"))
  }

  /** Linear multi-touch attribution: every conversion event splits one
    * unit of credit equally across the user's touch events in the
    * trailing `windowSeconds`; conversions with NO preceding touch
    * credit the synthetic "(direct)" channel — Σ credit over channels
    * equals the conversion count exactly, the invariant that makes an
    * attribution report auditable. The marketing/behavior question
    * last-touch funnels can't answer: which channels PARTICIPATE in
    * conversions.
    *
    * Shape: conversions and touches join per user under the window
    * predicate (per-user work bounded by events-per-window — the
    * interval-join contract); per-conversion touch counts are a
    * conversion-keyed aggregate joined back; the per-channel credit sum
    * folds (conversion, touch)-sorted when `deterministic` (gate),
    * plain in production. Returns
    * (channel, touched_conversions, credit). */
  def linearAttribution(df: DataFrame, userCol: String, tsCol: String,
      tieCol: String, typeCol: String, conversionType: String,
      windowSeconds: Long, deterministic: Boolean = false): DataFrame = {
    require(windowSeconds > 0, s"windowSeconds must be > 0")
    val micros = unix_micros(col(tsCol).cast("timestamp"))
    val base = df.select(col(userCol).as("__u"), micros.as("__ts"),
      col(tieCol).as("__id"), col(typeCol).as("__t"))
    val conv = base.filter(col("__t") === conversionType)
      .select(col("__u"), col("__ts").as("__cts"), col("__id").as("__cid"))
    val touch = base.filter(col("__t") =!= conversionType)
      .select(col("__u"), col("__ts").as("__tts"), col("__id").as("__tid"),
        col("__t").as("channel"))
    val winMicros = windowSeconds * 1000000L
    // inner-join the window matches, THEN find zero-touch conversions by
    // absence (a left join + window filter would also delete conversions
    // whose user has touches but none in window — they must go direct)
    val matched = conv.join(touch, Seq("__u"))
      .filter(col("__tts") <= col("__cts") &&
        col("__tts") > col("__cts") - winMicros)
      .localCheckpoint(false)
    val counts = matched.groupBy("__cid").agg(count(lit(1)).as("__n"))
    val direct = conv
      .join(Ops.broadcastIfSmall(counts.select("__cid")), Seq("__cid"),
        "left_anti")
      .select(lit("(direct)").as("channel"), col("__cid"),
        lit(-1L).as("__tid"), lit(1.0).as("__credit"))
    val attributed = matched.join(Ops.broadcastIfSmall(counts), Seq("__cid"))
      .select(col("channel"), col("__cid"), col("__tid"),
        (lit(1.0) / col("__n").cast("double")).as("__credit"))
      .unionByName(direct)
    attributed.groupBy("channel").agg(
        countDistinct(col("__cid")).as("touched_conversions"),
        Ops.foldSum(deterministic, col("__credit"), col("__cid"), col("__tid"))
          .as("credit"))
      .orderBy("channel")
  }

  /** Cross-source quantile normalization: replace each row's value with
    * the POOLED distribution's value at the row's within-source
    * percentile — the batch-effect correction that makes scores from
    * differently-calibrated sources comparable (a 0.8 from a lenient
    * scorer and a 0.5 from a harsh one both map to their shared
    * percentile's pooled value). Exact order statistics, no
    * interpolation: within-source position via the pruned per-(range,
    * group) rank machinery, pooled lookup via the distributed global
    * row-number, target rank = ⌊pct·(N−1) + ½⌋ + 1 in integer-exact
    * arithmetic after one exact double multiply. Returns
    * (group, id, normalized). */
  def quantileNormalize(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String): DataFrame = {
    val prep = df.select(col(groupCol), col(idCol),
      col(valueCol).cast("double").as("__v"))
      .localCheckpoint(false)
    // percentRankPerGroup ranks (score desc, id asc); negating the value
    // makes that ascending-by-value with the same deterministic tie-break
    val pct = Sampling.percentRankPerGroup(
      prep.select(col(groupCol), col(idCol), (-col("__v")).as("__s")),
      groupCol, idCol, "__s")
    val n = prep.count()
    require(n > 0, "no rows to normalize")
    val pooled = Sampling.globalRowNumber(
        prep.select(col("__v"), col(groupCol).as("__g2"),
          col(idCol).as("__id2")),
        "__grank", col("__v").asc, col("__g2").asc, col("__id2").asc)
      .select(col("__grank"), col("__v").as("normalized"))
    pct
      .withColumn("__t",
        floor((col("pct") * lit((n - 1).toDouble)) + lit(0.5)) + lit(1L))
      .join(pooled, col("__t") === col("__grank"))
      .select(col(groupCol), col(idCol), col("normalized"))
  }

  /** Per-group min-max scaling: value′ = (v − min_g)/(max_g − min_g) in
    * [0, 1] — the linear feature-scaling companion to
    * [[quantileNormalize]] (rank-based): linear preserves SHAPE within
    * a source, rank-based equalizes shapes across sources. Constant
    * groups scale to 0 (the 0/0 convention). One stats aggregate
    * broadcast-gated, then a pure projection at fixed
    * parenthesization. */
  def minMaxScalePerGroup(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val stats = Ops.broadcastIfSmall(
      df.groupBy(col(groupCol))
        .agg(min(v).as("__mn"), max(v).as("__mx")))
    df.select(col(groupCol), col(idCol), v.as("__v"))
      .join(stats, Seq(groupCol))
      .select(col(groupCol), col(idCol),
        when(col("__mx") === col("__mn"), lit(0.0))
          .otherwise((col("__v") - col("__mn")) / (col("__mx") - col("__mn")))
          .as("scaled"))
  }

  /** DAU/WAU stickiness: per day, the distinct active users that day
    * over the distinct users of the trailing `windowDays` — the
    * product-engagement ratio (1.0 = everyone active daily, 1/window =
    * everyone shows up once a week). EXACT distinct (q111's rolling HLL
    * is the sketch twin): the corpus collapses to the distinct
    * (day, user) frame in one aggregate; each day fans out to the
    * `windowDays` windows it covers (bounded ×window blowup of the
    * already-tiny frame) and the window distinct is one more aggregate.
    * Only observed days report. Returns (day, dau, wau, stickiness)
    * with day = epoch days. */
  def stickiness(df: DataFrame, userCol: String, tsCol: String,
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    // exact epoch-day: subtract the remainder first so the double
    // division is of exact multiples (Column./ on longs promotes to
    // double; a raw quotient could round across a midnight boundary)
    val m = unix_micros(col(tsCol).cast("timestamp"))
    val d = lit(86400000000L)
    val day = ((m - pmod(m, d)) / d).cast("long")
    val du = df.select(day.as("__day"), col(userCol).as("__u")).distinct()
      .localCheckpoint(false)
    val dau = du.groupBy("__day").agg(count(lit(1)).as("dau"))
    val wau = du
      .select(explode(sequence(col("__day"),
        col("__day") + lit(windowDays - 1))).as("__target"), col("__u"))
      .distinct()
      .groupBy("__target").agg(count(lit(1)).as("wau"))
    dau.join(wau, col("__day") === col("__target"))
      .select(col("__day").as("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double"))
          .as("stickiness"))
      .orderBy("day")
  }

  /** Day-of-week seasonality index: per ISO weekday, event count, mean
    * value, and index = weekday mean / grand mean — the first question a
    * volume-anomaly triage asks ("is Monday always like this?") and the
    * denominator a seasonal-adjusted monitor divides by before alarming
    * (q115's volume monitor is the unadjusted twin). Weekday comes from
    * exact integer epoch-day arithmetic — ((day + 3) mod 7) + 1, Mon = 1
    * (engine-independent where dayofweek() conventions differ) — using
    * the q165 remainder-subtract division. One map-side-combined scan to
    * the 7-row (dow, n, Σv) frame; the grand mean folds dow-sorted over
    * those 7 rows on the gate path (two-level fold, the ANOVA idiom).
    * Returns (dow, n, mean, index). */
  def dayOfWeekIndex(df: DataFrame, tsCol: String, idCol: String,
      valueCol: String, deterministic: Boolean = false): DataFrame = {
    val m = unix_micros(col(tsCol).cast("timestamp"))
    val d = lit(86400000000L)
    val day = ((m - pmod(m, d)) / d).cast("long")
    val dow = (pmod(day + lit(3L), lit(7L)) + lit(1L)).cast("int")
    val base = df.select(dow.as("__dow"), col(idCol).as("__id"),
      col(valueCol).cast("double").as("__v"))
    val g = base.groupBy("__dow").agg(count(lit(1)).as("n"),
        Ops.foldSum(deterministic, col("__v"), col("__id")).as("__s"))
      .localCheckpoint(false)
    val tot = g.agg(Ops.foldSum(deterministic, col("__s"), col("__dow")).as("s"),
      sum("n").as("n")).first()
    val grand = tot.getDouble(0) / tot.getLong(1).toDouble
    g.select(col("__dow").as("dow"), col("n"),
        (col("__s") / col("n").cast("double")).as("mean"),
        ((col("__s") / col("n").cast("double")) / lit(grand)).as("idx"))
  }

  /** Poisson(1) bootstrap replicate means — THE bootstrap that scales:
    * instead of materializing B resamples-with-replacement (each a full
    * shuffle of a 100 TB corpus), every row draws an independent
    * Poisson(1) multiplicity per replicate — for large n the multinomial
    * resample and the Poisson weights are indistinguishable (Chamandy et
    * al., "Estimating Uncertainty for Massive Data Streams", Google 2012)
    * — so B replicates are ONE projection (explode of a B-literal range)
    * + ONE map-side-combined aggregate; the shuffle carries B×partials,
    * never the corpus. Weights are drawn DETERMINISTICALLY: the row's
    * md5-60 hash of (id, replicate, salt) is compared against
    * floor(CDF_Poisson(1)(k)·2^60) thresholds precomputed as exact long
    * literals — pure integer comparisons, so replicate weights are a
    * reproducible pure function of (id, rep) on any engine (the oracle
    * replays them bit-for-bit in SQL; the CDF tail is truncated at
    * k = 10, P(X > 10) ≈ 1e-8). Per replicate: n_eff = Σw (long) and
    * wmean = Σ w·x / Σw, the Σ w·x folding id-sorted on the gate path
    * (production plain sums, spec ≈ 1e-9). The replicate-means frame is
    * B rows; [[bootstrapCI]] turns it into a percentile interval. */
  def poissonBootstrapMeans(df: DataFrame, idCol: String, valueCol: String,
      reps: Int = 16, salt: String = "bs",
      deterministic: Boolean = false): DataFrame = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val base = df.select(col(idCol).cast("string").as("__id"),
        col(valueCol).cast("double").as("__x"))
      .withColumn("__rep",
        explode(sequence(lit(0), lit(reps - 1))))
    val h = Dedup.md5Hash60(concat(col("__id"), lit(":"),
      col("__rep").cast("string"), lit(":" + salt)))
    // branchless threshold count — NOT filter()/aggregate() HOFs, which
    // are CodegenFallback and drop the whole projection out of
    // whole-stage codegen (measured 18 s → ~2 s at sf0.1 for this stage)
    val w = poissonThresholds60
      .map(t => (lit(t) <= h).cast("long")).reduce(_ + _)
    val terms = base.select(col("__rep"), col("__id"), w.as("__w"),
      (w.cast("double") * col("__x")).as("__wx"))
    terms.groupBy("__rep").agg(sum("__w").as("n_eff"),
        Ops.foldSum(deterministic, col("__wx"), col("__id")).as("__s"))
      .select(col("__rep").as("rep"), col("n_eff"),
      when(col("n_eff") > 0L,
        col("__s") / col("n_eff").cast("double")).as("wmean"))
  }

  /** Poisson-CDF(λ=1) thresholds scaled to the md5-60 hash space:
    * T_k = floor(P(X ≤ k)·2^60) for k = 0..10 — a replicate weight is
    * the count of thresholds ≤ hash. Exact long literals (the same
    * values embed in the oracle SQL via toString). */
  lazy val poissonThresholds60: Seq[Long] = {
    val twoPow60 = math.pow(2.0, 60.0)
    var term = math.exp(-1.0)
    var cum = term
    (0 to 10).map { k =>
      if (k > 0) { term = term / k.toDouble; cum = cum + term }
      math.floor(cum * twoPow60).toLong
    }
  }

  /** Seasonal-naive volume backtest: forecast each day's event count with
    * the count `periodDays` earlier (the week-over-week naive every
    * forecasting benchmark must beat — if a fancy model can't beat this
    * number, ship this number) and score MAE / bias / MAPE / sMAPE over
    * the observed days. The [[dailyVolumeAnomalies]] monitor's q115
    * counterpart asks "is today weird"; this asks "how predictable is
    * this stream at horizon p" — the number that calibrates the
    * monitor's thresholds. Days are exact integer epoch-day arithmetic
    * (the q165 remainder-subtract division); the corpus is scanned ONCE
    * into the days-sized daily frame (map-side-combined count, lazily
    * checkpointed so the self-join at lag p does not rescan); unobserved
    * days are excluded (no forecast, no actual). Error sums are integer;
    * the MAPE/sMAPE double folds run day-sorted over the days-sized
    * frame (always deterministic — no production split needed at this
    * size). Returns one row (days, mae, bias, mape, smape). */
  def seasonalNaiveBacktest(df: DataFrame, tsCol: String,
      periodDays: Int = 7): DataFrame = {
    require(periodDays >= 1, s"periodDays must be >= 1, got $periodDays")
    val m = unix_micros(col(tsCol).cast("timestamp"))
    val d = lit(86400000000L)
    val day = ((m - pmod(m, d)) / d).cast("long")
    val daily = df.select(day.as("__day"))
      .groupBy("__day").agg(count(lit(1)).as("__n"))
      .localCheckpoint(false)
    val prev = daily.select((col("__day") + lit(periodDays.toLong)).as("__day"),
      col("__n").as("__f"))
    val scored = daily.join(prev, Seq("__day"))
      .select(col("__day"), col("__n").as("__a"), col("__f"))
      .withColumn("__err", col("__a") - col("__f"))
    val ape = abs(col("__err")).cast("double") / col("__a").cast("double")
    val sape = (lit(2.0) * abs(col("__err")).cast("double")) /
      (col("__a") + col("__f")).cast("double")
    scored.agg(count(lit(1)).as("days"),
        sum(abs(col("__err"))).as("__sae"), sum(col("__err")).as("__se"),
        Ops.orderedSum(ape, col("__day")).as("__sumApe"),
        Ops.orderedSum(sape, col("__day")).as("__sumSape"))
      .select(col("days"),
        when(col("days") > 0L, col("__sae").cast("double") /
          col("days").cast("double")).as("mae"),
        when(col("days") > 0L, col("__se").cast("double") /
          col("days").cast("double")).as("bias"),
        when(col("days") > 0L, col("__sumApe") /
          col("days").cast("double")).as("mape"),
        when(col("days") > 0L, col("__sumSape") /
          col("days").cast("double")).as("smape"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) test: do two groups differ in
    * LOCATION without assuming normality — the nonparametric sibling of
    * the q141 z-test (which compares means and is blind under heavy
    * tails) and the distributional complement to q132's KS (KS asks "any
    * difference", U asks "is one systematically larger"). Ranks never
    * materialize per row: ONE map-side-combined scan collapses the two
    * samples to the distinct-VALUE frame (value, t = total count, a =
    * group-A count); the exclusive prefix C(v) = Σ t over values < v
    * runs in the distributed-cumsum idiom (range exchange on value,
    * per-range sums to the driver, partition-local window) — so tied
    * values get the textbook average rank C + (t+1)/2 exactly, at any
    * scale. U_A = Σ a·r − n_A(n_A+1)/2; the normal approximation uses
    * the tie-corrected variance σ² = (n_A·n_B/12)·((N+1) − Σ(t³−t)/
    * (N(N−1))). The Σ a·r double fold runs value-sorted on the gate path
    * (production plain sums, spec ≈ 1e-9); the tie term is a pure
    * integer sum. Degenerate (σ² = 0, a group empty) → NULL z (the q141
    * convention). Returns (n_a, n_b, u_a, u_b, z). */
  def mannWhitneyU(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String,
      deterministic: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    val two = df
      .filter(col(groupCol).cast("string").isin(groupA, groupB))
      .select(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("double").as("__v"))
    val vals = two.groupBy("__v")
      .agg(count(lit(1)).as("__t"),
        sum(when(col("__g") === groupA, 1L).otherwise(0L)).as("__a"))
      .repartitionByRange(p, col("__v").asc)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)
    val sums = vals.groupBy("__pid").agg(sum("__t").as("__s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    if (sums.isEmpty)
      return spark.range(1).select(lit(0L).as("n_a"), lit(0L).as("n_b"),
        lit(null).cast("double").as("u_a"),
        lit(null).cast("double").as("u_b"),
        lit(null).cast("double").as("z"))
    val offsets = sums.map(_._1).zip(sums.scanLeft(0L)(_ + _._2).dropRight(1))
    val offCol = offsets.foldLeft(lit(0L)) { case (acc, (pid, off)) =>
      when(col("__pid") === pid, off).otherwise(acc)
    }
    val cLocal = sum(col("__t")).over(
      Window.partitionBy("__pid").orderBy(col("__v").asc)
        .rowsBetween(Window.unboundedPreceding, -1))
    val rank = (offCol + coalesce(cLocal, lit(0L))).cast("double") +
      ((col("__t").cast("double") + lit(1.0)) / lit(2.0))
    val terms = vals.withColumn("__ar", col("__a").cast("double") * rank)
    val folded = terms.agg(
      Ops.foldSum(deterministic, col("__ar"), col("__v")).as("__ra"),
      sum(col("__t") * col("__t") * col("__t") - col("__t")).as("__tie"),
      sum("__a").as("n_a"), sum(col("__t") - col("__a")).as("n_b"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val nD = naD + nbD
    val ua = col("__ra") - (naD * (naD + lit(1.0))) / lit(2.0)
    val mu = (naD * nbD) / lit(2.0)
    val sig2 = ((naD * nbD) / lit(12.0)) *
      ((nD + lit(1.0)) - col("__tie").cast("double") / (nD * (nD - lit(1.0))))
    folded
      .withColumn("u_a", when(col("n_a") > 0L && col("n_b") > 0L, ua))
      .withColumn("u_b", when(col("n_a") > 0L && col("n_b") > 0L,
        (naD * nbD) - col("u_a")))
      .withColumn("z", when(col("n_a") > 0L && col("n_b") > 0L,
        when(sig2 > 0.0, (col("u_a") - mu) / sqrt(sig2))))
      .select("n_a", "n_b", "u_a", "u_b", "z")
  }

  /** Conversion-latency percentiles: how long users take from their first
    * `fromType` event to the first `toType` event AFTER it — the timing
    * half of the funnel story (q113 counts who converts; this says how
    * fast, which is what an SLA or a "nudge at hour N" campaign needs).
    * Latencies are exact long micros end-to-end; percentiles are the
    * EXACT crossing rows of [[Sampling.weightedQuantiles]] at weight 1
    * (nearest-rank, replayable — no interpolation convention to
    * cross-engine-match). One normalized event scan (lazily checkpointed,
    * both phases slice it), first-event frame is users-sized and
    * broadcast when small, and min(m − f) folds the "first completion
    * after start" into one map-side-combined aggregate. Returns one row
    * per quantile: (q, latency_us, n_started, n_converted). */
  def conversionLatency(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, fromType: String, toType: String,
      qs: Seq[Double]): DataFrame = {
    val (firsts, lats) = conversionCore(df, userCol, tsCol, typeCol,
      fromType, toType)
    val counts = firsts.agg(count(lit(1)).as("n_started"))
      .crossJoin(lats.agg(count(lit(1)).as("n_converted")))
    Sampling.weightedQuantiles(lats.withColumn("__w", lit(1L)),
        "__u", "__lat", "__w", qs)
      .select(col("q"), col("value").as("latency_us"))
      .crossJoin(broadcast(counts))
  }

  /** Shared funnel-timing core: per-user first `fromType` micros and the
    * per-converted-user first-completion-AFTER-start latency. */
  private def conversionCore(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, fromType: String, toType: String)
      : (DataFrame, DataFrame) = {
    val m = unix_micros(col(tsCol).cast("timestamp"))
    val ev = df.select(col(userCol).as("__u"), m.as("__m"),
        col(typeCol).cast("string").as("__t"))
      .localCheckpoint(false)
    val firsts = ev.filter(col("__t") === fromType)
      .groupBy("__u").agg(min("__m").as("__f"))
      .localCheckpoint(false)
    val lats = ev.filter(col("__t") === toType)
      .join(Ops.broadcastIfSmall(firsts), Seq("__u"))
      .filter(col("__m") > col("__f"))
      .groupBy("__u").agg(min(col("__m") - col("__f")).as("__lat"))
      .localCheckpoint(false)
    (firsts, lats)
  }

  /** Horizon conversion rates: of users who started, what fraction
    * converted within 1 day / 7 days / N — the funnel-velocity table a
    * growth review reads next to [[conversionLatency]]'s percentiles
    * (same core, opposite axis: fix the time, read the fraction). One
    * horizons-sized aggregate over the per-user latency frame; rates
    * are exact rationals. Returns one row per horizon:
    * (horizon_us, converted_within, n_started, rate). */
  def conversionRates(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, fromType: String, toType: String,
      horizonsMicros: Seq[Long]): DataFrame = {
    require(horizonsMicros.nonEmpty && horizonsMicros.forall(_ > 0L),
      "horizons must be positive")
    val (firsts, lats) = conversionCore(df, userCol, tsCol, typeCol,
      fromType, toType)
    val started = firsts.agg(count(lit(1)).as("n_started"))
    val aggs = horizonsMicros.map(h =>
      sum(when(col("__lat") <= h, 1L).otherwise(0L)).as(s"__c$h"))
    val agg = lats.agg(aggs.head, aggs.tail: _*)
    val wide = agg.crossJoin(started)
    horizonsMicros.map { h =>
      wide.select(lit(h).as("horizon_us"),
        coalesce(col(s"__c$h"), lit(0L)).as("converted_within"),
        col("n_started"),
        when(col("n_started") > 0L,
          coalesce(col(s"__c$h"), lit(0L)).cast("double") /
            col("n_started").cast("double")).as("rate"))
    }.reduce(_ unionByName _)
  }

  /** Inter-arrival burstiness per key (Goh–Barabási B = (σ−μ)/(σ+μ) over
    * consecutive-event gaps): the one number that separates a steady
    * heartbeat (B → −1), a Poisson stream (B → 0), and bursty human/
    * incident traffic (B → 1) — what a rate-limiter or capacity planner
    * needs BEFORE trusting any mean-rate number, and the per-entity
    * refinement of q115's global volume view. Gaps come from one lag
    * window per key ordered (ts, id) (total order under timestamp ties;
    * the q33/q166 per-key-window precedent — keys parallelize, one key's
    * events co-locate); Σgap stays an exact long, Σgap² runs as a double
    * fold sorted by (ts, id) on the gate path (production plain sums,
    * spec ≈ 1e-9). σ is the population std from sufficient stats with
    * the variance clamped at 0 (guards the −1e-16 rounding tail before
    * sqrt). Keys need ≥ 2 events (≥ 1 gap); σ+μ = 0 (all gaps zero) →
    * NULL burstiness. Returns (key, n_gaps, mean_us, burstiness). */
  def interArrivalStats(df: DataFrame, keyCol: String, tsCol: String,
      idCol: String, deterministic: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = unix_micros(col(tsCol).cast("timestamp"))
    val base = df.select(col(keyCol).as("__k"), m.as("__m"),
      col(idCol).as("__id"))
    val w = Window.partitionBy("__k").orderBy(col("__m").asc, col("__id").asc)
    val gaps = base.withColumn("__prev", lag(col("__m"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .select(col("__k"), col("__m"), col("__id"),
        (col("__m") - col("__prev")).as("__g"))
    val g2 = col("__g").cast("double") * col("__g").cast("double")
    val agg = gaps.groupBy("__k").agg(count(lit(1)).as("n_gaps"),
      sum("__g").as("__s"),
      Ops.foldSum(deterministic, g2, col("__m"), col("__id")).as("__s2"))
    val nD = col("n_gaps").cast("double")
    val mu = col("__s").cast("double") / nD
    val sd = sqrt(greatest(col("__s2") / nD - mu * mu, lit(0.0)))
    agg.select(col("__k").as(keyCol), col("n_gaps"), mu.as("mean_us"),
      when(sd + mu > 0.0, (sd - mu) / (sd + mu)).as("burstiness"))
  }

  /** Per-group OLS trend lines: slope, intercept, and R² of y over x for
    * EVERY group in one pass — "is quality drifting per source", "is
    * spend trending per segment" — the grouped generalization of q96's
    * single regression, built the q179 way: one map-side-combined scan
    * to per-group sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²), then
    * closed-form OLS on the groups-sized frame. On the gate path every
    * double sum folds id-sorted (production plain sums, spec ≈ 1e-9);
    * all derived quantities use a FIXED parenthesization the oracle
    * mirrors. Zero x-variance (vertical line) → NULL slope/intercept/R²;
    * zero y-variance with x-variance → slope 0, R² NULL (the fit is
    * exact but "variance explained" is undefined). Returns
    * (group, n, slope, intercept, r2). */
  def groupTrends(df: DataFrame, groupCol: String, idCol: String,
      xCol: String, yCol: String,
      deterministic: Boolean = false): DataFrame = {
    val base = df.select(col(groupCol).as("__grp"), col(idCol).as("__id"),
      col(xCol).cast("double").as("__x"), col(yCol).cast("double").as("__y"))
    val (x, y, id) = (col("__x"), col("__y"), col("__id"))
    val agg = base.groupBy("__grp").agg(count(lit(1)).as("n"),
      Ops.foldSum(deterministic, x, id).as("__sx"),
      Ops.foldSum(deterministic, y, id).as("__sy"),
      Ops.foldSum(deterministic, x * y, id).as("__sxy"),
      Ops.foldSum(deterministic, x * x, id).as("__sxx"),
      Ops.foldSum(deterministic, y * y, id).as("__syy"))
    val nD = col("n").cast("double")
    val dx = nD * col("__sxx") - col("__sx") * col("__sx")
    val dy = nD * col("__syy") - col("__sy") * col("__sy")
    val num = nD * col("__sxy") - col("__sx") * col("__sy")
    val slope = num / dx
    agg.select(col("__grp").as(groupCol), col("n"),
      when(dx > 0.0, slope).as("slope"),
      when(dx > 0.0, (col("__sy") - slope * col("__sx")) / nD)
        .as("intercept"),
      when(dx > 0.0 && dy > 0.0, (num * num) / (dx * dy)).as("r2"))
  }

  /** Consecutive-day activity streaks per key: longest run, run count,
    * and active-day total — the engagement metric behind "7-day streak"
    * product mechanics and the cohort-health number DAU curves hide.
    * Exact integer epoch days; distinct (key, day) collapses multiple
    * daily events first (key-width frame); runs come from the rank-anchor
    * island identity (day − ascending-rank is constant within a
    * consecutive run — the q181 idiom) over the PRUNED per-(range, key)
    * rank core, never a corpus-wide per-key window; islands are one
    * key-width aggregate. ≤ 100k keys (the rank-core contract). Returns
    * (key, n_days, n_streaks, max_streak). */
  def activityStreaks(df: DataFrame, keyCol: String,
      tsCol: String): DataFrame = {
    val m = unix_micros(col(tsCol).cast("timestamp"))
    val d = lit(86400000000L)
    val days = df.select(col(keyCol).as("__k"),
        ((m - pmod(m, d)) / d).cast("long").as("__day"))
      .distinct()
    val ranked = Sampling.topKPerGroup(
      days.withColumn("__neg", -col("__day")),
      "__k", "__day", "__neg", Long.MaxValue)
    ranked
      .select(col("__k"), col("__day"), (col("__day") - col("rank")).as("__a"))
      .groupBy("__k", "__a").agg(count(lit(1)).as("__len"))
      .groupBy("__k").agg(sum("__len").as("n_days"),
        count(lit(1)).as("n_streaks"), max("__len").as("max_streak"))
      .select(col("__k").as(keyCol), col("n_days"), col("n_streaks"),
        col("max_streak"))
  }

  /** Herfindahl–Hirschman concentration per group: HHI = Σ share² over a
    * categorical mix (1/k_eff — its reciprocal is the "effective number
    * of categories"), plus the top share — the one-number answer to "is
    * this corpus dominated by a single source / is this user's activity
    * all one event type", which drives diversification decisions the
    * way q138's Gini drives inequality ones. One map-side (group, cat)
    * count scan; shares are exact rationals over the group totals; the
    * Σ share² double fold runs category-sorted on the gate path
    * (production plain sums, spec ≈ 1e-9). Returns
    * (group, n, n_cats, top_share, hhi). */
  def concentrationIndex(df: DataFrame, groupCol: String, catCol: String,
      deterministic: Boolean = false): DataFrame = {
    val cells = df.select(col(groupCol).as("__grp"),
        col(catCol).cast("string").as("__c"))
      .groupBy("__grp", "__c").agg(count(lit(1)).as("__n"))
    val share = col("__n").cast("double") / col("__t").cast("double")
    val withTot = cells
      .withColumn("__t",
        sum("__n").over(org.apache.spark.sql.expressions.Window
          .partitionBy("__grp")))
    val term = share * share
    withTot.groupBy("__grp").agg(sum("__n").as("n"),
        count(lit(1)).as("n_cats"),
        (max(col("__n")).cast("double") / max(col("__t")).cast("double"))
          .as("top_share"),
        Ops.foldSum(deterministic, term, col("__c")).as("hhi"))
      .select(col("__grp").as(groupCol), col("n"), col("n_cats"),
      col("top_share"), col("hhi"))
  }

  /** Peak sliding-window rate per key: the maximum number of events any
    * `windowMicros`-wide window ever contained — the number a rate
    * limiter, quota, or capacity plan is actually sized against (means
    * hide the burst; q197's burstiness says bursts EXIST, this says how
    * tall they get). Exact: the peak of a sliding count is always
    * attained at an event time, so count-over-RANGE(-w, 0) per key
    * ordered by micros, then max — one shuffle on the key, range frames
    * are event-sorted within the key's partition (the q33/q166 per-key-
    * window precedent). Ties in ts are fine: RANGE frames include all
    * rows at the boundary value on both engines. Returns
    * (key, n_events, peak). */
  def peakRate(df: DataFrame, keyCol: String, tsCol: String,
      windowMicros: Long): DataFrame = {
    require(windowMicros > 0L, s"window must be positive, got $windowMicros")
    import org.apache.spark.sql.expressions.Window
    val m = unix_micros(col(tsCol).cast("timestamp"))
    val w = Window.partitionBy("__k").orderBy(col("__m"))
      .rangeBetween(-windowMicros, 0L)
    df.select(col(keyCol).as("__k"), m.as("__m"))
      .withColumn("__c", count(lit(1)).over(w))
      .groupBy("__k")
      .agg(count(lit(1)).as("n_events"), max("__c").as("peak"))
      .select(col("__k").as(keyCol), col("n_events"), col("peak"))
  }

  /** Nearest-rank percentile CI over the B replicate means (driver-side —
    * the frame is B rows by construction). Returns (lo, hi) at
    * (α/2, 1−α/2) using the ceil(p·B) nearest-rank convention. */
  def bootstrapCI(means: Seq[Double], alpha: Double = 0.05): (Double, Double) = {
    require(means.nonEmpty, "no replicate means")
    require(alpha > 0.0 && alpha < 1.0, s"alpha in (0,1), got $alpha")
    val s = means.sorted
    def atP(p: Double): Double =
      s(math.max(0, math.min(s.size - 1, math.ceil(p * s.size).toInt - 1)))
    (atP(alpha / 2.0), atP(1.0 - alpha / 2.0))
  }

  /** Per-key exponentially-weighted moving average: the standard
    * monitoring smoother (sₜ = α·xₜ + (1−α)·sₜ₋₁, s₁ = x₁) over an
    * ordered series per key. EWMA is inherently sequential per key, so
    * the shape is one shuffle by key + a per-key sorted left fold
    * (the q66/q96 deterministic-fold idiom) that emits EVERY step, not
    * just the final state — bit-identical across engines and
    * partitionings because the fold order and parenthesization
    * (α·x + β·acc, β precomputed on the driver) are fixed. Contract:
    * one row per (key, ord) — pre-aggregate first (e.g. daily counts);
    * per-key series must fit one task (time-series length, not corpus
    * size). Returns (key, ord, v, ewma). */
  def ewmaPerKey(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String, alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    val aC = lit(alpha)
    val bC = lit(1.0 - alpha)
    val series = df.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(
        col(ordCol).as("o"),
        col(valueCol).cast("double").as("x")))).as("__s"))
    val smoothed = aggregate(
      col("__s"),
      lit(Array.empty[Double]),
      (acc: Column, r: Column) => concat(acc, array(
        when(size(acc) === 0, r.getField("x"))
          .otherwise(aC * r.getField("x") + bC * element_at(acc, -1)))))
    series
      .withColumn("__e", smoothed)
      .select(col(keyCol),
        posexplode(arrays_zip(col("__s"), col("__e"))).as(Seq("__i", "__z")))
      .select(col(keyCol), col("__z.__s.o").as(ordCol),
        col("__z.__s.x").as("v"), col("__z.__e").as("ewma"))
  }

  /** One-sided CUSUM changepoint scores over an ordered per-key series
    * of LONG values (counts, cents): the classic drift detector
    * (Sₜ = max(0, Sₜ₋₁ + xₜ − k), flag when Sₜ > h). Uses the
    * closed form Sₜ = Yₜ − min(0, min_{j≤t} Yⱼ) with Y = running sum of
    * (x − k), so the whole computation is two ordered-window passes of
    * INTEGER arithmetic — exact in any engine, no recursion, no fold.
    * `k` is the per-step allowance (set slightly above the in-control
    * mean), `h` the alarm threshold. Returns the input plus
    * (cusum, flagged). */
  def cusum(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String, k: Long, h: Long): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(ordCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__Y",
        sum(col(valueCol).cast("long") - lit(k)).over(w))
      .withColumn("cusum",
        col("__Y") - least(min(col("__Y")).over(w), lit(0L)))
      .withColumn("flagged", col("cusum") > lit(h))
      .drop("__Y")
  }

  /** 2-D Pareto frontier (maximize BOTH columns): rows no other row
    * dominates — the data-selection skyline ("longest docs at every
    * quality level", "best quality at every length"). Classic sweep:
    * ordered by (x desc, y desc, id asc), a row is on the frontier iff
    * its y strictly exceeds every PRECEDING y (equal-x ties resolve
    * correctly — the higher-y peer comes first and dominates; exact
    * (x, y) duplicates keep the deterministic first-by-id
    * representative). Scale shape: the sweep is a running max, so it
    * runs in the [[Sampling.selectByTokenBudget]] distributed-cumsum
    * idiom — range-repartition (the one corpus-wide exchange, frozen by
    * a lazy checkpoint), per-range maxes collect to the driver (one row
    * per partition) and prefix-max into per-range offsets, then a local
    * window per range — never a one-task global window. Nulls in
    * x/y are the caller's to drop. Returns (id, x, y) frontier rows. */
  def paretoFrontier2D(df: DataFrame, idCol: String, xCol: String,
      yCol: String): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    val ranked = df
      .select(col(idCol), col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
      .repartitionByRange(p, col("__x").desc, col("__y").desc,
        col(idCol).asc)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)
    val maxes = ranked.groupBy("__pid").agg(max(col("__y")).as("__m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1)
    if (maxes.isEmpty)
      return ranked.select(col(idCol), col("__x").as(xCol),
        col("__y").as(yCol)).limit(0)
    // offset of range r = max y over all STRICTLY EARLIER ranges
    val offsets: Map[Int, Double] = maxes.map(_._1)
      .zip(maxes.scanLeft(Double.NegativeInfinity)((a, b) =>
        math.max(a, b._2)).dropRight(1))
      .toMap
    val w = Window.partitionBy(col("__pid"))
      .orderBy(col("__x").desc, col("__y").desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    ranked
      .withColumn("__pm", greatest(
        coalesce(max(col("__y")).over(w), lit(Double.NegativeInfinity)),
        element_at(typedLit(offsets), col("__pid"))))
      .filter(col("__y") > col("__pm"))
      .select(col(idCol), col("__x").as(xCol), col("__y").as(yCol))
  }

  /** EXACT tie-aware ROC-AUC (Mann–Whitney with midranks): the
    * threshold-free quality metric for a scorer against a binary label
    * ("does the quality classifier actually rank good docs above bad
    * ones?"). The corpus collapses to the score-cardinality frame
    * (score, cnt, pos) in one map-side-combined aggregate; the
    * rank machinery is INTEGER on that frame — each distinct score's
    * doubled-midrank is 2·cntBelow + cnt + 1, so
    * Σ_pos 2·midrank = Σ pos·(2·cntBelow + cnt + 1) is an exact long
    * and AUC = (Σ − n₊(n₊+1)) / (2·n₊·n₋) divides ONCE. The
    * cumulative-below pass runs in the distributed-cumsum idiom
    * (range exchange on the score frame + driver prefix offsets), never
    * a one-task window. Degenerate designs (single-class label) report
    * NULL. Returns one row (n, n_pos, n_neg, auc). */
  def aucRoc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    val byScore = df
      .select(col(scoreCol).cast("double").as("__s"),
        col(labelCol).cast("boolean").as("__lbl"))
      .groupBy("__s")
      .agg(count(lit(1)).as("__cnt"),
        sum(when(col("__lbl"), 1L).otherwise(0L)).as("__pos"))
      .repartitionByRange(p, col("__s").asc)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)   // freeze range boundaries (q79 lesson)
    val sums = byScore.groupBy("__pid").agg(sum("__cnt").as("__t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    import spark.implicits._
    if (sums.isEmpty)
      return Seq.empty[(Long, Long, Long, Option[Double])]
        .toDF("n", "n_pos", "n_neg", "auc")
    val offsets: Map[Int, Long] = sums.map(_._1)
      .zip(sums.scanLeft(0L)(_ + _._2).dropRight(1)).toMap
    val w = Window.partitionBy("__pid").orderBy(col("__s").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("__cb",
        coalesce(sum(col("__cnt")).over(w), lit(0L)) +
          element_at(typedLit(offsets), col("__pid")))
      .agg(
        sum(col("__pos") * (lit(2L) * col("__cb") + col("__cnt") + lit(1L)))
          .as("__s2"),
        sum(col("__pos")).as("n_pos"),
        sum(col("__cnt") - col("__pos")).as("n_neg"))
      .select((col("n_pos") + col("n_neg")).as("n"), col("n_pos"),
        col("n_neg"),
        when(col("n_pos") === 0L || col("n_neg") === 0L,
          lit(null).cast("double"))
          .otherwise(
            (col("__s2").cast("double") -
              (col("n_pos") * (col("n_pos") + lit(1L))).cast("double")) /
            (lit(2L) * col("n_pos") * col("n_neg")).cast("double"))
          .as("auc"))
  }

  /** EXACT precision–recall curve + average precision: the imbalanced-
    * class companion to [[aucRoc]] (AUC stays rosy when positives are
    * rare; PR collapses — the right readout for "find the 0.1% of docs
    * worth keeping"). One point per DISTINCT threshold, descending:
    * tp/fp are cumulative counts over scores ≥ t, precision = tp/seen,
    * recall = tp/n_pos; AP is the standard step integral
    * Σ ΔR_i·P_i = (1/P)·Σ pos_i·precision_i.
    *
    * Scale shape: the corpus collapses to the score-cardinality frame
    * (score, cnt, pos) in one map-side-combined aggregate; cumulative
    * counts run in the distributed-cumsum idiom (range exchange desc +
    * driver prefix offsets — never a one-task window). tp/fp/precision/
    * recall per row are exact (integer counts, one division each). The
    * AP fold is FP over the score-cardinality frame: threshold-sorted
    * deterministic fold on the gate path (gates BIN scores, bounding
    * the frame), plain sum in production. Requires ≥1 positive.
    * Returns (threshold, tp, fp, precision, recall) + constant `ap`,
    * ordered by nothing (caller sorts). */
  def prCurve(df: DataFrame, scoreCol: String, labelCol: String,
      deterministic: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    val byScore = df
      .select(col(scoreCol).cast("double").as("__s"),
        col(labelCol).cast("boolean").as("__lbl"))
      .groupBy("__s")
      .agg(count(lit(1)).as("__cnt"),
        sum(when(col("__lbl"), 1L).otherwise(0L)).as("__pos"))
      .repartitionByRange(p, col("__s").desc)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)   // freeze range boundaries (q79 lesson)
    val sums = byScore.groupBy("__pid")
      .agg(sum("__cnt").as("__t"), sum("__pos").as("__p"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val nPos = sums.map(_._3).sum
    require(nPos > 0, "prCurve needs at least one positive label")
    val cntOff: Map[Int, Long] = sums.map(_._1)
      .zip(sums.scanLeft(0L)(_ + _._2).dropRight(1)).toMap
    val posOff: Map[Int, Long] = sums.map(_._1)
      .zip(sums.scanLeft(0L)(_ + _._3).dropRight(1)).toMap
    val w = Window.partitionBy("__pid").orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val curve = byScore
      .withColumn("tp", sum(col("__pos")).over(w) +
        element_at(typedLit(posOff), col("__pid")))
      .withColumn("__seen", sum(col("__cnt")).over(w) +
        element_at(typedLit(cntOff), col("__pid")))
      .select(col("__s").as("threshold"), col("__pos").as("__dp"),
        col("tp"), (col("__seen") - col("tp")).as("fp"),
        (col("tp").cast("double") / col("__seen").cast("double"))
          .as("precision"),
        (col("tp").cast("double") / lit(nPos.toDouble)).as("recall"))
      .localCheckpoint(false)
    val apTerm = ((col("__dp").cast("double") * col("precision")) /
      lit(nPos.toDouble)).as("__t")
    val ap = curve.agg(Ops.foldSum(deterministic, apTerm, col("threshold")))
      .first().getDouble(0)
    curve.select(col("threshold"), col("tp"), col("fp"), col("precision"),
      col("recall")).withColumn("ap", lit(ap))
  }

  /** Welch two-sample t-test (unequal variances): is slice A's mean
    * genuinely different from slice B's? The parametric companion to
    * [[mannWhitney]]-style rank tests — reports the t statistic and the
    * Welch–Satterthwaite degrees of freedom (p-value lookup is the
    * caller's; the repo computes no special functions).
    *
    * Exact sufficient statistics per group — count and Σv as longs on
    * micro-scaled integers, Σv² as DECIMAL(38,0) (the q229 convention:
    * per-row v² fits a long, the corpus sum doesn't) — so the 2-row
    * frame the doubles run on is bit-replayable with fixed
    * parenthesization. Degenerate designs (a side missing, n < 2, or
    * both variances 0) report NULL t/df. Returns one row
    * (n_a, n_b, mean_a, mean_b, var_a, var_b, t, df). */
  def welchTTest(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String,
      microScale: Long = 1000000L): DataFrame = {
    require(microScale >= 1L, s"microScale must be >= 1, got $microScale")
    val md = microScale.toDouble
    val v = round(col(valueCol).cast("double") * lit(md)).cast("long")
    val rows = df.filter(col(groupCol).isin(groupA, groupB))
      .select(col(groupCol).cast("string").as("__g"), v.as("__v"))
      .groupBy("__g")
      .agg(count(lit(1)).as("n"), sum("__v").as("sv"),
        sum((col("__v").cast("decimal(19,0)") *
          col("__v").cast("decimal(19,0)")).cast("decimal(38,0)"))
          .as("ss"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), BigDecimal(r.getDecimal(3)))).toMap
    val spark = df.sparkSession
    import spark.implicits._
    def stats(g: String): Option[(Long, Double, Double)] =
      rows.get(g).map { case (n, sv, ss) =>
        val nD = n.toDouble
        val mean = (sv.toDouble / nD) / md
        val varU =
          if (n < 2) 0.0
          else (((BigDecimal(n) * ss) - (BigDecimal(sv) * BigDecimal(sv)))
            .toDouble / (nD * (nD - 1.0))) / (md * md)
        (n, mean, varU)
      }
    (stats(groupA), stats(groupB)) match {
      case (Some((na, ma, va)), Some((nb, mb, vb)))
          if na >= 2 && nb >= 2 && (va > 0.0 || vb > 0.0) =>
        val sa = va / na.toDouble; val sb = vb / nb.toDouble
        val se2 = sa + sb
        val t = (ma - mb) / math.sqrt(se2)
        val dfW = (se2 * se2) /
          (((sa * sa) / (na - 1).toDouble) + ((sb * sb) / (nb - 1).toDouble))
        Seq((na, nb, ma, mb, va, vb)).toDF("n_a", "n_b", "mean_a", "mean_b",
            "var_a", "var_b")
          .select(col("*"), lit(t).as("t"), lit(dfW).as("df"))
      case (a, b) =>
        Seq((a.map(_._1).getOrElse(0L), b.map(_._1).getOrElse(0L),
          a.map(_._2), b.map(_._2), a.map(_._3), b.map(_._3)))
          .toDF("n_a", "n_b", "mean_a", "mean_b", "var_a", "var_b")
          .select(col("*"), lit(null).cast("double").as("t"),
            lit(null).cast("double").as("df"))
    }
  }

  /** Per-group winsorization: clamp each value into its group's
    * [q_lo, q_hi] EXACT order-statistic bounds — outlier taming that
    * keeps every row (where [[trimmedMeanPerGroup]] drops the tails,
    * winsorizing caps them: the feature-preprocessing standard for
    * heavy-tailed measures). The bounds ride
    * [[discreteQuantilesPerGroup]]'s pruned per-(range, group) rank
    * machinery (one range exchange, window work bounded by groups×2);
    * the clamp itself is a pure projection after a broadcast-gated join
    * of the group-sized bounds frame — NO floating-point arithmetic
    * anywhere (comparisons only), so the output is trivially
    * engine-exact. Returns (group, id, value, winsorized). */
  def winsorizePerGroup(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    require(lo >= 0.0 && hi <= 1.0 && lo < hi,
      s"need 0 <= lo < hi <= 1, got ($lo, $hi)")
    val bounds = discreteQuantilesPerGroup(df, groupCol, idCol, valueCol,
        Seq(lo, hi))
      .groupBy(col(groupCol))
      .agg(min(when(col("q") === lo, col("value"))).as("__lo"),
        min(when(col("q") === hi, col("value"))).as("__hi"))
    df.select(col(groupCol), col(idCol), col(valueCol))
      .join(Ops.broadcastIfSmall(bounds), Seq(groupCol))
      .select(col(groupCol), col(idCol), col(valueCol),
        greatest(col("__lo"), least(col("__hi"), col(valueCol)))
          .as("winsorized"))
  }

  /** Calibration curve + expected calibration error for a [0, 1] scorer
    * against a binary label: per equal-width confidence bin, the mean
    * predicted score (confidence) vs the empirical positive rate
    * (accuracy), plus the n-weighted |gap| rollup
    * ECE = Σ (n_b/N)·|acc_b − conf_b| — the standard "can I trust 0.9
    * to mean 90%?" monitoring readout next to [[aucRoc]] (AUC measures
    * ranking, calibration measures the probabilities themselves).
    * Bin assignment is a pure projection (min(⌊s·bins⌋, bins−1));
    * counts/positives are exact longs; the only FP aggregate is the
    * per-bin score sum — id-sorted fold on the gate path
    * (`deterministic = true`), plain map-side sum in production; ECE
    * folds bin-sorted over the bins-sized frame. Returns one row per
    * OBSERVED bin (bin, n, pos, conf, acc, gap) + the constant `ece`. */
  def calibrationCurve(df: DataFrame, idCol: String, scoreCol: String,
      labelCol: String, bins: Int, deterministic: Boolean = false): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val binned = df.select(col(idCol).as("__id"),
        col(scoreCol).cast("double").as("__s"),
        col(labelCol).cast("boolean").as("__lbl"))
      .withColumn("bin",
        least(floor(col("__s") * lit(bins.toDouble)).cast("long"),
          lit(bins - 1L)))
    val perBin = binned.groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__lbl"), 1L).otherwise(0L)).as("pos"),
        Ops.foldSum(deterministic, col("__s"), col("__id")).as("__ssum"))
      .localCheckpoint(false)
    val nTot = perBin.agg(sum("n")).first().getLong(0)
    require(nTot > 0, "no rows")
    val conf = col("__ssum") / col("n").cast("double")
    val acc = col("pos").cast("double") / col("n").cast("double")
    val curve = perBin.select(col("bin"), col("n"), col("pos"),
      conf.as("conf"), acc.as("acc"), abs(acc - conf).as("gap"))
    val ece = curve
      .select(col("bin"),
        ((col("n").cast("double") / lit(nTot.toDouble)) * col("gap"))
          .as("__t"))
      .agg(Ops.orderedSum(col("__t"), col("bin")))
      .first().getDouble(0)
    curve.withColumn("ece", lit(ece))
  }

  /** Burst collapse (retry-storm dedup): annotate each row with its burst
    * — maximal runs of same-key events separated by gaps ≤ `gapUs` — and
    * whether it is the burst's FIRST row. Collapsing retried clicks,
    * double-submits, and sensor chatter to one representative event is
    * the standard pre-aggregation step before any count-based metric
    * (a retry storm otherwise reads as engagement). Semantics are
    * explicitly gap-to-PREVIOUS-EVENT (the [[sessionize]] islands
    * convention with an explicit (ts, id) tie order), not
    * gap-to-last-kept token debouncing — the islands form is stateless,
    * window-expressible, and SQL-replayable. One shuffle by key;
    * integer-micros arithmetic. Adds (is_first, burst_seq). */
  def collapseBursts(df: DataFrame, keyCols: Seq[String], tsCol: String,
      idCol: String, gapUs: Long): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(gapUs >= 0, s"gapUs must be >= 0, got $gapUs")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__us").asc, col(idCol).asc)
    df.withColumn("__us", unix_micros(col(tsCol).cast("timestamp")))
      .withColumn("is_first",
        lag(col("__us"), 1).over(w).isNull ||
          (col("__us") - lag(col("__us"), 1).over(w)) > gapUs)
      .withColumn("burst_seq",
        sum(when(col("is_first"), 1L).otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__us")
  }

  /** User growth curve: per day, the distinct active users, the NEW
    * users (first ever seen that day), and the cumulative user count —
    * the acquisition-vs-activity report (q112's cohort retention slices
    * the same first-seen frame by cohort; this is the corpus-level
    * trajectory). Exact integers end-to-end: actives from one
    * (day, user)-distinct aggregate, news from the user-keyed min-day
    * frame, the cumulative sum over the DAYS-sized frame only (the
    * unpartitioned window is bounded by the calendar, not the corpus).
    * Returns (day, n_active, n_new, cum_users). */
  def userGrowthCurve(df: DataFrame, tsCol: String,
      userCol: String): DataFrame = {
    val day = date_trunc("day", col(tsCol).cast("timestamp")).cast("date")
    val base = df.select(day.as("day"), col(userCol).as("__u"))
    val active = base.distinct()
      .groupBy("day").agg(count(lit(1)).as("n_active"))
    val news = base.groupBy("__u").agg(min(col("day")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_new"))
    val wCum = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    active.join(news, Seq("day"), "left")
      .na.fill(0L, Seq("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(wCum))
  }

  /** Transition dwell-time matrix: for each (from-type → to-type) pair,
    * how LONG users take between the two events — q114's transition
    * matrix gives the probabilities, this gives the durations (the
    * "users stall 40 minutes between signup and purchase" number that
    * decides where a funnel intervention goes). One lag window per user
    * (ts, id)-ordered, then a types²-bounded integer aggregate: n, total
    * gap as exact micros (a long — no fold discipline needed), min/max,
    * and the only double is the final mean-seconds division.
    * Returns (from_type, to_type, n, mean_gap_s, min_gap_s, max_gap_s). */
  def dwellMatrix(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("__us").asc, col(idCol).asc)
    df.select(col(userCol), col(idCol), col(typeCol).as("to_type"),
        unix_micros(col(tsCol).cast("timestamp")).as("__us"))
      .withColumn("from_type", lag(col("to_type"), 1).over(w))
      .withColumn("__gap", col("__us") - lag(col("__us"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"), sum("__gap").as("__total"),
        min("__gap").as("__min"), max("__gap").as("__max"))
      .select(col("from_type"), col("to_type"), col("n"),
        ((col("__total").cast("double") / col("n").cast("double")) /
          lit(1000000.0)).as("mean_gap_s"),
        (col("__min").cast("double") / lit(1000000.0)).as("min_gap_s"),
        (col("__max").cast("double") / lit(1000000.0)).as("max_gap_s"))
  }

  /** Decile lift curve: rank rows by score descending, cut into
    * equal-population bins (bucket 0 = the top scores), and report each
    * bin's positive rate against the overall rate — the
    * "does the top decile really hold 3× the positives" table that
    * q173's single-number AUC and q174's calibration curve don't show
    * (AUC says the ORDERING works; lift says what acting on a top slice
    * actually buys). Exact global ranks (the q140 integer-div bucket
    * formula — never a double quotient at a boundary), integer counts,
    * and lift computed as (pos·total_n)/(cnt·total_pos) — integer
    * products, ONE final division. Returns
    * (bucket, cnt, n_pos, rate, lift). */
  def liftCurve(df: DataFrame, idCol: String, scoreCol: String,
      labelCol: String, bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val ranked = Sampling.globalRowNumber(
      df.select(col(idCol).as("__id"), col(scoreCol).cast("double").as("__v"),
        col(labelCol).cast("boolean").as("__l")),
      "__rank", col("__v").desc, col("__id").asc)
      .localCheckpoint(false)
    val n = ranked.count()
    require(n > 0, "no rows to bin")
    val b = ranked
      .withColumn("bucket", expr(s"((__rank - 1L) * ${bins}L) div ${n}L"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("__l"), 1L).otherwise(0L)).as("n_pos"))
    val totals = b.agg(sum("cnt").as("__tn"), sum("n_pos").as("__tp"))
    b.crossJoin(broadcast(totals))
      .select(col("bucket"), col("cnt"), col("n_pos"),
        (col("n_pos").cast("double") / col("cnt").cast("double")).as("rate"),
        ((col("n_pos") * col("__tn")).cast("double") /
          (col("cnt") * col("__tp")).cast("double")).as("lift"))
  }

  /** Watermark-lateness audit: for each candidate watermark delay, how
    * many events a streaming job with that delay would DROP — the
    * measured input to `withWatermark` tuning (too small silently loses
    * data, too large bloats every stateful operator's buffers; this
    * table prices the trade on the real stream before committing).
    *
    * An event's lateness is `runningMax(event time in ARRIVAL order) −
    * its event time` — exactly the quantity Structured Streaming's
    * watermark compares against the delay. The running max runs in the
    * distributed-cumsum idiom specialized to max: one range exchange on
    * (arrival, tiebreak), per-partition window, driver PREFIX-MAX
    * offsets (a partitions-sized collect) — never a one-task global
    * window; max is order-insensitive across the prefix so only the
    * within-partition order needs the explicit deterministic tiebreak.
    * All delays evaluate in ONE wide aggregate over the lateness frame
    * (the q219 idiom). Integer micros end-to-end; the only doubles are
    * the final fractions. Returns (delay_us, n_dropped, frac_dropped),
    * one row per candidate delay. */
  def watermarkAudit(df: DataFrame, tsCol: String, arrivalCol: String,
      tieCol: String, delaysUs: Seq[Long]): DataFrame = {
    require(delaysUs.nonEmpty, "no candidate delays")
    require(delaysUs.forall(_ >= 0), "delays must be >= 0")
    val spark = df.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    val base = df.select(col(arrivalCol).cast("long").as("__arr"),
        col(tieCol).as("__tb"),
        unix_micros(col(tsCol).cast("timestamp")).as("__ts"))
      .repartitionByRange(p, col("__arr").asc, col("__tb").asc)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false) // freeze range boundaries (q79 lesson)
    val maxes = base.groupBy("__pid").agg(max("__ts").as("__m"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val prefix: Map[Int, Long] = {
      var run = Long.MinValue
      maxes.map { case (pid, m) =>
        val out = pid -> run; run = math.max(run, m); out
      }.toMap
    }
    val w = Window.partitionBy("__pid")
      .orderBy(col("__arr").asc, col("__tb").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val late = base
      .withColumn("__rm", greatest(max(col("__ts")).over(w),
        element_at(typedLit(prefix), col("__pid"))))
      .select((col("__rm") - col("__ts")).as("__late"))
    val aggs = (count(lit(1)).as("__n") +:
      delaysUs.zipWithIndex.map { case (d, i) =>
        sum(when(col("__late") > lit(d), 1L).otherwise(0L)).as(s"__d$i")
      })
    val row = late.agg(aggs.head, aggs.tail: _*)
    val pairs = delaysUs.zipWithIndex.map { case (d, i) =>
      struct(lit(d).as("delay_us"), col(s"__d$i").as("n_dropped"),
        (col(s"__d$i").cast("double") / col("__n").cast("double"))
          .as("frac_dropped"))
    }
    row.select(explode(array(pairs: _*)).as("p")).select("p.*")
  }

  /** Benjamini–Hochberg FDR adjustment: turn a frame of per-test
    * p-values (one row per slice/metric test — the q132 KS, q153 PSI,
    * q171 z-test family all emit MANY tests per run) into q-values and
    * an αFDR reject decision. Running hundreds of slice tests at raw
    * α=0.05 guarantees false alarms; BH is the standard correction.
    *
    * Math: sort p ascending (ties broken by test id — deterministic),
    * raw_i = p_(i)·n/i, q_i = min(1, min_{j≥i} raw_j) (the monotone
    * step), reject q_i ≤ α.
    *
    * Shape (no single-partition rank exchange — the [[Sampling.globalRowNumber]]
    * idiom): ONE range exchange on (p, id) + driver per-partition offsets
    * gives global ranks; the suffix-min runs per-partition with a
    * driver-side suffix over the partitions-sized min table. All double
    * arithmetic is two IEEE ops (p·n then /i) + exact min/cap, so a SQL
    * oracle replays it bit-for-bit. Scale: n tests shuffle once, ranked
    * by range — no all-to-one exchange anywhere. */
  def bhAdjust(df: DataFrame, idCol: String, pCol: String,
      alpha: Double = 0.05): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val base = df
      .select(col(idCol).as("test_id"), col(pCol).cast("double").as("p"))
      .repartitionByRange(parts, col("p").asc, col("test_id").asc)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false) // freeze range boundaries (q79 lesson)
    val counts = base.groupBy("__pid").agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    if (counts.isEmpty)
      return base.select(col("test_id"), col("p"),
        lit(0L).as("rank"), lit(0.0).as("q_value"),
        lit(false).as("reject")).limit(0)
    val n = counts.map(_._2).sum
    val offsets: Map[Int, Long] = counts.map(_._1)
      .zip(counts.scanLeft(0L)(_ + _._2).dropRight(1)).toMap
    val wAsc = Window.partitionBy("__pid")
      .orderBy(col("p").asc, col("test_id").asc)
    val ranked = base
      .withColumn("rank", row_number().over(wAsc).cast("long") +
        element_at(typedLit(offsets), col("__pid")))
      .withColumn("__raw",
        (col("p") * lit(n.toDouble)) / col("rank").cast("double"))
      .localCheckpoint(false) // __raw read twice: partition mins + final
    // suffix min across LATER partitions, computed on the driver over the
    // partitions-sized min table (range partitioning orders partitions by
    // (p, id), so "later partition" = "larger rank")
    val pmins = ranked.groupBy("__pid").agg(min("__raw").as("__m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1)
    val sufAfter: Map[Int, Double] = {
      var run = Double.MaxValue
      pmins.reverse.map { case (pid, m) =>
        val out = pid -> run; run = math.min(run, m); out
      }.toMap
    }
    val wDesc = Window.partitionBy("__pid").orderBy(col("rank").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked
      .withColumn("q_value", least(lit(1.0),
        least(min(col("__raw")).over(wDesc),
          element_at(typedLit(sufAfter), col("__pid")))))
      .select(col("test_id"), col("p"), col("rank"), col("q_value"),
        (col("q_value") <= lit(alpha)).as("reject"))
  }

  /** CUPED variance reduction (Deng et al., WSDM'13): adjust each unit's
    * post-period metric by its PRE-period metric — the single highest-leverage
    * trick in online experimentation (the pre-period explains user-level
    * variance the treatment can't touch, so the adjusted means separate at a
    * fraction of the sample size).
    *
    * Input is a per-UNIT frame with both metrics as EXACT LONGS
    * (micro-units — the q307 cents convention; aggregate raw events to
    * units upstream). θ = cov(X,Y)/var(X) from exact DECIMAL(38,0)
    * sufficient statistics over all units (the [[Sampling.neymanAllocation]]
    * convention: per-unit products fit DECIMAL(19,0)², the corpus sums get
    * 38 digits), converted to double ONCE with a fixed parenthesization —
    * fold-order-free, so a HUGEINT SQL oracle replays it bit-for-bit.
    * Adjusted metric: Y_adj = Y − θ·(X − mean(X)) (global mean centering
    * keeps means interpretable). Per variant: mean, adjusted mean,
    * variance, and adjusted variance (var_adj = var_y − 2θcov + θ²var_x).
    *
    * Shape: one unit-cardinality aggregate for the globals + one
    * variant-cardinality aggregate — two map-side-combined passes, no
    * per-unit join back. Returns one row per variant. */
  def cupedAdjust(df: DataFrame, unitCol: String, variantCol: String,
      preCol: String, postCol: String): DataFrame = {
    val g = df.select(col(unitCol).as("__u"),
      col(variantCol).cast("string").as("variant"),
      col(preCol).cast("long").as("__x"), col(postCol).cast("long").as("__y"))
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    val aggCols = Seq(
      count(lit(1)).as("__n"),
      sum(d19(col("__x")).cast("decimal(38,0)")).as("__sx"),
      sum(d19(col("__y")).cast("decimal(38,0)")).as("__sy"),
      sum((d19(col("__x")) * d19(col("__x"))).cast("decimal(38,0)")).as("__sxx"),
      sum((d19(col("__x")) * d19(col("__y"))).cast("decimal(38,0)")).as("__sxy"),
      sum((d19(col("__y")) * d19(col("__y"))).cast("decimal(38,0)")).as("__syy"))
    val global = g.agg(aggCols.head, aggCols.tail: _*).first()
    val nG = global.getLong(0)
    require(nG >= 2, s"CUPED needs >= 2 units, got $nG")
    def gd(i: Int): Double = global.getDecimal(i).doubleValue()
    val (sx, sy, sxx, sxy) = (gd(1), gd(2), gd(3), gd(4))
    val nD = nG.toDouble
    val varXNum = (nD * sxx) - (sx * sx) // n²·var scale — exact-int-sourced
    val theta =
      if (varXNum == 0.0) 0.0 else ((nD * sxy) - (sx * sy)) / varXNum
    val meanX = sx / nD
    val perVariant = g.groupBy("variant").agg(aggCols.head, aggCols.tail: _*)
    val vn = col("__n").cast("double")
    def vd(name: String): Column = col(name).cast("double")
    val meanY = vd("__sy") / vn
    val meanXv = vd("__sx") / vn
    def varOf(sqName: String, sName: String): Column =
      when(col("__n") > 1L,
        ((vn * vd(sqName)) - (vd(sName) * vd(sName))) /
          (vn * (col("__n") - 1L).cast("double"))).otherwise(lit(0.0))
    val covV = when(col("__n") > 1L,
      ((vn * vd("__sxy")) - (vd("__sx") * vd("__sy"))) /
        (vn * (col("__n") - 1L).cast("double"))).otherwise(lit(0.0))
    val varY = varOf("__syy", "__sy")
    val varX = varOf("__sxx", "__sx")
    perVariant.select(col("variant"), col("__n").as("n_units"),
      meanXv.as("mean_pre"), meanY.as("mean_post"),
      (meanY - (lit(theta) * (meanXv - lit(meanX)))).as("mean_post_adj"),
      varY.as("var_post"),
      ((varY - ((lit(2.0) * lit(theta)) * covV)) +
        ((lit(theta) * lit(theta)) * varX)).as("var_post_adj"),
      lit(theta).as("theta"))
  }

  /** Delete-one-bucket jackknife for a RATIO-of-sums metric (revenue per
    * user, tokens per doc, CTR): ratio metrics have no closed-form
    * variance, and unit-level resampling at corpus scale is a shuffle
    * per replicate — the bucket jackknife gets a defensible standard
    * error from ONE aggregate. Units hash into `buckets` groups (md5 —
    * all of a unit's rows land in one bucket, the exchangeability the
    * jackknife needs); r_h = ratio with bucket h removed; variance =
    * (H−1)/H · Σ(r_h − r̄)² over the H non-empty buckets.
    *
    * Numerator/denominator are EXACT LONGS (micro-units upstream — the
    * q307 cents convention), so per-bucket sufficient statistics are
    * exact; the H-row fold runs as a bucket-ORDERED deterministic
    * aggregate (bounded by `buckets` ≤ 4096 — never corpus-sized), so
    * the doubles are bit-replayable by a SQL oracle. Degenerate designs
    * (a leave-out denominator of 0, or H < 2) report NULL se.
    * Returns one row: (n_rows, h, ratio, se, ci_lo, ci_hi) at ±1.96·se. */
  def jackknifeRatio(df: DataFrame, unitCol: String, numCol: String,
      denCol: String, buckets: Int = 32): DataFrame = {
    require(buckets >= 2 && buckets <= 4096,
      s"buckets must be in [2, 4096], got $buckets")
    val b = pmod(graft.operators.Dedup.md5Hash60(col(unitCol)),
      lit(buckets.toLong))
    val perBucket = df
      .select(b.as("__b"), col(numCol).cast("long").as("__y"),
        col(denCol).cast("long").as("__x"))
      .groupBy("__b").agg(count(lit(1)).as("__n"),
        sum("__y").as("__sy"), sum("__x").as("__sx"))
      .localCheckpoint(false) // H-row frame, read by totals + the fold
    // exact totals from the bucket frame (long sums of ≤ `buckets` longs)
    val tot = perBucket.agg(sum("__n").as("n"), sum("__sy").as("sy"),
      sum("__sx").as("sx")).first()
    val (nRows, sy, sx) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    val spark = df.sparkSession
    import spark.implicits._
    if (sx == 0L)
      return Seq((nRows, 0L)).toDF("n_rows", "h")
        .select(col("n_rows"), col("h"), lit(null).cast("double").as("ratio"),
          lit(null).cast("double").as("se"),
          lit(null).cast("double").as("ci_lo"),
          lit(null).cast("double").as("ci_hi"))
    val ratio = sy.toDouble / sx.toDouble
    // leave-one-out ratios; a bucket holding ALL denominator mass makes
    // its replicate undefined → the whole se is honestly NULL
    val loo = perBucket.select(col("__b"),
      when(lit(sx) - col("__sx") === 0L, lit(null))
        .otherwise((lit(sy) - col("__sy")).cast("double") /
          (lit(sx) - col("__sx")).cast("double")).as("__r"))
      .localCheckpoint(false)
    val s1 = loo.agg(count(lit(1)).as("h"),
      sum(when(col("__r").isNull, 1L).otherwise(0L)).as("bad"),
      Ops.orderedSum(col("__r"), col("__b")).as("sr")).first()
    val h = s1.getLong(0)
    if (h < 2 || s1.getLong(1) > 0L)
      return Seq((nRows, h)).toDF("n_rows", "h")
        .select(col("n_rows"), col("h"), lit(ratio).as("ratio"),
          lit(null).cast("double").as("se"),
          lit(null).cast("double").as("ci_lo"),
          lit(null).cast("double").as("ci_hi"))
    val rbar = s1.getDouble(2) / h.toDouble
    val ssq = loo.agg(Ops.orderedSum(
      (col("__r") - lit(rbar)) * (col("__r") - lit(rbar)), col("__b")))
      .first().getDouble(0)
    val variance = (lit((h - 1).toDouble) / lit(h.toDouble)) * lit(ssq)
    Seq((nRows, h)).toDF("n_rows", "h")
      .select(col("n_rows"), col("h"), lit(ratio).as("ratio"),
        sqrt(variance).as("se"),
        (lit(ratio) - (lit(1.96) * sqrt(variance))).as("ci_lo"),
        (lit(ratio) + (lit(1.96) * sqrt(variance))).as("ci_hi"))
  }

  /** Sample-ratio-mismatch (SRM) check: the MANDATORY pre-read before
    * trusting any A/B metric — a χ² goodness-of-fit of observed arm
    * counts against the DESIGNED split (a 50/50 that landed 52/48 at
    * scale means the assignment or logging pipeline is broken and every
    * downstream comparison is biased). One exact-long count per arm;
    * expected counts and the χ² fold run arm-ordered on the driver over
    * the ≤|arms| frame. Rows whose arm is NOT in `expected` are counted
    * (`n_unexpected` — its own red flag) but excluded from the test;
    * designed arms with zero observations contribute (0−E)²/E like any
    * other. Returns one row per designed arm
    * (arm, n_obs, expected_n, contrib) + constants
    * (n, n_unexpected, chi2, dof). */
  def srmCheck(df: DataFrame, armCol: String,
      expected: Map[String, Double]): DataFrame = {
    require(expected.nonEmpty, "expected must be non-empty")
    require(expected.values.forall(_ > 0.0), "expected ratios must be > 0")
    require(math.abs(expected.values.sum - 1.0) < 1e-9,
      s"expected ratios must sum to 1, got ${expected.values.sum}")
    val arms = expected.keys.toSeq
    val counts = df.select(col(armCol).cast("string").as("__arm"))
      .groupBy("__arm").agg(count(lit(1)).as("__n"))
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1))
    val obs = counts.collect { case (Some(a), n) if expected.contains(a) =>
      a -> n }.toMap
    val nUnexpected = counts.collect {
      case (a, n) if a.isEmpty || !expected.contains(a.get) => n }.sum
    val n = obs.values.sum
    var chi2 = 0.0
    val rows = arms.sorted.map { arm =>
      val o = obs.getOrElse(arm, 0L)
      val e = n.toDouble * expected(arm)
      val contrib =
        if (e > 0.0) ((o.toDouble - e) * (o.toDouble - e)) / e else 0.0
      chi2 += contrib
      (arm, o, e, contrib)
    }
    val spark = df.sparkSession
    import spark.implicits._
    rows.toDF("arm", "n_obs", "expected_n", "contrib")
      .select(col("*"), lit(n).as("n"), lit(nUnexpected).as("n_unexpected"),
        lit(chi2).as("chi2"), lit((expected.size - 1).toLong).as("dof"))
  }

  /** Anytime-valid confidence sequence per arm: the peeking-safe
    * experiment monitor — a fixed-n CI is only valid if you look ONCE;
    * dashboards look daily, and the first day the naive CI excludes 0
    * is routinely a false positive. This emits, per (arm, day), a
    * cumulative mean with a half-width valid SIMULTANEOUSLY at every
    * day: Hoeffding + a union bound with α_t = 6α/(π²t²) over looks,
    * half_t = (hi−lo)·√(ln(2π²t²/(6α)) / (2t)) — conservative vs
    * stitched boundaries, but closed-form and replayable, and the
    * guarantee (P(any day's interval misses μ) ≤ α for iid values in
    * [lo, hi]) is exact. Values are VALIDATED into [lo, hi] (a single
    * extra check on the daily frame; out-of-range data voids the bound,
    * so it throws rather than lies).
    *
    * Shape: one (arm, day) exact micro-integer aggregate, per-arm
    * cumulative windows over the day-cardinality frame (the kaplanMeier
    * granularity contract), pure closed form after. Returns
    * (arm, day, n_cum, mean_cum, half, ci_lo, ci_hi). */
  def confidenceSequence(df: DataFrame, armCol: String, tsCol: String,
      valueCol: String, lo: Double, hi: Double, alpha: Double = 0.05,
      microScale: Long = 1000000L): DataFrame = {
    require(hi > lo, s"need hi > lo, got [$lo, $hi]")
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    require(microScale >= 1L, s"microScale must be >= 1, got $microScale")
    val m = unix_micros(col(tsCol)); val dUs = lit(86400000000L)
    val md = microScale.toDouble
    val v = col(valueCol).cast("double")
    val daily = df.select(col(armCol).cast("string").as("arm"),
        ((m - pmod(m, dUs)) / dUs).cast("long").as("day"),
        round(v * lit(md)).cast("long").as("__v"),
        when(v < lo || v > hi, 1L).otherwise(0L).as("__oob"))
      .groupBy("arm", "day")
      .agg(count(lit(1)).as("__n"), sum("__v").as("__s"),
        sum("__oob").as("__b"))
      .localCheckpoint(false)
    val oob = daily.agg(coalesce(sum("__b"), lit(0L))).first().getLong(0)
    require(oob == 0L,
      s"$oob values outside [$lo, $hi] — the confidence sequence's " +
        "guarantee assumes bounded support; clip or widen the bound")
    val w = Window.partitionBy("arm").orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val t = sum(col("__n")).over(w)
    val tD = t.cast("double")
    val mean = ((sum(col("__s")).over(w).cast("double") / tD) / lit(md))
    val half = lit(hi - lo) * sqrt(
      log((((lit(2.0) * (lit(math.Pi) * lit(math.Pi))) * (tD * tD)) /
        (lit(6.0) * lit(alpha)))) / (lit(2.0) * tD))
    daily.select(col("arm"), col("day"), t.as("n_cum"),
        mean.as("mean_cum"), half.as("half"),
        (mean - half).as("ci_lo"), (mean + half).as("ci_hi"))
  }

  /** Exact-matching average treatment effect on the treated (ATT):
    * strata = the distinct `keyCols` combinations holding BOTH arms;
    * within each, the arms are exchangeable-by-construction on those
    * keys, so ATT = Σ_s n_t(s)·(x̄_t(s) − x̄_c(s)) / Σ_s n_t(s) — the
    * causal-inference workhorse when the confounders are a handful of
    * categorical keys (source, language, day-of-week). Treated rows in
    * strata with NO control match are DROPPED and counted
    * (`n_treated_unmatched` — a large value means the matching keys
    * don't overlap and the estimate answers a narrower question).
    *
    * One (keys, arm) exact micro-integer aggregate; per-stratum means
    * are exact-rational; the stratum-weighted fold is FP over the
    * strata-cardinality frame — key-sorted under `deterministic = true`
    * (the oracle path), plain map-side sum in production. Returns one
    * row (n_strata_matched, n_treated_matched, n_treated_unmatched,
    * att). */
  def exactMatchedATT(df: DataFrame, keyCols: Seq[String],
      treatCol: String, valueCol: String, microScale: Long = 1000000L,
      deterministic: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(microScale >= 1L, s"microScale must be >= 1, got $microScale")
    val md = microScale.toDouble
    // u0001-joined so adjacent keys cannot collide; NULL key values
    // coalesce to a sentinel so they stratify rather than vanish
    // (concat_ws silently skips NULLs)
    val key = concat_ws("",
      keyCols.map(k => coalesce(col(k).cast("string"), lit("NULL"))): _*)
    val perArm = df.select(key.as("__k"),
        col(treatCol).cast("boolean").as("__t"),
        round(col(valueCol).cast("double") * lit(md)).cast("long").as("__v"))
      .groupBy("__k", "__t")
      .agg(count(lit(1)).as("__n"), sum("__v").as("__s"))
    val strata = perArm.groupBy("__k").agg(
        sum(when(col("__t"), col("__n"))).as("__nt"),
        sum(when(col("__t"), col("__s"))).as("__st"),
        sum(when(!col("__t"), col("__n"))).as("__nc"),
        sum(when(!col("__t"), col("__s"))).as("__sc"))
      .localCheckpoint(false)
    val matched = strata.filter(col("__nt").isNotNull &&
      col("__nc").isNotNull)
    val unmatchedT = strata.filter(col("__nc").isNull)
      .agg(coalesce(sum("__nt"), lit(0L))).first().getLong(0)
    val term = (col("__nt").cast("double") *
      (((col("__st").cast("double") / col("__nt").cast("double")) / lit(md)) -
       ((col("__sc").cast("double") / col("__nc").cast("double")) / lit(md))))
    val folded = matched.agg(count(lit(1)).as("n_strata"),
      coalesce(sum("__nt"), lit(0L)).as("n_treated"),
      coalesce(Ops.foldSum(deterministic, term, col("__k")), lit(0.0))
        .as("__num"))
    folded.select(col("n_strata").as("n_strata_matched"),
      col("n_treated").as("n_treated_matched"),
      lit(unmatchedT).as("n_treated_unmatched"),
      when(col("n_treated") === 0L, lit(null).cast("double"))
        .otherwise(col("__num") / col("n_treated").cast("double")).as("att"))
  }

  /** Poisson spike detector with a DEFENSIBLE bound: per (key, day)
    * event count, the Chernoff upper tail P(X ≥ x) ≤ e^{x−λ}·(λ/x)^x
    * under the key's leave-one-out baseline rate
    * λ = (total − x)/(days − 1) — a principled "this spike is
    * ≤ α-probable under the key's own history" flag where a z-score
    * (q115's monitor) assumes symmetry that counts don't have. The
    * bound is exp(x − λ + x·ln(λ/x)) for x > λ and 1 otherwise (no
    * special functions — replayable closed form).
    *
    * Shape: one scan to the (key, day)-cardinality count frame (exact
    * longs), one key-cardinality totals aggregate joined back, pure
    * per-row closed form after that — no fold anywhere. Keys observed
    * on < 2 distinct days report NULL (no leave-one-out baseline).
    * Returns (key, day, n, lambda, bound, flagged). */
  def poissonSpikeBound(df: DataFrame, keyCol: String, tsCol: String,
      alpha: Double = 0.001): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    val m = unix_micros(col(tsCol)); val dUs = lit(86400000000L)
    val daily = df.select(col(keyCol).as("key"),
        ((m - pmod(m, dUs)) / dUs).cast("long").as("day"))
      .groupBy("key", "day").agg(count(lit(1)).as("n"))
    val totals = daily.groupBy("key")
      .agg(sum("n").as("__tot"), count(lit(1)).as("__days"))
    val xD = col("n").cast("double")
    val lam = (col("__tot") - col("n")).cast("double") /
      (col("__days") - lit(1L)).cast("double")
    daily.join(totals, Seq("key"))
      .select(col("key"), col("day"), col("n"),
        when(col("__days") < 2L, lit(null).cast("double"))
          .otherwise(lam).as("lambda"))
      .withColumn("bound",
        when(col("lambda").isNull, lit(null).cast("double"))
          .when(xD <= col("lambda"), lit(1.0))
          .when(col("lambda") === 0.0, lit(0.0))
          .otherwise(exp((xD - col("lambda")) +
            (xD * log(col("lambda") / xD)))))
      .withColumn("flagged",
        when(col("bound").isNull, lit(null).cast("boolean"))
          .otherwise(col("bound") <= lit(alpha)))
  }
}
