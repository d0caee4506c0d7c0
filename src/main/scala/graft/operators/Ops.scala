package graft.operators

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Projection / filter / reshape operators.
  * Reference: gluestick/pandas_utils.py:74-113, etl_utils.py:1042-1177. */
object Ops {

  private def quoted(name: String): String = s"`${name.replace("`", "``")}`"

  /** Broadcast hint gated on Catalyst's driver-side size estimate: hint only
    * when the plan's estimated size fits under the session's
    * `autoBroadcastJoinThreshold`; otherwise return the frame unhinted so
    * AQE picks the strategy from RUNTIME sizes. An unconditional hint on an
    * unbounded side OOMs the driver once tenant data outgrows memory.
    *
    * A caller that already knows the frame's exact row count passes it as
    * `rows`: the size is then `rows` × Spark's per-row default size. A
    * checkpointed or join-derived frame has no usable estimate (a join's
    * estimate multiplies its children's), so the estimate alone would
    * plan a sort-merge join that AQE turns into a broadcast only after one
    * shuffle-map job per side. */
  def broadcastIfSmall(df: DataFrame, rows: Option[Long] = None): DataFrame = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val size: BigInt = rows match {
      case Some(n) => BigInt(n) * (8L + df.schema.map(_.dataType.defaultSize.toLong).sum)
      case None => df.queryExecution.optimizedPlan.stats.sizeInBytes
    }
    if (threshold > 0 && size <= threshold) broadcast(df) else df
  }

  /** Runs `a` and `b` at once and returns both outcomes. The two threads
    * are created for the call, not drawn from a shared pool, so each
    * inherits the caller's Spark local properties (job group, tags), which
    * a thread copies when it starts. */
  def concurrently[A, B](a: => A, b: => B): (Try[A], Try[B]) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fa = Future(Try(a))
      val fb = Future(Try(b))
      (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf))
    } finally pool.shutdown()
  }

  /** Σ `term` over the group, folded in ascending (`order`…, `term`)
    * order: the same bits however the rows are partitioned, and the fold
    * an ordered SQL sum replays. Like `sum`, a null term is skipped and a
    * group with no non-null term sums to NULL. The sorted list holds the
    * whole group in one aggregation buffer, so every caller's bound is
    * audited in BoundednessSpec. */
  def orderedSum(term: Column, order: Column*): Column = {
    val fields = order.zipWithIndex.map { case (c, i) => c.as(s"__o$i") } :+
      term.as("__t")
    aggregate(sort_array(collect_list(when(term.isNotNull, struct(fields: _*)))),
      lit(null).cast("double"),
      (acc, x) => coalesce(acc, lit(0.0)) + x.getField("__t"))
  }

  /** The one deterministic/production split of a Σ: [[orderedSum]] on the
    * gate path (bit-exact oracle replay), a plain map-side-combined `sum`
    * in production. */
  def foldSum(deterministic: Boolean, term: Column, order: Column*): Column =
    if (deterministic) orderedSum(term, order: _*) else sum(term)

  /** list → column subset; map → select(keys ∩ columns) + rename.
    * Reference rename (pandas_utils.py:74-113). */
  def rename(df: DataFrame, targets: Seq[String]): DataFrame = {
    val present = targets.filter(df.columns.contains)
    df.select(present.map(c => col(quoted(c))): _*)
  }

  def rename(df: DataFrame, mapping: Map[String, String]): DataFrame = {
    val present = df.columns.filter(mapping.contains)
    df.select(present.toIndexedSeq.map(c => col(quoted(c)).as(mapping(c))): _*)
  }

  /** Filter rows whose `idField` ∈ `filterIds` (plus optional partition
    * equality), project `targetFields`. Reference pluck_fields
    * (etl_utils.py:1042-1141). With a large id set, pass `idsDf` instead —
    * becomes a semi-join rather than a giant IN-list literal. */
  def pluckFields(
      df: DataFrame,
      idField: String,
      filterIds: Seq[Any],
      targetFields: Seq[String],
      partitionKey: Option[(String, Any)] = None): DataFrame = {
    val base = partitionKey match {
      case Some((k, v)) => df.filter(col(quoted(k)) === lit(v))
      case None         => df
    }
    base.filter(col(quoted(idField)).isin(filterIds: _*))
      .select(targetFields.map(c => col(quoted(c))): _*)
  }

  def pluckFieldsJoin(
      df: DataFrame,
      idField: String,
      idsDf: DataFrame,
      targetFields: Seq[String]): DataFrame =
    df.join(broadcast(idsDf.toDF(idField).distinct()), Seq(idField), "left_semi")
      .select(targetFields.map(c => col(quoted(c))): _*)

  /** Keep only columns matching a regex; optionally reshape to an array of
    * `{name, value}` structs ("custom fields" form). Reference
    * pluck_fields_by_regex (etl_utils.py:1161-1177). */
  def pluckFieldsByRegex(
      df: DataFrame,
      regex: String,
      returnAsCf: Boolean = false,
      cfColumn: String = "custom_fields"): DataFrame = {
    // reference uses re.match → anchored at the start, not search-anywhere
    val re = regex.r
    val matched = df.columns.filter(c => re.findPrefixOf(c).isDefined).toIndexedSeq
    if (!returnAsCf) df.select(matched.map(c => col(quoted(c))): _*)
    else df.withColumn(cfColumn, customFieldsArray(matched))
      .select(col(cfColumn))
  }

  /** Columns → `[{name, value}]` array, null values dropped.
    * Reference process_custom_fields (etl_utils.py:1143-1159). Pure
    * higher-order functions — codegen'd, no UDF. */
  def customFieldsArray(cols: Seq[String]): Column =
    filter(
      array(cols.map(c =>
        struct(lit(c).as("name"), col(quoted(c)).cast("string").as("value"))): _*),
      x => x.getField("value").isNotNull)

  def processCustomFields(df: DataFrame, cols: Seq[String], outCol: String = "custom_fields"): DataFrame =
    df.withColumn(outCol, customFieldsArray(cols.toIndexedSeq))

  /** Equi-join with a Bloom pre-filter built from the SMALL side's keys
    * and pushed into the big side's scan: rows whose key cannot be in the
    * small side die at the filter — before the exchange — so the shuffle
    * carries only (potential) matches. The classic fact⋈filtered-dim
    * pruning idiom: at 100 TB the shuffle, not the join, is the cost, and
    * a 1% fpp filter is ~1.2 MB per million build keys.
    *
    * Restricted to `inner` / `left_semi`: a false positive merely rides
    * to the join and drops there (result-identical to the plain join,
    * spec-asserted); under outer/anti semantics pruning would CHANGE the
    * result, so those are rejected. Build and probe hash with the same
    * `xxhash64` expression (no cross-side hash drift); the build is one
    * distributed aggregate — only filter bitmaps cross the shuffle. The
    * small side's count sizes the filter (undersizing degrades fpp,
    * never correctness). */
  def bloomPrunedJoin(
      big: DataFrame,
      small: DataFrame,
      keys: Seq[String],
      fpp: Double = 0.01,
      joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left_semi",
      s"bloom pruning preserves only inner/left_semi semantics, got $joinType")
    require(keys.nonEmpty, "keys must be non-empty")
    val h = xxhash64(keys.map(col): _*)
    val expected = math.max(small.count(), 1L)
    val bytes = small
      .select(graft.functions.Bloom.bloom_agg(h, expected, fpp).as("__b"))
      .head.getAs[Array[Byte]](0)
    big.filter(graft.functions.Bloom.might_contain(h, bytes))
      .join(small, keys, joinType)
  }
}
