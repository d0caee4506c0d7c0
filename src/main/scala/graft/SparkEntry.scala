package graft

import graft.operators._
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract. Every implemented operator from SURVEY.md §2 (+ the
  * scale extensions) is one [[QuerySpec]] in the [[registry]]: its gate,
  * its bench variant and, where the semantics are ANSI-SQL-expressible,
  * its DuckDB oracle. The specs live in per-tier files under
  * `graft/queries/`; `queries`, `benchQueries` and `oracleSql` are views of
  * the registry. Non-SQL-expressible ops (the seeded recall audits and the
  * isotonic fit) get rows-only checks; their exact semantics are covered
  * by ScalaTest. */
object SparkEntry {

  /** Flagship pipeline on sf=0.001: synthesize a nested python-literal
    * column → explode to rows → mapping DSL with a lookup pick.
    * Avoids the events table (its ns timestamps need a session conf the
    * driver's smoke session may not carry). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .withColumn("line", concat(
        lit("[{'seq': 1, 'status': '"), col("o_orderstatus"),
        lit("'}, {'seq': 2, 'status': '"), col("o_orderstatus"), lit("'}]")))
    val exploded = Explode.explodeJsonToRows(orders, "line")
    val mapping =
      """{"id": "o_orderkey", "seq": "line.seq", "status": "line.status",
        |"customer_name": {"pick": {"objects": "customer",
        |  "id_field": "c_custkey", "filter_ids": "rec.o_custkey",
        |  "target_fields": "c_name"}}}""".stripMargin
    Mapping.mapFields(exploded, mapping,
      Map("customer" -> spark.read.parquet(s"$dir/customer.parquet")), project = true)
  }

  /** Every declared query, tier by tier; a repeated name fails here. */
  lazy val registry: Seq[QuerySpec] = QuerySpec.registry(
    CoreQueries.specs ++ RelationalQueries.specs ++ DedupQueries.specs ++
      TextQueries.specs ++ AnalyticsQueries.specs ++ ProfilingQueries.specs ++
      GraphQueries.specs)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** Bench-protocol variants: name → prepare(spark, dir) → timed thunk
    * (see [[QuerySpec.bench]]). CORRECTNESS still gates on [[queries]]. */
  def benchQueries: Map[String, (SparkSession, String) => () => DataFrame] =
    registry.filter(_.benched).map(q => q.name -> q.prepare).toMap

  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
