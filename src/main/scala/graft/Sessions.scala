package graft

import org.apache.spark.sql.SparkSession

/** The one session the harness mains (Bench, Verify, Preflight, PlanDump
  * and the OpsBench head-to-head) share, so a plan that is dumped or
  * preflighted is planned under the settings it is benched and verified
  * under (AQE makes the core count part of the plan). `SPARK_GRAFT_CPUS`
  * (default 4) sets both the local cores and the shuffle partitions.
  * Stress keeps its own settings (64 shuffle partitions, default 32
  * cores): its scaling numbers depend on them. */
object Sessions {
  def registry(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // events.ts is TIMESTAMP(NANOS) parquet, unreadable by Spark natively
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
