package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** Shared local session for all specs (one JVM, one context). */
object TestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def refData(rel: String): String = s"/root/reference/tests/data/$rel"
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Number of jobs `thunk` runs, threads it starts included (they inherit
    * its job group). The status tracker is fed asynchronously, so a marker
    * job in a second group is awaited first: once the tracker has seen it,
    * it has seen every job before it, and the count is exact. */
  def jobsRun(thunk: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-run-${java.util.UUID.randomUUID()}"
    def inGroup[T](g: String)(body: => T): T = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    inGroup(group)(thunk)
    inGroup(group + "-marker")(sc.parallelize(Seq(1), 1).count())
    eventually(timeout(30.seconds)) {
      assert(sc.statusTracker.getJobIdsForGroup(group + "-marker").nonEmpty)
    }
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}
