package graft

import graft.operators.PostingsIndex
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

class PostingsIndexSpec extends SparkSpec {
  import spark.implicits._

  /** postings `p` (k, id) keyed on k, payload `v` (id, s). */
  private def newIndex(dir: String) =
    new PostingsIndex(spark, dir, numBuckets = 4, postings = "p",
      keyCols = Seq("k"), idCol = "id", payload = Some("v"))

  /** Candidates of the probe keys, verified against their payload rows. */
  private def probe(ix: PostingsIndex, keys: String*): Seq[(String, Int, String)] =
    ix.whenIndexed {
      val cand = ix.postingsFor(keys.toDF("k"))
      cand.join(ix.payloadFor(cand.select("id")), "id")
        .select("k", "id", "s").as[(String, Int, String)].collect().toSeq.sorted
    }.getOrElse(Nil)

  private val failing = udf((i: Int) => {
    if (i >= 0) throw new IllegalStateException("injected postings failure")
    i
  })

  test("a crash between the payload and postings commits leaves probes as before; a retried add completes") {
    val ix = newIndex(tmpDir("pix_crash_"))
    ix.add(Seq(("a", 1), ("b", 1), ("b", 2)).toDF("k", "id"),
      Some(Seq((1, "one"), (2, "two")).toDF("id", "s")))
    val before = probe(ix, "a", "b", "c")
    assert(before === Seq(("a", 1, "one"), ("b", 1, "one"), ("b", 2, "two")))

    val postings3 = Seq(("b", 3), ("c", 3)).toDF("k", "id")
    val payload3 = Seq((3, "three")).toDF("id", "s")
    intercept[Exception](ix.add(postings3.withColumn("id", failing(col("id"))), Some(payload3)))
    // the payload committed, the postings did not: id 3 is an orphan no
    // probe reaches, and probing raises no error
    assert(ix.payloadFor(Seq(3).toDF("id")).count() === 1)
    assert(probe(ix, "a", "b", "c") === before)

    ix.add(postings3, Some(payload3))
    assert(probe(ix, "a", "b", "c") ===
      (before ++ Seq(("b", 3, "three"), ("c", 3, "three"))).sorted)
  }

  test("add commits the payload first and forget deletes the postings first") {
    val ix = newIndex(tmpDir("pix_order_"))
    // the table of every generation the store writes, in commit order
    val written = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand =>
          c.outputPath.getParent.getName.stripSuffix(".snapshot.bucketed")
        }.foreach(written.add)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val deleted =
      try {
        ix.add(Seq(("a", 1), ("b", 1), ("b", 2)).toDF("k", "id"),
          Some(Seq((1, "one"), (2, "two")).toDF("id", "s")))
        val n = ix.forget(Seq(1).toDF("doc"), "doc")
        eventually(timeout(30.seconds))(assert(written.size === 4))
        n
      } finally spark.listenerManager.unregister(listener)
    assert(written.toArray.toSeq === Seq("v", "p", "p", "v"))
    assert(deleted === 3) // two postings + one payload row
    assert(probe(ix, "a", "b", "c") === Seq(("b", 2, "two")))
    assert(ix.payloadFor(Seq(1).toDF("id")).count() === 0)
  }
}
