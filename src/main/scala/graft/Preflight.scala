package graft

/** Preflight over every declared query: runs each `SparkEntry.queries`
  * build against a sf dir and resolves the result's schema. Turns the
  * round-7 failure class — environment/testdata drift producing an
  * AnalysisException that Verify swallowed into a silently-missing gate
  * row — into a red line per query, without writing any gate output.
  *
  * It is not analysis-only: a build runs whatever jobs it needs to
  * construct its frame (q08 primes its store with
  * `Snapshot.dropRedundant(...).count()`, the index gates `add` their
  * history, the graph gates run their driver rounds), so it costs most of
  * a Verify's build time: about 4 min at sf0.01 on a 4-vCPU host
  * (local[4]). Only the final frame is analysed and not run.
  *
  * Usage: runMain graft.Preflight <sfDir>    (exit 1 on any failure)
  */
object Preflight {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = Sessions.registry()
    spark.sparkContext.setLogLevel("ERROR")
    var failed = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).schema // the build may run jobs; the result is only analysed
        println(s"[preflight] OK   $name")
      } catch { case e: Throwable =>
        failed += 1
        println(s"[preflight] FAIL $name: ${e.getClass.getSimpleName}: " +
          s"${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")}")
      }
    }
    println(s"[preflight] ${SparkEntry.queries.size - failed}/${SparkEntry.queries.size} analyzed clean")
    // Combined-entry contract: spanDedupReport's three outputs must stay
    // ≡ the individually-gated operators (q58/q59/q63) — asserted here on
    // real testdata (cheap at sf0.001) so refactors of the shared flagged
    // -gram path (like round 7's spansFromFlagged factoring) can't drift
    // the combined entry without turning the local gate red.
    try {
      import graft.operators.Dedup
      import org.apache.spark.sql.functions.col
      // deterministic subset (LIMIT order is not a contract)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text").filter(col("doc_id") % 4 === 0)
      val rep = Dedup.spanDedupReport(docs, "doc_id", "text", minSpanTokens = 10)
      def key(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.mkString("")).sorted.toSeq
      val singles = Seq(
        ("spans", rep.spans, Dedup.duplicateSpans(docs, "doc_id", "text", 10)),
        ("stats", rep.stats, Dedup.duplicateSpanStats(docs, "doc_id", "text", 10)),
        ("stripped", rep.stripped, Dedup.stripDuplicateSpans(docs, "doc_id", "text", 10)))
      singles.foreach { case (n, a, b) =>
        if (key(a) != key(b)) {
          failed += 1
          println(s"[preflight] FAIL spanDedupReport.$n drifted from its single-op twin")
        } else println(s"[preflight] OK   spanDedupReport.$n ≡ single-op")
      }
    } catch { case e: Throwable =>
      failed += 1
      println(s"[preflight] FAIL spanDedupReport equivalence: ${e.getMessage}")
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
