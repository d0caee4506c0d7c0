package graft
import org.apache.spark.sql.DataFrame
object Bench {
  /** Force full row production. `.count()` on a DataFrame lets Catalyst
    * column-prune pure projections (scan → project → count collapses to a
    * bare scan count), so projection-shaped queries would time a plan that
    * never evaluates the expressions under test. `queryExecution.toRdd`
    * executes the physical plan as-is — every output column of every row is
    * materialized into an UnsafeRow before the count.
    */
  def force(df: DataFrame): Long = df.queryExecution.toRdd.count()
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS must be >= 1, got $reps")
    val spark = Sessions.registry()
    spark.sparkContext.setLogLevel("WARN")
    // warm the JVM/codegen/reader paths so the first measured query isn't
    // charged for session startup
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10).collect()
    // min-of-N per query inside one JVM: single-run numbers at the
    // sub-second end are dominated by codegen-compile + GC noise (the r3
    // "regression cluster" was exactly that). Prepare (store priming, temp
    // dirs) re-runs untimed before EVERY iteration because some thunks
    // mutate their store (q08 refreshes the hash snapshot, q38 upserts the
    // bucketed store) and must start each rep from identical state.
    // A prepare or query failure records a -1.0 sentinel instead of a
    // bogus near-zero time; total sums only successful queries.
    // Optional comma-separated query-name filter (A/B triage: bench only
    // the queries under suspicion instead of the full 10-minute sweep).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.benchQueries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val results = selected.map { case (name, mk) =>
      val times = (1 to reps).flatMap { _ =>
        try {
          val thunk = mk(spark, sfDir)
          val t0 = System.nanoTime()
          force(thunk())
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
            None
        }
      }
      name -> (if (times.size == reps) times.min else -1.0, times)
    }
    val qs = results.map { case (k, (v, _)) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Per-rep times alongside the min: regression triage needs to tell a
    // code regression (all reps slow) from ambient machine drift (wide
    // spread) — rounds 6 AND 7 both burned a verdict cycle on this.
    val rs = results.map { case (k, (_, ts)) =>
      s"\"" + k + "\":[" + ts.map(t => f"$t%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = results.map(_._2._1).filter(_ >= 0).sum
    val failed = results.filter(_._2._1 < 0).map(_._1)
    // Stdout ordering is load-bearing: the driver's artifact keeps only a
    // 2,000-char stdout TAIL, so the full per-query detail line prints
    // FIRST and the LAST line is a compact always-parseable summary
    // (total, counts, zero-failure flag, top-10 heaviest) that survives
    // any truncation — round 8's artifact lost 245/292 per-query times to
    // the old ordering.
    val detailLine =
      s"""{"metric":"total_detail","value":$total,"unit":"sec","queries":$qs,"reps":$rs,"sf":"$sfDir"}"""
    println(detailLine)
    val top10 = results.filter(_._2._1 >= 0).sortBy(-_._2._1).take(10)
      .map { case (k, (v, _)) => s"\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    val failedList = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The full summary (complete per-query map) is too long for the
    // driver's 2,000-char stdout tail, so it goes to a file; stdout keeps
    // the compact form whose `queries` field is the top-10 heaviest (same
    // shape, guaranteed to fit the tail whole).
    val fullSummary =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"n_queries":${results.size},"n_failed":${failed.size},"failed":$failedList,"zero_failures":${failed.isEmpty},"sf":"$sfDir"}"""
    val compactSummary =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$top10,"n_queries":${results.size},"n_failed":${failed.size},"failed":$failedList,"zero_failures":${failed.isEmpty},"sf":"$sfDir"}"""
    // The summary has been unparseable from the driver's artifact for three
    // rounds running (it keeps a 2,000-char stdout TAIL and, under sbt, every
    // line wore an `[info] ` prefix — build.sbt now forces StdoutOutput so
    // forked lines print clean): ALSO persist the full summary + per-rep
    // detail to a file the driver (or anyone) can read back whole. File I/O
    // is after the timed region — it cannot affect any measurement.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_summary.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (fullSummary + "\n" + detailLine + "\n").getBytes("UTF-8"))
      System.err.println(s"bench summary written to $outPath")
    } catch {
      case e: Throwable =>
        System.err.println(s"could not write $outPath: ${e.getMessage}")
    }
    println(compactSummary)
    spark.stop()
  }
}
