package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Dump `.explain("formatted")` for named bench queries to files —
  * the optimization-round evidence artifact (plans/r09/<q>_<tag>.txt).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <q1,q2,...>
  * The plan is captured from the SAME thunk the bench times (benchQueries,
  * production overrides included), so plan claims match bench numbers.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: PlanDump <sfDir> <outDir> <tag> <q1,q2,...|all>")
    val Array(sfDir, outDir, tag, qlist) = args
    val spark = Sessions.registry()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val all = SparkEntry.benchQueries
    val names =
      if (qlist == "all") all.keys.toSeq.sorted
      else qlist.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    names.foreach { name =>
      val mk = all.getOrElse(name, sys.error(s"unknown bench query: $name"))
      val df = mk(spark, sfDir)()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$tag.txt"),
        plan.getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      println(s"[plandump] $name -> $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
