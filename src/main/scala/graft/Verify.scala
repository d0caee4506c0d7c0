package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.registry()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var failed = 0
    // Local-iteration subset filter (comma-separated names). The manifest
    // below follows the same filter, so local_verify's declared-vs-written
    // check stays coherent on subset runs; driver runs never set this.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.filter {
      case (name, _) => only.forall(_.contains(name))
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // A thrown query must be a visible red, not an absent row: write a
        // marker dir so downstream tooling can distinguish "failed" from
        // "never declared" (round-7 shipped q33 invisible for lack of this).
        val d = new java.io.File(s"$outDir/$name"); d.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_error.txt"),
          s"${e.getClass.getName}: ${e.getMessage}\n")
      }
    }
    System.err.println(
      s"[verify] ${selected.size - failed}/${selected.size} queries written, $failed failed")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Manifest of every declared query, so local_verify can detect a query
    // that silently vanished (threw before producing output).
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      selected.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
