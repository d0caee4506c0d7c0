package graft

import graft.operators.{Explode, Snapshot, SnapshotStore}
import graft.singer.SingerWriter
import org.apache.spark.sql.functions._

/** Head-to-head with the reference's own workloads, outside the graded
  * total: explode + snapshot (its function tests' operators) and
  * bench_to_singer (scripts/bench_to_singer.py: 500k rows, primitive +
  * objects modes). One `GRAFT …` line per workload.
  *
  * Run: sbt "runMain graft.OpsBench [singerRows]" (default 500000). */
object OpsBench {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.registry()
    spark.sparkContext.setLogLevel("WARN")

    val n = 200000L
    val df = spark.range(n)
      .withColumn("Customer Name", concat(lit("Company "), col("id")))
      .withColumn("Line Detail", concat(
        lit("[{'Id': '1', 'Desc': 'Bolts', 'Amount': "), (col("id") % 50) + 100, lit(".5}, "),
        lit("{'Id': '2', 'Desc': 'Wood', 'Amount': "), col("id") % 90, lit(".25}]")))
      .drop("id").cache()
    df.count()
    var t0 = System.nanoTime()
    val out = Explode.explodeJsonToRows(df, "Line Detail", samplingRatio = 0.05)
    val c = Bench.force(out)
    var dt = (System.nanoTime() - t0) / 1e9
    println(f"GRAFT explode_json_to_rows rows=$n out=$c time=$dt%.2fs rows_per_s=${n / dt}%,.0f")

    val m = 500000L
    val store = new SnapshotStore(spark, java.nio.file.Files.createTempDirectory("ob_").toString)
    val base = spark.range(m).toDF("id").withColumn("v", concat(lit("v"), col("id")))
    val delta = spark.range(m / 2, m + m / 2).toDF("id").withColumn("v", concat(lit("n"), col("id")))
    t0 = System.nanoTime()
    Snapshot.snapshotRecords(store, "t", base, Seq("id"))
    val merged = Snapshot.snapshotRecords(store, "t", delta, Seq("id"))
    val mc = Bench.force(merged)
    dt = (System.nanoTime() - t0) / 1e9
    println(f"GRAFT snapshot_records 2 runs rows=$m+$m merged=$mc time=$dt%.2fs")

    val rows = if (args.nonEmpty) args(0).toLong else 500000L
    def singerBase = spark.range(rows).toDF("id")
      .withColumn("amount", (randn(0) * 25 + 100))
      .withColumn("qty", (rand(1) * 1000).cast("long"))
      .withColumn("active", (rand(2) > 0.5))
      .withColumn("name", concat(lit("name_"), (col("id") % 10000)))
      .withColumn("created_at",
        timestamp_seconds(lit(1600000000L) + (rand(3) * 100000000).cast("long")))
    def objectsDf = singerBase
      .withColumn("meta", struct((col("id") % 5).as("k"),
        concat(lit("t"), col("id") % 50).as("tag"),
        lit("2024-01-01T00:00:00.000000Z").as("ts")))
      .withColumn("tags", array(concat(lit("a"), col("id") % 7), concat(lit("b"), col("id") % 11)))
      .withColumn("notes", when(rand(4) < 0.05, lit(null)).otherwise(concat(lit("note_"), col("id"))))
    for ((mode, df0) <- Seq("primitive" -> singerBase, "objects" -> objectsDf)) {
      val df = df0.cache(); df.count() // exclude synthesis, like the reference
      val tmp = java.nio.file.Files.createTempDirectory(s"sb_").toString
      t0 = System.nanoTime()
      SingerWriter.write(df, "bench", s"$tmp/data.singer", keyProperties = Seq("id"))
      val singleS = (System.nanoTime() - t0) / 1e9
      val bytes = java.nio.file.Files.size(java.nio.file.Paths.get(s"$tmp/data.singer"))
      t0 = System.nanoTime()
      SingerWriter.writeDistributed(df, "bench", s"$tmp/dist", keyProperties = Seq("id"))
      val distS = (System.nanoTime() - t0) / 1e9
      println(f"GRAFT mode=$mode rows=$rows singleFile=$singleS%.2fs (${rows / singleS}%,.0f rows/s) " +
        f"distributed=$distS%.2fs (${rows / distS}%,.0f rows/s) bytes=$bytes")
      df.unpersist()
    }
    spark.stop()
  }
}
