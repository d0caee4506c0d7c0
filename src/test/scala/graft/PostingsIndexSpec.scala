package graft

import graft.operators.{BucketedSnapshotStore, PostingsIndex}
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.functions._

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
    if (i >= 0) throw new IllegalStateException("injected failure")
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

  test("a failed payload stage commits neither table; probes are as before; a retried add completes") {
    val dir = tmpDir("pix_payload_crash_")
    val ix = newIndex(dir)
    ix.add(Seq(("a", 1), ("b", 1), ("b", 2)).toDF("k", "id"),
      Some(Seq((1, "one"), (2, "two")).toDF("id", "s")))
    val before = probe(ix, "a", "b", "c")
    // a reader of the same directory, for the committed manifest versions
    val view = new BucketedSnapshotStore(spark, dir, numBuckets = 4)
    val versions = Seq("p", "v").map(view.manifestVersion)

    val postings3 = Seq(("b", 3), ("c", 3)).toDF("k", "id")
    val payload3 = Seq((3, "three")).toDF("id", "s")
    // the postings stage runs concurrently and succeeds: its generation
    // is an orphan no manifest names
    intercept[Exception](ix.add(postings3, Some(payload3.withColumn("id", failing(col("id"))))))
    assert(Seq("p", "v").map(view.manifestVersion) === versions)
    assert(probe(ix, "a", "b", "c") === before)

    ix.add(postings3, Some(payload3))
    assert(probe(ix, "a", "b", "c") ===
      (before ++ Seq(("b", 3, "three"), ("c", 3, "three"))).sorted)
  }

  test("add commits the payload first and forget deletes the postings first") {
    val ix = newIndex(tmpDir("pix_order_"))
    val conf = spark.sparkContext.hadoopConfiguration
    // every manifest commit (the rename into `manifest-<n>`) is recorded,
    // by table, in commit order
    conf.set("fs.file.impl", classOf[CommitRecordingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    CommitRecordingFs.commits.clear()
    val deleted =
      try {
        // the first add seeds both tables, the second merges into them
        ix.add(Seq(("a", 1), ("b", 1), ("b", 2)).toDF("k", "id"),
          Some(Seq((1, "one"), (2, "two")).toDF("id", "s")))
        ix.add(Seq(("a", 3), ("c", 3)).toDF("k", "id"), Some(Seq((3, "three")).toDF("id", "s")))
        ix.forget(Seq(1).toDF("doc"), "doc")
      } finally {
        conf.unset("fs.file.impl")
        conf.unset("fs.file.impl.disable.cache")
      }
    assert(CommitRecordingFs.commits.toArray.toSeq === Seq("v", "p", "v", "p", "p", "v"))
    assert(deleted === 3) // two postings + one payload row
    assert(probe(ix, "a", "b", "c") === Seq(("a", 3, "three"), ("b", 2, "two"), ("c", 3, "three")))
    assert(ix.payloadFor(Seq(1).toDF("id")).count() === 0)
  }
}

/** The local file system, recording each manifest commit of a
  * [[BucketedSnapshotStore]] table as the table's name. */
class CommitRecordingFs extends LocalFileSystem {
  override def rename(src: Path, dst: Path): Boolean = {
    val ok = super.rename(src, dst)
    if (ok && dst.getName.startsWith("manifest-"))
      CommitRecordingFs.commits.add(dst.getParent.getName.stripSuffix(".snapshot.bucketed"))
    ok
  }
}

object CommitRecordingFs {
  val commits = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
