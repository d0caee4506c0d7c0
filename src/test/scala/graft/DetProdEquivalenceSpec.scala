package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Production ≡ deterministic equivalence, systematically.
  *
  * Every operator with a `deterministic: Boolean` parameter has TWO code
  * paths: the gate/oracle path (`true` — ordered folds, bit-exact SQL
  * replay) and the production path (`false` — plain codegen'd sums,
  * order-independent up to FP association). Several driver gates run the
  * deterministic branch, so without this spec the branch users actually
  * run at scale would be tested only indirectly (round-8 verdict item 5:
  * "the gate tests a different branch than production").
  *
  * This spec runs BOTH branches of every such signature on real testdata
  * (sf0.001) and asserts the results are equal within FP-association
  * tolerance (relative 1e-6 — fold-order noise is ~1e-12; anything
  * larger is a genuine branch divergence). The registry test pins the
  * full signature list so a new `deterministic` parameter without an
  * equivalence test here is a red diff.
  */
class DetProdEquivalenceSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val embs = spark.read.parquet(s"$sf/embeddings.parquet")
  private lazy val events = spark.read.parquet(s"$sf/events.parquet")
  private lazy val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
  private lazy val orders = spark.read.parquet(s"$sf/orders.parquet")
  private lazy val eventsDay = {
    val m = unix_micros(col("ts").cast("timestamp"))
    val d = lit(86400000000L)
    events.withColumn("day", ((m - pmod(m, d)) / d).cast("long"))
  }
  private lazy val bipartite = orders
    .join(lineitem, col("o_orderkey") === col("l_orderkey"))
    .select(concat(lit("c"), col("o_custkey")).as("a"),
      concat(lit("s"), col("l_suppkey")).as("b"))
  private def seedsDf = bipartite.select(col("a").as("node"))
    .distinct().orderBy("node").limit(3)

  /** Compare two frames row-multiset-wise; doubles within relative tol. */
  private def assertEquiv(name: String, det: DataFrame, prod: DataFrame,
      tol: Double = 1e-6): Unit = {
    assert(det.columns.toSeq === prod.columns.toSeq, s"$name: schemas differ")
    val (dr, pr) = (det.collect(), prod.collect())
    assert(dr.length === pr.length,
      s"$name: row counts ${dr.length} vs ${pr.length}")
    def key(r: org.apache.spark.sql.Row): String = r.toSeq.map {
      case d: Double => f"${math.rint(d * 1e4) / 1e4}%.4f"
      case f: Float => f"${math.rint(f.toDouble * 1e4) / 1e4}%.4f"
      case x => String.valueOf(x)
    }.mkString("|")
    val ds = dr.sortBy(key(_)); val ps = pr.sortBy(key(_))
    ds.zip(ps).zipWithIndex.foreach { case ((a, b), i) =>
      a.toSeq.zip(b.toSeq).zipWithIndex.foreach {
        case ((x: Double, y: Double), j) =>
          assert(math.abs(x - y) <=
            tol * (1.0 + math.max(math.abs(x), math.abs(y))),
            s"$name row $i col ${det.columns(j)}: $x vs $y")
        case ((x, y), j) =>
          assert(x == y, s"$name row $i col ${det.columns(j)}: $x vs $y")
      }
    }
  }

  private def both(f: Boolean => DataFrame): (DataFrame, DataFrame) =
    (f(true), f(false))

  test("registry: every deterministic-flag signature has an equivalence test here") {
    // grep the production source for `deterministic: Boolean` parameters;
    // each must appear in this spec's covered set. A new flag without an
    // equivalence test fails here.
    val covered = Set(
      "dimensionStats", "truncationQuality", "simpsonCheck", "anovaOneWay",
      "timeWeightedAverage", "linearAttribution", "dayOfWeekIndex",
      "poissonBootstrapMeans", "mannWhitneyU", "interArrivalStats",
      "groupTrends", "concentrationIndex", "calibrationCurve",
      "sourceDivergence", "lexicalDiversity", "zipfSlope",
      "tfidfCosinePairs", "mutualInformation", "chiSquareIndependence",
      "numericMI", "pageRank", "pageRankGated", "personalizedPageRank",
      "personalizedPageRankGated", "degreePowerLaw",
      // pageRank's and personalizedPageRank's distributed loop (both
      // equivalence tests pin it)
      "rankRounds",
      "hits", "trainLogistic", "trainKMeans", "topPrincipalComponent",
      "clusteringQualityReport", "stationaryDistribution", "prCurve",
      "bradleyTerry", "bradleyTerryFromCounts", "exactMatchedATT",
      "neighborhoodFunction", "foldSum")
    val defRe = """\bdef (\w+)""".r
    val root = new java.io.File("src/main/scala/graft")
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val observed = scala.collection.mutable.Set.empty[String]
    files(root).foreach { f =>
      val lines = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).linesIterator.toVector
      var lastDef = "?"
      lines.foreach { l =>
        defRe.findFirstMatchIn(l).foreach(m => lastDef = m.group(1))
        if (l.contains("deterministic: Boolean")) observed += lastDef
      }
    }
    val missing = observed.toSet -- covered
    assert(missing.isEmpty,
      s"deterministic signatures without an equivalence test: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("equiv: foldSum") {
    val (d, p) = both(b => events.groupBy("event_type")
      .agg(Ops.foldSum(b, col("value"), col("event_id")).as("s")))
    assertEquiv("foldSum", d, p)
  }
  test("det and prod agree on a null term (dayOfWeekIndex)") {
    // sf0.001 has no null value, so the other equivalence tests never
    // feed one: a null term must be skipped on both paths, as `sum` does
    import spark.implicits._
    val ev = Seq((1L, "2024-01-01 10:00:00", Some(2.0)),
        (2L, "2024-01-01 11:00:00", None),
        (3L, "2024-01-08 09:00:00", Some(4.0)),
        (4L, "2024-01-02 09:00:00", Some(5.0)))
      .toDF("event_id", "ts", "value")
    val (d, p) = both(b => Analytics.dayOfWeekIndex(ev, "ts", "event_id",
      "value", b))
    assertEquiv("dayOfWeekIndex with a null value", d, p)
  }
  test("equiv: dimensionStats") {
    val (d, p) = both(b => Similarity.dimensionStats(embs, "vec_id", "embedding", b))
    assertEquiv("dimensionStats", d, p)
  }
  test("equiv: truncationQuality") {
    val (d, p) = both(b => Similarity.truncationQuality(embs, "vec_id",
      "embedding", Seq(8, 16, 32), b))
    assertEquiv("truncationQuality", d, p)
  }
  test("equiv: simpsonCheck") {
    val (d, p) = both(b => Analytics.simpsonCheck(eventsDay, "event_type",
      "event_id", "day", "value", b))
    assertEquiv("simpsonCheck", d, p)
  }
  test("equiv: anovaOneWay") {
    val (d, p) = both(b => Analytics.anovaOneWay(
      events.select(col("event_type"), col("event_id"), col("value")),
      "event_type", "event_id", "value", b))
    assertEquiv("anovaOneWay", d, p)
  }
  test("equiv: timeWeightedAverage") {
    val (d, p) = both(b => Analytics.timeWeightedAverage(events, "user_id", "ts",
      "event_id", "value", b))
    assertEquiv("timeWeightedAverage", d, p)
  }
  test("equiv: linearAttribution") {
    val (d, p) = both(b => Analytics.linearAttribution(events, "user_id", "ts",
      "event_id", "event_type", "purchase", 600L, b))
    assertEquiv("linearAttribution", d, p)
  }
  test("equiv: dayOfWeekIndex") {
    val (d, p) = both(b => Analytics.dayOfWeekIndex(events, "ts", "event_id",
      "value", b))
    assertEquiv("dayOfWeekIndex", d, p)
  }
  test("equiv: poissonBootstrapMeans") {
    val (d, p) = both(b => Analytics.poissonBootstrapMeans(events, "event_id",
      "value", reps = 8, deterministic = b))
    assertEquiv("poissonBootstrapMeans", d, p)
  }
  test("equiv: mannWhitneyU") {
    val (d, p) = both(b => Analytics.mannWhitneyU(events, "event_type", "value",
      "click", "view", b))
    assertEquiv("mannWhitneyU", d, p)
  }
  test("equiv: interArrivalStats") {
    val (d, p) = both(b => Analytics.interArrivalStats(events, "user_id", "ts",
      "event_id", b))
    assertEquiv("interArrivalStats", d, p)
  }
  test("equiv: groupTrends") {
    val (d, p) = both(b => Analytics.groupTrends(eventsDay, "event_type",
      "event_id", "day", "value", b))
    assertEquiv("groupTrends", d, p)
  }
  test("equiv: concentrationIndex") {
    val (d, p) = both(b => Analytics.concentrationIndex(docs, "lang", "source", b))
    assertEquiv("concentrationIndex", d, p)
  }
  test("equiv: calibrationCurve") {
    val scored = docs.select(col("doc_id"),
      round(TextAnalysis.qualityScore(col("text")), 6).as("score"),
      (col("lang") === "en").as("label"))
    val (d, p) = both(b => Analytics.calibrationCurve(scored, "doc_id", "score",
      "label", bins = 10, deterministic = b))
    assertEquiv("calibrationCurve", d, p)
  }
  test("equiv: sourceDivergence") {
    val (d, p) = both(b => Importance.sourceDivergence(
      docs.select("source", "text"), "source", "text", 0.5, b))
    assertEquiv("sourceDivergence", d, p)
  }
  test("equiv: lexicalDiversity") {
    val (d, p) = both(b => TextAnalysis.lexicalDiversity(
      docs.select("source", "text"), "source", "text", b))
    assertEquiv("lexicalDiversity", d, p)
  }
  test("equiv: zipfSlope") {
    val (d, p) = both(b => TextAnalysis.zipfSlope(docs.select("text"), "text",
      fitTerms = 500, deterministic = b))
    assertEquiv("zipfSlope", d, p)
  }
  test("equiv: tfidfCosinePairs") {
    val (d, p) = both(b => Ranking.tfidfCosinePairs(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.3, maxDf = 50L, deterministic = b))
    assertEquiv("tfidfCosinePairs", d, p)
  }
  test("equiv: mutualInformation") {
    val (d, p) = both(b => Profiling.mutualInformation(lineitem, "l_returnflag",
      "l_linestatus", b))
    assertEquiv("mutualInformation", d, p)
  }
  test("equiv: chiSquareIndependence") {
    val (d, p) = both(b => Profiling.chiSquareIndependence(
      orders.select("o_orderpriority", "o_orderstatus"),
      "o_orderpriority", "o_orderstatus", b))
    assertEquiv("chiSquareIndependence", d, p)
  }
  test("equiv: numericMI") {
    val (d, p) = both(b => Profiling.numericMI(eventsDay, "event_id", "value",
      "day", bins = 8, deterministic = b))
    assertEquiv("numericMI", d, p)
  }
  test("equiv: pageRank") {
    // the distributed rounds: under the driver gate both flags run the
    // same src-sorted fold and there would be nothing to compare
    val (d, p) = both(b => Graph.pageRankGated(bipartite, "a", "b", rounds = 3,
      damping = 0.85, deterministic = b, checkpointInterval = 8,
      maxDriverEdges = 0L))
    assertEquiv("pageRank", d, p)
  }
  test("equiv: personalizedPageRank") {
    // the distributed rounds, as for pageRank
    val s = seedsDf
    val (d, p) = both(b => Graph.personalizedPageRankGated(bipartite, "a", "b",
      s, "node", rounds = 3, damping = 0.85, deterministic = b,
      checkpointInterval = 8, maxDriverEdges = 0L))
    assertEquiv("personalizedPageRank", d, p)
  }
  test("equiv: degreePowerLaw") {
    val (d, p) = both(b => Graph.degreePowerLaw(bipartite, "a", "b", b))
    assertEquiv("degreePowerLaw", d, p)
  }
  test("equiv: hits") {
    val (d, p) = both(b => Graph.hits(bipartite, "a", "b", rounds = 2,
      deterministic = b))
    assertEquiv("hits", d, p)
  }
  test("equiv: stationaryDistribution") {
    val (d, p) = both(b => Analytics.stationaryDistribution(events,
      "user_id", "ts", "event_type", "event_id", rounds = 3,
      deterministic = b))
    assertEquiv("stationaryDistribution", d, p)
  }
  test("equiv: trainLogistic") {
    val labeled = docs.select(col("doc_id"), col("text"),
      (col("source") === "src0").cast("int").as("label"))
    val (d, p) = both(b => Training.trainLogistic(labeled, "doc_id", "text",
      "label", buckets = 64, rounds = 3, learningRate = 0.5,
      hashKind = "md5_60", deterministic = b))
    assertEquiv("trainLogistic", d, p)
  }
  test("equiv: trainKMeans") {
    val (d, p) = both(b => Training.trainKMeans(embs, "vec_id", "embedding",
      k = 4, rounds = 3, deterministic = b))
    assertEquiv("trainKMeans", d, p)
  }
  test("equiv: topPrincipalComponent") {
    val (d, p) = both(b => Training.topPrincipalComponent(embs, "vec_id",
      "embedding", rounds = 3, deterministic = b))
    assertEquiv("topPrincipalComponent", d, p)
  }
  test("equiv: clusteringQualityReport") {
    val (d, p) = both(b => Training.clusteringQualityReport(embs, "vec_id",
      "embedding", k = 4, rounds = 3, deterministic = b))
    assertEquiv("clusteringQualityReport", d, p)
  }
  test("equiv: prCurve") {
    val scored = docs.select(
      round(length(col("text")).cast("double") / lit(1000.0), 3).as("s"),
      (col("lang") === "en").as("y"))
    val (d, p) = both(b => Analytics.prCurve(scored, "s", "y", b))
    assertEquiv("prCurve", d, p)
  }
  test("equiv: bradleyTerry") {
    val duels = docs.select(
      concat(lit("s"), pmod(col("doc_id"), lit(5L))).as("w"),
      concat(lit("s"), pmod(col("doc_id") * 7L + 3L, lit(5L))).as("l"))
    val (d, p) = both(b => Training.bradleyTerry(duels, "w", "l",
      rounds = 3, deterministic = b))
    assertEquiv("bradleyTerry", d, p)
  }
  test("equiv: neighborhoodFunction") {
    val (d, p) = both(b => Graph.neighborhoodFunction(bipartite, "a", "b",
      rounds = 2, m = 16, deterministic = b))
    assertEquiv("neighborhoodFunction", d, p)
  }
  test("equiv: exactMatchedATT") {
    val ev = events.select(col("event_type"),
      (pmod(col("user_id"), lit(2L)) === 0L).as("treat"), col("value"))
    val (d, p) = both(b => Analytics.exactMatchedATT(ev,
      Seq("event_type"), "treat", "value", deterministic = b))
    assertEquiv("exactMatchedATT", d, p)
  }
  test("equiv: bradleyTerryFromCounts") {
    val counts = docs.select(
        concat(lit("s"), pmod(col("doc_id"), lit(5L))).as("w"),
        concat(lit("s"), pmod(col("doc_id") * 7L + 3L, lit(5L))).as("l"))
      .filter(col("w") =!= col("l"))
      .groupBy("w", "l").agg(count(lit(1)).as("c"))
    val (d, p) = both(b => Training.bradleyTerryFromCounts(counts,
      "w", "l", "c", rounds = 3, deterministic = b))
    assertEquiv("bradleyTerryFromCounts", d, p)
  }
}
