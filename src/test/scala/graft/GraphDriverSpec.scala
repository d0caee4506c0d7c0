package graft

import graft.operators.{Dedup, Graph}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** The size-gated driver rounds of pageRank, labelPropagation,
  * triangleCounts and connectedComponents against their distributed
  * rounds, on seeded random graphs: same rows (doubles bit for bit against
  * the deterministic fold) and the same schema. `maxDriverEdges` pins each
  * path: `Long.MaxValue` the driver, 0 the distributed rounds. */
class GraphDriverSpec extends SparkSpec {
  import spark.implicits._

  private val Driver = Long.MaxValue
  private val Distributed = 0L
  /** Jobs of a connectedComponents build and count under the gate: the
    * canonical count, the collect, and the count's own jobs. The
    * distributed loop runs well over this (string ids add the code
    * assignment and its joins), so the budget also pins the driver path. */
  private val CcJobBudget = 10

  /** Non-ASCII ids whose UTF-8 (Spark) and UTF-16 (`String.compareTo`)
    * orders differ: U+FF21 sorts before U+1F600 in UTF-8, after its
    * surrogate pair in UTF-16. */
  private val fullwidthA = "Ａ"
  private val grin = "😀"
  private val alphabet = Seq("a", "b", "é", "", fullwidthA, grin)

  private def longGraph(seed: Int, nodes: Int, edges: Int): Seq[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    val e = Seq.fill(edges)((r.nextInt(nodes).toLong, r.nextInt(nodes).toLong))
    // duplicate edges, self-loops and a directed sink (in-edges only)
    e ++ e.take(edges / 10) ++ Seq((3L, 3L), (7L, 7L)) ++
      (0 until 5).map(i => (i.toLong, nodes.toLong + 100))
  }

  private def stringGraph(seed: Int, edges: Int): Seq[(String, String)] = {
    val r = new scala.util.Random(seed)
    def id() = Seq.fill(1 + r.nextInt(2))(alphabet(r.nextInt(alphabet.size))).mkString
    val e = Seq.fill(edges)((id(), id()))
    e ++ e.take(edges / 10) ++ Seq((grin, grin), ("a", "sink"), ("b", "sink"))
  }

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("\u0001"))

  /** Same schema, same rows; `tol` > 0 compares doubles within a
    * relative tolerance (the production plain-sum path), else exactly. */
  private def assertSame(name: String, driver: DataFrame, dist: DataFrame,
      tol: Double = 0.0): Unit = {
    assert(isLocal(driver), s"$name: the driver path did not run")
    assert(!isLocal(dist), s"$name: the distributed path did not run")
    // names, types and nullability
    assert(driver.schema === dist.schema, s"$name: schemas differ")
    val (a, b) = (rows(driver), rows(dist))
    assert(a.size === b.size, s"$name: row counts differ")
    a.zip(b).foreach { case (x, y) =>
      x.zip(y).foreach {
        case (u: Double, v: Double) if tol > 0.0 =>
          assert(math.abs(u - v) <= tol * math.max(1.0, math.abs(v)), s"$name: $x vs $y")
        case (u, v) => assert(u == v, s"$name: $x vs $y")
      }
    }
  }

  private def pageRankBoth(e: DataFrame, s: String, d: String, rounds: Int): Unit = {
    def run(det: Boolean, gate: Long) = Graph.pageRankGated(e, s, d, rounds,
      0.85, det, checkpointInterval = 8, maxDriverEdges = gate)
    val viaDriver = run(det = true, Driver)
    assertSame(s"pageRank r=$rounds det", viaDriver, run(det = true, Distributed))
    // the driver folds src-sorted for either flag; the production sums
    // agree within association noise
    assertSame(s"pageRank r=$rounds prod", run(det = false, Driver),
      run(det = false, Distributed), tol = 1e-9)
    assert(rows(run(det = false, Driver)) === rows(viaDriver))
  }

  private def labelPropagationBoth(e: DataFrame, s: String, d: String, rounds: Int): Unit =
    assertSame(s"labelPropagation r=$rounds",
      Graph.labelPropagationGated(e, s, d, rounds, 8, Driver),
      Graph.labelPropagationGated(e, s, d, rounds, 8, Distributed))

  private def trianglesBoth(e: DataFrame, s: String, d: String, topK: Int): Unit =
    assertSame(s"triangleCounts k=$topK",
      Graph.triangleCountsGated(e, s, d, topK, Driver),
      Graph.triangleCountsGated(e, s, d, topK, Distributed))

  test("long ids: pageRank, labelPropagation, triangleCounts agree on random graphs") {
    for (seed <- 1 to 3) {
      val e = longGraph(seed, nodes = 40, edges = 150).toDF("s", "t")
      for (rounds <- Seq(0, 1, 3)) {
        pageRankBoth(e, "s", "t", rounds)
        labelPropagationBoth(e, "s", "t", rounds)
      }
      val both = Graph.bidirect(e, "s", "t")
      pageRankBoth(both, "src", "dst", 3)
      labelPropagationBoth(both, "src", "dst", 3)
      trianglesBoth(e, "s", "t", 10)
    }
  }

  test("string ids order as UTF-8 bytes, not UTF-16 code units") {
    for (seed <- 1 to 3) {
      val e = stringGraph(seed, edges = 120).toDF("s", "t")
      pageRankBoth(e, "s", "t", 3)
      labelPropagationBoth(e, "s", "t", 3)
      labelPropagationBoth(Graph.bidirect(e, "s", "t"), "src", "dst", 2)
      trianglesBoth(e, "s", "t", 5)
    }
    // one in-edge from each: the tie goes to the smaller label in Spark's
    // order, which String.compareTo would reverse
    val tie = Seq((fullwidthA, "x"), (grin, "x")).toDF("s", "t")
    val got = Graph.labelPropagationGated(tie, "s", "t", 1, 8, Driver)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("x") === fullwidthA)
    labelPropagationBoth(tie, "s", "t", 1)
    // equal triangle counts list by node in Spark's order
    val tri = Seq((fullwidthA, grin), (grin, "a"), ("a", fullwidthA)).toDF("s", "t")
    val top = Graph.triangleCountsGated(tri, "s", "t", 3, Driver)
      .collect().map(_.getString(1)).toSeq
    assert(top === Seq("a", fullwidthA, grin))
    trianglesBoth(tri, "s", "t", 3)
  }

  test("triangle-free graph and topK above the triangle nodes") {
    val star = (1L to 30L).map(i => (0L, i)).toDF("s", "t")
    trianglesBoth(star, "s", "t", 10)
    assert(Graph.triangleCountsGated(star, "s", "t", 10, Driver).count() === 0L)
    // K4 plus a pendant: 4 triangle nodes, topK 50
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("s", "t")
    trianglesBoth(k4, "s", "t", 50)
    assert(Graph.triangleCountsGated(k4, "s", "t", 50, Driver).collect().toSeq ===
      (1 to 4).map(i => Row(i, i.toLong, 3L, 4L)))
  }

  test("null endpoints take the distributed path's semantics") {
    val e = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, 3L), (3L, 1L),
      (1L, null), (null, 2L), (3L, 4L)).toDF("s", "t")
    pageRankBoth(e, "s", "t", 2)
    labelPropagationBoth(e, "s", "t", 2)
    trianglesBoth(e, "s", "t", 10)
  }

  test("small graphs take the driver path by default; other id types stay distributed") {
    val e = longGraph(5, nodes = 20, edges = 60).toDF("s", "t")
    assert(isLocal(Graph.pageRank(e, "s", "t", rounds = 2)))
    assert(isLocal(Graph.labelPropagation(e, "s", "t", rounds = 2)))
    assert(isLocal(Graph.triangleCounts(e, "s", "t")))
    val dbl = Seq((1.0, 2.0), (2.0, 3.0), (3.0, 1.0)).toDF("s", "t")
    assert(!isLocal(Graph.labelPropagationGated(dbl, "s", "t", 1, 8, Driver)))
  }

  private def componentsBoth(name: String, pairs: DataFrame): Map[Any, Any] = {
    def run(gate: Long) = Dedup.connectedComponentsGated(pairs, "id_a", "id_b", 20, gate)
    val (viaDriver, viaDistributed) = (run(Driver), run(Distributed))
    assert(viaDriver.schema.map(f => f.name -> f.dataType) ===
      viaDistributed.schema.map(f => f.name -> f.dataType), s"$name: schemas differ")
    assert(rows(viaDriver) === rows(viaDistributed), s"$name: rows differ")
    viaDriver.collect().map(r => r.get(0) -> r.get(1)).toMap
  }

  test("connectedComponents: driver union-find and distributed loop agree") {
    for (seed <- 1 to 3) {
      // sparse enough for several components, with self-pairs
      val longs = componentsBoth(s"long ids seed $seed",
        longGraph(seed, nodes = 60, edges = 40).toDF("id_a", "id_b"))
      assert(longs.forall { case (id: Long, c: Long) => c <= id; case _ => false })
      componentsBoth(s"string ids seed $seed", stringGraph(seed, edges = 8).toDF("id_a", "id_b"))
      val r = new scala.util.Random(seed)
      val mixed = Seq.fill(50)((r.nextInt(70), r.nextInt(70).toLong)).toDF("id_a", "id_b")
      assert(componentsBoth(s"int/long seed $seed", mixed).keys.forall(_.isInstanceOf[Long]))
    }
    // a node seen only in a self-pair or beside a null labels itself
    val longNulls = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, 3L), (5L, 5L),
      (7L, null), (null, 2L), (null, null), (9L, 8L)).toDF("id_a", "id_b")
    assert(componentsBoth("long self-pairs and null partners", longNulls) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 7L -> 7L, (null, null), 8L -> 8L, 9L -> 8L))
    val stringNulls = Seq[(String, String)](("b", "a"), ("c", null), (null, "a"), ("x", "x"))
      .toDF("id_a", "id_b")
    assert(componentsBoth("string self-pairs and null partners", stringNulls) ===
      Map("a" -> "a", "b" -> "a", "c" -> "c", (null, null), "x" -> "x"))
    // the component label is the smallest id in Spark's (UTF-8) order
    // (String.compareTo would pick the emoji)
    val utf8 = Seq((grin, fullwidthA)).toDF("id_a", "id_b")
    assert(componentsBoth("UTF-8 order", utf8).values.toSet === Set(fullwidthA))
  }

  test("connectedComponents under the gate runs within its job budget") {
    for ((name, pairs) <- Seq(
        "long ids" -> longGraph(9, nodes = 60, edges = 40).toDF("id_a", "id_b"),
        "string ids" -> stringGraph(9, edges = 8).toDF("id_a", "id_b"))) {
      var n = 0L
      val jobs = jobsRun { n = Dedup.connectedComponents(pairs).count() }
      assert(n > 0L, name)
      assert(jobs <= CcJobBudget, s"$name: $jobs jobs")
    }
  }
}
