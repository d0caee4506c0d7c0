package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail: the slowest sample stands in until there are eleven samples") {
    assert(Stats.tail((1 to 10).map(_.toDouble).reverse) == ((10.0, 100.0)))
    assert(Stats.tail(Seq(3.0)) == ((3.0, 100.0)))
    val (v, pct) = Stats.tail((1 to 11).map(_.toDouble).reverse)
    assert(v == 1.0)
    assert(math.abs(pct - 100.0 / 11) < 1e-12)
  }

  test("tail: the highest rank that leaves exactly ten samples beyond it") {
    val xs = scala.util.Random.shuffle((1 to 40).map(_.toDouble))
    val (v, pct) = Stats.tail(xs)
    assert(v == 30.0 && pct == 75.0)
    assert(xs.count(_ > v) == Stats.TailBeyond)
    val (v100, pct100) = Stats.tail((1 to 100).map(_.toDouble))
    assert(v100 == 90.0 && pct100 == 90.0)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("interval union merges overlaps, keeps gaps, clips to the window") {
    assert(Stats.unionLength(Nil, 0, 10) == 0.0)
    assert(Stats.unionLength(Seq((1.0, 3.0), (2.0, 5.0), (7.0, 8.0)), 0, 10) == 5.0)
    assert(Stats.unionLength(Seq((1.0, 9.0), (2.0, 3.0)), 0, 10) == 8.0)
    assert(Stats.unionLength(Seq((-5.0, 2.0), (8.0, 20.0)), 0, 10) == 4.0)
    assert(Stats.unionLength(Seq((3.0, 3.0), (6.0, 4.0), (11.0, 12.0)), 0, 10) == 0.0)
    assert(Stats.unionLength(Seq((2.0, 4.0), (4.0, 6.0)), 0, 10) == 4.0)
  }

  test("idle time is the span's wall minus the time any task ran in it") {
    // four slots' tasks overlap; only the gaps with no task at all count
    val tasks = Seq((0.0, 4.0), (1.0, 2.0), (1.5, 4.5), (6.0, 7.0))
    assert(Stats.idle(0, 10, tasks) == 10 - 4.5 - 1.0)
    assert(Stats.idle(5, 6, tasks) == 1.0)
    assert(Stats.idle(0, 10, Nil) == 10.0)
  }

  test("self time subtracts the part of the span its children cover") {
    assert(Stats.selfTime(0, 100, Seq((10.0, 30.0), (20.0, 40.0), (90.0, 120.0))) == 100 - 30 - 10)
    assert(Stats.selfTime(0, 100, Nil) == 100.0)
    assert(Stats.selfTime(0, 100, Seq((0.0, 100.0))) == 0.0)
  }
}

class GenSpec extends AnyFunSuite {

  private def invoices(seed: Long, op: Int): Array[Byte] =
    Gen.invoiceCsv(Gen.invoiceBatch(seed, op, 50, 20, 5)).getBytes("UTF-8")

  test("the same seed gives byte-identical inputs, whatever ran before") {
    val first = (0 until 6).map(op => invoices(7, op))
    val again = (5 to 0 by -1).map(op => invoices(7, op)).reverse
    first.zip(again).foreach { case (a, b) => assert(a.sameElements(b)) }
    assert(Gen.subgraph(7, 3, 500) == Gen.subgraph(7, 3, 500))
    assert(Gen.liveBatch(7, 3, 20, 10) == Gen.liveBatch(7, 3, 20, 10))
    assert(Gen.docBatch(7, 3, 24, 3, 3) == Gen.docBatch(7, 3, 24, 3, 3))
    assert(Gen.nameBatch(7, 3, 24, 6) == Gen.nameBatch(7, 3, 24, 6))
  }

  test("another seed gives other inputs") {
    assert(!invoices(7, 3).sameElements(invoices(8, 3)))
    assert(Gen.subgraph(7, 3, 500) != Gen.subgraph(8, 3, 500))
    assert(Gen.docBatch(7, 3, 24, 3, 3) != Gen.docBatch(8, 3, 24, 3, 3))
    assert(Gen.nameBatch(7, 3, 24, 6) != Gen.nameBatch(8, 3, 24, 6))
  }

  test("planted copies come from earlier originals: exact, one word changed, one edit away") {
    val docs = Gen.docBatch(7, 4, 24, 3, 3)
    val earlier = (0 until 4).flatMap(op => Gen.docBatch(7, op, 24, 0, 0)).map(d => d.id -> d.text).toMap
    val planted = docs.filter(_.source.nonEmpty)
    assert(docs.size == 30 && planted.size == 6 && docs.map(_.id).distinct.size == 30)
    planted.take(3).foreach(d => assert(d.text == earlier(d.source.get)))
    planted.drop(3).foreach { d =>
      val (a, b) = (d.text.split(' '), earlier(d.source.get).split(' '))
      assert(a.length == b.length && a.zip(b).count { case (x, y) => x != y } == 1)
    }
    val names = Gen.nameBatch(7, 4, 24, 6)
    val earlierNames = (0 until 4).flatMap(op => Gen.nameBatch(7, op, 24, 0)).map(n => n.id -> n.name).toMap
    names.filter(_.source.nonEmpty).foreach(n =>
      assert(Reference.levenshtein(n.name, earlierNames(n.source.get)) == 1))
  }

  test("a live micro-batch holds distinct keys: new ones and rewrites of earlier ones") {
    val b = Gen.liveBatch(7, 3, 20, 10)
    assert(b.size == 30 && b.map(r => (r.invoiceId, r.lineNum)).distinct.size == 30)
    assert(b.count(_.invoiceId >= 60) == 20)
  }

  test("invoice batches hold distinct ids: new ones, updates of earlier ones and unchanged resends") {
    val b = Gen.invoiceBatch(7, 3, 50, 20, 5)
    assert(b.map(_.id).distinct.size == b.size)
    assert(b.count(_.id >= Gen.invoicesBefore(3, 50)) == 50)
    val previous = Gen.invoiceBatch(7, 2, 50, 20, 0).toSet
    assert(b.count(previous) == 5)
  }

  test("a subgraph has exactly the requested number of distinct edges") {
    val g = Gen.subgraph(7, 3, 500)
    assert(g.size == 500 && g.distinct.size == 500)
  }
}

class ReferenceSpec extends AnyFunSuite {

  test("shingles and Jaccard as the near-dup index defines them") {
    assert(Reference.shingles("  A b C d ", 3) == Set("a b c", "b c d"))
    assert(Reference.shingles("a b", 3) == Set("a b"))
    assert(Reference.jaccard(Set("x", "y"), Set("y", "z")) == 1.0 / 3)
  }

  test("levenshtein counts substitutions, insertions and deletions") {
    assert(Reference.levenshtein("kitten", "sitting") == 3)
    assert(Reference.levenshtein("abc", "abc") == 0)
    assert(Reference.levenshtein("abc", "ab") == 1 && Reference.levenshtein("", "ab") == 2)
  }

  test("triangles of a 4-clique plus a pendant edge") {
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val t = Reference.triangles(k4 :+ ((4L, 5L)) :+ ((2L, 1L)))
    assert(t == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(Reference.topTriangles(k4, 2) == Seq((1, 1L, 3L, 4L), (2, 2L, 3L, 4L)))
  }

  test("pageRank keeps the total rank of a graph without dangling nodes") {
    val cycle = Reference.bidirect(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)))
    val r = Reference.pageRank(cycle, 10)
    assert(math.abs(r.values.sum - 4.0) < 1e-9)
    // 1 and 3 carry the chord: symmetric to each other, above 2 and 4
    assert(math.abs(r(1L) - r(3L)) < 1e-12 && math.abs(r(2L) - r(4L)) < 1e-12)
    assert(r(1L) > r(2L))
  }

  test("label propagation: majority of in-neighbours, ties to the smallest label") {
    val e = Seq((1L, 3L), (2L, 3L), (9L, 3L), (9L, 4L), (8L, 4L))
    val l = Reference.labelPropagation(e, 1)
    assert(l(3L) == 1L && l(4L) == 8L && l(1L) == 1L && l(9L) == 9L)
  }
}
