package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every input is a pure function of
  * (seed, stream, op index), so the same `--seed` gives byte-identical
  * inputs however many ops a run gets through, and an op's inputs never
  * depend on what the library returned. */
object Gen {

  /** One independent random stream per (seed, stream, index). */
  def rng(seed: Long, stream: Int, index: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 0x9E3779B97F4A7C15L + stream) + index))

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val Invoices = 1
  private val Graphs = 2
  private val Samples = 3
  private val Docs = 4
  private val Names = 5
  private val Live = 6

  /** Seeded sample of `k` distinct elements. */
  def sample[A](xs: IndexedSeq[A], k: Int, seed: Long, index: Long): Seq[A] = {
    val r = rng(seed, Samples, index)
    if (xs.length <= k) xs
    else Iterator.continually(xs(r.nextInt(xs.length))).distinct.take(k).toSeq
  }

  // ---------------------------------------------------------------- invoices

  final case class Line(num: Int, item: String, qty: Int, cents: Long) {
    def amount: String = f"${cents / 100}%d.${cents % 100}%02d"
  }
  final case class Invoice(id: Long, customerId: Int, docNumber: String,
      txnDate: String, status: String, lines: Seq[Line]) {
    def totalCents: Long = lines.map(_.cents).sum
  }

  val Customers = 2000
  private val Statuses = IndexedSeq("Draft", "Open", "Paid", "Void", "Overdue, 30d")

  def customerName(c: Int): String = f"Customer#$c%06d"

  /** Invoice ids created before op `op` (ids are allocated in op order). */
  def invoicesBefore(op: Int, newPerOp: Int): Long = op.toLong * newPerOp

  private def invoice(seed: Long, id: Long, version: Int, r: SplittableRandom): Invoice = {
    // the line count is a property of the invoice, so updates rewrite the
    // same (id, line) keys and never leave lines behind
    val nLines = 1 + rng(seed, Invoices, -1 - id).nextInt(4)
    val lines = (1 to nLines).map(n => Line(n, s"I-${r.nextInt(500)}", 1 + r.nextInt(20),
      100 + r.nextLong(100000)))
    val day = 1 + r.nextInt(28)
    Invoice(id, r.nextInt(Customers), s"INV-$id-v$version",
      f"2024-03-$day%02dT${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:00Z",
      Statuses(r.nextInt(Statuses.length)), lines)
  }

  /** New invoices and updates of earlier ones, without the resends. */
  private def invoiceCore(seed: Long, op: Int, newPerOp: Int, updates: Int): Seq[Invoice] = {
    val r = rng(seed, Invoices, op)
    val first = invoicesBefore(op, newPerOp)
    val fresh = (0 until newPerOp).map(k => invoice(seed, first + k, op, r))
    val updated =
      if (first == 0) Nil
      else Iterator.continually(r.nextLong(first)).distinct.take(math.min(updates, first.toInt))
        .map(id => invoice(seed, id, op, r)).toSeq
    fresh ++ updated
  }

  /** Op `op`'s invoice batch: `newPerOp` new ids, `updates` changed
    * earlier ids, and up to `resends` unchanged copies of rows the
    * previous op wrote (what `dropRedundant` exists to discard). Ids are
    * distinct within a batch. */
  def invoiceBatch(seed: Long, op: Int, newPerOp: Int, updates: Int, resends: Int): Seq[Invoice] = {
    val core = invoiceCore(seed, op, newPerOp, updates)
    if (op == 0) core
    else {
      val ids = core.map(_.id).toSet
      val prev = invoiceCore(seed, op - 1, newPerOp, updates).filterNot(i => ids(i.id))
      core ++ sample(prev.toIndexedSeq, resends, seed, op)
    }
  }

  /** The batch as gluestick's tap writes it: a CSV whose `Line Detail`
    * cell is a Python-literal list of dicts. */
  def invoiceCsv(batch: Seq[Invoice]): String = {
    val sb = new StringBuilder("Id,CustomerId,DocNumber,TxnDate,TotalAmt,Status,Line Detail\n")
    for (inv <- batch) {
      val detail = inv.lines.map(l =>
        s"{'LineNum': ${l.num}, 'ItemId': '${l.item}', 'Qty': ${l.qty}, 'Amount': ${l.amount}}")
        .mkString("[", ", ", "]")
      val total = Line(0, "", 0, inv.totalCents).amount
      sb.append(inv.id).append(',').append(inv.customerId).append(',')
        .append(inv.docNumber).append(',').append(inv.txnDate).append(',')
        .append(total).append(',').append(csvCell(inv.status)).append(',')
        .append(csvCell(detail)).append('\n')
    }
    sb.toString
  }

  private def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n')) "\"" + s.replace("\"", "\"\"") + "\""
    else s

  // ----------------------------------------------------------------- graphs

  // node id ranges of the three entity kinds of the orders ⋈ lineitem graph
  val CustomerBase = 1000000L
  val SupplierBase = 2000000L
  val PartBase = 3000000L

  /** One subgraph drawn from an orders ⋈ lineitem model: random customers
    * with 1–3 orders of 1–6 lineitems each, until there are `size` distinct
    * edges. Emits the q101 shape (customer → supplier per lineitem) and the
    * q142 shape (part – part for every pair of parts sharing an order). The
    * edge count is fixed so every op of a run does the same work. Sorted. */
  def subgraph(seed: Long, draw: Int, size: Int): IndexedSeq[(Long, Long)] = {
    val r = rng(seed, Graphs, draw)
    val edges = scala.collection.mutable.LinkedHashSet[(Long, Long)]()
    while (edges.size < size) {
      val c = CustomerBase + r.nextInt(15000)
      for (_ <- 0 until 1 + r.nextInt(3)) {
        val parts = (0 until 1 + r.nextInt(6)).map { _ =>
          edges += ((c, SupplierBase + r.nextInt(1000)))
          PartBase + r.nextInt(400)
        }.distinct
        for (a <- parts; b <- parts if a < b) edges += ((a, b))
      }
    }
    edges.take(size).toIndexedSeq.sorted
  }

  // ------------------------------------------------------ live line changes

  final case class LiveRow(invoiceId: Long, lineNum: Long, item: String, qty: Long,
      cents: Long, status: String) {
    def amount: Double = cents / 100.0
  }

  /** Op `op`'s streamed micro-batch of invoice-line changes: `fresh` new
    * keys and up to `updates` rewrites of keys earlier ops streamed.
    * Keys are distinct within a batch. */
  def liveBatch(seed: Long, op: Int, fresh: Int, updates: Int): Seq[LiveRow] = {
    val r = rng(seed, Live, op)
    def row(id: Long) = LiveRow(id, 1 + id % 2, s"I-${r.nextInt(500)}", 1 + r.nextInt(20),
      100 + r.nextLong(100000), Statuses(r.nextInt(Statuses.length)))
    val first = op.toLong * fresh
    val fresh_ = (0 until fresh).map(k => row(first + k))
    val updated =
      if (first == 0) Nil
      else Iterator.continually(r.nextLong(first)).distinct.take(math.min(updates, first.toInt))
        .map(row).toSeq
    fresh_ ++ updated
  }

  // ------------------------------------------------------ documents, names

  private val Syllables = IndexedSeq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "ba",
    "do", "fu", "ge", "hi", "jo", "pe", "qua", "shi", "to", "wy")

  /** A fixed vocabulary of 2000 distinct three-syllable words. */
  val Vocab: IndexedSeq[String] =
    (0 until 2000).map(k => Seq(k % 20, k / 20 % 20, k / 400).map(Syllables).mkString)

  /** A document, an exact copy or a near copy planted in a batch. `source`
    * is the earlier original a planted copy was taken from. */
  final case class Doc(id: Long, text: String, source: Option[Long])

  /** Op `op`'s document batch: `fresh` random 30-word originals, then
    * `exact` exact and `near` one-word-changed copies of originals of
    * earlier ops. Ids are `op * 1000 + k`. */
  def docBatch(seed: Long, op: Int, fresh: Int, exact: Int, near: Int): Seq[Doc] = {
    def original(o: Int, k: Int): String = {
      val r = rng(seed, Docs, o.toLong * 1000 + k)
      Seq.fill(30)(Vocab(r.nextInt(Vocab.length))).mkString(" ")
    }
    val docs = (0 until fresh).map(k => Doc(op * 1000L + k, original(op, k), None))
    if (op == 0) docs
    else {
      val r = rng(seed, Docs, -1 - op)
      val sources = Iterator.continually((r.nextInt(op), r.nextInt(fresh))).distinct
        .take(exact + near).toSeq
      val planted = sources.zipWithIndex.map { case ((o, k), j) =>
        val words = original(o, k).split(' ')
        if (j >= exact) {
          val at = r.nextInt(words.length)
          words(at) = Iterator.continually(Vocab(r.nextInt(Vocab.length))).find(_ != words(at)).get
        }
        Doc(op * 1000L + 500 + j, words.mkString(" "), Some(o * 1000L + k))
      }
      docs ++ planted
    }
  }

  final case class Name(id: Long, name: String, source: Option[Long])

  /** Op `op`'s customer-name batch: `fresh` random two-word names, then
    * `edits` copies of earlier ops' names with one character substituted,
    * inserted or deleted. Ids are `op * 1000 + k`. */
  def nameBatch(seed: Long, op: Int, fresh: Int, edits: Int): Seq[Name] = {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    def original(o: Int, k: Int): String = {
      val r = rng(seed, Names, o.toLong * 1000 + k)
      def word(n: Int) = Seq.fill(n)(letters(r.nextInt(26))).mkString
      word(5 + r.nextInt(4)) + " " + word(6 + r.nextInt(4))
    }
    val names = (0 until fresh).map(k => Name(op * 1000L + k, original(op, k), None))
    if (op == 0) names
    else {
      val r = rng(seed, Names, -1 - op)
      val sources = Iterator.continually((r.nextInt(op), r.nextInt(fresh))).distinct.take(edits).toSeq
      names ++ sources.zipWithIndex.map { case ((o, k), j) =>
        val s = original(o, k)
        val at = r.nextInt(s.length)
        val c = Iterator.continually(letters(r.nextInt(26))).find(_ != s(at)).get
        val edited = r.nextInt(3) match {
          case 0 => s.updated(at, c)
          case 1 => s.take(at) + c + s.drop(at)
          case _ => s.take(at) + s.drop(at + 1)
        }
        Name(op * 1000L + 500 + j, edited, Some(o * 1000L + k))
      }
    }
  }
}
