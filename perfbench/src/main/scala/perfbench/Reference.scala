package perfbench

/** Driver-side implementations the benchmark checks the library's outputs
  * against. Written from the operators' documented semantics, sharing no
  * code with them. */
object Reference {

  /** Both directions of every edge, deduplicated (`Graph.bidirect` then the
    * operators' own dedup). */
  def bidirect(edges: Seq[(Long, Long)]): Seq[(Long, Long)] =
    edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct

  /** GraphX static PageRank: every node starts at 1.0; each round
    * `rank' = (1 - d) + d * sum(rank_src / outdeg_src)` over in-edges. */
  def pageRank(edges: Seq[(Long, Long)], rounds: Int, damping: Double = 0.85): Map[Long, Double] = {
    val e = edges.distinct
    val nodes = e.flatMap { case (a, b) => Seq(a, b) }.distinct
    val outDeg = e.groupBy(_._1).map { case (k, v) => k -> v.size }
    var rank = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to rounds) {
      val in = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      for ((s, d) <- e) in(d) += rank(s) / outDeg(s)
      rank = nodes.map(n => n -> ((1 - damping) + damping * in(n))).toMap
    }
    rank
  }

  /** Synchronous label propagation: each round a node takes the most
    * frequent label among its in-neighbours, ties to the smallest label;
    * a node without in-edges keeps its own id. */
  def labelPropagation(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = e.flatMap { case (a, b) => Seq(a, b) }.distinct
    val inNbrs = e.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    var label = nodes.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      label = nodes.map { n =>
        inNbrs.get(n) match {
          case None => n -> n
          case Some(srcs) =>
            val counts = srcs.groupBy(label).map { case (l, v) => l -> v.size }
            n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }.toMap
    }
    label
  }

  /** Per-node triangle counts of the undirected simple graph under
    * `edges` (self-loops and multi-edges dropped). */
  def triangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }.distinct
    val adj = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val counts = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for ((a, b) <- und; c <- adj(a) if c > b && adj(b).contains(c)) {
      counts(a) += 1; counts(b) += 1; counts(c) += 1
    }
    counts.toMap
  }

  /** `Graph.triangleCounts` rows: (rank, node, triangles, total) for the
    * top `k` nodes by triangles desc, node asc. */
  def topTriangles(edges: Seq[(Long, Long)], k: Int): Seq[(Int, Long, Long, Long)] = {
    val t = triangles(edges)
    val total = t.values.sum / 3
    t.toSeq.sortBy { case (n, c) => (-c, n) }.take(k).zipWithIndex
      .map { case ((n, c), i) => (i + 1, n, c, total) }
  }

  /** Distinct word shingles of `n` tokens, as `NearDupIndex` documents
    * them: lower-cased, trimmed, split on whitespace, joined by one space;
    * a text of fewer than `n` tokens is one shingle. */
  def shingles(text: String, n: Int): Set[String] = {
    val t = text.trim.toLowerCase.split("\\s+").toSeq
    if (t.length < n) Set(t.mkString(" ")) else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a & b).size.toDouble / (a | b).size

  /** Levenshtein distance, exact. */
  def levenshtein(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(cur(j - 1), prev(j)) + 1,
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      prev = cur
    }
    prev(b.length)
  }
}
