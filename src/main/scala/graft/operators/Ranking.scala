package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus ranking / keyword relevance: TF-IDF and BM25 (extensions —
  * the reference has no retrieval surface; standard curation companions
  * to the quality/dedup tier, e.g. keyword extraction for topic
  * filtering and query-relevance scoring for targeted corpus slices).
  *
  * Scale shape: one explode → (id, term)-keyed aggregate with map-side
  * partials for term frequencies; document frequencies are a term-keyed
  * key-only aggregate (vocabulary-sized output) joined back size-gated.
  * No driver-side iteration; the only scalars (N, avgdl) are single-row
  * aggregates computed once per call — the same one-cheap-scan idiom as
  * `Sampling.topFractionByScore`. */
object Ranking {

  /** Per-(doc, term) raw counts — shared tokenizer with the dedup family
    * (`Dedup.tokensCol`: trim → lower → split on whitespace). One shuffle
    * keyed on (id, term), partial-aggregated map-side. */
  def termFrequencies(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(Dedup.tokensCol(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Smoothed IDF (sklearn convention): ln((1+N)/(1+df)) + 1 — never
    * negative, defined for unseen terms. */
  private def smoothIdf(n: Column, dfreq: Column): Column =
    log((lit(1.0) + n) / (lit(1.0) + dfreq)) + lit(1.0)

  /** (doc, term, tf, tfidf) over the whole corpus. Document frequencies
    * are vocabulary-sized and join back through the size-gated broadcast
    * helper — term-keyed shuffle join only when the vocabulary is too
    * large to broadcast. */
  def tfidf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = termFrequencies(df, idCol, textCol)
    // one row per document is the frame's contract (as everywhere in the
    // dedup/quality tier) — a plain count avoids a corpus-wide distinct
    val nDocs = df.count()
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("__df"))
    tf.join(Ops.broadcastIfSmall(dfreq), Seq("term"))
      .select(col(idCol), col("term"), col("tf"),
        (col("tf") * smoothIdf(lit(nDocs.toDouble), col("__df"))).as("tfidf"))
  }

  /** Top-`k` keywords per document by TF-IDF — ties broken by term so the
    * kept set is deterministic. The rank window partitions by doc (never
    * a global sort); output is k rows per doc. */
  def topKeywords(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term").asc)
    tfidf(df, idCol, textCol)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("rank"),
        round(col("tfidf"), 6).as("tfidf"))
  }

  /** BM25 relevance of every matching document against a fixed term set
    * (the "slice the corpus by query relevance" curation op).
    *
    * Scale notes: `queryTerms` is a literal `isin` filter applied AT THE
    * EXPLODE, so the (id, term) aggregate only ever shuffles rows for
    * query terms — corpus-size-independent per-term cost. Document
    * lengths ride on the same scan as the match filter; `avgdl` and `N`
    * are one single-row aggregate. Per-doc summation folds a
    * position-sorted array (q66's idiom) so the double result is
    * order-deterministic under any partitioning.
    *
    * IDF is the standard BM25 form ln(1 + (N−df+0.5)/(df+0.5)). */
  def bm25(
      df: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val terms = queryTerms.map(_.trim.toLowerCase).distinct
    val toks = df.select(col(idCol), Dedup.tokensCol(col(textCol)).as("__toks"))
    // single-row scalar frame: N docs + average doc length (its own
    // one-column corpus scan — a global constant has no cheaper shape)
    val stats = toks.select(size(col("__toks")).as("dl"))
      .agg(count(lit(1)).as("__n"), avg(col("dl")).as("__avgdl"))
    // doc length rides THROUGH the explode as a grouping key (functionally
    // dependent on the id), so no corpus-sized length join is ever needed —
    // only query-term rows survive to the shuffle.
    val tf = toks
      .select(col(idCol), size(col("__toks")).as("dl"),
        explode(col("__toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("__df"))
    val contrib = tf
      .join(Ops.broadcastIfSmall(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log(lit(1.0) + (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))))
      .withColumn("__c",
        col("__idf") * col("tf") * (lit(k1) + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("__avgdl"))))
    // order-deterministic per-doc sum: fold term-sorted contributions
    contrib.groupBy(col(idCol))
      .agg(Ops.orderedSum(col("__c"), col("term")).as("bm25"))
  }

  /** Rank the top `n` rows of `scored` by (`scoreCol` desc, id asc) as
    * (id, rank). The global top-n runs as TakeOrderedAndProject (a
    * per-partition heap + driver merge — never a full sort), and the
    * row_number window then orders a frame already bounded at `n` rows,
    * so the single-partition window is O(n), not O(corpus). */
  def topNRanks(scored: DataFrame, idCol: String, scoreCol: String,
      n: Int, rankName: String): DataFrame = {
    val w = Window.orderBy(col(scoreCol).desc, col(idCol).asc)
    scored.orderBy(col(scoreCol).desc, col(idCol).asc).limit(n)
      .withColumn(rankName, row_number().over(w))
      .select(col(idCol), col(rankName))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of independently ranked
    * candidate lists: score(d) = Σ_lists 1/(k0 + rank_list(d)), summed over
    * the lists that retrieved d. Input frames are (idCol, <rankCol>) with
    * distinct ids; output is the fused top-`topK` as (id, rank-columns…,
    * rrf, rank) — absent ranks stay null and contribute 0. */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, k0: Int = 60,
      topK: Int = 20): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(k0 > 0, s"k0 must be positive, got $k0")
    val joined = lists.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val rankCols = joined.columns.filterNot(_ == idCol)
    val rrf = rankCols.map(c =>
      coalesce(lit(1.0) / (lit(k0.toDouble) + col(c)), lit(0.0)))
      .reduce(_ + _)
    topNRanks(joined.withColumn("rrf", rrf), idCol, "rrf", topK, "rank")
      .join(joined, Seq(idCol))
      .withColumn("rrf", rrf)
      .select((col(idCol) +: rankCols.toSeq.map(col)) :+ col("rrf") :+ col("rank"): _*)
  }

  /** Hybrid retrieval: BM25 over `queryTerms` fused with cosine similarity
    * to `queryVec` via RRF — the standard lexical+semantic corpus-slicing
    * combination. Each side prunes to its own top-`candidates` BEFORE
    * fusion (TakeOrderedAndProject — no global sort, no corpus-wide
    * window); the fused frame is ≤ 2·candidates rows. `docs` and
    * `embeddings` join only within that candidate set. */
  def hybridSearch(
      docs: DataFrame, idCol: String, textCol: String,
      embeddings: DataFrame, vecIdCol: String, vecCol: String,
      queryTerms: Seq[String], queryVec: Seq[Double],
      candidates: Int = 50, k0: Int = 60, topK: Int = 20): DataFrame = {
    require(queryVec.nonEmpty, "queryVec must be non-empty")
    val lex = topNRanks(bm25(docs, idCol, textCol, queryTerms),
      idCol, "bm25", candidates, "rank_lex")
    val qv = array(queryVec.map(lit): _*)
    val sem = topNRanks(
      embeddings.select(col(vecIdCol).as(idCol),
        Similarity.cosine(col(vecCol), qv).as("__cos")),
      idCol, "__cos", candidates, "rank_sem")
    rrfFuse(Seq(lex, sem), idCol, k0, topK)
  }

  /** Ranking-quality evaluation: per-query recall@k and NDCG@k of a
    * ranked result list against a relevance set — the measurement half
    * of the retrieval tier (bruteForce/LSH/IVF/hybrid produce rankings;
    * this scores them, e.g. ANN recall vs the exact baseline, or
    * label-agreement quality of an embedding space).
    *
    * Binary relevance: gain at rank r is 1/log₂(r+1); the k gain values
    * and their cumulative (ideal) sums are DRIVER-computed literals
    * shared verbatim with the SQL replay — no cross-engine log parity
    * to defend. DCG folds hit-ranks ascending (deterministic); ideal
    * DCG = cum[min(|relevant|, k)]. Queries with an empty relevance set
    * are absent from the output (their NDCG is undefined).
    *
    * Shape: one (query, doc)-keyed equi-join of the rank≤k slice
    * against the relevance set, then query-keyed aggregates — all
    * map-side combinable, nothing corpus-quadratic. */
  def evalRanking(ranked: DataFrame, relevant: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val gains = (1 to k)
      .map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))
    val cums = gains.scanLeft(0.0)(_ + _).tail
    val gainsLit = typedLit(gains)
    val cumLit = typedLit(cums)
    val hits = ranked.filter(col("rank") <= k)
      .join(relevant, Seq("query_id", "doc_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("__hits"),
        aggregate(sort_array(collect_list(col("rank").cast("int"))), lit(0.0),
          (acc, r) => acc + element_at(gainsLit, r)).as("__dcg"))
    val nrel = relevant.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    nrel.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("__hits"), lit(0L)).as("hits"),
        (coalesce(col("__hits"), lit(0L)).cast("double") /
          col("n_rel").cast("double")).as("recall"),
        (coalesce(col("__dcg"), lit(0.0)) /
          element_at(cumLit, least(col("n_rel"), lit(k.toLong)).cast("int")))
          .as("ndcg"))
  }

  /** Reciprocal rank + average precision at `k` per query — the two
    * retrieval-eval numbers [[evalRanking]]'s recall/NDCG don't give:
    * RR = 1/rank-of-first-relevant ("how fast does the user hit
    * something relevant"), AP@k = Σ_hits precision@rank / min(n_rel, k)
    * (the order-sensitive precision summary; mean over queries = MAP).
    * Shape: the corpus-sized work is the rank ≤ k filter + the relevance
    * semi-join; everything after runs on ≤ k rows per query (the hit
    * -index window is bounded by k, never corpus-wide). The AP sum folds
    * rank-sorted — bit-identical under partitioning, SQL-replayable.
    * No-hit queries report rr = 0, ap = 0 (not NULL: a ranking that
    * surfaces nothing relevant scored, and scored zero). Returns
    * (query_id, n_rel, hits, rr, ap). */
  def evalMrrMap(ranked: DataFrame, relevant: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val hits = ranked.filter(col("rank") <= k)
      .join(relevant, Seq("query_id", "doc_id"))
      .select(col("query_id"), col("rank"))
    val w = Window.partitionBy("query_id").orderBy(col("rank").asc)
    val terms = hits.withColumn("__i", row_number().over(w))
    val perQ = terms.groupBy("query_id").agg(
      count(lit(1)).as("__hits"),
      min(col("rank")).cast("long").as("__first"),
      Ops.orderedSum(col("__i").cast("double") / col("rank").cast("double"),
        col("rank")).as("__apsum"))
    val nrel = relevant.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    nrel.join(perQ, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("__hits"), lit(0L)).as("hits"),
        coalesce(lit(1.0) / col("__first").cast("double"), lit(0.0))
          .as("rr"),
        (coalesce(col("__apsum"), lit(0.0)) /
          least(col("n_rel"), lit(k.toLong)).cast("double")).as("ap"))
  }

  /** Maximal-marginal-relevance selection: greedily pick `k` rows that
    * are RELEVANT but not redundant —
    * score(i) = λ·rel(i) − (1−λ)·max_{s∈selected} cos(i, s) — the
    * diversity step behind eval-set construction, few-shot example
    * choice, and "top results without five near-identical docs".
    *
    * Scale shape: the corpus-sized work is ONE TakeOrderedAndProject
    * pruning to the top `candidates` by relevance (ties → id); the
    * greedy loop is inherently sequential, so it runs on the driver over
    * that ≤1024-row candidate set (the centroid/eigen driver-small
    * contract — a greedy argmax over the corpus itself would be k full
    * scans for no recall gain: a low-relevance row never enters any
    * MMR prefix). Cosines use dot/(√dot·√dot) with forward double
    * accumulation, ties break to the smaller id — every step
    * SQL-replayable. Returns (rank, id, rel, mmr) in selection order. */
  def mmrSelect(df: DataFrame, idCol: String, vecCol: String, relCol: String,
      k: Int, lambda: Double, candidates: Int = 50): DataFrame = {
    require(k >= 1 && candidates >= k,
      s"need candidates >= k >= 1, got k=$k candidates=$candidates")
    require(candidates <= 1024,
      s"candidates=$candidates: the greedy loop is driver-small only to 1024")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val spark = df.sparkSession
    val cand = df
      .select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__v"),
        col(relCol).cast("double").as("__rel"))
      .orderBy(col("__rel").desc, col("__id").asc)
      .limit(candidates)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val norms = cand.map { case (_, v, _) => math.sqrt(dot(v, v)) }
    val n = cand.length
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val selIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
    val taken = new Array[Boolean](n)
    for (_ <- 1 to math.min(k, n)) {
      var bestI = -1
      var bestScore = Double.NegativeInfinity
      var bestId = Long.MaxValue
      var i = 0
      while (i < n) {
        if (!taken(i)) {
          var maxSim = 0.0
          var first = true
          for (j <- selIdx) {
            val c = dot(cand(i)._2, cand(j)._2) / (norms(i) * norms(j))
            if (first || c > maxSim) { maxSim = c; first = false }
          }
          val score = lambda * cand(i)._3 - (1.0 - lambda) * maxSim
          if (score > bestScore ||
              (score == bestScore && cand(i)._1 < bestId)) {
            bestScore = score; bestI = i; bestId = cand(i)._1
          }
        }
        i += 1
      }
      taken(bestI) = true
      selIdx += bestI
      selected += ((cand(bestI)._1, cand(bestI)._3, bestScore))
    }
    import spark.implicits._
    selected.toSeq.zipWithIndex
      .map { case ((id, rel, s), r) => (r + 1L, id, rel, s) }
      .toDF("rank", "id", "rel", "mmr")
  }

  /** The RBO per-depth contribution table: W(m) = Σ_{d=m..k} p^{d−1}/d,
    * so a doc first covered by both rankings at depth m (= max of its two
    * ranks) contributes exactly its share of every deeper overlap term.
    * Powers expand as LEFT-ASSOCIATIVE multiplication chains and the
    * suffix sum folds from d=k down — fixed arithmetic shared verbatim
    * (as literals) with the SQL replay, the q139/q211 convention. */
  private[graft] def rboWeights(p: Double, k: Int): Array[Double] = {
    val t = new Array[Double](k + 1)
    var pw = 1.0
    var d = 1
    while (d <= k) { t(d) = pw / d; pw = pw * p; d += 1 }
    val w = new Array[Double](k + 1)
    d = k
    while (d >= 1) { w(d) = t(d) + (if (d == k) 0.0 else w(d + 1)); d -= 1 }
    w
  }

  /** Rank-biased overlap (Webber et al. 2010) between two top-`k`
    * rankings — the retrieval-diagnostics number for "how differently do
    * these two rankers see the corpus" (e.g. BM25 vs embedding cosine:
    * low RBO = the hybrid fusion is doing real work; RBO ≈ 1 = one
    * ranker is redundant). Top-weighted, unlike recall@k overlap: an
    * agreement at rank 1 counts for far more than one at rank 50.
    *
    * This is the truncated RBO_min on the observed prefixes (no
    * extrapolation past k — honestly a lower bound). Each id present in
    * BOTH rankings enters every overlap term from depth max(rank_a,
    * rank_b) onward, so RBO = (1−p) · Σ_shared W(max) with W the
    * driver-literal suffix table from [[rboWeights]] — the whole
    * computation after the two input rankings is one inner join of two
    * ≤k-row frames plus an id-sorted fold of ≤k literal lookups.
    * Returns one row: (n_shared, rbo). */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, idCol: String,
      rankColA: String, rankColB: String, p: Double, k: Int): DataFrame = {
    require(p > 0.0 && p < 1.0, s"p must be in (0,1), got $p")
    require(k >= 1, s"k must be >= 1, got $k")
    val w = rboWeights(p, k).toSeq
    val joined = a.select(col(idCol).as("__id"), col(rankColA).as("__ra"))
      .filter(col("__ra") <= k)
      .join(b.select(col(idCol).as("__id"), col(rankColB).as("__rb"))
        .filter(col("__rb") <= k), Seq("__id"))
      .select(col("__id"),
        element_at(typedLit(w),
          (greatest(col("__ra"), col("__rb")) + lit(1)).cast("int"))
          .as("__w"))
    // no shared id: an empty Σ, and disjoint rankings score 0, not NULL
    joined.agg(count(lit(1)).as("n_shared"), (lit(1.0 - p) *
      coalesce(Ops.orderedSum(col("__w"), col("__id")), lit(0.0))).as("rbo"))
  }

  /** Sparse TF-IDF cosine similarity join: all document pairs whose
    * df-pruned tf-idf shingle vectors have cosine ≥ `threshold` — the
    * WEIGHTED complement to the set-based near-dup family (MinHash
    * Jaccard treats a doc as a shingle SET; this scores how much of each
    * document's distinctive mass two docs share, so a pair dominated by
    * rare shared phrasing ranks above one sharing only boilerplate).
    *
    * Scale shape — no candidate stage and no all-pairs anywhere:
    *  - terms with df > `maxDf` are REMOVED from the vectors (classic
    *    stopword/df pruning: their idf weight ln(N/df) is the smallest in
    *    the corpus, and at 100 TB a hub shingle would otherwise generate
    *    df² join rows). The recall contract is explicit: similarity
    *    carried ONLY by ubiquitous shingles is unobserved by design.
    *  - the pair products come from ONE self-join of the (id, term,
    *    weight) frame on the term key, so the join output is
    *    Σ_terms df² ≤ maxDf · nnz rows — LINEAR in corpus size at fixed
    *    maxDf — and aggregates per pair with map-side combine. df=1 terms
    *    stay in the norms (they dilute cosine exactly as they should) but
    *    never reach the join (they cannot be shared).
    *  - the tokenize scan runs once (checkpointed tf frame feeds the
    *    df counts, weights, norms and both join sides).
    *
    * `deterministic = true` (the gate path) folds each pair's products
    * and each doc's squared weights term-sorted, so the doubles are
    * bit-identical under repartitioning and a SQL oracle replays them;
    * production uses plain map-side-combined sums.
    *
    * Returns (id_a, id_b, n_shared, cosine), id_a < id_b. */
  def tfidfCosinePairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, threshold: Double, maxDf: Long,
      deterministic: Boolean = true): DataFrame = {
    require(shingleSize >= 1, s"shingleSize must be >= 1, got $shingleSize")
    require(threshold > 0.0, s"threshold must be > 0, got $threshold")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    val tf = df
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("__id"),
        explode(graft.functions.Shingles.word_shingles(
          Dedup.tokensCol(col(textCol)), shingleSize, distinct = false))
          .as("__term"))
      .groupBy("__id", "__term")
      .agg(count(lit(1)).as("__tf"))
      .localCheckpoint(false)
    val nDocs = tf.select(countDistinct(col("__id"))).first().getLong(0)
    if (nDocs == 0L) {
      import df.sparkSession.implicits._
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("id_a", "id_b", "n_shared", "cosine")
    }
    val dfreq = tf.groupBy("__term").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
    val w = tf.join(Ops.broadcastIfSmall(dfreq), Seq("__term"))
      .withColumn("__w", col("__tf").cast("double") *
        log(lit(nDocs.toDouble) / col("__df").cast("double")))
      .select(col("__id"), col("__term"), col("__w"), col("__df"))
      .localCheckpoint(false)
    val norms = w.groupBy("__id").agg(Ops.foldSum(deterministic,
        col("__w") * col("__w"), col("__term")).as("__sq"))
      .select(col("__id"), sqrt(col("__sq")).as("__norm"))
    val shared = w.filter(col("__df") >= 2L)
    val prods = shared
      .select(col("__term"), col("__id").as("id_a"), col("__w").as("__wa"))
      .join(shared.select(col("__term"), col("__id").as("id_b"),
        col("__w").as("__wb")), Seq("__term"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__term"),
        (col("__wa") * col("__wb")).as("__p"))
    prods.groupBy("id_a", "id_b")
      .agg(Ops.foldSum(deterministic, col("__p"), col("__term")).as("__dot"),
        count(lit(1)).as("n_shared"))
      .join(Ops.broadcastIfSmall(
        norms.select(col("__id").as("id_a"), col("__norm").as("__na"))), Seq("id_a"))
      .join(Ops.broadcastIfSmall(
        norms.select(col("__id").as("id_b"), col("__norm").as("__nb"))), Seq("id_b"))
      .withColumn("cosine", col("__dot") / (col("__na") * col("__nb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "n_shared", "cosine")
  }
}
