package graft

import graft.operators.{Analytics, Dedup, DriverGraph, Profiling, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
    (3L, "completely different content about spark shuffles and partitions here"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today"))   // exact dup of 1
  private def docsDf = docs.toDF("doc_id", "text")

  test("exactDedup keeps the first row per distinct content") {
    val out = Dedup.exactDedup(docsDf, Seq("text"), "doc_id")
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("minhash near-dup finds the near pair and not the distinct doc") {
    val pairs = Dedup.minhashNearDupPairs(docsDf, "doc_id", "text",
        shingleSize = 2, bands = 16, rowsPerBand = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // exact dup must be found with jaccard 1.0
    assert(pairs.contains((1L, 4L)))
  }

  test("minhashDedup drops near-duplicates, keeps smallest id") {
    val out = Dedup.minhashDedup(docsDf, "doc_id", "text",
      shingleSize = 2, bands = 16, rowsPerBand = 2, threshold = 0.5)
    val kept = out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept.contains(1L) && kept.contains(3L))
    assert(!kept.contains(4L))
  }

  test("simhash: identical docs get identical signatures; near docs are close") {
    val sig = Dedup.simhash(docsDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) === sig(4L))
    assert(java.lang.Long.bitCount(sig(1L) ^ sig(2L)) <= 12)
    assert(java.lang.Long.bitCount(sig(1L) ^ sig(3L)) > 12)
  }

  test("jaccard of exact duplicates is 1.0") {
    val pairs = Seq((1L, 4L)).toDF("id_a", "id_b")
    val j = Dedup.jaccardForPairs(docsDf, pairs, "doc_id", "text", shingleSize = 2)
      .first().getDouble(2)
    assert(j === 1.0)
  }

  test("brute-force ANN returns self-similar vectors first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), "vec_id", "embedding", 2)
      .orderBy("rank").collect()
    assert(out(0).getAs[Long]("neighbor_id") === 1L) // nearest to e_x is (0.9, 0.1, 0)
    assert(out.length === 2)
  }

  test("LSH ANN candidates are a subset of brute-force ordering (recall sanity)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 5)
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(e, q, "vec_id", "embedding", 10, planes = 4)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(lsh.nonEmpty)
    // random gaussian vectors are near-orthogonal: single-probe sign-LSH
    // recall is genuinely modest there; assert it beats chance (10/500)
    val recall = lsh.count(brute.contains).toDouble / lsh.length
    assert(recall > 0.05, s"LSH candidates no better than chance: $recall")
  }

  test("IVF ANN returns k neighbors per query with sane scores") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 3)
    val out = Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 5,
      numCentroids = 8, nProbe = 3)
    val byQuery = out.collect().groupBy(_.getLong(0))
    assert(byQuery.keySet === Set(0L, 1L, 2L))
    assert(byQuery.values.forall(_.length === 5))
    assert(out.agg(min("cosine"), max("cosine")).first().getDouble(1) <= 1.000001)
  }

  test("knnJoin at one centroid equals exact brute-force self-KNN") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // one cluster → the IVF blocking admits every pair → exact semantics
    val knn = Similarity.knnJoin(e, "vec_id", "embedding", k = 3, numCentroids = 1)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    val brute = Similarity.bruteForceTopK(e, e, "vec_id", "embedding", k = 3)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(knn.nonEmpty && knn.toSeq === brute.toSeq)
  }

  test("knnJoin surfaces planted exact copies as rank-1 neighbors") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter($"vec_id" < 50).select("vec_id", "embedding")
    val copies = e.select(($"vec_id" + 1000).as("vec_id"), $"embedding")
    val out = Similarity.knnJoin(e.unionByName(copies), "vec_id", "embedding",
        k = 1, numCentroids = 4)
      .select("query_id", "neighbor_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // an exact copy lands in its source's cluster (identical argmax) and
    // dominates at cosine 1.0
    (0L until 50L).foreach { id =>
      assert(out(id + 1000) === id, s"copy ${id + 1000} missed its source")
      assert(out(id) === id + 1000, s"source $id missed its copy")
    }
  }

  test("embedding near-dup pairs finds planted duplicates") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter($"vec_id" < 50)
    val planted = e.filter($"vec_id" < 5)
      .select(($"vec_id" + 1000).as("vec_id"), $"embedding", $"label")
    val pairs = Dedup.embeddingNearDupPairs(e.unionByName(planted), "vec_id", "embedding",
        threshold = 0.999, planes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0 until 5).forall(i => pairs.contains((i.toLong, i + 1000L))), s"missing planted dups: $pairs")
  }

  test("token counting and language id") {
    val df = Seq(
      (1, "the cat and the dog, that is it"),
      (2, "der hund und die katze ist nicht da"),
      (3, "")).toDF("id", "t")
    val out = df.select($"id",
      TextAnalysis.tokenCount($"t").as("n"),
      TextAnalysis.bpeishTokenCount($"t").as("b"),
      TextAnalysis.langId($"t").as("lang")).orderBy("id").collect()
    assert(out(0).getInt(1) === 8)
    assert(out(0).getString(3) === "en")
    assert(out(1).getString(3) === "de")
    assert(out(2).getInt(1) === 0)
  }

  test("quality score is in [0,1] and favors clean prose") {
    val df = Seq(
      (1, "The quick brown fox jumps over the lazy dog and runs to the hills in the morning light."),
      (2, "!!!,,,;;;:::!!!")).toDF("id", "t")
    val out = df.select($"id", TextAnalysis.qualityScore($"t").as("q")).orderBy("id").collect()
    val (good, bad) = (out(0).getDouble(1), out(1).getDouble(1))
    assert(good > bad && good <= 1.0 && bad >= 0.0)
  }

  test("fingerprint is robust to formatting-only edits") {
    val df = Seq(
      (1, "Hello, World!  This is   fine."),
      (2, "hello world this is fine"),
      (3, "entirely different")).toDF("id", "t")
    val fps = df.select(TextAnalysis.fingerprint($"t")).collect().map(_.getString(0))
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("winnowed fingerprints overlap heavily for near-dup docs") {
    val df = TextAnalysis.winnowedFingerprints(docsDf, "text", "fp", k = 3, window = 3)
      .select("doc_id", "fp")
    val m = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val overlap = m(1L).intersect(m(2L)).size.toDouble / m(1L).union(m(2L)).size
    assert(overlap > 0.5)
    assert(m(1L) === m(4L))
  }

  test("duplicateSpans finds cross-doc spans, merges overlaps, ignores within-doc repeats") {
    val boiler = "a b c d e f g h i j" // 10 shared tokens
    val docs = Seq(
      (1L, s"x1 y1 $boiler z1 w1"),    // shared run at token 2..11
      (2L, s"$boiler q2 r2 s2"),       // shared run at token 0..9
      (3L, "m m m m m m m m m m m m"), // WITHIN-doc repetition only — no flag
      (4L, "p4 q4 r4 s4 t4"))          // 5 tokens < k — excluded entirely
      .toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, "doc_id", "text", minSpanTokens = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    // k=8 grams fully inside the shared 10-token run: 3 overlapping
    // positions per doc, merged into ONE maximal span of 10 tokens
    assert(out === Set((1L, 2, 11, 10), (2L, 0, 9, 10)))
  }

  test("duplicateSpans merges adjacent-but-disjoint flagged intervals into one run") {
    // two 8-gram matches at distance exactly k: intervals [0,7] and [8,15]
    // touch, so tokens 0..15 form one contiguous duplicated-covered run
    val r1 = "a b c d e f g h"
    val r2 = "p q r s t u v w"
    val docs = Seq(
      (1L, s"$r1 $r2"),                 // both runs, back to back
      (2L, s"$r1 z2 z3 z4 z5 z6 z7 z8 z9"), // shares run 1 only
      (3L, s"y2 y3 y4 y5 y6 y7 y8 y9 $r2")) // shares run 2 only
      .toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, "doc_id", "text", minSpanTokens = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(out.contains((1L, 0, 15)), s"adjacent intervals did not merge: $out")
  }

  test("stripDuplicateSpans rebuilds affected docs without the duplicated tokens") {
    val boiler = "a b c d e f g h i j"
    val docs = Seq(
      (1L, s"x1 y1 $boiler z1 w1"),
      (2L, s"$boiler q2 r2 s2"),
      (3L, "an untouched document with plenty distinct tokens here"),
      (4L, "tiny doc"))
      .toDF("doc_id", "text")
    val out = Dedup.stripDuplicateSpans(docs, "doc_id", "text", minSpanTokens = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out.keySet === Set(1L, 2L)) // only affected docs return
    assert(out(1L) === (("x1 y1 z1 w1", 10L)))
    assert(out(2L) === (("q2 r2 s2", 10L)))
  }

  test("stripDuplicateSpans empties a fully-duplicated doc (exactDedup's job otherwise)") {
    val same = "p q r s t u v w x y"
    val docs = Seq((1L, same), (2L, same)).toDF("doc_id", "text")
    val out = Dedup.stripDuplicateSpans(docs, "doc_id", "text", minSpanTokens = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out === Map(1L -> (("", 10L)), 2L -> (("", 10L))))
  }

  test("duplicateSpanStats reports per-doc duplicated-token fractions for all docs") {
    val boiler = "a b c d e f g h i j"
    val docs = Seq(
      (1L, s"x1 y1 $boiler z1 w1"),
      (2L, s"$boiler q2 r2 s2"),
      (3L, "clean doc with eight distinct tokens here ok"))
      .toDF("doc_id", "text")
    val out = Dedup.duplicateSpanStats(docs, "doc_id", "text", minSpanTokens = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((10L, 14, 0.714286)))
    assert(out(2L) === ((10L, 13, 0.769231)))
    assert(out(3L) === ((0L, 8, 0.0)))
  }

  test("spanDedupReport outputs are value-identical to the single-output operators") {
    val boiler = "please subscribe to our newsletter for daily updates and offers"
    val docs = Seq(
      (1L, s"unique first content $boiler more unique tail here"),
      (2L, s"$boiler completely different body text follows after it"),
      (3L, "independent document with no shared spans at all whatsoever"),
      (4L, boiler)).toDF("doc_id", "text")
    val r = Dedup.spanDedupReport(docs, "doc_id", "text", minSpanTokens = 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(r.spans) ===
      rows(Dedup.duplicateSpans(docs, "doc_id", "text", minSpanTokens = 8)))
    assert(rows(r.stats) ===
      rows(Dedup.duplicateSpanStats(docs, "doc_id", "text", minSpanTokens = 8)))
    assert(rows(r.stripped) ===
      rows(Dedup.stripDuplicateSpans(docs, "doc_id", "text", minSpanTokens = 8)))
    assert(r.spans.count() > 0) // the boilerplate actually flags
  }

  test("fused KgramHashes matches the HOF kgramHashes reference chain") {
    val docs = Seq((1L, "one two three four five six"), (2L, "short"),
      (3L, ""), (4L, "a b c")).toDF("doc_id", "text")
    val toks = Dedup.tokensCol(col("text"))
    val fused = docs.select(col("doc_id"),
      graft.functions.TextStats.kgram_hashes(toks, 3).as("h")).collect()
    val ref = docs.select(col("doc_id"),
      TextAnalysis.kgramHashes(toks, 3).as("h")).collect()
    assert(fused.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap ===
      ref.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap)
  }

  test("end-to-end training-data pipeline: quality → decontaminate → dedup → strip → pack") {
    // the composed flow a real corpus build runs, over sf0.001 — every
    // stage is individually oracle-gated; this locks the COMPOSITION
    // (schemas line up, stages commute with each other's outputs)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val n0 = docs.count()
    val bench = docs.filter(col("doc_id") % 31 === 0).select(col("text").as("bench_text"))
    val scored = TextAnalysis.analyze(docs, "text")
      .filter(col("token_count") >= 5 && col("quality") > 0.2)
    val n1 = scored.count()
    val decontaminated = Dedup.decontaminate(scored.select("doc_id", "text"),
      "doc_id", "text", bench, "bench_text", ngram = 5, minMatches = 1)
    val n2 = decontaminated.count()
    val deduped = Dedup.dedupPipeline(decontaminated, "doc_id", "text",
      bands = 16, rowsPerBand = 2, threshold = 0.55, assumeUniqueId = true)
    val n3 = deduped.count()
    // stats + strip are consumed together → the combined one-scan entry
    val report = Dedup.spanDedupReport(deduped, "doc_id", "text", minSpanTokens = 8)
    assert(report.stats.count() === n3) // stats covers every surviving doc
    val stripped = report.stripped
    val cleaned = deduped.join(stripped.select(col("doc_id"),
        col("clean_text")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("clean_text"), col("text")).as("text"))
      .filter(length(trim(col("text"))) > 0)
    val packed = Analytics.packSequences(
      cleaned.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("tok_len"),
        pmod(col("doc_id"), lit(4)).as("stratum")),
      "doc_id", "tok_len", capacity = 2048, strataCol = "stratum")
    val rows = packed.collect()
    // stages only ever remove documents
    assert(n0 >= n1 && n1 >= n2 && n2 >= n3, s"counts grew: $n0 $n1 $n2 $n3")
    assert(n3 > 0 && rows.nonEmpty)
    // packing invariants survive the composition: per stratum, offsets are
    // the exact prefix sums of the lengths in id order
    rows.groupBy(_.getAs[Long]("stratum")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("doc_id"))
      var run = 0L
      sorted.foreach { r =>
        assert(r.getAs[Long]("offset") === run)
        run += r.getAs[Int]("tok_len")
      }
    }
  }

  test("cdcChunkRows: chunks partition the tokens; identical docs share every hash") {
    val text = (1 to 60).map(i => s"tok$i word$i item$i").mkString(" ")
    val docs = Seq((1L, text), (2L, text), (3L, "different little doc")).toDF("doc_id", "text")
    val rows = Dedup.cdcChunkRows(docs, "doc_id", "text", avgChunkTokens = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    val byDoc = rows.groupBy(_._1)
    // chunks partition the token stream: n_tokens sums to the doc's count
    assert(byDoc(1L).map(_._4).sum === 180)
    // identical docs chunk identically
    assert(byDoc(1L).map(r => (r._2, r._3, r._4)).toSeq.sorted ===
      byDoc(2L).map(r => (r._2, r._3, r._4)).toSeq.sorted)
    assert(byDoc(1L).map(_._3).toSet.intersect(byDoc(3L).map(_._3).toSet).isEmpty)
  }

  test("CDC boundaries are content-local: a prefix insertion only perturbs the first chunk") {
    val shared = (1 to 80).map(i => s"alpha$i beta$i").mkString(" ")
    val docs = Seq((1L, shared), (2L, s"zzzunique insertion $shared")).toDF("doc_id", "text")
    val rows = Dedup.cdcChunkRows(docs, "doc_id", "text", avgChunkTokens = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val h1 = rows.filter(_._1 == 1L).map(_._2).toSet
    val h2 = rows.filter(_._1 == 2L).map(_._2).toSet
    // everything after doc 1's first boundary re-aligns despite the shift
    assert(h1.intersect(h2).size >= h1.size - 1,
      s"CDC lost alignment after an insertion: ${h1.size} chunks, ${h1.intersect(h2).size} shared")
    val stats = Dedup.duplicateChunkStats(docs, "doc_id", "text", avgChunkTokens = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats.keySet === Set(1L, 2L))
    assert(stats(1L) >= h1.size - 1)
  }

  test("bpeTokenCount applies greedy min-rank merges (golden cases)") {
    val merges = Seq(("t", "h"), ("th", "e"), ("a", "n"), ("an", "d"))
    val df = Seq(
      (1L, "the"),      // t h e → th e → the = 1
      (2L, "and then"), // and → 1; then: t h e n → th e n → the n = 2
      (3L, ""),         // no symbols
      (4L, "xyz"),      // no applicable merges: 3 codepoints
      (5L, "  THE  "))  // trim + lowercase = 1
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text"), merges).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === Map(1L -> 1, 2L -> 3, 3L -> 0, 4L -> 3, 5L -> 1))
  }

  test("bpeTokenCount is the min-rank LOOP, not a single rank-ordered pass") {
    // rank 0 = (aa,b), rank 1 = (a,a): "aab" must first merge (a,a) — the
    // only pair present — then revisit rank 0 on the NEW adjacency:
    // [a,a,b] → [aa,b] → [aab] = 1 token. A one-pass-per-rule scheme
    // would answer 2 (rule 0 sees no match before rule 1 runs).
    val merges = Seq(("aa", "b"), ("a", "a"))
    val df = Seq((1L, "aab")).toDF("doc_id", "text")
    val n = df.select(TextAnalysis.bpeTokenCount(col("text"), merges))
      .first().getInt(0)
    assert(n === 1)
  }

  test("bpeTokenCount merges left-to-right non-overlapping for left=right rules") {
    val merges = Seq(("a", "a"))
    val df = Seq((1L, "aaaa"), (2L, "aaa"), (3L, "aaaaa")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text"), merges).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // aaaa → [aa,aa]=2; aaa → [aa,a]=2; aaaaa → [aa,aa,a]=3
    assert(out === Map(1L -> 2, 2L -> 2, 3L -> 3))
  }

  test("bpeTokenCount treats surrogate-pair codepoints as single symbols") {
    val x = new String(Character.toChars(0x1D54F)) // 𝕏 (2 UTF-16 chars)
    val df = Seq((1L, x + x), (2L, s"a${x}b")).toDF("doc_id", "text")
    val merged = df.select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text"), Seq((x, x))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(merged === Map(1L -> 1, 2L -> 3)) // 𝕏𝕏 merges; a𝕏b has no pair
    val plain = df.select(TextAnalysis.bpeTokenCount(col("text"), Nil))
      .collect().map(_.getInt(0)).toSeq
    assert(plain === Seq(2, 3)) // codepoint counts, not char counts
  }

  test("bpeTokenCount lowercases locale-insensitively (tr/az dotless-I)") {
    // Spark lower('II') = 'ii' → one (i,i) merge = 1 symbol. A
    // locale-sensitive String.toLowerCase yields 'ıı' under a Turkish
    // default locale — no merge, count 2 — diverging from tokensCol and
    // the DuckDB oracle.
    val df = Seq((1L, "II")).toDF("doc_id", "text")
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
      val n = df.select(TextAnalysis.bpeTokenCount(col("text"), Seq(("i", "i"))))
        .first().getInt(0)
      assert(n === 1)
    } finally java.util.Locale.setDefault(prev)
  }

  test("parseMerges reads merges.txt conventions") {
    val lines = Seq("#version: 0.2", "", "t h", "th e", "  a n  ")
    assert(TextAnalysis.parseMerges(lines) ===
      Seq(("t", "h"), ("th", "e"), ("a", "n")))
    // '#' begins REAL subword symbols (markdown vocabularies): only the
    // #version header is skipped, '# #' is a legitimate merge
    assert(TextAnalysis.parseMerges(Seq("#version: 0.2", "# #", "## #")) ===
      Seq(("#", "#"), ("##", "#")))
    intercept[IllegalArgumentException] {
      TextAnalysis.parseMerges(Seq("a b c"))
    }
  }

  test("exactDedup distinguishes null placement across content columns") {
    val df = Seq((1L, Some("x"), None: Option[String]),
                 (2L, None: Option[String], Some("x"))).toDF("id", "a", "b")
    assert(Dedup.exactDedup(df, Seq("a", "b"), "id").count() === 2)
  }

  test("exactDedup shuffles only (hash, order) keys, never document rows") {
    val plan = Dedup.exactDedup(docsDf, Seq("text"), "doc_id",
        assumeUniqueOrder = true)
      .queryExecution.optimizedPlan.toString
    // the aggregate under the first Exchange projects just hash + order
    assert(!plan.contains("row_number"), "window formulation is back")
    assert(plan.contains("LeftSemi"), s"expected semi-join plan:\n$plan")
  }

  test("exactDedup keeps exactly one survivor when the order column ties") {
    // non-unique order column (constant timestamp): every duplicate pair
    // ties at (hash, min) — the default mode must still collapse to one
    val df = Seq((1L, "same text"), (1L, "same text"), (1L, "same text"),
                 (1L, "other text")).toDF("ts", "text")
    val out = Dedup.exactDedup(df, Seq("text"), "ts")
    assert(out.count() === 2, "tied duplicates must collapse to one survivor")
    // opting into the unique-order fast path skips the collapse — all ties
    // survive, as documented
    assert(Dedup.exactDedup(df, Seq("text"), "ts", assumeUniqueOrder = true)
      .count() === 4)
  }

  test("fused word shingles are output-identical to the HOF form") {
    def hofShingles(tokens: org.apache.spark.sql.Column, n: Int) =
      array_distinct(
        when(size(tokens) >= n,
          transform(sequence(lit(0), size(tokens) - n),
            i => concat_ws(" ", (0 until n).map(j => element_at(tokens, i + j + 1)): _*)))
        .otherwise(array(concat_ws(" ", tokens))))
    // real docs + edge cases: short doc (< n tokens), repeated shingles,
    // null text (null token array → [""])
    val edge = Seq((9001L, "one two"), (9002L, "a b a b a b"),
        (9003L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val all = docsDf.select("doc_id", "text").unionByName(edge)
      .select(col("doc_id"), Dedup.tokensCol(col("text")).as("__toks"))
    val hof = all.select(col("doc_id"), hofShingles(col("__toks"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val fused = all.select(col("doc_id"), Dedup.shinglesOf(col("__toks"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(fused === hof)
    // positional variant keeps duplicates in document order
    val posHof = all.select(col("doc_id"),
        when(size(col("__toks")) >= 3,
          transform(sequence(lit(0), size(col("__toks")) - 3),
            i => concat_ws(" ", (0 until 3).map(j => element_at(col("__toks"), i + j + 1)): _*)))
        .otherwise(array(concat_ws(" ", col("__toks")))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val posFused = all.select(col("doc_id"), Dedup.shinglesOfAll(col("__toks"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(posFused === posHof)
  }

  test("fused simhash is value-identical to the grouped bit-vote form") {
    val grouped = Dedup.simhash(docsDf, "doc_id", "text", tokenHash = xxhash64(_))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fused = Dedup.simhash(docsDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused === grouped)
    // and the fused plan is a pure projection — no Exchange
    val plan = Dedup.simhash(docsDf, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"fused simhash shuffles:\n$plan")
  }

  test("fused md5 simhash is value-identical to the grouped md5Hash60 form") {
    // a fresh eta-expansion of md5Hash60 is NOT the marker reference, so
    // this runs the generic explode -> groupBy bit-vote path
    val grouped = Dedup.simhash(docsDf, "doc_id", "text",
        tokenHash = Dedup.md5Hash60(_))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fused = Dedup.simhash(docsDf, "doc_id", "text",
        tokenHash = Dedup.Md5TokenHash)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused === grouped)
    // and the fused plan is a pure projection — no Exchange
    val plan = Dedup.simhash(docsDf, "doc_id", "text",
        tokenHash = Dedup.Md5TokenHash)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"fused md5 simhash shuffles:\n$plan")
  }

  test("fused minhash signature is bit-identical to the per-lane HOF form") {
    val sh = docsDf.select(col("doc_id"),
      Dedup.shinglesOf(Dedup.tokensCol(col("text")), 3).as("__sharr"))
    val lanes = (0 until 32).map(i =>
      array_min(transform(col("__sharr"), s => xxhash64(s, lit(i)))))
    val hof = sh.select(col("doc_id"), array(lanes: _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fused = sh.select(col("doc_id"),
        graft.functions.MinHashSig.minhash_signature(col("__sharr"), 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fused === hof)
  }

  test("decontamination drops benchmark-overlapping docs, keeps clean ones") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog every single day"),
      (2L, "a completely different document about distributed query engines"),
      (3L, "the quick brown fox appears briefly here"), // partial overlap
      (4L, "spark catalyst optimizer rewrites logical plans")).toDF("doc_id", "text")
    val bench = Seq("the quick brown fox jumps over the lazy dog every single day")
      .toDF("bench_text")
    // doc 1 shares all its 3-grams; doc 3 shares 2 ("the quick brown",
    // "quick brown fox") — below minMatches=3
    val counts = Dedup.contaminationCounts(corpus, "doc_id", "text", bench,
        "bench_text", ngram = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(1L) >= 8L && counts(3L) === 2L && !counts.contains(2L))
    val kept = Dedup.decontaminate(corpus, "doc_id", "text", bench, "bench_text",
        ngram = 3, minMatches = 3)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(2L, 3L, 4L))
    // matching is exact strings — a doc repeating benchmark TOKENS in a
    // different order is clean
    val reordered = Seq((9L, "dog lazy the over jumps fox brown quick the")).toDF("doc_id", "text")
    assert(Dedup.decontaminate(reordered, "doc_id", "text", bench, "bench_text",
      ngram = 3, minMatches = 1).count() === 1L)
  }

  test("minhash signature of an empty or all-null shingle array is null") {
    val df = Seq(
      (1L, Seq("a b c", "b c d")),
      (2L, Seq.empty[String]),
      (3L, null.asInstanceOf[Seq[String]])).toDF("id", "sh")
      .union(Seq((4L, Seq(null.asInstanceOf[String]))).toDF("id", "sh"))
    val out = df.select(col("id"),
        graft.functions.MinHashSig.minhash_signature(col("sh"), 8).as("sig"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(out(1L) != null && out(1L).asInstanceOf[Seq[Long]].length === 8)
    assert(out(2L) == null, "empty array must yield a null signature")
    assert(out(3L) == null)
    assert(out(4L) == null, "all-null elements must yield a null signature")
  }

  test("hot-bucket cap bounds candidate pairs on a planted boilerplate cluster") {
    // 2000 docs sharing an identical 10-token prefix with one varying token:
    // every band bucket of the prefix-dominated signature is degenerate
    val n = 2000
    val cluster = (0 until n).map(i =>
      (i.toLong, s"common shared boilerplate header tokens repeated in every document $i"))
    val df = cluster.toDF("doc_id", "text")
    val bandsDf = Dedup.minhashBands(df, "doc_id", "text", shingleSize = 3,
      bands = 4, rowsPerBand = 2)
    val capped = Dedup.minhashCandidates(bandsDf, "doc_id", maxBucketSize = 50).count()
    // uncapped would approach n(n-1)/2 = ~2.0M pairs; capped stays near
    // bands * (n/50 sub-buckets) * C(50,2) ≈ 200k worst case
    assert(capped < 500000L, s"cap ineffective: $capped pairs")
    // observability: the degenerate buckets are reported with drop estimates
    val stats = Dedup.oversizedBucketStats(bandsDf, Seq("band", "band_hash"), 50)
    assert(stats.count() > 0)
    assert(stats.agg(max("dropped_pairs_approx")).first().getLong(0) > 0L)
  }

  test("PII redaction scrubs emails, IPs, and phone runs; counts report spans") {
    val df = Seq(
      (1L, "mail a.b+c@ex-ample.org or x@y.io, host 192.168.0.1, call +1 (555) 123-4567"),
      (2L, "clean text without identifiers")).toDF("id", "t")
    val out = df.select($"id", TextAnalysis.redactPii($"t").as("r"),
      TextAnalysis.piiCounts($"t").as("c")).orderBy("id").collect()
    val r1 = out(0).getString(1)
    assert(!r1.contains("@") && !r1.contains("192.168") && !r1.contains("555"))
    assert(r1.contains("<EMAIL>") && r1.contains("<IP>") && r1.contains("<PHONE>"))
    val c1 = out(0).getStruct(2)
    assert(c1.getInt(0) === 2 && c1.getInt(1) === 1) // emails, ipv4s
    assert(out(1).getString(1) === "clean text without identifiers")
  }

  test("hash sampling is deterministic, rate-accurate, and partition-invariant") {
    import graft.operators.Sampling
    val rows = (0L until 2000L).map(i => (i, if (i % 3 == 0) "en" else "de"))
      .toDF("id", "lang")
    val kept = Sampling.hashSample(rows, "id", 0.3)
    val n = kept.count()
    assert(math.abs(n - 600) < 80, s"rate off: $n/2000 at 0.3")
    // identical decision set regardless of physical layout
    val repart = Sampling.hashSample(rows.repartition(13), "id", 0.3)
    assert(kept.collect().map(_.getLong(0)).sorted.toSeq ===
      repart.collect().map(_.getLong(0)).sorted.toSeq)
    // nested rates: stratum-specific thresholds apply
    val strat = Sampling.stratifiedHashSample(rows, "lang", "id",
      Map("en" -> 1.0), defaultRate = 0.0)
    assert(strat.select("lang").distinct().collect().map(_.getString(0)).toSeq === Seq("en"))
    assert(strat.count() === rows.filter($"lang" === "en").count())
  }

  test("hashSplit folds are disjoint, exhaustive, and stable") {
    import graft.operators.Sampling
    val rows = (0L until 1000L).toDF("id")
    val folds = Sampling.hashSplit(rows, "id", Seq(8, 1, 1))
    val sets = folds.map(_.collect().map(_.getLong(0)).toSet)
    assert(sets.map(_.size).sum === 1000)
    assert(sets.combinations(2).forall { case Seq(a, b) => a.intersect(b).isEmpty })
    assert(sets(0).size > 700 && sets(1).size < 180 && sets(2).size < 180)
    // a key's fold never changes across invocations
    val again = Sampling.hashSplit(rows, "id", Seq(8, 1, 1)).map(_.collect().map(_.getLong(0)).toSet)
    assert(sets === again)
  }

  test("IVF survives a corpus smaller than numCentroids (seed fallback)") {
    val tiny = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)), (2L, Array(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(tiny, tiny.filter($"vec_id" === 0), "vec_id", "embedding",
      k = 2, numCentroids = 16, nProbe = 16)
    val neighbors = out.orderBy("rank").collect().map(_.getAs[Long]("neighbor_id"))
    assert(neighbors.head === 2L) // (0.9, 0.1) is nearest to (1, 0)
  }

  test("semanticDupPairs finds within-cluster cosine pairs; semanticDedup keeps the min id") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f, 0.0f)),   // exact dup of 1 → cosine 1.0
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(0.0f, 0.99f, 0.14f)), // cosine to 3 ≈ 0.990
      (5L, Seq(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // one cluster → plain pairwise; makes the expected set exact
    val pairs = Dedup.semanticDupPairs(df, "vec_id", "embedding",
        numCentroids = 1, tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (3L, 4L)))
    val kept = Dedup.semanticDedup(df, "vec_id", "embedding",
        numCentroids = 1, tau = 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L, 5L))
  }

  test("semanticDedup drops planted identical copies regardless of cluster count") {
    // identical vectors always land in the same cluster (same argmax),
    // so the planted +100 copies must drop under any centroid count.
    // Base vectors are e_a + c·e_{a+1} with c-gaps ≥ 0.3 — every
    // cross-original cosine stays ≤ ~0.995, below the 0.999 tau.
    val base = (0L until 40L).map { i =>
      val a = (i % 8).toInt
      (i, Seq.tabulate(8)(d =>
        if (d == a) 1.0f
        else if (d == (a + 1) % 8) 0.3f * (1 + i / 8)
        else 0.0f))
    }
    val planted = base.take(10).map { case (i, v) => (i + 100, v) }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedup(df, "vec_id", "embedding",
        numCentroids = 4, tau = 0.999)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert((100L until 110L).forall(!kept.contains(_)), s"planted copies survived: $kept")
    assert((0L until 40L).forall(kept.contains), "an original was dropped")
  }

  test("auto centroid sizing: SemDeDup targets a fixed cluster size, IVF uses sqrt(n)") {
    // SemDeDup: ⌈n / 4096⌉, clamped — per-cluster pair work bounded by
    // construction, total pair work linear in n
    assert(Dedup.semDedupAutoCentroids(1) === 1)
    assert(Dedup.semDedupAutoCentroids(4096) === 1)
    assert(Dedup.semDedupAutoCentroids(4097) === 2)
    assert(Dedup.semDedupAutoCentroids(1000000) === 245)
    assert(Dedup.semDedupAutoCentroids(1L << 40) === 65536) // clamp
    // IVF: √n, clamped
    assert(Similarity.sqrtCentroids(1) === 1)
    assert(Similarity.sqrtCentroids(10000) === 100)
    assert(Similarity.sqrtCentroids(1L << 40) === 65536) // clamp
  }

  test("semanticDedup and ivfTopK default paths equal the explicit resolved counts") {
    val df = (0L until 60L).map { i =>
      (i, Seq.tabulate(8)(d => if (d == (i % 8).toInt) 1.0f else 0.01f * (i / 8)))
    }.toDF("vec_id", "embedding")
    // 60 rows → SemDeDup auto resolves to 1 centroid
    val auto = Dedup.semanticDedup(df, "vec_id", "embedding", tau = 0.999)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val explicit = Dedup.semanticDedup(df, "vec_id", "embedding",
        numCentroids = Dedup.semDedupAutoCentroids(60), tau = 0.999)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(auto === explicit)
    // IVF auto resolves to √60 ≈ 8 centroids — same results as explicit 8
    val q = df.filter($"vec_id" < 3)
    def flat(out: org.apache.spark.sql.DataFrame) =
      out.orderBy("query_id", "rank").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSeq
    val autoIvf = flat(Similarity.ivfTopK(df, q, "vec_id", "embedding", k = 3, nProbe = 2))
    val explIvf = flat(Similarity.ivfTopK(df, q, "vec_id", "embedding", k = 3,
      numCentroids = Similarity.sqrtCentroids(60), nProbe = 2))
    assert(autoIvf === explIvf && autoIvf.nonEmpty)
  }

  test("connectedComponents collapses chains to the minimum id") {
    // chain 1-2-3-4 plus separate pair 10-11; 1≁3 directly but same cluster
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents converges logarithmically on a 100-node chain") {
    // worst case for min-label propagation (O(diameter) = 100 rounds);
    // large-star/small-star must collapse it within 7 rounds — maxIter=7
    // would return a SPLIT labeling if convergence were any slower.
    // maxDriverEdges=0 forces the DISTRIBUTED loop (the round budget is
    // what's under test; the driver union-find gate would bypass it)
    val pairs = (0L until 99L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponentsGated(pairs, "id_a", "id_b", maxIter = 7,
      maxDriverEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size === 100)
    assert(comp.values.forall(_ === 0L),
      s"chain did not fully collapse in ≤7 rounds: ${comp.filter(_._2 != 0L)}")
  }

  test("driver union-find gate agrees with the distributed star loop") {
    // deterministic random graph: mixed components, chains, self-pairs
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(400)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .toDF("id_a", "id_b")
    val viaDriver = Dedup.connectedComponents(pairs) // 400 edges ≪ gate
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDistributed = Dedup.connectedComponentsGated(pairs, "id_a", "id_b", 20, 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver === viaDistributed)
    // labels are component minima on both paths
    assert(viaDriver.forall { case (id, c) => c <= id })
  }

  test("adaptive driver-UF gate scales with heap and respects its clamps") {
    // formula: heap/3200 (1/16 of heap at ~200 B/edge) clamped to [65k, 16M],
    // at the running heap whatever its size
    assert(DriverGraph.maxEdges() === math.min(16000000L,
      math.max(65536L, Runtime.getRuntime.maxMemory() / 3200L)))
    assert(DriverGraph.maxEdges() === DriverGraph.maxEdgesFor(Runtime.getRuntime.maxMemory()))
    // an 8 GiB test/bench JVM must gate ABOVE the 100×-stress probe's
    // 1,045k edges (the round-5 cliff: just over the old fixed 1M gate)
    val g = DriverGraph.maxEdgesFor(8L << 30)
    assert(g === (8L << 30) / 3200L)
    assert(g > 1100000L, s"gate $g would route a ~1M-edge probe distributed")
    // both clamps: a 64 MiB heap gets the floor, a 1 TiB heap the cap
    assert(DriverGraph.maxEdgesFor(64L << 20) === 65536L)
    assert(DriverGraph.maxEdgesFor(1L << 40) === 16000000L)
  }

  test("connectedComponents handles self-pairs and shuffled edge directions") {
    val pairs = Seq((5L, 5L), (9L, 2L), (2L, 7L), (7L, 9L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(5L -> 5L, 2L -> 2L, 7L -> 2L, 9L -> 2L))
  }

  test("dedupByComponents keeps one representative per cluster plus singletons") {
    val rows = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupByComponents(rows, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // cluster {1,2,3} → 1; singleton 4 stays; cluster {5,6} → 5
    assert(kept === Seq(1L, 4L, 5L))
  }

  test("dedupByComponentsKeepBest keeps the best-scoring member, ties to min id") {
    val rows = Seq(
      (1L, 0.3), (2L, 0.9), (3L, 0.9), // cluster {1,2,3}: best 0.9, tie → 2
      (4L, 0.1),                       // singleton survives regardless of score
      (5L, 0.2), (6L, 0.8)             // cluster {5,6}: 6 wins
    ).toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupByComponentsKeepBest(rows, "doc_id", pairs, "quality")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(2L, 4L, 6L))
    // degenerate: uniform scores reduce to the min-id policy
    val uniform = rows.withColumn("quality", lit(1.0))
    val keptU = Dedup.dedupByComponentsKeepBest(uniform, "doc_id", pairs, "quality")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptU === Seq(1L, 4L, 5L))
  }

  test("capped minhash dedup still finds near-dups (small buckets untouched)") {
    val pairs = Dedup.minhashNearDupPairs(docsDf, "doc_id", "text",
        shingleSize = 2, bands = 16, rowsPerBand = 2, threshold = 0.5, maxBucketSize = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
  }

  // ── int8 quantization ──────────────────────────────────────────────────

  test("quantizeInt8: codes hit the exact min-max grid and clamp") {
    val vecs = Seq(
      (0L, Array(0.0f, 10.0f, 5.0f)),
      (1L, Array(1.0f, 20.0f, 5.0f)),
      (2L, Array(0.5f, 15.0f, 5.0f))).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // dim0: [0,1] -> 0.0->0, 1.0->255, 0.5->floor(127.5)=127
    // dim1: [10,20] -> 10->0, 20->255, 15->floor(127.5)=127
    // dim2: constant -> always 0
    assert(out(0L) === Seq(0, 0, 0))
    assert(out(1L) === Seq(255, 255, 0))
    assert(out(2L) === Seq(127, 127, 0))
  }

  test("quantizeInt8Report: mse bound and exact-on-grid reconstruction") {
    // values exactly ON the 256-level grid reconstruct exactly: mse = 0
    val grid = Seq(
      (0L, Array(0.0f, 0.0f)),
      (1L, Array(255.0f, 255.0f))).toDF("vec_id", "embedding")
    val g = Similarity.quantizeInt8Report(grid, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(g(0L) === ((0L, 0.0)))
    assert(g(1L) === ((510L, 0.0)))
    // off-grid: error per dim is bounded by one quantization step
    val vecs = (0L to 20L).map(i =>
      (i, Array((i * 0.37f) % 3.0f, (i * 1.13f) % 7.0f))).toDF("vec_id", "embedding")
    val rows = Similarity.quantizeInt8Report(vecs, "vec_id", "embedding").collect()
    val stepSq = math.pow(7.0 / 255.0, 2)  // widest dim range / 255, squared
    assert(rows.forall(_.getDouble(2) <= stepSq), "mse exceeds one step^2")
  }

  test("quantizeInt8: plan is a pure projection after the stats pass (no join)") {
    val vecs = Seq((0L, Array(1.0f, 2.0f)), (1L, Array(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val plan = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"quantization must not join:\n$plan")
    assert(!plan.contains("Exchange"), s"quantization must not shuffle:\n$plan")
  }

  // ── dup-cluster size report ────────────────────────────────────────────

  test("dupClusterSizeReport: cluster histogram plus the singleton fraction") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    // pairs: {1,2,3} one cluster, {4,5} another; 6 and 7 untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.dupClusterSizeReport(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("embeddingOutliers: the planted isolate ranks first") {
    // tight cluster around (1,0) plus one orthogonal isolate
    val vecs = ((1L to 8L).map(i =>
      (i, Array(1.0f, (i * 0.01f)))) :+ ((99L, Array(0.0f, 1.0f))))
      .toDF("vec_id", "embedding")
    val out = Similarity.embeddingOutliers(vecs, "vec_id", "embedding",
        k = 3, topK = 3, numCentroids = 1)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(out.head._2 === 99L)                 // isolate first
    assert(out.head._3 < 0.2)                   // nearly orthogonal to all
    assert(out(1)._3 > 0.99)                    // cluster members are dense
  }

  test("dedupProvenance: losers map to their component winner; consistent with keep-best") {
    val docs = Seq((1L, 5.0), (2L, 9.0), (3L, 7.0), (4L, 1.0), (5L, 2.0))
      .toDF("doc_id", "q")
    // components {1,2,3} and {4,5}; winners: 2 (q 9) and 5 (q 2)
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val prov = Dedup.dedupProvenance(docs, "doc_id", pairs, "q")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    assert(prov === Map(
      1L -> ((2L, 5.0, 9.0)), 3L -> ((2L, 7.0, 9.0)),
      4L -> ((5L, 1.0, 2.0))))
    // survivors = corpus minus provenance losers (the keep-best contract)
    val kept = Dedup.dedupByComponentsKeepBest(docs, "doc_id", pairs, "q")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L, 3L, 4L, 5L) -- prov.keySet)
  }

  test("thresholdCurve: buckets, spine, and the survival column") {
    // docsDf has exact dup pair (1,4) at j=1.0 and near pair around 0.5+
    val out = Dedup.thresholdCurve(docsDf, "doc_id", "text",
        probeThreshold = 0.4, bins = 10, shingleSize = 2,
        bands = 16, rowsPerBand = 2)
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(out.size === 10)                      // full spine
    assert(out(9)._2 >= 1L)                      // the j=1.0 exact pair
    // survival is monotone non-increasing in bucket
    val surv = (0 until 10).map(b => out(b)._3)
    assert(surv === surv.sorted.reverse)
    // bucket 0 survival counts every observed pair
    assert(surv.head === out.values.map(_._2).sum)
  }

  test("lshDetectionCurve: closed-form p(s) via multiplication chains") {
    val out = Dedup.lshDetectionCurve(spark, Seq((1, 1), (2, 1)),
      gridSteps = 4).collect()
      .map(r => r.getDouble(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out.keySet === Set(0.25, 0.5, 0.75))
    for ((s, (p11, p21)) <- out) {
      assert(math.abs(p11 - s) < 1e-15)             // b=1, r=1 → p = s
      assert(math.abs(p21 - (1.0 - (1.0 - s) * (1.0 - s))) < 1e-15)
    }
  }

  test("castQuarantineReport: non-null cast failures per column") {
    import spark.implicits._
    val df = Seq((Some("1"), "7"), (Some("x"), "8"), (None, "oops"))
      .toDF("a", "b")
    val out = Profiling.castQuarantineReport(df,
      Seq("a" -> "BIGINT", "b" -> "BIGINT")).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))).toMap
    assert(out("a") === ((3L, 2L, 1L, 0.5)))       // "x" fails, null skipped
    assert(out("b") === ((3L, 3L, 1L, 1.0 / 3.0))) // "oops" fails
  }

  test("labelCentroidConfusion: separable clusters sit on the diagonal") {
    import spark.implicits._
    // two tight clusters, one planted cross-label point
    val rows =
      (0 to 4).map(i => (i.toLong, Array(1.0f, 0.001f * i), 0)) ++
      (5 to 9).map(i => (i.toLong, Array(0.001f * i, 1.0f), 1)) ++
      Seq((10L, Array(0.0f, 1.0f), 0)) // labeled 0 but lives in cluster 1
    val out = Similarity.labelCentroidConfusion(rows.toDF("id", "v", "l"),
      "id", "v", "l").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((0L, 0L)) === 5L)
    assert(out((0L, 1L)) === 1L) // the planted point crosses over
    assert(out((1L, 1L)) === 5L)
    assert(!out.contains((1L, 0L)))
  }

  test("dimensionStats: per-coordinate mean/std, 1-based dims") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 4.0f)))
      .toDF("id", "v")
    val out = Similarity.dimensionStats(df, "id", "v", deterministic = true)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    assert(out(1) === ((2L, 2.0, 1.0)))
    assert(out(2) === ((2L, 3.0, 1.0)))
    val p = Similarity.dimensionStats(df, "id", "v").collect()
      .map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(math.abs(p(1) - 1.0) < 1e-12)
  }

  test("truncationQuality: prefix cosine error, zero-norm pair dropped") {
    import spark.implicits._
    val rows = Seq(
      (1L, Array(1.0f, 0.0f)),   // pair (1,2): cf = 0.6, d=1 cos = 1
      (2L, Array(0.6f, 0.8f)),
      (3L, Array(0.0f, 1.0f)))   // pair (2,3): d=1 norm of [0.0] = 0 → drop
    val out = Similarity.truncationQuality(rows.toDF("id", "v"), "id", "v",
      Seq(1, 2), deterministic = true).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    val (n1, m1, x1) = out(1)
    assert(n1 === 1L) // zero-norm pair dropped at d=1
    assert(math.abs(m1 - 0.4) < 1e-6 && math.abs(x1 - 0.4) < 1e-6)
    val (n2, m2, _) = out(2)
    assert(n2 === 2L && math.abs(m2) < 1e-12) // d=2 is the full vector
  }

  test("labelNoiseReport flags the planted mislabel, not its clean peers") {
    import spark.implicits._
    // cluster A near (1,0): 5× label 0 + ONE labeled 9; cluster B near
    // (0,1): 5× label 1. k=5, one centroid → exact neighborhoods.
    val rows =
      (0 to 4).map(i => (i.toLong, Array(1.0f, 0.001f * i), 0)) ++
      Seq((5L, Array(1.0f, 0.01f), 9)) ++
      (6 to 10).map(i => (i.toLong, Array(0.001f * i, 1.0f), 1))
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.labelNoiseReport(df, "vec_id", "embedding",
        "label", k = 5, numCentroids = 1, threshold = 0.6)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getDouble(4)))
      .toMap
    assert(out.keySet === Set(5L))
    assert(out(5L) === ((5L, 1.0)))
  }

  test("centroidDivergence: identical groups cos 1 / l2 0, orthogonal groups cos 0") {
    val rows = Seq(
      ("a", Seq(1.0f, 0.0f)), ("a", Seq(3.0f, 0.0f)),
      ("b", Seq(0.0f, 2.0f)), ("b", Seq(0.0f, 4.0f)),
      ("c", Seq(1.0f, 0.0f)), ("c", Seq(3.0f, 0.0f)))
      .toDF("src", "v")
    val out = Similarity.centroidDivergence(rows, "v", "src")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    assert(out(("a", "c"))._1 === 1.0 && out(("a", "c"))._2 === 0.0)
    assert(out(("a", "b"))._1 === 0.0)
    assert(math.abs(out(("a", "b"))._2 - math.sqrt(4.0 + 9.0)) < 1e-12)
    assert(out.size === 3)
  }

  test("mergeComponents: batch folds equal a full recompute, across batches") {
    import spark.implicits._
    // batch 1: {1-2}, {5-6}; batch 2 bridges 2-5 (merging the two comps
    // only THROUGH the component-level graph) and adds fresh {8-9}
    val b1 = Seq((1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val b2 = Seq((2L, 5L), (8L, 9L)).toDF("id_a", "id_b")
    val s1 = Dedup.mergeComponents(
      spark.emptyDataFrame.select(lit(0L).as("id"), lit(0L).as("component"))
        .limit(0), b1)
    assert(s1.as[(Long, Long)].collect().toSet ===
      Set((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L)))
    val s2 = Dedup.mergeComponents(s1, b2)
    val full = Dedup.connectedComponents(b1.unionAll(b2))
    assert(s2.as[(Long, Long)].collect().toSet ===
      full.as[(Long, Long)].collect().toSet)
    assert(s2.as[(Long, Long)].collect().toSet ===
      Set((1L, 1L), (2L, 1L), (5L, 1L), (6L, 1L), (8L, 8L), (9L, 8L)))
    // a third batch that merges three existing comps through one new node
    val b3 = Seq((6L, 100L), (100L, 9L)).toDF("id_a", "id_b")
    val s3 = Dedup.mergeComponents(s2, b3)
    val full3 = Dedup.connectedComponents(b1.unionAll(b2).unionAll(b3))
    assert(s3.as[(Long, Long)].collect().toSet ===
      full3.as[(Long, Long)].collect().toSet)
  }

  test("cascadeNoveltyReport rejects a batch sharing ids with history") {
    import spark.implicits._
    // an overlapping id would silently mis-attribute drops (a batch row
    // "dropped" by a pair linking the history row that shares its id) —
    // the documented precondition is now validated, not just documented
    val history = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val badBatch = Seq((2L, "totally new text here"), (3L, "another doc"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.cascadeNoveltyReport(history, badBatch, "doc_id", "text")
    }
    assert(e.getMessage.contains("disjoint"))
    // disjoint ids still work
    val okBatch = Seq((3L, "alpha beta gamma"), (4L, "fresh unique words"))
      .toDF("doc_id", "text")
    val rep = Dedup.cascadeNoveltyReport(history, okBatch, "doc_id", "text")
      .orderBy("stage")
      .as[(String, Long, Long, Long)].collect()
    assert(rep.head._1 === "1_exact" && rep.head._2 === 2L)
    assert(rep.head._3 === 1L) // the exact copy of history id 1 drops
  }

  // ── ivfRecallAudit / hardNegatives ───────────────────────────────────

  test("ivfRecallAudit: monotone in nProbe; probe-all equals brute force") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.ivfRecallAudit(e, "vec_id", "embedding", k = 5,
        numCentroids = 8, nProbes = Seq(1, 2, 8), maxQueries = 16)
      .orderBy("n_probe").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 8L))
    assert(out.forall(_._2 === 16L))
    // recall nondecreasing in nProbe
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a._5 <= b._5 + 1e-12, s"recall fell: $a then $b") }
    // probing every centroid scans every cluster → EXACTLY brute force
    assert(out.last._4 === out.last._3 && out.last._5 === 1.0)
    // hit counts never exceed the truth-pair count
    assert(out.forall(t => t._4 <= t._3))
  }

  test("scalarQuantizeReport: hand round-trip; exact-representable errors 0") {
    val vecs = Seq(
      (0L, Array(1.0f, -0.5f)),   // both dims hit ±scale → exact round-trip
      (1L, Array(0.5f, 0.25f))).toDF("vec_id", "embedding")
    val out = Similarity.scalarQuantizeReport(vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    // scales: dim0 = 1.0, dim1 = 0.5 (max-abs over the corpus)
    assert(out(0L)._1 === 0.0 && out(0L)._2 === 0.0)
    assert(math.abs(out(0L)._3 - 1.0) < 1e-12) // sqrt round-trip epsilon
    // v1: 0.5/1.0·127 = 63.5 → 64 → 64/127·1.0; 0.25/0.5·127 = 63.5 → 64
    val e0 = 64.0 / 127.0 - 0.5
    val e1 = (64.0 / 127.0) * 0.5 - 0.25
    assert(math.abs(out(1L)._1 - (e0 * e0 + e1 * e1) / 2.0) < 1e-15)
    assert(math.abs(out(1L)._2 - e0) < 1e-15)
    assert(out(1L)._3 > 0.999) // direction barely moves
  }

  test("scalarQuantizeReport: constant-zero dimension is NaN-free") {
    val vecs = Seq((0L, Array(0.0f, 2.0f)), (1L, Array(0.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.scalarQuantizeReport(vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(3))).toMap
    out.values.foreach { case (mse, cs) =>
      assert(!mse.isNaN && !cs.isNaN) }
    // vec 0 hits ±scale on both dims → exact round-trip
    assert(out(0L)._1 === 0.0)
    // vec 1: -1/2·127 = -63.5 → -64 (half away from zero) → err 1/127
    val e = 64.0 / 127.0 * 2.0 - 1.0
    assert(math.abs(out(1L)._1 - (e * e) / 2.0) < 1e-15)
  }

  test("quantizationRecallAudit: int8 keeps recall high on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val r = Similarity.quantizationRecallAudit(e, "vec_id", "embedding",
      k = 5, maxQueries = 32).collect()(0)
    assert(r.getLong(0) === 32L)
    assert(r.getLong(1) === 32L * 5L)      // every query has >= 5 neighbors
    assert(r.getLong(2) <= r.getLong(1))
    assert(r.getDouble(3) >= 0.8,
      s"int8 recall collapsed: ${r.getDouble(3)}")
  }

  test("hardNegatives: band respected, subset of brute-force ordering") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 4)
    // raw column order: (query_id, neighbor_id, cosine, rank)
    val out = Similarity.hardNegatives(e, q, "vec_id", "embedding",
      k = 5, lo = 0.2, hi = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(out.nonEmpty)
    // every row inside the band, no self-matches, ranks contiguous from 1
    assert(out.forall(t => t._3 >= 0.2 && t._3 < 0.9 && t._1 != t._2))
    out.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._4).sorted.toSeq === (1 to rows.length).toSeq) }
    // within the band, order matches the brute-force cosine ordering:
    // the top hard negative is the best-scoring in-band brute neighbor
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
        k = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    out.groupBy(_._1).foreach { case (qid, rows) =>
      val bestInBand = brute.filter(t => t._1 == qid &&
        t._3 >= 0.2 && t._3 < 0.9).maxBy(_._3)
      val top = rows.minBy(_._4)
      assert(top._2 === bestInBand._2, s"query $qid top mismatch")
    }
  }
}
