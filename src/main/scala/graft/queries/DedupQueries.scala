package graft
package queries

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** Query specs of the Dedup tier: deduplication and matching: exact,
  * MinHash/SimHash/LSH near-dup, span and line dedup, record linkage and
  * entity resolution, and the persistent similarity indexes. */
private[graft] object DedupQueries {
  def specs: Seq[QuerySpec] = Seq(
    // ── scale: exact dedup ───────────────────────────────────────────
    QuerySpec("q20_dedup_exact", (s, dir) => {
      val d = T(s, dir, "documents").select("doc_id", "text")
      val dupes = d.select((col("doc_id") + 100000).as("doc_id"), col("text"))
      Dedup.exactDedup(d.unionByName(dupes), Seq("text"), "doc_id",
          assumeUniqueOrder = true)
        .select("doc_id").orderBy("doc_id")
    }, oracle = Some(
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents)
        |SELECT min(doc_id) AS doc_id FROM u GROUP BY text ORDER BY doc_id""".stripMargin)),
    // ── scale: MinHash near-dup pairs (oracle: brute-force jaccard; the
    //    16×2 banding makes candidate recall effectively 1 at the
    //    threshold, so LSH+verify equals the exact pair set. The verify
    //    threshold sits at 0.55 — a MARGIN above the banding's 0.5 design
    //    point — so a pair hugging the boundary, whose banding miss
    //    probability (1−s²)¹⁶ is the largest, cannot turn expected LSH
    //    recall into a spurious oracle mismatch) ────────────────────────
    QuerySpec("q25_minhash_neardup", (s, dir) => {
      Dedup.minhashNearDupPairs(lshInputQ25(s, dir), "doc_id", "text",
          shingleSize = 3, bands = 16, rowsPerBand = 2, threshold = 0.55)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    }, oracle = Some(
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |t AS (
         |  SELECT doc_id, $shingle3Sql AS sh
         |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM u)),
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    len(list_intersect(a.sh, b.sh)) * 1.0 /
         |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, round(j, 4) AS jaccard FROM p
         |WHERE j >= 0.55 ORDER BY id_a, id_b""".stripMargin)),
    // ── scale: SimHash near-dup (oracle: DuckDB recomputes the exact
    //    signatures via the portable md5-prefix token hash; the 16-bit
    //    chunk blocking is exact for hamming ≤ 3 by pigeonhole) ────────
    QuerySpec("q26_simhash_neardup", (s, dir) => {
      val d = T(s, dir, "documents").select("doc_id", "text")
      val dupes = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      Dedup.simhashNearDupPairs(d.unionByName(dupes), "doc_id", "text", maxDist = 3,
          tokenHash = Dedup.Md5TokenHash)
        .orderBy("id_a", "id_b")
    }, bench = Some((s, dir) => {
      val d = T(s, dir, "documents").select("doc_id", "text")
      val dupes = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val u = d.unionByName(dupes)
      () => Dedup.simhashNearDupPairs(u, "doc_id", "text", maxDist = 3)
        .orderBy("id_a", "id_b")
    }), oracle = Some(
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0),
         |tok AS (
         |  SELECT doc_id, ${h60Sql("t")}::BIGINT AS h
         |  FROM (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t FROM u)),
         |sig AS (SELECT doc_id, $simhashBitsSql AS s FROM tok GROUP BY doc_id)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, bit_count(xor(a.s, b.s)) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.s, b.s)) <= 3
         |ORDER BY id_a, id_b""".stripMargin)),
    // ── scale: brute-force ANN (exact top-k cosine) ──────────────────
    QuerySpec("q27_ann_bruteforce", (s, dir) => {
      val e = T(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 10)
      Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }, oracle = Some(
      """SELECT q.vec_id AS query_id,
        |  row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |      CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank,
        |  c.vec_id AS neighbor_id,
        |  round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |    CAST(c.embedding AS DOUBLE[])), 6) AS cosine
        |FROM embeddings q, embeddings c
        |WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
        |QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin)),
    // ── scale: LSH-bucketed ANN (oracle: DuckDB replays the sign-LSH
    //    with the same seeded hyperplanes inlined as literals) ─────────
    QuerySpec("q28_ann_lsh", (s, dir) => {
      val e = T(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 10)
      Similarity.lshTopK(e, queries, "vec_id", "embedding", k = 5, planes = 8)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    }, oracle = Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |s AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, $lshSigSql AS sig FROM e),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, unnest([sig, $lshProbeXorsSql]) AS b
         |      FROM s WHERE vec_id < 10),
         |cand AS (
         |  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.qv, c.v) / (q.qn * c.nrm) AS cosine
         |  FROM q JOIN s c ON c.sig = q.b WHERE q.query_id <> c.vec_id)
         |SELECT query_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS rank, neighbor_id
         |FROM cand QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin)),
    // ── scale: embedding vector math ─────────────────────────────────
    QuerySpec("q29_embedding_stats", (s, dir) => {
      T(s, dir, "embeddings").select(col("vec_id"),
          size(col("embedding")).as("dim"),
          round(Similarity.norm(col("embedding")), 6).as("l2_norm"))
        .orderBy("vec_id")
    }, oracle = Some(
      """SELECT vec_id, len(embedding) AS dim,
        |  round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |    CAST(embedding AS DOUBLE[]))), 6) AS l2_norm
        |FROM embeddings ORDER BY vec_id""".stripMargin)),
    // ── scale: IVF ANN (oracle: DuckDB replays the whole index build —
    //    deterministic md5-hash seeding, one Lloyd step, probe + rank) ──
    QuerySpec("q36_ann_ivf", (s, dir) => {
      val e = T(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, numCentroids = 16, nProbe = 3, seedHash = Dedup.md5Hash60)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    }, bench = Some((s, dir) => {
      val e = T(s, dir, "embeddings")
      () => Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, numCentroids = 16, nProbe = 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    }), oracle = Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |seeds AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
         |  FROM (SELECT vec_id, v FROM e
         |        QUALIFY row_number()
         |          OVER (ORDER BY ${h60Sql("vec_id::VARCHAR")}, vec_id) <= 16)),
         |a0 AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, seeds.cid, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_dot_product(e.v, seeds.cvec) /
         |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(seeds.cvec, seeds.cvec)))
         |        DESC, seeds.cid) AS rn
         |    FROM e, seeds) WHERE rn = 1),
         |m AS (
         |  SELECT a0.cid, t.i, CAST(avg(e.v[t.i]) AS FLOAT) AS mv
         |  FROM a0 JOIN e USING (vec_id), range(1, 65) AS t(i) GROUP BY a0.cid, t.i),
         |cents AS (SELECT cid, CAST(list(mv ORDER BY i) AS DOUBLE[]) AS cvec FROM m GROUP BY cid),
         |a2 AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, cents.cid, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_dot_product(e.v, cents.cvec) /
         |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cents.cvec, cents.cvec)))
         |        DESC, cents.cid) AS rn
         |    FROM e, cents) WHERE rn = 1),
         |probes AS (
         |  SELECT query_id, cid FROM (
         |    SELECT e.vec_id AS query_id, cents.cid, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_dot_product(e.v, cents.cvec) /
         |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cents.cvec, cents.cvec)))
         |        DESC, cents.cid) AS rn
         |    FROM e, cents WHERE e.vec_id < 10) WHERE rn <= 3),
         |cand AS (
         |  SELECT p.query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.v, c.v) /
         |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cosine
         |  FROM probes p JOIN a2 ON a2.cid = p.cid
         |  JOIN e c ON c.vec_id = a2.vec_id
         |  JOIN e q ON q.vec_id = p.query_id
         |  WHERE c.vec_id <> p.query_id)
         |SELECT query_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS rank, neighbor_id
         |FROM cand QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin)),
    // ── scale: exact n-gram jaccard (oracle-checked similarity math) ─
    QuerySpec("q39_ngram_jaccard", (s, dir) => {
      val d = T(s, dir, "documents").select("doc_id", "text")
      import s.implicits._
      val pairs = (0L until 50L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      Dedup.jaccardForPairs(d, pairs, "doc_id", "text", shingleSize = 1)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a")
    }, oracle = Some(
      """WITH t AS (
        |  SELECT doc_id,
        |    list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS toks
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.toks, b.toks)) * 1.0 /
        |    (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6)
        |    AS jaccard
        |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id < 50 ORDER BY id_a""".stripMargin)),
    // ── scale: embedding near-dup pairs (oracle: brute-force cosine —
    //    planted dups are identical vectors, so sign-LSH recall is 1) ──
    QuerySpec("q40_embedding_neardup", (s, dir) => {
      val e = T(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") < 25)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      Dedup.embeddingNearDupPairs(e.unionByName(planted), "vec_id", "embedding",
          threshold = 0.999, planes = 8)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }, oracle = Some(
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 25),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM u),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS c
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(c, 6) AS cosine FROM p
        |WHERE c >= 0.999 ORDER BY id_a, id_b""".stripMargin)),
    // ── scale: full dedup pipeline, exact → minhash (oracle: exact
    //    dedup + brute-force-jaccard near-dup drop, mirrored in SQL) ───
    QuerySpec("q41_dedup_pipeline", (s, dir) => {
      Dedup.dedupPipeline(lshInputQ41(s, dir),
          "doc_id", "text", bands = 16, rowsPerBand = 2, threshold = 0.55,
          assumeUniqueId = true)
        .select("doc_id").orderBy("doc_id")
    }, oracle = Some(
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id, text || ' tail tokens appended' AS text
         |  FROM documents WHERE doc_id % 11 = 0),
         |ex AS (SELECT min(doc_id) AS doc_id FROM u GROUP BY text),
         |s AS (SELECT doc_id, text FROM u WHERE doc_id IN (SELECT doc_id FROM ex)),
         |t AS (
         |  SELECT doc_id, $shingle3Sql AS sh
         |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM s)),
         |drops AS (
         |  SELECT DISTINCT b.doc_id FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.55)
         |SELECT doc_id FROM s WHERE doc_id NOT IN (SELECT doc_id FROM drops)
         |ORDER BY doc_id""".stripMargin)),
    // ── scale: connected-components dedup (oracle: brute-force pairs +
    //    recursive-CTE transitive closure in DuckDB) ────────────────────
    QuerySpec("q46_dedup_cc", (s, dir) => {
      val u = lshInputQ46(s, dir)
      val pairs = Dedup.minhashNearDupPairs(u, "doc_id", "text",
        shingleSize = 3, bands = 16, rowsPerBand = 2, threshold = 0.55)
      Dedup.dedupByComponents(u, "doc_id", pairs)
        .select("doc_id").orderBy("doc_id")
    }, oracle = Some(
      s"""WITH RECURSIVE u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
         |  FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id, text || ' extra token and more extra' AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |t AS (
         |  SELECT doc_id, $shingle3Sql AS sh
         |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM u)),
         |e0 AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.55),
         |edges AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
         |r(s, d) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.s, e.b FROM r JOIN edges e ON e.a = r.d),
         |comp AS (SELECT s AS id, least(s, min(d)) AS c FROM r GROUP BY s)
         |SELECT doc_id FROM u
         |WHERE doc_id NOT IN (SELECT id FROM comp WHERE c <> id)
         |ORDER BY doc_id""".stripMargin)),
    // ── scale: benchmark decontamination (GPT-3-style n-gram overlap
    //    removal; oracle: DuckDB replays the shingle intersection) ───────
    QuerySpec("q54_decontaminate", (s, dir) => {
      val d = T(s, dir, "documents").select("doc_id", "text")
      val bench = d.filter(col("doc_id") % 17 === 0)
        .select(col("text").as("bench_text"))
      Dedup.decontaminate(d, "doc_id", "text", bench, "bench_text",
          ngram = 3, minMatches = 5)
        .select("doc_id").orderBy("doc_id")
    }, oracle = Some(
      s"""WITH bench AS (SELECT text FROM documents WHERE doc_id % 17 = 0),
         |bt AS (SELECT DISTINCT sh FROM (
         |  SELECT unnest($shingle3Sql) AS sh FROM (
         |    SELECT string_split_regex(trim(lower(text)), '\\s+') AS toks FROM bench))),
         |ct AS (SELECT doc_id, unnest($shingle3Sql) AS sh FROM (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
         |  FROM documents)),
         |m AS (SELECT doc_id FROM ct JOIN bt USING (sh)
         |      GROUP BY doc_id HAVING count(*) >= 5)
         |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM m)
         |ORDER BY doc_id""".stripMargin)),
    // ── scale: substring-level exact dedup — cross-doc duplicated token
    //    spans (oracle: DuckDB replays gram grouping + island merge on the
    //    gram STRINGS; Spark joins on xxhash64 of the same grams) ─────────
    QuerySpec("q58_duplicate_spans", (s, dir) => {
      Dedup.duplicateSpans(plantedBoilerplate(s, dir), "doc_id", "text",
          minSpanTokens = 8)
        .orderBy("doc_id", "span_start")
    }, oracle = Some(
      """WITH d AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN 'terms of service apply to all content herein and usage governed accordingly ' || text
        |    ELSE text END AS text FROM documents),
        |t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM d),
        |tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 8),
        |g AS (SELECT doc_id,
        |        unnest(range(1, len(toks) - 6)) AS pos,
        |        unnest(list_transform(range(1, len(toks) - 6),
        |          i -> array_to_string(toks[i:i+7], ' '))) AS gram
        |      FROM tt),
        |f AS (SELECT doc_id, pos FROM g
        |      QUALIFY min(doc_id) OVER (PARTITION BY gram)
        |        <> max(doc_id) OVER (PARTITION BY gram)),
        |m AS (SELECT doc_id, pos,
        |        max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |      FROM f),
        |i AS (SELECT doc_id, pos,
        |        sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
        |          THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |      FROM m)
        |SELECT doc_id, min(pos) - 1 AS span_start, max(pos) + 6 AS span_end,
        |       max(pos) + 6 - (min(pos) - 1) + 1 AS span_tokens
        |FROM i GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin)),
    // ── per-doc duplicated-token budget over the same planted corpus
    //    (the filter signal: fraction of tokens inside cross-doc spans) ───
    QuerySpec("q59_dup_span_stats", (s, dir) => {
      Dedup.duplicateSpanStats(plantedBoilerplate(s, dir), "doc_id", "text",
          minSpanTokens = 8)
        .filter(col("dup_tokens") > 0)
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH d AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN 'terms of service apply to all content herein and usage governed accordingly ' || text
        |    ELSE text END AS text FROM documents),
        |t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM d),
        |tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 8),
        |g AS (SELECT doc_id,
        |        unnest(range(1, len(toks) - 6)) AS pos,
        |        unnest(list_transform(range(1, len(toks) - 6),
        |          i -> array_to_string(toks[i:i+7], ' '))) AS gram
        |      FROM tt),
        |f AS (SELECT doc_id, pos FROM g
        |      QUALIFY min(doc_id) OVER (PARTITION BY gram)
        |        <> max(doc_id) OVER (PARTITION BY gram)),
        |m AS (SELECT doc_id, pos,
        |        max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |      FROM f),
        |i AS (SELECT doc_id, pos,
        |        sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
        |          THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |      FROM m),
        |sp AS (SELECT doc_id, max(pos) + 6 - (min(pos) - 1) + 1 AS span_tokens
        |       FROM i GROUP BY doc_id, island),
        |agg AS (SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS dup_tokens FROM sp GROUP BY doc_id)
        |SELECT t.doc_id, agg.dup_tokens, len(t.toks) AS tok_len,
        |       round(agg.dup_tokens / greatest(len(t.toks), 1), 6) AS dup_frac
        |FROM t JOIN agg ON agg.doc_id = t.doc_id
        |WHERE agg.dup_tokens > 0 ORDER BY t.doc_id""".stripMargin)),
    // ── scale: SemDeDup — semantic dedup via IVF clusters + within-cluster
    //    cosine (oracle: DuckDB replays seeding, refinement, assignment —
    //    the q36 machinery — then the pairwise drop policy) ───────────────
    QuerySpec("q61_semantic_dedup", (s, dir) => {
      val e = T(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") < 25)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      Dedup.semanticDedup(e.unionByName(planted), "vec_id", "embedding",
          numCentroids = 16, tau = 0.95, seedHash = Dedup.md5Hash60)
        .select("vec_id").orderBy("vec_id")
    }, oracle = Some(
      s"""WITH u AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 25),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM u),
         |seeds AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
         |  FROM (SELECT vec_id, v FROM e
         |        QUALIFY row_number()
         |          OVER (ORDER BY ${h60Sql("vec_id::VARCHAR")}, vec_id) <= 16)),
         |a0 AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, seeds.cid, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_dot_product(e.v, seeds.cvec) /
         |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(seeds.cvec, seeds.cvec)))
         |        DESC, seeds.cid) AS rn
         |    FROM e, seeds) WHERE rn = 1),
         |m AS (
         |  SELECT a0.cid, t.i, CAST(avg(e.v[t.i]) AS FLOAT) AS mv
         |  FROM a0 JOIN e USING (vec_id), range(1, 65) AS t(i) GROUP BY a0.cid, t.i),
         |cents AS (SELECT cid, CAST(list(mv ORDER BY i) AS DOUBLE[]) AS cvec FROM m GROUP BY cid),
         |a2 AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, cents.cid, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_dot_product(e.v, cents.cvec) /
         |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cents.cvec, cents.cvec)))
         |        DESC, cents.cid) AS rn
         |    FROM e, cents) WHERE rn = 1),
         |p AS (
         |  SELECT b.vec_id AS id_b
         |  FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id
         |  JOIN e eb ON eb.vec_id = b.vec_id
         |  WHERE list_dot_product(ea.v, eb.v) /
         |    (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.95)
         |SELECT vec_id FROM e WHERE vec_id NOT IN (SELECT id_b FROM p)
         |ORDER BY vec_id""".stripMargin)),
    // ── scale: CDC chunk-level dedup — the substring-dedup scale path
    //    (~1 probe per avg-chunk instead of per token position; oracle:
    //    DuckDB replays boundaries, chunk hashes, and the dup budget) ─────
    QuerySpec("q62_cdc_chunk_stats", (s, dir) => {
      Dedup.duplicateChunkStats(plantedBoilerplate(s, dir), "doc_id", "text",
          avgChunkTokens = 8, hashKind = "md5_60")
        .orderBy("doc_id")
    }, oracle = Some(
      s"""WITH d AS (
         |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
         |    THEN 'terms of service apply to all content herein and usage governed accordingly ' || text
         |    ELSE text END AS text FROM documents),
         |t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM d),
         |tok AS (SELECT doc_id,
         |          unnest(range(1, len(toks) + 1)) AS pos,
         |          unnest(toks) AS token FROM t),
         |b AS (SELECT doc_id, pos, token,
         |        CASE WHEN ${h60Sql("token")} % 8 = 0 THEN 1 ELSE 0 END AS bnd
         |      FROM tok),
         |c AS (SELECT doc_id, pos, token,
         |        coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
         |      FROM b),
         |ch AS (SELECT doc_id, cid,
         |         ${h60Sql("string_agg(token, ' ' ORDER BY pos)")}::BIGINT AS chash,
         |         count(*) AS ntok
         |       FROM c GROUP BY doc_id, cid),
         |f AS (SELECT doc_id, ntok FROM ch
         |      QUALIFY min(doc_id) OVER (PARTITION BY chash)
         |        <> max(doc_id) OVER (PARTITION BY chash))
         |SELECT doc_id, count(*) AS dup_chunks, CAST(sum(ntok) AS BIGINT) AS dup_tokens
         |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // ── scale: duplicated-span REMOVAL — cleaned text for affected docs
    //    (oracle: DuckDB rebuilds the kept-token join per doc) ────────────
    QuerySpec("q63_strip_spans", (s, dir) => {
      Dedup.stripDuplicateSpans(plantedBoilerplate(s, dir), "doc_id", "text",
          minSpanTokens = 8)
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH d AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN 'terms of service apply to all content herein and usage governed accordingly ' || text
        |    ELSE text END AS text FROM documents),
        |t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM d),
        |tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 8),
        |g AS (SELECT doc_id,
        |        unnest(range(1, len(toks) - 6)) AS pos,
        |        unnest(list_transform(range(1, len(toks) - 6),
        |          i -> array_to_string(toks[i:i+7], ' '))) AS gram
        |      FROM tt),
        |f AS (SELECT doc_id, pos FROM g
        |      QUALIFY min(doc_id) OVER (PARTITION BY gram)
        |        <> max(doc_id) OVER (PARTITION BY gram)),
        |covered AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS cpos FROM f),
        |affected AS (SELECT DISTINCT doc_id FROM covered),
        |tok AS (SELECT tt.doc_id, len(tt.toks) AS tlen,
        |          unnest(range(1, len(tt.toks) + 1)) AS pos,
        |          unnest(tt.toks) AS token
        |        FROM tt JOIN affected USING (doc_id)),
        |kept AS (SELECT tok.doc_id, tok.pos, tok.token FROM tok
        |         LEFT JOIN covered c ON c.doc_id = tok.doc_id AND c.cpos = tok.pos
        |         WHERE c.cpos IS NULL),
        |rb AS (SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS clean_text,
        |          count(*) AS kept_n
        |       FROM kept GROUP BY doc_id),
        |base AS (SELECT DISTINCT tok.doc_id, tok.tlen FROM tok)
        |SELECT base.doc_id, coalesce(rb.clean_text, '') AS clean_text,
        |       base.tlen - coalesce(rb.kept_n, 0) AS removed_tokens
        |FROM base LEFT JOIN rb ON rb.doc_id = base.doc_id
        |ORDER BY base.doc_id""".stripMargin)),
    // ── scale: quality-aware canonical selection — near-dup components
    //    keep their best-quality member, not the smallest id (oracle:
    //    q46's recursive-CTE components + argmax by (quality, id)) ──────
    QuerySpec("q70_dedup_keep_best", (s, dir) => {
      val u = lshInputQ46(s, dir)
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      val pairs = Dedup.minhashNearDupPairs(u, "doc_id", "text",
        shingleSize = 3, bands = 16, rowsPerBand = 2, threshold = 0.55)
      Dedup.dedupByComponentsKeepBest(u, "doc_id", pairs, "quality")
        .select("doc_id").orderBy("doc_id")
    }, oracle = Some(
      s"""WITH RECURSIVE u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
         |  FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id, text || ' extra token and more extra' AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |t AS (
         |  SELECT doc_id, $shingle3Sql AS sh
         |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM u)),
         |e0 AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.55),
         |edges AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
         |r(s, d) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.s, e.b FROM r JOIN edges e ON e.a = r.d),
         |comp AS (SELECT s AS id, least(s, min(d)) AS c FROM r GROUP BY s),
         |q AS (SELECT doc_id, ${qualitySql("text")} AS quality FROM u),
         |win AS (SELECT comp.id, row_number() OVER (PARTITION BY comp.c
         |          ORDER BY q.quality DESC, comp.id) AS rk
         |        FROM comp JOIN q ON q.doc_id = comp.id)
         |SELECT doc_id FROM u
         |WHERE doc_id NOT IN (SELECT id FROM comp)
         |   OR doc_id IN (SELECT id FROM win WHERE rk = 1)
         |ORDER BY doc_id""".stripMargin)),
    // Corpus-wide KNN report, IVF-blocked: every vector's top-3 cosine
    // neighbors within its cluster. md5 seed hash so DuckDB can replay
    // the index bit-for-bit (same convention as q61/q36).
    QuerySpec("q72_knn_join", (s, dir) => {
      val e = T(s, dir, "embeddings").select("vec_id", "embedding")
      Similarity.knnJoin(e, "vec_id", "embedding", k = 3,
          numCentroids = 16, seedHash = Dedup.md5Hash60)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    }, oracle = Some(
      s"""$ivfKnnOracleCtes
         |SELECT query_id, rank, neighbor_id FROM r WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin)),
    // Incremental near-dup ingest: history is INDEXED once (persisted LSH
    // band postings + shingle arrays in a prefix-bucketed store); the
    // incoming batch probes only the band buckets it collides with and
    // verifies candidates with exact Jaccard against the stored arrays.
    // The oracle brute-forces every (incoming, history) pair ≥ 0.55 — the
    // banding's recall at these parameters is separately REQUIREd by the
    // q53 margin probe over this exact input.
    QuerySpec("q74_neardup_ingest", (s, dir) => {
      val idx = new NearDupIndex(s, tmpWorkDir("gs_ndix_"), shingleSize = 3,
        bands = 16, rowsPerBand = 2, threshold = 0.55, numBuckets = 32)
      val (history, incoming) = ndixInputs(s, dir)
      idx.add(history, "doc_id", "text")
      idx.probe(incoming, "doc_id", "text")
        .select(col("inc_id"), col("hist_id"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy("inc_id", "hist_id")
    }, bench = Some((s, dir) => {
      // q74: the history indexing is test setup; the operator under
      // measurement is the band-bucket-pruned probe of the mixed batch.
      val idx = new NearDupIndex(s, tmpWorkDir("gs_ndix_"), shingleSize = 3,
        bands = 16, rowsPerBand = 2, threshold = 0.55, numBuckets = 32)
      val (history, incoming) = ndixInputs(s, dir)
      idx.add(history, "doc_id", "text")
      () => idx.probe(incoming, "doc_id", "text")
        .select(col("inc_id"), col("hist_id"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy("inc_id", "hist_id")
    }), oracle = Some(
      s"""WITH docs AS (SELECT doc_id, text FROM documents),
         |hist AS (SELECT doc_id, text FROM docs WHERE doc_id % 2 = 0),
         |inc AS (
         |  SELECT doc_id + 100000 AS doc_id, text FROM docs WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id, text || ' extra token' AS text
         |  FROM docs WHERE doc_id % 10 = 6
         |  UNION ALL
         |  SELECT doc_id, text FROM docs WHERE doc_id % 2 = 1),
         |th AS (SELECT doc_id, $shingle3Sql AS sh
         |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM hist)),
         |ti AS (SELECT doc_id, $shingle3Sql AS sh
         |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM inc)),
         |p AS (
         |  SELECT i.doc_id AS inc_id, h.doc_id AS hist_id,
         |    len(list_intersect(i.sh, h.sh)) * 1.0 /
         |      (len(i.sh) + len(h.sh) - len(list_intersect(i.sh, h.sh))) AS j
         |  FROM ti i CROSS JOIN th h)
         |SELECT inc_id, hist_id, round(j, 4) AS jaccard FROM p
         |WHERE j >= 0.55 ORDER BY inc_id, hist_id""".stripMargin)),
    // ── scale: cross-doc duplicated-LINE stats (Dolma line dedup signal;
    //    oracle: DuckDB splits the same lines, groups trimmed content
    //    with the min≠max distinct-doc test, recounts per doc) ──────────
    QuerySpec("q68_dup_line_stats", (s, dir) => {
      Dedup.duplicateLineStats(plantedLines(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH d AS (
        |  SELECT doc_id, CASE
        |    WHEN doc_id % 4 = 0
        |      THEN 'subscribe to our newsletter for updates' || chr(10) || text
        |    WHEN doc_id % 7 = 2
        |      THEN text || chr(10) || 'all rights reserved worldwide'
        |    ELSE text END AS text
        |  FROM documents),
        |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
        |l AS (SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1),
        |        i -> {'pos': i, 'line': ls[i]})) AS e
        |      FROM l0),
        |ln AS (SELECT doc_id, e.pos AS pos, trim(e.line) AS tl FROM l),
        |dup AS (SELECT tl FROM ln WHERE length(tl) >= 1
        |        GROUP BY tl HAVING min(doc_id) <> max(doc_id)),
        |per AS (SELECT doc_id, count(*) AS dup_lines
        |        FROM ln JOIN dup USING (tl) GROUP BY doc_id)
        |SELECT l0.doc_id, CAST(len(l0.ls) AS BIGINT) AS n_lines,
        |  CAST(coalesce(per.dup_lines, 0) AS BIGINT) AS dup_lines,
        |  round(coalesce(per.dup_lines, 0) / len(l0.ls), 6) AS dup_line_frac
        |FROM l0 LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin)),
    // ── scale: cross-doc duplicated-LINE removal — only affected docs
    //    rebuild (oracle: DuckDB rebuilds the kept lines in order) ──────
    QuerySpec("q69_strip_dup_lines", (s, dir) => {
      Dedup.stripDuplicateLines(plantedLines(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH d AS (
        |  SELECT doc_id, CASE
        |    WHEN doc_id % 4 = 0
        |      THEN 'subscribe to our newsletter for updates' || chr(10) || text
        |    WHEN doc_id % 7 = 2
        |      THEN text || chr(10) || 'all rights reserved worldwide'
        |    ELSE text END AS text
        |  FROM documents),
        |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
        |l AS (SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1),
        |        i -> {'pos': i, 'line': ls[i]})) AS e
        |      FROM l0),
        |ln AS (SELECT doc_id, e.pos AS pos, e.line AS line, trim(e.line) AS tl FROM l),
        |dup AS (SELECT tl FROM ln WHERE length(tl) >= 1
        |        GROUP BY tl HAVING min(doc_id) <> max(doc_id)),
        |aff AS (SELECT DISTINCT doc_id FROM ln JOIN dup USING (tl)),
        |kept AS (SELECT doc_id, pos, line FROM ln
        |         WHERE doc_id IN (SELECT doc_id FROM aff)
        |           AND tl NOT IN (SELECT tl FROM dup)),
        |reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
        |          count(*) AS kept FROM kept GROUP BY doc_id)
        |SELECT l0.doc_id, coalesce(reb.clean_text, '') AS clean_text,
        |  CAST(len(l0.ls) - coalesce(reb.kept, 0) AS BIGINT) AS removed_lines
        |FROM l0 JOIN aff USING (doc_id) LEFT JOIN reb USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),
    // ── scale: containment dedup — verbatim quotes/subsets whose overlap
    //    coefficient ≥ 0.9 though their Jaccard is tiny; every 7th doc
    //    plants a 25-token quote (oracle: DuckDB brute-forces every pair's
    //    |A∩B|/min(|A|,|B|)) ─────────────────────────────────────────────
    QuerySpec("q93_containment", (s, dir) => {
      val d = T(s, dir, "documents").select("doc_id", "text")
      val quotes = d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat_ws(" ", slice(Dedup.tokensCol(col("text")), 1, 25)).as("text"))
      Dedup.containmentPairs(d.unionByName(quotes), "doc_id", "text",
          shingleSize = 3, threshold = 0.9)
        .select(col("id_a"), col("id_b"),
          round(col("containment"), 6).as("containment"))
        .orderBy("id_a", "id_b")
    }, oracle = Some(
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id,
         |    array_to_string(string_split_regex(trim(lower(text)), '\\s+')[1:25], ' ')
         |      AS text
         |  FROM documents WHERE doc_id % 7 = 0),
         |t AS (
         |  SELECT doc_id, $shingle3Sql AS sh
         |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
         |        FROM u)),
         |p AS (
         |  SELECT a.doc_id AS ia, b.doc_id AS ib, len(a.sh) AS na, len(b.sh) AS nb,
         |    len(list_intersect(a.sh, b.sh)) AS inter
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id),
         |q AS (
         |  SELECT CASE WHEN na < nb THEN ia WHEN nb < na THEN ib
         |           ELSE least(ia, ib) END AS id_a,
         |    CASE WHEN na < nb THEN ib WHEN nb < na THEN ia
         |      ELSE greatest(ia, ib) END AS id_b,
         |    inter * 1.0 / least(na, nb) AS containment
         |  FROM p)
         |SELECT id_a, id_b, round(containment, 6) AS containment FROM q
         |WHERE containment >= 0.9 ORDER BY id_a, id_b""".stripMargin)),
    // ── scale: incremental fuzzy ingest — persistent deletion-variant
    //    index, batch probes only its colliding buckets (oracle: DuckDB
    //    brute-forces every incoming×history levenshtein) ─────────────────
    QuerySpec("q109_fuzzy_ingest", (s, dir) => {
      val c = T(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val ix = new FuzzyIndex(s, tmpWorkDir("gs_fzix_"), maxDist = 1,
        numBuckets = 32)
      ix.add(c.filter(col("c_custkey") % 2 === 0), "c_custkey", "c_name")
      ix.probe(c.filter(col("c_custkey") % 2 === 1), "c_custkey", "c_name")
        .orderBy("inc_id", "hist_id")
    }, oracle = Some(
      """WITH hist AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 0),
        |inc AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 1)
        |SELECT i.c_custkey AS inc_id, h.c_custkey AS hist_id,
        |  levenshtein(i.c_name, h.c_name) AS dist
        |FROM inc i CROSS JOIN hist h
        |WHERE levenshtein(i.c_name, h.c_name) <= 1
        |ORDER BY inc_id, hist_id""".stripMargin)),
    // ── scale: edit-distance fuzzy pairs — deletion-neighborhood blocking
    //    + exact levenshtein verify, complete recall at maxDist (oracle:
    //    DuckDB brute-forces every pair) ──────────────────────────────────
    QuerySpec("q108_edit_distance", (s, dir) => {
      // customer names are UNIQUE strings (the operator contract: collapse
      // exact duplicates first — part names are 64 values x hundreds of
      // copies, whose quadratic dist-0 output measures nothing)
      Dedup.editDistancePairs(
          T(s, dir, "customer").select("c_custkey", "c_name"),
          "c_custkey", "c_name", maxDist = 1)
        .orderBy("id_a", "id_b")
    }, oracle = Some(
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  levenshtein(a.c_name, b.c_name) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin)),
    // ── scale: kNN label-noise audit — rows whose embedding neighborhood
    //    votes against their label (cleanlab-style mislabel candidates);
    //    neighborhoods from the IVF-blocked knnJoin (never all-pairs),
    //    labels join back key-only (oracle: the q72 IVF replay + label
    //    aggregation) ───────────────────────────────────────────────────────
    QuerySpec("q191_label_noise", (s, dir) => {
      Similarity.labelNoiseReport(T(s, dir, "embeddings"), "vec_id",
          "embedding", "label", k = 5, numCentroids = 16,
          seedHash = Dedup.md5Hash60, threshold = 0.6)
        .select(col("vec_id"), col("label"), col("n_neighbors"),
          col("disagree"), round(col("disagree_frac"), 6).as("disagree_frac"))
        .orderBy("vec_id")
    }, oracle = Some(
      s"""$ivfKnnOracleCtes,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |j AS (SELECT r.query_id, ql.label AS ql, nl.label AS nl
         |  FROM r JOIN lab ql ON ql.vec_id = r.query_id
         |  JOIN lab nl ON nl.vec_id = r.neighbor_id
         |  WHERE r.rank <= 5),
         |a AS (SELECT query_id AS vec_id, ql AS label,
         |    CAST(count(*) AS BIGINT) AS n_neighbors,
         |    CAST(sum(CASE WHEN nl <> ql THEN 1 ELSE 0 END) AS BIGINT)
         |      AS disagree
         |  FROM j GROUP BY 1, 2)
         |SELECT vec_id, label, n_neighbors, disagree,
         |  round(CAST(disagree AS DOUBLE) / CAST(n_neighbors AS DOUBLE), 6)
         |    AS disagree_frac
         |FROM a
         |WHERE CAST(disagree AS DOUBLE) / CAST(n_neighbors AS DOUBLE) >= 0.6
         |ORDER BY vec_id""".stripMargin)),
    // ── scale: matryoshka truncation QA — cosine error of dim-8/16/32
    //    prefixes vs the full vector over ALL consecutive id pairs
    //    (corpus-linear, never quadratic); the serve-the-prefix decision
    //    (oracle: DuckDB list-slice dot products + id-sorted folds) ────────
    QuerySpec("q205_truncation_quality", (s, dir) => {
      Similarity.truncationQuality(T(s, dir, "embeddings"), "vec_id",
          "embedding", Seq(8, 16, 32), deterministic = true)
        .select(col("dim"), col("n_pairs"),
          round(col("mean_abs_err"), 6).as("mean_abs_err"),
          round(col("max_abs_err"), 6).as("max_abs_err"))
        .orderBy("dim")
    }, oracle = Some({
      def cosSql(a: String, b: String) =
        s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * " +
          s"sqrt(list_dot_product($b, $b)))"
      val blocks = Seq(8, 16, 32).map { d =>
        val (va, vb) = (s"va[1:$d]", s"vb[1:$d]")
        s"""SELECT $d AS dim, CAST(count(*) AS BIGINT) AS n_pairs,
           |  round(list_reduce(list(abs(cf - ${cosSql(va, vb)})
           |      ORDER BY ida), (x, y) -> x + y) /
           |    CAST(count(*) AS DOUBLE), 6) AS mean_abs_err,
           |  round(max(abs(cf - ${cosSql(va, vb)})), 6) AS max_abs_err
           |FROM c
           |WHERE list_dot_product($va, $va) > 0
           |  AND list_dot_product($vb, $vb) > 0""".stripMargin
      }
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |idx AS (SELECT vec_id, v,
         |    CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS rn
         |  FROM e),
         |p AS (SELECT a.vec_id AS ida, a.v AS va, b.v AS vb
         |  FROM idx a JOIN idx b ON b.rn = a.rn + 1),
         |c AS MATERIALIZED (SELECT ida, va, vb,
         |    ${cosSql("va", "vb")} AS cf
         |  FROM p)
         |${blocks.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
            "\n) ORDER BY dim")}""".stripMargin
    })),
    // ── scale: LSH parameter planner — p(s) = 1 − (1 − s^r)^b per config
    //    (the table that justifies q25's (16, 2)); powers as left-assoc
    //    multiplication chains, bit-identical cross-engine (oracle: DuckDB
    //    evaluates the same chains) ─────────────────────────────────────────
    QuerySpec("q211_lsh_planner", (s, dir) => {
      Dedup.lshDetectionCurve(s, Seq((16, 2), (8, 4)))
        .select(round(col("s"), 6).as("s"),
          round(col("p_b16_r2"), 6).as("p_b16_r2"),
          round(col("p_b8_r4"), 6).as("p_b8_r4"))
        .orderBy("s")
    }, oracle = Some({
      def chain(x: String, n: Int) = Seq.fill(n)(x).mkString(" * ")
      def p(b: Int, r: Int) = {
        val base = s"(1.0 - (${chain("s", r)}))"
        s"round(1.0 - (${chain(base, b)}), 6)"
      }
      s"""WITH g AS (SELECT unnest(range(1, 20)) AS i),
         |b AS (SELECT CAST(i AS DOUBLE) / CAST(20.0 AS DOUBLE) AS s FROM g)
         |SELECT round(s, 6) AS s,
         |  ${p(16, 2)} AS p_b16_r2,
         |  ${p(8, 4)} AS p_b8_r4
         |FROM b ORDER BY s""".stripMargin
    })),
    // ── scale: per-dim embedding stats — coordinate means/stds, the
    //    anisotropy check before trusting cosine (a dominant dim measures
    //    the artifact, not the content); one posexplode, per-dim
    //    sufficient stats (oracle: DuckDB ordinality + fold replay) ────────
    QuerySpec("q218_dimension_stats", (s, dir) => {
      Similarity.dimensionStats(T(s, dir, "embeddings"), "vec_id",
          "embedding", deterministic = true)
        .select(col("dim"), col("n"), round(col("mean"), 6).as("mean"),
          round(col("std"), 6).as("std"))
        .orderBy("dim")
    }, oracle = Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |d AS (SELECT vec_id, CAST(t.i AS INT) AS dim, v[t.i] AS val
        |  FROM e, range(1, 65) AS t(i)),
        |a AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    list_reduce(list(val ORDER BY vec_id), (x, y) -> x + y) AS s,
        |    list_reduce(list(val * val ORDER BY vec_id), (x, y) -> x + y)
        |      AS s2
        |  FROM d GROUP BY 1)
        |SELECT dim, n, round(s / CAST(n AS DOUBLE), 6) AS mean,
        |  round(sqrt(greatest(s2 / CAST(n AS DOUBLE) -
        |    (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)),
        |    CAST(0.0 AS DOUBLE))), 6) AS std
        |FROM a ORDER BY dim""".stripMargin)),
    // ── scale: nearest-centroid label confusion — one centroid per label
    //    (float-rounded means, the q72 parity convention), cosine assign
    //    via the fused NearestCentroid expression, labels²-sized cells
    //    ("are these labels separable at all") (oracle: DuckDB centroid +
    //    cosine-rank replay) ───────────────────────────────────────────────
    QuerySpec("q228_centroid_confusion", (s, dir) => {
      Similarity.labelCentroidConfusion(T(s, dir, "embeddings"), "vec_id",
          "embedding", "label")
        .orderBy("label", "predicted")
    }, oracle = Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        |  FROM embeddings),
        |m AS (SELECT label, t.i, CAST(avg(e.v[t.i]) AS FLOAT) AS mv
        |  FROM e, range(1, 65) AS t(i) GROUP BY label, t.i),
        |cents AS (SELECT label AS cl,
        |    CAST(list(mv ORDER BY i) AS DOUBLE[]) AS cvec
        |  FROM m GROUP BY label),
        |a AS (SELECT vec_id, label, cl FROM (
        |  SELECT e.vec_id, e.label, cents.cl,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_dot_product(e.v, cents.cvec) /
        |        sqrt(list_dot_product(cents.cvec, cents.cvec))
        |        DESC, cents.cl) AS rn
        |  FROM e, cents) WHERE rn = 1)
        |SELECT CAST(label AS BIGINT) AS label, CAST(cl AS BIGINT)
        |    AS predicted,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM a GROUP BY 1, 2 ORDER BY label, predicted""".stripMargin)),
    // ── scale: embedding-space source divergence — pairwise cosine/L2
    //    between per-source mean-embedding centroids (q106's embedding
    //    twin: same vocabulary can hide drifted semantics); one posexplode
    //    pass to groups×dims cells, float-rounded centroids (q72/q228
    //    parity), driver dim-ascending folds (oracle: DuckDB replays
    //    cells, REAL rounding, and the folds) ─────────────────────────────
    QuerySpec("q245_centroid_divergence", (s, dir) => {
      val joined = T(s, dir, "embeddings")
        .join(T(s, dir, "documents").select("doc_id", "source"),
          col("vec_id") === col("doc_id"))
      Similarity.centroidDivergence(joined, "embedding", "source")
        .select(col("source_a"), col("source_b"),
          round(col("cosine"), 6).as("cosine"), round(col("l2"), 6).as("l2"))
        .orderBy("source_a", "source_b")
    }, oracle = Some(
      """WITH j AS (SELECT d.source AS g, CAST(e.embedding AS DOUBLE[]) AS v
        |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
        |cell AS (SELECT g, CAST(t.i AS INT) AS dim,
        |    CAST(CAST(avg(v[t.i]) AS REAL) AS DOUBLE) AS cv
        |  FROM j, range(1, 65) AS t(i) GROUP BY 1, 2),
        |p AS (SELECT a.g AS source_a, b.g AS source_b, a.dim AS dim,
        |    a.cv * b.cv AS ab, a.cv * a.cv AS aa, b.cv * b.cv AS bb,
        |    (a.cv - b.cv) * (a.cv - b.cv) AS d2
        |  FROM cell a JOIN cell b ON a.dim = b.dim AND a.g < b.g),
        |s AS (SELECT source_a, source_b,
        |    list_reduce(list(ab ORDER BY dim), (x, y) -> x + y) AS dot,
        |    list_reduce(list(aa ORDER BY dim), (x, y) -> x + y) AS na2,
        |    list_reduce(list(bb ORDER BY dim), (x, y) -> x + y) AS nb2,
        |    list_reduce(list(d2 ORDER BY dim), (x, y) -> x + y) AS dd
        |  FROM p GROUP BY 1, 2)
        |SELECT source_a, source_b,
        |  round(dot / (sqrt(na2) * sqrt(nb2)), 6) AS cosine,
        |  round(sqrt(dd), 6) AS l2
        |FROM s ORDER BY source_a, source_b""".stripMargin)),
    // ── scale: persistent IVF vector index — the incremental-similarity
    //    tier's vector cell (exact→Bloom, token→LSH postings, char→FastSS
    //    variants, vectors→THIS): frozen centroids, cell-bucketed
    //    postings, two incremental adds, probe I/O ∝ batch × probed
    //    cells; gate probes nProbe = all cells (complete recall), so the
    //    oracle is plain brute force (oracle: DuckDB q27-style scan) ──────
    QuerySpec("q256_vector_index", (s, dir) => {
      val e = T(s, dir, "embeddings")
      val idx = new VectorIndex(s, tmpWorkDir("gs_vecidx_"), numBuckets = 16)
      val first = e.filter(col("vec_id") % 2 === 0)
      idx.initialize(first, "vec_id", "embedding", numCentroids = 8)
      idx.add(first, "vec_id", "embedding")
      idx.add(e.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding")
      idx.probe(e.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, nProbe = 8)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }, bench = Some((s, dir) => {
      // q256 measures a store lifecycle: initialization + the two adds
      // are test setup (the q08/q38 convention) — the timed region is
      // exactly one probe against the persisted index
      val e = T(s, dir, "embeddings")
      val idx = new VectorIndex(s, tmpWorkDir("gs_vecidx_"), numBuckets = 16)
      val first = e.filter(col("vec_id") % 2 === 0)
      idx.initialize(first, "vec_id", "embedding", numCentroids = 8)
      idx.add(first, "vec_id", "embedding")
      idx.add(e.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding")
      () => idx.probe(e.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, nProbe = 8)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }), oracle = Some(
      """SELECT q.vec_id AS query_id,
        |  row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |      CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank,
        |  c.vec_id AS neighbor_id,
        |  round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |    CAST(c.embedding AS DOUBLE[])), 6) AS cosine
        |FROM embeddings q, embeddings c
        |WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
        |QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin)),
    // ── scale: persistent Hamming index — the signature-source-agnostic
    //    incremental cell (text SimHash / image dHash / audio fingerprints
    //    all route here): 16-bit-chunk pigeonhole postings, probe I/O ∝
    //    batch + collisions, complete recall at maxDist ≤ 3 with the cap
    //    unbound at gate; two incremental adds, incoming = exact-copy
    //    variants (oracle: DuckDB replays the md5 simhash and brute-forces
    //    incoming × history hamming) ──────────────────────────────────────
    QuerySpec("q261_hamming_index", (s, dir) => {
      val d = T(s, dir, "documents").select("doc_id", "text")
      val sig = Dedup.simhash(d, "doc_id", "text",
        tokenHash = Dedup.Md5TokenHash).localCheckpoint(true)
      val idx = new HammingIndex(s, tmpWorkDir("gs_hamix_"), maxDist = 3,
        numBuckets = 16, maxBucketSize = 100000)
      idx.add(sig.filter(col("doc_id") % 2 === 0), "doc_id", "simhash")
      idx.add(sig.filter(col("doc_id") % 2 =!= 0), "doc_id", "simhash")
      val incoming = sig.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("simhash"))
      idx.probe(incoming, "doc_id", "simhash")
        .orderBy("inc_id", "hist_id")
    }, bench = Some((s, dir) => {
      // q261 measures a store lifecycle: signature computation + the two
      // adds are setup — the timed region is one probe
      val d = T(s, dir, "documents").select("doc_id", "text")
      val sig = Dedup.simhash(d, "doc_id", "text",
        tokenHash = Dedup.Md5TokenHash).localCheckpoint(true)
      val idx = new HammingIndex(s, tmpWorkDir("gs_hamix_"), maxDist = 3,
        numBuckets = 16, maxBucketSize = 100000)
      idx.add(sig.filter(col("doc_id") % 2 === 0), "doc_id", "simhash")
      idx.add(sig.filter(col("doc_id") % 2 =!= 0), "doc_id", "simhash")
      val incoming = sig.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("simhash"))
        .localCheckpoint(true)
      () => idx.probe(incoming, "doc_id", "simhash")
        .orderBy("inc_id", "hist_id")
    }), oracle = Some(
      s"""WITH tok AS (
         |  SELECT doc_id, ${h60Sql("t")}::BIGINT AS h
         |  FROM (SELECT doc_id,
         |      unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
         |    FROM documents)),
         |sigh AS (SELECT doc_id, $simhashBitsSql AS s FROM tok
         |  GROUP BY doc_id),
         |sigi AS (SELECT doc_id + 100000 AS inc_id, s FROM sigh
         |  WHERE doc_id % 10 = 0)
         |SELECT i.inc_id, h.doc_id AS hist_id,
         |  bit_count(xor(i.s, h.s)) AS hamming
         |FROM sigi i JOIN sigh h ON bit_count(xor(i.s, h.s)) <= 3
         |ORDER BY inc_id, hist_id""".stripMargin)),
    // ── scale: record linkage — Fellegi–Sunter match-score histogram over
    //    blocked candidate pairs between a clean feed and a deterministic
    //    dirty re-key of it (md5-driven char deletions / truncations);
    //    fuzzy agreement via the codegen'd JaroWinkler expression (bit-
    //    exact vs DuckDB's jaro_winkler_similarity), weights as shared
    //    micro-integer literals → exact long score sums (oracle: DuckDB
    //    replays the dirt, both blocking passes, JW levels and the
    //    histogram) ──────────────────────────────────────────────────────
    QuerySpec("q269_er_match_scores", (s, dir) => {
      val ents = linkageEntities(s, dir)
      val pairs = Linkage.blockedPairs(ents, "id", linkageBlockKeys(), 4096)
        .filter(pmod(col("id_a"), lit(2L)) =!= pmod(col("id_b"), lit(2L)))
      Linkage.scoreHistogram(
        Linkage.matchScores(ents, "id", pairs, linkageFields, carry = Seq("ckey")),
        col("a_ckey") === col("b_ckey"), bucketMicro = 2000000L)
    }, oracle = Some(
      s"""WITH $linkageScoredCtes
         |SELECT CAST(floor(score_micro / 2000000.0) AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN a_ckey = b_ckey THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_true
         |FROM sc GROUP BY 1 ORDER BY bucket""".stripMargin)),
    // ── scale: blocking-quality report — per blocking pass (and the
    //    deduplicated union) candidate-pair count, true pairs found, pair
    //    completeness vs the exact Σ C(g,2) truth total, and reduction
    //    ratio vs C(n,2) — the measured input to the "which blocking keys"
    //    decision (oracle: DuckDB replays passes and totals) ──────────────
    QuerySpec("q270_blocking_quality", (s, dir) =>
      Linkage.blockingQualityReport(linkageEntities(s, dir), "id", "ckey",
        linkageBlockKeys()), oracle = Some(
      s"""WITH $linkageCtes,
         |pb AS (
         |  SELECT 'block_0' AS pass, x.id AS ia, y.id AS ib
         |  FROM bk x JOIN bk y ON x.pass = 0 AND y.pass = 0
         |    AND x.bkey = y.bkey AND x.id < y.id
         |  UNION ALL
         |  SELECT 'block_1', x.id, y.id
         |  FROM bk x JOIN bk y ON x.pass = 1 AND y.pass = 1
         |    AND x.bkey = y.bkey AND x.id < y.id
         |  UNION ALL SELECT 'union', id_a, id_b FROM pairs),
         |jt AS (SELECT pb.pass, ua.ckey AS ta, ub.ckey AS tb
         |  FROM pb JOIN u ua ON ua.id = pb.ia JOIN u ub ON ub.id = pb.ib),
         |cnt AS (SELECT pass, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(CASE WHEN ta = tb THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_true
         |  FROM jt GROUP BY pass),
         |tot AS (SELECT CAST(sum(g) AS BIGINT) AS n,
         |    CAST(sum(g * (g - 1) // 2) AS BIGINT) AS total_true
         |  FROM (SELECT count(*) AS g FROM u GROUP BY ckey))
         |SELECT pass, n_pairs, n_true, total_true,
         |  round(CAST(n_true AS DOUBLE) / CAST(total_true AS DOUBLE), 6)
         |    AS completeness,
         |  round(1.0 - CAST(n_pairs AS DOUBLE)
         |    / CAST(n * (n - 1) // 2 AS DOUBLE), 6) AS reduction
         |FROM cnt CROSS JOIN tot ORDER BY pass""".stripMargin)),
    // ── scale: golden-record survivorship — after resolution (q273),
    //    each cluster's canonical field values under the system-of-record
    //    rule (lowest id supplies the value — one struct-min aggregate,
    //    no window) plus per-field variant counts exposing conflicts;
    //    the last step of the MDM pipeline (oracle: DuckDB replays the
    //    resolution + arg_min/COUNT DISTINCT) ──────────────────────────────
    QuerySpec("q293_er_survivorship", (s, dir) => {
      erResolvedClusters(s, dir)
        .join(linkageEntities(s, dir), "id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          min(struct(col("id"), col("name"))).getField("name")
            .as("canonical_name"),
          countDistinct(col("name")).as("name_variants"),
          min(struct(col("id"), col("bal"))).getField("bal")
            .as("canonical_bal"),
          countDistinct(col("bal")).as("bal_variants"))
        .orderBy("cluster_id")
    }, oracle = Some({
      def fz(f: Linkage.FieldSpec): String =
        s"""CASE WHEN ua.${f.column} = ub.${f.column} THEN ${f.wExactMicro}
           |      WHEN jaro_winkler_similarity(ua.${f.column}, ub.${f.column})
           |        >= ${f.fuzzyThreshold.get} THEN ${f.wFuzzyMicro}
           |      ELSE ${f.wDisagreeMicro} END""".stripMargin
      val Seq(fName, fPhone, fBal, fSeg) = linkageFields
      s"""WITH RECURSIVE $linkageCtes,
         |m AS (SELECT p.id_a, p.id_b
         |  FROM pairs p JOIN u ua ON ua.id = p.id_a JOIN u ub ON ub.id = p.id_b
         |  WHERE p.id_a % 2 <> p.id_b % 2
         |    AND (${fz(fName)}
         |     + ${fz(fPhone)}
         |     + CASE WHEN ua.bal = ub.bal THEN ${fBal.wExactMicro}
         |         ELSE ${fBal.wDisagreeMicro} END
         |     + CASE WHEN ua.seg = ub.seg THEN ${fSeg.wExactMicro}
         |         ELSE ${fSeg.wDisagreeMicro} END) >= 10000000),
         |edges AS (SELECT id_a AS a, id_b AS b FROM m
         |  UNION SELECT id_b, id_a FROM m),
         |r(s, d) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.s, e.b FROM r JOIN edges e ON e.a = r.d),
         |comp AS (SELECT s AS id, least(s, min(d)) AS c FROM r GROUP BY s),
         |res AS (SELECT u.id, coalesce(comp.c, u.id) AS cluster_id,
         |    u.name, u.bal
         |  FROM u LEFT JOIN comp ON comp.id = u.id)
         |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         |  arg_min(name, id) AS canonical_name,
         |  CAST(count(DISTINCT name) AS BIGINT) AS name_variants,
         |  arg_min(bal, id) AS canonical_bal,
         |  CAST(count(DISTINCT bal) AS BIGINT) AS bal_variants
         |FROM res GROUP BY cluster_id ORDER BY cluster_id""".stripMargin
    })),
    // ── scale: MEASURED IVF recall calibration — recall@k of the
    //    PRODUCTION ivfTopK path per nProbe vs exact brute-force truth on
    //    a deterministic ≤64-query sample (the q313 twin for the vector
    //    tier). Rows-only: the IVF path's xxhash64 seeding has no DuckDB
    //    twin (the q313 rationale); exactness is pinned by the
    //    probe-all-centroids ≡ brute-force equality spec. ──────────────────
    QuerySpec("q330_ivf_recall_audit", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.ivfRecallAudit(emb, "vec_id", "embedding", k = 10,
          numCentroids = 16, nProbes = Seq(1, 2, 4, 16), maxQueries = 64)
        .select(col("n_probe"), col("n_queries"), col("n_truth_pairs"),
          col("n_hit"), round(col("recall"), 6).as("recall"))
        .orderBy("n_probe")
    }),
    // ── scale: int8 scalar-quantization report — per-dim max-abs scales
    //    from ONE posexplode aggregate, per-vector round-trip MSE /
    //    max-abs-err / self-cosine as a pure projection (the "can the
    //    embedding tier ship at 1/4 width?" decision table) (oracle:
    //    DuckDB replays scales, the int8 round-trip, and the per-row
    //    folds) ─────────────────────────────────────────────────────────────
    QuerySpec("q332_scalar_quantize", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.scalarQuantizeReport(emb.filter(col("vec_id") < 100),
          "vec_id", "embedding")
        .select(col("id"), round(col("mse") * lit(1e6), 6).as("mse_ppm"),
          round(col("max_abs_err"), 6).as("max_abs_err"),
          round(col("cosine_self"), 6).as("cosine_self"))
        .orderBy("id")
    }, oracle = Some(
      """WITH e AS (SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id < 100),
        |sc AS (SELECT u.i AS pos, max(abs(CAST(embedding[u.i] AS DOUBLE)))
        |    AS s
        |  FROM e, (SELECT unnest(generate_series(1, 64)) AS i) u
        |  GROUP BY 1),
        |sa AS (SELECT list(s ORDER BY pos) AS sv FROM sc),
        |d AS (SELECT vec_id,
        |    list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE))
        |      AS v,
        |    list_transform(range(1, 65), i ->
        |      CASE WHEN sv[i] = 0.0 THEN CAST(0.0 AS DOUBLE)
        |      ELSE ((round((CAST(embedding[i] AS DOUBLE) / sv[i]) * 127.0)
        |        / 127.0) * sv[i]) END) AS r
        |  FROM e, sa),
        |m AS (SELECT vec_id,
        |    list_reduce(list_transform(range(1, 65),
        |      i -> (v[i] - r[i]) * (v[i] - r[i])), (a, b) -> a + b) / 64.0
        |      AS mse,
        |    list_aggregate(list_transform(range(1, 65),
        |      i -> abs(v[i] - r[i])), 'max') AS mae,
        |    list_reduce(list_transform(range(1, 65), i -> v[i] * r[i]),
        |      (a, b) -> a + b)
        |    / (sqrt(list_reduce(list_transform(range(1, 65),
        |        i -> v[i] * v[i]), (a, b) -> a + b))
        |      * sqrt(list_reduce(list_transform(range(1, 65),
        |        i -> r[i] * r[i]), (a, b) -> a + b))) AS cs
        |  FROM d)
        |SELECT vec_id AS id, round(mse * 1000000.0, 6) AS mse_ppm,
        |  round(mae, 6) AS max_abs_err, round(cs, 6) AS cosine_self
        |FROM m ORDER BY id""".stripMargin)),
    // ── scale: quantization recall audit — recall@10 of brute-force
    //    search over the int8-dequantized vectors vs full-precision truth
    //    on the deterministic ≤64-query sample (oracle: DuckDB replays
    //    the scales, round-trip, both QUALIFY top-k's, and the hit
    //    count) ─────────────────────────────────────────────────────────────
    QuerySpec("q333_quantization_recall", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.quantizationRecallAudit(emb, "vec_id", "embedding",
          k = 10, maxQueries = 64)
        .select(col("n_queries"), col("n_truth_pairs"), col("n_hit"),
          round(col("recall"), 6).as("recall"))
    }, oracle = Some(
      s"""WITH sc AS (SELECT u.i AS pos,
         |    max(abs(CAST(embedding[u.i] AS DOUBLE))) AS s
         |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) u
         |  GROUP BY 1),
         |sa AS (SELECT list(s ORDER BY pos) AS sv FROM sc),
         |deq AS (SELECT vec_id, list_transform(range(1, 65), i ->
         |    CAST(CAST(CASE WHEN sv[i] = 0.0 THEN 0.0
         |      ELSE ((round((CAST(embedding[i] AS DOUBLE) / sv[i]) * 127.0)
         |        / 127.0) * sv[i]) END AS REAL) AS DOUBLE)) AS emb
         |  FROM embeddings, sa),
         |qs AS (SELECT vec_id FROM embeddings
         |  ORDER BY (${h60Sql("vec_id::VARCHAR")}) ASC, vec_id ASC
         |  LIMIT 64),
         |truth AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM embeddings q JOIN qs USING (vec_id), embeddings c
         |  WHERE q.vec_id <> c.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |      CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) <= 10),
         |got AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM deq q JOIN qs USING (vec_id), deq c
         |  WHERE q.vec_id <> c.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY list_cosine_similarity(q.emb, c.emb) DESC,
         |      c.vec_id) <= 10),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
         |h AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
         |  FROM truth JOIN got USING (query_id, neighbor_id))
         |SELECT CAST(64 AS BIGINT) AS n_queries, n_truth AS n_truth_pairs,
         |  n_hit,
         |  round(CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE), 6)
         |    AS recall
         |FROM t, h""".stripMargin)),
    // ── scale: hard-negative mining — per query the top-k corpus rows in
    //    a cosine band [0.3, 0.8): similar enough to teach, below the
    //    near-duplicate false-negative zone; band filters BEFORE the
    //    top-k window (oracle: DuckDB list_cosine_similarity + QUALIFY) ───
    QuerySpec("q331_hard_negatives", (s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, lo = 0.3, hi = 0.8)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }, oracle = Some(
      """SELECT q.vec_id AS query_id,
        |  row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |      CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank,
        |  c.vec_id AS neighbor_id,
        |  round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |    CAST(c.embedding AS DOUBLE[])), 6) AS cosine
        |FROM embeddings q, embeddings c
        |WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id
        |  AND list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |    CAST(c.embedding AS DOUBLE[])) >= 0.3
        |  AND list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |    CAST(c.embedding AS DOUBLE[])) < 0.8
        |QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin)),
    // ── scale: MEASURED LSH recall calibration — per exact-Jaccard bin
    //    over a deterministic ≤256-doc sample, the fraction of pairs the
    //    PRODUCTION banding surfaced as candidates, beside the theoretical
    //    S-curve (q211 says what the parameters should do; this says what
    //    they did on this corpus). Spec-gated, not SQL-oracle-gated: the
    //    candidate path is the fused xxhash64 MinHash, which has no DuckDB
    //    twin (the q25 lesson) — auditing a replayable lookalike hash
    //    would measure the wrong banding. Rows-only check here; exactness
    //    is pinned by CurationSpec's independent-path equality test. ──────
    QuerySpec("q313_lsh_recall_audit", (s, dir) => {
      val d = T(s, dir, "documents").select("doc_id", "text")
      val dupes = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" extra token")).as("text"))
      Dedup.lshRecallAudit(d.unionByName(dupes), "doc_id", "text",
          shingleSize = 3, bands = 16, rowsPerBand = 2,
          maxSample = 256, bins = 10)
        .select(col("bin"), round(col("bin_lo"), 1).as("bin_lo"),
          col("n_pairs"), col("n_candidates"),
          round(col("recall"), 6).as("recall"),
          round(col("theory_recall"), 6).as("theory_recall"))
        .orderBy("bin")
    }),
    // ── scale: pair forensics — every detector's verdict for given pairs
    //    in one row (shingles, Jaccard, containment, SimHash Hamming,
    //    exact): "why did the dedup merge these two?"; corpus semi-joins
    //    to the pair ids first, all metrics in-row (oracle: DuckDB replays
    //    shingles, list_intersect, the md5-token simhash, and md5 text
    //    equality) ──────────────────────────────────────────────────────────
    QuerySpec("q306_pair_forensics", (s, dir) => {
      import s.implicits._
      val d = T(s, dir, "documents").select("doc_id", "text")
      val dupes = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val corpus = d.unionByName(dupes)
      val probePairs = Seq((10L, 100010L), (20L, 100020L), (33L, 77L),
        (40L, 100050L)).toDF("id_a", "id_b")
      Dedup.pairForensics(corpus, probePairs, "doc_id", "text",
          shingleSize = 3, tokenHash = Dedup.Md5TokenHash)
        .orderBy("id_a", "id_b")
    }, oracle = Some(
      s"""WITH u AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, text FROM documents
         |  WHERE doc_id % 10 = 0),
         |pr AS (SELECT * FROM (VALUES (10, 100010), (20, 100020),
         |    (33, 77), (40, 100050)) AS t(id_a, id_b)),
         |ids AS (SELECT id_a AS id FROM pr UNION SELECT id_b FROM pr),
         |nd AS (SELECT u.* FROM u WHERE u.doc_id IN (SELECT id FROM ids)),
         |t AS (SELECT doc_id, $shingle3Sql AS sh, md5(text) AS th
         |      FROM (SELECT doc_id, text,
         |        string_split_regex(trim(lower(text)), '\\s+') AS toks
         |        FROM nd)),
         |tok AS (SELECT doc_id, ${h60Sql("t")}::BIGINT AS h
         |  FROM (SELECT doc_id,
         |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
         |    FROM nd)),
         |sig AS (SELECT doc_id, $simhashBitsSql AS s FROM tok
         |        GROUP BY doc_id),
         |f AS (SELECT t.doc_id, sh, th, s FROM t
         |      JOIN sig ON t.doc_id = sig.doc_id)
         |SELECT CAST(pr.id_a AS BIGINT) AS id_a,
         |  CAST(pr.id_b AS BIGINT) AS id_b,
         |  CAST(len(a.sh) AS BIGINT) AS n_sh_a,
         |  CAST(len(b.sh) AS BIGINT) AS n_sh_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_shared,
         |  CASE WHEN (len(a.sh) + len(b.sh)
         |        - len(list_intersect(a.sh, b.sh))) > 0
         |    THEN round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |      / CAST(len(a.sh) + len(b.sh)
         |             - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 6)
         |  END AS jaccard,
         |  CASE WHEN least(len(a.sh), len(b.sh)) > 0
         |    THEN round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |      / CAST(least(len(a.sh), len(b.sh)) AS DOUBLE), 6)
         |  END AS containment,
         |  CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming,
         |  a.th = b.th AS exact
         |FROM pr JOIN f a ON pr.id_a = a.doc_id
         |  JOIN f b ON pr.id_b = b.doc_id
         |ORDER BY id_a, id_b""".stripMargin)),
    // ── scale: reciprocal best match — one-to-one catalog reconciliation
    //    between the two dirty feeds (mutual argmax over the ≥-threshold
    //    blocked candidates; max score, ties to smallest partner id):
    //    each record matches AT MOST one partner, the assignment every
    //    two-system migration needs where q273's clusters allow fan-in
    //    (oracle: DuckDB replays scoring + both argmax windows + the
    //    agreement join) ───────────────────────────────────────────────────
    QuerySpec("q297_reciprocal_match", (s, dir) => {
      Linkage.reciprocalBestMatch(crossSystemScored(s, dir),
          minScoreMicro = 3000000L)
        .orderBy("id_a")
    }, oracle = Some({
      def fuzzy(f: Linkage.FieldSpec): String =
        s"""CASE WHEN ua.${f.column} = ub.${f.column} THEN ${f.wExactMicro}
           |      WHEN jaro_winkler_similarity(ua.${f.column}, ub.${f.column})
           |        >= ${f.fuzzyThreshold.get} THEN ${f.wFuzzyMicro}
           |      ELSE ${f.wDisagreeMicro} END""".stripMargin
      val Seq(fName, fPhone, fBal, fSeg) = linkageFields
      s"""WITH $linkageCtes,
         |o AS (SELECT CASE WHEN id_a % 2 = 0 THEN id_a ELSE id_b END AS ida,
         |             CASE WHEN id_a % 2 = 0 THEN id_b ELSE id_a END AS idb
         |      FROM pairs WHERE id_a % 2 <> id_b % 2),
         |s AS (SELECT o.ida, o.idb,
         |    (${fuzzy(fName)}
         |     + ${fuzzy(fPhone)}
         |     + CASE WHEN ua.bal = ub.bal THEN ${fBal.wExactMicro}
         |         ELSE ${fBal.wDisagreeMicro} END
         |     + CASE WHEN ua.seg = ub.seg THEN ${fSeg.wExactMicro}
         |         ELSE ${fSeg.wDisagreeMicro} END) AS sc
         |  FROM o JOIN u ua ON ua.id = o.ida JOIN u ub ON ub.id = o.idb),
         |f AS (SELECT * FROM s WHERE sc >= 3000000),
         |ra AS (SELECT ida, idb, sc, row_number() OVER (PARTITION BY ida
         |         ORDER BY sc DESC, idb ASC) AS r FROM f),
         |rb AS (SELECT ida, idb, row_number() OVER (PARTITION BY idb
         |         ORDER BY sc DESC, ida ASC) AS r FROM f)
         |SELECT ra.ida AS id_a, ra.idb AS id_b,
         |  CAST(ra.sc AS BIGINT) AS score_micro
         |FROM ra JOIN rb ON ra.ida = rb.ida AND ra.idb = rb.idb
         |  AND rb.r = 1
         |WHERE ra.r = 1 ORDER BY id_a""".stripMargin
    })),
    // ── scale: match-disposition report — WHY each left record did or
    //    didn't match after the q297 reconciliation (matched / lost_tie /
    //    below_threshold / no_candidate): the unmatched tail localizes
    //    whether blocking keys or the threshold need fixing (oracle:
    //    DuckDB replays the q297 pipeline + the CASE classification) ──────
    QuerySpec("q302_match_disposition", (s, dir) => {
      val scored = crossSystemScored(s, dir)
      val matches = Linkage.reciprocalBestMatch(scored,
        minScoreMicro = 3000000L)
      val leftIds = linkageEntities(s, dir)
        .filter(pmod(col("id"), lit(2L)) === 0)
      Linkage.matchDisposition(leftIds, "id", scored, matches,
          minScoreMicro = 3000000L)
        .groupBy("disposition").agg(count(lit(1)).as("n"))
        .orderBy("disposition")
    }, oracle = Some({
      def fuzzy(f: Linkage.FieldSpec): String =
        s"""CASE WHEN ua.${f.column} = ub.${f.column} THEN ${f.wExactMicro}
           |      WHEN jaro_winkler_similarity(ua.${f.column}, ub.${f.column})
           |        >= ${f.fuzzyThreshold.get} THEN ${f.wFuzzyMicro}
           |      ELSE ${f.wDisagreeMicro} END""".stripMargin
      val Seq(fName, fPhone, fBal, fSeg) = linkageFields
      s"""WITH $linkageCtes,
         |o AS (SELECT CASE WHEN id_a % 2 = 0 THEN id_a ELSE id_b END AS ida,
         |             CASE WHEN id_a % 2 = 0 THEN id_b ELSE id_a END AS idb
         |      FROM pairs WHERE id_a % 2 <> id_b % 2),
         |s AS (SELECT o.ida, o.idb,
         |    (${fuzzy(fName)}
         |     + ${fuzzy(fPhone)}
         |     + CASE WHEN ua.bal = ub.bal THEN ${fBal.wExactMicro}
         |         ELSE ${fBal.wDisagreeMicro} END
         |     + CASE WHEN ua.seg = ub.seg THEN ${fSeg.wExactMicro}
         |         ELSE ${fSeg.wDisagreeMicro} END) AS sc
         |  FROM o JOIN u ua ON ua.id = o.ida JOIN u ub ON ub.id = o.idb),
         |f AS (SELECT * FROM s WHERE sc >= 3000000),
         |ra AS (SELECT ida, idb, sc, row_number() OVER (PARTITION BY ida
         |         ORDER BY sc DESC, idb ASC) AS r FROM f),
         |rb AS (SELECT ida, idb, row_number() OVER (PARTITION BY idb
         |         ORDER BY sc DESC, ida ASC) AS r FROM f),
         |mm AS (SELECT ra.ida FROM ra JOIN rb ON ra.ida = rb.ida
         |         AND ra.idb = rb.idb AND rb.r = 1 WHERE ra.r = 1),
         |cl AS (SELECT u.id AS ida,
         |    CASE WHEN u.id IN (SELECT ida FROM mm) THEN 'matched'
         |         WHEN u.id IN (SELECT ida FROM f) THEN 'lost_tie'
         |         WHEN u.id IN (SELECT ida FROM s) THEN 'below_threshold'
         |         ELSE 'no_candidate' END AS disposition
         |  FROM u WHERE u.id % 2 = 0)
         |SELECT disposition, CAST(count(*) AS BIGINT) AS n
         |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin
    })),
    // ── scale: incremental connected components — fold pair batches into
    //    a persistent (id, component) map via the COMPONENT-level graph
    //    (bounded by the batch's labels, never the corpus; edge history
    //    never stored): the gate feeds the near-dup pairs in two arbitrary
    //    halves and the oracle computes the FULL transitive closure —
    //    passing means merged ≡ full recompute, the operator's defining
    //    invariant (oracle: q46 recursive-CTE closure) ─────────────────────
    QuerySpec("q288_cc_merge", (s, dir) => {
      val u = lshInputQ46(s, dir)
      val pairs = Dedup.minhashNearDupPairs(u, "doc_id", "text",
          shingleSize = 3, bands = 16, rowsPerBand = 2, threshold = 0.55)
        .select("id_a", "id_b").localCheckpoint(true)
      val p1 = pairs.filter(pmod(col("id_a") + col("id_b"), lit(2)) === 0)
      val p2 = pairs.filter(pmod(col("id_a") + col("id_b"), lit(2)) === 1)
      val empty = s.range(0).select(col("id"), col("id").as("component"))
      Dedup.mergeComponents(Dedup.mergeComponents(empty, p1), p2)
        .orderBy("id")
    }, oracle = Some(
      s"""WITH RECURSIVE u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
         |  FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id,
         |    text || ' extra token and more extra' AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |t AS (
         |  SELECT doc_id, $shingle3Sql AS sh
         |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)),
         |    '\\s+') AS toks FROM u)),
         |e0 AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |    >= 0.55),
         |edges AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
         |r(s, d) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.s, e.b FROM r JOIN edges e ON e.a = r.d),
         |comp AS (SELECT s AS id, least(s, min(d)) AS c FROM r GROUP BY s)
         |SELECT id, c AS component FROM comp ORDER BY id""".stripMargin)),
    // ── scale: dedup cascade — the cost-ordered detector stack as ONE
    //    gated report: exact (hash semi-join) → Hamming ≤ 3 (pigeonhole)
    //    → verified Jaccard ≥ 0.55 (banded LSH), each stage seeing only
    //    the previous stage's survivors; batch = exact copies ∪
    //    extra-token near-copies ∪ 60%-prefix truncations ∪ 10-token
    //    quotes of the history (oracle: DuckDB replays all three stages
    //    with the staged survivor semantics) ──────────────────────────────
    QuerySpec("q287_dedup_cascade", (s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val toks = Dedup.tokensCol(col("text"))
      val k = col("doc_id")
      val batch = d.filter(pmod(k, lit(10)) === 0)
        .select((k + 100000).as("doc_id"), col("text"))
        .unionAll(d.filter(pmod(k, lit(7)) === 0)
          .select((k + 200000).as("doc_id"),
            concat(col("text"), lit(" extra token")).as("text")))
        .unionAll(d.filter(pmod(k, lit(13)) === 0)
          .select((k + 300000).as("doc_id"),
            concat_ws(" ", slice(toks, lit(1),
              greatest(floor(size(toks) * 3 / 5).cast("int"), lit(1))))
              .as("text")))
        .unionAll(d.filter(pmod(k, lit(11)) === 0)
          .select((k + 400000).as("doc_id"),
            concat_ws(" ", slice(toks, lit(1), least(lit(10), size(toks))))
              .as("text")))
      Dedup.cascadeNoveltyReport(d, batch, "doc_id", "text",
          maxDist = 3, threshold = 0.55, bands = 16, rowsPerBand = 2,
          tokenHash = Dedup.Md5TokenHash)
        .orderBy("stage")
    }, oracle = Some(
      s"""WITH base AS (SELECT doc_id, text,
         |    string_split_regex(trim(lower(text)), '\\s+') AS toks
         |  FROM documents),
         |b0 AS (
         |  SELECT doc_id + 100000 AS id, text FROM documents
         |  WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000, text || ' extra token' FROM documents
         |  WHERE doc_id % 7 = 0
         |  UNION ALL
         |  SELECT doc_id + 300000,
         |    array_to_string(toks[1:greatest(len(toks) * 3 // 5, 1)], ' ')
         |  FROM base WHERE doc_id % 13 = 0
         |  UNION ALL
         |  SELECT doc_id + 400000,
         |    array_to_string(toks[1:least(10, len(toks))], ' ')
         |  FROM base WHERE doc_id % 11 = 0),
         |s1 AS (SELECT id, text FROM b0
         |  WHERE text NOT IN (SELECT text FROM documents)),
         |th AS (SELECT doc_id AS id, text FROM documents
         |  UNION ALL SELECT id, text FROM s1),
         |tok AS (SELECT id, ${h60Sql("t")}::BIGINT AS h
         |  FROM (SELECT id, unnest(string_split_regex(trim(lower(text)),
         |    '\\s+')) AS t FROM th)),
         |sig AS (SELECT id, $simhashBitsSql AS s FROM tok GROUP BY id),
         |hd AS (SELECT a.id FROM sig a JOIN sig h
         |  ON h.id < 100000 AND a.id >= 100000
         |    AND bit_count(xor(a.s, h.s)) <= 3
         |  GROUP BY a.id),
         |s2 AS (SELECT * FROM s1 WHERE id NOT IN (SELECT id FROM hd)),
         |tj AS (SELECT doc_id AS id, toks FROM base
         |  UNION ALL SELECT id,
         |    string_split_regex(trim(lower(text)), '\\s+') FROM s2),
         |sh AS (SELECT id, $shingle3Sql AS sh FROM
         |  (SELECT id, toks FROM tj)),
         |jd AS (SELECT a.id FROM sh a JOIN sh h
         |  ON h.id < 100000 AND a.id >= 100000
         |    AND len(list_intersect(a.sh, h.sh)) * 1.0 /
         |      (len(a.sh) + len(h.sh) - len(list_intersect(a.sh, h.sh)))
         |      >= 0.55
         |  GROUP BY a.id),
         |s3 AS (SELECT * FROM s2 WHERE id NOT IN (SELECT id FROM jd)),
         |n AS (SELECT (SELECT count(*) FROM b0) AS n0,
         |    (SELECT count(*) FROM s1) AS n1,
         |    (SELECT count(*) FROM s2) AS n2,
         |    (SELECT count(*) FROM s3) AS n3)
         |SELECT stage, CAST(n_in AS BIGINT) AS n_in,
         |  CAST(n_dropped AS BIGINT) AS n_dropped,
         |  CAST(n_out AS BIGINT) AS n_out
         |FROM (
         |  SELECT '1_exact' AS stage, n0 AS n_in, n0 - n1 AS n_dropped,
         |    n1 AS n_out FROM n
         |  UNION ALL SELECT '2_hamming', n1, n1 - n2, n2 FROM n
         |  UNION ALL SELECT '3_minhash', n2, n2 - n3, n3 FROM n)
         |ORDER BY stage""".stripMargin)),
    // ── scale: split-leakage audit — near-dup pairs CROSSING a train/
    //    val/test hash split (a near-copy of a training doc sitting in
    //    test silently inflates eval; the q242 grouped split prevents it
    //    by construction, this MEASURES it for any split): leak matrix
    //    (fold_lo, fold_hi, n_pairs), off-diagonal = contamination
    //    (oracle: DuckDB brute-forces the pairs + replays the fold CASE) ───
    QuerySpec("q285_split_leakage", (s, dir) => {
      val corpus = lshInputQ25(s, dir)
      val folds = Sampling.groupedSplitAssign(corpus.select("doc_id"),
        "doc_id", Seq(0.8, 0.1, 0.1))
      val pairs = Dedup.minhashNearDupPairs(corpus, "doc_id", "text",
        shingleSize = 3, bands = 16, rowsPerBand = 2, threshold = 0.55)
      pairs
        .join(folds.select(col("doc_id").as("id_a"), col("fold").as("__fa")),
          "id_a")
        .join(folds.select(col("doc_id").as("id_b"), col("fold").as("__fb")),
          "id_b")
        .groupBy(least(col("__fa"), col("__fb")).as("fold_lo"),
          greatest(col("__fa"), col("__fb")).as("fold_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("fold_lo", "fold_hi")
    }, oracle = Some(
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |t AS (
         |  SELECT doc_id, $shingle3Sql AS sh
         |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)),
         |    '\\s+') AS toks FROM u)),
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |    >= 0.55),
         |f AS (SELECT doc_id,
         |    CASE WHEN b < 800000 THEN 0 WHEN b < 900000 THEN 1 ELSE 2 END
         |      AS fold
         |  FROM (SELECT doc_id,
         |      ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::UBIGINT
         |        % 1000000 AS b
         |    FROM u))
         |SELECT least(fa.fold, fb.fold) AS fold_lo,
         |  greatest(fa.fold, fb.fold) AS fold_hi,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM p JOIN f fa ON fa.doc_id = p.id_a
         |JOIN f fb ON fb.doc_id = p.id_b
         |GROUP BY 1, 2 ORDER BY fold_lo, fold_hi""".stripMargin)),
    // ── scale: deterministic token-dropout augmentation — drop token i of
    //    doc d iff md5(id:pos:seed) ≡ 0 (mod 10): augmentation as a pure
    //    function of (id, position, seed) — reproducible per epoch,
    //    shardable anywhere; the per-source report carries an exact
    //    md5-checksum of every augmented text, so the oracle verifies the
    //    RECONSTRUCTED strings, not just counts ────────────────────────────
    QuerySpec("q284_token_dropout", (s, dir) => {
      val aug = TextAnalysis.tokenDropout(
        T(s, dir, "documents").select("doc_id", "source", "text"),
        "doc_id", "text", dropOneIn = 10, seed = 7L)
      aug.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tokens_before"),
          sum(col("n_kept")).as("tokens_after"),
          sum(pmod(Dedup.md5Hash60(col("aug_text")), lit(1000000000000L)))
            .cast("long").as("checksum"))
        .withColumn("drop_frac",
          round((col("tokens_before") - col("tokens_after")).cast("double") /
            col("tokens_before").cast("double"), 6))
        .orderBy("source")
    }, oracle = Some(
      """WITH t AS (SELECT doc_id, source,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |p AS (SELECT doc_id, source, unnest(toks) AS w,
        |    generate_subscripts(toks, 1) AS i FROM t),
        |kept AS (SELECT doc_id, source, w, i FROM p
        |  WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':' || i::VARCHAR
        |    || ':7'), 1, 15))::BIGINT % 10 <> 0),
        |agg AS (SELECT t.doc_id, t.source, len(t.toks) AS n_tokens,
        |    coalesce(k.n_kept, 0) AS n_kept, coalesce(k.aug, '') AS aug
        |  FROM t LEFT JOIN (
        |    SELECT doc_id, count(*) AS n_kept,
        |      string_agg(w, ' ' ORDER BY i) AS aug
        |    FROM kept GROUP BY doc_id) k ON k.doc_id = t.doc_id)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens_before,
        |  CAST(sum(n_kept) AS BIGINT) AS tokens_after,
        |  CAST(sum(('0x' || substr(md5(aug), 1, 15))::BIGINT
        |    % 1000000000000) AS BIGINT) AS checksum,
        |  round(CAST(sum(n_tokens) - sum(n_kept) AS DOUBLE)
        |    / CAST(sum(n_tokens) AS DOUBLE), 6) AS drop_frac
        |FROM agg GROUP BY source ORDER BY source""".stripMargin)),
    // ── scale: persistent ER index — system A seeds the golden-record
    //    store, system B ingests against it: blocking-key postings probe
    //    (I/O ∝ batch), Fellegi–Sunter scoring vs candidates only,
    //    attach-to-best-cluster at ≥ 10 bits or found a new one; the
    //    SEVENTH incremental cell (entity/golden-record modality)
    //    (oracle: DuckDB replays B-vs-A blocking, scoring, and the
    //    max-score/min-id argmax) ──────────────────────────────────────────
    QuerySpec("q279_er_index", (s, dir) => {
      val ents = linkageEntities(s, dir)
      val idx = new ErIndex(s, tmpWorkDir("gs_erix_"), linkageFields,
        linkageBlockKeys(), scoreThresholdMicro = 10000000L, numBuckets = 16)
      idx.ingest(ents.filter(col("id") % 2 === 0), "id")
      idx.ingest(ents.filter(col("id") % 2 === 1), "id")
        .select(col("inc_id"), col("cluster"), col("matched"))
        .orderBy("inc_id")
    }, bench = Some((s, dir) => {
      // q279 measures a store lifecycle: seeding system A is test setup
      // (the q08/q38/q256 convention) — the timed region is one resolve
      // of the B batch against the persisted golden records
      val ents = linkageEntities(s, dir)
      val idx = new ErIndex(s, tmpWorkDir("gs_erix_"), linkageFields,
        linkageBlockKeys(), scoreThresholdMicro = 10000000L,
        numBuckets = 16)
      idx.ingest(ents.filter(col("id") % 2 === 0), "id")
      val b = ents.filter(col("id") % 2 === 1)
      () => idx.resolve(b, "id")
    }), oracle = Some({
      def fz(f: Linkage.FieldSpec): String =
        s"""CASE WHEN ui.${f.column} = uh.${f.column} THEN ${f.wExactMicro}
           |      WHEN jaro_winkler_similarity(ui.${f.column}, uh.${f.column})
           |        >= ${f.fuzzyThreshold.get} THEN ${f.wFuzzyMicro}
           |      ELSE ${f.wDisagreeMicro} END""".stripMargin
      val Seq(fName, fPhone, fBal, fSeg) = linkageFields
      s"""WITH $linkageCtes,
         |cand AS (SELECT DISTINCT b.id AS inc_id, a.id AS hist_id
         |  FROM bk b JOIN bk a ON b.pass = a.pass AND b.bkey = a.bkey
         |  WHERE b.id % 2 = 1 AND a.id % 2 = 0),
         |sc AS (SELECT c.inc_id, c.hist_id,
         |    (${fz(fName)}
         |     + ${fz(fPhone)}
         |     + CASE WHEN ui.bal = uh.bal THEN ${fBal.wExactMicro}
         |         ELSE ${fBal.wDisagreeMicro} END
         |     + CASE WHEN ui.seg = uh.seg THEN ${fSeg.wExactMicro}
         |         ELSE ${fSeg.wDisagreeMicro} END) AS score
         |  FROM cand c JOIN u ui ON ui.id = c.inc_id
         |  JOIN u uh ON uh.id = c.hist_id),
         |best AS (SELECT inc_id, hist_id,
         |    row_number() OVER (PARTITION BY inc_id
         |      ORDER BY score DESC, hist_id ASC) AS rn
         |  FROM sc WHERE score >= 10000000)
         |SELECT u.id AS inc_id, coalesce(b.hist_id, u.id) AS cluster,
         |  b.hist_id IS NOT NULL AS matched
         |FROM u LEFT JOIN (SELECT inc_id, hist_id FROM best WHERE rn = 1) b
         |  ON b.inc_id = u.id
         |WHERE u.id % 2 = 1 ORDER BY inc_id""".stripMargin
    })),
    // ── scale: sorted-neighborhood blocking — candidate pairs = records
    //    within 10 positions of each other in global name order; the
    //    classic complement to key blocking (bounds every record's
    //    candidates; dirty sort keys are the honest recall trade). Global
    //    rank via the distributed-cumsum idiom, rank-band self-join —
    //    never all-pairs (oracle: DuckDB row_number + distance join) ───────
    QuerySpec("q276_sorted_neighborhood", (s, dir) => {
      val ents = linkageEntities(s, dir)
      val truth = ents.select(col("id").as("__tid"), col("ckey"))
      Linkage.sortedNeighborhoodPairs(ents, "id", col("name"), window = 10)
        .join(truth.select(col("__tid").as("id_a"), col("ckey").as("__ta")),
          "id_a")
        .join(truth.select(col("__tid").as("id_b"), col("ckey").as("__tb")),
          "id_b")
        .groupBy("dist").agg(count(lit(1)).as("n_pairs"),
          sum(when(col("__ta") === col("__tb"), 1L).otherwise(0L))
            .as("n_true"))
        .orderBy("dist")
    }, oracle = Some(
      s"""WITH $linkageCtes,
         |r AS (SELECT id, ckey,
         |    row_number() OVER (ORDER BY name, id) AS rn FROM u)
         |SELECT b.rn - a.rn AS dist, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN a.ckey = b.ckey THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_true
         |FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 10
         |GROUP BY 1 ORDER BY dist""".stripMargin)),
    // ── scale: ER threshold operating curve — per score bucket
    //    (descending), cumulative pairs/true-matches/precision of "accept
    //    at or above": the table the q273 threshold was chosen from
    //    (oracle: DuckDB replays scoring + suffix-sum windows) ─────────────
    QuerySpec("q277_er_curve", (s, dir) => {
      val ents = linkageEntities(s, dir)
      val pairs = Linkage.blockedPairs(ents, "id", linkageBlockKeys(), 4096)
        .filter(pmod(col("id_a"), lit(2L)) =!= pmod(col("id_b"), lit(2L)))
      Linkage.scoreCurve(
        Linkage.matchScores(ents, "id", pairs, linkageFields,
          carry = Seq("ckey")),
        col("a_ckey") === col("b_ckey"), bucketMicro = 2000000L)
    }, oracle = Some(
      s"""WITH $linkageScoredCtes,
         |h AS (SELECT CAST(floor(score_micro / 2000000.0) AS BIGINT)
         |      AS bucket,
         |    CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(CASE WHEN a_ckey = b_ckey THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_true
         |  FROM sc GROUP BY 1),
         |cm AS (SELECT bucket, n_pairs, n_true,
         |    CAST(sum(n_pairs) OVER (ORDER BY bucket DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_pairs,
         |    CAST(sum(n_true) OVER (ORDER BY bucket DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_true
         |  FROM h)
         |SELECT bucket, n_pairs, n_true, cum_pairs, cum_true,
         |  round(CAST(cum_true AS DOUBLE) / CAST(cum_pairs AS DOUBLE), 6)
         |    AS precision
         |FROM cm ORDER BY bucket DESC""".stripMargin)),
    // ── scale: entity resolution end-to-end — accepted matches (score ≥
    //    10 bits, the q269 histogram's clean separating band) → connected
    //    components → one golden-record cluster id per entity (singletons
    //    map to themselves): the full Fellegi–Sunter → CC pipeline a
    //    master-data system runs (oracle: DuckDB replays scoring + a
    //    recursive-CTE min-id component closure) ──────────────────────────
    QuerySpec("q273_er_resolution", (s, dir) =>
      erResolvedClusters(s, dir).orderBy("id"), oracle = Some({
      def fz(f: Linkage.FieldSpec): String =
        s"""CASE WHEN ua.${f.column} = ub.${f.column} THEN ${f.wExactMicro}
           |      WHEN jaro_winkler_similarity(ua.${f.column}, ub.${f.column})
           |        >= ${f.fuzzyThreshold.get} THEN ${f.wFuzzyMicro}
           |      ELSE ${f.wDisagreeMicro} END""".stripMargin
      val Seq(fName, fPhone, fBal, fSeg) = linkageFields
      s"""WITH RECURSIVE $linkageCtes,
         |m AS (SELECT p.id_a, p.id_b
         |  FROM pairs p JOIN u ua ON ua.id = p.id_a JOIN u ub ON ub.id = p.id_b
         |  WHERE p.id_a % 2 <> p.id_b % 2
         |    AND (${fz(fName)}
         |     + ${fz(fPhone)}
         |     + CASE WHEN ua.bal = ub.bal THEN ${fBal.wExactMicro}
         |         ELSE ${fBal.wDisagreeMicro} END
         |     + CASE WHEN ua.seg = ub.seg THEN ${fSeg.wExactMicro}
         |         ELSE ${fSeg.wDisagreeMicro} END) >= 10000000),
         |edges AS (SELECT id_a AS a, id_b AS b FROM m
         |  UNION SELECT id_b, id_a FROM m),
         |r(s, d) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.s, e.b FROM r JOIN edges e ON e.a = r.d),
         |comp AS (SELECT s AS id, least(s, min(d)) AS c FROM r GROUP BY s)
         |SELECT u.id, coalesce(comp.c, u.id) AS cluster_id
         |FROM u LEFT JOIN comp ON comp.id = u.id
         |ORDER BY u.id""".stripMargin
    })),
    // ── scale: ER pairwise quality — precision/recall/F1 of the q273
    //    resolution against ground truth, computed ENTIRELY from
    //    contingency counts (Σ C(m,2) over clusters, truth groups, and
    //    cluster×truth cells — no pair enumeration at any corpus size);
    //    the standard pair-counting clustering evaluation (oracle: DuckDB
    //    replays the resolution + the three C(·,2) sums) ───────────────────
    QuerySpec("q290_er_pair_metrics", (s, dir) => {
      val withTruth = erResolvedClusters(s, dir)
        .join(linkageEntities(s, dir).select(col("id"), col("ckey")), "id")
      val pred = withTruth.groupBy("cluster_id")
        .agg(count(lit(1)).as("m"))
        .agg(sum(col("m") * (col("m") - 1) / 2).cast("long").as("pred_pairs"))
      val truth = withTruth.groupBy("ckey")
        .agg(count(lit(1)).as("m"))
        .agg(sum(col("m") * (col("m") - 1) / 2).cast("long").as("true_pairs"))
      val tp = withTruth.groupBy("cluster_id", "ckey")
        .agg(count(lit(1)).as("m"))
        .agg(sum(col("m") * (col("m") - 1) / 2).cast("long").as("tp_pairs"))
      pred.crossJoin(truth).crossJoin(tp)
        .select(col("pred_pairs"), col("true_pairs"), col("tp_pairs"),
          round(col("tp_pairs").cast("double") /
            col("pred_pairs").cast("double"), 6).as("precision"),
          round(col("tp_pairs").cast("double") /
            col("true_pairs").cast("double"), 6).as("recall"),
          round(lit(2.0) * col("tp_pairs").cast("double") /
            (col("pred_pairs") + col("true_pairs")).cast("double"), 6)
            .as("f1"))
    }, oracle = Some({
      def fz(f: Linkage.FieldSpec): String =
        s"""CASE WHEN ua.${f.column} = ub.${f.column} THEN ${f.wExactMicro}
           |      WHEN jaro_winkler_similarity(ua.${f.column}, ub.${f.column})
           |        >= ${f.fuzzyThreshold.get} THEN ${f.wFuzzyMicro}
           |      ELSE ${f.wDisagreeMicro} END""".stripMargin
      val Seq(fName, fPhone, fBal, fSeg) = linkageFields
      s"""WITH RECURSIVE $linkageCtes,
         |m AS (SELECT p.id_a, p.id_b
         |  FROM pairs p JOIN u ua ON ua.id = p.id_a JOIN u ub ON ub.id = p.id_b
         |  WHERE p.id_a % 2 <> p.id_b % 2
         |    AND (${fz(fName)}
         |     + ${fz(fPhone)}
         |     + CASE WHEN ua.bal = ub.bal THEN ${fBal.wExactMicro}
         |         ELSE ${fBal.wDisagreeMicro} END
         |     + CASE WHEN ua.seg = ub.seg THEN ${fSeg.wExactMicro}
         |         ELSE ${fSeg.wDisagreeMicro} END) >= 10000000),
         |edges AS (SELECT id_a AS a, id_b AS b FROM m
         |  UNION SELECT id_b, id_a FROM m),
         |r(s, d) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.s, e.b FROM r JOIN edges e ON e.a = r.d),
         |comp AS (SELECT s AS id, least(s, min(d)) AS c FROM r GROUP BY s),
         |res AS (SELECT u.id, coalesce(comp.c, u.id) AS cl, u.id // 2 AS ck
         |  FROM u LEFT JOIN comp ON comp.id = u.id),
         |p1 AS (SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS pred_pairs
         |  FROM (SELECT count(*) AS m FROM res GROUP BY cl)),
         |p2 AS (SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS true_pairs
         |  FROM (SELECT count(*) AS m FROM res GROUP BY ck)),
         |p3 AS (SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS tp_pairs
         |  FROM (SELECT count(*) AS m FROM res GROUP BY cl, ck))
         |SELECT pred_pairs, true_pairs, tp_pairs,
         |  round(CAST(tp_pairs AS DOUBLE) / CAST(pred_pairs AS DOUBLE), 6)
         |    AS precision,
         |  round(CAST(tp_pairs AS DOUBLE) / CAST(true_pairs AS DOUBLE), 6)
         |    AS recall,
         |  round(2.0 * CAST(tp_pairs AS DOUBLE)
         |    / CAST(pred_pairs + true_pairs AS DOUBLE), 6) AS f1
         |FROM p1 CROSS JOIN p2 CROSS JOIN p3""".stripMargin
    })),
    // ── scale: detector-ensemble agreement — the four near-dup detectors
    //    (exact / minhash-Jaccard / simhash-Hamming / containment) over
    //    ONE shared corpus (base ∪ near-copies ∪ 25-token quotes), as a
    //    pair-set agreement matrix: diagonal = per-detector pair counts,
    //    off-diagonal = set intersections. The "which detector catches
    //    what" report behind choosing a dedup stack — exact⊂all, quotes
    //    visible ONLY to containment, the extra-token copies to
    //    jaccard/hamming but not exact (oracle: DuckDB brute-forces all
    //    four detectors and replays the matrix) ───────────────────────────
    QuerySpec("q272_detector_agreement", (s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val near = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" extra token")).as("text"))
      val quotes = d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat_ws(" ", slice(Dedup.tokensCol(col("text")), 1, 25)).as("text"))
      val u = d.unionByName(near).unionByName(quotes).localCheckpoint(true)
      def norm(p: DataFrame): DataFrame =
        p.select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
      // the four detector families are INDEPENDENT and each materializes
      // eager internal checkpoints: build them from a driver thread pool
      // (guide §2.6 — concurrent jobs schedule FIFO, so one detector's
      // straggler tail is back-filled by the next; u is checkpointed
      // above, so no shared lazy upstream recomputes). Deterministic:
      // each detector is a pure function of u, union order is fixed.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      import scala.concurrent.Future
      val fExact = Future(Linkage.blockedPairs(u, "doc_id",
        Seq(md5(col("text"))), maxBlockSize = 1000000))
      val fJac = Future(norm(Dedup.minhashNearDupPairs(u, "doc_id", "text",
        shingleSize = 3, bands = 16, rowsPerBand = 2, threshold = 0.55)))
      val fHam = Future(norm(Dedup.simhashNearDupPairs(u, "doc_id", "text",
        maxDist = 3, tokenHash = Dedup.Md5TokenHash)))
      val fCont = Future(norm(Dedup.containmentPairs(u, "doc_id", "text",
        shingleSize = 3, threshold = 0.9)))
      val Seq(exact, jac, ham, cont) = try {
        scala.concurrent.Await.result(
          Future.sequence(Seq(fExact, fJac, fHam, fCont)),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
      val tagged = exact
        .select(lit("exact").as("det"), col("id_a"), col("id_b"))
        .unionAll(jac.select(lit("jaccard").as("det"), col("id_a"), col("id_b")))
        .unionAll(ham.select(lit("hamming").as("det"), col("id_a"), col("id_b")))
        .unionAll(cont.select(lit("containment").as("det"), col("id_a"),
          col("id_b")))
        .localCheckpoint(true)
      tagged.withColumnRenamed("det", "det_a")
        .join(tagged.withColumnRenamed("det", "det_b"), Seq("id_a", "id_b"))
        .filter(col("det_a") <= col("det_b"))
        .groupBy("det_a", "det_b").agg(count(lit(1)).as("n_pairs"))
        .orderBy("det_a", "det_b")
    }, oracle = Some(
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
         |  FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id,
         |    array_to_string(string_split_regex(trim(lower(text)),
         |      '\\s+')[1:25], ' ') AS text
         |  FROM documents WHERE doc_id % 7 = 0),
         |tk AS (SELECT doc_id, text,
         |    string_split_regex(trim(lower(text)), '\\s+') AS toks FROM u),
         |sh AS (SELECT doc_id, $shingle3Sql AS sh FROM tk),
         |ex AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM u a JOIN u b ON a.doc_id < b.doc_id AND a.text = b.text),
         |sp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    len(a.sh) AS na, len(b.sh) AS nb,
         |    len(list_intersect(a.sh, b.sh)) AS inter
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
         |jp AS (SELECT id_a, id_b FROM sp
         |  WHERE inter * 1.0 / (na + nb - inter) >= 0.55),
         |cp AS (SELECT id_a, id_b FROM sp
         |  WHERE inter * 1.0 / least(na, nb) >= 0.9),
         |tok AS (SELECT doc_id, ${h60Sql("t")}::BIGINT AS h
         |  FROM (SELECT doc_id, unnest(toks) AS t FROM tk)),
         |sig AS (SELECT doc_id, $simhashBitsSql AS s FROM tok
         |  GROUP BY doc_id),
         |hp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.s, b.s)) <= 3),
         |tg AS (
         |  SELECT 'exact' AS det, id_a, id_b FROM ex
         |  UNION ALL SELECT 'jaccard', id_a, id_b FROM jp
         |  UNION ALL SELECT 'hamming', id_a, id_b FROM hp
         |  UNION ALL SELECT 'containment', id_a, id_b FROM cp)
         |SELECT x.det AS det_a, y.det AS det_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM tg x JOIN tg y ON x.id_a = y.id_a AND x.id_b = y.id_b
         |  AND x.det <= y.det
         |GROUP BY 1, 2 ORDER BY det_a, det_b""".stripMargin)),
    // ── scale: persistent winnowing span index — "does this doc QUOTE
    //    anything ever crawled?" against a fingerprint-bucketed postings
    //    store (probe I/O ∝ batch, history never rescanned); the sixth
    //    cell of the incremental-similarity matrix (exact/token/char/
    //    vector/signature/SPAN). History = odd doc_ids, probe = even;
    //    md5-60 fingerprints so the oracle replays the whole winnow
    //    (oracle: DuckDB replays the q43 machinery + postings join) ───────
    QuerySpec("q271_span_index", (s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val idx = new SpanIndex(s, tmpWorkDir("gs_spanix_"), k = 5, window = 4,
        minShared = 3, numBuckets = 16, maxPostings = 500,
        hashKind = "md5_60")
      idx.add(d.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      idx.probe(d.filter(col("doc_id") % 2 === 0), "doc_id", "text")
        .orderBy("inc_id", "hist_id")
    }, bench = Some((s, dir) => {
      // q271 measures a store lifecycle: history indexing is test setup
      // (the q08/q38/q256 convention) — the timed region is exactly one
      // probe against the persisted fingerprint postings, on the
      // PRODUCTION hash (xxhash64; md5-60 exists for the oracle replay)
      val d = T(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val idx = new SpanIndex(s, tmpWorkDir("gs_spanix_"), k = 5,
        window = 4, minShared = 3, numBuckets = 16, maxPostings = 500)
      idx.add(d.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      val probeDocs = d.filter(col("doc_id") % 2 === 0)
      () => idx.probe(probeDocs, "doc_id", "text")
    }), oracle = Some(
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(toks) >= 5
        |    THEN list_transform(range(1, len(toks) - 3),
        |      i -> array_to_string(toks[i:i+4], ' '))
        |    ELSE [array_to_string(toks, ' ')] END AS grams FROM t),
        |h AS (SELECT doc_id, list_transform(grams,
        |    x -> ('0x' || substr(md5(x), 1, 15))::UBIGINT::BIGINT) AS hs
        |  FROM g),
        |fp AS (SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(hs) - 3, 1) + 1),
        |      j -> list_min(hs[j:j+3]))) AS fps FROM h),
        |e AS (SELECT doc_id, unnest(fps) AS f FROM fp),
        |hist AS (SELECT f, doc_id AS hist_id FROM e WHERE doc_id % 2 = 1),
        |okh AS (SELECT f, hist_id FROM (
        |    SELECT f, hist_id, count(*) OVER (PARTITION BY f) AS m FROM hist)
        |  WHERE m <= 500),
        |inc AS (SELECT f, doc_id AS inc_id FROM e WHERE doc_id % 2 = 0),
        |sh AS (SELECT inc_id, hist_id, CAST(count(*) AS BIGINT) AS n_shared
        |  FROM inc JOIN okh USING (f) GROUP BY 1, 2 HAVING count(*) >= 3),
        |n AS (SELECT doc_id AS inc_id, len(fps) AS nf FROM fp)
        |SELECT inc_id, hist_id, n_shared,
        |  round(CAST(n_shared AS DOUBLE) / CAST(nf AS DOUBLE), 6)
        |    AS containment
        |FROM sh JOIN n USING (inc_id)
        |ORDER BY inc_id, hist_id""".stripMargin)),
    // ── scale: dedup threshold-calibration curve — verified-Jaccard
    //    histogram + pairs-surviving-at-≥t over the candidate pairs (the
    //    landscape q53's single-threshold margin probe sits inside);
    //    probe at the q25-proven banding config so candidate recall is
    //    complete on this corpus (oracle: DuckDB brute-forces the pairs
    //    and replays buckets + suffix sums) ─────────────────────────────────
    QuerySpec("q163_threshold_curve", (s, dir) => {
      Dedup.thresholdCurve(lshInputQ25(s, dir), "doc_id", "text",
          probeThreshold = 0.55, bins = 20, shingleSize = 3,
          bands = 16, rowsPerBand = 2)
        .select(col("bucket"), round(col("t_lo"), 6).as("t_lo"),
          col("n_pairs"), col("n_at_or_above"))
        .orderBy("bucket")
    }, oracle = Some(
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |t AS (
         |  SELECT doc_id, $shingle3Sql AS sh
         |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+')
         |          AS toks FROM u)),
         |p AS (
         |  SELECT len(list_intersect(a.sh, b.sh)) * 1.0 /
         |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id),
         |k AS (SELECT LEAST(CAST(floor(j * 20) AS INT), 19) AS bucket,
         |        CAST(count(*) AS BIGINT) AS n_pairs
         |      FROM p WHERE j >= 0.55 GROUP BY 1),
         |spine AS (SELECT CAST(unnest(range(0, 20)) AS INT) AS bucket),
         |f AS (SELECT spine.bucket AS bucket, coalesce(n_pairs, 0) AS n_pairs
         |      FROM spine LEFT JOIN k USING (bucket))
         |SELECT bucket, round(CAST(bucket AS DOUBLE) /
         |    CAST(20.0 AS DOUBLE), 6) AS t_lo, n_pairs,
         |  CAST(sum(n_pairs) OVER (ORDER BY bucket DESC ROWS BETWEEN
         |    UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS n_at_or_above
         |FROM f ORDER BY bucket""".stripMargin)),
    // ── scale: dedup provenance — the (loser → winner) redirect map
    //    behind keep-best ("why is my document gone, and who won?")
    //    (oracle: the q70 component + quality-argmax replay emitting the
    //    loser rows) ────────────────────────────────────────────────────────
    QuerySpec("q160_dedup_provenance", (s, dir) => {
      val u = lshInputQ46(s, dir)
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      val pairs = Dedup.minhashNearDupPairs(u, "doc_id", "text",
        shingleSize = 3, bands = 16, rowsPerBand = 2, threshold = 0.55)
      Dedup.dedupProvenance(u, "doc_id", pairs, "quality")
        .select(col("loser"), col("winner"),
          round(col("loser_score"), 6).as("loser_score"),
          round(col("winner_score"), 6).as("winner_score"))
        .orderBy("loser")
    }, oracle = Some(
      s"""WITH RECURSIVE u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
         |  FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id,
         |    text || ' extra token and more extra' AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |t AS (
         |  SELECT doc_id, $shingle3Sql AS sh
         |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+')
         |          AS toks FROM u)),
         |e0 AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b FROM t a
         |  JOIN t b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |      >= 0.55),
         |edges AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
         |r(s, d) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.s, e.b FROM r JOIN edges e ON e.a = r.d),
         |comp AS (SELECT s AS id, least(s, min(d)) AS c FROM r GROUP BY s),
         |q AS (SELECT doc_id, ${qualitySql("text")} AS quality FROM u),
         |sc AS (SELECT comp.id AS id, comp.c AS c, q.quality AS quality,
         |         row_number() OVER (PARTITION BY comp.c
         |           ORDER BY q.quality DESC, comp.id) AS rk
         |       FROM comp JOIN q ON q.doc_id = comp.id),
         |win AS (SELECT c, id AS winner, quality AS winner_score
         |        FROM sc WHERE rk = 1)
         |SELECT sc.id AS loser, win.winner AS winner,
         |  round(sc.quality, 6) AS loser_score,
         |  round(win.winner_score, 6) AS winner_score
         |FROM sc JOIN win USING (c) WHERE sc.rk > 1
         |ORDER BY loser""".stripMargin)),
    // ── scale: embedding-isolation outliers — lowest k-th-neighbor
    //    cosine (noise/contamination candidates; SemDeDup's sparse-side
    //    complement) (oracle: DuckDB replays the exact kNN ranking and
    //    the min-of-top-k) ─────────────────────────────────────────────────
    QuerySpec("q158_embedding_outliers", (s, dir) => {
      Similarity.embeddingOutliers(T(s, dir, "embeddings"), "vec_id",
          "embedding", k = 5, topK = 20, numCentroids = 1)
        .select(col("rank"), col("id"),
          round(col("kth_cosine"), 6).as("kth_cosine"))
        .orderBy("rank")
    }, bench = Some((s, dir) => {
      // q158 benches the PRODUCTION IVF-blocked kNN (auto centroids; the
      // numCentroids=1 exact path is the oracle gate)
      val e = T(s, dir, "embeddings")
      () => Similarity.embeddingOutliers(e, "vec_id", "embedding",
          k = 5, topK = 20)
        .select(col("rank"), col("id"),
          round(col("kth_cosine"), 6).as("kth_cosine"))
        .orderBy("rank")
    }), oracle = Some(
      """WITH p AS (SELECT q.vec_id AS id,
        |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |      CAST(c.embedding AS DOUBLE[])) AS cos,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rnk
        |  FROM embeddings q, embeddings c WHERE q.vec_id <> c.vec_id
        |  QUALIFY rnk <= 5),
        |iso AS (SELECT id, min(cos) AS kth FROM p GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY kth, id) AS INT) AS rank,
        |  id, round(kth, 6) AS kth_cosine
        |FROM iso QUALIFY rank <= 20 ORDER BY rank""".stripMargin)),
    // ── scale: dup-cluster size report — (size, n_clusters) incl. the
    //    singleton clean fraction, the report a dedup run is judged by
    //    (oracle: the q46 recursive-CTE components + size histogram) ───────
    QuerySpec("q157_dup_cluster_sizes", (s, dir) => {
      val u = lshInputQ46(s, dir)
      val pairs = Dedup.minhashNearDupPairs(u, "doc_id", "text",
        shingleSize = 3, bands = 16, rowsPerBand = 2, threshold = 0.55)
      Dedup.dupClusterSizeReport(u, "doc_id", pairs)
    }, oracle = Some(
      s"""WITH RECURSIVE u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
         |  FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id,
         |    text || ' extra token and more extra' AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |t AS (
         |  SELECT doc_id, $shingle3Sql AS sh
         |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+')
         |          AS toks FROM u)),
         |e0 AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b FROM t a
         |  JOIN t b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |      >= 0.55),
         |edges AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
         |r(s, d) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.s, e.b FROM r JOIN edges e ON e.a = r.d),
         |comp AS (SELECT s AS id, least(s, min(d)) AS c FROM r GROUP BY s),
         |sizes AS (SELECT c, CAST(count(*) AS BIGINT) AS size
         |          FROM comp GROUP BY c),
         |hist AS (SELECT size, CAST(count(*) AS BIGINT) AS n_clusters
         |         FROM sizes GROUP BY size
         |         UNION ALL
         |         SELECT 1 AS size,
         |           (SELECT count(*) FROM u) - (SELECT count(*) FROM comp)
         |             AS n_clusters)
         |SELECT size, CAST(sum(n_clusters) AS BIGINT) AS n_clusters
         |FROM hist GROUP BY size ORDER BY size""".stripMargin)),
    // ── scale: int8 embedding quantization — per-dim min-max codes (4×
    //    ANN index memory cut) + reconstruction-MSE audit; stats are plan
    //    literals, quantization is a pure projection (oracle: DuckDB
    //    replays codes, dequantization, and the in-order error fold) ──────
    QuerySpec("q128_embed_quantize", (s, dir) => {
      Similarity.quantizeInt8Report(T(s, dir, "embeddings"), "vec_id",
          "embedding")
        .orderBy("vec_id")
    }, oracle = Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |x AS (SELECT vec_id, unnest(range(len(v))) AS dim, unnest(v) AS val
        |      FROM e),
        |s AS (SELECT dim, min(val) AS mn, max(val) AS mx FROM x GROUP BY 1),
        |c AS (SELECT vec_id, dim, val, mn, mx - mn AS rg,
        |        CASE WHEN mx = mn THEN 0 ELSE
        |          LEAST(GREATEST(CAST(floor(((val - mn) *
        |            CAST(255.0 AS DOUBLE)) / (mx - mn)) AS INT), 0), 255)
        |        END AS code
        |      FROM x JOIN s USING (dim)),
        |d AS (SELECT vec_id, dim, val, code,
        |        mn + (CAST(code AS DOUBLE) * rg) / CAST(255.0 AS DOUBLE) AS dq
        |      FROM c),
        |m AS (SELECT vec_id, CAST(sum(code) AS BIGINT) AS code_sum,
        |        list_reduce(list((val - dq) * (val - dq) ORDER BY dim),
        |          (a, b) -> a + b) AS sse
        |      FROM d GROUP BY 1)
        |SELECT vec_id, code_sum, round(sse / CAST(64.0 AS DOUBLE), 6) AS mse
        |FROM m ORDER BY vec_id""".stripMargin)),
    // ── scale: corpus-level MinHash similarity matrix — estimated shingle
    //    Jaccard of every source pair from lane-wise min agreement, the
    //    sketch twin of q106 (oracle: DuckDB replays every lane min) ──────
    QuerySpec("q123_source_minhash", (s, dir) => {
      Dedup.sourceMinhashSimilarity(
          T(s, dir, "documents").select("source", "text"),
          "source", "text", shingleSize = 3, lanes = 64,
          hashKind = "md5_60")
        .orderBy("source_a", "source_b")
    }, bench = Some((s, dir) => {
      // q123 benches the PRODUCTION lane hash (xxhash64; md5 is the
      // oracle-replay artifact — the q26/q36/q91 convention)
      val d = T(s, dir, "documents").select("source", "text")
      () => Dedup.sourceMinhashSimilarity(d, "source", "text",
          shingleSize = 3, lanes = 64)
        .orderBy("source_a", "source_b")
    }), oracle = Some(
      s"""WITH sh AS (SELECT DISTINCT source, unnest($shingle3Sql) AS sh FROM
         |  (SELECT source, string_split_regex(trim(lower(text)), '\\s+') AS toks
         |   FROM documents)),
         |l AS (SELECT source, i AS lane, sh FROM sh
         |      CROSS JOIN (SELECT unnest(range(0, 64)) AS i)),
         |h AS (SELECT source, lane,
         |        ('0x' || substr(md5(lane::VARCHAR || ':' || sh), 1, 15))::UBIGINT
         |          AS hv
         |      FROM l),
         |m AS (SELECT source, lane, min(hv) AS mn FROM h GROUP BY 1, 2),
         |p AS (SELECT a.source AS source_a, b.source AS source_b,
         |        sum(CASE WHEN a.mn = b.mn THEN 1 ELSE 0 END) AS lane_matches
         |      FROM m a JOIN m b ON a.lane = b.lane AND a.source < b.source
         |      GROUP BY 1, 2)
         |SELECT source_a, source_b, CAST(lane_matches AS BIGINT) AS lane_matches,
         |  round(CAST(lane_matches AS DOUBLE) / 64, 6) AS est_jaccard
         |FROM p ORDER BY source_a, source_b""".stripMargin)),
    // ── scale: novelty scoring vs a reference corpus — fraction of each
    //    doc's shingles unseen in the reference, decontaminate's scoring
    //    twin (oracle: DuckDB replays shingles and the overlap ratio) ─────
    QuerySpec("q120_novelty", (s, dir) => {
      val d = T(s, dir, "documents")
      Dedup.noveltyScore(d.select("doc_id", "text"), "doc_id", "text",
          d.filter(col("source") === "src0").select("text"), "text", ngram = 3)
        .orderBy("doc_id")
    }, oracle = Some(
      s"""WITH ref AS (SELECT DISTINCT unnest($shingle3Sql) AS rsh FROM
         |  (SELECT string_split_regex(trim(lower(text)), '\\s+') AS toks
         |   FROM documents WHERE source = 'src0')),
         |ds AS (SELECT doc_id, unnest($shingle3Sql) AS sh FROM
         |  (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
         |   FROM documents)),
         |agg AS (SELECT ds.doc_id, count(*) AS n_shingles,
         |          count(ref.rsh) AS n_known
         |        FROM ds LEFT JOIN ref ON ds.sh = ref.rsh GROUP BY 1)
         |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
         |  CAST(n_known AS BIGINT) AS n_known,
         |  round(1.0 - CAST(n_known AS DOUBLE) / n_shingles, 6) AS novelty
         |FROM agg ORDER BY doc_id""".stripMargin)),
    // ── scale: cross-source contamination matrix — which sources share
    //    near-duplicate content (q25's pair machinery + source rollup;
    //    oracle: brute-force true pairs joined to sources) ───────────────
    QuerySpec("q88_cross_source_dups", (s, dir) => {
      val pairs = Dedup.minhashNearDupPairs(lshInputQ25(s, dir), "doc_id",
        "text", shingleSize = 3, bands = 16, rowsPerBand = 2, threshold = 0.55)
      // planted ids (+100000) inherit their original doc's source
      val src = T(s, dir, "documents")
        .select(col("doc_id").as("__key"), col("source"))
      def side(out: String) =
        Ops.broadcastIfSmall(src.select(col("__key"), col("source").as(out)))
      pairs
        .join(side("src_a"), col("id_a") % 100000 === col("__key"))
        .drop("__key")
        .join(side("src_b"), col("id_b") % 100000 === col("__key"))
        .drop("__key")
        .groupBy(least(col("src_a"), col("src_b")).as("source_a"),
          greatest(col("src_a"), col("src_b")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    }, oracle = Some(
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
         |  FROM documents WHERE doc_id % 10 = 0),
         |t AS (
         |  SELECT doc_id, $shingle3Sql AS sh
         |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM u)),
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    len(list_intersect(a.sh, b.sh)) * 1.0 /
         |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id),
         |q AS (SELECT id_a, id_b FROM p WHERE j >= 0.55),
         |s AS (SELECT doc_id, source FROM documents)
         |SELECT least(sa.source, sb.source) AS source_a,
         |  greatest(sa.source, sb.source) AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM q
         |JOIN s sa ON q.id_a % 100000 = sa.doc_id
         |JOIN s sb ON q.id_b % 100000 = sb.doc_id
         |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin)),
    // ── LSH recall-margin probe (data-quality gate for q25/q41/q46): the
    //    oracles verify at jaccard ≥ 0.55, a MARGIN above the 16×2
    //    banding's 0.5 S-curve midpoint. This query recomputes, brute
    //    force, every true pair of each gated input and (a) REQUIREs the
    //    aggregate band-miss mass of oracle pairs stays negligible,
    //    (b) emits the per-probe stats as a gated row — so a testdata
    //    regen that grows pairs near the midpoint fails loudly here
    //    instead of surfacing as an unexplained q25/q41/q46 mismatch. ────
    // q53 is a verify-time data-quality probe that deliberately
    // brute-forces ALL O(n²) doc pairs (that's what the banding it guards
    // exists to avoid) — it is not an operator and must not enter the bench.
    QuerySpec("q53_lsh_margin", (s, dir) => {
      import s.implicits._
      val probes = Seq(
        "q25" -> lshInputQ25(s, dir),
        "q41" -> lshInputQ41(s, dir),
        "q46" -> lshInputQ46(s, dir),
        // q74 verifies (incoming × history) pairs only; margin over the
        // combined frame upper-bounds the miss mass of that subset
        "q74" -> { val (h, i) = ndixInputs(s, dir); h.unionByName(i) })
      val rows = probes.map { case (p, in) =>
        val r = Dedup.lshMarginStats(in, "doc_id", "text", shingleSize = 3,
          bands = 16, rowsPerBand = 2, threshold = 0.55, hazardFloor = 0.5).first()
        val misses = if (r.isNullAt(3)) 0.0 else r.getDouble(3)
        System.err.println(f"[verify] lsh-margin $p: oracle_pairs=${r.getLong(0)} " +
          f"hazard_pairs=${r.getLong(1)} min_jaccard=${r.get(2)} " +
          f"expected_band_misses=$misses%.3e")
        require(r.getLong(0) > 0, s"LSH margin probe $p found no true pairs — gated input is broken")
        require(misses <= 0.05,
          f"LSH margin violated for $p: expected band misses $misses%.4f > 0.05 — " +
            "testdata pairs hug the 0.5 banding midpoint; the q25/q41/q46/q74 LSH gates are no longer reliable")
        (p, r.getLong(0), r.getLong(1), r.getDouble(2))
      }
      rows.toDF("probe", "oracle_pairs", "hazard_pairs", "min_jaccard")
        .orderBy("probe")
    }, benched = false, oracle = Some(
      s"""WITH docs AS (SELECT doc_id, text FROM documents),
         |u25 AS (
         |  SELECT doc_id, text FROM docs
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
         |  FROM docs WHERE doc_id % 10 = 0),
         |u41 AS (
         |  SELECT doc_id, text FROM docs
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text FROM docs WHERE doc_id % 7 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id, text || ' tail tokens appended' AS text
         |  FROM docs WHERE doc_id % 11 = 0),
         |u46 AS (
         |  SELECT doc_id, text FROM docs
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
         |  FROM docs WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id, text || ' extra token and more extra' AS text
         |  FROM docs WHERE doc_id % 10 = 0),
         |u74 AS (
         |  SELECT doc_id, text FROM docs
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text FROM docs WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id, text || ' extra token' AS text
         |  FROM docs WHERE doc_id % 10 = 6),
         |t25 AS (SELECT doc_id, $shingle3Sql AS sh
         |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM u25)),
         |t41 AS (SELECT doc_id, $shingle3Sql AS sh
         |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM u41)),
         |t46 AS (SELECT doc_id, $shingle3Sql AS sh
         |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM u46)),
         |t74 AS (SELECT doc_id, $shingle3Sql AS sh
         |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM u74)),
         |p25 AS (SELECT len(list_intersect(a.sh, b.sh)) * 1.0 /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
         |  FROM t25 a JOIN t25 b ON a.doc_id < b.doc_id),
         |p41 AS (SELECT len(list_intersect(a.sh, b.sh)) * 1.0 /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
         |  FROM t41 a JOIN t41 b ON a.doc_id < b.doc_id),
         |p46 AS (SELECT len(list_intersect(a.sh, b.sh)) * 1.0 /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
         |  FROM t46 a JOIN t46 b ON a.doc_id < b.doc_id),
         |p74 AS (SELECT len(list_intersect(a.sh, b.sh)) * 1.0 /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS j
         |  FROM t74 a JOIN t74 b ON a.doc_id < b.doc_id)
         |SELECT 'q25' AS probe,
         |  count(*) FILTER (WHERE j >= 0.55) AS oracle_pairs,
         |  count(*) FILTER (WHERE j >= 0.5 AND j < 0.55) AS hazard_pairs,
         |  round(min(j) FILTER (WHERE j >= 0.55), 4) AS min_jaccard FROM p25
         |UNION ALL
         |SELECT 'q41' AS probe,
         |  count(*) FILTER (WHERE j >= 0.55) AS oracle_pairs,
         |  count(*) FILTER (WHERE j >= 0.5 AND j < 0.55) AS hazard_pairs,
         |  round(min(j) FILTER (WHERE j >= 0.55), 4) AS min_jaccard FROM p41
         |UNION ALL
         |SELECT 'q46' AS probe,
         |  count(*) FILTER (WHERE j >= 0.55) AS oracle_pairs,
         |  count(*) FILTER (WHERE j >= 0.5 AND j < 0.55) AS hazard_pairs,
         |  round(min(j) FILTER (WHERE j >= 0.55), 4) AS min_jaccard FROM p46
         |UNION ALL
         |SELECT 'q74' AS probe,
         |  count(*) FILTER (WHERE j >= 0.55) AS oracle_pairs,
         |  count(*) FILTER (WHERE j >= 0.5 AND j < 0.55) AS hazard_pairs,
         |  round(min(j) FILTER (WHERE j >= 0.55), 4) AS min_jaccard FROM p74
         |ORDER BY probe""".stripMargin)))

  /** q269/q270's two dirty feeds: system A = customer attributes verbatim;
    * system B = the same entities with deterministic md5-driven dirt (a
    * char deleted from 1/3 of names and 1/5 of phones at an md5-chosen
    * position, 1/7 of addresses truncated) and 1/11 of rows absent.
    * id = 2·custkey + side, so cross-system pairs are id-parity pairs.
    * Every edit is substr-concat arithmetic the oracle replays verbatim. */
  private def linkageEntities(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Column
    val c = T(s, dir, "customer")
    val k = col("c_custkey")
    def h(salt: String): Column =
      Dedup.md5Hash60(concat(k.cast("string"), lit(salt)))
    // the testdata customer table carries no phone/address — synthesize a
    // deterministic phone-shaped attribute from md5 hex (both engines
    // construct it identically; the DIRT machinery is what's under test)
    val phHex = md5(concat(k.cast("string"), lit("ph")))
    val phone = concat_ws("-", substring(phHex, 1, 4),
      substring(phHex, 5, 4), substring(phHex, 9, 4))
    val cents = round(col("c_acctbal") * lit(100.0)).cast("long")
    val pn = (pmod(h("n"), (length(col("c_name")) - lit(3)).cast("long")) +
      lit(3L)).cast("int")
    val dirtyName = when(pmod(k, lit(3)) === 0,
      concat(col("c_name").substr(lit(1), pn - 1),
        col("c_name").substr(pn + 1, lit(200))))
      .otherwise(col("c_name"))
    val pp = (pmod(h("p"), lit(8L)) + lit(1L)).cast("int")
    val dirtyPhone = when(pmod(k, lit(5)) === 0,
      concat(phone.substr(lit(1), pp - 1), phone.substr(pp + 1, lit(200))))
      .otherwise(phone)
    val dirtyBal = when(pmod(k, lit(7)) === 0, cents + 1L).otherwise(cents)
    val a = c.select((k * 2).cast("long").as("id"), k.as("ckey"),
      col("c_name").as("name"), phone.as("phone"), cents.as("bal"),
      col("c_mktsegment").as("seg"))
    val b = c.filter(pmod(k, lit(11)) =!= 0)
      .select((k * 2 + 1).cast("long").as("id"), k.as("ckey"),
        dirtyName.as("name"), dirtyPhone.as("phone"), dirtyBal.as("bal"),
        col("c_mktsegment").as("seg"))
    a.unionAll(b)
  }

  /** Two blocking passes: name suffix (breaks when the name was dirtied —
    * the deletion shifts the suffix) and phone country-code prefix (breaks
    * when the phone deletion landed in the first 3 chars) — deliberately
    * imperfect so the q270 completeness numbers are non-trivial. */
  private def linkageBlockKeys(): Seq[org.apache.spark.sql.Column] = Seq(
    expr("substring(name, length(name) - 5, 6)"),
    substring(col("phone"), 1, 3))

  /** Fellegi–Sunter field weights (micro-scaled log2 m/u literals, shared
    * verbatim with the oracle SQL — the q139/q211 convention). */
  private val linkageFields: Seq[Linkage.FieldSpec] = Seq(
    Linkage.FieldSpec("name", "name", Some(0.85),
      Linkage.fsWeightMicro(0.70, 0.0005), Linkage.fsWeightMicro(0.28, 0.002),
      Linkage.fsWeightMicro(0.02, 0.9975)),
    Linkage.FieldSpec("phone", "phone", Some(0.80),
      Linkage.fsWeightMicro(0.78, 0.0002), Linkage.fsWeightMicro(0.20, 0.001),
      Linkage.fsWeightMicro(0.02, 0.9988)),
    Linkage.FieldSpec("bal", "bal", None,
      Linkage.fsWeightMicro(0.86, 0.00002), 0L,
      Linkage.fsWeightMicro(0.14, 0.99998)),
    Linkage.FieldSpec("seg", "seg", None,
      Linkage.fsWeightMicro(0.98, 0.2), 0L, Linkage.fsWeightMicro(0.02, 0.8)))

  /** q297/q302's oriented cross-system scored candidates: blocked pairs
    * across the id-parity systems, id_a = system A (even ids), id_b =
    * system B (odd ids), Fellegi–Sunter scored. */
  private def crossSystemScored(s: SparkSession, dir: String): DataFrame = {
    val ents = linkageEntities(s, dir)
    val raw = Linkage.blockedPairs(ents, "id", linkageBlockKeys(), 4096)
      .filter(pmod(col("id_a"), lit(2L)) =!= pmod(col("id_b"), lit(2L)))
    val oriented = raw.select(
      when(pmod(col("id_a"), lit(2L)) === 0, col("id_a"))
        .otherwise(col("id_b")).as("id_a"),
      when(pmod(col("id_a"), lit(2L)) === 0, col("id_b"))
        .otherwise(col("id_a")).as("id_b"))
    Linkage.matchScores(ents, "id", oriented, linkageFields)
      .select("id_a", "id_b", "score_micro")
  }

  /** The q273 resolution: accepted matches (≥ 10 bits) → connected
    * components → (id, cluster_id) for every entity — shared by the q273
    * gate and the q290 pairwise-quality evaluation. */
  private def erResolvedClusters(s: SparkSession, dir: String): DataFrame = {
    val ents = linkageEntities(s, dir)
    val pairs = Linkage.blockedPairs(ents, "id", linkageBlockKeys(), 4096)
      .filter(pmod(col("id_a"), lit(2L)) =!= pmod(col("id_b"), lit(2L)))
    val matches = Linkage.matchScores(ents, "id", pairs, linkageFields)
      .filter(col("score_micro") >= 10000000L)
      .select("id_a", "id_b")
    val cc = Dedup.connectedComponents(matches)
    ents.select(col("id")).join(cc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("cluster_id"))
  }

  /** Shared oracle CTEs for q269/q270: the dirty-feed construction, both
    * blocking passes, and the deduplicated pair union — replaying
    * [[linkageEntities]] / [[linkageBlockKeys]] verbatim (md5-60 position
    * hashes, substr-concat deletions, id = 2k + side). */
  private def linkageCtes: String =
    """c0 AS (SELECT c_custkey AS k, c_name, c_mktsegment,
      |    CAST(round(c_acctbal * 100.0) AS BIGINT) AS cents,
      |    md5(c_custkey::VARCHAR || 'ph') AS phhex FROM customer),
      |c AS (SELECT k, c_name, c_mktsegment, cents,
      |    substr(phhex, 1, 4) || '-' || substr(phhex, 5, 4) || '-' ||
      |      substr(phhex, 9, 4) AS ph FROM c0),
      |d AS (SELECT k,
      |    CAST(('0x' || substr(md5(k::VARCHAR || 'n'), 1, 15)) AS BIGINT)
      |      % (length(c_name) - 3) + 3 AS pn,
      |    CAST(('0x' || substr(md5(k::VARCHAR || 'p'), 1, 15)) AS BIGINT)
      |      % 8 + 1 AS pp,
      |    c_name, c_mktsegment, cents, ph FROM c),
      |u AS (
      |  SELECT k * 2 AS id, k AS ckey, c_name AS name, ph AS phone,
      |    cents AS bal, c_mktsegment AS seg FROM c
      |  UNION ALL
      |  SELECT k * 2 + 1, k,
      |    CASE WHEN k % 3 = 0
      |      THEN substr(c_name, 1, CAST(pn - 1 AS INT)) ||
      |        substr(c_name, CAST(pn + 1 AS INT), 200)
      |      ELSE c_name END,
      |    CASE WHEN k % 5 = 0
      |      THEN substr(ph, 1, CAST(pp - 1 AS INT)) ||
      |        substr(ph, CAST(pp + 1 AS INT), 200)
      |      ELSE ph END,
      |    CASE WHEN k % 7 = 0 THEN cents + 1 ELSE cents END,
      |    c_mktsegment
      |  FROM d WHERE k % 11 <> 0),
      |bk AS (
      |  SELECT 0 AS pass, substr(name, length(name) - 5, 6) AS bkey, id
      |  FROM u
      |  UNION ALL SELECT 1, substr(phone, 1, 3), id FROM u),
      |pairs AS (
      |  SELECT DISTINCT least(x.id, y.id) AS id_a,
      |    greatest(x.id, y.id) AS id_b
      |  FROM bk x JOIN bk y
      |    ON x.pass = y.pass AND x.bkey = y.bkey AND x.id < y.id)""".stripMargin

  /** [[linkageCtes]] extended through the Fellegi–Sunter scoring of every
    * cross-system candidate pair (`sc`: a_ckey, b_ckey, score_micro) —
    * shared by the q269 histogram and q277 operating-curve oracles. */
  private def linkageScoredCtes: String = {
    def fuzzy(f: Linkage.FieldSpec): String =
      s"""CASE WHEN a_${f.column} = b_${f.column} THEN ${f.wExactMicro}
         |      WHEN jaro_winkler_similarity(a_${f.column}, b_${f.column})
         |        >= ${f.fuzzyThreshold.get} THEN ${f.wFuzzyMicro}
         |      ELSE ${f.wDisagreeMicro} END""".stripMargin
    val Seq(fName, fPhone, fBal, fSeg) = linkageFields
    s"""$linkageCtes,
       |j AS (SELECT p.id_a, p.id_b, ua.ckey AS a_ckey, ub.ckey AS b_ckey,
       |    ua.name AS a_name, ub.name AS b_name, ua.bal AS a_bal,
       |    ub.bal AS b_bal, ua.phone AS a_phone, ub.phone AS b_phone,
       |    ua.seg AS a_seg, ub.seg AS b_seg
       |  FROM pairs p JOIN u ua ON ua.id = p.id_a JOIN u ub ON ub.id = p.id_b
       |  WHERE p.id_a % 2 <> p.id_b % 2),
       |sc AS (SELECT a_ckey, b_ckey,
       |    (${fuzzy(fName)}
       |     + ${fuzzy(fPhone)}
       |     + CASE WHEN a_bal = b_bal THEN ${fBal.wExactMicro}
       |         ELSE ${fBal.wDisagreeMicro} END
       |     + CASE WHEN a_seg = b_seg THEN ${fSeg.wExactMicro}
       |         ELSE ${fSeg.wDisagreeMicro} END) AS score_micro
       |  FROM j)""".stripMargin
  }

  /** q58/q59 input: every 5th doc gets the same 12-token boilerplate
    * prefix — deterministic cross-doc duplicated spans for substring-level
    * dedup (natural cross-doc 8-grams in the corpus flag too; the oracle
    * replays the identical computation). */
  private val boilerplate =
    "terms of service apply to all content herein and usage governed accordingly"

  private def plantedBoilerplate(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 5 === 0, concat(lit(boilerplate + " "), col("text")))
        .otherwise(col("text")).as("text"))

  /** q68/q69 input: every 4th doc gets a shared header line, every
    * (7k+2)th a shared footer line — deterministic cross-doc duplicated
    * LINES for the line-dedup tier (any natural cross-doc duplicate
    * lines in the corpus flag too; the oracle replays identically). */
  private def plantedLines(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 4 === 0,
        concat(lit("subscribe to our newsletter for updates\n"), col("text")))
        .when(col("doc_id") % 7 === 2,
          concat(col("text"), lit("\nall rights reserved worldwide")))
        .otherwise(col("text")).as("text"))

  /** Inputs of the three LSH-verified dedup queries, shared between the
    * query definitions and the q53 recall-margin probe so the probe can
    * never drift from what the gated queries actually run on. */
  private def lshInputQ25(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents").select("doc_id", "text")
    val mutated = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" extra token")).as("text"))
    d.unionByName(mutated)
  }

  private def lshInputQ41(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents").select("doc_id", "text")
    val exactDup = d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val nearDup = d.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" tail tokens appended")).as("text"))
    d.unionByName(exactDup).unionByName(nearDup)
  }

  /** q74's (history, incoming): history = even docs; incoming = exact
    * re-crawls of %10==0, near-dup mutations of %10==6 (both history
    * members), and the odd docs as genuinely-novel arrivals. The q25-style
    * mutation keeps the pairs far above the 16×2 banding midpoint (the
    * combined frame is margin-probed in q53). */
  private def ndixInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = T(s, dir, "documents").select("doc_id", "text")
    val history = d.filter(col("doc_id") % 2 === 0)
    val incoming = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      .unionByName(d.filter(col("doc_id") % 10 === 6)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" extra token")).as("text")))
      .unionByName(d.filter(col("doc_id") % 2 === 1))
    (history, incoming)
  }

  /** The q72/q191 IVF-kNN replay prefix: seed selection by hash rank, one
    * Lloyd refinement round, final assignment, within-cell cosine pairs,
    * per-query ranks — ends at CTE `r` (query_id, neighbor_id, rank), so
    * consumers append either a rank cut (q72) or label aggregation
    * (q191). k-independent: the rank cut happens in the consumer. */
  private lazy val ivfKnnOracleCtes: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |seeds AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
       |  FROM (SELECT vec_id, v FROM e
       |        QUALIFY row_number()
       |          OVER (ORDER BY ${h60Sql("vec_id::VARCHAR")}, vec_id) <= 16)),
       |a0 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, seeds.cid, row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_dot_product(e.v, seeds.cvec) /
       |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(seeds.cvec, seeds.cvec)))
       |        DESC, seeds.cid) AS rn
       |    FROM e, seeds) WHERE rn = 1),
       |m AS (
       |  SELECT a0.cid, t.i, CAST(avg(e.v[t.i]) AS FLOAT) AS mv
       |  FROM a0 JOIN e USING (vec_id), range(1, 65) AS t(i) GROUP BY a0.cid, t.i),
       |cents AS (SELECT cid, CAST(list(mv ORDER BY i) AS DOUBLE[]) AS cvec FROM m GROUP BY cid),
       |a2 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, cents.cid, row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_dot_product(e.v, cents.cvec) /
       |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cents.cvec, cents.cvec)))
       |        DESC, cents.cid) AS rn
       |    FROM e, cents) WHERE rn = 1),
       |p AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    list_dot_product(ea.v, eb.v) /
       |      (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cos
       |  FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id <> b.vec_id
       |  JOIN e ea ON ea.vec_id = a.vec_id
       |  JOIN e eb ON eb.vec_id = b.vec_id),
       |r AS (SELECT query_id, neighbor_id,
       |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |      FROM p)""".stripMargin

  /** The 64 per-bit majority votes of simhash as one SQL sum. Only bits
    * 0-59 can be set with the 60-bit portable hash (both engines agree the
    * top 4 bits are 0), so 60 terms suffice. */
  private def simhashBitsSql: String =
    (0 until 60).map(i =>
      s"CASE WHEN sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) > 0 " +
        s"THEN ${1L << i} ELSE 0 END").mkString(" + ")

  /** Sign-LSH signature over the same seeded hyperplanes as
    * Similarity.signSignature(planes = 8, dim = 64, seed = 42), inlined as
    * double literals (Double.toString round-trips exactly through DuckDB's
    * strtod, and list_dot_product accumulates forward in double like the
    * native VectorDot — the sign compare is bit-identical). */
  private def lshSigSql: String = {
    val planes = graft.operators.Similarity.hyperplanes(8, 64)
    planes.zipWithIndex.map { case (w, p) =>
      val lit = "[" + w.map(_.toString).mkString(", ") + "]::DOUBLE[]"
      s"(CASE WHEN list_dot_product(v, $lit) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** Multi-probe buckets: the signature XOR each single bit. */
  private def lshProbeXorsSql: String =
    (0 until 8).map(p => s"xor(sig, ${1L << p})").mkString(", ")
}
