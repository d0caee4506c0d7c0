package graft
package queries

import graft.operators._
import org.apache.spark.sql.functions._
import Shared._

/** Query specs of the Text tier: text and model-data operators: tokenizers,
  * quality and language scoring, multimodal decode, ranking, retrieval
  * evaluation and training. */
private[graft] object TextQueries {
  def specs: Seq[QuerySpec] = Seq(
    // ── scale: token counting ────────────────────────────────────────
    QuerySpec("q21_token_stats", (s, dir) => {
      T(s, dir, "documents").select(col("doc_id"),
          length(col("text")).as("chars"),
          TextAnalysis.tokenCount(col("text")).as("tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).as("bpeish_tokens"))
        .orderBy("doc_id")
    }, oracle = Some(
      """SELECT doc_id, length(text) AS chars,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
        |    AS bpeish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // ── scale: quality scoring ───────────────────────────────────────
    QuerySpec("q22_quality_score", (s, dir) => {
      T(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }, oracle = Some(
      """SELECT doc_id, round(
        |  least(length(text) / 500.0, 1.0) * 0.25 +
        |  (CASE WHEN length(text) > 0 THEN
        |     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text)
        |   ELSE 0.0 END) * 0.25 +
        |  (1.0 - least((CASE WHEN length(text) > 0 THEN
        |     length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text)
        |   ELSE 0.0 END) * 10.0, 1.0)) * 0.25 +
        |  least((CASE WHEN len(string_split_regex(trim(text), '\s+')) > 0 THEN
        |     len(regexp_extract_all(text, '(?i)\b(the|and|of|to|a|in|is|it)\b')) * 1.0
        |       / len(string_split_regex(trim(text), '\s+'))
        |   ELSE 0.0 END) * 4.0, 1.0) * 0.25, 6) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // ── scale: language id ───────────────────────────────────────────
    QuerySpec("q23_lang_id", (s, dir) => {
      T(s, dir, "documents").select(col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }, oracle = Some({
      val langs = TextAnalysis.markerLexicon.keys.toSeq.sorted
      val scores = langs.map { l =>
        val pat = "(?i)\\b(" + TextAnalysis.markerLexicon(l).mkString("|") + ")\\b"
        s"len(regexp_extract_all(text, '$pat')) AS s_$l"
      }.mkString(", ")
      val greatest = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val caseChain = langs.map(l => s"WHEN s_$l = $greatest THEN '$l'")
        .mkString("CASE ", " ", " END")
      s"""WITH scored AS (SELECT doc_id, lang, $scores FROM documents)
         |SELECT doc_id, lang, $caseChain AS lang_pred
         |FROM scored ORDER BY doc_id""".stripMargin
    })),
    // ── scale: document fingerprint ──────────────────────────────────
    QuerySpec("q24_fingerprint", (s, dir) => {
      T(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }, oracle = Some(
      """SELECT doc_id, md5(regexp_replace(trim(
        |  regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g')),
        |  '\s+', ' ', 'g')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // ── scale: winnowed k-gram fingerprints (oracle: DuckDB recomputes
    //    the winnow over the portable md5-prefix k-gram hashes) ────────
    QuerySpec("q43_winnowed_fingerprints", (s, dir) => {
      // fused winnow pass with the portable md5 hash — same fingerprints
      // the DuckDB oracle replays (HOF-chain parity is spec-asserted)
      T(s, dir, "documents")
        .select(col("doc_id"), Dedup.tokensCol(col("text")).as("__toks"))
        .select(col("doc_id"),
          size(TextAnalysis.winnowedHashes(col("__toks"), 5, 4, "md5_60"))
            .as("n_fingerprints"))
        .orderBy("doc_id")
    }, oracle = Some(
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, CASE WHEN len(toks) >= 5
         |    THEN list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' '))
         |    ELSE [array_to_string(toks, ' ')] END AS grams FROM t),
         |h AS (SELECT doc_id, list_transform(grams, x -> ${h60Sql("x")}::BIGINT) AS hs FROM g)
         |SELECT doc_id, len(list_distinct(list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
         |  j -> list_min(hs[j:j+3])))) AS n_fingerprints
         |FROM h ORDER BY doc_id""".stripMargin)),
    // ── scale: PII redaction (oracle: the same Java∩RE2 regex chain
    //    replayed with DuckDB regexp_replace 'g') ───────────────────────
    QuerySpec("q48_pii_redact", (s, dir) => {
      // plant deterministic PII on every 5th doc so the chain has real work
      val planted = T(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com at 10.0."), col("doc_id") % 256, lit(".1")))
          .otherwise(col("text")).as("text"))
      // fused pass: redaction + counts from ONE Matcher chain (the
      // separate redactPii/piiCounts selections ran the chain twice)
      planted.withColumn("__pii", TextAnalysis.piiRedactWithCounts(col("text")))
        .select(col("doc_id"),
          col("__pii.redacted").as("redacted"),
          col("__pii.email").as("n_email"), col("__pii.ipv4").as("n_ip"))
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN text || ' contact user' || doc_id || '@example.com at 10.0.'
        |        || (doc_id % 256) || '.1'
        |      ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |    '\+?\d[\d().\s-]{6,}\d', '<PHONE>', 'g') AS redacted,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g'),
        |    '\b(\d{1,3}\.){3}\d{1,3}\b')) AS n_ip
        |FROM planted ORDER BY doc_id""".stripMargin)),
    // ── scale: multimodal decode + feature plumbing (oracle: the stub
    //    codec arithmetic — md5-derived payload bytes — replayed in SQL) ─
    QuerySpec("q37_multimodal", (s, dir) => {
      val media = Multimodal.synthesize(
        T(s, dir, "part").filter(col("p_partkey") <= 100), "p_partkey")
      val decoded = Multimodal.decodeAndFeaturize(media)
      decoded.select(col("media_id"), col("decoded_meta.mime").as("mime"),
          col("decoded_meta.width").as("width"), col("decoded_meta.height").as("height"),
          size(col("features")).as("feat_dim"))
        .orderBy("media_id")
    }, oracle = Some(
      """SELECT CAST(p_partkey AS BIGINT) AS media_id,
        |  CASE ('0x' || substr(md5(p_partkey::VARCHAR), 1, 2))::INTEGER % 4
        |    WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/png'
        |    WHEN 2 THEN 'audio/wav' ELSE 'video/mp4' END AS mime,
        |  64 + ('0x' || substr(md5(p_partkey::VARCHAR), 1, 8))::UBIGINT % 1024 AS width,
        |  64 + ('0x' || substr(md5(p_partkey::VARCHAR), 9, 8))::UBIGINT % 1024 AS height,
        |  16 AS feat_dim
        |FROM part WHERE p_partkey <= 100 ORDER BY media_id""".stripMargin)),
    // ── scale: sequence packing (concat offsets + context-window ids;
    //    oracle: DuckDB window cumsum replay — shares the family-wide
    //    tokenization convention that RE2's \s excludes U+000B, latent
    //    only because testdata carries no vertical tabs, same as q21) ────
    QuerySpec("q56_pack_sequences", (s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("tok_len"),
        pmod(col("doc_id"), lit(8)).as("stratum"))
      Analytics.packSequences(d, "doc_id", "tok_len", capacity = 2048,
          strataCol = "stratum")
        .select(col("doc_id"), col("stratum"), col("offset"), col("pack_id"))
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS tok_len,
        |    doc_id % 8 AS stratum
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, stratum, tok_len,
        |    CAST(sum(tok_len) OVER (PARTITION BY stratum ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - tok_len AS BIGINT) AS "offset"
        |  FROM d)
        |SELECT doc_id, stratum, "offset", "offset" // 2048 AS pack_id
        |FROM o ORDER BY doc_id""".stripMargin)),
    // ── scale: Gopher-style repetition quality signals (oracle: DuckDB
    //    replays the line/2-gram/adjacent-repeat fractions) ──────────────
    QuerySpec("q55_repetition_stats", (s, dir) => {
      // plant repetition on every 4th doc: a duplicated line + a stutter
      val planted = T(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(col("text"), lit("\n"), col("text"), lit("\nagain again again")))
          .otherwise(col("text")).as("text"))
      planted
        .select(col("doc_id"), TextAnalysis.repetitionStats(col("text")).as("r"))
        .select(col("doc_id"),
          col("r.dup_line_frac").as("dup_line_frac"),
          col("r.dup_2gram_frac").as("dup_2gram_frac"),
          col("r.adj_repeat_frac").as("adj_repeat_frac"))
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH planted AS (
        |  SELECT doc_id, CASE WHEN doc_id % 4 = 0
        |    THEN text || chr(10) || text || chr(10) || 'again again again'
        |    ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, string_split(text, chr(10)) AS lines,
        |  string_split_regex(trim(lower(text)), '\s+') AS toks FROM planted),
        |g AS (SELECT doc_id, lines, toks,
        |  CASE WHEN len(toks) >= 2
        |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
        |    ELSE [array_to_string(toks, ' ')] END AS grams FROM t)
        |SELECT doc_id,
        |  round((len(lines) - len(list_distinct(lines))) * 1.0 / len(lines), 6)
        |    AS dup_line_frac,
        |  CASE WHEN len(toks) >= 2 THEN
        |    round((len(grams) - len(list_distinct(grams))) * 1.0 / len(grams), 6)
        |  ELSE 0.0 END AS dup_2gram_frac,
        |  CASE WHEN len(toks) >= 2 THEN
        |    round(len(list_filter(range(1, len(toks)), i -> toks[i] = toks[i+1]))
        |      * 1.0 / (len(toks) - 1), 6)
        |  ELSE 0.0 END AS adj_repeat_frac
        |FROM g ORDER BY doc_id""".stripMargin)),
    // ── scale: REAL image decode via the JDK's javax.imageio (oracle:
    //    the synthesized PNGs' dims/fill arithmetic — values pass only if
    //    PNG encode → magic sniff → header probe → pixel decode → bilinear
    //    resize → re-probe all round-trip through the real codec) ────────
    QuerySpec("q57_image_decode", (s, dir) => {
      val media = Multimodal.synthesizeImages(
        T(s, dir, "part").filter(col("p_partkey") <= 150), "p_partkey")
      val decoded = Multimodal.decodeMeta(media, codec = Multimodal.ImageCodec)
        .select(col("media_id"), col("payload"),
          col("decoded_meta.mime").as("mime"),
          col("decoded_meta.width").cast("long").as("width"),
          col("decoded_meta.height").cast("long").as("height"))
      val resized = Multimodal.resize(decoded, 24, 18, codec = Multimodal.ImageCodec)
      val reprobed = Multimodal.decodeMeta(resized, codec = Multimodal.ImageCodec)
      val feat = Multimodal.extractFeatures(reprobed, codec = Multimodal.ImageCodec)
      feat.select(col("media_id"), col("mime"), col("width"), col("height"),
          col("decoded_meta.width").cast("long").as("r_width"),
          col("decoded_meta.height").cast("long").as("r_height"),
          round(element_at(col("features"), 1) * 255).cast("long").as("avg_r"),
          round(element_at(col("features"), 2) * 255).cast("long").as("avg_g"),
          round(element_at(col("features"), 3) * 255).cast("long").as("avg_b"))
        .orderBy("media_id")
    }, oracle = Some(
      """SELECT CAST(p_partkey AS BIGINT) AS media_id, 'image/png' AS mime,
        |  CAST(16 + p_partkey % 48 AS BIGINT) AS width,
        |  CAST(16 + (p_partkey // 7) % 40 AS BIGINT) AS height,
        |  CAST(24 AS BIGINT) AS r_width, CAST(18 AS BIGINT) AS r_height,
        |  CAST((p_partkey * 37) % 256 AS BIGINT) AS avg_r,
        |  CAST((p_partkey * 59) % 256 AS BIGINT) AS avg_g,
        |  CAST((p_partkey * 83) % 256 AS BIGINT) AS avg_b
        |FROM part WHERE p_partkey <= 150 ORDER BY media_id""".stripMargin)),
    // ── scale: REAL BPE token counts — greedy min-rank merge loop over a
    //    learned merge list (oracle: DuckDB recursive CTE replays the
    //    merge rounds symbol-by-symbol) ────────────────────────────────────
    QuerySpec("q60_bpe_tokens", (s, dir) => {
      val d = T(s, dir, "documents").select("doc_id", "text")
      d.select(col("doc_id"),
          TextAnalysis.bpeTokenCount(col("text"), bpeMerges).as("bpe_tokens"))
        .orderBy("doc_id")
    }, oracle = Some(
      s"""WITH RECURSIVE
         |w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
         |      FROM documents),
         |w0 AS (SELECT doc_id, unnest(toks) AS word FROM w),
         |init AS (SELECT doc_id,
         |  list_transform(range(1, len(word) + 1), i -> word[i:i]) AS syms FROM w0),
         |bpe AS (
         |  SELECT doc_id, syms FROM init
         |  UNION ALL
         |  SELECT doc_id,
         |    list_filter(list_transform(range(1, len(syms) + 1), i ->
         |      CASE WHEN i < len(syms) AND ranks[i] IS NOT NULL AND ranks[i] = best
         |             THEN syms[i] || syms[i+1]
         |           WHEN i > 1 AND ranks[i-1] IS NOT NULL AND ranks[i-1] = best
         |             THEN NULL
         |           ELSE syms[i] END), x -> x IS NOT NULL) AS syms
         |  FROM (
         |    SELECT doc_id, syms, ranks,
         |      list_min(list_filter(ranks, r -> r IS NOT NULL)) AS best
         |    FROM (SELECT doc_id, syms,
         |            list_transform(range(1, len(syms)), i -> ${bpeRankCase("syms")}) AS ranks
         |          FROM bpe) rr) bb
         |  WHERE best IS NOT NULL)
         |SELECT doc_id, CAST(sum(n) AS BIGINT) AS bpe_tokens FROM (
         |  SELECT doc_id, len(syms) AS n,
         |    list_min(list_filter(
         |      list_transform(range(1, len(syms)), i -> ${bpeRankCase("syms")}),
         |      r -> r IS NOT NULL)) AS best
         |  FROM bpe) t
         |WHERE best IS NULL GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // ── scale: REAL audio decode via the JDK's javax.sound.sampled
    //    (oracle: synthesized PCM16 square waves — duration and RMS only
    //    match if WAV header parse + PCM decode + windowed RMS are real;
    //    amplitude/2^15 is float-exact, so no tolerance needed) ──────────
    QuerySpec("q64_audio_decode", (s, dir) => {
      val media = Multimodal.synthesizeAudio(
        T(s, dir, "part").filter(col("p_partkey") <= 150), "p_partkey")
      val dec = Multimodal.decodeMeta(media, codec = Multimodal.JdkAvCodec)
      val feat = Multimodal.extractFeatures(dec, codec = Multimodal.JdkAvCodec)
      feat.select(col("media_id"),
          col("decoded_meta.mime").as("mime"),
          col("decoded_meta.duration_ms").as("duration_ms"),
          round(element_at(col("features"), 1).cast("double"), 6).as("rms"))
        .orderBy("media_id")
    }, oracle = Some(
      """SELECT CAST(p_partkey AS BIGINT) AS media_id, 'audio/wav' AS mime,
        |  ((1000 + (p_partkey % 5) * 500) * 1000) // 8000 AS duration_ms,
        |  round((1000 + (p_partkey % 20) * 1000) / 32768.0, 6) AS rms
        |FROM part WHERE p_partkey <= 150 ORDER BY media_id""".stripMargin)),
    // ── scale: REAL video container decode — pure-JDK RIFF/AVI parse,
    //    time-based frame sampling, exact BI_RGB pixel decode (oracle:
    //    the synthesized AVIs' dims/fill arithmetic — values pass only if
    //    container parse → avih probe → movi frame walk → DIB pixel
    //    decode all round-trip through the real parser) ──────────────────
    QuerySpec("q65_video_frames", (s, dir) => {
      val media = Multimodal.synthesizeVideos(
        T(s, dir, "part").filter(col("p_partkey") <= 150), "p_partkey")
      val dec = Multimodal.decodeMeta(media, codec = Multimodal.JdkAvCodec)
      Multimodal.sampleFrameStats(dec, everyMs = 80)
        .select(col("media_id"),
          col("decoded_meta.mime").as("mime"),
          col("decoded_meta.width").cast("long").as("width"),
          col("decoded_meta.height").cast("long").as("height"),
          col("decoded_meta.duration_ms").as("duration_ms"),
          col("frame_idx").cast("long").as("frame_idx"),
          round(col("mean_r")).cast("long").as("mean_r"),
          round(col("mean_g")).cast("long").as("mean_g"),
          round(col("mean_b")).cast("long").as("mean_b"))
        .orderBy("media_id", "frame_idx")
    }, oracle = Some(
      """WITH p AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS media_id,
        |    CAST(3 + p_partkey % 5 AS BIGINT) AS n_frames,
        |    CAST(8 + (p_partkey % 5) * 4 AS BIGINT) AS width,
        |    CAST(6 + (p_partkey // 3) % 8 AS BIGINT) AS height
        |  FROM part WHERE p_partkey <= 150),
        |f AS (SELECT media_id, width, height, n_frames,
        |        CAST(unnest(range(0, n_frames, 2)) AS BIGINT) AS frame_idx
        |      FROM p)
        |SELECT media_id, 'video/x-msvideo' AS mime, width, height,
        |  CAST(n_frames * 40 AS BIGINT) AS duration_ms, frame_idx,
        |  CAST((media_id * 37 + frame_idx * 11) % 256 AS BIGINT) AS mean_r,
        |  CAST((media_id * 59 + frame_idx * 17) % 256 AS BIGINT) AS mean_g,
        |  CAST((media_id * 83 + frame_idx * 23) % 256 AS BIGINT) AS mean_b
        |FROM f ORDER BY media_id, frame_idx""".stripMargin)),
    // ── scale: bigram LM perplexity (CCNet-style quality filter) — train
    //    on the corpus, score every doc; add-one smoothing. The per-doc
    //    NLL folds position-sorted arrays so the doubles are
    //    order-deterministic (oracle: DuckDB retrains the same counts and
    //    replays the ordered list fold bit-for-bit) ─────────────────────
    QuerySpec("q66_lm_perplexity", (s, dir) => {
      val docs = T(s, dir, "documents")
      val lm = TextAnalysis.trainBigramLm(docs, "text", "doc_id")
      TextAnalysis.perplexity(docs, lm, "text", "doc_id")
        .select(col("doc_id"), col("n_bigrams"), col("avg_nll"))
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |bi0 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |    i -> {'pos': i, 'w1': t[i], 'w2': t[i+1]})) AS bg
        |  FROM toks WHERE len(t) >= 2),
        |bi AS (SELECT doc_id, bg.pos AS pos, bg.w1 AS w1, bg.w2 AS w2 FROM bi0),
        |cnt AS (SELECT w1, w2, count(*) AS cnt FROM bi GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS ctx_cnt FROM cnt GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vs
        |      FROM (SELECT unnest(t) AS tok FROM toks)),
        |sc AS (SELECT b.doc_id, b.pos,
        |    -ln((coalesce(c.cnt, 0) + 1.0) / (coalesce(x.ctx_cnt, 0) + v.vs)) AS lp
        |  FROM bi b LEFT JOIN cnt c USING (w1, w2) LEFT JOIN ctx x USING (w1)
        |  CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(list_reduce(list(lp ORDER BY pos), (a, b) -> a + b) / count(*), 6)
        |    AS avg_nll
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // ── scale: vocabulary / Zipf coverage table (tokenizer-training aid;
    //    oracle: same counts + rank/cumsum windows — integer-exact until
    //    one final double division) ─────────────────────────────────────
    QuerySpec("q67_vocab_coverage", (s, dir) => {
      TextAnalysis.vocabulary(T(s, dir, "documents"), "text", minCount = 2L)
        .orderBy("rank")
    }, oracle = Some(
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE length(trim(text)) > 0),
        |c AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
        |r AS (SELECT token, cnt,
        |        row_number() OVER (ORDER BY cnt DESC, token) AS rank,
        |        CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |        CAST(sum(cnt) OVER () AS BIGINT) AS total
        |      FROM c)
        |SELECT token, cnt, CAST(rank AS BIGINT) AS rank,
        |  round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cum_frac
        |FROM r WHERE cnt >= 2 ORDER BY rank""".stripMargin)),
    // Crawl-ingest front door: synthetic HTML (tags, script/style with
    // contents, entities, hard whitespace) wrapped around documents.text,
    // stripped back to clean text by the fused StripMarkup scan. The
    // oracle replays the stage chain with RE2 regexes + a replace chain
    // (decode &amp; last ≡ the single-pass decoder on this input).
    QuerySpec("q73_strip_markup", (s, dir) => {
      val html = concat(
        lit("<html><head><title>t</title><style type=\"text/css\">p { color: #fff; }" +
          "</style></head><body><h1>"),
        col("source"),
        lit("</h1><SCRIPT lang=\"js\">var x = 1; if (x < 2) { x = 3; }</SCRIPT>" +
          "<p class=\"main\">Tom &amp; Jerry &lt;3 &quot;"),
        col("text"),
        lit("&quot;&gt;<br/>end&nbsp;of&nbsp;doc</p></body></html>"))
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.stripMarkup(html).as("clean"))
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH h AS (SELECT doc_id,
        |  '<html><head><title>t</title><style type="text/css">p { color: #fff; }' ||
        |  '</style></head><body><h1>' || source ||
        |  '</h1><SCRIPT lang="js">var x = 1; if (x < 2) { x = 3; }</SCRIPT>' ||
        |  '<p class="main">Tom &amp; Jerry &lt;3 &quot;' || text ||
        |  '&quot;&gt;<br/>end&nbsp;of&nbsp;doc</p></body></html>' AS x
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(regexp_replace(x,
        |         '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |         '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS x FROM h),
        |s2 AS (SELECT doc_id, regexp_replace(x, '<[^>]*>', ' ', 'g') AS x FROM s1),
        |s3 AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(x,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''),
        |    '&nbsp;', ' '), '&amp;', '&') AS x FROM s2)
        |SELECT doc_id, trim(regexp_replace(x, '[\x00-\x20]+', ' ', 'g')) AS clean
        |FROM s3 ORDER BY doc_id""".stripMargin)),
    // Feature-hashed text embeddings: tokens hash to signed dimensions,
    // signed counts l2-normalize — model-free vectors for the ANN tier.
    // Exploded to (doc_id, idx, v) rows; the oracle replays the portable
    // md5-60 hash arithmetic and the float rounding exactly.
    QuerySpec("q75_hash_embed", (s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextAnalysis.hashEmbedding(col("text"), 64, portable = true)))
        .select(col("doc_id"), col("pos").as("idx"),
          round(col("col").cast("double"), 4).as("v"))
        .orderBy("doc_id", "idx")
    }, oracle = Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::UBIGINT AS h FROM toks),
        |c AS (SELECT doc_id, CAST((h // 2) % 64 AS BIGINT) AS idx,
        |        CASE WHEN h % 2 = 1 THEN 1 ELSE -1 END AS s FROM h),
        |agg AS (SELECT doc_id, idx, CAST(sum(s) AS DOUBLE) AS v
        |        FROM c GROUP BY doc_id, idx),
        |dims AS (SELECT d.doc_id, t.i AS idx
        |         FROM (SELECT DISTINCT doc_id FROM documents) d, range(0, 64) t(i)),
        |f AS (SELECT dims.doc_id, dims.idx, coalesce(agg.v, 0) AS v
        |      FROM dims LEFT JOIN agg ON dims.doc_id = agg.doc_id AND dims.idx = agg.idx),
        |n AS (SELECT doc_id, sqrt(sum(v * v)) AS norm FROM f GROUP BY doc_id)
        |SELECT f.doc_id, f.idx,
        |  round(CAST(CAST(CASE WHEN n.norm = 0 THEN 0 ELSE f.v / n.norm END
        |    AS FLOAT) AS DOUBLE), 4) AS v
        |FROM f JOIN n ON f.doc_id = n.doc_id
        |ORDER BY f.doc_id, f.idx""".stripMargin)),
    // Linear classifier scoring over hashed features (fastText-style
    // quality filter inference, shuffle-free): fixed deterministic weight
    // vector w_i = ((i*37) % 21 - 10)/10, bias 0.25; the oracle rebuilds
    // the q75 vectors and replays the dot product + sigmoid.
    QuerySpec("q76_classifier_score", (s, dir) => {
      val w = (0 until 64).map(i => ((i * 37) % 21 - 10) / 10.0)
      T(s, dir, "documents")
        .select(col("doc_id"),
          round(TextAnalysis.hashedLinearScore(col("text"), w, bias = 0.25,
            portable = true), 4).as("score"))
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::UBIGINT AS h FROM toks),
        |c AS (SELECT doc_id, CAST((h // 2) % 64 AS BIGINT) AS idx,
        |        CASE WHEN h % 2 = 1 THEN 1 ELSE -1 END AS s FROM h),
        |agg AS (SELECT doc_id, idx, CAST(sum(s) AS DOUBLE) AS v
        |        FROM c GROUP BY doc_id, idx),
        |dims AS (SELECT d.doc_id, t.i AS idx
        |         FROM (SELECT DISTINCT doc_id FROM documents) d, range(0, 64) t(i)),
        |f AS (SELECT dims.doc_id, dims.idx, coalesce(agg.v, 0) AS v
        |      FROM dims LEFT JOIN agg ON dims.doc_id = agg.doc_id AND dims.idx = agg.idx),
        |n AS (SELECT doc_id, sqrt(sum(v * v)) AS norm FROM f GROUP BY doc_id),
        |vec AS (SELECT f.doc_id, f.idx,
        |  CAST(CAST(CASE WHEN n.norm = 0 THEN 0 ELSE f.v / n.norm END
        |    AS FLOAT) AS DOUBLE) AS v
        |  FROM f JOIN n ON f.doc_id = n.doc_id),
        |w AS (SELECT i AS idx, ((i * 37) % 21 - 10) / 10.0 AS w FROM range(0, 64) t(i)),
        |dot AS (SELECT vec.doc_id, sum(vec.v * w.w) AS d
        |        FROM vec JOIN w ON vec.idx = w.idx GROUP BY vec.doc_id)
        |SELECT doc_id, round(1 / (1 + exp(-(d + 0.25))), 4) AS score
        |FROM dot ORDER BY doc_id""".stripMargin)),
    // Unicode canonicalization: deterministic noise (combining accents +
    // control chars + DEL) is injected around each document, then
    // normalizeText must NFC-compose and collapse — the oracle replays
    // with DuckDB's nfc_normalize + the same [\x00-\x20\x7F]+ regex.
    QuerySpec("q77_normalize_text", (s, dir) => {
      val noisy = concat(lit("Cafe\u0301\u0007  "), col("text"),
        lit("\tno\u0308el\u007f"))
      T(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.normalizeText(noisy).as("clean"))
        .orderBy("doc_id")
    }, oracle = Some(
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    nfc_normalize('Cafe' || chr(769) || chr(7) || '  ' || text
        |      || chr(9) || 'no' || chr(776) || 'el' || chr(127)),
        |    '[\x00-\x20\x7F]+', ' ', 'g')) AS clean
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // Token-budget curation: keep the best-quality docs until 15k
    // cumulative tokens. Ordering uses the 6-dp-rounded quality —
    // q22-proven equal across engines, so the cross-engine double
    // ordering is exact; ties break on doc_id.
    QuerySpec("q79_token_budget", (s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("quality"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("ntok"))
      Sampling.selectByTokenBudget(d, "doc_id", "ntok", "quality",
          budget = 15000L)
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH q AS (SELECT doc_id,
        |  round(
        |    least(length(text) / 500.0, 1.0) * 0.25 +
        |    (CASE WHEN length(text) > 0 THEN
        |       length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text)
        |     ELSE 0.0 END) * 0.25 +
        |    (1.0 - least((CASE WHEN length(text) > 0 THEN
        |       length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text)
        |     ELSE 0.0 END) * 10.0, 1.0)) * 0.25 +
        |    least((CASE WHEN len(string_split_regex(trim(text), '\s+')) > 0 THEN
        |       len(regexp_extract_all(text, '(?i)\b(the|and|of|to|a|in|is|it)\b')) * 1.0
        |         / len(string_split_regex(trim(text), '\s+'))
        |     ELSE 0.0 END) * 4.0, 1.0) * 0.25, 6) AS quality,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS ntok
        |  FROM documents),
        |c AS (SELECT doc_id, quality, ntok,
        |        sum(ntok) OVER (ORDER BY quality DESC, doc_id) AS cum_tok FROM q)
        |SELECT doc_id, quality, ntok, CAST(cum_tok AS BIGINT) AS cum_tok
        |FROM c WHERE cum_tok <= 15000 ORDER BY doc_id""".stripMargin)),
    // Equal-token shard assignment: shard_id = exclusive-cumsum DIV 2000
    // under doc_id order — deterministic training-shard packing.
    QuerySpec("q80_token_shards", (s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("ntok"))
      Sampling.assignTokenShards(d, "doc_id", "ntok", targetTokens = 2000L)
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH q AS (SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS ntok
        |  FROM documents),
        |c AS (SELECT doc_id, ntok,
        |        CAST(sum(ntok) OVER (ORDER BY doc_id) - ntok AS BIGINT) AS excl FROM q)
        |SELECT doc_id, ntok, CAST(excl // 2000 AS BIGINT) AS shard_id
        |FROM c ORDER BY doc_id""".stripMargin)),
    // Perceptual image near-dup: 9×8 grayscale gradient PNGs (pixel
    // formula replayable in SQL), clones of every 10th image perturb one
    // corner pixel → Hamming ≤ 1 from their base. Passes only if PNG
    // encode → decode → luma → dHash bit extraction round-trips exactly;
    // the oracle brute-forces all pairs from the pixel arithmetic.
    QuerySpec("q81_image_neardup", (s, dir) => {
      val ids = T(s, dir, "part").filter(col("p_partkey") <= 150)
        .select(col("p_partkey").cast("long").as("media_id"))
      val base = ids.select(col("media_id"), col("media_id").as("salt"),
        lit(0).as("bump"))
      val clones = ids.filter(col("media_id") % 10 === 0)
        .select((col("media_id") + 1000L).as("media_id"),
          col("media_id").as("salt"), lit(8).as("bump"))
      val media = Multimodal.synthesizeGradientImages(base.unionByName(clones))
      Multimodal.imageNearDupPairs(media, "media_id", maxDist = 3)
        .orderBy("id_a", "id_b")
    }, oracle = Some(
      """WITH ids AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS media_id,
        |         CAST(p_partkey AS BIGINT) AS salt, 0 AS bump
        |  FROM part WHERE p_partkey <= 150
        |  UNION ALL
        |  SELECT CAST(p_partkey + 1000 AS BIGINT), CAST(p_partkey AS BIGINT), 8
        |  FROM part WHERE p_partkey <= 150 AND p_partkey % 10 = 0),
        |px AS (SELECT media_id, x.i AS x, y.j AS y,
        |  (x.i * 31 + y.j * 53 +
        |   (salt % 97) * (x.i * x.i + 3 * y.j * y.j + 7 * x.i * y.j + 1) * 11 +
        |   CASE WHEN x.i = 0 AND y.j = 0 THEN bump ELSE 0 END) % 256 AS v
        |  FROM ids, range(0, 9) x(i), range(0, 8) y(j)),
        |bits AS (SELECT a.media_id, a.y, a.x,
        |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
        |  FROM px a JOIN px b
        |    ON a.media_id = b.media_id AND b.y = a.y AND b.x = a.x + 1
        |  WHERE a.x < 8),
        |pairs AS (SELECT a.media_id AS id_a, b.media_id AS id_b,
        |    CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT) AS hamming
        |  FROM bits a JOIN bits b
        |    ON a.y = b.y AND a.x = b.x AND a.media_id < b.media_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, hamming FROM pairs
        |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin)),
    // Audio near-dup via RMS-delta fingerprints: stepped square-wave WAVs
    // (per-window amplitude formula replayable in SQL; RMS of a ±A window
    // is exactly A/32768), clones perturb the first window. Passes only
    // if WAV encode → javax.sound decode → windowed RMS → bit extraction
    // round-trips exactly; the oracle brute-forces pairs from the
    // amplitude arithmetic.
    QuerySpec("q82_audio_neardup", (s, dir) => {
      val ids = T(s, dir, "part").filter(col("p_partkey") <= 150)
        .select(col("p_partkey").cast("long").as("media_id"))
      val base = ids.select(col("media_id"), col("media_id").as("salt"),
        lit(0).as("bump"))
      val clones = ids.filter(col("media_id") % 10 === 0)
        .select((col("media_id") + 1000L).as("media_id"),
          col("media_id").as("salt"), lit(5000).as("bump"))
      val media = Multimodal.synthesizeSteppedWavs(base.unionByName(clones))
      Multimodal.audioNearDupPairs(media, "media_id", windowSamples = 64,
          maxDist = 3)
        .orderBy("id_a", "id_b")
    }, oracle = Some(
      """WITH ids AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS media_id,
        |         CAST(p_partkey AS BIGINT) AS salt, 0 AS bump
        |  FROM part WHERE p_partkey <= 150
        |  UNION ALL
        |  SELECT CAST(p_partkey + 1000 AS BIGINT), CAST(p_partkey AS BIGINT), 5000
        |  FROM part WHERE p_partkey <= 150 AND p_partkey % 10 = 0),
        |amp AS (SELECT media_id, w.i AS w,
        |  ((salt + 1) * (w.i * w.i + 1) * 7919 +
        |   CASE WHEN w.i = 0 THEN bump ELSE 0 END) % 25000 AS a
        |  FROM ids, range(0, 65) w(i)),
        |bits AS (SELECT lo.media_id, lo.w AS i,
        |    CASE WHEN hi.a > lo.a THEN 1 ELSE 0 END AS bit
        |  FROM amp lo JOIN amp hi
        |    ON lo.media_id = hi.media_id AND hi.w = lo.w + 1
        |  WHERE lo.w < 64),
        |pairs AS (SELECT a.media_id AS id_a, b.media_id AS id_b,
        |    CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT) AS hamming
        |  FROM bits a JOIN bits b
        |    ON a.i = b.i AND a.media_id < b.media_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, hamming FROM pairs
        |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin)),
    // Token-window chunking with overlap (sequence prep): 64-token
    // windows every 48 tokens; one row per chunk with its start offset,
    // token count, and text.
    QuerySpec("q78_chunk_tokens", (s, dir) => {
      TextAnalysis.chunkTokens(T(s, dir, "documents"), "doc_id", "text",
          window = 64, stride = 48)
        .select(col("doc_id"), col("start").cast("long").as("start"),
          col("n_tokens").cast("long").as("n_tokens"), col("chunk_text"))
        .orderBy("doc_id", "start")
    }, oracle = Some(
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |s AS (SELECT doc_id, tk, len(tk) AS n FROM t),
        |c AS (SELECT doc_id, tk, n, unnest(range(0, n, 48)) AS start FROM s),
        |o AS (SELECT doc_id, start,
        |        list_slice(tk, start + 1, least(start + 64, n)) AS ck FROM c)
        |SELECT doc_id, CAST(start AS BIGINT) AS start,
        |  CAST(len(ck) AS BIGINT) AS n_tokens,
        |  array_to_string(ck, ' ') AS chunk_text
        |FROM o ORDER BY doc_id, start""".stripMargin)),
    // ── scale: hybrid retrieval — BM25 + embedding-cosine candidates
    //    fused by reciprocal-rank (oracle: DuckDB replays both rankers
    //    with the term-sorted bm25 fold and the 1/(60+rank) fusion) ──────
    QuerySpec("q92_hybrid_rrf", (s, dir) => {
      val d = T(s, dir, "documents").select("doc_id", "text")
      val e = T(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .first().getSeq[Float](0).map(_.toDouble).toSeq
      Ranking.hybridSearch(d, "doc_id", "text", e, "vec_id", "embedding",
          Seq("join", "merge", "filter"), qv,
          candidates = 50, k0 = 60, topK = 20)
        .select(col("doc_id"), col("rank_lex"), col("rank_sem"),
          round(col("rrf"), 6).as("rrf"), col("rank"))
        .orderBy("rank")
    }, oracle = Some(
      """WITH t0 AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |st AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM t0),
        |t AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t0),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM t
        |       WHERE term IN ('join', 'merge', 'filter') GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |c AS (SELECT tf.doc_id, tf.term,
        |        ln(1.0 + (st.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
        |          * tf.tf * 2.2
        |          / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl)) AS c
        |      FROM tf JOIN dfreq USING (term) CROSS JOIN st),
        |bm AS (SELECT doc_id,
        |         list_reduce(list(c ORDER BY term), (a, b) -> a + b) AS bm
        |       FROM c GROUP BY doc_id),
        |lex AS (SELECT doc_id, CAST(row_number()
        |          OVER (ORDER BY bm DESC, doc_id) AS INTEGER) AS rank_lex
        |        FROM bm QUALIFY rank_lex <= 50),
        |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |       WHERE vec_id = 0),
        |sem0 AS (SELECT vec_id AS doc_id,
        |           list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv.v) AS cs
        |         FROM embeddings, qv),
        |sem AS (SELECT doc_id, CAST(row_number()
        |          OVER (ORDER BY cs DESC, doc_id) AS INTEGER) AS rank_sem
        |        FROM sem0 QUALIFY rank_sem <= 50),
        |f AS (SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id, rank_lex, rank_sem,
        |        coalesce(1.0 / (60 + rank_lex), 0) + coalesce(1.0 / (60 + rank_sem), 0)
        |          AS rrf
        |      FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
        |SELECT doc_id, rank_lex, rank_sem, round(rrf, 6) AS rrf,
        |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER) AS rank
        |FROM f QUALIFY rank <= 20 ORDER BY rank""".stripMargin)),
    // ── scale: k-means TRAINING — assignment as one fused argmax-dot
    //    projection over augmented vectors, (cluster, dim)-keyed mean
    //    update; deterministic folds make every round replayable (oracle:
    //    rounds unrolled in SQL — scores, argmin window, id-sorted means) ─
    QuerySpec("q98_kmeans_train", (s, dir) => {
      Training.trainKMeans(T(s, dir, "embeddings"), "vec_id", "embedding",
          k = 4, rounds = 3, deterministic = true)
        .select(col("cluster"), col("dim"), round(col("value"), 6).as("value"))
        .orderBy("cluster", "dim")
    }, bench = Some((s, dir) => {
      // q98 benches the PRODUCTION path: plain-avg means (deterministic
      // id-sorted folds exist so the SQL oracle can replay the run)
      val e = T(s, dir, "embeddings")
      () => Training.trainKMeans(e, "vec_id", "embedding", k = 4, rounds = 3)
        .select(col("cluster"), col("dim"), round(col("value"), 6).as("value"))
        .orderBy("cluster", "dim")
    }), oracle = Some(kmeansOracleSql(k = 4, rounds = 3, dims = 64))),
    // ── scale: quality-classifier TRAINING — full-batch logistic GD over
    //    hashed bigram features; deterministic folds make the whole run
    //    replayable (oracle: the training loop unrolled in SQL — per-round
    //    z fold, sigmoid residuals, doc-sorted gradient fold, update) ────
    QuerySpec("q96_lr_train", (s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          (col("source") === "src0").cast("int").as("label"))
      Training.trainLogistic(d, "doc_id", "text", "label", buckets = 256,
          rounds = 3, learningRate = 0.5, hashKind = "md5_60",
          deterministic = true)
        .select(col("bucket"), round(col("w"), 6).as("w"))
        .orderBy("bucket")
    }, bench = Some((s, dir) => {
      // q96 benches the PRODUCTION path: xxhash64 features + plain-sum
      // gradients (the md5/deterministic-fold combination exists so the
      // SQL oracle can replay the training run bit-for-bit)
      val d = T(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          (col("source") === "src0").cast("int").as("label"))
      () => Training.trainLogistic(d, "doc_id", "text", "label",
          buckets = 256, rounds = 3, learningRate = 0.5)
        .select(col("bucket"), round(col("w"), 6).as("w"))
        .orderBy("bucket")
    }), oracle = Some(lrTrainOracleSql(rounds = 3, buckets = 256, lr = 0.5))),
    // ── scale: SymSpell typo detection — rare tokens one edit from a
    //    frequent term + best correction, via symmetric-delete variant
    //    blocking (equi-join on {self}∪{1-deletions}, never vocab²);
    //    deterministic typo injection (drop 2nd char / substitute 3rd on
    //    sparse part keys) so the operator must RECOVER the corrections
    //    (oracle: DuckDB replays injection, variants, verify, and argmax) ──
    QuerySpec("q187_typo_suggest", (s, dir) => {
      val p = T(s, dir, "part")
      val name = col("p_name")
      val corrupted = p.select(
        when(pmod(col("p_partkey"), lit(499L)) === 0L,
          concat(name.substr(lit(1), lit(1)),
            name.substr(lit(3), length(name))))
        .when(pmod(col("p_partkey"), lit(503L)) === 0L,
          concat(name.substr(lit(1), lit(2)), lit("x"),
            name.substr(lit(4), length(name))))
        .otherwise(name).as("text"))
      TextAnalysis.typoSuggestions(corrupted, "text",
          minFreq = 5L, maxRareFreq = 2L, minLen = 4)
        .orderBy("token")
    }, oracle = Some(
      """WITH d AS (SELECT CASE
        |    WHEN p_partkey % 499 = 0
        |      THEN substr(p_name, 1, 1) || substr(p_name, 3)
        |    WHEN p_partkey % 503 = 0
        |      THEN substr(p_name, 1, 2) || 'x' || substr(p_name, 4)
        |    ELSE p_name END AS text FROM part),
        |toks AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
        |    AS t
        |  FROM d WHERE length(trim(text)) > 0),
        |c AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
        |rare AS (SELECT t, cnt FROM c WHERE cnt <= 2 AND length(t) >= 4),
        |freq AS (SELECT t, cnt FROM c WHERE cnt >= 5),
        |rv AS (SELECT t, cnt, unnest(list_distinct(list_append(
        |    list_transform(range(length(t)), i ->
        |      substr(t, 1, CAST(i AS INT)) || substr(t, CAST(i + 2 AS INT))),
        |    t))) AS v FROM rare),
        |fv AS (SELECT t, cnt, unnest(list_distinct(list_append(
        |    list_transform(range(length(t)), i ->
        |      substr(t, 1, CAST(i AS INT)) || substr(t, CAST(i + 2 AS INT))),
        |    t))) AS v FROM freq),
        |pairs AS (SELECT DISTINCT rv.t AS rt, rv.cnt AS rc,
        |    fv.t AS ft, fv.cnt AS fc
        |  FROM rv JOIN fv USING (v)
        |  WHERE levenshtein(rv.t, fv.t) = 1),
        |best AS (SELECT rt, rc, ft, fc,
        |    row_number() OVER (PARTITION BY rt ORDER BY fc DESC, ft) AS rn
        |  FROM pairs)
        |SELECT rt AS token, rc AS cnt, ft AS suggestion,
        |  fc AS suggestion_cnt
        |FROM best WHERE rn = 1 ORDER BY token""".stripMargin)),
    // ── scale: Good–Turing unseen mass + Chao1 — how much probability
    //    mass the corpus has never seen and how big the true vocabulary
    //    is, from one token-count scan (tail injected via unique customer
    //    names over the frequent doc vocab) (oracle: DuckDB replay) ────────
    QuerySpec("q196_unseen_mass", (s, dir) => {
      val corpus = T(s, dir, "documents").select(col("text"))
        .unionByName(T(s, dir, "customer").select(col("c_name").as("text")))
      TextAnalysis.unseenMassEstimate(corpus, "text")
        .select(col("n_tokens"), col("vocab"), col("n1"), col("n2"),
          round(col("unseen_mass"), 6).as("unseen_mass"),
          round(col("chao1"), 6).as("chao1"))
    }, oracle = Some(
      """WITH corpus AS (SELECT text FROM documents
        |  UNION ALL SELECT c_name AS text FROM customer),
        |toks AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
        |    AS token
        |  FROM corpus WHERE length(trim(text)) > 0),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |  FROM toks GROUP BY 1),
        |s AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS vocab,
        |    CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM c)
        |SELECT n_tokens, vocab, n1, n2,
        |  round(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
        |    AS unseen_mass,
        |  round(CAST(vocab AS DOUBLE) +
        |    (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - CAST(1.0 AS DOUBLE)))
        |    / (CAST(2.0 AS DOUBLE) * (CAST(n2 AS DOUBLE) +
        |      CAST(1.0 AS DOUBLE))), 6) AS chao1
        |FROM s""".stripMargin)),
    // ── scale: prefix-cache savings — tokens a KV-cache-reusing server
    //    skips at probe depths 4/8/16 over shared document prefixes (the
    //    batch-by-prefix scheduler decision number); one tokenization
    //    pass, key-width prefix groupBys (oracle: DuckDB slice replay) ─────
    QuerySpec("q203_prefix_cache", (s, dir) => {
      TextAnalysis.prefixCacheReport(T(s, dir, "documents"), "text",
          Seq(4, 8, 16))
        .orderBy("depth")
    }, oracle = Some({
      val blocks = Seq(4, 8, 16).map { d =>
        s"""SELECT $d AS depth,
           |  CAST(coalesce(sum(n), 0) AS BIGINT) AS eligible_docs,
           |  CAST(coalesce(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END), 0)
           |    AS BIGINT) AS shared_groups,
           |  CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS dup_docs,
           |  CAST(coalesce(sum((n - 1) * $d), 0) AS BIGINT) AS tokens_saved
           |FROM (SELECT array_to_string(toks[1:$d], ' ') AS p,
           |    CAST(count(*) AS BIGINT) AS n
           |  FROM tt WHERE len(toks) >= $d GROUP BY 1)""".stripMargin
      }
      s"""WITH tt AS (SELECT string_split_regex(trim(lower(text)), '\\s+')
         |    AS toks
         |  FROM documents WHERE length(trim(text)) > 0)
         |${blocks.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) ORDER BY depth")}""".stripMargin
    })),
    // ── scale: vocabulary growth curve — per ingest batch: distinct
    //    tokens, NEW tokens, cumulative vocab (the empirical Heaps
    //    trajectory; a new-token spike = domain shift or encoding bug);
    //    key-width first-seen aggregate (oracle: DuckDB replay) ────────────
    QuerySpec("q209_vocab_growth", (s, dir) => {
      val corpus = T(s, dir, "documents")
        .select(expr("doc_id div 50").as("batch"), col("text"))
        .unionByName(T(s, dir, "customer")
          .select(expr("c_custkey div 150").as("batch"),
            col("c_name").as("text")))
      TextAnalysis.vocabGrowth(corpus, "text", "batch")
        .orderBy("batch")
    }, oracle = Some(
      """WITH corpus AS (
        |  SELECT doc_id // 50 AS b, text FROM documents
        |  UNION ALL
        |  SELECT c_custkey // 150 AS b, c_name AS text FROM customer),
        |pairs AS (SELECT DISTINCT b, t FROM (
        |  SELECT b, unnest(string_split_regex(trim(lower(text)), '\s+'))
        |      AS t
        |  FROM corpus WHERE length(trim(text)) > 0)),
        |pb AS (SELECT b, CAST(count(*) AS BIGINT) AS batch_vocab
        |  FROM pairs GROUP BY 1),
        |fs AS (SELECT min(b) AS b FROM pairs GROUP BY t),
        |nw AS (SELECT b, CAST(count(*) AS BIGINT) AS new_tokens
        |  FROM fs GROUP BY 1)
        |SELECT pb.b AS batch, pb.batch_vocab,
        |  CAST(coalesce(nw.new_tokens, 0) AS BIGINT) AS new_tokens,
        |  CAST(sum(coalesce(nw.new_tokens, 0)) OVER (ORDER BY pb.b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_vocab
        |FROM pb LEFT JOIN nw ON pb.b = nw.b ORDER BY batch""".stripMargin)),
    // ── scale: eval-canary scan — verbatim benchmark-canary hits per
    //    source BEFORE training (one corpus pass, one codegen'd contains
    //    per canary, melted at the end) (oracle: DuckDB contains replay) ───
    QuerySpec("q214_canary_scan", (s, dir) => {
      TextAnalysis.canaryScan(T(s, dir, "documents"), "text", "source",
          Seq("slow fast table", "customer query", "canary-absent-guid"))
        .orderBy("canary", "source")
    }, oracle = Some(
      """WITH w AS (SELECT source,
        |    CAST(sum(CASE WHEN contains(text, 'slow fast table')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN contains(text, 'customer query')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN contains(text, 'canary-absent-guid')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM documents GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 'slow fast table' AS canary, source, c0 AS n_docs FROM w
        |  UNION ALL
        |  SELECT 'customer query', source, c1 FROM w
        |  UNION ALL
        |  SELECT 'canary-absent-guid', source, c2 FROM w)
        |WHERE n_docs > 0 ORDER BY canary, source""".stripMargin)),
    // ── scale: context-truncation loss — docs/tokens lost at candidate
    //    context limits (the training context-budget table); one lengths-
    //    only scan, limits-sized output (oracle: DuckDB replay) ────────────
    QuerySpec("q219_truncation_loss", (s, dir) => {
      TextAnalysis.truncationLossReport(T(s, dir, "documents"), "text",
          Seq(32, 64, 128))
        .select(col("limit").as("ctx_limit"), col("n_docs"),
          col("docs_over"), col("tokens_total"), col("tokens_lost"),
          round(col("loss_frac"), 6).as("loss_frac"))
        .orderBy("ctx_limit")
    }, oracle = Some({
      val blocks = Seq(32, 64, 128).map { l =>
        s"""SELECT $l AS ctx_limit,
           |  (SELECT n_docs FROM t) AS n_docs,
           |  CAST(sum(CASE WHEN n > $l THEN 1 ELSE 0 END) AS BIGINT)
           |    AS docs_over,
           |  (SELECT tokens_total FROM t) AS tokens_total,
           |  CAST(sum(CASE WHEN n > $l THEN n - $l ELSE 0 END) AS BIGINT)
           |    AS tokens_lost,
           |  round(CAST(sum(CASE WHEN n > $l THEN n - $l ELSE 0 END)
           |      AS DOUBLE) /
           |    CAST((SELECT tokens_total FROM t) AS DOUBLE), 6)
           |    AS loss_frac
           |FROM lens""".stripMargin
      }
      s"""WITH lens AS (SELECT
         |    CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
         |      AS BIGINT) AS n
         |  FROM documents WHERE length(trim(text)) > 0),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n) AS BIGINT) AS tokens_total FROM lens)
         |${blocks.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) ORDER BY ctx_limit")}""".stripMargin
    })),
    // ── scale: sparse TF-IDF cosine similarity join — the WEIGHTED
    //    near-dup complement (MinHash scores shingle-SET overlap; this
    //    scores shared distinctive mass, so rare-phrase overlap outranks
    //    boilerplate overlap); df-pruned vectors, ONE term self-join
    //    (Σ df² ≤ maxDf·nnz — linear at fixed maxDf), term-sorted folds
    //    (oracle: DuckDB replays weights, norms, and the folds) ───────────
    QuerySpec("q236_sparse_cosine", (s, dir) => {
      Ranking.tfidfCosinePairs(T(s, dir, "documents"), "doc_id", "text",
          shingleSize = 3, threshold = 0.3, maxDf = 50L)
        .select(col("id_a"), col("id_b"), col("n_shared"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }, bench = Some((s, dir) => {
      // q236 benches the PRODUCTION path (plain map-side-combined sums);
      // the term-sorted folds exist so the SQL oracle replays the gate
      // run bit-exactly
      () => Ranking.tfidfCosinePairs(T(s, dir, "documents"), "doc_id",
          "text", shingleSize = 3, threshold = 0.3, maxDf = 50L,
          deterministic = false)
        .select(col("id_a"), col("id_b"), col("n_shared"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    }), oracle = Some(
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |g AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3 THEN
        |    list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(toks[i:i+2], ' '))
        |    ELSE [array_to_string(toks, ' ')] END) AS term FROM t),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM g GROUP BY 1, 2),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS nd FROM tf),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |  FROM tf GROUP BY 1 HAVING count(*) <= 50),
        |w AS (SELECT doc_id, term, tf * ln(n.nd / CAST(df AS DOUBLE)) AS w, df
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |norms AS (SELECT doc_id,
        |    sqrt(list_reduce(list(w * w ORDER BY term), (a, b) -> a + b)) AS nrm
        |  FROM w GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.term AS term,
        |    a.w * b.w AS p
        |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        |  WHERE a.df >= 2),
        |d AS (SELECT id_a, id_b,
        |    list_reduce(list(p ORDER BY term), (a, b) -> a + b) AS dot,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM p GROUP BY 1, 2)
        |SELECT id_a, id_b, n_shared,
        |  round(dot / (na.nrm * nb.nrm), 6) AS cosine
        |FROM d JOIN norms na ON na.doc_id = id_a
        |JOIN norms nb ON nb.doc_id = id_b
        |WHERE dot / (na.nrm * nb.nrm) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin)),
    // ── scale: rank-biased overlap between the two q92 rankers — the
    //    "is the hybrid fusion doing real work" diagnostic; after the two
    //    top-50 rankings everything is one ≤50-row join + a literal-table
    //    fold (oracle: DuckDB replays both rankers and the shared weight
    //    literals) ─────────────────────────────────────────────────────────
    QuerySpec("q240_rbo", (s, dir) => {
      val d = T(s, dir, "documents").select("doc_id", "text")
      val e = T(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .first().getSeq[Float](0).map(_.toDouble).toSeq
      val lex = Ranking.topNRanks(
        Ranking.bm25(d, "doc_id", "text", Seq("join", "merge", "filter")),
        "doc_id", "bm25", 50, "rank_lex")
      val sem = Ranking.topNRanks(
        e.select(col("vec_id").as("doc_id"),
          Similarity.cosine(col("embedding"),
            array(qv.map(lit): _*)).as("__cos")),
        "doc_id", "__cos", 50, "rank_sem")
      Ranking.rankBiasedOverlap(lex, sem, "doc_id", "rank_lex", "rank_sem",
          p = 0.9, k = 50)
        .select(col("n_shared"), round(col("rbo"), 6).as("rbo"))
    }, oracle = Some(rboOracleSql(p = 0.9, k = 50))),
    // ── scale: multi-phrase hit join — token-boundary phrase counts per
    //    source via ONE shingle explode + a hash-set membership (InSet),
    //    O(tokens) at ANY phrase-list size where q214's per-pattern
    //    contains is O(patterns·chars); only hit rows shuffle (oracle:
    //    DuckDB shingle + IN replay) ───────────────────────────────────────
    QuerySpec("q243_phrase_hits", (s, dir) => {
      TextAnalysis.phraseHits(T(s, dir, "documents"), "text", "source",
          Seq("window fast query", "stream table hash", "big data merge",
            "definitely absent phrase"))
        .orderBy("phrase", "source")
    }, oracle = Some(
      s"""WITH t AS (SELECT source,
         |    string_split_regex(trim(lower(text)), '\\s+') AS toks
         |  FROM documents),
         |g AS (SELECT source, unnest($shingle3Sql) AS phrase FROM t)
         |SELECT phrase, source, CAST(count(*) AS BIGINT) AS n_docs
         |FROM g
         |WHERE phrase IN ('window fast query', 'stream table hash',
         |  'big data merge', 'definitely absent phrase')
         |GROUP BY 1, 2 ORDER BY phrase, source""".stripMargin)),
    // ── scale: clustering-quality report — simplified silhouette per
    //    q98-trained cluster (the evaluation half of the clustering tier;
    //    centroid form, no point×point work); ONE posexplode join against
    //    the broadcast centroid cells, per-id sorted k-array (oracle:
    //    DuckDB replays the kmeans chain + dist folds + means) ────────────
    QuerySpec("q246_silhouette", (s, dir) => {
      Training.clusteringQualityReport(T(s, dir, "embeddings"), "vec_id",
          "embedding", k = 4, rounds = 3, deterministic = true)
        .select(col("cluster"), col("n"),
          round(col("mean_dist"), 6).as("mean_dist"),
          round(col("mean_silhouette"), 6).as("mean_silhouette"))
        .orderBy("cluster")
    }, oracle = Some(silhouetteOracleSql(k = 4, rounds = 3, dims = 64))),
    // ── scale: lang-ID confidence margins — per source: docs whose top
    //    two language scores are ≤ 1 marker apart (the "don't trust this
    //    label" slice q253's accuracy can't see) plus the mean margin;
    //    marker scores are INTEGER counts so everything but the final
    //    mean is exact (oracle: DuckDB replays the marker scorer and the
    //    top-2 arithmetic) ─────────────────────────────────────────────────
    QuerySpec("q264_langid_margin", (s, dir) => {
      val langs = TextAnalysis.markerLexicon.keys.toSeq.sorted
      val scores = langs.map(l => TextAnalysis.langScore(col("text"), l))
      val arr = sort_array(array(scores: _*), asc = false)
      val margin = (arr.getItem(0) - arr.getItem(1)).cast("long")
      T(s, dir, "documents")
        .select(col("source"), margin.as("__m"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__m") <= 1L, 1L).otherwise(0L)).as("n_low_margin"),
          round(sum(col("__m")).cast("double") /
            count(lit(1)).cast("double"), 6).as("mean_margin"))
        .orderBy("source")
    }, oracle = Some(langidMarginOracleSql)),
    // ── scale: duplicate token mass — how many training tokens are
    //    exact-duplicate re-reads (the compute-waste number a dedup run
    //    is justified by, per source): one tokenize scan, text-keyed
    //    exact grouping, integer-exact masses (oracle: DuckDB replay) ─────
    QuerySpec("q267_dup_token_mass", (s, dir) => {
      val perText = T(s, dir, "documents")
        .select(col("source"), col("text"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("w"))
        .groupBy("source", "text")
        .agg(count(lit(1)).as("copies"), first(col("w")).as("w"))
      perText.groupBy("source")
        .agg(sum(col("copies")).as("n_docs"),
          count(lit(1)).as("n_unique"),
          sum(col("copies") * col("w")).as("tokens_total"),
          sum(col("w")).as("tokens_unique"))
        .withColumn("dup_token_frac",
          round((col("tokens_total") - col("tokens_unique")).cast("double") /
            col("tokens_total").cast("double"), 6))
        .orderBy("source")
    }, oracle = Some(
      """WITH pt AS (SELECT source, text,
        |    CAST(count(*) AS BIGINT) AS copies,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
        |      AS w
        |  FROM documents GROUP BY source, text)
        |SELECT source, CAST(sum(copies) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_unique,
        |  CAST(sum(copies * w) AS BIGINT) AS tokens_total,
        |  CAST(sum(w) AS BIGINT) AS tokens_unique,
        |  round(CAST(sum(copies * w) - sum(w) AS DOUBLE)
        |    / CAST(sum(copies * w) AS DOUBLE), 6) AS dup_token_frac
        |FROM pt GROUP BY source ORDER BY source""".stripMargin)),
    // ── scale: isotonic (PAV) calibration — monotone regression of a
    //    quality score against a binary outcome on score bins; exact long
    //    pooling on the driver over the ≤bins frame. Spec-gated (PAV's
    //    data-dependent pooling depth has no fixed SQL unrolling — the
    //    q313 rationale); rows-only here, hand goldens + invariants in
    //    TrainingSpec pin exactness. ──────────────────────────────────────
    QuerySpec("q315_isotonic_calibration", (s, dir) => {
      val d = T(s, dir, "documents")
      val scored = d.select(
        TextAnalysis.qualityScore(col("text")).as("score"),
        (col("n_chars") > 400).as("label"))
      Training.isotonicCalibration(scored, "score", col("label"), bins = 10)
        .select(col("bin"), round(col("bin_lo"), 1).as("bin_lo"), col("n"),
          col("positives"), round(col("raw_rate"), 6).as("raw_rate"),
          round(col("calibrated_rate"), 6).as("calibrated_rate"))
        .orderBy("bin")
    }),
    // ── scale: Brier score + Murphy decomposition — raw Brier from exact
    //    micro-integer (s−y)² sums (DECIMAL(38,0), order-independent);
    //    REL/RES/UNC fold bin-ascending on the driver over the ≤bins frame
    //    (oracle: DuckDB replays the HUGEINT sums and the bin folds) ──────
    QuerySpec("q319_brier_decomposition", (s, dir) => {
      val d = T(s, dir, "documents").select(
        round(TextAnalysis.qualityScore(col("text")), 6).as("score"),
        (col("lang") === "en").as("label"))
      Training.brierDecomposition(d, "score", col("label"), bins = 10)
        .select(col("bin"), col("n"), col("positives"),
          round(col("conf"), 6).as("conf"), round(col("acc"), 6).as("acc"),
          round(col("brier"), 6).as("brier"),
          round(col("reliability"), 6).as("reliability"),
          round(col("resolution"), 6).as("resolution"),
          round(col("uncertainty"), 6).as("uncertainty"),
          round(col("within_bin_var"), 6).as("within_bin_var"))
        .orderBy("bin")
    }, oracle = Some(
      s"""WITH q AS (SELECT round($qualitySql, 6) AS s, (lang = 'en') AS lbl
         |  FROM documents),
         |m AS (SELECT CAST(round(s * 1000000.0) AS BIGINT) AS si,
         |    CASE WHEN lbl THEN 1000000 ELSE 0 END AS yi,
         |    least(CAST(floor(s * 10.0) AS BIGINT), 9) AS bin FROM q),
         |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN yi = 1000000 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS positives,
         |    sum(CAST(si AS HUGEINT)) AS ssum,
         |    sum(CAST(si - yi AS HUGEINT) * CAST(si - yi AS HUGEINT)) AS sqe
         |  FROM m GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
         |    CAST(sum(positives) AS BIGINT) AS pt, sum(sqe) AS st FROM g),
         |k AS (SELECT CAST(st AS DOUBLE)
         |      / ((1000000.0 * 1000000.0) * CAST(nt AS DOUBLE)) AS brier,
         |    CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE) AS ybar FROM tot),
         |cb AS (SELECT bin, n, positives,
         |    CAST(ssum AS DOUBLE) / (1000000.0 * CAST(n AS DOUBLE)) AS conf,
         |    CAST(positives AS DOUBLE) / CAST(n AS DOUBLE) AS acc FROM g),
         |rr AS (SELECT
         |    list_reduce(list((CAST(n AS DOUBLE) / CAST(nt AS DOUBLE))
         |        * ((conf - acc) * (conf - acc)) ORDER BY bin),
         |      (a, v) -> a + v) AS rel,
         |    list_reduce(list((CAST(n AS DOUBLE) / CAST(nt AS DOUBLE))
         |        * ((acc - ybar) * (acc - ybar)) ORDER BY bin),
         |      (a, v) -> a + v) AS res
         |  FROM cb, k, tot)
         |SELECT bin, n, positives, round(conf, 6) AS conf,
         |  round(acc, 6) AS acc, round(brier, 6) AS brier,
         |  round(rel, 6) AS reliability, round(res, 6) AS resolution,
         |  round(ybar * (1.0 - ybar), 6) AS uncertainty,
         |  round(brier - ((rel - res) + (ybar * (1.0 - ybar))), 6)
         |    AS within_bin_var
         |FROM cb, k, rr ORDER BY bin""".stripMargin)),
    // ── scale: split-conformal prediction interval — distribution-free
    //    coverage from an exact order-statistic of calibration residuals
    //    (per-source median predictor fit on the cal split only; the rank
    //    machinery is the pruned q103 core; oracle: DuckDB replays the
    //    md5 split, the medians, rank k, and the test coverage) ───────────
    QuerySpec("q320_conformal_interval", (s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars").cast("double").as("actual"))
        .withColumn("__split",
          pmod(Dedup.md5Hash60(col("doc_id")), lit(5L)))
      val cal = d.filter(col("__split") =!= 0L)
      val test = d.filter(col("__split") === 0L)
      val med = Analytics.discreteQuantilesPerGroup(cal, "source", "doc_id",
          "actual", Seq(0.5))
        .select(col("source"), col("value").as("pred"))
      Training.conformalInterval(
          cal.join(broadcast(med), Seq("source")),
          test.join(broadcast(med), Seq("source")),
          "doc_id", "pred", "actual", alpha = 0.1)
        .select(col("n_cal"), round(col("alpha"), 6).as("alpha"), col("k"),
          round(col("qhat"), 6).as("qhat"), col("n_test"), col("covered"),
          round(col("coverage"), 6).as("coverage"))
    }, oracle = Some(
      s"""WITH d AS (SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS actual,
         |    (${h60Sql("doc_id::VARCHAR")}) % 5 AS split FROM documents),
         |cal AS (SELECT * FROM d WHERE split <> 0),
         |tst AS (SELECT * FROM d WHERE split = 0),
         |r AS (SELECT source, doc_id, actual,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY actual ASC, doc_id ASC) AS rk,
         |    count(*) OVER (PARTITION BY source) AS n FROM cal),
         |med AS (SELECT source, actual AS pred FROM r
         |    WHERE rk = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))),
         |calr AS (SELECT cal.doc_id, abs(actual - pred) AS res
         |  FROM cal JOIN med USING (source)),
         |tstr AS (SELECT tst.doc_id, abs(actual - pred) AS res
         |  FROM tst JOIN med USING (source)),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM calr),
         |kk AS (SELECT n_cal, least(n_cal,
         |    CAST(ceil(CAST(n_cal + 1 AS DOUBLE) * (1.0 - 0.1)) AS BIGINT))
         |    AS k FROM nc),
         |rr AS (SELECT res,
         |    row_number() OVER (ORDER BY res ASC, doc_id ASC) AS rk
         |  FROM calr),
         |qh AS (SELECT res AS qhat FROM rr, kk WHERE rr.rk = kk.k),
         |tv AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
         |    CAST(sum(CASE WHEN res <= qhat THEN 1 ELSE 0 END) AS BIGINT)
         |      AS covered
         |  FROM tstr, qh)
         |SELECT n_cal, round(CAST(0.1 AS DOUBLE), 6) AS alpha, k,
         |  round(qhat, 6) AS qhat, n_test, covered,
         |  round(CAST(covered AS DOUBLE) / CAST(n_test AS DOUBLE), 6)
         |    AS coverage
         |FROM kk, qh, tv""".stripMargin)),
    // ── scale: Bradley–Terry preference strengths — MM fit over
    //    "engagement duels" (per user, consecutive event pairs; the
    //    higher-value event's type wins); 3 driver-sequenced rounds,
    //    opponent-sorted folds on the gate path (oracle: DuckDB unrolls
    //    the duel window, the pair counts, and all 3 MM rounds) ───────────
    QuerySpec("q327_bradley_terry", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = T(s, dir, "events")
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val duels = ev
        .withColumn("__pt", lag(col("event_type"), 1).over(w))
        .withColumn("__pv", lag(col("value"), 1).over(w))
        .filter(col("__pt").isNotNull &&
          col("__pt") =!= col("event_type") && col("value") =!= col("__pv"))
        .select(
          when(col("value") > col("__pv"), col("event_type"))
            .otherwise(col("__pt")).as("winner"),
          when(col("value") > col("__pv"), col("__pt"))
            .otherwise(col("event_type")).as("loser"))
      Training.bradleyTerry(duels, "winner", "loser", rounds = 3,
          deterministic = true)
        .select(col("item"), col("wins"), round(col("theta"), 6).as("theta"))
        .orderBy("item")
    }, oracle = Some(btOracleSql(3))),
    // ── scale: quality-rules filter report — the Gopher-style heuristic
    //    rule table (length band, alpha ratio, stopword floor, punctuation
    //    ceiling) as per-source pass/fail counts with per-rule failure
    //    attribution; every ratio test is a CROSS-MULTIPLIED INTEGER
    //    comparison (letters·10 ≥ chars·6), so there is no double-boundary
    //    parity risk anywhere (oracle: DuckDB replays the q22-parity
    //    component expressions + the same integer rules) ───────────────────
    QuerySpec("q286_quality_rules", (s, dir) => {
      val d = T(s, dir, "documents").select("source", "text")
      val chars = length(col("text")).cast("long")
      val letters = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
        .cast("long")
      val puncts = length(regexp_replace(col("text"), "[^.,;:!?]", ""))
        .cast("long")
      val stops = regexp_count(col("text"),
        lit("(?i)\\b(the|and|of|to|a|in|is|it)\\b")).cast("long")
      val toks = TextAnalysis.tokenCount(col("text")).cast("long")
      val r1 = toks.between(20L, 2000L)
      val r2 = letters * 10 >= chars * 6
      val r3 = stops >= 2L
      val r4 = puncts * 10 <= chars
      def fails(r: org.apache.spark.sql.Column) =
        sum(when(!r, 1L).otherwise(0L))
      d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(r1 && r2 && r3 && r4, 1L).otherwise(0L)).as("n_pass"),
          fails(r1).as("fail_len"), fails(r2).as("fail_alpha"),
          fails(r3).as("fail_stop"), fails(r4).as("fail_punct"))
        .orderBy("source")
    }, oracle = Some(
      """WITH c AS (SELECT source,
        |    length(text) AS chars,
        |    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS letters,
        |    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS puncts,
        |    len(regexp_extract_all(text,
        |      '(?i)\b(the|and|of|to|a|in|is|it)\b')) AS stops,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS toks
        |  FROM documents),
        |r AS (SELECT source,
        |    (toks BETWEEN 20 AND 2000) AS r1,
        |    (letters * 10 >= chars * 6) AS r2,
        |    (stops >= 2) AS r3,
        |    (puncts * 10 <= chars) AS r4
        |  FROM c)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN r1 AND r2 AND r3 AND r4 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_pass,
        |  CAST(sum(CASE WHEN NOT r1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS fail_len,
        |  CAST(sum(CASE WHEN NOT r2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS fail_alpha,
        |  CAST(sum(CASE WHEN NOT r3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS fail_stop,
        |  CAST(sum(CASE WHEN NOT r4 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS fail_punct
        |FROM r GROUP BY source ORDER BY source""".stripMargin)),
    // ── scale: corrupt-media decode audit — the error path of the real
    //    codec plumbing, end-to-end: deliberately truncated (valid magic,
    //    dead header) and magic-wiped payloads must degrade to
    //    "not decodable" / octet-stream, never fail the task; report =
    //    (sniffed mime, decodable, n). The oracle derives the expected
    //    classes from the corruption arithmetic — Spark matches only if
    //    the JDK codec actually survives and classifies the damage ────────
    QuerySpec("q283_media_audit", (s, dir) => {
      val media = Multimodal.synthesizeImages(
        T(s, dir, "part").filter(col("p_partkey") <= 600), "p_partkey")
      val k = col("media_id")
      val corrupted = media.withColumn("payload",
        when(pmod(k, lit(13)) === 0, expr("substring(payload, 1, 10)"))
          .when(pmod(k, lit(17)) === 0, concat(lit(Array.fill[Byte](8)(0)),
            expr("substring(payload, 9, 1000000)")))
          .otherwise(col("payload")))
      Multimodal.decodeMeta(corrupted, codec = Multimodal.ImageCodec)
        .groupBy(col("decoded_meta.mime").as("mime"),
          col("decoded_meta.width").isNotNull.as("decodable"))
        .agg(count(lit(1)).as("n"))
        .orderBy("mime", "decodable")
    }, oracle = Some(
      """WITH c AS (SELECT
        |    CASE WHEN p_partkey % 13 = 0 THEN 'image/png'
        |         WHEN p_partkey % 17 = 0 THEN 'application/octet-stream'
        |         ELSE 'image/png' END AS mime,
        |    CASE WHEN p_partkey % 13 = 0 OR p_partkey % 17 = 0
        |         THEN false ELSE true END AS decodable
        |  FROM part WHERE p_partkey <= 600)
        |SELECT mime, decodable, CAST(count(*) AS BIGINT) AS n
        |FROM c GROUP BY 1, 2 ORDER BY mime, decodable""".stripMargin)),
    // ── scale: trigram substring search — raw `contains` over the corpus
    //    through a character-trigram pre-filter (grep-over-100-TB; the
    //    q243 phrase join can't see substrings crossing token boundaries
    //    or punctuation): candidates must hold EVERY needle trigram, then
    //    exact contains verifies — pruning is result-invisible, which is
    //    exactly what the oracle checks (brute-force contains) ─────────────
    QuerySpec("q282_substring_search", (s, dir) => {
      TextAnalysis.substringSearch(
          T(s, dir, "documents").select("doc_id", "text"), "doc_id", "text",
          Seq("merge batch", "scan slow", "tab", "zzqx"))
        .orderBy("needle", "doc_id")
    }, oracle = Some(
      """SELECT d.doc_id, n.needle
        |FROM documents d CROSS JOIN (VALUES ('merge batch'), ('scan slow'),
        |  ('tab'), ('zzqx')) n(needle)
        |WHERE contains(d.text, n.needle)
        |ORDER BY n.needle, d.doc_id""".stripMargin)),
    // ── scale: tokenizer fertility per source — train the BPE merge table
    //    ON the corpus (q87's trainer), apply it with q60's counter, and
    //    report BPE-tokens-per-word per source: the tokenizer-efficiency
    //    number a vocab decision is judged by (high fertility = the
    //    tokenizer fragments that source's words). Training cost is
    //    vocabulary-sized after one corpus pass; application is a pure
    //    projection (oracle: DuckDB replays TRAINING with the word carried
    //    through re-segmentation — the final seg table IS application for
    //    corpus words, no separate unroll) ─────────────────────────────────
    QuerySpec("q278_bpe_fertility", (s, dir) => {
      val d = T(s, dir, "documents").select("source", "text")
      val merges = TextAnalysis.trainBpeMerges(d, "text", numMerges = 8,
        minPairCount = 1L)
      d.select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("w"),
          TextAnalysis.bpeTokenCount(col("text"), merges).cast("long").as("b"))
        .groupBy("source")
        .agg(sum(col("w")).as("n_words"), sum(col("b")).as("n_bpe_tokens"))
        .withColumn("fertility", round(col("n_bpe_tokens").cast("double") /
          col("n_words").cast("double"), 6))
        .orderBy("source")
    }, oracle = Some(
      s"""WITH ${bpeTrainCtes(8, carryWord = true)},
         |seg AS (SELECT word, CAST(len(syms) AS BIGINT) AS np FROM s8),
         |occ AS (SELECT source,
         |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
         |  FROM documents),
         |o2 AS (SELECT source, word FROM occ WHERE word <> '')
         |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(np) AS BIGINT) AS n_bpe_tokens,
         |  round(CAST(sum(np) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         |    AS fertility
         |FROM o2 JOIN seg USING (word)
         |GROUP BY source ORDER BY source""".stripMargin)),
    // ── scale: windowed skip-gram collocations — q102's window-±3
    //    generalization (word2vec-style co-occurrence statistics; adjacent
    //    bigrams miss "neural … network" with an intervening token);
    //    in-row pair generation from the token array (no positional
    //    self-join), q102's log-free monotone lift with fixed
    //    parenthesization (oracle: DuckDB positional self-join replay) ─────
    QuerySpec("q275_skipgram_collocations", (s, dir) => {
      TextAnalysis.skipgramCollocations(
          T(s, dir, "documents").select("text"), "text",
          window = 3, minCount = 5L, topN = 100)
        .select(col("term_a"), col("term_b"), col("pair_count"),
          round(col("lift"), 6).as("lift"))
    }, oracle = Some(
      """WITH t AS (SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |pos AS (SELECT doc_id, unnest(toks) AS w,
        |    generate_subscripts(toks, 1) AS i FROM t),
        |pp AS (SELECT least(a.w, b.w) AS wa, greatest(a.w, b.w) AS wb
        |  FROM pos a JOIN pos b
        |    ON a.doc_id = b.doc_id AND b.i - a.i BETWEEN 1 AND 3
        |  WHERE a.w <> '' AND b.w <> ''),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM pos
        |  WHERE w <> '' GROUP BY w),
        |co AS (SELECT wa, wb, CAST(count(*) AS BIGINT) AS c_ab FROM pp
        |  GROUP BY wa, wb),
        |tot AS (SELECT CAST((SELECT sum(c) FROM uni) AS DOUBLE) AS t,
        |    CAST((SELECT sum(c_ab) FROM co) AS DOUBLE) AS p)
        |SELECT wa AS term_a, wb AS term_b, c_ab AS pair_count,
        |  round(((CAST(c_ab AS DOUBLE) * t) * t) /
        |    ((p * ua.c) * ub.c), 6) AS lift
        |FROM co
        |JOIN uni ua ON ua.w = wa
        |JOIN uni ub ON ub.w = wb
        |CROSS JOIN tot
        |WHERE c_ab >= 5
        |ORDER BY ((CAST(c_ab AS DOUBLE) * t) * t) / ((p * ua.c) * ub.c)
        |  DESC, term_a, term_b
        |LIMIT 100""".stripMargin)),
    // ── scale: Zipf-slope fit — least-squares ln(freq) vs ln(rank) over
    //    the vocabulary head, the one-number corpus-health metric (oracle:
    //    DuckDB replays ranks, logs, and the rank-sorted regression sums) ──
    QuerySpec("q159_zipf_slope", (s, dir) => {
      TextAnalysis.zipfSlope(T(s, dir, "documents").select("text"), "text",
          fitTerms = 1000, deterministic = true)
        .select(col("n_terms"), round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"))
    }, oracle = Some(
      """WITH c AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM
        |    (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |     FROM documents)
        |  WHERE w <> '' GROUP BY 1),
        |top AS (SELECT CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT)
        |          AS rank, c
        |        FROM c QUALIFY rank <= 1000),
        |pts AS (SELECT rank, ln(CAST(rank AS DOUBLE)) AS x,
        |          ln(CAST(c AS DOUBLE)) AS y FROM top),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        list_reduce(list(x ORDER BY rank), (a, b) -> a + b) AS sx,
        |        list_reduce(list(y ORDER BY rank), (a, b) -> a + b) AS sy,
        |        list_reduce(list(x * y ORDER BY rank), (a, b) -> a + b)
        |          AS sxy,
        |        list_reduce(list(x * x ORDER BY rank), (a, b) -> a + b)
        |          AS sxx
        |      FROM pts)
        |SELECT n AS n_terms,
        |  round(((CAST(n AS DOUBLE) * sxy) - (sx * sy)) /
        |    ((CAST(n AS DOUBLE) * sxx) - (sx * sx)), 6) AS slope,
        |  round((sy - ((((CAST(n AS DOUBLE) * sxy) - (sx * sy)) /
        |    ((CAST(n AS DOUBLE) * sxx) - (sx * sx))) * sx)) /
        |    CAST(n AS DOUBLE), 6) AS intercept
        |FROM s""".stripMargin)),
    // ── scale: per-source lexical diversity — token/type counts, TTR,
    //    Shannon entropy (word-sorted fold; q106's single-source twin)
    //    (oracle: DuckDB replays counts, entropy terms, and the fold) ──────
    QuerySpec("q146_lexical_diversity", (s, dir) => {
      TextAnalysis.lexicalDiversity(
          T(s, dir, "documents").select("source", "text"), "source", "text",
          deterministic = true)
        .select(col("group"), col("n_tokens"), col("n_types"),
          round(col("ttr"), 6).as("ttr"),
          round(col("entropy"), 6).as("entropy"),
          round(col("norm_entropy"), 6).as("norm_entropy"))
        .orderBy("group")
    }, bench = Some((s, dir) => {
      // q146 benches the PRODUCTION entropy path (plain sums; word-sorted
      // folds are the oracle-replay artifact — the q106 convention)
      val d = T(s, dir, "documents").select("source", "text")
      () => TextAnalysis.lexicalDiversity(d, "source", "text")
        .select(col("group"), col("n_tokens"), col("n_types"),
          round(col("ttr"), 6).as("ttr"),
          round(col("entropy"), 6).as("entropy"),
          round(col("norm_entropy"), 6).as("norm_entropy"))
        .orderBy("group")
    }), oracle = Some(
      """WITH tok AS (SELECT source AS g,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |counts AS (SELECT g, w, count(*) AS c FROM tok
        |           WHERE w <> '' GROUP BY 1, 2),
        |tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
        |          CAST(count(*) AS BIGINT) AS v FROM counts GROUP BY 1),
        |t AS (SELECT counts.g AS g, w,
        |        (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
        |          ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS term,
        |        n, v
        |      FROM counts JOIN tot ON counts.g = tot.g),
        |s AS (SELECT g, n, v,
        |        list_reduce(list(term ORDER BY w), (a, b) -> a + b) AS sm
        |      FROM t GROUP BY g, n, v)
        |SELECT g AS "group", n AS n_tokens, v AS n_types,
        |  round(CAST(v AS DOUBLE) / CAST(n AS DOUBLE), 6) AS ttr,
        |  round(-sm, 6) AS entropy,
        |  round(CASE WHEN v = 1 THEN CAST(0.0 AS DOUBLE)
        |             ELSE (-sm) / ln(CAST(v AS DOUBLE)) END, 6)
        |    AS norm_entropy
        |FROM s ORDER BY "group"""".stripMargin)),
    // ── scale: ranking evaluation — recall@k + NDCG@k of the exact
    //    cosine ranking against label relevance (the measurement half of
    //    the retrieval tier); gains/ideal sums are shared driver literals
    //    (oracle: DuckDB replays the ranking and both metrics) ────────────
    QuerySpec("q139_ranking_eval", (s, dir) => {
      val e = T(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 10)
      val ranked = Similarity.bruteForceTopK(e, queries, "vec_id",
          "embedding", 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      val rel = queries.select(col("vec_id").as("query_id"), col("label"))
        .join(e.select(col("vec_id").as("doc_id"), col("label")), Seq("label"))
        .filter(col("query_id") =!= col("doc_id"))
        .select("query_id", "doc_id")
      Ranking.evalRanking(ranked, rel, k = 10)
        .select(col("query_id"), col("n_rel"), col("hits"),
          round(col("recall"), 6).as("recall"),
          round(col("ndcg"), 6).as("ndcg"))
        .orderBy("query_id")
    }, oracle = Some(rankingEvalOracleSql(k = 10))),
    // ── scale: MRR + MAP@k — the order-sensitive retrieval-eval pair on
    //    the q139 ranked/relevant construction; AP folds rank-sorted
    //    (oracle: DuckDB replays the ranking, hit indices, and the fold) ───
    QuerySpec("q180_mrr_map", (s, dir) => {
      val e = T(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 10)
      val ranked = Similarity.bruteForceTopK(e, queries, "vec_id",
          "embedding", 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      val rel = queries.select(col("vec_id").as("query_id"), col("label"))
        .join(e.select(col("vec_id").as("doc_id"), col("label")), Seq("label"))
        .filter(col("query_id") =!= col("doc_id"))
        .select("query_id", "doc_id")
      Ranking.evalMrrMap(ranked, rel, k = 10)
        .select(col("query_id"), col("n_rel"), col("hits"),
          round(col("rr"), 6).as("rr"), round(col("ap"), 6).as("ap"))
        .orderBy("query_id")
    }, oracle = Some(
      """WITH q AS (SELECT vec_id AS query_id, label,
        |             CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |ranked AS (SELECT q.query_id, c.vec_id AS doc_id,
        |             row_number() OVER (PARTITION BY q.query_id
        |               ORDER BY list_cosine_similarity(
        |                 CAST(c.embedding AS DOUBLE[]), q.qv) DESC, c.vec_id)
        |               AS rank
        |           FROM q, embeddings c WHERE c.vec_id <> q.query_id
        |           QUALIFY rank <= 10),
        |rel AS (SELECT q.query_id, c.vec_id AS doc_id
        |        FROM q JOIN embeddings c
        |          ON c.label = q.label AND c.vec_id <> q.query_id),
        |nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
        |         FROM rel GROUP BY 1),
        |h AS (SELECT r.query_id, r.rank FROM ranked r
        |      JOIN rel ON r.query_id = rel.query_id AND r.doc_id = rel.doc_id),
        |i AS (SELECT query_id, rank,
        |        row_number() OVER (PARTITION BY query_id ORDER BY rank)
        |          AS hi
        |      FROM h),
        |d AS (SELECT query_id, CAST(count(*) AS BIGINT) AS hits,
        |        CAST(min(rank) AS BIGINT) AS first_rank,
        |        list_reduce(list(CAST(hi AS DOUBLE) / CAST(rank AS DOUBLE)
        |          ORDER BY rank), (a, b) -> a + b) AS apsum
        |      FROM i GROUP BY 1)
        |SELECT n.query_id, n.n_rel, coalesce(d.hits, 0) AS hits,
        |  round(coalesce(CAST(1.0 AS DOUBLE) /
        |    CAST(d.first_rank AS DOUBLE), CAST(0.0 AS DOUBLE)), 6) AS rr,
        |  round(coalesce(d.apsum, CAST(0.0 AS DOUBLE)) /
        |    CAST(least(n.n_rel, 10) AS DOUBLE), 6) AS ap
        |FROM nrel n LEFT JOIN d USING (query_id) ORDER BY query_id""".stripMargin)),
    // ── scale: MMR diverse top-k — relevant-but-not-redundant greedy
    //    selection over the TakeOrdered candidate set (driver-small
    //    greedy, the centroid contract); oracle: DuckDB replays candidate
    //    pruning, pairwise cosines, and 10 unrolled greedy rounds ─────────
    QuerySpec("q131_mmr_select", (s, dir) => {
      val e = T(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .first().getSeq[Float](0).map(_.toDouble).toSeq
      val withRel = e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"),
          Similarity.cosine(col("embedding"), array(qv.map(lit): _*))
            .as("rel"))
      Ranking.mmrSelect(withRel, "vec_id", "embedding", "rel",
          k = 10, lambda = 0.7, candidates = 50)
        .select(col("rank"), col("id"), round(col("rel"), 6).as("rel"),
          round(col("mmr"), 6).as("mmr"))
        .orderBy("rank")
    }, oracle = Some(mmrOracleSql(k = 10, lambda = 0.7, candidates = 50))),
    // ── scale: top principal component — power iteration over the
    //    distributed covariance grid (chained generators, no self-join);
    //    the d×d eigen-rounds are driver arithmetic in fixed index order
    //    (oracle: DuckDB replays means, covariance, and 3 unrolled
    //    matvec/normalize rounds bit-for-bit) ─────────────────────────────
    QuerySpec("q129_top_pc", (s, dir) => {
      Training.topPrincipalComponent(T(s, dir, "embeddings"), "vec_id",
          "embedding", rounds = 3, deterministic = true)
        .select(col("dim"), round(col("pc1"), 6).as("pc1"),
          round(col("eigenvalue"), 6).as("eigenvalue"))
        .orderBy("dim")
    }, bench = Some((s, dir) => {
      // q129 benches the PRODUCTION covariance path (plain sums; the
      // id-sorted folds are the oracle-replay artifact — q96/q98 convention)
      val e = T(s, dir, "embeddings")
      () => Training.topPrincipalComponent(e, "vec_id", "embedding",
          rounds = 3)
        .select(col("dim"), round(col("pc1"), 6).as("pc1"),
          round(col("eigenvalue"), 6).as("eigenvalue"))
        .orderBy("dim")
    }), oracle = Some(
      s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |x AS (SELECT id, unnest(range(len(v))) AS d, unnest(v) AS val
         |      FROM e),
         |mu AS (SELECT d, list_reduce(list(val ORDER BY id), (a, b) -> a + b) /
         |         CAST((SELECT count(*) FROM e) AS DOUBLE) AS m
         |       FROM x GROUP BY d),
         |c AS (SELECT id, d, val - m AS cv FROM x JOIN mu USING (d)),
         |p AS (SELECT a.id AS id, a.d AS i, b.d AS j, a.cv * b.cv AS prod
         |      FROM c a JOIN c b ON a.id = b.id),
         |cov AS (SELECT i, j,
         |          list_reduce(list(prod ORDER BY id), (a, b) -> a + b) /
         |          CAST((SELECT count(*) FROM e) - 1 AS DOUBLE) AS cij
         |        FROM p GROUP BY i, j),
         |w1 AS (SELECT i AS d,
         |         list_reduce(list(cij ORDER BY j), (a, b) -> a + b) AS w
         |       FROM cov GROUP BY i),
         |l1 AS (SELECT sqrt(list_reduce(list(w * w ORDER BY d),
         |         (a, b) -> a + b)) AS l FROM w1),
         |v1 AS (SELECT d, w / (SELECT l FROM l1) AS v FROM w1),
         |${pcRoundSql(2)},
         |${pcRoundSql(3)}
         |SELECT d + 1 AS dim, round(v, 6) AS pc1,
         |  round((SELECT l FROM l3), 6) AS eigenvalue
         |FROM v3 ORDER BY dim""".stripMargin)),
    // ── scale: collocation extraction — adjacent-token pairs ranked by
    //    lift = p(ab)/(p(a)p(b)), the log-free monotone form of PMI
    //    (oracle: DuckDB replays both count scans and the fixed-order
    //    double arithmetic bit-for-bit) ───────────────────────────────────
    QuerySpec("q102_collocations", (s, dir) => {
      TextAnalysis.collocations(T(s, dir, "documents").select("text"),
          "text", minCount = 5L, topN = 100)
        .select(col("term_a"), col("term_b"), col("pair_count"),
          round(col("lift"), 6).as("lift"))
        .orderBy(col("lift").desc, col("term_a"), col("term_b"))
    }, oracle = Some(
      """WITH toks AS (
        |  SELECT string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
        |uni AS (SELECT w, count(*) AS c
        |        FROM (SELECT unnest(t) AS w FROM toks) WHERE w <> '' GROUP BY w),
        |bi AS (SELECT g, count(*) AS c_ab FROM (
        |        SELECT unnest(list_transform(range(1, len(t)),
        |          i -> t[i] || ' ' || t[i+1])) AS g
        |        FROM toks WHERE len(t) >= 2) GROUP BY g),
        |tt AS (SELECT CAST(sum(c) AS DOUBLE) AS T FROM uni),
        |pp AS (SELECT CAST(sum(c_ab) AS DOUBLE) AS P FROM bi),
        |cand AS (SELECT c_ab, string_split(g, ' ')[1] AS term_a,
        |           string_split(g, ' ')[2] AS term_b
        |         FROM bi WHERE c_ab >= 5),
        |j AS (SELECT term_a, term_b, CAST(c_ab AS BIGINT) AS pair_count,
        |        ((CAST(c_ab AS DOUBLE) * T) * T) / ((P * ua.c) * ub.c) AS lift
        |      FROM cand
        |      JOIN uni ua ON cand.term_a = ua.w
        |      JOIN uni ub ON cand.term_b = ub.w
        |      CROSS JOIN tt CROSS JOIN pp)
        |SELECT term_a, term_b, pair_count, round(lift, 6) AS lift
        |FROM j ORDER BY lift DESC, term_a, term_b LIMIT 100""".stripMargin)),
    // ── scale: BPE merge TRAINING — learn the tokenizer's merge table
    //    from the corpus (oracle: the full training loop replayed in SQL,
    //    rounds unrolled — pair counts, argmax, greedy re-segmentation) ──
    QuerySpec("q87_bpe_train", (s, dir) => {
      // minPairCount = 1: the SQL oracle keeps merging while ANY pair
      // exists, so the Scala side must not stop early at the default
      // floor of 2 (irrelevant on this corpus, but the two sides must
      // share the stopping rule by construction, not by data)
      TextAnalysis.trainBpeMergesDF(
          T(s, dir, "documents").select("text"), "text", numMerges = 8,
          minPairCount = 1L)
        .select(col("rank"), col("left").as("merge_left"),
          col("right").as("merge_right"))
        .orderBy("rank")
    }, oracle = Some(bpeTrainOracleSql(8))),
    // ── scale: TF-IDF keyword extraction — top-3 terms per doc (oracle:
    //    DuckDB replays tokenization, smoothed idf, and the rank window) ─
    QuerySpec("q83_tfidf_keywords", (s, dir) => {
      Ranking.topKeywords(T(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", k = 3)
        .select(col("doc_id"), col("term"), col("rank").cast("long").as("rank"),
          col("tfidf"))
        .orderBy("doc_id", "rank")
    }, oracle = Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term <> '' GROUP BY 1, 2),
        |n AS (SELECT count(*) AS n FROM documents),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |w AS (SELECT tf.doc_id, tf.term,
        |        tf.tf * (ln((1.0 + n.n) / (1.0 + dfreq.df)) + 1.0) AS tfidf
        |      FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tfidf,
        |        row_number() OVER (PARTITION BY doc_id
        |                           ORDER BY tfidf DESC, term ASC) AS rank
        |      FROM w)
        |SELECT doc_id, term, CAST(rank AS BIGINT) AS rank,
        |  round(tfidf, 6) AS tfidf
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),
    // ── scale: BM25 query-relevance scoring — corpus slice by relevance
    //    to a fixed term set (oracle: DuckDB replays idf/tf/length
    //    normalization; per-doc sum folds term-sorted, ±1e-6 rounded) ────
    QuerySpec("q84_bm25_score", (s, dir) => {
      Ranking.bm25(T(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", Seq("join", "merge", "filter"))
        .select(col("doc_id"), round(col("bm25"), 6).as("bm25"))
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH t0 AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |st AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM t0),
        |t AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t0),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM t
        |       WHERE term IN ('join', 'merge', 'filter') GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |c AS (SELECT tf.doc_id,
        |        ln(1.0 + (st.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
        |          * tf.tf * 2.2
        |          / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl)) AS c
        |      FROM tf JOIN dfreq USING (term) CROSS JOIN st)
        |SELECT doc_id, round(sum(c), 6) AS bm25
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)))

  /** q60's learned-merge list (rank order), shared with the stress
    * harness. All pairs keep left ≠ right so the SQL oracle can merge a
    * round's occurrences independently — occurrences of such a pair
    * cannot overlap (an overlap at i, i+1 forces syms(i+1) = right =
    * left). The Spark expression handles left = right too
    * (left-to-right non-overlap, spec-covered). */
  private[graft] val bpeMerges = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "u"), ("r", "e"), ("o", "n"), ("e", "n"))

  /** Inline rank lookup for the q60 oracle: CASE over the merge table. */
  private def bpeRankCase(arr: String): String =
    bpeMerges.zipWithIndex.map { case ((a, b), r) =>
      s"WHEN $arr[i]='$a' AND $arr[i+1]='$b' THEN ${r + 1}"
    }.mkString("CASE ", " ", " ELSE NULL END")

  /** The q87 oracle: BPE TRAINING replayed in SQL, the `numMerges` rounds
    * unrolled as chained CTEs. Per round r: `p_r` counts adjacent symbol
    * pairs over the word table (each position, frequency-weighted), `b_r`
    * is the argmax with the trainer's tie order (count desc, left, right),
    * `s_r` re-segments by GREEDY LEFT-TO-RIGHT non-overlapping
    * replacement — position i merges iff it matches AND the maximal run
    * of consecutive matches ending at i has odd length (the closed form
    * of "not consumed by the merge at i−1"), which replays
    * `TextAnalysis.trainBpeMerges`' scan exactly (and BpeTokenCount's
    * application convention). */
  private[graft] def bpeTrainOracleSql(numMerges: Int): String = {
    val finalSel = (1 to numMerges)
      .map(r => s"SELECT $r AS rank, l AS merge_left, r AS merge_right FROM b$r")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeTrainCtes(numMerges, carryWord = false)}
       |SELECT CAST(rank AS BIGINT) AS rank, merge_left, merge_right FROM (
       |$finalSel
       |) ORDER BY rank""".stripMargin
  }

  /** The q87 training CTE chain (`w`, `s0`, and per round `p_r`/`b_r`/
    * `s_r`). With `carryWord` the word itself rides through every
    * re-segmentation, so `s<numMerges>` maps each distinct corpus word to
    * its FINAL segmentation — which is exactly what `BpeTokenCount`
    * produces for training-corpus words (training applies merges in rank
    * order with the same greedy left-to-right scan), giving the q278
    * fertility oracle its word → piece-count table without unrolling
    * application separately. */
  private def bpeTrainCtes(numMerges: Int, carryWord: Boolean): String = {
    val wc = if (carryWord) "word, " else ""
    val rounds = (1 to numMerges).map { r =>
      val prev = s"s${r - 1}"
      s"""p$r AS (
         |  SELECT u.p.l AS l, u.p.r AS r, sum(u.f) AS c FROM (
         |    SELECT unnest(list_transform(range(1, len(syms)), i ->
         |      struct_pack(l := syms[i], r := syms[i+1]))) AS p, f
         |    FROM $prev) u
         |  GROUP BY 1, 2),
         |b$r AS (SELECT l, r FROM p$r ORDER BY c DESC, l ASC, r ASC LIMIT 1),
         |s$r AS (
         |  SELECT ${wc}list_filter(list_transform(range(1, len(syms) + 1), i ->
         |      CASE WHEN mg[i] THEN syms[i] || syms[i+1]
         |           WHEN i > 1 AND coalesce(mg[i-1], false) THEN NULL
         |           ELSE syms[i] END), x -> x IS NOT NULL) AS syms, f
         |  FROM (
         |    SELECT ${wc}syms, f,
         |      list_transform(range(1, len(syms) + 1), i ->
         |        coalesce(mt[i], false) AND
         |        ((i - coalesce(list_max(list_filter(range(1, i + 1),
         |            j -> NOT coalesce(mt[j], true))), 0)) % 2 = 1)) AS mg
         |    FROM (
         |      SELECT ${wc}syms, f,
         |        list_transform(range(1, len(syms)), i ->
         |          syms[i] = b.l AND syms[i+1] = b.r) AS mt
         |      FROM $prev CROSS JOIN b$r b) q1) q2)""".stripMargin
    }
    s"""w AS (
       |  SELECT word, count(*) AS f FROM (
       |    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
       |    FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |s0 AS (SELECT ${wc}list_transform(range(1, length(word) + 1),
       |         i -> word[i:i]) AS syms, f FROM w),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  /** Unrolled Bradley–Terry MM rounds over the events "engagement duel"
    * stream (q327) — the pageRank-oracle pattern: t0 = 1.0, each round
    * joins pairs to the previous θ, folds denominators opponent-sorted,
    * and renormalizes to Σθ = n_items. */
  private def btOracleSql(rounds: Int): String = {
    val head =
      """WITH e AS (SELECT user_id, ts, event_id, event_type, value,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS pt,
        |    lag(value) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS pv
        |  FROM events),
        |duel AS (SELECT
        |    CASE WHEN value > pv THEN event_type ELSE pt END AS w,
        |    CASE WHEN value > pv THEN pt ELSE event_type END AS l
        |  FROM e
        |  WHERE pt IS NOT NULL AND pt <> event_type AND value <> pv),
        |wins AS (SELECT w, l, CAST(count(*) AS BIGINT) AS c FROM duel
        |  WHERE w <> l GROUP BY 1, 2),
        |pairs AS (SELECT i, j, CAST(sum(c) AS BIGINT) AS n FROM (
        |    SELECT w AS i, l AS j, c FROM wins
        |    UNION ALL SELECT l AS i, w AS j, c FROM wins) GROUP BY 1, 2),
        |wt AS (SELECT w AS i, CAST(sum(c) AS BIGINT) AS wins FROM wins
        |  GROUP BY 1),
        |it AS (SELECT p.i, CAST(coalesce(wt.wins, 0) AS BIGINT) AS wins
        |  FROM (SELECT DISTINCT i FROM pairs) p LEFT JOIN wt USING (i)),
        |ni AS (SELECT CAST(count(*) AS BIGINT) AS n FROM it),
        |t0 AS (SELECT i, CAST(1.0 AS DOUBLE) AS th FROM it)""".stripMargin
    val body = (1 to rounds).map { r =>
      s""",
         |d$r AS (SELECT p.i, list_reduce(
         |    list((CAST(p.n AS DOUBLE) / (a.th + b.th)) ORDER BY p.j),
         |    (x, y) -> x + y) AS d
         |  FROM pairs p JOIN t${r - 1} a ON p.i = a.i
         |  JOIN t${r - 1} b ON p.j = b.i GROUP BY p.i),
         |r$r AS (SELECT it.i, CASE WHEN d IS NULL OR d = 0.0
         |    THEN CAST(0.0 AS DOUBLE)
         |    ELSE CAST(wins AS DOUBLE) / d END AS raw
         |  FROM it LEFT JOIN d$r ON it.i = d$r.i),
         |s$r AS (SELECT list_reduce(list(raw ORDER BY i), (x, y) -> x + y)
         |    AS tot FROM r$r),
         |t$r AS (SELECT i,
         |    (raw * CAST((SELECT n FROM ni) AS DOUBLE))
         |      / (SELECT tot FROM s$r) AS th FROM r$r)""".stripMargin
    }.mkString
    head + body +
      s"""
         |SELECT it.i AS item, wins, round(t$rounds.th, 6) AS theta
         |FROM it JOIN t$rounds ON it.i = t$rounds.i ORDER BY item""".stripMargin
  }

  /** The q96 logistic-GD training loop unrolled in SQL: per round k, a
    * bucket-sorted z fold per doc, sigmoid residuals, a doc-sorted
    * gradient fold per bucket, and the weight update — every fold ordered
    * exactly as the Scala side's sort_array folds, so the doubles are
    * bit-identical round over round. */
  private def lrTrainOracleSql(rounds: Int, buckets: Int, lr: Double): String = {
    val header =
      s"""WITH lbl AS (
         |  SELECT doc_id, CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END AS y
         |  FROM documents),
         |toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
         |         FROM documents),
         |bg AS (SELECT doc_id,
         |         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS f
         |       FROM toks WHERE len(t) >= 2),
         |db AS (SELECT doc_id,
         |         CAST(('0x' || substr(md5(f), 1, 15))::UBIGINT % $buckets AS BIGINT)
         |           AS bucket,
         |         CAST(count(*) AS BIGINT) AS cnt
         |       FROM bg GROUP BY 1, 2),
         |ff AS (SELECT db.doc_id, bucket, cnt, y FROM db
         |         JOIN lbl ON db.doc_id = lbl.doc_id
         |       UNION ALL
         |       SELECT doc_id, -1 AS bucket, 1 AS cnt, y FROM lbl),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         |w0 AS (SELECT DISTINCT bucket, 0.0 AS w FROM ff),""".stripMargin
    val roundCtes = (1 to rounds).map { k =>
      s"""z$k AS (SELECT ff.doc_id, ff.y,
         |  list_reduce(list(ff.cnt * w.w ORDER BY ff.bucket), (a, b) -> a + b) AS z
         |  FROM ff JOIN w${k - 1} w ON ff.bucket = w.bucket GROUP BY 1, 2),
         |r$k AS (SELECT doc_id, 1.0 / (1.0 + exp(-z)) - y AS r FROM z$k),
         |g$k AS (SELECT bucket, s / (SELECT n FROM nn) AS g FROM (
         |  SELECT ff.bucket,
         |    list_reduce(list(ff.cnt * r.r ORDER BY ff.doc_id), (a, b) -> a + b) AS s
         |  FROM ff JOIN r$k r ON ff.doc_id = r.doc_id GROUP BY ff.bucket)),
         |w$k AS (SELECT w.bucket, w.w - $lr * g.g AS w
         |  FROM w${k - 1} w JOIN g$k g ON w.bucket = g.bucket),""".stripMargin
    }.mkString("\n").stripSuffix(",")
    s"$header\n$roundCtes\nSELECT bucket, round(w, 6) AS w FROM w$rounds ORDER BY bucket"
  }

  /** The q98 k-means training loop unrolled in SQL. Score parity with the
    * Scala side's augmented NearestCentroid loop: 64 index-order products
    * folded, then + (−(Σc²/2.0)) — the same op sequence, so assignments
    * and the id-sorted means are bit-identical round over round. */
  /** The q98 k-means round replay as a reusable WITH-chain prefix
    * (ends at CTE `c<rounds>` = the final centroids) — shared by the
    * training gate (q98) and the silhouette report built on the same
    * centroids (q246). */
  private def kmeansCtes(k: Int, rounds: Int, dims: Int): String = {
    val d1 = dims + 1
    val header =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
         |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, x
         |       FROM (SELECT vec_id, x FROM e ORDER BY vec_id LIMIT $k)),""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s"""s$r AS (SELECT e.vec_id, e.x, c.cluster,
         |  list_reduce(list_transform(range(1, $d1), i -> e.x[i] * c.x[i]),
         |      (p, q) -> p + q)
         |    + (-(list_reduce(list_transform(range(1, $d1), i -> c.x[i] * c.x[i]),
         |      (p, q) -> p + q) / 2.0)) AS score
         |  FROM e CROSS JOIN c${r - 1} c),
         |a$r AS (SELECT vec_id, x, cluster FROM (
         |  SELECT vec_id, x, cluster, row_number()
         |    OVER (PARTITION BY vec_id ORDER BY score DESC, cluster ASC) AS rn
         |  FROM s$r) WHERE rn = 1),
         |u$r AS (SELECT a.cluster, a.vec_id, d.i AS dim, a.x[d.i] AS v
         |        FROM a$r a CROSS JOIN (SELECT unnest(range(1, $d1)) AS i) d),
         |m$r AS (SELECT cluster, dim,
         |          list_reduce(list(v ORDER BY vec_id), (p, q) -> p + q) / count(*) AS v
         |        FROM u$r GROUP BY 1, 2),
         |c$r AS (SELECT p.cluster, coalesce(n.x, p.x) AS x
         |        FROM c${r - 1} p LEFT JOIN (SELECT cluster, list(v ORDER BY dim) AS x
         |                                    FROM m$r GROUP BY cluster) n
         |          USING (cluster)),""".stripMargin
    }.mkString("\n")
    s"$header\n$roundCtes"
  }

  private def kmeansOracleSql(k: Int, rounds: Int, dims: Int): String = {
    val d1 = dims + 1
    s"""${kmeansCtes(k, rounds, dims).stripSuffix(",")}
       |SELECT cluster, d.i AS dim, round(x[d.i], 6) AS value
       |FROM c$rounds CROSS JOIN (SELECT unnest(range(1, $d1)) AS i) d
       |ORDER BY cluster, dim""".stripMargin
  }

  /** q246 silhouette oracle: the same k-means chain, then per-point
    * dist² to every centroid (dim-ascending folds), a = nearest (own)
    * cluster, b = second-nearest, simplified silhouette (b−a)/max(a,b),
    * per-cluster id-sorted mean folds. Tie convention (dist², cluster)
    * matches the Scala sort_array struct order. */
  private def silhouetteOracleSql(k: Int, rounds: Int, dims: Int): String = {
    val d1 = dims + 1
    s"""${kmeansCtes(k, rounds, dims)}
       |pc AS (SELECT e.vec_id, c.cluster,
       |    list_reduce(list_transform(range(1, $d1),
       |      i -> (e.x[i] - c.x[i]) * (e.x[i] - c.x[i])), (p, q) -> p + q)
       |      AS d2
       |  FROM e CROSS JOIN c$rounds c),
       |r AS (SELECT vec_id, cluster, d2, row_number()
       |    OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
       |  FROM pc),
       |ab AS (SELECT r1.vec_id, r1.cluster, sqrt(r1.d2) AS a, sqrt(r2.d2) AS b
       |  FROM r r1 JOIN r r2 ON r1.vec_id = r2.vec_id
       |  WHERE r1.rn = 1 AND r2.rn = 2),
       |sil AS (SELECT vec_id, cluster, a,
       |    CASE WHEN greatest(a, b) = 0 THEN 0.0
       |         ELSE (b - a) / greatest(a, b) END AS s
       |  FROM ab)
       |SELECT cluster, CAST(count(*) AS BIGINT) AS n,
       |  round(list_reduce(list(a ORDER BY vec_id), (p, q) -> p + q)
       |    / CAST(count(*) AS DOUBLE), 6) AS mean_dist,
       |  round(list_reduce(list(s ORDER BY vec_id), (p, q) -> p + q)
       |    / CAST(count(*) AS DOUBLE), 6) AS mean_silhouette
       |FROM sil GROUP BY cluster ORDER BY cluster""".stripMargin
  }

  /** q264 lang-margin oracle: the q172 marker scorer's integer counts,
    * top-2 margin via a descending sort of the fixed score list —
    * everything but the final mean is integer-exact. */
  private def langidMarginOracleSql: String = {
    val langs = graft.operators.TextAnalysis.markerLexicon.keys.toSeq.sorted
    val scores = langs.map { l =>
      val pat = "(?i)\\b(" +
        graft.operators.TextAnalysis.markerLexicon(l).mkString("|") + ")\\b"
      s"len(regexp_extract_all(text, '$pat'))"
    }.mkString("[", ", ", "]")
    s"""WITH m AS (SELECT source,
       |    CAST(list_sort($scores, 'DESC')[1]
       |      - list_sort($scores, 'DESC')[2] AS BIGINT) AS mg
       |  FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN mg <= 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_low_margin,
       |  round(CAST(sum(mg) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
       |    AS mean_margin
       |FROM m GROUP BY source ORDER BY source""".stripMargin
  }

  /** q240 RBO oracle: q92's two ranker replays (BM25 term-sorted fold,
    * embedding cosine) joined on the shared prefix; the per-depth weight
    * table comes VERBATIM from `Ranking.rboWeights` as a literal array
    * (the q139 shared-literal convention — no cross-engine pow/suffix-sum
    * parity to defend), id-sorted fold, (1−p) as the same IEEE literal
    * Spark computes. */
  private def rboOracleSql(p: Double, k: Int): String = {
    val w = operators.Ranking.rboWeights(p, k)
    val arr = w.map(java.lang.Double.toString).mkString("[", ", ", "]")
    val oneMinusP = java.lang.Double.toString(1.0 - p)
    s"""WITH t0 AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |  FROM documents),
       |st AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM t0),
       |t AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t0),
       |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM t
       |       WHERE term IN ('join', 'merge', 'filter') GROUP BY 1, 2, 3),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |c AS (SELECT tf.doc_id, tf.term,
       |        ln(1.0 + (st.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
       |          * tf.tf * 2.2
       |          / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl)) AS c
       |      FROM tf JOIN dfreq USING (term) CROSS JOIN st),
       |bm AS (SELECT doc_id,
       |         list_reduce(list(c ORDER BY term), (a, b) -> a + b) AS bm
       |       FROM c GROUP BY doc_id),
       |lex AS (SELECT doc_id, CAST(row_number()
       |          OVER (ORDER BY bm DESC, doc_id) AS INTEGER) AS rank_lex
       |        FROM bm QUALIFY rank_lex <= $k),
       |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |       WHERE vec_id = 0),
       |sem0 AS (SELECT vec_id AS doc_id,
       |           list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv.v)
       |             AS cs
       |         FROM embeddings, qv),
       |sem AS (SELECT doc_id, CAST(row_number()
       |          OVER (ORDER BY cs DESC, doc_id) AS INTEGER) AS rank_sem
       |        FROM sem0 QUALIFY rank_sem <= $k),
       |wt AS (SELECT $arr AS warr),
       |j AS (SELECT lex.doc_id AS id,
       |        greatest(rank_lex, rank_sem) AS m
       |      FROM lex JOIN sem ON lex.doc_id = sem.doc_id)
       |SELECT CAST(count(*) AS BIGINT) AS n_shared,
       |  round($oneMinusP * list_reduce(
       |    list(wt.warr[j.m + 1] ORDER BY j.id), (a, b) -> a + b), 6) AS rbo
       |FROM j CROSS JOIN wt""".stripMargin
  }

  /** q139 ranking-eval oracle: the q27 cosine-ranking replay + the
    * metric formulas with the OPERATOR'S OWN gain/ideal literals
    * (driver-computed, embedded via toString — no cross-engine log
    * parity to defend). */
  private def rankingEvalOracleSql(k: Int): String = {
    val gains = (1 to k).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))
    val cums = gains.scanLeft(0.0)(_ + _).tail
    val gainCase = gains.zipWithIndex
      .map { case (g, i) => s"WHEN ${i + 1} THEN CAST($g AS DOUBLE)" }
      .mkString("CASE rank ", " ", " END")
    val idcgCase = cums.zipWithIndex
      .map { case (c, i) => s"WHEN ${i + 1} THEN CAST($c AS DOUBLE)" }
      .mkString(s"CASE LEAST(n_rel, $k) ", " ", " END")
    s"""WITH q AS (SELECT vec_id AS query_id, label,
       |             CAST(embedding AS DOUBLE[]) AS qv
       |           FROM embeddings WHERE vec_id < 10),
       |ranked AS (SELECT q.query_id, c.vec_id AS doc_id,
       |             row_number() OVER (PARTITION BY q.query_id
       |               ORDER BY list_cosine_similarity(
       |                 CAST(c.embedding AS DOUBLE[]), q.qv) DESC, c.vec_id)
       |               AS rank
       |           FROM q, embeddings c WHERE c.vec_id <> q.query_id
       |           QUALIFY rank <= $k),
       |rel AS (SELECT q.query_id, c.vec_id AS doc_id
       |        FROM q JOIN embeddings c
       |          ON c.label = q.label AND c.vec_id <> q.query_id),
       |nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
       |         FROM rel GROUP BY 1),
       |h AS (SELECT r.query_id, r.rank FROM ranked r
       |      JOIN rel ON r.query_id = rel.query_id AND r.doc_id = rel.doc_id),
       |d AS (SELECT query_id, CAST(count(*) AS BIGINT) AS hits,
       |        list_reduce(list($gainCase ORDER BY rank), (a, b) -> a + b)
       |          AS dcg
       |      FROM h GROUP BY 1)
       |SELECT n.query_id, n.n_rel, coalesce(d.hits, 0) AS hits,
       |  round(CAST(coalesce(d.hits, 0) AS DOUBLE) /
       |    CAST(n.n_rel AS DOUBLE), 6) AS recall,
       |  round(coalesce(d.dcg, CAST(0.0 AS DOUBLE)) / ($idcgCase), 6) AS ndcg
       |FROM nrel n LEFT JOIN d USING (query_id) ORDER BY query_id""".stripMargin
  }

  /** q131 MMR oracle: candidate pruning (rel desc, id), all pairwise
    * cosines, then `k` unrolled greedy rounds — round 1's score is λ·rel
    * (subtracting (1−λ)·0.0 is the identity in IEEE, matching the
    * driver); later rounds join the selected set for the max-cosine
    * penalty. λ and (1−λ) embed as exact Double.toString literals. */
  private def mmrOracleSql(k: Int, lambda: Double, candidates: Int): String = {
    val lam = lambda.toString
    val oml = (1.0 - lambda).toString
    val rounds = (2 to k).map { t =>
      val p = t - 1
      s"""m$t AS (SELECT c.id, c.rel, max(pc.cs) AS ms
         |       FROM cand c JOIN pc ON pc.ia = c.id
         |       JOIN sel$p s ON pc.ib = s.id
         |       WHERE c.id NOT IN (SELECT id FROM sel$p)
         |       GROUP BY c.id, c.rel),
         |s$t AS (SELECT id, rel, score FROM (
         |         SELECT id, rel,
         |           (CAST($lam AS DOUBLE) * rel) -
         |           (CAST($oml AS DOUBLE) * ms) AS score
         |         FROM m$t)
         |       QUALIFY row_number() OVER (ORDER BY score DESC, id) = 1),
         |sel$t AS MATERIALIZED (SELECT id, rel, score, rank FROM sel$p UNION ALL
         |          SELECT id, rel, score, $t AS rank FROM s$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |            WHERE vec_id = 0),
       |cand0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
       |            list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv.v)
       |              AS rel
       |          FROM embeddings, qv WHERE vec_id <> 0),
       |cand AS MATERIALIZED (SELECT id, v, rel FROM cand0
       |         QUALIFY row_number() OVER (ORDER BY rel DESC, id)
       |           <= $candidates),
       |pc AS MATERIALIZED (SELECT a.id AS ia, b.id AS ib,
       |         list_cosine_similarity(a.v, b.v) AS cs
       |       FROM cand a JOIN cand b ON a.id <> b.id),
       |s1 AS (SELECT id, rel, CAST($lam AS DOUBLE) * rel AS score FROM cand
       |       QUALIFY row_number()
       |         OVER (ORDER BY CAST($lam AS DOUBLE) * rel DESC, id) = 1),
       |sel1 AS MATERIALIZED (SELECT id, rel, score, 1 AS rank FROM s1),
       |$rounds
       |SELECT rank, id, round(rel, 6) AS rel, round(score, 6) AS mmr
       |FROM sel$k ORDER BY rank""".stripMargin
  }

  /** q129 power-iteration round t: matvec against v(t−1) with a j-sorted
    * fold, L2 norm with an i-sorted fold, normalize — each op mirrors the
    * driver loop's fixed index order. */
  private def pcRoundSql(t: Int): String = {
    val prev = t - 1
    s"""w$t AS (SELECT cov.i AS d,
       |         list_reduce(list(cij * v ORDER BY j), (a, b) -> a + b) AS w
       |       FROM cov JOIN v$prev ON cov.j = v$prev.d GROUP BY cov.i),
       |l$t AS (SELECT sqrt(list_reduce(list(w * w ORDER BY d),
       |         (a, b) -> a + b)) AS l FROM w$t),
       |v$t AS (SELECT d, w / (SELECT l FROM l$t) AS v FROM w$t)""".stripMargin
  }
}
