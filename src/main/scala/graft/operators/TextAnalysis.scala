package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * codegen'd expressions over a string column — embarrassingly parallel,
  * no shuffle at all, so they stream at scan speed at any data size. */
object TextAnalysis {

  /** PII redaction patterns (applied in order — order matters: an IPv4
    * inside a longer digit run would otherwise be eaten by the phone
    * pattern). Constructs are restricted to the Java∩RE2 common subset
    * (no lookaround) so external engines can replay the exact chain. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"),
    ("phone", "\\+?\\d[\\d().\\s-]{6,}\\d", "<PHONE>"))

  /** Redact emails / IPv4s / phone-shaped digit runs (the standard
    * C4/Dolma-style scrub stage) — a chain of codegen'd regexp_replace
    * projections, no shuffle. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (_, p, r)) => regexp_replace(c, p, r) }

  /** HTML/markup → clean text (fused [[graft.functions.StripMarkup]]
    * scan): script/style blocks drop with contents, tags drop, entities
    * decode single-pass, whitespace collapses. Pure projection — the
    * crawl-ingest front door stays shuffle-free at any scale. */
  def stripMarkup(text: Column): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.StripMarkup(
        org.apache.spark.sql.graft.bridge.expression(text)))

  /** Feature-hashed dense embedding of `text` (tokens hash to signed
    * dimensions, l2-normalized — see [[graft.functions.HashedEmbedding]]):
    * model-free `Array[Float]` vectors compatible with the
    * Similarity/Dedup ANN tier, as a pure projection. `portable = true`
    * selects the md5-based hash a SQL oracle can replay. */
  def hashEmbedding(text: Column, dim: Int, portable: Boolean = false): Column =
    graft.functions.TextStats.hashed_embedding(
      Dedup.tokensCol(text), dim, if (portable) "md5_60" else "xxhash64")

  /** Deflate compression ratio (compressed/raw bytes) — the
    * Gopher-family redundancy signal: boilerplate and templated text
    * compresses far below prose. Pure projection
    * ([[graft.functions.CompressionRatio]]); spec-verified (no SQL engine
    * replays raw deflate, so this is deliberately not oracle-gated). */
  def compressionRatio(text: Column, level: Int = 6): Column =
    graft.functions.TextStats.compression_ratio(text, level)

  /** Unicode NFC composition + control/whitespace cleanup (fused
    * [[graft.functions.NormalizeText]] scan) — the canonicalization stage
    * that runs BEFORE hash/shingle/token operators so byte-level encoding
    * variants of the same text dedup as one document. Pure projection. */
  def normalizeText(text: Column): Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.functions.NormalizeText(
        org.apache.spark.sql.graft.bridge.expression(text)))

  /** Linear classifier inference over [[hashEmbedding]] features —
    * fastText-style quality/domain filtering at scan speed:
    * `sigmoid(w · hashEmbed(text) + bias)`. The weight vector rides along
    * as a literal array (a trained model is driver-small by definition),
    * the dot product folds with builtin higher-order functions, and the
    * whole score is a shuffle-free projection — classifier-filtering a
    * 100 TB corpus costs one scan, no model server anywhere.
    * `weights.size` fixes the embedding dimension. */
  def hashedLinearScore(text: Column, weights: Seq[Double], bias: Double,
      portable: Boolean = false): Column = {
    require(weights.nonEmpty, "weights must be non-empty")
    val products = zip_with(
      hashEmbedding(text, weights.size, portable), typedLit(weights),
      (a, b) => a * b)
    // sequential index-order fold — deterministic double summation
    val dot = aggregate(products, lit(0.0), (acc, x) => acc + x)
    lit(1.0) / (lit(1.0) + exp(-(dot + lit(bias))))
  }

  /** Fixed-token-window chunking with overlap — the sequence-prep stage
    * of a pretraining/RAG pipeline: each document's whitespace tokens
    * split into windows of `window` tokens every `stride` tokens
    * (`stride < window` ⇒ overlapping context). One row per chunk:
    * (id, chunk_id, start, n_tokens, chunk_text). Pure
    * projection + posexplode — no shuffle; a document's chunks stay in
    * its partition, so chunking a 100 TB corpus is a single scan. */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window > 0, s"window must be > 0, got $window")
    require(stride > 0, s"stride must be > 0, got $stride")
    df.select(col(idCol), Dedup.tokensCol(col(textCol)).as("__t"))
      // tokensCol of an all-whitespace doc is [""] (size ≥ 1), so the
      // sequence upper bound is always ≥ 0 and every doc chunks
      .select(col(idCol), col("__t"),
        posexplode(sequence(lit(0), size(col("__t")) - 1, lit(stride)))
          .as(Seq("chunk_id", "start")))
      .select(col(idCol), col("chunk_id"), col("start"),
        slice(col("__t"), col("start") + 1, lit(window)).as("__c"))
      .select(col(idCol), col("chunk_id"), col("start"),
        size(col("__c")).as("n_tokens"),
        array_join(col("__c"), " ").as("chunk_text"))
  }

  /** Redaction AND audit counts in one fused pass —
    * struct(redacted, email, ipv4, phone). Selecting [[redactPii]] and
    * [[piiCounts]] together runs the 3-pattern chain twice (6 regex
    * passes); this runs each pattern once, counting and substituting in
    * the same Matcher loop. Values identical (same Patterns, same order —
    * spec-asserted). */
  def piiRedactWithCounts(text: Column): Column =
    graft.functions.TextStats.pii_redact_counts(text, piiPatterns)

  /** How many spans each pattern ACTUALLY redacts (for audit/reporting):
    * counted sequentially on the progressively-redacted text, exactly
    * mirroring the redactPii chain — counting every pattern on the raw
    * text would double-count (an IPv4 also matches the phone digit-run
    * pattern, but the chain redacts it as <IP> first). */
  def piiCounts(text: Column): Column = {
    val (fields, _) = piiPatterns.foldLeft((Seq.empty[Column], text)) {
      case ((acc, cur), (name, p, r)) =>
        (acc :+ size(regexp_extract_all(cur, lit(p), lit(0))).as(name),
          regexp_replace(cur, p, r))
    }
    struct(fields: _*)
  }

  /** The fused one-pass counters struct (see [[graft.functions.TextCounts]]).
    * Build it ONCE per select and read fields off it — Spark's runtime
    * subexpression elimination dedupes repeated references. */
  def textCounts(text: Column): Column = graft.functions.TextStats.text_counts(text)

  /** Whitespace token count (fused scan; regex twin below is the
    * spec-asserted reference semantics). */
  def tokenCount(text: Column): Column = textCounts(text).getField("tokens")

  private[graft] def tokenCountRegex(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword count: words, numbers, and punctuation runs counted
    * separately (a cheap stand-in for a real tokenizer's token count).
    * [[bpeTokenCount]] is the merge-true version. */
  def bpeishTokenCount(text: Column): Column = textCounts(text).getField("bpeish")

  /** REAL BPE token count from a learned merge list (rank order), greedy
    * min-rank merging per word — see
    * [[graft.functions.BpeTokenCount]] for the exact algorithm and
    * conventions. `bpeishTokenCount` stays the zero-config heuristic
    * twin; this is what packing/budgeting should use when the
    * tokenizer's merges file is available. */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    graft.functions.TextStats.bpe_token_count(text, merges)

  /** Learn a BPE merge table from the corpus — the training twin of
    * [[bpeTokenCount]] (which APPLIES a given table; q60). Standard
    * word-level BPE (Sennrich et al. 2016 / the GPT-2 merges.txt model):
    *
    *  1. ONE corpus pass collapses everything to the word-frequency
    *     table — the only corpus-sized computation; at any corpus scale
    *     training cost is then a function of VOCABULARY size, not tokens.
    *  2. Per round: count adjacent symbol pairs over the word table
    *     (each occurrence position counts, weighted by word frequency),
    *     take the argmax (ties → smaller (left, right), so training is
    *     deterministic), and re-segment every word by greedy
    *     left-to-right non-overlapping replacement — the exact
    *     application semantics of [[graft.functions.BpeTokenCount]], so
    *     learned tables compose with q60's counter bit-for-bit.
    *
    * The word table trains driver-side when it fits (`maxDriverVocab`
    * rows — the common case even for web-scale corpora; a 100 TB crawl's
    * word vocabulary is millions, not billions) and otherwise iterates
    * distributed: per round, a pair-count aggregate over the words frame
    * plus a fold-HOF re-segmentation, both vocabulary-frame-sized. The
    * two paths are spec-asserted identical (the distributed fold IS the
    * greedy scan: a merged symbol never equals the bare left symbol it
    * replaced unless right is empty, which merges.txt forbids).
    *
    * Stops early if no pair occurs ≥ `minPairCount` times. Returns the
    * merge list in rank order, ready for [[bpeTokenCount]]. */
  def trainBpeMerges(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      minPairCount: Long = 2L,
      maxDriverVocab: Long = 2000000L): Seq[(String, String)] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    val words = df
      .select(explode(Dedup.tokensCol(col(textCol))).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy("__w").agg(count(lit(1)).as("__f"))
    val vocab = words.count()
    if (vocab <= maxDriverVocab)
      trainDriver(words.collect().map(r => (r.getString(0), r.getLong(1))),
        numMerges, minPairCount)
    else trainDistributed(words, numMerges, minPairCount)
  }

  /** [[trainBpeMerges]] as a gate-able frame: (rank, left, right). */
  def trainBpeMergesDF(df: DataFrame, textCol: String, numMerges: Int,
      minPairCount: Long = 2L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    trainBpeMerges(df, textCol, numMerges, minPairCount).zipWithIndex
      .map { case ((l, r), i) => ((i + 1).toLong, l, r) }
      .toDF("rank", "left", "right")
  }

  private def trainDriver(
      wordFreqs: Array[(String, Long)],
      numMerges: Int,
      minPairCount: Long): Seq[(String, String)] = {
    // words as symbol arrays (codepoint-level init, like BpeTokenCount)
    var words: Array[(Array[String], Long)] = wordFreqs.map { case (w, f) =>
      val syms = new scala.collection.mutable.ArrayBuffer[String](w.length)
      var i = 0
      while (i < w.length) {
        val c = Character.charCount(w.codePointAt(i))
        syms += w.substring(i, i + c)
        i += c
      }
      (syms.toArray, f)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    while (round < numMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) round = numMerges
      else {
        val (best, cnt) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        if (cnt < minPairCount) round = numMerges
        else {
          merges += best
          val (a, b) = best
          words = words.map { case (syms, f) =>
            if (syms.length < 2) (syms, f)
            else {
              val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
              var i = 0
              while (i < syms.length) {
                if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
                  out += a + b; i += 2
                } else { out += syms(i); i += 1 }
              }
              (out.toArray, f)
            }
          }
          round += 1
        }
      }
    }
    merges.toSeq
  }

  private def trainDistributed(
      words: DataFrame,
      numMerges: Int,
      minPairCount: Long): Seq[(String, String)] = {
    // symbols column: codepoint split (regex split on empty with -1 keeps
    // surrogate pairs intact via codepoint-aware split below)
    var cur = words.select(
      split(col("__w"), "(?<!^)(?=.)").as("__syms"), col("__f"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    while (round < numMerges) {
      val top = cur
        .select(explode(zip_with(
          slice(col("__syms"), lit(1), size(col("__syms")) - 1),
          slice(col("__syms"), lit(2), size(col("__syms")) - 1),
          (l, r) => struct(l.as("l"), r.as("r")))).as("__p"), col("__f"))
        .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
        .agg(sum(col("__f")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < minPairCount) round = numMerges
      else {
        val a = top(0).getString(0); val b = top(0).getString(1)
        merges += ((a, b))
        // greedy left-to-right replacement as a left fold: append each
        // symbol, but if the accumulator ends in `a` (un-merged this
        // round) and the next symbol is `b`, replace that tail with a+b.
        // Guard __m marks whether the tail `a` was itself just formed by
        // this round's merge (a+b == a only if b is empty — impossible),
        // so plain equality on the tail is exactly the scan semantics.
        val next = cur.select(
          aggregate(col("__syms"),
            array().cast("array<string>"),
            (acc, x) =>
              when(size(acc) > 0 &&
                  element_at(acc, -1) === lit(a) && x === lit(b),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
                .otherwise(concat(acc, array(x)))).as("__syms"),
          col("__f"))
          .localCheckpoint(true)
        cur.unpersist()
        cur = next
        round += 1
      }
    }
    merges.toSeq
  }

  /** Parse a standard `merges.txt`: one "left right" pair per line, rank
    * = line order; blank lines and the `#version` header line skipped
    * (GPT-2's convention). ONLY `#version` is treated as a header —
    * `# #` and friends are legitimate merges ('#' begins real subword
    * symbols in scraped-markdown vocabularies). Load driver-side and
    * pass to [[bpeTokenCount]]. */
  def parseMerges(lines: IterableOnce[String]): Seq[(String, String)] =
    lines.iterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#version"))
      .map { l =>
        val sp = l.indexOf(' ')
        require(sp > 0 && l.indexOf(' ', sp + 1) < 0,
          s"malformed merges line (expected 'left right'): '$l'")
        (l.substring(0, sp), l.substring(sp + 1))
      }
      .toSeq

  private[graft] def bpeishTokenCountRegex(text: Column): Column =
    size(regexp_extract_all(text,
      lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** n-gram-heuristic language ID over a small marker lexicon per language.
    * Scores = count of marker-word hits; prediction = argmax (ties broken
    * by language code order). Returns a struct {lang, score}. */
  val markerLexicon: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "en", "que", "por"),
    "fr" -> Seq("le", "la", "les", "est", "et", "dans", "que", "pour", "une"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "wo3", "you3", "he2"))

  /** Marker hits for ONE language (regex form — the fused [[langId]] path
    * shares a single tokenization across all languages instead). */
  def langScore(text: Column, lang: String): Column = {
    val pattern = "(?i)\\b(" + markerLexicon(lang).mkString("|") + ")\\b"
    regexp_count(text, lit(pattern))
  }

  /** argmax over per-language marker hits, ties broken by language code
    * order — one fused tokenization scan for all languages. */
  def langId(text: Column): Column = {
    val langs = markerLexicon.keys.toSeq.sorted
    graft.functions.TextStats.lang_id_best(text, langs, langs.map(markerLexicon))
  }

  private[graft] def langIdRegex(text: Column): Column = {
    val langs = markerLexicon.keys.toSeq.sorted
    val scored = array(langs.map(l =>
      struct(langScore(text, l).as("score"), lit(l).as("lang"))): _*)
    // argmax: sort by (-score, lang) and take the head
    val best = element_at(array_sort(scored,
      (a, b) => when(a.getField("score") > b.getField("score"), -1)
        .when(a.getField("score") < b.getField("score"), 1)
        .when(a.getField("lang") < b.getField("lang"), -1)
        .when(a.getField("lang") > b.getField("lang"), 1)
        .otherwise(0)), 1)
    best.getField("lang")
  }

  /** Heuristic quality score in [0, 1]: blends length band, alpha ratio,
    * punctuation ratio, stopword presence, and mean word length band.
    * All five inputs come off ONE fused counters struct; the arithmetic
    * is identical to the regex twin (and the DuckDB oracle). */
  def qualityScore(text: Column): Column = {
    val tc = textCounts(text)
    val n = tc.getField("chars").cast(DoubleType)
    val alpha = tc.getField("alpha").cast(DoubleType)
    val punct = tc.getField("punct").cast(DoubleType)
    val stop = tc.getField("stop").cast(DoubleType)
    val toks = tc.getField("tokens").cast(DoubleType)
    qualityFormula(n, alpha, punct, stop, toks)
  }

  private def qualityFormula(n: Column, alpha: Column, punct: Column,
      stop: Column, toks: Column): Column = {
    val lenScore = least(n / lit(500.0), lit(1.0))
    val alphaRatio = when(n > 0, alpha / n).otherwise(0.0)
    val punctPenalty = lit(1.0) - least(when(n > 0, punct / n).otherwise(0.0) * 10.0, lit(1.0))
    val stopScore = least(when(toks > 0, stop / toks).otherwise(0.0) * 4.0, lit(1.0))
    round(lenScore * 0.25 + alphaRatio * 0.25 + punctPenalty * 0.25 + stopScore * 0.25, 6)
  }

  private[graft] def qualityScoreRegex(text: Column): Column =
    qualityFormula(
      length(text).cast(DoubleType),
      length(regexp_replace(text, "[^A-Za-z]", "")).cast(DoubleType),
      length(regexp_replace(text, "[^.,;:!?]", "")).cast(DoubleType),
      regexp_count(text, lit("(?i)\\b(the|and|of|to|a|in|is|it)\\b")).cast(DoubleType),
      tokenCountRegex(text).cast(DoubleType))

  /** Canonical content fingerprint: lowercase, strip non-alphanumerics,
    * collapse whitespace, MD5. Robust to formatting-only edits. */
  def fingerprint(text: Column): Column =
    md5(graft.functions.TextStats.canonical_text(text))

  private[graft] def fingerprintRegex(text: Column): Column =
    md5(regexp_replace(trim(regexp_replace(lower(text), "[^a-z0-9\\s]", " ")), "\\s+", " "))

  /** k-gram hash array for winnowing — POSITIONAL k-grams (every
    * occurrence, document order: winnowing's sliding window is positional;
    * deduping k-grams first would distort window minima). Materialize this
    * in its own projection before calling winnowFromHashes — referencing a
    * non-trivial expression from inside the winnow lambda would re-inline
    * the whole shingle+hash pipeline per window position. `hash` defaults
    * to xxhash64; pass Dedup.md5Hash60 for oracle-reproducible output. */
  def kgramHashes(tokens: Column, k: Int = 5,
      hash: Column => Column = xxhash64(_)): Column =
    transform(Dedup.shinglesOfAll(tokens, k), g => hash(g))

  /** Winnowing over a MATERIALIZED hash-array column: per-window minima
    * (window = `window` consecutive k-grams), deduplicated. */
  def winnowFromHashes(hashes: Column, window: Int = 4): Column = {
    val nWin = greatest(size(hashes) - (window - 1), lit(1))
    array_distinct(transform(sequence(lit(0), nWin - 1),
      i => array_min(slice(hashes, i + 1, lit(window)))))
  }

  /** Fused winnowing fingerprints over an already-split token array:
    * shingle → hash → window minima → dedup in ONE compiled pass (the
    * kgramHashes/winnowFromHashes HOF chain evaluates its lambdas
    * interpreted per window position — kept below as the spec-asserted
    * reference and for arbitrary custom hash columns). `hashKind`
    * `"md5_60"` produces `Dedup.md5Hash60` fingerprints for
    * oracle-replayable output. */
  def winnowedHashes(tokens: Column, k: Int = 5, window: Int = 4,
      hashKind: String = "xxhash64"): Column =
    graft.functions.TextStats.winnowed_hashes(tokens, k, window, hashKind)

  /** Rolling-hash k-gram fingerprint set (winnowing-lite) over a documents
    * frame — the fused one-pass expression. Adds `outCol: array<long>`. */
  def winnowedFingerprints(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      outCol: String = "fingerprints",
      k: Int = 5,
      window: Int = 4): org.apache.spark.sql.DataFrame =
    df.withColumn(outCol,
      winnowedHashes(Dedup.tokensCol(col(textCol)), k, window))

  /** Gopher/MassiveText-style repetition quality signals —
    * struct(dup_line_frac, dup_2gram_frac, adj_repeat_frac), fused
    * one-pass scan. The built-in-function twin below defines the
    * semantics (and the q55 oracle); parity is spec-asserted. */
  def repetitionStats(text: Column): Column =
    graft.functions.TextStats.repetition_stats(text)

  private[graft] def repetitionStatsBuiltin(text: Column): Column = {
    val lines = split(text, "\n")
    val nl = size(lines).cast(DoubleType)
    val dupLine = round((nl - size(array_distinct(lines))) / nl, 6)
    val toks = Dedup.tokensCol(text)
    val grams = Dedup.shinglesOfAll(toks, 2)
    val ng = size(grams).cast(DoubleType)
    val dup2 = when(size(toks) >= 2,
      round((ng - size(array_distinct(grams))) / ng, 6)).otherwise(0.0)
    val adj = when(size(toks) >= 2,
      round(size(filter(zip_with(slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1), (a, b) => a === b),
        x => x)).cast(DoubleType) / (size(toks) - 1), 6)).otherwise(0.0)
    struct(dupLine.as("dup_line_frac"), dup2.as("dup_2gram_frac"),
      adj.as("adj_repeat_frac"))
  }

  // ── Bigram LM perplexity (CCNet-style quality filtering) ───────────

  /** A trained bigram model, all lazy frames: `bigrams` (w1, w2, cnt),
    * `contexts` (w1, ctx_cnt = Σ_w2 cnt — the bigram-START count, so the
    * final token of a document is not a context), and `vocab` (every
    * distinct token at any position). Vocabulary-sized — tiny relative
    * to the corpus that trained it — so scoring can broadcast it. */
  final case class BigramLm(bigrams: DataFrame, contexts: DataFrame, vocab: DataFrame)

  /** (id, pos, w1, w2): one row per adjacent token pair in document
    * order, pos 0-based. Pure projection + generator — no shuffle;
    * all-whitespace docs and single-token docs produce no rows. */
  private[graft] def bigramRows(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val n1 = size(col("__toks")) - 1
    df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), Dedup.tokensCol(col(textCol)).as("__toks"))
      .select(col(idCol), posexplode(zip_with(
        slice(col("__toks"), lit(1), n1),
        slice(col("__toks"), lit(2), n1),
        (a, b) => struct(a.as("w1"), b.as("w2")))))
      .select(col(idCol), col("pos"), col("col.w1").as("w1"), col("col.w2").as("w2"))
  }

  /** Train a bigram LM over `df[textCol]` ([[Dedup.tokensCol]]
    * tokenization — the corpus-wide convention). Two aggregations
    * (bigram groupBy + token distinct), both map-side-partial and both
    * collapsing to vocabulary-sized outputs; `contexts` re-aggregates
    * the already-tiny bigram frame, not the corpus. */
  def trainBigramLm(df: DataFrame, textCol: String, idCol: String): BigramLm = {
    // Lazy local checkpoint: the bigram table is consumed ≥ 3× (contexts
    // re-agg, scoring join, any user reuse) and Catalyst would otherwise
    // replay the corpus-wide explode+groupBy for each consumer. The frame
    // is vocabulary-sized, so the checkpoint is cheap; on a real cluster
    // lineage truncation trades a rare executor-loss recompute for never
    // rescanning the corpus (A/B: composed train+score 1.42 → 1.00 s warm,
    // 6.1 → 2.7 s cold, at sf0.1).
    val bigrams = bigramRows(df, idCol, textCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val contexts = bigrams.groupBy("w1").agg(sum("cnt").as("ctx_cnt"))
    val vocab = df.filter(length(trim(col(textCol))) > 0)
      .select(explode(Dedup.tokensCol(col(textCol))).as("token")).distinct()
    BigramLm(bigrams, contexts, vocab)
  }

  /** Per-document bigram negative log-likelihood under `lm` with add-one
    * smoothing — the CCNet-style perplexity quality filter:
    * P(w2|w1) = (cnt+1)/(ctx+V). Output: (id, n_bigrams, avg_nll, ppl);
    * docs with < 2 tokens emit no row.
    *
    * Plan: bigram generator (projection, no shuffle) → size-gated
    * broadcast joins against the model (falls back to shuffle joins if a
    * pruned 100 TB-corpus model outgrows the threshold) → ONE doc-key
    * shuffle. The per-doc sum folds an array sorted by position, so the
    * double result is order-deterministic (bit-replayable by a SQL
    * oracle's ordered list fold) — a plain sum() over doubles would
    * drift with Spark's partition merge order. */
  def perplexity(df: DataFrame, lm: BigramLm, textCol: String, idCol: String): DataFrame = {
    val v = lm.vocab.agg(count(lit(1)).cast(DoubleType).as("__V"))
    val scored = bigramRows(df, idCol, textCol)
      .join(Ops.broadcastIfSmall(lm.bigrams), Seq("w1", "w2"), "left")
      .join(Ops.broadcastIfSmall(lm.contexts), Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select(col(idCol), col("pos"),
        (-log((coalesce(col("cnt"), lit(0L)).cast(DoubleType) + 1.0) /
          (coalesce(col("ctx_cnt"), lit(0L)).cast(DoubleType) + col("__V")))).as("__lp"))
    scored.groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(
          transform(
            array_sort(collect_list(struct(col("pos").as("pos"), col("__lp").as("lp")))),
            x => x.getField("lp")),
          lit(0.0), (acc, x) => acc + x).as("__nll"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__nll") / col("n_bigrams"), 6).as("avg_nll"),
        round(exp(col("__nll") / col("n_bigrams")), 4).as("ppl"))
  }

  // ── Vocabulary / Zipf coverage (tokenizer-training aid) ────────────

  /** Corpus vocabulary with Zipf rank and cumulative coverage:
    * (token, cnt, rank, cum_frac). rank = position in (cnt DESC, token
    * ASC) order; cum_frac = fraction of ALL token occurrences covered by
    * ranks ≤ this one. The cumsum is exact integer arithmetic with one
    * final double division, so the doubles are oracle-deterministic.
    * `minCount` truncates AFTER ranking (a count threshold is always a
    * rank prefix — ties share a count), so coverage keeps its
    * full-corpus meaning.
    *
    * Plan: one explode+groupBy shuffle at corpus scale (map-side
    * partial), then rank/cumsum/total share a single global-sort window
    * over the VOCABULARY — the corpus never passes through the window,
    * and real vocabularies (≤ tens of M rows) sort in one partition
    * comfortably. */
  def vocabulary(df: DataFrame, textCol: String, minCount: Long = 1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.filter(length(trim(col(textCol))) > 0)
      .select(explode(Dedup.tokensCol(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("cnt").desc, col("token"))
    counts
      .withColumn("rank", row_number().over(w))
      .withColumn("__cum",
        sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__total",
        sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("cnt") >= minCount)
      .select(col("token"), col("cnt"), col("rank"),
        round(col("__cum").cast(DoubleType) / col("__total").cast(DoubleType), 6)
          .as("cum_frac"))
  }

  /** Collocation extraction: adjacent-token pairs ranked by LIFT —
    * p(ab) / (p(a)·p(b)), the association strength behind multi-word
    * expressions ("new york", "machine learning") that tokenizers and
    * phrase-aware dedup want surfaced from the corpus itself. Lift is a
    * monotone transform of PMI (PMI = ln lift), computed WITHOUT the log:
    * ((c_ab·T)·T) / ((P·c_a)·c_b) over exact integer counts in a fixed
    * parenthesization, so every step is an IEEE-correctly-rounded double
    * op that external SQL engines reproduce bit-for-bit (libm ln differs
    * by ulps across engines; a monotone transform cannot change the
    * ranking, so nothing is lost by skipping it). T = total token count,
    * P = total bigram count — both BEFORE the minCount cut, so the
    * probabilities keep their full-corpus meaning.
    *
    * Plan: unigram and bigram counts are the two corpus scans (each a
    * map-side-combined key-only aggregate; the bigram frame persists via
    * localCheckpoint because the total-mass scalar and the candidate cut
    * both read it); `minCount` prunes the candidate frame BEFORE the two
    * vocabulary-sized unigram joins (size-gated broadcast); top-N is
    * `orderBy.limit` = TakeOrderedAndProject, never a global sort.
    * Returns (term_a, term_b, pair_count, lift), ties at the cut broken
    * by (term_a, term_b). */
  def collocations(df: DataFrame, textCol: String, minCount: Long = 5L,
      topN: Int = 100): DataFrame = {
    require(minCount >= 1L && topN >= 1, "minCount and topN must be >= 1")
    val uni = df.select(explode(Dedup.tokensCol(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val bi = df.select(explode(Importance.bigramsCol(col(textCol))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c_ab"))
      .localCheckpoint(true)
    val totT = uni.agg(sum("c")).collect()(0)
    val totP = bi.agg(sum("c_ab")).collect()(0)
    if (totT.isNullAt(0) || totP.isNullAt(0))
      return df.sparkSession.emptyDataFrame
        .select(lit("").as("term_a"), lit("").as("term_b"),
          lit(0L).as("pair_count"), lit(0.0).as("lift")).limit(0)
    val t = lit(totT.getLong(0).toDouble)
    val p = lit(totP.getLong(0).toDouble)
    bi.filter(col("c_ab") >= minCount)
      .withColumn("term_a", element_at(split(col("g"), " "), 1))
      .withColumn("term_b", element_at(split(col("g"), " "), 2))
      .join(Ops.broadcastIfSmall(
        uni.select(col("w").as("term_a"), col("c").as("c_a"))), Seq("term_a"))
      .join(Ops.broadcastIfSmall(
        uni.select(col("w").as("term_b"), col("c").as("c_b"))), Seq("term_b"))
      .select(col("term_a"), col("term_b"), col("c_ab").as("pair_count"),
        (((col("c_ab").cast(DoubleType) * t) * t) /
          ((p * col("c_a")) * col("c_b"))).as("lift"))
      .orderBy(col("lift").desc, col("term_a"), col("term_b"))
      .limit(topN)
  }

  /** Windowed skip-gram co-occurrence with LIFT — [[collocations]]'s
    * window-±`window` generalization (adjacent-only misses "neural …
    * network" with an intervening token; word2vec-style statistics need
    * the window). Pairs are generated IN-ROW from the token array (the
    * q135 no-self-join idiom): for each offset d ≤ window, zip the array
    * against its d-shifted self — one explode, no positional self-join,
    * O(tokens·window) rows. Pairs are unordered (least/greatest
    * normalization). Lift keeps q102's log-free monotone PMI form and its
    * fixed parenthesization (the cross-engine double contract); unigram
    * totals are driver literals shared with the oracle. */
  def skipgramCollocations(df: DataFrame, textCol: String, window: Int = 3,
      minCount: Long = 5L, topN: Int = 100): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(minCount >= 1L && topN >= 1, "minCount and topN must be >= 1")
    val base = df.select(Dedup.tokensCol(col(textCol)).as("__toks"))
    val n = size(col("__toks"))
    val pairs = base.select(explode(flatten(transform(
        sequence(lit(1), lit(window)),
        d => zip_with(
          slice(col("__toks"), lit(1), greatest(n - d, lit(0))),
          slice(col("__toks"), d + lit(1), greatest(n - d, lit(0))),
          (a, b) => struct(least(a, b).as("wa"), greatest(a, b).as("wb"))))))
        .as("p"))
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
      .filter(col("wa") =!= "" && col("wb") =!= "")
    val uni = base.select(explode(col("__toks")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val co = pairs.groupBy("wa", "wb").agg(count(lit(1)).as("c_ab"))
      .localCheckpoint(true)
    val totT = uni.agg(sum("c")).collect()(0)
    val totP = co.agg(sum("c_ab")).collect()(0)
    if (totT.isNullAt(0) || totP.isNullAt(0))
      return df.sparkSession.emptyDataFrame
        .select(lit("").as("term_a"), lit("").as("term_b"),
          lit(0L).as("pair_count"), lit(0.0).as("lift")).limit(0)
    val t = lit(totT.getLong(0).toDouble)
    val p = lit(totP.getLong(0).toDouble)
    co.filter(col("c_ab") >= minCount)
      .join(Ops.broadcastIfSmall(
        uni.select(col("w").as("wa"), col("c").as("c_a"))), Seq("wa"))
      .join(Ops.broadcastIfSmall(
        uni.select(col("w").as("wb"), col("c").as("c_b"))), Seq("wb"))
      .select(col("wa").as("term_a"), col("wb").as("term_b"),
        col("c_ab").as("pair_count"),
        (((col("c_ab").cast(DoubleType) * t) * t) /
          ((p * col("c_a")) * col("c_b"))).as("lift"))
      .orderBy(col("lift").desc, col("term_a"), col("term_b"))
      .limit(topN)
  }

  /** Literal substring search over the corpus through a character-trigram
    * pre-filter — the grep-over-100-TB primitive (the q243 phrase join
    * answers tokenized phrase hits; this answers raw `contains`, which
    * tokenization can't: substrings crossing token boundaries,
    * punctuation, partial words).
    *
    * A document can contain the needle only if it contains EVERY trigram
    * of the needle, so candidates = docs whose distinct-trigram postings
    * cover the needle's full trigram set (one explode + an InSet
    * membership filter over the union of all needles' trigrams + a
    * per-(doc, needle) count == needed check), then the exact `contains`
    * verifies. The pruning is result-invisible (false candidates die at
    * the verify — the bloomPrunedJoin convention); needles shorter than 3
    * chars have no trigrams and fall back to an honest full-scan verify.
    * O(chars) explode, needle-trigram postings only ever shuffle (the
    * InSet filter kills everything else at the scan). */
  def substringSearch(df: DataFrame, idCol: String, textCol: String,
      needles: Seq[String]): DataFrame = {
    require(needles.nonEmpty, "needles must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    val (indexable, tiny) = needles.distinct.partition(_.length >= 3)
    def verified(cands: DataFrame): DataFrame =
      cands.join(df.select(col(idCol), col(textCol)), Seq(idCol))
        .filter(col(textCol).contains(col("needle")))
        .select(col(idCol), col("needle"))
    val fromIndex = if (indexable.isEmpty) None else {
      val needleGrams = indexable.flatMap(n =>
        n.sliding(3).distinct.map(g => (n, g))).toDF("needle", "gram")
      val needed = needleGrams.groupBy("needle")
        .agg(count(lit(1)).as("__need"))
      val wanted = needleGrams.select("gram").distinct()
        .as[String].collect().toSet
      // doc-side postings: distinct char trigrams, pruned to the wanted
      // set IN the explode projection (nothing else survives the scan)
      val docGrams = df
        .select(col(idCol),
          explode(array_distinct(expr(
            s"transform(sequence(1, greatest(length($textCol) - 2, 0)), " +
              s"i -> substring($textCol, i, 3))"))).as("gram"))
        .filter(col("gram").isInCollection(wanted))
      val cands = docGrams
        .join(Ops.broadcastIfSmall(needleGrams), Seq("gram"))
        .groupBy(col(idCol), col("needle"))
        .agg(count(lit(1)).as("__have"))
        .join(Ops.broadcastIfSmall(needed), Seq("needle"))
        .filter(col("__have") === col("__need"))
        .select(col(idCol), col("needle"))
      Some(verified(cands))
    }
    val fromTiny = if (tiny.isEmpty) None else
      Some(verified(df.select(col(idCol))
        .crossJoin(tiny.toDF("needle"))))
    (fromIndex, fromTiny) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None)    => a
      case (None, Some(b))    => b
      case _                  => throw new IllegalStateException("unreachable")
    }
  }

  /** Deterministic token-dropout augmentation: token i of doc d drops iff
    * md5_60(id:position:seed) ≡ 0 (mod dropOneIn) — augmentation as a
    * PURE FUNCTION of (id, position, seed), so every epoch's view is
    * reproducible (re-seed per epoch), shardable anywhere, and
    * SQL-replayable (the q86/q122 determinism convention applied to data
    * augmentation instead of ordering). One projection, no shuffle.
    * Positions are 1-based (the SQL `generate_subscripts` convention). */
  def tokenDropout(df: DataFrame, idCol: String, textCol: String,
      dropOneIn: Int = 10, seed: Long = 7L): DataFrame = {
    require(dropOneIn >= 2, s"dropOneIn must be >= 2, got $dropOneIn")
    val toks = Dedup.tokensCol(col(textCol))
    val kept = filter(toks, (_: Column, i: Column) =>
      pmod(Dedup.md5Hash60(concat(col(idCol).cast("string"), lit(":"),
        (i + 1).cast("string"), lit(":"), lit(seed.toString))),
        lit(dropOneIn.toLong)) =!= 0)
    df.withColumn("aug_text", concat_ws(" ", kept))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_kept", size(kept).cast("long"))
  }

  /** All analysis columns at once over a documents frame. */
  def analyze(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("token_count", tokenCount(col(textCol)))
      .withColumn("bpeish_tokens", bpeishTokenCount(col(textCol)))
      .withColumn("lang_pred", langId(col(textCol)))
      .withColumn("quality", qualityScore(col(textCol)))
      .withColumn("fingerprint", fingerprint(col(textCol)))

  /** Per-group lexical diversity: token count, type (distinct-token)
    * count, type-token ratio, Shannon entropy of the unigram
    * distribution, and entropy normalized by ln(types) — the "is this
    * source templated boilerplate or real prose?" diagnostic
    * ([[graft.operators.Importance.sourceDivergence]] compares sources
    * to each other; this scores each one alone).
    *
    * One corpus scan to the checkpointed (group, word) counts; totals
    * are group-cardinality-sized; the entropy folds word-sorted when
    * `deterministic` (the gate path — SQL-replayable, ln parity per the
    * q66/q106 precedent), plain sum in production. Singleton-vocabulary
    * groups get normalized entropy 0 (H = 0 and ln V = 0 — defined as
    * the limit, not a 0/0). */
  def lexicalDiversity(df: DataFrame, groupCol: String, textCol: String,
      deterministic: Boolean = false): DataFrame = {
    val counts = df
      .select(col(groupCol).as("__g"),
        explode(Dedup.tokensCol(col(textCol))).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy("__g", "__w").agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val totals = counts.groupBy("__g")
      .agg(sum("__c").as("__n"), count(lit(1)).as("__v"))
    val p = col("__c").cast("double") / col("__n").cast("double")
    val term = p * log(p)
    val terms = counts.join(Ops.broadcastIfSmall(totals), Seq("__g"))
      .select(col("__g"), col("__w"), term.as("__t"),
        col("__n"), col("__v"))
    terms.groupBy("__g", "__n", "__v")
      .agg(Ops.foldSum(deterministic, col("__t"), col("__w")).as("__s"))
      .select(col("__g").as("group"),
      col("__n").as("n_tokens"), col("__v").as("n_types"),
      (col("__v").cast("double") / col("__n").cast("double")).as("ttr"),
      (-col("__s")).as("entropy"),
      when(col("__v") === 1L, lit(0.0))
        .otherwise((-col("__s")) / log(col("__v").cast("double")))
        .as("norm_entropy"))
  }

  /** Zipf-slope fit: least-squares slope of ln(freq) against ln(rank)
    * over the top `fitTerms` vocabulary terms — natural prose obeys
    * Zipf's law (slope ≈ −1); templated/synthetic corpora bend the
    * log-log line, making the slope a one-number corpus-health metric
    * next to [[lexicalDiversity]]'s entropy.
    *
    * One scan to vocab counts; ranks ride the distributed
    * rank-and-TakeOrdered cut to the bounded `fitTerms` head (fitting
    * the head is the standard practice — the tail is hapax noise); the
    * five regression sums fold rank-sorted when `deterministic` (gate),
    * plain in production. ln parity per the q66/q106 precedent. Returns
    * one row (n_terms, slope, intercept). */
  def zipfSlope(df: DataFrame, textCol: String, fitTerms: Int = 1000,
      deterministic: Boolean = false): DataFrame = {
    require(fitTerms >= 2, s"fitTerms must be >= 2, got $fitTerms")
    val spark = df.sparkSession
    val counts = df
      .select(explode(Dedup.tokensCol(col(textCol))).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy("__w").agg(count(lit(1)).as("__c"))
    val top = counts.orderBy(col("__c").desc, col("__w").asc).limit(fitTerms)
      .withColumn("__rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__c").desc, col("__w").asc)).cast("long"))
      .select(col("__rank"),
        log(col("__rank").cast("double")).as("__x"),
        log(col("__c").cast("double")).as("__y"))
      .localCheckpoint(false)
    val (x, y, rank) = (col("__x"), col("__y"), col("__rank"))
    val sums = top.agg(count(lit(1)).as("__n"),
      Ops.foldSum(deterministic, x, rank).as("__sx"),
      Ops.foldSum(deterministic, y, rank).as("__sy"),
      Ops.foldSum(deterministic, x * y, rank).as("__sxy"),
      Ops.foldSum(deterministic, x * x, rank).as("__sxx"))
    val nD = col("__n").cast("double")
    val slope = ((nD * col("__sxy")) - (col("__sx") * col("__sy"))) /
      ((nD * col("__sxx")) - (col("__sx") * col("__sx")))
    sums.select(col("__n").as("n_terms"), slope.as("slope"),
      ((col("__sy") - (slope * col("__sx"))) / nD).as("intercept"))
  }

  /** Context-truncation loss report: at each candidate context limit L,
    * how many documents exceed it and how many tokens fall off the end
    * (Σ max(0, n_tok − L)) — the table that decides a training context
    * budget ("8k loses 0.4% of tokens, 2k loses 11%") and prices long-
    * context training against [[prefixCacheReport]]-style serving wins.
    * ONE tokenized-length scan (lengths only — the text never shuffles),
    * limits-sized aggregate output, integers end-to-end. Returns one row
    * per limit: (limit, n_docs, docs_over, tokens_total, tokens_lost,
    * loss_frac). */
  def truncationLossReport(df: DataFrame, textCol: String,
      limits: Seq[Int]): DataFrame = {
    require(limits.nonEmpty && limits.forall(_ >= 1),
      "limits must be positive")
    val lens = df.filter(length(trim(col(textCol))) > 0)
      .select(size(Dedup.tokensCol(col(textCol))).cast("long").as("__n"))
      .localCheckpoint(false)
    val aggs = Seq(count(lit(1)).as("n_docs"),
      sum("__n").as("tokens_total")) ++ limits.flatMap { l =>
      Seq(sum(when(col("__n") > l, 1L).otherwise(0L)).as(s"__o$l"),
        sum(when(col("__n") > l, col("__n") - l).otherwise(0L))
          .as(s"__l$l"))
    }
    val wide = lens.agg(aggs.head, aggs.tail: _*)
    limits.map { l =>
      wide.select(lit(l).as("limit"), col("n_docs"),
        coalesce(col(s"__o$l"), lit(0L)).as("docs_over"),
        coalesce(col("tokens_total"), lit(0L)).as("tokens_total"),
        coalesce(col(s"__l$l"), lit(0L)).as("tokens_lost"),
        when(col("tokens_total") > 0L,
          coalesce(col(s"__l$l"), lit(0L)).cast("double") /
            col("tokens_total").cast("double")).as("loss_frac"))
    }.reduce(_ unionByName _)
  }

  /** Eval-canary scan: per (canary string, source), how many documents
    * contain it verbatim — the eval-integrity check a training-data
    * release runs so benchmark canaries (GUID strings planted in eval
    * sets exactly to be grepped for) and known leaked strings are caught
    * per-source BEFORE training, not in a post-hoc contamination paper.
    * The canary list is release-small (parameters, not data), so the
    * scan is ONE corpus pass with one codegen'd `contains` per canary
    * folded into a single per-source aggregate, melted to
    * (canary, source, n_docs) rows at the end — no per-canary scans, no
    * join. Substring semantics, case-sensitive (canaries are exact).
    * Sources with zero hits for a canary are omitted. */
  def canaryScan(df: DataFrame, textCol: String, sourceCol: String,
      canaries: Seq[String]): DataFrame = {
    require(canaries.nonEmpty, "no canaries to scan for")
    require(canaries.forall(_.nonEmpty), "empty canary string")
    val aggs = canaries.zipWithIndex.map { case (c, i) =>
      sum(when(col(textCol).contains(lit(c)), 1L).otherwise(0L))
        .as(s"__c$i")
    }
    val wide = df.groupBy(col(sourceCol).as("source"))
      .agg(aggs.head, aggs.tail: _*)
    canaries.zipWithIndex.map { case (c, i) =>
      wide.select(lit(c).as("canary"), col("source"),
        col(s"__c$i").as("n_docs"))
    }.reduce(_ unionByName _).filter(col("n_docs") > 0L)
  }

  /** Vocabulary growth curve per ingest batch: distinct tokens used, NEW
    * tokens (first seen in this batch), and the cumulative vocabulary —
    * the empirical Heaps curve that tells a corpus program whether the
    * tail is saturating ([[unseenMassEstimate]] gives the single-number
    * estimate; this shows the trajectory, and a batch whose new-token
    * count spikes is a domain shift or an encoding bug). First-seen is
    * min(batch) per token — a key-width aggregate over the distinct
    * (batch, token) frame, never a scan-per-batch; the cumulative sum
    * windows over the batches-sized frame (single partition — bounded by
    * batch count, not corpus). Returns
    * (batch, batch_vocab, new_tokens, cum_vocab). */
  def vocabGrowth(df: DataFrame, textCol: String,
      batchCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = df.filter(length(trim(col(textCol))) > 0)
      .select(col(batchCol).cast("long").as("__b"),
        explode(Dedup.tokensCol(col(textCol))).as("__t"))
      .distinct().localCheckpoint(false)
    val perBatch = pairs.groupBy("__b").agg(count(lit(1)).as("batch_vocab"))
    val firstSeen = pairs.groupBy("__t").agg(min("__b").as("__b"))
      .groupBy("__b").agg(count(lit(1)).as("__new"))
    perBatch.join(firstSeen, Seq("__b"), "left")
      .withColumn("new_tokens", coalesce(col("__new"), lit(0L)))
      .withColumn("cum_vocab",
        sum("new_tokens").over(Window.orderBy(col("__b").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("__b").as("batch"), col("batch_vocab"),
        col("new_tokens"), col("cum_vocab"))
  }

  /** Prefix-cache savings report: how many tokens an inference server
    * with prefix (KV-cache) reuse would skip at each probe depth — docs
    * sharing their first d tokens pay the prefix ONCE per group, so
    * savings = Σ_groups (size − 1)·d. The number that decides whether
    * request batching by shared prefix (template-heavy corpora: system
    * prompts, boilerplate headers, few-shot prefixes) is worth the
    * scheduler complexity. One tokenization projection; per depth a
    * key-width groupBy on the space-joined d-token prefix (tokens cannot
    * contain spaces — the tokenizer splits on \s+ — so the join key is
    * collision-free); the report is depths-sized. Integer arithmetic
    * end-to-end. Returns (depth, eligible_docs, shared_groups, dup_docs,
    * tokens_saved). */
  def prefixCacheReport(df: DataFrame, textCol: String,
      depths: Seq[Int]): DataFrame = {
    require(depths.nonEmpty && depths.forall(_ >= 1),
      "depths must be non-empty positive")
    val toks = df.filter(length(trim(col(textCol))) > 0)
      .select(Dedup.tokensCol(col(textCol)).as("__toks"))
      .localCheckpoint(false)
    depths.map { d =>
      val prefix = concat_ws(" ", slice(col("__toks"), 1, d))
      toks.filter(size(col("__toks")) >= d)
        .select(prefix.as("__p"))
        .groupBy("__p").agg(count(lit(1)).as("__n"))
        .agg(lit(d).as("depth"),
          coalesce(sum("__n"), lit(0L)).as("eligible_docs"),
          coalesce(sum(when(col("__n") >= 2L, 1L).otherwise(0L)), lit(0L))
            .as("shared_groups"),
          coalesce(sum(col("__n") - lit(1L)), lit(0L)).as("dup_docs"),
          coalesce(sum((col("__n") - lit(1L)) * lit(d.toLong)), lit(0L))
            .as("tokens_saved"))
    }.reduce(_ unionByName _)
  }

  /** Good–Turing unseen-mass + Chao1 vocabulary estimate: from the token
    * frequency spectrum alone, how much probability mass belongs to
    * words the corpus has NEVER seen (Good–Turing: P₀ = n₁/N — the
    * singleton fraction) and how large the true vocabulary likely is
    * (bias-corrected Chao1: V + n₁(n₁−1)/(2(n₂+1)), finite even when no
    * doubletons exist). The coverage answer a tokenizer/vocab decision
    * needs — "will 50k merges cover this corpus, or is its tail still
    * growing" — from sufficient statistics that are ONE token-count scan
    * + one aggregate over the vocabulary frame; every statistic is an
    * integer until the two final divisions (fixed parenthesization).
    * Returns one row (n_tokens, vocab, n1, n2, unseen_mass, chao1). */
  def unseenMassEstimate(df: DataFrame, textCol: String): DataFrame = {
    val counts = df.filter(length(trim(col(textCol))) > 0)
      .select(explode(Dedup.tokensCol(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val s = counts.agg(sum("cnt").as("n_tokens"),
      count(lit(1)).as("vocab"),
      sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("n1"),
      sum(when(col("cnt") === 2L, 1L).otherwise(0L)).as("n2"))
    val n1D = col("n1").cast(DoubleType)
    val n2D = col("n2").cast(DoubleType)
    s.select(col("n_tokens"), col("vocab"), col("n1"), col("n2"),
      (n1D / col("n_tokens").cast(DoubleType)).as("unseen_mass"),
      (col("vocab").cast(DoubleType) +
        (n1D * (n1D - lit(1.0))) / (lit(2.0) * (n2D + lit(1.0))))
        .as("chao1"))
  }

  /** SymSpell-style typo detection: rare tokens that sit one edit away
    * from a frequent vocabulary term, with the best correction — the OCR/
    * scrape-noise report a corpus-cleaning pass reads before deciding on
    * normalization rules. The naive approach is a rare×frequent
    * levenshtein cross join (vocab² — dead at scale); the SymSpell
    * blocking insight (Garbe's symmetric-delete algorithm) is that two
    * strings within edit distance 1 SHARE a member of their
    * {self} ∪ {1-deletions} variant sets, so candidates come from an
    * equi-join on variant keys — |token|× vocab-sized, never quadratic —
    * and only candidates pay the levenshtein verify (exact, distance
    * = 1; the blocking can only over-generate, never miss). All work is
    * vocabulary-sized after ONE corpus token-count scan (lazily
    * checkpointed, both tiers slice it); the rare side's variants
    * broadcast. Best correction per typo = max frequency, ties to the
    * lexicographic first. Returns (token, cnt, suggestion,
    * suggestion_cnt). */
  def typoSuggestions(df: DataFrame, textCol: String, minFreq: Long = 5L,
      maxRareFreq: Long = 2L, minLen: Int = 4): DataFrame = {
    require(maxRareFreq < minFreq,
      s"rare/frequent tiers must be disjoint: $maxRareFreq >= $minFreq")
    val counts = df.filter(length(trim(col(textCol))) > 0)
      .select(explode(Dedup.tokensCol(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    def variants(t: Column): Column = array_distinct(concat(array(t),
      transform(sequence(lit(0), length(t) - lit(1)),
        i => concat(t.substr(lit(1), i), t.substr(i + lit(2), length(t))))))
    val rv = counts
      .filter(col("cnt") <= maxRareFreq && length(col("token")) >= minLen)
      .select(col("token").as("__rt"), col("cnt").as("__rc"),
        explode(variants(col("token"))).as("__v"))
    val fv = counts.filter(col("cnt") >= minFreq)
      .select(col("token").as("__ft"), col("cnt").as("__fc"),
        explode(variants(col("token"))).as("__v"))
    fv.join(Ops.broadcastIfSmall(rv), Seq("__v"))
      .select("__rt", "__rc", "__ft", "__fc").distinct()
      .filter(levenshtein(col("__rt"), col("__ft")) === 1)
      .groupBy(col("__rt").as("token"), col("__rc").as("cnt"))
      .agg(min(struct((-col("__fc")).as("nc"), col("__ft").as("t"),
        col("__fc").as("c"))).as("__b"))
      .select(col("token"), col("cnt"),
        col("__b").getField("t").as("suggestion"),
        col("__b").getField("c").as("suggestion_cnt"))
  }

  /** Multi-phrase hit counts per source: how many docs of each source
    * contain each phrase, matched on TOKEN boundaries through the shared
    * shingle machinery — [[canaryScan]]'s scale path. canaryScan compiles
    * one `contains` per pattern into the scan (right for a handful of
    * exact canaries; O(patterns · corpus chars) and a 10k-pattern filter
    * list would blow up the projection). Here the doc explodes ONCE into
    * its distinct n-gram shingles and the phrase list becomes a single
    * hash-set membership test (Catalyst turns a large IN into InSet), so
    * cost is O(tokens) regardless of phrase-list size and only HIT rows
    * ever reach the shuffle.
    *
    * Phrases normalize through the tokenizer's own convention
    * (trim/lower/whitespace-split) so a phrase matches exactly when its
    * token sequence appears. One pass per DISTINCT phrase token-length
    * (mixed lists group by length). Zero-hit (phrase, source) cells are
    * omitted, the q214 convention. Returns (phrase, source, n_docs). */
  def phraseHits(df: DataFrame, textCol: String, sourceCol: String,
      phrases: Seq[String]): DataFrame = {
    val norm = phrases.map(_.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .mkString(" ")).filter(_.nonEmpty).distinct
    require(norm.nonEmpty, "no non-empty phrases to scan for")
    val toks = df.select(col(sourceCol).as("source"),
      Dedup.tokensCol(col(textCol)).as("__toks"))
    norm.groupBy(_.split(" ").length).toSeq.sortBy(_._1)
      .map { case (n, ps) =>
        toks.select(col("source"),
            explode(graft.functions.Shingles.word_shingles(col("__toks"), n,
              distinct = true)).as("phrase"))
          .filter(col("phrase").isin(ps: _*))
      }
      .reduce(_ unionByName _)
      .groupBy("phrase", "source")
      .agg(count(lit(1)).as("n_docs"))
  }
}
