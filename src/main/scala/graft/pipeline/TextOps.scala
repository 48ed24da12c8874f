package graft.pipeline

import graft.Staging.StagedFrame
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, n-gram shingles, language ID, quality scoring, token
  * counting, fingerprinting. All pure `Column` expressions built from
  * codegen'd built-ins — no UDFs — so they stay inside whole-stage codegen
  * and push down through Catalyst like any other projection.
  */
object TextOps {

  /** Lowercased whitespace tokens, empties removed. One codegen'd pass
    * ([[graft.functions.WhitespaceTokens]] — bit-identical to the previous
    * `filter(split(lower(text), "\\s+"), t => length(t) > 0)` spelling,
    * whose ArrayFilter lambda was the last CodegenFallback on the
    * corpus-wide tokenization path; r17, guide §4). */
  def tokens(text: Column): Column =
    graft.functions.TextExprs.whitespaceTokens(lower(text))

  /** Word n-gram shingles (space-joined) from a token array. Empty for
    * docs with fewer than n tokens. One codegen'd pass over the array
    * ([[graft.functions.WordShingles]] — bit-identical to the previous
    * when/sequence/transform/concat_ws HOF spelling, whose interpreted
    * per-shingle lambdas sat on the corpus-wide projection of every
    * shingle-family operator; r16, guide §4). */
  def wordShingles(toks: Column, n: Int): Column = {
    require(n >= 1)
    if (n == 1) toks
    else graft.functions.TextExprs.wordShingles(toks, n)
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: word chunks + individual non-word chars.
    * (regexp_count of `\w+|[^\w\s]` — a cheap proxy for tokenizer load.) */
  def subwordCount(text: Column): Column =
    regexp_count(text, lit("[a-zA-Z0-9_]+|[^a-zA-Z0-9_\\s]"))

  /** Punctuation ratio: punctuation chars / total chars (0 for empty). */
  def punctRatio(text: Column): Column = {
    val punct = length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]-]", ""))
    punct.cast("double") / greatest(length(text), lit(1)).cast("double")
  }

  /** Mean token length. One codegen'd pass over the array
    * ([[graft.functions.SumCharLength]] — bit-identical to the previous
    * interpreted `aggregate(t, 0L, (acc, x) => acc + length(x))` fold;
    * r17, guide §4). */
  def meanTokenLen(text: Column): Column = {
    val t = tokens(text)
    when(size(t) === 0, 0.0).otherwise(
      graft.functions.TextExprs.sumCharLength(t).cast("double") /
        size(t).cast("double"))
  }

  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "was", "for", "on", "with", "that", "it")

  /** Fraction of tokens that are (English) stopwords.
    * Prefer the `(text, toks)` overload when several text features share one
    * row — tokenizing once and reusing the array column keeps the hot path
    * to a single regex split per row. */
  def stopwordRatio(text: Column): Column = stopwordRatioT(tokens(text))

  def stopwordRatioT(t: Column): Column =
    when(size(t) === 0, 0.0).otherwise(
      graft.functions.TextExprs.countInSet(t, EnglishStopwords).cast("double") /
        size(t).cast("double"))

  /** Marker-word sets for the n-gram/stopword language-ID heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "was", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "une", "est"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "nicht", "mit")
  )

  /** Per-language marker score: marker hits / tokens. */
  def langScore(text: Column, lang: String): Column =
    langScoreT(tokens(text), lang)

  /** Marker/stopword counting is one codegen'd set-membership pass
    * ([[graft.functions.CountInSet]] — bit-identical to the previous
    * `size(filter(t, _.isInCollection(markers)))`, whose ArrayFilter
    * lambda was interpreted on the corpus-wide language-ID and quality
    * projections; r17, guide §4). */
  def langScoreT(t: Column, lang: String): Column = {
    val markers = LangMarkers.toMap.apply(lang)
    when(size(t) === 0, 0.0).otherwise(
      graft.functions.TextExprs.countInSet(t, markers).cast("double") /
        size(t).cast("double"))
  }

  /** Heuristic language ID: CJK characters ⇒ "zh"; otherwise the marker set
    * with the highest hit ratio (ties break by LangMarkers order); "und"
    * when nothing scores. Deterministic and SQL-expressible by design so it
    * can be oracle-checked. */
  def langId(text: Column): Column = langIdT(text, tokens(text))

  def langIdT(text: Column, t: Column): Column = {
    val hasCjk = regexp_count(text, lit("[\\x{4e00}-\\x{9fff}]")) > 0
    val scored = LangMarkers.map { case (l, _) => (l, langScoreT(t, l)) }
    val best = scored.tail.foldLeft((lit(scored.head._1), scored.head._2)) {
      case ((bl, bs), (l, s)) =>
        (when(s > bs, lit(l)).otherwise(bl), when(s > bs, s).otherwise(bs))
    }
    when(hasCjk, "zh").otherwise(when(best._2 > 0.0, best._1).otherwise("und"))
  }

  /** Composite quality score in [0,1]: favors mid-length docs with modest
    * punctuation and some stopwords (a cheap C4-style filter signal). */
  def qualityScore(text: Column): Column = qualityScoreT(text, tokens(text))

  def qualityScoreT(text: Column, t: Column): Column = {
    val lenScore =
      least(length(text).cast("double") / lit(500.0), lit(1.0))
    val punctPenalty = least(punctRatio(text) * 4.0, lit(1.0))
    val stopScore = least(stopwordRatioT(t) * 5.0, lit(1.0))
    // no rounding: round-half rules differ across engines at digit
    // boundaries; raw doubles compare cleanly under relative tolerance
    lenScore * 0.5 + stopScore * 0.3 + (lit(1.0) - punctPenalty) * 0.2
  }

  /** Gopher-style document quality rules (Rae et al. 2021 "Scaling Language
    * Models", appendix A1.1 — the standard pre-training filter set). Every
    * signal is a pure projection over (text, tokens): integer counts and
    * int/int ratios, so the arithmetic is bit-exact across engines. ASCII
    * markers only (`-`/`*` bullets, `...` ellipses) — unicode classes are
    * where Java and RE2 regex semantics drift.
    *
    * Returns (name → column): n_words, mean_word_len, symbol_ratio,
    * bullet_ratio, ellipsis_ratio, alpha_word_ratio, n_stopwords, and the
    * conjunction `keep` with Gopher's published bounds (50 ≤ words ≤ 100k,
    * 3 ≤ mean len ≤ 10, symbols ≤ 0.1/word, ≤90% bullet lines, ≤30%
    * ellipsis lines, ≥80% alphabetic words, ≥2 distinct stopwords). */
  def gopherSignals(text: Column, t: Column): Seq[(String, Column)] = {
    val nWords = size(t).cast("long")
    val wordsD = greatest(size(t), lit(1)).cast("double")
    val meanLen =
      graft.functions.TextExprs.sumCharLength(t).cast("double") / wordsD
    val symRatio = regexp_count(text, lit("#|\\.\\.\\.")).cast("double") / wordsD
    val lines = split(text, "\n")
    val nLines = greatest(size(lines), lit(1)).cast("double")
    val bulletRatio =
      size(filter(lines, l => substring(ltrim(l), 1, 1).isin("-", "*")))
        .cast("double") / nLines
    val ellipsisRatio =
      size(filter(lines, l => endswith(rtrim(l), lit("..."))))
        .cast("double") / nLines
    val alphaRatio =
      size(filter(t, w => w.rlike("[a-z]"))).cast("double") / wordsD
    val nStops =
      size(array_distinct(filter(t, w => w.isin(EnglishStopwords: _*)))).cast("long")
    val keep = (nWords >= 50L) && (nWords <= 100000L) &&
      (meanLen >= 3.0) && (meanLen <= 10.0) &&
      (symRatio <= 0.1) && (bulletRatio <= 0.9) && (ellipsisRatio <= 0.3) &&
      (alphaRatio >= 0.8) && (nStops >= 2L)
    Seq(
      "n_words" -> nWords,
      "mean_word_len" -> meanLen,
      "symbol_ratio" -> symRatio,
      "bullet_ratio" -> bulletRatio,
      "ellipsis_ratio" -> ellipsisRatio,
      "alpha_word_ratio" -> alphaRatio,
      "n_stopwords" -> nStops,
      "keep" -> keep)
  }

  /** Gopher REPETITION rules (Rae et al. 2021, appendix A1.1, table A1 —
    * the other half of the Gopher filter; [[gopherSignals]] covers the
    * document-shape half and [[repetitionStats]] is the cheap shuffle-free
    * per-row screen): documents dominated by repeated lines or n-grams are
    * boilerplate/spam and poison training data.
    *
    *   - `dup_line_frac`: 1 − distinct/total over non-empty line
    *     instances (fraction of lines that repeat an identical line)
    *   - `dup_line_char_frac`: fraction of line characters inside lines
    *     occurring more than once
    *   - `top{n}gram_char_frac`: characters covered by the single most
    *     frequent word n-gram (count × gram length over doc characters;
    *     ties broken by gram length, which leaves the product invariant)
    *   - `dup{n}gram_char_frac`: occurrence-weighted characters in
    *     n-grams occurring more than once, capped at 1
    *   - `repetition_keep`: conjunction at Gopher's published bounds —
    *     dup lines ≤ 0.30, dup line chars ≤ 0.20, top n-gram ≤
    *     0.24 − 0.02·n (0.20/0.18/0.16 for n=2/3/4), dup n-gram ≤
    *     0.20 − 0.01·n (0.15…0.10 for n=5…10)
    *
    * Scale shape: one explode + TWO keyed aggregations per distinct n
    * (and one for lines), shuffles keyed on (id, gram) — NEVER a per-row
    * O(len²) higher-order-function scan, so a 100k-word document costs
    * O(#n-grams), not O(#n-grams²). The per-id signal frames join back
    * co-partitioned on id. All counts are integers, so every fraction is
    * an exact-int ratio — bit-reproducible across engines and partition
    * counts. */
  def repetitionSignals(
      df: DataFrame,
      idCol: String,
      textCol: String,
      topNs: Seq[Int] = Seq(2, 3, 4),
      dupNs: Seq[Int] = Seq(5, 10)
  ): DataFrame = {
    require(topNs.forall(_ >= 2), s"top n-gram sizes must be >= 2, got $topNs")
    require(dupNs.forall(_ >= 2), s"dup n-gram sizes must be >= 2, got $dupNs")
    // one corpus scan: every branch (lines + each n) reads this staged
    // projection instead of re-scanning and re-tokenizing the corpus
    val base = df.select(col(idCol).as("__rid"), col(textCol).as("__text"),
      tokens(col(textCol)).as("__toks")).staged
    val chars = base.select(col("__rid"),
      greatest(length(col("__text")), lit(1)).cast("double").as("__chars"))

    val lineCounts = base
      .select(col("__rid"),
        explode(filter(split(col("__text"), "\n"), l => length(l) > 0)).as("__line"))
      .groupBy("__rid", "__line").agg(count(lit(1)).as("__c"))
      .withColumn("__len", length(col("__line")))
    val lineSig = lineCounts.groupBy("__rid").agg(
      (lit(1.0) - count(lit(1)).cast("double") / sum(col("__c")))
        .as("__dlf"),
      (sum(when(col("__c") > 1, col("__c") * col("__len")).otherwise(0L))
        .cast("double") / sum(col("__c") * col("__len"))).as("__dlcf"))

    var out = chars.join(lineSig, Seq("__rid"), "left")
    for (n <- (topNs ++ dupNs).distinct.sorted) {
      val gc = base
        .select(col("__rid"),
          explode(wordShingles(col("__toks"), n)).as("__g"))
        .groupBy("__rid", "__g").agg(count(lit(1)).as("__c"))
        .withColumn("__l", length(col("__g")))
      if (topNs.contains(n)) {
        val top = gc.groupBy("__rid")
          .agg(max(struct(col("__c"), col("__l"))).as("__m"))
          .select(col("__rid"),
            (col("__m.__c") * col("__m.__l")).cast("double").as(s"__topcov_$n"))
        out = out.join(top, Seq("__rid"), "left")
      }
      if (dupNs.contains(n)) {
        val dup = gc.groupBy("__rid")
          .agg(sum(when(col("__c") > 1, col("__c") * col("__l")).otherwise(0L))
            .cast("double").as(s"__dupcov_$n"))
        out = out.join(dup, Seq("__rid"), "left")
      }
    }

    val dlf = coalesce(col("__dlf"), lit(0.0))
    val dlcf = coalesce(col("__dlcf"), lit(0.0))
    val topFracs = topNs.map(n =>
      n -> least(lit(1.0), coalesce(col(s"__topcov_$n"), lit(0.0)) / col("__chars")))
    val dupFracs = dupNs.map(n =>
      n -> least(lit(1.0), coalesce(col(s"__dupcov_$n"), lit(0.0)) / col("__chars")))
    val keep = (dlf <= 0.30) && (dlcf <= 0.20) &&
      (topFracs.map { case (n, c) => c <= lit(0.24 - 0.02 * n) } ++
        dupFracs.map { case (n, c) => c <= lit(0.20 - 0.01 * n) })
        .reduce(_ && _)
    out.select(
      col("__rid").as(idCol) +:
        dlf.as("dup_line_frac") +:
        dlcf.as("dup_line_char_frac") +:
        (topFracs.map { case (n, c) => c.as(s"top${n}gram_char_frac") } ++
          dupFracs.map { case (n, c) => c.as(s"dup${n}gram_char_frac") } ++
          Seq(keep.as("repetition_keep"))): _*)
  }

  /** PII patterns (Dolma/CCNet-style scrub taggers). Deliberately the
    * Java-regex ∩ RE2 common subset — no lookaround, ASCII classes only —
    * so Spark's codegen'd regexp functions and the DuckDB oracle match
    * byte-for-byte. Conservative by design: high-precision shapes (emails,
    * dotted IPv4, NANP-ish phones, SSN-format ids, absolute http(s) URLs),
    * not an NER pass — the standard cheap pre-training scrub. */
  val UrlPattern = "https?://\\S+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePattern = "(\\+?\\d{1,3}[-. ])?\\(?\\d{3}\\)?[-. ]\\d{3}[-. ]\\d{4}\\b"
  val SsnPattern = "\\b\\d{3}-\\d{2}-\\d{4}\\b"

  /** (name, pattern, replacement token) in REDACTION ORDER: URLs swallow
    * embedded emails/digits first, emails next (their local part would
    * otherwise feed the digit patterns), then the digit shapes from most
    * to least specific (SSN's fixed 3-2-4 layout before the looser phone,
    * phone before bare IPv4). Counting uses the same order-independent
    * patterns; redaction applies them sequentially. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("url", UrlPattern, "<URL>"),
    ("email", EmailPattern, "<EMAIL>"),
    ("ssn", SsnPattern, "<SSN>"),
    ("phone", PhonePattern, "<PHONE>"),
    ("ipv4", Ipv4Pattern, "<IP>")
  )

  /** Per-category PII match counts as (name → count column). Pure
    * regexp_count projections — codegen'd, no shuffle, linear scan. */
  def piiCounts(text: Column): Seq[(String, Column)] =
    PiiPatterns.map { case (name, pat, _) =>
      name -> regexp_count(text, lit(pat)).cast("long")
    }

  /** Redact all PII categories with placeholder tokens, in
    * [[PiiPatterns]] order. Chained regexp_replace — one projection. */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (acc, (_, pat, repl)) =>
      regexp_replace(acc, pat, repl)
    }

  /** Markup-stripping patterns (trafilatura/jusText-style boilerplate
    * removal, regex tier): script/style payloads and comments vanish
    * entirely (their content is never prose), every remaining tag becomes
    * a space (so `</p><p>` doesn't fuse words), then the handful of
    * ubiquitous named entities decode and whitespace collapses. Same
    * Java-regex ∩ RE2 common subset as [[PiiPatterns]] — non-greedy + the
    * `(?is)` inline flags work identically in Spark's codegen'd regexp
    * functions and the DuckDB oracle; no lookaround, no backreferences.
    * Numeric character references are NOT decoded (documented gap — they
    * need arbitrary codepoint synthesis, not a regex). */
  val ScriptBlockPattern = "(?is)<script\\b[^>]*>.*?</script>"
  val StyleBlockPattern = "(?is)<style\\b[^>]*>.*?</style>"
  val CommentPattern = "(?s)<!--.*?-->"
  val TagPattern = "<[^>]+>"

  /** Entity → text, applied AFTER tag removal ({@code &lt;} must not
    * resurrect as a strippable tag). `&amp;` decodes LAST: it's the
    * escape's escape — `&amp;lt;` means literal "&lt;", so decoding it
    * first would double-decode. */
  val EntityDecodes: Seq[(String, String)] = Seq(
    ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&"))

  /** Visible text of an HTML/XML-ish document: block payloads and tags
    * out, entities decoded, whitespace collapsed and trimmed. One chained
    * projection — codegen'd, no shuffle, linear in document length. */
  def stripMarkup(text: Column): Column = {
    val noBlocks = Seq(ScriptBlockPattern, StyleBlockPattern, CommentPattern, TagPattern)
      .foldLeft(text)((acc, pat) => regexp_replace(acc, pat, " "))
    val decoded = EntityDecodes.foldLeft(noBlocks) { case (acc, (ent, repl)) =>
      regexp_replace(acc, ent, repl)
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Fraction of the raw document that was markup: 1 − |visible|/|raw|
    * (0 for an empty doc). A boilerplate-quality signal: navigation/chrome
    * pages score near 1, prose near 0. */
  def markupRatio(text: Column): Column =
    when(length(text) === 0, 0.0)
      .otherwise(lit(1.0) - length(stripMarkup(text)).cast("double") /
        length(text).cast("double"))

  /** Registrable-host capture group for [[UrlPattern]] matches: scheme,
    * then everything up to the first `/ : ? #`. Same Java∩RE2 subset as
    * the PII patterns. */
  val UrlDomainPattern = "https?://([^/:?#\\s]+)"

  /** Extracted URLs with their host domain, one row per match:
    * (idCol, url, domain). regexp_extract_all + one explode — narrow, the
    * explode inherits the scan's partitioning. The CCNet-style shape:
    * group downstream quality signals by `domain` to score sources, not
    * just documents. */
  def extractUrls(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String
  ): org.apache.spark.sql.DataFrame =
    df.select(
        col(idCol),
        explode(regexp_extract_all(col(textCol), lit(UrlPattern), lit(0))).as("url"))
      .select(
        col(idCol),
        col("url"),
        regexp_extract(col("url"), UrlDomainPattern, 1).as("domain"))

  /** Fixed-size token chunking with overlap — the context-window
    * preparation step between cleaning and tokenization: each document
    * becomes ceil((n_tokens − overlap) / stride) chunks of up to
    * `chunkTokens` tokens, consecutive chunks sharing `overlap` tokens
    * (stride = chunkTokens − overlap). Token-less documents produce no
    * chunks; a document shorter than one chunk produces exactly one.
    *
    * Shape: tokenize once into a staged attribute (the chunk lambda
    * references the array per element — see the HOF staging note on
    * [[winnowFingerprints]]), build all chunk slices as one per-row array
    * expression, then a single posexplode. Narrow end-to-end: no shuffle,
    * no UDFs, output partitioning inherits the scan — the right shape for
    * a 100 TB corpus rewrite.
    *
    * Returns (idCol, chunk_idx, chunk_text, n_chunk_tokens). */
  def chunkDocs(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int,
      overlap: Int = 0
  ): org.apache.spark.sql.DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens), got $overlap")
    val stride = chunkTokens - overlap
    val staged = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
    val n = size(col("__toks"))
    val nChunks = when(n === 0, lit(0)).otherwise(
      greatest(ceil((n - lit(overlap)).cast("double") / stride).cast("int"), lit(1)))
    val chunks = staged.select(
      col(idCol),
      col("__toks"),
      when(nChunks === 0, array().cast("array<array<string>>")).otherwise(
        transform(sequence(lit(0), nChunks - 1),
          i => slice(col("__toks"), i * stride + 1, lit(chunkTokens)))).as("__chunks"))
    chunks
      .select(col(idCol), posexplode(col("__chunks")).as(Seq("chunk_idx", "__c")))
      .select(
        col(idCol),
        col("chunk_idx"),
        concat_ws(" ", col("__c")).as("chunk_text"),
        size(col("__c")).as("n_chunk_tokens"))
  }

  /** Synthesize `width`-token chunk "lines": the token stream cut into
    * `width`-token chunks, each space-joined, all newline-joined — the
    * single source of truth for manufacturing line structure over a
    * flat-text corpus (the line-dedup queries and profilers; the DuckDB
    * oracle's LineChunks CTE replays the identical arithmetic, including
    * the one-blank-line empty-doc case). No chunk can contain a newline,
    * so a newline split after this join round-trips exactly. */
  def tokenChunkLines(text: Column, width: Int): Column = {
    require(width >= 1, s"width must be >= 1, got $width")
    val tk = tokens(text)
    val nChunks = greatest(
      ceil(size(tk) / lit(width.toDouble)).cast("int"), lit(1))
    array_join(transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(tk, i * lit(width) + 1, lit(width)), " ")), "\n")
  }

  /** Exact content fingerprint: md5 of whitespace-normalized lowercase text.
    * (Identical expression exists in every SQL engine ⇒ oracle-friendly.) */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** First 8 md5 hex chars as a BIGINT in [0, 2^32) — the deterministic,
    * cross-engine numeric hash used by MinHash/SimHash and every
    * deterministic sampling/split filter. One codegen'd digest
    * ([[graft.functions.Hash32]] — bit-identical to the previous
    * `conv(substring(md5(s), 1, 8), 16, 10)::long` builtin chain, minus
    * the 32-char hex materialization, substring copy, and base-16
    * re-parse; r16, guide §4). */
  def hash32(s: Column): Column = graft.functions.Hash32(s)

  /** GPT-style sequence packing: lay the corpus out as one deterministic
    * token stream (docs ordered by md5-hash of the id — a stable,
    * engine-independent shuffle) and cut it at `window`-token boundaries.
    * Each doc gets the pack holding its FIRST token and its offset there;
    * docs longer than the remaining space run into the next pack (compose
    * with [[chunkDocs]] to pre-split long docs so no doc exceeds one
    * window). Returns (id, n_tokens, pack_id, offset).
    *
    * Scale shape: the global running sum is computed WITHOUT a global
    * window (a `Window.partitionBy()` would move the whole corpus to one
    * reducer — the NTILE-cliff class): the hash-uniform order is bucketed
    * into `buckets` equal-width cells, per-bucket token sums aggregate to
    * the driver (≤ `buckets` rows, exclusive prefix sums computed there —
    * exact integer arithmetic), and each bucket's rows get their
    * within-bucket cumulative sum from a window PARTITIONED BY BUCKET
    * (parallel across buckets, ≈ n/`buckets` rows each) seeded with the
    * bucket's exact global prefix. Buckets partition the u order (a
    * bucket is a monotone function of u), so the result is bit-identical
    * to the single global window — same `buckets` sizing rule as
    * `ScaleOps.sampleToTokenBudget` (sliver ≈ n/buckets on one reducer;
    * the default covers ~10¹⁰-row corpora). With `shardCol` the layout
    * becomes per-shard (pack ids count from 0 WITHIN each shard —
    * address packs as (shard, pack_id)), the same two-phase shape keyed
    * by (shard, bucket); the driver histogram is |shards|·`buckets` rows
    * (shard columns are model-sized mixture keys by contract).
    * Deterministic across engines, partitionings and reruns (same
    * guarantees as [[graft.sources.ScaleOps.hashSplit]]).
    */
  def packSequences(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      window: Int,
      salt: String = "",
      shardCol: Option[String] = None,
      buckets: Int = 1024
  ): org.apache.spark.sql.DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val u = hash32(concat(lit(salt), col(idCol).cast("string")))
    val keep = shardCol.map(col).toSeq
    // __u ∈ [0, 2^32): integer bucket arithmetic, exact and codegen'd.
    // NULL ids are dropped (the hash-sampler convention — a null id
    // hashes to a null bucket, which would corrupt the driver seed map).
    // Shards key BOTH the phase-1 group and the seed join by the SAME
    // Spark-side string expression (__shardKey), so the driver-side and
    // engine-side representations can never disagree; a NULL shard is a
    // legitimate layout group (as under a window partitionBy), carried by
    // the sentinel.
    import graft.Staging.StagedFrame
    val nullTag = "\u0000<null-shard>"
    val shardKey = shardCol.map(s =>
      coalesce(col(s).cast("string"), lit(nullTag)).as("__shardKey")).toSeq
    // n_tokens is coalesced AT THE PROJECTION so no later aggregate can
    // see a NULL: the phase-1 driver seed read (getAs[Long]) would
    // silently unbox a null bucket sum to 0 — numerically the same
    // today, but an implicit dependency on JVM unboxing the seed
    // arithmetic must never carry
    val base = df.filter(col(idCol).isNotNull)
      .select((Seq(col(idCol).as("id"),
        coalesce(tokenCount(col(textCol)).cast("long"), lit(0L))
          .as("n_tokens"),
        u.as("__u")) ++ keep ++ shardKey): _*)
      .withColumn("__bkt",
        shiftright(col("__u") * lit(buckets.toLong), 32).cast("int"))
      // STAGED and PRE-PARTITIONED on __bkt before the checkpoint (r17;
      // the CC edge-table pattern, guide §2.4) — hash(__bkt) satisfies
      // the clustered distribution of BOTH consumers (the phase-1
      // (shard?, bkt) aggregate and the phase-2 window partitioned by the
      // same keys), so the tokenize projection runs ONCE and the window
      // reads the staged partitioning exchange-free, instead of two full
      // tokenize passes plus a window exchange. (Exchange-free with AQE
      // off only: under AQE the checkpoint records UnknownPartitioning
      // and the window shuffles again — PipelineSpec pins both halves.)
      // Interleaved A/B (sf0.1:
      // min 0.90 vs 0.98 s; ×10 docs: min 2.49 vs 4.46 s, mean 4.19 vs
      // 6.64 — BENCH_NOTES "Round-17"; the r12 stage-slim null result
      // predates the repartition and the native Hash32/tokenizer).
      .repartition(col("__bkt"))
      .staged
    // phase 1: per-(shard, bucket) token sums → driver; exclusive prefix
    // per shard in bucket order = each bucket's exact global seed
    val gKeys = (if (shardKey.isEmpty) Nil else Seq("__shardKey")) :+ "__bkt"
    val hist = base.groupBy(gKeys.map(col): _*)
      .agg(sum(col("n_tokens")).as("__t"))
      .collect()
      .map { r =>
        val shard =
          if (shardKey.isEmpty) "" else r.getAs[String]("__shardKey")
        (shard, r.getAs[Int]("__bkt"), r.getAs[Long]("__t"))
      }
    val session = df.sparkSession
    import session.implicits._
    val seeds = hist.groupBy(_._1).toSeq.flatMap { case (shard, rows) =>
      var cum = 0L
      rows.sortBy(_._2).map { case (_, bkt, t) =>
        val s = cum; cum += t; (shard, bkt, s)
      }
    }
    val seedDf = seeds.toDF("__shard", "__sbkt", "__seed")
    val joinCond =
      if (shardKey.isEmpty) col("__bkt") === col("__sbkt")
      else col("__shardKey") === col("__shard") &&
        col("__bkt") === col("__sbkt")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(gKeys.map(col): _*)
      .orderBy(col("__u").asc, col("id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    base
      .join(org.apache.spark.sql.functions.broadcast(seedDf), joinCond)
      .withColumn("__cum", col("__seed") + sum(col("n_tokens")).over(w))
      .select((Seq(
        col("id"),
        col("n_tokens").cast("long").as("n_tokens"),
        ((col("__cum") - col("n_tokens")) / window).cast("long").as("pack_id"),
        ((col("__cum") - col("n_tokens")) % window).cast("long").as("offset")) ++ keep): _*)
  }

  /** Per-document token Shannon entropy (nats): H = ln n − (Σ c·ln c)/n
    * over the token multiset — the information-density quality signal (low
    * entropy = repetitive/boilerplate; complements the top-n-gram
    * repetition fraction of the Gopher rules). Two keyed aggregations:
    * explode → count per (id, token) → one agg per id; both partial+final
    * hash aggs, nothing driver-side. Zero-token docs get entropy 0.
    */
  def tokenEntropy(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String
  ): org.apache.spark.sql.DataFrame = {
    val base = df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
    val ent = base.select(col("id"), explode(col("toks")).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(
        sum(col("c")).as("n"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("s"))
      .select(col("id"), col("n").cast("long").as("n_tokens"),
        (log(col("n").cast("double")) - col("s") / col("n").cast("double"))
          .as("token_entropy"))
    base.select(col("id")).join(ent, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("token_entropy"), lit(0.0)).as("token_entropy"))
  }

  /** Winnowing document fingerprints (Schleimer et al. 2003 selection rule
    * over positional character k-gram hashes): hash every k-gram, then keep
    * the minimum hash of each sliding window of `w` consecutive k-grams.
    * The distinct kept hashes are the document's fingerprints — robust to
    * local edits, and any substring match of length ≥ w+k−1 shares at least
    * one fingerprint. Pure per-row array expressions: no explode, no
    * shuffle, embarrassingly parallel at any scale.
    *
    * Returns (idCol, fps array<bigint>). Built as STAGED projections: the
    * k-gram hash array must be a bound attribute before the window pass —
    * inlining it into the window lambda re-evaluates the whole hash array
    * per window element (O(n²) hashing; measured 185 s vs 2 s on the sf0.01
    * corpus). The multi-use references also stop CollapseProject from
    * re-inlining the stage. */
  def winnowFingerprints(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int
  ): org.apache.spark.sql.DataFrame = {
    val staged = df.select(
      col(idCol).as("id"),
      when(length(col(textCol)) < k, array().cast("array<bigint>"))
        .otherwise(
          transform(
            sequence(lit(1), length(col(textCol)) - (k - 1)),
            i => hash32(col(textCol).substr(i, lit(k))))).as("kg"))
    staged.select(
      col("id"),
      when(size(col("kg")) === 0, array().cast("array<bigint>"))
        .otherwise(
          array_distinct(
            transform(
              sequence(lit(1), greatest(size(col("kg")) - (w - 1), lit(1))),
              i => array_min(slice(col("kg"), i, lit(w)))))).as("fps"))
  }

  /** Corpus TF-IDF: per (doc, token) weight tf·ln(N/df).
    *
    * tf = term count in the doc, df = number of docs containing the token,
    * N = corpus size. Shape: one explode → per-doc term counts (map-side
    * combine) → token-keyed df counts joined back (broadcast when the
    * vocabulary is small, shuffled hash join on the token key otherwise) —
    * every stage is keyed aggregation/join, nothing collects. Returns
    * (id, token, tf, tfidf). */
  def tfidf(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String
  ): org.apache.spark.sql.DataFrame = {
    val n = df.count().toDouble // corpus size (driver scalar, one count job)
    val tf = df
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("token"))
      .groupBy("id", "token")
      .agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(dfc, "token")
      .select(
        col("id"), col("token"), col("tf"),
        (col("tf").cast("double") * log(lit(n) / col("df").cast("double"))).as("tfidf"))
  }

  /** Okapi BM25 retrieval: score every matching document against a bag of
    * query terms and return the top `k` (score desc, id asc tiebreak).
    *
    *   score(d) = Σ_{t ∈ terms}  idf(t) · tf(t,d)·(k1+1)
    *                             / (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
    *   idf(t)   = ln( (N − df(t) + 0.5) / (df(t) + 0.5) + 1 )   (Lucene form)
    *
    * Scale shape: the corpus is scanned ONCE — a single narrow projection
    * (id, doc length, query-term tokens only: the array filter runs BEFORE
    * the explode, so nothing vocabulary-sized ever leaves the scan) is
    * staged via Staging.stage (mode-gated lineage truncation, the Dedup
    * pattern — ~1% of corpus bytes) and every downstream consumer (postings
    * aggregate, df counts, corpus stats) reads the checkpoint, not the
    * text. Postings shuffle volume is O(matching docs · |terms|). Corpus
    * stats (N, avgdl) are a one-row aggregate crossJoined in (broadcast);
    * df(t) has ≤ |terms| rows — broadcast-joined. The final top-k is
    * orderBy+limit = TakeOrderedAndProject: per-partition heaps, no global
    * sort. Returns (id, bm25, n_matched).
    *
    * Reference composition target: retrieval-style corpus queries over the
    * same postings the reference's text tooling builds (R/utils.r tokenize
    * helpers); BM25 constants follow Robertson & Walker (1994). */
  def bm25TopK(
      df: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    require(k > 0, s"top-k must be positive, got $k")
    val termsArr = array(terms.map(lit(_)): _*)
    val base = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__t"))
      .select(
        col("id"),
        size(col("__t")).cast("double").as("dl"),
        filter(col("__t"), t => array_contains(termsArr, t)).as("qt"))
      .staged
    val lens = base.select(col("id"), col("dl"))
    // one-row corpus stats; crossJoin broadcasts the single row everywhere
    val stats = base.agg(
      count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
    val posts = base
      .select(col("id"), explode(col("qt")).as("token"))
      .groupBy("id", "token")
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfc = posts.groupBy("token")
      .agg(count(lit(1)).cast("double").as("df"))
    posts
      .join(broadcast(dfc), "token")
      .join(lens, "id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("contrib",
        col("idf") * col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("id")
      .agg(sum(col("contrib")).as("bm25"), count(lit(1)).as("n_matched"))
      .orderBy(col("bm25").desc, col("id").asc)
      .limit(k)
  }

  /** Byte-pair-encoding tokenizer training (Sennrich et al. 2016): learn
    * `numMerges` merge rules from the corpus — repeatedly count adjacent
    * symbol pairs (weighted by word frequency) and fuse the most frequent
    * pair (ties break to the lexicographically smaller pair, so training is
    * deterministic). Returns the merge table (rank, pair, merged, count) —
    * the artifact a BPE tokenizer ships.
    *
    * Scale shape: the corpus is read ONCE into the frequency-weighted
    * distinct-WORD table (the shape real BPE trainers operate on — pair
    * statistics are invariant to word order), staged at vocab
    * size; each merge iteration is one keyed pair-count aggregate over the
    * vocab table plus a 1-row TakeOrdered collect, and the merge itself is
    * a pure projection. Words ride as sentinel-padded symbol strings
    * (" l o w ") and a merge is `maxPasses` nested replaces of " a b " →
    * " ab " — left-to-right non-overlapping replace fuses alternate
    * occurrences per pass, so passes ≥ the longest same-pair chain give
    * exactly the greedy left-to-right BPE result with plain string ops
    * both here and in the SQL oracle (no per-row recursion).
    *
    * THE DRIVER-SEQUENTIAL CEILING AND ITS MITIGATION: greedy BPE is an
    * inherently sequential chain — merge k's pair counts depend on merge
    * k−1's fusion — so every iteration is one driver-dispatched job and
    * the training rate is a near-constant merges/second REGARDLESS of
    * corpus size (the per-iteration work is over the distinct-word vocab,
    * not the corpus). A production 32k-merge train is therefore hours of
    * serial dispatch if pointed at the full corpus for no benefit: merge
    * ranks are frequency statistics and stabilize on a sample. Pass
    * `sampleFraction < 1` to learn the table on a deterministic
    * md5-keyed document sample (same text ⇒ same side of the cut on any
    * engine/layout — the [[graft.sources.ScaleOps.hashSplit]] machinery)
    * and then SEGMENT the full corpus distributed with the learned rules
    * ([[bpeSegmentStats]]) — the standard big-corpus tokenizer recipe.
    *
    * DRIVER-LOCAL MERGE LOOP (the standard trainer shape): after the
    * sample cut, the distinct-word vocab table is bounded — when its row
    * count is ≤ `driverVocabMax` (default 1M distinct words; the
    * `compressNmax` bounded-collect precedent) the table is collected
    * ONCE and the greedy merge loop runs in driver memory with
    * incremental pair-count maintenance and a lazily-invalidated max-heap
    * — 10³–10⁴ merges/s instead of the 7–13 jobs/s the per-merge Spark
    * dispatch tops out at, so a production 32k-merge train finishes in
    * seconds, not hours. The in-memory loop replicates the distributed
    * semantics EXACTLY (same integer-in-double pair sums, same
    * (count desc, pair UTF-8-binary asc) tie rule, same `maxPasses`
    * bounded left-to-right non-overlapping " a b "→" ab " replace —
    * which on long same-symbol chains is NOT textbook single-pass greedy,
    * so the replace passes themselves are re-run verbatim), and a spec
    * pins local ≡ job-per-merge rule for rule. Vocabularies above the
    * bound fall back to the distributed job-per-merge loop unchanged;
    * `driverVocabMax = 0` forces it. Segmentation
    * ([[bpeSegmentStats]]) is distributed either way. */
  def bpeTrain(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      maxPasses: Int = 12,
      sampleFraction: Double = 1.0,
      driverVocabMax: Long = 1000000L
  ): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(maxPasses >= 1, s"maxPasses must be >= 1, got $maxPasses")
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    require(driverVocabMax >= 0L,
      s"driverVocabMax must be >= 0, got $driverVocabMax")
    val spark = df.sparkSession
    import spark.implicits._
    val basis =
      if (sampleFraction >= 1.0) df
      else graft.sources.ScaleOps.weightedSample(
        df, textCol, lit(sampleFraction), salt = "bpe")
    var vocab = basis
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).cast("double").as("f"))
      .select(
        concat(lit(" "),
          concat_ws(" ", expr("regexp_extract_all(w, '.', 0)")),
          lit(" ")).as("s"),
        col("f"))
      .staged
    if (driverVocabMax > 0L && vocab.count() <= driverVocabMax) {
      // model-sized state: ≤ driverVocabMax (word, freq) pairs
      val rows = vocab.collect()
        .map(r => (r.getString(0), r.getDouble(1)))
      return localBpeMerges(rows, numMerges, maxPasses)
        .toDF("rank", "pair", "merged", "count")
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val top = vocab
        .select(explode(wordShingles(split(trim(col("s")), " "), 2)).as("p"), col("f"))
        .groupBy("p").agg(sum(col("f")).as("c"))
        .orderBy(col("c").desc, col("p").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        val cnt = top(0).getDouble(1).toLong
        val merged = pair.replace(" ", "")
        merges += ((rank, pair, merged, cnt))
        val once = (s: Column) =>
          replace(s, lit(" " + pair + " "), lit(" " + merged + " "))
        val fused = (1 to maxPasses).foldLeft(col("s"))((c, _) => once(c))
        vocab = vocab.select(fused.as("s"), col("f")).staged
      }
      rank += 1
    }
    merges.toSeq.toDF("rank", "pair", "merged", "count")
  }

  /** Spark's string `asc` is UTF8String binary order — unsigned UTF-8
    * byte-lexicographic — which differs from Java's UTF-16 `compareTo`
    * for supplementary characters, so the driver-local tie rule compares
    * encoded bytes to stay bit-identical to the distributed
    * `orderBy(c desc, p asc)`. */
  private def utf8BinaryCompare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Driver-local greedy BPE merge loop over a collected (padded-word,
    * freq) vocab — the in-memory twin of the job-per-merge loop in
    * [[bpeTrain]], kept bit-identical by construction:
    *
    *   - pair counts are the same integer-valued-double sums (exact in
    *     IEEE double far past any real corpus), maintained INCREMENTALLY:
    *     a merge touches only the words that contain the fused pair, each
    *     re-counted before/after in O(word length);
    *   - the arg-max uses a lazily-invalidated heap ordered by
    *     (count desc, pair UTF-8-binary asc) — popped entries whose count
    *     no longer matches the live map are discarded; every count change
    *     pushes a fresh entry, so the live maximum is always reachable;
    *   - fusion re-runs the exact `maxPasses`-bounded left-to-right
    *     non-overlapping `" a b "` → `" ab "` string replaces (Java
    *     `String.replace` = the codegen'd `replace` semantics on these
    *     ASCII-space-framed strings), because on long same-symbol chains
    *     that is NOT textbook one-pass greedy and the oracle SQL mirrors
    *     the replace form. A pair a bounded pass count leaves behind
    *     stays countable and can win again at a later rank, exactly as
    *     the distributed loop would re-pick it.
    *
    * ~10³–10⁴ merges/s (measured in BENCH_NOTES) vs 7–13 jobs/s for the
    * dispatch-bound loop. */
  private[graft] def localBpeMerges(
      vocab0: Array[(String, Double)],
      numMerges: Int,
      maxPasses: Int
  ): Seq[(Int, String, String, Long)] = {
    import scala.collection.mutable
    val words = vocab0.map(_._1)
    val freqs = vocab0.map(_._2)
    def pairsOf(s: String): mutable.HashMap[String, Int] = {
      val syms = s.trim.split(" ")
      val m = mutable.HashMap.empty[String, Int]
      var i = 0
      while (i < syms.length - 1) {
        val p = syms(i) + " " + syms(i + 1)
        m.update(p, m.getOrElse(p, 0) + 1)
        i += 1
      }
      m
    }
    val counts = mutable.HashMap.empty[String, Double]
    val members = mutable.HashMap.empty[String, mutable.HashSet[Int]]
    val heap = new java.util.PriorityQueue[(Double, String)](
      math.max(16, words.length),
      new java.util.Comparator[(Double, String)] {
        def compare(a: (Double, String), b: (Double, String)): Int = {
          val c = java.lang.Double.compare(b._1, a._1)
          if (c != 0) c else utf8BinaryCompare(a._2, b._2)
        }
      })
    var i = 0
    while (i < words.length) {
      val f = freqs(i)
      pairsOf(words(i)).foreach { case (p, c) =>
        counts.update(p, counts.getOrElse(p, 0.0) + c * f)
        members.getOrElseUpdate(p, mutable.HashSet.empty[Int]).add(i)
      }
      i += 1
    }
    counts.foreach { case (p, c) => heap.add((c, p)) }
    val merges = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      // pop stale heap entries until one matches the live count map
      var top: (Double, String) = null
      while (top == null && !heap.isEmpty) {
        val cand = heap.poll()
        if (counts.get(cand._2).contains(cand._1)) top = cand
      }
      if (top == null) exhausted = true
      else {
        val pair = top._2
        val cnt = top._1
        val merged = pair.replace(" ", "")
        merges += ((rank, pair, merged, cnt.toLong))
        val target = " " + pair + " "
        val repl = " " + merged + " "
        val affected = members.getOrElse(pair, mutable.HashSet.empty[Int]).toArray
        java.util.Arrays.sort(affected)
        var k = 0
        while (k < affected.length) {
          val w = affected(k)
          val f = freqs(w)
          val before = pairsOf(words(w))
          var s = words(w)
          var pass = 0
          var changed = true
          while (pass < maxPasses && changed) {
            val t = s.replace(target, repl)
            changed = !(t eq s) && t != s
            s = t
            pass += 1
          }
          words(w) = s
          val after = pairsOf(s)
          // apply the delta (after - before) for every pair this word touches
          (before.keySet ++ after.keySet).foreach { p =>
            val d = after.getOrElse(p, 0) - before.getOrElse(p, 0)
            if (d != 0) {
              val next = counts.getOrElse(p, 0.0) + d * f
              if (next > 0.0) {
                counts.update(p, next)
                heap.add((next, p))
              } else counts.remove(p)
            }
            if (after.contains(p))
              members.getOrElseUpdate(p, mutable.HashSet.empty[Int]).add(w)
            else members.get(p).foreach { set =>
              set.remove(w)
              if (set.isEmpty) members.remove(p)
            }
          }
          k += 1
        }
      }
      rank += 1
    }
    merges.toSeq
  }

  /** Apply a learned BPE merge table ([[bpeTrain]] order matters: rules
    * fuse rank by rank) and report corpus segmentation statistics — the
    * "token counting under the real tokenizer" readout:
    * (n_words, n_syms_char, n_syms_bpe). Same one-corpus-scan word-table
    * shape as training; applying k rules is a pure projection (k·maxPasses
    * nested replaces), one aggregate ends it. */
  def bpeSegmentStats(
      df: DataFrame,
      textCol: String,
      merges: Seq[(String, String)],
      maxPasses: Int = 12
  ): DataFrame = {
    require(merges.nonEmpty, "need at least one merge rule")
    val vocab = df
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).cast("double").as("f"))
      .select(
        concat(lit(" "),
          concat_ws(" ", expr("regexp_extract_all(w, '.', 0)")),
          lit(" ")).as("s"),
        col("f"))
    val fused = merges.foldLeft(col("s")) { case (c, (pair, merged)) =>
      (1 to maxPasses).foldLeft(c)((e, _) =>
        replace(e, lit(" " + pair + " "), lit(" " + merged + " ")))
    }
    vocab
      .select(col("f"),
        size(split(trim(col("s")), " ")).cast("double").as("nc"),
        size(split(trim(fused), " ")).cast("double").as("nb"))
      .agg(
        sum(col("f")).cast("long").as("n_words"),
        sum(col("f") * col("nc")).cast("long").as("n_syms_char"),
        sum(col("f") * col("nb")).cast("long").as("n_syms_bpe"))
  }

  /** Jensen–Shannon divergence between the unigram token distributions of
    * two corpora — the standard corpus-shift/domain-distance measure
    * (bounded in [0, ln 2], symmetric, defined even on disjoint vocab):
    * JSD = ½·KL(p‖m) + ½·KL(q‖m) with m = (p+q)/2; a token absent from one
    * side contributes only through the other's KL term.
    *
    * Scale shape: one token-keyed count aggregate per corpus, a token-keyed
    * full outer join over the vocabulary union (shuffled hash join; AQE
    * broadcasts when genuinely small), broadcast one-row totals, and a
    * final 1-row sum. Each corpus streams exactly once. Returns one row
    * (jsd, vocab_ref, vocab_cur). */
  def jsDivergence(
      ref: DataFrame,
      cur: DataFrame,
      textCol: String
  ): DataFrame = {
    def counts(df: DataFrame) = df
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).cast("double").as("c"))
    val a = counts(ref)
    val b = counts(cur)
    val tot = a.agg(sum(col("c")).as("ta"), count(lit(1)).as("va"))
      .crossJoin(b.agg(sum(col("c")).as("tb"), count(lit(1)).as("vb")))
    a.withColumnRenamed("c", "ca")
      .join(b.withColumnRenamed("c", "cb"), Seq("w"), "full_outer")
      .crossJoin(broadcast(tot))
      .select(
        (coalesce(col("ca"), lit(0.0)) / col("ta")).as("p"),
        (coalesce(col("cb"), lit(0.0)) / col("tb")).as("q"),
        col("va"), col("vb"))
      .withColumn("m", (col("p") + col("q")) / 2.0)
      .select(
        (when(col("p") > 0.0, col("p") * log(col("p") / col("m"))).otherwise(0.0) * 0.5 +
          when(col("q") > 0.0, col("q") * log(col("q") / col("m"))).otherwise(0.0) * 0.5)
          .as("term"),
        col("va"), col("vb"))
      .groupBy()
      .agg(sum(col("term")).as("jsd"),
        max(col("va")).as("vocab_ref"), max(col("vb")).as("vocab_cur"))
  }

  /** PMI collocations: the corpus's top-k word bigrams by pointwise mutual
    * information, PMI(w1,w2) = ln( p(w1,w2) / (p(w1)·p(w2)) ) with
    * p(w1,w2) = c12/B over B total bigrams and p(w) = c(w)/T over T total
    * tokens — the classic collocation-extraction statistic (Church & Hanks
    * 1990). `minCount` floors the bigram count (raw PMI is dominated by
    * hapax pairs; every practical extractor floors it).
    *
    * Scale shape: unigram and bigram count tables are single token-keyed
    * aggregations; the bigram table joins its two unigram counts on the
    * token key — shuffled hash joins that AQE downgrades to broadcast when
    * the vocabulary is genuinely small (same reasoning as
    * [[bigramLmScores]]: a forced broadcast of a web-scale vocabulary OOMs).
    * Totals ride a broadcast one-row crossJoin; the top-k cut is a
    * TakeOrdered heap. Returns (w1, w2, c12, pmi).
    */
  def pmiCollocations(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minCount: Long,
      k: Int
  ): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    require(k > 0, s"top-k must be positive, got $k")
    val toksDf = df.select(tokens(col(textCol)).as("t"))
    val uni = toksDf.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).cast("double").as("c"))
    val bgAll = toksDf
      .select(explode(wordShingles(col("t"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).cast("double").as("c12"))
    // B counts ALL bigrams (the probability denominator), not the floored set
    val bg = bgAll
      .filter(col("c12") >= minCount.toDouble)
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
    val tot = uni.agg(sum(col("c")).as("t_tok"))
      .crossJoin(bgAll.agg(sum(col("c12")).as("b_bg")))
    bg
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"), "w1")
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2"), "w2")
      .crossJoin(broadcast(tot))
      .withColumn("pmi",
        log(col("c12") / col("b_bg") / (col("c1") / col("t_tok") * (col("c2") / col("t_tok")))))
      .select(col("w1"), col("w2"), col("c12").cast("long").as("c12"), col("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** Chi-squared token–label association: rank tokens by how strongly their
    * document-level presence predicts a boolean label — the feature-selection
    * step in front of a fastText/logistic quality classifier (CCNet/Gopher
    * style curation trains exactly this kind of classifier).
    *
    * Per token, the 2×2 contingency table over documents is
    *   n11 = labeled docs containing it, n10 = unlabeled docs containing it,
    *   n01/n00 the complements, and
    *   χ² = N·(n11·n00 − n10·n01)² / (df·(N−df)·pos·(N−pos)).
    *
    * Scale shape: ONE corpus scan — label and distinct-token set are a pure
    * projection, the per-token table is a single token-keyed aggregation
    * (map-side combined counts), corpus totals are a broadcast one-row
    * crossJoin, and the top-k is a TakeOrdered heap. Nothing joins on doc
    * id and nothing is corpus×corpus. Returns (token, df, chi2).
    */
  def tokenLabelAssociation(
      df: DataFrame,
      idCol: String,
      textCol: String,
      label: Column,
      k: Int
  ): DataFrame = {
    require(k > 0, s"top-k must be positive, got $k")
    val base = df.select(
      col(idCol).as("id"),
      label.cast("boolean").as("lab"),
      array_distinct(tokens(col(textCol))).as("t"))
    val tot = base.agg(
      count(lit(1)).cast("double").as("n_docs"),
      sum(col("lab").cast("double")).as("n_pos"))
    base
      .select(col("lab"), explode(col("t")).as("token"))
      .groupBy("token")
      .agg(
        count(lit(1)).cast("double").as("df"),
        sum(col("lab").cast("double")).as("df_pos"))
      .crossJoin(broadcast(tot))
      // a token present in EVERY doc has zero discriminating power and a
      // zero denominator (0/0 NaN differs across engines) — drop it; a
      // constant label likewise zeroes the denominator: caller's contract
      .filter(col("df") < col("n_docs"))
      .withColumn("chi2",
        col("n_docs") *
          (col("df_pos") * (col("n_docs") - col("n_pos") - (col("df") - col("df_pos")))
            - (col("df") - col("df_pos")) * (col("n_pos") - col("df_pos")))
          * (col("df_pos") * (col("n_docs") - col("n_pos") - (col("df") - col("df_pos")))
            - (col("df") - col("df_pos")) * (col("n_pos") - col("df_pos")))
          / (col("df") * (col("n_docs") - col("df"))
            * col("n_pos") * (col("n_docs") - col("n_pos"))))
      .select(col("token"), col("df").cast("long").as("df"), col("chi2"))
      .orderBy(col("chi2").desc, col("token").asc)
      .limit(k)
  }

  /** Corpus-trained bigram language-model score per document: the mean log
    * probability of the doc's bigrams under add-one-smoothed corpus counts —
    * the KenLM-style quality-filter signal, built entirely from DataFrame
    * aggregations (train = two groupBys over the corpus; score = one join).
    *
    * score(d) = mean over bigrams (w1,w2) of
    *   log( (count(w1,w2) + 1) / (count(w1) + V) )
    * where V = unigram vocabulary size. Lower = more surprising text.
    *
    * Scale shape: the count-table joins are token-keyed and deliberately
    * NOT broadcast-hinted — the bigram vocabulary grows roughly linearly
    * with corpus size, so at web scale a forced broadcast OOMs every
    * executor. A shuffled hash join on the token key is the right default;
    * AQE still downgrades to broadcast when the tables are genuinely small.
    * `minCount` is the KenLM-style vocabulary floor: n-grams seen fewer
    * than `minCount` times are pruned from the model (their probability
    * falls back to the add-one-smoothing floor), bounding model size
    * independently of corpus size.
    */
  def bigramLmScores(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      minCount: Long = 1L
  ): org.apache.spark.sql.DataFrame =
    bigramLmScoreWith(bigramLmTrain(df, textCol, minCount), df, idCol, textCol)

  /** A trained add-one-smoothed bigram LM: pruned (bigram, count) and
    * (unigram, count) tables plus the retained vocabulary size. Count
    * tables are staged — a trained model is re-read by every scoring
    * pass (and by every micro-batch when scoring a stream), so re-reads
    * must hit blocks, not re-run the training aggregation. Only `vocab`
    * (one scalar) lives on the driver: model size is bounded by the
    * n-gram table, never collected. */
  final case class BigramLm(
      bgCounts: org.apache.spark.sql.DataFrame,
      uniCounts: org.apache.spark.sql.DataFrame,
      vocab: Long)

  /** Train the [[BigramLm]] count tables on a REFERENCE corpus — the
    * CCNet split (Wenzek et al. 2020): the LM is fit on trusted text
    * (their Wikipedia) and scores the crawl, so "surprising under the
    * reference" = quality signal. Two token-keyed aggregations; `minCount`
    * is the KenLM-style vocabulary floor bounding model size independent
    * of corpus size (pruned n-grams fall back to the smoothing floor at
    * score time). */
  def bigramLmTrain(
      train: org.apache.spark.sql.DataFrame,
      textCol: String,
      minCount: Long = 1L
  ): BigramLm = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val toks = train.select(tokens(col(textCol)).as("t"))
    val bgCountsAll = toks
      .select(explode(wordShingles(col("t"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_bg"))
    val uniCountsAll = toks.select(explode(col("t")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c_w1"))
    val (bgCounts, uniCounts) =
      if (minCount > 1L)
        (bgCountsAll.filter(col("c_bg") >= minCount),
         uniCountsAll.filter(col("c_w1") >= minCount))
      else (bgCountsAll, uniCountsAll)
    val uniStaged = uniCounts.staged
    // V counts the retained vocabulary (one count job, driver scalar only;
    // also materializes the staged unigram table)
    val vocab = uniStaged.count()
    // with V = 0 every scored bigram would get log((0+1)/(0+0)) = +Inf —
    // the best possible score for arbitrary garbage; fail at train time
    require(vocab > 0L,
      s"bigram LM training retained an empty vocabulary " +
        s"(empty reference corpus, or minCount=$minCount prunes everything)")
    BigramLm(bgCounts.staged, uniStaged, vocab)
  }

  /** Score a corpus under a trained [[BigramLm]]: per doc, the mean log
    * probability of its bigrams, `log((c_bg + 1) / (c_w1 + V))` — lower =
    * more surprising under the reference corpus. Returns
    * (id, lm_score, n_bigrams); docs with fewer than two tokens produce
    * no row (no bigrams to average).
    *
    * Scale shape: the count-table joins are token-keyed and deliberately
    * NOT broadcast-hinted — the bigram vocabulary grows roughly linearly
    * with corpus size, so at web scale a forced broadcast OOMs every
    * executor. A shuffled hash join on the token key is the right default;
    * AQE still downgrades to broadcast when the model is genuinely small.
    * Left joins so out-of-vocabulary n-grams fall back to the add-one
    * floor instead of silently dropping from the mean. */
  def bigramLmScoreWith(
      model: BigramLm,
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String
  ): org.apache.spark.sql.DataFrame = {
    val bigrams = df
      .select(col(idCol).as("id"),
        explode(wordShingles(tokens(col(textCol)), 2)).as("bg"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
    bigrams
      .join(model.bgCounts, Seq("bg"), "left")
      .join(model.uniCounts, Seq("w1"), "left")
      .withColumn("logp",
        log((coalesce(col("c_bg"), lit(0L)) + 1.0) /
          (coalesce(col("c_w1"), lit(0L)) + lit(model.vocab.toDouble))))
      .groupBy("id")
      .agg(avg(col("logp")).as("lm_score"), count(lit(1)).as("n_bigrams"))
  }

  /** Gopher-style repetition signals per document (Rae et al. 2021, table
    * A1: repetitious text is a dominant low-quality mode): token count,
    * distinct-token ratio, and the fraction of word-bigram occurrences
    * taken by the single most frequent bigram. Entirely per-row array
    * expressions — sort the bigram array, then a run-length scan with
    * `aggregate` — so the operator is a shuffle-free narrow projection at
    * any corpus size. (The corpus-level alternative, explode + (id, bigram)
    * counts, pays a full shuffle for a per-row answer.)
    *
    * Returns (id, n_tokens, distinct_token_ratio, top_bigram_frac); the
    * ratios are null for docs with 0 tokens / < 2 tokens respectively.
    * Arrays are STAGED as bound attributes between projections — see
    * [[winnowFingerprints]] for why inlining multi-use HOF inputs is O(n²).
    *
    * This is the cheap shuffle-free SCREEN; [[repetitionSignals]] is the
    * full Gopher rule set (line-level dups, char-coverage top/dup n-grams,
    * published keep thresholds) via keyed aggregations.
    */
  def repetitionStats(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String
  ): org.apache.spark.sql.DataFrame = {
    val staged = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__t"))
      .select(col("id"), col("__t"),
        array_sort(wordShingles(col("__t"), 2)).as("__bg"))
    // longest equal run in the sorted bigram array = max multiplicity;
    // state is (prev element, current run, best run)
    val bestRun = aggregate(
      col("__bg"),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (st, x) => {
        val run = when(x === st.getField("prev"), st.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(st.getField("best"), run).as("best"))
      },
      st => st.getField("best"))
    staged.select(
      col("id"),
      size(col("__t")).cast("bigint").as("n_tokens"),
      when(size(col("__t")) === 0, lit(null).cast("double"))
        .otherwise(size(array_distinct(col("__t"))).cast("double") /
          size(col("__t")).cast("double"))
        .as("distinct_token_ratio"),
      when(size(col("__bg")) === 0, lit(null).cast("double"))
        .otherwise(bestRun.cast("double") / size(col("__bg")).cast("double"))
        .as("top_bigram_frac"))
  }

  /** Approximate top-k tokens via the mergeable Misra-Gries aggregate
    * ([[graft.functions.FreqItemsAgg]]): ONE pass, per-partition state and
    * shuffle bounded at `capacity` counters — no explode, no token-keyed
    * shuffle, no vocabulary-sized hash aggregate. Every token with
    * frequency > N/(capacity+1) is guaranteed present and
    * count ≤ true ≤ max_count; with capacity ≥ the distinct-token count
    * the result is exact (count = max_count). Returns
    * (item, count, max_count), count-descending then item-ascending,
    * top-k rows. */
  def heavyHitters(df: DataFrame, textCol: String, capacity: Int, k: Int): DataFrame = {
    require(k >= 1 && k <= capacity, s"need 1 <= k <= capacity, got k=$k")
    df.agg(graft.functions.FreqItemsAgg(tokens(col(textCol)), capacity).as("__hh"))
      .select(posexplode(col("__hh")).as(Seq("__pos", "e")))
      .filter(col("__pos") < k)
      .select(col("e.item"), col("e.count"), col("e.max_count"))
  }

  /** Per-group heavy hitters (e.g. top tokens PER LANGUAGE/domain): the
    * same bounded-state MG aggregate under grouping keys — state is
    * capacity × groups-per-task, shuffle one summary per (group,
    * partition). Returns (groupCol, item, count, max_count), top-k per
    * group in summary order. */
  def heavyHittersBy(
      df: DataFrame, groupCol: String, textCol: String, capacity: Int, k: Int
  ): DataFrame = {
    require(k >= 1 && k <= capacity, s"need 1 <= k <= capacity, got k=$k")
    df.groupBy(col(groupCol))
      .agg(graft.functions.FreqItemsAgg(tokens(col(textCol)), capacity).as("__hh"))
      .select(col(groupCol), posexplode(col("__hh")).as(Seq("__pos", "e")))
      .filter(col("__pos") < k)
      .select(col(groupCol), col("e.item"), col("e.count"), col("e.max_count"))
  }
}
