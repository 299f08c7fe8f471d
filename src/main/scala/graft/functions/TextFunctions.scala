package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: language
  * ID (n-gram/stopword heuristic), quality scoring, token counting, shingles,
  * PII redaction. All pure `org.apache.spark.sql.functions` compositions —
  * fully codegen'd, no UDFs, safe at 100 TB.
  */
object TextFunctions {

  /** Per-language stopword lists — public so driver oracles can mirror the
    * exact scoring vocabulary in SQL.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "it", "you", "that", "was", "for", "on", "are", "with", "they", "this"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ich", "nicht", "ein", "mit", "auf", "für", "sie", "den", "von", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "je", "pas", "un", "une", "avec", "pour", "que", "des", "dans", "il"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "yo", "no", "un", "una", "con", "para", "que", "de", "en"))

  /** Lowercased non-empty word tokens. Fused codegen
    * ([[graft.expr.TokensExpr]]): the `filter` HOF in the previous
    * formulation had no codegen path, which pushed EVERY downstream text
    * expression out of WholeStageCodegen; the fused form keeps the whole
    * text pipeline in one codegen stage and lets CSE share a single
    * tokenization across multiple uses per row. Bit-identical to the HOF
    * form (spec-pinned).
    */
  def tokens(text: Column): Column =
    graft.expr.CsvwFunctions.tokensArr(lower(text))

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = size(tokens(text))

  /** BPE-ish subword pattern: ≤4-letter word chunks, digit runs, and single
    * non-space punctuation — the usual ~4-chars-per-token prose heuristic.
    * Lookaround-free alternation so the count is replicable in RE2-based
    * engines (the DuckDB oracle); leftmost-first alternation semantics
    * agree between java.util.regex and RE2 here.
    */
  val BpeTokenPattern = "[A-Za-z]{1,4}|[0-9]+|[^A-Za-z0-9\\s]"

  /** BPE-ish subword count via a codegen'd regex scan. */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenPattern), lit(0)))

  /** Stopword-overlap language score per language; returns the argmax
    * language code or 'und' below `minHits` hits.
    *
    * Single-pass shape (round 9): the round-8 form referenced
    * `array_max(...)` twice (`when(best.hits >= minHits, best.lang)`), so
    * the whole 4-language intersect tree evaluated twice per reference —
    * and callers that fold the result into a CASE chain (x6) multiplied it
    * again. Instead the sub-threshold fallback is a sentinel element INSIDE
    * the one `array_max`: `(minHits-1, 1, "und")` with a priority field
    * that outranks real languages on a hits tie at the threshold boundary,
    * so any language below `minHits` loses to the sentinel and ties among
    * real languages still break by language code exactly as before.
    * Result-identical to the two-reference form for every input.
    */
  def langId(text: Column, minHits: Int = 2): Column = {
    val toks = tokens(text)
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(array_intersect(array_distinct(toks),
        array(words.map(lit): _*))).as("hits"), lit(0).as("pri"),
        lit(lang).as("lang"))
    }
    val sentinel = struct(lit(minHits - 1).as("hits"), lit(1).as("pri"),
      lit("und").as("lang"))
    array_max(array((scored :+ sentinel): _*)).getField("lang")
  }

  /** Composite quality score in [0,1]: length band, alpha ratio, stopword
    * ratio, mean word length band, repetition penalty.
    */
  def qualityScore(text: Column): Column = {
    val len = length(text).cast("double")
    val toks = tokens(text)
    val nTok = greatest(size(toks).cast("double"), lit(1.0))
    val alphaRatio = length(regexp_replace(text, "[^\\p{L}]", "")).cast("double") / greatest(len, lit(1.0))
    val allStops = array(stopwords.values.flatten.toSeq.map(lit): _*)
    val stopRatio = size(array_intersect(array_distinct(toks), allStops)).cast("double") / nTok
    val meanWordLen = len / nTok
    val lenScore = when(len.between(20, 20000), 1.0).when(len.between(5, 100000), 0.5).otherwise(0.0)
    val wordLenScore = when(meanWordLen.between(3, 12), 1.0).otherwise(0.3)
    val repPenalty = size(array_distinct(toks)).cast("double") / nTok
    round(lenScore * 0.25 + least(alphaRatio * 1.25, lit(1.0)) * 0.25 +
      least(stopRatio * 4, lit(1.0)) * 0.2 + wordLenScore * 0.15 + repPenalty * 0.15, 4)
  }

  /** Word n-gram shingles. Fused codegen ([[graft.expr.ShinglesExpr]]): the
    * HOF formulation's lambda referenced the token array from outside the
    * lambda scope, re-running the regex split once per shingle (O(tokens²)
    * per row); the fused form splits once and windows in one pass.
    * Bit-identical to the HOF form (spec-pinned in `DedupScaleSpec`).
    */
  def shingles(text: Column, n: Int): Column =
    graft.expr.CsvwFunctions.shingleArr(tokens(text), n)

  /** Eval-set decontamination: flag corpus documents that share any word
    * n-gram with an evaluation set (the standard pre-training sweep that
    * removes benchmark leakage; n = 8–13 in published pipelines).
    *
    * Returns `(doc_id, matched_shingles)` — one row per contaminated
    * document, counting its DISTINCT n-grams that appear anywhere in the
    * eval set. Built for the 100 TB shape: eval sets are benchmark-sized,
    * so their distinct shingle table broadcasts; the corpus side is a
    * codegen'd shingle expression + explode with per-row `array_distinct`
    * (no corpus-wide shingle dedup shuffle), and the only shuffle is the
    * final aggregate over MATCHED rows — proportional to the contamination
    * hit count, not the corpus.
    */
  def contamination(corpus: DataFrame, idCol: String, textCol: String,
                    evalDocs: DataFrame, evalTextCol: String,
                    n: Int = 8): DataFrame = {
    val evalSh = evalDocs
      .select(explode(array_distinct(fullShingles(col(evalTextCol), n))).as("shingle"))
      .distinct()
    corpus.select(col(idCol).as("doc_id"),
        explode(array_distinct(fullShingles(col(textCol), n))).as("shingle"))
      .join(broadcast(evalSh), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("matched_shingles"))
  }

  /** Shingles for decontamination semantics: documents with fewer than `n`
    * tokens contribute NO n-grams (empty array), matching the published
    * definition and the lead()-window oracle formulation. This differs
    * deliberately from [[shingles]] (whose sub-n whole-text shingle exists
    * so every document gets a MinHash signature in the dedup family): a
    * short eval doc must not flag itself or identical short corpus docs.
    * The `tokens` subtree is shared by Catalyst CSE, so the guard costs no
    * second tokenization.
    */
  private def fullShingles(text: Column, n: Int): Column =
    when(size(tokens(text)) >= n, shingles(text, n))
      .otherwise(array().cast("array<string>"))

  // ---- repetition signals (Gopher-style quality filtering) ----------

  /** Fraction of word n-grams that are duplicates of an earlier n-gram in
    * the same document — the standard "repetitious document" pre-training
    * filter signal (duplicate n-gram fraction, n = 1..4 in published
    * pipelines). `1 - distinct/total`, 0.0 for documents too short to form
    * an n-gram. One fused tokenize/shingle + `array_distinct` per row:
    * map-only, no shuffle, the same 100 TB scaling shape as x4/x5.
    */
  def dupNgramFraction(text: Column, n: Int): Column = {
    val grams = if (n == 1) tokens(text) else shingles(text, n)
    val total = size(grams)
    // size(NULL array) is NULL (not -1) under Spark's ANSI-era defaults, so
    // a NULL text would fall through the `when` to a NULL fraction while the
    // oracle's left-join coalesces missing docs to 0.0 — coalesce to match.
    coalesce(
      when(total <= 0, lit(0.0)).otherwise(
        round(lit(1.0) - size(array_distinct(grams)).cast("double")
          / total.cast("double"), 4)),
      lit(0.0))
  }

  // ---- URL extraction + domain blocklist ----------------------------

  /** URL pattern, RE2-compatible: scheme + non-space run. The standard
    * pretraining URL-filtering pass: extract, count, and flag documents
    * whose links hit a domain blocklist. Everything is a codegen'd regex
    * scan (RegExpExtractAll / RegExpExtract / RLike all have doGenCode) —
    * deliberately NOT the `transform`-HOF formulation, which is
    * CodegenFallback and would knock the text pipeline out of
    * whole-stage codegen. Map-only.
    */
  val UrlPattern = "https?://[^\\s]+"

  def urlCount(text: Column): Column =
    size(regexp_extract_all(text, lit(UrlPattern), lit(0)))

  /** Lowercased authority of the document's FIRST link ('' when none). */
  def firstUrlDomain(text: Column): Column =
    lower(regexp_extract(text, "https?://([^/\\s]+)", 1))

  /** True when any link's domain is in `blocked` — compiled to ONE
    * alternation regex anchored to the scheme, with a `/`, whitespace, or
    * end-of-text boundary after the domain. The boundary is `\z` (end of
    * TEXT), not `$`: java.util.regex `$` also matches before a final line
    * terminator (including U+2028/U+0085, which `\s` does NOT cover) while
    * RE2/DuckDB `$` means end of text only — `\z` has identical semantics
    * in both engines. Blocklist entries are escaped per character (every
    * regex metacharacter, not just '.'), so entries are always literal
    * domains. Case-insensitive via lowercased text match. For a blocklist
    * beyond literal inlining (millions of domains), broadcast a blocklist
    * table and semi-join exploded domains instead; this compiled form is
    * for the curated shortlists real pipelines inline per job.
    */
  def urlBlocked(text: Column, blocked: Seq[String]): Column = {
    val alt = blocked.map(d => re2Quote(d.toLowerCase)).mkString("|")
    lower(text).rlike(s"https?://(?:$alt)(?:[/\\s]|\\z)")
  }

  /** Escape every regex metacharacter with a backslash — the portable
    * subset of `Pattern.quote` (RE2 has no `\Q…\E`-free guarantee across
    * engines' quoting corners, so per-char escaping is the common ground).
    */
  def re2Quote(s: String): String =
    s.flatMap(c => if ("\\.[]{}()*+?^$|-".indexOf(c) >= 0) s"\\$c" else c.toString)

  // ---- corpus-frequency quality signal (CCNet-style LM-lite) --------

  /** Per-document mean corpus frequency of its tokens — the integer-exact
    * core of CCNet-style language-model filtering: fluent text is built
    * from common words (high mean frequency), garbage from rare ones. The
    * model is the corpus's own unigram count table; the score stays in
    * integers (`sum(count)` / `n_tokens`) until ONE final division, so it
    * replays bit-exactly in any engine — no cross-libm `log` hazard.
    *
    * Shape: one shuffle to build the vocabulary, a broadcast join to score
    * tokens, one doc-keyed aggregate (map-side partial). At 100 TB the raw
    * vocabulary outgrows a broadcast — cap the model to the top-K words by
    * frequency (unmatched tokens score the floor frequency 1, i.e.
    * maximally rare; standard CCNet practice) or switch the score join to
    * sort-merge on token; the aggregate shape is unchanged either way.
    */
  def wordRarity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cf"))
    val agg = toks.join(broadcast(vocab), "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), sum("cf").as("cfs"))
    df.select(col(idCol).as("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).cast("int").as("n_tok"),
        coalesce(col("cfs"), lit(0L)).as("cf_sum"),
        coalesce(round(col("cfs").cast("double") / col("n"), 4), lit(0.0))
          .as("mean_cf"))
  }

  // ---- PII detection + redaction ------------------------------------

  /** PII patterns, deliberately RE2-compatible (no lookaround, no
    * backreferences) so an RE2-based oracle (DuckDB) replays detection
    * counts and replacements byte-for-byte against java.util.regex.
    * Leftmost-first greedy semantics agree between the two engines for
    * these alternation-free patterns.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern  = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhonePattern = "\\+[0-9]{1,2} [0-9]{3} [0-9]{3,4}\\b"

  /** Non-overlapping match count of one PII pattern — a codegen'd regex
    * scan, zero exchanges.
    */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Sequential redaction: emails, then IPv4, then phone numbers. Order is
    * part of the contract — an IPv4-shaped email domain redacts as part of
    * the email, never as a bare IP — and the oracle applies the same order.
    * Counting happens on the ORIGINAL text (so overlapping categories each
    * count), redaction on the running result. Pure `regexp_replace` chain:
    * whole-stage codegen, embarrassingly parallel at 100 TB.
    */
  def piiRedact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      PhonePattern, "<PHONE>")
}
