package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Text analysis for training-data pipelines (north-star ops; SURVEY §2.11):
  * word/char/token counts, quality scoring, n-gram language ID — Column
  * algebra and native codegen'd expressions (no UDFs), so every operator
  * runs inside whole-stage codegen and scales linearly with one pass over
  * the text.
  */
object TextStats {

  /** Whitespace-token count as the number of `\S+` runs (Java regex
    * `\s`, `[ \t\n\x0B\f\r]`); empty/blank text counts 0 and
    * `nWords(NULL)` is 0, as before. Counting runs — not
    * `size(split(trim(x), "\\s+"))` — matters because split keeps
    * leading/trailing empty tokens when the text starts/ends with
    * non-space whitespace (Spark `trim` strips only spaces, so "a b\n"
    * would count 3). One native pass over the bytes
    * ([[graft.functions.TextQuality]]); `regexp_count` is no cheaper than
    * an array: Spark plans it as `size(regexp_extract_all(...))`. Column
    * form: `TextStatsReference.nWords` (tests). DuckDB mirror:
    * `len(regexp_extract_all(t, '\S+'))`. */
  def nWords(text: Column): Column = Bridge.column(
    graft.functions.TextQuality(Bridge.expression(text), words = true))

  /** Count of regex-token matches — a BPE-ish tokenizer proxy
    * (letter runs or single digits). */
  def tokenCount(text: Column, pattern: String = "[a-z]+|[0-9]"): Column =
    regexp_count(text, lit(pattern)).cast(LongType)

  private def digitCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[0-9]", ""))).cast(LongType)

  /** Per-document stats: chars, words, digits, non-space chars, average
    * word length. All integer counts are exact; the single division is on
    * identical integers → deterministic double. */
  def stats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol),
      length(t).cast(LongType).as("n_chars"),
      nWords(t).as("n_words"),
      digitCount(t).as("n_digits"),
      length(regexp_replace(t, "\\s", "")).cast(LongType).as("n_nonspace"))
      .withColumn("avg_word_len",
        when(col("n_words") > 0,
          col("n_nonspace").cast(DoubleType) / col("n_words").cast(DoubleType)))
  }

  /** Heuristic quality score in [0,1]: additive rubric over word count,
    * digit ratio and length (the length/punct/stopword-ratio style scoring
    * used in LLM data curation): 0.5 for 20–10000 `\S+` words, + 0.3 when
    * ASCII digits are under 30% of the characters (an empty text's ratio
    * counts as 1.0), + 0.2 for 100+ characters. Deterministic: thresholds
    * on exact integer counts. `qualityScore(NULL)` is 0.0, as before.
    * One native pass computes all three counts
    * ([[graft.functions.TextQuality]]). Column form:
    * `TextStatsReference.qualityScore` (tests). */
  def qualityScore(text: Column): Column = Bridge.column(
    graft.functions.TextQuality(Bridge.expression(text), words = false))

  /** Flesch reading-ease score: 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words) — the classic readability signal (90+ ≈
    * grade school, <30 ≈ academic), a standard curation feature next to
    * [[qualityScore]]'s rubric. Sentences count as runs of
    * terminal punctuation ([.!?]+, floored at 1); syllables as vowel
    * groups ([aeiouy]+) per lowercased token, floored at 1 per word —
    * the usual heuristic approximations, exact-integer counts so the
    * score is deterministic and cross-engine reproducible. Null/empty/
    * wordless text yields null. The per-token vowel-group regex is a
    * let-bound HOF (one interpreted lambda per TOKEN, not per char) —
    * fine for a scoring pass, keep it off the hottest path. */
  def fleschReadingEase(text: Column, roundTo: Int = 6): Column = {
    val t = coalesce(text, lit(""))
    val toks = regexp_extract_all(lower(t), lit("\\S+"), lit(0))
    element_at(transform(array(toks), tk => {
      val nW = size(tk).cast(DoubleType)
      val nS = greatest(lit(1),
        size(regexp_extract_all(t, lit("[.!?]+"), lit(0))))
        .cast(DoubleType)
      val nSyl = aggregate(tk, lit(0L), (acc, w) =>
        acc + greatest(lit(1),
          size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0)))).cast(LongType))
        .cast(DoubleType)
      round(when(size(tk) > 0,
        lit(206.835) - lit(1.015) * (nW / nS) - lit(84.6) * (nSyl / nW)),
        roundTo)
    }), 1)
  }

  /** Within-document repetition: 1 − distinct/total word n-grams (the
    * Gopher/C4-style duplicated-n-gram quality filter). Native one-pass
    * expression ([[graft.functions.GramRepetition]], r19): the HOF form
    * built every shingle STRING through interpreted per-window lambdas —
    * on the curate rule filter that dominated the whole projection.
    * Values identical to the string form absent a within-doc 64-bit gram
    * fold collision (the q62/q78 hash-equality caveat).
    * `repetitionRatio(NULL)` is NULL (the HOF form returned 0.0): a
    * missing text has no repetition to measure, so a rule filter on it
    * drops the row unless the caller coalesces. */
  def repetitionRatio(text: Column, n: Int = 3): Column = Bridge.column(
    graft.functions.GramRepetition(Bridge.expression(text), n))

  /** PII-style redaction: emails, 16-digit card-ish numbers, then
    * US-format phone numbers, replaced with typed placeholders. Regexes are
    * intentionally conservative/portable (same semantics in RE2 and Java
    * regex). */
  def redact(c: Column): Column = {
    val email = regexp_replace(c,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val card = regexp_replace(email, "\\b[0-9]{16}\\b", "<CARD>")
    regexp_replace(card, "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b", "<PHONE>")
  }

  /** Canonical text normalization for dedup/tokenization: the
    * `[a-z0-9]+` runs of `lower(text)` joined by single spaces — lowercase,
    * every other character (whitespace, punctuation, any non-ASCII code
    * point left after lowercasing) separates runs, no leading or trailing
    * space. `normalizeText(NULL)` is NULL, as before. One native pass over
    * the bytes ([[graft.functions.NormalizeText]]). Column form:
    * `TextStatsReference.normalizeText` (tests). */
  def normalizeText(c: Column): Column = Bridge.column(
    graft.functions.NormalizeText(Bridge.expression(c)))

  /** Share of whitespace tokens that are `lang` stopwords — a standard
    * quality/fluency signal. Deterministic: integer counts, one double
    * division. */
  def stopwordRatio(text: Column, lang: String = "en"): Column = {
    val tokens = regexp_extract_all(lower(text), lit("\\S+"), lit(0))
    val set = array(stopwords(lang).map(lit): _*)
    val hits = size(filter(tokens, t => array_contains(set, t)))
    when(nWords(text) > 0,
      hits.cast(DoubleType) / nWords(text).cast(DoubleType))
      .otherwise(lit(0.0))
  }

  /** Tiny per-language stopword tables for the n-gram/stopword language-ID
    * heuristic. Real pipelines plug fastText-style models behind the same
    * shape; the Spark plumbing (tokenize → per-language evidence → argmax)
    * is what matters here. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "for"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los", "un", "por"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "ein"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "est"))

  /** Predict language as argmax of stopword-hit counts over whitespace
    * tokens; ties and zero evidence fall back to "und" (undetermined).
    * Ties break by language code order (deterministic). */
  def langId(text: Column): Column = {
    val tokens = regexp_extract_all(lower(text), lit("\\S+"), lit(0))
    val scores = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val set = array(words.map(lit): _*)
      val hits = size(filter(tokens, t => array_contains(set, t)))
      (lang, hits)
    }
    // argmax via fold: keep (bestLang, bestScore); strict > keeps earlier
    // (lexicographically smaller) language on ties.
    val best = scores.foldLeft((lit("und"), lit(0))) {
      case ((bl, bs), (lang, s)) =>
        (when(s > bs, lit(lang)).otherwise(bl), when(s > bs, s).otherwise(bs))
    }
    best._1
  }

  /** Source-code detection signals — the natural-language/code routing
    * step of a pretraining mix (code goes to a code-aware tokenizer and
    * its own mixture bucket; symbol-heavy "text" is usually markup
    * noise). Three portable ratios from one projection:
    *
    *   sym_ratio    = code punctuation ({}();=<>[]) per character
    *   kw_ratio     = reserved-word hits (def/class/import/return/if/
    *                  else/for/while/function/var/const) per word
    *   indent_ratio = lines starting with 2+ spaces or a tab, per line
    *
    * and code_score = min(1, 4·sym + 2·kw + indent) — fixed weights on
    * exact integer counts, so the double result is a single expression
    * per row (deterministic, cross-engine reproducible; regexes are
    * RE2-safe). Output: (idCol, sym_ratio, kw_ratio, indent_ratio,
    * code_score, is_code at the 0.5 threshold), ratios rounded to
    * `roundTo`. Null/empty text scores 0. Narrow projection — rides the
    * scan, no shuffle. */
  def codeSignals(docs: DataFrame, idCol: String, textCol: String,
      roundTo: Int = 4): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val nChars = length(t).cast(DoubleType)
    val sym = (length(t) -
      length(regexp_replace(t, "[{}();=<>\\[\\]]", ""))).cast(DoubleType)
    val kw = size(regexp_extract_all(lower(t),
      lit("\\b(def|class|import|return|if|else|for|while|function|var|const)\\b"),
      lit(0))).cast(DoubleType)
    val words = nWords(col(textCol)).cast(DoubleType)
    // (?m): ^ matches at every line start in both Java regex and RE2
    val indented = size(regexp_extract_all(t, lit("(?m)^(?:  +|\\t)"),
      lit(0))).cast(DoubleType)
    val nLines = (size(regexp_extract_all(t, lit("\n"), lit(0))) + 1)
      .cast(DoubleType)
    val symR = when(nChars > 0, sym / nChars).otherwise(lit(0.0))
    val kwR = when(words > 0, kw / words).otherwise(lit(0.0))
    val indR = when(nChars > 0, indented / nLines).otherwise(lit(0.0))
    val score = least(lit(1.0),
      lit(4.0) * symR + lit(2.0) * kwR + indR)
    docs.select(col(idCol),
      round(symR, roundTo).as("sym_ratio"),
      round(kwR, roundTo).as("kw_ratio"),
      round(indR, roundTo).as("indent_ratio"),
      round(score, roundTo).as("code_score"),
      (score >= 0.5).as("is_code"))
  }

  /** 60-bit gram hash derived from md5 — slower than xxhash64 but exactly
    * reproducible in any engine with md5 + hex parsing (DuckDB:
    * `('0x' || substr(md5(s),1,15))::BIGINT`). Use as the `hash` for
    * [[winnowingFingerprint]] when cross-engine-checkable output matters
    * more than throughput. */
  def md5Hash64(c: Column): Column =
    conv(substring(md5(encode(c.cast("string"), "UTF-8")), 1, 15), 16, 10)
      .cast(org.apache.spark.sql.types.LongType)

  /** Winnowing document fingerprint (Schleimer et al., SIGMOD'03): k-gram
    * rolling hashes, minimum per sliding window of `w`, distinct set of
    * selected hashes per doc. Used for robust near-dup detection at scale;
    * default hash is xxhash64 over word k-grams (character k-grams work the
    * same way, swap the tokenizer); pass [[md5Hash64]] for oracle-checkable
    * fingerprints. */
  /** [[winnowingFingerprint]] through the native
    * [[graft.functions.WinnowHashes]] expression — one imperative pass
    * per row instead of an interpreted lambda per window element (the
    * HOF form measured 176 s on 500k docs; this is the production
    * path). `exact = true` hashes grams exactly like
    * [[md5Hash64]]`(concat_ws(" ", gram))` — bit-identical output to
    * the Column form, oracle-checkable; `exact = false` uses the
    * GramHashing fold (set semantics, throughput). */
  def winnowingFingerprintNative(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 3, window: Int = 4,
      exact: Boolean = true): DataFrame = {
    docs.select(col(idCol), Bridge.column(graft.functions.WinnowHashes(
      Bridge.expression(col(textCol)), k, window, exact))
      .as("fingerprint"))
  }

  def winnowingFingerprint(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, window: Int = 4,
      hash: Column => Column = xxhash64(_)): DataFrame = {
    val hashes = transform(Shingles.wordShingles(col(textCol), k),
      s => hash(s))
    // let-bind the hash array (transform-over-singleton): project collapse
    // would otherwise inline it into the sliding-window lambda and
    // re-evaluate the whole shingle pipeline once per window position
    val fp = element_at(transform(array(hashes), hs =>
      // zero grams (blank doc) → zero fingerprints: array_min over the
      // empty array is NULL and would mint a [null] fingerprint
      when(size(hs) === 0, array().cast("array<long>"))
        .when(size(hs) <= window, array_distinct(array(array_min(hs))))
        .otherwise(array_distinct(transform(
          sequence(lit(0), size(hs) - window),
          i => array_min(slice(hs, i + 1, lit(window))))))), 1)
    docs.select(col(idCol), fp.as("fingerprint"))
  }
}
