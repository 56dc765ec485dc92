package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the LLM-data-pipeline surface
  * (BASELINE.json north star): tokenization, shingling, quality signals,
  * language-ID heuristics, portable content hashing. All pure SQL
  * built-ins — codegen-friendly, no UDFs, and reproducible in the DuckDB
  * oracle (identical regex classes and fold orders). */
object TextFunctions {

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword count: alpha runs, single digits, and punctuation
    * each count as one token (a regex stand-in for byte-pair tokenizers —
    * deterministic and engine-portable). */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))).cast("long")

  /** Distinct word n-gram shingles (the unit of MinHash / Jaccard dedup)
    * — fused one-pass expression (graft.plans.ShingleWindows),
    * value-identical to [[wordShinglesHof]] (parity-tested). */
  def wordShingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.ShingleWindows(
      ColumnBridge.expression(tokens(text)), n))
  }

  /** HOF reference form of [[wordShingles]] (parity-tested; mirrors the
    * shingle CTE shape shared by the dedup DuckDB oracles). */
  def wordShinglesHof(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      array_distinct(
        transform(sequence(lit(1), size(toks) - (n - 1), lit(1)),
          i => concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Adjacent token pairs WITH multiplicity (unlike the distinct
    * [[wordShingles]]) — the pair-count input of a BPE merge round:
    * tokenizer training ranks candidate merges by corpus-wide adjacent
    * pair frequency. Fused one-pass expression
    * (graft.plans.PairWindows), value-identical to [[wordBigramsHof]]
    * (parity-tested). */
  def wordBigrams(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.PairWindows(
      ColumnBridge.expression(tokens(text))))
  }

  /** HOF reference form of [[wordBigrams]] (parity-tested; mirrors the
    * list_transform(range(...)) shape of the q_bigram_stats DuckDB
    * oracle). Re-evaluates `toks` inside the lambda — O(tokens²) per
    * row; reference/oracle-mirror only, use [[wordBigrams]] in queries. */
  def wordBigramsHof(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1, lit(1)),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
  }

  /** Highest single-token occurrence count — numerator of the
    * Gopher-style "top word fraction" repetition signal. Fused one-pass
    * expression (graft.plans.TopTokenCount), value-identical to
    * [[topTokenCountHof]] (parity-tested). */
  def topTokenCount(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.TopTokenCount(
      ColumnBridge.expression(tokens(text))))
  }

  /** HOF reference form of [[topTokenCount]] (parity-tested; mirrors the
    * q_repetition DuckDB oracle). O(distinct·tokens) per row —
    * reference/oracle-mirror only, use [[topTokenCount]] in queries. */
  def topTokenCountHof(text: Column): Column = {
    val toks = tokens(text)
    coalesce(
      array_max(transform(array_distinct(toks),
        t => size(filter(toks, x => x === t)).cast("long"))),
      lit(0L))
  }

  /** Count of tokens present in `words` (with multiplicity). */
  def wordListHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words))).cast("long")

  /** Ratio of alphabetic characters (quality signal). */
  def alphaRatio(text: Column): Column =
    length(regexp_replace(text, "[^a-z]", "")).cast("double") / length(text)

  /** English stopwords (marker list for quality scoring). */
  val enStopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")

  /** Stopword ratio over whitespace tokens. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    wordListHits(toks, enStopwords).cast("double") / size(toks)
  }

  /** Language marker lists (tiny n-gram-free heuristic). Order matters:
    * ties resolve to the earlier language. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "une", "et", "est"),
    "es" -> Seq("el", "los", "una", "y", "es"))

  /** Per-language marker-hit scores, as columns named score_<lang>. */
  def langScores(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    langMarkers.map { case (lang, words) => lang -> wordListHits(toks, words) }
  }

  /** Predicted language: argmax of marker scores, ties to list order. */
  def langId(text: Column): Column = {
    val scores = langScores(text)
    // when-chain: lang i wins if its score >= every later language's score
    scores.zipWithIndex.foldRight(lit(scores.last._1)) {
      case (((lang, score), i), elseCol) =>
        val laterScores = scores.drop(i + 1).map(_._2)
        if (laterScores.isEmpty) elseCol
        else when(laterScores.map(score >= _).reduce(_ && _), lit(lang)).otherwise(elseCol)
    }
  }

  /** Composite quality score in [0,1]: length signal + alpha ratio +
    * stopword presence (clamped linear combo; deterministic). */
  def qualityScore(text: Column): Column = {
    val lenSignal = least(tokenCountWs(text).cast("double") / 100.0, lit(1.0))
    round(lenSignal * 0.4 + alphaRatio(text) * 0.3 +
      least(stopwordRatio(text) * 5.0, lit(1.0)) * 0.3, 4)
  }

  /** All counting signals of the quality family in one fused pass over
    * the raw string (graft.plans.TextStats): struct(n_tokens, n_bpe,
    * len_sum, alpha, stop_hits, char_len). Each field is value-identical
    * to the corresponding multi-pass built-in form above (parity-tested);
    * ratios/scores are derived from it with the same Column arithmetic,
    * so q_text_quality / quality filtering keep oracle-identical results
    * while scanning each document once instead of ~10 times. */
  def textStats(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.TextStats(
      ColumnBridge.expression(text), enStopwords))
  }

  /** [[qualityScore]] computed from a [[textStats]] struct — identical
    * arithmetic on identical counts, one string pass. */
  def qualityScoreFromStats(st: Column): Column = {
    val lenSignal = least(st.getField("n_tokens").cast("double") / 100.0, lit(1.0))
    val alphaR = st.getField("alpha").cast("double") / st.getField("char_len")
    val stopR = st.getField("stop_hits").cast("double") / st.getField("n_tokens")
    round(lenSignal * 0.4 + alphaR * 0.3 + least(stopR * 5.0, lit(1.0)) * 0.3, 4)
  }

  /** Text normalization for dedup robustness: lowercase, collapse
    * whitespace runs to one space, trim — the canonical form hashed by
    * near-dup pipelines (portable: lower/regexp/trim behave identically
    * in DuckDB with the 'g' flag). */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** PII redaction: emails → <EMAIL>, URLs → <URL>. Patterns restricted
    * to the Java∩RE2 common subset so the oracle reproduces them. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text,
        "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
      "https?://\\S+", "<URL>")

  /** Portable 60-bit content hash: first 15 hex chars of md5 as a long
    * (same value via DuckDB ('0x' || substr(md5(x),1,15))::BIGINT). */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Document fingerprint: min 60-bit hash over word n-gram shingles —
    * fused one-pass expression (graft.plans.MinShingleHash),
    * value-identical to [[docFingerprintHof]] (parity-tested). */
  def docFingerprint(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.MinShingleHash(
      ColumnBridge.expression(tokens(text)), n))
  }

  /** HOF reference form of [[docFingerprint]] (parity-tested; mirrors the
    * q_doc_fingerprint DuckDB oracle SQL). */
  def docFingerprintHof(text: Column, n: Int): Column =
    array_min(transform(wordShingles(text, n), md5Long(_)))
}
