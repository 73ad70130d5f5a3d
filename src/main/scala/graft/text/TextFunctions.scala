package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis primitives for large-scale corpus processing. Token-array
 * surfaces (tokens, shingles) are `org.apache.spark.sql.functions`
 * expressions; the per-token folds (stopword hits, length sums, rolling
 * hashes) run as native codegen'd kernels (graft.functions.HashExpressions)
 * — Spark's higher-order lambdas are CodegenFallback, and a 100 TB corpus
 * scan cannot afford interpreted per-token closures.
 *
 * All hashing is integer arithmetic mod 2^31-1 on md5-derived token values,
 * chosen because the identical computation is expressible in other engines
 * (DuckDB oracle) for bit-exact cross-checking; HashExpressionsSpec pins the
 * kernels to these declarative definitions.
 */
object TextFunctions {

  /** Prime modulus keeping all products within 63 bits. A constant
    * definition: the kernels' loops compile `% P` against the literal. */
  final val P = 2147483647L // 2^31 - 1

  /** Lowercased alphanumeric tokens; empty tokens dropped. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Whitespace tokens (token counting baseline). */
  def wsTokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** Stable 31-bit hash of a string: first 8 hex chars of md5, mod P. */
  def stableHash(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long") % P

  /** Per-token 31-bit hashes. */
  def tokenHashes(text: Column): Column = transform(tokens(text), stableHash _)

  /** Distinct token-hash set (order-insensitive representation of the doc). */
  def tokenHashSet(text: Column): Column = array_distinct(tokenHashes(text))

  /**
   * Word n-gram shingles as strings ("tok1 tok2 tok3"); sequence-sensitive,
   * which is what near-dup detection needs on small-vocabulary corpora.
   */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
      .otherwise(array())
  }

  /** Distinct hashed shingle set. */
  def shingleHashSet(text: Column, n: Int): Column =
    array_distinct(transform(wordShingles(text, n), stableHash _))

  /**
   * Order-sensitive document fingerprint: polynomial rolling hash over the
   * token-hash sequence, mod P.
   */
  def fingerprint(text: Column): Column =
    graft.functions.HashExpressions.rollingHash(
      graft.functions.HashExpressions.tokenHashes(text, 31))

  /** Jaccard similarity of two pre-deduplicated arrays (single shared
    * array_intersect subtree; codegen CSE evaluates it once). Two EMPTY
    * sets score 0.0 — without the guard, two sub-shingle-size documents
    * (identical sentinel signatures → always candidates) crash the whole
    * dedup job with an ANSI divide-by-zero. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(a).cast("double") + size(b).cast("double") - inter
    when(union > 0.0, inter / union).otherwise(lit(0.0))
  }

  /** [[jaccard]] over SORTED deduplicated arrays: the count-only two-pointer
    * merge kernel replaces array_intersect's per-pair hash set + result
    * array (round 13 — the dedup verify hot path). Same empty-set guard. */
  def jaccardSorted(a: Column, b: Column): Column = {
    val inter = graft.functions.SetExpressions.intersectCountSorted(a, b).cast("double")
    val union = size(a).cast("double") + size(b).cast("double") - inter
    when(union > 0.0, inter / union).otherwise(lit(0.0))
  }

  // ----------------------------------------------------------- quality

  /** Character length, token stats, punctuation and stopword ratios. */
  def charLen(text: Column): Column = length(text)

  /** Word n-grams joined by single spaces (repetition analysis). */
  def wordNGrams(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Fraction of duplicate word n-grams: 1 - distinct/total, 0 for empty.
    * The Gopher/Dolma-style repetition quality signal — high values mark
    * boilerplate/spam documents that LLM data pipelines drop. */
  def dupNGramFrac(text: Column, n: Int): Column = {
    val grams = wordNGrams(text, n)
    when(size(grams) > 0,
      (size(grams) - size(array_distinct(grams))).cast("double") / size(grams).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Fraction of duplicate lines (newline-split, trimmed, empties kept out). */
  def dupLineFrac(text: Column): Column = {
    val lines = filter(transform(split(text, "\n"), l => trim(l)), l => l =!= "")
    when(size(lines) > 0,
      (size(lines) - size(array_distinct(lines))).cast("double") / size(lines).cast("double"))
      .otherwise(lit(0.0))
  }

  /** PII patterns, each within the Java-regex ∩ RE2 common subset so
    * oracles replay them. */
  val EmailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z][a-zA-Z]+"
  val LongDigitRunPattern = "[0-9]{7,}"

  /** Email-looking substring count (PII triage). */
  def emailCount(text: Column): Column =
    regexp_count(text, lit(EmailPattern))

  /** URL-looking substring count. */
  def urlCount(text: Column): Column =
    regexp_count(text, lit("https?://[^ \\t\\n]+"))

  /** Long digit runs (phone/account-number triage). */
  def longDigitRunCount(text: Column): Column =
    regexp_count(text, lit(LongDigitRunPattern))

  /** PII redaction (not just triage): emails then long digit runs are
    * replaced with typed placeholder tokens, in that fixed order (emails
    * contain digits, so the sequence matters and is part of the contract).
    * Patterns stay within the Java-regex ∩ RE2 common subset so the
    * redacted bytes are replayable — and auditable — in any engine.
    * Map-side only: a projection, no shuffle, whole-stage codegen. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      LongDigitRunPattern, "<ID>")

  def punctCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.,!?;:]", ""))).cast("long")

  /**
   * Deterministic text canonicalization — the dedup pre-step that folds
   * trivial variants (case, spacing, stuttered punctuation) onto one byte
   * sequence BEFORE hashing, so exact dedup catches near-identical mirrors.
   * Fixed operation order (part of the contract): lowercase → collapse
   * whitespace runs to one space → trim → squeeze runs of `.` `!` `?` `-`
   * to a single char, in that order. Every pattern sits in the Java-regex ∩
   * RE2 common subset (no backreferences — RE2 has none), so any engine
   * replays the exact bytes. Map-side projection, whole-stage codegen.
   */
  def normalize(text: Column): Column = {
    val base = trim(regexp_replace(lower(text), "\\s+", " "))
    Seq("\\.", "!", "\\?", "-").foldLeft(base) { (c, p) =>
      regexp_replace(c, s"$p{2,}", p.replace("\\", ""))
    }
  }

  val EnStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

  private def ratioFromStats(st: Column): Column = {
    val n = st.getField("ntoks")
    when(n > 0, st.getField("hits")(0).cast("double") / n.cast("double")).otherwise(lit(0.0))
  }

  private def meanLenFromStats(st: Column): Column = {
    val n = st.getField("ntoks")
    when(n > 0, st.getField("lensum").cast("double") / n.cast("double")).otherwise(lit(0.0))
  }

  /** Fraction of tokens that are (English) stopwords. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = EnStopwords): Column =
    ratioFromStats(graft.functions.HashExpressions.tokenStats(text, Seq(stopwords)))

  /** Mean token length (0 for empty docs). */
  def meanTokenLen(text: Column): Column =
    meanLenFromStats(graft.functions.HashExpressions.tokenStats(text, Seq(EnStopwords)))

  /**
   * Composite quality score in [0,1]: rewards mid-length docs, mild
   * punctuation, a natural stopword rate and word lengths. The exact formula
   * is arbitrary but FIXED — it is part of the cross-engine contract.
   * One token-stats kernel pass feeds the stopword and word-length terms.
   */
  def qualityScore(text: Column): Column = {
    val st = graft.functions.HashExpressions.tokenStats(text, Seq(EnStopwords))
    val lenScore = least(charLen(text).cast("double") / 500.0, lit(1.0))
    val punct = when(charLen(text) > 0,
      punctCount(text).cast("double") / charLen(text).cast("double")).otherwise(lit(0.0))
    val punctScore = lit(1.0) - least(punct * 10.0, lit(1.0))
    val stopScore = least(ratioFromStats(st) * 3.0, lit(1.0))
    val wlen = meanLenFromStats(st)
    val wlenScore = when(wlen >= 3.0 && wlen <= 8.0, lit(1.0)).otherwise(lit(0.5))
    (lenScore * 0.3) + (punctScore * 0.2) + (stopScore * 0.3) + (wlenScore * 0.2)
  }

  // ----------------------------------------------------------- language id

  /** (language, ascii stopword list) pairs used by the n-gram/stopword
    * language heuristic; priority order breaks ties. */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that", "for", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "en", "de", "que", "un", "una"),
    "fr" -> Seq("le", "la", "les", "et", "est", "en", "de", "que", "un", "une", "pour"),
    "zh" -> Seq.empty // non-ascii script: zero ascii stopword hits
  )

  /** Stopword-hit count for one language. */
  def langScore(text: Column, lang: String): Column = {
    val words = LangStopwords.toMap.apply(lang)
    if (words.isEmpty) lit(0L)
    else graft.functions.HashExpressions.tokenStats(text, Seq(words)).getField("hits")(0)
  }

  /**
   * Predicted language: argmax of stopword hits with fixed priority order
   * (earlier language wins ties); "und" (undetermined) when all scores are 0.
   * All languages' hit counts come from ONE token-stats kernel pass.
   */
  def langId(text: Column): Column = {
    val nonEmpty = LangStopwords.filter(_._2.nonEmpty)
    val st = graft.functions.HashExpressions.tokenStats(text, nonEmpty.map(_._2))
    val hitIdx = nonEmpty.map(_._1).zipWithIndex.toMap
    val scores = LangStopwords.map { case (l, ws) =>
      l -> (if (ws.isEmpty) lit(0L) else st.getField("hits")(hitIdx(l)))
    }
    // deterministic CASE chain: lang i wins if score_i >= score_j for all j
    val names = scores.map(_._1)
    val cols = scores.map(_._2)
    val allZero = cols.reduce(_ + _) === 0L
    val cases = names.zipWithIndex.foldRight(lit("und")) { case ((l, i), els) =>
      val isMax = cols.zipWithIndex.filter(_._2 != i).map { case (c, _) => cols(i) >= c }
        .reduce(_ && _)
      when(isMax, lit(l)).otherwise(els)
    }
    when(allZero, lit("und")).otherwise(cases)
  }
}
